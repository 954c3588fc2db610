package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.BoundedDriver

/** `BoundedDriver.collectUpTo` at its boundary: the rows come back only
  * when there are at most `max` of them. */
class BoundedDriverSpec extends AnyFunSuite {

  private lazy val spark =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("bounded-driver-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private def rows(n: Long) = {
    import spark.implicits._
    spark.range(0, n, 1, 4).as[Long]
  }

  test("collectUpTo: exactly max rows come back") {
    assert(BoundedDriver.collectUpTo(rows(25), 25).map(_.sorted.toSeq) == Some(0L until 25L))
  }

  test("collectUpTo: max + 1 rows give None") {
    assert(BoundedDriver.collectUpTo(rows(26), 25).isEmpty)
  }

  test("collectUpTo: max = 0 gives None on a non-empty input, Some on an empty one") {
    assert(BoundedDriver.collectUpTo(rows(1), 0).isEmpty)
    assert(BoundedDriver.collectUpTo(rows(0), 0).map(_.toSeq) == Some(Seq.empty[Long]))
  }
}
