package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Multiset

/** `Multiset.diffCount` against `exceptAll().count()`, the definition it
  * replaces, on rows that hold NULLs. */
class MultisetSpec extends AnyFunSuite {

  private lazy val spark =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("multiset-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  test("diffCount treats NULL keys as equal, like exceptAll") {
    import spark.implicits._
    val a = Seq[(String, Option[Int])](
      (null, Some(1)), (null, Some(1)), ("x", None), ("x", None), ("y", Some(2)))
      .toDF("k", "v")
    val b = Seq[(String, Option[Int])]((null, Some(1)), ("x", None), ("z", Some(3)))
      .toDF("k", "v")
    val aMinusB = a.exceptAll(b).count()
    val bMinusA = b.exceptAll(a).count()
    assert((aMinusB, bMinusA) == ((3L, 1L)))
    assert(Multiset.diffCount(a, b) == aMinusB)
    assert(Multiset.diffCount(b, a) == bMinusA)
    assert(Multiset.diffCount(a, b, symmetric = true) == aMinusB + bMinusA)
    assert(Multiset.diffCount(a, a, symmetric = true) == 0L)

    // the `=` join this replaces finds no partner for a NULL-holding row
    import org.apache.spark.sql.functions._
    val keys = a.columns.toSeq
    val plainJoin = a.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__ca"))
      .join(b.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cb")), keys, "left")
      .agg(sum(greatest(col("__ca") - coalesce(col("__cb"), lit(0L)), lit(0L))))
      .head().getLong(0)
    assert(plainJoin == 5L)
  }

  test("diffCount on empty inputs is 0 or the other side's size") {
    import spark.implicits._
    val a = Seq(("p", 1), ("p", 1)).toDF("k", "v")
    val empty = a.limit(0)
    assert(Multiset.diffCount(empty, a) == 0L)
    assert(Multiset.diffCount(a, empty) == 2L)
    assert(Multiset.diffCount(empty, a, symmetric = true) == 2L)
  }
}
