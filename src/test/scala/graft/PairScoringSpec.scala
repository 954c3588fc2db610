package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.PairScoring

/** `PairScoring.poolId`: the e1_id * 1e6 + e2_id pool key, checked so it
  * cannot silently alias two entity pairs. */
class PairScoringSpec extends AnyFunSuite {

  private lazy val spark =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("pair-scoring-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  test("poolId equals e1_id * 1000000 + e2_id for e2_id in [0, 1e6)") {
    import spark.implicits._
    val pairs = Seq((0L, 0L), (3L, 999999L), (1234L, 17L))
    val got = pairs.toDF("e1_id", "e2_id")
      .select(PairScoring.poolId(col("e1_id"), col("e2_id")))
      .as[Long].collect().toSeq
    assert(got == pairs.map { case (a, b) => a * 1000000L + b })
  }

  test("poolId fails loudly once e2_id reaches 1e6") {
    import spark.implicits._
    // (1, 1000000) would alias (2, 0)
    val df = Seq((2L, 0L), (1L, 1000000L)).toDF("e1_id", "e2_id")
    val e = intercept[Exception] {
      df.select(PairScoring.poolId(col("e1_id"), col("e2_id"))).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("e2_id 1000000 outside [0, 1000000)")))
  }
}
