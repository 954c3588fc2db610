package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.ops.DenseId

/** `DenseId.withDenseIdProbed`, the bounded-driver ranker, against the
  * range-exchange `withDenseId` it falls back to: both key shapes, forced
  * fallbacks (bound 0, NULL, out-of-width keys) and the driver-side bound
  * on the key pass. */
class DenseIdSpec extends AnyFunSuite {

  private lazy val spark =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("dense-id-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** withDenseId's lineage runs zipWithIndex over the range exchange; the
    * driver-ranked lineage has neither. */
  private def fellBack(df: DataFrame): Boolean =
    df.queryExecution.toRdd.toDebugString.contains("ZippedWithIndexRDD")

  test("withDenseIdProbed == withDenseId on sorted input") {
    import spark.implicits._
    val base = (0 until 400).map(i => (i.toLong / 7, (i % 7).toLong, s"v$i"))
      .toDF("d", "p", "v")
      .repartitionByRange(4, col("d"), col("p"))
      .sortWithinPartitions(col("d"), col("p"))
      .persist()
    base.count()
    val fast = DenseId.withDenseIdProbed(base, "id", Seq("d" -> 31, "p" -> 31))
      .collect().map(r => (r.getString(2), r.getLong(3))).sortBy(_._1).toSeq
    val classic = DenseId.withDenseId(base, "id", col("d"), col("p"))
      .collect().map(r => (r.getString(2), r.getLong(3))).sortBy(_._1).toSeq
    base.unpersist()
    assert(fast == classic)
  }

  test("withDenseIdProbed ranks exactly on unsorted hash-partitioned input") {
    import spark.implicits._
    // hash-partitioned and shuffled key order — the driver ranking must
    // still produce the exact global (d, p) rank
    val base = (0 until 400).map(i => ((i * 137 % 400).toLong, (i % 3).toLong, i))
      .toDF("d", "p", "v").repartition(4).persist()
    base.count()
    val got = DenseId.withDenseIdProbed(base, "id", Seq("d" -> 31, "p" -> 31))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    base.unpersist()
    val expected = got.sortBy(r => (r._1, r._2)).zipWithIndex.map(_._2.toLong)
    assert(got.sortBy(r => (r._1, r._2)).map(_._4).toSeq == expected.toSeq)
  }

  test("withDenseIdProbed over the driver-key bound falls back to the range exchange") {
    import spark.implicits._
    val base = (0 until 400).map(i => ((i * 211 % 400).toLong, 0L, i))
      .toDF("d", "p", "v").repartition(4).persist()
    base.count()
    val capped = graft.ops.DenseId
      .withDenseIdProbed(base, "id", Seq("d" -> 31, "p" -> 31), maxDriverKeys = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    base.unpersist()
    val expected = capped.sortBy(_._1).zipWithIndex.map(_._2.toLong)
    assert(capped.sortBy(_._1).map(_._2).toSeq == expected.toSeq)
  }

  test("withDenseIdProbed: forced range-exchange ids equal bounded-rank ids") {
    import spark.implicits._
    val rng = new java.util.Random(7)
    val rows = (0 until 500).map { i =>
      (rng.nextInt(1 << 20).toLong * 500 + i, rng.nextInt(1000), s"payload-$i")
    }
    val df = rows.toDF("d", "p", "payload")
    def run(max: Long) = DenseId.withDenseIdProbed(df, "id", Seq("d" -> 31, "p" -> 31), maxDriverKeys = max)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSeq
    assert(run(0L) == run(32000000L)) // max=0 forces withDenseId's range exchange
  }

  test("withDenseIdProbed3: forced range-exchange ids equal bounded-rank ids") {
    import spark.implicits._
    val rng = new java.util.Random(8)
    val rows = (0 until 400).map { i =>
      (rng.nextInt(1 << 20).toLong * 400 + i, rng.nextInt(1 << 14), rng.nextInt(1 << 15))
    }.distinct
    val df = rows.toDF("d", "p1", "p2")
    def run(max: Long) = DenseId.withDenseIdProbed(df, "id", Seq("d" -> 31, "p1" -> 15, "p2" -> 16),
        maxDriverKeys = max)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    assert(run(0L) == run(32000000L))
  }

  test("withDenseIdProbed: NULL keys fall back to the classic NULLS-FIRST order") {
    import spark.implicits._
    val df = Seq(
      (Some(5L), Some(1)), (None, Some(2)), (Some(1L), None), (Some(2L), Some(0)))
      .toDF("d", "p")
    val probed = DenseId.withDenseIdProbed(df, "id", Seq("d" -> 31, "p" -> 31))
      .orderBy("id").collect().map(r => (r.isNullAt(0), r.isNullAt(1), r.getLong(2))).toSeq
    val classic = DenseId.withDenseId(df, "id", col("d"), col("p"))
      .orderBy("id").collect().map(r => (r.isNullAt(0), r.isNullAt(1), r.getLong(2))).toSeq
    assert(probed == classic) // a NULL key must trigger the fallback, never rank as 0
  }

  test("withDenseIdProbed: a key at its packing width falls back and equals withDenseId") {
    import spark.implicits._
    def ids(df: DataFrame) = df.orderBy("id").collect().map(_.toSeq).toSeq
    // 31/31: d = 2^31 is one past the first key's width
    val two = Seq((1L << 31, 0L), (5L, 1L), (5L, 0L)).toDF("d", "p")
    val twoProbed = DenseId.withDenseIdProbed(two, "id", Seq("d" -> 31, "p" -> 31))
    assert(fellBack(twoProbed))
    assert(ids(twoProbed) == ids(DenseId.withDenseId(two, "id", col("d"), col("p"))))
    // 31/15/16: p1 = 2^15 would carry into d's bits, so (0, 2^15, 5)
    // would pack above (1, 0, 0) and rank after it
    val three = Seq((0L, 1 << 15, 5), (1L, 0, 0), (0L, 3, 2)).toDF("d", "p1", "p2")
    val threeProbed =
      DenseId.withDenseIdProbed(three, "id", Seq("d" -> 31, "p1" -> 15, "p2" -> 16))
    assert(fellBack(threeProbed))
    assert(ids(threeProbed) ==
      ids(DenseId.withDenseId(three, "id", col("d"), col("p1"), col("p2"))))
    // in-width keys take the driver-ranked path
    assert(!fellBack(DenseId.withDenseIdProbed(
      Seq((0L, 3, 2)).toDF("d", "p1", "p2"), "id", Seq("d" -> 31, "p1" -> 15, "p2" -> 16))))
  }

  test("withDenseIdProbed: the key pass ships at most about maxDriverKeys keys to the driver") {
    val sc = spark.sparkContext
    val group = "dense-id-key-pass"
    val stagesOf = new ConcurrentHashMap[Int, Seq[Int]]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val resultBytes = new ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          stagesOf.put(e.jobId, e.stageIds)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          resultBytes.merge(e.stageId, e.taskMetrics.resultSize, (a, b) => a + b)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val keys = spark.range(0, 200000, 1, 4).select(col("id").as("d"), (col("id") % 7).as("p"))
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "withDenseIdProbed key pass")
      val out = DenseId.withDenseIdProbed(keys, "id", Seq("d" -> 31, "p" -> 31),
        maxDriverKeys = 10L)
      sc.clearJobGroup()
      assert(fellBack(out))
      // the key pass is the first job the call runs, and the listener bus
      // delivers job starts in order
      def keyPass = stagesOf.keySet.asScala.minOption
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!keyPass.exists(ended.contains) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(keyPass.exists(ended.contains), "key-pass job end never reached the listener")
      val shipped = stagesOf.get(keyPass.get)
        .map(s => Option(resultBytes.get(s)).fold(0L)(_.longValue)).sum
      // 200k packed keys would be ~1.6 MB
      assert(shipped < 64L * 1024, s"key pass shipped $shipped result bytes")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
