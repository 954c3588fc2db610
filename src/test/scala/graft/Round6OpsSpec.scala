package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.link.{ConnectedComponents, EntityLinker}
import graft.ops.{Dedup, DenseId, IvfIndex}

/** Round-6 forced-distributed-regime parity matrix (r5 VERDICT "Next
  * round" #2): every bounded local/broadcast regime in the engine has a
  * distributed fallback that IS the 100-TB code path, but fixtures never
  * cross the thresholds. Each test here sets the threshold to 0 (forcing
  * the fallback) and asserts output equality against the bounded regime on
  * the same fixture. Plus the simhash hot-bucket fixture (#4) and the
  * IvfIndex corrupt-manifest contract (#7). embeddingClusters parity lives
  * in Round4OpsSpec. */
class Round6OpsSpec extends AnyFunSuite {

  private lazy val spark =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("round6-ops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  // ---- EntityLinker: local driver mirror vs distributed LSH+CC chain ----

  test("EntityLinker.canonicalize: forced-distributed output equals local regime") {
    import spark.implicits._
    val surfaces = Seq(
      "acme corp", "acme corporation", "acme  corp", "globex", "globex inc",
      "initech", "initech llc", "umbrella", "wayne enterprises",
      "wayne enterprise", "stark industries", "stark industrie")
    val dim = surfaces.zipWithIndex.map { case (s, i) => (i.toLong + 10, s) }
      .toDF("e_id", "e_text")
    def run(thr: Int) = EntityLinker.canonicalize(spark, dim, threshold = 0.6,
        smallDimThreshold = thr)
      .orderBy("e_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(run(0) == run(100000)) // thr=0 forces the distributed chain
  }

  // ---- ConnectedComponents: driver union-find vs iterative propagation ----

  test("ConnectedComponents.run: forced-distributed labels equal local regime") {
    import spark.implicits._
    val rng = new java.util.Random(99)
    // several chains + a star + isolated pair — diameter > 1 so the
    // iterative path needs real propagation rounds
    val edges = (
      (0 until 30).map(i => (i.toLong, (i + 1).toLong)) ++       // chain
        (40 until 60).map(i => (40L, i.toLong)) ++               // star
        Seq((100L, 101L)) ++
        (0 until 25).map(_ => { val a = rng.nextInt(20); (a.toLong, (a + 70).toLong) })
    ).toDF("src", "dst")
    def run(thr: Long) = ConnectedComponents.run(spark, edges, collectThreshold = thr)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(0L) == run(5000000L))
  }

  // ---- DenseId: bounded-driver rank vs classic range exchange ----

  test("withDenseIdProbed: forced range-exchange ids equal bounded-rank ids") {
    import spark.implicits._
    val rng = new java.util.Random(7)
    val rows = (0 until 500).map { i =>
      (rng.nextInt(1 << 20).toLong * 500 + i, rng.nextInt(1000), s"payload-$i")
    }
    val df = rows.toDF("d", "p", "payload")
    def run(max: Long) = DenseId.withDenseIdProbed(df, "id", "d", "p", maxDriverKeys = max)
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
    def run(max: Long) = DenseId.withDenseIdProbed3(df, "id", "d", "p1", "p2", maxDriverKeys = max)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    assert(run(0L) == run(32000000L))
  }

  test("withDenseIdProbed: NULL keys fall back to the classic NULLS-FIRST order") {
    import spark.implicits._
    val df = Seq(
      (Some(5L), Some(1)), (None, Some(2)), (Some(1L), None), (Some(2L), Some(0)))
      .toDF("d", "p")
    val probed = DenseId.withDenseIdProbed(df, "id", "d", "p")
      .orderBy("id").collect().map(r => (r.isNullAt(0), r.isNullAt(1), r.getLong(2))).toSeq
    val classic = DenseId.withDenseId(df, "id", col("d"), col("p"))
      .orderBy("id").collect().map(r => (r.isNullAt(0), r.isNullAt(1), r.getLong(2))).toSeq
    assert(probed == classic) // a NULL key must trigger the fallback, never rank as 0
  }

  // ---- MtbDataset pair-frequency filter: broadcast vs distributed semi join ----

  test("MtbDataset.build: forced-distributed freq filter equals broadcast regime") {
    import spark.implicits._
    val sc = spark.sparkContext
    def build(bmax: Long) = graft.statements.MtbDataset.build(
      spark, graft.fixtures.Corpus.generate(spark, 96),
      sc.broadcast(new graft.annotate.Gazetteer(graft.fixtures.FixtureVocab.AllEntities)),
      sc.broadcast(graft.tokenize.Vocab.fixtureTokenizer),
      minCount = 2, minPoolSize = 2, broadcastPairsMax = bmax, needDims = false)
    def snap(r: graft.statements.MtbDataset.Result) = {
      val rel = r.tokenizedRelations
        .select(col("relation_id"), col("e1_id"), col("e2_id"),
          to_json(col("token_ids")).as("t"), to_json(col("e1_span")).as("s1"),
          to_json(col("e2_span")).as("s2"))
        .orderBy("relation_id").collect().map(_.toSeq).toSeq
      val pools = r.pools
        .select(col("e1_id"), col("e2_id"), to_json(col("relation_ids")).as("rids"), col("set"))
        .orderBy("e1_id", "e2_id").collect().map(_.toSeq).toSeq
      spark.catalog.clearCache()
      (rel, pools)
    }
    assert(snap(build(0L)) == snap(build(1000000L))) // bmax=0 forces the semi-join path
  }

  // ---- simhash hot-bucket fixture (r5 VERDICT "Next round" #4) ----

  test("simhashClusters: 1k identical docs collapse to one band-join row per band") {
    import spark.implicits._
    val docs = ((0 until 1000).map(i => (i.toLong, "the same boilerplate page text")) ++
      Seq((2000L, "a genuinely different document about spark streams")))
      .toDF("doc_id", "text")
    val out = Dedup.simhashClusters(spark, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // identical docs: one signature, min-id cluster 0 for all 1000
    assert((0 until 1000).forall(i => out(i.toLong) == 0L))
    // the band self-join input is the DISTINCT signature set — 2 sigs
    // here, not 1001 rows — so the hottest band bucket is bounded by
    // distinct-signature multiplicity, not by boilerplate copies
    val sigs = Dedup.simhashDF(spark, docs, "doc_id", "text")
    assert(sigs.select("simhash").distinct().count() <= 2)
    spark.catalog.clearCache()
  }

  // ---- IvfIndex: corrupt manifest reads None (r5 VERDICT "Next round" #7) ----

  test("IvfIndex.load: manifest naming a missing version reads as None") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_r6_ivf").toString
    try {
      val vecs = (0 until 64).map { i =>
        (i.toLong, Array.tabulate(8)(d => (i * 8 + d).toFloat / 100f))
      }.toDF("vec_id", "embedding")
      IvfIndex.build(spark, vecs, root, nLists = 4)
      assert(IvfIndex.load(spark, root).isDefined)
      // corrupt: manifest names a version whose directory does not exist
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "MANIFEST"), "v99999\n")
      assert(IvfIndex.load(spark, root).isEmpty)
      // and buildOrLoad recovers by rebuilding instead of throwing
      assert(IvfIndex.buildOrLoad(spark, vecs, root, nLists = 4).centroids.nonEmpty)
    } finally {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally st.close()
    }
  }

  // ---- entityPoolFromPools == entityPool (pair-pool-derived per-entity
  //      pools must equal the fact-table aggregation, hot keys included) ----

  test("entityPoolFromPools equals fact-table entityPool, including a hot key") {
    import spark.implicits._
    import graft.statements.Encode
    // entity 1 is hot: it pairs with every other entity; relation ids are
    // deliberately non-contiguous and interleaved across pairs so the
    // sort_array order actually matters
    val fact = (for {
      e2 <- 2L to 9L
      k <- 0 until 5
    } yield (1L, e2, e2 * 100 + k * 7)) ++ Seq((3L, 5L, 9000L), (3L, 5L, 8999L))
    val df = fact.toDF("e1_id", "e2_id", "relation_id")
    val pools = Encode.pools(df, seed = 42L)
    for (side <- Seq("e1", "e2")) {
      val fromFact = Encode.entityPool(df, side)
        .withColumn("relation_ids", to_json(col("relation_ids")))
        .orderBy(s"${side}_id").collect().toSeq
      val fromPools = Encode.entityPoolFromPools(pools, side)
        .withColumn("relation_ids", to_json(col("relation_ids")))
        .orderBy(s"${side}_id").collect().toSeq
      assert(fromPools == fromFact, s"side=$side")
    }
  }

  // ---- the q41/q53 multiset-count identity: agg-join count ==
  //      exceptAll().count() on random multisets with duplicates ----

  test("one-sided multiset difference count equals exceptAll().count()") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val a = Seq.fill(80)((rnd.nextInt(6).toString, rnd.nextInt(4))).toDF("k", "v")
      val b = Seq.fill(80)((rnd.nextInt(6).toString, rnd.nextInt(4))).toDF("k", "v")
      val expected = a.exceptAll(b).count()
      assert(graft.ops.Multiset.diffCount(a, b) == expected, s"trial=$trial")
    }
  }
}
