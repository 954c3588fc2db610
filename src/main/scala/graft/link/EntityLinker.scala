package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.BoundedDriver

/** Entity canonicalization: MinHash/LSH blocking → similarity edges →
  * connected components → canonical id/surface per cluster (north_star
  * "entity linking with MinHash/LSH candidate blocking plus
  * canonicalization via connected-components over the mention graph").
  *
  * Canonical surface = the surface of the lowest first-appearance id in the
  * cluster, so output is deterministic (never depends on partitioning). */
object EntityLinker {

  /** @param eDim entity dimension (e_id: long, e_text: string)
    * @return (e_id, e_text, canon_id, canon_text)
    *
    * Two regimes, same output: the distributed LSH+CC chain launches ~a
    * dozen jobs (signature/bucket/verify, CC probe, two link joins) whose
    * fixed overhead dwarfs the work when the entity dim is small — which
    * it usually is, since dims ≪ facts even at web scale. Below
    * `smallDimThreshold` surfaces the whole chain runs on the driver with
    * the IDENTICAL hash/band/cap/verify constants (one
    * [[BoundedDriver.collectUpTo]] job), and the result comes back as a
    * LocalRelation that downstream joins broadcast for free. Above it, the
    * distributed path runs unchanged. */
  def canonicalize(
      spark: SparkSession,
      eDimIn: DataFrame,
      threshold: Double = 0.7,
      numHashes: Int = 48,
      bands: Int = 16,
      smallDimThreshold: Int = 100000): DataFrame = {
    val dimSlim = eDimIn.select(col("e_id").cast("long"), col("e_text"))
    BoundedDriver.collectUpTo(dimSlim, smallDimThreshold) match {
      case Some(local) =>
        return localCanonicalize(
          spark, local.map(r => (r.getLong(0), r.getString(1))),
          threshold, numHashes, bands)
      case None =>
    }

    // five consumers (LSH sigs + two text joins + comp join + canon agg);
    // the dim is dimension-sized by construction, persist it
    val eDim = eDimIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = MinHashLSH
      .similarPairs(spark, eDim, "e_id", "e_text",
        numHashes = numHashes, bands = bands, threshold = threshold)
      .select(col("id_a").as("src"), col("id_b").as("dst"))

    val comps = ConnectedComponents.run(spark, edges)

    // entities untouched by any edge are their own canonical form
    val withComp = eDim
      .join(comps.withColumnRenamed("node", "e_id"), Seq("e_id"), "left")
      .withColumn("component", coalesce(col("component"), col("e_id")))

    val canonSurface = withComp
      .groupBy(col("component"))
      .agg(min(struct(col("e_id"), col("e_text"))).as("c"))
      .select(
        col("component"),
        col("c.e_id").as("canon_id"),
        col("c.e_text").as("canon_text"))

    withComp
      .join(canonSurface, Seq("component"))
      .select(col("e_id"), col("e_text"), col("canon_id"), col("canon_text"))
  }

  /** Driver-side mirror of the distributed chain for dimension-sized
    * entity tables: same shingles/signature/band hashes (MinHashLSH
    * constants), same hot-bucket cap, same estJaccard pre-filter and exact
    * shingle-Jaccard verify, same min-id components and canonical-surface
    * choice — output is identical to the distributed path by construction. */
  private def localCanonicalize(
      spark: SparkSession,
      dim: Array[(Long, String)],
      threshold: Double,
      numHashes: Int,
      bands: Int,
      shingleK: Int = 3,
      maxBucket: Int = 1000,
      estSlack: Double = 0.25): DataFrame = {
    import spark.implicits._
    val rowsPerBand = numHashes / bands
    require(rowsPerBand * bands == numHashes, "bands must divide numHashes")

    val shinglesById = new java.util.HashMap[Long, Set[Long]](dim.length * 2)
    val sigById = new java.util.HashMap[Long, Array[Long]](dim.length * 2)
    val buckets =
      new java.util.HashMap[(Int, Long), scala.collection.mutable.ArrayBuffer[Long]]()
    dim.foreach { case (id, text) =>
      val sh = MinHashLSH.shingles(text, shingleK)
      val sig = MinHashLSH.signature(sh, numHashes)
      shinglesById.put(id, sh)
      sigById.put(id, sig)
      var b = 0
      while (b < bands) {
        var h = 0x2545f4914f6cdd1dL ^ b
        var r = 0
        while (r < rowsPerBand) { h = h * 0x100000001b3L ^ sig(b * rowsPerBand + r); r += 1 }
        buckets
          .computeIfAbsent((b, h), _ => scala.collection.mutable.ArrayBuffer.empty[Long])
          .append(id)
        b += 1
      }
    }

    val cand = scala.collection.mutable.HashSet.empty[(Long, Long)]
    buckets.values.forEach { ids =>
      if (ids.length <= maxBucket) { // same hot-bucket cap as the cluster path
        var i = 0
        while (i < ids.length) {
          var j = i + 1
          while (j < ids.length) {
            val (a, b) = (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
            if (a != b) cand += ((a, b))
            j += 1
          }
          i += 1
        }
      }
    }

    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    cand.foreach { case (a, b) =>
      if (MinHashLSH.estJaccard(sigById.get(a), sigById.get(b)) >= threshold - estSlack &&
        MinHashLSH.exactJaccard(shinglesById.get(a), shinglesById.get(b)) >= threshold) {
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }

    val textById = dim.toMap
    val out = dim.toSeq.map { case (id, text) =>
      val canon = find(id) // untouched nodes are their own canonical form
      (id, text, canon, textById(canon))
    }
    if (out.isEmpty)
      spark.emptyDataset[(Long, String, Long, String)]
        .toDF("e_id", "e_text", "canon_id", "canon_text")
    else out.toDF("e_id", "e_text", "canon_id", "canon_text")
  }

  /** Rewrite triples to canonical entity surfaces. */
  def canonicalizeTriples(
      triples: DataFrame,
      linked: DataFrame): DataFrame = {
    val bySurface = linked.select(col("e_text"), col("canon_text")).distinct()
    triples
      .join(bySurface.withColumnRenamed("e_text", "subj"), Seq("subj"), "left")
      .withColumn("subj_c", coalesce(col("canon_text"), col("subj")))
      .drop("canon_text")
      .join(bySurface.withColumnRenamed("e_text", "obj"), Seq("obj"), "left")
      .withColumn("obj_c", coalesce(col("canon_text"), col("obj")))
      .select(
        col("subj_c").as("subj"),
        col("pred"),
        col("obj_c").as("obj"),
        col("url"))
  }
}
