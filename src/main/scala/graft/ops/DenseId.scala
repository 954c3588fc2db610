package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, StructType}

/** Dense contiguous ids 0..n-1 in a global sort order WITHOUT a
  * partition-less ranking window (which funnels every row through one task
  * — the classic `WindowExec: No Partition Defined` scale-killer).
  *
  * Two-phase plan: range-repartition on the order key, sort within
  * partitions, then enumerate with per-partition offsets (zipWithIndex
  * semantics: one lightweight count job whose shuffle output is reused by
  * the main job). The assigned id equals the row's rank in the global sort
  * order, so the result is deterministic regardless of the sampled range
  * boundaries — provided `orderCols` is a total order (unique keys), which
  * every call site guarantees (first-seen structs / (docOrd, pairOrd)).
  *
  * At 100 TB this is the standard dense-id idiom: the widest shuffle is a
  * range exchange of the input itself; no stage sees more than one
  * partition's rows at a time.
  */
object DenseId {

  def withDenseId(df: DataFrame, idName: String, orderCols: Column*): DataFrame = {
    val spark = df.sparkSession
    val numParts = spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(numParts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val schema = sorted.schema.add(idName, LongType, nullable = false)
    // stay on InternalRow (no external-Row decode/re-encode: the fact-table
    // call site carries token arrays, and boxing them twice per row costs
    // more than the id assignment itself). zipWithIndex's count job reuses
    // the range exchange's shuffle output.
    val rdd = sorted.queryExecution.toRdd
      .zipWithIndex()
      .mapPartitions { it =>
        val idRow = new GenericInternalRow(1)
        val joined = new JoinedRow
        it.map { case (row, i) =>
          idRow.update(0, i)
          joined(row, idRow): InternalRow
        }
      }
    GraftBridge.internalDF(spark, rdd, schema)
  }

  /** Dense ids via a BOUNDED DRIVER RANKING regime (the
    * [[BoundedDriver.collectUpTo]] idea applied to id assignment): one
    * column-pruned pass collects only the keys, packed into one long each
    * (the fat payload, e.g. token arrays, never moves), and when the key
    * count is within `maxDriverKeys` the global rank is computed on the
    * driver and shipped back as a broadcast sorted-key table each executor
    * binary-searches. That removes the range exchange, its
    * RangePartitioner sample pass, the per-partition sort AND
    * zipWithIndex's offsets job: the one slim pass is the whole id
    * assignment. The default bound (32M keys = 256 MB packed) is a
    * driver-memory/broadcast budget; above it (true web-scale fact
    * tables) it falls back to withDenseId, whose range exchange is the
    * correct distributed shape at that size. Each partition ships at most
    * its share of the bound, so the driver never receives more than about
    * `maxDriverKeys` keys; a skewed partition that passes its share just
    * falls back early.
    *
    * `keys` lists the order columns, most significant first, each with
    * its packing width in bits: a key must lie in [0, 2^width), and the
    * widths sum to at most 63, so packing is order-preserving. The call
    * sites use 31/31 (docOrd, pairOrd) and 31/15/16 (doc_id plus two
    * token positions inside one document). Packing keeps the driver side
    * primitive: sorting 2.6M boxed tuples measured ~5 s single-threaded,
    * where Arrays.parallelSort of packed longs is ~0.1 s. A NULL,
    * out-of-range or duplicate key falls back to withDenseId too: reading
    * NULL as 0 would rank a wrong-but-plausible (0, y) key instead of
    * withDenseId's NULLS-FIRST order, and duplicates would alias to one
    * rank under binary search.
    *
    * The assigned ids equal the row's rank in the global key order —
    * bit-identical to withDenseId (given unique keys, which every call
    * site guarantees). Requires a value-deterministic input lineage (ours
    * are; the fact path is persisted): the attach pass must see the keys
    * the key pass ranked. */
  def withDenseIdProbed(
      df: DataFrame,
      idName: String,
      keys: Seq[(String, Int)],
      maxDriverKeys: Long = 32000000L): DataFrame = {
    val widths = keys.map(_._2).toArray
    require(widths.forall(_ > 0) && widths.sum <= 63,
      s"key widths ${widths.mkString("/")} must be positive and sum to at most 63")
    def fallback = withDenseId(df, idName, keys.map(k => col(k._1)): _*)
    val spark = df.sparkSession

    val keyed = df.select(keys.map(k => col(k._1).cast(LongType)): _*)
    val keyIdx = widths.indices.toArray
    val keyRead = keyIdx.map(longReader(keyed.schema, _))
    val keyRdd = keyed.queryExecution.toRdd
    val parts = math.max(1, keyRdd.getNumPartitions)
    val share = (maxDriverKeys + parts - 1) / parts
    val perPart = keyRdd
      .mapPartitions { it =>
        val a = new scala.collection.mutable.ArrayBuilder.ofLong
        var ok = true
        while (ok && it.hasNext) {
          val k = packKeys(it.next(), keyIdx, keyRead, widths)
          if (k < 0 || a.length >= share) ok = false
          else a += k
        }
        Iterator.single((ok, if (ok) a.result() else Array.emptyLongArray))
      }
      .collect()
    val total = perPart.iterator.map(_._2.length.toLong).sum
    if (!perPart.forall(_._1) || total > maxDriverKeys) return fallback

    // global rank = position in the sorted packed-key array. The sorted
    // array is broadcast and each executor binary-searches its own rows'
    // ranks — no positional alignment between passes is needed
    val sortedKeys = new Array[Long](total.toInt)
    var off = 0
    perPart.foreach { case (_, a) =>
      System.arraycopy(a, 0, sortedKeys, off, a.length); off += a.length
    }
    java.util.Arrays.parallelSort(sortedKeys)
    var d = 1
    while (d < sortedKeys.length && sortedKeys(d - 1) != sortedKeys(d)) d += 1
    if (d < sortedKeys.length) return fallback

    val bc = spark.sparkContext.broadcast(sortedKeys)
    val schema = df.schema.add(idName, LongType, nullable = false)
    val idx = keys.map(k => df.schema.fieldIndex(k._1)).toArray
    val read = idx.map(longReader(df.schema, _))
    val rdd = df.queryExecution.toRdd.mapPartitions { it =>
      val table = bc.value
      val idRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      it.map { row =>
        // the key pass saw only valid keys (it would have fallen back)
        val k = packKeys(row, idx, read, widths)
        require(k >= 0,
          "NULL or out-of-range key in the attach pass after a clean key pass — non-deterministic input lineage")
        val rank = java.util.Arrays.binarySearch(table, k)
        require(rank >= 0, "key missing from the rank table — non-deterministic input lineage")
        idRow.update(0, rank.toLong)
        joined(row, idRow): InternalRow
      }
    }
    GraftBridge.internalDF(spark, rdd, schema)
  }

  /** The row's keys packed most significant first, or -1 when a key is
    * NULL or outside [0, 2^width). */
  private def packKeys(
      row: InternalRow,
      idx: Array[Int],
      read: Array[InternalRow => Long],
      widths: Array[Int]): Long = {
    var acc = 0L
    var i = 0
    while (i < idx.length) {
      if (row.isNullAt(idx(i))) return -1L
      val v = read(i)(row)
      if ((v >>> widths(i)) != 0) return -1L
      acc = (acc << widths(i)) | v
      i += 1
    }
    acc
  }

  private def longReader(schema: StructType, idx: Int): InternalRow => Long =
    schema(idx).dataType match {
      case LongType    => _.getLong(idx)
      case IntegerType => _.getInt(idx).toLong
      case ShortType   => _.getShort(idx).toLong
      case other       => throw new IllegalArgumentException(s"non-integral key column $other")
    }
}
