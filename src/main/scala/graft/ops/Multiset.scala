package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multiset difference counts over whole rows, with exceptAll's NULL
  * semantics. */
object Multiset {

  /** `a.exceptAll(b).count()`, or with `symmetric` that plus
    * `b.exceptAll(a).count()`, matched on `a`'s column names.
    *
    * Over multisets, |a \ b| is the sum over distinct rows of
    * max(0, count_a - count_b) and |a Δ b| the sum of |count_a - count_b|:
    * one aggregation per side and one join, instead of exceptAll's union +
    * aggregate + generate replication. The join matches keys with `<=>`,
    * because exceptAll treats two NULLs as equal; an `=` join would count
    * every row holding a NULL as unmatched on both sides. */
  def diffCount(a: DataFrame, b: DataFrame, symmetric: Boolean = false): Long = {
    val keys = a.columns.toSeq
    val bKeys = keys.map("__b_" + _)
    val ca = a.groupBy(keys.map(k => col(s"`$k`")): _*).agg(count(lit(1)).as("__ca"))
    val cb = b.groupBy(keys.map(k => col(s"`$k`")): _*).agg(count(lit(1)).as("__cb"))
      .toDF(bKeys :+ "__cb": _*)
    val on = keys.zip(bKeys).map { case (k, bk) => col(s"`$k`") <=> col(s"`$bk`") }.reduce(_ && _)
    val na = coalesce(col("__ca"), lit(0L))
    val nb = coalesce(col("__cb"), lit(0L))
    val perRow =
      if (symmetric) abs(na - nb)
      else greatest(na - nb, lit(0L))
    ca.join(cb, on, if (symmetric) "full_outer" else "left")
      .agg(coalesce(sum(perRow), lit(0L)))
      .head().getLong(0)
  }
}
