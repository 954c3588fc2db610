package graft.ops

import org.apache.spark.sql.Dataset

/** The engine's bounded-driver regime split: an operator whose input is
  * usually dimension-sized (entity dims, cluster graphs, keep sets) runs a
  * driver-local mirror of its distributed chain when the input fits a
  * bound, and the distributed chain otherwise. Both regimes give the same
  * output; each bound has a forced-distributed parity spec. */
object BoundedDriver {

  /** The input's rows when there are at most `max`, else None.
    *
    * The probe IS the collect: one bounded job pulls up to `max + 1` rows.
    * An overflow row proves the input is big, and the rows are discarded
    * (at most one bound's worth, paid only on the distributed path). In
    * the common small case the rows are already on the driver, so the
    * input is evaluated once, not once for a count and again for the
    * collect. */
  def collectUpTo[T](ds: Dataset[T], max: Long): Option[Array[T]] = {
    require(max >= 0, s"negative bound $max")
    val rows = ds.limit((math.min(max, Int.MaxValue - 1L) + 1).toInt).collect()
    if (rows.length <= max) Some(rows) else None
  }
}
