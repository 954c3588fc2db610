package graft.kernel

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Broadcast-model mapPartitions inference driver (SURVEY.md §2.22-2.24).
  *
  * Scale design: the model is broadcast once per executor; rows are length-
  * bucketed inside each partition (`sortWithinPartitions(size)`, the Spark
  * equivalent of the reference's batch length sort,
  * `preprocessing_funcs.py:92-98`) so padding waste stays low; batches are
  * padded to the batch max like Pad_Sequence (`:75-119`) and scored in one
  * kernel call. No collect, no driver loop — pure per-partition streaming.
  */
object Inference {

  final case class ScoreInput(id: Long, tokenIds: Seq[Int], e1Start: Int, e2Start: Int)
  final case class Scored(id: Long, pred: Int)

  /** BERT's position limit: [[classify]] cuts longer rows to it. */
  val MaxSeqLen = 512

  def classify(
      spark: SparkSession,
      in: Dataset[ScoreInput],
      kernel: Broadcast[ScoringKernel],
      padId: Int,
      batchSize: Int = 64,
      maxSeqLen: Int = MaxSeqLen): Dataset[Scored] = {
    import spark.implicits._
    in.sortWithinPartitions(size($"tokenIds"))
      .mapPartitions { rows =>
        scoreBatches(rows, kernel.value, padId, batchSize, maxSeqLen)(r =>
          (r.tokenIds.toArray, r.e1Start, r.e2Start))
          .map { case (r, pred) => Scored(r.id, pred) }
      }
  }

  /** Scores rows in consecutive batches of `batchSize`, each padded to its
    * longest row (cut at `maxSeqLen`), and pairs every row with its argmax
    * class. `input` gives a row's token ids and marker starts. */
  def scoreBatches[T](
      rows: Iterator[T],
      k: ScoringKernel,
      padId: Int,
      batchSize: Int,
      maxSeqLen: Int = Int.MaxValue)(
      input: T => (Array[Int], Int, Int)): Iterator[(T, Int)] =
    rows.grouped(batchSize).flatMap { group =>
      val inputs = group.map(input).toArray
      val maxLen = math.min(maxSeqLen, inputs.iterator.map(_._1.length).max)
      val logits = k.scoreBatch(inputs.map { case (ids, e1, e2) => (padTo(ids, maxLen, padId), e1, e2) })
      group.iterator.zip(logits.iterator).map { case (r, l) => (r, StubKernel.argmax(l)) }
    }

  /** `ids` cut or padded with `padId` to exactly `len`: one copy, none when
    * the length already matches. */
  def padTo(ids: Array[Int], len: Int, padId: Int): Array[Int] =
    if (ids.length == len) ids
    else {
      val out = java.util.Arrays.copyOf(ids, len)
      if (len > ids.length) java.util.Arrays.fill(out, ids.length, len, padId)
      out
    }
}
