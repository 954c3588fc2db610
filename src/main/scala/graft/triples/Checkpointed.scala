package graft.triples

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.annotate.Gazetteer
import graft.io.CheckpointManager
import graft.kernel.{Inference, ScoringKernel}
import graft.schema.{Triple, WebPage}
import graft.tokenize.BertTokenizer

/** Resumable variant of the flagship pipeline (north rule: "resumable from
  * checkpoint with per-partition lineage + metrics"): each wide/expensive
  * stage materializes through the CheckpointManager, so a killed run
  * restarts at the first incomplete stage and reproduces identical triples
  * (all stages are deterministic functions of their inputs). */
object Checkpointed {

  def run(
      spark: SparkSession,
      pages: Dataset[WebPage],
      gaz: Broadcast[Gazetteer],
      tokenizer: Broadcast[BertTokenizer],
      kernel: Broadcast[ScoringKernel],
      idx2rel: Broadcast[Map[Int, String]],
      ckptRoot: String,
      runId: String,
      cfg: TriplePipeline.Config = TriplePipeline.Config()): Dataset[Triple] = {
    import spark.implicits._
    val mgr = new CheckpointManager(spark, ckptRoot, runId)

    val statements = mgr.stage("statements") {
      TriplePipeline
        .encodedStatements(spark, pages, gaz, tokenizer, cfg)
        .withColumn("id", col("docOrd") * lit(1048576L) + col("pairOrd"))
        .toDF()
    }

    // Inference.classify's length-sorted batches, keyed by (id, url): `id`
    // alone is not unique, because two urls whose `stableDocOrd` hashes
    // collide share it
    val scored = mgr.stage("scored") {
      val padId = tokenizer.value.padId
      statements
        .select(col("id"), col("url"), col("tokenIds"), col("e1Start"), col("e2Start"))
        .as[(Long, String, Seq[Int], Int, Int)]
        .sortWithinPartitions(size(col("tokenIds")))
        .mapPartitions { rows =>
          Inference.scoreBatches(rows, kernel.value, padId, cfg.batchSize, Inference.MaxSeqLen)(r =>
            (r._3.toArray, r._4, r._5))
            .map { case (r, pred) => (r._1, r._2, pred) }
        }
        .toDF("id", "url", "pred")
    }

    val entries = idx2rel.value.toSeq.sortBy(_._1)
    val labels = array(entries.map(e => lit(e._2)): _*)
    val triples = mgr.stage("triples") {
      statements
        .select(col("id"), col("e1"), col("e2"), col("url"))
        .join(scored.withColumn("pred_label", element_at(labels, col("pred") + 1))
          .select(col("id"), col("url"), col("pred_label")), Seq("id", "url"))
        .select(
          col("e1").as("subj"),
          col("pred_label").as("pred"),
          col("e2").as("obj"),
          col("url"))
    }
    triples.as[Triple]
  }
}
