package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.annotate.Gazetteer
import graft.eval.SemEval
import graft.fixtures.{Corpus, FixtureVocab, SemEvalFixture}
import graft.kernel.ScoringKernel
import graft.tokenize.Vocab
import graft.triples.{Checkpointed, TriplePipeline}

/** North-rule resumability: kill-after-stage-k — a restarted run over the
  * same checkpoint root must reuse completed stages and produce IDENTICAL
  * triples. */
class ResumeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("resume-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("checkpointed pipeline resumes mid-pipeline with identical triples") {
    val sc = spark.sparkContext
    val (kernel, _, idx2rel) = SparkEntry.trainedKernel
    val root = Files.createTempDirectory("graft_resume").toString
    def run(runId: String) = Checkpointed.run(
      spark, Corpus.generate(spark, 48),
      sc.broadcast(new Gazetteer(FixtureVocab.AllEntities)),
      sc.broadcast(Vocab.fixtureTokenizer),
      sc.broadcast(kernel: ScoringKernel),
      sc.broadcast(idx2rel),
      root, runId)

    val first = run("run1").collect().toSet
    assert(first.nonEmpty)

    // "crash" after stage 2: drop only the final stage, keep the others
    val mgr = new graft.io.CheckpointManager(spark, root, "x")
    assert(mgr.isComplete("statements") && mgr.isComplete("scored"))
    mgr.invalidate("triples")

    val resumed = run("run2").collect().toSet
    assert(resumed == first, "resume must reproduce identical triples")

    // lineage metrics exist for every stage
    val stages = mgr.metrics.select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(stages == Set("statements", "scored", "triples"))
  }

  test("staged triples equal fused triples when two urls share a stableDocOrd") {
    import spark.implicits._
    val sc = spark.sparkContext
    val (kernel, _, idx2rel) = SparkEntry.trainedKernel
    // found by birthday search over "https://collide.test/page-$i": the
    // 31-bit url hash of the two non-numeric tails is equal
    val urls = Seq("https://collide.test/page-23508", "https://collide.test/page-84662")
    assert(urls.map(TriplePipeline.stableDocOrd).distinct.length == 1)
    val pages = spark.createDataset(urls.zip(Seq(3L, 5L)).map { case (u, id) =>
      Corpus.page(id).copy(url = u, lang = "en")
    })
    val gazB = sc.broadcast(new Gazetteer(FixtureVocab.AllEntities))
    val tokB = sc.broadcast(Vocab.fixtureTokenizer)
    val kB = sc.broadcast(kernel: ScoringKernel)
    val relB = sc.broadcast(idx2rel)
    def sorted(ds: org.apache.spark.sql.Dataset[graft.schema.Triple]) = ds.collect().map(_.toString).sorted.toSeq
    val fused = sorted(TriplePipeline.run(spark, pages, gazB, tokB, kB, relB))
    val root = Files.createTempDirectory("graft_collide").toString
    val staged = sorted(Checkpointed.run(spark, pages, gazB, tokB, kB, relB, root, "collide"))
    assert(urls.forall(u => fused.exists(_.contains(u))), "both pages must yield triples")
    assert(staged.length == fused.length, "staged and fused triple counts differ")
    assert(staged == fused)
  }

  test("SemEval file source parses distributed (wholetext)") {
    val dir = Files.createTempDirectory("graft_semeval")
    Files.write(dir.resolve("train.txt"),
      (SemEvalFixture.trainLines.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val parsed = SemEval.read(spark, dir.toString + "/train.txt").collect()
    assert(parsed.length == SemEvalFixture.trainExamples.length)
    assert(parsed.map(_.exampleId).min == 1)
  }
}
