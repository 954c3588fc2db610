package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

import graft.annotate.{Annotator, Gazetteer}
import graft.fewrel.FewRel
import graft.fixtures.FewRelFixture
import graft.kernel.{ScoringKernel, StubKernel}
import graft.link.EntityLinker
import graft.schema.{Span, Triple, WebPage}
import graft.statements.{Markers, MtbDataset, Windowing}
import graft.streaming.TripleStream
import graft.textnorm.ExprFns
import graft.tokenize.BertTokenizer
import graft.triples.{Checkpointed, KgGraph, TriplePipeline, TripleSink}

/** Row count and order-independent content digest of a result. */
final case class Outcome(rows: Long, digest: Long)

/** What every workload shares: the session, the phase listener, the
  * broadcast model inputs and the seeded input paths. */
final class Ctx(
    val spark: SparkSession,
    val listener: PhaseListener,
    val seed: Long,
    val work: Path,
    val gaz: Broadcast[Gazetteer],
    val tok: Broadcast[BertTokenizer],
    val kernel: Broadcast[ScoringKernel],
    val idx2rel: Broadcast[Map[Int, String]]) {

  def path(parts: String*): String = parts.foldLeft(work)(_ resolve _).toString

  def pages(name: String): Dataset[WebPage] = {
    import spark.implicits._
    spark.read.parquet(path("inputs", s"$name.parquet")).as[WebPage]
  }

  /** Writes `n` seeded pages: page ids `pageOffset(seed) + [0, n)`. */
  def writePages(name: String, n: Long): Unit = {
    import spark.implicits._
    val lo = Ctx.pageOffset(seed)
    require(lo + n <= Ctx.MaxPageId, s"page ids [$lo, ${lo + n}) reach past ${Ctx.MaxPageId}")
    spark.range(lo, lo + n, 1, spark.sparkContext.defaultParallelism * 2)
      .map(id => graft.fixtures.Corpus.page(id))
      .write.mode("overwrite").parquet(path("inputs", s"$name.parquet"))
  }
}

object Ctx {
  /** Page ids stay below 2^31: `DenseId.withDenseIdProbed`, keyed on the
    * page id in the MTB dictionaries and relation ids, ranks on the driver
    * only when every key is below 2^31, as the engine's own inputs (line
    * ordinals, or `stableDocOrd`'s 31-bit hash) always are. That is also
    * far below the 2^43 that keeps `Checkpointed`'s statement id
    * `docOrd * 2^20 + pairOrd` within a Long (see NOTES.md). */
  val MaxPageId: Long = 1L << 31

  /** First page id of a seed's corpus, below 2^29; every url tail is numeric. */
  def pageOffset(seed: Long): Long = mix(seed) >>> 35

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Same formula as the engine's pinned-oracle digest: the sum over rows of
    * xxhash64 of the '|'-joined fields (NULL as \u0007) mod 1e9+7. */
  def digest(df: DataFrame, cols: String*): Outcome = {
    val h = pmod(xxhash64(concat_ws("|", cols.map(c => coalesce(col(c).cast("string"), lit("\u0007"))): _*)),
      lit(1000000007L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L)).cast("long")).head()
    Outcome(r.getLong(0), r.getLong(1))
  }

  def tripleDigest(df: DataFrame): Outcome = digest(df, "subj", "pred", "obj", "url")

  def dirStats(dir: String): (Long, Long) = {
    val files = Files.walk(Paths.get(dir)).filter(p => p.toString.endsWith(".parquet"))
    try files.toArray.map(p => Files.size(p.asInstanceOf[Path])).foldLeft((0L, 0L)) {
      case ((n, b), s) => (n + 1, b + s)
    } finally files.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}

/** One benchmark workload. `run` is the untraced path whose wall time is
  * the end-to-end measurement; `traced` replays it with spans and counters
  * around each layer call and returns the per-layer metrics; both return
  * the result's outcome so the two can be checked against each other. */
trait Workload {
  def name: String
  /** Writes this seed's inputs (overwriting). Timed as set-up. */
  def writeInputs(): Unit
  /** Once-per-invocation checks beyond the shared ones; None when they hold. */
  def checkOnce(): Option[String] = None
  def run(i: Int): Outcome
  /** Untimed follow-up of `run` or `traced`: its checks and cleanup. */
  def after(): Unit = ()
  def traced(i: Int): (Outcome, Map[String, Double])
}

/** The fused narrow path: `TriplePipeline.run` over a stored corpus. It is
  * map-only, so normalizer, encoder and kernel changes show here while
  * shuffle, linking and write paths are bypassed. */
final class Extract(c: Ctx, pages: Long) extends Workload {
  import c.spark.implicits._
  val name = "extract"

  def writeInputs(): Unit = c.writePages(name, pages)

  def run(i: Int): Outcome =
    Ctx.tripleDigest(TriplePipeline.run(c.spark, c.pages(name), c.gaz, c.tok, c.kernel, c.idx2rel).toDF())

  /** The fused path on one task: the single-core baseline. */
  def runOneCore(): Outcome =
    Ctx.tripleDigest(
      TriplePipeline.run(c.spark, c.pages(name).coalesce(1), c.gaz, c.tok, c.kernel, c.idx2rel).toDF())

  /** A replica of the fused stage built from the same public layer calls,
    * processing each partition in batches of 64 pages so that every layer
    * is timed per batch, not per row. Statements reach the kernel in the
    * same order and batches as in `TriplePipeline.run`, so the triples
    * (and the padding) are identical. */
  def traced(i: Int): (Outcome, Map[String, Double]) = {
    val runId = s"extract-$i"
    val sc = c.spark.sparkContext
    val n = new Extract.Counters(sc)
    val cfg = TriplePipeline.Config()
    val (gazB, tokB, kB, relB) = (c.gaz, c.tok, c.kernel, c.idx2rel)
    val out = Trace.span("extract.run", runId) {
      val parent = Trace.current
      val triples = c.pages(name).select("url", "text", "lang").as[(String, String, String)].mapPartitions { rows =>
        val gz = gazB.value; val tk = tokB.value; val k = kB.value; val labels = relB.value
        val part = Trace.newId()
        val t0 = System.nanoTime()
        val cache = new Extract.CountingCache
        val pending = ArrayBuffer.empty[(String, String, String, Array[Int], Int, Int)]
        def score(m: Int): Iterator[Triple] = Trace.span("kernel.score", runId, part) {
          val batch = pending.take(m).toArray
          pending.remove(0, m)
          val maxLen = batch.map(_._4.length).max
          var pad = 0L
          var real = 0L
          val padded = batch.map { r =>
            real += r._4.length
            pad += maxLen - r._4.length
            (if (r._4.length == maxLen) r._4 else r._4 ++ Array.fill(maxLen - r._4.length)(tk.padId), r._5, r._6)
          }
          val logits = k.scoreBatch(padded)
          n.batches.add(1); n.padded.add(pad); n.realTokens.add(real); n.rows.add(batch.length.toLong)
          batch.indices.iterator.map { j =>
            val r = batch(j)
            Triple(r._1, labels(StubKernel.argmax(logits(j))), r._2, r._3)
          }.toVector.iterator
        }
        val body = rows.grouped(64).flatMap { group =>
          val norm = Trace.span("textnorm.normalize", runId, part) {
            group.filter(r => cfg.langs(r._3)).map { case (url, text, _) =>
              (url, ExprFns.textNorm(ExprFns.assembleArticle(UTF8String.fromString(text))).toString)
            }
          }
          val docs = Trace.span("annotate.annotate", runId, part) {
            norm.map { case (url, t) => TriplePipeline.filterMentions(Annotator.annotate(url, t, gz), cfg) }
          }
          n.mentions.add(docs.map(_.mentions.length.toLong).sum)
          val windows = Trace.span("statements.window", runId, part) {
            docs.flatMap(d => Windowing.statements(d, TriplePipeline.stableDocOrd(d.url), cfg.windowSize))
          }
          n.windows.add(windows.length.toLong)
          val enc = Trace.span("tokenize.encode", runId, part) {
            windows.flatMap { st =>
              Markers.encodeCached(tk, cache)(st.tokens, Span(st.e1s, st.e1e), Span(st.e2s, st.e2e))
                .map(e => (st.e1, st.e2, st.url, e.tokenIds, e.e1Span.start, e.e2Span.start))
            }
          }
          n.dropped.add((windows.length - enc.length).toLong)
          pending ++= enc
          val full = ArrayBuffer.empty[Triple]
          while (pending.length >= cfg.batchSize) full ++= score(cfg.batchSize)
          full.iterator
        }
        body ++ Iterator.single(()).flatMap { _ =>
          val rest = if (pending.nonEmpty) score(pending.length) else Iterator.empty
          n.lookups.add(cache.lookups); n.hits.add(cache.hits)
          Trace.record(part, "extract.partition", t0, System.nanoTime(), parent, runId)
          rest
        }
      }
      Ctx.tripleDigest(triples.toDF())
    }
    val m = Map(
      "annotate.mentions" -> n.mentions.sum.toDouble,
      "statements.windows" -> n.windows.sum.toDouble,
      "kernel.batches" -> n.batches.sum.toDouble,
      "triples.rows" -> n.rows.sum.toDouble,
      "tokenize.wp_cache_hit_ratio" -> n.hits.sum.toDouble / math.max(1L, n.lookups.sum),
      "statements.marker_drop_ratio" -> n.dropped.sum.toDouble / math.max(1L, n.windows.sum),
      "kernel.pad_ratio" -> n.padded.sum.toDouble / math.max(1L, n.realTokens.sum))
    (out, m)
  }
}

object Extract {
  final class Counters(sc: org.apache.spark.SparkContext) extends Serializable {
    val mentions, windows, dropped, batches, padded, realTokens, lookups, hits, rows: LongAccumulator =
      sc.longAccumulator("perfbench")
  }

  /** A counting wordpiece memo: `Markers.encodeCached` consults it with
    * `get` once per marker-bearing token. */
  final class CountingCache extends java.util.HashMap[String, Markers.TokPieces](4096) {
    var lookups = 0L
    var hits = 0L
    override def get(k: Object): Markers.TokPieces = {
      lookups += 1
      val v = super.get(k)
      if (v != null) hits += 1
      v
    }
  }
}

/** The MTB training-data chain, `MtbDataset.build` through to pools. It
  * shares normalize, annotate, window and encode with `extract` but spends
  * most of its time in the dictionaries, dense ids and salted pools, and
  * never scores: a kernel change should not move it, and a dictionary
  * change should not move `extract`. */
final class MtbPools(c: Ctx, pages: Long) extends Workload {
  val name = "mtb_pools"
  val phases = Seq("statements", "dict_x", "dict_e", "filter_tokenize_encode", "relation_ids", "pools")

  def writeInputs(): Unit = c.writePages(name, pages)

  private def build(probe: (String, () => DataFrame) => Unit): MtbDataset.Result =
    MtbDataset.build(c.spark, c.pages(name), c.gaz, c.tok, minCount = 2, minPoolSize = 2, probe = probe)

  private def poolsDigest(r: MtbDataset.Result): Outcome =
    Ctx.digest(r.pools, "e1_id", "e2_id", "relation_ids", "set")

  def run(i: Int): Outcome = poolsDigest(build((_, f) => { f(); () }))

  /** The build persists its statements, entity dictionary and tokenized
    * rows; a run that left them cached would tax every later run. */
  override def after(): Unit = c.spark.catalog.clearCache()

  /** Each phase runs and is forced inside the build's public probe hook,
    * under its own job-local phase label. */
  def traced(i: Int): (Outcome, Map[String, Double]) = {
    val sc = c.spark.sparkContext
    val runId = s"mtb-$i"
    val label = (p: String) => s"$runId/mtb.$p"
    val wall = scala.collection.mutable.Map.empty[String, Double]
    val t0 = System.nanoTime()
    val r = PhaseListener.withPhase(sc, label("residual")) {
      Trace.span("mtb.build", runId) {
        build((p, f) => PhaseListener.withPhase(sc, label(p)) {
          val s = System.nanoTime()
          Trace.span(s"mtb.$p", runId)(f().count())
          wall(p) = (System.nanoTime() - s) / 1e9
        })
      }
    }
    val total = (System.nanoTime() - t0) / 1e9
    val out = poolsDigest(r)
    c.listener.drain(sc)
    val m = phases.flatMap { p =>
      val s = c.listener.get(label(p))
      Seq(
        s"mtb.$p.wall_s" -> wall.getOrElse(p, 0.0),
        s"mtb.$p.cpu_s" -> s.cpuS,
        s"mtb.$p.shuffle_mb" -> s.shuffleMb,
        s"mtb.$p.jobs" -> s.jobs.toDouble)
    } ++ Seq(
      "mtb.residual_s" -> math.max(0.0, total - wall.values.sum),
      "mtb.spill_mb" -> ("residual" +: phases).map(p => c.listener.get(label(p)).spillMb).sum)
    (out, m.toMap)
  }
}

/** The write side of the same layers: staged `Checkpointed.run` under a
  * fresh run id, entity linking over the triple surfaces plus a seeded
  * alias table larger than the linker's driver-local bound (so the
  * distributed LSH and connected-components path runs, as it would at web
  * scale), relabelling, graph materialization and the partitioned triple
  * sink. The bound is passed explicitly and kept small: above the default
  * 100,000 surfaces one run took 23 s on a 4-core host. */
final class KgBuild(c: Ctx, pages: Long, aliases: Int, linkerBound: Int) extends Workload {
  import c.spark.implicits._
  val name = "kg_build"
  private var fusedRef: Outcome = _

  def writeInputs(): Unit = {
    c.writePages(name, pages)
    val seed = c.seed
    val ents = graft.fixtures.FixtureVocab.AllEntities
    c.spark.range(aliases.toLong).map { i =>
      // near-duplicates of the gazetteer surfaces (the linker merges these)
      // followed by seeded three-word surfaces (it blocks but keeps these)
      if (i < 2L * ents.length) ents((i / 2).toInt) + (if (i % 2 == 0) " co" else " inc")
      else {
        val h = Ctx.mix(seed * 1000003L + i)
        def word(x: Long) = Iterator.iterate(x)(_ >>> 4).take(6).map(v => ('a' + (v & 15)).toChar).mkString
        s"${word(h)} ${word(h >>> 24)} ${word(Ctx.mix(h))}"
      }
    }.toDF("e_text").write.mode("overwrite").parquet(c.path("inputs", "aliases.parquet"))
  }

  private def staged(runId: String): DataFrame =
    Checkpointed.run(c.spark, c.pages(name), c.gaz, c.tok, c.kernel, c.idx2rel, c.path("ckpt", runId), runId).toDF()

  /** The linker's input: every triple surface plus the alias table. */
  private def dim(triples: DataFrame): DataFrame =
    triples.select(col("subj").as("e_text"))
      .union(triples.select(col("obj").as("e_text")))
      .union(c.spark.read.parquet(c.path("inputs", "aliases.parquet")))
      .distinct()
      .withColumn("e_id", xxhash64(col("e_text")))

  /** The fused triples of the same pages, which every staged run must equal. */
  override def checkOnce(): Option[String] = {
    fusedRef = Ctx.tripleDigest(
      TriplePipeline.run(c.spark, c.pages(name), c.gaz, c.tok, c.kernel, c.idx2rel).toDF())
    None
  }

  /** Re-running a completed run id must resume (rewrite no manifest) and
    * give the same triples. Checked on the first run of an invocation. */
  private var resumeChecked = false
  private def checkResume(runId: String, first: Outcome): Unit = {
    val manifests = Seq("statements", "scored", "triples").map(s => Paths.get(c.path("ckpt", runId, s"$s.ok")))
    val stamps = manifests.map(Files.getLastModifiedTime(_))
    val again = Ctx.tripleDigest(staged(runId))
    val restamped = manifests.map(Files.getLastModifiedTime(_)) != stamps
    require(again == first && !restamped, s"resumed run gave $again (recomputed: $restamped), first run $first")
    resumeChecked = true
  }

  import KgBuild.Pending
  private var pending: Option[Pending] = None

  private def outDir(runId: String, part: String) = c.path("out", runId, part)

  /** Links, relabels, materializes and sinks the staged triples; the
    * outcome is read back from the sink. */
  private def build(runId: String, traced: Boolean): Pending = {
    def span[T](n: String)(f: => T): T = if (traced) Trace.span(n, runId)(f) else f
    def force(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      if (traced) p.count()
      p
    }
    val st = span("io.checkpointed")(staged(runId))
    val d = dim(st)
    val linked = span("link.canonicalize") {
      val l = EntityLinker.canonicalize(c.spark, d, threshold = 0.7, smallDimThreshold = linkerBound)
      if (traced) force(l) else l
    }
    val canon = span("link.relabel")(force(EntityLinker.canonicalizeTriples(st, linked)))
    span("triples.materialize")(KgGraph.write(KgGraph.materialize(canon), outDir(runId, "graph")))
    span("triples.sink_write")(TripleSink.write(canon.as[Triple], outDir(runId, "sink")))
    val sink = TripleSink.read(c.spark, outDir(runId, "sink")).toDF()
    val p = Pending(runId, st, d, linked, sink, Ctx.tripleDigest(sink))
    pending = Some(p)
    p
  }

  def run(i: Int): Outcome = build(s"kg-$i-${System.nanoTime()}", traced = false).out

  /** The relabelling invariants (the count is unchanged and every output
    * surface was a surface of the linker's input), staged == fused, then
    * the run's files and caches are dropped. */
  override def after(): Unit = pending.foreach { p =>
    pending = None
    try {
      val st = Ctx.tripleDigest(p.staged)
      require(st == fusedRef, s"staged triples $st differ from fused triples $fusedRef")
      if (!resumeChecked) checkResume(p.runId, st)
      require(p.out.rows == st.rows, s"relabelling changed the triple count: ${st.rows} -> ${p.out.rows}")
      val invented = p.sink.select(col("subj").as("e_text")).union(p.sink.select(col("obj").as("e_text")))
        .distinct().join(p.dim.select("e_text"), Seq("e_text"), "left_anti").count()
      require(invented == 0, s"relabelling invented $invented surfaces")
    } finally {
      c.spark.catalog.clearCache()
      Ctx.deleteTree(c.path("ckpt", p.runId))
      Ctx.deleteTree(c.path("out", p.runId))
    }
  }

  def traced(i: Int): (Outcome, Map[String, Double]) = {
    val runId = s"kgt-$i-${System.nanoTime()}"
    val p = Trace.span("kg_build.run", runId)(build(runId, traced = true))
    val dimRows = p.linked.count().toDouble
    val merged = p.linked.filter(col("canon_id") =!= col("e_id")).count().toDouble
    val manifest = (s: String) => {
      val j = new String(Files.readAllBytes(Paths.get(c.path("ckpt", p.runId, s"$s.ok"))), "UTF-8")
      def num(k: String) = s""""$k":(\\d+)""".r.findFirstMatchIn(j).map(_.group(1).toDouble).getOrElse(Double.NaN)
      Seq(s"io.ckpt.$s.wall_ms" -> num("wall_ms"), s"io.ckpt.$s.rows" -> num("rows"))
    }
    val (files, bytes) = Ctx.dirStats(outDir(p.runId, "sink"))
    val m = Seq("statements", "scored", "triples").flatMap(manifest) ++ Seq(
      "link.dim_rows" -> dimRows,
      "link.merged_ratio" -> merged / dimRows,
      "triples.sink_files" -> files.toDouble,
      "triples.sink_mb_per_mtriple" -> (bytes / 1048576.0) / (p.out.rows / 1e6))
    (p.out, m.toMap)
  }
}

object KgBuild {
  /** What `after` checks and then drops. */
  final case class Pending(
      runId: String, staged: DataFrame, dim: DataFrame, linked: DataFrame, sink: DataFrame, out: Outcome)
}

/** The streaming ingest and FewRel layers: `TripleStream.run` (the fused
  * pipeline lifted onto an AvailableNow `readStream`) over the seeded
  * stored corpus into a fresh sink and checkpoint, then `FewRel.read` and
  * `FewRel.episodeAccuracy` over the FewRel fixture written into the
  * inputs. The outcome is the streamed triples, which must equal the fused
  * batch triples of the same pages; the FewRel example count and accuracy
  * are checked in `after`. */
final class StreamFewRel(c: Ctx, pages: Long) extends Workload {
  val name = "stream_fewrel"
  private var fusedRef: Outcome = _
  private var accRef = Option.empty[Double]
  private var pending = Option.empty[(String, Outcome, Long, Double)]

  private def fewrelJson = c.path("inputs", "fewrel", "train_wiki.json")

  def writeInputs(): Unit = {
    c.writePages(name, pages)
    val dir = Paths.get(c.path("inputs", "fewrel"))
    Files.createDirectories(dir)
    FewRelFixture.writeTo(dir)
  }

  /** The fused batch triples of the same pages, which every streamed run must equal. */
  override def checkOnce(): Option[String] = {
    fusedRef = Ctx.tripleDigest(
      TriplePipeline.run(c.spark, c.pages(name), c.gaz, c.tok, c.kernel, c.idx2rel).toDF())
    None
  }

  private def once(runId: String, span: String => (=> Any) => Any): Outcome = {
    val out = c.path("out", runId, "triples")
    span("streaming.run") {
      TripleStream.run(c.spark, c.path("inputs", s"$name.parquet"), out, c.path("ckpt", runId),
        c.gaz, c.tok, c.kernel, c.idx2rel)
    }
    val streamed = Ctx.tripleDigest(TripleStream.readTriples(c.spark, out))
    var n = 0L
    var acc = 0.0
    span("fewrel.read") { n = FewRel.read(c.spark, fewrelJson).count() }
    span("fewrel.episodes") {
      acc = FewRel.episodeAccuracy(c.spark, FewRel.read(c.spark, fewrelJson), c.tok, nWay = 5, kShot = 1, seed = 42L)
    }
    pending = Some((runId, streamed, n, acc))
    streamed
  }

  def run(i: Int): Outcome = once(s"sf-$i-${System.nanoTime()}", _ => f => f)

  /** Streamed == fused; FewRel keeps every valid fixture example, beats the
    * 1/5 chance floor and gives the same accuracy on every run; then the
    * run's sink and checkpoint are dropped. */
  override def after(): Unit = pending.foreach { case (runId, streamed, n, acc) =>
    pending = None
    try {
      require(streamed == fusedRef, s"streamed triples $streamed differ from fused triples $fusedRef")
      require(n == FewRelFixture.expectedValid, s"FewRel kept $n examples, expected ${FewRelFixture.expectedValid}")
      require(acc > 0.2, s"FewRel episode accuracy $acc is not above chance")
      require(accRef.forall(_ == acc), s"FewRel episode accuracy $acc, first run ${accRef.get}")
      accRef = Some(acc)
    } finally {
      Ctx.deleteTree(c.path("ckpt", runId))
      Ctx.deleteTree(c.path("out", runId))
    }
  }

  def traced(i: Int): (Outcome, Map[String, Double]) = {
    val sc = c.spark.sparkContext
    val runId = s"sft-$i-${System.nanoTime()}"
    val label = (p: String) => s"$runId/$p"
    val out = Trace.span("stream_fewrel.run", runId) {
      once(runId, p => f => PhaseListener.withPhase(sc, label(p))(Trace.span(p, runId)(f)))
    }
    c.listener.drain(sc)
    val (_, _, n, acc) = pending.get
    val jobs = (p: String) => c.listener.get(label(p)).jobs.toDouble
    (out, Map(
      "streaming.jobs" -> jobs("streaming.run"),
      "streaming.rows" -> out.rows.toDouble,
      "fewrel.jobs" -> (jobs("fewrel.read") + jobs("fewrel.episodes")),
      "fewrel.examples" -> n.toDouble,
      "fewrel.episode_accuracy" -> acc))
  }
}
