package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.annotate.Gazetteer
import graft.fixtures.{Corpus, FixtureVocab}
import graft.kernel.ScoringKernel
import graft.tokenize.Vocab
import graft.triples.TriplePipeline

/** Benchmark harness. One client (this thread) drives a closed loop on
  * local[cores]: each run starts when the previous one has completed and
  * been checked. Untraced mode measures one workload end to end; traced
  * mode replays every workload with spans and counters around each layer
  * call and reports the per-layer metrics. The last stdout line is the
  * result object; the exit code is non-zero when any check fails.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --root DIR --work DIR --cores C
  */
object Main {

  // Input sizes: one run takes about 2.5 s (extract), 7 s (mtb_pools) and
  // 12 s (kg_build) on a 4-core host, so a 20 s measurement holds at
  // least two runs of the end-to-end workloads.
  val ExtractPages = 60000L
  val MtbPages = 16000L
  val KgPages = 3000L
  val KgAliases = 4000
  val KgLinkerBound = 1000
  val StreamPages = 20000L
  val WarmUpRuns = 1
  val Workloads = Seq("extract", "mtb_pools", "kg_build", "stream_fewrel")

  /** One timed, checked run. */
  final case class Sample(wall: Double, out: Outcome, cpuS: Double, shuffleMb: Double, heapMb: Double)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, root: Path, work: Path, cores: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("root")), Paths.get(m("work")), m("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val a = parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    val ok =
      try new Main(a, jvmS).run()
      catch { case e: Throwable => e.printStackTrace(); false }
    sys.exit(if (ok) 0 else 1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def secondsOf[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def json(m: Seq[(String, Any)]): String = m.map {
    case (k, v: String) => s""""$k":"$v""""
    case (k, v: Seq[_]) => s""""$k":[${v.mkString(",")}]"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")
}

final class Main(a: Main.Args, jvmS: Double) {
  import Main._

  private val failures = ArrayBuffer.empty[String]
  private var attempted = 0
  private var failedRuns = 0

  private def check(what: String)(err: => Option[String]): Unit = {
    val e = try err catch { case t: Throwable => t.printStackTrace(); Some(t.toString) }
    e.foreach(msg => failures += s"$what: $msg")
    println(json(Seq("check" -> what, "ok" -> e.isEmpty.toString, "at_s" -> uptime)))
  }

  /** Heap in use after a full collection, taken when a run ends and before
    * its caches are dropped, so work moved into caches shows. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def uptime: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def run(): Boolean = {
    val (sessionS, spark) = secondsOf {
      val s = GraftSession.builder(a.cores, "perfbench")
        .config("spark.local.dir", a.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
        // keep the status store's retained history small, so the live heap
        // measures the engine and not how many jobs this JVM has run
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.sql.ui.retainedExecutions", "20")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val sc = spark.sparkContext
    val listener = new PhaseListener
    sc.addSparkListener(listener)
    val host = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "mem_total_kb" -> memTotalKb,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "cores" -> a.cores,
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
    println(s"""{"host":${json(host)}}""")
    val nproc = Runtime.getRuntime.availableProcessors
    println(json(Seq("scaling_gate" -> (
      if (nproc < 16) s"not measurable: nproc $nproc < 16, the N->4N gate needs local[4] and local[16]"
      else "measurable on this host; run by graft.Bench, not by this benchmark"))))

    val (kernelS, (kernel, _, idx2rel)) = secondsOf(SparkEntry.trainedKernel)
    val c = new Ctx(spark, listener, a.seed, a.work,
      sc.broadcast(new Gazetteer(FixtureVocab.AllEntities)),
      sc.broadcast(Vocab.fixtureTokenizer),
      sc.broadcast(kernel: ScoringKernel),
      sc.broadcast(idx2rel))

    sharedChecks(spark, listener)
    val metrics =
      if (a.trace) traced(c)
      else untraced(c, workload(c, a.workload), jvmS + sessionS + kernelS)
    if (a.trace) Trace.write(a.work.resolve("trace").resolve(s"${a.workload}-${a.seed}.jsonl"))
    spark.stop()

    failures.foreach(f => println(json(Seq("failure" -> f.replace("\"", "'")))))
    val correct = failures.isEmpty && failedRuns == 0
    val ms = metrics.map { case (n, (v, unit)) =>
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$unit"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failedRuns,"metrics":$ms}""")
    correct
  }

  private def memTotalKb: Long =
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  private def workload(c: Ctx, name: String): Workload = name match {
    case "extract" => new Extract(c, ExtractPages)
    case "mtb_pools" => new MtbPools(c, MtbPages)
    case "kg_build" => new KgBuild(c, KgPages, KgAliases, KgLinkerBound)
    case "stream_fewrel" => new StreamFewRel(c, StreamPages)
  }

  /** Checks every invocation makes before it measures anything. */
  private def sharedChecks(spark: SparkSession, l: PhaseListener): Unit = {
    import spark.implicits._
    check("text_norm golden, 64 rows byte-identical") {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper
      val golden = Files.readAllLines(a.root.resolve("src/test/resources/golden/text_norm.golden.jsonl")).asScala
        .map(mapper.readTree).map(j => j.get("id").asLong -> j.get("norm").asText).toMap
      val pages = spark.createDataset(golden.keys.toSeq.sorted.map(Corpus.page))
      val got = TriplePipeline.normalizePages(pages, TriplePipeline.Config(langs = Set("en", "de", "fr")))
        .as[(String, String)].collect().map { case (u, t) => Corpus.docOrderFromUrl(u) -> t }.toMap
      if (golden.size != 64) Some(s"golden has ${golden.size} rows")
      else golden.collectFirst { case (id, n) if !got.get(id).contains(n) => s"page $id differs" }
    }
    check("q40 pin: 512 pages give 11254 triples, digest 5655273200262") {
      val m = SparkEntry.queries("q40_kg_triples")(spark, "").as[(String, Long)].collect().toMap
      if (m.get("n_triples").contains(11254L) && m.get("digest").contains(5655273200262L)) None
      else Some(s"got $m")
    }
    check("q37 SemEval micro P and R >= 0.95") {
      val m = SparkEntry.queries("q37_semeval_prf")(spark, "").as[(String, Double)].collect().toMap
      if (m("micro_p") >= 0.95 && m("micro_r") >= 0.95) None else Some(s"got $m")
    }
    check("listener credits a late stage to the phase that launched it") {
      PhaseListener.selfTest(spark.sparkContext, l)
    }
  }

  /** One timed, checked run under its own phase label. */
  private def sample(c: Ctx, w: Workload, i: Int, expect: Option[Outcome]): Option[Sample] = {
    val sc = c.spark.sparkContext
    val label = s"${w.name}/run-$i"
    attempted += 1
    try {
      System.gc() // every run starts from a collected heap
      val (wall, out) = PhaseListener.withPhase(sc, label)(secondsOf(w.run(i)))
      val heapMb = liveHeapMb()
      w.after()
      c.listener.drain(sc)
      val s = c.listener.get(label)
      println(json(Seq("run" -> i, "workload" -> w.name, "wall_s" -> wall, "rows" -> out.rows,
        "digest" -> out.digest, "jobs" -> s.jobs, "cpu_s" -> s.cpuS, "shuffle_mb" -> s.shuffleMb, "heap_live_mb" -> heapMb)))
      expect.filter(_ != out).foreach(e => sys.error(s"run $i gave $out, the seed's first run gave $e"))
      Some(Sample(wall, out, s.cpuS, s.shuffleMb, heapMb))
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        failedRuns += 1
        failures += s"${w.name} run $i: $t"
        None
    }
  }

  /** The workload's own once-per-invocation checks, then `n` warm-up runs
    * (after one, the JIT was still settling: the first measured run of
    * `mtb_pools` was 10-15 % slower than the rest). Every later run of the
    * seed must equal the warm-up outcome. Returns the warm-up wall time and
    * outcome (None when a check failed). */
  private def warmUp(w: Workload, n: Int): (Double, Option[Outcome]) = {
    check(s"${w.name} once-per-invocation checks")(w.checkOnce())
    var r = (Double.NaN, Option.empty[Outcome])
    check(s"${w.name} warm-up runs and their checks") {
      val runs = (1 to n).map { k =>
        val t = secondsOf(w.run(-k))
        w.after()
        t
      }
      r = (runs.map(_._1).sum, Some(runs.head._2))
      runs.collectFirst { case (_, o) if o != runs.head._2 => s"warm-up runs disagree: ${runs.map(_._2)}" }
    }
    r
  }

  /** Set-up, then the measured closed loop. Set-up is the JVM, session
    * and kernel start, writing the seeded inputs, and the warm-up runs. */
  private def untraced(c: Ctx, w: Workload, bootS: Double): Seq[(String, (Double, String))] = {
    val (writeS, _) = secondsOf(w.writeInputs())
    val (warmS, first) = warmUp(w, WarmUpRuns)
    val setupS = bootS + writeS + warmS
    val samples = ArrayBuffer.empty[Sample]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    while (first.nonEmpty && (i == 0 || System.nanoTime() < deadline)) {
      sample(c, w, i, first).foreach(samples += _)
      i += 1
    }
    println(json(Seq("workload" -> w.name, "samples" -> samples.length, "boot_s" -> bootS, "write_inputs_s" -> writeS, "warm_up_s" -> warmS)))
    def med(f: Sample => Double) = median(samples.map(f).toSeq)
    Seq(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (med(_.wall), "s"),
      "rows_per_s" -> (med(s => s.out.rows / s.wall), "1/s"),
      "cpu_s" -> (med(_.cpuS), "s"),
      "shuffle_mb" -> (med(_.shuffleMb), "MB"),
      "heap_live_mb" -> (med(_.heapMb), "MB"))
  }

  /** Every workload, whichever one was named: after a warm-up run, untraced
    * and traced runs alternate for a share of the measured time, and each
    * traced outcome is checked against the untraced one. Per-layer metrics
    * are medians over the traced runs; a layer's time is the summed self
    * time of its spans in one run (task-thread seconds). */
  private def traced(c: Ctx): Seq[(String, (Double, String))] = {
    val out = ArrayBuffer.empty[(String, (Double, String))]
    val share = a.seconds * 1000000000L / Workloads.length
    Workloads.foreach { name =>
      val w = workload(c, name)
      w.writeInputs()
      val ref = warmUp(w, 1)._2
      val walls = ArrayBuffer.empty[Double]
      val tracedWalls = ArrayBuffer.empty[Double]
      val layer = ArrayBuffer.empty[Map[String, Double]]
      val deadline = System.nanoTime() + share
      var i = 0
      while (ref.nonEmpty && (i == 0 || System.nanoTime() < deadline)) {
        sample(c, w, i, ref).foreach(s => walls += s.wall)
        attempted += 1
        try {
          val (t, (o, m)) = secondsOf(w.traced(i))
          w.after()
          if (!ref.contains(o)) sys.error(s"traced run $i gave $o, untraced gave ${ref.get}")
          tracedWalls += t
          layer += m
        } catch {
          case e: Throwable =>
            e.printStackTrace(); failedRuns += 1; failures += s"$name traced run $i: $e"
        }
        i += 1
      }
      if (layer.nonEmpty) layer.head.keys.toSeq.sorted.foreach { k =>
        out += k -> (median(layer.map(_(k)).toSeq), unitOf(k))
      }
      out += s"$name.wall_s" -> (median(walls.toSeq), "s")
      out += s"$name.trace_overhead" -> (median(tracedWalls.toSeq) / median(walls.toSeq), "ratio")
      if (name == "extract" && ref.nonEmpty) {
        attempted += 1
        val (t1, o1) = secondsOf(w.asInstanceOf[Extract].runOneCore())
        if (!ref.contains(o1)) { failedRuns += 1; failures += s"extract one-core run gave $o1, expected ${ref.get}" }
        out += "extract.speedup_vs_1core" -> (t1 / median(walls.toSeq), "ratio")
      }
    }
    val self = Trace.selfByRunAndName(Trace.all)
    Seq("textnorm.normalize", "annotate.annotate", "statements.window", "tokenize.encode", "kernel.score",
      "io.checkpointed", "link.canonicalize", "link.relabel", "triples.materialize", "triples.sink_write",
      "streaming.run", "fewrel.read", "fewrel.episodes")
      .foreach { n =>
        out += s"${n}_s" -> (median(self.collect { case ((_, name), s) if name == n => s }.toSeq), "s")
      }
    out.toSeq
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_mb_per_mtriple")) "MB/Mtriple"
    else if (k.endsWith("_ratio") || k.endsWith("_accuracy")) "ratio"
    else "count"
}
