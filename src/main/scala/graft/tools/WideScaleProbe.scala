package graft.tools

import org.apache.spark.sql.SparkSession

import graft.obs.PhaseListener

/** Phase-timed runs of the wide (shuffle-heavy) MTB chain for the
  * scaling legs of Bench and WideBench. */
object WideScaleProbe {

  /** Phase-timed single run through MtbDataset.build's probe hook — the
    * SAME stage boundaries the production build has (statements persist,
    * the two dict groupBys, the freq filter, tokenize+DenseId encode,
    * the salted pools collect), each forced and timed in order, over a
    * caller-supplied page set (Bench reads the shared parquet corpus so
    * both scaling legs scan identical stored bytes). Returns the ordered
    * (phase, sec) list and the pool count. */
  def phasedRunOn(
      s: SparkSession,
      pages: org.apache.spark.sql.Dataset[graft.schema.WebPage]): (Seq[(String, Double)], Long) = {
    val sc = s.sparkContext
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var pools = 0L
    val w0 = System.nanoTime()
    // probe contract: the thunk CONSTRUCTS the stage (construction can run
    // Spark jobs — DenseId's zipWithIndex offsets job materializes the
    // whole upstream, including the freq-filter semi join and tokenize
    // mapPartitions) — so construct AND force inside the timed window.
    // Before round 5 the probe timed only count() on a pre-built DataFrame
    // and those construction jobs fell between the windows untimed.
    // each phase's jobs carry its name as the job-local phase label that
    // [[phasedRunCpuOn]]'s listener attributes by; jobs outside every phase
    // are "residual"
    PhaseListener.withPhase(sc, "residual") {
      graft.statements.MtbDataset.build(
        s, pages,
        sc.broadcast(new graft.annotate.Gazetteer(graft.fixtures.FixtureVocab.AllEntities)),
        sc.broadcast(graft.tokenize.Vocab.fixtureTokenizer),
        minCount = 2, minPoolSize = 2,
        probe = (name, thunk) => PhaseListener.withPhase(sc, name) {
          val t0 = System.nanoTime()
          val c = thunk().count()
          buf += name -> (System.nanoTime() - t0) / 1e9
          if (name == "pools") pools = c
        })
    }
    // residual = plan construction/analysis between stage windows; a large
    // residual would mean a stage is doing untimed work again — kept as an
    // always-present phase so the artifact self-audits (hi-leg residual
    // < 2 s keeps it out of Bench's steady aggregate by construction)
    val wall = (System.nanoTime() - w0) / 1e9
    buf += "residual" -> math.max(0.0, wall - buf.map(_._2).sum)
    s.catalog.clearCache()
    (buf.toSeq, pools)
  }

  /** Per-phase task-metric totals captured alongside the wall times:
    * cpuSec = executorCpuTime (actual on-CPU nanoseconds, which on this
    * kernel INCLUDES memory-stall cycles), runSec = executorRunTime.
    * Attribution: each stage is credited to the phase whose job launched
    * it ([[graft.obs.PhaseListener]]); work outside every phase is
    * "residual". */
  final case class PhasedCpu(
      wall: Seq[(String, Double)],
      pools: Long,
      cpuSec: Map[String, Double],
      runSec: Map[String, Double])

  /** [[phasedRunOn]] plus per-phase task CPU/run-time totals — the
    * r5-requested evidence separating "the engine leaves cores idle" from
    * "the host executes 16 threads at sub-4x of 4-thread throughput":
    * if cpu_hi is roughly cpu_lo while wall efficiency reads well below 1,
    * the same CPU work was done and the gap is host-level (scheduling or
    * stall cycles inflating BOTH legs' cpu equally); if cpu_hi is inflated
    * vs cpu_lo, the contention itself is the measured fact. Bench.scala is
    * frozen and keeps calling [[phasedRunOn]]; only WideBench uses this. */
  def phasedRunCpuOn(
      s: SparkSession,
      pages: org.apache.spark.sql.Dataset[graft.schema.WebPage]): PhasedCpu = {
    val sc = s.sparkContext
    val listener = new PhaseListener
    sc.addSparkListener(listener)
    try {
      val (wall, pools) = phasedRunOn(s, pages)
      listener.drain(sc)
      PhasedCpu(wall, pools, listener.cpuSec, listener.runSec)
    } finally sc.removeSparkListener(listener)
  }
}
