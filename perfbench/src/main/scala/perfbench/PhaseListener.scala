package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-metric totals per phase. A phase is a job-local property set with
  * `sc.setLocalProperty(PhaseListener.Key, label)` before the jobs run:
  * Spark snapshots the submitting thread's local properties into every job
  * it launches, so `onJobStart` reads the label that was current when the
  * job was SUBMITTED and maps each of the job's stages to it. A stage that
  * completes after its phase has ended (an async job, a slow listener bus)
  * is still credited to the phase that launched it. No mutable "current
  * phase" and no sleep: [[drain]] waits for a fence job instead. */
final class PhaseListener extends SparkListener {
  import PhaseListener._

  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val jobPhase = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Totals]()
  private val fences = new ConcurrentHashMap[String, CountDownLatch]()
  private val stageDone = new ConcurrentHashMap[Int, java.lang.Long]()

  private def of(phase: String): Totals = totals.computeIfAbsent(phase, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).getOrElse(Unlabelled)
    jobPhase.put(e.jobId, phase)
    of(phase).jobs.increment()
    e.stageInfos.foreach(s => stagePhase.putIfAbsent(s.stageId, phase))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val t = of(stagePhase.getOrDefault(info.stageId, Unlabelled))
    t.stages.increment()
    t.tasks.add(info.numTasks.toLong)
    info.completionTime.foreach(ms => stageDone.put(info.stageId, ms))
    val m = info.taskMetrics
    if (m != null) {
      t.cpuNs.add(m.executorCpuTime)
      t.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      t.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobPhase.remove(e.jobId)).flatMap(p => Option(fences.get(p))).foreach(_.countDown())

  /** Totals credited to `phase` so far (zeros if it never ran a job). */
  def get(phase: String): Snapshot = {
    val t = totals.get(phase)
    if (t == null) Snapshot(0, 0, 0, 0, 0, 0)
    else Snapshot(t.jobs.sum, t.stages.sum, t.tasks.sum, t.cpuNs.sum, t.shuffleBytes.sum, t.spillBytes.sum)
  }

  /** Stage ids credited to `phase`, with their completion times (ms). */
  def stagesOf(phase: String): Map[Int, Long] = {
    import scala.jdk.CollectionConverters._
    stagePhase.asScala.collect {
      case (id, p) if p == phase && stageDone.containsKey(id) => id -> stageDone.get(id).longValue
    }.toMap
  }

  /** Block until every event posted before this call has been delivered:
    * runs a one-task fence job and waits for its end event, which the
    * listener bus delivers after all earlier events. */
  def drain(sc: SparkContext): Unit = {
    val label = s"__fence-${java.util.UUID.randomUUID()}"
    val latch = new CountDownLatch(1)
    fences.put(label, latch)
    withPhase(sc, label)(sc.parallelize(Seq(1), 1).count())
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not deliver the fence job's end event")
    fences.remove(label)
  }
}

object PhaseListener {
  val Key = "perfbench.phase"
  val Unlabelled = "unlabelled"

  final class Totals {
    val jobs, stages, tasks, cpuNs, shuffleBytes, spillBytes = new LongAdder
  }

  final case class Snapshot(jobs: Long, stages: Long, tasks: Long, cpuNs: Long, shuffleBytes: Long, spillBytes: Long) {
    def cpuS: Double = cpuNs / 1e9
    def shuffleMb: Double = shuffleBytes / 1048576.0
    def spillMb: Double = spillBytes / 1048576.0
  }

  def withPhase[T](sc: SparkContext, label: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, label)
    try f
    finally sc.setLocalProperty(Key, prev)
  }

  /** Self-test of the attribution rule: a slow stage is submitted under
    * phase A, A ends, and a fast job runs under phase B while A's stage is
    * still running. The slow stage completes during B and must still be
    * credited to A. A listener keyed on a mutable "current phase" would
    * credit it to B. Returns an error message, or None when it holds. */
  def selfTest(sc: SparkContext, l: PhaseListener): Option[String] = {
    val a = s"__selftest-a-${System.nanoTime()}"
    val b = s"__selftest-b-${System.nanoTime()}"
    val slow = withPhase(sc, a) {
      sc.parallelize(1 to 2, 2).map { x => Thread.sleep(300); x }.collectAsync()
    }
    val aEnded = System.currentTimeMillis()
    withPhase(sc, b)(sc.parallelize(1 to 2, 2).count())
    scala.concurrent.Await.result(slow, scala.concurrent.duration.Duration(60, "s"))
    l.drain(sc)
    val sa = l.get(a)
    val sb = l.get(b)
    val lateA = l.stagesOf(a).values.count(_ > aEnded)
    if (sa.jobs != 1 || sa.stages != 1 || sa.tasks != 2) Some(s"phase A credited $sa, expected 1 job, 1 stage, 2 tasks")
    else if (sb.jobs != 1 || sb.stages != 1 || sb.tasks != 2) Some(s"phase B credited $sb, expected 1 job, 1 stage, 2 tasks")
    else if (lateA != 1) Some("phase A's stage did not complete after phase A ended; the test proved nothing")
    else None
  }
}
