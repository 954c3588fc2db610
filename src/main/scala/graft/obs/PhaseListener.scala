package graft.obs

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task CPU and run time per phase. A phase is a job-local property set
  * with [[PhaseListener.withPhase]]: Spark copies the submitting thread's
  * local properties into every job it launches, so `onJobStart` reads the
  * label current when the job was SUBMITTED and maps the job's stages to
  * it. A stage that completes after its phase has ended is still credited
  * to the phase that launched it. [[drain]] waits for a fence job instead
  * of sleeping. */
final class PhaseListener extends SparkListener {
  import PhaseListener._

  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val jobPhase = new ConcurrentHashMap[Int, String]()
  private val cpuNs = new ConcurrentHashMap[String, java.lang.Long]()
  private val runMs = new ConcurrentHashMap[String, java.lang.Long]()
  private val fences = new ConcurrentHashMap[String, CountDownLatch]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).getOrElse(Unlabelled)
    jobPhase.put(e.jobId, phase)
    e.stageInfos.foreach(s => stagePhase.putIfAbsent(s.stageId, phase))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val phase = stagePhase.getOrDefault(e.stageInfo.stageId, Unlabelled)
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      cpuNs.merge(phase, m.executorCpuTime, (a, b) => a + b)
      runMs.merge(phase, m.executorRunTime, (a, b) => a + b)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobPhase.remove(e.jobId)).flatMap(p => Option(fences.get(p))).foreach(_.countDown())

  /** Executor CPU seconds per phase. */
  def cpuSec: Map[String, Double] = cpuNs.asScala.map { case (k, v) => k -> v / 1e9 }.toMap

  /** Executor run-time seconds per phase. */
  def runSec: Map[String, Double] = runMs.asScala.map { case (k, v) => k -> v / 1e3 }.toMap

  /** Blocks until every event posted before this call has been delivered:
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
  val Key = "graft.phase"
  val Unlabelled = "unlabelled"

  def withPhase[T](sc: SparkContext, label: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, label)
    try f
    finally sc.setLocalProperty(Key, prev)
  }
}
