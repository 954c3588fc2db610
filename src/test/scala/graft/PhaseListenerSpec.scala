package graft

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.PhaseListener

/** Stage attribution by job-local phase property. */
class PhaseListenerSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("phase-listener-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a stage that completes after its phase ended is credited to the phase that launched it") {
    val sc = spark.sparkContext
    val l = new PhaseListener
    sc.addSparkListener(l)
    try {
      val slow = PhaseListener.withPhase(sc, "a") {
        sc.parallelize(1 to 2, 2).map { x => Thread.sleep(1500); x }.collectAsync()
      }
      // phase "a" has ended; "b" runs and finishes while a's stage still sleeps
      PhaseListener.withPhase(sc, "b")(sc.parallelize(1 to 2, 2).count())
      assert(!slow.isCompleted, "phase a's stage finished before phase b; the test proves nothing")
      Await.result(slow, 60.seconds)
      l.drain(sc)
      val run = l.runSec
      assert(run.getOrElse("a", 0.0) >= 2.9, s"phase a must carry both sleeping tasks: $run")
      assert(run.getOrElse("b", 0.0) < 1.0, s"phase b must not carry a's stage: $run")
    } finally sc.removeSparkListener(l)
  }
}
