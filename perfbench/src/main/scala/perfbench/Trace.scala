package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory span recorder. A span is (name, start, end, parent, run_id);
  * the parent is the span open on the same thread when it started, or an
  * explicit id handed to a task closure. Spans are only kept in memory and
  * written once, when the benchmark ends. The benchmark runs Spark in
  * local mode, so task threads record into the same JVM-wide buffer. */
object Trace {
  final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, runId: String) {
    def seconds: Double = (end - start) / 1e9
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[java.lang.Long] { override def initialValue(): java.lang.Long = 0L }

  /** Id of the span open on this thread (0 when none). */
  def current: Long = open.get

  def span[T](name: String, runId: String, parent: Long = -1)(f: => T): T = {
    val id = newId()
    val outer = open.get
    open.set(id)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, name, t0, System.nanoTime(), if (parent >= 0) parent else outer, runId))
      open.set(outer)
    }
  }

  def newId(): Long = ids.incrementAndGet()

  /** Records a span whose interval the caller measured itself (a task's
    * partition, which ends when its lazy output is exhausted). */
  def record(id: Long, name: String, start: Long, end: Long, parent: Long, runId: String): Unit =
    spans.add(Span(id, name, start, end, parent, runId))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span id: its duration minus the part of its interval
    * that the union of its children covers (children on parallel task
    * threads may overlap each other). */
  def selfTimes(ss: Seq[Span]): Map[Long, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { covered += math.max(0L, curB - curA); curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += math.max(0L, curB - curA)
      s.id -> (s.end - s.start - covered) / 1e9
    }.toMap
  }

  /** Summed self seconds per (run_id, name). */
  def selfByRunAndName(ss: Seq[Span]): Map[(String, String), Double] = {
    val self = selfTimes(ss)
    ss.groupBy(s => (s.runId, s.name)).map { case (k, v) => k -> v.map(s => self(s.id)).sum }
  }

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfTimes(all)
    val lines = all.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"run_id":"${s.runId}","self_s":${self(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
