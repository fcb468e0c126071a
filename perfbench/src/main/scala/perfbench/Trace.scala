package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** One recorded span. Spans of one batch or query share `group`; `parent`
 * is the enclosing span's id (0 for a root). Times are wall-clock ms (for
 * overlap with Spark job events) plus a nanosecond duration. */
final case class Span(id: Long, parent: Long, group: String, name: String,
                      startMs: Long, endMs: Long, durNs: Long)

final case class Job(id: Int, desc: String, startMs: Long, var endMs: Long)

/** Spark listener that keeps every job's interval and description while
 * `on`; attribution to spans happens after the run, from event times. */
final class JobListener extends SparkListener {
  @volatile var on = false
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val ended = new java.util.concurrent.atomic.AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    jobs.put(e.jobId, Job(e.jobId, d.getOrElse(""), e.time, -1L))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) { j.endMs = e.time; ended.incrementAndGet() }
  }

  /** Waits (bounded) until every recorded job has its end event. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (ended.get() < jobs.size && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }
  def all: Vector[Job] = jobs.values.asScala.filter(_.endMs >= 0).toVector.sortBy(_.id)
}

/** In-memory span recorder. Disabled, `span` only runs its body. */
final class Tracer(val listener: Option[JobListener]) {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  def setEnabled(on: Boolean): Unit = {
    enabled = on
    listener.foreach(_.on = on)
  }

  def span[T](group: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - t0
        spans.add(Span(id, parent, group, name, ms0, System.currentTimeMillis(), dur))
        stack.set(stack.get.tail)
      }
    }

  def recorded: Vector[Span] = spans.asScala.toVector.sortBy(_.id)

  /** Child spans derived from the listener: every job the store labels
   * `store: <op> <table>` becomes a `store.<op>` span under the layer
   * span its interval falls in. */
  def storeSpans(jobs: Vector[Job]): Vector[Span] = {
    val layers = recorded.filter(s => s.parent != 0)
    jobs.filter(_.desc.startsWith("store: ")).flatMap { j =>
      layers.find(s => j.startMs >= s.startMs && j.endMs <= s.endMs).map { s =>
        val op = j.desc.stripPrefix("store: ").takeWhile(_ != ' ')
        Span(-j.id.toLong, s.id, s.group, s"store.$op", j.startMs, j.endMs,
          (j.endMs - j.startMs) * 1000000L)
      }
    }
  }

  def write(file: File, extra: Vector[Span], jobs: Vector[Job]): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try {
      (recorded ++ extra).foreach { s =>
        w.println(s"""{"span":${s.id},"parent":${s.parent},"group":"${s.group}",""" +
          s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
          s""""dur_ms":${s.durNs / 1e6}}""")
      }
      jobs.foreach { j =>
        w.println(s"""{"job":${j.id},"desc":${Model.jsonStr(j.desc)},""" +
          s""""start_ms":${j.startMs},"end_ms":${j.endMs}}""")
      }
    } finally w.close()
  }
}

object Trace {
  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
