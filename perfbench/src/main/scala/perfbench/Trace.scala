package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counts of the Spark work run under one tag (see [[Trace.tagged]]). */
final class Work {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong

  def +=(o: Work): Unit = {
    jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get)
    tasks.addAndGet(o.tasks.get); runMs.addAndGet(o.runMs.get)
    cpuNs.addAndGet(o.cpuNs.get); gcMs.addAndGet(o.gcMs.get)
    shuffleWriteBytes.addAndGet(o.shuffleWriteBytes.get)
    spillBytes.addAndGet(o.spillBytes.get)
  }
}

/** One timed interval. Spans of one query or micro-batch share `group`. */
final case class Span(id: Long, parent: Long, group: String, name: String,
    startNs: Long, endNs: Long)

/** In-memory tracing: spans recorded around the calls into each layer,
  * and a SparkListener that attributes every job, stage and task to the
  * tag of the thread that started it (a Spark local property, which
  * streaming query threads inherit from the thread that starts them).
  *
  * With `enabled = false` nothing is registered and `span` only runs its
  * body, so an untraced run pays no tracing cost.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace.TagKey

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val parents = new ThreadLocal[Long] { override def initialValue = 0L }
  private val work = new ConcurrentHashMap[String, Work]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private val listener = new SparkListener {
    private def tagOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(TagKey))).getOrElse("untagged")
    override def onJobStart(e: SparkListenerJobStart): Unit =
      workOf(tagOf(e.properties)).jobs.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val tag = tagOf(e.properties)
      stageTag.put(e.stageInfo.stageId, tag)
      workOf(tag).stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val w = workOf(stageTag.getOrDefault(e.stageId, "untagged"))
      w.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        w.runMs.addAndGet(m.executorRunTime)
        w.cpuNs.addAndGet(m.executorCpuTime)
        w.gcMs.addAndGet(m.jvmGCTime)
        w.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def workOf(tag: String): Work = work.computeIfAbsent(tag, _ => new Work)

  /** Run `body` with its Spark work attributed to `tag`. */
  def tagged[T](tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }

  /** Time `body` as a span named `name` in `group`, nested under the
    * span open on this thread, if any. */
  def span[T](group: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = parents.get
      parents.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        parents.set(parent)
        spans.synchronized { spans += Span(id, parent, group, name, t0, t1) }
      }
    }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  /** Work recorded under every tag that satisfies `p`, summed. */
  def workWhere(p: String => Boolean): Work = {
    drain()
    val sum = new Work
    work.asScala.foreach { case (t, w) => if (p(t)) sum += w }
    sum
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Write spans and per-tag counts as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    drain()
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val out = new StringBuilder
    allSpans.sortBy(_.startNs).foreach { s =>
      out ++= s"""{"span":${s.id},"parent":${s.parent},"group":${Json.str(s.group)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    work.asScala.toSeq.sortBy(_._1).foreach { case (t, w) =>
      out ++= s"""{"tag":${Json.str(t)},"jobs":${w.jobs.get},"stages":${w.stages.get},""" +
        s""""tasks":${w.tasks.get},"run_ms":${w.runMs.get},"cpu_ns":${w.cpuNs.get},""" +
        s""""gc_ms":${w.gcMs.get},"shuffle_write_bytes":${w.shuffleWriteBytes.get},""" +
        s""""spill_bytes":${w.spillBytes.get}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, out.toString)
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Trace {
  val TagKey = "perfbench.tag"
}
