package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments (see README.md). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    traced: Boolean,
    dataDir: String,
    workDir: String,
    pins: String,
    inject: String,
    pinOut: Option[String],
    cores: Option[Int])

object Args {
  val Injections = Set("none", "drop_batch", "wrong_result")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), need("pins"),
      m.getOrElse("inject", "none"), m.get("pin-out"), m.get("cores").map(_.toInt))
    require(Injections(a.inject), s"unknown --inject ${a.inject}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }
}

/** Percentiles over a sample, interpolated linearly between the two
  * nearest ranks (the median of an even-sized sample is the mean of its
  * two middle values). */
object Stats {
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q / 100.0 * (s.length - 1)
    val i = pos.toInt
    if (i + 1 >= s.length) s(i) else s(i) + (pos - i) * (s(i + 1) - s(i))
  }

  /** The highest whole percentile that leaves at least ten samples above
    * it, capped at 99. */
  def tailPercentile(n: Int): Double =
    math.min(99.0, math.floor(100.0 * (n - 10) / n)).max(50.0)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** State of one benchmark run: the session, the trace, the failure
  * accounting and the metrics to report. */
final class Run(val spark: SparkSession, val trace: Trace, val args: Args) {
  private val attempts = new java.util.concurrent.atomic.AtomicLong
  private val failures = mutable.ArrayBuffer.empty[(String, String)]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val context = mutable.LinkedHashMap.empty[String, String]

  def attempted: Long = attempts.get
  def failed: Long = synchronized(failures.length)
  def failureList: Seq[(String, String)] = synchronized(failures.toList)

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Count one operation. A throw is recorded as a failure under `name`
    * with its error class, and gives None. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempts.incrementAndGet()
    try Some(body)
    catch {
      case e: Exception =>
        fail(name, e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300))
        None
    }
  }

  /** Count one output check. */
  def check(name: String)(ok: Boolean, detail: => String): Boolean = {
    attempts.incrementAndGet()
    if (!ok) fail(name, "CheckFailed: " + detail)
    ok
  }

  /** Live heap after a full collection, in MiB: `heap_live_mb`. Called
    * by a workload at the end of its measured phase. */
  def measureHeap(): Unit = {
    // released caches unpersist asynchronously: let removals land first
    System.gc(); Thread.sleep(200); System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    metric("heap_live_mb", used / 1048576.0, "MiB")
  }

  def fail(name: String, why: String): Unit = synchronized {
    failures += name -> why
    System.err.println(s"[perfbench] FAILED $name: $why")
  }
}
