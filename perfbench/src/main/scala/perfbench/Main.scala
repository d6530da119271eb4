package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (see README.md). Prints a JSON line
  * of context and, last, a JSON line of every metric it measured with
  * its unit, the operation counts and whether every output check held.
  */
object Main {
  /** Shuffle partitions and default parallelism, fixed so that result
    * digests do not depend on the host's core count. */
  val Partitions = 8

  def session(master: String, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.default.parallelism", Partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The same CPU-bound kernel as `graft.Bench`'s host probe, one sample.
    * Context only: never used to scale a metric. */
  def hostProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(500000000L).selectExpr("sum(id * 3 + (id & 1023))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit =
    try run(Args.parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        // streaming and Spark threads must not keep a failed run alive
        sys.exit(1)
    }

  def run(a: Args): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = a.cores.getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = session(s"local[$cores]", a.workDir)
    val trace = new Trace(spark.sparkContext, a.traced)
    val r = new Run(spark, trace, a)
    r.context("session_ready_s") = Json.num((System.currentTimeMillis() - jvmStartMs) / 1000.0)
    val markSetupDone = () =>
      r.metric("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0, "s")
    r.context("workload") = a.workload
    r.context("seed") = a.seed.toString
    r.context("seconds") = a.seconds.toString
    r.context("nproc") = cores.toString

    a.workload match {
      case "ods_stream" => OdsStream.run(r, markSetupDone)
      case "dedup_pipeline" => BatchWorkloads.run(r, BatchWorkloads.dedupEntries, markSetupDone)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    r.context("host_probe_s") = Json.num(hostProbe(spark))
    if (trace.enabled) {
      if (a.workload != "ods_stream") BatchWorkloads.tablesOpen(r)
      trace.write(java.nio.file.Paths.get(a.workDir, "trace.jsonl"))
      trace.close()
    }
    spark.stop()
    if (trace.enabled && a.workload == "ods_stream") {
      val single = session("local[1]", a.workDir)
      try OdsStream.singleThreadBaseline(r, single) finally single.stop()
    }

    println(Json.obj(Seq(
      "context" -> Json.obj(r.context.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "failures" -> r.failureList
        .map { case (n, why) => Json.obj(Seq("name" -> Json.str(n), "error" -> Json.str(why))) }
        .mkString("[", ",", "]"))))
    println(Json.obj(Seq(
      "correct" -> (r.failed == 0).toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.obj(r.metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }
}
