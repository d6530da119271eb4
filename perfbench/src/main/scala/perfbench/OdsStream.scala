package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming.{CdcPipeline, LogPipeline}

/** Workload `ods_stream`: the paper's two apps, log demux (ODS to DWD)
  * and Maxwell CDC routing with dim upserts, on one session.
  *
  * Each app reads a [[Source]] with a fixed partition count and triggers
  * as soon as the previous micro-batch ends. A seeded generator first
  * feeds both apps at once in an open loop, each at a constant event
  * rate, as the two apps run side by side when deployed. Then each app in
  * turn drains a fixed backlog in fixed-size micro-batches (closed loop).
  */
object OdsStream {
  val Partitions = 4
  /** Open-loop event rate per app. Together the two rates are about a
    * third of what both apps drain when they catch up at the same time
    * on the same cores (`streaming.open_load_share` in a traced run; see
    * README.md). */
  val LogRate = 3000
  val CdcRate = 3000
  val WarmEvents = 2000
  val CatchupBatch = 10000
  val CatchupBatches = 4
  /** Share of `--seconds` the open loop runs; the two catch-up backlogs
    * take most of the rest at parent speed. */
  val OpenShare = 0.5

  /** Per topic: (rows, sum of the low 32 bits of each row's hash, xor of
    * the hashes), an order-independent digest of the topic's rows. */
  type Digest = Map[String, (Long, Long, Long)]

  def digest(topicValues: DataFrame): Digest =
    topicValues
      .select(col("topic"), xxhash64(col("value")).as("h"))
      .groupBy("topic")
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), expr("bit_xor(h)"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  def merge(a: Digest, b: Digest): Digest =
    (a.keySet ++ b.keySet).map { k =>
      val (c1, s1, x1) = a.getOrElse(k, (0L, 0L, 0L))
      val (c2, s2, x2) = b.getOrElse(k, (0L, 0L, 0L))
      k -> ((c1 + c2, s1 + s2, x1 ^ x2))
    }.toMap

  /** Per-batch record from a progress event. */
  final case class Batch(phase: String, durations: Map[String, Long], rows: Long)

  /** One app: its source, its query, and what its sink has seen. */
  final class App(val name: String, val source: Source) {
    @volatile var phase = "warm"
    @volatile var query: StreamingQuery = _
    val latenciesMs = new ConcurrentLinkedQueue[Double]()
    val batches = new ConcurrentLinkedQueue[Batch]()
    val failedBatches = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    @volatile var digest: Digest = Map.empty
    @volatile var rowsOut = 0L
    @volatile var backlogMax = 0L
    var catchupS = 0.0
    var timedEvents = 0L

    def onProgress(p: StreamingQueryProgress, nowNs: Long): Unit = {
      val dues = source.commit(p)
      batches.add(Batch(phase,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
      if (!failedBatches.contains(p.batchId))
        dues.foreach(d => latenciesMs.add((nowNs - d) / 1e6))
    }

    def awaitCommitted(): Unit = {
      query.processAllAvailable()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!source.allCommitted && System.nanoTime() < deadline) Thread.sleep(2)
      require(source.allCommitted, s"$name: progress events missing after processAllAvailable")
    }

    def latencies: Seq[Double] = latenciesMs.asScala.toSeq
    def batchesIn(ph: String): Seq[Batch] = batches.asScala.filter(_.phase == ph).toSeq
  }

  final class Inputs(seed: Long, openSeconds: Double, catchupBatches: Int, sharedBatches: Int = 0) {
    val logGen = new LogGen(seed, Partitions)
    val cdcGen = new CdcGen(seed ^ 0x5deece66dL, Partitions)
    private def take(g: () => Line, n: Int) = Vector.fill(n)(g())
    val logWarm = take(logGen.next _, WarmEvents)
    val logOpen = take(logGen.next _, (LogRate * openSeconds).toInt)
    val logCatchup = take(logGen.next _, CatchupBatch * catchupBatches)
    val cdcWarm = take(cdcGen.next _, WarmEvents)
    val cdcOpen = take(cdcGen.next _, (CdcRate * openSeconds).toInt)
    val cdcCatchup = take(cdcGen.next _, CatchupBatch * catchupBatches)
    // drawn after the timed phases, so neither set-up nor the heap
    // measurement pays for them
    lazy val logShared = take(logGen.next _, CatchupBatch * sharedBatches)
    lazy val cdcShared = take(cdcGen.next _, CatchupBatch * sharedBatches)
    def logAll: Seq[Line] = logWarm ++ logOpen ++ logCatchup ++ logShared
    def cdcAll: Seq[Line] = cdcWarm ++ cdcOpen ++ cdcCatchup ++ cdcShared
  }

  /** Generator lateness: how long after its due time each event was
    * handed to the source. Context only. */
  private val lateness = mutable.ArrayBuffer.empty[Double]

  /** Feed each app its lines at its rate (events per second) on a fixed
    * schedule that does not wait for the apps, then wait until every
    * event committed. */
  def openLoop(feeds: Seq[(App, Seq[Line], Int)]): Unit = {
    feeds.foreach(_._1.phase = "open")
    val t0 = System.nanoTime() + 1000000L
    val next = Array.fill(feeds.length)(0)
    while (feeds.indices.exists(f => next(f) < feeds(f)._2.length)) {
      val now = System.nanoTime()
      var idle = true
      feeds.zipWithIndex.foreach { case ((app, lines, rate), f) =>
        val periodNs = 1e9 / rate
        val i = next(f)
        val due = math.min(lines.length, math.floor((now - t0) / periodNs).toInt + 1)
        if (due > i) {
          idle = false
          val dues = Array.tabulate(due - i)(k => t0 + ((i + k) * periodNs).toLong)
          app.source.add(lines.slice(i, due), dues)
          val added = System.nanoTime()
          dues.foreach(d => lateness += (added - d) / 1e6)
          next(f) = due
          app.backlogMax = math.max(app.backlogMax, app.source.backlog)
        }
      }
      if (idle) Thread.sleep(0, 200000)
    }
    feeds.foreach { case (app, lines, _) =>
      app.awaitCommitted()
      app.timedEvents += lines.length
    }
  }

  /** Drain `lines` in micro-batches of [[CatchupBatch]] events, one at a
    * time (closed loop). Returns the elapsed seconds. */
  def catchup(app: App, lines: Seq[Line], phase: String = "catchup"): Double = {
    app.phase = phase
    val t0 = System.nanoTime()
    lines.grouped(CatchupBatch).foreach { chunk =>
      app.source.add(chunk, null)
      app.awaitCommitted()
    }
    if (phase == "catchup") app.timedEvents += lines.length
    (System.nanoTime() - t0) / 1e9
  }

  /** Both apps drain a backlog at the same time, each from its own
    * thread: the capacity of the cores the two apps share in the open
    * loop. Returns both apps' events per second together. */
  def sharedCatchup(feeds: Seq[(App, Seq[Line])]): Double = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val t0 = System.nanoTime()
    val threads = feeds.map { case (app, lines) =>
      val t = new Thread(() =>
        try { catchup(app, lines, "shared"); () }
        catch { case e: Throwable => errors.add(e); () })
      t.start()
      t
    }
    threads.foreach(_.join())
    val s = (System.nanoTime() - t0) / 1e9
    Option(errors.peek()).foreach(e => throw e)
    feeds.map(_._2.length).sum / s
  }

  private def listen(spark: SparkSession, apps: Seq[App]): StreamingQueryListener = {
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val now = System.nanoTime()
        apps.find(a => a.query != null && a.query.id == e.progress.id)
          .foreach(_.onProgress(e.progress, now))
      }
    }
    spark.streams.addListener(l)
    l
  }

  private def checkpoint(r: Run, name: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(r.args.workDir), s"ckpt-$name-").toString

  /** Lines as a batch `value` column, in generator order. */
  def lines(spark: SparkSession, ls: Seq[Line]): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(ls.map(_.value), Main.Partitions))(
      Encoders.STRING).toDF("value")

  def routing(spark: SparkSession): DataFrame =
    spark.createDataFrame(CdcGen.routing).toDF("table_name", "kind")

  def startLog(r: Run, app: App, sink: (DataFrame, Long) => Unit): Unit =
    app.query = LogPipeline.demuxToTopicValue(app.source.df)
      .writeStream
      .queryName("ods_log")
      .foreachBatch(sink)
      .option("checkpointLocation", checkpoint(r, "log"))
      .trigger(Trigger.ProcessingTime(0L))
      .start()

  def startCdc(r: Run, app: App, sink: (DataFrame, Long) => Unit): Unit =
    app.query = app.source.df
      .writeStream
      .queryName("ods_cdc")
      .foreachBatch(sink)
      .option("checkpointLocation", checkpoint(r, "cdc"))
      .trigger(Trigger.ProcessingTime(0L))
      .start()

  def run(r: Run, markSetupDone: () => Unit): Unit = {
    val spark = r.spark
    val trace = r.trace
    val openSeconds = r.args.seconds * OpenShare
    val t0 = System.nanoTime()
    val in = new Inputs(r.args.seed, openSeconds, CatchupBatches,
      if (trace.enabled) CatchupBatches else 0)
    LogGen.properties.foreach { case (k, v) => r.context(s"log.$k") = v }
    CdcGen.properties.foreach { case (k, v) => r.context(s"cdc.$k") = v }
    Seq("rate_eps" -> LogRate, "open_events" -> in.logOpen.length,
      "catchup_batch" -> CatchupBatch, "catchup_batches" -> CatchupBatches)
      .foreach { case (k, v) => r.context(s"log.$k") = v.toString }
    Seq("rate_eps" -> CdcRate, "open_events" -> in.cdcOpen.length)
      .foreach { case (k, v) => r.context(s"cdc.$k") = v.toString }
    r.context("partitions") = Partitions.toString

    r.context("inputs_s") = Json.num((System.nanoTime() - t0) / 1e9)
    val log = new App("log", new Source(spark, Partitions))
    val cdc = new App("cdc", new Source(spark, Partitions))
    val listener = listen(spark, Seq(log, cdc))
    val routes = routing(spark)

    var droppedOne = false
    val logSink = (batch: DataFrame, id: Long) => {
      val phase = log.phase
      r.op(s"log_batch_$id") {
        trace.tagged(s"stream:log:$phase") {
          trace.span(s"log:$phase:$id", "demux_sink") {
            if (r.args.inject == "drop_batch" && phase == "open" && !droppedOne) {
              droppedOne = true
            } else {
              val d = digest(batch)
              log.digest = merge(log.digest, d)
              log.rowsOut += d.values.map(_._1).sum
            }
          }
        }
      }.getOrElse(log.failedBatches.add(id))
      ()
    }
    val dims = mutable.Map.empty[(String, String), Map[String, String]]
    var dimRowsWritten = 0L
    var corrupted = false
    val cdcSink = (batch: DataFrame, id: Long) => {
      val phase = cdc.phase
      val group = s"cdc:$phase:$id"
      r.op(s"cdc_batch_$id") {
        trace.tagged(s"stream:cdc:$phase") {
          trace.span(group, "process_batch") {
            CdcPipeline.processBatch(batch, routes,
              facts => trace.tagged(s"stream:cdc:$phase:fact_sink") {
                trace.span(group, "fact_sink") {
                  cdc.digest = merge(cdc.digest, digest(facts))
                }
              },
              rows => trace.tagged(s"stream:cdc:$phase:dim_sink") {
                trace.span(group, "dim_sink") {
                  rows.select(col("table"), col("data")).collect().foreach { row =>
                    var data = row.getMap[String, String](1).toMap
                    if (r.args.inject == "wrong_result" && !corrupted) {
                      corrupted = true
                      data = data.updated("name", "wrong")
                    }
                    dims((row.getString(0), data("id"))) = data
                    dimRowsWritten += 1
                  }
                }
              })
          }
        }
      }.getOrElse(cdc.failedBatches.add(id))
      ()
    }

    trace.tagged("stream:log:warm")(startLog(r, log, logSink))
    trace.tagged("stream:cdc:warm")(startCdc(r, cdc, cdcSink))
    val t1 = System.nanoTime()
    log.source.add(in.logWarm, null)
    cdc.source.add(in.cdcWarm, null)
    log.awaitCommitted()
    cdc.awaitCommitted()
    r.context("warm_batch_s") = Json.num((System.nanoTime() - t1) / 1e9)
    markSetupDone()

    openLoop(Seq((log, in.logOpen, LogRate), (cdc, in.cdcOpen, CdcRate)))
    log.catchupS = catchup(log, in.logCatchup)
    cdc.catchupS = catchup(cdc, in.cdcCatchup)
    r.measureHeap()
    val sharedEps = if (trace.enabled) sharedCatchup(Seq(log -> in.logShared, cdc -> in.cdcShared)) else 0.0
    log.query.stop()
    cdc.query.stop()
    spark.streams.removeListener(listener)

    // end-to-end metrics: each app's open-loop latency percentiles,
    // averaged over the two apps so that neither app's shift is hidden
    // in the gap between their distributions
    val apps = Seq(log.latencies, cdc.latencies)
    val tailQ = Stats.tailPercentile(apps.map(_.length).min)
    r.metric("p50_ms", Stats.mean(apps.map(Stats.percentile(_, 50))), "ms")
    r.metric("tail_ms", Stats.mean(apps.map(Stats.percentile(_, tailQ))), "ms")
    r.metric("total_s", log.catchupS + cdc.catchupS, "s")
    r.context("samples") = apps.map(_.length).mkString(",")
    r.context("tail_percentile") = Json.num(tailQ)
    r.context("generator_late_p99_ms") = Json.num(Stats.percentile(lateness.toSeq, 99))
    r.context("generator_late_max_ms") = Json.num(lateness.max)

    // output checks, independent of the program under test
    val tc = System.nanoTime()
    val logExpected = LogGen.Topics.zip(in.logGen.expected).toMap
    r.check("log_topic_counts")(
      LogGen.Topics.forall(t => log.digest.get(t).map(_._1).getOrElse(0L) == logExpected(t)),
      s"stream ${log.digest.map { case (t, d) => t -> d._1 }} vs generator $logExpected")
    val logRef = digest(LogPipeline.demuxToTopicValue(lines(spark, in.logAll)))
    r.check("log_topic_checksums")(log.digest == logRef,
      s"stream ${log.digest} vs batch $logRef")
    val factExpected = in.cdcGen.expectedFacts.toMap
    r.check("cdc_fact_counts")(
      cdc.digest.map { case (t, d) => t -> d._1 } == factExpected,
      s"stream ${cdc.digest.map { case (t, d) => t -> d._1 }} vs generator $factExpected")
    var refDigest: Digest = Map.empty
    CdcPipeline.processBatch(lines(spark, in.cdcAll), routes,
      facts => refDigest = digest(facts), _ => ())
    r.check("cdc_fact_checksums")(cdc.digest == refDigest,
      s"stream ${cdc.digest} vs batch $refDigest")
    val dimExpected = in.cdcGen.expectedDims
    val dimDiff = (dims.keySet ++ dimExpected.keySet).filter(k => dims.get(k) != dimExpected.get(k))
    r.check("cdc_dim_store")(dimDiff.isEmpty,
      s"${dimDiff.size} keys differ from the generator's last write, e.g. ${dimDiff.take(3)}")
    r.context("checks_s") = Json.num((System.nanoTime() - tc) / 1e9)

    if (trace.enabled) {
      for (app <- Seq(log, cdc)) {
        val open = app.batchesIn("open")
        def avg(k: String) = Stats.mean(open.map(_.durations.getOrElse(k, 0L).toDouble))
        val p = s"streaming.${app.name}"
        r.metric(s"$p.trigger_ms", avg("triggerExecution"), "ms")
        r.metric(s"$p.add_batch_ms", avg("addBatch"), "ms")
        r.metric(s"$p.query_planning_ms", avg("queryPlanning"), "ms")
        r.metric(s"$p.wal_commit_ms", avg("walCommit"), "ms")
        r.metric(s"$p.commit_offsets_ms", avg("commitOffsets"), "ms")
        r.metric(s"$p.rows_per_batch", Stats.mean(open.map(_.rows.toDouble)), "count")
        r.metric(s"$p.batches", open.length, "count")
        r.metric(s"$p.backlog_max_events", app.backlogMax.toDouble, "count")
        r.metric(s"$p.p50_ms", Stats.percentile(app.latencies, 50), "ms")
        r.metric(s"$p.p99_ms", Stats.percentile(app.latencies, 99), "ms")
        r.metric(s"$p.catchup_eps", CatchupBatch * CatchupBatches / app.catchupS, "1/s")
      }
      // timed phases only: the warm batch is set-up
      def timed(prefix: String)(t: String) =
        t.startsWith(s"$prefix:open") || t.startsWith(s"$prefix:catchup")
      val spans = trace.allSpans
      def spanMs(app: String, name: String) = Stats.mean(spans
        .filter(s => s.name == name && timed(app)(s.group))
        .map(s => (s.endNs - s.startNs) / 1e6))
      val logWork = trace.workWhere(timed("stream:log"))
      r.metric("demux.task_cpu_ms_per_kev", logWork.cpuNs.get / 1e6 / (log.timedEvents / 1000.0), "ms")
      r.metric("demux.rows_out_per_event", log.rowsOut.toDouble / in.logAll.length, "count")
      r.metric("demux.sink_ms", spanMs("log", "demux_sink"), "ms")
      val cdcWork = trace.workWhere(timed("stream:cdc"))
      val cdcBatches = math.max(1, cdc.batches.asScala.count(b => b.phase == "open" || b.phase == "catchup"))
      r.metric("cdc.process_batch_ms", spanMs("cdc", "process_batch"), "ms")
      r.metric("cdc.fact_sink_ms", spanMs("cdc", "fact_sink"), "ms")
      r.metric("cdc.dim_sink_ms", spanMs("cdc", "dim_sink"), "ms")
      r.metric("cdc.jobs_per_batch", cdcWork.jobs.get.toDouble / cdcBatches, "count")
      r.metric("cdc.tasks_per_batch", cdcWork.tasks.get.toDouble / cdcBatches, "count")
      r.metric("cdc.shuffle_write_kb_per_batch", cdcWork.shuffleWriteBytes.get / 1024.0 / cdcBatches, "KiB")
      r.metric("cdc.lww_ratio", dimRowsWritten.toDouble / in.cdcGen.dimRowsIn, "ratio")
      r.metric("cdc.dim_store_keys", dims.size, "count")
      r.metric("streaming.shared_catchup_eps", sharedEps, "1/s")
      r.metric("streaming.open_load_share", (LogRate + CdcRate) / sharedEps, "ratio")
    }
  }

  /** Catch-up throughput of both apps on a fresh single-threaded
    * session: how much the parallel run gains over one core. */
  def singleThreadBaseline(r: Run, spark: SparkSession): Unit = {
    val in = new Inputs(r.args.seed + 1, 0, CatchupBatches)
    val routes = routing(spark)
    val log = new App("log", new Source(spark, Partitions))
    val cdc = new App("cdc", new Source(spark, Partitions))
    val listener = listen(spark, Seq(log, cdc))
    var logRows = 0L
    var factRows = 0L
    startLog(r, log, (b: DataFrame, _: Long) => { logRows += b.count(); () })
    startCdc(r, cdc, (b: DataFrame, _: Long) =>
      CdcPipeline.processBatch(b, routes, f => factRows += f.count(), d => { d.collect(); () }))
    log.source.add(in.logWarm, null)
    cdc.source.add(in.cdcWarm, null)
    log.awaitCommitted()
    cdc.awaitCommitted()
    val n = CatchupBatch * CatchupBatches
    val logS = catchup(log, in.logCatchup)
    val cdcS = catchup(cdc, in.cdcCatchup)
    log.query.stop()
    cdc.query.stop()
    spark.streams.removeListener(listener)
    val logExpected = in.logGen.expected.sum
    val factExpected = in.cdcGen.expectedFacts.values.sum
    r.check("baseline_log_rows")(logRows == logExpected, s"$logRows rows, generator expects $logExpected")
    r.check("baseline_cdc_fact_rows")(factRows == factExpected,
      s"$factRows fact rows, generator expects $factExpected")
    r.metric("baseline_local1.log_catchup_eps", n / logS, "1/s")
    r.metric("baseline_local1.cdc_catchup_eps", n / cdcS, "1/s")
  }
}
