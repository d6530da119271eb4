package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Caches, SparkEntry, Tables}

/** Workload `dedup_pipeline`: registered entries run one at a time
  * (closed loop, one client) on the vendored read-only tables. Each entry
  * is timed in three parts: the registered function call (construction,
  * including any eager jobs), physical planning, and the action. The
  * action reads every column of the result into an order-independent
  * digest that is checked against a pin.
  */
object BatchWorkloads {
  type Q = (SparkSession, String) => DataFrame

  final case class Entry(name: String, family: String, fn: Q)

  def family(name: String): String =
    if (name.startsWith("cache:")) name.split(":")(1)
    else name.split("_").lift(1).getOrElse("")

  /** The dedup path: the cluster-survivor capstone, four of the
    * size-gated operators (dup clusters, PPR, k-core, link prediction)
    * and the part-catalog entity resolution (`ops.Affinity`). */
  val DedupQueries: Seq[String] = Seq(
    "q_text_cluster_survivors", "q_text_dup_clusters",
    "q_vec_ppr", "q_vec_kcore", "q_vec_link_pred",
    "q_part_entity_resolution")
  /** The shared-cache builders those queries read. */
  val DedupCaches: Set[String] = Set(
    "cache:text:jac_pairs", "cache:text:dup_clusters", "cache:vec:knn_graph",
    "cache:part:fuzzy_pairs")
  val Families: Seq[String] = Seq("part", "text", "vec")

  /** Family by family in name order, as `graft.Bench` runs them: the
    * family's cache builders first, then its queries. */
  def dedupEntries: Seq[Entry] = {
    val builders = graft.ops.TextQueries.sharedCacheBuilders ++
      graft.ops.VectorQueries.sharedCacheBuilders ++
      graft.ops.AffinityQueries.sharedCacheBuilders
    val qs = SparkEntry.queries
    DedupQueries.groupBy(family).toSeq.sortBy(_._1).flatMap { case (fam, names) =>
      builders.collect { case (n, f) if DedupCaches(n) && family(n) == fam => Entry(n, fam, f) } ++
        names.sorted.map(n => Entry(n, fam, qs(n)))
    }
  }

  /** Canonical form of a result column for the digest: columns in name
    * order, doubles to 10 significant digits so that float summation
    * order does not change the digest. */
  private def canonical(df: DataFrame): Seq[Column] =
    df.schema.fields.sortBy(_.name).toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType =>
          format_string("%.9e", col(s"`${f.name}`").cast(DoubleType))
        // hash expressions reject maps
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }

  /** One row: (rows, sum of low hash words, xor of hashes). */
  def digestOf(df: DataFrame): DataFrame =
    df.select(xxhash64(canonical(df): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(expr("bit_xor(h)"), lit(0L)))

  final case class Timing(constructS: Double, planS: Double, executeS: Double) {
    def wallS: Double = constructS + planS + executeS
  }

  final case class Outcome(entry: Entry, rows: Long, hash: String, timing: Timing)

  /** Trace tag of an entry's phase; entry names may contain ':'. */
  private def tag(e: Entry, phase: String) = s"entry|${e.family}|${e.name}|$phase"

  /** Run one entry; None when it threw (recorded as a failure). With
    * `corrupt`, the result gets one duplicated row: a wrong result the
    * pin check must catch. */
  def runEntry(r: Run, e: Entry, dir: String, corrupt: Boolean): Option[Outcome] = {
    val trace = r.trace
    r.op(e.name) {
      val t0 = System.nanoTime()
      val df0 = trace.tagged(tag(e, "construct"))(trace.span(e.name, "construct")(e.fn(r.spark, dir)))
      val df = if (corrupt) df0.union(df0.limit(1)) else df0
      val t1 = System.nanoTime()
      val d = digestOf(df)
      trace.tagged(tag(e, "plan"))(trace.span(e.name, "plan")(d.queryExecution.executedPlan))
      val t2 = System.nanoTime()
      val row = trace.tagged(tag(e, "execute"))(trace.span(e.name, "execute")(d.collect()(0)))
      val t3 = System.nanoTime()
      Outcome(e, row.getLong(0), s"${row.getLong(1)}:${row.getLong(2)}",
        Timing((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9))
    }
  }

  /** Pins: entry name -> (rows, hash or null when the hash does not
    * repeat run to run). */
  def readPins(path: String): Map[String, (Long, Option[String])] = {
    val entry = """"([^"]+)":\s*\{"rows":\s*(-?\d+),\s*"hash":\s*(null|"[^"]*")\}""".r
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    entry.findAllMatchIn(text).map { m =>
      m.group(1) -> ((m.group(2).toLong,
        if (m.group(3) == "null") None else Some(m.group(3).stripPrefix("\"").stripSuffix("\""))))
    }.toMap
  }

  /** Observed row counts and digests, in the pins format (`pin.py`
    * merges several of these into the pins). */
  def writePins(path: String, outcomes: Seq[Outcome]): Unit = {
    val lines = outcomes.sortBy(_.entry.name).map { o =>
      s"""  ${Json.str(o.entry.name)}: {"rows": ${o.rows}, "hash": ${Json.str(o.hash)}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("{\n", ",\n", "\n}\n"))
  }

  /** Storage used by persisted blocks, in MiB. */
  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def run(r: Run, entries: Seq[Entry], markSetupDone: () => Unit): Unit = {
    val spark = r.spark
    val trace = r.trace
    val dir = r.args.dataDir
    r.context("entries") = entries.length.toString
    r.context("data") = "sf0.01"
    // warm the session (codegen, parquet reader, shuffle, the JIT) outside
    // timing: run each family's first entry once, then drop its caches
    val t0 = System.nanoTime()
    entries.groupBy(_.family).values.map(_.head).foreach(e => digestOf(e.fn(spark, dir)).collect())
    Caches.releaseAll()
    r.context("warm_s") = Json.num((System.nanoTime() - t0) / 1e9)
    markSetupDone()

    val pins = if (r.args.pinOut.isDefined) Map.empty[String, (Long, Option[String])]
      else readPins(r.args.pins)
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    val passed = mutable.ArrayBuffer.empty[Outcome]
    var entriesPeak = 0
    var storagePeak = 0.0
    entries.zipWithIndex.foreach { case (e, i) =>
      runEntry(r, e, dir, corrupt = r.args.inject == "wrong_result" && i == 0).foreach { o =>
        System.err.println(f"[perfbench] ${e.name}%-36s ${o.timing.wallS}%7.3f s  rows=${o.rows}")
        outcomes += o
        val ok = r.args.pinOut.isDefined || (pins.get(e.name) match {
          case None => r.check(s"${e.name}_pin")(false, "no pin for this entry")
          case Some((rows, hash)) =>
            r.check(s"${e.name}_pin")(rows == o.rows && hash.forall(_ == o.hash),
              s"rows ${o.rows} hash ${o.hash}, pinned rows $rows hash ${hash.getOrElse("(rows only)")}")
        })
        if (ok) passed += o
      }
      entriesPeak = math.max(entriesPeak, Caches.snapshot().size)
      if (trace.enabled) storagePeak = math.max(storagePeak, storageMb(spark))
      if (i + 1 == entries.length) r.measureHeap()
      if (i + 1 == entries.length || entries(i + 1).family != e.family) Caches.release(e.family)
    }
    Caches.releaseAll()
    r.args.pinOut.foreach(p => writePins(p, outcomes.toSeq))

    val walls = passed.map(_.timing.wallS * 1000).toSeq
    if (walls.nonEmpty) {
      val tailQ = Stats.tailPercentile(walls.length).max(90)
      r.metric("total_s", walls.sum / 1000, "s")
      r.metric("p50_ms", Stats.percentile(walls, 50), "ms")
      r.metric("tail_ms", Stats.percentile(walls, tailQ), "ms")
      r.context("samples") = walls.length.toString
      r.context("tail_percentile") = Json.num(tailQ)
    }

    if (trace.enabled) {
      def layer(prefix: String, os: Seq[Outcome]): Unit = {
        val names = os.map(_.entry.name).toSet
        def w(phase: String) = trace.workWhere { t =>
          val parts = t.split('|')
          parts.length == 4 && parts(0) == "entry" && names(parts(2)) &&
            (phase == "*" || parts(3) == phase)
        }
        val all = w("*")
        val eager = w("construct")
        val wall = os.map(_.timing.wallS).sum
        r.metric(s"$prefix.construct_s", os.map(_.timing.constructS).sum, "s")
        r.metric(s"$prefix.plan_s", os.map(_.timing.planS).sum, "s")
        r.metric(s"$prefix.execute_s", os.map(_.timing.executeS).sum, "s")
        r.metric(s"$prefix.eager_jobs", eager.jobs.get.toDouble, "count")
        r.metric(s"$prefix.jobs", (all.jobs.get - eager.jobs.get).toDouble, "count")
        r.metric(s"$prefix.tasks", all.tasks.get.toDouble, "count")
        r.metric(s"$prefix.task_cpu_s", all.cpuNs.get / 1e9, "s")
        r.metric(s"$prefix.cores_busy", if (wall > 0) all.runMs.get / 1000.0 / wall else 0.0, "cores")
        r.metric(s"$prefix.shuffle_write_mb", all.shuffleWriteBytes.get / 1048576.0, "MiB")
        r.metric(s"$prefix.spill_mb", all.spillBytes.get / 1048576.0, "MiB")
        r.metric(s"$prefix.gc_s", all.gcMs.get / 1000.0, "s")
      }
      val os = passed.toSeq
      layer("query", os)
      Families.foreach(f => layer(s"query.$f", os.filter(_.entry.family == f)))
      r.metric("caches.build_s", os.filter(_.entry.name.startsWith("cache:")).map(_.timing.wallS).sum, "s")
      r.metric("caches.entries_peak", entriesPeak, "count")
      r.metric("caches.storage_mb_peak", storagePeak, "MiB")
    }
  }

  /** Time each `Tables` open the workload uses on its own, and count the
    * jobs it starts. */
  def tablesOpen(r: Run): Unit = {
    val s = r.spark
    val d = r.args.dataDir
    val opens: Seq[(String, () => DataFrame)] = Seq(
      "documents" -> (() => Tables.documents(s, d)), "embeddings" -> (() => Tables.embeddings(s, d)),
      "part" -> (() => Tables.part(s, d)))
    val ms = opens.map { case (n, open) =>
      val t0 = System.nanoTime()
      r.trace.tagged(s"tables:$n")(r.trace.span(s"tables:$n", "open")(open()))
      (System.nanoTime() - t0) / 1e6
    }
    val jobs = r.trace.workWhere(_.startsWith("tables:")).jobs.get
    r.metric("tables.open_ms", Stats.mean(ms), "ms")
    r.metric("tables.jobs_per_open", jobs.toDouble / opens.length, "count")
  }
}
