package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scale audit (r10 verdict item 4): the plan audits argue
  * "survives 100×" from shape — broadcast dims, map-side combine,
  * bounded windows; this main MEASURES it. The corpus is cloned k×
  * (k = 1/4/10 by default) with unique ids and structure-preserving
  * salts, the most expensive batch entries run at each k, and the
  * per-query log-log scaling exponent alpha ≈ ln(t_k10/t_k1)/ln(10)
  * lands in SCALEBENCH_r<N>.json. alpha ≈ 1 is linear (shape claims
  * hold); alpha ≫ 1 is the quadratic/straggler tail the plan audit
  * missed; alpha ≪ 1 means the query is still fixed-overhead-bound
  * at this SF (timings have a ~0.3-2 s planning floor).
  *
  * Clone semantics (why the exponent is meaningful):
  *  - facts (lineitem/orders) clone with offset order keys against
  *    FIXED dims — per-key fan-in grows k×, exactly the 100 TB
  *    direction; baskets/waits replicate linearly.
  *  - documents clone with offset doc_ids and a per-clone BIJECTIVE
  *    token rename: in-clone shingle/jaccard structure is preserved
  *    exactly, cross-clone shingle overlap is zero, so true near-dup
  *    pairs grow linearly in k.
  *  - embeddings clone with offset vec_ids and a per-clone SIGN-FLIP
  *    pattern: in-clone dot products are exactly preserved (s_j²=1,
  *    the dup/knn structure replicates k×) while cross-clone dots
  *    sign-randomize to ≈0 — the ideal linear-scaling corpus.
  */
object ScaleBench {

  /** The 10 most expensive batch entries of BENCH_r10 (plan-audit
    * sample of the verdict) — the queries whose scale posture is
    * worth a measurement.
    */
  val defaultTargets: Seq[String] = Seq(
    "q_text_prepare_semantic", "q_vec_neardup", "q_text_prepare",
    "q_vec_kcore", "q_waiting_suppliers", "q_profile_orders",
    "q_vec_modularity", "q_vec_cluster_reps", "q_vec_label_prop",
    "q_basket_lift")

  /** `SPARK_GRAFT_SCALE_TARGETS` (comma list) narrows a run to the
    * named entries — the dev loop for auditing ONE new operator's
    * exponent without re-running the whole battery;
    * `SPARK_GRAFT_SCALE_CACHES=0` skips the shared-cache builder
    * timing when no selected target consumes a family cache.
    */
  def targets: Seq[String] = sys.env.get("SPARK_GRAFT_SCALE_TARGETS")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(defaultTargets)

  private val ID_OFF = 100000000L

  /** Write the k-cloned tables of `sfDir` under `outDir` (only the
    * tables the target queries read).
    */
  def materialize(spark: SparkSession, sfDir: String, outDir: String,
      k: Int): Unit = {
    def clones(df: DataFrame, f: (DataFrame, Int) => DataFrame) =
      (0 until k).map(c => f(df, c)).reduce(_.unionByName(_))

    // dims stay fixed — the 100 TB direction is facts growing
    // against stable dimension tables
    for (t <- Seq("customer", "supplier", "nation", "region", "part"))
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    clones(orders, (df, c) => df.withColumn("o_orderkey",
        col("o_orderkey") + lit(c * ID_OFF)))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    clones(li, (df, c) => df.withColumn("l_orderkey",
        col("l_orderkey") + lit(c * ID_OFF)))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // per-clone BIJECTIVE token rename ("tok" -> "tok~c"): in-clone
    // shingle/jaccard structure is preserved exactly (token-set
    // bijection), cross-clone shingle overlap is zero. A plain text
    // suffix kept clones jaccard~1 near-dups of their originals —
    // every original formed a k-clique, pair counts grew k², and the
    // first k=10 run read 33x on jac_pairs from corpus construction,
    // not from the operator.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    clones(docs, (df, c) =>
        df.withColumn("doc_id", col("doc_id") + lit(c * ID_OFF))
          .withColumn("text",
            if (c == 0) col("text")
            else regexp_replace(col("text"), "(\\S+)", "$1~" + c)))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // events clone with offset event/user ids and the CALENDAR kept
    // fixed — the 100 TB direction for a feed is more events per
    // day, not more days; day/hour-rollup operators must absorb k×
    // rows into the same bounded calendar frame. Read through
    // Tables.events so the physical timestamp layout is normalized
    // before the clone write.
    val ev = graft.Tables.events(spark, sfDir)
    clones(ev, (df, c) => df
        .withColumn("event_id", col("event_id") + lit(c * ID_OFF))
        .withColumn("user_id", col("user_id") + lit(c * ID_OFF)))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // per-clone deterministic SIGN-FLIP pattern: with s_j ∈ {±1}
    // fixed per clone, in-clone dot products are EXACTLY preserved
    // (s_j² = 1 → the dup/knn structure replicates k× bit-for-bit)
    // while cross-clone dots become sign-randomized sums ≈ 0. The
    // first attempt ROTATED components instead — these embeddings
    // have high shift-autocorrelation, so rotated clones stayed
    // near-dups of their originals and pair counts grew k², feeding
    // >20-round dup chains at k=10.
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    clones(embs, (df, c) =>
        df.withColumn("vec_id", col("vec_id") + lit(c * ID_OFF))
          .withColumn("embedding",
            if (c == 0) col("embedding")
            else transform(col("embedding"), (x, i) =>
              when(pmod(xxhash64(lit(c), i), lit(2)) === 0, x)
                .otherwise(-x))))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val ks = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,10")
      .split(",").map(_.trim.toInt).toSeq
    val samples = sys.env.getOrElse("SPARK_GRAFT_SAMPLES", "2").toInt
    val work = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      "/tmp/graft_scalebench")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = LocalSession(cpus)
    spark.range(1000).selectExpr("sum(id)").collect()

    val queries = SparkEntry.queries
    // every (entry, k) cell keeps ALL its samples: the r11 artifact's
    // single-sample cache cells produced an inverted k4 > k10 row
    // (ivfpq_index 47.3 s > 10.7 s, host noise) that one more sample
    // would have exposed — the JSON now reports min AND median per
    // cell, alpha from the mins
    val times = scala.collection.mutable.Map
      .empty[(String, Int), Seq[Double]]
    // Host-factor probe (the Bench instrument, r17): a fixed
    // CPU-bound kernel timed best-of-3 per k-point, so batches merged
    // across days carry the host state their cells were measured
    // under — mixing host states into exponents is exactly the
    // failure mode the r17 fresh-JVM remeasure diagnosed. The quiet
    // floor on this host class is ~0.16 s (BENCH convention);
    // merge_scalebench injects the winning batch's probe per cell.
    def hostProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(500000000L)
        .selectExpr("sum(id * 3 + (id & 1023))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val probes = scala.collection.mutable.Map.empty[Int, Double]
    for (k <- ks) {
      val dir = s"$work/k$k"
      System.err.println(s"[scalebench] materializing k=$k at $dir")
      materialize(spark, sfDir, dir, k)
      probes(k) = (0 until 3).map(_ => hostProbe()).min
      System.err.println(
        f"[scalebench] host_probe(k=$k) ${probes(k)}%6.3fs")
      // SPARK_GRAFT_SCALE_CACHE_TARGETS (comma list of builder
      // names, e.g. "cache:text:jac_pairs") narrows the timed cache
      // builds the same way SCALE_TARGETS narrows queries — the dev
      // loop for auditing ONE cache's exponent (the k=20 pair-cache
      // root-cause run) without rebuilding every family per sample
      val cacheSel = sys.env.get("SPARK_GRAFT_SCALE_CACHE_TARGETS")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      val builders =
        if (sys.env.get("SPARK_GRAFT_SCALE_CACHES").contains("0"))
          Seq.empty
        else (ops.TextQueries.sharedCacheBuilders ++
          ops.VectorQueries.sharedCacheBuilders)
          .filter(b => cacheSel.forall(_.contains(b._1)))
      // shared family caches are timed as their own entries (their
      // build cost scales too and should be attributed once, not
      // folded into every consumer). SAMPLED like the targets: each
      // sample releases the families and rebuilds from cold (prewarm
      // refits the quantizer models outside the timed region, per
      // their offline-training contract); the final sample's caches
      // stay resident for the consumer queries below.
      for (s <- 0 until samples) {
        // fresh family caches per sample: a (family, dir)-keyed
        // cache would survive, but track()-ed per-run persists must
        // not pile across points
        Caches.releaseAll()
        ops.VectorQueries.prewarm(spark, dir)
        for ((name, fn) <- builders) {
          val t0 = System.nanoTime()
          try fn(spark, dir).count()
          catch { case e: Throwable =>
            System.err.println(s"[scalebench] $name k=$k: $e") }
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(
            f"[scalebench] $name%-26s k=$k%-3d $dt%8.2fs (cache s$s)")
          times((name, k)) = times.getOrElse((name, k), Nil) :+ dt
        }
      }
      for (name <- targets) {
        val fn = queries(name)
        // r19 measurement fix (same as Bench's retime fix): later
        // samples used to run against the previous sample's
        // still-registered session memos, so a min()-kept sample-2
        // could be a cache-warmed artifact (the r18 ScaleBench ran
        // single-sample cells to dodge this). Release ONLY what the
        // entry itself registered since the snapshot, keeping the
        // sample-0 conditions (shared prewarm) for every sample.
        val preSnap = Caches.snapshot()
        val runs = (0 until samples).map { s =>
          if (s > 0) Caches.releaseNewSince(preSnap)
          val t0 = System.nanoTime()
          val n = try fn(spark, dir).count()
            catch { case e: Throwable =>
              System.err.println(s"[scalebench] $name k=$k: $e"); -1L }
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(
            f"[scalebench] $name%-26s k=$k%-3d $dt%8.2fs rows=$n s$s")
          if (n < 0) Double.MaxValue else dt
        }
        times((name, k)) = runs
        System.gc()
      }
      Caches.releaseAll()
    }
    def r3(v: Double) = math.round(v * 1000) / 1000.0
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val kLo = ks.min
    val kHi = ks.max
    val cacheSelR = sys.env.get("SPARK_GRAFT_SCALE_CACHE_TARGETS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val reported = targets ++
      (if (sys.env.get("SPARK_GRAFT_SCALE_CACHES").contains("0"))
        Seq.empty
      else (ops.TextQueries.sharedCacheBuilders ++
        ops.VectorQueries.sharedCacheBuilders).map(_._1)
        .filter(n => cacheSelR.forall(_.contains(n))))
    val perQuery = reported.map { name =>
      val ts = ks.map { k =>
        val cell = times((name, k))
        s""""k$k":${r3(cell.min)},"k${k}_med":${r3(median(cell))}"""
      }.mkString(",")
      val alpha =
        math.log(times((name, kHi)).min / times((name, kLo)).min) /
          math.log(kHi.toDouble / kLo)
      s""""$name":{$ts,"samples":$samples,"alpha":${r3(alpha)}}"""
    }.mkString("{", ",", "}")
    val probeJson = ks.map(k => s""""k$k":${r3(probes(k))}""")
      .mkString("{", ",", "}")
    val line = s"""{"metric":"scale_exponent","sf":"$sfDir","scales":[${
      ks.mkString(",")}],"probes":$probeJson,"queries":$perQuery}"""
    // default OUTSIDE the repo: an unset env var must never clobber a
    // committed per-round artifact (SCALEBENCH_r12.json learned this
    // the hard way) — merging a batch into SCALEBENCH_r<N>.json is a
    // deliberate act, not a side effect
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_SCALEBENCH_OUT", "/tmp/scalebench_last.json")),
      line + "\n")
    println(line)
    spark.stop()
  }
}
