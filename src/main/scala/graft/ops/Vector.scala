package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`, dim 64)
  * — north-star operators.
  *
  * Design for scale:
  *  - all per-vector math (dot, norm, cosine) is higher-order-function
  *    column expressions evaluated in the scan stage — no explode, no
  *    shuffle, no UDF;
  *  - brute-force top-k = one map stage + TakeOrdered (the correct
  *    baseline when the query set is small);
  *  - the scale path is random-hyperplane LSH bucketing: candidates
  *    shuffle once on the bucket key, then per-bucket ranking — the
  *    same banding shape as MinHash dedup (Text.minhashCandidates).
  *
  * Exact-decimal accumulation (`decDot`) keeps results bitwise
  * reproducible across partitionings — required by the oracle and a
  * property worth having at 100 TB anyway.
  */
object Vector {

  /** Elementwise product sum as a sequential double fold in list
    * order. Per-vector math never crosses rows, so the fold order is
    * fixed by the array — deterministic under any partitioning, and
    * bitwise-identical to a single-threaded SUM over the unnested
    * list (the DuckDB oracle's shape).
    *
    * Backed by the native codegen [[graft.functions.ArrayDotProduct]];
    * `decDotHof` is the equivalent higher-order-function fold, kept as
    * the differential-test reference (interpreted, ~50× slower in the
    * pairwise joins).
    */
  def decDot(a: Column, b: Column): Column =
    graft.functions.arrayDot(a, b)

  def decDotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v
    )

  def decNorm(a: Column): Column = sqrt(decDot(a, a))

  def cosine(a: Column, b: Column): Column =
    decDot(a, b) / (decNorm(a) * decNorm(b))

  /** [[cosine]] with the zero-norm case guarded BEFORE the division
    * (NULL instead of 0/0): under ANSI mode (Spark 4's default) a
    * zero-norm operand makes the raw quotient a runtime
    * DIVIDE_BY_ZERO error, not a NaN — so consumers that must
    * tolerate degenerate vectors (zero embeddings, all-zero
    * truncation prefixes) filter `isNotNull` on THIS form; the
    * CaseWhen only evaluates the division when the guard holds.
    */
  def cosineSafe(a: Column, b: Column): Column = {
    val na = decNorm(a)
    val nb = decNorm(b)
    when(na > 0.0 && nb > 0.0, decDot(a, b) / (na * nb))
  }

  /** Brute-force cosine top-k against the vector with id `queryId`:
    * 1-row broadcast cross join + map-side cosine + TakeOrdered.
    */
  def bruteForceTopK(
      embeddings: DataFrame,
      queryId: Long,
      k: Int
  ): DataFrame =
    rankedAgainst(
      embeddings.filter(col("vec_id") =!= queryId),
      embeddings.filter(col("vec_id") === queryId)
        .select(col("embedding").as("q_emb")),
      k)

  /** Hybrid (filtered) retrieval — the RAG-serving shape: restrict
    * the corpus by document metadata (here: language), then exact
    * cosine top-k against the query vector over the survivors.
    * Pre-filtering beats post-filtering a fixed-k ANN result (which
    * under-fills k when the filter is selective).
    *
    * Shape at scale: the metadata predicate is a plain column filter
    * on the documents scan (parquet-pushed), the doc↔embedding join
    * rides the shared id (AQE broadcasts whichever side the filter
    * made small), the 1-row query vector broadcasts, and top-k is
    * TakeOrdered — never a global sort.
    */
  def filteredCosineTopK(
      docs: DataFrame,
      embeddings: DataFrame,
      lang: String,
      queryId: Long,
      k: Int
  ): DataFrame =
    // the query vector comes from the UNFILTERED frame (the query doc
    // need not satisfy the metadata predicate itself)
    rankedAgainst(
      embeddings
        .filter(col("vec_id") =!= queryId)
        .join(docs.filter(col("lang") === lang)
          .select(col("doc_id").as("vec_id")), "vec_id"),
      embeddings.filter(col("vec_id") === queryId)
        .select(col("embedding").as("q_emb")),
      k)

  /** MMR-diversified top-k (Carbonell & Goldstein 1998): retrieve a
    * relevance pool of `poolSize` candidates (exact cosine, same
    * machinery as [[bruteForceTopK]]), then greedily select `k` of
    * them maximizing `lambda*rel - (1-lambda)*maxSimToSelected` —
    * the standard redundancy-penalized re-ranking for RAG contexts
    * and diversity-aware data selection (picking near-duplicate
    * passages into one context window wastes it).
    *
    * Shape at scale: the expensive stage is pool RETRIEVAL, which is
    * the already-audited broadcast-query map scan + TakeOrdered; the
    * selection re-ranks only the `poolSize`-row pool through one
    * [[graft.functions.MmrSelectAggregator]] — O(poolSize·k) work on
    * kilobytes. Swap the pool stage for `ivfTopK`/`pqAdcTopK` when
    * the corpus warrants ANN; the re-ranker is pool-agnostic.
    *
    * All selection math is in-order folds over unit vectors, so with
    * an exactly-representable `lambda` (default 0.5) the whole
    * operator is bitwise-reproducible by an ordered-SUM recursive
    * SQL twin — `q_vec_mmr_topk` is oracle-checked end to end.
    */
  def mmrTopK(
      embeddings: DataFrame,
      queryId: Long,
      k: Int,
      lambda: Double = 0.5,
      poolSize: Int = 15
  ): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    val pool = embeddings.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      // norms computed once per row; TakeOrdered's heap carries the
      // embedding only for rows that survive the pool cut
      .select(col("vec_id"), col("embedding"),
        (decDot(col("embedding"), col("q_emb")) /
          (decNorm(col("embedding")) * decNorm(col("q_emb")))).as("rel"),
        decNorm(col("embedding")).as("nrm"))
      .filter(!isnan(col("rel")))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(poolSize)
      // unit vectors (same x/nrm as the pairwise-oracle convention),
      // materialized for the poolSize survivors only
      .select(col("vec_id"), col("rel"),
        transform(col("embedding"),
          x => x.cast("double") / col("nrm")).as("unit"))
    val sel = udaf(new graft.functions.MmrSelectAggregator(k, lambda),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[Seq[Double]]()))
    pool
      .agg(sel(col("vec_id"), col("rel"), col("unit")).as("picks"))
      .select(explode(col("picks")).as("p"))
      .select(col("p._1").as("rank"), col("p._2").as("vec_id"),
        col("p._3").as("rel"), col("p._4").as("mmr_score"))
  }

  /** Shared ranking tail of the exact top-k family: broadcast the
    * 1-row query, map-side cosine, TakeOrdered. Zero-norm corpus
    * rows (cosine NaN — and NaN outranks everything in Spark SQL
    * ordering) are excluded: a degenerate vector is not similar to
    * anything.
    */
  private def rankedAgainst(
      corpus: DataFrame,
      q: DataFrame,
      k: Int
  ): DataFrame =
    corpus
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        col("label"),
        cosine(col("embedding"), col("q_emb")).as("cos_sim")
      )
      .filter(!isnan(col("cos_sim")))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)

  /** Semantic decontamination — the embedding-space complement of
    * `Text.contamination`: training vectors whose cosine against ANY
    * eval-set vector reaches `threshold`, with the hit count and the
    * worst (highest) similarity. Catches paraphrased leakage the
    * n-gram check misses.
    *
    * Shape at scale: same as the n-gram op — the eval set is small by
    * construction, so it broadcasts and the corpus side streams
    * through one map stage (corpus × |eval| comparisons, linear in
    * the corpus) into a per-doc aggregation. Exact brute-force by
    * design: this is a gate, not a search, and a missed hit is a
    * leaked eval doc.
    */
  def semanticContamination(
      corpus: DataFrame,
      evalSet: DataFrame,
      threshold: Double
  ): DataFrame = {
    val ev = evalSet.select(col("vec_id").as("eval_id"),
      col("embedding").as("eval_emb"))
    corpus
      .crossJoin(broadcast(ev))
      .select(col("vec_id"), col("eval_id"),
        cosine(col("embedding"), col("eval_emb")).as("cos_sim"))
      // NaN >= threshold is TRUE in Spark SQL ordering semantics — a
      // zero-norm vector would otherwise "hit" every eval doc
      .filter(col("cos_sim") >= threshold && !isnan(col("cos_sim")))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(col("cos_sim")).as("max_sim"))
  }

  /** Per-label centroid components via posexplode + exact fixed-point
    * mean — elementwise array aggregation expressed relationally.
    *
    * This sum DOES cross rows, so fold order is partition-dependent;
    * exactness comes from integer accumulation: each float component
    * is scaled by 2^16 (a pure exponent shift — exact in IEEE double)
    * and floored to a long, so the sum is order-independent integer
    * arithmetic, bitwise-identical in any engine. Exposed as
    * (q16 sum, count) — the mergeable form (mean = sum/2^16/n at the
    * consumer).
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(floor(col("x").cast("double") * 65536)).as("sum_q16"),
        count(lit(1)).as("n_vecs")
      )

  /** Deterministic pseudo-random hyperplanes for sign-LSH: component
    * j of plane p derives from a splitmix-style integer mix of
    * (seed, p, j) — reproducible across runs/languages with no RNG
    * state.
    */
  private def mix(z0: Long): Double = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L)
      : Array[Array[Double]] =
    Array.tabulate(nPlanes, dim)((p, j) =>
      mix(seed * 1000003L + p * 131L + j))

  /** Sign-LSH bucket id: one bit per hyperplane (sign of the dot
    * product), packed into a long. Map-side only.
    */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.map(lit(_)): _*)
      when(decDot(emb, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN via sign-LSH: bucket every vector (map-side), then rank
    * candidates within the query vector's buckets only. With B-bit
    * buckets, compares shrink ~2^B-fold vs brute force; recall is
    * tunable by B and by probing neighboring buckets.
    */
  def annTopK(
      embeddings: DataFrame,
      queryId: Long,
      k: Int,
      nPlanes: Int = 8,
      dim: Int = 64
  ): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val bucketed = embeddings
      .withColumn("bucket", lshBucket(col("embedding"), planes))
    val q = bucketed
      .filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"),
        col("bucket").as("q_bucket"))
    bucketed
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(q), col("bucket") === col("q_bucket"))
      .select(
        col("vec_id"), col("label"),
        cosine(col("embedding"), col("q_emb")).as("cos_sim")
      )
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Multi-probe sign-LSH top-k: like [[annTopK]] but the query also
    * probes every bucket at Hamming distance 1 from its own (the
    * nPlanes single-bit flips) — the standard recall knob (Lv et al.,
    * "Multi-Probe LSH", VLDB 2007): a true neighbor that lands just
    * across ONE hyperplane is recovered without adding hash tables
    * or re-bucketing the corpus. Candidate volume grows from one
    * bucket's occupancy to (nPlanes+1) buckets' — still a vanishing
    * corpus fraction for the usual nPlanes (8 → 9/256 of buckets
    * probed on average) — and the probe set is a broadcast literal,
    * so the scan stays one filter + one broadcast join. The spec
    * measures the recall gain against single-probe on planted
    * across-one-plane neighbors.
    */
  def annTopKMultiProbe(
      embeddings: DataFrame,
      queryId: Long,
      k: Int,
      nPlanes: Int = 8,
      dim: Int = 64
  ): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val bucketed = embeddings
      .withColumn("bucket", lshBucket(col("embedding"), planes))
    // query bucket + its nPlanes Hamming-1 neighbors, exploded so the
    // probe set rides the (1-row) broadcast side of the join
    val probes = array(
      (col("q_bucket") +:
        (0 until nPlanes).map(b =>
          col("q_bucket").bitwiseXOR(lit(1L << b)))): _*)
    val q = bucketed
      .filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"),
        col("bucket").as("q_bucket"))
      .select(col("q_emb"), explode(probes).as("probe"))
    bucketed
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(q), col("bucket") === col("probe"))
      .select(
        col("vec_id"), col("label"),
        cosine(col("embedding"), col("q_emb")).as("cos_sim")
      )
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Batch exact top-k cosine: EVERY query vector against the
    * corpus in one pass — the offline evaluation / retrieval-index
    * build shape (single-query [[bruteForceTopK]] is the
    * interactive twin). The query set broadcasts (at scale: chunk
    * query batches to broadcast size); scores compute map-side via
    * the codegen dot product; per-query top-k runs through the
    * MERGEABLE [[graft.functions.TopKPairsAggregator]], so partial
    * aggregation keeps ≤ k pairs per query per task and the shuffle
    * carries k rows per query — never the |corpus| × |queries|
    * score matrix (the window row_number form would shuffle and
    * sort all of it). Output rank is the deterministic
    * (cos_sim DESC, vec_id ASC) order.
    */
  def batchTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int
  ): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val topk = udaf(new graft.functions.TopKPairsAggregator(k),
      org.apache.spark.sql.Encoders.product[(Double, Long)])
    corpus
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("embedding"), col("q_emb")).as("cos_sim"))
      .groupBy(col("query_id"))
      .agg(topk(col("cos_sim"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("e._2").as("vec_id"), col("e._1").as("cos_sim"))
  }

  /** Matryoshka truncation recall curve — the "how small can the
    * embeddings get" audit for MRL-style models (Kusupati et al.,
    * "Matryoshka Representation Learning"): for each candidate
    * prefix dimension, exact-cosine top-k over the TRUNCATED
    * (renormalized) vectors is scored against the full-dimension
    * top-k baseline on a deterministic query sample; `recall_ppm`
    * per dim is the storage/latency-vs-quality frontier read before
    * committing to a truncated index ([[matryoshkaTopK]] is the
    * serving-side op this calibrates). Zero extra model state: the
    * prefix IS the representation.
    *
    * Shape at scale: ONE dim-tagged broadcast-query brute-force pass
    * (the [[batchTopK]] mergeable top-k shape — corpus × sampled
    * queries × (|dims|+1) tags, map-side combined; r19 fused the
    * former per-dim passes). The query sample is the scale
    * lever, and `sampleCount > 0` is the PRODUCTION form: a
    * constant-size sample (smallest `sampleCount` ids under a
    * Knuth multiplicative shuffle of vec_id — deterministic,
    * engine-reproducible, spread across the id space) keeps nq
    * constant in corpus size, so total work is O(sampleCount · N)
    * — strictly linear at 100×. The legacy `sampleMod` form (every
    * mod-th id) makes nq ∝ n and total work n²/mod; it survives
    * only for callers that want proportional coverage at a scale
    * they have budgeted explicitly. The measured curve transfers
    * to the ANN paths because truncation error is a property of
    * the embedding, not the index.
    *
    * Zero-norm prefixes (a vector whose first `dim` components are
    * all zero) have undefined cosine; those pairs are excluded from
    * ranking in BOTH engines (the SQL twin filters `na > 0 AND
    * nb > 0`; here [[cosineSafe]]'s pre-division guard — identical
    * set, and under ANSI mode the guard is REQUIRED: a raw 0/0
    * would be a runtime error, not a NaN).
    */
  def matryoshkaRecallCurve(
      embeddings: DataFrame,
      dims: Seq[Int] = Seq(8, 16, 32),
      k: Int = 10,
      sampleMod: Long = 50L,
      sampleCount: Int = 0
  ): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1),
      "dims must be positive")
    require(k >= 1 && sampleMod >= 1, "k and sampleMod positive")
    val topk = udaf(new graft.functions.TopKPairsAggregator(k),
      org.apache.spark.sql.Encoders.product[(Double, Long)])
    // constant-count sample: TakeOrdered over the hashed id — one
    // scan + top-N, no full sort, nq independent of corpus size
    val q =
      (if (sampleCount > 0)
        embeddings
          // DECIMAL(38,0) bridge: vec_id * 2654435761 overflows
          // BIGINT at vec_id >= ~3.48e9 (ANSI: runtime error); the
          // exact-decimal product keeps the shuffle key identical to
          // the twin's HUGEINT at any id range
          .orderBy(pmod(col("vec_id").cast("decimal(38,0)")
            * lit(2654435761L), lit(4294967296L)), col("vec_id"))
          .limit(sampleCount)
      else
        embeddings.filter(pmod(col("vec_id"), lit(sampleMod)) === 0))
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"))
    // r19 fuse (guide §2.4 — the shingle-width-curve trick): the old
    // form ran |dims|+1 broadcast brute-force passes over the corpus
    // (one per prefix dim + the full-dim baseline) and joined each
    // truncated top-k against the materialized baseline table. ONE
    // dim-tagged pass now computes every truncated cosine per
    // (corpus row × query) — dim 0 tags the full-dim baseline — and
    // per-(query, dim) top-k runs through the same mergeable
    // aggregator; recall then closes on the nq·(|dims|+1)-row tops
    // frame by per-query id-array intersection (top ids are distinct
    // per query, so |array_intersect| ≡ the old (query_id, vec_id)
    // equi-join count). Identical per-group aggregator input set ⇒
    // identical top arrays ⇒ identical hits/n_base/recall_ppm. The
    // null-cosine filter (zero-norm prefix guard) applies per tagged
    // row, exactly the old per-pass filter.
    val dimsS = dims.sorted
    // cosines as NAMED projection columns FIRST (flat projections
    // get codegen subexpression elimination; computing them inside
    // the explode's generator re-evaluated each norm/dot per
    // reference), THEN the cheap column-referencing explode
    val csCols = dimsS.map(dd =>
      cosineSafe(slice(col("embedding"), 1, dd),
        slice(col("q_emb"), 1, dd)).as(s"__cs$dd")) :+
      cosineSafe(col("embedding"), col("q_emb")).as("__cs0")
    val tagged = embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(Seq(col("query_id"), col("vec_id")) ++ csCols: _*)
      .select(col("query_id"), col("vec_id"),
        explode(array(
          dimsS.map(dd => struct(lit(dd).as("dim"),
            col(s"__cs$dd").as("cs"))) :+
            struct(lit(0).as("dim"), col("__cs0").as("cs")): _*))
          .as("e"))
      .select(col("query_id"), col("e.dim").as("dim"),
        col("vec_id"), col("e.cs").as("cs"))
      .filter(col("cs").isNotNull)
    // tops is nq·(|dims|+1) rows and feeds THREE legs (base, its
    // count, the per-dim hits) — unpersisted, each leg replays the
    // whole corpus × query brute-force pass (measured 9.8 s vs 3.0 s
    // unfused); persist it so the scan runs once (guide §5)
    val tops = graft.Caches.track("vec", tagged
      .groupBy(col("query_id"), col("dim"))
      .agg(topk(col("cs"), col("vec_id")).as("top"))
      .select(col("query_id"), col("dim"),
        transform(col("top"), e => e.getField("_2")).as("ids")))
    val base = tops.filter(col("dim") === 0)
      .select(col("query_id"), col("ids").as("base_ids"))
    val nBase = base
      .agg(coalesce(sum(size(col("base_ids"))), lit(0L)).as("n_base"))
    // dims spine: a dim whose every cosine was null still emits its
    // row (hits = 0), matching the old per-dim agg-without-groupBy
    val spine = embeddings.sparkSession
      .range(dimsS.length.toLong)
      .select(element_at(lit(dimsS.toArray),
        (col("id") + 1).cast("int")).as("dim"))
    val hitsPerDim = tops.filter(col("dim") =!= 0)
      .join(base, Seq("query_id"))
      .groupBy(col("dim"))
      .agg(sum(size(array_intersect(col("ids"), col("base_ids"))))
        .as("h"))
    spine.join(hitsPerDim, Seq("dim"), "left")
      .crossJoin(broadcast(nBase))
      .withColumn("hits", coalesce(col("h"), lit(0L)))
      .select(col("dim"), col("n_base"), col("hits"),
        when(col("n_base") === 0, lit(0L))
          .otherwise(expr("hits * 1000000 div n_base"))
          .as("recall_ppm"))
  }

  /** Trustworthiness of a dimension-reduced space (Venna & Kaski):
    * for sampled queries, does every point that ENTERS the truncated
    * top-k actually belong near the query in the FULL space? Each
    * intruder is charged its full-space rank excess `r − k`, and
    * `T(k) = 1 − 2·Σpenalty / (nq·k·(2n−3k−1))` — the metric that
    * separates "recall loss from mild reordering" (cheap) from
    * "recall loss from far-away intruders" (dangerous for serving).
    * Complements [[matryoshkaRecallCurve]]: recall counts MISSING
    * true neighbors; trustworthiness weighs how WRONG the imposters
    * are. Emitted in exact ppm (penalties and ranks are integers;
    * the one division is DECIMAL(38,0)/HUGEINT-bridged and floored).
    *
    * Shape at scale: constant-nq Knuth-shuffle sample (the
    * [[matryoshkaRecallCurve]] production form), then three
    * broadcast passes over the corpus, each O(nq·N) map-side with no
    * corpus shuffle: (1) score both spaces + truncated top-kmax per
    * query (mergeable [[graft.functions.TopKPairsAggregator]]);
    * (2) fetch the ≤ nq·kmax candidates' full-space scores
    * (broadcast the candidate HEAD into the scan); (3) full-space
    * rank of each candidate by COUNTING rows that beat it (again
    * broadcast-head) — rank-by-count replaces the per-query global
    * sort a window would need, so no partition ever holds N rows.
    * The tiny rank table is session-persisted; per-k reads are free.
    *
    * Zero-norm handling: pairs where EITHER space has a zero norm
    * are excluded from scoring and ranking in both engines
    * ([[cosineSafe]] guard ≡ the twin's `na > 0` filters — under
    * ANSI a raw 0/0 is a runtime error, not NaN).
    */
  def trustworthiness(
      embeddings: DataFrame,
      dim: Int = 16,
      ks: Seq[Int] = Seq(1, 5, 10),
      sampleCount: Int = 32
  ): DataFrame = {
    require(dim >= 1, "dim must be positive")
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be positive")
    require(sampleCount >= 1, "sampleCount must be positive")
    val kMax = ks.max
    val topk = udaf(new graft.functions.TopKPairsAggregator(kMax),
      org.apache.spark.sql.Encoders.product[(Double, Long)])
    val q = embeddings
      .orderBy(pmod(col("vec_id").cast("decimal(38,0)")
        * lit(2654435761L), lit(4294967296L)), col("vec_id"))
      .limit(sampleCount)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
    def tr(c: Column) = slice(c, 1, dim)
    // Session-persisted (r18 optimization): all three passes consume
    // THIS frame, and unpersisted each pass re-evaluated the full
    // nq·N exact-decimal scoring (measured 5.1 s → 1.4 s at sf0.1).
    // The persisted rows are skinny (two ids + two doubles — the
    // embeddings themselves are NOT retained), so the footprint is
    // nq·N·32 B ≈ 4× the raw corpus bytes at d = 64, spilling to
    // disk under pressure; at corpus sizes where even that is
    // unwelcome the unpersisted form simply re-scores per pass (the
    // documented three-broadcast-pass shape is unchanged either way).
    val scores = graft.Caches.track("vec",
      embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineSafe(col("embedding"), col("q_emb")).as("cs_full"),
        cosineSafe(tr(col("embedding")), tr(col("q_emb")))
          .as("cs_trunc"))
      .filter(col("cs_full").isNotNull && col("cs_trunc").isNotNull))
    val p = scores
      .groupBy(col("query_id"))
      .agg(topk(col("cs_trunc"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("trunc_rank"),
        col("col._2").as("vec_id"))
    val cand = scores
      .join(broadcast(p), Seq("query_id", "vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        col("trunc_rank"), col("cs_full").as("cand_full"))
    val ranks = graft.Caches.track("vec", scores
      .join(broadcast(cand), "query_id")
      .groupBy(col("query_id"), col("cand_id"), col("trunc_rank"),
        col("cand_full"))
      .agg(sum(when(col("cs_full") > col("cand_full")
          || (col("cs_full") === col("cand_full")
            && col("vec_id") < col("cand_id")), 1L)
        .otherwise(0L)).as("beats"))
      .withColumn("r_full", col("beats") + lit(1L)))
    val nq = ranks.agg(
      countDistinct(col("query_id")).as("n_queries"))
    val n = embeddings.agg(count(lit(1)).as("n_corpus"))
    ks.sorted.map { k =>
      ranks.filter(col("trunc_rank") <= k)
        .agg(
          coalesce(sum(when(col("r_full") > k,
            col("r_full") - k).otherwise(0L)), lit(0L))
            .as("penalty_sum"),
          coalesce(sum(when(col("r_full") > k, 1L).otherwise(0L)),
            lit(0L)).as("n_viol"))
        .crossJoin(broadcast(nq))
        .crossJoin(broadcast(n))
        .select(lit(k).as("k"), col("n_corpus"), col("n_queries"),
          col("n_viol"), col("penalty_sum"),
          when(col("n_queries") > 0
              && lit(2L) * col("n_corpus") - 3L * k - 1L > 0,
            expr(s"""CAST(1000000 -
              | CAST(penalty_sum AS DECIMAL(38,0)) * 2000000
              | div (CAST(n_queries AS DECIMAL(38,0)) * $k
              |   * (2 * n_corpus - 3 * $k - 1))
              | AS BIGINT)""".stripMargin.replace("\n", " ")))
            .otherwise(lit(1000000L)).as("trust_ppm"))
    }.reduce(_.unionByName(_)).orderBy(col("k"))
  }

  /** Relative contrast of sampled queries (He et al., "On the
    * Difficulty of Nearest Neighbor Search"): the ratio of the k-th
    * neighbor's cosine DISTANCE to the nearest neighbor's,
    * `RC = (1 − c_k)/(1 − c_1)` — the per-query hardness number
    * that predicts ANN failure before any index is built. RC near 1
    * means the nearest neighbor is barely closer than the k-th
    * (concentration of distances: every probe order looks alike and
    * recall collapses); large RC means an easy, well-separated
    * query. The third leg of the serving-diagnostics tripod next to
    * [[hubness]] (corpus pathology) and [[trustworthiness]]
    * (projection pathology). Emitted as q20 floors of the same IEEE
    * expression in both engines.
    *
    * Scale shape: the constant-nq Knuth sample broadcast into ONE
    * corpus scan; per-query top-k via the mergeable
    * [[graft.functions.TopKPairsAggregator]] — O(nq·N) map-side,
    * no corpus shuffle, ≤ nq result rows.
    */
  def relativeContrast(
      embeddings: DataFrame,
      k: Int = 10,
      sampleCount: Int = 32
  ): DataFrame = {
    require(k >= 2, s"k must be at least 2, got $k")
    require(sampleCount >= 1, "sampleCount must be positive")
    val topk = udaf(new graft.functions.TopKPairsAggregator(k),
      org.apache.spark.sql.Encoders.product[(Double, Long)])
    val q = embeddings
      .orderBy(pmod(col("vec_id").cast("decimal(38,0)")
        * lit(2654435761L), lit(4294967296L)), col("vec_id"))
      .limit(sampleCount)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
    embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineSafe(col("embedding"), col("q_emb")).as("cs"))
      .filter(col("cs").isNotNull)
      .groupBy(col("query_id"))
      .agg(topk(col("cs"), col("vec_id")).as("top"),
        count(lit(1)).as("n_scored"))
      .select(col("query_id"), col("n_scored"),
        element_at(col("top"), 1).getField("_1").as("c1"),
        when(size(col("top")) >= k,
          element_at(col("top"), k).getField("_1")).as("ck"))
      .select(col("query_id"), col("n_scored"),
        floor(col("c1") * lit(1048576.0)).cast("long").as("c1_q20"),
        coalesce(floor(col("ck") * lit(1048576.0)).cast("long"),
          lit(0L)).as("ck_q20"),
        when(col("ck").isNotNull && (lit(1.0) - col("c1")) > 0,
          floor((lit(1.0) - col("ck")) * lit(1048576.0)
            / (lit(1.0) - col("c1"))).cast("long"))
          .otherwise(lit(0L)).as("contrast_q20"))
      .orderBy(col("query_id"))
  }

  /** Local intrinsic dimensionality per sampled query (Amsaleg et
    * al., the maximum-likelihood estimator over nearest-neighbor
    * distances): `LID(q) = −n_used / Σᵢ ln(dᵢ/d_k)` over the top-k
    * cosine DISTANCES `d = 1 − cos` — the fourth leg of the ANN
    * serving diagnostics next to [[hubness]], [[trustworthiness]]
    * and [[relativeContrast]]: high LID marks the corpus regions
    * where every index structure degrades (distances concentrate;
    * pruning bounds go vacuous), and the per-query profile says
    * whether hardness is global or localized.
    *
    * Determinism contract: the summation runs in RANK order (the
    * twin's `ORDER BY rnk` ≡ this side's rank-indexed fold over the
    * TopK array), every term is the same IEEE `ln(dᵢ/d_k)` chain,
    * and the estimate ships as a q20 floor. Zero-distance guards:
    * exact-duplicate neighbors (`dᵢ = 0`, ln → −∞) are excluded
    * from the sum with `n_used` reduced to match; a query whose
    * k-th neighbor is itself at distance 0 (all-duplicates
    * neighborhood) emits `lid_q20 = 0` with `n_used = 0` — by
    * construction, not by NaN accident (ANSI would throw first).
    *
    * Scale shape: identical to [[relativeContrast]] — one
    * broadcast-sample corpus scan, mergeable top-k, ≤ nq rows out.
    */
  def lidEstimate(
      embeddings: DataFrame,
      k: Int = 10,
      sampleCount: Int = 32
  ): DataFrame = {
    require(k >= 2, s"k must be at least 2, got $k")
    require(sampleCount >= 1, "sampleCount must be positive")
    val topk = udaf(new graft.functions.TopKPairsAggregator(k),
      org.apache.spark.sql.Encoders.product[(Double, Long)])
    val q = embeddings
      .orderBy(pmod(col("vec_id").cast("decimal(38,0)")
        * lit(2654435761L), lit(4294967296L)), col("vec_id"))
      .limit(sampleCount)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
    embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        cosineSafe(col("embedding"), col("q_emb")).as("cs"),
        col("vec_id"))
      .filter(col("cs").isNotNull)
      .groupBy(col("query_id"))
      .agg(topk(col("cs"), col("vec_id")).as("top"),
        count(lit(1)).as("n_scored"))
      .filter(size(col("top")) >= k)
      .select(col("query_id"), col("n_scored"),
        (lit(1.0) - element_at(col("top"), k).getField("_1"))
          .as("dk"),
        // rank-ordered fold: Σ ln(d_i/d_k) over i = 1..k−1 with
        // zero-distance terms dropped; (sum, n_used) accumulated in
        // index order so the twin's ORDER BY rnk sums identically
        aggregate(
          slice(col("top"), 1, k - 1),
          struct(lit(0.0).as("s"), lit(0L).as("n")),
          (acc, e) => {
            val d = lit(1.0) - e.getField("_1")
            struct(
              when(d > 0 &&
                  (lit(1.0) - element_at(col("top"), k)
                    .getField("_1")) > 0,
                acc.getField("s") +
                  log(d / (lit(1.0) - element_at(col("top"), k)
                    .getField("_1"))))
                .otherwise(acc.getField("s")).as("s"),
              when(d > 0 &&
                  (lit(1.0) - element_at(col("top"), k)
                    .getField("_1")) > 0,
                acc.getField("n") + 1L)
                .otherwise(acc.getField("n")).as("n"))
          }).as("acc"))
      .select(col("query_id"), col("n_scored"),
        col("acc.n").as("n_used"),
        when(col("dk") > 0 && col("acc.s") < 0,
          floor(-col("acc.n").cast("double") / col("acc.s")
            * lit(1048576.0)).cast("long"))
          .otherwise(lit(0L)).as("lid_q20"))
      .orderBy(col("query_id"))
  }

  /** Cosine RANGE search — the other retrieval mode next to top-k:
    * "everything at least τ similar", the primitive behind
    * near-duplicate lookup, dedup-before-insert checks, and
    * radius-bounded recommendation, where the answer SIZE is the
    * signal (top-k hides whether a query has 3 neighbors or 3000).
    * Per sampled query: match count at-or-above `tau` and the best
    * cosine in exact micro — the neighborhood-density profile of the
    * corpus at that radius.
    *
    * The query sample is the constant-count Knuth pick (the
    * [[matryoshkaRecallCurve]] production form — nq independent of
    * corpus size, engine-reproducible), so total work is
    * O(sampleCount · N): one broadcast cross join, map-side combined
    * conditional aggregation, no shuffle of the corpus. Zero-norm
    * vectors have undefined cosine and are excluded in BOTH engines
    * ([[cosineSafe]]'s pre-division guard ≡ the twin's na > 0 AND
    * nb > 0 — required under ANSI, where 0/0 errors); empty match
    * sets still emit their query row (count 0, null best), because
    * "no neighbors at τ" is exactly the datum a dedup gate reads.
    */
  def rangeSearch(
      embeddings: DataFrame,
      tau: Double = 0.8,
      sampleCount: Int = 32
  ): DataFrame = {
    require(tau >= -1.0 && tau <= 1.0, "tau must be in [-1, 1]")
    require(sampleCount >= 1, "sampleCount must be >= 1")
    val q = embeddings
      // DECIMAL(38,0) bridge — see matryoshkaRecallCurve's sample:
      // the raw BIGINT multiply overflows at vec_id >= ~3.48e9
      .orderBy(pmod(col("vec_id").cast("decimal(38,0)")
        * lit(2654435761L), lit(4294967296L)), col("vec_id"))
      .limit(sampleCount)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
    embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        cosineSafe(col("embedding"), col("q_emb")).as("cs"))
      .filter(col("cs").isNotNull)
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("cs") >= tau, 1L).otherwise(0L))
          .as("n_matches"),
        max(when(col("cs") >= tau, col("cs"))).as("best"))
      .select(col("query_id"), col("n_matches"),
        floor(col("best") * 1000000.0).cast("long")
          .as("best_cos_micro"))
  }

  /** IVF(-flat) approximate nearest neighbor — the other scale path
    * next to sign-LSH: a KMeans coarse quantizer (trained once,
    * deterministic seed) partitions vectors into `nLists` inverted
    * lists; a query probes only its `nProbe` nearest centroids and
    * ranks by exact cosine inside them. At 10⁸+ vectors the probe
    * fraction (nProbe/nLists) is the speedup; recall is tuned by
    * nProbe. Training is a one-time offline job at scale — here it
    * runs inline for the registered query.
    */
  /** Fit the IVF coarse quantizer (KMeans over the embeddings).
    * Training is a one-time OFFLINE step at scale — callers fit once
    * per corpus (memoize via `graft.Caches.cached`) and probe many
    * times; the fit must never sit inside a latency-sensitive query.
    * The training input is persisted only for the duration of the fit
    * (KMeans iterates over it) and released immediately after.
    */
  def fitIvf(
      embeddings: DataFrame,
      nLists: Int = 16,
      maxIter: Int = 5,
      seed: Long = 42L
  ): org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val train = embeddings
      .select(array_to_vector(col("embedding")).as("features"))
      .persist()
    try new KMeans().setK(nLists).setSeed(seed).setMaxIter(maxIter)
      .fit(train)
    finally train.unpersist(blocking = false)
  }

  /** IVF probe: assign vectors to inverted lists (map-side transform),
    * pick the query's `nProbe` nearest centroids, rank by exact cosine
    * inside those lists only. Fully lazy/distributed — the query
    * vector travels via a broadcast 1-row join (no driver `.head()`),
    * and centroid selection is a 16-row broadcast plan, so the whole
    * probe is one scan + TakeOrdered regardless of corpus size.
    */
  def ivfTopK(
      embeddings: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel,
      queryId: Long,
      k: Int,
      nProbe: Int = 4
  ): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val spark = embeddings.sparkSession
    import spark.implicits._
    val assigned = model
      .transform(embeddings
        .withColumn("features", array_to_vector(col("embedding"))))
      .select(col("vec_id"), col("label"), col("embedding"),
        col("prediction").as("list_id"))
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    // centroids are tiny by construction (nLists rows) — a literal
    // DataFrame + broadcast rank picks the nProbe nearest lists
    val cents = model.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
      .toDF("list_id", "c_emb")
    val probed = cents.crossJoin(broadcast(q))
      .select(col("list_id"),
        aggregate(
          zip_with(col("c_emb"), col("q_emb"),
            (c, x) => (c - x.cast("double")) * (c - x.cast("double"))),
          lit(0.0), (acc, v) => acc + v).as("d2"))
      .orderBy(col("d2"), col("list_id"))
      .limit(nProbe)
      .select(col("list_id"))
    assigned
      .join(broadcast(probed), "list_id")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("q_emb")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** vec_id + unit-normalized embedding, staged so the norm is
    * computed once per row (an inlined norm inside the transform
    * lambda would be re-evaluated per element — HOFs are excluded
    * from subexpression elimination).
    */
  /** Scalar int8 quantization per vector (symmetric max-abs scale,
    * floor toward -inf): the memory-side companion of the ANN
    * operators — a 100 TB embedding corpus stores/ships 4× smaller
    * and dequantizes as q·scale/127. Pure per-row array math in the
    * scan stage; floor (not round) keeps the math bit-identical
    * across engines (round differs on half-way ties).
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding"),
        aggregate(col("embedding"), lit(0.0),
          (acc, x) => greatest(acc, abs(x.cast("double"))))
          .as("max_abs"))
      .select(col("vec_id"), col("max_abs").as("scale"),
        transform(col("embedding"),
          x => when(col("max_abs") === 0.0, lit(0))
            .otherwise(floor(x.cast("double") / col("max_abs") * 127)
              .cast("int"))).as("qvec"))

  /** Exact-duplicate embedding groups — the byte-identical dedup run
    * BEFORE any ANN machinery (re-encoded shards and doubled crawl
    * records produce exact vector copies; deduping them first shrinks
    * every downstream index): vectors group by the md5 of their
    * q16-integerized component string (floor(x·2¹⁶) — the
    * engine-stable identity used across the q16 family; raw float
    * rendering differs across engines, integers don't), keep-lowest
    * id, emit groups with at least `minDups` members. One
    * scan + one hash-keyed aggregation.
    */
  def exactDupVectors(embeddings: DataFrame,
      minDups: Long = 2L): DataFrame =
    embeddings
      .select(col("vec_id"),
        md5(array_join(transform(col("embedding"), x =>
          floor(x.cast("double") * 65536).cast("long")
            .cast("string")), ",")).as("vec_hash"))
      .groupBy(col("vec_hash"))
      .agg(min(col("vec_id")).as("keep_id"),
        count(lit(1)).as("n_dups"))
      .filter(col("n_dups") >= minDups)
      .orderBy(col("vec_hash"))

  /** Index memory-budget report — the capacity-planning table behind
    * the quantization tiers ([[quantizeInt8]]/SQ8, [[binarize]],
    * [[pqEncode]]): per storage tier, the exact byte footprint for
    * THIS corpus (n, d measured from the data) and the milli
    * compression ratio vs fp32. SQ8 = d bytes + an 8-byte scale per
    * vector; binary = one 8-byte word per 32 dims; PQ = `pqM` code
    * bytes per vector. Pure arithmetic over a 1-row count aggregate.
    */
  def indexMemoryBudget(embeddings: DataFrame,
      pqM: Int = 8): DataFrame = {
    require(pqM >= 1, s"pqM must be >= 1, got $pqM")
    embeddings
      .agg(count(lit(1)).as("n"),
        max(size(col("embedding"))).cast("long").as("d"))
      .selectExpr("n", "d",
        s"""stack(4,
           | 'binary', n * ((d + 31) div 32) * 8,
           | 'fp32', n * d * 4,
           | 'pq', n * ${pqM}L,
           | 'sq8', n * d + n * 8) AS (tier, bytes)""".stripMargin)
      .withColumn("ratio_vs_fp32_milli",
        expr("(n * d * 4) * 1000 div bytes"))
      .select(col("tier"), col("bytes"), col("n").as("n_vectors"),
        col("d").as("dim"), col("ratio_vs_fp32_milli"))
      .orderBy(col("tier"))
  }

  /** IVF nprobe→recall tuning curve — the table an operator reads
    * before fixing the serving nprobe (the FAISS tuning loop as a
    * first-class query): for each probe count, the exact-integer
    * recall of [[ivfTopK]] against the brute-force top-k. Probing
    * every list MUST read 10⁶ ppm (full-probe IVF ranks the whole
    * corpus by the same cosine order — asserted by the spec), which
    * anchors the curve's top end. One brute-force pass + one probed
    * pass per entry, all query-result-sized frames.
    */
  def nprobeRecallCurve(
      embeddings: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel,
      queryId: Long,
      k: Int,
      probes: Seq[Int]
  ): DataFrame = {
    require(probes.nonEmpty && probes.forall(_ >= 1),
      "probes must be non-empty positives")
    val exact = bruteForceTopK(embeddings, queryId, k)
      .select(col("vec_id"))
    probes.map { p =>
      ivfTopK(embeddings, model, queryId, k, nProbe = p)
        .select(col("vec_id"))
        .join(exact, "vec_id")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .select(lit(p).as("nprobe"), col("n_hits"), col("n_exact"),
          expr("n_hits * 1000000 div n_exact").as("recall_ppm"))
    }.reduce(_ unionByName _).orderBy(col("nprobe"))
  }

  /** SQ8 quantization-distortion audit — the error side of the
    * memory/quality trade [[quantizeInt8]] makes ([[recallAtK]]
    * measures the SERVING effect; this measures the RAW
    * reconstruction error): per vector, the exact squared
    * reconstruction error of the int8 round-trip
    * (`x − ⌊x/s·127⌋·s/127`), summed in ⌊·2²⁰⌋ fixed point per
    * dimension (identical-IEEE double arithmetic off the floor-exact
    * int8 codes, floored per dim so the sum is order-free), plus the
    * vector's energy in the same convention — err/energy is the
    * relative-distortion readout. One scan, map-side only.
    */
  def quantizationDistortion(embeddings: DataFrame): DataFrame =
    quantizeInt8(embeddings)
      .join(embeddings.select(col("vec_id"), col("embedding")),
        "vec_id")
      .select(col("vec_id"), col("scale"),
        aggregate(
          zip_with(col("embedding"), col("qvec"), (x, q) => {
            val err = x.cast("double") -
              q.cast("double") * col("scale") / 127.0
            floor(err * err * (1L << 20)).cast("long")
          }),
          lit(0L), (acc, e) => acc + e).as("sq_err_q20"),
        aggregate(
          transform(col("embedding"), x =>
            floor(x.cast("double") * x.cast("double") * (1L << 20))
              .cast("long")),
          lit(0L), (acc, e) => acc + e).as("energy_q20"))
      .withColumn("rel_err_ppm",
        when(col("energy_q20") > 0,
          expr("sq_err_q20 * 1000000 div energy_q20"))
          .otherwise(lit(0L)))
      .orderBy(col("vec_id"))

  /** SQ8 retrieval with exact rescore — the quantized serving
    * pattern the int8 corpus exists for: rank every candidate by the
    * INTEGER dot product of the stored int8 vectors (descaled by the
    * two max-abs scales; /127² is a global constant and cannot change
    * the order), keep the best `rescoreK`, then re-rank those few by
    * exact float cosine and emit the top `k`. At 100 TB the first
    * pass streams the 4×-smaller quantized corpus map-side into a
    * TakeOrdered; only `rescoreK` full-precision vectors are ever
    * touched. Every stage is engine-reproducible (floor-exact
    * quantization, integer dot, one IEEE multiply per candidate,
    * decimal-accumulated rescore) → full SQL twin.
    */
  def quantizedTopK(
      embeddings: DataFrame,
      queryId: Long,
      k: Int,
      rescoreK: Int = 50
  ): DataFrame = {
    require(rescoreK >= k, s"rescoreK ($rescoreK) must be >= k ($k)")
    val q8 = quantizeInt8(embeddings)
    val q = q8.filter(col("vec_id") === queryId)
      .select(col("qvec").as("q_qvec"), col("scale").as("q_scale"))
    val qf = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    val approx = q8
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (aggregate(
          zip_with(col("qvec"), col("q_qvec"),
            (a, b) => a.cast("long") * b.cast("long")),
          lit(0L), (acc, v) => acc + v).cast("double")
          * col("scale") * col("q_scale")).as("approx_score"))
      .orderBy(col("approx_score").desc, col("vec_id"))
      .limit(rescoreK)
    approx
      .join(embeddings.select(col("vec_id"), col("label"),
        col("embedding")), "vec_id")
      .crossJoin(broadcast(qf))
      .select(col("vec_id"), col("label"), col("approx_score"),
        cosine(col("embedding"), col("q_emb")).as("cos_sim"))
      .filter(!isnan(col("cos_sim")))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Matryoshka (MRL) truncated retrieval with exact rescore — the
    * dimension-truncation serving mode of Matryoshka Representation
    * Learning (Kusupati et al., NeurIPS 2022): embeddings trained
    * nested answer at `dims` < d cost by SLICING the stored vector,
    * no re-embedding and no fitted artifact. First pass ranks by
    * cosine over the `dims`-coordinate prefix (dims/d of the
    * multiply-adds and — with a prefix-sliced column or column-group
    * layout — of the scan IO), keeps `rescoreK`, rescores those few
    * at full dimension. Unlike PQ/SQ8 the truncated score is itself
    * a true cosine of stored coordinates, so the WHOLE serving path
    * is SQL-expressible and oracle-checked (the fitted-model entries
    * can't be). Same shape at scale as [[quantizedTopK]]: map-side
    * scan + TakeOrdered, only `rescoreK` full vectors touched.
    */
  def matryoshkaTopK(
      embeddings: DataFrame,
      queryId: Long,
      k: Int,
      dims: Int,
      rescoreK: Int = 50
  ): DataFrame = {
    require(rescoreK >= k, s"rescoreK ($rescoreK) must be >= k ($k)")
    require(dims >= 1, s"dims must be positive, got $dims")
    val pref = embeddings.select(col("vec_id"),
      slice(col("embedding"), 1, dims).as("pvec"))
    val qp = pref.filter(col("vec_id") === queryId)
      .select(col("pvec").as("q_pvec"))
    val qf = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    // explicit NaN for zero norms (ANSI sessions raise
    // DIVIDE_BY_ZERO instead of IEEE-dividing) — the
    // semanticSignaturesAssigned convention
    def guardedCos(a: Column, b: Column): Column =
      when(decNorm(a) === 0.0 || decNorm(b) === 0.0, lit(Double.NaN))
        .otherwise(decDot(a, b) / (decNorm(a) * decNorm(b)))
    val approx = pref
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qp))
      // zero-norm PREFIX (vector may be nonzero past the cut) is
      // unrankable in the first pass — same NaN policy as the family
      .select(col("vec_id"),
        guardedCos(col("pvec"), col("q_pvec")).as("approx_score"))
      .filter(!isnan(col("approx_score")))
      .orderBy(col("approx_score").desc, col("vec_id"))
      .limit(rescoreK)
    approx
      .join(embeddings.select(col("vec_id"), col("label"),
        col("embedding")), "vec_id")
      .crossJoin(broadcast(qf))
      .select(col("vec_id"), col("label"), col("approx_score"),
        guardedCos(col("embedding"), col("q_emb")).as("cos_sim"))
      .filter(!isnan(col("cos_sim")))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Product-quantization codebook: `m` subspaces × `ksub` centroids
    * × `dsub = dim/m` components each. Tiny by construction
    * (8×16×8 doubles = 8 KB) — ships as plan literals / broadcast.
    */
  final case class PqModel(
      dim: Int,
      m: Int,
      ksub: Int,
      codebooks: Array[Array[Array[Double]]]
  ) {
    def dsub: Int = dim / m
  }

  /** Fit a product quantizer: independent Lloyd k-means per subspace
    * over a deterministic bounded sample of the UNIT-normalized
    * corpus (PQ for cosine/IP retrieval quantizes the unit sphere, so
    * ADC scores approximate cosine directly).
    *
    * The fit is a one-time OFFLINE step, like [[fitIvf]] — and unlike
    * it the training input is a driver-sized sample by design
    * (codebooks are k-means over dsub-dim subvectors; FAISS trains
    * them on ~10⁴ points regardless of corpus size). The sample is a
    * deterministic hash-draw: the `trainN` lowest `xxhash64(vec_id)`
    * values (TakeOrdered, no global sort) — unbiased even when
    * vec_id order correlates with content, which an id-prefix sample
    * is not (r8 advice). Deterministic end to end:
    * stride init over the ordered sample, lowest-index tie-breaks,
    * empty clusters keep their previous centroid — two fits on the
    * same corpus are bitwise-identical.
    */
  def fitPq(
      embeddings: DataFrame,
      m: Int = 16,
      ksub: Int = 16,
      dim: Int = 64,
      iters: Int = 10,
      trainN: Int = 2048
  ): PqModel = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    val sample = unitized(
      embeddings.filter(decNorm(col("embedding")) > 0))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(trainN)
      .select(col("unit"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    PqModel(dim, m, ksub, lloydCodebooks(sample, m, ksub, dsub, iters))
  }

  /** Per-subspace Lloyd k-means over a driver-sized sample — the
    * deterministic codebook trainer behind [[fitPq]] (unit vectors)
    * and [[fitIvfPq]] (coarse-list residuals). Stride init over the
    * caller-ordered sample, lowest-index tie-breaks, empty clusters
    * keep their previous centroid — two fits on the same sample are
    * bitwise-identical.
    */
  private def lloydCodebooks(
      sample: Array[Array[Double]],
      m: Int,
      ksub: Int,
      dsub: Int,
      iters: Int
  ): Array[Array[Array[Double]]] = {
    val n = sample.length
    require(n >= ksub,
      s"PQ fit needs >= $ksub training vectors, got $n")
    Array.tabulate(m) { s =>
      val subs = sample.map(v =>
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      // stride init: centroid c seeds from sample index c*n/ksub —
      // deterministic and spread across the (vec_id-ordered) sample
      var cents = Array.tabulate(ksub)(c =>
        subs((c.toLong * n / ksub).toInt).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ksub, dsub)(0.0)
        val counts = new Array[Int](ksub)
        subs.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0; var j = 0
            while (j < dsub) {
              val t = p(j) - cents(c)(j); d += t * t; j += 1
            }
            if (d < bestD) { bestD = d; best = c } // strict < → lowest idx
            c += 1
          }
          counts(best) += 1
          var j = 0
          while (j < dsub) { sums(best)(j) += p(j); j += 1 }
        }
        cents = Array.tabulate(ksub)(c =>
          if (counts(c) == 0) cents(c) // empty cluster: keep previous
          else Array.tabulate(dsub)(j => sums(c)(j) / counts(c)))
        it += 1
      }
      cents
    }
  }

  /** PQ-encode the corpus: `m` codes per vector (argmin centroid per
    * subspace of the unit vector) — the stored retrieval artifact, m
    * byte-sized codes per vector vs `dim` floats (16 B vs 256 B at
    * the m=16 default — the compression PQ exists for; m=8 doubles
    * it again at measurable recall cost). Pure map-side HOF math: per
    * subspace one distance fold over the ksub-row codebook literal,
    * argmin via array_position of the min (first occurrence → lowest
    * code on ties, matching the fit's tie-break). No shuffle, no UDF.
    */
  def pqEncode(embeddings: DataFrame, model: PqModel): DataFrame =
    unitized(embeddings)
      .select(col("vec_id"), pqCodes(col("unit"), model).as("codes"))

  /** The m-code column for an arbitrary vector column — shared by
    * [[pqEncode]] (unit vectors) and [[ivfPqIndex]] (coarse-list
    * residuals). Per subspace: one distance fold over the ksub-row
    * codebook literal, argmin via array_position of the min (first
    * occurrence → lowest code on ties, matching the fit's
    * tie-break).
    */
  private def pqCodes(vec: Column, model: PqModel): Column = {
    val dsub = model.dsub
    val codeCols = (0 until model.m).map { s =>
      val cbLit = array(model.codebooks(s).map(c =>
        array(c.map(lit(_)): _*)): _*)
      val sub = slice(vec, s * dsub + 1, dsub)
      val dists = transform(cbLit, c =>
        aggregate(zip_with(sub, c, (x, cv) => (x - cv) * (x - cv)),
          lit(0.0), (a, v) => a + v))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    array(codeCols: _*)
  }

  /** PQ retrieval via asymmetric distance computation (ADC) + exact
    * rescore — the 16×-compression serving pattern next to
    * [[quantizedTopK]]'s SQ8 (4×): score every candidate as the sum
    * of m LOOKUPS into a per-query table of centroid·query partial
    * inner products, keep the best `rescoreK`, re-rank those by
    * exact float cosine.
    *
    * Shape at scale: the first pass scans ONLY the codes table (m
    * bytes/vector); the lookup table (m·ksub doubles) is built from
    * the codebook literal × the broadcast 1-row query — no driver
    * `.head()` — then broadcast as a single flat array; scoring is a
    * map-side fold into TakeOrdered. Only `rescoreK` full-precision
    * vectors are ever read. `precomputedCodes` is the deployment
    * form (encode once at ingestion, probe many).
    */
  def pqAdcTopK(
      embeddings: DataFrame,
      model: PqModel,
      queryId: Long,
      k: Int,
      rescoreK: Int = 50,
      precomputedCodes: Option[DataFrame] = None
  ): DataFrame = {
    require(rescoreK >= k, s"rescoreK ($rescoreK) must be >= k ($k)")
    val codes = precomputedCodes.getOrElse(pqEncode(embeddings, model))
    val q = unitized(embeddings.filter(col("vec_id") === queryId))
      .select(col("unit").as("q_unit"))
    val lut = adcLut(model, q)
    val adc = codes
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(lut))
      .select(col("vec_id"),
        aggregate(
          transform(col("codes"),
            (c, i) => element_at(col("lut"), i * model.ksub + c + 1)),
          lit(0.0), (a, v) => a + v).as("adc_score"))
      .orderBy(col("adc_score").desc, col("vec_id"))
      .limit(rescoreK)
    val qf = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    adc
      .join(embeddings.select(col("vec_id"), col("label"),
        col("embedding")), "vec_id")
      .crossJoin(broadcast(qf))
      .select(col("vec_id"), col("label"), col("adc_score"),
        cosine(col("embedding"), col("q_emb")).as("cos_sim"))
      .filter(!isnan(col("cos_sim")))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-query ADC lookup table: partial inner products of every PQ
    * centroid against the (1-row broadcast) query vector `q`
    * (column `q_unit`), flattened into one array indexed
    * `sub*ksub+code`. Built distributedly from the codebook literal ×
    * the broadcast query — no driver `.head()` — and returned as a
    * 1-row frame the caller cross-joins broadcast. m·ksub doubles
    * (2 KB at 16×16), regardless of corpus size.
    */
  private def adcLut(model: PqModel, q: DataFrame): DataFrame = {
    val dsub = model.dsub
    val spark = q.sparkSession
    import spark.implicits._
    val cents = (for {
      s <- 0 until model.m; c <- 0 until model.ksub
    } yield (s, c, model.codebooks(s)(c).toSeq))
      .toDF("sub", "code", "centroid")
    cents.crossJoin(broadcast(q))
      .select((col("sub") * model.ksub + col("code")).as("idx"),
        aggregate(
          zip_with(col("centroid"),
            slice(col("q_unit"), col("sub") * dsub + 1, lit(dsub)),
            (cv, x) => cv * x),
          lit(0.0), (a, v) => a + v).as("partial"))
      // one flat array indexed sub*ksub+code (array_sort on the
      // (idx, partial) structs orders by idx — field order)
      .agg(array_sort(collect_list(struct(col("idx"), col("partial"))))
        .as("kv"))
      .select(transform(col("kv"), e => e.getField("partial")).as("lut"))
  }

  /** IVF-PQ composite model: a coarse quantizer over the UNIT sphere
    * (`nLists` centroids — fitted on unit vectors, unlike the
    * standalone [[fitIvf]]'s raw-space model, because the residual
    * decomposition below lives in unit space) plus residual PQ
    * codebooks SHARED across lists (the FAISS IVFPQ layout). Every
    * stored vector is `list_id + m codes`; the exact identity
    * `unit = c_list + residual` makes the ADC score
    * `q·c_list + Σ lut[s, code_s]` an estimate of the full cosine.
    */
  final case class IvfPqModel(
      centers: Array[Array[Double]],
      pq: PqModel
  )

  /** Coarse-list assignment as a Column: argmin-l2 over the model's
    * centers (nLists×dim literal — KB-sized, rides the plan), with
    * `array_position`-of-min giving the lowest-index tie-break, the
    * same rule as the driver-side fit loop. Expression-only (no ML
    * transform), so assignment is identical under any partitioning.
    */
  private def nearestCenterExpr(
      centers: Array[Array[Double]],
      unit: Column
  ): Column = {
    val centArr = array(centers.map(c =>
      array(c.map(lit(_)): _*)): _*)
    val d2s = transform(centArr, c =>
      aggregate(zip_with(c, unit, (ci, x) => (ci - x) * (ci - x)),
        lit(0.0), (a, v) => a + v))
    (array_position(d2s, array_min(d2s)) - 1).cast("int")
  }

  /** Fit the IVF-PQ composite — the canonical billion-scale ANN
    * layout (FAISS IVFPQ; Jégou et al., "Product Quantization for
    * Nearest Neighbor Search"): a coarse quantizer partitions the
    * unit sphere into `nLists` inverted lists, and PQ codebooks are
    * trained on the RESIDUALS (unit − assigned centroid) — residuals
    * concentrate near the origin, so the same code budget quantizes
    * them with far less distortion than raw vectors.
    *
    * Both fits are one-time OFFLINE steps at scale (memoize via
    * `graft.Caches.cached`), and both run the same deterministic
    * driver-side Lloyd ([[lloydCodebooks]]) over a `trainN`-sized
    * deterministic hash-draw of the unit vectors (lowest
    * `xxhash64(vec_id)` — unbiased under ingest-ordered ids, unlike
    * an id-prefix sample; r8 advice): the coarse step is Lloyd with one
    * "subspace" spanning the full dim, then residual codebooks per
    * subspace. Spark ML KMeans was dropped here on measurement (r8):
    * its kmeans|| init and center-sum order vary with the session's
    * partitioning, so the same corpus fit under cpus=8 vs 32 gave
    * different centers — and therefore different serving results —
    * while the Lloyd fit is bitwise-identical under any parallelism.
    */
  def fitIvfPq(
      embeddings: DataFrame,
      nLists: Int = 16,
      m: Int = 16,
      ksub: Int = 16,
      dim: Int = 64,
      iters: Int = 10,
      trainN: Int = 2048
  ): IvfPqModel = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    val u = unitized(embeddings.filter(decNorm(col("embedding")) > 0))
    val sample = u
      .select(col("vec_id"), col("unit"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(trainN)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val centers = lloydCodebooks(sample, 1, nLists, dim, iters)(0)
    // residuals of the same sample against their argmin center, the
    // exact rule nearestCenterExpr replays at encode time
    val resid = sample.map { v =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < nLists) {
        var d = 0.0; var j = 0
        while (j < dim) {
          val t = v(j) - centers(c)(j); d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      Array.tabulate(dim)(j => v(j) - centers(best)(j))
    }
    IvfPqModel(centers,
      PqModel(dim, m, ksub, lloydCodebooks(resid, m, ksub, dsub, iters)))
  }

  /** Build the IVF-PQ index: `(vec_id, list_id, codes)` — the stored
    * retrieval artifact (one int + m byte-sized codes per vector; 20 B
    * vs 256 B of floats at the defaults). Assignment is the coarse
    * quantizer's (map-side model transform); codes quantize the
    * residual against the assigned centroid, attached via a
    * broadcast join with the nLists-row centroid table. All
    * scan-stage — encode once at ingestion, probe many.
    */
  def ivfPqIndex(embeddings: DataFrame, model: IvfPqModel): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = model.centers.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("list_id", "c_emb")
    val u = unitized(embeddings)
    u.select(col("vec_id"), col("unit"),
        nearestCenterExpr(model.centers, col("unit")).as("list_id"))
      .join(broadcast(cents), "list_id")
      .select(col("vec_id"), col("list_id"),
        pqCodes(zip_with(col("unit"), col("c_emb"), (x, c) => x - c),
          model.pq).as("codes"))
  }

  /** IVF-PQ retrieval — coarse probe × ADC first pass × exact
    * rescore, the composition that serves billion-vector corpora:
    *
    *  1. rank the nLists centroids against the query (tiny broadcast
    *     plan), keep the `nProbe` nearest — the probe fraction
    *     nProbe/nLists is the scan saving;
    *  2. first pass over the PROBED LISTS' index rows only:
    *     score = q·c_list (per-list constant, rides the broadcast
    *     probe table) + m lookups into the broadcast residual LUT —
    *     codes-only IO, no float vectors touched;
    *  3. exact-cosine rescore of the top `rescoreK` survivors, emit
    *     the top `k`.
    *
    * `precomputedIndex` ([[ivfPqIndex]]) is the deployment form. With
    * `nProbe = nLists` and `rescoreK >= corpus` this degrades to
    * exact brute force (VectorSpec pins that identity); production
    * recall is tuned by nProbe and rescoreK like every IVF engine.
    */
  def ivfPqTopK(
      embeddings: DataFrame,
      model: IvfPqModel,
      queryId: Long,
      k: Int,
      nProbe: Int = 4,
      rescoreK: Int = 100,
      precomputedIndex: Option[DataFrame] = None
  ): DataFrame = {
    require(rescoreK >= k, s"rescoreK ($rescoreK) must be >= k ($k)")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val index = precomputedIndex.getOrElse(ivfPqIndex(embeddings, model))
    val q = unitized(embeddings.filter(col("vec_id") === queryId))
      .select(col("unit").as("q_unit"))
    val cents = model.centers.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("list_id", "c_emb")
    // probe: nProbe nearest centroids by l2 (equivalently cosine on
    // the unit sphere); q·c rides along as the per-list ADC constant
    val probed = cents.crossJoin(broadcast(q))
      .select(col("list_id"),
        aggregate(
          zip_with(col("c_emb"), col("q_unit"),
            (c, x) => (c - x) * (c - x)),
          lit(0.0), (acc, v) => acc + v).as("d2"),
        aggregate(
          zip_with(col("c_emb"), col("q_unit"), (c, x) => c * x),
          lit(0.0), (acc, v) => acc + v).as("q_dot_c"))
      .orderBy(col("d2"), col("list_id"))
      .limit(nProbe)
      .select(col("list_id"), col("q_dot_c"))
    val lut = adcLut(model.pq, q)
    val adc = index
      .join(broadcast(probed), "list_id")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(lut))
      .select(col("vec_id"),
        (col("q_dot_c") + aggregate(
          transform(col("codes"),
            (c, i) => element_at(col("lut"), i * model.pq.ksub + c + 1)),
          lit(0.0), (a, v) => a + v)).as("adc_score"))
      .orderBy(col("adc_score").desc, col("vec_id"))
      .limit(rescoreK)
    val qf = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    adc
      .join(embeddings.select(col("vec_id"), col("label"),
        col("embedding")), "vec_id")
      .crossJoin(broadcast(qf))
      .select(col("vec_id"), col("label"), col("adc_score"),
        cosine(col("embedding"), col("q_emb")).as("cos_sim"))
      .filter(!isnan(col("cos_sim")))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  def unitized(embeddings: DataFrame): DataFrame = {
    // Small single-file inputs arrive as one split; spread the
    // per-row work (norm + downstream plane dots) across cores. The
    // repartition is a REAL exchange every consumer pays (AQE
    // coalesces REPARTITION_BY_COL output partitions but does not
    // remove the exchange), so it is gated on the input actually
    // being under-split for this session's parallelism — a corpus
    // that already arrives well-split skips the shuffle entirely.
    val parallelism =
      embeddings.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (embeddings.rdd.getNumPartitions * 2 >= parallelism) embeddings
      else embeddings.repartition(col("vec_id"))
    spread
      .select(col("vec_id"), col("embedding"),
        decNorm(col("embedding")).as("nrm"))
      .select(col("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") / col("nrm")).as("unit"))
  }

  /** Embedding-cosine near-duplicate pairs via BANDED sign-LSH
    * (minhash-banding shape): `nBands` independent `bitsPerBand`-bit
    * buckets per vector; any shared band makes a candidate pair,
    * confirmed by exact cosine. A single wide bucket has vanishing
    * recall at moderate thresholds (16 bits @ cos 0.6 → p ≈ 0.7^16 ≈
    * 0.003); banding is the standard fix — recall here is
    * 1-(1-p_bit^bits)^bands ≈ 0.9 at cos 0.6 with 8×4. Never n²:
    * only same-band-bucket pairs are compared, each pair one codegen
    * dot product; bands/bits tune candidate volume vs recall at
    * scale.
    */
  /** EXACT brute-force cosine pairs above a threshold — the n² oracle
    * twin of [[cosineNearDup]]. This is the verification baseline, not
    * the scale path: run it at small SF to measure the LSH variant's
    * recall (VectorSpec does), never on a full corpus. One broadcast
    * nested-loop join; the cosine is a single codegen dot product per
    * pair over unit-normalized vectors.
    */
  def exactCosinePairs(
      embeddings: DataFrame,
      threshold: Double,
      maxRows: Long = 100000L
  ): DataFrame = {
    // Pin the n² twin to verification scale with a LAZY distributed
    // guard (1-row count agg broadcast onto the scan side): above
    // `maxRows` vectors any action fails loudly in the scan stage —
    // before a single pairwise comparison runs — instead of silently
    // launching ~n²/2 of them. No driver job at construction time.
    val n = embeddings.agg(count(lit(1)).as("__n"))
    val u = unitized(embeddings)
      .crossJoin(broadcast(n))
      .filter(assert_true(col("__n") <= maxRows,
        lit(s"exactCosinePairs is the n-squared verification twin — " +
          s"refusing an input above $maxRows vectors; use " +
          "cosineNearDup or semanticNearDupPairs at scale")).isNull)
      .drop("__n")
    u.as("l").join(u.as("r"), col("l.vec_id") < col("r.vec_id"))
      .select(
        col("l.vec_id").as("vec_a"),
        col("r.vec_id").as("vec_b"),
        decDot(col("l.unit"), col("r.unit")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** SemDeDup-style semantic near-duplicate pairs: partition the
    * corpus into the coarse quantizer's clusters (the same fitted
    * KMeans the IVF index uses — one model serves both ops), then
    * compare pairs ONLY within a cluster, confirmed by exact cosine.
    * Published shape (Abbas et al., "SemDeDup"): semantic duplicates
    * land in the same cluster with overwhelming probability, so
    * cross-cluster comparisons — the n² bulk — are skipped entirely.
    * Within-cluster work is Σ|cluster|², bounded by choosing
    * nLists ∝ N/targetClusterSize at fit time; every reported pair is
    * exact-cosine-verified, so precision is 1 by construction and
    * only cross-cluster recall is approximate (the LSH-banded
    * [[cosineNearDup]] is the recall-tunable alternative).
    */
  /** The generalized core: near-dup pairs within a caller-supplied
    * coarse partition. `assigned` carries (vec_id, embedding,
    * list_id) — the list can come from [[assignLists]] (the KMeans
    * quantizer), from a precomputed offline assignment (how SemDeDup
    * runs at 100 TB: assign once, dedup many), or from any metadata
    * column that partitions the corpus. Within-partition work is
    * Σ|list|² — bounded by the partitioner's granularity — and every
    * reported pair is exact-cosine-verified, so precision is 1 by
    * construction; only cross-partition recall depends on the
    * partitioner.
    */
  def semanticNearDupPairsAssigned(
      assigned: DataFrame,
      threshold: Double
  ): DataFrame = {
    val u = unitized(assigned)
    val a = graft.Caches.track("vec", assigned
      .select(col("vec_id"), col("list_id"))
      .join(u, "vec_id"))
    a.as("l").join(a.as("r"),
      col("l.list_id") === col("r.list_id") &&
        col("l.vec_id") < col("r.vec_id"))
      .select(
        col("l.vec_id").as("vec_a"),
        col("r.vec_id").as("vec_b"),
        decDot(col("l.unit"), col("r.unit")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** KMeans coarse assignment for the SemDeDup operators — one
    * fitted quantizer serves IVF search and semantic dedup.
    */
  def assignLists(
      embeddings: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel
  ): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    model
      .transform(embeddings
        .withColumn("features", array_to_vector(col("embedding"))))
      .select(col("vec_id"), col("embedding"),
        col("prediction").as("list_id"))
  }

  def semanticNearDupPairs(
      embeddings: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel,
      threshold: Double
  ): DataFrame =
    semanticNearDupPairsAssigned(assignLists(embeddings, model),
      threshold)

  /** Semantic dedup keep-list: connected components over the
    * within-partition pair graph (reusing the same label-propagation
    * operator as text dedup — vec ids stand in for doc ids), keeping
    * each component's min-id representative. Returns
    * (vec_id, cluster, keep).
    */
  def semanticDedupAssigned(
      assigned: DataFrame,
      threshold: Double,
      precomputedPairs: Option[DataFrame] = None
  ): DataFrame = {
    val pairs = precomputedPairs
      .getOrElse(semanticNearDupPairsAssigned(assigned, threshold))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    // When the pair graph is confined to `assigned`'s lists — true
    // by construction for pairs from [[semanticNearDupPairsAssigned]]
    // over the SAME assignment (its self-join requires l.list_id ===
    // r.list_id) — components never span lists and the
    // zero-iteration partition-local walk replaces the global
    // label-propagation fixpoint (r17 ScaleBench measured the
    // iterative build at alpha 0.789 — the rounds' full-graph joins
    // + checkpoints + convergence counts, not the component math).
    // Confinement is CHECKED, not assumed: the attach joins recover
    // each endpoint's list (pair-set-sized work, orders of magnitude
    // below the corpus), and one tiny aggregate decides the path. A
    // caller whose pairs cross lists (e.g. label-built pairs scored
    // against a finer sublist assignment, the q_vec_cluster_reps
    // shape at m > 1) gets the general iterative fixpoint — same
    // unique min-reachable-id assignment either way, so the branch
    // is invisible in results.
    val lists = assigned.select(col("vec_id"), col("list_id"))
    val tagged = pairs
      .join(lists.select(col("vec_id").as("doc_a"),
        col("list_id").as("__pa")), "doc_a")
      .join(lists.select(col("vec_id").as("doc_b"),
        col("list_id").as("__pb")), "doc_b")
    val confined = tagged
      .agg(coalesce(max(when(col("__pa") =!= col("__pb"), 1L)
        .otherwise(0L)), lit(0L)).as("x"))
      .head.getLong(0) == 0L
    val docsOnly = assigned.select(col("vec_id").as("doc_id"))
    val clusters =
      if (confined)
        Text.dupClustersPartitioned(docsOnly,
          tagged.select(col("doc_a"), col("doc_b"),
            col("__pa").as("part")))
      else
        Text.dupClusters(docsOnly, pairs, cacheFamily = "vec")
    clusters
      .select(col("doc_id").as("vec_id"), col("cluster"),
        (col("doc_id") === col("cluster")).as("keep"))
  }

  def semanticDedup(
      embeddings: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel,
      threshold: Double
  ): DataFrame =
    semanticDedupAssigned(assignLists(embeddings, model), threshold)

  /** The persisted per-vector artifact the incremental SEMANTIC gate
    * consumes: `(vec_id, list_id, unit)` — coarse-list assignment
    * plus the unit-normalized vector. This is what a production
    * ingestion pipeline stores ONCE per vector (the embedding-side
    * sibling of [[graft.ops.Text.nearDupSignatures]]): at 100 TB the
    * seen side is this table, and no re-normalization or
    * re-assignment of the corpus ever runs per batch. `assigned`
    * carries `(vec_id, embedding, list_id)` — from [[assignLists]]
    * (the KMeans quantizer) or any offline assignment column.
    * Zero-norm vectors get NaN units; the gate's `!isnan` filter
    * drops their pairs (Spark ORDERS NaN above every value, so a bare
    * `>= threshold` would pass them) — they face no semantic gate
    * (nothing is directionally similar to a zero vector).
    */
  def semanticSignaturesAssigned(assigned: DataFrame): DataFrame =
    assigned
      .select(col("vec_id"), col("list_id"), col("embedding"),
        decNorm(col("embedding")).as("nrm"))
      .select(col("vec_id"), col("list_id"),
        transform(col("embedding"),
          // explicit NaN for the zero-norm case (ANSI sessions raise
          // DIVIDE_BY_ZERO instead of IEEE-dividing)
          x => when(col("nrm") === 0.0, lit(Double.NaN))
            .otherwise(x.cast("double") / col("nrm"))).as("unit"))

  def semanticSignatures(
      embeddings: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel
  ): DataFrame =
    semanticSignaturesAssigned(assignLists(embeddings, model))

  /** Incremental SEMANTIC-dup ingestion gate — the embedding-side
    * sibling of [[graft.ops.Text.incrementalNearDupSigs]]: which
    * vectors of an incoming batch are semantic near-duplicates
    * (cosine >= `threshold`) of the already-ingested corpus, under
    * the SemDeDup within-list comparison discipline (Abbas et al.):
    * a batch vector is compared ONLY against seen vectors in its
    * coarse list, so per-batch work is Σ over batch vectors of their
    * lists' occupancy — never batch × corpus. Cross-list recall is
    * the quantizer's loss, exactly as in
    * [[semanticNearDupPairsAssigned]]; every emitted pair is
    * exact-cosine-confirmed, so precision is 1.
    *
    * Both sides are PRECOMPUTED [[semanticSignaturesAssigned]]
    * artifacts — the deployment form: the seen corpus contributes a
    * stored-artifact scan, and the (small) batch side is broadcast,
    * so the seen table is never shuffled OR re-derived. Ids must be
    * disjoint across the two frames (same contract as the text
    * gates). Returns `(vec_a = batch id, vec_b = seen id, cos_sim)`.
    */
  def incrementalSemanticDupsSigs(
      batchSigs: DataFrame,
      seenSigs: DataFrame,
      threshold: Double
  ): DataFrame =
    seenSigs.as("s")
      .join(broadcast(batchSigs.as("b")),
        col("b.list_id") === col("s.list_id"))
      .select(col("b.vec_id").as("vec_a"),
        col("s.vec_id").as("vec_b"),
        decDot(col("b.unit"), col("s.unit")).as("cos_sim"))
      // !isnan is load-bearing: Spark's ordering puts NaN ABOVE every
      // value, so a zero-norm unit (NaN cosine) would pass a bare
      // >= threshold and gate the whole opposing list
      .filter(col("cos_sim") >= threshold && !isnan(col("cos_sim")))

  /** Recompute-from-embeddings convenience form of the semantic
    * gate: signs both sides with the model and delegates, so the two
    * forms cannot diverge. Use the sigs overload in deployment —
    * re-assigning the seen corpus per batch is the cost the stored
    * artifact exists to avoid.
    */
  def incrementalSemanticDups(
      batch: DataFrame,
      seen: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel,
      threshold: Double
  ): DataFrame =
    incrementalSemanticDupsSigs(
      semanticSignatures(batch, model),
      semanticSignatures(seen, model), threshold)

  /** Directed k-nearest-neighbor graph under the SemDeDup comparison
    * discipline: each vector's `k` most-cosine-similar neighbors
    * WITHIN its coarse list (ties → lowest neighbor id). The kNN
    * graph is the substrate of cluster-based curation (SemDeDup's
    * own extremity ranking, D4-style density pruning, graph-walk
    * sampling) — and the within-list restriction is what makes it
    * buildable at 100 TB: candidate volume is Σ|list|² like
    * [[semanticNearDupPairsAssigned]], never n², and per-vector
    * ranking runs through the MERGEABLE
    * [[graft.functions.TopKPairsAggregator]] — partial aggregation
    * keeps ≤ k pairs per vector per task, so the shuffle carries
    * k·|vectors| rows, never the Σ|list|² candidate set (a window
    * row_number form would shuffle AND sort every candidate — at
    * sf0.1's 400k candidates the two are within noise of each
    * other, but the shuffled volume diverges linearly in list
    * occupancy, which is what matters at corpus scale).
    * Cross-list neighbors are the quantizer's documented loss.
    * Zero-norm vectors emit no edges (NaN cosines are filtered, and
    * ranking NaN would be meaningless).
    *
    * `assigned` carries `(vec_id, embedding, list_id)` — offline
    * assignment or [[assignLists]]. Returns
    * `(vec_id, nbr_id, cos_sim, rank)`, rank 1 = nearest, order
    * contract (cos_sim DESC, nbr_id ASC) — deterministic.
    */
  def knnGraphAssigned(assigned: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val u = graft.Caches.track("vec", semanticSignaturesAssigned(assigned))
    val topk = udaf(new graft.functions.TopKPairsAggregator(k),
      org.apache.spark.sql.Encoders.product[(Double, Long)])
    u.as("l").join(u.as("r"),
        col("l.list_id") === col("r.list_id") &&
          col("l.vec_id") =!= col("r.vec_id"))
      .select(col("l.vec_id").as("vec_id"),
        col("r.vec_id").as("nbr_id"),
        decDot(col("l.unit"), col("r.unit")).as("cos_sim"))
      .filter(!isnan(col("cos_sim")))
      .groupBy(col("vec_id"))
      .agg(topk(col("cos_sim"), col("nbr_id")).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("vec_id"), col("e._2").as("nbr_id"),
        col("e._1").as("cos_sim"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** KMeans-quantizer form of the kNN graph (fit the model offline
    * with [[fitIvf]]; one quantizer serves search, dedup, and graph
    * construction).
    */
  def knnGraph(
      embeddings: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel,
      k: Int
  ): DataFrame =
    knnGraphAssigned(assignLists(embeddings, model), k)

  /** Hard-negative mining for contrastive/retrieval training (the
    * ANN-negatives recipe of DPR/Contriever): for each vector, its
    * `k` most cosine-similar neighbors from a DIFFERENT `group` —
    * similar enough to be hard, different enough to be guaranteed
    * negative. `group` is the positive-equivalence key (source
    * document, query cluster, language — whatever must never be
    * sampled as a negative for itself). Same within-`list_id`
    * comparison discipline and mergeable top-k as
    * [[knnGraphAssigned]] — candidates Σ|list|², shuffle k
    * pairs/vector — so the miner runs at corpus scale exactly where
    * the kNN graph does; cross-list negatives are the quantizer's
    * documented loss (raise nProbe-style coverage by coarsening the
    * lists if the negative pool must be wider).
    *
    * `assigned` carries `(vec_id, embedding, list_id, group)`.
    * Returns `(vec_id, neg_id, cos_sim, rank)`, rank 1 = hardest.
    */
  def hardNegativesAssigned(assigned: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val u = graft.Caches.track("vec",
      semanticSignaturesAssigned(assigned)
        .join(assigned.select(col("vec_id"), col("group")), "vec_id"))
    val topk = udaf(new graft.functions.TopKPairsAggregator(k),
      org.apache.spark.sql.Encoders.product[(Double, Long)])
    u.as("l").join(u.as("r"),
        col("l.list_id") === col("r.list_id") &&
          col("l.group") =!= col("r.group"))
      .select(col("l.vec_id").as("vec_id"),
        col("r.vec_id").as("neg_id"),
        decDot(col("l.unit"), col("r.unit")).as("cos_sim"))
      .filter(!isnan(col("cos_sim")))
      .groupBy(col("vec_id"))
      .agg(topk(col("cos_sim"), col("neg_id")).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("vec_id"), col("e._2").as("neg_id"),
        col("e._1").as("cos_sim"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** D4-style density pruning (Tirumala et al., "D4: Improving LLM
    * Pretraining via Document De-Duplication and Diversification",
    * 2023): a vector's local density is its mean cosine to its `k`
    * nearest within-list neighbors; vectors in overdense regions
    * (`mean_knn_cos > maxMeanCos`) are redundant mass the training
    * mix doesn't need and are marked `keep = false`. Composes
    * [[knnGraphAssigned]], so the scale shape is the graph's
    * (Σ|list|² candidates, k-pair shuffles). Vectors with NO
    * neighbors (singleton lists, zero-norm) have nothing measuring
    * their density and are kept.
    *
    * Determinism: the mean folds the per-vector top-k list in rank
    * order (collect_list is order-free only after the sort_array),
    * so the double sum is the same sequence in any partitioning —
    * the same trick as the oracle's `SUM(... ORDER BY rank)`.
    */
  def densityPrune(
      assigned: DataFrame,
      k: Int,
      maxMeanCos: Double
  ): DataFrame = {
    val density = knnGraphAssigned(assigned, k)
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(
        struct(col("rank"), col("cos_sim")))).as("nbrs"))
      .select(col("vec_id"),
        size(col("nbrs")).as("n_nbrs"),
        (aggregate(col("nbrs"), lit(0.0),
          (acc, x) => acc + x.getField("cos_sim")) /
          size(col("nbrs"))).as("mean_knn_cos"))
    assigned.select(col("vec_id"), col("list_id"))
      .join(density, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        coalesce(col("n_nbrs"), lit(0)).as("n_nbrs"),
        col("mean_knn_cos"),
        (col("mean_knn_cos").isNull ||
          col("mean_knn_cos") <= maxMeanCos).as("keep"))
  }

  def cosineNearDup(
      embeddings: DataFrame,
      threshold: Double,
      nBands: Int = 8,
      bitsPerBand: Int = 4,
      dim: Int = 64,
      maxPairsPerVector: Int = 0,
      bitsRefN: Long = 0L,
      quantizedVerify: Boolean = false
  ): DataFrame = {
    // Scale-honesty levers (both off by default = the recall-1 audit
    // config). When the threshold sits INSIDE the corpus's bulk
    // cosine distribution, the true pair count is itself ~n² and a
    // recall-1 sweep is infeasible at 100 TB no matter the engine —
    // the production form bounds both legs:
    //  - bitsRefN > 0: past bitsRefN vectors, bits/band grows by
    //    2·log2(n/bitsRefN), holding EXPECTED candidate volume
    //    ~linear (each extra bit halves a random pair's band
    //    collision odds; n² growth needs 2 bits per doubling). The
    //    recall price at the threshold floor is the documented
    //    bands/bits frontier (see Text.lshTuningCurve); exact
    //    duplicates (cos = 1) collide at ANY bit width.
    //  - maxPairsPerVector > 0: each left endpoint emits at most
    //    that many hardest pairs through the mergeable top-k
    //    aggregator — output and shuffle are ≤ cap·n rows; dedup
    //    needs per-vector evidence, not the full clique.
    // Below bitsRefN with a non-binding cap the result is
    // bit-identical to the plain config, which is what the oracle
    // validates at the test SFs.
    val effBits = if (bitsRefN > 0) {
      val n = embeddings.count()
      val extra =
        if (n > bitsRefN)
          (2.0 * math.log(n.toDouble / bitsRefN) / math.log(2.0)).toInt
        else 0
      math.min(bitsPerBand + extra, 48)
    } else bitsPerBand
    val planes = hyperplanes(nBands * effBits, dim)
    // All band hashes in ONE native pass (r18): the per-plane
    // when(decDot(...) >= 0, ...) assembly rebuilt nBands·effBits
    // separate expression trees — at the production bit growth
    // (320+ planes at 10× scale) that made the banding stage the
    // dominant n-scaling term of the whole operator (k10 profile:
    // 4.65 s of 9.0 s). Bitwise-identical hashes (same fold order,
    // same NaN/null policy — see HyperplaneBands).
    val bandArr = graft.functions.hyperplaneBands(
      col("unit"), planes, nBands, effBits)
    // Persist the unit vectors once (normalization + plane dots feed
    // both the banding and the verify legs); registered with Caches
    // so the family release unpersists it.
    val u = graft.Caches.track("vec", unitized(embeddings)
      .select(col("vec_id"), col("unit"), bandArr.as("bands")))
    // ids-ONLY through the band self-join: exploding the unit array
    // alongside the bands would push nBands copies of every vector
    // through the exchange (a nBands× data blowup at corpus scale).
    // Band rows are (id, band_idx, band_hash) triples; id pairs are
    // fetched and dotted as they collide (a pair colliding in k
    // bands pays k dots — ~3% of collisions at production bit
    // growth) and dedup to unique pairs after the threshold — the
    // same ids-first shape as Text.jaccardExactPairs' candidate
    // join, with the exchange moved to the surviving-pair set.
    val banded = u.select(col("vec_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    // Dedup AFTER the verify, not before (r18): at production bit
    // growth only ~3% of collisions repeat across bands (k10
    // profile: 8.31M → 8.03M), so a full exchange of the candidate
    // set to dedup it costs more than re-dotting the few repeats —
    // the distinct moves to the (tiny) surviving pair set. Repeated
    // pairs dot to the SAME cos_sim (one deterministic fold per
    // fetch), so dropDuplicates after the threshold keeps results
    // bit-identical to distinct-then-verify.
    val cands = banded.as("l").join(banded.as("r"),
        col("l.band_idx") === col("r.band_idx") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
    // Optional SQ8 first-pass verify (`quantizedVerify`) — the
    // quantizedTopK serving pattern applied to the pair verify: the
    // candidate stream fetches 4×-smaller int8 codes of the UNIT
    // vectors, scores by the exact integer dot descaled once, and
    // only survivors of a PROVABLY SOUND margin ever touch full
    // precision. Soundness: unit components are ≤ 1 in magnitude, so
    // the per-vector floor-quantization error satisfies
    // ‖u − û‖ ≤ √d·s/127 ≤ √d/127, giving
    // |u·v − û·v̂| ≤ 2√d/127 + d/127² (= 0.130 at d = 64); every
    // true pair (cos ≥ τ) therefore scores approx ≥ τ − margin and
    // SURVIVES, so the final output is bit-identical to the plain
    // path (differential spec pins it). NaN approx scores (zero-norm
    // units) pass through via `!(approx < cut)` — Spark orders NaN
    // above every double, so the plain path's `cos >= τ` admits
    // those pairs and the exact stage must stay their judge.
    val candsV =
      if (!quantizedVerify) cands
      else {
        val margin =
          2.0 * math.sqrt(dim) / 127.0 + dim / (127.0 * 127.0)
        val codes = graft.Caches.track("vec", u
          .select(col("vec_id"), col("unit"),
            aggregate(col("unit"), lit(0.0),
              (acc, x) => greatest(acc, abs(x))).as("__ma"))
          .select(col("vec_id"), col("__ma").as("scale"),
            transform(col("unit"), x =>
              when(isnan(col("__ma")) || col("__ma") === 0.0, lit(0))
                .otherwise(floor(x / col("__ma") * 127).cast("int")))
              .as("qvec")))
        cands
          .join(codes.select(col("vec_id").as("vec_a"),
            col("qvec").as("qa"), col("scale").as("sa")), "vec_a")
          .join(codes.select(col("vec_id").as("vec_b"),
            col("qvec").as("qb"), col("scale").as("sb")), "vec_b")
          .select(col("vec_a"), col("vec_b"),
            (decDot(col("qa"), col("qb")) *
              (col("sa") * col("sb") / 16129.0)).as("__approx"))
          .filter(!(col("__approx") < lit(threshold - margin)))
          .select(col("vec_a"), col("vec_b"))
      }
    val pairs = candsV
      .join(u.select(col("vec_id").as("vec_a"), col("unit").as("ua")),
        "vec_a")
      .join(u.select(col("vec_id").as("vec_b"), col("unit").as("ub")),
        "vec_b")
      .select(col("vec_a"), col("vec_b"),
        decDot(col("ua"), col("ub")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .dropDuplicates("vec_a", "vec_b")
    if (maxPairsPerVector <= 0) pairs
    else {
      val topk = udaf(
        new graft.functions.TopKPairsAggregator(maxPairsPerVector),
        org.apache.spark.sql.Encoders.product[(Double, Long)])
      pairs.groupBy(col("vec_a"))
        .agg(topk(col("cos_sim"), col("vec_b")).as("top"))
        .select(col("vec_a"), explode(col("top")).as("e"))
        .select(col("vec_a"), col("e._2").as("vec_b"),
          col("e._1").as("cos_sim"))
    }
  }

  /** Coarse-grid cell density per embedding: quantize the first
    * `gridDims` unit-vector components to a `g`-cell lattice and
    * count corpus neighbors in the same cell — the cheap density
    * signal behind duplicate-region detection and outlier triage
    * (cell_count 1 = isolated; huge cells = embedding-space clumps a
    * dedup pass should visit first). Grid quantization is the
    * integer-exact cousin of the KMeans assignment (no fitted model,
    * so a SQL oracle CAN replay it): floor on top of the
    * deterministic unit normalization, then one groupBy on the cell
    * key and a broadcast-able attribution join (cell table ≤ g^dims
    * rows). All scan-side except the tiny agg — at 100 TB this is a
    * single pass plus a map-side join.
    */
  def gridDensity(
      embeddings: DataFrame,
      gridDims: Int = 4,
      g: Int = 4
  ): DataFrame = {
    val cells = (0 until gridDims).map { i =>
      floor(element_at(col("unit"), i + 1) * g).cast("int").as(s"c$i")
    }
    val keyed = unitized(embeddings)
      .select(col("vec_id") +: cells: _*)
    val cellCols = (0 until gridDims).map(i => col(s"c$i"))
    val counts = keyed.groupBy(cellCols: _*)
      .agg(count(lit(1)).as("cell_count"))
    keyed.join(broadcast(counts), (0 until gridDims).map(i => s"c$i"))
  }

  /** Graph-centrality curation signal: PageRank over the within-list
    * kNN graph ([[knnGraphAssigned]]), in EXACT q20 fixed-point
    * integer arithmetic so the score is bitwise engine- and
    * partitioning-independent (long adds commute; `div` is the only
    * division). The damping recurrence uses the rational constants
    * 0.15·2^20 = floor → 157286 and 0.85 = 17/20:
    *
    *   pr_0(v)   = 2^20
    *   share(u)  = pr(u) div outdeg(u)
    *   pr_t+1(v) = 157286 + (17 · Σ_{u→v} share(u)) div 20
    *
    * Dangling mass (vectors with no out-edges — singleton lists,
    * zero-norm) decays toward the base term, the usual simplification
    * when centrality RANKS documents rather than models a surfer.
    *
    * Scale shape: the edge list is k·n rows and is persisted once
    * (iterating over a recomputed kNN join would re-pay the Σ|list|²
    * candidate scan per iteration); each iteration is one map-side-
    * combined aggregation over the edges plus a broadcast-free n-row
    * join — `iters` shuffles of k·n rows total, no driver-side state.
    * Centrality-ranked representative selection (keep the highest-pr
    * member of each dup cluster, or sample ∝ pr) composes downstream
    * exactly like qualityScore.
    *
    * Returns `(vec_id, pr_q20)`; `pr_q20 / 2^20` ≈ classic PageRank
    * scaled by n (mass n·2^20 at t=0).
    */
  def knnPagerankAssigned(
      assigned: DataFrame,
      k: Int = 3,
      iters: Int = 3
  ): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    // Persisted exactly once: the edge list, so the Σ|list|² kNN
    // join runs a single time and every iteration joins against the
    // cache. The pr lineage itself is left LAZY at the conventional
    // iteration counts — iteration t's plan nominally re-derives t-1,
    // but every leaf it touches is the cached edge table, so the
    // recompute is a few in-memory joins; persisting each pr
    // generation instead was MEASURED 5× slower end to end at sf0.1
    // (three extra materialization barriers outweigh re-running cheap
    // cached-input joins). Past ~8 iterations the O(iters²) replay
    // flips the tradeoff, so deep runs truncate each generation to a
    // lazy localCheckpoint (ENFORCED below, not just documented —
    // the public API accepts any `iters`); the checkpoint blocks are
    // registered for the session's family release.
    val edges = graft.Caches.track("vec",
      knnGraphAssigned(assigned, k)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, "src")
    val nodes = assigned.select(col("vec_id"))
    var pr = nodes.select(col("vec_id"),
      lit(1048576L).as("pr_q20"))
    for (_ <- 1 to iters) {
      val contrib = withDeg
        .join(pr.withColumnRenamed("vec_id", "src"), "src")
        .groupBy(col("dst"))
        .agg(sum(expr("pr_q20 div deg")).as("s"))
      pr = nodes
        .join(contrib.withColumnRenamed("dst", "vec_id"),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          (lit(157286L) +
            expr("(17 * coalesce(s, 0L)) div 20")).as("pr_q20"))
      if (iters > lazyLineageMaxIters) pr = truncateGeneration(pr)
    }
    pr
  }

  /** Personalized PageRank (random walk with restart) from one seed
    * vector over the within-list kNN graph — the "related items from
    * THIS item" serving primitive next to the global
    * [[knnPagerankAssigned]] centrality: the restart mass returns to
    * the SEED every hop instead of spreading uniformly, so the
    * stationary mass ranks the seed's graph neighborhood (the
    * query-time recommendation / local-community read every vector
    * store pairs with its index). Same exact q20 integer recurrence
    * as the global operator (α = 0.15 → `157286` at the seed only,
    * `17·s div 20` for the damped flow; every sum exact, `div`
    * floors identically in both engines) so the whole ranking
    * hash-compares. Same scale shape too: the edge build is the
    * session-shared kNN graph (Σ|list|² candidates bounded by the
    * sublist cap), each iteration one join + one agg on the k·n edge
    * list; the final cut is TakeOrdered, never a global sort.
    *
    * Dangling kNN sinks leak their flow mass exactly as in the
    * global operator (documented convention, identical twin).
    * Returns the `topN` rows `(vec_id, ppr_q20, rank)` —
    * seed included (it holds the restart mass by construction).
    */
  def pprAssigned(
      assigned: DataFrame,
      seedId: Long,
      k: Int = 3,
      iters: Int = 3,
      topN: Int = 25,
      precomputedKnn: Option[DataFrame] = None
  ): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    require(topN >= 1, s"topN must be positive, got $topN")
    val edges = graft.Caches.track("vec",
      precomputedKnn.getOrElse(knnGraphAssigned(assigned, k))
        .select(col("vec_id").as("src"), col("nbr_id").as("dst")))
    val nodes = assigned.select(col("vec_id"))
    // Single-task route on the kNN edge count: all `iters` rounds of
    // the q20 fixpoint run in one task instead of iters × (join +
    // agg + left-join) Spark rounds. Identical mass:
    // the recurrence is integer sums and floor-divs of non-negative
    // longs (order-independent, Scala `/` ≡ Spark `div` on
    // non-negatives), mass is restricted to `nodes` each round
    // exactly as the left-join form does, and the seed's restart
    // mass applies only when the seed is a node. Differential test
    // in VectorSpec pins gate ≡ iterative.
    if (SingleTask.fits(edges.count())) {
      val spark = assigned.sparkSession
      import spark.implicits._
      val massDf = SingleTask.run(edges
        .select(lit(0).as("t"), col("src"), col("dst"))
        .unionAll(nodes.select(lit(1).as("t"),
          col("vec_id").as("src"), lit(0L).as("dst")))
        .as[(Int, Long, Long)]) { it =>
        val esrc = scala.collection.mutable.ArrayBuffer.empty[Long]
        val edst = scala.collection.mutable.ArrayBuffer.empty[Long]
        val deg = scala.collection.mutable.LongMap.empty[Long]
        val nodeSet = scala.collection.mutable.HashSet.empty[Long]
        it.foreach { case (t, s, d) =>
          if (t == 1) nodeSet += s
          else {
            esrc += s; edst += d
            deg(s) = deg.getOrElse(s, 0L) + 1L
          }
        }
        var pr = scala.collection.mutable.LongMap.empty[Long]
        if (nodeSet.contains(seedId)) pr(seedId) = 1048576L
        for (_ <- 1 to iters) {
          val s = scala.collection.mutable.LongMap.empty[Long]
          var i = 0
          while (i < esrc.length) {
            val m = pr.getOrElse(esrc(i), 0L)
            if (m != 0L) {
              val c = m / deg(esrc(i))
              if (c != 0L)
                s(edst(i)) = s.getOrElse(edst(i), 0L) + c
            }
            i += 1
          }
          val next = scala.collection.mutable.LongMap.empty[Long]
          s.foreach { case (v, sv) =>
            if (nodeSet.contains(v) && v != seedId) {
              val m = (17L * sv) / 20L
              if (m != 0L) next(v) = m
            }
          }
          if (nodeSet.contains(seedId))
            next(seedId) = 157286L + (17L * s.getOrElse(seedId, 0L)) / 20L
          pr = next
        }
        pr.iterator
      }.toDF("vec_id", "m")
      val prFull = nodes
        .join(massDf, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("m"), lit(0L)).as("ppr_q20"))
      val topG = prFull.orderBy(col("ppr_q20").desc, col("vec_id"))
        .limit(topN)
      return topG.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ppr_q20").desc, col("vec_id"))).cast("int"))
    }
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, "src")
    val seedMass = (c: Column) =>
      when(c === seedId, lit(157286L)).otherwise(lit(0L))
    var pr = nodes.select(col("vec_id"),
      when(col("vec_id") === seedId, lit(1048576L)).otherwise(lit(0L))
        .as("ppr_q20"))
    for (_ <- 1 to iters) {
      val contrib = withDeg
        .join(pr.withColumnRenamed("vec_id", "src"), "src")
        .groupBy(col("dst"))
        .agg(sum(expr("ppr_q20 div deg")).as("s"))
      pr = nodes
        .join(contrib.withColumnRenamed("dst", "vec_id"),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          (seedMass(col("vec_id")) +
            expr("(17 * coalesce(s, 0L)) div 20")).as("ppr_q20"))
      if (iters > lazyLineageMaxIters) pr = truncateGeneration(pr)
    }
    val top = pr.orderBy(col("ppr_q20").desc, col("vec_id"))
      .limit(topN)
    top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ppr_q20").desc, col("vec_id"))).cast("int"))
  }

  /** Dedup threshold→structure curve: for each cosine threshold τ,
    * the pair count, component count, largest component and the docs
    * dedup would DROP (members − components) — the table that
    * answers "how aggressive can the semantic dedup get before it
    * collapses the corpus" BEFORE committing a τ (the embedding-side
    * sibling of Text's dedup_curve, but over component STRUCTURE,
    * not just pair counts: a τ that only doubles pairs can still
    * merge two giant clusters).
    *
    * Scale shape: the pair graph is built ONCE (the session-shared
    * within-list pair cache at the FLOOR threshold) and every τ ≥
    * floor is a filter over it; each τ's components run through the
    * zero-iteration partition-local union-find
    * ([[Text.dupClustersPartitioned]] via [[semanticDedupAssigned]]),
    * so the whole curve costs |taus| passes over the (tiny) pair
    * set + one corpus-sized anti-join each — never a fixpoint
    * iteration, never n².
    */
  def dedupThresholdCurve(
      assigned: DataFrame,
      taus: Seq[Double],
      precomputedPairs: DataFrame
  ): DataFrame = {
    require(taus.nonEmpty, "need at least one tau")
    taus.sorted.map { tau =>
      val pr = precomputedPairs.filter(col("cos_sim") >= tau)
      val nPairs = pr.agg(count(lit(1)).as("n_pairs"))
      val sizes = semanticDedupAssigned(assigned, tau,
        precomputedPairs = Some(pr))
        .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
      sizes.agg(
        count(lit(1)).as("n_components"),
        max(col("sz")).as("max_component"),
        sum(col("sz")).as("__n_total"))
        .crossJoin(broadcast(nPairs))
        .select(
          lit(math.round(tau * 100)).as("tau_centi"),
          col("n_pairs"),
          col("n_components"),
          col("max_component"),
          (col("__n_total") - col("n_components")).as("n_dropped"))
    }.reduce(_.unionByName(_)).orderBy(col("tau_centi"))
  }

  /** Iterations up to which the iterative graph operators
    * ([[knnPagerankAssigned]], [[labelPropagationAssigned]]) leave
    * per-generation lineage lazy (measured faster — see the
    * persist-tradeoff note in knnPagerankAssigned); past this, each
    * generation is truncated to a localCheckpoint so plan replay
    * stays O(iters) instead of O(iters²).
    */
  val lazyLineageMaxIters = 8

  /** Truncate one generation of an iterative frame to a LAZY
    * localCheckpoint (materialized by the caller's next action, one
    * job total — the dupClusters trick) and register its blocks for
    * the vec-family release.
    */
  private def truncateGeneration(df: DataFrame): DataFrame = {
    // statsResetLeaf: localCheckpoint copies the PRE-truncation
    // plan's sizeInBytes estimate into the leaf, so generation N's
    // estimate is a PRODUCT over generation N-1's — digits grow with
    // every generation and Catalyst's BigInt stats walk turns
    // iteration superlinear (the dupClusters r11 lesson; label_prop
    // measured alpha 1.4 at ScaleBench k=10 before this)
    graft.Caches.lazySnapshot("vec", df)
  }

  /** Centrality-ranked duplicate-cluster representative selection:
    * SemDeDup connected components ([[semanticDedupAssigned]]) pick
    * WHICH vectors are redundant; PageRank over the within-list kNN
    * graph ([[knnPagerankAssigned]]) picks which copy to KEEP — the
    * member most central to the corpus neighborhood, instead of the
    * arbitrary min-id. The min-id rule keeps whatever ingestion
    * order happened to put first; the centrality rule keeps the copy
    * other documents are most similar to — the cluster's natural
    * exemplar (the same upgrade `Text.dupClusterSurvivors` makes
    * with the quality score, here in embedding space).
    *
    * Both inputs are session-shared materializations; the selection
    * itself is one max-struct argmax per cluster (ties → lowest
    * vec_id, encoded as max over (pr, -vec_id)) — the
    * dupClusterSurvivors shape, exact and deterministic end to end
    * because pr_q20 is an exact integer.
    *
    * Returns `(cluster, rep_id, rep_pr_q20, n_members)`.
    */
  def centralityRepresentatives(
      assigned: DataFrame,
      threshold: Double,
      k: Int = 3,
      iters: Int = 3,
      precomputedPairs: Option[DataFrame] = None
  ): DataFrame = {
    val clusters = semanticDedupAssigned(assigned, threshold,
      precomputedPairs)
    val pr = knnPagerankAssigned(assigned, k, iters)
    clusters
      .join(pr, "vec_id")
      .groupBy(col("cluster"))
      .agg(
        max(struct(col("pr_q20"), (-col("vec_id")).as("neg_id")))
          .as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"),
        (-col("best.neg_id")).as("rep_id"),
        col("best.pr_q20").as("rep_pr_q20"),
        col("n_members"))
  }

  /** Recall@k of an approximate ranking against the exact one — the
    * evaluation operator every ANN serving stack needs next to its
    * index (FAISS reports it; so should a Spark curation pipeline).
    * Inputs are two rankings `(query_id, vec_id, rank)`; for each
    * query, recall = |approx top-k ∩ exact top-k| / |exact top-k|
    * (the denominator follows the exact side, so queries with fewer
    * than k true neighbors — boundary lists, zero-norm exclusions —
    * are scored against what exists; queries absent from the exact
    * side emit no row). Reported as exact-integer ppm
    * (`hits·10⁶ div n_exact`) so the whole evaluation hash-compares.
    *
    * Shape at scale: one join on (query_id, vec_id) + two
    * map-side-combined counts — evaluation always runs on a sampled
    * query set, so every side is query-set-sized, never corpus².
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    // dedup both rank-filtered sides: a ranking that lists the same
    // (query, vec) twice inside its top-k must count as ONE hit/one
    // true neighbor, or recall_ppm can exceed 10^6
    val a = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    val e = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    val hits = a.join(e, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    e.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_exact"),
        expr("(coalesce(n_hits, 0L) * 1000000L) div n_exact")
          .as("recall_ppm"))
  }

  /** Semi-supervised label propagation over the within-list kNN
    * graph — the third graph operator next to connected components
    * and PageRank, and the standard way to stretch a small set of
    * human labels (domain, quality tier, topic) over an unlabeled
    * corpus: each unlabeled vector adopts the MAJORITY label of its
    * k nearest neighbors, iterated; seed labels are clamped (they
    * are ground truth). Labels may be ANY orderable type — numeric
    * tiers or string domains/topics alike (the argmax never
    * arithmetics the label). Deterministic end to end: votes are
    * integer counts, the argmax tie-breaks to the SMALLEST label, and a
    * vector with no labeled neighbor stays unlabeled — so the whole
    * fixpoint approximation is engine-exact and SQL-twinnable by
    * unrolling (the PageRank contract).
    *
    * Shape at scale: the k·n edge list is persisted once (one
    * Σ|list|² kNN join); each iteration is one edge⋈label join +
    * one map-side-combined (node, label) count + one max-struct
    * argmax — everything keyed by vec_id, nothing corpus-quadratic.
    * `seeds` carries `(vec_id, lab)`; returns
    * `(vec_id, lab nullable, is_seed)`.
    */
  def labelPropagationAssigned(
      assigned: DataFrame,
      seeds: DataFrame,
      k: Int = 3,
      iters: Int = 3,
      precomputedKnn: Option[DataFrame] = None
  ): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    val edges = graft.Caches.track("vec",
      precomputedKnn.getOrElse(knnGraphAssigned(assigned, k))
        .select(col("vec_id").as("src"), col("nbr_id").as("dst")))
    val seedTbl = seeds.select(col("vec_id"), col("lab"))
    var labels = seedTbl
    for (_ <- 1 to iters) {
      val adopted = edges
        .join(labels.withColumnRenamed("vec_id", "dst"), "dst")
        .groupBy(col("src"), col("lab"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("src"))
        // argmax by (votes DESC, lab ASC): min over (-votes, lab).
        // Only the VOTE count is negated (always a long); the label
        // itself is compared natively, so any orderable label type —
        // numeric tier, string domain/topic — works without a cast
        // (max over (votes, -lab) would nullify string labels).
        .agg(min(struct((-col("votes")).as("neg_votes"), col("lab")))
          .as("best"))
        .select(col("src").as("vec_id"), col("best.lab").as("lab"))
        // clamp: a seed keeps its ground truth whatever the votes say
        .join(seedTbl.select(col("vec_id")), Seq("vec_id"),
          "left_anti")
      labels = seedTbl.unionByName(adopted)
      // deep runs truncate per generation — the knnPagerankAssigned
      // lineage discipline (lazy below the threshold, O(iters) above)
      if (iters > lazyLineageMaxIters)
        labels = truncateGeneration(labels)
    }
    assigned.select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left")
      .join(seedTbl.select(col("vec_id"), lit(true).as("is_seed")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("lab"),
        coalesce(col("is_seed"), lit(false)).as("is_seed"))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) — the
    * standard way to merge rankings from heterogeneous retrievers
    * (BM25 lexical + embedding cosine is the canonical hybrid pair;
    * scores are incomparable across systems, ranks are not):
    *
    *   rrf_score_q20(id) = Σ_systems ⌊2^20 / (k0 + rank_sys(id))⌋
    *
    * floored per system to an exact integer, so the fused ordering is
    * engine- and partitioning-independent (same q20 discipline as
    * the BM25 twin; the classic 1/(60+r) values are well within the
    * 2^-20 grid). Inputs are `(id, rank)` frames — each system's
    * top-N, so every side is query-result-sized; the fuse is one
    * union + one map-side-combined agg + TakeOrdered. `n_systems`
    * reports coverage (an id ranked by both systems is stronger
    * evidence than a high rank in one).
    */
  def rrfFuse(
      rankings: Seq[DataFrame],
      k: Int,
      k0: Int = 60
  ): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: at least one ranking")
    require(k >= 1, s"k must be positive, got $k")
    // k0 = 0 with a 0-based ranking would divide by zero (null under
    // Spark's div, silently dropped by the sum while n_systems still
    // counts the row); k0 >= 1 keeps every denominator positive for
    // any rank >= 0
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    rankings
      // one row per id per system: a retriever that emits the same id
      // twice must contribute its BEST rank once, not both — otherwise
      // score and n_systems both double-count
      .map(_.groupBy(col("id")).agg(min(col("rank")).as("rank"))
        .select(col("id"),
          expr(s"1048576L div (${k0}L + rank)").as("s")))
      .reduce(_.unionByName(_))
      .groupBy(col("id"))
      .agg(sum(col("s")).as("rrf_score_q20"),
        count(lit(1)).as("n_systems"))
      .orderBy(col("rrf_score_q20").desc, col("id"))
      .limit(k)
  }

  /** KMeans-quantizer form (fit offline with [[fitIvf]]). */
  def knnPagerank(
      embeddings: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel,
      k: Int = 3,
      iters: Int = 3
  ): DataFrame =
    knnPagerankAssigned(assignLists(embeddings, model), k, iters)

  // ---- PCA (exact-integer moment skeleton + driver-side Jacobi) ----

  /** PCA over embeddings, the fit-small/apply-everywhere split
    * (same contract as [[fitPq]]/`trainQualityClassifier`): the fit
    * reduces the corpus to a d×d second-moment skeleton in EXACT q16
    * integers — one scan, map-side-combined, nothing driver-side
    * above d² longs — and the eigensolve runs on the d×d driver-side
    * matrix (model-sized by definition). `components` rows are unit
    * eigenvectors, eigenvalue-descending, sign-normalized (first
    * nonzero coordinate positive) so two fits are bitwise-identical.
    */
  final case class PcaModel(
      dim: Int,
      nVecs: Long,
      mean: Array[Double],
      eigenvalues: Array[Double],
      components: Array[Array[Double]])

  /** Exact q16 moment skeleton: one row per (i ≤ j) dimension pair
    * with `sxy_q16` = Σ_v xq_i(v)·xq_j(v), the first moments of both
    * dims, and the count — where xq = floor(x·2^16) (the operator's
    * documented quantized view of the corpus; 2^-16 is far below
    * float32 embedding noise). All-long arithmetic: partition- and
    * engine-invariant, so the whole skeleton hash-compares against a
    * SQL twin. Shape: each task folds its rows into one packed
    * d(d+1)/2 upper-triangle long array in place; the single 1-row
    * merge ([[graft.functions.LongArraySumAggregator]]) moves one
    * skeleton array per task — at 100 TB this is ONE pass and d²/2
    * longs, the classic distributed-Gram reduction.
    *
    * Exactness bound: for unit-norm inputs |xq_i·xq_j| ≤ 2^32, so the
    * long sum is exact while n·2^32 < 2^63 — i.e. up to ~2.1e9 vectors
    * (embeddings with coordinates up to |x| ≤ m raise the per-row term
    * to m²·2^32 and shrink the bound by m²). Past that, shard the
    * corpus, run the skeleton per shard, and merge the shards'
    * `sxy_q16` in decimal(38,0) — the skeleton is mergeable by
    * construction (plain sums); alternatively drop to a q12 view
    * (2^-12 is still below float32 embedding noise at d = 64) for
    * 256× more headroom in one pass.
    */
  def pcaMomentsQ16(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val arrSum = udaf(new graft.functions.LongArraySumAggregator,
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[Long]]())
    // r19 (guide §2.3 — aggregate before you shuffle): quantize in
    // the scan stage, then fold the WHOLE d(d+1)/2 upper-triangle
    // Gram into one task-local long array per partition (~16 KB at
    // d = 64). The n·d²/2 multiply-adds run as tight JVM loops in
    // place and only one skeleton row per partition reaches the
    // 1-row merge — the previous per-(vec, i) posexplode pushed
    // n·d rows, each carrying a j ≥ i product ARRAY, through a
    // boxed Seq[Long] UDAF (identical sums, 10× the allocation).
    // Plain long sums commute, so the result is partition-invariant
    // and bit-identical to the old shape by construction.
    val xq = embeddings.select(
      transform(col("embedding"),
        x => floor(x.cast("double") * 65536).cast("long")).as("xq"))
    val part = xq.as[Seq[Long]].mapPartitions { it =>
      var d = -1
      var n = 0L
      var sxy: Array[Long] = null
      var sx: Array[Long] = null
      it.foreach { v =>
        if (d < 0) {
          d = v.length
          sxy = new Array[Long](d * (d + 1) / 2)
          sx = new Array[Long](d)
        }
        // same fixed-dim contract the old arrSum-over-prods shape
        // enforced (its array-length require fired on ragged input)
        require(v.length == d,
          s"array length mismatch: $d vs ${v.length}")
        n += 1
        var i = 0
        var off = 0
        while (i < d) {
          val xi = v(i)
          sx(i) += xi
          var j = i
          while (j < d) { sxy(off) += xi * v(j); j += 1; off += 1 }
          i += 1
        }
      }
      if (n == 0) Iterator.empty
      else Iterator((n, sxy.toSeq, sx.toSeq))
    }.toDF("n", "sxy", "sx")
    // merge the ≤ #partitions skeleton rows, then unpack the packed
    // row-major triangle back to (i, j) rows with codegen
    // expressions: row i's entries (i, j = i..d−1) sit at offsets
    // i·d − i(i−1)/2 .. +(d−i−1); an empty corpus leaves the explode
    // input NULL → zero rows, matching the old empty output
    part
      .agg(sum(col("n")).as("n_vecs"),
        arrSum(col("sxy")).as("sxy"), arrSum(col("sx")).as("sx"))
      .withColumn("d", size(col("sx")))
      .select(col("n_vecs"), col("sxy"), col("sx"), col("d"),
        explode(when(col("d") > 0,
          sequence(lit(0), col("d") - 1))).as("i"))
      .select(col("n_vecs"), col("sx"), col("d"), col("i"),
        posexplode(slice(col("sxy"),
          expr("CAST(i * d - (i * (i - 1)) div 2 + 1 AS INT)"),
          col("d") - col("i"))).as(Seq("joff", "sxy_q16")))
      .select(col("i"), (col("i") + col("joff")).cast("int").as("j"),
        col("sxy_q16"),
        element_at(col("sx"), col("i") + 1).as("sx_q16"),
        element_at(col("sx"), col("i") + col("joff") + 1)
          .as("sy_q16"),
        col("n_vecs"))
  }

  /** Fit: collect the (tiny) moment skeleton, form the covariance in
    * doubles (deterministic — every input is an exact long), and run
    * cyclic Jacobi to convergence. O(d³) driver work for d = 64.
    */
  def fitPca(embeddings: DataFrame): PcaModel = {
    val rows = pcaMomentsQ16(embeddings).collect()
    require(rows.nonEmpty, "fitPca: empty corpus")
    val d = rows.iterator.map(_.getAs[Int]("j")).max + 1
    val n = rows.head.getAs[Long]("n_vecs")
    val sx = new Array[Double](d)
    val cov = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val i = r.getAs[Int]("i"); val j = r.getAs[Int]("j")
      if (i == j) sx(i) = r.getAs[Long]("sx_q16").toDouble
      val sxy = r.getAs[Long]("sxy_q16").toDouble
      val c = (sxy / n - (r.getAs[Long]("sx_q16").toDouble / n) *
        (r.getAs[Long]("sy_q16").toDouble / n)) / 65536.0 / 65536.0
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (evals, vecs) = jacobiEigen(cov)
    PcaModel(d, n, sx.map(_ / n / 65536.0), evals, vecs)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix:
    * deterministic sweep order (row-major upper triangle), fixed
    * rotation formula, sweeps until the off-diagonal mass is ~0.
    * Returns (eigenvalues desc, eigenvectors as rows) with the sign
    * convention fixed (first coordinate with |x| > 1e-12 positive).
    */
  private[ops] def jacobiEigen(
      a0: Array[Array[Double]]
  ): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-22) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        off += a(p)(q) * a(p)(q)
        if (math.abs(a(p)(q)) > 1e-14) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) /
            (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (i <- 0 until d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
          }
          for (i <- 0 until d) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = c * api - s * aqi
            a(q)(i) = s * api + c * aqi
          }
          for (i <- 0 until d) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
          }
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val evals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { ci =>
      val comp = Array.tabulate(d)(r => v(r)(ci))
      val lead = comp.indexWhere(x => math.abs(x) > 1e-12)
      if (lead >= 0 && comp(lead) < 0) comp.map(x => -x) else comp
    }.toArray
    (evals, vecs)
  }

  /** Apply: project (and optionally whiten) every embedding onto the
    * top-`k` components. Pure scan-stage arithmetic — the model rides
    * in as column literals (k·d doubles), each output coordinate is a
    * fixed-order fold, no shuffle, no MLlib at serving (the same
    * serving split as `classifierScore`). Inputs go through the SAME
    * q16 quantization as the fit, so projected sample covariance is
    * exactly V'CV = diag(eigenvalues) up to IEEE rounding — the
    * invariant the spec pins. Whitening divides coordinate c by
    * sqrt(eigenvalue_c) (skipped for eigenvalues ≤ 1e-12: a
    * zero-variance direction has nothing to whiten).
    */
  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (d × k),
    * derived from MD5 parity of `"i:j:jl"` so BOTH engines use the
    * IDENTICAL matrix — the Spark side folds it in as literal arrays,
    * the SQL twin joins the same values as a VALUES table (the
    * benfordPpm shared-literal pattern; [[jlSignsSql]] renders it).
    */
  def jlSigns(d: Int, k: Int): IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until d).map(i => (0 until k).map { j =>
      val h = md.digest(s"$i:$j:jl".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1 else -1
    })
  }

  /** The same matrix as a `(i, j, sgn)` VALUES body for the oracle. */
  def jlSignsSql(d: Int, k: Int): String =
    jlSigns(d, k).zipWithIndex.flatMap { case (row, i) =>
      row.zipWithIndex.map { case (s, j) => s"($i, $j, $s)" }
    }.mkString(", ")

  /** Random (sign) projection — the fit-free member of the
    * dimensionality-reduction family: where [[pcaProject]] needs a
    * moments pass and an eigendecomposition, the JL projection
    * `y_j = Σ_i x_i·s_ij` with a FIXED ±1 matrix preserves pairwise
    * distances in expectation (`E[‖y_a−y_b‖²] = k·‖a−b‖²` for ±1
    * signs) with no training data at all — the right sketch when the
    * corpus is too big or too fresh to fit against. Per output dim
    * the fold runs in array order (the [[decDot]] determinism
    * contract), so the doubles hash-compare against the SQL twin's
    * `SUM(... ORDER BY i)`.
    *
    * Shape at scale: scan-stage arithmetic only — k literal-array
    * folds per row, no shuffle, no fit, embarrassingly parallel.
    */
  def randomProjection(
      embeddings: DataFrame,
      outDims: Int = 16,
      dims: Int = 64
  ): DataFrame = {
    require(outDims >= 1 && dims >= 1,
      s"dims must be positive, got $outDims/$dims")
    val signs = jlSigns(dims, outDims)
    val comps = (0 until outDims).map { j =>
      val sLit = array((0 until dims).map(i =>
        lit(signs(i)(j).toDouble)): _*)
      aggregate(
        zip_with(col("embedding"), sLit,
          (x, s) => x.cast("double") * s),
        lit(0.0), (acc, v) => acc + v).as(s"p$j")
    }
    embeddings.select(col("vec_id"), array(comps: _*).as("proj"))
  }

  /** Measured JL distortion on deterministic adjacent-id pairs —
    * the audit that closes [[randomProjection]]'s loop the way
    * `minhashRecallAudit` closes the LSH frontier: per pair
    * (2m, 2m+1), the original squared distance, the projected
    * squared distance, and `ratio_ppm = ⌊d2_proj·10⁶/(k·d2_orig)⌋`
    * — the JL guarantee says the ratios concentrate around 10⁶.
    * Zero-distance pairs emit NULL ratio. The pair join is an
    * id-equality join (no similarity search); every fold is
    * array-ordered, so the whole audit hash-compares.
    */
  def jlDistortion(
      embeddings: DataFrame,
      outDims: Int = 16,
      dims: Int = 64
  ): DataFrame = {
    val proj = randomProjection(embeddings, outDims, dims)
    val withProj = embeddings.select(col("vec_id"), col("embedding"))
      .join(proj, "vec_id")
    def d2(a: Column, b: Column): Column =
      aggregate(
        zip_with(a, b,
          (x, y) => (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
    withProj.as("a")
      .filter(col("vec_id") % 2 === 0)
      .join(withProj.as("b"),
        col("a.vec_id") + 1 === col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id_a"),
        col("b.vec_id").as("vec_id_b"),
        d2(col("a.embedding"), col("b.embedding")).as("d2_orig"),
        d2(col("a.proj"), col("b.proj")).as("d2_proj"))
      .withColumn("ratio_ppm",
        when(col("d2_orig") > 0,
          floor(col("d2_proj") * 1e6 /
            (lit(outDims.toDouble) * col("d2_orig"))).cast("long")))
  }

  def pcaProject(
      embeddings: DataFrame,
      model: PcaModel,
      k: Int,
      whiten: Boolean = false
  ): DataFrame = {
    require(k >= 1 && k <= model.dim,
      s"k must be in [1, ${model.dim}], got $k")
    val meanLit = array(model.mean.map(lit(_)): _*)
    // the fit's quantized view, centered — computed once per row
    val cent = zip_with(
      transform(col("embedding"),
        x => floor(x.cast("double") * 65536) / 65536.0),
      meanLit, (x, m) => x - m)
    val comps = (0 until k).map { c =>
      val wLit = array(model.components(c).map(lit(_)): _*)
      val scale =
        if (whiten && model.eigenvalues(c) > 1e-12)
          1.0 / math.sqrt(model.eigenvalues(c))
        else 1.0
      (aggregate(
        zip_with(col("cent"), wLit, (x, w) => x * w),
        lit(0.0), (acc, v) => acc + v) * scale).as(s"p$c")
    }
    embeddings.withColumn("cent", cent)
      .select(col("vec_id"), array(comps: _*).as("proj"))
  }

  /** The undirected support pairs of a kNN graph — one `(a, b)` row
    * per edge, `a < b` — persisted for the vec-family release.
    */
  private def undirectedEdges(knn: DataFrame): DataFrame =
    graft.Caches.track("vec", knn
      .select(least(col("vec_id"), col("nbr_id")).as("a"),
        greatest(col("vec_id"), col("nbr_id")).as("b"))
      .distinct())

  /** Local clustering coefficient over the within-list kNN graph —
    * the graph-density quality signal that complements
    * [[knnPagerankAssigned]] (centrality says "how connected"; the
    * clustering coefficient says "how clique-like"): a vector whose
    * neighbors are also each other's neighbors sits in a tight
    * near-duplicate clump, one with a star-shaped neighborhood is a
    * genuine hub. Edges come from [[knnGraphAssigned]] (same k, same
    * list discipline), symmetrized to undirected support pairs
    * (LEAST/GREATEST + distinct); triangles enumerate by the ordered
    * two-hop join a<b<c, then attribute to all three corners.
    * Exact integers end to end:
    * `coeff_ppm = (2·10⁶·T) div (deg·(deg−1))`, 0 when deg < 2.
    *
    * Scale shape: |edges| ≤ k·n after symmetrization, and every
    * vertex has degree ≤ 2k, so the two-hop join emits ≤ 2k rows per
    * edge — O(k²·n) triangle candidates total, linear in corpus size
    * for fixed k. Nothing touches an embedding after the kNN build.
    */
  def triangleCoefficientAssigned(
      assigned: DataFrame,
      k: Int,
      precomputedKnn: Option[DataFrame] = None): DataFrame = {
    val und = undirectedEdges(
      precomputedKnn.getOrElse(knnGraphAssigned(assigned, k)))
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
    val tri = und.as("e1")
      .join(und.as("e2"), col("e2.a") === col("e1.b"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"))
    val triPerV = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    deg.join(triPerV, Seq("v"), "left")
      .select(col("v").as("vec_id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff_ppm",
        when(col("degree") >= 2,
          expr("(2000000 * n_tri) div (degree * (degree - 1))"))
          .otherwise(lit(0L)))
  }

  /** Σ deg² over the undirected edge set — the upper bound on the
    * two-path expansion the link-prediction operators enumerate. One
    * small aggregate over the session-persisted edge frame.
    */
  private def twoPathWork(und: DataFrame): Long = {
    val r = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(col("d") * col("d")), lit(0L)).as("w"))
      .collect()
    if (r.isEmpty || r.head.isNullAt(0)) 0L else r.head.getLong(0)
  }

  /** Whether [[commonNeighbours]] over `und` fits one task: the edge
    * set within [[SingleTask.maxRows]] AND the two-path expansion
    * Σ deg² — what the task actually enumerates; a single hub makes
    * it ≫ |edges| — within 4× that (Σ deg² ≤ 4·cap ⟺ ⌈Σ deg²/4⌉ ≤ cap).
    */
  private def commonNeighboursFit(und: DataFrame): Boolean =
    SingleTask.fits(und.count()) &&
      SingleTask.fits((twoPathWork(und) + 3) / 4)

  /** Every non-edge two-hop pair `va < vb` of the undirected edge set
    * `und`, enumerated in memory in one task: `common_nbrs`,
    * `ra_micro` (Σ over common neighbours z of ⌊10⁶/deg z⌋) and both
    * degrees. Each unordered neighbour pair of each middle vertex is
    * counted exactly once, existing edges are skipped, and every sum
    * is of non-negative integers in any order, so the rows equal the
    * join pipelines' of [[linkPredictionAssigned]] and
    * [[resourceAllocationLinkPred]], which project from it.
    */
  private def commonNeighbours(und: DataFrame): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    import scala.collection.mutable
    SingleTask.run(und.select(col("a"), col("b")).as[(Long, Long)]) { it =>
      val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
      val edgeSet = mutable.HashSet.empty[(Long, Long)]
      def add(u: Long, v: Long): Unit =
        adj.getOrElseUpdate(u, mutable.ArrayBuffer.empty[Long]) += v
      it.foreach { case (a, b) =>
        add(a, b); add(b, a); edgeSet += ((a, b))
      }
      // (common count, RA share sum) per pair: one lookup per two-path
      val acc = mutable.HashMap.empty[(Long, Long), Array[Long]]
      adj.foreach { case (_, ns) =>
        val share = 1000000L / ns.length
        var i = 0
        while (i < ns.length) {
          var j = i + 1
          while (j < ns.length) {
            val x = ns(i); val y = ns(j)
            val c = acc.getOrElseUpdate(if (x < y) (x, y) else (y, x),
              new Array[Long](2))
            c(0) += 1L; c(1) += share
            j += 1
          }
          i += 1
        }
      }
      acc.iterator.collect {
        case ((va, vb), c) if !edgeSet((va, vb)) =>
          (va, vb, c(0), c(1), adj(va).length.toLong,
            adj(vb).length.toLong)
      }
    }.toDF("va", "vb", "common_nbrs", "ra_micro", "deg_a", "deg_b")
  }

  /** Common-neighbor link prediction over the within-list kNN graph —
    * the standard graph-side augmentation audit for retrieval/
    * contrastive training data (two documents that share many
    * graph neighbors but are NOT yet linked are the candidate
    * positives worth labeling next — and conversely, a flood of
    * high-score non-edges means the kNN `k` truncated real
    * structure). For every 2-hop pair `(a, b)` that is NOT an edge:
    * `common_nbrs` (shared-neighbor count), both degrees, and
    * neighbor-set Jaccard `common·10⁶ div (deg_a + deg_b − common)`
    * — pure integer counts over the SAME session-shared undirected
    * edge set as [[triangleCoefficientAssigned]] /
    * [[kCoreAssigned]]. Returns the top `topN` by
    * `(common desc, jaccard desc, pair asc)` — a deterministic
    * total order.
    *
    * Scale shape: the symmetrized edge list self-joins on the middle
    * vertex — Σ deg² rows, and degree is ≤ 2k by construction, so
    * the blowup is ≤ 4k²·n (linear in n for fixed k); the non-edge
    * filter is a broadcast-able anti join on the edge set; the
    * top-N is TakeOrdered (no global sort).
    */
  def linkPredictionAssigned(
      assigned: DataFrame,
      k: Int,
      topN: Int = 100,
      precomputedKnn: Option[DataFrame] = None): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val und = undirectedEdges(
      precomputedKnn.getOrElse(knnGraphAssigned(assigned, k)))
    // Single-task route: the common-neighbour count runs in memory
    // (identical pairs, see [[commonNeighbours]]) instead of the sym
    // self-join + anti-join + two degree joins. Differential test in
    // VectorSpec pins both routes.
    val cand = if (commonNeighboursFit(und)) commonNeighbours(und) else {
      val sym = und.select(col("a").as("v"), col("b").as("w"))
        .unionAll(und.select(col("b").as("v"), col("a").as("w")))
      val deg = sym.groupBy(col("v")).agg(count(lit(1)).as("degree"))
      val two = sym.as("e1")
        .join(sym.as("e2"), col("e1.w") === col("e2.v") &&
          col("e1.v") < col("e2.w"))
        .select(col("e1.v").as("va"), col("e2.w").as("vb"))
        .groupBy(col("va"), col("vb"))
        .agg(count(lit(1)).as("common_nbrs"))
      two.join(und,
          col("va") === col("a") && col("vb") === col("b"), "left_anti")
        .join(deg.select(col("v").as("va"), col("degree").as("deg_a")),
          "va")
        .join(deg.select(col("v").as("vb"), col("degree").as("deg_b")),
          "vb")
    }
    cand
      .select(col("va").as("vec_a"), col("vb").as("vec_b"),
        col("common_nbrs"), col("deg_a"), col("deg_b"),
        expr("common_nbrs * 1000000 div " +
          "(deg_a + deg_b - common_nbrs)").as("jaccard_ppm"))
      .orderBy(col("common_nbrs").desc, col("jaccard_ppm").desc,
        col("vec_a"), col("vec_b"))
      .limit(topN)
  }

  /** Resource-Allocation link prediction over the within-list kNN
    * graph — the degree-weighted sibling of
    * [[linkPredictionAssigned]] (Zhou/Lü/Zhang 2009): a shared
    * neighbor z is worth 1/deg(z), so two vectors tied together only
    * through a promiscuous hub score near zero while a pair sharing a
    * low-degree specialist scores high — empirically the strongest of
    * the local similarity indices on sparse graphs, and the form that
    * matters on kNN graphs where hub formation is the dominant noise.
    * Adamic–Adar's 1/log deg needs a transcendental; RA's 1/deg is
    * pure rational, so the score is an EXACT integer: Σ over common
    * neighbors of floor(10^6/deg(z)) — a sum of per-z integer floors
    * both engines compute identically.
    *
    * Same Σ deg² two-path expansion, non-edge anti join, and
    * TakeOrdered head as [[linkPredictionAssigned]]; deg(z) joins the
    * count-sized degree table onto the middle vertex BEFORE the
    * group, so the fold stays one aggregation.
    */
  def resourceAllocationLinkPred(
      assigned: DataFrame,
      k: Int,
      topN: Int = 100,
      precomputedKnn: Option[DataFrame] = None): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val und = undirectedEdges(
      precomputedKnn.getOrElse(knnGraphAssigned(assigned, k)))
    // Single-task route: same enumeration and identical-pairs
    // argument as linkPredictionAssigned. Differential test in
    // VectorSpec.
    val cand = if (commonNeighboursFit(und)) commonNeighbours(und) else {
      val sym = und.select(col("a").as("v"), col("b").as("w"))
        .unionAll(und.select(col("b").as("v"), col("a").as("w")))
      val deg = sym.groupBy(col("v")).agg(count(lit(1)).as("degree"))
      sym.as("e1")
        .join(sym.as("e2"), col("e1.w") === col("e2.v") &&
          col("e1.v") < col("e2.w"))
        .select(col("e1.v").as("va"), col("e1.w").as("z"),
          col("e2.w").as("vb"))
        .join(deg.select(col("v").as("z"), col("degree").as("deg_z")),
          "z")
        .groupBy(col("va"), col("vb"))
        .agg(count(lit(1)).as("common_nbrs"),
          sum(expr("1000000 div deg_z")).as("ra_micro"))
        .join(und, col("va") === col("a") && col("vb") === col("b"),
          "left_anti")
    }
    cand
      .select(col("va").as("vec_a"), col("vb").as("vec_b"),
        col("common_nbrs"), col("ra_micro"))
      .orderBy(col("ra_micro").desc, col("common_nbrs").desc,
        col("vec_a"), col("vec_b"))
      .limit(topN)
  }

  /** Rounds-bounded k-core peel of the within-list kNN graph — the
    * dense-core detector that pairs with [[triangleCoefficientAssigned]]
    * (a high-coefficient vertex sits in SOME clique; a k-core member
    * sits in a subgraph where EVERYONE keeps ≥ `coreK` neighbors
    * after the loosely-attached shell is stripped — the standard
    * "template farm / boilerplate hub" signature in near-dup
    * analysis). Each round recomputes degrees on the surviving edge
    * set and drops vertices below `coreK`; `rounds` is a fixed
    * unroll (the [[knnPagerankAssigned]] convention — the peel
    * converges geometrically on kNN graphs, and a bounded unroll is
    * what the exact SQL twin can mirror). Past
    * [[lazyLineageMaxIters]] rounds each generation truncates to a
    * lazy localCheckpoint, same as the other iterative operators.
    *
    * Output: `(vec_id, core_degree, in_core)` — residual degree
    * after the last peel, and membership (`core_degree >= coreK`).
    * Exact integers; edge set ≤ k·n rows, each round two narrow
    * aggregations + two semi-join-shaped filters.
    */
  def kCoreAssigned(
      assigned: DataFrame,
      k: Int = 3,
      coreK: Int = 2,
      rounds: Int = 3,
      precomputedKnn: Option[DataFrame] = None
  ): DataFrame = {
    require(coreK >= 1, s"coreK must be positive, got $coreK")
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    var edges = undirectedEdges(
      precomputedKnn.getOrElse(knnGraphAssigned(assigned, k)))
    // Single-task route on the undirected edge count: all `rounds`
    // peel rounds run in memory in one task — no per-round degree
    // shuffles, no per-round localCheckpoints. Identical peel: each
    // round keeps exactly the edges whose BOTH endpoints hold degree
    // ≥ coreK on the surviving set (pure integer counting).
    // Differential test in VectorSpec pins gate ≡ iterative.
    if (SingleTask.fits(edges.count())) {
      val spark = assigned.sparkSession
      import spark.implicits._
      val degF = SingleTask.run(
          edges.select(col("a"), col("b")).as[(Long, Long)]) { it =>
        var ea = scala.collection.mutable.ArrayBuffer.empty[Long]
        var eb = scala.collection.mutable.ArrayBuffer.empty[Long]
        it.foreach { case (a, b) => ea += a; eb += b }
        for (_ <- 1 to rounds) {
          val deg = scala.collection.mutable.LongMap.empty[Long]
          var i = 0
          while (i < ea.length) {
            deg(ea(i)) = deg.getOrElse(ea(i), 0L) + 1L
            deg(eb(i)) = deg.getOrElse(eb(i), 0L) + 1L
            i += 1
          }
          val na = scala.collection.mutable.ArrayBuffer.empty[Long]
          val nb = scala.collection.mutable.ArrayBuffer.empty[Long]
          i = 0
          while (i < ea.length) {
            if (deg(ea(i)) >= coreK && deg(eb(i)) >= coreK) {
              na += ea(i); nb += eb(i)
            }
            i += 1
          }
          ea = na; eb = nb
        }
        val degFinal = scala.collection.mutable.LongMap.empty[Long]
        var i = 0
        while (i < ea.length) {
          degFinal(ea(i)) = degFinal.getOrElse(ea(i), 0L) + 1L
          degFinal(eb(i)) = degFinal.getOrElse(eb(i), 0L) + 1L
          i += 1
        }
        degFinal.iterator
      }.toDF("vec_id", "core_degree")
      return assigned.select(col("vec_id"))
        .join(degF, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("core_degree"), lit(0L)).as("core_degree"))
        .withColumn("in_core", col("core_degree") >= coreK)
    }
    for (_ <- 1 to rounds) {
      val deg = edges.select(col("a").as("v"))
        .unionAll(edges.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val alive = deg.filter(col("deg") >= coreK).select(col("v"))
      // UNLIKE the PageRank recurrence (one reference per
      // generation, lazy lineage measured-optimal), each peel round
      // references the previous edge set THREE times (twice through
      // the degree union, once as the join probe), so the LOGICAL
      // plan triples per round and Catalyst re-optimizes the whole
      // tree at every broadcast-subtree job — measured 33 s for 3
      // rounds on 500 vectors lazy, and persist alone doesn't help
      // (caching is physical; planning still walks the full tree,
      // 2→4 s/round growth at 2 k vectors). Truncating each
      // generation to a lazy localCheckpoint keeps plans — and
      // rounds — O(1).
      edges = truncateGeneration(edges
        .join(alive.withColumnRenamed("v", "a"), Seq("a"))
        .join(alive.withColumnRenamed("v", "b"), Seq("b"))
        .select(col("a"), col("b")))
    }
    val degF = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("core_degree"))
    assigned.select(col("vec_id"))
      .join(degF.withColumnRenamed("v", "vec_id"), Seq("vec_id"),
        "left")
      .select(col("vec_id"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"))
      .withColumn("in_core", col("core_degree") >= coreK)
  }

  /** Sign-binarized embeddings: each 32-dim block packs into one
    * non-negative BIGINT word (bit j of word w set ⇔ coordinate
    * 32·w+j > 0) — the 32-bits-per-float compression behind binary
    * quantization in modern vector stores (faiss `IndexBinaryFlat`,
    * the Hamming-prefilter deployment mode): a 64-dim float
    * embedding becomes two longs, 32× smaller, and Hamming distance
    * on the words approximates angle (sign-LSH guarantee — the
    * [[simhash]] bound in embedding space). 32-bit blocks, not 64:
    * bit 63 would make the word negative, and summed bit-weights
    * overflow BIGINT in engines that check (the oracle does).
    * Scan-stage arithmetic only.
    */
  def binarize(embeddings: DataFrame, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be positive, got $dim")
    val nWords = (dim + 31) / 32
    // bit weights are Scala-level constants (1L << j) — the whole
    // word is one codegen'd sum of conditional literals, no
    // shift-by-column anywhere
    val wordCols = (0 until nWords).map { w =>
      (0 until math.min(32, dim - w * 32)).map { j =>
        when(element_at(col("embedding"), w * 32 + j + 1) > 0f,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    embeddings.select(col("vec_id"), array(wordCols: _*).as("words"))
  }

  /** Hamming top-k over [[binarize]]d embeddings — the binary
    * retrieval first pass (rescore survivors with exact cosine where
    * recall matters; [[matryoshkaTopK]] is the same envelope shape
    * for prefix quantization). Distance =
    * Σ_w bit_count(words[w] XOR q[w]) — pure codegen integer ops in
    * the scan stage, top-k via TakeOrdered (`hamming` ASC, `vec_id`
    * ASC tie-break), never a global sort. The 1-row query broadcasts.
    */
  def binaryTopK(
      embeddings: DataFrame,
      dim: Int,
      queryId: Long,
      k: Int
  ): DataFrame = {
    val bin = binarize(embeddings, dim)
    val q = bin.filter(col("vec_id") === queryId)
      .select(col("words").as("q_words"))
    bin.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        aggregate(
          zip_with(col("words"), col("q_words"),
            (a, b) => a.bitwiseXOR(b)),
          lit(0L),
          (acc, x) => acc + bit_count(x).cast("long"))
          .as("hamming"))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(k)
  }

  /** Per-label isotropy audit — the embedding-geometry health check
    * (Ethayarajh 2019: contextual embeddings are anisotropic; a
    * collapsed/anisotropic space breaks cosine-based dedup and
    * retrieval long before recall metrics notice). Mean pairwise dot
    * needs no pair join: for q16-quantized coordinates,
    * `Σ_{i≠j} x_i·x_j = ||Σx||² − Σ||x||²` — two exact-long
    * reductions per label, one scan total. The exact-integer
    * skeleton (`n`, `s2_q` = ‖dim-sum‖², `norm2_q` = Σ‖x‖²) is the
    * hash contract; `aniso_ppm` = ⌊10⁶·(s2−norm2)/((n−1)·norm2)⌋ is
    * the mean pairwise cosine for ~unit vectors (isotropic ≈ 0,
    * collapsed → 10⁶), the same floored-IEEE convention as
    * [[centroidDriftQ16]]. Overflow bound: per-label Σ|xq_d| < 2³¹
    * (~2¹⁵ unit vectors/label); shard-and-merge beyond.
    */
  def isotropyAuditQ16(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"),
        posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * 65536).cast("long")))
          .as(Seq("i", "xq")))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("xq")).as("s"), sum(col("xq") * col("xq")).as("q2"),
        count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n"),
        sum(col("s") * col("s")).as("s2_q"),
        sum(col("q2")).as("norm2_q"))
      .withColumn("aniso_ppm",
        when(col("n") <= 1 || col("norm2_q") === 0, lit(0L))
          .otherwise(floor(
            lit(1000000.0) *
              (col("s2_q") - col("norm2_q")).cast("double") /
              ((col("n") - 1).cast("double") *
                col("norm2_q").cast("double"))).cast("long")))

  /** Inverted-list balance audit — the quantizer-health table for
    * every IVF-family index here ([[assignLists]], [[ivfPqIndex]],
    * the ingestion gates' list discipline): per list, occupancy,
    * corpus share in exact ppm, and `imbalance_milli` =
    * 1000·n·nLists/total (1000 = perfectly balanced; a 5000-milli
    * list does 5× the within-list verify work of the mean — the
    * EXACT quantity the Σ|list|² scale disciplines degrade by).
    * One tiny aggregation + a broadcast of the 1-row total.
    */
  def listBalance(assigned: DataFrame): DataFrame = {
    val counts = assigned.groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_vecs"))
    val totals = counts.agg(
      sum(col("n_vecs")).as("total"),
      count(lit(1)).as("n_lists"))
    counts.crossJoin(broadcast(totals))
      .select(col("list_id"), col("n_vecs"),
        expr("(1000000 * n_vecs) div total").as("share_ppm"),
        expr("(1000 * n_vecs * n_lists) div total")
          .as("imbalance_milli"))
  }

  /** Per-label centroid drift between two embedding snapshots — the
    * embedding-space twin of `Text.qualityDrift` (re-embedding a
    * corpus with a new encoder, or ingesting a new crawl, silently
    * moves the geometry under every fitted quantizer/classifier;
    * this is the audit that catches it). Each side reduces to
    * per-(label, dim) SUMS of q16-quantized coordinates
    * (`⌊x·2¹⁶⌋`, the [[pcaMomentsQ16]] convention) — exact longs,
    * and cosine is scale-invariant so the centroid cosine equals the
    * cosine of the dim-sum vectors, no division by n anywhere. The
    * exact-integer skeleton (`dot_q`, `na2_q`, `nb2_q`, counts) is
    * the hash-compared contract; `cos_ppm` = ⌊10⁶·dot/√(na2·nb2)⌋
    * evaluates the SAME IEEE-double expression in both engines on
    * those exact longs (floor, not round — no half-way mode to
    * disagree on). Overflow bound documented like pcaMomentsQ16:
    * per-label Σ|xq| < 2³¹ holds to ~2¹⁵ vectors/label/side at unit
    * norm; beyond that, pre-aggregate per shard.
    *
    * Shape at scale: two scans (one per side) each reducing to
    * #labels·d rows of longs, one broadcast-sized join on
    * (label, dim), one #labels-row output. The drift of two 100 TB
    * snapshots moves d longs per label, never a vector.
    */
  def centroidDriftQ16(a: DataFrame, b: DataFrame): DataFrame = {
    def side(df: DataFrame, s: String): DataFrame = df
      .select(col("label"),
        posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * 65536).cast("long")))
          .as(Seq("i", "xq")))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("xq")).as(s"s$s"), count(lit(1)).as(s"n$s"))
    side(a, "a").join(side(b, "b"), Seq("label", "i"))
      .groupBy(col("label"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("sa") * col("sb")).as("dot_q"),
        sum(col("sa") * col("sa")).as("na2_q"),
        sum(col("sb") * col("sb")).as("nb2_q"))
      .withColumn("cos_ppm",
        when(col("na2_q") === 0 || col("nb2_q") === 0, lit(0L))
          .otherwise(floor(
            lit(1000000.0) * col("dot_q").cast("double") /
              sqrt(col("na2_q").cast("double") *
                col("nb2_q").cast("double"))).cast("long")))
  }

  /** Chunk→document embedding pooling: mean of the member vectors
    * per group, the standard reduction when retrieval indexes
    * chunk-level embeddings but dedup/curation decisions are made
    * per document. Emitted in long format — one row per (group, dim)
    * with the exact q16 member sum, the member count, and the mean
    * formed from those two exact longs in one division — so the
    * pooled representation itself hash-compares and downstream
    * cosine on pooled vectors is reproducible.
    *
    * Shape at scale: one explode + one map-side-combining aggregation
    * on (group, dim); d longs per group cross the shuffle, never
    * member vectors. Σ|xq| per (group, dim) stays exact to ~2^46
    * members at unit norm.
    */
  def meanPool(vectors: DataFrame, groupCol: Column): DataFrame =
    vectors
      .select(groupCol.as("group_id"),
        posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * 65536).cast("long")))
          .as(Seq("i", "xq")))
      .groupBy(col("group_id"), col("i"))
      .agg(sum(col("xq")).as("sum_q16"), count(lit(1)).as("n_members"))
      .withColumn("mean_q16",
        col("sum_q16").cast("double") / col("n_members").cast("double"))

  /** Graded ranking-quality metrics (MRR + nDCG@k) of any
    * approximate ranking against the exact one — the IR-standard
    * companions of [[recallAtK]]: recall says WHETHER the true
    * neighbors appear, nDCG says whether they appear IN ORDER, and
    * MRR says how deep the single best item sank. Relevance is
    * graded by the exact side's rank (`rel = k − rank + 1`), the
    * usual convention when ground truth is itself a ranking.
    *
    * Arithmetic contract: per-position DCG gains are
    * `⌊rel·2^20 / log2(rank+1)⌋` longs (the q20 floor absorbs libm
    * ulp), DCG/IDCG are order-free long sums, and the final
    * nDCG/MRR are pure integer divisions — the whole table
    * hash-compares. Query-result-sized throughout: both inputs are
    * top-k frames, joins are per-query k-row, never corpus-sized.
    * Queries whose exact top-1 misses the approximate list get
    * `rr_q20 = 0` (and missing overlap degrades DCG to 0) rather
    * than dropping out.
    */
  def rankingMetrics(
      ranked: DataFrame,
      truth: DataFrame,
      k: Int
  ): DataFrame = {
    require(k > 0, s"evaluation depth must be positive, got $k")
    // persisted: the graded truth feeds the DCG join AND the IDCG
    // aggregation — unpersisted, the caller's (possibly corpus-scan)
    // truth ranking would compute twice
    val t = graft.Caches.track("vec", truth.filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"),
        (lit(k) - col("rank") + 1).as("rel"),
        col("rank").as("t_rank")))
    val r = ranked.filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"))
    val gains = r.join(t, Seq("query_id", "vec_id"))
      .select(col("query_id"),
        floor(col("rel").cast("double") * 1048576.0 /
          log2(col("rank") + 1)).cast("long").as("gain_q20"),
        when(col("t_rank") === 1, col("rank")).as("top_rank"))
    val dcg = gains.groupBy(col("query_id"))
      .agg(sum(col("gain_q20")).as("dcg_raw"),
        min(col("top_rank")).as("rank_of_top"))
    val idcg = t
      .select(col("query_id"),
        floor(col("rel").cast("double") * 1048576.0 /
          log2(col("t_rank") + 1)).cast("long").as("g"))
      .groupBy(col("query_id")).agg(sum(col("g")).as("idcg_q20"))
    idcg.join(dcg, Seq("query_id"), "left")
      .withColumn("dcg_q20", coalesce(col("dcg_raw"), lit(0L)))
      .withColumn("ndcg_ppm", expr("(dcg_q20 * 1000000) div idcg_q20"))
      .withColumn("rr_q20",
        when(col("rank_of_top").isNotNull,
          expr("CAST(1048576 AS BIGINT) div CAST(rank_of_top AS BIGINT)"))
          .otherwise(lit(0L)))
      .select(col("query_id"), col("dcg_q20"), col("idcg_q20"),
        col("ndcg_ppm"), col("rr_q20"))
  }

  /** Density-weighted coreset sampling: draw `k` vectors with
    * inclusion probability ∝ 1/cell_count over the [[gridDensity]]
    * lattice — the embedding-space coverage sample (dense regions
    * contribute representatives, sparse regions keep theirs) that a
    * diversity-first data mix wants where uniform sampling
    * oversamples the modes. The Efraimidis–Spirakis key with
    * w = 1/cell_count simplifies to ln(u)·cell_count — exact op
    * chain, q20-quantized, deterministic via the md5 uniform — so
    * the selected set is engine-invariant and reproducible.
    *
    * Scale shape: [[gridDensity]]'s lattice counts are
    * O(g^gridDims) rows broadcast back to the corpus, scoring is
    * map-side, selection is the distributed top-k frontier. No
    * global sort, no pairwise anything — the lattice stands in for
    * the pairwise-distance coverage objective (greedy k-center is
    * inherently sequential and does not distribute).
    */
  def coresetSample(
      embeddings: DataFrame,
      k: Int,
      gridDims: Int = 4,
      g: Int = 4,
      salt: String = "coreset"
  ): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val u = (Text.draw60(concat(col("vec_id").cast("string"),
      lit(":" + salt))) + 1).cast("double") /
      lit(1L << 60).cast("double")
    gridDensity(embeddings, gridDims, g)
      .withColumn("key_q20",
        floor(log(u) * col("cell_count").cast("double") * (1L << 20))
          .cast("long"))
      .select(col("vec_id"), col("cell_count"), col("key_q20"))
      .orderBy(col("key_q20").desc, col("vec_id"))
      .limit(k)
  }

  /** Facility-location coverage audit of a data-selection method:
    * `coverage(S) = mean_x max_{s∈S} cos(x, s)` — the k-center/
    * submodular objective that coreset selection papers optimize,
    * evaluated EXACTLY for the engine's own [[coresetSample]]
    * against a plain hashed sample of the same size. The table that
    * says whether the density-weighted selection actually buys
    * representativeness over "just hash-pick k rows" at this corpus
    * — the audit to read before spending a selection pass at 100 TB.
    *
    * Determinism: per-vector best-cosine is floored to q20 BEFORE
    * summing (integer sums are order-free, so Spark's unordered
    * partial aggregation and the twin's scan agree bitwise); the
    * division to ppm is DECIMAL/HUGEINT-bridged with the sign-split
    * convention (best-cosine can be negative on adversarial
    * corpora, and floor-vs-truncate differ there). Zero-norm
    * vectors are excluded from scoring on both sides (cosineSafe
    * guard ≡ the twin's norm filters).
    *
    * Scale shape: both selections are TakeOrdered heads (k rows),
    * BROADCAST into one corpus scan each; per-x max collapses
    * map-side in the partial aggregate, so the only exchange ships
    * one skinny (id, q20) row per vector. O(k·N) total, no corpus
    * self-join.
    */
  def facilityCoverage(
      embeddings: DataFrame,
      k: Int = 32,
      gridDims: Int = 4,
      g: Int = 4
  ): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val sel = coresetSample(embeddings, k, gridDims, g)
      .select(col("vec_id"))
    val hashed = embeddings
      .orderBy(pmod(col("vec_id").cast("decimal(38,0)")
        * lit(2654435761L), lit(4294967296L)), col("vec_id"))
      .limit(k)
      .select(col("vec_id"))
    def cover(ids: DataFrame, name: String): DataFrame = {
      // ids is a TakeOrdered HEAD (k rows) — broadcast it into the
      // corpus scan, never the reverse
      val s = embeddings.join(broadcast(ids), "vec_id")
        .select(col("vec_id").as("sid"),
          col("embedding").as("s_emb"))
      val best = embeddings.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(s))
        .select(col("vec_id"),
          cosineSafe(col("embedding"), col("s_emb")).as("cs"))
        .filter(col("cs").isNotNull)
        .groupBy(col("vec_id"))
        .agg(max(col("cs")).as("best"))
        .select(floor(col("best") * lit(1048576.0)).cast("long")
          .as("b_q20"))
      val sz = s.agg(count(lit(1)).as("set_size"))
      best.agg(count(lit(1)).as("n_scored"),
          coalesce(sum(col("b_q20")), lit(0L))
            .as("coverage_q20_sum"))
        .crossJoin(broadcast(sz))
        .select(lit(name).as("method"), col("set_size"),
          col("n_scored"), col("coverage_q20_sum"),
          when(col("n_scored") > 0,
            when(col("coverage_q20_sum") >= 0, expr(
              """CAST(CAST(coverage_q20_sum AS DECIMAL(38,0))
                | * 1000000 div (CAST(n_scored AS DECIMAL(38,0))
                | * 1048576) AS BIGINT)"""
                .stripMargin.replace("\n", " ")))
              .otherwise(expr(
                """CAST(-(CAST(-coverage_q20_sum AS DECIMAL(38,0))
                  | * 1000000 div (CAST(n_scored AS DECIMAL(38,0))
                  | * 1048576)) AS BIGINT)"""
                  .stripMargin.replace("\n", " "))))
            .otherwise(lit(0L)).as("mean_coverage_ppm"))
    }
    cover(sel, "coreset").unionByName(cover(hashed, "hash"))
      .orderBy(col("method"))
  }

  /** Diagonal-Mahalanobis embedding outliers: score each vector by
    * Σ_i (xq_i − μ_i)²/σ_i² over the q16-quantized view and keep the
    * top `k` — the curation gate that catches encoder failures (junk
    * pages, truncated inputs, wrong-modality content embed far from
    * the data cloud along SOME axis even when their norm looks
    * normal). Diagonal covariance is the deliberate scale choice: the
    * full-Σ score needs the inverse of [[pcaMomentsQ16]]'s Gram
    * matrix (an offline fit), while the diagonal needs only d
    * (mean, variance) pairs — one aggregation, no fit, and the score
    * it produces is the standard first-pass anomaly signal.
    *
    * Pipeline: one scan reduces the corpus to d rows of exact long
    * moments (map-side partials; |xq| ≤ 2^16-ish keeps Σxq² exact to
    * ~2^30 vectors at unit norm); those d rows broadcast back and
    * every vector scores map-side — per-dim z² quantized to q20
    * longs (deterministic IEEE chain both engines), summed in any
    * order. Zero-variance dims are excluded on both engine and
    * oracle sides (they carry no anomaly information and would
    * divide by zero). Top-k is per-partition heads + k-row merge,
    * never a full sort.
    */
  def mahalanobisOutliers(embeddings: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"top-k must be positive, got $k")
    // persisted: the exploded q16 frame feeds BOTH the moment
    // aggregation and the scoring join — unpersisted, the corpus
    // explode would run twice; released with the vec family
    val xq = graft.Caches.track("vec", embeddings.select(col("vec_id"),
      posexplode(transform(col("embedding"),
        x => floor(x.cast("double") * 65536).cast("long")))
        .as(Seq("i", "xq"))))
    val nD = col("n").cast("double")
    val mean = col("s").cast("double") / nD
    val variance = col("ss").cast("double") / nD - mean * mean
    val stats = xq
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n"), sum(col("xq")).as("s"),
        sum(col("xq") * col("xq")).as("ss"))
      .select(col("i"), mean.as("mean"), variance.as("variance"))
      .filter(col("variance") > 0.0)
    val dx = col("xq").cast("double") - col("mean")
    xq.join(broadcast(stats), "i")
      .select(col("vec_id"),
        floor(dx * dx / col("variance") * (1L << 20))
          .cast("long").as("z2_q20"))
      .groupBy(col("vec_id"))
      .agg(sum(col("z2_q20")).as("score_q20"),
        count(lit(1)).as("n_dims"))
      .orderBy(col("score_q20").desc, col("vec_id"))
      .limit(k)
  }

  /** Embedding-distribution drift (PSI over the unit-sphere grid) —
    * the vector-space twin of `Text.qualityDrift` and the
    * encoder-swap / corpus-shift alarm the scalar monitors can't
    * see: both snapshots histogram into the [[gridDensity]] lattice
    * (first `gridDims` unit components, `floor(u·g)` over u ∈
    * [-1, 1] — so 2g cells per dimension, (2g)^gridDims lattice
    * cells), and each occupied cell contributes the smoothed PSI
    * term `(p_cur − p_ref)·ln(p_cur/p_ref)` with the ln in the
    * exact q20 convention (add-1 smoothing over the (2g)^gridDims
    * lattice so smoothed cell masses normalize over the REAL cell
    * count — the r10 advisor caught the g^gridDims constant
    * undercounting the lattice 2^gridDims-fold; floored lns
    * combined by integer subtraction — the hash-compared column;
    * `psi_term` is the audit-readable double view).
    *
    * Shape at scale: two cell-count aggregations (map-side
    * combined, ≤ g^gridDims + observed-cells rows each) and a
    * cell-keyed full-outer join of the two count tables — corpora
    * never meet, only their histograms.
    */
  def embeddingDriftPsi(
      ref: DataFrame,
      cur: DataFrame,
      gridDims: Int = 4,
      g: Int = 4
  ): DataFrame = {
    require(gridDims >= 1 && g >= 1, "gridDims and g must be >= 1")
    val cellCols = (0 until gridDims).map(i => s"c$i")
    def cells(df: DataFrame, as: String) = {
      val cs = (0 until gridDims).map(i =>
        floor(element_at(col("unit"), i + 1) * g).cast("int")
          .as(s"c$i"))
      unitized(df).select(cs: _*)
        .groupBy(cellCols.map(col): _*)
        .agg(count(lit(1)).as(as))
    }
    // add-1 smoothing mass = one pseudo-count per LATTICE cell; unit
    // components span [-1,1], so floor(u*g) takes 2g values per dim
    val smooth = math.pow(2.0 * g, gridDims.toDouble).toLong
    val j = cells(ref, "ref_cnt")
      .join(cells(cur, "cur_cnt"), cellCols, "full_outer")
      .select(cellCols.map(c => coalesce(col(c), lit(0)).as(c)) ++
        Seq(coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
          coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt")): _*)
    val tot = j.agg(sum(col("ref_cnt")).as("ref_total"),
      sum(col("cur_cnt")).as("cur_total"))
    j.crossJoin(broadcast(tot))
      .withColumn("lnratio_q20",
        floor(log(((col("cur_cnt") + 1) *
          (col("ref_total") + smooth)).cast("double")) * (1L << 20))
          .cast("long") -
          floor(log(((col("ref_cnt") + 1) *
            (col("cur_total") + smooth)).cast("double")) * (1L << 20))
            .cast("long"))
      .withColumn("psi_term",
        ((col("cur_cnt") + 1).cast("double") /
          (col("cur_total") + smooth) -
          (col("ref_cnt") + 1).cast("double") /
            (col("ref_total") + smooth)) *
          (col("lnratio_q20").cast("double") / (1L << 20).toDouble))
      .orderBy(cellCols.map(col): _*)
  }

  /** Nearest-centroid margin audit — the geometric clustering-quality
    * check beside [[modularityAssigned]]'s topological one (modularity
    * grades the partition against the GRAPH; this grades it against
    * the SPACE): per label, how many member vectors score closer to a
    * DIFFERENT label's centroid than their own, and the mean score
    * margin. The silhouette idea, integer-exact: vector-to-centroid
    * affinity is `s_c = (Σ_j ⌊x_j·2¹⁶⌋ · sumq16_cj) div n_c` — the
    * exact-q16 mean-dot of [[labelCentroids]]' skeleton (units
    * ≈ 2³² × mean dot; margins compare within one vector, so the
    * common scale cancels) — and `margin = s_own − max_other s_c`.
    * Negative margin = the vector sits in another cluster's field:
    * a mislabel, a boundary point, or a collapsing centroid.
    *
    * Shape at scale: centroids are an L×d integer table (broadcast);
    * scoring is one broadcast join + map-side combine grouped per
    * (vector, candidate label) — L·d work per vector, nothing
    * pairwise. Overflow bound (documented, pcaMomentsQ16
    * convention): per-dim products reach n_c·2³², so
    * d·n_c·2³² < 2⁶³ holds to ~10⁸ vectors per label at d = 64;
    * beyond that lift the products to DECIMAL(38,0).
    *
    * Output per label: `(label, members, n_misassigned,
    * misassigned_ppm, mean_margin)`.
    */
  def centroidMarginAudit(embeddings: DataFrame): DataFrame = {
    val cent = labelCentroids(embeddings)
      .select(col("label").as("c_label"), col("pos"),
        col("sum_q16"), col("n_vecs").as("c_n"))
    val scores = embeddings
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("xq16",
        floor(col("x").cast("double") * 65536).cast("long"))
      .join(broadcast(cent), Seq("pos"))
      .groupBy(col("vec_id"), col("label"), col("c_label"))
      .agg(sum(col("xq16") * col("sum_q16")).as("num"),
        max(col("c_n")).as("c_n"))
      .select(col("vec_id"), col("label"), col("c_label"),
        // num goes negative (components do); floor-divide via the
        // positive-remainder identity so truncating `div` (Spark)
        // and flooring `//` (oracle) see an exactly-divisible
        // numerator and agree
        expr("(num - ((num % c_n) + c_n) % c_n) div c_n").as("s"))
    val margins = scores
      .groupBy(col("vec_id"), col("label"))
      .agg(
        max(when(col("c_label") === col("label"), col("s"))).as("own"),
        max(when(col("c_label") =!= col("label"), col("s")))
          .as("best_other"))
      .select(col("label"),
        (col("own") - col("best_other")).as("margin"))
    margins.groupBy(col("label"))
      .agg(count(lit(1)).as("members"),
        count(when(col("margin") < 0, lit(1))).as("n_misassigned"),
        sum(col("margin")).as("sum_margin"))
      .select(col("label"), col("members"), col("n_misassigned"),
        expr("n_misassigned * 1000000 div members")
          .as("misassigned_ppm"),
        // margins can be negative and div truncates toward zero, so
        // floor-divide in pure integer arithmetic: subtract the
        // positive remainder ((a % n) + n) % n first — identical in
        // both engines, no doubles involved
        expr("(sum_margin - ((sum_margin % members) + members) " +
          "% members) div members").as("mean_margin"))
      .orderBy(col("label"))
  }

  /** Newman modularity of a community assignment, evaluated on the
    * within-list kNN graph — the clustering-quality audit that closes
    * the graph family: PageRank/label-prop PRODUCE structure,
    * modularity GRADES it (`Q = Σ_c [e_c/m − (d_c/2m)²]` — fraction
    * of edges inside community c minus the fraction a
    * degree-preserving random graph would put there; Q ≈ 0 means the
    * communities are no better than chance).
    *
    * `assigned` carries `(vec_id, embedding, list_id, community)`.
    * Pass a list assignment COARSER than the community (e.g. a
    * 4-bucket quantizer over 8 communities) or every kNN edge is
    * intra-community by construction and Q degenerates to its
    * maximum — the audit only informs when the graph can cross
    * community lines.
    *
    * Fixed-point discipline: per community,
    * `intra_q20 = e_c·2²⁰ div m` and
    * `deg_q20 = h² div 2²⁰` with `h = d_c·2²⁰ div 2m` — the double
    * floor keeps every operand in a long for ANY m (h ≤ 2²⁰ since
    * d_c ≤ 2m, so h² ≤ 2⁴⁰; e_c and d_c stay under 2^63/2²⁰ ≈
    * 8.8·10¹² edges) at the cost of ≤ 2 q20 units vs the
    * exactly-floored square — an audit metric, not a ranking key,
    * and both engines compute the identical expression. Both
    * divisions have non-negative operands (truncation == floor);
    * the subtraction happens after.
    *
    * Shape at scale: symmetrized edge list ≤ k·n rows; degrees and
    * per-community sums are two narrow aggregations; community
    * attribution is a many-to-one join on vec_id into the
    * already-aggregated vertex frame. Output: one row per community
    * + the m/graph-level columns on each row.
    */
  def modularityAssigned(
      assigned: DataFrame,
      k: Int,
      precomputedKnn: Option[DataFrame] = None): DataFrame = {
    val und = undirectedEdges(precomputedKnn.getOrElse(
      knnGraphAssigned(assigned.drop("community"), k)))
    val comm = assigned.select(col("vec_id"), col("community"))
    val m = und.agg(count(lit(1)).as("m"))
    // vertex degrees on the symmetrized graph, with communities
    val deg = und.select(col("a").as("vec_id"))
      .unionAll(und.select(col("b").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
      .join(comm, "vec_id")
    val dC = deg.groupBy(col("community"))
      .agg(sum(col("degree")).as("d_c"))
    // intra-community edge counts: both endpoints in c
    val eC = und
      .join(comm.withColumnRenamed("vec_id", "a")
        .withColumnRenamed("community", "comm_a"), "a")
      .join(comm.withColumnRenamed("vec_id", "b")
        .withColumnRenamed("community", "comm_b"), "b")
      .filter(col("comm_a") === col("comm_b"))
      .groupBy(col("comm_a").as("community"))
      .agg(count(lit(1)).as("e_c"))
    dC.join(eC, Seq("community"), "left")
      .select(col("community"), col("d_c"),
        coalesce(col("e_c"), lit(0L)).as("e_c"))
      .crossJoin(broadcast(m))
      .withColumn("intra_q20", expr("e_c * 1048576 div m"))
      .withColumn("deg_q20",
        expr("((d_c * 1048576 div (2 * m)) * " +
          "(d_c * 1048576 div (2 * m))) div 1048576"))
      .withColumn("term_q20", col("intra_q20") - col("deg_q20"))
      .orderBy(col("community"))
  }

  /** Hubness of the kNN graph (Radovanović et al., "Hubs in Space"):
    * the k-occurrence (in-degree) distribution of the DIRECTED kNN
    * edge list, reduced to exact integer moments — the high-dim
    * pathology metric for ANN serving. As dimension grows, a few
    * vectors ("hubs") appear in a disproportionate share of other
    * points' neighbor lists while many ("anti-hubs") appear in none;
    * a right-skewed k-occurrence distribution degrades both recall
    * (anti-hubs become unreachable) and dedup quality (hubs glue
    * unrelated clusters). One row out: `n_vecs`, `n_edges`,
    * `sum_d2`/`sum_d3` (the raw moments whose normalized form is the
    * standard skewness S_k — emitted raw so the statistic stays
    * exact integers; Σd³ rides the BIGINT envelope, exact while
    * Σd³ < 9.2e18 — at E[d]=k this is ~n·k³·O(skew), fine to ~1e15
    * vectors at k=3, with the per-element cube DECIMAL-bridged so
    * only the emitted total is enveloped), `max_indeg`, `n_antihubs`
    * (in-degree 0) and `n_hubs` (in-degree > 2k, the conventional
    * hub cutoff).
    *
    * Scale shape: one count-aggregate over the k·n edge list keyed
    * on the TARGET id (map-side combine), one left join back onto
    * the id column to restore zero-degree vectors, one 1-row
    * reduce. Consumes the session-shared graph; never rebuilds it.
    */
  def hubness(
      embeddings: DataFrame,
      knn: DataFrame,
      k: Int = 3
  ): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val indeg = embeddings.select(col("vec_id"))
      .join(knn.groupBy(col("nbr_id").as("vec_id"))
        .agg(count(lit(1)).as("d")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("d"), lit(0L)).as("d"))
    indeg.agg(
        count(lit(1)).as("n_vecs"),
        sum(col("d")).as("n_edges"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * d")).as("d2"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * d * d")).as("d3"),
        max(col("d")).as("max_indeg"),
        sum(when(col("d") === 0, 1L).otherwise(0L))
          .as("n_antihubs"),
        sum(when(col("d") > 2L * k, 1L).otherwise(0L)).as("n_hubs"))
      .select(col("n_vecs"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("d2").cast("long"), lit(0L)).as("sum_d2"),
        coalesce(col("d3").cast("long"), lit(0L)).as("sum_d3"),
        coalesce(col("max_indeg"), lit(0L)).as("max_indeg"),
        coalesce(col("n_antihubs"), lit(0L)).as("n_antihubs"),
        coalesce(col("n_hubs"), lit(0L)).as("n_hubs"))
  }

  /** Degree assortativity of the symmetrized kNN graph — do
    * well-connected vectors link to other well-connected vectors
    * (hub-cores, r > 0) or to the periphery (star topology, r < 0)?
    * A strongly disassortative dedup graph means a few template
    * exemplars dominate every neighborhood, which biases any
    * sample-by-neighbor curation step. Newman's r over the
    * both-orientations edge list makes the two marginals identical,
    * so Pearson closes in PURE integers (no sqrt):
    * `r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)` with M = 2·|E|,
    * x,y the endpoint degrees — exact milli out, DECIMAL(38,0)
    * cross-products (degree sums square past BIGINT at graph scale).
    * The wide decimals stay INSIDE the computation: the final
    * projection ships only `n_edges` + `assort_milli` as BIGINT —
    * DECIMAL(38,0) in a final schema maps to different pandas dtypes
    * from Spark parquet vs DuckDB fetchdf and hash-diverges at the
    * driver gate even when every value is equal (the r14 regression).
    * Consumes the session-shared kNN graph: one distinct + one
    * small self-join on the k·n edge list, never the n² build.
    */
  def degreeAssortativity(knn: DataFrame): DataFrame = {
    val und = undirectedEdges(knn)
    // r19 wave 7: a moment-identity rewrite (sum_deg/sum_sq as
    // join-free vertex sums Σ deg², Σ deg³; sum_prod via the
    // neighbor-degree-sum fold) measured NEUTRAL at sf0.1 (1.44 s
    // both, min-of-3 warm) and its plan carried MORE nodes (the
    // persisted degree table's lineage duplicates across the extra
    // join legs) — the exchange count is the same 3 edge-sized
    // passes either way, only narrower rows. Reverted per guide
    // §1.2; the two wide degree joins below stay the measured form.
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    und
      .join(deg.withColumnRenamed("v", "a")
        .withColumnRenamed("deg", "deg_a"), "a")
      .join(deg.withColumnRenamed("v", "b")
        .withColumnRenamed("deg", "deg_b"), "b")
      .agg(
        count(lit(1)).as("n_edges"),
        // promote BEFORE the products: on the hub/star graphs this
        // op exists to detect, deg ~ n and Σ(deg²) ~ n³ wraps a
        // BIGINT sum silently while the DuckDB twin's HUGEINT does
        // not — DECIMAL(38,0) inside the aggregate keeps both
        // engines exact at graph scale
        sum((col("deg_a") + col("deg_b")).cast("decimal(38,0)"))
          .as("sum_deg"),
        sum(lit(2L) * col("deg_a").cast("decimal(38,0)") *
          col("deg_b")).as("sum_prod"),
        sum(col("deg_a").cast("decimal(38,0)") * col("deg_a") +
          col("deg_b").cast("decimal(38,0)") * col("deg_b"))
          .as("sum_sq"))
      .withColumn("assort_milli", expr(
        """CASE WHEN 2 * n_edges * CAST(sum_sq AS DECIMAL(38,0))
          |   - CAST(sum_deg AS DECIMAL(38,0)) * sum_deg = 0
          | THEN NULL
          | ELSE CAST((2 * n_edges * CAST(sum_prod AS DECIMAL(38,0))
          |     - CAST(sum_deg AS DECIMAL(38,0)) * sum_deg) * 1000
          |   div (2 * n_edges * CAST(sum_sq AS DECIMAL(38,0))
          |     - CAST(sum_deg AS DECIMAL(38,0)) * sum_deg)
          |   AS BIGINT) END""".stripMargin))
      .select(col("n_edges"), col("assort_milli"))
  }

  /** BFS depth histogram from a source vector over the symmetrized
    * kNN graph — the reachability/diameter read (how many hops until
    * the neighborhood saturates; a long tail of far vertices means
    * the dedup graph is a chain, not a ball). Frontier expansion for
    * `maxDepth` rounds — rounds equal the DEPTH EXPLORED by
    * definition of BFS (not a convergence hope like the pointer
    * loops), each round one join frontier⋈edges + one anti-join
    * against the visited set, lineage truncated per round. Output:
    * one row per depth 0..maxDepth with the vertex count, plus a
    * `depth = -1` row counting vertices of `nodes` never reached
    * within the budget.
    */
  def bfsDepths(
      knn: DataFrame,
      nodes: DataFrame,
      sourceId: Long,
      maxDepth: Int = 6
  ): DataFrame = {
    val spark = knn.sparkSession
    import spark.implicits._
    // Single-task route on the kNN edge count: the whole ≤ maxDepth
    // frontier expansion is ONE in-memory BFS instead of maxDepth
    // rounds of join + anti-join + localCheckpoint + count (2 jobs
    // per round). Identical depths by definition of BFS — pinned
    // differentially in VectorSpec. `knn` is the session-persisted
    // graph in every registered consumer, so the probe is a cached
    // read.
    val eRaw = knn.select(col("vec_id").cast("long").as("src"),
      col("nbr_id").cast("long").as("dst"))
    if (SingleTask.fits(knn.count())) {
      val depths = SingleTask.run(eRaw.as[(Long, Long)]) { it =>
        val adj = scala.collection.mutable
          .LongMap.empty[scala.collection.mutable.ArrayBuffer[Long]]
        def add(u: Long, v: Long): Unit =
          adj.getOrElseUpdate(u,
            scala.collection.mutable.ArrayBuffer.empty[Long]) += v
        it.foreach { case (s, dd) => add(s, dd); add(dd, s) }
        val depth = scala.collection.mutable.LongMap.empty[Int]
        depth(sourceId) = 0
        var frontier = List(sourceId)
        var d = 0
        while (d < maxDepth && frontier.nonEmpty) {
          var next = List.empty[Long]
          frontier.foreach { u =>
            adj.getOrElse(u, Nil).foreach { v =>
              if (!depth.contains(v)) { depth(v) = d + 1; next ::= v }
            }
          }
          frontier = next
          d += 1
        }
        depth.iterator
      }.toDF("v", "depth")
      // an empty edge set yields no group at all — re-seed the
      // source row the iterative path always carries (distinct:
      // when the group DID run, it already emitted (source, 0))
      val visited = depths
        .unionByName(Seq((sourceId, 0)).toDF("v", "depth"))
        .distinct()
      val hist = visited.groupBy(col("depth"))
        .agg(count(lit(1)).as("n_vecs"))
      val unreached = nodes.select(col("vec_id").as("v"))
        .join(visited.select(col("v")), Seq("v"), "left_anti")
        .agg(count(lit(1)).as("n_vecs"))
        .select(lit(-1).as("depth"), col("n_vecs"))
        .filter(col("n_vecs") > 0)
      return hist.unionByName(unreached).orderBy(col("depth"))
    }
    // edges materialized ONCE; per round exactly two jobs (the
    // eager checkpoint of the new frontier and its count) — visited
    // stays a plain union of the ≤ maxDepth checkpointed frontiers,
    // so no third materialization per round
    val e = eRaw
      .unionAll(eRaw.select(col("dst").as("src"),
        col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var visited = Seq((sourceId, 0)).toDF("v", "depth")
      .localCheckpoint(true)
    var frontier = visited
    var fcount = 1L
    var d = 0
    while (d < maxDepth && fcount > 0) {
      val next = frontier
        .join(e, col("v") === col("src"))
        .select(col("dst").as("v")).distinct()
        .join(visited.select(col("v")), Seq("v"), "left_anti")
        .withColumn("depth", lit(d + 1))
        .localCheckpoint(true)
      fcount = next.count()
      visited = visited.unionByName(next)
      frontier = next
      d += 1
    }
    val hist = visited.groupBy(col("depth"))
      .agg(count(lit(1)).as("n_vecs"))
    val unreached = nodes.select(col("vec_id").as("v"))
      .join(visited.select(col("v")), Seq("v"), "left_anti")
      .agg(count(lit(1)).as("n_vecs"))
      .select(lit(-1).as("depth"), col("n_vecs"))
      .filter(col("n_vecs") > 0)
    hist.unionByName(unreached).orderBy(col("depth"))
  }

  /** Per-label cut conductance of the symmetrized kNN graph —
    * `φ(S) = cut(S) / min(vol(S), vol(V∖S))`: how leaky each label's
    * neighborhood boundary is (φ → 0: the label is a near-isolated
    * cluster; φ → 1: its members' neighbors are mostly OUTSIDE the
    * label — the spectral-partitioning read beside [[modularity]]'s
    * global score and [[degreeAssortativity]]'s degree mixing). Pure
    * integer counting over the session-shared edge list: degrees,
    * per-label volumes (Σ deg over members), per-label cut-edge
    * counts (exactly one endpoint inside), ppm out — no float ever.
    * Vertices absent from the graph contribute zero volume (they
    * have no edges by construction). Cost: two small joins on the
    * k·n edge list, never n².
    */
  def labelConductance(
      knn: DataFrame,
      embeddings: DataFrame
  ): DataFrame = {
    val und = undirectedEdges(knn)
    val lab = embeddings.select(col("vec_id"), col("label"))
    val e = und
      .join(lab.withColumnRenamed("vec_id", "a")
        .withColumnRenamed("label", "la"), "a")
      .join(lab.withColumnRenamed("vec_id", "b")
        .withColumnRenamed("label", "lb"), "b")
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val vol = lab.join(deg.withColumnRenamed("v", "vec_id"), "vec_id")
      .groupBy(col("label")).agg(sum(col("deg")).as("vol"))
    val cut = e.filter(col("la") =!= col("lb"))
      .select(col("la").as("label"))
      .unionAll(e.filter(col("la") =!= col("lb"))
        .select(col("lb").as("label")))
      .groupBy(col("label")).agg(count(lit(1)).as("n_cut"))
    val m2 = und.agg((count(lit(1)) * 2L).as("vol_total"))
    vol
      .join(cut, Seq("label"), "left")
      .select(col("label"), col("vol"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"))
      .crossJoin(broadcast(m2))
      .withColumn("phi_ppm", expr(
        """CASE WHEN LEAST(vol, vol_total - vol) = 0 THEN NULL
          | ELSE n_cut * 1000000 div LEAST(vol, vol_total - vol)
          | END""".stripMargin))
      .orderBy(col("label"))
  }

  /** Simplified (centroid) silhouette per label cluster — the
    * clustering-quality score that needs no pairwise distances:
    * `s = (b − a) / max(a, b)` with `a` the distance to the OWN
    * label centroid and `b` the distance to the nearest OTHER
    * centroid, so cost is n·L folds instead of n² pairs (L = #labels,
    * broadcast). Determinism discipline: centroids derive from exact
    * q16 integer sums (`Σ⌊x·2^16⌋ / (n·2^16)` — one IEEE division of
    * two exact integers per dim, the labelCentroids skeleton), the
    * squared distance folds the dim array IN ORDER (the decDot
    * contract ≡ `SUM(... ORDER BY i)`), sqrt is correctly rounded,
    * and the per-vector score floors to milli BEFORE the per-label
    * sum — so the aggregate is an exact BIGINT in both engines.
    * Single-cluster corpora (no other centroid) score 0 by
    * convention, as does a vector sitting exactly on both centroids.
    */
  def silhouetteSimplified(embeddings: DataFrame): DataFrame = {
    val cent = embeddings
      .select(col("label"),
        posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * 65536).cast("long")))
          .as(Seq("i", "xq")))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("xq")).as("sq"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("i"),
        (col("sq").cast("double") / (col("n") * 65536.0)).as("c"))))
        .as("pairs"))
      .select(col("label").as("c_label"),
        transform(col("pairs"), p => p("c")).as("centroid"))
    embeddings
      .crossJoin(broadcast(cent))
      .withColumn("d2", aggregate(
        zip_with(col("embedding"), col("centroid"),
          (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0), (acc, v) => acc + v))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        max(when(col("c_label") === col("label"), col("d2")))
          .as("d2_own"),
        min(when(col("c_label") =!= col("label"), col("d2")))
          .as("d2_other"))
      .withColumn("a", sqrt(col("d2_own")))
      .withColumn("b", sqrt(col("d2_other")))
      .withColumn("s_milli",
        when(col("b").isNull || greatest(col("a"), col("b")) === 0.0,
          lit(0L))
          .otherwise(floor(lit(1000.0) * (col("b") - col("a")) /
            greatest(col("a"), col("b"))).cast("long")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("s_milli")).as("sum_s_milli"))
      .withColumn("mean_s_milli", expr("sum_s_milli div n_vecs"))
  }

  /** Edge reciprocity of the directed kNN graph — the fraction of
    * "a ranks b in its top-k" edges where b returns the favor. Low
    * reciprocity marks hub-dominated neighborhoods (everyone points
    * at the exemplar, the exemplar points elsewhere), which is the
    * same pathology [[degreeAssortativity]] reads from degrees but
    * localized to edge level; together they are the graph-shape
    * panel. One self-join of the k·n edge list on the reversed pair,
    * three integers out.
    */
  def edgeReciprocity(knn: DataFrame): DataFrame = {
    val e = graft.Caches.track("vec",
      knn.select(col("vec_id"), col("nbr_id")))
    val recip = e.as("a").join(e.as("b"),
        col("a.vec_id") === col("b.nbr_id") &&
          col("a.nbr_id") === col("b.vec_id"))
      .agg(count(lit(1)).as("n_recip"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(recip))
      .select(col("n_edges"), col("n_recip"),
        expr("n_recip * 1000000 div n_edges").as("reciprocity_ppm"))
  }

  /** Label purity of the directed kNN graph — per label, the
    * fraction of its members' top-k edges that stay inside the
    * label. The embedding-space label-consistency read that decides
    * whether label-conditioned sampling or label-propagation can be
    * trusted on this corpus (purity near the 1/L chance floor means
    * labels and geometry disagree). Two broadcast-sized label
    * attaches on the k·n edge list, |labels| rows out.
    */
  def knnLabelPurity(knn: DataFrame, labeled: DataFrame): DataFrame = {
    val lab = labeled.select(col("vec_id"), col("label"))
    knn.select(col("vec_id"), col("nbr_id"))
      .join(lab.select(col("vec_id"), col("label").as("label_a")),
        "vec_id")
      .join(lab.select(col("vec_id").as("nbr_id"),
        col("label").as("label_b")), "nbr_id")
      .groupBy(col("label_a").as("label"))
      .agg(
        count(lit(1)).as("n_edges"),
        count(when(col("label_a") === col("label_b"), lit(1)))
          .as("n_same"))
      .withColumn("purity_ppm",
        expr("n_same * 1000000 div n_edges"))
  }

  /** Pairwise label-centroid separation matrix — the third panel of
    * the clustering-quality read ([[silhouetteSimplified]] scores
    * members against centroids, [[centroidDriftQ16]] tracks one
    * label over time; this says WHICH label pairs crowd each other).
    * Centroids derive from the exact q16 integer skeleton; the
    * pairwise dot and both norms fold the dim arrays IN ORDER
    * (decDot contract) and the milli cosine floors once at the end.
    * L² rows out of an L-row broadcast self-join — label-domain
    * work, independent of corpus size after the one centroid scan.
    */
  def centroidSeparation(embeddings: DataFrame): DataFrame = {
    val cent = embeddings
      .select(col("label"),
        posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * 65536).cast("long")))
          .as(Seq("i", "xq")))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("xq")).as("sq"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("i"),
        (col("sq").cast("double") / (col("n") * 65536.0)).as("c"))))
        .as("pairs"))
      .select(col("label"),
        transform(col("pairs"), p => p("c")).as("centroid"))
    def fold(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v)
    cent.as("a").join(broadcast(cent.as("b")),
        col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"),
        col("b.label").as("label_b"),
        fold(col("a.centroid"), col("b.centroid")).as("dot"),
        fold(col("a.centroid"), col("a.centroid")).as("n2a"),
        fold(col("b.centroid"), col("b.centroid")).as("n2b"))
      .select(col("label_a"), col("label_b"),
        when(col("n2a") === 0.0 || col("n2b") === 0.0, lit(null))
          .otherwise(floor(lit(1000.0) * col("dot") /
            (sqrt(col("n2a")) * sqrt(col("n2b")))).cast("long"))
          .as("cos_milli"))
  }

  /** Within-list cosine-mass histogram — the evidence a near-dup
    * threshold should be placed WITH: where the bulk of the pairwise
    * similarity distribution sits (a tau inside the bulk makes the
    * true pair count itself grow ~n², and no engine survives that —
    * the r11 adjudication this op turns into a measured fact).
    * Exact cosine over the same within-list pair discipline as the
    * dedup family (Σ|list|² bounded by the sublist rule), bucketed
    * by `⌊(cos+1)·nBuckets/2⌋` on the exact double so both engines
    * bucket identically; ≤ nBuckets+1 rows out with exact ppm mass.
    */
  def cosineHistogram(
      assigned: DataFrame,
      nBuckets: Int = 40
  ): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val u = graft.Caches.track("vec",
      semanticSignaturesAssigned(assigned))
    val b = u.as("l").join(u.as("r"),
        col("l.list_id") === col("r.list_id") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(decDot(col("l.unit"), col("r.unit")).as("cos_sim"))
      .filter(!isnan(col("cos_sim")))
      .select(floor((col("cos_sim") + 1.0) * (nBuckets / 2.0))
        .cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
    b.crossJoin(broadcast(
        b.agg(sum(col("n_pairs")).as("n_total"))))
      .select(col("bucket"), col("n_pairs"),
        expr("n_pairs * 1000000 div n_total").as("mass_ppm"))
  }

  /** In-degree histogram of the directed kNN graph, with the orphan
    * count — vectors NOBODY ranks in their top-k. Orphans are the
    * quantizer's blind spots (a neighbor-based sampler or
    * propagation step simply never reaches them), so the orphan ppm
    * is the coverage guarantee such a step silently assumes. One
    * rollup to in-degrees, an anti-join for degree 0, one histogram
    * rollup; output bounded by the distinct-degree count.
    */
  def inDegreeHistogram(knn: DataFrame, nodes: DataFrame)
      : DataFrame = {
    val ind = knn.groupBy(col("nbr_id").as("vec_id"))
      .agg(count(lit(1)).as("deg"))
    val orphans = nodes.select(col("vec_id"))
      .join(ind, Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit(0L).as("deg"), col("n"))
    val hist = ind.groupBy(col("deg"))
      .agg(count(lit(1)).as("n"))
      .unionByName(orphans)
      .filter(col("n") > 0)
    val tot = nodes.agg(count(lit(1)).as("n_vecs"))
    hist.crossJoin(broadcast(tot))
      .select(col("deg"), col("n"),
        expr("n * 1000000 div n_vecs").as("share_ppm"))
  }

  /** HITS hubs/authorities on the DIRECTED kNN graph in q20 integer
    * fixed point — normalize-by-max instead of the L2 norm keeps
    * every iterate an exact integer (`v·2^20 div max`), so the
    * unrolled SQL twin reproduces the recurrence bit-for-bit (the
    * knnPagerank discipline). Two meaningful half-steps past the
    * uniform start (out-degree is constant k, so h₁ degenerates to
    * uniform): a₁ ∝ in-degree, h₂ = who points at well-pointed-to
    * vectors, a₂ = who is pointed at by those hubs. In a dedup/
    * curation graph the authority tail ranks canonical exemplars;
    * near-zero hubs mark vectors whose neighborhoods are noise.
    * Cost: two edge-list joins + three 1-row maxima — linear in
    * k·n, never n².
    */
  def hitsScores(knn: DataFrame, nodes: DataFrame): DataFrame = {
    val e = knn.select(col("vec_id"), col("nbr_id"))
    val q20 = 1048576L
    val ind = e.groupBy(col("nbr_id").as("v"))
      .agg(count(lit(1)).as("c"))
    val a1 = ind
      .crossJoin(broadcast(ind.agg(max(col("c")).as("m"))))
      .select(col("v"), expr(s"c * $q20 div m").as("a"))
    val h2r = e.join(a1, e("nbr_id") === a1("v"), "left")
      .groupBy(col("vec_id").as("v"))
      .agg(sum(coalesce(col("a"), lit(0L))).as("hr"))
    val h2 = h2r
      .crossJoin(broadcast(h2r.agg(max(col("hr")).as("m"))))
      .select(col("v"), expr(s"hr * $q20 div m").as("h"))
    val a2r = e.join(h2, e("vec_id") === h2("v"), "left")
      .groupBy(col("nbr_id").as("v"))
      .agg(sum(coalesce(col("h"), lit(0L))).as("ar"))
    val a2 = a2r
      .crossJoin(broadcast(a2r.agg(max(col("ar")).as("m"))))
      .select(col("v"), expr(s"ar * $q20 div m").as("a"))
    nodes.select(col("vec_id"))
      .join(h2.withColumnRenamed("v", "vec_id"), Seq("vec_id"), "left")
      .join(a2.withColumnRenamed("v", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("h"), lit(0L)).as("hub_q20"),
        coalesce(col("a"), lit(0L)).as("auth_q20"))
  }
}
