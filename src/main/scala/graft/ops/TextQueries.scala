package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Registry for the text/dedup operators. Oracle SQL mirrors the
  * Spark expressions exactly; DuckDB regexp_replace needs the 'g'
  * flag to match Spark's replace-all. MinHash/SimHash entries have no
  * ANSI-SQL equivalent → rows-only check per the driver contract.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** MinHash candidate pairs are consumed by both near-dup queries —
    * compute + persist once per session (same single-pass pattern as
    * DemuxQueries.parsed).
    *
    * Bench attribution: the `cache:text:minhash_candidates` line
    * (~2 s) is the full shingle→128-hash signature build + banded
    * self-join over the corpus — the expensive half of MinHash dedup
    * by design. The consumer queries then verify/aggregate the
    * candidate set; a bench read should attribute signature-build
    * growth here, not to `q_text_minhash_neardup`.
    */
  private def candidates(s: SparkSession, d: String): DataFrame =
    graft.Caches.persisted("text", (s, d))(
      Text.minhashCandidates(Tables.documents(s, d), 0.2))

  /** The md5-family banded candidate pair set the two LSH audits
    * (q_text_minhash_recall / q_text_minhash_precision) both join
    * against — the signature build + band self-join runs once per
    * session (r19).
    */
  private def md5Cands(s: SparkSession, d: String): DataFrame =
    graft.Caches.persisted("text", ("md5cands", s, d))(
      Text.md5BandCandidates(Tables.documents(s, d),
        Text.LshBands, Text.LshRows))

  /** Rare-first ordered shingle table, shared by every prefix-filter
    * pair predicate (jaccard AND containment) — the shingle/df/sort
    * shuffles run once per session.
    */
  private def ordShingles(s: SparkSession, d: String): DataFrame =
    graft.Caches.persisted("text", ("ordsh", s, d))(
      Text.orderedShingles(Tables.documents(s, d)))

  /** Exact shingle-jaccard pairs, shared by the pair query and the
    * cluster query (the cluster query consumes the pair graph — one
    * materialization per session, released with the family).
    */
  private def jacPairs(s: SparkSession, d: String): DataFrame =
    graft.Caches.persisted("text", ("jac", s, d))(
      Text.jaccardPairsOverOrdered(ordShingles(s, d), 0.5))

  /** Exact containment pairs at 0.7, shared by the pair query and the
    * provenance-matrix query — r14's #1 bench cost was
    * q_text_source_containment RECOMPUTING this full prefix-filter
    * predicate (13.9 s) that q_text_containment had already run
    * (1.9 s); one materialization per session serves both.
    */
  private def contPairs(s: SparkSession, d: String): DataFrame =
    graft.Caches.persisted("text", ("cont", s, d))(
      Text.containmentPairsOverOrdered(ordShingles(s, d), 0.7))

  /** Converged cluster assignment, shared by the cluster query and
    * the survivor-policy query (label propagation runs once per
    * session; NOTE dupClusters' result is checkpoint-backed, so like
    * the pair graph it does not survive a family release).
    */
  private def clusterAssign(s: SparkSession, d: String): DataFrame =
    graft.Caches.persisted("text", ("clusters", s, d))(
      Text.dupClusters(Tables.documents(s, d), jacPairs(s, d)))

  /** Learned BPE merge table, shared by the learn query and the
    * encode query (learning iterates; run it once per session).
    *
    * Bench attribution: the `cache:text:bpe_merges` line (~3 s) IS
    * the iterative learn — 20 sequential merge rounds, each a corpus
    * pair-count scan; the consumers (`q_text_bpe_learn`,
    * `q_text_bpe_encode`) then read the 20-row table. A bench read
    * seeing this cache line grow should look at nMerges × per-round
    * scan, not at the consumer queries.
    */
  private def learnedMerges(s: SparkSession, d: String): DataFrame =
    graft.Caches.persisted("text", ("bpe", s, d))(
      Text.bpeLearnMerges(Tables.documents(s, d), nMerges = 20))

  /** Seen-side near-dup signature table (the stored artifact the
    * incremental gate joins against), memoized per session like the
    * other shared caches.
    */
  private def seenSigs(s: SparkSession, d: String): DataFrame =
    graft.Caches.persisted("text", ("seensigs", s, d))(
      Text.nearDupSignatures(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0)))

  /** The session-shared materializations above, in dependency order,
    * for the bench's cache-attribution lines: Bench times each as its
    * own `cache:text:*` entry before the family's queries, so no
    * query's headline silently absorbs a shared build (the
    * alphabetically-first consumer otherwise pays for everyone —
    * q_text_cluster_survivors reported 14.7 s in round 6 for what is
    * a ~0.2 s aggregation plus the shared pair-graph build).
    */
  val sharedCacheBuilders: Seq[(String, Q)] = Seq(
    "cache:text:minhash_candidates" -> ((s, d) => candidates(s, d)),
    "cache:text:md5_band_cands" -> ((s, d) => md5Cands(s, d)),
    "cache:text:ordered_shingles" -> ((s, d) => ordShingles(s, d)),
    "cache:text:jac_pairs" -> ((s, d) => jacPairs(s, d)),
    "cache:text:containment_pairs" -> ((s, d) => contPairs(s, d)),
    "cache:text:dup_clusters" -> ((s, d) => clusterAssign(s, d)),
    "cache:text:bpe_merges" -> ((s, d) => learnedMerges(s, d)),
    "cache:text:seen_sigs" -> ((s, d) => seenSigs(s, d))
  )

  /** ANSI twin of [[Text.q20pow]]'s square-and-multiply chain: eight
    * unrolled CTE steps, each one loop iteration (acc multiplies by
    * the PRE-square pw when the exponent bit is set, then pw
    * squares), all floored q20 integer math — bitwise identical to
    * the Spark column chain by construction.
    */
  private def q20powChainSql(
      tag: String, from: String, keep: String, e: String): String =
    (0 until 8).map { bit =>
      val prev = if (bit == 0) from else s"$tag${bit - 1}"
      s"""$tag$bit AS (
         |  SELECT $keep,
         |    CASE WHEN ($e // ${1 << bit}) % 2 = 1
         |      THEN (acc * pw) // 1048576 ELSE acc END AS acc,
         |    (pw * pw) // 1048576 AS pw
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")

  private val lshTuningOracle: String = {
    val keep = "bands, rows_per_band, j_milli"
    s"""WITH cfg(bands, rows_per_band) AS (
       |  VALUES (128, 1), (64, 2), (32, 4), (16, 8), (8, 16),
       |    (4, 32), (16, 2), (16, 4), (8, 4)),
       |g AS (
       |  SELECT CAST(x AS BIGINT) AS j_milli
       |  FROM range(0, 1001, 25) t(x)),
       |r_in AS (
       |  SELECT bands, rows_per_band, j_milli,
       |    CAST(1048576 AS BIGINT) AS acc,
       |    (j_milli * 1048576) // 1000 AS pw
       |  FROM cfg CROSS JOIN g),
       |${q20powChainSql("r", "r_in", keep, "rows_per_band")},
       |q_pre AS (
       |  SELECT $keep, 1048576 - acc AS pw FROM r7),
       |q_in AS (
       |  SELECT *, CAST(1048576 AS BIGINT) AS acc FROM q_pre),
       |${q20powChainSql("q", "q_in", keep, "bands")},
       |curve AS (
       |  SELECT $keep, 1048576 - acc AS p_q20 FROM q7),
       |s50 AS (
       |  SELECT bands, rows_per_band,
       |    MIN(CASE WHEN p_q20 >= 524288 THEN j_milli END)
       |      AS s50_milli
       |  FROM curve GROUP BY 1, 2)
       |SELECT c.bands, c.rows_per_band,
       |  c.bands * c.rows_per_band AS sig_size,
       |  c.j_milli, c.p_q20, s.s50_milli
       |FROM curve c JOIN s50 s USING (bands, rows_per_band)
       |ORDER BY bands, rows_per_band, j_milli""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    // (bands, rows) LSH layout frontier: exact q20 collision curve
    // + on-grid s-curve midpoint per layout — pure config math
    "q_text_lsh_tuning" -> ((s, _) => Text.lshTuningCurve(s)),
    // Good-Turing counts-of-counts table: adjusted counts c* in
    // exact milli + unseen-mass p0 in exact ppm — the LM-smoothing
    // number that says how open this corpus's vocabulary is
    "q_text_good_turing" -> ((s, d) =>
      Text.goodTuring(Tables.documents(s, d))),
    // interpolated Kneser-Ney bigram head (D=3/4 keeps it rational:
    // exact ppm via DECIMAL(38,0)/HUGEINT, no libm)
    "q_text_kneser_ney" -> ((s, d) =>
      Text.kneserNeyBigrams(Tables.documents(s, d))),
    // Burrows' Delta stylometric distance between sources over the
    // top-20 token usage rates (sign-split z milli, exact skeleton)
    "q_text_burrows_delta" -> ((s, d) =>
      Text.burrowsDelta(Tables.documents(s, d))),
    // exact KS between the two doc_id-parity halves' MILLI-quantized
    // quality scores — quantizing keeps the merged histogram at
    // <= 1001 values regardless of corpus size (ksDrift's contract)
    "q_text_quality_ks" -> ((s, d) => {
      val q = Text.qualityScore(Tables.documents(s, d))
        .select(col("doc_id"),
          floor(col("quality") * 1000).cast("long").as("q_milli"))
      Audit.ksDrift(
        q.filter(col("doc_id") % 2 === 0),
        q.filter(col("doc_id") % 2 === 1), "q_milli")
    }),
    // mutual information between source and lang in exact q20
    // integer lns — how many nats does the source buy about the
    // language (whether conditioning samplers on source is worth it)
    "q_text_source_lang_mi" -> ((s, d) =>
      Affinity.categoricalMutualInfo(
        Tables.documents(s, d), "source", "lang")
        .orderBy(col("a"), col("b"))),
    // Gopher/MassiveText rule-bundle gate: exact ppm/milli flags per
    // doc, scan-stage only — the deterministic third opinion next to
    // the blended score and the learned classifier
    "q_text_gopher_rules" -> ((s, d) =>
      Text.gopherRules(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    // Theil T inequality of the capped-length budget with its exact
    // between/within source decomposition — q20 lns of COUNTS/SUMS
    // only (eventPmi convention), histogram-rollup shaped
    "q_text_theil" -> ((s, d) =>
      Affinity.theilDecomposition(
        Tables.documents(s, d)
          .select(col("source"),
            least(col("n_chars"), lit(2000L)).as("len_c")),
        "source", "len_c")
        .orderBy(col("grp"))),
    // leave-one-source-out influence of each source on the corpus
    // mean capped length — exact milli attribution from one rollup
    // plus a 1-row global broadcast
    "q_text_source_influence" -> ((s, d) =>
      Text.sourceInfluence(
        Tables.documents(s, d)
          .select(col("source"),
            least(col("n_chars"), lit(2000L)).as("len_c")),
        "source", "len_c")
        .orderBy(col("grp"))),
    // Neyman optimal allocation of a 1000-doc eval budget across
    // sources by capped-length variance: n_h proportional to N_h*s_h
    // with exact largest-remainder rounding (sum n_alloc = 1000)
    "q_text_neyman_alloc" -> ((s, d) =>
      Text.neymanAllocation(
        Tables.documents(s, d)
          .select(col("source"),
            least(col("n_chars"), lit(2000L)).as("len_c")),
        "source", "len_c", budget = 1000L)
        .orderBy(col("stratum"))),
    // Spearman rank correlation between capped doc length and capped
    // token count — monotone-association audit on ppm-quantized
    // midranks; histograms and the pair rollup are domain-bounded
    "q_text_spearman" -> ((s, d) =>
      Audit.spearmanRho(
        Tables.documents(s, d)
          .select(least(col("n_chars"), lit(2000L)).as("len_c"),
            least(when(length(trim(col("text"))) === 0, 0)
              .otherwise(size(split(trim(col("text")), "\\s+"))),
              lit(400)).as("tok_c")),
        "len_c", "tok_c")),
    // leave-one-source-out AUC influence: which source hurts the
    // length->English separability? excluded histograms by
    // subtraction, one partitioned window pass for all sources
    "q_text_auc_influence" -> ((s, d) =>
      Audit.rocAucInfluence(
        Tables.documents(s, d)
          .select(col("source"),
            least(col("n_chars"), lit(2000L)).as("score"),
            (col("lang") === "en").cast("int").as("is_en")),
        "score", "is_en", "source")
        .orderBy(col("grp"))),
    // exact tie-corrected ROC-AUC of the capped-length score against
    // the en/non-en label, per source: does "longer doc" predict
    // "English" on this corpus? Windows partition by source over the
    // (source x <= 2001 score values) rollup — never the docs
    "q_text_quality_auc" -> ((s, d) =>
      Audit.rocAuc(
        Tables.documents(s, d)
          .select(col("source"),
            least(col("n_chars"), lit(2000L)).as("score"),
            (col("lang") === "en").cast("int").as("is_en")),
        "score", "is_en", Seq("source"))
        .orderBy(col("source"), col("score"))),
    // Cohen's kappa between the heuristic quality gate (quality >=
    // .5) and the logistic classifier gate (logit >= 0, the
    // q_text_classifier model) — are two filter passes buying two
    // decisions or one? One conditional agg, 5 longs out
    "q_text_filter_kappa" -> ((s, d) => {
      val q = Text.qualityScore(Tables.documents(s, d))
      Text.filterAgreementKappa(q.select(
        (col("quality") >= 0.5).as("keep_a"),
        ((lit(0.25) + col("stopword_ratio") * 1.5 +
          col("uniq_ratio") * -2.0 + col("len_score") * 0.75) >= 0.0)
          .as("keep_b")))
    }),
    "q_text_exact_dup_groups" -> ((s, d) =>
      Text.exactDupGroups(Tables.documents(s, d))
        .orderBy(col("text_hash"))),
    "q_text_exact_dedup" -> ((s, d) =>
      Text.exactDedup(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))),
    "q_text_token_stats" -> ((s, d) =>
      Text.tokenStats(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "q_text_quality" -> ((s, d) =>
      Text.qualityScore(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "q_text_lang_guess" -> ((s, d) =>
      Text.langGuess(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // percentile calibration of the quality gate (rank + decile)
    "q_text_quality_pct" -> ((s, d) =>
      Text.qualityPercentiles(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    // rows-only: the scale-path decile thresholds use Spark's
    // approx_percentile sketch (no SQL twin for its merge order);
    // spec-tested: monotone, and each threshold's rank brackets its
    // nominal decile
    "q_text_quality_thresholds" -> ((s, d) =>
      Text.qualityDecileThresholds(Tables.documents(s, d))
        .orderBy(col("decile"))),
    // the EXACT decile-threshold twin (max quality per ntile decile
    // of the oracle-green percentile ranking): hash-checked, so the
    // sketch path above is bracketed by a twin the driver verifies —
    // TextSpec asserts each sketch threshold lies within one decile
    // of its exact counterpart
    "q_text_quality_deciles_exact" -> ((s, d) =>
      Text.qualityDecileThresholdsExact(Tables.documents(s, d))
        .orderBy(col("decile"))),
    "q_text_fingerprint" -> ((s, d) =>
      Text.fingerprint(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // MinHash-LSH candidate pairs, ids only (the jaccard_est column
    // is minhash arithmetic with no SQL twin — projecting it away
    // makes the SET oracle-checkable). Oracle = the exact unpruned
    // pair set at j >= 0.5: on this corpus the similarity
    // distribution is bimodal (near-identical duplicates at j ≈ 0.9
    // vs unrelated docs at j ≈ 0), so the banded candidate set at
    // est >= 0.2 coincides with the exact j >= 0.5 set — the same
    // corpus-level recall assumption documented on
    // q_text_ngram_jaccard below. That assumption is PINNED by the
    // adversarial fixture in TextSpec ("LSH adversarial-recall
    // fixture"): planted j≈0.5 pairs are missed at the predicted
    // 1-(1-j⁴)⁸ rate while j≈0.9 pairs are all caught — so a future
    // red here on refreshed testdata is attributable to documented
    // probabilistic recall, not a jaccard bug.
    "q_text_minhash_neardup" -> ((s, d) =>
      candidates(s, d).select(col("doc_a"), col("doc_b"))
        .orderBy(col("doc_a"), col("doc_b"))),
    // exact-jaccard verification of the MinHash-LSH candidates,
    // thresholded: the oracle is the full unpruned pair set at the
    // same threshold, so a green row certifies the LSH candidate
    // generation lost no qualifying pair on this corpus. NOTE this
    // asserts a PROBABILISTIC property — banded recall at j ≥ 0.5
    // for near-identical duplicates is ≈ 1 (8 bands × 4 rows:
    // 1-(1-j⁴)⁸ ≈ 0.9997 at j = 0.7, higher at 0.9) but not exactly
    // 1; a marginal pair missed by banding on a different corpus
    // would surface here as a correctness diff, distinguishable from
    // a jaccard-computation bug by q_text_jaccard_exact (same oracle,
    // LSH-free path) staying green. The recall curve itself is
    // asserted by TextSpec's "LSH adversarial-recall fixture"
    // (planted j≈0.5 pairs), so the assumption is test-pinned rather
    // than testdata luck.
    "q_text_ngram_jaccard" -> ((s, d) =>
      Text.ngramJaccard(Tables.documents(s, d), candidates(s, d))
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),
    "q_text_simhash" -> ((s, d) =>
      Text.simhashes(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "q_text_bpe_tokens" -> ((s, d) =>
      Text.bpeTokenStats(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // Rabin-Karp rolling fingerprint — oracle-backed since r14: the
    // 64-bit-wraparound polynomial hash replays exactly in HUGEINT
    // (powers-of-257 mod 2^64 as literals, one signed fold per
    // window) — see the oracle entry
    "q_text_rolling_fp" -> ((s, d) =>
      Text.rollingFingerprint(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    "q_text_curation" -> ((s, d) =>
      Text.curationPipeline(Tables.documents(s, d))),
    // idf itself is ln(), which differs in the last ulp between Java
    // and DuckDB libm — the hash-compared projection sticks to the
    // exact-integer df/tf columns (idf is spec-tested instead)
    "q_text_doc_freq" -> ((s, d) =>
      Text.docFrequency(Tables.documents(s, d), minDf = 50L)
        .select(col("token"), col("df"), col("tf_total"))
        .orderBy(col("token"))),
    // corpus-derived stopword list (df-ratio >= 50%) with exact-ppm
    // cumulative token-mass coverage in (df desc, token) order
    "q_text_stopwords" -> ((s, d) =>
      Text.stopwordDiscovery(Tables.documents(s, d),
        minDfPpm = 500000L)),
    // Heaps-law curve: new-vocabulary per doc-rank decile with
    // cumulative (tokens, vocab) columns
    "q_text_vocab_growth" -> ((s, d) =>
      Text.vocabGrowth(Tables.documents(s, d), nBuckets = 10)),
    // tokenizer-fertility proxy: exact milli chars/token per lang
    "q_text_compression" -> ((s, d) =>
      Text.compressionRatio(Tables.documents(s, d))),
    // static rank-mass view beside vocab_growth: corpus token mass
    // covered by the top-k token types, k in {10,100,1000,10000}
    "q_text_vocab_coverage" -> ((s, d) =>
      Text.vocabCoverageCurve(Tables.documents(s, d))),
    // provenance spread of the shared near-dup clusters: within-source
    // boilerplate vs cross-source syndication, exact ppm shares
    "q_text_cluster_spread" -> ((s, d) =>
      Text.clusterSourceSpread(Tables.documents(s, d),
        clusterAssign(s, d))),
    // naive pad/truncate waste per candidate context length — the
    // number that motivates packChunks
    "q_text_padding_waste" -> ((s, d) =>
      Text.paddingWaste(Tables.documents(s, d))),
    // BM25 integer skeleton (tf/dl/df/N/total_len per matching
    // doc-term) — fully hash-compared; the ln(idf) score and top-k
    // live in bm25TopK, pinned bitwise by TextSpec (the doc_freq
    // idf split)
    "q_text_bm25" -> ((s, d) =>
      Text.bm25Postings(Tables.documents(s, d),
        Seq("spark", "window", "scan"))
        .orderBy(col("doc_id"), col("token"))),
    // BM25 ranked retrieval, q20 fixed-point audit twin: per-term
    // scores floored to 2^-20 before the doc sum → exact-integer
    // doc scores, engine-independent ranking, full oracle compare.
    // The double-score serving path (bm25TopK) is pinned bitwise by
    // TextSpec and its ranking agreement with this twin is
    // spec-asserted on the fixture.
    "q_text_bm25_topk" -> ((s, d) =>
      Text.bm25TopKQ20(Tables.documents(s, d),
        Seq("spark", "window", "scan"), k = 100)
        .orderBy(col("score_q20").desc, col("doc_id"))),
    // exact 3-gram-shingle jaccard via lossless prefix filtering; the
    // oracle runs the UNPRUNED inverted-index join, so the compare
    // proves the pruning drops nothing on real data
    "q_text_jaccard_exact" -> ((s, d) =>
      jacPairs(s, d).orderBy(col("doc_a"), col("doc_b"))),
    // threshold-tuning curve: pair counts per jaccard decile >= 0.5
    // with descending cumulative removal counts
    "q_text_dedup_curve" -> ((s, d) =>
      Text.dedupThresholdCurve(Tables.documents(s, d), 0.5)),
    // MEASURED banded-MinHash recall per exact-jaccard decile (the
    // empirical closure of q_text_lsh_tuning's analytic curve; md5
    // hash family so both engines compute the identical signatures);
    // truth = the session-shared exact pair graph at >= 0.5
    // the cost side of the banding ledger: exact-jaccard decile
    // profile of the CANDIDATE set, with measured precision of a
    // d/10 gate (wasted-verification accounting)
    "q_text_minhash_precision" -> ((s, d) =>
      Text.minhashPrecisionAudit(Tables.documents(s, d),
        precomputedCandidates = Some(md5Cands(s, d)))),
    // per-source unigram KL from the corpus blend (q20 nats):
    // which sources move the mixture most when reweighted
    "q_text_source_kl" -> ((s, d) =>
      Text.sourceUnigramKl(Tables.documents(s, d))),
    "q_text_minhash_recall" -> ((s, d) =>
      Text.minhashRecallAudit(Tables.documents(s, d), jacPairs(s, d),
        precomputedCandidates = Some(md5Cands(s, d)))),
    // asymmetric containment (|A∩B|/|A|): catches fragment-in-page
    // inclusion that Jaccard's union denominator hides
    "q_text_containment" -> ((s, d) =>
      contPairs(s, d).orderBy(col("doc_a"), col("doc_b"))),
    // Efraimidis–Spirakis weighted sample (w = n_chars, q20 keys)
    "q_text_weighted_sample" -> ((s, d) =>
      Text.weightedSample(Tables.documents(s, d), 100, col("n_chars"))),
    // provenance matrix over the containment pairs (shared ordered-
    // shingle table -> tiny pair set -> #sources^2 aggregation)
    "q_text_source_containment" -> ((s, d) =>
      Text.sourceContainment(Tables.documents(s, d), contPairs(s, d))
        .orderBy(col("source_a"), col("source_b"))),
    // per-doc tf-idf keyword extraction (q20-integer idf, top-5)
    "q_text_tfidf_keywords" -> ((s, d) =>
      Text.tfidfKeywords(Tables.documents(s, d), 5)
        .orderBy(col("doc_id"), col("rank"))),
    // quality-curriculum phase assignment (exact-rank twin)
    "q_text_curriculum" -> ((s, d) =>
      Text.curriculumPhases(Tables.documents(s, d), 3)
        .orderBy(col("rank"))),
    // corpus Zipf audit: OLS log-log slope of rank-frequency
    "q_text_zipf" -> ((s, d) =>
      Text.zipfAudit(Tables.documents(s, d))),
    // language-ID confusion matrix (label x guess, exact ppm)
    "q_text_lang_confusion" -> ((s, d) =>
      Text.langConfusion(Tables.documents(s, d))
        .orderBy(col("lang_label"), col("lang_guess"))),
    // dedup impact: cluster-size histogram over the shared assignment
    "q_text_dedup_impact" -> ((s, d) =>
      Text.dedupImpact(clusterAssign(s, d))
        .orderBy(col("cluster_size"))),
    // shard-local dedup loss: pairs MISSED if dedup runs per hash
    // shard instead of globally, per candidate shard count — one
    // scan of the shared pair graph, the global-vs-sharded design
    // evidence at 100 TB
    "q_text_shard_dedup_loss" -> ((s, d) =>
      Text.shardDedupLoss(jacPairs(s, d))),
    // pairwise dedup → dedup GROUPS: connected components (min
    // reachable doc_id) over the exact-jaccard pair graph; oracle is
    // a DuckDB recursive CTE over the same edges
    "q_text_dup_clusters" -> ((s, d) =>
      clusterAssign(s, d).orderBy(col("doc_id"))),
    // dedup impact in TOKENS per source (docs are free, tokens are
    // the training budget): min-id keep rule joined onto per-doc
    // token counts over the session cluster assignment
    "q_text_source_dedup_tokens" -> ((s, d) =>
      Text.sourceDedupTokens(Tables.documents(s, d),
        clusterAssign(s, d))),
    // SOFT dedup: weight 1/cluster_size instead of dropping —
    // per-source effective token mass (q20) vs the hard keep rule
    "q_text_soft_dedup_weights" -> ((s, d) =>
      Text.softDedupWeights(Tables.documents(s, d),
        clusterAssign(s, d))),
    // resharding churn: consistent-hash ring vs mod-hash when the
    // shard count grows S→S+1 — map-side literal-ring pass, no join
    "q_text_ring_rebalance" -> ((s, d) =>
      Text.ringRebalance(Tables.documents(s, d))),
    // GSP sequential patterns: gap-allowed token triples a‥b‥c in
    // ≥35% of docs — Apriori-pruned, frequent sets broadcast, all
    // corpus joins doc-keyed
    "q_text_seq_patterns" -> ((s, d) =>
      Text.seqPatterns(Tables.documents(s, d))),
    // tf-weighted Jaccard on the session candidate pairs: multiset
    // min/max mass, union closed from totals so only shared tokens
    // join
    "q_text_weighted_jaccard" -> ((s, d) =>
      Text.weightedJaccard(Tables.documents(s, d),
        jacPairs(s, d))),
    // triangle-closure audit of the dup pair graph: wedge self-join
    // on the center + membership lookup — the is-CC-dedup-safe
    // evidence table
    "q_text_dup_transitivity" -> ((s, d) =>
      Text.dupTransitivity(jacPairs(s, d))),
    // Bloom pre-dedup FPR replay: position first-setter min-agg
    // replaces the sequential test-then-insert stream
    "q_text_bloom_dedup_fpr" -> ((s, d) =>
      Text.bloomDedupFpr(Tables.documents(s, d))),
    // shingle-WIDTH sensitivity of the pair engine: one full pair
    // join per width (independent similarity spaces)
    "q_text_shingle_width_curve" -> ((s, d) =>
      Text.shingleWidthCurve(Tables.documents(s, d))),
    // cross-modality dedup contingency: the session text pair graph
    // vs the session semantic pair graph (doc_id ≡ vec_id)
    "q_text_semantic_dup_agreement" -> ((s, d) =>
      Text.dupModalityAgreement(jacPairs(s, d),
        VectorQueries.semPairs(s, d))),
    // Laplace-noised per-source counts with engine-replayable
    // hashed-uniform noise (sensitivity 1, ε = 1)
    "q_text_dp_counts" -> ((s, d) =>
      Text.dpNoisyCounts(Tables.documents(s, d))),
    // dedup survivor POLICY on top of the clusters: keep the
    // best-quality member (ties → lowest doc_id) — one max-struct
    // agg over the shared session assignment
    "q_text_cluster_survivors" -> ((s, d) =>
      Text.dupClusterSurvivors(Tables.documents(s, d),
        clusterAssign(s, d))
        .orderBy(col("cluster"))),
    // rows-only: the count-min estimate column needs the sketch's
    // internal hash family (no SQL twin); the exact-vs-estimate
    // overestimate bound is spec-tested
    "q_text_cms_tokens" -> ((s, d) =>
      Text.tokenFrequencySketch(Tables.documents(s, d))
        .orderBy(col("tf").desc, col("token"))),
    // rows-only: BPE merge learning is an iterative global argmax —
    // no ANSI-SQL twin; the merge table is differential-tested in
    // TextSpec against an in-memory reference implementation
    "q_text_bpe_merges" -> ((s, d) =>
      learnedMerges(s, d).orderBy(col("merge_rank"))),
    // rows-only downstream of the learned table: encode with the
    // session's merges (differential-tested with the learn spec)
    "q_text_bpe_encode" -> ((s, d) =>
      Text.bpeEncode(Tables.documents(s, d), learnedMerges(s, d))
        .orderBy(col("doc_id"))),
    // incremental NEAR-dup gate: batch (doc_id % 10 != 0) vs the
    // already-ingested slice (doc_id % 10 == 0) — the same split as
    // q_text_incremental_dedup; oracle = the unpruned cross-side
    // exact-jaccard join (same corpus-bimodality recall assumption
    // documented on q_text_ngram_jaccard, pinned by TextSpec's "LSH
    // adversarial-recall fixture"). Runs the gate THROUGH its
    // deployment form: the seen side is a precomputed
    // nearDupSignatures table (session-cached, standing in for the
    // parquet a previous ingestion wrote — TextSpec proves the
    // parquet round-trip identical), so the green row certifies the
    // stored-signature path itself.
    "q_text_incremental_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Text.incrementalNearDupSigs(
        graft.Caches.track("text",
          Text.nearDupSignatures(docs.filter(col("doc_id") % 10 =!= 0))),
        seenSigs(s, d))
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    // corpus-level passage SCRUB (removal twin of q_text_dup_spans):
    // duplicated aligned 20-token blocks keep only their first
    // (doc_id, position) occurrence; exact string/int output
    "q_text_scrub_blocks" -> ((s, d) =>
      Text.scrubDuplicatedBlocks(Tables.documents(s, d),
        blockTokens = 20)
        .orderBy(col("doc_id"))),
    // line-frequency boilerplate removal (CCNet/C4 shape). The
    // synthetic corpus is single-line (no shared lines), so the query
    // PLANTS deterministic footer lines — 40% of docs get a
    // "subscribe" line, 20% also a "follow us" line, one doc a
    // unique footer — the same planted-slice convention as
    // q_mm_phash_neardup (an empty green row would be vacuous). The
    // frequent footers must drop, the unique one must survive.
    "q_text_boilerplate" -> ((s, d) =>
      Text.removeBoilerplate(
        Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"),
              lit("\nfollow us on example social"),
              lit("\nsubscribe to the newsletter")))
            .when(col("doc_id") % 5 === 1,
              concat(col("text"), lit("\nsubscribe to the newsletter")))
            .when(col("doc_id") === 7,
              concat(col("text"), lit("\nunique footer line")))
            .otherwise(col("text")).as("text")),
        minDf = 50L)
        .orderBy(col("doc_id"))),
    // quality-distribution drift (PSI): ref = docs % 3 != 0, cur =
    // docs % 3 != 1 with a planted stopword-stuffing edit on the
    // % 5 == 0 slice — the drifted bins must light up; exact-integer
    // ln skeleton + fixed-order IEEE psi terms, fully hash-compared
    "q_text_quality_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Text.qualityDrift(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 =!= 1)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0,
              concat(col("text"), lit(" the the the the the the")))
              .otherwise(col("text")).as("text"),
            col("lang"), col("source"), col("n_chars")),
        nBuckets = 10)
        .orderBy(col("bucket"))
    }),
    // mixture epoch plan: a fixed 5-language recipe (plus one group
    // with no data — 'ja' — to exercise the config-error surface)
    // audited against the corpus at a 100k-token budget; exact
    // integer arithmetic end to end
    "q_text_mixture_epochs" -> ((s, d) =>
      Text.mixtureEpochPlan(Tables.documents(s, d),
        Seq("en" -> 450000L, "de" -> 200000L, "fr" -> 150000L,
          "es" -> 100000L, "zh" -> 50000L, "ja" -> 50000L),
        totalBudget = 100000L)
        .orderBy(col("lang"))),
    // canonical normalization. The corpus is already clean ASCII, so
    // the query PLANTS case/control/whitespace/accent damage on
    // deterministic slices (the q_text_boilerplate convention) —
    // every normalization step must fire on its slice and the clean
    // remainder must pass through changed = false.
    "q_text_normalize" -> ((s, d) =>
      Text.normalizeText(
        Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 7 === 0, upper(col("text")))
            .when(col("doc_id") % 7 === 1,
              concat(lit("\tmañana  café\u0001"), col("text")))
            .when(col("doc_id") % 7 === 2,
              regexp_replace(col("text"), " ", "   "))
            .otherwise(col("text")).as("text")))
        .orderBy(col("doc_id"))),
    // corpus snapshot diff: old = corpus minus the (doc_id % 11 == 3)
    // slice, new = corpus minus the (% 13 == 5) slice with (% 17 == 2)
    // texts edited — exercises all four statuses deterministically
    "q_text_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Text.corpusDiff(
        docs.filter(col("doc_id") % 11 =!= 3),
        docs.filter(col("doc_id") % 13 =!= 5)
          .select(col("doc_id"),
            when(col("doc_id") % 17 === 2,
              concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text")))
        .orderBy(col("doc_id"))
    }),
    // token-distribution entropy (diversity quality signal) in the
    // exact q20 integer convention — ln floored per distinct count,
    // integer sums, integer div: the whole output hash-compares
    "q_text_entropy" -> ((s, d) =>
      Text.tokenEntropy(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    // Flesch reading-ease: regex counts + milli-point score, all
    // BIGINT floor division — scan-stage only, bitwise twin
    "q_text_readability" -> ((s, d) =>
      Text.readability(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    // OOV rate vs the corpus' own top-50 vocabulary (count DESC,
    // token ASC tie-break) — exact integer ppm
    "q_text_oov_rate" -> ((s, d) =>
      Text.oovRate(Tables.documents(s, d), vocabSize = 50)
        .orderBy(col("doc_id"))),
    // per-source curation profile; dup counts are corpus-global
    "q_text_source_profile" -> ((s, d) =>
      Text.sourceProfile(Tables.documents(s, d))
        .orderBy(col("source"))),
    // per-source trigram diversity (template-farm detector) — exact
    // integer ppm over explicit string trigrams
    "q_text_ngram_diversity" -> ((s, d) =>
      Text.ngramDiversity(Tables.documents(s, d))
        .orderBy(col("source"))),
    // denylist gate in audit form (rejected docs + matched term);
    // terms chosen to actually hit the synthetic corpus
    "q_text_blocklist" -> ((s, d) =>
      Text.blocklistFilter(Tables.documents(s, d),
        Seq("vector", "spark"), keep = false)
        .select(col("doc_id"), col("matched_term"))
        .orderBy(col("doc_id"))),
    "q_text_chunks" -> ((s, d) =>
      Text.chunkDocs(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("chunk_id"))),
    // sentence-aware greedy chunking: the data-dependent fill reset
    // runs as a row-local HOF fold; oracle replays it as a linear
    // recursive CTE over (doc_id, sentence_pos)
    "q_text_sentence_chunks" -> ((s, d) =>
      Text.sentenceChunks(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("chunk_id"))),
    // content-defined chunking: cut ends are a pure per-position
    // hash predicate (no greedy state) → exact SQL twin
    "q_text_content_chunks" -> ((s, d) =>
      Text.contentDefinedChunks(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("chunk_id"))),
    "q_text_stratified_sample" -> ((s, d) =>
      Text.stratifiedSample(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    // deterministic train/val/test assignment: pure (doc_id, salt)
    // hash function, exact integer thresholds → oracle-exact
    "q_text_split" -> ((s, d) =>
      Text.deterministicSplit(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    // leakage-safe split: the draw keyed by (here) exact-dup cluster
    // — every member of a cluster lands in the same split
    "q_text_leakage_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = docs.select(col("doc_id"),
        min(col("doc_id")).over(
          Window.partitionBy(md5(col("text").cast("binary"))))
          .as("cluster_id"))
      Text.leakageSafeSplit(docs, clusters).orderBy(col("doc_id"))
    }),
    // sharded training-order shuffle: hash shard + within-shard rank,
    // all exact integer math over partitioned windows → oracle-exact
    "q_text_shuffle_shards" -> ((s, d) =>
      Text.trainingShuffleShards(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    // governance rollup of the per-doc PII counts: which feeds leak
    "q_text_pii_summary" -> ((s, d) =>
      Text.piiRiskBySource(Tables.documents(s, d))),
    // filter-redundancy diagnostic: chars-vs-tokens Pearson per
    // source from six exact long moments
    "q_text_signal_corr" -> ((s, d) =>
      Text.signalCorrelation(Tables.documents(s, d))),
    // batch novelty vs corpus: new batch = the doc_id%10 slice,
    // corpus = the rest; exact ppm unseen-3-gram rate per new doc
    "q_text_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Text.ngramNovelty(docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0))
    }),
    "q_text_pii" -> ((s, d) =>
      Text.piiRedact(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // decontamination: docs vs a deterministic held-out slice
    "q_text_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Text.contamination(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), n = 3, minHits = 5)
        .orderBy(col("doc_id"))
    }),
    "q_text_repetition" -> ((s, d) =>
      Text.repetitionStats(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    // the gate-calibration sweep over candidate shingle lengths:
    // contaminated docs / total hits per n (pick the cutoff from
    // the curve, not a default)
    "q_text_contamination_curve" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Text.contaminationCurve(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }),
    // capstone composition: quality gate -> near-dup cluster
    // representatives -> PII redact -> chunk -> deterministic sample
    "q_text_prepare" -> ((s, d) =>
      Text.prepareTrainingData(Tables.documents(s, d),
        precomputedPairs = Some((jacPairs(s, d), 0.5)))
        .orderBy(col("doc_id"), col("chunk_id"))),
    // cross-modal capstone: classifier gate -> exact dedup -> text
    // near-dup components -> SEMANTIC near-dup components over the
    // survivors' embeddings -> redact -> chunk -> sample. Reuses the
    // session text pair graph AND the session semantic pair graph
    "q_text_prepare_semantic" -> ((s, d) =>
      Curation.prepareTrainingDataSemantic(
        Tables.documents(s, d),
        Tables.embeddings(s, d).withColumn("list_id", col("label")),
        Text.QualityClassifier(1.5, -2.0, 0.75, 0.25),
        minLogit = -0.5,
        precomputedPairs = Some((jacPairs(s, d), 0.5)),
        precomputedSemanticPairs =
          Some((VectorQueries.semPairs(s, d), 0.4)))
        .orderBy(col("doc_id"), col("chunk_id"))),
    // cross-document duplicated spans (Lee et al. substring-level
    // signal): exact integer window counts → fully oracle-checkable
    "q_text_dup_spans" -> ((s, d) =>
      Text.duplicatedSpans(Tables.documents(s, d), spanTokens = 20)
        .orderBy(col("doc_id"))),
    // GPT-style stream packing of the chunk table: pure integer math
    // (bucket draw, running offsets, DIV/mod) → oracle-exact
    "q_text_pack_chunks" -> ((s, d) =>
      Text.packChunks(Text.chunkDocs(Tables.documents(s, d)))
        .orderBy(col("doc_id"), col("chunk_id"))),
    // first-fit (no-straddle) packing: data-dependent fill resets →
    // mapPartitions on the Spark side, linear recursive CTE oracle
    "q_text_pack_firstfit" -> ((s, d) =>
      Text.packChunksFirstFit(Text.chunkDocs(Tables.documents(s, d)))
        .orderBy(col("doc_id"), col("chunk_id"))),
    // incremental-ingestion dedup: batch (doc_id % 10 != 0) against
    // the already-ingested slice (doc_id % 10 == 0); exact anti-join
    // path (the bloom prefilter variant is spec-tested — same result
    // by construction)
    "q_text_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Text.incrementalDedup(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_text_source_cap" -> ((s, d) =>
      Text.sourceCap(Tables.documents(s, d), cap = 15)
        .orderBy(col("doc_id"))),
    "q_text_token_budget" -> ((s, d) =>
      Text.tokenBudgetSample(Tables.documents(s, d),
        Seq("en" -> 5000L, "de" -> 2000L, "fr" -> 1500L))
        .orderBy(col("doc_id"))),
    // SimHash near-dup pairs via pigeonhole banding — EXACT (any
    // pair within hamming 3 must share one of the 4 bands), so the
    // oracle's brute-force n² twin is the identical set by theorem,
    // not by corpus luck (contrast the MinHash recall note above)
    "q_text_simhash_neardup" -> ((s, d) =>
      Text.simhashNearDup(Tables.documents(s, d), maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))),
    // BPE merge-step pair counts: exact integers, deterministic
    // total order (count desc, pair), top-100
    "q_text_bpe_pairs" -> ((s, d) =>
      Text.bpePairCounts(Tables.documents(s, d),
        minCount = 2L, topN = 100)),
    // α = 0.5 temperature flattening over the skewed lang mixture
    // (en 218 / zh 75 / es 73 / de 70 / fr 64 at sf0.01): pivot 75
    // keeps four langs whole and square-root-downsamples en
    "q_text_temperature_sample" -> ((s, d) =>
      Text.temperatureSample(Tables.documents(s, d),
        pivot = 75L, groupCol = "lang")
        .orderBy(col("doc_id"))),
    // winnowing fingerprint, md5-window variant: the oracle-checked
    // representative of the content-defined-fingerprint family (the
    // Rabin-Karp q_text_rolling_fp stays rows-only — its hash has no
    // SQL twin; this one's min-of-md5-windows does)
    "q_text_winnow_fp" -> ((s, d) =>
      Text.winnowFingerprint(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    // unigram-LM scoring skeleton: hash-compare the exact-integer
    // columns only; the ln-derived q20/nll columns are spec-tested
    // (same split as q_text_doc_freq's idf)
    "q_text_unigram" -> ((s, d) =>
      Text.unigramScore(Tables.documents(s, d))
        .select(col("doc_id"), col("n_toks"), col("sum_tf"),
          col("min_tf"))
        .orderBy(col("doc_id"))),
    // bigram conditional-LM skeleton — same integer/ln split as
    // q_text_unigram
    "q_text_bigram" -> ((s, d) =>
      Text.bigramScore(Tables.documents(s, d))
        .select(col("doc_id"), col("n_pairs"), col("sum_pair_tf"),
          col("min_pair_tf"))
        .orderBy(col("doc_id"))),
    // Jelinek-Mercer-interpolated bigram LM: the smoothed p_ppm
    // probability is itself an exact integer, so the skeleton hashes
    // the WHOLE model (counts + interpolation); the ln-derived
    // ce_q20/avg_ce_milli pair is spec-tested (q_text_unigram split)
    "q_text_bigram_ce" -> ((s, d) =>
      Text.bigramCrossEntropy(Tables.documents(s, d))
        .select(col("doc_id"), col("n_bigrams"), col("sum_p_ppm"),
          col("min_p_ppm"))
        .orderBy(col("doc_id"))),
    // UniMax waterfilling allocation + admission, end to end: the
    // 18000-token budget makes the smallest language cap-limited and
    // the rest share-limited, so both branches of the recurrence are
    // exercised (allocation replayed by a linear recursive CTE)
    "q_text_unimax" -> ((s, d) =>
      Text.unimaxSample(Tables.documents(s, d), totalBudget = 18000L)
        .orderBy(col("doc_id"))),
    // DSIR importance-weight skeleton (raw = non-en docs scored
    // toward the en slice): integer count columns only — the
    // ln-derived q20/log_w columns ride the q_text_unigram split and
    // are differential-spec-tested in TextSpec
    "q_text_dsir" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Text.dsirWeights(
        docs.filter(col("lang") =!= "en"),
        docs.filter(col("lang") === "en"), nBuckets = 256)
        .select(col("doc_id"), col("n_toks"), col("sum_ct"),
          col("sum_cr"), col("min_ct"))
        .orderBy(col("doc_id"))
    }),
    // logistic quality classifier, fixed-weight apply path: the logit
    // is IEEE +/* only, so it oracle-hashes; the sigmoid clf_score
    // goes through libm exp and is spec-tested (trained-weights path
    // is spec-tested end to end — a fitted model has no SQL twin)
    "q_text_classifier" -> ((s, d) =>
      Text.classifierScore(Tables.documents(s, d),
        Text.QualityClassifier(wStop = 1.5, wUniq = -2.0,
          wLen = 0.75, bias = 0.25))
        .select(col("doc_id"), col("n_tokens"), col("stopword_ratio"),
          col("uniq_ratio"), col("len_score"), col("logit"))
        .orderBy(col("doc_id"))),
    // corpus-level source-pair vocabulary overlap: exact integer
    // set sizes; jaccard is one IEEE division of those integers
    "q_text_source_overlap" -> ((s, d) =>
      Text.sourceOverlap(Tables.documents(s, d))
        .orderBy(col("source_a"), col("source_b"))),
    // power-of-2 length bucketing: integer bit arithmetic end to end
    "q_text_length_buckets" -> ((s, d) =>
      Text.lengthBuckets(Tables.documents(s, d))
        .orderBy(col("bucket"))),
    // exact reliability diagram of the "longer ⇒ more likely
    // English" score: 16 bins over an 11-bit capped length,
    // per-bin integer evidence + q20 squared calibration gap (the
    // Brier reliability term's per-bin contribution)
    "q_text_reliability" -> ((s, d) =>
      Audit.reliabilityBins(
        Tables.documents(s, d).select(
          least(col("n_chars"), lit(2047L)).as("score_scaled"),
          (col("lang") === "en").cast("long").as("is_en")),
        "score_scaled", "is_en", scaleBits = 11, nBins = 16)
        .orderBy(col("bin"))),
    // Murphy decomposition of the Brier score for the length-proxy
    // score against the gopher pass label: calibration vs skill vs
    // base-rate floor, one exact-micro row
    "q_text_brier" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Audit.brierDecomposition(
        docs.select(col("doc_id"),
            least(col("n_chars"), lit(2047L)).as("sc"))
          .join(Text.gopherRules(docs)
            .select(col("doc_id"),
              col("pass_gopher").cast("long").as("y")), "doc_id"),
        "sc", "y", scaleBits = 11, nBins = 16)
    }),
    // exact 1-D Wasserstein-1 of each source's stopword-rate
    // distribution vs the corpus: integrated drift + signed shift
    "q_text_source_emd" -> ((s, d) =>
      Text.sourceQualityEmd(Tables.documents(s, d))),
    // RAKE keywords: stopword-delimited runs scored deg/freq in
    // exact milli, corpus-level top-30
    "q_text_rake" -> ((s, d) =>
      Text.rakeKeywords(Tables.documents(s, d))),
    // transitive over-merge audit on the shared cluster assignment +
    // direct-pair graph; oversized clusters report examined=0
    "q_text_chain_contamination" -> ((s, d) =>
      Text.chainContamination(clusterAssign(s, d),
        jacPairs(s, d).select(col("doc_a"), col("doc_b")))),
    // isotonic (PAV) calibration of the same score->rate grid via
    // the exact minimax identity on the bin frame
    "q_text_isotonic" -> ((s, d) =>
      Audit.isotonicCalibration(
        Tables.documents(s, d).select(
          least(col("n_chars"), lit(2047L)).as("score_scaled"),
          (col("lang") === "en").cast("long").as("is_en")),
        "score_scaled", "is_en", scaleBits = 11, nBins = 16)),
    // Fleiss' kappa across THREE quality gates (heuristic, logistic
    // classifier, token-count rule) — the panel-level agreement the
    // pairwise q_text_filter_kappa cannot see
    "q_text_fleiss_kappa" -> ((s, d) => {
      val q = Text.qualityScore(Tables.documents(s, d))
      Audit.fleissKappa(q.select(
        (col("quality") >= 0.5).as("keep_a"),
        ((lit(0.25) + col("stopword_ratio") * 1.5 +
          col("uniq_ratio") * -2.0 + col("len_score") * 0.75) >= 0.0)
          .as("keep_b"),
        (col("n_tokens").between(12, 300) &&
          col("stopword_ratio") >= 0.05).as("keep_c")),
        Seq("keep_a", "keep_b", "keep_c"))
    }),
    // blocking-key audit: does (lang, length-bucket) blocking keep
    // the template-duplicate pairs (identical 40-char head) while
    // pruning the cross product? pair completeness vs reduction
    // ratio, pure group-size counting — no pair materialized
    "q_text_blocking_eval" -> ((s, d) =>
      Audit.blockingEval(Tables.documents(s, d),
        truthKey = substring(col("text"), 1, 40),
        // coalesce: concat_ws SKIPS a NULL lang (key degrades to the
        // bare bucket) while the twin's || propagates NULL — an empty
        // sentinel keeps the block key NULL-stable and engine-equal
        blockKey = concat_ws("|", coalesce(col("lang"), lit("")),
          expr("CAST(n_chars div 32 AS STRING)")))),
    // deterministic half-sample bootstrap of mean tokens/doc: 32
    // md5-parity replicates; any CI reads off the ordered means
    "q_text_bootstrap_mean" -> ((s, d) =>
      Audit.halfSampleBootstrap(
        Text.tokenStats(Tables.documents(s, d)),
        "doc_id", "n_tokens", reps = 32)
        .orderBy(col("rep"))),
    // source concentration per lang: exact ppm HHI + effective
    // source count — the diversity fact behind per-source quotas
    "q_text_source_hhi" -> ((s, d) =>
      Audit.concentrationHHI(Tables.documents(s, d),
        "source", Seq("lang"))
        .orderBy(col("lang"))),
    // per-source percentile-rank quality calibration: exact milli
    // rank position inside each source, windows partition by source
    "q_text_quality_rank_norm" -> ((s, d) =>
      Text.qualityRankNormalize(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    // windowed co-occurrence PMI top-50: pair space bounded by
    // |tokens|·window, exact q20-ln integers, TakeOrdered top-N
    "q_text_cooc_pmi" -> ((s, d) =>
      Text.windowCooccurrencePmi(Tables.documents(s, d),
        window = 5, minPairCount = 5L, topN = 50)),
    // one-way ANOVA F of doc length across languages: exact
    // sum-of-squares identities, per-group q20 floors pinned
    "q_text_len_anova" -> ((s, d) =>
      Audit.anovaF(Tables.documents(s, d), "n_chars", "lang")),
    // source-pair duplicate matrix over the shared exact-jaccard
    // pair graph: who copies from whom (syndication vs boilerplate)
    "q_text_source_dup_matrix" -> ((s, d) =>
      Text.sourceDupMatrix(Tables.documents(s, d), jacPairs(s, d))),
    // cross-language dup affinity: observed vs independence-expected
    // pair share per lang cell (a cross-lang cell far above lift
    // 1000 is MT boilerplate a per-lang dedup sweep never sees)
    "q_text_lang_dup_affinity" -> ((s, d) =>
      Text.langDupAffinity(Tables.documents(s, d), jacPairs(s, d))),
    // tokenizer fertility: tokens per MB-byte per lang + token/byte
    // share side by side (byte-balanced != token-balanced)
    "q_text_fertility" -> ((s, d) =>
      Text.tokenFertility(Tables.documents(s, d))),
    // chunk-level dedup profile: per doc, corpus-novel vs already-
    // seen context windows (first occurrence by (doc_id, chunk_id))
    "q_text_chunk_dedup" -> ((s, d) =>
      Text.chunkDedup(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    // Hill tail index of the doc-length distribution over the top-k
    // lengths — exact ln-of-integer q20 terms, TakeOrdered top-k
    "q_text_tail_index" -> ((s, d) =>
      Text.lengthTailIndex(Tables.documents(s, d))),
    // Mann-Whitney U of doc length en-vs-de: doubled-midrank
    // convention keeps rank sums integer under ties; auc_ppm is the
    // U/(n1*n2) effect size. Cumulative over the n_chars VALUE
    // histogram, never a per-row rank window
    "q_text_mwu" -> ((s, d) =>
      Audit.mannWhitneyU(Tables.documents(s, d),
        col("lang"), col("n_chars"), "en", "de")),
    // Bradley-Terry source strengths from pairwise quality
    // preferences: rank-sum wins + tie-corrected pair counts off the
    // quality histogram (never a doc-pair join), 3 exact q20 MM
    // rounds with per-round renormalization
    "q_text_bradley_terry" -> ((s, d) =>
      Text.bradleyTerry(Tables.documents(s, d), iters = 3)),
    // source-pair tf-idf cosine: integer weights (tf × q20-ln idf),
    // exact DECIMAL dots/norms, one IEEE sqrt/divide at the end
    "q_text_source_tfidf_cos" -> ((s, d) =>
      Text.sourceTfidfCosine(Tables.documents(s, d))
        .orderBy(col("source_a"), col("source_b"))),
    // Church/Gale token burstiness: cf/df exact milli, top-50
    "q_text_token_burstiness" -> ((s, d) =>
      Text.tokenBurstiness(Tables.documents(s, d),
        minDf = 3L, topN = 50)),
    // template-head registry: shared 40-char prefixes with doc and
    // source reach — the blockingEval ground truth, listed
    "q_text_template_heads" -> ((s, d) =>
      Text.templateHeads(Tables.documents(s, d),
        headLen = 40, minDocs = 2L, topN = 50)),
    // filter yield curve: per quality value-bucket, doc/token mass
    // kept if the gate cut below it — ≤11 bucket rows by value
    "q_text_filter_yield" -> ((s, d) =>
      Text.filterYieldCurve(Tables.documents(s, d))
        .orderBy(col("bucket"))),
    // dup-cluster quality bias: is dedup ALSO a quality filter?
    // per-size exact milli quality mass over the shared assignment
    "q_text_dup_quality_bias" -> ((s, d) =>
      Text.dupQualityBias(clusterAssign(s, d),
        Tables.documents(s, d))
        .orderBy(col("cluster_size")))
  )

  private val toksSql = "regexp_split_to_array(trim(text), '\\s+')"
  private val stopSql = "['the','a','an','and','of','to','in','is']"

  /** The quality-score expression over a token-array column — the
    * single SQL source of truth for `Text.qualityScore`'s formula
    * (stop-ratio·0.25 + uniq-ratio·0.5 + len-score·0.25); every
    * oracle that gates or ranks on quality interpolates this so a
    * weight change cannot silently diverge one of them.
    */
  private def qualityExprSql(toks: String) =
    s"""CAST(len(list_filter($toks,
       |      x -> list_contains($stopSql, x))) AS DOUBLE)
       |      / GREATEST(len($toks), 1) * 0.25
       |    + CAST(len(list_distinct($toks)) AS DOUBLE)
       |      / GREATEST(len($toks), 1) * 0.5
       |    + CAST(LEAST(n_chars, 500) AS DOUBLE) / 500.0 * 0.25""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_text_lsh_tuning" -> lshTuningOracle,
    "q_text_good_turing" ->
      s"""WITH tok AS (
         |  SELECT UNNEST($toksSql) AS token FROM documents
         |  WHERE len(trim(text)) > 0),
         |tf AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY 1),
         |cc AS (
         |  SELECT c, CAST(COUNT(*) AS BIGINT) AS s_c
         |  FROM tf GROUP BY 1),
         |t AS (
         |  SELECT CAST(SUM(c * s_c) AS BIGINT) AS total,
         |    CAST(COALESCE(SUM(CASE WHEN c = 1 THEN s_c END), 0)
         |      AS BIGINT) AS n1
         |  FROM cc)
         |SELECT cc.c, cc.s_c,
         |  CAST(COALESCE(nx.s_c, 0) AS BIGINT) AS s_next,
         |  (cc.c + 1) * CAST(COALESCE(nx.s_c, 0) AS BIGINT) * 1000
         |    // cc.s_c AS c_star_milli,
         |  t.n1 * 1000000 // t.total AS p0_ppm
         |FROM cc LEFT JOIN cc nx ON nx.c = cc.c + 1
         |CROSS JOIN t
         |ORDER BY cc.c""".stripMargin,
    "q_text_kneser_ney" ->
      s"""WITH t AS (
         |  SELECT $toksSql AS toks
         |  FROM documents WHERE len(trim(text)) > 0),
         |ix AS (
         |  SELECT toks,
         |    UNNEST(generate_series(1, len(toks) - 1)) AS i
         |  FROM t WHERE len(toks) >= 2),
         |big AS (
         |  SELECT toks[i] AS w1, toks[i + 1] AS w2,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM ix GROUP BY 1, 2),
         |hist AS (
         |  SELECT w1, CAST(SUM(c) AS BIGINT) AS c_w1,
         |    CAST(COUNT(*) AS BIGINT) AS fert_w1
         |  FROM big GROUP BY 1),
         |cont AS (
         |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS fert_w2
         |  FROM big GROUP BY 1),
         |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS bigram_types
         |      FROM big),
         |head AS (
         |  SELECT w1, w2, c FROM big
         |  ORDER BY c DESC, w1, w2 LIMIT 50)
         |SELECT h.w1, h.w2, h.c, hist.c_w1, hist.fert_w1,
         |  cont.fert_w2, b.bigram_types,
         |  CAST((CAST(GREATEST(4 * h.c - 3, 0) AS HUGEINT)
         |      * b.bigram_types
         |      + 3 * CAST(hist.fert_w1 AS HUGEINT) * cont.fert_w2)
         |    * 1000000
         |    // (CAST(4 AS HUGEINT) * hist.c_w1 * b.bigram_types)
         |    AS BIGINT) AS kn_ppm,
         |  cont.fert_w2 * 1000000 // b.bigram_types AS cont_ppm
         |FROM head h
         |JOIN hist USING (w1) JOIN cont USING (w2) CROSS JOIN b
         |ORDER BY h.c DESC, h.w1, h.w2""".stripMargin,
    "q_text_burrows_delta" ->
      s"""WITH tok AS (
         |  SELECT source, UNNEST($toksSql) AS token
         |  FROM documents WHERE len(trim(text)) > 0),
         |tf AS (
         |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY 1, 2),
         |tot AS (
         |  SELECT source, CAST(SUM(tf) AS BIGINT) AS total
         |  FROM tf GROUP BY 1),
         |top AS (
         |  SELECT token FROM (
         |    SELECT token, SUM(tf) AS ctf FROM tf GROUP BY 1)
         |  ORDER BY ctf DESC, token LIMIT 20),
         |f AS (
         |  SELECT t.source, p.token,
         |    COALESCE(x.tf, 0) * 1000000 // t.total AS f_ppm
         |  FROM tot t CROSS JOIN top p
         |  LEFT JOIN tf x
         |    ON x.source = t.source AND x.token = p.token),
         |mom AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS s,
         |    CAST(SUM(f_ppm) AS BIGINT) AS sf,
         |    CAST(SUM(f_ppm * f_ppm) AS BIGINT) AS sff
         |  FROM f GROUP BY 1),
         |mom2 AS (
         |  SELECT token, s, sf,
         |    CAST(floor(sqrt(CAST(s * sff - sf * sf AS DOUBLE)))
         |      AS BIGINT) AS sd_scaled
         |  FROM mom),
         |z AS (
         |  SELECT f.source, f.token,
         |    CASE WHEN f.f_ppm * m.s - m.sf < 0
         |      THEN -((m.sf - f.f_ppm * m.s) * 1000
         |             // GREATEST(m.sd_scaled, 1))
         |      ELSE (f.f_ppm * m.s - m.sf) * 1000
         |           // GREATEST(m.sd_scaled, 1) END AS z_milli
         |  FROM f JOIN mom2 m USING (token))
         |SELECT za.source AS source_a, zb.source AS source_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(abs(za.z_milli - zb.z_milli)) AS BIGINT)
         |    AS sum_abs_dz,
         |  CAST(SUM(abs(za.z_milli - zb.z_milli)) AS BIGINT)
         |    // COUNT(*) AS delta_milli
         |FROM z za JOIN z zb
         |  ON za.token = zb.token AND za.source < zb.source
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    "q_text_source_lang_mi" ->
      """WITH cells AS (
        |  SELECT source AS a, lang AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |at AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a
        |  FROM cells GROUP BY 1),
        |bt AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b
        |  FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM cells),
        |sc AS (
        |  SELECT cells.a, cells.b, cells.n_ab, at.n_a, bt.n_b, t.n,
        |    CAST(FLOOR(LN(CAST(cells.n_ab AS DOUBLE)) * 1048576)
        |      AS BIGINT)
        |    + CAST(FLOOR(LN(CAST(t.n AS DOUBLE)) * 1048576)
        |      AS BIGINT)
        |    - CAST(FLOOR(LN(CAST(at.n_a AS DOUBLE)) * 1048576)
        |      AS BIGINT)
        |    - CAST(FLOOR(LN(CAST(bt.n_b AS DOUBLE)) * 1048576)
        |      AS BIGINT) AS pmi_q20
        |  FROM cells
        |  JOIN at ON cells.a = at.a
        |  JOIN bt ON cells.b = bt.b
        |  CROSS JOIN t),
        |mi AS (
        |  SELECT CAST(SUM(CAST(n_ab AS HUGEINT) * pmi_q20)
        |    // MAX(n) AS BIGINT) AS mi_q20
        |  FROM sc)
        |SELECT a, b, n_ab, n_a, n_b, n, pmi_q20, mi.mi_q20
        |FROM sc CROSS JOIN mi ORDER BY a, b""".stripMargin,
    "q_text_gopher_rules" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, $toksSql AS toks
         |  FROM documents WHERE length(trim(text)) > 0),
         |r AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(toks, x -> length(x)))
         |      AS BIGINT) AS sum_len,
         |    CAST(length(text) - length(replace(text, '#', ''))
         |      + (length(text) - length(replace(text, '...', '')))
         |        // 3 AS BIGINT) AS n_symbols,
         |    CAST(len(list_filter(toks,
         |      x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT)
         |      AS n_alpha,
         |    CAST(len(list_filter(toks,
         |      x -> list_contains($stopSql, lower(x)))) AS BIGINT)
         |      AS n_stop
         |  FROM t),
         |m AS (
         |  SELECT doc_id, n_words,
         |    sum_len * 1000 // n_words AS mean_wlen_milli,
         |    n_symbols * 1000000 // n_words AS symbol_ppm,
         |    n_alpha * 1000000 // n_words AS alpha_ppm,
         |    n_stop
         |  FROM r)
         |SELECT doc_id, n_words, mean_wlen_milli, symbol_ppm,
         |  alpha_ppm, n_stop,
         |  mean_wlen_milli >= 3000 AND mean_wlen_milli <= 10000
         |    AS pass_wlen,
         |  symbol_ppm < 100000 AS pass_symbol,
         |  alpha_ppm >= 800000 AS pass_alpha,
         |  n_stop >= 2 AS pass_stop,
         |  (mean_wlen_milli >= 3000 AND mean_wlen_milli <= 10000)
         |    AND symbol_ppm < 100000 AND alpha_ppm >= 800000
         |    AND n_stop >= 2 AS pass_gopher
         |FROM m ORDER BY doc_id""".stripMargin,
    "q_text_theil" ->
      """WITH hist AS (
        |  SELECT source AS grp,
        |    CAST(LEAST(n_chars, 2000) AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS ct
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |    AND LEAST(n_chars, 2000) >= 1
        |  GROUP BY 1, 2),
        |per AS (
        |  SELECT grp, CAST(SUM(ct) AS BIGINT) AS n_g,
        |    CAST(SUM(ct * v) AS BIGINT) AS sum_g
        |  FROM hist GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
        |    CAST(SUM(sum_g) AS BIGINT) AS sum_all
        |  FROM per),
        |tg AS (
        |  SELECT h.grp, CAST(SUM(CAST(h.ct AS HUGEINT) * h.v * (
        |      CAST(FLOOR(LN(CAST(h.v AS DOUBLE)) * 1048576)
        |        AS BIGINT)
        |      + CAST(FLOOR(LN(CAST(p.n_g AS DOUBLE)) * 1048576)
        |        AS BIGINT)
        |      - CAST(FLOOR(LN(CAST(p.sum_g AS DOUBLE)) * 1048576)
        |        AS BIGINT))) AS HUGEINT) AS num_g
        |  FROM hist h JOIN per p USING (grp) GROUP BY 1),
        |g AS (
        |  SELECT p.grp, p.n_g, p.sum_g,
        |    CAST(CAST(p.sum_g AS HUGEINT) * 1000000 // tt.sum_all
        |      AS BIGINT) AS share_ppm,
        |    CAST(t.num_g // p.sum_g AS BIGINT) AS t_g_q20,
        |    CAST(FLOOR(LN(CAST(p.sum_g AS DOUBLE)) * 1048576)
        |      AS BIGINT)
        |    - CAST(FLOOR(LN(CAST(p.n_g AS DOUBLE)) * 1048576)
        |      AS BIGINT)
        |    - CAST(FLOOR(LN(CAST(tt.sum_all AS DOUBLE)) * 1048576)
        |      AS BIGINT)
        |    + CAST(FLOOR(LN(CAST(tt.n AS DOUBLE)) * 1048576)
        |      AS BIGINT) AS between_q20,
        |    tt.sum_all
        |  FROM per p JOIN tg t USING (grp) CROSS JOIN tot tt),
        |roll AS (
        |  SELECT
        |    CAST(SUM(CAST(sum_g AS HUGEINT) * t_g_q20) // sum_all
        |      AS BIGINT) AS t_within_q20,
        |    CAST(SUM(CAST(sum_g AS HUGEINT) * between_q20) // sum_all
        |      AS BIGINT) AS t_between_q20
        |  FROM g GROUP BY sum_all)
        |SELECT grp, n_g, sum_g, share_ppm, t_g_q20, between_q20,
        |  r.t_within_q20, r.t_between_q20,
        |  r.t_within_q20 + r.t_between_q20 AS t_total_q20
        |FROM g CROSS JOIN roll r ORDER BY grp""".stripMargin,
    "q_text_source_influence" ->
      """WITH per AS (
        |  SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n_h,
        |    CAST(SUM(LEAST(n_chars, 2000)) AS BIGINT) AS sum_h
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1),
        |t AS (
        |  SELECT CAST(SUM(n_h) AS BIGINT) AS n,
        |    CAST(SUM(sum_h) AS BIGINT) AS sum_all
        |  FROM per),
        |m AS (
        |  SELECT per.*, t.n,
        |    t.sum_all * 1000 // t.n AS mean_all_milli,
        |    CASE WHEN t.n > per.n_h THEN
        |      (t.sum_all - per.sum_h) * 1000 // (t.n - per.n_h)
        |    END AS mean_without_milli
        |  FROM per CROSS JOIN t)
        |SELECT grp, n_h, sum_h, n, mean_all_milli,
        |  mean_without_milli,
        |  mean_without_milli - mean_all_milli AS influence_milli
        |FROM m ORDER BY grp""".stripMargin,
    "q_text_neyman_alloc" ->
      """WITH s AS (
        |  SELECT source AS stratum,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(LEAST(n_chars, 2000)) AS BIGINT) AS sum_x,
        |    CAST(SUM(CAST(LEAST(n_chars, 2000) AS HUGEINT)
        |      * LEAST(n_chars, 2000)) AS HUGEINT) AS sum_x2
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1),
        |v AS (
        |  SELECT *, CAST(n_docs AS HUGEINT) * sum_x2
        |    - CAST(sum_x AS HUGEINT) * sum_x AS s2_num
        |  FROM s),
        |wt AS (
        |  SELECT *, CAST(FLOOR(SQRT(CAST(s2_num
        |    // GREATEST(n_docs - 1, 1) AS DOUBLE))) AS BIGINT) AS w
        |  FROM v),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS sum_w FROM wt),
        |b AS (
        |  SELECT wt.*, t.sum_w,
        |    CASE WHEN t.sum_w > 0 THEN
        |      CAST(CAST(1000 AS HUGEINT) * wt.w // t.sum_w AS BIGINT)
        |    ELSE 0 END AS base,
        |    CASE WHEN t.sum_w > 0 THEN
        |      CAST((CAST(1000 AS HUGEINT) * wt.w) % t.sum_w AS BIGINT)
        |    ELSE 0 END AS rem
        |  FROM wt CROSS JOIN t),
        |l AS (
        |  SELECT *,
        |    1000 - CAST(SUM(base) OVER () AS BIGINT) AS leftover,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, stratum) AS rk
        |  FROM b),
        |f AS (
        |  SELECT *, CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS extra
        |  FROM l)
        |SELECT stratum, n_docs, sum_x, CAST(sum_x2 AS BIGINT)
        |  AS sum_x2, w, base, rem, extra, base + extra AS n_alloc
        |FROM f ORDER BY stratum""".stripMargin,
    "q_text_spearman" ->
      """WITH base AS (
        |  SELECT LEAST(n_chars, 2000) AS x,
        |    LEAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+'))
        |      END, 400) AS y
        |  FROM documents),
        |pairs AS (
        |  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS ct
        |  FROM base GROUP BY 1, 2),
        |xh AS (SELECT x, CAST(SUM(ct) AS BIGINT) AS c
        |  FROM pairs GROUP BY 1),
        |yh AS (SELECT y, CAST(SUM(ct) AS BIGINT) AS c
        |  FROM pairs GROUP BY 1),
        |nt AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM pairs),
        |xr AS (
        |  SELECT x,
        |    (2 * (CAST(SUM(c) OVER (ORDER BY x) AS BIGINT) - c)
        |      + c + 1) * 1000000 // (2 * nt.n) AS rx_ppm
        |  FROM xh CROSS JOIN nt),
        |yr AS (
        |  SELECT y,
        |    (2 * (CAST(SUM(c) OVER (ORDER BY y) AS BIGINT) - c)
        |      + c + 1) * 1000000 // (2 * nt.n) AS ry_ppm
        |  FROM yh CROSS JOIN nt),
        |m AS (
        |  SELECT nt.n AS n,
        |    CAST(SUM(ct * rx_ppm) AS HUGEINT) AS sx,
        |    CAST(SUM(ct * ry_ppm) AS HUGEINT) AS sy,
        |    CAST(SUM(CAST(ct AS HUGEINT) * rx_ppm * ry_ppm)
        |      AS HUGEINT) AS sxy,
        |    CAST(SUM(CAST(ct AS HUGEINT) * rx_ppm * rx_ppm)
        |      AS HUGEINT) AS sx2,
        |    CAST(SUM(CAST(ct AS HUGEINT) * ry_ppm * ry_ppm)
        |      AS HUGEINT) AS sy2
        |  FROM pairs JOIN xr USING (x) JOIN yr USING (y)
        |  CROSS JOIN nt GROUP BY 1),
        |e AS (
        |  SELECT n,
        |    CAST(sx // n AS BIGINT) AS mean_rx_ppm,
        |    CAST(sy // n AS BIGINT) AS mean_ry_ppm,
        |    CAST(sxy // n AS BIGINT) AS e_xy_pp2,
        |    CAST(sx2 // n AS BIGINT) AS e_x2_pp2,
        |    CAST(sy2 // n AS BIGINT) AS e_y2_pp2
        |  FROM m),
        |v AS (
        |  SELECT *,
        |    e_xy_pp2 - mean_rx_ppm * mean_ry_ppm AS cov_pp2,
        |    e_x2_pp2 - mean_rx_ppm * mean_rx_ppm AS var_x_pp2,
        |    e_y2_pp2 - mean_ry_ppm * mean_ry_ppm AS var_y_pp2
        |  FROM e)
        |SELECT n, mean_rx_ppm, mean_ry_ppm, e_xy_pp2, e_x2_pp2,
        |  e_y2_pp2, cov_pp2, var_x_pp2, var_y_pp2,
        |  CASE WHEN var_x_pp2 > 0 AND var_y_pp2 > 0 THEN
        |    CAST(FLOOR(CAST(cov_pp2 AS DOUBLE) * 1000.0
        |      / SQRT(CAST(var_x_pp2 AS DOUBLE)
        |        * CAST(var_y_pp2 AS DOUBLE))) AS BIGINT)
        |  END AS rho_milli
        |FROM v""".stripMargin,
    "q_text_auc_influence" ->
      """WITH base AS (
        |  SELECT source AS grp, LEAST(n_chars, 2000) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |cg AS (
        |  SELECT grp, score,
        |    CAST(SUM(CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pos_g,
        |    CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS neg_g
        |  FROM base GROUP BY 1, 2),
        |cs AS (
        |  SELECT score, CAST(SUM(pos_g) AS BIGINT) AS pos_s,
        |    CAST(SUM(neg_g) AS BIGINT) AS neg_s
        |  FROM cg GROUP BY 1),
        |ga AS (
        |  SELECT score, pos_s, neg_s,
        |    CAST(SUM(neg_s) OVER (ORDER BY score) AS BIGINT)
        |      AS cum_neg_le,
        |    CAST(SUM(pos_s) OVER () AS BIGINT) AS p,
        |    CAST(SUM(neg_s) OVER () AS BIGINT) AS nn
        |  FROM cs),
        |gt AS (
        |  SELECT MAX(p) AS p, MAX(nn) AS nn,
        |    CAST(SUM(CAST(pos_s AS HUGEINT)
        |      * (2 * (cum_neg_le - neg_s) + neg_s)) AS HUGEINT)
        |      AS auc2
        |  FROM ga),
        |gl AS (
        |  SELECT CASE WHEN p > 0 AND nn > 0 THEN
        |    CAST(auc2 * 1000000 // (CAST(2 AS HUGEINT) * p * nn)
        |      AS BIGINT)
        |  END AS auc_all_ppm FROM gt),
        |dom AS (
        |  SELECT g.grp, cs.score, cs.pos_s, cs.neg_s
        |  FROM (SELECT DISTINCT grp FROM cg) g CROSS JOIN cs),
        |ex AS (
        |  SELECT dom.grp, dom.score,
        |    dom.pos_s - COALESCE(cg.pos_g, 0) AS pos_ex,
        |    dom.neg_s - COALESCE(cg.neg_g, 0) AS neg_ex
        |  FROM dom LEFT JOIN cg
        |    ON dom.grp = cg.grp AND dom.score = cg.score),
        |w AS (
        |  SELECT grp, score, pos_ex, neg_ex,
        |    CAST(SUM(neg_ex) OVER (PARTITION BY grp ORDER BY score)
        |      AS BIGINT) AS cum_neg_le,
        |    CAST(SUM(pos_ex) OVER (PARTITION BY grp) AS BIGINT) AS p,
        |    CAST(SUM(neg_ex) OVER (PARTITION BY grp) AS BIGINT) AS nn
        |  FROM ex),
        |agg AS (
        |  SELECT grp, CAST(MAX(p) AS BIGINT) AS n_pos_ex,
        |    CAST(MAX(nn) AS BIGINT) AS n_neg_ex,
        |    CAST(SUM(CAST(pos_ex AS HUGEINT)
        |      * (2 * (cum_neg_le - neg_ex) + neg_ex)) AS HUGEINT)
        |      AS auc2_ex
        |  FROM w GROUP BY 1),
        |f AS (
        |  SELECT grp, n_pos_ex, n_neg_ex,
        |    CASE WHEN n_pos_ex > 0 AND n_neg_ex > 0 THEN
        |      CAST(auc2_ex * 1000000
        |        // (CAST(2 AS HUGEINT) * n_pos_ex * n_neg_ex)
        |        AS BIGINT)
        |    END AS auc_without_ppm,
        |    gl.auc_all_ppm
        |  FROM agg CROSS JOIN gl)
        |SELECT grp, n_pos_ex, n_neg_ex, auc_without_ppm,
        |  auc_all_ppm, auc_without_ppm - auc_all_ppm AS influence_ppm
        |FROM f ORDER BY grp""".stripMargin,
    "q_text_quality_auc" ->
      """WITH base AS (
        |  SELECT source, LEAST(n_chars, 2000) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
        |  FROM documents),
        |c AS (
        |  SELECT source, score,
        |    CAST(SUM(CASE WHEN is_en <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos_at,
        |    CAST(SUM(CASE WHEN is_en = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS neg_at
        |  FROM base GROUP BY 1, 2),
        |w AS (
        |  SELECT source, score, pos_at, neg_at,
        |    CAST(SUM(pos_at) OVER (PARTITION BY source
        |      ORDER BY score) AS BIGINT) AS cum_pos_le,
        |    CAST(SUM(neg_at) OVER (PARTITION BY source
        |      ORDER BY score) AS BIGINT) AS cum_neg_le,
        |    CAST(SUM(pos_at) OVER (PARTITION BY source)
        |      AS BIGINT) AS n_pos,
        |    CAST(SUM(neg_at) OVER (PARTITION BY source)
        |      AS BIGINT) AS n_neg
        |  FROM c),
        |a AS (
        |  SELECT *,
        |    CAST(SUM(CAST(pos_at AS HUGEINT)
        |      * (2 * (cum_neg_le - neg_at) + neg_at))
        |      OVER (PARTITION BY source) AS HUGEINT) AS auc2
        |  FROM w)
        |SELECT source, score, pos_at, neg_at,
        |  CASE WHEN n_pos > 0 THEN
        |    (n_pos - (cum_pos_le - pos_at)) * 1000000 // n_pos
        |  END AS tpr_ppm,
        |  CASE WHEN n_neg > 0 THEN
        |    (n_neg - (cum_neg_le - neg_at)) * 1000000 // n_neg
        |  END AS fpr_ppm,
        |  n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    CAST(auc2 * 1000000
        |      // (CAST(2 AS HUGEINT) * n_pos * n_neg) AS BIGINT)
        |  END AS auc_ppm
        |FROM a ORDER BY source, score""".stripMargin,
    "q_text_quality_ks" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(toks,
         |      x -> list_contains($stopSql, x))) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS stopword_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS uniq_ratio,
         |    CAST(LEAST(n_chars, 500) AS DOUBLE) / 500.0 AS len_score
         |  FROM t),
         |q AS (
         |  SELECT doc_id,
         |    CAST(FLOOR((stopword_ratio * 0.25 + uniq_ratio * 0.5
         |      + len_score * 0.25) * 1000) AS BIGINT) AS v
         |  FROM r),
         |h1 AS (
         |  SELECT v, COUNT(*) AS c1 FROM q
         |  WHERE doc_id % 2 = 0 GROUP BY 1),
         |h2 AS (
         |  SELECT v, COUNT(*) AS c2 FROM q
         |  WHERE doc_id % 2 = 1 GROUP BY 1),
         |m AS (
         |  SELECT COALESCE(h1.v, h2.v) AS v,
         |    CAST(COALESCE(c1, 0) AS BIGINT) AS c1,
         |    CAST(COALESCE(c2, 0) AS BIGINT) AS c2
         |  FROM h1 FULL OUTER JOIN h2 ON h1.v = h2.v),
         |tt AS (
         |  SELECT CAST(SUM(c1) AS BIGINT) AS n_ref,
         |    CAST(SUM(c2) AS BIGINT) AS n_cur FROM m),
         |c AS (
         |  SELECT v, SUM(c1) OVER (ORDER BY v) AS cum1,
         |    SUM(c2) OVER (ORDER BY v) AS cum2 FROM m),
         |d AS (
         |  SELECT v,
         |    ABS(tt.n_cur * c.cum1 - tt.n_ref * c.cum2) AS dn,
         |    tt.n_ref, tt.n_cur
         |  FROM c CROSS JOIN tt)
         |SELECT n_ref, n_cur, CAST(MAX(dn) AS BIGINT) AS d_num,
         |  CAST(MAX(dn) AS BIGINT) * 1000000 // (n_ref * n_cur)
         |    AS ks_ppm,
         |  MIN(CASE WHEN dn = (SELECT MAX(dn) FROM d) THEN v END)
         |    AS at_value
         |FROM d GROUP BY n_ref, n_cur""".stripMargin,
    "q_text_filter_kappa" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |r AS (
         |  SELECT
         |    CAST(len(list_filter(toks,
         |      x -> list_contains($stopSql, x))) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS stopword_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS uniq_ratio,
         |    CAST(LEAST(n_chars, 500) AS DOUBLE) / 500.0 AS len_score
         |  FROM t),
         |f AS (
         |  SELECT
         |    stopword_ratio * 0.25 + uniq_ratio * 0.5
         |      + len_score * 0.25 >= 0.5 AS keep_a,
         |    0.25 + stopword_ratio * 1.5 + uniq_ratio * -2.0
         |      + len_score * 0.75 >= 0.0 AS keep_b
         |  FROM r),
         |c AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(COUNT(CASE WHEN keep_a AND keep_b THEN 1 END)
         |      AS BIGINT) AS n11,
         |    CAST(COUNT(CASE WHEN keep_a AND NOT keep_b THEN 1 END)
         |      AS BIGINT) AS n10,
         |    CAST(COUNT(CASE WHEN NOT keep_a AND keep_b THEN 1 END)
         |      AS BIGINT) AS n01,
         |    CAST(COUNT(CASE WHEN NOT keep_a AND NOT keep_b THEN 1
         |      END) AS BIGINT) AS n00
         |  FROM f),
         |k AS (
         |  SELECT *, (n11 + n10) * (n11 + n01)
         |    + (n01 + n00) * (n10 + n00) AS pen
         |  FROM c)
         |SELECT n, n11, n10, n01, n00,
         |  (n11 + n00) * 1000000 // n AS po_ppm,
         |  pen * 1000000 // (n * n) AS pe_ppm,
         |  CASE WHEN n * n - pen = 0 THEN NULL
         |    ELSE (1000 * (n * (n11 + n00) - pen)) // (n * n - pen)
         |  END AS kappa_milli
         |FROM k""".stripMargin,
    // per-bin integer evidence + q20 gap² — HUGEINT promoted BEFORE
    // the square×2^20 product (BIGINT overflows at corpus scale),
    // narrowed back for the hash compare
    "q_text_isotonic" ->
      """WITH b AS (
        |  SELECT CAST(LEAST(n_chars, 2047) AS BIGINT) // 128 AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS sum_label
        |  FROM documents GROUP BY 1),
        |pre AS (
        |  SELECT bin, n, sum_label,
        |    SUM(n) OVER (ORDER BY bin) AS cum_n,
        |    SUM(sum_label) OVER (ORDER BY bin) AS cum_y
        |  FROM b),
        |segs AS (
        |  SELECT lo.bin AS j, hi.bin AS k,
        |    CAST(hi.cum_y - (lo.cum_y - lo.sum_label) AS DOUBLE)
        |      / CAST(hi.cum_n - (lo.cum_n - lo.n) AS DOUBLE)
        |      AS seg_avg
        |  FROM pre lo JOIN pre hi ON lo.bin <= hi.bin),
        |im AS (
        |  SELECT i.bin AS i, s.j, MIN(s.seg_avg) AS mn
        |  FROM segs s JOIN b i ON s.j <= i.bin AND s.k >= i.bin
        |  GROUP BY 1, 2),
        |fit AS (SELECT i, MAX(mn) AS fit FROM im GROUP BY 1)
        |SELECT b.bin, b.n, b.sum_label,
        |  b.sum_label * 1000 // b.n AS raw_rate_milli,
        |  CAST(floor(fit.fit * 1000) AS BIGINT) AS fit_milli
        |FROM b JOIN fit ON b.bin = fit.i
        |ORDER BY b.bin""".stripMargin,
    "q_text_reliability" ->
      """WITH b AS (
        |  SELECT LEAST(n_chars, 2047) AS sc,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |a AS (
        |  SELECT sc // 128 AS bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sum_label,
        |    CAST(SUM(sc) AS BIGINT) AS sum_score_scaled
        |  FROM b GROUP BY 1)
        |SELECT bin, n, sum_label, sum_score_scaled,
        |  CAST((CAST(sum_score_scaled AS HUGEINT) - 2048 * sum_label)
        |    * (CAST(sum_score_scaled AS HUGEINT) - 2048 * sum_label)
        |    * 1048576
        |    // (CAST(2048 AS HUGEINT) * 2048 * n * n) AS BIGINT)
        |    AS gap_sq_q20
        |FROM a ORDER BY bin""".stripMargin,
    // Murphy decomposition, HUGEINT-bridged: the gopher pass CTE is
    // the q_text_gopher_rules twin inlined as the label
    "q_text_brier" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, n_chars, $toksSql AS toks
         |  FROM documents WHERE length(trim(text)) > 0),
         |g AS (
         |  SELECT doc_id, n_chars,
         |    CAST(list_sum(list_transform(toks, x -> length(x)))
         |        AS BIGINT) * 1000 // CAST(len(toks) AS BIGINT)
         |      AS mwl,
         |    CAST(length(text) - length(replace(text, '#', ''))
         |      + (length(text) - length(replace(text, '...', '')))
         |        // 3 AS BIGINT) * 1000000
         |      // CAST(len(toks) AS BIGINT) AS sym,
         |    CAST(len(list_filter(toks,
         |      x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT)
         |      * 1000000 // CAST(len(toks) AS BIGINT) AS alf,
         |    CAST(len(list_filter(toks,
         |      x -> list_contains($stopSql, lower(x)))) AS BIGINT)
         |      AS nst
         |  FROM t),
         |j AS (
         |  SELECT LEAST(n_chars, 2047) AS sc,
         |    CASE WHEN mwl >= 3000 AND mwl <= 10000
         |      AND sym < 100000 AND alf >= 800000 AND nst >= 2
         |      THEN 1 ELSE 0 END AS y
         |  FROM g),
         |bins AS (
         |  SELECT sc // 128 AS bin, CAST(COUNT(*) AS BIGINT) AS n_k,
         |    CAST(SUM(sc) AS BIGINT) AS ssc,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(CAST(sc - 2048 * y AS HUGEINT)
         |      * (sc - 2048 * y)) AS HUGEINT) AS sqerr
         |  FROM j GROUP BY 1),
         |tot AS (
         |  SELECT CAST(SUM(n_k) AS BIGINT) AS n,
         |    CAST(SUM(sy) AS BIGINT) AS sy_tot,
         |    CAST(SUM(sqerr) AS HUGEINT) AS sqerr_tot,
         |    CAST(SUM((CAST(ssc AS HUGEINT) - 2048 * sy)
         |      * (CAST(ssc AS HUGEINT) - 2048 * sy) * 1000000
         |      // n_k) AS HUGEINT) AS rel_sum
         |  FROM bins),
         |res AS (
         |  SELECT CAST(SUM((CAST(b.sy AS HUGEINT) * t.n
         |      - CAST(t.sy_tot AS HUGEINT) * b.n_k)
         |    * (CAST(b.sy AS HUGEINT) * t.n
         |      - CAST(t.sy_tot AS HUGEINT) * b.n_k) * 1000000
         |    // b.n_k) AS HUGEINT) AS res_sum
         |  FROM bins b CROSS JOIN tot t)
         |SELECT t.n, t.sy_tot AS n_pos,
         |  CAST(t.sqerr_tot * 1000000
         |    // (CAST(2048 AS HUGEINT) * 2048 * t.n) AS BIGINT)
         |    AS brier_micro,
         |  CAST(t.rel_sum
         |    // (CAST(2048 AS HUGEINT) * 2048 * t.n) AS BIGINT)
         |    AS rel_micro,
         |  CAST(r.res_sum
         |    // (CAST(t.n AS HUGEINT) * t.n * t.n) AS BIGINT)
         |    AS res_micro,
         |  CAST(CAST(t.sy_tot AS HUGEINT) * (t.n - t.sy_tot)
         |    * 1000000 // (CAST(t.n AS HUGEINT) * t.n) AS BIGINT)
         |    AS unc_micro
         |FROM tot t CROSS JOIN res r""".stripMargin,
    // same recursive CC + direct-pair left join; oversize clusters
    // as examined=0 rows (none at validation SFs)
    "q_text_chain_contamination" ->
      s"""WITH RECURSIVE $jacPairsSql,
         |dp AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
         |e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM dp
         |  UNION ALL SELECT doc_b, doc_a FROM dp),
         |reach(doc_id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.doc_id, e.dst
         |  FROM reach JOIN e ON reach.r = e.src),
         |cl AS (
         |  SELECT doc_id, MIN(r) AS cluster
         |  FROM reach GROUP BY doc_id),
         |szs AS (
         |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM cl GROUP BY 1 HAVING COUNT(*) >= 2),
         |small AS (
         |  SELECT c.doc_id, c.cluster, s.sz
         |  FROM cl c JOIN szs s ON c.cluster = s.cluster
         |  WHERE s.sz <= 64),
         |intra AS (
         |  SELECT a.cluster, a.sz, a.doc_id AS doc_a,
         |    b.doc_id AS doc_b
         |  FROM small a JOIN small b
         |    ON a.cluster = b.cluster AND a.doc_id < b.doc_id),
         |fl AS (
         |  SELECT i.sz, i.cluster,
         |    CASE WHEN d.doc_a IS NOT NULL THEN 1 ELSE 0 END
         |      AS direct
         |  FROM intra i LEFT JOIN dp d
         |    ON i.doc_a = d.doc_a AND i.doc_b = d.doc_b),
         |ex AS (
         |  SELECT sz,
         |    CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
         |    CAST(1 AS BIGINT) AS examined,
         |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(direct) AS BIGINT) AS n_direct,
         |    CAST(COUNT(*) - SUM(direct) AS BIGINT)
         |      AS n_transitive_only,
         |    CAST((COUNT(*) - SUM(direct)) * 1000000 // COUNT(*)
         |      AS BIGINT) AS transitive_ppm
         |  FROM fl GROUP BY 1),
         |sk AS (
         |  SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |    CAST(0 AS BIGINT) AS examined,
         |    CAST(NULL AS BIGINT) AS n_pairs,
         |    CAST(NULL AS BIGINT) AS n_direct,
         |    CAST(NULL AS BIGINT) AS n_transitive_only,
         |    CAST(NULL AS BIGINT) AS transitive_ppm
         |  FROM szs WHERE sz > 64 GROUP BY 1)
         |SELECT * FROM ex UNION ALL SELECT * FROM sk
         |ORDER BY sz""".stripMargin,
    // gaps-and-islands phrase runs (pos - content-rank), word
    // deg/freq floored per word, head by (score DESC, phrase)
    "q_text_rake" ->
      s"""WITH ne AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE length(trim(text)) > 0),
         |tok AS (
         |  SELECT doc_id,
         |    CAST(generate_subscripts($toksSql, 1) AS BIGINT) AS pos,
         |    lower(UNNEST($toksSql)) AS tok
         |  FROM ne),
         |content AS (
         |  SELECT doc_id, pos, tok,
         |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY pos) AS grp
         |  FROM tok WHERE NOT list_contains($stopSql, tok)),
         |ph AS (
         |  SELECT doc_id, grp,
         |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
         |    CAST(COUNT(*) AS BIGINT) AS n_words
         |  FROM content GROUP BY 1, 2
         |  HAVING COUNT(*) <= 4),
         |w AS (
         |  SELECT doc_id, grp, phrase, n_words,
         |    UNNEST(string_split(phrase, ' ')) AS word
         |  FROM ph),
         |ws AS (
         |  SELECT word,
         |    CAST(SUM(n_words) AS BIGINT) * 1000
         |      // CAST(COUNT(*) AS BIGINT) AS wscore
         |  FROM w GROUP BY 1),
         |psc AS (
         |  SELECT w.doc_id, w.grp, MAX(w.phrase) AS phrase,
         |    MAX(w.n_words) AS n_words,
         |    CAST(SUM(s.wscore) AS BIGINT) AS score_milli
         |  FROM w JOIN ws s ON w.word = s.word
         |  GROUP BY 1, 2)
         |SELECT phrase, MAX(n_words) AS n_words,
         |  CAST(COUNT(*) AS BIGINT) AS n_occur,
         |  MAX(score_milli) AS score_milli
         |FROM psc GROUP BY phrase
         |ORDER BY score_milli DESC, phrase LIMIT 30""".stripMargin,
    // step-function EMD on the fixed 101-bucket support; CDFs
    // cross-multiplied to integers, HUGEINT-bridged before the ppm
    // shift
    "q_text_source_emd" ->
      s"""WITH rated AS (
         |  SELECT source,
         |    LEAST((CAST(len(list_filter(
         |        CASE WHEN length(trim(text)) = 0
         |          THEN CAST([] AS VARCHAR[]) ELSE $toksSql END,
         |        x -> list_contains($stopSql, x))) AS BIGINT) * 1000
         |      // GREATEST(CAST(len(
         |        CASE WHEN length(trim(text)) = 0
         |          THEN CAST([] AS VARCHAR[]) ELSE $toksSql END)
         |        AS BIGINT), 1)) // 10, 100) AS b
         |  FROM documents),
         |support AS (
         |  SELECT CAST(x AS BIGINT) AS b FROM range(0, 101) t(x)),
         |srcs AS (SELECT DISTINCT source FROM rated),
         |cnts AS (
         |  SELECT source, b, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM rated GROUP BY 1, 2),
         |dense AS (
         |  SELECT s.source, p.b,
         |    COALESCE(c.cnt, 0) AS cnt
         |  FROM srcs s CROSS JOIN support p
         |  LEFT JOIN cnts c ON c.source = s.source AND c.b = p.b),
         |scdf AS (
         |  SELECT source, b,
         |    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY b)
         |      AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT)
         |      AS n_src,
         |    CAST(SUM(b * cnt) OVER (PARTITION BY source) AS BIGINT)
         |      AS wsum
         |  FROM dense),
         |acd AS (
         |  SELECT p.b, COALESCE(a.acnt, 0) AS acnt
         |  FROM support p LEFT JOIN (
         |    SELECT b, CAST(COUNT(*) AS BIGINT) AS acnt
         |    FROM rated GROUP BY 1) a USING (b)),
         |acdf AS (
         |  SELECT b,
         |    CAST(SUM(acnt) OVER (ORDER BY b) AS BIGINT) AS acum,
         |    CAST(SUM(acnt) OVER () AS BIGINT) AS n_all,
         |    CAST(SUM(b * acnt) OVER () AS BIGINT) AS awsum
         |  FROM acd)
         |SELECT s.source, MAX(s.n_src) AS n_docs,
         |  CAST(SUM(ABS(CAST(s.cum AS HUGEINT) * a.n_all
         |      - CAST(a.acum AS HUGEINT) * s.n_src)) * 1000000
         |    // (CAST(MAX(s.n_src) AS HUGEINT) * MAX(a.n_all))
         |    AS BIGINT) AS emd_bucket_ppm,
         |  CAST(MAX(s.wsum) * 1000 // MAX(s.n_src) AS BIGINT)
         |    AS mean_bucket_milli,
         |  CAST(MAX(a.awsum) * 1000 // MAX(a.n_all) AS BIGINT)
         |    AS all_bucket_milli,
         |  CAST(MAX(s.wsum) * 1000 // MAX(s.n_src)
         |    - MAX(a.awsum) * 1000 // MAX(a.n_all) AS BIGINT)
         |    AS shift_milli
         |FROM scdf s JOIN acdf a USING (b)
         |GROUP BY s.source ORDER BY s.source""".stripMargin,
    // three-rater Fleiss' kappa; per-item vote count k gives
    // k²+(3−k)²−3 agreeing pairs; the closed form divides exact
    // HUGEINT cross-products (truncation toward zero, same as Spark
    // div), narrowed back to BIGINT
    "q_text_fleiss_kappa" ->
      s"""WITH t AS (
         |  SELECT n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |r AS (
         |  SELECT len(toks) AS n_tokens,
         |    CAST(len(list_filter(toks,
         |      x -> list_contains($stopSql, x))) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS stopword_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS uniq_ratio,
         |    CAST(LEAST(n_chars, 500) AS DOUBLE) / 500.0 AS len_score
         |  FROM t),
         |f AS (
         |  SELECT CAST(
         |      CASE WHEN stopword_ratio * 0.25 + uniq_ratio * 0.5
         |           + len_score * 0.25 >= 0.5 THEN 1 ELSE 0 END
         |    + CASE WHEN 0.25 + stopword_ratio * 1.5
         |           + uniq_ratio * -2.0
         |           + len_score * 0.75 >= 0.0 THEN 1 ELSE 0 END
         |    + CASE WHEN n_tokens BETWEEN 12 AND 300
         |           AND stopword_ratio >= 0.05 THEN 1 ELSE 0 END
         |    AS BIGINT) AS k
         |  FROM r),
         |c AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(k * k + (3 - k) * (3 - k) - 3) AS BIGINT)
         |      AS pairs_agree,
         |    CAST(SUM(k) AS BIGINT) AS keeps
         |  FROM f)
         |SELECT n_docs, pairs_agree, keeps,
         |  CASE WHEN CAST(n_docs AS HUGEINT) * 3 * 2
         |      * ((CAST(3 AS HUGEINT) * n_docs) * (3 * n_docs)
         |         - CAST(keeps AS HUGEINT) * keeps
         |         - (CAST(3 AS HUGEINT) * n_docs - keeps)
         |           * (3 * n_docs - keeps)) = 0 THEN NULL
         |  ELSE CAST(
         |    (CAST(pairs_agree AS HUGEINT)
         |       * (3 * n_docs) * (3 * n_docs)
         |     - CAST(n_docs AS HUGEINT) * 3 * 2
         |       * (CAST(keeps AS HUGEINT) * keeps
         |          + (CAST(3 AS HUGEINT) * n_docs - keeps)
         |            * (3 * n_docs - keeps)))
         |    * 1048576
         |    // (CAST(n_docs AS HUGEINT) * 3 * 2
         |       * ((CAST(3 AS HUGEINT) * n_docs) * (3 * n_docs)
         |          - CAST(keeps AS HUGEINT) * keeps
         |          - (CAST(3 AS HUGEINT) * n_docs - keeps)
         |            * (3 * n_docs - keeps)))
         |    AS BIGINT) END AS kappa_q20
         |FROM c""".stripMargin,
    // blocking audit: Σ C(g,2) over truth key / block key / both;
    // completeness and reduction are integer ppm divisions
    "q_text_blocking_eval" ->
      """WITH d AS (
        |  SELECT substr(text, 1, 40) AS tk,
        |    COALESCE(lang, '') || '|'
        |      || CAST(n_chars // 32 AS VARCHAR) AS bk
        |  FROM documents),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM d),
        |t AS (SELECT COALESCE(CAST(SUM(c * (c - 1) // 2) AS BIGINT),
        |        0) AS true_pairs
        |      FROM (SELECT COUNT(*) AS c FROM d GROUP BY tk)),
        |b AS (SELECT COALESCE(CAST(SUM(c * (c - 1) // 2) AS BIGINT),
        |        0) AS cand_pairs
        |      FROM (SELECT COUNT(*) AS c FROM d GROUP BY bk)),
        |cv AS (SELECT COALESCE(CAST(SUM(c * (c - 1) // 2) AS BIGINT),
        |        0) AS covered_pairs
        |      FROM (SELECT COUNT(*) AS c FROM d GROUP BY tk, bk))
        |SELECT n_rows, true_pairs, cand_pairs, covered_pairs,
        |  CASE WHEN true_pairs = 0 THEN NULL
        |       ELSE covered_pairs * 1000000 // true_pairs
        |  END AS completeness_ppm,
        |  CASE WHEN n_rows < 2 THEN NULL
        |       ELSE 1000000 - CAST(CAST(cand_pairs AS HUGEINT)
        |         * 2000000 // (CAST(n_rows AS HUGEINT) * (n_rows - 1))
        |         AS BIGINT)
        |  END AS reduction_ppm
        |FROM nn, t, b, cv""".stripMargin,
    // md5-parity multiplier bootstrap: replicate b keeps doc i iff
    // hash(id_b) is odd — bit-identical selection in both engines
    "q_text_bootstrap_mean" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len($toksSql) END AS BIGINT) AS n_tok
         |  FROM documents),
         |w AS (
         |  SELECT g.i AS rep, t.n_tok,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_'
         |       || CAST(g.i AS VARCHAR)), 1, 15))::BIGINT % 2 AS p
         |  FROM t, generate_series(0, 31) AS g(i))
         |SELECT rep, CAST(SUM(p) AS BIGINT) AS n_sel,
         |  CAST(SUM(p * n_tok) AS BIGINT) AS sum_val,
         |  CASE WHEN SUM(p) = 0 THEN NULL
         |       ELSE CAST(SUM(p * n_tok) * 1000 // SUM(p) AS BIGINT)
         |  END AS mean_milli
         |FROM w GROUP BY rep ORDER BY rep""".stripMargin,
    // positions self-join bounded by the window; marginals and the
    // total live in the SAME pair space; q20-ln integer PMI
    "q_text_cooc_pmi" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id,
         |    CAST(generate_subscripts(toks, 1) AS INT) AS i,
         |    UNNEST(toks) AS tok
         |  FROM t),
         |pairs AS (
         |  SELECT LEAST(a.tok, b.tok) AS ta,
         |    GREATEST(a.tok, b.tok) AS tb,
         |    CAST(COUNT(*) AS BIGINT) AS n_ab
         |  FROM pos a JOIN pos b
         |    ON a.doc_id = b.doc_id AND a.i < b.i
         |    AND b.i - a.i <= 5
         |  GROUP BY 1, 2),
         |marg AS (
         |  SELECT t, CAST(SUM(n_ab) AS BIGINT) AS n_t FROM (
         |    SELECT ta AS t, n_ab FROM pairs
         |    UNION ALL SELECT tb, n_ab FROM pairs)
         |  GROUP BY 1),
         |tot AS (
         |  SELECT CAST(SUM(n_ab) AS BIGINT) AS n_pairs_total
         |  FROM pairs)
         |SELECT p.ta, p.tb, p.n_ab,
         |  ma.n_t AS n_a_pairs, mb.n_t AS n_b_pairs,
         |  tot.n_pairs_total,
         |  CAST(floor(ln(CAST(p.n_ab AS DOUBLE)) * 1048576)
         |    AS BIGINT)
         |  + CAST(floor(ln(CAST(tot.n_pairs_total AS DOUBLE))
         |      * 1048576) AS BIGINT)
         |  - CAST(floor(ln(CAST(ma.n_t AS DOUBLE)) * 1048576)
         |      AS BIGINT)
         |  - CAST(floor(ln(CAST(mb.n_t AS DOUBLE)) * 1048576)
         |      AS BIGINT) AS pmi_q20
         |FROM pairs p
         |JOIN marg ma ON ma.t = p.ta
         |JOIN marg mb ON mb.t = p.tb
         |CROSS JOIN tot
         |WHERE p.n_ab >= 5
         |ORDER BY pmi_q20 DESC, ta, tb
         |LIMIT 50""".stripMargin,
    // integer tf-idf weights (ln of integer counts only), HUGEINT
    // dots/norms, q40 descale for the BIGINT skeleton
    "q_text_source_tfidf_cos" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |tk AS (SELECT doc_id, source, UNNEST(toks) AS tok FROM t),
         |tf AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM tk GROUP BY 1, 2),
         |dfq AS (SELECT tok,
         |          CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |        FROM tk GROUP BY 1),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
         |       FROM documents),
         |w AS (
         |  SELECT tf.source, tf.tok,
         |    tf.tf * (CAST(floor(ln(CAST(nd.n_docs AS DOUBLE))
         |        * 1048576) AS BIGINT)
         |      - CAST(floor(ln(CAST(dfq.df AS DOUBLE)) * 1048576)
         |        AS BIGINT)) AS w
         |  FROM tf JOIN dfq USING (tok) CROSS JOIN nd),
         |nr AS (SELECT source,
         |         CAST(SUM(CAST(w AS HUGEINT) * w) AS HUGEINT)
         |           AS nrm2
         |       FROM w GROUP BY 1),
         |d AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_common,
         |    CAST(SUM(CAST(a.w AS HUGEINT) * b.w) AS HUGEINT) AS dot
         |  FROM w a JOIN w b
         |    ON a.tok = b.tok AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT d.source_a, d.source_b, d.n_common,
         |  CAST(d.dot // 1099511627776 AS BIGINT) AS dot_int,
         |  CASE WHEN na.nrm2 = 0 OR nb.nrm2 = 0 THEN NULL
         |       ELSE CAST(floor(1000.0 * CAST(d.dot AS DOUBLE) /
         |         (sqrt(CAST(na.nrm2 AS DOUBLE))
         |          * sqrt(CAST(nb.nrm2 AS DOUBLE)))) AS BIGINT)
         |  END AS cos_milli
         |FROM d JOIN nr na ON na.source = d.source_a
         |JOIN nr nb ON nb.source = d.source_b
         |ORDER BY source_a, source_b""".stripMargin,
    // value-bucketed yield curve: cumulative window over <= 11 rows
    "q_text_filter_yield" ->
      s"""WITH qt AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |q AS (
         |  SELECT CAST(floor((${qualityExprSql("toks")}) * 10)
         |      AS INT) AS bucket,
         |    CAST(len(toks) AS BIGINT) AS t
         |  FROM qt),
         |b AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(t) AS BIGINT) AS n_tokens
         |  FROM q GROUP BY 1),
         |c AS (
         |  SELECT *,
         |    CAST(SUM(n_docs) OVER (ORDER BY bucket DESC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
         |    CAST(SUM(n_tokens) OVER (ORDER BY bucket DESC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM b),
         |t2 AS (
         |  SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
         |  FROM b)
         |SELECT bucket, n_docs, n_tokens, cum_docs, cum_tokens,
         |  cum_docs * 1000000 // tot_docs AS docs_kept_ppm,
         |  cum_tokens * 1000000 // tot_tokens AS tokens_kept_ppm
         |FROM c, t2 ORDER BY bucket""".stripMargin,
    // head rollup + deterministic top-50
    "q_text_template_heads" ->
      """WITH h AS (
        |  SELECT substr(text, 1, 40) AS head,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |  FROM documents GROUP BY 1)
        |SELECT head, n_docs, n_sources FROM h
        |WHERE n_docs >= 2
        |ORDER BY n_docs DESC, head LIMIT 50""".stripMargin,
    // cf/df exact milli ratio, deterministic top-50
    "q_text_token_burstiness" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |tk AS (SELECT doc_id, UNNEST(toks) AS tok FROM t),
         |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf,
         |        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |      FROM tk GROUP BY 1)
         |SELECT tok, cf, df, cf * 1000 // df AS burst_milli
         |FROM c WHERE df >= 3
         |ORDER BY burst_milli DESC, tok LIMIT 50""".stripMargin,
    // exact integer fertility and share columns
    "q_text_fertility" ->
      s"""WITH per AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN len(trim(text)) = 0 THEN 0
         |      ELSE len($toksSql) END) AS BIGINT) AS n_tokens,
         |    CAST(SUM(octet_length(encode(text))) AS BIGINT)
         |      AS n_bytes
         |  FROM documents GROUP BY lang),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
         |        CAST(SUM(n_bytes) AS BIGINT) AS tot_bytes
         |      FROM per)
         |SELECT per.lang, per.n_docs, per.n_tokens, per.n_bytes,
         |  per.n_tokens * 1000000 // per.n_bytes
         |    AS tokens_per_mb_byte,
         |  per.n_tokens * 1000000 // t.tot_tokens AS token_ppm,
         |  per.n_bytes * 1000000 // t.tot_bytes AS byte_ppm
         |FROM per, t ORDER BY lang""".stripMargin,
    // the shared jac pair space projected onto (source_a, source_b)
    "q_text_source_dup_matrix" ->
      s"""WITH $jacPairsSql,
         |pr AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
         |src AS (SELECT doc_id, source FROM documents),
         |tg AS (
         |  SELECT LEAST(sa.source, sb.source) AS source_a,
         |    GREATEST(sa.source, sb.source) AS source_b
         |  FROM pr JOIN src sa ON sa.doc_id = pr.doc_a
         |  JOIN src sb ON sb.doc_id = pr.doc_b),
         |sdm AS (
         |  SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT)
         |    AS n_pairs
         |  FROM tg GROUP BY 1, 2),
         |sdt AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_total
         |        FROM sdm)
         |SELECT sdm.source_a, sdm.source_b, sdm.n_pairs, sdt.n_total,
         |  sdm.n_pairs * 1000000 // sdt.n_total AS share_ppm
         |FROM sdm, sdt ORDER BY source_a, source_b""".stripMargin,
    // the jac pair space on (lang_a, lang_b) scored against the
    // exact independence baseline (n_a·n_b cross / C(n,2) within
    // over C(N,2)); HUGEINT-bridged products mirror the DECIMAL(38)
    // bridge in the op
    "q_text_lang_dup_affinity" ->
      s"""WITH $jacPairsSql,
         |pr AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
         |lg AS (SELECT doc_id, lang FROM documents),
         |tg AS (
         |  SELECT LEAST(la.lang, lb.lang) AS lang_a,
         |    GREATEST(la.lang, lb.lang) AS lang_b
         |  FROM pr JOIN lg la ON la.doc_id = pr.doc_a
         |  JOIN lg lb ON lb.doc_id = pr.doc_b),
         |cts AS (
         |  SELECT lang_a, lang_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |  FROM tg GROUP BY 1, 2),
         |mg AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
         |       FROM documents GROUP BY 1),
         |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total
         |       FROM documents),
         |ot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS obs_total
         |       FROM cts),
         |x AS (
         |  SELECT c.lang_a, c.lang_b, c.n_pairs, ma.n_docs AS na,
         |    mb.n_docs AS nb, tt.n_total, ot.obs_total,
         |    CASE WHEN c.lang_a = c.lang_b THEN
         |      CASE WHEN ma.n_docs % 2 = 0
         |        THEN CAST(ma.n_docs // 2 AS HUGEINT)
         |          * (ma.n_docs - 1)
         |        ELSE CAST(ma.n_docs AS HUGEINT)
         |          * ((ma.n_docs - 1) // 2) END
         |      ELSE CAST(ma.n_docs AS HUGEINT) * mb.n_docs
         |      END AS pairs_lang,
         |    CASE WHEN tt.n_total % 2 = 0
         |      THEN CAST(tt.n_total // 2 AS HUGEINT)
         |        * (tt.n_total - 1)
         |      ELSE CAST(tt.n_total AS HUGEINT)
         |        * ((tt.n_total - 1) // 2) END AS pairs_total
         |  FROM cts c
         |  JOIN mg ma ON ma.lang = c.lang_a
         |  JOIN mg mb ON mb.lang = c.lang_b
         |  CROSS JOIN tt CROSS JOIN ot)
         |SELECT lang_a, lang_b, n_pairs,
         |  n_pairs * 1000000 // obs_total AS share_ppm,
         |  CAST(CAST(pairs_lang AS HUGEINT) * 1000000
         |    // pairs_total AS BIGINT) AS expected_ppm,
         |  CAST(CAST(n_pairs AS HUGEINT) * pairs_total * 1000
         |    // (CAST(obs_total AS HUGEINT) * pairs_lang)
         |    AS BIGINT) AS lift_milli
         |FROM x ORDER BY lang_a, lang_b""".stripMargin,
    // the q_text_chunks window arithmetic + md5-60 first-owner pass
    "q_text_chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE len(trim(text)) > 0),
        |c AS (
        |  SELECT doc_id, toks,
        |    UNNEST(generate_series(0, len(toks) - 1, 40)) AS start
        |  FROM t),
        |ch AS (
        |  SELECT doc_id, CAST(start // 40 AS INT) AS chunk_id,
        |    CAST(('0x' || substr(md5(array_to_string(
        |      toks[start + 1 : start + 50], ' ')), 1, 15))
        |      AS BIGINT) AS h
        |  FROM c),
        |f AS (
        |  SELECT h,
        |    FIRST(doc_id ORDER BY doc_id, chunk_id) AS fd,
        |    FIRST(chunk_id ORDER BY doc_id, chunk_id) AS fc
        |  FROM ch GROUP BY h),
        |j AS (
        |  SELECT ch.doc_id,
        |    (ch.doc_id = f.fd AND ch.chunk_id = f.fc) AS is_first
        |  FROM ch JOIN f USING (h))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(COUNT(CASE WHEN is_first THEN 1 END) AS BIGINT)
        |    AS n_novel,
        |  (COUNT(*) - COUNT(CASE WHEN is_first THEN 1 END))
        |    * 1000000 // COUNT(*) AS dup_ppm
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // top-k lengths + exact q20 ln terms; alpha from the integer div
    "q_text_tail_index" ->
      """WITH top AS (
        |  SELECT CAST(n_chars AS BIGINT) AS x FROM documents
        |  WHERE n_chars > 0 ORDER BY x DESC LIMIT 100),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
        |    CAST(MIN(x) AS BIGINT) AS x_min,
        |    CAST(SUM(CAST(FLOOR(ln(x) * 1048576) AS BIGINT))
        |      AS BIGINT) AS sum_ln
        |  FROM top)
        |SELECT k_used, x_min,
        |  sum_ln - k_used * CAST(FLOOR(ln(x_min) * 1048576)
        |    AS BIGINT) AS hill_sum_q20,
        |  CASE WHEN sum_ln - k_used * CAST(FLOOR(ln(x_min)
        |      * 1048576) AS BIGINT) = 0 THEN NULL
        |    ELSE k_used * 1048576000
        |      // (sum_ln - k_used * CAST(FLOOR(ln(x_min) * 1048576)
        |        AS BIGINT))
        |  END AS alpha_milli
        |FROM a""".stripMargin,
    // doubled-midrank identity: 2*midrank of a tied block = 2*below
    // + t + 1, so rank sums stay integer; U/(n1 n2) = AUC in ppm
    "q_text_mwu" ->
      """WITH r AS (
        |  SELECT lang AS g, CAST(n_chars AS BIGINT) AS v
        |  FROM documents WHERE lang IN ('en', 'de')),
        |h AS (
        |  SELECT v, CAST(COUNT(*) AS BIGINT) AS t,
        |    CAST(COUNT(*) FILTER (WHERE g = 'en') AS BIGINT) AS c_a
        |  FROM r GROUP BY v),
        |c AS (
        |  SELECT v, t, c_a,
        |    COALESCE(CAST(SUM(t) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS below
        |  FROM h),
        |a AS (
        |  SELECT CAST(SUM(t) AS BIGINT) AS n_total,
        |    CAST(SUM(c_a) AS BIGINT) AS n_a,
        |    CAST(SUM(c_a * (2 * below + t + 1)) AS BIGINT) AS r2_a
        |  FROM c)
        |SELECT n_a, n_total - n_a AS n_b, r2_a,
        |  r2_a - n_a * (n_a + 1) AS u2_a,
        |  2 * n_a * (n_total - n_a) - (r2_a - n_a * (n_a + 1))
        |    AS u2_b,
        |  (r2_a - n_a * (n_a + 1)) * 1000000
        |    // (2 * n_a * (n_total - n_a)) AS auc_ppm
        |FROM a""".stripMargin,
    // Bradley-Terry source strengths: q20-floored quality histogram
    // -> rank-sum wins (two exclusive cumulative windows) + tie-
    // corrected pair counts (HUGEINT-bridged N² products), then 3
    // unrolled q20 MM rounds with renormalization — every division a
    // non-negative floor, so // ≡ Spark's div throughout
    "q_text_bradley_terry" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |r AS (
         |  SELECT source,
         |    CAST(len(list_filter(toks,
         |      x -> list_contains($stopSql, x))) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS stopword_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS uniq_ratio,
         |    CAST(LEAST(n_chars, 500) AS DOUBLE) / 500.0 AS len_score
         |  FROM t),
         |sc AS (
         |  SELECT source,
         |    CAST(FLOOR((stopword_ratio * 0.25 + uniq_ratio * 0.5
         |      + len_score * 0.25) * 1048576) AS BIGINT) AS q
         |  FROM r),
         |cell AS (
         |  SELECT q, source, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM sc GROUP BY 1, 2),
         |tq AS (SELECT q, CAST(SUM(c) AS BIGINT) AS tt
         |       FROM cell GROUP BY 1),
         |tb AS (
         |  SELECT q, COALESCE(CAST(SUM(tt) OVER (ORDER BY q
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |    AS BIGINT), 0) AS below_total
         |  FROM tq),
         |cb AS (
         |  SELECT q, source, c,
         |    COALESCE(CAST(SUM(c) OVER (PARTITION BY source
         |      ORDER BY q
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS BIGINT), 0) AS below_src
         |  FROM cell),
         |w AS (
         |  SELECT cb.source,
         |    CAST(SUM(CAST(cb.c AS HUGEINT)
         |      * (tb.below_total - cb.below_src)) AS HUGEINT) AS wins,
         |    CAST(SUM(cb.c) AS BIGINT) AS n_docs
         |  FROM cb JOIN tb USING (q) GROUP BY 1),
         |tie AS (
         |  SELECT a.source AS sa, b.source AS sb,
         |    CAST(SUM(CAST(a.c AS HUGEINT) * b.c) AS HUGEINT) AS ties
         |  FROM cell a JOIN cell b
         |    ON a.q = b.q AND a.source < b.source
         |  GROUP BY 1, 2),
         |pab AS (
         |  SELECT a.source AS sa, b.source AS sb,
         |    CAST(a.n_docs AS HUGEINT) * b.n_docs
         |      - COALESCE(tie.ties, 0) AS n_ab
         |  FROM w a JOIN w b ON a.source < b.source
         |  LEFT JOIN tie ON tie.sa = a.source AND tie.sb = b.source),
         |sym AS (
         |  SELECT sa AS source, sb AS other, n_ab FROM pab
         |  UNION ALL SELECT sb, sa, n_ab FROM pab),
         |p0 AS (SELECT source, CAST(1048576 AS BIGINT) AS p FROM w),
         |d1 AS (
         |  SELECT sym.source,
         |    CAST(SUM(CASE WHEN pa.p + pb.p = 0
         |      THEN CAST(0 AS HUGEINT)
         |      ELSE CAST(sym.n_ab * 1048576 AS HUGEINT)
         |        // (pa.p + pb.p) END) AS HUGEINT) AS d
         |  FROM sym JOIN p0 pa ON pa.source = sym.source
         |  JOIN p0 pb ON pb.source = sym.other GROUP BY 1),
         |q1 AS (
         |  SELECT p0.source,
         |    CAST(CASE WHEN d1.d IS NULL OR d1.d = 0 THEN p0.p
         |      ELSE CAST(w.wins * 1048576 AS HUGEINT) // d1.d
         |      END AS BIGINT) AS p
         |  FROM p0 LEFT JOIN d1 ON d1.source = p0.source
         |  JOIN w ON w.source = p0.source),
         |n1 AS (SELECT CAST(SUM(p) AS HUGEINT) AS tot,
         |         CAST(COUNT(*) AS BIGINT) AS ns FROM q1),
         |p1 AS (
         |  SELECT q1.source,
         |    CAST(CASE WHEN n1.tot = 0 THEN 1048576
         |      ELSE CAST(q1.p AS HUGEINT) * n1.ns * 1048576 // n1.tot
         |      END AS BIGINT) AS p
         |  FROM q1 CROSS JOIN n1),
         |d2 AS (
         |  SELECT sym.source,
         |    CAST(SUM(CASE WHEN pa.p + pb.p = 0
         |      THEN CAST(0 AS HUGEINT)
         |      ELSE CAST(sym.n_ab * 1048576 AS HUGEINT)
         |        // (pa.p + pb.p) END) AS HUGEINT) AS d
         |  FROM sym JOIN p1 pa ON pa.source = sym.source
         |  JOIN p1 pb ON pb.source = sym.other GROUP BY 1),
         |q2 AS (
         |  SELECT p1.source,
         |    CAST(CASE WHEN d2.d IS NULL OR d2.d = 0 THEN p1.p
         |      ELSE CAST(w.wins * 1048576 AS HUGEINT) // d2.d
         |      END AS BIGINT) AS p
         |  FROM p1 LEFT JOIN d2 ON d2.source = p1.source
         |  JOIN w ON w.source = p1.source),
         |n2 AS (SELECT CAST(SUM(p) AS HUGEINT) AS tot,
         |         CAST(COUNT(*) AS BIGINT) AS ns FROM q2),
         |p2 AS (
         |  SELECT q2.source,
         |    CAST(CASE WHEN n2.tot = 0 THEN 1048576
         |      ELSE CAST(q2.p AS HUGEINT) * n2.ns * 1048576 // n2.tot
         |      END AS BIGINT) AS p
         |  FROM q2 CROSS JOIN n2),
         |d3 AS (
         |  SELECT sym.source,
         |    CAST(SUM(CASE WHEN pa.p + pb.p = 0
         |      THEN CAST(0 AS HUGEINT)
         |      ELSE CAST(sym.n_ab * 1048576 AS HUGEINT)
         |        // (pa.p + pb.p) END) AS HUGEINT) AS d
         |  FROM sym JOIN p2 pa ON pa.source = sym.source
         |  JOIN p2 pb ON pb.source = sym.other GROUP BY 1),
         |q3 AS (
         |  SELECT p2.source,
         |    CAST(CASE WHEN d3.d IS NULL OR d3.d = 0 THEN p2.p
         |      ELSE CAST(w.wins * 1048576 AS HUGEINT) // d3.d
         |      END AS BIGINT) AS p
         |  FROM p2 LEFT JOIN d3 ON d3.source = p2.source
         |  JOIN w ON w.source = p2.source),
         |n3 AS (SELECT CAST(SUM(p) AS HUGEINT) AS tot,
         |         CAST(COUNT(*) AS BIGINT) AS ns FROM q3),
         |p3 AS (
         |  SELECT q3.source,
         |    CAST(CASE WHEN n3.tot = 0 THEN 1048576
         |      ELSE CAST(q3.p AS HUGEINT) * n3.ns * 1048576 // n3.tot
         |      END AS BIGINT) AS p
         |  FROM q3 CROSS JOIN n3)
         |SELECT w.source, w.n_docs, CAST(w.wins AS BIGINT) AS wins,
         |  p3.p AS p_q20,
         |  CAST(ROW_NUMBER() OVER (ORDER BY p3.p DESC, w.source)
         |    AS INT) AS rank
         |FROM p3 JOIN w USING (source)
         |ORDER BY rank""".stripMargin,
    // per-group q20 floors pinned as part of the statistic; HUGEINT
    // promoted before every square
    "q_text_len_anova" ->
      """WITH g AS (
        |  SELECT lang AS g, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    CAST(SUM(n_chars) AS BIGINT) AS s_g,
        |    CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT)
        |      AS s2_g
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1),
        |t AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(n_g) AS BIGINT) AS n,
        |    CAST(SUM(s_g) AS BIGINT) AS s,
        |    CAST(SUM(s2_g) AS HUGEINT) AS sum_x2,
        |    CAST(SUM(CAST(s_g AS HUGEINT) * s_g * 1048576 // n_g)
        |      AS HUGEINT) AS a_q20
        |  FROM g),
        |u AS (
        |  SELECT k, n,
        |    a_q20 - CAST(s AS HUGEINT) * s * 1048576 // n AS ssb_q20,
        |    sum_x2 * 1048576 - a_q20 AS ssw_q20
        |  FROM t)
        |SELECT k, n,
        |  CAST(ssb_q20 // 1048576 AS BIGINT) AS ssb_int,
        |  CAST(ssw_q20 // 1048576 AS BIGINT) AS ssw_int,
        |  CASE WHEN k < 2 OR n <= k OR ssw_q20 <= 0 THEN NULL
        |       ELSE CAST(ssb_q20 * (n - k) * 1000
        |         // (ssw_q20 * (k - 1)) AS BIGINT)
        |  END AS f_milli
        |FROM u""".stripMargin,
    // the shared quality expression ranked inside each source:
    // ROW_NUMBER over the deterministic (quality, doc_id) order
    "q_text_quality_rank_norm" ->
      s"""WITH qt AS (
         |  SELECT doc_id, source, n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, source,
         |    ${qualityExprSql("toks")}
         |      AS quality
         |  FROM qt),
         |r AS (
         |  SELECT doc_id, source,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY quality, doc_id) AS BIGINT) AS rk,
         |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT)
         |      AS n_src
         |  FROM q)
         |SELECT doc_id, source, rk, n_src,
         |  CASE WHEN n_src = 1 THEN 500
         |       ELSE (rk - 1) * 1000 // (n_src - 1) END AS pct_milli
         |FROM r ORDER BY doc_id""".stripMargin,
    // exact ppm HHI over (lang, source) counts; effective source
    // count is one integer division of the ppm
    "q_text_source_hhi" ->
      """WITH c AS (
        |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |a AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(c) AS BIGINT) AS n_rows,
        |    CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS c2
        |  FROM c GROUP BY 1)
        |SELECT lang, n_keys, n_rows,
        |  CAST(c2 * 1000000 // (CAST(n_rows AS HUGEINT) * n_rows)
        |    AS BIGINT) AS hhi_ppm,
        |  CASE WHEN CAST(c2 * 1000000
        |      // (CAST(n_rows AS HUGEINT) * n_rows) AS BIGINT) = 0
        |    THEN NULL
        |    ELSE 1000000000 // CAST(c2 * 1000000
        |      // (CAST(n_rows AS HUGEINT) * n_rows) AS BIGINT)
        |  END AS eff_keys_milli
        |FROM a ORDER BY lang""".stripMargin,
    "q_text_exact_dup_groups" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
        |  COUNT(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_text_exact_dedup" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text)
        |                       ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_text_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len($toksSql) END AS INT) AS n_tokens,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(list_distinct($toksSql)) END AS INT)
         |    AS n_uniq_tokens,
         |  CAST(length(text) AS INT) AS n_chars_computed,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE list_sum(list_transform($toksSql,
         |              t -> length(t))) END AS INT) AS sum_token_len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS INT) AS n_tokens,
         |    CAST(len(list_filter(toks,
         |      x -> list_contains($stopSql, x))) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS stopword_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS uniq_ratio,
         |    CAST(LEAST(n_chars, 500) AS DOUBLE) / 500.0 AS len_score
         |  FROM t)
         |SELECT doc_id, n_tokens, stopword_ratio, uniq_ratio, len_score,
         |  stopword_ratio * 0.25 + uniq_ratio * 0.5 + len_score * 0.25
         |    AS quality
         |FROM r ORDER BY doc_id""".stripMargin,
    "q_text_lang_guess" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang AS lang_label,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang_label,
         |    CAST(len(list_filter(toks, x ->
         |      list_contains(['the','and','of','is'], x))) AS INT) AS c_en,
         |    CAST(len(list_filter(toks, x ->
         |      list_contains(['der','und','die','nicht'], x))) AS INT) AS c_de,
         |    CAST(len(list_filter(toks, x ->
         |      list_contains(['el','los','que','y'], x))) AS INT) AS c_es,
         |    CAST(len(list_filter(toks, x ->
         |      list_contains(['le','les','et','est'], x))) AS INT) AS c_fr
         |  FROM t)
         |SELECT doc_id, lang_label, c_en, c_de, c_es, c_fr,
         |  CASE WHEN c_en + c_de + c_es + c_fr = 0 THEN 'und'
         |       WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr
         |         THEN 'en'
         |       WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
         |       WHEN c_es >= c_fr THEN 'es'
         |       ELSE 'fr' END AS lang_guess
         |FROM c ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fp,
        |  substring(md5(regexp_replace(lower(text), '[^a-z0-9]+', '',
        |    'g')), 1, 8) AS fp_prefix
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_bpe_tokens" ->
      s"""SELECT doc_id,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len($toksSql) END AS INT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text,
         |    ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS INT)
         |    AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_doc_freq" ->
      s"""WITH tok AS (
         |  SELECT doc_id, UNNEST(
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END) AS token
         |  FROM documents)
         |SELECT token, COUNT(DISTINCT doc_id) AS df,
         |  COUNT(*) AS tf_total
         |FROM tok GROUP BY token
         |HAVING COUNT(DISTINCT doc_id) >= 50
         |ORDER BY token""".stripMargin,
    // rank by (tf desc, token), head <= 10000, cum over the head only
    "q_text_vocab_coverage" ->
      s"""WITH tok AS (
         |  SELECT UNNEST(
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END)
         |    AS token
         |  FROM documents),
         |f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
         |      FROM tok GROUP BY 1),
         |tt AS (SELECT CAST(SUM(tf) AS BIGINT) AS total_tokens
         |       FROM f),
         |r AS (SELECT tf,
         |        ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rn
         |      FROM f),
         |c AS (SELECT rn,
         |        CAST(SUM(tf) OVER (ORDER BY rn
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |      FROM r WHERE rn <= 10000),
         |ks AS (SELECT UNNEST([10, 100, 1000, 10000]) AS k)
         |SELECT CAST(ks.k AS BIGINT) AS k,
         |  CAST(MAX(c.rn) AS BIGINT) AS vocab_used,
         |  CAST(MAX(c.cum) AS BIGINT) AS covered_tokens,
         |  tt.total_tokens,
         |  CAST(MAX(c.cum) * 1000000 // tt.total_tokens AS BIGINT)
         |    AS coverage_ppm
         |FROM ks JOIN c ON c.rn <= ks.k CROSS JOIN tt
         |GROUP BY ks.k, tt.total_tokens ORDER BY k""".stripMargin,
    // shared jac-pair stack -> components -> provenance rollup
    "q_text_cluster_spread" ->
      s"""WITH RECURSIVE $jacPairsSql,
         |$jacComponentsSql,
         |cl AS (SELECT doc_id, MIN(r) AS cluster
         |       FROM reach GROUP BY doc_id),
         |cs AS (
         |  SELECT cl.cluster,
         |    CAST(COUNT(*) AS BIGINT) AS n_members,
         |    CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
         |    CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs
         |  FROM cl JOIN documents d USING (doc_id)
         |  GROUP BY cl.cluster HAVING COUNT(*) >= 2)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(COUNT(CASE WHEN n_sources > 1 THEN 1 END) AS BIGINT)
         |    AS n_multi_source,
         |  CAST(COUNT(CASE WHEN n_langs > 1 THEN 1 END) AS BIGINT)
         |    AS n_multi_lang,
         |  CASE WHEN COUNT(*) = 0 THEN NULL
         |    ELSE CAST(COUNT(CASE WHEN n_sources > 1 THEN 1 END)
         |      * 1000000 // COUNT(*) AS BIGINT) END
         |    AS multi_source_ppm,
         |  CASE WHEN COUNT(*) = 0 THEN NULL
         |    ELSE CAST(COUNT(CASE WHEN n_langs > 1 THEN 1 END)
         |      * 1000000 // COUNT(*) AS BIGINT) END
         |    AS multi_lang_ppm
         |FROM cs""".stripMargin,
    // per-doc token counts x literal length ladder, conditional sums
    "q_text_padding_waste" ->
      s"""WITH pd AS (
         |  SELECT CASE WHEN length(trim(text)) = 0
         |    THEN CAST(0 AS BIGINT)
         |    ELSE CAST(len($toksSql) AS BIGINT) END AS n_tok
         |  FROM documents),
         |ls AS (SELECT UNNEST([512, 1024, 2048, 4096]) AS seq_len)
         |SELECT CAST(seq_len AS BIGINT) AS seq_len,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         |  CAST(SUM(LEAST(n_tok, seq_len)) AS BIGINT) AS kept_tokens,
         |  CAST(SUM(GREATEST(seq_len - n_tok, 0)) AS BIGINT)
         |    AS pad_tokens,
         |  CAST(SUM(GREATEST(n_tok - seq_len, 0)) AS BIGINT)
         |    AS truncated_tokens,
         |  CAST(SUM(GREATEST(seq_len - n_tok, 0)) * 1000000
         |    // (COUNT(*) * seq_len) AS BIGINT) AS padding_ppm,
         |  CASE WHEN SUM(n_tok) = 0 THEN NULL
         |    ELSE CAST(SUM(GREATEST(n_tok - seq_len, 0)) * 1000000
         |      // SUM(n_tok) AS BIGINT) END AS truncated_ppm
         |FROM pd, ls GROUP BY seq_len ORDER BY seq_len""".stripMargin,
    "q_text_compression" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT)
         |    AS n_chars,
         |  CAST(SUM(CAST(len($toksSql) AS BIGINT)) AS BIGINT)
         |    AS n_tokens,
         |  CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) * 1000
         |    // CAST(SUM(CAST(len($toksSql) AS BIGINT)) AS BIGINT)
         |    AS chars_per_token_milli
         |FROM documents WHERE len(trim(text)) > 0
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_vocab_growth" ->
      s"""WITH ne AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE len(trim(text)) > 0),
         |r AS (
         |  SELECT doc_id, toks,
         |    ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
         |    COUNT(*) OVER () AS nd
         |  FROM ne),
         |rb AS (
         |  SELECT doc_id, toks, ((rn - 1) * 10) // nd AS bucket
         |  FROM r),
         |pd AS (
         |  SELECT bucket, COUNT(*) AS n_docs,
         |    CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
         |  FROM rb GROUP BY 1),
         |fo AS (
         |  SELECT bucket, COUNT(*) AS new_vocab FROM (
         |    SELECT token, arg_min(bucket, doc_id) AS bucket
         |    FROM (SELECT doc_id, bucket, UNNEST(toks) AS token
         |          FROM rb)
         |    GROUP BY token)
         |  GROUP BY bucket)
         |SELECT p.bucket, p.n_docs, p.n_tokens,
         |  CAST(COALESCE(fo.new_vocab, 0) AS BIGINT) AS new_vocab,
         |  CAST(SUM(p.n_tokens) OVER (ORDER BY p.bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum_tokens,
         |  CAST(SUM(CAST(COALESCE(fo.new_vocab, 0) AS BIGINT))
         |    OVER (ORDER BY p.bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum_vocab
         |FROM pd p LEFT JOIN fo USING (bucket)
         |ORDER BY bucket""".stripMargin,
    "q_text_stopwords" ->
      s"""WITH ne AS (
         |  SELECT * FROM documents WHERE len(trim(text)) > 0),
         |tok AS (
         |  SELECT doc_id, UNNEST($toksSql) AS token FROM ne),
         |tot AS (
         |  SELECT (SELECT COUNT(*) FROM tok) AS corpus_tf,
         |         (SELECT COUNT(*) FROM ne) AS n_docs),
         |s AS (
         |  SELECT token, COUNT(DISTINCT doc_id) AS df,
         |    COUNT(*) AS tf_total
         |  FROM tok GROUP BY 1),
         |f AS (
         |  SELECT s.token, s.df, s.df * 1000000 // tot.n_docs
         |      AS df_ppm, s.tf_total, tot.n_docs, tot.corpus_tf
         |  FROM s CROSS JOIN tot
         |  WHERE s.df * 1000000 // tot.n_docs >= 500000)
         |SELECT token, df, df_ppm, tf_total, n_docs, corpus_tf,
         |  CAST(SUM(tf_total) OVER (ORDER BY df DESC, token
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    * 1000000 // corpus_tf AS BIGINT) AS cum_mass_ppm
         |FROM f ORDER BY df DESC, token""".stripMargin,
    // the measured-recall twin: same jac truth CTE, plus a full
    // md5-family MinHash+banding replica (engine-identical md5int),
    // left-joined truth-vs-candidates rolled up per decile
    // recall oracle's md5 banding CTEs + an exact-jaccard verify of
    // the candidate set itself (identical float fold: inter/union
    // DOUBLE, ×10, floor)
    "q_text_minhash_precision" ->
      s"""WITH $jacPairsSql,
         |mh AS (
         |  SELECT x.doc_id, pr.pi,
         |    MIN(CAST(('0x' || substr(md5(
         |      CAST(pr.pi AS VARCHAR) || ':' || x.tok), 1, 15))
         |      AS BIGINT)) AS m
         |  FROM i x CROSS JOIN
         |    (SELECT UNNEST(generate_series(0, 31)) AS pi) pr
         |  GROUP BY 1, 2),
         |bh AS (
         |  SELECT doc_id, pi // 4 AS band_idx,
         |    CAST(('0x' || substr(md5(
         |      string_agg(CAST(m AS VARCHAR), ':' ORDER BY pi)),
         |      1, 15)) AS BIGINT) AS band_hash
         |  FROM mh GROUP BY doc_id, pi // 4),
         |cand AS (
         |  SELECT DISTINCT la.doc_id AS doc_a, rb.doc_id AS doc_b
         |  FROM bh la JOIN bh rb ON la.band_idx = rb.band_idx
         |    AND la.band_hash = rb.band_hash
         |    AND la.doc_id < rb.doc_id),
         |cj AS (
         |  SELECT CAST(FLOOR(
         |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |      / (a.n + b.n - len(list_intersect(a.toks, b.toks)))
         |      * 10) AS INT) AS decile
         |  FROM cand c JOIN s a ON a.doc_id = c.doc_a
         |  JOIN s b ON b.doc_id = c.doc_b),
         |dg AS (
         |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cands
         |  FROM cj GROUP BY 1)
         |SELECT decile, n_cands,
         |  CAST(SUM(n_cands) OVER (ORDER BY decile DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum_at_or_above,
         |  CAST(SUM(n_cands) OVER () AS BIGINT) AS total_cands,
         |  CAST(n_cands * 1000000 // SUM(n_cands) OVER ()
         |    AS BIGINT) AS share_ppm,
         |  CAST(SUM(n_cands) OVER (ORDER BY decile DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    * 1000000 // SUM(n_cands) OVER () AS BIGINT)
         |    AS precision_at_ppm
         |FROM dg ORDER BY decile""".stripMargin,
    // per-source unigram KL in q20 nats: counts exact, logs on the
    // DOUBLE product (same casts both engines), HUGEINT term mass,
    // sign-split final div
    "q_text_source_kl" ->
      s"""WITH occ AS (
         |  SELECT source, UNNEST($toksSql) AS w
         |  FROM documents WHERE len(trim(text)) > 0),
         |bs AS (
         |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cs
         |  FROM occ GROUP BY 1, 2),
         |cw AS (SELECT w, CAST(SUM(cs) AS BIGINT) AS c
         |       FROM bs GROUP BY 1),
         |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_corpus FROM cw),
         |ns AS (
         |  SELECT source, CAST(SUM(cs) AS BIGINT) AS n_src,
         |    CAST(COUNT(*) AS BIGINT) AS vocab_src
         |  FROM bs GROUP BY 1),
         |tm AS (
         |  SELECT bs.source, ns.n_src, ns.vocab_src,
         |    CAST(bs.cs AS HUGEINT) *
         |      (CAST(FLOOR(LN(CAST(bs.cs AS DOUBLE)
         |         * CAST(nt.n_corpus AS DOUBLE)) * 1048576)
         |         AS BIGINT)
         |       - CAST(FLOOR(LN(CAST(cw.c AS DOUBLE)
         |         * CAST(ns.n_src AS DOUBLE)) * 1048576)
         |         AS BIGINT)) AS term
         |  FROM bs JOIN cw USING (w) JOIN ns USING (source)
         |  CROSS JOIN nt)
         |SELECT source, MAX(n_src) AS n_tokens,
         |  MAX(vocab_src) AS vocab,
         |  CASE WHEN SUM(term) < 0
         |    THEN -CAST((-SUM(term)) // MAX(n_src) AS BIGINT)
         |    ELSE CAST(SUM(term) // MAX(n_src) AS BIGINT) END
         |    AS kl_q20
         |FROM tm GROUP BY source ORDER BY source""".stripMargin,
    "q_text_minhash_recall" ->
      s"""WITH $jacPairsSql,
         |mh AS (
         |  SELECT x.doc_id, pr.pi,
         |    MIN(CAST(('0x' || substr(md5(
         |      CAST(pr.pi AS VARCHAR) || ':' || x.tok), 1, 15))
         |      AS BIGINT)) AS m
         |  FROM i x CROSS JOIN
         |    (SELECT UNNEST(generate_series(0, 31)) AS pi) pr
         |  GROUP BY 1, 2),
         |bh AS (
         |  SELECT doc_id, pi // 4 AS band_idx,
         |    CAST(('0x' || substr(md5(
         |      string_agg(CAST(m AS VARCHAR), ':' ORDER BY pi)),
         |      1, 15)) AS BIGINT) AS band_hash
         |  FROM mh GROUP BY doc_id, pi // 4),
         |cand AS (
         |  SELECT DISTINCT la.doc_id AS doc_a, rb.doc_id AS doc_b
         |  FROM bh la JOIN bh rb ON la.band_idx = rb.band_idx
         |    AND la.band_hash = rb.band_hash
         |    AND la.doc_id < rb.doc_id),
         |tr AS (
         |  SELECT doc_a, doc_b,
         |    CAST(FLOOR(jaccard * 10) AS INT) AS decile
         |  FROM jac WHERE jaccard >= 0.5)
         |SELECT decile, COUNT(*) AS n_true,
         |  CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_caught,
         |  CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |    * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
         |FROM tr LEFT JOIN cand c
         |  ON tr.doc_a = c.doc_a AND tr.doc_b = c.doc_b
         |GROUP BY decile ORDER BY decile""".stripMargin,
    "q_text_bm25" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS tk
         |  FROM documents),
         |totals AS (
         |  SELECT COUNT(*) AS n_docs, SUM(len(tk)) AS total_len
         |  FROM toks),
         |post AS (
         |  SELECT doc_id, CAST(len(tk) AS INT) AS dl, token,
         |         COUNT(*) AS tf
         |  FROM (SELECT doc_id, tk, UNNEST(tk) AS token FROM toks)
         |  WHERE token IN ('spark', 'window', 'scan')
         |  GROUP BY 1, 2, 3),
         |dfs AS (SELECT token, COUNT(*) AS df FROM post GROUP BY 1)
         |SELECT p.doc_id, p.token, p.tf, p.dl, d.df,
         |       t.n_docs, CAST(t.total_len AS BIGINT) AS total_len
         |FROM post p JOIN dfs d ON p.token = d.token, totals t
         |ORDER BY p.doc_id, p.token""".stripMargin,
    // every fractional constant is a DOUBLE literal (NeN form) so
    // DuckDB mirrors Spark's IEEE-double op sequence instead of
    // silently switching to DECIMAL arithmetic
    "q_text_bm25_topk" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS tk
         |  FROM documents),
         |totals AS (
         |  SELECT COUNT(*) AS n_docs, SUM(len(tk)) AS total_len
         |  FROM toks),
         |post AS (
         |  SELECT doc_id, CAST(len(tk) AS INT) AS dl, token,
         |         COUNT(*) AS tf
         |  FROM (SELECT doc_id, tk, UNNEST(tk) AS token FROM toks)
         |  WHERE token IN ('spark', 'window', 'scan')
         |  GROUP BY 1, 2, 3),
         |dfs AS (SELECT token, COUNT(*) AS df FROM post GROUP BY 1),
         |scored AS (
         |  SELECT p.doc_id,
         |    CAST(FLOOR(ln(1e0 + (t.n_docs - d.df + 0.5e0) /
         |        (d.df + 0.5e0)) *
         |      (p.tf * 2.2e0) /
         |      (p.tf + 1.2e0 * (0.25e0 + 0.75e0 *
         |        (CAST(p.dl AS DOUBLE) * t.n_docs / t.total_len))) *
         |      1048576e0) AS BIGINT) AS ts_q20
         |  FROM post p JOIN dfs d ON p.token = d.token, totals t)
         |SELECT doc_id, CAST(SUM(ts_q20) AS BIGINT) AS score_q20,
         |  COUNT(*) AS n_matched
         |FROM scored GROUP BY doc_id
         |ORDER BY score_q20 DESC, doc_id
         |LIMIT 100""".stripMargin,
    "q_text_curation" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, text, n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, lang, text,
         |    CAST(len(toks) AS BIGINT) AS n_toks,
         |    ${qualityExprSql("toks")}
         |      AS quality
         |  FROM t),
         |kept AS (
         |  SELECT * FROM q
         |  WHERE lang IN ('en', 'de') AND quality > 0.3),
         |dedup AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
         |                               ORDER BY doc_id) AS rn
         |  FROM kept)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CAST(FLOOR(quality * 65536) AS BIGINT)) AS BIGINT)
         |    AS sum_quality_q16
         |FROM dedup WHERE rn = 1
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_jaccard_exact" ->
      s"""WITH $jacPairsSql
         |SELECT doc_a, doc_b, jaccard FROM jac
         |WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_text_dedup_curve" ->
      s"""WITH $jacPairsSql,
         |bk AS (
         |  SELECT CAST(FLOOR(jaccard * 10) AS INT) AS bucket
         |  FROM jac WHERE jaccard >= 0.5),
         |g AS (SELECT bucket, COUNT(*) AS n_pairs FROM bk GROUP BY 1)
         |SELECT bucket, n_pairs,
         |  CAST(SUM(n_pairs) OVER (ORDER BY bucket DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS pairs_at_or_above
         |FROM g ORDER BY bucket""".stripMargin,
    // same candidate skeleton, asymmetric predicate: every ordered
    // pair sharing a shingle, kept when inter/|A| clears the gate
    "q_text_containment" ->
      s"""WITH ${jacPairsSqlOver("documents", "a.doc_id <> b.doc_id")}
         |SELECT doc_a, doc_b, na, inter,
         |  CAST(inter AS DOUBLE) / CAST(na AS DOUBLE) AS containment
         |FROM p
         |WHERE CAST(inter AS DOUBLE) / CAST(na AS DOUBLE) >= 0.7
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_text_tfidf_keywords" ->
      s"""WITH t AS (
         |  SELECT doc_id, UNNEST($toksSql) AS token
         |  FROM documents WHERE len(trim(text)) > 0),
         |tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
         |dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents
         |      WHERE len(trim(text)) > 0),
         |sc AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, dfx.df,
         |    tf.tf * CAST(FLOOR(ln(CAST(n.n_docs AS DOUBLE)
         |      / CAST(dfx.df AS DOUBLE)) * 1048576) AS BIGINT)
         |      AS score_q20
         |  FROM tf JOIN dfx USING (token) CROSS JOIN n),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score_q20 DESC, token) AS rnk
         |  FROM sc)
         |SELECT doc_id, token, tf, df, score_q20,
         |  CAST(rnk AS INT) AS rank
         |FROM r WHERE rnk <= 5 ORDER BY doc_id, rank""".stripMargin,
    "q_text_curriculum" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(toks,
         |      x -> list_contains($stopSql, x))) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS stopword_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS uniq_ratio,
         |    CAST(LEAST(n_chars, 500) AS DOUBLE) / 500.0 AS len_score
         |  FROM t),
         |q AS (
         |  SELECT doc_id,
         |    stopword_ratio * 0.25 + uniq_ratio * 0.5
         |      + len_score * 0.25 AS quality
         |  FROM r),
         |rk AS (
         |  SELECT doc_id, quality,
         |    ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS rnk,
         |    COUNT(*) OVER () AS n_docs
         |  FROM q)
         |SELECT doc_id, quality, CAST(rnk AS INT) AS rank,
         |  CAST(((rnk - 1) * 3) // n_docs AS INT) + 1 AS phase
         |FROM rk ORDER BY rank""".stripMargin,
    "q_text_source_containment" ->
      s"""WITH ${jacPairsSqlOver("documents", "a.doc_id <> b.doc_id")},
         |cp AS (
         |  SELECT doc_a, doc_b FROM p
         |  WHERE CAST(inter AS DOUBLE) / CAST(na AS DOUBLE) >= 0.7),
         |sa AS (SELECT doc_id, source FROM documents)
         |SELECT xa.source AS source_a, xb.source AS source_b,
         |  COUNT(*) AS n_pairs
         |FROM cp
         |JOIN sa xa ON cp.doc_a = xa.doc_id
         |JOIN sa xb ON cp.doc_b = xb.doc_id
         |GROUP BY 1, 2
         |ORDER BY source_a, source_b""".stripMargin,
    "q_text_lang_confusion" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang AS lang_label,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang_label,
         |    CAST(len(list_filter(toks, x ->
         |      list_contains(['the','and','of','is'], x))) AS INT) AS c_en,
         |    CAST(len(list_filter(toks, x ->
         |      list_contains(['der','und','die','nicht'], x))) AS INT) AS c_de,
         |    CAST(len(list_filter(toks, x ->
         |      list_contains(['el','los','que','y'], x))) AS INT) AS c_es,
         |    CAST(len(list_filter(toks, x ->
         |      list_contains(['le','les','et','est'], x))) AS INT) AS c_fr
         |  FROM t),
         |g AS (
         |  SELECT lang_label,
         |    CASE WHEN c_en + c_de + c_es + c_fr = 0 THEN 'und'
         |         WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr
         |           THEN 'en'
         |         WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
         |         WHEN c_es >= c_fr THEN 'es'
         |         ELSE 'fr' END AS lang_guess
         |  FROM c),
         |m AS (
         |  SELECT lang_label, lang_guess, COUNT(*) AS n
         |  FROM g GROUP BY 1, 2),
         |tot AS (
         |  SELECT lang_label, CAST(SUM(n) AS BIGINT) AS label_total
         |  FROM m GROUP BY 1)
         |SELECT m.lang_label, m.lang_guess, m.n, tot.label_total,
         |  (m.n * 1000000) // tot.label_total AS share_ppm
         |FROM m JOIN tot USING (lang_label)
         |ORDER BY lang_label, lang_guess""".stripMargin,
    // one exploded scan of the exact pair set per shard count; the
    // shard key is pmod(doc_id, S) in both engines (non-negative
    // ids, so % ≡ pmod)
    "q_text_shard_dedup_loss" ->
      s"""WITH $jacPairsSql,
         |pr AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
         |sh AS (
         |  SELECT p.doc_a, p.doc_b, s.n_shards
         |  FROM pr p, (SELECT UNNEST([2, 8, 32]) AS n_shards) s)
         |SELECT CAST(n_shards AS BIGINT) AS n_shards,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN doc_a % n_shards = doc_b % n_shards
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_local,
         |  CAST(COUNT(*) - SUM(CASE WHEN doc_a % n_shards
         |      = doc_b % n_shards THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_lost,
         |  CAST((COUNT(*) - SUM(CASE WHEN doc_a % n_shards
         |      = doc_b % n_shards THEN 1 ELSE 0 END)) * 1000000
         |    // COUNT(*) AS BIGINT) AS lost_ppm
         |FROM sh GROUP BY n_shards ORDER BY n_shards""".stripMargin,
    "q_text_dedup_impact" ->
      s"""WITH RECURSIVE $jacPairsSql,
         |$jacComponentsSql,
         |asg AS (SELECT doc_id, MIN(r) AS cluster
         |        FROM reach GROUP BY doc_id),
         |cs AS (SELECT cluster, COUNT(*) AS cluster_size
         |       FROM asg GROUP BY cluster)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
         |  CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_removed
         |FROM cs GROUP BY cluster_size
         |ORDER BY cluster_size""".stripMargin,
    "q_text_zipf" ->
      s"""WITH c AS (
         |  SELECT token, COUNT(*) AS c
         |  FROM (SELECT UNNEST($toksSql) AS token
         |        FROM documents WHERE len(trim(text)) > 0)
         |  GROUP BY token),
         |r AS (
         |  SELECT c,
         |    CAST(FLOOR(ln(CAST(ROW_NUMBER() OVER
         |      (ORDER BY c DESC, token) AS DOUBLE)) * 1024.0)
         |      AS BIGINT) AS xq,
         |    CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1024.0)
         |      AS BIGINT) AS yq
         |  FROM c),
         |m AS (
         |  SELECT COUNT(*) AS n_vocab, CAST(SUM(c) AS BIGINT)
         |      AS n_tokens,
         |    CAST(SUM(xq) AS BIGINT) AS sx,
         |    CAST(SUM(yq) AS BIGINT) AS sy,
         |    CAST(SUM(xq * yq) AS BIGINT) AS sxy,
         |    CAST(SUM(xq * xq) AS BIGINT) AS sxx
         |  FROM r)
         |SELECT n_vocab, n_tokens, sx, sy, sxy, sxx,
         |  CASE WHEN CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0 THEN
         |    CAST(FLOOR(
         |      (CAST(n_vocab AS DOUBLE) * CAST(sxy AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / (CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * 1048576) AS BIGINT) END AS slope_q20
         |FROM m""".stripMargin,
    "q_text_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    GREATEST(CAST(n_chars AS DOUBLE), 1.0) AS w,
        |    CAST(FLOOR(
        |      ln(CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |            || ':wsamp'), 1, 15)) AS BIGINT) + 1 AS DOUBLE)
        |         / CAST(1152921504606846976 AS DOUBLE))
        |      / GREATEST(CAST(n_chars AS DOUBLE), 1.0)
        |      * 1048576) AS BIGINT) AS key_q20
        |  FROM documents)
        |SELECT doc_id, w, key_q20 FROM d
        |ORDER BY key_q20 DESC, doc_id LIMIT 100""".stripMargin,
    // ids-only candidate set; same exact-pair oracle as the verified
    // queries below (see the recall note at the queries entry)
    "q_text_minhash_neardup" ->
      s"""WITH $jacPairsSql
         |SELECT doc_a, doc_b FROM jac
         |WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // cross-side unpruned exact-jaccard join: the batch side never
    // pairs with itself, the seen side never pairs with itself
    "q_text_incremental_neardup" ->
      s"""WITH ${jacPairsSqlOver("documents",
             "a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0")}
        |SELECT doc_a, doc_b, jaccard FROM jac
        |WHERE jaccard >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // same oracle SQL as q_text_jaccard_exact on purpose: the Spark
    // side travels a DIFFERENT path (LSH banding → candidate pairs →
    // exact verify) and must land on the identical final pair set
    "q_text_ngram_jaccard" ->
      s"""WITH $jacPairsSql
         |SELECT doc_a, doc_b, jaccard FROM jac
         |WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the dup_clusters component stack + the shared quality
    // expression: per-doc milli floor BEFORE the size rollup
    "q_text_dup_quality_bias" ->
      s"""WITH RECURSIVE $jacPairsSql,
         |$jacComponentsSql,
         |comp AS (
         |  SELECT doc_id, MIN(r) AS cluster
         |  FROM reach GROUP BY doc_id),
         |sz AS (
         |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM comp GROUP BY 1),
         |qt AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    CAST(floor((${qualityExprSql("toks")}) * 1000)
         |      AS BIGINT) AS q_milli
         |  FROM qt)
         |SELECT sz.cluster_size,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(q.q_milli) AS BIGINT) AS sum_q_milli,
         |  CAST(SUM(q.q_milli) AS BIGINT) // COUNT(*) AS mean_q_milli
         |FROM comp JOIN sz USING (cluster) JOIN q USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_text_dup_clusters" ->
      s"""WITH RECURSIVE $jacPairsSql,
         |$jacComponentsSql
         |SELECT doc_id, MIN(r) AS cluster
         |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the dup_clusters component fragment joined onto per-doc token
    // counts; dropped-token ppm HUGEINT-bridged like the op
    "q_text_source_dedup_tokens" ->
      s"""WITH RECURSIVE $jacPairsSql,
         |$jacComponentsSql,
         |comp AS (
         |  SELECT doc_id, MIN(r) AS cluster
         |  FROM reach GROUP BY doc_id),
         |tk AS (
         |  SELECT doc_id, source,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len($toksSql) END AS BIGINT) AS n_toks
         |  FROM documents),
         |j AS (
         |  SELECT tk.source, tk.n_toks,
         |    CASE WHEN comp.cluster = tk.doc_id THEN 1 ELSE 0 END
         |      AS keep
         |  FROM tk JOIN comp USING (doc_id))
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(SUM(keep) AS BIGINT) AS kept_docs,
         |  CAST(SUM(CASE WHEN keep = 1 THEN n_toks ELSE 0 END)
         |    AS BIGINT) AS kept_tokens,
         |  CAST(CASE WHEN SUM(n_toks) > 0 THEN
         |    CAST(SUM(n_toks) - SUM(CASE WHEN keep = 1 THEN n_toks
         |      ELSE 0 END) AS HUGEINT) * 1000000 // SUM(n_toks)
         |    ELSE 0 END AS BIGINT) AS dropped_tokens_ppm
         |FROM j GROUP BY source ORDER BY source""".stripMargin,
    // soft dedup: per-doc weight ⌊n_toks·2²⁰/cluster_size⌋ over the
    // same recursive-CTE component assignment; all-integer q20 sums
    "q_text_soft_dedup_weights" ->
      s"""WITH RECURSIVE $jacPairsSql,
         |$jacComponentsSql,
         |comp AS (
         |  SELECT doc_id, MIN(r) AS cluster
         |  FROM reach GROUP BY doc_id),
         |sz AS (
         |  SELECT doc_id, cluster,
         |    COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
         |  FROM comp),
         |tk AS (
         |  SELECT doc_id, source,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len($toksSql) END AS BIGINT) AS n_toks
         |  FROM documents),
         |j AS (
         |  SELECT tk.source, tk.n_toks,
         |    CASE WHEN sz.cluster = tk.doc_id THEN 1 ELSE 0 END
         |      AS keep,
         |    CAST(CAST(tk.n_toks AS HUGEINT) * 1048576
         |      // sz.cluster_size AS BIGINT) AS w_q20
         |  FROM tk JOIN sz USING (doc_id)),
         |g AS (
         |  SELECT source,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |    CAST(SUM(CASE WHEN keep = 1 THEN n_toks ELSE 0 END)
         |      AS BIGINT) AS hard_tokens,
         |    CAST(SUM(w_q20) AS BIGINT) AS soft_tokens_q20
         |  FROM j GROUP BY source)
         |SELECT source, n_docs, n_tokens, hard_tokens,
         |  soft_tokens_q20,
         |  CAST(CASE WHEN n_tokens > 0 THEN
         |    CAST(soft_tokens_q20 AS HUGEINT) * 1000000
         |      // (CAST(n_tokens AS HUGEINT) * 1048576)
         |    ELSE 0 END AS BIGINT) AS soft_share_ppm,
         |  CAST(CAST(soft_tokens_q20 AS HUGEINT)
         |    - CAST(hard_tokens AS HUGEINT) * 1048576 AS BIGINT)
         |    AS soft_minus_hard_q20
         |FROM g ORDER BY source""".stripMargin,
    // text pair CTEs + the semantic-pair CTEs (renamed sn/su/sp to
    // avoid colliding with the jac fragment's p) + one contingency
    "q_text_semantic_dup_agreement" ->
      s"""WITH ${jacPairsSql},
         |tp AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
         |sn AS (
         |  SELECT vec_id, label,
         |    sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
         |             ORDER BY i)) AS nrm
         |  FROM (SELECT vec_id, label,
         |          CAST(generate_subscripts(embedding, 1) AS INT)
         |            AS i,
         |          UNNEST(embedding) AS x
         |        FROM embeddings)
         |  GROUP BY vec_id, label),
         |su AS (
         |  SELECT e.vec_id, sn.label,
         |    CAST(generate_subscripts(e.embedding, 1) AS INT) AS i,
         |    CAST(UNNEST(e.embedding) AS DOUBLE) / sn.nrm AS ux
         |  FROM embeddings e JOIN sn ON e.vec_id = sn.vec_id),
         |sp AS (
         |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         |    SUM(a.ux * b.ux ORDER BY a.i) AS cos_sim
         |  FROM su a JOIN su b
         |    ON a.i = b.i AND a.label = b.label
         |    AND a.vec_id < b.vec_id
         |  GROUP BY 1, 2),
         |vp AS (SELECT doc_a, doc_b FROM sp WHERE cos_sim >= 0.4),
         |g AS (
         |  SELECT
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM tp) AS n_text,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM vp)
         |      AS n_semantic,
         |    (SELECT CAST(COUNT(*) AS BIGINT)
         |     FROM tp JOIN vp USING (doc_a, doc_b)) AS n_both)
         |SELECT n_text, n_semantic, n_both,
         |  n_text - n_both AS text_only,
         |  n_semantic - n_both AS semantic_only,
         |  CAST(CASE WHEN n_text + n_semantic - n_both > 0 THEN
         |    CAST(n_both AS HUGEINT) * 1000000
         |      // (n_text + n_semantic - n_both)
         |    ELSE 0 END AS BIGINT) AS overlap_ppm
         |FROM g""".stripMargin,
    // one exhaustive shared-shingle pair join per width; per-pair
    // q20 floors summed as integers, // on non-negatives ≡ div
    "q_text_shingle_width_curve" ->
      s"""WITH ${widthBlockSql(2, 0.5)},
         |${widthBlockSql(3, 0.5)},
         |${widthBlockSql(5, 0.5)}
         |SELECT * FROM g_2
         |UNION ALL SELECT * FROM g_3
         |UNION ALL SELECT * FROM g_5
         |ORDER BY shingle_w""".stripMargin,
    // first-setter min per bloom position ⟺ the streamed bit state;
    // flagged = all k positions set by a smaller doc_id
    "q_text_bloom_dedup_fpr" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(text || ':bloom'
        |        || CAST(i.i AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 4096 AS pos
        |  FROM documents, (SELECT UNNEST([0, 1, 2]) AS i) i),
        |f AS (SELECT pos, MIN(doc_id) AS first_id
        |      FROM p GROUP BY pos),
        |fl AS (
        |  SELECT p.doc_id,
        |    CASE WHEN SUM(CASE WHEN f.first_id < p.doc_id
        |        THEN 1 ELSE 0 END) = COUNT(*) THEN 1 ELSE 0 END
        |      AS flagged
        |  FROM p JOIN f USING (pos) GROUP BY p.doc_id),
        |td AS (
        |  SELECT doc_id,
        |    CASE WHEN MIN(doc_id) OVER (PARTITION BY md5(text))
        |      < doc_id THEN 1 ELSE 0 END AS true_dup
        |  FROM documents),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(fl.flagged) AS BIGINT) AS n_flagged,
        |    CAST(SUM(td.true_dup) AS BIGINT) AS n_true_dups,
        |    CAST(SUM(CASE WHEN fl.flagged = 1 AND td.true_dup = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
        |  FROM fl JOIN td USING (doc_id))
        |SELECT CAST(4096 AS BIGINT) AS m_bits,
        |  CAST(3 AS BIGINT) AS k_hashes,
        |  n_docs, n_flagged, n_true_dups, n_false_pos,
        |  CAST(CASE WHEN n_docs - n_true_dups > 0 THEN
        |    CAST(n_false_pos AS HUGEINT) * 1000000
        |      // (n_docs - n_true_dups)
        |    ELSE 0 END AS BIGINT) AS fpr_ppm
        |FROM g""".stripMargin,
    // Laplace noise as the difference of two ln-of-hashed-uniform
    // exponentials — deterministic, the coreset draw precedent
    "q_text_dp_counts" ->
      """WITH g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY source),
        |n AS (
        |  SELECT source, n_docs,
        |    CAST(FLOOR((
        |      ln(CAST(CAST(('0x' || substr(md5(source || ':dp1'),
        |          1, 15)) AS BIGINT) + 1 AS DOUBLE)
        |        / CAST(1152921504606846976 AS DOUBLE))
        |      - ln(CAST(CAST(('0x' || substr(md5(source || ':dp2'),
        |          1, 15)) AS BIGINT) + 1 AS DOUBLE)
        |        / CAST(1152921504606846976 AS DOUBLE))
        |      ) / 1.0) AS BIGINT) AS noise
        |  FROM g)
        |SELECT source, n_docs,
        |  GREATEST(0, n_docs + noise) AS noisy_count,
        |  ABS(GREATEST(0, n_docs + noise) - n_docs) AS abs_err
        |FROM n ORDER BY source""".stripMargin,
    // symmetrized wedge self-join on the center, closure via a
    // membership lookup into the canonical (a<b) pair list
    "q_text_dup_transitivity" ->
      s"""WITH ${jacPairsSql},
         |pr AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
         |sym AS (
         |  SELECT doc_a, doc_b FROM pr
         |  UNION ALL SELECT doc_b, doc_a FROM pr),
         |wg AS (
         |  SELECT e1.doc_a AS wa, e2.doc_b AS wc
         |  FROM sym e1 JOIN sym e2 ON e1.doc_b = e2.doc_a
         |  WHERE e1.doc_a < e2.doc_b),
         |cl AS (
         |  SELECT wg.wa, wg.wc,
         |    CASE WHEN pr.doc_a IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM wg LEFT JOIN pr
         |    ON pr.doc_a = wg.wa AND pr.doc_b = wg.wc),
         |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pr)
         |SELECT (SELECT n_edges FROM ne) AS n_edges,
         |  CAST(COUNT(*) AS BIGINT) AS n_wedges,
         |  CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_closed,
         |  CAST(CASE WHEN COUNT(*) > 0 THEN
         |    CAST(SUM(hit) AS HUGEINT) * 1000000 // COUNT(*)
         |    ELSE 0 END AS BIGINT) AS closure_ppm
         |FROM cl""".stripMargin,
    // weighted Jaccard on the exact-jaccard candidate pairs; union
    // mass closed from per-doc totals (Σmax = la + lb − Σmin)
    "q_text_weighted_jaccard" ->
      s"""WITH ${jacPairsSql},
         |pr AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
         |tku AS (
         |  SELECT doc_id, UNNEST($toksSql) AS tok
         |  FROM documents WHERE length(trim(text)) > 0),
         |tf AS (
         |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tku GROUP BY 1, 2),
         |ln AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len($toksSql) END AS BIGINT) AS n_toks
         |  FROM documents),
         |ix AS (
         |  SELECT pr.doc_a, pr.doc_b,
         |    CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS inter_tf
         |  FROM pr
         |  JOIN tf a ON a.doc_id = pr.doc_a
         |  JOIN tf b ON b.doc_id = pr.doc_b AND b.tok = a.tok
         |  GROUP BY 1, 2)
         |SELECT pr.doc_a, pr.doc_b,
         |  COALESCE(ix.inter_tf, 0) AS inter_tf,
         |  la.n_toks + lb.n_toks - COALESCE(ix.inter_tf, 0)
         |    AS union_tf,
         |  CAST(CASE WHEN la.n_toks + lb.n_toks
         |      - COALESCE(ix.inter_tf, 0) > 0 THEN
         |    CAST(COALESCE(ix.inter_tf, 0) AS HUGEINT) * 1000000
         |      // (la.n_toks + lb.n_toks - COALESCE(ix.inter_tf, 0))
         |    ELSE 0 END AS BIGINT) AS weighted_jaccard_ppm
         |FROM pr
         |LEFT JOIN ix ON ix.doc_a = pr.doc_a AND ix.doc_b = pr.doc_b
         |JOIN ln la ON la.doc_id = pr.doc_a
         |JOIN ln lb ON lb.doc_id = pr.doc_b
         |ORDER BY pr.doc_a, pr.doc_b""".stripMargin,
    // GSP triples over per-doc min/max position tables; greedy
    // containment (earliest b after first a, any c after that);
    // ceiling support threshold ⌈n_docs·ppm/10⁶⌉ in both engines
    "q_text_seq_patterns" ->
      s"""WITH tk AS (
         |  SELECT doc_id, UNNEST($toksSql) AS tok,
         |    generate_subscripts($toksSql, 1) AS pos
         |  FROM documents WHERE length(trim(text)) > 0),
         |mm AS (
         |  SELECT doc_id, tok, MIN(pos) AS mn, MAX(pos) AS mx
         |  FROM tk GROUP BY 1, 2),
         |nd AS (
         |  SELECT COUNT(*) AS n_docs,
         |    CAST((COUNT(*) * 350000 + 999999) // 1000000 AS BIGINT)
         |      AS th
         |  FROM documents),
         |f1 AS (
         |  SELECT tok FROM mm GROUP BY tok
         |  HAVING COUNT(*) >= (SELECT th FROM nd)),
         |p2 AS (
         |  SELECT a.doc_id, a.tok AS ta, b.tok AS tb
         |  FROM mm a JOIN mm b USING (doc_id)
         |  WHERE a.tok IN (SELECT tok FROM f1)
         |    AND b.tok IN (SELECT tok FROM f1)
         |    AND b.mx > a.mn),
         |f2 AS (
         |  SELECT ta, tb FROM p2 GROUP BY ta, tb
         |  HAVING COUNT(*) >= (SELECT th FROM nd)),
         |ab2 AS (
         |  SELECT a.doc_id, a.tok AS ta, p.tok AS tb,
         |    MIN(p.pos) AS t2
         |  FROM mm a
         |  JOIN tk p ON p.doc_id = a.doc_id AND p.pos > a.mn
         |  JOIN f2 ON f2.ta = a.tok AND f2.tb = p.tok
         |  GROUP BY 1, 2, 3),
         |c3 AS (
         |  SELECT x.ta, x.tb, y.tb AS tc
         |  FROM f2 x JOIN f2 y ON x.tb = y.ta),
         |t3 AS (
         |  SELECT ab2.ta, ab2.tb, c.tok AS tc
         |  FROM ab2
         |  JOIN mm c ON c.doc_id = ab2.doc_id
         |  JOIN c3 ON c3.ta = ab2.ta AND c3.tb = ab2.tb
         |    AND c3.tc = c.tok
         |  WHERE c.mx > ab2.t2),
         |g AS (
         |  SELECT ta, tb, tc, CAST(COUNT(*) AS BIGINT) AS support
         |  FROM t3 GROUP BY 1, 2, 3
         |  HAVING COUNT(*) >= (SELECT th FROM nd))
         |SELECT ta AS tok_a, tb AS tok_b, tc AS tok_c, support,
         |  CAST(CASE WHEN nd.n_docs > 0 THEN
         |    CAST(support AS HUGEINT) * 1000000 // nd.n_docs
         |    ELSE 0 END AS BIGINT) AS support_ppm
         |FROM g, nd
         |ORDER BY support DESC, tok_a, tok_b, tok_c""".stripMargin,
    // consistent-hash ring (16 vnodes/shard, packed keys
    // pos·1024 + s·16 + v) vs mod-hash churn for S→S+1; positions
    // are the Knuth hash mod 2³¹−1, HUGEINT-bridged like the Spark
    // side's DECIMAL(38,0)
    "q_text_ring_rebalance" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST((CAST(doc_id AS HUGEINT) * 2654435761)
        |      % 2147483647 AS BIGINT) AS dpos
        |  FROM documents),
        |cfg AS (SELECT UNNEST([8, 9, 32, 33]) AS n),
        |ring AS (
        |  -- quadratic vnode mix ((x² mod p)·2654435761 + x·65521)
        |  -- mod p; every intermediate ≤ 5.7e18 stays in BIGINT
        |  SELECT cfg.n,
        |    CAST((((s.s * 65521 + v.v) * (s.s * 65521 + v.v)
        |          % 2147483647) * 2654435761
        |        + (s.s * 65521 + v.v) * 65521) % 2147483647
        |      AS BIGINT) * 1024 + s.s * 16 + v.v AS ck
        |  FROM cfg,
        |    (SELECT UNNEST(range(33)) AS s) s,
        |    (SELECT UNNEST(range(16)) AS v) v
        |  WHERE s.s < cfg.n),
        |own AS (
        |  SELECT d.doc_id, d.dpos, r.n,
        |    (COALESCE(MIN(CASE WHEN r.ck >= d.dpos * 1024
        |        THEN r.ck END), MIN(r.ck)) % 1024) // 16 AS shard
        |  FROM d, ring r GROUP BY d.doc_id, d.dpos, r.n),
        |sc AS (SELECT UNNEST([8, 32]) AS a),
        |mv AS (
        |  SELECT sc.a AS from_shards, sc.a + 1 AS to_shards,
        |    CASE WHEN bb.shard <> aa.shard THEN 1 ELSE 0 END
        |      AS ring_mv,
        |    CASE WHEN (bb.dpos % sc.a) <> (bb.dpos % (sc.a + 1))
        |      THEN 1 ELSE 0 END AS mod_mv
        |  FROM sc
        |  JOIN own bb ON bb.n = sc.a
        |  JOIN own aa ON aa.n = sc.a + 1 AND aa.doc_id = bb.doc_id),
        |g AS (
        |  SELECT from_shards, to_shards,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(ring_mv) AS BIGINT) AS ring_moved,
        |    CAST(SUM(mod_mv) AS BIGINT) AS mod_moved
        |  FROM mv GROUP BY 1, 2)
        |SELECT CAST(from_shards AS BIGINT) AS from_shards,
        |  CAST(to_shards AS BIGINT) AS to_shards,
        |  'ring' AS strategy, n_docs,
        |  ring_moved AS n_moved,
        |  CAST(CASE WHEN n_docs > 0 THEN CAST(ring_moved AS HUGEINT)
        |    * 1000000 // n_docs ELSE 0 END AS BIGINT) AS moved_ppm
        |FROM g
        |UNION ALL
        |SELECT CAST(from_shards AS BIGINT), CAST(to_shards AS BIGINT),
        |  'mod', n_docs, mod_moved,
        |  CAST(CASE WHEN n_docs > 0 THEN CAST(mod_moved AS HUGEINT)
        |    * 1000000 // n_docs ELSE 0 END AS BIGINT)
        |FROM g
        |ORDER BY from_shards, strategy""".stripMargin,
    "q_text_quality_deciles_exact" ->
      s"""WITH qt AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    ${qualityExprSql("toks")}
         |      AS quality
         |  FROM qt),
         |d AS (
         |  SELECT quality,
         |    CAST(ntile(10) OVER (ORDER BY quality, doc_id) AS INT)
         |      AS q_decile
         |  FROM q)
         |SELECT q_decile AS decile, MAX(quality) AS quality_threshold
         |FROM d WHERE q_decile <= 9
         |GROUP BY q_decile ORDER BY decile""".stripMargin,
    "q_text_quality_pct" ->
      s"""WITH qt AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    ${qualityExprSql("toks")}
         |      AS quality
         |  FROM qt)
         |SELECT doc_id, quality,
         |  percent_rank() OVER (ORDER BY quality, doc_id) AS q_pct,
         |  CAST(ntile(10) OVER (ORDER BY quality, doc_id) AS INT)
         |    AS q_decile
         |FROM q ORDER BY doc_id""".stripMargin,
    // same recursive components + the q_text_quality score, argmax
    // per cluster (ORDER BY quality DESC, doc_id == Spark's
    // max-struct(quality, -doc_id))
    "q_text_cluster_survivors" ->
      s"""WITH RECURSIVE $jacPairsSql,
         |$jacComponentsSql,
         |cl AS (
         |  SELECT doc_id, MIN(r) AS cluster FROM reach GROUP BY doc_id),
         |qt AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    ${qualityExprSql("toks")}
         |      AS quality
         |  FROM qt),
         |rk AS (
         |  SELECT cl.cluster, cl.doc_id, q.quality,
         |    row_number() OVER (PARTITION BY cl.cluster
         |      ORDER BY q.quality DESC, cl.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cl.cluster) AS n_members
         |  FROM cl JOIN q ON cl.doc_id = q.doc_id)
         |SELECT cluster, doc_id AS survivor_doc_id,
         |  quality AS best_quality, n_members,
         |  n_members - 1 AS n_dropped
         |FROM rk WHERE rn = 1 ORDER BY cluster""".stripMargin,
    "q_text_content_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE length(text) > 0),
        |cuts AS (
        |  SELECT doc_id, text, n,
        |    list_sort(list_distinct(list_append(
        |      list_transform(
        |        list_filter(
        |          CASE WHEN n - 15 >= 1
        |               THEN generate_series(1, n - 15)
        |               ELSE [] END,
        |          i -> CAST(('0x' || substr(md5(substr(text, i, 16)),
        |            1, 15)) AS BIGINT) % 64 = 0),
        |        i -> i + 15),
        |      n))) AS ends
        |  FROM t),
        |sel AS (
        |  SELECT doc_id, text, ends,
        |    UNNEST(generate_series(1, len(ends))) AS k
        |  FROM cuts)
        |SELECT doc_id, CAST(k - 1 AS INT) AS chunk_id,
        |  CAST(CASE WHEN k = 1 THEN 0 ELSE ends[k - 1] END + 1 AS INT)
        |    AS start,
        |  substr(text,
        |    CASE WHEN k = 1 THEN 0 ELSE ends[k - 1] END + 1,
        |    ends[k] - CASE WHEN k = 1 THEN 0 ELSE ends[k - 1] END)
        |    AS chunk_text
        |FROM sel ORDER BY doc_id, chunk_id""".stripMargin,
    "q_text_scrub_blocks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |b0 AS (
        |  SELECT doc_id, w, CAST(len(w) // 20 AS INT) AS n_blocks
        |  FROM t),
        |blk AS (
        |  SELECT doc_id, CAST(s.i AS INT) AS block_idx,
        |    array_to_string(w[s.i*20+1 : s.i*20+20], ' ') AS block
        |  FROM b0, LATERAL (SELECT UNNEST(
        |    generate_series(0, n_blocks - 1)) AS i) s
        |  WHERE n_blocks > 0),
        |r AS (
        |  SELECT doc_id, block_idx, block,
        |    row_number() OVER (PARTITION BY block
        |      ORDER BY doc_id, block_idx) AS rn
        |  FROM blk),
        |k AS (
        |  SELECT doc_id,
        |    string_agg(block, ' ' ORDER BY block_idx) AS kept_text,
        |    count(*) AS n_kept
        |  FROM r WHERE rn = 1 GROUP BY doc_id),
        |base AS (
        |  SELECT doc_id, n_blocks,
        |    -- array_to_string of an EMPTY slice is NULL in DuckDB
        |    COALESCE(array_to_string(
        |      w[n_blocks*20+1 : len(w)], ' '), '') AS tail_text
        |  FROM b0)
        |SELECT b.doc_id,
        |  CASE WHEN COALESCE(k.kept_text, '') = '' THEN b.tail_text
        |       WHEN b.tail_text = '' THEN k.kept_text
        |       ELSE k.kept_text || ' ' || b.tail_text END AS clean_text,
        |  b.n_blocks,
        |  CAST(b.n_blocks - COALESCE(k.n_kept, 0) AS INT) AS n_dropped
        |FROM base b LEFT JOIN k ON b.doc_id = k.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "q_text_quality_drift" ->
      s"""WITH refd AS (
         |  SELECT doc_id, text, n_chars FROM documents
         |  WHERE doc_id % 3 <> 0),
         |curd AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |      THEN text || ' the the the the the the'
         |      ELSE text END AS text,
         |    n_chars
         |  FROM documents WHERE doc_id % 3 <> 1),
         |rt0 AS (
         |  SELECT n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM refd),
         |rq AS (
         |  SELECT LEAST(CAST(FLOOR((${qualityExprSql("toks")}
         |    ) * 10) AS INT), 9) AS bucket
         |  FROM rt0),
         |rb AS (SELECT bucket, COUNT(*) AS refc FROM rq GROUP BY 1),
         |ct0 AS (
         |  SELECT n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM curd),
         |cq AS (
         |  SELECT LEAST(CAST(FLOOR((${qualityExprSql("toks")}
         |    ) * 10) AS INT), 9) AS bucket
         |  FROM ct0),
         |cb AS (SELECT bucket, COUNT(*) AS curc FROM cq GROUP BY 1),
         |spine AS (
         |  SELECT CAST(UNNEST(generate_series(0, 9)) AS INT)
         |    AS bucket),
         |j AS (
         |  SELECT spine.bucket,
         |    CAST(COALESCE(rb.refc, 0) AS BIGINT) AS ref_cnt,
         |    CAST(COALESCE(cb.curc, 0) AS BIGINT) AS cur_cnt
         |  FROM spine LEFT JOIN rb USING (bucket)
         |  LEFT JOIN cb USING (bucket)),
         |t AS (
         |  SELECT CAST(SUM(ref_cnt) AS BIGINT) AS ref_total,
         |    CAST(SUM(cur_cnt) AS BIGINT) AS cur_total
         |  FROM j),
         |l AS (
         |  SELECT j.bucket, j.ref_cnt, j.cur_cnt,
         |    t.ref_total, t.cur_total,
         |    CAST(FLOOR(ln(CAST((j.cur_cnt + 1) * (t.ref_total + 10)
         |      AS DOUBLE)) * 1048576) AS BIGINT)
         |    - CAST(FLOOR(ln(CAST((j.ref_cnt + 1) * (t.cur_total + 10)
         |      AS DOUBLE)) * 1048576) AS BIGINT) AS lnratio_q20
         |  FROM j, t)
         |SELECT bucket, ref_cnt, cur_cnt, ref_total, cur_total,
         |  lnratio_q20,
         |  (CAST(cur_cnt + 1 AS DOUBLE) / (cur_total + 10)
         |   - CAST(ref_cnt + 1 AS DOUBLE) / (ref_total + 10))
         |  * (CAST(lnratio_q20 AS DOUBLE) / 1048576.0) AS psi_term
         |FROM l ORDER BY bucket""".stripMargin,
    "q_text_mixture_epochs" ->
      """WITH w(grp, weight_ppm) AS (
        |  VALUES ('en', CAST(450000 AS BIGINT)),
        |         ('de', CAST(200000 AS BIGINT)),
        |         ('fr', CAST(150000 AS BIGINT)),
        |         ('es', CAST(100000 AS BIGINT)),
        |         ('zh', CAST(50000 AS BIGINT)),
        |         ('ja', CAST(50000 AS BIGINT))),
        |a AS (
        |  SELECT lang AS grp, COUNT(*) AS n_docs,
        |    CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+'))
        |      END) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY lang),
        |j AS (
        |  SELECT COALESCE(a.grp, w.grp) AS lang,
        |    COALESCE(w.weight_ppm, 0) AS weight_ppm,
        |    COALESCE(a.n_docs, 0) AS n_docs,
        |    COALESCE(a.avail_tokens, 0) AS avail_tokens
        |  FROM a FULL OUTER JOIN w ON a.grp = w.grp)
        |SELECT lang, CAST(weight_ppm AS BIGINT) AS weight_ppm,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  avail_tokens,
        |  CAST((weight_ppm * 100000) // 1000000 AS BIGINT)
        |    AS target_tokens,
        |  CASE WHEN avail_tokens > 0
        |    THEN CAST(((weight_ppm * 100000) // 1000000 * 1048576)
        |      // avail_tokens AS BIGINT) END AS epochs_q20,
        |  (weight_ppm * 100000) // 1000000 > avail_tokens
        |    AS oversampled
        |FROM j ORDER BY lang""".stripMargin,
    "q_text_normalize" ->
      """WITH pd AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN upper(text)
        |         WHEN doc_id % 7 = 1
        |           THEN chr(9) || 'mañana  café' || chr(1) || text
        |         WHEN doc_id % 7 = 2
        |           THEN regexp_replace(text, ' ', '   ', 'g')
        |         ELSE text END AS text
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, text,
        |    translate(lower(trim(regexp_replace(regexp_replace(text,
        |        '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))),
        |      'áàâäéèêëíìîïóòôöúùûüñç',
        |      'aaaaeeeeiiiioooouuuunc') AS norm_text
        |  FROM pd)
        |SELECT doc_id, norm_text, norm_text <> text AS changed
        |FROM n ORDER BY doc_id""".stripMargin,
    "q_text_corpus_diff" ->
      """WITH o AS (
        |  SELECT doc_id, md5(COALESCE(text, '')) AS old_hash
        |  FROM documents WHERE doc_id % 11 <> 3),
        |n AS (
        |  SELECT doc_id,
        |    md5(COALESCE(CASE WHEN doc_id % 17 = 2 THEN text || ' v2'
        |             ELSE text END, '')) AS new_hash
        |  FROM documents WHERE doc_id % 13 <> 5)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.old_hash IS NULL THEN 'added'
        |       WHEN n.new_hash IS NULL THEN 'removed'
        |       WHEN o.old_hash = n.new_hash THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  o.old_hash, n.new_hash
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_text_entropy" ->
      """WITH occ AS (
        |  SELECT doc_id,
        |    UNNEST(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE len(trim(text)) > 0),
        |c AS (
        |  SELECT doc_id, token, COUNT(*) AS c
        |  FROM occ GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id,
        |    CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS n_distinct,
        |    CAST(SUM(c * CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1048576)
        |      AS BIGINT)) AS BIGINT) AS sum_c_lnc_q20
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct, sum_c_lnc_q20,
        |  CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1048576) AS BIGINT)
        |    - sum_c_lnc_q20 // n_tokens AS entropy_q20
        |FROM a ORDER BY doc_id""".stripMargin,
    // readability: regex counts (runs of [.!?] / vowel groups) and
    // the Flesch formula in BIGINT floor division — `//` == `div` on
    // these non-negative operands
    "q_text_readability" ->
      s"""WITH c AS (
         |  SELECT doc_id,
         |    GREATEST(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len($toksSql) END AS BIGINT), 1) AS n_words,
         |    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+'))
         |      AS BIGINT), 1) AS n_sents,
         |    GREATEST(CAST(len(regexp_extract_all(lower(text),
         |      '[aeiouy]+')) AS BIGINT), 1) AS n_syll
         |  FROM documents)
         |SELECT doc_id, n_words, n_sents, n_syll,
         |  206835 - (1015 * n_words) // n_sents
         |         - (84600 * n_syll) // n_words AS flesch_milli
         |FROM c ORDER BY doc_id""".stripMargin,
    // OOV vs the top-50 vocabulary; vocab tie-break (tf DESC, token
    // ASC) pinned by row_number, rate in exact integer ppm
    "q_text_oov_rate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, UNNEST(CASE WHEN length(trim(text)) = 0
         |    THEN CAST([] AS VARCHAR[]) ELSE $toksSql END) AS token
         |  FROM documents),
         |v AS (
         |  SELECT token FROM (
         |    SELECT token,
         |      ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rn
         |    FROM toks GROUP BY token) WHERE rn <= 50),
         |p AS (
         |  SELECT t.doc_id, COUNT(*) AS n_tokens,
         |    CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_oov
         |  FROM toks t LEFT JOIN v ON t.token = v.token
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(p.n_tokens, 0) AS n_tokens,
         |  COALESCE(p.n_oov, 0) AS n_oov,
         |  CASE WHEN COALESCE(p.n_tokens, 0) = 0 THEN 0
         |       ELSE (1000000 * p.n_oov) // p.n_tokens END AS oov_ppm
         |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // per-source profile; n_dup_docs counts docs whose content hash
    // repeats ANYWHERE in the corpus (cross-source dups count twice)
    "q_text_source_profile" ->
      s"""WITH ha AS (
         |  SELECT doc_id, source, lang, n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len($toksSql) END AS BIGINT) AS n_toks,
         |    md5(text) AS h
         |  FROM documents),
         |dc AS (SELECT h, COUNT(*) AS n_same FROM ha GROUP BY 1)
         |SELECT ha.source, COUNT(*) AS n_docs,
         |  COUNT(DISTINCT ha.lang) AS n_langs,
         |  CAST(SUM(CASE WHEN dc.n_same >= 2 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup_docs,
         |  CAST(SUM(ha.n_toks) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(ha.n_chars) AS BIGINT) AS sum_chars,
         |  (1000 * CAST(SUM(ha.n_chars) AS BIGINT)) // COUNT(*)
         |    AS mean_chars_milli
         |FROM ha JOIN dc ON ha.h = dc.h
         |GROUP BY ha.source ORDER BY ha.source""".stripMargin,
    "q_text_ngram_diversity" ->
      """WITH w AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE len(trim(text)) > 0),
        |g AS (
        |  SELECT source, UNNEST(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS gram
        |  FROM w WHERE len(t) >= 3)
        |SELECT source, COUNT(*) AS n_ngrams,
        |  COUNT(DISTINCT gram) AS n_distinct,
        |  (1000000 * COUNT(DISTINCT gram)) // COUNT(*)
        |    AS diversity_ppm
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    // denylist audit form: \b(term|term)\b in the Java∩RE2 subset
    "q_text_blocklist" ->
      """SELECT doc_id,
        |  regexp_extract(lower(text), '\b(vector|spark)\b', 1)
        |    AS matched_term
        |FROM documents
        |WHERE regexp_matches(lower(text), '\b(vector|spark)\b')
        |ORDER BY doc_id""".stripMargin,
    "q_text_boilerplate" ->
      """WITH pd AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || chr(10) ||
        |           'follow us on example social' || chr(10) ||
        |           'subscribe to the newsletter'
        |         WHEN doc_id % 5 = 1 THEN text || chr(10) ||
        |           'subscribe to the newsletter'
        |         WHEN doc_id = 7 THEN text || chr(10) ||
        |           'unique footer line'
        |         ELSE text END AS text
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    CAST(generate_subscripts(ls, 1) - 1 AS INT) AS line_idx,
        |    UNNEST(ls) AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
        |        FROM pd)),
        |f AS (
        |  SELECT lower(trim(line)) AS lkey,
        |    COUNT(DISTINCT doc_id) AS line_df
        |  FROM l GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 50),
        |kept AS (
        |  SELECT l.doc_id,
        |    string_agg(l.line, chr(10) ORDER BY l.line_idx)
        |      AS clean_text,
        |    COUNT(*) AS n_kept
        |  FROM l LEFT JOIN f ON lower(trim(l.line)) = f.lkey
        |  WHERE f.lkey IS NULL GROUP BY l.doc_id)
        |SELECT pd.doc_id,
        |  COALESCE(kept.clean_text, '') AS clean_text,
        |  CAST(len(string_split(pd.text, chr(10))) AS INT) AS n_lines,
        |  CAST(len(string_split(pd.text, chr(10))) -
        |    COALESCE(kept.n_kept, 0) AS INT) AS n_dropped
        |FROM pd LEFT JOIN kept ON pd.doc_id = kept.doc_id
        |ORDER BY pd.doc_id""".stripMargin,
    "q_text_sentence_chunks" ->
      """WITH RECURSIVE raw AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(text), '[.!?]\s+') AS ss
        |  FROM documents WHERE length(trim(text)) > 0),
        |u AS (
        |  SELECT doc_id, ss,
        |    UNNEST(generate_series(1, len(ss))) AS i
        |  FROM raw),
        |sents AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1
        |      AS pos,
        |    CAST(len(regexp_split_to_array(trim(ss[i]), '\s+'))
        |      AS BIGINT) AS n_tok
        |  FROM u WHERE length(trim(ss[i])) > 0),
        |walk AS (
        |  SELECT doc_id, pos, n_tok,
        |    CAST(0 AS BIGINT) AS chunk, n_tok AS fill
        |  FROM sents WHERE pos = 0
        |  UNION ALL
        |  SELECT s.doc_id, s.pos, s.n_tok,
        |    CASE WHEN w.fill + s.n_tok > 48
        |         THEN w.chunk + 1 ELSE w.chunk END,
        |    CASE WHEN w.fill + s.n_tok > 48
        |         THEN s.n_tok ELSE w.fill + s.n_tok END
        |  FROM walk w JOIN sents s
        |    ON s.doc_id = w.doc_id AND s.pos = w.pos + 1)
        |SELECT doc_id, chunk AS chunk_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_sentences,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(MIN(pos) AS INT) AS first_sent
        |FROM walk GROUP BY doc_id, chunk
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "q_text_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE len(trim(text)) > 0),
        |c AS (
        |  SELECT doc_id, toks,
        |    UNNEST(generate_series(0, len(toks) - 1, 40)) AS start
        |  FROM t)
        |SELECT doc_id, CAST(start // 40 AS INT) AS chunk_id,
        |  array_to_string(toks[start + 1 : start + 50], ' ')
        |    AS chunk_text,
        |  CAST(len(toks[start + 1 : start + 50]) AS INT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q_text_stratified_sample" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+'))
         |    END AS n_tokens,
         |    CAST(('0x' || substr(
         |      md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 15))
         |      AS BIGINT) AS draw
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, n_tokens, draw,
         |    CASE WHEN n_tokens < 50 THEN 'short'
         |         WHEN n_tokens < 200 THEN 'medium'
         |         ELSE 'long' END AS stratum,
         |    CASE WHEN n_tokens < 50 THEN ${q60(0.2)}
         |         WHEN n_tokens < 200 THEN ${q60(0.5)}
         |         ELSE ${q60(1.0)} END AS thr
         |  FROM d)
         |SELECT doc_id, stratum, CAST(n_tokens AS INT) AS n_tokens
         |FROM b WHERE draw < thr ORDER BY doc_id""".stripMargin,
    // thresholds interpolated from the SAME Scala cumulative-sum +
    // q60 the operator computes, so IEEE summation order cannot
    // diverge the two engines
    "q_text_split" -> {
      val cum = Seq(0.9, 0.05, 0.05).scanLeft(0.0)(_ + _).tail
        .map(Text.q60)
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
         |      || ':split'), 1, 15)) AS BIGINT) AS draw
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN draw < ${cum(0)} THEN 'train'
         |       WHEN draw < ${cum(1)} THEN 'val'
         |       WHEN draw < ${cum(2)} THEN 'test'
         |       ELSE 'held_out' END AS split
         |FROM d ORDER BY doc_id""".stripMargin
    },
    "q_text_leakage_split" -> {
      val cum = Seq(0.9, 0.05, 0.05).scanLeft(0.0)(_ + _).tail
        .map(Text.q60)
      s"""WITH cl AS (
         |  SELECT doc_id,
         |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, cluster_id,
         |    CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)
         |      || ':split'), 1, 15)) AS BIGINT) AS draw
         |  FROM cl)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN draw < ${cum(0)} THEN 'train'
         |       WHEN draw < ${cum(1)} THEN 'val'
         |       WHEN draw < ${cum(2)} THEN 'test'
         |       ELSE 'held_out' END AS split
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "q_text_shuffle_shards" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |      || ':shuffle'), 1, 15)) AS BIGINT) AS draw
        |  FROM documents)
        |SELECT doc_id, CAST(draw % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY draw % 8
        |    ORDER BY draw, doc_id) AS INT) AS shard_rank
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_text_contamination" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE len(trim(text)) > 0),
        |sh AS (
        |  SELECT doc_id,
        |    UNNEST(list_distinct(list_transform(
        |      generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS s
        |  FROM w WHERE len(t) >= 3),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
        |SELECT sh.doc_id, COUNT(*) AS n_hits
        |FROM sh JOIN ev ON sh.s = ev.s
        |WHERE sh.doc_id % 50 <> 0
        |GROUP BY sh.doc_id HAVING COUNT(*) >= 5
        |ORDER BY sh.doc_id""".stripMargin,
    // one generated CTE block per candidate n (the n-ary shingle
    // concat is built in Scala so each branch mirrors the op's
    // tokenShingles arity exactly), UNION ALL'd into the curve
    "q_text_contamination_curve" -> Seq(3, 5, 8).map { n =>
      val cat = (0 until n).map(j => s"t[i + $j]")
        .mkString(" || ' ' || ")
      s"""SELECT CAST($n AS BIGINT) AS ngram,
         |  CAST(COUNT(*) AS BIGINT) AS n_contaminated,
         |  CAST(COALESCE(SUM(n_hits), 0) AS BIGINT) AS n_hits_total,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
         |   WHERE doc_id % 50 <> 0) AS n_train,
         |  CAST(COUNT(*) * 1000000 //
         |    (SELECT COUNT(*) FROM documents WHERE doc_id % 50 <> 0)
         |    AS BIGINT) AS contaminated_ppm
         |FROM (
         |  WITH w AS (
         |    SELECT doc_id,
         |      regexp_split_to_array(trim(text), '\\s+') AS t
         |    FROM documents WHERE len(trim(text)) > 0),
         |  sh AS (
         |    SELECT doc_id,
         |      UNNEST(list_distinct(list_transform(
         |        generate_series(1, len(t) - ${n - 1}),
         |        i -> $cat))) AS s
         |    FROM w WHERE len(t) >= $n),
         |  ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
         |  SELECT sh.doc_id, COUNT(*) AS n_hits
         |  FROM sh JOIN ev ON sh.s = ev.s
         |  WHERE sh.doc_id % 50 <> 0
         |  GROUP BY sh.doc_id)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY ngram"),
    "q_text_signal_corr" ->
      s"""WITH m AS (
         |  SELECT source, COUNT(*) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx,
         |    CAST(SUM(y * y) AS BIGINT) AS syy
         |  FROM (
         |    SELECT source,
         |      CAST(length(text) AS BIGINT) AS x,
         |      CAST(len($toksSql) AS BIGINT) AS y
         |    FROM documents WHERE len(trim(text)) > 0)
         |  GROUP BY 1)
         |SELECT source, n, sx, sy, sxy, sxx, syy,
         |  CASE WHEN n * sxx - sx * sx > 0
         |      AND n * syy - sy * sy > 0
         |    THEN CAST(FLOOR(
         |      CAST(n * sxy - sx * sy AS DOUBLE)
         |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |      / sqrt(CAST(n * syy - sy * sy AS DOUBLE))
         |      * 1000.0) AS BIGINT)
         |    ELSE NULL END AS corr_milli
         |FROM m ORDER BY source""".stripMargin,
    "q_text_novelty" ->
      s"""WITH t0 AS (
         |  SELECT doc_id, $toksSql AS w, doc_id % 10 = 0 AS is_new
         |  FROM documents WHERE len(trim(text)) > 0),
         |sh AS (
         |  SELECT doc_id, is_new,
         |    UNNEST(list_distinct(list_transform(
         |      generate_series(1, len(w) - 2),
         |      i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])))
         |      AS sh
         |  FROM t0 WHERE len(w) >= 3),
         |seen AS (
         |  SELECT DISTINCT sh FROM sh WHERE NOT is_new),
         |scored AS (
         |  SELECT n.doc_id, COUNT(*) AS n_shingles,
         |    COUNT(*) FILTER (seen.sh IS NULL) AS n_unseen
         |  FROM sh n LEFT JOIN seen ON n.sh = seen.sh
         |  WHERE n.is_new GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(s.n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(COALESCE(s.n_unseen, 0) AS BIGINT) AS n_unseen,
         |  CAST(COALESCE(s.n_unseen * 1000000 // s.n_shingles, 0)
         |    AS BIGINT) AS novelty_ppm
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
         |LEFT JOIN scored s USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_text_pii_summary" ->
      """WITH p AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |      AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(text, 'https?://[^ ]+'))
        |      AS BIGINT) AS n_urls,
        |    CAST(len(regexp_extract_all(text, '[0-9]{7,}'))
        |      AS BIGINT) AS n_long_nums
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(*) FILTER (n_emails + n_urls + n_long_nums > 0)
        |    AS docs_with_pii,
        |  CAST(SUM(n_emails) AS BIGINT) AS total_emails,
        |  CAST(SUM(n_urls) AS BIGINT) AS total_urls,
        |  CAST(SUM(n_long_nums) AS BIGINT) AS total_long_nums,
        |  COUNT(*) FILTER (n_emails + n_urls + n_long_nums > 0)
        |    * 1000000 // COUNT(*) AS pii_doc_ppm
        |FROM p GROUP BY source ORDER BY source""".stripMargin,
    "q_text_pii" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |      'https?://[^ ]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INT)
        |    AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS INT)
        |    AS n_long_nums
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE len(trim(text)) > 0),
        |b AS (
        |  SELECT doc_id, toks,
        |    list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
        |  FROM t WHERE len(toks) >= 2),
        |m AS (
        |  SELECT doc_id, toks, bigrams,
        |    list_max(list_transform(list_distinct(toks),
        |      t -> len(list_filter(toks, x -> x = t)))) AS top_cnt
        |  FROM b)
        |SELECT doc_id,
        |  CAST(len(bigrams) AS INT) AS n_bigrams,
        |  CAST(len(list_distinct(bigrams)) AS INT) AS n_uniq_bigrams,
        |  CAST(1 AS DOUBLE) -
        |    CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
        |    AS dup_bigram_ratio,
        |  CAST(top_cnt AS INT) AS top_tok_count,
        |  CAST(top_cnt AS DOUBLE) / len(toks) AS top_tok_ratio
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_text_prepare" ->
      s"""WITH RECURSIVE
         |qt AS (
         |  SELECT doc_id, n_chars, text,
         |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |         ELSE regexp_split_to_array(trim(text), '\\s+')
         |    END AS qtoks
         |  FROM documents),
         |qdocs AS (
         |  SELECT doc_id, text FROM qt
         |  WHERE ${qualityExprSql("qtoks")}
         |    >= 0.4),
         |qd AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      ROW_NUMBER() OVER (PARTITION BY md5(text)
         |                         ORDER BY doc_id) AS rn
         |    FROM qdocs)
         |  WHERE rn = 1),
         |${jacPairsSqlOver("qd")},
         |e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM jac
         |    WHERE jaccard >= 0.5
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
         |reach(doc_id, rr) AS (
         |  SELECT doc_id, doc_id FROM qd
         |  UNION
         |  SELECT reach.doc_id, e.dst
         |  FROM reach JOIN e ON reach.rr = e.src),
         |reps AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, MIN(rr) AS cluster FROM reach GROUP BY doc_id)
         |  WHERE doc_id = cluster),
         |red AS (
         |  SELECT q.doc_id,
         |    regexp_replace(regexp_replace(regexp_replace(q.text,
         |      'https?://[^ ]+', '<URL>', 'g'),
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
         |      '<EMAIL>', 'g'),
         |      '[0-9]{7,}', '<NUM>', 'g') AS text
         |  FROM qd q JOIN reps USING (doc_id)),
         |tk AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM red WHERE len(trim(text)) > 0),
         |c AS (
         |  SELECT doc_id, toks,
         |    UNNEST(generate_series(0, len(toks) - 1, 40)) AS start
         |  FROM tk)
         |SELECT doc_id, CAST(start // 40 AS INT) AS chunk_id,
         |  array_to_string(toks[start + 1 : start + 50], ' ')
         |    AS chunk_text,
         |  CAST(len(toks[start + 1 : start + 50]) AS INT) AS n_tokens
         |FROM c
         |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
         |    CAST(start // 40 AS VARCHAR) || ':chunk'), 1, 15)) AS BIGINT)
         |  < ${Text.q60(0.5)}
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "q_text_prepare_semantic" ->
      s"""WITH RECURSIVE
         |qt AS (
         |  SELECT doc_id, n_chars, text,
         |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |         ELSE regexp_split_to_array(trim(text), '\\s+')
         |    END AS qtoks
         |  FROM documents),
         |qdocs AS (
         |  -- classifier logit gate: same term order as the Spark side
         |  SELECT doc_id, text FROM qt
         |  WHERE 0.25
         |    + CAST(len(list_filter(qtoks,
         |        x -> list_contains($stopSql, x))) AS DOUBLE)
         |        / GREATEST(len(qtoks), 1) * 1.5
         |    + CAST(len(list_distinct(qtoks)) AS DOUBLE)
         |        / GREATEST(len(qtoks), 1) * -2.0
         |    + CAST(LEAST(n_chars, 500) AS DOUBLE) / 500.0 * 0.75
         |    >= -0.5),
         |qd AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      ROW_NUMBER() OVER (PARTITION BY md5(text)
         |                         ORDER BY doc_id) AS rn
         |    FROM qdocs)
         |  WHERE rn = 1),
         |${jacPairsSqlOver("qd")},
         |e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM jac
         |    WHERE jaccard >= 0.5
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
         |reach(doc_id, rr) AS (
         |  SELECT doc_id, doc_id FROM qd
         |  UNION
         |  SELECT reach.doc_id, e.dst
         |  FROM reach JOIN e ON reach.rr = e.src),
         |treps AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, MIN(rr) AS cluster FROM reach GROUP BY doc_id)
         |  WHERE doc_id = cluster),
         |ek AS (
         |  SELECT em.vec_id, em.label, em.embedding
         |  FROM embeddings em JOIN treps ON em.vec_id = treps.doc_id),
         |nn AS (
         |  SELECT vec_id, label,
         |    sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
         |             ORDER BY i)) AS nrm
         |  FROM (SELECT vec_id, label,
         |          CAST(generate_subscripts(embedding, 1) AS INT) AS i,
         |          UNNEST(embedding) AS x
         |        FROM ek)
         |  GROUP BY vec_id, label),
         |uu AS (
         |  SELECT ek.vec_id, nn.label,
         |    CAST(generate_subscripts(ek.embedding, 1) AS INT) AS i,
         |    CAST(UNNEST(ek.embedding) AS DOUBLE) / nn.nrm AS ux
         |  FROM ek JOIN nn ON ek.vec_id = nn.vec_id),
         |sp AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM uu a JOIN uu b
         |    ON a.i = b.i AND a.label = b.label
         |    AND a.vec_id < b.vec_id
         |  GROUP BY 1, 2
         |  HAVING SUM(a.ux * b.ux ORDER BY a.i) >= 0.4),
         |se AS (
         |  SELECT vec_a AS src, vec_b AS dst FROM sp
         |  UNION ALL
         |  SELECT vec_b, vec_a FROM sp),
         |sreach(vec_id, r) AS (
         |  SELECT vec_id, vec_id FROM ek
         |  UNION
         |  SELECT sreach.vec_id, se.dst
         |  FROM sreach JOIN se ON sreach.r = se.src),
         |sdrop AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, MIN(r) AS c FROM sreach GROUP BY vec_id)
         |  WHERE vec_id <> c),
         |survivors AS (
         |  SELECT doc_id FROM treps
         |  WHERE doc_id NOT IN (SELECT vec_id FROM sdrop)),
         |red AS (
         |  SELECT q.doc_id,
         |    regexp_replace(regexp_replace(regexp_replace(q.text,
         |      'https?://[^ ]+', '<URL>', 'g'),
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
         |      '<EMAIL>', 'g'),
         |      '[0-9]{7,}', '<NUM>', 'g') AS text
         |  FROM qd q JOIN survivors USING (doc_id)),
         |tk AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM red WHERE len(trim(text)) > 0),
         |c AS (
         |  SELECT doc_id, toks,
         |    UNNEST(generate_series(0, len(toks) - 1, 40)) AS start
         |  FROM tk)
         |SELECT doc_id, CAST(start // 40 AS INT) AS chunk_id,
         |  array_to_string(toks[start + 1 : start + 50], ' ')
         |    AS chunk_text,
         |  CAST(len(toks[start + 1 : start + 50]) AS INT) AS n_tokens
         |FROM c
         |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
         |    CAST(start // 40 AS VARCHAR) || ':chunk'), 1, 15)) AS BIGINT)
         |  < ${Text.q60(0.5)}
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "q_text_dup_spans" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE len(trim(text)) > 0),
        |sp AS (
        |  SELECT doc_id, UNNEST(list_distinct(list_transform(
        |    generate_series(1, len(t) - 19),
        |    i -> array_to_string(t[i : i + 19], ' ')))) AS span
        |  FROM w WHERE len(t) >= 20),
        |cd AS (
        |  SELECT span FROM sp GROUP BY span
        |  HAVING COUNT(DISTINCT doc_id) >= 2)
        |SELECT sp.doc_id,
        |  COUNT(*) AS n_spans,
        |  COUNT(cd.span) AS n_dup_spans,
        |  CAST(COUNT(cd.span) AS DOUBLE) / COUNT(*) AS dup_span_ratio
        |FROM sp LEFT JOIN cd ON sp.span = cd.span
        |GROUP BY sp.doc_id ORDER BY sp.doc_id""".stripMargin,
    "q_text_pack_chunks" ->
      s"""WITH $chunkedBucketsSql,
        |p AS (
        |  SELECT doc_id, chunk_id, bucket, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY bucket
        |      ORDER BY doc_id, chunk_id) AS BIGINT) - n_tokens
        |      AS start_off
        |  FROM ch)
        |SELECT doc_id, chunk_id, bucket, n_tokens,
        |  start_off // 512 AS seq_id,
        |  start_off % 512 AS seq_off
        |FROM p ORDER BY doc_id, chunk_id""".stripMargin,
    // linear recursion: row rn+1's (seq, fill) depends on row rn's —
    // exactly the running state the Spark side walks per bucket
    "q_text_pack_firstfit" ->
      s"""WITH RECURSIVE $chunkedBucketsSql,
        |o AS (
        |  SELECT *, row_number() OVER (PARTITION BY bucket
        |    ORDER BY doc_id, chunk_id) AS rn
        |  FROM ch),
        |s AS (
        |  SELECT bucket, rn, doc_id, chunk_id, n_tokens,
        |    CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_off,
        |    CAST(n_tokens AS BIGINT) AS fill
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.bucket, o.rn, o.doc_id, o.chunk_id, o.n_tokens,
        |    CASE WHEN s.fill > 0 AND s.fill + o.n_tokens > 512
        |         THEN s.seq_id + 1 ELSE s.seq_id END,
        |    CASE WHEN s.fill > 0 AND s.fill + o.n_tokens > 512
        |         THEN CAST(0 AS BIGINT) ELSE s.fill END,
        |    CASE WHEN s.fill > 0 AND s.fill + o.n_tokens > 512
        |         THEN CAST(o.n_tokens AS BIGINT)
        |         ELSE s.fill + o.n_tokens END
        |  FROM s JOIN o ON o.bucket = s.bucket AND o.rn = s.rn + 1)
        |SELECT doc_id, chunk_id, bucket, n_tokens, seq_id, seq_off
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    "q_text_incremental_dedup" ->
      """WITH seen AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE doc_id % 10 = 0),
        |batch AS (
        |  SELECT doc_id, lang, source, n_chars, md5(text) AS h,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text)
        |                       ORDER BY doc_id) AS rn
        |  FROM documents WHERE doc_id % 10 <> 0)
        |SELECT doc_id, lang, source, n_chars FROM batch b
        |WHERE rn = 1
        |  AND NOT EXISTS (SELECT 1 FROM seen WHERE seen.h = b.h)
        |ORDER BY doc_id""".stripMargin,
    "q_text_source_cap" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |      || ':cap'), 1, 15)) AS BIGINT) AS draw
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY draw, doc_id) AS rn
        |  FROM d)
        |SELECT doc_id, source FROM r WHERE rn <= 15
        |ORDER BY doc_id""".stripMargin,
    "q_text_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+'))
        |         END AS INT) AS n_tokens,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |      || ':budget'), 1, 15)) AS BIGINT) AS draw
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY draw, doc_id) AS BIGINT) - n_tokens
        |      AS cum_before
        |  FROM d)
        |SELECT doc_id, lang, n_tokens, cum_before
        |FROM c
        |WHERE cum_before < CASE lang WHEN 'en' THEN 5000
        |  WHEN 'de' THEN 2000 WHEN 'fr' THEN 1500 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,
    // brute-force n² twin of the banded Spark path; identical by the
    // pigeonhole theorem (see the queries entry). The signature is
    // the md5-based simhash60: per-bit majority vote over
    // ('0x'||substr(md5(tok),1,15))::BIGINT token hashes.
    "q_text_simhash_neardup" ->
      s"""WITH $simhash60SigSql
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the signature itself (same md5-based majority-vote fragment the
    // neardup twin uses) — converted from rows-only in r6
    "q_text_simhash" ->
      s"""WITH $simhash60SigSql
        |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin,
    "q_text_bpe_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text,
        |    ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+') AS toks
        |  FROM documents),
        |i AS (
        |  SELECT doc_id, toks,
        |    UNNEST(generate_series(1, len(toks) - 1)) AS i
        |  FROM t WHERE len(toks) >= 2),
        |p AS (
        |  SELECT doc_id, toks[i] AS tok_a, toks[i + 1] AS tok_b
        |  FROM i)
        |SELECT tok_a, tok_b, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT doc_id) AS n_docs
        |FROM p GROUP BY tok_a, tok_b
        |HAVING COUNT(*) >= 2
        |ORDER BY n_pairs DESC, tok_a, tok_b LIMIT 100""".stripMargin,
    // exact-integer form of keep-rate min(1, sqrt(75 / n_lang)):
    // draw30² · n < 75 · 2^60, in HUGEINT so nothing rounds
    "q_text_temperature_sample" ->
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_group FROM documents
        |  GROUP BY lang),
        |d AS (
        |  SELECT doc_id, documents.lang, n_group,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |      || ':temp'), 1, 15)) AS BIGINT) >> 30 AS draw30
        |  FROM documents JOIN c USING (lang))
        |SELECT doc_id, lang, n_group FROM d
        |WHERE n_group <= 75
        |   OR CAST(draw30 * draw30 AS HUGEINT) * n_group
        |      < CAST(75 AS HUGEINT) * 1152921504606846976
        |ORDER BY doc_id""".stripMargin,
    // min over every 32-char window of the 60-bit md5 prefix; docs
    // of <= 32 chars (incl. empty) hash as one whole-text window
    "q_text_winnow_fp" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    COALESCE(
        |      list_min(list_transform(
        |        generate_series(1, length(text) - 31),
        |        i -> CAST(('0x' || substr(md5(substr(text, i, 32)),
        |          1, 15)) AS BIGINT))),
        |      CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT))
        |      AS win_fp
        |  FROM documents),
        |g AS (
        |  SELECT win_fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
        |  FROM f GROUP BY win_fp)
        |SELECT f.doc_id, f.win_fp, g.n_docs, g.keep_doc_id
        |FROM f JOIN g USING (win_fp)
        |ORDER BY f.doc_id""".stripMargin,
    // Rabin-Karp rolling-min fingerprint, EXACT twin (r13 verdict
    // item 5 — formerly rows-only): the 64-bit-wraparound polynomial
    // hash replays in HUGEINT with the 32 base-257 powers mod 2^64
    // as literals; per window, SUM(byte_j * pw[wl-j]) then ONE
    // (x + 2^63) % 2^64 - 2^63 fold maps the residue to Spark's
    // signed-long value before the min. Bytes come from
    // hex(encode(text)) so both engines hash identical UTF-8;
    // docs of <= 32 bytes (incl. empty -> 0) hash as one window.
    "q_text_rolling_fp" ->
      """WITH d0 AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n,
        |    LEAST(octet_length(encode(text)), 32) AS wl,
        |    [CAST(1 AS HUGEINT), CAST(257 AS HUGEINT),
        |     CAST(66049 AS HUGEINT), CAST(16974593 AS HUGEINT),
        |     CAST(4362470401 AS HUGEINT),
        |     CAST(1121154893057 AS HUGEINT),
        |     CAST(288136807515649 AS HUGEINT),
        |     CAST(74051159531521793 AS HUGEINT),
        |     CAST(584403925891549185 AS HUGEINT),
        |     CAST(2617856364451727617 AS HUGEINT),
        |     CAST(8706299010550139393 AS HUGEINT),
        |     CAST(5462812792530078465 AS HUGEINT),
        |     CAST(1990338078304242689 AS HUGEINT),
        |     CAST(13454796134032477441 AS HUGEINT),
        |     CAST(8341464662660550145 AS HUGEINT),
        |     CAST(3934105753453399809 AS HUGEINT),
        |     CAST(14940998657207963649 AS HUGEINT),
        |     CAST(2913887570859921665 AS HUGEINT),
        |     CAST(10999342762617803265 AS HUGEINT),
        |     CAST(4479246715214041857 AS HUGEINT),
        |     CAST(7468273240016557057 AS HUGEINT),
        |     CAST(884839018461795585 AS HUGEINT),
        |     CAST(6042698860166845953 AS HUGEINT),
        |     CAST(3447104871277074177 AS HUGEINT),
        |     CAST(462236380149585921 AS HUGEINT),
        |     CAST(8114285256186272001 AS HUGEINT),
        |     CAST(889230510692571649 AS HUGEINT),
        |     CAST(7171312363476294401 AS HUGEINT),
        |     CAST(16799614116162051073 AS HUGEINT),
        |     CAST(962714605612047617 AS HUGEINT),
        |     CAST(7609980684072066561 AS HUGEINT),
        |     CAST(410163993308634881 AS HUGEINT)] AS pwl
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    COALESCE(list_min(list_transform(
        |      generate_series(1, GREATEST(n - 31, 1)),
        |      p -> CAST((list_sum(list_transform(
        |          generate_series(0, wl - 1),
        |          j -> CAST(CAST(('0x'
        |              || substr(hx, 2 * (p + j) - 1, 2)) AS BIGINT)
        |            AS HUGEINT) * pwl[wl - j]))
        |          + 9223372036854775808) % 18446744073709551616
        |          - 9223372036854775808 AS BIGINT))), 0) AS roll_fp
        |  FROM d0),
        |g AS (SELECT roll_fp, COUNT(*) AS n_docs,
        |        MIN(doc_id) AS keep_doc_id
        |      FROM f GROUP BY roll_fp)
        |SELECT f.doc_id, f.roll_fp, g.n_docs, g.keep_doc_id
        |FROM f JOIN g USING (roll_fp)
        |ORDER BY f.doc_id""".stripMargin,
    "q_text_bigram_ce" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
        |    AS toks
        |  FROM documents WHERE len(trim(text)) > 0),
        |bg0 AS (
        |  SELECT doc_id,
        |    UNNEST(list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i])) AS v,
        |    UNNEST(list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i + 1])) AS w
        |  FROM t WHERE len(toks) >= 2),
        |inst AS (
        |  SELECT doc_id, v, w, COUNT(*) AS ct
        |  FROM bg0 GROUP BY 1, 2, 3),
        |big AS (
        |  SELECT v, w, CAST(SUM(ct) AS BIGINT) AS c_vw
        |  FROM inst GROUP BY 1, 2),
        |cv AS (
        |  SELECT v, CAST(SUM(c_vw) AS BIGINT) AS c_v
        |  FROM big GROUP BY 1),
        |cw AS (
        |  SELECT w, CAST(SUM(c_vw) AS BIGINT) AS c_w
        |  FROM big GROUP BY 1),
        |nt AS (SELECT CAST(SUM(c_vw) AS BIGINT) AS n_big FROM big),
        |m AS (
        |  SELECT b.v, b.w,
        |    GREATEST(700000 * b.c_vw // cv.c_v
        |      + 300000 * cw.c_w // nt.n_big, 1) AS p_ppm
        |  FROM big b JOIN cv USING (v) JOIN cw USING (w)
        |  CROSS JOIN nt),
        |agg AS (
        |  SELECT i.doc_id,
        |    CAST(SUM(i.ct) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(i.ct * m.p_ppm) AS BIGINT) AS sum_p_ppm,
        |    CAST(MIN(m.p_ppm) AS BIGINT) AS min_p_ppm
        |  FROM inst i JOIN m ON i.v = m.v AND i.w = m.w
        |  GROUP BY 1)
        |SELECT doc_id, n_bigrams, sum_p_ppm, min_p_ppm
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q_text_unigram" ->
      s"""WITH t AS (
         |  SELECT doc_id, UNNEST($toksSql) AS token
         |  FROM documents WHERE len(trim(text)) > 0),
         |tf AS (SELECT token, COUNT(*) AS tf FROM t GROUP BY token)
         |SELECT t.doc_id, COUNT(*) AS n_toks,
         |  CAST(SUM(tf.tf) AS BIGINT) AS sum_tf,
         |  CAST(MIN(tf.tf) AS BIGINT) AS min_tf
         |FROM t JOIN tf USING (token)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "q_text_unimax" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+'))
        |         END AS INT) AS n_tokens,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |      || ':unimax'), 1, 15)) AS BIGINT) AS draw
        |  FROM documents),
        |counts AS (
        |  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS toks,
        |    CAST(ROW_NUMBER() OVER (ORDER BY SUM(n_tokens), lang)
        |      AS INT) AS rn
        |  FROM d GROUP BY lang),
        |m AS (SELECT COUNT(*) AS n FROM counts),
        |alloc(rn, lang, b, rem_b, rem_n) AS (
        |  SELECT c.rn, c.lang,
        |    CAST(LEAST(c.toks, 18000 // m.n) AS BIGINT),
        |    CAST(18000 - LEAST(c.toks, 18000 // m.n) AS BIGINT),
        |    m.n - 1
        |  FROM counts c, m WHERE c.rn = 1
        |  UNION ALL
        |  SELECT c.rn, c.lang,
        |    CAST(LEAST(c.toks, a.rem_b // a.rem_n) AS BIGINT),
        |    CAST(a.rem_b - LEAST(c.toks, a.rem_b // a.rem_n)
        |      AS BIGINT),
        |    a.rem_n - 1
        |  FROM alloc a JOIN counts c ON c.rn = a.rn + 1),
        |cum AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY draw, doc_id) AS BIGINT) - n_tokens
        |      AS cum_before
        |  FROM d)
        |SELECT cum.doc_id, cum.lang, cum.n_tokens, cum.cum_before
        |FROM cum JOIN alloc ON cum.lang = alloc.lang
        |WHERE cum.cum_before < alloc.b
        |ORDER BY cum.doc_id""".stripMargin,
    "q_text_dsir" ->
      s"""WITH ro AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT)
         |      % 256 AS b
         |  FROM (SELECT doc_id, UNNEST($toksSql) AS token
         |        FROM documents
         |        WHERE lang <> 'en' AND len(trim(text)) > 0)),
         |tg AS (
         |  SELECT
         |    CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT)
         |      % 256 AS b
         |  FROM (SELECT UNNEST($toksSql) AS token
         |        FROM documents
         |        WHERE lang = 'en' AND len(trim(text)) > 0)),
         |cr AS (SELECT b, COUNT(*) AS cr FROM ro GROUP BY b),
         |ct AS (SELECT b, COUNT(*) AS ct FROM tg GROUP BY b),
         |m AS (
         |  SELECT COALESCE(cr.b, ct.b) AS b,
         |    COALESCE(cr.cr, 0) AS cr, COALESCE(ct.ct, 0) AS ct
         |  FROM cr FULL OUTER JOIN ct ON cr.b = ct.b)
         |SELECT ro.doc_id, COUNT(*) AS n_toks,
         |  CAST(SUM(m.ct) AS BIGINT) AS sum_ct,
         |  CAST(SUM(m.cr) AS BIGINT) AS sum_cr,
         |  CAST(MIN(m.ct) AS BIGINT) AS min_ct
         |FROM ro JOIN m USING (b)
         |GROUP BY ro.doc_id ORDER BY ro.doc_id""".stripMargin,
    "q_text_classifier" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN length(trim(text)) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE $toksSql END AS toks
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS INT) AS n_tokens,
         |    CAST(len(list_filter(toks,
         |      x -> list_contains($stopSql, x))) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS stopword_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE)
         |      / GREATEST(len(toks), 1) AS uniq_ratio,
         |    CAST(LEAST(n_chars, 500) AS DOUBLE) / 500.0 AS len_score
         |  FROM t)
         |SELECT doc_id, n_tokens, stopword_ratio, uniq_ratio,
         |  len_score,
         |  0.25 + stopword_ratio * 1.5 + uniq_ratio * -2.0
         |    + len_score * 0.75 AS logit
         |FROM r ORDER BY doc_id""".stripMargin,
    "q_text_bigram" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks
         |  FROM documents WHERE len(trim(text)) > 0),
         |ix AS (
         |  SELECT doc_id, toks,
         |    UNNEST(generate_series(1, len(toks) - 1)) AS i
         |  FROM t WHERE len(toks) >= 2),
         |p AS (
         |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS pair
         |  FROM ix),
         |ptf AS (SELECT pair, COUNT(*) AS pair_tf FROM p GROUP BY pair)
         |SELECT p.doc_id, COUNT(*) AS n_pairs,
         |  CAST(SUM(ptf.pair_tf) AS BIGINT) AS sum_pair_tf,
         |  CAST(MIN(ptf.pair_tf) AS BIGINT) AS min_pair_tf
         |FROM p JOIN ptf USING (pair)
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    "q_text_source_overlap" ->
      s"""WITH v AS (
         |  SELECT DISTINCT source, token FROM (
         |    SELECT source, UNNEST($toksSql) AS token
         |    FROM documents WHERE len(trim(text)) > 0)),
         |sz AS (SELECT source, COUNT(*) AS n FROM v GROUP BY source),
         |i AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    COUNT(*) AS inter
         |  FROM v a JOIN v b
         |    ON a.token = b.token AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, inter, sa.n AS na, sb.n AS nb,
         |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         |FROM i
         |JOIN sz sa ON i.source_a = sa.source
         |JOIN sz sb ON i.source_b = sb.source
         |ORDER BY source_a, source_b""".stripMargin,
    "q_text_length_buckets" ->
      s"""WITH t AS (
         |  SELECT doc_id, len($toksSql) AS n
         |  FROM documents WHERE len(trim(text)) > 0),
         |b AS (
         |  SELECT doc_id, n,
         |    CASE WHEN n <= 1 THEN CAST(1 AS BIGINT)
         |         ELSE CAST(1 AS BIGINT) << len(bin(n - 1)) END
         |      AS bucket
         |  FROM t WHERE n > 0)
         |SELECT bucket, COUNT(*) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS sum_tokens,
         |  bucket * COUNT(*) AS padded_tokens,
         |  bucket * COUNT(*) - CAST(SUM(n) AS BIGINT) AS waste_tokens,
         |  CAST(bucket * COUNT(*) - SUM(n) AS DOUBLE)
         |    / (bucket * COUNT(*)) AS waste_ratio
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  )

  private def q60(r: Double): Long = Text.q60(r)

  /** Shared oracle fragment: exact 3-gram-shingle jaccard over the
    * unpruned inverted-index join (the n² check the prefix-filtered
    * Spark path must equal).
    */
  /** Shared oracle fragment: `chunkDocs(50, 40)` chunk rows plus the
    * `packChunks` doc-level bucket draw, as a `ch(doc_id, chunk_id,
    * n_tokens, bucket)` CTE chain — one source of truth for both
    * packing oracles (window/stride and bucket salt must track the
    * Spark defaults together).
    */
  private def chunkedBucketsSql =
    """t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents WHERE len(trim(text)) > 0),
      |c AS (
      |  SELECT doc_id, toks,
      |    UNNEST(generate_series(0, len(toks) - 1, 40)) AS start
      |  FROM t),
      |ch AS (
      |  SELECT doc_id, CAST(start // 40 AS INT) AS chunk_id,
      |    CAST(len(toks[start + 1 : start + 50]) AS INT) AS n_tokens,
      |    CAST(CAST(('0x' || substr(
      |      md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 15))
      |      AS BIGINT) % 8 AS BIGINT) AS bucket
      |  FROM c)""".stripMargin

  /** Shared oracle fragment: md5-based 60-bit SimHash signatures as
    * a `sig(doc_id, simhash)` CTE chain (per-bit majority vote over
    * `('0x'||substr(md5(tok),1,15))::BIGINT` token hashes — the
    * exact math of `functions.Simhash60Md5`).
    */
  private def simhash60SigSql =
    """t AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+')
      |    END AS toks
      |  FROM documents),
      |tok AS (SELECT doc_id, UNNEST(toks) AS tok FROM t),
      |th AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      |  FROM tok),
      |bc AS (
      |  SELECT doc_id, b, SUM((h >> b) & 1) AS cnt
      |  FROM th CROSS JOIN
      |    (SELECT UNNEST(generate_series(0, 59)) AS b) bb
      |  GROUP BY doc_id, b),
      |nn AS (SELECT doc_id, len(toks) AS n FROM t),
      |sig AS (
      |  SELECT nn.doc_id,
      |    -- SUM(BIGINT) widens to HUGEINT in DuckDB; narrow back
      |    CAST(COALESCE(SUM(CASE WHEN 2 * bc.cnt > nn.n
      |      THEN (CAST(1 AS BIGINT) << bc.b) ELSE 0 END), 0)
      |      AS BIGINT) AS simhash
      |  FROM nn LEFT JOIN bc ON nn.doc_id = bc.doc_id
      |  GROUP BY nn.doc_id)""".stripMargin

  private def jacPairsSql = jacPairsSqlOver("documents")

  /** Shared oracle fragment over `jac`: the symmetric edges
    * `e(src, dst)` at jaccard >= 0.5 and their recursive closure
    * `reach(doc_id, r)` over every document (component id =
    * `MIN(r)`) — one source of truth for the dup-cluster components
    * (needs `WITH RECURSIVE`).
    */
  private def jacComponentsSql =
    """e AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM jac
      |    WHERE jaccard >= 0.5
      |  UNION ALL
      |  SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
      |reach(doc_id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT reach.doc_id, e.dst
      |  FROM reach JOIN e ON reach.r = e.src)""".stripMargin

  /** Width-parameterized exhaustive pair CTE block for the
    * shingle-width curve (the oracle needs no prefix filter — it
    * joins every shared-shingle pair exhaustively per width). */
  private def widthBlockSql(w: Int, threshold: Double): String = {
    val concatExpr = (0 until w).map(j => s"w[i + $j]")
      .mkString(" || ' ' || ")
    s"""t0_$w AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')
       |    AS w
       |  FROM documents WHERE len(trim(text)) > 0),
       |t_$w AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, len(w) - ${w - 1}),
       |    i -> $concatExpr)) AS toks
       |  FROM t0_$w WHERE len(w) >= $w),
       |i_$w AS (SELECT doc_id, len(toks) AS n, UNNEST(toks) AS tok
       |         FROM t_$w),
       |p_$w AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.n AS na, b.n AS nb, COUNT(*) AS inter
       |  FROM i_$w a JOIN i_$w b
       |    ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |j_$w AS (
       |  SELECT doc_a, doc_b,
       |    CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
       |  FROM p_$w
       |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter)
       |    >= $threshold),
       |e_$w AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_eligible
       |  FROM t0_$w WHERE len(w) >= $w),
       |g_$w AS (
       |  SELECT CAST($w AS BIGINT) AS shingle_w,
       |    (SELECT n_eligible FROM e_$w) AS n_eligible,
       |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT)
       |     FROM (SELECT doc_a AS doc_id FROM j_$w
       |           UNION ALL SELECT doc_b FROM j_$w))
       |      AS docs_in_pairs,
       |    CAST(CASE WHEN COUNT(*) > 0 THEN
       |      COALESCE(SUM(CAST(FLOOR(jaccard * 1048576)
       |        AS BIGINT)), 0) // COUNT(*)
       |      ELSE 0 END AS BIGINT) AS mean_jaccard_q20
       |  FROM j_$w)""".stripMargin
  }

  /** `pairPred` picks which doc pairs the inverted-index join emits:
    * the default canonical `a < b` for within-corpus pair sets; the
    * incremental gate swaps in its cross-side split predicate.
    */
  private def jacPairsSqlOver(
      src: String,
      pairPred: String = "a.doc_id < b.doc_id") =
    s"""t0 AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
      |  FROM $src WHERE len(trim(text)) > 0),
      |t AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      generate_series(1, len(w) - 2),
      |      i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS toks
      |  FROM t0 WHERE len(w) >= 3),
      |s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
      |i AS (SELECT doc_id, n, UNNEST(toks) AS tok FROM s),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.n AS na, b.n AS nb, COUNT(*) AS inter
      |  FROM i a JOIN i b ON a.tok = b.tok AND ($pairPred)
      |  GROUP BY 1, 2, 3, 4),
      |jac AS (
      |  SELECT doc_a, doc_b,
      |    CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      |  FROM p)""".stripMargin
}
