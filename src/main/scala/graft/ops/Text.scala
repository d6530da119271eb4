package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.storage.StorageLevel

/** Text-analysis + deduplication operators for the LLM-training-data
  * pipeline (north star; SURVEY §2.6 extras).
  *
  * Everything is a narrow, map-side column expression except the
  * dedup group-bys — which shuffle on a hash key, the exact pattern
  * that scales: at 100 TB the fingerprint/minhash signature is
  * computed in the scan stage and only (hash, doc_id) pairs shuffle.
  * No UDFs except simhash (pointwise bit-mixing with no builtin
  * equivalent — candidate for a codegen Expression later).
  */
object Text {

  /** Whitespace tokens of trimmed text; empty text → empty array
    * (split of "" would yield [""]).
    */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Exact-duplicate groups: hash-groupBy on md5(text). */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(
        min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_dups")
      )

  /** Exact dedup keeping the lowest doc_id per identical text —
    * `min_by` aggregation form: map-side partial keeps one row per
    * hash per task and AQE splits skewed hash buckets, vs the window
    * form (`exactDedupWindow`) which sorts whole partitions.
    */
  def exactDedup(docs: DataFrame): DataFrame = {
    val cols = docs.columns.map(col)
    docs
      .groupBy(md5(col("text").cast("binary")))
      .agg(min_by(struct(cols: _*), col("doc_id")).as("__row"))
      .select(col("__row.*"))
  }

  /** Window-form exact dedup (kept for the defined-under-ties
    * semantics and as the differential-test reference).
    */
  def exactDedupWindow(docs: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(md5(col("text").cast("binary")))
      .orderBy(col("doc_id"))
    docs
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Token-level stats: counts are exact integers → oracle-stable. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_uniq_tokens"),
      length(col("text")).as("n_chars_computed"),
      aggregate(toks, lit(0),
        (acc, t) => acc + length(t)).as("sum_token_len")
    )
  }

  private val stopwords =
    Seq("the", "a", "an", "and", "of", "to", "in", "is")

  /** Heuristic quality scoring: length score, stopword ratio,
    * alphabetic ratio, duplication ratio — combined into one score.
    * All ratios are exact-int / exact-int divisions → bitwise
    * deterministic.
    */
  def qualityScore(docs: DataFrame): DataFrame =
    qualityScoreKeeping(docs, Nil)

  /** [[qualityScore]] carrying extra input columns through the scan
    * (r19) — the map-side score never needs a doc_id join to
    * re-attach attributes the scan already read (bradleyTerry paid
    * a corpus-keyed shuffle to recover `source`).
    */
  private[ops] def qualityScoreKeeping(
      docs: DataFrame, keep: Seq[String]): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val nStop = size(filter(toks,
      t => array_contains(lit(stopwords.toArray), t)))
    val nUniq = size(array_distinct(toks))
    docs
      .select(
        (Seq(
          col("doc_id"),
          nTok.as("n_tokens"),
          (nStop.cast("double") / greatest(nTok, lit(1)))
            .as("stopword_ratio"),
          (nUniq.cast("double") / greatest(nTok, lit(1)))
            .as("uniq_ratio"),
          least(col("n_chars"), lit(500)).cast("double")./(500.0)
            .as("len_score")
        ) ++ keep.map(col)): _*
      )
      .withColumn("quality",
        col("stopword_ratio") * 0.25 + col("uniq_ratio") * 0.5 +
          col("len_score") * 0.25)
  }

  /** Learned weights of the logistic quality classifier:
    * `logit = bias + wStop·stopword_ratio + wUniq·uniq_ratio +
    * wLen·len_score`.
    */
  final case class QualityClassifier(
      wStop: Double, wUniq: Double, wLen: Double, bias: Double)

  /** Apply a logistic quality classifier over the [[qualityScore]]
    * features — the FineWeb-Edu/DCLM-style "filter by classifier
    * score" pass: the model is a handful of doubles (trained offline
    * via [[trainQualityClassifier]] or supplied), the application is
    * pure scan-stage arithmetic — no shuffle, no join, embarrassingly
    * parallel at any corpus size. `logit` is IEEE +/×-only (hence
    * engine-exact and oracle-hashable); `clf_score = σ(logit)` goes
    * through libm `exp` and is spec-tested instead (same split as
    * [[unigramScore]]'s ln columns).
    */
  def classifierScore(
      docs: DataFrame,
      model: QualityClassifier
  ): DataFrame =
    qualityScore(docs)
      .withColumn("logit",
        lit(model.bias) +
          col("stopword_ratio") * model.wStop +
          col("uniq_ratio") * model.wUniq +
          col("len_score") * model.wLen)
      .withColumn("clf_score", lit(1.0) / (exp(-col("logit")) + 1.0))

  /** Fit the logistic quality classifier on weak labels —
    * `labels`: `(doc_id, label ∈ {0.0, 1.0})`. Training is the
    * standard distributed L-BFGS of spark.ml (each iteration one pass
    * over the feature rows); the returned model is four doubles, so
    * serving never touches MLlib — [[classifierScore]] applies it as
    * plain column arithmetic. This is the deployment split every
    * classifier-filter pipeline uses at 100 TB: fit on a (sampled)
    * labeled slice, apply scan-stage to the corpus.
    */
  def trainQualityClassifier(
      docs: DataFrame,
      labels: DataFrame,
      maxIter: Int = 50
  ): QualityClassifier = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.linalg.Vectors
    val feats = qualityScore(docs).join(labels, "doc_id")
    val spark = docs.sparkSession
    import spark.implicits._
    val train = feats.select(
      col("label").cast("double"),
      col("stopword_ratio"), col("uniq_ratio"), col("len_score"))
      .as[(Double, Double, Double, Double)]
      .map { case (l, s, u, n) => (l, Vectors.dense(s, u, n)) }
      .toDF("label", "features")
    val lr = new LogisticRegression()
      .setMaxIter(maxIter)
      .setStandardization(false)
      .setRegParam(0.0)
    val m = lr.fit(train)
    QualityClassifier(
      m.coefficients(0), m.coefficients(1), m.coefficients(2),
      m.intercept)
  }

  /** Percentile calibration of the quality score — how quality gates
    * are set in practice: "drop the worst 20%" (a percentile), not
    * "drop below 0.37" (an absolute that shifts with every corpus).
    * Emits each doc's percent rank and decile of `qualityScore`.
    *
    * Scale note: EXACT global ranks put the whole input through ONE
    * window partition in Spark (an unpartitioned window does not
    * range-partition) — right for calibration runs and sampled
    * corpora, wrong for the full 100 TB table. At full scale use
    * [[qualityDecileThresholds]] (one mergeable-sketch pass) and
    * gate by threshold instead of by rank.
    */
  def qualityPercentiles(docs: DataFrame): DataFrame = {
    val w = Window.orderBy(col("quality"), col("doc_id"))
    qualityScore(docs)
      .select(col("doc_id"), col("quality"))
      .withColumn("q_pct", percent_rank().over(w))
      .withColumn("q_decile", ntile(10).over(w))
  }

  /** The full-scale companion of [[qualityPercentiles]]: decile
    * THRESHOLDS of the quality score via `approx_percentile` — a
    * mergeable sketch that never concentrates the corpus on one
    * task; the gate becomes a broadcast threshold comparison.
    */
  def qualityDecileThresholds(docs: DataFrame): DataFrame =
    qualityScore(docs)
      .agg(percentile_approx(col("quality"),
        array((1 to 9).map(d => lit(d / 10.0)): _*),
        lit(10000)).as("thresholds"))
      .select(posexplode(col("thresholds")))
      .select((col("pos") + 1).cast("int").as("decile"),
        col("col").as("quality_threshold"))

  /** EXACT decile thresholds — the hash-checkable twin that brackets
    * the [[qualityDecileThresholds]] sketch: threshold d = the
    * largest quality in `ntile(10)` decile d of the
    * [[qualityPercentiles]] ranking (deterministic under the
    * (quality, doc_id) total order). Calibration-scale tool, same
    * caveat as qualityPercentiles: the global window is one
    * partition — at full scale the sketch is the path and this twin
    * is what audits it on a sample.
    */
  def qualityDecileThresholdsExact(docs: DataFrame): DataFrame =
    qualityPercentiles(docs)
      .filter(col("q_decile") <= 9)
      .groupBy(col("q_decile").cast("int").as("decile"))
      .agg(max(col("quality")).as("quality_threshold"))

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "die", "nicht"),
    "es" -> Seq("el", "los", "que", "y"),
    "fr" -> Seq("le", "les", "et", "est")
  )

  /** N-gram-free language ID heuristic: count marker stopwords per
    * language, argmax with fixed tie-break order (en,de,es,fr; 'und'
    * = unknown when no markers hit). Pure column expressions — at
    * scale this runs entirely in the scan stage.
    */
  def langGuess(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val counts = langMarkers.map { case (lang, words) =>
      lang -> size(filter(toks,
        t => array_contains(lit(words.toArray), t)))
    }
    val Seq(en, de, es, fr) = counts.map(_._2)
    val guess =
      when(en + de + es + fr === 0, lit("und"))
        .when(en >= de && en >= es && en >= fr, lit("en"))
        .when(de >= es && de >= fr, lit("de"))
        .when(es >= fr, lit("es"))
        .otherwise(lit("fr"))
    docs.select(
      col("doc_id"),
      col("lang").as("lang_label"),
      counts(0)._2.as("c_en"), counts(1)._2.as("c_de"),
      counts(2)._2.as("c_es"), counts(3)._2.as("c_fr"),
      guess.as("lang_guess")
    )
  }

  /** Content fingerprint: md5 over alnum-normalized lowercase text —
    * whitespace/punctuation-insensitive near-exact dedup key.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(regexp_replace(lower(col("text")), "[^a-z0-9]+", "")
        .cast("binary")).as("fp"),
      substring(
        md5(regexp_replace(lower(col("text")), "[^a-z0-9]+", "")
          .cast("binary")), 1, 8).as("fp_prefix")
    )

  // --- MinHash + LSH near-dup (no SQL oracle; spec-tested) ----------

  val MinhashPerms = 32
  val LshBands     = 8
  val LshRows: Int = MinhashPerms / LshBands

  /** Exact long floor-division (SQL `div`) — nonneg operands here. */
  private def ldivT(a: Column, b: Column): Column =
    call_function("div", a.cast("long"), b.cast("long"))

  /** q20 fixed-point integer power by square-and-multiply: x and the
    * result are probabilities in ⌊p·2²⁰⌋ longs, every square/multiply
    * floors back to q20 — eight unrolled bits cover any exponent
    * ≤ 255 (a 128-band layout is on the default grid), all operands
    * stay ≤ 2⁴⁰, and the identical chain replays in ANSI SQL, so the
    * curve hash-compares bitwise (the pow/exp route would ride libm
    * and differ per engine).
    */
  private val Q20PowBits = 8

  /** One square-and-multiply pass over NAMED `acc`/`pw` columns
    * (projection per bit): a single nested-Column formulation doubles
    * the `acc` subtree per bit (it appears in both `when` branches) —
    * a 2⁸ expression blowup that cost ~13 s of analysis/codegen for a
    * 369-row frame. Named steps keep the tree linear; CollapseProject
    * leaves multiply-referenced non-cheap aliases alone.
    */
  private def q20powSteps(df0: DataFrame, eCol: String): DataFrame = {
    val one = lit(1L << 20)
    var df = df0
    for (bit <- 0 until Q20PowBits) {
      df = df.withColumn("acc",
        when(shiftright(col(eCol).cast("int"), bit) % 2 === 1,
          ldivT(col("acc") * col("pw"), one)).otherwise(col("acc")))
      if (bit < Q20PowBits - 1)
        df = df.withColumn("pw", ldivT(col("pw") * col("pw"), one))
    }
    df
  }

  /** MinHash LSH (bands, rows) tuning frontier — the minhash sibling
    * of `Vector.nprobeRecallCurve`, closing the tuning-loop family:
    * for each candidate layout the full collision-probability curve
    * `p(j) = 1 − (1 − j^r)^b` over a milli-jaccard grid, in the
    * exact q20 convention ([[q20pow]] — engine-bitwise, no libm),
    * plus `s50_milli`, the smallest grid jaccard whose collision
    * probability reaches 1/2 (the analytic `(1/b)^(1/r)` midpoint,
    * located on the grid instead of computed through pow). Read it
    * before picking a layout: bands buy recall left of the midpoint,
    * rows buy precision right of it, b·r is the signature budget.
    * The r7 default [[LshBands]]×[[LshRows]] = 8×4 sits at
    * s50 = 550–600 milli — exactly the ≥ 0.5 near-dup contract
    * `minhashCandidates` enforces.
    *
    * Shape at scale: pure configuration math — #configs × grid rows
    * total; nothing reads the corpus.
    */
  def lshTuningCurve(
      spark: org.apache.spark.sql.SparkSession,
      configs: Seq[(Int, Int)] = Seq(
        (128, 1), (64, 2), (32, 4), (16, 8), (8, 16), (4, 32),
        (16, 2), (16, 4), (8, 4)),
      jStepMilli: Int = 25
  ): DataFrame = {
    require(configs.nonEmpty && configs.forall {
      case (b, r) => b >= 1 && b <= 255 && r >= 1 && r <= 255
    }, "each (bands, rows) must be in [1, 255] (8-bit q20pow)")
    require(1000 % jStepMilli == 0, "grid step must divide 1000")
    import spark.implicits._
    val cfg = configs.toDF("bands", "rows_per_band")
    val grid = spark.range(0, 1001, jStepMilli)
      .select(col("id").as("j_milli"))
    val one = lit(1L << 20)
    val inner = q20powSteps(
      cfg.crossJoin(grid)
        .withColumn("x_q20", ldivT(col("j_milli") * one, lit(1000L)))
        .withColumn("acc", one)
        .withColumn("pw", col("x_q20")),
      "rows_per_band")
    val curve = q20powSteps(
      inner.withColumn("pw", one - col("acc"))
        .withColumn("acc", one),
      "bands")
      .withColumn("p_q20", one - col("acc"))
      .drop("acc", "pw", "x_q20")
    val s50 = curve.groupBy(col("bands"), col("rows_per_band"))
      .agg(min(when(col("p_q20") >= lit(1L << 19), col("j_milli")))
        .as("s50_milli"))
    curve
      .join(broadcast(s50), Seq("bands", "rows_per_band"))
      .select(col("bands"), col("rows_per_band"),
        (col("bands") * col("rows_per_band")).as("sig_size"),
        col("j_milli"), col("p_q20"), col("s50_milli"))
      .orderBy(col("bands"), col("rows_per_band"), col("j_milli"))
  }

  /** Token 3-shingles as strings (docs shorter than 3 tokens get their
    * full token string as a single shingle).
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(text), n)

  /** Shingles from an already-materialized token array column.
    *
    * Callers that feed the result into many downstream expressions
    * (e.g. the 32 minhash permutations) MUST stage `toks`/`sh` as
    * their own projections: lambda-bearing HOFs are excluded from
    * Spark's subexpression elimination, so an inlined shingle tree
    * would be re-evaluated once per consumer — measured 30× slowdown
    * on the near-dup queries.
    */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(
        array_distinct(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ",
            slice(toks, i + 1, lit(n)))
        ))
      )

  /** doc_id + shingle arrays via the one-pass native expression
    * (`graft.functions.TokenShingles` — bit-compatible with the
    * declarative `shinglesFromTokens(tokens(text))` chain, which
    * interprets per window position).
    *
    * Degenerate docs (< 3 tokens) are EXCLUDED, mirroring
    * [[jaccardExactPairs]]' guard: a <n-token doc collapses to a
    * single whole-text shingle, so every empty/identical-short doc
    * shares one MinHash signature and lands in the same bucket on
    * EVERY band — a |short|² hot bucket through any banded join at
    * corpus scale. All downstream oracles already restrict to
    * >= 3-token docs, so the guard also aligns the Spark side with
    * the SQL twins.
    */
  def docShingles(docs: DataFrame): DataFrame =
    docs
      // small single-file inputs arrive as one split; spread the
      // CPU-heavy shingle/hash work across cores (at scale the input
      // is already split and this shuffle is one narrow hash pass)
      .repartition(col("doc_id"))
      .filter(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        graft.functions.tokenShingles(col("text"), 3).as("sh"))

  /** MinHash candidate PRECISION audit — the cost side of the
    * recall/precision ledger ([[minhashRecallAudit]] is the recall
    * side): every banded candidate pair pays an exact verification,
    * so the fraction of candidates that FAIL the gate is wasted
    * verify work, and the decile profile of candidate exact-Jaccard
    * says whether the (bands, rows) layout is spending its
    * collisions near the threshold (good) or on noise (resize the
    * bands — [[lshTuningCurve]] is the theory curve this measures).
    * Per exact-Jaccard decile of the CANDIDATE set: count, share,
    * and the cumulative at-or-above fraction — `precision_at_ppm`
    * at decile d is the measured precision of a d/10 gate over this
    * corpus and layout.
    *
    * Scale shape: the banding self-join (collision-bounded), one
    * set-attach join per side on the candidate ids, an ≤ 11-row
    * decile rollup (the bounded global window of the dedup-curve
    * precedent). Exact twin: the same md5 permutation family as the
    * recall audit, so the DuckDB oracle replays candidates
    * bit-for-bit.
    */
  def minhashPrecisionAudit(
      docs: DataFrame,
      bands: Int = LshBands,
      rows: Int = LshRows,
      precomputedCandidates: Option[DataFrame] = None
  ): DataFrame = {
    require(bands >= 1 && rows >= 1, "need bands >= 1 and rows >= 1")
    val cands = precomputedCandidates
      .getOrElse(md5BandCandidates(docs, bands, rows))
    val sets = docShingles(docs)
      .select(col("doc_id"), array_distinct(col("sh")).as("st"))
    val deciled = cands
      .join(sets.select(col("doc_id").as("doc_a"),
        col("st").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"),
        col("st").as("sb")), "doc_b")
      .select(floor(
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          (size(col("sa")) + size(col("sb")) -
            size(array_intersect(col("sa"), col("sb")))) * 10)
        .cast("int").as("decile"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cands"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("decile").desc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy()
    deciled
      .withColumn("cum_at_or_above", sum(col("n_cands")).over(wDesc))
      .withColumn("total_cands", sum(col("n_cands")).over(wAll))
      .select(col("decile"), col("n_cands"), col("cum_at_or_above"),
        col("total_cands"),
        expr("n_cands * 1000000 div total_cands").as("share_ppm"),
        expr("cum_at_or_above * 1000000 div total_cands")
          .as("precision_at_ppm"))
      .orderBy(col("decile"))
  }

  /** Per-source unigram KL divergence from the corpus — the
    * distribution-shift ledger behind every mixture decision: which
    * sources' token distributions sit far from the blend they feed
    * (high KL: niche jargon/language/boilerplate — reweighting them
    * moves the mixture most; near-zero: interchangeable with the
    * average). `KL(source ‖ corpus) = Σ p_s·ln(p_s/p_c)` computed as
    * `Σ c_s·(ln(c_s·N) − ln(c·n_s)) div n_s` in q20 nats — counts
    * exact, each log taken on the DOUBLE product (no BIGINT overflow
    * at any scale; both engines cast the same integers, so the
    * floored q20 logs hash bitwise), and no smoothing needed because
    * the corpus contains every source token by construction. The
    * per-term floor bias is ≤ vocab·2⁻²⁰ of a nat — documented, not
    * hidden.
    *
    * Scale shape: one (source × token) rollup + a vocab-sized join
    * to the corpus unigram table; output is #sources rows.
    */
  def sourceUnigramKl(docs: DataFrame): DataFrame = {
    def lnq20d(c: Column): Column =
      floor(log(c) * (1L << 20)).cast("long")
    val occ = docs
      .select(col("source"), explode(tokens(col("text"))).as("w"))
    val bySrc = occ.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("cs"))
    val corpus = bySrc.groupBy(col("w"))
      .agg(sum(col("cs")).as("c"))
    val nTot = corpus.agg(sum(col("c")).as("n_corpus"))
    val nSrc = bySrc.groupBy(col("source"))
      .agg(sum(col("cs")).as("n_src"),
        count(lit(1)).as("vocab_src"))
    bySrc
      .join(corpus, "w")
      .join(broadcast(nSrc), "source")
      .crossJoin(broadcast(nTot))
      .select(col("source"), col("n_src"), col("vocab_src"),
        // DECIMAL(38,0) bridge: count × q20-log-diff products exceed
        // BIGINT once sources reach ~10¹² tokens
        (col("cs").cast("decimal(38,0)") *
          (lnq20d(col("cs").cast("double") *
            col("n_corpus").cast("double")) -
            lnq20d(col("c").cast("double") *
              col("n_src").cast("double")))).as("term"))
      .groupBy(col("source"))
      .agg(max(col("n_src")).as("n_tokens"),
        max(col("vocab_src")).as("vocab"),
        sum(col("term")).as("mass"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        expr("""CASE WHEN mass < 0
          | THEN -CAST((-mass) div n_tokens AS BIGINT)
          | ELSE CAST(mass div n_tokens AS BIGINT) END"""
          .stripMargin.replace("\n", "")).as("kl_q20"))
      .orderBy(col("source"))
  }

  /** MinHash signature via the native codegen expression (one string
    * hash + MinhashPerms integer mixes per shingle; the HOF
    * formulation — 32 × array_min(transform(xxhash64)) — re-hashed
    * every shingle per permutation, interpreted).
    */
  def minhashSignature(sh: Column): Column =
    graft.functions.minhash(sh, MinhashPerms)

  /** The LSH band hashes of a MinHash signature — ONE definition of
    * the band layout (`LshBands` × `LshRows`, xxhash64 over the raw
    * longs), shared by every banding consumer: signatures banded by
    * different code must stay bucket-compatible or cross-op
    * candidate joins silently miss.
    */
  private def bandHashes(sig: Column): Column =
    array((0 until LshBands).map { b =>
      xxhash64(lit(b), slice(sig, b * LshRows + 1, LshRows))
    }: _*)

  /** LSH banding: docs → (band_idx, band_hash, doc_id); same-bucket
    * docs are near-dup candidates. Jaccard estimate from full
    * signatures confirms; only candidate pairs are compared (never
    * n²) — the 100 TB-safe shape.
    */
  def minhashCandidates(
      docs: DataFrame,
      threshold: Double = 0.5
  ): DataFrame = {
    // Signatures are tiny (32 longs/doc, ≪ the text) — persisting them
    // is the right call at any scale, and stops the self-join legs
    // from re-running the shingle+hash pipeline.
    val sigs = graft.Caches.track("text", docShingles(docs)
      .select(col("doc_id"), minhashSignature(col("sh")).as("sig")))
    // Band hash = builtin xxhash64 over the sig slice (codegen'd,
    // hashes the longs directly — no per-band string building).
    // ids ONLY through the band self-join (carrying the 32-long sig
    // would push LshBands copies of every signature through the
    // exchange and estimate jaccard once per band collision);
    // candidate pairs dedup first, then each surviving pair fetches
    // its two signatures exactly once — the same ids-first shape as
    // jaccardExactPairs and cosineNearDup. Identical join legs → the
    // band shuffle is computed once and reused (ReusedExchange).
    val banded = sigs.select(
      col("doc_id"),
      posexplode(bandHashes(col("sig"))).as(Seq("band_idx", "band_hash"))
    )
    val cands = banded.as("l").join(banded.as("r"),
        col("l.band_idx") === col("r.band_idx") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(sigs.select(col("doc_id").as("doc_a"),
        col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"),
        col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"),
          (a, b) => a === b), x => x))
          .cast("double") / MinhashPerms).as("jaccard_est"))
      .filter(col("jaccard_est") >= threshold)
  }

  /** MEASURED MinHash-LSH recall audit — the empirical closure of
    * [[lshTuningCurve]]'s analytic frontier: for every exact-Jaccard
    * decile in `truthPairs`, what fraction of the TRUE pairs does a
    * (bands × rows) banded MinHash candidate join actually catch on
    * this corpus. The tuning curve predicts `1−(1−j^r)^b`; this
    * measures it, pair by pair, against ground truth — the audit a
    * dedup owner runs on a corpus SAMPLE before trusting a banding
    * layout at 100 TB (the truth leg is an exact pair join; complete
    * truth at a low threshold is exactly the cost LSH exists to
    * avoid, so the contract is sample-then-extrapolate, like
    * `knnRecall` on the vector side).
    *
    * The signature family here is md5-based — `h_i(s) = md5int(
    * "<i>:<shingle>")`, band hash = md5int of the ':'-joined row
    * minima — NOT the xxhash64 family the production
    * [[minhashCandidates]] path uses, because md5 is the one hash
    * both engines compute bit-identically (`conv(substr(md5(x),1,15),
    * 16,10)` / `('0x'||substr(md5(x),1,15))::BIGINT` — the
    * winnowFingerprint precedent), which is what makes the MEASURED
    * recall oracle-checkable end to end. Both families are uniform
    * hashes, so banded recall is distributionally identical; the
    * layout (bands, rows) is what's under audit, not the mixer.
    *
    * `truthPairs` must be a COMPLETE (doc_a, doc_b, jaccard) pair set
    * at-or-above its own threshold ([[jaccardExactPairs]] rows —
    * callers share the session pair graph). Output: one row per
    * decile `⌊10·jaccard⌋` with exact `n_true`, `n_caught`, and
    * integer `recall_ppm` — all engine-exact.
    *
    * Scale shape: the signature pass is a per-doc map (nPerms md5
    * per shingle, no shuffle); banding is the same ids-only
    * self-join as [[minhashCandidates]]; the decile rollup is
    * domain-bounded (≤ 10 rows). The banded table is tiny
    * (docs × bands) and persists for its two join legs.
    */
  def minhashRecallAudit(
      docs: DataFrame,
      truthPairs: DataFrame,
      bands: Int = LshBands,
      rows: Int = LshRows,
      precomputedCandidates: Option[DataFrame] = None
  ): DataFrame = {
    require(bands >= 1 && rows >= 1, "need bands >= 1 and rows >= 1")
    val cands = precomputedCandidates
      .getOrElse(md5BandCandidates(docs, bands, rows))
    truthPairs
      .withColumn("decile", floor(col("jaccard") * 10).cast("int"))
      .join(cands.withColumn("__hit", lit(1L)),
        Seq("doc_a", "doc_b"), "left")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_caught"))
      .withColumn("recall_ppm",
        expr("n_caught * 1000000 div n_true"))
      .orderBy(col("decile"))
  }

  /** The md5-family banded MinHash candidate pair set the two LSH
    * audits ([[minhashRecallAudit]] / [[minhashPrecisionAudit]])
    * both join against — factored out (r19) so a session running
    * both builds the bands×rows-permutation signature + band self-join
    * once (`precomputedCandidates`). md5 family, NOT the production
    * xxhash64 one: md5 is the hash an external oracle reproduces
    * bit-for-bit.
    */
  private[ops] def md5BandCandidates(
      docs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val nPerms = bands * rows
    def md5Int(c: Column): Column =
      conv(substring(md5(c.cast("binary")), 1, 15), 16, 10)
        .cast("long")
    // per-permutation minima as NAMED columns (the expression-blowup
    // rule: iterative math as flat projections, never nested trees)
    var sig = docShingles(docs)
    for (i <- 0 until nPerms)
      sig = sig.withColumn(s"__m$i",
        array_min(transform(col("sh"),
          s => md5Int(concat(lit(s"$i:"), s)))))
    val banded = graft.Caches.track("text", sig.select(col("doc_id"),
      posexplode(array((0 until bands).map { b =>
        md5Int(concat_ws(":", (0 until rows).map(r =>
          col(s"__m${b * rows + r}").cast("string")): _*))
      }: _*)).as(Seq("band_idx", "band_hash"))))
    banded.as("l").join(banded.as("r"),
        col("l.band_idx") === col("r.band_idx") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
  }

  /** The persisted-signature table the incremental near-dup gate
    * consumes: one row per (>= 3-token) doc with the MinHash
    * signature (`MinhashPerms` longs — what the LSH bands derive
    * from) and the distinct xxhash64'd shingles (what the exact
    * Jaccard verify intersects). This is the artifact a production
    * ingestion pipeline writes ONCE per doc at ingestion time and
    * the gate then reads forever: at 100 TB the seen side is this
    * table — kilobytes per doc instead of the text, and no
    * re-shingling of the corpus per batch. Hash-space Jaccard equals
    * string-space Jaccard absent xxhash64 collisions (the same
    * argument, and the same representation, as [[jaccardExactPairs]];
    * the string-space oracle compare would surface any collision as
    * a value diff).
    */
  def nearDupSignatures(docs: DataFrame): DataFrame =
    docShingles(docs)
      .select(col("doc_id"),
        minhashSignature(col("sh")).as("sig"),
        array_distinct(transform(col("sh"), s => xxhash64(s)))
          .as("sh_hash"))

  /** Incremental NEAR-dup ingestion gate — the LSH companion of
    * [[incrementalDedup]] (which only catches byte-identical text):
    * which docs of an incoming batch near-duplicate the
    * already-ingested corpus. Both sides band their MinHash
    * signatures, buckets join ACROSS sides only — the seen corpus
    * (orders of magnitude bigger than any batch at steady state)
    * never self-joins — and candidates exact-verify with shingle
    * Jaccard. Ids must be disjoint across the two frames (same
    * contract as `incrementalDedup`).
    *
    * This overload takes PRECOMPUTED signature tables
    * ([[nearDupSignatures]] rows, e.g. read back from the parquet a
    * previous ingestion run wrote) — the deployment form: the seen
    * corpus is never re-read, never re-shingled; only its stored
    * signatures join. `TextSpec` proves the stored-signature path is
    * row-identical to the recompute path.
    */
  def incrementalNearDupSigs(
      batchSigs: DataFrame,
      seenSigs: DataFrame,
      threshold: Double = 0.5
  ): DataFrame = {
    def banded(sigs: DataFrame): DataFrame =
      sigs.select(col("doc_id"),
        posexplode(bandHashes(col("sig")))
          .as(Seq("band_idx", "band_hash")))
    val cands = banded(batchSigs).as("b").join(banded(seenSigs).as("s"),
        col("b.band_idx") === col("s.band_idx") &&
          col("b.band_hash") === col("s.band_hash"))
      .select(col("b.doc_id").as("doc_a"), col("s.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(batchSigs.select(col("doc_id").as("doc_a"),
        col("sh_hash").as("sh_a")), "doc_a")
      .join(seenSigs.select(col("doc_id").as("doc_b"),
        col("sh_hash").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Recompute-from-text convenience form of the gate: signs both
    * sides with [[nearDupSignatures]] (each side's signature table is
    * computed once per call — it feeds both the banding leg and the
    * verify join) and delegates to [[incrementalNearDupSigs]], so the
    * two forms cannot diverge. Use the sigs overload in deployment —
    * re-signing the seen corpus per batch is exactly the cost the
    * stored-signature table exists to avoid.
    */
  def incrementalNearDup(
      batch: DataFrame,
      seen: DataFrame,
      threshold: Double = 0.5
  ): DataFrame =
    incrementalNearDupSigs(
      graft.Caches.track("text", nearDupSignatures(batch)),
      graft.Caches.track("text", nearDupSignatures(seen)),
      threshold)

  /** Exact n-gram Jaccard verification over candidate pairs. */
  def ngramJaccard(
      docs: DataFrame,
      candidates: DataFrame
  ): DataFrame = {
    val sh = graft.Caches.track("text", docShingles(docs))
    candidates
      .join(sh.select(col("doc_id").as("doc_a"),
        col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"),
        col("sh").as("sh_b")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))))
          .as("jaccard")
      )
  }

  /** Per-doc SimHash signatures. Default is the md5-based 60-bit
    * variant ([[simhash60]] — oracle-checkable bit for bit, and the
    * same signature `simhashNearDup` bands over); `sqlTwinned =
    * false` switches to the xxhash64-mixed 64-bit signature
    * ([[graft.functions.simhash64]]) — the fastest path when no
    * cross-engine reproducibility is needed.
    */
  def simhashes(docs: DataFrame, sqlTwinned: Boolean = true): DataFrame =
    docs.select(col("doc_id"),
      (if (sqlTwinned)
        graft.functions.simhash60md5(tokens(col("text")))
      else graft.functions.simhash64(tokens(col("text"))))
        .as("simhash"))

  /** BPE-ish pre-tokenizer regex (GPT-2 style word/number/punct
    * splitting, ASCII form): identical semantics under Java regex
    * (Spark) and RE2 (DuckDB), so token counts are oracle-checkable.
    */
  val BpePattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

  /** Token counting two ways: whitespace words and BPE-ish segments
    * (the LLM-pipeline "how many tokens is this corpus" estimator).
    */
  def bpeTokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
        .as("n_bpe_tokens")
    )

  /** Count–min-sketch token frequencies — the fixed-memory
    * frequency-estimate path for corpora where an exact token count
    * table no longer fits: ONE pass builds a (eps, confidence)
    * sketch (Spark's built-in `count_min_sketch` aggregate — merges
    * associatively across partitions), and estimates are read from
    * the collected sketch, which is driver state like any fitted
    * summary (KB–MB for any corpus size, vs a token table that grows
    * with the vocabulary).
    *
    * This VALIDATION form reports the exact-top-`topN` tokens with
    * both exact and estimated counts so the overestimate bound
    * (est ≥ true, est ≤ true + eps·N w.p. `confidence`) is visible
    * and testable; a pure-estimate deployment drops the exact leg.
    * Like `bpeLearnMerges` and the IVF fit, CONSTRUCTION runs the
    * fit jobs (the sketch is driver state); the token table is
    * tracked in the session cache so the two legs share one corpus
    * scan.
    */
  def tokenFrequencySketch(
      docs: DataFrame,
      topN: Int = 30,
      eps: Double = 0.001,
      confidence: Double = 0.99
  ): DataFrame = {
    val spark = docs.sparkSession
    val toks = graft.Caches.track("text",
      docs.select(explode(tokens(col("text"))).as("token")))
    val bytes = toks
      .agg(count_min_sketch(col("token"), lit(eps), lit(confidence),
        lit(42)).as("cms"))
      .head().getAs[Array[Byte]]("cms")
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    // estimate through the token's UTF-8 BYTES: the aggregate hashed
    // raw UTF8String bytes, and a String round-trip would re-encode
    // (malformed sequences → U+FFFD → different cells → the est ≥
    // true invariant silently breaks on non-UTF-8 corpora)
    val exact = toks
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token")).limit(topN)
      .select(col("token"), col("tf"),
        col("token").cast("binary").as("token_bytes"))
      .collect()
    spark.createDataFrame(exact.toSeq.map(r =>
      (r.getString(0), r.getLong(1),
        cms.estimateCount(r.getAs[Array[Byte]]("token_bytes")))))
      .toDF("token", "tf", "tf_est")
  }

  /** Corpus document-frequency stats: token → (docs containing it,
    * total occurrences) — the explode+groupBy shape behind TF-IDF /
    * vocabulary building. One shuffle on the token; at 100 TB add a
    * frequency floor pushdown (HAVING) so the long tail never leaves
    * the reducers, which `minDf` provides.
    */
  def docFrequency(docs: DataFrame, minDf: Long): DataFrame = {
    // corpus size as a LAZY 1-row agg, broadcast onto the result — an
    // eager docs.count() here scheduled an extra driver job at
    // operator-construction time (before any action), and callers
    // that drop idf paid it anyway
    val total = docs.agg(count(lit(1)).as("__total"))
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(
        countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("tf_total"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(total))
      .withColumn("idf",
        log(col("__total").cast("double") / col("df").cast("double")))
      .drop("__total")
  }

  /** Tokenizer-fertility proxy per language — the chars-per-token
    * ratio that decides how a fixed token budget translates into
    * text volume per language (the sampling-weight correction every
    * multilingual mixture needs): per lang, total characters, total
    * whitespace tokens, and the exact milli chars/token ratio. One
    * scan, #langs-row output.
    */
  def compressionRatio(docs: DataFrame): DataFrame =
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("lang"), length(col("text")).cast("long")
        .as("chars"), size(tokens(col("text"))).cast("long")
        .as("toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars"))
        .as("n_chars"), sum(col("toks")).as("n_tokens"))
      .withColumn("chars_per_token_milli",
        expr("n_chars * 1000 div n_tokens"))
      .orderBy(col("lang"))

  /** Vocabulary-coverage curve — what fraction of CORPUS TOKEN MASS
    * the top-k most frequent token types cover, for each budget in
    * `ks`: the measured fact behind choosing a vocab size (the knee
    * of this curve IS the budget where marginal vocab stops paying).
    * Complements [[vocabGrowth]] (how vocabulary accumulates over
    * data) with the static rank-mass view.
    *
    * Shape at scale: one token-frequency rollup (map-side combined),
    * a TakeOrdered head of max(ks) rows, and windows ONLY over that
    * head — bounded by construction; the full vocabulary is never
    * globally sorted. Ties rank by (tf desc, token) so the curve is
    * engine-exact.
    */
  def vocabCoverageCurve(
      docs: DataFrame,
      ks: Seq[Long] = Seq(10L, 100L, 1000L, 10000L)
  ): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1),
      s"ks must be non-empty positive: $ks")
    val freq = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val total = freq.agg(sum(col("tf")).cast("long").as("total_tokens"))
    val ord = Seq(col("tf").desc, col("token"))
    val head = freq
      .orderBy(ord: _*).limit(ks.max.toInt)
    val wRank = org.apache.spark.sql.expressions.Window.orderBy(ord: _*)
    val ranked = head
      .withColumn("rn", row_number().over(wRank))
      .withColumn("cum_tf", sum(col("tf")).over(
        wRank.rowsBetween(org.apache.spark.sql.expressions
          .Window.unboundedPreceding, 0)))
    val ksDf = docs.sparkSession.createDataFrame(
      ks.map(Tuple1(_))).toDF("k")
    ksDf
      .join(ranked, col("rn") <= col("k"))
      .groupBy(col("k"))
      .agg(max(col("rn")).cast("long").as("vocab_used"),
        max(col("cum_tf")).cast("long").as("covered_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("coverage_ppm",
        expr("covered_tokens * 1000000 div total_tokens"))
      .orderBy(col("k"))
  }

  /** Near-dup cluster provenance spread — do duplicate clusters stay
    * WITHIN a source (boilerplate: fix at the source) or span
    * sources/languages (syndication and mirror networks: fix with
    * cross-source dedup)? Consumes the session-shared cluster
    * assignment; per multi-member cluster the distinct source/lang
    * counts, rolled up to one row with exact ppm shares. Cluster
    * frame is components-sized; nothing rescans the corpus.
    */
  def clusterSourceSpread(
      docs: DataFrame,
      clusters: DataFrame
  ): DataFrame = {
    val per = clusters
      .join(docs.select(col("doc_id"), col("source"), col("lang")),
        "doc_id")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"))
      .filter(col("n_members") >= 2)
    per.agg(
        count(lit(1)).as("n_clusters"),
        count(when(col("n_sources") > 1, lit(1)))
          .as("n_multi_source"),
        count(when(col("n_langs") > 1, lit(1))).as("n_multi_lang"))
      .withColumn("multi_source_ppm", expr(
        """CASE WHEN n_clusters = 0 THEN NULL
          | ELSE n_multi_source * 1000000 div n_clusters
          | END""".stripMargin))
      .withColumn("multi_lang_ppm", expr(
        """CASE WHEN n_clusters = 0 THEN NULL
          | ELSE n_multi_lang * 1000000 div n_clusters
          | END""".stripMargin))
  }

  /** Naive-padding waste curve — the number that motivates sequence
    * packing: if every doc were padded/truncated to a fixed context
    * length L, what fraction of the batch is pad and what fraction
    * of real tokens is cut, for each candidate L. One scan of the
    * per-doc token counts cross-joined with the (tiny, literal)
    * length ladder; read beside [[packChunks]] (which removes the
    * waste this op quantifies).
    */
  def paddingWaste(
      docs: DataFrame,
      lens: Seq[Long] = Seq(512L, 1024L, 2048L, 4096L)
  ): DataFrame = {
    require(lens.nonEmpty && lens.forall(_ >= 1),
      s"lens must be non-empty positive: $lens")
    val perDoc = docs
      .select(size(tokens(col("text"))).cast("long").as("n_tok"))
    val lensDf = docs.sparkSession.createDataFrame(
      lens.map(Tuple1(_))).toDF("seq_len")
    perDoc.crossJoin(broadcast(lensDf))
      .groupBy(col("seq_len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("total_tokens"),
        sum(least(col("n_tok"), col("seq_len"))).cast("long")
          .as("kept_tokens"),
        sum(greatest(col("seq_len") - col("n_tok"), lit(0L)))
          .cast("long").as("pad_tokens"),
        sum(greatest(col("n_tok") - col("seq_len"), lit(0L)))
          .cast("long").as("truncated_tokens"))
      .withColumn("padding_ppm",
        expr("pad_tokens * 1000000 div (n_docs * seq_len)"))
      .withColumn("truncated_ppm", expr(
        """CASE WHEN total_tokens = 0 THEN NULL
          | ELSE truncated_tokens * 1000000 div total_tokens
          | END""".stripMargin))
      .orderBy(col("seq_len"))
  }

  /** Heaps-law vocabulary-growth audit — the curve that says whether
    * more data still buys new words (natural corpora grow vocabulary
    * ∝ tokensᵝ, β≈0.5; a template farm flattens immediately; OCR
    * noise never flattens): non-empty docs split into `nBuckets`
    * equal ranks in doc_id order, and per bucket the token volume
    * plus the count of tokens whose FIRST occurrence (min doc_id)
    * falls there — cumulative columns give the (tokens seen, vocab
    * seen) curve.
    *
    * Shape at scale: token first-occurrences are one explode +
    * min-aggregation (map-side combined); the doc-rank decile cut is
    * derived from [[Layout.exactKeyQuantiles]] boundary doc_ids
    * (two bounded passes, no global window — the r10 global
    * `row_number` was this operator's one scale-killer), and
    * everything after is nBuckets-sized.
    *
    * Exactness of the boundary form (doc_id unique): with rn the
    * 1-based doc_id rank and ub_b the doc_id at rank
    * ceil((b+1)·nd/nB), `ub_b < doc_id(rn)` ⟺ `(b+1)·nd ≤ (rn-1)·nB`
    * ⟺ `b+1 ≤ (rn-1)·nB div nd`, so
    * `#{b : ub_b < doc_id} = (rn-1)·nB div nd` — exactly the window
    * form's bucket. The DuckDB oracle keeps the ROW_NUMBER form, so
    * the driver's hash-compare re-proves the identity every sweep.
    */
  def vocabGrowth(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val ne = docs.filter(length(trim(col("text"))) > 0)
    // exactKeyQuantiles scans its input 4× (stats + histogram + two
    // pass-2 legs); feed it a truncated doc_id-only frame so those
    // scans hit an 8-byte/row cached projection instead of
    // re-reading + re-trimming the text column each time
    val ids = graft.Caches.lazySnapshot("text",
      ne.select(col("doc_id")))
    // nBuckets boundary doc_ids → one sorted array in a 1-row frame,
    // broadcast onto the doc scan; bucket = #{boundaries < doc_id}
    val barr = Layout
      .exactKeyQuantiles(ids, "doc_id", nBuckets)
      .agg(sort_array(collect_list(col("upper_bound"))).as("bs"))
    val ranked = ne.select(col("doc_id"), tokens(col("text"))
        .as("toks"))
      .crossJoin(broadcast(barr))
      .withColumn("bucket",
        expr("size(filter(bs, x -> x < doc_id))").cast("long"))
    val perDoc = ranked.select(col("doc_id"), col("bucket"),
      size(col("toks")).cast("long").as("n_toks"))
    val firstOcc = ranked
      .select(col("bucket"), col("doc_id"),
        explode(col("toks")).as("token"))
      .groupBy(col("token"))
      .agg(min(struct(col("doc_id"), col("bucket"))).as("f"))
      .groupBy(col("f.bucket").as("bucket"))
      .agg(count(lit(1)).as("new_vocab"))
    val wb = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    perDoc.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks"))
        .as("n_tokens"))
      .join(firstOcc, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_vocab"), lit(0L)).as("new_vocab"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wb))
      .withColumn("cum_vocab", sum(col("new_vocab")).over(wb))
      .orderBy(col("bucket"))
  }

  /** Corpus-derived stopword discovery — the data-driven replacement
    * for a hand-curated stopword list (quality ratios, BM25 pruning,
    * and shingle filters all consume one): tokens whose document
    * ratio reaches `minDfPpm` (df·10⁶ div N ≥ threshold, exact
    * integer ppm), annotated with the cumulative share of the TOTAL
    * corpus token mass the list covers when consumed in
    * (df desc, token) order — the number that tells you "the top 12
    * stopwords are 38% of every scan".
    *
    * Shape at scale: one explode+groupBy shuffle (the
    * [[docFrequency]] shape, map-side combined); the ppm filter cuts
    * to the candidate head BEFORE the cumulative window, and the
    * candidate count is structurally ≤ 10⁶/minDfPpm · (tokens per
    * doc) — a threshold-bounded constant, so the unpartitioned
    * cumulative window orders dozens of rows, never the vocabulary.
    */
  def stopwordDiscovery(docs: DataFrame, minDfPpm: Long): DataFrame = {
    require(minDfPpm >= 1 && minDfPpm <= 1000000,
      s"minDfPpm must be in [1, 1e6], got $minDfPpm")
    val ne = docs.filter(length(trim(col("text"))) > 0)
    val totals = ne
      .select(explode(tokens(col("text"))).as("t"))
      .agg(count(lit(1)).as("corpus_tf"))
      .crossJoin(ne.agg(count(lit(1)).as("n_docs")))
    val stats = ne
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("tf_total"))
    stats.crossJoin(broadcast(totals))
      .withColumn("df_ppm", expr("df * 1000000 div n_docs"))
      .filter(col("df_ppm") >= minDfPpm)
      .withColumn("cum_mass_ppm",
        expr("sum(tf_total) over (order by df desc, token " +
          "rows between unbounded preceding and current row) " +
          "* 1000000 div corpus_tf"))
      .select(col("token"), col("df"), col("df_ppm"), col("tf_total"),
        col("n_docs"), col("corpus_tf"), col("cum_mass_ppm"))
      .orderBy(col("df").desc, col("token"))
  }

  /** BM25 postings skeleton for a literal query: one row per
    * (matching doc, query term) with the exact integer statistics
    * the score needs — tf, doc length, per-term df, corpus size and
    * total length. Split out so the retrieval stack has a fully
    * hash-comparable stage (every column integral — `q_text_bm25`),
    * with the transcendental idf confined to [[bm25TopK]] (the
    * `unigramScore`/`docFrequency` ln-split convention).
    *
    * Shape at scale: the explode is filtered to the query's terms
    * BEFORE the aggregation, so the shuffle carries only matching
    * (doc, term) pairs — |terms| is query-sized, df comes from the
    * aggregated postings (never a second corpus pass), and the
    * corpus totals are a 1-row broadcast.
    */
  def bm25Postings(docs: DataFrame, queryTokens: Seq[String]): DataFrame = {
    require(queryTokens.nonEmpty, "bm25: empty query")
    val totals = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text")))).as("total_len"))
    val post = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("token"))
      .filter(col("token").isin(queryTokens: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfs = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
    post
      .join(broadcast(dfs), "token")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("token"), col("tf"), col("dl"),
        col("df"), col("n_docs"), col("total_len"))
  }

  /** BM25 ranked lexical retrieval (Robertson/Okapi, Lucene's
    * non-negative `ln(1 + (N-df+0.5)/(df+0.5))` idf): top-k docs for
    * a literal query — the lexical sibling of `Vector.bruteForceTopK`
    * and the first stage of a hybrid lexical+vector stack.
    *
    * Per-doc score sums term scores in TOKEN order (sorted struct
    * fold), so the double accumulation is partition-order-safe and
    * bitwise reproducible — TextSpec pins it against an in-memory
    * reference; the integer skeleton is oracle-checked via
    * [[bm25Postings]]. Top-k is TakeOrdered, never a global sort.
    */
  def bm25TopK(
      docs: DataFrame,
      queryTokens: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame =
    bm25Postings(docs, queryTokens)
      .select(col("doc_id"), col("token"),
        (log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * (col("dl").cast("double") * col("n_docs") /
              col("total_len"))))).as("term_score"))
      .groupBy(col("doc_id"))
      .agg(
        aggregate(
          sort_array(collect_list(
            struct(col("token").as("t"), col("term_score").as("s")))),
          lit(0.0),
          (acc, x) => acc + x.getField("s")).as("score"),
        count(lit(1)).as("n_matched"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** Oracle-comparable fixed-point twin of [[bm25TopK]]: each term
    * score is floored to q20 fixed point (`floor(s * 2^20)`, the
    * `unigramScore` ln-split convention) BEFORE the per-doc sum, so
    * the doc score is an exact integer — order-free summation,
    * engine-independent ties (exact duplicate docs tie exactly in
    * every engine), and a bit-exact ANSI SQL twin. Ranking agrees
    * with the double-score ranking except for docs whose scores
    * differ by < 2^-20 × |query| (TextSpec pins agreement on the
    * fixture); serving uses [[bm25TopK]], audits use this.
    */
  def bm25TopKQ20(
      docs: DataFrame,
      queryTokens: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    val q20 = (1L << 20).toDouble
    bm25Postings(docs, queryTokens)
      .select(col("doc_id"),
        floor((log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * (col("dl").cast("double") * col("n_docs") /
              col("total_len"))))) * q20).cast("long").as("ts_q20"))
      .groupBy(col("doc_id"))
      .agg(sum(col("ts_q20")).as("score_q20"),
        count(lit(1)).as("n_matched"))
      .orderBy(col("score_q20").desc, col("doc_id"))
      .limit(k)
  }

  /** End-to-end curation pipeline — the composed LLM-training-data
    * path: language filter → quality gate → exact dedup (lowest
    * doc_id survives) → per-language token budget accounting. Every
    * stage is one of the individually-oracle-checked operators; this
    * query checks their composition.
    */
  def curationPipeline(docs: DataFrame): DataFrame = {
    val quality = qualityScore(docs)
      .select(col("doc_id"), col("quality"))
    val kept = docs
      .join(quality, "doc_id")
      .filter(col("lang").isin("en", "de") && col("quality") > 0.3)
    val deduped = exactDedup(kept)
    deduped
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text")))).as("n_tokens"),
        // power-of-2 fixed-point sum: quality values are often dyadic
        // rationals (0.40625 = 13/32) that land exactly on decimal
        // rounding boundaries where engines' rounding rules (half-up
        // vs half-even) disagree; floor(x * 2^16) is exact and
        // rule-free on both sides
        sum(floor(col("quality") * 65536).cast("long"))
          .as("sum_quality_q16"))
      .orderBy(col("lang"))
  }

  /** Rolling-hash (Rabin–Karp, 32-byte windows) winnowing fingerprint
    * per document + its duplicate-group size — content-defined
    * near-exact dedup key via the native codegen expression.
    */
  def rollingFingerprint(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("doc_id"),
      graft.functions.rollingMin(col("text"), 32).as("roll_fp"))
    val groups = fp.groupBy(col("roll_fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
    fp.join(groups, "roll_fp")
      .select(col("doc_id"), col("roll_fp"), col("n_docs"),
        col("keep_doc_id"))
  }

  /** Winnowing fingerprint with an exact SQL twin — same
    * content-defined dedup-key semantics as [[rollingFingerprint]]
    * (min window hash + duplicate-group stats), but the window hash
    * is md5-based ([[graft.functions.Md5WinnowMin]]) so any ANSI
    * engine reproduces it bit for bit. Keep the O(n) Rabin–Karp form
    * for production scale; this twin makes the capability
    * oracle-checkable.
    */
  def winnowFingerprint(docs: DataFrame, window: Int = 32): DataFrame = {
    // fp cached: the group join reads it twice, and the per-window
    // md5 pass is the expensive leg; spread an under-split corpus
    // first (same gate as simhashNearDup)
    val parallelism =
      docs.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (docs.rdd.getNumPartitions * 2 >= parallelism) docs
      else docs.repartition(col("doc_id"))
    val fp = graft.Caches.track("text", spread.select(col("doc_id"),
      graft.functions.md5WinnowMin(col("text"), window).as("win_fp")))
    val groups = fp.groupBy(col("win_fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
    fp.join(groups, "win_fp")
      .select(col("doc_id"), col("win_fp"), col("n_docs"),
        col("keep_doc_id"))
  }

  /** EXACT 3-gram shingle Jaccard pairs at-or-above `threshold` —
    * the exact twin of the MinHash pipeline's similarity space
    * (sequence-sensitive word 3-grams, so "same vocabulary, different
    * document" template pairs score low and only true near-copies
    * match) — via prefix filtering (the PPJoin family's lossless
    * pruning): order each doc's distinct shingles by global rarity
    * (df asc, shingle asc — one canonical total order), and join docs
    * only on their first `n - ceil(t·n) + 1` shingles. Any pair with
    * Jaccard ≥ t must share a prefix element under a common total
    * order, so the pruning loses nothing — the DuckDB oracle computes
    * the unpruned inverted-index join and the driver compare proves
    * losslessness on real data.
    *
    * Scale shape: one df aggregation, one shingle-keyed candidate
    * join that only explodes PREFIXES (rare shingles — the df
    * ordering pushes hot shingles into suffixes, so the join key is
    * skew-resistant by construction), candidate dedup, then one
    * verify join per side to fetch shingle sets for the exact
    * intersection. No n² anywhere.
    *
    * Everything past the shingle projection runs on xxhash64'd
    * shingles (8-byte keys through the df agg, the canonical sort,
    * the candidate join, and the set intersection — far cheaper than
    * ~25-char strings). Distinct-set Jaccard is hash-invariant absent
    * collisions, and the string-space oracle compare would surface
    * any collision as a value mismatch.
    */
  /** Shared rare-first ordered shingle table: (doc_id, n, toks_ord)
    * with toks_ord sorted by ascending corpus df (ties by hash) — the
    * canonical representation every prefix-filter consumer
    * ([[jaccardExactPairs]], [[containmentPairs]]) derives its prefix
    * from. Split out so one session builds it ONCE and feeds every
    * threshold/predicate variant; the per-consumer `plen` is a cheap
    * map-side column over this table, but the shingle transform, the
    * df aggregation, and the canonical sort (the expensive shuffles)
    * are threshold-independent.
    */
  /* Shuffle-width note (r17 adjudication of the pair-cache
   * "memory-phase wall"): explicit `repartition(p, key)` widening of
   * the heavy exchanges below was IMPLEMENTED AND MEASURED HARMFUL —
   * a user repartition sits BEFORE the aggregation, so the exchange
   * ships the raw exploded rows (9.7M candidate rows at k=20) that
   * the planner's partial aggregate would otherwise collapse
   * map-side (to ~10k) before its own exchange, and AQE cannot
   * coalesce a user-pinned width. In-JVM A/B at k=20 (same process,
   * alternating widths): candidate dedup 3.1–4.9 s at planner width
   * vs 18.5–19.9 s at width 196; the df/collect_list aggs regress
   * the same way. The declarative plan already has the right shape —
   * partial-agg before every exchange — and the committed
   * superlinear k10→k20 cells trace to single-process JVM aging
   * (ascending-k runs age the heap into the k20 cells) plus host
   * noise, not to plan shape; see SURVEY §6 and SCALEBENCH_r17's
   * per-k fresh-JVM cells.
   */
  def orderedShingles(docs: DataFrame): DataFrame =
    orderedShinglesW(docs, 3)

  /** [[orderedShingles]] at an arbitrary shingle WIDTH — the knob
    * [[shingleWidthCurve]] sweeps. */
  def orderedShinglesW(docs: DataFrame, w: Int): DataFrame = {
    require(w >= 1, s"shingle width must be positive, got $w")
    // shingles staged behind two Project barriers: `tokens` (a split)
    // must not get inlined into the per-element lambda (lambda HOF
    // bodies are excluded from subexpression elimination). The
    // repartition spreads the single-row-group testdata scan before
    // the expensive per-row shingle transform (at scale the scan
    // arrives pre-split and AQE can elide the exchange). Persisted:
    // the df agg and the ordering both re-read it, and unpersisted
    // legs re-run the whole shingle transform per leg.
    val toks = graft.Caches.track("text", docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("raw_toks"),
        col("text"))
      .filter(size(col("raw_toks")) >= w)
      .select(col("doc_id"),
        // one-pass codegen shingling (bit-compatible with the
        // concat_ws HOF chain) + per-element hash; distinct again on
        // the hashes because distinct strings may collide
        array_distinct(transform(
          graft.functions.tokenShingles(col("text"), w),
          s => xxhash64(s))).as("toks")))
    val df_ = toks
      .select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // canonical rare-first token order per doc: sort (df, tok) structs
    toks
      .select(col("doc_id"), size(col("toks")).as("n"),
        explode(col("toks")).as("tok"))
      .join(df_, "tok")
      .groupBy(col("doc_id"), col("n"))
      .agg(array_sort(collect_list(struct(col("df"), col("tok"))))
        .as("ord"))
      .select(col("doc_id"), col("n"),
        transform(col("ord"), _.getField("tok")).as("toks_ord"))
  }

  def jaccardExactPairs(docs: DataFrame, threshold: Double): DataFrame =
    jaccardPairsOverOrdered(
      graft.Caches.track("text", orderedShingles(docs)), threshold)

  /** Near-dup threshold tuning curve — what a dedup owner looks at
    * BEFORE picking the Jaccard cutoff: the pair count per similarity
    * decile at-or-above `baseThreshold`, with the cumulative
    * pairs-removed-if-cut-here column (descending cumsum). Decile =
    * ⌊jaccard·10⌋ on the exact inter/union double, so the bucketing
    * is engine-identical. Costs one [[jaccardExactPairs]] pass at the
    * LOWEST threshold under consideration (candidates are complete
    * down to `baseThreshold` by the prefix-filter guarantee); the
    * curve itself is a ≤6-row aggregation + window.
    */
  def dedupThresholdCurve(
      docs: DataFrame, baseThreshold: Double = 0.5): DataFrame =
    jaccardExactPairs(docs, baseThreshold)
      .withColumn("bucket", floor(col("jaccard") * 10).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("pairs_at_or_above",
        sum(col("n_pairs")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("bucket").desc)
            .rowsBetween(
              org.apache.spark.sql.expressions.Window
                .unboundedPreceding, 0)))
      .orderBy(col("bucket"))

  /** [[jaccardExactPairs]] over a prebuilt (ideally persisted)
    * [[orderedShingles]] table — the form a session computing several
    * pair predicates should call, so the shingle/sort shuffles
    * amortize across consumers.
    */
  def jaccardPairsOverOrdered(
      orderedShingleTable: DataFrame,
      threshold: Double
  ): DataFrame = {
    // the ordered-shingle table feeds four plan legs (two prefix
    // self-join sides + two verify set fetches) — callers persist it
    // so the shuffle-heavy ordering chain materializes once
    val cand = ppjoinCandidates(orderedShingleTable, Nil, threshold)
    val sets = orderedShingleTable
      .select(col("doc_id"), col("n"), col("toks_ord"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("n").as("na"),
        col("toks_ord").as("ta")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("n").as("nb"),
        col("toks_ord").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ta"), col("tb"))).as("inter"),
        col("na"), col("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** PPJoin candidate pairs `(keys…, doc_a, doc_b)`, `doc_a < doc_b`,
    * deduplicated, over an ordered-shingle table (`doc_id`, `n`,
    * `toks_ord` plus the `keys` columns): docs sharing a prefix token
    * under the same `keys` that pass the length and position filters.
    * Every filter is a necessary condition for jaccard ≥ `threshold`,
    * so no qualifying pair is lost; callers verify the survivors.
    */
  private def ppjoinCandidates(ordered: DataFrame, keys: Seq[String],
      threshold: Double): DataFrame = {
    // the prefix length is the threshold-derived view of the table
    val orderedC = ordered
      .withColumn("plen",
        (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int"))
    // candidates: ids only through the join; token arrays re-attached
    // after dedup so wide rows never multiply across candidate pairs.
    // The set size rides along for the PPJoin LENGTH filter below —
    // jaccard ≥ t forces min(na,nb) ≥ t·max(na,nb) (inter ≤ min,
    // union ≥ max), so size-incompatible candidates are dropped at
    // the join, before dedup and before any array_intersect runs
    // (measured at sf0.1: 409k → 310k candidates; a necessary
    // condition, so lossless by the same argument as the prefix)
    val prefix = orderedC.select(keys.map(col) ++ Seq(col("doc_id"),
      col("n"), posexplode(slice(col("toks_ord"), lit(1), col("plen")))
        .as(Seq("p", "tok"))): _*)
    // PPJoin POSITION filter (r18 optimization, Xiao et al.; lossless
    // like the prefix and length filters): a shared prefix token at
    // 0-based positions (pa, pb) bounds the overlap by
    // `1 + min(na − pa − 1, nb − pb − 1)` for the pair's EARLIEST
    // common token (everything common sits at-or-after it in the
    // shared global rare-first order), and jaccard ≥ t needs overlap
    // ≥ ceil(t/(1+t)·(na+nb)). Instances failing the bound drop at
    // the join; a qualifying pair always keeps its earliest-common-
    // token instance, so the post-dedup pair set is unchanged —
    // only junk pairs whose every shared prefix token is late die
    // before the dedup exchange and the wide verify fetch (measured
    // at w = 2 / t = 0.5: 12.76 M candidate instances → 5.49 M
    // distinct pairs before; the filter kills most junk instances).
    // r19 (ADVICE): compare the integer overlap bound to the
    // UN-CEILED double — `bound >= a` is implied by the exact
    // requirement `bound >= ceil(a)` so it keeps a (possibly empty)
    // superset of candidates, where `ceil` on a double that rounded
    // up just past an exact integer could overtighten by 1 and drop
    // a threshold-boundary pair before verification
    val a = (lit(threshold) / (lit(1.0) + threshold)) *
      (col("a.n") + col("b.n")).cast("double")
    prefix.as("a").join(prefix.as("b"), keys :+ "tok")
      .filter(col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n"), col("b.n")).cast("double") >=
          lit(threshold) * greatest(col("a.n"), col("b.n")) &&
        (lit(1) + least(col("a.n") - col("a.p") - 1,
          col("b.n") - col("b.p") - 1)).cast("double") >= a)
      .select(keys.map(col) ++ Seq(col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b")): _*)
      .dropDuplicates(keys ++ Seq("doc_a", "doc_b"))
  }

  /** Connected components over a near-duplicate pair graph: each doc
    * gets the minimum doc_id reachable through pair edges as its
    * cluster id — the step that turns pairwise dedup into dedup
    * GROUPS (keep one doc per cluster, not one per pair).
    *
    * Graphs that fit one task ([[SingleTask.fits]] on the
    * materialized edge count) route to the zero-iteration
    * [[dupClustersPartitioned]] union-find under a constant key —
    * identical fixpoint, one edge shuffle, no checkpoints (r19).
    * Larger graphs run iterative min-label propagation: label(v) ←
    * min(label(v), min over neighbors u of label(u)) until fixpoint
    * — O(diameter) rounds, each one hash join + one agg on the edge
    * key. Each round
    * is truncated to a checkpoint (reliable `checkpoint()` when
    * `checkpointDir` is given — the cluster-grade path that survives
    * executor loss; `localCheckpoint` otherwise), materialized by ONE
    * count job that doubles as the convergence test, and the
    * superseded round's blocks are released immediately — an
    * iterative operator that leaks its history is a memory bug in any
    * long-lived service. Dedup graphs have tiny diameters, so rounds
    * stay single-digit at any scale (the large-star/small-star
    * variant halves rounds if they don't). The fixpoint is unique, so
    * the result is deterministic however the rounds are scheduled.
    *
    * Lifecycle notes for long-lived services:
    *  - the returned frame is backed by the converged snapshot through
    *    a TRUNCATED lineage. After `Caches.release(cacheFamily)` it is
    *    UNRECOVERABLE — unlike other released caches (which
    *    transparently recompute), any retained reference throws on its
    *    next action. Consume or copy the result before releasing.
    *  - `checkpointDir` sets the SparkContext-GLOBAL checkpoint dir
    *    (Spark has no per-job setting); concurrent jobs in one session
    *    should share one dir. Superseded rounds' checkpoint FILES are
    *    deleted as they are replaced; the final round's files go with
    *    the family release.
    */
  def dupClusters(
      docs: DataFrame,
      pairs: DataFrame,
      maxIter: Int = 64,
      checkpointDir: Option[String] = None,
      cacheFamily: String = "text"
  ): DataFrame = {
    val spark = docs.sparkSession
    // Single-task route: connected components are ONE union-find pass
    // over a single co-group ([[dupClustersPartitioned]] under a
    // constant key — the same unique min-reachable-id fixpoint,
    // differentially pinned). The pair set is persisted + registered
    // under `cacheFamily` BEFORE counting, so the probe's
    // materialization is reused by whichever path runs. The result
    // is an EAGER snapshot, like the iterative loop's per-round
    // truncation: the assignment is consumed through anti-joins and
    // unions by capstones that compose many more operators on top,
    // and a lazy return glues the union-find subtree into every
    // downstream action's analysis + execution (measured 12.5 s
    // memo-warm prepare_semantic vs ~5 s truncated).
    val p = graft.Caches.track(cacheFamily,
      pairs.select(col("doc_a"), col("doc_b")))
    if (SingleTask.fits(p.count()))
      return graft.Caches.eagerSnapshot(cacheFamily,
        dupClustersPartitioned(docs, p.withColumn("part", lit(0L))))
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    val debug = sys.env.contains("GRAFT_DEBUG")
    var tMark = System.nanoTime()
    def mark(label: String): Unit = if (debug) {
      val now = System.nanoTime()
      System.err.println(
        f"[dupClusters] $label%-18s ${(now - tMark) / 1e9}%7.2fs")
      tMark = now
    }
    // Lazy in both modes so the convergence count below is the ONE
    // job that materializes a round.
    def snapshot(df: DataFrame): DataFrame = {
      val snapped =
        if (checkpointDir.isDefined) df.checkpoint(eager = false)
        else df.localCheckpoint(eager = false)
      // a reliable checkpoint recomputes its lineage for the file
      // write unless the RDD is also cached — persist it like the
      // local path (localCheckpoint marks MEMORY_AND_DISK itself)
      if (checkpointDir.isDefined)
        Bridge.leafRdd(snapped)
          .foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
      // drop the checkpoint leaf's inherited stats: with the
      // pointer-jump's double reference the carried sizeInBytes
      // estimate SQUARES per round and Catalyst's BigInt stats walk
      // goes exponential (see Bridge.statsResetLeaf)
      Bridge.statsResetLeaf(snapped)
    }
    def releaseSnapshot(df: DataFrame): Unit =
      Bridge.leafRdd(df).foreach { r =>
        r.unpersist(blocking = false)
        // reliable checkpoints also leave FILES in checkpointDir that
        // unpersist never touches — a long-lived service would leak
        // disk per call; delete the superseded round's files (local
        // checkpoints return no file and skip this)
        r.getCheckpointFile.foreach { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(path, true)
        }
      }
    val edges = p
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"),
        col("doc_a").as("dst")))
      .persist()
    // iterate over the GRAPH ONLY: docs touching no pair are
    // singletons by definition and are appended once at the end —
    // at 100 TB the near-dup graph is orders of magnitude smaller
    // than the corpus, so the loop's joins never see the full table
    var labels = snapshot(edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster")))
    mark("setup")
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val nbrMin = edges
        .join(labels, edges("src") === labels("doc_id"))
        .groupBy(col("dst")).agg(min(col("cluster")).as("nbr_min"))
      // the round's labels carry a `changed` flag so a single count
      // both materializes the snapshot and decides convergence — the
      // previous separate isEmpty action re-joined next against
      // labels, paying two extra scheduled jobs per round in a
      // latency-bound loop
      val prop = labels
        .join(nbrMin, labels("doc_id") === nbrMin("dst"), "left")
        .select(labels("doc_id"),
          least(labels("cluster"),
            coalesce(col("nbr_min"), labels("cluster"))).as("cluster"),
          coalesce(col("nbr_min") < labels("cluster"), lit(false))
            .as("p_changed"))
      // POINTER-JUMP the propagated labels: cluster ← cluster(cluster)
      // (valid because cluster values are always graph-node ids, so
      // the lookup never misses; the min only ever decreases). Plain
      // min-propagation needs ~diameter rounds — r11's ScaleBench
      // k=10 corpus grew a giant τ-tail component whose diameter blew
      // the 20-round cap. With the jump, the known-min's reach
      // roughly doubles per round, so rounds scale with log(diameter)
      // — path-halving, the standard distributed-CC acceleration —
      // for one extra label-sized self-join per round.
      val jmp = prop.select(col("doc_id").as("c_id"),
        col("cluster").as("c_cluster"))
      val next = snapshot(prop
        .join(jmp, prop("cluster") === jmp("c_id"), "left")
        .select(prop("doc_id"),
          coalesce(col("c_cluster"), prop("cluster")).as("cluster"),
          (col("p_changed") ||
            coalesce(col("c_cluster") < prop("cluster"), lit(false)))
            .as("changed")))
      converged = next.filter(col("changed")).count() == 0L
      mark(s"round $it count")
      if (debug) System.err.println("[dupClusters] plan nodes=" +
        next.queryExecution.logical.collectLeaves().size)
      // the superseded round's checkpoint blocks are released as soon
      // as the successor is materialized — left alone they pile up
      // until GC-driven ContextCleaner cleanup (r3's dominant bench
      // pathology)
      releaseSnapshot(labels)
      mark(s"round $it release")
      labels = next
      it += 1
    }
    edges.unpersist(blocking = false)
    // a truncated iteration would return silently-wrong clusters —
    // fail loudly instead. With the pointer-jump, rounds scale with
    // log(diameter) (measured: a 2,000-node path converges in 11
    // rounds where plain propagation needs 2,000; the k=10 ScaleBench
    // giant tail component — 50k nodes — in 34), so the 64-round
    // default covers ~1.5^64 ≈ 10^11-node components with slack;
    // real dedup graphs converge in single digits
    require(converged,
      s"dupClusters did not converge within $maxIter rounds")
    // the converged snapshot backs the returned frame through a
    // TRUNCATED lineage (it cannot be recomputed once released) —
    // register its release with the family, like every other shared
    // intermediate, instead of leaking it
    val finalSnap = labels
    graft.Caches.trackReleasable(cacheFamily)(
      () => releaseSnapshot(finalSnap))
    mark("post-loop")
    // singletons (no incident pair) re-enter as their own cluster —
    // one anti-join against the converged graph labels
    docs.select(col("doc_id"))
      .join(finalSnap.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster"))
      .union(finalSnap.select(col("doc_id"), col("cluster")))
  }

  /** Connected components of a PARTITION-CONFINED pair graph — the
    * zero-iteration sibling of [[dupClusters]] for graphs whose
    * edges provably never cross a partition key. The SemDeDup
    * within-list pair graphs are the canonical case:
    * [[graft.ops.Vector.semanticNearDupPairsAssigned]] only ever
    * joins `l.list_id === r.list_id`, so every component lives
    * inside ONE list and a global fixpoint iteration is pure
    * overhead. Where the general loop pays O(log diameter) rounds of
    * graph-sized joins + checkpoint materializations + convergence
    * counts, this is ONE hash-partition shuffle of the edge list on
    * the partition key and a per-group union-find (path-halving +
    * union-by-min-id, O(E·α(E)) local work, α the inverse
    * Ackermann). Per-group memory is O(nodes in the partition) —
    * bounded by the partitioner granularity, the same bound that
    * makes the Σ|list|² pair build viable at all — so the operator
    * scales exactly where the pair build does.
    *
    * Union-by-min keeps each tree's root equal to the minimum id
    * seen in its component (merging roots ra < rb attaches rb under
    * ra; min(min_A, min_B) is the smaller root), so the emitted
    * (doc_id, min reachable id) assignment is the SAME unique
    * fixpoint [[dupClusters]] converges to — bitwise identical on
    * any partition-confined graph, independent of edge order
    * (DupClustersSpec pins this differentially).
    *
    * `pairsWithPart` carries `(doc_a, doc_b, part)` with BOTH
    * endpoints belonging to `part` — callers attach the key with an
    * id-keyed join against their assignment (linear in the pair set,
    * which is orders of magnitude smaller than the corpus) and MUST
    * establish confinement before calling (a cross-partition edge
    * here would silently split a component;
    * [[graft.ops.Vector.semanticDedupAssigned]] CHECKS it with one
    * tiny aggregate over the attached keys and routes unconfined
    * graphs to [[dupClusters]] instead).
    *
    * Returns `(doc_id, cluster)` over ALL of `docs` — graph nodes
    * get their component's min id, non-graph docs themselves (the
    * [[dupClusters]] contract).
    */
  def dupClustersPartitioned(
      docs: DataFrame,
      pairsWithPart: DataFrame
  ): DataFrame = {
    val spark = pairsWithPart.sparkSession
    import spark.implicits._
    // graph nodes only: (doc_id, min reachable id) per `part` group
    val comps = pairsWithPart
      .select(col("part").cast("long").as("_1"),
        col("doc_a").cast("long").as("_2"),
        col("doc_b").cast("long").as("_3"))
      .as[(Long, Long, Long)]
      .groupByKey { case (part, _, _) => part }
      .flatMapGroups { (_, it) =>
        // local union-find: path-halving find, union by min root
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x0: Long): Long = {
          var x = x0
          var p = parent(x)
          while (p != x) {
            val gp = parent(p)
            parent.update(x, gp)
            x = gp
            p = parent(x)
          }
          x
        }
        it.foreach { case (_, a, b) =>
          if (!parent.contains(a)) parent.update(a, a)
          if (!parent.contains(b)) parent.update(b, b)
          val ra = find(a)
          val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent.update(rb, ra)
            else parent.update(ra, rb)
          }
        }
        // materialize keys before the final finds (path-halving
        // mutates the map; LongMap iteration during mutation is
        // undefined)
        val nodes = parent.keys.toArray
        nodes.iterator.map(n => (n, find(n)))
      }
      .toDF("doc_id", "cluster")
    docs.select(col("doc_id"))
      .join(comps.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster"))
      .union(comps)
  }

  /** Survivor selection over near-duplicate clusters — the policy
    * step between clustering and dedup: real pipelines keep the BEST
    * copy per cluster (highest quality score), not an arbitrary one.
    * Input is the (doc_id, cluster) assignment from `dupClusters`;
    * output is one row per cluster with the winning doc (max
    * `qualityScore`, ties to the lowest doc_id), the member count,
    * and how many copies dedup drops.
    *
    * Shape at scale: quality is per-row scan math joined to the
    * assignment on doc_id, then ONE max-struct aggregation per
    * cluster (map-side partial; the negated doc_id inside the
    * ordering struct makes the double-then-id comparison a single
    * lexicographic max — no window, no second pass).
    */
  def dupClusterSurvivors(
      docs: DataFrame,
      clusters: DataFrame
  ): DataFrame = {
    val quality = qualityScore(docs)
      .select(col("doc_id"), col("quality"))
    clusters
      .join(quality, "doc_id")
      .groupBy(col("cluster"))
      .agg(
        // struct-valued max aggregates via SortAggregate (struct
        // buffers aren't hash-aggregable) — still the right shape:
        // one narrow (cluster, quality, id) exchange with map-side
        // partial combine; a max-then-join-back alternative would
        // shuffle the assignment twice because the per-cluster best
        // table is corpus-sized under singleton clusters, never
        // broadcastable
        max(struct(col("quality"), (-col("doc_id")).as("neg_id")))
          .as("__best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"),
        (-col("__best.neg_id")).cast("long").as("survivor_doc_id"),
        col("__best.quality").as("best_quality"),
        col("n_members"),
        (col("n_members") - 1).as("n_dropped"))
  }

  /** Per-source dedup TOKEN ledger — dedup impact in the unit that
    * prices a training run (docs are free, tokens are not): join the
    * near-dup component assignment's min-id keep rule onto per-doc
    * token counts and roll up per source — total vs surviving docs
    * and tokens, and the dropped-token share in ppm. The table that
    * says WHOSE corpus share was duplicate mass (a source can lose
    * 2% of docs but 30% of tokens when its duplicates are the long
    * ones) — the budgeting companion to [[Text.shardDedupLoss]]'s
    * global-vs-sharded question and q_text_dedup_impact's corpus
    * view.
    *
    * Scale shape: one scan for token counts (map-side), one id-keyed
    * join against the (already computed, session-shared) cluster
    * assignment, a #sources-sized rollup. The dropped-token ppm
    * shift is DECIMAL(38,0)/HUGEINT-bridged (per-source token sums
    * cross BIGINT×10⁶ at ~9e12 tokens).
    */
  def sourceDedupTokens(
      docs: DataFrame,
      clusters: DataFrame
  ): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .join(clusters.select(col("doc_id"), col("cluster")), "doc_id")
      .withColumn("keep", col("doc_id") === col("cluster"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("keep"), col("n_toks")).otherwise(0L))
          .as("kept_tokens"))
      .withColumn("dropped_tokens_ppm",
        when(col("n_tokens") > 0, expr(
          """CAST(CAST(n_tokens - kept_tokens AS DECIMAL(38,0))
            | * 1000000 div n_tokens AS BIGINT)""".stripMargin
            .replace("\n", "")))
          .otherwise(lit(0L)))
      .orderBy(col("source"))

  /** SOFT dedup ledger — instead of dropping duplicates, keep every
    * document at weight `1/cluster_size` (each duplicate cluster
    * contributes exactly one document's worth of probability mass to
    * the training mixture). The alternative to [[sourceDedupTokens]]'s
    * hard min-id keep rule: soft dedup preserves within-cluster
    * diversity (every near-dup variant stays samplable) while
    * removing the frequency bias that makes duplicated text
    * over-trained. Emits, per source: the hard-dedup surviving tokens
    * next to the soft-dedup EFFECTIVE tokens
    * `Σ_docs ⌊n_toks·2²⁰ / cluster_size⌋` (q20 fixed point — exact
    * integer arithmetic, engine-identical), the soft share of raw
    * token mass in ppm, and the q20 delta `soft − hard·2²⁰` — positive
    * where a source's documents sit in clusters whose min-id survivor
    * lives in ANOTHER source (hard dedup charges the loss to this
    * source; soft dedup refunds its fractional share).
    *
    * Scale shape: cluster sizes via one count-window over the
    * (session-shared) assignment — a single shuffle on the cluster
    * key — then one id-keyed join onto per-doc token counts and a
    * #sources-sized rollup; the corpus is scanned once. Per-doc
    * weights are ⌊·⌋ in DECIMAL(38,0) (HUGEINT in the twin) so the
    * q20 products never overflow; the emitted q20 sums ride the
    * BIGINT envelope (exact to ~8.8e12 raw tokens per source).
    */
  def softDedupWeights(
      docs: DataFrame,
      clusters: DataFrame
  ): DataFrame = {
    val sized = clusters
      .select(col("doc_id"), col("cluster"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
    docs
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .join(sized, "doc_id")
      .withColumn("w_q20", expr(
        """CAST(CAST(n_toks AS DECIMAL(38,0)) * 1048576
          | div cluster_size AS BIGINT)""".stripMargin
          .replace("\n", "")))
      .withColumn("keep", col("doc_id") === col("cluster"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("keep"), col("n_toks")).otherwise(0L))
          .as("hard_tokens"),
        sum(col("w_q20")).as("soft_tokens_q20"))
      .withColumn("soft_share_ppm",
        when(col("n_tokens") > 0, expr(
          """CAST(CAST(soft_tokens_q20 AS DECIMAL(38,0)) * 1000000
            | div (CAST(n_tokens AS DECIMAL(38,0)) * 1048576)
            | AS BIGINT)""".stripMargin.replace("\n", " ")))
          .otherwise(lit(0L)))
      .withColumn("soft_minus_hard_q20",
        expr("""CAST(CAST(soft_tokens_q20 AS DECIMAL(38,0))
          | - CAST(hard_tokens AS DECIMAL(38,0)) * 1048576
          | AS BIGINT)""".stripMargin.replace("\n", " ")))
      .orderBy(col("source"))
  }

  /** Bloom-filter pre-dedup false-positive audit: replay the
    * streaming test-then-insert exact-dedup gate (the memory-bounded
    * alternative to a full seen-hash table at 100 TB ingest) and
    * count the documents a Bloom filter of `mBits`/`kHashes` would
    * WRONGLY flag as already-seen. The replay is order-exact without
    * any sequential fold: the bit a position occupies is set by the
    * MINIMUM doc_id hashing to it, so "every bit already set when
    * doc d arrives" ⟺ every one of d's positions has
    * `first_setter < d` — two hash-keyed aggregations replace the
    * stream. False positives are flagged-but-not-true-dups (true
    * dups by exact text hash, same min-id rule); `fpr_ppm` is
    * measured over the non-duplicate population, the rate that
    * prices LOST unique documents at a given memory budget.
    *
    * Positions are `draw60(text ⊕ ':bloomᵢ') mod mBits` — the
    * engine's md5 draw primitive, token-identical in the twin.
    * Scale shape: one explode to k·n (position, doc) rows, one
    * min-aggregate on position, one join back on position, one
    * per-doc rollup — all narrow hash-keyed exchanges.
    */
  /** The `(doc_id, pos)` Bloom position rows shared by the batch
    * FPR replay and the streaming gate — k md5 draws per doc, mod
    * the bit width. */
  private[graft] def bloomPositions(
      docs: DataFrame,
      mBits: Int,
      kHashes: Int
  ): DataFrame =
    docs.select(col("doc_id"), col("text"),
        explode(lit((0 until kHashes).toArray)).as("i"))
      .select(col("doc_id"),
        pmod(draw60(concat(col("text"), lit(":bloom"),
          col("i").cast("string"))), lit(mBits.toLong)).as("pos"))

  def bloomDedupFpr(
      docs: DataFrame,
      mBits: Int = 4096,
      kHashes: Int = 3
  ): DataFrame = {
    require(mBits >= 2 && kHashes >= 1, "mBits/kHashes positive")
    val p = bloomPositions(docs, mBits, kHashes)
    val first = p.groupBy(col("pos"))
      .agg(min(col("doc_id")).as("first_id"))
    val flagged = p.join(first, "pos")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("first_id") < col("doc_id"), 1L)
          .otherwise(0L)).as("hits"),
        count(lit(1)).as("k_rows"))
      .select(col("doc_id"),
        (col("hits") === col("k_rows")).cast("long").as("flagged"))
    val dupw = Window.partitionBy(md5(col("text")))
    val dups = docs.select(col("doc_id"),
      (min(col("doc_id")).over(dupw) < col("doc_id")).cast("long")
        .as("true_dup"))
    flagged.join(dups, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("flagged")).as("n_flagged"),
        sum(col("true_dup")).as("n_true_dups"),
        sum(when(col("flagged") === 1 && col("true_dup") === 0, 1L)
          .otherwise(0L)).as("n_false_pos"))
      .select(lit(mBits.toLong).as("m_bits"),
        lit(kHashes.toLong).as("k_hashes"),
        col("n_docs"), col("n_flagged"), col("n_true_dups"),
        col("n_false_pos"),
        when(col("n_docs") - col("n_true_dups") > 0, expr(
          """CAST(CAST(n_false_pos AS DECIMAL(38,0)) * 1000000
            | div (n_docs - n_true_dups) AS BIGINT)""".stripMargin
            .replace("\n", "")))
          .otherwise(lit(0L)).as("fpr_ppm"))
  }

  /** Differentially-private corpus statistics with ENGINE-REPLAYABLE
    * noise: per-source document counts released through the standard
    * Laplace mechanism (sensitivity 1), with the Laplace draw
    * generated as the difference of two exponentials over hashed
    * uniforms — `X = (ln u₁ − ln u₂)/ε`, `uᵢ = (draw60(source ⊕
    * saltᵢ)+1)/2⁶⁰` — so the "random" release is a deterministic
    * function both engines compute bitwise-identically (the
    * [[coresetSample]] ln-of-draw precedent). This is the mechanism
    * a data-clearing workflow needs when corpus composition tables
    * leave the trust boundary; the deterministic seed is what makes
    * the release AUDITABLE after the fact. Noisy counts are clamped
    * at zero (post-processing preserves DP); `abs_err` is emitted so
    * the utility of the chosen ε is read off the same table.
    *
    * Scale shape: one #sources-sized aggregate; the noise is
    * per-GROUP arithmetic, no per-row work at all.
    */
  def dpNoisyCounts(
      docs: DataFrame,
      epsilon: Double = 1.0
  ): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    val scale = lit(1L << 60).cast("double")
    def u(salt: String) =
      (draw60(concat(col("source"), lit(salt))) + 1).cast("double") /
        scale
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("noise",
        floor((log(u(":dp1")) - log(u(":dp2"))) / lit(epsilon))
          .cast("long"))
      .select(col("source"), col("n_docs"),
        greatest(lit(0L), col("n_docs") + col("noise"))
          .as("noisy_count"))
      .withColumn("abs_err",
        abs(col("noisy_count") - col("n_docs")))
      .orderBy(col("source"))
  }

  /** Shingle-WIDTH sensitivity of the exact near-dup pair engine —
    * the other dedup knob next to the threshold
    * (q_text_dedup_curve sweeps τ at fixed w; this sweeps w at
    * fixed τ): short shingles make near-dup detection aggressive
    * (any vocabulary overlap counts), long shingles demand verbatim
    * phrase reuse. Per candidate width: eligible docs (≥ w tokens),
    * pair count at the threshold, distinct documents touched by any
    * pair, and the mean pair Jaccard (per-pair q20 floors summed as
    * integers — order-free). Read before fixing the shingle width
    * of a 100 TB dedup pass: a pair count still falling steeply at
    * the chosen w means the dedup verdict is a parameter artifact.
    *
    * Cost shape (r18 optimization): the widths are independent
    * similarity spaces — there is no shared candidate set — but
    * their PIPELINES fuse: one width-TAGGED pass computes every
    * width's shingle array in a single corpus scan (in-row explode
    * of per-width structs), one (w, tok)-keyed df aggregate + one
    * ordering collect serve all widths, and one (w, tok) prefix
    * self-join + one verify fetch replace the per-width join
    * machinery (the w key keeps the spaces disjoint — identical
    * pairs per width). The old per-width loop re-ran the shingle +
    * df + ordering chain and its joins three times (honest in-bench
    * cost 13.4–15.5 s at sf0.1; fused ~5 s, same rows).
    */
  def shingleWidthCurve(
      docs: DataFrame,
      widths: Seq[Int] = Seq(2, 3, 5),
      threshold: Double = 0.5
  ): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ >= 1),
      "widths must be positive")
    val ws = widths.sorted
    // per-width shingle hash arrays in ONE tokenize pass (the
    // orderedShinglesW transform, width-tagged in-row)
    val perW = graft.Caches.track("text", docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("text"),
        size(tokens(col("text"))).as("n_raw"))
      .select(col("doc_id"), col("n_raw"),
        explode(array(ws.map(w => struct(lit(w).as("w"),
          array_distinct(transform(
            graft.functions.tokenShingles(col("text"), w),
            s => xxhash64(s))).as("toks"))): _*)).as("sh"))
      .filter(col("n_raw") >= col("sh.w"))
      .select(col("doc_id"), col("sh.w").as("w"),
        col("sh.toks").as("toks")))
    val tokw = perW.select(col("doc_id"), col("w"),
      size(col("toks")).as("n"), explode(col("toks")).as("tok"))
    val df_ = tokw.groupBy(col("w"), col("tok"))
      .agg(count(lit(1)).as("df"))
    // canonical rare-first order per (doc, w) — the orderedShinglesW
    // (df, tok) struct sort, per width
    val ord = graft.Caches.track("text", tokw
      .join(df_, Seq("w", "tok"))
      .groupBy(col("doc_id"), col("w"), col("n"))
      .agg(array_sort(collect_list(struct(col("df"), col("tok"))))
        .as("o"))
      .select(col("doc_id"), col("w"), col("n"),
        transform(col("o"), _.getField("tok")).as("toks_ord")))
    // keyed by w so widths never mix
    val cand = ppjoinCandidates(ord, Seq("w"), threshold)
    val sets = ord.select(col("w"), col("doc_id"), col("n"),
      col("toks_ord"))
    val pairs = graft.Caches.track("text", cand
      .join(sets.select(col("w"), col("doc_id").as("doc_a"),
        col("n").as("na"), col("toks_ord").as("ta")),
        Seq("w", "doc_a"))
      .join(sets.select(col("w"), col("doc_id").as("doc_b"),
        col("n").as("nb"), col("toks_ord").as("tb")),
        Seq("w", "doc_b"))
      .select(col("w"), col("doc_a"), col("doc_b"),
        size(array_intersect(col("ta"), col("tb"))).as("inter"),
        col("na"), col("nb"))
      .select(col("w"), col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold))
    // per-width result rows off a guaranteed width spine (a width
    // with zero eligible docs or zero pairs still emits its row,
    // matching the old per-width aggregate-without-groupBy shape)
    val spine = docs.agg(count(lit(1)).as("__i"))
      .select(explode(array(ws.map(w => lit(w)): _*)).as("w"))
    val eligible = perW.groupBy(col("w"))
      .agg(count(lit(1)).as("n_eligible"))
    val pairAggW = pairs.groupBy(col("w")).agg(
      count(lit(1)).as("n_pairs"),
      coalesce(sum(floor(col("jaccard") * lit(1048576.0))
        .cast("long")), lit(0L)).as("sum_j_q20"))
    val touchedW = pairs
      .select(col("w"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("docs_in_pairs"))
    spine
      .join(eligible, Seq("w"), "left")
      .join(pairAggW, Seq("w"), "left")
      .join(touchedW, Seq("w"), "left")
      .select(col("w").cast("long").as("shingle_w"),
        coalesce(col("n_eligible"), lit(0L)).as("n_eligible"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("docs_in_pairs"), lit(0L)).as("docs_in_pairs"),
        when(coalesce(col("n_pairs"), lit(0L)) > 0,
          expr("CAST(sum_j_q20 div n_pairs AS BIGINT)"))
          .otherwise(lit(0L)).as("mean_jaccard_q20"))
      .orderBy(col("shingle_w"))
  }

  /** Cross-MODALITY dedup agreement — the exact contingency between
    * the surface-form pair graph (shingle Jaccard) and the semantic
    * pair graph (embedding cosine) over the same corpus (doc_id ≡
    * vec_id, the registry's cross-modal convention): how many
    * near-dup pairs do the two similarity spaces agree on, and how
    * much does each catch that the other misses? `semantic_only` is
    * the value SemDeDup adds beyond shingle dedup (paraphrases,
    * translations, re-renderings); `text_only` is what embedding
    * dedup under-weights (verbatim reuse inside otherwise-different
    * documents); `overlap_ppm` is the Jaccard of the two pair SETS.
    * The table to read before paying for BOTH passes at 100 TB.
    *
    * Scale shape: both inputs are session-shared candidate-sized
    * pair artifacts in canonical (a < b) orientation; the audit is
    * one equi-join plus three tiny aggregates — the corpora are
    * never touched.
    */
  def dupModalityAgreement(
      textPairs: DataFrame,
      semanticPairs: DataFrame
  ): DataFrame = {
    val t = textPairs.select(col("doc_a"), col("doc_b"))
    val v = semanticPairs.select(col("vec_a").as("doc_a"),
      col("vec_b").as("doc_b"))
    val nb = t.join(v, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_both"))
    val nt = t.agg(count(lit(1)).as("n_text"))
    val nv = v.agg(count(lit(1)).as("n_semantic"))
    nt.crossJoin(broadcast(nv)).crossJoin(broadcast(nb))
      .select(col("n_text"), col("n_semantic"), col("n_both"),
        (col("n_text") - col("n_both")).as("text_only"),
        (col("n_semantic") - col("n_both")).as("semantic_only"),
        when(col("n_text") + col("n_semantic") - col("n_both") > 0,
          expr("""CAST(CAST(n_both AS DECIMAL(38,0)) * 1000000
            | div (n_text + n_semantic - n_both) AS BIGINT)"""
            .stripMargin.replace("\n", "")))
          .otherwise(lit(0L)).as("overlap_ppm"))
  }

  /** Transitivity audit of the near-dup pair graph — the evidence
    * behind using connected components as dedup clusters: similarity
    * is NOT transitive (jac(a,b) ≥ t ∧ jac(b,c) ≥ t does not imply
    * jac(a,c) ≥ t), so every open wedge in the pair graph is a
    * document pair the component-based dedup treats as duplicates
    * WITHOUT direct evidence. A high closure rate says components ≈
    * cliques and min-id dedup is safe; a low one says clusters are
    * chains gluing dissimilar documents and a survivor-per-component
    * policy is over-merging. One row: edge, wedge, closed-wedge
    * counts and the closure rate in ppm (= the graph's global
    * clustering coefficient over the threshold graph).
    *
    * Scale shape: one self-join of the (session-shared, sparse)
    * pair list on the wedge center (Σ_b deg(b)² — candidate-graph
    * sized, never corpus²), one hash-lookup join back into the pair
    * list for closure. Absence from the pair list IS the `< t`
    * verdict (the pair engine emits every pair ≥ t), so no cosine
    * or Jaccard is recomputed.
    */
  def dupTransitivity(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("doc_a"), col("doc_b"))
    val sym = p.unionByName(
      p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val wedges = sym.as("e1")
      .join(sym.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .filter(col("e1.doc_a") < col("e2.doc_b"))
      .select(col("e1.doc_a").as("wa"), col("e2.doc_b").as("wc"))
    val closed = wedges
      .join(p.select(col("doc_a").as("wa"), col("doc_b").as("wc"),
        lit(1L).as("hit")), Seq("wa", "wc"), "left")
    val ne = p.agg(count(lit(1)).as("n_edges"))
    closed.agg(
        count(lit(1)).as("n_wedges"),
        coalesce(sum(col("hit")), lit(0L)).as("n_closed"))
      .crossJoin(broadcast(ne))
      .select(col("n_edges"), col("n_wedges"), col("n_closed"),
        when(col("n_wedges") > 0, expr(
          """CAST(CAST(n_closed AS DECIMAL(38,0)) * 1000000
            | div n_wedges AS BIGINT)""".stripMargin
            .replace("\n", "")))
          .otherwise(lit(0L)).as("closure_ppm"))
  }

  /** TF-WEIGHTED Jaccard over the candidate pair graph: for each
    * near-dup candidate, `Σ_tok min(tf_a, tf_b) / Σ_tok max(tf_a,
    * tf_b)` on token MULTISETS — the similarity that distinguishes
    * "same vocabulary, different emphasis" (set Jaccard high,
    * weighted low) from true near-duplication, and the measure
    * boilerplate-heavy corpora need because binary shingle overlap
    * saturates on templated text. Exact integers throughout: the
    * union mass closes from totals (`Σmax = len_a + len_b − Σmin`),
    * so only SHARED tokens ever join.
    *
    * Scale shape: candidates come from the session pair graph
    * (banded/prefix-filtered — never all-pairs); the intersection
    * join is doc-keyed (pair × tf on doc_a, then equi on (doc_b,
    * tok)), volume bounded by Σ_pairs |doc_a| tokens; lengths are a
    * map-side scan. No token-keyed shuffle of the corpus.
    */
  def weightedJaccard(
      docs: DataFrame,
      pairs: DataFrame
  ): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val len = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_toks"))
    val inter = pairs.select(col("doc_a"), col("doc_b"))
      .join(tf.select(col("doc_id").as("doc_a"), col("tok"),
        col("tf").as("fa")), Seq("doc_a"))
      .join(tf.select(col("doc_id").as("doc_b"), col("tok"),
        col("tf").as("fb")), Seq("doc_b", "tok"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("fa"), col("fb"))).as("inter_tf"))
    pairs.select(col("doc_a"), col("doc_b"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(len.select(col("doc_id").as("doc_a"),
        col("n_toks").as("la")), Seq("doc_a"))
      .join(len.select(col("doc_id").as("doc_b"),
        col("n_toks").as("lb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("inter_tf"), lit(0L)).as("inter_tf"),
        (col("la") + col("lb") - coalesce(col("inter_tf"), lit(0L)))
          .as("union_tf"))
      .withColumn("weighted_jaccard_ppm",
        when(col("union_tf") > 0, expr(
          """CAST(CAST(inter_tf AS DECIMAL(38,0)) * 1000000
            | div union_tf AS BIGINT)""".stripMargin
            .replace("\n", "")))
          .otherwise(lit(0L)))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Cells of the seqPatterns dense triple-support array (16 MiB). */
  private val denseTripleCells = 2097152L

  /** Sequential pattern mining, GSP-style (Srikant & Agrawal): all
    * length-3 token patterns `a‥b‥c` (order matters, gaps allowed)
    * contained in at least `minSupportPpm` of the corpus's documents
    * — the sequence-structure analog of q_basket_triples' co-occur
    * mining, and the primitive behind template/boilerplate discovery
    * at the sub-document level (a high-support ordered triple IS a
    * scaffold the corpus keeps reusing even when exact n-grams
    * differ).
    *
    * Algorithm = Apriori on sequences: frequent singletons F1 (the
    * only tokens that can appear in any frequent pattern), frequent
    * gap-allowed pairs F2 over F1×F1 (containment via per-doc
    * min/max positions: `a‥b ⊆ doc ⟺ maxpos(b) > minpos(a)` — also
    * correct for a = b, where it demands two occurrences), candidate
    * triples C3 = F2 ⋈ F2 on the shared middle token, then GREEDY
    * containment (earliest-first matching is optimal for
    * subsequences): `t2 = min pos(b) > minpos(a)`, contained iff
    * `maxpos(c) > t2`. Supports are exact document counts; the
    * threshold is `⌈n_docs·ppm/10⁶⌉` in both engines.
    *
    * Scale shape: every join is doc-keyed (the per-doc min/max table
    * co-partitions with the positions table, exchanges reused); the
    * frequent sets F1/F2/C3 are vocab-sized and BROADCAST — the
    * corpus never shuffles on a token key. Worst-case per-doc work
    * is |F1|² pair checks + |C3∩doc| triple checks — the Apriori
    * prune is what keeps |C3| ≪ |F1|³.
    *
    * r19 dense-count gate (the bfsDepths/bpeLearnMerges discipline):
    * |F1| = K is vocab-bounded (sup ≥ θ·n ⇒ K ≤ L̄/θ at ANY corpus
    * size), so when K³ fits a dense array of 2²¹ longs (off when
    * [[SingleTask.maxRows]] is ≤ 0) the whole triple-support table
    * is accumulated in ONE mapPartitions pass over the doc-grouped
    * positions frame — per doc, per ordered (a,b) pair with
    * `mx(b) > mn(a)`, the qualifying third tokens are exactly the
    * prefix of the doc's tokens sorted by mx descending with
    * `mx(c) > t2`. That replaces the exploded ~Σ_d|F2∩d|·|C3 succ|
    * triple stream (38.5 M interpreted higher-order-function rows at
    * sf0.1, measured 38–62 s) with plain JVM array increments
    * (measured ~4 s). Identical rows: the F2/C3 Apriori restriction
    * is subsumed by the final `support ≥ th` filter — triple support
    * is monotone (doc contains a‥b‥c ⇒ it contains a‥b, and
    * mx(c) > t2 ≥ some pos(b) ≥ mn(b) ⇒ it contains b‥c) — and each
    * (doc, a, b, c) combination is visited exactly once (one row per
    * (doc, tok) in the positions table). Above the cap the broadcast
    * Apriori pipeline below remains the cluster-grade path.
    */
  def seqPatterns(
      docs: DataFrame,
      minSupportPpm: Long = 350000L
  ): DataFrame = {
    require(minSupportPpm >= 1 && minSupportPpm <= 1000000,
      s"minSupportPpm in [1, 1000000], got $minSupportPpm")
    val nd = docs.agg(count(lit(1)).as("n_docs"))
      .withColumn("th", expr(
        s"""CAST((n_docs * $minSupportPpm + 999999) div 1000000
           | AS BIGINT)""".stripMargin.replace("\n", "")))
    val tk = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
    // ONE corpus shuffle (r18 optimization, guide §2.4): every
    // downstream leg — the pair self-join, the greedy-t2 lookup, the
    // triple check — is keyed by doc_id, so the positions table is
    // hash-partitioned by doc_id ONCE and persisted; the per-doc
    // stats table inherits that partitioning (subset-key clustering
    // satisfies the (doc_id, tok) aggregate), and the two doc-keyed
    // self-joins below then plan with ZERO additional exchanges.
    // The old shape re-keyed the corpus four more times (pair join ×2,
    // the tk positions leg, the (doc, ta, tb) t2 aggregate — measured
    // 8.6 s at sf0.1; this shape 4.4 s, same rows).
    // `ps` carries each (doc, tok)'s position list (mean length
    // ≈ 2.3 on this corpus shape: token repeats per doc are rare), so
    // the greedy t2 = min pos(b) > minpos(a) is an in-row array scan
    // instead of a corpus-wide join + 2.3M-row re-aggregate.
    val mm = graft.Caches.track("text", tk
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(min(col("pos")).as("mn"), max(col("pos")).as("mx"),
        collect_list(col("pos")).as("ps")))
    // r19 (guide §2.3 — narrower types through the fan-out): F1 is
    // vocab-bounded (sup ≥ θ·n ⇒ |F1| ≤ L̄/θ), so dictionary-encode
    // it once — every downstream frame (the 2.3 M-row pair table,
    // the 38 M-row triple stream, the final aggregate's grouping
    // key) then carries 4-byte ints instead of token strings, and
    // the hot hash-aggregate probes int triples. Strings come back
    // via three broadcast dictionary joins on the support-filtered
    // result (≤ |F1|³ rows).
    val f1 = mm.groupBy(col("tok"))
      .agg(count(lit(1)).as("sup"))
      .crossJoin(broadcast(nd))
      .filter(col("sup") >= col("th"))
      .select(col("tok"))
    val f1i = f1.select(col("tok"),
      (row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("tok"))) - 1).as("tid"))
    val mmF = mm.join(broadcast(f1i), "tok")
      .select(col("doc_id"), col("tid"), col("mn"), col("mx"),
        col("ps"))
    // shared tail: dictionary-decode the support-filtered int triples
    // (≤ |F1|³ rows) and attach the ppm share — identical for both
    // routes below
    def decode(sup: DataFrame): DataFrame = sup
      .join(broadcast(f1i.select(col("tid").as("ta"),
        col("tok").as("tok_a"))), "ta")
      .join(broadcast(f1i.select(col("tid").as("tb"),
        col("tok").as("tok_b"))), "tb")
      .join(broadcast(f1i.select(col("tid").as("tc"),
        col("tok").as("tok_c"))), "tc")
      .select(col("tok_a"), col("tok_b"),
        col("tok_c"), col("support"),
        when(col("n_docs") > 0, expr(
          """CAST(CAST(support AS DECIMAL(38,0)) * 1000000
            | div n_docs AS BIGINT)""".stripMargin.replace("\n", "")))
          .otherwise(lit(0L)).as("support_ppm"))
      .orderBy(col("support").desc, col("tok_a"), col("tok_b"),
        col("tok_c"))
    // r19 dense-count gate (see docstring): K³ longs fit one task
    // buffer ⇒ accumulate every triple's support in-row over the
    // doc-grouped frame (mm is session-persisted, so the gate's
    // count() job reuses the one corpus pass the scoring needs
    // anyway; the grouping adds NO exchange — mm is already
    // hash-partitioned by doc_id)
    lazy val k = f1.count()
    if (SingleTask.fits(k) && k > 0 && k <= 1290 &&
        k * k * k <= denseTripleCells) {
      val kk = k.toInt
      val spark = docs.sparkSession
      import spark.implicits._
      val perDoc = mmF.groupBy(col("doc_id"))
        .agg(collect_list(struct(col("tid").as("_1"),
          col("mn").as("_2"), col("mx").as("_3"),
          col("ps").as("_4"))).as("toks"))
        .select(col("toks"))
        .as[Seq[(Int, Int, Int, Seq[Int])]]
      val tripleCounts = perDoc.mapPartitions { docsIt =>
        val counts = new Array[Long](kk * kk * kk)
        docsIt.foreach { toks =>
          val m = toks.length
          val tid = new Array[Int](m)
          val mn = new Array[Int](m)
          val mx = new Array[Int](m)
          val ps = new Array[Array[Int]](m)
          var i = 0
          toks.foreach { t =>
            tid(i) = t._1; mn(i) = t._2; mx(i) = t._3
            ps(i) = t._4.toArray; i += 1
          }
          // tokens sorted by mx DESC: the qualifying third tokens
          // of any (a,b) — mx(c) > t2 — are a prefix of this order
          val ord = Array.range(0, m).sortBy(j => -mx(j))
          var ai = 0
          while (ai < m) {
            val mnA = mn(ai)
            var bi = 0
            while (bi < m) {
              if (mx(bi) > mnA) {
                // greedy t2 = min pos(b) > mn(a); exists because
                // mx(b) > mn(a)
                var t2 = Int.MaxValue
                val pb = ps(bi)
                var j = 0
                while (j < pb.length) {
                  val p = pb(j)
                  if (p > mnA && p < t2) t2 = p
                  j += 1
                }
                val base = (tid(ai) * kk + tid(bi)) * kk
                var oi = 0
                while (oi < m && mx(ord(oi)) > t2) {
                  counts(base + tid(ord(oi))) += 1L
                  oi += 1
                }
              }
              bi += 1
            }
            ai += 1
          }
        }
        Iterator.range(0, counts.length)
          .filter(counts(_) != 0L)
          .map(idx => (idx.toLong, counts(idx)))
      }.toDF("k", "cnt")
      val sup = tripleCounts
        .groupBy(col("k"))
        .agg(sum(col("cnt")).as("support"))
        .crossJoin(broadcast(nd))
        .filter(col("support") >= col("th"))
        .select(
          expr(s"CAST(k div ${kk.toLong * kk} AS INT)").as("ta"),
          expr(s"CAST(pmod(k div $kk, $kk) AS INT)").as("tb"),
          expr(s"CAST(pmod(k, $kk) AS INT)").as("tc"),
          col("support"), col("n_docs"))
      return decode(sup)
    }
    // pair containment (a‥b ⊆ doc ⟺ maxpos(b) > minpos(a)) AND the
    // greedy second-element timestamp t2 = min pos(b) > minpos(a) in
    // one co-partitioned self-join pass; t2 is non-null exactly when
    // the containment filter passed (mx(b) > mn(a) ⇒ some position
    // qualifies), so this one frame feeds both the F2 support count
    // and (filtered to F2) the triple scan below.
    val p2 = mmF.as("a").join(mmF.as("b"), Seq("doc_id"))
      .filter(col("b.mx") > col("a.mn"))
      .select(col("doc_id"), col("a.tid").as("ta"),
        col("b.tid").as("tb"),
        array_min(filter(col("b.ps"),
          p => p > col("a.mn"))).as("t2"))
    // F2 feeds THREE plan legs (the t2 scan and both sides of the
    // C3 self-join); untracked, each leg re-derives the full
    // pair-support lineage — measured 35 s → ~10 s at sf0.1.
    // Vocab-sized (≤ L²/θ rows, corpus-size independent).
    val f2 = graft.Caches.track("text", p2
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("sup"))
      .crossJoin(broadcast(nd))
      .filter(col("sup") >= col("th"))
      .select(col("ta"), col("tb")))
    val ab2 = p2.join(broadcast(f2), Seq("ta", "tb"))
      .select(col("doc_id"), col("ta"), col("tb"), col("t2"))
    // r19 (guide §2.4/§3.3 — explode AFTER the join, not before):
    // the old triple scan joined ab2 against the doc's full F1 row
    // set (|F2∩doc| × |F1∩doc| rows — the 52 M-row fan-out VERDICT
    // r18 flagged) and only then applied the C3 Apriori filter. C3
    // is vocab-sized and already broadcast, so invert it: group C3
    // by its (ta, tb) prefix into a successor array, broadcast THAT
    // onto ab2, and explode only the successors that pass the
    // greedy-containment check `mx(tc) > t2` — resolved in-row
    // against a per-doc tok→mx map (doc-keyed over the same one
    // corpus partitioning; mmF is already clustered by doc_id, so
    // neither new frame adds an exchange). Row-for-row identical to
    // the old join: C3 is unique per (ta,tb,tc) (f2 ⋈ f2 on unique
    // keys), mmF has one row per (doc, tok), and element_at misses
    // (tc ∉ doc) evaluate null > t2 = false, matching the old inner
    // join dropping them.
    val c3g = f2.as("x")
      .join(f2.as("y"), col("x.tb") === col("y.ta"))
      .groupBy(col("x.ta").as("ta"), col("x.tb").as("tb"))
      .agg(collect_list(col("y.tb")).as("tcs"))
    val docMx = mmF.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(
        struct(col("tid"), col("mx")))).as("mxm"))
    val t3 = ab2
      .join(docMx, Seq("doc_id"))
      .join(broadcast(c3g), Seq("ta", "tb"))
      .select(col("ta"), col("tb"),
        explode(filter(col("tcs"),
          c => coalesce(element_at(col("mxm"), c) > col("t2"),
            lit(false)))).as("tc"))
    decode(t3.groupBy(col("ta"), col("tb"), col("tc"))
      .agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(nd))
      .filter(col("support") >= col("th")))
  }

  /** Resharding churn audit: when a corpus grows from S to S+1
    * shards, what fraction of documents MOVE under naive mod-hash
    * placement vs a consistent-hash ring (Karger et al.; the
    * memcached/Dynamo placement scheme)? Mod-hash reassigns ~S/(S+1)
    * of the corpus (every doc whose `h % S ≠ h % (S+1)`); a ring with
    * V vnodes per shard moves only the arcs claimed by the new
    * shard's V vnodes, ~1/(S+1) — the table that prices shard-count
    * changes at 100 TB, where "move" means re-writing petabytes.
    *
    * Determinism contract: doc position is the Knuth multiplicative
    * hash `(doc_id·2654435761) mod (2³¹−1)` (DECIMAL-bridged — the
    * raw BIGINT product overflows at doc_id ≥ ~3.48e9); vnode v of
    * shard s hashes `x = s·65521 + v` (65521 = largest prime < 2¹⁶
    * keeps shard streams disjoint) through the QUADRATIC mix
    * `((x² mod p)·2654435761 + x·65521) mod p` — a purely linear
    * hash would place every shard's vnodes on one arithmetic lattice
    * whose arcs are pathologically uneven (measured 46% churn where
    * uniform placement gives 11%); the x² term breaks the lattice
    * while every intermediate stays within BIGINT (≤ 5.7e18), so
    * the twin needs no HUGEINT. Ties are
    * impossible by construction: ring keys are packed as
    * `pos·1024 + s·vps + v` (unique per config since S·vps ≤ 1024),
    * and the owner is the minimum packed key clockwise of the doc
    * (`key ≥ dpos·1024`, wrapping to the global minimum).
    *
    * Scale shape: the ring (≤ 1024 packed keys per config) is a
    * LITERAL array evaluated per row in the scan — no join, no
    * shuffle of the corpus; the whole audit is one map-side pass plus
    * a 1-row aggregate fanned into #scenarios·2 result rows.
    */
  def ringRebalance(
      docs: DataFrame,
      scenarios: Seq[(Int, Int)] = Seq((8, 9), (32, 33)),
      vnodesPerShard: Int = 16
  ): DataFrame = {
    require(scenarios.nonEmpty && scenarios.forall {
      case (a, b) => a >= 1 && b >= 1 && a != b
    }, "scenarios must be nonempty with distinct positive counts")
    require(scenarios.map(c => c._1.max(c._2)).max * vnodesPerShard
      <= 1024, "packed ring keys need S*vnodes <= 1024")
    def ringKeys(n: Int): Seq[Long] = {
      val p = 2147483647L
      for { s <- 0 until n; v <- 0 until vnodesPerShard } yield {
        val x = s.toLong * 65521L + v
        ((x * x % p) * 2654435761L + x * 65521L) % p * 1024L +
          s.toLong * vnodesPerShard + v
      }
    }
    val configs = scenarios.flatMap(c => Seq(c._1, c._2)).distinct
    val d0 = docs.select(col("doc_id")).withColumn("dpos", expr(
      """CAST(pmod(CAST(doc_id AS DECIMAL(38,0)) * 2654435761,
        | 2147483647) AS BIGINT)""".stripMargin.replace("\n", "")))
    val withOwners = configs.foldLeft(d0) { (df, n) =>
      val ks = ringKeys(n)
      df.withColumn(s"__ck_$n", coalesce(
          array_min(filter(lit(ks.toArray),
            k => k >= col("dpos") * lit(1024L))),
          lit(ks.min)))
        .withColumn(s"own_$n",
          expr(s"CAST(pmod(__ck_$n, 1024) div $vnodesPerShard " +
            "AS BIGINT)"))
    }
    val flagged = scenarios.zipWithIndex.foldLeft(withOwners) {
      case (df, ((a, b), i)) =>
        df.withColumn(s"mv_ring_$i",
            (col(s"own_$a") =!= col(s"own_$b")).cast("long"))
          .withColumn(s"mv_mod_$i",
            (pmod(col("dpos"), lit(a.toLong)) =!=
              pmod(col("dpos"), lit(b.toLong))).cast("long"))
    }
    val aggCols = scenarios.indices.flatMap(i => Seq(
      sum(col(s"mv_ring_$i")).as(s"ring_$i"),
      sum(col(s"mv_mod_$i")).as(s"mod_$i")))
    val allAggs = count(lit(1)).as("n_docs") +: aggCols
    val one = flagged.agg(allAggs.head, allAggs.tail: _*)
    val stackArgs = scenarios.zipWithIndex.flatMap {
      case ((a, b), i) => Seq(
        s"CAST($a AS BIGINT), CAST($b AS BIGINT), 'ring', ring_$i",
        s"CAST($a AS BIGINT), CAST($b AS BIGINT), 'mod', mod_$i")
    }.mkString(", ")
    one.selectExpr("n_docs",
        s"stack(${scenarios.size * 2}, $stackArgs) AS " +
          "(from_shards, to_shards, strategy, n_moved)")
      .select(col("from_shards"), col("to_shards"), col("strategy"),
        col("n_docs"), col("n_moved"),
        when(col("n_docs") > 0, expr(
          """CAST(CAST(n_moved AS DECIMAL(38,0)) * 1000000
            | div n_docs AS BIGINT)""".stripMargin.replace("\n", "")))
          .otherwise(lit(0L)).as("moved_ppm"))
      .orderBy(col("from_shards"), col("strategy"))
  }

  /** Bradley–Terry source-strength fit over pairwise quality
    * preferences — the preference-model primitive (the reward-model /
    * RLHF data shape) applied to corpus curation: treat every
    * cross-source document pair as one comparison decided by the
    * deterministic [[qualityScore]] (strictly higher q20-floored
    * quality wins; exact ties are uninformative and drop out of both
    * the wins and the pair counts), then fit BT strengths `p_s` by
    * the standard minorize–maximize recurrence
    * `p_A ← W_A / Σ_{B≠A} n_AB/(p_A+p_B)`, renormalized to mean 2²⁰
    * per round. Unlike a mean-quality ranking, BT strengths are
    * calibrated on WHO the comparisons were against — a source that
    * narrowly beats a strong source outranks one that crushes a weak
    * one — which is the property a mixture-weighting decision wants.
    *
    * Everything is exact integer arithmetic off O(#distinct-quality ×
    * #sources) sufficient statistics — no doc-pair is ever
    * materialized: `W_A = Σ_q c_A(q)·(below_total(q) − below_A(q))`
    * via two exclusive cumulative windows over the quality histogram
    * (the MWU rank-sum shape), `n_AB = n_A·n_B − ties_AB` with
    * `ties_AB = Σ_q c_A(q)·c_B(q)` (vocab-sized join). Pairwise-count
    * products are DECIMAL(38,0)/HUGEINT-bridged (they reach N²); the
    * MM division floors in q20 with a zero-denominator guard
    * (`p_A + p_B = 0` between two zero-strength sources contributes
    * nothing — both already sit at the MLE boundary) and a
    * no-comparisons guard (a lone source keeps 2²⁰). Emitted `wins`
    * rides the BIGINT envelope (exact to ~3e9 docs/source, the
    * repo-wide emitted-count headroom; internal sums stay bridged).
    *
    * Scale shape: one scan for the quality histogram (map-side
    * combine on (q, source)), windows over DISTINCT quality values,
    * then #sources²-sized iteration frames — the corpus is read
    * once.
    */
  def bradleyTerry(docs: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    // r19 (guide §2.4/§5): carry `source` through the map-side score
    // (the old doc_id join to re-attach it shuffled the corpus), and
    // persist the (q × source) histogram — it is model-sized and
    // feeds BOTH driver collects below (wins and the tie pairs);
    // untracked, each collect re-derived the corpus scan.
    val scored = qualityScoreKeeping(docs, Seq("source"))
      .select(col("source"),
        floor(col("quality") * (1L << 20)).cast("long").as("q"))
    val cell = graft.Caches.track("text", scored
      .groupBy(col("q"), col("source"))
      .agg(count(lit(1)).as("c")))
    val tot = cell.groupBy(col("q")).agg(sum(col("c")).as("t"))
      .withColumn("below_total",
        coalesce(sum(col("t")).over(Window.orderBy(col("q"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val cells = cell
      .withColumn("below_src",
        coalesce(sum(col("c")).over(
          Window.partitionBy(col("source")).orderBy(col("q"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(tot.select(col("q"), col("below_total")), "q")
    val wins = cells.groupBy(col("source"))
      .agg(
        sum(col("c").cast(dec) *
          (col("below_total") - col("below_src"))).as("__wins"),
        sum(col("c")).as("n_docs"))
    // r19 (guide §2.4, the basketLift in-row pair idiom): the old
    // q-keyed SELF-JOIN of the histogram is ONE groupBy(q) collecting
    // the ≤ |sources| (source, c) rows into a sorted array and
    // exploding i < j pairs in-row — identical pair multiset: sources
    // are distinct within a q bucket, so position order IS source
    // order and i < j ⇔ source_a < source_b.
    val ties = cell.groupBy(col("q"))
      .agg(sort_array(collect_list(struct(col("source"), col("c"))))
        .as("zs"))
      .select(col("zs"), posexplode(col("zs")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("zs"), col("i") + lit(2), size(col("zs"))))
          .as("b"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(sum(col("a.c").cast(dec) * col("b.c")).as("ties"))
    val marg = wins.select(col("source"), col("n_docs"))
    val pairsAB = marg.as("a").join(marg.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("sa"), col("b.source").as("sb"),
        (col("a.n_docs").cast(dec) * col("b.n_docs")).as("nn"))
      .join(ties, Seq("sa", "sb"), "left")
      .select(col("sa"), col("sb"),
        (col("nn") - coalesce(col("ties"), lit(0).cast(dec)))
          .as("n_ab"))
    // The sufficient statistics are #sources + #sources² rows — a
    // MODEL-sized fit (the BPE-merge-table / PCA-moments collect
    // precedent): pull them to the driver and run the MM rounds in
    // exact BigInt (non-negative BigInt / == DECIMAL div == DuckDB
    // // token for token). A distributed iteration was measured
    // pathological here — each round joins p twice, so the lazy
    // lineage re-derives the corpus-scan histogram ~2^iters times
    // for frames of twenty rows (154 s at sf0.001 vs ~4 s now).
    val spark = docs.sparkSession
    import spark.implicits._
    val winRows = wins
      .select(col("source"), col("__wins").cast("string"),
        col("n_docs"))
      .collect()
      .map(r => (r.getString(0), BigInt(r.getString(1)),
        r.getLong(2)))
    val nAb = pairsAB
      .select(col("sa"), col("sb"), col("n_ab").cast("string"))
      .collect()
      .flatMap { r =>
        val v = BigInt(r.getString(2))
        Seq((r.getString(0), r.getString(1)) -> v,
          (r.getString(1), r.getString(0)) -> v)
      }.toMap
    val srcs = winRows.map(_._1).sorted
    val winsOf = winRows.map(t => t._1 -> t._2).toMap
    val docsOf = winRows.map(t => t._1 -> t._3).toMap
    val q20 = BigInt(1048576)
    var p = srcs.map(_ -> q20).toMap
    for (_ <- 1 to iters) {
      val updated = srcs.map { a =>
        val d = srcs.iterator.filter(_ != a).map { b =>
          val s = p(a) + p(b)
          if (s == 0) BigInt(0) else nAb((a, b)) * q20 / s
        }.sum
        a -> (if (d == 0) p(a) else winsOf(a) * q20 / d)
      }.toMap
      // renormalize to mean 2²⁰ (BT is scale-invariant; the MM
      // drifts the scale)
      val tot = updated.values.sum
      p =
        if (tot == 0) srcs.map(_ -> q20).toMap
        else updated.map { case (k, v) =>
          k -> (v * srcs.length * q20 / tot)
        }
    }
    srcs
      .map(s => (s, docsOf(s), winsOf(s).toLong, p(s).toLong))
      .sortBy { case (s, _, _, pq) => (-pq, s) }
      .zipWithIndex
      .map { case ((s, nd, w, pq), i) => (s, nd, w, pq, i + 1) }
      .toSeq
      .toDF("source", "n_docs", "wins", "p_q20", "rank")
      .orderBy(col("rank"))
  }

  /** Tokenizer fertility per language — tokens per kilobyte of
    * UTF-8, the number that converts a byte budget into a token
    * budget per language (CJK languages tokenize at a fraction of
    * Latin-script fertility under whitespace-ish tokenizers, so a
    * byte-balanced mixture is NOT token-balanced — this table is the
    * conversion). Exact integers: Σ tokens·10⁶ div Σ bytes per lang,
    * plus each language's share of corpus tokens and bytes side by
    * side (the imbalance read). One scan, |langs| rows.
    */
  def tokenFertility(docs: DataFrame): DataFrame = {
    val per = docs.select(col("lang"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_bytes")).as("n_bytes"))
    per
      .crossJoin(broadcast(per.agg(
        sum(col("n_tokens")).as("tot_tokens"),
        sum(col("n_bytes")).as("tot_bytes"))))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("n_bytes"),
        expr("n_tokens * 1000000 div n_bytes")
          .as("tokens_per_mb_byte"),
        expr("n_tokens * 1000000 div tot_tokens").as("token_ppm"),
        expr("n_bytes * 1000000 div tot_bytes").as("byte_ppm"))
      .orderBy(col("lang"))
  }

  /** Source-pair duplicate matrix — WHO copies from WHOM: the
    * near-dup pair graph (any pair builder: exact-jaccard, minhash,
    * semantic) projected onto the source dimension, one row per
    * unordered source pair with the pair count and its ppm share of
    * all dup pairs. A heavy off-diagonal cell is cross-source
    * syndication (dedup before mixing, or the mixture double-counts
    * it); a heavy diagonal is within-source boilerplate. Costs two
    * doc_id-keyed joins on the ALREADY-PAID pair graph — no new pair
    * work.
    */
  def sourceDupMatrix(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val tagged = pairs
      .join(src.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "src_a"), "doc_a")
      .join(src.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("source", "src_b"), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
    val counts = tagged.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    counts
      .crossJoin(broadcast(
        counts.agg(sum(col("n_pairs")).as("n_total"))))
      .withColumn("share_ppm",
        expr("n_pairs * 1000000 div n_total"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Cross-language near-duplicate affinity — which language PAIRS
    * the dup graph concentrates in, scored against the independence
    * baseline: within-language dups are the expected template/crawl
    * redundancy, but a cross-language cell sitting far ABOVE its
    * expected share is machine-translated boilerplate or
    * transliterated mirrors — contamination a per-language dedup
    * sweep never sees. Per unordered (lang_a ≤ lang_b) cell:
    * observed pairs and share, the EXACT expected share under
    * independent pairing from the doc marginals (nₐ·n_b cross /
    * n(n−1)/2 within, over N(N−1)/2 — no with-replacement
    * approximation), and the observed/expected lift in milli.
    * DECIMAL(38,0)-bridged products (pairs_total reaches N²/2, far
    * past BIGINT once multiplied by the ppm shift).
    *
    * Scale shape: two id-keyed attribution joins on the (already
    * small) pair set, #langs² cells, doc marginals one
    * map-side-combinable rollup; the lang marginal and scalar
    * totals broadcast.
    */
  def langDupAffinity(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val lang = docs.select(col("doc_id"), col("lang"))
    val tagged = pairs
      .join(lang.select(col("doc_id").as("doc_a"),
        col("lang").as("la")), "doc_a")
      .join(lang.select(col("doc_id").as("doc_b"),
        col("lang").as("lb")), "doc_b")
      .select(least(col("la"), col("lb")).as("lang_a"),
        greatest(col("la"), col("lb")).as("lang_b"))
    val counts = tagged.groupBy(col("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val marg = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = docs.agg(count(lit(1)).as("n_total"))
    val obsTot = counts.agg(sum(col("n_pairs")).as("obs_total"))
    counts
      .join(broadcast(marg.select(col("lang").as("lang_a"),
        col("n_docs").as("na"))), "lang_a")
      .join(broadcast(marg.select(col("lang").as("lang_b"),
        col("n_docs").as("nb"))), "lang_b")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(obsTot))
      // n(n-1)/2 reaches N²/2 — the raw BIGINT multiply overflows at
      // n >= ~4.3e9 docs, so the product is DECIMAL(38,0)-bridged
      // BEFORE the multiply via the exact even/odd split (one factor
      // is always even; div-first keeps every operand integral).
      // na*nb crosses BIGINT the same way. Token-identical HUGEINT
      // splits in the SQL twin.
      .withColumn("pairs_lang",
        when(col("lang_a") === col("lang_b"),
          expr("""CASE WHEN na % 2 = 0
            | THEN CAST(na div 2 AS DECIMAL(38,0)) * (na - 1)
            | ELSE CAST(na AS DECIMAL(38,0)) * ((na - 1) div 2)
            | END""".stripMargin.replace("\n", "")))
          .otherwise(expr("CAST(na AS DECIMAL(38,0)) * nb")))
      .withColumn("pairs_total",
        expr("""CASE WHEN n_total % 2 = 0
          | THEN CAST(n_total div 2 AS DECIMAL(38,0)) * (n_total - 1)
          | ELSE CAST(n_total AS DECIMAL(38,0)) * ((n_total - 1) div 2)
          | END""".stripMargin.replace("\n", "")))
      .select(col("lang_a"), col("lang_b"), col("n_pairs"),
        expr("n_pairs * 1000000 div obs_total").as("share_ppm"),
        expr("""CAST(CAST(pairs_lang AS DECIMAL(38,0)) * 1000000
          | div pairs_total AS BIGINT)""".stripMargin
          .replace("\n", "")).as("expected_ppm"),
        expr("""CAST(CAST(n_pairs AS DECIMAL(38,0)) * pairs_total
          | * 1000 div (CAST(obs_total AS DECIMAL(38,0))
          | * pairs_lang) AS BIGINT)""".stripMargin
          .replace("\n", "")).as("lift_milli"))
      .orderBy(col("lang_a"), col("lang_b"))
  }

  /** Hill tail-index of the document-length distribution — IS the
    * length tail power-law (α ≈ 1–2: heavy tail, a few giant docs
    * dominate byte budgets and shard packing; α large: thin tail)?
    * The standard Hill estimator over the k largest lengths with
    * x₍ₖ₎ as the threshold: `1/α = (1/k)·Σ(ln xᵢ − ln x_min)`. Exact
    * by the ln-of-INTEGER q20 convention (every ln argument is a
    * char count; `⌊ln x·2²⁰⌋` floors identically in both engines),
    * α emitted as `k·1000·2²⁰ div hill_sum`. Top-k is TakeOrdered —
    * no global sort, no window.
    */
  def lengthTailIndex(docs: DataFrame, k: Int = 100): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    def lnq20(c: Column): Column =
      floor(log(c.cast("double")) * (1L << 20)).cast("long")
    val top = docs.filter(col("n_chars") > 0)
      .select(col("n_chars").cast("long").as("x"))
      .orderBy(col("x").desc).limit(k)
    top.agg(count(lit(1)).as("k_used"), min(col("x")).as("x_min"),
        sum(lnq20(col("x"))).as("__sum_ln"))
      .select(col("k_used"), col("x_min"),
        (col("__sum_ln") - col("k_used") * lnq20(col("x_min")))
          .as("hill_sum_q20"))
      .withColumn("alpha_milli", expr(
        """CASE WHEN hill_sum_q20 = 0 THEN NULL
          | ELSE k_used * 1048576000 div hill_sum_q20
          | END""".stripMargin))
  }

  /** Chunk-level dedup profile — dedup at the granularity training
    * actually consumes: after [[chunkDocs]] splits the corpus into
    * context windows, identical chunk TEXT recurring anywhere in the
    * corpus (boilerplate, licenses, templated sections) is
    * redundancy document-level dedup cannot see. First occurrence
    * wins by the deterministic (doc_id, chunk_id) order; per doc,
    * how many of its chunks are corpus-novel vs already seen — the
    * keep/trim signal a chunk-dedup pass acts on. Cost: the chunk
    * scan plus ONE md5-keyed aggregation (first-owner per distinct
    * chunk) and a rejoin; chunk text never shuffles twice (the
    * 60-bit md5 int is the join key).
    */
  def chunkDedup(
      docs: DataFrame,
      window: Int = 50,
      stride: Int = 40
  ): DataFrame = {
    val ch = chunkDocs(docs, window, stride)
      .select(col("doc_id"), col("chunk_id"),
        expr("CAST(conv(substr(md5(chunk_text), 1, 15), 16, 10) " +
          "AS BIGINT)").as("h"))
    val first = ch.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("__f"))
      .select(col("h"), col("__f.doc_id").as("first_doc"),
        col("__f.chunk_id").as("first_chunk"))
    ch.join(first, "h")
      .withColumn("is_first",
        col("doc_id") === col("first_doc") &&
          col("chunk_id") === col("first_chunk"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("is_first"), lit(1))).as("n_novel"))
      .withColumn("dup_ppm", expr(
        "(n_chunks - n_novel) * 1000000 div n_chunks"))
  }

  /** Fixed token-window chunks with overlap (`window` tokens every
    * `stride`): the context-window splitting step of a training-data
    * pipeline. Pure per-row array math — sequence + explode + slice
    * in the scan stage, no shuffle at all.
    */
  def chunkDocs(
      docs: DataFrame,
      window: Int = 50,
      stride: Int = 40
  ): DataFrame = {
    val toks = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    toks
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(stride)))
          .as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_id"),
        array_join(slice(col("toks"), col("start") + 1, lit(window)), " ")
          .as("chunk_text"),
        size(slice(col("toks"), col("start") + 1, lit(window)))
          .as("n_tokens"))
  }

  /** Content-defined chunking (gear/LBFS-style): cut the text where
    * a sliding `window`-char hash hits the boundary mask
    * (`hash % 2^maskBits == 0`), so chunk boundaries depend on LOCAL
    * content only and survive upstream insertions/deletions — the
    * dedup-friendly alternative to fixed windows, where one shifted
    * byte re-cuts every downstream chunk. Expected chunk length ≈
    * `2^maskBits` chars. This is the bare variant: every boundary
    * cuts (production CDC adds min/max chunk bounds, which need
    * sequential consume-and-skip state; the bare rule is a pure
    * per-position predicate and stays engine-reproducible).
    *
    * Shape at scale: entirely scan-stage per-row array math — no
    * shuffle, no join; the per-position md5 pass is the same cost
    * profile as `winnowFingerprint`.
    */
  def contentDefinedChunks(
      docs: DataFrame,
      window: Int = 16,
      maskBits: Int = 6
  ): DataFrame = {
    require(window >= 1 && maskBits >= 1,
      s"window/maskBits must be positive, got $window/$maskBits")
    // ascending cut ENDS from the one-pass native expression (a
    // per-position substr+md5 HOF chain interprets the lambda per
    // element — measured ~10× slower); the doc end is always a cut
    // (distinct: the last boundary may coincide with it)
    val ends = array_sort(array_distinct(concat(
      graft.functions.md5WindowCuts(col("text"), window, maskBits),
      array(length(col("text"))))))
    // pair each end with its predecessor BEFORE exploding — carrying
    // the whole cut array through the explode would replicate it once
    // per chunk (O(chunks²) per doc) just to look up ends[i-1]
    val spans = zip_with(
      concat(array(lit(0)), slice(col("ends"), lit(1),
        size(col("ends")) - 1)),
      col("ends"),
      (prev, end) => struct((prev + 1).as("start"), end.as("end")))
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"), ends.as("ends"))
      .select(col("doc_id"), col("text"), posexplode(spans))
      .select(col("doc_id"), col("pos").as("chunk_id"),
        col("col.start").cast("int").as("start"),
        col("text").substr(col("col.start"),
          col("col.end") - col("col.start") + 1).as("chunk_text"))
  }

  /** Sentence-aware greedy chunking — the RAG-style splitter that
    * cuts at sentence boundaries instead of mid-sentence (the
    * retrieval-index sibling of [[chunkDocs]]'s fixed token window):
    * sentences are the non-empty segments of `[.!?]\s+`-split text
    * (terminal punctuation consumed; both engines scan the same
    * regex left-to-right so segmentation is bit-identical), packed
    * greedily in order — a chunk closes when the NEXT sentence would
    * push it past `budgetTokens`; a sentence longer than the budget
    * occupies a chunk alone. The data-dependent fill reset is the
    * [[packChunksFirstFit]] recurrence, but here the recurrence is
    * ROW-LOCAL — a document's sentences live in one array, so a
    * single `aggregate` HOF fold assigns chunk ids with zero shuffle
    * and zero mapPartitions (the lambda is evaluated per element at
    * runtime, not unrolled — no 2^n expression blow-up); only the
    * final per-chunk rollup shuffles, keyed by (doc_id, chunk_id)
    * with map-side combine. Pure integer math end to end → exact
    * linear-recursive-CTE oracle.
    */
  def sentenceChunks(
      docs: DataFrame,
      budgetTokens: Int = 48
  ): DataFrame = {
    require(budgetTokens >= 1,
      s"budgetTokens must be positive, got $budgetTokens")
    val sents = filter(
      transform(split(trim(col("text")), "[.!?]\\s+"), s => trim(s)),
      s => length(s) > 0)
    // per-sentence token counts; sentences are non-empty after trim,
    // so a bare whitespace split never yields the [""] edge case
    val nToks = transform(col("sents"),
      s => size(split(s, "\\s+")).cast("bigint"))
    // greedy fold: acc = (open chunk id, its fill, per-sentence chunk
    // assignments); first sentence always lands in chunk 0 (fill=0
    // takes the extend branch), matching the oracle's recursion base
    val asg = aggregate(
      col("nt"),
      struct(lit(0L).as("chunk"), lit(0L).as("fill"),
        array().cast("array<bigint>").as("asg")),
      (acc, n) => when(
        acc.getField("fill") > 0 &&
          acc.getField("fill") + n > budgetTokens,
        struct((acc.getField("chunk") + 1).as("chunk"),
          n.as("fill"),
          concat(acc.getField("asg"),
            array(acc.getField("chunk") + 1)).as("asg")))
        .otherwise(
          struct(acc.getField("chunk").as("chunk"),
            (acc.getField("fill") + n).as("fill"),
            concat(acc.getField("asg"),
              array(acc.getField("chunk"))).as("asg"))),
      acc => acc.getField("asg"))
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), sents.as("sents"))
      .filter(size(col("sents")) > 0)
      .select(col("doc_id"), nToks.as("nt"))
      .select(col("doc_id"),
        posexplode(arrays_zip(col("nt"), asg.as("chunk"))))
      .select(col("doc_id"), col("pos"),
        col("col.nt").as("n_tok"), col("col.chunk").as("chunk_id"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("pos")).cast("int").as("first_sent"))
  }

  /** Pack chunk rows into fixed-token-budget training sequences —
    * the concat-and-cut step between chunking and batching: the chunk
    * stream is (conceptually) concatenated in (doc_id, chunk_id)
    * order and cut every `seqTokens` tokens; each chunk is assigned
    * the sequence where it STARTS plus its offset inside it (GPT-style
    * stream packing — a chunk may straddle a cut, exactly as training
    * examples do).
    *
    * A single global running sum would serialize on one partition, so
    * the stream is first split into `nBuckets` deterministic doc-level
    * buckets (md5 60-bit draw — reproducible in any engine, and
    * doc-id-hash so a document's chunks stay in one bucket) and packed
    * per bucket: one hash shuffle + per-bucket window sums, fully
    * parallel, reproducible under any partitioning. Pure integer math
    * end to end (oracle-exact).
    */
  def packChunks(
      chunks: DataFrame,
      seqTokens: Int = 512,
      nBuckets: Int = 8
  ): DataFrame = {
    val bucket = pmod(draw60(concat(col("doc_id").cast("string"),
      lit(":pack"))), lit(nBuckets.toLong))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("doc_id"), col("chunk_id"))
    chunks
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        bucket.as("bucket"))
      .withColumn("start_off",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("chunk_id"), col("bucket"),
        col("n_tokens"),
        // integer DIV, not `/` (double division) — keeps the math
        // exact integer arithmetic at any magnitude
        expr(s"start_off DIV $seqTokens").as("seq_id"),
        (col("start_off") % seqTokens).as("seq_off"))
  }

  /** First-fit (no-straddle) stream packing — the OTHER packing mode:
    * where `packChunks` cuts the concatenated stream every
    * `seqTokens` tokens and lets chunks straddle cuts (GPT-style,
    * for pipelines that train across boundaries), this variant
    * starts a new sequence whenever the next chunk would not fit —
    * the mode used when cross-document attention is masked and a
    * chunk must live inside exactly one sequence. A chunk longer
    * than `seqTokens` occupies a sequence alone (placed at offset 0,
    * overflowing it — dropped or split upstream if that matters).
    *
    * The running fill is DATA-DEPENDENT state (the reset point
    * depends on the accumulated value, which no window frame can
    * express), so this is the library's one deliberate
    * `mapPartitions` operator: chunks hash-partition by the same
    * deterministic doc-level bucket draw `packChunks` uses, sort
    * within partitions, and a per-bucket counter walks each bucket's
    * contiguous run. Deterministic under any partition count (state
    * resets at bucket boundaries; a bucket never spans partitions).
    * Pure integer math → exact oracle via a linear recursive CTE.
    */
  def packChunksFirstFit(
      chunks: DataFrame,
      seqTokens: Int = 512,
      nBuckets: Int = 8
  ): DataFrame = {
    require(seqTokens >= 1, s"seqTokens must be positive, got $seqTokens")
    // Fail fast on the schema rather than silently casting: a
    // non-numeric doc_id (or an overflowing value) casts to NULL and
    // the partition walk below then dies with an opaque NPE at
    // getLong — the one place in the library where bad input could
    // outrun the analyzer.
    Seq("doc_id", "chunk_id", "n_tokens").foreach { c =>
      val f = chunks.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"packChunksFirstFit: input is missing required column " +
            s"'$c' (got schema ${chunks.schema.simpleString})"))
      f.dataType match {
        case org.apache.spark.sql.types.ByteType |
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.LongType => ()
        case other => throw new IllegalArgumentException(
          s"packChunksFirstFit: column '$c' must be integral, got " +
            s"${other.simpleString}")
      }
    }
    val bucket = pmod(draw60(concat(col("doc_id").cast("string"),
      lit(":pack"))), lit(nBuckets.toLong))
    val prepared = chunks
      .select(col("doc_id").cast("long").as("doc_id"),
        col("chunk_id").cast("int").as("chunk_id"),
        col("n_tokens").cast("int").as("n_tokens"),
        bucket.as("bucket"))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("doc_id"), col("chunk_id"))
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long", nullable = false)
      .add("chunk_id", "int", nullable = false)
      .add("bucket", "long", nullable = false)
      .add("n_tokens", "int", nullable = false)
      .add("seq_id", "long", nullable = false)
      .add("seq_off", "long", nullable = false)
    prepared.mapPartitions { it =>
      var curBucket = Long.MinValue
      var seq = 0L
      var fill = 0L
      it.map { r =>
        val (docId, chunkId, n, b) =
          (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))
        if (b != curBucket) { curBucket = b; seq = 0L; fill = 0L }
        if (fill > 0 && fill + n > seqTokens) { seq += 1; fill = 0L }
        val off = fill
        fill += n
        org.apache.spark.sql.Row(docId, chunkId, b, n, seq, off)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Substring-level duplication signal (the repeated-passage
    * companion of whole-document dedup, after Lee et al.'s
    * "Deduplicating Training Data Makes Language Models Better"
    * observation that training corpora repeat long SPANS across
    * otherwise-distinct documents — boilerplate, licenses, quotes):
    * per document, how many of its `spanTokens`-token sliding windows
    * also occur verbatim in at least one OTHER document.
    *
    * Shape at scale: windows stream out of the scan stage via the
    * one-pass shingle expression and immediately reduce to portable
    * 60-bit md5 keys (8-byte shuffle rows, engine-reproducible);
    * one groupBy finds cross-doc hashes, one join attributes them
    * back. The window table is the big side — it shuffles twice
    * (agg + attribution join), both on the same 8-byte key; nothing
    * is ever quadratic. Exact integer counts → oracle-checkable.
    */
  def duplicatedSpans(docs: DataFrame, spanTokens: Int = 20): DataFrame = {
    val spans = graft.Caches.track("text", docs
      .repartition(col("doc_id"))
      // docs shorter than one span have no windows (the shingle
      // expression would return the whole doc as one short shingle)
      .filter(size(tokens(col("text"))) >= spanTokens)
      .select(col("doc_id"),
        // DISTINCT windows per doc (the shingle expression dedupes) —
        // within-doc repetition is repetitionStats' job; this op
        // measures cross-document duplication
        explode(graft.functions.tokenShingles(col("text"), spanTokens))
          .as("span"))
      .select(col("doc_id"), draw60(col("span")).as("h")))
    val crossDoc = spans
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"))
    spans
      .join(crossDoc.withColumn("dup", lit(1)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        count(col("dup")).as("n_dup_spans"))
      .withColumn("dup_span_ratio",
        col("n_dup_spans").cast("double") / col("n_spans"))
  }

  /** Corpus-level duplicated-passage REMOVAL — the scrubbing
    * companion of `duplicatedSpans` (which only measures): the text
    * of every document is cut into aligned non-overlapping
    * `blockTokens`-token blocks, each block content keeps exactly its
    * first occurrence corpus-wide (ordered by doc_id, then position),
    * every other occurrence is dropped, and the surviving blocks plus
    * the sub-block tail are re-joined into a cleaned text. This is
    * the C4/CCNet-style shared-passage scrub adapted to
    * sentence-less text: repeated boilerplate survives once, in its
    * canonical document, instead of once per copy.
    *
    * Shape at scale: blocks leave the scan stage as
    * (md5-key, doc_id, idx) rows; ONE aggregation finds the canonical
    * occurrence per content key (min-struct form — map-side partial
    * combine collapses a boilerplate block repeated a billion times
    * to one row per task before the shuffle), one join back
    * attributes keep/drop, one groupBy(doc_id) reassembles. Nothing
    * quadratic, both shuffles ride the 16-byte hash / 8-byte doc_id.
    * Exact string/int output → oracle-checkable.
    */
  def scrubDuplicatedBlocks(
      docs: DataFrame,
      blockTokens: Int = 20
  ): DataFrame = {
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_blocks",
        (size(col("toks")) / blockTokens).cast("int"))
      // sub-block remainder: always kept verbatim (a partial window
      // is not evidence of duplication)
      .withColumn("tail_text",
        array_join(slice(col("toks"),
          col("n_blocks") * blockTokens + 1,
          size(col("toks")) - col("n_blocks") * blockTokens), " "))
    val blocks = base
      // guard: sequence(0, -1) would step BACKWARD in Spark, not
      // return empty — short docs must yield an empty block array
      .withColumn("blks",
        when(col("n_blocks") > 0,
          transform(sequence(lit(0), col("n_blocks") - 1),
            i => array_join(
              slice(col("toks"), i * blockTokens + 1,
                lit(blockTokens)), " ")))
          .otherwise(array().cast("array<string>")))
      .select(col("doc_id"), posexplode(col("blks")))
      .withColumnsRenamed(Map("pos" -> "block_idx", "col" -> "block"))
      .withColumn("bh", md5(col("block").cast("binary")))
    val canon = blocks
      .groupBy(col("bh"))
      // struct-valued min aggregates via SortAggregate (struct
      // buffers aren't hash-aggregable; min_by is no different) —
      // acceptable: ONE narrow exchange keyed by the 16-byte hash
      // with map-side partial combine, vs the join-back alternative
      // which would shuffle the block table twice
      .agg(min(struct(col("doc_id"), col("block_idx"))).as("canon"))
    val kept = blocks
      .join(canon, "bh")
      .filter(struct(col("doc_id"), col("block_idx")) === col("canon"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              struct(col("block_idx"), col("block")))),
            s => s.getField("block")), " ").as("kept_text"),
        count(lit(1)).as("n_kept"))
    base
      .select(col("doc_id"), col("n_blocks"), col("tail_text"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(coalesce(col("kept_text"), lit("")) === "", col("tail_text"))
          .when(col("tail_text") === "", col("kept_text"))
          .otherwise(concat(col("kept_text"), lit(" "), col("tail_text")))
          .as("clean_text"),
        col("n_blocks"),
        (col("n_blocks") - coalesce(col("n_kept"), lit(0L)))
          .cast("int").as("n_dropped"))
  }

  /** Line-frequency boilerplate removal (the CCNet/C4 shape: nav
    * menus, cookie banners, "subscribe" footers repeat VERBATIM
    * across a domain's pages — so a line whose normalized form
    * appears in ≥ `minDf` distinct documents is template, not
    * content). Distinct from [[scrubDuplicatedBlocks]] on two axes:
    * the unit is the author's line structure (not fixed token
    * windows), and the rule is corpus frequency (not
    * keep-one-canonical-copy — boilerplate keeps ZERO copies).
    *
    * Scale shape: lines explode once; the df table groups by a
    * 16-byte line hash (two-phase distinct count, map-side partial),
    * is filtered to the boilerplate rows only — a tiny table by
    * construction, frequent lines are few — and joins back on the
    * hash; reassembly is one per-doc sort-agg. No n², nothing
    * driver-side. Line identity = lower(trim(line)) — the md5 key
    * keeps the shuffle narrow regardless of line length.
    *
    * Returns `(doc_id, clean_text, n_lines, n_dropped)`; a doc whose
    * every line is boilerplate yields `clean_text = ""`.
    */
  def removeBoilerplate(docs: DataFrame, minDf: Long = 50L): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("line_idx", "line")))
      .withColumn("lkey", md5(lower(trim(col("line"))).cast("binary")))
    val lineDf = lines
      .groupBy(col("lkey"))
      .agg(countDistinct(col("doc_id")).as("line_df"))
      .filter(col("line_df") >= minDf)
    val kept = lines
      .join(lineDf, Seq("lkey"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              struct(col("line_idx"), col("line")))),
            s => s.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs
      .select(col("doc_id"),
        size(split(col("text"), "\n")).as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L)))
          .cast("int").as("n_dropped"))
  }

  /** Eval-set contamination check (decontamination step of a
    * training-data pipeline): which training docs share at least
    * `minHits` word `n`-gram shingles with any eval-set doc, and how
    * many. Train-side shingles explode once and join the (small,
    * broadcast) eval shingle set on the 8-byte hash — at 100 TB the
    * eval set stays broadcastable by construction (eval corpora are
    * tiny), so the scan side never shuffles.
    */
  def contamination(
      docs: DataFrame,
      evalDocs: DataFrame,
      n: Int = 3,
      minHits: Int = 1
  ): DataFrame = {
    def hashedShingles(d: DataFrame): DataFrame = d
      .select(col("doc_id"), tokens(col("text")).as("raw_toks"),
        col("text"))
      .filter(size(col("raw_toks")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          graft.functions.tokenShingles(col("text"), n),
          s => xxhash64(s)))).as("sh"))
    val evalSh = hashedShingles(evalDocs)
      .select(col("sh")).distinct()
    hashedShingles(docs)
      .join(broadcast(evalSh), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** Contamination n-gram-size sweep — the calibration read BEFORE
    * picking the gate's shingle length: short n-grams (3) flag
    * common phrases as "contamination" (false positives drain the
    * training set), long ones (13+) miss paraphrased leakage; the
    * curve of contaminated-doc counts and total hits per candidate
    * n is the evidence for the cutoff, exactly the
    * [[dedupThresholdCurve]] discipline applied to
    * [[contamination]]. One [[contamination]] pass per candidate n
    * (the shingle transform is n-specific, so the scans don't
    * share), each a broadcast-eval-set semi-ish join at minHits = 1;
    * output is |ns| rows.
    */
  def contaminationCurve(
      docs: DataFrame,
      evalDocs: DataFrame,
      ns: Seq[Int] = Seq(3, 5, 8)
  ): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "ns must be >= 1")
    val tot = docs.agg(count(lit(1)).as("n_train"))
    ns.distinct.sorted.map { n =>
      contamination(docs, evalDocs, n, minHits = 1)
        .agg(count(lit(1)).as("n_contaminated"),
          coalesce(sum(col("n_hits")), lit(0L)).as("n_hits_total"))
        .crossJoin(broadcast(tot))
        .select(lit(n.toLong).as("ngram"), col("n_contaminated"),
          col("n_hits_total"), col("n_train"),
          expr("n_contaminated * 1000000 div n_train")
            .as("contaminated_ppm"))
    }.reduce(_.unionByName(_))
  }

  /** PII redaction: replace emails, URLs, and long digit runs with
    * typed placeholders, and count what was redacted. Patterns stick
    * to the regex subset Java and RE2 interpret identically (no
    * backrefs / lookaround), so the op is portable and
    * oracle-checkable. Map-side only — at scale this runs in the
    * scan stage like the other curation expressions.
    */
  def piiRedact(docs: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^ ]+"
    val num = "[0-9]{7,}"
    docs.select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), url, "<URL>"),
          email, "<EMAIL>"),
        num, "<NUM>").as("redacted"),
      size(regexp_extract_all(col("text"), lit(email), lit(0)))
        .as("n_emails"),
      size(regexp_extract_all(col("text"), lit(url), lit(0)))
        .as("n_urls"),
      size(regexp_extract_all(col("text"), lit(num), lit(0)))
        .as("n_long_nums"))
  }

  /** Quality-signal correlation — the redundancy diagnostic run over
    * a filter stack (two signals correlated at 0.95 are one filter
    * paying twice): per source, the Pearson correlation of two
    * integer signals (here chars vs whitespace tokens), computed
    * from SIX exact long moments (n, Σx, Σy, Σxy, Σx², Σy² — all
    * order-free integer sums, map-side combined) with the single
    * floating-point step at the very end (identical-IEEE expression
    * off identical longs — the gini convention), floored to milli.
    * Degenerate sources (zero variance in either signal) read null
    * rather than a fabricated coefficient.
    *
    * Overflow bound (documented): Σx² reaches n·max(x)² — holds to
    * ~10⁹ docs at 100 k-char documents; lift to DECIMAL(38,0)
    * beyond.
    */
  /** Cohen's kappa agreement between two binary keep-filters — the
    * policy-level filter-redundancy audit beside
    * [[signalCorrelation]]'s signal-level one (correlated SCORES can
    * still disagree at their thresholds, and two filters that agree
    * at kappa≈1 are one filter's cost for two filters' spend; kappa
    * near 0 = independent decisions, negative = systematic
    * opposition). Chance-corrected: `kappa = (p_o − p_e)/(1 − p_e)`
    * with p_e from the marginals.
    *
    * Input: any frame with two boolean columns. Output one row —
    * the 2×2 confusion counts (the hash-compared skeleton), exact
    * ppm observed/chance agreement, and `kappa_milli` by pure
    * integer arithmetic over the counts:
    * `1000·(n·(n11+n00) − peN) div (n² − peN)` with
    * `peN = a1·b1 + a0·b0` — negative-capable; INTEGER `div` (Spark)
    * and integer `//` (DuckDB) both truncate toward zero (measured:
    * -7//2 = -3 — DuckDB floors only on DOUBLE operands), so plain
    * division is already engine-identical on the negative path.
    * NULL when both filters are constant
    * (p_e = 1, kappa undefined). Overflow bound (basketLift
    * convention): n² < 2⁶³ holds to ~3·10⁹ rows; beyond, lift the
    * products to DECIMAL(38,0).
    *
    * Shape at scale: ONE conditional aggregation pass — five longs
    * cross the network, never rows.
    */
  def filterAgreementKappa(
      flags: DataFrame,
      aCol: String = "keep_a",
      bCol: String = "keep_b"
  ): DataFrame = {
    val a = col(aCol)
    val b = col(bCol)
    flags.agg(
        count(lit(1)).as("n"),
        count(when(a && b, lit(1))).as("n11"),
        count(when(a && !b, lit(1))).as("n10"),
        count(when(!a && b, lit(1))).as("n01"),
        count(when(!a && !b, lit(1))).as("n00"))
      // peN = a1·b1 + a0·b0 (chance-agreement numerator over n²).
      // The milli division truncates toward zero in BOTH engines
      // (Spark `div` and DuckDB `//` are C-style; measured -7//2=-3),
      // so the negative path needs no floor identity — it needs the
      // SAME truncation, which is the default.
      .withColumn("__peN", expr(
        "(n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)"))
      .withColumn("__num", expr("1000 * (n * (n11 + n00) - __peN)"))
      .withColumn("__den", expr("n * n - __peN"))
      .withColumn("po_ppm", expr("(n11 + n00) * 1000000 div n"))
      .withColumn("pe_ppm", expr("__peN * 1000000 div (n * n)"))
      .withColumn("kappa_milli", expr(
        "CASE WHEN __den = 0 THEN NULL ELSE __num div __den END"))
      .drop("__peN", "__num", "__den")
  }

  /** Per-source percentile-rank normalization of the quality score —
    * the calibration step before a GLOBAL quality threshold: raw
    * scores are not comparable across sources (boilerplate-heavy
    * sources compress the range), so each doc gets its rank position
    * INSIDE its source as exact milli (0 = source's worst,
    * 1000 = best, midpoint for a singleton source). Deterministic
    * total order (quality, doc_id); windows partition by source, so
    * the pass scales with the largest source, never the corpus.
    */
  def qualityRankNormalize(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = qualityScore(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality"), col("doc_id"))
    q.select(col("doc_id"), col("source"), col("quality"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_src",
        count(lit(1)).over(Window.partitionBy(col("source")))
          .cast("long"))
      .withColumn("pct_milli", expr(
        """CASE WHEN n_src = 1 THEN 500
          | ELSE (rk - 1) * 1000 div (n_src - 1) END""".stripMargin))
      .select(col("doc_id"), col("source"), col("rk"), col("n_src"),
        col("pct_milli"))
  }

  /** Windowed token co-occurrence PMI — the distributional-semantics
    * signal (which token pairs travel together beyond chance) that
    * adjacency bigrams miss: every unordered pair within `window`
    * positions counts one observation, marginals and the total live
    * in the SAME pair space, and the pointwise MI closes in the
    * exact eventPmi q20-ln convention
    * (`⌊ln n_ab⌋ + ⌊ln T⌋ − ⌊ln n_a⌋ − ⌊ln n_b⌋`, every ln of an
    * INTEGER count). The position self-join is bounded in CANDIDATE
    * ENUMERATION, not just output: positions bucket by `i div
    * window` and the left side joins on (doc_id, bucket) twice (own
    * bucket and bucket+1 — any successor within `window` positions
    * lives in one of the two), so the hash join probes O(window)
    * rows per position even on one pathological long document,
    * instead of the len² a bare doc_id equi-key would enumerate.
    * Pair table stays |tokens|·window and the global top-N plans as
    * TakeOrdered (no unpartitioned window). `minPairCount` keeps the
    * ln out of the noise floor.
    */
  def windowCooccurrencePmi(
      docs: DataFrame,
      window: Int = 5,
      minPairCount: Long = 5L,
      topN: Int = 50
  ): DataFrame = {
    require(window >= 1, s"window must be positive, got $window")
    // In-row window explode (r18 optimization): each token pairs
    // with the next `window` positions of ITS OWN token array via
    // slice — the exact `a.i < b.i && b.i − a.i <= window` pair
    // multiset — so the bucketed position self-join (two corpus
    // exchanges + the bucket-duplication explode) disappears
    // entirely; the only shuffle left is the (ta, tb) aggregate,
    // map-side combined. Same rows, measured 1.9 s → ~0.7 s at
    // sf0.1.
    val pairs = graft.Caches.track("text", docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("toks"),
        posexplode(col("toks")).as(Seq("i", "tok")))
      .select(col("tok").as("tok_a"),
        explode(slice(col("toks"), col("i") + lit(2), lit(window)))
          .as("tok_b"))
      .select(least(col("tok_a"), col("tok_b")).as("ta"),
        greatest(col("tok_a"), col("tok_b")).as("tb"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_ab")))
    val marg = pairs.select(col("ta").as("t"), col("n_ab"))
      .unionAll(pairs.select(col("tb").as("t"), col("n_ab")))
      .groupBy(col("t")).agg(sum(col("n_ab")).as("n_t"))
    val tot = pairs.agg(sum(col("n_ab")).as("n_pairs_total"))
    def lnq20(c: Column): Column =
      floor(log(c.cast("double")) * (1L << 20)).cast("long")
    pairs.filter(col("n_ab") >= minPairCount)
      .join(marg.withColumnRenamed("t", "ta")
        .withColumnRenamed("n_t", "n_a_pairs"), "ta")
      .join(marg.withColumnRenamed("t", "tb")
        .withColumnRenamed("n_t", "n_b_pairs"), "tb")
      .crossJoin(broadcast(tot))
      .select(col("ta"), col("tb"), col("n_ab"), col("n_a_pairs"),
        col("n_b_pairs"), col("n_pairs_total"),
        (lnq20(col("n_ab")) + lnq20(col("n_pairs_total")) -
          lnq20(col("n_a_pairs")) - lnq20(col("n_b_pairs")))
          .as("pmi_q20"))
      .orderBy(col("pmi_q20").desc, col("ta"), col("tb"))
      .limit(topN)
  }

  /** Source-pair TF-IDF cosine similarity — the corpus-comparison
    * matrix ("which sources say the same things") that vocabulary
    * Jaccard ([[sourceOverlap]]) flattens: weights = tf ×
    * (⌊ln N⌋_q20 − ⌊ln df⌋_q20), ALL integers (the ln-of-integer
    * convention — no ln of a rational is ever taken), so sparse dot
    * products and norms are exact DECIMAL(38,0) sums in any
    * aggregation order; the only IEEE steps are the final
    * correctly-rounded sqrt/divide into cos_milli. Cost: one token
    * scan, a vocab-keyed self-join of |sources|·|vocab| weight rows,
    * |sources|² rows out — scales with vocabulary, not corpus rows.
    * The raw q40-scaled dot is emitted descaled by 2⁴⁰ so the
    * skeleton stays in BIGINT at any corpus size.
    */
  def sourceTfidfCosine(docs: DataFrame): DataFrame = {
    def lnq20(c: Column): Column =
      floor(log(c.cast("double")) * (1L << 20)).cast("long")
    val toks = docs.select(col("doc_id"), col("source"),
      explode(tokens(col("text"))).as("tok"))
    // r19 (guide §2.4/§5): tf and df each re-tokenized the corpus;
    // ONE persisted per-(doc, tok) count table serves both — tf is
    // its per-source sum (a doc has one source), df its per-token
    // row count (rows ARE the distinct (doc, tok) pairs).
    val g = graft.Caches.track("text", toks
      .groupBy(col("doc_id"), col("source"), col("tok"))
      .agg(count(lit(1)).as("c")))
    val tf = g.groupBy(col("source"), col("tok"))
      .agg(sum(col("c")).as("tf"))
    val dfreq = g.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = graft.Caches.track("text", tf.join(dfreq, "tok")
      .crossJoin(broadcast(nDocs))
      .select(col("source"), col("tok"),
        (col("tf") * (lnq20(col("n_docs")) - lnq20(col("df"))))
          .as("w")))
    val norms = w.groupBy(col("source"))
      .agg(sum(col("w").cast("decimal(38,0)") * col("w")).as("nrm2"))
    // r19 (guide §2.4, the basketLift in-row pair idiom): the old
    // token-keyed SELF-JOIN of w (two exchanges + two sorts + a
    // SortMergeJoin re-reading the persisted table) is ONE
    // groupBy(tok) collecting the ≤ |sources| (source, w) rows into
    // a sorted array and exploding i < j pairs in-row — identical
    // pair multiset: sources are distinct within a token (w has one
    // row per (source, tok)), so on the struct-sorted array position
    // order IS source order and i < j ⇔ source_a < source_b.
    w.groupBy(col("tok"))
      .agg(sort_array(collect_list(struct(col("source"), col("w"))))
        .as("zs"))
      .select(col("zs"), posexplode(col("zs")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("zs"), col("i") + lit(2), size(col("zs"))))
          .as("b"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("a.w").cast("decimal(38,0)") * col("b.w")).as("dot"))
      .join(broadcast(norms.select(col("source").as("source_a"),
        col("nrm2").as("nrm2_a"))), "source_a")
      .join(broadcast(norms.select(col("source").as("source_b"),
        col("nrm2").as("nrm2_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_common"),
        expr("CAST(dot div 1099511627776 AS BIGINT)").as("dot_int"),
        when(col("nrm2_a") === 0 || col("nrm2_b") === 0, lit(null))
          .otherwise(floor(lit(1000.0) * col("dot").cast("double") /
            (sqrt(col("nrm2_a").cast("double")) *
              sqrt(col("nrm2_b").cast("double")))).cast("long"))
          .as("cos_milli"))
  }

  /** Token burstiness — collection frequency over document frequency
    * (Church/Gale): a token whose occurrences pile into few docs
    * (names, boilerplate markers, spam tokens) scores high; function
    * words sit near 1000 milli. Exact integer ratio of two counts
    * from one token scan; `minDf` keeps hapax noise out and the
    * global top-N plans as TakeOrdered.
    */
  def tokenBurstiness(
      docs: DataFrame,
      minDf: Long = 3L,
      topN: Int = 50
  ): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cf"),
        countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("tok"), col("cf"), col("df"),
        expr("cf * 1000 div df").as("burst_milli"))
      .orderBy(col("burst_milli").desc, col("tok"))
      .limit(topN)

  /** Template-head mining — the cheap precursor to span-level
    * boilerplate removal: documents sharing an exact `headLen`-char
    * prefix are instances of one generation template (the ground
    * truth [[graft.ops.Audit.blockingEval]] audits against), and the
    * registry of heads with `n_docs ≥ minDocs` tells a curation
    * owner which templates dominate and whether they cross sources.
    * One scan, one rollup keyed by the head, TakeOrdered top-N by
    * (n_docs desc, head) — never a pair join.
    */
  def templateHeads(
      docs: DataFrame,
      headLen: Int = 40,
      minDocs: Long = 2L,
      topN: Int = 50
  ): DataFrame =
    docs
      .select(substring(col("text"), 1, headLen).as("head"),
        col("source"))
      .groupBy(col("head"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("head"))
      .limit(topN)

  /** Quality-filter yield curve — the cost side of a threshold
    * decision the decile table doesn't show: per quality VALUE
    * bucket (`⌊quality·10⌋`, engine-identical on the exact double),
    * the doc and token mass, plus the cumulative mass retained if
    * the gate cut BELOW this bucket — so "a 0.5 threshold keeps 61%
    * of tokens from 48% of docs" reads off one row. Buckets are
    * value-defined (≤ 11 by construction), so the cumulative window
    * runs over a constant frame, never the corpus; one scan + one
    * tiny rollup.
    */
  def filterYieldCurve(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = qualityScore(docs)
    val b = q.select(
        floor(col("quality") * 10).cast("int").as("bucket"),
        col("n_tokens").cast("long").as("t"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = b.agg(sum(col("n_docs")).as("tot_docs"),
      sum(col("n_tokens")).as("tot_tokens"))
    b.withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        col("cum_docs"), col("cum_tokens"),
        expr("cum_docs * 1000000 div tot_docs").as("docs_kept_ppm"),
        expr("cum_tokens * 1000000 div tot_tokens")
          .as("tokens_kept_ppm"))
  }

  def signalCorrelation(docs: DataFrame): DataFrame =
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("source"),
        length(col("text")).cast("long").as("x"),
        size(tokens(col("text"))).cast("long").as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("corr_milli",
        when(expr("n * sxx - sx * sx") > 0 &&
          expr("n * syy - sy * sy") > 0,
          floor(
            (col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double")
              / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double"))
              / sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double"))
              * 1000.0).cast("long"))
          .otherwise(lit(null).cast("long")))
      .orderBy(col("source"))

  /** Batch-vs-corpus n-gram novelty — the "is this crawl adding
    * anything" score an ingestion owner reads before paying for a
    * refresh (the dual of contamination: contamination asks how much
    * of the batch is ALREADY KNOWN against an eval set; novelty asks
    * how much is NEW against the serving corpus): per new doc, its
    * distinct 3-gram count, how many are unseen in the corpus, and
    * the exact ppm novelty. Docs under the shingle width score 0
    * over 0 shingles (emitted with novelty 0 — a 2-token doc has no
    * 3-gram identity to be novel with).
    *
    * Shape at scale: the corpus reduces to its DISTINCT-shingle
    * vocabulary once (aggregated, far smaller than the corpus; store
    * it as an artifact for incremental runs like the ingest gates'
    * seen stores); the batch explodes once and left-joins that
    * vocabulary on the shingle key — batch-sized work against an
    * aggregated table, nothing pairwise.
    */
  def ngramNovelty(newDocs: DataFrame, corpus: DataFrame): DataFrame = {
    def shingles(df: DataFrame) = df
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 2),
          zip_with(
            slice(col("toks"), lit(2), size(col("toks")) - 2),
            slice(col("toks"), lit(3), size(col("toks")) - 2),
            (b, c) => concat_ws(" ", b, c)),
          (a, bc) => concat_ws(" ", a, bc)))).as("sh"))
    val seen = shingles(corpus).select(col("sh")).distinct()
      .withColumn("__seen", lit(1))
    val scored = shingles(newDocs)
      .join(seen, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("__seen").isNull, lit(1))).as("n_unseen"))
      .withColumn("novelty_ppm",
        expr("n_unseen * 1000000 div n_shingles"))
    newDocs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        coalesce(col("novelty_ppm"), lit(0L)).as("novelty_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Per-source PII risk rollup — the governance summary over
    * [[piiRedact]]'s per-doc counts (the per-doc table says WHAT to
    * scrub; this says WHICH FEEDS leak): per source, docs with at
    * least one hit (exact ppm rate) and total hits per PII class.
    * One scan through the redact projection + a #sources-row
    * aggregation.
    */
  def piiRiskBySource(docs: DataFrame): DataFrame =
    piiRedact(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_emails") + col("n_urls") +
          col("n_long_nums") > 0, lit(1))).as("docs_with_pii"),
        sum(col("n_emails").cast("long")).as("total_emails"),
        sum(col("n_urls").cast("long")).as("total_urls"),
        sum(col("n_long_nums").cast("long")).as("total_long_nums"))
      .withColumn("pii_doc_ppm",
        expr("docs_with_pii * 1000000 div n_docs"))
      .orderBy(col("source"))

  /** Repetition signals (the Gopher-style quality filters): duplicate
    * bigram mass and most-frequent-token share. Entirely per-row
    * array math in the scan stage; the quadratic top-token fold is
    * bounded by document token count, not corpus size.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val staged = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("toks"),
        transform(sequence(lit(0), size(col("toks")) - 2),
          i => concat_ws(" ",
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2))).as("bigrams"))
    // the O(n²) top-token fold is staged once — lambda HOF bodies are
    // excluded from subexpression elimination, so two inline copies
    // would evaluate the quadratic fold twice per row
    staged
      .select(col("doc_id"), col("toks"), col("bigrams"),
        aggregate(
          transform(array_distinct(col("toks")),
            t => size(filter(col("toks"), x => x === t))),
          lit(0), (acc, c) => greatest(acc, c)).as("top_tok_count"))
      .select(
        col("doc_id"),
        size(col("bigrams")).as("n_bigrams"),
        size(array_distinct(col("bigrams"))).as("n_uniq_bigrams"),
        (lit(1.0) - size(array_distinct(col("bigrams"))).cast("double") /
          size(col("bigrams"))).as("dup_bigram_ratio"),
        col("top_tok_count"),
        (col("top_tok_count").cast("double") / size(col("toks")))
          .as("top_tok_ratio"))
  }

  /** Deterministic per-stratum hash sampling: docs are bucketed by
    * length, and each stratum keeps rows whose md5-derived 60-bit
    * draw falls under its quota threshold. Hash-based (not RNG-based)
    * so the sample is reproducible across runs, engines, and
    * partitionings — the property a training-data pipeline needs for
    * auditable subsampling. Map-side only; the draw is
    * `('0x'||substr(md5(id||salt),1,15))::BIGINT` in any engine.
    */
  /** Exact 60-bit draw threshold for rate `r` — THE single source of
    * the threshold formula; the oracle SQL interpolates these values
    * so both engines compare against the identical integer literal.
    */
  def q60(r: Double): Long = (r * math.pow(2, 60)).toLong

  /** 60-bit md5 draw over `key` — the single source of the draw half
    * of the deterministic-sampling formula (`('0x'||substr(md5(key),
    * 1,15))::BIGINT` in any engine), compared against [[q60]]
    * thresholds.
    */
  def draw60(key: Column): Column =
    conv(substring(md5(key), 1, 15), 16, 10).cast("long")

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * each raw doc by how target-like its hashed-unigram distribution
    * is, `log w(d) = Σ_tok ln p̂_target(b(tok)) − ln p̂_raw(b(tok))`
    * with add-1-smoothed bucket probabilities over `nBuckets` md5
    * buckets (the published recipe hashes n-grams into a fixed bucket
    * space precisely so the importance model is a pair of bounded
    * count tables, not a vocabulary).
    *
    * Scale shape: one scan of each corpus → two `nBuckets`-row count
    * tables (map-side combined groupBy) → their join is model-sized
    * and BROADCAST back over the raw occurrence stream → per-doc agg
    * (partial-combined, shuffle volume ≈ one row per doc). The raw
    * corpus is never shuffled by token, and nothing driver-side
    * exceeds `nBuckets` rows.
    *
    * Exact-integer skeleton for the oracle: `n_toks`, `sum_ct`,
    * `sum_cr`, `min_ct` are pure counts (engine-exact); the ln-derived
    * `sum_lr_q20` / `log_w` columns ride the same q20 fixed-point
    * trick as [[unigramScore]] (per-bucket `floor(ln(c+1)·2^20)`
    * longs summed exactly — partition-order-safe) and are
    * differential-spec-tested rather than oracle-hashed.
    */
  def dsirWeights(
      raw: DataFrame,
      target: DataFrame,
      nBuckets: Int = 1024
  ): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val q20 = (1L << 20).toDouble
    def occ(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .select(col("doc_id"),
        pmod(draw60(col("token")), lit(nBuckets.toLong)).as("b"))
    def bucketCounts(docs: DataFrame, as: String): DataFrame =
      occ(docs).groupBy(col("b")).agg(count(lit(1)).as(as))
    // r19 (guide §2.4/§5): the raw corpus was tokenized + md5-drawn
    // TWICE (bucket totals + the per-doc scoring pass). Aggregate to
    // the per-(doc, bucket) histogram once and persist it — ≤ 1024
    // rows per doc, both the cr totals and the scoring aggregate
    // derive from it with weights (Σ_tokens x ≡ Σ_groups c·x, and
    // min over groups ≡ min over tokens since c ≥ 1).
    val rawHist = graft.Caches.track("text", occ(raw)
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("c")))
    val cr = rawHist.groupBy(col("b"))
      .agg(sum(col("c")).as("cr"))
    val ct = bucketCounts(target, "ct")
    // model: nBuckets rows — per-bucket counts + the q20 log-ratio
    // skeleton ln(ct+1) − ln(cr+1), floored to longs so downstream
    // sums are exact integers under any partitioning
    val model = cr.join(ct, Seq("b"), "full_outer")
      .select(col("b"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
      .withColumn("lr_q20",
        (floor(log(col("ct").cast("double") + 1.0) * q20) -
          floor(log(col("cr").cast("double") + 1.0) * q20))
          .cast("long"))
    // corpus-level smoothing constant ln(R+B) − ln(T+B), one row
    val totals = model.agg(
      sum(col("cr")).as("__r_total"), sum(col("ct")).as("__t_total"))
    rawHist
      .join(broadcast(model), "b")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_toks"),
        sum(col("c") * col("ct")).as("sum_ct"),
        sum(col("c") * col("cr")).as("sum_cr"),
        min(col("ct")).as("min_ct"),
        sum(col("c") * col("lr_q20")).as("sum_lr_q20"))
      .crossJoin(broadcast(totals))
      .withColumn("log_w",
        col("sum_lr_q20").cast("double") / q20 +
          col("n_toks").cast("double") *
            (log(col("__r_total").cast("double") + nBuckets) -
              log(col("__t_total").cast("double") + nBuckets)))
      .drop("__r_total", "__t_total")
  }

  /** Deterministic DSIR selection: the `k` raw docs with the highest
    * importance weight (ties → lowest doc_id). The published method
    * gumbel-samples ∝ w; the deterministic argmax variant is the
    * reproducible form a curation audit wants, and a caller who needs
    * sampled selection composes `dsirWeights` with
    * [[temperatureSample]]-style draws instead.
    */
  def dsirResample(
      raw: DataFrame,
      target: DataFrame,
      k: Int,
      nBuckets: Int = 1024
  ): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val w = dsirWeights(raw, target, nBuckets)
    // TakeOrdered shape: per-partition top-k, then merge — never a
    // global sort of the corpus
    w.orderBy(col("log_w").desc, col("doc_id")).limit(k)
  }

  /** The capstone composition — the end-to-end "prepare training
    * data" pipeline a 100 TB curation job runs, built entirely from
    * the operators above:
    *
    *  1. quality gate (scan-stage score ≥ threshold);
    *  2. exact dedup (md5 min-doc — near-dup collapse subsumes it
    *     only for docs long enough to shingle, so sub-3-token exact
    *     copies need this explicit pass);
    *  3. near-duplicate collapse: exact shingle-Jaccard pair graph →
    *     connected components → keep each cluster's min-id
    *     representative;
    *  4. PII redaction over the survivors (scan-stage);
    *  5. token-window chunking with overlap (scan-stage);
    *  6. deterministic hash sampling of chunks (reproducible under
    *     any partitioning).
    *
    * Shuffle census at scale: the exact-dedup agg, the pair join and
    * the component iteration over the (small) near-dup graph;
    * everything else stays in the scan stage.
    */
  def prepareTrainingData(
      docs: DataFrame,
      qualityThreshold: Double = 0.4,
      jaccardThreshold: Double = 0.5,
      sampleRate: Double = 0.5,
      window: Int = 50,
      stride: Int = 40,
      precomputedPairs: Option[(DataFrame, Double)] = None
  ): DataFrame = {
    precomputedPairs.foreach { case (_, srcThreshold) =>
      // a graph can only be re-filtered DOWN: pairs below its source
      // threshold were never materialized and cannot be recovered
      require(srcThreshold <= jaccardThreshold,
        s"precomputed pair graph at threshold $srcThreshold cannot " +
          s"serve a request at $jaccardThreshold")
    }
    // persisted: the quality-gated corpus feeds the pair restriction,
    // the (eager, iterative) clustering, and the redaction join —
    // unpersisted, each leg re-runs the scan + HOF quality exprs
    val kept = graft.Caches.track("text", exactDedup(
      docs.join(
        qualityScore(docs)
          .filter(col("quality") >= qualityThreshold)
          .select(col("doc_id")),
        "doc_id")))
    // a pair's jaccard is independent of other docs, so a corpus-wide
    // pair graph (computed once per session) restricted to the kept
    // set is EXACTLY the kept-set pair graph — pass it in to avoid
    // re-running the similarity join per downstream pipeline
    val pairs = precomputedPairs
      .map { case (p, _) =>
        p.filter(col("jaccard") >= jaccardThreshold)
          .join(kept.select(col("doc_id").as("doc_a")),
            Seq("doc_a"), "left_semi")
          .join(kept.select(col("doc_id").as("doc_b")),
            Seq("doc_b"), "left_semi")
      }
      .getOrElse(jaccardExactPairs(kept, jaccardThreshold))
    val reps = dupClusters(kept, pairs)
      .filter(col("doc_id") === col("cluster"))
      .select(col("doc_id"))
    val redacted = piiRedact(kept.join(reps, "doc_id"))
      .select(col("doc_id"), col("redacted").as("text"))
    val chunks = chunkDocs(redacted, window, stride)
    val draw = draw60(concat(col("doc_id").cast("string"), lit(":"),
      col("chunk_id").cast("string"), lit(":chunk")))
    chunks.filter(draw < lit(q60(sampleRate)))
  }

  /** Incremental exact dedup of a new batch against an existing
    * corpus — the daily-ingestion shape: dedup the batch internally
    * (lowest doc_id wins), then drop every doc whose content hash
    * already exists in `seenDocs`. One hash-keyed anti-join; at
    * 100 TB the seen-hash side is billions of 16-byte keys that
    * shuffle fine, and [[fitSeenBloom]] supplies a map-side prefilter
    * that keeps most of the (mostly-novel) batch out of the join
    * entirely while leaving the result EXACT — bloom "maybe" rows
    * still go through the anti-join, so false positives cannot drop a
    * novel doc.
    */
  def incrementalDedup(
      docs: DataFrame,
      seenDocs: DataFrame,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None
  ): DataFrame =
    incrementalDedupHashes(docs, seenHashes(seenDocs), bloom)

  /** The persisted-hash table the exact gate consumes: one 16-byte
    * md5 per distinct seen text — the exact-dedup counterpart of
    * [[nearDupSignatures]] (store hashes at ingestion, never re-read
    * the seen text). */
  def seenHashes(seenDocs: DataFrame): DataFrame =
    seenDocs
      .select(md5(col("text").cast("binary")).as("text_hash")).distinct()

  /** [[incrementalDedup]] against a PRECOMPUTED seen-hash table
    * ([[seenHashes]] rows) — the deployment form; the text overload
    * delegates here so the two cannot diverge. */
  def incrementalDedupHashes(
      docs: DataFrame,
      seenHashTable: DataFrame,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None
  ): DataFrame = {
    val seenH = seenHashTable.select(col("text_hash").as("__h"))
    val batch = exactDedup(docs)
      .withColumn("__h", md5(col("text").cast("binary")))
    val joined = bloom match {
      case None => batch.join(seenH, Seq("__h"), "left_anti")
      case Some(b) =>
        val mightContain = udf((h: String) => b.mightContainString(h))
        // definitely-unseen rows bypass the shuffle; only bloom
        // "maybe" rows (true hits + fpp noise) pay the anti-join
        batch.filter(!mightContain(col("__h")))
          .union(batch.filter(mightContain(col("__h")))
            .join(seenH, Seq("__h"), "left_anti"))
    }
    joined.drop("__h")
  }

  /** Offline bloom fit over the seen corpus' content hashes — the
    * build-once artifact of the incremental-dedup path (same
    * fit-offline/probe-many pattern as the IVF quantizer). Eager by
    * nature (one aggregation job); memoize via `Caches.cached` in a
    * long-lived service.
    */
  def fitSeenBloom(
      seenDocs: DataFrame,
      expectedItems: Long,
      fpp: Double = 0.01
  ): org.apache.spark.util.sketch.BloomFilter =
    seenDocs
      .select(md5(col("text").cast("binary")).as("__h"))
      .stat.bloomFilter("__h", expectedItems, fpp)

  /** Per-source document cap (the C4/RefinedWeb-style domain quota:
    * no single source may dominate the mixture): keep at most `cap`
    * docs per source, chosen by the deterministic 60-bit draw so the
    * survivors are a reproducible uniform sample of each source.
    * One window rank per source; at extreme source skew switch the
    * rank to the salted two-phase shape (`Relational.saltedAgg`) —
    * the draw order makes any K-subset selection equivalent.
    */
  def sourceCap(
      docs: DataFrame,
      cap: Int,
      salt: String = "cap"
  ): DataFrame = {
    val draw = draw60(
      concat(col("doc_id").cast("string"), lit(":" + salt)))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("draw"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"), draw.as("draw"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select(col("doc_id"), col("source"))
  }

  /** Token-budget mixture sampling: per language, admit docs in
    * deterministic draw order until the language's token budget is
    * reached (a doc is admitted iff the tokens BEFORE it in draw
    * order are under budget, so each language overshoots by at most
    * one document). This is the mixture-construction step of a
    * training run — "2 B tokens of en, 500 M of de" — expressed as
    * one window sum per language over exact integers; languages with
    * no budget entry are excluded. Reproducible under any
    * partitioning (hash draw, not RNG).
    */
  /** UniMax budget allocation (Chung et al., "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", ICLR 2023): split a total token budget across
    * languages by waterfilling — ascending by corpus size, each
    * language gets `min(its tokens × epochsCap, the fair share of
    * what remains)`, and whatever a small language doesn't need
    * redistributes over the rest. Exact integer arithmetic (floor
    * division), so the allocation is engine-reproducible.
    *
    * Scale shape: the per-language count table is #languages rows —
    * model-sized by definition — so the waterfilling loop is
    * driver-side over one collected aggregate of a single corpus
    * scan; the heavy half (admission) is [[tokenBudgetSample]]'s
    * distributed per-lang window. `epochsCap > 1` only RAISES a
    * language's allocation ceiling; emitting repeated epochs is the
    * trainer's concern, not the sampler's.
    */
  def unimaxBudgets(
      docs: DataFrame,
      totalBudget: Long,
      epochsCap: Int = 1
  ): Seq[(String, Long)] = {
    require(totalBudget >= 0, s"negative budget $totalBudget")
    require(epochsCap >= 1, s"epochsCap must be >= 1, got $epochsCap")
    val counts = docs
      .select(col("lang"), size(tokens(col("text"))).as("n"))
      .groupBy(col("lang")).agg(sum(col("n")).as("toks"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .sortBy { case (lang, n) => (n, lang) }
    var remBudget = totalBudget
    var remLangs = counts.length
    counts.map { case (lang, n) =>
      val share = remBudget / remLangs // floor; both non-negative
      val b = math.min(n * epochsCap, share)
      remBudget -= b
      remLangs -= 1
      lang -> b
    }.toSeq
  }

  /** UniMax end to end: allocate with [[unimaxBudgets]], admit with
    * [[tokenBudgetSample]] (deterministic draw-ordered admission per
    * language until its allocated budget is spent).
    */
  def unimaxSample(
      docs: DataFrame,
      totalBudget: Long,
      epochsCap: Int = 1
  ): DataFrame =
    tokenBudgetSample(docs,
      unimaxBudgets(docs, totalBudget, epochsCap), salt = "unimax")

  def tokenBudgetSample(
      docs: DataFrame,
      budgets: Seq[(String, Long)],
      salt: String = "budget"
  ): DataFrame = {
    val draw = draw60(
      concat(col("doc_id").cast("string"), lit(":" + salt)))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("draw"), col("doc_id"))
    val budgetCol = budgets
      .foldLeft(lit(0L)) { case (acc, (lang, b)) =>
        when(col("lang") === lang, lit(b)).otherwise(acc)
      }
    docs
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).as("n_tokens"), draw.as("draw"))
      .withColumn("cum_before",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .filter(col("cum_before") < budgetCol)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("cum_before"))
  }

  /** Quality-distribution drift between two corpus versions —
    * population stability index (PSI), the standard monitoring
    * statistic for "did this refresh change the data?": bucket the
    * quality score into `nBuckets` equal-width bins, Laplace-smooth
    * (+1 per bin, the zero-bin convention), and report per bin
    *
    *   psi_term = (p̂_cur − p̂_ref) · ln(p̂_cur / p̂_ref)
    *
    * (total PSI = Σ terms; > 0.2 is the conventional "shifted"
    * alarm). Determinism discipline: the ln rides the q20 convention
    * on EXACT integer products — ln(p̂c/p̂r) =
    * ⌊ln((c+1)(refT+nB))·2^20⌋ − ⌊ln((r+1)(curT+nB))·2^20⌋ — and
    * psi_term is then fixed-order IEEE arithmetic on exact integers
    * (the classifier-logit contract), so the whole table
    * hash-compares. All nBuckets rows are emitted (a bin empty on
    * both sides still carries the totals' smoothing mass).
    *
    * Shape: two corpus scans → two nBuckets-row count tables
    * (map-side combined) → spine join + 1-row totals broadcast —
    * nothing above nBuckets rows past the scans.
    */
  def qualityDrift(
      ref: DataFrame,
      cur: DataFrame,
      nBuckets: Int = 10
  ): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    def bucketCounts(d: DataFrame, as: String): DataFrame =
      qualityScore(d)
        .select(least(floor(col("quality") * nBuckets),
          lit(nBuckets - 1)).cast("int").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as(as))
    val spine = ref.sparkSession.range(nBuckets.toLong)
      .select(col("id").cast("int").as("bucket"))
    // persisted: the 2·nBuckets-row joined table feeds both the
    // totals aggregate and the output — without it both corpus
    // aggregations run twice
    val j = graft.Caches.track("text", spine
      .join(bucketCounts(ref, "ref_cnt"), Seq("bucket"), "left")
      .join(bucketCounts(cur, "cur_cnt"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
        coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt")))
    val tot = j.agg(sum(col("ref_cnt")).as("ref_total"),
      sum(col("cur_cnt")).as("cur_total"))
    j.crossJoin(broadcast(tot))
      .withColumn("lnratio_q20",
        floor(log(((col("cur_cnt") + 1) *
          (col("ref_total") + nBuckets)).cast("double")) * (1L << 20))
          .cast("long") -
          floor(log(((col("ref_cnt") + 1) *
            (col("cur_total") + nBuckets)).cast("double")) * (1L << 20))
            .cast("long"))
      .withColumn("psi_term",
        ((col("cur_cnt") + 1).cast("double") /
          (col("cur_total") + nBuckets) -
          (col("ref_cnt") + 1).cast("double") /
            (col("ref_total") + nBuckets)) *
          (col("lnratio_q20").cast("double") / (1L << 20).toDouble))
      .select(col("bucket"), col("ref_cnt"), col("cur_cnt"),
        col("ref_total"), col("cur_total"), col("lnratio_q20"),
        col("psi_term"))
  }

  /** Mixture epoch planning — the data-recipe table of a training
    * run (the published LLaMA/Pile form: each source gets a mixture
    * weight, and sources whose share exceeds their data are repeated
    * for multiple epochs): given ppm weights per group and a total
    * token budget, report per group the available tokens, the
    * target, the implied epoch count, and whether the recipe
    * oversamples it. Complements [[unimaxBudgets]] (which DERIVES an
    * allocation under an epoch cap; this AUDITS a given recipe).
    * All exact integers: `target = weight_ppm·budget div 10⁶`,
    * `epochs_q20 = target·2^20 div avail` (null when the group has
    * no data — a recipe row pointing at an empty group is a config
    * error the `oversampled` flag surfaces). Long math is exact for
    * budgets up to ~8·10¹² tokens (weight·budget < 2^63).
    *
    * Shape: one scan → per-group count/sum agg (groups-row result) →
    * full-outer join with the (driver-literal) recipe — recipe rows
    * with no data and data with no recipe row both surface.
    */
  def mixtureEpochPlan(
      docs: DataFrame,
      weightsPpm: Seq[(String, Long)],
      totalBudget: Long,
      groupCol: String = "lang"
  ): DataFrame = {
    require(weightsPpm.nonEmpty, "mixtureEpochPlan: empty recipe")
    require(totalBudget >= 0,
      s"totalBudget must be non-negative, got $totalBudget")
    val session = docs.sparkSession
    import session.implicits._
    val w = weightsPpm.toDF("grp", "weight_ppm")
    val avail = docs
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("avail_tokens"))
    avail
      .join(w, Seq("grp"), "full_outer")
      .select(col("grp").as(groupCol),
        coalesce(col("weight_ppm"), lit(0L)).as("weight_ppm"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("avail_tokens"), lit(0L)).as("avail_tokens"))
      .withColumn("target_tokens",
        expr(s"(weight_ppm * ${totalBudget}L) div 1000000"))
      .withColumn("epochs_q20",
        when(col("avail_tokens") > 0,
          expr("(target_tokens * 1048576) div avail_tokens")))
      .withColumn("oversampled",
        col("target_tokens") > col("avail_tokens"))
  }

  /** Deterministic train/val/test assignment — the reproducible-split
    * primitive every training pipeline needs: each doc's 60-bit md5
    * draw is compared against the cumulative split thresholds, so
    * the assignment is a pure function of (doc_id, salt) — stable
    * across runs, engines, partitionings, and corpus growth (a doc
    * keeps its split when new docs arrive; an RNG split reshuffles
    * everything). Fractions may sum below 1 — the remainder lands in
    * `held_out`. First matching threshold wins; map-side only.
    */
  def deterministicSplit(
      docs: DataFrame,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      salt: String = "split"
  ): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0),
      "split fractions must be non-negative")
    require(splits.map(_._2).sum <= 1.0 + 1e-9,
      s"split fractions sum to ${splits.map(_._2).sum} > 1")
    val draw = draw60(
      concat(col("doc_id").cast("string"), lit(":" + salt)))
    val thresholds = splits.map(_._2).scanLeft(0.0)(_ + _).tail.map(q60)
    val assign = splits.zip(thresholds)
      .foldRight(lit("held_out")) { case (((name, _), thr), els) =>
        when(draw < thr, lit(name)).otherwise(els)
      }
    docs.select(col("doc_id"), assign.as("split"))
  }

  /** Deterministic training-order shuffle, sharded form — how a
    * training run actually consumes "shuffled" data at scale: each
    * doc lands in a hash-assigned shard (`pmod(draw, nShards)` — a
    * shard is one output file / reader stream) and gets a rank
    * within its shard by the same draw; global training order is
    * (shard, shard_rank). A fixed bijection of a uniform hash is a
    * reproducible permutation: stable across runs, engines, and
    * partitionings, no RNG state to checkpoint. The rank window is
    * PARTITIONED by shard, so no stage ever sees more than one
    * shard — this scales where a global row_number cannot (contrast
    * [[qualityPercentiles]]' documented single-window calibration
    * scale).
    */
  def trainingShuffleShards(
      docs: DataFrame,
      nShards: Int = 8,
      salt: String = "shuffle"
  ): DataFrame = {
    require(nShards >= 1, s"nShards must be positive, got $nShards")
    val draw = draw60(
      concat(col("doc_id").cast("string"), lit(":" + salt)))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("draw"), col("doc_id"))
    docs
      .select(col("doc_id"), draw.as("draw"))
      .withColumn("shard",
        pmod(col("draw"), lit(nShards.toLong)).cast("int"))
      .withColumn("shard_rank", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("shard_rank"))
  }

  /** md5-based 60-bit SimHash signature over a token array. Unlike
    * [[graft.functions.simhash64]] (xxhash mixing, fastest path, no
    * SQL twin), this variant's per-token hash is the same
    * `('0x'||substr(md5(tok),1,15))::BIGINT` both Spark and any
    * ANSI engine compute — so the signature, and everything derived
    * from it, is oracle-checkable bit for bit.
    *
    * Bit b of the signature is set iff more than half the tokens
    * have bit b set in their hash (2·count_b > n_tokens — the
    * +1/−1 majority vote in exact integer form; empty docs → 0).
    * One pass over the tokens with an array-of-counters accumulator;
    * pure scan-stage column expressions.
    */
  def simhash60(toks: Column): Column = {
    val bits = 60
    val tokenHash = (t: Column) =>
      conv(substring(md5(t), 1, 15), 16, 10).cast("long")
    // per-hash bit vector as a 60-wide int array (literal shifts
    // unroll at plan build; the whole fold stays in codegen)
    val contrib = (h: Column) => array(
      (0 until bits).map(b =>
        shiftright(h, b).bitwiseAND(lit(1L)).cast("int")): _*)
    val counts = aggregate(
      transform(toks, tokenHash),
      array_repeat(lit(0), bits),
      (acc, h) => zip_with(acc, contrib(h), (a, c) => a + c))
    val n = size(toks).cast("long")
    (0 until bits).map(b =>
      when(element_at(counts, b + 1).cast("long") * 2 > n, lit(1L << b))
        .otherwise(lit(0L))).reduce(_ + _)
  }

  /** SimHash near-duplicate pairs at hamming distance ≤ `maxHamming`
    * via pigeonhole banding — EXACT, not probabilistic: the 60-bit
    * signature splits into `maxHamming + 1` equal bands, and two
    * signatures differing in ≤ maxHamming bits must agree on at
    * least one whole band, so the band-bucket self-join generates a
    * strict superset of the true pairs and the `bit_count(xor)`
    * verify keeps exactly them. Never n²: only same-band-bucket
    * pairs are compared (the standard Manku et al. web-dedup
    * decomposition). At 100 TB each band join shuffles 8-byte keys;
    * a degenerate bucket (e.g. the all-zero signature of empty docs)
    * is the same hot-key shape as any LSH bucket — salt or cap it if
    * a corpus concentrates there.
    */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1
    require(maxHamming >= 0 && 60 % nBands == 0,
      s"maxHamming + 1 = $nBands must divide the 60-bit signature")
    val bandBits = 60 / nBands
    // Signature via the NATIVE expression (graft_simhash60_md5):
    // per-row scan-stage work, no shuffle. The [[simhash60]] column
    // fold computes the identical value but through interpreted
    // array HOFs (CodegenFallback — measured 4× slower), and an
    // explode + 60-bit-count-sums aggregate pays seconds of janino
    // compile for its 61-column update function; the native loop has
    // neither cost. Differential equality of the paths is
    // spec-tested. A small single-file corpus arrives as one split —
    // spread only when under-split (same gate as Vector.unitized).
    // Cached: the band self-join would otherwise build signatures
    // twice.
    val parallelism =
      docs.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (docs.rdd.getNumPartitions * 2 >= parallelism) docs
      else docs.repartition(col("doc_id"))
    val sigs = graft.Caches.track("text", spread.select(col("doc_id"),
      graft.functions.simhash60md5(tokens(col("text"))).as("simhash")))
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until nBands).map(i => struct(
        lit(i).as("band"),
        shiftright(col("simhash"), i * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("bits"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.bits").as("bits"))
    banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") &&
          col("l.bits") === col("r.bits") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.simhash").as("sim_a"), col("r.simhash").as("sim_b"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b")))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Corpus-wide adjacent-pair counts over the BPE-ish pre-tokens —
    * one merge step of BPE vocabulary induction (count every
    * adjacent segment pair, rank by frequency; the top pair is the
    * next merge). Exact integers with a deterministic total order
    * (count desc, then pair), so top-N is reproducible. The shape at
    * 100 TB: pairs explode in the scan stage, one shuffle on the
    * pair key with map-side combine, `minCount` floors the long tail
    * out of the reducers (same HAVING pushdown as [[docFrequency]]),
    * and top-N is TakeOrderedAndProject — no global sort.
    */
  def bpePairCounts(
      docs: DataFrame,
      minCount: Long = 2L,
      topN: Int = 100
  ): DataFrame = {
    val toks = regexp_extract_all(col("text"), lit(BpePattern), lit(0))
    docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("tok_a"), b.as("tok_b")))).as("p"))
      .groupBy(col("p.tok_a").as("tok_a"), col("p.tok_b").as("tok_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_pairs") >= minCount)
      .orderBy(col("n_pairs").desc, col("tok_a"), col("tok_b"))
      .limit(topN)
  }

  /** Distributed BPE merge learning (Sennrich-style vocabulary
    * induction) — the tokenizer-TRAINING step a data pipeline runs
    * before token counting: start from whitespace words as character
    * sequences, repeatedly find the globally most frequent adjacent
    * symbol pair (weighted by word frequency) and fuse it, up to
    * `nMerges` rounds or until the best pair drops under `minCount`.
    * Returns the learned merge table (merge_rank, left, right,
    * pair_count) — deterministic: ties break on (left, right)
    * lexicographically.
    *
    * Shape at scale: ONE corpus scan builds the word-frequency table;
    * every round after that runs on distinct words only (orders of
    * magnitude smaller than the corpus — the classic BPE trick), as
    * one explode+agg job for the global argmax. The 1-row collect per
    * round is the learned model itself (driver state by definition,
    * like a KMeans fit). Each round's segmentation is truncated to a
    * localCheckpoint and the superseded round is released — same
    * iterative hygiene as `dupClusters`.
    */
  /** Greedy left-to-right fuse of one BPE merge rule over a symbol
    * array: replace the accumulator tail when it ends in `l` and the
    * next symbol is `r` — non-overlapping by construction (the fused
    * symbol no longer equals `l` unless l == r, where alternating
    * fuses are exactly the greedy semantics). Shared by the learner
    * and the encoder: learn/encode consistency is the differential
    * test's core invariant.
    */
  private[graft] def fuseMerge(seg: Column, l: String, r: String): Column =
    aggregate(seg, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(l) && s === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat(element_at(acc, -1), s))))
          .otherwise(concat(acc, array(s))))

  def bpeLearnMerges(
      docs: DataFrame,
      nMerges: Int = 20,
      minCount: Long = 2L
  ): DataFrame = {
    require(nMerges >= 1, s"nMerges must be positive, got $nMerges")
    val spark = docs.sparkSession
    // LAZY truncation: each round's argmax collect is the action that
    // materializes the current segmentation's checkpoint (one job per
    // round, not two — the same count-doubles-as-materializer trick
    // dupClusters uses); the superseded round's blocks are released
    // right after the successor is materialized
    def snapshot(df: DataFrame): DataFrame =
      df.localCheckpoint(eager = false)
    def releaseSnapshot(df: DataFrame): Unit =
      org.apache.spark.sql.graftx.Bridge.leafRdd(df)
        .foreach(_.unpersist(blocking = false))
    // word-frequency table: the only full-corpus pass
    val words = snapshot(docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .select(col("n"), split(col("word"), "").as("seg")))
    // the loop runs tens of tiny jobs over this table — size the
    // round partitioning to the table, not to
    // spark.sql.shuffle.partitions: ~100k words per task keeps a
    // small vocabulary to ONE task per round while a web-scale
    // distinct-word table still fans out
    val nWords = words.count()
    // Single-task route (a word probes as 2 rows, see SingleTask):
    // ALL nMerges rounds run inside ONE task — the sequential argmax
    // loop over an in-memory (n, seg) array with the exact fuseMerge
    // fold and the exact (cnt desc, l, r) UTF-8-bytewise tie-break, so
    // the merge table is identical to the per-round job loop's. The
    // ≤ nMerges merge rows come back as a driver-local frame, exactly
    // the model-sized collect bpeEncode already does.
    if (SingleTask.fits(2L * nWords)) {
      import spark.implicits._
      // UTF-8 bytewise < — Spark's string ordering, NOT UTF-16
      // compareTo (they diverge above the BMP)
      def u8lt(a: String, b: String): Boolean = {
        val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
        var i = 0
        while (i < x.length && i < y.length) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c < 0
          i += 1
        }
        x.length < y.length
      }
      val merged = SingleTask.run(words.select(col("n"), col("seg"))
        .as[(Long, Seq[String])]) { it =>
        val data = it.map { case (n, seg) =>
          (n, scala.collection.mutable.ArrayBuffer(seg: _*))
        }.toArray
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, String, String, Long)]
        var round = 1
        var done = false
        while (round <= nMerges && !done) {
          val cnt = scala.collection.mutable
            .HashMap.empty[(String, String), Long]
          data.foreach { case (n, seg) =>
            var i = 0
            while (i + 1 < seg.length) {
              val k = (seg(i), seg(i + 1))
              cnt(k) = cnt.getOrElse(k, 0L) + n
              i += 1
            }
          }
          if (cnt.isEmpty) done = true
          else {
            var bk: (String, String) = null
            var bc = Long.MinValue
            cnt.foreach { case (k, c) =>
              if (bk == null || c > bc || (c == bc &&
                  (u8lt(k._1, bk._1) || (k._1 == bk._1 &&
                    u8lt(k._2, bk._2))))) {
                bk = k; bc = c
              }
            }
            if (bc < minCount) done = true
            else {
              out += ((round, bk._1, bk._2, bc))
              val (l, r) = bk
              data.foreach { case (_, seg) =>
                // the fuseMerge fold: greedy left-to-right, the
                // fused token becomes the new left context
                val acc = scala.collection.mutable
                  .ArrayBuffer.empty[String]
                seg.foreach { s =>
                  if (acc.nonEmpty && acc.last == l && s == r)
                    acc(acc.length - 1) = acc.last + s
                  else acc += s
                }
                seg.clear(); seg ++= acc
              }
              round += 1
            }
          }
        }
        out.iterator
      }.collect()
      releaseSnapshot(words)
      return spark.createDataFrame(merged.toSeq)
        .toDF("merge_rank", "left", "right", "pair_count")
    }
    val roundParts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (nWords + 99999L) / 100000L)).toInt
    var seg = snapshot(words.repartition(roundParts))
    var prev: Option[DataFrame] = Some(words)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var round = 1
    var done = false
    while (round <= nMerges && !done) {
      val best = seg
        .filter(size(col("seg")) >= 2)
        .select(col("n"),
          explode(zip_with(
            slice(col("seg"), lit(1), size(col("seg")) - 1),
            slice(col("seg"), lit(2), size(col("seg")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      // this round's snapshot is now materialized — the previous
      // round's blocks are dead
      prev.foreach(releaseSnapshot)
      prev = Some(seg)
      if (best.isEmpty || best.head.getAs[Long]("cnt") < minCount) {
        done = true
      } else {
        val (l, r, cnt) = (best.head.getAs[String]("l"),
          best.head.getAs[String]("r"), best.head.getAs[Long]("cnt"))
        merges += ((round, l, r, cnt))
        seg = snapshot(seg.select(col("n"),
          fuseMerge(col("seg"), l, r).as("seg")))
        round += 1
      }
    }
    prev.foreach(releaseSnapshot)
    releaseSnapshot(seg)
    spark.createDataFrame(merges.toSeq)
      .toDF("merge_rank", "left", "right", "pair_count")
  }

  /** BPE ENCODE — apply a learned merge table (`bpeLearnMerges`
    * output) to the corpus and report per-doc BPE token counts. The
    * merge table is collected to the driver (it IS the model — vocab
    * sized, like a KMeans fit) and compiled into a fixed fold chain
    * in rank order, which is exactly classic encode semantics: for
    * each merge, fuse all its occurrences left-to-right, in learned
    * order.
    *
    * Shape at scale: the fold chain runs on DISTINCT words only (the
    * same trick as learning), then one join attributes piece counts
    * back to word occurrences and one agg rolls them up per doc — the
    * corpus never pays the per-merge passes.
    */
  def bpeEncode(docs: DataFrame, merges: DataFrame): DataFrame = {
    val ms = merges.orderBy(col("merge_rank")).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
    val enc = ms.foldLeft(split(col("word"), ""): Column) {
      case (c, (l, r)) => fuseMerge(c, l, r)
    }
    val words = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
    val vocab = words.select(col("word")).distinct()
      .select(col("word"), size(enc).as("n_pieces"))
    words
      .join(vocab, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_bpe_tokens"))
  }

  /** Temperature-flattened mixture over a group column (the
    * multilingual α = 0.5 sampling rule): each group keeps rate
    * min(1, √(pivot/n_g)), so a group with `pivot` docs or fewer is
    * kept whole and a group 100× larger ends only 10× larger —
    * square-root compression of the mixture's dynamic range. The
    * draw-vs-rate comparison runs in EXACT integer arithmetic
    * (draw30² · n_g < pivot · 2^60 over 38-digit decimals — both
    * factors well under 10^38 for any corpus size), so no libm
    * `pow`/`sqrt` rounding can diverge between engines and the
    * sample is bit-reproducible anywhere. Map-side except one tiny
    * per-group count agg, broadcast back.
    */
  def temperatureSample(
      docs: DataFrame,
      pivot: Long,
      groupCol: String = "source",
      salt: String = "temp"
  ): DataFrame = {
    require(pivot > 0, s"pivot must be positive, got $pivot")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val counts = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_group"))
    val draw30 = shiftright(draw60(
      concat(col("doc_id").cast("string"), lit(":" + salt))), 30)
    docs
      .select(col("doc_id"), col(groupCol))
      .join(broadcast(counts), groupCol)
      .withColumn("draw30", draw30)
      // keep-all fast path, else draw30² · n_g < pivot · 2^60
      // (draw30 < 2^30 so the square is an exact long; the decimal
      // products stay exact far beyond any corpus size)
      .filter(col("n_group") <= pivot ||
        (col("draw30") * col("draw30")).cast(dec) *
          col("n_group").cast(dec) <
          lit(pivot).cast(dec) * lit(1L << 60).cast(dec))
      .select(col("doc_id"), col(groupCol), col("n_group"))
  }

  /** Gopher-style rule-based quality gate — the MassiveText/Gopher
    * filter bundle as one per-doc flag table, the deterministic
    * sibling of [[qualityScore]]'s blended score and
    * [[classifierScore]]'s learned gate (production curation runs
    * ALL THREE and audits their agreement via
    * [[filterAgreementKappa]]): mean word length must sit in
    * [3, 10] characters, the symbol budget (`#` plus literal `...`
    * runs) must stay under 10% of words, at least 80% of words must
    * carry an alphabetic character, and at least 2 stopword hits
    * must appear (the "is this prose at all" floor). Everything is
    * exact integer ppm/milli arithmetic over whitespace tokens —
    * scan-stage only, no shuffle, no model.
    *
    * Empty / whitespace-only docs are excluded (no words to judge —
    * gate them on length upstream).
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nW = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (acc, v) => acc + v)
    val nHash = length(col("text")) -
      length(expr("replace(text, '#', '')"))
    val nEll = (length(col("text")) -
      length(expr("replace(text, '...', '')"))) / 3
    val nAlpha = size(filter(toks, t => t.rlike("[a-zA-Z]")))
      .cast("long")
    val nStop = size(filter(toks,
      t => array_contains(lit(stopwords.toArray), lower(t))))
      .cast("long")
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), nW.as("n_words"), sumLen.as("sum_len"),
        (nHash + nEll).cast("long").as("n_symbols"),
        nAlpha.as("n_alpha"), nStop.as("n_stop"))
      .select(col("doc_id"), col("n_words"),
        expr("sum_len * 1000 div n_words").as("mean_wlen_milli"),
        expr("n_symbols * 1000000 div n_words").as("symbol_ppm"),
        expr("n_alpha * 1000000 div n_words").as("alpha_ppm"),
        col("n_stop"))
      .withColumn("pass_wlen",
        col("mean_wlen_milli") >= 3000 && col("mean_wlen_milli") <= 10000)
      .withColumn("pass_symbol", col("symbol_ppm") < 100000)
      .withColumn("pass_alpha", col("alpha_ppm") >= 800000)
      .withColumn("pass_stop", col("n_stop") >= 2)
      .withColumn("pass_gopher",
        col("pass_wlen") && col("pass_symbol") &&
          col("pass_alpha") && col("pass_stop"))
  }

  /** Chain-contamination audit of the dedup clusters — how much of
    * each cluster is held together only TRANSITIVELY: connected
    * components deliberately close A~B~C into one cluster even when
    * A and C are NOT direct near-duplicates, and at aggressive
    * thresholds that chaining can glue genuinely distinct documents
    * into one keep-group (the classic over-merge failure of
    * transitive dedup). Per cluster SIZE: examined clusters, member
    * pairs, pairs directly ≥ threshold, and `transitive_ppm` — the
    * share of intra-cluster pairs with NO direct edge. High ppm at
    * large sizes is the signal to raise the threshold or switch the
    * keep-policy from per-cluster to per-edge.
    *
    * Scale honesty: intra-cluster pairs are Σ|c|² — clusters larger
    * than `maxClusterSize` are NOT silently truncated; they report
    * as their own rows with `examined = 0` and NULL pair columns,
    * so a giant-component corpus shows up loudly in the output
    * instead of vanishing from the denominator.
    *
    * `directPairs` orientation: the pair graph is normalized here —
    * each edge is canonicalized to (least, greatest) and
    * deduplicated before the membership join, so callers may pass
    * (a,b), (b,a), or both without inflating `transitive_ppm` or
    * fanning out the join (the in-repo producers emit doc_a < doc_b
    * already; the public facade must not depend on that).
    */
  def chainContamination(
      assign: DataFrame,
      directPairs: DataFrame,
      maxClusterSize: Int = 64
  ): DataFrame = {
    require(maxClusterSize >= 2, "maxClusterSize >= 2")
    val canonPairs = directPairs
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val sizes = assign.groupBy(col("cluster"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") >= 2)
    val small = assign
      .join(sizes.filter(col("sz") <= maxClusterSize), "cluster")
    val intra = small.as("a").join(small.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.cluster").as("cluster"), col("a.sz").as("sz"),
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val flagged = intra.join(
      canonPairs.select(col("doc_a"), col("doc_b"),
        lit(1L).as("direct")),
      Seq("doc_a", "doc_b"), "left")
    val examined = flagged.groupBy(col("sz"))
      .agg(countDistinct(col("cluster")).as("n_clusters"),
        count(lit(1)).as("n_pairs"),
        sum(coalesce(col("direct"), lit(0L))).as("n_direct"))
      .select(col("sz"), col("n_clusters"), lit(1L).as("examined"),
        col("n_pairs"), col("n_direct"),
        (col("n_pairs") - col("n_direct")).as("n_transitive_only"),
        expr("(n_pairs - n_direct) * 1000000 div n_pairs")
          .as("transitive_ppm"))
    val skipped = sizes.filter(col("sz") > maxClusterSize)
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("sz"), col("n_clusters"), lit(0L).as("examined"),
        lit(null).cast("long").as("n_pairs"),
        lit(null).cast("long").as("n_direct"),
        lit(null).cast("long").as("n_transitive_only"),
        lit(null).cast("long").as("transitive_ppm"))
    examined.unionByName(skipped).orderBy(col("sz"))
  }

  /** RAKE keyword extraction (Rose et al., "Automatic Keyword
    * Extraction from Individual Documents") — corpus-level candidate
    * phrases as the stopword-delimited token runs, scored by the
    * classic degree/frequency ratio: a word's degree is Σ of the
    * lengths of the phrases it occurs in (co-occurrence incl.
    * itself), its frequency the occurrence count, and a phrase
    * scores the sum of its member words' `deg·1000 div freq` —
    * floored per WORD before the sum, so the whole score is exact
    * integer milli and engine-bitwise (classic RAKE's float ratio
    * ordered only approximately). Tokens are lowercased for both
    * delimiting and scoring; runs longer than `maxPhraseLen` are
    * DISCARDED (overlong runs are list/boilerplate debris, and the
    * cap bounds the phrase arrays).
    *
    * Shape at scale: one scan to positional tokens, the
    * gaps-and-islands grouping (`pos − rank-among-content-tokens`,
    * the sequenceGaps trick applied within docs), then joins on the
    * word and phrase-text domains — vocabulary-sized, never
    * all-pairs; the final head is a TakeOrdered topN.
    */
  def rakeKeywords(
      docs: DataFrame,
      maxPhraseLen: Int = 4,
      topN: Int = 30
  ): DataFrame = {
    require(maxPhraseLen >= 1 && topN >= 1, "positive params")
    val tok = docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "tok0")))
      .select(col("doc_id"), col("pos"), lower(col("tok0")).as("tok"))
    val content = tok
      .filter(!array_contains(lit(stopwords.toArray), col("tok")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .withColumn("grp", col("pos") - col("rn"))
    val phrases = content
      .groupBy(col("doc_id"), col("grp"))
      .agg(sort_array(collect_list(struct(col("pos"), col("tok"))))
        .as("parts"))
      .select(col("doc_id"), col("grp"),
        array_join(expr("transform(parts, x -> x.tok)"), " ")
          .as("phrase"),
        size(col("parts")).cast("long").as("n_words"))
      .filter(col("n_words") <= maxPhraseLen)
    val words = phrases.select(col("doc_id"), col("grp"),
      col("phrase"), col("n_words"),
      explode(split(col("phrase"), " ")).as("word"))
    val wordScore = words.groupBy(col("word"))
      .agg(sum(col("n_words")).as("deg"), count(lit(1)).as("freq"))
      .select(col("word"), expr("deg * 1000 div freq").as("wscore"))
    val phraseScore = words
      .join(wordScore, "word")
      .groupBy(col("doc_id"), col("grp"))
      .agg(max(col("phrase")).as("phrase"),
        max(col("n_words")).as("n_words"),
        sum(col("wscore")).as("score_milli"))
    phraseScore
      .groupBy(col("phrase"))
      .agg(max(col("n_words")).as("n_words"),
        count(lit(1)).as("n_occur"),
        max(col("score_milli")).as("score_milli"))
      .orderBy(col("score_milli").desc, col("phrase"))
      .limit(topN)
  }

  /** Exact 1-D Wasserstein-1 (earth-mover) distance between each
    * source's quality distribution and the corpus's — the drift
    * metric that sees what a KS test flattens: KS reads only the
    * single worst CDF gap, EMD integrates the WHOLE displaced mass,
    * so a source that is mildly off everywhere (the classic
    * quietly-degrading feed) scores high here while its KS stays
    * small. Quality proxy: per-doc stopword rate in exact milli
    * (`n_stop·1000 div n_tokens`), bucketed to 101 support points
    * (10-milli buckets); on a 1-D bucketed support EMD has the
    * closed form Σ_b |F_src(b) − F_all(b)| — exact in integers via
    * cross-multiplied CDFs (`|cum_s·N_all − cum_all·N_s|`,
    * DECIMAL(38,0)-bridged before the ppm shift so clone-scale
    * corpora can't overflow the sum). `shift_milli` adds the signed
    * mean displacement so the table reads direction, not just
    * magnitude.
    *
    * Shape at scale: one scan to (source × bucket) counts — the
    * support is FIXED at 101 buckets, so everything after the first
    * aggregate is (#sources × 101)-sized; the corpus CDF broadcasts.
    */
  def sourceQualityEmd(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val toks = tokens(col("text"))
    val rated = docs.select(col("source"),
      (size(filter(toks,
        t => array_contains(lit(stopwords.toArray), t)))
        .cast("long") * 1000L).as("stop_k"),
      greatest(size(toks).cast("long"), lit(1L)).as("n_tok"))
      .select(col("source"),
        least(call_function("div",
          call_function("div", col("stop_k"), col("n_tok")),
          lit(10L)), lit(100L)).cast("long").as("b"))
    val perSrc = rated.groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("cnt"))
    val support = spark.range(0, 101).select(col("id").as("b"))
    val srcs = perSrc.select(col("source")).distinct()
    val dense = srcs.crossJoin(support)
      .join(perSrc, Seq("source", "b"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val wCum = Window.partitionBy(col("source")).orderBy(col("b"))
    val srcCdf = dense
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n_src",
        sum(col("cnt")).over(Window.partitionBy(col("source"))))
      .withColumn("wsum",
        sum(col("b") * col("cnt"))
          .over(Window.partitionBy(col("source"))))
    val allCdf = rated.groupBy(col("b")).agg(count(lit(1)).as("acnt"))
      .join(support, Seq("b"), "right")
      .withColumn("acnt", coalesce(col("acnt"), lit(0L)))
      .withColumn("acum",
        sum(col("acnt")).over(Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_all", sum(col("acnt")).over())
      .withColumn("awsum", sum(col("b") * col("acnt")).over())
    srcCdf.join(broadcast(allCdf), "b")
      .groupBy(col("source"))
      .agg(
        max(col("n_src")).as("n_docs"),
        sum(abs(col("cum").cast("decimal(38,0)") * col("n_all") -
          col("acum").cast("decimal(38,0)") * col("n_src")))
          .as("gap_mass"),
        max(col("n_all")).as("n_all"),
        max(col("wsum")).as("wsum"),
        max(col("awsum")).as("awsum"))
      .select(col("source"), col("n_docs"),
        expr("""CAST(gap_mass * 1000000
          | div (CAST(n_docs AS DECIMAL(38,0)) * n_all)
          | AS BIGINT)""".stripMargin).as("emd_bucket_ppm"),
        expr("wsum * 1000 div n_docs").as("mean_bucket_milli"),
        expr("awsum * 1000 div n_all").as("all_bucket_milli"),
        (expr("wsum * 1000 div n_docs") -
          expr("awsum * 1000 div n_all")).as("shift_milli"))
      .orderBy(col("source"))
  }

  /** Leave-one-source-out (jackknife) influence of each source on a
    * corpus-level mean — the "which feed moves the metric" audit
    * that turns a single corpus average into an attribution table:
    * for every source h, the mean the corpus WOULD have without it,
    * `mean_without = (Σx − Σx_h)·1000 div (n − n_h)` in exact milli,
    * and `influence_milli = mean_without − mean_all` (positive ⇒
    * dropping the source RAISES the metric ⇒ the source drags it
    * down). The jackknife form needs no second scan: one
    * partial-aggregated rollup to per-source (n_h, Σx_h) plus a
    * 1-row broadcast of the global sums gives every leave-one-out
    * mean simultaneously.
    *
    * Overflow bound (kappa convention): `Σx·1000 < 2⁶³` — with
    * x ≤ 2000 that is ~4.6·10¹² rows; quantize or cap upstream.
    * A single-source corpus emits NULL for its undefined
    * leave-one-out mean. NULL source or value rows are excluded.
    */
  def sourceInfluence(
      docs: DataFrame,
      groupCol: String,
      valueCol: String
  ): DataFrame = {
    val per = docs
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_h"),
        sum(col(valueCol).cast("long")).as("sum_h"))
    val tot = per.agg(sum(col("n_h")).as("n"),
      sum(col("sum_h")).as("sum_all"))
    per.crossJoin(broadcast(tot))
      .select(col("grp"), col("n_h"), col("sum_h"), col("n"),
        expr("sum_all * 1000 div n").as("mean_all_milli"),
        when(col("n") > col("n_h"),
          expr("(sum_all - sum_h) * 1000 div (n - n_h)"))
          .as("mean_without_milli"))
      .withColumn("influence_milli",
        col("mean_without_milli") - col("mean_all_milli"))
  }

  /** Neyman optimal allocation of a sampling budget across strata —
    * the variance-minimizing refinement of [[stratifiedSample]]'s
    * fixed rates: stratum h receives `n_h ∝ N_h·σ_h`, so
    * high-variance strata are oversampled and near-constant strata
    * barely sampled (THE textbook answer to "how many docs per
    * source should the eval sample take?").
    *
    * Exactness: per stratum one partial-aggregated scan yields
    * `N_h`, `Σx`, `Σx²`; the variance numerator
    * `s2_num = N_h·Σx² − (Σx)²` runs in DECIMAL(38,0) (HUGEINT on
    * the oracle side — ~10³⁰ at N = 10¹² with x ≤ 2000) and the
    * Neyman weight is `w_h = ⌊√(s2_num div max(N_h−1, 1))⌋`
    * (= N_h·σ_h exactly up to the floor; IEEE sqrt on an integer —
    * correctly rounded, engine-identical). The budget splits by
    * largest-remainder rounding: `base_h = B·w_h div Σw` and the
    * `B − Σbase` leftover units go to the strata with the largest
    * `(B·w_h) mod Σw`, ties by stratum name — so `Σ n_alloc = B`
    * EXACTLY, both engines agreeing on every unit.
    *
    * Shape at scale: everything after the scan is |strata|-sized
    * (the rank window runs over strata rows only). Degenerate
    * strata (σ = 0, e.g. a single-doc source) get weight 0 and rely
    * on the remainder pass; an all-zero-weight corpus splits the
    * budget by the name-ordered remainder rule alone.
    */
  def neymanAllocation(
      docs: DataFrame,
      stratumCol: String,
      valueCol: String,
      budget: Long
  ): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val strata = docs
      .filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(valueCol).cast("long")).as("sum_x"),
        sum(col(valueCol).cast("long") * col(valueCol).cast("long"))
          .cast("decimal(38,0)").as("sum_x2"))
      .withColumn("s2_num",
        expr("""CAST(n_docs AS DECIMAL(38,0)) * sum_x2
          - CAST(sum_x AS DECIMAL(38,0)) * sum_x"""))
      .withColumn("w",
        floor(sqrt(expr(
          "CAST(s2_num div greatest(n_docs - 1, CAST(1 AS BIGINT)) AS DOUBLE)")))
          .cast("long"))
    val tot = strata.agg(sum(col("w")).as("sum_w"),
      count(lit(1)).as("n_strata"))
    val based = strata.crossJoin(broadcast(tot))
      .withColumn("base",
        when(col("sum_w") > 0,
          expr(s"CAST(CAST($budget AS DECIMAL(38,0)) * w div sum_w" +
            " AS BIGINT)")).otherwise(lit(0L)))
      .withColumn("rem",
        when(col("sum_w") > 0,
          expr(s"CAST((CAST($budget AS DECIMAL(38,0)) * w) % sum_w" +
            " AS BIGINT)")).otherwise(lit(0L)))
    // |strata|-sized window: leftover units by largest remainder,
    // ties broken by stratum name so both engines hand out the same
    // units
    val wRank = Window.orderBy(col("rem").desc, col("stratum"))
    based
      .withColumn("leftover",
        lit(budget) - sum(col("base")).over(Window.partitionBy()))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("extra",
        when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .select(col("stratum"), col("n_docs"), col("sum_x"),
        expr("CAST(sum_x2 AS BIGINT)").as("sum_x2"),
        col("w"), col("base"), col("rem"), col("extra"),
        (col("base") + col("extra")).as("n_alloc"))
  }

  def stratifiedSample(
      docs: DataFrame,
      rates: Seq[(String, Double)] =
        Seq("short" -> 0.2, "medium" -> 0.5, "long" -> 1.0),
      salt: String = "strat"
  ): DataFrame = {
    val n = size(tokens(col("text")))
    val bucket = when(n < 50, lit("short"))
      .when(n < 200, lit("medium")).otherwise(lit("long"))
    val draw = draw60(
      concat(col("doc_id").cast("string"), lit(":" + salt)))
    // thresholds precomputed as exact longs so both engines compare
    // against the identical integer literal (q60 is the single source
    // of the formula — the oracle SQL interpolates the same values)
    val thr = rates.map { case (b, r) => b -> q60(r) }
    val thrCol = thr.tail.foldLeft(
      when(bucket === thr.head._1, lit(thr.head._2))) {
      case (acc, (b, t)) => acc.when(bucket === b, lit(t))
    }.otherwise(lit(0L))
    docs
      .select(col("doc_id"), bucket.as("stratum"), n.as("n_tokens"),
        draw.as("draw"), thrCol.as("thr"))
      .filter(col("draw") < col("thr"))
      .select(col("doc_id"), col("stratum"), col("n_tokens"))
  }

  /** Unigram-LM document scoring (the CCNet-style perplexity proxy of
    * a training-data pipeline, with corpus term frequencies standing
    * in for the external LM): per doc, over its token OCCURRENCES
    * (not distinct tokens — an LM scores the sequence),
    *  - `n_toks`, `sum_tf` (Σ corpus tf), `min_tf` (rarest token) —
    *    exact integers, the hash-compared skeleton;
    *  - `avg_nll` = mean −ln(tf/T), the perplexity proxy itself. A
    *    raw double Σ ln(tf) would be partition-order-dependent, so
    *    the sum accumulates per-token ⌊ln(tf)·2²⁰⌋ as an INTEGER
    *    (deterministic under any partitioning, ~1e-6 quantization)
    *    and avg_nll derives from it per row. Like [[docFrequency]]'s
    *    idf, ln() differs in the last ulp between libms, so
    *    registered queries project the q20/nll columns away and specs
    *    cover them instead (`q_text_doc_freq` precedent).
    *
    * Rare-token-heavy docs (high avg_nll / low mean tf) are the
    * gibberish-or-exotic tail a curation pipeline routes to review;
    * boilerplate scores low. Shape at scale: one tf aggregation on
    * the token, one token-keyed attribution join (same skew profile
    * as [[docFrequency]] — hot tokens are many-to-one into a
    * broadcast-able tf table once `minDf`-style floors apply), one
    * groupBy doc.
    */
  def unigramScore(docs: DataFrame): DataFrame = {
    val occ = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = occ.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    // corpus size from the aggregated tf table (Σ tf ≡ Σ occurrences)
    // — a third full corpus scan is the wrong shape at 100 TB
    val total = tf.agg(sum(col("tf")).as("__total"))
    occ
      .join(tf, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("tf")).as("sum_tf"),
        min(col("tf")).as("min_tf"),
        sum(floor(log(col("tf").cast("double")) * (1L << 20))
          .cast("long")).as("sum_ln_tf_q20"))
      .crossJoin(broadcast(total))
      .withColumn("avg_nll",
        log(col("__total").cast("double")) -
          col("sum_ln_tf_q20").cast("double") /
            (col("n_toks") * (1L << 20).toDouble))
      .drop("__total")
  }

  /** SMOOTHED bigram-LM cross-entropy scoring — the
    * Jelinek–Mercer-interpolated upgrade of [[bigramScore]] (which
    * scores raw MLE `−ln(c_vw/c_v)`: correct on seen transitions but
    * a filter wants the model every LM deployment actually uses —
    * interpolated with the successor-unigram marginal, so rare
    * contexts back off instead of spiking, and the interpolated
    * probability itself becomes an exact-integer, hash-checkable
    * column rather than a ln-only artifact). The model, in exact ppm
    * integers:
    * `p(w|v) = λ·c(vw)/c(v) + (1−λ)·c(·w)/N` with both terms
    * truncated ppm (`lambdaPpm·c_vw div c_v +
    * (10⁶−lambdaPpm)·c_w div N`, floored at 1 ppm so a frequent
    * context can never truncate a SEEN bigram to probability zero),
    * where `c(·w)` / `N` are successor-marginal and total counts off
    * the bigram table itself.
    *
    * Per doc, over its bigram OCCURRENCES:
    *  - `n_bigrams`, `sum_p_ppm`, `min_p_ppm` — exact integers (the
    *    hash-compared skeleton; min_p_ppm is the doc's most
    *    surprising transition, sum/n the mean fluency);
    *  - `ce_q20` = Σ ct·(⌊ln 10⁶·2²⁰⌋ − ⌊ln(p_ppm)·2²⁰⌋) and
    *    `avg_ce_milli` (milli-nats per bigram) — the cross-entropy
    *    itself, accumulated as floored q20 INTEGERS so the sum is
    *    partition-order-deterministic; like [[unigramScore]]'s
    *    ln-columns, the ln-derived pair rides the last-ulp libm
    *    caveat, so the registered query projects it away and the
    *    spec covers it against a Scala replay instead.
    *
    * Shape at scale: one tokenize+explode pass combined per doc
    * BEFORE the shuffle (repetitive docs shrink), persisted once for
    * its two consumers (model build + scoring); the model tables are
    * bigram-domain-sized with model-sized joins; scoring is ONE
    * bigram-keyed join plus a per-doc aggregation. Nothing
    * re-shuffles the corpus twice, and the only driver-side values
    * are 1-row totals plus one row COUNT of the bigram-domain table
    * (the broadcast gate below — never the table itself).
    *
    * Broadcast discipline (r19, ADVICE): the context/successor
    * MARGINALS are unigram-vocab-bounded and always broadcast; the
    * JOINT (v, w) model's cardinality is corpus-derived and
    * unbounded for general text, so its broadcast is gated on the
    * materialized bigram-domain row count — under the cap the
    * instance table never re-shuffles onto (v, w) (the measured sf
    * win), over the cap the planner keeps a shuffle join instead of
    * OOMing the driver.
    */
  def bigramCrossEntropy(docs: DataFrame,
      lambdaPpm: Long = 700000L): DataFrame = {
    require(lambdaPpm >= 0 && lambdaPpm <= 1000000L,
      s"lambdaPpm must be in [0, 1000000], got $lambdaPpm")
    val muPpm = 1000000L - lambdaPpm
    // r19 (guide §2.4 — two operations keyed the same way share one
    // exchange): repartition the tokenized docs by doc_id ONCE;
    // hash(doc_id) co-locates every row of a (doc_id, v, w) group, so
    // the instance aggregate reuses it, and the scoring pass's final
    // groupBy(doc_id) below inherits the same partitioning through
    // the broadcast model join — the old shape paid one exchange of
    // the exploded bigram rows on (doc_id, v, w) PLUS a second
    // exchange of the scored instances on doc_id.
    val inst = graft.Caches.track("text", docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(
            element_at(col("toks"), i + 1).as("v"),
            element_at(col("toks"), i + 2).as("w")))).as("bg"))
      .select(col("doc_id"), col("bg.v").as("v"), col("bg.w").as("w"))
      .groupBy(col("doc_id"), col("v"), col("w"))
      .agg(count(lit(1)).as("ct")))
    val big = graft.Caches.track("text",
      inst.groupBy(col("v"), col("w")).agg(sum(col("ct")).as("c_vw")))
    val cv = big.groupBy(col("v")).agg(sum(col("c_vw")).as("c_v"))
    val cw = big.groupBy(col("w")).agg(sum(col("c_vw")).as("c_w"))
    val nt = big.agg(sum(col("c_vw")).as("n_big"))
    // r18: the context/successor marginals are unigram-vocab-bounded
    // — broadcast them (the sourceUnigramKl broadcast-marginals
    // precedent) so the model build never shuffles; r19 gates the
    // JOINT model's broadcast on its actual materialized cardinality
    // (931 rows at sf0.1, but corpus-derived in general): `big` is
    // session-persisted, so the count is one cheap job over state the
    // scoring pass materializes anyway, and over the cap the hint is
    // dropped rather than risking a multi-GB broadcast relation.
    val model = big.join(broadcast(cv), "v")
      .join(broadcast(cw), "w")
      .crossJoin(broadcast(nt))
      .select(col("v"), col("w"),
        greatest(
          expr(s"$lambdaPpm * c_vw div c_v + $muPpm * c_w div n_big"),
          lit(1L)).as("p_ppm"))
    // ~8M (v, w) rows ≈ low hundreds of MB framed — the guide's
    // "a few hundred MB is usually fine" broadcast ceiling
    val modelRows = big.count()
    val modelSide =
      if (modelRows <= 8000000L) broadcast(model) else model
    val lnMillionQ20 =
      math.floor(math.log(1000000.0) * (1L << 20)).toLong
    inst.join(modelSide, Seq("v", "w"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("ct")).as("n_bigrams"),
        sum(col("ct") * col("p_ppm")).as("sum_p_ppm"),
        min(col("p_ppm")).as("min_p_ppm"),
        sum(col("ct") * (lit(lnMillionQ20) -
          floor(log(col("p_ppm").cast("double")) * (1L << 20))
            .cast("long"))).as("ce_q20"))
      .withColumn("avg_ce_milli",
        expr("ce_q20 * 1000 div (n_bigrams * 1048576)"))
      .orderBy(col("doc_id"))
  }

  /** Canonical text normalization — the cleaning pass every pipeline
    * runs BEFORE hashing, deduplication, or shingling (two docs
    * differing only in case, control characters, or whitespace runs
    * are the same training datum, and every exact-hash operator
    * downstream treats the normalized text as identity). Steps, in
    * order: control characters (C0 + DEL) → space, whitespace runs
    * collapsed to one space, trimmed, lowercased, common Latin-1
    * accents folded (explicit `translate` table — a full NFKC pass
    * needs ICU, which the oracle engine and the JVM disagree on;
    * the explicit table is engine-exact). All regexes in the
    * Java∩RE2 subset (the piiRedact discipline), so the whole
    * transform is oracle-checkable. Pure scan-stage string ops —
    * no shuffle, codegen end to end.
    *
    * Returns `(doc_id, norm_text, changed)`.
    */
  def normalizeText(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        translate(
          lower(trim(regexp_replace(
            regexp_replace(col("text"),
              "[\\x00-\\x1f\\x7f]", " "),
            "\\s+", " "))),
          "áàâäéèêëíìîïóòôöúùûüñç",
          "aaaaeeeeiiiioooouuuunc").as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        (col("norm_text") =!= col("text")).as("changed"))

  /** Corpus snapshot diff — the audit step between two versions of a
    * document table (curation is iterative; before re-running a
    * 100 TB pipeline you want to know WHAT changed): per doc_id,
    * `added` / `removed` / `changed` / `unchanged` by content hash,
    * with both hashes kept for downstream attribution. One hash
    * projection per side + one full-outer join on the id — the diff
    * of two 100 TB snapshots moves two 16-byte-per-doc tables, never
    * the text. The hash is taken over `coalesce(text, '')`: a doc_id
    * PRESENT with a NULL text still hashes (to the empty-string
    * digest), so presence is decided by the join alone and a null
    * text can never masquerade as an absent row.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame =
    oldDocs.select(col("doc_id"),
        md5(coalesce(col("text"), lit(""))).as("old_hash"))
      .join(
        newDocs.select(col("doc_id"),
          md5(coalesce(col("text"), lit(""))).as("new_hash")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") === col("new_hash"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_hash"), col("new_hash"))

  /** Token-distribution Shannon entropy per document — the diversity
    * quality signal next to [[repetitionStats]]' top-token share: a
    * keyword-stuffed or template page concentrates its mass on few
    * tokens (low entropy), natural prose spreads it. Computed in the
    * exact-integer q20 convention of [[unigramScore]]/bm25:
    *
    *   H = ln n − (1/n)·Σ_t c_t·ln c_t
    *   entropy_q20 = ⌊ln(n)·2^20⌋ − (Σ_t c_t·⌊ln(c_t)·2^20⌋) div n
    *
    * — every column an exact integer (long sums commute; ln is
    * floored per distinct count before the sum), so the whole output
    * hash-compares. Bounds are exact in this arithmetic: a
    * uniform-token doc scores exactly 0, an all-distinct doc exactly
    * ⌊ln(n)·2^20⌋. Shape: one (doc, token) count with map-side
    * combine, one per-doc agg — two narrow shuffles, nothing
    * corpus-wide.
    */
  def tokenEntropy(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") *
          floor(log(col("c").cast("double")) * (1L << 20)).cast("long"))
          .as("sum_c_lnc_q20"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("sum_c_lnc_q20"),
        (floor(log(col("n_tokens").cast("double")) * (1L << 20))
          .cast("long") -
          expr("sum_c_lnc_q20 div n_tokens")).as("entropy_q20"))

  /** Bigram conditional-LM document scoring — the next-order
    * companion of [[unigramScore]] (CCNet scores with a real LM; a
    * corpus bigram model is the strongest scorer derivable from the
    * corpus itself): per doc over its ADJACENT token pairs,
    *  - `n_pairs`, `sum_pair_tf`, `min_pair_tf` — exact integers on
    *    corpus bigram frequencies, the hash-compared skeleton;
    *  - `avg_nll` = mean −ln p(w₂|w₁) = mean [ln tf(w₁) − ln tf(w₁w₂)]
    *    with both ln sums accumulated as per-pair ⌊ln·2²⁰⌋ integers
    *    (partition-order-safe; registered queries project the
    *    ln-derived column away, specs cover it).
    *
    * A doc full of individually-common words in never-seen orders
    * (word-salad spam) scores high here while passing [[unigramScore]]
    * — the reason pipelines score with a sequence model, not a bag.
    * Shape at scale: one bigram-tf aggregation + one unigram-tf
    * aggregation, then one attribution join each — the bigram key
    * space is larger than the unigram one but the joins stay
    * many-to-one into aggregated (broadcast-able after frequency
    * floors) tables; nothing quadratic.
    */
  def bigramScore(docs: DataFrame): DataFrame = {
    val pairs = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        // equal-length slices (bpePairCounts pattern) — no zip_with
        // null padding to special-case
        explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("pair"))
    val pairTf = pairs.groupBy(col("pair"))
      .agg(count(lit(1)).as("pair_tf"))
    val uniTf = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("uni_tf"))
    pairs
      .join(pairTf, "pair")
      .withColumn("w1", substring_index(col("pair"), " ", 1))
      .join(uniTf.withColumnRenamed("token", "w1"), "w1")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("pair_tf")).as("sum_pair_tf"),
        min(col("pair_tf")).as("min_pair_tf"),
        sum(floor(log(col("uni_tf").cast("double")) * (1L << 20))
          .cast("long") -
          floor(log(col("pair_tf").cast("double")) * (1L << 20))
            .cast("long")).as("sum_nll_q20"))
      .withColumn("avg_nll",
        col("sum_nll_q20").cast("double") /
          (col("n_pairs") * (1L << 20).toDouble))
  }

  /** Pairwise token-set Jaccard BETWEEN SOURCES — the corpus-level
    * diversity/contamination diagnostic (are two crawls snapshots of
    * the same site?). Exact integers end to end: per-source distinct
    * vocabularies explode once, the token-keyed self-join counts
    * intersections, sizes attach by broadcast (#sources rows). A
    * token shared by k sources contributes k·(k−1)/2 pair rows —
    * bounded by #sources², not corpus size, so stop-words cost
    * #sources²·|vocab-head| rows, never a scan-side blowup.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val vocab = graft.Caches.track("text", docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .distinct())
    val sizes = vocab.groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"))
    val inter = vocab.as("a").join(vocab.as("b"), "token")
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n_tokens").as("na"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n_tokens").as("nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("inter"),
        col("na"), col("nb"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
  }

  /** Power-of-2 sequence-length bucketing with padding-waste
    * accounting — the batch-shape planner of a training pipeline
    * (bucketed batching pads each sequence to its bucket size; the
    * waste column is the exact token cost of that choice). Bucket =
    * 2^⌈log2 n⌉ computed in INTEGER bit arithmetic (binary-string
    * length, shift), not floating log2 — exact at any magnitude and
    * in any engine. One groupBy on a tiny key domain (≤ 64 buckets);
    * the per-doc stage is scan-side only.
    */
  def lengthBuckets(docs: DataFrame): DataFrame = {
    val n = size(tokens(col("text")))
    // ⌈log2 n⌉ via length(bin(n-1)): floor(log2(n-1))+1 for n ≥ 2;
    // 2^k through pow — exact in IEEE double for any power of two
    // representable here, unlike a float log2 of n itself
    val bucket = when(n <= 1, lit(1L))
      .otherwise(pow(lit(2.0), length(bin(n - 1)).cast("int"))
        .cast("long"))
    docs
      .select(col("doc_id"), n.as("n_toks"), bucket.as("bucket"))
      // zero-token docs have no sequence to batch
      .filter(col("n_toks") > 0)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_tokens"))
      .withColumn("padded_tokens", col("bucket") * col("n_docs"))
      .withColumn("waste_tokens",
        col("padded_tokens") - col("sum_tokens"))
      .withColumn("waste_ratio",
        col("waste_tokens").cast("double") / col("padded_tokens"))
  }

  /** Flesch-style readability signal in exact integer arithmetic —
    * the reading-ease quality gate next to [[qualityScore]] (C4 and
    * its descendants filter on sentence shape; reading-ease is the
    * classical single-number form of that). Counts are regex-derived
    * integers in the Java∩RE2 subset (the [[piiRedact]] discipline):
    * sentences = runs of `[.!?]`, syllables ≈ vowel-group runs per
    * lowercased text (the standard dictionary-free approximation),
    * words = whitespace tokens. The score is the Flesch formula with
    * milli-point coefficients evaluated in BIGINT floor division
    * (`div` here, `//` in the oracle — identical on the non-negative
    * operands these counts produce):
    *
    *   flesch_milli = 206835 − (1015·W) div S − (84600·Y) div W
    *
    * Pure scan-stage string work — no shuffle, whole-stage codegen;
    * at 100 TB this runs at parquet-scan speed.
    */
  def readability(docs: DataFrame): DataFrame = {
    val w = greatest(size(tokens(col("text"))), lit(1)).cast("long")
    val s = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
      lit(1)).cast("long")
    val y = greatest(
      size(regexp_extract_all(lower(col("text")),
        lit("[aeiouy]+"), lit(0))),
      lit(1)).cast("long")
    docs.select(col("doc_id"),
      w.as("n_words"), s.as("n_sents"), y.as("n_syll"))
      .withColumn("flesch_milli",
        lit(206835L) - expr("(1015 * n_words) div n_sents") -
          expr("(84600 * n_syll) div n_words"))
  }

  /** Out-of-vocabulary rate against the corpus' own top-`vocabSize`
    * token vocabulary — the tokenizer-fit signal of a training
    * pipeline (a doc whose tokens mostly fall outside the vocab head
    * will shatter into rare pieces under any tokenizer fitted on
    * this corpus; high OOV is also the standard "wrong language /
    * binary junk" tell). Vocabulary = the `vocabSize` most frequent
    * tokens with a deterministic tie-break (count DESC, token ASC) —
    * a row_number window over the aggregated token-frequency table,
    * which is vocabulary-sized, NOT corpus-sized, so the window and
    * the subsequent membership join broadcast. Per-doc rate is exact
    * integer ppm: `oov_ppm = (10⁶·n_oov) div n_tokens` (0 for empty
    * docs). Shape at scale: one token-frequency aggregation
    * (map-side combine), one broadcast membership join on the
    * exploded tokens, one per-doc re-aggregation — no corpus-wide
    * shuffle beyond the frequency count every scorer here already
    * pays.
    */
  def oovRate(docs: DataFrame, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be positive: $vocabSize")
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val vocab = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("tf").desc, col("token"))))
      .filter(col("rn") <= vocabSize)
      .select(col("token"))
    val perDoc = toks
      .join(broadcast(vocab.withColumn("in_vocab", lit(1))),
        Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
          .as("n_oov"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_ppm",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(expr("(1000000 * n_oov) div n_tokens")))
  }

  /** Per-source corpus profile — the curation dashboard's first
    * table (web-scale pipelines budget, gate, and debug BY SOURCE:
    * FineWeb/Dolma both publish exactly this shape): per `source`,
    * doc count, distinct languages, exact-duplicate docs (content
    * hash shared with ANY doc corpus-wide — cross-source dups count
    * in both sources, which is the number an ops review wants), token
    * volume, and mean length in exact milli-chars
    * (`(1000·Σchars) div n`). Shape: one md5-groupBy for global dup
    * counts joined back id→hash (many-to-one into an aggregated
    * table), one per-source aggregation — two narrow shuffles,
    * output rows = #sources.
    */
  def sourceProfile(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), col("source"), col("lang"),
      col("n_chars"), size(tokens(col("text"))).as("n_toks"),
      md5(col("text").cast("binary")).as("h"))
    val dupCounts = hashed.groupBy(col("h"))
      .agg(count(lit(1)).as("n_same"))
    hashed.join(dupCounts, "h")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("n_same") >= 2, 1L).otherwise(0L))
          .as("n_dup_docs"),
        sum(col("n_toks")).as("sum_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .withColumn("mean_chars_milli",
        expr("(1000 * sum_chars) div n_docs"))
  }

  /** Per-source n-gram diversity — the repetitiveness profile that
    * separates template/boilerplate farms from genuine prose at the
    * SOURCE level (the corpus-curation counterpart of the per-doc
    * [[repetitionStats]]): distinct trigrams over total trigram
    * occurrences, in exact integer ppm. A source whose diversity is
    * low is stamping the same phrases across documents — the
    * signature self-BLEU catches on model output and C4-style audits
    * catch on crawls. Shape: one trigram explode (the
    * [[contamination]] shingle discipline) + one per-source
    * aggregation with map-side combine; nothing pairwise anywhere.
    */
  def ngramDiversity(docs: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    docs
      .select(col("source"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("source"),
        explode(transform(
          sequence(lit(1), size(col("t")) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(o => element_at(col("t"), i + o)): _*)))
          .as("gram"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_ngrams"),
        countDistinct(col("gram")).as("n_distinct"))
      .withColumn("diversity_ppm",
        expr("(1000000 * n_distinct) div n_ngrams"))
  }

  /** Leakage-safe train/val/test split — [[deterministicSplit]] with
    * the draw keyed by NEAR-DUP CLUSTER instead of document: if two
    * docs are (near-)duplicates, hashing doc_ids independently puts
    * them on opposite sides of the eval boundary with probability
    * 2·p·(1−p) — the classic silent eval-contamination bug. Keying
    * the draw60 on `cluster_id` sends every member of a cluster to
    * the same split by construction. `clusters` is any
    * `(doc_id, cluster_id)` frame — [[dupClusters]] output for the
    * MinHash pipeline, or an exact-dup grouping; docs absent from it
    * are their own singleton cluster (coalesce to doc_id). Shape:
    * one many-to-one join + scan-stage hash arithmetic — same cost
    * as the unsafe split plus the join every cluster consumer pays.
    */
  def leakageSafeSplit(
      docs: DataFrame,
      clusters: DataFrame,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      salt: String = "split"
  ): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0),
      "split fractions must be non-negative")
    require(splits.map(_._2).sum <= 1.0 + 1e-9,
      s"split fractions sum to ${splits.map(_._2).sum} > 1")
    val withCluster = docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val draw = draw60(
      concat(col("cluster_id").cast("string"), lit(":" + salt)))
    val thresholds = splits.map(_._2).scanLeft(0.0)(_ + _).tail.map(q60)
    val assign = splits.zip(thresholds)
      .foldRight(lit("held_out")) { case (((name, _), thr), els) =>
        when(draw < thr, lit(name)).otherwise(els)
      }
    withCluster.select(col("doc_id"), col("cluster_id"),
      assign.as("split"))
  }

  /** Blocklist gate — the URL/term-denylist filter every web-corpus
    * pipeline runs first (C4's badwords filter, UT1 domain lists):
    * drop documents containing any blocklisted term as a whole word.
    * The list compiles into ONE alternation regex anchored by word
    * boundaries (`\b(t1|t2|…)\b`, Java∩RE2 subset, terms
    * regex-escaped) — a single scan-stage `rlike` per doc, codegen,
    * zero joins and zero shuffles, which is the right shape for a
    * list of thousands of terms at 100 TB (a broadcast join against
    * the exploded token table would pay an explode for what one
    * DFA-ish scan does for free). Emits the kept set by default;
    * `keep = false` returns the rejected docs with the first matched
    * term for audit.
    */
  def blocklistFilter(
      docs: DataFrame,
      terms: Seq[String],
      keep: Boolean = true
  ): DataFrame = {
    require(terms.nonEmpty, "blocklist must not be empty")
    val pat = terms.map(java.util.regex.Pattern.quote)
      .mkString("\\b(", "|", ")\\b")
    val hit = lower(col("text")).rlike(pat)
    if (keep) docs.filter(!hit)
    else docs.filter(hit)
      .withColumn("matched_term",
        regexp_extract(lower(col("text")), pat, 1))
  }

  /** Asymmetric shingle-containment pairs: emit (doc_a, doc_b) where
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| >= threshold — "a is
    * (mostly) contained in b". The dedup relation [[jaccardExactPairs]]
    * can't see: a paragraph quoted inside a much larger page has tiny
    * Jaccard (the union is page-sized) but containment ~1, and
    * quote/wrapper inclusion is exactly what training-data curation
    * must catch before the small fragment and its containing page both
    * enter the corpus as "distinct" documents.
    *
    * Scale shape is the prefix-filter discipline, adapted: containment
    * >= t forces |A∩B| >= t·n_a, so if the first
    * `n_a - ceil(t*n_a) + 1` shingles of A (in the global rare-first
    * order) all miss B, the pair cannot qualify — lossless pruning,
    * same argument as the Jaccard prefix. Asymmetry costs one side:
    * A's prefix joins against B's FULL shingle list (no length filter
    * applies — B may be arbitrarily larger), so candidates are bounded
    * by Σ_tok df_prefix(tok)·df(tok) instead of Σ df_prefix². Rare-
    * first ordering keeps that sum dominated by low-df shingles; ids
    * only ride the join, sets re-attach after pair dedup.
    */
  def containmentPairs(docs: DataFrame, threshold: Double): DataFrame =
    containmentPairsOverOrdered(
      graft.Caches.track("text", orderedShingles(docs)), threshold)

  /** [[containmentPairs]] over a prebuilt [[orderedShingles]] table —
    * shares the shingle/sort shuffles with every other prefix-filter
    * consumer in the session.
    */
  def containmentPairsOverOrdered(
      orderedShingleTable: DataFrame,
      threshold: Double
  ): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containment threshold in (0,1], got $threshold")
    val ordered = orderedShingleTable
      .withColumn("plen",
        (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int"))
    val prefixA = ordered.select(col("doc_id"), col("n"),
      explode(slice(col("toks_ord"), lit(1), col("plen"))).as("tok"))
    val allB = ordered.select(col("doc_id"),
      explode(col("toks_ord")).as("tok"))
    val cand = prefixA.as("a").join(allB.as("b"), "tok")
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val sets = ordered.select(col("doc_id"), col("toks_ord"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"),
        size(col("toks_ord")).as("na"), col("toks_ord").as("ta")),
        "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"),
        col("toks_ord").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("na"),
        size(array_intersect(col("ta"), col("tb"))).as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / col("na").cast("double"))
      .filter(col("containment") >= threshold)
  }

  /** Cross-source containment matrix: how many (fragment, page)
    * containment relations point from one source into another — the
    * provenance readout of [[containmentPairs]] (a source whose docs
    * are routinely CONTAINED in another source's docs is a scraper /
    * mirror / quote farm; the reverse direction is an aggregator).
    * One broadcast-able doc→source attribution join per side of the
    * (already small) pair set, then a #sources² aggregation.
    */
  def sourceContainment(
      docs: DataFrame,
      pairs: DataFrame
  ): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"),
        col("source").as("source_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"),
        col("source").as("source_b")), "doc_b")
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Weighted sample-without-replacement, the Efraimidis–Spirakis
    * one-pass form: each doc draws a deterministic uniform u from
    * md5(doc_id) and gets key = ln(u)/w (order-equivalent to the
    * textbook u^(1/w)); the k largest keys are the sample. Heavier
    * docs draw systematically larger keys, so inclusion probability
    * is proportional to weight — the standard way to turn per-doc
    * quality/size weights into an actual training subset without a
    * global sort over anything but the top-k frontier.
    *
    * Scale shape: embarrassingly parallel scoring + distributed top-k
    * (per-partition heads, k-row merge) — no full sort, no shuffle of
    * the corpus. Keys are quantized to q20 longs (the repo's ln
    * convention) so selection and output are engine-invariant;
    * doc_id breaks ties deterministically. Weight floor of 1 keeps
    * zero-weight rows drawable-but-last rather than division traps.
    */
  def weightedSample(
      docs: DataFrame,
      k: Int,
      weight: Column,
      salt: String = "wsamp"
  ): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    // u in (0, 1]: (draw60 + 1) / 2^60 — never 0, so ln is finite
    val u = (draw60(concat(col("doc_id").cast("string"),
      lit(":" + salt))) + 1).cast("double") / lit(1L << 60).cast("double")
    docs
      .withColumn("w", greatest(weight.cast("double"), lit(1.0)))
      .withColumn("key_q20",
        floor(log(u) / col("w") * (1L << 20)).cast("long"))
      .select(col("doc_id"), col("w"), col("key_q20"))
      .orderBy(col("key_q20").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-document tf-idf keyword extraction: the `k` highest
    * tf·idf tokens of each doc — the cheap, model-free doc
    * descriptor curation pipelines use for topic sampling audits,
    * cluster labeling, and per-source drift spot checks. idf is the
    * corpus-level ln(N/df) in the repo's q20-integer convention, so
    * the score (`tf · ⌊ln(N/df)·2²⁰⌋`, an exact long product) is
    * engine-invariant and order-free.
    *
    * Shape at scale: one (doc, token) tf aggregation, one token df
    * aggregation (both map-side-combining), a many-to-one join into
    * the df table, then a per-doc top-k window — the only per-doc
    * sort, over that doc's DISTINCT tokens. Nothing global except
    * the token df table, which is vocabulary-sized.
    */
  def tfidfKeywords(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"keywords per doc must be positive, got $k")
    // persisted: the tf table feeds BOTH the df aggregation and the
    // attribution join — unpersisted, the corpus-wide explode+agg
    // would run twice (two scans at 100 TB); released with the family
    val tf = graft.Caches.track("text", docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")))
    val df_ = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val total = docs.filter(length(trim(col("text"))) > 0)
      .agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(df_, "token")
      .crossJoin(broadcast(total))
      .withColumn("idf_q20",
        floor(log(col("n_docs").cast("double") /
          col("df").cast("double")) * (1L << 20)).cast("long"))
      .withColumn("score_q20", col("tf") * col("idf_q20"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_q20").desc, col("token"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("score_q20"), col("rank"))
  }

  /** Language-ID confusion matrix: cross-tab of the labeled `lang`
    * column against [[langGuess]]'s n-gram-marker guess, with exact
    * per-label ppm shares — the eval readout that turns the per-doc
    * guesser into a monitored component (a drifting confusion row
    * means a source started shipping mislabeled or code-mixed text).
    * Two tiny aggregations over the guess frame; output is
    * #labels × #guesses rows.
    */
  def langConfusion(docs: DataFrame): DataFrame = {
    // persisted: the (tiny) matrix feeds the label-total agg AND the
    // final join — unpersisted, the corpus-wide guess scan replays
    val m = graft.Caches.track("text", langGuess(docs)
      .groupBy(col("lang_label"), col("lang_guess"))
      .agg(count(lit(1)).as("n")))
    val tot = m.groupBy(col("lang_label"))
      .agg(sum(col("n")).as("label_total"))
    m.join(tot, "lang_label")
      .withColumn("share_ppm", expr("(n * 1000000) div label_total"))
      .select(col("lang_label"), col("lang_guess"), col("n"),
        col("label_total"), col("share_ppm"))
  }

  /** Dedup impact summary: the cluster-size histogram of a
    * [[dupClusters]] assignment plus the doc-removal accounting a
    * curation report leads with (how many near-dup groups, of what
    * size, how many docs a keep-one policy deletes). Two
    * cluster-count-sized aggregations; the corpus is never
    * rescanned — this audits the ASSIGNMENT artifact.
    */
  def dedupImpact(clusters: DataFrame): DataFrame =
    clusters
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removed"))

  /** Shard-local dedup loss — the first design question of dedup at
    * 100 TB: a single global pair pass is the gold standard, but the
    * affordable layout is often S independent shard-local passes
    * (each shard deduped where it lives, no cross-shard shuffle).
    * That layout silently MISSES every true near-dup pair whose two
    * docs hash to different shards — and under a uniform hash the
    * expected miss rate is (S−1)/S of all pairs, i.e. almost all of
    * them at realistic S, unless dup pairs are id-correlated. This
    * op measures the actual loss on the actual pair graph: for each
    * candidate shard count, the pairs kept (both docs in one
    * `pmod(doc_id, S)` shard) vs lost, as exact counts and ppm —
    * the evidence for choosing between global dedup, shard-local
    * dedup + a cross-shard MinHash pass, or content-keyed sharding.
    *
    * Scale shape: ONE scan of the (already-built) pair set exploded
    * by |shardCounts| (single digits) into one #shardCounts-row
    * aggregation; the corpus is never touched — this audits the
    * pair-graph artifact the dedup already paid for.
    */
  def shardDedupLoss(
      pairs: DataFrame,
      shardCounts: Seq[Int] = Seq(2, 8, 32)
  ): DataFrame = {
    require(shardCounts.nonEmpty && shardCounts.forall(_ >= 2),
      "shard counts must be >= 2")
    pairs
      .select(col("doc_a"), col("doc_b"),
        explode(lit(shardCounts.distinct.sorted.toArray))
          .as("n_shards"))
      .groupBy(col("n_shards"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(pmod(col("doc_a"), col("n_shards")) ===
          pmod(col("doc_b"), col("n_shards")), 1L).otherwise(0L))
          .as("n_local"))
      .select(col("n_shards").cast("long").as("n_shards"),
        col("n_pairs"), col("n_local"),
        (col("n_pairs") - col("n_local")).as("n_lost"),
        expr("(n_pairs - n_local) * 1000000 div n_pairs")
          .as("lost_ppm"))
      .orderBy(col("n_shards"))
  }

  /** Duplicate-cluster quality bias — joins the two facts every
    * dedup decision should see together: ARE the duplicated
    * documents the low-quality ones? Per cluster size, the exact
    * milli quality mass (per-doc floor BEFORE the rollup, so the
    * aggregate hashes); a falling mean-quality curve over size says
    * dedup doubles as a quality filter, a flat one says the
    * templates being removed are as good as the rest (and the
    * keep-one policy should weigh quality, not min-id). Two keyed
    * joins on the cluster assignment — no pair work beyond what
    * the dedup already paid.
    */
  def dupQualityBias(clusters: DataFrame, docs: DataFrame)
      : DataFrame = {
    val q = qualityScore(docs)
      .select(col("doc_id"),
        floor(col("quality") * 1000).cast("long").as("q_milli"))
    val sz = clusters.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    clusters.join(sz, "cluster").join(q, "doc_id")
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q_milli")).as("sum_q_milli"))
      .withColumn("mean_q_milli", expr("sum_q_milli div n_docs"))
  }

  /** Corpus Zipf audit: fit the log-log slope of the token
    * rank-frequency curve — the single-number corpus-health signal
    * that separates natural language (slope ≈ −1) from template
    * farms (flat head, slope → 0) and boilerplate floods (cliff,
    * slope ≪ −1). Drifting slope between snapshots means the source
    * mix changed even when volume did not.
    *
    * One unigram aggregation, a vocabulary-sized global rank (same
    * contract as the BPE/unigram tables: the VOCABULARY sorts, never
    * the corpus), then an order-free exact reduction: ln(rank) and
    * ln(count) quantized to q10 longs per vocab row (q10 keeps
    * Σ xq·yq < 2^63 to ~10^9 vocab rows), OLS slope formed from the
    * five exact sums in a fixed double op chain, quantized to q20.
    * Engine-invariant end to end; zero/degenerate variance emits a
    * null slope instead of dividing by zero.
    */
  /** Good–Turing frequency smoothing table — the LM-smoothing
    * companion of [[zipfAudit]] (Zipf grades the rank-frequency
    * SHAPE; Good–Turing prices the UNSEEN): from the counts-of-counts
    * frame `S(c) = #tokens observed exactly c times`, the adjusted
    * count `c* = (c+1)·S(c+1)/S(c)` per frequency class (exact
    * milli), and the leave-one-out unseen-mass estimate
    * `p₀ = S(1)/T` in exact ppm — the number that says how much
    * probability a unigram LM built on this corpus should reserve
    * for words it has never seen (high p₀ = open vocabulary /
    * noisy OCR; near-zero = closed template vocabulary). `s_next = 0`
    * classes emit `c_star_milli = 0` (the classic estimator is
    * undefined there; downstream smoothers interpolate).
    *
    * Shape at scale: one token tf aggregation (vocabulary-sized,
    * map-side combined), a counts-of-counts aggregation over the
    * VOCABULARY (output ≤ max tf rows — tiny), a shifted self-join
    * and 1-row broadcast on that tiny frame. The corpus is scanned
    * once.
    */
  def goodTuring(docs: DataFrame): DataFrame = {
    val tf = docs.filter(length(trim(col("text"))) > 0)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val cc = tf.groupBy(col("c")).agg(count(lit(1)).as("s_c"))
    val tot = cc.agg(
      sum(col("c") * col("s_c")).as("total"),
      coalesce(sum(when(col("c") === 1, col("s_c"))), lit(0L))
        .as("n1"))
    val nxt = cc.select((col("c") - 1).as("c"),
      col("s_c").as("s_next"))
    cc.join(nxt, Seq("c"), "left")
      .crossJoin(broadcast(tot))
      .select(col("c"), col("s_c"),
        coalesce(col("s_next"), lit(0L)).as("s_next"),
        expr("(c + 1) * coalesce(s_next, 0) * 1000 div s_c")
          .as("c_star_milli"),
        expr("n1 * 1000000 div total").as("p0_ppm"))
      .orderBy(col("c"))
  }

  /** Interpolated Kneser–Ney bigram table — the LM-smoothing step
    * past [[goodTuring]] (GT prices the unseen mass; KN fixes WHICH
    * continuations get it: "Francisco" is frequent but follows only
    * "San", so its continuation probability is tiny — the
    * novel-context signal raw counts can't see). Absolute discount
    * D = 3/4 keeps everything rational, so the whole estimate is one
    * exact integer expression — no libm, no double division:
    *
    *   P_KN(w2|w1) = max(c−D,0)/c(w1)
    *                 + D·N1+(w1·)/c(w1) · N1+(·w2)/B
    *   kn_ppm      = (max(4c−3,0)·B + 3·fert_w1·fert_w2) · 10^6
    *                   div (4·c(w1)·B)      [DECIMAL(38,0)/HUGEINT]
    *
    * where fert_w1 = N1+(w1·) (distinct continuations of w1),
    * fert_w2 = N1+(·w2) (distinct histories of w2, the continuation
    * fertility), and B = #distinct bigram types. `cont_ppm` =
    * fert_w2·10^6 div B is the continuation-unigram itself.
    *
    * Scale shape: one bigram aggregation (map-side combined,
    * vocabulary²-bounded output), two vocabulary-sized side
    * aggregations, ONE scalar. The head is TakeOrdered by
    * (c desc, pair) BEFORE any join, and it is the HEAD that
    * broadcasts — the vocabulary-sized hist/cont tables stream
    * against it (broadcasting a side table would collect the whole
    * vocabulary to the driver).
    */
  def kneserNeyBigrams(docs: DataFrame, topN: Int = 50): DataFrame = {
    val pairs = docs
      .select(tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => concat_ws(" ", a, b))).as("pair"))
      .select(substring_index(col("pair"), " ", 1).as("w1"),
        substring_index(col("pair"), " ", -1).as("w2"))
    val big = graft.Caches.track("text", pairs
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c")))
    val hist = big.groupBy(col("w1"))
      .agg(sum(col("c")).as("c_w1"), count(lit(1)).as("fert_w1"))
    val cont = big.groupBy(col("w2"))
      .agg(count(lit(1)).as("fert_w2"))
    val b = big.agg(count(lit(1)).as("bigram_types"))
    val head = big
      .orderBy(col("c").desc, col("w1"), col("w2"))
      .limit(topN)
    broadcast(head)
      .join(hist, "w1")
      .join(cont, "w2")
      .crossJoin(broadcast(b))
      .select(col("w1"), col("w2"), col("c"), col("c_w1"),
        col("fert_w1"), col("fert_w2"), col("bigram_types"),
        expr("""CAST((CAST(GREATEST(4 * c - 3, 0) AS DECIMAL(38,0))
               |    * bigram_types
               |    + 3 * CAST(fert_w1 AS DECIMAL(38,0)) * fert_w2)
               |  * 1000000
               |  div (CAST(4 AS DECIMAL(38,0)) * c_w1 * bigram_types)
               |  AS BIGINT)""".stripMargin).as("kn_ppm"),
        expr("fert_w2 * 1000000 div bigram_types").as("cont_ppm"))
      .orderBy(col("c").desc, col("w1"), col("w2"))
  }

  /** Burrows' Delta between sources — the stylometric distance used
    * for authorship attribution, turned corpus screen: two "sources"
    * whose most-frequent-word usage profiles sit within noise of each
    * other are one upstream author/template wearing two labels (the
    * syndication/mirror signal [[sourceOverlap]] sees via shared
    * vocabulary, re-detected here via USAGE RATES — mirrors can
    * rewrite tokens and still keep their function-word rhythm).
    * Classic Delta: over the corpus's top-`topK` tokens, per-source
    * relative frequencies, z-scored per token across sources, then
    * `delta = mean |z_a − z_b|` per source pair.
    *
    * Exact integer skeleton: frequencies in ppm (integer div by the
    * source's token mass), per-token scaled deviation
    * `sd_scaled = floor(sqrt(S·Σf² − (Σf)²))` (= S·σ, the IEEE
    * correctly-rounded sqrt both engines share), z in milli as
    * `(f·S − Σf)·1000 div max(sd_scaled,1)` SIGN-SPLIT (DuckDB `//`
    * floors negatives while Spark `div` truncates — the cuped
    * convention: divide the absolute value, reapply the sign; σ=0
    * tokens contribute exact 0), delta in milli as the floored mean
    * of |Δz|.
    *
    * Scale shape: one token aggregation (corpus-scanned once,
    * map-side combined); everything after lives on the S×topK grid —
    * sources × a TakeOrdered token head, never the vocabulary.
    */
  def burrowsDelta(docs: DataFrame, topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val tok = docs.filter(length(trim(col("text"))) > 0)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
    val tf = graft.Caches.track("text", tok
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("tf")))
    val tot = tf.groupBy(col("source")).agg(sum(col("tf")).as("total"))
    val top = tf.groupBy(col("token")).agg(sum(col("tf")).as("ctf"))
      .orderBy(col("ctf").desc, col("token")).limit(topK)
      .select(col("token"))
    // restrict tf to the head BEFORE the grid join: tfTop is <= S×K
    // rows, so the vocabulary-sized tf table never shuffles into the
    // grid — it streams once against the broadcast head
    val tfTop = tf.join(broadcast(top), "token")
    val f = tot.crossJoin(broadcast(top))
      .join(broadcast(tfTop), Seq("source", "token"), "left")
      .select(col("source"), col("token"),
        expr("coalesce(tf, 0) * 1000000 div total").as("f_ppm"))
    val mom = f.groupBy(col("token"))
      .agg(count(lit(1)).as("s"), sum(col("f_ppm")).as("sf"),
        sum(col("f_ppm") * col("f_ppm")).as("sff"))
      .select(col("token"), col("s"), col("sf"),
        floor(sqrt((col("s") * col("sff") - col("sf") * col("sf"))
          .cast("double"))).cast("long").as("sd_scaled"))
    val z = f.join(broadcast(mom), "token")
      .select(col("source"), col("token"),
        expr("""CASE WHEN f_ppm * s - sf < 0
               |  THEN -((sf - f_ppm * s) * 1000
               |         div GREATEST(sd_scaled, 1))
               |  ELSE (f_ppm * s - sf) * 1000
               |       div GREATEST(sd_scaled, 1) END"""
          .stripMargin).as("z_milli"))
    // r19 (guide §2.4, the basketLift in-row pair idiom): the old
    // token-keyed SELF-JOIN of z (a SortMergeJoin whose two legs each
    // re-plan the full tf→f→mom lineage) is ONE groupBy(token)
    // collecting the ≤ |sources| (source, z) rows into a sorted array
    // and exploding i < j pairs in-row — identical pair multiset:
    // sources are distinct within a token (f has one row per
    // (source, token) of the grid), so position order IS source order
    // and i < j ⇔ source_a < source_b.
    z.groupBy(col("token"))
      .agg(sort_array(collect_list(
        struct(col("source"), col("z_milli")))).as("zs"))
      .select(col("zs"), posexplode(col("zs")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("zs"), col("i") + lit(2), size(col("zs"))))
          .as("b"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(abs(col("a.z_milli") - col("b.z_milli")))
          .as("sum_abs_dz"))
      .withColumn("delta_milli",
        expr("sum_abs_dz div n_tokens"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def zipfAudit(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("token"))
    val q10 = (1L << 10).toDouble
    val sums = counts
      .withColumn("r", row_number().over(w))
      .select(col("c"),
        floor(log(col("r").cast("double")) * q10).cast("long").as("xq"),
        floor(log(col("c").cast("double")) * q10).cast("long").as("yq"))
      .agg(count(lit(1)).as("n_vocab"), sum(col("c")).as("n_tokens"),
        sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
        sum(col("xq") * col("yq")).as("sxy"),
        sum(col("xq") * col("xq")).as("sxx"))
    val nD = col("n_vocab").cast("double")
    val num = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val den = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    sums.withColumn("slope_q20",
      when(den > 0.0,
        floor(num / den * (1L << 20)).cast("long")))
  }

  /** Curriculum phase assignment: rank the corpus by quality
    * (descending — highest-quality docs first) and cut it into
    * `nPhases` contiguous, near-equal phases, the standard
    * quality-curriculum schedule (phase 1 trains first). Exact-rank
    * form: `phase = ((rank-1)·nPhases) div N + 1` on a total
    * (quality, doc_id) order, so assignment is deterministic and has
    * a bit-exact SQL twin — this is the calibration-scale twin, same
    * contract as [[qualityDecileThresholdsExact]]. The 100 TB path
    * assigns map-side against the broadcast sketch thresholds of
    * [[qualityDecileThresholds]] instead of ranking globally; this
    * exact form is what verifies that path's cut points.
    */
  def curriculumPhases(docs: DataFrame, nPhases: Int = 3): DataFrame = {
    require(nPhases > 0, s"phase count must be positive, got $nPhases")
    val q = qualityScore(docs).select(col("doc_id"), col("quality"))
    val w = Window.orderBy(col("quality").desc, col("doc_id"))
    q.withColumn("rank", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(
        Window.partitionBy()))
      .withColumn("phase",
        expr(s"CAST(((rank - 1) * $nPhases) div n_docs AS INT) + 1"))
      .select(col("doc_id"), col("quality"), col("rank"), col("phase"))
  }
}
