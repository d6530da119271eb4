package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Association-mining, sequence-model, governance, and skew-diagnosis
  * operators — the "what does the warehouse tell the pipeline owner"
  * family. Like everything in `ops`, each is a pure
  * `DataFrame => DataFrame` built from Catalyst operators (no UDFs, no
  * driver collects), and every derived metric rides exact integer
  * arithmetic (ppm / milli / q20 fixed point with documented overflow
  * bounds) so the DuckDB oracle hash-compares bitwise.
  */
object Affinity {

  // --- Market-basket association ------------------------------------

  /** Market-basket pair association over the order fact: for every
    * pair of parts co-occurring in an order, the co-occurrence count,
    * per-item counts, exact integer support (ppm of orders) and lift
    * (milli): `lift = P(a,b) / (P(a)·P(b))`, i.e.
    * `pair_ct · n_orders / (ct_a · ct_b)`.
    *
    * Shape at scale: the basket table is `distinct(order, item)` —
    * one shuffle on the order key; the pair generation is a
    * self-join co-partitioned on that same key, so no second
    * shuffle, and the per-order pair fan-out is bounded by
    * (items-per-order)², a data constant (TPC-H ~7, retail baskets
    * ~tens) — never corpus-quadratic. Item counts join back as an
    * aggregated #items-row table (broadcast-able after aggregation
    * even when the raw fact is 100 TB). The min-support filter runs
    * on the reducer BEFORE the count joins, so the long tail of
    * 1-occurrence pairs never leaves the pair aggregation.
    *
    * Overflow bound (documented, per the pcaMomentsQ16 convention):
    * `pair_ct · n_orders · 1000 < 2^63` — holds to ~3·10⁹ orders
    * with pair supports up to ~3·10⁶; beyond that lift the factors
    * to DECIMAL(38,0).
    */
  def basketLift(lineitem: DataFrame, minPairCount: Long): DataFrame = {
    require(minPairCount >= 1, s"minPairCount must be >= 1")
    // ONE corpus exchange (r18 optimization): the per-order sorted
    // item array replaces both the (ok, pk) distinct AND the
    // basket-keyed self-join — collect_set dedups within the order,
    // and the i < j pair fan-out is an in-row double explode over
    // the sorted array (identical pairs: on a sorted unique array,
    // position order IS item order), partially aggregated before the
    // tiny (part_a, part_b) exchange. The old shape paid the
    // distinct exchange plus a sort-merge self-join re-exchange of
    // the basket table; fan-out per order is (items/order)² either
    // way. itemCt/nOrders re-read the SAME aggregate (the exchange
    // is reused across legs within the plan).
    val bArr = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("items"))
    val itemCt = bArr
      .select(explode(col("items")).as("pk"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("item_ct"))
    val nOrders = bArr.agg(count(lit(1)).as("n_orders"))
    bArr
      .select(col("items"), posexplode(col("items")).as(Seq("i", "pa")))
      .select(col("pa").as("part_a"),
        explode(slice(col("items"), col("i") + lit(2),
          size(col("items")))).as("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("pair_ct"))
      .filter(col("pair_ct") >= minPairCount)
      .join(itemCt.withColumnRenamed("pk", "part_a")
        .withColumnRenamed("item_ct", "ct_a"), "part_a")
      .join(itemCt.withColumnRenamed("pk", "part_b")
        .withColumnRenamed("item_ct", "ct_b"), "part_b")
      .crossJoin(nOrders)
      .select(col("part_a"), col("part_b"), col("pair_ct"),
        col("ct_a"), col("ct_b"), col("n_orders"),
        expr("pair_ct * 1000000 div n_orders").as("support_ppm"),
        expr("pair_ct * n_orders * 1000 div (ct_a * ct_b)")
          .as("lift_milli"))
      .orderBy(col("pair_ct").desc, col("part_a"), col("part_b"))
  }

  /** Frequent 3-itemsets with lift — [[basketLift]]'s pairs extended
    * one Apriori level: items below `minItemCt` support are pruned
    * BEFORE the cubic candidate join (the Apriori property: no
    * infrequent item can appear in a frequent triple), then triples
    * materialize as a three-way self-join on the basket key with the
    * `item_a < item_b < item_c` canonical ordering, and only triples
    * with `triple_ct >= minTripleCt` survive to the lift arithmetic.
    *
    * `lift = P(abc) / (P(a)·P(b)·P(c))` is computed EXACTLY as
    * `triple_ct·N²·1000 div (ct_a·ct_b·ct_c)` — the numerator is up
    * to count³-sized, so it runs in DECIMAL(38,0) (HUGEINT on the
    * oracle side) and narrows back to BIGINT milli units: at
    * N = 1.5e9 baskets the intermediate is ~1e30, inside DECIMAL(38)
    * headroom where BIGINT would overflow.
    *
    * Shape at scale: the two support filters bound the join — each
    * self-join leg carries only frequent items, and the candidate
    * row count is Σ_basket C(k_b, 3) over FREQUENT items per basket;
    * the groupBy partial-aggregates map-side. Baskets: any
    * `(basket_id, item)` frame (duplicates are collapsed first).
    */
  def frequentTriples(
      baskets: DataFrame,
      minItemCt: Long = 2,
      minTripleCt: Long = 2
  ): DataFrame = {
    require(minItemCt >= 1 && minTripleCt >= 1,
      s"support thresholds must be >= 1, got $minItemCt/$minTripleCt")
    // ONE corpus exchange (r18 optimization; the basketLift shape
    // one Apriori level up): per-basket sorted unique item arrays
    // replace the distinct AND both legs of the cubic self-join.
    // The Apriori prune broadcasts the frequent-item set into the
    // exploded array stream (frequent sets are support-bounded —
    // the standard Apriori broadcast side) and re-collects per
    // basket WITHOUT a new exchange (the explode preserves the
    // basket partitioning); the i < j < k candidate fan-out is then
    // an in-row triple explode over the sorted array — identical
    // triples, Σ_basket C(k_b, 3) rows either way — partially
    // aggregated before the tiny (a, b, c) exchange.
    val bArr0 = baskets
      .select(col("basket_id").as("bk"), col("item").as("it"))
      .groupBy(col("bk"))
      .agg(sort_array(collect_set(col("it"))).as("items"))
    val nBaskets = bArr0.agg(count(lit(1)).as("n_baskets"))
    val itemCt = bArr0
      .select(explode(col("items")).as("it"))
      .groupBy(col("it"))
      .agg(count(lit(1)).as("item_ct"))
      .filter(col("item_ct") >= minItemCt)
    val fb = bArr0
      .select(col("bk"), explode(col("items")).as("it"))
      .join(broadcast(itemCt.select(col("it"))), "it")
      .groupBy(col("bk"))
      .agg(sort_array(collect_set(col("it"))).as("items"))
    fb
      .select(col("items"), posexplode(col("items")).as(Seq("i", "ta")))
      .select(col("items"), col("i"), col("ta").as("item_a"),
        posexplode(slice(col("items"), col("i") + lit(2),
          size(col("items")))).as(Seq("j", "tb")))
      .select(col("item_a"), col("tb").as("item_b"),
        explode(slice(col("items"), col("i") + col("j") + lit(3),
          size(col("items")))).as("item_c"))
      .groupBy(col("item_a"), col("item_b"), col("item_c"))
      .agg(count(lit(1)).as("triple_ct"))
      .filter(col("triple_ct") >= minTripleCt)
      .join(itemCt.select(col("it").as("item_a"),
        col("item_ct").as("ct_a")), "item_a")
      .join(itemCt.select(col("it").as("item_b"),
        col("item_ct").as("ct_b")), "item_b")
      .join(itemCt.select(col("it").as("item_c"),
        col("item_ct").as("ct_c")), "item_c")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("item_c"),
        col("triple_ct"), col("ct_a"), col("ct_b"), col("ct_c"),
        col("n_baskets"),
        expr("triple_ct * 1000000 div n_baskets").as("support_ppm"),
        expr("""CAST(CAST(triple_ct AS DECIMAL(38,0)) * n_baskets
          * n_baskets * 1000
          div (CAST(ct_a AS DECIMAL(38,0)) * ct_b * ct_c)
          AS BIGINT)""").as("lift_milli"))
      .orderBy(col("triple_ct").desc, col("item_a"), col("item_b"),
        col("item_c"))
  }

  // --- Sequence modelling -------------------------------------------

  /** First-order Markov transition matrix over the event stream: for
    * each user's events ordered by `(ts, event_id)` (the event id
    * breaks same-timestamp ties deterministically), count
    * `event_type → next event_type` transitions and emit the exact
    * integer row-conditional probability in ppm
    * (`ct · 10⁶ div src_total`, all operands non-negative so
    * truncating div == floor in both engines).
    *
    * Shape at scale: ONE shuffle on `user_id` feeds the lead()
    * window (per-user partitions, sort bounded by per-user activity
    * — skewed power users are a window-sort cost, not a blow-up),
    * then the transition aggregation reduces to a
    * #event-types² -row matrix; the src-total attach is a broadcast
    * join into that tiny frame.
    */
  def markovTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("ct"))
    val totals = trans.groupBy(col("src"))
      .agg(sum(col("ct")).as("src_total"))
    trans.join(broadcast(totals), "src")
      .select(col("src"), col("dst"), col("ct"), col("src_total"),
        expr("ct * 1000000 div src_total").as("p_ppm"))
      .orderBy(col("src"), col("dst"))
  }

  /** First-order entropy rate of the user-journey Markov chain —
    * how PREDICTABLE the next event is given the current one, the
    * single number that tells a personalization/caching owner
    * whether journey modeling is worth anything (rate ≈ 0: journeys
    * are deterministic; rate ≈ ln|types|: transitions are noise).
    * Per source state: the conditional entropy of its outgoing
    * transition distribution in q20 nats (`H(dst|src) =
    * Σ ct·(ln n − ln ct)/n` over its counts), its transition-mass
    * weight, and the `__all__` row whose `h_cond_q20` is the
    * transition-weighted entropy RATE of the whole chain. Logs are
    * the repo's q20-of-integer-count convention (⌊ln(count)·2²⁰⌋ —
    * counts are exact integers in both engines, so the floored logs
    * and everything downstream hash bitwise).
    *
    * Scale shape: one lag window per user (the [[markovTransitions]]
    * shuffle), then all arithmetic on the #types² transition table.
    */
  def markovEntropyRate(events: DataFrame): DataFrame = {
    def lnq20(c: Column): Column =
      floor(log(c.cast("double")) * (1L << 20)).cast("long")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("ct"))
    val perSrc = trans
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_dst"),
        sum(col("ct")).as("src_total"),
        // count-times-q20-log mass in DECIMAL(38,0) (the
        // sourceUnigramKl bridge): ct·lnq20(ct) crosses BIGINT once
        // a state nears ~3e11 transitions
        sum(col("ct").cast("decimal(38,0)") * lnq20(col("ct")))
          .as("mass_ln_ct"))
      .select(col("src"), col("n_dst"), col("src_total"),
        // Σ ct·(ln n − ln ct) div n, all q20 integers; the
        // src_total·lnq20 product takes the same DECIMAL bridge
        expr("""(CAST(src_total AS DECIMAL(38,0))
          | * CAST(FLOOR(LN(CAST(src_total AS DOUBLE))
          | * 1048576) AS BIGINT) - mass_ln_ct) div src_total"""
          .stripMargin.replace("\n", "")).as("h_cond_q20"),
        col("mass_ln_ct"))
    val tot = perSrc.agg(sum(col("src_total")).as("all_total"))
    val withWeight = perSrc
      .crossJoin(broadcast(tot))
      .select(col("src"), col("n_dst"), col("src_total"),
        col("h_cond_q20"),
        expr("CAST(src_total AS DECIMAL(38,0)) * 1000000 div all_total")
          .as("weight_ppm"))
    // the chain's entropy RATE: transition-weighted conditional
    // entropies, exact integer weighting (mass div total)
    val rate = perSrc
      .crossJoin(broadcast(tot))
      .agg(sum(col("n_dst")).as("n_dst"),
        sum(col("src_total")).as("src_total"),
        // same shape, same bridge: mass·entropy crosses BIGINT with
        // src_total ~3e11
        sum(col("src_total").cast("decimal(38,0)")
          * col("h_cond_q20")).as("mass_h"),
        max(col("all_total")).as("all_total"))
      .select(lit("__all__").as("src"), col("n_dst"),
        col("src_total"),
        expr("mass_h div all_total").as("h_cond_q20"),
        lit(1000000L).as("weight_ppm"))
    withWeight.unionByName(rate).orderBy(col("src"))
  }

  // --- Privacy / governance -----------------------------------------

  /** k-anonymity audit over a quasi-identifier tuple — the standard
    * re-identification risk gate before a dataset export: group the
    * customer table by `(nation, market segment, account-balance
    * bucket of `bucketCents`)` and flag every equivalence class
    * smaller than `k` (those rows are re-identifiable by an
    * adversary who knows the quasi-identifiers).
    *
    * The balance bucket is computed on exact cents
    * (`round(bal·100)` → BIGINT) shifted by +$10,000 before the
    * integer divide, because Spark's `div` truncates toward zero
    * while the audit needs floor semantics and TPC-H balances go to
    * −$999.99 — on the shifted non-negative domain truncation IS
    * floor, in both engines.
    *
    * One groupBy on the QI tuple; output is one row per equivalence
    * class — the aggregation's key domain, not the table size.
    */
  def kAnonymityRisk(customer: DataFrame, k: Long,
      bucketCents: Long = 500000L): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(bucketCents >= 1, s"bucketCents must be >= 1")
    customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("(cast(round(c_acctbal * 100) as bigint) + 1000000) " +
          s"div $bucketCents").as("acct_bucket"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        col("acct_bucket"))
      .agg(count(lit(1)).as("group_size"))
      .withColumn("at_risk", col("group_size") < k)
      .orderBy(col("c_nationkey"), col("c_mktsegment"),
        col("acct_bucket"))
  }

  /** l-diversity audit — the attribute-disclosure companion of
    * [[kAnonymityRisk]] (k-anonymity bounds RE-IDENTIFICATION; it says
    * nothing about an adversary who locates a victim's equivalence
    * class and reads the sensitive attribute off it because every row
    * in the class shares one value). For each quasi-identifier
    * equivalence class, audit the distribution of a sensitive column:
    *
    *  - `l_distinct` — distinct sensitive values in the class;
    *    `meets_l` = `l_distinct >= l` (distinct l-diversity).
    *  - `top_count` / `top_ppm` — the modal sensitive value's
    *    frequency (ties broken by value asc, so the pick is
    *    deterministic in both engines): how confidently the adversary
    *    guesses after locating the class.
    *  - `meets_recursive` — recursive (c,l)-diversity
    *    (Machanavajjhala et al.): with class frequencies
    *    r₁ ≥ r₂ ≥ … ≥ r_m (value asc tie-break), require
    *    `r₁ < c · (r_l + r_{l+1} + … + r_m)` — the most common value
    *    must not dominate the tail beyond the l-th rank. Pure integer
    *    counts, no division, engine-exact.
    *
    * Scale shape: one groupBy on (QI, sensitive) — map-side partial
    * aggregation over the table — then one groupBy on QI over the
    * VALUE-DOMAIN-sized intermediate with a rank window partitioned
    * by QI (frames bounded by the sensitive-attribute cardinality,
    * never the table). Output is one row per equivalence class.
    */
  def lDiversity(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, l: Int, c: Long = 3L): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier")
    require(l >= 2, s"l must be >= 2, got $l")
    require(c >= 1, s"c must be >= 1, got $c")
    val qi = qiCols.map(col)
    val vc = df
      .groupBy((qi :+ col(sensitiveCol).as("__sens")): _*)
      .agg(count(lit(1)).as("__ct"))
    val w = Window.partitionBy(qiCols.map(col): _*)
      .orderBy(col("__ct").desc, col("__sens").asc)
    vc.withColumn("__rk", row_number().over(w))
      .groupBy(qi: _*)
      .agg(
        sum(col("__ct")).as("group_size"),
        count(lit(1)).as("l_distinct"),
        max(when(col("__rk") === 1, col("__ct")).otherwise(lit(0L)))
          .as("top_count"),
        sum(when(col("__rk") >= l, col("__ct")).otherwise(lit(0L)))
          .as("__tail"))
      .select(
        (qiCols.map(col) ++ Seq(
          col("group_size"), col("l_distinct"), col("top_count"),
          expr("top_count * 1000000 div group_size").as("top_ppm"),
          (col("l_distinct") >= l).as("meets_l"),
          (col("top_count") < lit(c) * col("__tail"))
            .as("meets_recursive"))): _*)
      .orderBy(qiCols.map(col): _*)
  }

  /** t-closeness audit — the distribution-level completion of the
    * [[kAnonymityRisk]] / [[lDiversity]] trio (l-diversity counts
    * DISTINCT sensitive values; a class can hold l distinct values
    * and still leak if their mix is far from the population's — the
    * skewness/similarity attacks of Li et al., "t-Closeness: Privacy
    * Beyond k-Anonymity and l-Diversity", ICDE 2007). For each
    * quasi-identifier equivalence class, measure the distance between
    * the class's sensitive-value distribution and the GLOBAL one; for
    * a nominal attribute the paper's EMD reduces to total variation,
    * `TV = Σ_v |p_class(v) − p_global(v)| / 2`.
    *
    * Exact integer form: per-value shares are truncated ppm
    * (`ct·10⁶ div n_class`, `gct·10⁶ div N` — identical truncation in
    * both engines), and values ABSENT from a class contribute their
    * full global share via the identity
    * `Σ_{v∉class} gppm_v = (Σ_domain gppm_v) − Σ_{v∈class} gppm_v`,
    * so the sum never needs a domain-completing outer join. `tv_ppm`
    * is exact over the ppm-quantized shares (quantization error
    * ≤ #values ppm, far below any useful t).
    *
    * Rows with a NULL sensitive value are excluded (documented
    * contract, as in `Audit.ksDrift` — a null would silently drop in
    * the share join and skew every total).
    *
    * Scale shape: ONE groupBy on (QI, sensitive) over the table; the
    * per-class totals ride a QI-partitioned window over that
    * class×value-sized frame (frames bounded by the sensitive-value
    * cardinality, never the table), the global distribution derives
    * from the same frame (truncated to a lazy local checkpoint so
    * its three consumers don't re-scan the input) and broadcasts
    * back, and the output is one row per equivalence class.
    */
  def tCloseness(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, tPpm: Long = 200000L): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier")
    require(tPpm >= 0 && tPpm <= 1000000L,
      s"tPpm must be in [0, 1000000], got $tPpm")
    val qi = qiCols.map(col)
    // the single input scan; everything below derives from this leaf
    val cls = graft.Caches.lazySnapshot("kanon",
      df.filter(col(sensitiveCol).isNotNull)
        .groupBy((qi :+ col(sensitiveCol).as("__sens")): _*)
        .agg(count(lit(1)).as("__ct")))
    val glob = cls.groupBy(col("__sens"))
      .agg(sum(col("__ct")).as("__gct"))
    val gshare = glob
      .crossJoin(broadcast(glob.agg(sum(col("__gct")).as("__n"))))
      .select(col("__sens"),
        expr("__gct * 1000000 div __n").as("__gppm"))
    // Σ_domain gppm — a constant ≤ 10⁶ (truncation loses ≤ 1 ppm per
    // value), carried alongside for the absent-value identity
    val gq = gshare.agg(sum(col("__gppm")).as("__gsum"))
    val wc = Window.partitionBy(qiCols.map(col): _*)
    cls
      .withColumn("__nc", sum(col("__ct")).over(wc))
      .join(broadcast(gshare), "__sens")
      .crossJoin(broadcast(gq))
      .groupBy(qi: _*)
      .agg(
        max(col("__nc")).as("group_size"),
        count(lit(1)).as("n_values"),
        sum(expr("abs(__ct * 1000000 div __nc - __gppm)")).as("__dsum"),
        sum(col("__gppm")).as("__psum"),
        max(col("__gsum")).as("__gs"))
      .withColumn("tv_ppm",
        expr("(__dsum + __gs - __psum) div 2"))
      .select(
        (qiCols.map(col) ++ Seq(
          col("group_size"), col("n_values"), col("tv_ppm"),
          (col("tv_ppm") <= tPpm).as("meets_t"))): _*)
      .orderBy(qiCols.map(col): _*)
  }

  // --- Entity resolution --------------------------------------------

  /** Token-blocked fuzzy entity resolution over part names — the
    * blocking + verify shape of every record-linkage pipeline
    * (dedupe/Magellan): candidate pairs are generated only WITHIN a
    * block (here: two parts sharing their RAREST name token — the
    * signature token with the smallest document frequency, token
    * string as the deterministic tie-break), then verified with the
    * exact Levenshtein distance on the full name.
    *
    * Rarest-token blocking is the discipline that keeps this linear:
    * candidates cost Σ(block size)², and block sizes track the df of
    * RARE tokens (frequent tokens never become anyone's signature) —
    * the same Σ|list|² bound as the IVF/minhash families. A name pair
    * must share its rarest token to be found; that recall loss is the
    * documented cost of not going quadratic, identical to minhash
    * banding. `maxBlock` is the hard skew guard behind that bound:
    * when the vocabulary is too small for the corpus (measured on
    * TPC-H part names: 20 k parts over a 92-color vocabulary
    * concentrate into 15 signature blocks, 18 M candidates), blocks
    * past the cap are DROPPED — an explicit, size-bounded recall
    * loss in place of a silent quadratic blow-up. Callers with
    * degenerate vocabularies should also slice first (the registered
    * query resolves within one brand); at true corpus scale the
    * output to keep is [[Text.dupClusters]]-style components, not
    * the raw pair list, which grows n² on duplicate-heavy data no
    * matter how the candidates are found.
    *
    * Returns verified pairs `(part_a, part_b, block_token, dist)`
    * with `dist <= maxDist`, `part_a < part_b`.
    */
  def fuzzyNameMatch(part: DataFrame, maxDist: Int,
      maxBlock: Long = 500L): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val toks = part
      .select(col("p_partkey"), col("p_name"),
        explode(array_distinct(split(col("p_name"), " ")))
          .as("token"))
    val df_ = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    // per-part signature = lexicographically-min (df, token) pair;
    // struct min gives the argmin without a window over the token
    // explosion
    val sig0 = toks.join(df_, "token")
      .groupBy(col("p_partkey"), col("p_name"))
      .agg(min(struct(col("df"), col("token"))).as("s"))
      .select(col("p_partkey"), col("p_name"),
        col("s.token").as("block_token"))
    // skew guard: drop whole blocks past the cap (see docstring)
    val blockSz = sig0.groupBy(col("block_token"))
      .agg(count(lit(1)).as("block_sz"))
    val sig = sig0.join(broadcast(blockSz), "block_token")
      .filter(col("block_sz") <= maxBlock)
      .select(col("p_partkey"), col("p_name"), col("block_token"))
    // r18 optimization note (measured, left alone): the bounded
    // `levenshtein(a, b, maxDist)` kernel and an |Δlen| ≤ maxDist
    // join gate were both tried here — on this catalog every
    // in-block candidate already verifies within maxDist, so the
    // threshold never early-exits and the banded kernel measured
    // ~0.2 s SLOWER on 243 k candidates than the plain one; reverted.
    sig.as("a")
      .join(sig.as("b"),
        col("a.block_token") === col("b.block_token") &&
          col("a.p_partkey") < col("b.p_partkey"))
      .select(col("a.p_partkey").as("part_a"),
        col("b.p_partkey").as("part_b"),
        col("a.block_token").as("block_token"),
        levenshtein(col("a.p_name"), col("b.p_name")).as("dist"))
      .filter(col("dist") <= maxDist)
      .orderBy(col("part_a"), col("part_b"))
  }

  /** Entity-resolution capstone — the composed ER pipeline over the
    * part catalog: rarest-token blocking → in-block Levenshtein
    * verification ([[fuzzyNameMatch]]) → connected components over
    * the verified pair graph (the shared
    * [[graft.ops.Text.dupClusters]] propagation — ER output at scale
    * IS components, never the n²-prone raw pair list) → entity-size
    * profile ([[graft.ops.Audit.componentSizeProfile]]). One line of
    * output per entity size with exact ppm of the catalog — the
    * dedup-rate read an MDM pipeline reports.
    */
  def entityResolution(
      part: DataFrame,
      maxDist: Int = 2,
      cacheFamily: String = "part",
      precomputedPairs: Option[DataFrame] = None
  ): DataFrame = {
    val raw = precomputedPairs.getOrElse(fuzzyNameMatch(part, maxDist))
    val ids = part.select(col("p_partkey").as("doc_id"))
    // Blocked candidates are PARTITION-CONFINED by construction: a
    // part has exactly ONE signature token ([[fuzzyNameMatch]]'s
    // min-struct argmin), so every verified edge joins two parts of
    // the same block and components never span blocks — the same
    // confinement [[graft.ops.Vector.semanticDedupAssigned]] routes
    // on. The zero-iteration per-block union-find then replaces the
    // global label-propagation fixpoint (r18 optimization: 2 rounds
    // of graph-sized joins + localCheckpoints → one edge shuffle;
    // identical assignment, pinned differentially in AffinitySpec).
    // xxhash64 packs the token into the required long key; a hash
    // collision merely co-groups two DISJOINT block graphs, which
    // union-find resolves to the same components regardless.
    // r19 (ADVICE): confinement is CHECKED, not assumed from the
    // column's presence — an external caller could pass pairs whose
    // edges span blocks, and the partitioned path would silently
    // split those components. Sufficient condition, one pair-set-
    // sized aggregate (the semanticDedupAssigned discipline): every
    // endpoint's incident edges carry ONE block token, so along any
    // path the token is constant and components never span blocks.
    def edgesConfined(p: DataFrame): Boolean = {
      val sym = p.select(col("part_a").as("k"), col("block_token"))
        .unionByName(
          p.select(col("part_b").as("k"), col("block_token")))
      // "one token per endpoint" as min ≠ max (r19: countDistinct
      // planned a distinct-aggregate Expand; min/max is one plain
      // partial-aggregated pass over the pair set)
      sym.groupBy(col("k"))
        .agg((min(col("block_token")) =!=
          max(col("block_token"))).as("multi"))
        .agg(coalesce(max(col("multi")), lit(false)).as("any"))
        .head.getBoolean(0) == false
    }
    val clusters = raw.columns.find(_ == "block_token") match {
      case Some(_) if edgesConfined(raw) =>
        // EAGER snapshot (the dupClusters gate discipline):
        // componentSizeProfile reads the assignment twice (sizes
        // feed the total AND the histogram) — lazy, the per-block
        // union-find ran twice per action
        graft.Caches.eagerSnapshot(cacheFamily,
          Text.dupClustersPartitioned(ids, raw.select(
            col("part_a").as("doc_a"), col("part_b").as("doc_b"),
            xxhash64(col("block_token")).as("part"))))
      case _ =>
        Text.dupClusters(ids, raw.select(
          col("part_a").as("doc_a"), col("part_b").as("doc_b")),
          cacheFamily = cacheFamily)
    }
    Audit.componentSizeProfile(clusters, "cluster")
  }

  /** Fellegi–Sunter agreement weights for the ER blocking pipeline —
    * the numbers that turn [[entityResolution]]'s yes/no Levenshtein
    * verdict into a principled per-field score: for each comparison
    * field, `m` = P(field agrees | pair is a match) estimated over
    * the blocked-and-verified candidate pairs, and `u` = P(field
    * agrees | pair is random) estimated EXACTLY as the field's value
    * collision probability Σ c_v·(c_v−1)/(N·(N−1)) — the standard
    * frequency-based u (no pair sampling: the histogram IS the
    * answer). The match weight ships as the odds ratio
    * `weight_milli = m_ppm·1000 div u_ppm` — monotone-equivalent to
    * the classic log₂(m/u) agreement weight without a transcendental,
    * so it is exact end to end. A field with weight ≈ 1000 (m ≈ u)
    * carries no linkage signal; price-band agreement at weight ≫ 1000
    * is what earns it a slot in the match rule.
    *
    * Scale shape: the candidate pairs come from the same
    * rarest-token blocking as [[fuzzyNameMatch]] (never n²); the
    * attribute table joins by key on both sides (part scales with
    * the corpus, so it streams — no broadcast of an unbounded dim);
    * each u is a value-histogram aggregation
    * (field-cardinality-sized); the output is exactly 4 rows via one
    * `stack`.
    */
  def fellegiSunterWeights(part: DataFrame, maxDist: Int = 2,
      precomputedPairs: Option[DataFrame] = None): DataFrame = {
    val attrs = part.select(col("p_partkey"),
      col("p_brand").as("f_brand"), col("p_type").as("f_type"),
      col("p_size").cast("long").as("f_size"),
      // exact dollar-hundreds band: cents div 10000, DECIMAL-bridged
      // so no double division touches the bucketing
      expr("CAST(CAST(p_retailprice AS DECIMAL(18,4)) * 100 AS BIGINT)"
        + " div 10000").as("f_price"))
    def pref(p: String) = attrs.select(
      col("p_partkey").as(s"${p}_key"),
      col("f_brand").as(s"${p}_brand"), col("f_type").as(s"${p}_type"),
      col("f_size").as(s"${p}_size"), col("f_price").as(s"${p}_price"))
    val m = precomputedPairs.getOrElse(fuzzyNameMatch(part, maxDist))
      .join(pref("a"), col("part_a") === col("a_key"))
      .join(pref("b"), col("part_b") === col("b_key"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("a_brand") === col("b_brand"), 1L)
          .otherwise(0L)), lit(0L)).as("m_brand"),
        coalesce(sum(when(col("a_type") === col("b_type"), 1L)
          .otherwise(0L)), lit(0L)).as("m_type"),
        coalesce(sum(when(col("a_size") === col("b_size"), 1L)
          .otherwise(0L)), lit(0L)).as("m_size"),
        coalesce(sum(when(col("a_price") === col("b_price"), 1L)
          .otherwise(0L)), lit(0L)).as("m_price"))
    def coll(f: String) = attrs.groupBy(col(s"f_$f"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L))
        .as(s"u_$f"))
    val n = attrs.agg(count(lit(1)).as("n_recs"))
    m.crossJoin(broadcast(coll("brand")))
      .crossJoin(broadcast(coll("type")))
      .crossJoin(broadcast(coll("size")))
      .crossJoin(broadcast(coll("price")))
      .crossJoin(broadcast(n))
      .selectExpr("n_pairs", "n_recs",
        """stack(4,
          |  'brand', m_brand, u_brand,
          |  'price_band', m_price, u_price,
          |  'size', m_size, u_size,
          |  'type', m_type, u_type) AS (field, m_agree, u_coll)"""
          .stripMargin)
      .select(col("field"), col("n_pairs"), col("m_agree"),
        expr("m_agree * 1000000 div GREATEST(n_pairs, 1)")
          .as("m_ppm"),
        // u_coll is O(N²/|domain|): the 10^6 shift must ride
        // DECIMAL(38,0)/HUGEINT (u_coll·10^6 passes 2^63 near
        // N ≈ 1.5e7 for a 25-value field — the kn_ppm discipline)
        expr("""CAST(CAST(u_coll AS DECIMAL(38,0)) * 1000000
               |  div GREATEST(CAST(n_recs AS DECIMAL(38,0))
               |    * (n_recs - 1), 1) AS BIGINT)""".stripMargin)
          .as("u_ppm"))
      .withColumn("weight_milli",
        expr("m_ppm * 1000 div GREATEST(u_ppm, 1)"))
      .orderBy(col("field"))
  }

  // --- Shuffle-skew diagnosis ---------------------------------------

  /** Join/aggregation-key skew advisor — the diagnostic run before
    * picking a salting factor (see Relational.saltedAgg): per-key
    * frequencies of `key` reduced to the heavy-hitter head, annotated
    * with the global distribution stats a partition planner needs:
    * total rows, distinct keys, exact median key count (lower
    * median: element at row ⌈n/2⌉ of counts ordered (ct, key)),
    * mean count in milli, the max/mean skew ratio in milli, and the
    * recommended salt-bucket count `⌈max_ct / med_ct⌉` (spread the
    * hottest key over enough reducers that its buckets look like a
    * median key).
    *
    * Scale shape: the count table is #keys-sized, never the fact
    * size. The median is NOT a global sort of it — counts compress
    * to a (#distinct count values)-row frequency table first (key
    * multiplicities cluster hard, so that table is tiny) and the
    * median falls out of one cumulative window over it; the
    * heavy-hitter head is orderBy+limit, which Spark executes as
    * TakeOrderedAndProject (per-partition heaps, no global sort).
    */
  def skewAdvisor(df: DataFrame, key: Column, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val counts = df.groupBy(key.as("key"))
      .agg(count(lit(1)).as("ct"))
    // lower median of the count distribution: smallest ct whose
    // cumulative key-frequency reaches ceil(n_keys / 2)
    val ctFreq = counts.groupBy(col("ct"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("cum",
        sum(col("freq")).over(
          Window.orderBy(col("ct"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val med = ctFreq
      .crossJoin(counts.agg(count(lit(1)).as("nk")))
      .filter(col("cum") >= expr("(nk + 1) div 2"))
      .agg(min(col("ct")).as("med_ct"))
    val stats = counts.agg(
        count(lit(1)).as("n_keys"),
        sum(col("ct")).as("total_rows"),
        max(col("ct")).as("max_ct"))
      .crossJoin(med)
    counts
      .orderBy(col("ct").desc, col("key")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("ct").desc, col("key"))))
      .crossJoin(broadcast(stats))
      .select(col("rank"), col("key"), col("ct"),
        col("n_keys"), col("total_rows"), col("max_ct"), col("med_ct"),
        expr("total_rows * 1000 div n_keys").as("avg_ct_milli"),
        expr("max_ct * 1000 * n_keys div total_rows")
          .as("skew_milli"),
        expr("(max_ct + med_ct - 1) div med_ct").as("salt_rec"))
      .orderBy(col("rank"))
  }

  /** Two-proportion A/B conversion test — the experimentation
    * readout: users split into arms by a deterministic hash of the
    * user key (`assign` column precomputed by the caller — here any
    * boolean), conversion = at least one `convEvent`; emits per-arm
    * exact counts and ppm rates, the rate difference, and the pooled
    * two-proportion z statistic in milli (computed in
    * identical-IEEE doubles from the exact counts — the gini
    * convention; all decisions downstream should re-derive
    * significance from the exact counts, which is why they are the
    * payload and z is a convenience).
    *
    * One distinct(user, converted?) aggregation (map-side combined)
    * then arithmetic over a 2-row frame.
    */
  def abConversionLift(events: DataFrame, assignB: Column,
      convEvent: String, minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val perUser = events
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === convEvent, 1L)
        .otherwise(0L)) >= minCount, 1L).otherwise(0L).as("conv"))
      .withColumn("arm", when(assignB, lit("B")).otherwise(lit("A")))
    // one conditional aggregation — an arms-then-filter fork would
    // recompute the per-user pass once per arm
    perUser.agg(
        count(when(col("arm") === "A", lit(1))).as("n_a"),
        sum(when(col("arm") === "A", col("conv")).otherwise(lit(0L)))
          .as("conv_a"),
        count(when(col("arm") === "B", lit(1))).as("n_b"),
        sum(when(col("arm") === "B", col("conv")).otherwise(lit(0L)))
          .as("conv_b"))
      .withColumn("rate_a_ppm", expr("conv_a * 1000000 div n_a"))
      .withColumn("rate_b_ppm", expr("conv_b * 1000000 div n_b"))
      .withColumn("diff_ppm", col("rate_b_ppm") - col("rate_a_ppm"))
      .withColumn("z_milli",
        floor(
          (col("conv_b").cast("double") / col("n_b").cast("double") -
            col("conv_a").cast("double") / col("n_a").cast("double"))
          / sqrt(
            ((col("conv_a") + col("conv_b")).cast("double") /
              (col("n_a") + col("n_b")).cast("double")) *
            (lit(1.0) -
              (col("conv_a") + col("conv_b")).cast("double") /
                (col("n_a") + col("n_b")).cast("double")) *
            (lit(1.0) / col("n_a").cast("double") +
              lit(1.0) / col("n_b").cast("double")))
          * 1000.0).cast("long"))
  }

  /** O'Brien–Fleming-shaped boundary literals for [[abSequential]]
    * — `⌊1.96·√(K/k)·1000⌋` per interim, computed ONCE here so the
    * registered op and its SQL twin inline byte-identical
    * constants. */
  def obfBoundsMilli(checks: Int): Seq[Long] =
    (1 to checks).map(k => math.floor(
      1.96 * math.sqrt(checks.toDouble / k) * 1000.0).toLong)

  /** GROUP-SEQUENTIAL A/B readout (Pocock/O'Brien–Fleming shape):
    * the experiment's day range is split into `checks` equal
    * interims; at each cut the CUMULATIVE two-proportion z is
    * compared against the conservative early-stopping boundary
    * `1.96·√(K/k)` (large early, 1.96 at the final look — the
    * classic OBF spending shape). The table a peeking experimenter
    * actually needs: the naive fixed-n z crosses 1.96 early by
    * chance alone ~2× more often than α promises, and this emits
    * the boundary next to the z so every interim decision is
    * auditable. Same arm/conversion conventions as
    * [[abConversionLift]] (arm by predicate, conversion = ≥
    * `minCount` events of `convEvent`); the crossing decision is
    * made on MILLI-QUANTIZED z against milli boundaries — integer
    * compares, engine-identical.
    *
    * Guards: an interim with an empty arm or a degenerate pooled
    * rate (0 or 1) has no defined z — emitted as 0, never a
    * division by zero (ANSI would throw). Scale shape: one user-day
    * rollup scan, a broadcast of `checks` cut rows, cumulative
    * per-(check, user) sums keyed on user — |checks|·|users| rows
    * through one shuffle; output = `checks` rows.
    */
  def abSequential(
      events: DataFrame,
      assignB: Column,
      convEvent: String = "purchase",
      minCount: Long = 14L,
      checks: Int = 4
  ): DataFrame = {
    require(checks >= 1 && checks <= 16,
      s"checks in [1,16], got $checks")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val bounds = obfBoundsMilli(checks)
    val ud = events
      .select(col("user_id"),
        datediff(col("ts").cast("date"),
          to_date(lit("1970-01-01"))).as("dday"),
        when(col("event_type") === convEvent, 1L).otherwise(0L)
          .as("is_conv"))
      .groupBy(col("user_id"), col("dday"))
      .agg(sum(col("is_conv")).as("conv_events"))
    val sp = ud.agg(min(col("dday")).as("d0"),
      max(col("dday")).as("d1"))
    val cuts = sp
      .select(explode(lit((1 to checks).toArray)).as("chk"),
        col("d0"), col("d1"))
      .withColumn("cut_day", col("d0") - 1 + expr(
        s"CAST(((d1 - d0 + 1) * chk + ${checks - 1}) div $checks " +
          "AS INT)"))
      .select(col("chk"), col("cut_day"))
    val perUser = ud
      .crossJoin(broadcast(cuts))
      .filter(col("dday") <= col("cut_day"))
      .groupBy(col("chk"), col("cut_day"), col("user_id"))
      .agg(sum(col("conv_events")).as("cv"))
      .select(col("chk"), col("cut_day"), col("user_id"),
        when(col("cv") >= minCount, 1L).otherwise(0L).as("conv"))
      .withColumn("arm", when(assignB, lit("B")).otherwise(lit("A")))
    val boundaryCase = "CAST(CASE chk " +
      bounds.zipWithIndex.map { case (b, i) =>
        s"WHEN ${i + 1} THEN ${b}L"
      }.mkString(" ") + " END AS BIGINT)"
    perUser
      .groupBy(col("chk"), col("cut_day"))
      .agg(
        count(when(col("arm") === "A", lit(1))).as("n_a"),
        sum(when(col("arm") === "A", col("conv")).otherwise(0L))
          .as("conv_a"),
        count(when(col("arm") === "B", lit(1))).as("n_b"),
        sum(when(col("arm") === "B", col("conv")).otherwise(0L))
          .as("conv_b"))
      .withColumn("z_milli",
        when(col("n_a") > 0 && col("n_b") > 0
            && col("conv_a") + col("conv_b") > 0
            && col("conv_a") + col("conv_b")
              < col("n_a") + col("n_b"),
          floor(
            (col("conv_b").cast("double") / col("n_b").cast("double")
              - col("conv_a").cast("double")
                / col("n_a").cast("double"))
            / sqrt(
              ((col("conv_a") + col("conv_b")).cast("double") /
                (col("n_a") + col("n_b")).cast("double")) *
              (lit(1.0) -
                (col("conv_a") + col("conv_b")).cast("double") /
                  (col("n_a") + col("n_b")).cast("double")) *
              (lit(1.0) / col("n_a").cast("double") +
                lit(1.0) / col("n_b").cast("double")))
            * 1000.0).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("boundary_milli", expr(boundaryCase))
      .withColumn("crossed",
        (abs(col("z_milli")) >= col("boundary_milli")).cast("long"))
      .orderBy(col("chk"))
  }

  /** Quantile treatment effects — the distributional A/B readout
    * [[abConversionLift]] (means) and [[cupedLift]] (variance) can't
    * see: a treatment that moves the p90 while leaving the median
    * flat is a whale-only effect, and deciding on the mean ships it
    * to everyone. Per arm, PERCENTILE_DISC at each requested
    * percentile over milli-quantized event values (value at row
    * `⌈p·n/100⌉` of the (value, event_id) total order — exact-rank,
    * the groupPercentiles convention, with the ceil as the integer
    * `(n·p + 99) div 100`), and the per-percentile treatment−control
    * difference. One shuffle on the 2-arm partition; output =
    * |percentiles| rows.
    */
  def abQuantileLift(
      events: DataFrame,
      assignB: Column,
      eventType: String = "purchase",
      percentiles: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    require(percentiles.nonEmpty &&
      percentiles.forall(p => p >= 1 && p <= 100),
      "percentiles must be in [1,100]")
    val vals = events.filter(col("event_type") === eventType)
      .select(assignB.as("treat"),
        floor(col("value") * 1000.0).cast("long").as("v_milli"),
        col("event_id"))
    val w = Window.partitionBy(col("treat"))
      .orderBy(col("v_milli"), col("event_id"))
    val ranked = vals
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1))
        .over(Window.partitionBy(col("treat"))))
    val perArm = ranked.groupBy(col("treat"))
      .agg(max(col("cnt")).as("n"),
        percentiles.map(p =>
          max(when(col("rn") === expr(s"(cnt * $p + 99) div 100"),
            col("v_milli"))).as(s"p$p")): _*)
    val ctrl = perArm.filter(!col("treat"))
      .select((col("n").as("n_ctrl") +:
        percentiles.map(p => col(s"p$p").as(s"c$p"))): _*)
    val treat = perArm.filter(col("treat"))
      .select((col("n").as("n_treat") +:
        percentiles.map(p => col(s"p$p").as(s"t$p"))): _*)
    val stackArgs = percentiles
      .map(p => s"$p, c$p, t$p").mkString(", ")
    ctrl.crossJoin(treat)
      .selectExpr("n_ctrl", "n_treat",
        s"stack(${percentiles.size}, $stackArgs)" +
          " AS (pct, ctrl_milli, treat_milli)")
      .withColumn("diff_milli", col("treat_milli") - col("ctrl_milli"))
      .orderBy(col("pct"))
  }

  /** Gap-constrained (windowed) funnel — the product-analytics form
    * the plain ordered funnel can't express: each step must occur
    * within `maxGapMs` of the PREVIOUS MATCHED step (greedy
    * earliest-match scan), so a view followed by a purchase a week
    * later does NOT convert. The per-user scan is inherently
    * sequential but bounded by that user's own event count, so it
    * folds as one `aggregate` over the user's sorted (ts, event_id,
    * type) struct array — the eventPaths/alertCooldown precedent;
    * the rollup emits one row per step with reach counts and exact
    * ppm conversion vs the first step and vs the previous step
    * (NULL at step 1).
    */
  def windowedFunnel(
      events: DataFrame,
      steps: Seq[String],
      maxGapMs: Long
  ): DataFrame = {
    require(steps.nonEmpty && steps.size <= 8,
      s"1..8 steps, got ${steps.size}")
    require(maxGapMs >= 1, s"maxGapMs must be >= 1: $maxGapMs")
    val n = steps.size
    val stepsLit = steps.map(s => s"'$s'").mkString("array(", ", ", ")")
    val perUser = events
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(
        unix_millis(col("ts")).as("tms"),
        col("event_id").as("eid"),
        col("event_type").as("et")))).as("__evs"))
      .withColumn("__st", expr(
        s"""aggregate(__evs,
           |  named_struct('st', 0, 'lt', CAST(0 AS BIGINT)),
           |  (acc, e) -> IF(acc.st < $n
           |      AND e.et = element_at($stepsLit, acc.st + 1)
           |      AND (acc.st = 0 OR e.tms - acc.lt <= $maxGapMs),
           |    named_struct('st', acc.st + 1, 'lt', e.tms),
           |    acc),
           |  acc -> acc.st)""".stripMargin))
    val reachCols = (1 to n).map(k =>
      sum(when(col("__st") >= k, 1L).otherwise(0L)).as(s"__c$k"))
    val agged = perUser.agg(reachCols.head, reachCols.tail: _*)
    val stackArgs = (1 to n).map { k =>
      val prev = if (k == 1) "CAST(NULL AS BIGINT)" else s"__c${k - 1}"
      s"CAST($k AS BIGINT), '${steps(k - 1)}', __c$k, $prev, __c1"
    }.mkString(", ")
    agged
      .select(expr(s"stack($n, $stackArgs) AS " +
        "(step, step_name, n_users, __prev, __first)"))
      .withColumn("conv_vs_first_ppm", expr(
        """CASE WHEN __first = 0 THEN NULL
          | ELSE n_users * 1000000 div __first END""".stripMargin))
      .withColumn("conv_vs_prev_ppm", expr(
        """CASE WHEN step = 1 OR __prev = 0 THEN NULL
          | ELSE n_users * 1000000 div __prev END""".stripMargin))
      .drop("__prev", "__first")
      .orderBy(col("step"))
  }

  /** CUPED variance-reduced A/B readout — the pre-period adjustment
    * every experimentation platform applies before calling a metric
    * move: per user, the metric over the calendar's second half (the
    * "experiment") and the SAME metric over the first half (the
    * covariate X); the adjusted metric is Y − θ(X − X̄) with
    * θ = cov(X,Y)/var(X) pooled across arms (arm-blind by
    * construction, so the adjustment cannot inject bias). Exact
    * integer skeleton: one per-user rollup, global moments as BIGINT
    * sums (cross-products promoted before multiplying), θ in
    * sign-split micro units, per-arm means floored at named milli
    * points — the whole row hash-compares. `varred_ppm` = ρ²·10⁶ is
    * the fraction of metric variance the covariate removes (the
    * "how much smaller can my experiment be" number).
    */
  def cupedLift(
      events: DataFrame,
      assignB: Column,
      metricEvent: String = "purchase"
  ): DataFrame = {
    val days = events.select(col("user_id"),
      datediff(to_date(col("ts")), lit("1970-01-01"))
        .cast("long").as("sd"),
      when(col("event_type") === metricEvent, 1L).otherwise(0L)
        .as("hit"))
    val mid = days.agg(min(col("sd")).as("__mn"),
      max(col("sd")).as("__mx"))
      .select(expr("(__mn + __mx) div 2").as("mid_day"))
    val perUser = days.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("sd") <= col("mid_day"), col("hit"))
          .otherwise(0L)).as("x"),
        sum(when(col("sd") > col("mid_day"), col("hit"))
          .otherwise(0L)).as("y"))
      .withColumn("arm_b", assignB)
    perUser.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"),
        count(when(col("arm_b"), lit(1))).as("n_b"),
        sum(when(col("arm_b"), col("x")).otherwise(0L)).as("sx_b"),
        sum(when(col("arm_b"), col("y")).otherwise(0L)).as("sy_b"),
        count(when(!col("arm_b"), lit(1))).as("n_a"),
        sum(when(!col("arm_b"), col("x")).otherwise(0L)).as("sx_a"),
        sum(when(!col("arm_b"), col("y")).otherwise(0L)).as("sy_a"))
      // cov/var cross-products: t = n·Sxy − Sx·Sy (sign-split), each
      // term bounded by n·Σxy — promote before multiplying anyway
      .withColumn("__t", expr(
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("__vx", expr(
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("__vy", expr(
        "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .withColumn("theta_micro", expr(
        """CASE WHEN __vx = 0 THEN NULL
          | ELSE CAST(CAST(sign(__t) AS BIGINT) *
          |   CAST(abs(__t) * 1000000 div __vx AS BIGINT) AS BIGINT)
          | END""".stripMargin))
      .withColumn("varred_ppm", expr(
        """CASE WHEN __vx = 0 OR __vy = 0 THEN NULL
          | ELSE CAST(__t * __t * 1000000 div (__vx * __vy)
          |   AS BIGINT) END""".stripMargin))
      .withColumn("mean_a_milli", expr("sy_a * 1000 div n_a"))
      .withColumn("mean_b_milli", expr("sy_b * 1000 div n_b"))
      .withColumn("__dx_a",
        expr("sx_a * 1000 div n_a - sx * 1000 div n"))
      .withColumn("__dx_b",
        expr("sx_b * 1000 div n_b - sx * 1000 div n"))
      .withColumn("adj_a_milli", expr(
        """CASE WHEN theta_micro IS NULL THEN mean_a_milli
          | ELSE mean_a_milli - CAST(sign(theta_micro * __dx_a)
          |     AS BIGINT) *
          |   (abs(theta_micro * __dx_a) div 1000000) END""".stripMargin))
      .withColumn("adj_b_milli", expr(
        """CASE WHEN theta_micro IS NULL THEN mean_b_milli
          | ELSE mean_b_milli - CAST(sign(theta_micro * __dx_b)
          |     AS BIGINT) *
          |   (abs(theta_micro * __dx_b) div 1000000) END""".stripMargin))
      .withColumn("adj_diff_milli",
        col("adj_b_milli") - col("adj_a_milli"))
      .select(col("n").as("n_users"), col("n_a"), col("n_b"),
        col("theta_micro"), col("varred_ppm"),
        col("mean_a_milli"), col("mean_b_milli"),
        col("adj_a_milli"), col("adj_b_milli"),
        col("adj_diff_milli"))
  }

  /** Experiment power / MDE calculator — the "can this test even
    * detect what we care about" readout computed from the feed's own
    * measured conversion: pooled rate p̂ (exact ppm), the minimum
    * detectable ABSOLUTE effect at the current per-arm n (the
    * smaller arm — the binding one), and the required per-arm n for
    * a 10%-relative MDE. Two-proportion normal approximation with
    * (z_{0.025}+z_{0.8}) pinned as the q20 constant 2937341
    * (= ⌊(1.959964+0.841621)·2²⁰⌋): n = z²·2p(1−p)/δ². Exact
    * integers end to end (DECIMAL(38,0) for z²·2p(1−p) ≈ 4·10²⁴,
    * ceil-division as (num+den−1) div den, MDE as the floored sqrt
    * of a floored quotient — both floors mirrored in the twin).
    */
  def powerMde(
      events: DataFrame,
      assignB: Column,
      convEvent: String,
      minCount: Long = 1L
  ): DataFrame = {
    val perUser = events
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === convEvent, 1L)
        .otherwise(0L)) >= minCount, 1L).otherwise(0L).as("conv"))
      .withColumn("arm_b", assignB)
    perUser.agg(
        count(when(!col("arm_b"), lit(1))).as("n_a"),
        sum(when(!col("arm_b"), col("conv")).otherwise(0L))
          .as("conv_a"),
        count(when(col("arm_b"), lit(1))).as("n_b"),
        sum(when(col("arm_b"), col("conv")).otherwise(0L))
          .as("conv_b"))
      .withColumn("p_pool_ppm", expr(
        "(conv_a + conv_b) * 1000000 div (n_a + n_b)"))
      // num = z²·2·p·(1e6−p) with z in q20: denominators carry 2^40
      .withColumn("__num", expr(
        "CAST(2937341 AS DECIMAL(38,0)) * 2937341 * 2 * p_pool_ppm " +
          "* (1000000 - p_pool_ppm)"))
      .withColumn("__n_min", least(col("n_a"), col("n_b")))
      .withColumn("mde_abs_ppm", expr(
        """CASE WHEN p_pool_ppm = 0 THEN NULL
          | ELSE CAST(floor(sqrt(CAST(__num
          |   div (CAST(__n_min AS DECIMAL(38,0)) * 1099511627776)
          |   AS DOUBLE))) AS BIGINT) END""".stripMargin))
      .withColumn("__delta", expr("p_pool_ppm div 10"))
      .withColumn("n_req_10pct_rel", expr(
        """CASE WHEN __delta = 0 THEN NULL
          | ELSE CAST((__num + CAST(__delta AS DECIMAL(38,0)) * __delta
          |     * 1099511627776 - 1)
          |   div (CAST(__delta AS DECIMAL(38,0)) * __delta
          |     * 1099511627776) AS BIGINT) END""".stripMargin))
      .select(col("n_a"), col("n_b"),
        col("conv_a").cast("long").as("conv_a"),
        col("conv_b").cast("long").as("conv_b"),
        col("p_pool_ppm"), col("mde_abs_ppm"),
        col("n_req_10pct_rel"))
  }

  /** Session-path mining — the "how do users actually move" table
    * behind funnel design (funnels test a HYPOTHESIZED order; path
    * mining reports the observed ones): per user-day session, the
    * path string of the first `maxLen` event types in (ts, event_id)
    * order, reduced to the top-`topK` paths with counts and an
    * exact ppm share of all sessions, plus whether the path
    * converts (contains a purchase).
    *
    * Determinism: events collect per session as (ts, event_id, type)
    * structs and `array_sort` orders them totally before the path
    * string is built — collect order never matters. Shape at scale:
    * one shuffle on the session key (map-side combine on the
    * collect), sessions-sized frame after; the head is
    * orderBy+limit = TakeOrdered. Per-session array is capped by
    * the session's own event count; `maxLen` truncation bounds the
    * path string.
    */
  def eventPaths(events: DataFrame, maxLen: Int = 5,
      topK: Int = 10): DataFrame = {
    require(maxLen >= 1 && topK >= 1, "maxLen and topK must be >= 1")
    // rank-filter BEFORE collecting: a power user's monster session
    // must spill through the window sort, not accumulate a
    // million-struct array in one aggregation buffer — only maxLen
    // structs per session ever reach collect_list
    val w = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("ts"), col("event_id"))
    val paths = events
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxLen)
      .select(col("user_id"), col("d"),
        struct(col("ts"), col("event_id"),
          col("event_type")).as("e"))
      .groupBy(col("user_id"), col("d"))
      .agg(array_sort(collect_list(col("e"))).as("es"))
      .select(
        array_join(transform(col("es"), e => e("event_type")), ">")
          .as("path"))
    val total = paths.agg(count(lit(1)).as("n_sessions"))
    paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .withColumn("share_ppm", expr("n * 1000000 div n_sessions"))
      // whole-segment match, not substring: a 'purchase_intent'
      // event type (or any '>'-boundary artifact) must not read as
      // a conversion (r10 advisor)
      .withColumn("converts",
        array_contains(split(col("path"), ">"), "purchase"))
      .orderBy(col("n").desc, col("path"))
      .limit(topK)
  }

  /** Gini coefficient of per-key activity — the single-number
    * concentration audit beside [[skewAdvisor]]'s head profile (the
    * advisor names the heavy keys; Gini says how unequal the WHOLE
    * distribution is, 0 = uniform, →1 = one key owns everything):
    * `G = (2·Σᵢ i·xᵢ − (n+1)·T) / (n·T)` over the counts sorted
    * ascending, reported in floor-ppm.
    *
    * The rank-weighted sum never sorts the keys: counts compress to
    * the (distinct count value → frequency) table first, and a block
    * of `f` keys sharing count `ct` after `c` predecessors
    * contributes `ct·(f·c + f·(f+1)/2)` — the whole Σᵢ i·xᵢ falls
    * out of one cumulative window over that compressed table (the
    * [[skewAdvisor]] median discipline). Overflow bound (documented,
    * pcaMomentsQ16 convention): block terms reach ct·n², so
    * max_ct·n² < 2⁶³ — holds to ~10⁹ keys at typical activity; the
    * final ratio is evaluated in double from exact long inputs
    * (identical IEEE expression in both engines).
    */
  def giniConcentration(df: DataFrame, key: Column): DataFrame = {
    val counts = df.groupBy(key.as("key"))
      .agg(count(lit(1)).as("ct"))
    val freq = counts.groupBy(col("ct")).agg(count(lit(1)).as("f"))
    // c = keys strictly before this block in (ct asc) order
    val c = sum(col("f")).over(Window.orderBy(col("ct"))
      .rowsBetween(Window.unboundedPreceding, -1))
    freq
      .withColumn("cum_before", coalesce(c, lit(0L)))
      .select(
        col("ct"), col("f"), col("cum_before"),
        expr("ct * (f * cum_before + f * (f + 1) div 2)")
          .as("block_ix"),
        (col("ct") * col("f")).as("block_t"))
      .agg(
        sum(col("f")).as("n_keys"),
        sum(col("block_t")).as("total"),
        sum(col("block_ix")).as("sum_ix"))
      .withColumn("gini_ppm",
        floor((lit(2.0) * col("sum_ix").cast("double") -
          (col("n_keys") + 1L).cast("double") *
            col("total").cast("double")) /
          (col("n_keys").cast("double") * col("total").cast("double"))
          * 1000000.0).cast("long"))
  }

  /** Pointwise mutual information between event types over the user
    * population — [[basketLift]]'s information-theoretic twin on the
    * behavioral axis (lift asks "how much more often than chance do
    * a and b co-occur in a basket"; PMI answers in log space over
    * users): for each unordered type pair,
    * `pmi = ln( n_ab·N / (n_a·n_b) )`, assembled from per-operand
    * ⌊ln·2²⁰⌋ integers (the q20 convention — floored lns combine by
    * integer +/−, so the whole column hash-compares). The
    * co-occurrence unit is the USER-DAY, not the whole user history:
    * over a long horizon every active user touches every type and
    * the statistic saturates; a bounded unit is what keeps PMI
    * informative (the same reason word PMI windows, rather than
    * whole-document co-occurrence).
    *
    * Shape at scale: `distinct(user, day, type)` is the one
    * corpus-sized shuffle (map-side combined); the self-join is
    * co-partitioned on its key with per-unit fan-out ≤ #types²;
    * everything after is #types²-sized with broadcast attaches.
    */
  def eventPmi(events: DataFrame): DataFrame = {
    // ONE corpus exchange (r18 optimization; the basketLift array
    // shape): the per-(user, day) sorted type set replaces the
    // distinct AND the unit-keyed self-join — pairs fan out as an
    // in-row double explode over the sorted set (identical i < j
    // pairs), partially aggregated before the tiny type-pair
    // exchange. The type marginals and the unit count re-read the
    // SAME per-unit aggregate (exchange reused across plan legs).
    val utArr = events
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("event_type"))
      .groupBy(col("user_id"), col("d"))
      .agg(sort_array(collect_set(col("event_type"))).as("types"))
    val single = utArr
      .select(explode(col("types")).as("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val nUnits = utArr.agg(count(lit(1)).as("n_units"))
    def lnq20(c: Column): Column =
      floor(log(c.cast("double")) * (1L << 20)).cast("long")
    utArr
      .select(col("types"), posexplode(col("types")).as(Seq("i", "ta")))
      .select(col("ta").as("type_a"),
        explode(slice(col("types"), col("i") + lit(2),
          size(col("types")))).as("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(single.withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("n", "n_a")), "type_a")
      .join(broadcast(single.withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("n", "n_b")), "type_b")
      .crossJoin(broadcast(nUnits))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        col("n_a"), col("n_b"), col("n_units"),
        (lnq20(col("n_ab")) + lnq20(col("n_units")) -
          lnq20(col("n_a")) - lnq20(col("n_b"))).as("pmi_q20"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Mutual information between two categorical columns — the
    * information-theoretic twin of [[cramersV]] (chi-square asks
    * "how far from independence"; MI asks "how many nats does
    * knowing A buy about B" — the quantity that decides whether a
    * metadata column is worth conditioning a sampler or a mixture
    * plan on): per observed cell the pointwise MI in the exact
    * [[eventPmi]] q20 convention —
    * `pmi = ln n_ab + ln N − ln n_a − ln n_b`, every ln a
    * `⌊ln(integer count)·2²⁰⌋`, combined by integer ± — and the
    * corpus MI as the count-weighted average
    * `mi_q20 = Σ n_ab·pmi_q20 div N` (DECIMAL(38,0)/HUGEINT
    * weighted sum), attached to every row (the benfordAudit
    * posture). Absent cells contribute exactly zero mass to MI, so
    * unlike chi-square NO domain completion is needed — the
    * observed-cell rollup is the whole computation.
    *
    * Shape at scale: ONE scan to the |A|·|B|-bounded cell rollup;
    * margins, the total, and the weighted MI all assemble as
    * windows OVER THE ROLLUP (the [[cramersV]] shape — a margin
    * groupBy per side would re-execute the scan once per branch,
    * measured 10× slower at sf0.1). NULL categories excluded.
    */
  def categoricalMutualInfo(
      df: DataFrame,
      aCol: String,
      bCol: String
  ): DataFrame = {
    def lnq20(c: Column): Column =
      floor(log(c.cast("double")) * (1L << 20)).cast("long")
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val wA = Window.partitionBy(col("a"))
    val wB = Window.partitionBy(col("b"))
    val w = Window.partitionBy()
    cells
      .withColumn("n_a", sum(col("n_ab")).over(wA))
      .withColumn("n_b", sum(col("n_ab")).over(wB))
      .withColumn("n", sum(col("n_ab")).over(w))
      .withColumn("pmi_q20",
        lnq20(col("n_ab")) + lnq20(col("n")) -
          lnq20(col("n_a")) - lnq20(col("n_b")))
      .withColumn("mi_q20",
        expr("""CAST(SUM(CAST(n_ab AS DECIMAL(38,0)) * pmi_q20)
          OVER () div n AS BIGINT)"""))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n"), col("pmi_q20"), col("mi_q20"))
  }

  /** Theil T inequality index with its between/within-group
    * decomposition — [[giniConcentration]]'s DECOMPOSABLE sibling
    * (Gini says how unequal the token budget is; Theil additionally
    * says WHERE the inequality lives: across sources, or inside
    * them — the property Gini famously lacks):
    * `T = Σ_i (x_i/X)·ln(x_i/μ)`, split exactly as
    * `T = T_within + T_between` with
    * `T_within = Σ_g (X_g/X)·T_g` and
    * `T_between = Σ_g (X_g/X)·ln(μ_g/μ)`.
    *
    * Integer scheme (the [[eventPmi]] q20 convention): every ln is
    * `⌊ln(integer)·2²⁰⌋` of a COUNT or SUM — never of a rational —
    * via `ln(v/μ_g) = ln v + ln n_g − ln X_g`, so all terms combine
    * by integer ±/× and the emitted q20 columns hash-compare. The
    * value column must be a positive bounded integer (quantize
    * upstream; rows with `x < 1` are excluded — ln needs mass), and
    * per-group sums of `ct·v·lnq20` run in DECIMAL(38,0)/HUGEINT
    * (~10²² at 10¹² rows). The exact-real decomposition identity
    * holds up to q20 floor drift; the spec checks it within
    * tolerance while each COLUMN is exactly defined in both engines.
    *
    * Shape at scale: one scan to the (group × bounded value)
    * histogram; group rollups and a 1-row global broadcast after.
    */
  def theilDecomposition(
      df: DataFrame,
      groupCol: String,
      valueCol: String
  ): DataFrame = {
    def lnq20(c: Column): Column =
      floor(log(c.cast("double")) * (1L << 20)).cast("long")
    val hist = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull &&
        col(valueCol) >= 1)
      .groupBy(col(groupCol).as("grp"),
        col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("ct"))
    val per = hist.groupBy(col("grp"))
      .agg(sum(col("ct")).as("n_g"),
        sum(col("ct") * col("v")).as("sum_g"))
    val tot = per.agg(sum(col("n_g")).as("n"),
      sum(col("sum_g")).as("sum_all"))
    // per-group Theil: Σ ct·v·(ln v + ln n_g − ln X_g) div X_g
    val tg = hist.join(per, "grp")
      .select(col("grp"),
        (col("ct").cast("decimal(38,0)") * col("v") *
          (lnq20(col("v")) + lnq20(col("n_g")) -
            lnq20(col("sum_g")))).as("num"))
      .groupBy(col("grp"))
      .agg(sum(col("num")).as("num_g"))
    val g = per.join(tg, "grp").crossJoin(broadcast(tot))
      .withColumn("t_g_q20",
        expr("CAST(num_g div sum_g AS BIGINT)"))
      .withColumn("share_ppm",
        expr("""CAST(CAST(sum_g AS DECIMAL(38,0)) * 1000000
          div sum_all AS BIGINT)"""))
      .withColumn("between_q20",
        lnq20(col("sum_g")) - lnq20(col("n_g")) -
          lnq20(col("sum_all")) + lnq20(col("n")))
    // global decomposition attached to every row (benford posture):
    // rollup-sized aggregations only
    val roll = g.select(
      (col("sum_g").cast("decimal(38,0)") * col("t_g_q20"))
        .as("w_num"),
      (col("sum_g").cast("decimal(38,0)") * col("between_q20"))
        .as("b_num"),
      col("sum_all"))
      .groupBy(col("sum_all"))
      .agg(sum(col("w_num")).as("w_sum"), sum(col("b_num")).as("b_sum"))
      .select(
        expr("CAST(w_sum div sum_all AS BIGINT)").as("t_within_q20"),
        expr("CAST(b_sum div sum_all AS BIGINT)").as("t_between_q20"))
    g.crossJoin(broadcast(roll))
      .select(col("grp"), col("n_g"), col("sum_g"), col("share_ppm"),
        col("t_g_q20"), col("between_q20"), col("t_within_q20"),
        col("t_between_q20"),
        (col("t_within_q20") + col("t_between_q20"))
          .as("t_total_q20"))
  }

  /** Cramér's V association between two categorical columns — the
    * "are these two dimensions redundant?" audit (segment vs
    * priority, shipmode vs returnflag, lang vs source): the
    * chi-square contingency statistic normalized to [0, 1] so it
    * compares across tables of different size and shape.
    *
    * Exactness convention: per contingency cell the observed and
    * expected masses quantize to ppm — `obs_ppm = o·10⁶ div N`,
    * `exp_ppm = r_a·c_b·10⁶ div N²` (DECIMAL(38,0)/HUGEINT
    * intermediates: r·c·10⁶ ~ 10³⁰ at N = 10¹² where BIGINT·BIGINT
    * overflows) — and the per-cell term is
    * `(obs_ppm − exp_ppm)² div max(exp_ppm, 1)`, so
    * `chi2_n_ppm = Σ terms` is the EXACT integer form of
    * 10⁶·(χ²/N) over the ppm-quantized masses (the quantization is
    * the documented contract, same posture as [[Audit.ksDrift]]'s
    * value histogram). `v_milli =
    * ⌊√(chi2_n_ppm / (10⁶·min(|A|−1, |B|−1)))·1000⌋` rides IEEE
    * sqrt — correctly rounded per IEEE-754, hence engine-identical
    * on integer inputs (stronger than the libm-ln q20 convention
    * [[eventPmi]] already hashes).
    *
    * Shape at scale: one partial-aggregated scan to the observed
    * contingency rollup, then a |A|×|B| domain completion (absent
    * cells owe their full expected mass — the [[Audit.benfordAudit]]
    * posture) and rollup-sized windows. NULL categories are excluded
    * (a NULL level would silently vanish from the windows'
    * partitions anyway — better an explicit contract).
    */
  def cramersV(
      df: DataFrame,
      aCol: String,
      bCol: String
  ): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
    // domain completion (the benfordAudit posture): a cell the data
    // never produced still owes its full expected mass to chi2 —
    // without it sparse contingencies underestimate the association
    val aTot = cells.groupBy(col("a")).agg(sum(col("o")).as("r_a"))
    val bTot = cells.groupBy(col("b")).agg(sum(col("o")).as("c_b"))
    val full = aTot.crossJoin(broadcast(bTot))
      .join(cells, Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val w = Window.partitionBy()
    full
      .withColumn("n", sum(col("o")).over(w))
      .withColumn("n_a", size(collect_set(col("a")).over(w)).cast("long"))
      .withColumn("n_b", size(collect_set(col("b")).over(w)).cast("long"))
      .withColumn("obs_ppm", expr("o * 1000000 div n"))
      .withColumn("exp_ppm",
        expr("""CAST(CAST(r_a AS DECIMAL(38,0)) * c_b * 1000000
          div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"""))
      .withColumn("term_ppm",
        expr("""(obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)
          div greatest(exp_ppm, CAST(1 AS BIGINT))"""))
      .withColumn("chi2_n_ppm", sum(col("term_ppm")).over(w))
      .withColumn("v_milli",
        floor(sqrt(col("chi2_n_ppm").cast("double") /
          (greatest(least(col("n_a"), col("n_b")) - 1L, lit(1L))
            .cast("double") * 1e6)) * 1000.0).cast("long"))
      .select(col("a"), col("b"), col("o"), col("r_a"), col("c_b"),
        col("n"), col("n_a"), col("n_b"), col("obs_ppm"),
        col("exp_ppm"), col("term_ppm"), col("chi2_n_ppm"),
        col("v_milli"))
  }

  /** Sample-ratio mismatch for a 50/50 experiment split — the
    * first-line A/B hygiene check (an SRM invalidates the experiment
    * before any lift is read): with a fair coin the two arms'
    * user counts satisfy `chi² = (n_a − n_b)²/N`, exact in milli by
    * one integer division (DECIMAL-promoted square — arm counts at
    * corpus scale square past BIGINT). `srm_suspect` applies the
    * 1-dof 95% line (3.841) as the documented integer threshold
    * 3841 milli. One distinct + one rollup.
    */
  def sampleRatioMismatch(
      events: DataFrame,
      assignB: Column
  ): DataFrame =
    events
      .select(col("user_id")).distinct()
      .select(when(assignB, lit(1L)).otherwise(lit(0L)).as("b"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("b")).as("n_b"))
      .withColumn("n_a", expr("n_users - n_b"))
      .withColumn("srm_chi2_milli", expr(
        """CASE WHEN n_users = 0 THEN NULL
          | ELSE CAST((CAST(n_a AS DECIMAL(38,0)) - n_b)
          |   * (CAST(n_a AS DECIMAL(38,0)) - n_b) * 1000
          |   div n_users AS BIGINT) END""".stripMargin))
      .withColumn("srm_suspect", col("srm_chi2_milli") > 3841L)
      .select(col("n_users"), col("n_a"), col("n_b"),
        col("srm_chi2_milli"), col("srm_suspect"))

  /** Per-user hour-of-day entropy — the bot screen: a human's
    * activity clumps into waking hours (low entropy), a scripted
    * client spreads uniformly (entropy → ln 24). Exact q20 integers
    * end to end in the eventPmi ln-of-integer convention:
    * `H·N = Σ_h c_h·(⌊ln N⌋ − ⌊ln c_h⌋)`, divided back by N with the
    * shared truncation. Per-user rollup → per-user output (the audit
    * table is user-domain-sized, like the Gini input); no window.
    */
  def userHourEntropy(events: DataFrame): DataFrame = {
    def lnq20(c: Column): Column =
      floor(log(c.cast("double")) * (1L << 20)).cast("long")
    val uh = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    val tot = uh.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_hours"))
    uh.join(tot, "user_id")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("n_hours")).as("n_hours"),
        sum(col("c") * (lnq20(col("n_events")) - lnq20(col("c"))))
          .as("__hn"))
      .withColumn("entropy_q20", expr("__hn div n_events"))
      .drop("__hn")
  }

  /** Hour-of-day load shape per event type — the capacity-planning
    * read of a feed (share of each type's traffic per hour in exact
    * ppm, plus the peak-to-mean ratio in milli: ~1000 = flat,
    * 24000 = everything in one hour). Two rollups and one broadcast
    * join; output bounded by types × 24 at any corpus size, and the
    * peak/mean closes from the per-type rollup's own integers — no
    * window at all.
    */
  def hourlyLoadProfile(events: DataFrame): DataFrame = {
    val hourly = events
      .filter(col("ts").isNotNull)
      .select(col("event_type"), hour(col("ts")).cast("long").as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"))
    val totals = hourly.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_type"), max(col("n")).as("peak"),
        count(lit(1)).as("n_hours"))
    hourly.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("hr"), col("n"),
        expr("n * 1000000 div n_type").as("share_ppm"),
        expr("peak * n_hours * 1000 div n_type")
          .as("peak_to_mean_milli"))
  }
}
