package graft

import org.apache.spark.sql.functions._
import graft.ops.{SingleTask, Vector => Vec}

/** Similarity-search operator behavior. */
class VectorSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f), 1),   // orthogonal
    (3L, Array(-1.0f, 0.0f, 0.0f), 1),  // opposite
    (4L, Array(1.0f, 0.05f, 0.0f), 0)   // closest to 0
  ).toDF("vec_id", "embedding", "label")

  test("brute-force top-k ranks by cosine") {
    val top = Vec.bruteForceTopK(vecs, 0L, 2)
      .select("vec_id").as[Long].collect()
    assert(top.toSeq == Seq(4L, 1L))
  }

  test("cosine of identical=1, orthogonal=0, opposite=-1") {
    val df = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        Vec.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(df((0L, 0L)) - 1.0) < 1e-12)
    assert(math.abs(df((0L, 2L))) < 1e-12)
    assert(math.abs(df((0L, 3L)) + 1.0) < 1e-12)
  }

  test("filteredCosineTopK restricts to the metadata filter before " +
      "ranking") {
    val docs = Seq(
      (1L, "en"), (2L, "es"), (3L, "es"), (4L, "en")
    ).toDF("doc_id", "lang")
    // vec 4 is the global best match but filtered out (lang=en);
    // vec 1 likewise — the es survivors are 2 (orthogonal) and
    // 3 (opposite)
    val top = Vec.filteredCosineTopK(docs, vecs, "es", 0L, 2)
      .select("vec_id").as[Long].collect()
    assert(top.toSeq == Seq(2L, 3L))
    // unfiltered equivalence: an all-match filter reproduces
    // bruteForceTopK over the joined ids
    val allDocs = Seq(1L, 2L, 3L, 4L).map((_, "xx"))
      .toDF("doc_id", "lang")
    val filtered = Vec.filteredCosineTopK(allDocs, vecs, "xx", 0L, 4)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Vec.bruteForceTopK(vecs, 0L, 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(filtered == brute)
  }

  test("semanticContamination counts eval hits above threshold only") {
    // eval = {0}; train = 1 (cos≈.994), 2 (cos 0), 3 (cos -1), 4
    // (cos≈.999) — at 0.9 only 1 and 4 hit, one eval doc each
    val hits = Vec.semanticContamination(
      vecs.filter($"vec_id" =!= 0L), vecs.filter($"vec_id" === 0L),
      threshold = 0.9).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Long]("n_eval_hits")).toMap
    assert(hits == Map(1L -> 1L, 4L -> 1L))
    // multi-hit: eval {0, 4} are near-parallel, so train 1 hits both
    val multi = Vec.semanticContamination(
      vecs.filter($"vec_id" === 1L),
      vecs.filter($"vec_id" === 0L || $"vec_id" === 4L),
      threshold = 0.9).collect()
    assert(multi.length == 1 &&
      multi.head.getAs[Long]("n_eval_hits") == 2L)
  }

  test("ann lsh returns subset of brute-force ordering") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val bf = Vec.bruteForceTopK(emb, 0L, 50)
      .select("vec_id").as[Long].collect().toSet
    val ann = Vec.annTopK(emb, 0L, 10, nPlanes = 2)
      .select("vec_id").as[Long].collect()
    assert(ann.nonEmpty)
    // LSH candidates ranked by true cosine → any returned id that is
    // also in the brute-force top-50 confirms ranking consistency.
    assert(ann.toSet.subsetOf(
      Vec.bruteForceTopK(emb, 0L, 500).select("vec_id").as[Long]
        .collect().toSet))
  }

  test("ivf ann: neighbors are real vectors ranked by true cosine") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val model = Vec.fitIvf(emb, nLists = 4)
    val ivf = Vec.ivfTopK(emb, model, 0L, 5, nProbe = 2)
      .collect()
    assert(ivf.nonEmpty && ivf.length <= 5)
    // ranked descending by cosine
    val sims = ivf.map(_.getAs[Double]("cos_sim"))
    assert(sims.sameElements(sims.sorted.reverse))
    // every returned id is in the brute-force top half (sane recall)
    val bf = Vec.bruteForceTopK(emb, 0L, 100)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.map(_.getAs[Long]("vec_id")).count(bf) >= ivf.length / 2)
  }

  test("near-dup pairs symmetric-free, above threshold, deduped") {
    val nd = Vec.cosineNearDup(vecs, 0.95,
      nBands = 4, bitsPerBand = 1, dim = 3).collect()
    nd.foreach { r =>
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
      assert(r.getAs[Double]("cos_sim") >= 0.95)
    }
    // pairs must be unique even when they collide in several bands
    val pairs = nd.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length)
    // (0,4) has cosine ≈ 0.9988 — banding with 4×1 bits must find it
    assert(pairs.contains((0L, 4L)))
  }

  test("cosineNearDup scale levers: per-vector cap binds; adaptive " +
      "bits still find exact dups; both neutral when non-binding") {
    import spark.implicits._
    // three identical vectors (cos = 1 pairwise) + an unrelated one
    val fam = Seq(
      (1L, Array(1.0f, 0.2f, 0.0f), 0),
      (2L, Array(1.0f, 0.2f, 0.0f), 0),
      (3L, Array(1.0f, 0.2f, 0.0f), 0),
      (9L, Array(0.0f, 0.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val full = pairs(Vec.cosineNearDup(fam, 0.95,
      nBands = 4, bitsPerBand = 1, dim = 3))
    assert(full == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // cap = 1: each LEFT endpoint keeps its single hardest pair
    // (cos ties break to the lower vec_b — the aggregator's policy)
    val capped = pairs(Vec.cosineNearDup(fam, 0.95,
      nBands = 4, bitsPerBand = 1, dim = 3, maxPairsPerVector = 1))
    assert(capped == Set((1L, 2L), (2L, 3L)), s"capped=$capped")
    // adaptive bits (bitsRefN = 1 -> +2·log2(4) = 4 extra bits):
    // exact duplicates collide in every band at ANY bit width, so
    // the identical family survives the stricter hashing
    val adaptive = pairs(Vec.cosineNearDup(fam, 0.95,
      nBands = 4, bitsPerBand = 1, dim = 3, bitsRefN = 1L))
    assert(adaptive == full, s"adaptive=$adaptive")
    // non-binding levers = bit-identical to the plain config (the
    // oracle-neutrality contract the registered query relies on)
    val neutral = pairs(Vec.cosineNearDup(fam, 0.95,
      nBands = 4, bitsPerBand = 1, dim = 3, maxPairsPerVector = 8,
      bitsRefN = 1000L))
    assert(neutral == full)
  }

  test("int8 quantization: max-abs scale, floor semantics, zero guard") {
    val v = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f), 0),
      (2L, Array(0.0f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Vec.quantizeInt8(v).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("scale"), r.getAs[Seq[Int]]("qvec"))).toMap
    assert(out(1L) == (1.0, Seq(127, -64, 31)))  // floor(-63.5) = -64
    assert(out(2L) == (0.0, Seq(0, 0, 0)))       // zero vector guard
  }

  test("banded LSH near-dup: exact precision, measured recall vs n² twin") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val exact = pairSet(Vec.exactCosinePairs(emb, 0.4))
    // the registered threshold must be evidentiary: non-trivial pair set
    assert(exact.size >= 10)
    // the registered configuration (16 bands × 5 bits)
    val lsh = pairSet(Vec.cosineNearDup(emb, 0.4, nBands = 16,
      bitsPerBand = 5))
    // candidates are confirmed by exact cosine → precision is exactly 1
    assert(lsh.subsetOf(exact))
    // 16 bands × 5 bits at cos ≥ 0.4 → theoretical recall ≈ 0.81 for
    // the worst (threshold-grazing) pair; assert a conservative floor
    assert(lsh.size.toDouble / exact.size >= 0.6,
      s"LSH recall ${lsh.size}/${exact.size} below floor")
  }

  test("codegen arrayDot matches HOF fold bitwise incl. null cases") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.1f, 0.2f), Array(0.3f, 0.4f))
    ).toDF("a", "b")
    val rows = df.select(
      Vec.decDot(col("a"), col("b")).as("fast"),
      Vec.decDotHof(col("a"), col("b")).as("slow")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // null array → null result
    val n = df.limit(1).select(
      Vec.decDot(lit(null).cast("array<float>"), col("b"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("label centroid sums are exact and mergeable") {
    val c = Vec.labelCentroids(vecs)
      .filter(col("label") === 0 && col("pos") === 0)
      .collect().head
    // components 1.0f, 0.9f, 1.0f → q16: 65536 + floor(0.9f·2^16 =
    // 58982.39…) + 65536; integer accumulation is fold-order-free
    assert(c.getAs[Long]("sum_q16") == 65536L + 58982L + 65536L)
    assert(c.getAs[Long]("n_vecs") == 3L)
  }

  test("semantic near-dup (KMeans) = exact pairs ∩ same list; " +
      "recall is the quantizer's cross-list loss only") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val model = Vec.fitIvf(emb, nLists = 8)
    val lists = Vec.assignLists(emb, model)
      .select(col("vec_id"), col("list_id")).as[(Long, Int)]
      .collect().toMap
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val exact = pairSet(Vec.exactCosinePairs(emb, 0.4))
    val sem = pairSet(Vec.semanticNearDupPairs(emb, model, 0.4))
    // precision 1 by construction (every pair exact-cosine-verified)
    assert(sem.subsetOf(exact))
    // and EXACTLY the same-list slice of the exact graph — the only
    // loss is the quantizer's cross-list split, nothing else
    assert(sem == exact.filter { case (a, b) =>
      lists(a) == lists(b)
    })
  }

  test("semanticDedupAssigned: within-list components, min-id keep") {
    val assigned = vecs.withColumn("list_id", col("label"))
    // threshold 0.95 connects {0,1,4} inside label 0; label 1's pair
    // (2,3) is at cosine −1 → all label-1 vectors stay singletons
    val out = Vec.semanticDedupAssigned(assigned, 0.95).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Boolean]("keep"))))
      .toMap
    assert(out == Map(
      0L -> ((0L, true)), 1L -> ((0L, false)), 4L -> ((0L, false)),
      2L -> ((2L, true)), 3L -> ((3L, true))))
  }

  test("semanticDedupAssigned routes a cross-list pair graph to the " +
      "general fixpoint (no silent component split)") {
    // the partition-local walk is only valid on a list-confined
    // graph — a doctored pair crossing labels 0 and 1 must take the
    // iterative path and still produce the correct joint component
    val assigned = vecs.withColumn("list_id", col("label"))
    val crossPair = Seq((0L, 2L, 1.0)).toDF("vec_a", "vec_b", "cos_sim")
    val out = Vec.semanticDedupAssigned(assigned, 0.95,
      precomputedPairs = Some(crossPair)).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Boolean]("keep"))))
      .toMap
    assert(out == Map(
      0L -> ((0L, true)), 2L -> ((0L, false)),
      1L -> ((1L, true)), 3L -> ((3L, true)), 4L -> ((4L, true))))
  }

  test("hyperplaneBands: bitwise-identical to the per-plane decDot " +
      "assembly, incl. NaN units and null elements") {
    // random unit-ish vectors + the degenerate cases the old
    // when(decDot >= 0).otherwise(0) construction defined: NaN
    // components (zero-norm units) hash all-ones (Spark orders NaN
    // above every double), a null element hashes all-zero (NULL dot
    // takes the otherwise branch); everything else must match the
    // per-plane signs bit for bit
    val rnd = new scala.util.Random(7)
    val dim = 16
    val nBands = 6
    val bits = 5
    val planes = Vec.hyperplanes(nBands * bits, dim, seed = 9L)
    val rows = (0 until 40).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    } :+ (97L, Array.fill(dim)(Double.NaN))
    val df = rows.toDF("vec_id", "unit")
    val fast = graft.functions.hyperplaneBands(
      col("unit"), planes, nBands, bits)
    val slow = array((0 until nBands).map { b =>
      (0 until bits).map { j =>
        val p = planes(b * bits + j)
        when(Vec.decDot(col("unit"), array(p.map(lit(_)): _*)) >= 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
    val out = df.select(col("vec_id"), fast.as("f"), slow.as("s"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[Long](r.fieldIndex("f")).toSeq ==
        r.getSeq[Long](r.fieldIndex("s")).toSeq,
        s"mismatch at vec ${r.getAs[Long]("vec_id")}")
    }
    // NaN unit → Spark orders NaN above 0, so decDot >= 0 held and
    // every bit is SET (all-ones hashes) — both forms must agree
    val nanRow = out.find(_.getAs[Long]("vec_id") == 97L).get
    assert(nanRow.getSeq[Long](nanRow.fieldIndex("f")).toSeq ==
      Seq.fill(nBands)((1L << bits) - 1))
    // a null element poisons every plane's dot → all-zero hashes
    val withNull = Seq((1L, Array[java.lang.Double](1.0, null,
      0.5) ++ Array.fill[java.lang.Double](dim - 3)(0.25)))
      .toDF("vec_id", "unit")
    val nRow = withNull.select(
      graft.functions.hyperplaneBands(col("unit"), planes, nBands,
        bits).as("f")).head
    assert(nRow.getSeq[Long](0).toSeq == Seq.fill(nBands)(0L))
    // length mismatch (shorter array than the planes' dim) → zeros
    val short = Seq((2L, Array(1.0, -1.0)))
      .toDF("vec_id", "unit")
    val sRow = short.select(
      graft.functions.hyperplaneBands(col("unit"), planes, nBands,
        bits).as("f")).head
    assert(sRow.getSeq[Long](0).toSeq == Seq.fill(nBands)(0L))
  }

  test("pprAssigned: restart mass stays in the seed's component; " +
      "unreachable nodes rank last with zero mass") {
    val assigned = vecs.withColumn("list_id", col("label"))
    val out = Vec.pprAssigned(assigned, seedId = 0L, k = 3,
      iters = 3, topN = 25).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("ppr_q20"), r.getAs[Int]("rank"))))
      .toMap
    assert(out.size == 5)
    // label 1 (vecs 2, 3) is a different list — no path from seed 0
    assert(out(2L)._1 == 0L && out(3L)._1 == 0L)
    // the seed and its within-list neighbors carry positive mass
    assert(out(0L)._1 > 0L && out(1L)._1 > 0L && out(4L)._1 > 0L)
    // ranks are the (ppr DESC, vec_id) order, 1-based and dense
    val ranked = out.toSeq.sortBy { case (id, (pq, _)) => (-pq, id) }
    assert(ranked.map(_._2._2) == (1 to 5))
  }

  test("dedupThresholdCurve: pairs shrink and components grow " +
      "monotonically in tau; exact structure on the fixture") {
    val assigned = vecs.withColumn("list_id", col("label"))
    val pairs = Vec.semanticNearDupPairsAssigned(assigned, 0.9)
    val rows = Vec.dedupThresholdCurve(assigned,
      Seq(0.9, 0.994, 0.999), pairs).collect()
      .map(r => r.getAs[Long]("tau_centi") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_components"),
          r.getAs[Long]("max_component"), r.getAs[Long]("n_dropped"))))
      .toMap
    // cos(0,1)≈0.9939, cos(0,4)≈0.9988, cos(1,4)≈0.9982; label 1's
    // pair sits at cos −1. tau 0.9: the full {0,1,4} triangle; tau
    // 0.994: two edges, SAME component through vec 4 (structure
    // stable while pairs drop); tau 0.999: no pairs, all singletons
    assert(rows(90L) == ((3L, 3L, 3L, 2L)))
    assert(rows(99L) == ((2L, 3L, 3L, 2L)))
    assert(rows(100L) == ((0L, 5L, 1L, 0L)))
  }

  test("quantizedVerify: bit-identical pair set to the plain verify") {
    // the sound-margin prefilter must never change the output on any
    // reachable input. (Zero-norm vectors never reach the banding:
    // ANSI `unitized` raises DIVIDE_BY_ZERO first — pre-existing
    // contract; the NaN pass-through in the prefilter covers
    // non-ANSI sessions.)
    val rnd = new scala.util.Random(11)
    val embs = (0 until 40).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    def pairsOf(quant: Boolean) =
      Vec.cosineNearDup(embs, 0.3, nBands = 8, bitsPerBand = 2,
        quantizedVerify = quant)
        .collect()
        .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
          r.getAs[Double]("cos_sim")))
        .sortBy(p => (p._1, p._2)).toSeq
    val plain = pairsOf(false)
    val quant = pairsOf(true)
    assert(plain == quant)
    assert(plain.nonEmpty, "fixture produced no pairs — vacuous")
  }

  test("exactCosinePairs refuses inputs above the n² guard") {
    val e = intercept[Exception] {
      Vec.exactCosinePairs(vecs, 0.5, maxRows = 2L).count()
    }
    assert(e.getMessage.contains("verification twin") ||
      Option(e.getCause).exists(_.getMessage.contains(
        "verification twin")))
  }

  test("batchTopK agrees with per-query bruteForceTopK") {
    val queries = vecs.filter(col("vec_id").isin(0L, 2L))
    val batch = Vec.batchTopK(vecs, queries, k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("vec_id")).toMap
    // exact known order for query 0: 4 (cos≈0.999), 1, 2 (orthogonal)
    assert(batch((0L, 1)) == 4L && batch((0L, 2)) == 1L &&
      batch((0L, 3)) == 2L)
    // every query's ranked list equals the single-query operator's
    for (qid <- Seq(0L, 2L)) {
      val single = Vec.bruteForceTopK(vecs, qid, 3)
        .select("vec_id").as[Long].collect().toSeq
      val fromBatch = (1 to 3).map(r => batch((qid, r)))
      assert(fromBatch == single, s"query $qid")
    }
    // self-match excluded
    assert(!batch.exists { case ((q, _), v) => q == v })
  }

  test("quantizedTopK: full-rescore form equals brute force; " +
      "rescore pool bounds the output") {
    // with rescoreK covering the whole corpus the quantized first
    // pass cannot evict a true neighbor — the final ranking must be
    // EXACTLY the float brute-force one (same cosine, same
    // tie-break); real corpus so the check has teeth
    val embs = Tables.embeddings(spark, sf("sf0.001"))
    val n = embs.count().toInt
    val full = Vec.quantizedTopK(embs, 0L, 10, rescoreK = n).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
    val brute = Vec.bruteForceTopK(embs, 0L, 10).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
    assert(full.toSeq == brute.toSeq)
    // narrow pool: output ⊆ the approx top-rescoreK, still k rows,
    // and on this corpus SQ8 ranking preserves the true top-10
    val narrow = Vec.quantizedTopK(embs, 0L, 10, rescoreK = 50)
      .collect().map(r => r.getAs[Long]("vec_id"))
    assert(narrow.length == 10)
    assert(narrow.toSeq == brute.map(_._1).toSeq)
    intercept[IllegalArgumentException](
      Vec.quantizedTopK(embs, 0L, 10, rescoreK = 5))
  }

  test("fitIvfPq is partition-invariant: identical model under " +
      "different input partitionings") {
    // Spark ML KMeans failed this (kmeans|| init + center-sum order
    // track the session's partitioning — measured as a cpus=8 vs 32
    // serving diff in r8); the driver-side Lloyd fit over the
    // vec_id-ordered sample must not care how the input is split
    val embs = Tables.embeddings(spark, sf("sf0.001"))
    val a = Vec.fitIvfPq(embs.repartition(3), nLists = 16, m = 16,
      ksub = 16)
    val b = Vec.fitIvfPq(embs.repartition(17), nLists = 16, m = 16,
      ksub = 16)
    assert(a.centers.flatten.toSeq == b.centers.flatten.toSeq)
    assert(a.pq.codebooks.flatten.flatten.toSeq ==
      b.pq.codebooks.flatten.flatten.toSeq)
  }

  test("PQ: deterministic fit, bounded codes, full-rescore equals " +
      "brute force, ADC-only recall is high on the real corpus") {
    val embs = Tables.embeddings(spark, sf("sf0.001"))
    val model = Vec.fitPq(embs, m = 16, ksub = 16)
    // deterministic: a second fit is bitwise-identical
    val model2 = Vec.fitPq(embs, m = 16, ksub = 16)
    assert(model.codebooks.flatten.flatten.toSeq ==
      model2.codebooks.flatten.flatten.toSeq)
    // codes: m per vector, each in [0, ksub)
    val codes = Vec.pqEncode(embs, model)
    val codeRows = codes.collect()
    assert(codeRows.length == embs.count())
    codeRows.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == model.m)
      assert(cs.forall(c => c >= 0 && c < model.ksub))
    }
    // full-rescore form: with the pool covering the corpus, the ADC
    // first pass cannot evict a true neighbor — output must EXACTLY
    // equal float brute force (same cosine, same tie-break)
    val n = embs.count().toInt
    val full = Vec.pqAdcTopK(embs, model, 0L, 10, rescoreK = n)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
    val brute = Vec.bruteForceTopK(embs, 0L, 10).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
    assert(full.toSeq == brute.toSeq)
    // serving form (rescoreK=100): 10 rows, and recall@10 vs brute ≥
    // 0.8 — measured 1.0 on this near-random corpus (0.9 at
    // rescoreK=50; randomness makes true neighbors barely separated,
    // the hard case for PQ distortion). A codebook/LUT bug craters
    // this to ~0.
    val served = Vec.pqAdcTopK(embs, model, 0L, 10, rescoreK = 100)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(served.size == 10)
    val recall = brute.map(_._1).count(served.contains) / 10.0
    assert(recall >= 0.8, s"ADC recall@10 = $recall")
    // precomputed-codes path (the deployment form) is identical
    val viaStored = Vec.pqAdcTopK(embs, model, 0L, 10, rescoreK = 100,
      precomputedCodes = Some(codes))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val viaInline = Vec.pqAdcTopK(embs, model, 0L, 10, rescoreK = 100)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(viaStored == viaInline)
    intercept[IllegalArgumentException](
      Vec.pqAdcTopK(embs, model, 0L, 10, rescoreK = 5))
  }

  test("incremental semantic gate: within-list dups flagged, " +
      "cross-list misses are the quantizer's documented loss, " +
      "zero-norm vectors pass, stored-artifact path == recompute") {
    def sigsOf(rows: Seq[(Long, Array[Float], Int)]) =
      Vec.semanticSignaturesAssigned(
        rows.toDF("vec_id", "embedding", "list_id"))
    val seen = sigsOf(Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(0f, 1f, 0f), 1)))
    val batch = sigsOf(Seq(
      (10L, Array(0.9f, 0.1f, 0f), 0),  // cos vs 0 ≈ 0.994 → dup
      (11L, Array(0f, 0.95f, 0.3f), 0), // near v1 but probes list 0 → miss
      (12L, Array(0f, 0f, 1f), 1),      // orthogonal to v1 → novel
      (13L, Array(0f, 0f, 0f), 0)))     // zero-norm → no semantic gate
    val dups = Vec.incrementalSemanticDupsSigs(batch, seen, 0.9)
      .collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    assert(dups.toSet == Set((10L, 0L)))
    // the artifact table is exactly what the model-free offline form
    // stores: one row per vector, unit-normalized
    val art = seen.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getAs[scala.collection.Seq[Double]]("unit")).toMap
    assert(art(0L) == Seq(1.0, 0.0, 0.0))
    // after admitting 11, a copy of it in a later batch IS gated —
    // the store accumulates
    val seen2 = seen.union(sigsOf(Seq((11L, Array(0f, 0.95f, 0.3f), 0))))
    val later = sigsOf(Seq((20L, Array(0f, 0.95f, 0.3f), 0)))
    val dups2 = Vec.incrementalSemanticDupsSigs(later, seen2, 0.9)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    assert(dups2.toSet == Set((20L, 11L)))
  }

  test("knnGraphAssigned: within-list neighbors ranked by cosine, " +
      "k caps per vector, zero-norm vectors neither source nor " +
      "attract edges; quantizer form is within-KMeans-list") {
    val a = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(0.9f, 0.1f, 0f), 0),  // cos vs 0 ≈ 0.994
      (2L, Array(0f, 1f, 0f), 0),      // cos vs 0 = 0
      (3L, Array(0f, 0f, 0f), 0),      // zero-norm
      (9L, Array(1f, 0f, 0f), 1))      // alone in its list
      .toDF("vec_id", "embedding", "list_id")
    val g = Vec.knnGraphAssigned(a, k = 2).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("nbr_id")).toMap
    // per-vector ranking: nearest first, ties by id; k=2 cap holds
    assert(g((0L, 1)) == 1L && g((0L, 2)) == 2L)
    assert(g((1L, 1)) == 0L && g((1L, 2)) == 2L)
    assert(g((2L, 1)) == 1L)  // cos(2,1)≈0.11 > cos(2,0)=0
    // zero-norm: no outgoing, no incoming; singleton list: no edges
    val ids = g.keys.map(_._1).toSet
    assert(!ids.contains(3L) && !ids.contains(9L))
    assert(!g.values.toSet.contains(3L))
    // quantizer form: every edge joins same-assigned-list vectors
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val model = Vec.fitIvf(embs, nLists = 4)
    val lists = Vec.assignLists(embs, model)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val edges = Vec.knnGraph(embs, model, k = 2).collect()
    assert(edges.nonEmpty)
    edges.foreach { r =>
      assert(lists(r.getAs[Long]("vec_id")) ==
        lists(r.getAs[Long]("nbr_id")))
      assert(r.getAs[Int]("rank") <= 2)
    }
  }

  test("hardNegativesAssigned: same-group neighbors excluded even " +
      "when most similar, hardest first, k caps, cross-list unseen") {
    val a = Seq(
      // list 0, group g1: 0 and 1 are near-identical (positives)
      (0L, Array(1f, 0f, 0f), 0, "g1"),
      (1L, Array(0.99f, 0.01f, 0f), 0, "g1"),
      // list 0, group g2: 2 is close to 0; 3 is orthogonal
      (2L, Array(0.9f, 0.2f, 0f), 0, "g2"),
      (3L, Array(0f, 1f, 0f), 0, "g2"),
      // list 1, group g3: similar to 0 but another list → never seen
      (9L, Array(1f, 0f, 0f), 1, "g3"))
      .toDF("vec_id", "embedding", "list_id", "group")
    val out = Vec.hardNegativesAssigned(a, k = 2).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("neg_id")).toMap
    // vec 0's hardest negative is 2 (cos ≈ 0.976), NOT 1 (0.9999,
    // same group); then 3 (cos 0)
    assert(out((0L, 1)) == 2L && out((0L, 2)) == 3L)
    // vec 3's negatives come only from g1 (cos vs 0 = 0, vs 1 ≈ 0.01)
    assert(out((3L, 1)) == 1L && out((3L, 2)) == 0L)
    // cross-list vector 9 appears nowhere
    assert(!out.values.toSet.contains(9L))
    assert(!out.keys.map(_._1).toSet.contains(9L))
  }

  test("densityPrune: overdense vectors dropped, sparse and " +
      "unmeasured (no-neighbor) vectors kept, mean is the rank-" +
      "ordered top-k average") {
    val a = Seq(
      // list 0: a tight clump of three near-identical vectors plus
      // one orthogonal outlier
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(0.99f, 0.01f, 0f), 0),
      (2L, Array(0.98f, 0.02f, 0f), 0),
      (3L, Array(0f, 1f, 0f), 0),
      (9L, Array(1f, 0f, 0f), 1))  // singleton list: unmeasured
      .toDF("vec_id", "embedding", "list_id")
    val out = Vec.densityPrune(a, k = 2, maxMeanCos = 0.9).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(out.size == 5)
    // clump members: both nearest neighbors are clump-mates, mean
    // cos ≈ 0.9998 > 0.9 → dropped
    Seq(0L, 1L, 2L).foreach { id =>
      assert(out(id).getAs[Int]("n_nbrs") == 2)
      assert(!out(id).getAs[Boolean]("keep"), s"vec $id should drop")
    }
    // outlier: neighbors exist but are orthogonal, mean ≈ 0.01 → kept
    assert(out(3L).getAs[Boolean]("keep"))
    // singleton list: no neighbors, no density measurement → kept
    assert(out(9L).getAs[Int]("n_nbrs") == 0)
    assert(out(9L).getAs[Boolean]("keep"))
    assert(out(9L).isNullAt(out(9L).fieldIndex("mean_knn_cos")))
    // the mean is exactly the rank-ordered fold of the top-k list
    val g = Vec.knnGraphAssigned(a, 2).collect()
      .filter(_.getAs[Long]("vec_id") == 0L)
      .sortBy(_.getAs[Int]("rank"))
      .map(_.getAs[Double]("cos_sim"))
    assert(out(0L).getAs[Double]("mean_knn_cos") ==
      g.foldLeft(0.0)(_ + _) / g.length)
  }

  test("IVF-PQ: bounded index artifact, full-probe/full-rescore " +
      "equals brute force, serving-point recall is high, stored " +
      "index equals inline") {
    val embs = Tables.embeddings(spark, sf("sf0.001"))
    val n = embs.count().toInt
    val model = Vec.fitIvfPq(embs, nLists = 16, m = 16, ksub = 16)
    // index artifact: one row per vector, list in [0, nLists),
    // m codes each in [0, ksub)
    val index = Vec.ivfPqIndex(embs, model)
    val idxRows = index.collect()
    assert(idxRows.length == n)
    idxRows.foreach { r =>
      val list = r.getAs[Int]("list_id")
      assert(list >= 0 && list < 16)
      val cs = r.getAs[scala.collection.Seq[Int]]("codes")
      assert(cs.length == model.pq.m)
      assert(cs.forall(c => c >= 0 && c < model.pq.ksub))
    }
    // degenerate config = exact: probing every list with a pool
    // covering the corpus leaves nothing for ADC distortion to evict
    // — output must EXACTLY equal float brute force
    val full = Vec.ivfPqTopK(embs, model, 0L, 10, nProbe = 16,
      rescoreK = n)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
    val brute = Vec.bruteForceTopK(embs, 0L, 10).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
    assert(full.toSeq == brute.toSeq)
    // serving point (nProbe=8 of 16, rescoreK=100): 10 rows, recall
    // vs brute ≥ 0.7 — measured 0.9 on this near-random corpus
    // (random vectors spread true neighbors across coarse lists —
    // the hard case for IVF recall; a probe/LUT/residual bug craters
    // this to ~0)
    val served = Vec.ivfPqTopK(embs, model, 0L, 10, nProbe = 8,
      rescoreK = 100)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(served.size == 10)
    val recall = brute.map(_._1).count(served.contains) / 10.0
    assert(recall >= 0.7, s"IVF-PQ recall@10 = $recall")
    // precomputed-index path (the deployment form) is identical
    val viaStored = Vec.ivfPqTopK(embs, model, 0L, 10, nProbe = 8,
      rescoreK = 100, precomputedIndex = Some(index))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val viaInline = Vec.ivfPqTopK(embs, model, 0L, 10, nProbe = 8,
      rescoreK = 100)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(viaStored == viaInline)
    intercept[IllegalArgumentException](
      Vec.ivfPqTopK(embs, model, 0L, 10, rescoreK = 5))
  }

  test("gridDensity: co-located unit vectors share a cell, isolated " +
      "ones count 1") {
    val out = Vec.gridDensity(vecs, gridDims = 3, g = 4).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("c0"), r.getAs[Int]("c1"), r.getAs[Int]("c2"),
          r.getAs[Long]("cell_count")))).toMap
    // vec 1 (0.9,0.1,0) and vec 4 (1,0.05,0) both normalize into
    // cell (3,0,0); the axis vectors land alone in (±4,0,0)/(0,4,0)
    assert(out(1L)._4 == 2L && out(4L)._4 == 2L)
    assert(out(1L)._1 == 3 && out(4L)._1 == 3)
    assert(out(0L) == ((4, 0, 0, 1L)))
    assert(out(3L)._1 == -4 && out(3L)._4 == 1L)
    // summing each distinct cell's count once recovers the corpus size
    assert(out.values.groupBy(v => (v._1, v._2, v._3))
      .map(_._2.head._4).sum == 5L)
    assert(out.size == 5)
  }

  test("mmrTopK diversifies: the redundant near-twin of the top hit " +
      "is deferred") {
    // query 0 = x-axis; 4 and 1 are both nearly-x (rel .999/.994 and
    // mutually sim ~.999); 2 is orthogonal (rel 0). Pure relevance
    // ranks (4, 1, 2); MMR at lambda=0.5 picks 4, then prefers the
    // orthogonal 2 (score .5*0-.5*.05≈-.02) over the redundant 1
    // (score .5*.994-.5*.999 ≈ -.002)... both negative — order is
    // decided by the actual fold values, so assert against them.
    val out = Vec.mmrTopK(vecs, 0L, k = 3, lambda = 0.5, poolSize = 4)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(out.head == ((1, 4L)), "first pick is the most relevant")
    // the second pick must NOT be the near-duplicate of the first
    // when an orthogonal candidate scores higher
    val relRank = Vec.bruteForceTopK(vecs, 0L, 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(relRank == Seq(4L, 1L, 2L))
    assert(out(1)._2 != 1L,
      s"MMR re-ranked away from the redundant twin: ${out.toSeq}")
  }

  test("mmrTopK at lambda=1 reduces to pure relevance ranking") {
    val mmr = Vec.mmrTopK(vecs, 0L, k = 3, lambda = 1.0, poolSize = 4)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    val brute = Vec.bruteForceTopK(vecs, 0L, 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(mmr == brute)
  }

  test("mmrTopK matches an in-memory MMR reference on the testdata " +
      "corpus (bitwise)") {
    val embs = Tables.embeddings(spark, sf("sf0.001"))
    val got = Vec.mmrTopK(embs, 0L, k = 8, lambda = 0.5, poolSize = 15)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    // reference: same math, plain Scala doubles
    val all = embs.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val qv = all.find(_._1 == 0L).get._2
    val qn = math.sqrt(dot(qv, qv))
    val pool = all.filter(_._1 != 0L)
      .map { case (id, v) =>
        val n = math.sqrt(dot(v, v))
        (id, dot(v, qv) / (n * qn), v.map(_ / n))
      }
      .filterNot(t => t._2.isNaN)
      .sortBy(t => (-t._2, t._1)).take(15)
    val maxSim = scala.collection.mutable.Map(
      pool.map(t => t._1 -> Double.NegativeInfinity): _*)
    val taken = scala.collection.mutable.Set.empty[Long]
    val exp = Seq.newBuilder[(Int, Long, Double, Double)]
    for (step <- 1 to 8) {
      val cands = pool.filterNot(t => taken(t._1)).map { t =>
        val ms = if (maxSim(t._1).isNegInfinity) 0.0 else maxSim(t._1)
        (t, 0.5 * t._2 - 0.5 * ms)
      }
      val (pick, score) = cands.minBy { case (t, s) => (-s, t._1) }
      taken += pick._1
      exp += ((step, pick._1, pick._2, score))
      pool.filterNot(t => taken(t._1)).foreach { t =>
        val s = dot(t._3, pick._3)
        if (s > maxSim(t._1)) maxSim(t._1) = s
      }
    }
    assert(got.toSeq == exp.result(),
      s"got ${got.toSeq}\nexp ${exp.result()}")
  }

  test("matryoshkaTopK: full-dims ≡ brute force; prefix pass is " +
      "corrected by the rescore; zero prefix excluded") {
    // dims = full dimension, rescoreK ≥ n: identical to brute force
    val full = Vec.matryoshkaTopK(vecs, 0L, k = 4, dims = 3,
      rescoreK = 10).select("vec_id", "cos_sim")
      .as[(Long, Double)].collect().toSeq
    val brute = Vec.bruteForceTopK(vecs, 0L, 4)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect().toSeq
    assert(full == brute)
    // truncation fixture: v3's 2-dim prefix aligns perfectly with
    // the query (prefix cos 1.0) but its full cosine is ~0.53 — the
    // exact rescore must demote it below v1; v2's prefix is
    // zero-norm → excluded from the first pass entirely
    val m = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f), 0),
      (3L, Array(0.5f, 0.0f, 0.8f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val got = Vec.matryoshkaTopK(m, 0L, k = 3, dims = 2, rescoreK = 10)
      .select("vec_id", "approx_score", "cos_sim")
      .as[(Long, Double, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 3L)) // v2 never ranked
    assert(math.abs(got(1)._2 - 1.0) < 1e-12)  // v3 prefix cos = 1
    assert(got(1)._3 < got(0)._3)              // rescore demotes it
  }

  test("knnPagerankAssigned matches an exact integer replay of the " +
      "recurrence, dangling nodes included") {
    // zero-norm vec 5 is edge-free (knn graph drops NaN cosines) —
    // it must still carry the damped base score
    val withDangling = vecs.union(
      Seq((5L, Array(0.0f, 0.0f, 0.0f), 1)).toDF("vec_id", "embedding", "label"))
    val assigned = withDangling.withColumn("list_id", col("label"))
    val edges = Vec.knnGraphAssigned(assigned, 2)
      .select("vec_id", "nbr_id").as[(Long, Long)].collect()
    val nodes = withDangling.select("vec_id").as[Long].collect()
    val deg = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.length.toLong
    }
    var pr = nodes.map(_ -> 1048576L).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map
        .empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s0, d0) => contrib(d0) += pr(s0) / deg(s0) }
      pr = nodes.map(v => v -> (157286L + 17L * contrib(v) / 20L)).toMap
    }
    val got = Vec.knnPagerankAssigned(assigned, 2, 3)
      .as[(Long, Long)].collect().toMap
    assert(got == pr, s"got $got\nexp $pr")
    assert(got(5L) == 157286L) // dangling: base term only
  }

  test("iterative graph ops run DEEP iteration counts to completion " +
      "(per-generation truncation past the lazy-lineage threshold)") {
    // iters = 10 > lazyLineageMaxIters exercises the localCheckpoint
    // path end to end; values must still match the exact in-memory
    // replay (truncation is a plan transform, never a value change)
    val assigned = vecs.withColumn("list_id", col("label"))
    val iters = Vec.lazyLineageMaxIters + 2
    val edges = Vec.knnGraphAssigned(assigned, 2)
      .select("vec_id", "nbr_id").as[(Long, Long)].collect()
    val nodes = vecs.select("vec_id").as[Long].collect()
    val deg = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.length.toLong
    }
    var pr = nodes.map(_ -> 1048576L).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map
        .empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s0, d0) => contrib(d0) += pr(s0) / deg(s0) }
      pr = nodes.map(v => v -> (157286L + 17L * contrib(v) / 20L)).toMap
    }
    val got = Vec.knnPagerankAssigned(assigned, 2, iters)
      .as[(Long, Long)].collect().toMap
    assert(got == pr, s"got $got\nexp $pr")
    // label propagation at the same depth: the hub fixture converges
    // after round 1, so the deep run must return the same labels
    val hub = Seq(
      (1L, Array(0.995f, 0.1f, 0.0f), 0),
      (2L, Array(0.995f, -0.1f, 0.0f), 0),
      (9L, Array(1.0f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
      .withColumn("list_id", col("label"))
    val seeds = Seq((9L, 7)).toDF("vec_id", "lab")
    val lp = Vec.labelPropagationAssigned(hub, seeds, k = 1,
      iters = iters).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        Option(r.getAs[Any]("lab")).map(_.asInstanceOf[Int])).toMap
    assert(lp == Map(1L -> Some(7), 2L -> Some(7), 9L -> Some(7)))
    graft.Caches.release("vec")
  }

  test("labelPropagationAssigned: seeds clamp, unlabeled adopt the " +
      "neighbor majority, isolated nodes stay unlabeled") {
    // one list: hub 9 seeded with label 7; satellites 1,2,3 point to
    // the hub (k=1) and must adopt 7; the hub's own nearest is 1 —
    // but seeds clamp, so 9 keeps 7 even after 1 is labeled.
    // second list: 4 is alone (no edges) → stays unlabeled.
    val vecs6 = Seq(
      (1L, Array(0.995f, 0.1f, 0.0f), 0),
      (2L, Array(0.995f, -0.1f, 0.0f), 0),
      (3L, Array(0.995f, 0.0f, 0.1f), 0),
      (9L, Array(1.0f, 0.0f, 0.0f), 0),
      (4L, Array(0.0f, 1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
      .withColumn("list_id", col("label"))
    val seeds = Seq((9L, 7)).toDF("vec_id", "lab")
    val got = Vec.labelPropagationAssigned(vecs6, seeds, k = 1,
      iters = 2).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((Option(r.getAs[Any]("lab")).map(_.asInstanceOf[Int]),
          r.getAs[Boolean]("is_seed"))))
      .toMap
    assert(got(9L) == ((Some(7), true)))
    assert(got(1L) == ((Some(7), false)))
    assert(got(2L) == ((Some(7), false)))
    assert(got(3L) == ((Some(7), false)))
    assert(got(4L) == ((None, false)))
    // tie-break: two labeled neighbors with different labels and one
    // vote each → the SMALLER label wins deterministically
    val tie = Seq(
      (10L, Array(1.0f, 0.0f), 0),
      (11L, Array(0.9f, 0.1f), 0),   // seeded 5
      (12L, Array(0.9f, -0.1f), 0)   // seeded 2
    ).toDF("vec_id", "embedding", "label")
      .withColumn("list_id", col("label"))
    val tieSeeds = Seq((11L, 5), (12L, 2)).toDF("vec_id", "lab")
    val t = Vec.labelPropagationAssigned(tie, tieSeeds, k = 2,
      iters = 1).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        Option(r.getAs[Any]("lab")).map(_.asInstanceOf[Int])).toMap
    assert(t(10L) == Some(2))
  }

  test("rrfFuse matches the exact integer formula; both-system ids " +
      "beat single-system ids at comparable ranks") {
    def q(r: Long): Long = 1048576L / (60L + r)
    val sysA = Seq((10L, 1), (11L, 2), (12L, 3))
      .toDF("id", "rank")
    val sysB = Seq((11L, 1), (13L, 2))
      .toDF("id", "rank")
    val got = Vec.rrfFuse(Seq(sysA, sysB), k = 10)
      .select("id", "rrf_score_q20", "n_systems")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got(11L) == ((q(2) + q(1), 2L))) // both systems
    assert(got(10L) == ((q(1), 1L)))
    assert(got(13L) == ((q(2), 1L)))
    assert(got(12L) == ((q(3), 1L)))
    // 11 (ranked by both) outscores every single-system id
    assert(got(11L)._1 > got(10L)._1)
    // deterministic order contract: (score desc, id)
    val order = Vec.rrfFuse(Seq(sysA, sysB), k = 10)
      .select("id").as[Long].collect().toSeq
    assert(order.head == 11L)
  }

  test("labelPropagationAssigned works with STRING labels (orderable, " +
      "never arithmetic'd)") {
    // same hub fixture as the numeric test, seeded with a string
    // label — the argmax compares labels natively, so domain/topic
    // strings propagate exactly like numeric tiers
    val vecs = Seq(
      (1L, Array(0.995f, 0.1f, 0.0f), 0),
      (2L, Array(0.995f, -0.1f, 0.0f), 0),
      (9L, Array(1.0f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
      .withColumn("list_id", col("label"))
    val seeds = Seq((9L, "news")).toDF("vec_id", "lab")
    val got = Vec.labelPropagationAssigned(vecs, seeds, k = 1,
      iters = 1).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        Option(r.getAs[String]("lab"))).toMap
    assert(got(1L) == Some("news"))
    assert(got(2L) == Some("news"))
    assert(got(9L) == Some("news"))
    // string tie-break: one vote each for "blog" and "ads" → the
    // lexicographically smallest label wins deterministically
    val tie = Seq(
      (10L, Array(1.0f, 0.0f), 0),
      (11L, Array(0.9f, 0.1f), 0),
      (12L, Array(0.9f, -0.1f), 0)
    ).toDF("vec_id", "embedding", "label")
      .withColumn("list_id", col("label"))
    val tieSeeds = Seq((11L, "blog"), (12L, "ads")).toDF("vec_id", "lab")
    val t = Vec.labelPropagationAssigned(tie, tieSeeds, k = 2,
      iters = 1).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        Option(r.getAs[String]("lab"))).toMap
    assert(t(10L) == Some("ads"))
  }

  test("rrfFuse counts a duplicated id within one system once (best " +
      "rank); k0 = 0 is rejected") {
    def q(r: Long): Long = 1048576L / (60L + r)
    val sysA = Seq((10L, 1), (10L, 3), (11L, 2)).toDF("id", "rank")
    val sysB = Seq((11L, 1)).toDF("id", "rank")
    val got = Vec.rrfFuse(Seq(sysA, sysB), k = 10)
      .select("id", "rrf_score_q20", "n_systems")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // 10 appears twice in sysA: best rank (1) scores, once
    assert(got(10L) == ((q(1), 1L)))
    assert(got(11L) == ((q(2) + q(1), 2L)))
    intercept[IllegalArgumentException] {
      Vec.rrfFuse(Seq(sysA), k = 10, k0 = 0)
    }
  }

  test("recallAtK dedups duplicate (query, vec) pairs — recall can " +
      "never exceed 10^6 ppm") {
    val approx = Seq(
      (10L, 1L, 1), (10L, 1L, 2), (10L, 2L, 3) // dup pair (10,1)
    ).toDF("query_id", "vec_id", "rank")
    val exact = Seq(
      (10L, 1L, 1), (10L, 2L, 2), (10L, 2L, 3) // dup pair (10,2)
    ).toDF("query_id", "vec_id", "rank")
    val got = Vec.recallAtK(approx, exact, 3)
      .select("query_id", "n_hits", "n_exact", "recall_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) == ((2L, 2L, 1000000L)))
  }

  test("centralityRepresentatives keeps the graph-central exemplar, " +
      "not the min id") {
    // hub (vec_id 9, deliberately NOT the min id) is every other
    // member's nearest neighbor under k=1, so it collects all the
    // in-edge mass and must be the representative; the min-id rule
    // would have kept vec 1
    val hub = Seq(
      (1L, Array(0.995f, 0.1f, 0.0f), 0),
      (2L, Array(0.995f, -0.1f, 0.0f), 0),
      (3L, Array(0.995f, 0.0f, 0.1f), 0),
      (9L, Array(1.0f, 0.0f, 0.0f), 0),
      // second list: a singleton cluster is its own representative
      (4L, Array(0.0f, 1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
      .withColumn("list_id", col("label"))
    val reps = Vec.centralityRepresentatives(hub, threshold = 0.9,
      k = 1, iters = 3)
      .select("cluster", "rep_id", "n_members")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(reps(1L) == ((9L, 4L)), s"got $reps")
    assert(reps(4L) == ((4L, 1L)))
  }

  test("recallAtK: intersection counts, exact-side denominator, " +
      "missing queries score zero") {
    val approx = Seq(
      (10L, 1L, 1), (10L, 2L, 2), (10L, 3L, 3), // 2 of 3 right
      (20L, 7L, 1), (20L, 8L, 2), (20L, 9L, 3), // 0 of 2 right
      (30L, 5L, 1) // short approx list, 1 of 1 right
    ).toDF("query_id", "vec_id", "rank")
    val exact = Seq(
      (10L, 1L, 1), (10L, 2L, 2), (10L, 4L, 3),
      (20L, 1L, 1), (20L, 2L, 2), // only 2 true neighbors
      (30L, 5L, 1),
      (40L, 6L, 1) // query absent from approx → zero hits
    ).toDF("query_id", "vec_id", "rank")
    val got = Vec.recallAtK(approx, exact, 3)
      .select("query_id", "n_hits", "n_exact", "recall_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) == ((2L, 3L, 666666L)))
    assert(got(20L) == ((0L, 2L, 0L)))
    assert(got(30L) == ((1L, 1L, 1000000L)))
    assert(got(40L) == ((0L, 1L, 0L)))
  }

  // correlated rank-2 data in 4 dims: two latent factors a, b drive
  // all four coordinates, so PCA must find two dominant directions
  // and two (near-)zero eigenvalues
  private def pcaFixture = (0 until 48).map { i =>
    val a = (i % 7).toDouble; val b = (i % 5).toDouble
    (i.toLong,
      Array((a + b).toFloat, (a - b).toFloat,
        (2 * a + 0.5 * b).toFloat, b.toFloat),
      0)
  }.toDF("vec_id", "embedding", "label")

  private def q16(x: Float): Long =
    math.floor(x.toDouble * 65536).toLong

  test("pcaMomentsQ16 equals the in-memory exact-integer moments") {
    val raw = pcaFixture.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    val d = raw.head._2.length
    val got = Vec.pcaMomentsQ16(pcaFixture)
      .select("i", "j", "sxy_q16", "sx_q16", "sy_q16", "n_vecs")
      .as[(Int, Int, Long, Long, Long, Long)].collect().toSet
    val sx = Array.fill(d)(0L)
    val sxy = Array.ofDim[Long](d, d)
    raw.foreach { case (_, v) =>
      for (i <- 0 until d) {
        sx(i) += q16(v(i))
        for (j <- i until d) sxy(i)(j) += q16(v(i)) * q16(v(j))
      }
    }
    val exp = (for (i <- 0 until d; j <- i until d)
      yield (i, j, sxy(i)(j), sx(i), sx(j), raw.length.toLong)).toSet
    assert(got == exp)
  }

  test("fitPca: orthonormal components, descending eigenvalues, " +
      "exact covariance reconstruction") {
    val m = Vec.fitPca(pcaFixture)
    val d = m.dim
    assert(d == 4)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    for (c1 <- 0 until d; c2 <- 0 until d) {
      val expected = if (c1 == c2) 1.0 else 0.0
      assert(math.abs(dot(m.components(c1), m.components(c2)) -
        expected) < 1e-9, s"V'V[$c1][$c2]")
    }
    assert(m.eigenvalues.toSeq == m.eigenvalues.sortBy(-_).toSeq)
    // rank-2 data: exactly two eigenvalues above quantization noise
    assert(m.eigenvalues.count(_ > 1e-6) == 2)
    // V diag(l) V' reconstructs the covariance of the q16 view
    val raw = pcaFixture.select("embedding")
      .as[Seq[Float]].collect()
    val n = raw.length
    val mean = (0 until d).map(i =>
      raw.map(v => q16(v(i))).sum.toDouble / n / 65536.0)
    for (i <- 0 until d; j <- 0 until d) {
      val sxy = raw.map(v => q16(v(i)) * q16(v(j))).sum.toDouble
      val cov = (sxy / n) / 65536.0 / 65536.0 - mean(i) * mean(j)
      val rec = (0 until d).map(c =>
        m.eigenvalues(c) * m.components(c)(i) * m.components(c)(j)).sum
      assert(math.abs(cov - rec) < 1e-7, s"cov[$i][$j]: $cov vs $rec")
    }
  }

  test("fitPca is bitwise partition-invariant") {
    val m1 = Vec.fitPca(pcaFixture)
    val m2 = Vec.fitPca(pcaFixture.repartition(7))
    assert(m1.eigenvalues.toSeq == m2.eigenvalues.toSeq)
    assert(m1.mean.toSeq == m2.mean.toSeq)
    assert(m1.components.map(_.toSeq).toSeq ==
      m2.components.map(_.toSeq).toSeq)
  }

  test("pcaProject: projected covariance is diag(eigenvalues); " +
      "whitening yields unit variance on informative components") {
    val m = Vec.fitPca(pcaFixture)
    val proj = Vec.pcaProject(pcaFixture, m, k = m.dim)
      .select("proj").as[Seq[Double]].collect()
    val n = proj.length
    for (c1 <- 0 until m.dim; c2 <- 0 until m.dim) {
      val mu1 = proj.map(_(c1)).sum / n
      val mu2 = proj.map(_(c2)).sum / n
      val cov = proj.map(p => (p(c1) - mu1) * (p(c2) - mu2)).sum / n
      val expected = if (c1 == c2) m.eigenvalues(c1) else 0.0
      assert(math.abs(cov - expected) < 1e-6,
        s"projCov[$c1][$c2]: $cov vs $expected")
    }
    val white = Vec.pcaProject(pcaFixture, m, k = 2, whiten = true)
      .select("proj").as[Seq[Double]].collect()
    for (c <- 0 until 2) {
      val mu = white.map(_(c)).sum / n
      val v = white.map(p => (p(c) - mu) * (p(c) - mu)).sum / n
      assert(math.abs(v - 1.0) < 1e-4, s"whitened var[$c] = $v")
    }
  }

  test("triangleCoefficient: K4 clump scores 1.0, far pairs score 0") {
    // list 0: four mutually-near vectors — k=3 makes the kNN graph
    // complete (K4): 4 triangles, each corner in 3, coeff exactly 1
    val clump = Seq(
      (0L, Array(1.0f, 0.00f)), (1L, Array(1.0f, 0.01f)),
      (2L, Array(1.0f, 0.02f)), (3L, Array(1.0f, 0.03f)))
    // list 1: two tight pairs far apart — the kNN still ranks all 3
    // in-list others, but symmetrized support of a 4-clique is again
    // complete, so isolate the pair case in its own 2-vector list
    val pairA = Seq((10L, Array(0.0f, 1.0f)), (11L, Array(0.01f, 1.0f)))
    val df = (clump.map { case (id, e) => (id, e, 0) } ++
      pairA.map { case (id, e) => (id, e, 1) })
      .toDF("vec_id", "embedding", "list_id")
    val out = Vec.triangleCoefficientAssigned(df, k = 3).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("n_tri"),
          r.getAs[Long]("coeff_ppm"))).toMap
    for (id <- 0L to 3L)
      assert(out(id) == ((3L, 3L, 1000000L)), s"vec $id: ${out(id)}")
    // the isolated pair: degree 1, no triangle, coefficient 0
    assert(out(10L) == ((1L, 0L, 0L)))
    assert(out(11L) == ((1L, 0L, 0L)))
  }

  test("linkPrediction: common-neighbor counts, jaccard, edge " +
      "exclusion and ordering on a hand graph") {
    // planted edge list (precomputedKnn bypasses the cosine build):
    // 1-2, 1-3, 2-3, 2-4, 3-4, 4-5 → degrees 1:2 2:3 3:3 4:3 5:1.
    // Non-edge 2-hop pairs: (1,4) common {2,3}; (2,5) and (3,5)
    // common {4}; (1,5) shares nothing.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("vec_id", "nbr_id")
    val out = Vec.linkPredictionAssigned(
      spark.emptyDataFrame, k = 3, topN = 100,
      precomputedKnn = Some(edges)).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Long]("common_nbrs"), r.getAs[Long]("deg_a"),
        r.getAs[Long]("deg_b"), r.getAs[Long]("jaccard_ppm"))).toList
    assert(out === List(
      (1L, 4L, 2L, 2L, 3L, 666666L),   // 2e6 div (2+3-2)
      (2L, 5L, 1L, 3L, 1L, 333333L),
      (3L, 5L, 1L, 3L, 1L, 333333L)))
    // topN truncates the deterministic order
    assert(Vec.linkPredictionAssigned(spark.emptyDataFrame, k = 3,
      topN = 1, precomputedKnn = Some(edges)).collect()
      .map(_.getAs[Long]("vec_a")).toList === List(1L))
  }

  test("resourceAllocation link pred: hub-discounted score is the " +
      "sum of per-neighbor integer floors; hub pairs rank below " +
      "specialist pairs") {
    // same graph as the linkPrediction fixture: degrees 1:2 2:3 3:3
    // 4:3 5:1. (1,4) shares {2,3} -> 2*floor(1e6/3) = 666666;
    // (2,5)/(3,5) share {4} -> 333333
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("vec_id", "nbr_id")
    val out = Vec.resourceAllocationLinkPred(
      spark.emptyDataFrame, k = 3, topN = 100,
      precomputedKnn = Some(edges)).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Long]("common_nbrs"), r.getAs[Long]("ra_micro")))
      .toList
    assert(out === List(
      (1L, 4L, 2L, 666666L),
      (2L, 5L, 1L, 333333L),
      (3L, 5L, 1L, 333333L)))
    // hub discounting: star hub 0 over {6,7,9,10} (deg 4) plus
    // specialist 8 tied to 6 and 7 (deg 2)
    val star = Seq((0L, 6L), (0L, 7L), (0L, 9L), (0L, 10L),
      (6L, 8L), (7L, 8L)).toDF("vec_id", "nbr_id")
    val m2 = Vec.resourceAllocationLinkPred(
      spark.emptyDataFrame, k = 3, topN = 100,
      precomputedKnn = Some(star)).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) ->
        r.getAs[Long]("ra_micro")).toMap
    // (6,7) via hub 0 (deg 4 -> 250000) AND specialist 8
    // (deg 2 -> 500000) = 750000; (9,10) via the hub alone scores
    // the discounted 250000, not the 333333 a deg-3 vertex would
    // earn — the hub width itself is priced in
    assert(m2((6L, 7L)) === 750000L)
    assert(m2((9L, 10L)) === 250000L)
  }

  test("kCore: triangle survives the peel, lone pair is stripped") {
    // list 0: three mutually-near vectors — k=2 gives K3, every
    // degree stays 2 through all rounds (a true 2-core)
    val tri = Seq(
      (0L, Array(1.0f, 0.00f)), (1L, Array(1.0f, 0.01f)),
      (2L, Array(1.0f, 0.02f)))
    // list 1: two vectors — one undirected edge, degree 1 < 2, both
    // peeled in round 1
    val pair = Seq((10L, Array(0.0f, 1.0f)), (11L, Array(0.01f, 1.0f)))
    val df = (tri.map { case (id, e) => (id, e, 0) } ++
      pair.map { case (id, e) => (id, e, 1) })
      .toDF("vec_id", "embedding", "list_id")
    val out = Vec.kCoreAssigned(df, k = 2, coreK = 2, rounds = 3)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("core_degree"), r.getAs[Boolean]("in_core")))
      .toMap
    for (id <- 0L to 2L) assert(out(id) == ((2L, true)), s"vec $id")
    assert(out(10L) == ((0L, false)))
    assert(out(11L) == ((0L, false)))
  }

  test("binarize + binaryTopK: sign words and Hamming order") {
    val df = Seq(
      (0L, Array(1.0f, -1.0f)), (1L, Array(0.5f, -0.5f)),
      (2L, Array(-1.0f, 1.0f)), (3L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val words = Vec.binarize(df, dim = 2).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Long](r.fieldIndex("words")).toList).toMap
    assert(words(0L) == Seq(1L))          // bit 0 only
    assert(words(2L) == Seq(2L))          // bit 1 only
    assert(words(3L) == Seq(3L))          // both bits
    val top = Vec.binaryTopK(df, dim = 2, queryId = 0L, k = 3)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("hamming")))
    assert(top.toSeq == Seq((1L, 0L), (3L, 1L), (2L, 2L)))
    // a 64-dim all-positive vector fills both words without overflow
    val wide = Seq((9L, Array.fill(64)(1.0f)))
      .toDF("vec_id", "embedding")
    val h = Vec.binarize(wide, dim = 64).collect().head
    val w64 = h.getSeq[Long](h.fieldIndex("words")).toList
    assert(w64 == List(0xFFFFFFFFL, 0xFFFFFFFFL))
  }

  test("isotropyAudit: collapsed label scores 1e6, orthogonal 0") {
    val df = Seq(
      // label 0: two identical unit vectors → mean pairwise dot 1
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0),
      // label 1: orthogonal pair → mean pairwise dot 0
      (2L, Array(1.0f, 0.0f), 1), (3L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Vec.isotropyAuditQ16(df).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n"), r.getAs[Long]("aniso_ppm"))).toMap
    assert(out(0) == ((2L, 1000000L)))
    assert(out(1) == ((2L, 0L)))
  }

  test("listBalance: exact shares and imbalance factors") {
    val df = Seq(
      (0L, 0), (1L, 0), (2L, 0),          // list 0: 3 vectors
      (3L, 1))                            // list 1: 1 vector
      .toDF("vec_id", "list_id")
    val out = Vec.listBalance(df).collect()
      .map(r => r.getAs[Int]("list_id") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("share_ppm"),
          r.getAs[Long]("imbalance_milli"))).toMap
    assert(out(0) == ((3L, 750000L, 1500L)))  // 1.5× the fair share
    assert(out(1) == ((1L, 250000L, 500L)))
  }

  test("centroidDrift: identical halves cos 1, orthogonal cos 0") {
    val a = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // label 0 side A: x-axis
      (2L, Array(0.0f, 1.0f), 1))   // label 1 side A: y-axis
      .toDF("vec_id", "embedding", "label")
    val b = Seq(
      (1L, Array(1.0f, 0.0f), 0),   // label 0 side B: identical
      (3L, Array(1.0f, 0.0f), 1))   // label 1 side B: orthogonal
      .toDF("vec_id", "embedding", "label")
    val out = Vec.centroidDriftQ16(a, b).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("dot_q"), r.getAs[Long]("na2_q"),
          r.getAs[Long]("nb2_q"), r.getAs[Long]("cos_ppm"))).toMap
    val q = 65536L
    // identical centroids: dot = na2 = nb2 = 2^32, cosine exactly 1
    assert(out(0) == ((q * q, q * q, q * q, 1000000L)))
    // orthogonal: dot 0, cosine exactly 0
    assert(out(1) == ((0L, q * q, q * q, 0L)))
  }

  test("meanPool: exact q16 sums and means per (group, dim)") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f), 0),   // group 0: mean (0.5, 0.5)
      (2L, Array(-1.0f, -1.0f), 1)  // group 1: itself
    ).toDF("vec_id", "embedding", "label")
    val out = Vec.meanPool(df, col("vec_id") % 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getAs[Long]("sum_q16"), r.getAs[Long]("n_members"),
          r.getAs[Double]("mean_q16"))).toMap
    val q = 65536L
    // group 0 = vec 0 and 2: dim0 1.0 + (-1.0) = 0, dim1 0 + (-1)
    assert(out((0L, 0)) == ((0L, 2L, 0.0)))
    assert(out((0L, 1)) == ((-q, 2L, -q / 2.0)))
    // group 1 = vec 1 alone
    assert(out((1L, 0)) == ((0L, 1L, 0.0)))
    assert(out((1L, 1)) == ((q, 1L, q.toDouble)))
  }

  test("multi-probe LSH: superset of single-probe, recall never worse") {
    val embs = Tables.embeddings(spark, sf("sf0.001"))
    val exact = Vec.bruteForceTopK(embs, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val single = Vec.annTopK(embs, 0L, 10, nPlanes = 4)
      .select("vec_id").as[Long].collect().toSet
    val multi = Vec.annTopKMultiProbe(embs, 0L, 10, nPlanes = 4)
      .select("vec_id").as[Long].collect().toSet
    val rs = (exact & single).size
    val rm = (exact & multi).size
    // Hamming-1 probes only ADD candidate buckets: recall can't drop
    assert(rm >= rs, s"multi-probe recall $rm < single-probe $rs")
    // and on this corpus the extra probes genuinely recover
    // across-one-plane neighbors the single bucket misses
    assert(rm > rs, s"multi-probe found nothing beyond single ($rm)")
    assert(multi.nonEmpty && single.nonEmpty)
  }

  test("rankingMetrics: perfect order, inverted order, missing top") {
    def frame(rows: Seq[(Long, Long, Int)]) =
      rows.toDF("query_id", "vec_id", "rank")
    val truth = frame(Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)))
    // perfect: ranked == truth → ndcg 1e6, rr = 2^20
    val perfect = Vec.rankingMetrics(truth, truth, 3).collect().head
    assert(perfect.getAs[Long]("ndcg_ppm") == 1000000L)
    assert(perfect.getAs[Long]("rr_q20") == 1048576L)
    // inverted: worst order of the same set → ndcg < 1e6, rr = 2^20/3
    val inv = frame(Seq((1L, 12L, 1), (1L, 11L, 2), (1L, 10L, 3)))
    val r2 = Vec.rankingMetrics(inv, truth, 3).collect().head
    assert(r2.getAs[Long]("ndcg_ppm") < 1000000L)
    assert(r2.getAs[Long]("ndcg_ppm") > 0L)
    assert(r2.getAs[Long]("rr_q20") == 1048576L / 3)
    // disjoint ranking: nothing relevant retrieved
    val miss = frame(Seq((1L, 90L, 1), (1L, 91L, 2), (1L, 92L, 3)))
    val r3 = Vec.rankingMetrics(miss, truth, 3).collect().head
    assert(r3.getAs[Long]("ndcg_ppm") == 0L)
    assert(r3.getAs[Long]("rr_q20") == 0L)
    assert(r3.getAs[Long]("idcg_q20") == perfect.getAs[Long]("idcg_q20"))
  }

  test("coresetSample: sparse-region vectors favored over dense mode") {
    // 40 vectors piled in one cell, 4 spread in distinct cells
    val dense = (0L until 40L).map(i =>
      (i, Array(1.0f, 0.01f * (i % 3), 0.0f, 0.0f), 0))
    val sparse = Seq(
      (100L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1),
      (101L, Array(0.0f, -1.0f, 0.0f, 0.0f), 1),
      (102L, Array(0.0f, 0.0f, -1.0f, 0.0f), 1),
      (103L, Array(0.0f, 0.0f, 0.0f, -1.0f), 1))
    val df = (dense ++ sparse).toDF("vec_id", "embedding", "label")
    val picked = Vec.coresetSample(df, 8)
      .select("vec_id").as[Long].collect().toSet
    assert(picked.size == 8)
    // each sparse singleton has weight ~40x a dense member; all make it
    assert(Set(100L, 101L, 102L, 103L).subsetOf(picked),
      s"sparse cells not covered: $picked")
    // deterministic
    val again = Vec.coresetSample(df, 8)
      .select("vec_id").as[Long].collect().toSet
    assert(again == picked)
  }

  test("mahalanobisOutliers: planted outlier first, const dim excluded") {
    // tight cloud around (0.5, 0.5) with one far point; dim 2 constant
    val cloud = (0L until 40L).map { i =>
      val eps = (i % 5).toFloat * 0.01f
      (i, Array(0.5f + eps, 0.5f - eps, 7.0f), 0)
    }
    val planted = Seq((99L, Array(-3.0f, 4.0f, 7.0f), 1))
    val df = (cloud ++ planted).toDF("vec_id", "embedding", "label")
    val out = Vec.mahalanobisOutliers(df, 3).collect()
    // the planted vector dominates the score ranking
    assert(out.head.getAs[Long]("vec_id") == 99L)
    // the constant dimension contributes nothing: 2 scored dims only
    assert(out.forall(_.getAs[Long]("n_dims") == 2L))
    // scores are monotone in rank order (top-k contract)
    val scores = out.map(_.getAs[Long]("score_q20"))
    assert(scores.sameElements(scores.sorted.reverse))
  }

  test("exactDupVectors: q16-identical grouped, near-identical separated") {
    import spark.implicits._
    val embs = Seq(
      (1L, Array(0.5f, 0.25f)), (2L, Array(0.5f, 0.25f)),
      (3L, Array(0.5f, 0.2500001f)), // differs below fp32 print, but
                                     // q16 floor ALSO equal → grouped
      (4L, Array(0.5f, 0.26f))
    ).toDF("vec_id", "embedding")
    val out = Vec.exactDupVectors(embs).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toList
    assert(out === List((1L, 3L))) // keep 1, group of {1,2,3}
  }

  test("indexMemoryBudget: tier bytes exact, ratios ordered binary > sq8 > fp32") {
    import spark.implicits._
    val embs = (1L to 100L).map(i => (i, Array.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val out = Vec.indexMemoryBudget(embs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(4)))
      .toMap
    assert(out("fp32") == (100L * 64 * 4, 1000L))
    assert(out("sq8") == (100L * 64 + 800L, 25600L * 1000 / 7200))
    assert(out("binary") == (100L * 2 * 8, 16000L))
    assert(out("pq") == (800L, 32000L))
  }

  test("nprobeRecallCurve: recall non-decreasing in nprobe, full probe reads 1e6") {
    val embs = Tables.embeddings(spark, sf("sf0.001"))
    val model = Vec.fitIvf(embs, nLists = 4)
    val curve = Vec.nprobeRecallCurve(embs, model, 0L, 5,
      Seq(1, 2, 4)).collect()
      .map(r => (r.getInt(0), r.getLong(3))).toList
    assert(curve.map(_._1) == List(1, 2, 4))
    assert(curve.map(_._2) == curve.map(_._2).sorted,
      s"recall not monotone: $curve")
    assert(curve.last._2 == 1000000L, s"full probe: $curve")
  }

  test("quantizationDistortion: zero vec reads zero; error bounded by one quant step per dim") {
    import spark.implicits._
    val embs = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.5f, -0.25f, 0.125f)),
      (3L, Array(0.003f, 0.9f, 0.1f, -0.7f))
    ).toDF("vec_id", "embedding")
    val out = Vec.quantizationDistortion(embs).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4))).toList
    val z = out.find(_._1 == 1L).get
    assert(z._2 == 0L && z._4 == 0L)
    // per-dim error < scale/127 → sq_err_q20 < 4·(scale/127)²·2^20
    out.filter(_._1 != 1L).foreach { case (id, err, energy, rel) =>
      assert(err >= 0 && err < (4.0 * math.pow(1.0 / 127, 2)
        * (1L << 20)).toLong + 4, s"vec $id err=$err")
      assert(rel >= 0 && rel < 1000000L)
    }
  }

  test("embeddingDriftPsi: identical snapshots read zero; a shifted slice lights up") {
    import spark.implicits._
    val embs = (1L to 80L).map(i =>
      (i, Array(0.6f + (i % 7) * 0.05f, 0.3f, 0.2f + (i % 3) * 0.1f,
        0.5f), 0)).toDF("vec_id", "embedding", "label")
    // gridDims=2/g=2 → smoothing mass (2g)^dims = 16 pseudo-counts:
    // at 80 rows the default 4-dim lattice's 4096-cell add-1 mass
    // would (correctly) drown any toy-sized shift — real corpora
    // dwarf the lattice, an 80-row spec does not
    val same = Vec.embeddingDriftPsi(embs, embs, gridDims = 2, g = 2)
      .collect()
    assert(same.forall(_.getAs[Long]("lnratio_q20") == 0L))
    assert(same.forall(_.getAs[Double]("psi_term") == 0.0))
    // shift: negate the first component for a quarter of vectors
    val cur = embs.withColumn("embedding",
      when(col("vec_id") % 4 === 0,
        concat(array(-element_at(col("embedding"), 1)),
          slice(col("embedding"), lit(2),
            size(col("embedding")) - 1)))
        .otherwise(col("embedding")))
    val drift = Vec.embeddingDriftPsi(embs, cur, gridDims = 2, g = 2)
      .collect()
      .map(_.getAs[Double]("psi_term")).sum
    assert(drift > 0.05, s"psi=$drift")
  }

  test("scale-capped sublist assignment: collision-free across label" +
      " buckets, size-capped, label-pure") {
    import spark.implicits._
    // 2600 rows, 10 labels, cap 1250 -> m = 2 sublists per label:
    // past the m = 1 regime, so a cross-bucket collision (the r11
    // `* 1000`-stride flaw class, visible only once m reaches the
    // stride — here exercised by the general injectivity of
    // label·m + pmod) or a size blowup would show.
    // block labels (i div 260), NOT i % 10: modular labels correlate
    // with pmod(vec_id, m) and collapse each bucket to one sublist
    val e = (0L until 2600L).map(i => (i, i / 260)).toDF("vec_id", "label")
    val stats = ops.VectorQueries.sublistCapped(e)
      .groupBy(col("list_id"))
      .agg(countDistinct(col("label")).as("n_labels"),
        count(lit(1)).as("n"))
      .collect()
    assert(stats.forall(_.getAs[Long]("n_labels") == 1L),
      "a sublist mixes labels: cross-bucket collision")
    assert(stats.length == 20, s"expected 10 labels x m=2 sublists," +
      s" got ${stats.length}")
    assert(stats.forall(_.getAs[Long]("n") <= 1250L),
      s"sublist exceeds cap: ${stats.map(_.getAs[Long]("n")).max}")
    // the advisor's exact flaw: with a fixed 1000 stride, m = 1024
    // merges label buckets; the composite must not (injectivity for
    // m >= 1000 — 10240 sublists over 10 labels stays label-pure)
    val big = (0L until 10240L).map(i => (i, i / 1024)).toDF("vec_id", "label")
    val bigStats = ops.VectorQueries.sublistCapped(big, cap = 10L)
      .groupBy(col("list_id"))
      .agg(countDistinct(col("label")).as("n_labels"))
      .collect()
    assert(bigStats.forall(_.getAs[Long]("n_labels") == 1L),
      "m >= 1000: cross-bucket collision (the fixed-stride flaw)")
    // m = 1 regime (validation SFs): list_id degenerates to label
    val small = ops.VectorQueries
      .sublisted(spark, sf("sf0.01"))
    assert(small.filter(col("list_id") =!= col("label")).count() == 0,
      "m=1 must leave list_id == label (oracle-neutral regime)")
  }

  test("centroidMarginAudit: separated clusters all positive; planted mislabel flagged") {
    import spark.implicits._
    // cluster 0 near +x, cluster 1 near +y; vec 99 sits in cluster
    // 1's field but carries label 0 → the one misassignment
    val embs = Seq(
      (1L, Array(1.0f, 0.1f), 0), (2L, Array(0.9f, 0.0f), 0),
      (3L, Array(1.0f, -0.1f), 0),
      (11L, Array(0.1f, 1.0f), 1), (12L, Array(0.0f, 0.9f), 1),
      (13L, Array(-0.1f, 1.0f), 1),
      (99L, Array(0.05f, 0.95f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Vec.centroidMarginAudit(embs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(4))).toList
    val l0 = out.find(_._1 == 0).get
    val l1 = out.find(_._1 == 1).get
    assert(l0._2 == 4L && l0._3 == 1L, s"l0=$l0") // 99 misassigned
    assert(l1._2 == 3L && l1._3 == 0L, s"l1=$l1")
    assert(l1._4 > 0, s"separated cluster mean margin: ${l1._4}")
  }

  test("jlDistortion: basis-vs-zero pair hits ratio_ppm exactly 1e6, " +
      "identical pair emits NULL, sign matrix is deterministic") {
    val d = 8
    val k = 4
    // pair (0,1): e_0 vs zero vector -> d2_orig = 1 and
    // d2_proj = sum_j s_0j^2 = k exactly -> ratio = k*1e6/(k*1)
    val e0 = Array.tabulate(d)(i => if (i == 0) 1f else 0f)
    val z = Array.fill(d)(0f)
    val embs = Seq((0L, e0), (1L, z), (2L, e0), (3L, e0))
      .toDF("vec_id", "embedding")
    val out = Vec.jlDistortion(embs, outDims = k, dims = d)
      .collect().map(r => r.getAs[Long]("vec_id_a") -> r).toMap
    assert(out(0L).getAs[Double]("d2_orig") === 1.0)
    assert(out(0L).getAs[Double]("d2_proj") === k.toDouble)
    assert(out(0L).getAs[Long]("ratio_ppm") === 1000000L)
    // pair (2,3): identical vectors -> zero distance, NULL ratio
    assert(out(2L).getAs[Double]("d2_orig") === 0.0)
    assert(out(2L).isNullAt(out(2L).fieldIndex("ratio_ppm")))
    // the MD5-parity matrix is pure: same inputs, same signs
    assert(Vec.jlSigns(16, 8) === Vec.jlSigns(16, 8))
    assert(Vec.jlSigns(16, 8).flatten.forall(s => s == 1 || s == -1))
  }

  test("jlDistortion: ratios concentrate around 1e6 on a spread of " +
      "deterministic integer vectors") {
    val d = 64
    val embs = (0L until 40L).map { id =>
      (id, Array.tabulate(d)(i =>
        (((id / 2) * 31 + i * 7) % 13).toFloat - 6f))
    }.toDF("vec_id", "embedding")
    // adjacent pairs share id/2, so each pair differs only via the
    // vec bodies being IDENTICAL -> force distinct: shift odd rows
    val shifted = embs.withColumn("embedding",
      when(col("vec_id") % 2 === 1,
        transform(col("embedding"), x => x + lit(1.0f)))
        .otherwise(col("embedding")))
    val ratios = Vec.jlDistortion(shifted, outDims = 16, dims = d)
      .collect().map(_.getAs[Long]("ratio_ppm"))
    assert(ratios.length === 20)
    // constant-shift pairs: d2_orig = 64; JL ratios stay within a
    // loose concentration band (the guarantee is in expectation)
    assert(ratios.forall(r => r > 100000L && r < 4000000L),
      s"ratios=${ratios.toSeq}")
  }

  test("degreeAssortativity: perfect star = -1000 milli; " +
      "degree-regular graph = NULL (zero variance)") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
      .toDF("vec_id", "nbr_id")
    val r1 = Vec.degreeAssortativity(star).collect().head
    assert(r1.getAs[Long]("n_edges") === 3L)
    assert(r1.getAs[Long]("assort_milli") === -1000L)
    // C4 cycle: every degree 2 -> zero degree variance -> NULL
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
      .toDF("vec_id", "nbr_id")
    val r2 = Vec.degreeAssortativity(cycle).collect().head
    assert(r2.isNullAt(r2.fieldIndex("assort_milli")))
  }

  test("hitsScores: hand-unrolled q20 recurrence on a 3-node graph") {
    val edges = Seq((0L, 1L), (2L, 1L), (1L, 2L))
      .toDF("vec_id", "nbr_id")
    val nodes = Seq(0L, 1L, 2L).toDF("vec_id")
    val m = Vec.hitsScores(edges, nodes).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("hub_q20"), r.getAs[Long]("auth_q20"))).toMap
    // a1: {1: 2^20, 2: 2^19}; h2: {0: 2^20, 2: 2^20, 1: 2^19};
    // a2 raw: {1: 2^21, 2: 2^19} -> normalized {1: 2^20, 2: 2^18}
    assert(m(0L) == ((1048576L, 0L)))
    assert(m(1L) == ((524288L, 1048576L)))
    assert(m(2L) == ((1048576L, 262144L)))
  }

  test("silhouetteSimplified: hand-computed two-cluster geometry; " +
      "single cluster scores 0 by convention") {
    val embs = Seq(
      (0L, Array(0f, 0f), 0), (1L, Array(2f, 0f), 0),
      (2L, Array(10f, 0f), 1), (3L, Array(12f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val m = Vec.silhouetteSimplified(embs).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("sum_s_milli"),
          r.getAs[Long]("mean_s_milli"))).toMap
    // centroids (1,0) and (11,0): per vector a=1 and b∈{9,11} →
    // s = ⌊1000·10/11⌋ + ⌊1000·8/9⌋ = 909 + 888 per label
    assert(m(0) == ((2L, 1797L, 898L)))
    assert(m(1) == ((2L, 1797L, 898L)))
    val solo = Seq((0L, Array(0f, 0f), 0), (1L, Array(2f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Vec.silhouetteSimplified(solo).collect()
    assert(r.length === 1 && r.head.getAs[Long]("sum_s_milli") === 0L)
  }

  test("centroidSeparation: orthogonal label centroids read -1..0, " +
      "parallel labels read 999+") {
    val embs = Seq(
      (0L, Array(4f, 0f), 0), (1L, Array(2f, 0f), 0),   // centroid (3,0)
      (2L, Array(0f, 5f), 1),                           // centroid (0,5)
      (3L, Array(6f, 0f), 2)                            // centroid (6,0)
    ).toDF("vec_id", "embedding", "label")
    val m = Vec.centroidSeparation(embs).collect()
      .map(r => (r.getAs[Int]("label_a"), r.getAs[Int]("label_b")) ->
        r.getAs[Long]("cos_milli")).toMap
    assert(m((0, 1)) === 0L)                  // orthogonal
    assert(m((0, 2)) >= 999L)                 // parallel, ulp floor
    assert(m((1, 2)) === 0L)
  }

  test("cosineHistogram: identical pairs land in the top bucket, " +
      "orthogonal pairs at the midpoint, exact ppm mass") {
    val embs = Seq(
      (0L, Array(1f, 0f), 0L), (1L, Array(1f, 0f), 0L),
      (2L, Array(0f, 1f), 0L)
    ).toDF("vec_id", "embedding", "list_id")
    val m = Vec.cosineHistogram(embs, nBuckets = 40).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("mass_ppm"))).toMap
    // (0,1): cos 1 → bucket 40; (0,2),(1,2): cos 0 → bucket 20
    assert(m(40L) == ((1L, 333333L)))
    assert(m(20L) == ((2L, 666666L)))
  }

  test("inDegreeHistogram: degree buckets plus the orphan row") {
    // node 1 chosen twice, node 2 once; nodes 0 and 3 never chosen
    val edges = Seq((0L, 1L), (2L, 1L), (1L, 2L))
      .toDF("vec_id", "nbr_id")
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("vec_id")
    val m = Vec.inDegreeHistogram(edges, nodes).collect()
      .map(r => r.getAs[Long]("deg") ->
        (r.getAs[Long]("n"), r.getAs[Long]("share_ppm"))).toMap
    assert(m(0L) == ((2L, 500000L)))
    assert(m(1L) == ((1L, 250000L)))
    assert(m(2L) == ((1L, 250000L)))
  }

  test("knnLabelPurity: same-label edge shares per label") {
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 0L), (2L, 0L))
      .toDF("vec_id", "nbr_id")
    val labeled = Seq((0L, 7), (1L, 7), (2L, 9))
      .toDF("vec_id", "label")
    val m = Vec.knnLabelPurity(edges, labeled).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_edges"), r.getAs[Long]("n_same"),
          r.getAs[Long]("purity_ppm"))).toMap
    // label 7 sources: 0->1 same, 0->2 cross, 1->0 same → 2/3
    assert(m(7) == ((3L, 2L, 666666L)))
    assert(m(9) == ((1L, 0L, 0L)))
  }

  test("edgeReciprocity: counts mutual directed pairs exactly") {
    // 0<->1 mutual, 2->0 unrequited: 2 of 3 edges reciprocated
    val edges = Seq((0L, 1L), (1L, 0L), (2L, 0L))
      .toDF("vec_id", "nbr_id")
    val r = Vec.edgeReciprocity(edges).collect().head
    assert(r.getAs[Long]("n_edges") === 3L)
    assert(r.getAs[Long]("n_recip") === 2L)
    assert(r.getAs[Long]("reciprocity_ppm") === 666666L)
  }

  test("bfsDepths: layered counts on a path; cap leaves the tail " +
      "unreached; symmetrization walks edges backwards") {
    // directed edges 0->1, 2->1, 2->3, 3->4: symmetrized path
    // 0-1-2-3-4 → depths 0,1,2,3,4 from source 0
    val edges = Seq((0L, 1L), (2L, 1L), (2L, 3L), (3L, 4L))
      .toDF("vec_id", "nbr_id")
    val nodes = (0L to 5L).toDF("vec_id") // 5 is isolated
    val m = Vec.bfsDepths(edges, nodes, sourceId = 0L, maxDepth = 6)
      .collect().map(r => r.getAs[Int]("depth") ->
        r.getAs[Long]("n_vecs")).toMap
    assert(m === Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 1L, 4 -> 1L,
      -1 -> 1L))
    // cap at 2: depths 0,1,2 reached; 3,4 and the isolate unreached
    val m2 = Vec.bfsDepths(edges, nodes, sourceId = 0L, maxDepth = 2)
      .collect().map(r => r.getAs[Int]("depth") ->
        r.getAs[Long]("n_vecs")).toMap
    assert(m2 === Map(0 -> 1L, 1 -> 1L, 2 -> 1L, -1 -> 3L))
    // differential: the default single-task BFS must land on the
    // iterative loop's exact histogram, including a source with no
    // incident edges (seed row survives the gate) and an empty graph
    // (maxRows = 0 forces the loop even there)
    val noEdges = Seq.empty[(Long, Long)].toDF("vec_id", "nbr_id")
    for (e <- Seq(edges, noEdges); src <- Seq(0L, 5L); cap <- Seq(2, 6)) {
      def run() = Vec.bfsDepths(e, nodes, src, cap)
        .collect().map(r => r.getAs[Int]("depth") ->
          r.getAs[Long]("n_vecs")).toMap
      val gated = run()
      val iter = SingleTask.maxRows.withValue(0L)(run())
      assert(gated === iter, s"src=$src cap=$cap edges=${e.count()}")
    }
  }

  test("graph single-task gates (ppr, k-core, link prediction) are " +
      "row-identical to the iterative/join pipelines") {
    // two triangles bridged by an edge, a hub touching both, two
    // isolates: peel rounds strip shells, common-neighbor structure
    // is non-trivial, isolates exercise the left-join tails; the
    // empty graph is the one more input on which maxRows = 0 must
    // still take the distributed path
    val graph = Seq(
      (0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L),
      (2L, 3L),
      (6L, 0L), (6L, 1L), (6L, 3L), (6L, 5L)
    ).toDF("vec_id", "nbr_id")
    val noEdges = Seq.empty[(Long, Long)].toDF("vec_id", "nbr_id")
    val nodes = (0L to 8L).toDF("vec_id")
    for (knn <- Seq(graph, noEdges)) {
      val g = s"edges=${knn.count()}"
      // ppr: connected seed, hub seed, isolated seed
      for (seed <- Seq(0L, 6L, 8L)) {
        def run(gate: Long) = SingleTask.maxRows.withValue(gate) {
          Vec.pprAssigned(nodes, seed, iters = 3, topN = 25,
            precomputedKnn = Some(knn)).collect()
        }.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("ppr_q20"),
          r.getAs[Int]("rank"))).toSeq
        assert(run(2000000L) == run(0L), s"ppr seed=$seed $g")
      }
      // k-core: varying peel depth and core threshold
      for (rounds <- Seq(1, 3); coreK <- Seq(2, 3)) {
        def run(gate: Long) = SingleTask.maxRows.withValue(gate) {
          Vec.kCoreAssigned(nodes, coreK = coreK, rounds = rounds,
            precomputedKnn = Some(knn)).collect()
        }.map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("core_degree"),
            r.getAs[Boolean]("in_core")))).toMap
        assert(run(2000000L) == run(0L), s"kcore r=$rounds k=$coreK $g")
      }
      // link prediction, both indices (ordered head — compare as seqs)
      def runLp(gate: Long) = SingleTask.maxRows.withValue(gate) {
        Vec.linkPredictionAssigned(nodes, k = 3, topN = 100,
          precomputedKnn = Some(knn)).collect()
      }.map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Long]("common_nbrs"), r.getAs[Long]("deg_a"),
        r.getAs[Long]("deg_b"), r.getAs[Long]("jaccard_ppm"))).toSeq
      assert(runLp(2000000L) == runLp(0L), s"link_pred $g")
      def runRa(gate: Long) = SingleTask.maxRows.withValue(gate) {
        Vec.resourceAllocationLinkPred(nodes, k = 3, topN = 100,
          precomputedKnn = Some(knn)).collect()
      }.map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Long]("common_nbrs"), r.getAs[Long]("ra_micro"))).toSeq
      assert(runRa(2000000L) == runRa(0L), s"link_pred_ra $g")
    }
  }

  test("labelConductance: hand-computed path graph; single-spanning " +
      "label reads NULL phi; edgeless vertices carry no volume") {
    // path 1-2-3-4, labels A={1,2}, B={3,4}; vertex 5 (label C) has
    // no edges. deg: 1,2,2,1; vol_A = vol_B = 3; vol_total = 6;
    // the one cut edge (2-3) counts once per side
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("vec_id", "nbr_id")
    val labeled = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"),
      (5L, "C")).toDF("vec_id", "label")
    val m = Vec.labelConductance(edges, labeled).collect()
      .map(r => r.getAs[String]("label") ->
        (r.getAs[Long]("vol"), r.getAs[Long]("n_cut"),
          Option(r.getAs[Any]("phi_ppm")))).toMap
    assert(m("A") == ((3L, 1L, Some(333333L))))
    assert(m("B") == ((3L, 1L, Some(333333L))))
    assert(!m.contains("C")) // no incident edges -> no volume row
    // one label spans the whole graph: min side volume 0 -> NULL
    val mono = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "A"))
      .toDF("vec_id", "label")
    val r2 = Vec.labelConductance(edges, mono).collect().head
    assert(r2.isNullAt(r2.fieldIndex("phi_ppm")))
    graft.Caches.release("vec")
  }

  test("matryoshkaRecallCurve: a prefix that flips the ranking " +
      "halves recall; the full-width prefix recalls 1") {
    import spark.implicits._
    // query v0 = e1. Full-dim top-2: v1 (0.994), v3 (0.954).
    // At dim 2, v2's tail support vanishes -> cos 1.0 and it
    // displaces v3: hits 1 of 2. At dim 4 (= full) recall is exact.
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.8f, 0.0f, 0.6f, 0.0f)),
      (3L, Array(0.95f, -0.3f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Vec.matryoshkaRecallCurve(embs, dims = Seq(2, 4),
      k = 2, sampleMod = 10L).collect()
      .map(r => r.getAs[Int]("dim") ->
        ((r.getAs[Long]("n_base"), r.getAs[Long]("hits"),
          r.getAs[Long]("recall_ppm")))).toMap
    assert(out(2) == ((2L, 1L, 500000L)))
    assert(out(4) == ((2L, 2L, 1000000L)))
    graft.Caches.release("vec")
  }

  test("trustworthiness: a dim-1 truncation that promotes a " +
      "far-away intruder is charged its full rank excess") {
    import spark.implicits._
    // query v0 = (1,0) (Knuth hash of id 0 is 0 → the 1-sample).
    // dim-1 cosine is the SIGN of x, so ties break by id: truncated
    // order v1, v2, v3. Full cosines: v2 ≈ .914, v1 ≈ .11, v3 = -.6
    // → full ranks v1→2, v2→1, v3→3. k=1: v1 intrudes with
    // r_full=2, penalty 1, T = 1 − 2·1/(1·1·(8−3−1)) = 1/2.
    // k=2: {v1,v2} both have r_full ≤ 2 → penalty 0, T = 1.
    val embs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.1f, -0.9f)),
      (2L, Array(0.9f, 0.4f)),
      (3L, Array(-0.6f, 0.8f))
    ).toDF("vec_id", "embedding")
    val out = Vec.trustworthiness(embs, dim = 1, ks = Seq(1, 2),
      sampleCount = 1).collect()
      .map(r => r.getAs[Int]("k") ->
        ((r.getAs[Long]("n_corpus"), r.getAs[Long]("n_queries"),
          r.getAs[Long]("n_viol"), r.getAs[Long]("penalty_sum"),
          r.getAs[Long]("trust_ppm")))).toMap
    assert(out(1) == ((4L, 1L, 1L, 1L, 500000L)))
    assert(out(2) == ((4L, 1L, 0L, 0L, 1000000L)))
    graft.Caches.release("vec")
  }

  test("relativeContrast matches a double-arithmetic replay; " +
      "identical-nearest-neighbor queries hit the guard") {
    import spark.implicits._
    val vecs = Map(
      0L -> Array(1.0f, 0.0f), 1L -> Array(0.8f, 0.6f),
      2L -> Array(0.6f, 0.8f), 3L -> Array(0.0f, 1.0f))
    val embs = vecs.toSeq.sortBy(_._1).toDF("vec_id", "embedding")
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val cs = Seq(1L, 2L, 3L).map(i => cosD(vecs(0L), vecs(i)))
      .sorted(Ordering[Double].reverse)
    val (c1, c2) = (cs(0), cs(1))
    val r = Vec.relativeContrast(embs, k = 2, sampleCount = 1)
      .collect().head
    assert(r.getAs[Long]("query_id") == 0L)
    assert(r.getAs[Long]("n_scored") == 3L)
    assert(r.getAs[Long]("c1_q20")
      == math.floor(c1 * 1048576.0).toLong)
    assert(r.getAs[Long]("ck_q20")
      == math.floor(c2 * 1048576.0).toLong)
    assert(r.getAs[Long]("contrast_q20")
      == math.floor((1.0 - c2) * 1048576.0 / (1.0 - c1)).toLong)
    // an exact duplicate of the query makes 1 − c1 = 0: guard → 0
    val dup = (embs.collect().map(r2 => (r2.getLong(0),
      r2.getSeq[Float](1).toArray)).toSeq :+
      (4L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val g = Vec.relativeContrast(dup, k = 2, sampleCount = 1)
      .collect().head
    assert(g.getAs[Long]("contrast_q20") == 0L)
  }

  test("lidEstimate matches a double-arithmetic MLE replay; " +
      "duplicate neighbors drop out of the sum") {
    import spark.implicits._
    val vecs = Map(
      0L -> Array(1.0f, 0.0f), 1L -> Array(0.8f, 0.6f),
      2L -> Array(0.6f, 0.8f), 3L -> Array(0.0f, 1.0f),
      4L -> Array(-1.0f, 0.0f))
    val embs = vecs.toSeq.sortBy(_._1).toDF("vec_id", "embedding")
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val cs = Seq(1L, 2L, 3L, 4L).map(i => cosD(vecs(0L), vecs(i)))
      .sorted(Ordering[Double].reverse)
    val dk = 1.0 - cs(2)
    var s = 0.0; var n = 0L
    for (i <- 0 until 2) {
      val d = 1.0 - cs(i)
      if (d > 0 && dk > 0) { s += math.log(d / dk); n += 1 }
    }
    val expLid = math.floor(-n.toDouble / s * 1048576.0).toLong
    val r = Vec.lidEstimate(embs, k = 3, sampleCount = 1)
      .collect().head
    assert(r.getAs[Long]("query_id") == 0L)
    assert(r.getAs[Long]("n_scored") == 4L)
    assert(r.getAs[Long]("n_used") == 2L)
    assert(r.getAs[Long]("lid_q20") == expLid)
    // an exact duplicate of the query sits at distance 0: the term
    // drops and n_used shrinks, still matching the replay
    val dup = (vecs.toSeq :+ (5L, Array(1.0f, 0.0f)))
      .sortBy(_._1).toDF("vec_id", "embedding")
    val cs2 = Seq(1L, 2L, 3L, 4L, 5L)
      .map(i => cosD(vecs.getOrElse(i, Array(1.0f, 0.0f)), vecs(0L)))
      .sorted(Ordering[Double].reverse)
    val dk2 = 1.0 - cs2(2)
    var s2 = 0.0; var n2 = 0L
    for (i <- 0 until 2) {
      val d = 1.0 - cs2(i)
      if (d > 0 && dk2 > 0) { s2 += math.log(d / dk2); n2 += 1 }
    }
    val r2 = Vec.lidEstimate(dup, k = 3, sampleCount = 1)
      .collect().head
    assert(r2.getAs[Long]("n_used") == n2)
    assert(r2.getAs[Long]("lid_q20")
      == math.floor(-n2.toDouble / s2 * 1048576.0).toLong)
  }

  test("hubness: in-degree moments over a star graph; zero-degree " +
      "vectors restored by the left join") {
    import spark.implicits._
    val embs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f)), (4L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    // directed edges all point at v2: indegrees (0, 3, 0, 0)
    val knn = Seq((1L, 2L), (3L, 2L), (4L, 2L))
      .toDF("vec_id", "nbr_id")
    val r = Vec.hubness(embs, knn, k = 1).collect().head
    assert(r.getAs[Long]("n_vecs") == 4L)
    assert(r.getAs[Long]("n_edges") == 3L)
    assert(r.getAs[Long]("sum_d2") == 9L)
    assert(r.getAs[Long]("sum_d3") == 27L)
    assert(r.getAs[Long]("max_indeg") == 3L)
    assert(r.getAs[Long]("n_antihubs") == 3L)
    // hub cutoff 2k = 2: only v2 (d = 3) crosses it
    assert(r.getAs[Long]("n_hubs") == 1L)
  }

  test("facilityCoverage: two orthogonal groups, any 1-selection " +
      "covers exactly half the q20 mass for both methods") {
    import spark.implicits._
    // ids 0,1 = e1; ids 2,3 = e2. Whatever single vector either
    // method picks, two vectors score cos 1 and two score cos 0:
    // sum = 2·2²⁰, mean ppm = 500000 — invariant to the pick, so
    // the md5/hash draws need no hand-computation
    val embs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Vec.facilityCoverage(embs, k = 1, gridDims = 2)
      .collect()
      .map(r => r.getAs[String]("method") ->
        ((r.getAs[Long]("set_size"), r.getAs[Long]("n_scored"),
          r.getAs[Long]("coverage_q20_sum"),
          r.getAs[Long]("mean_coverage_ppm")))).toMap
    assert(out("coreset") == ((1L, 4L, 2097152L, 500000L)))
    assert(out("hash") == ((1L, 4L, 2097152L, 500000L)))
  }

  test("rangeSearch: per-query neighborhood counts at tau, exact " +
      "best-cosine micro, zero-norm rows excluded, empty " +
      "neighborhoods keep their row") {
    import spark.implicits._
    // Knuth pick of 2 over ids 0..4 samples {0, 2} (hashes 0 and
    // 1013904226 are the two smallest). cos(v0,v1)=1, cos(v0,v3)
    // = 3/5, cos(v2,v3) = 4/5 EXACTLY (float-exact components);
    // v4 is zero-norm and must not appear or match anywhere
    val embs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(3.0f, 4.0f)),
      (4L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Vec.rangeSearch(embs, tau = 0.8, sampleCount = 2)
      .collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_matches"),
          Option(r.getAs[Any]("best_cos_micro"))
            .map(_.asInstanceOf[Long])))).toMap
    assert(out.keySet === Set(0L, 2L))
    assert(out(0L) === ((1L, Some(1000000L)))) // v1 at cos 1.0
    assert(out(2L) === ((1L, Some(800000L))))  // v3 at cos 4/5
  }

  test("rangeSearch: a query whose radius catches nothing still " +
      "emits (0, null)") {
    import spark.implicits._
    val embs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Vec.rangeSearch(embs, tau = 0.5, sampleCount = 2)
      .collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_matches"),
          Option(r.getAs[Any]("best_cos_micro"))))).toMap
    assert(out === Map(0L -> ((0L, None)), 2L -> ((0L, None))))
  }
}
