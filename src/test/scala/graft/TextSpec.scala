package graft

import org.apache.spark.sql.functions._
import graft.ops.{SingleTask, Text}

/** Dedup / text-analysis operator behavior on controlled inputs. */
class TextSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s1", 43L),
    (2L, "the quick brown fox jumps over the lazy dog", "en", "s2", 43L),
    (3L, "the quick brown fox jumps over the lazy cat", "en", "s3", 43L),
    (4L, "completely different content here entirely", "en", "s4", 42L),
    (5L, "", "en", "s5", 0L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dedup keeps lowest doc_id per identical text") {
    val kept = Text.exactDedup(docs).select("doc_id").as[Long]
      .collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("exact dup groups count duplicates") {
    val g = Text.exactDupGroups(docs)
      .filter(col("n_dups") > 1).collect()
    assert(g.length == 1 && g.head.getAs[Long]("keep_doc_id") == 1L)
  }

  test("token stats handle empty text") {
    val m = Text.tokenStats(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_tokens"))
      .toMap
    assert(m(1L) == 9 && m(5L) == 0)
  }

  test("qualityPercentiles: ranks span [0,1], deciles partition, " +
      "order follows quality") {
    val r = Text.qualityPercentiles(docs).collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Double]("quality"),
        x.getAs[Double]("q_pct"), x.getAs[Int]("q_decile")))
    assert(r.length == 5)
    assert(r.map(_._3).min == 0.0 && r.map(_._3).max == 1.0)
    assert(r.forall(x => x._4 >= 1 && x._4 <= 10))
    // percent rank is monotone in (quality, doc_id)
    val sorted = r.sortBy(x => (x._2, x._1))
    assert(sorted.map(_._3).sameElements(sorted.map(_._3).sorted))
    // scale-path thresholds: monotone, 9 of them, and each one's
    // RANK brackets its nominal decile (kills a
    // nine-copies-of-the-median regression, which stays monotone and
    // in range)
    val th = Text.qualityDecileThresholds(docs).collect()
      .map(x => (x.getAs[Int]("decile"),
        x.getAs[Double]("quality_threshold")))
    assert(th.map(_._1).toSeq == (1 to 9))
    assert(th.map(_._2).toSeq ==
      th.map(_._2).toSeq.sorted)
    // exact twin on the tiny corpus: one doc per ntile group (ntile
    // emits min(N, 10) groups — 5 docs → deciles 1..5), monotone
    val exactTiny = Text.qualityDecileThresholdsExact(docs).collect()
      .map(x => (x.getAs[Int]("decile"),
        x.getAs[Double]("quality_threshold"))).toMap
    assert(exactTiny.keySet == (1 to math.min(9, r.length)).toSet)
    assert(exactTiny.keySet.forall(d =>
      exactTiny(d) >= exactTiny.getOrElse(d - 1,
        Double.NegativeInfinity)))
    // the sketch is BRACKETED by the exact (hash-checked) twin: each
    // approx threshold lies within one decile of its exact
    // counterpart (exact(d-1) <= approx(d) <= exact(d+1), corpus max
    // closing the top) — so a sketch-merge regression that walks a
    // threshold out of its decile fails here even though the sketch
    // row itself is rows-only for the driver. Asserted on sf0.001
    // (N=50): the bracket needs real decile geometry — at N<10 the
    // ntile max-rank (d/N quantile) and the d/10 percentile are
    // different conventions and legitimately disagree.
    val corpus = Tables.documents(spark, sf("sf0.001"))
    val exact = Text.qualityDecileThresholdsExact(corpus).collect()
      .map(x => (x.getAs[Int]("decile"),
        x.getAs[Double]("quality_threshold"))).toMap
    assert(exact.keySet == (1 to 9).toSet)
    val sketch = Text.qualityDecileThresholds(corpus).collect()
      .map(x => (x.getAs[Int]("decile"),
        x.getAs[Double]("quality_threshold")))
    val qMax = Text.qualityScore(corpus).agg(max(col("quality")))
      .head().getDouble(0)
    sketch.foreach { case (d, t) =>
      val lo = exact.getOrElse(d - 1, Double.NegativeInfinity)
      val hi = exact.getOrElse(d + 1, qMax)
      assert(t >= lo && t <= hi,
        s"sketch threshold $t for decile $d outside [$lo, $hi]")
    }
    val qs = r.map(_._2).sorted
    th.foreach { case (d, t) =>
      val atOrBelow = qs.count(_ <= t).toDouble / qs.length
      val below = qs.count(_ < t).toDouble / qs.length
      assert(below <= d / 10.0 + 1e-9 && atOrBelow >= d / 10.0 - 0.2,
        s"decile $d threshold $t: below=$below atOrBelow=$atOrBelow")
    }
  }

  test("minhash LSH finds near-dup pair, not unrelated pair") {
    val cands = Text.minhashCandidates(docs, 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))   // identical text
    assert(cands.contains((1L, 3L)) || cands.contains((2L, 3L)))
    assert(!cands.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard: identical=1.0, near<1, ordering sane") {
    val cands = Text.minhashCandidates(docs, 0.1)
    val j = Text.ngramJaccard(docs, cands).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(j((1L, 2L)) == 1.0)
    j.get((1L, 3L)).foreach(v => assert(v > 0 && v < 1))
  }

  test("simhash: identical texts equal, near texts close in hamming") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // both variants: the SQL-twinned md5/60-bit default and the
    // xxhash64 fast path
    for (sqlTwinned <- Seq(true, false)) {
      val m = Text.simhashes(docs, sqlTwinned).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
        .toMap
      assert(m(1L) == m(2L))
      assert(ham(m(1L), m(3L)) < ham(m(1L), m(4L)))
    }
  }

  test("fingerprint is whitespace/punct-insensitive") {
    val d2 = Seq((1L, "Hello,   World!"), (2L, "hello world"))
      .toDF("doc_id", "text")
    val fps = Text.fingerprint(d2).select("fp").as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("doc frequency + idf: df counts docs once, idf = ln(N/df)") {
    val out = Text.docFrequency(docs, minDf = 1L).collect()
      .map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("df"), r.getAs[Long]("tf_total"),
          r.getAs[Double]("idf"))).toMap
    // "the" appears twice in docs 1-3 → df=3, tf=6
    assert(out("the") == ((3L, 6L, math.log(5.0 / 3.0))))
    assert(out("cat")._1 == 1L)
  }

  test("bm25TopK matches an in-memory reference bitwise; q20 twin " +
      "agrees on ranking and exact integer scores") {
    val q = Seq("the", "quick", "cat")
    val (k1, b) = (1.2, 0.75)
    // in-memory reference, mirroring the operator's exact double op
    // sequence (incl. the sorted-token fold order)
    val toks = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "the quick brown fox jumps over the lazy cat",
      4L -> "completely different content here entirely",
      5L -> "").map { case (id, t) =>
      id -> (if (t.trim.isEmpty) Array.empty[String]
             else t.trim.split("\\s+"))
    }
    val nDocs = toks.size.toLong
    val totalLen = toks.map(_._2.length.toLong).sum
    val post = for {
      (id, tk) <- toks
      tok <- q.distinct
      tf = tk.count(_ == tok).toLong if tf > 0
    } yield (id, tok, tf, tk.length)
    val dfm = post.groupBy(_._2).map { case (t, xs) =>
      t -> xs.size.toLong }
    def termScore(tf: Long, dl: Int, df: Long): Double =
      math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5)) *
        (tf * (k1 + 1)) /
        (tf + k1 * ((1.0 - b) +
          b * (dl.toDouble * nDocs / totalLen)))
    val ref = post.groupBy(_._1).map { case (id, xs) =>
      val terms = xs.map(x =>
        x._2 -> termScore(x._3, x._4, dfm(x._2))).sortBy(_._1)
      (id, terms.foldLeft(0.0)(_ + _._2),
        xs.size.toLong,
        terms.foldLeft(0L)((a, t) =>
          a + math.floor(t._2 * (1L << 20).toDouble).toLong))
    }.toSeq
    val refTop = ref.sortBy(x => (-x._2, x._1))
    val got = Text.bm25TopK(docs, q, k = 10).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[Long]("n_matched")))
    assert(got.map(_._1).toSeq == refTop.map(_._1))
    got.zip(refTop).foreach { case ((id, s, n), (rid, rs, rn, _)) =>
      assert(id == rid && n == rn)
      assert(java.lang.Double.doubleToLongBits(s) ==
        java.lang.Double.doubleToLongBits(rs),
        s"doc $id score $s != reference $rs (bitwise)")
    }
    // q20 twin: exact integer scores, same ranking on the fixture
    val q20 = Text.bm25TopKQ20(docs, q, k = 10).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("score_q20"), r.getAs[Long]("n_matched")))
    assert(q20.map(_._1).toSeq == refTop.map(_._1))
    q20.zip(refTop).foreach { case ((id, sq, n), (rid, _, rn, rq)) =>
      assert(id == rid && n == rn && sq == rq,
        s"doc $id q20 score $sq != reference $rq")
    }
  }

  test("lang guess picks marker-word argmax") {
    val d = Seq(
      (1L, "der hund und die katze", "x"),
      (2L, "the cat and the dog is", "x"),
      (3L, "xyzzy plugh", "x")
    ).toDF("doc_id", "text", "lang")
    val m = Text.langGuess(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_guess"))
      .toMap
    assert(m == Map(1L -> "de", 2L -> "en", 3L -> "und"))
  }

  test("exact jaccard via prefix filter: identical=1, near pair kept") {
    val pairs = Text.jaccardExactPairs(docs, 0.7)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(pairs((1L, 2L)) == 1.0)           // identical texts
    // docs 1,3 (9 words → 7 shingles each) share 6 shingles; only
    // "over the lazy *" windows differ → |A∩B|=6, |A∪B|=8
    assert(pairs((1L, 3L)) == 6.0 / 8.0)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("dup clusters are transitive beyond direct pairs") {
    // chain: 1-2 and 2-3 are pairs, 1-3 need not be — all three must
    // still land in one cluster (min doc_id = 1)
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val m = Text.dupClusters(docs, pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster"))
      .toMap
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L)
    assert(m(4L) == 4L && m(5L) == 5L)       // singletons keep own id
  }

  test("dup clusters converge identically with reliable checkpointing") {
    // the cluster-grade path (reliable checkpoint() to a directory,
    // surviving executor loss) must produce the same fixpoint as the
    // default localCheckpoint path
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    // maxRows = 0 forces the iterative loop — this test pins the
    // reliable-checkpoint machinery, which the single-task union-find
    // route legitimately never touches
    val m = SingleTask.maxRows.withValue(0L) {
      Text.dupClusters(docs, pairs, checkpointDir = Some(dir)).collect()
    }
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster"))
      .toMap
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L)
    assert(m(4L) == 4L && m(5L) == 5L)
    // the reliable path actually wrote checkpoint files
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .count()
    assert(wrote > 0, "reliable checkpoint wrote no files")
  }

  // --- dupClustersPartitioned ≡ dupClusters (differential) ---------

  private def assignments(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster"))
      .sortBy(_._1).toSeq

  test("dupClustersPartitioned: bitwise-identical fixpoint to " +
      "dupClusters on random partition-confined graphs") {
    // 5 partitions × 40 nodes, seeded random edges WITHIN each
    // partition — every (doc_id, cluster) row must equal the
    // iterative fixpoint exactly (the unique min-reachable-id
    // assignment), including docs with no incident edge
    val rnd = new scala.util.Random(42)
    val nodes = (0 until 5).flatMap { p =>
      (0 until 40).map(i => (p * 1000L + i, p.toLong))
    }
    val edges = nodes.groupBy(_._2).toSeq.flatMap { case (p, ns) =>
      val ids = ns.map(_._1)
      (0 until 55).map { _ =>
        val a = ids(rnd.nextInt(ids.length))
        val b = ids(rnd.nextInt(ids.length))
        (math.min(a, b), math.max(a, b), p)
      }.filter(e => e._1 != e._2)
    }
    val docsDf = nodes.map(_._1).toDF("doc_id")
    val pairsDf = edges.toDF("doc_a", "doc_b", "part")
    val part = assignments(
      Text.dupClustersPartitioned(docsDf, pairsDf))
    // maxRows = 0: the differential must exercise the ITERATIVE loop
    // (default-routed dupClusters would send these tiny graphs to the
    // same union-find being tested)
    val iter = SingleTask.maxRows.withValue(0L) {
      assignments(Text.dupClusters(docsDf,
        pairsDf.select(col("doc_a"), col("doc_b"))))
    }
    assert(part == iter)
    // and the default small-graph gate must land on that same
    // fixpoint through its single-group union-find route (r19)
    val gated = assignments(Text.dupClusters(docsDf,
      pairsDf.select(col("doc_a"), col("doc_b"))))
    assert(gated == iter)
  }

  test("dupClustersPartitioned: long path inside one partition " +
      "(diameter stress) matches the iterative fixpoint") {
    // a 500-node path is the worst case for round-based propagation;
    // the union-find must land every node on cluster 0 in one pass
    val n = 500
    val docsDf = (0 until n).map(_.toLong).toDF("doc_id")
    val pairsDf = (0 until n - 1)
      .map(i => (i.toLong, i + 1L, 7L)).toDF("doc_a", "doc_b", "part")
    val part = assignments(
      Text.dupClustersPartitioned(docsDf, pairsDf))
    assert(part.forall(_._2 == 0L))
    val iter = SingleTask.maxRows.withValue(0L) {
      assignments(Text.dupClusters(docsDf,
        pairsDf.select(col("doc_a"), col("doc_b"))))
    }
    assert(part == iter)
  }

  test("dupClustersPartitioned: duplicate and reversed edges are " +
      "harmless; empty graph yields all singletons") {
    val docsDf = (1L to 4L).toDF("doc_id")
    val pairsDf = Seq((1L, 2L, 0L), (2L, 1L, 0L), (1L, 2L, 0L))
      .toDF("doc_a", "doc_b", "part")
    val m = assignments(
      Text.dupClustersPartitioned(docsDf, pairsDf)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
    val empty = Seq.empty[(Long, Long, Long)]
      .toDF("doc_a", "doc_b", "part")
    val s = assignments(Text.dupClustersPartitioned(docsDf, empty))
    assert(s == Seq(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // dupClusters on the empty graph: the single-task route and the
    // iterative loop (maxRows = 0 forces it even on no edges) agree
    val noPairs = empty.select(col("doc_a"), col("doc_b"))
    assert(assignments(Text.dupClusters(docsDf, noPairs)) == s)
    assert(SingleTask.maxRows.withValue(0L) {
      assignments(Text.dupClusters(docsDf, noPairs))
    } == s)
  }

  test("sourceDedupTokens: token ledger follows the min-id keep " +
      "rule per source") {
    // cluster {1,2,3} keeps only doc 1 (source s1); docs 4, 5 are
    // singletons. Token counts: docs 1-3 have 9, doc 4 has 5, doc 5
    // (empty) 0.
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 5L)).toDF("doc_id", "cluster")
    val out = Text.sourceDedupTokens(docs, clusters).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("kept_docs"), r.getAs[Long]("kept_tokens"),
          r.getAs[Long]("dropped_tokens_ppm"))))
      .toMap
    assert(out("s1") == ((1L, 9L, 1L, 9L, 0L)))
    assert(out("s2") == ((1L, 9L, 0L, 0L, 1000000L)))
    assert(out("s3") == ((1L, 9L, 0L, 0L, 1000000L)))
    assert(out("s4") == ((1L, 5L, 1L, 5L, 0L)))
    assert(out("s5") == ((1L, 0L, 1L, 0L, 0L)))
  }

  test("softDedupWeights: 1/cluster_size weighting refunds dup " +
      "members fractionally; singletons keep full mass") {
    // cluster {1,2,3} size 3 → each member's 9 tokens weigh
    // ⌊9·2²⁰/3⌋ = 3·2²⁰; hard dedup keeps only doc 1 (s1), so s2/s3
    // get a positive soft−hard refund and s1 a negative one
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 5L)).toDF("doc_id", "cluster")
    val out = Text.softDedupWeights(docs, clusters).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("hard_tokens"),
          r.getAs[Long]("soft_tokens_q20"),
          r.getAs[Long]("soft_share_ppm"),
          r.getAs[Long]("soft_minus_hard_q20"))))
      .toMap
    assert(out("s1") == ((9L, 9L, 3145728L, 333333L, -6291456L)))
    assert(out("s2") == ((9L, 0L, 3145728L, 333333L, 3145728L)))
    assert(out("s3") == ((9L, 0L, 3145728L, 333333L, 3145728L)))
    assert(out("s4") == ((5L, 5L, 5242880L, 1000000L, 0L)))
    assert(out("s5") == ((0L, 0L, 0L, 0L, 0L)))
  }

  test("shingleWidthCurve: the same pair passes at w=2 and w=3 " +
      "but not w=5; eligibility follows token counts") {
    val d = Seq(
      (1L, "a b c d e", "en", "s", 9L),
      (2L, "a b c d x", "en", "s", 9L),
      (3L, "p q", "en", "s", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.shingleWidthCurve(d).collect()
      .map(r => r.getAs[Long]("shingle_w") ->
        ((r.getAs[Long]("n_eligible"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("docs_in_pairs"),
          r.getAs[Long]("mean_jaccard_q20")))).toMap
    // w=2: {ab,bc,cd,de} vs {ab,bc,cd,dx} → 3/5; w=3: 2/4 = 0.5;
    // w=5: single disjoint shingles → no pair
    assert(out(2L) == ((3L, 1L, 2L,
      math.floor(3.0 / 5.0 * 1048576.0).toLong)))
    assert(out(3L) == ((2L, 1L, 2L,
      math.floor(2.0 / 4.0 * 1048576.0).toLong)))
    assert(out(5L) == ((2L, 0L, 0L, 0L)))
    graft.Caches.release("text")
  }

  test("bloomDedupFpr: identical texts are flagged as true dups; " +
      "a huge filter yields zero false positives") {
    val same = Seq(
      (1L, "same text", "en", "s", 9L), (2L, "same text", "en", "s", 9L),
      (3L, "same text", "en", "s", 9L), (4L, "same text", "en", "s", 9L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Text.bloomDedupFpr(same).collect().head
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("n_flagged") == 3L)
    assert(r.getAs[Long]("n_true_dups") == 3L)
    assert(r.getAs[Long]("n_false_pos") == 0L)
    assert(r.getAs[Long]("fpr_ppm") == 0L)
    val distinct = Seq(
      (1L, "alpha", "en", "s", 5L), (2L, "beta", "en", "s", 4L),
      (3L, "gamma", "en", "s", 5L), (4L, "delta", "en", "s", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Text.bloomDedupFpr(distinct, mBits = 1 << 20).collect()
      .head
    assert(d.getAs[Long]("n_true_dups") == 0L)
    assert(d.getAs[Long]("n_false_pos") == 0L)
  }

  test("dpNoisyCounts matches an md5 replay of the Laplace draw " +
      "and clamps at zero") {
    val d = Seq(
      (1L, "a", "en", "s1", 1L), (2L, "b", "en", "s1", 1L),
      (3L, "c", "en", "s2", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    def draw60(key: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(key.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def u(key: String): Double =
      (draw60(key) + 1).toDouble / (1L << 60).toDouble
    def noise(src: String, eps: Double): Long =
      math.floor((math.log(u(src + ":dp1"))
        - math.log(u(src + ":dp2"))) / eps).toLong
    val out = Text.dpNoisyCounts(d).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("noisy_count"),
          r.getAs[Long]("abs_err")))).toMap
    for ((src, n) <- Seq("s1" -> 2L, "s2" -> 1L)) {
      val exp = math.max(0L, n + noise(src, 1.0))
      assert(out(src) == ((n, exp, math.abs(exp - n))), s"src=$src")
    }
  }

  test("dupModalityAgreement: exact contingency of two canonical " +
      "pair sets") {
    val tp = Seq((1L, 2L), (3L, 4L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val vp = Seq((1L, 2L), (5L, 6L), (7L, 8L), (9L, 10L))
      .toDF("vec_a", "vec_b")
    val r = Text.dupModalityAgreement(tp, vp).collect().head
    assert(r.getAs[Long]("n_text") == 3L)
    assert(r.getAs[Long]("n_semantic") == 4L)
    assert(r.getAs[Long]("n_both") == 2L)
    assert(r.getAs[Long]("text_only") == 1L)
    assert(r.getAs[Long]("semantic_only") == 2L)
    // |∩| / |∪| = 2 / 5
    assert(r.getAs[Long]("overlap_ppm") == 400000L)
  }

  test("dupTransitivity: a chain leaves its wedge open; a triangle " +
      "closes all three wedges") {
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val c = Text.dupTransitivity(chain).collect().head
    assert(c.getAs[Long]("n_edges") == 2L)
    assert(c.getAs[Long]("n_wedges") == 1L)
    assert(c.getAs[Long]("n_closed") == 0L)
    assert(c.getAs[Long]("closure_ppm") == 0L)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
      .toDF("doc_a", "doc_b")
    val t = Text.dupTransitivity(tri).collect().head
    assert(t.getAs[Long]("n_edges") == 3L)
    assert(t.getAs[Long]("n_wedges") == 3L)
    assert(t.getAs[Long]("n_closed") == 3L)
    assert(t.getAs[Long]("closure_ppm") == 1000000L)
  }

  test("weightedJaccard: multiset min/max mass on candidate pairs; " +
      "disjoint pair keeps its row through the left join") {
    val d = Seq(
      (1L, "a a b", "en", "s1", 5L),
      (2L, "a b b", "en", "s1", 5L),
      (3L, "c c c", "en", "s1", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.6))
      .toDF("doc_a", "doc_b", "jaccard")
    val out = Text.weightedJaccard(d, pairs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("inter_tf"), r.getAs[Long]("union_tf"),
          r.getAs[Long]("weighted_jaccard_ppm")))).toMap
    // {a:2,b:1} vs {a:1,b:2}: Σmin = 2, Σmax = 3+3−2 = 4
    assert(out((1L, 2L)) == ((2L, 4L, 500000L)))
    assert(out((1L, 3L)) == ((0L, 6L, 0L)))
  }

  test("seqPatterns: gap-allowed triple survives Apriori + greedy " +
      "containment; reversed doc does not count") {
    // th = ⌈4·0.75⌉ = 3. F1 = {a,b,c} (x in only 2 docs). Frequent
    // pairs: a‥b, a‥c, b‥c (3 docs each — d4 is reversed). C3 joins
    // to the single candidate a‥b‥c, contained in d1–d3 only.
    val d = Seq(
      (1L, "a b c", "en", "s1", 5L),
      (2L, "a x b c", "en", "s1", 7L),
      (3L, "a b x c", "en", "s1", 7L),
      (4L, "c b a", "en", "s1", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.seqPatterns(d, minSupportPpm = 750000L).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("tok_a") == "a"
      && r.getAs[String]("tok_b") == "b"
      && r.getAs[String]("tok_c") == "c")
    assert(r.getAs[Long]("support") == 3L)
    assert(r.getAs[Long]("support_ppm") == 750000L)
  }

  test("seqPatterns: dense-count gate is row-identical to the " +
      "broadcast Apriori pipeline (SingleTask.maxRows = 0 forces it)") {
    // token repeats (a a), a = b self-pairs, ties, and a doc with no
    // frequent token — the branchy cases of the greedy-t2 semantics
    val d = Seq(
      (1L, "a b a c b", "en", "s1", 9L),
      (2L, "b a c a", "en", "s1", 7L),
      (3L, "c c b a b", "en", "s1", 9L),
      (4L, "a b c", "en", "s1", 5L),
      (5L, "z z z", "en", "s1", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("tok_a"), r.getAs[String]("tok_b"),
        r.getAs[String]("tok_c"), r.getAs[Long]("support"),
        r.getAs[Long]("support_ppm"))).toSeq
    for (ppm <- Seq(200000L, 400000L, 600000L)) {
      val dense  = rows(Text.seqPatterns(d, ppm))
      val legacy = SingleTask.maxRows.withValue(0L) {
        rows(Text.seqPatterns(d, ppm))
      }
      assert(dense == legacy, s"ppm=$ppm dense=$dense legacy=$legacy")
      assert(dense.nonEmpty || ppm > 900000L || dense == legacy)
    }
  }

  test("ringRebalance: consistent-hash churn stays well under " +
      "mod-hash churn on a shard-count bump") {
    val many = (0L until 300L).map(i =>
      (i, s"doc $i body", "en", s"s${i % 3}", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.ringRebalance(many).collect()
      .map(r => (r.getAs[Long]("from_shards"),
        r.getAs[String]("strategy")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_moved"),
          r.getAs[Long]("moved_ppm"))))
      .toMap
    assert(out.size == 4)
    for (((_, _), (n, mv, ppm)) <- out) {
      assert(n == 300L)
      assert(mv >= 0L && mv <= n)
      assert(ppm == mv * 1000000L / n)
    }
    // mod-hash reassigns ~S/(S+1) of the corpus; the ring only the
    // new shard's arcs (~1/(S+1)) — the whole point of the op
    assert(out((8L, "ring"))._2 < out((8L, "mod"))._2)
    assert(out((32L, "ring"))._2 < out((32L, "mod"))._2)
    // new-shard arcs only ever ADD one destination: ring churn for
    // 8→9 sits near 1/9 of the corpus, far below a third of it
    assert(out((8L, "ring"))._2 <= 100L)
  }

  test("bradleyTerry: strict quality dominance pins wins and the " +
      "strength boundary; pure ties are uninformative") {
    // source A's docs strictly outscore source B's on len_score
    // (same text, different n_chars) → W_A = 4 cross wins, W_B = 0;
    // the MM sends B to the zero-strength boundary and A holds the
    // whole renormalized mass
    val d = Seq(
      (1L, "alpha beta gamma", "en", "A", 500L),
      (2L, "alpha beta gamma", "en", "A", 500L),
      (3L, "alpha beta gamma", "en", "B", 10L),
      (4L, "alpha beta gamma", "en", "B", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.bradleyTerry(d).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("wins"),
          r.getAs[Long]("p_q20"), r.getAs[Int]("rank"))))
      .toMap
    assert(out("A") == ((2L, 4L, 2097152L, 1)))
    assert(out("B") == ((2L, 0L, 0L, 2)))
    // identical quality everywhere → zero wins, zero informative
    // pairs → both sources keep the 2^20 prior (ties drop out)
    val tied = Seq(
      (1L, "x y z", "en", "A", 100L),
      (2L, "x y z", "en", "B", 100L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val t = Text.bradleyTerry(tied).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("wins"), r.getAs[Long]("p_q20"))))
      .toMap
    assert(t("A") == ((0L, 1048576L)) && t("B") == ((0L, 1048576L)))
    // a lone source has no comparisons and keeps the prior
    val solo = Text.bradleyTerry(
      Seq((1L, "a b", "en", "only", 50L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .collect()
    assert(solo.length == 1 &&
      solo.head.getAs[Long]("p_q20") == 1048576L &&
      solo.head.getAs[Int]("rank") == 1)
  }

  test("chunking: overlapping windows cover every token exactly") {
    val doc = Seq((1L, (1 to 120).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Text.chunkDocs(doc, window = 50, stride = 40)
      .orderBy(col("chunk_id")).collect()
    assert(rows.map(_.getAs[Int]("chunk_id")).toSeq == Seq(0, 1, 2))
    assert(rows.map(_.getAs[Int]("n_tokens")).toSeq == Seq(50, 50, 40))
    assert(rows(1).getAs[String]("chunk_text").startsWith("t41 "))
    assert(rows(2).getAs[String]("chunk_text").endsWith(" t120"))
  }

  test("contamination flags train docs sharing eval n-grams") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // contains eval trigram
      (2L, "totally unrelated words here now")
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "beta gamma delta zeta"))
      .toDF("doc_id", "text")
    val hits = Text.contamination(train, eval_, n = 3, minHits = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // train doc 1 shares exactly "beta gamma delta" with the eval doc
    assert(hits == Map(1L -> 1L))
  }

  test("pii redaction replaces emails, urls, long numbers and counts them") {
    val d = Seq(
      (1L, "contact bob@example.com or visit https://x.co/p id 12345678"),
      (2L, "clean text, short num 123")
    ).toDF("doc_id", "text")
    val out = Text.piiRedact(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("redacted") ==
      "contact <EMAIL> or visit <URL> id <NUM>")
    assert(out(1L).getAs[Int]("n_emails") == 1)
    assert(out(1L).getAs[Int]("n_urls") == 1)
    assert(out(1L).getAs[Int]("n_long_nums") == 1)
    assert(out(2L).getAs[String]("redacted") ==
      "clean text, short num 123")
    assert(out(2L).getAs[Int]("n_long_nums") == 0)
  }

  test("repetition stats: dup bigram mass and top-token share") {
    val d = Seq((1L, "a a a a b")).toDF("doc_id", "text")
    val r = Text.repetitionStats(d).collect().head
    assert(r.getAs[Int]("n_bigrams") == 4)        // aa aa aa ab
    assert(r.getAs[Int]("n_uniq_bigrams") == 2)
    assert(r.getAs[Double]("dup_bigram_ratio") == 0.5)
    assert(r.getAs[Int]("top_tok_count") == 4)
    assert(r.getAs[Double]("top_tok_ratio") == 0.8)
  }

  test("stratified sample is deterministic and honors rate-1 strata") {
    val big = Seq.tabulate(60)(i =>
      (i.toLong, (1 to 250).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val a = Text.stratifiedSample(big).select("doc_id").as[Long]
      .collect().toSet
    val b = Text.stratifiedSample(big).select("doc_id").as[Long]
      .collect().toSet
    assert(a == b)                            // hash draw, not RNG
    assert(a.size == 60)                      // 'long' stratum rate 1.0
    val small = Seq.tabulate(200)(i => (i.toLong, "a b c"))
      .toDF("doc_id", "text")
    val s = Text.stratifiedSample(small).collect()
    assert(s.forall(_.getAs[String]("stratum") == "short"))
    // rate 0.2 over 200 uniform draws: comfortably nonempty + partial
    assert(s.length > 5 && s.length < 100)
  }

  test("LSH candidate set is a superset of the exact j>=0.5 pairs " +
      "(separates a banding miss from a jaccard bug)") {
    // the oracle rows for q_text_minhash_neardup / q_text_ngram_jaccard
    // encode recall-=-1 on the test corpus; this spec asserts the
    // superset half directly so a future diff is attributable: superset
    // broken → banding recall; superset intact + oracle red → jaccard
    // computation
    val corpus = Tables.documents(spark, sf("sf0.01"))
    val exact = ops.Text.jaccardExactPairs(corpus, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cands = ops.Text.minhashCandidates(corpus, 0.2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(exact.subsetOf(cands),
      s"banding lost qualifying pairs: ${exact.diff(cands)}")
  }

  test("LSH adversarial-recall fixture: planted j≈0.5 pairs follow " +
      "the banded recall curve 1-(1-j⁴)⁸ — pins the corpus-" +
      "bimodality assumption the minhash oracles rely on") {
    // The oracle-green rows for q_text_minhash_neardup /
    // q_text_ngram_jaccard / q_text_incremental_neardup hold because
    // the testdata's similarity distribution is bimodal (j≈0.9 dups
    // vs j≈0 noise) — banded recall at j≈0.9 is ≈1. This fixture
    // PLANTS the adversarial middle the testdata lacks: pairs at
    // j≈0.49, where 8-band×4-row recall is only 1-(1-j⁴)⁸ ≈ 0.38 —
    // and asserts both halves of the assumption: mid-band pairs ARE
    // missed at the predicted rate (so a testdata refresh with such
    // pairs flipping those rows red is the documented probabilistic
    // recall, not a jaccard bug), and high-j pairs are all caught
    // (why today's greens hold).
    //
    // Pair construction (exact by shingle counting): docs of 40
    // globally-unique tokens; the partner shares the first k tokens
    // then diverges. Shared 3-shingles = k-2, each side has 38, so
    // j(k) = (k-2)/(78-k): k=27 → 25/51 ≈ 0.490; k=38 → 36/40 = 0.9.
    val nMid = 40
    val nHigh = 10
    def doc(pair: Int, side: Char, k: Int): String =
      ((0 until (if (side == 'a') 40 else k)).map(j => s"p${pair}a$j")
        ++ (if (side == 'a') Seq.empty
            else (k until 40).map(j => s"p${pair}b$j")))
        .mkString(" ")
    val rows =
      (0 until nMid).flatMap(i => Seq(
        (2L * i, doc(i, 'a', 27)), (2L * i + 1, doc(i, 'b', 27)))) ++
      (0 until nHigh).flatMap(i => Seq(
        (1000L + 2 * i, doc(100 + i, 'a', 38)),
        (1000L + 2 * i + 1, doc(100 + i, 'b', 38))))
    val fixture = rows.toDF("doc_id", "text")
    // fixture sanity: the exact path sees the planted similarities
    val exact = Text.jaccardExactPairs(fixture, 0.45).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    val midPairs = (0 until nMid).map(i => (2L * i, 2L * i + 1))
    val highPairs = (0 until nHigh)
      .map(i => (1000L + 2 * i, 1000L + 2 * i + 1))
    midPairs.foreach(p => assert(
      math.abs(exact(p) - 25.0 / 51.0) < 1e-12, s"fixture broke at $p"))
    highPairs.foreach(p => assert(exact(p) == 0.9))
    // banded candidates: recall at j≈0.49 should sit near the curve
    val cands = Text.minhashCandidates(fixture, 0.2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val midFound = midPairs.count(cands)
    val highFound = highPairs.count(cands)
    val expected = 1 - math.pow(1 - math.pow(25.0 / 51.0, 4), 8) // ≈.38
    assert(highFound == nHigh,
      s"high-j recall must be ~1 (curve: .9998), got $highFound/$nHigh")
    assert(midFound > 0 && midFound < nMid,
      s"mid-band recall must be strictly partial, got $midFound/$nMid")
    assert(math.abs(midFound.toDouble / nMid - expected) < 0.25,
      s"mid recall ${midFound.toDouble / nMid} far from curve $expected")
    // the incremental gate bands the same signatures → same curve
    // (sides split so every planted pair crosses them)
    val even = fixture.filter(col("doc_id") % 2 === 0)
    val odd = fixture.filter(col("doc_id") % 2 =!= 0)
    val inc = Text.incrementalNearDup(odd, even, 0.45).collect()
      .map(r => (r.getAs[Long]("doc_b"), r.getAs[Long]("doc_a"))).toSet
    val incMid = midPairs.count(inc)
    assert(highPairs.count(inc) == nHigh)
    assert(incMid > 0 && incMid < nMid)
    assert(math.abs(incMid.toDouble / nMid - expected) < 0.25)
  }

  test("minhashRecallAudit: measured per-decile recall tracks the " +
      "analytic curve on the planted fixture; high-j decile near 1") {
    // Same planted construction as the adversarial fixture above
    // (j = 25/51 ≈ 0.490 mid pairs → decile 4; j = 0.9 → decile 9),
    // but audited through the md5-family measured-recall operator —
    // the registered q_text_minhash_recall machinery — with truth
    // complete at 0.45 so the mid decile is IN the audit.
    val nMid = 40
    val nHigh = 10
    def doc(pair: Int, side: Char, k: Int): String =
      ((0 until (if (side == 'a') 40 else k)).map(j => s"p${pair}a$j")
        ++ (if (side == 'a') Seq.empty
            else (k until 40).map(j => s"p${pair}b$j")))
        .mkString(" ")
    val rows =
      (0 until nMid).flatMap(i => Seq(
        (2L * i, doc(i, 'a', 27)), (2L * i + 1, doc(i, 'b', 27)))) ++
      (0 until nHigh).flatMap(i => Seq(
        (1000L + 2 * i, doc(100 + i, 'a', 38)),
        (1000L + 2 * i + 1, doc(100 + i, 'b', 38))))
    val fixture = rows.toDF("doc_id", "text")
    val truth = Text.jaccardExactPairs(fixture, 0.45)
    val audit = Text.minhashRecallAudit(fixture, truth)
      .collect().map(r => r.getAs[Int]("decile") ->
        (r.getAs[Long]("n_true"), r.getAs[Long]("n_caught"),
          r.getAs[Long]("recall_ppm"))).toMap
    // decile 4 holds exactly the planted mid pairs, decile 9 the
    // high pairs (disjoint per-pair vocabularies — no stray pairs)
    assert(audit.keySet == Set(4, 9), s"unexpected deciles: $audit")
    assert(audit(4)._1 == nMid && audit(9)._1 == nHigh)
    // measured mid-decile recall near the analytic 1-(1-j^4)^8 ≈ .38
    val expected = 1 - math.pow(1 - math.pow(25.0 / 51.0, 4), 8)
    val midRecall = audit(4)._2.toDouble / nMid
    assert(audit(4)._2 > 0 && audit(4)._2 < nMid,
      s"mid recall must be strictly partial: $audit")
    assert(math.abs(midRecall - expected) < 0.25,
      s"measured $midRecall far from curve $expected")
    // high-j pairs all collide (curve: .9998 at j=.9)
    assert(audit(9)._3 == 1000000L, s"high-j decile must be full: $audit")
    // recall_ppm is the exact integer ratio
    assert(audit(4)._3 == audit(4)._2 * 1000000L / nMid)
  }

  test("bigramCrossEntropy: interpolated ppm model and q20 ce match " +
      "a hand replay; deterministic contexts at lambda=1 give ce 0") {
    // model over the corpus: big (a,b):3 (b,a):1 (c,c):1;
    // cv a:3 b:1 c:1; successor-marginal cw b:3 a:1 c:1; N=5
    val docs = Seq(
      (1L, "a b a b"), (2L, "a b"), (3L, "c c"),
      (4L, "solo"), (5L, " ")).toDF("doc_id", "text")
    def lq(x: Long): Long =
      math.floor(math.log(x.toDouble) * (1L << 20)).toLong
    val l6 = lq(1000000L)
    // p(a,b) = 700000*3 div 3 + 300000*3 div 5 = 880000
    // p(b,a) = p(c,c) = 700000 + 60000 = 760000
    val out = Text.bigramCrossEntropy(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_p_ppm"),
          r.getAs[Long]("min_p_ppm"), r.getAs[Long]("ce_q20"),
          r.getAs[Long]("avg_ce_milli"))).toMap
    // docs 4 (single token) and 5 (blank) are excluded
    assert(out.keySet == Set(1L, 2L, 3L))
    val ce1 = 2 * (l6 - lq(880000L)) + (l6 - lq(760000L))
    assert(out(1L) === ((3L, 2520000L, 760000L, ce1,
      ce1 * 1000 / (3 * 1048576))))
    assert(out(2L) === ((1L, 880000L, 880000L, l6 - lq(880000L),
      (l6 - lq(880000L)) * 1000 / 1048576)))
    assert(out(3L) === ((1L, 760000L, 760000L, l6 - lq(760000L),
      (l6 - lq(760000L)) * 1000 / 1048576)))
    // lambda = 1 (pure MLE): every context here is deterministic
    // (a always -> b, b -> a, c -> c), so p_ppm = 1e6 and ce = 0
    val mle = Text.bigramCrossEntropy(docs, lambdaPpm = 1000000L)
      .collect().map(r => (r.getAs[Long]("min_p_ppm"),
        r.getAs[Long]("ce_q20"))).toSet
    assert(mle === Set((1000000L, 0L)))
  }

  test("incrementalDedup: batch-internal + against-seen, bloom exact") {
    val seen = Seq(
      (100L, "already ingested content", "en", "s", 24L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = Seq(
      (1L, "novel content one", "en", "s", 17L),
      (2L, "novel content two", "en", "s", 17L),
      (3L, "novel content two", "en", "s", 17L),  // internal dup of 2
      (4L, "already ingested content", "en", "s", 24L) // seen
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val exact = Text.incrementalDedup(batch, seen)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(1L, 2L))
    // bloom prefilter must not change the result (maybe-rows still
    // anti-join; definitely-unseen rows bypass)
    val bloom = Text.fitSeenBloom(seen, expectedItems = 10L)
    val pre = Text.incrementalDedup(batch, seen, Some(bloom))
      .select("doc_id").as[Long].collect().toSet
    assert(pre == exact)
    assert(bloom.mightContainString(
      // the seen hash must be in the filter for the split to route it
      java.security.MessageDigest.getInstance("MD5")
        .digest("already ingested content".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString))
  }

  test("incrementalNearDup: cross-side pairs only, exact jaccard " +
      "values") {
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated words appear in this one here")
    ).toDF("doc_id", "text")
    val seen = Seq(
      (101L, "the quick brown fox jumps over the lazy cat"), // near 1
      (102L, "the quick brown fox jumps over the lazy dog"), // == 1
      (103L, "nothing like either of them at all friends")
    ).toDF("doc_id", "text")
    val got = Text.incrementalNearDup(batch, seen, threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    // batch doc 1 hits its exact copy (j=1) and the near copy; doc 2
    // hits nothing; seen docs never pair with each other
    assert(got.keySet == Set((1L, 101L), (1L, 102L)))
    assert(got((1L, 102L)) == 1.0)
    assert(got((1L, 101L)) > 0.5 && got((1L, 101L)) < 1.0)
  }

  test("incrementalNearDup: stored-signature path is row-identical " +
      "to the recompute path (parquet round-trip)") {
    // the gate's 100 TB story: the seen corpus's signatures are
    // written ONCE at ingestion (nearDupSignatures) and every later
    // batch joins against the STORED table — this spec proves that
    // path produces exactly what re-signing the text would
    val corpus = Tables.documents(spark, sf("sf0.001"))
    val batch = corpus.filter(col("doc_id") % 10 =!= 0)
    val seen = corpus.filter(col("doc_id") % 10 === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sigs").toString
    Text.nearDupSignatures(batch).write.parquet(s"$dir/batch")
    Text.nearDupSignatures(seen).write.parquet(s"$dir/seen")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    val stored = key(Text.incrementalNearDupSigs(
      spark.read.parquet(s"$dir/batch"),
      spark.read.parquet(s"$dir/seen"), threshold = 0.5))
    val recomputed = key(Text.incrementalNearDup(batch, seen, 0.5))
    assert(stored == recomputed)
    assert(stored.nonEmpty) // sf0.001 has cross-side near-dups
  }

  test("incrementalNearDup: degenerate (<3-token) docs are excluded " +
      "before banding — no short-doc hot bucket") {
    // every <3-token doc collapses to one whole-text shingle; without
    // the docShingles guard, identical short docs (all empties, say)
    // share a MinHash signature and band together on EVERY band —
    // |shortBatch|×|shortSeen| candidates through the join
    val batch = Seq((1L, ""), (2L, "one two"), (3L, "a b c d e f"))
      .toDF("doc_id", "text")
    val seen = Seq((101L, ""), (102L, "one two"), (103L, "x y z w"))
      .toDF("doc_id", "text")
    val sigs = Text.nearDupSignatures(batch).collect()
    assert(sigs.map(_.getAs[Long]("doc_id")).toSet == Set(3L))
    val out = Text.incrementalNearDup(batch, seen, 0.5).collect()
    assert(out.isEmpty) // 1-101 and 2-102 are byte-identical but
    // sub-shingle-width: the EXACT gate (incrementalDedup) owns them
  }

  test("deterministicSplit: total cover, stable under growth, " +
      "held_out when fractions undersum, proportions near nominal") {
    val d = Seq.tabulate(400)(i => (i.toLong, s"text $i"))
      .toDF("doc_id", "text")
    val got = Text.deterministicSplit(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split"))
    assert(got.length == 400) // every doc assigned exactly once
    val byName = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    // 90/5/5 nominal; 400 hash draws — generous banding
    assert(byName("train") > 320 && byName("train") < 392)
    assert(byName("val") > 2 && byName("test") > 2)
    // growth stability: a doc keeps its split when the corpus doubles
    // (assignment is a pure function of doc_id — no reshuffle)
    val grown = Seq.tabulate(800)(i => (i.toLong, s"text $i"))
      .toDF("doc_id", "text")
    val after = Text.deterministicSplit(grown).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split"))
      .toMap
    assert(got.forall { case (id, s) => after(id) == s })
    // undersumming fractions route the remainder to held_out
    val partial = Text.deterministicSplit(d,
      Seq("train" -> 0.5)).collect()
      .map(_.getAs[String]("split"))
    assert(partial.contains("held_out") && partial.contains("train"))
    assert(partial.toSet == Set("train", "held_out"))
    // oversumming is rejected
    intercept[IllegalArgumentException](
      Text.deterministicSplit(d, Seq("a" -> 0.7, "b" -> 0.7)))
  }

  test("trainingShuffleShards: exact permutation, deterministic, " +
      "rank dense per shard, order follows the draw") {
    val d = Seq.tabulate(200)(i => (i.toLong, s"text $i"))
      .toDF("doc_id", "text")
    val a = Text.trainingShuffleShards(d, nShards = 4).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"),
        r.getAs[Int]("shard_rank")))
    // permutation: every doc exactly once, (shard, rank) unique
    assert(a.length == 200 && a.map(_._1).distinct.length == 200)
    assert(a.map(x => (x._2, x._3)).distinct.length == 200)
    // ranks are dense 1..|shard| within each shard
    a.groupBy(_._2).values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }
    assert(a.map(_._2).distinct.sorted.toSeq == Seq(0, 1, 2, 3))
    // deterministic: re-run is identical (hash, not RNG)
    val b = Text.trainingShuffleShards(d, nShards = 4).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"),
        r.getAs[Int]("shard_rank")))
    assert(a.sortBy(_._1).sameElements(b.sortBy(_._1)))
    // the shuffle actually shuffles: within-shard rank order is not
    // doc_id order
    val byRank = a.filter(_._2 == 0).sortBy(_._3).map(_._1)
    assert(byRank.toSeq != byRank.sorted.toSeq)
  }

  test("sourceCap keeps a deterministic K-subset per source") {
    val d = Seq.tabulate(30)(i =>
      (i.toLong, s"text $i", if (i < 20) "big" else "small"))
      .toDF("doc_id", "text", "source")
    val a = Text.sourceCap(d, cap = 5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    val bySrc = a.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc == Map("big" -> 5, "small" -> 5))
    val b = Text.sourceCap(d, cap = 5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    assert(a.sortBy(_._1).sameElements(b.sortBy(_._1))) // hash, not RNG
  }

  test("tokenBudgetSample admits per-lang until budget, excludes " +
      "unbudgeted langs") {
    val d = Seq.tabulate(8)(i =>
      (i.toLong, "t1 t2 t3 t4 t5", if (i < 4) "en" else "zh"))
      .toDF("doc_id", "text", "lang")
    // 4 en docs × 5 tokens; budget 12 admits exactly the first 3 in
    // draw order (cum_before 0, 5, 10 < 12; the 4th sits at 15)
    val out = Text.tokenBudgetSample(d, Seq("en" -> 12L)).collect()
    assert(out.length == 3)
    assert(out.forall(_.getAs[String]("lang") == "en"))
    assert(out.map(_.getAs[Long]("cum_before")).sorted.toSeq ==
      Seq(0L, 5L, 10L))
  }

  test("duplicatedSpans counts cross-doc windows only") {
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    val d = Seq(
      // 23 tokens → 4 windows; window 1 is the shared span
      (1L, shared + " a1 a2 a3"),
      // 22 tokens → 3 windows; window 3 is the shared span
      (2L, "b1 b2 " + shared),
      // 20 unique tokens → 1 window, nowhere else
      (3L, (1 to 20).map(i => s"c$i").mkString(" ")),
      // under one span — excluded entirely
      (4L, "too short")
    ).toDF("doc_id", "text")
    val m = Text.duplicatedSpans(d, spanTokens = 20).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans")))
      .toMap
    assert(m == Map(1L -> ((4L, 1L)), 2L -> ((3L, 1L)),
      3L -> ((1L, 0L))))
  }

  test("scrubDuplicatedBlocks keeps first occurrence, tail, and " +
      "within-doc dedup") {
    val d = Seq(
      (1L, "a b c d e f g"),   // blocks [a b c][d e f], tail g
      (2L, "a b c x y z"),     // block 0 duplicates doc 1's — dropped
      (3L, "a b c"),           // only block is a dup — scrubbed empty
      (4L, "p q"),             // sub-block doc: tail only, untouched
      (5L, ""),                // empty stays empty
      (6L, "m m m m m m")      // within-doc dup block — second dropped
    ).toDF("doc_id", "text")
    val m = Text.scrubDuplicatedBlocks(d, blockTokens = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Int]("n_blocks"),
          r.getAs[Int]("n_dropped"))))
      .toMap
    assert(m(1L) == (("a b c d e f g", 2, 0)))
    assert(m(2L) == (("x y z", 2, 1)))
    assert(m(3L) == (("", 1, 1)))
    assert(m(4L) == (("p q", 0, 0)))
    assert(m(5L) == (("", 0, 0)))
    assert(m(6L) == (("m m m", 2, 1)))
  }

  test("qualityDrift: identical corpora give zero PSI terms; a " +
      "shifted corpus lights up the moved bins; replay is exact") {
    val base = Seq(
      (1L, "alpha beta gamma delta", "en", "s", 22L),
      (2L, "epsilon zeta eta theta", "en", "s", 22L),
      (3L, "iota kappa lambda mu", "en", "s", 20L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val same = Text.qualityDrift(base, base, nBuckets = 4).collect()
    same.foreach { r =>
      // p̂ = q̂ per bin → both factors of every term are exactly 0
      assert(r.getAs[Long]("lnratio_q20") == 0L)
      assert(r.getAs[Double]("psi_term") == 0.0)
    }
    // stopword-stuffed version shifts quality upward (stop ratio up)
    val shifted = base.select(col("doc_id"),
      concat(col("text"), lit(" the the the the")).as("text"),
      col("lang"), col("source"), col("n_chars"))
    val drift = Text.qualityDrift(base, shifted, nBuckets = 4)
      .collect()
      .map(r => r.getAs[Int]("bucket") ->
        ((r.getAs[Long]("ref_cnt"), r.getAs[Long]("cur_cnt"),
          r.getAs[Double]("psi_term"))))
      .toMap
    // counts moved between bins → at least one nonzero term, and the
    // replay of the formula from the exact integers matches
    assert(drift.values.exists(_._3 != 0.0))
    val (rt, ct) = (3L, 3L)
    drift.foreach { case (_, (rc, cc, psi)) =>
      val ln = math.floor(math.log(((cc + 1) * (rt + 4)).toDouble) *
        (1L << 20)).toLong -
        math.floor(math.log(((rc + 1) * (ct + 4)).toDouble) *
          (1L << 20)).toLong
      val expected = ((cc + 1).toDouble / (ct + 4) -
        (rc + 1).toDouble / (rt + 4)) * (ln.toDouble / (1L << 20))
      assert(psi == expected)
    }
  }

  test("mixtureEpochPlan: exact targets/epochs, oversample flag, " +
      "recipe-without-data and data-without-recipe rows surface") {
    val d = Seq(
      (1L, "a b c d", "en"), (2L, "e f g h", "en"),   // en: 8 tokens
      (3L, "x y", "de"),                               // de: 2 tokens
      (4L, "p q r", "xx")                              // no recipe row
    ).toDF("doc_id", "text", "lang")
    val m = Text.mixtureEpochPlan(d,
      Seq("en" -> 500000L, "de" -> 400000L, "ja" -> 100000L),
      totalBudget = 20L).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("avail_tokens"), r.getAs[Long]("target_tokens"),
          Option(r.getAs[Any]("epochs_q20")).map(_.asInstanceOf[Long]),
          r.getAs[Boolean]("oversampled"))))
      .toMap
    // en: target 10 of 8 available → 1.25 epochs, oversampled
    assert(m("en") == ((8L, 10L, Some(10L * 1048576L / 8L), true)))
    // de: target 8 of 2 → 4 epochs
    assert(m("de") == ((2L, 8L, Some(8L * 1048576L / 2L), true)))
    // ja: recipe names a group with no data
    assert(m("ja") == ((0L, 2L, None, true)))
    // xx: data with no recipe row → target 0, kept for visibility
    assert(m("xx") == ((3L, 0L, Some(0L), false)))
  }

  test("normalizeText: control chars, whitespace runs, case, " +
      "accents; idempotent; clean text unchanged") {
    val d = Seq(
      (1L, "Hello\tWorld\u0001!"),   // tab + control char
      (2L, "  many   spaces  "),
      (3L, "MiXeD Case"),
      (4L, "café mañana"),
      (5L, "already clean")
    ).toDF("doc_id", "text")
    val m = Text.normalizeText(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("norm_text"), r.getAs[Boolean]("changed"))))
      .toMap
    // \t and \u0001 each became a space; the collapse leaves the
    // single space the control char turned into
    assert(m(1L) == (("hello world !", true)))
    assert(m(2L) == (("many spaces", true)))
    assert(m(3L) == (("mixed case", true)))
    assert(m(4L) == (("cafe manana", true)))
    assert(m(5L) == (("already clean", false)))
    // idempotence: normalizing normalized text is the identity
    val once = Text.normalizeText(d)
      .select(col("doc_id"), col("norm_text").as("text"))
    val twice = Text.normalizeText(once).collect()
    assert(twice.forall(!_.getAs[Boolean]("changed")))
  }

  test("corpusDiff labels all four statuses by content hash") {
    val oldV = Seq(
      (1L, "same text"), (2L, "will change"), (3L, "will be removed")
    ).toDF("doc_id", "text")
    val newV = Seq(
      (1L, "same text"), (2L, "changed text"), (4L, "brand new")
    ).toDF("doc_id", "text")
    val m = Text.corpusDiff(oldV, newV).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status"))
      .toMap
    assert(m == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    // a doc_id PRESENT with a NULL text is matched by presence, not
    // mistaken for an absent row: null-vs-text = changed,
    // null-vs-null = unchanged, null only on one side ≠ added/removed
    val oldN = Seq((1L, null: String), (2L, null: String))
      .toDF("doc_id", "text")
    val newN = Seq((1L, "now filled"), (2L, null: String))
      .toDF("doc_id", "text")
    val n = Text.corpusDiff(oldN, newN).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status"))
      .toMap
    assert(n == Map(1L -> "changed", 2L -> "unchanged"))
  }

  test("tokenEntropy: exact q20 bounds and an in-memory replay") {
    val d = Seq(
      (1L, "a a a a"),          // uniform → exactly 0
      (2L, "a b c d"),          // all distinct → exactly ⌊ln 4·2^20⌋
      (3L, "a a b"),            // mixed → replay the integer formula
      (4L, "solo")              // single token: ln 1 = 0 both ways
    ).toDF("doc_id", "text")
    val m = Text.tokenEntropy(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_distinct"),
          r.getAs[Long]("entropy_q20"))))
      .toMap
    def lnq(x: Long): Long =
      math.floor(math.log(x.toDouble) * (1L << 20)).toLong
    assert(m(1L) == ((4L, 1L, 0L)))
    assert(m(2L) == ((4L, 4L, lnq(4))))
    // doc 3: n=3, counts {a:2, b:1} → ⌊ln3·q⌋ − (2·⌊ln2·q⌋) div 3
    assert(m(3L) == ((3L, 2L, lnq(3) - (2 * lnq(2)) / 3)))
    assert(m(4L) == ((1L, 1L, 0L)))
  }

  test("removeBoilerplate drops frequent lines (normalized), keeps " +
      "rare ones, counts docs not occurrences") {
    val d = Seq(
      (0L, "alpha content\ncommon footer\nbeta"),
      (1L, "gamma\ncommon footer"),
      (2L, "delta text\ncommon footer"),
      (3L, "unique only\nrare line"),
      // normalization: case + padding fold into the same line key
      (4L, "  Common Footer  \nepsilon"),
      // within-doc repetition is ONE doc — df stays 1, both kept
      (5L, "dup line\ndup line\nx"),
      // every line boilerplate → empty doc
      (6L, "common footer")
    ).toDF("doc_id", "text")
    val m = Text.removeBoilerplate(d, minDf = 3L).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Int]("n_lines"),
          r.getAs[Int]("n_dropped"))))
      .toMap
    assert(m(0L) == (("alpha content\nbeta", 3, 1)))
    assert(m(1L) == (("gamma", 2, 1)))
    assert(m(2L) == (("delta text", 2, 1)))
    assert(m(3L) == (("unique only\nrare line", 2, 0)))
    assert(m(4L) == (("epsilon", 2, 1)))
    assert(m(5L) == (("dup line\ndup line\nx", 3, 0)))
    assert(m(6L) == (("", 1, 1)))
  }

  test("dupClusterSurvivors picks max quality, ties to lowest id") {
    val d = Seq(
      (10L, "the cat", "en", "sa", 7L),          // stop .5, uniq 1
      (11L, "cat cat cat", "en", "sb", 11L),     // low uniq ratio
      (12L, "the big cat runs", "en", "sc", 16L),
      (13L, "solo doc here", "en", "sd", 13L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val clusters = Seq((10L, 10L), (11L, 10L), (12L, 10L),
      (13L, 13L)).toDF("doc_id", "cluster")
    val rows = Text.dupClusterSurvivors(d, clusters).collect()
      .map(r => r.getAs[Long]("cluster") ->
        ((r.getAs[Long]("survivor_doc_id"), r.getAs[Long]("n_members"),
          r.getAs[Long]("n_dropped"))))
      .toMap
    assert(rows(10L) == ((10L, 3L, 2L)))  // "the cat" scores highest
    assert(rows(13L) == ((13L, 1L, 0L)))
    // tie case: identical texts → identical quality → lowest id wins
    val tied = Seq(
      (20L, "same text twin", "en", "s", 14L),
      (21L, "same text twin", "en", "s", 14L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tiedClusters =
      Seq((20L, 20L), (21L, 20L)).toDF("doc_id", "cluster")
    val t = Text.dupClusterSurvivors(tied, tiedClusters).collect()
    assert(t.length == 1 &&
      t.head.getAs[Long]("survivor_doc_id") == 20L)
  }

  test("contentDefinedChunks: lossless cover, boundary stability " +
      "under prefix edits") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val d = Seq((1L, base), (2L, "short"), (3L, "edited prefix " + base))
      .toDF("doc_id", "text")
    val rows = Text.contentDefinedChunks(d, window = 8, maskBits = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
        r.getAs[Int]("start"), r.getAs[String]("chunk_text")))
    // lossless: concatenating chunks in order reproduces the text
    val byDoc = rows.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(_._4).mkString).toMap
    assert(byDoc(1L) == base && byDoc(2L) == "short" &&
      byDoc(3L) == "edited prefix " + base)
    // starts are consistent: each chunk begins where the previous
    // ended
    rows.groupBy(_._1).values.foreach { cs =>
      cs.sortBy(_._2).foldLeft(1) { case (expect, (_, _, start, t)) =>
        assert(start == expect); start + t.length
      }
    }
    // content-defined stability: doc 3 is doc 1 with an edited
    // prefix; far from the edit, both share a boundary-aligned
    // suffix chunk set (same chunk texts reappear)
    val c1 = rows.filter(_._1 == 1L).map(_._4).toSet
    val c3 = rows.filter(_._1 == 3L).map(_._4).toSet
    assert((c1 & c3).nonEmpty,
      s"no shared chunks between original and prefix-edited doc")
  }

  test("tokenFrequencySketch: exact top-k skeleton, overestimate " +
      "bound, deterministic") {
    val d = Seq(
      (1L, "alpha alpha alpha beta beta gamma"),
      (2L, "alpha beta delta delta")
    ).toDF("doc_id", "text")
    val rows = Text.tokenFrequencySketch(d, topN = 3).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("tf"),
        r.getAs[Long]("tf_est")))
    // exact leg: top-3 by (tf desc, token asc)
    assert(rows.sortBy(t => (-t._2, t._1)).map(t => (t._1, t._2))
      .toSeq == Seq(("alpha", 4L), ("beta", 3L), ("delta", 2L)))
    // count-min never underestimates
    rows.foreach { case (_, tf, est) => assert(est >= tf) }
    // fixed seed → bit-identical estimates on a second build
    val again = Text.tokenFrequencySketch(d, topN = 3).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("tf_est")))
      .toSet
    assert(again == rows.map(t => (t._1, t._3)).toSet)
  }

  test("bpeLearnMerges matches an in-memory reference BPE") {
    // classic Sennrich corpus: low×5 lower×2 newest×6 widest×3
    val words = Seq("low" -> 5, "lower" -> 2, "newest" -> 6,
      "widest" -> 3)
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }
      .mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")

    // reference: greedy left-to-right fuse, ties (cnt desc, l asc,
    // r asc)
    def refBpe(nMerges: Int, minCount: Long)
        : Seq[(Int, String, String, Long)] = {
      var seg: Seq[(Vector[String], Long)] =
        words.map { case (w, n) => (w.map(_.toString).toVector, n.toLong) }
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, Long)]
      for (rank <- 1 to nMerges if out.size == rank - 1) {
        val counts = scala.collection.mutable
          .Map.empty[(String, String), Long]
        seg.foreach { case (s, n) =>
          s.sliding(2).filter(_.size == 2).foreach(p =>
            counts((p(0), p(1))) =
              counts.getOrElse((p(0), p(1)), 0L) + n)
        }
        if (counts.nonEmpty) {
          val ((l, r), cnt) = counts.toSeq
            .sortBy { case ((l, r), c) => (-c, l, r) }.head
          if (cnt >= minCount) {
            out += ((rank, l, r, cnt))
            seg = seg.map { case (s, n) =>
              val b = Vector.newBuilder[String]
              var acc = Vector.empty[String]
              s.foreach { sym =>
                if (acc.nonEmpty && acc.last == l && sym == r)
                  acc = acc.init :+ (l + r)
                else acc = acc :+ sym
              }
              (acc, n)
            }
          }
        }
      }
      out.toSeq
    }

    def rows(merges: org.apache.spark.sql.DataFrame) = merges
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[Long]("pair_count"))).toSeq
    val mergesDf = Text.bpeLearnMerges(d, nMerges = 10, minCount = 2L)
    val got = rows(mergesDf)
    val want = refBpe(10, 2L)
    assert(got == want, s"got $got\nwant $want")
    // sanity on the classic corpus: first merges build up "est"
    assert(got.nonEmpty && got.head._4 == 9L)  // s+t appears 9×
    // differential: the per-round job loop (maxRows = 0 forces it)
    // must produce the exact same merge table as the default
    // single-task path, and no merges on an empty vocabulary
    val gotIter = SingleTask.maxRows.withValue(0L) {
      rows(Text.bpeLearnMerges(d, nMerges = 10, minCount = 2L))
    }
    assert(gotIter == want, s"iter $gotIter\nwant $want")
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(rows(Text.bpeLearnMerges(noDocs, nMerges = 10)).isEmpty)
    assert(SingleTask.maxRows.withValue(0L) {
      rows(Text.bpeLearnMerges(noDocs, nMerges = 10))
    }.isEmpty)

    // encode under the learned table: per-word piece counts match a
    // reference application of the merges in rank order
    def refEncode(word: String): Int = {
      var seg = word.map(_.toString).toVector
      got.foreach { case (_, l, r, _) =>
        var acc = Vector.empty[String]
        seg.foreach { sym =>
          if (acc.nonEmpty && acc.last == l && sym == r)
            acc = acc.init :+ (l + r)
          else acc = acc :+ sym
        }
        seg = acc
      }
      seg.size
    }
    val wantTokens = words.map { case (w, n) => refEncode(w) * n }.sum
    val enc = Text.bpeEncode(d, mergesDf).collect()
    assert(enc.length == 1 &&
      enc.head.getAs[Long]("n_bpe_tokens") == wantTokens.toLong &&
      enc.head.getAs[Long]("n_words") == words.map(_._2).sum.toLong)
  }

  test("packChunksFirstFit: no chunk straddles, differential vs " +
      "naive greedy") {
    val chunks = Seq.tabulate(50)(i =>
      (i.toLong % 7, i, 10 + (i * 13) % 55)) // n_tokens 10..64
      .toDF("doc_id", "chunk_id", "n_tokens")
    val S = 64
    val got = Text.packChunksFirstFit(chunks, seqTokens = S,
      nBuckets = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
        r.getAs[Long]("bucket"), r.getAs[Int]("n_tokens"),
        r.getAs[Long]("seq_id"), r.getAs[Long]("seq_off")))
    assert(got.length == 50)
    // no-straddle: every chunk fits inside its sequence (none here
    // exceeds S alone)
    got.foreach { case (_, _, _, n, _, off) =>
      assert(off + n <= S, s"straddle: off=$off n=$n") }
    // differential: per-bucket naive greedy walk in (doc, chunk)
    // order reproduces (seq_id, seq_off)
    got.groupBy(_._3).values.foreach { rows =>
      var seq = 0L; var fill = 0L
      rows.sortBy(r => (r._1, r._2)).foreach {
        case (_, _, _, n, seqId, seqOff) =>
          if (fill > 0 && fill + n > S) { seq += 1; fill = 0 }
          assert(seqId == seq && seqOff == fill)
          fill += n
      }
    }
    // oversize chunk occupies a sequence alone at offset 0
    val big = Seq((1L, 0, 100), (1L, 1, 10))
      .toDF("doc_id", "chunk_id", "n_tokens")
    val b = Text.packChunksFirstFit(big, seqTokens = S, nBuckets = 1)
      .orderBy(col("chunk_id")).collect()
    assert(b(0).getAs[Long]("seq_off") == 0L &&
      b(1).getAs[Long]("seq_id") == b(0).getAs[Long]("seq_id") + 1)
    // bad input fails fast at plan time with a clear message — not a
    // NULL-from-cast NPE inside the partition walk
    val nonNumeric = Seq(("not-a-number", 0, 10))
      .toDF("doc_id", "chunk_id", "n_tokens")
    val e1 = intercept[IllegalArgumentException](
      Text.packChunksFirstFit(nonNumeric))
    assert(e1.getMessage.contains("doc_id") &&
      e1.getMessage.contains("integral"))
    val missing = Seq((1L, 0)).toDF("doc_id", "chunk_id")
    val e2 = intercept[IllegalArgumentException](
      Text.packChunksFirstFit(missing))
    assert(e2.getMessage.contains("n_tokens"))
  }

  test("packChunks: contiguous per-bucket stream, exact cut math") {
    val d = Seq.tabulate(40)(i =>
      (i.toLong, (1 to 90).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = Text
      .packChunks(Text.chunkDocs(d), seqTokens = 64, nBuckets = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
        r.getAs[Long]("bucket"), r.getAs[Int]("n_tokens"),
        r.getAs[Long]("seq_id"), r.getAs[Long]("seq_off")))
    // a document's chunks never straddle buckets (doc-id hash)
    assert(packed.groupBy(_._1).values
      .forall(_.map(_._3).distinct.length == 1))
    // within a bucket, offsets are the exact running token sum in
    // (doc_id, chunk_id) order — reconstructed independently here
    packed.groupBy(_._3).values.foreach { rows =>
      var off = 0L
      rows.sortBy(r => (r._1, r._2)).foreach {
        case (_, _, _, n, seqId, seqOff) =>
          assert(seqId == off / 64 && seqOff == off % 64)
          off += n
      }
    }
    assert(packed.forall(r => r._6 >= 0 && r._6 < 64))
  }

  test("docFrequency builds lazily (no job) and idf uses corpus size") {
    val sc = spark.sparkContext
    // a construction-time count() would schedule a job from THIS
    // thread and carry this job group; other suites' concurrent jobs
    // don't (job groups are thread-local)
    sc.setJobGroup("docfreq-lazy-probe", "probe", false)
    val df = Text.docFrequency(docs, 1L)
    Thread.sleep(500)
    assert(sc.statusTracker.getJobIdsForGroup("docfreq-lazy-probe")
      .isEmpty, "operator construction must not schedule a job")
    sc.clearJobGroup()
    val the = df.filter(col("token") === "the").collect().head
    assert(the.getAs[Long]("df") == 3L)
    // corpus size = all 5 docs (incl. the empty one)
    assert(math.abs(the.getAs[Double]("idf") - math.log(5.0 / 3)) <
      1e-12)
  }

  test("simhashNearDup banding equals brute force (pigeonhole is " +
      "exact, not probabilistic)") {
    // a corpus with identical docs, one-token edits, and unrelated
    // docs — enough signature variety to exercise all band buckets
    val corpus = (1L to 30L).map { i =>
      val base = s"shared prefix tokens alpha beta gamma delta " +
        s"epsilon zeta eta theta iota kappa"
      val text =
        if (i <= 3) base                         // identical block
        else if (i <= 10) base + s" tail$i"      // one-token edits
        else s"doc $i " + (1 to 12).map(j => s"w${i}_$j").mkString(" ")
      (i, text, "en", s"s$i", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val banded = Text.simhashNearDup(corpus, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val sigs = corpus.select(col("doc_id"),
      Text.simhash60(Text.tokens(col("text"))).as("s"))
    val brute = sigs.as("l").join(sigs.as("r"),
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id"), col("r.doc_id"),
        bit_count(col("l.s").bitwiseXOR(col("r.s"))).cast("int"))
      .as[(Long, Long, Int)].collect().filter(_._3 <= 3).toSet
    assert(banded == brute)
    // identical texts must pair at hamming 0
    assert(banded.contains((1L, 2L, 0)) && banded.contains((1L, 3L, 0)))
  }

  test("bpePairCounts: exact adjacent-pair math and conservation") {
    val d = Seq(
      (1L, "aa bb aa bb", "en", "s1", 11L),
      (2L, "aa bb cc", "en", "s2", 8L),
      (3L, "solo", "en", "s3", 4L),
      (4L, "", "en", "s4", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val all = Text.bpePairCounts(d, minCount = 1L, topN = 1000)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs"))).toMap
    // BPE pre-tokens of "aa bb aa bb": ["aa"," bb"," aa"," bb"]
    assert(all(("aa", " bb")) == (2L, 2L))   // docs 1 and 2
    assert(all((" bb", " aa")) == (1L, 1L))
    assert(all((" aa", " bb")) == (1L, 1L))
    assert(all((" bb", " cc")) == (1L, 1L))
    // conservation: Σ n_pairs over all pairs = Σ max(0, n_toks - 1)
    assert(all.values.map(_._1).sum == 3 + 2 + 0 + 0)
    // deterministic order: counts descend, ties break on the pair
    val ordered = Text.bpePairCounts(d, minCount = 1L, topN = 1000)
      .select("n_pairs").as[Long].collect()
    assert(ordered.sameElements(ordered.sortBy(-_)))
  }

  test("winnowFingerprint equals the min-of-md5-windows definition " +
      "and groups identical docs") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the " +
        "river bank today", "en", "s1", 70L),
      (2L, "the quick brown fox jumps over the lazy dog near the " +
        "river bank today", "en", "s2", 70L),
      (3L, "short text", "en", "s3", 10L),
      (4L, "", "en", "s4", 0L),
      (5L, "abcdefghijklmnopqrstuvwxyz123456", "en", "s5", 32L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.winnowFingerprint(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("win_fp"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("keep_doc_id")))).toMap
    // differential: recompute the definition with plain column exprs
    val h = (c: org.apache.spark.sql.Column) =>
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val ref = d.select(col("doc_id"),
      when(length(col("text")) <= 32, h(col("text")))
        .otherwise(array_min(transform(
          sequence(lit(1), length(col("text")) - 31),
          i => h(col("text").substr(i, lit(32)))))).as("ref"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    out.foreach { case (id, (fp, _, _)) =>
      assert(fp == ref(id), s"doc $id") }
    // identical texts share the fingerprint and group on doc 1
    assert(out(1L)._1 == out(2L)._1)
    assert(out(1L)._2 == 2L && out(2L)._3 == 1L)
    assert(out(3L)._2 == 1L && out(4L)._2 == 1L)
  }

  test("temperatureSample keeps small groups whole and flattens " +
      "large ones by the exact integer rule") {
    val d = (1L to 120L).map { i =>
      val src = if (i <= 100) "big" else if (i <= 110) "mid" else "small"
      (i, s"text $i", "en", src, 8L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val pivot = 10L
    val kept = Text.temperatureSample(d, pivot)
      .select("doc_id").as[Long].collect().toSet
    // mid (10 docs) and small (10 docs) are at/below pivot: all kept
    assert((101L to 120L).forall(kept))
    // big (100 docs): exactly the docs whose draw30² · 100 < 10 · 2^60
    val expected = (1L to 100L).filter { i =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:temp".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val draw30 = java.lang.Long.parseLong(hex, 16) >> 30
      BigInt(draw30) * BigInt(draw30) * 100 < BigInt(10) * BigInt(2).pow(60)
    }.toSet
    assert(kept.filter(_ <= 100L) == expected)
    // ~sqrt(10/100) ≈ 32% of big survives — sanity the flattening
    assert(expected.size > 15 && expected.size < 50)
  }

  test("unigramScore: integer skeleton exact, avg_nll matches the " +
      "quantized definition and ranks rare-token docs higher") {
    val d = Seq(
      (1L, "common common common", "en", "s1", 20L),
      (2L, "common rare", "en", "s1", 11L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.unigramScore(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // corpus: common ×4, rare ×1, T = 5
    assert(out(1L).getAs[Long]("n_toks") == 3L)
    assert(out(1L).getAs[Long]("sum_tf") == 12L)
    assert(out(1L).getAs[Long]("min_tf") == 4L)
    assert(out(2L).getAs[Long]("sum_tf") == 5L)
    assert(out(2L).getAs[Long]("min_tf") == 1L)
    def nll(tfs: Seq[Long], total: Long): Double = {
      val q20 = tfs.map(tf =>
        math.floor(math.log(tf.toDouble) * (1L << 20)).toLong).sum
      math.log(total.toDouble) -
        q20.toDouble / (tfs.size * (1L << 20).toDouble)
    }
    assert(math.abs(
      out(1L).getAs[Double]("avg_nll") - nll(Seq(4, 4, 4), 5)) < 1e-9)
    assert(math.abs(
      out(2L).getAs[Double]("avg_nll") - nll(Seq(4, 1), 5)) < 1e-9)
    // the rare-token doc is the higher-perplexity one
    assert(out(2L).getAs[Double]("avg_nll") >
      out(1L).getAs[Double]("avg_nll"))
  }

  test("unimaxBudgets: waterfilling exercises both branches, " +
      "conserves the budget, redistributes small-language surplus; " +
      "epochs cap raises ceilings") {
    // lang sizes: a=4, b=10, c=40 tokens
    val d = Seq(
      (1L, "w x y z", "a", "s", 7L),
      (2L, (1 to 10).map(i => s"t$i").mkString(" "), "b", "s", 30L),
      (3L, (1 to 40).map(i => s"u$i").mkString(" "), "c", "s", 120L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // budget 30, cap 1: share 10 → a cap-limited at 4; rem 26/2=13
    // → b cap-limited at 10; rem 16 → c share-limited at 16
    assert(Text.unimaxBudgets(d, 30L) ==
      Seq("a" -> 4L, "b" -> 10L, "c" -> 16L))
    // cap 2 raises a's ceiling: share 10 → a=8; rem 22/2=11 → b=11;
    // rem 11 → c=11
    assert(Text.unimaxBudgets(d, 30L, epochsCap = 2) ==
      Seq("a" -> 8L, "b" -> 11L, "c" -> 11L))
    // a huge budget caps every language at its full (cap × size)
    assert(Text.unimaxBudgets(d, 1000L).map(_._2).sum == 54L)
    // admission respects the allocation per language
    val admitted = Text.unimaxSample(d, 30L).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Int]("n_tokens"))
    val byLang = admitted.groupBy(_._1)
    // a and b fit fully; c's single 40-token doc starts under the
    // 16-token budget (cum_before 0 < 16) and is admitted
    assert(byLang("a").map(_._2).sum == 4)
    assert(byLang("b").map(_._2).sum == 10)
    assert(byLang("c").map(_._2).sum == 40)
  }

  test("dsirWeights: integer skeleton exact, log_w matches the " +
      "quantized definition bitwise, target-like docs outrank " +
      "target-absent ones, resample picks the top") {
    val raw = Seq(
      (1L, "spark table join spark", "en", "s1", 22L),
      (2L, "zebra yak xylophone", "en", "s1", 19L),
      (3L, "spark zebra", "en", "s1", 11L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val target = Seq(
      (100L, "spark join table spark spark", "en", "t", 28L),
      (101L, "table join", "en", "t", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val nB = 64
    val out = Text.dsirWeights(raw, target, nBuckets = nB).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // in-memory replication of the whole formula (same md5 bucket,
    // same q20 floor, same Math.log) — log_w must match BITWISE
    def bucket(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % nB
    }
    val rawToks = Seq("spark", "table", "join", "spark", "zebra",
      "yak", "xylophone", "spark", "zebra")
    val tgtToks = Seq("spark", "join", "table", "spark", "spark",
      "table", "join")
    val cr = rawToks.groupBy(bucket).map { case (b, t) => b -> t.size }
    val ct = tgtToks.groupBy(bucket).map { case (b, t) => b -> t.size }
    val q20 = (1L << 20).toDouble
    def lrQ20(b: Long): Long =
      (math.floor(math.log(ct.getOrElse(b, 0) + 1.0) * q20) -
        math.floor(math.log(cr.getOrElse(b, 0) + 1.0) * q20)).toLong
    def expected(toks: Seq[String]): Double =
      toks.map(t => lrQ20(bucket(t))).sum / q20 +
        toks.size * (math.log(rawToks.size.toDouble + nB) -
          math.log(tgtToks.size.toDouble + nB))
    assert(out(1L).getAs[Double]("log_w") ==
      expected(Seq("spark", "table", "join", "spark")))
    assert(out(2L).getAs[Double]("log_w") ==
      expected(Seq("zebra", "yak", "xylophone")))
    assert(out(3L).getAs[Double]("log_w") ==
      expected(Seq("spark", "zebra")))
    // the integer skeleton: doc 1's tokens all live in target buckets
    assert(out(1L).getAs[Long]("n_toks") == 4L)
    assert(out(1L).getAs[Long]("min_ct") >= 1L)
    assert(out(2L).getAs[Long]("sum_ct") == 0L) // no target mass
    // ranking: target-like > mixed > target-absent
    assert(out(1L).getAs[Double]("log_w") >
      out(3L).getAs[Double]("log_w"))
    assert(out(3L).getAs[Double]("log_w") >
      out(2L).getAs[Double]("log_w"))
    val top = Text.dsirResample(raw, target, k = 1, nBuckets = nB)
      .select("doc_id").as[Long].collect()
    assert(top.toSeq == Seq(1L))
  }

  test("quality classifier: trained weights separate planted " +
      "classes, clf_score is the sigmoid of the exact logit, fixed-" +
      "weight apply matches hand arithmetic") {
    // class 1: diverse vocab (high uniq_ratio); class 0: repetitive
    val d = (1L to 10L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i", "en", "s", 40L)) ++
      (11L to 20L).map(i => (i, "dup dup dup dup", "en", "s", 15L))
    val docs = d.toDF("doc_id", "text", "lang", "source", "n_chars")
    val labels = (1L to 20L).map(i => (i, if (i <= 10) 1.0 else 0.0))
      .toDF("doc_id", "label")
    val m = Text.trainQualityClassifier(docs, labels)
    val scored = Text.classifierScore(docs, m).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("clf_score")).toMap
    val class1Min = (1L to 10L).map(scored).min
    val class0Max = (11L to 20L).map(scored).max
    assert(class1Min > class0Max,
      s"trained classifier failed to separate: $class1Min <= $class0Max")
    // sigmoid/logit relation + fixed-weight logit arithmetic, exact
    val fixed = Text.classifierScore(docs,
      Text.QualityClassifier(1.5, -2.0, 0.75, 0.25)).collect()
    fixed.foreach { r =>
      val logit = 0.25 + r.getAs[Double]("stopword_ratio") * 1.5 +
        r.getAs[Double]("uniq_ratio") * -2.0 +
        r.getAs[Double]("len_score") * 0.75
      assert(r.getAs[Double]("logit") == logit)
      assert(r.getAs[Double]("clf_score") ==
        1.0 / (math.exp(-logit) + 1.0))
    }
  }

  test("bigramScore: exact pair skeleton and word-salad detection") {
    val d = Seq(
      // "a b" appears 3× (docs 1,1,2); "b a" only in doc 3
      (1L, "a b a b", "en", "s1", 7L),
      (2L, "a b", "en", "s1", 3L),
      (3L, "b a", "en", "s1", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.bigramScore(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1 pairs: (a b), (b a), (a b) → tf 3, 2, 3
    assert(out(1L).getAs[Long]("n_pairs") == 3L)
    assert(out(1L).getAs[Long]("sum_pair_tf") == 8L)
    assert(out(1L).getAs[Long]("min_pair_tf") == 2L)
    assert(out(2L).getAs[Long]("n_pairs") == 1L)
    assert(out(2L).getAs[Long]("sum_pair_tf") == 3L)
    // avg_nll matches the quantized definition: unigram tf a=4, b=4
    def q20(x: Double): Long =
      math.floor(math.log(x) * (1L << 20)).toLong
    val expected2 = (q20(4) - q20(3)).toDouble / (1L << 20).toDouble
    assert(math.abs(out(2L).getAs[Double]("avg_nll") - expected2) < 1e-9)
    // the unseen-order doc scores strictly higher than the common one
    assert(out(3L).getAs[Double]("avg_nll") >
      out(2L).getAs[Double]("avg_nll"))
  }

  test("sourceOverlap: exact set sizes and jaccard per source pair") {
    val d = Seq(
      (1L, "a b c", "en", "s1", 5L),
      (2L, "b c d", "en", "s2", 5L),
      (3L, "x y", "en", "s3", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = Text.sourceOverlap(d).collect()
      .map(r => (r.getAs[String]("source_a"),
        r.getAs[String]("source_b")) ->
        (r.getAs[Long]("inter"), r.getAs[Long]("na"),
          r.getAs[Long]("nb"), r.getAs[Double]("jaccard"))).toMap
    assert(rows(("s1", "s2")) == ((2L, 3L, 3L, 0.5)))
    // disjoint vocabularies produce no pair row at all
    assert(!rows.contains(("s1", "s3")) && !rows.contains(("s2", "s3")))
  }

  test("lengthBuckets: pow2 ceiling and exact waste accounting") {
    val d = Seq(
      (1L, "t1", 1), (2L, "t2", 2), (3L, "t3", 3), (4L, "t4", 5),
      (5L, "t5", 64), (6L, "t6", 65)
    ).map { case (id, _, n) =>
      (id, (1 to n).map(i => s"w$i").mkString(" "), "en", "s", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val b = Text.lengthBuckets(d).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
          r.getAs[Long]("waste_tokens"))).toMap
    assert(b(1L) == ((1L, 1L, 0L)))       // n=1 → bucket 1, no waste
    assert(b(2L) == ((1L, 2L, 0L)))       // n=2 → bucket 2
    assert(b(4L) == ((1L, 3L, 1L)))       // n=3 → bucket 4, pad 1
    assert(b(8L) == ((1L, 5L, 3L)))       // n=5 → bucket 8, pad 3
    assert(b(64L) == ((1L, 64L, 0L)))     // n=64 exactly fills
    assert(b(128L) == ((1L, 65L, 63L)))   // n=65 → bucket 128
  }

  test("readability: exact counts and integer Flesch score") {
    val d = Seq(
      (1L, "The cat sat. The dog ran!", "en", "s", 0L),
      (2L, "", "en", "s", 0L)             // empty → all floors kick in
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Text.readability(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_sents"),
          r.getAs[Long]("n_syll"), r.getAs[Long]("flesch_milli")))
      .toMap
    // 6 words, 2 sentence runs, 6 vowel groups (e,a,a,e,o,a):
    // 206835 - (1015*6) div 2 - (84600*6) div 6 = 119190
    assert(r(1L) == ((6L, 2L, 6L, 119190L)))
    // empty text: every count floors to 1 → 206835 - 1015 - 84600
    assert(r(2L) == ((1L, 1L, 1L, 121220L)))
  }

  test("oovRate: top-V vocab with deterministic tie-break, ppm") {
    val d = Seq(
      (1L, "x x y", "en", "s", 0L),
      (2L, "x z", "en", "s", 0L),
      (3L, "", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // tf: x=3, y=1, z=1 → top-2 = {x, y} (tie y<z broken by token)
    val out = Text.oovRate(d, vocabSize = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("oov_ppm"))).toMap
    assert(out(1L) == ((3L, 0L, 0L)))
    assert(out(2L) == ((2L, 1L, 500000L)))
    assert(out(3L) == ((0L, 0L, 0L)))     // empty doc present, 0-filled
  }

  test("sourceProfile: corpus-global dup counts, per-source rollup") {
    val d = Seq(
      (1L, "same text here", "en", "a", 14L),
      (2L, "same text here", "de", "b", 14L),  // cross-source dup
      (3L, "unique alpha", "en", "a", 12L),
      (4L, "unique beta words", "en", "b", 17L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.sourceProfile(d).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_langs"),
          r.getAs[Long]("n_dup_docs"), r.getAs[Long]("sum_tokens"),
          r.getAs[Long]("mean_chars_milli"))).toMap
    // dup pair spans sources a/b → counts once in EACH profile
    assert(out("a") == ((2L, 1L, 1L, 5L, 13000L)))
    assert(out("b") == ((2L, 2L, 1L, 6L, 15500L)))
  }

  test("ngramDiversity: repeated trigrams lower the per-source ratio") {
    val d = Seq(
      // "a b c a b c": trigrams [a b c, b c a, c a b, a b c] →
      // 4 total, 3 distinct
      (1L, "a b c a b c", "en", "s1", 11L),
      // all-distinct source: 2 trigrams, both unique
      (2L, "v w x y", "en", "s2", 7L),
      // too short for a trigram → source absent from the output
      (3L, "p q", "en", "s3", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.ngramDiversity(d).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_distinct"),
          r.getAs[Long]("diversity_ppm"))).toMap
    assert(out("s1") == ((4L, 3L, 750000L)))
    assert(out("s2") == ((2L, 2L, 1000000L)))
    assert(!out.contains("s3"))
  }

  test("leakageSafeSplit: cluster members share a split; singletons " +
      "fall back to their own id") {
    val d = Seq(
      (1L, "dup text", "en", "s", 8L), (2L, "dup text", "en", "s", 8L),
      (3L, "solo one", "en", "s", 8L), (4L, "solo two", "en", "s", 8L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // clusters: 1 and 2 are near-dups; 3 is listed as its own
    // cluster; 4 is ABSENT from the cluster table entirely
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L))
      .toDF("doc_id", "cluster_id")
    val out = Text.leakageSafeSplit(d, clusters).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[String]("split"))).toMap
    assert(out(1L)._2 == out(2L)._2, "dup pair split apart")
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L)
    assert(out(4L)._1 == 4L)            // coalesce to own doc_id
    // cluster-keyed draw == the plain split's draw on the same key:
    // doc 3 (cluster == doc_id) must agree with deterministicSplit
    val plain = Text.deterministicSplit(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split"))
      .toMap
    assert(out(3L)._2 == plain(3L))
    assert(out(4L)._2 == plain(4L))
    // and the dup pair inherits exactly the keeper's draw
    assert(out(2L)._2 == plain(1L))
  }

  test("blocklistFilter: word-boundary gate, keep and audit forms") {
    val d = Seq(
      (1L, "a clean document", "en", "s", 0L),
      (2L, "mentions Spark here", "en", "s", 0L),   // case-folded hit
      (3L, "sparkling is fine", "en", "s", 0L),     // \b guards prefix
      (4L, "vector soup", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val terms = Seq("vector", "spark")
    val kept = Text.blocklistFilter(d, terms).select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
    val audit = Text.blocklistFilter(d, terms, keep = false)
      .select("doc_id", "matched_term").as[(Long, String)]
      .collect().toMap
    assert(audit == Map(2L -> "spark", 4L -> "vector"))
  }

  test("containmentPairs: fragment-in-page found despite tiny jaccard") {
    val frag = "alpha beta gamma delta epsilon zeta"
    val page = frag + " " + (1 to 80).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, frag, "en", "s", frag.length.toLong),
      (2L, page, "en", "s", page.length.toLong),
      (3L, "totally unrelated words in this one here", "en", "s", 40L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.containmentPairs(d, 0.9)
      .select("doc_a", "doc_b", "containment")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the fragment is contained in the page; the reverse direction
    // and the unrelated doc must not appear
    assert(out == Set((1L, 2L)))
    // sanity: the SAME pair is invisible to symmetric jaccard at 0.5
    val jac = Text.jaccardExactPairs(d, 0.5)
      .select("doc_a", "doc_b").collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("weightedSample: k rows, deterministic, weight-biased") {
    val docs = (1L to 200L).map { i =>
      // doc 1..10 heavy (w=100000), rest weight 1
      val w = if (i <= 10) 100000L else 1L
      (i, s"doc $i", "en", "s", w)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val s1 = Text.weightedSample(docs, 20, col("n_chars"))
      .select("doc_id").as[Long].collect()
    val s2 = Text.weightedSample(docs, 20, col("n_chars"))
      .select("doc_id").as[Long].collect()
    assert(s1.length == 20 && s1.sameElements(s2)) // deterministic
    // all 10 heavy docs make a 20-slot sample vs 190 light ones:
    // P(miss any one) ~ (1-0.5)^something tiny with 1e5:1 odds
    assert((1L to 10L).forall(s1.contains), s"heavy docs missing: " +
      (1L to 10L).filterNot(s1.contains).mkString(","))
  }

  test("sourceContainment: direction-aware provenance counts") {
    val frag = "alpha beta gamma delta epsilon zeta"
    val page = frag + " " + (1 to 80).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, frag, "en", "mirror", frag.length.toLong),
      (2L, page, "en", "origin", page.length.toLong),
      (3L, frag + " eta", "en", "mirror", 44L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Text.containmentPairs(d, 0.8)
    val out = Text.sourceContainment(d, pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("n_pairs")).toMap
    // fragments (mirror) contained in the page (origin), and in each
    // other — but origin is contained in nothing
    assert(out.get(("mirror", "origin")).exists(_ >= 1L))
    assert(!out.keySet.exists(_._1 == "origin"))
  }

  test("tfidfKeywords: rare distinguishing term outranks common one") {
    val d = Seq(
      (1L, "shared shared shared zebra", "en", "s", 26L),
      (2L, "shared words again here", "en", "s", 23L),
      (3L, "shared words one more", "en", "s", 21L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.tfidfKeywords(d, 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")) ->
        r.getAs[String]("token")).toMap
    // doc 1: 'zebra' (df=1) beats 'shared' (df=3) even at tf 1 vs 3
    assert(out((1L, 1)) == "zebra")
    // 'shared' appears in every doc -> idf 0 -> score 0, ranked by
    // score first so any df<3 token beats it
    val all = Text.tfidfKeywords(d, 10).collect()
    assert(all.filter(_.getAs[String]("token") == "shared")
      .forall(_.getAs[Long]("score_q20") == 0L))
    // per-doc top-k contract: no doc exceeds k rows, ranks contiguous
    val perDoc = Text.tfidfKeywords(d, 2).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(perDoc.values.forall(rs =>
      rs.length <= 2 && rs.map(_.getAs[Int]("rank")).sorted
        .sameElements(1 to rs.length)))
  }

  test("langConfusion: diagonal hit, mislabel cell, und row, exact ppm") {
    val d = Seq(
      (1L, "the cat and the dog is here", "en", "s", 27L), // en→en
      (2L, "the raven and the crow of it", "de", "s", 28L),// de→en miss
      (3L, "der hund und die katze nicht", "de", "s", 28L),// de→de
      (4L, "zzz qqq", "fr", "s", 7L)                       // fr→und
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.langConfusion(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("label_total"),
          r.getAs[Long]("share_ppm"))).toMap
    assert(out(("en", "en")) == ((1L, 1L, 1000000L)))
    assert(out(("de", "en")) == ((1L, 2L, 500000L)))
    assert(out(("de", "de")) == ((1L, 2L, 500000L)))
    assert(out(("fr", "und")) == ((1L, 1L, 1000000L)))
    assert(out.size == 4)
  }

  test("dedupImpact: histogram + keep-one removal accounting") {
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L),
      (5L, 1L)).toDF("doc_id", "cluster")
    val out = Text.dedupImpact(assign).collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_removed"))).toMap
    assert(out(1L) == ((2L, 2L, 0L)))  // two singletons, nothing removed
    assert(out(3L) == ((1L, 3L, 2L)))  // one triple, keep-one drops 2
    assert(out.size == 2)
  }

  test("curriculumPhases: near-equal contiguous phases, quality-sorted") {
    val docs = (1L to 9L).map { i =>
      // vary n_chars so len_score (and quality) differ per doc
      (i, s"document number $i with text", "en", "s", i * 40L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.curriculumPhases(docs, 3).collect()
      .sortBy(_.getAs[Int]("rank"))
    val phases = out.map(_.getAs[Int]("phase"))
    assert(phases.sameElements(Array(1, 1, 1, 2, 2, 2, 3, 3, 3)))
    // rank order == descending quality
    val quals = out.map(_.getAs[Double]("quality"))
    assert(quals.sameElements(quals.sorted.reverse))
  }

  test("signalCorrelation: perfect linear reads 1000, constant signal reads null") {
    val docs = Seq(
      (1L, "a", "lin"), (2L, "ab cd", "lin"), (3L, "ab cd ef", "lin"),
      (4L, "xx", "flat"), (5L, "yy", "flat")
    ).toDF("doc_id", "text", "source")
    val out = graft.ops.Text.signalCorrelation(docs).collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))).toMap
    // lin: (chars, tokens) = (1,1),(5,2),(8,3) → r ≈ 0.997 → 997
    assert(out("lin").exists(v => v >= 990L && v <= 1000L),
      s"lin=${out("lin")}")
    // flat: token count constant (1,1) → zero variance → null
    assert(out("flat").isEmpty)
  }

  test("ngramNovelty: repeated batch reads 0, fresh batch 1e6, short docs emit zeros") {
    val corpus = Seq((100L, "a b c d"), (101L, "x y z w"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "a b c d"),     // all 3-grams seen → 0 ppm
      (2L, "p q r s"),     // all fresh → 1e6 ppm
      (3L, "a b c q"),     // "a b c" seen, "b c q" fresh → 500000
      (4L, "too short")    // < 3 tokens → zeros
    ).toDF("doc_id", "text")
    val out = graft.ops.Text.ngramNovelty(batch, corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toList
    assert(out === List(
      (1L, 2L, 0L, 0L), (2L, 2L, 2L, 1000000L),
      (3L, 2L, 1L, 500000L), (4L, 0L, 0L, 0L)))
  }

  test("piiRiskBySource: leaking feed flagged with exact ppm, clean feed zero") {
    val docs = Seq(
      (1L, "contact me a@b.com or 12345678", "crawl"),
      (2L, "clean text here", "crawl"),
      (3L, "nothing sensitive", "books"),
      (4L, "also clean", "crawl")
    ).toDF("doc_id", "text", "source")
    val out = graft.ops.Text.piiRiskBySource(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(5), r.getLong(6))).toList
    assert(out === List(
      ("books", 1L, 0L, 0L, 0L, 0L),
      ("crawl", 3L, 1L, 1L, 1L, 333333L)))
  }

  test("compressionRatio: exact chars/token per lang; empty docs excluded") {
    val docs = Seq(
      (1L, "abc de", "en"), (2L, "x", "en"), (3L, "  ", "fr"),
      (4L, "abcdefgh ij", "fr")
    ).toDF("doc_id", "text", "lang")
    val out = graft.ops.Text.compressionRatio(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    // en: chars 6+1=7, toks 2+1=3 → 2333 milli; fr: 11 chars 2 toks
    assert(out === List(
      ("en", 2L, 7L, 3L, 2333L), ("fr", 1L, 11L, 2L, 5500L)))
  }

  test("vocabGrowth: repetitive tail stops minting vocabulary; cumulative exact") {
    // 4 docs, 2 buckets: first half introduces all words, second
    // half repeats them — new_vocab must go to zero
    val docs = Seq(
      (1L, "alpha beta"), (2L, "gamma delta"),
      (3L, "alpha gamma"), (4L, "beta delta")
    ).toDF("doc_id", "text")
    val out = graft.ops.Text.vocabGrowth(docs, nBuckets = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toList
    assert(out === List(
      (0L, 2L, 4L, 4L, 4L, 4L),
      (1L, 2L, 4L, 0L, 8L, 4L)))
  }

  test("dedupThresholdCurve: decile buckets and descending cumulative removal") {
    val docs = Seq(
      (1L, "a b c d e"),      // vs 2: shingles {abc,bcd,cde} ∩
      (2L, "a b c d x"),      //   {abc,bcd,cdx} → j = 2/4 = 0.5
      (3L, "p q r s t"),
      (4L, "p q r s t")       // j = 1.0 with 3
    ).toDF("doc_id", "text")
    val out = graft.ops.Text.dedupThresholdCurve(docs, 0.5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .toList
    assert(out === List((5, 1L, 2L), (10, 1L, 1L)))
  }

  test("stopwordDiscovery: df-ratio gate, cumulative mass in (df desc, token) order") {
    // 'the' in 4/4 docs (8 of 14 tokens), 'cat' in 2/4, 'rare' in 1/4
    val docs = Seq(
      (1L, "the the cat sat"), (2L, "the the cat ran"),
      (3L, "the the rare"), (4L, "the the dog")
    ).toDF("doc_id", "text")
    val out = graft.ops.Text.stopwordDiscovery(docs, minDfPpm = 500000L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(6))).toList
    // the: df 4 → 1e6 ppm, tf 8, cum 8·1e6 div 14 = 571428;
    // cat: df 2 → 500000 ppm (>= gate), cum (8+2)·1e6 div 14 = 714285;
    // rare/sat/ran/dog: df 1 → 250000 ppm, excluded
    assert(out === List(
      ("the", 4L, 1000000L, 571428L),
      ("cat", 2L, 500000L, 714285L)))
  }

  test("goodTuring: hand counts-of-counts, c* milli, unseen mass ppm") {
    import spark.implicits._
    // tf: a=3 b=2 c=2 d=1 -> S(1)=1 S(2)=2 S(3)=1, T=8, N1=1
    val docs = Seq((1L, "a a a b b c"), (2L, "c d"))
      .toDF("doc_id", "text")
    val out = graft.ops.Text.goodTuring(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    assert(out === List(
      // c=1: c* = 2·S(2)/S(1) = 4.0 -> 4000 milli
      (1L, 1L, 2L, 4000L, 125000L),
      // c=2: c* = 3·S(3)/S(2) = 1.5 -> 1500 milli
      (2L, 2L, 1L, 1500L, 125000L),
      // c=3: S(4)=0 -> estimator undefined, emitted 0
      (3L, 1L, 0L, 0L, 125000L)))
  }

  test("kneserNeyBigrams: hand continuation counts, exact D=3/4 " +
      "ppm, head order") {
    import spark.implicits._
    // bigrams: (a,b)=2 (a,c)=1 -> B=2; hist a: c_w1=3 fert_w1=2;
    // cont: fert(b)=1 fert(c)=1
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val out = graft.ops.Text.kneserNeyBigrams(docs).collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("c"), r.getAs[Long]("kn_ppm"),
        r.getAs[Long]("cont_ppm"))).toList
    assert(out === List(
      // (a,b): (max(8-3,0)*2 + 3*2*1)*1e6 div (4*3*2) = 16e6/24
      ("a", "b", 2L, 666666L, 500000L),
      // (a,c): (1*2 + 6)*1e6 div 24 = 8e6/24
      ("a", "c", 1L, 333333L, 500000L)))
    graft.Caches.release("text")
  }

  test("burrowsDelta: identical usage rhythms read delta 0, the " +
      "skewed source separates; sign-split z is engine-exact") {
    import spark.implicits._
    // s1 and s2: identical a/b rates; s3 leans 3:1 on 'a'
    val docs = Seq((1L, "a b", "s1"), (2L, "a b", "s2"),
      (3L, "a a a b", "s3")).toDF("doc_id", "text", "source")
    val out = graft.ops.Text.burrowsDelta(docs).collect()
      .map(r => (r.getAs[String]("source_a"),
        r.getAs[String]("source_b")) ->
        r.getAs[Long]("delta_milli")).toMap
    // hand z (ppm rates, sd_scaled = floor(sqrt(1.25e11)) = 353553):
    // z_a = (-707, -707, 1414), z_b = (707, 707, -1414)
    assert(out(("s1", "s2")) === 0L)
    assert(out(("s1", "s3")) === 2121L)
    assert(out(("s2", "s3")) === 2121L)
    graft.Caches.release("text")
  }

  test("filterAgreementKappa: hand 2x2, perfect opposition, " +
      "constant-filter NULL") {
    def kap(cells: Seq[(Boolean, Boolean)]) =
      graft.ops.Text.filterAgreementKappa(
        cells.toDF("keep_a", "keep_b")).collect().head
    // n=10: n11=4 n10=1 n01=2 n00=3 → po=.7, pe=(5·6+5·4)/100=.5,
    // kappa=(.7-.5)/.5=.4
    val r = kap(Seq.fill(4)((true, true)) ++ Seq.fill(1)((true, false))
      ++ Seq.fill(2)((false, true)) ++ Seq.fill(3)((false, false)))
    assert((r.getAs[Long]("n11"), r.getAs[Long]("n10"),
      r.getAs[Long]("n01"), r.getAs[Long]("n00")) === (4L, 1L, 2L, 3L))
    assert(r.getAs[Long]("po_ppm") === 700000L)
    assert(r.getAs[Long]("pe_ppm") === 500000L)
    assert(r.getAs[Long]("kappa_milli") === 400L)
    // perfect opposition: kappa = -1 exactly (negative floor path)
    val opp = kap(Seq.fill(2)((true, false)) ++ Seq.fill(2)((false, true)))
    assert(opp.getAs[Long]("kappa_milli") === -1000L)
    // both filters constant: pe = 1, kappa undefined → NULL
    val const = kap(Seq.fill(3)((true, true)))
    assert(const.isNullAt(const.fieldIndex("kappa_milli")))
  }

  test("lshTuningCurve: q20 curve tracks 1-(1-j^r)^b; 8x4 default " +
      "midpoint lands on the >= 0.5 near-dup contract") {
    val rows = graft.ops.Text.lshTuningCurve(spark).collect()
    val q20 = (1L << 20).toDouble
    rows.foreach { r =>
      val b = r.getAs[Int]("bands")
      val rp = r.getAs[Int]("rows_per_band")
      val j = r.getAs[Long]("j_milli") / 1000.0
      val p = r.getAs[Long]("p_q20") / q20
      val ref = 1.0 - math.pow(1.0 - math.pow(j, rp.toDouble),
        b.toDouble)
      // floors lose < 2^-20 per square/multiply; 12 steps stay
      // within 5e-3 absolutely everywhere on the grid
      assert(math.abs(p - ref) < 5e-3, s"($b,$rp) j=$j: $p vs $ref")
      assert(r.getAs[Int]("sig_size") === b * rp)
    }
    // per-config: p monotone non-decreasing in j, endpoints exact
    rows.groupBy(r => (r.getAs[Int]("bands"),
        r.getAs[Int]("rows_per_band")))
      .foreach { case (_, rs) =>
        val ps = rs.sortBy(_.getAs[Long]("j_milli"))
          .map(_.getAs[Long]("p_q20"))
        assert(ps.head === 0L && ps.last === (1L << 20))
        assert(ps.zip(ps.tail).forall { case (a, c) => a <= c })
      }
    val s50 = rows.map(r => (r.getAs[Int]("bands"),
        r.getAs[Int]("rows_per_band")) -> r.getAs[Long]("s50_milli"))
      .toMap
    // the shipped 8x4 layout: analytic midpoint (1/8)^(1/4) = .5946,
    // first grid point with p >= 1/2 is 550 (p(.55) = .536) — inside
    // minhashCandidates' >= 0.5 confirm threshold, i.e. the banding
    // recalls where the verifier keeps
    assert(s50((8, 4)) === 550L)
    // at a fixed 128-hash budget, rows buy precision: the midpoint
    // moves right monotonically as rows grow
    assert(s50((128, 1)) < s50((32, 4)) &&
      s50((32, 4)) < s50((8, 16)) && s50((8, 16)) < s50((4, 32)))
  }

  test("gopherRules: each rule trips independently on a planted doc, " +
      "prose passes all four") {
    val docs = Seq(
      // healthy prose: the/and stopwords, alpha words, no symbols
      (1L, "the quick brown fox jumps over the lazy dog and runs"),
      // symbol storm: '#'s and '...' runs blow the 10% budget
      (2L, "the # price # is # up # and # more # ... # ... the end"),
      // short words: mean word length below 3000 milli
      (3L, "a b c d e f g h is the"),
      // numbers only: alpha ratio and stopword floor both fail
      (4L, "12 34 56 78 90 11 22 33"),
      (5L, "   ")                         // whitespace-only: dropped
    ).toDF("doc_id", "text")
    val out = graft.ops.Text.gopherRules(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!out.contains(5L))
    val ok = out(1L)
    assert(ok.getAs[Boolean]("pass_gopher"))
    assert(ok.getAs[Long]("n_stop") >= 2L)
    assert(!out(2L).getAs[Boolean]("pass_symbol"))
    assert(out(2L).getAs[Boolean]("pass_stop"))
    assert(!out(3L).getAs[Boolean]("pass_wlen"))
    assert(!out(4L).getAs[Boolean]("pass_alpha"))
    assert(!out(4L).getAs[Boolean]("pass_stop"))
    assert(!out(4L).getAs[Boolean]("pass_gopher"))
    // exact arithmetic spot check: doc 3 has 10 words, 13 chars
    assert(out(3L).getAs[Long]("mean_wlen_milli") === 1300L)
  }

  test("sourceInfluence: leave-one-out milli means, sign semantics, " +
      "single-source NULL") {
    // A: {10,10} B: {40} C: {40} -> mean_all = 100*1000/5... wait:
    // n=4, sum=100 -> mean 25000 milli; without A: 80/2=40000
    // (influence +15000, A drags the metric down); without B:
    // 60/3=20000 (influence -5000)
    val docs = Seq(("A", 10L), ("A", 10L), ("B", 40L), ("C", 40L))
      .toDF("src", "x")
    val out = graft.ops.Text.sourceInfluence(docs, "src", "x")
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("mean_all_milli"),
          r.getAs[Long]("mean_without_milli"),
          r.getAs[Long]("influence_milli"))).toMap
    assert(out("A") === ((25000L, 40000L, 15000L)))
    assert(out("B") === ((25000L, 20000L, -5000L)))
    assert(out("C") === ((25000L, 20000L, -5000L)))
    // one source only: leave-one-out undefined
    val solo = Seq(("A", 7L)).toDF("src", "x")
    val r = graft.ops.Text.sourceInfluence(solo, "src", "x")
      .collect().head
    assert(r.isNullAt(r.fieldIndex("mean_without_milli")))
    assert(r.isNullAt(r.fieldIndex("influence_milli")))
  }

  test("neymanAllocation: variance-proportional split, exact " +
      "largest-remainder rounding, zero-variance strata") {
    // A: {0,10} w=10; B: {5,5,5} w=0; C: {0,20} w=20; sum_w=30
    // budget 10: base A=3 (rem 10), B=0, C=6 (rem 20) -> C gets the
    // leftover unit
    val docs = Seq(
      ("A", 0L), ("A", 10L), ("B", 5L), ("B", 5L), ("B", 5L),
      ("C", 0L), ("C", 20L)).toDF("src", "x")
    val out = graft.ops.Text
      .neymanAllocation(docs, "src", "x", budget = 10L)
      .collect().map(r => r.getAs[String]("stratum") ->
        (r.getAs[Long]("w"), r.getAs[Long]("base"),
          r.getAs[Long]("n_alloc"))).toMap
    assert(out("A") === ((10L, 3L, 3L)))
    assert(out("B") === ((0L, 0L, 0L)))
    assert(out("C") === ((20L, 6L, 7L)))
    assert(out.values.map(_._3).sum === 10L)
    // all-constant corpus: weights all 0, budget splits by the
    // name-ordered remainder rule, still summing exactly to budget
    val const = Seq(("A", 5L), ("B", 5L), ("C", 5L)).toDF("src", "x")
    val c = graft.ops.Text
      .neymanAllocation(const, "src", "x", budget = 2L)
      .collect().map(r => r.getAs[String]("stratum") ->
        r.getAs[Long]("n_alloc")).toMap
    assert(c === Map("A" -> 1L, "B" -> 1L, "C" -> 0L))
  }

  test("sentenceChunks: greedy fill cuts at sentence boundaries, " +
      "oversize sentence occupies a chunk alone") {
    val docs = Seq(
      // sentences of 3,3,3,1 tokens; budget 6: chunks (0,1) and (2,3)
      (1L, "a b c. d e f! g h i? j"),
      // 3-token sentence over budget 2: alone in its chunk; then 1,1
      (2L, "w x y. z. q!"),
      (3L, "   "),                       // whitespace-only: dropped
      (4L, "single")                     // one sentence, no terminator
    ).toDF("doc_id", "text")
    def chunks(budget: Int) = graft.ops.Text
      .sentenceChunks(docs, budget).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        (r.getAs[Long]("n_sentences"), r.getAs[Long]("n_tokens"),
          r.getAs[Int]("first_sent"))).toMap
    val c6 = chunks(6)
    assert(c6((1L, 0L)) === ((2L, 6L, 0)))
    assert(c6((1L, 1L)) === ((2L, 4L, 2)))
    assert(c6((4L, 0L)) === ((1L, 1L, 0)))
    assert(!c6.keySet.exists(_._1 == 3L))
    val c2 = chunks(2)
    // doc 2 under budget 2: [w x y] alone, then [z, q] pack together
    assert(c2((2L, 0L)) === ((1L, 3L, 0)))
    assert(c2((2L, 1L)) === ((2L, 2L, 1)))
  }

  test("qualityRankNormalize: per-source milli ranks, singleton " +
      "midpoint, deterministic tie order") {
    // s1: three docs with strictly increasing quality via length;
    // s2: a singleton
    val docs = Seq(
      (1L, "the a of to in is and an the a", "en", "s1", 30L),
      (2L, "purely unique tokens here now", "en", "s1", 29L),
      (3L, "the the the the the the the the", "en", "s1", 31L),
      (4L, "alone in its source", "en", "s2", 19L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = graft.ops.Text.qualityRankNormalize(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rk"), r.getAs[Long]("n_src"),
          r.getAs[Long]("pct_milli"))).toMap
    // ranks are a permutation of 1..3 with milli {0, 500, 1000}
    val s1 = Seq(1L, 2L, 3L).map(m)
    assert(s1.map(_._1).sorted == Seq(1L, 2L, 3L))
    assert(s1.map(_._3).sorted == Seq(0L, 500L, 1000L))
    assert(s1.forall(_._2 == 3L))
    // singleton source sits at the midpoint by convention
    assert(m(4L) == ((1L, 1L, 500L)))
  }

  test("windowCooccurrencePmi: hand-counted pair space and q20 lns") {
    // "x y x y x y": 15 within-5 pairs → (x,x)=3, (y,y)=3, (x,y)=9;
    // marginals both 15, total 15; minPairCount=5 keeps only (x,y)
    val docs = Seq((1L, "x y x y x y", "en", "s1", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = graft.ops.Text
      .windowCooccurrencePmi(docs, window = 5, minPairCount = 5L,
        topN = 50).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert((r.getAs[String]("ta"), r.getAs[String]("tb")) == ("x", "y"))
    assert(r.getAs[Long]("n_ab") === 9L)
    assert(r.getAs[Long]("n_a_pairs") === 15L)
    assert(r.getAs[Long]("n_pairs_total") === 15L)
    def lnq20(v: Long) =
      math.floor(math.log(v.toDouble) * (1L << 20)).toLong
    assert(r.getAs[Long]("pmi_q20") ===
      lnq20(9L) + lnq20(15L) - lnq20(15L) - lnq20(15L))
  }

  test("sourceTfidfCosine: identical sources read 1000 milli, " +
      "disjoint sources share nothing") {
    val docs = Seq(
      (1L, "alpha beta gamma", "s1", "en", 16L),
      (2L, "alpha beta gamma", "s2", "en", 16L),
      (3L, "delta epsilon zeta", "s3", "en", 18L)
    ).toDF("doc_id", "text", "source", "lang", "n_chars")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val m = graft.ops.Text.sourceTfidfCosine(docs).collect()
      .map(r => (r.getAs[String]("source_a"),
        r.getAs[String]("source_b")) ->
        (r.getAs[Long]("n_common"), r.getAs[Long]("cos_milli"))).toMap
    // s1 and s2 carry identical weight vectors → cosine 1 up to the
    // floor: sqrt(x)·sqrt(x) may exceed x by an ulp, so the milli
    // floor legitimately reads 999 or 1000
    assert(m(("s1", "s2"))._1 === 3L)
    assert(m(("s1", "s2"))._2 >= 999L && m(("s1", "s2"))._2 <= 1000L)
    // s3 shares no token with s1 → no output row (inner token join)
    assert(!m.contains(("s1", "s3")))
  }

  test("tokenBurstiness: bursty token outranks the even spread") {
    // "spam" 9 occurrences in 3 docs (3000 milli); "the" once per
    // doc in 4 docs (1000 milli); "rare" in 2 docs → filtered by
    // minDf = 3
    val docs = Seq(
      (1L, "the spam spam spam rare", "en", "s1", 23L),
      (2L, "the spam spam spam rare", "en", "s1", 23L),
      (3L, "the spam spam spam", "en", "s1", 18L),
      (4L, "the plain words here", "en", "s1", 20L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = graft.ops.Text
      .tokenBurstiness(docs, minDf = 3L, topN = 10).collect()
      .map(r => r.getAs[String]("tok") ->
        (r.getAs[Long]("cf"), r.getAs[Long]("df"),
          r.getAs[Long]("burst_milli"))).toMap
    assert(rows("spam") == ((9L, 3L, 3000L)))
    assert(rows("the") == ((4L, 4L, 1000L)))
    assert(!rows.contains("rare"))
  }

  test("templateHeads: shared prefixes surface with source reach; " +
      "singletons filtered") {
    val head = "TEMPLATE: weekly status report for team"  // 39 chars
    val docs = Seq(
      (1L, head + " alpha tail", "en", "s1", 50L),
      (2L, head + " beta tail", "en", "s2", 49L),
      (3L, "completely different document body", "en", "s1", 34L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = graft.ops.Text
      .templateHeads(docs, headLen = 40, minDocs = 2L, topN = 10)
      .collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("head") === (head + " ").take(40))
    assert(rows.head.getAs[Long]("n_docs") === 2L)
    assert(rows.head.getAs[Long]("n_sources") === 2L)
  }

  test("dupQualityBias: per-size exact quality mass with per-doc " +
      "milli floors") {
    // clusters: {1,2} (size 2) and {3} (singleton)
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L))
      .toDF("doc_id", "cluster")
    val docs = Seq(
      (1L, "the a of to", "en", "s1", 11L),
      (2L, "the a of to", "en", "s1", 11L),
      (3L, "unique words entirely here", "en", "s1", 26L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = graft.ops.Text.dupQualityBias(clusters, docs).collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_q_milli"),
          r.getAs[Long]("mean_q_milli"))).toMap
    // identical docs → identical floors, so the sum is exactly
    // twice the truncated mean
    assert(m(2L)._1 === 2L)
    assert(m(2L)._2 === 2L * m(2L)._3)
    assert(m(1L)._1 === 1L)
    assert(m(1L)._2 === m(1L)._3)
  }

  test("filterYieldCurve: cumulative mass retained above each " +
      "quality bucket, exact ppm") {
    // two docs in distinct buckets: totals and cumulative columns
    // must close exactly
    val docs = Seq(
      (1L, "the a of to in is and an", "en", "s1", 24L),     // stopword-heavy
      (2L, "unique distinct tokens entirely here", "en", "s1", 36L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = graft.ops.Text.filterYieldCurve(docs).collect()
      .sortBy(_.getAs[Int]("bucket"))
    val totDocs = rows.map(_.getAs[Long]("n_docs")).sum
    val totToks = rows.map(_.getAs[Long]("n_tokens")).sum
    assert(totDocs === 2L && totToks === 13L)
    // the lowest bucket's cumulative covers everything → 10^6 ppm
    val lowest = rows.head
    assert(lowest.getAs[Long]("cum_docs") === 2L)
    assert(lowest.getAs[Long]("docs_kept_ppm") === 1000000L)
    assert(lowest.getAs[Long]("tokens_kept_ppm") === 1000000L)
    // the highest bucket keeps only itself
    val highest = rows.last
    assert(highest.getAs[Long]("cum_docs") ===
      highest.getAs[Long]("n_docs"))
  }

  test("tokenFertility: exact tokens-per-MB-byte; multibyte text " +
      "lowers fertility; shares close to 1e6") {
    // 'aa bb' = 2 tokens / 5 bytes; the zh doc is 2 tokens of 3-byte
    // CJK chars (2 tokens / 7 bytes)
    val docs = Seq((1L, "en", "aa bb"), (2L, "zh", "中 文"))
      .toDF("doc_id", "lang", "text")
    val m = Text.tokenFertility(docs).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_bytes"),
          r.getAs[Long]("tokens_per_mb_byte"),
          r.getAs[Long]("token_ppm"), r.getAs[Long]("byte_ppm")))
      .toMap
    assert(m("en") == ((2L, 5L, 400000L, 500000L, 416666L)))
    assert(m("zh") == ((2L, 7L, 285714L, 500000L, 583333L)))
  }

  test("sourceDupMatrix: pairs project onto unordered source pairs; " +
      "diagonal = within-source boilerplate") {
    val docs = Seq((1L, "web"), (2L, "web"), (3L, "books"),
      (4L, "books")).toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val m = Text.sourceDupMatrix(docs, pairs).collect()
      .map(r => (r.getAs[String]("source_a"),
        r.getAs[String]("source_b")) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("share_ppm"))).toMap
    assert(m(("web", "web")) == ((1L, 250000L)))
    assert(m(("books", "web")) == ((2L, 500000L))) // least/greatest
    assert(m(("books", "books")) == ((1L, 250000L)))
  }

  test("chunkDedup: repeated chunk text counts novel only at its " +
      "first (doc_id, chunk_id); self-repetition inside a doc too") {
    // window 3 / stride 3 → non-overlapping 3-token chunks.
    // doc 1: "a b c d e f" → chunks [a b c], [d e f] (both novel)
    // doc 2: "a b c x y z" → [a b c] SEEN, [x y z] novel
    // doc 3: "q q q q q q" → [q q q] novel, [q q q] dup of itself
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c x y z"), (3L, "q q q q q q")
    ).toDF("doc_id", "text")
    val m = Text.chunkDedup(docs, window = 3, stride = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("dup_ppm"))).toMap
    assert(m(1L) == ((2L, 2L, 0L)))
    assert(m(2L) == ((2L, 1L, 500000L)))
    assert(m(3L) == ((2L, 1L, 500000L)))
  }

  test("lengthTailIndex: exact Pareto sample reproduces its alpha; " +
      "constant lengths read NULL") {
    // x_i = floor(1000 / i) for i = 1..k is Pareto(alpha = 1)-ish;
    // just pin the exact integer identity on a tiny hand set:
    // lengths {8, 4, 2}: ln terms q20 of 8,4,2; hill = (ln8 - ln2)
    // + (ln4 - ln2) + 0 = ln4 + ln2 = 3 ln2 (in q20 floors)
    val docs = Seq((1L, 8L), (2L, 4L), (3L, 2L))
      .toDF("doc_id", "n_chars")
    val r = Text.lengthTailIndex(docs, k = 3).collect().head
    def lnq20(x: Double) = math.floor(math.log(x) * (1L << 20)).toLong
    val expect = lnq20(8) + lnq20(4) + lnq20(2) - 3 * lnq20(2)
    assert(r.getAs[Long]("k_used") === 3L)
    assert(r.getAs[Long]("x_min") === 2L)
    assert(r.getAs[Long]("hill_sum_q20") === expect)
    assert(r.getAs[Long]("alpha_milli") ===
      3L * 1048576000L / expect)
    val const = Seq((1L, 5L), (2L, 5L)).toDF("doc_id", "n_chars")
    val r2 = Text.lengthTailIndex(const, k = 2).collect().head
    assert(r2.isNullAt(r2.fieldIndex("alpha_milli")))
  }

  test("vocabCoverageCurve: rank by (tf desc, token), cumulative " +
      "mass exact, budget past the vocabulary clamps") {
    val docs = Seq((1L, "a a b b c")).toDF("doc_id", "text")
    val m = Text.vocabCoverageCurve(docs, ks = Seq(1L, 2L, 10L))
      .collect().map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("vocab_used"), r.getAs[Long]("covered_tokens"),
          r.getAs[Long]("total_tokens"),
          r.getAs[Long]("coverage_ppm"))).toMap
    assert(m(1L) == ((1L, 2L, 5L, 400000L))) // tie a-before-b
    assert(m(2L) == ((2L, 4L, 5L, 800000L)))
    assert(m(10L) == ((3L, 5L, 5L, 1000000L))) // clamped to |vocab|
  }

  test("clusterSourceSpread: multi-source and multi-lang clusters " +
      "counted separately; singletons excluded") {
    val docs = Seq(
      (1L, "s1", "en"), (2L, "s2", "en"),  // cross-source, same lang
      (3L, "s3", "en"), (4L, "s3", "de"),  // same source, cross-lang
      (5L, "s4", "en")                     // singleton
    ).toDF("doc_id", "source", "lang")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L),
      (5L, 5L)).toDF("doc_id", "cluster")
    val r = Text.clusterSourceSpread(docs, clusters).collect().head
    assert(r.getAs[Long]("n_clusters") === 2L)
    assert(r.getAs[Long]("n_multi_source") === 1L)
    assert(r.getAs[Long]("n_multi_lang") === 1L)
    assert(r.getAs[Long]("multi_source_ppm") === 500000L)
    assert(r.getAs[Long]("multi_lang_ppm") === 500000L)
  }

  test("paddingWaste: pad and truncation mass exact per length") {
    val docs = Seq((1L, "t1 t2"), (2L, "t1 t2 t3 t4 t5"))
      .toDF("doc_id", "text")
    val r = Text.paddingWaste(docs, lens = Seq(4L)).collect().head
    assert(r.getAs[Long]("n_docs") === 2L)
    assert(r.getAs[Long]("total_tokens") === 7L)
    assert(r.getAs[Long]("kept_tokens") === 6L)
    assert(r.getAs[Long]("pad_tokens") === 2L)
    assert(r.getAs[Long]("truncated_tokens") === 1L)
    assert(r.getAs[Long]("padding_ppm") === 250000L)
    assert(r.getAs[Long]("truncated_ppm") === 142857L)
  }

  test("chainContamination: transitively-glued pairs counted per " +
      "size; singletons excluded; oversize clusters report loudly " +
      "instead of vanishing") {
    import spark.implicits._
    // cluster 10 = {10,11,12} chained 10-11-12 (pair 10-12 only
    // transitive); cluster 20 = {20,21} direct; 30 singleton
    val assign = Seq((10L, 10L), (11L, 10L), (12L, 10L),
      (20L, 20L), (21L, 20L), (30L, 30L)).toDF("doc_id", "cluster")
    val direct = Seq((10L, 11L), (11L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val out = Text.chainContamination(assign, direct).collect()
      .map(r => r.getAs[Long]("sz") ->
        ((r.getAs[Long]("n_clusters"), r.getAs[Long]("examined"),
          r.getAs[Long]("n_pairs"), r.getAs[Long]("n_direct"),
          r.getAs[Long]("transitive_ppm")))).toMap
    assert(out(2L) == ((1L, 1L, 1L, 1L, 0L)))
    assert(out(3L) == ((1L, 1L, 3L, 2L, 333333L)))
    assert(!out.contains(1L)) // singleton never enters
    // cap = 2: the size-3 cluster must surface as examined = 0 with
    // NULL pair columns, not disappear
    val capped = Text.chainContamination(assign, direct,
      maxClusterSize = 2).collect()
      .map(r => r.getAs[Long]("sz") ->
        ((r.getAs[Long]("examined"),
          Option(r.getAs[Any]("n_pairs"))))).toMap
    assert(capped(3L) == ((0L, None)))
    assert(capped(2L)._1 === 1L)
  }

  test("rakeKeywords: stopword-delimited runs, degree/freq floored " +
      "per word, multi-word phrases outrank their fragments") {
    import spark.implicits._
    val docs = Seq(
      (1L, "deep learning of the deep net", "en", "s", 29L),
      (2L, "the deep learning", "en", "s", 17L),
      (3L, "the net", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.rakeKeywords(docs).collect()
      .map(r => (r.getAs[String]("phrase"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_occur"), r.getAs[Long]("score_milli")))
    // deep: freq 3 deg 6 -> 2000; learning: 2/4 -> 2000;
    // net: freq 2 deg 3 (one 2-run, one 1-run) -> 1500
    assert(out.toSeq === Seq(
      ("deep learning", 2L, 2L, 4000L),
      ("deep net", 2L, 1L, 3500L),
      ("net", 1L, 1L, 1500L)))
  }

  test("sourceQualityEmd: opposite-extreme sources score the same " +
      "EMD with opposite signed shifts; mass and CDF math exact") {
    import spark.implicits._
    // source A: all-stopword docs (rate 1000 -> bucket 100);
    // source B: no stopwords (bucket 0). Corpus CDF is 1/2 up to
    // b=99, so each source displaces |F_src - F_all| = 1/2 over 100
    // buckets -> EMD = 50 bucket units = 50e6 ppm, shifts +/-50000.
    val docs = Seq(
      (1L, "the the", "A", 7L), (2L, "of to", "A", 5L),
      (3L, "x y", "B", 3L), (4L, "p q r", "B", 5L))
      .toDF("doc_id", "text", "source", "n_chars")
    val out = Text.sourceQualityEmd(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("emd_bucket_ppm"),
          r.getAs[Long]("mean_bucket_milli"),
          r.getAs[Long]("shift_milli")))).toMap
    assert(out("A") == ((2L, 50000000L, 100000L, 50000L)))
    assert(out("B") == ((2L, 50000000L, 0L, -50000L)))
  }

  test("shardDedupLoss: pairs crossing the hash-shard boundary " +
      "count as lost, per candidate shard count") {
    import spark.implicits._
    // pairs: (0,2) same shard at S=2 (both even), lost at S=4
    // (0%4=0 vs 2%4=2); (1,3) same at S=2, lost at S=4; (4,8) same
    // at both S=2 and S=4; (5,6) lost at both
    val pairs = Seq((0L, 2L), (1L, 3L), (4L, 8L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val out = Text.shardDedupLoss(pairs, Seq(2, 4)).collect()
      .map(r => r.getAs[Long]("n_shards") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_local"),
          r.getAs[Long]("n_lost"), r.getAs[Long]("lost_ppm"))))
      .toMap
    assert(out(2L) === ((4L, 3L, 1L, 250000L)))
    assert(out(4L) === ((4L, 1L, 3L, 750000L)))
  }

  test("langDupAffinity: observed share scored against the exact " +
      "independence baseline — a concentrated cross-lang cell " +
      "lifts above 1000 milli") {
    import spark.implicits._
    // 6 docs: 3 en, 2 de, 1 fr. Pairs: (1,4) en-de, (2,5) en-de,
    // (1,2) en-en. C(6,2)=15 total slots; en-de expects 3*2/15 =
    // 400000 ppm but observes 2/3 = 666666 ppm -> lift 1666 milli;
    // en-en expects C(3,2)/15 = 200000 ppm, observes 333333 ppm
    val docs = Seq(
      (1L, "a", "en", "s", 1L), (2L, "b", "en", "s", 1L),
      (3L, "c", "en", "s", 1L), (4L, "d", "de", "s", 1L),
      (5L, "e", "de", "s", 1L), (6L, "f", "fr", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Seq((1L, 4L), (2L, 5L), (1L, 2L))
      .toDF("doc_a", "doc_b")
    val out = Text.langDupAffinity(docs, pairs).collect()
      .map(r => (r.getAs[String]("lang_a"),
        r.getAs[String]("lang_b")) ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("share_ppm"),
          r.getAs[Long]("expected_ppm"),
          r.getAs[Long]("lift_milli")))).toMap
    assert(out(("de", "en")) === ((2L, 666666L, 400000L, 1666L)))
    assert(out(("en", "en")) === ((1L, 333333L, 200000L, 1666L)))
    assert(out.size === 2)
  }

  test("minhashPrecisionAudit: exact duplicates surface as " +
      "decile-10 candidates; share/cumulative accounting closes") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base, "en", "s", 1L),
      (2L, base, "en", "s", 1L), // exact dup of 1 -> certain candidate
      (3L, "one two three four five six seven", "en", "s", 1L),
      (4L, "cats dogs birds fish mice ants bees", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Text.minhashPrecisionAudit(docs).collect()
      .map(r => r.getAs[Int]("decile") ->
        ((r.getAs[Long]("n_cands"), r.getAs[Long]("cum_at_or_above"),
          r.getAs[Long]("total_cands"), r.getAs[Long]("share_ppm"),
          r.getAs[Long]("precision_at_ppm")))).toMap
    // the identical pair collides in every band -> decile 10 present
    assert(out.contains(10))
    assert(out(10)._1 >= 1L)
    // accounting: one total everywhere; top decile cum == its count;
    // shares and precision derive exactly
    val total = out.values.head._3
    for ((_, (n, cum, t, share, prec)) <- out) {
      assert(t === total)
      assert(share === n * 1000000L / total)
      assert(prec === cum * 1000000L / total)
    }
    assert(out(out.keySet.max)._2 === out(out.keySet.max)._1)
    assert(out.values.map(_._1).sum === total)
  }

  test("sourceUnigramKl: disjoint-vocabulary halves each read " +
      "q20 ln 2 from the blend; a single source reads exactly 0") {
    import spark.implicits._
    def lnq20(x: Double) =
      math.floor(math.log(x) * (1L << 20)).toLong
    val docs = Seq(
      (1L, "x x x x", "A", 7L), (2L, "y y y y", "B", 7L))
      .toDF("doc_id", "text", "source", "n_chars")
      .withColumn("lang", lit("en"))
    val out = Text.sourceUnigramKl(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab"),
          r.getAs[Long]("kl_q20")))).toMap
    // term = 4*(lnq20(4*8) - lnq20(4*4)) div 4 per source
    val expect = lnq20(32.0) - lnq20(16.0)
    assert(out("A") === ((4L, 1L, expect)))
    assert(out("B") === ((4L, 1L, expect)))
    // ln 2 in q20 within the floor unit
    assert(math.abs(expect - 726817L) <= 1L)
    val solo = Text.sourceUnigramKl(
      Seq((1L, "p q r p", "A", 7L))
        .toDF("doc_id", "text", "source", "n_chars")).collect()
    assert(solo.head.getAs[Long]("kl_q20") === 0L)
  }
}
