package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-design toolkit: multi-dimensional clustering (Z-order),
  * range-partition boundary planning, and key-skew diagnostics.
  *
  * None of this exists in the reference (its storage layout is
  * whatever Kafka/HBase give it — `gmall-realtime-spark/.../app/
  * OdsBaseDbApp.scala` routes rows, it never plans a layout). At
  * 100 TB, layout IS the query plan: a table clustered so min-max
  * stats are tight in the filtered dimensions turns a full scan into
  * a few row groups, and a pre-computed salt factor turns a stuck
  * straggler stage into an even one. These operators compute the
  * layout decisions; they are all exact integer/order arithmetic
  * (`div`, never float division), so every one carries a
  * bit-identical ANSI SQL oracle.
  */
object Layout {

  /** Exact long floor-division as a Column (SQL `div`; `Column./` is
    * always DOUBLE division, whose cast-back truncation can land one
    * off the true floor once operands leave the 2^53 window).
    */
  private def ldiv(a: Column, b: Column): Column =
    call_function("div", a.cast("long"), b.cast("long"))

  /** Append a Z-order clustering value over `cols` (integral
    * columns): each column is equi-width bucketed to `2^bits` buckets
    * using its own min/max, and the bucket ids bit-interleave into
    * one long (`graft.functions.zorderInterleave`).
    *
    * Shape at scale: the min/max pass is one partial-aggregated scan
    * producing a 1-row frame that broadcasts onto the main scan — no
    * shuffle of the data itself; the bucket+interleave math is
    * map-side codegen. On a table with fresh column statistics the
    * min/max pass can be skipped entirely by passing the catalog
    * values via `ranges`.
    *
    * Equi-width is the right default for the write path because it is
    * STABLE under appends: a bucket id depends only on the fixed
    * range, not the data distribution, so newly ingested files get
    * z-values consistent with old ones. For heavily skewed dimensions
    * compose with [[rangeBoundaries]] to pre-bucket by quantile
    * instead.
    */
  def withZValue(
      df: DataFrame,
      cols: Seq[String],
      bits: Int = 16,
      ranges: Option[Map[String, (Long, Long)]] = None
  ): DataFrame = {
    require(cols.nonEmpty && cols.size * bits <= 63,
      s"zorder: ${cols.size} cols x $bits bits must fit 63 output bits")
    val withMm = ranges match {
      case Some(r) =>
        cols.foldLeft(df) { (d, c) =>
          val (mn, mx) = r(c)
          d.withColumn(s"__mn_$c", lit(mn)).withColumn(s"__mx_$c", lit(mx))
        }
      case None =>
        val aggExprs = cols.flatMap(c => Seq(
          min(col(c)).cast("long").as(s"__mn_$c"),
          max(col(c)).cast("long").as(s"__mx_$c")))
        df.crossJoin(broadcast(df.agg(aggExprs.head, aggExprs.tail: _*)))
    }
    val width = 1L << bits
    // (v - mn) * 2^bits only stays inside Long when the column span
    // fits Long.MaxValue >> bits; a wrapped product can land back in
    // [0, 2^bits) and silently mis-cluster, so out-of-range spans
    // must throw (span check in decimal — mx - mn itself can wrap).
    val maxSpan = Long.MaxValue >> bits
    val buckets: Seq[Column] = cols.map { c =>
      val span = col(s"__mx_$c").cast("decimal(20,0)") -
        col(s"__mn_$c").cast("decimal(20,0)")
      // floor((v - mn) * 2^bits / (mx - mn + 1)) — exact long math,
      // lands in [0, 2^bits) for any v within [mn, mx]
      when(span <= lit(maxSpan),
        ldiv((col(c).cast("long") - col(s"__mn_$c")) * width,
          col(s"__mx_$c") - col(s"__mn_$c") + 1L))
        .otherwise(raise_error(concat(
          lit(s"zorder: span of '$c' ("),
          // an all-NULL column yields null min/max → null span; keep
          // the message non-null or raise_error throws with no text
          coalesce(span.cast("string"), lit("null — all-NULL column?")),
          lit(s") exceeds ${maxSpan} = Long.MaxValue >> $bits; " +
            "reduce bits or pre-bucket via rangeBoundaries")))
          .cast("long"))
    }
    withMm
      .withColumn("z_value",
        graft.functions.zorderInterleave(array(buckets: _*), bits))
      .drop(cols.flatMap(c => Seq(s"__mn_$c", s"__mx_$c")): _*)
  }

  /** Append a 2-D HILBERT-curve clustering value over `(colX, colY)`
    * — the space-filling curve with strictly better locality than
    * [[withZValue]]'s Z-order (consecutive Hilbert indexes are always
    * GRID NEIGHBORS; Z-order takes long diagonal jumps at power-of-2
    * boundaries, so a rectangle predicate touches more distinct index
    * runs — the reason modern clustering engines moved from Z to
    * Hilbert). Columns equi-width bucket to `2^bits` cells exactly as
    * in withZValue (same overflow guard), then the classic xy2d walk
    * runs as `bits` unrolled per-step projections of pure long
    * arithmetic (`d += s²·(3·rx ⊕ ry)` + conditional flip/swap) —
    * named columns per step, NOT one nested Column (the lshTuningCurve
    * lesson: self-referencing nested `when`s double the expression
    * tree per step), and the identical chain replays in ANSI SQL, so
    * `hilbert_value` hash-compares bitwise.
    *
    * Shape at scale: one 1-row min/max broadcast + map-side integer
    * math — identical cost profile to withZValue; `bits` ≤ 16 steps
    * of codegen'd projections.
    */
  def withHilbertValue(
      df: DataFrame,
      colX: String,
      colY: String,
      bits: Int = 16,
      ranges: Option[Map[String, (Long, Long)]] = None
  ): DataFrame = {
    require(bits >= 1 && 2 * bits <= 62,
      s"hilbert: 2 x $bits bits must fit 62 output bits")
    val cols = Seq(colX, colY)
    val withMm = ranges match {
      case Some(r) =>
        cols.foldLeft(df) { (d, c) =>
          val (mn, mx) = r(c)
          d.withColumn(s"__mn_$c", lit(mn))
            .withColumn(s"__mx_$c", lit(mx))
        }
      case None =>
        val aggExprs = cols.flatMap(c => Seq(
          min(col(c)).cast("long").as(s"__mn_$c"),
          max(col(c)).cast("long").as(s"__mx_$c")))
        df.crossJoin(broadcast(df.agg(aggExprs.head, aggExprs.tail: _*)))
    }
    val width = 1L << bits
    val maxSpan = Long.MaxValue >> bits
    def bucket(c: String): Column = {
      val span = col(s"__mx_$c").cast("decimal(20,0)") -
        col(s"__mn_$c").cast("decimal(20,0)")
      when(span <= lit(maxSpan),
        ldiv((col(c).cast("long") - col(s"__mn_$c")) * width,
          col(s"__mx_$c") - col(s"__mn_$c") + 1L))
        .otherwise(raise_error(concat(
          lit(s"hilbert: span of '$c' ("),
          coalesce(span.cast("string"), lit("null — all-NULL column?")),
          lit(s") exceeds ${maxSpan} = Long.MaxValue >> $bits; " +
            "reduce bits or pre-bucket via rangeBoundaries")))
          .cast("long"))
    }
    var cur = withMm
      .withColumn("__hx", bucket(colX))
      .withColumn("__hy", bucket(colY))
      .withColumn("__hd", lit(0L))
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      cur = cur
        .withColumn("__rx",
          when(col("__hx").bitwiseAND(lit(s)) > 0, lit(1L))
            .otherwise(lit(0L)))
        .withColumn("__ry",
          when(col("__hy").bitwiseAND(lit(s)) > 0, lit(1L))
            .otherwise(lit(0L)))
        .withColumn("__hd", col("__hd") +
          lit(s * s) * (col("__rx") * 3L).bitwiseXOR(col("__ry")))
        .withColumn("__nx",
          when(col("__ry") === 0,
            when(col("__rx") === 1, lit(s - 1) - col("__hy"))
              .otherwise(col("__hy")))
            .otherwise(col("__hx")))
        .withColumn("__ny",
          when(col("__ry") === 0,
            when(col("__rx") === 1, lit(s - 1) - col("__hx"))
              .otherwise(col("__hx")))
            .otherwise(col("__hy")))
        .drop("__hx", "__hy", "__rx", "__ry")
        .withColumnRenamed("__nx", "__hx")
        .withColumnRenamed("__ny", "__hy")
    }
    cur.withColumn("hilbert_value", col("__hd"))
      .drop("__hx", "__hy", "__hd")
      .drop(cols.flatMap(c => Seq(s"__mn_$c", s"__mx_$c")): _*)
  }

  /** Cluster `df` for writing along the Hilbert curve —
    * [[clusterByZOrder]]'s shape with [[withHilbertValue]]'s better
    * run structure: range-partition on `hilbert_value` (files tile
    * the curve), sort within partitions (row groups tile it too).
    */
  def clusterByHilbert(
      df: DataFrame,
      colX: String,
      colY: String,
      bits: Int = 16,
      numPartitions: Int = 0
  ): DataFrame = {
    val h = withHilbertValue(df, colX, colY, bits)
    val parted =
      if (numPartitions > 0)
        h.repartitionByRange(numPartitions, col("hilbert_value"))
      else h.repartitionByRange(col("hilbert_value"))
    parted.sortWithinPartitions("hilbert_value")
  }

  /** Cluster `df` for writing: z-value over `cols`, range-partition
    * on it (so files tile the z-curve), sort within partitions (so
    * row groups tile it too). Downstream parquet min-max pruning then
    * works for predicates on ANY of `cols`. `df.write` on the result
    * preserves the order; this is the standard OPTIMIZE/ZORDER
    * rewrite shape expressed as a plain DataFrame transform.
    */
  def clusterByZOrder(
      df: DataFrame,
      cols: Seq[String],
      bits: Int = 16,
      numPartitions: Int = 0
  ): DataFrame = {
    val z = withZValue(df, cols, bits)
    val parted =
      if (numPartitions > 0) z.repartitionByRange(numPartitions, col("z_value"))
      else z.repartitionByRange(col("z_value"))
    parted.sortWithinPartitions("z_value")
  }

  /** Exact range-partition boundaries from the VALUE HISTOGRAM: the
    * upper bound of range `i` (1-based, of `nRanges`) is the smallest
    * value whose cumulative row count reaches `ceil(i*N/nRanges)`.
    * Feed the result to a range partitioner (or `PARTITION BY` DDL)
    * to get balanced partitions under skew — the planning step
    * `repartitionByRange` does internally by SAMPLING, here exact and
    * reproducible.
    *
    * Shape at scale: one groupBy(value) aggregation (partial combine,
    * output is the histogram — orders of magnitude smaller than the
    * rows), then a single-partition cumulative window over the
    * HISTOGRAM only, then an nRanges-row broadcast join. The rows
    * themselves never hit a global sort or single partition.
    */
  def rangeBoundaries(
      df: DataFrame,
      colName: String,
      nRanges: Int
  ): DataFrame = {
    require(nRanges >= 1, s"nRanges must be >= 1, got $nRanges")
    val hist = df.groupBy(col(colName).as("value"))
      .agg(count(lit(1)).as("cnt"))
    // one window pass yields both the running total and the grand
    // total, so the histogram is scanned ONCE (a separate total agg
    // would re-derive it — Catalyst does not CTE-materialize the
    // shared subtree)
    val cum = hist.select(col("value"), col("cnt"),
      sum(col("cnt")).over(Window.orderBy(col("value"))).as("cum"),
      sum(col("cnt")).over(Window.orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as("n_rows"))
    // The value at cumulative interval (cum-cnt, cum] is the minimal
    // upper bound for every range i whose target ceil(i*N/nRanges)
    // falls inside it; in exact integer math that is
    // i in [ (cum-cnt)*nRanges div N + 1 , cum*nRanges div N ] —
    // each of the nRanges targets lands in exactly one interval, so
    // this emits each range id once: no join, no second scan.
    cum
      .select(col("value"),
        (ldiv((col("cum") - col("cnt")) * nRanges, col("n_rows")) + 1L)
          .as("lo"),
        ldiv(col("cum") * nRanges, col("n_rows")).as("hi"))
      // Spark's sequence(lo, hi) DESCENDS when lo > hi — filter the
      // empty intervals instead
      .filter(col("hi") >= col("lo"))
      .select(col("value"),
        explode(sequence(col("lo"), col("hi"))).as("range_id"))
      .select(col("range_id").cast("int").as("range_id"),
        col("value").as("upper_bound"))
  }

  /** Exact quantile boundaries of a (near-)unique KEY column without
    * any global sort or full-table window — the scale path for exact
    * rank cuts ([[rangeBoundaries]] covers the value-HISTOGRAM case;
    * for a unique key like `doc_id` the histogram IS the table, so
    * its single-partition cumulative window would see every row).
    * Returns `(range_id, upper_bound)` where `upper_bound` is the
    * key at exact global rank `ceil((range_id+1)*N/nRanges)`
    * (1-based ranks, `range_id` 0-based) — identical to what
    * `ROW_NUMBER() OVER (ORDER BY key)` would select, proven by the
    * rank identity in [[Text.vocabGrowth]]'s scaladoc.
    *
    * Two-pass exact-rank scheme (the classic distributed
    * order-statistic): pass 1 maps each key to one of ≤
    * `coarseCells+1` equi-width cells (`(key-min) div w`, monotone in
    * key, pure map-side) and counts per cell — a partial-aggregated
    * groupBy whose output is bounded by `coarseCells`, so the
    * cumulative window over CELLS is bounded and cheap. Each of the
    * `nRanges` target ranks lands in exactly one cell with a known
    * intra-cell offset. Pass 2 re-scans ONLY the rows of the ≤
    * `nRanges` hit cells (broadcast semi-join on cell id), RE-SPLITS
    * each hit cell by its own local min/max into another
    * `coarseCells` subcells, ranks within `(cell, subcell)` (every
    * partition holds ~N/coarseCells² rows on spread keys), and picks
    * the offset row. The local re-split is what makes the operator
    * robust to CLUSTERED keys: with dense ids plus one far outlier
    * stretching the global range, pass 1 lands nearly all rows in
    * one cell — but that cell's local range excludes the outlier, so
    * the refinement grid spreads the mass before any row_number runs
    * (one extra bounded-window stage; selected keys are the exact
    * global-rank elements with or without refinement).
    *
    * Exactness under duplicates: `upper_bound` is the VALUE at the
    * target rank under any stable order, and equal keys share a
    * value, so the result is deterministic even for a non-unique key;
    * only the derived bucket-by-`<` assignment needs uniqueness to
    * equal a strict rank cut. Assumes `max-min` fits in a long (any
    * surrogate id / timestamp does).
    */
  def exactKeyQuantiles(
      df: DataFrame,
      keyCol: String,
      nRanges: Int,
      coarseCells: Int = 1024
  ): DataFrame = {
    require(nRanges >= 1, s"nRanges must be >= 1, got $nRanges")
    require(coarseCells >= 1,
      s"coarseCells must be >= 1, got $coarseCells")
    // The three aggregate outputs below are each consumed by 2+ later
    // stages. Left lazy, every reference re-derives the FULL input
    // scan, and the references chain (placed→cellHist→stats, …), so
    // the recompute tree multiplies to ~8 input scans per action —
    // measured as the 2× q_text_vocab_growth regression when the
    // pass-2 re-split landed. Truncating just these aggregates to
    // lazy local checkpoints caps the plan at 4 input scans (stats,
    // cellHist, and one per pass-2 leg); everything downstream of a
    // snapped leaf is parameter-bounded (≤ coarseCells+1, ≤ nRanges,
    // ≤ nRanges·(coarseCells+1) rows — KB-sized blocks). The bounded
    // global windows stay OUTSIDE the snaps so PlanSpec's
    // empty-partition-Window guard still sees and adjudicates them.
    def snap(d: DataFrame): DataFrame =
      graft.Caches.lazySnapshot("layout", d)
    val key = col(keyCol).cast("long")
    val stats = snap(df.agg(
      min(key).as("minv"), max(key).as("maxv"),
      count(lit(1)).as("nd")))
    // cell width: ceil-ish so cell ids stay in [0, coarseCells]; the
    // +1 keeps w >= 1 when all keys are equal
    val withCell = df.select(key.as("k"))
      .crossJoin(broadcast(stats))
      .select(col("k"),
        ldiv(col("k") - col("minv"),
          ldiv(col("maxv") - col("minv"), lit(coarseCells)) + 1L)
          .as("cell"))
    // ONE pass-1 scan serves both the rank placement (cnt) and the
    // pass-2 local re-split widths (cmin/cmax) — deriving cell
    // min/max separately would re-scan the input for values this
    // groupBy already visits
    val cellHist = snap(withCell.groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"),
        min(col("k")).as("cmin"), max(col("k")).as("cmax")))
    // bounded window: ≤ coarseCells+1 rows by construction
    val cellCum = cellHist.select(col("cell"), col("cnt"),
      sum(col("cnt")).over(Window.orderBy(col("cell"))).as("cum"))
    // target rank of range b (0-based): ceil((b+1)*N/nRanges)
    val targets = stats.filter(col("nd") > 0)
      .select(explode(sequence(lit(0), lit(nRanges - 1))).as("rid"),
        col("nd"))
      .select(col("rid"),
        ldiv((col("rid") + 1L) * col("nd") + (nRanges - 1),
          lit(nRanges)).as("r"))
    // `tcell` (not `cell`) so the pass-2 joins against frames sharing
    // withCell's lineage never hit ambiguous-attribute resolution
    val placed = cellCum.join(broadcast(targets),
        col("r") > col("cum") - col("cnt") && col("r") <= col("cum"))
      .select(col("rid"), col("cell").as("tcell"),
        (col("r") - (col("cum") - col("cnt"))).as("off"))
    // pass 2: refine WITHIN the hit cells before any row_number. The
    // equi-width pass-1 grid assumes the key range is roughly
    // occupied; a clustered key (dense ids + one far outlier
    // stretching max−min) lands nearly all rows in ONE cell, and
    // ranking that cell directly would be the single-task near-global
    // sort this operator exists to avoid. So each hit cell is
    // re-split by its own LOCAL min/max into coarseCells subcells —
    // the outlier no longer stretches the local range, so the dense
    // mass spreads — and the rank window partitions by
    // (cell, subcell): ≤ n/coarseCells² rows per task on uniform
    // keys, and degenerate-clustered inputs are cured by the local
    // re-scale. Refinement is behavior-neutral at ANY size: the
    // selected key is the exact global-rank element either way.
    val hitCells = placed.select(col("tcell")).distinct()
    val inCell = withCell.join(broadcast(hitCells),
        col("cell") === col("tcell"), "leftsemi")
    val cellStats = cellHist.join(broadcast(hitCells),
        col("cell") === col("tcell"), "leftsemi")
      .select(col("cell"), col("cmin"), col("cmax"))
    val subbed = inCell.join(broadcast(cellStats), "cell")
      .select(col("k"), col("cell"),
        ldiv(col("k") - col("cmin"),
          ldiv(col("cmax") - col("cmin"), lit(coarseCells)) + 1L)
          .as("sub"))
    // bounded window: ≤ coarseCells+1 rows per hit cell
    val subCum = snap(subbed.groupBy(col("cell"), col("sub"))
      .agg(count(lit(1)).as("scnt")))
      .select(col("cell"), col("sub"), col("scnt"),
        sum(col("scnt")).over(Window.partitionBy(col("cell"))
          .orderBy(col("sub"))).as("scum"))
    val placed2 = subCum.join(broadcast(placed),
        col("cell") === col("tcell") &&
          col("off") > col("scum") - col("scnt") &&
          col("off") <= col("scum"))
      .select(col("rid"), col("cell").as("tcell2"),
        col("sub").as("tsub"),
        (col("off") - (col("scum") - col("scnt"))).as("off2"))
    val hitSubs = placed2.select(col("tcell2"), col("tsub")).distinct()
    val inSub = subbed.join(broadcast(hitSubs),
        col("cell") === col("tcell2") && col("sub") === col("tsub"),
        "leftsemi")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cell"), col("sub"))
          .orderBy(col("k"))))
    inSub.join(broadcast(placed2),
        col("cell") === col("tcell2") && col("sub") === col("tsub") &&
          col("rn") === col("off2"))
      .select(col("rid").cast("int").as("range_id"),
        col("k").as("upper_bound"))
      .orderBy(col("range_id"))
  }

  /** Heavy-hitter / skew profile of a key column: the `topN` heaviest
    * keys with exact counts, parts-per-million share, and the salt
    * factor that would level each one across `nParts` shuffle
    * partitions (`ceil(cnt * nParts / total)` — the number of salt
    * buckets after which no bucket exceeds the average partition
    * load). This is the measurement step behind `saltedAgg`
    * (Relational) and AQE skew handling: run it once on a sample or a
    * day's partition, then size the salt from data instead of
    * folklore.
    *
    * Shape at scale: one partial-aggregated groupBy (map-side
    * combine), a 1-row total broadcast onto it, TakeOrdered for the
    * top-N — no global sort, no single-partition window.
    */
  /** Small-file compaction planning — the OPTIMIZE/bin-packing
    * rewrite as a plain query over file statistics (the
    * `(part_key, file_id, bytes)` frame a catalog LIST/DESCRIBE
    * DETAIL provides): within each table partition, walk files in
    * id order and cut a new target bin whenever the next file would
    * overflow `targetBytes` — files are never split (a compactor
    * rewrites whole files), an oversize file occupies a bin alone,
    * and id order is preserved so a sort-ordered (e.g. Z-ordered)
    * partition stays ordered after compaction. The data-dependent
    * fill reset is the same recurrence as
    * [[Text.packChunksFirstFit]] and uses the same machinery: hash-
    * partition by `part_key`, sort within, one per-partition counter
    * walk — deterministic under any partition count, pure integer
    * math, exact linear-recursive-CTE oracle.
    *
    * Returns the input annotated with `(bin_id, bin_off)`; the
    * compactor then rewrites each (part_key, bin_id) group as one
    * file. Planning cost is one shuffle of the FILE LIST (≈ row per
    * file — millions of rows for a 100 TB table, not the data).
    */
  def compactionPlan(files: DataFrame, targetBytes: Long): DataFrame = {
    require(targetBytes >= 1,
      s"targetBytes must be positive, got $targetBytes")
    val prepared = files
      .select(col("part_key").cast("string").as("part_key"),
        col("file_id").cast("long").as("file_id"),
        col("bytes").cast("long").as("bytes"))
      .repartition(col("part_key"))
      .sortWithinPartitions(col("part_key"), col("file_id"))
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add("part_key", "string", nullable = true)
      .add("file_id", "long", nullable = false)
      .add("bytes", "long", nullable = false)
      .add("bin_id", "long", nullable = false)
      .add("bin_off", "long", nullable = false)
    prepared.mapPartitions { it =>
      var cur: String = null
      var started = false
      var bin = 0L
      var fill = 0L
      it.map { r =>
        val (pk, fid, n) = (r.getString(0), r.getLong(1), r.getLong(2))
        if (!started || pk != cur) {
          started = true; cur = pk; bin = 0L; fill = 0L
        }
        if (fill > 0 && fill + n > targetBytes) { bin += 1; fill = 0L }
        val off = fill
        fill += n
        org.apache.spark.sql.Row(pk, fid, n, bin, off)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  def keySkewProfile(
      df: DataFrame,
      keyCol: String,
      topN: Int = 20,
      nParts: Int = 200
  ): DataFrame = {
    val byKey = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
    val tot = byKey.agg(sum(col("cnt")).as("total"))
    byKey.crossJoin(broadcast(tot))
      .select(
        col("key"), col("cnt"),
        ldiv(col("cnt") * 1000000L, col("total")).as("share_ppm"),
        ldiv(col("cnt") * nParts + col("total") - 1L, col("total"))
          .as("salt_factor"))
      .orderBy(col("cnt").desc, col("key"))
      .limit(topN)
  }

  /** Two-dimensional form of [[pruneAudit]] — the measurement that
    * justifies Z-ORDER specifically (a single-column sort prunes one
    * predicate dimension and scrambles the other; interleaved bits
    * prune BOTH): per-file stats carry min/max of two columns, each
    * predicate is a rectangle, and a file scans iff both intervals
    * overlap. Same catalog-sized × broadcast shape as the 1-D audit.
    */
  def pruneAudit2D(fileStats: DataFrame, preds: DataFrame): DataFrame = {
    val hit =
      col("max_a") >= col("a_lo") && col("min_a") <= col("a_hi") &&
        col("max_b") >= col("b_lo") && col("min_b") <= col("b_hi")
    fileStats.crossJoin(broadcast(preds))
      .groupBy(col("layout"), col("pred_id"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("n_rows")).as("total_rows"),
        count(when(hit, lit(1))).as("files_scanned"),
        sum(when(hit, col("n_rows")).otherwise(lit(0L)))
          .as("rows_scanned"))
      .withColumn("skip_ppm",
        expr("(n_files - files_scanned) * 1000000 div n_files"))
      .orderBy(col("layout"), col("pred_id"))
  }

  /** Data-skipping (partition-prune) audit — the number that justifies
    * a re-clustering: given per-file column statistics
    * `(layout, file_id, min_v, max_v, n_rows)` and a set of range
    * predicates `(pred_id, p_lo, p_hi)`, count for each
    * (layout, predicate) how many files a min/max-pruning scanner
    * must open (`[min_v, max_v] ∩ [p_lo, p_hi] ≠ ∅` — the parquet
    * row-group / Delta file-stats skipping rule) and how many rows
    * those files hold. `skip_ppm` is the exact fraction of files
    * skipped: the same query against an insertion-ordered layout vs
    * a range-clustered one is the before/after of
    * [[rangeBoundaries]]/[[clusterByZOrder]], measured instead of
    * asserted.
    *
    * Shape at scale: operates on the FILE-STATS frame (catalog-sized,
    * like [[compactionPlan]]), cross-joined with the
    * #predicates-row broadcast — rows never participate. Building
    * the stats frame is one groupBy(file) min/max/count.
    */
  def pruneAudit(fileStats: DataFrame, preds: DataFrame): DataFrame = {
    val hit = col("max_v") >= col("p_lo") && col("min_v") <= col("p_hi")
    fileStats.crossJoin(broadcast(preds))
      .groupBy(col("layout"), col("pred_id"), col("p_lo"),
        col("p_hi"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("n_rows")).as("total_rows"),
        count(when(hit, lit(1))).as("files_scanned"),
        sum(when(hit, col("n_rows")).otherwise(lit(0L)))
          .as("rows_scanned"))
      .withColumn("skip_ppm",
        expr("(n_files - files_scanned) * 1000000 div n_files"))
      .orderBy(col("layout"), col("pred_id"))
  }

  /** Per-file interval-overlap (stabbing) depth — the clustering
    * metric OPTIMIZE/ZORDER maintenance decisions rest on: for each
    * file, how many files' `[min_v, max_v]` key ranges cover the
    * point `min_v` — i.e. how many files a point lookup landing at
    * this file's low boundary must read. A perfectly range-clustered
    * layout has depth 1 everywhere; an insertion-ordered layout on a
    * non-insertion key has depth ≈ #files. Where [[pruneAudit]]
    * measures skipping against a FIXED predicate set, this is the
    * predicate-free intrinsic: max depth bounds the worst point
    * query over ALL keys.
    *
    * Exact boundary sweep, no pairwise interval join: per DISTINCT
    * boundary value `v`, count starts (`s`) and ends (`e`); the
    * stabbing depth at `v` is
    * `cum(s)|≤v − cum(e)|<v  =  cum(s)|≤v − cum(e)|≤v + e_v`
    * (ends exactly at `v` still cover `v`, starts exactly at `v` all
    * count — two files sharing a `min_v` each see the other), and
    * each file reads its depth back with a join on `min_v`. Working
    * per distinct value makes boundary ties exact with no
    * order-within-tie ambiguity.
    *
    * Shape at scale: 2 events per FILE (catalog-sized, the
    * [[compactionPlan]] contract — millions of rows for a 100 TB
    * table, never the data), one window per layout group over the
    * distinct-boundary stream, one catalog-sized join back.
    * NULL-boundary rows are excluded by contract.
    */
  def fileOverlapDepth(
      fileStats: DataFrame,
      groupCols: Seq[String] = Seq("layout")
  ): DataFrame = {
    val grp = groupCols.map(col)
    val base = fileStats
      .filter(col("min_v").isNotNull && col("max_v").isNotNull)
      .select(grp ++ Seq(col("file_id"), col("min_v"), col("max_v"),
        col("n_rows")): _*)
    val events = base
      .select(grp ++ Seq(col("min_v").as("v"), lit(1L).as("delta")): _*)
      .unionByName(base.select(
        grp ++ Seq(col("max_v").as("v"), lit(-1L).as("delta")): _*))
    val perV = events
      .groupBy(grp :+ col("v"): _*)
      .agg(count(when(col("delta") === 1, lit(1))).as("s"),
        count(when(col("delta") === -1, lit(1))).as("e"))
    val w = Window.partitionBy(grp: _*).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val depthAt = perV
      .select(grp ++ Seq(col("v").as("min_v"),
        (sum(col("s")).over(w) - sum(col("e")).over(w) + col("e"))
          .as("depth")): _*)
    base.join(depthAt, groupCols :+ "min_v")
      .select(grp ++ Seq(col("file_id"), col("min_v"), col("max_v"),
        col("n_rows"), col("depth")): _*)
  }

  /** Insertion-order correlation (the Oracle clustering-factor
    * idea): how value-ordered a column already arrives when read in
    * sequence-key order — near 10⁶ ppm means range predicates on the
    * column prune well WITHOUT a rewrite, near the random baseline
    * (~500k for a continuous column) means a Z-order/Hilbert rewrite
    * buys real skipping. Adjacency is evaluated INSIDE sequence
    * buckets (`seq div bucketSize`) so the lag window partitions —
    * the ~1/bucketSize boundary pairs are excluded by construction,
    * which is the documented price of never sorting globally.
    */
  def insertionOrderCorrelation(
      df: DataFrame,
      seqCol: String,
      valCol: String,
      bucketSize: Long = 1024L
  ): DataFrame = {
    require(bucketSize >= 2,
      s"bucketSize must be >= 2, got $bucketSize")
    val w = Window
      .partitionBy(expr(s"CAST($seqCol AS BIGINT) div $bucketSize"))
      .orderBy(col(seqCol))
    df.select(col(seqCol), col(valCol).as("__v"))
      .withColumn("__prev", lag(col("__v"), 1).over(w))
      .agg(
        count(col("__prev")).as("n_pairs"),
        count(when(col("__v") >= col("__prev"), lit(1)))
          .as("n_ordered"))
      .withColumn("ordered_ppm", expr(
        """CASE WHEN n_pairs = 0 THEN NULL
          | ELSE n_ordered * 1000000 div n_pairs END""".stripMargin))
  }

  /** Snapshot resolution over an append-only add/remove file log —
    * the MVCC read every lakehouse table format performs before any
    * scan: a file is LIVE at `asOfVersion` iff its latest log entry
    * at-or-before that version is an add (a later re-add after a
    * remove — the compaction-rewrite case — revives it; a remove
    * after `asOfVersion` is invisible, which is what makes the read
    * a consistent time travel). One filter + one max_by per file_id
    * over the LOG (metadata-sized — millions of entries for a
    * 100 TB table, never data-sized), no window. Output: the live
    * manifest (file_id, the version that made it live, n_rows),
    * the scan list a planner would hand to the reader.
    */
  def snapshotLiveFiles(
      log: DataFrame,
      asOfVersion: Long
  ): DataFrame =
    log.filter(col("version") <= asOfVersion)
      .groupBy(col("file_id"))
      .agg(
        max_by(col("op"), col("version")).as("__last_op"),
        max(col("version")).as("live_version"),
        // the LATEST entry's row count, not the historical max: a
        // file revived by a compaction rewrite with fewer rows must
        // report the rewrite's count, not the stale original
        max_by(col("n_rows"), col("version")).as("n_rows"))
      .filter(col("__last_op") === "A")
      .select(col("file_id"), col("live_version"), col("n_rows"))

  /** Bloom-filter sizing advisor for point-lookup data skipping —
    * the "would a bloom filter on this column actually prune" math,
    * per file and per candidate (filter-size, hash-count) config:
    * min/max zone maps prune RANGE predicates but do nothing for a
    * point lookup on a column uncorrelated with the layout order
    * (the [[pruneAudit]] blind spot this closes). For a file holding
    * `n_keys` distinct values of the lookup column, a bloom filter
    * of `m` bits with `k` hashes false-positives — and so fails to
    * skip the file — with probability (1 − (1−1/m)^{k·n})^k.
    * Computed EXACTLY in q20 fixed point by square-and-multiply
    * (the [[graft.ops.Text]] q20pow convention — floored integer
    * chain, bitwise-replayable in SQL; no libm): m is restricted to
    * powers of two dividing 2²⁰ so (1−1/m) is an exact q20 value.
    * Output per (file_id, m_bits, k): n_keys, expected `fpp_ppm`,
    * the filter's `bits_per_key_milli` cost, and `effective` —
    * whether the config prunes ≥ 99 % of irrelevant probes.
    *
    * Shape at scale: `keyed` aggregates to one row per file (the
    * manifest size, never data-sized); the config grid is a
    * broadcast cross of #files × |ms|·|ks| rows; the pow chain is
    * fixed-depth column arithmetic (exponentBits square-multiply
    * steps). Per-file n_keys is bounded by the file's row capacity,
    * so the exponent never outgrows the chain: callers pass
    * exponentBits ≥ log2(k·max n_keys).
    */
  def bloomAdvisor(
      keyed: DataFrame,
      fileIdCol: String,
      keyCol: String,
      mBitsChoices: Seq[Int] = Seq(1 << 14, 1 << 16, 1 << 18),
      kChoices: Seq[Int] = Seq(1, 3, 5, 7),
      exponentBits: Int = 13
  ): DataFrame = {
    require(mBitsChoices.nonEmpty && mBitsChoices.forall(m =>
      m > 0 && (m & (m - 1)) == 0 && (1L << 20) % m == 0),
      "each m must be a power of two dividing 2^20")
    require(kChoices.nonEmpty && kChoices.forall(k => k >= 1 && k <= 7),
      "k in [1,7]")
    require(exponentBits >= 1 && exponentBits <= 40,
      "exponentBits in [1,40]")
    val spark = keyed.sparkSession
    import spark.implicits._
    val files = keyed
      .groupBy(col(fileIdCol).as("file_id"))
      .agg(countDistinct(col(keyCol)).as("n_keys"))
    val grid = mBitsChoices.flatMap(m => kChoices.map(k => (m, k)))
      .toDF("m_bits", "k")
    def ldiv(a: Column, b: Column): Column =
      call_function("div", a.cast("long"), b.cast("long"))
    val one = lit(1L << 20)
    // (1 - 1/m)^(k·n) by named-step square-and-multiply (the
    // q20powSteps shape: named columns keep the expression tree
    // linear in exponentBits)
    var df = files.crossJoin(broadcast(grid))
      // loud guard, not a silent drop: an exponent past the chain
      // width would return a WRONG fpp, so any such row fails the
      // whole job at scan stage (the exactCosinePairs convention)
      .withColumn("__g", assert_true(
        (col("k") * col("n_keys")) < (1L << exponentBits),
        lit(s"bloomAdvisor: k*n_keys exceeds the $exponentBits-bit " +
          "pow chain; raise exponentBits")))
      .filter(col("__g").isNull).drop("__g")
      .withColumn("e1", col("k") * col("n_keys"))
      .withColumn("acc", one.cast("long"))
      .withColumn("pw", (one - ldiv(one, col("m_bits"))).cast("long"))
    for (bit <- 0 until exponentBits) {
      df = df.withColumn("acc",
        when(shiftright(col("e1"), bit) % 2 === 1,
          ldiv(col("acc") * col("pw"), one)).otherwise(col("acc")))
      if (bit < exponentBits - 1)
        df = df.withColumn("pw", ldiv(col("pw") * col("pw"), one))
    }
    // (1 - inner)^k, k <= 7: 3-bit chain
    df = df.withColumn("acc2", one.cast("long"))
      .withColumn("pw2", (one - col("acc")).cast("long"))
    for (bit <- 0 until 3) {
      df = df.withColumn("acc2",
        when(shiftright(col("k"), bit) % 2 === 1,
          ldiv(col("acc2") * col("pw2"), one)).otherwise(col("acc2")))
      if (bit < 2)
        df = df.withColumn("pw2", ldiv(col("pw2") * col("pw2"), one))
    }
    df.select(col("file_id"), col("m_bits"), col("k"),
        col("n_keys"),
        ldiv(col("acc2") * lit(1000000L), one).as("fpp_ppm"),
        expr("m_bits * 1000 div n_keys").as("bits_per_key_milli"))
      .withColumn("effective", (col("fpp_ppm") <= 10000L).cast("long"))
      .orderBy(col("file_id"), col("m_bits"), col("k"))
  }
}
