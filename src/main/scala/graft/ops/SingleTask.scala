package graft.ops

import scala.util.DynamicVariable

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** The single-task route shared by the size-routed operators:
  * dupClusters, BPE merge learning, PPR, k-core, both link-prediction
  * indices and BFS. The seqPatterns dense triple count (its own
  * constant cell limit) is switched off by the same `maxRows ≤ 0`.
  *
  * Why the route exists: each of those operators is an iterative
  * algorithm whose distributed form pays one or more Spark jobs per
  * round, and on a small input that fixed per-job coordination cost
  * (scheduling, task launch, result collection) dominates the work —
  * the Drizzle observation; BPE measured ~3.5 s of almost pure
  * scheduling on a 92-word vocabulary. When the input fits one task's
  * memory, the whole fixpoint runs in memory inside ONE co-group task
  * instead: one shuffle, one job. Each operator keeps its distributed
  * path for inputs above the cap, and each site argues (and a
  * differential spec pins) that both routes return identical rows.
  *
  * Why the cap is 2,000,000 rows: every kernel holds its input as
  * primitive arrays or `LongMap`s, so 2 M edges is tens of MB of task
  * state — small next to any executor heap. Heavier rows are probed
  * as several: a BPE word carries a segmentation array and counts as
  * 2 (1 M words), and the link-prediction kernels enumerate Σ deg²
  * two-paths, allowed 4 per row. It is a row budget for one task,
  * not a local-mode constant.
  */
private[graft] object SingleTask {

  /** Rows one task may take. Rebinding it to 0 (or less) forces every
    * operator onto its distributed path — specs use this to pin both
    * routes. */
  val maxRows = new DynamicVariable[Long](2000000L)

  /** Whether an input of `rows` rows takes the single-task route;
    * false without evaluating `rows` when the cap is ≤ 0. */
  def fits(rows: => Long): Boolean = {
    val cap = maxRows.value
    cap > 0 && rows <= cap
  }

  /** Run `kernel` over all of `ds` in one task: a constant-key
    * co-group. An empty input forms no group, so the kernel does not
    * run and the result is empty. */
  def run[T, U: Encoder](ds: Dataset[T])(
      kernel: Iterator[T] => Iterator[U]): Dataset[U] =
    ds.groupByKey((_: T) => 0L)(Encoders.scalaLong)
      .flatMapGroups((_, it) => kernel(it))
}
