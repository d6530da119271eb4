package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Robustness contract (a sweep that times out or is killed mid-run
  * must still leave usable evidence):
  *  - `oracle_sql.json` is written FIRST, before any query runs — the
  *    compare step needs it, and it depends on nothing but the registry;
  *  - each query's parquet is flushed as soon as that query finishes,
  *    with a timed progress line on stderr (`[verify] name ok 1.2s
  *    (k/N)`), so partial output is still per-query comparable;
  *  - queries run family-sorted with family caches released at each
  *    boundary (the Bench discipline): shared persisted state is built
  *    once per family and never piles up across the 140+ sweep.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver passes exactly (sfDir, outDir); extra args are a dev-loop
    // filter restricting the dump to the named queries
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    // default to real parallelism (capped — sf0.01 partitions are tiny
    // and task-launch overhead dominates past ~16 threads); every
    // registered query is partition-count-invariant by contract
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(16, Runtime.getRuntime.availableProcessors).toString)
    val spark = LocalSession(cpus)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // family-sorted run order: groups each family's queries so its
    // session caches are built once and releasable at the boundary
    import SparkEntry.family
    val todo = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1)
    val n = todo.size
    todo.zipWithIndex.foreach { case ((name, fn), i) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[verify] $name ok $dt%.1fs (${i + 1}/$n)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      if (i + 1 >= n || family(todo(i + 1)._1) != family(name))
        Caches.release(family(name))
    }
    spark.stop()
  }
}
