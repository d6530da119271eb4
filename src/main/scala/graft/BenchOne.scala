package graft

/** Dev-loop helper: time a subset of registered queries by name.
  * `tools/run_class.sh graft.BenchOne q_a q_b ...` (env
  * SPARK_GRAFT_SF_DIR selects the scale factor; default sf0.1).
  * Pass `--explain` first to also print the formatted physical plan.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val explain = args.headOption.contains("--explain")
    val names   = if (explain) args.drop(1) else args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (explain) fn(spark, sfDir).explain("formatted")
      val t0 = System.nanoTime()
      val n  = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[bench1] $name%-28s $dt%8.2fs  rows=$n")
    }
    spark.stop()
  }
}
