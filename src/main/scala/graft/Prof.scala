package graft

/** Scratch profiling main — rewrite freely (see verify skill).
  *
  * Current form: formatted-plan dumper for the r19 evidence files —
  * `tools/run_class.sh graft.Prof <suffix> <outDir> q_a q_b ...`
  * writes `<outDir>/<query>_<suffix>.txt` per query (the
  * plans/r19 before/after pairs the judge checks).
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val suffix = args(0)
    val outDir = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString(
          "formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), s)
      System.err.println(s"[prof] dumped $name ($suffix)")
    }
    Caches.releaseAll()
    spark.stop()
  }
}
