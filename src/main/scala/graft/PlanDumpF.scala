package graft
/** Dev tool (not a driver surface): write `.explain("formatted")` output
  * of named declared keys to files — the round-17 optimization evidence
  * trail (plans/<round>/<key>_{before,after}.txt). Runs at the BENCH
  * scale (sf0.1) in the bench's harness session so size-estimate-driven
  * planner choices (broadcast thresholds, AQE initial plans) match what
  * the bench actually executes. Usage:
  *   runMain graft.PlanDumpF <outDir> <suffix> <key> [key ...]
  * writes <outDir>/<key>_<suffix>.txt per key.
  */
object PlanDumpF {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val keys = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()
    new java.io.File(outDir).mkdirs()
    for (k <- keys) {
      val df = SparkEntry.queries(k)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${k}_$suffix.txt"), txt)
      // Iterative keys materialize intermediate state while the
      // DataFrame is CONSTRUCTED (checkpointed supersteps) — sweep it
      // so one key's pinned blocks don't skew the next key's plan.
      GraftSession.dropLeftoverBlocks(spark)
    }
    spark.stop()
  }
}
