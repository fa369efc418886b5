package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: `local[cpus]` with `spark.sql.shuffle.partitions`
  * = cpus, UI off, UTC session timezone (oracle parity — the DuckDB oracle
  * treats timestamps as naive/UTC) and WARN logging. `cpus` defaults to
  * `SPARK_GRAFT_CPUS` (4 when unset), so Bench, Verify and PlanDump run the
  * same session shape. */
object GraftSession {
  private def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `extensions` injects [[graft.functions.GraftExtensions]] through the
    * builder (the `spark.sql.extensions` path) instead of runtime
    * registration. */
  def apply(cpus: Int = envCpus, extensions: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark =
      (if (extensions) b.withExtensions(new graft.functions.GraftExtensions)
       else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
