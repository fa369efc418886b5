package ingestbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.pipeline.Pipelines

/** One benchmark run in its own JVM: reset the program's scratch, start
  * a fixed `local[k]` session, warm up, then run the workload's op list
  * once, closed-loop (one client thread), so every run does the same work
  * however fast the program is. Each op calls one public entry point and
  * materializes every
  * row and column of its result by writing it as parquet under
  * `<run-dir>/out/<op>`, which the output check reads after the run.
  *
  * The run writes one JSON document (`--out`), which run.py turns into
  * the benchmark's result line. With `--trace 1` every op also gets a
  * span with `build` and `action` children and per-layer counters. */
object Main {
  val E1Pass = "e1_e2_pass"

  /** A session of 4 + 22 runs per declared workload must end within
    * 3420 s and every run is a fresh JVM, so batch-analytics and
    * stream-ingest keep subsets that take 30-40 s in a cold JVM; README.md
    * lists the ops left out and why. */
  val workloads: Map[String, Seq[String]] = Map(
    "batch-analytics" -> Seq(
      "q01_agg_pricing_summary", "q02_join_broadcast_star", "q03_join_shuffle_fact",
      "q06_window_topk_group", "q09_agg_rollup", "q13_setops", "q17_range_join",
      "q18_asof_join", "q19_daily_dedup_agg", "q49_tpch_q3_shape",
      "q64_interval_join_binned", "q65_asof_native", "q209_skyline_pareto",
      // hidden tail: cheap under count(), costly once fully materialized
      "q48_window_range_frame", "q71_stats_moments", "q92_profile_columns",
      "q387_corr_matrix", "q401_ridge_normal_eq", "q322_dow_seasonality"),
    "llm-curation" -> Seq(
      "q94_pagerank", "q211_sssp_rounds", "q372_scc_coloring",
      "q411_double_sweep_diameter", "q433_luby_mis", "q376_pca_power",
      "q111_incremental_neardup", "q398_semantic_dedup_pq", "q300_corpus_yield_funnel",
      "q406_collision_entropy", "q91_repetition_quality", "q145_bpe_encode",
      "q224_pii_scrub"),
    "stream-ingest" -> Seq(
      E1Pass,
      "q81_stream_windowed_agg", "q96_stream_global_dedup", "q118_stream_session_window",
      "q135_stream_stream_join", "q152_stream_static_join",
      "q210_stream_dedup_within_watermark", "q317_available_now_resume",
      "q84_json_sink_roundtrip", "q120_dsv2_sink_roundtrip", "q53_avro_ocf_roundtrip",
      "q197_sql_merge_upsert", "q198_sql_update_rowlevel", "q202_sql_mor_dml"))

  final case class OpRun(name: String, buildMs: Double, actionMs: Double,
      error: Option[String], layers: Map[String, Double]) {
    def ms: Double = buildMs + actionMs
  }

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def main(args: Array[String]): Unit = {
    def need(k: String) = arg(args, k).getOrElse(sys.error(s"missing $k"))
    val workload = need("--workload")
    val trace = need("--trace") == "1"
    val cores = need("--cores").toInt
    val data = need("--data")
    val runDir = Paths.get(need("--run-dir")).toAbsolutePath
    val ops = new Random(need("--seed").toLong).shuffle(workloads(workload))

    // Setup: JVM start to the first timed op.
    val setupParts = mutable.LinkedHashMap[String, Double]()
    def part[T](name: String)(f: => T): T = {
      val s = System.nanoTime(); val r = f
      setupParts(name) = (System.nanoTime() - s) / 1e9; r
    }
    part("reset_s")(State.reset(runDir))
    val spark = part("session_s") {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", need("--shuffle-partitions"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", runDir.resolve("local").toString)
        .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
        .config("spark.sql.streaming.checkpointLocation", runDir.resolve("checkpoints").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    part("warmup_s")(warmUp(spark, data, runDir.resolve("local").resolve("warmup")))
    val setupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val memBean = ManagementFactory.getMemoryMXBean
    def gcMs: Double = gcBeans.map(_.getCollectionTime.toDouble).sum
    def out(name: String) = runDir.resolve("out").resolve(name).toString
    def frames = runDir.resolve("frames").toString

    // One op: build its DataFrame, then write every row and column.
    def runOp(name: String): OpRun = {
      tracer.foreach { t => t.begin(name); t.phase("build") }
      val gc0 = gcMs
      var e1Ms, e2Ms = 0.0
      val s = System.nanoTime()
      var b = s
      val error = try {
        val df =
          if (name == E1Pass) Pipelines.energinetE1(spark.read.parquet(need("--e1-input")))
          else SparkEntry.queries(name)(spark, data)
        b = System.nanoTime()
        tracer.foreach(_.phase("action"))
        if (name == E1Pass) {
          tracer.foreach(_.phase("e1"))
          df.write.mode("overwrite").parquet(frames)
          val m = System.nanoTime()
          tracer.foreach(_.phase("e2"))
          Pipelines.consumeE2(spark.read.parquet(frames)).write.mode("overwrite").parquet(out(name))
          e1Ms = (m - b) / 1e6
          e2Ms = (System.nanoTime() - m) / 1e6
        } else df.write.mode("overwrite").parquet(out(name))
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val e = System.nanoTime()
      if (b == s) b = e // threw while building
      val layers = tracer.map(_.end() ++ Map("e1.ms" -> e1Ms, "e2.ms" -> e2Ms,
        "driver.gc_ms" -> (gcMs - gc0),
        "driver.heap_after_op_mb" -> memBean.getHeapMemoryUsage.getUsed / 1048576.0))
        .getOrElse(Map.empty)
      OpRun(name, (b - s) / 1e6, (e - b) / 1e6, error, layers)
    }

    // Timed phase: the op list, once.
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val w0 = System.nanoTime(); val c0 = cpuBean.getProcessCpuTime
    val runs = ops.map(runOp)
    val wallS = (System.nanoTime() - w0) / 1e9
    val cpuS = (cpuBean.getProcessCpuTime - c0) / 1e9
    // Spark's context cleaner frees blocks of collected RDDs and
    // broadcasts asynchronously; give it a moment between collections.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapRetainedMb = memBean.getHeapMemoryUsage.getUsed / 1048576.0
    Files.writeString(runDir.resolve("oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.filter(kv => ops.contains(kv._1)).map { case (k, v) => k -> Json.str(v) }))
    spark.stop()

    val json = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "setup_parts" -> Json.obj(setupParts.map { case (k, v) => k -> Json.num(v) }),
      "wall_s" -> Json.num(wallS),
      "cpu_s" -> Json.num(cpuS),
      "heap_retained_mb" -> Json.num(heapRetainedMb),
      "ops" -> Json.arr(runs.map { r =>
        Json.obj(Seq(
          "name" -> Json.str(r.name),
          "ms" -> Json.num(r.ms), "error" -> r.error.map(Json.str).getOrElse("null"),
          "children" -> Json.arr(Seq(
            Json.obj(Seq("name" -> Json.str("build"), "ms" -> Json.num(r.buildMs))),
            Json.obj(Seq("name" -> Json.str("action"), "ms" -> Json.num(r.actionMs))))),
          "layers" -> Json.obj(r.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
      })))
    Files.writeString(Paths.get(need("--out")), json)
  }

  /** A small fixed warm-up that calls no program entry point: a parquet
    * scan, a shuffle aggregate and a parquet write, so the first timed op
    * does not pay alone for starting the executor, the code generator and
    * the writer. */
  def warmUp(spark: SparkSession, data: String, dir: Path): Unit =
    spark.read.parquet(s"$data/nation.parquet").groupBy("n_regionkey").count()
      .write.mode("overwrite").parquet(dir.toString)
}

/** The program's fixed-path scratch and the run's own directories. */
object State {
  /** Scratch the program keeps at fixed paths under /tmp. Its staged
    * caches are keyed by input signature, not by code, so a stale entry
    * from an earlier run or another commit would be served as a hit. */
  def programScratch: Seq[Path] =
    Option(new java.io.File("/tmp").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_")).map(_.toPath)

  def reset(runDir: Path): Unit = {
    programScratch.foreach(delete)
    Seq("local", "warehouse", "checkpoints", "frames", "out").foreach { d =>
      delete(runDir.resolve(d)); Files.createDirectories(runDir.resolve(d))
    }
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}

/** A minimal JSON writer: values are pre-rendered strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
