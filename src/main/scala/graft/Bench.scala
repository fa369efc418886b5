package graft
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints per-query + total JSON for the driver.
  *
  * Robustness, part 1 (round-4 lesson: single-shot timings under machine
  * load produced false 6x regressions): each query is timed
  * SPARK_GRAFT_BENCH_REPS times (default 3) and the reported number is
  * the MEDIAN; the complete per-rep sample set is persisted as a JSON
  * artifact (SPARK_GRAFT_BENCH_OUT, default BENCH_FULL.json in the cwd)
  * so per-query data survives even when the driver truncates the stdout
  * tail.
  *
  * Robustness, part 2 (round-9 lesson: a loaded host blew the driver's
  * wall budget and the whole artifact was lost at SIGTERM — rc=124,
  * `parsed: null`): the run must DEGRADE, never VANISH.
  *  - The full artifact is rewritten (atomic tmp+move) after EVERY
  *    query, so a kill at any point leaves the measurements taken so far
  *    on disk.
  *  - A JVM shutdown hook emits the stdout JSON from whatever completed
  *    (flagged `"total_partial":true`), so the driver parses a partial
  *    result instead of nothing.
  *  - A per-query wall budget (SPARK_GRAFT_BENCH_BUDGET seconds, default
  *    10) degrades reps to 1 when the first rep already exceeds it: on a
  *    loaded host the suite sheds up to 2/3 of its wall time instead of
  *    tripling down on the slowest queries.
  *  - `total_partial` is also set whenever any query failed, so a
  *    failure-induced drop in the total can never be read as a speedup
  *    by cross-round tooling.
  *
  * Robustness, part 3 (round-10 lesson: every BENCH_r*.json since round 1
  * carried `parsed: null` because the 443-entry one-line JSON overflows
  * the driver's ~2 KB stdout tail capture, and the driver's own run
  * totals were load-confounded — 594 s loaded vs 322/328 s matched idle,
  * adjudicable only by burning idle re-runs):
  *  - Two JSON lines are printed: a compact totals-only preview, then
  *    the FINAL line the driver parses, carrying the full per-query
  *    map (round-14: the r12 totals-only final line left the driver's
  *    per-query comparator dark — PERF r13 n_common=0 — and the
  *    round-13 verdict requires the parsed line to carry the map
  *    again). Both lines also come out of the shutdown hook, and the
  *    per-query data additionally survives in the always-flushed
  *    artifact.
  *  - A fixed CALIBRATION micro-op (20 M-row xxhash64 aggregate, plan
  *    constant across rounds) is timed before the suite and every 50
  *    queries; the samples land in the artifact and their median in the
  *    totals line, so a loaded-host run self-reports its own slowdown
  *    factor and cross-round totals can be normalized without a matched
  *    idle re-run.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "10").toDouble
    // Optional regex over query names (local iteration only — the driver
    // never sets it, so driver benches always cover the full surface).
    val nameFilter: String => Boolean =
      sys.env.get("SPARK_GRAFT_BENCH_FILTER") match {
        case Some(pat) => val r = pat.r; n => r.findFirstIn(n).isDefined
        case None      => _ => true
      }
    val spark = GraftSession()

    val names = SparkEntry.queries.keys.filter(nameFilter).toSeq.sorted
    val expected = names.size
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    // (name, per-rep wall times, per-rep process-CPU times, failed) in
    // completion order; all access under `lock` because the shutdown
    // hook reads it from another thread. CPU time (all JVM threads, via
    // OperatingSystemMXBean) is the load-robust companion to wall time:
    // external host load stretches wall but leaves the query's own CPU
    // nearly unchanged, so cross-round CPU medians adjudicate
    // code-regression-vs-loaded-host even harder than the calibration
    // probe (round-11 same-code wall totals spread 284→454 s across
    // windows).
    val results = scala.collection.mutable.LinkedHashMap[
      String, (Seq[Double], Seq[Double], Boolean)]()
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // (queries completed when sampled, seconds) — host-load calibration.
    val calib = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val lock = new Object
    @volatile var emitted = false
    @volatile var warmupSec = -1.0

    // Host-load calibration probe: a fixed 20 M-row xxhash64 aggregate
    // whose plan never changes across rounds. On an idle 32-thread host
    // it lands at a stable ~0.1-0.2 s; a loaded run shows an inflated /
    // spiky trajectory. It is a COARSE FLAG, not a normalizer: host load
    // is bursty and the probe samples only every 50 queries, so burst
    // windows land on whichever query is running between samples (the
    // round-11 driver run: probe median 1.13x idle while the suite total
    // was 2.2x idle). The per-query CPU samples below are the
    // quantitative load-robust companion.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        .select(xxhash64(col("id")).as("h"))
        .agg(bit_xor(col("h"))).collect() // xor: no ANSI overflow risk
      (System.nanoTime() - t0) / 1e9
    }
    def sampleCalib(): Unit = {
      val s = calibOnce()
      lock.synchronized { calib += ((results.size, s)) }
    }

    def snapshot(): Seq[(String, Seq[Double], Seq[Double], Boolean)] =
      lock.synchronized {
        results.toSeq.map { case (n, (ts, cs, f)) => (n, ts, cs, f) }
      }
    def calibJson(): (String, Double) = lock.synchronized {
      val arr = calib.map { case (at, s) => s"""{"at":$at,"sec":$s}""" }
        .mkString("[", ",", "]")
      val med = if (calib.isEmpty) -1.0 else median(calib.map(_._2).toSeq)
      (arr, med)
    }
    // Whole body under `lock`: the shutdown hook may flush concurrently
    // with the main loop, and two writers on one tmp path would corrupt
    // it (monitors are reentrant, so the inner snapshot() is fine).
    def flushArtifact(): Unit = lock.synchronized {
      val snap = snapshot()
      val total = snap.collect { case (_, ts, _, false) => median(ts) }.sum
      val totalCpu = snap.collect { case (_, _, cs, false) => median(cs) }.sum
      val nFailed = snap.count(_._4)
      val full = snap.map { case (n, ts, cs, failed) =>
        "\"" + n + "\":{\"times\":" + ts.mkString("[", ",", "]") +
          ",\"median\":" + median(ts) +
          ",\"cpu\":" + cs.mkString("[", ",", "]") +
          ",\"cpu_median\":" + median(cs) + ",\"failed\":" + failed + "}"
      }.mkString("{", ",", "}")
      val partial = nFailed > 0 || snap.size < expected
      val (calArr, calMed) = calibJson()
      val json =
        s"""{"sf":"$sfDir","reps":$reps,"total_median":$total,"failed":$nFailed,""" +
          s""""total_cpu_median":$totalCpu,""" +
          s""""completed":${snap.size},"expected":$expected,"total_partial":$partial,""" +
          s""""calibration":$calArr,"calibration_median":$calMed,""" +
          s""""warmup_sec":$warmupSec,"queries":$full}"""
      // Atomic replace: a kill mid-write can never corrupt the artifact.
      val tmp = Paths.get(outPath + ".tmp")
      Files.writeString(tmp, json)
      Files.move(tmp, Paths.get(outPath),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    }
    // Both stdout lines derive from ONE snapshot taken under a single
    // lock acquisition: the shutdown-hook emission races the main loop,
    // and two independent snapshots could print a per-query map
    // inconsistent with its own totals (a query inserted between them).
    // Line 1 is a compact totals-only preview; line 2 — the FINAL line,
    // the one the driver parses — carries the full per-query map. The
    // r12 shape emptied line 2's map to stay inside a ~2 KB stdout tail
    // window, but that left the driver's per-query comparator dark
    // (PERF r13: n_common = 0, no geomean, empty scaling block), which
    // costs more than tail-truncation risk: the round-13 verdict
    // explicitly requires the parsed total line to carry the map again.
    // The totals also remain available in the always-flushed artifact
    // (`outPath`) regardless of stdout capture.
    def stdoutLines(): (String, String) = lock.synchronized {
      val snap = snapshot()
      val qs = snap.map { case (k, ts, _, failed) =>
        "\"" + k + "\":" + (if (failed) "null" else median(ts).toString)
      }.mkString("{", ",", "}")
      val total = snap.collect { case (_, ts, _, false) => median(ts) }.sum
      val totalCpu = snap.collect { case (_, _, cs, false) => median(cs) }.sum
      val nFailed = snap.count(_._4)
      val completed = snap.size
      val partial = nFailed > 0 || completed < expected
      val (_, calMed) = calibJson()
      val line1 =
        s"""{"metric":"total","value":$total,"unit":"sec","failed":$nFailed,""" +
          s""""completed":$completed,"expected":$expected,"total_partial":$partial,""" +
          s""""total_cpu_median":$totalCpu,"calibration_median":$calMed,""" +
          s""""queries":{},"sf":"$sfDir","full":"$outPath"}"""
      val line2 =
        s"""{"metric":"total","value":$total,"unit":"sec","failed":$nFailed,""" +
          s""""completed":$completed,"expected":$expected,"total_partial":$partial,""" +
          s""""total_cpu_median":$totalCpu,"calibration_median":$calMed,""" +
          s""""queries":$qs,"sf":"$sfDir","full":"$outPath"}"""
      (line1, line2)
    }
    def emitStdout(): Unit = {
      val (l1, l2) = stdoutLines()
      println(l1)
      println(l2)
      System.out.flush()
    }

    // SIGTERM/budget-expiry path: persist + emit whatever completed.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!emitted) {
        try { flushArtifact() } catch { case _: Throwable => () }
        try { emitStdout() } catch { case _: Throwable => () }
      }
    }))

    // Untimed warmup at the smallest SF: pays JIT/codegen/parquet-reader
    // startup once so the timed numbers below reflect steady-state
    // per-query cost rather than whichever query happens to run first.
    //
    // Round-11 trim: warming all 443 queries cost a large fixed wall
    // budget before the first measurement (the round-10 loaded driver
    // run spent most of its 900 s cap here). What warmup actually buys
    // is JIT of SHARED infrastructure — the codegen compiler, parquet
    // reader, micro-batch engine, state stores, DSv2 paths, ImageIO,
    // the row-level catalog — not per-plan generated code (each timed
    // query recompiles its own plan regardless, and with reps>=3 the
    // median sheds that first-rep cost). So warm ONE representative per
    // code-path family instead; SPARK_GRAFT_WARMUP=full restores the
    // exhaustive sweep for matched-pair validation.
    val warmupBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_WARMUP_BUDGET", "900").toDouble
    val warmRepresentatives = Seq(
      "q01_agg_pricing_summary",            // parquet scan + hash agg codegen
      "q06_window_topk_group",              // window exec
      "q18_asof_join",                      // native plan node + strategy
      "q24_session_window",                 // micro-batch engine + memory sink
      "q129_tws_map_counts",                // transformWithState state store
      "q210_stream_dedup_within_watermark", // watermarked stateful streaming
      // Round-12 additions: a matched filtered A/B (trim vs
      // SPARK_GRAFT_WARMUP=full over the 24-query streaming family,
      // interleaved x2) measured the 3-representative trim leaving
      // ~18% wall / ~28% CPU on the table when the family runs in
      // ISOLATION (55.0/56.8 s vs 46.3/47.2 s) — each stateful shape
      // JITs its own state-ser/de and join codegen that the three
      // original representatives don't cover. In a full-suite run the
      // 400+ preceding batch queries absorb most of this (the matched
      // quad showed no streaming regression vs full-warmup r10 code),
      // so four distinct-machinery representatives close the isolated
      // gap without re-paying the full sweep:
      "q135_stream_stream_join",            // symmetric hash join state
      "q193_statestore_dedup_read",         // state-store readback source
      "q84_json_sink_roundtrip",            // streaming file sink manifest
      "q317_available_now_resume",          // AvailableNow + checkpoint resume
      "q42_jsonstat_flatten",               // JSON parse path
      "q53_avro_ocf_roundtrip",             // Avro read/write
      "q166_xml_roundtrip",                 // XML source
      "q130_binaryfile_scan",               // binaryFile source
      "q74_jdbc_roundtrip",                 // embedded JDBC legs
      "q75_daywindow_scan",                 // DSv2 source (MicroBatchStream)
      "q120_dsv2_sink_roundtrip",           // DSv2 sink
      "q197_sql_merge_upsert",              // row-level catalog DML
      "q104_recursive_spine",               // WITH RECURSIVE
      "q359_sql_scripting",                 // SQL scripting engine
      "q94_pagerank",                       // BSP round machinery
      "q36_dedup_minhash_lsh",              // staged-cache path + near-dup
      "q38_knn_brute_cosine",               // embeddings + HOFs
      "q399_image_ahash_real"               // ImageIO + mapPartitions
    )
    val warmNames =
      if (sys.env.get("SPARK_GRAFT_WARMUP").contains("full")) names
      else warmRepresentatives.filter(names.contains)
    val warmDir = "/root/testdata/sf0.001"
    val warmT0 = System.nanoTime()
    // Round-13: the representatives run CONCURRENTLY. What warmup buys
    // — JIT of the codegen compiler, parquet readers, the micro-batch
    // engine, state stores — is JVM-wide and order-independent, yet the
    // serial sweep cost ~40 s per invocation while the sf0.001
    // micro-inputs left the cores mostly idle. Each warm task runs in its
    // OWN `spark.newSession()`: several representatives set-then-restore
    // session confs (Components' AQE/shuffle-partition toggles, the
    // streaming state-store provider key), and interleaved restores on a
    // SHARED session could leave the timed session misconfigured —
    // cloned sessions share the JVM-wide warmth but isolate conf.
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    warmNames.foreach { n =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val ws = spark.newSession()
          // Not inherited reliably from builder options; the warm plans
          // should shuffle like the timed ones so the same generated
          // classes get compiled.
          ws.conf.set("spark.sql.shuffle.partitions", parts)
          try SparkEntry.queries(n)(ws, warmDir).count()
          catch { case _: Throwable => () }
        }
      })
    }
    pool.shutdown()
    // The budget bounds the whole pool; on expiry abandon the rest —
    // warmup is best-effort, and a half-warm JVM beats a blown wall
    // budget (the timed reps take medians regardless).
    val waitSec = math.max(1L, warmupBudgetSec.toLong)
    if (!pool.awaitTermination(waitSec,
        java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdownNow()
    warmupSec = (System.nanoTime() - warmT0) / 1e9
    calibOnce() // pay the probe's own codegen once, outside the samples
    sampleCalib()

    // Rescue pool for over-budget first reps: ONE transient host spike
    // on a single-rep (budget-degraded) query otherwise becomes that
    // query's official number (a matched idle pair in round 10 showed
    // q393 5.3 s vs 17.3 s across runs for exactly this reason). A slow
    // first rep earns one retry — report the MIN of the two — but only
    // while a global pool lasts, so a genuinely loaded host (every
    // query over budget, the round-9 SIGTERM scenario) spends the pool
    // once and then keeps the one-sample shedding behaviour. Gated on
    // reps > 1 so an explicit SPARK_GRAFT_BENCH_REPS=1 run stays
    // strictly single-rep.
    var rescuePoolSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RESCUE", "60").toDouble

    var sinceCalib = 0
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def rep(): (Double, Double, Boolean) = {
        val t0 = System.nanoTime()
        val c0 = osBean.getProcessCpuTime
        // A throwing query must not hide as a suspiciously fast number:
        // surface the name + error on stderr (stdout stays JSON-only)
        // AND mark it in the JSON so downstream comparisons cannot read
        // the near-instant elapsed time as a measurement.
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val dc = (osBean.getProcessCpuTime - c0) / 1e9
        (dt, dc, ok)
      }
      val (t1, c1, ok1) = rep()
      // Over-budget first rep → a loaded host (or a genuinely heavy
      // query); one honest sample beats three that triple the overrun.
      val (times, cpus9, failed) =
        if (!ok1) (Seq(t1), Seq(c1), true)
        else if (t1 > budgetSec) {
          if (reps > 1 && rescuePoolSec > 0) {
            val (t2, c2, ok2) = rep()
            rescuePoolSec -= t2
            if (ok2) {
              // Report the min wall with ITS OWN cpu sample.
              if (t2 < t1) (Seq(t2), Seq(c2), false)
              else (Seq(t1), Seq(c1), false)
            } else {
              // The free retry can only ADD information, never demote a
              // query whose first rep already produced a valid sample.
              System.err.println(
                s"[bench] $name rescue retry failed; keeping first rep")
              (Seq(t1), Seq(c1), false)
            }
          } else (Seq(t1), Seq(c1), false)
        } else {
          // A failed later rep contributes NO samples: its near-instant
          // wall/CPU would otherwise skew the artifact's per-query
          // median (the query is excluded from totals either way, but
          // the artifact must not mix valid and bogus samples).
          var anyFail = false
          val rest = (2 to reps).flatMap { _ =>
            val (t, c, ok) = rep()
            if (ok) Some((t, c)) else { anyFail = true; None }
          }
          (t1 +: rest.map(_._1), c1 +: rest.map(_._2), anyFail)
        }
      lock.synchronized { results.put(name, (times, cpus9, failed)) }
      sinceCalib += 1
      if (sinceCalib >= 50) { sinceCalib = 0; sampleCalib() }
      flushArtifact()
    }

    sampleCalib()
    emitted = true
    flushArtifact()
    emitStdout()
    spark.stop()
  }
}
