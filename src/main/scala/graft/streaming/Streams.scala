package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.functions._

/** Structured Streaming pipelines — the continuous shapes of the reference
  * (SURVEY.md §2.1/2.2/2.4): watermark-scoped dedup (D1), global dedup
  * (D2), checkpoint-resume incremental ingest (D3/D4), windowed
  * aggregation to file sinks (K2/K3), and multi-sink fan-out (K6).
  *
  * All transforms are source-agnostic (`DataFrame => DataFrame`): tests
  * drive them with MemoryStream/file sources; production points the same
  * code at Kafka. Watermarks bound state exactly like the reference's
  * daily Redis clear — the 100 TB posture is bounded state + append-mode
  * windows, never unbounded accumulation.
  */
object Streams {
  private val inputCounts = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, String), java.lang.Long]()

  /** The state partition count for a fresh-checkpoint micro-batch
    * execution over `inputParquet`: ~50k input rows per state partition,
    * capped at the session's `spark.sql.shuffle.partitions`. A production
    * deployment picks its state partition count deliberately and large,
    * once, at checkpoint creation; these executions create a fresh
    * checkpoint per run, so sizing to the input is the same decision made
    * honestly at bench scale — a tiny input otherwise pays a full-width
    * state-store wave (one delta-file dir per partition per stateful
    * operator, one RocksDB instance each under transformWithState) every
    * micro-batch, which dominates the run (q135 at sf0.1: 5.9s → 2.2s).
    * Results are partition-count-independent. The input's row count is
    * memoized by (path, length, mtime, [[graft.FileSig.contentTag]]), the
    * key `Tables` resolves by, so a rewritten input is counted again. */
  def sizedPartitions(spark: SparkSession, inputParquet: String): Int = {
    val f = new java.io.File(inputParquet)
    val key = (inputParquet, f.length(), f.lastModified(),
      graft.FileSig.contentTag(f))
    val rows: Long = inputCounts.computeIfAbsent(key,
      k => spark.read.parquet(k._1).count())
    val cap = spark.conf.get(ShufflePartitions).toLong
    math.max(1L, math.min(cap, rows / 50000L + 1)).toInt
  }

  /** Runs `f` with `spark.sql.shuffle.partitions` — which fixes the STATE
    * partition count at a fresh checkpoint, and the width of per-batch
    * shuffles — set to [[sizedPartitions]] for `inputParquet`. Restores
    * the session value before returning, so the (batch) result consumers
    * keep the corpus-sized setting. */
  def withSizedState[T](spark: SparkSession, inputParquet: String)(
      f: => T): T =
    withPartitions(spark, sizedPartitions(spark, inputParquet))(f)

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  private def withPartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    val old = spark.conf.get(ShufflePartitions)
    spark.conf.set(ShufflePartitions, n.toString)
    try f finally spark.conf.set(ShufflePartitions, old)
  }

  /** Drains the streaming frame `out` to the end of its available input
    * through a memory sink in output `mode`, with `statePartitions` state
    * partitions ([[sizedPartitions]] for an input-sized store) and an
    * optional explicit checkpoint, and returns the sink's rows. On every
    * path the query is stopped and the sink's temp view dropped, so a
    * failing stream rethrows with nothing left running or registered. The
    * returned frame's analyzed plan holds the sink itself, so its rows
    * live on the driver heap only as long as the caller keeps the frame,
    * not for the session. */
  def drain(out: DataFrame, mode: String, statePartitions: Int,
      checkpoint: Option[String] = None): DataFrame = {
    val spark = out.sparkSession
    val name = s"drain_mem_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      run(out, mode, statePartitions, checkpoint)(_.format("memory").queryName(name))
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }

  /** [[drain]] for the checkpoint alone: the same execution into the
    * streaming `noop` sink, which keeps no row, for a caller that reads
    * back the state store in `checkpoint` rather than the output. */
  def drainCheckpoint(out: DataFrame, mode: String, statePartitions: Int,
      checkpoint: String): Unit =
    run(out, mode, statePartitions, Some(checkpoint))(_.format("noop"))

  private def run(out: DataFrame, mode: String, statePartitions: Int,
      checkpoint: Option[String])(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    withPartitions(out.sparkSession, statePartitions) {
      val w = sink(out.writeStream.outputMode(mode))
      val q = checkpoint.fold(w)(w.option("checkpointLocation", _)).start()
      try q.processAllAvailable() finally q.stop()
    }

  /** E1 analogue: per-day dedup (D1) then daily counts per type. The day
    * bucket joins the dedup key so duplicates collapse within a day but
    * recur across days — the reference's clear-per-day semantics; the
    * 1-day watermark evicts closed days from the state store. */
  def dailyDedupAgg(events: DataFrame,
      keys: Seq[String] = Seq("user_id", "event_type")): DataFrame =
    events
      // Day bucket derived BEFORE the watermark: only ts carries the
      // event-time tag (two event-time columns is a streaming error).
      .withColumn("__day", window(col("ts"), "1 day"))
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark(keys :+ "__day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_dedup"))
      .select(col("window.start").as("day"), col("event_type"), col("n_dedup"))

  /** D2 analogue: global dedup, state never expires (statbank semantics).
    * Use only where the key domain is bounded; otherwise prefer
    * dailyDedupAgg's watermarked state. */
  def globalDedup(events: DataFrame, keys: Seq[String]): DataFrame =
    events.dropDuplicates(keys)

  /** K6 analogue (Flume fan-out): one micro-batch, two sinks. Use with
    * `.writeStream.foreachBatch(fanout(dirA, dirB))`. The batch is
    * persisted for this one micro-batch so the two writes don't recompute
    * the lineage; the first write fills it, so it adds no job. */
  def fanout(primaryDir: String, auditDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      batch.write.mode("append").parquet(primaryDir)
      batch.write.mode("append").parquet(auditDir)
    } finally batch.unpersist()
  }

  /** K5 analogue (Redis HSET upsert): last-write-wins keyed upsert of each
    * micro-batch into a bucket-partitioned Parquet state table.
    *
    * The state table is hash-partitioned on the upsert key
    * (`__bucket = pmod(xxhash64(keys), nBuckets)`) and each batch rewrites
    * ONLY the buckets containing incoming keys — per-batch cost is
    * O(state touched), not O(|state|), so batch cost stays flat as the
    * table grows. The touched-bucket read is partition-pruned (`isin` on
    * the partition column — only those bucket directories are listed).
    *
    * Crash contract: each touched bucket's new contents are staged OUTSIDE
    * the live tree (a hidden `.staging-<batch>` dir Spark readers ignore)
    * and published with a two-rename swap — live → `.swap-old-…` marker,
    * staged → live, marker deleted. A crash can strand a marker but never
    * drops carried-over state: [[recoverPendingSwaps]] runs at the start of
    * every batch and either restores the old bucket (live missing — the
    * swap had not completed) or clears the marker (live present — it had).
    * The streaming checkpoint then replays the batch, and the merge is
    * idempotent per bucket, so partially-swapped batches converge. A
    * transactional table format's MERGE is the full-ACID production form
    * of the same plan.
    *
    * Size `nBuckets` so one bucket's rows rewrite comfortably in a task
    * (state size / nBuckets ~ a few hundred MB): 64 suits GB-scale state;
    * at 100 TB state use thousands — the per-batch cost stays
    * O(buckets touched), independent of the total count. */
  def upsertBatch(stateDir: String, keys: Seq[String], nBuckets: Int = 64)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val statePath = new org.apache.hadoop.fs.Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverPendingSwaps(fs, statePath)
    recoverPendingDeletes(spark, fs, statePath)
    // The bucket count is part of the state's identity: persist it on first
    // write and refuse a mismatched later value — rebucketing an existing
    // state with a different modulus would scatter keys across buckets and
    // silently break targeted reads/deletes.
    persistedNBuckets(fs, statePath) match {
      case Some(n) => require(n == nBuckets,
        s"state at $stateDir was built with nBuckets=$n; got $nBuckets")
      case None => writeNBuckets(fs, statePath, nBuckets)
    }
    val bucket = pmod(xxhash64(keys.map(col): _*), lit(nBuckets)).cast("int")
    // P7: state rows carry their ingest time, as the reference's Redis
    // upsert injects utcnow (fetch_data_energinet.py:44).
    val incoming = graft.ops.Keys.ingestTag(batch.dropDuplicates(keys))
      .withColumn("__bucket", bucket).persist() // one call's batch; no job
    try {
      // At most nBuckets ints — metadata-sized, drives partition pruning
      // and the swap loop.
      val touched = incoming.select("__bucket").distinct()
        .collect().map(_.getInt(0)).sorted.toIndexedSeq
      if (touched.isEmpty) return
      // First batch = no live buckets yet. An explicit existence check, not
      // a catch of AnalysisException: a catch-all would also swallow real
      // schema errors (e.g. a legacy non-bucketed state layout or a renamed
      // key column) and silently drop all carried-over state.
      val stateExists = fs.exists(statePath) &&
        fs.listStatus(statePath).exists { s =>
          val n = s.getPath.getName
          !n.startsWith(".") && !n.startsWith("_")
        }
      val merged =
        if (!stateExists) incoming
        else {
          spark.read.parquet(stateDir)
            .filter(col("__bucket").isin(touched: _*))
            .join(incoming.select(keys.map(col): _*), keys, "left_anti")
            .unionByName(incoming)
        }
      val staging = new org.apache.hadoop.fs.Path(statePath, s".staging-$batchId")
      // r13 OPT: cluster rows by bucket before the partitioned write so
      // each touched bucket lands as one file per holding task instead of
      // (shuffle partitions × buckets) fragments — the read-back, the
      // swap loop, and every later targeted rewrite pay per file (guide
      // §6 small-files). One task per bucket group IS the production
      // posture: nBuckets is sized so a bucket rewrites in one task.
      merged.repartition(col("__bucket"))
        .write.mode("overwrite").partitionBy("__bucket")
        .parquet(staging.toString)
      touched.foreach { b =>
        val live = new org.apache.hadoop.fs.Path(statePath, s"__bucket=$b")
        val old = new org.apache.hadoop.fs.Path(statePath, s".swap-old-__bucket=$b")
        val staged = new org.apache.hadoop.fs.Path(staging, s"__bucket=$b")
        if (fs.exists(staged)) {
          if (fs.exists(live)) fs.rename(live, old)
          fs.rename(staged, live)
          if (fs.exists(old)) fs.delete(old, true)
        }
      }
      fs.delete(staging, true): Unit
    } finally incoming.unpersist(): Unit
  }

  /** Crash recovery for [[upsertBatch]]'s per-bucket swap: a leftover
    * `.swap-old-…` marker means a crash hit between the two renames. If the
    * live bucket is missing the swap had not completed — restore the old
    * bucket; if present, it had — drop the marker. Stranded staging dirs
    * are removed (the checkpoint replays their batch). */
  private def recoverPendingSwaps(fs: org.apache.hadoop.fs.FileSystem,
      statePath: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(statePath)) return
    fs.listStatus(statePath).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(".swap-old-")) {
        val live = new org.apache.hadoop.fs.Path(statePath,
          name.stripPrefix(".swap-old-"))
        if (!fs.exists(live)) fs.rename(st.getPath, live)
        else fs.delete(st.getPath, true)
        (): Unit
      } else if (name.startsWith(".staging-")) fs.delete(st.getPath, true): Unit
    }
  }

  /** The bucket modulus the state was built with, persisted as a dot-file
    * Spark readers ignore. Written once by [[upsertBatch]]; [[deleteKeys]]
    * derives it from here instead of trusting a caller parameter (a
    * mismatched modulus would hash doomed keys to the wrong bucket and
    * silently miss rows). */
  private def persistedNBuckets(fs: org.apache.hadoop.fs.FileSystem,
      statePath: org.apache.hadoop.fs.Path): Option[Int] = {
    val f = new org.apache.hadoop.fs.Path(statePath, ".nbuckets")
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0),
          java.nio.charset.StandardCharsets.UTF_8).trim.toInt)
      } finally in.close()
    }
  }

  private def writeNBuckets(fs: org.apache.hadoop.fs.FileSystem,
      statePath: org.apache.hadoop.fs.Path, n: Int): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(statePath, ".nbuckets"),
      true)
    try out.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Targeted key deletion (the right-to-be-forgotten / retention-expiry
    * maintenance op) on the [[upsertBatch]] bucket layout: ONLY buckets
    * containing doomed keys are listed, anti-joined, and rewritten through
    * the same staged two-rename swap — O(buckets touched) per request,
    * independent of total state size, with the same crash contract
    * ([[recoverPendingSwaps]] heals a mid-swap crash). A bucket whose
    * every row is doomed stages nothing and its live directory is
    * removed outright.
    *
    * Request durability: the doomed-key set is persisted as a
    * `.delete-req-<batchId>` manifest BEFORE any bucket swaps and removed
    * only after all touched buckets have swapped. A crash mid-request
    * therefore cannot silently leave doomed keys live — the next
    * [[upsertBatch]] or [[deleteKeys]] call finds the manifest and
    * re-applies the whole request (the anti-join is idempotent per
    * bucket). The bucket modulus is read from the state dir's persisted
    * `.nbuckets` (written by [[upsertBatch]]), never trusted from the
    * caller. `batchId` must be unique per request and caller-supplied so
    * a re-issued request replays deterministically.
    *
    * @return the bucket ids rewritten (or removed) by this request. */
  def deleteKeys(stateDir: String, keys: Seq[String], doomed: DataFrame,
      batchId: Long): Seq[Int] = {
    val spark = doomed.sparkSession
    val statePath = new org.apache.hadoop.fs.Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverPendingSwaps(fs, statePath)
    recoverPendingDeletes(spark, fs, statePath)
    if (!fs.exists(statePath)) return Nil
    val req = new org.apache.hadoop.fs.Path(statePath,
      s".delete-req-$batchId")
    doomed.dropDuplicates(keys).select(keys.map(col): _*)
      .write.mode("overwrite").parquet(req.toString)
    val touched = applyDelete(spark, fs, statePath,
      spark.read.parquet(req.toString), batchId)
    fs.delete(req, true)
    touched
  }

  /** The delete itself, re-drivable from a persisted manifest: hash the
    * manifest keys with the state's own `.nbuckets` modulus, rewrite only
    * the touched buckets via the staged two-rename swap. */
  private def applyDelete(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      statePath: org.apache.hadoop.fs.Path,
      manifest: DataFrame, batchId: Long): Seq[Int] = {
    val keys = manifest.columns.toSeq
    val nBuckets = persistedNBuckets(fs, statePath).getOrElse(
      throw new IllegalStateException(
        s"$statePath has no .nbuckets marker — not an upsertBatch state dir"))
    val stateDir = statePath.toString
    val bucket = pmod(xxhash64(keys.map(col): _*), lit(nBuckets)).cast("int")
    val dk = manifest.withColumn("__bucket", bucket).persist() // this call only
    try {
      val touched = dk.select("__bucket").distinct()
        .collect().map(_.getInt(0)).sorted.toIndexedSeq
      if (touched.isEmpty) return Nil
      val liveBuckets = fs.listStatus(statePath)
        .map(_.getPath.getName).filter(_.startsWith("__bucket=")).toSet
      if (touched.forall(b => !liveBuckets.contains(s"__bucket=$b")))
        return Nil // re-driven request whose buckets are already gone
      val remaining = spark.read.parquet(stateDir)
        .filter(col("__bucket").isin(touched: _*))
        .join(dk.select(keys.map(col): _*), keys, "left_anti")
      val staging =
        new org.apache.hadoop.fs.Path(statePath, s".staging-del-$batchId")
      // r13 OPT: same bucket-grained clustering as upsertBatch's write.
      remaining.repartition(col("__bucket"))
        .write.mode("overwrite").partitionBy("__bucket")
        .parquet(staging.toString)
      touched.foreach { b =>
        val live = new org.apache.hadoop.fs.Path(statePath, s"__bucket=$b")
        val old = new org.apache.hadoop.fs.Path(statePath,
          s".swap-old-__bucket=$b")
        val staged = new org.apache.hadoop.fs.Path(staging, s"__bucket=$b")
        if (fs.exists(staged)) {
          if (fs.exists(live)) fs.rename(live, old)
          fs.rename(staged, live)
          if (fs.exists(old)) fs.delete(old, true)
        } else if (fs.exists(live)) {
          // every row in this bucket was doomed — the bucket is gone
          fs.delete(live, true)
        }
        (): Unit
      }
      fs.delete(staging, true)
      touched
    } finally dk.unpersist(): Unit
  }

  /** Crash recovery for [[deleteKeys]]: a leftover `.delete-req-*`
    * manifest means a prior delete request did not confirm completion —
    * re-apply it in full (idempotent) and then clear the manifest, so a
    * right-to-be-forgotten request can never be silently half-applied. */
  private def recoverPendingDeletes(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      statePath: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(statePath)) return
    fs.listStatus(statePath).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(".delete-req-")) {
        val batchId = name.stripPrefix(".delete-req-").toLong
        applyDelete(spark, fs, statePath,
          spark.read.parquet(st.getPath.toString), batchId)
        fs.delete(st.getPath, true): Unit
      }
    }
  }

  /** Stream-stream inner join (the ksqlDB stream-join surface): purchases
    * matched to the same user's views within the preceding hour. Both
    * sides are watermarked so the join state is bounded — Spark drops
    * buffered rows once they can no longer match (the time-range condition
    * plus watermarks gives the state eviction bound). */
  /** Stream-STATIC enrichment join: every micro-batch joins against the
    * (batch) dimension table with a broadcast hash join — no streaming
    * state at all, unlike a stream-stream join; the dimension is re-read
    * per trigger, so a dimension update between triggers is picked up
    * (slowly-changing enrichment for free). At 100 TB of stream the dim
    * stays MB-scale and broadcast; were the dim itself huge, this becomes
    * the KV-state upsert path ([[upsertBatch]]) instead. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys)

  def purchaseViewJoin(events: DataFrame,
      window: String = "1 hour"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", window)
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", window)
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL '$window'"))
      .select(col("user_id"), col("p_id"), col("v_id"), col("p_ts"), col("v_ts"))
  }

  /** Stream-stream LEFT OUTER join: like [[purchaseViewJoin]], but a
    * purchase with no prior-hour view still emits (null view columns) once
    * the watermark closes its match window — Spark holds the outer row in
    * state until no future view can possibly match, then null-extends.
    * The distinct semantics (and state-eviction contract) of outer
    * streaming joins vs the inner form. */
  def purchaseViewLeftJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", "1 hour")
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "leftOuter")
      .select(col("user_id"), col("p_id"), col("v_id"), col("p_ts"), col("v_ts"))
  }

  /** Stream-stream FULL OUTER join: matches emit immediately; an
    * unmatched row on EITHER side null-extends once the watermark
    * guarantees no future partner can arrive — purchases with no
    * prior-hour view AND views with no following-hour purchase both
    * surface. The state-eviction bound is identical to the inner form
    * (watermark + time-range condition on both sides); what full-outer
    * adds is the null-extension obligation on both state stores. The
    * completion of the stream-stream join family: inner (q135),
    * left-outer (q183), left-semi (q216), full-outer (q233). */
  def purchaseViewFullJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", "1 hour")
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "fullOuter")
      .select(coalesce(col("p_user"), col("v_user")).as("user_id"),
        col("p_id"), col("v_id"))
  }

  /** Stream-stream LEFT SEMI join: each purchase emits ONCE iff at least
    * one view precedes it within the window — the streaming existence
    * filter (no view columns leak, multiple matches don't duplicate the
    * purchase). Completes the stream-stream join family beside the inner
    * (q135) and left-outer (q183) forms; state eviction follows the same
    * watermark bounds as the inner join. */
  def purchaseViewSemiJoin(events: DataFrame,
      window: String = "24 hours"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", window)
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", window)
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL '$window'"),
      "left_semi")
  }

  /** Bespoke keyed state via flatMapGroupsWithState (the escape hatch the
    * reference's Redis counters map to when dropDuplicates/windows don't
    * fit): running per-user event count + cumulative value, one output row
    * per input batch per active user. State is a two-field case class —
    * O(1) per key, watermark-safe under GroupStateTimeout in production. */
  def runningUserTotals(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    case class In(user_id: Long, value: Double)
    val typed = events.select(col("user_id"), col("value")).as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var v = v0
          rows.foreach { r => n += 1; v += r._2 }
          state.update((n, v))
          Iterator((user, n, v))
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Per-user totals with EVENT-TIME state expiry: like
    * [[runningUserTotals]], but a user idle for `gapMs` of event time has
    * their state evicted via GroupStateTimeout.EventTimeTimeout — the
    * timed-out group emits one final `closed = true` row and the next
    * event starts a fresh count. This is the bounded-state production form
    * of the reference's daily Redis clear: state size tracks ACTIVE keys,
    * not all keys ever seen. */
  def userTotalsWithTimeout(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, gapMs: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("value"), col("ts"))
      .as[(Long, Double, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double, Long), (Long, Long, Double, Boolean)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[(Long, Double, Long)]) =>
          if (state.hasTimedOut) {
            val (n, v, _) = state.get
            state.remove()
            Iterator((user, n, v, true))
          } else {
            val (n0, v0, ts0) = state.getOption.getOrElse((0L, 0.0, 0L))
            var n = n0; var v = v0; var maxTs = ts0
            rows.foreach { r =>
              n += 1; v += r._2; maxTs = math.max(maxTs, r._3.getTime)
            }
            state.update((n, v, maxTs))
            state.setTimeoutTimestamp(maxTs + gapMs)
            Iterator((user, n, v, false))
          }
      }
      .toDF("user_id", "n_events", "total_value", "closed")
  }

  /** Spark 4 `transformWithState` form of [[runningUserTotals]] — the
    * StatefulProcessor replacement for flatMapGroupsWithState: typed,
    * individually-addressable state primitives (ValueState here; List/Map
    * state and timers in the same handle), declarative TTL via TTLConfig,
    * and RocksDB-backed stores (the query must run with the RocksDB state
    * store provider — see StreamsSpec). Same emission contract as the
    * fMGWS version: each batch emits every touched user's running
    * (n, total). */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), (Long, Long, Double)] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double)]("totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Double)],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Double)] = {
      val (n0, v0) = if (st.exists()) st.get() else (0L, 0.0)
      var n = n0; var v = v0
      rows.foreach { r => n += 1; v += r._2 }
      st.update((n, v))
      Iterator.single((user, n, v))
    }
  }

  def runningUserTotalsTws(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "n_events", "total_value")
  }

  /** [[userTotalsWithTimeout]] rebuilt on `transformWithState` EVENT-TIME
    * TIMERS: each input re-registers the user's expiry timer at
    * maxTs + gap (deleting the old one — timers are explicit objects in
    * this API, not a single per-group timeout slot), and when the
    * watermark passes a timer, `handleExpiredTimer` emits the closing row
    * and clears the state. Same bounded-state contract as the fMGWS
    * version: state tracks ACTIVE users only. */
  class TotalsWithTimersProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double, java.sql.Timestamp), (Long, Long, Double, Boolean)] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[(Long, Double, Long)] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double, Long)]("totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Double, java.sql.Timestamp)],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Double, Boolean)] = {
      val (n0, v0, ts0) =
        if (st.exists()) st.get() else (0L, 0.0, Long.MinValue)
      var n = n0; var v = v0; var maxTs = ts0
      rows.foreach { r =>
        n += 1; v += r._2; maxTs = math.max(maxTs, r._3.getTime)
      }
      if (ts0 != Long.MinValue) getHandle.deleteTimer(ts0 + gapMs)
      getHandle.registerTimer(maxTs + gapMs)
      st.update((n, v, maxTs))
      Iterator.single((user, n, v, false))
    }
    override def handleExpiredTimer(user: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, Long, Double, Boolean)] = {
      val (n, v, _) = st.get()
      st.clear()
      Iterator.single((user, n, v, true))
    }
  }

  /** ListState flavor of the new API: each user keeps their last `k`
    * values as a bounded rolling list (append, re-put the trimmed tail) —
    * the recent-history feature-serving shape; emits the current window
    * per batch. ListState stores elements individually (RocksDB
    * merge-append on write, no read-modify-write of a whole blob on
    * append), which is what makes large per-key histories practical. */
  class LastKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), (Long, Seq[Double])] {
    @transient private var hist:
        org.apache.spark.sql.streaming.ListState[Double] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      hist = getHandle.getListState[Double]("hist",
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Double)],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Seq[Double])] = {
      rows.foreach(r => hist.appendValue(r._2))
      val all = hist.get().toSeq
      val window = all.takeRight(k)
      if (all.length > k) hist.put(window.toArray) // trim to the last k
      Iterator.single((user, window))
    }
  }

  /** MapState flavor of the new API: per-user per-event-TYPE counts held
    * as individually addressable map entries — a point get/update per
    * arriving row, never a read-modify-write of one whole per-user blob
    * (the practical difference from packing a Map into ValueState once a
    * user has many types: RocksDB reads/writes only the touched entry).
    * Emits the user's full current map each batch; counts are integers,
    * so the emission is insensitive to row order within a batch. */
  class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, String, Long)] {
    @transient private var counts:
        org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, String)],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, String, Long)] = {
      rows.foreach { r =>
        val k = r._2
        val cur = if (counts.containsKey(k)) counts.getValue(k) else 0L
        counts.updateValue(k, cur + 1L)
      }
      counts.iterator().map { case (k, v) => (user, k, v) }.toVector.iterator
    }
  }

  def userTypeCountsTws(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("event_type")).as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "event_type", "n")
  }

  def userLastKTws(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new LastKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "last_k")
  }

  /** `transformWithState` with DECLARATIVE STATE TTL — the operational
    * knob a long-running 100 TB stream needs so cold keys don't
    * accumulate state forever: the per-user running count's ValueState
    * carries `TTLConfig(ttl)` (processing-time), and a key not updated
    * for `ttl` reads back as absent — its count restarts — with the
    * expired bytes reclaimed by the store, no manual timer bookkeeping.
    * Requires TimeMode.ProcessingTime and the RocksDB store provider
    * (the only provider transformWithState supports). */
  class TtlCountsProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Long, (Long, Long)] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofMillis(ttlMs)))
    override def handleInputRows(user: Long, rows: Iterator[Long],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long)] = {
      var n = if (st.exists()) st.get() else 0L // expired ⇒ absent
      rows.foreach(_ => n += 1)
      st.update(n)
      Iterator.single((user, n))
    }
  }

  def userCountsTtlTws(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, ttlMs: Long): DataFrame = {
    import spark.implicits._
    events.select(col("user_id")).as[Long]
      .groupByKey(identity)
      .transformWithState(new TtlCountsProcessor(ttlMs),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF("user_id", "n_in_window")
  }

  /** Per-user running count via `flatMapGroupsWithState` seeded with
    * INITIAL STATE — the public-API state-MIGRATION path: a stopped
    * checkpoint's decoded state rows re-enter a NEW query (typically at
    * a different `spark.sql.shuffle.partitions`, which fixes the new
    * checkpoint's state partition count on its first batch) as
    * `initialState`, which is how a long-running stream rebalances
    * state on scale-out without private checkpoint surgery. `initial`
    * must have columns (user_id, n). */
  def userCountsFmgsInitial(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, initial: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    val init = initial
      .select(col("user_id").cast("long"), col("n").cast("long"))
      .as[(Long, Long)].groupByKey(_._1).mapValues(_._2)
    events.select(col("user_id")).as[Long].groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](OutputMode.Update,
        GroupStateTimeout.NoTimeout, init) {
        (user: Long, rows: Iterator[Long], st: GroupState[Long]) =>
          val n = st.getOption.getOrElse(0L) + rows.size
          st.update(n)
          Iterator.single((user, n))
      }.toDF("user_id", "n")
  }

  def userTotalsWithTimersTws(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, gapMs: Long): DataFrame = {
    import spark.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("value"), col("ts"))
      .as[(Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new TotalsWithTimersProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "n_events", "total_value", "closed")
  }

  /** Sessionization over the stream (gap-based windows). */
  def sessionize(events: DataFrame, gap: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
}
