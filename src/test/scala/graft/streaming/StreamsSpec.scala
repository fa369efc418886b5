package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Streaming semantics driven through file sources (public API only):
  * watermarked per-day dedup (D1), global dedup (D2), checkpoint-resume
  * (D3/D4), fan-out (K6). */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType)))

  private def eventsDf(rows: Seq[(String, Long, String)]): DataFrame =
    rows.toDF("ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("sizedPartitions recounts an input rewritten at the same path") {
    val path = s"${tmp("sized")}/in.parquet"
    spark.range(10).write.parquet(path)
    assert(Streams.sizedPartitions(spark, path) == 1)
    spark.range(120000).repartition(2).write.mode("overwrite").parquet(path)
    // ~50k rows per state partition: 120k rows → 3 (under the cap)
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt >= 3)
    assert(Streams.sizedPartitions(spark, path) == 3)
  }

  test("D1 streaming: dedup within day, survive across days, append on watermark close") {
    val srcDir = tmp("src"); val outDir = tmp("out"); val ckDir = tmp("ck")
    eventsDf(Seq(
      ("2024-01-01 10:00:00", 1L, "click"),
      ("2024-01-01 14:00:00", 1L, "click"), // same-day dup
      ("2024-01-02 09:00:00", 1L, "click"), // cross-day recurrence
      ("2024-01-01 11:00:00", 2L, "view")
    )).coalesce(1).write.mode("append").parquet(srcDir)

    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = Streams.dailyDedupAgg(stream)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir).start()
    q.processAllAvailable()
    // Flush: an event far past the watermark closes days 1-2.
    eventsDf(Seq(("2024-01-10 00:00:00", 9L, "flush")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()

    val out = spark.read.parquet(outDir)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n_dedup"))
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(
      ("2024-01-01", "click", 1L), // dup collapsed
      ("2024-01-01", "view", 1L),
      ("2024-01-02", "click", 1L)  // recurrence survived
    ))
  }

  test("D2 streaming: global dedup across micro-batches") {
    val srcDir = tmp("src"); val outDir = tmp("out"); val ckDir = tmp("ck")
    eventsDf(Seq(("2024-01-01 10:00:00", 1L, "click")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = Streams.globalDedup(stream, Seq("user_id", "event_type"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir).start()
    q.processAllAvailable()
    // Second batch: one dup (dropped), one new key.
    eventsDf(Seq(
      ("2024-01-05 10:00:00", 1L, "click"),
      ("2024-01-05 11:00:00", 2L, "view")
    )).coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(outDir).count() == 2)
  }

  test("D3/D4 checkpoint-resume: restart reprocesses nothing") {
    val srcDir = tmp("src"); val outDir = tmp("out"); val ckDir = tmp("ck")
    def start() = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      stream.writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir).start()
    }
    eventsDf(Seq(("2024-01-01 10:00:00", 1L, "click")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    eventsDf(Seq(("2024-01-02 10:00:00", 2L, "view")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    // Exactly-once to the file sink: 2 rows, not 3.
    assert(spark.read.parquet(outDir).count() == 2)
  }

  test("K3: JSON file sink lands micro-batches exactly-once and reads back") {
    val srcDir = tmp("src"); val outDir = tmp("out"); val ckDir = tmp("ck")
    def start() = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      stream.writeStream.outputMode("append").format("json")
        .option("path", outDir).option("checkpointLocation", ckDir).start()
    }
    eventsDf(Seq(("2024-01-01 10:00:00", 1L, "click")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    eventsDf(Seq(("2024-01-02 10:00:00", 2L, "view")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val back = spark.read.schema(schema).json(outDir)
    assert(back.count() == 2)
    assert(back.select("event_type").as[String].collect().toSet ==
      Set("click", "view"))
  }

  test("K6 fan-out: both sinks receive every micro-batch") {
    val srcDir = tmp("src"); val a = tmp("a"); val b = tmp("b"); val ckDir = tmp("ck")
    eventsDf(Seq(
      ("2024-01-01 10:00:00", 1L, "click"),
      ("2024-01-01 11:00:00", 2L, "view")
    )).coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = stream.writeStream
      .foreachBatch(Streams.fanout(a, b) _)
      .option("checkpointLocation", ckDir).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(a).count() == 2)
    assert(spark.read.parquet(b).count() == 2)
  }

  test("D5: maxFilesPerTrigger paces ingestion into multiple micro-batches") {
    val srcDir = tmp("src"); val outDir = tmp("out"); val ckDir = tmp("ck")
    eventsDf(Seq(("2024-01-01 10:00:00", 1L, "a")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    eventsDf(Seq(("2024-01-02 10:00:00", 2L, "b")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = stream.writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(outDir).count() >= 2)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "rate limit should split input across micro-batches")
  }

  test("flatMapGroupsWithState: running per-user totals across batches") {
    val srcDir = tmp("src"); val outDir = tmp("out"); val ckDir = tmp("ck")
    def push(rows: Seq[(String, Long, String, Double)]): Unit =
      rows.toDF("ts", "user_id", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    val schemaV = StructType(schema.fields :+ StructField("value", DoubleType))
    push(Seq(("2024-01-01 10:00:00", 1L, "a", 2.0),
             ("2024-01-01 11:00:00", 1L, "a", 3.0)))
    val stream = spark.readStream.schema(schemaV).parquet(srcDir)
    val q = Streams.runningUserTotals(spark, stream)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir).start()
    q.processAllAvailable()
    push(Seq(("2024-01-01 12:00:00", 1L, "a", 5.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(outDir)
      .as[(Long, Long, Double)].collect().toSet
    // batch 1 emits (1,2,5.0); batch 2 resumes state and emits (1,3,10.0)
    assert(rows == Set((1L, 2L, 5.0), (1L, 3L, 10.0)))
  }

  test("transformWithState: running totals via StatefulProcessor on RocksDB") {
    val srcDir = tmp("src"); val ckDir = tmp("ck")
    def push(rows: Seq[(String, Long, String, Double)]): Unit =
      rows.toDF("ts", "user_id", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    val schemaV = StructType(schema.fields :+ StructField("value", DoubleType))
    push(Seq(("2024-01-01 10:00:00", 1L, "a", 2.0),
             ("2024-01-01 11:00:00", 1L, "a", 3.0),
             ("2024-01-01 11:30:00", 2L, "a", 7.0)))
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schemaV).parquet(srcDir)
      val sink = s"tws_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = Streams.runningUserTotalsTws(spark, stream)
        .writeStream.outputMode("update").format("memory")
        .queryName(sink).option("checkpointLocation", ckDir).start()
      q.processAllAvailable()
      push(Seq(("2024-01-01 12:00:00", 1L, "a", 5.0)))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table(sink)
        .as[(Long, Long, Double)].collect().toSet
      // batch 1: user 1 -> (2, 5.0), user 2 -> (1, 7.0);
      // batch 2 resumes RocksDB state: user 1 -> (3, 10.0).
      assert(rows == Set((1L, 2L, 5.0), (2L, 1L, 7.0), (1L, 3L, 10.0)))
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState: MapState per-type counts resume across batches") {
    val srcDir = tmp("src"); val ckDir = tmp("ck")
    def push(rows: Seq[(String, Long, String)]): Unit =
      rows.toDF("ts", "user_id", "event_type")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    push(Seq(("2024-01-01 10:00:00", 1L, "a"),
             ("2024-01-01 10:01:00", 1L, "b"),
             ("2024-01-01 10:02:00", 1L, "a"),
             ("2024-01-01 10:03:00", 2L, "b")))
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val sink = s"twsmap_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = Streams.userTypeCountsTws(spark, stream)
        .writeStream.outputMode("update").format("memory")
        .queryName(sink).option("checkpointLocation", ckDir).start()
      q.processAllAvailable()
      push(Seq(("2024-01-01 11:00:00", 1L, "a")))
      q.processAllAvailable()
      q.stop()
      val all = spark.table(sink).as[(Long, String, Long)].collect().toSet
      // batch 2 resumed the RocksDB map entry: user 1's 'a' count reaches 3
      // without re-reading batch 1, and the untouched 'b' entry re-emits 1.
      assert(all.contains((1L, "a", 3L)))
      val finalCounts = spark.table(sink)
        .groupBy("user_id", "event_type").agg(max("n").as("n"))
        .as[(Long, String, Long)].collect().toSet
      assert(finalCounts == Set((1L, "a", 3L), (1L, "b", 1L), (2L, "b", 1L)))
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("stream-stream join: purchases match prior-hour views, state bounded") {
    val srcDir = tmp("src"); val outDir = tmp("out"); val ckDir = tmp("ck")
    def push(rows: Seq[(String, Long, String, Long)]): Unit =
      rows.map { case (ts, u, t, id) => (ts, u, t, id) }
        .toDF("ts", "user_id", "event_type", "event_id")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    val sch = StructType(Seq(
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("event_id", LongType)))
    push(Seq(
      ("2024-01-01 10:00:00", 1L, "view", 100L),     // within the hour
      ("2024-01-01 08:00:00", 1L, "view", 101L),     // too old -> no match
      ("2024-01-01 10:30:00", 1L, "purchase", 200L),
      ("2024-01-01 10:30:00", 2L, "purchase", 201L)  // no views -> dropped
    ))
    val stream = spark.readStream.schema(sch).parquet(srcDir)
    val q = Streams.purchaseViewJoin(stream)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir).start()
    q.processAllAvailable()
    push(Seq(("2024-01-02 00:00:00", 9L, "view", 999L))) // watermark flush
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
      .select("p_id", "v_id").as[(Long, Long)].collect().toSet
    assert(out == Set((200L, 100L)))
  }

  test("flatMapGroupsWithState event-time timeout evicts idle user state") {
    val srcDir = tmp("src"); val outDir = tmp("out"); val ckDir = tmp("ck")
    def push(rows: Seq[(String, Long, String, Double)]): Unit =
      rows.toDF("ts", "user_id", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    val sch = StructType(Seq(
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    push(Seq(("2024-01-01 10:00:00", 1L, "a", 2.0)))
    val stream = spark.readStream.schema(sch).parquet(srcDir)
    val q = Streams.userTotalsWithTimeout(spark, stream, gapMs = 3600 * 1000L)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir).start()
    q.processAllAvailable()
    // Advance the watermark past user 1's 1h idle bound...
    push(Seq(("2024-01-01 13:00:00", 9L, "a", 1.0)))
    q.processAllAvailable()
    // ...and one more batch so the timed-out group fires and user 1 closes.
    push(Seq(("2024-01-01 14:00:00", 9L, "a", 1.0),
             ("2024-01-01 14:00:00", 1L, "a", 7.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(outDir)
      .as[(Long, Long, Double, Boolean)].collect().toSet
    // user 1: open row, then the eviction row, then a FRESH count (n=1).
    assert(rows.contains((1L, 1L, 2.0, false)), rows)
    assert(rows.contains((1L, 1L, 2.0, true)), rows)
    assert(rows.contains((1L, 1L, 7.0, false)), rows)
    assert(!rows.contains((1L, 2L, 9.0, false)), s"state not evicted: $rows")
  }

  test("transformWithState ListState: bounded last-k history per user") {
    val srcDir = tmp("src"); val ckDir = tmp("ck")
    def push(rows: Seq[(String, Long, String, Double)]): Unit =
      rows.toDF("ts", "user_id", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    val schemaV = StructType(schema.fields :+ StructField("value", DoubleType))
    push(Seq(("2024-01-01 10:00:00", 1L, "a", 1.0),
             ("2024-01-01 10:01:00", 1L, "a", 2.0)))
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // maxFilesPerTrigger=1 so the two pushes become ordered micro-batches.
      val stream = spark.readStream.schema(schemaV)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val sink = s"lastk_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = Streams.userLastKTws(spark, stream, k = 3)
        .writeStream.outputMode("update").format("memory")
        .queryName(sink).option("checkpointLocation", ckDir).start()
      q.processAllAvailable()
      push(Seq(("2024-01-01 10:02:00", 1L, "a", 3.0),
               ("2024-01-01 10:03:00", 1L, "a", 4.0)))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table(sink)
        .as[(Long, Seq[Double])].collect().toSet
      // batch 1: history [1,2]; batch 2 appends [3,4] -> trimmed to last 3.
      assert(rows.contains((1L, Seq(1.0, 2.0))), rows)
      assert(rows.contains((1L, Seq(2.0, 3.0, 4.0))), rows)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState timers: idle users close and restart fresh") {
    val srcDir = tmp("src"); val ckDir = tmp("ck")
    def push(rows: Seq[(String, Long, String, Double)]): Unit =
      rows.toDF("ts", "user_id", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    val schemaV = StructType(schema.fields :+ StructField("value", DoubleType))
    push(Seq(("2024-01-01 10:00:00", 1L, "a", 2.0)))
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schemaV).parquet(srcDir)
      val sink = s"twst_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = Streams.userTotalsWithTimersTws(spark, stream, gapMs = 3600 * 1000L)
        .writeStream.outputMode("update").format("memory")
        .queryName(sink).option("checkpointLocation", ckDir).start()
      q.processAllAvailable()
      // Advance the watermark past user 1's 1h idle bound...
      push(Seq(("2024-01-01 13:00:00", 9L, "a", 1.0)))
      q.processAllAvailable()
      // ...and a later batch: user 1's timer has fired (closing row), so
      // their next event starts a FRESH count.
      push(Seq(("2024-01-01 14:00:00", 1L, "a", 7.0)))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table(sink)
        .as[(Long, Long, Double, Boolean)].collect().toSet
      assert(rows.contains((1L, 1L, 2.0, false)), rows)
      assert(rows.contains((1L, 1L, 2.0, true)), rows)   // timer-close row
      assert(rows.contains((1L, 1L, 7.0, false)), rows)  // fresh count
      assert(!rows.contains((1L, 2L, 9.0, false)), s"state not evicted: $rows")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("stream-stream LEFT OUTER join: unmatched purchases null-extend on close") {
    val srcDir = tmp("src"); val outDir = tmp("out"); val ckDir = tmp("ck")
    def push(rows: Seq[(String, Long, String, Long)]): Unit =
      rows.toDF("ts", "user_id", "event_type", "event_id")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    val sch = StructType(Seq(
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("event_id", LongType)))
    push(Seq(
      ("2024-01-01 10:00:00", 1L, "view", 100L),
      ("2024-01-01 10:30:00", 1L, "purchase", 200L),
      ("2024-01-01 10:30:00", 2L, "purchase", 201L))) // no views for user 2
    val stream = spark.readStream.schema(sch).parquet(srcDir)
    val q = Streams.purchaseViewLeftJoin(stream)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir).start()
    q.processAllAvailable()
    // The global watermark is the MIN of both sides' watermarks, so BOTH
    // streams must advance before purchase 201's match window closes and
    // its null-extended row may emit (plus one more batch to trigger the
    // state-store eviction pass).
    push(Seq(("2024-01-02 00:00:00", 9L, "view", 999L),
             ("2024-01-02 00:00:00", 9L, "purchase", 299L)))
    q.processAllAvailable()
    push(Seq(("2024-01-03 00:00:00", 9L, "view", 998L),
             ("2024-01-03 00:00:00", 9L, "purchase", 298L)))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
      .select("p_id", "v_id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    // Matched rows (incl. the watermark-driver purchases, which match the
    // same-instant views) emit immediately; ONLY the unmatched purchase
    // waits for its window to close before null-extending.
    assert(out == Set((200L, Some(100L)), (201L, None),
      (299L, Some(999L)), (298L, Some(998L))), s"got $out")
  }

  test("stream-stream FULL OUTER join: both sides null-extend on close") {
    val srcDir = tmp("src"); val outDir = tmp("out"); val ckDir = tmp("ck")
    def push(rows: Seq[(String, Long, String, Long)]): Unit =
      rows.toDF("ts", "user_id", "event_type", "event_id")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    val sch = StructType(Seq(
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("event_id", LongType)))
    push(Seq(
      ("2024-01-01 10:00:00", 1L, "view", 100L),
      ("2024-01-01 10:30:00", 1L, "purchase", 200L),
      ("2024-01-01 10:30:00", 2L, "purchase", 201L),  // no views for user 2
      ("2024-01-01 10:30:00", 3L, "view", 301L)))     // no purchase for user 3
    val stream = spark.readStream.schema(sch).parquet(srcDir)
    val q = Streams.purchaseViewFullJoin(stream)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir).start()
    q.processAllAvailable()
    // advance BOTH sides' watermarks (global wm = min), twice, so both
    // the unmatched purchase and the unmatched view close + evict
    push(Seq(("2024-01-02 00:00:00", 9L, "view", 999L),
             ("2024-01-02 00:00:00", 9L, "purchase", 299L)))
    q.processAllAvailable()
    push(Seq(("2024-01-03 00:00:00", 9L, "view", 998L),
             ("2024-01-03 00:00:00", 9L, "purchase", 298L)))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
      .select("user_id", "p_id", "v_id")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    // user 2's purchase null-extends on the view side; user 3's view
    // null-extends on the purchase side — BOTH surface, unlike q183's
    // left-outer where an unmatched view is silently dropped.
    assert(out == Set(
      (1L, Some(200L), Some(100L)),
      (2L, Some(201L), None),
      (3L, None, Some(301L)),
      (9L, Some(299L), Some(999L)), (9L, Some(298L), Some(998L))),
      s"got $out")
  }

  test("streaming sessionize emits closed sessions") {
    val srcDir = tmp("src"); val outDir = tmp("out"); val ckDir = tmp("ck")
    eventsDf(Seq(
      ("2024-01-01 10:00:00", 1L, "a"),
      ("2024-01-01 10:30:00", 1L, "b"), // same session (gap < 1h)
      ("2024-01-01 13:00:00", 1L, "c")  // new session
    )).coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = Streams.sessionize(stream)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir).start()
    q.processAllAvailable()
    eventsDf(Seq(("2024-01-10 00:00:00", 9L, "flush")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
      .filter(col("user_id") === 1)
      .select("n_events").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("state migration via FMGS initialState: counts add for live keys, " +
      "initial-only keys survive, store rebalances to the new width") {
    val srcDir = tmp("src"); val ckDir = tmp("ck")
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    // old-checkpoint decoded state: user 1 has 5, user 7 has 9 (user 7
    // never appears in the new input — migration alone must carry it)
    val initial = Seq((1L, 5L), (7L, 9L)).toDF("user_id", "n")
    Seq(1L, 1L, 2L).toDF("user_id").coalesce(1)
      .write.mode("append").parquet(srcDir)
    try {
      spark.conf.set(key, "4")
      val q = Streams.userCountsFmgsInitial(spark,
          spark.readStream.schema("user_id LONG").parquet(srcDir), initial)
        .writeStream.format("memory").queryName("mig_spec")
        .outputMode("update").option("checkpointLocation", ckDir).start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set(key, prior)
    // the store's physical width is the partition DIRECTORY count
    // (present even for empty partitions; only 3 keys live here)
    val width = new java.io.File(s"$ckDir/state/0")
      .listFiles().count(f => f.isDirectory && f.getName.forall(_.isDigit))
    assert(width == 4, s"state width $width")
    val st = spark.read.format("statestore").load(ckDir)
    val state = st.select(col("key.value").as("u"),
        col("value.groupState.value").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(state == Map(1L -> 7L, 2L -> 1L, 7L -> 9L))
  }

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** Two files, one per micro-batch under maxFilesPerTrigger=1. */
  private def drainSource(): (DataFrame, DataFrame) = {
    val srcDir = tmp("src")
    eventsDf(Seq(
      ("2024-01-01 10:00:00", 1L, "click"),
      ("2024-01-01 11:00:00", 1L, "click"),
      ("2024-01-01 12:00:00", 2L, "view")
    )).coalesce(1).write.mode("append").parquet(srcDir)
    eventsDf(Seq(
      ("2024-01-02 10:00:00", 1L, "click"),
      ("2024-01-02 11:00:00", 3L, "view"),
      ("2024-01-02 12:00:00", 2L, "buy")
    )).coalesce(1).write.mode("append").parquet(srcDir)
    (spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(srcDir), spark.read.schema(schema).parquet(srcDir))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("drain: complete, append and update modes equal the batch result") {
    val (stream, batch) = drainSource()
    val complete = Streams.drain(
      stream.groupBy("event_type").count(), "complete", 2)
    assert(rows(complete) == rows(batch.groupBy("event_type").count()))
    val append = Streams.drain(
      stream.dropDuplicates("user_id", "event_type"), "append", 2)
      .select("user_id", "event_type")
    assert(rows(append) ==
      rows(batch.select("user_id", "event_type").distinct()))
    // update mode re-emits a key per batch that touches it; the last
    // (largest) running count is the final one
    val update = Streams.drain(
      stream.groupBy("user_id").count(), "update", 2, Some(tmp("ck")))
      .groupBy("user_id").agg(max("count").as("count"))
    assert(rows(update) == rows(batch.groupBy("user_id").count()))
  }

  test("drain: the result is stable across actions, nothing stays " +
      "registered, shuffle partitions are restored") {
    val (stream, _) = drainSource()
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    val before = tempViews
    val out = Streams.drain(stream.groupBy("user_id").count(), "complete", 3)
    assert(spark.conf.get(key) == prior)
    assert(tempViews == before)
    assert(spark.streams.active.isEmpty)
    val first = rows(out)
    assert(first.nonEmpty)
    assert(rows(out) == first)
    assert(out.count() == first.size)
  }

  test("drain: a failing stream rethrows and leaves no query or view") {
    val (stream, _) = drainSource()
    val boom = udf((u: Long) =>
      if (u == 3L) throw new IllegalStateException("drain-boom") else u)
    val before = tempViews
    val e = intercept[Exception] {
      Streams.drain(stream.select(boom(col("user_id")).as("u")), "append", 2)
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t => String.valueOf(t.getMessage)
      .contains("drain-boom")), e)
    assert(spark.streams.active.isEmpty)
    assert(tempViews == before)
  }

  test("drainCheckpoint: the state store holds the batch result, and no " +
      "sink rows, query or view remain") {
    val (stream, batch) = drainSource()
    val ck = tmp("ck")
    val before = tempViews
    Streams.drainCheckpoint(stream.groupBy("user_id").count(), "update", 2, ck)
    assert(spark.streams.active.isEmpty)
    assert(tempViews == before)
    val state = spark.read.format("statestore").load(ck)
      .select(col("key.user_id").as("user_id"), col("value.count").as("count"))
    assert(rows(state) == rows(batch.groupBy("user_id").count()))
  }
}
