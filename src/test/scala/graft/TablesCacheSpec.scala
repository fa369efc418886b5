package graft

import java.nio.file.Files

/** [[Tables]] is the engine's catalog: repeated resolutions of the same
  * input file must serve the cached analyzed relation (a bare
  * `spark.read.parquet` re-lists the path and re-reads footers on every
  * call — a fixed per-invocation tax a metastore-backed catalog does not
  * charge), while a REGENERATED input must resolve fresh (new schema,
  * new listing) rather than serve the previous generation's plan. */
class TablesCacheSpec extends SparkSpec {

  test("repeated resolutions of an unchanged input serve the cached plan") {
    val a = Tables(spark, sfDir, "nation")
    val b = Tables(spark, sfDir, "nation")
    assert(a eq b, "same (session, path, signature) must be one relation")
    assert(b.count() == 25)
  }

  test("a regenerated input resolves fresh, not from the cache") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables_cache").toFile
    def writeInput(rows: Seq[Long]): Unit = {
      val tmp = new java.io.File(dir, ".tmp_in")
      rows.toDF("v").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, "t.parquet")
      Files.deleteIfExists(dst.toPath)
      Files.move(part.toPath, dst.toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
    writeInput(Seq(1L, 2L, 3L))
    assert(Tables(spark, dir.toString, "t").count() == 3)
    writeInput(Seq(10L, 20L, 30L, 40L))
    val in = new java.io.File(dir, "t.parquet")
    in.setLastModified(in.lastModified() + 2000) // coarse-mtime-proof
    assert(Tables(spark, dir.toString, "t").count() == 4,
      "signature must bust the cache when the input regenerates")
  }

  test("content tag busts the cache at identical length AND mtime") {
    // Same-length regeneration inside the filesystem's mtime granularity
    // is invisible to a (length, mtime)-only key — exactly the hole the
    // staged() cache closed in round 11 and this cache shares via
    // FileSig. Two 3-row single-long parquet files whose values have the
    // same encoded width land at identical byte length deterministically.
    import spark.implicits._
    val dir = Files.createTempDirectory("tables_cache_tag").toFile
    def writeInput(rows: Seq[Long]): Unit = {
      val tmp = new java.io.File(dir, ".tmp_in")
      rows.toDF("v").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, "t.parquet")
      Files.deleteIfExists(dst.toPath)
      Files.move(part.toPath, dst.toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
    writeInput(Seq(1L, 2L, 3L))
    val in = new java.io.File(dir, "t.parquet")
    val (len1, mtime1) = (in.length(), in.lastModified())
    assert(Tables(spark, dir.toString, "t")
      .agg(org.apache.spark.sql.functions.sum("v")).collect()(0).getLong(0) == 6L)
    writeInput(Seq(7L, 8L, 9L))
    in.setLastModified(mtime1)
    assert(in.length() == len1 && in.lastModified() == mtime1,
      "precondition: the regeneration must be (length, mtime)-invisible")
    assert(Tables(spark, dir.toString, "t")
      .agg(org.apache.spark.sql.functions.sum("v")).collect()(0).getLong(0) == 24L,
      "the content tag must bust the cache when length and mtime cannot")
  }

  test("eviction clears other sessions' entries, not the caller's") {
    // Dead spec sessions are the growth source; crossing the bound must
    // not throw away the live caller's hot set (a full clear() would).
    val oldBound = Tables.cacheBound
    Tables.cacheBound = 4
    Tables.cacheClear() // deterministic start; other suites re-resolve
    try {
      val mine = Tables(spark, sfDir, "nation")
      // Three junk child sessions fill the map up to the bound (the
      // sweep runs on the first miss PAST it).
      (1 to 3).foreach { _ =>
        Tables(spark.newSession(), sfDir, "nation")
      }
      // Two more misses from OUR session: the second crosses the bound
      // and triggers the sweep, which must clear the junk sessions'
      // entries while our existing ones survive.
      Tables(spark, sfDir, "region")
      Tables(spark, sfDir, "supplier")
      val again = Tables(spark, sfDir, "nation")
      assert(again eq mine,
        "the caller's cached relations must survive the eviction sweep")
    } finally Tables.cacheBound = oldBound
  }

  test("the stream view takes its raw schema from the batch view's cache entry") {
    // Parquet schema inference runs a job; a cached schema runs none.
    // Listener events arrive in order, so once a marker job's end is seen,
    // every job started before it has been counted.
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val marker = "tables-cache-marker"
    val l = new SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      @volatile var markerJob = -1
      @volatile var markerDone = new CountDownLatch(1)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == marker) markerJob = e.jobId
        else jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerDone.countDown()
    }
    def jobsIn[T](f: => T): (T, Int) = {
      l.jobs.set(0)
      l.markerDone = new CountDownLatch(1)
      val out = f
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      assert(l.markerDone.await(30, TimeUnit.SECONDS))
      (out, l.jobs.get())
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val (batch, _) = jobsIn(Tables(spark, sfDir, "events"))
      val (stream, n) = jobsIn(Tables.stream(spark, sfDir, "events"))
      assert(n == 0, "the stream view re-read the footer")
      assert(stream.isStreaming && stream.schema == batch.schema)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
