package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver testdata tables (TESTDATA.md).
  *
  * All queries read through here so scans stay uniform: vectorized Parquet
  * reads, UTC session timezone (oracle parity — the DuckDB oracle treats
  * timestamps as naive/UTC). Column pruning + predicate pushdown reach the
  * scan because every query projects/filters declaratively on the result.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation cache — the catalog role a metastore plays on a
    * real cluster. A bare `spark.read.parquet(path)` re-lists the path
    * and re-reads footers for schema inference on EVERY call; a
    * metastore-backed table resolves from cached metadata. Queries here
    * read 1-5 tables each, so the per-resolution cost is a fixed tax on
    * every invocation that a catalog would not charge. The cached
    * object is just the analyzed (immutable) logical plan and the raw
    * file schema the stream view reads — no data is pinned.
    *
    * Keyed by SESSION IDENTITY (plans are session-bound; SparkSession
    * does not override equals, so tuple equality IS reference equality
    * — two live sessions resolving the same file coexist instead of
    * overwriting each other's entry) plus the input signature
    * (length, mtime, [[FileSig.contentTag]]). For single-file inputs
    * (the only shape the driver generates) the content tag closes the
    * hole a (length, mtime)-only signature leaves: a regenerated input
    * with identical byte length inside the filesystem's mtime
    * granularity — within one long-lived JVM (specs, interactive
    * sessions) that would silently serve a stale analyzed plan into
    * oracle-checked outputs. Directory inputs get FileSig's per-file
    * (name, length, mtime) tag — see its scaladoc for the exact scope.
    * Same signature discipline as the staged pair-graph cache in
    * [[graft.llm.LlmQueries]].
    *
    * Retention tradeoff of session-in-key: a dead session's entries
    * linger until a miss crosses the bound (the sweep then clears all
    * other-session entries) — at most `cacheBound` analyzed plans
    * JVM-wide, a bounded cost accepted for not thrashing live
    * sessions' entries. Corollary: TWO live sessions that each cross
    * the bound concurrently see each other as "other sessions" and
    * mutually evict — correctness is unaffected (eviction is only a
    * cache miss and re-resolution), and no driver surface runs two
    * sessions hot past the bound, so this degenerate mode is accepted
    * rather than tracked with per-session bounds. */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, Long, Long, String), Resolved]()

  /** A cached resolution: the file's raw schema (what [[stream]] needs)
    * and the `ts`-normalized relation (what [[apply]] returns). */
  private case class Resolved(raw: StructType, df: DataFrame)

  /** Eviction bound; package-visible so the spec can exercise the
    * eviction path without resolving hundreds of relations. Volatile:
    * the spec hook writes it from the test thread while query threads
    * read it — the JVM-default stale read would make the spec's
    * lowered bound invisibly unpublished. */
  @volatile private[graft] var cacheBound = 256

  /** Spec hook: the eviction contract needs a deterministic starting
    * size, and suites share this JVM-wide map. */
  private[graft] def cacheClear(): Unit = relCache.clear()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    resolve(spark, dir, name).df

  private def resolve(spark: SparkSession, dir: String, name: String): Resolved = {
    readConf(spark)
    val path = s"$dir/$name.parquet"
    val f = new java.io.File(path)
    val key = (spark, path, f.length(), f.lastModified(), FileSig.contentTag(f))
    val hit = relCache.get(key)
    if (hit != null) hit
    else {
      // Bound: specs spin up fresh sessions / regenerate inputs; the
      // map must not accumulate dead-session plans without limit.
      // Evict OTHER sessions' entries first (dead spec sessions are the
      // growth source) so the caller's hot set survives; full clear
      // only if the caller alone exceeds the bound.
      if (relCache.size > cacheBound) {
        val it = relCache.keySet().iterator()
        while (it.hasNext) if (!(it.next()._1 eq spark)) it.remove()
        if (relCache.size > cacheBound) relCache.clear()
      }
      // Read as the files lie, with no repartition: a single-row-group
      // file is one scan task. Measured negative: a round-robin
      // repartition of such scans here doubled task CPU over the
      // batch-analytics workload (local[4], sf0.1), and only the column
      // profile (q92) got faster; its cost is fixed in Profile.profile.
      val raw = spark.read.parquet(path)
      val r = Resolved(raw.schema, normalizeTs(raw))
      relCache.put(key, r)
      r
    }
  }

  /** The table as a file STREAM, for queries that drain it through a
    * real micro-batch execution. The file-stream source needs a
    * directory-rooted glob, not a bare file path: `basePath` anchors at
    * the table dir, and the file name with its last letter as a
    * one-character class globs the one file. The schema is the file's
    * raw one (the stream source cannot infer it), served from the same
    * cache entry as [[apply]], and `ts` is normalized exactly as there, so
    * the batch and stream views of the same file agree. */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = resolve(spark, dir, name).raw
    normalizeTs(spark.readStream.schema(raw)
      .option("basePath", dir).parquet(s"$dir/$name.parque[t]"))
  }

  /** Session conf every table read depends on; set per read so query
    * results do not depend on who built the session. */
  private def readConf(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark rejects natively;
    // read nanos as long and truncate to micros (identical to DuckDB's
    // ns->us handling). Integer `div` — a double division would lose
    // precision at 1.7e18 ns epochs.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  /** Normalizes the `ts` column to session-timezone TIMESTAMP regardless
    * of how the parquet writer declared it: TIMESTAMP(NANOS) arrives as
    * a nanos LONG under `nanosAsLong` (truncate to micros — the same
    * ns->us handling DuckDB applies), TIMESTAMP(MICROS) without
    * isAdjustedToUTC arrives as TIMESTAMP_NTZ (reinterpret as UTC — the
    * session timezone, so the instant is unchanged and `unix_micros` /
    * watermarks / windows resolve). [[stream]] applies it too. */
  private def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(f) if f.dataType == TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
}
