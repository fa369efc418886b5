package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` Spark API — the standard technique Spark
  * extension libraries use to materialize a DataFrame from a custom logical
  * plan node (the public Dataset API has no entry point for injected plans):
  * `Dataset.ofRows`, the plan's explain text, and [[materialize]], the
  * loop-state primitive that builds a `LogicalRDD` with exact statistics. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Eager materialization with EXACT statistics: the one way `src/main`
    * pins a frame — BSP round state, a frame read more than once
    * downstream, a result computed before its inputs are released. A
    * single job copies `df`'s rows into
    * local-checkpointed blocks, truncating lineage, and returns in the
    * same job the exact row count and, when `sumCol >= 0`, the exact Σ of
    * that LONG column — the loops' (count, sum) convergence checksum,
    * which a separate aggregate action per round would cost a second job
    * for (the q372 SCC runs ~70 rounds).
    *
    * The result is a `LogicalRDD` whose statistics are the measured
    * `rows × getSizePerRow(output)` bytes and `rows` rows, so
    * `JoinSelection` makes every broadcast decision on materialized
    * state from the session's own `autoBroadcastJoinThreshold` — no
    * hints. `Dataset.localCheckpoint` instead copies the origin plan's
    * ESTIMATE, and under an iterated self-join (pointer jumping) that
    * estimate squares every round: by round ~15 the BigInt has megabits
    * and every stats visit burns CPU in BigInteger multiplies (observed:
    * per-round wall time tripling at a few hundred rows). Exact stats are
    * re-measured each round and cannot compound.
    *
    * Output partitioning stays UNKNOWN on purpose. r13 OPT negative
    * (measured, do not re-try): rebuilding with the executed plan's
    * outputPartitioning/outputOrdering preserved (what
    * `LogicalRDD.fromDataset` does) to skip the next round's Exchange.
    * A synthetic pointer-jump probe won −15%/round, but the real BSP
    * family A/B (12 queries, 2 cold legs/side, interleaved, sf0.1,
    * `BENCH_R13OPT_matpart_{before,after}_{a,b}.json`) measured total
    * wall +2.1% with the after legs in QUIETER windows, and two real
    * CPU regressions: q316 +41%, q88 +62%. Two causes: (a) the loops
    * re-key between rounds (stars CC: (src,dst)-distinct → groupBy(src)
    * → canon re-exprs), so the preserved placement almost never
    * satisfies the next requirement; (b) where it does fire it is
    * harmful — `withLoopShuffle` sizes loop state to 1-4 partitions, and
    * a preserved HashPartitioning carries that loop-sized numPartitions
    * OUT of the loop, so EnsureRequirements co-partitions the downstream
    * corpus-sized join side down to 1-4 tasks instead of re-exchanging
    * at session width (q316/q88's label join). Unknown partitioning on
    * materialized loop state is load-bearing, not an accident.
    *
    * The sum is exact: values span the full LONG range (xxhash
    * checksums), so per-partition long chunks spill into a BigInteger on
    * two's-complement overflow. */
  def materialize(df: DataFrame, sumCol: Int = -1): Mat = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val rdd = ds.queryExecution.toRdd.map(_.copy()).setName(MatName)
    rdd.localCheckpoint()
    val parts = rdd.mapPartitions { it =>
      var n = 0L
      var chunk = 0L
      var big = java.math.BigInteger.ZERO
      while (it.hasNext) {
        val row = it.next()
        n += 1
        if (sumCol >= 0 && !row.isNullAt(sumCol)) {
          val v = row.getLong(sumCol)
          val nc = chunk + v
          // same-sign operands, result sign flipped: the add wrapped mod
          // 2^64 (observed: a wrapped checksum never converged, loops ran
          // to maxIters) — bank the chunk and restart from v
          if (((chunk ^ nc) & (v ^ nc)) < 0) {
            big = big.add(java.math.BigInteger.valueOf(chunk)); chunk = v
          } else chunk = nc
        }
      }
      Iterator.single((n, big.add(java.math.BigInteger.valueOf(chunk))))
    }.collect()
    val n = parts.map(_._1).sum
    val s = parts.foldLeft(java.math.BigInteger.ZERO)((a, p) => a.add(p._2))
    val output = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(ds.schema)
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = org.apache.spark.sql.catalyst.plans.logical
        .statsEstimation.EstimationUtils.getSizePerRow(output) * n,
      rowCount = Some(BigInt(n)))
    val plan = org.apache.spark.sql.execution.LogicalRDD(output, rdd)(
      spark, originStats = Some(stats))
    Mat(classic.Dataset.ofRows(spark, plan), n, new java.math.BigDecimal(s))
  }

  /** Drop the blocks [[materialize]] pinned for `df`; a no-op on null and
    * on any other frame. `Dataset.unpersist` does not reach them, because the
    * RDD is never registered with the Dataset cache manager. Call it only
    * once every consumer of `df` — including the next round's
    * materialization — has executed: lineage is truncated, so a dropped
    * block cannot be recomputed. */
  def release(df: DataFrame): Unit =
    if (df != null)
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD
            if l.rdd.name == MatName => l.rdd.unpersist(blocking = false)
        case _ => ()
      }

  /** The name of every RDD [[materialize]] pins. */
  val MatName = "graft.materialize"

  /** A frame materialized by [[materialize]]: its exact row count and the
    * in-job Σ of the summed column (zero when none). */
  final case class Mat(df: DataFrame, rows: Long, sum: java.math.BigDecimal) {
    def release(): Unit = GraftSqlBridge.release(df)
  }

  /** The `EXPLAIN <mode>` text of `df`'s plan as a string (the Dataset
    * API only prints it) — used by [[graft.PlanDump]] to commit the
    * plan-shape evidence the optimization rounds are judged against. */
  def explainString(df: DataFrame, mode: String): String =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString(mode))
}
