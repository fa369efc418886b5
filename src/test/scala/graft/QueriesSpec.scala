package graft

/** Every registered query must execute at sf0.001 (oracle equivalence is
  * the driver's/oracle_check.py's job; this guards executability and the
  * queries/oracleSql key contract). */
class QueriesSpec extends SparkSpec {

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet -- qs
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("every queries entry is oracle-checked (no rows-only regressions)") {
    // Round-2 closed the last rows-only gaps (hash families replayed in
    // DuckDB); a new query shipping without an oracle is a coverage
    // regression, not a style choice — fail loudly.
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"queries without oracle: $unchecked")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes at sf0.001") {
      val before = pinned
      val df = fn(spark, sfDir)
      val n = df.count()
      assert(n >= 0)
      // A query leaves pinned only the materialized frames its result
      // reads (a subset: `ContextCleaner` can only remove extra ones);
      // release them so the suite does not pile up blocks.
      val read = leaves(df)
      val left = pinned -- before
      assert(left.subsetOf(read), s"pinned past the query: ${left -- read}")
      spark.sparkContext.getPersistentRDDs.filter(r => read(r._1))
        .values.foreach(_.unpersist(blocking = false))
      // A query leaves nothing running and no memory-sink view behind.
      assert(spark.streams.active.isEmpty)
      val memViews = spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.contains("_mem_")).map(_.name)
      assert(memViews.isEmpty, s"memory-sink views left: ${memViews.toSeq}")
    }
  }
}
