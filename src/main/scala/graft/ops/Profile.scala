package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** One-pass column profiler: per column — null count, exact distinct
  * count, min and max rendered to a normalized string — emitted as one
  * row per column. The data-quality sweep run before committing a new
  * source into a corpus.
  *
  * Scale shape: ONE scan into a keyed aggregate on fixed-width buffers,
  * then one small global aggregate and a metadata-sized explode to long
  * form.
  * 1. A `groupingSets(Seq(c1), …, Seq(cn))` count: Catalyst plans it as
  *    Expand → HashAggregate, one (value, count) group per distinct
  *    value of each column (the null value included), with LONG count
  *    buffers only. The rows expand n-way before the map-side combine,
  *    so the shuffle carries distinct values, not rows.
  * 2. One global (keyless) aggregate over that table of distinct values:
  *    n_nulls is the count of the column's null group, n_distinct counts
  *    the column's non-null values in its own set, and min/max are taken
  *    over those values.
  * Putting countDistinct and string min/max in ONE aggregate instead
  * expands every row n-way and, because a string buffer is not
  * UnsafeRow-mutable, sorts the expanded rows into a keyed
  * SortAggregate in one task.
  *
  * min/max are computed on the NATIVE column type (so ordering is the
  * type's, not lexicographic) and only then rendered through `fmt` —
  * profile("9.0") < profile("10.0") stays numerically ordered. Grouping
  * normalizes a float key (-0.0 groups as 0.0), so a float/double column
  * also keeps the raw per-group min/max: the rendered extremes are the
  * column's own values, as a plain min/max would see them.
  */
object Profile {
  /** Column to profile; `fmt` renders the typed min/max aggregate to a
    * string (must return a string-typed column). */
  final case class Spec(name: String, fmt: Column => Column = _.cast("string"))

  def profile(df: DataFrame, specs: Seq[Spec]): DataFrame = {
    require(specs.nonEmpty, "profile of zero columns")
    val cols = specs.map(sp => col(sp.name))
    val isFloat = specs.map(sp => df.select(col(sp.name)).schema.head.dataType match {
      case FloatType | DoubleType => true
      case _ => false
    })
    val n = specs.length
    // grouping_id bit (n-1-i) is 0 exactly in column i's own set.
    def inSet(i: Int): Column = col("__gid") === lit((1L << n) - 1 - (1L << (n - 1 - i)))
    val rawExtremes = specs.indices.filter(isFloat).flatMap { i =>
      Seq(min(cols(i)).as(s"__rmn$i"), max(cols(i)).as(s"__rmx$i"))
    }
    val counts = df.groupingSets(cols.map(Seq(_)), cols: _*)
      .agg(count(lit(1)).as("__n"), (grouping_id().as("__gid") +: rawExtremes): _*)
    val aggs = specs.zipWithIndex.flatMap { case (sp, i) =>
      val own = when(inSet(i), cols(i))
      val (mn, mx) =
        if (isFloat(i)) (when(inSet(i), col(s"__rmn$i")), when(inSet(i), col(s"__rmx$i")))
        else (own, own)
      Seq(
        coalesce(sum(when(inSet(i) && cols(i).isNull, col("__n"))), lit(0L))
          .as(s"__nn_${sp.name}"),
        count(own).as(s"__nd_${sp.name}"),
        sp.fmt(min(mn)).as(s"__mn_${sp.name}"),
        sp.fmt(max(mx)).as(s"__mx_${sp.name}"))
    }
    val one = counts.agg(aggs.head, aggs.tail: _*)
    val rows = specs.map { sp =>
      struct(lit(sp.name).as("col_name"),
        col(s"__nn_${sp.name}").as("n_nulls"),
        col(s"__nd_${sp.name}").as("n_distinct"),
        col(s"__mn_${sp.name}").as("min_str"),
        col(s"__mx_${sp.name}").as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** Equi-width histogram of a numeric column: data-derived [min, max]
    * bounds, `nBins` equal bins, the max value folded into the last bin.
    * bin = min(nBins−1, floor((x − mn) · nBins / (mx − mn))) — fixed-order
    * IEEE double arithmetic, so bin assignment is bit-identical across
    * engines. Two aggregate passes (bounds, then counts) with the 1-row
    * bounds broadcast into the binning projection — nothing row-sized
    * crosses the driver. Only non-empty bins are emitted. */
  def histogram(df: DataFrame, c: Column, nBins: Int): DataFrame = {
    require(nBins > 0)
    val bounds = df.agg(min(c.cast("double")).as("__mn"),
      max(c.cast("double")).as("__mx"))
    df.select(c.cast("double").as("__v"))
      .crossJoin(broadcast(bounds))
      .select(when(col("__mx") === col("__mn"), lit(0))
        .otherwise(least(lit(nBins - 1),
          floor((col("__v") - col("__mn")) * lit(nBins.toDouble) /
            (col("__mx") - col("__mn")))))
        .cast("int").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
  }

  /** Equi-DEPTH histogram (quantile binning): bucket boundaries are the
    * exact interpolated percentiles at i/nBins, so bins hold ~equal row
    * counts — the feature-discretization / data-skew diagnostic
    * complement of the equi-width [[histogram]]. Boundaries come from one
    * aggregate (a 1-row broadcast back over the scan — the q82 map-side
    * gate shape, no corpus shuffle before the bin groupBy). A value lands
    * in bin i (0-based) when it exceeds boundary i; ties at a boundary go
    * to the lower bin (`>` comparisons, matching SQL `CASE WHEN v > b`).
    * Integral inputs keep the percentile interpolation exact in every
    * engine (q29 precedent). */
  def equiDepthHistogram(df: DataFrame, colName: String, nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val c = col(colName)
    val ps = (1 until nBins).map(i => i.toDouble / nBins)
    val bounds = df.agg(
      expr(s"percentile($colName, array(${ps.mkString(", ")}))").as("__bs"))
    val bin = (1 until nBins).foldLeft(lit(0)) { (acc, i) =>
      acc + when(c.cast("double") > element_at(col("__bs"), i), 1).otherwise(0)
    }
    df.crossJoin(broadcast(bounds))
      .select(bin.cast("int").as("bin"), c.cast("double").as("__v"))
      .groupBy("bin").agg(count(lit(1)).as("n"),
        min(col("__v")).as("lo"), max(col("__v")).as("hi"))
  }
}
