package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("profile counts nulls/distincts and renders typed min/max") {
    val df = Seq(
      (Some(3L), Some("b")),
      (None: Option[Long], Some("a")),
      (Some(10L), None: Option[String]),
      (Some(3L), Some("c"))
    ).toDF("k", "s")
    val got = Profile.profile(df, Seq(Profile.Spec("k"), Profile.Spec("s")))
      .orderBy("col_name")
      .as[(String, Long, Long, String, String)].collect().toSeq
    assert(got == Seq(
      ("k", 1L, 2L, "3", "10"),   // native ordering: 3 < 10 (not lexicographic)
      ("s", 1L, 3L, "a", "c")))
  }

  test("profile is a single aggregation pass over the input") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "s")
    val plan = Profile.profile(df, Seq(Profile.Spec("k"), Profile.Spec("s")))
      .queryExecution.optimizedPlan.toString()
    // One scan of the local relation feeds the whole profile: the plan
    // contains exactly one leaf relation (no self-union of per-column scans).
    val leaves = plan.linesIterator.count(_.contains("LocalRelation"))
    assert(leaves == 1, s"expected single-scan profile, got plan:\n$plan")
  }

  /** The earlier one-aggregate formulation (countDistinct and min/max
    * side by side), the reference for the float cases. */
  private def oneAggregateProfile(df: DataFrame, specs: Seq[Profile.Spec]): DataFrame = {
    val aggs = specs.flatMap { sp =>
      val c = col(sp.name)
      Seq(count(when(c.isNull, lit(1))), countDistinct(c), sp.fmt(min(c)), sp.fmt(max(c)))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = specs.zipWithIndex.map { case (sp, i) =>
      struct(lit(sp.name).as("col_name") +: one.columns.slice(4 * i, 4 * i + 4)
        .zip(Seq("n_nulls", "n_distinct", "min_str", "max_str"))
        .map { case (c, a) => col(s"`$c`").as(a) }.toSeq: _*)
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  private type P = (String, Long, Long, String, String)

  private def run(df: DataFrame, specs: Seq[Profile.Spec]): Seq[P] =
    Profile.profile(df, specs).orderBy("col_name").as[P].collect().toSeq

  test("profile edge cases: all-null column, duplicates, empty input") {
    val df = Seq[(Option[Long], Option[String])](
      (Some(5L), None), (Some(5L), None), (Some(5L), None),
      (Some(7L), None), (None, None), (None, None)).toDF("k", "s")
    val specs = Seq(Profile.Spec("k"), Profile.Spec("s"))
    assert(run(df, specs) == Seq(("k", 2L, 2L, "5", "7"), ("s", 6L, 0L, null, null)))
    assert(run(df.filter(lit(false)), specs) ==
      Seq(("k", 0L, 0L, null, null), ("s", 0L, 0L, null, null)))
  }

  test("profile of a double column with NaN and -0.0 matches the one-aggregate form") {
    val df = Seq[(Option[Double], Option[Double])](
      (Some(Double.NaN), Some(-0.0)), (Some(-0.0), Some(3.0)), (Some(1.5), Some(3.0)),
      (Some(Double.NaN), None), (None, Some(-0.0)), (Some(-2.0), Some(7.25))).toDF("x", "z")
    val specs = Seq(Profile.Spec("x"), Profile.Spec("z"))
    val got = run(df, specs)
    // NaN is one value and sorts above every number; -0.0 is one value
    // that renders as itself.
    assert(got == Seq(("x", 1L, 4L, "-2.0", "NaN"), ("z", 1L, 3L, "-0.0", "7.25")))
    assert(got == oneAggregateProfile(df, specs).orderBy("col_name").as[P].collect().toSeq)
  }

  test("histogram: bins partition the data, max lands in last bin") {
    val vals = (0 until 101).map(_.toDouble)
    val df = vals.toDF("v")
    val got = Profile.histogram(df, col("v"), 10)
      .as[(Int, Long)].collect().toMap
    assert(got.values.sum == vals.length, "every row lands in exactly one bin")
    assert(got.keys.forall(b => b >= 0 && b <= 9))
    // width 10: bin 0 gets 0..9 (10 values); the max folds into bin 9,
    // which holds 90..100 (11 values).
    assert(got(0) == 10L && got(9) == 11L, got.toString)
    // Constant column: one bin, all rows.
    val const = Seq(5.0, 5.0, 5.0).toDF("v")
    assert(Profile.histogram(const, col("v"), 10)
      .as[(Int, Long)].collect().toSeq == Seq((0, 3L)))
  }
}
