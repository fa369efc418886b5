package graft.ops

import java.math.MathContext.UNLIMITED

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The 128-bit exact-sum accumulator against a BigDecimal reference and
  * against built-in `sum` over the same term, in every execution mode. */
class ExactSpec extends SparkSpec {

  private val modes = Seq(
    "whole-stage codegen" -> Seq.empty,
    "no whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def inModes(body: String => Unit): Unit = modes.foreach { case (name, confs) =>
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body(name)
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val schema = StructType(Seq(
    StructField("g", IntegerType),
    StructField("a", LongType), StructField("b", LongType),
    StructField("d", DecimalType(18, 2)), StructField("q", DecimalType(10, 2))))

  /** Random rows with negatives, nulls and the LONG extremes. The extreme
    * products sit in their own groups, so every sum stays within
    * DECIMAL(38). */
  private lazy val rows: Seq[Row] = {
    val r = new Random(42)
    def maybe[T](v: => T): Any = if (r.nextInt(10) == 0) null else v
    def d18 = BigDecimal(r.nextLong() % 1000000000000000000L, 2).bigDecimal
    def d10 = BigDecimal(r.nextLong() % 10000000000L, 2).bigDecimal
    val random = (0 until 3000).map { i =>
      Row(i % 7, maybe(r.nextLong()), maybe(r.nextInt().toLong), maybe(d18), maybe(d10))
    }
    val extremes = Seq(
      Row(100, Long.MinValue, Long.MinValue, null, null),
      Row(101, Long.MaxValue, Long.MaxValue, BigDecimal("9999999999999999.99").bigDecimal,
        BigDecimal("99999999.99").bigDecimal),
      Row(101, Long.MinValue, Long.MaxValue, BigDecimal("-9999999999999999.99").bigDecimal,
        BigDecimal("-99999999.99").bigDecimal),
      Row(102, null, null, null, null))
    random ++ extremes
  }

  private def input: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 6), schema)

  /** (name, exact form, built-in form, BigDecimal reference per row). */
  private lazy val terms: Seq[(String, Column, Column, Row => Option[BigDecimal])] = {
    // UNLIMITED: Scala's default MathContext would round products to 34 digits
    def dec(r: Row, i: Int) = Option(r.getDecimal(i)).map(new BigDecimal(_, UNLIMITED))
    def lng(r: Row, i: Int) =
      if (r.isNullAt(i)) None else Some(BigDecimal(r.getLong(i), UNLIMITED))
    spark // Exact.* registers its function in the active session
    Seq(
      ("sum(d)", Exact.sum(col("d")), sum(col("d")), (r: Row) => dec(r, 3)),
      ("sum(q)", Exact.sum(col("q")), sum(col("q")), (r: Row) => dec(r, 4)),
      ("sum(a as dec38)", Exact.sum(col("a")), sum(col("a").cast("decimal(38,0)")),
        (r: Row) => lng(r, 1)),
      ("sum(a*b)", Exact.sumProduct(col("a"), col("b")),
        sum(expr("CAST(a AS DECIMAL(38,0)) * b")),
        (r: Row) => for (x <- lng(r, 1); y <- lng(r, 2)) yield x * y),
      ("sum(q*q)", Exact.sumProduct(col("q"), col("q")), sum(col("q") * col("q")),
        (r: Row) => dec(r, 4).map(x => x * x)),
      ("sum(d*q)", Exact.sumProduct(col("d"), col("q")), sum(col("d") * col("q")),
        (r: Row) => for (x <- dec(r, 3); y <- dec(r, 4)) yield x * y),
      ("sum(a*q)", Exact.sumProduct(col("a"), col("q")),
        sum(col("a").cast("decimal(20,0)") * col("q")),
        (r: Row) => for (x <- lng(r, 1); y <- dec(r, 4)) yield x * y))
  }

  /** Per group: None when the group has no non-null term (sum is null). */
  private def reference(f: Row => Option[BigDecimal]): Map[Int, Option[BigDecimal]] =
    rows.groupBy(_.getInt(0)).map { case (g, rs) =>
      val vs = rs.flatMap(f(_))
      g -> (if (vs.isEmpty) None else Some(vs.sum))
    }

  test("grouped exact sums equal the BigDecimal reference and built-in sum, every mode") {
    inModes { mode =>
      terms.foreach { case (name, exact, builtin, f) =>
        val got = input.groupBy("g").agg(exact.as("e"), builtin.as("s"))
        assert(got.schema("e").dataType == got.schema("s").dataType, s"$mode $name type")
        val ref = reference(f)
        got.collect().foreach { r =>
          val e = Option(r.getDecimal(1)).map(BigDecimal(_))
          assert(e == ref(r.getInt(0)), s"$mode $name group ${r.getInt(0)}")
          assert(e == Option(r.getDecimal(2)).map(BigDecimal(_)), s"$mode $name vs sum")
        }
      }
    }
  }

  test("global exact sums: value, type, and null on empty or all-null input") {
    inModes { mode =>
      val ordinary = input.filter(col("g") < 100)
      terms.foreach { case (name, exact, builtin, f) =>
        val got = ordinary.agg(exact.as("e"), builtin.as("s")).head()
        val want = rows.filter(_.getInt(0) < 100).flatMap(f(_)).sum
        assert(BigDecimal(got.getDecimal(0)) == want, s"$mode $name")
        assert(got.getDecimal(0) == got.getDecimal(1), s"$mode $name vs sum")
        val empty = input.filter(lit(false)).agg(exact.as("e"), builtin.as("s"))
        assert(empty.schema("e").dataType == empty.schema("s").dataType)
        assert(empty.head() == Row(null, null), s"$mode $name empty")
        val nulls = input.filter(col("g") === 102).agg(exact.as("e"))
        assert(nulls.head() == Row(null), s"$mode $name all-null")
      }
    }
  }

  test("a sum past DECIMAL(38) raises, as built-in sum does; null without ANSI") {
    def big = spark.range(0, 200, 1, 4).select(
      lit(BigDecimal("999999999999999999").bigDecimal).cast("decimal(18,0)").as("x"),
      lit(Long.MaxValue).as("m"))
    def overflows(df: DataFrame): Boolean = {
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException])
    }
    inModes { mode =>
      assert(overflows(big.agg(Exact.sumProduct(col("x"), col("x")))), mode)
      assert(overflows(big.agg(Exact.sumProduct(col("m"), col("m")))), mode)
      assert(overflows(big.groupBy(lit(1)).agg(Exact.sumProduct(col("m"), col("m")))), mode)
      assert(overflows(big.agg(sum(expr("x * x")))), mode)
    }
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val got = big.agg(Exact.sumProduct(col("x"), col("x")), sum(expr("x * x"))).head()
      assert(got == Row(null, null))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("decimals the built-in sum already runs on a LONG are rejected at analysis") {
    val df = input
    intercept[org.apache.spark.sql.AnalysisException](
      df.agg(Exact.sum(col("q").cast("decimal(8,2)"))).schema)
    intercept[org.apache.spark.sql.AnalysisException](
      df.agg(Exact.sum(col("d").cast("double"))).schema)
  }
}
