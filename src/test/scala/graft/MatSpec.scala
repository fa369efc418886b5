package graft

import java.math.BigInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSqlBridge.{Mat, materialize, release}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._

/** The loop-state materialization primitive: exact statistics, the in-job
  * (count, sum) checksum, and block release. */
class MatSpec extends SparkSpec {
  import spark.implicits._

  private def stats(df: DataFrame) = df.queryExecution.optimizedPlan.stats

  private def rowBytes(df: DataFrame): BigInt =
    EstimationUtils.getSizePerRow(df.queryExecution.optimizedPlan.output)

  private def persisted(m: Mat): Boolean =
    m.df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.exists(spark.sparkContext.getPersistentRDDs.contains)

  test("stats are the exact row count and rows × getSizePerRow bytes") {
    val m = materialize((0L until 1234L).toDF("id")
      .select(col("id"), (col("id") * 2).as("v"), lit("x").as("s"))
      .repartition(3))
    assert(m.rows == 1234L)
    val st = stats(m.df)
    assert(st.rowCount.contains(BigInt(1234)))
    assert(st.sizeInBytes == rowBytes(m.df) * 1234)
    // estimates above the frame derive from the exact size
    assert(stats(m.df.filter(col("id") > 5)).sizeInBytes == st.sizeInBytes)
    val empty = materialize(m.df.filter(lit(false)))
    assert(empty.rows == 0L && stats(empty.df).sizeInBytes == 0)
    m.release(); empty.release()
  }

  test("in-job sum is exact over the whole long range; -1 counts only") {
    val rnd = new scala.util.Random(17)
    val vals: Seq[java.lang.Long] =
      Seq[java.lang.Long](Long.MaxValue, Long.MaxValue, Long.MinValue,
        Long.MinValue, Long.MinValue, null, 0L, -1L, 1L) ++
      Seq.fill(3000)(java.lang.Long.valueOf(rnd.nextLong())) ++
      Seq.fill(500)(java.lang.Long.valueOf(Long.MaxValue - rnd.nextInt(10))) ++
      Seq.fill(500)(java.lang.Long.valueOf(Long.MinValue + rnd.nextInt(10)))
    val ref = vals.filter(_ != null)
      .foldLeft(BigInteger.ZERO)((a, v) => a.add(BigInteger.valueOf(v)))
    val df = vals.toDF("v").withColumn("k", lit(1)).repartition(4)
    val summed = materialize(df, 0)
    assert(summed.rows == vals.size.toLong)
    assert(summed.sum.toBigIntegerExact == ref)
    assert(summed.df.count() == vals.size.toLong)
    val counted = materialize(df, -1)
    assert(counted.rows == vals.size.toLong)
    assert(counted.sum.signum == 0)
    summed.release(); counted.release()
  }

  test("release drops the blocks and is a no-op on any other frame") {
    val m = materialize((0L until 50L).toDF("id"))
    assert(persisted(m))
    m.release()
    assert(!persisted(m))
    // a user's persisted RDD behind a plain LogicalRDD is left alone
    val rdd = spark.sparkContext.parallelize(Seq(1L, 2L, 3L)).cache()
    rdd.count()
    val other = rdd.toDF("id")
    release(other)
    release(other.select(col("id") + 1))
    release(null)
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    rdd.unpersist()
  }

  test("40-round pointer jumping keeps every round's size exact") {
    // succ(u) = u + 1 mod n; after r rounds p(u) = u + 2^r mod n. A
    // copied estimate would square each round; exact stats stay at
    // rows × rowBytes however deep the self-join history is.
    val n = 37L
    var cur = materialize((0L until n).toDF("id")
      .select(col("id"), ((col("id") + 1) % n).as("p")))
    for (r <- 1 to 40) {
      val next = materialize(cur.df.as("a")
        .join(cur.df.as("b"), col("a.p") === col("b.id"))
        .select(col("a.id").as("id"), col("b.p").as("p")))
      cur.release()
      cur = next
      assert(cur.rows == n)
      assert(stats(cur.df).sizeInBytes <= rowBytes(cur.df) * n, s"round $r")
      assert(stats(cur.df.join(cur.df.select(col("id").as("p")), "p"))
        .sizeInBytes <= (rowBytes(cur.df) * n).pow(2), s"round $r")
    }
    val step = BigInteger.TWO.pow(40).mod(BigInteger.valueOf(n)).longValue
    val got = cur.df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until n).map(u => u -> (u + step) % n).toMap)
    cur.release()
  }

  test("src/main pins frames only through materialize") {
    // `Dataset.localCheckpoint` copies an estimate and pins its blocks
    // until a GC; a site may keep it only with a measured reason on the
    // line or the line above (`measured:` and its PlanDump pair/timing).
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "GraftSqlBridge.scala").toSeq
    assert(files.size > 50)
    val bare = files.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.collect {
        case i if lines(i).contains("localCheckpoint(") &&
            !(lines(i) +: lines.lift(i - 1).toSeq).exists(_.contains("measured:")) =>
          s"$f:${i + 1}"
      }
    }
    assert(bare.isEmpty, s"localCheckpoint( without a measured reason: $bare")
  }
}
