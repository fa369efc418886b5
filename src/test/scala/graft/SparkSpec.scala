package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftSqlBridge.MatName
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's default test execution). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(cpus = 8)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** The RDDs `materialize` has pinned and not yet released. */
  def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs
    .collect { case (id, rdd) if rdd.name == MatName => id }.toSet

  /** The materialized frames `df`'s plan reads. */
  def leaves(df: DataFrame): Set[Int] = df.queryExecution.logical
    .collect { case l: LogicalRDD if l.rdd.name == MatName => l.rdd.id }.toSet
}
