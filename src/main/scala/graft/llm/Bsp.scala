package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSqlBridge.{Mat, MatName, materialize}
import org.apache.spark.sql.execution.LogicalRDD

/** The one BSP round driver: it owns the round state, its release and the
  * fixpoint test. Each round runs `state ← materialize(step(state, round),
  * sumCol)` — one job, which also returns the exact row count and in-job Σ
  * of `sumCol` — then releases the superseded state (only now: the new
  * state's job was its last consumer, and lineage is truncated), and the
  * loop stops after `maxRounds` or the first round where `done(prev, next)`
  * holds. The returned state is never released. */
private[graft] object Bsp {
  type Done = (Mat, Mat) => Boolean

  val never: Done = (_, _) => false

  /** Equal row count and exact Σ: the fixpoint of a monotone loop. */
  val unchanged: Done = (p, n) => n.rows == p.rows && n.sum.compareTo(p.sum) == 0

  /** Stop on the new state alone (an empty frontier). */
  def until(p: Mat => Boolean): Done = (_, n) => p(n)

  /** A lazy initial state: no job; rows unknown (-1), so not [[unchanged]]. */
  def lazyState(df: DataFrame): Mat = Mat(df, -1L, java.math.BigDecimal.ZERO)

  /** `fixpoint`: `done` held on the last round run. */
  final case class Run(state: Mat, rounds: Int, fixpoint: Boolean)

  def apply(init: Mat, maxRounds: Int, sumCol: Int = -1, done: Done = never)(
      step: (DataFrame, Int) => DataFrame): Run = {
    var state = init
    var round = 0
    var fixpoint = false
    while (!fixpoint && round < maxRounds) {
      round += 1
      val next = materialize(step(state.df, round), sumCol)
      state.release()
      fixpoint = done(state, next)
      state = next
    }
    Run(state, round, fixpoint)
  }

  /** Release every materialized frame that `inputs` read and `result`
    * does not: a loop's invariant inputs (after zero rounds a lazy initial
    * state may still read one), or the frames an eagerly materialized
    * consumer has superseded. Call it once `result`'s own materialization
    * (if any) has run, and only on inputs whose frames this scope owns.
    * Returns `result`. */
  def releaseUnread(result: DataFrame, inputs: DataFrame*): DataFrame = {
    def rdds(df: DataFrame) = df.queryExecution.logical.collect {
      case l: LogicalRDD if l.rdd.name == MatName => l.rdd
    }
    val read = rdds(result).map(_.id).toSet
    inputs.flatMap(rdds).filterNot(r => read(r.id))
      .foreach(_.unpersist(blocking = false))
    result
  }
}
