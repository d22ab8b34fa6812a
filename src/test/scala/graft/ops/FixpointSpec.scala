package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The round contract every convergence loop relies on: what ends a
  * run, how rounds are counted, and that only the last round's blocks
  * outlive it. */
class FixpointSpec extends SparkSpec {

  /** x := min(x + 1, 5); the signal counts rows still below 5. */
  private def climb(s: DataFrame, round: Int): DataFrame =
    s.select(least(col("x") + 1, lit(5L)).as("x"))
  private val below5 = Some(count_if(col("x") < 5))

  test("a zero signal ends the run, an initial fixpoint runs no round") {
    val run = Fixpoint.run(spark.range(4).toDF("x"), 10, below5)(climb)
    assert(run.converged && run.rounds == 5, run.toString)
    assert(run.state.collect().map(_.getLong(0)).toSeq == Seq(5L, 5L, 5L, 5L))
    val done = Fixpoint.run(spark.range(4).select(lit(5L).as("x")), 10, below5)(climb)
    assert(done.converged && done.rounds == 0)
    CacheScope.releaseAll()
  }

  test("no signal or a null one runs exactly maxRounds, freeing all but the last round") {
    CacheScope.releaseAll() // other suites share the JVM
    val before = spark.sparkContext.getPersistentRDDs.size
    val fixed = Fixpoint.run(spark.range(4).toDF("x"), 3, None)(climb)
    assert(!fixed.converged && fixed.rounds == 3)
    assert(fixed.state.agg(min("x")).head.getLong(0) == 3L)
    assert(spark.sparkContext.getPersistentRDDs.size == before + 1)
    val nul = Fixpoint.run(spark.range(4).toDF("x"), 2,
      Some(sum(when(col("x") < 0, col("x")))))(climb)
    assert(!nul.converged && nul.rounds == 2)
    CacheScope.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }
}
