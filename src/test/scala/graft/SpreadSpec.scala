package graft

import graft.operators.Spread
import org.apache.spark.sql.functions._

/** The compute-spread gate: it must never add an exchange over a source
  * that already scans in parallel, and must spread an under-split one.
  */
class SpreadSpec extends SparkTestBase {

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    ProbePlanShape.countExchanges(df.queryExecution.executedPlan.toString)

  private def written(prefix: String, files: Int): String = {
    val out = tmp(prefix) + "/t"
    spark.range(0, 4000).select(col("id"), (col("id") % 7).as("v"))
      .repartition(files).write.parquet(out)
    out
  }

  test("a many-file parquet source is never spread") {
    val dir = written("graft-spread-many", spark.sparkContext.defaultParallelism * 2)
    val src = spark.read.parquet(dir)
    assert(src.inputFiles.length >= spark.sparkContext.defaultParallelism)
    val df = Spread.maybe(src, col("id"))
    assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
  }

  test("a single-file parquet source is spread on its key to the session's parallelism") {
    val dir = written("graft-spread-one", 1)
    val src = spark.read.parquet(dir)
    assert(src.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "test setup: the scan must be under-split")
    val df = Spread.maybe(src, col("id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(shuffles(df) == 1, plan)
    assert(plan.contains("hashpartitioning(id"), plan)
    assert(df.count() == 4000)
  }
}
