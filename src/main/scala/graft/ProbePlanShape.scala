package graft

import org.apache.spark.sql.SparkSession

/** Dev harness: dump the shuffle-exchange count of every registry query's
  * physical plan as TSV — the generator for
  * `src/test/resources/exchange_counts.tsv`, which PlanAuditSpec pins so
  * ANY future exchange-count regression fails CI (not just the hand-picked
  * plan tests). Runs under the test session shape
  * ([[LocalSession.FixedCores]]), and PlanAuditSpec checks with the same
  * [[registryCounts]], so generator and check cannot drift apart.
  * Regenerate after an INTENTIONAL plan change:
  *
  *   tools/run.sh graft.ProbePlanShape /root/testdata/sf0.01 \
  *     > src/test/resources/exchange_counts.tsv
  */
object ProbePlanShape {
  // SHUFFLE exchanges only: broadcast/reused exchanges are not
  // data-movement regressions
  def countExchanges(plan: String): Int =
    ("Exchange (hash|range)partitioning|Exchange SinglePartition|" +
      "Exchange RoundRobinPartitioning").r.findAllIn(plan).size

  /** (query, shuffle-exchange count) for the whole registry, by name. */
  def registryCounts(spark: SparkSession, sfDir: String): Seq[(String, Int)] =
    Queries.registry.toSeq.sortBy(_._1).map { case (name, q) =>
      name -> countExchanges(q.build(spark, sfDir).queryExecution.executedPlan.toString)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = LocalSession.builder(LocalSession.FixedCores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    registryCounts(spark, sfDir).foreach { case (name, n) => println(s"$name\t$n") }
    spark.stop()
  }
}
