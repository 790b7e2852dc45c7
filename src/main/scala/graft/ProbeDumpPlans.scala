package graft

/** Dump `.explain("formatted")` output for the named queries into
  * per-query files — the plans/r14..r16 before/after evidence. Usage:
  *   tools/run.sh graft.ProbeDumpPlans <outDir> <suffix> <name> [name ...]
  * Session shape is the test/snapshot one ([[LocalSession.FixedCores]]),
  * sf0.01 fixtures warmed.
  */
object ProbeDumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val spark = LocalSession.builder(LocalSession.FixedCores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    try Fixtures.warm(spark, dir) catch { case _: Throwable => }
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val plan = Queries.registry(n).build(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plans] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
