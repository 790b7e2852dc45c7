package graft

/** Host-band probe for bench-drift adjudication: run a handful of
  * registry queries N times each and print the per-query MIN — the same
  * statistic `graft.Bench` records, but isolated to queries whose source
  * files are diff-identical to an earlier recording. If an unchanged
  * query's min-of-N is far off its recorded band, the host window — not
  * the code — owns the drift (the provenance argument BASELINE.md's
  * round-13 note makes). Usage: `ProbeHostBand <sfDir> <reps> <query...>`.
  */
object ProbeHostBand {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val names = args.drop(2).toSeq
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // one untimed pass pays JIT/codegen/fixtures, as Bench's warmup does
    names.foreach(n => Queries.registry(n).build(spark, sfDir).count())
    names.foreach { n =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        Queries.registry(n).build(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // standard median: mean of the two middle order statistics for
      // even reps (sorted(reps/2) alone is the UPPER median — a biased
      // statistic for a probe whose whole point is drift adjudication)
      val sorted = times.sorted
      val p50 =
        if (reps % 2 == 1) sorted(reps / 2)
        else (sorted(reps / 2 - 1) + sorted(reps / 2)) / 2.0
      println(f"[host-band] $n%-30s min=${times.min}%6.3fs " +
        f"p50=$p50%6.3fs max=${times.max}%6.3fs")
    }
    spark.stop()
  }
}
