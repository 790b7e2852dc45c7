package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query profile under the bench's exact session shape: wall time,
  * Spark job count, stage count, task count and summed task time for one
  * steady-state execution. Job count tells iterative/multi-action queries
  * apart from single-plan ones; (wall − task-time/cores) exposes
  * driver-side overhead (planning, per-job latency, round sync).
  *
  * Usage: tools/run.sh graft.ProbeQueryProfile <sfDir> <query> [query ...]
  * Environment mirrors Bench: SPARK_GRAFT_CPUS (default: all cores).
  */
object ProbeQueryProfile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("dedup_cluster", "dedup_cluster_altcc", "dedup_incremental",
        "knn_join", "knn_join_ann", "sim_search_ivfpq", "sim_search_pq",
        "decontaminate_bloom", "route_wellknown_keys", "log_templates")
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
    }
    val verbose = sys.env.get("PROFILE_STAGES").contains("1")
    if (verbose) spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val ms = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
        println(f"[stage] id=${i.stageId}%4d tasks=${i.numTasks}%4d " +
          f"${ms}%6d ms  ${i.name.take(110)}")
      }
    })
    spark.sparkContext.addSparkListener(listener)

    try Fixtures.warm(spark, dir) catch { case _: Throwable => }
    if (verbose) {
      val lt = Fixtures.logTableDir(spark, dir)
      val n = new java.io.File(lt).listFiles()
        .filter(_.getName.startsWith("date=")).map(_.listFiles()
          .count(f => f.getName.endsWith(".parquet"))).sum
      println(s"[profile] logTable $lt dataFiles=$n")
    }
    names.foreach { n =>
      val fn = Queries.registry(n).build
      // warm run: builds session fixtures, JIT, codegen cache
      try fn(spark, dir).count() catch { case e: Throwable =>
        println(s"[profile] $n WARM FAILED: ${e.getMessage}") }
      // settle the listener bus (private API — sleep suffices for a probe)
      Thread.sleep(300)
      jobs = 0; stages = 0; tasks = 0; taskMs = 0L
      val t0 = System.nanoTime()
      val cnt = fn(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"[profile] $n%-28s wall=$wall%7.3fs jobs=$jobs%3d " +
        f"stages=$stages%3d tasks=$tasks%5d taskTime=${taskMs / 1e3}%8.2fs rows=$cnt")
    }
    spark.stop()
  }
}
