package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated quantile (the R-7 / numpy default); 0 when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
}

/** Entry point of the benchmark JVM.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Untraced (`--trace 0`): sets the workload up `setupReps` times in fresh
  * directories, warms it, runs one timed closed loop of `--seconds`, checks
  * every output and prints the end-to-end metrics. Traced (`--trace 1`):
  * one set-up, then an untraced loop, the same loop with spans and
  * listeners on, and another untraced loop; prints the per-layer metrics. The last line of stdout is
  * the result object; everything else goes to stderr.
  */
object Main {
  /** Layers whose self times sum, with `bench.unattributed_ms`, to wall time. */
  val Layers: Seq[String] = Seq("expressions", "ingest", "logschema", "ngram", "zonemap",
    "sidecar", "rollup", "logquery", "dedup", "similarity", "spark", "bench")

  val Shapes: Seq[String] = Seq("logs", "logs_after", "volume", "aggregate", "fields", "search", "range")

  /** Every per-layer metric, in print order. A layer a workload does not
    * touch reports 0. */
  val PerLayer: Seq[String] = Seq(
    "expressions.decode_ms_per_mb", "expressions.events_decoded",
    "ingest.map_task_ms", "ingest.latest_offset_ms", "ingest.query_planning_ms",
    "ingest.add_batch_ms", "ingest.wal_commit_ms", "ingest.trigger_ms",
    "ingest.rows_written", "ingest.rows_lost", "ingest.parallel_speedup",
    "logschema.write_task_ms", "logschema.shuffle_bytes_per_row", "logschema.spill_bytes",
    "logschema.files_per_flush", "logschema.table_bytes_per_input_byte",
    "ngram.maintain_ms", "ngram.sidecar_bytes", "ngram.prune_ms", "ngram.files_pruned_ratio",
    "zonemap.maintain_ms", "zonemap.sidecar_bytes", "zonemap.prune_ms", "zonemap.files_pruned_ratio",
    "sidecar.coverage_ratio",
    "rollup.refresh_ms", "rollup.days_refreshed", "rollup.routed_ratio") ++
    Shapes.map(s => s"logquery.$s.p50_ms") ++ Shapes.map(s => s"logquery.$s.jobs") ++ Seq(
    "logquery.analyze_ms", "logquery.plan_ms", "logquery.execute_ms",
    "logquery.rows_read_per_row_returned",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.codegen_compiles", "spark.sql_actions",
    "scan.files_read", "scan.partitions_read", "scan.bytes_read",
    "dedup.incremental_pairs_ms", "dedup.append_ms", "dedup.candidate_pairs",
    "dedup.verified_ratio", "dedup.index_bytes",
    "similarity.knn_ms", "similarity.pairs_scored", "similarity.index_build_ms") ++
    Layers.map(l => s"$l.self_ms") ++ Seq(
    "bench.unattributed_ms", "bench.wall_ms", "bench.trace_overhead_ratio",
    "bench.ops_failed_ratio", "bench.op_samples", "bench.op_p90_ms", "bench.retained_heap_mb")

  def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_bytes") || name == "scan.bytes_read") "bytes"
    else if (name.endsWith("_ratio") || name.endsWith("_per_row_returned") ||
      name.endsWith("_per_input_byte") || name.endsWith("_speedup")) "ratio"
    else if (name.endsWith("_per_row")) "bytes/row"
    else if (name.endsWith("_per_mb")) "ms/MB"
    else if (name.endsWith("_mb")) "MB"
    else "count"

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("klogs-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "ingest_wire" => new IngestWire(spark, seed)
    case "query_mix" => new QueryMix(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def retainedHeapMb(): Double = {
    (1 to 2).foreach(_ => System.gc())
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val w = workload(name, spark, seed)
    w.traced = traced
    val off = new Trace(spark)

    def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")
    note(f"session ready after $sessionS%.2f s")
    val setupS = (1 to (if (traced) 1 else w.setupReps)).map { i =>
      val s = Workload.timed(w.setup(Files.createDirectories(work.resolve(s"setup-$i"))))._2 / 1000.0
      note(f"set-up $i: $s%.2f s")
      s
    }
    note(f"warm-up: ${Workload.timed(w.warm())._2 / 1000}%.2f s")
    val line =
      if (!traced) {
        val p = w.phase(seconds, off)
        val ((checks, bad), checkMs) = Workload.timed(w.check())
        note(f"${p.opMs.size} timed operations; checks: ${checkMs / 1000}%.2f s")
        p.opKind.zip(p.opMs).groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, xs) =>
          note(f"  $k%-10s n=${xs.size}%3d median ${Workload.median(xs.map(_._2).toSeq)}%8.1f ms")
        }
        note("round rates: " + p.roundRates.map(r => f"$r%.4g").mkString(" "))
        val ok = bad == 0 && p.failed == 0 && p.opMs.nonEmpty
        json(ok, p.attempted + checks, p.failed + bad, Seq(
          ("setup_s", sessionS + Workload.median(setupS), "s"),
          ("op_p50_ms", w.opP50(p), "ms"),
          ("throughput_per_s", Workload.median(p.roundRates.toSeq), "1/s"),
          ("stored_bytes_per_input_byte", w.storedRatio, "ratio")))
      } else {
        // the untraced loops bracketing the traced one run a quarter as long
        val base = w.phase(seconds / 4, off)
        val trace = new Trace(spark)
        trace.start()
        val cg0 = Trace.codegenCompiles
        val p = w.phase(seconds, trace)
        val cg1 = Trace.codegenCompiles
        trace.stop()
        val heap = retainedHeapMb()
        // an untraced loop on each side of the traced one, so JIT warming
        // during the run does not read as trace overhead
        val after = w.phase(seconds / 4, off)
        val ops = p.opMs.size.max(1).toDouble
        val layer = w.layers(p, trace) ++ p.layer ++ Map(
          "spark.codegen_compiles" -> (cg1 - cg0) / ops,
          "spark.sql_actions" -> trace.sqlActions.get / ops,
          "scan.files_read" -> trace.scanFiles.get / ops,
          "scan.partitions_read" -> trace.scanPartitions.get / ops,
          "scan.bytes_read" -> trace.scanBytes.get / ops,
          "bench.op_samples" -> p.opMs.size.toDouble,
          "bench.retained_heap_mb" -> heap,
          // a p90 is only stated over at least 100 samples
          "bench.op_p90_ms" -> (if (p.opMs.size >= 100) Stats.quantile(p.opMs.toSeq, 0.9) else 0.0),
          "bench.trace_overhead_ratio" ->
            (2 * loopMedian(p) / (loopMedian(base) + loopMedian(after)) - 1))
        val (checks, bad) = w.check()
        val attempted = base.attempted + p.attempted + after.attempted + checks
        val failed = base.failed + p.failed + after.failed + bad
        w.close()
        val speedup = w match {
          case _: IngestWire => Map("ingest.parallel_speedup" ->
            freshRowsPerS(cores, seed, work) / freshRowsPerS(1, seed, work))
          case _ => Map.empty[String, Double]
        }
        val all = layer ++ speedup + ("bench.ops_failed_ratio" -> failed.toDouble / attempted)
        json(bad == 0 && failed == 0, attempted, failed,
          PerLayer.map(n => (n, all.getOrElse(n, 0.0), unitOf(n))))
      }
    w.close()
    SparkSession.getActiveSession.foreach(_.stop())
    println(line)
  }

  /** Plain median latency of a loop's flushes or pool requests (a traced
    * query_mix loop appends corpus operations, which have no request key).
    * Not `opP50`: the bracketing loops are shorter, and a best-of-cycles
    * figure would favour the longer traced loop. */
  private def loopMedian(p: Phase): Double =
    Stats.quantile((if (p.opKey.isEmpty) p.opMs else p.opMs.take(p.opKey.size)).toSeq, 0.5)

  /** ingest_wire's rows/s on a fresh `local[cores]` session, stream and
    * table, with the same seed, warm-up and number of flushes whatever
    * `cores` is: the two sides of the parallel speedup. Stops the active
    * session. */
  private def freshRowsPerS(cores: Int, seed: Long, work: Path): Double = {
    SparkSession.getActiveSession.foreach(_.stop())
    val spark = session(cores, work)
    val w = new IngestWire(spark, seed)
    try {
      w.setup(Files.createDirectories(work.resolve(s"speedup-local-$cores")))
      w.rowsPerS(SpeedupWarm, SpeedupFlushes)
    } finally w.close()
  }

  /** Untimed, then timed flushes on each side of the parallel speedup:
    * fewer warm flushes than the main loop's, to keep a traced run short. */
  private val SpeedupWarm = 2
  private val SpeedupFlushes = 3
}
