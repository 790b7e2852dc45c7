package perfbench

import graft.model.{DedupIndex, LogSchema, NgramIndex, Rollup, ZoneMapIndex}
import graft.operators.{IngestConfig, Similarity}
import graft.query.LogQuery
import graft.streaming.IngestStream
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** What one timed phase of a workload produced. */
final class Phase {
  /** Latency of each timed operation. */
  val opMs = ArrayBuffer.empty[Double]
  /** The kind of each operation in `opMs`, for the per-kind log line. */
  val opKind = ArrayBuffer.empty[String]
  /** The request of each operation in `opMs` (query_mix). */
  val opKey = ArrayBuffer.empty[String]
  /** Items per second of each round of the loop (a flush, a cycle). */
  val roundRates = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var t0 = 0.0
  var t1 = 0.0
  /** Per-layer values gathered while the phase ran (traced phases only). */
  val layer = mutable.Map.empty[String, Double]
}

/** A benchmark workload: set up (possibly several times), run timed closed
  * loops, check every output. */
trait Workload {
  /** Set before the first set-up: this run prints per-layer metrics. */
  var traced = false
  /** Set-ups per untraced run; `setup_s` reports their median. */
  def setupReps: Int = 3
  /** Builds fresh state under `dir`, replacing any earlier set-up. */
  def setup(dir: Path): Unit
  /** Work done once after the last set-up and before any timed phase. */
  def warm(): Unit = ()
  /** Runs the closed loop for `seconds`. */
  def phase(seconds: Double, trace: Trace): Phase
  /** Checks the outputs: (checks made, checks failed). */
  def check(): (Long, Long)
  /** The median the workload reports as `op_p50_ms`. */
  def opP50(p: Phase): Double = Stats.quantile(p.opMs.toSeq, 0.5)
  /** Stored bytes (data plus sidecars) over input bytes. */
  def storedRatio: Double
  /** Per-layer metrics computed from a traced phase. */
  def layers(p: Phase, trace: Trace): Map[String, Double]
  def close(): Unit
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def dataFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet") &&
        !f.toString.contains("/_graft")).count()
      finally s.close()
    }

  def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  /** Order-preserving rendering of a result, for equality checks. */
  def render(rows: Array[Row]): Vector[String] = rows.map(_.mkString("|")).toVector
}

/** The production ingest path: chunk directory → decode → ingest → the
  * partitioned sink with n-gram and zone-map maintenance on every batch. */
final class IngestPipe(spark: SparkSession, dir: Path) {
  val in: Path = Files.createDirectories(dir.resolve("in"))
  private val staging: Path = Files.createDirectories(dir.resolve("staging"))
  val table: Path = dir.resolve("table")
  // records always carry a wire timestamp; the fallback never applies
  private val fallback = java.sql.Timestamp.from(java.time.Instant.EPOCH)
  val query: StreamingQuery = IngestStream.sinkPartitionedParquet(
    IngestStream.ingestedFromChunks(
      IngestStream.readFbChunks(spark, s"$in/*"), IngestConfig(), Some(fallback)),
    table.toString, dir.resolve("checkpoint").toString,
    Trigger.ProcessingTime(0L), Some(s"perfbench-${java.util.UUID.randomUUID()}"),
    ngramIndex = Some(IngestPipe.Ngram), zoneMapCols = IngestPipe.ZoneCols).start()

  /** Lands a flush's chunk files at once: they are written into a staging
    * directory, which is then renamed into the input directory, so the
    * stream (reading every directory under `in`) never lists part of a
    * flush and splits it over two batches. */
  def land(f: Flush): Unit = {
    val tmp = Files.createDirectories(staging.resolve(f"flush-${f.index}%06d"))
    f.chunks.foreach { case (name, bytes) => Files.write(tmp.resolve(name), bytes) }
    Files.move(tmp, in.resolve(tmp.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  def await(): Unit = query.processAllAvailable()
  /** Rows in the table, as a reader sees them. */
  def rows(): Long = LogSchema.readLogs(spark, table.toString).count()
  def stop(): Unit = query.stop()
}

object IngestPipe {
  /** Per-file blooms sized for flush-sized files. */
  val Ngram: NgramIndex.Config = NgramIndex.Config(n = 4, expectedNdv = 1L << 15, fpp = 0.02)
  val ZoneCols: Seq[String] = Seq("timestamp")

  /** (day, namespace) → (rows, sum of content.bytes), as read back. */
  def tableTally(spark: SparkSession, table: String): Map[(String, String), (Long, Long)] =
    LogSchema.readLogs(spark, table)
      .groupBy(col("date").cast("string"), col("namespace"))
      .agg(count(lit(1)), sum(try_element_at(col("fields_number"), lit("content_bytes"))))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3).toLong))
      .toMap

  /** (rows, distinct content.seq) of the table. */
  def seqCounts(spark: SparkSession, table: String): (Long, Long) = {
    val r = LogSchema.readLogs(spark, table)
      .agg(count(lit(1)),
        count_distinct(try_element_at(col("fields_number"), lit("content_seq"))))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def sidecarBytes(table: Path): (Long, Long) =
    (Workload.dirBytes(table.resolve(NgramIndex.IndexDirName)),
      Workload.dirBytes(table.resolve(ZoneMapIndex.IndexDirName)))
}

/** Per-phase aggregation of the job, stage and task events of a trace. */
object PhaseStats {
  def spark(p: Phase, t: Trace, ops: Double): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val jobs = t.jobs.asScala.toSeq.filter(j => j.start >= p.t0 && j.end <= p.t1)
    val stageIds = jobs.flatMap(_.stages).distinct
    val accs = stageIds.flatMap(s => Option(t.stages.get(s)))
    def per(x: Double) = if (ops > 0) x / ops else 0.0
    Map(
      "spark.jobs" -> per(jobs.size),
      "spark.stages" -> per(accs.size),
      "spark.tasks" -> per(accs.map(_.tasks).sum),
      "spark.task_ms" -> per(accs.map(_.taskMs).sum),
      "spark.shuffle_read_bytes" -> per(accs.map(_.shuffleRead).sum),
      "spark.shuffle_write_bytes" -> per(accs.map(_.shuffleWrite).sum),
      "spark.spill_bytes" -> per(accs.map(_.spill).sum))
  }

  /** Self time per layer over the phase; `bench.unattributed_ms` closes the
    * sum to wall time. */
  def selfTimes(p: Phase, t: Trace): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val idx = t.spanById
    val st = Trace.selfTimes(p.t0, p.t1, t.spans.asScala.toSeq,
      t.jobs.asScala.toSeq, idx)
    Main.Layers.map(l => s"$l.self_ms" -> st.getOrElse(l, 0.0)).toMap ++ Map(
      "bench.unattributed_ms" -> st.getOrElse("unattributed", 0.0),
      "bench.wall_ms" -> (p.t1 - p.t0))
  }
}

// ---------------------------------------------------------------- ingest_wire

/** Closed loop of flushes through the production sink. */
final class IngestWire(spark: SparkSession, seed: Long) extends Workload {
  import IngestWire._
  private var gen: LogGen = _
  private var pipe: IngestPipe = _
  /** Rows in the table after the last flush, counted off the clock. */
  private var tableRows = 0L

  def setup(d: Path): Unit = {
    close()
    gen = new LogGen(seed, eventsPerFlush = BatchRows, windowSec = FlushIntervalSec)
    pipe = new IngestPipe(spark, d)
    tableRows = 0L
  }

  /** Untimed flushes before the timed loop. The first pays class loading
    * and code generation; after it, the sink's per-batch driver work keeps
    * getting faster for about ten flushes while the JIT compiles it (on a
    * 4-core host, rows/s rose 30-40% from the third flush to the ninth), so
    * the timed loop starts near the end of that climb, not in its steep
    * part. */
  override def warm(): Unit = warmFlushes(WarmFlushes)

  /** `n` untimed flushes; the table is counted once, after the last. */
  private def warmFlushes(n: Int): Unit = {
    (1 to n).foreach { _ => pipe.land(gen.nextFlush()); pipe.await() }
    tableRows = pipe.rows()
  }

  /** One round: generate a flush, land it, time the wait until its rows and
    * sidecars are current, then count the rows it added to the table. */
  private def flush(trace: Trace, p: Phase): Flush = {
    val f = trace.span("bench", "generate")(gen.nextFlush())
    p.attempted += 1
    try {
      val ms = trace.span("ingest", "flush") {
        pipe.land(f)
        Workload.timed(pipe.await())._2
      }
      p.opMs += ms; p.opKind += "flush"
      val rows = trace.span("bench", "count")(pipe.rows())
      p.roundRates += (rows - tableRows) / (ms / 1000)
      tableRows = rows
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] flush ${f.index} failed: $e"); p.failed += 1
    }
    f
  }

  def phase(seconds: Double, trace: Trace): Phase = {
    val p = new Phase
    val decodeMs = ArrayBuffer.empty[Double]
    var decodedBytes = 0L; var decoded = 0L
    val rowsBefore = tableRows
    val filesBefore = Workload.dataFiles(pipe.table)
    p.t0 = trace.clock()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val f = flush(trace, p)
      if (trace.on) trace.span("expressions", "decodeChunk") {
        // single-thread decode of this flush's chunks, outside the sink
        val (n, ms) = Workload.timed(f.chunks.map(c =>
          graft.expressions.MsgpackWire.decodeChunk(c._2).size).sum)
        decodeMs += ms; decoded += n; decodedBytes += f.chunks.map(_._2.length).sum
      }
    }
    p.t1 = trace.clock()
    if (trace.on) {
      p.layer("expressions.decode_ms_per_mb") = decodeMs.sum / (decodedBytes / 1048576.0)
      p.layer("expressions.events_decoded") = decoded.toDouble
      p.layer("logschema.files_per_flush") =
        (Workload.dataFiles(pipe.table) - filesBefore).toDouble / p.opMs.size.max(1)
      p.layer("ingest.rows_written") = (tableRows - rowsBefore).toDouble
    }
    p
  }

  /** Median rows/s over `flushes` flushes, after `warm` untimed ones. */
  def rowsPerS(warm: Int, flushes: Int): Double = {
    warmFlushes(warm)
    val p = new Phase
    (1 to flushes).foreach(_ => flush(new Trace(spark), p))
    Workload.median(p.roundRates.toSeq)
  }

  def check(): (Long, Long) = {
    val t = pipe.table.toString
    val want = gen.tally.toMap
    val got = IngestPipe.tableTally(spark, t)
    val (rows, distinct) = IngestPipe.seqCounts(spark, t)
    val checks = Seq(
      "tally per (date, namespace)" -> (got == want),
      "rows = emitted - torn" -> (rows == gen.expectedRows),
      "content.seq unique" -> (distinct == rows))
    checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] check failed: ${c._1}"))
    (checks.size.toLong, checks.count(!_._2).toLong)
  }

  def rowsLost: Long = gen.expectedRows - IngestPipe.seqCounts(spark, pipe.table.toString)._1

  def storedRatio: Double = Workload.dirBytes(pipe.table).toDouble / gen.inputBytes

  def layers(p: Phase, t: Trace): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val flushes = p.opMs.size.max(1).toDouble
    val idx = t.spanById
    val jobs = t.jobs.asScala.toSeq.filter(j => j.start >= p.t0 && j.end <= p.t1)
    def jobMs(layer: String) =
      jobs.filter(Trace.jobLayer(_, idx) == layer).map(j => j.end - j.start).sum / flushes
    // stages of the partitioned write: the one that feeds the rebalance
    // shuffle reads, decodes, flattens and routes; the rest sort and write
    val assigned = mutable.Map.empty[Int, JobSpan]
    jobs.sortBy(_.id).foreach(j => j.stages.foreach(s => assigned.getOrElseUpdate(s, j)))
    val writeStages = assigned.toSeq.collect {
      case (s, j) if Trace.jobLayer(j, idx) == "logschema" && t.stages.containsKey(s) => t.stages.get(s)
    }
    val (mapSt, sortSt) = writeStages.partition(_.shuffleWrite > 0)
    val rows = p.layer.getOrElse("ingest.rows_written", 0.0)
    val prog = t.progress.asScala.toSeq
    def dur(k: String) = Workload.median(prog.map(m => Option(m.get(k)).map(_.toDouble).getOrElse(0.0)))
    val (ng, zm) = IngestPipe.sidecarBytes(pipe.table)
    val table = Workload.dirBytes(pipe.table) - ng - zm
    Map(
      "ingest.map_task_ms" -> mapSt.map(_.taskMs).sum / flushes,
      "ingest.latest_offset_ms" -> dur("latestOffset"),
      "ingest.query_planning_ms" -> dur("queryPlanning"),
      "ingest.add_batch_ms" -> dur("addBatch"),
      "ingest.wal_commit_ms" -> dur("walCommit"),
      "ingest.trigger_ms" -> dur("triggerExecution"),
      "ingest.rows_lost" -> rowsLost.toDouble,
      "logschema.write_task_ms" -> sortSt.map(_.taskMs).sum / flushes,
      "logschema.shuffle_bytes_per_row" -> (if (rows > 0) mapSt.map(_.shuffleWrite).sum / rows else 0.0),
      "logschema.spill_bytes" -> writeStages.map(_.spill).sum / flushes,
      "logschema.table_bytes_per_input_byte" -> table.toDouble / gen.inputBytes,
      "ngram.maintain_ms" -> jobMs("ngram"),
      "zonemap.maintain_ms" -> jobMs("zonemap"),
      "ngram.sidecar_bytes" -> ng.toDouble,
      "zonemap.sidecar_bytes" -> zm.toDouble) ++
      PhaseStats.spark(p, t, flushes) ++ PhaseStats.selfTimes(p, t)
  }

  def close(): Unit = if (pipe != null) { pipe.stop(); pipe = null }
}

object IngestWire {
  /** klogs' default `Batch_Size`: rows per flush (BASELINE.md). */
  val BatchRows = 10000
  /** klogs' default `Flush_Interval` in seconds: event time a flush covers
    * (BASELINE.md). */
  val FlushIntervalSec = 60L
  /** Untimed flushes before an untraced or traced run's loops. */
  val WarmFlushes = 5
}

// ------------------------------------------------------------------ query_mix

/** One request of the query mix. `q` is a LogQuery filter; times are epoch
  * seconds. */
final case class Req(shape: String, q: String, start: Long = 0L, end: Long = 0L,
    group: String = "", op: String = "") {
  def key: String = productIterator.mkString("/")
}

/** A fixed log table, built through the ingest path, under one closed-loop
  * client sending seeded cycles of every LogQuery request shape. Traced runs
  * also build a document and embedding corpus and end the traced loop with
  * dedup increments and exact k-NN batches, which measures the `dedup` and
  * `similarity` layers; untraced runs leave them out (see METHOD.md). */
final class QueryMix(spark: SparkSession, seed: Long) extends Workload {
  private val corpus = new Corpus(spark, seed)
  private val CorpusRounds = 2

  /** Median over the pool's requests of each one's fastest repetition in
    * the loop (as `graft.Bench` takes the minimum of interleaved passes):
    * a host stall during one cycle does not move it. Corpus operations of
    * a traced loop are left out, so traced and untraced loops compare. */
  override def opP50(p: Phase): Double =
    Stats.quantile(p.opKey.zip(p.opMs).groupBy(_._1).values.map(_.map(_._2).min).toSeq, 0.5)
  private var gen: LogGen = _
  private var table: String = _
  private var rollupPath: String = _
  private var pool: Vector[Req] = Vector.empty
  // request choice in the timed loop; the pool has its own stream
  private val rnd = new java.util.SplittableRandom(seed * 31 + 7)
  /** First response seen per request key (logs_after keys include the cursor). */
  private val answers = mutable.LinkedHashMap.empty[String, (Req, Vector[String], Option[(java.time.Instant, Long)])]
  private val routed = mutable.Map.empty[String, Boolean]
  private var refreshMs = 0.0
  private var daysRefreshed = 0

  def setup(d: Path): Unit = {
    // two flushes of klogs' batch size, each standing for 36 h of retained
    // history, so the table spans three daily partitions for date pruning
    gen = new LogGen(seed, eventsPerFlush = IngestWire.BatchRows, windowSec = 36 * 3600L)
    table = d.resolve("table").toString
    // the ingest path in batch form: each flush's chunks are decoded,
    // ingested and appended by the partitioned writer, then both sidecars
    // are built over the whole table and the rollup brought up to date
    (1 to 2).foreach { _ =>
      val f = gen.nextFlush()
      val in = Files.createDirectories(d.resolve(f"in/${f.index}%03d"))
      f.chunks.foreach { case (name, bytes) => Files.write(in.resolve(name), bytes) }
      LogSchema.writePartitioned(IngestStream.ingestedFromChunks(
        spark.read.format("binaryFile").load(in.toString)), table, mode = "append")
    }
    NgramIndex.build(spark, table, IngestPipe.Ngram.n, IngestPipe.Ngram.expectedNdv, IngestPipe.Ngram.fpp)
    ZoneMapIndex.build(spark, table, IngestPipe.ZoneCols)
    rollupPath = d.resolve("rollup").toString
    val (stats, ms) = Workload.timed(Rollup.refresh(spark, table, rollupPath,
      numericKeys = Seq("content_bytes")))
    refreshMs = ms; daysRefreshed = stats.size
    pool = requests(new java.util.SplittableRandom(seed * 31 + 5))
    answers.clear(); routed.clear()
    if (traced) corpus.setup(d)
  }

  /** The seeded request pool: one request per slot, every shape covered,
    * one volume the rollup answers and one aggregate it cannot. klogs
    * publishes no query workload to take a mix from (BASELINE.md), so every
    * slot weighs the same: each is sent once per cycle. Each slot
    * fixes what sets a request's cost (shape, filter kind, window length,
    * rare or common needle); the seed picks the namespace, needle,
    * aggregation and window position. */
  private def requests(rnd: java.util.SplittableRandom): Vector[Req] = {
    val (lo, hi) = gen.timeRange
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def ns = pick(gen.namespaces.take(4))
    // windows shorter than the table lie in the on-time range, which
    // starts a day after the earliest (late) events
    def at(len: Long): (Long, Long) =
      if (len >= hi - lo) (lo, hi)
      else { val s = LogGen.T0Sec + rnd.nextLong(hi - LogGen.T0Sec - len + 1); (s, s + len) }
    def op = pick(Seq("count", "sum", "avg"))
    val (l1s, l1e) = at(3600L)
    val (l2s, l2e) = at(hi - lo)
    val (fs, fe) = at(6 * 3600L)
    val (r1s, r1e) = at(6 * 3600L)
    Vector(
      Req("logs", s"namespace = '$ns'", l1s, l1e),
      Req("logs", "content_level = 'error'", l2s, l2e),
      Req("volume", s"namespace = '$ns'"),
      Req("aggregate", "content_user_geo_country = 'de'", group = "namespace", op = op),
      Req("fields", s"namespace = '$ns'", fs, fe),
      Req("search", s"log ~ '${pick(LogGen.rareNeedles)}'"),
      Req("search", s"log ~ '${pick(LogGen.commonNeedles)}' _and_ namespace = '$ns'"),
      Req("range", "", r1s, r1e))
  }

  private def logs: DataFrame = LogSchema.readLogs(spark, table)
  private def withId(df: DataFrame): DataFrame =
    df.withColumn("id", try_element_at(col("fields_number"), lit("content_seq")).cast("long"))
  private def inst(s: Long) = java.time.Instant.ofEpochSecond(s)
  private def seqSum(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(try_element_at(col("fields_number"), lit("content_seq"))))
  private val PageSize = 50

  /** The request through the production call. `cursor` is set for
    * logs_after. */
  private def build(r: Req, cursor: Option[(java.time.Instant, Long)]): DataFrame = r.shape match {
    case "logs" =>
      LogQuery.logs(withId(logs), r.q, inst(r.start), inst(r.end), PageSize, tieBreak = Seq("id"))
        .select(col("timestamp"), col("id"), col("namespace"), col("log"))
    case "logs_after" =>
      val (cts, cid) = cursor.get
      LogQuery.logsAfter(withId(logs), r.q, inst(r.start), inst(r.end), cts, cid, PageSize)
        .select(col("timestamp"), col("id"), col("namespace"), col("log"))
    case "volume" =>
      LogQuery.volumeRouted(logs, Rollup.readRollup(spark, rollupPath), r.q)
    case "aggregate" =>
      LogQuery.aggregateRouted(logs, Rollup.readRollup(spark, rollupPath), r.q,
        r.group, r.op, Some("content_bytes"))
    case "fields" =>
      LogQuery.fields(logs.where(col("timestamp").between(
        java.sql.Timestamp.from(inst(r.start)), java.sql.Timestamp.from(inst(r.end)))), r.q)
    case "search" => seqSum(NgramIndex.searchLogsQuery(spark, table, r.q))
    case "range" =>
      seqSum(ZoneMapIndex.rangeScans(spark, table,
        Seq(("timestamp", r.start.toDouble, r.end.toDouble))).head)
  }

  /** The same request from `LogQuery.filter` over `readLogs`: no sidecar,
    * no rollup, no paging helper. */
  private def raw(r: Req, cursor: Option[(java.time.Instant, Long)]): DataFrame = {
    val ts = col("timestamp")
    def between(df: DataFrame) = df.where(ts >= java.sql.Timestamp.from(inst(r.start)) &&
      ts <= java.sql.Timestamp.from(inst(r.end)))
    r.shape match {
      case "logs" | "logs_after" =>
        val base = between(LogQuery.filter(withId(logs), r.q))
        val after = cursor.fold(base) { case (cts, cid) =>
          val c = lit(java.sql.Timestamp.from(cts))
          base.where(ts < c || (ts === c && col("id") > cid))
        }
        after.orderBy(ts.desc, col("id").asc).limit(PageSize)
          .select(col("timestamp"), col("id"), col("namespace"), col("log"))
      case "volume" => LogQuery.volume(logs, r.q)
      case "aggregate" => LogQuery.aggregate(logs, r.q, r.group, r.op, Some("content_bytes"))
      case "fields" => LogQuery.fields(between(logs), r.q)
      case "search" => seqSum(LogQuery.filter(logs, r.q))
      case "range" => seqSum(logs.where(ts.cast("double").between(r.start.toDouble, r.end.toDouble)))
    }
  }

  private def isRouted(r: Req): Boolean = routed.getOrElseUpdate(r.key, {
    val rollup = Rollup.readRollup(spark, rollupPath)
    r.shape match {
      case "volume" => LogQuery.volumeFromRollup(rollup, r.q).isDefined
      case "aggregate" =>
        LogQuery.aggregateFromRollup(rollup, r.q, r.group, r.op, Some("content_bytes")).isDefined
      case _ => false
    }
  })

  private def layerOf(r: Req): String = r.shape match {
    case "search" => "ngram"
    case "range" => "zonemap"
    case "volume" | "aggregate" if isRouted(r) => "rollup"
    case _ => "logquery"
  }

  // per-request phase timings and scan counters of the traced phase
  private val phaseMs = mutable.Map.empty[String, ArrayBuffer[Double]]
  private var scanRows = 0L; private var returned = 0L
  private val pruned = mutable.Map("ngram" -> (0L, 0L), "zonemap" -> (0L, 0L))
  private val pruneMs = mutable.Map("ngram" -> ArrayBuffer.empty[Double], "zonemap" -> ArrayBuffer.empty[Double])
  private val coverage = ArrayBuffer.empty[Double]
  private val shapeReqs = mutable.Map.empty[Long, String]

  /** Runs one request; returns its rows. Records timings when traced. */
  private def exec(r: Req, cursor: Option[(java.time.Instant, Long)], trace: Trace, p: Phase, reqId: Long): Array[Row] =
    trace.span(layerOf(r), r.shape, reqId) {
      if (trace.on) {
        shapeReqs(reqId) = r.shape
        probeSidecars(r, trace)
      }
      val t0 = System.nanoTime()
      val df = build(r, cursor)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val rows = df.collect()
      val t3 = System.nanoTime()
      p.opMs += (t3 - t0) / 1e6; p.opKind += r.shape
      p.opKey += keyOf(r, cursor)
      if (trace.on) {
        phaseMs.getOrElseUpdate("analyze", ArrayBuffer.empty) += (t1 - t0) / 1e6
        phaseMs.getOrElseUpdate("plan", ArrayBuffer.empty) += (t2 - t1) / 1e6
        phaseMs.getOrElseUpdate("execute", ArrayBuffer.empty) += (t3 - t2) / 1e6
        phaseMs.getOrElseUpdate(r.shape, ArrayBuffer.empty) += (t3 - t0) / 1e6
        scanRows += Trace.scanTotals(df.queryExecution.executedPlan)._4
        returned += rows.length
      }
      rows
    }

  /** Traced only: the pruning decision behind a search or range request,
    * as its own span (the request's own probe then hits the probe cache).
    * A file the sidecar has not indexed yet counts against coverage. */
  private def probeSidecars(r: Req, trace: Trace): Unit = {
    lazy val live = logs.inputFiles.toSeq
    def account(layer: String, ps: Seq[ZoneMapIndex.Pruning], ms: Double): Unit = {
      pruneMs(layer) += ms
      ps.foreach { x =>
        val (a, b) = pruned(layer); pruned(layer) = (a + x.pruned, b + live.size)
        coverage += 1.0 - x.unindexed.toDouble / math.max(1, live.size)
      }
    }
    r.shape match {
      case "search" =>
        val (ps, ms) = Workload.timed(trace.span("ngram", "pruneAll")(
          NgramIndex.pruneAll(spark, table, LogQuery.requiredLogNeedles(r.q), live, IngestPipe.Ngram.n)))
        account("ngram", ps, ms)
      case "range" =>
        val (ps, ms) = Workload.timed(trace.span("zonemap", "pruneAll")(
          ZoneMapIndex.pruneAll(spark, table, Seq(("timestamp", r.start.toDouble, r.end.toDouble)), live)))
        account("zonemap", ps, ms)
      case _ =>
    }
  }

  private def keyOf(r: Req, cursor: Option[(java.time.Instant, Long)]): String =
    r.key + cursor.fold("")(c => s"@${c._1}/${c._2}")

  private def remember(r: Req, cursor: Option[(java.time.Instant, Long)], rows: Array[Row], p: Phase): Unit = {
    val key = keyOf(r, cursor)
    val got = Workload.render(rows)
    answers.get(key) match {
      case Some((_, first, _)) if first != got =>
        System.err.println(s"[perfbench] ${r.shape} answered differently on repeat: $key")
        p.failed += 1
      case Some(_) =>
      case None => answers(key) = (r, got, cursor)
    }
  }

  /** Untimed passes over the pool: request rates still climb for several
    * cycles after the first pass, as the JIT compiles the planner. */
  override def warm(): Unit = {
    val p = new Phase
    val off = new Trace(spark)
    (1 to 4).foreach(_ => pool.foreach(r => runOne(r, off, p, -1L)))
    pool.foreach(isRouted)
    if (traced) { corpus.increment(off, p); corpus.knn(off, p) }
  }

  /** A request, plus its cursor page when it is a logs page. */
  private def runOne(r: Req, trace: Trace, p: Phase, reqId: Long): Unit = {
    p.attempted += 1
    try {
      val rows = exec(r, None, trace, p, reqId)
      remember(r, None, rows, p)
      if (r.shape == "logs" && rows.nonEmpty) {
        val last = rows.last
        val cursor = Some((last.getTimestamp(0).toInstant, last.getLong(1)))
        val next = r.copy(shape = "logs_after")
        p.attempted += 1
        val rows2 = exec(next, cursor, trace, p, reqId + 1)
        remember(next, cursor, rows2, p)
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] ${r.shape} failed: $e"); p.failed += 1
    }
  }

  def phase(seconds: Double, trace: Trace): Phase = {
    val p = new Phase
    p.t0 = trace.clock()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var reqId = 0L
    // whole cycles: every pool request once, in a seeded order, until the
    // deadline has passed; so every run weighs the shapes alike
    while (System.nanoTime() < deadline) {
      val order = pool.indices.map(i => (rnd.nextLong(), i)).sortBy(_._1).map(_._2)
      val (round0, ops0) = (System.nanoTime(), p.opMs.size)
      order.foreach { i => runOne(pool(i), trace, p, reqId); reqId += 2 }
      p.roundRates += (p.opMs.size - ops0) / ((System.nanoTime() - round0) / 1e9)
    }
    if (trace.on) (1 to CorpusRounds).foreach { _ =>
      corpus.increment(trace, p); corpus.knn(trace, p)
    }
    p.t1 = trace.clock()
    p
  }

  def check(): (Long, Long) = {
    var bad = 0L
    answers.values.foreach { case (r, got, cursor) =>
      val want = Workload.render(raw(r, cursor).collect())
      if (want != got) {
        bad += 1
        System.err.println(s"[perfbench] ${r.shape} differs from the raw answer: ${r.key}")
      }
    }
    val (made, wrong) = if (traced) corpus.check() else (0L, 0L)
    (answers.size.toLong + made, bad + wrong)
  }

  /** Log table, its sidecars and the rollup, over the msgpack input. */
  def storedRatio: Double =
    (Workload.dirBytes(Paths.get(table)) + Workload.dirBytes(Paths.get(rollupPath))).toDouble /
      gen.inputBytes

  def layers(p: Phase, t: Trace): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val reqs = p.opMs.size.max(1).toDouble
    val idx = t.spanById
    def rootReq(s: Long): Long = idx.get(s).map(_.req).getOrElse(-1L)
    val jobs = t.jobs.asScala.toSeq.filter(j => j.start >= p.t0 && j.end <= p.t1)
    val jobsPerShape = jobs.groupBy(j => shapeReqs.getOrElse(rootReq(j.span), "")).map {
      case (s, js) => s -> js.size.toDouble
    }
    val reqsPerShape = shapeReqs.values.groupBy(identity).map { case (s, xs) => s -> xs.size }
    val shapes = Seq("logs", "logs_after", "volume", "aggregate", "fields", "search", "range")
    val routedReqs = answers.values.count { case (r, _, _) => isRouted(r) }
    val routable = answers.values.count { case (r, _, _) => r.shape == "volume" || r.shape == "aggregate" }
    def mean(k: String) = phaseMs.get(k).map(xs => xs.sum / xs.size).getOrElse(0.0)
    def ratio(k: String) = { val (a, b) = pruned(k); if (b > 0) a.toDouble / b else 0.0 }
    val (ng, zm) = IngestPipe.sidecarBytes(Paths.get(table))
    shapes.map(s => s"logquery.$s.p50_ms" -> phaseMs.get(s).map(x => Workload.median(x.toSeq)).getOrElse(0.0)).toMap ++
      shapes.map(s => s"logquery.$s.jobs" ->
        reqsPerShape.get(s).map(n => jobsPerShape.getOrElse(s, 0.0) / n).getOrElse(0.0)).toMap ++
      Map(
        "logquery.analyze_ms" -> mean("analyze"),
        "logquery.plan_ms" -> mean("plan"),
        "logquery.execute_ms" -> mean("execute"),
        "logquery.rows_read_per_row_returned" -> scanRows.toDouble / math.max(1L, returned),
        "ngram.prune_ms" -> Workload.median(pruneMs("ngram").toSeq),
        "ngram.files_pruned_ratio" -> ratio("ngram"),
        "zonemap.prune_ms" -> Workload.median(pruneMs("zonemap").toSeq),
        "zonemap.files_pruned_ratio" -> ratio("zonemap"),
        "ngram.sidecar_bytes" -> ng.toDouble,
        "zonemap.sidecar_bytes" -> zm.toDouble,
        "sidecar.coverage_ratio" -> (if (coverage.isEmpty) 0.0 else coverage.sum / coverage.size),
        "rollup.refresh_ms" -> refreshMs,
        "rollup.days_refreshed" -> daysRefreshed.toDouble,
        "rollup.routed_ratio" -> (if (routable > 0) routedReqs.toDouble / routable else 0.0)) ++
      (if (traced) corpus.layers else Map.empty) ++ PhaseStats.spark(p, t, reqs) ++ PhaseStats.selfTimes(p, t)
  }

  def close(): Unit = ()
}

// --------------------------------------------------------------------- corpus

/** The LLM-data side of the query mix: dedup increments against a
  * persisted MinHash index and exact k-NN batches against an IVF index. */
final class Corpus(spark: SparkSession, seed: Long) {
  import spark.implicits._
  private var gen: CorpusGen = _
  private var dedupDir: String = _
  private var vecPath: String = _
  private var index: Similarity.IvfIndex = _
  private var corpusVecs: Vector[(Long, Array[Double])] = Vector.empty
  private var nextQuery = 0L
  private var buildMs = 0.0
  val Threshold = 0.7
  val K = 5
  val Cells = 8
  val IncrementDocs = 100
  val QueriesPerBatch = 16

  // outputs kept for the checks
  private val increments = ArrayBuffer.empty[(Vector[Long], Set[(Long, Long)])]
  private val knnOut = mutable.Map.empty[Long, Vector[String]]
  // traced-phase counters
  private val incMs = ArrayBuffer.empty[Double]
  private val appendMs = ArrayBuffer.empty[Double]
  private val knnMs = ArrayBuffer.empty[Double]
  private var candidates = 0L; private var verified = 0L; private var pairsScored = 0L

  def setup(d: Path): Unit = {
    gen = new CorpusGen(seed)
    increments.clear(); knnOut.clear()
    val docs = gen.docs(2000, 0.02)
    dedupDir = d.resolve("dedup").toString
    DedupIndex.build(docs.toDF("id", "text"), "id", "text", dedupDir)
    corpusVecs = gen.vectors(0L, 6000)
    vecPath = d.resolve("vectors").toString
    corpusVecs.toDF("id", "vec").write.parquet(vecPath)
    val (idx, ms) = Workload.timed(Similarity.buildIvfIndex(
      spark.read.parquet(vecPath), "id", "vec", numCells = Cells, seed = seed))
    buildMs = ms
    index = idx
    nextQuery = 1L << 40
  }

  def increment(trace: Trace, p: Phase): Unit = {
    val batch = gen.docs(IncrementDocs, 0.15)
    val df = batch.toDF("id", "text")
    p.attempted += 1
    try {
      val t0 = System.nanoTime()
      val pairsDf = trace.span("dedup", "incrementalPairs")(
        DedupIndex.incrementalPairs(df, "id", "text", dedupDir, Threshold))
      val pairs = trace.span("dedup", "incrementalPairs")(pairsDf.collect())
      val t1 = System.nanoTime()
      trace.span("dedup", "append")(DedupIndex.append(df, "id", "text", dedupDir))
      val t2 = System.nanoTime()
      p.opMs += (t2 - t0) / 1e6; p.opKind += "dedup"
      increments += ((batch.map(_._1),
        pairs.map(r => (r.getLong(0), r.getLong(1))).toSet))
      if (trace.on) {
        incMs += (t1 - t0) / 1e6; appendMs += (t2 - t1) / 1e6
        candidates += Trace.joinOutputRows(pairsDf.queryExecution.executedPlan)
        verified += pairs.length
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] dedup increment failed: $e"); p.failed += 1
    }
  }

  def knn(trace: Trace, p: Phase): Unit = {
    val qs = gen.queries(corpusVecs, nextQuery, QueriesPerBatch)
    nextQuery += QueriesPerBatch
    p.attempted += 1
    try {
      val t0 = System.nanoTime()
      val df = trace.span("similarity", "knnJoinWithIndex")(
        Similarity.knnJoinWithIndex(index, qs.toDF("id", "vec"), "id", "vec", K, nprobe = Cells))
      val rows = trace.span("similarity", "knnJoinWithIndex")(df.collect())
      val ms = (System.nanoTime() - t0) / 1e6
      p.opMs += ms; p.opKind += "knn"
      rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
        knnOut(q) = Workload.render(rs.sortBy(_.getInt(1)))
      }
      queriesAsked ++= qs
      if (trace.on) {
        knnMs += ms
        pairsScored += Trace.joinOutputRows(df.queryExecution.executedPlan)
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] knn batch failed: $e"); p.failed += 1
    }
  }
  private val queriesAsked = ArrayBuffer.empty[(Long, Array[Double])]

  def check(): (Long, Long) = {
    var made = 0L; var bad = 0L
    val planted = gen.planted.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    increments.foreach { case (ids, found) =>
      val fresh = ids.toSet
      made += 1
      // a planted pair is due in the increment that holds its later document
      val want = planted.filter { case (a, b) =>
        fresh(b) && Shingles.jaccard(gen.text(a), gen.text(b)) >= Threshold
      }
      val missed = want.filterNot(found)
      val wrong = found.filter { case (a, b) =>
        !(fresh(a) || fresh(b)) || Shingles.jaccard(gen.text(a), gen.text(b)) < Threshold
      }
      if (missed.nonEmpty || wrong.nonEmpty) {
        bad += 1
        System.err.println(s"[perfbench] dedup increment: missed=${missed.take(3)} wrong=${wrong.take(3)}")
      }
    }
    if (queriesAsked.nonEmpty) {
      made += 1
      val brute = Similarity.bruteTopK(spark.read.parquet(vecPath),
        queriesAsked.toSeq.toDF("id", "vec"), "id", "vec", K).collect()
      val want = brute.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> Workload.render(rs.sortBy(_.getInt(1)))
      }
      if (want != knnOut.toMap) {
        bad += 1
        System.err.println("[perfbench] knn batches differ from bruteTopK")
      }
    }
    (made, bad)
  }

  def layers: Map[String, Double] =
    Map(
      "dedup.incremental_pairs_ms" -> Workload.median(incMs.toSeq),
      "dedup.append_ms" -> Workload.median(appendMs.toSeq),
      "dedup.candidate_pairs" -> candidates.toDouble / incMs.size.max(1),
      "dedup.verified_ratio" -> (if (candidates > 0) verified.toDouble / candidates else 0.0),
      "dedup.index_bytes" -> Workload.dirBytes(Paths.get(dedupDir)).toDouble,
      "similarity.knn_ms" -> Workload.median(knnMs.toSeq),
      "similarity.pairs_scored" -> pairsScored.toDouble / knnMs.size.max(1),
      "similarity.index_build_ms" -> buildMs)
}
