package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** A timed call: wall-clock bounds in epoch milliseconds (fractional). */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    req: Long, start: Double, end: Double)

/** A Spark job as the listener saw it, with the layer its call site names. */
final case class JobSpan(id: Int, start: Double, end: Double, callSite: String,
    span: Long, streaming: Boolean, stages: Seq[Int], planLayer: Option[String])

/** Summed task metrics of one stage. */
final class StageAcc {
  var tasks = 0L; var taskMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L
}

/** Spans around the benchmark's calls into the library, plus Spark job,
  * stage, query-execution and streaming-progress events from listeners the
  * benchmark registers. Everything stays in memory until the run ends.
  * When tracing is off, [[span]] only runs its body: untraced runs register
  * no listener at all.
  */
final class Trace(spark: SparkSession) {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobSpan]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()
  val progress = new ConcurrentLinkedQueue[java.util.Map[String, java.lang.Long]]()
  val sqlActions = new AtomicLong(0)
  val scanFiles = new AtomicLong(0)
  val scanPartitions = new AtomicLong(0)
  val scanBytes = new AtomicLong(0)
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, JobSpan]()
  private val execLayer = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val PropSpan = "perfbench.span"

  /** Epoch ms with sub-ms resolution, aligned to the listener clock. */
  private val baseEpoch = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def clock(): Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6

  /** Runs `body` as a span of `layer`. Jobs it submits carry the span id. */
  def span[T](layer: String, name: String, req: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.get().headOption
      val id = ids.incrementAndGet()
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(PropSpan)
      val s0 = Span(id, parent.map(_.id).getOrElse(0L), layer, name,
        if (req >= 0) req else parent.map(_.req).getOrElse(-1L), clock(), 0.0)
      stack.set(s0 :: stack.get())
      sc.setLocalProperty(PropSpan, id.toString)
      try body
      finally {
        stack.set(stack.get().tail)
        sc.setLocalProperty(PropSpan, prev)
        spans.add(s0.copy(end = clock()))
      }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      // the streaming engine pins a call site as a job property; any other
      // job's call site is the name of its result stage
      val site = p.flatMap(x => Option(x.getProperty("callSite.short")))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
      val span = p.flatMap(x => Option(x.getProperty(PropSpan))).map(_.toLong).getOrElse(0L)
      val streaming = p.exists(x => x.getProperty("sql.streaming.queryId") != null)
      val plan = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execLayer.get(id.toLong)))
      jobStarts.put(e.jobId,
        JobSpan(e.jobId, e.time.toDouble, 0.0, site, span, streaming, e.stageIds, plan))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time.toDouble)))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Trace.planLayer(s.physicalPlanDescription).foreach(execLayer.put(s.executionId, _))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
      val m = e.taskMetrics
      acc.synchronized {
        acc.tasks += 1
        acc.taskMs += e.taskInfo.duration
        if (m != null) {
          acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      sqlActions.incrementAndGet()
      val (files, parts, bytes, _) = Trace.scanTotals(qe.executedPlan)
      scanFiles.addAndGet(files); scanPartitions.addAndGet(parts); scanBytes.addAndGet(bytes)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      sqlActions.incrementAndGet()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e.progress.durationMs)
  }

  /** Registers the listeners and starts recording. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stops recording; waits for queued listener events to be delivered. */
  def stop(): Unit = {
    on = false
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the asynchronous listener buses have caught up. */
  def drain(): Unit = {
    // the listener bus has no public flush; a job round-trip orders after
    // everything posted before it, and a short settle covers the SQL and
    // streaming buses
    spark.sparkContext.parallelize(Seq(1), 1).count()
    Thread.sleep(300)
  }

  def spanById: Map[Long, Span] = spans.asScala.map(s => s.id -> s).toMap
}

object Trace {
  /** Source file → layer, for Spark job call sites. */
  val layerOfFile: Map[String, String] = Map(
    "MsgpackExpressions.scala" -> "expressions",
    "IngestStream.scala" -> "ingest", "Ingest.scala" -> "ingest",
    "LogSchema.scala" -> "logschema",
    "NgramIndex.scala" -> "ngram", "ZoneMapIndex.scala" -> "zonemap",
    "SidecarIndex.scala" -> "sidecar", "Rollup.scala" -> "rollup",
    "LogQuery.scala" -> "logquery",
    "Dedup.scala" -> "dedup", "DedupIndex.scala" -> "dedup",
    "Similarity.scala" -> "similarity")

  /** "collect at NgramIndex.scala:195" → "NgramIndex.scala". */
  def siteFile(callSite: String): String = {
    val at = callSite.lastIndexOf(" at ")
    val s = if (at >= 0) callSite.substring(at + 4) else callSite
    val colon = s.lastIndexOf(':')
    if (colon > 0) s.substring(0, colon) else s
  }

  /** The partition-column list of a write partitioned by `date`. */
  private val DatePartitioned = """\[date#\d+\]""".r

  /** The layer of a SQL execution whose job call site is not telling: the
    * streaming sink runs every job under the call site of the query's
    * `start`, so its jobs are told apart by what their plan writes or
    * probes. */
  def planLayer(plan: String): Option[String] = {
    def index(dir: String, layer: String) =
      if (!plan.contains(dir)) None
      else Some(if (plan.contains("LeftAnti")) "sidecar" else layer)
    index("_graft_ngram_index", "ngram")
      .orElse(index("_graft_zonemap_index", "zonemap"))
      .orElse(if (plan.contains("InsertIntoHadoopFsRelationCommand") && DatePartitioned.findFirstIn(plan).isDefined)
        Some("logschema") else None)
  }

  /** The layer a job belongs to: its call site's module, else what its SQL
    * plan touches, else the layer of the benchmark span that submitted it,
    * else the streaming sink, else the engine. */
  def jobLayer(j: JobSpan, spans: Map[Long, Span]): String =
    layerOfFile.get(siteFile(j.callSite)).orElse(j.planLayer)
      .orElse(spans.get(j.span).map(_.layer))
      .getOrElse(if (j.streaming) "ingest" else "spark")

  /** Self time per layer over [t0, t1]: each instant goes to the innermost
    * interval covering it — a Spark job over a benchmark span, a deeper
    * span over its parent, a later start over an earlier one. Instants no
    * interval covers come back under "unattributed", so the values sum to
    * t1 - t0.
    */
  def selfTimes(t0: Double, t1: Double, spans: Seq[Span], jobs: Seq[JobSpan],
      spanIdx: Map[Long, Span]): Map[String, Double] = {
    def depth(s: Span): Int = {
      var d = 0; var p = s.parent
      while (p != 0L && spanIdx.contains(p)) { d += 1; p = spanIdx(p).parent }
      d
    }
    // (start, end, priority, layer)
    val ivs: Array[(Double, Double, Double, String)] =
      (spans.map(s => (s.start, s.end, depth(s).toDouble + s.start * 1e-15, s.layer)) ++
        jobs.map(j => (j.start, j.end, 1e6 + j.start * 1e-15, jobLayer(j, spanIdx))))
        .map { case (a, b, p, l) => (math.max(a, t0), math.min(b, t1), p, l) }
        .filter { case (a, b, _, _) => b > a }
        .toArray
    val cuts = (ivs.flatMap { case (a, b, _, _) => Seq(a, b) } ++ Seq(t0, t1))
      .distinct.sorted
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var i = 0
    while (i < cuts.length - 1) {
      val a = cuts(i); val b = cuts(i + 1); val mid = (a + b) / 2
      var best: String = "unattributed"; var bp = Double.NegativeInfinity
      ivs.foreach { case (s, e, p, l) =>
        if (s <= mid && mid < e && p > bp) { bp = p; best = l }
      }
      out(best) += b - a
      i += 1
    }
    out.toMap
  }

  /** Every physical node of an executed plan, through adaptive and reused
    * stages and subqueries. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = Seq.newBuilder[SparkPlan]
    def go(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec => go(q.plan)
      case r: ReusedExchangeExec => go(r.child)
      case other =>
        out += other
        other.children.foreach(go)
        other.subqueries.foreach(go)
    }
    go(plan)
    out.result()
  }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Scan totals of an executed plan: (files, partitions, bytes, rows). */
  def scanTotals(plan: SparkPlan): (Long, Long, Long, Long) = {
    val scans = nodes(plan).filter(_.nodeName.startsWith("Scan"))
    (scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "numPartitions")).sum,
      scans.map(metric(_, "filesSize")).sum, scans.map(metric(_, "numOutputRows")).sum)
  }

  /** Output rows of the last join node in the plan (nearest the root). */
  def joinOutputRows(plan: SparkPlan): Long =
    nodes(plan).find(_.nodeName.contains("Join")).map(metric(_, "numOutputRows")).getOrElse(0L)

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
