package perfbench

import graft.expressions.MsgpackWire
import graft.expressions.MsgpackWire.EventTime
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Draws from a Zipf law over ranks 0..n-1 (rank 0 most frequent). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def draw(rnd: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One flush: the chunk files to land, and what they hold. */
final case class Flush(
    index: Int,
    chunks: Vector[(String, Array[Byte])],
    events: Int,
    torn: Int,
    rows: Vector[LogGen.RowKey])

object LogGen {
  /** What a decoded row contributes to the tallies: its day, namespace and
    * the `content.bytes` value (an integer, so sums are exact). */
  final case class RowKey(day: String, namespace: String, bytes: Long)

  /** Log line templates: (weight, template). `{n}` is a number, `{ip}` an
    * address, `{w}` a word. The rare templates carry the rare needles. */
  val templates: Vector[(Double, String)] = Vector(
    30.0 -> "GET /api/v1/orders/{n} 200 {n}ms",
    12.0 -> "POST /api/v1/payments {n} {n}ms",
    10.0 -> "cache miss key=user:{n}",
    8.0 -> "user {n} logged in from {ip}",
    6.0 -> "scheduled job {w} finished in {n}ms",
    5.0 -> "retrying request to {w} attempt {n}",
    5.0 -> "flushed {n} records to sink {w}",
    4.0 -> "connection reset by peer remote={ip}",
    2.0 -> "slow query on table {w} took {n}ms",
    0.3 -> "OOMKilled container {w} exceeded memory limit",
    0.2 -> "certificate expired for host {w}",
    0.1 -> "panic: runtime error: index out of range [{n}]")

  val commonNeedles: Vector[String] =
    Vector("GET /api/v1/orders", "cache miss key", "logged in from")
  val rareNeedles: Vector[String] =
    Vector("panic: runtime error", "certificate expired", "OOMKilled container")

  val levels: Vector[String] = Vector("info", "info", "info", "warn", "error")
  val words: Vector[String] = Vector("alpha", "bravo", "charlie", "delta",
    "echo", "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
  val countries: Vector[String] = Vector("de", "us", "fr", "jp", "br")

  /** 2026-01-01T00:00:00Z: the first flush's event-time window starts here. */
  val T0Sec: Long = 1767225600L

  /** Largest chunk: 256 KiB, the input buffer limit of klogs' example
    * Fluent Bit configuration (BASELINE.md). A flush reaches the sink as
    * the chunks its input filled. */
  val ChunkBytes: Int = 256 * 1024
  /** Share of events dated one day before their flush's window. */
  val LateShare: Double = 0.02
  /** Share of chunks whose last event is cut in half. */
  val TornShare: Double = 0.05
}

/** Seeded generator of Fluent Bit msgpack chunks with a Kubernetes spine.
  *
  * Flush `f` carries `eventsPerFlush` events whose time falls in
  * `[T0 + f*windowSec, T0 + (f+1)*windowSec)`; a fixed share arrives late,
  * dated one day earlier. The events are packed, in order, into chunks of at
  * most `ChunkBytes`. Namespace, app and pod follow a Zipf law. Each record's
  * nested `content` object mixes string and number leaves at depths 1 to 3;
  * its `seq` leaf is unique across the generator. A fixed share of chunks
  * ends in a torn event, which the decoder drops while keeping the prefix.
  * Everything derives from `seed`, so the same seed gives byte-identical
  * chunks.
  */
final class LogGen(seed: Long, eventsPerFlush: Int, windowSec: Long) {
  import LogGen._

  private val rnd = new java.util.SplittableRandom(seed)
  private var nextSeq = 0L
  private var flushNo = 0

  val clusters: Vector[String] = Vector("prod-eu", "prod-us")
  val namespaces: Vector[String] = Vector("checkout", "payments", "search",
    "identity", "catalog", "billing", "gateway", "ledger")
  val apps: Map[String, Vector[String]] = namespaces.map(ns =>
    ns -> Vector("api", "worker", "cron", "proxy").map(a => s"$ns-$a")).toMap
  val hosts: Vector[String] = Vector.tabulate(6)(i => s"node-$i")
  private val nsZipf = new Zipf(namespaces.size, 1.1)
  private val appZipf = new Zipf(4, 1.0)
  private val podZipf = new Zipf(3, 0.8)
  private val tmplCdf: Array[Double] = {
    val w = templates.map(_._1)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  // totals, for the checks
  var emitted = 0L
  var tornEvents = 0L
  var inputBytes = 0L
  val tally: mutable.Map[(String, String), (Long, Long)] = mutable.Map.empty

  private def pick[T](xs: Vector[T]): T = xs(rnd.nextInt(xs.size))

  private def logLine(): String = {
    val u = rnd.nextDouble()
    val i = math.min(templates.size - 1,
      tmplCdf.indexWhere(_ >= u) match { case -1 => templates.size - 1; case k => k })
    val sb = new StringBuilder
    val t = templates(i)._2
    var j = 0
    while (j < t.length) {
      if (t.startsWith("{n}", j)) { sb.append(rnd.nextInt(1, 5000)); j += 3 }
      else if (t.startsWith("{ip}", j)) {
        sb.append(s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"); j += 4
      } else if (t.startsWith("{w}", j)) { sb.append(pick(words)); j += 3 }
      else { sb.append(t.charAt(j)); j += 1 }
    }
    sb.toString
  }

  private def content(seq: Long, bytes: Long): ListMap[String, Any] = {
    var c = ListMap[String, Any]("seq" -> seq, "bytes" -> bytes, "level" -> pick(levels))
    if (rnd.nextDouble() < 0.6)
      c += "http" -> ListMap[String, Any](
        "method" -> (if (rnd.nextBoolean()) "GET" else "POST"),
        "status" -> (if (rnd.nextDouble() < 0.1) 500L + rnd.nextInt(4) else 200L),
        "latency_ms" -> (rnd.nextInt(1, 200000) / 100.0))
    if (rnd.nextDouble() < 0.3)
      c += "user" -> ListMap[String, Any](
        "id" -> rnd.nextInt(100000).toLong,
        "geo" -> ListMap[String, Any]("country" -> pick(countries), "zone" -> rnd.nextInt(8).toLong))
    c
  }

  /** The next event: its wire form and the row it should become. */
  private def event(flush: Int): ((Any, Any), LogGen.RowKey) = {
    val late = rnd.nextDouble() < LateShare
    val sec = T0Sec + flush * windowSec + rnd.nextLong(windowSec) - (if (late) 86400L else 0L)
    val nsec = rnd.nextInt(1000000) * 1000L
    val ns = namespaces(nsZipf.draw(rnd))
    val app = apps(ns)(appZipf.draw(rnd))
    val pod = s"$app-${podZipf.draw(rnd)}"
    val seq = nextSeq; nextSeq += 1
    val bytes = rnd.nextLong(40L, 4000L)
    val record = ListMap[String, Any](
      "log" -> logLine(),
      "cluster" -> pick(clusters),
      "kubernetes" -> ListMap[String, Any](
        "namespace_name" -> ns,
        "labels" -> ListMap[String, Any]("app" -> app),
        "pod_name" -> pod,
        "container_name" -> "main",
        "host" -> pick(hosts)),
      "content" -> content(seq, bytes))
    val day = java.time.LocalDate.ofEpochDay(Math.floorDiv(sec, 86400L)).toString
    ((EventTime(sec, nsec), record), RowKey(day, ns, bytes))
  }

  /** The next flush's chunk files, named so the file source orders them. */
  def nextFlush(): Flush = {
    val f = flushNo; flushNo += 1
    val evs = Vector.fill(eventsPerFlush) {
      val (wire, row) = event(f)
      (MsgpackWire.encodeChunk(Seq(wire)), row)
    }
    // a chunk is a run of whole events; the first event always fits
    val groups = Vector.newBuilder[Vector[(Array[Byte], RowKey)]]
    var cur = Vector.empty[(Array[Byte], RowKey)]
    var size = 0
    evs.foreach { e =>
      if (cur.nonEmpty && size + e._1.length > ChunkBytes) { groups += cur; cur = Vector.empty; size = 0 }
      cur :+= e; size += e._1.length
    }
    groups += cur
    var torn = 0
    val rows = Vector.newBuilder[RowKey]
    val chunks = groups.result().zipWithIndex.map { case (g, c) =>
      // a torn chunk keeps half of its last event: the decoder stops there
      // and returns the events before it
      val tear = g.size > 1 && rnd.nextDouble() < TornShare
      val kept = if (tear) g.init else g
      val buf = new java.io.ByteArrayOutputStream(ChunkBytes)
      kept.foreach(e => buf.write(e._1))
      if (tear) { buf.write(g.last._1, 0, g.last._1.length / 2); torn += 1 }
      kept.foreach(e => rows += e._2)
      (f"chunk-$f%06d-$c%03d.msgpack", buf.toByteArray)
    }
    val out = rows.result()
    out.foreach { k =>
      val (n, s) = tally.getOrElse((k.day, k.namespace), (0L, 0L))
      tally((k.day, k.namespace)) = (n + 1, s + k.bytes)
    }
    emitted += eventsPerFlush
    tornEvents += torn
    inputBytes += chunks.map(_._2.length.toLong).sum
    Flush(f, chunks, eventsPerFlush, torn, out)
  }

  /** Rows that should be in the table: emitted minus torn events. */
  def expectedRows: Long = emitted - tornEvents

  /** Event-time bounds (epoch seconds) of everything emitted so far. */
  def timeRange: (Long, Long) = (T0Sec - 86400L, T0Sec + flushNo * windowSec)
}

/** Seeded document and embedding corpora for the dedup and k-NN operators.
  *
  * Documents are 60 Zipf-drawn words. A planted near-duplicate copies a
  * source document and substitutes one inner word, which leaves word
  * 3-shingle Jaccard near 0.9. Embeddings are noisy draws around cluster
  * centres; each k-NN query is a small perturbation of a corpus vector, so
  * it has a planted nearest neighbour.
  */
final class CorpusGen(seed: Long) {
  private val Dim = 32
  private val Centres = 24
  private val rnd = new java.util.SplittableRandom(seed ^ 0x5deece66dL)
  private val vocab: Vector[String] = {
    val syl = Vector("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze",
      "ba", "do", "fe", "gu", "hi", "ja", "pe")
    Vector.tabulate(3000)(i => syl(i % 16) + syl((i / 16) % 16) + syl(i / 256))
  }
  private val wordZipf = new Zipf(vocab.size, 0.9)
  val docWords = 60

  private val texts = mutable.ArrayBuffer.empty[String]
  /** Planted (source id, copy id) pairs, in emission order. */
  val planted = mutable.ArrayBuffer.empty[(Long, Long)]

  def text(id: Long): String = texts(id.toInt)

  private def freshDoc(): String =
    Vector.fill(docWords)(vocab(wordZipf.draw(rnd))).mkString(" ")

  private def nearDup(src: String): String = {
    val ws = src.split(' ')
    val pos = 3 + rnd.nextInt(docWords - 6)
    var w = ws(pos)
    while (w == ws(pos)) w = vocab(rnd.nextInt(vocab.size))
    ws(pos) = w
    ws.mkString(" ")
  }

  /** Appends `n` documents: a `dupShare` of them are near-duplicates of a
    * random earlier document. Returns the new (id, text) rows. */
  def docs(n: Int, dupShare: Double): Vector[(Long, String)] = {
    val first = texts.size.toLong
    Vector.tabulate(n) { i =>
      val id = first + i
      val t =
        if (texts.nonEmpty && rnd.nextDouble() < dupShare) {
          val src = rnd.nextInt(texts.size).toLong
          planted += ((src, id))
          nearDup(texts(src.toInt))
        } else freshDoc()
      texts += t
      (id, t)
    }
  }

  private val centreVecs: Vector[Array[Double]] =
    Vector.fill(Centres)(Array.fill(Dim)(rnd.nextDouble() * 2 - 1))

  private def gauss(): Double = {
    // Box-Muller over the seeded stream
    val u = math.max(1e-12, rnd.nextDouble()); val v = rnd.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  /** `n` corpus vectors with ids `first..first+n-1`. */
  def vectors(first: Long, n: Int): Vector[(Long, Array[Double])] =
    Vector.tabulate(n) { i =>
      val c = centreVecs(rnd.nextInt(Centres))
      (first + i, c.map(x => x + 0.25 * gauss()))
    }

  /** `n` query vectors, each near a random corpus vector. */
  def queries(corpus: IndexedSeq[(Long, Array[Double])], first: Long, n: Int)
      : Vector[(Long, Array[Double])] =
    Vector.tabulate(n) { i =>
      val (_, v) = corpus(rnd.nextInt(corpus.size))
      (first + i, v.map(x => x + 0.02 * gauss()))
    }
}

/** Word 3-shingle Jaccard, computed independently of the dedup operator. */
object Shingles {
  def of(text: String, n: Int = 3): Set[String] = {
    val t = text.split(' ').filter(_.nonEmpty)
    if (t.length < n) Set(t.mkString(" "))
    else t.sliding(n).map(_.mkString(" ")).toSet
  }
  def jaccard(a: String, b: String): Double = {
    val x = of(a); val y = of(b)
    (x intersect y).size.toDouble / (x union y).size
  }
}
