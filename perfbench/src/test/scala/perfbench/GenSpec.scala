package perfbench

import graft.expressions.MsgpackWire
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def flushes(seed: Long, n: Int): Vector[Flush] = {
    val g = new LogGen(seed, eventsPerFlush = 2000, windowSec = 3600L)
    Vector.fill(n)(g.nextFlush())
  }

  private def bytes(fs: Vector[Flush]): Vector[(String, Vector[Byte])] =
    fs.flatMap(_.chunks.map { case (n, b) => (n, b.toVector) })

  test("the same seed gives byte-identical chunks and the same tallies") {
    assert(bytes(flushes(7, 5)) == bytes(flushes(7, 5)))
    assert(flushes(7, 5).map(_.rows) == flushes(7, 5).map(_.rows))
    assert(bytes(flushes(7, 5)) != bytes(flushes(8, 5)))
  }

  test("decoding each chunk yields exactly the rows the generator tallied") {
    val fs = flushes(3, 20)
    assert(fs.map(_.torn).sum > 0, "some chunks should end in a torn event")
    fs.foreach { f =>
      val decoded = f.chunks.map(c => MsgpackWire.decodeChunk(c._2).size).sum
      assert(decoded == f.rows.size)
      assert(decoded == f.events - f.torn)
    }
  }

  test("the same seed gives the same corpora and planted pairs") {
    def corpus(seed: Long) = {
      val g = new CorpusGen(seed)
      val docs = g.docs(300, 0.1) ++ g.docs(50, 0.2)
      val vecs = g.vectors(0L, 200)
      val qs = g.queries(vecs, 1000L, 10)
      (docs, vecs.map { case (i, v) => (i, v.toVector) },
        qs.map { case (i, v) => (i, v.toVector) }, g.planted.toVector)
    }
    assert(corpus(5) == corpus(5))
    assert(corpus(5) != corpus(6))
  }

  test("planted near-duplicates sit well above the dedup threshold") {
    val g = new CorpusGen(11)
    g.docs(500, 0.2)
    assert(g.planted.nonEmpty)
    g.planted.foreach { case (a, b) =>
      assert(Shingles.jaccard(g.text(a), g.text(b)) >= 0.85)
    }
  }
}
