package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index.LocalIndex
import graft.score.{BM25, BM25Exact, ClassicTFIDF, Similarity}
import graft.search._

/** Whole-algebra fuzz: random query trees mixing EVERY node type the engine
  * supports (boolean shapes with minShouldMatch, exact/sloppy/multi
  * phrases, spans, multi-term, constant/dismax/filtered/cached, function
  * scoring) run against a multi-segment index and compared bit-for-bit with
  * the brute-force executable spec — the QueryUtils/CheckHits randomized
  * discipline of the reference test suite
  * (/root/reference/src/test/search/QueryUtils.cpp) applied to the full
  * query ADT at once. */
class FuzzSpec extends AnyFunSuite with TempDirs {

  test("800 random mixed query trees: engine == spec bit-for-bit") {
    val rnd = new scala.util.Random(777)
    val texts = (0 until 250).map { _ =>
      (0 until (3 + rnd.nextInt(10))).map(_ => QueryGen.vocab(rnd.nextInt(QueryGen.vocab.size))).mkString(" ")
    }
    val dir = tmpDir()
    LocalIndex.build(dir, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      "whitespace", docsPerSegment = 41)
    val corpus = BruteForce.analyzeCorpus(Analyzer.byName("whitespace"),
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    graft.search.ReaderCache.clear()

    val sims = Seq[Similarity](BM25(), ClassicTFIDF, BM25Exact())
    var nonEmpty = 0
    for (run <- 0 until 800) {
      val q = QueryGen.randQuery(rnd, 0)
      val sim = sims(run % sims.size)
      val k = 1 + rnd.nextInt(12)
      val engine =
        try LocalIndex.search(dir, q, k, sim, useWand = rnd.nextBoolean())
        catch { case e: Throwable => fail(s"run=$run q=$q threw $e") }
      val spec = BruteForce.search(corpus, q, k, sim)
      assert(engine.map(_.docId).toSeq == spec.map(_.docId).toSeq,
        s"run=$run sim=$sim k=$k q=$q\n engine=${engine.toSeq}\n spec=${spec.toSeq}")
      engine.zip(spec).foreach { case (e, s) =>
        assert(e.score == s.score, s"run=$run sim=$sim doc ${e.docId}: ${e.score} != ${s.score}\n q=$q")
      }
      if (engine.nonEmpty) nonEmpty += 1
    }
    // the generator must actually exercise matching queries
    assert(nonEmpty > 400, s"only $nonEmpty of 800 queries matched anything")
  }
}
