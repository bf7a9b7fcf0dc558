package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index.{IndexMetaIO, LocalIndex, SegmentFormat}
import graft.score.{BM25, BM25Exact, ClassicTFIDF, Similarity}
import graft.search._

/** Deletes under fuzz: random tombstone sets x random query trees must
  * match the executable spec bit-for-bit. The spec searches the FULL
  * corpus (scoring stats deliberately keep counting tombstoned docs until
  * a merge, like the reference) and then filters dead docs from the
  * results — exactly the semantics the engine implements with its
  * collection-time del-bitset gate. */
class DeleteFuzzSpec extends AnyFunSuite with TempDirs {

  test("400 random query trees over random tombstone sets: engine == spec") {
    val rnd = new scala.util.Random(4242)
    val texts = (0 until 200).map { _ =>
      (0 until (3 + rnd.nextInt(10)))
        .map(_ => QueryGen.vocab(rnd.nextInt(QueryGen.vocab.size))).mkString(" ")
    }
    val dir = tmpDir()
    LocalIndex.build(dir, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      "whitespace", docsPerSegment = 37)
    val corpus = BruteForce.analyzeCorpus(Analyzer.byName("whitespace"),
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val meta = IndexMetaIO.readLatest(dir).get
    ReaderCache.clear()

    val sims = Seq[Similarity](BM25(), ClassicTFIDF, BM25Exact())
    var nonEmpty = 0
    for (round <- 0 until 8) {
      // a fresh random tombstone set each round, written per segment
      val dead = (0 until 200).filter(_ => rnd.nextDouble() < (round * 0.1))
        .map(_.toLong).toSet
      meta.segments.foreach { m =>
        val bits = new java.util.BitSet()
        dead.foreach { d =>
          if (d >= m.docBase && d < m.docBase + m.docCount)
            bits.set((d - m.docBase).toInt)
        }
        // gen = round: direct readers (default bound) pick the newest
        // generation, so each round's fresh set supersedes the last
        SegmentFormat.writeDeletes(
          new java.io.File(dir, SegmentFormat.segDirName(m.segId)), bits, round)
      }

      for (run <- 0 until 50) {
        val q = QueryGen.randQuery(rnd, 0)
        val sim = sims(run % sims.size)
        val k = 1 + rnd.nextInt(12)
        val engine = LocalIndex.search(dir, q, k, sim, useWand = rnd.nextBoolean())
        assert(engine.forall(h => !dead.contains(h.docId)),
          s"round=$round run=$run returned a tombstoned doc: q=$q")
        val spec = BruteForce.search(corpus, q, k + dead.size, sim)
          .filterNot(h => dead.contains(h.docId)).take(k)
        assert(engine.map(_.docId).toSeq == spec.map(_.docId).toSeq,
          s"round=$round run=$run sim=$sim k=$k q=$q\n engine=${engine.toSeq}\n spec=${spec.toSeq}")
        engine.zip(spec).foreach { case (e, s) =>
          assert(e.score == s.score,
            s"round=$round run=$run doc ${e.docId}: ${e.score} != ${s.score} q=$q")
        }
        if (engine.nonEmpty) nonEmpty += 1
      }
    }
    assert(nonEmpty > 200, s"only $nonEmpty of 400 queries matched anything")
  }
}
