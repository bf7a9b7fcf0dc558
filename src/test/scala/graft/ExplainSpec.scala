package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index.LocalIndex
import graft.score.{BM25, BM25Exact, ClassicTFIDF, Similarity}
import graft.search._

/** Explanation/score consistency — the reference's CheckHits invariant
  * (/root/reference/src/test/search/CheckHits.cpp:204-269
  * checkExplanations: explanation value == hit score, recursively sane):
  * over FuzzSpec's random whole-algebra trees, every collected hit's
  * explanation must carry exactly the collected score, and every
  * explained non-hit must say matched=false with value 0. */
class ExplainSpec extends AnyFunSuite with TempDirs {

  test("explanation value == collected score over 300 random trees, 3 sims") {
    val rnd = new scala.util.Random(4242)
    val texts = (0 until 180).map { _ =>
      (0 until (3 + rnd.nextInt(10)))
        .map(_ => QueryGen.vocab(rnd.nextInt(QueryGen.vocab.size))).mkString(" ")
    }
    val dir = tmpDir()
    LocalIndex.build(dir, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      "whitespace", docsPerSegment = 37)

    val sims = Seq[Similarity](BM25(), ClassicTFIDF, BM25Exact())
    var hitsChecked = 0
    for (run <- 0 until 300) {
      val q = QueryGen.randQuery(rnd, 0)
      val sim = sims(run % sims.size)
      val hits = LocalIndex.search(dir, q, 8, sim)
      hits.foreach { h =>
        val ex = LocalIndex.explain(dir, q, h.docId, sim)
        assert(ex.matched, s"run=$run doc=${h.docId} unmatched explanation\n q=$q\n${ex.render()}")
        assert(ex.value == h.score,
          s"run=$run doc=${h.docId}: explain=${ex.value} score=${h.score}\n q=$q\n${ex.render()}")
        hitsChecked += 1
      }
      // a doc the query does NOT match must explain as a non-match
      if (hits.nonEmpty) {
        val hitIds = LocalIndex.search(dir, q, texts.size, sim).map(_.docId).toSet
        (0L until texts.size.toLong).find(d => !hitIds.contains(d)).foreach { miss =>
          val ex = LocalIndex.explain(dir, q, miss, sim)
          assert(!ex.matched && ex.value == 0.0,
            s"run=$run non-hit $miss explained as match\n q=$q\n${ex.render()}")
        }
      }
    }
    assert(hitsChecked > 400, s"only $hitsChecked hits checked")
  }

  test("explanation details: term/bool/payload structure renders the why") {
    val texts = Seq("a|1.0 b|2.0 a|3.0", "b|4.0 a|5.0", "c d")
    val dir = tmpDir()
    LocalIndex.build(dir, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      "delimited", docsPerSegment = 2, storePayloads = true)
    val sim = graft.score.PayloadDecodingSimilarity()

    val bq = BoolQ(must = Seq(TermQ("a")), should = Seq(TermQ("b")), mustNot = Seq(TermQ("c")))
    val hit = LocalIndex.search(dir, bq, 1, sim).head
    val ex = LocalIndex.explain(dir, bq, hit.docId, sim)
    assert(ex.value == hit.score)
    assert(ex.details.exists(_.description.startsWith("weight(term=a")))
    assert(ex.details.exists(_.description.contains("coord")))
    assert(ex.render().contains("termFreq"))

    // payload near explanation exposes span score and payload factor
    val pq = PayloadNearQ(Seq(SpanTermQ("a"), SpanTermQ("b")), 0, inOrder = true)
    val ph = LocalIndex.search(dir, pq, 1, sim)
    assert(ph.nonEmpty)
    val pex = LocalIndex.explain(dir, pq, ph.head.docId, sim)
    assert(pex.value == ph.head.score)
    assert(pex.details.exists(_.description == "span score"))
    assert(pex.details.exists(_.description.contains("payload factor")))

    // non-hit explains as non-match
    val nx = LocalIndex.explain(dir, bq, 2L, sim)
    assert(!nx.matched && nx.value == 0.0)

    // multi-term queries explain through dictionary expansion
    val pfx = LocalIndex.explain(dir, PrefixQ("a"), 0L, sim)
    assert(pfx.matched && pfx.value == LocalIndex.search(dir, PrefixQ("a"), 3, sim)
      .find(_.docId == 0L).get.score)
  }

  test("IndexSearcher.explainMany == LocalIndex.explain: hits, a non-hit, a doc outside") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val rnd = new scala.util.Random(777)
    val texts = (0 until 60).map { _ =>
      (0 until (3 + rnd.nextInt(8)))
        .map(_ => QueryGen.vocab(rnd.nextInt(QueryGen.vocab.size))).mkString(" ")
    }
    val dir = tmpDir()
    LocalIndex.build(dir, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      "whitespace", docsPerSegment = 13)
    val searcher = new IndexSearcher(spark, dir)
    val sims = Seq[Similarity](BM25(), ClassicTFIDF, BM25Exact())
    var compared = 0
    for (run <- 0 until 24) {
      val q = if (run == 0) PrefixQ("fz") else QueryGen.randQuery(rnd, 0)
      val sim = sims(run % sims.size)
      val hits = LocalIndex.search(dir, q, 5, sim).map(_.docId)
      val all = LocalIndex.search(dir, q, texts.size, sim).map(_.docId).toSet
      val miss = (0L until texts.size.toLong).find(d => !all.contains(d))
      val ids = (hits ++ miss).toSeq :+ (texts.size + 7L)
      val local = ids.map(LocalIndex.explain(dir, q, _, sim))
      assert(searcher.explainMany(q, ids, sim) == local, s"run=$run q=$q")
      assert(searcher.explain(q, ids.head, sim) == local.head, s"run=$run q=$q")
      compared += ids.size
    }
    assert(compared > 60, s"only $compared explanations compared")
  }
}
