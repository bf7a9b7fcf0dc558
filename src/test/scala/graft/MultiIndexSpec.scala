package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexBuilder, IndexConfig}
import graft.score.{BM25, BM25Exact}
import graft.search._

/** Cross-index MultiIndexSearcher vs one combined index: with summed df,
  * combined corpus stats, and starts[] docId remapping, the multi-index
  * scores must be bit-identical to a single index holding the same docs
  * (the reference MultiSearcher's comparable-scores contract). */
class MultiIndexSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def build(texts: Seq[(String, String)]): String = {
    import spark.implicits._
    val dir = tmpDir()
    IndexBuilder.build(spark, texts.toDF("url", "text"),
      IndexConfig(dir, analyzer = "whitespace", docsPerSegment = 4,
        writeDocMap = false))
    dir
  }

  test("multi-index search == single combined index, bit-for-bit") {
    val rnd = new scala.util.Random(99)
    val docsA = (0 until 12).map(i => (f"a$i%05d",
      (0 until 5 + rnd.nextInt(6)).map(_ => QueryGen.vocab(rnd.nextInt(QueryGen.vocab.size))).mkString(" ")))
    val docsB = (0 until 9).map(i => (f"b$i%05d",
      (0 until 5 + rnd.nextInt(6)).map(_ => QueryGen.vocab(rnd.nextInt(QueryGen.vocab.size))).mkString(" ")))
    val dirA = build(docsA)
    val dirB = build(docsB)
    // the combined index: same docs, urls already ordered a* < b*, so
    // docIds align with starts[] remapping (A: 0..11, B: 12..20)
    val dirC = build(docsA ++ docsB)
    ReaderCache.clear()

    val multi = new MultiIndexSearcher(
      Seq(new IndexSearcher(spark, dirA), new IndexSearcher(spark, dirB)))
    val single = new IndexSearcher(spark, dirC)
    assert(multi.starts == Seq(0L, 12L))
    assert(multi.stats == single.stats)

    val queries: Seq[Query] = Seq(
      TermQ(QueryGen.vocab.head),
      BoolQ(should = QueryGen.vocab.take(3).map(TermQ(_))),
      BoolQ(must = Seq(TermQ(QueryGen.vocab(1))), mustNot = Seq(TermQ(QueryGen.vocab(2)))),
      PrefixQ(QueryGen.vocab.head.take(2)),
      FuzzyQ(QueryGen.vocab.head),
      PhraseQ(QueryGen.vocab.take(2)))
    for (q <- queries; sim <- Seq(BM25(), BM25Exact()); wand <- Seq(true, false)) {
      val m = multi.search(q, 10, sim, useWand = wand)
      val s = single.search(q, 10, sim, useWand = wand)
      assert(m.map(_.docId).toSeq == s.map(_.docId).toSeq,
        s"q=$q sim=$sim wand=$wand\n multi=${m.toSeq}\n single=${s.toSeq}")
      m.zip(s).foreach { case (a, b) =>
        assert(a.score == b.score, s"q=$q doc ${a.docId}: ${a.score} != ${b.score}")
      }
    }

    // df sums across sub-indexes
    val t = QueryGen.vocab.head
    assert(multi.globalDf(Set(t)) == single.globalDf(Set(t)))
  }

  test("fuzz: 150 random query trees over a random 3-way split == combined index") {
    val rnd = new scala.util.Random(2026)
    val all = (0 until 30).map(i => (f"d$i%05d",
      (0 until 4 + rnd.nextInt(8)).map(_ => QueryGen.vocab(rnd.nextInt(QueryGen.vocab.size))).mkString(" ")))
    // contiguous split so single-index docIds line up with starts[]
    val cut1 = 11
    val cut2 = 21
    val dirs = Seq(all.slice(0, cut1), all.slice(cut1, cut2), all.slice(cut2, 30)).map(build)
    val dirC = build(all)
    ReaderCache.clear()
    val multi = new MultiIndexSearcher(dirs.map(new IndexSearcher(spark, _)))
    val single = new IndexSearcher(spark, dirC)
    assert(multi.starts == Seq(0L, 11L, 21L))

    var nonEmpty = 0
    for (run <- 0 until 150) {
      val q = QueryGen.randQuery(rnd, 0)
      val k = 1 + rnd.nextInt(8)
      val m = multi.search(q, k, BM25(), useWand = rnd.nextBoolean())
      val s = single.search(q, k, BM25(), useWand = rnd.nextBoolean())
      assert(m.map(_.docId).toSeq == s.map(_.docId).toSeq,
        s"run=$run q=$q\n multi=${m.toSeq}\n single=${s.toSeq}")
      m.zip(s).foreach { case (a, b) =>
        assert(a.score == b.score, s"run=$run doc ${a.docId}: ${a.score} != ${b.score} q=$q")
      }
      if (m.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 60, s"only $nonEmpty of 150 queries matched anything")
  }
}
