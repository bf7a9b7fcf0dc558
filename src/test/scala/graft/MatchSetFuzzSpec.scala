package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index.{IndexBuilder, IndexConfig}
import graft.score.BM25
import graft.search._

/** The match enumerator under fuzz: on a multi-segment Spark-built index
  * with tombstones in several segments, `matchingDocs(q)` must equal the
  * executable spec's full match set minus the tombstones, and
  * `deleteDocs(q)` on a fresh copy must report exactly the docs it newly
  * killed. */
class MatchSetFuzzSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** QueryGen's trees plus the shapes it never draws at the top:
    * match-all, value sources, cached filters and every multi-term
    * family. */
  private def randQuery(rnd: scala.util.Random): Query = rnd.nextInt(9) match {
    case 0 => MatchAllQ
    case 1 => ValueSourceQ(Seq(DocLenVS, OrdVS, ReverseOrdVS, ConstVS(1.5))(rnd.nextInt(4)))
    case 2 => FilteredQ(QueryGen.randQuery(rnd, 1), CachedQ(QueryGen.randQuery(rnd, 1)))
    case 3 => Seq[Query](
      WildcardQ("?q*", constantScore = rnd.nextBoolean()),
      TermRangeQ(Some("fz3"), Some("gq2"), includeUpper = rnd.nextBoolean(),
        constantScore = rnd.nextBoolean()),
      FuzzyQ("hx9", prefixLength = rnd.nextInt(2)),
      PrefixQ("g", constantScore = rnd.nextBoolean()))(rnd.nextInt(4))
    case 4 => BoolQ(must = Seq(randQuery(rnd)), mustNot = Seq(QueryGen.randQuery(rnd, 2)))
    case 5 => FilteredQ(MatchAllQ, CachedQ(randQuery(rnd)))
    case _ => QueryGen.randQuery(rnd, 0)
  }

  test("120 random query trees: matchingDocs == spec minus tombstones, deleteDocs counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(808)
    val n = 200
    // each doc carries a unique id token so the tombstone set can be
    // deleted by query
    val texts = (0 until n).map { i =>
      ((0 until (3 + rnd.nextInt(10)))
        .map(_ => QueryGen.vocab(rnd.nextInt(QueryGen.vocab.size))) :+ s"id$i").mkString(" ")
    }
    val dir = tmpDir()
    // urls sort in doc order, so engine docIds equal the spec's ids
    IndexBuilder.build(spark, texts.zipWithIndex.map { case (t, i) => (f"u$i%05d", t) }
      .toDF("url", "text"), IndexConfig(dir, analyzer = "whitespace", docsPerSegment = 37,
      writeDocMap = false))
    val corpus = BruteForce.analyzeCorpus(Analyzer.byName("whitespace"),
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    ReaderCache.clear()

    val dead = (0 until n).filter(_ => rnd.nextDouble() < 0.15).map(_.toLong).toSet
    val searcher0 = new IndexSearcher(spark, dir)
    assert(searcher0.meta.segments.size == 6)
    assert(searcher0.meta.segments.count(m =>
      dead.exists(d => d >= m.docBase && d < m.docBase + m.docCount)) >= 3)
    assert(searcher0.deleteDocs(BoolQ(should = dead.toSeq.map(d => TermQ(s"id$d")))) == dead.size)

    val searcher = new IndexSearcher(spark, dir)
    assert(searcher.liveDocCount() == n - dead.size)
    var nonEmpty = 0
    for (run <- 0 until 120) {
      val q = randQuery(rnd)
      val spec = BruteForce.search(corpus, q, n, BM25()).map(_.docId).toSet -- dead
      val got = searcher.matchingDocs(q).as[Long].collect().toSeq
      assert(got.sorted == spec.toSeq.sorted, s"run=$run q=$q")

      val copy = tmpDir()
      EngineQueries.copyDir(new File(dir), new File(copy))
      assert(new IndexSearcher(spark, copy).deleteDocs(q) == spec.size, s"run=$run q=$q")
      assert(new IndexSearcher(spark, copy).liveDocCount() == n - dead.size - spec.size,
        s"run=$run q=$q")
      if (spec.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 60, s"only $nonEmpty of 120 queries matched anything")
  }
}
