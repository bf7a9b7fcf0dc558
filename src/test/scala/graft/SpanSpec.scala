package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index.{LocalIndex, SegmentFormat, SegmentReader}
import graft.score.{BM25, BM25Exact, ClassicTFIDF, Similarity}
import graft.search._

/** Span query family vs the reference's own span tests:
  * /root/reference/src/test/search/spans/SpansTest.cpp (corpus + ordered /
  * unordered / or fixtures), NearSpansOrderedTest.cpp (span sequences and
  * skipTo), BasicSpansTest.cpp (1000 intToEnglish docs end-to-end), plus
  * engine-vs-brute-force parity on randomized span queries. */
class SpanSpec extends AnyFunSuite with TempDirs {

  private def indexOf(texts: Seq[String], analyzer: String, dps: Int = Int.MaxValue): String = {
    val dir = tmpDir()
    LocalIndex.build(dir, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, analyzer, dps)
    dir
  }

  private def reader0(dir: String): SegmentReader =
    new SegmentReader(new File(dir, SegmentFormat.segDirName(0)))

  private def bfCorpus(texts: Seq[String], analyzer: String) =
    BruteForce.analyzeCorpus(Analyzer.byName(analyzer),
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  /** Reference CheckHits::checkHits — exact doc-id set. */
  private def checkHits(dir: String, corpus: Seq[BruteForce.Doc], q: Query,
      expected: Seq[Int]): Unit = {
    for (sim <- Seq[Similarity](BM25(), ClassicTFIDF, BM25Exact())) {
      val engine = LocalIndex.search(dir, q, corpus.size, sim)
      assert(engine.map(_.docId).sorted.toSeq == expected.map(_.toLong).sorted,
        s"sim=$sim q=$q\n engine=${engine.map(_.docId).sorted.toSeq}")
      val spec = BruteForce.search(corpus, q, corpus.size, sim)
      assert(engine.map(_.docId).toSeq == spec.map(_.docId).toSeq, s"sim=$sim q=$q rank mismatch")
      engine.zip(spec).foreach { case (e, s) =>
        assert(e.score == s.score, s"sim=$sim q=$q doc ${e.docId}: ${e.score} != ${s.score}")
      }
    }
  }

  private def st(t: String) = SpanTermQ(t)
  private def near(slop: Int, inOrder: Boolean, cs: SpanQuery*) =
    SpanNearQ(cs, slop, inOrder)

  private def assertSpanSeq(spans: Spans, expected: Seq[(Int, Int, Int)]): Unit = {
    expected.foreach { case (d, s, e) =>
      assert(spans.next(), s"expected span ($d,$s,$e), got exhausted")
      assert((spans.doc, spans.start, spans.end) == ((d, s, e)),
        s"expected ($d,$s,$e) got (${spans.doc},${spans.start},${spans.end})")
    }
    assert(!spans.next(), "spans not exhausted")
  }

  // --- SpansTest.cpp:36-48 corpus
  private val spansDocs = Seq(
    "w1 w2 w3 w4 w5", "w1 w3 w2 w3", "w1 xx w2 yy w3", "w1 w3 xx w2 yy w3",
    "u2 u2 u1", "u2 xx u2 u1", "u2 u2 xx u1", "u2 xx u2 yy u1",
    "u2 xx u1 u2", "u2 u1 xx u2", "u1 u2 xx u2", "t1 t2 t1 t3 t2 t3")
  private lazy val spansDir = indexOf(spansDocs, "whitespace")
  private lazy val spansBf = bfCorpus(spansDocs, "whitespace")

  test("SpansTest: ordered slop (w1 w2 w3)") {
    // SpansTest.cpp testSpanNearOrdered01..05
    val expect = Map(0 -> Seq(0), 1 -> Seq(0, 1), 2 -> Seq(0, 1, 2),
      3 -> Seq(0, 1, 2, 3), 4 -> Seq(0, 1, 2, 3))
    expect.foreach { case (slop, docs) =>
      checkHits(spansDir, spansBf, near(slop, inOrder = true, st("w1"), st("w2"), st("w3")), docs)
    }
  }

  test("SpansTest: ordered slop with equal terms (w1 w3 w3)") {
    // testSpanNearOrderedEqual01..04
    val expect = Map(0 -> Seq(), 1 -> Seq(1), 2 -> Seq(1), 3 -> Seq(1, 3))
    expect.foreach { case (slop, docs) =>
      checkHits(spansDir, spansBf, near(slop, inOrder = true, st("w1"), st("w3"), st("w3")),
        docs.asInstanceOf[Seq[Int]])
    }
  }

  test("SpansTest: ordered slop with equal terms (u2 u2 u1)") {
    // testSpanNearOrderedEqual11..15
    val expect = Map(0 -> Seq(4), 1 -> Seq(4, 5, 6), 2 -> Seq(4, 5, 6, 7), 3 -> Seq(4, 5, 6, 7))
    expect.foreach { case (slop, docs) =>
      checkHits(spansDir, spansBf, near(slop, inOrder = true, st("u2"), st("u2"), st("u1")), docs)
    }
  }

  test("SpansTest: ordered overlapping spans enumerate exactly") {
    // testSpanNearOrderedOverlap — doc 11 "t1 t2 t1 t3 t2 t3"
    val q = near(1, inOrder = true, st("t1"), st("t2"), st("t3"))
    val spans = Spans.build(q, reader0(spansDir)).get
    assertSpanSeq(spans, Seq((11, 0, 4), (11, 2, 6)))
  }

  test("SpansTest: unordered near u1/u2 span sequences") {
    // testSpanNearUnOrdered
    val q = near(0, inOrder = false, st("u1"), st("u2"))
    assertSpanSeq(Spans.build(q, reader0(spansDir)).get,
      Seq((4, 1, 3), (5, 2, 4), (8, 2, 4), (9, 0, 2), (10, 0, 2)))

    val nested = near(1, inOrder = false,
      near(0, inOrder = false, st("u1"), st("u2")), st("u2"))
    assertSpanSeq(Spans.build(nested, reader0(spansDir)).get,
      Seq((4, 0, 3), (4, 1, 3), (5, 0, 4), (5, 2, 4), (8, 0, 4), (8, 2, 4),
        (9, 0, 2), (9, 0, 4), (10, 0, 2)))
  }

  test("SpansTest: span-or sequences and skipTo") {
    def orSpans(terms: String*): Spans =
      Spans.build(SpanOrQ(terms.map(st)), reader0(spansDir))
        .getOrElse(new ArraySpans(Array.empty))
    // testSpanOrEmpty
    assert(!orSpans().next())
    // testSpanOrSingle
    assertSpanSeq(orSpans("w5"), Seq((0, 4, 5)))
    // testSpanOrDouble
    assertSpanSeq(orSpans("w5", "yy"), Seq((0, 4, 5), (2, 3, 4), (3, 4, 5), (7, 3, 4)))
    // testSpanOrDoubleSkip
    val s = orSpans("w5", "yy")
    assert(s.skipTo(3) && (s.doc, s.start, s.end) == ((3, 4, 5)))
    assert(s.next() && (s.doc, s.start, s.end) == ((7, 3, 4)))
    assert(!s.next())
    // testSpanOrUnused
    assertSpanSeq(orSpans("w5", "unusedTerm", "yy"),
      Seq((0, 4, 5), (2, 3, 4), (3, 4, 5), (7, 3, 4)))
    // testSpanOrTripleSameDoc
    assertSpanSeq(orSpans("t1", "t2", "t3"),
      Seq((11, 0, 1), (11, 1, 2), (11, 2, 3), (11, 3, 4), (11, 4, 5), (11, 5, 6)))
    // testSpanOrMovesForward: skipTo(current doc) must advance
    val m = orSpans("w1", "xx")
    assert(m.next() && m.doc == 0)
    assert(m.skipTo(0) && m.doc == 1)
  }

  // --- NearSpansOrderedTest.cpp corpus
  private val orderedDocs =
    Seq("w1 w2 w3 w4 w5", "w1 w3 w2 w3 zz", "w1 xx w2 yy w3", "w1 w3 xx w2 yy w3 zz")

  test("NearSpansOrderedTest: next/skipTo span sequences") {
    val dir = indexOf(orderedDocs, "whitespace")
    def q = near(1, inOrder = true, st("w1"), st("w2"), st("w3"))
    checkHits(dir, bfCorpus(orderedDocs, "whitespace"), q, Seq(0, 1))

    // testNearSpansNext
    assertSpanSeq(Spans.build(q, reader0(dir)).get, Seq((0, 0, 3), (1, 0, 4)))
    // testNearSpansSkipToLikeNext
    val s1 = Spans.build(q, reader0(dir)).get
    assert(s1.skipTo(0) && (s1.doc, s1.start, s1.end) == ((0, 0, 3)))
    assert(s1.skipTo(1) && (s1.doc, s1.start, s1.end) == ((1, 0, 4)))
    assert(!s1.skipTo(2))
    // testNearSpansNextThenSkipTo
    val s2 = Spans.build(q, reader0(dir)).get
    assert(s2.next() && (s2.doc, s2.start, s2.end) == ((0, 0, 3)))
    assert(s2.skipTo(1) && (s2.doc, s2.start, s2.end) == ((1, 0, 4)))
    assert(!s2.next())
    // testNearSpansNextThenSkipPast
    val s3 = Spans.build(q, reader0(dir)).get
    assert(s3.next() && s3.doc == 0)
    assert(!s3.skipTo(2))
    // testNearSpansSkipPast
    assert(!Spans.build(q, reader0(dir)).get.skipTo(2))
    // testSpanNearScorerSkipTo1
    for (sim <- Seq[Similarity](BM25(), ClassicTFIDF)) {
      val reader = reader0(dir)
      val corpus = bfCorpus(orderedDocs, "whitespace")
      val dfm = BruteForce.df(corpus)
      val stats = BruteForce.stats(corpus)
      val qn = sim.queryNorm(SegmentSearch.sumOfSquaredWeights(q, sim, stats,
        t => dfm.getOrElse(t, 0L)))
      val scorer = SegmentSearch.scorer(q, reader, sim, stats,
        t => dfm.getOrElse(t, 0L), qn).get
      assert(scorer.advance(1) == 1)
    }
  }

  // --- BasicSpansTest.cpp: 1000 intToEnglish docs, SimpleAnalyzer
  /** Reference test util intToEnglish
    * (/root/reference/src/test/util/TestUtils.cpp:59-170). */
  private def intToEnglish(i: Int): String = {
    def go(i: Int): String = {
      if (i == 0) return "zero"
      val sb = new StringBuilder
      var n = i
      if (n >= 1000) { sb.append(go(n / 1000)).append("thousand, "); n %= 1000 }
      if (n >= 100) { sb.append(go(n / 100)).append("hundred "); n %= 100 }
      if (n >= 20) {
        sb.append(Seq("twenty", "thirty", "forty", "fifty", "sixty", "seventy",
          "eighty", "ninety")(n / 10 - 2))
        n %= 10
        sb.append(if (n == 0) " " else "-")
      }
      val ones = Seq("", "one ", "two ", "three ", "four ", "five ", "six ",
        "seven ", "eight ", "nine ", "ten ", "eleven ", "twelve ", "thirteen ",
        "fourteen ", "fifteen ", "sixteen ", "seventeen ", "eighteen ", "nineteen ")
      if (n > 0) sb.append(ones(n))
      sb.toString
    }
    go(i).trim
  }

  private lazy val basicDocs = (0 until 1000).map(intToEnglish)
  private lazy val basicDir = indexOf(basicDocs, "simple", dps = 300)
  private lazy val basicBf = bfCorpus(basicDocs, "simple")

  test("BasicSpansTest: exact/unordered/ordered near") {
    // testSpanNearExact
    checkHits(basicDir, basicBf, near(0, inOrder = true, st("seventy"), st("seven")),
      Seq(77, 177, 277, 377, 477, 577, 677, 777, 877, 977))
    // testSpanNearUnordered
    checkHits(basicDir, basicBf, near(4, inOrder = false, st("nine"), st("six")),
      Seq(609, 629, 639, 649, 659, 669, 679, 689, 699,
        906, 926, 936, 946, 956, 966, 976, 986, 996))
    // testSpanNearOrdered
    checkHits(basicDir, basicBf, near(4, inOrder = true, st("nine"), st("six")),
      Seq(906, 926, 936, 946, 956, 966, 976, 986, 996))
  }

  test("BasicSpansTest: span not / or / first compositions") {
    val near1 = near(4, inOrder = true, st("eight"), st("one"))
    // testSpanNot
    checkHits(basicDir, basicBf, SpanNotQ(near1, st("forty")),
      Seq(801, 821, 831, 851, 861, 871, 881, 891))
    // testSpanWithMultipleNotSingle
    checkHits(basicDir, basicBf, SpanNotQ(near1, SpanOrQ(Seq(st("forty")))),
      Seq(801, 821, 831, 851, 861, 871, 881, 891))
    // testSpanWithMultipleNotMany
    checkHits(basicDir, basicBf,
      SpanNotQ(near1, SpanOrQ(Seq(st("forty"), st("sixty"), st("eighty")))),
      Seq(801, 821, 831, 851, 871, 891))
    // testNpeInSpanNearWithSpanNot
    checkHits(basicDir, basicBf,
      SpanNotQ(near1, near(1, inOrder = true, st("hundred"), st("forty"))),
      Seq(801, 821, 831, 851, 861, 871, 881, 891))
    // testNpeInSpanNearInSpanFirstInSpanNot
    checkHits(basicDir, basicBf,
      SpanNotQ(SpanFirstQ(st("forty"), 5),
        SpanFirstQ(near(4, inOrder = true, st("hundred"), st("forty")), 4)),
      Seq(40, 41, 42, 43, 44, 45, 46, 47, 48, 49))
    // testSpanFirst
    checkHits(basicDir, basicBf, SpanFirstQ(st("five"), 1), 5 +: (500 to 599))
  }

  test("randomized span queries: engine == spec, multi-segment") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a1", "a2", "a3", "b1", "b2", "c1")
    val texts = (0 until 300).map { _ =>
      (0 until (3 + rnd.nextInt(12))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val dir = indexOf(texts, "whitespace", dps = 67)
    val corpus = bfCorpus(texts, "whitespace")

    def randSpan(depth: Int): SpanQuery = {
      val leaf = depth >= 2 || rnd.nextInt(3) == 0
      if (leaf) st(vocab(rnd.nextInt(vocab.size)))
      else rnd.nextInt(4) match {
        case 0 => SpanNearQ(Seq.fill(2 + rnd.nextInt(2))(randSpan(depth + 1)),
          rnd.nextInt(5), inOrder = rnd.nextBoolean())
        case 1 => SpanOrQ(Seq.fill(1 + rnd.nextInt(3))(randSpan(depth + 1)))
        case 2 => SpanNotQ(randSpan(depth + 1), randSpan(depth + 1))
        case 3 => SpanFirstQ(randSpan(depth + 1), 1 + rnd.nextInt(8))
      }
    }

    for (sim <- Seq[Similarity](BM25(), ClassicTFIDF, BM25Exact()); run <- 0 until 120) {
      val q = randSpan(0)
      val k = 1 + rnd.nextInt(10)
      val engine = LocalIndex.search(dir, q, k, sim)
      val spec = BruteForce.search(corpus, q, k, sim)
      assert(engine.map(_.docId).toSeq == spec.map(_.docId).toSeq,
        s"run=$run sim=$sim q=$q\n engine=${engine.toSeq}\n spec=${spec.toSeq}")
      engine.zip(spec).foreach { case (e, s) =>
        assert(e.score == s.score, s"run=$run sim=$sim doc ${e.docId}: ${e.score} != ${s.score}")
      }
    }
  }

  test("span inside boolean and filtered compositions") {
    val q1 = BoolQ(must = Seq(near(1, inOrder = true, st("w1"), st("w2")), TermQ("w4")))
    checkHits(spansDir, spansBf, q1, Seq(0))
    val q2 = FilteredQ(TermQ("w1"), near(0, inOrder = false, st("u1"), st("u2")))
    checkHits(spansDir, spansBf, q2, Seq())
  }
}
