package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.corpus.SyntheticCorpus
import graft.index.LocalIndex
import graft.score.{BM25, BM25Exact, ClassicTFIDF, Similarity}
import graft.search._

/** Engine vs brute-force executable spec, plus reference-derived goldens
  * (FIXTURES.md §2; corpora lifted from the reference's own test files). */
class EngineSpec extends AnyFunSuite with TempDirs {

  private def indexOf(texts: Seq[String], analyzer: String, dps: Int = Int.MaxValue): String = {
    val dir = tmpDir()
    LocalIndex.build(dir, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, analyzer, dps)
    dir
  }

  private def bfCorpus(texts: Seq[String], analyzer: String) =
    BruteForce.analyzeCorpus(Analyzer.byName(analyzer),
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  private def assertSame(engine: Array[ScoredDoc], spec: Array[ScoredDoc], ctx: String): Unit = {
    assert(engine.map(_.docId).toSeq == spec.map(_.docId).toSeq, s"$ctx: docIds differ\n engine=${engine.toSeq}\n spec=${spec.toSeq}")
    engine.zip(spec).foreach { case (e, s) =>
      assert(e.score == s.score, s"$ctx doc ${e.docId}: engine ${e.score} != spec ${s.score}")
    }
  }

  private def checkAll(texts: Seq[String], analyzer: String, queries: Seq[Query],
      sims: Seq[Similarity] = Seq(BM25(), ClassicTFIDF, BM25Exact()), k: Int = 10,
      dps: Int = Int.MaxValue): Unit = {
    val dir = indexOf(texts, analyzer, dps)
    val corpus = bfCorpus(texts, analyzer)
    for (sim <- sims; q <- queries; wand <- Seq(true, false)) {
      val engine = LocalIndex.search(dir, q, k, sim, useWand = wand)
      val spec = BruteForce.search(corpus, q, k, sim)
      assertSame(engine, spec, s"sim=$sim wand=$wand q=$q")
    }
  }

  // --- reference fixture: TermScorerTest corpus
  // /root/reference/src/test/search/TermScorerTest.cpp:47-75
  private val termScorerDocs = Seq("all", "dogs dogs", "like", "playing", "fetch", "all")

  test("termscorer fixture: classic score 1.6931472 for 'all' docs") {
    val dir = indexOf(termScorerDocs, "whitespace")
    val hits = LocalIndex.search(dir, TermQ("all"), 10, ClassicTFIDF)
    assert(hits.map(_.docId).toSeq == Seq(0L, 5L))
    // idf = ln(6/(2+1)) + 1 = 1.6931472; tf=1, norm=1.0, queryNorm*weight=idf
    hits.foreach(h => assert(math.abs(h.score - 1.6931472f) < 1e-6, h))
  }

  test("termscorer fixture: engine == spec for term queries") {
    checkAll(termScorerDocs, "whitespace",
      Seq(TermQ("all"), TermQ("dogs"), TermQ("like"), TermQ("nonexistent")))
  }

  // --- reference fixture: Boolean2Test corpus
  // /root/reference/src/test/search/Boolean2Test.cpp:42-63
  private val boolean2Docs = Seq(
    "w1 w2 w3 w4 w5", "w1 w3 w2 w3", "w1 xx w2 yy w3", "w1 w3 xx w2 yy w3")

  test("boolean2 fixture: +w3 +xx matches docs {2,3}") {
    val dir = indexOf(boolean2Docs, "whitespace")
    val hits = LocalIndex.search(dir, BoolQ(must = Seq(TermQ("w3"), TermQ("xx"))), 10, ClassicTFIDF)
    assert(hits.map(_.docId).toSet == Set(2L, 3L))
  }

  test("boolean2 fixture: boolean shapes engine == spec") {
    val queries = Seq(
      BoolQ(must = Seq(TermQ("w1"), TermQ("w2"))),
      BoolQ(must = Seq(TermQ("w1")), should = Seq(TermQ("w2")), mustNot = Seq(TermQ("w5"))),
      BoolQ(should = Seq(TermQ("w1"), TermQ("w3"))),
      BoolQ(should = Seq(TermQ("w1"), TermQ("xx"), TermQ("yy")), minShouldMatch = 2),
      BoolQ(must = Seq(TermQ("w3")), mustNot = Seq(TermQ("xx"))),
      BoolQ(must = Seq(TermQ("w1")),
        should = Seq(TermQ("xx"), TermQ("w3"), TermQ("zz")), minShouldMatch = 1),
      BoolQ(should = Seq(TermQ("w3"), TermQ("xx")), minShouldMatch = 5),
      BoolQ(must = Seq(BoolQ(should = Seq(TermQ("xx"), TermQ("yy"))), TermQ("w3"))),
      MatchAllQ)
    checkAll(boolean2Docs, "whitespace", queries)
  }

  // --- reference fixture: SearchTest corpus (Simple analyzer, phrases)
  // /root/reference/src/test/search/SearchTest.cpp:30-61
  private val searchDocs = Seq(
    "a b c d e", "a b c d e a b c d e", "a b c d e f g h i j",
    "a c e", "e c a", "a c e a c e", "a c e a b c")

  test("search fixture: phrases engine == spec") {
    val queries = Seq(
      TermQ("a"),
      BoolQ(should = Seq(TermQ("a"), TermQ("b"))),
      PhraseQ(Seq("a", "b")),
      PhraseQ(Seq("a", "b", "c")),
      PhraseQ(Seq("a", "c")),
      PhraseQ(Seq("a", "c", "e")),
      BoolQ(must = Seq(PhraseQ(Seq("a", "b")), TermQ("e"))))
    checkAll(searchDocs, "simple", queries)
  }

  test("phrase across stopword gap does not falsely match") {
    // "quick the fox" analyzed drops "the", leaving a position hole at 1:
    // quick@0, fox@2 — phrase ["quick","fox"] must NOT match (positions 0,2)
    val texts = Seq("quick the fox", "quick fox", "quick brown fox")
    val dir = indexOf(texts, "standard")
    val hits = LocalIndex.search(dir, PhraseQ(Seq("quick", "fox")), 10, BM25())
    assert(hits.map(_.docId).toSeq == Seq(1L))
  }

  // --- randomized: multi-segment engine == spec on the synthetic web corpus
  test("randomized queries: engine == spec on synthetic corpus, multi-segment") {
    val pages = SyntheticCorpus.localPages(240, seed = 7, avgLen = 40, vocab = 300)
    val texts = pages.map(_.text)
    val rnd = new scala.util.Random(13)
    def rt() = TermQ("w" + rnd.nextInt(300))
    val queries: Seq[Query] = (1 to 12).map { i =>
      i % 4 match {
        case 0 => rt()
        case 1 => BoolQ(should = Seq.fill(2 + rnd.nextInt(3))(rt()))
        case 2 => BoolQ(must = Seq(rt(), rt()))
        case 3 => BoolQ(must = Seq(rt()), should = Seq(rt(), rt()),
          mustNot = Seq(rt()), minShouldMatch = rnd.nextInt(2))
      }
    }
    // 240 docs over segments of 37 → 7 segments incl. a short tail
    checkAll(texts, "standard", queries, dps = 37)
  }

  test("segment count does not change results (1 vs many segments)") {
    val texts = SyntheticCorpus.localPages(150, seed = 3, avgLen = 30, vocab = 120).map(_.text)
    val q = BoolQ(should = Seq(TermQ("w1"), TermQ("w5"), TermQ("w40")))
    val one = LocalIndex.search(indexOf(texts, "standard", Int.MaxValue), q, 10, BM25())
    val many = LocalIndex.search(indexOf(texts, "standard", 11), q, 10, BM25())
    assert(one.toSeq == many.toSeq)
  }

  test("top-k tie-break: score desc then docId asc") {
    // identical docs → identical scores; order must be by docId
    val texts = Seq.fill(8)("same tokens here")
    val dir = indexOf(texts, "whitespace")
    val hits = LocalIndex.search(dir, TermQ("tokens"), 5, BM25())
    assert(hits.map(_.docId).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(hits.map(_.score).distinct.size == 1)
  }

  test("postings iterator contract: advance behaves like TermScorerTest") {
    // TermScorerTest.cpp:118-160 — advance(3) from doc 0 lands on doc 5
    val dir = indexOf(termScorerDocs, "whitespace")
    val meta = graft.index.IndexMetaIO.readLatest(dir).get
    val reader = new graft.index.SegmentReader(
      new java.io.File(dir, graft.index.SegmentFormat.segDirName(0)))
    val ti = reader.termInfo("all").get
    assert(ti.df == 2)
    val pi = reader.postings(ti, needPositions = false)
    assert(pi.nextDoc() == 0)
    assert(pi.advance(3) == 5)
    assert(pi.nextDoc() == graft.index.SegmentFormat.NoMoreDocs)
    assert(meta.numDocs == 6)
  }

  test("postings iterator: positions and payloads under every access pattern") {
    // 'hot' in all 2600 docs (21 blocks, a skip-table entry at block 16)
    // with freq 1-4, some positions without a payload; 'warm' in every
    // other doc
    val n = 2600
    val docs = (0 until n).map { i =>
      val sb = new StringBuilder
      var j = 0
      while (j < 1 + i % 4) {
        sb.append(if ((i + j) % 5 == 0) "hot " else s"hot|$i.$j ")
        if (i % 2 == 0) sb.append(s"warm|$j.5 ")
        sb.append("x").append(i % 7).append(' ')
        j += 1
      }
      (i.toLong, sb.toString)
    }
    val expected = BruteForce.analyzeCorpus(graft.analysis.DelimitedPayloadAnalyzer, docs)
    for (pays <- Seq(true, false)) {
      val dir = tmpDir()
      LocalIndex.build(dir, docs, "delimited", storePayloads = pays)
      val reader = new graft.index.SegmentReader(
        new java.io.File(dir, graft.index.SegmentFormat.segDirName(0)))
      val hot = reader.termInfo("hot").get
      assert(hot.df == n && hot.skipBytes > 0, hot)
      def open(t: String) = reader.postings(reader.termInfo(t).get, needPositions = true)
      def check(pi: graft.index.PostingsIterator, t: String, ctx: String): Unit = {
        val d = pi.docID
        val want = expected(d)
        assert(pi.positions().toSeq == want.termPositions(t).toSeq, s"$ctx: positions of $t in doc $d")
        val into = new Array[Int](pi.freq + 1)
        assert(pi.positionsInto(into) == pi.freq && into.take(pi.freq).toSeq == want.termPositions(t).toSeq,
          s"$ctx: positionsInto of $t in doc $d")
        if (pays) {
          val got = pi.payloads()
          val w = want.termPayloads(t)
          assert(got.length == w.length && got.indices.forall(k => java.util.Arrays.equals(got(k), w(k))),
            s"$ctx: payloads of $t in doc $d")
        }
      }
      val ctx0 = s"payloads=$pays"
      // nextDoc over every posting
      for (t <- Seq("hot", "warm")) {
        val pi = open(t)
        var c = 0
        while (pi.nextDoc() != graft.index.SegmentFormat.NoMoreDocs) { check(pi, t, s"$ctx0 nextDoc"); c += 1 }
        assert(c == expected.count(_.termPositions.contains(t)))
      }
      // advance landing mid-block, then neighbours of the landing posting
      val adv = open("hot")
      for (target <- Seq(5, 77, 130, 131, 400, 1000, 1001, 1900, 2599)) {
        assert(adv.advance(target) == target)
        check(adv, "hot", s"$ctx0 advance($target)")
        if (target < n - 1) { adv.nextDoc(); check(adv, "hot", s"$ctx0 after advance($target)") }
      }
      // a skip-table jump (block 16 starts at posting 2048), then onward
      val jump = open("hot")
      assert(jump.nextDoc() == 0)
      check(jump, "hot", s"$ctx0 first")
      assert(jump.advance(2100) == 2100)
      check(jump, "hot", s"$ctx0 skip-table jump")
      while (jump.nextDoc() < 2200) check(jump, "hot", s"$ctx0 after jump")
      // two calls on the same posting; payloads before and after positions
      val twice = open("hot")
      while (twice.nextDoc() < 300) {
        check(twice, "hot", s"$ctx0 first call")
        check(twice, "hot", s"$ctx0 second call")
        if (pays) {
          val before = twice.payloads()
          twice.positions()
          val after = twice.payloads()
          assert(before.indices.forall(k => java.util.Arrays.equals(before(k), after(k))))
        }
      }
      // reads on only every third posting
      val third = open("hot")
      var d = third.nextDoc()
      while (d != graft.index.SegmentFormat.NoMoreDocs) {
        if (d % 3 == 0) check(third, "hot", s"$ctx0 every third")
        d = third.nextDoc()
      }
    }
  }

  /** Phrase-heavy corpus whose stop-word head spans several postings blocks
    * and repeats within docs. */
  private def stopHeadTexts(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val head = Array("the", "of", "and", "to")
    (0 until n).map { _ =>
      Seq.fill(5 + rnd.nextInt(50)) {
        if (rnd.nextDouble() < 0.5) head(rnd.nextInt(head.length))
        else "w" + math.pow(60.0, rnd.nextDouble()).toInt
      }.mkString(" ")
    }
  }

  test("block-rich phrases: exact, sloppy, multi-phrase and span-near engine == spec") {
    val texts = stopHeadTexts(420, seed = 14)
    val queries = Seq[Query](
      PhraseQ(Seq("the", "of")),
      PhraseQ(Seq("of", "the", "and")),
      PhraseQ(Seq("the", "the")),
      PhraseQ(Seq("and", "w1")),
      PhraseQ(Seq("the", "of"), slop = 1),
      PhraseQ(Seq("the", "the"), slop = 2),
      PhraseQ(Seq("to", "w2", "and"), slop = 3),
      MultiPhraseQ(Seq(Seq("the", "of"), Seq("and", "to"))),
      MultiPhraseQ(Seq(Seq("the"), Seq("the", "w1"), Seq("of", "w3"))),
      // a repeated alternative: the slot's union drops the repeats
      MultiPhraseQ(Seq(Seq("the", "the"), Seq("of"))),
      // a wide slot (w0 is absent) beside a stop-word slot
      MultiPhraseQ(Seq((0 until 40).map("w" + _), Seq("the"))),
      SpanNearQ(Seq(SpanTermQ("the"), SpanTermQ("and")), slop = 1, inOrder = true),
      BoolQ(must = Seq(PhraseQ(Seq("the", "of")), TermQ("to"))))
    val dir = indexOf(texts, "whitespace")
    val reader = new graft.index.SegmentReader(
      new java.io.File(dir, graft.index.SegmentFormat.segDirName(0)))
    Seq("the", "of", "and", "to").foreach { t =>
      assert(reader.termInfo(t).get.df > 2 * graft.index.SegmentFormat.BlockSize, t)
    }
    val exact = queries.collect { case PhraseQ(ts, 0, _) => ts }
    for (dps <- Seq(Int.MaxValue, 97)) {
      checkAll(texts, "whitespace", queries, dps = dps)
      // a phrase as one-term slots scores exactly as the phrase
      val d = indexOf(texts, "whitespace", dps)
      for (sim <- Seq(BM25(), ClassicTFIDF, BM25Exact()); ts <- exact) {
        val phrase = LocalIndex.search(d, PhraseQ(ts), texts.size, sim)
        assert(phrase.nonEmpty, ts)
        assertSame(LocalIndex.search(d, MultiPhraseQ(ts.map(Seq(_))), texts.size, sim), phrase,
          s"sim=$sim dps=$dps one-term slots of $ts")
      }
    }
  }

  test("many docs per term: blocks + skip + wand agree with spec") {
    // >128 matching docs forces multi-block postings and header skips
    val texts = (0 until 400).map(i => if (i % 3 == 0) s"common w$i filler" else s"rare w$i filler")
    checkAll(texts, "whitespace",
      Seq(TermQ("common"), BoolQ(should = Seq(TermQ("common"), TermQ("rare"))),
        BoolQ(must = Seq(TermQ("common"), TermQ("filler")))),
      dps = 97)
  }

  test("skip table: long advances land correctly on high-df terms") {
    // 24k docs of term 'common' → ~188 blocks → ~11 skip entries
    // (SkipInterval=16); 'rare' docs force long leapfrog advances
    val n = 24000
    val texts = (0 until n).map { i =>
      if (i % 997 == 0) s"common rare x$i" else s"common x$i"
    }
    val dir = indexOf(texts, "whitespace")
    val reader = new graft.index.SegmentReader(
      new java.io.File(dir, graft.index.SegmentFormat.segDirName(0)))
    val ti = reader.termInfo("common").get
    assert(ti.df == n && ti.skipBytes > 0, ti)

    // advance sequence equals a fresh nextDoc scan filtered to targets
    val pi = reader.postings(ti, needPositions = false)
    val rnd = new scala.util.Random(5)
    var target = 0
    while (target < n) {
      val d = pi.advance(target)
      assert(d == target, s"advance($target) -> $d") // df == n: every doc matches
      target += 1 + rnd.nextInt(4000) // mix of deep skips and short steps
    }

    // conjunction (common AND rare) drives deep advances through the skip
    // table; results must equal the brute-force spec, incl. scores
    checkAll(texts, "whitespace",
      Seq(BoolQ(must = Seq(TermQ("common"), TermQ("rare"))),
        BoolQ(should = Seq(TermQ("common"), TermQ("rare"))),
        PhraseQ(Seq("common", "rare"))),
      k = 30)
  }

  /** Adversarial corpus for BMW admissibility: tf spikes (30 among 1s) and
    * doc-length spikes make per-block maxima genuinely below the term upper
    * bounds, so the deep-skip branch fires against real competitors. */
  private val wandStressVocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
  private def wandStressTexts(rnd: scala.util.Random): Seq[String] =
    (0 until 1500).map { _ =>
      val sb = new StringBuilder
      rnd.shuffle(wandStressVocab).take(1 + rnd.nextInt(4)).foreach { t =>
        val tf = if (rnd.nextDouble() < 0.05) 30 else 1
        var j = 0; while (j < tf) { sb.append(t).append(' '); j += 1 }
      }
      // mostly long docs (low per-doc scores, but term maxFreq × min corpus
      // doclen inflates the term upper bounds); a few short docs where
      // co-occurring tf=1 terms are the genuine top hits
      val fill = rnd.nextInt(4) match {
        case 0 => rnd.nextInt(5)
        case 1 => 30 + rnd.nextInt(50)
        case _ => 150 + rnd.nextInt(250)
      }
      var j = 0; while (j < fill) { sb.append('x').append(j % 17).append(' '); j += 1 }
      sb.toString
    }

  test("wand stress: skewed tf/doclen OR queries rank-identical to spec") {
    // Guards under test: pivot-prefix extension over tied iterators, and the
    // skip target capped at the first beyond-prefix iterator's docID.
    val rnd = new scala.util.Random(20260816L)
    val vocab = wandStressVocab
    val texts = wandStressTexts(rnd)
    val dir = indexOf(texts, "whitespace")
    val corpus = bfCorpus(texts, "whitespace")
    val boosts = Array(0.25f, 1f, 4f)
    for (sim <- Seq[Similarity](BM25(), BM25Exact()); run <- 0 until 300) {
      val q = BoolQ(should = rnd.shuffle(vocab).take(2 + rnd.nextInt(3))
        .map(t => TermQ(t, boosts(rnd.nextInt(3)))))
      val k = 1 + rnd.nextInt(3)
      val engine = LocalIndex.search(dir, q, k, sim, useWand = true)
      val spec = BruteForce.search(corpus, q, k, sim)
      assertSame(engine, spec, s"run=$run sim=$sim k=$k q=$q")
    }
  }

  test("wand stress across segments: one shared collector == merged per-segment top-k") {
    // the run-of-segments topK starts each segment's WAND at the k-th score
    // collected so far; it must return exactly the merge of independent
    // per-segment top-k lists (ids, order and scores) and the spec
    val rnd = new scala.util.Random(20261017L)
    val texts = wandStressTexts(rnd)
    val dir = indexOf(texts, "whitespace", dps = 160)
    val corpus = bfCorpus(texts, "whitespace")
    val meta = graft.index.IndexMetaIO.readLatest(dir).get
    assert(meta.segments.size == 10)
    val readers = meta.segments.map(m => new graft.index.SegmentReader(
      new java.io.File(dir, graft.index.SegmentFormat.segDirName(m.segId))))
    val stats = graft.score.CorpusStats(meta.numDocs, meta.avgDocLength)
    val boosts = Array(0.25f, 1f, 4f)
    for (sim <- Seq[Similarity](BM25(), BM25Exact()); run <- 0 until 200) {
      val q = BoolQ(should = rnd.shuffle(wandStressVocab).take(1 + rnd.nextInt(4))
        .map(t => TermQ(t, boosts(rnd.nextInt(3)))))
      val k = 1 + rnd.nextInt(12)
      val dfm = Query.allTerms(q).map(t =>
        t -> readers.flatMap(_.termInfo(t)).map(_.df.toLong).sum).toMap
      val df = (t: String) => dfm.getOrElse(t, 0L)
      val shared = SegmentSearch.topK(readers, q, k, sim, stats, df, useWand = true)
      val merged = readers.flatMap(r => SegmentSearch.topK(r, q, k, sim, stats, df))
        .sortBy(h => (-h.score, h.docId)).take(k).toArray
      val ctx = s"run=$run sim=$sim k=$k q=$q"
      assertSame(shared, merged, ctx)
      assertSame(shared, BruteForce.search(corpus, q, k, sim), ctx)
    }
  }

  test("supplementary-plane terms: code-point order through dict, seek, range, prefix") {
    // chars around the UTF-16/code-point divergence: surrogate pairs sort
    // BELOW [U+E000,U+FFFF] in Java's compareTo but ABOVE in code-point
    // (= UTF-8 byte = reference TermInfosWriter on 32-bit wchar_t) order
    val sup1 = new String(Character.toChars(0x10000)) // 𐀀
    val sup2 = new String(Character.toChars(0x1D11E)) // 𝄞
    val bmpHigh = "\uFFFB"
    val puaE = "\uE000"
    val special = Seq("alpha", "zeta", puaE, bmpHigh, sup1, sup2)
    val texts = special.map(t => s"$t common") ++ Seq("common filler")
    val dir = indexOf(texts, "whitespace", dps = 3)
    val corpus = bfCorpus(texts, "whitespace")

    // expected code-point order
    val expected = Seq("alpha", "common", "filler", "zeta", puaE, bmpHigh, sup1, sup2)
    val javaOrder = expected.sorted // UTF-16: surrogates before E000
    assert(javaOrder != expected, "test must exercise the divergence")

    val meta = graft.index.IndexMetaIO.readLatest(dir).get
    val readers = meta.segments.map(m => new graft.index.SegmentReader(
      new java.io.File(dir, graft.index.SegmentFormat.segDirName(m.segId))))
    // 1) per-segment dict iteration is code-point ordered
    readers.foreach { r =>
      val ts = r.allTerms.map(_.term).toSeq
      assert(ts == ts.sorted(graft.index.TermOrder.ordering), s"dict order: $ts")
    }
    // 2) every term is seekable through the sampled index
    special.foreach { t =>
      assert(readers.exists(_.termInfo(t).isDefined), s"termInfo missed '$t'")
    }
    // 3) termsFrom seeks across the surrogate boundary
    val from = readers.flatMap(_.termsFrom(Some(bmpHigh)).map(_.term))
      .distinct.sorted(graft.index.TermOrder.ordering)
    assert(from == Seq(bmpHigh, sup1, sup2), s"termsFrom: $from")

    // 4) range/prefix expansion + search parity across the boundary
    for (q <- Seq[Query](
      TermRangeQ(Some(puaE), None, includeLower = true, includeUpper = true),
      TermRangeQ(Some("zeta"), Some(sup2), includeLower = false, includeUpper = true),
      TermRangeQ(None, Some(sup1), includeLower = true, includeUpper = false),
      PrefixQ(sup1.substring(0, 1)), // bare high surrogate prefix
      BoolQ(should = special.map(TermQ(_))))) {
      assertSame(LocalIndex.search(dir, q, 10, BM25()),
        BruteForce.search(corpus, q, 10, BM25()), s"q=$q")
    }
    // the boundary range really selects the supplementary terms
    val hi = LocalIndex.search(dir,
      TermRangeQ(Some(bmpHigh), None, includeLower = false, includeUpper = true), 10, BM25())
    assert(hi.map(_.docId).toSet == Set(4L, 5L), s"got ${hi.toSeq}")
  }

  test("BM25 norm table: weights over alternating corpus stats, from 8 threads, score exactly") {
    val sim = BM25()
    val stats = Seq(graft.score.CorpusStats(1000, 37.5), graft.score.CorpusStats(1000, 412.25))
    // the formula, computed directly for one (stats, norm byte, freq)
    def expected(st: graft.score.CorpusStats, df: Long, boost: Float, norm: Int, f: Float): Double = {
      val dl = graft.codec.SmallFloat.decodeDocLength(norm.toByte)
      val denom = sim.k1 * (1 - sim.b + sim.b * (dl / st.avgDocLength).toFloat)
      (sim.idf(df, st) * boost * (f * (sim.k1 + 1)) / (f + denom)).toDouble
    }
    val bits = java.lang.Double.doubleToLongBits _
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        for (round <- 0 until 100) {
          val st = stats((t + round) % 2)
          val df = 1L + (t * 37 + round) % 900
          val w = sim.termWeight(df, 1.5f, st)
          for (norm <- 0 until 256; f <- Seq(1, 3, 17)) {
            val e = bits(expected(st, df, 1.5f, norm, f.toFloat))
            if (bits(w.score(f.toFloat, norm.toByte, 0)) != e || bits(w.maxScore(f, norm.toByte, 0)) != e)
              failures.add(s"thread $t round $round avgdl ${st.avgDocLength} norm $norm freq $f")
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val mismatches = failures.size
    assert(mismatches == 0, s"$mismatches mismatches, first: ${failures.peek()}")
  }

  /** What a one-doc term's iterator shows under every access pattern: the
    * same calls on an inline singleton and on the old layout's one-posting
    * block must show the same. */
  private def singletonTrace(r: graft.index.SegmentReader, ti: graft.index.TermInfo,
      w: graft.score.TermWeight): Seq[Any] = {
    val hasPos = r.meta.hasPositions
    val hasPays = r.meta.hasPayloads
    def open() = r.postings(ti, needPositions = hasPos)
    val out = Seq.newBuilder[Any]
    def reads(pi: graft.index.PostingsIterator): Unit = {
      out += pi.freq
      if (hasPos) {
        def into(): Seq[Int] = {
          val buf = Array.fill(pi.freq + 2)(-7)
          out += pi.positionsInto(buf, 1)
          buf.toSeq
        }
        def pays(): Seq[Option[Seq[Byte]]] =
          if (hasPays) pi.payloads().toSeq.map(p => Option(p).map(_.toSeq)) else Nil
        out ++= Seq(pi.positions().toSeq, into(), pays(), pi.positions().toSeq, pays(), into())
      }
    }
    val first = open()
    val d = first.nextDoc()
    out += d
    reads(first)
    out ++= Seq(first.nextDoc(), first.nextDoc(), first.advance(d))
    for (target <- Seq(math.max(0, d - 1), d, d + 1)) {
      val pi = open()
      out += pi.advance(target)
      if (pi.docID != graft.index.SegmentFormat.NoMoreDocs) reads(pi)
      out += pi.nextDoc()
    }
    for (target <- Seq(0, d, d + 1)) {
      val pi = open()
      out ++= Seq(pi.skipToBlockContaining(target), pi.blockLastDoc, pi.blockMaxScore(w), pi.docID)
      out += pi.nextDoc()
      if (pi.docID != graft.index.SegmentFormat.NoMoreDocs) reads(pi)
      out ++= Seq(pi.blockLastDoc, pi.blockMaxScore(w), pi.nextDoc())
    }
    out.result()
  }

  test("inline singletons read exactly as the old layout's one-posting blocks") {
    import graft.index.{LegacyIndexes, SegmentReader, SegmentFormat}
    var singletons = 0
    var repeated = 0 // inline singletons with freq > 1
    for (canned <- LegacyIndexes.All) {
      val oldDir = canned.copyTo(tmpDir())
      val newDir = tmpDir()
      val meta = canned.rebuild(newDir)
      val w = BM25().normalizedTermWeight(1, 1f, 1f,
        graft.score.CorpusStats(meta.numDocs, meta.avgDocLength))
      for (m <- meta.segments) {
        def open(dir: String) = new SegmentReader(new java.io.File(dir, SegmentFormat.segDirName(m.segId)))
        val (o, n) = (open(oldDir), open(newDir))
        val ctx = s"${canned.name} segment ${m.segId}"
        assert(!o.meta.inlineSingletons && n.meta.inlineSingletons, ctx)
        assert(LegacyIndexes.firstDifference(o, n).isEmpty, s"$ctx: ${LegacyIndexes.firstDifference(o, n)}")
        val terms = n.allTerms.toVector
        terms.zip(o.allTerms.toVector).zipWithIndex.foreach { case ((ti, old), ord) =>
          // a lookup through the sampled term index finds the same entry
          assert(n.termInfo(ti.term).contains(ti), s"$ctx: termInfo(${ti.term}) at ordinal $ord")
          assert((ti.df == 1) == (ti.inlineDoc >= 0) && old.inlineDoc == -1, s"$ctx: $ti / $old")
          if (ti.df == 1) {
            assert(ti.postingsBytes == 0 && ti.skipBytes == 0, s"$ctx: $ti")
            assert(singletonTrace(n, ti, w) == singletonTrace(o, old, w), s"$ctx: '${ti.term}'")
            singletons += 1
            if (ti.maxFreq > 1) repeated += 1
          }
        }
        if (canned.name == "delimited" && m.segId == 0) {
          // three supplementary-plane singletons at ordinals 63, 64 (a
          // term-index restart; its high surrogate is 63's) and 65
          val sup = terms.drop(63).take(3)
          assert(sup.map(_.term.codePointAt(0)) == Seq(0x10000, 0x10001, 0x1D11E))
          assert(sup.forall(_.df == 1) && sup.exists(_.maxFreq > 1))
          assert(64 % SegmentFormat.TermIndexInterval == 0)
        }
      }
    }
    assert(singletons > 200 && repeated > 20, s"$singletons singletons, $repeated with freq > 1")
  }

  test("singleton-heavy corpus with tombstones: WAND == exhaustive == spec") {
    // 20k-term tail over 500 docs: most (term, segment) entries are inline
    val rnd = new scala.util.Random(1616)
    val texts = (0 until 500).map { _ =>
      Seq.fill(2 + rnd.nextInt(9)) {
        if (rnd.nextDouble() < 0.3) "h" + rnd.nextInt(1 + rnd.nextInt(8)) else "t" + rnd.nextInt(20000)
      }.mkString(" ")
    }
    val words = texts.map(_.split(" "))
    val corpus = bfCorpus(texts, "whitespace")
    def word(): String = {
      val ws = words(rnd.nextInt(words.size))
      ws(rnd.nextInt(ws.length))
    }
    def term(): TermQ = TermQ(if (rnd.nextInt(10) == 0) "absent" + rnd.nextInt(9) else word(),
      Array(0.5f, 1f, 3f)(rnd.nextInt(3)))
    val queries = (0 until 120).map { i =>
      i % 4 match {
        case 0 | 1 => BoolQ(should = Seq.fill(2 + rnd.nextInt(5))(term()))
        case 2 => BoolQ(must = Seq(TermQ("h" + rnd.nextInt(3))), should = Seq.fill(2)(term()))
        case _ =>
          val ws = words(rnd.nextInt(words.size))
          val at = rnd.nextInt(ws.length - 1)
          PhraseQ(Seq(ws(at), ws(at + 1)))
      }
    }
    for (dps <- Seq(Int.MaxValue, 97)) {
      val dir = indexOf(texts, "whitespace", dps)
      val meta = graft.index.IndexMetaIO.readLatest(dir).get
      val dead = (0 until texts.size).filter(_ => rnd.nextDouble() < 0.15).map(_.toLong).toSet
      var entries = 0
      var inline = 0
      meta.segments.foreach { m =>
        val segDir = new java.io.File(dir, graft.index.SegmentFormat.segDirName(m.segId))
        val bits = new java.util.BitSet()
        dead.foreach(d => if (d >= m.docBase && d < m.docBase + m.docCount) bits.set((d - m.docBase).toInt))
        graft.index.SegmentFormat.writeDeletes(segDir, bits, 1)
        new graft.index.SegmentReader(segDir).allTerms.foreach { ti =>
          entries += 1
          if (ti.inlineDoc >= 0) inline += 1
        }
      }
      assert(inline > entries / 2, s"dps=$dps: $inline of $entries entries inline")
      for (sim <- Seq(BM25(), ClassicTFIDF, BM25Exact()); q <- queries) {
        val k = 1 + rnd.nextInt(10)
        val ctx = s"dps=$dps sim=$sim k=$k q=$q"
        val wand = LocalIndex.search(dir, q, k, sim, useWand = true)
        assertSame(wand, LocalIndex.search(dir, q, k, sim, useWand = false), s"$ctx wand vs exhaustive")
        val spec = BruteForce.search(corpus, q, k + dead.size, sim)
          .filterNot(h => dead.contains(h.docId)).take(k)
        assertSame(wand, spec, ctx)
      }
    }
  }
}
