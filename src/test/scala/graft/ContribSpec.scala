package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.{Analyzer, StandardAnalyzer, WhitespaceAnalyzer}
import graft.corpus.SyntheticCorpus
import graft.index.{IndexBuilder, IndexConfig, LocalIndex}
import graft.score.BM25
import graft.search._

/** Contrib-surface analogs: MemoryIndex (percolation), Highlighter,
  * TimeLimitingCollector (reference: src/contrib/memory/MemoryIndex.cpp,
  * src/contrib/highlighter/, src/core/search/TimeLimitingCollector.cpp). */
class ContribSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("memory index: percolation over one doc, all query families") {
    val mi = new MemoryIndex("the quick brown fox jumps over the lazy dog", StandardAnalyzer())
    assert(mi.matches(TermQ("quick")))
    assert(!mi.matches(TermQ("cat")))
    assert(mi.matches(PhraseQ(Seq("quick", "brown"))))
    assert(!mi.matches(PhraseQ(Seq("brown", "quick"))))
    assert(mi.matches(SpanNearQ(Seq(SpanTermQ("quick"), SpanTermQ("fox")), 1, inOrder = true)))
    assert(mi.matches(PrefixQ("jum")))
    assert(mi.matches(BoolQ(must = Seq(TermQ("fox")), mustNot = Seq(TermQ("cat")))))
    assert(!mi.matches(BoolQ(must = Seq(TermQ("fox")), mustNot = Seq(TermQ("dog")))))
    assert(mi.score(TermQ("quick")) > 0.0)
    assert(mi.score(TermQ("missing")) == 0.0)
    // scores equal the engine's on an equivalent one-doc index
    val dir = tmpDir()
    LocalIndex.build(dir, Seq((0L, "the quick brown fox jumps over the lazy dog")), "standard")
    val engine = LocalIndex.search(dir, TermQ("quick"), 1, BM25())
    assert(engine.head.score == mi.score(TermQ("quick")))
  }

  test("highlighter: fragments, tags, scoring by distinct terms") {
    val text = "Spark builds the index fast. The index is searched with BM25. " +
      "Unrelated filler sentence here. More filler without matches."
    val q = BoolQ(should = Seq(TermQ("index"), TermQ("bm25")))
    val frags = Highlighter.bestFragments(q, StandardAnalyzer(), text,
      fragmentSize = 70, maxFragments = 2)
    assert(frags.nonEmpty)
    // best fragment contains both tagged terms (distinct-term scoring)
    assert(frags.head.contains("<B>index</B>"))
    assert(frags.forall(f => f.contains("<B>")))
    assert(!frags.mkString.contains("filler sentence here. More"))

    // one-fragment whole-text case with custom tags
    val f2 = Highlighter.bestFragments(TermQ("fox"), WhitespaceAnalyzer,
      "the fox ran", fragmentSize = 100, pre = "[", post = "]")
    assert(f2 == Seq("the [fox] ran"))

    // phrase + span terms highlight; prohibited terms do not
    val f3 = Highlighter.bestFragments(
      BoolQ(must = Seq(PhraseQ(Seq("fox", "ran"))), mustNot = Seq(TermQ("the"))),
      WhitespaceAnalyzer, "the fox ran", fragmentSize = 100)
    assert(f3 == Seq("the <B>fox</B> <B>ran</B>"))

    // no query terms in text -> no fragments
    assert(Highlighter.bestFragments(TermQ("zzz"), WhitespaceAnalyzer, "a b c").isEmpty)
  }

  test("span-aware highlighter: phrase terms highlight only where the phrase matches") {
    // 'york' appears alone early and as part of 'new york' later — the
    // QueryScorer path must tag only the phrase occurrence
    val text = "york alone first then new york city later"
    val f = Highlighter.bestFragmentsSpanAware(
      PhraseQ(Seq("new", "york")), WhitespaceAnalyzer, text, fragmentSize = 200)
    assert(f == Seq("york alone first then <B>new</B> <B>york</B> city later"))

    // the term-level scorer highlights both occurrences (the difference)
    val f0 = Highlighter.bestFragments(
      PhraseQ(Seq("new", "york")), WhitespaceAnalyzer, text, fragmentSize = 200)
    assert(f0 == Seq("<B>york</B> alone first then <B>new</B> <B>york</B> city later"))

    // span-near: only terms inside an actual match window are tagged
    val t2 = "alpha beta gap gap gap gap gap gap alpha omega beta end"
    val f2 = Highlighter.bestFragmentsSpanAware(
      SpanNearQ(Seq(SpanTermQ("alpha"), SpanTermQ("beta")), slop = 1, inOrder = true),
      WhitespaceAnalyzer, t2, fragmentSize = 200)
    assert(f2 == Seq("<B>alpha</B> <B>beta</B> gap gap gap gap gap gap <B>alpha</B> omega <B>beta</B> end"))

    // a plain term clause keeps its insensitive highlighting alongside
    val f3 = Highlighter.bestFragmentsSpanAware(
      BoolQ(should = Seq(PhraseQ(Seq("new", "york")), TermQ("york"))),
      WhitespaceAnalyzer, text, fragmentSize = 200)
    assert(f3 == Seq("<B>york</B> alone first then <B>new</B> <B>york</B> city later"))

    // no phrase match in the doc -> nothing highlighted at all
    assert(Highlighter.bestFragmentsSpanAware(
      PhraseQ(Seq("new", "jersey")), WhitespaceAnalyzer, text).isEmpty)
  }

  test("gradient formatter interpolates colors by score (reference quirk preserved)") {
    val f = Highlighter.gradientFormatter(maxScore = 2f,
      minBg = "#000000", maxBg = "#ff0000")
    assert(f("word", 2f) == "<font bgcolor=\"#ff0000\" >word</font>")
    assert(f("word", 1f) == "<font bgcolor=\"#7f0000\" >word</font>")
    assert(f("word", 0f) == "word")
    // through the highlighter: boosted term scores a darker tag
    val frags = Highlighter.bestFragments(
      BoolQ(should = Seq(TermQ("fox", 2f), TermQ("ran", 1f))),
      WhitespaceAnalyzer, "the fox ran", fragmentSize = 100,
      formatterOverride = f)
    assert(frags == Seq("the <font bgcolor=\"#ff0000\" >fox</font> " +
      "<font bgcolor=\"#7f0000\" >ran</font>"))
  }

  test("payloads: delimited analyzer, payload term scoring, merge-safe") {
    import graft.analysis.PayloadCodec
    import graft.score.{BM25Exact, CorpusStats, Similarity, TermWeight}
    // payload-aware similarity: decode the 4-byte float (the reference
    // tests override Similarity::scorePayload the same way)
    object PayloadSim extends Similarity {
      private val inner = BM25Exact()
      override def termWeight(df: Long, b: Float, st: CorpusStats): TermWeight = inner.termWeight(df, b, st)
      override def queryNorm(s: Float): Float = inner.queryNorm(s)
      override def coord(o: Int, m: Int): Float = inner.coord(o, m)
      override def queryWeightSq(df: Long, b: Float, st: CorpusStats): Float = inner.queryWeightSq(df, b, st)
      override def phraseWeightSq(i: Float, b: Float): Float = inner.phraseWeightSq(i, b)
      override def constWeightSq(b: Float): Float = inner.constWeightSq(b)
      override def idf(df: Long, st: CorpusStats): Float = inner.idf(df, st)
      override def phraseWeight(i: Float, b: Float, qn: Float, st: CorpusStats): TermWeight =
        inner.phraseWeight(i, b, qn, st)
      override def normalizedTermWeight(df: Long, b: Float, qn: Float, st: CorpusStats): TermWeight =
        inner.normalizedTermWeight(df, b, qn, st)
      override def scorePayload(p: Array[Byte]): Float = PayloadCodec.decodeFloat(p)
    }

    val texts = Seq(
      "quick|2.0 fox|3.0 fox|1.0",
      "quick|1.0 dog|4.0",
      "plain fox here")
    val dir = tmpDir()
    graft.index.LocalIndex.build(dir,
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, "delimited",
      docsPerSegment = 2, storePayloads = true)
    val bf = BruteForce.analyzeCorpus(graft.analysis.DelimitedPayloadAnalyzer,
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })

    // payload-only scoring: fn over decoded floats; 1.0 when none present
    def payScore(q: Query): Map[Long, Double] =
      graft.index.LocalIndex.search(dir, q, 10, PayloadSim).map(h => h.docId -> h.score).toMap
    val mx = payScore(PayloadTermQ("fox", MaxPayloadFunction, includeSpanScore = false))
    assert(mx(0L) == 3.0 && mx(2L) == 1.0)
    val mn = payScore(PayloadTermQ("fox", MinPayloadFunction, includeSpanScore = false))
    assert(mn(0L) == 1.0 && mn(2L) == 1.0)
    val av = payScore(PayloadTermQ("fox", AvgPayloadFunction, includeSpanScore = false))
    assert(av(0L) == 2.0 && av(2L) == 1.0)

    // engine == spec incl. span-score product, across functions
    for (fn <- Seq[PayloadFunction](AvgPayloadFunction, MinPayloadFunction, MaxPayloadFunction);
         inc <- Seq(true, false)) {
      val q = PayloadTermQ("fox", fn, inc)
      val engine = graft.index.LocalIndex.search(dir, q, 10, PayloadSim)
      val spec = BruteForce.search(bf, q, 10, PayloadSim)
      assert(engine.map(_.docId).toSeq == spec.map(_.docId).toSeq, s"fn=$fn inc=$inc")
      engine.zip(spec).foreach { case (e, s) => assert(e.score == s.score, s"fn=$fn inc=$inc $e $s") }
    }

    // phrase over a payload segment still reads positions correctly
    val ph = graft.index.LocalIndex.search(dir, PhraseQ(Seq("quick", "fox")), 10, BM25())
    assert(ph.map(_.docId).toSeq == Seq(0L))

    // merge keeps payloads
    graft.index.Maintenance.mergeSegments(dir, Seq(0, 1), newSegId = 2)
    val reader = new graft.index.SegmentReader(
      new java.io.File(dir, graft.index.SegmentFormat.segDirName(2)))
    assert(reader.meta.hasPayloads)
    val ti = reader.termInfo("fox").get
    val pi = reader.postings(ti, needPositions = true)
    assert(pi.nextDoc() == 0)
    val pays = pi.payloads()
    assert(pays.map(PayloadCodec.decodeFloat).toSeq == Seq(3.0f, 1.0f))
  }

  test("payload near query: span payload collection, engine == spec, hand values") {
    import graft.analysis.PayloadCodec
    import graft.score.{BM25Exact, CorpusStats, Similarity, TermWeight}
    object PayloadSim extends Similarity {
      private val inner = BM25Exact()
      override def termWeight(df: Long, b: Float, st: CorpusStats): TermWeight = inner.termWeight(df, b, st)
      override def queryNorm(s: Float): Float = inner.queryNorm(s)
      override def coord(o: Int, m: Int): Float = inner.coord(o, m)
      override def queryWeightSq(df: Long, b: Float, st: CorpusStats): Float = inner.queryWeightSq(df, b, st)
      override def phraseWeightSq(i: Float, b: Float): Float = inner.phraseWeightSq(i, b)
      override def constWeightSq(b: Float): Float = inner.constWeightSq(b)
      override def idf(df: Long, st: CorpusStats): Float = inner.idf(df, st)
      override def phraseWeight(i: Float, b: Float, qn: Float, st: CorpusStats): TermWeight =
        inner.phraseWeight(i, b, qn, st)
      override def normalizedTermWeight(df: Long, b: Float, qn: Float, st: CorpusStats): TermWeight =
        inner.normalizedTermWeight(df, b, qn, st)
      override def scorePayload(p: Array[Byte]): Float = PayloadCodec.decodeFloat(p)
    }

    val texts = Seq(
      "a|1.0 b|2.0 c|3.0 a|4.0 b|5.0", // two "a b" matches; first match payloads (b=2.0, a=1.0)
      "b|9.0 a|1.5 b|2.5",             // one ordered "a b"; payloads (2.5, 1.5)
      "a b",                            // ordered match, no payloads -> factor 1.0
      "b|1.0 a|2.0")                   // unordered-only match
    val dir = tmpDir()
    LocalIndex.build(dir, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      "delimited", docsPerSegment = 2, storePayloads = true)
    val bf = BruteForce.analyzeCorpus(graft.analysis.DelimitedPayloadAnalyzer,
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })

    def hits(q: Query): Map[Long, Double] =
      LocalIndex.search(dir, q, 10, PayloadSim).map(h => h.docId -> h.score).toMap

    val clauses = Seq(SpanTermQ("a"), SpanTermQ("b"))
    // payload factor = avg over the FIRST match's payloads; span part cancels
    // against the plain SpanNearQ score
    val plain = hits(SpanNearQ(clauses, 0, inOrder = true))
    val pn = hits(PayloadNearQ(clauses, 0, inOrder = true, AvgPayloadFunction))
    assert(pn.keySet == Set(0L, 1L, 2L) && plain.keySet == pn.keySet)
    assert(math.abs(pn(0L) / plain(0L) - 1.5) < 1e-9) // (2.0+1.0)/2
    assert(math.abs(pn(1L) / plain(1L) - 2.0) < 1e-9) // (2.5+1.5)/2
    assert(math.abs(pn(2L) / plain(2L) - 1.0) < 1e-9) // no payloads seen
    val mx = hits(PayloadNearQ(clauses, 0, inOrder = true, MaxPayloadFunction))
    assert(math.abs(mx(0L) / plain(0L) - 2.0) < 1e-9)
    val mn = hits(PayloadNearQ(clauses, 0, inOrder = true, MinPayloadFunction))
    assert(math.abs(mn(0L) / plain(0L) - 1.0) < 1e-9)

    // unordered: doc3's reversed pair matches too, payload union of the cells
    val un = hits(PayloadNearQ(clauses, 0, inOrder = false, AvgPayloadFunction))
    val unPlain = hits(SpanNearQ(clauses, 0, inOrder = false))
    assert(un.contains(3L))
    assert(math.abs(un(3L) / unPlain(3L) - 1.5) < 1e-9) // (1.0+2.0)/2

    // engine == spec bit-for-bit across functions, order modes and slops
    for (fn <- Seq[PayloadFunction](AvgPayloadFunction, MinPayloadFunction, MaxPayloadFunction);
         inOrder <- Seq(true, false); slop <- Seq(0, 1, 2)) {
      val q = PayloadNearQ(clauses, slop, inOrder, fn)
      val engine = LocalIndex.search(dir, q, 10, PayloadSim)
      val spec = BruteForce.search(bf, q, 10, PayloadSim)
      assert(engine.map(_.docId).toSeq == spec.map(_.docId).toSeq, s"fn=$fn ord=$inOrder slop=$slop")
      engine.zip(spec).foreach { case (e, sp) =>
        assert(e.score == sp.score, s"fn=$fn ord=$inOrder slop=$slop $e $sp") }
    }

    // nested: payload-near over (a, near(b c)) still collects through the tree
    val nested = PayloadNearQ(Seq(SpanTermQ("a"),
      SpanNearQ(Seq(SpanTermQ("b"), SpanTermQ("c")), 0, inOrder = true)), 1, inOrder = true)
    val ne = LocalIndex.search(dir, nested, 10, PayloadSim)
    val ns = BruteForce.search(bf, nested, 10, PayloadSim)
    assert(ne.map(_.docId).toSeq == ns.map(_.docId).toSeq && ne.map(_.docId).contains(0L))
    ne.zip(ns).foreach { case (e, sp) => assert(e.score == sp.score) }
  }

  test("time-limited search: immediate deadline times out with partial results") {
    val dir = tmpDir()
    val corpus = SyntheticCorpus.generate(spark, 400, seed = 7, avgLen = 30, vocab = 50)
    IndexBuilder.build(spark, corpus, IndexConfig(dir, docsPerSegment = 100, writeDocMap = false))
    val searcher = new IndexSearcher(spark, dir)
    val q = BoolQ(should = Seq(TermQ("w1"), TermQ("w2"), TermQ("w3")))

    // generous budget: full results, no timeout
    val (full, timedOut) = searcher.searchWithTimeout(q, 10, BM25(), timeoutMs = 60000)
    assert(!timedOut)
    assert(full.toSeq == searcher.search(q, 10, BM25(), useWand = false).toSeq)

    // zero budget: flagged as timed out, returns whatever was collected
    val (partial, timedOut0) = searcher.searchWithTimeout(q, 10, BM25(), timeoutMs = -1)
    assert(timedOut0)
    assert(partial.length <= 10)
  }
}
