package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.corpus.SyntheticCorpus
import graft.index.LocalIndex
import graft.score.{BM25, BM25Exact, ClassicTFIDF, Similarity}
import graft.search._

/** Multi-term family + dismax + constant-score + sloppy phrase, verified
  * against the brute-force spec (reference semantics: MultiTermQuery.cpp,
  * DisjunctionMaxQuery.cpp, ConstantScoreQuery.cpp, SloppyPhraseScorer.cpp,
  * fixtures re-expressed from PhraseQueryTest.cpp:91-107). */
class QueryFamilySpec extends AnyFunSuite with TempDirs {

  private def indexOf(texts: Seq[String], analyzer: String, dps: Int = Int.MaxValue): String = {
    val dir = tmpDir()
    LocalIndex.build(dir, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, analyzer, dps)
    dir
  }

  private def bfCorpus(texts: Seq[String], analyzer: String) =
    BruteForce.analyzeCorpus(Analyzer.byName(analyzer),
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  private def checkAll(texts: Seq[String], analyzer: String, queries: Seq[Query],
      sims: Seq[Similarity] = Seq(BM25(), ClassicTFIDF, BM25Exact()), k: Int = 10,
      dps: Int = Int.MaxValue): Unit = {
    val dir = indexOf(texts, analyzer, dps)
    val corpus = bfCorpus(texts, analyzer)
    for (sim <- sims; q <- queries) {
      val engine = LocalIndex.search(dir, q, k, sim)
      val spec = BruteForce.search(corpus, q, k, sim)
      assert(engine.map(_.docId).toSeq == spec.map(_.docId).toSeq,
        s"sim=$sim q=$q\n engine=${engine.toSeq}\n spec=${spec.toSeq}")
      engine.zip(spec).foreach { case (e, s) =>
        assert(e.score == s.score, s"sim=$sim q=$q doc ${e.docId}: ${e.score} != ${s.score}")
      }
    }
  }

  private val docs = Seq(
    "apple apply application banana",
    "apple banana cherry",
    "apply maple syrup",
    "grape grapefruit melon",
    "melange melon mellow",
    "zebra apple pie")

  test("prefix query expands and matches brute force") {
    checkAll(docs, "whitespace", Seq(
      PrefixQ("appl"),
      PrefixQ("appl", constantScore = false),
      PrefixQ("grape"),
      PrefixQ("nosuch"),
      BoolQ(must = Seq(PrefixQ("mel", constantScore = false)), mustNot = Seq(TermQ("melange")))))
  }

  test("wildcard query") {
    assert(MultiTerm.wildcardMatch("a*e", "apple"))
    assert(MultiTerm.wildcardMatch("appl?", "apply"))
    assert(!MultiTerm.wildcardMatch("appl?", "appl"))
    assert(MultiTerm.wildcardMatch("*an*a", "banana"))
    checkAll(docs, "whitespace", Seq(
      WildcardQ("appl*"),
      WildcardQ("*elon"), // leading wildcard: full dictionary scan
      WildcardQ("m?lon", constantScore = false),
      WildcardQ("gra*fruit")))
  }

  test("term range query") {
    checkAll(docs, "whitespace", Seq(
      TermRangeQ(Some("apple"), Some("banana"), includeLower = true, includeUpper = true),
      TermRangeQ(Some("apple"), Some("banana"), includeLower = false, includeUpper = false),
      TermRangeQ(None, Some("cherry")),
      TermRangeQ(Some("melon"), None, constantScore = false)))
  }

  test("fuzzy query: edit-distance expansion with scaled boosts") {
    checkAll(docs, "whitespace", Seq(
      FuzzyQ("aple"), // ~apple, apply
      FuzzyQ("melon", minSimilarity = 0.6f),
      FuzzyQ("banan", prefixLength = 2),
      BoolQ(should = Seq(FuzzyQ("aple"), TermQ("zebra")))))
  }

  test("dismax and constant-score") {
    checkAll(docs, "whitespace", Seq(
      DisMaxQ(Seq(TermQ("apple"), TermQ("banana")), tieBreaker = 0f),
      DisMaxQ(Seq(TermQ("apple"), TermQ("banana"), TermQ("melon")), tieBreaker = 0.3f),
      ConstantScoreQ(BoolQ(should = Seq(TermQ("apple"), TermQ("melon"))), boost = 2f),
      BoolQ(must = Seq(DisMaxQ(Seq(TermQ("apple"), TermQ("apply")), 0.1f)),
        should = Seq(ConstantScoreQ(TermQ("banana"))))))
  }

  test("sloppy phrase: reference PhraseQueryTest slop semantics") {
    // PhraseQueryTest.cpp:91-107 — "one five" in "one two three four five":
    // slop 2 -> no match, slop 3 -> match
    val texts = Seq("one two three four five")
    val dir = indexOf(texts, "whitespace")
    assert(LocalIndex.search(dir, PhraseQ(Seq("one", "five"), slop = 2), 10, ClassicTFIDF).isEmpty)
    val hit = LocalIndex.search(dir, PhraseQ(Seq("one", "five"), slop = 3), 10, ClassicTFIDF)
    assert(hit.map(_.docId).toSeq == Seq(0L))
    // reversed order needs slop to cover the inversion
    assert(LocalIndex.search(dir, PhraseQ(Seq("two", "one"), slop = 2), 10, ClassicTFIDF).nonEmpty)
    assert(LocalIndex.search(dir, PhraseQ(Seq("five", "one"), slop = 3), 10, ClassicTFIDF).isEmpty)
  }

  test("sloppy phrase engine == spec on random corpora") {
    val texts = SyntheticCorpus.localPages(120, seed = 9, avgLen = 30, vocab = 50).map(_.text)
    val queries = Seq(
      PhraseQ(Seq("w1", "w2"), slop = 1),
      PhraseQ(Seq("w0", "w3"), slop = 2),
      PhraseQ(Seq("w2", "w1"), slop = 3),
      PhraseQ(Seq("w1", "w4", "w2"), slop = 4))
    checkAll(texts, "standard", queries, dps = 31)
  }

  test("filtered query: scores from query, matches restricted by filter") {
    checkAll(docs, "whitespace", Seq(
      FilteredQ(TermQ("apple"), TermQ("banana")),
      FilteredQ(BoolQ(should = Seq(TermQ("apple"), TermQ("melon"))),
        TermRangeQ(Some("a"), Some("n"))),
      FilteredQ(MatchAllQ, TermQ("zebra"))))
  }

  test("multi-phrase: term alternatives per position") {
    // docs(0): "apple apply application banana" — [apple|apply] [application|banana]?
    checkAll(docs, "whitespace", Seq(
      MultiPhraseQ(Seq(Seq("apple", "apply"), Seq("banana", "cherry"))),
      MultiPhraseQ(Seq(Seq("apple"), Seq("apply", "banana"))),
      MultiPhraseQ(Seq(Seq("grape", "melange"), Seq("grapefruit", "melon"))),
      MultiPhraseQ(Seq(Seq("nosuch"), Seq("apple")))))
    // direct semantics check: doc1 "apple banana …" and doc2 "apply maple …"
    // both have [apple|apply] immediately followed by [banana|maple]
    val dir = indexOf(docs, "whitespace")
    val hits = graft.index.LocalIndex.search(dir,
      MultiPhraseQ(Seq(Seq("apple", "apply"), Seq("banana", "maple"))), 10, BM25())
    assert(hits.map(_.docId).toSet == Set(1L, 2L))
  }

  test("multi-term expansion across many segments matches single segment") {
    val texts = SyntheticCorpus.localPages(150, seed = 4, avgLen = 25, vocab = 80).map(_.text)
    val q = BoolQ(should = Seq(PrefixQ("w1", constantScore = false), FuzzyQ("w22")))
    val one = LocalIndex.search(indexOf(texts, "standard"), q, 10, BM25())
    val many = LocalIndex.search(indexOf(texts, "standard", 13), q, 10, BM25())
    assert(one.toSeq == many.toSeq)
  }

  // --- scale guards: bitmap rewrite, clause cap, heap disjunction ---------

  /** 2500 distinct terms sharing prefix 'pt': forces the constant-score
    * bitmap rewrite (> TermCountCutoff = 350) and, in scoring mode, the
    * TooManyClauses guard (> MaxClauseCount = 1024). */
  private lazy val wideTexts: Seq[String] = {
    val rnd = new scala.util.Random(7)
    (0 until 500).map { i =>
      val own = (0 until 5).map(j => f"pt${(i * 5 + j) % 2500}%04d")
      val noise = (0 until 3).map(_ => s"n${rnd.nextInt(40)}")
      rnd.shuffle(own ++ noise).mkString(" ")
    }
  }

  test("wide prefix (2500 terms) rewrites to bitset filter and matches spec") {
    val dir = indexOf(wideTexts, "whitespace", dps = 119)
    val corpus = bfCorpus(wideTexts, "whitespace")
    // every doc matches at constant score → tie-break = docId asc
    for (sim <- Seq[Similarity](BM25(), ClassicTFIDF)) {
      val q = PrefixQ("pt") // constantScore = true → TermSetQ path
      val engine = LocalIndex.search(dir, q, 20, sim)
      val spec = BruteForce.search(corpus, q, 20, sim)
      assert(engine.map(_.docId).toSeq == spec.map(_.docId).toSeq, s"sim=$sim")
      engine.zip(spec).foreach { case (e, s) => assert(e.score == s.score, s"sim=$sim $e $s") }
    }
    // expansion really is the bitmap path, not a 2500-clause OR
    val dict = corpus.flatMap(_.termPositions.keys).distinct.sorted
    val expanded = MultiTerm.expand(PrefixQ("pt"),
      lower => lower.fold(dict.iterator)(lo => dict.iterator.dropWhile(_ < lo)))
    expanded match {
      case ConstantScoreQ(TermSetQ(terms, _), _) => assert(terms.size == 2500)
      case other => fail(s"expected bitmap rewrite, got ${other.getClass}")
    }
    // bitmap interacts with boolean algebra (filter + must-not)
    checkAll(wideTexts, "whitespace", Seq(
      BoolQ(must = Seq(PrefixQ("pt"), TermQ("n3"))),
      BoolQ(must = Seq(TermQ("n5")), mustNot = Seq(PrefixQ("pt0"))),
      FilteredQ(TermQ("n7"), PrefixQ("pt"))), dps = 119)
  }

  test("scoring rewrite above 1024 clauses throws TooManyClauses") {
    val dir = indexOf(wideTexts, "whitespace")
    intercept[TooManyClauses] {
      LocalIndex.search(dir, PrefixQ("pt", constantScore = false), 10, BM25())
    }
  }

  test("sloppy phrase with repeated terms: reference PhraseQueryTest goldens") {
    // testWrappedPhrase — the reference's two-instance 'repeated' field with
    // positionIncrementGap=100 (PhraseQueryTest.cpp:39-42,345-361),
    // re-expressed as the actual token positions it produces:
    // "this is a repeated field - first part" (0-7) ++gap++
    // "second part of a repeated field" (108-113)
    val first = Array(6); val part = Array(7, 109); val second = Array(108)
    def wrapped(slop: Int) =
      SloppyPhrase.freq(Array(first, part, second, part), Array(0, 1, 2, 3), slop)
    assert(wrapped(100) > 0.0, "slop 100 must match")
    assert(wrapped(99) == 0.0, "slop 99 must not match")

    // testNonExistingPhrase — "phrase exist notexist exist found"
    val phrase = Array(0); val exist = Array(1, 3); val notexist = Array(2)
    assert(SloppyPhrase.freq(Array(phrase, exist, exist), Array(0, 1, 2), 1) > 0.0)
    assert(SloppyPhrase.freq(Array(phrase, notexist, phrase), Array(0, 1, 2), 1000) == 0.0)
    assert(SloppyPhrase.freq(Array(phrase, exist, exist, exist), Array(0, 1, 2, 3), 1000) == 0.0)
  }

  test("sloppy phrase palindrome: reference testPalindrome2/3 via the engine") {
    // PhraseQueryTest.cpp:414-505 over "one two three two one" + the
    // non-palindrome "one two three four five"
    val texts = Seq("one two three four five", "one two three two one")
    val dir = indexOf(texts, "whitespace")
    for (sim <- Seq[Similarity](BM25(), ClassicTFIDF, BM25Exact())) {
      // exact and slop-2 agree on the non-palindrome doc
      val exact = LocalIndex.search(dir, PhraseQ(Seq("two", "three"), 0), 10, sim)
        .filter(_.docId == 0L)
      val sloppy = LocalIndex.search(dir, PhraseQ(Seq("two", "three"), 2), 10, sim)
      assert(sloppy.exists(_.docId == 0L))
      assert(math.abs(exact.head.score -
        sloppy.find(_.docId == 0L).get.score) < 1e-6)
      // ordered and reversed both match the palindrome at slop 2 / 4
      assert(LocalIndex.search(dir, PhraseQ(Seq("two", "three"), 2), 10, sim).exists(_.docId == 1L))
      assert(LocalIndex.search(dir, PhraseQ(Seq("three", "two"), 2), 10, sim).exists(_.docId == 1L))
      assert(LocalIndex.search(dir, PhraseQ(Seq("one", "two", "three"), 4), 10, sim).exists(_.docId == 1L))
      assert(LocalIndex.search(dir, PhraseQ(Seq("three", "two", "one"), 4), 10, sim).exists(_.docId == 1L))
    }
    // repeated-term phrase through the full engine == spec
    checkAll(texts, "whitespace", Seq(
      PhraseQ(Seq("one", "two", "one"), 4),
      PhraseQ(Seq("two", "two"), 3),
      PhraseQ(Seq("one", "two", "two", "one"), 2)))
  }

  test("sloppy phrase with repeats: engine == spec on random corpora") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("r1", "r2", "r3", "r4")
    val texts = (0 until 200).map { _ =>
      (0 until (4 + rnd.nextInt(10))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val queries = (0 until 40).map { _ =>
      val n = 2 + rnd.nextInt(3)
      PhraseQ((0 until n).map(_ => vocab(rnd.nextInt(vocab.size))), 1 + rnd.nextInt(4))
    }
    checkAll(texts, "whitespace", queries, dps = 53)
  }

  test("function queries: value sources and custom score vs spec") {
    val texts = SyntheticCorpus.localPages(150, seed = 13, avgLen = 20, vocab = 50).map(_.text)
    // single segment: ord semantics are per reader (like the reference's
    // per-reader FieldCache), so ord parity needs one segment
    val qs: Seq[Query] = Seq(
      ValueSourceQ(DocLenVS),
      ValueSourceQ(OrdVS, boost = 2f),
      ValueSourceQ(ReverseOrdVS),
      ValueSourceQ(ConstVS(3.5)),
      CustomScoreQ(TermQ("w3"), Seq(DocLenVS)),
      CustomScoreQ(TermQ("w3"), Seq(ConstVS(2.0), ReverseOrdVS), boost = 1.5f),
      CustomScoreQ(BoolQ(should = Seq(TermQ("w1"), TermQ("w5"))), Seq(OrdVS)),
      CustomScoreQ(PrefixQ("w1", constantScore = false), Seq(DocLenVS)))
    checkAll(texts, "standard", qs)
    // custom provider hook: sub + sum of value sources
    val plus = new CustomScoreProvider {
      override def customScore(subScore: Double, vs: Array[Double]): Double =
        subScore + vs.sum
    }
    checkAll(texts, "standard", Seq(CustomScoreQ(TermQ("w3"), Seq(DocLenVS), provider = plus)))
    // golden: ConstVS query scores exactly boost·const under BM25
    val dir = indexOf(texts, "standard")
    val hits = LocalIndex.search(dir, ValueSourceQ(ConstVS(3.5), boost = 2f), 5, BM25())
    assert(hits.length == 5 && hits.forall(_.score == 7.0))
    assert(hits.map(_.docId).toSeq == Seq(0L, 1L, 2L, 3L, 4L)) // tie-break docId asc
  }

  test("cached filter: per-segment memoized bitset, same results, cache hit on reuse") {
    val texts = SyntheticCorpus.localPages(200, seed = 9, avgLen = 25, vocab = 60).map(_.text)
    val dir = indexOf(texts, "standard", dps = 50)
    val corpus = bfCorpus(texts, "standard")
    graft.search.ReaderCache.clear() // also clears FilterCache counters
    val plain = FilteredQ(TermQ("w3"), PrefixQ("w1"))
    val cached = FilteredQ(TermQ("w3"), CachedQ(PrefixQ("w1")))
    for (sim <- Seq[Similarity](BM25(), ClassicTFIDF)) {
      val a = LocalIndex.search(dir, plain, 10, sim)
      val b = LocalIndex.search(dir, cached, 10, sim)
      assert(a.toSeq == b.toSeq, s"sim=$sim")
      val spec = BruteForce.search(corpus, cached, 10, sim)
      assert(b.map(_.docId).toSeq == spec.map(_.docId).toSeq)
      b.zip(spec).foreach { case (e, s) => assert(e.score == s.score) }
    }
    val missesAfterFirstPass = graft.search.FilterCache.misses
    assert(missesAfterFirstPass > 0)
    LocalIndex.search(dir, cached, 10, BM25())
    assert(graft.search.FilterCache.misses == missesAfterFirstPass, "filter recomputed")
    assert(graft.search.FilterCache.hits > 0)
  }

  test("heap disjunction (>32 clauses) is bit-identical to min-scan") {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 60).map(i => s"v$i")
    val texts = (0 until 400).map { _ =>
      (0 until (4 + rnd.nextInt(10))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val dir = indexOf(texts, "whitespace", dps = 97)
    val corpus = bfCorpus(texts, "whitespace")
    for (sim <- Seq[Similarity](BM25(), ClassicTFIDF, BM25Exact()); msm <- Seq(0, 2, 5)) {
      // 50 clauses > HeapThreshold → DisjunctionHeapScorer; spec sums in
      // clause order → scores must match bitwise
      val q = BoolQ(should = (0 until 50).map(i => TermQ(s"v$i")), minShouldMatch = msm)
      val engine = LocalIndex.search(dir, q, 15, sim, useWand = false)
      val spec = BruteForce.search(corpus, q, 15, sim)
      assert(engine.map(_.docId).toSeq == spec.map(_.docId).toSeq, s"sim=$sim msm=$msm")
      engine.zip(spec).foreach { case (e, s) =>
        assert(e.score == s.score, s"sim=$sim msm=$msm doc ${e.docId}: ${e.score} != ${s.score}")
      }
    }
  }

  test("boolean clause budget: 1024 allowed, 1025 refused at construction") {
    val ok = BoolQ(should = (1 to 1024).map(i => TermQ(s"t$i")))
    assert(ok.should.size == 1024)
    intercept[IllegalArgumentException] {
      BoolQ(should = (1 to 1025).map(i => TermQ(s"t$i")))
    }
    intercept[IllegalArgumentException] {
      BoolQ(must = (1 to 512).map(i => TermQ(s"m$i")),
        should = (1 to 512).map(i => TermQ(s"s$i")),
        mustNot = Seq(TermQ("n")))
    }
  }
}
