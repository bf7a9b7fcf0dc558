package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.StandardAnalyzer
import graft.search._

class QueryParserSpec extends AnyFunSuite with TempDirs {

  private val a = StandardAnalyzer()
  private def p(s: String): Query = QueryParser.parse(s, a)

  test("single term") {
    assert(p("hello") == TermQ("hello"))
    assert(p("Hello") == TermQ("hello")) // analyzed
  }

  test("default OR") {
    assert(p("foo bar") == BoolQ(Nil, Seq(TermQ("foo"), TermQ("bar")), Nil, 0))
  }

  test("+ and - modifiers") {
    assert(p("+foo -bar baz") ==
      BoolQ(Seq(TermQ("foo")), Seq(TermQ("baz")), Seq(TermQ("bar")), 0))
  }

  test("AND promotes both sides") {
    assert(p("foo AND bar") == BoolQ(Seq(TermQ("foo"), TermQ("bar")), Nil, Nil, 0))
    assert(p("foo AND bar baz") ==
      BoolQ(Seq(TermQ("foo"), TermQ("bar")), Seq(TermQ("baz")), Nil, 0))
    assert(p("a1 && b2") == BoolQ(Seq(TermQ("a1"), TermQ("b2")), Nil, Nil, 0))
  }

  test("NOT") {
    assert(p("foo NOT bar") == BoolQ(Nil, Seq(TermQ("foo")), Seq(TermQ("bar")), 0))
    assert(p("foo !bar") == BoolQ(Nil, Seq(TermQ("foo")), Seq(TermQ("bar")), 0))
  }

  test("phrase with slop") {
    assert(p("\"quick fox\"") == PhraseQ(Seq("quick", "fox"), 0))
    assert(p("\"quick fox\"~3") == PhraseQ(Seq("quick", "fox"), 3))
    // stop word dropped by analyzer inside phrase
    assert(p("\"the fox\"") == TermQ("fox"))
  }

  test("wildcard / prefix / fuzzy") {
    assert(p("wild*") == PrefixQ("wild"))
    assert(p("wi?ld") == WildcardQ("wi?ld"))
    assert(p("w*ld*") == WildcardQ("w*ld*"))
    assert(p("roam~") == FuzzyQ("roam", 0.5f))
    assert(p("roam~0.8") == FuzzyQ("roam", 0.8f))
  }

  test("range") {
    assert(p("[aida TO carmen]") ==
      TermRangeQ(Some("aida"), Some("carmen"), includeLower = true, includeUpper = true))
    assert(p("{aida TO carmen}") ==
      TermRangeQ(Some("aida"), Some("carmen"), includeLower = false, includeUpper = false))
    assert(p("[* TO carmen]") == TermRangeQ(None, Some("carmen")))
  }

  test("boost") {
    assert(p("foo^2") == TermQ("foo", 2f))
    assert(p("\"a phrase\"^1.5") == PhraseQ(Seq("phrase"), 0, 1f).copy(boost = 1.5f) ||
      p("\"one two\"^1.5") == PhraseQ(Seq("one", "two"), 0, 1.5f))
    assert(p("foo^2 bar") == BoolQ(Nil, Seq(TermQ("foo", 2f), TermQ("bar")), Nil, 0))
  }

  test("grouping") {
    assert(p("(foo bar) AND baz") ==
      BoolQ(Seq(BoolQ(Nil, Seq(TermQ("foo"), TermQ("bar")), Nil, 0), TermQ("baz")), Nil, Nil, 0))
  }

  test("field prefix is accepted and stripped (single-field engine)") {
    assert(p("text:hello") == TermQ("hello"))
    assert(p("title:foo bar") == BoolQ(Nil, Seq(TermQ("foo"), TermQ("bar")), Nil, 0))
  }

  test("escapes: literal wildcard, quote, colon, space (QueryParser.cpp:568-607)") {
    // escaped * / ? are literal chars, not wildcard operators: the term
    // goes through the analyzer (which may split on the punctuation — the
    // reference behaves the same way), NOT through wildcard rewrite
    assert(p("ab\\*c") == PhraseQ(Seq("ab", "c"), 0))
    assert(p("ab\\?c") == PhraseQ(Seq("ab", "c"), 0))
    val wa = graft.analysis.WhitespaceAnalyzer
    assert(QueryParser.parse("ab\\*c", wa) == TermQ("ab*c"))
    assert(QueryParser.parse("ab\\?c", wa) == TermQ("ab?c"))
    // escaped wildcard + real wildcard still builds a multi-term query
    assert(p("ab\\:c*") == PrefixQ("ab:c"))
    // escaped colon is part of the term — no field stripping
    assert(QueryParser.parse("a\\:b", wa) == TermQ("a:b"))
    // escaped space reaches the analyzer as one chunk (which then splits
    // it — same as the reference: escaping only disarms the PARSER)
    assert(QueryParser.parse("up\\ down", wa) == PhraseQ(Seq("up", "down"), 0))
    // escaped quote inside a phrase
    assert(QueryParser.parse("\"say \\\"hi\\\" now\"", wa) ==
      PhraseQ(Seq("say", "\"hi\"", "now"), 0))
    // trailing backslash does not explode
    assert(p("abc\\") == TermQ("abc"))
  }

  test("range brackets carry per-side inclusivity") {
    assert(p("[aa TO bb]") == TermRangeQ(Some("aa"), Some("bb"), true, true))
    assert(p("{aa TO bb}") == TermRangeQ(Some("aa"), Some("bb"), false, false))
    assert(p("[aa TO bb}") == TermRangeQ(Some("aa"), Some("bb"), true, false))
    assert(p("{aa TO bb]") == TermRangeQ(Some("aa"), Some("bb"), false, true))
  }

  test("parsed query is searchable end-to-end") {
    val dir = tmpDir()
    val texts = Seq("the quick brown fox", "a quick dog", "slow brown turtle")
    graft.index.LocalIndex.build(dir,
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, "standard")
    val hits = graft.index.LocalIndex.search(dir, p("quick AND (fox dog)"), 10, graft.score.BM25())
    assert(hits.map(_.docId).toSet == Set(0L, 1L))
    val hits2 = graft.index.LocalIndex.search(dir, p("brown -fox"), 10, graft.score.BM25())
    assert(hits2.map(_.docId).toSeq == Seq(2L))
    val hits3 = graft.index.LocalIndex.search(dir, p("qu*"), 10, graft.score.BM25())
    assert(hits3.map(_.docId).toSet == Set(0L, 1L))
  }

  test("metadata field dispatch: registered fields become MetaFieldQ, others strip") {
    import graft.analysis.WhitespaceAnalyzer
    val q = QueryParser.parse("lang:en -source:src0 batch title:merge",
      WhitespaceAnalyzer, metaFields = Set("lang", "source"))
    q match {
      case BoolQ(Nil, should, Seq(MetaFieldQ("source", "src0")), 0) =>
        assert(should == Seq(MetaFieldQ("lang", "en"), TermQ("batch"), TermQ("merge")))
      case other => fail(s"unexpected parse: $other")
    }
    // splitter hoists meta predicates; the engine part keeps scoring terms
    val (engineQ, metaMust, metaNot) = Query.splitMetaFilters(q)
    assert(metaMust == Seq(MetaFieldQ("lang", "en")))
    assert(metaNot == Seq(MetaFieldQ("source", "src0")))
    assert(engineQ == BoolQ(Nil, Seq(TermQ("batch"), TermQ("merge")), Nil, 0))
    // unregistered fields keep the historical strip behavior
    val stripped = QueryParser.parse("title:merge", WhitespaceAnalyzer)
    assert(stripped == TermQ("merge"))
    // escaped colon is literal, never a field separator
    val esc = QueryParser.parse("lang\\:en", WhitespaceAnalyzer, metaFields = Set("lang"))
    assert(esc == TermQ("lang:en"))
    // bare meta query = filter over all docs
    val (eq2, mm2, _) = Query.splitMetaFilters(
      QueryParser.parse("lang:en", WhitespaceAnalyzer, metaFields = Set("lang")))
    assert(eq2 == MatchAllQ && mm2 == Seq(MetaFieldQ("lang", "en")))
  }
}
