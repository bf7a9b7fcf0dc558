package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis._

/** Non-English analyzers vs the reference's own contrib test fixtures
  * (/root/reference/src/test/contrib/analyzers/common/analysis/...). */
class LangSpec extends AnyFunSuite with TempDirs {

  private def toks(a: Analyzer, text: String): Seq[String] =
    a.analyze(text).map(_.term).toSeq
  private def toksOff(a: Analyzer, text: String): Seq[(String, Int, Int)] =
    a.analyze(text).map(t => (t.term, t.start, t.end)).toSeq

  test("cjk: bigram tokenization (CJKTokenizerTest fixtures incl. offsets)") {
    val a = CJKAnalyzer
    // testJa1: 一二三四五六七八九十 — overlapping bigrams
    assert(toksOff(a, "一二三四五六七八九十") == Seq(
      ("一二", 0, 2), ("二三", 1, 3), ("三四", 2, 4), ("四五", 3, 5), ("五六", 4, 6),
      ("六七", 5, 7), ("七八", 6, 8), ("八九", 7, 9), ("九十", 8, 10)))
    // testJa2: runs split at spaces; single leftovers emit themselves
    assert(toksOff(a, "一 二三四 五六七八九 十") == Seq(
      ("一", 0, 1), ("二三", 2, 4), ("三四", 3, 5), ("五六", 6, 8), ("六七", 7, 9),
      ("七八", 8, 10), ("八九", 9, 11), ("十", 12, 13)))
    // testC: plain English through the same tokenizer
    assert(toksOff(a, "abc defgh ijklmn opqrstu vwxy z") == Seq(
      ("abc", 0, 3), ("defgh", 4, 9), ("ijklmn", 10, 16),
      ("opqrstu", 17, 24), ("vwxy", 25, 29), ("z", 30, 31)))
    // testMix: kana runs interrupted by ASCII
    assert(toksOff(a, "あいうえおabcかきくけこ") == Seq(
      ("あい", 0, 2), ("いう", 1, 3), ("うえ", 2, 4), ("えお", 3, 5), ("abc", 5, 8),
      ("かき", 8, 10), ("きく", 9, 11), ("くけ", 10, 12), ("けこ", 11, 13)))
    // testMix2: a lone kana between ASCII runs emits a single-char token
    assert(toksOff(a, "あいうえおabんcかきくけ") == Seq(
      ("あい", 0, 2), ("いう", 1, 3), ("うえ", 2, 4), ("えお", 3, 5), ("ab", 5, 7),
      ("ん", 7, 8), ("c", 8, 9), ("かき", 9, 11), ("きく", 10, 12), ("くけ", 11, 13)))
    // testSingleChar
    assert(toksOff(a, "一") == Seq(("一", 0, 1)))
    // testFullWidth: fullwidth folds to ASCII
    assert(toksOff(a, "Ｔｅｓｔ １２３４") == Seq(("test", 0, 4), ("1234", 5, 9)))
    // testNonIdeographic: Arabic treated as C1C2 bigrams too
    assert(toks(a, "一 روبرت موير") == Seq(
      "一", "رو", "وب", "بر", "رت", "مو", "وي", "ير"))
    // testNonIdeographicNonLetter: the damma splits the word
    assert(toks(a, "一 رُوبرت موير") == Seq(
      "一", "ر", "وب", "بر", "رت", "مو", "وي", "ير"))
    // CJK stop list removes "www", "s", "t"
    assert(toks(a, "www t s foo") == Seq("foo"))
  }

  test("chinese: per-char tokenizer + filter (ChineseTokenizerTest fixtures)") {
    // testOtherLetterOffset — raw tokenizer offsets
    assert(Lang.chineseTokenize("a天b").map(t => (t.term, t.start, t.end)).toSeq ==
      Seq(("a", 0, 1), ("天", 1, 2), ("b", 2, 3)))
    // analyzer: one token per hanzi
    assert(toks(ChineseAnalyzer, "中华人民共和国") ==
      Seq("中", "华", "人", "民", "共", "和", "国"))
    assert(toks(ChineseAnalyzer, "北京市") == Seq("北", "京", "市"))
    // numerics kept by the filter
    assert(toks(ChineseAnalyzer, "中1234") == Seq("中", "1234"))
    assert(Lang.chineseTokenize("中1234").map(_.term).toSeq == Seq("中", "1234"))
    // testEnglish: stopwords + single-char English dropped
    assert(toks(ChineseAnalyzer, "This is a Test. b c d") == Seq("test"))
    assert(Lang.chineseTokenize("This is a Test. b c d").map(_.term).toSeq ==
      Seq("this", "is", "a", "test", "b", "c", "d"))
  }

  test("german: stemmer fixtures (GermanStemFilterTest)") {
    import Lang.GermanStemmer.stem
    assert(stem("häufig") == "haufig")
    assert(stem("abschließen") == "abschliess")
    assert(stem("abschließender") == "abschliess")
    assert(stem("abschließendes") == "abschliess")
    assert(stem("abschließenden") == "abschliess")
    assert(stem("Tisch") == "tisch" && stem("Tische") == "tisch" && stem("Tischen") == "tisch")
    assert(stem("Haus") == "hau" && stem("Hauses") == "hau")
    assert(stem("Häuser") == "hau" && stem("Häusern") == "hau")
    assert(stem("hauen") == "hau") // documented overstemming
    assert(stem("Drama") == "drama" && stem("Dramen") == "dram") // understemming
    assert(stem("Ausmaß") == "ausmass")
    // fake-word suffix table
    for (suf <- Seq("e", "s", "n", "t", "em", "et", "nd"))
      assert(stem("xxxxx" + suf) == "xxxxx", suf)
    assert(stem("xxxxxetende") == "xxxxx")
    assert(stem("xxe") == "xxe")
    assert(stem("xxem") == "xxem" && stem("xxer") == "xxer")
    assert(stem("xxxnd") == "xxxnd")
    // analyzer: stop words out, stems applied
    assert(toks(GermanAnalyzer(), "Der Tisch und die Tische") == Seq("tisch", "tisch"))
    // exclusion set bypasses stemming
    assert(toks(GermanAnalyzer(exclusions = Set("tischen")), "Tischen") == Seq("tischen"))
  }

  test("arabic: normalization + stemming fixtures") {
    import Lang.{arabicNormalize => norm, arabicStem => st}
    // ArabicNormalizationFilterTest
    assert(norm("آجن") == "اجن") // alif madda
    assert(norm("أحمد") == "احمد") // alif hamza above
    assert(norm("إعاذ") == "اعاذ") // alif hamza below
    assert(norm("بنى") == "بني") // alif maksura
    assert(norm("فاطمة") == "فاطمه") // teh marbuta
    assert(norm("روبرـــــت") == "روبرت") // tatweel
    assert(norm("مَبنا") == "مبنا") // fatha
    assert(norm("علِي") == "علي") // kasra
    assert(norm("بُوات") == "بوات") // damma
    assert(norm("ولداً") == "ولدا") // fathatan
    assert(norm("ولدٍ") == "ولد") // kasratan
    assert(norm("ولدٌ") == "ولد") // dammatan
    assert(norm("نلْسون") == "نلسون") // sukun
    assert(norm("هتميّ") == "هتمي") // shaddah
    // ArabicStemFilterTest
    assert(st("الحسن") == "حسن" && st("والحسن") == "حسن" && st("بالحسن") == "حسن")
    assert(st("كالحسن") == "حسن" && st("فالحسن") == "حسن" && st("للاخر") == "اخر")
    assert(st("وحسن") == "حسن")
    assert(st("زوجها") == "زوج")
    for (w <- Seq("ساهدان", "ساهدات", "ساهدون", "ساهدين", "ساهديه",
      "ساهدية", "ساهده", "ساهدة", "ساهدي", "وساهدون", "ساهدهات"))
      assert(st(w) == "ساهد", w)
    assert(st("الو") == "الو") // too short to stem
    // analyzer end-to-end: stop word dropped, stemming applied
    assert(toks(ArabicAnalyzer, "من الحسن") == Seq("حسن"))
  }

  test("persian: normalization fixtures (PersianNormalizationFilterTest)") {
    import Lang.{persianNormalize => p}
    assert(p("های") == "هاي") // farsi yeh
    assert(p("هاے") == "هاي") // yeh barree
    assert(p("کشاندن") == "كشاندن") // keheh
    assert(p("كتابۀ") == "كتابه") // heh yeh
    assert(p("كتابهٔ") == "كتابه") // heh + hamza above
    assert(p("زادہ") == "زاده") // heh goal
  }

  test("greek: analyzer fixtures (GreekAnalyzerTest)") {
    val a = GreekAnalyzer
    assert(toks(a, "Μία εξαιρετικά καλή και πλούσια σειρά χαρακτήρων της Ελληνικής γλώσσας") ==
      Seq("μια", "εξαιρετικα", "καλη", "πλουσια", "σειρα", "χαρακτηρων",
        "ελληνικησ", "γλωσσασ"))
    assert(toks(a, "Προϊόντα (και)     [πολλαπλές]\t-\tΑΝΑΓΚΕΣ") ==
      Seq("προιοντα", "πολλαπλεσ", "αναγκεσ"))
    assert(toks(a, "ΠΡΟΫΠΟΘΕΣΕΙΣ  Άψογος, ο μεστός και οι άλλοι") ==
      Seq("προυποθεσεισ", "αψογοσ", "μεστοσ", "αλλοι"))
  }

  test("french elision + reverse filter (ElisionTest / ReverseStringFilterTest)") {
    // ElisionTest: articles {l, M}; "l'embrouille" -> "embrouille",
    // "O'brian" untouched, "M'enfin" -> "enfin"
    val text = "Plop, juste pour voir l'embrouille avec O'brian. M'enfin."
    val terms = Lang.elisionFilter(Set("l", "M"))(
      Filters.standardFilter(ClassicScanner.tokenize(text, 255))).map(_.term).toSeq
    assert(terms(4) == "embrouille", terms)
    assert(terms(6) == "O'brian", terms)
    assert(terms(7) == "enfin", terms)
    // analyzer front-end
    assert(toks(FrenchElisionAnalyzer(), "l'avion") == Seq("avion"))
    // reverse
    assert(Lang.reverseFilter()(Iterator(Token("Do", 1, 0, 2, TokenType.ALPHANUM)))
      .next().term == "oD")
    assert(Lang.reverseFilter('')(Iterator(Token("Do", 1, 0, 2, TokenType.ALPHANUM)))
      .next().term == "oD")
  }

  test("czech: standard chain with the Czech stop set; byName round-trips") {
    // "pokud" and "o" are in the reference's embedded Czech stop list
    assert(toks(CzechAnalyzer, "Pokud mluvíme o volném čase") == Seq("mluvíme", "volném", "čase"))
    assert(LangStopWords.Czech.contains("pokud") && LangStopWords.Czech.contains("o"))
    for (n <- Seq("cjk", "chinese", "german", "arabic", "persian", "greek",
      "czech", "french-elision"))
      assert(Analyzer.byName(n).name == n)
  }

  test("cjk end-to-end: index + phrase/term search through the engine") {
    import graft.index.LocalIndex
    import graft.score.BM25
    import graft.search.{PhraseQ, TermQ}
    val dir = tmpDir()
    val texts = Seq("東京都 に 住む", "京都 の 寺", "大阪 の 城")
    LocalIndex.build(dir, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, "cjk")
    // "東京" hits only doc 0; "京都" hits the 東京都 bigram chain AND doc 1
    assert(LocalIndex.search(dir, TermQ("東京"), 10, BM25()).map(_.docId).toSeq == Seq(0L))
    assert(LocalIndex.search(dir, TermQ("京都"), 10, BM25()).map(_.docId).toSet == Set(0L, 1L))
    // bigram phrase: consecutive bigrams 大阪 の 城 -> "の城"? query via phrase of bigrams
    assert(LocalIndex.search(dir, PhraseQ(Seq("東京", "京都")), 10, BM25())
      .map(_.docId).toSeq == Seq(0L))
  }
}
