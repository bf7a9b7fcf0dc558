package graft.analysis

/** Analysis chains, re-expressed as pure `Iterator[Token]` transforms so
  * they compose inside Spark `mapPartitions` with zero per-row UDF overhead
  * (SURVEY.md §2.8, §2.11).
  *
  * Semantics pinned to the reference:
  *  - StandardFilter: strip trailing 's from APOSTROPHE tokens, strip dots
  *    from ACRONYM tokens (/root/reference/src/core/analysis/standard/StandardFilter.cpp:43-68)
  *  - LowerCaseFilter: per-code-unit lowercase
  *    (/root/reference/src/core/analysis/LowerCaseFilter.cpp:21-28, CharFolder)
  *  - StopFilter: drop the 33 English stop words, accumulating skipped
  *    position increments (/root/reference/src/core/analysis/StopFilter.cpp:36-50,
  *    list /root/reference/src/core/analysis/StopAnalyzer.cpp:17-22)
  */
object Filters {

  /** The reference's ENGLISH_STOP_WORDS_SET (StopAnalyzer.cpp:17-22). */
  val EnglishStopWords: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by",
    "for", "if", "in", "into", "is", "it", "no", "not", "of",
    "on", "or", "such", "that", "the", "their", "then", "there",
    "these", "they", "this", "to", "was", "will", "with")

  def standardFilter(in: Iterator[Token]): Iterator[Token] = in.map { t =>
    if (t.tpe == TokenType.APOSTROPHE && t.term.length >= 2 && {
      val tail = t.term.substring(t.term.length - 2)
      tail == "'s" || tail == "'S"
    }) t.copy(term = t.term.substring(0, t.term.length - 2))
    else if (t.tpe == TokenType.ACRONYM) t.copy(term = t.term.replace(".", ""))
    else t
  }

  def lowerCaseFilter(in: Iterator[Token]): Iterator[Token] = in.map { t =>
    // detect before copying: all-lowercase tokens (the common case in web
    // text) allocate nothing in this filter
    val s = t.term
    var i = 0
    while (i < s.length && Character.toLowerCase(s.charAt(i)) == s.charAt(i)) i += 1
    if (i == s.length) t
    else {
      val arr = s.toCharArray
      while (i < arr.length) { arr(i) = Character.toLowerCase(arr(i)); i += 1 }
      t.copy(term = new String(arr))
    }
  }

  /** Split "term|payload" tokens: text before the delimiter stays the
    * term, the float after it becomes a 4-byte big-endian payload (the
    * DelimitedPayloadTokenFilter + FloatEncoder pattern the reference's
    * payload tests build by hand — PayloadHelper.cpp). */
  def delimitedPayloadFilter(delimiter: Char = '|')(in: Iterator[Token]): Iterator[Token] =
    in.map { t =>
      val i = t.term.lastIndexOf(delimiter.toInt)
      if (i < 0) t
      else scala.util.Try(t.term.substring(i + 1).toFloat).toOption match {
        case Some(v) =>
          t.copy(term = t.term.substring(0, i), payload = PayloadCodec.encodeFloat(v))
        case None => t // not a float suffix: keep the token verbatim
      }
    }

  /** Porter-stem each token (reference PorterStemFilter.cpp:19-33). */
  def porterStemFilter(in: Iterator[Token]): Iterator[Token] = {
    val stemmer = new PorterStemmer
    in.map { t =>
      val stemmed = stemmer.stem(t.term)
      if (stemmed eq t.term) t else t.copy(term = stemmed)
    }
  }

  /** Drop tokens whose length is outside [min, max] (reference
    * LengthFilter.cpp:22-34 — NOTE: does not preserve position increments,
    * same as the reference). */
  def lengthFilter(min: Int, max: Int)(in: Iterator[Token]): Iterator[Token] =
    in.filter(t => t.term.length >= min && t.term.length <= max)

  /** Fold accented / decorated Latin characters to their ASCII base
    * (the role of the reference's ASCIIFoldingFilter.cpp — Unicode NFD
    * decomposition + combining-mark strip, plus the common non-decomposable
    * specials from its table; the reference's exhaustive 2k-line switch is
    * covered for Latin-1/Latin-Extended text, which is what web text
    * carries). */
  def asciiFoldingFilter(in: Iterator[Token]): Iterator[Token] = in.map { t =>
    if (t.term.forall(_ < 0x80)) t
    else t.copy(term = foldToAscii(t.term))
  }

  private val asciiSpecials: Map[Char, String] = Map(
    'Æ' -> "AE", 'æ' -> "ae", 'Œ' -> "OE", 'œ' -> "oe",
    'ß' -> "ss", 'Ø' -> "O", 'ø' -> "o", 'Đ' -> "D", 'đ' -> "d",
    'Ð' -> "D", 'ð' -> "d", 'Þ' -> "TH", 'þ' -> "th",
    'Ł' -> "L", 'ł' -> "l", 'Ħ' -> "H", 'ħ' -> "h",
    'ı' -> "i", 'ĸ' -> "q", 'Ŋ' -> "N", 'ŋ' -> "n",
    'Ŧ' -> "T", 'ŧ' -> "t")

  def foldToAscii(s: String): String = {
    val nfd = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < nfd.length) {
      val c = nfd.charAt(i)
      if (c < 0x80) sb.append(c)
      else if (Character.getType(c) == Character.NON_SPACING_MARK) () // strip diacritic
      else asciiSpecials.get(c) match {
        case Some(rep) => sb.append(rep)
        case None => sb.append(c) // non-Latin scripts pass through
      }
      i += 1
    }
    sb.toString
  }

  def stopFilter(stop: Set[String])(in: Iterator[Token]): Iterator[Token] =
    new Iterator[Token] {
      private var pending = 0
      private var nextTok: Token = null
      advance()
      private def advance(): Unit = {
        nextTok = null
        while (nextTok == null && in.hasNext) {
          val t = in.next()
          if (stop.contains(t.term)) pending += t.posIncr
          else if (pending == 0) nextTok = t // no copy on the common path
          else { nextTok = t.copy(posIncr = t.posIncr + pending); pending = 0 }
        }
      }
      override def hasNext: Boolean = nextTok != null
      override def next(): Token = { val t = nextTok; advance(); t }
    }
}

/** An analyzer turns raw text into a token stream. Serializable so an
  * instance can be closed over by Spark tasks. */
trait Analyzer extends Serializable {
  def analyze(text: String): Iterator[Token]
  /** Analyzer identity recorded in segment metadata, so queries are
    * analyzed with the same chain the index was built with. */
  def name: String
}

/** StandardTokenizer → StandardFilter → LowerCaseFilter → StopFilter,
  * max token length 255 (/root/reference/src/core/analysis/standard/StandardAnalyzer.cpp:20,49-56). */
final case class StandardAnalyzer(
    stopWords: Set[String] = Filters.EnglishStopWords,
    maxTokenLength: Int = 255) extends Analyzer {
  override def analyze(text: String): Iterator[Token] =
    Filters.stopFilter(stopWords)(
      Filters.lowerCaseFilter(
        Filters.standardFilter(
          ClassicScanner.tokenize(text, maxTokenLength))))
  override def name: String = "standard"
}

/** Split on whitespace, no lowercasing
  * (/root/reference/src/core/analysis/WhitespaceTokenizer.cpp). */
case object WhitespaceAnalyzer extends Analyzer {
  override def analyze(text: String): Iterator[Token] = new Iterator[Token] {
    private var i = 0
    private var nextTok: Token = null
    advance()
    private def advance(): Unit = {
      nextTok = null
      val n = text.length
      while (i < n && Character.isWhitespace(text.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !Character.isWhitespace(text.charAt(i))) i += 1
        nextTok = Token(text.substring(start, i), 1, start, i, TokenType.ALPHANUM)
      }
    }
    override def hasNext: Boolean = nextTok != null
    override def next(): Token = { val t = nextTok; advance(); t }
  }
  override def name: String = "whitespace"
}

/** Maximal letter runs, lowercased (LetterTokenizer + LowerCaseFilter —
  * /root/reference/src/core/analysis/SimpleAnalyzer.cpp). */
case object SimpleAnalyzer extends Analyzer {
  override def analyze(text: String): Iterator[Token] = new Iterator[Token] {
    private var i = 0
    private var nextTok: Token = null
    advance()
    private def advance(): Unit = {
      nextTok = null
      val n = text.length
      while (i < n && !Character.isLetter(text.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && Character.isLetter(text.charAt(i))) i += 1
        nextTok = Token(text.substring(start, i).toLowerCase, 1, start, i, TokenType.ALPHANUM)
      }
    }
    override def hasNext: Boolean = nextTok != null
    override def next(): Token = { val t = nextTok; advance(); t }
  }
  override def name: String = "simple"
}

/** Whole input = one token (reference KeywordAnalyzer.cpp /
  * KeywordTokenizer.cpp) — exact-match fields (ids, urls, zip codes). */
case object KeywordAnalyzer extends Analyzer {
  override def analyze(text: String): Iterator[Token] =
    if (text.isEmpty) Iterator.empty
    else Iterator.single(Token(text, 1, 0, text.length, TokenType.ALPHANUM))
  override def name: String = "keyword"
}

/** StandardAnalyzer chain + Porter stemming (the reference's
  * PorterStemFilter.cpp appended to the standard chain — the common
  * English-stemming configuration). */
final case class PorterAnalyzer(
    stopWords: Set[String] = Filters.EnglishStopWords,
    maxTokenLength: Int = 255) extends Analyzer {
  override def analyze(text: String): Iterator[Token] =
    Filters.porterStemFilter(StandardAnalyzer(stopWords, maxTokenLength).analyze(text))
  override def name: String = "porter"
}

/** Snowball stemmer registry + the reference's contrib snowball chain
  * (SnowballAnalyzer.cpp:31-40: StandardTokenizer → StandardFilter →
  * LowerCaseFilter → optional StopFilter → SnowballFilter;
  * SnowballFilter.cpp:17-21 throws on an unknown language name). Each
  * registered stemmer is verified against a golden corpus generated by
  * the reference's own bundled libstemmer (SnowballSpec). */
object SnowballStemmers {
  val byName: Map[String, String => String] = Map(
    "danish" -> Snowball.Danish.stem,
    "dutch" -> Snowball.Dutch.stem,
    "english" -> Snowball.English.stem,
    "finnish" -> Snowball.Finnish.stem,
    "french" -> Snowball.French.stem,
    "german" -> Snowball.German.stem,
    "hungarian" -> Snowball.Hungarian.stem,
    "italian" -> Snowball.Italian.stem,
    "norwegian" -> Snowball.Norwegian.stem,
    "portuguese" -> Snowball.Portuguese.stem,
    "romanian" -> Snowball.Romanian.stem,
    "russian" -> Snowball.Russian.stem,
    "spanish" -> Snowball.Spanish.stem,
    "swedish" -> Snowball.Swedish.stem,
    "turkish" -> Snowball.Turkish.stem,
    "porter" -> ((w: String) => new PorterStemmer().stem(w)))

  def apply(name: String): String => String =
    byName.getOrElse(name.toLowerCase(java.util.Locale.ROOT),
      throw new IllegalArgumentException(s"language not available for stemming: $name"))
}

/** StandardAnalyzer chain + a Snowball stemmer picked by language name
  * (the reference's contrib SnowballAnalyzer). */
final case class SnowballAnalyzer(
    language: String,
    stopWords: Set[String] = Set.empty,
    maxTokenLength: Int = 255) extends Analyzer {
  private val stemmer = SnowballStemmers(language)
  override def analyze(text: String): Iterator[Token] = {
    val base = Filters.lowerCaseFilter(
      Filters.standardFilter(ClassicScanner.tokenize(text, maxTokenLength)))
    val stopped = if (stopWords.nonEmpty) Filters.stopFilter(stopWords)(base) else base
    stopped.map(t => t.copy(term = stemmer(t.term)))
  }
  override def name: String = s"snowball-$language"
}

/** 4-byte big-endian float payload codec (Lucene PayloadHelper layout). */
object PayloadCodec {
  def encodeFloat(v: Float): Array[Byte] = {
    val bits = java.lang.Float.floatToIntBits(v)
    Array(((bits >>> 24) & 0xff).toByte, ((bits >>> 16) & 0xff).toByte,
      ((bits >>> 8) & 0xff).toByte, (bits & 0xff).toByte)
  }
  def decodeFloat(p: Array[Byte]): Float = {
    if (p == null || p.length < 4) return 1f
    java.lang.Float.intBitsToFloat(
      ((p(0) & 0xff) << 24) | ((p(1) & 0xff) << 16) | ((p(2) & 0xff) << 8) | (p(3) & 0xff))
  }
}

/** Whitespace tokens with "term|float" payloads — the payload-test chain. */
case object DelimitedPayloadAnalyzer extends Analyzer {
  override def analyze(text: String): Iterator[Token] =
    Filters.delimitedPayloadFilter()(WhitespaceAnalyzer.analyze(text))
  override def name: String = "delimited"
}

/** Character n-grams of the whole input, start-major with ascending sizes
  * per start (reference contrib NGramTokenizer; goldens
  * /root/reference/src/test/analysis/ngram/NGramTokenizerTest.cpp:17-36) —
  * substring search / fuzzy-ish recall. */
final case class NGramAnalyzer(minGram: Int = 1, maxGram: Int = 2) extends Analyzer {
  require(minGram >= 1 && minGram <= maxGram, "invalid gram bounds")
  override def analyze(text: String): Iterator[Token] =
    for {
      start <- (0 to text.length - minGram).iterator
      n <- (minGram to math.min(maxGram, text.length - start)).iterator
    } yield Token(text.substring(start, start + n), 1, start, start + n, TokenType.ALPHANUM)
  override def name: String = s"ngram-$minGram-$maxGram"
}

/** Edge n-grams anchored at the input's front (or back) — prefix search
  * (reference contrib EdgeNGramTokenizer; goldens
  * EdgeNGramTokenizerTest.cpp:17-36). */
final case class EdgeNGramAnalyzer(minGram: Int = 1, maxGram: Int = 1,
    back: Boolean = false) extends Analyzer {
  require(minGram >= 1 && minGram <= maxGram, "invalid gram bounds")
  override def analyze(text: String): Iterator[Token] =
    (minGram to math.min(maxGram, text.length)).iterator.map { n =>
      val (s, e) = if (back) (text.length - n, text.length) else (0, n)
      Token(text.substring(s, e), 1, s, e, TokenType.ALPHANUM)
    }
  override def name: String = s"edgengram-$minGram-$maxGram" + (if (back) "-back" else "")
}

object Analyzer {
  private val NGramName = """ngram-(\d+)-(\d+)""".r
  private val EdgeName = """edgengram-(\d+)-(\d+)(-back)?""".r

  /** Resolve an analyzer by the name stored in index metadata. */
  def byName(name: String): Analyzer = name match {
    case "standard" => StandardAnalyzer()
    case "whitespace" => WhitespaceAnalyzer
    case "simple" => SimpleAnalyzer
    case "keyword" => KeywordAnalyzer
    case "porter" => PorterAnalyzer()
    case "delimited" => DelimitedPayloadAnalyzer
    case NGramName(lo, hi) => NGramAnalyzer(lo.toInt, hi.toInt)
    case EdgeName(lo, hi, back) => EdgeNGramAnalyzer(lo.toInt, hi.toInt, back != null)
    case "cjk" => CJKAnalyzer
    case "chinese" => ChineseAnalyzer
    case "german" => GermanAnalyzer()
    case "arabic" => ArabicAnalyzer
    case "persian" => PersianAnalyzer
    case "greek" => GreekAnalyzer
    case "czech" => CzechAnalyzer
    case "french-elision" => FrenchElisionAnalyzer()
    case "french" => FrenchAnalyzer()
    case "dutch" => DutchAnalyzer()
    case "russian" => RussianAnalyzer
    case "brazilian" => BrazilianAnalyzer()
    case html if html.startsWith("html-") => HtmlStripAnalyzer(byName(html.drop(5)))
    case other => throw new IllegalArgumentException(s"unknown analyzer: $other")
  }
}
