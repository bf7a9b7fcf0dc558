package graft.score

import graft.codec.SmallFloat

/** Global collection statistics broadcast to query executors
  * (reference analog: searcher-level maxDoc/docFreq —
  * /root/reference/src/core/search/IndexSearcher.cpp:73-87). */
final case class CorpusStats(numDocs: Long, avgDocLength: Double) extends Serializable

/** A per-term scoring function with all query-time constants folded in.
  * `score` must be cheap: it runs once per (term, matching doc).
  * `normByte` is the SmallFloat-quantized length norm; `exactDl` the exact
  * token count (both live in the segment's norms sidecars — quantized for
  * Lucene parity, exact for SQL-oracle parity). */
trait TermWeight extends Serializable {
  def score(freq: Float, normByte: Byte, exactDl: Int): Double
  /** Admissible upper bound given block-max metadata (max term freq and the
    * minimum doc length in the block) — powers block-max WAND. */
  def maxScore(maxFreq: Int, minDlByte: Byte, minDl: Int): Double
}

/** Pluggable scoring, mirroring the reference's Similarity extension point
  * (/root/reference/src/core/search/Similarity.cpp:58-91) with two
  * implementations: BM25 (the north rule) and the reference's classic
  * TF-IDF (for reference-parity fixtures). */
trait Similarity extends Serializable {
  def termWeight(df: Long, boost: Float, stats: CorpusStats): TermWeight
  /** Query normalization over the sum of squared term weights — identity for
    * BM25, 1/sqrt(sumSq) for classic
    * (/root/reference/src/core/search/DefaultSimilarity.cpp:34-36). */
  def queryNorm(sumOfSquaredWeights: Float): Float
  /** Boolean-clause overlap bonus — 1 for BM25, overlap/maxOverlap for
    * classic (/root/reference/src/core/search/DefaultSimilarity.cpp:50-52). */
  def coord(overlap: Int, maxOverlap: Int): Float
  /** Contribution of one term to sumOfSquaredWeights (idf*boost squared for
    * classic; 0 for BM25 — BM25 needs no query norm). */
  def queryWeightSq(df: Long, boost: Float, stats: CorpusStats): Float
  /** Phrase clause contribution to sumOfSquaredWeights. */
  def phraseWeightSq(idfSum: Float, boost: Float): Float
  /** Constant-score (MatchAll) contribution to sumOfSquaredWeights. */
  def constWeightSq(boost: Float): Float
  /** idf used by phrase weights (summed over phrase terms). */
  def idf(df: Long, stats: CorpusStats): Float
  /** Weight for a multi-term (phrase) clause given the summed idf. */
  def phraseWeight(idfSum: Float, boost: Float, queryNorm: Float, stats: CorpusStats): TermWeight
  /** Finish a term weight once the global query norm is known. */
  def normalizedTermWeight(df: Long, boost: Float, queryNorm: Float, stats: CorpusStats): TermWeight
  /** Score one payload occurrence (reference Similarity.cpp:89 — default
    * 1.0; override to decode application payload bytes, e.g.
    * PayloadCodec.decodeFloat). */
  def scorePayload(payload: Array[Byte]): Float = 1.0f
}

/** BM25 per the north rule: k1=1.2, b=0.75, Lucene's BM25 idf
  * ln(1 + (N - df + 0.5)/(df + 0.5)) and SmallFloat-quantized doc lengths
  * (norm byte stores 1/sqrt(dl); dl is recovered as 1/f², so scores match a
  * Lucene BM25 index bit-for-bit on the same corpus).
  *
  * [[BM25Exact]] bypasses the quantization (uses the exact doclens
  * sidecar) — the DuckDB SQL-oracle parity mode, since the oracle cannot
  * reproduce SmallFloat.
  */
final case class BM25(k1: Float = 1.2f, b: Float = 0.75f) extends Similarity {

  override def idf(df: Long, stats: CorpusStats): Float =
    math.log(1.0 + (stats.numDocs - df + 0.5) / (df + 0.5)).toFloat

  override def queryNorm(sumSq: Float): Float = 1.0f
  override def coord(overlap: Int, maxOverlap: Int): Float = 1.0f
  override def queryWeightSq(df: Long, boost: Float, stats: CorpusStats): Float = 0.0f
  override def phraseWeightSq(idfSum: Float, boost: Float): Float = 0.0f
  override def constWeightSq(boost: Float): Float = 0.0f

  override def termWeight(df: Long, boost: Float, stats: CorpusStats): TermWeight =
    normalizedTermWeight(df, boost, 1.0f, stats)

  override def normalizedTermWeight(df: Long, boost: Float, qn: Float, stats: CorpusStats): TermWeight =
    new BM25Weight(idf(df, stats) * boost, k1, b, stats.avgDocLength)

  override def phraseWeight(idfSum: Float, boost: Float, qn: Float, stats: CorpusStats): TermWeight =
    new BM25Weight(idfSum * boost, k1, b, stats.avgDocLength)
}

private final class BM25Weight(idfBoost: Float, k1: Float, b: Float, avgdl: Double)
  extends TermWeight {
  private val denomCache: Array[Float] = BM25Norms.denominators(k1, b, avgdl)
  override def score(freq: Float, normByte: Byte, exactDl: Int): Double =
    (idfBoost * (freq * (k1 + 1)) / (freq + denomCache(normByte & 0xff))).toDouble
  override def maxScore(maxFreq: Int, minDlByte: Byte, minDl: Int): Double =
    (idfBoost * (maxFreq * (k1 + 1)) / (maxFreq + denomCache(minDlByte & 0xff))).toDouble
}

/** BM25's per-norm-byte denominator table, k1 * (1 - b + b * dl/avgdl) for
  * each of the 256 SmallFloat doc lengths. It depends only on (k1, b,
  * avgdl), so every weight of a corpus shares one table, as the reference
  * shares its one static norm decode table
  * (/root/reference/src/core/search/Similarity.cpp:37-55). The memo holds
  * the last table built; weights over other stats (MultiIndexSearcher's
  * combined stats next to a single index's) build and publish their own,
  * and a reader always gets a table whose key equals its arguments. Tables
  * are never written after publication. */
private object BM25Norms {
  import java.lang.Double.doubleToRawLongBits
  import java.lang.Float.floatToRawIntBits

  private final class Table(k1: Float, b: Float, avgdl: Double, val denominators: Array[Float]) {
    // keyed on bits: the table is reused only where it is bit-identical
    def isFor(k1: Float, b: Float, avgdl: Double): Boolean =
      floatToRawIntBits(k1) == floatToRawIntBits(this.k1) &&
        floatToRawIntBits(b) == floatToRawIntBits(this.b) &&
        doubleToRawLongBits(avgdl) == doubleToRawLongBits(this.avgdl)
  }

  @volatile private var last: Table = _

  def denominators(k1: Float, b: Float, avgdl: Double): Array[Float] = {
    val t = last
    if (t != null && t.isFor(k1, b, avgdl)) t.denominators
    else {
      val d = new Array[Float](256)
      var i = 0
      while (i < 256) {
        val dl = SmallFloat.decodeDocLength(i.toByte)
        d(i) = k1 * (1 - b + b * (dl / avgdl).toFloat)
        i += 1
      }
      last = new Table(k1, b, avgdl, d)
      d
    }
  }
}

/** BM25 over exact doc lengths — double-precision math so a SQL engine
  * (DuckDB oracle) reproduces scores to rounding. */
final case class BM25Exact(k1: Double = 1.2, b: Double = 0.75) extends Similarity {
  override def idf(df: Long, stats: CorpusStats): Float =
    math.log(1.0 + (stats.numDocs - df + 0.5) / (df + 0.5)).toFloat
  override def queryNorm(sumSq: Float): Float = 1.0f
  override def coord(overlap: Int, maxOverlap: Int): Float = 1.0f
  override def queryWeightSq(df: Long, boost: Float, stats: CorpusStats): Float = 0.0f
  override def phraseWeightSq(idfSum: Float, boost: Float): Float = 0.0f
  override def constWeightSq(boost: Float): Float = 0.0f
  override def termWeight(df: Long, boost: Float, stats: CorpusStats): TermWeight =
    normalizedTermWeight(df, boost, 1.0f, stats)
  override def normalizedTermWeight(df: Long, boost: Float, qn: Float, stats: CorpusStats): TermWeight =
    new BM25ExactWeight(math.log(1.0 + (stats.numDocs - df + 0.5) / (df + 0.5)) * boost,
      k1, b, stats.avgDocLength)
  override def phraseWeight(idfSum: Float, boost: Float, qn: Float, stats: CorpusStats): TermWeight =
    new BM25ExactWeight(idfSum.toDouble * boost, k1, b, stats.avgDocLength)
}

private final class BM25ExactWeight(idfBoost: Double, k1: Double, b: Double, avgdl: Double)
  extends TermWeight {
  override def score(freq: Float, normByte: Byte, exactDl: Int): Double =
    idfBoost * (freq * (k1 + 1)) / (freq + k1 * (1 - b + b * exactDl / avgdl))
  override def maxScore(maxFreq: Int, minDlByte: Byte, minDl: Int): Double =
    idfBoost * (maxFreq * (k1 + 1)) / (maxFreq + k1 * (1 - b + b * minDl / avgdl))
}

/** A similarity that decodes 4-byte big-endian float payloads (the
  * DelimitedPayloadAnalyzer encoding) and otherwise delegates — the
  * reference payload tests' Similarity::scorePayload override pattern
  * (/root/reference/src/test/search/payloads/PayloadTermQueryTest.cpp
  * BoostingTermSimilarity). */
final case class PayloadDecodingSimilarity(inner: Similarity = BM25Exact()) extends Similarity {
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
  override def scorePayload(p: Array[Byte]): Float = graft.analysis.PayloadCodec.decodeFloat(p)
}

/** The reference's DefaultSimilarity TF-IDF chain
  * (/root/reference/src/core/search/DefaultSimilarity.cpp:30-52,
  * TermQuery weight algebra /root/reference/src/core/search/TermQuery.cpp:32-114):
  * tf = sqrt(freq), idf = ln(N/(df+1)) + 1, norm = SmallFloat byte of
  * 1/sqrt(dl); term score = tf * idf² * boost * queryNorm * normDecode. */
case object ClassicTFIDF extends Similarity {

  override def idf(df: Long, stats: CorpusStats): Float =
    (math.log(stats.numDocs.toDouble / (df + 1).toDouble) + 1.0).toFloat

  override def queryNorm(sumSq: Float): Float =
    if (sumSq == 0.0f) 1.0f else (1.0 / math.sqrt(sumSq.toDouble)).toFloat

  override def coord(overlap: Int, maxOverlap: Int): Float =
    if (maxOverlap == 0) 1.0f else overlap.toFloat / maxOverlap.toFloat

  override def queryWeightSq(df: Long, boost: Float, stats: CorpusStats): Float = {
    val w = idf(df, stats) * boost
    w * w
  }

  override def phraseWeightSq(idfSum: Float, boost: Float): Float = {
    val w = idfSum * boost
    w * w
  }

  override def constWeightSq(boost: Float): Float = boost * boost

  override def termWeight(df: Long, boost: Float, stats: CorpusStats): TermWeight = {
    // single-clause convenience: queryNorm collapses to 1/(idf*boost)
    val qn = queryNorm(queryWeightSq(df, boost, stats))
    normalizedTermWeight(df, boost, qn, stats)
  }

  override def normalizedTermWeight(df: Long, boost: Float, qn: Float, stats: CorpusStats): TermWeight =
    new ClassicWeight(idf(df, stats) * boost * qn * idf(df, stats))

  override def phraseWeight(idfSum: Float, boost: Float, qn: Float, stats: CorpusStats): TermWeight =
    new ClassicWeight(idfSum * boost * qn * idfSum)
}

private final class ClassicWeight(value: Float) extends TermWeight {
  override def score(freq: Float, normByte: Byte, exactDl: Int): Double =
    (math.sqrt(freq.toDouble).toFloat * value * SmallFloat.NormTable(normByte & 0xff)).toDouble
  override def maxScore(maxFreq: Int, minDlByte: Byte, minDl: Int): Double =
    (math.sqrt(maxFreq.toDouble).toFloat * value * SmallFloat.NormTable(minDlByte & 0xff)).toDouble
}
