package graft.search

/** Query plan ADT — the engine's logical plan (SURVEY.md §2.3 "scorer-tree
  * planner"; reference Query classes /root/reference/src/core/search/).
  * Built programmatically (the reference's fixtures do the same —
  * TermScorerTest.cpp constructs TermQuery directly); a text parser is a
  * later round. */
sealed trait Query extends Serializable

final case class TermQ(term: String, boost: Float = 1f) extends Query

/** Exact phrase when slop=0 (reference ExactPhraseScorer.cpp:20-45). */
final case class PhraseQ(terms: Seq[String], slop: Int = 0, boost: Float = 1f) extends Query

/** AND/OR/NOT tree with minimum-should-match
  * (reference BooleanQuery.cpp / BooleanScorer2.cpp:58-93). Construction
  * enforces the reference's add-time clause budget
  * (BooleanQuery.cpp:60-68 TooManyClauses at maxClauseCount=1024) — the
  * guard multi-term expansion honors internally now also protects
  * programmatic query assembly. */
final case class BoolQ(
    must: Seq[Query] = Nil,
    should: Seq[Query] = Nil,
    mustNot: Seq[Query] = Nil,
    minShouldMatch: Int = 0) extends Query {
  require(must.size + should.size + mustNot.size <= BoolQ.MaxClauseCount,
    s"too many boolean clauses: ${must.size + should.size + mustNot.size} > " +
      s"maxClauseCount=${BoolQ.MaxClauseCount}")
}

object BoolQ {
  /** Reference BooleanQuery::maxClauseCount default. */
  val MaxClauseCount = 1024
}

case object MatchAllQ extends Query

/** Query AND filter: matches their intersection, scored by `query` alone
  * (reference FilteredQuery.cpp — the filter contributes no score). */
final case class FilteredQ(query: Query, filter: Query) extends Query

/** Phrase with term alternatives per position
  * (reference MultiPhraseQuery.cpp); exact matching (slop 0). */
final case class MultiPhraseQ(slots: Seq[Seq[String]], boost: Float = 1f) extends Query

/** Uniform-score wrapper (reference ConstantScoreQuery.cpp): matching docs
  * of the inner query all score `boost` (x queryNorm under classic). */
final case class ConstantScoreQ(inner: Query, boost: Float = 1f) extends Query

/** Per-doc max over sub-scorers plus tie-break times the rest
  * (reference DisjunctionMaxQuery.cpp / DisjunctionMaxScorer.cpp). */
final case class DisMaxQ(disjuncts: Seq[Query], tieBreaker: Float = 0f,
    boost: Float = 1f) extends Query

/** Multi-term queries (reference MultiTermQuery family, SURVEY.md §2.9):
  * expanded against the term dictionary BEFORE scoring — see MultiTerm.
  * `constantScore` mirrors the reference's CONSTANT_SCORE vs SCORING
  * rewrite modes (MultiTermQuery.cpp:31-62). */
sealed trait MultiTermQ extends Query { def boost: Float; def constantScore: Boolean }

final case class PrefixQ(prefix: String, boost: Float = 1f,
    constantScore: Boolean = true) extends MultiTermQ

/** `*` = any run, `?` = one char (reference WildcardQuery.cpp). */
final case class WildcardQ(pattern: String, boost: Float = 1f,
    constantScore: Boolean = true) extends MultiTermQ

/** Lexicographic term range (reference TermRangeQuery.cpp). */
final case class TermRangeQ(lower: Option[String], upper: Option[String],
    includeLower: Boolean = true, includeUpper: Boolean = true,
    boost: Float = 1f, constantScore: Boolean = true) extends MultiTermQ

/** Edit-distance expansion; expanded term boost = scaled similarity
  * (reference FuzzyQuery.cpp / FuzzyTermEnum.cpp:42). Always scoring. */
final case class FuzzyQ(term: String, minSimilarity: Float = 0.5f,
    prefixLength: Int = 0, boost: Float = 1f) extends MultiTermQ {
  override def constantScore: Boolean = false
}

/** Per-doc value source for function scoring (reference
  * /root/reference/src/core/search/function/: FieldCacheSource family,
  * OrdFieldSource.cpp:55-60, ReverseOrdFieldSource.cpp:58-63). The engine's
  * per-doc values are the doc length sidecar and the url-rank ordinal
  * (docIds are url ranks, so ord == local docId + 1 — per segment, matching
  * the reference's per-READER FieldCache ords). */
sealed trait ValueSource extends Serializable
/** Exact token count of the doc. */
case object DocLenVS extends ValueSource
/** 1-based url-rank ordinal within the segment (OrdFieldSource). */
case object OrdVS extends ValueSource
/** docCount − local docId (ReverseOrdFieldSource: end − ord). */
case object ReverseOrdVS extends ValueSource
final case class ConstVS(value: Double) extends ValueSource

/** The reference's CustomScoreProvider hook
  * (CustomScoreProvider.cpp:20-35): combine the sub-query score with the
  * value-source scores; default is their product. */
trait CustomScoreProvider extends Serializable {
  def customScore(subScore: Double, valSrcScores: Array[Double]): Double = {
    var s = subScore
    var i = 0
    while (i < valSrcScores.length) { s *= valSrcScores(i); i += 1 }
    s
  }
}
case object DefaultCustomScoreProvider extends CustomScoreProvider

/** Function query: matches every doc, score = boost · queryNorm ·
  * value(doc) (reference ValueSourceQuery.cpp:78-131). */
final case class ValueSourceQ(src: ValueSource, boost: Float = 1f) extends Query

/** Custom-scored query (reference CustomScoreQuery.cpp, STRICT mode: value
  * sources enter raw, un-normalized — CustomWeight::normalize qStrict
  * branch): score = boost · provider(subScore, valueSourceValues), with the
  * query norm (classic sim) folded into the sub-query via norm·boost. */
final case class CustomScoreQ(sub: Query, valSrcs: Seq[ValueSource] = Nil,
    boost: Float = 1f,
    provider: CustomScoreProvider = DefaultCustomScoreProvider) extends Query

/** A predicate on a document METADATA field (url/lang/source/...) — the
  * parser's field-dispatch target for fields that live in the source table
  * rather than the inverted index (reference QueryParser dispatches per
  * field, QueryParser.cpp:296-458; this engine is single-text-field, so
  * metadata predicates stay Catalyst filters on the corpus table and are
  * applied as a semi/anti-join on the match set — see
  * EngineQueries.parsedFieldMatch). Must be resolved before reaching the
  * scorer tree; Query.splitMetaFilters hoists top-level occurrences. */
final case class MetaFieldQ(field: String, value: String) extends Query

/** Filter with a per-segment memoized match bitset (reference
  * CachingWrapperFilter.cpp:1-155): the wrapped query's match set is
  * computed once per segment and reused across queries — segments are
  * immutable, so the cache never invalidates. Scoreless (meant as the
  * `filter` side of [[FilteredQ]] or a BoolQ filter clause). */
final case class CachedQ(inner: Query) extends Query

/** Constant-score union of an explicit term set — the bitmap-filter rewrite
  * of large multi-term expansions (reference
  * MultiTermQueryWrapperFilter.cpp + MultiTermQuery CONSTANT_SCORE_FILTER,
  * MultiTermQuery.cpp:31-62): per segment, the matched terms' postings are
  * OR-ed into a bitset instead of building one TermScorer per term. */
final case class TermSetQ(terms: Seq[String], boost: Float = 1f) extends Query

/** Span (position-aware) query family (reference
  * /root/reference/src/core/search/spans/). Scored like a phrase: value =
  * idf(term set)² · boost · queryNorm, freq = Σ sloppyFreq(end-start) over
  * matched spans (SpanWeight.cpp:44-56, SpanScorer.cpp:56-67). Only the
  * top-level boost participates in scoring, as in the reference. */
sealed trait SpanQuery extends Query { def boost: Float }

/** One span per position of `term` (reference SpanTermQuery.cpp). */
final case class SpanTermQ(term: String, boost: Float = 1f) extends SpanQuery

/** Clauses within `slop` total gap; `inOrder` requires clause order
  * (reference SpanNearQuery.cpp, NearSpansOrdered/Unordered.cpp). */
final case class SpanNearQ(clauses: Seq[SpanQuery], slop: Int,
    inOrder: Boolean, boost: Float = 1f) extends SpanQuery

/** Union of sub-spans (reference SpanOrQuery.cpp). */
final case class SpanOrQ(clauses: Seq[SpanQuery], boost: Float = 1f) extends SpanQuery

/** Include-spans not overlapping any exclude-span (reference
  * SpanNotQuery.cpp). */
final case class SpanNotQ(include: SpanQuery, exclude: SpanQuery,
    boost: Float = 1f) extends SpanQuery

/** Spans ending within the first `limit` positions (reference
  * SpanFirstQuery.cpp). */
final case class SpanFirstQ(inner: SpanQuery, limit: Int,
    boost: Float = 1f) extends SpanQuery

/** Per-payload aggregation for payload scoring (reference
  * Min/Max/AveragePayloadFunction.cpp): docScore folds the per-occurrence
  * payload scores; 1.0 when the doc carried none. */
sealed trait PayloadFunction extends Serializable {
  def fold(acc: Double, v: Double): Double
  def init: Double
  def docScore(seen: Int, acc: Double): Double
}
case object AvgPayloadFunction extends PayloadFunction {
  override def init: Double = 0.0
  override def fold(acc: Double, v: Double): Double = acc + v
  override def docScore(seen: Int, acc: Double): Double = if (seen > 0) acc / seen else 1.0
}
case object MinPayloadFunction extends PayloadFunction {
  override def init: Double = Double.MaxValue
  override def fold(acc: Double, v: Double): Double = math.min(acc, v)
  override def docScore(seen: Int, acc: Double): Double = if (seen > 0) acc else 1.0
}
case object MaxPayloadFunction extends PayloadFunction {
  override def init: Double = Double.MinValue
  override def fold(acc: Double, v: Double): Double = math.max(acc, v)
  override def docScore(seen: Int, acc: Double): Double = if (seen > 0) acc else 1.0
}

/** Payload-scored proximity query (reference PayloadNearQuery.cpp, a
  * SpanNearQuery whose score multiplies the span score by
  * fn.docScore over the payloads collected from the matched composite
  * spans — PayloadNearSpanScorer::score). Payloads are gathered per doc
  * from the FIRST match's shrunk positions (setFreqCurrentDoc calls
  * getPayloads once on doc entry), exactly as the reference does. */
final case class PayloadNearQ(clauses: Seq[SpanQuery], slop: Int,
    inOrder: Boolean, fn: PayloadFunction = AvgPayloadFunction,
    boost: Float = 1f) extends SpanQuery

/** Payload-scored term query (reference PayloadTermQuery.cpp, a
  * SpanTermQuery whose score multiplies the span score by the folded
  * per-occurrence payload scores from Similarity.scorePayload):
  * score = spanScore × fn(payloads), or fn(payloads) alone when
  * includeSpanScore = false. */
final case class PayloadTermQ(term: String, fn: PayloadFunction = AvgPayloadFunction,
    includeSpanScore: Boolean = true, boost: Float = 1f) extends Query

object Query {

  /** All terms needing global df (postings terms incl. prohibited).
    * Multi-term nodes must be expanded first (MultiTerm.expand). */
  def allTerms(q: Query): Set[String] = q match {
    case TermQ(t, _) => Set(t)
    case PhraseQ(ts, _, _) => ts.toSet
    case BoolQ(m, s, n, _) => (m ++ s ++ n).flatMap(allTerms).toSet
    case ConstantScoreQ(inner, _) => allTerms(inner)
    case CachedQ(inner) => allTerms(inner)
    case CustomScoreQ(sub, _, _, _) => allTerms(sub)
    case _: ValueSourceQ => Set.empty
    case DisMaxQ(ds, _, _) => ds.flatMap(allTerms).toSet
    case FilteredQ(q2, f) => allTerms(q2) ++ allTerms(f)
    case MultiPhraseQ(slots, _) => slots.flatten.toSet
    case sq: SpanQuery => spanAllTerms(sq)
    case PayloadTermQ(t, _, _, _) => Set(t)
    // constant-score term sets never touch df — keeping their (possibly
    // 10^4+) terms out of the global-df broadcast is the point
    case _: TermSetQ => Set.empty
    case _: MetaFieldQ => Set.empty
    case _: MultiTermQ => Set.empty
    case MatchAllQ => Set.empty
  }

  /** Every term a span query touches (incl. excludes — they need postings,
    * though not df-based weight; weight terms are Spans.weightTerms). */
  private def spanAllTerms(sq: SpanQuery): Set[String] = sq match {
    case SpanTermQ(t, _) => Set(t)
    case SpanNearQ(cs, _, _, _) => cs.flatMap(spanAllTerms).toSet
    case SpanOrQ(cs, _) => cs.flatMap(spanAllTerms).toSet
    case SpanNotQ(inc, exc, _) => spanAllTerms(inc) ++ spanAllTerms(exc)
    case SpanFirstQ(inner, _, _) => spanAllTerms(inner)
    case PayloadNearQ(cs, _, _, _, _) => cs.flatMap(spanAllTerms).toSet
  }

  /** Every multi-term node (wildcard, prefix, fuzzy, ...) in `q`, in
    * clause order; these are the nodes expansion rewrites. */
  def collectMultiTermNodes(q: Query): Seq[MultiTermQ] = q match {
    case mt: MultiTermQ => Seq(mt)
    case BoolQ(m, s, n, _) => (m ++ s ++ n).flatMap(collectMultiTermNodes)
    case ConstantScoreQ(inner, _) => collectMultiTermNodes(inner)
    case CachedQ(inner) => collectMultiTermNodes(inner)
    case CustomScoreQ(sub, _, _, _) => collectMultiTermNodes(sub)
    case DisMaxQ(ds, _, _) => ds.flatMap(collectMultiTermNodes)
    case FilteredQ(q2, f) => collectMultiTermNodes(q2) ++ collectMultiTermNodes(f)
    case _ => Nil
  }

  def hasMultiTerm(q: Query): Boolean = collectMultiTermNodes(q).nonEmpty

  /** Normalize: collapse 1-clause booleans (reference
    * BooleanQuery.cpp:87-102 rewrite). */
  def rewrite(q: Query): Query = q match {
    case BoolQ(Seq(one), Nil, Nil, _) => rewrite(one)
    case BoolQ(Nil, Seq(one), Nil, msm) if msm <= 1 => rewrite(one)
    case BoolQ(m, s, n, msm) =>
      BoolQ(m.map(rewrite), s.map(rewrite), n.map(rewrite), msm)
    case other => other
  }

  /** Hoist top-level metadata-field predicates out of a parsed query:
    * (engine query, required meta filters, prohibited meta filters). A
    * metadata predicate cannot be scored by the inverted index, so a
    * top-level SHOULD occurrence is promoted to a required filter — the
    * documented single-field-engine semantics of `lang:en quick fox`.
    * Nested occurrences (inside parens) are left in place and fail at
    * scorer construction with a clear error. */
  def splitMetaFilters(q: Query): (Query, Seq[MetaFieldQ], Seq[MetaFieldQ]) = q match {
    case BoolQ(must, should, mustNot, msm) =>
      val (metaMust, m2) = must.partition(_.isInstanceOf[MetaFieldQ])
      val (metaShould, s2) = should.partition(_.isInstanceOf[MetaFieldQ])
      val (metaNot, n2) = mustNot.partition(_.isInstanceOf[MetaFieldQ])
      (rewrite(BoolQ(m2, s2, n2, msm)),
        (metaMust ++ metaShould).map(_.asInstanceOf[MetaFieldQ]),
        metaNot.map(_.asInstanceOf[MetaFieldQ]))
    case m: MetaFieldQ => (MatchAllQ, Seq(m), Nil)
    case other => (other, Nil, Nil)
  }

  /** True if `q` is a flat OR of bare terms — the WAND-eligible shape. */
  def flatOrTerms(q: Query): Option[Seq[TermQ]] = q match {
    case t: TermQ => Some(Seq(t))
    case BoolQ(Nil, should, Nil, msm) if msm <= 1 &&
      should.forall(_.isInstanceOf[TermQ]) =>
      Some(should.map(_.asInstanceOf[TermQ]))
    case _ => None
  }
}
