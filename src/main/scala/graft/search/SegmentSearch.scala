package graft.search

import graft.index.{PostingsIterator, SegmentReader}
import graft.score.{CorpusStats, Similarity, TermWeight}

final case class ScoredDoc(docId: Long, score: Double)

/** Bounded top-k min-heap with the reference's tie-break: score desc, then
  * docID asc (/root/reference/src/core/search/HitQueue.cpp:20-26;
  * sentinel-prefill idea from TopScoreDocCollector.cpp:18-34). Root = the
  * current worst hit; `threshold` feeds WAND pruning. */
final class TopKCollector(k: Int) {
  private val scores = new Array[Double](k)
  private val docs = new Array[Long](k)
  private var size = 0

  /** Worse-than ordering for the heap: a is worse than b. */
  @inline private def worse(sa: Double, da: Long, sb: Double, db: Long): Boolean =
    sa < sb || (sa == sb && da > db)

  def full: Boolean = size == k
  /** Current kth score (−∞ until full). */
  def threshold: Double = if (size < k) Double.NegativeInfinity else scores(0)

  def collect(score: Double, doc: Long): Unit = {
    if (size < k) {
      scores(size) = score; docs(size) = doc; size += 1
      var i = size - 1
      while (i > 0 && worse(scores(i), docs(i), scores((i - 1) / 2), docs((i - 1) / 2))) {
        swap(i, (i - 1) / 2); i = (i - 1) / 2
      }
    } else if (worse(scores(0), docs(0), score, doc)) {
      scores(0) = score; docs(0) = doc
      siftDown()
    }
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val s = scores(i); scores(i) = scores(j); scores(j) = s
    val d = docs(i); docs(i) = docs(j); docs(j) = d
  }

  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var w = i
      if (l < size && worse(scores(l), docs(l), scores(w), docs(w))) w = l
      if (r < size && worse(scores(r), docs(r), scores(w), docs(w))) w = r
      if (w == i) done = true else { swap(i, w); i = w }
    }
  }

  /** Results best-first. */
  def results(): Array[ScoredDoc] = {
    val out = (0 until size).map(i => ScoredDoc(docs(i), scores(i))).toArray
    out.sortBy(h => (-h.score, h.docId))
  }
}

/** Unsynchronized diagnostic counters for the WAND loop — read by the
  * profiling tools (exact when single-threaded, indicative otherwise;
  * never used for control flow). */
object WandDiag {
  @volatile var enabled = false
  var fullEvals = 0L // pivot docs fully scored
  var blockSkips = 0L // deep skips taken after a block-max refutation
  var pivotAdvances = 0L // behind-iterator advances to the pivot
  var rounds = 0L // outer-loop iterations
  def reset(): Unit = { fullEvals = 0; blockSkips = 0; pivotAdvances = 0; rounds = 0 }
}

/** Per-segment query execution: weight construction (global stats in, the
  * reference's Weight algebra — Query.cpp:44-54), scorer-tree building
  * (BooleanScorer2::makeCountingSumScorer semantics, BooleanScorer2.cpp:58-93)
  * and top-k collection. For flat OR-of-terms under a coord-free similarity
  * it switches to Block-Max WAND. */
object SegmentSearch {

  /** Total sum of squared weights of all scoring clauses (classic query
    * norm); 0 for BM25. */
  def sumOfSquaredWeights(q: Query, sim: Similarity, stats: CorpusStats,
      df: String => Long): Float = q match {
    case TermQ(t, boost) => sim.queryWeightSq(df(t), boost, stats)
    case PhraseQ(ts, _, boost) =>
      sim.phraseWeightSq(ts.map(t => sim.idf(df(t), stats)).sum, boost)
    case MultiPhraseQ(slots, boost) =>
      sim.phraseWeightSq(slots.flatten.map(t => sim.idf(df(t), stats)).sum, boost)
    case FilteredQ(q2, _) => sumOfSquaredWeights(q2, sim, stats, df)
    case BoolQ(m, s, _, _) => (m ++ s).map(sumOfSquaredWeights(_, sim, stats, df)).sum
    case sq: SpanQuery =>
      sim.phraseWeightSq(Spans.idfSum(sq, sim, stats, df), sq.boost)
    case PayloadTermQ(t, _, _, boost) => // SpanTermQuery weight algebra
      sim.phraseWeightSq(sim.idf(df(t), stats), boost)
    case MatchAllQ => sim.constWeightSq(1f)
    case ConstantScoreQ(_, boost) => sim.constWeightSq(boost)
    case TermSetQ(_, boost) => sim.constWeightSq(boost)
    case CachedQ(_) => 0f // scoreless filter
    case ValueSourceQ(_, boost) => sim.constWeightSq(boost) // ValueSourceQuery.cpp:78-80
    case CustomScoreQ(sub, _, boost, _) =>
      // (sub sumSq) · boost²; strict value sources contribute nothing
      boost * boost * sumOfSquaredWeights(sub, sim, stats, df)
    case DisMaxQ(ds, _, boost) =>
      boost * boost * ds.map(sumOfSquaredWeights(_, sim, stats, df)).sum
    case mt: MultiTermQ =>
      throw new IllegalStateException(s"multi-term query not expanded: $mt")
    case m: MetaFieldQ =>
      throw new IllegalStateException(
        s"metadata field query not resolved against the source table: $m")
  }

  /** Build the scorer tree for one segment; None when a required clause is
    * absent from the segment (no possible match). */
  def scorer(q: Query, reader: SegmentReader, sim: Similarity, stats: CorpusStats,
      df: String => Long, queryNorm: Float): Option[Scorer] = q match {

    case TermQ(t, boost) =>
      reader.termInfo(t).map { ti =>
        val w = sim.normalizedTermWeight(df(t), boost, queryNorm, stats)
        new TermScorer(reader.postings(ti, needPositions = false), w,
          reader.norms, reader.doclens)
      }

    case PhraseQ(ts, slop, boost) =>
      val tis = ts.map(reader.termInfo)
      if (tis.exists(_.isEmpty)) None
      else {
        val idfSum = ts.map(t => sim.idf(df(t), stats)).sum
        val w = sim.phraseWeight(idfSum, boost, queryNorm, stats)
        val pis = tis.flatten.map(ti => reader.postings(ti, needPositions = true)).toArray
        if (slop <= 0)
          Some(new ExactPhraseScorer(pis, ts.indices.toArray, w, reader.norms, reader.doclens))
        else
          Some(new SloppyPhraseScorer(pis, ts.indices.toArray, slop, w,
            reader.norms, reader.doclens))
      }

    case MatchAllQ =>
      Some(new MatchAllScorer(reader.meta.docCount, queryNorm))

    case FilteredQ(q2, f) =>
      for {
        qs <- scorer(q2, reader, sim, stats, df, queryNorm)
        fs <- scorer(f, reader, sim, stats, df, queryNorm)
      } yield new FilteredScorer(qs, fs)

    case MultiPhraseQ(slots, boost) =>
      // every slot needs at least one present alternative
      val present = slots.map(_.flatMap(t => reader.termInfo(t)))
      if (present.exists(_.isEmpty)) None
      else {
        val idfSum = slots.flatten.map(t => sim.idf(df(t), stats)).sum
        val w = sim.phraseWeight(idfSum, boost, queryNorm, stats)
        val pis = present.map(_.map(ti => reader.postings(ti, needPositions = true)).toArray).toArray
        Some(new MultiPhraseScorer(pis, w, reader.norms, reader.doclens))
      }

    case ConstantScoreQ(inner, boost) =>
      scorer(inner, reader, sim, stats, df, queryNorm)
        .map(s => new ConstantScoreScorer(s, (boost * queryNorm).toDouble))

    case DisMaxQ(ds, tie, boost) =>
      val subs = ds.flatMap(scorer(_, reader, sim, stats, df, queryNorm))
      if (subs.isEmpty) None
      else Some(new DisjunctionMaxScorer(subs.toArray, tie, boost * queryNorm))

    case pq @ PayloadNearQ(_, _, _, fn, boost) =>
      Spans.build(pq, reader).map { spans =>
        val w = sim.phraseWeight(Spans.idfSum(pq, sim, stats, df), boost, queryNorm, stats)
        new PayloadNearSpanScorer(spans, w, fn, sim, reader.norms, reader.doclens)
      }

    case sq: SpanQuery =>
      Spans.build(sq, reader).map { spans =>
        val w = sim.phraseWeight(Spans.idfSum(sq, sim, stats, df), sq.boost, queryNorm, stats)
        new SpanScorer(spans, w, reader.norms, reader.doclens)
      }

    case PayloadTermQ(t, fn, includeSpanScore, boost) =>
      // PayloadTermSpanScorer: span score (sloppyFreq over term spans)
      // times the folded per-occurrence payload scores
      // (PayloadTermQuery.cpp:96-150)
      reader.termInfo(t).map { ti =>
        val w = sim.phraseWeight(sim.idf(df(t), stats), boost, queryNorm, stats)
        val pi = reader.postings(ti, needPositions = true)
        val hasPays = reader.meta.hasPayloads
        new Scorer {
          override def docID: Int = pi.docID
          override def nextDoc(): Int = pi.nextDoc()
          override def advance(target: Int): Int = pi.advance(target)
          override def score(): Double = {
            val d = pi.docID
            val f = pi.freq
            val spanFreq = f * Spans.sloppyFreq(0, 1) // term spans have length 1
            var payloadScore = fn.init
            var seen = 0
            if (hasPays) {
              val ps = pi.payloads()
              var i = 0
              while (i < ps.length) {
                if (ps(i) != null) {
                  payloadScore = fn.fold(payloadScore, sim.scorePayload(ps(i)).toDouble)
                  seen += 1
                }
                i += 1
              }
            }
            val pay = fn.docScore(seen, payloadScore)
            if (includeSpanScore)
              w.score(spanFreq.toFloat, reader.norms(d), reader.doclens(d)) * pay
            else pay
          }
        }
      }

    case ValueSourceQ(src, boost) =>
      val fn = SegmentSearch.valueFn(src, reader)
      val qw = (boost * queryNorm).toDouble
      val n = reader.meta.docCount
      Some(new Scorer {
        private var _doc = -1
        override def docID: Int = if (_doc >= n) Scorer.NoMoreDocs else _doc
        override def nextDoc(): Int = { _doc += 1; docID }
        override def advance(t: Int): Int = { _doc = math.max(_doc + 1, t); docID }
        override def score(): Double = qw * fn(_doc)
      })

    case CustomScoreQ(sub, valSrcs, boost, provider) =>
      // strict mode: classic query norm reaches the sub-query (norm·boost);
      // value sources stay raw (CustomScoreQuery.cpp CustomWeight)
      scorer(sub, reader, sim, stats, df, queryNorm * boost).map { s =>
        val fns = valSrcs.map(SegmentSearch.valueFn(_, reader)).toArray
        val qw = boost.toDouble
        new Scorer {
          private val vals = new Array[Double](fns.length)
          override def docID: Int = s.docID
          override def nextDoc(): Int = s.nextDoc()
          override def advance(t: Int): Int = s.advance(t)
          override def score(): Double = {
            val d = s.docID
            var i = 0
            while (i < fns.length) { vals(i) = fns(i)(d); i += 1 }
            qw * provider.customScore(s.score(), vals)
          }
        }
      }

    case CachedQ(inner) =>
      // memoized match bitset per (segment, filter) — scoreless
      val bits = FilterCache.getOrCompute(reader.dir.getPath, inner)(
        matchBits(inner, reader, sim, stats, df, queryNorm))
      if (bits.isEmpty) None else Some(new BitSetScorer(bits, 0.0))

    case TermSetQ(terms, boost) =>
      // bitmap-filter path: one pass over each matched term's doc postings
      // (reference MultiTermQueryWrapperFilter.cpp getDocIdSet)
      val bits = new java.util.BitSet(reader.meta.docCount)
      terms.foreach { t =>
        reader.termInfo(t).foreach { ti =>
          val pi = reader.postings(ti, needPositions = false)
          var d = pi.nextDoc()
          while (d != Scorer.NoMoreDocs) { bits.set(d); d = pi.nextDoc() }
        }
      }
      if (bits.isEmpty) None
      else Some(new BitSetScorer(bits, (boost * queryNorm).toDouble))

    case mt: MultiTermQ =>
      throw new IllegalStateException(s"multi-term query not expanded: $mt")

    case m: MetaFieldQ =>
      throw new IllegalStateException(
        s"metadata field query not resolved against the source table: $m")

    case BoolQ(must, should, mustNot, msm) =>
      val maxCoord = must.size + should.size
      val mustScorers = must.map(scorer(_, reader, sim, stats, df, queryNorm))
      if (mustScorers.exists(_.isEmpty)) return None
      val shouldScorers = should.flatMap(scorer(_, reader, sim, stats, df, queryNorm))
      if (must.isEmpty && shouldScorers.size < math.max(1, msm)) return None
      // minShouldMatch that cannot be satisfied in this segment → no hits
      if (msm > 0 && shouldScorers.size < msm) return None
      val notScorers = mustNot.flatMap(scorer(_, reader, sim, stats, df, queryNorm))

      // compose: (must AND [should(msm)]) [opt should] NOT mustNot
      val positive: Option[(Scorer, () => Int)] = (mustScorers.flatten, shouldScorers) match {
        case (Nil, Nil) => None
        case (ms, Nil) =>
          val c = if (ms.size == 1) ms.head else new ConjunctionScorer(ms.toArray)
          Some((c, () => ms.size))
        case (Nil, ss) =>
          val d = Disjunction(ss.toArray, msm)
          Some((d, () => d.nrMatchers))
        case (ms, ss) if msm > 0 =>
          val d = Disjunction(ss.toArray, msm)
          val c = new ConjunctionScorer((ms :+ (d: Scorer)).toArray)
          Some((c, () => ms.size + d.nrMatchers))
        case (ms, ss) =>
          val req = if (ms.size == 1) ms.head else new ConjunctionScorer(ms.toArray)
          val d = Disjunction(ss.toArray, 1)
          val ro = new ReqOptSumScorer(req, d)
          Some((ro, () => ms.size + ro.optMatchers))
      }

      positive.map { case (pos, overlapFn) =>
        val base =
          if (notScorers.isEmpty) pos
          else new ReqExclScorer(pos,
            if (notScorers.size == 1) notScorers.head
            else Disjunction(notScorers.toArray, 1))
        new Scorer {
          override def docID: Int = base.docID
          override def nextDoc(): Int = base.nextDoc()
          override def advance(t: Int): Int = base.advance(t)
          override def score(): Double = {
            val raw = base.score() // must run first: fixes overlap for this doc
            raw * sim.coord(overlapFn(), maxCoord)
          }
        }
      }
  }

  /** Every local doc of the segment that `q` matches, tombstoned ones
    * included — the one match enumerator behind CachedQ's filter bitsets
    * and IndexSearcher's matchingDocs and deleteDocs. */
  def matchBits(q: Query, reader: SegmentReader, sim: Similarity, stats: CorpusStats,
      df: String => Long, queryNorm: Float): java.util.BitSet = {
    val bits = new java.util.BitSet(reader.meta.docCount)
    scorer(q, reader, sim, stats, df, queryNorm).foreach { s =>
      var d = s.nextDoc()
      while (d != Scorer.NoMoreDocs) { bits.set(d); d = s.nextDoc() }
    }
    bits
  }

  /** Per-doc value of a source within one segment (function package). */
  def valueFn(src: ValueSource, reader: SegmentReader): Int => Double = src match {
    case DocLenVS => d => reader.doclens(d).toDouble
    case OrdVS => d => (d + 1).toDouble
    case ReverseOrdVS =>
      val n = reader.meta.docCount
      d => (n - d).toDouble
    case ConstVS(v) => _ => v
  }

  /** Top-k over one segment. Returns GLOBAL docIds. */
  def topK(reader: SegmentReader, q0: Query, k: Int, sim: Similarity,
      stats: CorpusStats, df: String => Long, useWand: Boolean = true): Array[ScoredDoc] =
    topK(Seq(reader), q0, k, sim, stats, df, useWand)

  /** Top-k over a run of segments through ONE collector: after each
    * segment the collector's k-th score is the starting WAND threshold for
    * the next, so later segments prune against hits already found anywhere
    * in the run (the within-task form of a top-k cutoff filter). Exact:
    * only docs scoring strictly below the current k-th score are skipped,
    * and those can never enter the heap; ties are still evaluated and
    * resolved by (score desc, docId asc). Returns GLOBAL docIds, ≤ k hits
    * for the whole run. */
  def topK(readers: Seq[SegmentReader], q0: Query, k: Int, sim: Similarity,
      stats: CorpusStats, df: String => Long, useWand: Boolean): Array[ScoredDoc] =
    topKTimed(readers, q0, k, sim, stats, df, useWand, Long.MaxValue)._1

  /** As [[topK]], but stops collecting once `deadlineNanos` passes
    * (System.nanoTime clock) and reports whether it timed out — the
    * reference's TimeLimitingCollector
    * (/root/reference/src/core/search/TimeLimitingCollector.cpp: the
    * collector aborts collection past the budget; hits gathered so far are
    * the partial result). The deadline is checked after every collected
    * doc, and it holds for the whole run: the first collect past it stops
    * the current segment and skips the rest of the run. */
  def topKTimed(readers: Seq[SegmentReader], q0: Query, k: Int, sim: Similarity,
      stats: CorpusStats, df: String => Long, useWand: Boolean,
      deadlineNanos: Long): (Array[ScoredDoc], Boolean) = {
    if (k <= 0) return (Array.empty, false)
    val q = Query.rewrite(q0)
    val collector = new TopKCollector(k)
    val wandTerms = Query.flatOrTerms(q)
      .filter(_ => useWand && sim.coord(1, 2) == 1f && deadlineNanos == Long.MaxValue)
    lazy val qn = sim.queryNorm(sumOfSquaredWeights(q, sim, stats, df))
    var timedOut = false
    val it = readers.iterator
    while (!timedOut && it.hasNext)
      timedOut = collectInto(it.next(), q, wandTerms, qn, sim, stats, df,
        deadlineNanos, collector)
    (collector.results(), timedOut)
  }

  /** Collect one segment's hits into `collector` — Block-Max WAND when
    * `wandTerms` is set, else the exhaustive scorer tree under query norm
    * `qn`. True when `deadlineNanos` passed before the segment was done. */
  private def collectInto(reader: SegmentReader, q: Query, wandTerms: Option[Seq[TermQ]],
      qn: => Float, sim: Similarity, stats: CorpusStats, df: String => Long,
      deadlineNanos: Long, collector: TopKCollector): Boolean = {
    wandTerms match {
      case Some(terms) =>
        wandTopK(reader, terms, sim, stats, df, collector)
        false
      case None =>
        val docBase = reader.meta.docBase
        val timed = deadlineNanos != Long.MaxValue
        var timedOut = false
        val hasDel = reader.hasDeletions
        scorer(q, reader, sim, stats, df, qn).foreach { s =>
          var d = s.nextDoc()
          while (d != Scorer.NoMoreDocs && !timedOut) {
            // tombstoned docs never reach the collector (the reference
            // filters deleted docs out of TermDocs; one gate at collection
            // is result-equivalent and keeps the scorers branch-free)
            if (!hasDel || !reader.deleted(d)) collector.collect(s.score(), docBase + d)
            // reference TimeLimitingCollector checks the budget per collect
            if (timed && System.nanoTime() > deadlineNanos) timedOut = true
            else d = s.nextDoc()
          }
        }
        timedOut
    }
  }

  /** Block-Max WAND (Ding & Suel, WSDM 2011; an extension the north rule
    * requires beyond the reference — SURVEY.md §4.2 skip-list row). Uses
    * term-level upper bounds for pivot selection and per-block bounds for
    * the final check; ties at the threshold are still evaluated so the
    * (score desc, docId asc) tie-break stays rank-identical with the
    * exhaustive scorer. `collector` may arrive holding hits from earlier
    * segments of the run; its threshold then prunes from the first pivot. */
  private def wandTopK(reader: SegmentReader, terms: Seq[TermQ], sim: Similarity,
      stats: CorpusStats, df: String => Long, collector: TopKCollector): Unit = {
    val docBase = reader.meta.docBase

    val found = terms.flatMap { tq =>
      reader.termInfo(tq.term).map { ti =>
        val w = sim.normalizedTermWeight(df(tq.term), tq.boost, 1f, stats)
        (reader.postings(ti, needPositions = false), w,
          w.maxScore(ti.maxFreq, ti.minDlByte, ti.minDl))
      }
    }
    if (found.isEmpty) return
    val m = found.size
    val pis = found.map(_._1).toArray
    val ws = found.map(_._2).toArray
    val ubs = found.map(_._3).toArray
    var ii = 0
    while (ii < m) { pis(ii).nextDoc(); ii += 1 }

    val norms = reader.norms
    val doclens = reader.doclens
    val hasDel = reader.hasDeletions
    // order = iterator indices sorted by current docID; maintained by
    // insertion sort each round (m is small, order is nearly sorted, no
    // allocation per round)
    val order = Array.tabulate(m)(identity)

    val diag = WandDiag.enabled
    var done = false
    while (!done) {
      if (diag) WandDiag.rounds += 1
      var a = 1
      while (a < m) {
        val v = order(a)
        val dv = pis(v).docID
        var b = a - 1
        while (b >= 0 && pis(order(b)).docID > dv) { order(b + 1) = order(b); b -= 1 }
        order(b + 1) = v
        a += 1
      }
      if (pis(order(0)).docID == Scorer.NoMoreDocs) done = true
      else {
        // pivot: first UB-prefix reaching the threshold (>= so exact ties
        // are still evaluated — the docId tie-break may let them in)
        val theta = collector.threshold
        var acc = 0.0
        var p = 0
        var pivot = -1
        while (p < m && pivot == -1) {
          val d = pis(order(p)).docID
          if (d == Scorer.NoMoreDocs) p = m
          else {
            acc += ubs(order(p))
            if (acc >= theta) pivot = d
            else p += 1
          }
        }
        if (pivot == -1) done = true // no prefix can compete
        else {
          // extend the prefix over iterators tied on the pivot doc: they
          // contribute to the candidate's real score, so both the block-max
          // bound and the deep skip must include them or the skip is
          // inadmissible (drops true hits)
          while (p + 1 < m && pis(order(p + 1)).docID == pivot) p += 1
        }
        if (pivot == -1) ()
        else if (pis(order(0)).docID == pivot) {
          // block-max refinement over the prefix (headers only, no decode)
          var blockAcc = 0.0
          var minBlockEnd = Int.MaxValue
          var bi = 0
          while (bi <= p && bi < m) {
            val it = pis(order(bi))
            if (it.docID <= pivot && it.skipToBlockContaining(pivot)) {
              blockAcc += it.blockMaxScore(ws(order(bi)))
              if (it.blockLastDoc < minBlockEnd) minBlockEnd = it.blockLastDoc
            }
            bi += 1
          }
          if (hasDel && reader.deleted(pivot)) {
            // tombstoned pivot: advance past it without scoring
            var j = 0
            while (j <= p && j < m) {
              val it = pis(order(j))
              if (it.docID == pivot) it.nextDoc()
              j += 1
            }
          } else if (blockAcc >= theta) {
            // evaluate fully, summing in ORIGINAL clause order for float
            // determinism vs the exhaustive scorer
            var s = 0.0
            var j = 0
            while (j < m) {
              if (pis(j).docID < pivot) pis(j).advance(pivot)
              if (pis(j).docID == pivot)
                s += ws(j).score(pis(j).freq.toFloat, norms(pivot), doclens(pivot))
              j += 1
            }
            if (diag) WandDiag.fullEvals += 1
            collector.collect(s, docBase + pivot)
            j = 0
            while (j < m) {
              if (pis(j).docID == pivot) pis(j).nextDoc()
              j += 1
            }
          } else {
            // nothing in these blocks can compete: jump the whole prefix
            // past the earliest block boundary — the BMW deep skip. The
            // target must not pass the first iterator beyond the prefix:
            // docs in (pivot, minBlockEnd] where that iterator lands were
            // never counted in blockAcc, so skipping them is inadmissible.
            if (diag) WandDiag.blockSkips += 1
            var target = math.max(pivot + 1, minBlockEnd + 1)
            if (p + 1 < m)
              target = math.min(target, math.max(pivot + 1, pis(order(p + 1)).docID))
            var j = 0
            while (j <= p && j < m) {
              val it = pis(order(j))
              if (it.docID < target) it.advance(target)
              j += 1
            }
          }
        } else {
          // advance the furthest-behind iterator to the pivot
          if (diag) WandDiag.pivotAdvances += 1
          pis(order(0)).advance(pivot)
        }
      }
    }
  }
}
