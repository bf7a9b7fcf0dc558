package graft.search

import graft.index.{PostingsIterator, SegmentFormat}
import graft.score.TermWeight

/** DocIdSetIterator + score — the contract every posting-algebra operator
  * implements (reference /root/reference/src/core/search/DocIdSetIterator.cpp;
  * the "join zoo" of SURVEY.md §2.3). All docIDs are segment-local. */
trait Scorer {
  def docID: Int
  def nextDoc(): Int
  def advance(target: Int): Int
  def score(): Double
}

object Scorer {
  val NoMoreDocs: Int = SegmentFormat.NoMoreDocs
}

/** Single-term scored scan (reference TermScorer.cpp:94-98). */
final class TermScorer(
    val pi: PostingsIterator,
    val weight: TermWeight,
    norms: Array[Byte],
    doclens: Array[Int]) extends Scorer {
  override def docID: Int = pi.docID
  override def nextDoc(): Int = pi.nextDoc()
  override def advance(target: Int): Int = pi.advance(target)
  override def score(): Double = {
    val d = pi.docID
    weight.score(pi.freq.toFloat, norms(d), doclens(d))
  }
}

/** N-ary sort-merge inner join on docID — AND
  * (reference ConjunctionScorer.cpp: repeatedly advance the lagging
  * iterator to the current max). Scores sum in clause order so results are
  * float-identical with the brute-force executable spec. */
final class ConjunctionScorer(subs: Array[Scorer]) extends Scorer {
  private var _doc = -1

  override def docID: Int = _doc

  override def nextDoc(): Int = {
    if (_doc == Scorer.NoMoreDocs) return _doc
    _doc = doNext(if (_doc == -1) { subs.foreach(_.nextDoc()); maxDoc() } else {
      subs(0).nextDoc(); align()
    })
    _doc
  }

  override def advance(target: Int): Int = {
    if (_doc == Scorer.NoMoreDocs) return _doc
    if (_doc == -1) subs.foreach(_.nextDoc())
    subs(0).advance(target)
    _doc = doNext(align())
    _doc
  }

  private def maxDoc(): Int = {
    var m = -1
    var i = 0
    while (i < subs.length) { if (subs(i).docID > m) m = subs(i).docID; i += 1 }
    m
  }

  private def align(): Int = maxDoc()

  /** leapfrog until all equal `target` (or exhausted). */
  private def doNext(target0: Int): Int = {
    var target = target0
    var aligned = false
    while (!aligned) {
      if (target == Scorer.NoMoreDocs) return Scorer.NoMoreDocs
      aligned = true
      var i = 0
      while (i < subs.length && aligned) {
        if (subs(i).docID < target) {
          val d = subs(i).advance(target)
          if (d > target) { target = d; aligned = false }
        }
        i += 1
      }
    }
    target
  }

  override def score(): Double = {
    var s = 0.0
    var i = 0
    while (i < subs.length) { s += subs(i).score(); i += 1 }
    s
  }
}

/** Union scorer contract: per-doc match count (coord) and max sub-score
  * (DisMax). Two implementations — min-scan for small clause counts,
  * doc-ordered heap above [[Disjunction.HeapThreshold]] clauses; both sum
  * matching clauses in ORIGINAL clause order so float results are
  * deterministic and identical between them. */
sealed trait DisjunctionScorer extends Scorer {
  def nrMatchers: Int
  def maxSubScore: Double
}

object Disjunction {
  /** Above this clause count the O(clauses) min-scan loses to the O(log)
    * heap (reference uses ScorerDocQueue unconditionally —
    * /root/reference/src/core/util/ScorerDocQueue.cpp; small-m scan beats
    * it on constants). */
  val HeapThreshold = 32

  def apply(subs: Array[Scorer], minShouldMatch: Int): DisjunctionScorer =
    if (subs.length <= HeapThreshold) new DisjunctionSumScorer(subs, minShouldMatch)
    else new DisjunctionHeapScorer(subs, minShouldMatch)
}

/** N-ary union with per-doc match count — OR with minShouldMatch
  * (reference DisjunctionSumScorer.cpp). Uses a simple min-scan over ≤
  * dozens of clauses instead of the reference's ScorerDocQueue heap: clause
  * counts are small and clause-order summation keeps float results
  * deterministic. */
final class DisjunctionSumScorer(subs: Array[Scorer], minShouldMatch: Int) extends DisjunctionScorer {
  private var _doc = -1
  private var _nrMatchers = 0
  private var _score = 0.0
  private var started = false

  override def docID: Int = _doc

  private def startIfNeeded(): Unit =
    if (!started) { var i = 0; while (i < subs.length) { subs(i).nextDoc(); i += 1 }; started = true }

  override def nextDoc(): Int = {
    if (_doc == Scorer.NoMoreDocs) return _doc
    startIfNeeded()
    var ok = false
    while (!ok) {
      // min over current docIDs
      var min = Scorer.NoMoreDocs
      var i = 0
      while (i < subs.length) {
        val d = subs(i).docID
        if (d > _doc && d < min) min = d
        i += 1
      }
      if (min == Scorer.NoMoreDocs) { _doc = Scorer.NoMoreDocs; return _doc }
      _doc = min
      ok = evaluate()
    }
    _doc
  }

  override def advance(target: Int): Int = {
    if (_doc == Scorer.NoMoreDocs) return _doc
    startIfNeeded()
    var i = 0
    while (i < subs.length) {
      if (subs(i).docID < target) subs(i).advance(target)
      i += 1
    }
    _doc = target - 1
    nextDoc()
  }

  /** Count matchers at _doc first; score (clause order) only once
    * minShouldMatch is known to hold — a failed msm never pays for
    * scoring. */
  private def evaluate(): Boolean = {
    var n = 0
    var i = 0
    while (i < subs.length) {
      if (subs(i).docID == _doc) n += 1
      i += 1
    }
    val ok = n >= math.max(1, minShouldMatch)
    if (ok) {
      var s = 0.0
      var mx = Double.MinValue
      i = 0
      while (i < subs.length) {
        if (subs(i).docID == _doc) {
          val v = subs(i).score()
          s += v
          if (v > mx) mx = v
        }
        i += 1
      }
      _nrMatchers = n
      _score = s
      _maxSubScore = mx
    }
    // advance matchers past _doc for the next round
    i = 0
    while (i < subs.length) {
      if (subs(i).docID == _doc) subs(i).nextDoc()
      i += 1
    }
    ok
  }

  override def nrMatchers: Int = _nrMatchers
  private var _maxSubScore = 0.0
  /** Max matching sub score at the current doc (for DisjunctionMax). */
  override def maxSubScore: Double = _maxSubScore
  override def score(): Double = _score
}

/** Heap-backed union for LARGE clause counts (hot wildcard/prefix
  * expansions): nextDoc is O(matchers · log clauses) instead of the
  * min-scan's O(clauses) — the reference's ScorerDocQueue design
  * (/root/reference/src/core/util/ScorerDocQueue.cpp,
  * DisjunctionSumScorer.cpp:58-120). Matching clause indices are sorted
  * before summation so float results are bit-identical to the min-scan
  * scorer. */
final class DisjunctionHeapScorer(subs: Array[Scorer], minShouldMatch: Int)
  extends DisjunctionScorer {

  // binary min-heap of clause indices keyed by subs(idx).docID; exhausted
  // scorers stay in the heap (NoMoreDocs sorts last)
  private val heap = Array.tabulate(subs.length)(identity)
  private val matched = new Array[Int](subs.length)
  private var heapSize = subs.length
  private var started = false
  private var _doc = -1
  private var _nrMatchers = 0
  private var _score = 0.0
  private var _maxSubScore = 0.0

  @inline private def less(a: Int, b: Int): Boolean = subs(a).docID < subs(b).docID

  private def siftDown(start: Int): Unit = {
    var i = start
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = l + 1
      var m = i
      if (l < heapSize && less(heap(l), heap(m))) m = l
      if (r < heapSize && less(heap(r), heap(m))) m = r
      if (m == i) done = true
      else { val t = heap(i); heap(i) = heap(m); heap(m) = t; i = m }
    }
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0 && less(heap(i), heap((i - 1) / 2))) {
      val p = (i - 1) / 2
      val t = heap(i); heap(i) = heap(p); heap(p) = t
      i = p
    }
  }

  private def heapify(): Unit = {
    var i = heapSize / 2 - 1
    while (i >= 0) { siftDown(i); i -= 1 }
  }

  private def startIfNeeded(): Unit = {
    if (!started) {
      var i = 0
      while (i < subs.length) { subs(i).nextDoc(); i += 1 }
      heapify()
      started = true
    }
  }

  override def docID: Int = _doc

  override def nextDoc(): Int = {
    if (_doc == Scorer.NoMoreDocs) return _doc
    startIfNeeded()
    while (true) {
      val d = subs(heap(0)).docID
      if (d == Scorer.NoMoreDocs) { _doc = Scorer.NoMoreDocs; return _doc }
      // pop all clauses sitting on d (score BEFORE advancing them)
      var n = 0
      while (heapSize > 0 && subs(heap(0)).docID == d) {
        val idx = heap(0)
        matched(n) = idx
        n += 1
        heapSize -= 1
        heap(0) = heap(heapSize)
        heap(heapSize) = idx // park the popped index past the heap end
        siftDown(0)
      }
      val ok = n >= math.max(1, minShouldMatch)
      if (ok) {
        // clause-order summation for float determinism vs the min-scan twin
        java.util.Arrays.sort(matched, 0, n)
        var s = 0.0
        var mx = Double.MinValue
        var i = 0
        while (i < n) {
          val v = subs(matched(i)).score()
          s += v
          if (v > mx) mx = v
          i += 1
        }
        _nrMatchers = n
        _score = s
        _maxSubScore = mx
      }
      // advance the popped clauses and push them back
      var i = 0
      while (i < n) {
        subs(heap(heapSize)).nextDoc()
        heapSize += 1
        siftUp(heapSize - 1)
        i += 1
      }
      if (ok) { _doc = d; return _doc }
    }
    _doc
  }

  override def advance(target: Int): Int = {
    if (_doc == Scorer.NoMoreDocs) return _doc
    startIfNeeded()
    var i = 0
    while (i < subs.length) {
      if (subs(i).docID < target) subs(i).advance(target)
      i += 1
    }
    heapify()
    _doc = target - 1
    nextDoc()
  }

  override def nrMatchers: Int = _nrMatchers
  override def maxSubScore: Double = _maxSubScore
  override def score(): Double = _score
}

/** Constant-score iteration over a pre-built per-segment bitset — the
  * bitmap-filter rewrite of large multi-term expansions (reference
  * MultiTermQueryWrapperFilter.cpp getDocIdSet + ConstantScoreQuery). */
final class BitSetScorer(bits: java.util.BitSet, value: Double) extends Scorer {
  private var _doc = -1
  override def docID: Int = _doc
  override def nextDoc(): Int = {
    if (_doc == Scorer.NoMoreDocs) return _doc
    val n = bits.nextSetBit(_doc + 1)
    _doc = if (n < 0) Scorer.NoMoreDocs else n
    _doc
  }
  override def advance(target: Int): Int = {
    if (_doc == Scorer.NoMoreDocs) return _doc
    if (_doc >= target) return _doc
    val n = bits.nextSetBit(target)
    _doc = if (n < 0) Scorer.NoMoreDocs else n
    _doc
  }
  override def score(): Double = value
}

/** Anti join: required minus prohibited (reference ReqExclScorer.cpp:21-60). */
final class ReqExclScorer(req: Scorer, excl: Scorer) extends Scorer {
  private var exclStarted = false
  override def docID: Int = req.docID
  override def nextDoc(): Int = { toNonExcluded(req.nextDoc()) }
  override def advance(target: Int): Int = { toNonExcluded(req.advance(target)) }
  override def score(): Double = req.score()
  private def toNonExcluded(first: Int): Int = {
    var d = first
    if (!exclStarted) { excl.nextDoc(); exclStarted = true }
    while (d != Scorer.NoMoreDocs) {
      if (excl.docID < d) excl.advance(d)
      if (excl.docID != d) return d
      d = req.nextDoc()
    }
    d
  }
}

/** Left outer: required drives, optional adds when aligned
  * (reference ReqOptSumScorer.cpp). Exposes optional match count for coord. */
final class ReqOptSumScorer(req: Scorer, opt: DisjunctionScorer) extends Scorer {
  private var optDone = false
  private var _optMatchers = 0
  override def docID: Int = req.docID
  override def nextDoc(): Int = req.nextDoc()
  override def advance(target: Int): Int = req.advance(target)
  override def score(): Double = {
    val d = req.docID
    val base = req.score()
    _optMatchers = 0
    if (!optDone) {
      if (opt.docID < d) { if (opt.advance(d) == Scorer.NoMoreDocs) optDone = true }
      if (!optDone && opt.docID == d) { _optMatchers = opt.nrMatchers; return base + opt.score() }
    }
    base
  }
  def optMatchers: Int = _optMatchers
}

/** Constant-score full scan (reference MatchAllDocsQuery.cpp). */
final class MatchAllScorer(maxDoc: Int, value: Double) extends Scorer {
  private var _doc = -1
  override def docID: Int = if (_doc >= maxDoc) Scorer.NoMoreDocs else _doc
  override def nextDoc(): Int = { _doc += 1; docID }
  override def advance(target: Int): Int = { _doc = math.max(_doc + 1, target); docID }
  override def score(): Double = value
}

/** Phrase scorer for `PhraseQ` (exact and sloppy) and `MultiPhraseQ`
  * (reference PhraseScorer.cpp, ExactPhraseScorer.cpp:20-45,
  * SloppyPhraseScorer.cpp, MultiPhraseQuery.cpp). Slot i holds the terms
  * that may stand at phrase offset i: one for a `PhraseQ`, the
  * alternatives for a `MultiPhraseQ`. Docs: a conjunction over the slots,
  * each slot sitting at the least docID of its alternatives. Positions: the
  * alternatives on the doc decode into the slot's one reused buffer; a
  * slot with several alternatives sorts it and drops repeats (the
  * reference's per-slot union). Counting: slop 0 counts alignments with one
  * linear merge, slop > 0 goes through [[SloppyPhrase.freq]]. */
final class PhraseScorer(
    slots: Array[Array[PostingsIterator]],
    slop: Int,
    weight: TermWeight,
    norms: Array[Byte],
    doclens: Array[Int]) extends Scorer {

  /** A slot's doc iterator: the least docID of its alternatives. */
  private final class Slot(pis: Array[PostingsIterator]) extends Scorer {
    private var _doc = -1
    override def docID: Int = _doc
    override def nextDoc(): Int = {
      if (_doc == Scorer.NoMoreDocs) return _doc
      var min = Scorer.NoMoreDocs
      var i = 0
      while (i < pis.length) {
        val pi = pis(i)
        if (pi.docID <= _doc) pi.nextDoc() // unstarted, or on the current doc
        if (pi.docID < min) min = pi.docID
        i += 1
      }
      _doc = min
      _doc
    }
    override def advance(target: Int): Int = {
      if (_doc == Scorer.NoMoreDocs) return _doc
      var min = Scorer.NoMoreDocs
      var i = 0
      while (i < pis.length) {
        val pi = pis(i)
        if (pi.docID < target) pi.advance(target)
        if (pi.docID < min) min = pi.docID
        i += 1
      }
      _doc = min
      _doc
    }
    override def score(): Double = 0.0
  }

  private val slotDocs = slots.map(new Slot(_))
  private val inner = new ConjunctionScorer(slotDocs.map(s => s: Scorer))
  private val n = slots.length
  private val offsets = Array.tabulate(n)(identity)
  // per-slot position buffers (grown on demand), their lengths, merge pointers
  private val bufs = Array.fill(n)(new Array[Int](8))
  private val lens = new Array[Int](n)
  private val ptrs = new Array[Int](n)
  private var _freq = 0.0

  override def docID: Int = inner.docID
  override def nextDoc(): Int = toMatch(inner.nextDoc())
  override def advance(target: Int): Int = toMatch(inner.advance(target))

  private def toMatch(first: Int): Int = {
    var d = first
    while (d != Scorer.NoMoreDocs) {
      var i = 0
      while (i < n) { gather(i, d); i += 1 }
      _freq = if (slop <= 0) exactFreq() else
        SloppyPhrase.freq(Array.tabulate(n)(i => java.util.Arrays.copyOf(bufs(i), lens(i))),
          offsets, slop)
      if (_freq > 0.0) return d
      d = inner.nextDoc()
    }
    d
  }

  /** Decodes slot `i`'s positions at doc `d` into `bufs(i)`: every
    * alternative on `d` appends its positions; several alternatives are
    * sorted together and repeats dropped. */
  private def gather(i: Int, d: Int): Unit = {
    val pis = slots(i)
    var len = 0
    var a = 0
    while (a < pis.length) {
      val pi = pis(a)
      if (pi.docID == d) {
        val f = pi.freq
        if (bufs(i).length < len + f)
          bufs(i) = java.util.Arrays.copyOf(bufs(i), math.max(len + f, 2 * bufs(i).length))
        len += pi.positionsInto(bufs(i), len)
      }
      a += 1
    }
    if (pis.length > 1) {
      val ps = bufs(i)
      java.util.Arrays.sort(ps, 0, len)
      var w = if (len > 0) 1 else 0
      var r = 1
      while (r < len) { if (ps(r) != ps(w - 1)) { ps(w) = ps(r); w += 1 }; r += 1 }
      len = w
    }
    lens(i) = len
  }

  /** Count alignment positions: p such that slot i has a position p + i.
    * Each slot's positions are sorted ascending, so one linear merge with a
    * pointer per slot reads each position once. */
  private def exactFreq(): Double = {
    java.util.Arrays.fill(ptrs, 0)
    val first = bufs(0)
    var count = 0
    var j = 0
    while (j < lens(0)) {
      val p = first(j)
      var all = true
      var t = 1
      while (t < n && all) {
        val a = bufs(t)
        val len = lens(t)
        var k = ptrs(t)
        while (k < len && a(k) - t < p) k += 1
        ptrs(t) = k
        if (k == len) return count // every later p is larger still
        all = a(k) - t == p
        t += 1
      }
      if (all) count += 1
      j += 1
    }
    count
  }

  override def score(): Double = {
    val d = inner.docID
    weight.score(_freq.toFloat, norms(d), doclens(d))
  }
}

/** Per-doc max + tieBreaker * (sum - max)
  * (reference DisjunctionMaxScorer.cpp). Max/sum are order-independent up
  * to float rounding; the sum accumulates in clause order. */
final class DisjunctionMaxScorer(subs: Array[Scorer], tieBreaker: Float,
    boostTimesNorm: Float) extends Scorer {
  private val inner = new DisjunctionSumScorer(subs, 1)
  override def docID: Int = inner.docID
  override def nextDoc(): Int = inner.nextDoc()
  override def advance(target: Int): Int = inner.advance(target)
  override def score(): Double = {
    val sum = inner.score()
    val max = inner.maxSubScore
    (max + (sum - max) * tieBreaker) * boostTimesNorm
  }
}

/** Uniform score over the inner iterator
  * (reference ConstantScoreQuery.cpp). */
final class ConstantScoreScorer(inner: Scorer, value: Double) extends Scorer {
  override def docID: Int = inner.docID
  override def nextDoc(): Int = inner.nextDoc()
  override def advance(target: Int): Int = inner.advance(target)
  override def score(): Double = value
}

/** Query ∧ filter, scored by the query alone
  * (reference FilteredQuery.cpp — leapfrog intersect,
  * IndexSearcher.cpp:125-167). */
final class FilteredScorer(query: Scorer, filter: Scorer) extends Scorer {
  private val both = new ConjunctionScorer(Array(query, filter))
  override def docID: Int = both.docID
  override def nextDoc(): Int = both.nextDoc()
  override def advance(target: Int): Int = both.advance(target)
  override def score(): Double = query.score()
}
