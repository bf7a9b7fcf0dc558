package graft.index

import graft.analysis.Analyzer
import graft.score.Similarity
import graft.search.{PreparedQuery, Query, ScoredDoc, SegmentSearch}

/** Single-process build/search over the same segment format — used by unit
  * tests (fast, no SparkSession) and as the 1-partition baseline that the
  * distributed build must byte-match (MultiSearcherRankingTest pattern,
  * SURVEY.md §5.1). Its build sorts (segId, term, docId) posting rows
  * instead of inverting in RAM, so it is an independent reference for
  * [[IndexBuilder.build]]. */
object LocalIndex {

  /** One analyzed doc's posting for a term — or, when `term` is the
    * empty-string sentinel (which sorts before every real term), the doc's
    * length row carrying `dl`. [[build]] sorts these by (segId, term, docId)
    * to write the reference segments. */
  private final case class PostingRow(
      segId: Int,
      term: String,
      docId: Long,
      freq: Int,
      positions: Array[Int],
      dl: Int,
      payloads: Array[Array[Byte]] = null)

  /** docs = (docId, text) with dense ids 0..n-1 in order. */
  def build(indexDir: String, docs: Seq[(Long, String)], analyzerName: String,
      docsPerSegment: Int = Int.MaxValue, storePositions: Boolean = true,
      storeTermVectors: Boolean = false, storePayloads: Boolean = false): IndexMeta = {
    new java.io.File(indexDir).mkdirs()
    val analyzer = Analyzer.byName(analyzerName)
    val numDocs = docs.size.toLong
    val rows = docs.iterator.flatMap { case (id, text) =>
      tokenizeDoc(analyzer, IndexBuilder.segIdOf(id, docsPerSegment),
        id, text, storePositions, storePayloads)
    }.toVector.sortBy(r => (r.segId, r.term, r.docId))(
      Ordering.Tuple3(Ordering.Int, TermOrder.ordering, Ordering.Long))

    val metas = scala.collection.mutable.ArrayBuffer.empty[SegmentMeta]
    var writer: SegmentWriter = null
    var curSeg = -1
    var docBase = 0L
    rows.foreach { r =>
      if (r.segId != curSeg) {
        if (writer != null) metas += writer.finish()
        curSeg = r.segId
        docBase = curSeg.toLong * docsPerSegment
        val docCount = math.min(docsPerSegment.toLong, numDocs - docBase).toInt
        writer = new SegmentWriter(indexDir, curSeg, docBase, docCount, analyzerName,
          storePositions, storeTermVectors, storePayloads)
        if (storeTermVectors) {
          // doc-ordered vector sidecar from each doc's own analysis
          docs.filter(d => d._1 >= docBase && d._1 < docBase + docCount)
            .sortBy(_._1).foreach { case (id, text) =>
              val entries = tokenizeDoc(analyzer, curSeg, id, text, storePositions)
                .filter(_.term.nonEmpty).toArray.sortBy(_.term)(TermOrder.ordering)
              writer.addDocVector((id - docBase).toInt, entries.map(_.term),
                entries.map(_.freq), entries.map(_.positions))
            }
        }
      }
      val localDoc = (r.docId - docBase).toInt
      if (r.term.isEmpty) writer.addDocLength(localDoc, r.dl)
      else writer.addPosting(r.term, localDoc, r.freq, r.positions, 0, r.payloads)
    }
    if (writer != null) metas += writer.finish()

    IndexMetaIO.commit(indexDir,
      IndexMeta(analyzerName, storePositions, metas.toSeq.sortBy(_.segId))).meta
  }

  /** Analyze one doc into posting rows + the doc-length sentinel row.
    * Position counter follows the reference: starts at -1, advances by each
    * token's positionIncrement (DocInverterPerField.cpp:119-176); doc length
    * counts emitted tokens only (FieldInvertState length semantics). */
  private def tokenizeDoc(analyzer: Analyzer, segId: Int, docId: Long, text: String,
      storePositions: Boolean, storePayloads: Boolean = false): Iterator[PostingRow] = {
    val tf = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    val pf: java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Array[Byte]]] =
      if (storePayloads) new java.util.HashMap() else null
    var pos = -1
    var length = 0
    val toks = analyzer.analyze(if (text == null) "" else text)
    while (toks.hasNext) {
      val t = toks.next()
      pos += t.posIncr
      length += 1
      var buf = tf.get(t.term)
      if (buf == null) { buf = new scala.collection.mutable.ArrayBuffer[Int](4); tf.put(t.term, buf) }
      buf += pos
      if (storePayloads) {
        var pb = pf.get(t.term)
        if (pb == null) { pb = new scala.collection.mutable.ArrayBuffer[Array[Byte]](4); pf.put(t.term, pb) }
        pb += t.payload
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[PostingRow](tf.size + 1)
    out += PostingRow(segId, "", docId, 0, Array.emptyIntArray, length)
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val positions = if (storePositions) e.getValue.toArray else Array.emptyIntArray
      val payloads = if (storePayloads) pf.get(e.getKey).toArray else null
      out += PostingRow(segId, e.getKey, docId, e.getValue.size, positions, 0, payloads)
    }
    out.iterator
  }

  /** Sequential search across all segments + merge (drop-in comparable with
    * the distributed IndexSearcher). */
  def search(indexDir: String, q0: Query, k: Int, sim: Similarity,
      useWand: Boolean = true): Array[ScoredDoc] = {
    val (readers, p) = prepare(indexDir, q0)
    readers.flatMap(r => SegmentSearch.topK(r, p.q, k, sim, p.stats, p.df, useWand))
      .sortBy(h => (-h.score, h.docId))
      .take(k)
      .toArray
  }

  /** Explain `q0`'s score for one doc (reference Searcher::explain). The
    * value is bit-identical to what [[search]] collects for a hit, and 0
    * with matched=false for a non-hit. */
  def explain(indexDir: String, q0: Query, docId: Long,
      sim: Similarity): graft.search.Explanation = {
    val (readers, p) = prepare(indexDir, q0)
    val reader = readers.find(r =>
      docId >= r.meta.docBase && docId < r.meta.docBase + r.meta.docCount)
      .getOrElse(return graft.search.Explanation(0.0, s"doc $docId not in index",
        matched = false))
    p.explain(reader, (docId - reader.meta.docBase).toInt, sim)
  }

  /** The latest commit's segment readers, and `q0` made ready to run on
    * them: multi-term nodes expanded over the merged dictionary, rewritten,
    * with its global df per term and corpus stats. */
  private def prepare(indexDir: String, q0: Query): (Seq[SegmentReader], PreparedQuery) = {
    val meta = IndexMetaIO.readLatest(indexDir).get
    val readers = meta.segments.map(m =>
      new SegmentReader(new java.io.File(indexDir, SegmentFormat.segDirName(m.segId))))
    val q =
      if (!Query.hasMultiTerm(q0)) q0
      else {
        // merged dictionary view: union of per-segment sorted term streams
        val termsFrom = (lower: Option[String]) => {
          val its = readers.map(_.termsFrom(lower).map(_.term))
          its.foldLeft(Iterator.empty: Iterator[String])(_ ++ _).toSeq.distinct
            .sorted(TermOrder.ordering).iterator
        }
        graft.search.MultiTerm.expand(q0, termsFrom)
      }
    val dfm = Query.allTerms(q).map(t =>
      t -> readers.flatMap(_.termInfo(t)).map(_.df.toLong).sum).toMap
    (readers, PreparedQuery(Query.rewrite(q), dfm,
      graft.score.CorpusStats(meta.numDocs, meta.avgDocLength)))
  }
}
