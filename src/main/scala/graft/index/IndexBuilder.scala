package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analysis.Analyzer

final case class IndexConfig(
    indexDir: String,
    analyzer: String = "standard",
    /** Segment = contiguous docId range: the unit of parallel search AND of
      * resume, and the only bound on build task memory (each segment is
      * inverted in one task's RAM). At 10^12 docs you'd run ~1M
      * docs/segment over thousands of executors; tests shrink it. */
    docsPerSegment: Int = IndexConfig.DefaultDocsPerSegment,
    storePositions: Boolean = true,
    /** Store each doc's url in its segment (urls.bin/urls.idx), fetched by
      * `IndexSearcher.urls`. */
    writeDocMap: Boolean = true,
    /** Store per-doc term vectors (doc-ordered sidecar). */
    storeTermVectors: Boolean = false,
    /** Store per-position payloads (requires storePositions and a
      * payload-producing analyzer, e.g. "delimited"). */
    storePayloads: Boolean = false)

object IndexConfig {
  /** Docs per segment unless the caller says otherwise, for the build and
    * for streaming appends alike. It is above the inverter's ~256k docs per
    * 4 GB task guidance, but lowering it changes the segment layout of every
    * caller that relies on the default. */
  val DefaultDocsPerSegment: Int = 1 << 20
}

final case class BuildReport(
    numDocs: Long,
    numSegments: Int,
    builtSegments: Int,
    resumedSegments: Int,
    meta: IndexMeta)

/** Distributed inverted-index build (SURVEY.md §7).
  *
  * Shape of the job — designed for 10^12 docs / 1000 executors:
  *
  *  1. deterministic dense docIDs = rank in (url, text) order, nulls first
  *     ([[DocOrder]]; the rule [[writeSegments]] shares with
  *     `StreamingIndexer.appendBatch`). Only the URLS are sorted (a
  *     key-sized shuffle); per-partition counts and one scan for the url at
  *     each segment boundary (with the rank where its run of copies starts)
  *     place every url. Rank-identical output across cluster sizes requires
  *     ids that do not depend on partitioning; a total order + rank is the
  *     only assignment with that property (SURVEY.md §7.4-2). The corpus
  *     text is never cached and crosses the network once. Two jobs read
  *     the sorted urls; the segments store them (step 4), so no job writes
  *     a separate docId → url table.
  *  2. resume filter: docs of segments inside a committed segment's
  *     [docBase, docBase+docCount) range are dropped before the shuffle
  *     (range, not segId, so compacted segments resume correctly — north
  *     rule resumability).
  *  3. ONE segment shuffle: each raw doc goes, by binary search over the
  *     boundary urls, to the segment(s) its url's run of copies overlaps;
  *     each task sorts a segment by (url, text) and numbers its docs by
  *     position. Partitioning by doc-range (not term!) is the skew story:
  *     every segment gets ~docsPerSegment docs regardless of term
  *     distribution, so stop-word-class terms cannot skew a reducer (the
  *     "salted groupBy" of the north rule, with the doc-range bucket as the
  *     salt — SURVEY.md §4.4).
  *  4. each task analyzes and inverts its segments one at a time in RAM
  *     (the reference's DocumentsWriter; tf needs no shuffle — SURVEY.md
  *     §2.4) and streams term-sorted postings into a SegmentWriter, with
  *     each doc's url in docId order when `writeDocMap` is set; atomic
  *     per-segment publish = per-partition lineage commit; one commit
  *     snapshot at the end.
  */
object IndexBuilder {

  def segIdOf(docId: Long, docsPerSegment: Int): Int = (docId / docsPerSegment).toInt

  /** The order docIds follow: urls, and among copies of one url their
    * texts, in code-point order ([[TermOrder]], the order of Spark SQL's
    * string sort) with nulls first, as an ascending `orderBy` puts them. */
  private val DocOrder: Ordering[String] = (a: String, b: String) =>
    if (a eq b) 0 else if (a == null) -1 else if (b == null) 1 else TermOrder.compare(a, b)

  /** corpus must have `url` and `text` string columns. */
  def build(spark: SparkSession, corpus: DataFrame, cfg: IndexConfig): BuildReport = {
    new java.io.File(cfg.indexDir).mkdirs()

    Analyzer.byName(cfg.analyzer) // fail fast on an unknown analyzer name
    require(!cfg.storePayloads || cfg.storePositions, "payloads require storePositions")
    IndexMetaIO.readLatestSnapshot(cfg.indexDir).foreach { prior =>
      require(prior.format == IndexMetaIO.FormatVersion,
        s"${cfg.indexDir} was written with segment format ${prior.format} " +
          s"(current ${IndexMetaIO.FormatVersion}); delete it and rebuild")
    }
    val committed = IndexMetaIO.committedSegments(cfg.indexDir)
      .filter(m => m.analyzer == cfg.analyzer && m.hasPositions == cfg.storePositions &&
        m.hasUrls == cfg.writeDocMap)
    // Resume skips by committed DOC RANGE, not segId: compaction produces
    // fresh segIds covering several original ranges, and a segId-based skip
    // would rebuild those docs alongside the merged segment (overlapping
    // ranges, duplicate docIds).
    val (numDocs, metas) = writeSegments(corpus, cfg,
      committed = committed.map(m => (m.docBase, m.docBase + m.docCount)))
    val numSegments = math.max(1, ((numDocs + cfg.docsPerSegment - 1) / cfg.docsPerSegment).toInt)
    val meta = IndexMetaIO.commit(cfg.indexDir, IndexMeta(cfg.analyzer, cfg.storePositions,
      (committed ++ metas).sortBy(m => (m.docBase, m.segId)))).meta
    BuildReport(numDocs, numSegments, metas.size, committed.size, meta)
  }

  /** The docId rule and segment writer of [[build]] and
    * `StreamingIndexer.appendBatch`: each doc (`url`, `text`) gets docId
    * `docIdOffset` + its rank in [[DocOrder]]; segment k (ranks from
    * k·docsPerSegment) becomes segId `segIdOffset` + k unless its first docId
    * lies in a `committed` [start, end) range; its urls are stored iff
    * `cfg.writeDocMap`. Jobs: range sample, rank count, boundary scan (if
    * > 1 segment), segments over min(#segments, 4 × defaultParallelism)
    * tasks. Returns the doc count and the written segments. */
  private[graft] def writeSegments(
      docs: DataFrame,
      cfg: IndexConfig,
      segIdOffset: Int = 0,
      docIdOffset: Long = 0L,
      committed: Seq[(Long, Long)] = Nil): (Long, Seq[SegmentMeta]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val dps = cfg.docsPerSegment

    // rank: sort the urls only, count each sorted partition. Equal urls
    // land in one partition (the range partitioner is a function of the key)
    val sortedUrls = {
      implicit val order: Ordering[String] = DocOrder
      docs.select($"url").as[String].rdd.map(u => (u, null))
        .sortByKey(numPartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt).keys
    }
    val offsets =
      sortedUrls.mapPartitions(it => Iterator(it.size.toLong)).collect().scanLeft(0L)(_ + _)
    val numDocs = offsets.last
    val numSegments = ((numDocs + dps - 1) / dps).toInt
    // committed ranges stay aligned to segments, so the rest form whole segments
    committed.foreach { case (s, e) =>
      require((s - docIdOffset) % dps == 0 &&
        ((e - docIdOffset) % dps == 0 || e == docIdOffset + numDocs),
        s"cannot resume: committed segment [$s, $e) is not aligned to docsPerSegment=$dps")
    }

    // boundaries: for each segment k ≥ 1, the url at rank k·dps and the
    // rank where that url's run of copies starts
    val boundaryParts = offsets.indices.init.filter(p => (offsets(p + 1) - 1) / dps > (offsets(p) - 1) / dps)
    val boundaries = if (boundaryParts.isEmpty) Array.empty[(String, Long)] else
      sc.runJob(sortedUrls, (ctx: org.apache.spark.TaskContext, it: Iterator[String]) => {
        val first = offsets(ctx.partitionId())
        val last = (offsets(ctx.partitionId() + 1) - 1) / dps * dps // the partition's last boundary
        var (runStart, prev) = (first, "")
        it.zip(Iterator.iterate(first)(_ + 1)).map { case (url, r) =>
          if (r == first || url != prev) { runStart = r; prev = url }
          (url, r, runStart)
        }.takeWhile(_._2 <= last).collect { case (url, r, s) if r % dps == 0 && r > 0 => (url, s) }
          .toArray
      }, boundaryParts).flatten

    if (numDocs == 0) return (0L, Nil)

    // route each doc to the uncommitted segments its url's run of copies
    // overlaps: one, unless the run straddles a boundary
    val done = new Array[Boolean](numSegments)
    for ((s, e) <- committed; k <- ((s - docIdOffset) / dps).toInt until
        math.min(numSegments, ((e - docIdOffset + dps - 1) / dps).toInt)) done(k) = true
    val bounds = sc.broadcast((boundaries.map(_._1), boundaries.map(_._2), done))
    val parts = math.min(numSegments, math.max(1, 4 * sc.defaultParallelism))
    val partitioner = new org.apache.spark.Partitioner {
      override def numPartitions: Int = parts
      override def getPartition(key: Any): Int = key.asInstanceOf[(Int, String, String)]._1 % parts
    }
    implicit val rowOrder: Ordering[(Int, String, String)] =
      Ordering.Tuple3(Ordering.Int, DocOrder, DocOrder)
    val metas = docs.select($"url", $"text").as[(String, String)].rdd
      .flatMap { case (url, text) =>
        val (urls, starts, done) = bounds.value
        val at = java.util.Arrays.binarySearch(urls, url, DocOrder)
        var (lo, hi) = if (at >= 0) (at, at) else (-at - 1, -at - 1)
        while (lo > 0 && urls(lo - 1) == url) lo -= 1 // lo, hi: boundaries < url, <= url
        while (hi < urls.length && urls(hi) == url) hi += 1
        val first = if (hi > lo) (starts(lo) / dps).toInt else lo
        (first to hi).iterator.filter(k => !done(k)).map(k => ((k, url, text), null))
      }
      .repartitionAndSortWithinPartitions(partitioner)
      .mapPartitions(it => invertPartitionSegments(it.map(_._1), cfg, numDocs, bounds.value._2,
        segIdOffset, docIdOffset))
      .collect().toSeq
    (numDocs, metas)
  }

  private final class IntBuf(initial: Int = 8) {
    var arr = new Array[Int](initial)
    var n = 0
    def add(v: Int): Unit = {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
      arr(n) = v
      n += 1
    }
  }

  private final class TermBuf {
    val docs = new IntBuf(4)
    val freqs = new IntBuf(4)
    var positions: IntBuf = null // lazily created when storing positions
    var payloads: scala.collection.mutable.ArrayBuffer[Array[Byte]] = null
  }

  /** Rows arrive sorted by (segment, url, text); invert one segment at a
    * time in memory, then stream term-sorted postings into a SegmentWriter.
    * Docs are numbered by position, after the copies of the first url that
    * earlier segments number (its run starts at rank `starts(seg - 1)`);
    * copies past the last doc belong to the next segment. Task memory is
    * bounded by docsPerSegment only: 2048-doc test segments take MBs, and at
    * cluster scale ~256k docs/segment fit a 4 GB executor. The 1 << 20
    * default is above that guidance; lower docsPerSegment for long-document
    * corpora. */
  private def invertPartitionSegments(
      it: Iterator[(Int, String, String)],
      cfg: IndexConfig,
      numDocs: Long,
      starts: Array[Long],
      segIdOffset: Int,
      docIdOffset: Long): Iterator[SegmentMeta] = {
    val docsPerSegment = cfg.docsPerSegment
    val storePositions = cfg.storePositions
    val storeVectors = cfg.storeTermVectors
    val storePayloads = cfg.storePayloads
    val storeUrls = cfg.writeDocMap
    val analyzer = Analyzer.byName(cfg.analyzer)
    val metas = scala.collection.mutable.ArrayBuffer.empty[SegmentMeta]

    var curSeg = -1
    var docCount = 0
    var lead = 0L
    var localDoc = 0
    var lastUrl: String = null
    var writer: SegmentWriter = null
    var inv: java.util.HashMap[String, TermBuf] = null

    def flushSegment(): Unit = {
      if (writer == null) return
      require(localDoc == docCount, s"segment ${segIdOffset + curSeg} got $localDoc docs of " +
        s"$docCount: the corpus changed between the url sort and the text read")
      val terms = inv.keySet.toArray(new Array[String](0))
      // code-point order, the engine's one term order (TermOrder scaladoc);
      // java.util.Arrays.sort's natural UTF-16 order would disagree on
      // supplementary-plane terms
      java.util.Arrays.sort(terms, TermOrder.ordering)
      var t = 0
      while (t < terms.length) {
        val tb = inv.get(terms(t))
        var i = 0
        var posOff = 0
        while (i < tb.docs.n) {
          val f = tb.freqs.arr(i)
          val pays =
            if (tb.payloads == null) null
            else tb.payloads.slice(posOff, posOff + f).toArray
          writer.addPosting(terms(t), tb.docs.arr(i), f,
            if (storePositions) tb.positions.arr else Array.emptyIntArray,
            if (storePositions) posOff else 0, pays)
          posOff += f
          i += 1
        }
        t += 1
      }
      metas += writer.finish()
      writer = null
      inv = null
    }

    def indexDoc(text: String): Unit = {
      // analyze + per-doc tf directly into the segment inversion; when term
      // vectors are on, also track this doc's own term map for the sidecar
      var pos = -1
      var len = 0
      val docMap: java.util.TreeMap[String, IntBuf] =
        if (storeVectors) new java.util.TreeMap[String, IntBuf](TermOrder.ordering) else null
      val toks = analyzer.analyze(if (text == null) "" else text)
      while (toks.hasNext) {
        val tok = toks.next()
        pos += tok.posIncr
        len += 1
        var tb = inv.get(tok.term)
        if (tb == null) { tb = new TermBuf; inv.put(tok.term, tb) }
        if (tb.docs.n == 0 || tb.docs.arr(tb.docs.n - 1) != localDoc) {
          tb.docs.add(localDoc)
          tb.freqs.add(1)
        } else tb.freqs.arr(tb.freqs.n - 1) += 1
        if (storePositions) {
          if (tb.positions == null) tb.positions = new IntBuf(4)
          tb.positions.add(pos)
        }
        if (storePayloads) {
          if (tb.payloads == null) tb.payloads = new scala.collection.mutable.ArrayBuffer[Array[Byte]](4)
          tb.payloads += tok.payload
        }
        if (storeVectors) {
          var vb = docMap.get(tok.term)
          if (vb == null) { vb = new IntBuf(4); docMap.put(tok.term, vb) }
          vb.add(pos)
        }
      }
      if (storeVectors) {
        val n = docMap.size()
        val terms = new Array[String](n)
        val freqs = new Array[Int](n)
        val positions = new Array[Array[Int]](n)
        val eit = docMap.entrySet().iterator()
        var i = 0
        while (eit.hasNext) {
          val e = eit.next()
          terms(i) = e.getKey
          freqs(i) = e.getValue.n
          positions(i) = java.util.Arrays.copyOf(e.getValue.arr, e.getValue.n)
          i += 1
        }
        writer.addDocVector(localDoc, terms, freqs, positions)
      }
      writer.addDocLength(localDoc, len)
    }
    while (it.hasNext) {
      val (seg, url, text) = it.next()
      if (seg != curSeg) {
        flushSegment()
        curSeg = seg
        val first = seg.toLong * docsPerSegment
        docCount = math.min(docsPerSegment.toLong, numDocs - first).toInt
        lead = if (seg == 0) 0L else first - starts(seg - 1)
        localDoc = 0
        writer = new SegmentWriter(cfg.indexDir, segIdOffset + seg, docIdOffset + first, docCount,
          cfg.analyzer, storePositions, storeVectors, storePayloads, storeUrls)
        inv = new java.util.HashMap[String, TermBuf]()
      }
      if (lead > 0) lead -= 1 // numbered by an earlier segment
      else if (localDoc == docCount) // numbered by the next segment
        require(url == lastUrl, s"segment ${segIdOffset + seg} got more than $docCount docs")
      else {
        lastUrl = url
        if (storeUrls) writer.addUrl(localDoc, url)
        indexDoc(text)
        localDoc += 1
      }
    }
    flushSegment()
    metas.iterator
  }
}
