package graft.index

import org.apache.spark.rdd.RDD
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
    /** Partitions of the segment shuffle; 0 → one per segment, capped at
      * 4 × defaultParallelism. */
    buildPartitions: Int = 0,
    /** Also persist a (docId, url) map table next to the index. */
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
  *  1. deterministic dense docIDs: sort the URLS ONLY (key-sized shuffle),
  *     rank them via per-partition counts + exclusive scan (the one place
  *     we drop to the RDD API — the scan has no Dataset equivalent), and
  *     hash-join ids back onto the text. Rank-identical output across
  *     cluster sizes requires ids that do not depend on partitioning; a
  *     total order + rank is the only assignment with that property
  *     (SURVEY.md §7.4-2). The corpus text is never sorted and never
  *     cached — at 10^12 docs either would be a corpus-sized sort/spill.
  *  2. resume filter: docs inside any committed segment's [docBase,
  *     docBase+docCount) range are skipped BEFORE tokenization (range, not
  *     segId, so compacted segments resume correctly — north rule
  *     resumability).
  *  3. ONE segment shuffle: raw docs keyed by (segId = docId /
  *     docsPerSegment, docId) through `repartitionAndSortWithinPartitions`
  *     ([[writeSegments]]). Partitioning by doc-range (not term!) is the
  *     skew story: every segment gets ~docsPerSegment docs regardless of
  *     term distribution, so stop-word-class terms cannot skew a reducer
  *     (the "salted groupBy" of the north rule, with the doc-range bucket
  *     as the salt — SURVEY.md §4.4).
  *  4. each task analyzes and inverts its segments one at a time in RAM
  *     (the reference's DocumentsWriter; tf needs no shuffle — SURVEY.md
  *     §2.4) and streams term-sorted postings into a SegmentWriter; atomic
  *     per-segment publish = per-partition lineage commit; one commit
  *     snapshot at the end.
  */
object IndexBuilder {

  def segIdOf(docId: Long, docsPerSegment: Int): Int = (docId / docsPerSegment).toInt

  /** corpus must have `url` and `text` string columns. */
  def build(spark: SparkSession, corpus: DataFrame, cfg: IndexConfig): BuildReport = {
    import spark.implicits._
    new java.io.File(cfg.indexDir).mkdirs()

    Analyzer.byName(cfg.analyzer) // fail fast on an unknown analyzer name
    require(!cfg.storePayloads || cfg.storePositions, "payloads require storePositions")
    IndexMetaIO.readLatestSnapshot(cfg.indexDir).foreach { prior =>
      require(prior.format == IndexMetaIO.FormatVersion,
        s"${cfg.indexDir} was written with segment format ${prior.format} " +
          s"(current ${IndexMetaIO.FormatVersion}); delete it and rebuild")
    }
    val committed = IndexMetaIO.committedSegments(cfg.indexDir)
      .filter(m => m.analyzer == cfg.analyzer && m.hasPositions == cfg.storePositions)
    val dps0 = cfg.docsPerSegment
    // Resume skips by committed DOC RANGE, not segId: compaction produces
    // fresh segIds covering several original ranges, and a segId-based skip
    // would rebuild those docs alongside the merged segment (overlapping
    // ranges, duplicate docIds). Ranges must stay aligned to docsPerSegment
    // so the remaining docs form whole buildable segments.
    val committedRanges: Array[(Long, Long)] =
      committed.map(m => (m.docBase, m.docBase + m.docCount)).sortBy(_._1).toArray
    committedRanges.foreach { case (s, _) =>
      require(s % dps0 == 0,
        s"cannot resume: committed segment docBase $s is not aligned to docsPerSegment=$dps0")
    }

    // (1) deterministic dense docIDs: global url order → rank. Only the
    // URLS are sorted (a key-sized shuffle); per-partition counts + an
    // exclusive scan turn the sort into dense ranks, and a hash join
    // attaches ids back to the text. The corpus text is therefore NEVER
    // sorted and NEVER cached — at 10^12 docs either would be a
    // corpus-sized sort/spill. Requires unique urls (one doc per url —
    // the web-crawl snapshot contract; also what the docmap assumes).
    val sortedUrls = corpus.select($"url").as[String].orderBy($"url").rdd
    val partCounts: Array[Long] = sortedUrls
      .mapPartitionsWithIndex { (i, it) =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator((i, n))
      }.collect().sortBy(_._1).map(_._2)
    val offsets: Array[Long] = partCounts.scanLeft(0L)(_ + _)
    val idsDF = sortedUrls.mapPartitionsWithIndex { (i, it) =>
      var id = offsets(i) - 1
      it.map { url => id += 1; (url, id) }
    }.toDF("url", "docId")
    // shuffle-hash over sort-merge (the ids are the small, fixed-width
    // side; SMJ would re-sort the text); AQE still upgrades this to a
    // broadcast join when the id side is small enough
    val sorted = corpus.select($"url", $"text")
      .join(idsDF.hint("shuffle_hash"), Seq("url"))
      .select($"docId", $"url", $"text").as[(Long, String, String)]
      .rdd

    {
      val numDocs = offsets.last
      val dps = cfg.docsPerSegment
      val numSegments = math.max(1, ((numDocs + dps - 1) / dps).toInt)
      committedRanges.foreach { case (_, e) =>
        require(e % dps == 0 || e == numDocs,
          s"cannot resume: committed segment end $e is not aligned to docsPerSegment=$dps")
      }

      if (cfg.writeDocMap) {
        val docMapPath = new java.io.File(cfg.indexDir, "docmap").getPath
        if (!new java.io.File(docMapPath, "_SUCCESS").exists()) {
          idsDF.select($"docId", $"url")
            .write.mode("overwrite").parquet(docMapPath)
        }
      }

      // (2) resume: skip committed doc-ranges before any tokenize work
      val ranges = committedRanges
      val todo =
        if (ranges.isEmpty) sorted
        else sorted.filter { case (id, _, _) => !inRanges(ranges, id) }

      val keyed = todo.map { case (docId, _, text) => ((segIdOf(docId, dps), docId), text) }
      val metas = writeSegments(keyed, numSegments, numDocs, cfg)

      val meta = IndexMetaIO.commit(cfg.indexDir, IndexMeta(cfg.analyzer, cfg.storePositions,
        (committed ++ metas).sortBy(m => (m.docBase, m.segId)))).meta
      BuildReport(numDocs, numSegments, metas.size, committed.size, meta)
    }
  }

  /** Binary search over sorted, non-overlapping [start, end) ranges. */
  private[graft] def inRanges(ranges: Array[(Long, Long)], id: Long): Boolean = {
    var lo = 0
    var hi = ranges.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val (s, e) = ranges(mid)
      if (id < s) hi = mid - 1
      else if (id >= e) lo = mid + 1
      else return true
    }
    false
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

  /** The build's segment writer, shared by [[build]] and
    * `StreamingIndexer.appendBatch`: ONE shuffle groups each segment's raw
    * docs (keyed (segId, docId)) in one task, sorted by docId, and each task
    * inverts its segments in RAM ([[invertPartitionSegments]]). Segments are
    * spread over `cfg.buildPartitions` tasks (0 → one per segment, capped at
    * 4 × defaultParallelism) by segId modulo the task count. `numDocs` counts
    * the docs from `docIdOffset` on, which sets the last segment's size.
    * Returns the new segments' metadata. */
  private[graft] def writeSegments(
      docs: RDD[((Int, Long), String)],
      numSegments: Int,
      numDocs: Long,
      cfg: IndexConfig,
      segIdOffset: Int = 0,
      docIdOffset: Long = 0L): Seq[SegmentMeta] = {
    val parts = if (cfg.buildPartitions > 0) cfg.buildPartitions
      else math.min(numSegments, math.max(1, 4 * docs.sparkContext.defaultParallelism))
    val partitioner = new org.apache.spark.Partitioner {
      override def numPartitions: Int = parts
      override def getPartition(key: Any): Int = {
        val m = key.asInstanceOf[(Int, Long)]._1 % parts
        if (m < 0) m + parts else m
      }
    }
    docs.repartitionAndSortWithinPartitions(partitioner)
      .mapPartitions(it => invertPartitionSegments(it, cfg, numDocs, segIdOffset, docIdOffset))
      .collect().toSeq
  }

  /** Docs arrive sorted by (segId, docId); invert one segment at a time in
    * memory, then stream term-sorted postings into a SegmentWriter. Task
    * memory is bounded by docsPerSegment only: 2048-doc test segments take
    * MBs, and at cluster scale ~256k docs/segment fit a 4 GB executor. The
    * 1 << 20 default is above that guidance; lower docsPerSegment for
    * long-document corpora. */
  private def invertPartitionSegments(
      it: Iterator[((Int, Long), String)],
      cfg: IndexConfig,
      numDocs: Long,
      segIdOffset: Int,
      docIdOffset: Long): Iterator[SegmentMeta] = {
    val docsPerSegment = cfg.docsPerSegment
    val storePositions = cfg.storePositions
    val storeVectors = cfg.storeTermVectors
    val storePayloads = cfg.storePayloads
    val analyzer = Analyzer.byName(cfg.analyzer)
    val metas = scala.collection.mutable.ArrayBuffer.empty[SegmentMeta]

    var curSeg = -1
    var docBase = 0L
    var writer: SegmentWriter = null
    var inv: java.util.HashMap[String, TermBuf] = null

    def flushSegment(): Unit = {
      if (writer == null) return
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

    while (it.hasNext) {
      val ((segId, docId), text) = it.next()
      if (segId != curSeg) {
        flushSegment()
        curSeg = segId
        docBase = docIdOffset + (segId.toLong - segIdOffset) * docsPerSegment
        val docCount = math.min(docsPerSegment.toLong, docIdOffset + numDocs - docBase).toInt
        writer = new SegmentWriter(cfg.indexDir, segId, docBase, docCount, cfg.analyzer,
          storePositions, storeVectors, storePayloads)
        inv = new java.util.HashMap[String, TermBuf]()
      }
      val localDoc = (docId - docBase).toInt
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
    flushSegment()
    metas.iterator
  }
}
