package graft.index

import java.io.File

import org.apache.spark.sql.SparkSession

/** Index maintenance: integrity verification (the reference's CheckIndex —
  * /root/reference/src/core/index/CheckIndex.cpp) and segment merging
  * (SegmentMerger — /root/reference/src/core/index/SegmentMerger.cpp:88-103:
  * doc spaces concatenate by base offset, term streams k-way merge). */
object Maintenance {

  final case class SegmentCheck(segId: Int, ok: Boolean, problems: Seq[String])

  /** Recount every segment's docs/terms/postings from the files and compare
    * to its lineage row. Runs as one task per segment. */
  def checkIndex(spark: SparkSession, indexDir: String): Seq[SegmentCheck] = {
    val meta = IndexMetaIO.readLatest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no committed index at $indexDir"))
    val dirs = meta.segments.map(m =>
      (m.segId, new File(indexDir, SegmentFormat.segDirName(m.segId)).getPath))
    spark.sparkContext.parallelize(dirs, math.max(1, dirs.size)).map { case (segId, d) =>
      val problems = scala.collection.mutable.ArrayBuffer.empty[String]
      try {
        val r = new SegmentReader(new File(d))
        val m = r.meta
        if (m.segId != segId) problems += s"segId mismatch: ${m.segId}"
        if (r.norms.length != m.docCount) problems += s"norms length ${r.norms.length} != docCount ${m.docCount}"
        if (r.doclens.length != m.docCount) problems += s"doclens length ${r.doclens.length}"
        val sumDl = r.doclens.map(_.toLong).sum
        if (sumDl != m.sumDocLength) problems += s"sumDl $sumDl != ${m.sumDocLength}"
        var termCount = 0
        var postingCount = 0L
        r.allTerms.foreach { ti =>
          termCount += 1
          // walk postings, checking doc order and df; verify the skip
          // table's deep jumps land consistently with sequential scan
          val pi = r.postings(ti, needPositions = false)
          var df = 0
          var prev = -1
          var d0 = pi.nextDoc()
          while (d0 != SegmentFormat.NoMoreDocs) {
            if (d0 <= prev) problems += s"term '${ti.term}': docs out of order"
            if (d0 >= m.docCount) problems += s"term '${ti.term}': doc $d0 >= docCount"
            prev = d0
            df += 1
            d0 = pi.nextDoc()
          }
          if (df != ti.df) problems += s"term '${ti.term}': df $df != ${ti.df}"
          if (ti.skipBytes > 0 && prev >= 0) {
            // a skip-table advance to the last doc must agree with the scan
            val pj = r.postings(ti, needPositions = false)
            if (pj.advance(prev) != prev)
              problems += s"term '${ti.term}': skip-table advance($prev) diverges from scan"
          }
          postingCount += df
        }
        if (termCount != m.termCount) problems += s"termCount $termCount != ${m.termCount}"
        if (r.hasDeletions) {
          if (r.delCount > m.docCount) problems += s"delCount ${r.delCount} > docCount"
          val bits = r.deletionBits
          if (bits.length > m.docCount) problems += s"del bit beyond docCount: ${bits.length}"
        }
        if (postingCount != m.postingCount) problems += s"postingCount $postingCount != ${m.postingCount}"
        if (m.hasUrls) problems ++= r.checkUrls()
        if (m.hasVectors) {
          // vector sidecar: every doc decodes; freqs sum to the doc length
          var d1 = 0
          while (d1 < m.docCount) {
            r.termVector(d1) match {
              case Some(entries) =>
                val dl = entries.map(_._2).sum
                if (dl != r.doclens(d1)) problems += s"doc $d1: vector freq sum $dl != doclen ${r.doclens(d1)}"
              case None => problems += s"doc $d1: missing term vector"
            }
            d1 += 1
          }
        }
      } catch {
        case e: Throwable => problems += s"unreadable: ${e.getMessage}"
      }
      SegmentCheck(segId, problems.isEmpty, problems.toSeq)
    }.collect().toSeq.sortBy(_.segId)
  }

  /** Merge ADJACENT segments (contiguous doc ranges) into one: doc spaces
    * concatenate (localDoc' = docBase - newBase + localDoc), term streams
    * k-way merge via a simple min-scan over the per-segment sorted
    * iterators. Produces a segment byte-compatible with a direct build of
    * the union. Driver-side (one merge = one task's worth of work; a
    * compaction job maps this over groups of small segments). */
  def mergeSegments(indexDir: String, segIds: Seq[Int], newSegId: Int): SegmentMeta = {
    require(segIds.nonEmpty)
    // bound source readers by the COMMITTED delgen: a crashed uncommitted
    // delete batch's orphan del files must not get baked into the merge
    val committedGen = IndexMetaIO.readLatestSnapshot(indexDir).fold(0)(_.delGen)
    // order inputs by DOC BASE, not segId: merged segments take fresh
    // (higher) ids, so after a partial compaction id order and doc order
    // diverge — e.g. leftover segId 9 at docBase 90 vs merged segId 10 at
    // docBase 0 — and sorting by id would fail the adjacency check
    val readers = segIds.map(id =>
        new SegmentReader(new File(indexDir, SegmentFormat.segDirName(id)), committedGen))
      .sortBy(_.meta.docBase)
    // verify adjacency
    readers.sliding(2).foreach {
      case Seq(a, b) =>
        require(a.meta.docBase + a.meta.docCount == b.meta.docBase,
          s"segments not adjacent: ${a.meta.segId} .. ${b.meta.segId}")
      case _ =>
    }
    val newBase = readers.head.meta.docBase
    val docCount = readers.map(_.meta.docCount).sum
    val analyzer = readers.head.meta.analyzer
    val hasPos = readers.head.meta.hasPositions
    val hasVecs = readers.forall(_.meta.hasVectors)
    val hasPays = readers.forall(_.meta.hasPayloads)
    val hasUrls = readers.forall(_.meta.hasUrls)
    val writer = new SegmentWriter(indexDir, newSegId, newBase, docCount, analyzer,
      hasPos, hasVecs, hasPays, hasUrls)

    // norms/doclens (and term vectors and urls, if all inputs carry them)
    // concatenate. Tombstoned docs keep their id SLOT (docIds are stable
    // url ranks) and their url: postings, doclens and vectors are reclaimed
    // below, and the dead slots are CARRIED FORWARD into the merged
    // segment's del bitset —
    // MatchAll/value-source scorers iterate 0..docCount, so dropping the
    // bitset would resurrect deleted docs in every non-postings-driven
    // result (the reference removes deleted docs entirely at merge; with
    // stable docIds the carried bitset is the equivalent).
    val carried = new java.util.BitSet(docCount)
    var off = 0
    readers.foreach { r =>
      val urls = if (hasUrls) r.urlsFrom(0) else null
      var i = 0
      while (i < r.meta.docCount) {
        val dead = r.deleted(i)
        if (hasUrls) writer.addUrl(off + i, urls.next().orNull)
        if (dead) carried.set(off + i)
        writer.addDocLength(off + i, if (dead) 0 else r.doclens(i))
        if (hasVecs) {
          val entries = if (dead) Seq.empty else r.termVector(i).get
          writer.addDocVector(off + i, entries.map(_._1).toArray,
            entries.map(_._2).toArray, entries.map(_._3).toArray)
        }
        i += 1
      }
      off += r.meta.docCount
    }

    // k-way term merge (min-scan; segment count per merge is small)
    val its = readers.map(_.allTerms.buffered).toArray
    val bases = readers.map(r => (r.meta.docBase - newBase).toInt).toArray
    var live = its.indices.filter(its(_).hasNext).toArray
    while (live.nonEmpty) {
      val minTerm = live.map(i => its(i).head.term).min(TermOrder.ordering)
      var li = 0
      while (li < live.length) {
        val i = live(li)
        if (its(i).hasNext && its(i).head.term == minTerm) {
          val ti = its(i).next()
          val pi = readers(i).postings(ti, needPositions = hasPos)
          var d = pi.nextDoc()
          while (d != SegmentFormat.NoMoreDocs) {
            if (!readers(i).deleted(d)) { // reclaim tombstoned postings
              val positions = if (hasPos) pi.positions() else Array.emptyIntArray
              val pays = if (hasPays) pi.payloads() else null
              writer.addPosting(minTerm, bases(i) + d, pi.freq, positions, 0, pays)
            }
            d = pi.nextDoc()
          }
        }
        li += 1
      }
      live = its.indices.filter(its(_).hasNext).toArray
    }
    // the merged segment's carried bitset belongs to the CURRENT delete
    // generation (compaction does not bump delgen, it carries it), so
    // readers bounded by the committed delgen select it; handing it to the
    // writer publishes it INSIDE the same atomic rename as the segment —
    // no window where the merged segment is readable without its tombstones
    writer.addCarriedDeletes(carried, committedGen)
    val meta = writer.finish()

    // retire the merged inputs AFTER the new segment is published, then
    // snapshot (readers only ever see snapshotted sets)
    meta
  }

  /** Tiered compaction: adjacent runs of sub-`minDocs` segments merge;
    * segments at or above the threshold are left alone (the reference's
    * LogMergePolicy size tiers, `src/core/index/LogMergePolicy.cpp` —
    * merges pick small segments, never rewrite the whole index). Each run
    * is chunked to at most `maxGroupSegments` inputs (the reference's
    * mergeFactor), which bounds a single merge task's open readers and
    * output size, and the resulting merge groups execute as ONE SPARK JOB
    * — one task per group — not a driver-side loop: a 100 TB index whose
    * streaming ingest left thousands of mini-segments compacts at cluster
    * width, with the driver only committing the new snapshot. */
  def compact(spark: SparkSession, indexDir: String, minDocs: Int,
      maxGroupSegments: Int = 32): IndexMeta = {
    require(maxGroupSegments >= 2, s"maxGroupSegments must be >= 2: $maxGroupSegments")
    val meta = IndexMetaIO.readLatest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no committed index at $indexDir"))
    val segs = meta.segments.sortBy(_.docBase)
    val nextId = meta.nextSegId
    // group adjacent runs of small segments, chunked to the merge factor
    val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[SegmentMeta]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[SegmentMeta]
    def flush(): Unit = {
      // balanced chunking: ceil(n/factor) chunks of near-equal size, so a
      // run of 10 at factor 3 compacts as [3,3,2,2] in ONE pass — plain
      // grouped() would strand a trailing size-1 chunk ([3,3,3,1]) that
      // needs a second compact() call to converge
      val n = cur.size
      if (n > 1) {
        val numChunks = (n + maxGroupSegments - 1) / maxGroupSegments
        val base = n / numChunks
        val rem = n % numChunks
        var off = 0
        var k = 0
        while (k < numChunks) {
          val sz = base + (if (k < rem) 1 else 0)
          if (sz > 1) groups += cur.slice(off, off + sz).toSeq
          off += sz
          k += 1
        }
      }
      cur = scala.collection.mutable.ArrayBuffer.empty[SegmentMeta]
    }
    segs.foreach { s =>
      if (s.docCount < minDocs &&
        (cur.isEmpty || cur.last.docBase + cur.last.docCount == s.docBase)) cur += s
      else {
        flush()
        if (s.docCount < minDocs) cur += s
      }
    }
    flush()

    if (groups.isEmpty) return meta
    val groupsWithIds: Seq[(Seq[Int], Int)] =
      groups.zipWithIndex.map { case (g, k) => (g.map(_.segId), nextId + k) }.toSeq
    // one merge group per task (mergeSegments streams its k-way merge, so
    // per-task memory is bounded by block buffers × maxGroupSegments,
    // independent of segment or index size)
    val idx = indexDir
    val merged = spark.sparkContext
      .parallelize(groupsWithIds, groupsWithIds.size)
      .map { case (ids, nid) => Maintenance.mergeSegments(idx, ids, nid) }
      .collect().toSeq
    val retired = groups.flatten.map(_.segId).toSet
    val newSegs = (segs.filterNot(s => retired.contains(s.segId)) ++ merged).sortBy(_.docBase)
    // the commit carries the deletion generation (segments NOT merged may
    // still hold del bitsets) and the streaming watermark
    val newMeta = IndexMetaIO.commit(indexDir, meta.copy(segments = newSegs)).meta
    // retire the commit points whose snapshots reference the segments about
    // to be deleted: left in place, commitGens would advertise point-in-time
    // generations that can no longer open. Compaction is where history
    // referencing merged-away files truncates (the reference's default
    // KeepOnlyLastCommitDeletionPolicy applied at the moment files go);
    // commits that reference only surviving segments stay openable, and
    // ALREADY-OPEN readers on purged gens keep working — segment data is
    // mmap'd, so unlinked files stay readable until the reader drops them
    // (the same POSIX semantics the reference's deletion policy leans on).
    // ORDER MATTERS: commits purge BEFORE the segment dirs go — a crash
    // between the two steps then leaves only leaked-but-openable dirs,
    // never a listed generation whose data is gone (the invariant
    // commitGens documents).
    val commitsDir = new File(indexDir, "commits")
    IndexMetaIO.commitGens(indexDir).foreach { g =>
      val refsRetired = IndexMetaIO.readSnapshot(indexDir, g)
        .exists(_.meta.segments.exists(s => retired.contains(s.segId)))
      if (refsRetired) {
        new File(commitsDir, s"commit_$g.segs").delete()
        new File(commitsDir, s"commit_$g.json").delete()
      }
    }
    // physical cleanup of retired dirs (safe: no listed snapshot references
    // them anymore)
    retired.foreach { id =>
      val d = new File(indexDir, SegmentFormat.segDirName(id))
      Option(d.listFiles()).foreach(_.foreach(_.delete()))
      d.delete()
    }
    newMeta
  }
}
