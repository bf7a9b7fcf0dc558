package graft.index

import java.io.{File, FileOutputStream}
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}

import graft.codec.{ByteReader, ByteWriter, IntBlockCodec, SmallFloat}
import graft.score.TermWeight

/** Per-segment metadata — one row of the lineage table (north rule: "input
  * split → segment, doc counts, term counts, bytes").
  *
  * The segment is the engine's unit of parallel search, mirroring the
  * reference's immutable segment model
  * (/root/reference/src/core/index/SegmentInfo.cpp, SegmentInfos.cpp) with
  * doc-range partitioning: docBase + localId = global docId, so segment
  * merge is pure concatenation (SegmentMerger.cpp:88-103 semantics). */
final case class SegmentMeta(
    segId: Int,
    docBase: Long,
    docCount: Int,
    sumDocLength: Long,
    termCount: Int,
    postingCount: Long,
    bytes: Long,
    analyzer: String,
    hasPositions: Boolean,
    hasVectors: Boolean = false,
    hasPayloads: Boolean = false,
    hasUrls: Boolean = false) extends Serializable

/** One term-dictionary entry (df + term-level max-impact metadata +
  * postings location). */
final case class TermInfo(term: String, df: Int, maxFreq: Int, minDlByte: Byte,
    minDl: Int, postingsOffset: Long, postingsBytes: Long, skipBytes: Int = 0)

object SegmentFormat {

  /** Atomically publish a segment's deletion bitset for generation `gen`
    * (write-tmp + rename — same discipline as every other segment file).
    *
    * Del files are GENERATIONAL: `del_<gen>.bin`, where `gen` is the
    * delete generation the NEXT commit will record in its `delgen` extra.
    * Readers select the newest generation ≤ their commit snapshot's
    * delgen, so a bitset written ahead of its commit (updateDocuments'
    * delete half) is invisible to every concurrently opened reader until
    * the commit that references it lands — the reference's
    * commit-referenced `_N.del` files
    * (/root/reference/src/core/index/SegmentInfos.cpp, SegmentInfo
    * delGen → getDelFileName). A crashed update leaves only orphan files
    * no commit points at; the next delete batch purges them
    * ([[purgeOrphanDeletes]]) before writing its own generation, so a
    * later commit at the same generation number can never retroactively
    * adopt a crashed batch's bitsets in segments the new batch did not
    * touch. Superseded generations are tiny bitsets and are retained for
    * point-in-time readers until their segment is retired by a merge. */
  def writeDeletes(segDir: java.io.File, bits: java.util.BitSet, gen: Int): Unit = {
    val name = delFileName(gen)
    val tmp = new java.io.File(segDir, name + ".tmp")
    java.nio.file.Files.write(tmp.toPath, bits.toByteArray)
    java.nio.file.Files.move(tmp.toPath, new java.io.File(segDir, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def delFileName(gen: Int): String = s"del_$gen.bin"

  /** Remove deletion files with generation > `committedGen` (and stray
    * `.tmp` leftovers) — orphans of a batch that crashed before its commit
    * landed. Every delete batch runs this across ALL of the current
    * commit's segments before writing its own generation: without the
    * purge, a later unrelated batch committing the same generation number
    * would make a crashed update's deletes visible in segments it never
    * touched (deletes without the update's adds — silent data loss). */
  def purgeOrphanDeletes(segDir: java.io.File, committedGen: Int): Unit = {
    val names = segDir.list()
    if (names != null) names.foreach { n =>
      if (n.startsWith("del_")) {
        if (n.endsWith(".bin.tmp")) new java.io.File(segDir, n).delete()
        else if (n.endsWith(".bin")) {
          val g =
            try n.substring(4, n.length - 4).toInt
            catch { case _: NumberFormatException => -1 }
          if (g > committedGen) new java.io.File(segDir, n).delete()
        }
      }
    }
  }

  /** The newest deletion file with generation ≤ `genBound`, or the
    * un-suffixed legacy `del.bin` (pre-generational indexes) when no
    * suffixed file qualifies. None = segment has no committed deletes at
    * this bound. */
  private[graft] def latestDelFile(segDir: java.io.File, genBound: Int): Option[java.io.File] = {
    val names = segDir.list()
    var best = -1
    if (names != null) names.foreach { n =>
      if (n.startsWith("del_") && n.endsWith(".bin")) {
        val g =
          try n.substring(4, n.length - 4).toInt
          catch { case _: NumberFormatException => -1 }
        if (g > best && g <= genBound) best = g
      }
    }
    if (best >= 0) Some(new java.io.File(segDir, delFileName(best)))
    else {
      val legacy = new java.io.File(segDir, "del.bin")
      if (legacy.exists()) Some(legacy) else None
    }
  }

  /** The segment's deletion bitset as of committed generation `genBound`
    * (empty when none). Delete accumulation must seed from this, not from
    * a cached reader's open-time snapshot: a second delete batch through
    * the same searcher would otherwise OR into a stale bitset and
    * overwrite (lose) the first batch's committed tombstones on write.
    * Bounding by the COMMITTED generation also keeps a crashed
    * uncommitted batch's orphan bitset out of the seed. */
  def readDeletes(segDir: java.io.File, genBound: Int): java.util.BitSet =
    latestDelFile(segDir, genBound) match {
      case Some(f) =>
        java.util.BitSet.valueOf(java.nio.file.Files.readAllBytes(f.toPath))
      case None => new java.util.BitSet()
    }

  /** Postings per block; also the term-index sampling interval
    * (SURVEY.md §7.3; reference term-index interval 128 —
    * /root/reference/src/core/index/IndexWriter.cpp:64). */
  val BlockSize: Int = IntBlockCodec.BlockSize
  val TermIndexInterval = 64
  /** A skip entry is written before every SkipInterval-th block: a long
    * advance binary-searches the entries and lands at most SkipInterval
    * headers from the target, instead of scanning O(df/BlockSize) headers
    * (the multi-level-skip role of the reference's
    * MultiLevelSkipListWriter.cpp, flattened to one indexed level — the
    * entries live contiguously after the term's blocks, so one level
    * binary-searches in O(log)). */
  val SkipInterval = 16
  /** Every UrlIndexInterval-th url restarts front coding and is recorded
    * in urls.idx, so a fetch decodes at most this many urls. */
  val UrlIndexInterval = 64
  val NoMoreDocs: Int = Int.MaxValue

  def segDirName(segId: Int): String = f"seg-$segId%05d"
}

/** Streaming segment writer. Consumes rows already sorted by
  * (term, localDoc) — the Spark build pipeline guarantees this via
  * sortWithinPartitions — and writes the four segment files:
  *
  *  - norms.bin:   1 SmallFloat byte per doc (Lucene norm quantization)
  *  - doclens.bin: exact doc length VInts (exact-dl scoring + stats)
  *  - terms.bin:   prefix-compressed sorted term dict w/ df, term-level
  *                 max-impact metadata and postings offsets; every
  *                 TermIndexInterval-th entry restarts prefixing and is
  *                 recorded in terms.idx
  *  - postings.bin: per term, blocks of ≤128 postings: FOR-packed doc
  *                 deltas + freqs, optional VInt position deltas, and
  *                 per-block (lastDoc, maxFreq, minDl) block-max metadata
  *                 enabling Block-Max WAND (Ding & Suel, WSDM 2011)
  *
  * and, when asked to, the term-vector sidecar (vectors.bin/.idx) and each
  * doc's url (urls.bin/.idx, the reference's stored fields — FieldsWriter's
  * .fdt/.fdx — for the one stored field graft has).
  *
  * Write is atomic: files land in an attempt-unique `<dir>.tmp.<nonce>` and
  * are renamed into place in `finish()` — the crash-safe commit unit of the
  * resumable build (analog of the reference's write-once segments_N,
  * SegmentInfos.cpp:29-31). Duplicate task attempts (speculative execution,
  * zombie attempts a stage resubmission left behind — Spark's cooperative
  * kill cannot interrupt straight-line segment writes) are safe twice over:
  * each attempt writes its own tmp dir, and publication is
  * FIRST-ATTEMPT-WINS — a later identical attempt discards its output
  * instead of delete-and-republishing a segment a commit may already
  * reference. Only a prior dir whose meta DIFFERS is replaced (a stale
  * segment from a superseded build — the old idempotent-re-run path). */
final class SegmentWriter(
    indexDir: String,
    segId: Int,
    docBase: Long,
    docCount: Int,
    analyzerName: String,
    storePositions: Boolean,
    storeVectors: Boolean = false,
    storePayloads: Boolean = false,
    storeUrls: Boolean = false) {

  require(!storePayloads || storePositions, "payloads require positions")

  import SegmentFormat._

  private val finalDir = new File(indexDir, segDirName(segId))
  // attempt-unique: concurrent duplicate attempts must not share a tmp dir
  private val tmpDir = new File(indexDir,
    segDirName(segId) + ".tmp." + java.util.UUID.randomUUID().toString.take(8))

  // deletes carried through a merge, published atomically WITH the segment
  // (inside the same rename) so no reader window exists where the merged
  // segment is visible without its tombstones
  private var carriedDeletes: Option[(java.util.BitSet, Int)] = None
  def addCarriedDeletes(bits: java.util.BitSet, gen: Int): Unit =
    carriedDeletes = if (bits.isEmpty) None else Some((bits, gen))

  private val norms = new Array[Byte](docCount)
  private val doclens = new Array[Int](docCount)
  private var sumDl = 0L

  private val termsOut = new ByteWriter(1 << 16)
  private val termIdxOut = new ByteWriter(1 << 12)
  private val postingsOut = new ByteWriter(1 << 20)
  // term-vector sidecar (doc-ordered; reference TermVectorsWriter analog):
  // vectors.bin entries + fixed-width offsets for random access
  private val vecOut = if (storeVectors) new ByteWriter(1 << 16) else null
  private val vecOffsets = if (storeVectors) new Array[Long](docCount + 1) else null
  private var vecNextDoc = 0
  // urls, front-coded on their UTF-8 bytes like the term dict: each entry
  // is VInt(shared prefix + 1), VInt(suffix length), suffix bytes; VInt 0
  // is a null url. Every UrlIndexInterval-th doc restarts the prefix and
  // urls.idx holds its offset (fixed-width, for random access)
  private val urlsOut = if (storeUrls) new ByteWriter(1 << 12) else null
  private val urlIdxOut = if (storeUrls) new ByteWriter(8 * (docCount / UrlIndexInterval + 1)) else null
  private var urlNextDoc = 0
  private var prevUrl: Array[Byte] = null

  private var termCount = 0
  private var postingCount = 0L
  private var prevTerm: String = null
  private var lastPostingsEnd = 0L

  // current-term state
  private var curTerm: String = null
  private var curDf = 0
  private var curMaxFreq = 0
  private var curMinDl = Int.MaxValue
  private var curPostingsStart = 0L
  private val docBuf = new Array[Int](BlockSize)
  private val freqBuf = new Array[Int](BlockSize)
  private val posBuf = new ByteWriter(4096)
  private var bufN = 0
  private var prevDocInTerm = -1
  private var prevBlockLastDoc = -1
  private var blockIdxInTerm = 0
  private val skipPrevLast = new scala.collection.mutable.ArrayBuffer[Int]
  private val skipOffsets = new scala.collection.mutable.ArrayBuffer[Int]

  def addDocLength(localDoc: Int, dl: Int): Unit = {
    norms(localDoc) = SmallFloat.encodeNorm(dl)
    doclens(localDoc) = dl
    sumDl += dl
  }

  /** Doc-ordered term vector: the doc's (term, freq, positions) entries,
    * term-sorted. Docs may be skipped (empty vectors are filled in); must
    * be called in ascending localDoc order, independently of addPosting's
    * term order (separate sidecar — reference stores vectors at document
    * processing time, TermVectorsWriter). */
  def addDocVector(localDoc: Int, terms: Array[String], freqs: Array[Int],
      positions: Array[Array[Int]]): Unit = {
    require(storeVectors, "writer built without storeVectors")
    require(localDoc >= vecNextDoc, s"vectors out of order: $localDoc < $vecNextDoc")
    while (vecNextDoc < localDoc) { // fill skipped docs with empty vectors
      vecOffsets(vecNextDoc) = vecOut.size.toLong
      vecOut.writeVInt(0)
      vecNextDoc += 1
    }
    vecOffsets(localDoc) = vecOut.size.toLong
    vecOut.writeVInt(terms.length)
    var i = 0
    while (i < terms.length) {
      vecOut.writeString(terms(i))
      vecOut.writeVInt(freqs(i))
      if (storePositions) {
        var prev = 0
        var j = 0
        while (j < freqs(i)) {
          vecOut.writeVInt(positions(i)(j) - prev)
          prev = positions(i)(j)
          j += 1
        }
      }
      i += 1
    }
    vecNextDoc = localDoc + 1
  }

  /** Doc `localDoc`'s url (may be null); called once per doc, in localDoc
    * order. */
  def addUrl(localDoc: Int, url: String): Unit = {
    require(storeUrls, "writer built without storeUrls")
    require(localDoc == urlNextDoc, s"urls out of order: doc $localDoc, expected $urlNextDoc")
    if (localDoc % UrlIndexInterval == 0) {
      urlIdxOut.writeLongBE(urlsOut.size.toLong)
      prevUrl = null
    }
    if (url == null) {
      urlsOut.writeVInt(0)
      prevUrl = null
    } else {
      val bs = url.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var p = 0
      if (prevUrl != null) {
        val max = math.min(prevUrl.length, bs.length)
        while (p < max && prevUrl(p) == bs(p)) p += 1
      }
      urlsOut.writeVInt(p + 1)
      urlsOut.writeVInt(bs.length - p)
      urlsOut.writeBytes(bs, p, bs.length - p)
      prevUrl = bs
    }
    urlNextDoc += 1
  }

  /** Terms must arrive in ascending order; docs ascending within a term. */
  def addPosting(term: String, localDoc: Int, freq: Int, positions: Array[Int]): Unit =
    addPosting(term, localDoc, freq, positions, 0)

  def addPosting(term: String, localDoc: Int, freq: Int, positions: Array[Int],
      posOff: Int): Unit =
    addPosting(term, localDoc, freq, positions, posOff, null)

  /** As above, reading `freq` positions from `positions(posOff…)` (lets the
    * in-RAM inverter pass one shared buffer without slicing); `payloads`
    * (parallel to positions, entries may be null) is stored when the
    * segment is payload-enabled — per position: VInt len + bytes, the
    * reference's prox-stream payload layout re-expressed
    * (/root/reference/src/core/index/FormatPostingsPositionsWriter.cpp). */
  def addPosting(term: String, localDoc: Int, freq: Int, positions: Array[Int],
      posOff: Int, payloads: Array[Array[Byte]]): Unit = {
    if (curTerm == null || term != curTerm) {
      if (curTerm != null) endTerm()
      startTerm(term)
    }
    if (bufN == BlockSize) flushBlock()
    docBuf(bufN) = localDoc
    freqBuf(bufN) = freq
    if (storePositions) {
      var prev = 0
      var i = posOff
      while (i < posOff + freq) {
        posBuf.writeVInt(positions(i) - prev)
        prev = positions(i)
        if (storePayloads) {
          val pay = if (payloads == null) null else payloads(i - posOff)
          if (pay == null) posBuf.writeVInt(0)
          else { posBuf.writeVInt(pay.length); posBuf.writeBytes(pay) }
        }
        i += 1
      }
    }
    bufN += 1
    curDf += 1
    postingCount += 1
    if (freq > curMaxFreq) curMaxFreq = freq
    val dl = doclens(localDoc)
    if (dl < curMinDl) curMinDl = dl
  }

  private def startTerm(term: String): Unit = {
    require(prevTerm == null || TermOrder.gt(term, prevTerm),
      s"terms out of order (code-point order): '$prevTerm' -> '$term'")
    curTerm = term
    curDf = 0
    curMaxFreq = 0
    curMinDl = Int.MaxValue
    curPostingsStart = postingsOut.size.toLong
    prevDocInTerm = -1
    prevBlockLastDoc = -1
    bufN = 0
    blockIdxInTerm = 0
    skipPrevLast.clear()
    skipOffsets.clear()
  }

  private def flushBlock(): Unit = {
    if (bufN == 0) return
    // skip entry BEFORE every SkipInterval-th block: (last doc of the
    // previous block, byte offset of this block's header within the term)
    if (blockIdxInTerm > 0 && blockIdxInTerm % SkipInterval == 0) {
      skipPrevLast += prevBlockLastDoc
      skipOffsets += (postingsOut.size - curPostingsStart).toInt
    }
    blockIdxInTerm += 1
    val n = bufN
    val lastDoc = docBuf(n - 1)
    // block-max metadata
    var bMaxFreq = 0
    var bMinDl = Int.MaxValue
    var i = 0
    while (i < n) {
      if (freqBuf(i) > bMaxFreq) bMaxFreq = freqBuf(i)
      val dl = doclens(docBuf(i))
      if (dl < bMinDl) bMinDl = dl
      i += 1
    }
    // payload: packed (docDelta-1), packed (freq-1), positions bytes
    val deltas = new Array[Int](n)
    var prev = prevBlockLastDoc
    i = 0
    while (i < n) { deltas(i) = docBuf(i) - prev - 1; prev = docBuf(i); i += 1 }
    val fm1 = new Array[Int](n)
    i = 0
    while (i < n) { fm1(i) = freqBuf(i) - 1; i += 1 }

    val payload = new ByteWriter(512)
    IntBlockCodec.encodeBlock(deltas, n, payload)
    IntBlockCodec.encodeBlock(fm1, n, payload)
    if (storePositions) {
      payload.writeVInt(posBuf.size)
      payload.writeBytes(posBuf.toArray)
    }
    val payloadArr = payload.toArray

    postingsOut.writeVInt(n)
    postingsOut.writeVInt(lastDoc - prevBlockLastDoc)
    postingsOut.writeVInt(bMaxFreq)
    postingsOut.writeByte(SmallFloat.encodeNorm(bMinDl))
    postingsOut.writeVInt(bMinDl)
    postingsOut.writeVInt(payloadArr.length)
    postingsOut.writeBytes(payloadArr)

    prevBlockLastDoc = lastDoc
    bufN = 0
    posBuf.reset()
  }

  private def endTerm(): Unit = {
    flushBlock()
    // append the term's skip table after its blocks (delta VInts)
    val skipStart = postingsOut.size
    if (skipPrevLast.nonEmpty) {
      postingsOut.writeVInt(skipPrevLast.size)
      var prevD = -1
      var prevO = 0
      var i = 0
      while (i < skipPrevLast.size) {
        postingsOut.writeVInt(skipPrevLast(i) - prevD)
        postingsOut.writeVInt(skipOffsets(i) - prevO)
        prevD = skipPrevLast(i)
        prevO = skipOffsets(i)
        i += 1
      }
    }
    val skipBytes = postingsOut.size - skipStart
    // term dict entry
    val restart = termCount % TermIndexInterval == 0
    val prefixLen =
      if (restart || prevTerm == null) 0
      else {
        var p = 0
        val max = math.min(prevTerm.length, curTerm.length)
        while (p < max && prevTerm.charAt(p) == curTerm.charAt(p)) p += 1
        p
      }
    if (restart) {
      termIdxOut.writeString(curTerm)
      termIdxOut.writeVLong(termsOut.size.toLong)
      termIdxOut.writeVLong(curPostingsStart)
      termIdxOut.writeVInt(termCount)
    }
    val suffix = curTerm.substring(prefixLen)
    termsOut.writeVInt(prefixLen)
    termsOut.writeString(suffix)
    termsOut.writeVInt(curDf)
    termsOut.writeVInt(curMaxFreq)
    termsOut.writeByte(SmallFloat.encodeNorm(curMinDl))
    termsOut.writeVInt(curMinDl)
    termsOut.writeVLong(curPostingsStart - lastPostingsEnd) // delta, usually 0
    termsOut.writeVLong(postingsOut.size.toLong - curPostingsStart) // length incl. skip table
    termsOut.writeVInt(skipBytes)
    lastPostingsEnd = postingsOut.size.toLong

    prevTerm = curTerm
    curTerm = null
    termCount += 1
  }

  def finish(): SegmentMeta = {
    if (curTerm != null) endTerm()
    tmpDir.mkdirs()
    // norms + exact doclens
    writeFile(new File(tmpDir, "norms.bin"), norms)
    val dlw = new ByteWriter(docCount * 2)
    var i = 0
    while (i < docCount) { dlw.writeVInt(doclens(i)); i += 1 }
    writeFile(new File(tmpDir, "doclens.bin"), dlw.toArray)
    writeFile(new File(tmpDir, "terms.bin"), termsOut.toArray)
    writeFile(new File(tmpDir, "terms.idx"), termIdxOut.toArray)
    writeFile(new File(tmpDir, "postings.bin"), postingsOut.toArray)
    if (storeVectors) {
      while (vecNextDoc < docCount) { // trailing empty vectors
        vecOffsets(vecNextDoc) = vecOut.size.toLong
        vecOut.writeVInt(0)
        vecNextDoc += 1
      }
      vecOffsets(docCount) = vecOut.size.toLong
      writeFile(new File(tmpDir, "vectors.bin"), vecOut.toArray)
      val vi = new ByteWriter(8 * (docCount + 1))
      var d = 0
      while (d <= docCount) { vi.writeLongBE(vecOffsets(d)); d += 1 }
      writeFile(new File(tmpDir, "vectors.idx"), vi.toArray)
    }
    if (storeUrls) {
      require(urlNextDoc == docCount, s"segment $segId got $urlNextDoc urls for $docCount docs")
      writeFile(new File(tmpDir, "urls.bin"), urlsOut.toArray)
      writeFile(new File(tmpDir, "urls.idx"), urlIdxOut.toArray)
    }

    val bytes = tmpDir.listFiles().map(_.length()).sum
    val meta = SegmentMeta(segId, docBase, docCount, sumDl, termCount,
      postingCount, bytes, analyzerName, storePositions, storeVectors, storePayloads, storeUrls)
    writeFile(new File(tmpDir, "meta.bin"), IndexMetaIO.encodeSegment(meta))
    // carried del bitset rides inside the same atomic rename (after meta.bin
    // so the byte count stays the segment-proper size)
    carriedDeletes.foreach { case (bits, gen) =>
      writeFile(new File(tmpDir, delFileName(gen)), bits.toByteArray)
    }

    // atomic publish, first-attempt-wins: an existing dir with IDENTICAL
    // meta is a duplicate attempt's earlier publication (merge/build output
    // is deterministic per (segId, inputs)) — keep it, discard ours, so a
    // zombie attempt never unpublishes a segment a commit already
    // references. A dir with DIFFERENT meta is a stale prior → replace
    // (the old idempotent-re-run semantics).
    def alreadyPublished(): Boolean = {
      val mf = new File(finalDir, "meta.bin")
      try mf.exists() &&
        IndexMetaIO.decodeSegment(Files.readAllBytes(mf.toPath)) == meta
      catch { case _: Exception => false }
    }
    if (alreadyPublished()) { deleteRecursive(tmpDir); return meta }
    if (finalDir.exists()) deleteRecursive(finalDir)
    try Files.move(tmpDir.toPath, finalDir.toPath, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException =>
        // lost a publish race to a concurrent attempt — defer to it if equal
        if (alreadyPublished()) deleteRecursive(tmpDir) else throw e
    }
    // best-effort sweep of crashed attempts' tmp dirs for this segment
    Option(new File(indexDir).listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith(segDirName(segId) + ".tmp.") && f != tmpDir)
        try deleteRecursive(f) catch { case _: Exception => () }
    })
    meta
  }

  private def writeFile(f: File, bytes: Array[Byte]): Unit = {
    val out = new FileOutputStream(f)
    try out.write(bytes) finally out.close()
  }

  private def deleteRecursive(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursive)
    f.delete()
  }
}

/** Read side of the segment format. Files are memory-mapped
  * (java.nio, the MMapDirectory analog —
  * /root/reference/src/core/store/MMapDirectory.cpp); the sampled term index
  * is decoded to memory for binary search, the term dict itself is scanned
  * sequentially from the nearest sample (TermInfosReader pattern,
  * /root/reference/src/core/index/TermInfosReader.cpp:113-160). */
final class SegmentReader(val dir: File, delGenBound: Int = Int.MaxValue) {
  import SegmentFormat._

  val meta: SegmentMeta = IndexMetaIO.decodeSegment(Files.readAllBytes(new File(dir, "meta.bin").toPath))

  private val termsBuf = mmap(new File(dir, "terms.bin"))
  private val postingsBuf = mmap(new File(dir, "postings.bin"))
  val norms: Array[Byte] = Files.readAllBytes(new File(dir, "norms.bin").toPath)

  // deletion sidecar — the reference's .del BitVector
  // (/root/reference/src/core/util/BitVector.cpp, SegmentReader loads it at
  // open): docIds stay STABLE (url ranks); deleted docs are tombstoned out
  // of every result and their postings reclaimed at the next merge.
  // `delGenBound` pins the reader to its commit snapshot's delete
  // generation (IndexSearcher passes the committed delgen); the default
  // MaxValue — newest file wins — serves single-writer local tools and
  // tests that bypass commits.
  private val delBits: java.util.BitSet =
    latestDelFile(dir, delGenBound) match {
      case Some(f) => java.util.BitSet.valueOf(Files.readAllBytes(f.toPath))
      case None => null
    }
  val hasDeletions: Boolean = delBits != null && !delBits.isEmpty
  @inline def deleted(localDoc: Int): Boolean = hasDeletions && delBits.get(localDoc)
  def delCount: Int = if (delBits == null) 0 else delBits.cardinality()
  /** Copy of the deletion bitset (empty when none) — for delete-accumulation. */
  def deletionBits: java.util.BitSet =
    if (delBits == null) new java.util.BitSet(meta.docCount)
    else delBits.clone().asInstanceOf[java.util.BitSet]
  val doclens: Array[Int] = {
    val r = new ByteReader(Files.readAllBytes(new File(dir, "doclens.bin").toPath))
    Array.fill(meta.docCount)(r.readVInt())
  }

  // decoded sampled term index
  private val (idxTerms, idxTermsOffsets, idxPostOffsets) = {
    val bytes = Files.readAllBytes(new File(dir, "terms.idx").toPath)
    val r = new ByteReader(bytes)
    val ts = Vector.newBuilder[String]
    val to = Vector.newBuilder[Long]
    val po = Vector.newBuilder[Long]
    while (r.remaining > 0) {
      ts += r.readString()
      to += r.readVLong()
      po += r.readVLong()
      r.readVInt() // ordinal (unused on this path)
    }
    (ts.result(), to.result(), po.result())
  }

  /** Term vector of one doc: (term, freq, positions) entries, term-sorted.
    * None when the segment was built without vectors. Random access via the
    * fixed-width offset table (reference TermVectorsReader analog). */
  def termVector(localDoc: Int): Option[Seq[(String, Int, Array[Int])]] = {
    if (vectorsBuf == null) return None
    require(localDoc >= 0 && localDoc < meta.docCount, s"doc $localDoc out of range")
    val idx = new ByteReader(vectorsIdxBuf.duplicate())
    idx.seek(localDoc * 8)
    val off = idx.readLongBE()
    val r = new ByteReader(vectorsBuf.duplicate())
    r.seek(off.toInt)
    val n = r.readVInt()
    val out = Vector.newBuilder[(String, Int, Array[Int])]
    var i = 0
    while (i < n) {
      val term = r.readString()
      val freq = r.readVInt()
      val positions =
        if (!meta.hasPositions) Array.emptyIntArray
        else {
          val ps = new Array[Int](freq)
          var prev = 0
          var j = 0
          while (j < freq) { prev += r.readVInt(); ps(j) = prev; j += 1 }
          ps
        }
      out += ((term, freq, positions))
      i += 1
    }
    Some(out.result())
  }

  private lazy val vectorsBuf: java.nio.ByteBuffer =
    if (meta.hasVectors) mmap(new File(dir, "vectors.bin")) else null
  private lazy val vectorsIdxBuf: java.nio.ByteBuffer =
    if (meta.hasVectors) mmap(new File(dir, "vectors.idx")) else null

  /** Doc `localDoc`'s url, None for a null url: seek to the restart point
    * at or before it through urls.idx, then decode forward. The url files
    * are mapped on first use, so searches never open them. Fails on a
    * segment that stores no urls. */
  def url(localDoc: Int): Option[String] = urlsFrom(localDoc).next()

  /** The urls of docs `localDoc` until the segment's last doc, in order. */
  def urlsFrom(localDoc: Int): Iterator[Option[String]] = {
    require(meta.hasUrls, s"segment ${meta.segId} stores no urls")
    require(localDoc >= 0 && localDoc < meta.docCount, s"doc $localDoc out of range")
    val start = localDoc / UrlIndexInterval
    val idx = new ByteReader(urlsIdxBuf.duplicate())
    idx.seek(start * 8)
    val r = new ByteReader(urlsBuf.duplicate())
    r.seek(idx.readLongBE().toInt)
    new UrlIterator(r, meta.docCount - start * UrlIndexInterval)
      .drop(localDoc - start * UrlIndexInterval)
  }

  /** Problems with the url files: urls.bin must decode to exactly docCount
    * urls, and each urls.idx entry must be the offset of its restart
    * point. */
  private[index] def checkUrls(): Seq[String] = {
    val idx = new ByteReader(urlsIdxBuf.duplicate())
    val restarts = (meta.docCount + UrlIndexInterval - 1) / UrlIndexInterval
    if (idx.remaining != 8 * restarts)
      return Seq(s"urls.idx is ${idx.remaining} bytes, expected ${8 * restarts} for $restarts restarts")
    val r = new ByteReader(urlsBuf.duplicate())
    val it = new UrlIterator(r, meta.docCount)
    val problems = Seq.newBuilder[String]
    var d = 0
    try while (d < meta.docCount) {
      if (d % UrlIndexInterval == 0 && idx.readLongBE() != r.pos)
        problems += s"urls.idx entry ${d / UrlIndexInterval} is not the offset of doc $d"
      it.next()
      d += 1
    } catch { case _: java.nio.BufferUnderflowException => problems += s"urls.bin ends at doc $d" }
    if (r.remaining > 0) problems += s"urls.bin has ${r.remaining} bytes past the last doc"
    problems.result()
  }

  private lazy val urlsBuf: java.nio.ByteBuffer = mmap(new File(dir, "urls.bin"))
  private lazy val urlsIdxBuf: java.nio.ByteBuffer = mmap(new File(dir, "urls.idx"))

  private def mmap(f: File): java.nio.ByteBuffer = {
    val ch = FileChannel.open(f.toPath, StandardOpenOption.READ)
    try {
      // Offsets into this buffer are narrowed via .toInt (postings seek,
      // term-index seek): enforce the single-map 2 GiB limit loudly instead
      // of truncating silently.
      require(ch.size() <= Int.MaxValue,
        s"$f is ${ch.size()} bytes; graft maps segment files in one " +
          "MappedByteBuffer (2 GiB max) — rebuild with a smaller docsPerSegment")
      ch.map(FileChannel.MapMode.READ_ONLY, 0, ch.size())
    } finally ch.close()
  }

  /** Binary search the sampled index, then scan ≤ TermIndexInterval entries. */
  def termInfo(term: String): Option[TermInfo] = {
    if (idxTerms.isEmpty) return None
    // greatest sample <= term (code-point order, matching the dict sort)
    var lo = 0
    var hi = idxTerms.length - 1
    if (TermOrder.gt(idxTerms(0), term)) return None
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (TermOrder.lteq(idxTerms(mid), term)) lo = mid else hi = mid - 1
    }
    val r = new ByteReader(termsBuf.duplicate())
    r.seek(idxTermsOffsets(lo).toInt)
    var postingsPos = idxPostOffsets(lo)
    var prev: String = null
    var scanned = 0
    while (scanned < TermIndexInterval && r.remaining > 0) {
      val prefixLen = r.readVInt()
      val suffix = r.readString()
      val t = if (prefixLen == 0) suffix else prev.substring(0, prefixLen) + suffix
      val df = r.readVInt()
      val maxFreq = r.readVInt()
      val minDlByte = r.readByte()
      val minDl = r.readVInt()
      postingsPos += r.readVLong()
      val len = r.readVLong()
      val skipB = r.readVInt()
      if (t == term) return Some(TermInfo(t, df, maxFreq, minDlByte, minDl, postingsPos, len, skipB))
      if (TermOrder.gt(t, term)) return None
      postingsPos += len
      prev = t
      scanned += 1
    }
    None
  }

  /** Iterate the whole term dictionary (for stats jobs / merge). */
  def allTerms: Iterator[TermInfo] = termsIterAt(0, 0L)

  /** Sorted term iterator starting at the first term >= `lower` (multi-term
    * expansion seek — TermRangeTermEnum/PrefixQuery pattern). */
  def termsFrom(lower: Option[String]): Iterator[TermInfo] = lower match {
    case None => allTerms
    case Some(lo) =>
      if (idxTerms.isEmpty) Iterator.empty
      else {
        // greatest sample <= lo (or the first sample)
        var l = 0
        var h = idxTerms.length - 1
        if (TermOrder.lt(idxTerms(0), lo)) {
          while (l < h) {
            val mid = (l + h + 1) >>> 1
            if (TermOrder.lteq(idxTerms(mid), lo)) l = mid else h = mid - 1
          }
        }
        termsIterAt(idxTermsOffsets(l).toInt, idxPostOffsets(l))
          .dropWhile(ti => TermOrder.lt(ti.term, lo))
      }
  }

  private def termsIterAt(termsOffset: Int, postingsStart: Long): Iterator[TermInfo] =
    new Iterator[TermInfo] {
      private val r = new ByteReader(termsBuf.duplicate())
      r.seek(termsOffset)
      private var prev: String = null
      private var postingsPos = postingsStart
      override def hasNext: Boolean = r.remaining > 0
      override def next(): TermInfo = {
        val prefixLen = r.readVInt()
        val suffix = r.readString()
        val t = if (prefixLen == 0) suffix else prev.substring(0, prefixLen) + suffix
        val df = r.readVInt()
        val maxFreq = r.readVInt()
        val minDlByte = r.readByte()
        val minDl = r.readVInt()
        postingsPos += r.readVLong()
        val len = r.readVLong()
        val skipB = r.readVInt()
        val ti = TermInfo(t, df, maxFreq, minDlByte, minDl, postingsPos, len, skipB)
        postingsPos += len
        prev = t
        ti
      }
    }

  def postings(ti: TermInfo, needPositions: Boolean): PostingsIterator = {
    // decode the term's skip table (appended after its blocks)
    var skipDocs: Array[Int] = null
    var skipOffs: Array[Int] = null
    if (ti.skipBytes > 0) {
      val sr = new ByteReader({
        val d = postingsBuf.duplicate()
        d.position((ti.postingsOffset + ti.postingsBytes - ti.skipBytes).toInt)
        d
      })
      val n = sr.readVInt()
      skipDocs = new Array[Int](n)
      skipOffs = new Array[Int](n)
      var prevD = -1
      var prevO = 0
      var i = 0
      while (i < n) {
        prevD += sr.readVInt(); skipDocs(i) = prevD
        prevO += sr.readVInt(); skipOffs(i) = prevO
        i += 1
      }
    }
    new PostingsIterator(
      new ByteReader({ val d = postingsBuf.duplicate(); d.position(ti.postingsOffset.toInt); d }),
      ti.df, meta.hasPositions, needPositions, skipDocs, skipOffs, meta.hasPayloads)
  }
}

/** Decodes `n` front-coded urls from a restart point of urls.bin
  * (layout: [[SegmentWriter.addUrl]]). */
private final class UrlIterator(r: ByteReader, private var n: Int)
    extends Iterator[Option[String]] {
  private var prev = Array.emptyByteArray

  override def hasNext: Boolean = n > 0

  override def next(): Option[String] = {
    n -= 1
    val h = r.readVInt()
    if (h == 0) { prev = Array.emptyByteArray; None }
    else {
      val cur = java.util.Arrays.copyOf(prev, h - 1 + r.readVInt())
      r.readInto(cur, h - 1)
      prev = cur
      Some(new String(cur, java.nio.charset.StandardCharsets.UTF_8))
    }
  }
}

/** Block-decoding postings iterator implementing the DocIdSetIterator
  * contract (nextDoc/advance — /root/reference/src/core/search/DocIdSetIterator.cpp)
  * plus the block-max extension (`blockLastDoc`/`blockMaxScore`/
  * `skipToBlockContaining`) used by WAND. Decodes 128 postings at a time
  * into flat int arrays (bulk-read pattern of the reference's TermScorer,
  * /root/reference/src/core/search/TermScorer.cpp:49-70). */
final class PostingsIterator(
    in: ByteReader,
    val df: Int,
    filePositions: Boolean,
    needPositions: Boolean,
    skipDocs: Array[Int] = null,
    skipOffs: Array[Int] = null,
    filePayloads: Boolean = false) {

  import SegmentFormat._

  private val docs = new Array[Int](BlockSize)
  private val freqs = new Array[Int](BlockSize)
  private var posBytes: Array[Byte] = null

  // State machine: either no block (start/end), a block with only the
  // HEADER read (payload pending — the skip state), or a DECODED block with
  // cursor blockIdx. Invariant: headerPending && blockDecoded never both.
  private var blockN = 0 // entries in current block
  private var blockIdx = 0 // cursor within decoded block
  private var consumed = 0 // postings consumed across headers read
  private var prevBlockLast = -1
  private var curBlockLast = -1
  private var blockMaxFreqV = 0
  private var blockMinDlByteV: Byte = 0
  private var blockMinDlV = 0
  private var headerPending = false // header read, payload not yet decoded
  private var blockDecoded = false
  private var payloadLen = 0
  private var _doc = -1
  private val termStart = in.pos // absolute buffer offset of the term's first block

  /** Deep skip via the term's appended skip table: land on the latest
    * indexed block whose predecessor ends before `target` (then at most
    * SkipInterval headers remain to scan). Entry i indexes block
    * (i+1)*SkipInterval; every earlier block is full, so the consumed
    * count is derivable. */
  @inline private def skipTableJump(target: Int): Unit = {
    if (skipDocs == null) return
    var lo = 0
    var hi = skipDocs.length - 1
    var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (skipDocs(mid) < target) { best = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (best >= 0) {
      val jumpConsumed = (best + 1) * SkipInterval * BlockSize
      if (jumpConsumed > consumed || (jumpConsumed == consumed && headerPending)) {
        in.seek(termStart + skipOffs(best))
        headerPending = false
        blockDecoded = false
        consumed = jumpConsumed
        curBlockLast = skipDocs(best)
        prevBlockLast = skipDocs(best)
      }
    }
  }

  def docID: Int = _doc
  def freq: Int = freqs(blockIdx)

  /** Positions of the current posting (requires needPositions). */
  def positions(): Array[Int] = {
    val r = new ByteReader(posBytes)
    // skip positions of postings before blockIdx
    var i = 0
    var out: Array[Int] = null
    while (i <= blockIdx) {
      val f = freqs(i)
      if (i == blockIdx) {
        out = new Array[Int](f)
        var prev = 0
        var j = 0
        while (j < f) {
          prev += r.readVInt(); out(j) = prev
          if (filePayloads) r.skip(r.readVInt())
          j += 1
        }
      } else {
        var j = 0
        while (j < f) {
          r.readVInt()
          if (filePayloads) r.skip(r.readVInt())
          j += 1
        }
      }
      i += 1
    }
    out
  }

  /** Per-position payloads of the current posting (null entries = none);
    * requires needPositions on a payload-enabled segment. */
  def payloads(): Array[Array[Byte]] = {
    require(filePayloads, "segment stores no payloads")
    val r = new ByteReader(posBytes)
    var i = 0
    var out: Array[Array[Byte]] = null
    while (i <= blockIdx) {
      val f = freqs(i)
      if (i == blockIdx) {
        out = new Array[Array[Byte]](f)
        var j = 0
        while (j < f) {
          r.readVInt()
          val n = r.readVInt()
          out(j) = if (n == 0) null else r.readBytes(n)
          j += 1
        }
      } else {
        var j = 0
        while (j < f) { r.readVInt(); r.skip(r.readVInt()); j += 1 }
      }
      i += 1
    }
    out
  }

  /** Read the next block HEADER only (no payload decode). False at end. */
  private def nextBlockHeader(): Boolean = {
    if (headerPending) { in.skip(payloadLen); headerPending = false } // discard skipped block
    blockDecoded = false
    if (consumed >= df) return false
    prevBlockLast = curBlockLast
    blockN = in.readVInt()
    curBlockLast = prevBlockLast + in.readVInt()
    blockMaxFreqV = in.readVInt()
    blockMinDlByteV = in.readByte()
    blockMinDlV = in.readVInt()
    payloadLen = in.readVInt()
    headerPending = true
    consumed += blockN
    true
  }

  private def decodeBlock(): Unit = {
    IntBlockCodec.decodeBlock(in, blockN, docs)
    var prev = prevBlockLast
    var i = 0
    while (i < blockN) { prev += docs(i) + 1; docs(i) = prev; i += 1 }
    IntBlockCodec.decodeBlock(in, blockN, freqs)
    i = 0
    while (i < blockN) { freqs(i) += 1; i += 1 }
    if (filePositions) {
      val pb = in.readVInt()
      if (needPositions) posBytes = in.readBytes(pb) else in.skip(pb)
    }
    headerPending = false
    blockDecoded = true
    blockIdx = 0
  }

  def nextDoc(): Int = {
    if (_doc == NoMoreDocs) return NoMoreDocs
    if (blockDecoded && blockIdx + 1 < blockN) blockIdx += 1
    else {
      if (headerPending) decodeBlock()
      else if (nextBlockHeader()) decodeBlock()
      else { _doc = NoMoreDocs; return NoMoreDocs }
    }
    _doc = docs(blockIdx)
    _doc
  }

  def advance(target: Int): Int = {
    if (_doc == NoMoreDocs) return NoMoreDocs
    if (_doc >= target) return _doc
    // deep skip via the skip table, then whole blocks via headers only
    if (curBlockLast < target) skipTableJump(target)
    while (curBlockLast < target) {
      if (!nextBlockHeader()) { _doc = NoMoreDocs; return NoMoreDocs }
    }
    if (!blockDecoded) {
      if (headerPending) decodeBlock()
      else { _doc = NoMoreDocs; return NoMoreDocs } // cannot happen: curBlockLast >= target implies a block
    }
    // linear scan within decoded block (<=128 entries; curBlockLast >= target
    // guarantees a hit)
    while (docs(blockIdx) < target) blockIdx += 1
    _doc = docs(blockIdx)
    _doc
  }

  // ---- block-max API (WAND) ----

  /** Last docID of the current block (header-known even before decode). */
  def blockLastDoc: Int = curBlockLast

  def blockMaxScore(w: TermWeight): Double =
    w.maxScore(blockMaxFreqV, blockMinDlByteV, blockMinDlV)

  /** Move block headers forward (no payload decode) until the current block
    * may contain `target`. Returns false if exhausted. */
  def skipToBlockContaining(target: Int): Boolean = {
    if (curBlockLast < target) skipTableJump(target)
    while (curBlockLast < target) {
      if (!nextBlockHeader()) { _doc = NoMoreDocs; return false }
    }
    true
  }
}
