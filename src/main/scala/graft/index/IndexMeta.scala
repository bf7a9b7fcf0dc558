package graft.index

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.codec.{ByteReader, ByteWriter}

/** Index-level snapshot: the committed segment set and the analysis
  * settings every segment in it shares.
  *
  * Commit model mirrors the reference's lockless two-phase `segments_N`
  * (/root/reference/src/core/index/SegmentInfos.cpp:29-31,226-289):
  *  - each segment directory is published by atomic rename (task-level
  *    commit — the per-partition lineage row of the north rule);
  *  - the driver then writes `commits/commit_<gen>.json` naming the full
  *    segment set (snapshot). Readers use the highest complete generation;
  *    a half-written commit file is ignored because generation files are
  *    write-once + atomic-renamed.
  * Resume = planned segments MINUS segments already on disk with valid
  * meta (anti-join on segId). A commit generation ([[IndexMetaIO.Snapshot]])
  * holds `segments`, `analyzer`, `hasPositions`, `delGen`, `streamBatch` and
  * `format`; every writer commits through [[IndexMetaIO.commit]], which
  * starts from the latest generation, so every commit carries all of them.
  * `numDocs` and `sumDocLength` are sums over `segments`. */
final case class IndexMeta(
    analyzer: String,
    hasPositions: Boolean,
    segments: Seq[SegmentMeta]) {
  val numDocs: Long = segments.map(_.docCount.toLong).sum
  val sumDocLength: Long = segments.map(_.sumDocLength).sum
  def avgDocLength: Double = if (numDocs == 0) 0.0 else sumDocLength.toDouble / numDocs

  /** First docId past every committed segment: where appended docs start. */
  def nextDocId: Long = segments.map(s => s.docBase + s.docCount).foldLeft(0L)(math.max)

  /** Id for the next new segment. Merged segments take fresh ids too, so
    * ids only grow and a retired segment's id is never reused. */
  def nextSegId: Int = segments.map(_.segId + 1).foldLeft(0)(math.max)

  /** Fails unless every segment was written with this snapshot's analyzer
    * and positions setting: searches analyze queries with `analyzer`, and a
    * merge gives its output the settings of its inputs. */
  def requireUniform(): IndexMeta = {
    segments.foreach(s => require(s.analyzer == analyzer && s.hasPositions == hasPositions,
      s"segment ${s.segId} has analyzer '${s.analyzer}' and hasPositions=${s.hasPositions}; " +
        s"the index has '$analyzer' and hasPositions=$hasPositions"))
    this
  }
}

object IndexMetaIO {

  /** On-disk segment format version, stamped into every commit snapshot.
    * Bump when the term-dict/postings layout changes (v2: per-term skip
    * tables + skipBytes in the term entry); readers of a mismatched index
    * must rebuild rather than mis-parse. */
  val FormatVersion = "2"

  /** One commit generation: `meta` plus what every commit carries unless its
    * writer changes it — the deletion generation (readers load each
    * segment's newest `del_<g>.bin` with g ≤ delGen; 0 = no deletes), the
    * last streaming batch applied (the exactly-once watermark) and the
    * segment format version. */
  final case class Snapshot(meta: IndexMeta, delGen: Int, streamBatch: Option[Long],
      format: String) {
    /** The generation the next delete batch writes its bitsets under. */
    def nextDelGen: Int = delGen + 1
  }

  // on-disk keys of the Snapshot fields
  private val DelGenKey = "delgen"
  private val StreamBatchKey = "lastStreamBatch"
  private val FormatKey = "format"

  def encodeSegment(m: SegmentMeta): Array[Byte] = {
    val w = new ByteWriter(128)
    w.writeVInt(m.segId)
    w.writeVLong(m.docBase)
    w.writeVInt(m.docCount)
    w.writeVLong(m.sumDocLength)
    w.writeVInt(m.termCount)
    w.writeVLong(m.postingCount)
    w.writeVLong(m.bytes)
    w.writeString(m.analyzer)
    w.writeByte(if (m.hasPositions) 1 else 0)
    w.writeByte(if (m.hasVectors) 1 else 0)
    w.writeByte(if (m.hasPayloads) 1 else 0)
    w.writeByte(if (m.hasUrls) 1 else 0)
    w.toArray
  }

  def decodeSegment(bytes: Array[Byte]): SegmentMeta = {
    val r = new ByteReader(bytes)
    SegmentMeta(r.readVInt(), r.readVLong(), r.readVInt(), r.readVLong(),
      r.readVInt(), r.readVLong(), r.readVLong(), r.readString(), r.readByte() == 1,
      r.remaining > 0 && r.readByte() == 1,
      r.remaining > 0 && r.readByte() == 1,
      r.remaining > 0 && r.readByte() == 1)
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def segmentJson(m: SegmentMeta): String =
    s"""{"segId":${m.segId},"docBase":${m.docBase},"docCount":${m.docCount},""" +
      s""""sumDocLength":${m.sumDocLength},"termCount":${m.termCount},""" +
      s""""postingCount":${m.postingCount},"bytes":${m.bytes},""" +
      s""""analyzer":${jsonStr(m.analyzer)},"hasPositions":${m.hasPositions},""" +
      s""""hasVectors":${m.hasVectors},"hasPayloads":${m.hasPayloads},""" +
      s""""hasUrls":${m.hasUrls}}"""

  /** The one commit path: writes the next generation holding `meta`, with
    * `delGen` and `streamBatch` where the writer sets them and the latest
    * generation's values where it does not, so a merge, a rebuild or an
    * unnumbered append cannot drop committed deletes or the watermark. The
    * format is carried too: a new index is stamped [[FormatVersion]], an
    * older one is never re-stamped as current. The generation is written as
    * human-readable lineage JSON + a binary twin (.segs) that readers load
    * authoritatively — so a crash BETWEEN a segment publish and its snapshot
    * cannot surface uncommitted segments to queries (the reference's
    * write-once segments_N semantics, SegmentInfos.cpp:226-289). */
  def commit(indexDir: String, meta: IndexMeta, delGen: Option[Int] = None,
      streamBatch: Option[Long] = None): Snapshot = {
    meta.requireUniform()
    val prior = readLatestSnapshot(indexDir)
    val snap = Snapshot(meta, delGen.getOrElse(prior.fold(0)(_.delGen)),
      streamBatch.orElse(prior.flatMap(_.streamBatch)), prior.fold(FormatVersion)(_.format))
    val extra = (Seq(FormatKey -> snap.format) ++
      Some(DelGenKey -> snap.delGen.toString).filter(_ => snap.delGen > 0) ++
      snap.streamBatch.map(b => StreamBatchKey -> b.toString)).sortBy(_._1)
    val commitsDir = new File(indexDir, "commits")
    commitsDir.mkdirs()
    val gen = 1 + listCommitGens(commitsDir).foldLeft(-1)(math.max)
    val body = new StringBuilder
    body ++= s"""{"analyzer":${jsonStr(meta.analyzer)},"numDocs":${meta.numDocs},"""
    body ++= s""""sumDocLength":${meta.sumDocLength},"hasPositions":${meta.hasPositions},"""
    extra.foreach { case (k, v) => body ++= s"""${jsonStr(k)}:${jsonStr(v)},""" }
    body ++= s""""segments":["""
    body ++= meta.segments.sortBy(_.segId).map(segmentJson).mkString(",")
    body ++= "]}"
    val segsBin = new ByteWriter(4096)
    segsBin.writeString(meta.analyzer)
    segsBin.writeVLong(meta.numDocs)
    segsBin.writeVLong(meta.sumDocLength)
    segsBin.writeByte(if (meta.hasPositions) 1 else 0)
    segsBin.writeVInt(extra.size)
    extra.foreach { case (k, v) => segsBin.writeString(k); segsBin.writeString(v) }
    segsBin.writeVInt(meta.segments.size)
    meta.segments.sortBy(_.segId).foreach { m =>
      val b = encodeSegment(m)
      segsBin.writeVInt(b.length)
      segsBin.writeBytes(b)
    }
    val tmpB = new File(commitsDir, s".commit_$gen.segs.tmp")
    Files.write(tmpB.toPath, segsBin.toArray)
    Files.move(tmpB.toPath, new File(commitsDir, s"commit_$gen.segs").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    val tmp = new File(commitsDir, s".commit_$gen.tmp")
    Files.writeString(tmp.toPath, body.toString)
    Files.move(tmp.toPath, new File(commitsDir, s"commit_$gen.json").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    snap
  }

  /** Read one commit generation's binary snapshot. */
  def readSnapshot(indexDir: String, gen: Int): Option[Snapshot] = {
    val f = new File(new File(indexDir, "commits"), s"commit_$gen.segs")
    if (!f.exists()) return None
    val r = new ByteReader(Files.readAllBytes(f.toPath))
    val analyzer = r.readString()
    r.readVLong() // numDocs and sumDocLength: sums over the segments
    r.readVLong()
    val hasPos = r.readByte() == 1
    val nExtra = r.readVInt()
    val extra = (0 until nExtra).map(_ => (r.readString(), r.readString())).toMap
    val n = r.readVInt()
    val segs = (0 until n).map { _ =>
      val len = r.readVInt()
      decodeSegment(r.readBytes(len))
    }
    Some(Snapshot(IndexMeta(analyzer, hasPos, segs),
      extra.get(DelGenKey).fold(0)(_.toInt),
      extra.get(StreamBatchKey).map(_.toLong),
      extra.getOrElse(FormatKey, "1"))) // written before the format stamp
  }

  def latestGen(indexDir: String): Option[Int] = {
    val gens = listCommitGens(new File(indexDir, "commits"))
    if (gens.isEmpty) None else Some(gens.max)
  }

  /** All commit generations on disk, ascending — the reference's
    * IndexReader::listCommits. Every listed generation is openable:
    * compaction purges the commit files whose snapshots reference the
    * segments it physically retires (Maintenance.compact), so history
    * truncates exactly where its files go. Only generations whose binary
    * `.segs` twin survives are listed: readers load the twin, and a
    * compaction that stops between purging a generation's two files
    * leaves its `.json` alone. */
  def commitGens(indexDir: String): Seq[Int] = {
    val cd = new File(indexDir, "commits")
    listCommitGens(cd)
      .filter(g => new File(cd, s"commit_$g.segs").exists())
      .sorted
  }

  private def listCommitGens(commitsDir: File): Seq[Int] = {
    val fs = Option(commitsDir.listFiles()).getOrElse(Array.empty)
    fs.toSeq.map(_.getName).collect {
      case n if n.startsWith("commit_") && n.endsWith(".json") =>
        n.stripPrefix("commit_").stripSuffix(".json").toInt
    }
  }

  /** Segments already committed on disk (task-level lineage), independent of
    * a driver snapshot — the resume source of truth. */
  def committedSegments(indexDir: String): Seq[SegmentMeta] = {
    val dir = new File(indexDir)
    val fs = Option(dir.listFiles()).getOrElse(Array.empty)
    fs.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("seg-") && !f.getName.contains(".tmp"))
      .flatMap { segDir =>
        val metaFile = new File(segDir, "meta.bin")
        if (metaFile.exists()) Some(decodeSegment(Files.readAllBytes(metaFile.toPath)))
        else None
      }
      .sortBy(_.segId)
  }

  /** Segments on disk that never made a commit are invisible here. */
  def readLatestSnapshot(indexDir: String): Option[Snapshot] =
    latestGen(indexDir).flatMap(readSnapshot(indexDir, _))

  def readLatest(indexDir: String): Option[IndexMeta] = readLatestSnapshot(indexDir).map(_.meta)
}
