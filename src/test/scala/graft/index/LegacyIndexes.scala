package graft.index

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Indexes written by an older graft, vendored under
  * `src/test/resources/legacy/` with the corpora they were built from (see
  * the README there). Their segments predate every trailing meta.bin flag:
  * no urls, and one-doc terms keep a block in postings.bin. Each is three
  * segments of 30, 30 and 15 docs, built by `LocalIndex.build`. */
object LegacyIndexes {

  final case class Canned(name: String, corpusFile: String, analyzer: String,
      storePositions: Boolean, storePayloads: Boolean) {

    /** (docId, text), one doc per line of the corpus file. */
    def docs: Seq[(Long, String)] =
      resource(corpusFile).split("\n", -1).toSeq.dropRight(1).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }

    /** Copy the canned index into the empty directory `dir`; returns `dir`. */
    def copyTo(dir: String): String = {
      manifest.filter(_.startsWith(name + "/")).foreach { path =>
        val out = new File(dir, path.stripPrefix(name + "/"))
        out.getParentFile.mkdirs()
        Files.write(out.toPath, bytes(path))
      }
      dir
    }

    /** A fresh build of `docs` with this index's settings, in `dir`. */
    def rebuild(dir: String, docs: Seq[(Long, String)] = docs,
        docsPerSegment: Int = DocsPerSegment): IndexMeta =
      LocalIndex.build(dir, docs, analyzer, docsPerSegment, storePositions,
        storePayloads = storePayloads)
  }

  val DocsPerSegment = 30

  val All: Seq[Canned] = Seq(
    Canned("standard", "standard.txt", "standard", storePositions = true, storePayloads = false),
    Canned("standard-nopos", "standard.txt", "standard", storePositions = false, storePayloads = false),
    Canned("delimited", "delimited.txt", "delimited", storePositions = true, storePayloads = true))

  /** The first difference between two segments' contents — doc lengths,
    * norms, dictionary (terms and TermInfo stats), and every posting's doc,
    * freq, positions and payloads — or None when they hold the same index. */
  def firstDifference(a: SegmentReader, b: SegmentReader): Option[String] = {
    val (ma, mb) = (a.meta, b.meta)
    if ((ma.docCount, ma.termCount, ma.postingCount, ma.sumDocLength, ma.hasPositions, ma.hasPayloads) !=
        (mb.docCount, mb.termCount, mb.postingCount, mb.sumDocLength, mb.hasPositions, mb.hasPayloads))
      return Some(s"segment stats differ: $ma vs $mb")
    if (!a.doclens.sameElements(b.doclens)) return Some("doclens differ")
    if (!a.norms.sameElements(b.norms)) return Some("norms differ")
    val (ta, tb) = (a.allTerms.toVector, b.allTerms.toVector)
    if (ta.map(_.term) != tb.map(_.term)) return Some("term lists differ")
    ta.zip(tb).foreach { case (x, y) =>
      if ((x.df, x.maxFreq, x.minDlByte, x.minDl) != (y.df, y.maxFreq, y.minDlByte, y.minDl))
        return Some(s"TermInfo stats differ: $x vs $y")
      val (pa, pb) = (postingsOf(a, x), postingsOf(b, y))
      if (pa != pb) return Some(s"postings of '${x.term}' differ: $pa vs $pb")
    }
    None
  }

  /** Every posting of `ti`: (doc, freq, positions, payloads). */
  def postingsOf(r: SegmentReader, ti: TermInfo): Seq[(Int, Int, Seq[Int], Seq[Option[Seq[Byte]]])] = {
    val pi = r.postings(ti, needPositions = r.meta.hasPositions)
    val out = Seq.newBuilder[(Int, Int, Seq[Int], Seq[Option[Seq[Byte]]])]
    while (pi.nextDoc() != SegmentFormat.NoMoreDocs) {
      val ps = if (r.meta.hasPositions) pi.positions().toSeq else Nil
      val pays = if (r.meta.hasPayloads) pi.payloads().toSeq.map(p => Option(p).map(_.toSeq)) else Nil
      out += ((pi.docID, pi.freq, ps, pays))
    }
    out.result()
  }

  private def manifest: Seq[String] = resource("MANIFEST").split("\n").toSeq.filter(_.nonEmpty)

  private def bytes(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/legacy/$path")
    require(in != null, s"missing test resource legacy/$path")
    try in.readAllBytes() finally in.close()
  }

  private def resource(path: String): String = new String(bytes(path), StandardCharsets.UTF_8)
}
