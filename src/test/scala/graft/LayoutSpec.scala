package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index._
import graft.score.PayloadDecodingSimilarity
import graft.search._
import graft.streaming.StreamingIndexer

/** One segment layout per index: an append, a merge and a re-run build give
  * every new segment the layout the index asks for — analyzer, positions,
  * term vectors, payloads and urls — and the result equals a direct build
  * with that layout. */
class LayoutSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // 75 docs with "term|weight" payloads on most tokens
  private lazy val docs: Seq[(Long, String)] = LegacyIndexes.All.find(_.name == "delimited").get.docs

  /** `ds` as a corpus whose url order is docId order. */
  private def corpus(ds: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    ds.map { case (i, t) => (f"d$i%03d", t) }.toDF("url", "text")
  }

  private def readers(dir: String): Seq[SegmentReader] =
    IndexMetaIO.readLatest(dir).get.segments.map(m =>
      new SegmentReader(new File(dir, SegmentFormat.segDirName(m.segId))))

  private def localBuild(cfg: IndexConfig, docsPerSegment: Int): String = {
    val dir = tmpDir()
    LocalIndex.build(dir, docs, cfg.analyzer, docsPerSegment, cfg.storePositions,
      cfg.storeTermVectors, cfg.storePayloads)
    dir
  }

  /** Segment files a direct build writes, equal byte for byte. */
  private def assertSameFiles(a: SegmentReader, b: SegmentReader, ctx: String): Unit = {
    assert(LegacyIndexes.firstDifference(a, b).isEmpty, s"$ctx: ${LegacyIndexes.firstDifference(a, b)}")
    for (f <- b.dir.list() if f != "meta.bin")
      assert(java.util.Arrays.equals(Files.readAllBytes(new File(a.dir, f).toPath),
        Files.readAllBytes(new File(b.dir, f).toPath)), s"$ctx: $f differs")
  }

  /** Builds the first 50 docs with `cfg`, appends the other 25 with no
    * layout arguments (every segment must then have `cfg`'s layout), runs
    * `whileSplit` on it and a direct build of all docs, and compacts it
    * to one segment equal to that direct build. */
  private def appendThenCompact(layout: String => IndexConfig)(whileSplit: (String, String) => Unit): Unit = {
    val dir = tmpDir()
    val cfg = layout(dir)
    IndexBuilder.build(spark, corpus(docs.take(50)), cfg)
    StreamingIndexer.appendBatch(spark, corpus(docs.drop(50)), dir, docsPerSegment = cfg.docsPerSegment)
    val segs = IndexMetaIO.readLatest(dir).get.segments
    assert(segs.size == 5 && segs.forall(cfg.matches), segs.mkString("\n"))
    val direct = localBuild(cfg, Int.MaxValue)
    ReaderCache.clear()
    whileSplit(dir, direct)

    val compacted = Maintenance.compact(spark, dir, minDocs = 1000).segments
    assert(compacted.size == 1 && cfg.matches(compacted.head), compacted)
    assert(Maintenance.checkIndex(spark, dir).forall(_.ok))
    assertSameFiles(readers(dir).head, readers(direct).head, "compacted")
  }

  test("an append to a payload index stores payloads; compaction keeps them") {
    val terms = docs.drop(50).flatMap { case (_, t) =>
      Analyzer.byName("delimited").analyze(t).filter(_.payload != null).map(_.term).toSeq
    }.distinct.take(12)
    assert(terms.size == 12)
    appendThenCompact(IndexConfig(_, analyzer = "delimited", docsPerSegment = 20,
      writeDocMap = false, storePayloads = true)) { (dir, direct) =>
      val searcher = new IndexSearcher(spark, dir)
      for (t <- terms; fn <- Seq(MaxPayloadFunction, AvgPayloadFunction); inc <- Seq(true, false)) {
        val q = PayloadTermQ(t, fn, inc)
        val engine = searcher.search(q, 100, PayloadDecodingSimilarity())
        val want = LocalIndex.search(direct, q, 100, PayloadDecodingSimilarity())
        assert(engine.map(h => (h.docId, h.score)).toSeq == want.map(h => (h.docId, h.score)).toSeq, q)
        assert(engine.exists(_.docId >= 50), q)
      }
    }
  }

  test("an append to a term-vector index stores term vectors; compaction keeps them") {
    appendThenCompact(IndexConfig(_, analyzer = "delimited", docsPerSegment = 20,
      writeDocMap = false, storeTermVectors = true)) { (dir, direct) =>
      def vector(r: SegmentReader, d: Int) = r.termVector(d).map(_.map { case (t, f, ps) => (t, f, ps.toSeq) })
      val whole = readers(direct).head
      for (r <- readers(dir); d <- 0 until r.meta.docCount) {
        val id = (r.meta.docBase + d).toInt
        assert(vector(r, d).isDefined && vector(r, d) == vector(whole, id), s"doc $id")
      }
    }
  }

  test("a re-run build with payloads or term vectors flipped rewrites every segment") {
    val flips: Seq[(String, IndexConfig => IndexConfig)] = Seq(
      "payloads" -> (c => c.copy(storePayloads = !c.storePayloads)),
      "term vectors" -> (c => c.copy(storeTermVectors = !c.storeTermVectors)))
    for ((what, flip) <- flips; flipFirst <- Seq(false, true)) {
      val dir = tmpDir()
      val base = IndexConfig(dir, analyzer = "delimited", docsPerSegment = 20, writeDocMap = false)
      val before = if (flipFirst) flip(base) else base
      val after = flip(before)
      val ctx = s"$what flipped, flipFirst=$flipFirst"
      IndexBuilder.build(spark, corpus(docs), before)
      val report = IndexBuilder.build(spark, corpus(docs), after)
      assert(report.resumedSegments == 0 && report.builtSegments == 4, s"$ctx: $report")
      ReaderCache.clear()
      val direct = localBuild(after, after.docsPerSegment)
      readers(dir).zip(readers(direct)).foreach { case (a, b) =>
        assert(after.matches(a.meta), s"$ctx: ${a.meta}")
        assertSameFiles(a, b, s"$ctx, segment ${a.meta.segId}")
      }
      // the same layout again resumes every segment
      assert(IndexBuilder.build(spark, corpus(docs), after).resumedSegments == 4, ctx)
    }
  }

  test("mergeSegments refuses inputs whose analyzer or positions differ") {
    for ((analyzer, positions) <- Seq(("standard", true), ("delimited", false))) {
      val dir = tmpDir()
      val other = tmpDir()
      LocalIndex.build(dir, docs.take(40), "delimited", docsPerSegment = 20)
      LocalIndex.build(other, docs.take(40), analyzer, docsPerSegment = 20, storePositions = positions)
      // segment 1 of `dir` becomes the other layout's segment 1
      val seg1 = new File(dir, SegmentFormat.segDirName(1))
      seg1.listFiles().foreach(_.delete())
      new File(other, SegmentFormat.segDirName(1)).listFiles().foreach(f =>
        Files.copy(f.toPath, new File(seg1, f.getName).toPath))
      intercept[IllegalArgumentException](Maintenance.mergeSegments(dir, Seq(0, 1), newSegId = 2))
      assert(!new File(dir, SegmentFormat.segDirName(2)).exists(), s"$analyzer, positions=$positions")
    }
  }
}
