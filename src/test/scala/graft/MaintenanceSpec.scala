package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.SyntheticCorpus
import graft.index._
import graft.score.BM25
import graft.search.{BoolQ, IndexSearcher, TermQ}

class MaintenanceSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def texts(n: Int) = SyntheticCorpus.localPages(n, seed = 21, avgLen = 25, vocab = 60).map(_.text)

  test("checkIndex passes on a fresh index and catches corruption") {
    val dir = tmpDir()
    LocalIndex.build(dir, texts(120).zipWithIndex.map { case (t, i) => (i.toLong, t) },
      "standard", docsPerSegment = 40)
    val checks = Maintenance.checkIndex(spark, dir)
    assert(checks.size == 3 && checks.forall(_.ok), checks)

    // corrupt one segment's norms
    val normsFile = new File(dir, SegmentFormat.segDirName(1) + "/norms.bin")
    Files.write(normsFile.toPath, Array.fill[Byte](7)(1))
    graft.search.ReaderCache.clear()
    val checks2 = Maintenance.checkIndex(spark, dir)
    assert(checks2.count(!_.ok) == 1, checks2)

    // stored urls: three segments of 70, 70 and 60 docs, two restart points
    // each; then truncate segment 1's urls.bin
    import spark.implicits._
    val pages = SyntheticCorpus.localPages(200, seed = 21, avgLen = 25, vocab = 60)
    val udir = tmpDir()
    IndexBuilder.build(spark, pages.map(p => (p.url, p.text)).toDF("url", "text"),
      IndexConfig(udir, docsPerSegment = 70))
    assert(Maintenance.checkIndex(spark, udir).forall(_.ok))
    assert(new IndexSearcher(spark, udir).urls(0L until 200L) ==
      pages.map(_.url).sorted.map(Some(_)))
    val urlsFile = new File(udir, SegmentFormat.segDirName(1) + "/urls.bin")
    val bytes = Files.readAllBytes(urlsFile.toPath)
    Files.write(urlsFile.toPath, java.util.Arrays.copyOf(bytes, bytes.length - 3))
    graft.search.ReaderCache.clear()
    val checks3 = Maintenance.checkIndex(spark, udir)
    assert(checks3.filterNot(_.ok).map(_.segId) == Seq(1), checks3)
  }

  test("merged segment files are byte-identical to a direct single-segment build") {
    val ts = texts(90)
    val docs = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val multi = tmpDir()
    val single = tmpDir()
    LocalIndex.build(multi, docs, "standard", docsPerSegment = 30)
    LocalIndex.build(single, docs, "standard", docsPerSegment = Int.MaxValue)

    val merged = Maintenance.mergeSegments(multi, Seq(0, 1, 2), newSegId = 3)
    assert(merged.docCount == 90)
    for (f <- Seq("terms.bin", "postings.bin", "norms.bin", "doclens.bin", "terms.idx")) {
      val a = Files.readAllBytes(new File(multi, SegmentFormat.segDirName(3) + "/" + f).toPath)
      val b = Files.readAllBytes(new File(single, SegmentFormat.segDirName(0) + "/" + f).toPath)
      assert(java.util.Arrays.equals(a, b), s"$f differs after merge")
    }
  }

  test("duplicate merge attempts never unpublish a live segment; del bitset rides the publish rename") {
    val ts = texts(90)
    val docs = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val dir = tmpDir()
    LocalIndex.build(dir, docs, "standard", docsPerSegment = 30) // segs 0,1,2

    // tombstone doc 5 at the committed generation (LocalIndex commits delgen 0)
    val bits = new java.util.BitSet(30); bits.set(5)
    SegmentFormat.writeDeletes(new File(dir, SegmentFormat.segDirName(0)), bits, 0)

    val m1 = Maintenance.mergeSegments(dir, Seq(0, 1, 2), newSegId = 3)
    val seg3 = new File(dir, SegmentFormat.segDirName(3))
    // the carried bitset was published INSIDE the same rename as the segment
    assert(new File(seg3, SegmentFormat.delFileName(0)).exists())
    val r3 = new SegmentReader(seg3, delGenBound = 0)
    assert(r3.deleted(5) && !r3.deleted(6))

    // a zombie/speculative duplicate attempt publishes identical output:
    // first-attempt-wins — the live dir must NOT be deleted-and-republished
    val watched = Seq("meta.bin", "postings.bin", "terms.bin", SegmentFormat.delFileName(0))
    val mtimes = watched.map(f => Files.getLastModifiedTime(new File(seg3, f).toPath))
    Thread.sleep(25)
    val m2 = Maintenance.mergeSegments(dir, Seq(0, 1, 2), newSegId = 3)
    assert(m2 == m1)
    assert(watched.map(f => Files.getLastModifiedTime(new File(seg3, f).toPath)) == mtimes,
      "duplicate attempt rewrote a live segment")
    // no attempt tmp dirs left behind
    assert(!new File(dir).listFiles().exists(_.getName.contains(".tmp")))

    // a DIFFERENT prior under the same segId is stale -> replaced
    val p1 = Maintenance.mergeSegments(dir, Seq(0, 1), newSegId = 4)
    assert(p1.docCount == 60)
    val p2 = Maintenance.mergeSegments(dir, Seq(0, 1, 2), newSegId = 4)
    assert(p2.docCount == 90)
    val r4 = new SegmentReader(new File(dir, SegmentFormat.segDirName(4)), delGenBound = 0)
    assert(r4.meta.docCount == 90 && r4.deleted(5))
  }

  test("compaction of streaming mini-segments preserves query results") {
    import spark.implicits._
    val dir = tmpDir()
    val ts = texts(60)
    // ingest as 6 tiny batches -> 6 segments
    ts.grouped(10).zipWithIndex.foreach { case (g, b) =>
      val df = g.zipWithIndex.map { case (t, i) => (f"u${b * 10 + i}%04d", t) }.toDF("url", "text")
      graft.streaming.StreamingIndexer.appendBatch(spark, df, dir, docsPerSegment = 1 << 20, batchId = b)
    }
    val before = new IndexSearcher(spark, dir)
    assert(before.meta.segments.size == 6)
    val q = BoolQ(should = Seq(TermQ("w1"), TermQ("w7")))
    val hitsBefore = before.search(q, 10, BM25())

    val after = Maintenance.compact(spark, dir, minDocs = 100)
    assert(after.segments.size == 1, after.segments)
    graft.search.ReaderCache.clear()
    val hitsAfter = new IndexSearcher(spark, dir).search(q, 10, BM25())
    assert(hitsAfter.toSeq == hitsBefore.toSeq)
    assert(Maintenance.checkIndex(spark, dir).forall(_.ok))
  }

  test("term vectors: stored per doc, match analysis, survive merge") {
    val ts = texts(90)
    val docs = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val dir = tmpDir()
    LocalIndex.build(dir, docs, "standard", docsPerSegment = 30, storeTermVectors = true)
    val bf = graft.search.BruteForce.analyzeCorpus(graft.analysis.StandardAnalyzer(), docs)

    def check(reader: SegmentReader, localDoc: Int, globalDoc: Int): Unit = {
      val vec = reader.termVector(localDoc).get
      val expected = bf(globalDoc).termPositions.toSeq.sortBy(_._1)
      assert(vec.map(_._1) == expected.map(_._1), s"doc $globalDoc terms")
      vec.zip(expected).foreach { case ((t, f, ps), (et, eps)) =>
        assert(f == eps.length, s"doc $globalDoc term $t freq")
        assert(ps.toSeq == eps.toSeq, s"doc $globalDoc term $t positions")
      }
    }
    val r1 = new SegmentReader(new File(dir, SegmentFormat.segDirName(1)))
    assert(r1.meta.hasVectors)
    (0 until 30).foreach(i => check(r1, i, 30 + i))

    // merge keeps vectors with rebased doc ids
    Maintenance.mergeSegments(dir, Seq(0, 1, 2), newSegId = 3)
    val rm = new SegmentReader(new File(dir, SegmentFormat.segDirName(3)))
    assert(rm.meta.hasVectors)
    (0 until 90 by 7).foreach(i => check(rm, i, i))

    // distributed invert-mode build stores the same vectors
    val corpus = SyntheticCorpus.generate(spark, 128, seed = 21, avgLen = 25, vocab = 60)
    val ddir = tmpDir()
    IndexBuilder.build(spark, corpus,
      IndexConfig(ddir, docsPerSegment = 64, writeDocMap = false, storeTermVectors = true))
    val pages = SyntheticCorpus.localPages(128, seed = 21, avgLen = 25, vocab = 60).sortBy(_.url)
    val bfd = graft.search.BruteForce.analyzeCorpus(graft.analysis.StandardAnalyzer(),
      pages.zipWithIndex.map { case (p, i) => (i.toLong, p.text) })
    val rd = new SegmentReader(new File(ddir, SegmentFormat.segDirName(1)))
    val vec = rd.termVector(5).get
    val exp = bfd(64 + 5).termPositions.toSeq.sortBy(_._1)
    assert(vec.map(_._1) == exp.map(_._1))
    assert(vec.map(_._3.toSeq) == exp.map(_._2.toSeq))
  }

  test("multi-group compaction runs distributed and respects the merge factor") {
    import spark.implicits._
    val dir = tmpDir()
    val ts = texts(100)
    // 10 tiny batches -> 10 adjacent 10-doc segments
    ts.grouped(10).zipWithIndex.foreach { case (g, b) =>
      val df = g.zipWithIndex.map { case (t, i) => (f"u${b * 10 + i}%04d", t) }.toDF("url", "text")
      graft.streaming.StreamingIndexer.appendBatch(spark, df, dir, docsPerSegment = 1 << 20, batchId = b)
    }
    val before = new IndexSearcher(spark, dir)
    assert(before.meta.segments.size == 10)
    val q = BoolQ(should = Seq(TermQ("w1"), TermQ("w7")))
    val hitsBefore = before.search(q, 10, BM25())

    // mergeFactor 3: run of 10 chunks BALANCED to [3,3,2,2] -> four merges
    // through the one-task-per-group parallelize path; every segment of the
    // run compacts in ONE pass (plain grouped() would strand a size-1 tail)
    val after = Maintenance.compact(spark, dir, minDocs = 100, maxGroupSegments = 3)
    assert(after.segments.map(_.docCount).sorted == Seq(20, 20, 30, 30), after.segments)
    graft.search.ReaderCache.clear()
    val hitsAfter = new IndexSearcher(spark, dir).search(q, 10, BM25())
    assert(hitsAfter.toSeq == hitsBefore.toSeq)
    assert(Maintenance.checkIndex(spark, dir).forall(_.ok))
    // a second pass with an ample factor merges the merged tier down to one
    val again = Maintenance.compact(spark, dir, minDocs = 100)
    assert(again.segments.size == 1, again.segments)
    graft.search.ReaderCache.clear()
    assert(new IndexSearcher(spark, dir).search(q, 10, BM25()).toSeq == hitsBefore.toSeq)
  }

  test("compaction purges exactly the commit points that reference retired segments") {
    import spark.implicits._
    val dir = tmpDir()
    val ts = texts(60)
    ts.grouped(20).zipWithIndex.foreach { case (g, b) =>
      val df = g.zipWithIndex.map { case (t, i) => (f"u${b * 20 + i}%04d", t) }.toDF("url", "text")
      graft.streaming.StreamingIndexer.appendBatch(spark, df, dir, docsPerSegment = 1 << 20, batchId = b)
    }
    val gensBefore = IndexMetaIO.commitGens(dir)
    assert(gensBefore.size == 3) // one commit per append
    Maintenance.compact(spark, dir, minDocs = 100)
    // every pre-compact commit referenced at least one retired segment, so
    // only the compaction's own commit may remain listed...
    val gensAfter = IndexMetaIO.commitGens(dir)
    assert(gensAfter.size == 1 && !gensBefore.contains(gensAfter.head),
      s"before=$gensBefore after=$gensAfter")
    // ...and EVERY advertised generation actually opens (the listed-but-
    // unreadable point-in-time gap this purge closes)
    graft.search.ReaderCache.clear()
    gensAfter.foreach { g =>
      val s = new IndexSearcher(spark, dir, Some(g))
      assert(s.search(BoolQ(should = Seq(TermQ("w1"))), 5, BM25()).nonEmpty)
    }
    // a post-compact append's commit references no retired segment and
    // stays openable alongside the compaction commit
    graft.streaming.StreamingIndexer.appendBatch(spark,
      Seq(("zzz1", "w1 fresh tail")).toDF("url", "text"), dir,
      docsPerSegment = 1 << 20, batchId = 99)
    val gensFinal = IndexMetaIO.commitGens(dir)
    assert(gensFinal.size == 2 && gensFinal.head == gensAfter.head)
    graft.search.ReaderCache.clear()
    gensFinal.foreach(g => new IndexSearcher(spark, dir, Some(g)))
  }

  test("build resume after compaction does not double-index merged ranges") {
    val dir = tmpDir()
    val corpus = SyntheticCorpus.generate(spark, 256, seed = 33, avgLen = 25, vocab = 80)
    val first = IndexBuilder.build(spark, corpus,
      IndexConfig(dir, docsPerSegment = 64, writeDocMap = false))
    assert(first.builtSegments == 4)

    // compact everything into one fresh-segId segment covering all 4 ranges
    val compacted = Maintenance.compact(spark, dir, minDocs = 1000)
    assert(compacted.segments.size == 1)
    graft.search.ReaderCache.clear()
    val q = BoolQ(should = Seq(TermQ("w1"), TermQ("w7")))
    val hitsBefore = new IndexSearcher(spark, dir).search(q, 10, BM25())

    // a re-run over the same corpus must resume: nothing rebuilt, no
    // overlapping doc ranges, identical results
    val resumed = IndexBuilder.build(spark, corpus,
      IndexConfig(dir, docsPerSegment = 64, writeDocMap = false))
    assert(resumed.builtSegments == 0, resumed)
    assert(resumed.resumedSegments == 1, resumed)
    assert(resumed.meta.numDocs == 256, resumed.meta)
    val spans = resumed.meta.segments.map(s => (s.docBase, s.docBase + s.docCount)).sorted
    spans.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 <= b._1, s"overlapping ranges: $a $b")
      case _ =>
    }
    graft.search.ReaderCache.clear()
    val hitsAfter = new IndexSearcher(spark, dir).search(q, 10, BM25())
    assert(hitsAfter.toSeq == hitsBefore.toSeq)
    assert(Maintenance.checkIndex(spark, dir).forall(_.ok))
  }
}
