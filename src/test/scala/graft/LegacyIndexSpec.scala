package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index._
import graft.score.BM25
import graft.search._

/** Indexes written by an older graft (`LegacyIndexes`, vendored bytes)
  * still open, check clean and search like the spec; an append adds a
  * current-layout segment beside their segments, and compaction rewrites
  * them all into one segment equal to a direct build of the same docs. */
class LegacyIndexSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def readers(dir: String): Seq[SegmentReader] =
    IndexMetaIO.readLatest(dir).get.segments.map(m =>
      new SegmentReader(new File(dir, SegmentFormat.segDirName(m.segId))))

  /** Term, OR, AND and (with positions) phrase queries over the corpus. */
  private def queries(docs: Seq[(Long, String)], analyzer: String, positions: Boolean): Seq[Query] = {
    val rnd = new scala.util.Random(16)
    val a = Analyzer.byName(analyzer)
    val toks = docs.map { case (_, t) => a.analyze(t).map(_.term).toVector }.filter(_.size >= 2)
    def term() = { val ts = toks(rnd.nextInt(toks.size)); TermQ(ts(rnd.nextInt(ts.size))) }
    (0 until 40).map { i =>
      i % 4 match {
        case 0 => term()
        case 1 => BoolQ(should = Seq.fill(3)(term()))
        case 2 => BoolQ(must = Seq(term(), term()))
        case _ =>
          val ts = toks(rnd.nextInt(toks.size))
          val at = rnd.nextInt(ts.size - 1)
          if (positions) PhraseQ(Seq(ts(at), ts(at + 1))) else BoolQ(should = Seq(term(), term()))
      }
    }
  }

  private def assertSearchesMatchSpec(dir: String, docs: Seq[(Long, String)],
      analyzer: String, positions: Boolean, ctx: String): Unit = {
    val corpus = BruteForce.analyzeCorpus(Analyzer.byName(analyzer), docs)
    ReaderCache.clear()
    for (q <- queries(docs, analyzer, positions); wand <- Seq(true, false)) {
      val engine = LocalIndex.search(dir, q, 10, BM25(), useWand = wand)
      val spec = BruteForce.search(corpus, q, 10, BM25())
      assert(engine.map(d => (d.docId, d.score)).toSeq == spec.map(d => (d.docId, d.score)).toSeq,
        s"$ctx wand=$wand q=$q")
    }
  }

  private def assertClean(dir: String, ctx: String): Unit = {
    ReaderCache.clear()
    val checks = Maintenance.checkIndex(spark, dir)
    assert(checks.nonEmpty && checks.forall(_.ok), s"$ctx: $checks")
  }

  for (canned <- LegacyIndexes.All) test(s"canned ${canned.name} index: opens, appends, compacts") {
    val docs = canned.docs
    val dir = canned.copyTo(tmpDir())
    val old = readers(dir)
    assert(old.size == 3 && old.forall(r => !r.meta.inlineSingletons && !r.meta.hasUrls))
    assert(old.forall(_.meta.hasPayloads == canned.storePayloads))
    assertClean(dir, "as written")
    assertSearchesMatchSpec(dir, docs, canned.analyzer, canned.storePositions, "as written")

    // merging only the old segments: a current-layout segment equal to a
    // direct build, payloads included
    val mergeDir = canned.copyTo(tmpDir())
    Maintenance.mergeSegments(mergeDir, Seq(0, 1, 2), newSegId = 3)
    val direct = tmpDir()
    canned.rebuild(direct, docsPerSegment = Int.MaxValue)
    val merged = new SegmentReader(new File(mergeDir, SegmentFormat.segDirName(3)))
    val single = new SegmentReader(new File(direct, SegmentFormat.segDirName(0)))
    assert(merged.meta.inlineSingletons && merged.meta.hasPayloads == canned.storePayloads)
    assert(LegacyIndexes.firstDifference(merged, single).isEmpty,
      LegacyIndexes.firstDifference(merged, single))
    for (f <- Seq("terms.bin", "terms.idx", "postings.bin", "norms.bin", "doclens.bin"))
      assert(java.util.Arrays.equals(
        Files.readAllBytes(new File(merged.dir, f).toPath),
        Files.readAllBytes(new File(single.dir, f).toPath)), s"$f differs after merge")

    // append: ten docs (urls order them) as one current-layout segment
    import spark.implicits._
    val added = docs.takeRight(10).map(_._2.split(" ").reverse.mkString(" "))
    graft.streaming.StreamingIndexer.appendBatch(spark,
      added.zipWithIndex.map { case (t, i) => (f"added-$i%02d", t) }.toDF("url", "text"), dir)
    val all = docs ++ added.zipWithIndex.map { case (t, i) => ((docs.size + i).toLong, t) }
    val appended = readers(dir)
    assert(appended.size == 4 && appended.take(3).forall(!_.meta.inlineSingletons))
    assert(appended.last.meta.inlineSingletons && appended.last.meta.docBase == docs.size)
    // the append takes the index's layout
    val m = appended.last.meta
    assert((m.analyzer, m.hasPositions, m.hasPayloads, m.hasVectors, m.hasUrls) ==
      (canned.analyzer, canned.storePositions, canned.storePayloads, false, false))
    assertClean(dir, "after append")
    assertSearchesMatchSpec(dir, all, canned.analyzer, canned.storePositions, "after append")

    // compact: one current-layout segment, equal to a direct build of all
    // 85 docs (the append stored payloads where the index has them, so the
    // merge keeps them)
    val compacted = Maintenance.compact(spark, dir, minDocs = 1000)
    assert(compacted.segments.size == 1 && compacted.segments.head.inlineSingletons)
    val allDirect = tmpDir()
    LocalIndex.build(allDirect, all, canned.analyzer, Int.MaxValue, canned.storePositions,
      storePayloads = canned.storePayloads)
    ReaderCache.clear()
    val one = readers(dir).head
    val want = readers(allDirect).head
    assert(LegacyIndexes.firstDifference(one, want).isEmpty, LegacyIndexes.firstDifference(one, want))
    assertClean(dir, "after compact")
    assertSearchesMatchSpec(dir, all, canned.analyzer, canned.storePositions, "after compact")
  }
}
