package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexBuilder, IndexConfig, IndexMetaIO, Maintenance}
import graft.score.BM25
import graft.search._

/** Deletes — the reference's .del BitVector semantics re-expressed
  * (/root/reference/src/core/util/BitVector.cpp; SegmentReader loads the
  * bitset at open, deleted docs vanish from every result, space is
  * reclaimed at merge, readers are point-in-time). Tombstone model: docIDs
  * stay stable (url ranks), so no docmap rewrite. */
class DeleteSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def buildIndex(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = tmpDir()
    val df = texts.zipWithIndex.map { case (t, i) => (f"u$i%05d", t) }.toDF("url", "text")
    IndexBuilder.build(spark, df, IndexConfig(dir, analyzer = "whitespace",
      docsPerSegment = 4, writeDocMap = false))
    dir
  }

  test("delete by query: excluded from topk/wand/match; point-in-time readers; reclaim at merge") {
    val texts = (0 until 20).map { i =>
      val tag = if (i % 3 == 0) "redink" else "keepme"
      s"$tag common w$i payloadless"
    }
    val dir = buildIndex(texts)
    ReaderCache.clear()

    val s1 = new IndexSearcher(spark, dir)
    val beforeHits = s1.search(TermQ("redink"), 20, BM25())
    assert(beforeHits.length == 7) // i = 0,3,6,9,12,15,18
    val keepBefore = s1.search(TermQ("keepme"), 20, BM25())

    // delete all 'redink' docs
    val deleted = s1.deleteDocs(TermQ("redink"))
    assert(deleted == 7)
    // idempotent: deleting again removes nothing new
    val s2 = new IndexSearcher(spark, dir)
    assert(s2.deleteDocs(TermQ("redink")) == 0)

    // a NEWLY opened searcher sees the deletes, on both scorer paths
    val s3 = new IndexSearcher(spark, dir)
    assert(s3.search(TermQ("redink"), 20, BM25(), useWand = false).isEmpty)
    assert(s3.search(TermQ("redink"), 20, BM25(), useWand = true).isEmpty)
    assert(s3.matchingDocs(TermQ("redink")).count() == 0)
    // 'common' matches only the live docs now
    assert(s3.matchingDocs(TermQ("common")).count() == 13)
    assert(s3.liveDocCount() == 13)
    // scoring stats keep counting tombstones until merge (reference
    // semantics): surviving docs' scores are unchanged
    val keepAfter = s3.search(TermQ("keepme"), 20, BM25())
    assert(keepAfter.toSeq == keepBefore.toSeq)

    // the ORIGINAL searcher is a point-in-time snapshot: still sees them
    assert(s1.search(TermQ("redink"), 20, BM25()).length == 7)

    // WAND over a mixed disjunction never returns a tombstoned doc
    val mix = s3.search(BoolQ(should = Seq(TermQ("redink"), TermQ("keepme"))), 20, BM25())
    assert(mix.map(_.docId).toSet == keepAfter.map(_.docId).toSet)

    // merge reclaims: postings of deleted docs dropped, df updated,
    // id slots preserved, checkIndex green
    val metaBefore = graft.index.IndexMetaIO.readLatest(dir).get
    Maintenance.compact(spark, dir, Int.MaxValue)
    ReaderCache.clear()
    val metaAfter = graft.index.IndexMetaIO.readLatest(dir).get
    assert(metaAfter.numDocs == metaBefore.numDocs) // slots stay
    assert(metaAfter.sumDocLength < metaBefore.sumDocLength) // content gone
    val s4 = new IndexSearcher(spark, dir)
    assert(s4.search(TermQ("redink"), 20, BM25()).isEmpty)
    assert(s4.globalDf(Set("redink", "common")) ==
      Map("common" -> 13L)) // fully-deleted term vanishes from the dict
    assert(s4.matchingDocs(TermQ("common")).count() == 13)
    val checks = Maintenance.checkIndex(spark, dir)
    assert(checks.forall(_.ok), checks.filterNot(_.ok).toString)
  }

  test("re-running a complete build keeps the committed deletes") {
    import spark.implicits._
    val dir = tmpDir()
    val df = (0 until 12).map { i =>
      (f"u$i%05d", s"${if (i % 3 == 0) "redink" else "keepme"} common w$i")
    }.toDF("url", "text")
    val cfg = IndexConfig(dir, analyzer = "whitespace", docsPerSegment = 4, writeDocMap = false)
    IndexBuilder.build(spark, df, cfg)
    ReaderCache.clear()
    assert(new IndexSearcher(spark, dir).deleteDocs(TermQ("redink")) == 4)
    val live = new IndexSearcher(spark, dir).liveDocCount()
    assert(live == 8)

    // the second build resumes every segment and builds none; its commit
    // must still carry the deletion generation
    val again = IndexBuilder.build(spark, df, cfg)
    assert(again.resumedSegments == 3 && again.builtSegments == 0)
    ReaderCache.clear()
    val s = new IndexSearcher(spark, dir)
    assert(s.search(TermQ("redink"), 20, BM25()).isEmpty)
    assert(s.matchingDocs(TermQ("redink")).count() == 0)
    assert(s.liveDocCount() == live)
  }

  test("two delete batches through the SAME searcher instance accumulate (no lost update)") {
    // the r3 bug: the searcher's reader-cache key is pinned to its
    // open-time delGen, so batch 2 seeded its OR from the cached
    // pre-batch-1 bitset and writeDeletes silently resurrected batch 1's
    // tombstones. The fix seeds from the current on-disk del.bin.
    val texts = Seq("aa x", "bb x", "cc x", "aa bb x", "dd x")
    val dir = buildIndex(texts)
    ReaderCache.clear()
    val s1 = new IndexSearcher(spark, dir)
    assert(s1.deleteDocs(TermQ("aa")) == 2) // docs 0, 3
    assert(s1.deleteDocs(TermQ("cc")) == 1) // doc 2 — same instance, no reopen
    val s2 = new IndexSearcher(spark, dir)
    assert(s2.liveDocCount() == 2)
    assert(s2.matchingDocs(TermQ("x")).count() == 2)
    assert(s2.search(TermQ("x"), 10, BM25()).map(_.docId).toSet == Set(1L, 4L))
  }

  test("compact carries dead slots into the merged del bitset: MatchAll/value-source stay clean") {
    val texts = Seq("aa x", "bb x", "cc x", "aa bb x", "dd x", "ee x")
    val dir = buildIndex(texts)
    ReaderCache.clear()
    val s1 = new IndexSearcher(spark, dir)
    assert(s1.deleteDocs(TermQ("aa")) == 2) // docs 0, 3
    Maintenance.compact(spark, dir, Int.MaxValue)
    ReaderCache.clear()
    val s2 = new IndexSearcher(spark, dir)
    // MatchAllScorer iterates 0..docCount — before the fix the merged
    // segment dropped its del bitset and the dead slots reappeared here
    assert(s2.matchingDocs(MatchAllQ).count() == 4)
    assert(s2.matchingDocs(ValueSourceQ(DocLenVS)).count() == 4)
    assert(s2.search(MatchAllQ, 10, BM25()).map(_.docId).toSet == Set(1L, 2L, 4L, 5L))
    assert(s2.liveDocCount() == 4)
    val checks = Maintenance.checkIndex(spark, dir)
    assert(checks.forall(_.ok), checks.filterNot(_.ok).toString)
  }

  test("delete accumulates across batches and composite queries") {
    val texts = Seq("aa x", "bb x", "cc x", "aa bb x", "dd x")
    val dir = buildIndex(texts)
    ReaderCache.clear()
    val s1 = new IndexSearcher(spark, dir)
    assert(s1.deleteDocs(TermQ("aa")) == 2)
    val s2 = new IndexSearcher(spark, dir)
    assert(s2.deleteDocs(PhraseQ(Seq("bb", "x"))) == 1) // doc 1 only (doc 3 already dead)
    val s3 = new IndexSearcher(spark, dir)
    assert(s3.liveDocCount() == 2)
    assert(s3.matchingDocs(TermQ("x")).count() == 2)
    assert(s3.search(TermQ("x"), 10, BM25()).map(_.docId).toSet == Set(2L, 4L))
  }

  test("streaming append after deletes preserves the deletion generation") {
    import spark.implicits._
    val texts = Seq("gone x", "stay x", "gone x y", "stay y")
    val dir = buildIndex(texts)
    ReaderCache.clear()
    val s1 = new IndexSearcher(spark, dir)
    assert(s1.deleteDocs(TermQ("gone")) == 2)
    // an NRT append commits a new snapshot; the delgen must survive it
    graft.streaming.StreamingIndexer.appendBatch(spark,
      Seq(("zzz-new", "fresh x")).toDF("url", "text"),
      dir, analyzer = "whitespace", docsPerSegment = 4, batchId = 0)
    val s2 = new IndexSearcher(spark, dir)
    assert(s2.meta.numDocs == 5)
    assert(s2.search(TermQ("gone"), 10, graft.score.BM25()).isEmpty)
    assert(s2.matchingDocs(TermQ("x")).count() == 2) // "stay x" + the fresh doc
    assert(s2.liveDocCount() == 3)
  }

  test("updateDocuments: delete-by-query + append in ONE commit; new docs not re-deleted") {
    import spark.implicits._
    val texts = Seq("version one alpha", "version one beta", "other gamma")
    val dir = buildIndex(texts)
    ReaderCache.clear()
    def commitCount() = new java.io.File(dir, "commits").listFiles()
      .count(f => f.getName.startsWith("commit_") && f.getName.endsWith(".json"))
    val commitsBefore = commitCount()

    // replace both 'one' docs with fresh docs that THEMSELVES contain 'one'
    graft.streaming.StreamingIndexer.updateDocuments(spark, dir,
      TermQ("one"),
      Seq(("zz-a", "version one alpha prime"), ("zz-b", "version one beta prime"))
        .toDF("url", "text"),
      analyzer = "whitespace", docsPerSegment = 4)

    assert(commitCount() == commitsBefore + 1) // deletes + adds, one snapshot

    val s = new IndexSearcher(spark, dir)
    assert(s.meta.numDocs == 5)
    assert(s.liveDocCount() == 3)
    // the replacements match 'one' but are NOT tombstoned; the originals are
    assert(s.search(TermQ("one"), 10, graft.score.BM25()).map(_.docId).toSet == Set(3L, 4L))
    assert(s.matchingDocs(TermQ("prime")).count() == 2)
    assert(s.matchingDocs(TermQ("gamma")).count() == 1)
    assert(s.search(TermQ("alpha"), 10, graft.score.BM25()).map(_.docId).toSet == Set(3L))

    // update with an empty add side still publishes the delete snapshot
    graft.streaming.StreamingIndexer.updateDocuments(spark, dir,
      TermQ("gamma"), Seq.empty[(String, String)].toDF("url", "text"),
      analyzer = "whitespace", docsPerSegment = 4)
    val s2 = new IndexSearcher(spark, dir)
    assert(s2.matchingDocs(TermQ("gamma")).count() == 0)
    assert(s2.liveDocCount() == 2)
  }

  test("uncommitted delete generations are invisible until their commit lands") {
    val texts = Seq("doomed x", "stay x", "doomed y", "stay y")
    val dir = buildIndex(texts)
    ReaderCache.clear()

    // the delete half of an update WITHOUT its commit — the on-disk state a
    // crash mid-updateDocuments leaves behind (generational del_1.bin files
    // exist, but the committed snapshot still says delgen=0)
    val s1 = new IndexSearcher(spark, dir)
    assert(s1.deleteDocs(TermQ("doomed"), commit = false) == 2)

    // a fresh searcher opens the committed snapshot: the orphan generation
    // must NOT be selected (reference commit-referenced .del semantics)
    ReaderCache.clear()
    val mid = new IndexSearcher(spark, dir)
    assert(mid.search(TermQ("doomed"), 10, BM25()).length == 2)
    assert(mid.liveDocCount() == 4)

    // the retry seeds from the committed (empty) bitset, recomputes the
    // same generation, atomically replaces the orphans, and commits:
    // visibility flips only with the commit
    assert(new IndexSearcher(spark, dir).deleteDocs(TermQ("doomed")) == 2)
    ReaderCache.clear()
    val after = new IndexSearcher(spark, dir)
    assert(after.search(TermQ("doomed"), 10, BM25()).isEmpty)
    assert(after.liveDocCount() == 2)
  }

  test("a searcher opened at an old commit generation is a true point-in-time snapshot") {
    import spark.implicits._
    val texts = Seq("alpha a", "alpha b", "beta c", "beta d")
    val dir = buildIndex(texts)
    ReaderCache.clear()
    val gen0 = IndexMetaIO.latestGen(dir).get

    // mutate TWICE past the snapshot: delete 'alpha' (new commit), then
    // append a doc that also matches 'alpha' (another commit)
    assert(new IndexSearcher(spark, dir).deleteDocs(TermQ("alpha")) == 2)
    val df = Seq(("u9999", "alpha reborn")).toDF("url", "text")
    graft.streaming.StreamingIndexer.appendBatch(spark, df, dir,
      analyzer = "whitespace", docsPerSegment = 4, batchId = 99)
    ReaderCache.clear()

    // latest view: originals tombstoned, only the appended doc matches
    val latest = new IndexSearcher(spark, dir)
    assert(latest.search(TermQ("alpha"), 10, BM25()).length == 1)

    // the reference's IndexReader::open(commit): the old generation sees
    // exactly the pre-mutation index — both alphas live, no appended doc
    val pit = new IndexSearcher(spark, dir, Some(gen0))
    assert(pit.search(TermQ("alpha"), 10, BM25()).length == 2)
    assert(pit.meta.numDocs == 4)
    assert(pit.liveDocCount() == 4)
    assert(IndexMetaIO.commitGens(dir).size >= 3) // build, delete, append
  }

  test("a later unrelated delete batch does not adopt a crashed batch's orphan bitsets") {
    // docsPerSegment=4: docs 0-3 -> segment 0 (two 'alpha'), docs 4-7 ->
    // segment 1 (two 'omega')
    val texts = Seq("alpha a", "filler b", "alpha c", "filler d",
      "omega e", "filler f", "omega g", "filler h")
    val dir = buildIndex(texts)
    ReaderCache.clear()

    // crashed update: its delete half wrote del_1.bin into segment 0, the
    // commit (and the adds) never landed
    val s1 = new IndexSearcher(spark, dir)
    assert(s1.deleteDocs(TermQ("alpha"), commit = false) == 2)

    // a later UNRELATED delete batch commits the same generation number,
    // touching only segment 1 — it must purge the orphan first, or the
    // commit at delgen=1 would make the crashed batch's deletes visible in
    // segment 0 (deletes without the update's adds)
    assert(new IndexSearcher(spark, dir).deleteDocs(TermQ("omega")) == 2)
    ReaderCache.clear()
    val after = new IndexSearcher(spark, dir)
    assert(after.search(TermQ("alpha"), 10, BM25()).length == 2)
    assert(after.search(TermQ("omega"), 10, BM25()).isEmpty)
    assert(after.liveDocCount() == 6)
  }
}
