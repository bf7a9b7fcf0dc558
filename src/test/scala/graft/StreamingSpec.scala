package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexBuilder, IndexConfig, IndexMetaIO, Maintenance}
import graft.score.BM25
import graft.search.{IndexSearcher, TermQ}
import graft.streaming.StreamingIndexer

class StreamingSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-stream-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("appendBatch grows the index; snapshots stay queryable") {
    val dir = tmpDir()
    val b1 = Seq(("u1", "spark streaming index"), ("u2", "batch append")).toDF("url", "text")
    val b2 = Seq(("u3", "more spark docs"), ("u4", "spark again")).toDF("url", "text")

    val m1 = StreamingIndexer.appendBatch(spark, b1, dir, docsPerSegment = 2, batchId = 0)
    assert(m1.numDocs == 2)
    val m2 = StreamingIndexer.appendBatch(spark, b2, dir, docsPerSegment = 2, batchId = 1)
    assert(m2.numDocs == 4)
    assert(m2.segments.map(_.segId) == Seq(0, 1))
    // replayed batch is a no-op
    val m3 = StreamingIndexer.appendBatch(spark, b2, dir, docsPerSegment = 2, batchId = 1)
    assert(m3.numDocs == 4)

    val hits = new IndexSearcher(spark, dir).search(TermQ("spark"), 10, BM25())
    assert(hits.length == 3)
    assert(hits.map(_.docId).toSet == Set(0L, 2L, 3L))
  }

  test("the exactly-once watermark survives compaction, updates and unnumbered appends") {
    val dir = tmpDir()
    def batch(b: Int) =
      (0 until 5).map(i => (f"b$b-u$i%02d", s"page batch$b item$i")).toDF("url", "text")
    (0 to 2).foreach(b => StreamingIndexer.appendBatch(spark, batch(b), dir, batchId = b))
    assert(IndexMetaIO.readLatest(dir).get.numDocs == 15)

    def replayIsNoOp(after: String): Unit = {
      val before = IndexMetaIO.readLatest(dir).get.numDocs
      val m = StreamingIndexer.appendBatch(spark, batch(2), dir, batchId = 2)
      assert(m.numDocs == before, s"replay after $after returned ${m.numDocs} docs")
      assert(IndexMetaIO.readLatest(dir).get.numDocs == before,
        s"replay after $after appended batch 2 again")
    }
    assert(Maintenance.compact(spark, dir, minDocs = 100).segments.size == 1)
    replayIsNoOp("compact")
    StreamingIndexer.updateDocuments(spark, dir, TermQ("batch0"),
      Seq(("c-u00", "page replaced")).toDF("url", "text"))
    replayIsNoOp("updateDocuments")
    StreamingIndexer.appendBatch(spark, Seq(("d-u00", "page unnumbered")).toDF("url", "text"), dir)
    replayIsNoOp("appendBatch without a batchId")
    val s = new IndexSearcher(spark, dir)
    assert(s.meta.numDocs == 17)
    assert(s.liveDocCount() == 12)
  }

  test("appendBatch refuses an analyzer or positions setting the index does not have") {
    val dir = tmpDir()
    IndexBuilder.build(spark, Seq(("u1", "Alpha beta"), ("u2", "gamma")).toDF("url", "text"),
      IndexConfig(dir, analyzer = "whitespace", writeDocMap = false))
    val gen = IndexMetaIO.latestGen(dir)
    val more = Seq(("u3", "Alpha delta")).toDF("url", "text")
    intercept[IllegalArgumentException](
      StreamingIndexer.appendBatch(spark, more, dir, analyzer = "standard"))
    intercept[IllegalArgumentException](
      StreamingIndexer.appendBatch(spark, more, dir, analyzer = "whitespace",
        storePositions = false))
    // refused before any segment is written, and nothing is committed
    assert(IndexMetaIO.latestGen(dir) == gen)
    assert(IndexMetaIO.committedSegments(dir).size == 1)

    StreamingIndexer.appendBatch(spark, more, dir, analyzer = "whitespace")
    val s = new IndexSearcher(spark, dir)
    assert(s.meta.numDocs == 3)
    assert(s.search(TermQ("Alpha"), 10, BM25()).map(_.docId).toSet == Set(0L, 2L))
  }

  test("foreachBatch streaming ingestion end-to-end") {
    val dir = tmpDir()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = StreamingIndexer.start(spark, mem.toDF().toDF("url", "text"), dir,
      docsPerSegment = 4)
    try {
      mem.addData(("a1", "hello stream"), ("a2", "hello again"))
      q.processAllAvailable()
      mem.addData(("a3", "hello third"))
      q.processAllAvailable()
      val hits = new IndexSearcher(spark, dir).search(TermQ("hello"), 10, BM25())
      assert(hits.length == 3)
    } finally q.stop()
  }

  test("windowed term counts: watermark drops late rows, windows close") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)

    val in = MemoryStream[(String, java.sql.Timestamp, String)]
    val counts = graft.streaming.StreamOps.windowedTermCounts(
      in.toDF().toDF("url", "warc_ts", "text"),
      analyzerName = "whitespace", windowDur = "10 minutes", watermark = "5 minutes")
    val q = counts.writeStream.format("memory").queryName("wtc")
      .outputMode("append").start()
    try {
      in.addData(("u1", ts(1), "spark window"), ("u2", ts(4), "spark merge"))
      q.processAllAvailable()
      // advance the watermark past the first window's end (10m + 5m)
      in.addData(("u3", ts(16), "later batch"))
      q.processAllAvailable()
      // one more nudge so the closed window is emitted
      in.addData(("u4", ts(30), "even later"))
      q.processAllAvailable()
      val rows = spark.table("wtc").as[(java.sql.Timestamp, String, Long)]
        .collect().map { case (w, t, f) => (w.getTime / 60000, t, f) }.toSet
      assert(rows.contains((0L, "spark", 2L)), rows)
      assert(rows.contains((0L, "window", 1L)) && rows.contains((0L, "merge", 1L)))
      // a LATE row for the closed first window is dropped by the watermark
      in.addData(("u5", ts(2), "spark straggler"))
      q.processAllAvailable()
      in.addData(("u6", ts(45), "tick"))
      q.processAllAvailable()
      val after = spark.table("wtc").as[(java.sql.Timestamp, String, Long)]
        .collect().map { case (w, t, f) => (w.getTime / 60000, t, f) }.toSet
      assert(after.count(_._2 == "spark") == rows.count(_._2 == "spark"),
        s"late row was not dropped: $after")
    } finally q.stop()
  }

  test("sessionize: gap-based sessions close on event-time timeout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx = spark.sqlContext
    // keep event times away from epoch 0: a ts equal to the initial
    // watermark is treated as late by the stateful operator
    def ev(u: Long, sec: Int) = StreamOps.Event(u, new java.sql.Timestamp((100 + sec) * 1000L))

    val in = MemoryStream[StreamOps.Event]
    val sessions = StreamOps.sessionize(in.toDS(), gapMs = 30000L, watermark = "10 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // user 1: two events 5s apart; user 2: one event
      in.addData(ev(1, 0), ev(1, 5), ev(2, 3))
      q.processAllAvailable()
      // in-batch gap: user 1's next event 100s later closes the first session
      in.addData(ev(1, 105))
      q.processAllAvailable()
      val mid = spark.table("sess").as[StreamOps.Session].collect()
      assert(mid.exists(s => s.userId == 1 && s.startMs == 100000 && s.endMs == 105000 && s.events == 2), mid.toSeq)
      // push the watermark far ahead: remaining sessions time out
      in.addData(ev(3, 1000))
      q.processAllAvailable()
      in.addData(ev(3, 2000))
      q.processAllAvailable()
      val all = spark.table("sess").as[StreamOps.Session].collect()
      assert(all.exists(s => s.userId == 2 && s.events == 1 && s.closed), all.toSeq)
      assert(all.exists(s => s.userId == 1 && s.startMs == 205000 && s.closed), all.toSeq)
    } finally q.stop()
  }

  test("sessionize batch twin agrees with the streaming path on closed sessions") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx = spark.sqlContext
    // deterministic event set with in-batch gaps (ts off epoch 0)
    val evs = Seq[(Long, Int)]((1, 0), (1, 5), (1, 40), (1, 43), (2, 3),
      (2, 90), (3, 7)).map { case (u, sec) => (u, (100 + sec) * 1000L) }

    val in = MemoryStream[StreamOps.Event]
    val sessions = StreamOps.sessionize(in.toDS(), gapMs = 20000L, watermark = "1 second")
    val q = sessions.writeStream.format("memory").queryName("sess_twin")
      .outputMode("append").start()
    val streamed = try {
      in.addData(evs.map { case (u, ms) => StreamOps.Event(u, new java.sql.Timestamp(ms)) })
      q.processAllAvailable()
      in.addData(StreamOps.Event(99, new java.sql.Timestamp(10000 * 1000L))) // close all via watermark
      q.processAllAvailable()
      spark.table("sess_twin").as[StreamOps.Session].collect()
        .filter(s => s.closed && s.userId != 99)
        .map(s => (s.userId, s.startMs, s.endMs, s.events)).toSet
    } finally q.stop()

    // the SAME events through the batch gaps-and-islands operator
    val batchDf = evs.zipWithIndex
      .map { case ((u, ms), i) => (i.toLong, new java.sql.Timestamp(ms), u) }
      .toDF("event_id", "ts", "user_id")
    val batch = StreamOps.sessionizeBatch(batchDf, gapUs = 20000L * 1000)
      .select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, s, e, n) => (u, s / 1000, e / 1000, n.toInt) }.toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("streaming dedup: first page per fingerprint across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx = spark.sqlContext

    val in = MemoryStream[StreamOps.Page]
    val out = StreamOps.dedupStream(in.toDS())
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      // batch 1: two distinct + an in-batch duplicate (whitespace/case
      // folded by the fingerprint)
      in.addData(
        StreamOps.Page("u2", "Hello   World"),
        StreamOps.Page("u1", "hello world"),
        StreamOps.Page("u3", "totally different"))
      q.processAllAvailable()
      val b1 = spark.table("dedup").as[StreamOps.DedupedPage].collect()
      assert(b1.map(_.url).toSet == Set("u1", "u3"), b1.toSeq) // u1 < u2
      // batch 2: a cross-batch duplicate is suppressed; a new page passes
      in.addData(
        StreamOps.Page("u9", "HELLO WORLD"),
        StreamOps.Page("u4", "brand new content"))
      q.processAllAvailable()
      val b2 = spark.table("dedup").as[StreamOps.DedupedPage].collect()
      assert(b2.map(_.url).toSet == Set("u1", "u3", "u4"), b2.toSeq)
      // fingerprints match the batch operator's md5 definition
      assert(b2.forall(_.fp.length == 32))
    } finally q.stop()
  }

  test("streaming near-dup pairs: SimHash chunk buckets across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    import graft.pipeline.Dedup
    implicit val sqlCtx = spark.sqlContext

    // the stream-side fingerprint is bit-identical to the batch expression
    val texts = Seq("hello world foo", "a b a  b", "", "unicode éü tokens")
    val batchFps = Dedup.simHash(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(StreamOps.simHash64(t) == batchFps(i.toLong), s"fp diverged for '$t'")
    }

    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = ((1 to 59).map(i => s"w$i") :+ "CHANGED").mkString(" ")
    // deterministic: one changed token out of 60 lands at Hamming 2
    val dNear = java.lang.Long.bitCount(
      StreamOps.simHash64(base) ^ StreamOps.simHash64(near))
    assert(dNear == 2, s"fixture drifted: dNear=$dNear")

    val in = MemoryStream[StreamOps.Page]
    val q = StreamOps.nearDupPairsStream(in.toDS(), maxDist = 3).writeStream
      .format("memory").queryName("neardup").outputMode("append").start()
    try {
      in.addData(StreamOps.Page("u1", base),
        StreamOps.Page("u2", "altogether unrelated page about entirely other things"))
      q.processAllAvailable()
      in.addData(StreamOps.Page("u3", near), StreamOps.Page("u4", base))
      q.processAllAvailable()
      val pairs = spark.table("neardup").as[StreamOps.NearDupPair].collect()
        .map(p => (p.url, p.firstUrl, p.dist)).distinct.toSet
      // u3 pairs with the cross-batch representative at its true distance;
      // u4 is an exact cross-batch dup; unrelated u2 pairs with nothing
      assert(pairs == Set(("u3", "u1", 2), ("u4", "u1", 0)), pairs.toSeq)
    } finally q.stop()
  }

  test("sessionize survives an event older than the watermark (timeout clamp)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, sec: Int) = StreamOps.Event(u, new java.sql.Timestamp(sec * 1000L))

    val in = MemoryStream[StreamOps.Event]
    // tiny gap so st.end + gapMs of a late event lands BELOW the watermark:
    // flatMapGroupsWithState does not auto-drop late rows, and before the
    // clamp setTimeoutTimestamp threw and killed the query
    val sessions = StreamOps.sessionize(in.toDS(), gapMs = 1000L, watermark = "5 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess_late")
      .outputMode("append").start()
    try {
      in.addData(ev(1, 100))
      q.processAllAvailable()
      in.addData(ev(2, 500)) // watermark → 495s
      q.processAllAvailable()
      // user 3's event is far below the 495s watermark; its end + 1s gap
      // would be an illegal (pre-watermark) timeout without the clamp
      in.addData(ev(3, 50))
      q.processAllAvailable()
      in.addData(ev(2, 600))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      val all = spark.table("sess_late").as[StreamOps.Session].collect()
      // Spark 4.1 pre-filters late input rows for this operator, so the
      // late event silently creates no session — the invariant under test
      // is that the query SURVIVES and on-time users still close (the
      // clamp guards the remaining path where state.end predates a
      // watermark jump)
      assert(!all.exists(_.userId == 3), all.toSeq)
      assert(all.exists(s => s.userId == 1 && s.closed), all.toSeq)
      assert(all.exists(s => s.userId == 2 && s.closed), all.toSeq)
    } finally q.stop()
  }
}
