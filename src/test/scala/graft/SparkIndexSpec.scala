package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.SyntheticCorpus
import graft.index._
import graft.score.BM25
import graft.search._
import graft.streaming.StreamingIndexer

class SparkIndexSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val N = 500
  private lazy val corpus = SyntheticCorpus.generate(spark, N, seed = 11, avgLen = 50, vocab = 400)
  // the corpus as (docId, text) with docId = rank in url order (the
  // IndexBuilder's contract): input of the brute-force and LocalIndex twins
  private lazy val rankedDocs: Seq[(Long, String)] =
    SyntheticCorpus.localPages(N, seed = 11, avgLen = 50, vocab = 400)
      .sortBy(_.url).zipWithIndex.map { case (p, i) => (i.toLong, p.text) }
  private lazy val bfDocs =
    BruteForce.analyzeCorpus(graft.analysis.StandardAnalyzer(), rankedDocs)

  private def fileHashes(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(dir))
      .filter(f => f.getName.endsWith(".bin") || f.getName.endsWith(".idx"))
      .map { f =>
        val bytes = Files.readAllBytes(f.toPath)
        val rel = f.getPath.stripPrefix(dir)
        rel -> java.util.Arrays.hashCode(bytes).toLong
      }.toMap
  }

  test("distributed build + distributed search == brute force") {
    val dir = tmpDir()
    val report = IndexBuilder.build(spark, corpus,
      IndexConfig(dir, docsPerSegment = 64, writeDocMap = false))
    assert(report.numDocs == N)
    assert(report.builtSegments == 8)

    val searcher = new IndexSearcher(spark, dir)
    assert(searcher.meta.numDocs == N)

    val queries: Seq[(String, Query)] = Seq(
      "t1" -> TermQ("w3"),
      "or" -> BoolQ(should = Seq(TermQ("w1"), TermQ("w7"), TermQ("w31"))),
      "and" -> BoolQ(must = Seq(TermQ("w2"), TermQ("w5"))),
      "not" -> BoolQ(must = Seq(TermQ("w1")), mustNot = Seq(TermQ("w9"))),
      // multi-term nodes distributed-expanded, incl. inside a filter
      "prefix" -> PrefixQ("w1", constantScore = false),
      "filtered" -> FilteredQ(TermQ("w2"), TermRangeQ(Some("w1"), Some("w4"))))
    val got = searcher.searchBatch(queries, 10, BM25())
    queries.foreach { case (id, q) =>
      val spec = BruteForce.search(bfDocs, q, 10, BM25())
      assert(got(id).toSeq == spec.toSeq, s"query $id")
    }
  }

  test("distributed merge path (>256 segments) matches driver merge and spec") {
    val dir = tmpDir()
    // 500 single-doc segments: at the default layout they run as one task
    // per core (driver merge); with one task per segment (500 > 256 tasks)
    // the reduceByKey top-k merge takes over
    IndexBuilder.build(spark, corpus, IndexConfig(dir, docsPerSegment = 1, writeDocMap = false))
    val searcher = new IndexSearcher(spark, dir)
    assert(searcher.meta.segments.size == N)
    val queries: Seq[(String, Query)] = Seq(
      "t" -> TermQ("w3"),
      "or" -> BoolQ(should = Seq(TermQ("w1"), TermQ("w7"), TermQ("w31"))))
    val grouped = searcher.searchBatch(queries, 10, BM25())
    searcher.maxTasks = N
    val shuffled = try searcher.searchBatch(queries, 10, BM25()) finally searcher.maxTasks = 0
    queries.foreach { case (id, q) =>
      val spec = BruteForce.search(bfDocs, q, 10, BM25())
      assert(grouped(id).toSeq == spec.toSeq, s"query $id")
      assert(shuffled(id).toSeq == spec.toSeq, s"query $id (reduceByKey merge)")
    }
  }

  test("grouped search: tie-heavy runs of segments == exhaustive == spec, with tombstones") {
    // every doc scores the same for the query (same terms, same length), so
    // the top-k is decided by docId alone; more segments than cores puts
    // ≥2 segments in every task, and k < the tie group makes each task's
    // k-th score the threshold its later segments start from
    val n = 96
    val texts = (0 until n).map(i => s"tie tie filler id$i")
    val dir = tmpDir()
    LocalIndex.build(dir, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      "whitespace", docsPerSegment = 4)
    val cores = spark.sparkContext.defaultParallelism
    val segments = IndexMetaIO.readLatest(dir).get.segments.size
    assert(segments >= 2 * cores, s"$segments segments for $cores cores")
    // tombstone the first doc of the first segment of the first two tasks
    // (parallelize's contiguous slices start at segment i·segments/cores)
    val tasksFirstDocs = Seq(0, segments / cores).map(_ * 4)
    tasksFirstDocs.foreach(d =>
      new IndexSearcher(spark, dir).deleteDocs(TermQ(s"id$d")))
    val deleted = tasksFirstDocs.map(_.toLong).toSet
    val searcher = new IndexSearcher(spark, dir)
    assert(searcher.liveDocCount() == n - deleted.size)
    val corpus = BruteForce.analyzeCorpus(graft.analysis.Analyzer.byName("whitespace"),
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val queries: Seq[(String, Query)] = Seq(
      "term" -> TermQ("tie"),
      "or" -> BoolQ(should = Seq(TermQ("tie"), TermQ("filler"))),
      "or3" -> BoolQ(should = Seq(TermQ("filler"), TermQ("tie"), TermQ("absent"))))
    for (k <- Seq(1, 3, 5, 9, 30)) {
      val wand = searcher.searchBatch(queries, k, BM25())
      val exhaustive = searcher.searchBatch(queries, k, BM25(), useWand = false)
      queries.foreach { case (id, q) =>
        // scoring stats keep counting tombstones, so the spec is the full
        // corpus' ranking with the tombstoned docs dropped
        val spec = BruteForce.search(corpus, q, k + deleted.size, BM25())
          .filterNot(h => deleted(h.docId)).take(k)
        assert(wand(id).toSeq == exhaustive(id).toSeq, s"k=$k $id: wand vs exhaustive")
        assert(wand(id).toSeq == spec.toSeq, s"k=$k $id: wand vs spec")
        assert(wand(id).length == k)
      }
    }
  }

  test("globalDf: one single-stage job == summed per-segment df; searchBatch runs 2 jobs") {
    val texts = (0 until 40).map(i => s"common w${i % 7} id$i") :+ "common onlyhere"
    val dir = tmpDir()
    LocalIndex.build(dir, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      "whitespace", docsPerSegment = 6)
    val meta = IndexMetaIO.readLatest(dir).get
    val readers = meta.segments.map(m =>
      new SegmentReader(new File(dir, SegmentFormat.segDirName(m.segId))))
    assert(readers.count(_.termInfo("onlyhere").isDefined) == 1)
    val searcher = new IndexSearcher(spark, dir)
    val terms = Set("common", "onlyhere", "w3", "id17", "absent", "zzz")
    val df = searcher.globalDf(terms)
    terms.foreach { t =>
      val expected = readers.flatMap(_.termInfo(t)).map(_.df.toLong).sum
      if (expected == 0) assert(!df.contains(t), s"absent term $t reported")
      else assert(df(t) == expected, s"df($t)")
    }
    assert(df("common") == texts.size && df("onlyhere") == 1)

    // job shape: the df job and the scoring job, the df job one stage
    val stagesPerJob = JobShape.jobsOf(spark) {
      searcher.searchBatch(Seq("a" -> BoolQ(should = Seq(TermQ("common"), TermQ("w3"))),
        "b" -> TermQ("onlyhere")), 5, BM25())
    }.map(_.size)
    assert(stagesPerJob == Seq(1, 1), s"stages per job: $stagesPerJob")
  }

  test("build output is byte-identical across partitionings and to LocalIndex") {
    val d4 = tmpDir(); val d8 = tmpDir(); val dl = tmpDir()
    IndexBuilder.build(spark, corpus.repartition(1), IndexConfig(d4, docsPerSegment = 64,
      writeDocMap = false))
    IndexBuilder.build(spark, corpus.repartition(7), IndexConfig(d8, docsPerSegment = 64,
      writeDocMap = false))
    LocalIndex.build(dl, rankedDocs, "standard", docsPerSegment = 64)
    val h4 = fileHashes(d4)
    val h8 = fileHashes(d8)
    val hl = fileHashes(dl)
    assert(h4.nonEmpty && h4 == h8)
    assert(h4 == hl, "distributed and LocalIndex builds must write identical segments")
  }

  test("resume: killed build restarts from committed segments only") {
    val full = tmpDir(); val resumed = tmpDir()
    IndexBuilder.build(spark, corpus, IndexConfig(full, docsPerSegment = 64, writeDocMap = false))

    // simulate a partial run: build, then delete 3 segments + snapshot
    IndexBuilder.build(spark, corpus, IndexConfig(resumed, docsPerSegment = 64, writeDocMap = false))
    Seq(1, 4, 7).foreach { s =>
      val f = new File(resumed, SegmentFormat.segDirName(s))
      f.listFiles().foreach(_.delete()); f.delete()
    }
    new File(resumed, "commits").listFiles().foreach(_.delete())

    val report = IndexBuilder.build(spark, corpus, IndexConfig(resumed, docsPerSegment = 64, writeDocMap = false))
    assert(report.resumedSegments == 5, report)
    assert(report.builtSegments == 3, report)
    assert(fileHashes(full) == fileHashes(resumed))

    // the resumed index answers queries identically
    val a = new IndexSearcher(spark, full).search(TermQ("w2"), 10, BM25())
    val b = new IndexSearcher(spark, resumed).search(TermQ("w2"), 10, BM25())
    assert(a.toSeq == b.toSeq)
  }

  // supplementary-plane terms (surrogate pairs) next to BMP terms in
  // [U+E000, U+FFFF], where UTF-16 order and code-point order disagree;
  // doc 2 holds both kinds
  private def supplementaryTexts: Seq[String] = {
    val sup1 = new String(Character.toChars(0x10000))
    val sup2 = new String(Character.toChars(0x1D11E))
    Seq(s"alpha $sup1 common", s"\uFFFB zeta common", s"$sup2 \uE000 common",
      "plain common words")
  }

  /** Builds `texts` (urls in text order) with [[IndexBuilder.build]] and with
    * [[LocalIndex.build]] under the same settings; returns both dirs. */
  private def buildBoth(texts: Seq[String], analyzer: String, docsPerSegment: Int,
      storeTermVectors: Boolean = false, storePayloads: Boolean = false): (String, String) = {
    import spark.implicits._
    val df = texts.zipWithIndex
      .map { case (t, i) => (f"u$i%04d", t) }.toDF("url", "text")
    val dist = tmpDir(); val local = tmpDir()
    IndexBuilder.build(spark, df, IndexConfig(dist, analyzer = analyzer,
      docsPerSegment = docsPerSegment, writeDocMap = false,
      storeTermVectors = storeTermVectors, storePayloads = storePayloads))
    LocalIndex.build(local, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      analyzer, docsPerSegment = docsPerSegment,
      storeTermVectors = storeTermVectors, storePayloads = storePayloads)
    (dist, local)
  }

  test("supplementary-plane terms: build == LocalIndex.build, code-point order") {
    def termsOf(dir: String): Seq[String] = {
      val meta = IndexMetaIO.readLatest(dir).get
      meta.segments.flatMap { m =>
        val r = new SegmentReader(new File(dir, SegmentFormat.segDirName(m.segId)))
        val ts = r.allTerms.map(_.term).toSeq
        assert(ts == ts.sorted(TermOrder.ordering), s"dict order in $dir: $ts")
        ts
      }
    }
    val (d1, d2) = buildBoth(supplementaryTexts, "whitespace", docsPerSegment = 2)
    assert(termsOf(d1) == termsOf(d2))
    assert(fileHashes(d1).nonEmpty && fileHashes(d1) == fileHashes(d2))
    // both searchable across the surrogate boundary
    Seq(d1, d2).foreach { d =>
      val s2 = new IndexSearcher(spark, d)
      val hits = s2.search(TermRangeQ(Some("\uFFFB"), None,
        includeLower = true, includeUpper = true), 10, BM25())
      assert(hits.map(_.docId).toSet == Set(0L, 1L, 2L), s"$d: ${hits.toSeq}")
    }
  }

  test("term vectors: build == LocalIndex.build on supplementary-plane terms") {
    val (dist, local) = buildBoth(supplementaryTexts, "whitespace", docsPerSegment = 2,
      storeTermVectors = true)
    val h = fileHashes(dist)
    assert(h.keys.count(_.endsWith("vectors.bin")) == 2, h.keys)
    assert(h == fileHashes(local))
    // each doc's vector is term-sorted in code-point order
    val meta = IndexMetaIO.readLatest(dist).get
    meta.segments.foreach { m =>
      val r = new SegmentReader(new File(dist, SegmentFormat.segDirName(m.segId)))
      (0 until m.docCount).foreach { d =>
        val terms = r.termVector(d).get.map(_._1).toSeq
        assert(terms == terms.sorted(TermOrder.ordering), s"segment ${m.segId} doc $d: $terms")
      }
    }
  }

  test("payloads, with and without term vectors: build == LocalIndex.build") {
    // floats after '|' become payloads; bare tokens carry none
    val texts = (0 until 40).map { i =>
      s"w${i % 5}|${i % 3 + 1}.0 w${i * 7 % 11} tail|0.5 w${i % 5}|2.5 id$i"
    }
    for (vectors <- Seq(false, true)) {
      val (dist, local) = buildBoth(texts, "delimited", docsPerSegment = 8,
        storeTermVectors = vectors, storePayloads = true)
      val h = fileHashes(dist)
      assert(h.keys.exists(_.endsWith("vectors.bin")) == vectors, h.keys)
      assert(h.nonEmpty && h == fileHashes(local), s"vectors=$vectors")
    }
  }

  private def segmentReaders(dir: String): Seq[SegmentReader] =
    IndexMetaIO.readLatest(dir).get.segments.map(m =>
      new SegmentReader(new File(dir, SegmentFormat.segDirName(m.segId))))

  test("adjacent terms sharing only a high surrogate: both stored, both searchable") {
    val a = new String(Character.toChars(0x1D11E)) // 𝄞
    val b = new String(Character.toChars(0x1D11F)) // 𝄟
    val texts = Seq(s"$a $b")
    val (dist, local) = buildBoth(texts, "whitespace", docsPerSegment = 10)
    val spec = BruteForce.analyzeCorpus(graft.analysis.WhitespaceAnalyzer, Seq((0L, texts.head)))
    Seq(dist, local).foreach { d =>
      val readers = segmentReaders(d)
      assert(readers.flatMap(_.allTerms.map(_.term)) == Seq(a, b), d)
      assert(readers.head.termInfo(b).isDefined, d)
      val q = TermQ(b)
      assert(new IndexSearcher(spark, d).search(q, 10, BM25()).toSeq ==
        BruteForce.search(spec, q, 10, BM25()).toSeq, d)
    }
    assert(fileHashes(dist) == fileHashes(local))
  }

  test("termInfo finds every dictionary entry and nothing else, across restart points") {
    def cp(c: Int) = new String(Character.toChars(c))
    val terms = (0 until 60).map(i => f"t$i%02d") ++
      (0 until 30).map(i => s"café$i") ++
      (0 until 30).map(i => s"中文${cp(0x4e00 + i)}") ++
      (0 until 24).map(i => cp(0xE000 + i) + "x") ++
      Seq("豈", "Ａb", "￻", "�", "￿") ++
      // code points U+1D100.. share the high surrogate \uD834
      (0 until 30).map(i => cp(0x1D100 + i)) ++
      (0 until 30).map(i => cp(0x1D100 + i) + cp(0x1D180 + i))
    assert(terms.distinct.size >= 3 * SegmentFormat.TermIndexInterval + 1)
    // every 4-doc segment holds every term, at varying df and freq
    val texts = (0 until 8).map { d =>
      terms.indices.filter(i => (i + d) % 4 != 0)
        .flatMap(i => Seq.fill(if (d % 2 == 0) i % 3 + 1 else 1)(terms(i))).mkString(" ")
    }
    val (dist, local) = buildBoth(texts, "whitespace", docsPerSegment = 4)
    val dict = terms.toSet
    val sorted = terms.sorted(TermOrder.ordering)
    val absent = Seq("", "!", cp(0x10FFFF) + "z") ++ terms.map(_ + "\u0000") ++
      terms.flatMap(t => (1 until t.length).map(t.substring(0, _))) ++
      terms.flatMap { t =>
        val last = t.codePointBefore(t.length)
        val stem = t.substring(0, t.length - Character.charCount(last))
        Seq(last - 1, last + 1).filter(c => c >= 0 && (c < 0xD800 || c > 0xDFFF)).map(stem + cp(_))
      }
    assert(TermOrder.lt("!", sorted.head) && TermOrder.gt(cp(0x10FFFF) + "z", sorted.last))
    for (d <- Seq(dist, local); r <- segmentReaders(d)) {
      val entries = r.allTerms.toSeq
      assert(entries.map(_.term) == sorted, s"$d segment ${r.meta.segId}")
      entries.foreach(ti => assert(r.termInfo(ti.term).contains(ti), s"$d: ${ti.term}"))
      absent.filterNot(dict).foreach(t => assert(r.termInfo(t).isEmpty, s"$d: probe '$t'"))
    }
    assert(fileHashes(dist) == fileHashes(local))
  }

  /** The reference for rows that share urls: [[LocalIndex.build]] over the
    * rows in (url, text) order as Spark's `orderBy` puts them, nulls first. */
  private def localOfSorted(rows: Seq[(String, String)], docsPerSegment: Int): String = {
    import spark.implicits._
    val sorted = rows.toDF("url", "text").orderBy("url", "text")
      .as[(String, String)].collect().toSeq
    val dir = tmpDir()
    LocalIndex.build(dir, sorted.zipWithIndex.map { case ((_, t), i) => (i.toLong, t) },
      "standard", docsPerSegment = docsPerSegment)
    dir
  }

  /** Builds `rows` under two input partitionings with [[IndexBuilder.build]]
    * and with `StreamingIndexer.appendBatch` into a fresh dir; checks every
    * index is byte-identical to `reference` and counts every doc and token.
    * Returns the index dirs. */
  private def buildAndAppendMatch(rows: Seq[(String, String)], docsPerSegment: Int,
      reference: String): Seq[String] = {
    import spark.implicits._
    val analyzer = graft.analysis.Analyzer.byName("standard")
    val tokens = rows.map { case (_, t) => analyzer.analyze(Option(t).getOrElse("")).size }.sum
    val expected = fileHashes(reference)
    assert(expected.nonEmpty)
    for (parts <- Seq(1, 7); append <- Seq(false, true)) yield {
      val df = rows.toDF("url", "text").repartition(parts)
      val dir = tmpDir()
      val meta =
        if (append) StreamingIndexer.appendBatch(spark, df, dir, docsPerSegment = docsPerSegment)
        else IndexBuilder.build(spark, df,
          IndexConfig(dir, docsPerSegment = docsPerSegment, writeDocMap = false)).meta
      val what = s"${if (append) "appendBatch" else "build"} over $parts partitions"
      assert(meta.numDocs == rows.size, what)
      assert(meta.sumDocLength == tokens, what)
      assert(fileHashes(dir) == expected, what)
      dir
    }
  }

  // at docsPerSegment = 4, "dup" holds ranks 6..14, a run that starts
  // inside segment 1, fills segment 2 and ends inside segment 3, so it
  // straddles the boundaries at ranks 8 and 12; two of its copies are
  // identical rows and one has a null text
  private val dupRows: Seq[(String, String)] = {
    val dupTexts = Seq("red fish", "blue fish", "one fish", "two fish", "red fish",
      "old fish", null, "new fish", "sad fish")
    (0 until 6).map(i => (s"a$i", s"alpha w$i")) ++
      dupTexts.map(t => ("dup", t)) ++
      (0 until 5).map(i => (s"z$i", s"zeta w$i"))
  }

  test("duplicate urls: one docId rule for build and append, at any input partitioning") {
    val rows = dupRows
    // scrambled input order, so a tie order that followed the input would show
    val scrambled = rows.zipWithIndex.sortBy { case (_, i) => (i * 7) % rows.size }.map(_._1)
    val reference = localOfSorted(rows, docsPerSegment = 4)
    assert(IndexMetaIO.readLatest(reference).get.segments.size == 5)
    buildAndAppendMatch(scrambled, docsPerSegment = 4, reference)
  }

  test("a null url sorts first and is indexed alike by build and append") {
    val rows = Seq(("b", "beta words"), (null, "nullurl words"), ("a", "alpha words"))
    val reference = localOfSorted(rows, docsPerSegment = 2)
    buildAndAppendMatch(rows, docsPerSegment = 2, reference).foreach { dir =>
      val hits = new IndexSearcher(spark, dir).search(TermQ("nullurl"), 10, BM25())
      assert(hits.map(_.docId).toSeq == Seq(0L), dir)
    }
  }

  test("stored urls: build, resume, append and compaction keep every docId's url") {
    import spark.implicits._
    val rows = dupRows :+ ((null: String, "nullurl words"))
    // appended urls sort after every built one, so the compacted index is
    // a direct build of all rows
    val more = Seq(("zz1", "more words"), ("zz\u00e9", "accent words"), ("zz0", "more fish"),
      ("zz\ud834\udd1e", "clef words"), ("zz0", "again fish"))
    def urlColumn(rs: Seq[(String, String)]): Seq[Option[String]] =
      rs.toDF("url", "text").orderBy("url", "text").as[(String, String)].collect()
        .toSeq.map { case (u, _) => Option(u) }
    def urlsOf(dir: String): Seq[Option[String]] = {
      val s = new IndexSearcher(spark, dir)
      s.urls(0L until s.meta.numDocs)
    }
    val expected = urlColumn(rows)
    assert(expected.head.isEmpty && expected.count(_.contains("dup")) == 9)
    def build(dir: String, rs: Seq[(String, String)], parts: Int, dps: Int) =
      IndexBuilder.build(spark, rs.toDF("url", "text").repartition(parts),
        IndexConfig(dir, docsPerSegment = dps))
    for (parts <- Seq(1, 7)) {
      val dir = tmpDir()
      build(dir, rows, parts, 4)
      assert(urlsOf(dir) == expected, s"build over $parts partitions")
    }

    val dir = tmpDir()
    build(dir, rows, 7, 4)
    Seq(1, 3).foreach { s =>
      val f = new File(dir, SegmentFormat.segDirName(s))
      f.listFiles().foreach(_.delete()); f.delete()
    }
    new File(dir, "commits").listFiles().foreach(_.delete())
    val report = build(dir, rows, 7, 4)
    assert(report.builtSegments == 2 && report.resumedSegments == 4, report)
    assert(urlsOf(dir) == expected, "resume")

    StreamingIndexer.appendBatch(spark, more.toDF("url", "text"), dir, docsPerSegment = 4)
    val all = expected ++ urlColumn(more)
    assert(urlsOf(dir) == all, "append")

    // a tombstoned doc keeps its url slot through the merge
    assert(new IndexSearcher(spark, dir).deleteDocs(TermQ("alpha")) == 6)
    val merged = Maintenance.compact(spark, dir, minDocs = 100).segments
    assert(merged.size == 1 && merged.head.hasUrls, merged)
    assert(urlsOf(dir) == all, "compact")
    assert(Maintenance.checkIndex(spark, dir).forall(_.ok))

    val single = tmpDir()
    build(single, rows ++ more, 1, 1000)
    for (f <- Seq("urls.bin", "urls.idx")) {
      def bytes(d: String, segId: Int) =
        Files.readAllBytes(new File(d, SegmentFormat.segDirName(segId) + "/" + f).toPath)
      assert(java.util.Arrays.equals(bytes(dir, merged.head.segId), bytes(single, 0)),
        s"$f differs after merge")
    }
  }

  test("job shape: build <= 4 jobs with or without stored urls, 1-segment append <= 3") {
    val withUrls = JobShape.jobsOf(spark)(IndexBuilder.build(spark, corpus,
      IndexConfig(tmpDir(), docsPerSegment = 64)))
    val noUrls = JobShape.jobsOf(spark)(IndexBuilder.build(spark, corpus,
      IndexConfig(tmpDir(), docsPerSegment = 64, writeDocMap = false)))
    val append = JobShape.jobsOf(spark)(StreamingIndexer.appendBatch(spark, corpus, tmpDir(),
      docsPerSegment = N))
    assert(withUrls.size <= 4, withUrls.mkString("\n"))
    assert(noUrls.size <= 4, noUrls.mkString("\n"))
    assert(append.size <= 3, append.mkString("\n"))
  }
}
