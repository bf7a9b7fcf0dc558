package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.analysis.WhitespaceAnalyzer
import graft.index.{IndexBuilder, IndexConfig, Maintenance}
import graft.score.BM25
import graft.search.{IndexSearcher, QueryParser}
import graft.streaming.StreamingIndexer

/** End-to-end consumer of the public API — build, parse+search, stream-
  * append, compact, verify. Doubles as usage documentation. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = java.nio.file.Files.createTempDirectory("graft-demo").toFile // holds every index
    try run(spark, root) finally { graft.EngineQueries.rm(root); spark.stop() }
  }

  private def run(spark: SparkSession, root: java.io.File): Unit = {
    import spark.implicits._
    val dir = new java.io.File(root, "index").getPath

    // 1. build an index over the driver's documents table
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(format_string("%012d", col("doc_id")).as("url"), col("text"))
    val report = IndexBuilder.build(spark, docs,
      IndexConfig(dir, analyzer = "whitespace", docsPerSegment = 16, writeDocMap = false))
    println(s"[demo] built ${report.builtSegments} segments over ${report.numDocs} docs")

    // 2. parse a classic-syntax query and search BM25 top-5
    val searcher = new IndexSearcher(spark, dir)
    val q = QueryParser.parse("batch AND (window OR merge) -spark", WhitespaceAnalyzer)
    println(s"[demo] parsed: $q")
    searcher.search(q, 5, BM25()).foreach(h => println(f"[demo] hit doc=${h.docId} score=${h.score}%.4f"))

    // 3. a phrase + a fuzzy query
    searcher.search(QueryParser.parse("\"key agg\"", WhitespaceAnalyzer), 3, BM25())
      .foreach(h => println(f"[demo] phrase hit doc=${h.docId} score=${h.score}%.4f"))
    searcher.search(QueryParser.parse("windwo~", WhitespaceAnalyzer), 3, BM25())
      .foreach(h => println(f"[demo] fuzzy hit doc=${h.docId} score=${h.score}%.4f"))

    // 4. append a streaming batch; re-query sees the new doc
    StreamingIndexer.appendBatch(spark,
      Seq(("zzzz-new-doc", "a freshly streamed batch window document")).toDF("url", "text"),
      dir, analyzer = "whitespace", docsPerSegment = 16, batchId = 0)
    val s2 = new IndexSearcher(spark, dir)
    println(s"[demo] after append: numDocs=${s2.meta.numDocs} segments=${s2.meta.segments.size}")
    val hits2 = s2.search(QueryParser.parse("freshly", WhitespaceAnalyzer), 3, BM25())
    println(s"[demo] new doc found: ${hits2.map(_.docId).mkString(",")}")

    // 5. compact + integrity check
    val compacted = Maintenance.compact(spark, dir, minDocs = 1000)
    graft.search.ReaderCache.clear()
    println(s"[demo] compacted to ${compacted.segments.size} segment(s)")
    val checks = Maintenance.checkIndex(spark, dir)
    println(s"[demo] checkIndex: ${checks.count(_.ok)}/${checks.size} ok")
    val hits3 = new IndexSearcher(spark, dir).search(QueryParser.parse("freshly", WhitespaceAnalyzer), 3, BM25())
    println(s"[demo] post-compact new doc still found: ${hits3.map(_.docId).mkString(",")}")

    // filtered + multi-phrase through the public API
    import graft.search.{FilteredQ, MultiPhraseQ, TermQ => TQ, TermRangeQ}
    new IndexSearcher(spark, dir)
      .search(FilteredQ(TQ("window"), TermRangeQ(Some("a"), Some("n"))), 3, BM25())
      .foreach(h => println(f"[demo] filtered hit doc=${h.docId} score=${h.score}%.4f"))
    new IndexSearcher(spark, dir)
      .search(MultiPhraseQ(Seq(Seq("key", "row"), Seq("agg", "scan"))), 3, BM25())
      .foreach(h => println(f"[demo] multiphrase hit doc=${h.docId} score=${h.score}%.4f"))

    // round-2 surface: spans, cached filters, function scoring, match sets
    import graft.search.{CachedQ, CustomScoreQ, DocLenVS, Highlighter, MemoryIndex,
      PrefixQ, SpanNearQ, SpanTermQ}
    val s3 = new IndexSearcher(spark, dir)
    s3.search(SpanNearQ(Seq(SpanTermQ("window"), SpanTermQ("merge")), slop = 3,
        inOrder = false), 3, BM25())
      .foreach(h => println(f"[demo] span-near hit doc=${h.docId} score=${h.score}%.4f"))
    s3.search(FilteredQ(TQ("window"), CachedQ(PrefixQ("b"))), 3, BM25())
      .foreach(h => println(f"[demo] cached-filter hit doc=${h.docId} score=${h.score}%.4f"))
    s3.search(CustomScoreQ(TQ("window"), Seq(DocLenVS)), 3, BM25())
      .foreach(h => println(f"[demo] custom-score hit doc=${h.docId} score=${h.score}%.4f"))
    println(s"[demo] match-set rows for 'batch': ${s3.matchingDocs(TQ("batch")).count()}")
    val (timedHits, timedOut) = s3.searchWithTimeout(TQ("window"), 3, BM25(), timeoutMs = 60000)
    println(s"[demo] timed search: ${timedHits.length} hits, timedOut=$timedOut")
    // "why did doc X score what it scored?" — distributed explain
    val exQ = graft.search.BoolQ(must = Seq(TQ("window")), should = Seq(TQ("merge")))
    val exHit = s3.search(exQ, 1, BM25()).head
    val ex = s3.explain(exQ, exHit.docId, BM25())
    println(f"[demo] explain doc=${exHit.docId}: value=${ex.value}%.4f == score=${exHit.score}%.4f " +
      s"consistent=${ex.value == exHit.score}")
    ex.render().linesIterator.take(4).foreach(l => println(s"[demo]   $l"))

    // deletes: tombstone by query, reopen-to-see, stable docIds
    val delCount = s3.deleteDocs(TQ("spark"))
    val s3b = new IndexSearcher(spark, dir)
    println(s"[demo] deleted $delCount docs matching 'spark'; " +
      s"live=${s3b.liveDocCount()}/${s3b.meta.numDocs}; " +
      s"reopened 'spark' hits=${s3b.search(TQ("spark"), 5, BM25()).length}")

    // atomic update: replace every 'batch' doc with one fresh doc, one commit
    locally {
      import spark.implicits._
      val updated = graft.streaming.StreamingIndexer.updateDocuments(spark, dir,
        TQ("batch"), Seq(("zz-update", "batch reborn fresh")).toDF("url", "text"),
        analyzer = s3b.meta.analyzer)
      val s3c = new IndexSearcher(spark, dir)
      println(s"[demo] updateDocuments: numDocs=${updated.numDocs} " +
        s"live=${s3c.liveDocCount()}; 'reborn' hits=" +
        s3c.search(TQ("reborn"), 5, BM25()).length +
        s"; surviving 'batch' docs=${s3c.matchingDocs(TQ("batch")).count()}")
    }

    // cross-index search: this index + a tiny second index, combined stats
    locally {
      val dir2 = new java.io.File(root, "idx2").getPath
      graft.index.IndexBuilder.build(spark,
        Seq(("zz-x1", "window into a second index"),
          ("zz-x2", "merge of two worlds")).toDF("url", "text"),
        graft.index.IndexConfig(dir2, analyzer = s3b.meta.analyzer,
          docsPerSegment = 2, writeDocMap = false))
      val multi = new graft.search.MultiIndexSearcher(
        Seq(new IndexSearcher(spark, dir), new IndexSearcher(spark, dir2)))
      val hits = multi.search(TQ("window"), 3, BM25())
      println(s"[demo] multi-index 'window' top-3 over ${multi.stats.numDocs} docs: " +
        hits.map(h => s"${h.docId}").mkString(","))
    }

    // percolation + highlighting (contrib analogs)
    val mi = new MemoryIndex("streamed window batch text", WhitespaceAnalyzer)
    println(s"[demo] memory-index percolation 'window AND batch': " +
      mi.matches(QueryParser.parse("window AND batch", WhitespaceAnalyzer)))
    Highlighter.bestFragments(TQ("window"), WhitespaceAnalyzer,
      "a window into the engine", fragmentSize = 50, maxFragments = 1)
      .foreach(f => println(s"[demo] highlight: $f"))

    // pipeline ops: duplicate-cluster resolution + deterministic mix sampling
    locally {
      import spark.implicits._
      val reps = graft.pipeline.Dedup.dupClusters(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().sortBy(_._1)
      println(s"[demo] dup clusters 1-2,2-3,10-11 -> " +
        reps.map { case (d, r) => s"$d:$r" }.mkString(","))
      val kept = graft.pipeline.TextOps.mixSample(
        (0L until 100L).map(i => (i, s"doc $i", if (i < 50) "a" else "b"))
          .toDF("doc_id", "text", "source"),
        quotas = Map("a" -> 1.0, "b" -> 0.2)).count()
      println(s"[demo] mix sample a@1.0 b@0.2 kept $kept of 100")
    }

    // the full training-data curation chain, end to end: quality gate →
    // exact dedup → near-dup cluster resolution (winnowing candidates →
    // connected components, non-representatives dropped) → benchmark-
    // contamination cut → deterministic mix sampling → index + search the
    // surviving corpus. This is the switch-from-the-reference story: one
    // library curates the corpus AND serves the queries.
    locally {
      import graft.pipeline.{Dedup, TextOps}
      val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val kept0 = raw.join(
        TextOps.qualityFilter(raw).filter(col("keep")).select("doc_id"), "doc_id")
      val kept1 = kept0.join(
        TextOps.dedupExact(kept0).select(col("keeper").as("doc_id")), "doc_id")
      val nonReps = Dedup.dupClusters(TextOps.winnowPairs(kept1)
          .select("doc_a", "doc_b"))
        .filter(col("doc_id") =!= col("cluster_rep")).select("doc_id")
      val kept2 = kept1.join(nonReps, Seq("doc_id"), "left_anti")
      val contaminated = TextOps.contamination(kept2)
        .filter(col("overlap_grams") > 0).select("doc_id")
      val kept3 = kept2.filter(col("doc_id") % 50 =!= 0) // drop the eval split itself
        .join(contaminated, Seq("doc_id"), "left_anti")
      val sampled = kept3.join(TextOps.mixSample(kept3,
        quotas = Map("src0" -> 1.0), defaultQuota = 0.5).select("doc_id"), "doc_id")
      val stages = Seq("raw" -> raw, "quality" -> kept0, "exact-dedup" -> kept1,
        "near-dedup" -> kept2, "decontaminated" -> kept3, "sampled" -> sampled)
      println("[demo] curation chain: " +
        stages.map { case (n, df) => s"$n=${df.count()}" }.mkString(" -> "))
      val curDir = new java.io.File(root, "cur").getPath
      IndexBuilder.build(spark,
        sampled.select(format_string("%012d", col("doc_id")).as("url"), col("text")),
        IndexConfig(curDir, analyzer = "whitespace", docsPerSegment = 64, writeDocMap = false))
      val curated = new IndexSearcher(spark, curDir)
      val curHits = curated.search(QueryParser.parse("batch OR window", WhitespaceAnalyzer), 3, BM25())
      println(s"[demo] curated-corpus search over ${curated.meta.numDocs} docs: " +
        curHits.map(h => f"${h.docId}@${h.score}%.3f").mkString(","))
    }

    // probes
    println("[demo] probe empty-result: " +
      new IndexSearcher(spark, dir).search(QueryParser.parse("qqqqzzzz", WhitespaceAnalyzer), 5, BM25()).length)
    println("[demo] probe garbage query parses to: " + QueryParser.parse("(((", WhitespaceAnalyzer))
    try { new IndexSearcher(spark, "/tmp/definitely-no-index"); println("[demo] probe missing index: NO ERROR (bad)") }
    catch { case e: IllegalStateException => println("[demo] probe missing index: " + e.getMessage) }
    println("[demo] probe k=0: " +
      new IndexSearcher(spark, dir).search(QueryParser.parse("batch", WhitespaceAnalyzer), 0, BM25()).length)
  }
}
