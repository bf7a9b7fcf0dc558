package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexConfig, IndexMetaIO}
import graft.score.{BM25Exact, Similarity}
import graft.search.{IndexSearcher, MultiIndexSearcher, Query, TermQ}

/** Engine-backed entries for the driver harness: build (once, cached) a
  * real segment index over the `documents` table with the whitespace
  * analyzer, so BM25 scores are reproducible by the DuckDB SQL oracle
  * (BM25Exact: exact doc lengths, double math — scores match the oracle's
  * CTE to 1e-15 and are compared at round(…, 4)). */
object EngineQueries {

  /** Searcher cache keyed by (variant, sfDir), invalidated by commit
    * generation: a cached searcher is reused only while its index
    * directory's latest commit generation is unchanged, so a mutation
    * (delete batch, streaming append, update) through any path gets a
    * fresh searcher — and fresh delgen-keyed readers — on the next
    * lookup, the same rule ReaderCache applies per segment. */
  private val searchers =
    scala.collection.concurrent.TrieMap.empty[String, (Int, IndexSearcher)]

  private[graft] def rm(f: java.io.File): Unit = {
    if (f.isDirectory) { val l = f.listFiles(); if (l != null) l.foreach(rm) }
    f.delete()
  }

  /** One segment per core once the corpus is big enough (a 60k-doc corpus
    * in 256-doc segments is 234 tiny tasks per query job — pure scheduling
    * overhead); floor of 256 keeps the multi-segment merge path exercised
    * at sf0.001. */
  private def expectedPerSeg(numDocs: Long): Int =
    math.min(15000L, math.max(256L, numDocs / 32)).toInt

  /** Build-or-load one cached engine index under java.io.tmpdir — the
    * single parameterized builder behind [[searcher]] / [[payloadSearcher]]
    * (their expectedPerSeg / staleness / rm-rebuild plumbing used to be
    * duplicated). A committed index is reused only when its format version,
    * segment layout, and payload/stored-url requirements all match —
    * anything stale is wiped and rebuilt. */
  private def cachedIndex(spark: SparkSession, sfDir: String, tag: String,
      analyzer: String, payloads: Boolean, urls: Boolean)(
      corpusOf: DataFrame => DataFrame): IndexSearcher = {
    val key = tag + ":" + sfDir
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-index-" + tag + sfDir.replaceAll("[^a-zA-Z0-9.]", "_")).getPath
    searchers.get(key) match {
      case Some((gen, s)) if IndexMetaIO.latestGen(dir).contains(gen) => s
      case _ =>
        val committed = IndexMetaIO.readLatestSnapshot(dir)
          .filter(_.format == IndexMetaIO.FormatVersion).map(_.meta)
          .filter { m => // stale segment layout → rebuild
            m.segments.nonEmpty &&
              (!payloads || m.segments.forall(_.hasPayloads)) &&
              (!urls || m.segments.forall(_.hasUrls)) &&
              m.segments.map(_.docCount).max ==
                math.min(expectedPerSeg(m.numDocs).toLong, m.numDocs)
          }
        if (committed.isEmpty) {
          if (new java.io.File(dir).exists()) rm(new java.io.File(dir))
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          // size segments from the corpus actually indexed: corpusOf may
          // filter (the mi parity split halves it), and the staleness
          // check above validates against the FILTERED numDocs — sizing
          // from the unfiltered count would build a layout the next JVM
          // always judges stale and rebuilds
          val corpus = corpusOf(docs)
          val perSeg = expectedPerSeg(corpus.count())
          IndexBuilder.build(spark, corpus,
            IndexConfig(dir, analyzer = analyzer, docsPerSegment = perSeg,
              storePositions = true, writeDocMap = urls, storePayloads = payloads))
        }
        val s = new IndexSearcher(spark, dir)
        searchers.put(key, (IndexMetaIO.latestGen(dir).getOrElse(0), s))
        s
    }
  }

  /** docIDs: the builder assigns docId = rank of url; urls are zero-padded
    * doc_ids, so engine docId == documents.doc_id. */
  def searcher(spark: SparkSession, sfDir: String): IndexSearcher =
    cachedIndex(spark, sfDir, "", "whitespace", payloads = false, urls = true)(
      _.select(format_string("%012d", col("doc_id")).as("url"), col("text")))

  /** Payload-carrying twin of [[searcher]]: the same documents corpus with
    * each token annotated as "tok|p" (p = 1-based token position), indexed
    * through the delimited-payload analyzer. Token positions are
    * SQL-recoverable, so payload scoring gets a real DuckDB oracle. */
  def payloadSearcher(spark: SparkSession, sfDir: String): IndexSearcher =
    cachedIndex(spark, sfDir, "pay-", "delimited", payloads = true, urls = false) { docs =>
      val toks = filter(split(col("text"), " "), t => t =!= "")
      docs.select(
        format_string("%012d", col("doc_id")).as("url"),
        array_join(transform(toks,
          (t, i) => concat(t, lit("|"), (i + 1).cast("string"))), " ").as("text"))
    }

  /** Top-k through the payload index with float-decoding similarity. */
  def payloadTopK(spark: SparkSession, sfDir: String, q: Query, k: Int): DataFrame =
    toDF(spark, payloadSearcher(spark, sfDir)
      .search(q, k, graft.score.PayloadDecodingSimilarity()))

  /** Stored-field fetch: the top-k hits with the url each hit's segment
    * stores (SURVEY.md §1 stored fields; one fetch job over the ≤ k
    * segments the hits fall in). */
  def topKWithUrls(spark: SparkSession, sfDir: String, q: Query, k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    val hits = s.search(q, k, BM25Exact())
    import spark.implicits._
    hits.zip(s.urls(hits.map(_.docId).toSeq))
      .map { case (h, url) => (h.docId, url, round4(h.score)) }
      .toSeq.toDF("doc_id", "url", "score")
  }

  private def round4(score: Double): Double =
    BigDecimal(score).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def toDF(spark: SparkSession, hits: Array[graft.search.ScoredDoc]): DataFrame = {
    import spark.implicits._
    hits.map(h => (h.docId, round4(h.score))).toSeq.toDF("doc_id", "score")
  }

  def topK(spark: SparkSession, sfDir: String, q: Query, k: Int,
      sim: Similarity = BM25Exact()): DataFrame = {
    val s = searcher(spark, sfDir)
    toDF(spark, s.search(q, k, sim))
  }

  /** All docs matching — for phrase/span/boolean match sets. Fully
    * distributed: match enumeration happens per segment task and the result
    * stays a DataFrame (IndexSearcher.matchingDocs — no driver collect). */
  def matchingDocs(spark: SparkSession, sfDir: String, q: Query): DataFrame =
    searcher(spark, sfDir).matchingDocs(q)

  /** Parse with metadata-field dispatch (`lang:en`, `source:src3`), run the
    * engine part as a distributed match set, and apply the metadata
    * predicates as Catalyst semi/anti-joins on the source table — the
    * single-field engine's field-dispatch semantics: index queries score,
    * metadata fields filter. Both sides stay distributed (the filter side
    * is a broadcastable narrow projection). */
  def parsedFieldMatch(spark: SparkSession, sfDir: String, raw: String): DataFrame = {
    val parsed = graft.search.QueryParser.parse(raw,
      graft.analysis.WhitespaceAnalyzer, metaFields = Set("lang", "source", "url"))
    val (engineQ, metaMust, metaNot) = Query.splitMetaFilters(parsed)
    var hits = matchingDocs(spark, sfDir, engineQ)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def pred(ms: Seq[graft.search.MetaFieldQ]) =
      ms.map(m => col(m.field) === lit(m.value)).reduce(_ && _)
    if (metaMust.nonEmpty)
      hits = hits.join(docs.filter(pred(metaMust)).select(col("doc_id")), "doc_id", "left_semi")
    if (metaNot.nonEmpty)
      hits = hits.join(docs.filter(pred(metaNot)).select(col("doc_id")), "doc_id", "left_anti")
    hits
  }

  /** Explanation values for the top-k of `q` — the reference's CheckHits
    * invariant (explain(q, doc).value == the score search collected,
    * src/test/search/CheckHits.cpp:204-269) exposed to the driver oracle:
    * the returned rows are built from the EXPLANATION tree's root values,
    * so they hash-match the BM25 SQL oracle only if every per-node
    * arithmetic step agrees with the scorer. One one-task Spark job per
    * hit (k is small). */
  def explainTopK(spark: SparkSession, sfDir: String, q: Query, k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    val sim = BM25Exact()
    val hits = s.search(q, k, sim)
    import spark.implicits._
    // batched: one Spark job explains every hit (r6 — the per-hit loop ran
    // a df job + a one-task job per doc, ~2k jobs/s of pure scheduling)
    val exps = s.explainMany(q, hits.map(_.docId).toSeq, sim)
    hits.toSeq.zip(exps).map { case (h, e) =>
      require(e.matched, s"explain mismatch: doc ${h.docId} scored but not matched")
      (h.docId,
        BigDecimal(e.value).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("doc_id", "score")
  }

  private[graft] def copyDir(src: java.io.File, dst: java.io.File): Unit = {
    dst.mkdirs()
    val files = src.listFiles()
    if (files != null) files.foreach { f =>
      val t = new java.io.File(dst, f.getName)
      if (f.isDirectory) copyDir(f, t)
      else java.nio.file.Files.copy(f.toPath, t.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** A fresh copy of the cached index for `sfDir` in a scratch dir named
    * by `tag`, re-made per call so the mutating entries stay idempotent. */
  private def scratchCopy(spark: SparkSession, sfDir: String, tag: String): java.io.File = {
    val scratch = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-index-$tag-" + sfDir.replaceAll("[^a-zA-Z0-9.]", "_"))
    rm(scratch)
    copyDir(new java.io.File(searcher(spark, sfDir).indexDir), scratch)
    scratch
  }

  /** Delete-then-requery — the reference's core delete behavior
    * (/root/reference/src/test/index/IndexReaderTest.cpp delete-then-search,
    * SegmentTermDocs skipping deleted docs) as a driver-oracled entry:
    * copy the cached index to a scratch dir, tombstone every doc matching
    * `del` through a searcher, then REOPEN — the fresh searcher's
    * delgen-keyed readers must observe the new del bitsets — and return the
    * surviving match set of `keep`. The scratch copy is re-made per call so
    * the entry stays idempotent (deletes are destructive). */
  def deleteRequery(spark: SparkSession, sfDir: String,
      del: Query, keep: Query): DataFrame = {
    val scratch = scratchCopy(spark, sfDir, "del")
    new IndexSearcher(spark, scratch.getPath).deleteDocs(del)
    new IndexSearcher(spark, scratch.getPath).matchingDocs(keep)
  }

  /** Cross-index top-k — the reference's MultiSearcher ranking invariant
    * (src/test/search/MultiSearcherRankingTest.cpp: one corpus split over
    * several physical indexes must rank exactly like the merged index)
    * surfaced to the driver oracle: the documents table is split by doc_id
    * parity into TWO separately-built indexes, searched through
    * [[graft.search.MultiIndexSearcher]] (summed df, combined corpus
    * stats, starts[] docId remap), and the offset docIds are mapped back
    * to global doc_ids through the urls each sub-index stores. The result
    * must hash-match the same BM25 score CTE as the single-index `bm25_topk`
    * — possible only if cross-index df/stats combination is exact. (The
    * oracle's tie-break clause is `doc_id % 2, doc_id` — the merged-docId
    * order of the reference's docBase-offset MultiSearcher merge — so an
    * exact score tie at the k boundary selects identically.) */
  def multiIndexTopK(spark: SparkSession, sfDir: String, q: Query, k: Int): DataFrame = {
    val subs = Seq(0, 1).map { p =>
      cachedIndex(spark, sfDir, s"mi$p-", "whitespace", payloads = false, urls = true)(
        _.filter(col("doc_id") % 2 === p)
          .select(format_string("%012d", col("doc_id")).as("url"), col("text")))
    }
    val multi = new MultiIndexSearcher(subs)
    val hits = multi.search(q, k, BM25Exact())
    // starts[]-offset docId → the sub-index's url, a zero-padded doc_id
    val docIds = subs.zip(multi.starts).flatMap { case (s, off) =>
      val mine = hits.map(_.docId).filter(d => d >= off && d < off + s.meta.numDocs)
      mine.zip(s.urls(mine.map(_ - off).toSeq).map(_.get.toLong))
    }.toMap
    import spark.implicits._
    hits.map(h => (docIds(h.docId), round4(h.score))).toSeq.toDF("doc_id", "score")
  }

  /** Atomic update-then-requery — the reference's core mutation,
    * IndexWriter::updateDocument (delete-by-term + add in ONE commit,
    * /root/reference/src/core/index/IndexWriter.cpp:941-1004), as a
    * driver-oracled entry: on a scratch copy of the cached index, every
    * doc containing `delTerm` is atomically replaced by a twin whose
    * `delTerm` tokens read `replacement` (urls shifted by numDocs so new
    * engine docIds are SQL-predictable: N + rank of the replaced doc), in
    * one `updateDocuments` call; a FRESH searcher then returns the match
    * set of `keep`. The scratch copy is re-made per call so the entry
    * stays idempotent. */
  def updateRequery(spark: SparkSession, sfDir: String, delTerm: String,
      replacement: String, keep: Query): DataFrame = {
    val scratch = scratchCopy(spark, sfDir, "upd")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = searcher(spark, sfDir).meta.numDocs
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val replaced = docs.filter(array_contains(toks, delTerm))
      .select(format_string("%012d", col("doc_id") + n).as("url"),
        array_join(transform(toks,
          t => when(t === delTerm, lit(replacement)).otherwise(t)), " ").as("text"))
    graft.streaming.StreamingIndexer.updateDocuments(spark, scratch.getPath,
      TermQ(delTerm), replaced, analyzer = "whitespace")
    new IndexSearcher(spark, scratch.getPath).matchingDocs(keep)
  }

  /** Point-in-time requery — the reference's
    * `IndexReader::open(IndexCommit)` / SnapshotDeletionPolicy semantics
    * (/root/reference/src/core/index/SnapshotDeletionPolicy.cpp: a
    * retained commit stays readable as-of its snapshot) as a driver-oracled
    * entry: on a scratch copy of the cached index, capture the latest
    * commit generation, tombstone every doc matching `del` (which commits
    * a LATER generation), then return the match set of `keep` from BOTH
    * views tagged by name — the searcher pinned at the captured generation
    * must see the pre-delete corpus (its delgen-keyed readers never select
    * the newer del files), while a fresh searcher must see the deletes.
    * Non-vacuous because `keep ∩ del` is non-empty: a PIT reader that
    * wrongly observed the deletes would lose those rows. */
  def pitRequery(spark: SparkSession, sfDir: String,
      del: Query, keep: Query): DataFrame = {
    val scratch = scratchCopy(spark, sfDir, "pit")
    val gen0 = IndexMetaIO.commitGens(scratch.getPath).max
    new IndexSearcher(spark, scratch.getPath).deleteDocs(del)
    val pit = new IndexSearcher(spark, scratch.getPath, Some(gen0))
    val latest = new IndexSearcher(spark, scratch.getPath)
    pit.matchingDocs(keep).select(lit("pit").as("view"), col("doc_id"))
      .unionAll(latest.matchingDocs(keep)
        .select(lit("latest").as("view"), col("doc_id")))
  }

  /** Delete → compact → requery — segment merge with tombstone reclaim
    * (the reference's SegmentMerger dropping deleted docs,
    * /root/reference/src/core/index/SegmentMerger.cpp) through the driver
    * oracle: on a scratch copy, tombstone every doc matching `del`, run
    * the DISTRIBUTED tiered compaction at merge factor 8 — several merge
    * groups execute as one Spark job, one task each (postings reclaimed,
    * still-dead slots carried in each merged del bitset riding the same
    * atomic publish) — and return the surviving match set of `keep` from
    * a fresh searcher over the compacted index. The result must equal the
    * pre-compaction survivor set — DuckDB recomputes it directly. */
  def compactRequery(spark: SparkSession, sfDir: String,
      del: Query, keep: Query): DataFrame = {
    val scratch = scratchCopy(spark, sfDir, "cpt")
    new IndexSearcher(spark, scratch.getPath).deleteDocs(del)
    graft.index.Maintenance.compact(spark, scratch.getPath,
      minDocs = Int.MaxValue, maxGroupSegments = 8)
    new IndexSearcher(spark, scratch.getPath).matchingDocs(keep)
  }

  /** Field-sorted top-n over an engine match set — the
    * TopFieldCollector/SortField path (reference
    * src/core/search/TopFieldCollector.cpp, SortField.cpp) re-expressed:
    * the match set stays distributed, the sort key comes from the columnar
    * source (the FieldCache equivalent), and Catalyst's
    * TakeOrderedAndProject IS the bounded field collector — per-partition
    * heaps of n, then a driver merge of partition tops. */
  def sortedTopK(spark: SparkSession, sfDir: String, q: Query, n: Int): DataFrame = {
    val hits = matchingDocs(spark, sfDir, q)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"))
    hits.join(docs, "doc_id")
      .orderBy(asc("source"), desc("doc_id"))
      .limit(n)
  }

  /** Whole-document highlighting of every doc matching `q` — the contrib
    * Highlighter (reference /root/reference/src/contrib/highlighter/
    * Highlighter.cpp fragment loop, SimpleHTMLFormatter.cpp tag wrapping,
    * QueryTermExtractor.cpp term weights) driven to the driver oracle:
    * the engine match set (distributed, per-segment tasks) joins the doc
    * store, then each doc renders ONE whole-text fragment with every query
    * term wrapped in <B>…</B> — offset-exact reconstruction DuckDB can
    * rebuild token-by-token (split → wrap → re-join). Highlighting is a
    * narrow per-partition map after the join: at 100 TB it parallelizes
    * per doc with nothing shared but the broadcast query. Text is
    * normalized to single-space token joins first so the SQL twin's
    * reconstruction is byte-exact (the testdata is already in that form —
    * the normalization is an identity guard, not a semantic change). */
  def highlightMatches(spark: SparkSession, sfDir: String, q: Query): DataFrame = {
    val s = searcher(spark, sfDir)
    val matches = s.matchingDocs(q)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    import spark.implicits._
    val bcQ = spark.sparkContext.broadcast(q)
    docs.join(matches, "doc_id").as[(Long, String)]
      .mapPartitions { it =>
        val query = bcQ.value
        it.map { case (id, text) =>
          val norm = text.split(' ').filter(_.nonEmpty).mkString(" ")
          val frag = graft.search.Highlighter.bestFragments(
            query, graft.analysis.WhitespaceAnalyzer, norm,
            fragmentSize = Int.MaxValue, maxFragments = 1)
          (id, frag.headOption.getOrElse(norm))
        }
      }.toDF("doc_id", "highlighted")
  }

  /** Hybrid retrieval: reciprocal-rank fusion (RRF — Cormack/Clarke/
    * Büttcher, SIGIR'09) of the lexical BM25 ranking and the dense
    * embedding-cosine ranking, the standard lexical+vector fusion a
    * modern retrieval stack runs. Each side is a BOUNDED top-`kEach`
    * list produced distributed (per-segment WAND tasks / a broadcast
    * query-vector scan); fusion itself is a full-outer join of two
    * k-row lists — driver-trivial at any corpus size, which is the
    * point of rank fusion over score fusion (no cross-engine score
    * calibration, no unbounded intermediate). Text ranks come from the
    * searcher's own hit order (full-precision score desc, docId asc),
    * not the 4dp-rounded display score, so ties round-trip exactly. */
  def hybridTopK(spark: SparkSession, sfDir: String, q: Query,
      queryVecId: Long, kEach: Int, k: Int, rrfK: Int = 60): DataFrame = {
    import spark.implicits._
    val hits = searcher(spark, sfDir).search(q, kEach, BM25Exact())
    val text = hits.zipWithIndex.map { case (h, i) => (h.docId, i + 1) }
      .toSeq.toDF("doc_id", "rt")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vec = graft.pipeline.Ann
      .bruteForceTopK(e, e.filter(col("vec_id") === queryVecId), kEach)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("rv"))
    text.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(
          when(col("rt").isNotNull, lit(1.0) / (col("rt") + rrfK)).otherwise(lit(0.0)) +
            when(col("rv").isNotNull, lit(1.0) / (col("rv") + rrfK)).otherwise(lit(0.0)),
          6).as("fused"))
      .orderBy(col("fused").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Percolation / query routing — the reference MemoryIndex's primary
    * use case (/root/reference/src/contrib/memory/MemoryIndex.cpp class
    * comment: "a percolator-style matcher"): a registered query set is
    * broadcast, each document is analyzed ONCE into a single-doc in-memory
    * index, and every (doc, query) match emits a routing row. Narrow
    * per-partition map over the doc store — no index, no shuffle; at
    * 100 TB each executor percolates its split independently, which is
    * exactly how a streaming ingest would tag documents with standing
    * queries. */
  def percolate(spark: SparkSession, sfDir: String,
      queries: Seq[(String, Query)]): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    import spark.implicits._
    val bcQs = spark.sparkContext.broadcast(queries)
    docs.as[(Long, String)]
      .mapPartitions { it =>
        val qs = bcQs.value
        it.flatMap { case (id, text) =>
          val mi = new graft.search.MemoryIndex(
            text, graft.analysis.WhitespaceAnalyzer)
          qs.collect { case (name, q) if mi.matches(q) => (id, name) }
        }
      }.toDF("doc_id", "query_name")
  }
}
