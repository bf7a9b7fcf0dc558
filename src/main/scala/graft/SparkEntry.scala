package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.pipeline.{Ann, Dedup, Multimodal, TextOps}
import graft.search.{AvgPayloadFunction, BoolQ, CustomScoreQ, DisMaxQ, DocLenVS, FuzzyQ,
  PayloadNearQ, PhraseQ, PrefixQ, SpanFirstQ, SpanNearQ, SpanNotQ, SpanTermQ, TermQ,
  TermRangeQ, WildcardQ}

/** Driver contract (see the builder prompt): `queries` are the operator
  * inventory exercised against the driver's parquet tables; `oracleSql` are
  * DuckDB twins of each. Engine-backed entries (bm25_*, phrase_match) run
  * the actual segment index + scorers; their oracles recompute BM25 in SQL
  * over the same whitespace tokenization (BM25Exact mode — SURVEY.md §5.2-5). */
object SparkEntry {

  private val ivfCentroids =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Double]]]

  private val pqBooks =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Double]]]]

  /** PQ code frames cached per (table, session) — the encode-once half of
    * train-once: at scale the codes table is written at index build and is
    * the only thing resident; re-encoding the corpus per query batch would
    * repeat the m×codewords distance scan every call. Session-checked so a
    * stale frame from a stopped session is rebuilt, never reused. */
  private val codedFrames =
    scala.collection.mutable.Map.empty[String, (SparkSession, DataFrame)]
  private def cachedCoded(key: String, s: SparkSession)(build: => DataFrame): DataFrame =
    codedFrames.synchronized {
      codedFrames.get(key) match {
        case Some((sess, df)) if sess eq s => df
        case stale =>
          // release a frame displaced by a session change; best-effort —
          // unpersist against an already-stopped session throws
          stale.foreach { case (_, df) =>
            try df.unpersist() catch { case _: Throwable => () } }
          val df = build.cache()
          codedFrames.put(key, (s, df))
          df
      }
    }

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Flagship: BM25 top-10 on sf0.001 documents through the full engine. */
  def entry(spark: SparkSession): DataFrame =
    EngineQueries.topK(spark, "/root/testdata/sf0.001",
      BoolQ(should = Seq(TermQ("window"), TermQ("spark"), TermQ("merge"))), 10)

  // ---- shared oracle-SQL fragments -------------------------------------

  /** Whitespace tokenization CTEs shared by the text oracles. */
  private val tokCte =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tokf AS (SELECT doc_id, term FROM tok WHERE term <> '')""".stripMargin

  /** BM25 (k1=1.2, b=0.75, Lucene idf) score CTE over whitespace tokens —
    * the SQL twin of BM25Exact. */
  private def bm25Cte(termList: String, extraTf: String = ""): String =
    s"""$tokCte,
       |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS f FROM tokf GROUP BY 1, 2),
       |dl AS (SELECT d.doc_id, coalesce(t.c, 0)::DOUBLE AS dl FROM documents d
       |       LEFT JOIN (SELECT doc_id, count(*) AS c FROM tokf GROUP BY 1) t USING (doc_id)),
       |st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
       |              (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
       |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM (SELECT DISTINCT doc_id, term FROM tokf) GROUP BY 1),
       |sc AS (SELECT tf.doc_id,
       |              sum( ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
       |                   * (tf.f * (1.2 + 1)) / (tf.f + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS score
       |       FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |       WHERE tf.term IN ($termList) GROUP BY 1$extraTf)""".stripMargin

  /** Per-(doc, term) BM25 scores — feeds combinators like DisMax. */
  private def bm25PerTermCte(termList: String): String =
    s"""$tokCte,
       |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS f FROM tokf GROUP BY 1, 2),
       |dl AS (SELECT d.doc_id, coalesce(t.c, 0)::DOUBLE AS dl FROM documents d
       |       LEFT JOIN (SELECT doc_id, count(*) AS c FROM tokf GROUP BY 1) t USING (doc_id)),
       |st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
       |              (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
       |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM (SELECT DISTINCT doc_id, term FROM tokf) GROUP BY 1),
       |ts AS (SELECT tf.doc_id, tf.term,
       |              ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
       |              * (tf.f * (1.2 + 1)) / (tf.f + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS sc
       |       FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |       WHERE tf.term IN ($termList))""".stripMargin

  private val stopList = graft.analysis.Filters.EnglishStopWords.toSeq.sorted
    .map(w => s"'$w'").mkString(", ")

  /** 1-based token positions over whitespace tokens — the SQL twin of the
    * engine's position index (engine position = pos - 1; gaps/ends are
    * differences, so 1- vs 0-based cancels). */
  private val posCte =
    """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
      |p AS (SELECT doc_id, i AS pos, toks[i] AS term
      |      FROM t, unnest(generate_series(1, len(toks))) u(i))""".stripMargin

  // ---- queries ----------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- relational core (scan/filter/agg/join/window/setop/anti)
    "q1_agg" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          count(lit(1)).as("cnt"))
    }),

    "q2_join_topk" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_custkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    }),

    "q3_filter" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("cnt"))
    }),

    "q4_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      tbl(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("prev_value", lag("value", 1).over(w))
        .filter(col("rn") <= 3 && col("user_id") < 50)
        .select(col("user_id"), col("event_id"), col("rn"),
          round(col("value") - coalesce(col("prev_value"), lit(0.0)), 4).as("delta"))
    }),

    "q5_setop" -> ((s, dir) => {
      val a = tbl(s, dir, "lineitem").filter(col("l_quantity") > 49)
        .select(col("l_partkey").as("partkey")).distinct()
      val b = tbl(s, dir, "part").filter(col("p_size") > 40)
        .select(col("p_partkey").as("partkey")).distinct()
      a.intersect(b)
    }),

    "q6_anti" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val big = tbl(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("o_orderkey")).distinct()
      o.join(big, Seq("o_orderkey"), "left_anti").agg(count(lit(1)).as("cnt"))
    }),

    // -- text statistics over documents (engine sub-operators, SURVEY §2.4)
    "df_counts" -> ((s, dir) =>
      TextOps.docFreqs(tbl(s, dir, "documents"))
        .orderBy(desc("df"), asc("term")).limit(50)),

    "doclen" -> ((s, dir) => TextOps.docLengths(tbl(s, dir, "documents"))),

    "corpus_stats" -> ((s, dir) => {
      val d = TextOps.docLengths(tbl(s, dir, "documents"))
      d.agg(count(lit(1)).as("n"), sum("dl").as("tot_tokens"))
        .select(col("n"), col("tot_tokens"),
          round(col("tot_tokens").cast("double") / col("n"), 4).as("avgdl"))
    }),

    "tf_top" -> ((s, dir) =>
      TextOps.termFreqs(tbl(s, dir, "documents")).filter(col("freq") >= 3)),

    // -- the engine itself (segment index + BM25 + WAND + phrase)
    "bm25_topk" -> ((s, dir) =>
      EngineQueries.topK(s, dir,
        BoolQ(should = Seq(TermQ("window"), TermQ("spark"), TermQ("merge"))), 10)),

    "bm25_and" -> ((s, dir) =>
      EngineQueries.topK(s, dir,
        BoolQ(must = Seq(TermQ("window"), TermQ("batch"))), 10)),

    // hybrid lexical+dense retrieval: reciprocal-rank fusion of the BM25
    // top-20 (engine WAND path) with the embedding-cosine top-20 for
    // query vector 0; DuckDB recomputes both rankings and the same
    // 1/(60+rank) fusion
    "hybrid_topk" -> ((s, dir) =>
      EngineQueries.hybridTopK(s, dir,
        BoolQ(should = Seq(TermQ("window"), TermQ("spark"), TermQ("merge"))),
        queryVecId = 0L, kEach = 20, k = 10)),

    "bm25_not" -> ((s, dir) =>
      EngineQueries.topK(s, dir,
        BoolQ(must = Seq(TermQ("window")), mustNot = Seq(TermQ("spark"))), 10)),

    "phrase_match" -> ((s, dir) =>
      EngineQueries.matchingDocs(s, dir, PhraseQ(Seq("key", "agg")))),

    // span proximity (SpanNearQ, ordered, slop=2) as a distributed match set
    "span_near" -> ((s, dir) =>
      EngineQueries.matchingDocs(s, dir,
        SpanNearQ(Seq(SpanTermQ("window"), SpanTermQ("merge")), slop = 2, inOrder = true))),

    // unordered span near — both orders within the window
    "span_near_unordered" -> ((s, dir) =>
      EngineQueries.matchingDocs(s, dir,
        SpanNearQ(Seq(SpanTermQ("window"), SpanTermQ("merge")), slop = 2, inOrder = false))),

    // span-not: 'batch' (high df) with no adjacent 'key batch' bigram
    "span_not" -> ((s, dir) =>
      EngineQueries.matchingDocs(s, dir,
        SpanNotQ(SpanTermQ("batch"),
          SpanNearQ(Seq(SpanTermQ("key"), SpanTermQ("batch")), slop = 0, inOrder = true)))),

    // span-first: docs starting with 'the' in the first 2 positions
    "span_first" -> ((s, dir) =>
      EngineQueries.matchingDocs(s, dir, SpanFirstQ(SpanTermQ("the"), 2))),

    // high-df term match set: thousands of rows must stream back distributed
    "match_highdf" -> ((s, dir) =>
      EngineQueries.matchingDocs(s, dir, TermQ("batch"))),

    // multi-term family as distributed match sets (dictionary expansion +
    // constant-score path), each with a SQL twin over the token CTE
    "prefix_match" -> ((s, dir) =>
      EngineQueries.matchingDocs(s, dir, PrefixQ("wind"))),

    "wildcard_match" -> ((s, dir) =>
      EngineQueries.matchingDocs(s, dir, WildcardQ("s?an"))),

    "range_match" -> ((s, dir) =>
      EngineQueries.matchingDocs(s, dir,
        TermRangeQ(Some("spark"), Some("table"), includeLower = true, includeUpper = false))),

    "fuzzy_match" -> ((s, dir) =>
      EngineQueries.matchingDocs(s, dir, FuzzyQ("windoe"))),

    // sloppy phrase (slop=2) as a match set
    "sloppy_match" -> ((s, dir) =>
      EngineQueries.matchingDocs(s, dir, PhraseQ(Seq("window", "merge"), slop = 2))),

    // DisMax scoring: max + 0.5·(sum−max) of the BM25Exact term scores
    "dismax_topk" -> ((s, dir) =>
      EngineQueries.topK(s, dir,
        DisMaxQ(Seq(TermQ("window"), TermQ("merge")), tieBreaker = 0.5f), 10)),

    // function scoring: BM25 of 'window' boosted by the doc-length value
    // source (CustomScoreQuery default provider = product)
    "custom_score" -> ((s, dir) =>
      EngineQueries.topK(s, dir,
        CustomScoreQ(TermQ("window"), Seq(DocLenVS)), 10)),

    // the classic-syntax parser front-end produces the same plan as
    // bm25_topk — same oracle, different entry path
    "bm25_parsed" -> ((s, dir) =>
      EngineQueries.topK(s, dir,
        graft.search.QueryParser.parse("window spark merge",
          graft.analysis.WhitespaceAnalyzer), 10)),

    // payload-scored proximity: the documents corpus re-indexed with each
    // token annotated "tok|position" through the delimited-payload
    // analyzer; score = span score x avg of the first match's payloads
    // (the 1-based positions of the matched bigram) — SQL-recoverable, so
    // the payload channel through composite spans gets a full oracle
    "payload_near" -> ((s, dir) =>
      EngineQueries.payloadTopK(s, dir,
        PayloadNearQ(Seq(SpanTermQ("key"), SpanTermQ("agg")), slop = 0,
          inOrder = true, AvgPayloadFunction), 10)),

    // parser field dispatch: `lang:`/`source:` terms become metadata
    // predicates (Catalyst semi/anti-joins on the source table), the rest
    // scores through the index — reference QueryParser per-field dispatch
    // re-expressed for a single-text-field engine
    "parsed_field_match" -> ((s, dir) =>
      EngineQueries.parsedFieldMatch(s, dir, "lang:en -source:src0 batch")),

    // stored-field fetch: hits with the urls their segments store (url =
    // padded doc_id)
    "doc_fetch" -> ((s, dir) =>
      EngineQueries.topKWithUrls(s, dir,
        BoolQ(should = Seq(TermQ("window"), TermQ("spark"), TermQ("merge"))), 10)),

    // score explanations through the driver oracle: rows are the EXPLAIN
    // tree's root values for the top-10 of the bm25_topk query — they
    // hash-match the BM25 SQL oracle only if every explanation node's
    // arithmetic agrees with the scorer (the reference's CheckHits
    // value==score invariant, driver-checked)
    "explain_scores" -> ((s, dir) =>
      EngineQueries.explainTopK(s, dir,
        BoolQ(should = Seq(TermQ("window"), TermQ("spark"), TermQ("merge"))), 10)),

    // delete-then-requery on a scratch copy: tombstone every doc containing
    // 'spark', reopen (delgen-keyed readers), return surviving 'window'
    // matches — the reference's IndexReaderTest delete-then-search behavior
    // through the driver oracle
    "delete_requery" -> ((s, dir) =>
      EngineQueries.deleteRequery(s, dir, del = TermQ("spark"), keep = TermQ("window"))),

    // delete -> distributed compact -> requery on a scratch copy: tombstone
    // 'spark' docs, merge the whole index at factor 8 (several merge groups
    // in ONE Spark job; postings reclaimed, dead slots carried), and return
    // surviving 'window' OR 'merge' matches — SegmentMerger-with-deletes
    // semantics through the driver oracle
    "compact_requery" -> ((s, dir) =>
      EngineQueries.compactRequery(s, dir, del = TermQ("spark"),
        keep = BoolQ(should = Seq(TermQ("window"), TermQ("merge"))))),

    // point-in-time requery on a scratch copy: snapshot the commit gen,
    // tombstone 'spark' docs (a later gen), then read 'window' matches from
    // BOTH the pinned snapshot (pre-delete corpus) and a fresh searcher
    // (post-delete) — the reference's IndexReader::open(IndexCommit)/
    // SnapshotDeletionPolicy isolation through the driver oracle
    "pit_requery" -> ((s, dir) =>
      EngineQueries.pitRequery(s, dir, del = TermQ("spark"), keep = TermQ("window"))),

    // cross-index search: the documents corpus split by doc_id parity into
    // TWO separately-built indexes, searched through MultiIndexSearcher
    // (summed df, combined stats, starts[] docId remap) — must hash-match
    // the SAME BM25 oracle as the single-index bm25_topk (the reference's
    // MultiSearcherRankingTest invariant, driver-checked)
    "multi_index_topk" -> ((s, dir) =>
      EngineQueries.multiIndexTopK(s, dir,
        BoolQ(should = Seq(TermQ("window"), TermQ("spark"), TermQ("merge"))), 10)),

    // atomic update-then-requery on a scratch copy: every doc containing
    // 'spark' is replaced (delete + re-add with 'spark'→'replaced') in ONE
    // updateDocuments commit; the fresh searcher's match set of
    // window OR replaced must show deletes AND adds together — the
    // reference's IndexWriter::updateDocument semantics through the oracle
    "update_requery" -> ((s, dir) =>
      EngineQueries.updateRequery(s, dir, delTerm = "spark",
        replacement = "replaced",
        keep = BoolQ(should = Seq(TermQ("window"), TermQ("replaced"))))),

    // batch gaps-and-islands sessionization over the events table (8h gap)
    // — the batch twin of StreamOps.sessionize (stream/batch agreement is
    // pinned in StreamingSpec; this entry gives the session operator a
    // DuckDB oracle)
    "sessionize" -> ((s, dir) =>
      graft.streaming.StreamOps.sessionizeBatch(tbl(s, dir, "events"),
        gapUs = 8L * 3600 * 1000000)),

    // engine-path sort-by-field top-k (TopFieldCollector/SortField): match
    // set of 'window' ordered by a source column, bounded via
    // TakeOrderedAndProject
    "sorted_topk" -> ((s, dir) =>
      EngineQueries.sortedTopK(s, dir, TermQ("window"), 20)),

    // contrib Highlighter end-to-end: every doc matching spark OR window
    // renders one whole-text fragment with each query term <B>-wrapped;
    // DuckDB rebuilds the exact markup token-by-token
    "highlight" -> ((s, dir) =>
      EngineQueries.highlightMatches(s, dir,
        BoolQ(should = Seq(TermQ("spark"), TermQ("window"))))),

    // MemoryIndex percolation (query routing): three standing queries —
    // a phrase, a must/not boolean, an ordered span-near — are matched
    // against every doc through a per-doc in-memory index; emits
    // (doc_id, query_name) routing rows, recomputed relationally by DuckDB
    "percolate" -> ((s, dir) =>
      EngineQueries.percolate(s, dir, Seq(
        "p_phrase" -> PhraseQ(Seq("key", "agg")),
        "p_bool" -> BoolQ(must = Seq(TermQ("spark")), mustNot = Seq(TermQ("window"))),
        "p_span" -> SpanNearQ(Seq(SpanTermQ("window"), SpanTermQ("merge")),
          slop = 2, inOrder = true)))),

    // batch-mode twin of StreamOps.windowedTermCounts (the IDENTICAL plan
    // builder the streaming entry point uses — Catalyst strips the
    // watermark node in batch): 10-minute tumbling-window term counts over
    // the events stream-shaped table
    "streaming_terms" -> ((s, dir) => {
      val pages = tbl(s, dir, "events")
        .select(col("ts").as("warc_ts"), col("event_type").as("text"))
      graft.streaming.StreamOps.windowedTermCounts(pages, analyzerName = "whitespace")
        .select(col("win_start").cast("long").as("win_start"), col("term"), col("freq"))
    }),

    // -- dedup family
    "dedup_exact" -> ((s, dir) => TextOps.dedupExact(tbl(s, dir, "documents"))),

    // exact Jaccard, scale-safe: banded candidates + exact verify (the
    // inverted-shingle self-join remains test-oracle-only — quadratic in
    // per-shingle df)
    "dedup_jaccard" -> ((s, dir) =>
      Dedup.exactJaccardPairs(tbl(s, dir, "documents"), w = 3, minJaccard = 0.8)),

    // deterministic stratified mix sampling: per-source keep fractions
    // decided by a hash of the doc id (same doc kept on every run and
    // every cluster size — not a partition-layout-dependent random draw);
    // DuckDB evaluates the identical md5-prefix predicate
    "mix_sample" -> ((s, dir) =>
      TextOps.mixSample(tbl(s, dir, "documents"),
        quotas = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        defaultQuota = 0.125)),

    // cluster resolution over the near-dup pair graph (connected
    // components by smallest-label propagation): each paired doc labeled
    // with its component's min doc_id — the canonical-representative step
    // after pair generation; DuckDB recomputes components via a recursive
    // CTE over the same exact-Jaccard pairs
    "dedup_clusters" -> ((s, dir) =>
      Dedup.dupClusters(
        Dedup.exactJaccardPairs(tbl(s, dir, "documents"), w = 3, minJaccard = 0.8))),

    "dedup_minhash" -> ((s, dir) =>
      Dedup.minHashPairs(tbl(s, dir, "documents"), w = 3, minJaccard = 0.8,
        bands = 32, rowsPerBand = 4)),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(tbl(s, dir, "documents"), maxDist = 3)
        .select("doc_a", "doc_b", "dist")),

    // embedding-cosine near-dup (LSH candidates + exact verify); the
    // driver's synthetic embeddings are i.i.d. gaussian — no planted
    // near-dups, so the correct answer here is the empty set on both
    // sides (PipelineSpec proves the non-empty planted case)
    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingPairs(tbl(s, dir, "embeddings"), minCos = 0.95)),

    // -- similarity search
    "ann_cosine" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 5)
    }),

    "ann_lsh" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      // multiprobe=2 (the lshTopK default): the driver's embeddings are
      // i.i.d. gaussian — the adversarial case for fixed hyperplane
      // buckets (true top-5 sits at cos ~0.35, far below the near-dup
      // design point), so the query-side Hamming-ball probes buy back
      // recall (0.96 avg / 0.80 min at both sf, vs 0.64/0.12 at
      // multiprobe=1) at bounded, query-side-only candidate cost
      Ann.lshTopK(e, e.filter(col("vec_id") < 5), k = 5, multiprobe = 2)
    }),

    "ann_ivf" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      // centroids cached per table — at scale the quantizer trains once at
      // index build and ships with the index; queries only probe
      val cs = ivfCentroids.getOrElseUpdate(dir, Ann.trainIvf(e))
      Ann.ivfTopK(e, e.filter(col("vec_id") < 5), k = 5, trained = Some(cs))
    }),

    "ann_pq" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      // codebooks cached per table — trained once at index build at scale
      val bs = pqBooks.getOrElseUpdate(dir, Ann.trainPq(e))
      val cf = cachedCoded(s"pq|$dir", s)(Ann.encodePq(e, bs))
      Ann.pqTopK(e, e.filter(col("vec_id") < 5), k = 5, trained = Some(bs),
        coded = Some(cf))
    }),

    "ann_ivfpq" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val cs = ivfCentroids.getOrElseUpdate(dir, Ann.trainIvf(e))
      val bs = pqBooks.getOrElseUpdate(dir, Ann.trainPq(e))
      val cf = cachedCoded(s"ivfpq|$dir", s)(Ann.encodeIvfPq(e, cs, bs))
      // nprobe=6: the cell pruning and the PQ distortion COMPOUND, so the
      // composition probes wider than plain IVF's nprobe=4 default
      Ann.ivfPqTopK(e, e.filter(col("vec_id") < 5), k = 5, nprobe = 6,
        trainedIvf = Some(cs), trainedPq = Some(bs), precoded = Some(cf))
    }),

    // recall@5 of the approximate ANN paths against the exact brute force —
    // dual-implementation agreement as a committed, deterministic number
    // (seeds fixed), replacing the bare no-oracle rows with a quality signal
    "ann_lsh_recall" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      Ann.recallAtK(Ann.bruteForceTopK(e, q, k = 5),
        Ann.lshTopK(e, q, k = 5, multiprobe = 2), k = 5)
    }),

    "ann_ivf_recall" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val cs = ivfCentroids.getOrElseUpdate(dir, Ann.trainIvf(e))
      Ann.recallAtK(Ann.bruteForceTopK(e, q, k = 5),
        Ann.ivfTopK(e, q, k = 5, trained = Some(cs)), k = 5)
    }),

    "ann_pq_recall" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val bs = pqBooks.getOrElseUpdate(dir, Ann.trainPq(e))
      val cf = cachedCoded(s"pq|$dir", s)(Ann.encodePq(e, bs))
      Ann.recallAtK(Ann.bruteForceTopK(e, q, k = 5),
        Ann.pqTopK(e, q, k = 5, trained = Some(bs), coded = Some(cf)), k = 5)
    }),

    "ann_ivfpq_recall" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val cs = ivfCentroids.getOrElseUpdate(dir, Ann.trainIvf(e))
      val bs = pqBooks.getOrElseUpdate(dir, Ann.trainPq(e))
      val cf = cachedCoded(s"ivfpq|$dir", s)(Ann.encodeIvfPq(e, cs, bs))
      Ann.recallAtK(Ann.bruteForceTopK(e, q, k = 5),
        Ann.ivfPqTopK(e, q, k = 5, nprobe = 6,
          trainedIvf = Some(cs), trainedPq = Some(bs), precoded = Some(cf)), k = 5)
    }),

    // -- text analysis
    "lang_id" -> ((s, dir) => TextOps.langId(tbl(s, dir, "documents"))),
    "quality" -> ((s, dir) => TextOps.qualityScore(tbl(s, dir, "documents"))),
    "token_count" -> ((s, dir) => TextOps.tokenCounts(tbl(s, dir, "documents"))),
    "fingerprint" -> ((s, dir) => TextOps.fingerprint(tbl(s, dir, "documents"))),

    // Gopher-style repetition filters (dup n-gram fractions, narrow map)
    "repetition" -> ((s, dir) =>
      TextOps.repetitionSignals(tbl(s, dir, "documents"))),

    // unigram-LM quality: mean -ln p(token) under the corpus's own top-V
    // unigram model with an OOV floor of 1/N — the CCNet perplexity-filter
    // shape with a closed-form, oracle-exact model (V=16 so the synthetic
    // 31-token vocabulary actually exercises the OOV path)
    "lm_quality" -> ((s, dir) =>
      TextOps.lmQuality(tbl(s, dir, "documents"), vocabSize = 16)),

    // per-doc top-3 keywords by tf*ln(N/df), deterministic tie-break
    "keyword_extract" -> ((s, dir) =>
      TextOps.keywordExtract(tbl(s, dir, "documents"), k = 3)),

    // code-point Shannon entropy per doc via the native codegen
    // char_entropy expression — narrow map, no per-character shuffle
    "char_entropy" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        round(graft.functions.CharEntropy.charEntropy(col("text")), 4)
          .as("char_entropy"))),

    // cross-document duplicate 8-grams: per-doc shared-gram count/fraction
    "cross_dup_grams" -> ((s, dir) =>
      TextOps.crossDocDupGrams(tbl(s, dir, "documents"))),

    // maximal cross-doc duplicated token spans (one row per span)
    "dup_spans" -> ((s, dir) =>
      TextOps.crossDocDupSpans(tbl(s, dir, "documents"))),

    // span-dedup applied: delete covered tokens, emit count + scrubbed md5
    "dup_span_scrub" -> ((s, dir) =>
      TextOps.scrubDupSpans(tbl(s, dir, "documents"))),

    // MOSS winnowing (k=4, w=4): near-dup candidate pairs sharing >= 2
    // selected fingerprints, hot fingerprints (df > 50) capped pre-join
    "winnow_pairs" -> ((s, dir) =>
      TextOps.winnowPairs(tbl(s, dir, "documents"))),

    // bigram collocations: global top-20 by PMI with a count>=5 floor
    "collocations" -> ((s, dir) =>
      TextOps.collocations(tbl(s, dir, "documents"))),

    // training-mix accounting: per-(source,lang) doc/token counts + share
    "source_mix" -> ((s, dir) =>
      TextOps.sourceMix(tbl(s, dir, "documents"))),

    // C4-style keep/drop gate with per-doc first-failed-rule audit
    "quality_filter" -> ((s, dir) =>
      TextOps.qualityFilter(tbl(s, dir, "documents"))),

    // benchmark-contamination: distinct 5-gram overlap of each training
    // doc against the held-out eval subset (doc_id % 50 == 0), via a
    // broadcast semi-join on the (benchmark-sized) eval gram set
    "contamination" -> ((s, dir) =>
      TextOps.contamination(tbl(s, dir, "documents"), n = 5, evalMod = 50)),

    // PII scrub: the synthetic corpus carries no PII, so inject a
    // deterministic email (+ IP on every 3rd doc) before redacting;
    // counts + a digest of the scrubbed text are the oracle surface
    "pii_scrub" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val enriched = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" ip 10."), (col("doc_id") % 256).cast("string"), lit(".0.7")))
          .otherwise(lit("")))
      TextOps.piiScrub(docs, enriched)
    }),

    // HTML text extraction: synthesize the north-rule schema's html column
    // (head/title/script wrapper around text), strip it through
    // HtmlStripCharFilter, count tokens — title contributes exactly
    // "Doc <id>", script/tags contribute nothing
    "html_strip" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      TextOps.htmlTokenCounts(docs.select(col("doc_id"),
        concat(lit("<html><head><title>Doc "), col("doc_id"),
          lit("</title><script>var x = \"<p>\";</script></head><body><p>"),
          col("text"), lit("</p><!-- footer --></body></html>")).as("html")))
    }),

    // -- multimodal plumbing (binary payload → batched stub decode)
    "multimodal_stub" -> ((s, dir) =>
      Multimodal.extractFeatures(s, Multimodal.eventsAsMedia(tbl(s, dir, "events")))
        .toDF().select("media_id", "kind", "byte_len", "first_byte")),

    // rows-only (no SQL-expressible oracle): full feature row incl. checksum
    "multimodal_checksum" -> ((s, dir) =>
      Multimodal.extractFeatures(s, Multimodal.eventsAsMedia(tbl(s, dir, "events"))).toDF())
  )

  // ---- oracles ----------------------------------------------------------

  def oracleSql: Map[String, String] = Map(

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |round(sum(l_extendedprice), 2) AS sum_price, count(*)::BIGINT AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q2_join_topk" ->
      """SELECT c_custkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q3_filter" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*)::BIGINT AS cnt
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q4_window" ->
      """SELECT user_id, event_id, rn, round(value - coalesce(prev_value, 0), 4) AS delta FROM (
        |  SELECT user_id, event_id, value, ts,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |         lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |  FROM events) WHERE rn <= 3 AND user_id < 50""".stripMargin,

    "q5_setop" ->
      """SELECT DISTINCT l_partkey AS partkey FROM lineitem WHERE l_quantity > 49
        |INTERSECT
        |SELECT DISTINCT p_partkey AS partkey FROM part WHERE p_size > 40""".stripMargin,

    "q6_anti" ->
      """SELECT count(*)::BIGINT AS cnt FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)""".stripMargin,

    "df_counts" ->
      s"""$tokCte
         |SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tokf
         |GROUP BY 1 ORDER BY df DESC, term LIMIT 50""".stripMargin,

    "doclen" ->
      s"""$tokCte
         |SELECT d.doc_id, coalesce(t.dl, 0)::BIGINT AS dl FROM documents d
         |LEFT JOIN (SELECT doc_id, count(*) AS dl FROM tokf GROUP BY 1) t USING (doc_id)""".stripMargin,

    "corpus_stats" ->
      s"""$tokCte
         |SELECT (SELECT count(*) FROM documents)::BIGINT AS n,
         |       count(*)::BIGINT AS tot_tokens,
         |       round(count(*)::DOUBLE / (SELECT count(*) FROM documents), 4) AS avgdl
         |FROM tokf""".stripMargin,

    "tf_top" ->
      s"""$tokCte
         |SELECT doc_id, term, count(*)::BIGINT AS freq FROM tokf
         |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,

    "bm25_topk" ->
      s"""${bm25Cte("'window', 'spark', 'merge'")}
         |SELECT doc_id, round(score, 4) AS score FROM sc
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "bm25_parsed" ->
      s"""${bm25Cte("'window', 'spark', 'merge'")}
         |SELECT doc_id, round(score, 4) AS score FROM sc
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "hybrid_topk" ->
      s"""${bm25Cte("'window', 'spark', 'merge'")},
         |tr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rt
         |       FROM sc ORDER BY score DESC, doc_id LIMIT 20),
         |vr AS (SELECT e.vec_id AS doc_id,
         |         row_number() OVER (ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rv
         |       FROM embeddings e JOIN embeddings q ON q.vec_id = 0 AND e.vec_id <> 0
         |       ORDER BY rv LIMIT 20)
         |SELECT doc_id,
         |       round(coalesce(1.0/(60+rt), 0) + coalesce(1.0/(60+rv), 0), 6) AS fused
         |FROM tr FULL OUTER JOIN vr USING (doc_id)
         |ORDER BY fused DESC, doc_id LIMIT 10""".stripMargin,

    "explain_scores" ->
      s"""${bm25Cte("'window', 'spark', 'merge'")}
         |SELECT doc_id, round(score, 4) AS score FROM sc
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "doc_fetch" ->
      s"""${bm25Cte("'window', 'spark', 'merge'")}
         |SELECT doc_id, printf('%012d', doc_id) AS url, round(score, 4) AS score FROM sc
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "bm25_and" ->
      s"""${bm25Cte("'window', 'batch'", " HAVING count(DISTINCT tf.term) = 2")}
         |SELECT doc_id, round(score, 4) AS score FROM sc
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "bm25_not" ->
      s"""${bm25Cte("'window'")}
         |SELECT doc_id, round(score, 4) AS score FROM sc
         |WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM tokf WHERE term = 'spark')
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "phrase_match" ->
      """SELECT doc_id FROM documents
        |WHERE ' ' || text || ' ' LIKE '% key agg %' ORDER BY doc_id""".stripMargin,

    "span_near" ->
      s"""$posCte
         |SELECT DISTINCT doc_id FROM p a JOIN p b USING (doc_id)
         |WHERE a.term = 'window' AND b.term = 'merge'
         |AND b.pos > a.pos AND b.pos - a.pos - 1 <= 2""".stripMargin,

    "span_near_unordered" ->
      s"""$posCte
         |SELECT DISTINCT doc_id FROM p a JOIN p b USING (doc_id)
         |WHERE a.term = 'window' AND b.term = 'merge'
         |AND abs(b.pos - a.pos) - 1 <= 2""".stripMargin,

    "span_not" ->
      s"""$posCte,
         |bat AS (SELECT doc_id, pos FROM p WHERE term = 'batch'),
         |ex AS (SELECT a.doc_id, a.pos AS s, b.pos + 1 AS e
         |       FROM p a JOIN p b USING (doc_id)
         |       WHERE a.term = 'key' AND b.term = 'batch' AND b.pos = a.pos + 1)
         |SELECT DISTINCT doc_id FROM bat
         |WHERE NOT EXISTS (SELECT 1 FROM ex
         |                  WHERE ex.doc_id = bat.doc_id AND ex.s < bat.pos + 1 AND ex.e > bat.pos)""".stripMargin,

    "span_first" ->
      s"""$posCte
         |SELECT DISTINCT doc_id FROM p WHERE term = 'the' AND pos <= 2""".stripMargin,

    "match_highdf" ->
      s"""$tokCte
         |SELECT DISTINCT doc_id FROM tokf WHERE term = 'batch'""".stripMargin,

    "parsed_field_match" ->
      s"""$tokCte
         |SELECT DISTINCT doc_id FROM tokf WHERE term = 'batch'
         |AND doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
         |AND doc_id NOT IN (SELECT doc_id FROM documents WHERE source = 'src0')""".stripMargin,

    "delete_requery" ->
      s"""$tokCte
         |SELECT DISTINCT doc_id FROM tokf WHERE term = 'window'
         |AND doc_id NOT IN (SELECT doc_id FROM tokf WHERE term = 'spark')""".stripMargin,

    "compact_requery" ->
      s"""$tokCte
         |SELECT DISTINCT doc_id FROM tokf WHERE term IN ('window', 'merge')
         |AND doc_id NOT IN (SELECT doc_id FROM tokf WHERE term = 'spark')""".stripMargin,

    "pit_requery" ->
      s"""$tokCte,
         |spark_docs AS (SELECT DISTINCT doc_id FROM tokf WHERE term = 'spark'),
         |win AS (SELECT DISTINCT doc_id FROM tokf WHERE term = 'window')
         |SELECT 'pit' AS view, doc_id FROM win
         |UNION ALL
         |SELECT 'latest' AS view, doc_id FROM win
         |WHERE doc_id NOT IN (SELECT doc_id FROM spark_docs)""".stripMargin,

    // tie-break models the engine's MERGED-docId order (the reference's
    // MultiSearcher docBase-offset merge): sub-index 0 = even doc_ids
    // comes first, then local (= doc_id) order — so an exact score tie at
    // the k boundary selects the same docs as MultiIndexSearcher's
    // (score desc, merged docId asc) heap
    "multi_index_topk" ->
      s"""${bm25Cte("'window', 'spark', 'merge'")}
         |SELECT doc_id, round(score, 4) AS score FROM sc
         |ORDER BY score DESC, doc_id % 2, doc_id LIMIT 10""".stripMargin,

    "update_requery" ->
      s"""$tokCte,
         |spark_docs AS (SELECT DISTINCT doc_id FROM tokf WHERE term = 'spark'),
         |new_ids AS (SELECT (SELECT count(*) FROM documents)
         |                   + row_number() OVER (ORDER BY doc_id) - 1 AS doc_id
         |            FROM spark_docs),
         |survivors AS (SELECT DISTINCT doc_id FROM tokf WHERE term = 'window'
         |              AND doc_id NOT IN (SELECT doc_id FROM spark_docs))
         |SELECT doc_id FROM survivors UNION ALL SELECT doc_id::BIGINT FROM new_ids""".stripMargin,

    "sessionize" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tu FROM events),
        |f AS (SELECT user_id, event_id, tu,
        |        CASE WHEN lag(tu) OVER w IS NULL
        |               OR tu - lag(tu) OVER w > 28800000000 THEN 1 ELSE 0 END AS nf
        |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
        |s AS (SELECT user_id, tu,
        |        sum(nf) OVER (PARTITION BY user_id ORDER BY tu, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM f)
        |SELECT user_id, session_id::BIGINT AS session_id, min(tu)::BIGINT AS start_us,
        |       max(tu)::BIGINT AS end_us, count(*)::BIGINT AS n_events
        |FROM s GROUP BY 1, 2""".stripMargin,

    "sorted_topk" ->
      s"""$tokCte
         |SELECT d.doc_id, d.source FROM documents d
         |JOIN (SELECT DISTINCT doc_id FROM tokf WHERE term = 'window') m USING (doc_id)
         |ORDER BY d.source ASC, d.doc_id DESC LIMIT 20""".stripMargin,

    "highlight" ->
      s"""$tokCte
         |SELECT doc_id,
         |  list_aggregate(list_transform(
         |      list_filter(str_split(text, ' '), x -> x <> ''),
         |      x -> CASE WHEN x IN ('spark', 'window')
         |           THEN '<B>' || x || '</B>' ELSE x END),
         |    'string_agg', ' ') AS highlighted
         |FROM documents
         |WHERE doc_id IN
         |  (SELECT doc_id FROM tokf WHERE term IN ('spark', 'window'))""".stripMargin,

    "percolate" ->
      s"""$posCte
         |SELECT doc_id, 'p_phrase' AS query_name FROM documents
         |WHERE ' ' || text || ' ' LIKE '% key agg %'
         |UNION ALL
         |SELECT DISTINCT doc_id, 'p_bool' FROM p
         |WHERE term = 'spark' AND doc_id NOT IN
         |  (SELECT doc_id FROM p WHERE term = 'window')
         |UNION ALL
         |SELECT DISTINCT doc_id, 'p_span' FROM
         |  (SELECT a.doc_id FROM p a JOIN p b USING (doc_id)
         |   WHERE a.term = 'window' AND b.term = 'merge'
         |   AND b.pos > a.pos AND b.pos - a.pos - 1 <= 2) s""".stripMargin,

    "streaming_terms" ->
      """SELECT (epoch_us(ts) // 600000000) * 600 AS win_start,
        |event_type AS term, count(*)::BIGINT AS freq
        |FROM events GROUP BY 1, 2""".stripMargin,

    "prefix_match" ->
      s"""$tokCte
         |SELECT DISTINCT doc_id FROM tokf WHERE term LIKE 'wind%'""".stripMargin,

    "wildcard_match" ->
      s"""$tokCte
         |SELECT DISTINCT doc_id FROM tokf WHERE term LIKE 's_an'""".stripMargin,

    "range_match" ->
      s"""$tokCte
         |SELECT DISTINCT doc_id FROM tokf WHERE term >= 'spark' AND term < 'table'""".stripMargin,

    "fuzzy_match" ->
      s"""$tokCte
         |SELECT DISTINCT doc_id FROM tokf
         |WHERE 1.0 - levenshtein(term, 'windoe')::DOUBLE / least(length(term), 6) > 0.5""".stripMargin,

    "sloppy_match" ->
      s"""$posCte
         |SELECT DISTINCT doc_id FROM p a JOIN p b USING (doc_id)
         |WHERE a.term = 'window' AND b.term = 'merge'
         |AND abs((b.pos - 1) - a.pos) <= 2""".stripMargin,

    "payload_near" ->
      s"""$posCte,
         |bg AS (SELECT a.doc_id, a.pos AS fp FROM p a JOIN p b USING (doc_id)
         |       WHERE a.term = 'key' AND b.term = 'agg' AND b.pos = a.pos + 1),
         |gb AS (SELECT doc_id, count(*)::DOUBLE AS c, min(fp)::DOUBLE AS firstp FROM bg GROUP BY 1),
         |tokf AS (SELECT doc_id, term FROM (SELECT doc_id, unnest(toks) AS term FROM t)),
         |dl AS (SELECT d.doc_id, coalesce(x.c, 0)::DOUBLE AS dl FROM documents d
         |       LEFT JOIN (SELECT doc_id, count(*) AS c FROM tokf GROUP BY 1) x USING (doc_id)),
         |st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         |              (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
         |dfq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokf
         |        WHERE term IN ('key', 'agg') GROUP BY 1),
         |idfw AS (SELECT CAST(CAST(ln(1 + (st.n - a.df + 0.5)/(a.df + 0.5)) AS FLOAT)
         |                   + CAST(ln(1 + (st.n - k.df + 0.5)/(k.df + 0.5)) AS FLOAT) AS DOUBLE) AS idfsum
         |         FROM st, (SELECT df FROM dfq WHERE term = 'agg') a,
         |                  (SELECT df FROM dfq WHERE term = 'key') k),
         |sc AS (SELECT gb.doc_id,
         |              idfw.idfsum * (CAST(gb.c / 3.0 AS FLOAT) * 2.2)
         |                / (CAST(gb.c / 3.0 AS FLOAT) + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))
         |                * (gb.firstp + 0.5) AS score
         |       FROM gb JOIN dl USING (doc_id) CROSS JOIN st CROSS JOIN idfw)
         |SELECT doc_id, round(score, 4) AS score FROM sc
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "custom_score" ->
      s"""${bm25PerTermCte("'window'")}
         |SELECT ts.doc_id, round(ts.sc * dl.dl, 4) AS score
         |FROM ts JOIN dl USING (doc_id)
         |ORDER BY score DESC, ts.doc_id LIMIT 10""".stripMargin,

    "dismax_topk" ->
      s"""${bm25PerTermCte("'window', 'merge'")},
         |ag AS (SELECT doc_id, max(sc) AS mx, sum(sc) AS sm FROM ts GROUP BY 1)
         |SELECT doc_id, round(mx + 0.5 * (sm - mx), 4) AS score FROM ag
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |min(doc_id) AS keeper, count(*)::BIGINT AS group_size
        |FROM documents GROUP BY 1""".stripMargin,

    "dedup_jaccard" -> jaccardOracle,
    "dedup_minhash" -> jaccardOracle,

    "mix_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE substring(md5(doc_id::VARCHAR), 1, 4) <
        |  CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN '8000'
        |       WHEN 'src2' THEN '4000' ELSE '2000' END""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $jaccardCteBody,
         |pr AS (SELECT doc_a, doc_b FROM inter
         |       JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
         |       WHERE ic::DOUBLE / (ca.n + cb.n - ic) >= 0.8),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION ALL SELECT doc_b, doc_a FROM pr),
         |reach(id, lab) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id)
         |SELECT id AS doc_id, min(lab) AS cluster_rep FROM reach GROUP BY 1""".stripMargin,

    "dedup_embedding" ->
      """WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |                  a.embedding AS ea, b.embedding AS eb
        |           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |e AS (SELECT id_a, id_b, CAST(ea[i] AS DOUBLE) AS xa, CAST(eb[i] AS DOUBLE) AS xb
        |      FROM p, unnest(generate_series(1, len(ea))) u(i)),
        |c AS (SELECT id_a, id_b,
        |             sum(xa*xb) / (sqrt(sum(xa*xa)) * sqrt(sum(xb*xb))) AS cs
        |      FROM e GROUP BY 1, 2)
        |SELECT id_a, id_b, round(cs, 4) AS cos_sim FROM c WHERE cs >= 0.95""".stripMargin,

    "ann_cosine" ->
      """SELECT query_id, neighbor_id, round(sim, 4) AS sim, rank FROM (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.embedding, e.embedding) AS sim,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5) WHERE rank <= 5""".stripMargin,

    "lang_id" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
         |r AS (SELECT doc_id, CASE WHEN len(toks) > 0
         |        THEN len(list_filter(toks, x -> list_contains([$stopList], x)))::DOUBLE / len(toks)
         |        ELSE 0 END AS ratio FROM t)
         |SELECT doc_id, round(ratio, 4) AS stop_ratio,
         |       CASE WHEN ratio >= 0.1 THEN 'en' ELSE 'other' END AS lang_guess FROM r""".stripMargin,

    "quality" ->
      """WITH t AS (SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents)
        |SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |  round(CASE WHEN len(toks) > 0 THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0 END, 4) AS distinct_ratio,
        |  round(CASE WHEN len(toks) > 0 THEN list_aggregate(list_transform(toks, x -> length(x)), 'sum')::DOUBLE / len(toks) ELSE 0 END, 4) AS mean_token_len,
        |  round(CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))::DOUBLE / length(text) ELSE 0 END, 4) AS punct_ratio
        |FROM t""".stripMargin,

    "token_count" ->
      """SELECT doc_id,
        |  len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS re_tokens
        |FROM documents""".stripMargin,

    "html_strip" ->
      """SELECT doc_id,
        |(len(list_filter(string_split(text, ' '), x -> x <> '')) + 2)::BIGINT AS html_tokens
        |FROM documents""".stripMargin,

    "fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,

    "repetition" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |g2 AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g FROM t, unnest(generate_series(1, len(w)-1)) u(i)),
        |a2 AS (SELECT doc_id, count(*) AS c, count(DISTINCT g) AS d FROM g2 GROUP BY 1),
        |g3 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g FROM t, unnest(generate_series(1, len(w)-2)) u(i)),
        |a3 AS (SELECT doc_id, count(*) AS c, count(DISTINCT g) AS d FROM g3 GROUP BY 1)
        |SELECT t.doc_id, len(t.w)::BIGINT AS n_tokens,
        |  round(coalesce((a2.c - a2.d)::DOUBLE / a2.c, 0), 4) AS dup_2gram_frac,
        |  round(coalesce((a3.c - a3.d)::DOUBLE / a3.c, 0), 4) AS dup_3gram_frac
        |FROM t LEFT JOIN a2 USING(doc_id) LEFT JOIN a3 USING(doc_id)""".stripMargin,

    "lm_quality" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tokf AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |counts AS (SELECT term, count(*)::BIGINT AS cnt FROM tokf GROUP BY 1),
        |total AS (SELECT sum(cnt)::DOUBLE AS n_total FROM counts),
        |vocab AS (SELECT term, cnt FROM counts ORDER BY cnt DESC, term LIMIT 16)
        |SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
        |  round(avg(-ln(coalesce(v.cnt, 1)::DOUBLE / (SELECT n_total FROM total))), 4) AS avg_neg_logprob
        |FROM tokf t LEFT JOIN vocab v USING (term)
        |GROUP BY 1""".stripMargin,

    "keyword_extract" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tokf AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS freq FROM tokf GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tokf GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term,
        |    tf.freq::DOUBLE * ln((SELECT n_docs FROM n) / df.df::DOUBLE) AS tfidf
        |  FROM tf JOIN df USING (term)),
        |ranked AS (SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, rank::BIGINT AS rank, term, round(tfidf, 4) AS tfidf
        |FROM ranked WHERE rank <= 3""".stripMargin,

    "char_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, substring(text, g, 1) AS ch
        |  FROM documents, unnest(generate_series(1, length(text))) AS t(g)
        |),
        |hist AS (SELECT doc_id, ch, count(*)::DOUBLE AS c FROM chars GROUP BY 1, 2),
        |ent AS (SELECT doc_id, log2(sum(c)) - sum(c * log2(c)) / sum(c) AS h FROM hist GROUP BY 1)
        |SELECT d.doc_id, round(coalesce(e.h, 0.0), 4) AS char_entropy
        |FROM documents d LEFT JOIN ent e USING (doc_id)""".stripMargin,

    "cross_dup_grams" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
        |      FROM t, unnest(generate_series(1, len(w) - 7)) u(i)),
        |sh AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |per AS (SELECT doc_id, count(*)::BIGINT AS shared_grams
        |        FROM g WHERE gram IN (SELECT gram FROM sh) GROUP BY 1),
        |tot AS (SELECT doc_id, count(*)::BIGINT AS total_grams FROM g GROUP BY 1)
        |SELECT t.doc_id, coalesce(tot.total_grams, 0)::BIGINT AS total_grams,
        |  coalesce(per.shared_grams, 0)::BIGINT AS shared_grams,
        |  CASE WHEN coalesce(tot.total_grams, 0) > 0
        |       THEN round(coalesce(per.shared_grams, 0)::DOUBLE / tot.total_grams, 4)
        |       ELSE 0.0 END AS shared_frac
        |FROM t LEFT JOIN per USING(doc_id) LEFT JOIN tot USING(doc_id)""".stripMargin,

    "dup_spans" ->
      s"""WITH $dupSpanCteBody
         |SELECT doc_id, span_start::BIGINT AS span_start, span_end::BIGINT AS span_end,
         |  (span_end - span_start + 1)::BIGINT AS span_tokens
         |FROM spans""".stripMargin,

    "dup_span_scrub" ->
      s"""WITH $dupSpanCteBody,
         |cov AS (SELECT doc_id, u.p AS pos
         |        FROM spans, unnest(generate_series(span_start, span_end)) u(p)),
         |tok AS (SELECT doc_id, i AS pos, w[i] AS tok
         |        FROM t, unnest(generate_series(1, len(w))) u(i)),
         |kept AS (SELECT doc_id, pos, tok FROM tok ANTI JOIN cov USING (doc_id, pos)),
         |reb AS (SELECT doc_id, count(*)::BIGINT AS kept_n,
         |               string_agg(tok, ' ' ORDER BY pos) AS s
         |        FROM kept GROUP BY 1)
         |SELECT t.doc_id, len(t.w)::BIGINT AS n_tokens,
         |  (len(t.w) - coalesce(reb.kept_n, 0))::BIGINT AS removed_tokens,
         |  md5(coalesce(reb.s, '')) AS scrubbed_md5
         |FROM t LEFT JOIN reb USING (doc_id)""".stripMargin,

    // winnowing twin: window min over w=4 consecutive k=4-gram md5 hashes,
    // rightmost argmin per full window (max(i) at the window min), distinct
    // selected hashes per doc, df<=50 cap, then the shared-count self-join
    "winnow_pairs" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, i, md5(array_to_string(w[i:i+3], ' ')) AS h
        |      FROM t, unnest(generate_series(1, len(w) - 3)) u(i)),
        |a AS (SELECT doc_id, i, h,
        |        min(h) OVER (PARTITION BY doc_id ORDER BY i
        |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        |      FROM g),
        |gm AS (SELECT doc_id, max(i) AS gmax FROM g GROUP BY 1),
        |fw AS (SELECT a.* FROM a JOIN gm USING (doc_id) WHERE a.i + 3 <= gm.gmax),
        |sel AS (SELECT f.doc_id, max(g2.i) AS q
        |        FROM fw f JOIN g g2 ON g2.doc_id = f.doc_id
        |          AND g2.i BETWEEN f.i AND f.i + 3 AND g2.h = f.m
        |        GROUP BY f.doc_id, f.i, f.m),
        |fp AS (SELECT DISTINCT s.doc_id, g.h AS fp
        |       FROM sel s JOIN g ON g.doc_id = s.doc_id AND g.i = s.q),
        |hot AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > 50),
        |cold AS (SELECT * FROM fp WHERE fp NOT IN (SELECT fp FROM hot)),
        |p AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
        |      FROM cold x JOIN cold y ON x.fp = y.fp AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, count(*)::BIGINT AS shared_fps
        |FROM p GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // PMI formula transcribed with the same operator shape/associativity
    // as the Spark side so the doubles (and the rounded rank cut) are
    // bit-identical; pmi rounds BEFORE the order/limit
    "collocations" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w FROM documents),
        |uni AS (SELECT u.tok AS term, count(*)::BIGINT AS c1 FROM t, unnest(w) u(tok) GROUP BY 1),
        |nu AS (SELECT sum(c1)::BIGINT AS n_uni FROM uni),
        |bgall AS (SELECT w[i] || ' ' || w[i+1] AS bigram
        |          FROM t, unnest(generate_series(1, len(w) - 1)) u(i)),
        |nb AS (SELECT count(*)::BIGINT AS n_bg FROM bgall),
        |bg AS (SELECT bigram, count(*)::BIGINT AS c2 FROM bgall GROUP BY 1 HAVING count(*) >= 5),
        |s AS (SELECT bigram, c2, string_split(bigram, ' ')[1] AS ta,
        |             string_split(bigram, ' ')[2] AS tb FROM bg)
        |SELECT s.bigram, s.c2 AS n_pairs,
        |  round(ln((s.c2::DOUBLE * nu.n_uni * nu.n_uni) /
        |           (nb.n_bg::DOUBLE * a.c1 * b.c1)), 4) AS pmi
        |FROM s JOIN uni a ON s.ta = a.term JOIN uni b ON s.tb = b.term, nu, nb
        |ORDER BY pmi DESC, s.bigram ASC LIMIT 20""".stripMargin,

    "source_mix" ->
      """WITH t AS (SELECT source, lang,
        |             len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS toks
        |           FROM documents),
        |c AS (SELECT source, lang, count(*)::BIGINT AS docs, sum(toks)::BIGINT AS tokens
        |      FROM t GROUP BY 1, 2)
        |SELECT source, lang, docs, tokens,
        |       round(tokens::DOUBLE / (SELECT sum(tokens) FROM c), 6) AS token_share
        |FROM c""".stripMargin,

    "quality_filter" ->
      """WITH t AS (SELECT doc_id, text, lang,
        |             list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |g3 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |       FROM t, unnest(generate_series(1, len(w)-2)) u(i)),
        |a3 AS (SELECT doc_id, count(*) AS c, count(DISTINCT g) AS d FROM g3 GROUP BY 1),
        |m AS (SELECT t.doc_id, len(t.w) AS n,
        |        CASE WHEN length(t.text) > 0
        |          THEN length(regexp_replace(t.text, '[a-zA-Z0-9\s]', '', 'g'))::DOUBLE / length(t.text)
        |          ELSE 0 END AS punct,
        |        coalesce((a3.c - a3.d)::DOUBLE / a3.c, 0) AS dup3, t.lang
        |      FROM t LEFT JOIN a3 USING(doc_id))
        |SELECT doc_id,
        |  (CASE WHEN n < 10 THEN 'too_short' WHEN n > 100000 THEN 'too_long'
        |        WHEN punct > 0.2 THEN 'punct' WHEN dup3 > 0.3 THEN 'repetition'
        |        WHEN lang <> 'en' THEN 'lang' ELSE '' END) = '' AS keep,
        |  CASE WHEN n < 10 THEN 'too_short' WHEN n > 100000 THEN 'too_long'
        |       WHEN punct > 0.2 THEN 'punct' WHEN dup3 > 0.3 THEN 'repetition'
        |       WHEN lang <> 'en' THEN 'lang' ELSE '' END AS drop_reason
        |FROM m""".stripMargin,

    "contamination" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id, w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS gram
        |      FROM t, unnest(generate_series(1, len(w)-4)) u(i)),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |cnt AS (SELECT doc_id, count(*) AS total FROM g GROUP BY 1),
        |ov AS (SELECT g.doc_id, count(*) AS overlap FROM g JOIN ev USING(gram) WHERE g.doc_id % 50 <> 0 GROUP BY 1)
        |SELECT t.doc_id, coalesce(ov.overlap, 0)::BIGINT AS overlap_grams,
        |       coalesce(cnt.total, 0)::BIGINT AS total_grams
        |FROM t LEFT JOIN cnt USING(doc_id) LEFT JOIN ov USING(doc_id)
        |WHERE t.doc_id % 50 <> 0""".stripMargin,

    "pii_scrub" ->
      """WITH e AS (SELECT doc_id, text || ' contact user' || doc_id || '@example.com' ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' ip 10.' || (doc_id % 256) || '.0.7' ELSE '' END AS et
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(et, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(et, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
        |  md5(regexp_replace(
        |        regexp_replace(et, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS scrubbed_md5
        |FROM e""".stripMargin,

    "multimodal_stub" ->
      """SELECT event_id AS media_id, event_type AS kind,
        |length(props)::BIGINT AS byte_len, ascii(props) AS first_byte FROM events""".stripMargin
  )

  /** 3-shingle exact-Jaccard CTE chain (t → s → sd → cnt → inter), shared
    * by the pair oracles and the cluster oracle so shingle width and the
    * 0.8 threshold live in ONE place. */
  private def jaccardCteBody: String =
    """t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
      |s AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      |      FROM t, unnest(generate_series(1, len(toks) - 2)) u(i) WHERE len(toks) >= 3),
      |sd AS (SELECT DISTINCT doc_id, sh FROM s),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sd GROUP BY 1),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ic
      |          FROM sd a JOIN sd b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  /** Cross-doc duplicated-8-gram span chain (t → g → sd → sh → h → i →
    * spans), shared by the span listing and the scrub oracle so gram width
    * and the islands logic live in ONE place. */
  private def dupSpanCteBody: String =
    """t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
      |g AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+7], ' ') AS gram
      |      FROM t, unnest(generate_series(1, len(w) - 7)) u(i)),
      |sd AS (SELECT DISTINCT doc_id, gram FROM g),
      |sh AS (SELECT gram FROM sd GROUP BY gram HAVING count(*) >= 2),
      |h AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM sh)),
      |i AS (SELECT doc_id, pos,
      |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM h),
      |spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
      |          FROM i GROUP BY doc_id, grp)""".stripMargin

  private def jaccardOracle: String =
    s"""WITH $jaccardCteBody
       |SELECT doc_a, doc_b, round(ic::DOUBLE / (ca.n + cb.n - ic), 4) AS jac
       |FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE ic::DOUBLE / (ca.n + cb.n - ic) >= 0.8""".stripMargin
}
