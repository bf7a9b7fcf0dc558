package graft.search

import java.io.File

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

import graft.index.{IndexMeta, IndexMetaIO, SegmentFormat, SegmentMeta, SegmentReader, TermOrder}
import graft.score.{CorpusStats, Similarity}

/** Per-executor segment reader cache — segments are immutable, so a
  * process-wide map keyed by path is safe; the mmap'd buffers are shared by
  * all tasks on the executor (reference analog: one SegmentReader per open
  * index — /root/reference/src/core/index/DirectoryReader.cpp). */
object ReaderCache {
  /** Bounded: an executor touching 10^5+ segments across many indexes must
    * not accumulate mmaps without limit; evicted readers' buffers are
    * unmapped by GC once their scorers finish. */
  private val MaxReaders = 4096
  private val cache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, SegmentReader](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, SegmentReader]): Boolean =
          size() > MaxReaders
      })
  /** `segDir` may carry a `#<delGen>` suffix: the filesystem path is
    * everything before '#', the full string is the cache key — a delete
    * batch bumps the generation so every executor re-opens the segment and
    * sees the new del bitset (the reference's reopen-to-see-deletes
    * semantics). The generation is also the reader's del-file BOUND: the
    * reader loads the newest `del_<g>.bin` with g ≤ delGen, so a bitset
    * written ahead of its commit (updateDocuments) stays invisible until
    * the commit that references its generation lands. No suffix = snapshot
    * at generation 0 (no committed deletes). */
  def get(segDir: String): SegmentReader = {
    val hit = cache.get(segDir)
    if (hit != null) hit
    else {
      val h = segDir.indexOf('#')
      val path = if (h < 0) segDir else segDir.substring(0, h)
      val bound = if (h < 0) 0 else segDir.substring(h + 1).toInt
      val r = new SegmentReader(new File(path), bound)
      cache.put(segDir, r)
      r
    }
  }
  def clear(): Unit = { cache.clear(); FilterCache.clear() }
}

/** Per-(segment, filter) memoized match bitsets — the reference's
  * CachingWrapperFilter per-reader cache
  * (/root/reference/src/core/search/CachingWrapperFilter.cpp:1-155)
  * keyed by segment directory (segments are immutable). Bounded LRU so a
  * long-lived executor holding many indexes cannot grow without limit. */
object FilterCache {
  private val MaxEntries = 256
  private val hitCount = new java.util.concurrent.atomic.AtomicLong
  private val missCount = new java.util.concurrent.atomic.AtomicLong
  private val cache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Query), java.util.BitSet](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Query), java.util.BitSet]): Boolean =
          size() > MaxEntries
      })

  def getOrCompute(segDir: String, q: Query)(compute: => java.util.BitSet): java.util.BitSet = {
    val key = (segDir, q)
    val hit = cache.get(key)
    if (hit != null) { hitCount.incrementAndGet(); hit }
    else {
      missCount.incrementAndGet()
      val bits = compute
      cache.put(key, bits)
      bits
    }
  }

  def hits: Long = hitCount.get
  def misses: Long = missCount.get
  def clear(): Unit = { cache.clear(); hitCount.set(0); missCount.set(0) }
}

/** Distributed BM25 top-k over the committed segment set.
  *
  * This IS the reference's ParallelMultiSearcher re-expressed on Spark
  * (/root/reference/src/core/search/ParallelMultiSearcher.cpp:32-90;
  * SURVEY.md §3.2): the per-subreader scatter loop becomes one task per
  * core, each over a contiguous run of segments (min(#segments,
  * defaultParallelism) tasks), docBase offsets come from the lineage table,
  * global weights (df, N, avgdl) are computed once driver-side and
  * broadcast, and the final merge is a driver heap over ≤ k hits per task.
  *
  * Queries are executed in BATCHES. One prepare step (the reference's
  * createWeight) expands multi-term nodes, rewrites, and computes global df
  * for all query terms in one single-stage Spark job (each task returns one
  * dense count array aligned to the broadcast term array; the driver sums
  * them, no shuffle); the prepared batch is broadcast once, and one job
  * scores all queries against all segments. Within a task each
  * query runs through ONE top-k collector across the task's segments, so
  * the k-th score found so far is the starting WAND threshold for the next
  * segment. Per-query driver work is O(tasks · k).
  *
  * `commitGen` opens a POINT-IN-TIME snapshot at that commit generation
  * instead of the latest — the reference's IndexCommit / IndexReader::open
  * (commit) (/root/reference/src/core/index/IndexReader.cpp, DirectoryReader
  * over a SegmentInfos generation): the searcher sees exactly the segment
  * set and deletion generation that commit recorded, regardless of later
  * appends, deletes, or updates. Valid until a compaction retires segments
  * the commit references (the same lifetime the reference gives non-latest
  * commits under its default deletion policy). Enumerate openable
  * generations with `IndexMetaIO.commitGens(dir)`. */
final class IndexSearcher(spark: SparkSession, val indexDir: String,
    commitGen: Option[Int]) extends Serializable {

  def this(spark: SparkSession, indexDir: String) = this(spark, indexDir, None)

  private val snapshot: IndexMetaIO.Snapshot = commitGen match {
    case Some(g) => IndexMetaIO.readSnapshot(indexDir, g)
      .getOrElse(throw new IllegalStateException(s"no commit generation $g at $indexDir"))
    case None => IndexMetaIO.readLatestSnapshot(indexDir)
      .getOrElse(throw new IllegalStateException(s"no committed index at $indexDir"))
  }
  val meta: IndexMeta = snapshot.meta
  val stats: CorpusStats = CorpusStats(meta.numDocs, meta.avgDocLength)

  /** Deletion generation of the snapshot this searcher opened — baked into
    * every reader-cache key so executors re-open segments after a delete
    * batch. Scoring stats (df, N, avgdl) deliberately keep counting
    * tombstoned docs until a merge reclaims them, as the reference does. */
  private val delGen: Int = snapshot.delGen

  private def cacheKey(path: String): String =
    if (delGen == 0) path else s"$path#$delGen"

  private val segPaths: Seq[String] =
    meta.segments.map(m => new File(indexDir, SegmentFormat.segDirName(m.segId)).getPath)
  private val segDirs: Seq[String] = segPaths.map(cacheKey)

  /** Cap on tasks per job; 0 = the context's default parallelism. Tests
    * raise it to give every segment its own task. */
  private[graft] var maxTasks: Int = 0

  /** The task layout of every job this searcher launches: `items` (in
    * segment order) cut into min(#items, defaultParallelism) contiguous
    * runs, one task each, and at least one task so a segment-less index
    * still answers. Task launch, closure and broadcast reads are then paid
    * once per core, not once per segment. */
  private def segmentTasks[T: ClassTag](items: Seq[T]): RDD[T] = {
    val sc = spark.sparkContext
    val cap = if (maxTasks > 0) maxTasks else sc.defaultParallelism
    sc.parallelize(items, math.max(1, math.min(items.size, cap)))
  }

  /** Global document frequencies for a term set: sum of per-segment df.
    * Exact (the reference's df is exact too — SURVEY.md §2.4). One stage:
    * each task sums its segments' df into a dense array aligned to the
    * broadcast term array, and the driver adds the arrays. */
  def globalDf(terms: Set[String]): Map[String, Long] = {
    if (terms.isEmpty) return Map.empty
    val termArr = terms.toArray
    val bcTerms = spark.sparkContext.broadcast(termArr)
    val dfs = segmentTasks(segDirs)
      .mapPartitions { dirs =>
        val ts = bcTerms.value
        val sums = new Array[Long](ts.length)
        dirs.foreach { dir =>
          val r = ReaderCache.get(dir)
          var i = 0
          while (i < ts.length) {
            r.termInfo(ts(i)).foreach(ti => sums(i) += ti.df)
            i += 1
          }
        }
        Iterator.single(sums)
      }
      .reduce((a, b) => Array.tabulate(a.length)(i => a(i) + b(i)))
    bcTerms.destroy()
    termArr.iterator.zip(dfs.iterator).filter(_._2 > 0).toMap
  }

  /** The one prepare step (the reference's Searcher::createWeight): expand
    * every multi-term node against this index's dictionary, rewrite, and
    * compute the global df of the batch's terms. Every entry point scores
    * through the result. */
  private def prepare(queries: Seq[(String, Query)]): Seq[(String, PreparedQuery)] =
    IndexSearcher.prepare(queries, multiTermMatches(queries.map(_._2)), globalDf, stats)

  private def prepare(q: Query): PreparedQuery = prepare(Seq("q" -> q)).head._2

  /** The dictionary terms that any multi-term node of `queries` matches in
    * this index: one single-stage job (each task dedupes over its run of
    * segments, the driver across tasks), none when no query has such a
    * node. A node's match is a pure function of the term text, so expanding
    * against this set is exactly the dictionary expansion, and a
    * cross-index searcher expands against the union of its sub-indexes'
    * sets (the reference's rewrite against the combined reader). */
  private[search] def multiTermMatches(queries: Seq[Query]): Set[String] = {
    val nodes = queries.flatMap(Query.collectMultiTermNodes).distinct
    if (nodes.isEmpty) return Set.empty
    val bcNodes = spark.sparkContext.broadcast(nodes)
    val matched = segmentTasks(segDirs)
      .mapPartitions { dirs =>
        val out = scala.collection.mutable.HashSet.empty[String]
        dirs.foreach { dir =>
          val r = ReaderCache.get(dir)
          bcNodes.value.foreach { node =>
            val it = r.termsFrom(MultiTerm.seekLowerBound(node))
            var done = false
            while (!done && it.hasNext) {
              val t = it.next().term
              if (MultiTerm.pastUpperBound(node, t)) done = true
              else if (MultiTerm.matchBoost(node, t).isDefined) out += t
            }
          }
        }
        out.iterator
      }
      .collect().toSet
    bcNodes.destroy()
    matched
  }

  def search(q: Query, k: Int, sim: Similarity, useWand: Boolean = true): Array[ScoredDoc] =
    searchBatch(Seq("q" -> q), k, sim, useWand)("q")

  def searchBatch(queries: Seq[(String, Query)], k: Int, sim: Similarity,
      useWand: Boolean = true): Map[String, Array[ScoredDoc]] =
    searchBatchWith(prepare(queries), k, sim, useWand, IndexSearcher.NoDeadline, 0L)
      .map { case (id, (hits, _)) => id -> hits }

  /** Time-budgeted search: the scoring job of [[searchBatch]] with a
    * deadline `timeoutMs` after each task starts, on the task's own clock;
    * past it the task stops collecting, skips the rest of its run and
    * returns what it gathered — partial top-k plus a timed-out flag (the
    * reference's TimeLimitingCollector semantics, applied per task). */
  def searchWithTimeout(q: Query, k: Int, sim: Similarity,
      timeoutMs: Long): (Array[ScoredDoc], Boolean) =
    searchBatchWith(prepare(Seq("q" -> q)), k, sim, useWand = false,
      timeoutMs * 1000000L, 0L)("q")

  /** The one scoring job: every prepared query against every run of
    * segments, with the batch broadcast once. Each task runs a query through
    * one top-k collector across its run, so the k-th score found so far is
    * the starting WAND threshold for the next segment, and stops at
    * `budgetNanos` after it starts (never at `NoDeadline`). Per query it
    * returns the merged top-k by (score desc, docId asc), docIds shifted by
    * `docIdOffset`, and whether any task timed out. The caller-supplied
    * prepared queries are the hook a cross-index MultiSearcher uses so every
    * sub-index scores with the combined corpus's weights (reference
    * MultiSearcher::createWeight + CachedDfSource,
    * /root/reference/src/core/search/MultiSearcher.cpp). */
  private[search] def searchBatchWith(prepared: Seq[(String, PreparedQuery)], k: Int,
      sim: Similarity, useWand: Boolean, budgetNanos: Long,
      docIdOffset: Long): Map[String, (Array[ScoredDoc], Boolean)] = {
    val bc = spark.sparkContext.broadcast(prepared)
    // ≤ k hits per query per task
    val perTask = segmentTasks(segDirs)
      .mapPartitions { dirs =>
        val deadline =
          if (budgetNanos == IndexSearcher.NoDeadline) budgetNanos
          else System.nanoTime() + budgetNanos
        val readers = dirs.map(ReaderCache.get).toVector
        bc.value.iterator.map { case (id, p) =>
          (id, p.topK(readers, k, sim, useWand, deadline))
        }
      }

    val merge: ((Array[ScoredDoc], Boolean), (Array[ScoredDoc], Boolean)) =>
        (Array[ScoredDoc], Boolean) =
      (a, b) => (IndexSearcher.best(a._1 ++ b._1, k), a._2 || b._2)

    // the driver receives tasks × queries × ≤ k hits, so above a TASK-count
    // threshold the merge goes through reduceByKey instead: the shuffle
    // folds hits per query first, and the driver receives O(queries · k)
    val collected =
      if (perTask.getNumPartitions <= 256) perTask.collect()
      else perTask.reduceByKey(merge, math.max(1, prepared.size)).collect()
    bc.destroy()

    collected.groupBy(_._1).map { case (id, rs) =>
      val merged = IndexSearcher.best(rs.flatMap(_._2._1), k)
      id -> ((if (docIdOffset == 0L) merged
              else merged.map(h => h.copy(docId = h.docId + docIdOffset)),
        rs.exists(_._2._2)))
    }
  }

  /** ALL matching docIds as a DataFrame — the match-set path. Matches are
    * enumerated inside tasks (one per run of segments) and returned as a
    * distributed result; nothing is materialized on the driver, so a
    * stop-word phrase over 10^12 docs streams straight to the sink (each
    * task holds one segment's match bitset at a time). Scoring is skipped:
    * only the scorer tree's matching behavior runs. */
  def matchingDocs(q: Query): org.apache.spark.sql.DataFrame = {
    val bc = spark.sparkContext.broadcast(prepare(q))
    val rdd = segmentTasks(segDirs)
      .flatMap { dir =>
        val reader = ReaderCache.get(dir)
        val bits = bc.value.matchBits(reader)
        val docBase = reader.meta.docBase
        Iterator.iterate(bits.nextSetBit(0))(d => bits.nextSetBit(d + 1))
          .takeWhile(_ >= 0)
          .filter(d => !reader.deleted(d))
          .map(d => docBase + d)
      }
    val sp = spark
    import sp.implicits._
    rdd.toDF("doc_id")
  }

  /** Explain the score of one (query, doc) — the reference's
    * Searcher::explain (Explanation value == the score search collects for
    * a hit; matched=false and 0 for a non-hit): [[explainMany]] of one doc. */
  def explain(q0: Query, docId: Long, sim: Similarity): Explanation =
    explainMany(q0, Seq(docId), sim).head

  /** Every (query, doc) explanation in ONE Spark job (tasks over the
    * touched segments, one shared prepare) instead of a df job + a one-task
    * job per doc. The trees are built on the executors, where the segment
    * files live; order follows `docIds`. */
  def explainMany(q0: Query, docIds: Seq[Long], sim: Similarity): Seq[Explanation] = {
    val bySeg = bySegment(docIds)
    val results: Map[Long, Explanation] =
      if (bySeg.isEmpty) Map.empty
      else {
        val bc = spark.sparkContext.broadcast(prepare(q0))
        val out = perDoc(bySeg)((reader, local) => bc.value.explain(reader, local, sim))
        bc.destroy()
        out
      }
    docIds.map(id => results.getOrElse(id,
      Explanation(0.0, s"doc $id not in index", matched = false)))
  }

  /** The stored url of each of `docIds`, in order (None for a null url) —
    * the reference's IndexSearcher::doc for graft's one stored field. One
    * job over the segments the ids fall in; tombstoned docs keep their url.
    * Fails on an id outside the index or in a segment that stores no urls. */
  def urls(docIds: Seq[Long]): Seq[Option[String]] = {
    val bySeg = bySegment(docIds)
    bySeg.foreach { case (m, _, _) =>
      require(m.hasUrls, s"segment ${m.segId} of $indexDir stores no urls")
    }
    val found = if (bySeg.isEmpty) Map.empty[Long, Option[String]]
      else perDoc(bySeg)((reader, local) => reader.url(local))
    docIds.map(id => found.getOrElse(id,
      throw new IllegalArgumentException(s"doc $id is not in $indexDir")))
  }

  /** The distinct `docIds` that fall in a segment, grouped by it as
    * (segment, reader dir, ids). */
  private def bySegment(docIds: Seq[Long]): Seq[(SegmentMeta, String, Seq[Long])] =
    docIds.distinct.flatMap { docId =>
      meta.segments.zip(segDirs).collectFirst {
        case (m, dir) if docId >= m.docBase && docId < m.docBase + m.docCount => (m, dir, docId)
      }
    }.groupBy(_._2).toSeq.map { case (dir, hits) => (hits.head._1, dir, hits.map(_._3)) }

  /** `f(reader, localDoc)` for every id of `bySeg`, keyed by docId: one
    * job, its tasks over runs of the touched segments. */
  private def perDoc[T](bySeg: Seq[(SegmentMeta, String, Seq[Long])])(
      f: (SegmentReader, Int) => T): Map[Long, T] =
    segmentTasks(bySeg.map { case (_, dir, ids) => (dir, ids) }).flatMap { case (dir, ids) =>
      val reader = ReaderCache.get(dir)
      ids.map(docId => docId -> f(reader, (docId - reader.meta.docBase).toInt))
    }.collect().toMap

  /** Delete every doc matching `q` — the reference's
    * IndexReader::deleteDocuments re-expressed: each task ORs the match
    * set of every segment in its run into that segment's del bitset
    * (atomic write), the driver then snapshots a bumped deletion generation so subsequently
    * OPENED searchers see the deletes (this searcher's snapshot is
    * unchanged, like the reference's point-in-time readers). DocIDs stay
    * stable; space is reclaimed at the next merge. Returns the number of
    * docs newly deleted. Two jobs: the query's df, then one job that
    * purges orphan del files and writes the new bitsets. */
  def deleteDocs(q0: Query): Long = deleteDocs(q0, commit = true)

  /** Tombstone every doc matching `q0`. With `commit = false` the del
    * bitsets are written but the delgen snapshot is left to the caller —
    * updateDocuments uses this to fold deletes and appends into ONE
    * commit (the reference's IndexWriter::updateDocument,
    * /root/reference/src/core/index/IndexWriter.cpp:981-1004). */
  def deleteDocs(q0: Query, commit: Boolean): Long = {
    val bc = spark.sparkContext.broadcast(prepare(q0))
    // the CURRENT committed generation (not this searcher's open-time
    // snapshot — a second batch through the same instance must seed from
    // the first batch's committed bitsets), and the generation the new
    // bitsets will be committed under: files are written as
    // del_<targetGen>.bin and stay invisible to every reader until the
    // commit recording delgen=targetGen lands (crash ⇒ ignored orphans)
    val latest = IndexMetaIO.readLatestSnapshot(indexDir).get
    val committedGen = latest.delGen
    val targetGen = latest.nextDelGen
    // One job over the union of the CURRENT commit's segments and this
    // searcher's (possibly stale) snapshot. Each task first purges its
    // segments' orphan generations (> committedGen) left by a batch that
    // crashed pre-commit — the current commit's segments are a superset of
    // anywhere orphans can live. Without the purge, committing
    // delgen=targetGen below would retroactively adopt a crashed
    // updateDocuments' del_<targetGen>.bin in segments this batch didn't
    // write: its deletes would apply without its adds. Then, for a segment
    // of the snapshot, it ORs the matches into the segment's bitset: after
    // its purge, so the purge never removes this batch's own write.
    val snapshotDirs = segPaths.zip(segDirs).toMap
    val current = latest.meta.segments
      .map(m => new File(indexDir, SegmentFormat.segDirName(m.segId)).getPath)
    val newly = segmentTasks((current ++ segPaths).distinct.map(p => (p, snapshotDirs.get(p))))
      .map { case (path, key) =>
        SegmentFormat.purgeOrphanDeletes(new File(path), committedGen)
        key.fold(0L) { dir =>
          val reader = ReaderCache.get(dir)
          // seed from the CURRENT COMMITTED bitset, NOT the cached reader's
          // open-time snapshot: this searcher's reader-cache key is pinned to
          // its open-time delGen, so a second delete batch through the same
          // searcher instance would otherwise OR into a pre-first-batch bitset
          // and silently resurrect the first batch's committed tombstones
          val bits = SegmentFormat.readDeletes(reader.dir, committedGen)
          val before = bits.cardinality()
          bits.or(bc.value.matchBits(reader))
          val added = bits.cardinality() - before
          if (added > 0) SegmentFormat.writeDeletes(reader.dir, bits, targetGen)
          added.toLong
        }
      }
      .collect().sum
    bc.destroy()
    if (newly > 0 && commit) {
      // publish: a fresh snapshot (meta unchanged) whose delgen references
      // the just-written generation — readers flip atomically to it
      IndexMetaIO.commit(indexDir, latest.meta, delGen = Some(targetGen))
    }
    newly
  }

  /** Live (non-tombstoned) doc count — numDocs minus deletions. */
  def liveDocCount(): Long = {
    meta.numDocs - segmentTasks(segDirs)
      .map(dir => ReaderCache.get(dir).delCount.toLong).collect().sum
  }
}

/** A query prepared to score — the reference's Weight: multi-term nodes
  * expanded, rewritten, with the global df of its terms and the corpus
  * stats it scores under. A job broadcasts its prepared queries once, and
  * this value alone builds a segment's scorer, match set, top-k or
  * explanation. Queries of one batch share one df map, which a broadcast
  * serializes once. */
private[graft] final case class PreparedQuery(q: Query, dfMap: Map[String, Long],
    stats: CorpusStats) {

  def df(t: String): Long = dfMap.getOrElse(t, 0L)

  def queryNorm(sim: Similarity): Float =
    sim.queryNorm(SegmentSearch.sumOfSquaredWeights(q, sim, stats, df))

  /** Every local doc of `reader` the query matches, tombstoned ones
    * included. The match set does not depend on the similarity. */
  def matchBits(reader: SegmentReader): java.util.BitSet = {
    val sim: Similarity = graft.score.BM25()
    SegmentSearch.matchBits(q, reader, sim, stats, df, queryNorm(sim))
  }

  def topK(readers: Seq[SegmentReader], k: Int, sim: Similarity, useWand: Boolean,
      deadlineNanos: Long): (Array[ScoredDoc], Boolean) =
    SegmentSearch.topKTimed(readers, q, k, sim, stats, df, useWand, deadlineNanos)

  /** Explain the score of `reader`'s local doc `local` (the value search
    * collects for a hit; matched=false and 0 for a non-hit). */
  def explain(reader: SegmentReader, local: Int, sim: Similarity): Explanation =
    Explain.explainDoc(q, Explain.docView(reader, local, Explain.viewTerms(q)),
      sim, stats, dfMap, queryNorm(sim))
}

/** Cross-index searcher — the reference's MultiSearcher over several
  * physical indexes (/root/reference/src/core/search/MultiSearcher.cpp):
  * docFreq sums across sub-indexes, scoring stats come from the combined
  * corpus (so scores are comparable across indexes — MultiSearcher's
  * CachedDfSource weight creation), result docIds are offset by each
  * sub-index's start (starts[] remapping), and multi-term expansion
  * rewrites ONCE against the union of the sub-dictionaries. */
final class MultiIndexSearcher(subs: Seq[IndexSearcher]) {
  require(subs.nonEmpty, "MultiIndexSearcher needs at least one sub-index")

  /** docId offset per sub-index, in order (MultiSearcher starts[]). */
  val starts: Seq[Long] = subs.scanLeft(0L)(_ + _.meta.numDocs).init

  val stats: CorpusStats = {
    val docs = subs.map(_.meta.numDocs).sum
    val sumDl = subs.map(_.meta.sumDocLength).sum
    CorpusStats(docs, if (docs == 0) 0.0 else sumDl.toDouble / docs)
  }

  def globalDf(terms: Set[String]): Map[String, Long] =
    subs.map(_.globalDf(terms)).foldLeft(Map.empty[String, Long]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (t, df)) => a.updated(t, a.getOrElse(t, 0L) + df) }
    }

  def search(q: Query, k: Int, sim: Similarity,
      useWand: Boolean = true): Array[ScoredDoc] =
    searchBatch(Seq("q" -> q), k, sim, useWand)("q")

  def searchBatch(queries: Seq[(String, Query)], k: Int, sim: Similarity,
      useWand: Boolean = true): Map[String, Array[ScoredDoc]] = {
    // expand against the union of every sub-dictionary's matches —
    // per-index expansion would pick different fuzzy/budget subsets and
    // make scores incomparable
    val matched = subs.map(_.multiTermMatches(queries.map(_._2))).reduce(_ union _)
    val prepared = IndexSearcher.prepare(queries, matched, globalDf, stats)
    val perSub = subs.zip(starts).map { case (s, base) =>
      s.searchBatchWith(prepared, k, sim, useWand, IndexSearcher.NoDeadline, base)
    }
    queries.map { case (id, _) =>
      id -> IndexSearcher.best(perSub.flatMap(_.get(id)).flatMap(_._1).toArray, k)
    }.toMap
  }
}

object IndexSearcher {

  /** The scoring job's budget when it has no deadline. */
  private[search] val NoDeadline = Long.MaxValue

  /** Prepare a batch: expand each query's multi-term nodes against
    * `matched` (every dictionary term some node matches, walked in the
    * dictionary's code-point order like a merged term enumeration), rewrite,
    * and score the batch with `globalDf` of all its terms and `stats`. */
  private[search] def prepare(queries: Seq[(String, Query)], matched: Set[String],
      globalDf: Set[String] => Map[String, Long],
      stats: CorpusStats): Seq[(String, PreparedQuery)] = {
    val dict = matched.toArray.sorted(TermOrder.ordering)
    val rewritten = queries.map { case (id, q) => id -> Query.rewrite(expandQueries(dict)(q)) }
    val dfMap = globalDf(rewritten.flatMap { case (_, q) => Query.allTerms(q) }.toSet)
    rewritten.map { case (id, q) => id -> PreparedQuery(q, dfMap, stats) }
  }

  /** Expand multi-term nodes against `dict`, sorted dictionary terms. */
  private def expandQueries(dict: Array[String])(q: Query): Query =
    if (!Query.hasMultiTerm(q)) q
    else MultiTerm.expand(q, lower =>
      lower.fold(dict.iterator)(lo => dict.iterator.dropWhile(t => TermOrder.lt(t, lo))))

  /** The best `k` of `hits` by the reference tie-break: score desc, docId asc. */
  private[search] def best(hits: Array[ScoredDoc], k: Int): Array[ScoredDoc] =
    hits.sortBy(h => (-h.score, h.docId)).take(k)
}
