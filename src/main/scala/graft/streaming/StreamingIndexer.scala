package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.index._

/** Structured Streaming ingestion: micro-batches of pages are appended to
  * the index as new segments via `foreachBatch` — each committed batch is a
  * new queryable snapshot, the Spark-native analog of the reference's NRT
  * reader (IndexWriter::getReader, /root/reference/src/core/index/IndexWriter.cpp:275-298;
  * SURVEY.md §2.10).
  *
  * Append semantics: docIDs continue from the last snapshot's maxDoc; each
  * batch is url-sorted internally (per-batch rank) and starts fresh
  * segments. Exactly-once: the snapshot records the last applied batch id —
  * a replayed batch (after a crash between segment publish and snapshot) is
  * re-applied idempotently over the same segment ids/docBase, and queries
  * only ever see snapshotted segments. */
object StreamingIndexer {

  private val BatchKey = "lastStreamBatch"

  /** Append one (non-streaming) batch DataFrame; used by foreachBatch and
    * directly testable. Returns the new snapshot. */
  def appendBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
      analyzer: String = "standard", docsPerSegment: Int = 1 << 20,
      storePositions: Boolean = true, batchId: Long = -1L,
      delGenOverride: Option[Int] = None): IndexMeta = {
    import spark.implicits._
    new java.io.File(indexDir).mkdirs()

    val prior = IndexMetaIO.readLatestWithExtra(indexDir)
    val priorMeta = prior.map(_._1)
    if (batchId >= 0 && prior.exists(_._2.get(BatchKey).exists(_.toLong >= batchId)))
      return priorMeta.get // replayed batch already applied

    val docIdOffset = priorMeta.map(m =>
      m.segments.map(s => s.docBase + s.docCount).foldLeft(0L)(math.max)).getOrElse(0L)
    val segIdOffset = priorMeta.map(m =>
      m.segments.map(_.segId + 1).foldLeft(0)(math.max)).getOrElse(0)

    val sortedBase = batch.select($"url", $"text").as[(String, String)]
      .orderBy($"url").rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val newDocs = sortedBase.count()
      if (newDocs == 0) return priorMeta.getOrElse(
        IndexMeta(analyzer, 0, 0, storePositions, Nil))
      val numSegments = math.max(1, ((newDocs + docsPerSegment - 1) / docsPerSegment).toInt)
      val dps = docsPerSegment
      val segOff = segIdOffset
      val docOff = docIdOffset
      val keyed = sortedBase.zipWithIndex()
        .map { case ((_, text), rank) =>
          ((segOff + (rank / dps).toInt, docOff + rank), text)
        }
      val metas = IndexBuilder.writeSegments(keyed, numSegments, newDocs,
        IndexConfig(indexDir, analyzer, docsPerSegment, storePositions), segOff, docOff)

      val allSegs = (priorMeta.map(_.segments).getOrElse(Nil) ++ metas).sortBy(_.segId)
      val meta = IndexMeta(analyzer,
        allSegs.map(_.docCount.toLong).sum,
        allSegs.map(_.sumDocLength).sum,
        storePositions, allSegs)
      // carry the deletion generation forward: searchers key reader caches
      // by delgen, and a snapshot that dropped it would resurrect stale
      // pre-delete cached readers (same rule as Maintenance.compact)
      val delGen = delGenOverride.map(g => Map("delgen" -> g.toString))
        .orElse(prior.flatMap(_._2.get("delgen")).map(g => Map("delgen" -> g)))
        .getOrElse(Map.empty[String, String])
      val extra = (if (batchId >= 0) Map(BatchKey -> batchId.toString)
        else Map.empty[String, String]) ++ delGen
      IndexMetaIO.writeCommit(indexDir, meta, extra)
      meta
    } finally sortedBase.unpersist()
  }

  /** Atomic update: tombstone every existing doc matching `deleteQ`, then
    * append `newDocs`, publishing BOTH in one commit — the reference's
    * IndexWriter::updateDocument generalized to delete-by-query
    * (/root/reference/src/core/index/IndexWriter.cpp:941-1004). The new
    * docs are never candidates for the delete (tombstones are computed
    * against the prior snapshot's segments only), and a reader reopening
    * at ANY point sees either the old index or the full update, never the
    * deletes without the adds or vice versa: the delete half writes
    * generational `del_<gen>.bin` files that no reader selects until the
    * single commit recording both the new segments and delgen=gen lands
    * (the reference's commit-referenced generational .del files); a crash
    * between the two steps leaves only orphan files the retry atomically
    * replaces. */
  def updateDocuments(spark: SparkSession, indexDir: String,
      deleteQ: graft.search.Query, newDocs: DataFrame,
      analyzer: String = "standard", docsPerSegment: Int = 1 << 20,
      storePositions: Boolean = true): IndexMeta = {
    IndexMetaIO.readLatestWithExtra(indexDir) match {
      case None =>
        appendBatch(spark, newDocs, indexDir, analyzer, docsPerSegment,
          storePositions)
      case Some((priorMeta, priorExtra)) =>
        val searcher = new graft.search.IndexSearcher(spark, indexDir)
        val removed = searcher.deleteDocs(deleteQ, commit = false)
        val gen =
          if (removed > 0)
            Some(priorExtra.get("delgen").map(_.toInt).getOrElse(0) + 1)
          else None
        val meta = appendBatch(spark, newDocs, indexDir, analyzer,
          docsPerSegment, storePositions, batchId = -1L, delGenOverride = gen)
        // an empty add with live deletes still needs its delgen snapshot
        if ((meta eq priorMeta) || meta == priorMeta) gen.foreach { g =>
          IndexMetaIO.writeCommit(indexDir, priorMeta,
            priorExtra + ("delgen" -> g.toString))
        }
        meta
    }
  }

  /** Start the streaming ingestion: `pages` must be a streaming DataFrame
    * with `url` and `text` columns. */
  def start(spark: SparkSession, pages: DataFrame, indexDir: String,
      analyzer: String = "standard", docsPerSegment: Int = 1 << 20,
      storePositions: Boolean = true): StreamingQuery = {
    pages.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$indexDir/stream-ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(spark, batch, indexDir, analyzer, docsPerSegment,
          storePositions, batchId)
        ()
      }
      .start()
  }
}
