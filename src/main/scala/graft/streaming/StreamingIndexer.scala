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
  * Append semantics: docIDs continue from the last snapshot's maxDoc, and
  * each batch starts fresh segments. Within a batch, docIds follow the
  * build's rule (`IndexBuilder.writeSegments`): rank in (url, text) order,
  * code-point order with nulls first, so duplicate urls get the same docIds
  * at any input partitioning. Exactly-once: the snapshot records the last applied batch id —
  * a replayed batch (after a crash between segment publish and snapshot) is
  * re-applied idempotently over the same segment ids/docBase, and queries
  * only ever see snapshotted segments. The watermark lives in the commit
  * snapshot, which every writer carries forward ([[IndexMetaIO.commit]]),
  * so it survives compaction, `updateDocuments` and appends without a
  * batch id. */
object StreamingIndexer {

  /** Append one (non-streaming) batch DataFrame; used by foreachBatch and
    * directly testable. Returns the new snapshot. `analyzer` and
    * `storePositions` must match the index's (checked before any work). The
    * new segments store their docs' urls iff the index has segments and
    * every one of them stores urls. */
  def appendBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
      analyzer: String = "standard",
      docsPerSegment: Int = IndexConfig.DefaultDocsPerSegment,
      storePositions: Boolean = true, batchId: Long = -1L,
      delGenOverride: Option[Int] = None): IndexMeta = {
    new java.io.File(indexDir).mkdirs()

    val prior = IndexMetaIO.readLatestSnapshot(indexDir)
    if (batchId >= 0 && prior.exists(_.streamBatch.exists(_ >= batchId)))
      return prior.get.meta // replayed batch already applied
    val base = IndexMeta(analyzer, storePositions,
      prior.fold(Seq.empty[SegmentMeta])(_.meta.segments)).requireUniform()

    val storeUrls = base.segments.nonEmpty && base.segments.forall(_.hasUrls)
    val (newDocs, metas) = IndexBuilder.writeSegments(batch,
      IndexConfig(indexDir, analyzer, docsPerSegment, storePositions, writeDocMap = storeUrls),
      base.nextSegId, base.nextDocId)
    // an empty batch commits only the deletes of an update
    if (newDocs == 0 && delGenOverride.isEmpty) return base
    IndexMetaIO.commit(indexDir, base.copy(segments = (base.segments ++ metas).sortBy(_.segId)),
      delGen = delGenOverride, streamBatch = Some(batchId).filter(_ >= 0)).meta
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
      analyzer: String = "standard",
      docsPerSegment: Int = IndexConfig.DefaultDocsPerSegment,
      storePositions: Boolean = true): IndexMeta = {
    val gen = IndexMetaIO.readLatestSnapshot(indexDir).flatMap { prior =>
      val removed = new graft.search.IndexSearcher(spark, indexDir)
        .deleteDocs(deleteQ, commit = false)
      if (removed > 0) Some(prior.nextDelGen) else None
    }
    appendBatch(spark, newDocs, indexDir, analyzer, docsPerSegment, storePositions,
      delGenOverride = gen)
  }

  /** Start the streaming ingestion: `pages` must be a streaming DataFrame
    * with `url` and `text` columns. */
  def start(spark: SparkSession, pages: DataFrame, indexDir: String,
      analyzer: String = "standard",
      docsPerSegment: Int = IndexConfig.DefaultDocsPerSegment,
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
