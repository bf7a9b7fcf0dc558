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
  * batch id.
  *
  * Layout: an append takes the index's own — its analyzer and positions
  * setting, and term vectors, payloads and urls iff every committed
  * segment stores them (`IndexMeta.writeConfig`, the rule every writer
  * shares). A directory with no commit gets the defaults: the standard
  * analyzer, positions, nothing else. To stream into a new index with
  * other settings, commit an empty `IndexBuilder.build` with them first. */
object StreamingIndexer {

  /** Append one (non-streaming) batch DataFrame, in the index's layout;
    * used by foreachBatch and directly testable. Returns the new
    * snapshot. */
  def appendBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
      docsPerSegment: Int = IndexConfig.DefaultDocsPerSegment, batchId: Long = -1L,
      delGenOverride: Option[Int] = None): IndexMeta = {
    new java.io.File(indexDir).mkdirs()

    val prior = IndexMetaIO.readLatestSnapshot(indexDir)
    if (batchId >= 0 && prior.exists(_.streamBatch.exists(_ >= batchId)))
      return prior.get.meta // replayed batch already applied
    val base = prior.fold(IndexMeta("standard", hasPositions = true, Nil))(_.meta) // no commit: defaults
    val (newDocs, metas) = IndexBuilder.writeSegments(batch,
      base.writeConfig(indexDir, docsPerSegment), base.nextSegId, base.nextDocId)
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
      docsPerSegment: Int = IndexConfig.DefaultDocsPerSegment): IndexMeta = {
    val gen = IndexMetaIO.readLatestSnapshot(indexDir).flatMap { prior =>
      val removed = new graft.search.IndexSearcher(spark, indexDir)
        .deleteDocs(deleteQ, commit = false)
      if (removed > 0) Some(prior.nextDelGen) else None
    }
    appendBatch(spark, newDocs, indexDir, docsPerSegment, delGenOverride = gen)
  }

  /** Start the streaming ingestion: `pages` must be a streaming DataFrame
    * with `url` and `text` columns. */
  def start(spark: SparkSession, pages: DataFrame, indexDir: String,
      docsPerSegment: Int = IndexConfig.DefaultDocsPerSegment): StreamingQuery = {
    pages.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$indexDir/stream-ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(spark, batch, indexDir, docsPerSegment, batchId)
        ()
      }
      .start()
  }
}
