package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest into a PERSISTED IVF index — the arrival-time face of
  * [[graft.analytics.IvfIndex.insert]] (the VERDICT r13 #3 streaming
  * tie-in): vectors arrive on a stream and every micro-batch is assigned
  * by the STORED rule (centroids — and the penalty map when the index is
  * balanced — load once per batch as plan literals) and appended to the
  * index's membership artifact. Build once, ingest forever, serve
  * anywhere: a serving session never re-trains, and the ingest never
  * touches the existing membership.
  *
  * Replay safety under foreachBatch's at-least-once contract comes from
  * the operator's own algebra instead of write-path bookkeeping: the
  * stored-rule assignment is DETERMINISTIC, so a re-delivered vector
  * appends a bit-identical (vec_id, list_id) row — and duplicate
  * membership rows cannot change a single served result, because every
  * probe path ends in `dropDuplicates(q_id, n_id)` before scoring
  * ([[graft.analytics.Similarity]] `ivfCandidatesOver`). `compact`
  * then physically drops the duplicates at the next maintenance pass.
  * (`StreamingIvfIngestSpec` pins all three: stream-ingested == fresh
  * rebuild, replayed batch changes nothing, compaction dedups.)
  *
  * Scale shape per micro-batch: one scan of the batch against broadcast
  * centroid literals, one append of id+long rows — the corpus-scale base
  * membership is never read or shuffled, so ingest cost is bounded by
  * arrival volume alone (the [[StreamingPipeline]] many-key discipline).
  */
object StreamingIvfIngest {

  /** Start the ingest stream: `vectors` must be a streaming frame with
    * (vec_id: long, e: array&lt;double&gt;). Each micro-batch runs the
    * batch-side [[graft.analytics.IvfIndex.insert]] verbatim — one
    * code path for both ingest faces. */
  def start(vectors: DataFrame, path: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.analytics.IvfIndex.open(batch.sparkSession, path).insert(batch)
      }
      .start()
}
