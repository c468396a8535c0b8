package graft.streaming

import graft.functions.MinHash
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** A document on the ingest stream. */
case class StreamDoc(id: Long, text: String)

/** A timestamped document for the windowed (bounded-state) variant. */
case class TimedDoc(id: Long, ts: java.sql.Timestamp, text: String)

/** A streamed near-dup candidate pair (d1 < d2) with the MinHash-estimated
  * Jaccard similarity (fraction of agreeing signature rows).
  */
case class NearDupPair(d1: Long, d2: Long, simEst: Double)

/** Streaming MinHash-LSH near-duplicate detection — the streaming analog of
  * the batch e2 path ([[graft.operators.TextDedup.minhashBandPairs]]): drop
  * or flag near-duplicate documents AS THEY ARRIVE, against the full
  * history, without re-scanning the corpus.
  *
  * Shape: a stateless flatMap computes each document's k-row MinHash
  * signature and its LSH bands (the batch path's own [[MinHash.sketch]]
  * and [[MinHash.bands]]), one row per band; `flatMapGroupsWithState`
  * keyed by the (band, bsig) bucket then emits each new arrival paired
  * against the bucket's members. The arguments are checked on the driver,
  * before the query starts.
  *
  * Scale/state contract (the streaming mirror of `bucketPairs`' caps):
  * per-bucket state is capped at `maxPerBucket` members — arrivals into a
  * full bucket are counted and dropped, exactly the boilerplate-mega-bucket
  * policy of the batch path (at web scale a 10⁶-member bucket is
  * boilerplate, and its O(b²) pairs are noise). Total state is
  * O(buckets × maxPerBucket × k) longs with no watermark, matching
  * dedup-against-all-history semantics; [[candidatePairsWindowed]] is the
  * watermark-evicted bounded-state variant for infinite streams.
  *
  * A pair that collides in several bands is emitted once per band (the
  * batch path's global `distinct()` has no streaming analog without a
  * second stateful stage); downstream consumers dedup on (d1, d2).
  */
object StreamingNearDedup {

  // Encoder-visible state types (codegen requires public constructors).
  case class Member(id: Long, sig: Array[Long])
  case class BucketState(members: List[Member], dropped: Long)
  case class TimedMember(id: Long, sig: Array[Long], tsMs: Long)
  case class TimedBucketState(members: List[TimedMember], dropped: Long)
  case class TimedBucketRow(bucket: MinHash.Band, id: Long, sig: Array[Long],
                            ts: java.sql.Timestamp)

  /** [[candidatePairs]] bounded to an event-time window — the production
    * shape for an infinite stream: a document only pairs against bucket
    * members whose event time is within `windowSec` of its OWN event time
    * (symmetric: `|t − t_member| ≤ windowSec`, so an out-of-order arrival
    * admitted by a non-zero `watermarkDelay` pairs neither with members too
    * far ahead of it nor too far behind). Members are pruned against the
    * WATERMARK, not the current row's time: a member is dropped only once
    * `member.ts + windowSec < watermark`, i.e. once no admissible future
    * row could still pair with it — a late row's older neighbors are kept
    * exactly as long as the configured lateness bound requires. Bucket
    * state is EVICTED by the watermark (`EventTimeTimeout` fires once the
    * watermark passes the bucket's last activity + window, removing the
    * state entirely), so total state is O(active buckets × maxPerBucket)
    * regardless of stream age. Requires the caller-supplied
    * `watermarkDelay` (how late events may arrive); rows later than that
    * are dropped by the watermark before they reach the state operator.
    */
  def candidatePairsWindowed(
      docs: Dataset[TimedDoc],
      windowSec: Long,
      k: Int, shingleK: Int, bands: Int,
      maxPerBucket: Int = 1024,
      watermarkDelay: String = "0 seconds"): Dataset[NearDupPair] = {
    MinHash.requireSketch(k, shingleK)
    MinHash.requireBanding(k, bands)
    val spark = docs.sparkSession
    import spark.implicits._
    val windowMs = windowSec * 1000L
    docs
      .flatMap { d =>
        val sig = MinHash.sketch(d.text, k, shingleK)
        MinHash.bands(sig, bands).map(b => TimedBucketRow(b, d.id, sig, d.ts))
      }
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[TimedBucketState, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_, rows, state: GroupState[TimedBucketState]) =>
          if (state.hasTimedOut) {
            // watermark passed last activity + window: no future row can
            // pair with anything here — drop the whole bucket's state
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(TimedBucketState(Nil, 0L))
            // Prune against the WATERMARK: any future row the watermark
            // still admits has ts >= wm, so a member with
            // ts + window < wm can never pair again. Pruning on the
            // current row's time instead would evict members a late
            // (but admissible) row was still entitled to pair with.
            val wm = state.getCurrentWatermarkMs()
            st = st.copy(members = st.members.filter(_.tsMs + windowMs >= wm))
            val out = rows.toSeq.sortBy(r => (r.ts.getTime, r.id)).flatMap { r =>
              val tMs = r.ts.getTime
              if (st.members.exists(_.id == r.id)) Nil
              else if (st.members.size >= maxPerBucket) {
                st = st.copy(dropped = st.dropped + 1)
                Nil
              } else {
                // symmetric window: |t - t_member| <= windowMs — a late row
                // must not pair with members more than windowMs AHEAD of
                // its own event time either
                val pairs = st.members
                  .filter(m => math.abs(tMs - m.tsMs) <= windowMs)
                  .map { m =>
                    val agree = m.sig.zip(r.sig).count { case (a, b) => a == b }
                    val (lo, hi) = if (m.id < r.id) (m.id, r.id) else (r.id, m.id)
                    NearDupPair(lo, hi, agree.toDouble / k)
                  }
                st = st.copy(members = TimedMember(r.id, r.sig, tMs) :: st.members)
                pairs
              }
            }
            if (st.members.nonEmpty) {
              // evict once nothing in this bucket can pair anymore; must
              // stay strictly above the current watermark
              val lastActivity = st.members.map(_.tsMs).max
              state.setTimeoutTimestamp(
                math.max(lastActivity + windowMs, state.getCurrentWatermarkMs() + 1))
              state.update(st)
            } else state.remove()
            out.iterator
          }
      }
  }

  /** A corpus band-signature row — the signature-lake schema
    * ([[graft.operators.IncrementalDedup]]: (doc_id, band, bsig)).
    */
  case class SigRow(doc_id: Long, band: Int, bsig: String)

  /** Band-signature rows of a document stream — BIT-IDENTICAL to the batch
    * [[graft.operators.IncrementalDedup.bandSignatures]] (both call
    * [[MinHash.bands]]; StreamLakeFlushSpec pins row-set equality), so a
    * sink of these rows IS the signature lake a later batch delta probes.
    */
  def bandSignatureRows(
      docs: Dataset[StreamDoc], k: Int, shingleK: Int, bands: Int): Dataset[SigRow] = {
    MinHash.requireSketch(k, shingleK)
    MinHash.requireBanding(k, bands)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap { d =>
      MinHash.bands(MinHash.sketch(d.text, k, shingleK), bands).map(b => SigRow(d.id, b.band, b.bsig))
    }
  }

  /** The stream → signature-lake flush (VERDICT r9 #4): run beside
    * [[candidatePairs]] on the same input stream, appending each
    * micro-batch's band signatures to `lakePath` — a stream-deduped corpus
    * thereby leaves behind exactly the lake the NEXT day's batch delta
    * probes ([[graft.operators.IncrementalDedup.deltaPairs]]), unifying
    * the streaming and incremental dedup paths on ONE persisted artifact
    * (they are the same state at different temperatures). Exactly-once via
    * the file-source checkpoint; at 100 TB the appended rows are 3 small
    * columns per doc (tens of bytes), and the periodic job that compacts
    * the appends into the (band, bsig)-bucketed at-rest layout
    * ([[graft.sources.LakeLayout.writeBucketedBy]]) is the same
    * out-of-band compaction any append-heavy lake table runs.
    */
  def sigLakeSink(
      docs: Dataset[StreamDoc], lakePath: String, checkpoint: String,
      k: Int, shingleK: Int, bands: Int,
      availableNow: Boolean = false): StreamingQuery = {
    val writer = bandSignatureRows(docs, k, shingleK, bands)
      .writeStream.option("checkpointLocation", checkpoint)
      .format("parquet").option("path", lakePath).outputMode("append")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Candidate near-dup pairs over an unbounded document stream. Append
    * mode; each output row pairs a new arrival with an earlier bucket
    * member (d1 < d2 by id).
    */
  def candidatePairs(
      docs: Dataset[StreamDoc],
      k: Int, shingleK: Int, bands: Int,
      maxPerBucket: Int = 1024): Dataset[NearDupPair] = {
    MinHash.requireSketch(k, shingleK)
    MinHash.requireBanding(k, bands)
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .flatMap { d =>
        val sig = MinHash.sketch(d.text, k, shingleK)
        MinHash.bands(sig, bands).map(b => (b, d.id, sig))
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows, state: GroupState[BucketState]) =>
          var st = state.getOption.getOrElse(BucketState(Nil, 0L))
          // micro-batch arrival order is non-deterministic within a batch;
          // process id-ascending so cross-run output is stable
          val out = rows.toSeq.sortBy(_._2).flatMap { case (_, id, sig) =>
            if (st.members.exists(_.id == id)) Nil // replay of a known member
            else if (st.members.size >= maxPerBucket) {
              st = st.copy(dropped = st.dropped + 1)
              Nil
            } else {
              val pairs = st.members.map { m =>
                val agree = m.sig.zip(sig).count { case (a, b) => a == b }
                val (lo, hi) = if (m.id < id) (m.id, id) else (id, m.id)
                NearDupPair(lo, hi, agree.toDouble / k)
              }
              st = st.copy(members = Member(id, sig) :: st.members)
              pairs
            }
          }
          state.update(st)
          out.iterator
      }
  }
}
