package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.checks.SpanInvariant

/** Structured Streaming validation: the reference's stdin one-shot
  * (YamlSchemaValidatorRunner.java:75-88) generalized to a continuous
  * source. A micro-batch of arriving docs is validated against the static
  * reference table (stream-static join — no state), violations are
  * windowed with a watermark, and per-partition running verdicts are kept
  * with mapGroupsWithState.
  */
object StreamOps {

  /** Per-doc verdicts on a stream: stream-static join + the same
    * invariant projection as batch. Stateless → append mode. Keeps
    * `event_time` for downstream watermarked aggregation.
    */
  def validateStream(docStream: DataFrame, ref: DataFrame): DataFrame =
    SpanInvariant.annotate(docStream, ref)
      .select(col("doc_id"), col("part"), col("event_time"),
        (size(col("violations")) === 0).as("valid"),
        size(col("violations")).as("n_violations"))

  /** Tumbling-window invalid-doc counts with a watermark (late data beyond
    * 10 minutes is dropped; state is bounded by watermark retention).
    * Expects an `event_time` timestamp column on the stream.
    */
  def windowedInvalidCounts(verdictStream: DataFrame): DataFrame =
    verdictStream
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "1 minute"), col("part"))
      .agg(count(lit(1)).as("docs"), count_if(!col("valid"))
        .as("invalid_docs"))
      .select(col("window.start").as("win_start"), col("part"),
        col("docs"), col("invalid_docs"))

  final case class PartEvent(part: String, valid: Boolean)
  final case class PartState(part: String, docs: Long, invalidDocs: Long,
      valid: Boolean)

  /** Running per-partition conjunction over the whole stream via
    * mapGroupsWithState — the streaming analogue of the reference's
    * insertion-order accumulation into one result map.
    */
  def runningPartitionState(verdictStream: Dataset[PartEvent])
      : Dataset[PartState] = {
    import verdictStream.sparkSession.implicits._
    verdictStream
      .groupByKey(_.part)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (part: String, events: Iterator[PartEvent],
         state: GroupState[PartState]) =>
          val prev = state.getOption.getOrElse(PartState(part, 0L, 0L, true))
          var docs = prev.docs
          var bad = prev.invalidDocs
          events.foreach { e =>
            docs += 1
            if (!e.valid) bad += 1
          }
          val next = PartState(part, docs, bad, bad == 0)
          state.update(next)
          next
      }
  }

  final case class TimedDoc(doc_id: String,
      spans: Seq[graft.model.Span], part: String, event_time: Timestamp)

  final case class FpEvent(fingerprint: String, doc_id: String,
      event_time: Timestamp)
  final case class FpKeep(fingerprint: String, keep_id: String)

  /** Streaming exact dedup — the continuous analogue of
    * [[graft.operators.Dedup.exactDuplicates]]: the FIRST arrival of
    * each content fingerprint is emitted (min doc_id within its
    * micro-batch for determinism), every later duplicate is dropped by
    * per-fingerprint state. State is keyed on the 16-byte digest only
    * (text never enters state) and EXPIRES one hour past the watermark
    * via event-time timeout, so state size is bounded by the retention
    * window's distinct-fingerprint count, not the stream's lifetime —
    * the documented tradeoff is that a duplicate arriving after its
    * original's state expired is re-emitted (at 100 TB an unbounded
    * exact-dedup memory is the alternative; a compaction join against
    * the deduped sink closes the gap).
    */
  def streamingDedup(docs: Dataset[FpEvent]): Dataset[FpKeep] = {
    import docs.sparkSession.implicits._
    docs
      .withWatermark("event_time", "10 minutes")
      .groupByKey(_.fingerprint)
      .flatMapGroupsWithState[String, FpKeep](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (fp: String, events: Iterator[FpEvent],
         state: GroupState[String]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            Iterator.empty // duplicates of an already-emitted doc
          } else {
            val first = events.minBy(e => (e.doc_id, e.event_time.getTime))
            state.update(first.doc_id)
            state.setTimeoutTimestamp(
              first.event_time.getTime + 60L * 60 * 1000)
            Iterator.single(FpKeep(fp, first.doc_id))
          }
      }
  }

  final case class TextDoc(doc_id: Long, text: String,
      event_time: Timestamp)
  final case class BandEvent(bh: Long, doc_id: Long, event_time: Timestamp)
  final case class BandCandidate(id_a: Long, id_b: Long, bh: Long)

  /** LSH band events of a `(doc_id: Long, text, event_time)` doc stream:
    * the fused words→MinHash kernel plus the SAME packed band keys as
    * the batch path ([[graft.operators.Dedup.bandHashesOf]] — shared
    * expression, so stream and batch band keys are bit-identical by
    * construction; StreamingSpec cross-checks against
    * [[graft.operators.Dedup.bandKeysOf]]). Pure projection + explode —
    * stateless, runs at scan speed in every micro-batch.
    */
  def bandEvents(docStream: DataFrame): Dataset[BandEvent] = {
    import docStream.sparkSession.implicits._
    import graft.operators.Dedup
    docStream
      .select(col("doc_id"), col("event_time"),
        graft.functions.TextHash.minhashText(col("text"), 3,
          Dedup.NumHashes).as("sig"))
      .select(explode(Dedup.bandHashesOf(col("sig"))).as("bh"),
        col("doc_id"), col("event_time"))
      .as[BandEvent]
  }

  /** Streaming near-dup CANDIDATES — the continuous analogue of the
    * batch MinHash banding join
    * ([[graft.operators.Dedup.minhashCandidatesOf]]): per band key, the
    * FIRST arrival claims the band (state = one 8-byte doc_id — the
    * same ids-only, 16-bytes-per-row discipline as the batch index;
    * text and signatures never enter state), and every LATER arrival on
    * a claimed band emits a `(min, max, bh)` candidate pair against the
    * band representative.
    *
    * Representative-only pairing keeps the per-band output LINEAR in
    * arrivals — the streaming counterpart of the batch hot-chunk df cap:
    * a boilerplate band key that would pair quadratically in a bucket
    * join instead emits one pair per arrival. Two later arrivals b, c on
    * a band claimed by a emit (a,b) and (a,c) but not (b,c); the
    * transitive closure ([[graft.operators.Clusters]]) reassembles the
    * component, so cluster-level dedup decisions are unchanged —
    * StreamingSpec asserts component-equality with the batch pair set.
    * Same pair may emit from several bands/micro-batches (multiplicity
    * is deduped at the sink, where the verify's merge-on-write lands).
    * Band state expires one hour past the watermark, bounding state by
    * the retention window's distinct-band count — the same
    * late-duplicate re-emission tradeoff as [[streamingDedup]].
    */
  def streamingBandCandidates(bands: Dataset[BandEvent])
      : Dataset[BandCandidate] = {
    import bands.sparkSession.implicits._
    bands
      .withWatermark("event_time", "10 minutes")
      .groupByKey(_.bh)
      .flatMapGroupsWithState[Long, BandCandidate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (bh: Long, events: Iterator[BandEvent],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // deterministic within a micro-batch: earliest (then
            // smallest-id) arrival claims an unclaimed band
            val sorted = events.toArray
              .sortBy(e => (e.event_time.getTime, e.doc_id))
            val out = Seq.newBuilder[BandCandidate]
            var rep = state.getOption
            sorted.foreach { e =>
              rep match {
                case None =>
                  rep = Some(e.doc_id)
                  state.update(e.doc_id)
                case Some(r) if r != e.doc_id =>
                  out += BandCandidate(math.min(r, e.doc_id),
                    math.max(r, e.doc_id), bh)
                case _ => () // re-delivery of the representative itself
              }
            }
            if (sorted.nonEmpty) state.setTimeoutTimestamp(
              sorted.last.event_time.getTime + 60L * 60 * 1000)
            out.result().iterator
          }
      }
  }

  /** Streaming near-dup dedup end-to-end: band the doc stream, emit
    * candidates from band state, then VERIFY each candidate with exact
    * Jaccard via two stream-static joins against the corpus store (the
    * table ingested docs land in before dedup decisions — production
    * points this at the bucketed-by-id sink, making both lookups
    * co-located). Verification is candidate-bounded: shingle sets are
    * computed only for the joined candidate rows, never the corpus or
    * the stream at large. Emits `(id_a, id_b, jaccard)` with J ≥
    * `threshold`, append mode.
    */
  def streamingNearDup(docStream: DataFrame, corpusStore: DataFrame,
      threshold: Double = 0.6): DataFrame =
    verifyPairs(streamingBandCandidates(bandEvents(docStream)).toDF()
      .select(col("id_a"), col("id_b")), corpusStore, threshold)

  /** Exact-Jaccard verification of a candidate-pair stream via two
    * stream-static joins against the corpus store (the table ingested
    * docs land in before dedup decisions; production points this at a
    * bucketed-by-id sink, co-locating both lookups). Raw TEXT joins
    * first and the shingle kernels run on the joined rows after — the
    * per-batch static-side work is a column-pruned (doc_id, text)
    * scan; shingling the store before the join would re-shingle the
    * corpus every micro-batch.
    */
  private def verifyPairs(cand: DataFrame, corpusStore: DataFrame,
      threshold: Double): DataFrame = {
    import graft.operators.Dedup
    val txt = corpusStore.select(col("doc_id"), col("text"))
    cand
      .join(txt.select(col("doc_id").as("id_a"), col("text").as("t_a")),
        Seq("id_a"))
      .join(txt.select(col("doc_id").as("id_b"), col("text").as("t_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.shinglesOf(split(col("t_a"), " ")).as("sh_a"),
        Dedup.shinglesOf(split(col("t_b"), " ")).as("sh_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Streaming incremental near-dup dedup against a PERSISTED corpus
    * index — the streaming twin of
    * [[graft.operators.Dedup.incrementalDedup]], complementing
    * [[streamingNearDup]] (which dedups the stream against itself):
    * each arriving doc's band keys meet the STORED
    * [[graft.operators.Dedup.writeSignatureTable]] table in a
    * stream-static join, so the candidate stage carries NO stream
    * state at all — corpus history lives in the index (production
    * buckets it by `bh`: a co-located lookup), and
    * [[graft.operators.Dedup.appendSignatures]] folds each ingested
    * batch in for the next. Multi-band matches of the same pair are
    * collapsed by `dropDuplicatesWithinWatermark` (state = pair ids
    * within the watermark — without it an exact duplicate would verify
    * once per shared band, 32×) before the candidate-bounded exact-
    * Jaccard verify. Emits `(id_a, id_b, jaccard)`, `id_a` from the
    * indexed corpus, `id_b` from the stream, append mode.
    */
  def streamingIndexDedup(docStream: DataFrame, corpusStore: DataFrame,
      sigTable: DataFrame, threshold: Double = 0.6): DataFrame = {
    val cand = bandEvents(docStream).toDF()
      .join(sigTable.select(col("doc_id").as("id_a"), col("bh")),
        Seq("bh"))
      .filter(col("id_a") =!= col("doc_id"))
      .select(col("id_a"), col("doc_id").as("id_b"), col("event_time"))
      .withWatermark("event_time", "10 minutes")
      .dropDuplicatesWithinWatermark("id_a", "id_b")
      .select(col("id_a"), col("id_b"))
    verifyPairs(cand, corpusStore, threshold)
  }

  final case class VecEvent(vec_id: Long, e: Seq[Double],
    event_time: Timestamp)

  /** Streaming incremental EMBEDDING dedup against the persisted
    * [[graft.operators.Similarity.writeSignTable]] sign index — the
    * streaming twin of
    * [[graft.operators.Similarity.incrementalCosineDups]], completing
    * the modality × mode matrix (text and embeddings each now have
    * batch, incremental-vs-stored-index, and streaming forms). Each
    * arriving vector is signed with the SAME codegen kernel as the
    * batch path (keys bit-identical by construction) and Hamming-1
    * probed one-sided; probe keys meet the STORED corpus keys in a
    * stream-static join, so the candidate stage carries NO stream
    * state — corpus history lives in the index (production buckets it
    * by (tbl, sig): a co-located lookup), and the batch append folds
    * new vectors in for later arrivals. Multi-table matches of the
    * same pair collapse via `dropDuplicatesWithinWatermark` (state =
    * pair ids + the arriving embedding within the watermark — without
    * it a near-identical pair would cosine-verify once per shared
    * probe key, up to DupTables × (DupBits+1) times); exact cosine
    * then verifies against the STATIC corpus embedding side,
    * candidate-bounded. Emits `(id_a, id_b, sim)`, `id_a` from the
    * indexed corpus, `id_b` from the stream, append mode.
    */
  def streamingEmbIndexDedup(vecStream: DataFrame, corpusEmb: DataFrame,
      signTable: DataFrame, threshold: Double = 0.9): DataFrame = {
    import graft.operators.Similarity
    val keyed = vecStream.select(col("vec_id"), col("e"),
      col("event_time"),
      posexplode(Similarity.dupSignatures(col("e")))
        .as(Seq("tbl", "sig")))
    val probeMasks = 0 +: (0 until Similarity.DupBits).map(1 << _)
    val probed = keyed.select(col("vec_id"), col("e"),
      col("event_time"), col("tbl"),
      explode(array(probeMasks.map(m =>
        col("sig").bitwiseXOR(lit(m))): _*)).as("sig"))
    val cand = probed
      .join(signTable.select(col("vec_id").as("id_a"), col("tbl"),
        col("sig")), Seq("tbl", "sig"))
      .filter(col("id_a") =!= col("vec_id"))
      .select(col("id_a"), col("vec_id").as("id_b"), col("e").as("eb"),
        col("event_time"))
      .withWatermark("event_time", "10 minutes")
      .dropDuplicatesWithinWatermark("id_a", "id_b")
    cand
      .join(corpusEmb.select(col("vec_id").as("id_a"),
        col("e").as("ea")), Seq("id_a"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosineSim(col("ea"), col("eb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  final case class UserEvent(user_id: Long, ts: Timestamp, value: Double)

  final case class Impression(user_id: Long, imp_id: Long, imp_ts: Timestamp)
  final case class Click(user_id: Long, click_id: Long, click_ts: Timestamp)

  /** Stream-stream attribution join: each click matched to the same
    * user's impressions in the preceding attribution window. Both
    * sides carry watermarks, and the join condition bounds click_ts to
    * [imp_ts, imp_ts + window], so Spark can expire buffered state on
    * BOTH sides — without the time bound a stream-stream inner join
    * must buffer every row forever. State is therefore
    * O(rows-per-watermark-horizon), not O(stream). Append mode.
    */
  def attributionJoin(impressions: DataFrame, clicks: DataFrame,
      window: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val imp = impressions.withWatermark("imp_ts", watermark)
    val clk = clicks.withWatermark("click_ts", watermark)
    imp.join(clk,
      imp("user_id") === clk("user_id") &&
        clk("click_ts") >= imp("imp_ts") &&
        clk("click_ts") <= imp("imp_ts") + expr(s"INTERVAL $window"),
      "inner")
      .select(imp("user_id"), col("imp_id"), col("click_id"),
        col("imp_ts"), col("click_ts"))
  }

  /** Streaming gap sessionization — the streaming twin of
    * [[graft.operators.Relational.sessionize]], via the built-in
    * `session_window`: per-event windows `[ts, ts+gap)` merged while
    * they overlap, which is the same grouping as the batch lag-break
    * form: session_window's merge bound is INCLUSIVE (measured — an
    * event at exactly prevEnd extends the session), so both forms
    * merge an exactly-gap-sized interval; the batch break is > on the
    * microsecond diff. StreamingSpec covers the exact-gap tie.
    * Watermark bounds the session state; finalized sessions emit in
    * append mode once the watermark passes their close.
    */
  def sessionizeStream(events: DataFrame, gap: String,
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).cast("int").as("n_events"),
        round(sum(col("value")), 4).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))
}
