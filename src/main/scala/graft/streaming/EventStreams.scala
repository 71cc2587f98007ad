package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream (extension beyond
  * the batch-only reference — SURVEY.md §1.1 records the reference has no
  * incremental computation; these give the engine the streaming surface a
  * production pipeline needs, sharing semantics with the batch queries
  * q35/q36).
  *
  * Scale: watermark + windowed aggregation is incremental state in the state
  * store keyed by (window, type) — no unbounded growth; sessionization keeps
  * one small state object per user with an event-time timeout.
  *
  * Sinks. Every standing store has a batch writer of the form
  * `(batch, …, batchId) => Unit`, and a stream lands in it through Spark's
  * own `foreachBatch`, e.g.
  * {{{
  * interactions.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
  *   GraphCF.writeEdgeBatch(b, "user", "item", path, id) }
  * }}}
  * Micro-batch delivery is at-least-once: after a failure the latest batch
  * is delivered again under the same id. The stream is exactly-once when
  * its writer either OVERWRITES a directory keyed by `batchId` (the replay
  * rewrites identical content — the writer reads only the batch and the
  * state of earlier batches) or is idempotent BY DERIVATION, as
  * [[graft.ops.Dedup.appendDigests]] is (the replay finds its own rows
  * already in the store and appends nothing). A bucketed `append` (e.g.
  * [[graft.ops.Similarity.appendToIvfStore]]) is neither: under replay it
  * duplicates rows. Stateful operators upstream of a writer keep the rule,
  * since the checkpointed state store makes a replayed batch re-emit the
  * same rows. `BatchReplaySpec` checks the rule writer by writer.
  */
object EventStreams {

  /** Tumbling-window counts/sums with a watermark — streaming twin of batch
    * query q35. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))

  /** Hopping (sliding) window counts with a watermark — streaming twin of
    * batch query q38: each event contributes to duration/slide overlapping
    * windows; state is bounded by the watermark horizon. */
  def hoppingCounts(events: DataFrame, duration: String = "30 minutes",
                    slide: String = "15 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), duration, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))

  /** Streaming dedup on the business key — streaming counterpart of batch
    * query q39, with the PROCESSING-ORDER semantics streaming natively
    * gives: the first-ARRIVING row per (user_id, event_type) within the
    * watermark horizon is kept (dropDuplicatesWithinWatermark), and
    * duplicates separated by more than the horizon re-emit — that bounded
    * state is exactly the at-scale trade. Batch q39 keeps the earliest row
    * by EVENT time (ts, event_id); the two coincide for in-order feeds and
    * differ on late data — [[dedupEventTimeMinimal]] is the variant with
    * exact batch semantics. */
  def dedupFirstSeen(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  final case class MinState(eventId: Long, tsMicros: Long)
  final case class FirstEvent(user_id: Long, event_type: String,
                              event_id: Long, first_ts: java.sql.Timestamp)

  /** Event-time-minimal streaming dedup — the streaming twin of batch q39
    * with exact batch semantics WITHIN the watermark horizon: for each
    * (user_id, event_type) the row minimal by (ts, event_id) is emitted,
    * once the watermark strictly passes its event time. This closes the
    * processing-order gap documented on [[dedupFirstSeen]]: a late row with
    * a smaller event time DISPLACES the earlier-arriving candidate instead
    * of being discarded as a duplicate. Beyond the horizon the same
    * bounded-state trade as [[dedupFirstSeen]] applies: after a key's state
    * times out and emits, a later event for that key creates fresh state
    * and emits a SECOND FirstEvent — batch q39 emits one row per key, so
    * exactness holds only for events within the watermark of each other.
    *
    * State is one (event_id, ts) pair per live key, freed when the key's
    * event-time timeout fires — bounded like dropDuplicatesWithinWatermark,
    * at the price of emission latency = the watermark delay.
    *
    * Soundness of the timeout: results fire when watermark(ms) > the
    * candidate's event time (ms, +1), and stateful ops drop rows older
    * than the watermark, so no row accepted after emission can be
    * (ts, event_id)-smaller than what was emitted. */
  def dedupEventTimeMinimal(events: DataFrame,
                            watermark: String = "2 hours"): Dataset[FirstEvent] = {
    import events.sparkSession.implicits._
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("event_type"),
        col("event_id").cast("long"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, String, Long, java.sql.Timestamp, Long)]
    typed
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (Long, String), rows: Iterator[(Long, String, Long, java.sql.Timestamp, Long)],
         state: GroupState[MinState]) => {
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            val t = new java.sql.Timestamp(st.tsMicros / 1000000L * 1000L)
            t.setNanos(((st.tsMicros % 1000000L) * 1000L).toInt)
            Iterator.single(FirstEvent(key._1, key._2, st.eventId, t))
          } else {
            var st = state.getOption.orNull
            rows.foreach { case (_, _, eid, _, tsUs) =>
              if (st == null || tsUs < st.tsMicros ||
                  (tsUs == st.tsMicros && eid < st.eventId))
                st = MinState(eid, tsUs)
            }
            state.update(st)
            // fire once the watermark strictly passes the candidate's
            // event time; the timeout must sit above the current watermark
            state.setTimeoutTimestamp(math.max(st.tsMicros / 1000L + 1L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
        })
  }

  final case class LatestState(eventId: Long, tsMicros: Long,
                               value: java.lang.Double)
  final case class EnrichedEvent(user_id: Long, event_id: Long,
                                 ts: java.sql.Timestamp, r_id: java.lang.Long,
                                 r_value: java.lang.Double)

  /** Latest-state enrichment — the streaming twin of the batch as-of join
    * ([[graft.ops.TimeJoins.asofJoin]]): per user, every `leftType` event
    * is emitted enriched with the (ts, id)-largest `rightType` event seen
    * SO FAR (NULL columns when none yet). State is one small record per
    * key, freed by an event-time timeout once the watermark passes the
    * key's latest right event by `stateHorizon` — the store is bounded by
    * the keys active inside the horizon, not by every key ever seen
    * (ProcessingTimeTimeout is deliberately NOT used: with the default
    * trigger it schedules continuous empty micro-batches). A left event
    * arriving after its key's state was evicted enriches as if no right
    * event existed — the same bounded-state trade [[dedupFirstSeen]]
    * documents.
    *
    * Semantics contract (same honesty as [[dedupFirstSeen]]): within a
    * micro-batch rows are processed in event-time order, so in-order feeds
    * reproduce the batch as-of exactly; a right row arriving in a LATER
    * micro-batch than a left row it precedes in event time cannot
    * retroactively enrich it — that processing-order trade is what keeps
    * state O(active keys) instead of O(history). A NULL right-side value
    * passes through as NULL, as in the batch twin. */
  def enrichLatest(events: DataFrame, leftType: String, rightType: String,
                   watermark: String = "2 hours",
                   stateHorizon: String = "30 days"): Dataset[EnrichedEvent] = {
    import events.sparkSession.implicits._
    val typed = events
      .withWatermark("ts", watermark)
      .filter(col("event_type").isin(leftType, rightType))
      .select(col("user_id").cast("long"), col("event_type"),
        col("event_id").cast("long"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("value").cast("double"))
      .as[(Long, String, Long, java.sql.Timestamp, Long, java.lang.Double)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long,
         rows: Iterator[(Long, String, Long, java.sql.Timestamp, Long, java.lang.Double)],
         state: GroupState[LatestState]) => {
          if (state.hasTimedOut) {
            state.remove() // horizon passed: free the slot, emit nothing
            Iterator.empty
          } else {
            // event-time order within the batch; right rows before left rows
            // at equal time (the batch as-of's inclusive at-or-before rule)
            val sorted = rows.toSeq.sortBy(r => (r._5, r._2 != rightType, r._3))
            var st = state.getOption.orNull
            val out = Seq.newBuilder[EnrichedEvent]
            sorted.foreach { case (_, typ, eid, t, tsUs, v) =>
              if (typ == rightType) {
                if (st == null || tsUs > st.tsMicros ||
                    (tsUs == st.tsMicros && eid > st.eventId))
                  st = LatestState(eid, tsUs, v)
              } else {
                out += EnrichedEvent(user, eid, t,
                  if (st == null) null else Long.box(st.eventId),
                  if (st == null) null else st.value)
              }
            }
            if (st != null) {
              state.update(st)
              // evict once the watermark passes the latest right event by
              // the horizon; the base must sit above the current watermark
              state.setTimeoutTimestamp(
                math.max(st.tsMicros / 1000L, state.getCurrentWatermarkMs() + 1L),
                stateHorizon)
            }
            out.result().iterator
          }
        })
  }

  final case class MediaFeatureState(eventId: Long, tsMicros: Long,
                                     nBytes: Int, feature: Array[Float])
  final case class MediaEnrichedView(media_id: Long, event_id: Long,
                                     ts: java.sql.Timestamp,
                                     media_event_id: java.lang.Long,
                                     n_bytes: java.lang.Integer,
                                     feature: Array[Float])

  /** Streaming media-metadata enrichment — [[enrichLatest]] composed with
    * [[graft.multimodal.Multimodal]]'s feature extraction: a media stream
    * (media_id, kind, payload, event_id, ts) is DECODED AT THE EDGE (real
    * [[graft.multimodal.ImageCodec]] for images, byte-math stub otherwise)
    * as a stateless narrow map, and each view event (media_id, event_id,
    * ts) is emitted enriched with the latest-at-or-before features of its
    * media — NULL columns when the media hasn't arrived yet.
    *
    * Scale shape: the decode runs BEFORE the keyed shuffle, so only the
    * 16-float feature + byte count cross the exchange and sit in the state
    * store — never the binary payload (a payload-through-shuffle variant
    * would move the corpus bytes every micro-batch). State is one feature
    * record per live media_id with the same event-time horizon eviction as
    * [[enrichLatest]]; the same in-order/late-data contract applies
    * (in-order feeds reproduce the batch as-of join exactly —
    * StreamingMultimodalSpec proves equality against
    * [[graft.ops.TimeJoins.asofJoin]] over batch-extracted features). */
  def enrichLatestMediaFeatures(views: DataFrame, media: DataFrame,
                                watermark: String = "2 hours",
                                stateHorizon: String = "30 days"): Dataset[MediaEnrichedView] = {
    import views.sparkSession.implicits._
    import graft.multimodal.Multimodal
    // media side: decode features narrowly, keep payload out of the plan
    val feats = media
      .select(col("media_id").cast("long"), col("kind"),
        col("payload").cast("binary"), col("event_id").cast("long"), col("ts"))
      .as[(Long, String, Array[Byte], Long, java.sql.Timestamp)]
      .map { case (mid, kind, payload, eid, t) =>
        (mid, "media", eid, t, payload.length,
          Multimodal.decodeFeature(kind, payload))
      }
      .toDF("media_id", "tag", "event_id", "ts", "n_bytes", "feature")
    val viewSide = views
      .select(col("media_id").cast("long"), lit("view").as("tag"),
        col("event_id").cast("long"), col("ts"), lit(0).as("n_bytes"),
        lit(null).cast("array<float>").as("feature"))
    val tagged = feats.unionByName(viewSide)
      .withWatermark("ts", watermark)
      .select(col("media_id"), col("tag"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("n_bytes"), col("feature"))
      .as[(Long, String, Long, java.sql.Timestamp, Long, Int, Array[Float])]
    tagged
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (mid: Long,
         rows: Iterator[(Long, String, Long, java.sql.Timestamp, Long, Int, Array[Float])],
         state: GroupState[MediaFeatureState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // event-time order; media rows before views at equal time (the
            // batch as-of's inclusive at-or-before rule)
            val sorted = rows.toSeq.sortBy(r => (r._5, r._2 != "media", r._3))
            var st = state.getOption.orNull
            val out = Seq.newBuilder[MediaEnrichedView]
            sorted.foreach { case (_, tag, eid, t, tsUs, nBytes, feature) =>
              if (tag == "media") {
                if (st == null || tsUs > st.tsMicros ||
                    (tsUs == st.tsMicros && eid > st.eventId))
                  st = MediaFeatureState(eid, tsUs, nBytes, feature)
              } else {
                out += MediaEnrichedView(mid, eid, t,
                  if (st == null) null else Long.box(st.eventId),
                  if (st == null) null else Int.box(st.nBytes),
                  if (st == null) null else st.feature)
              }
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp(
                math.max(st.tsMicros / 1000L, state.getCurrentWatermarkMs() + 1L),
                stateHorizon)
            }
            out.result().iterator
          }
        })
  }

  final case class SessionState(sessionId: Long, lastTsMicros: Long)
  /** Stream-stream interval join — the conversion-attribution shape: each
    * left event (e.g. a click) joins every right event (e.g. a purchase)
    * by the same user within `[left.ts, left.ts + maxGapSeconds]`. Both
    * sides are watermarked and the join condition is time-BOUNDED in both
    * directions, which is exactly what lets Spark keep bounded state for a
    * stream-stream inner join in append mode: a buffered right row becomes
    * evictable once the left watermark passes `right.ts` (no left row that
    * could still match it can arrive), and symmetrically for the left —
    * state is O(events inside the watermark + gap horizon) per side, not
    * O(history). An UNbounded condition (plain equi-join of two streams)
    * would grow state forever; this operator makes the bound part of its
    * signature.
    *
    * Batch twin: the same range predicate as [[graft.ops.TimeJoins]]'
    * interval machinery — `StreamStreamSpec` proves streaming output equals
    * the batch join on identical data. Late rows beyond the watermark are
    * dropped (the standard trade). */
  def intervalJoin(left: DataFrame, right: DataFrame, maxGapSeconds: Long,
                   watermark: String = "2 hours"): DataFrame =
    intervalJoinImpl(left, right, maxGapSeconds, watermark, "inner")

  /** Left-outer variant of [[intervalJoin]]: conversion attribution where
    * UNCONVERTED left events must also emit (with null right columns).
    * Same bounded-state story as the inner join, plus the outer-specific
    * rule: a buffered left row emits its null-padded result only once the
    * right-side watermark passes the END of its match interval — no
    * earlier (a matching right row could still arrive), no later (state
    * must evict). Until the watermark advances that far, unmatched lefts
    * are withheld, which is the documented outer stream-stream trade. */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame, maxGapSeconds: Long,
                            watermark: String = "2 hours"): DataFrame =
    intervalJoinImpl(left, right, maxGapSeconds, watermark, "left_outer")

  /** Shared body of [[intervalJoin]]/[[intervalJoinLeftOuter]] — ONE place
    * owns the watermarking, casts, and bounded condition, so the inner and
    * outer semantics can never drift apart. */
  private def intervalJoinImpl(left: DataFrame, right: DataFrame,
                               maxGapSeconds: Long, watermark: String,
                               joinType: String): DataFrame = {
    require(maxGapSeconds >= 0, "maxGapSeconds must be >= 0")
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("left_id"), col("ts").as("left_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").cast("long").as("r_user_id"),
        col("event_id").cast("long").as("right_id"), col("ts").as("right_ts"))
    l.join(r,
        col("user_id") === col("r_user_id") &&
          col("right_ts") >= col("left_ts") &&
          col("right_ts") <= col("left_ts") + expr(s"INTERVAL $maxGapSeconds SECONDS"),
        joinType)
      .select(col("user_id"), col("left_id"), col("right_id"),
        col("left_ts"), col("right_ts"))
  }

  /** Session-window aggregation via the built-in `session_window` — the
    * declarative twin of [[sessionize]]: per user, windows merge while
    * events arrive within `gap` of the session's current end, and a
    * session finalizes (append mode) once the watermark passes its end.
    * Unlike the mapGroupsWithState path this gets Spark's native state
    * format, RocksDB spilling, and session merging in the state store —
    * prefer it when per-session AGGREGATES are the goal and reach for
    * [[sessionize]] only when per-EVENT session labels are needed. */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes",
                         watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"), col("sum_value"))

  final case class FunnelState(stageTsMicros: Array[Long])
  final case class FunnelAdvance(user_id: Long, stage: Int,
                                 ts: java.sql.Timestamp)

  /** Streaming conversion funnel — the incremental twin of
    * [[graft.ops.Behavior.orderedFunnel]]: per user, an append-mode
    * `(user_id, stage, ts)` row fires the moment the user FIRST advances
    * to each stage, where stage i+1 only counts strictly after the
    * user's stage-i time (the batch operator's strict-order semantics).
    * `max(stage)` per user downstream equals the batch `stage_reached`.
    *
    * State is one `Array[Long]` of stage timestamps per ACTIVE user —
    * O(k) regardless of event volume — and is evicted by an event-time
    * timeout once the watermark passes the user's last advance by
    * `stateHorizon` (a user who returns later re-enters the funnel from
    * stage 1: the bounded-state trade every stateful op in this file
    * documents, explicit here because funnels are usually
    * session-scoped anyway).
    *
    * Ordering contract (same as [[enrichLatest]]): within a micro-batch
    * rows are processed in (ts, event_id) order, so an in-order feed
    * reproduces the batch funnel exactly; a stage event arriving in a
    * LATER micro-batch than a higher-stage event it precedes in event
    * time cannot retroactively lower the chain — advances already
    * emitted are immutable facts. */
  def funnelProgress(events: DataFrame, stages: Seq[String],
                     watermark: String = "2 hours",
                     stateHorizon: String = "4 hours"): Dataset[FunnelAdvance] = {
    require(stages.size >= 2, "a funnel needs at least 2 stages")
    require(stages.distinct.size == stages.size, "stages must be distinct")
    import events.sparkSession.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    val typed = events
      .withWatermark("ts", watermark)
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id").cast("long"), col("event_type"),
        col("event_id").cast("long"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, String, Long, java.sql.Timestamp, Long)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, String, Long, java.sql.Timestamp, Long)],
         state: GroupState[FunnelState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = state.getOption
              .getOrElse(FunnelState(Array.fill(stages.size)(Long.MinValue)))
            val t = st.stageTsMicros.clone()
            val out = scala.collection.mutable.ArrayBuffer.empty[FunnelAdvance]
            // event-time order within the batch pins the in-order contract
            rows.toSeq.sortBy(r => (r._5, r._3)).foreach { case (_, ty, _, tsv, tsUs) =>
              val i = stageIdx(ty)
              val prevOk = i == 0 || t(i - 1) != Long.MinValue
              val strictlyAfter = i == 0 || tsUs > t(i - 1)
              if (t(i) == Long.MinValue && prevOk && strictlyAfter) {
                t(i) = tsUs
                out += FunnelAdvance(user, i + 1, tsv)
              }
            }
            state.update(FunnelState(t))
            // evict once the watermark passes the last advance by the
            // horizon; the base must sit above the current watermark
            val lastAdvance = t.filter(_ != Long.MinValue)
              .reduceOption((a: Long, b: Long) => math.max(a, b)).getOrElse(0L)
            state.setTimeoutTimestamp(math.max(lastAdvance / 1000L,
              state.getCurrentWatermarkMs() + 1L), stateHorizon)
            out.iterator
          }
        })
  }

  final case class BasketTState(basketId: Long, tsMicros: Long,
                                items: Seq[Long])
  final case class TransitionPair(prev: Long, next: Long)

  /** Streaming leg of the Markov transition store — the STATEFUL pair
    * generator whose micro-batches land through
    * [[graft.ops.GraphCF.writeTransitionPairBatch]]: per user, keep the LAST capped basket in state and,
    * as each new basket arrives, emit its (prev item, next item) cross
    * pairs against the stored one. This is what incremental maintenance
    * of [[graft.ops.GraphCF.basketTransitions]] looks like on a stream —
    * a basket's arrival touches exactly |prev|·|new| ≤ maxBasket² pairs,
    * and the time-split micro-batches a stream naturally produces would
    * otherwise LOSE every transition crossing a batch boundary (the
    * batch-side [[graft.ops.GraphCF.writeTransitionBatch]] contract
    * demands user-sharded batches for exactly that reason; state is how
    * a stream meets it).
    *
    * Exactness contract (the [[enrichLatest]] honesty terms): rows are
    * processed in event-time order within each micro-batch, each basket
    * is capped to its top-`maxBasket` items (multiplicity desc, item id
    * — the batch operator's exact cut), so a feed whose micro-batches
    * don't split baskets reproduces the one-shot build bit-exactly
    * (TransitionStreamSpec pins it). A basket split ACROSS micro-batches
    * is processed as two baskets — feed basket-atomic micro-batches
    * (e.g. CDC on order commit) where equality matters. A basket that
    * arrives LATE across micro-batches (event time at or before the
    * state's — the watermark tolerates this) is DROPPED rather than
    * emitted: late emission would produce reversed (prev, next) pairs;
    * dropping degrades to a missing transition, never a wrong one.
    * State is one capped basket per live user, freed by the event-time
    * horizon. */
  def transitionDeltas(baskets: DataFrame, userCol: String, basketCol: String,
                       tsCol: String, itemCol: String, maxBasket: Int,
                       watermark: String = "2 hours",
                       stateHorizon: String = "30 days"): Dataset[TransitionPair] = {
    import baskets.sparkSession.implicits._
    require(maxBasket >= 1, "maxBasket must be >= 1")
    val typed = baskets
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("long"), col(basketCol).cast("long"),
        unix_micros(col(tsCol)).as("ts_us"), col(itemCol).cast("long"),
        col(tsCol).as("ts")) // the watermark column must survive the projection
      .as[(Long, Long, Long, Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Long, rows: Iterator[(Long, Long, Long, Long, java.sql.Timestamp)],
         state: GroupState[BasketTState]) => {
          if (state.hasTimedOut) {
            state.remove() // horizon passed: free the slot, emit nothing
            Iterator.empty
          } else {
            // baskets in event-time order (basket-id tie-break — the
            // batch operator's dense_rank order), capped exactly like it
            val byBasket = rows.toSeq.groupBy(r => (r._3, r._2))
              .toSeq.sortBy(_._1)
            var st = state.getOption.orNull
            val out = Seq.newBuilder[TransitionPair]
            byBasket.foreach { case ((tsUs, bid), rws) =>
              // cross-batch order guard: a basket at or before the state's
              // (event time, basket id) arrived LATE across micro-batches
              // (tolerated by the watermark) — emitting it would produce
              // REVERSED transition pairs and silently break the one-shot
              // equality contract. Drop it: every emitted pair stays a
              // true forward transition; a late basket degrades to a
              // missing transition, never a wrong-direction one. Also
              // makes replayed duplicate input rows inert.
              val late = st != null && (tsUs < st.tsMicros ||
                (tsUs == st.tsMicros && bid <= st.basketId))
              if (!late) {
                val kept = rws.groupBy(_._4).view.mapValues(_.size).toSeq
                  .sortBy { case (i, c) => (-c, i) }
                  .take(maxBasket).map(_._1)
                if (st != null)
                  for (p <- st.items; n <- kept) out += TransitionPair(p, n)
                st = BasketTState(bid, tsUs, kept)
              }
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp(
                math.max(st.tsMicros / 1000L, state.getCurrentWatermarkMs() + 1L),
                stateHorizon)
            }
            out.result().iterator
          }
        })
  }

  /** One micro-batch of streaming incremental near-duplicate detection: an
    * append-only document feed is LSH-probed per micro-batch against
    * everything that arrived before it — the continuous-ingestion twin of
    * the batch [[graft.ops.Dedup.lshProbeStore]] path, in the LSM shape: a
    * bucketed base store (built by [[graft.ops.Dedup.writeLshSignatureStore]]
    * backfill, probed exchange-free), a replay-idempotent per-batch delta
    * log, and [[graft.ops.Dedup.compactLshDelta]] folding deltas into the
    * base offline at O(delta) cost. For batch B of a document feed:
    *
    *  1. signs the batch once ([[graft.ops.Dedup.lshProbeBands]]) and probes
    *     THREE tiers for LSH candidates: the bucketed base store (optional;
    *     store side reads exchange-free), the streaming delta log (every
    *     batch < B — the docs that arrived since the last compaction), and
    *     the batch itself (first-seen-wins: the larger id is flagged);
    *  2. lands the flagged candidates at `outPath/batch=B` and the batch's
    *     own banded signatures at `deltaPath/batch=B` — both
    *     overwrite-per-batch-directory, the replay recipe above.
    *
    * Replay safety: a re-delivered batch B probes `batch < B` only (its own
    * half-written delta directory is excluded by partition pruning) and
    * rewrites its two directories with identical content. That holds EVEN
    * IF [[graft.ops.Dedup.compactLshDelta]] ran in between: compaction
    * moves delta batches into the base store and deletes their directories,
    * so base ∪ delta still covers exactly the documents of batches < B,
    * each once. Nothing here reads document text except the one signature
    * kernel pass; exchanges carry (8-byte band key, id, 64-int signature)
    * rows, never payloads. */
  def processIncrementalLshBatch(batch: DataFrame, batchId: Long,
                                 idCol: String, textCol: String,
                                 baseTable: Option[String], deltaPath: String,
                                 outPath: String, shingleLen: Int = 3,
                                 numHashes: Int = 64, bands: Int = 16,
                                 maxBucketSize: Int = 200): Unit = {
    import graft.ops.Dedup
    val spark = batch.sparkSession
    // feeds up to four plan branches (base probe, delta probe, within-batch
    // self-probe x2) plus the delta write — persist per scale conventions
    val banded = Dedup.lshProbeBands(batch, idCol, textCol, shingleLen,
        numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val asStore = banded.select(col("probe_id").as("id"),
        col("probe_sig").as("sig"), col("band_key"))
      val base = baseTable.filter(spark.catalog.tableExists)
        .map(t => Dedup.lshProbeFrames(spark.table(t), banded, maxBucketSize))
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(deltaPath), spark.sparkContext.hadoopConfiguration)
      val deltaRoot = new org.apache.hadoop.fs.Path(deltaPath)
      // "no delta yet" = no batch=* child (an existing-but-empty directory
      // would fail parquet schema inference)
      val delta =
        if (fs.exists(deltaRoot) &&
            fs.listStatus(deltaRoot).exists(_.getPath.getName.startsWith("batch=")))
          Some(Dedup.lshProbeFrames(
            spark.read.option("basePath", deltaPath).parquet(deltaPath)
              .filter(col("batch") < batchId)
              .select(col("id"), col("sig"), col("band_key")),
            banded, maxBucketSize))
        else None
      val within = Dedup.lshProbeFrames(asStore, banded, maxBucketSize)
        .filter(col("probe_id") > col("store_id"))
      val flagged = (Seq(within) ++ base ++ delta)
        .reduce(_ unionByName _)
        // a pair can surface from several tiers only while a crashed
        // compaction's double-append persists; est_sim is signature-pure so
        // any copy is the value
        .groupBy(col("probe_id"), col("store_id"))
        .agg(first(col("est_sim")).as("est_sim"))
        .select(col("probe_id"), col("store_id").as("match_id"),
          col("est_sim"))
      flagged.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      asStore.write.mode("overwrite").parquet(s"$deltaPath/batch=$batchId")
    } finally banded.unpersist()
  }

  /** Streaming quality gate — the train-batch / serve-stream split of the
    * Naive-Bayes classifier ([[graft.ops.Classify]]): an append-only
    * document feed is classified per row against a BROADCAST model
    * ([[graft.ops.Classify.nbTrainCollect]], vocabulary-sized by
    * contract), tagging each document with its predicted class, that
    * class's mean-conditional score, and a `keep` verdict
    * (`pred_label == keepClass && score >= minScore`).
    *
    * Deliberately STATELESS: no shuffle, no watermark, no state store —
    * one narrow projection per micro-batch, so gate throughput is scan
    * throughput and the operator composes ahead of any keyed stage
    * (the decode-at-the-edge argument of [[enrichLatestMediaFeatures]],
    * applied to classification). The broadcast is the serve-time model
    * pin: refreshing the model is a restart with a retrained broadcast,
    * not an in-flight mutation. The scoring UDF is the sanctioned
    * broadcast-lookup escape hatch (the Bloom-filter membership shape,
    * SURVEY §4) — the per-row work is a hash probe per token.
    *
    * Works identically on batch frames (the gate IS the batch scorer when
    * the model was trained on the same corpus — spec'd equivalence). */
  def gateByNbModel(docs: DataFrame, textCol: String,
                    model: graft.ops.Classify.NbModel,
                    keepClass: String, minScore: Double): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    val predictUdf = udf((toks: Seq[String]) => bc.value.predict(toks))
    docs
      .withColumn("__p",
        predictUdf(graft.ops.TextOps.wsTokens(
          graft.ops.TextOps.normalizeText(col(textCol)))))
      .withColumn("pred_label", col("__p._1"))
      .withColumn("score", col("__p._2"))
      .drop("__p")
      .withColumn("keep",
        col("pred_label") === lit(keepClass) && col("score") >= lit(minScore))
  }

  /** Streaming perplexity gate — [[gateByNbModel]]'s LM sibling (the CCNet
    * serve shape): each document in an append-only feed is scored against
    * a BROADCAST Laplace-smoothed bigram LM
    * ([[graft.ops.Terms.bigramLmTrainCollect]], vocabulary-sized by
    * contract) and tagged (n_bigrams, avg_nll, ppl, keep = ppl ≤ maxPpl).
    * Same deliberately STATELESS design: one narrow projection per
    * micro-batch, no shuffle/watermark/state store, model refresh = restart
    * with a retrained broadcast. Sub-bigram documents score NULL and fail
    * the gate (no evidence ≠ reference-like). Works identically on batch
    * frames — spec'd equivalent to [[graft.ops.Terms.bigramPerplexity]]
    * under the same train corpus. */
  def gateByLmPerplexity(docs: DataFrame, textCol: String,
                         model: graft.ops.Terms.BigramLmModel,
                         maxPpl: Double): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    val scoreUdf = udf((toks: Seq[String]) => bc.value.score(toks))
    docs
      .withColumn("__s",
        scoreUdf(graft.ops.TextOps.wsTokens(
          graft.ops.TextOps.normalizeText(col(textCol)))))
      .withColumn("n_bigrams", col("__s._1"))
      .withColumn("avg_nll", col("__s._2"))
      .withColumn("ppl", col("__s._3"))
      .drop("__s")
      .withColumn("keep", coalesce(col("ppl") <= lit(maxPpl), lit(false)))
  }

  final case class SessionizedEvent(user_id: Long, event_id: Long, session_id: Long)

  /** Gap-based sessionization via mapGroupsWithState — streaming twin of
    * batch query q36 (same gap rule: new session when the time since the
    * previous event exceeds gapSeconds). Emits the CURRENT session id per
    * micro-batch of events, keyed by user.
    *
    * State is EVICTED on an event-time timeout `horizonSeconds` past a
    * user's last event (the same bounded-state shape as
    * [[dedupEventTimeMinimal]]) — on an unbounded user universe the state
    * store holds only the users seen within the horizon, not every user
    * ever. A user returning after eviction restarts at session id 0 (a
    * fresh session — the horizon is ≥ the gap, so a new session was due
    * regardless; only the per-user session COUNTER resets, which the batch
    * twin would have kept counting). `horizonSeconds` must be ≥
    * `gapSeconds`: evicting sooner than the gap could stitch a
    * would-be-same session into a fresh id. */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800L,
                 horizonSeconds: Long = 7L * 86400L): Dataset[SessionizedEvent] = {
    require(horizonSeconds >= gapSeconds,
      s"horizonSeconds ($horizonSeconds) must be >= gapSeconds ($gapSeconds)")
    import events.sparkSession.implicits._
    val typed = events
      .withWatermark("ts", s"$horizonSeconds seconds")
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, java.sql.Timestamp, Long)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, Long)],
         state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // horizon passed with no new events: drop the session state
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(r => (r._4, r._2))
            var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
            val out = sorted.map { case (_, eventId, _, tsUs) =>
              val gapUs = tsUs - st.lastTsMicros
              val sid = if (st.lastTsMicros != Long.MinValue && gapUs > gapSeconds * 1000000L)
                st.sessionId + 1 else st.sessionId
              st = SessionState(sid, math.max(st.lastTsMicros, tsUs))
              SessionizedEvent(user, eventId, sid)
            }
            state.update(st)
            // evict once the watermark passes lastTs + horizon; the timeout
            // must sit strictly above the current watermark
            state.setTimeoutTimestamp(math.max(
              st.lastTsMicros / 1000L + horizonSeconds * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
        })
  }
}
