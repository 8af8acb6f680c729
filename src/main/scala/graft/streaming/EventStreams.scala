package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming operators over the events stream (SURVEY §2.10 —
  * additive capability, not parity: the reference is batch-only).
  *
  * Every transform here has a batch twin in graft.queries.EventQueries; the
  * StreamingSpec pins stream/batch result parity, which is the property that
  * matters when the same pipeline runs backfill (batch) + live (stream).
  */
object EventStreams {

  /** File-source stream over one table's parquet file, lowering the ts
    * column through [[graft.io.Tables.lowerNanoTs]] — the SAME helper the
    * batch loader uses, so stream/batch parity can't drift on the
    * ns-lowering expression. */
  def readTableStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val batchSchema = graft.io.ParquetSource.schema(spark, s"$dir/$name.parquet")
    val raw = spark.readStream.schema(batchSchema)
      .option("pathGlobFilter", s"$name.parquet") // file source wants a dir
      .parquet(dir)
    graft.io.Tables.lowerNanoTs(raw, name)
  }

  /** File-source stream over an events parquet directory. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame =
    readTableStream(spark, dir, "events")

  /** Tumbling hourly counts with a watermark: late events beyond 10 minutes
    * are dropped; state is bounded by (watermark horizon × groups). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("value")).as("max_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("max_value"))

  /** Session windows via the built-in session_window (gap-close 30 min). */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming exact dedup with bounded state: keeps the first arrival per
    * key and drops replays that land within the watermark horizon — the
    * streaming twin of the batch exact-dedup operator, and the standard
    * at-least-once → effectively-once ingestion repair. State is bounded by
    * (keys seen within the horizon), not all keys ever — the property that
    * keeps this runnable forever at 100 TB/day. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      horizon: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-static enrichment join: each event picks up attributes from a
    * STATIC dimension (user → segment, sede → municipality — the streaming
    * analogue of the reference's J1-family lookups, src/core.py:303-320).
    * The static side re-resolves and broadcasts per micro-batch; the join
    * is stateless (no watermark, no state store), so it composes freely
    * with downstream windowed aggregates. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Sliding-window counts (1 h window, 15 min slide) with a watermark —
    * the streaming twin of batch e11. Each event lands in 4 windows; state
    * holds only open windows (closed ones emit and expire on watermark
    * advance). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n"))

  /** Watermarked stream-stream interval join: each purchase joins clicks by
    * the same user within the preceding hour. Both sides carry watermarks
    * and the join condition bounds event-time distance, so Spark can expire
    * buffered state — the property that keeps a stream-stream join runnable
    * forever. Inner join: purchases with no prior click emit nothing. */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("user_id"), col("p_ts"), col("click_id"), col("c_ts"))
  }

  /** Streaming CDC apply: every micro-batch merges into the running
    * snapshot through [[graft.operators.Upsert.applyChanges]] (last-wins +
    * tombstones), so the pipeline maintains a queryable latest-state table
    * instead of truncate-and-reloading it. Snapshot IO is injected: tests
    * swap an in-memory holder, production a parquet/table rewrite. Batches
    * arrive in order within one query, and applyChanges is idempotent on
    * re-application, which is exactly the foreachBatch re-delivery
    * contract (a batch may be re-run after failure). */
  def startChangeApply(
      changes: DataFrame,
      readSnapshot: () => DataFrame,
      writeSnapshot: DataFrame => Unit,
      keys: Seq[String], ts: String, deleteCol: String) =
    changes.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        writeSnapshot(graft.operators.Upsert.applyChanges(
          readSnapshot(), batch.toDF(), keys, ts, deleteCol))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** File-source stream over a documents parquet directory. */
  def readDocumentsStream(spark: SparkSession, dir: String): DataFrame =
    readTableStream(spark, dir, "documents")

  /** Streaming corpus clean — the d9 batch pipeline on a document stream:
    * language gate → quality gate → canonical fingerprint → first-arrival
    * dedup. The gates are stateless per-row expressions; only the dedup
    * carries state. For a bounded backfill (AvailableNow) global exact
    * dedup is the right call; a CONTINUOUS ingest should pass a horizon so
    * state stays bounded by the watermark window instead of all
    * fingerprints ever — same trade the batch/stream dedup twins document.
    */
  def cleanCorpusStream(
      docs: DataFrame, ingestTs: Option[(String, String)] = None): DataFrame = {
    // Shared __toks projection, exactly like the batch d9 twin: the gate
    // references the token array 4+ times, and only a multi-referenced
    // lower-projection alias keeps the regexp tokenization at once-per-row.
    val quality = graft.functions.TextAnalysis
      .qualityColumnsFromTokens(col("text"), col("__toks"),
        graft.functions.TextAnalysis.enStopwords).toMap
    val tsCols = ingestTs.map { case (c, _) => col(c) }.toSeq
    val gated = docs
      .select(col("doc_id") +: col("text") +:
        graft.functions.TextTokens.tokens(col("text")).as("__toks") +: tsCols: _*)
      .filter(graft.functions.TextAnalysis.languageIdFromTokens(col("__toks")) === "en" &&
        quality("quality_ok"))
      .select(
        col("doc_id") +:
          graft.functions.TextAnalysis.fingerprintMd5(col("text")).as("fp") +:
          quality("n_tokens").as("n_tokens") +: tsCols: _*)
    ingestTs match {
      case Some((tsCol, horizon)) =>
        gated.withWatermark(tsCol, horizon).dropDuplicatesWithinWatermark("fp")
      case None => gated.dropDuplicates("fp")
    }
  }

  /** Streaming near-dup gate: each incoming document is LSH-banded and
    * equi-joined against a STATIC corpus band index — the online admission
    * check of a continuously-ingesting training pipeline ("is this new doc
    * a near-dup of anything already in the corpus?").
    *
    * The join is stream-static INNER on (band_idx, sig): completely
    * STATELESS (no watermark, no join state — each micro-batch probes the
    * static side and forgets), which is what makes it viable at 100 TB
    * corpus scale: the index is a normal table the optimizer can shuffle or
    * broadcast, while per-stream-row work stays bounded at `bands` probes.
    * Output is CANDIDATE pairs (doc_id, match_id, band_idx) — duplicates
    * across bands are expected and the downstream exact-Jaccard verify is
    * idempotent, the same contract as the batch candidatePairs → jaccard
    * chain (a streaming global distinct would reintroduce unbounded state).
    *
    * `index` comes from [[graft.functions.MinHashLSH.bandIndex]] over the
    * existing corpus (same k/bands — signatures only match like-for-like).
    */
  def nearDupCandidatesStream(
      docs: DataFrame, index: DataFrame, k: Int = 64, bands: Int = 16): DataFrame = {
    val hashed = docs.select(col("doc_id"),
      array_distinct(graft.functions.expr.HashedWordShingles(col("text"), 3)).as("hs"))
    graft.functions.MinHashLSH.bandIndex(hashed, "doc_id", "hs", k, bands)
      .join(
        index.select(col("id").as("match_id"), col("band_idx"), col("sig")),
        Seq("band_idx", "sig"))
      .filter(col("id") =!= col("match_id"))
      .select(col("id").as("doc_id"), col("match_id"), col("band_idx"))
  }

  /** Streaming snapshot-novelty gate — d36's stream twin: each incoming
    * document is admitted only if its exact content fingerprint
    * (md5 of lower(trim(text))) is NOT in the static prior-corpus
    * snapshot. Stream-static LEFT ANTI join: stateless (no watermark, no
    * join state — each micro-batch probes the static side and forgets),
    * so corpus scale lives on the static side where the optimizer can
    * shuffle or broadcast it.
    *
    * Same Bloom routing as the batch path: the sketch of the prior
    * fingerprint keys is built ONCE at query definition (a batch
    * aggregate over the snapshot — never per micro-batch) and probed as
    * a scan-level filter on the stream, so rows the sketch proves absent
    * skip the anti-join work; sketch-positive rows still hit the exact
    * join, which clears false positives. Bit-identical to the plain anti
    * join (no false negatives by construction).
    */
  def novelAgainstSnapshot(docs: DataFrame, priorDocs: DataFrame): DataFrame = {
    val fp = md5(lower(trim(col("text"))))
    val priorKeys = priorDocs.select(
      xxhash64(lower(trim(col("text")))).as("k64"), fp.as("fp"))
    val bloom = graft.operators.BloomPrefilter.build(
      priorKeys.select(col("k64")),
      "k64", expectedItems = math.max(priorKeys.count(), 1L), fpp = 0.01)
    val probed = docs.select(col("doc_id"), col("text"), fp.as("fp"),
      graft.functions.expr.BloomMightContainLong.mightContain(
        xxhash64(lower(trim(col("text")))), bloom).as("__might"))
    probed.filter(!col("__might"))
      .unionAll(probed.filter(col("__might"))
        .join(priorKeys.select(col("fp")).distinct(), Seq("fp"), "left_anti")
        .select(col("doc_id"), col("text"), col("fp"), col("__might")))
      .select(col("doc_id"), col("fp"))
  }

  /** Streaming DECONTAMINATION hit stream — d65's stream twin for a
    * continuously-ingesting pipeline ("does this new doc leak the eval
    * set?"): each incoming document's word n-gram shingles probe the
    * STATIC eval-shingle vocabulary; the output is the exact HIT stream
    * (doc_id, shingle) and the doc-level admission decision stays a
    * batch-side consumer concern — the same contract as
    * [[nearDupCandidatesStream]] (a streaming per-doc aggregate would
    * reintroduce state the stateless gate exists to avoid).
    *
    * Stateless and EXACT: a Bloom sketch of the vocabulary's xxhash64
    * keys (built ONCE at query definition, like [[novelAgainstSnapshot]])
    * drops definitely-clean shingle rows at the scan — the overwhelming
    * majority for a non-leaking stream — and the survivors hit the exact
    * stream-static inner join on the shingle string, which clears the
    * sketch's false positives. No false negatives by construction, no
    * join/watermark state; corpus scale lives on the static side.
    */
  def contaminationHitsStream(
      docs: DataFrame, evalCorpus: DataFrame, n: Int = 13): DataFrame = {
    val evalSh = evalCorpus
      .select(explode_outer(
        graft.functions.expr.WordShingleStrings(col("text"), n)).as("g"))
      .filter(col("g").isNotNull)
      .distinct()
    val bloom = graft.operators.BloomPrefilter.build(
      evalSh.select(xxhash64(col("g")).as("k64")),
      "k64", expectedItems = math.max(evalSh.count(), 1L), fpp = 0.01)
    docs
      .select(col("doc_id"), explode_outer(
        graft.functions.expr.WordShingleStrings(col("text"), n)).as("g"))
      .filter(col("g").isNotNull)
      .filter(graft.functions.expr.BloomMightContainLong.mightContain(
        xxhash64(col("g")), bloom))
      .join(evalSh, Seq("g"))
      .select(col("doc_id"), col("g"))
  }

  /** Streaming QUALITY-MODEL gate — the t57 fastText-style classifier on
    * a document stream, the online admission check of a continuously
    * ingesting curation pipeline. COMPLETELY STATELESS: the batch
    * scorer's doc-keyed aggregate would be unbounded stream state, so
    * this rides [[graft.functions.QualityModel.scoreStateless]] — the
    * weight table as a plan-literal map, the per-doc sum as a fold over
    * the gram array; per micro-batch each row is scored and forgotten.
    * Output (doc_id, n_grams, sum_w_fp, score_num_fp, keep) is
    * row-identical to the batch scorer (parity pinned in
    * QualityModelSpec AND stream==batch in StreamingSpec).
    */
  def qualityGateStream(docs: DataFrame, weights: Map[Long, Long],
      buckets: Long, biasFp: Long, thresholdFp: Long): DataFrame =
    graft.functions.QualityModel.scoreStateless(
      docs, "doc_id", "text", weights, buckets, biasFp, thresholdFp)

  // ---- custom state: explicit sessionization with flatMapGroupsWithState ----

  case class Ev(user_id: Long, ts: Timestamp)
  case class SessionState(start: Long, last: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: Timestamp, n_events: Long, closed: Boolean)

  val GapMs: Long = 30 * 60 * 1000L

  case class DayUser(day: String, user_id: Long, ts: Timestamp)
  case class DauUpdate(day: String, dau_estimate: Long)

  case class TouchEv(user_id: Long, event_type: String, event_id: Long, ts: Timestamp)
  case class FirstTouchState(
      firstUs: Long, firstEventId: Long, firstType: String,
      firstPurchaseUs: Long, lastUs: Long)
  case class FirstTouchUpdate(
      user_id: Long, first_type: String, first_ts: Timestamp,
      converted: Boolean, closed: Boolean)

  /** Attribution lookback: state older than this past the watermark retires
    * (event-time timeout). A user returning AFTER retirement starts a fresh
    * journey — the standard attribution-window contract, and what keeps
    * state bounded by (active users in window), not (all users ever). */
  val AttributionWindowMs: Long = 60 * 60 * 1000L

  /** Streaming twin of e30's per-user stage: the user's FIRST event (min by
    * (ts, event_id) — the batch tie-break, microsecond-exact) and whether a
    * purchase has been seen. Update-mode emissions revise a user's row as
    * earlier-but-in-watermark events or purchases arrive; the timeout
    * emission marks the journey closed and frees the state (the DAU
    * operator's retire pattern — never GroupStateTimeout.NoTimeout, which
    * would leak state linearly in users forever). */
  def firstTouchStream(events: DataFrame): Dataset[FirstTouchUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    def micros(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def toTs(us: Long): Timestamp = { // microsecond-exact reconstruction
      val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    events
      .withWatermark("ts", "10 minutes") // required for EventTimeTimeout
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      .as[TouchEv]
      .groupByKey(_.user_id)
      .mapGroupsWithState[FirstTouchState, FirstTouchUpdate](
        GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[TouchEv], state: GroupState[FirstTouchState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            FirstTouchUpdate(user, s.firstType, toTs(s.firstUs),
              converted = s.firstPurchaseUs >= 0, closed = true)
          } else {
            var s = state.getOption.getOrElse(
              FirstTouchState(Long.MaxValue, Long.MaxValue, "", -1L, Long.MinValue))
            evs.foreach { e =>
              val us = micros(e.ts)
              if (us < s.firstUs ||
                  (us == s.firstUs && e.event_id < s.firstEventId))
                s = s.copy(firstUs = us, firstEventId = e.event_id,
                  firstType = e.event_type)
              if (e.event_type == "purchase" &&
                  (s.firstPurchaseUs < 0 || us < s.firstPurchaseUs))
                s = s.copy(firstPurchaseUs = us)
              if (us > s.lastUs) s = s.copy(lastUs = us)
            }
            state.update(s)
            // Anchor the retire timer on the journey's LAST event (the DAU
            // operator's end-of-day pattern): getCurrentWatermarkMs() is the
            // START-of-batch watermark — 0 on the first batch — so anchoring
            // on it alone would expire fresh journeys immediately; the max()
            // keeps the timestamp legal for very late in-horizon stragglers.
            state.setTimeoutTimestamp(math.max(
              Math.floorDiv(s.lastUs, 1000L) + AttributionWindowMs,
              state.getCurrentWatermarkMs() + 60000L))
            FirstTouchUpdate(user, s.firstType, toTs(s.firstUs),
              converted = s.firstPurchaseUs >= 0, closed = false)
          }
      }
  }

  /** Streaming daily-active-users with MERGEABLE sketch state: each day's
    * distinct-user set lives in state as a serialized HLL sketch (~KBs,
    * lgK=12), so per-day state is O(sketch) regardless of user cardinality —
    * the only shape where "distinct users today" survives a 100 TB day
    * (an exact per-day user set in state grows with the users). Emits the
    * refreshed estimate for every day touched by a trigger (Update mode).
    * The datasketches HLL register state is insertion-order-independent, so
    * replays/batch-boundary changes can't change the estimate — pinned in
    * StreamingSpec against an identically-parameterized local sketch.
    * State keys are calendar days; each day's state retires on an
    * event-time timeout one hour after the watermark passes its end, so a
    * long-running deployment holds O(watermark horizon) days, never the
    * full calendar. An event later than watermark + the 1 h retention
    * re-opens its day with a fresh sketch — the standard TTL'd-state trade;
    * mapGroupsWithState does not drop late rows on its own, so the horizon
    * is what bounds the error window.
    */
  def dailyActiveUsersStream(events: DataFrame): Dataset[DauUpdate] = {
    import org.apache.datasketches.hll.HllSketch
    val spark = events.sparkSession
    import spark.implicits._
    val zoneId = spark.conf.get("spark.sql.session.timeZone")
    val retireMs = 60 * 60 * 1000L
    events
      .withWatermark("ts", "10 minutes") // required for EventTimeTimeout
      // ts stays in the projection: the event-time-timeout check needs the
      // watermarked column to reach the stateful operator
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"), col("ts"))
      .as[DayUser]
      .groupByKey(_.day)
      .mapGroupsWithState[Array[Byte], DauUpdate](GroupStateTimeout.EventTimeTimeout()) {
        (day: String, rows: Iterator[DayUser], state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            // day closed past the watermark: emit the final estimate once
            // more (idempotent in Update mode) and release the state
            val est = Math.round(HllSketch.heapify(state.get).getEstimate)
            state.remove()
            DauUpdate(day, est)
          } else {
            val sk = state.getOption
              .map(b => HllSketch.heapify(b))
              .getOrElse(new HllSketch(12))
            rows.foreach(r => sk.update(r.user_id))
            state.update(sk.toCompactByteArray)
            // retire when the watermark clears end-of-day + retention; the
            // max() keeps the timestamp ahead of the current watermark for
            // very late (but in-horizon) stragglers of already-passed days
            val endOfDay = java.time.LocalDate.parse(day).plusDays(1)
              .atStartOfDay(java.time.ZoneId.of(zoneId)).toInstant.toEpochMilli
            state.setTimeoutTimestamp(
              math.max(endOfDay + retireMs, state.getCurrentWatermarkMs() + 60000L))
            DauUpdate(day, Math.round(sk.getEstimate))
          }
      }
  }

  /** Per-user gap sessionizer: emits a closed session whenever a new event
    * arrives more than 30 min after the previous one (plus the open session
    * on timeout). Demonstrates arbitrary stateful processing
    * (KeyValueGroupedDataset.flatMapGroupsWithState) for semantics the
    * built-in session_window can't express (e.g. per-session counters that
    * must survive across triggers). */
  def sessionize(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes") // required for EventTimeTimeout
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, new Timestamp(s.start), s.n, closed = true))
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last > GapMs =>
                  out += SessionOut(user, new Timestamp(s.start), s.n, closed = true)
                  cur = Some(SessionState(t, t, 1))
                case Some(s) =>
                  // A late-but-within-watermark event from a LATER batch can
                  // predate the open session's start; lowering start keeps
                  // stream==batch parity for within-gap lateness. (An event
                  // late enough to MERGE two already-emitted sessions is
                  // inherently unfixable after emit-on-gap — that bound is
                  // the watermark contract.)
                  cur = Some(s.copy(start = math.min(s.start, t),
                    last = math.max(s.last, t), n = s.n + 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + GapMs)
            }
            out.result().iterator
          }
      }
  }
}
