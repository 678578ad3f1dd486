package graft.streaming

import graft.core.{CoddSession, Rel}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming counterparts of the batch event operators: the
  * engine's IVM story for true streams. Batch `events` rows flow through
  * `MemoryStream`/`readStream` unchanged — same schema, same results as the
  * batch queries, which is how the specs pin them.
  *
  * The reference's own streaming model is monotone inserts + incremental
  * views (SURVEY §4); these operators are the Spark-native generalization
  * with event time, watermarks and bounded state.
  */
object StreamingOps {

  /** Tumbling-hour counts with a watermark bounding state: late data beyond
    * 1 hour is dropped, so state size is O(active hours × event types).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"),
        col("n"),
        col("sum_value"))

  /** Stream-static enrichment: join each event against a broadcast
    * dimension table. Stream-static joins are stateless in Structured
    * Streaming — the dim is re-broadcast per micro-batch, so no watermark
    * or state store is involved; at scale keep the dim broadcast-sized or
    * pre-bucket both sides.
    */
  def enrich(events: DataFrame, dim: DataFrame, eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")

  /** Streaming Hampel gate: flag stream rows whose value deviates from a
    * STATIC robust baseline ([[graft.ops.Outliers.robustSummary]] over
    * yesterday's batch) — the deploy shape for online anomaly routing:
    * stats train offline at full scale, the stream pays one stateless
    * broadcast join per micro-batch and the exact integer Hampel test per
    * row. No state store, no watermark; the same long-grid arithmetic as
    * the batch op, so stream ≡ batch on identical rows (spec-pinned).
    */
  def anomalyGateStream(
      rows: DataFrame,
      stats: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int = 3): DataFrame = {
    val dev = abs(
      floor(col(valueCol).cast("double") * graft.ops.Outliers.GridScale.toDouble)
        .cast("long") - col("median_grid"))
    rows
      .join(broadcast(stats.select(col(groupCol), col("median_grid"), col("mad_grid"))),
        Seq(groupCol))
      .filter(dev * graft.ops.Outliers.MadDenom >
        lit(k.toLong) * graft.ops.Outliers.MadNumer * col("mad_grid"))
      .drop("median_grid", "mad_grid")
  }

  /** Bridge a stream into the IVM engine: every micro-batch becomes a
    * monotone insert into a `CoddSession` relation, and the session's
    * stored views refresh incrementally on stabilization — the reference's
    * own streaming model (inserts are the stream, views are the stateful
    * operators; SURVEY §2 #12) driven by a real Structured Streaming
    * source. `stabilizeEachBatch = true` propagates deltas eagerly per
    * micro-batch; `false` leaves staging lazy until the next evaluate.
    */
  def ivmSink[T](
      stream: Dataset[T],
      db: CoddSession,
      rel: Rel[T],
      stabilizeEachBatch: Boolean = true)(
      implicit enc: Encoder[T]): DataStreamWriter[T] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[T], _: Long) =>
        // the micro-batch Dataset is only valid inside this callback:
        // checkpoint it (distributed, block-manager-backed) so the staged
        // batch outlives the callback without collecting to the driver
        db.insert(rel, batch.localCheckpoint(true))
        if (stabilizeEachBatch) db.evaluate(rel).count()
        ()
      }

  /** Streaming MERGE: apply a CDC change stream (delete/update/insert
    * batches) onto a durable parquet snapshot via `foreachBatch` — the
    * lakehouse streaming-upsert loop. Each micro-batch runs
    * [[graft.ops.Snapshot.applyChanges]] against the CURRENT snapshot
    * version and commits the result as `v<n+1>` with a `_SUCCESS`-gated
    * rename-free layout (write to a fresh versioned dir, readers take the
    * max committed version — the IncrementalAgg durability discipline),
    * so a crash mid-write leaves `v<n>` intact. At-most-one-change-per-key
    * applies WITHIN a batch (the applyChanges contract); across batches,
    * later batches see earlier batches' effects — exactly the semantics
    * of replaying the full log through the batch operator batch by batch.
    *
    * @param snapshotDir directory holding `v<n>` parquet snapshot versions
    *                    (v0 must exist — write the initial base there)
    */
  def mergeStream(
      changes: DataFrame,
      snapshotDir: String,
      keyCols: Seq[String],
      opCol: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(keyCols.nonEmpty, "need key columns")
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val (cur, ver) = latestSnapshot(spark, snapshotDir)
          val next = graft.ops.Snapshot.applyChanges(
            cur, batch.localCheckpoint(true), keyCols, opCol)
          next.write.mode("overwrite").parquet(s"$snapshotDir/v${ver + 1}")
        }
        ()
      }
  }

  /** Streaming SCD2 dimension maintenance: each micro-batch of CDC
    * observations folds into the dimension via
    * [[graft.ops.Snapshot.scd2Apply]] and commits as the next
    * `_SUCCESS`-gated snapshot version — the same durable-store
    * discipline as [[mergeStream]], applied to dimension HISTORY instead
    * of current-state upserts. `v0` must hold the initial dimension
    * (possibly `scd2(empty log)` = an empty frame with the run schema).
    *
    * Contract inherited from scd2Apply: the feed is append-only per key
    * under `(tsCol, idCol)` — the natural shape of a CDC/event stream
    * consumed in arrival order. The StreamingSpec gate pins
    * stream-maintained ≡ full-log rebuild across micro-batches.
    */
  def scd2Stream(
      obs: DataFrame,
      snapshotDir: String,
      keyCol: String,
      attrCol: String,
      tsCol: String,
      idCol: String): DataStreamWriter[org.apache.spark.sql.Row] =
    obs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val (cur, ver) = latestSnapshot(spark, snapshotDir)
          val next = graft.ops.Snapshot.scd2Apply(
            cur, batch.localCheckpoint(true), keyCol, attrCol, tsCol, idCol)
          next.write.mode("overwrite").parquet(s"$snapshotDir/v${ver + 1}")
        }
        ()
      }

  /** The highest `_SUCCESS`-committed snapshot version in `dir` and its
    * frame — partial writes (no marker) are ignored, the recovery
    * contract shared with IncrementalAgg.durable.
    */
  def latestSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, Int) = {
    val versions = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getName.drop(1).toInt)
    require(versions.nonEmpty, s"no committed snapshot version under $dir")
    val v = versions.max
    (spark.read.parquet(s"$dir/v$v"), v)
  }

  /** Stream-STREAM interval join: pair each left event with right events of
    * the same key whose time falls in `[leftTime - lookback, leftTime]`.
    * Watermarks on BOTH sides plus the time-bound join condition let Spark
    * evict state — each side buffers only `delay + lookback` of history,
    * the bounded-state shape of online event correlation (vs. the as-of
    * operators, which are batch/latest-match). Output columns are the left
    * columns plus `rightPrefix`-prefixed right columns.
    */
  def streamIntervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      lookback: String,
      delay: String,
      rightPrefix: String = "r_"): DataFrame = {
    val l = left.withWatermark(leftTime, delay).alias("gl")
    val r = right
      .select(right.columns.map(c => col(c).as(s"$rightPrefix$c")).toIndexedSeq: _*)
      .withWatermark(s"$rightPrefix$rightTime", delay)
      .alias("gr")
    l.join(
      r,
      col(s"gl.$leftKey") === col(s"gr.$rightPrefix$rightKey") &&
        col(s"gr.$rightPrefix$rightTime") >= col(s"gl.$leftTime") - expr(s"INTERVAL $lookback") &&
        col(s"gr.$rightPrefix$rightTime") <= col(s"gl.$leftTime"))
  }

  /** Streaming exact dedup: drop any document whose content fingerprint was
    * already seen within the watermark delay. State is the fingerprint set
    * of ONE watermark window — bounded, unlike a naive `dropDuplicates`
    * whose state grows with the full stream history. The batch analog is
    * [[graft.ops.Dedup.exact]]; at 100 TB/day of ingest this is the only
    * viable shape for online dedup (near-dup variants bucket the same way
    * with MinHash band keys as the dedup column).
    */
  def dedupStream(
      docs: DataFrame,
      contentCol: String,
      timeCol: String,
      delay: String): DataFrame =
    docs
      .withColumn("__fp", md5(col(contentCol)))
      .withWatermark(timeCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming eval-set decontamination: drop any arriving document whose
    * content digest appears in a STATIC reference corpus — the online
    * counterpart of [[graft.ops.Dedup.exceptContentOf]]. The ref digest
    * set is a static DataFrame, so Spark plans a stream-static LEFT ANTI
    * join: the reference aggregates once, broadcasts when small, and NO
    * per-stream state accrues (unlike dedup, membership needs no memory of
    * the stream itself). Exact at any reference size.
    */
  def decontaminateStream(
      docs: DataFrame,
      contentCol: String,
      ref: DataFrame,
      refContentCol: String): DataFrame = {
    val refH = ref
      .select(md5(col(refContentCol)).as("__fp"))
      .filter(col("__fp").isNotNull)
      .distinct()
    docs
      .withColumn("__fp", md5(col(contentCol)))
      .join(refH, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Streaming temperature-mixture gate: apply a per-group `rate` dim
    * PRECOMPUTED from a static corpus snapshot
    * ([[graft.ops.Sampling.temperatureRates]]) to arriving documents — the
    * production shape for incremental ingestion, where the mixture targets
    * come from the last corpus audit and each new document keeps/drops
    * the moment it arrives. Stateless: the rates dim broadcasts into a
    * stream-static join and the salted-hash draw is per-row, so NO stream
    * state accrues and the decision for a given id is identical in batch
    * replay (spec-pinned).
    */
  def mixtureStream(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      rates: DataFrame,
      salt: String = "mixT"): DataFrame =
    graft.ops.Sampling.applyMixtureRates(docs, idCol, groupCol, rates, salt)

  /** Epoch-repeat mixture on a stream under STATIC snapshot rates
    * ([[graft.ops.Sampling.epochRates]] over the reference corpus): every
    * arriving row fans out to its epoch copies the moment it arrives.
    * Stateless — the groups-sized rates dim broadcasts into a
    * stream-static join and the draw + explode are per-row, so NO stream
    * state accrues and the copies for a given id are identical in batch
    * replay (spec-pinned).
    */
  def epochStream(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      rates: DataFrame,
      salt: String = "epoch"): DataFrame =
    graft.ops.Sampling.applyEpochRates(docs, idCol, groupCol, rates, salt)

  final case class UserEvent(user_id: Long, ts_ns: Long, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state: running per-user totals via mapGroupsWithState —
    * the escape hatch for stateful logic windows can't express. State is one
    * small record per key; timeout-free (monotone, like the reference's
    * grow-only instances).
    */
  def runningTotals(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          batch.foreach { e => n += 1; tot += e.value }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          next
      }
  }

  final case class TypedEvent(user_id: Long, event_type: String, ts_ns: Long)
  final case class FunnelProgress(user_id: Long, stage_idx: Int, entry_ns: Long)

  /** Streaming conversion funnel: per-user stage progress as keyed state,
    * emitting one record the moment a user ENTERS a stage — the online
    * counterpart of [[graft.ops.Funnel.stages]] (count emitted rows per
    * `stage_idx` for the live funnel report). State is one tiny vector of
    * entry times per user, grow-only like the reference's instances.
    *
    * Semantics contract: events are processed in timestamp order WITHIN
    * each micro-batch, so the result is exactly the batch funnel whenever
    * each user's events arrive time-ordered ACROSS batches (the log-stream
    * case, spec-pinned). A late out-of-order event that would lower an
    * earlier stage's entry time is not retracted — exact late-data replay
    * needs the batch operator over the full log.
    */
  def funnelStateful(
      events: Dataset[TypedEvent],
      steps: Seq[String]): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Vector[Long], FunnelProgress](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[TypedEvent], state: GroupState[Vector[Long]]) =>
          var entries = state.getOption.getOrElse(Vector.empty[Long])
          val before = entries.length
          batch.toVector.sortBy(e => (e.ts_ns, e.event_type)).foreach { e =>
            val k = entries.length
            if (k < steps.length && e.event_type == steps(k) &&
              (k == 0 || e.ts_ns >= entries(k - 1)))
              entries :+= e.ts_ns
          }
          if (entries.length > before) state.update(entries)
          (before until entries.length).iterator
            .map(k => FunnelProgress(uid, k, entries(k)))
      }
  }

  final case class TypeUser(event_type: String, user_id: Long, ts_ns: Long)
  final case class FirstSeen(event_type: String, user_id: Long, first_ns: Long)

  /** Streaming counterpart of the batch reach curve (`events_reach`): a
    * user's FIRST sighting per event type emits exactly once, so counting
    * emissions per (type, window) downstream IS the incremental
    * distinct-user reach — no running-distinct state anywhere. Keyed
    * state is one long per live (type, user) pair, the minimum any exact
    * reach needs.
    *
    * Same ordering contract as [[funnelStateful]]: the emitted first-seen
    * time equals the batch `min(ts)` whenever each pair's events arrive
    * time-ordered across batches (the log-stream case, spec-pinned); a
    * late earlier sighting is not retracted.
    */
  def reachStream(events: Dataset[TypeUser]): Dataset[FirstSeen] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.event_type, e.user_id))
      .flatMapGroupsWithState[Long, FirstSeen](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: (String, Long), batch: Iterator[TypeUser], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val first = batch.map(_.ts_ns).min
            state.update(first)
            Iterator.single(FirstSeen(k._1, k._2, first))
          }
      }
  }

  final case class IdEvent(user_id: Long, event_type: String, ts_us: Long, event_id: Long)

  /** Stateful streaming counterpart of [[graft.ops.Funnel.debounce]]: per
    * (user, type), suppress events closer than `minGapMicros` to the
    * previous RAW event. State is ONE long per key (the last raw event
    * time) — the cheapest state shape there is; grows with the live key
    * set, the same contract as the batch op's window key.
    *
    * Same semantics contract as [[funnelStateful]]: events sort by
    * (ts, id) within each micro-batch, and the result equals the batch
    * debounce whenever each key's events arrive time-ordered across
    * batches (the log-stream case, spec-pinned).
    */
  def debounceStream(
      events: Dataset[IdEvent],
      minGapMicros: Long): Dataset[IdEvent] = {
    require(minGapMicros > 0, s"minGapMicros must be > 0, got $minGapMicros")
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, IdEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Long, String), batch: Iterator[IdEvent], state: GroupState[Long]) =>
          var last = state.getOption.getOrElse(Long.MinValue)
          var out = Vector.empty[IdEvent]
          batch.toVector.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            if (last == Long.MinValue || e.ts_us - last >= minGapMicros) out :+= e
            last = e.ts_us
          }
          state.update(last)
          out.iterator
      }
  }

  final case class BucketVerdict(user_id: Long, event_id: Long, admitted: Boolean)

  /** Stateful streaming counterpart of [[graft.ops.RateLimit.tokenBucket]]:
    * the LIVE limiter — per-user (tokens, last_ts) state in token-scaled
    * µs units, one verdict per event the moment it arrives. State is two
    * longs per key. Same ordering contract as [[funnelStateful]]: events
    * sort by (ts, id) within each micro-batch and the verdicts equal the
    * batch replay whenever each user's events arrive time-ordered across
    * batches (spec-pinned, including state carried over batch cuts).
    */
  def tokenBucketStream(
      events: Dataset[IdEvent],
      capacity: Int,
      refillMicros: Long): Dataset[BucketVerdict] = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    require(refillMicros > 0, s"refillMicros must be > 0, got $refillMicros")
    val capS = capacity * refillMicros
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), BucketVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[IdEvent], state: GroupState[(Long, Long)]) =>
          var (tokens, last) = state.getOption.getOrElse((capS, 0L))
          val out = batch.toVector.sortBy(e => (e.ts_us, e.event_id)).map { e =>
            val avail = math.min(capS, tokens + (e.ts_us - last))
            val adm = avail >= refillMicros
            tokens = if (adm) avail - refillMicros else avail
            last = e.ts_us
            BucketVerdict(uid, e.event_id, adm)
          }
          state.update((tokens, last))
          out.iterator
      }
  }

  final case class TransitionHop(user_id: Long, from_type: String, to_type: String)

  /** Stateful streaming counterpart of [[graft.ops.Funnel.markov]]'s pair
    * extraction: emit one (from, to) hop per consecutive event pair within
    * a user's stream. State is the last (ts, id, type) triple per user —
    * constant per key. Downstream, any streaming aggregation (or the
    * batch pair count) turns hops into the live transition table; the
    * stream ≡ batch spec pins the counts. Same ordering contract as
    * [[funnelStateful]]: in-batch sort by (ts, id), time-ordered across
    * batches.
    */
  def markovStream(events: Dataset[IdEvent]): Dataset[TransitionHop] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, String), TransitionHop](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[IdEvent], state: GroupState[(Long, Long, String)]) =>
          var last = state.getOption
          var out = Vector.empty[TransitionHop]
          batch.toVector.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            last.foreach { case (_, _, prevType) =>
              out :+= TransitionHop(uid, prevType, e.event_type)
            }
            last = Some((e.ts_us, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Flat-map variant emitting one record per completed session (30-minute
    * inactivity on the nanosecond event clock, processing-time-free logic:
    * sessions close when a later event proves the gap).
    */
  def sessionizeStateful(events: Dataset[UserEvent], gapNs: Long): Dataset[(Long, Long, Long)] = {
    import events.sparkSession.implicits._
    // state: (session_start_ns, last_ts_ns, n_events)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[(Long, Long, Long)]) =>
          val sorted = batch.toVector.sortBy(e => (e.ts_ns, e.value))
          var out = Vector.empty[(Long, Long, Long)]
          var cur = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some((start, last, n)) if e.ts_ns - last < gapNs =>
                cur = Some((start, e.ts_ns, n + 1))
              case Some((start, _, n)) =>
                out :+= ((uid, start, n))
                cur = Some((e.ts_ns, e.ts_ns, 1L))
              case None =>
                cur = Some((e.ts_ns, e.ts_ns, 1L))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }
}
