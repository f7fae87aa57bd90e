package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.1 — absent from the
  * reference): the batch event operators re-expressed over `readStream`,
  * plus a stateful per-user session tracker via mapGroupsWithState.
  *
  * Batch/stream parity is the design invariant: each streaming transform
  * reuses the same dataflow as its batch twin in graft.operators.Events,
  * so a pipeline can be developed against parquet batches and deployed on
  * a stream unchanged (tested in StreamingSpec against the batch results).
  */
object StreamingOps {

  /** Receipt for streaming bench rows (r16, VERDICT r15 item 3): after a
    * bounded (availableNow) run terminates, print the micro-batch count
    * and per-batch trigger durations to stderr. A 2× swing in a
    * streaming row then attributes itself: batch count changed → the
    * tree/staging layout moved; same count, per-batch time up → host
    * drift at the micro-batch floor. Stateful batches also carry each
    * state operator's store count and commit time, so a width change
    * (stores) or a commit regression reads off the same line. stderr,
    * not stdout — Bench's JSON protocol owns stdout.
    */
  def logBatchReceipt(name: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ps = q.recentProgress
    val parts = ps.map { p =>
      val ms = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
      val state = p.stateOperators.map(o =>
        s",${o.numShufflePartitions}stores,commit=${o.commitTimeMs}ms").mkString
      s"b${p.batchId}=${ms}ms(${p.numInputRows}r$state)"
    }
    System.err.println(
      s"[stream] $name batches=${ps.length} ${parts.mkString(" ")}")
  }

  /** Canonical events shape (ts as the legacy long-nanos placeholder —
    * [[eventsStreamNormalized]] and the specs swap it for TimestampType).
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a DIRECTORY of events parquet files
    * (Spark's file stream source monitors directories, not single files).
    * File streams need an explicit schema, and the testdata's timestamp
    * encoding has varied across generations — derive the schema from the
    * files themselves (one batch-metadata read), then apply the same
    * normalization as the batch side so stream and batch share one
    * timestamp convention.
    */
  def eventsStream(spark: SparkSession, eventsDir: String): DataFrame = {
    // an EMPTY monitored directory (stream started ahead of data — the
    // normal file-stream pattern) has no schema to read; fall back to
    // the canonical shape with ts already TimestampType
    val fileSchema =
      try spark.read.parquet(eventsDir).schema
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          StructType(eventsSchema.fields.map(f =>
            if (f.name == "ts") f.copy(dataType = TimestampType) else f))
      }
    graft.sources.Tables.normalizeTimestamps(
      spark.readStream.schema(fileSchema).parquet(eventsDir), "events")
  }

  /** File-source stream over already-NORMALIZED events (ts is a proper
    * TIMESTAMP column, as the batch side's events staging emits) — the
    * shape the driver-checked hourly_counts_stream stages into, so the
    * stream and the batch query share one timestamp convention.
    */
  def eventsStreamNormalized(spark: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Int = 0, constEventType: String = ""): DataFrame = {
    // constEventType: when eventsDir is one partition directory of a
    // partitionBy("event_type") layout, the column was factored into the
    // PATH — the files do not carry it (and the streaming source does not
    // run partition discovery under a user schema), so it is read OUT of
    // the file schema and restored as the literal the path encodes
    val normalized = eventsSchema.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampType) else f)
    val fields =
      if (constEventType.nonEmpty) normalized.filterNot(_.name == "event_type")
      else normalized
    val r = spark.readStream.schema(StructType(fields))
    val df = (if (maxFilesPerTrigger > 0)
        r.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else r).parquet(eventsDir)
    if (constEventType.nonEmpty)
      df.withColumn("event_type", lit(constEventType))
    else df
  }

  /** Watermarked hourly tumbling counts — streaming twin of
    * Events.hourlyCounts (same group keys and aggregates; the watermark
    * bounds state for continuous operation).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** MULTI-SOURCE UNION into the watermarked hourly window (r16,
    * VERDICT r15 item 8 — the streaming section's first multi-stream
    * plan): two independent file-source streams union BEFORE the
    * watermark + tumbling aggregation, so the engine tracks ONE global
    * watermark as the MINIMUM across sources — a lagging source holds
    * results back instead of losing rows, the semantics a multi-region
    * ingest actually needs. `delay` is the caller's contract with the
    * arrival order: the registered driver row stages files with no
    * time ordering and runs in UPDATE mode (drops are a real loss
    * there), so it passes a delay wider than the corpus span;
    * StreamingSpec drives a tight delay against a crafted straggler
    * and pins both the drop and the min-watermark hold.
    */
  def hourlyCountsUnion(a: DataFrame, b: DataFrame,
      delay: String = "2 hours"): DataFrame =
    // PER-LEG watermarks, then union: one post-union watermark would be
    // computed from the max event time across ALL rows (a fast source
    // closes windows the slow one still owes rows to); two watermark
    // nodes engage the engine's multipleWatermarkPolicy=min default,
    // which is the hold-back semantics a multi-source ingest needs
    a.withWatermark("ts", delay)
      .unionByName(b.withWatermark("ts", delay))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** Watermarked gap-session aggregation — streaming twin of
    * Events.sessionWindowAgg over the engine's native `session_window`:
    * per-user sessions MERGE incrementally across micro-batches (an event
    * landing within the gap of an open session extends it, two sessions
    * bridged by a late event coalesce), with the watermark bounding
    * session state for continuous operation. Same group keys and
    * aggregates as the batch twin, so the batch oracle applies verbatim.
    */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** The flagship crystal-ball dataflow over a text stream of basket
    * lines: parse → repeat-terminated window flatMap → running pair
    * counts. Normalization happens at read time (probabilities need the
    * per-product total, which keeps updating on a stream — emit counts,
    * derive P(b|a) in the sink query, exactly as the batch
    * CrystalBall.normalize does over the final counts).
    */
  def coOccurrenceCounts(spark: SparkSession, textDir: String,
      maxWindow: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    // r18: routing this through the codegen CoOccurWindow node (Catalyst
    // split/filter/slice parse instead of the typed flatMaps) was built
    // and MEASURED — it runs fine under IncrementalExecution, but the
    // per-batch map stage only moved 645 -> 592 ms while the state-store
    // commit stage (2.3 s of the query's ~5 s) dominates and is
    // untouched. Reverted as not-worth-the-surface (guide §1.3).
    val baskets = spark.readStream.textFile(textDir)
      .flatMap(graft.sources.BasketSource.parseLine _)
    graft.operators.CoOccurrence.counts(baskets, maxWindow)
  }

  /** Streaming exact deduplication: drop rows whose key columns were
    * already seen anywhere earlier in the stream (state kept per key —
    * bound it with a watermark column in the key list for production
    * retention). The training-data ingest case: exactly-once document
    * admission over a continuously arriving corpus.
    */
  def dedupStream(stream: DataFrame, keyCols: Seq[String]): DataFrame =
    stream.dropDuplicates(keyCols)

  /** BOUNDED-state streaming dedup: like [[dedupStream]], but per-key
    * state is dropped once the event-time watermark passes it
    * (`dropDuplicatesWithinWatermark`). This is the production shape for
    * continuous corpus ingest — duplicates land close together in event
    * time (re-crawls, retry storms), so a retention window turns the
    * unbounded dedup map into O(keys-per-window) state while still
    * catching every near-in-time duplicate. Exactly-once admission
    * OUTSIDE the window is then the batch dedup pass's job (the
    * standard lambda split: cheap bounded streaming guard + periodic
    * exact compaction).
    */
  def dedupStreamBounded(stream: DataFrame, keyCols: Seq[String],
      tsCol: String = "ts", delay: String = "2 hours"): DataFrame =
    stream.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked sliding-window counts — streaming twin of
    * Events.slidingCounts (1-hour windows every 30 minutes; each event
    * contributes to its two windows).
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Stream-static enrichment join: each micro-batch joins against the
    * (small) static dimension, broadcast so the stream never shuffles —
    * the standard ingest-time enrichment (user → segment, doc → license,
    * …). The dim is re-resolvable per batch, so a catalog-backed dim
    * picks up slow dimension changes without restarting the query.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** foreachBatch sink: append each micro-batch into a Hive-partitioned
    * parquet layout via the batch TableSink path — the standard way to
    * reuse batch writers (partitioning, ORC, bucketing) from a stream.
    * Batch-id based dedup is the usual exactly-once upgrade; append mode
    * here keeps the example minimal.
    */
  def writePartitionedStream(stream: DataFrame, path: String,
      partitionCols: Seq[String], checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append")
          .partitionBy(partitionCols: _*).parquet(path)
      }
    // with a checkpoint the query RESUMES across restarts: committed
    // source offsets are never re-read, so a clean stop/restart appends
    // each input file exactly once (mid-batch crash recovery additionally
    // needs batch-id dedup in the sink, as the scaladoc notes)
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The idempotent per-batch write behind [[writeTableStream]]: the
    * micro-batch lands as the `batch_id=<id>` partition via DYNAMIC
    * partition overwrite, so a REPLAYED batch (crash between sink write
    * and offset commit) overwrites its own partition instead of
    * appending duplicates — exactly-once by partition idempotence, the
    * production foreachBatch recipe. Exposed for the restart spec to
    * drive a replay directly.
    */
  def writeBatchIdempotent(batch: DataFrame, path: String,
      batchId: Long): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(path)

  /** Exactly-once streaming into a persisted table layout: foreachBatch
    * + [[writeBatchIdempotent]] + a checkpoint. Clean stop/restart
    * resumes from committed source offsets (processed files are never
    * re-read); a mid-batch crash replays the uncommitted batch, whose
    * partition overwrite is idempotent. AvailableNow drains what is
    * staged and terminates — the bounded-replay harness contract; a
    * production deployment uses the same sink with a continuous trigger.
    */
  def writeTableStream(stream: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        writeBatchIdempotent(b, path, id)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Per-user running state maintained across micro-batches. */
  final case class UserEvent(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)
  final case class UserState(n: Long, sumValue: Double, lastTs: Long)
  final case class UserSummary(user_id: Long, n_events: Long, sum_value: Double)

  /** Stateful per-user aggregation via mapGroupsWithState — the custom-
    * state extension point (reference O7's in-mapper accumulator,
    * generalized to unbounded streams with managed state).
    */
  def userTotals(spark: SparkSession, events: DataFrame): Dataset[UserSummary] = {
    import spark.implicits._
    events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserSummary](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0, Long.MinValue))
          val next = batch.foldLeft(prev) { (s, e) =>
            UserState(s.n + 1, s.sumValue + e.value,
              math.max(s.lastTs, e.ts.getTime))
          }
          state.update(next)
          UserSummary(userId, next.n, next.sumValue)
      }
  }

  /** Stream-stream interval join: purchases joined to the clicks that
    * preceded them by at most `windowMinutes` for the same user. Both
    * sides carry watermarks and the join condition bounds event-time
    * distance in BOTH directions, so Spark can expire buffered state —
    * the requirement that separates a runnable stream-stream join from an
    * unbounded-state one.
    */
  def joinStreams(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 5, joinType: String = "inner"): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases.select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    c.join(p,
        c("user_id") === p("user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") +
            expr(s"INTERVAL $windowMinutes MINUTES"),
        joinType)
      .select(c("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("purchase_value"))
  }

  /** LEFT-OUTER stream-stream interval join — the attribution question
    * "which clicks converted, and which provably did NOT": a click with
    * no purchase in its window emits a NULL-purchase row, but only once
    * the engine can PROVE no match can still arrive — its join window
    * must fall fully behind the global watermark. The deterministic
    * consequence (oracle-encoded): with W = min(max click_ts,
    * max purchase_ts) − 1 h, unmatched clicks with
    * `click_ts + window ≥ W` are still in state when the bounded replay
    * terminates and do NOT emit — that is the correct streaming answer
    * (they might yet convert), and exactly what separates this operator
    * from a batch left join.
    */
  def joinStreamsLeftOuter(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 5): DataFrame =
    joinStreams(clicks, purchases, windowMinutes, "leftOuter")

  final case class EwmaState(n: Long, ewmaCents: Long)
  final case class UserEwma(user_id: Long, n_events: Long, ewma_cents: Long)

  /** Streaming twin of Events.ewmaValue — per-user α=1/2 EWMA folded as
    * EXACT INTEGER state across micro-batches via mapGroupsWithState
    * (cents quantization with the same IEEE ops, `(s + cents) >> 1` per
    * event). Within a micro-batch the group iterator is unordered, so
    * events sort by (event-time µs, event_id) before folding — the same
    * total order as the batch fold, which makes a time-ordered replay
    * reproduce the batch result EXACTLY (integer state has no
    * accumulation-order epsilon to hide drift). Cross-batch order is the
    * caller's staging contract, as in [[sessionizeStream]].
    */
  def ewmaStream(events: DataFrame): Dataset[UserEwma] = {
    import events.sparkSession.implicits._
    events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[EwmaState, UserEwma](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[EwmaState]) =>
          val evs = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val prev = state.getOption.getOrElse(EwmaState(0L, 0L))
          val next = evs.foldLeft(prev) { (s, e) =>
            val cents = math.floor(e.value * 100.0 + 0.5).toLong
            EwmaState(s.n + 1, (s.ewmaCents + cents) >> 1)
          }
          state.update(next)
          UserEwma(userId, next.n, next.ewmaCents)
      }
  }

  final case class CusumState(n: Long, s: Long, mx: Long, na: Long)
  final case class UserCusum(user_id: Long, n_events: Long,
      max_cusum_cents: Long, n_alarms: Long)

  /** Streaming twin of Events.cusumAlerts — per-user CUSUM drift state
    * (running sum, peak, alarm count) folded across micro-batches via
    * mapGroupsWithState with the [[ewmaStream]] exactness discipline:
    * cents quantization, integer recurrence, (event-time, event_id)
    * sort inside each batch, cross-batch order as the caller's staging
    * contract.
    *
    * `refCents` — the drift reference k — is a PARAMETER, not derived
    * from the stream: a live monitor compares against an offline-
    * trained baseline (the batch twin derives it from its full corpus;
    * the registration feeds that same value here, which is exactly the
    * deploy shape: train the reference in batch, monitor in
    * streaming).
    */
  def cusumStream(events: DataFrame, refCents: Long): Dataset[UserCusum] = {
    import events.sparkSession.implicits._
    events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[CusumState, UserCusum](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[CusumState]) =>
          val evs = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val prev = state.getOption.getOrElse(CusumState(0L, 0L, 0L, 0L))
          val next = evs.foldLeft(prev) { (st, e) =>
            val cents = math.floor(e.value * 100.0 + 0.5).toLong
            val s2 = math.max(0L, st.s + cents - refCents)
            CusumState(st.n + 1, s2, math.max(st.mx, s2),
              st.na + (if (s2 >= graft.operators.Events.CusumThresholdCents) 1L else 0L))
          }
          state.update(next)
          UserCusum(userId, next.n, next.mx, next.na)
      }
  }

  final case class SessionState(startUs: Long, lastUs: Long, n: Long,
      sumValue: Double)
  final case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, sum_value: Double)

  private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** Streaming gap sessionization via flatMapGroupsWithState (append
    * mode): a session CLOSES — and is emitted — when an event arrives more
    * than `gapMinutes` after the previous one (the same strict-`>` µs
    * semantics as the batch Events.sessionize); the trailing open session
    * stays in state awaiting more data. Zero-or-many emissions per group
    * per batch is exactly what flatMap (vs map) GroupsWithState buys.
    *
    * Within a micro-batch the group iterator is unordered — events are
    * sorted by (time, event_id) before folding. Cross-batch late data is
    * out of scope here (production would pair this with a watermark and
    * event-time timeout to also flush the final session).
    */
  def sessionizeStream(events: DataFrame,
      gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[SessionState]) =>
          val evs = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val closed = scala.collection.mutable.Buffer[ClosedSession]()
          var cur = state.getOption
          for (e <- evs) {
            val us = micros(e.ts)
            cur match {
              case Some(s) if us - s.lastUs > gapUs =>
                closed += ClosedSession(userId, s.startUs, s.lastUs, s.n, s.sumValue)
                cur = Some(SessionState(us, us, 1L, e.value))
              case Some(s) =>
                cur = Some(SessionState(s.startUs, us, s.n + 1, s.sumValue + e.value))
              case None =>
                cur = Some(SessionState(us, us, 1L, e.value))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  final case class ProductTotal(product: String, total: Long)

  /** Per-product running co-occurrence totals as a
    * [[org.apache.spark.sql.streaming.StatefulProcessor]] — Spark 4's
    * transformWithState, the arbitrary-stateful API that supersedes
    * map/flatMapGroupsWithState (typed named state with native TTL,
    * timers, and evolvable schemas; requires the RocksDB state store).
    * State is one ValueState[Long] per product; each batch adds the
    * batch's pair count and emits the running total (update-mode
    * semantics: last emission per product is the answer).
    *
    * `ttl` bounds state lifetime in PROCESSING time — the production
    * knob for unbounded key spaces (a product not seen for `ttl` is
    * evicted and restarts from zero; StreamingSpec pins exactly that
    * across a stop/restart). `None` = no eviction, which is what the
    * registered batch-oracled query runs (totals must equal the batch
    * marginals regardless of batch layout).
    */
  final class CoOccurTotalsProcessor(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, graft.CoPair, ProductTotal] {
    @transient private var totalState:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val cfg = ttl.map(org.apache.spark.sql.streaming.TTLConfig(_))
        .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE)
      totalState = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong, cfg)
    }

    override def handleInputRows(key: String,
        rows: Iterator[graft.CoPair],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ProductTotal] = {
      val prev = if (totalState.exists()) totalState.get() else 0L
      var added = 0L
      while (rows.hasNext) { rows.next(); added += 1L }
      val now = prev + added
      totalState.update(now)
      Iterator.single(ProductTotal(key, now))
    }
  }

  /** The flagship's marginal totals over a basket-line text stream via
    * [[CoOccurTotalsProcessor]]: parse → repeat-terminated window
    * flatMap → groupByKey(product) → transformWithState.
    * `maxFilesPerTrigger` splits the bounded run into real
    * micro-batches so the state genuinely accumulates across triggers.
    *
    * TimeMode is `None` UNLESS a ttl is given (TTL requires
    * ProcessingTime) — and the distinction is not cosmetic: under
    * ProcessingTime, `TransformWithStateExec.shouldRunAnotherBatch`
    * answers true on EVERY batch (the processing clock always
    * advances, so expired timers/TTL must be re-checked), which makes
    * `Trigger.AvailableNow` never reach its termination condition —
    * measured 3,000+ EMPTY micro-batches before this was caught. A
    * ttl!=None run therefore must NOT drain via AvailableNow; poll the
    * sink and `stop()` the query (the StreamingSpec TTL test's
    * discipline).
    */
  def cooccurTotalsTws(spark: SparkSession, textDir: String,
      ttl: Option[java.time.Duration] = None,
      maxFilesPerTrigger: Int = 1): Dataset[ProductTotal] = {
    import spark.implicits._
    val pairs = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .textFile(textDir)
      .flatMap(graft.sources.BasketSource.parseLine _)
      .flatMap(b =>
        graft.operators.CoOccurrence.windowPairs(b.products))
    val timeMode =
      if (ttl.isDefined) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
      else org.apache.spark.sql.streaming.TimeMode.None()
    pairs.groupByKey(_.product)
      .transformWithState(new CoOccurTotalsProcessor(ttl),
        timeMode,
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  final case class TwsSession(startUs: Long, lastUs: Long, n: Long,
      sumCents: Long, timerMs: Long)
  final case class TwsClosedSession(user_id: Long, start_us: Long,
      end_us: Long, n_events: Long, sum_cents: Long)

  /** Gap sessionization as a [[org.apache.spark.sql.streaming
    * .StatefulProcessor]] with EVENT-TIME TIMERS — the
    * transformWithState surface [[CoOccurTotalsProcessor]] doesn't
    * touch: TimeMode.EventTime, a registered per-key timer at
    * lastEvent + gap, and `handleExpiredTimer` closing the session when
    * the WATERMARK (not an arriving event) passes that instant. This is
    * the piece [[sessionizeStream]] explicitly left out of scope —
    * flatMapGroupsWithState can only close a session when a LATER event
    * for the same user arrives; the timer closes the final session of
    * every user once the stream's event time moves on.
    *
    * Exactness discipline: cents quantization (the [[ewmaStream]]
    * convention — `floor(value·100 + 0.5)`, same IEEE ops as the
    * oracle), fold ordered by (event-time µs, event_id), strict-`>` gap
    * — so emissions are the batch sessionize relation exactly, in
    * integers. One live timer per key: the state carries its expiry and
    * re-registration deletes the stale one; a fired timer is honored
    * only if it IS the current one (`getExpiryTimeInMs` equality), so a
    * racing stale timer can never close a session early. Append-mode
    * output: each closed session is emitted exactly once.
    */
  final class SessionizeTwsProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, TwsClosedSession] {
    @transient private var sess:
      org.apache.spark.sql.streaming.ValueState[TwsSession] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[TwsSession]("session",
        org.apache.spark.sql.Encoders.product[TwsSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[UserEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TwsClosedSession] = {
      val evs = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      val closed = scala.collection.mutable.Buffer[TwsClosedSession]()
      var cur = if (sess.exists()) Some(sess.get()) else None
      for (e <- evs) {
        val us = micros(e.ts)
        val cents = math.floor(e.value * 100.0 + 0.5).toLong
        cur match {
          case Some(s) if us - s.lastUs > gapUs =>
            closed += TwsClosedSession(key, s.startUs, s.lastUs, s.n,
              s.sumCents)
            cur = Some(TwsSession(us, us, 1L, cents, s.timerMs))
          case Some(s) =>
            cur = Some(TwsSession(s.startUs, us, s.n + 1,
              s.sumCents + cents, s.timerMs))
          case None =>
            cur = Some(TwsSession(us, us, 1L, cents, 0L))
        }
      }
      cur.foreach { s =>
        // ceil-to-ms so the ms-resolution timer never fires before the
        // µs-resolution gap has strictly elapsed
        val timerMs = (s.lastUs + gapUs) / 1000L + 1L
        if (s.timerMs != timerMs) {
          if (s.timerMs != 0L) getHandle.deleteTimer(s.timerMs)
          getHandle.registerTimer(timerMs)
        }
        sess.update(s.copy(timerMs = timerMs))
      }
      closed.iterator
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[TwsClosedSession] = {
      if (!sess.exists()) return Iterator.empty
      val s = sess.get()
      if (expiredTimerInfo.getExpiryTimeInMs() != s.timerMs)
        return Iterator.empty // stale timer for an already-extended session
      sess.clear()
      Iterator.single(TwsClosedSession(key, s.startUs, s.lastUs, s.n,
        s.sumCents))
    }
  }

  /** Timer-closed gap sessions over a normalized events stream (see
    * [[SessionizeTwsProcessor]]). The caller owns watermarking the
    * input — the registered query runs `withWatermark("ts", "0
    * seconds")` plus a far-future SENTINEL row, so the final watermark
    * passes every real session's close timer and the bounded run emits
    * the COMPLETE batch sessionize relation (the sentinel's own session
    * stays un-emittable in state and is filtered by user_id).
    */
  def sessionizeTws(events: DataFrame,
      gapMinutes: Int = 30): Dataset[TwsClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionizeTwsProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** [[CoOccurTotalsProcessor]] with BATCH-BOOTSTRAPPED state — the
    * StatefulProcessorWithInitialState surface: `handleInitialState`
    * seeds each key's ValueState from a batch relation BEFORE the first
    * micro-batch, the exactly-once migration story for "backfill
    * computed in batch, continuation streamed" (state upsert serving: a
    * key the stream never touches keeps its backfill value — which is
    * why the registered query's final read overlays stream emissions on
    * the backfill table rather than expecting silent re-emission;
    * handleInitialState cannot emit).
    */
  final class CoOccurTotalsBootProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        String, graft.CoPair, ProductTotal, ProductTotal] {
    @transient private var totalState:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totalState = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInitialState(key: String, initial: ProductTotal,
        timerValues: org.apache.spark.sql.streaming.TimerValues): Unit =
      totalState.update(initial.total)

    override def handleInputRows(key: String,
        rows: Iterator[graft.CoPair],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ProductTotal] = {
      val prev = if (totalState.exists()) totalState.get() else 0L
      var added = 0L
      while (rows.hasNext) { rows.next(); added += 1L }
      val now = prev + added
      totalState.update(now)
      Iterator.single(ProductTotal(key, now))
    }
  }

  /** [[cooccurTotalsTws]] warm-started from a batch totals relation via
    * [[CoOccurTotalsBootProcessor]]. */
  def cooccurTotalsTwsBoot(spark: SparkSession, textDir: String,
      initial: Dataset[ProductTotal],
      maxFilesPerTrigger: Int = 1): Dataset[ProductTotal] = {
    import spark.implicits._
    val pairs = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .textFile(textDir)
      .flatMap(graft.sources.BasketSource.parseLine _)
      .flatMap(b =>
        graft.operators.CoOccurrence.windowPairs(b.products))
    pairs.groupByKey(_.product)
      .transformWithState(new CoOccurTotalsBootProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update(),
        initial.groupByKey(_.product))
  }

  final case class UserTypeCount(user_id: Long, event_type: String,
      n: Long)

  /** Per-user per-event-type running counts on a
    * [[org.apache.spark.sql.streaming.MapState]] — the KEYED-map state
    * primitive of transformWithState (one RocksDB sub-map per user,
    * point-updatable per event type: the state shape a per-key
    * aggregation over a SECONDARY dimension wants at scale — updating
    * one (user, type) cell touches that cell, not a serialized blob of
    * all the user's types, which is exactly what a ValueState[Map]
    * would re-encode wholesale on every event). Update-mode emissions
    * re-emit the user's full (small, type-cardinality-bounded) map per
    * batch; final answer per (user, type) is the max-batch emission.
    */
  final class UserTypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, UserTypeCount] {
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[UserEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserTypeCount] = {
      rows.foreach { e =>
        val prev = if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, prev + 1L)
      }
      counts.iterator().map { case (t, n) => UserTypeCount(key, t, n) }
    }
  }

  /** (user, event_type) running counts over a normalized events stream
    * via [[UserTypeCountsProcessor]]. */
  def userTypeCountsTws(events: DataFrame): Dataset[UserTypeCount] = {
    import events.sparkSession.implicits._
    events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new UserTypeCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  final case class ReservoirEntry(h: String, event_id: Long)
  final case class ReservoirRow(event_type: String, rk: Int,
      event_id: Long)

  /** Streaming BOTTOM-K SKETCH per stratum on a
    * [[org.apache.spark.sql.streaming.ListState]] — the list state
    * primitive of transformWithState, carrying a bounded DETERMINISTIC
    * reservoir: per event_type, the k events with the smallest
    * md5(event_id) (ties by id). Bottom-k over a uniform hash is the
    * mergeable, order-insensitive exact-sample sketch (Cohen & Kaplan
    * 2007 — the md5-determinism sibling of [[graft.operators.Sampling]]
    * .bucket100): any batch split folds to the same final reservoir,
    * so the bounded streaming run equals the batch QUALIFY-top-k
    * relation row for row. State per key is k entries, NO MATTER how
    * many events stream through — the 100 TB shape for "keep a sample
    * per stratum forever".
    */
  final class BottomKReservoirProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, UserEvent, ReservoirRow] {
    @transient private var res:
      org.apache.spark.sql.streaming.ListState[ReservoirEntry] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      res = getHandle.getListState[ReservoirEntry]("reservoir",
        org.apache.spark.sql.Encoders.product[ReservoirEntry],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[UserEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ReservoirRow] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val fresh = rows.map { e =>
        md.reset()
        val h = md.digest(e.event_id.toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        ReservoirEntry(h, e.event_id)
      }
      val merged = (res.get().toSeq ++ fresh)
        .sortBy(e => (e.h, e.event_id)).take(k)
      res.put(merged.toArray)
      merged.iterator.zipWithIndex.map { case (e, i) =>
        ReservoirRow(key, i + 1, e.event_id)
      }
    }
  }

  /** Per-event-type bottom-k reservoir over a normalized events stream
    * via [[BottomKReservoirProcessor]]. */
  def bottomkReservoirTws(events: DataFrame,
      k: Int = 32): Dataset[ReservoirRow] = {
    import events.sparkSession.implicits._
    events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent]
      .groupByKey(_.event_type)
      .transformWithState(new BottomKReservoirProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** Stateful-stream shuffle sizing: a streaming query's
    * `spark.sql.shuffle.partitions` is ALSO its state-store instance
    * count — pinned into the checkpoint at first start, and paid as
    * per-store fixed cost (RocksDB load, commit and snapshot upload, one
    * foreachBatch sink file per store) on EVERY micro-batch.
    *
    * The rule is ONE WAVE on the host it runs on: the batch formula
    * [[graft.Bench.scaledShufflePartitions]] (45 MB of source per
    * partition, capped at 1024) with the floor `min(task slots, 8)`
    * instead of the core count. Below the data-proportional term, more
    * stores than slots run in a second wave that pays every per-store
    * cost again over kilobytes of state; more than 8 stores only adds
    * fixed cost (r17, 32 cores: 65.1 s at 32 stores → 48.6 s at 8 over
    * the 10-query stateful slice at sf0.1), so hosts with 8 or more
    * slots keep the width r17 measured. Beyond ~360 MB of source the
    * data term takes over and rises to the cap — the production posture
    * on a large stream is unchanged.
    *
    * 4-core receipt (`stream_incremental`, 6 alternating pairs, seeds
    * 4001-4006, every job DuckDB-correct), 8 stores → 4 stores:
    * `job_tail_s` 6.23 → 4.98 s (6/6 pairs), `wall_s` 19.26 → 17.09 s
    * (5/6), `peak_rss_mb` 3173 → 3090 (6/6); the stateful stage of a
    * micro-batch fell from 455-840 ms to about 300 ms, and
    * `cooccur_totals_tws` from 4.85-5.35 s to 4.1-4.2 s. A floor of 1
    * store was rejected: `cooccur_stream`'s complete-mode state needs
    * width (19.4-20.3 s against 8.1-11.1 s at 8 stores, sf0.1).
    *
    * Results are partitioning-invariant: state keying is logical
    * (groupBy/dropDuplicates/join keys), watermarks are global, and
    * every registered streaming query's output is an orderBy'd
    * aggregate or admitted set — the driver hash gate sees no change.
    */
  def scaledStatePartitions(spark: SparkSession, sfDir: String): Int =
    graft.Bench.scaledShufflePartitions(sfDir,
      math.min(spark.sparkContext.defaultParallelism, 8))

  /** Run `body` (which builds AND drains a bounded streaming query) with
    * shuffle partitions sized by [[scaledStatePartitions]]; restore the
    * session default after. The conf is read at query start, so the
    * bracket scopes the state sizing to this run.
    */
  def withStatePartitions[T](spark: SparkSession, sfDir: String)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, scaledStatePartitions(spark, sfDir).toString)
    try body
    finally spark.conf.set(key, prev)
  }

  /** transformWithState requires the RocksDB state store provider; set
    * it for the duration of `body` and restore the prior provider after
    * (the rest of the streaming family runs the default HDFS-backed
    * store — a query reads the provider once at start, so scoping the
    * conf change to the run keeps the families independent).
    */
  def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
