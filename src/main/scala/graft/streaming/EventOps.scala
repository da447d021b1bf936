package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming operators over the `events` table. Each windowed aggregation is
  * written against a generic DataFrame so the SAME code runs in batch (for
  * the DuckDB oracle) and under Structured Streaming (`readStream` input +
  * watermark — see `withWatermarkIfStreaming` and the streaming specs).
  *
  * Scale: tumbling/sliding aggs shuffle once on (window, key) with map-side
  * partial aggregation; session windows keep per-key state bounded by the
  * watermark.
  */
object EventOps {

  def withWatermarkIfStreaming(df: DataFrame, tsCol: String, delay: String): DataFrame =
    if (df.isStreaming) df.withWatermark(tsCol, delay) else df

  /** Tumbling-window aggregation: counts + decimal-exact value sums per
    * (window, event_type).
    */
  def tumbling(events: DataFrame, every: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), every).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** CDC-signed tumbling aggregate: each row carries `op` ∈ {+1 insert,
    * −1 retraction} and the result equals [[tumbling]] over the NET stream
    * — counts are Σop and sums accumulate op·value in exact decimal, so an
    * insert/retraction pair cancels bit-exactly and a window/type group
    * whose net count reaches 0 disappears. Runs unchanged under
    * Structured Streaming (an ordinary watermark-bounded windowed sum —
    * retraction is data, not a Spark update-mode feature, which is what
    * makes it portable to append-mode sinks), and its partials subtract
    * the same way Rollup.retractDelta's do.
    */
  def tumblingSigned(events: DataFrame, every: String, op: Column): DataFrame =
    events
      .groupBy(window(col("ts"), every).as("w"), col("event_type"))
      .agg(
        sum(op.cast("long")).as("n"),
        sum((col("value") * op).cast("decimal(18,2)")).as("sum_value"))
      .filter(col("n") =!= 0)
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding-window aggregation (window length > slide ⇒ each event counted
    * in length/slide windows).
    */
  def sliding(events: DataFrame, length: String = "1 hour", slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), length, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Binary-exact trailing-20-hour EWMA of the hourly event rate (α = 1/2),
    * runnable batch OR streaming from the same code: each event SCATTERS
    * its unit weight forward to the 20 hour-windows it influences
    * (ts + j hours carries weight 2^(19−j), all powers of two ⇒ the
    * smoothed series is exact integer fixed point scaled by 2^20). The
    * scatter is a stateless explode, so under Structured Streaming the
    * aggregation is an ordinary watermark-bounded tumbling-window sum —
    * the monitor emits each finalized hour's smoothed rate exactly once.
    * Emits EVERY influenced hour (a zero-event hour still has decaying
    * mass); callers wanting only observed hours join against the base.
    */
  def ewmaByHour(events: DataFrame): DataFrame = {
    val contrib = events.select(col("ts"), explode(sequence(lit(0), lit(19))).as("j"))
      .select(col("ts"),
        (col("ts") + expr("make_interval(0, 0, 0, 0, j, 0, 0)")).as("tts"),
        expr("CAST(round(power(2.0, 19 - j)) AS BIGINT)").as("w"))
    // watermark on the SCATTERED time: an event influences windows up to
    // 19 h ahead of its own timestamp, so late-data tolerance composes as
    // (scatter horizon + slack) relative to source event time
    withWatermarkIfStreaming(contrib, "tts", "2 hours")
      .groupBy(window(col("tts"), "1 hour").as("win"))
      .agg(sum(col("w")).as("ewma_fp"))
      .select(col("win.start").as("window_start"), col("ewma_fp"))
  }

  /** Per-window data-quality monitoring: the streaming form of
    * `pipeline.Expectations.check` — N row-level assertions as conditional
    * sums inside ONE tumbling-window aggregation, melted to a
    * per-(window, expectation) report. NULL verdicts count as violations.
    * Under Structured Streaming the aggregation is watermark-bounded and
    * each finalized window emits its validation report exactly once — a
    * live data-quality monitor from the same code the batch gate runs.
    */
  def expectationsByWindow(
      events: DataFrame,
      expectations: Seq[(String, Column)],
      every: String = "1 day"): DataFrame = {
    require(expectations.nonEmpty, "at least one expectation")
    graft.pipeline.Expectations.requireSafeNames(expectations)
    val aggs = expectations.map { case (name, pred) =>
      coalesce(
        sum(when(coalesce(pred, lit(false)), lit(0L)).otherwise(lit(1L))),
        lit(0L)).as(s"v_$name")
    } :+ count(lit(1)).as("_n")
    val agged = events
      .groupBy(window(col("ts"), every).as("w"))
      .agg(aggs.head, aggs.tail: _*)
    val stackArgs = expectations
      .map { case (name, _) => s"'$name', v_$name" }.mkString(", ")
    agged
      .selectExpr("w.start AS window_start", "_n",
        s"stack(${expectations.size}, $stackArgs) AS (expectation, n_violations)")
      .select(col("window_start"), col("expectation"),
        col("_n").as("n_rows"), col("n_violations"),
        (col("n_violations") === 0L).as("pass"))
  }

  /** Streaming drift monitor: per-window fixed-width value histograms —
    * the binned distribution (q_drift_bins' input) maintained ON the
    * stream, so a snapshot-vs-snapshot drift check never rescans raw
    * events. One event-time window aggregation (watermark-bounded state
    * under readStream, append mode — each finalized (window, bin) count
    * emits once); the SAME code path serves batch. `value` must be
    * integral (quantize first); bins are `value div binWidth` —
    * truncating division, non-negative inputs.
    */
  def histogramByWindow(
      events: DataFrame,
      value: Column,
      binWidth: Long,
      every: String = "1 day"): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    events
      .withColumn("_vc", value)
      .groupBy(window(col("ts"), every).as("w"),
        expr(s"_vc div ${binWidth}L").as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("bin"), col("n"))
  }

  /** Streaming heavy-key monitor: per-window count-min point estimates for
    * a FIXED probe-key list. Fixed probes mean the probed cells are
    * literal buckets (Cms.plannedBucket at plan time), so the whole sketch
    * read collapses to depth×probes conditional sums inside ONE
    * tumbling-window aggregation — no explode, no cell state beyond the
    * ordinary window agg; the identical code serves batch, and each
    * window's estimate carries CMS's overestimate guarantee.
    */
  def cmsProbeByWindow(
      events: DataFrame,
      key: Column,
      probes: Seq[Long],
      depth: Int,
      width: Int,
      every: String = "1 day"): DataFrame = {
    require(probes.nonEmpty && depth >= 1 && width >= 2)
    val aggs = probes.map { p =>
      least((0 until depth).map { j =>
        sum(when(graft.pipeline.Cms.bucketCol(j, key, width) ===
          lit(graft.pipeline.Cms.plannedBucket(j, p.toString, width)), 1L)
          .otherwise(0L))
      }: _*).as(s"est_$p")
    }
    events
      .groupBy(window(col("ts"), every).as("w"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("w.start").as("window_start"),
        explode(array(probes.map(p =>
          struct(lit(p).as("probe_key"), col(s"est_$p").as("cms_est"))): _*))
          .as("e"))
      .select(col("window_start"), col("e.probe_key"), col("e.cms_est"))
  }

  /** Batch sessionization — gaps-and-islands with a window function: a new
    * session starts when the gap to the previous event of the same user
    * exceeds `gapMinutes`. Total-ordered by (user, ts, event_id) so results
    * are deterministic and DuckDB-comparable. The streaming equivalent is
    * `sessionWindowStreaming` below; the two must agree (tested).
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      // MICROSECOND precision (unix_timestamp would truncate to seconds and
      // misjudge sub-second gaps), and >= so a gap of EXACTLY the threshold
      // starts a new session — matching session_window's half-open
      // [start, last + gap) semantics, not just approximately agreeing
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= gapUs).cast("int"))
      .withColumn("session_seq", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .drop("session_seq")
  }

  /** Streaming sessionization via `session_window` — the stateful native
    * operator (state pruned by watermark). Output schema matches
    * `sessionizeBatch` minus exact end-timestamps (session_window's end is
    * last-event + gap, so we compare on start/count in tests).
    */
  def sessionWindowStreaming(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  /** Stream-stream interval join: signups joined to the same user's
    * purchases within `withinSql` (e.g. "1 HOUR") after the signup — the
    * attribution/conversion join. As a self-join over one watermarked
    * stream, Spark bounds BOTH sides' state by the watermark plus the
    * interval (the time-range condition is what makes state cleanup
    * possible — an unconstrained stream-stream join would buffer forever).
    * The same code runs in batch (the DuckDB-oracle form, events_conv).
    */
  def conversionsWithin(events: DataFrame, withinSql: String, watermark: String = "0 seconds"): DataFrame =
    conversionJoin(events, withinSql, watermark, "inner")
      .drop("signup_id")

  /** LEFT OUTER stream-stream interval join: every signup emits — matched
    * rows as they arrive, ABANDONED signups (no purchase inside the bound)
    * as a null-purchase row once the watermark passes signup_ts + bound
    * and the engine can prove no match is coming. The null side is state
    * the watermark retires, same as the inner join's buffers — this is
    * the streaming form of "who didn't convert", which a periodic batch
    * anti-join can only answer a full period late.
    */
  def conversionsWithinOuter(events: DataFrame, withinSql: String,
      watermark: String = "0 seconds"): DataFrame =
    conversionJoin(events, withinSql, watermark, "left_outer")

  private def conversionJoin(events: DataFrame, withinSql: String,
      watermark: String, joinType: String): DataFrame = {
    val s = withWatermarkIfStreaming(
      events.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_id"),
          col("ts").as("signup_ts")), "signup_ts", watermark)
    val p = withWatermarkIfStreaming(
      events.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts")), "purchase_ts", watermark)
    s.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("signup_ts") &&
          col("purchase_ts") <= col("signup_ts") + expr(s"INTERVAL $withinSql"),
        joinType)
      .drop("p_user")
  }

  /** Volume-anomaly detection: per (event_type, hourly bucket) counts scored
    * against the trailing `lookback` buckets' mean/stddev — the monitoring
    * query a pipeline runs over its own ingest. The mean/variance come from
    * exact INTEGER window sums (sum, sum-of-squares), not `stddev()`: both
    * engines then evaluate the identical double formula on identical exact
    * sums, so z-scores are bit-deterministic and oracle-comparable (a
    * Welford-style streaming stddev is numerically engine-specific).
    *
    * Scale: one (window, type) shuffle with map-side partial agg, then a
    * bounded ROWS window per type over the (tiny) bucket series.
    */
  def anomalies(events: DataFrame, every: String = "1 hour", lookback: Int = 24,
      zThreshold: Double = 2.0): DataFrame =
    scoreBuckets(bucketCounts(events, every), lookback, zThreshold)

  /** Per-(bucket, type) event counts — the only stage that touches the raw
    * stream; runs incrementally under Structured Streaming.
    */
  def bucketCounts(events: DataFrame, every: String): DataFrame =
    events
      .groupBy(window(col("ts"), every).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Z-score each bucket against its trailing `lookback` buckets (see
    * [[anomalies]] for the exact-integer-sums determinism argument). Input
    * is the compact bucket series — one row per bucket per type — so this
    * is cheap regardless of raw-stream volume.
    */
  def scoreBuckets(hourly: DataFrame, lookback: Int, zThreshold: Double): DataFrame = {
    val trail = Window.partitionBy("event_type").orderBy("window_start")
      .rowsBetween(-lookback, -1)
    hourly
      .withColumn("_s1", sum(col("n")).over(trail))
      // square in DOUBLE: long n*n overflows once a bucket count reaches
      // ~3.04e9 (ANSI: runtime error; legacy: corrupt variance). The window
      // holds ≤ lookback exact-integer doubles, so the sum stays
      // order-independent at gate scale
      .withColumn("_s2", sum(col("n").cast("double") * col("n")).over(trail))
      .withColumn("_c", count(col("n")).over(trail))
      // divisor null-guards: ANSI mode errors on x/0 where DuckDB's double
      // division yields NULL — `when` makes the empty/singleton-window rows
      // null here too (the z-score guard below filters them anyway)
      .withColumn("_mean",
        col("_s1").cast("double") / when(col("_c") > 0, col("_c")))
      .withColumn("_var",
        (col("_s2").cast("double") -
          col("_s1").cast("double") * col("_s1") / when(col("_c") > 0, col("_c"))) /
          when(col("_c") >= 2, col("_c") - 1))
      .withColumn("z",
        when(col("_c") >= 2 && col("_var") > 0,
          round((col("n") - col("_mean")) / sqrt(col("_var")), 4)))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > zThreshold, lit(false)))
      .select("window_start", "event_type", "n", "z", "is_anomaly")
  }

  /** One micro-batch of finalized buckets lands in a `batch_id=N`
    * partition dir with OVERWRITE — foreachBatch is at-least-once under
    * retries, so a replayed batch overwrites its own partition instead of
    * double-counting: effective exactly-once without reading or locking
    * the store (the rollup stream's idempotency pattern —
    * [[graft.pipeline.Rollup.writeMicroBatch]] — now the discipline of
    * ALL three streaming-maintained summaries). Empty batches are
    * skipped by the callers, so no empty partition dirs accumulate.
    */
  private[graft] def writeFinalized(batch: DataFrame, storeDir: String,
      batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$storeDir/batch_id=$batchId")

  /** The committed bucket series, without the physical `batch_id`
    * partition column — readers see exactly the schema the batch-path
    * operators ([[scoreBuckets]], [[topkOfBucketCounts]]) expect.
    */
  private[graft] def readFinalized(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    spark.read.parquet(storeDir).drop("batch_id")

  /** Streaming anomaly detection. The heavy stage ([[bucketCounts]]) runs
    * incrementally inside the engine — append mode emits each bucket exactly
    * once, when the watermark passes its end. Finalized buckets land in the
    * compact parquet store via the idempotent [[writeFinalized]] batch_id
    * partition overwrite (a retried micro-batch replaces itself — no
    * duplicate buckets can skew the z-scores), and [[scoreBuckets]] runs
    * over THAT store per micro-batch: one row per bucket per type, tiny
    * forever, so the raw stream is never re-scanned no matter how many
    * TB/day it carries. `onBatch` receives the full scored series after
    * each batch (route it to an alerting sink in production).
    *
    * `checkpoint` is REQUIRED for the exactly-once claim to survive a
    * driver restart: without a durable checkpoint, Spark discards the
    * batch-id sequence with the temp checkpoint dir and a restarted job
    * re-emits the same finalized buckets under FRESH batch ids — the old
    * run's partitions would then sit beside the re-emitted copies and
    * duplicate every bucket (the same contract as
    * [[graft.pipeline.Rollup.maintainFromStream]]'s checkpoint param).
    */
  def anomalySink(
      events: DataFrame,
      storeDir: String,
      checkpoint: String,
      every: String = "1 hour",
      lookback: Int = 24,
      zThreshold: Double = 2.0,
      watermark: String = "0 seconds")(
      onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    bucketCounts(withWatermarkIfStreaming(events, "ts", watermark), every)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          writeFinalized(batch, storeDir, batchId)
          onBatch(scoreBuckets(
            readFinalized(batch.sparkSession, storeDir), lookback, zThreshold))
        }
      }
      .start()

  /** Per-window top-k leaderboard over a [[bucketCounts]] series: rank
    * event types by count inside each window, ties to the smaller type
    * string. Input is the compact bucket frame (one row per window × type),
    * so the window sort is O(types) per window regardless of raw volume,
    * partitioned on window_start — parallelism grows with the time range.
    */
  def topkOfBucketCounts(counts: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("window_start").orderBy(desc("n"), asc("event_type"))
    counts.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Streaming leaderboard — the [[anomalySink]] pattern applied to top-k:
    * the count aggregation runs incrementally in-engine (watermark-bounded,
    * append mode — each finalized (window, type) count emits exactly once),
    * finalized counts land via the idempotent [[writeFinalized]] batch_id
    * partition overwrite (a retried micro-batch replaces itself — no
    * duplicate rows can inflate a leaderboard count), and the
    * O(windows × types) rank stage re-runs over that store per batch with
    * the SAME [[topkOfBucketCounts]] the batch query uses. The raw stream
    * is never re-scanned; stream ≡ batch is structural (spec-pinned).
    * `checkpoint` is required for the same restart-survival reason as
    * [[anomalySink]]'s.
    */
  def topkSink(
      events: DataFrame,
      storeDir: String,
      checkpoint: String,
      k: Int,
      every: String = "1 hour",
      watermark: String = "0 seconds")(
      onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    bucketCounts(withWatermarkIfStreaming(events, "ts", watermark), every)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          writeFinalized(batch, storeDir, batchId)
          onBatch(topkOfBucketCounts(
            readFinalized(batch.sparkSession, storeDir), k))
        }
      }
      .start()

  /** JSON property extraction from the `props` column + top-k per event type
    * by extracted value — exercises semi-structured access at scan time.
    */
  def topEventsByProp(events: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(desc("k_val"), asc("event_id"))
    events
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
