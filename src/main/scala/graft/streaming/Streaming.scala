package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-windowed / streaming surface (SURVEY §2.9). The reference's
  * calendar-driven monthly batching (utils/spot_manager.py:154-183,
  * previous-month targeting :52-58) is micro-batching by hand; here the
  * same semantics are Structured-Streaming-native windowed aggregates.
  *
  * Each transform below is written over a plain DataFrame so the SAME
  * code runs in batch mode (registered queries, DuckDB-oracle-checked
  * at sf0.01) and under `readStream` (StreamingSpec drives them with a
  * MemoryStream plus watermarks — late-data drops, stateful dedup, and
  * arbitrary state live only there, since they have no batch oracle).
  *
  * Scale posture: windowed aggregates shuffle once on (window key ⊕
  * group key) with map-side partials; in streaming mode the state
  * store holds one row per open window — bounded by `withWatermark`,
  * which is what makes a 100 TB/day stream's state finite.
  */
object Streaming {

  /** Tumbling 1-hour windows: count + sum per window. */
  def tumblingHourly(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"), col("total"))

  /** Sliding 1-hour windows every 15 minutes (each event in 4). */
  def slidingHourly(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))

  /** Per-user session windows with a 30-minute inactivity gap. */
  def sessions(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"), col("n_events"))

  /** First occurrence per (user, event_type) — the BATCH form of
    * streaming `dropDuplicates` over keyed events: the survivor is the
    * earliest row in (ts, event_id) order, exactly the row the
    * streaming dedup state would have admitted first. In streaming
    * mode the same keys run under `dropDuplicatesWithinWatermark`
    * (state bounded by the watermark horizon — StreamingSpec); the
    * batch aggregate shuffles only (key, min struct) partials. */
  def firstOccurrence(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"))
      .agg(min(struct(col("ts"), col("event_id"))).as("f"))
      .select(col("user_id"), col("event_type"),
        col("f.ts").as("first_ts"), col("f.event_id").as("first_event_id"))

  /** Stream-stream inner join: each purchase matched to every view by
    * the same user in the preceding 30 minutes. The time-range
    * condition is what BOUNDS THE STATE in streaming mode — with
    * watermarks on both sides, rows older than (watermark − 30 min)
    * are evicted, so state is finite on an unbounded stream (the exact
    * condition Structured Streaming requires to accept the join in
    * append mode). Same code runs in batch (oracle-checked) and under
    * readStream (StreamingSpec). */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("view_ts"))
    val p = purchases.select(col("user_id").as("p_user"),
      col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
    p.join(v,
      col("p_user") === col("v_user") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"),
      "inner")
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("view_ts"))
  }

  /** Stream-stream LEFT OUTER join — [[viewPurchaseJoin]] with the
    * unmatched purchases KEPT (view columns NULL): the attribution
    * query as it must actually ship, because "no preceding view" is a
    * signal, not a row to drop. In streaming append mode this is the
    * semantically hard case: a NULL-padded row can only emit once the
    * watermark proves no matching view can still arrive (left rows
    * are held in state until `purchase_ts + 30 min` passes the
    * watermark, then released exactly once) — StreamingSpec pins
    * exactly that gating. Same code runs in batch, oracle-checked. */
  def viewPurchaseJoinOuter(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("view_ts"))
    val p = purchases.select(col("user_id").as("p_user"),
      col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
    p.join(v,
      col("p_user") === col("v_user") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("view_ts"))
  }

  /** Streaming sink with the reference's MONTHLY-FILE layout: each
    * micro-batch lands as hive (year, month) partitions under `outDir`
    * via foreachBatch — the streaming form of the batch
    * `partitionBy(year, month)` sink (precipitation_pipeline.py:123-144
    * file-per-month contract). Append mode: a month receives new files
    * as batches arrive; readers see one logical partition per month.
    *
    * Scale posture: foreachBatch reuses the batch committer — one file
    * per task per touched partition, no coalesce(1). Delivery contract:
    * checkpointing never re-runs a COMMITTED batch (clean stop/restart
    * is duplicate-free — spec'd), but a crash between the write and the
    * checkpoint commit replays that one batch → at-least-once, the
    * standard append-mode foreachBatch semantics. Exactly-once under
    * crash-replay needs an idempotent write (partition the output by
    * batch id and overwrite dynamically, or a transactional table
    * format) — deliberately not traded for the reference's plain
    * year/month directory contract here. */
  def monthlyFileSink(stream: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream
      .withColumn("year", year(col("ts"))).withColumn("month", month(col("ts")))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").partitionBy("year", "month").parquet(outDir)
      }
      .start()

  /** The idempotent batch writer behind [[monthlyFileSinkIdempotent]]:
    * the batch lands under its own batch_id partition with DYNAMIC
    * partition overwrite, so a replayed batch id overwrites exactly its
    * own partitions — same rows, no duplicates (spec'd by invoking this
    * twice with one id). Exposed so the replay property is testable
    * without crashing a streaming query mid-commit. */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, outDir: String): Unit =
    batch
      .withColumn("year", year(col("ts"))).withColumn("month", month(col("ts")))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "year", "month").parquet(outDir)

  /** EXACTLY-ONCE variant of [[monthlyFileSink]]: trades the plain
    * year/month directory contract for a leading batch_id partition,
    * in exchange for idempotence under crash-replay (an uncommitted
    * batch that re-runs overwrites its own partitions instead of
    * appending duplicates). Readers treat batch_id as an extra
    * partition column; per-month views are `WHERE year=… AND month=…`
    * across batches. */
  def monthlyFileSinkIdempotent(stream: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        writeBatchIdempotent(batch, id, outDir)
      }
      .start()

  /** Streaming FeatureCollection sink: each micro-batch's feature rows
    * are assembled into per-(year,month) document PARTS by the same
    * bounded plan as batch ([[graft.operators.Climate
    * .featureCollection]]) and appended under hive (year,month)
    * partitions with their batch id. A month's logical document is the
    * concatenation of its parts in (batch_id, shard) order — the
    * streaming form of the sharded contract: no single collected value
    * ever exceeds `maxPerDoc` features, regardless of how large a
    * month grows across an unbounded stream. Expects `year`, `month`,
    * the feature column, and a within-month-unique order column on the
    * input (the batch assembly's own precondition). */
  def shardedCollectionSink(stream: DataFrame, featureCol: String,
      orderCol: String, maxPerDoc: Int, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.operators.Climate
          .featureCollection(batch, featureCol, orderCol, maxPerDoc)
          .withColumn("batch_id", lit(id))
          .write.mode("append").partitionBy("year", "month").parquet(outDir)
      }
      .start()

  /** The idempotent batch writer behind
    * [[shardedCollectionSinkIdempotent]]: the batch's sharded document
    * parts land under their own batch_id partition with DYNAMIC
    * partition overwrite — a crash-replayed batch id overwrites
    * exactly its own parts instead of appending duplicate shards
    * (spec'd by double invocation, same contract as
    * [[writeBatchIdempotent]]). */
  def writeShardedBatch(batch: DataFrame, batchId: Long, featureCol: String,
      orderCol: String, maxPerDoc: Int, outDir: String): Unit =
    graft.operators.Climate
      .featureCollection(batch, featureCol, orderCol, maxPerDoc)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "year", "month").parquet(outDir)

  /** EXACTLY-ONCE variant of [[shardedCollectionSink]]: same bounded
    * per-part contract, with the batch_id leading the partition path so
    * crash-replay is idempotent. A month's logical document is its
    * parts in (batch_id, shard) order, read across batch partitions. */
  def shardedCollectionSinkIdempotent(stream: DataFrame, featureCol: String,
      orderCol: String, maxPerDoc: Int, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        writeShardedBatch(batch, id, featureCol, orderCol, maxPerDoc, outDir)
      }
      .start()

  val queries: Map[String, Q] = Map(
    "q_stream_tumbling" -> ((s, d) =>
      tumblingHourly(Tables.events(s, d)).orderBy(col("window_start"))),
    "q_stream_sliding" -> ((s, d) =>
      slidingHourly(Tables.events(s, d)).orderBy(col("window_start"))),
    "q_stream_session" -> ((s, d) =>
      sessions(Tables.events(s, d)).orderBy(col("user_id"), col("session_start"))),
    "q_stream_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      viewPurchaseJoin(
        e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "purchase"))
        .orderBy(col("purchase_id"), col("view_ts"))
    }),
    "q_stream_dedup" -> ((s, d) =>
      firstOccurrence(Tables.events(s, d))
        .orderBy(col("user_id"), col("event_type"))),
    // NULLS FIRST explicitly: Spark and DuckDB default opposite null
    // orders, and the unmatched purchases are exactly the NULL rows
    "q_stream_join_outer" -> ((s, d) => {
      val e = Tables.events(s, d)
      viewPurchaseJoinOuter(
        e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "purchase"))
        .orderBy(col("purchase_id"), col("view_ts").asc_nulls_first)
    }),
  )

  val oracle: Map[String, String] = Map(
    "q_stream_dedup" ->
      """WITH r AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS tts, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_type, tts AS first_ts, event_id AS first_event_id
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "q_stream_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
        |       count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // an event at t belongs to the 4 slide-aligned windows starting at
    // floor15(t) − k·15min, k = 0..3
    "q_stream_sliding" ->
      """SELECT ws AS window_start, count(*) AS n FROM (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts)
        |           - k * INTERVAL '15 minutes' AS ws
        |  FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) ks)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // gaps-and-islands: a new session starts when the gap since the
    // previous event is ≥ the 30-minute inactivity timeout
    "q_stream_session" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   < INTERVAL '30 minutes' THEN 0 ELSE 1 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q_stream_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       p.ts AS purchase_ts, v.ts AS view_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 30 MINUTE
        |ORDER BY purchase_id, view_ts""".stripMargin,
    "q_stream_join_outer" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       p.ts AS purchase_ts, v.ts AS view_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 30 MINUTE
        |ORDER BY purchase_id, view_ts NULLS FIRST""".stripMargin,
  )
}
