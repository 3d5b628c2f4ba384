package graft.suites

import graft.{Qdef, Tables}
import graft.ops.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming corpus over `events` (SURVEY §2.10): a REAL Structured
  * Streaming path (readStream → watermark → window/dedup → memory sink,
  * Trigger.AvailableNow) for tumbling windows and stateful dedup, plus
  * batch session/sliding windows. Each result is verified against an
  * independent batch computation in DuckDB over the same parquet.
  */
object Streaming {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[Qdef] = Seq(

    // Tumbling 1-day windows with a 1-hour watermark, executed by the
    // streaming engine (StateStore-backed aggregation); oracle re-derives
    // the windows with time_bucket. Both are epoch-aligned.
    Qdef.duckOnly(
      "st01_tumbling_window",
      """SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS w_start,
        |       event_type, count(*) AS cnt
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY w_start, event_type""".stripMargin) { (s, dir) =>
      val stream = StreamingOps.streamEvents(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      StreamingOps.runToCompletion(stream, s)
        .select(col("window.start").as("w_start"), col("event_type"), col("cnt"))
        .orderBy("w_start", "event_type")
    },

    // Stateful streaming dedup on event_id within the watermark, then a
    // per-type count — equals batch COUNT(DISTINCT event_id) semantics.
    Qdef(
      "st02_stream_dedup",
      """SELECT event_type, count(DISTINCT event_id) AS n_unique
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
      ) { (s, dir) =>
      val stream = StreamingOps.streamEvents(s, dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique"))
      StreamingOps.runToCompletion(stream, s)
        .orderBy("event_type")
    },

    // Session windows (30-minute gap) per user — Spark's session_window
    // operator vs a gaps-and-islands reconstruction in the oracle.
    Qdef.duckOnly(
      "st03_session_window",
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR CAST(ts AS TIMESTAMP) - CAST(lag(ts) OVER w AS TIMESTAMP)
        |              >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE user_id < 20
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id,
        |  CAST(count(DISTINCT sid) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM sessions
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events").filter(col("user_id") < 20)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_sessions"),
          sum("n_events").cast("bigint").as("n_events"))
        .orderBy("user_id")
    },

    // Stream-stream inner join with watermarked state: purchases within
    // 30 minutes after a click by the same user. Both sides are real
    // streams; the time-bound condition lets the state store evict.
    Qdef(
      "st05_stream_stream_join",
      """SELECT count(*) AS n_pairs
        |FROM events c
        |JOIN events p ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL '30' MINUTE""".stripMargin) { (s, dir) =>
      val clicks = StreamingOps.streamEvents(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = StreamingOps.streamEvents(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = clicks.join(purchases,
        expr("cu = pu AND purchase_ts >= click_ts" +
          " AND purchase_ts < click_ts + INTERVAL '30' MINUTE"))
      StreamingOps.runToCompletion(joined, s, mode = "append")
        .agg(count(lit(1)).as("n_pairs"))
    },

    // foreachBatch sink: stream filtered events into parquet files (the
    // exactly-once microbatch commit pattern), verify by reading back.
    Qdef(
      "st06_foreachbatch_sink",
      """SELECT event_type, count(*) AS cnt
        |FROM events
        |WHERE value > 50
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val out = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
      StreamingOps.runToParquet(
        StreamingOps.streamEvents(s, dir).filter(col("value") > 50), out)
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("event_type")
    },

    // Custom stateful operator: per-user running (count, max) via
    // mapGroupsWithState — the KeyValueGroupedDataset custom-state API
    // (SURVEY §intro bullet on Structured Streaming state; the reference
    // has no stateful runtime at all). Update-mode memory sink; with
    // AvailableNow the final update per key equals the batch aggregate.
    Qdef(
      "st07_map_groups_with_state",
      """SELECT user_id, count(*) AS n_events, max(value) AS max_value
        |FROM events
        |WHERE user_id < 30
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
      val ds = graft.ops.StreamingOps.streamEvents(s, dir)
        .filter(col("user_id") < 30)
        .select(col("user_id").cast("long"), col("value").cast("double"))
        .as[(Long, Double)]
      val updated = ds.groupByKey(_._1)
        .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
          GroupStateTimeout.NoTimeout) { (user, rows, state) =>
          var (n, m) = state.getOption.getOrElse((0L, Double.MinValue))
          rows.foreach { case (_, v) => n += 1; m = math.max(m, v) }
          state.update((n, m))
          (user, n, m)
        }
        .toDF("user_id", "n_events", "max_value")
      val name = "st07_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = updated.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("user_id")
    },

    // Mergeable sketch INSIDE the streaming engine: per-type t-digests
    // built incrementally across micro-batches by the StateStore-backed
    // streaming aggregation — the pattern that gives percentiles over an
    // unbounded stream with bounded state. Property oracle: streamed p50
    // within the digest's error band of the exact batch percentile.
    Qdef(
      "st08_stream_tdigest",
      """SELECT event_type, true AS p50_ok
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val stream = StreamingOps.streamEvents(s, dir)
        .groupBy(col("event_type"))
        .agg(expr("tdigest_agg(value)").as("td"))
      val streamed = StreamingOps.runToCompletion(stream, s)
        .select(col("event_type"),
          expr("td_value_at_quantile(td, 0.5)").as("est50"))
      val exact = t(s, dir, "events")
        .groupBy(col("event_type").as("et"))
        .agg(expr("percentile(value, 0.5)").as("ex50"))
      streamed.join(exact, col("event_type") === col("et"))
        .select(col("event_type"),
          (abs(col("est50") - col("ex50")) <= abs(col("ex50")) * 0.02 + 0.01)
            .as("p50_ok"))
        .orderBy("event_type")
    },

    // APPEND-mode watermark eviction — the production emission semantics
    // (st01 runs complete mode): a window row is emitted exactly when
    // the final watermark passes its end, so the still-open last window
    // is withheld. With Trigger.AvailableNow the final watermark is
    // max(ts) - delay, which the oracle replays in batch: emitted iff
    // w_start + 1 day <= max(ts) - 1 hour (verified empirically — 29 of
    // 30 daily windows at sf0.001, the in-progress one held back).
    Qdef.duckOnly(
      "st09_append_watermark_eviction",
      """WITH wm AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '1 hour' AS w
        |  FROM events),
        |agg AS (
        |  SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS w_start,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1)
        |SELECT w_start, cnt FROM agg, wm
        |WHERE w_start + INTERVAL '1 day' <= w
        |ORDER BY w_start""".stripMargin) { (s, dir) =>
      val stream = StreamingOps.streamEvents(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("w_start"), col("cnt"))
      StreamingOps.runToCompletion(stream, s, mode = "append")
        .orderBy("w_start")
    },

    // Sliding windows (1 day, 12-hour slide): every event lands in exactly
    // two windows; the oracle unions the two alignments explicitly.
    Qdef.duckOnly(
      "st04_sliding_window",
      """WITH expanded AS (
        |  SELECT unnest([
        |      time_bucket(INTERVAL '12 hours', CAST(ts AS TIMESTAMP)),
        |      time_bucket(INTERVAL '12 hours', CAST(ts AS TIMESTAMP))
        |        - INTERVAL '12 hours']) AS w_start,
        |    event_type
        |  FROM events)
        |SELECT w_start, event_type, count(*) AS cnt
        |FROM expanded
        |GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 day", "12 hours"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("w_start"), col("event_type"), col("cnt"))
        .orderBy("w_start", "event_type")
    },

    // Stream-static join: the streaming events enrich against a STATIC
    // dimension (customer) before a streaming aggregation — the pattern
    // every production enrichment pipeline runs. The static side needs
    // no watermark and no state: Spark re-plans it per microbatch and
    // broadcasts it when small; state lives only in the downstream
    // count aggregation. The oracle is the batch join — stream-static
    // joins are exactly batch-equivalent under AvailableNow.
    Qdef(
      "st10_stream_static_join",
      """SELECT c_mktsegment, count(*) AS cnt
        |FROM events
        |JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val static = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val stream = StreamingOps.streamEvents(s, dir)
        .join(static, col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
      StreamingOps.runToCompletion(stream, s)
        .orderBy("c_mktsegment")
    },

    // Stream-stream LEFT OUTER join (the null-emitting flavor st05's
    // inner join doesn't cover): an unmatched click emits its null row
    // only when the global watermark — the MIN of the two inputs'
    // (max ts − 1h) marks — passes its 30-minute join window, so both
    // engines count only clicks STRICTLY below that deterministic
    // eviction threshold (filtering the click STREAM instead would
    // starve its own watermark and shrink the emitted set — the exact
    // trap this entry pins). Counts only: row-level output order
    // depends on emission batching, counts do not.
    Qdef(
      "st11_stream_stream_outer_join",
      """WITH thr AS (
        |  SELECT least(
        |      (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |      (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL '1' HOUR - INTERVAL '30' MINUTE AS t)
        |SELECT
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(pu) AS BIGINT) AS n_matched,
        |  CAST(count(*) FILTER (WHERE pu IS NULL) AS BIGINT) AS n_unmatched
        |FROM (SELECT user_id AS cu, ts AS cts FROM events, thr
        |      WHERE event_type = 'click' AND ts < t) c
        |LEFT JOIN (SELECT user_id AS pu, ts AS pts FROM events
        |           WHERE event_type = 'purchase') p
        |  ON cu = pu AND pts >= cts
        |    AND pts < cts + INTERVAL '30' MINUTE""".stripMargin) { (s, dir) =>
      // one scan for both per-type maxima; loud if a type is absent
      // (a null max would otherwise NPE opaquely). The threshold is
      // computed at MICROsecond precision via Timestamp.before —
      // Timestamp.getTime millisecond arithmetic would truncate and
      // disagree with the oracle's micros-exact interval subtraction
      // on boundary clicks.
      val maxes = t(s, dir, "events").agg(
        max(when(col("event_type") === "click", col("ts"))).as("mc"),
        max(when(col("event_type") === "purchase", col("ts"))).as("mp"))
        .collect()(0)
      require(!maxes.isNullAt(0) && !maxes.isNullAt(1),
        "st11 needs both click and purchase events in the fixture")
      val mc = maxes.getTimestamp(0); val mp = maxes.getTimestamp(1)
      val minMax = if (mc.before(mp)) mc else mp
      val thr = {
        val t2 = new java.sql.Timestamp(minMax.getTime - (90L * 60 * 1000))
        t2.setNanos(minMax.getNanos) // keep the sub-millisecond part
        t2
      }
      val clicks = StreamingOps.streamEvents(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts"))
        .withWatermark("cts", "1 hour")
      val purchases = StreamingOps.streamEvents(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"))
        .withWatermark("pts", "1 hour")
      val joined = clicks.join(purchases,
        expr("cu = pu AND pts >= cts AND pts < cts + INTERVAL '30' MINUTE"),
        "left_outer")
      StreamingOps.runToCompletion(joined, s, mode = "append")
        .filter(col("cts") < lit(thr))
        .agg(count(lit(1)).as("n_rows"),
          count(col("pu")).as("n_matched"),
          count(when(col("pu").isNull, 1)).as("n_unmatched"))
    },

    // transformWithState (Spark 4's arbitrary-state API, the successor
    // to st07's mapGroupsWithState): per-user totals held in MULTIPLE
    // named RocksDB-backed state variables — two ValueStates plus a
    // MapState whose key count is the distinct-type cardinality. The
    // batch oracle recomputes the same totals with plain aggregation;
    // Update mode + the single AvailableNow batch makes the streamed
    // answer exactly the batch one (st07's contract).
    Qdef(
      "st12_transform_with_state",
      """SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  sum(value) AS total_value
        |FROM events
        |WHERE user_id < 30
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val ds = StreamingOps.streamEvents(s, dir)
        .filter(col("user_id") < 30)
        .select(col("user_id").cast("long"), col("event_type"),
          col("value").cast("double"))
        .as[(Long, String, Double)]
      val totals = ds.groupByKey(_._1)
        .transformWithState(new StreamingOps.UserActivityProcessor,
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_events", "n_types", "total_value")
      StreamingOps.runWithRocksDb(totals, s, mode = "update")
        .orderBy("user_id")
    }
  )
}
