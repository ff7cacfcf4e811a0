package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.{Tables => T}
import graft.operators.AsOf
import graft.streaming.Streams

/** Event-stream suite: JSON extraction, event-time windows, sessionization,
  * exact + sketch statistics, and a true Structured Streaming query
  * (SURVEY §2.2 streaming rows + §2.3).
  */
object Events {

  val all: Seq[Q] = Seq(

    Q("q21_json", (s, d) => {
      import s.implicits._
      T.events(s, d)
        .select($"event_type",
          get_json_object($"props", "$.k").cast("int").as("k"))
        .groupBy($"event_type")
        .agg(round(avg($"k"), 6).as("avg_k"), count(lit(1)).as("n"))
        .orderBy($"event_type")
    }, Some("""
      SELECT event_type,
             round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
             count(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type""")),

    Q("q22_time_window", (s, d) => {
      import s.implicits._
      T.events(s, d)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value".cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
        .select($"window.start".as("hour_start"), $"event_type", $"n", $"sum_value")
        .orderBy($"hour_start", $"event_type")
    }, Some("""
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""")),

    Q("q23_sessionize", (s, d) => {
      import s.implicits._
      T.events(s, d)
        .groupBy($"user_id", session_window($"ts", "30 minutes"))
        .agg(count(lit(1)).as("n_events"), round(sum($"value".cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
        .select($"user_id", $"session_window.start".as("session_start"),
          $"n_events", $"sum_value")
        .orderBy($"user_id", $"session_start")
    }, Some("""
      WITH flags AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sess AS (
        SELECT user_id, ts, value,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flags)
      SELECT user_id, min(ts) AS session_start,
             count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
      FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""")),

    Q("q37_exact_stats", (s, d) => {
      import s.implicits._
      T.events(s, d)
        .groupBy($"event_type")
        .agg(
          round(median($"value"), 6).as("med_value"),
          round(stddev($"value"), 4).as("sd_value"),
          min($"value").as("min_value"),
          max($"value").as("max_value"),
          count(lit(1)).as("n"))
        .orderBy($"event_type")
    }, Some("""
      SELECT event_type,
             round(median(value), 6) AS med_value,
             round(stddev(value), 4) AS sd_value,
             min(value) AS min_value,
             max(value) AS max_value,
             count(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // rows-only: sketch aggregates (HLL++ / KLL internals differ from DuckDB)
    Q("q38_approx_sketch", (s, d) => {
      import s.implicits._
      T.events(s, d)
        .groupBy($"event_type")
        .agg(
          approx_count_distinct($"user_id").as("approx_users"),
          percentile_approx($"value", lit(0.5), lit(1000)).as("approx_med"))
        .orderBy($"event_type")
    }, None),

    // True Structured Streaming: file source → windowless agg → memory sink,
    // run to its end by Streams.drain (the reference's drain-on-close).
    Q("q39_stream_agg", (s, d) => {
      import s.implicits._
      // raw on-disk schema (ts stays a nanos long; unused by this agg)
      val schema = T.table(s, d, "events").schema
      // file stream source wants a directory/glob, not a bare file path
      val counts = s.readStream.schema(schema).parquet(s"$d/events.*")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value".cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
      Streams.drain(counts, "complete").orderBy($"event_type")
    }, Some("""
      SELECT event_type, count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // as-of join: each purchase picks up the user's most recent signup
    // at or before it (union + running-last window; one shuffle on key)
    Q("q48_asof_join", (s, d) => {
      import s.implicits._
      val ev = T.events(s, d)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val signups = ev.filter($"event_type" === "signup")
        .select($"user_id", $"ts")
      val epoch = lit("1970-01-01 00:00:00").cast("timestamp")
      AsOf.asofJoin(purchases, signups, "user_id", "ts", "ts", Seq("ts"))
        .select($"event_id", $"user_id", $"ts",
          coalesce($"asof_ts", epoch).as("last_signup_ts"))
        .orderBy($"event_id")
    }, Some("""
      SELECT p.event_id, p.user_id, p.ts,
             coalesce(s.ts, TIMESTAMP '1970-01-01 00:00:00') AS last_signup_ts
      FROM (SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT user_id, ts FROM events
                      WHERE event_type = 'signup') s
        ON p.user_id = s.user_id AND s.ts <= p.ts
      ORDER BY p.event_id"""))
  )
}
