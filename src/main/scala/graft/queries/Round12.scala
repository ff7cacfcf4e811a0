package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TimeSeries}
import graft.sources.{Tables => T}
import graft.streaming.Streams

/** Round-6 fourth wave: OHLC resampling, label-centroid geometry, and
  * time-weighted averages.
  */
object Round12 {

  val all: Seq[Q] = Seq(

    // weekly OHLC per user: the irregular event stream downsampled to a
    // fixed-frequency series in ONE keyed hash aggregate (min_by/max_by
    // over the (ts, tie) struct — no window, no sort, deterministic
    // under ties and retries)
    Q("q190_ohlc", (s, d) => {
      import s.implicits._
      TimeSeries.resampleOhlc(T.events(s, d), "user_id", "ts", "event_id",
          "value", unit = "week")
        .select($"key".as("user_id"), $"period", $"open", $"high",
          $"low", $"close", $"n")
        .orderBy($"user_id", $"period")
    }, Some("""
      SELECT user_id, date_trunc('week', ts) AS period,
             arg_min(value, ts) AS open, max(value) AS high,
             min(value) AS low, arg_max(value, ts) AS close,
             count(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY user_id, period""")),

    // label-centroid cosine matrix: which classes' embeddings overlap —
    // centroids from one posexplode + (label, pos) aggregate, pairwise
    // step over the |labels|^2 metadata-sized frame
    Q("q191_centroid_sim", (s, d) => {
      import s.implicits._
      Similarity.centroidSimilarity(T.embeddings(s, d), "label",
          "embedding")
        .orderBy($"label_a", $"label_b")
    }, Some("""
      WITH c AS (SELECT label, i, avg(embedding[CAST(i AS INT)]::DOUBLE) AS m
                 FROM embeddings,
                      (SELECT unnest(generate_series(1, 64)) AS i) s
                 GROUP BY 1, 2),
      v AS (SELECT label, list(m ORDER BY i) AS c FROM c GROUP BY 1)
      SELECT a.label AS label_a, b.label AS label_b, CAST(64 AS INT) AS dim,
             round(
               list_sum(list_transform(generate_series(1, 64),
                 i -> a.c[i] * b.c[i]))
               / (sqrt(list_sum(list_transform(generate_series(1, 64),
                    i -> a.c[i] * a.c[i])))
                  * sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> b.c[i] * b.c[i])))), 6) AS cos
      FROM v a JOIN v b ON a.label < b.label
      ORDER BY label_a, label_b""")),

    // time-weighted average value per user: each value weighted by its
    // holding duration (integer microseconds, exact) — the fair summary
    // of an irregular series; one keyed window + one aggregate
    Q("q192_twap", (s, d) => {
      import s.implicits._
      TimeSeries.twapPerKey(T.events(s, d), "user_id", "ts", "value")
        .orderBy($"key")
    }, Some("""
      WITH x AS (SELECT user_id AS key, epoch_us(ts) AS us, value AS v
                 FROM events),
      d AS (SELECT key, v,
                   lead(us) OVER (PARTITION BY key ORDER BY us) - us AS dur
            FROM x)
      SELECT key, count(*) AS n_events,
             CAST(sum(dur) AS DOUBLE) / 1e6 AS span_seconds,
             round(sum(v * dur) / sum(dur), 6) AS twap
      FROM d GROUP BY 1 HAVING count(*) >= 2 ORDER BY key""")),

    // the SAME OHLC operator shape running as a stream: file source →
    // keyed min_by/max_by aggregate → complete-mode memory sink drained
    // to its end — one downsampling definition serving batch
    // (q190) and streaming ingestion alike
    Q("q193_stream_ohlc", (s, d) => {
      import s.implicits._
      val schema = T.table(s, d, "events").schema
      val stream = T.withEventTs(
        s.readStream.schema(schema).parquet(s"$d/events.*"))
      val bars = stream
        .groupBy($"user_id", date_trunc("week", $"ts").as("period"))
        .agg(min_by($"value", struct($"ts", $"event_id")).as("open"),
          max($"value").as("high"), min($"value").as("low"),
          max_by($"value", struct($"ts", $"event_id")).as("close"),
          count(lit(1)).as("n"))
      Streams.drain(bars, "complete").orderBy($"user_id", $"period")
    }, Some("""
      SELECT user_id, date_trunc('week', ts) AS period,
             arg_min(value, ts) AS open, max(value) AS high,
             min(value) AS low, arg_max(value, ts) AS close,
             count(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY user_id, period""")),

    // near-dup threshold sweep: exact-Jaccard pair counts bucketed by
    // similarity band — the tuning read-out that says where a dedup
    // threshold should sit; pair space = the q29 inverted-index join
    // (shared shingles drive it), one extra histogram aggregate
    Q("q194_threshold_sweep", (s, d) => {
      import s.implicits._
      Dedup.shingleJaccardPairs(T.documents(s, d), "doc_id", "text", 0.05)
        .groupBy(floor($"sim" * 10).cast("int").as("band"))
        .agg(count(lit(1)).as("n_pairs"),
          round(min($"sim"), 6).as("min_sim"),
          round(max($"sim"), 6).as("max_sim"))
        .orderBy($"band")
    }, Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents),
      sh AS (SELECT doc_id,
                    list_distinct(list_transform(
                      generate_series(1, greatest(len(ws) - 2, 0)),
                      i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS s
             FROM w),
      jsz AS (SELECT doc_id, len(s) AS n FROM sh),
      jpost AS (SELECT doc_id, unnest(s) AS g FROM sh),
      jcom AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
               FROM jpost a JOIN jpost b ON a.g = b.g AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
      p AS (SELECT round(c * 1.0 / (sa.n + sb.n - c), 6) AS sim
            FROM jcom JOIN jsz sa ON sa.doc_id = a_id
                      JOIN jsz sb ON sb.doc_id = b_id),
      f AS (SELECT sim FROM p WHERE sim >= 0.05)
      SELECT CAST(floor(sim * 10) AS INT) AS band, count(*) AS n_pairs,
             round(min(sim), 6) AS min_sim, round(max(sim), 6) AS max_sim
      FROM f GROUP BY 1 ORDER BY band""")),

    // semi-structured extraction: the JSON props column parsed in-plan
    // (get_json_object is codegen'd — no UDF), aggregated per event
    // type — the log-analytics staple over a real JSON payload column
    Q("q195_json_props", (s, d) => {
      import s.implicits._
      T.events(s, d)
        .select($"event_type",
          get_json_object($"props", "$.k").cast("int").as("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), count($"k").as("n_with_k"),
          sum($"k").as("sum_k"),
          round(avg($"k"), 6).as("avg_k"),
          countDistinct($"k").as("distinct_k"))
        .orderBy($"event_type")
    }, Some("""
      WITH t AS (SELECT event_type,
                        CAST(json_extract_string(props, '$.k') AS INT) AS k
                 FROM events)
      SELECT event_type, count(*) AS n, count(k) AS n_with_k,
             sum(k) AS sum_k, round(avg(k), 6) AS avg_k,
             count(DISTINCT k) AS distinct_k
      FROM t GROUP BY 1 ORDER BY event_type"""))
  )
}
