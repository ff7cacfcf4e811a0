package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Metrics, Mixing, TimeSeries}
import graft.sources.{Tables => T}
import graft.streaming.Streams

/** Round-6 twenty-eighth wave: streaming deterministic sampling,
  * decision-stump induction, Markov absorption probabilities.
  */
object Round36 {

  val all: Seq[Q] = Seq(

    // the deterministic-sampling contract PROVED ON A STREAM: because
    // admission is a pure multiplicative-hash filter (no RNG, no
    // state), the same rows are kept whether the corpus arrives as a
    // batch or as micro-batches — the property that makes sampled
    // pipelines replayable; stateless filter + one complete-mode agg
    Q("q266_stream_sample", (s, d) => {
      import s.implicits._
      val schema = T.table(s, d, "documents").schema
      val stream = s.readStream.schema(schema).parquet(s"$d/documents.*")
      val kept = Mixing.stratifiedSample(stream, "lang", "doc_id",
          Map("en" -> 0.3, "zh" -> 0.6), defaultFraction = 0.05)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("chars"))
      Streams.drain(kept, "complete").orderBy($"lang")
    }, Some("""
      SELECT lang, count(*) AS n_kept, sum(n_chars) AS chars
      FROM documents
      WHERE ((doc_id % 2147483648) * 2246822519) % 1000 <
            CASE WHEN lang = 'en' THEN 300
                 WHEN lang = 'zh' THEN 600 ELSE 50 END
      GROUP BY 1 ORDER BY lang""")),

    // feature screen per source: the single n_chars threshold that
    // best separates English documents — CART's 1-D Gini split, counts
    // in exact long arithmetic, argmax deterministic (gain desc,
    // threshold asc), one keyed partitioning end to end
    Q("q267_decision_stump", (s, d) => {
      import s.implicits._
      val base = T.documents(s, d).select($"source", $"n_chars",
        when($"lang" === "en", 1L).otherwise(0L).as("is_en"))
      Metrics.decisionStump(base, "source", "n_chars", "is_en")
        .orderBy($"source")
    }, Some("""
      WITH base AS (SELECT source, n_chars AS f,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                    FROM documents),
      pv AS (SELECT source, f, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS p
             FROM base GROUP BY 1, 2),
      cum AS (SELECT source, f,
                sum(n) OVER wc AS nl, sum(p) OVER wc AS pl,
                sum(n) OVER wg AS nt, sum(p) OVER wg AS pt
              FROM pv
              WINDOW wc AS (PARTITION BY source ORDER BY f
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              wg AS (PARTITION BY source)),
      sc AS (SELECT source, f, nl, nt, pl, pt,
               ((nl - pl) * (nl - pl) + pl * pl) * (nt - nl)
               + (((nt - nl) - (pt - pl)) * ((nt - nl) - (pt - pl))
                  + (pt - pl) * (pt - pl)) * nl AS score
             FROM cum WHERE nl < nt),
      g AS (SELECT source, f, nl, nt,
              CAST(score AS DOUBLE)
                / (CAST(nl AS DOUBLE) * CAST(nt - nl AS DOUBLE)
                   * CAST(nt AS DOUBLE))
              - CAST((nt - pt) * (nt - pt) + pt * pt AS DOUBLE)
                / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)) AS gain
            FROM sc),
      r AS (SELECT source, f, nl, nt, gain,
              row_number() OVER (PARTITION BY source
                ORDER BY gain DESC, f) AS rn
            FROM g)
      SELECT source, nt AS n, f AS threshold, nl AS n_left,
             round(gain, 6) AS gain
      FROM r WHERE rn = 1 ORDER BY source""")),

    // Markov funnel: probability each event state reaches 'purchase'
    // within 3 transitions — chain estimated from per-user event
    // sequences (deterministic ts+id order), 3 in-plan power-iteration
    // rounds over the |states|²-sized table (q130's discipline)
    Q("q268_markov_absorb", (s, d) => {
      import s.implicits._
      TimeSeries.markovAbsorption(
          T.events(s, d).select($"user_id", $"ts", $"event_id",
            $"event_type"),
          keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
          stateCol = "event_type", absorbState = "purchase", steps = 3)
        .orderBy($"state")
    }, Some("""
      WITH ord AS (SELECT user_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS i
                   FROM events),
      tr AS (SELECT a.event_type AS f, b.event_type AS t2,
                    count(*) AS cnt
             FROM ord a JOIN ord b
               ON b.user_id = a.user_id AND b.i = a.i + 1
             GROUP BY 1, 2),
      tot AS (SELECT f, CAST(sum(cnt) AS BIGINT) AS tc
              FROM tr GROUP BY 1),
      T AS (SELECT tr.f, t2, CAST(cnt AS DOUBLE) / CAST(tc AS DOUBLE)
                     AS p
            FROM tr JOIN tot ON tr.f = tot.f),
      states AS (SELECT DISTINCT f AS s FROM T WHERE f <> 'purchase'),
      pd AS (SELECT f AS s, p FROM T WHERE t2 = 'purchase'),
      q1 AS (SELECT st.s, coalesce(pd.p, 0.0) AS q
             FROM states st LEFT JOIN pd ON pd.s = st.s),
      c2 AS (SELECT T.f AS s, sum(T.p * q1.q) AS c
             FROM T JOIN q1 ON T.t2 = q1.s
             WHERE T.t2 <> 'purchase' GROUP BY 1),
      q2 AS (SELECT st.s, coalesce(pd.p, 0.0) + coalesce(c2.c, 0.0) AS q
             FROM states st LEFT JOIN pd ON pd.s = st.s
             LEFT JOIN c2 ON c2.s = st.s),
      c3 AS (SELECT T.f AS s, sum(T.p * q2.q) AS c
             FROM T JOIN q2 ON T.t2 = q2.s
             WHERE T.t2 <> 'purchase' GROUP BY 1),
      q3 AS (SELECT st.s, coalesce(pd.p, 0.0) + coalesce(c3.c, 0.0) AS q
             FROM states st LEFT JOIN pd ON pd.s = st.s
             LEFT JOIN c3 ON c3.s = st.s)
      SELECT q3.s AS state, tot.tc AS n_out, round(q3.q, 6) AS p_absorb
      FROM q3 JOIN tot ON tot.f = q3.s
      ORDER BY state"""))
  )
}
