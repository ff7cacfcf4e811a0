package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Metrics, Mixing}
import graft.sources.{Tables => T}
import graft.streaming.Streams

/** Round-6 twenty-ninth wave: Lorenz curve, streaming heavy hitters,
  * temporal embargo split.
  */
object Round37 {

  val all: Seq[Q] = Seq(

    // the distribution behind q254's Gini scalar: cumulative spend
    // share of each customer decile per segment — decile membership
    // from the explicit floor formula (ntile's remainder rules are a
    // portability hazard), mass in exact decimal
    Q("q269_lorenz", (s, d) => {
      import s.implicits._
      val spend = T.orders(s, d)
        .join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .groupBy($"c_custkey", $"c_mktsegment")
        .agg(sum($"o_totalprice".cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("spend"))
      Metrics.lorenzDeciles(spend, "c_mktsegment", "spend", "c_custkey")
        .orderBy($"c_mktsegment", $"decile")
    }, Some("""
      WITH sp AS (SELECT c_custkey, c_mktsegment,
                    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DECIMAL(18,2)) AS spend
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  GROUP BY 1, 2),
      r AS (SELECT c_mktsegment, spend,
              row_number() OVER (PARTITION BY c_mktsegment
                ORDER BY spend, c_custkey) AS i,
              count(*) OVER (PARTITION BY c_mktsegment) AS n
            FROM sp),
      dec AS (SELECT c_mktsegment,
                CAST((i - 1) * 10 // n + 1 AS INTEGER) AS decile,
                spend
              FROM r),
      pd AS (SELECT c_mktsegment, decile, count(*) AS n_members,
               CAST(sum(spend) AS DECIMAL(28,2)) AS m
             FROM dec GROUP BY 1, 2),
      c AS (SELECT c_mktsegment, decile, n_members,
              CAST(sum(m) OVER (PARTITION BY c_mktsegment ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(28,2)) AS cum,
              CAST(sum(m) OVER (PARTITION BY c_mktsegment)
                AS DECIMAL(28,2)) AS tot
            FROM pd)
      SELECT c_mktsegment, decile, n_members,
             round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6)
               AS cum_share
      FROM c WHERE tot > 0
      ORDER BY c_mktsegment, decile""")),

    // heavy hitters ON A STREAM: the exact top-25 most-ordered parts
    // maintained as a complete-mode count over arriving lineitems,
    // top-k cut on the drained sink — stream ≡ batch, deterministic
    // (count desc, key asc) tie-break
    Q("q270_stream_heavy_hitters", (s, d) => {
      import s.implicits._
      val schema = T.table(s, d, "lineitem").schema
      val counts = s.readStream.schema(schema).parquet(s"$d/lineitem.*")
        .groupBy($"l_partkey")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("qty"))
      Streams.drain(counts, "complete").orderBy($"n".desc, $"l_partkey".asc).limit(25)
    }, Some("""
      SELECT l_partkey, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
               AS DECIMAL(18,2)) AS qty
      FROM lineitem GROUP BY 1
      ORDER BY n DESC, l_partkey LIMIT 25""")),

    // leakage-safe temporal split: train ≤ Jan 18, a 4-day embargo
    // window DROPPED, test strictly after Jan 22 — the purging control
    // that keeps lagged features from leaking labels across the
    // boundary; pure map-side tag, zero shuffles before the audit agg
    Q("q271_embargo_split", (s, d) => {
      import s.implicits._
      Mixing.embargoSplit(T.events(s, d), "ts", "2024-01-18",
          embargoDays = 4)
        .groupBy($"split", $"event_type")
        .agg(count(lit(1)).as("n"),
          round(sum($"value".cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_value"))
        .orderBy($"split", $"event_type")
    }, Some("""
      WITH tagged AS (SELECT event_type, value,
                        CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-18'
                             THEN 'train'
                             WHEN CAST(ts AS DATE) >
                                  DATE '2024-01-18' + INTERVAL 4 DAY
                             THEN 'test' END AS split
                      FROM events)
      SELECT split, event_type, count(*) AS n,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_value
      FROM tagged WHERE split IS NOT NULL
      GROUP BY 1, 2 ORDER BY split, event_type"""))
  )
}
