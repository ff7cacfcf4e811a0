package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.{Tables => T}
import graft.streaming.Streams

/** Round-6 twenty-fourth wave: more stream ≡ batch proofs. */
object Round32 {

  val all: Seq[Q] = Seq(

    // the q246 backlog curve fed by a STREAM: the stateful piece (per-
    // order open/close spans over the arriving lineitems) runs as a
    // complete-mode streaming aggregate (chaining a second stateful
    // aggregate behind it would trip Spark's multi-stateful-op
    // correctness check, so the stateless day explode + count runs on
    // the drained sink — q227's shape); hash-equal to the batch oracle
    Q("q251_stream_backlog", (s, d) => {
      import s.implicits._
      val schema = T.table(s, d, "lineitem").schema
      val orders = T.orders(s, d)
        .select($"o_orderkey", to_date($"o_orderdate").as("opened"))
      // stream the lineitems; each joins its (static) order's open date
      val spans = s.readStream.schema(schema).parquet(s"$d/lineitem.*")
        .select($"l_orderkey".as("o_orderkey"),
          to_date($"l_shipdate").as("shipped"))
        .join(orders, "o_orderkey") // stream-static join
        .groupBy($"o_orderkey")
        .agg(min($"opened").as("opened"), max($"shipped").as("closed"))
      Streams.drain(spans, "complete")
        // backwards spans (a lineitem shipped before its order date)
        // would explode a DESCENDING sequence — drop them, like
        // dailyConcurrency's guard and the oracle's empty BETWEEN
        .filter($"opened" <= $"closed")
        .select(explode(sequence($"opened", $"closed")).as("day"))
        .groupBy($"day").agg(count(lit(1)).as("n_open"))
        .orderBy($"day")
    }, Some("""
      WITH sp AS (SELECT o_orderkey,
                         CAST(min(o_orderdate) AS DATE) AS opened,
                         CAST(max(l_shipdate) AS DATE) AS closed
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                  GROUP BY 1),
      cal AS (SELECT unnest(generate_series(
                (SELECT min(opened) FROM sp),
                (SELECT max(closed) FROM sp),
                INTERVAL 1 DAY))::DATE AS day)
      SELECT day, count(*) AS n_open
      FROM cal JOIN sp ON sp.opened <= cal.day AND cal.day <= sp.closed
      GROUP BY 1 ORDER BY day""")),

    // the q242 contract audit as a STREAM: violation rules are
    // conditional sums in complete mode — the ingest gate run
    // continuously instead of per-batch
    Q("q252_stream_expectations", (s, d) => {
      import s.implicits._
      val schema = T.table(s, d, "orders").schema
      val violations = s.readStream.schema(schema).parquet(s"$d/orders.*")
        .agg(count(lit(1)).as("__n"),
          sum(when($"o_custkey".isNull, 1L).otherwise(0L))
            .as("custkey_notnull"),
          sum(when($"o_totalprice" > 450000, 1L).otherwise(0L))
            .as("totalprice_upper"),
          sum(when(!$"o_orderstatus".isin("F", "O", "P"), 1L)
            .otherwise(0L)).as("status_domain"))
      Streams.drain(violations, "complete")
        .selectExpr("""stack(3,
          'custkey_notnull', custkey_notnull,
          'status_domain', status_domain,
          'totalprice_upper', totalprice_upper)
          AS (rule, n_violations)""", "__n")
        .select($"rule", $"n_violations",
          round($"n_violations".cast("double") / $"__n", 6)
            .as("violation_rate"))
        .orderBy($"rule")
    }, Some("""
      WITH n AS (SELECT count(*) AS nn FROM orders),
      r AS (
        SELECT 'custkey_notnull' AS rule,
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v
        FROM orders
        UNION ALL
        SELECT 'status_domain',
               sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                        THEN 1 ELSE 0 END)
        FROM orders
        UNION ALL
        SELECT 'totalprice_upper',
               sum(CASE WHEN o_totalprice > 450000 THEN 1 ELSE 0 END)
        FROM orders)
      SELECT rule, v AS n_violations,
             round(CAST(v AS DOUBLE) / nn, 6) AS violation_rate
      FROM r, n ORDER BY rule"""))
  )
}
