package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TDigestAgg
import graft.operators.Quantiles
import graft.sources.{Tables => T}
import graft.streaming.Streams

/** Round-6 fourteenth wave: streaming drift monitor, t-digest
  * quantiles, period-over-period movers.
  */
object Round22 {

  val all: Seq[Q] = Seq(

    // q223's PSI as a STREAMING monitor: baseline deciles from the
    // static pre-cutoff orders (bounded 1-row metadata, inlined as
    // literals), the post-cutoff stream binned in complete mode, PSI
    // folded after the drain — the oracle is the same batch
    // replay, so the hash match proves stream ≡ batch for the monitor
    Q("q227_stream_psi", (s, d) => {
      import s.implicits._
      val o = T.orders(s, d)
      val cutoff = lit("1999-01-01").cast("timestamp")
      val ps = (1 until 10).map(_.toDouble / 10)
      val bRow = Quantiles.exactQuantiles(
        o.filter($"o_orderdate" < cutoff), Seq(), "o_totalprice", ps)
        .drop("__g").collect()(0)
      val bounds = (0 until 9).map(bRow.getDouble) // bounded: 9 doubles
      val v = $"o_totalprice".cast("double")
      val bucket = bounds.foldLeft(lit(1))((acc, b) =>
        acc + (v > lit(b)).cast("int"))
      val schema = o.schema
      val binned = s.readStream.schema(schema).parquet(s"$d/orders.*")
        .filter($"o_orderdate" >= cutoff)
        .groupBy(bucket.as("bucket")).agg(count(lit(1)).as("n_b"))
      val cntB = Streams.drain(binned, "complete")
      val cntA = o.filter($"o_orderdate" < cutoff)
        .groupBy(bucket.as("bucket")).agg(count(lit(1)).as("n_a"))
      val spine = s.range(1, 11).select($"id".cast("int").as("bucket"))
      val joined = spine
        .join(cntA, Seq("bucket"), "left")
        .join(cntB, Seq("bucket"), "left")
        .na.fill(0L, Seq("n_a", "n_b"))
      val tot = joined.agg(sum($"n_a").as("__ta"), sum($"n_b").as("__tb"))
      val withP = joined.crossJoin(broadcast(tot))
        .withColumn("p_a", $"n_a".cast("double") / $"__ta")
        .withColumn("p_b", $"n_b".cast("double") / $"__tb")
        .withColumn("__contrib", when($"n_a" > 0 && $"n_b" > 0,
          ($"p_b" - $"p_a") * log($"p_b" / $"p_a")))
      val total = withP.agg(
          collect_list(struct($"bucket", $"__contrib")).as("__cs"),
          max(when($"__contrib".isNull, 1).otherwise(0)).as("__anyNull"))
        .select(when($"__anyNull" === 0,
          aggregate(array_sort($"__cs"), lit(0.0),
            (acc, x) => acc + x.getField("__contrib"))).as("__psi"))
      withP.crossJoin(broadcast(total))
        .select($"bucket", $"n_a", $"n_b",
          round($"p_a", 6).as("p_a"), round($"p_b", 6).as("p_b"),
          round($"__contrib", 6).as("contrib"),
          round($"__psi", 6).as("psi"))
        .orderBy($"bucket")
    }, Some("""
      WITH a AS (SELECT o_totalprice AS v FROM orders
                 WHERE o_orderdate < TIMESTAMP '1999-01-01'),
      b AS (SELECT o_totalprice AS v FROM orders
            WHERE o_orderdate >= TIMESTAMP '1999-01-01'),
      bd AS (SELECT quantile_cont(v, 0.1) AS q1, quantile_cont(v, 0.2) AS q2,
                    quantile_cont(v, 0.3) AS q3, quantile_cont(v, 0.4) AS q4,
                    quantile_cont(v, 0.5) AS q5, quantile_cont(v, 0.6) AS q6,
                    quantile_cont(v, 0.7) AS q7, quantile_cont(v, 0.8) AS q8,
                    quantile_cont(v, 0.9) AS q9
             FROM a),
      ca AS (SELECT 1 + (v > q1)::INT + (v > q2)::INT + (v > q3)::INT
                      + (v > q4)::INT + (v > q5)::INT + (v > q6)::INT
                      + (v > q7)::INT + (v > q8)::INT + (v > q9)::INT
                      AS bucket, count(*) AS n_a
             FROM a, bd GROUP BY 1),
      cb AS (SELECT 1 + (v > q1)::INT + (v > q2)::INT + (v > q3)::INT
                      + (v > q4)::INT + (v > q5)::INT + (v > q6)::INT
                      + (v > q7)::INT + (v > q8)::INT + (v > q9)::INT
                      AS bucket, count(*) AS n_b
             FROM b, bd GROUP BY 1),
      sp AS (SELECT unnest(generate_series(1, 10)) AS bucket),
      j AS (SELECT sp.bucket, coalesce(ca.n_a, 0) AS n_a,
                   coalesce(cb.n_b, 0) AS n_b
            FROM sp LEFT JOIN ca ON ca.bucket = sp.bucket
                    LEFT JOIN cb ON cb.bucket = sp.bucket),
      tt AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j),
      wp AS (SELECT bucket, n_a, n_b,
                    CAST(n_a AS DOUBLE) / ta AS p_a,
                    CAST(n_b AS DOUBLE) / tb AS p_b,
                    CASE WHEN n_a > 0 AND n_b > 0 THEN
                      (CAST(n_b AS DOUBLE) / tb - CAST(n_a AS DOUBLE) / ta)
                      * ln((CAST(n_b AS DOUBLE) / tb)
                           / (CAST(n_a AS DOUBLE) / ta)) END AS contrib
             FROM j, tt),
      ft AS (SELECT CASE WHEN sum(CASE WHEN contrib IS NULL THEN 1
                                       ELSE 0 END) = 0
                    THEN list_reduce(
                      list_prepend(0.0, list(contrib ORDER BY bucket)),
                      (acc, x) -> acc + x) END AS psi
             FROM wp)
      SELECT bucket, n_a, n_b, round(p_a, 6) AS p_a, round(p_b, 6) AS p_b,
             round(contrib, 6) AS contrib, round(psi, 6) AS psi
      FROM wp, ft ORDER BY bucket""")),

    // mergeable quantile sketches: per-priority p50/p95/p99 of order
    // value from ONE t-digest aggregate — approximate by design
    // (centroids depend mildly on merge order), so rows-only here and
    // pinned by TDigestAccuracySpec's error bounds vs exact quantiles
    Q("q228_tdigest", (s, d) => {
      import s.implicits._
      val qUdf = udf((b: Array[Byte], q: Double) => TDigestAgg.quantile(b, q))
      T.orders(s, d)
        .groupBy($"o_orderpriority")
        .agg(TDigestAgg.sketch($"o_totalprice".cast("double")).as("__dig"),
          count(lit(1)).as("n"))
        .select($"o_orderpriority", $"n",
          round(qUdf($"__dig", lit(0.5)), 2).as("p50"),
          round(qUdf($"__dig", lit(0.95)), 2).as("p95"),
          round(qUdf($"__dig", lit(0.99)), 2).as("p99"))
        .orderBy($"o_orderpriority")
    }, None),

    // period-over-period movers: supplier revenue rank delta between
    // the last two full years — who is rising? decimal-exact revenue,
    // rank by (revenue desc, key) so the order is total
    Q("q229_top_movers", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val li = T.lineitem(s, d)
        .filter(year($"l_shipdate").isin(1999, 2000))
        .groupBy(year($"l_shipdate").as("yr"), $"l_suppkey")
        .agg(sum($"l_extendedprice".cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("rev"))
      val w = Window.partitionBy($"yr").orderBy($"rev".desc, $"l_suppkey")
      val ranked = li.withColumn("rnk", rank().over(w))
      val a = ranked.filter($"yr" === 1999)
        .select($"l_suppkey", $"rev".as("rev_1999"), $"rnk".as("rnk_1999"))
      val b = ranked.filter($"yr" === 2000)
        .select($"l_suppkey", $"rev".as("rev_2000"), $"rnk".as("rnk_2000"))
      a.join(b, "l_suppkey")
        .select($"l_suppkey", $"rev_1999", $"rev_2000",
          $"rnk_1999", $"rnk_2000",
          ($"rnk_1999" - $"rnk_2000").as("rank_gain"))
        .orderBy($"rank_gain".desc, $"l_suppkey").limit(25)
    }, Some("""
      WITH li AS (SELECT CAST(year(l_shipdate) AS INT) AS yr, l_suppkey,
                         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                           AS DECIMAL(18,2)) AS rev
                  FROM lineitem WHERE year(l_shipdate) IN (1999, 2000)
                  GROUP BY 1, 2),
      r AS (SELECT yr, l_suppkey, rev,
                   rank() OVER (PARTITION BY yr
                                ORDER BY rev DESC, l_suppkey) AS rnk
            FROM li)
      SELECT a.l_suppkey, a.rev AS rev_1999, b.rev AS rev_2000,
             a.rnk AS rnk_1999, b.rnk AS rnk_2000,
             a.rnk - b.rnk AS rank_gain
      FROM r a JOIN r b ON a.l_suppkey = b.l_suppkey
      WHERE a.yr = 1999 AND b.yr = 2000
      ORDER BY rank_gain DESC, a.l_suppkey LIMIT 25"""))
  )
}
