package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Hypothesis
import graft.sources.{Tables => T}
import graft.streaming.Streams

/** Round-7 fourth wave: Jonckheere–Terpstra ordered-alternative test (the
  * dose-response companion to q308's Kruskal–Wallis), Fellegi–Sunter
  * record-linkage scoring with exact micro-weights, l-diversity privacy
  * audit (next to q284's k-anonymity), and a Johnson–Lindenstrauss ±1
  * projection whose distance-preservation audit is exact-integer end to
  * end.
  */
object Round58 {

  val all: Seq[Q] = Seq(

    // Jonckheere–Terpstra: does order value trend across the five
    // priority levels within each region? JT = Σ_{i<j} U_ij computed
    // LINEARLY: per-(region, value) grid completion over the 5 groups,
    // one strictly-less cumulative per (region, group), one
    // preceding-groups cumulative per (region, value) — doubled
    // contributions 2U = c·(2A + B) stay exact longs; z uses the
    // standard no-tie variance (values are cents, ties are rare and
    // handled exactly in JT itself via the ½-tie term).
    Q("q324_jonckheere", (s, d) => {
      import s.implicits._
      val pool = T.orders(s, d)
        .join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(T.nation(s, d), $"c_nationkey" === $"n_nationkey")
        .join(T.region(s, d), $"n_regionkey" === $"r_regionkey")
        .select($"r_name", $"o_orderpriority".as("g"),
          $"o_totalprice".cast("decimal(18,2)").as("x"))
      // examined r11: counts has three consumers, but its exchange is
      // AQE-reused at runtime — an eager barrier measured SLOWER
      // (interleaved min-of-3: 4.20 s → 5.21 s), so the shared
      // aggregate stays an implicit reused exchange
      val counts = pool.groupBy($"r_name", $"g", $"x")
        .agg(count(lit(1)).as("c"))
      val vals = counts.select($"r_name", $"x").distinct()
      val groups = counts.select($"g").distinct()
      val grid = vals.crossJoin(broadcast(groups))
        .join(counts, Seq("r_name", "g", "x"), "left")
        .withColumn("c0", coalesce($"c", lit(0L)))
      // strictly-less cumulative per (region, group) over the grid via
      // the range-partitioned grouped scan — the grid is values×groups
      // (data-sized), so a 25-partition window would serialize it;
      // wPrev stays a window (its key (region, value) is high-card,
      // ≤5 rows per partition)
      val wPrev = Window.partitionBy($"r_name", $"x").orderBy($"g")
        .rowsBetween(Window.unboundedPreceding, -1)
      val contrib = graft.operators.Scale
        .groupedPrefixSum(grid, Seq("r_name", "g"), "x", "c0", "__less",
          inclusive = false)
        .withColumn("__a", coalesce(sum($"__less").over(wPrev), lit(0L)))
        .withColumn("__b", coalesce(sum($"c0").over(wPrev), lit(0L)))
        .withColumn("__jt2", $"c0" * ($"__a" * 2 + $"__b"))
      val jt2 = contrib.groupBy($"r_name").agg(sum($"__jt2").as("__jt2"))
      val sizes = counts.groupBy($"r_name", $"g").agg(sum($"c").as("__ni"))
        .groupBy($"r_name").agg(
          sum($"__ni").as("n"),
          sum($"__ni" * $"__ni").as("__sn2"),
          sum($"__ni" * $"__ni" * ($"__ni" * 2 + 3)).as("__sn23"))
      val j = jt2.join(sizes, "r_name")
      val nD = $"n".cast("double")
      val jt = $"__jt2".cast("double") / 2.0
      val mean = (nD * nD - $"__sn2".cast("double")) / 4.0
      val varJ = (nD * nD * (nD * 2.0 + 3.0)
        - $"__sn23".cast("double")) / 72.0
      j.filter(varJ > 0)
        .select($"r_name", $"n", jt.as("jt"),
          round((jt - mean) / sqrt(varJ), 6).as("z"))
        .orderBy($"r_name")
    }, Some("""
      WITH pool AS (SELECT r_name, o_orderpriority AS g,
              CAST(o_totalprice AS DECIMAL(18,2)) AS x
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey),
      counts AS (SELECT r_name, g, x, count(*) AS c
                 FROM pool GROUP BY 1, 2, 3),
      vals AS (SELECT DISTINCT r_name, x FROM counts),
      groups_ AS (SELECT DISTINCT g FROM counts),
      grid AS (SELECT v.r_name, gg.g, v.x,
                 coalesce(c, 0) AS c0
               FROM vals v CROSS JOIN groups_ gg
               LEFT JOIN counts ON counts.r_name = v.r_name
                 AND counts.g = gg.g AND counts.x = v.x),
      le AS (SELECT r_name, g, x, c0,
               coalesce(sum(c0) OVER (PARTITION BY r_name, g ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS less_
             FROM grid),
      pv AS (SELECT r_name, g, x, c0,
               coalesce(sum(less_) OVER w, 0) AS a,
               coalesce(sum(c0) OVER w, 0) AS b
             FROM le
             WINDOW w AS (PARTITION BY r_name, x ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      jt_ AS (SELECT r_name,
                CAST(sum(c0 * (a * 2 + b)) AS BIGINT) AS jt2
              FROM pv GROUP BY 1),
      sz AS (SELECT r_name, g, CAST(sum(c) AS BIGINT) AS ni
             FROM counts GROUP BY 1, 2),
      szz AS (SELECT r_name, CAST(sum(ni) AS BIGINT) AS n,
                CAST(sum(ni * ni) AS BIGINT) AS sn2,
                CAST(sum(ni * ni * (ni * 2 + 3)) AS BIGINT) AS sn23
              FROM sz GROUP BY 1)
      SELECT jt_.r_name, n,
             CAST(jt2 AS DOUBLE) / 2.0 AS jt,
             round((CAST(jt2 AS DOUBLE) / 2.0
                    - (CAST(n AS DOUBLE) * n - CAST(sn2 AS DOUBLE)) / 4.0)
                   / sqrt((CAST(n AS DOUBLE) * n
                           * (CAST(n AS DOUBLE) * 2.0 + 3.0)
                           - CAST(sn23 AS DOUBLE)) / 72.0), 6) AS z
      FROM jt_ JOIN szz USING (r_name)
      WHERE (CAST(n AS DOUBLE) * n * (CAST(n AS DOUBLE) * 2.0 + 3.0)
             - CAST(sn23 AS DOUBLE)) / 72.0 > 0
      ORDER BY r_name""")),

    // Fellegi–Sunter record-linkage scoring over sorted-neighborhood
    // candidates (blocked by nation, acctbal-sorted, window 2). The three
    // field weights are EXACT micro-scaled integers (ln(m/u)·10⁶ as
    // literals — no data-dependent transcendental ever crosses the
    // engines), so scores sum exactly and the match/possible/non-match
    // classification is integer-threshold stable under any partitioning.
    Q("q325_fellegi_sunter", (s, d) => {
      import s.implicits._
      // m/u: segment .95/.2 → agree +1558145, disagree −2772589
      //      |Δbal|<10 .9/.05 → +2890372, −2251292
      //      same bal sign .7/.5 → +336472, −510826
      val w = Window.partitionBy($"c_nationkey")
        .orderBy($"c_acctbal", $"c_custkey")
      val base = T.customer(s, d).select($"c_nationkey", $"c_custkey",
        $"c_mktsegment", $"c_acctbal")
      val cand = base
        .withColumn("id_b", lead($"c_custkey", 1).over(w))
        .withColumn("seg_b", lead($"c_mktsegment", 1).over(w))
        .withColumn("bal_b", lead($"c_acctbal", 1).over(w))
        .filter($"id_b".isNotNull)
      val score = cand.withColumn("__score",
        when($"c_mktsegment" === $"seg_b", 1558145L).otherwise(-2772589L)
          + when(abs($"c_acctbal" - $"bal_b") < 10.0, 2890372L)
            .otherwise(-2251292L)
          + when(($"c_acctbal" >= 0) === ($"bal_b" >= 0), 336472L)
            .otherwise(-510826L))
      score.join(T.nation(s, d), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name").agg(
          count(lit(1)).as("n_pairs"),
          sum(($"__score" >= 2000000L).cast("long")).as("n_match"),
          sum(($"__score" < 2000000L && $"__score" > -2000000L)
            .cast("long")).as("n_possible"),
          sum(($"__score" <= -2000000L).cast("long")).as("n_nonmatch"),
          round(sum($"__score").cast("double")
            / (count(lit(1)).cast("double") * 1e6), 6).as("avg_score"))
        .orderBy($"n_name")
    }, Some("""
      WITH cand AS (SELECT c_nationkey, c_custkey, c_mktsegment,
              c_acctbal,
              lead(c_custkey) OVER w AS id_b,
              lead(c_mktsegment) OVER w AS seg_b,
              lead(c_acctbal) OVER w AS bal_b
            FROM customer
            WINDOW w AS (PARTITION BY c_nationkey
              ORDER BY c_acctbal, c_custkey)),
      sc AS (SELECT c_nationkey,
               (CASE WHEN c_mktsegment = seg_b THEN 1558145
                     ELSE -2772589 END
                + CASE WHEN abs(c_acctbal - bal_b) < 10.0 THEN 2890372
                       ELSE -2251292 END
                + CASE WHEN (c_acctbal >= 0) = (bal_b >= 0) THEN 336472
                       ELSE -510826 END) AS score
             FROM cand WHERE id_b IS NOT NULL)
      SELECT n_name, count(*) AS n_pairs,
             CAST(sum(CASE WHEN score >= 2000000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_match,
             CAST(sum(CASE WHEN score < 2000000 AND score > -2000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_possible,
             CAST(sum(CASE WHEN score <= -2000000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_nonmatch,
             round(CAST(sum(score) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 1e6), 6) AS avg_score
      FROM sc JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1 ORDER BY 1""")),

    // l-diversity audit: per quasi-identifier class (segment × nation),
    // how many distinct sensitive values (acctbal-thousand bucket) does
    // each class carry? The privacy companion to q284's k-anonymity —
    // classes below l=3 are re-identification risks. Exact integers
    // throughout; one (class, sensitive) reduce then a class reduce.
    Q("q326_l_diversity", (s, d) => {
      import s.implicits._
      val classes = T.customer(s, d)
        .join(T.nation(s, d), $"c_nationkey" === $"n_nationkey")
        .select($"c_mktsegment", $"n_name",
          floor($"c_acctbal" / 1000.0).cast("long").as("__sens"))
      classes.groupBy($"c_mktsegment", $"n_name", $"__sens")
        .agg(count(lit(1)).as("__nv"))
        .groupBy($"c_mktsegment", $"n_name").agg(
          sum($"__nv").as("n_rows"),
          count(lit(1)).as("l_distinct"),
          max($"__nv").as("modal_count"))
        .select($"c_mktsegment", $"n_name", $"n_rows", $"l_distinct",
          $"modal_count",
          ($"l_distinct" >= 3).cast("long").as("diverse_ok"))
        .orderBy($"c_mktsegment", $"n_name")
    }, Some("""
      WITH cl AS (SELECT c_mktsegment, n_name,
              CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS sens
            FROM customer JOIN nation ON c_nationkey = n_nationkey),
      sv AS (SELECT c_mktsegment, n_name, sens, count(*) AS nv
             FROM cl GROUP BY 1, 2, 3)
      SELECT c_mktsegment, n_name,
             CAST(sum(nv) AS BIGINT) AS n_rows,
             count(*) AS l_distinct,
             CAST(max(nv) AS BIGINT) AS modal_count,
             CAST(CASE WHEN count(*) >= 3 THEN 1 ELSE 0 END AS BIGINT)
               AS diverse_ok
      FROM sv GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Johnson–Lindenstrauss ±1 projection, audited exactly: embeddings
    // are snapped to integer milli-codes (round half-away in both
    // engines), the 64×16 sign table derives from md5 parity (identical
    // string hash both sides), so projections and both distance sums are
    // EXACT integers — the k·E[‖Δp‖²] = 16·‖Δc‖² identity is checked with
    // one double division. Sign table broadcasts; the projection is one
    // partial-aggregated (vec, j) reduce — nothing quadratic in corpus.
    Q("q327_jl_projection", (s, d) => {
      import s.implicits._
      val emb = T.embeddings(s, d)
      val codes = emb
        .select($"vec_id", posexplode($"embedding").as(Seq("dd", "xv")))
        .select($"vec_id", ($"dd" + 1).cast("long").as("dd"),
          round($"xv".cast("double") * 1000.0, 0).cast("long").as("code"))
      val signs = T.nation(s, d).sparkSession.range(1, 65)
        .select($"id".as("dd"))
        .crossJoin(T.nation(s, d).sparkSession.range(1, 17)
          .select($"id".as("jj")))
        .select($"dd", $"jj",
          (lit(1L) - lit(2L) * (ascii(substring(md5(concat(
            $"dd".cast("string"), lit("_"), $"jj".cast("string"))),
            1, 1)) % 2).cast("long")).as("sgn"))
      val proj = codes.join(broadcast(signs), "dd")
        .groupBy($"vec_id", $"jj")
        .agg(sum($"code" * $"sgn").as("p"))
      val projDist = proj.as("a")
        .join(proj.as("b"), col("a.jj") === col("b.jj")
          && col("b.vec_id") === col("a.vec_id") + 1)
        .groupBy(col("a.vec_id").as("va")).agg(
          sum((col("a.p") - col("b.p")) * (col("a.p") - col("b.p")))
            .as("p2"))
      val codeDist = codes.as("a")
        .join(codes.as("b"), col("a.dd") === col("b.dd")
          && col("b.vec_id") === col("a.vec_id") + 1)
        .groupBy(col("a.vec_id").as("va")).agg(
          sum((col("a.code") - col("b.code"))
            * (col("a.code") - col("b.code"))).as("c2"))
      val pairs = projDist.join(codeDist, "va").filter($"c2" > 0)
        .withColumn("__r",
          $"p2".cast("double") / (lit(16.0) * $"c2".cast("double")))
      pairs.agg(
        count(lit(1)).as("n_pairs"),
        round(sum($"p2").cast("double")
          / (lit(16.0) * sum($"c2").cast("double")), 6)
          .as("overall_ratio"),
        round(min($"__r"), 6).as("min_ratio"),
        round(max($"__r"), 6).as("max_ratio"))
    }, Some("""
      WITH codes AS (SELECT vec_id, dd,
              CAST(round(CAST(embedding[dd] AS DOUBLE) * 1000.0, 0)
                AS BIGINT) AS code
            FROM (SELECT vec_id, embedding,
                    unnest(range(1, len(embedding) + 1)) AS dd
                  FROM embeddings)),
      signs AS (SELECT dd, jj,
                  1 - 2 * (ascii(substring(md5(
                    CAST(dd AS VARCHAR) || '_' || CAST(jj AS VARCHAR)),
                    1, 1)) % 2) AS sgn
                FROM range(1, 65) t(dd), range(1, 17) u(jj)),
      proj AS (SELECT vec_id, jj,
                 CAST(sum(code * sgn) AS BIGINT) AS p
               FROM codes JOIN signs USING (dd) GROUP BY 1, 2),
      pd AS (SELECT a.vec_id AS va,
               CAST(sum((a.p - b.p) * (a.p - b.p)) AS BIGINT) AS p2
             FROM proj a JOIN proj b ON a.jj = b.jj
               AND b.vec_id = a.vec_id + 1
             GROUP BY 1),
      cd AS (SELECT a.vec_id AS va,
               CAST(sum((a.code - b.code) * (a.code - b.code))
                 AS BIGINT) AS c2
             FROM codes a JOIN codes b ON a.dd = b.dd
               AND b.vec_id = a.vec_id + 1
             GROUP BY 1),
      pr AS (SELECT va, p2, c2,
               CAST(p2 AS DOUBLE) / (16.0 * CAST(c2 AS DOUBLE)) AS r
             FROM pd JOIN cd USING (va) WHERE c2 > 0)
      SELECT count(*) AS n_pairs,
             round(CAST(sum(p2) AS DOUBLE)
                   / (16.0 * CAST(sum(c2) AS DOUBLE)), 6)
               AS overall_ratio,
             round(min(r), 6) AS min_ratio,
             round(max(r), 6) AS max_ratio
      FROM pr""")),

    // streaming Page–Hinkley: the daily exact-decimal reduce runs as a
    // Structured Streaming complete-mode aggregation (drained over the
    // event files), then the PH recursion reads the streamed table —
    // sharing q314's oracle is the stream ≡ batch equivalence proof, the
    // q227-PSI pattern applied to the drift monitor.
    Q("q328_stream_page_hinkley", (s, d) => {
      import s.implicits._
      val schema = T.table(s, d, "events").schema
      val daily = s.readStream.schema(schema).parquet(s"$d/{events.parquet}")
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(sum($"value".cast("decimal(18,2)")).as("x"))
      Hypothesis.pageHinkley(Streams.drain(daily, "complete"), "event_type", "day", "x",
          delta = 0.0, lambda = 500.0)
        .orderBy($"event_type")
    }, Some("""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
              CAST(sum(CAST(value AS DECIMAL(18,2)))
                AS DECIMAL(18,4)) AS x
            FROM events GROUP BY 1, 2),
      st AS (SELECT event_type, day, x,
               count(*) OVER w AS i,
               sum(x) OVER w AS cumx
             FROM daily
             WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING)),
      tm AS (SELECT event_type, day, i,
               CAST(x AS DOUBLE) - CAST(cumx AS DOUBLE)
                 / CAST(i AS DOUBLE) - 0.0 AS term
             FROM st),
      mm AS (SELECT event_type, day, i,
               sum(term) OVER w AS m
             FROM tm
             WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING)),
      ph AS (SELECT event_type, day, i,
               m - min(m) OVER w AS ph
             FROM mm
             WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING))
      SELECT event_type, CAST(max(i) AS BIGINT) AS n_points,
             round(max_by(ph, day), 6) AS ph_final,
             round(max(ph), 6) AS ph_max,
             min(CASE WHEN ph > 500.0 THEN day END) AS first_alarm
      FROM ph GROUP BY 1 ORDER BY 1"""))
  )
}
