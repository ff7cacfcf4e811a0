package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Quantiles, Scale}
import graft.sources.{Tables => T}
import graft.streaming.Streams

/** Round-2 surface additions: dedup group-forming (connected components),
  * TF-IDF, binned range join, the remaining analytic window functions,
  * and deterministic mode + median-absolute-deviation.
  */
object Round2 {

  val all: Seq[Q] = Seq(

    // the last step of a dedup pipeline: near-dup PAIRS clustered into
    // GROUPS via min-label propagation, so each group keeps one canonical
    // representative; oracle = recursive-CTE transitive closure
    Q("q66_dedup_groups", (s, d) => {
      import s.implicits._
      val pairs = Dedup.minHashNearDupPairs(T.documents(s, d), "doc_id", "text", 0.5)
      Dedup.connectedComponents(pairs, "a_id", "b_id")
        .select($"id".as("doc_id"), $"component".as("group_id"))
        .orderBy($"doc_id")
    }, Some("""
      WITH RECURSIVE
      w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
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
      pairs AS (SELECT a_id, b_id
                FROM jcom JOIN jsz sa ON sa.doc_id = a_id
                          JOIN jsz sb ON sb.doc_id = b_id
                WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
      reach AS (SELECT src AS id, src AS lbl FROM edges
                UNION
                SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id)
      SELECT id AS doc_id, min(lbl) AS group_id
      FROM reach GROUP BY id ORDER BY doc_id""")),

    Q("q67_window_analytics", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T.orders(s, d).select($"o_orderkey", $"o_custkey",
          first($"o_orderkey").over(w).as("first_key"),
          last($"o_orderkey").over(wFull).as("last_key"),
          coalesce(nth_value($"o_orderkey", 2).over(w), lit(-1L)).as("second_key"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy($"o_orderkey")
    }, Some("""
      SELECT o_orderkey, o_custkey,
             first_value(o_orderkey) OVER w AS first_key,
             last_value(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
             coalesce(nth_value(o_orderkey, 2) OVER w, -1) AS second_key,
             round(percent_rank() OVER w, 6) AS pr,
             round(cume_dist() OVER w, 6) AS cd
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_orderkey""")),

    // TF-IDF top terms per document — the classic quality/relevance
    // primitive; N is a broadcast scalar, never a driver-side constant
    Q("q68_tfidf", (s, d) => {
      import s.implicits._
      val toks = T.documents(s, d).filter($"doc_id" < 100)
        .select($"doc_id",
          explode(graft.operators.TextAnalysis.tokens(lower($"text"))).as("term"))
      val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val df = toks.groupBy($"term").agg(countDistinct($"doc_id").as("df"))
      val n = toks.agg(countDistinct($"doc_id").as("n"))
      val scored = tf.join(df, "term").crossJoin(broadcast(n))
        .select($"doc_id", $"term",
          round($"tf" * log($"n" * lit(1.0) / $"df"), 6).as("score"))
      val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
      scored.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 3)
        .select($"doc_id", $"term", $"score", $"rnk".cast("int").as("rnk"))
        .orderBy($"doc_id", $"rnk")
    }, Some("""
      WITH dd AS (SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 100),
      toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(t), '\s+')) AS term FROM dd),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      nn AS (SELECT count(DISTINCT doc_id) AS n FROM toks),
      scored AS (SELECT tf.doc_id, tf.term,
                        round(tf.tf * ln(nn.n * 1.0 / df.df), 6) AS score
                 FROM tf JOIN df USING (term) CROSS JOIN nn),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, term) AS rnk FROM scored)
      SELECT doc_id, term, score, CAST(rnk AS INT) AS rnk
      FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""")),

    // non-equi range join, executed the scalable way: both sides bucketed
    // to price bins, equi-join on the bin, residual range filter — the
    // standard rewrite that turns an O(n·m) inequality join into a
    // co-partitioned hash join (bands overlap on purpose to prove
    // multi-bin membership works)
    Q("q69_range_join", (s, d) => {
      import s.implicits._
      val bands = s.range(0, 10).select($"id".cast("int").as("band_id"),
          ($"id" * 10 + 900).cast("double").as("lo"))
        .withColumn("hi", $"lo" + 15.0)
      val bandBins = bands.withColumn("bin",
        explode(array(floor($"lo" / 10), floor($"lo" / 10) + 1)))
      val parts = T.part(s, d).withColumn("bin", floor($"p_retailprice" / 10))
      parts.join(broadcast(bandBins), "bin")
        .filter($"p_retailprice" >= $"lo" && $"p_retailprice" < $"hi")
        .groupBy($"band_id")
        .agg(count(lit(1)).as("n"), round((sum($"p_retailprice".cast("decimal(18,2)")).cast("double") / count(lit(1))), 6).as("avg_price"))
        .orderBy($"band_id")
    }, Some("""
      WITH bands AS (SELECT CAST(i AS INT) AS band_id,
                            900 + i * 10.0 AS lo, 915 + i * 10.0 AS hi
                     FROM generate_series(0, 9) t(i))
      SELECT band_id, count(*) AS n, round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price
      FROM bands JOIN part ON p_retailprice >= lo AND p_retailprice < hi
      GROUP BY band_id ORDER BY band_id""")),

    // deterministic mode (ties -> smallest value) + median absolute
    // deviation, both via shuffle-sort primitives (no value-count maps).
    // Two quantile sorts is the exact-result floor: MAD's input |x - med|
    // only exists once the median is known, so the second range-partition
    // sort cannot fuse with the first (measured: each exactQuantiles call
    // is ~0.7-1.1s of shuffle+persist at sf0.1 and the passes over the
    // persisted sort are ~0.1s — the cost is the two sorts themselves,
    // which amortize at scale, not a fixable plan flaw)
    Q("q70_mode_mad", (s, d) => {
      import s.implicits._
      // three passes over two columns (mode, median, abs-dev median):
      // materialize the projection once — an eager checkpoint, not a
      // cache, so the blocks are GC-freed with the result instead of
      // pinning the CacheManager across a long verify session
      val li = T.lineitem(s, d)
        .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
        .localCheckpoint()
      // mode via max_by over (count, -qty): picks the highest count and
      // breaks ties toward the smallest quantity — no per-group window,
      // so the counts aggregate is the only exchange
      val mode = li.groupBy($"l_returnflag", $"l_quantity").agg(count(lit(1)).as("c"))
        .groupBy($"l_returnflag")
        .agg(max_by($"l_quantity", struct($"c", -$"l_quantity"))
          .cast("double").as("mode_qty"))
      val med = Quantiles.exactQuantiles(li, Seq("l_returnflag"), "l_extendedprice", Seq(0.5))
        .select($"l_returnflag", $"p50".as("med"))
      // no cache: exactQuantiles persists its own sorted partitions, so
      // both of its passes already share one evaluation of this projection
      val dev = li.join(broadcast(med), "l_returnflag")
        .select($"l_returnflag", abs($"l_extendedprice" - $"med").as("adev"))
      val mad = Quantiles.exactQuantiles(dev, Seq("l_returnflag"), "adev", Seq(0.5))
        .select($"l_returnflag", round($"p50", 6).as("mad_price"))
      mode.join(mad, "l_returnflag").orderBy($"l_returnflag")
    }, Some("""
      WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS c
                 FROM lineitem GROUP BY 1, 2),
      m AS (SELECT l_returnflag, l_quantity AS mode_qty,
                   row_number() OVER (PARTITION BY l_returnflag
                     ORDER BY c DESC, l_quantity) AS rn FROM c),
      md AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
             FROM lineitem GROUP BY 1),
      dv AS (SELECT l.l_returnflag, abs(l.l_extendedprice - md.med) AS adev
             FROM lineitem l JOIN md USING (l_returnflag)),
      mad AS (SELECT l_returnflag, round(quantile_cont(adev, 0.5), 6) AS mad_price
              FROM dv GROUP BY 1)
      SELECT m.l_returnflag, m.mode_qty, mad.mad_price
      FROM m JOIN mad USING (l_returnflag) WHERE rn = 1 ORDER BY 1""")),

    // bloom-filter semi-join pruning: the fact table is pre-filtered by a
    // compact sketch of the (selective) dim keys before it ever shuffles;
    // the bloom has no false negatives so the result IS the plain join —
    // which is exactly what the oracle checks
    Q("q71_bloom_join", (s, d) => {
      import s.implicits._
      val supK = T.supplier(s, d).filter($"s_nationkey" < 5)
        .select($"s_suppkey".as("l_suppkey"), $"s_nationkey")
      Scale.bloomPruneJoin(T.lineitem(s, d), supK, "l_suppkey")
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n"), round(sum($"l_extendedprice".cast("decimal(18,2)")).cast("double"), 2).as("rev"))
        .orderBy($"s_nationkey")
    }, Some("""
      SELECT s_nationkey, count(*) AS n, round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS rev
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_nationkey < 5
      GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // multimodal frame sampling: per media row, emit every 100th-position
    // sample as a (frame_idx, offset, signature) row — the batch shape a
    // video frame extractor produces, with the decode stubbed to a
    // deterministic char probe (see Multimodal's stub-codec note)
    Q("q72_frame_sample", (s, d) => {
      import s.implicits._
      T.documents(s, d).filter($"doc_id" < 200)
        .withColumn("frame_idx",
          explode(sequence(lit(0L), floor((length($"text") - 1) / 100))))
        .select($"doc_id", $"frame_idx",
          ($"frame_idx" * 100 + 1).as("offset"),
          ascii(substring($"text", ($"frame_idx" * 100 + 1).cast("int"), lit(1))).as("frame_sig"))
        .orderBy($"doc_id", $"frame_idx")
    }, Some("""
      WITH f AS (SELECT doc_id, text,
                        unnest(range(0, (length(text) - 1) // 100 + 1)) AS i
                 FROM documents WHERE doc_id < 200)
      SELECT doc_id, i AS frame_idx, i * 100 + 1 AS offset,
             ascii(substring(text, CAST(i * 100 + 1 AS INT), 1)) AS frame_sig
      FROM f ORDER BY doc_id, frame_idx""")),

    // streaming exact dedup: dropDuplicates as a stateful streaming op,
    // drained to its end — the incremental form of q24's batch dedup
    Q("q73_stream_dedup", (s, d) => {
      import s.implicits._
      val schema = T.table(s, d, "events").schema
      val deduped = s.readStream.schema(schema).parquet(s"$d/events.*")
        .select($"user_id", $"event_type")
        .dropDuplicates("user_id", "event_type")
      Streams.drain(deduped, "append", "spark.sql.shuffle.partitions" -> "8")
        .orderBy($"user_id", $"event_type")
    }, Some("""
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type""")),

    // consistent (hash-ordered) per-group sampling: bottom-k rows by
    // md5 of a stable row key — deterministic across runs AND engines,
    // the standard way to sample a growing 100 TB table repeatably.
    // Runs on the custom bounded-heap operator ordering by a STRING
    // (md5 hex), exercising the buffer-copy path
    Q("q74_consistent_sample", (s, d) => {
      import s.implicits._
      val key = md5(concat($"l_orderkey".cast("string"), lit("#"),
        $"l_linenumber".cast("string")))
      graft.operators.TopK.topKPerGroup(
          T.lineitem(s, d).withColumn("__h", key),
          Seq("l_returnflag"), $"__h", k = 5, desc = false)
        .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"__h".as("h"))
        .orderBy($"l_returnflag", $"h")
    }, Some("""
      SELECT l_returnflag, l_orderkey, l_linenumber, h FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber,
               md5(l_orderkey || '#' || l_linenumber) AS h,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY md5(l_orderkey || '#' || l_linenumber)) AS rn
        FROM lineitem) t
      WHERE rn <= 5 ORDER BY l_returnflag, h""")),

    // sentence segmentation: the text-analysis primitive upstream of
    // chunking/quality — sentences per doc and mean sentence length
    Q("q75_sentences", (s, d) => {
      import s.implicits._
      val sent = filter(
        transform(split($"text", "[.!?]+"), x => trim(x)),
        x => length(x) > 0)
      T.documents(s, d)
        .select($"doc_id",
          size(sent).as("n_sentences"),
          round(
            aggregate(sent, lit(0L), (acc, x) => acc + length(x)).cast("double") /
              greatest(size(sent), lit(1)), 6).as("mean_sentence_len"))
        .orderBy($"doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id,
                        list_filter(list_transform(
                          regexp_split_to_array(text, '[.!?]+'), x -> trim(x)),
                          x -> length(x) > 0) AS sent
                 FROM documents)
      SELECT doc_id,
             CAST(len(sent) AS INT) AS n_sentences,
             round(coalesce(list_sum(list_transform(sent, x -> length(x))), 0) * 1.0 /
                   greatest(len(sent), 1), 6) AS mean_sentence_len
      FROM t ORDER BY doc_id""")),

    // event funnel: users whose first purchase follows their first signup
    // within 7 days — the sequential-pattern analysis every event
    // pipeline runs, expressed as two aggregates and a date diff
    Q("q76_funnel", (s, d) => {
      import s.implicits._
      val ev = T.events(s, d)
      val firsts = ev.filter($"event_type".isin("signup", "purchase"))
        .groupBy($"user_id")
        .agg(
          min(when($"event_type" === "signup", $"ts")).as("first_signup"),
          min(when($"event_type" === "purchase", $"ts")).as("first_purchase"))
        .filter($"first_signup".isNotNull && $"first_purchase".isNotNull &&
          $"first_purchase" >= $"first_signup")
      firsts
        .select($"user_id",
          (unix_timestamp($"first_purchase") - unix_timestamp($"first_signup"))
            .as("secs_to_convert"))
        .filter($"secs_to_convert" <= 7L * 86400)
        .orderBy($"user_id")
    }, Some("""
      WITH f AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events WHERE event_type IN ('signup', 'purchase')
        GROUP BY user_id)
      SELECT user_id,
             CAST(floor(epoch(first_purchase)) AS BIGINT)
               - CAST(floor(epoch(first_signup)) AS BIGINT) AS secs_to_convert
      FROM f
      WHERE first_signup IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_signup
        AND CAST(floor(epoch(first_purchase)) AS BIGINT)
              - CAST(floor(epoch(first_signup)) AS BIGINT) <= 7 * 86400
      ORDER BY user_id""")),

    // stream-stream inner join with watermarks and an event-time range
    // constraint, drained to its end: each purchase joins signups
    // of the same user within the preceding hour. Inner joins emit each
    // qualifying pair exactly once, so the drained result equals the
    // batch join — which is the oracle
    Q("q77_stream_stream_join", (s, d) => {
      import s.implicits._
      val schema = T.table(s, d, "events").schema
      def stream = T.withEventTs(
        s.readStream.schema(schema).parquet(s"$d/events.*"))
      val signups = stream.filter($"event_type" === "signup")
        .select($"user_id".as("s_user"), $"ts".as("s_ts"), $"event_id".as("s_event"))
        .withWatermark("s_ts", "1 hour")
      val purchases = stream.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("p_event"))
        .withWatermark("p_ts", "1 hour")
      val joined = purchases.join(signups,
          $"p_user" === $"s_user" &&
            $"s_ts" <= $"p_ts" && $"s_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR"))
        .select($"p_user".as("user_id"), $"p_event", $"s_event")
      Streams.drain(joined, "append",
          // state partition count is fixed at query start from shuffle
          // partitions; a drained micro-benchmark stream wants few state
          // stores, not one per core
          "spark.sql.shuffle.partitions" -> "8",
          // inner stream-stream joins emit matches within the data batch;
          // the trailing no-data batch only advances the watermark for
          // state eviction, irrelevant to a drained run
          "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
        .orderBy($"user_id", $"p_event", $"s_event")
    }, Some("""
      SELECT p.user_id, p.event_id AS p_event, s.event_id AS s_event
      FROM events p JOIN events s
        ON p.event_type = 'purchase' AND s.event_type = 'signup'
       AND p.user_id = s.user_id
       AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 1 HOUR
      ORDER BY p.user_id, p_event, s_event""")),

    // custom sessionization on the TYPED Dataset API: groupByKey +
    // flatMapGroups with case-class Encoders, sort-and-scan per user —
    // the imperative-state shape for session logic session_window can't
    // express (q23 is the declarative twin; both match the same
    // gaps-and-islands oracle). Gap semantics mirror session_window:
    // a gap >= 30 minutes closes the session
    Q("q78_typed_sessionize", (s, d) => {
      import s.implicits._
      val ev = T.events(s, d)
        .select($"user_id", $"ts", $"value")
        .as[(Long, java.sql.Timestamp, Double)]
      val gapMs = 30L * 60 * 1000
      ev.groupByKey(_._1)
        .flatMapGroups { (uid, it) =>
          val evs = it.toArray.sortBy(_._2.getTime)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, java.sql.Timestamp, Long, Double)]
          var start = 0
          var i = 1
          while (i <= evs.length) {
            if (i == evs.length ||
                evs(i)._2.getTime - evs(i - 1)._2.getTime >= gapMs) {
              val sess = evs.slice(start, i)
              var sum = 0.0
              sess.foreach(e => sum += e._3)
              // HALF_UP to match SQL round() (math.rint is half-even)
              out += ((uid, sess.head._2, sess.length.toLong,
                BigDecimal(sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
              start = i
            }
            i += 1
          }
          out.iterator
        }
        .toDF("user_id", "session_start", "n_events", "sum_value")
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

    // int8 scalar quantization of embeddings — the storage-compression
    // step for 100 TB vector corpora (4 bytes/dim → 1). Emits per-vector
    // range and the reconstruction L2 error of the round-trip
    Q("q79_quantize_int8", (s, d) => {
      import s.implicits._
      // internal names must differ from the output aliases: a select item
      // aliased "mn" would be picked up by LATER items in the same list
      // via lateral column alias resolution, silently feeding the ROUNDED
      // value into the reconstruction arithmetic
      val withRange = T.embeddings(s, d)
        .withColumn("__mn", array_min($"embedding").cast("double"))
        .withColumn("__mx", array_max($"embedding").cast("double"))
        .withColumn("__scale", ($"__mx" - $"__mn") / 255.0)
      withRange
        .select($"vec_id", round($"__mn", 6).as("mn"), round($"__mx", 6).as("mx"),
          round(
            sqrt(aggregate($"embedding", lit(0.0), (acc, x) => {
              // floor(d + 0.5) instead of round(): elementary IEEE ops
              // only, so the oracle computes the identical double
              val q = floor((x.cast("double") - $"__mn") / $"__scale" + 0.5).cast("double")
              val err = x.cast("double") - ($"__mn" + q * $"__scale")
              acc + err * err
            })), 6).as("recon_err"))
        .orderBy($"vec_id")
    }, Some("""
      WITH r AS (SELECT vec_id,
                        list_min(embedding)::DOUBLE AS mn,
                        list_max(embedding)::DOUBLE AS mx,
                        (list_max(embedding)::DOUBLE - list_min(embedding)::DOUBLE) / 255.0 AS scale,
                        embedding
                 FROM embeddings)
      SELECT vec_id, round(mn, 6) AS mn, round(mx, 6) AS mx,
             round(sqrt(list_sum(list_transform(embedding, x ->
               (x::DOUBLE - (mn + floor((x::DOUBLE - mn) / scale + 0.5) * scale)) *
               (x::DOUBLE - (mn + floor((x::DOUBLE - mn) / scale + 0.5) * scale))))), 6)
               AS recon_err
      FROM r ORDER BY vec_id""")),

    // column profiling: the data-validation pass every ingest runs —
    // null counts, distinct cardinality, numeric ranges per column
    Q("q80_profile", (s, d) => {
      import s.implicits._
      val li = T.lineitem(s, d)
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      // ONE scan of the fact table (the previous unionByName formulation
      // read lineitem once per profiled column — 4 fact scans at 100 TB):
      // stack-unpivot to (column, v), partial-aggregate by (column, v) —
      // map-side combine collapses repeated values before any shuffle —
      // then fold the per-value counts into the per-column profile. Exact
      // distinct counts for every column in a single pass, no Expand.
      val stackArgs = cols.map(c => s"'$c', cast(`$c` as double)").mkString(", ")
      li.selectExpr(s"stack(${cols.length}, $stackArgs) AS (column, v)")
        .groupBy($"column", $"v").agg(count(lit(1)).as("c"))
        .groupBy($"column").agg(
          coalesce(sum(when($"v".isNull, $"c")), lit(0L)).as("n_nulls"),
          count(when($"v".isNotNull, 1)).as("n_distinct"),
          round(min($"v"), 6).as("min_v"),
          round(max($"v"), 6).as("max_v"))
        .orderBy($"column")
    }, Some("""
      SELECT 'l_quantity' AS "column", count(*) FILTER (l_quantity IS NULL) AS n_nulls,
             count(DISTINCT l_quantity) AS n_distinct,
             round(min(l_quantity), 6) AS min_v, round(max(l_quantity), 6) AS max_v
      FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', count(*) FILTER (l_extendedprice IS NULL),
             count(DISTINCT l_extendedprice),
             round(min(l_extendedprice), 6), round(max(l_extendedprice), 6)
      FROM lineitem
      UNION ALL
      SELECT 'l_discount', count(*) FILTER (l_discount IS NULL),
             count(DISTINCT l_discount),
             round(min(l_discount), 6), round(max(l_discount), 6)
      FROM lineitem
      UNION ALL
      SELECT 'l_tax', count(*) FILTER (l_tax IS NULL),
             count(DISTINCT l_tax),
             round(min(l_tax), 6), round(max(l_tax), 6)
      FROM lineitem
      ORDER BY "column"""")),

    // fuzzy matching: near-identical part names by edit distance — the
    // string-similarity complement to the shingle/minhash dedup family.
    // Blocked on a cheap equality key (first token) so the pair space is
    // per-block, not O(n²) — the standard blocking technique at scale
    Q("q81_levenshtein", (s, d) => {
      import s.implicits._
      val p = T.part(s, d).filter($"p_partkey" < 500)
        .select($"p_partkey", $"p_name",
          substring_index($"p_name", " ", 1).as("blk"))
      p.as("a").join(p.as("b"),
          $"a.blk" === $"b.blk" && $"a.p_partkey" < $"b.p_partkey")
        .select($"a.p_partkey".as("a_key"), $"b.p_partkey".as("b_key"),
          levenshtein($"a.p_name", $"b.p_name").as("dist"))
        .filter($"dist" <= 10)
        .orderBy($"a_key", $"b_key")
    }, Some("""
      WITH p AS (SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk
                 FROM part WHERE p_partkey < 500)
      SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
             CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 10
      ORDER BY a_key, b_key""")),

    // the dedup pipeline's END STATE: drop every near-duplicate that is
    // not its group's canonical (min-id) representative — pairs → groups
    // → anti-join, the actual corpus a training run would consume
    Q("q82_dedup_apply", (s, d) => {
      import s.implicits._
      val docs = T.documents(s, d)
      val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text", 0.5)
      val losers = Dedup.connectedComponents(pairs, "a_id", "b_id")
        .filter($"id" =!= $"component")
        .select($"id".as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select($"doc_id", length($"text").as("n_chars"))
        .orderBy($"doc_id")
    }, Some("""
      WITH RECURSIVE
      w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
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
      pairs AS (SELECT a_id, b_id
                FROM jcom JOIN jsz sa ON sa.doc_id = a_id
                          JOIN jsz sb ON sb.doc_id = b_id
                WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
      reach AS (SELECT src AS id, src AS lbl FROM edges
                UNION
                SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      losers AS (SELECT id FROM reach GROUP BY id HAVING min(lbl) != id)
      SELECT doc_id, CAST(length(text) AS INT) AS n_chars
      FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)
      ORDER BY doc_id""")),

    // composed corpus preparation: quality-filter, drop near-duplicate
    // losers, emit the per-doc training-relevant stats — each piece is
    // independently oracle-verified (q26/q27/q66); this proves they
    // COMPOSE into the end-to-end prep a real pipeline runs
    Q("q83_corpus_prep", (s, d) => {
      import s.implicits._
      val docs = T.documents(s, d)
      val ws = graft.operators.TextAnalysis.tokens($"text")
      val swr = graft.operators.TextAnalysis.stopwordRatio(ws)
      val scored = docs.select($"doc_id", $"text",
        size(ws).as("n_tokens"),
        (least(lit(1.0), size(ws) / lit(200.0)) * (lit(1.0) - swr)).as("q"))
      val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text", 0.5)
      val losers = Dedup.connectedComponents(pairs, "a_id", "b_id")
        .filter($"id" =!= $"component").select($"id".as("doc_id"))
      scored.join(losers, Seq("doc_id"), "left_anti")
        .filter($"q" >= 0.3)
        .select($"doc_id", $"n_tokens", round($"q", 6).as("quality_score"))
        .orderBy($"doc_id")
    }, Some("""
      WITH RECURSIVE
      w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
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
      pairs AS (SELECT a_id, b_id
                FROM jcom JOIN jsz sa ON sa.doc_id = a_id
                          JOIN jsz sb ON sb.doc_id = b_id
                WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
      reach AS (SELECT src AS id, src AS lbl FROM edges
                UNION
                SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      losers AS (SELECT id FROM reach GROUP BY id HAVING min(lbl) != id),
      m AS (SELECT doc_id,
                   CAST(len(ws) AS INT) AS n_tokens,
                   least(1.0, len(ws) / 200.0) *
                     (1.0 - len(list_filter(ws, x -> x IN
                       ('the','a','of','and','to','in','is','it','on','for')))
                       * 1.0 / len(ws)) AS q
            FROM w)
      SELECT doc_id, n_tokens, round(q, 6) AS quality_score
      FROM m
      WHERE doc_id NOT IN (SELECT id FROM losers) AND q >= 0.3
      ORDER BY doc_id"""))
  )
}
