package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Decontaminate, Dedup, Fuzzy, Graph, Merge, Mixing, Pca, TextAnalysis}
import graft.sources.{Tables => T}
import graft.streaming.{StatefulOps, Streams}

/** Round-5 surface additions: temperature-scaled domain mixing (the
  * multilingual/domain data-mixing recipe) and document-level
  * contamination scoring — the two remaining corpus-prep scores the
  * earlier families express only as binary keep/drop decisions.
  */
object Round5 {

  val all: Seq[Q] = Seq(

    // temperature-scaled mixture: per-domain admission rates for
    // tau = 0.5 (flatten toward low-resource domains) at an expected
    // 2000-row mixture, then the realized kept counts per domain under
    // the reproducible multiplicative-hash draw. Rates round to 6
    // places on both sides so the floor'd draw threshold is
    // engine-stable (pow(n, 0.5) = sqrt — correctly rounded in both
    // engines)
    Q("q112_temperature_mix", (s, d) => {
      import s.implicits._
      val docs = T.documents(s, d)
      val rates = Mixing.temperatureRates(docs, "source", tau = 0.5,
        targetTotal = 2000L)
      val kept = Mixing.temperatureSample(docs, "source", "doc_id",
          tau = 0.5, targetTotal = 2000L)
        .groupBy($"source").agg(count(lit(1)).as("n_kept"))
      rates.join(kept, Seq("source"), "left")
        .select($"source", $"n", $"rate",
          coalesce($"n_kept", lit(0L)).as("n_kept"))
        .orderBy($"source")
    }, Some("""
      WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      w AS (SELECT source, n, pow(n, 0.5) AS wt FROM c),
      r AS (SELECT source, n,
                   round(least(1.0, 2000.0 * wt / (SELECT sum(wt) FROM w) / n), 6) AS rate
            FROM w),
      k AS (SELECT d.source, count(*) AS n_kept
            FROM documents d JOIN r USING (source)
            WHERE ((d.doc_id % 2147483648) * 2246822519) % 1000 <
                  floor(1000.0 * r.rate)
            GROUP BY d.source)
      SELECT source, n, rate, coalesce(n_kept, 0) AS n_kept
      FROM r LEFT JOIN k USING (source) ORDER BY source""")),

    // repetition-based up/down-sampling: uncapped temperature rates at
    // an expected 1250-row mixture (rate 2.5 per domain at sf0.01 —
    // every doc twice, hash-admitted half a third time), each emitted
    // copy carrying its 1-based index. The oracle replays the exact
    // floor/frac/hash arithmetic and generates the same copies
    Q("q116_upsample", (s, d) => {
      import s.implicits._
      Mixing.upsampleDomains(T.documents(s, d), "source", "doc_id",
          tau = 0.5, targetTotal = 1250L)
        .select($"doc_id", $"source", $"copy")
        .orderBy($"doc_id", $"copy")
    }, Some("""
      WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      w AS (SELECT source, n, pow(n, 0.5) AS wt FROM c),
      r AS (SELECT source, n,
                   round(1250.0 * wt / (SELECT sum(wt) FROM w) / n, 6) AS rate
            FROM w),
      cp AS (SELECT d.doc_id, d.source,
                    CAST(floor(r.rate) AS INT) +
                    CASE WHEN ((d.doc_id % 2147483648) * 2246822519) % 1000 <
                              floor(1000.0 * (r.rate - floor(r.rate)))
                         THEN 1 ELSE 0 END AS copies
             FROM documents d JOIN r USING (source))
      SELECT doc_id, source, CAST(unnest(generate_series(1, copies)) AS INT) AS copy
      FROM cp WHERE copies >= 1 ORDER BY doc_id, copy""")),

    // document-level contamination score: the fraction of each doc's
    // distinct 3-grams that appear anywhere in the "benchmark" slice
    // (every 25th doc), zero-overlap docs included — the continuous
    // score a decontamination threshold consumes
    Q("q113_contamination_ratio", (s, d) => {
      import s.implicits._
      val docs = T.documents(s, d)
      Decontaminate.contaminationRatio(
          docs.filter($"doc_id" % 25 =!= 0), docs.filter($"doc_id" % 25 === 0),
          "doc_id", "text", n = 3)
        .orderBy($"doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents),
      sh AS (SELECT doc_id,
                    list_distinct(list_transform(
                      generate_series(1, greatest(len(ws) - 2, 0)),
                      i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS s
             FROM w),
      ev AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 25 = 0),
      tot AS (SELECT doc_id, len(s) AS n_grams FROM sh
              WHERE doc_id % 25 <> 0 AND len(s) > 0),
      hits AS (SELECT c.doc_id, count(*) AS n_contaminated
               FROM (SELECT doc_id, unnest(s) AS gram FROM sh
                     WHERE doc_id % 25 <> 0) c
               JOIN ev USING (gram) GROUP BY 1)
      SELECT doc_id, n_grams, coalesce(n_contaminated, 0) AS n_contaminated,
             round(coalesce(n_contaminated, 0) / n_grams, 6) AS contamination
      FROM tot LEFT JOIN hits USING (doc_id) ORDER BY doc_id""")),

    // subword BPE tokenization: train 60 merges driver-side on the
    // id-ordered corpus sample (the quantizer pattern), encode every
    // document map-side with the broadcast merge table. The learned
    // merges are a data-dependent artifact, so this is rows-only;
    // BpeSpec pins training and greedy encoding exactly (hand-computed
    // merges on the classic corpus, lossless reconstruction,
    // partitioning invariance)
    Q("q114_bpe_encode", (s, d) => {
      import s.implicits._
      Bpe.trainAndEncode(T.documents(s, d), "doc_id", "text", numMerges = 60)
        .select($"doc_id", posexplode($"pieces").as(Seq("pos", "piece")))
        .orderBy($"doc_id", $"pos")
    }, None),

    // Gopher-style rule gate: word-count bounds, mean-word-length
    // bounds, stopword floor, repetition ceiling, and the composite
    // keep bit — computed over the same rounded signals in both engines
    Q("q117_gopher_rules", (s, d) => {
      import s.implicits._
      TextAnalysis.gopherQuality(T.documents(s, d), "doc_id", "text",
          minWords = 5, maxWords = 1000, minMeanLen = 2.0, maxMeanLen = 12.0,
          minStopHits = 2, maxTopWordFrac = 0.2)
        .select($"id".as("doc_id"), $"n_words", $"mean_word_len",
          $"stop_hits", $"top_word_frac", $"keep")
        .orderBy($"doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents),
      m AS (SELECT doc_id,
                   CAST(len(ws) AS INT) AS n_words,
                   round(list_sum(list_transform(ws, w -> length(w))) * 1.0
                         / len(ws), 6) AS mean_word_len,
                   CAST(len(list_intersect(ws, ['the','a','of','and','to','in','is','it','on','for'])) AS INT) AS stop_hits,
                   round(list_max(list_transform(list_distinct(ws),
                         w -> len(list_filter(ws, x -> x = w)))) * 1.0
                         / len(ws), 6) AS top_word_frac
            FROM t)
      SELECT doc_id, n_words, mean_word_len, stop_hits, top_word_frac,
             CAST(CASE WHEN n_words BETWEEN 5 AND 1000
                        AND mean_word_len BETWEEN 2.0 AND 12.0
                        AND stop_hits >= 2 AND top_word_frac <= 0.2
                       THEN 1 ELSE 0 END AS INT) AS keep
      FROM m ORDER BY doc_id""")),

    // PCA projection of the embeddings onto the top-4 principal
    // components: Gram aggregate -> driver-side Jacobi on the 64x64
    // covariance -> map-side literal-component dot products. The fit is
    // data-dependent (like every trained quantizer here), so rows-only;
    // PcaSpec pins exact recovery on planted low-rank data,
    // orthonormality, variance ordering, sign canonicalization, and
    // partitioning invariance
    Q("q118_pca_project", (s, d) => {
      import s.implicits._
      val emb = T.embeddings(s, d)
      val model = Pca.fit(emb, "embedding")
      Pca.project(emb, "embedding", model, k = 4)
        .select($"vec_id", round($"p1", 6).as("p1"), round($"p2", 6).as("p2"),
          round($"p3", 6).as("p3"), round($"p4", 6).as("p4"))
        .orderBy($"vec_id")
    }, None),

    // TIME TRAVEL over the bucketed CDC snapshot: base (seq 0), a price
    // bump apply (seq 1), a delete+insert apply (seq 2) — then each
    // version re-read as-of its seq and checksummed. The oracle replays
    // the same three versions as plain SQL prefixes of the feed
    Q("q119_time_travel", (s, d) => {
      import s.implicits._
      val path = s"/tmp/graft_tt_${System.nanoTime()}"
      val base = T.orders(s, d)
      try {
        Merge.writeBucketedSnapshot(base, path, Seq("o_orderkey"), buckets = 8)
        val feed1 = base.filter($"o_orderkey" % 7 === 0)
          .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
          .withColumn("__op", lit("U")).withColumn("__seq", lit(1L))
        Merge.applyChangesBucketed(path, feed1, Seq("o_orderkey"),
          "__op", "__seq", 8, retainHistory = true)
        val feed2 = base.filter($"o_orderkey" % 11 === 0)
          .withColumn("__op", lit("D")).withColumn("__seq", lit(2L))
          .unionByName(base.filter($"o_orderkey" % 13 === 0)
            .withColumn("o_orderkey", $"o_orderkey" + 100000000L)
            .withColumn("__op", lit("U")).withColumn("__seq", lit(2L)))
        Merge.applyChangesBucketed(path, feed2, Seq("o_orderkey"),
          "__op", "__seq", 8, retainHistory = true)
        val per = (0 to 2).map { v =>
          Merge.readSnapshotAsOf(s, path, v.toLong)
            .agg(count(lit(1)).as("n"),
              sum($"o_totalprice".cast("decimal(15,2)")).as("total"))
            .withColumn("version", lit(v))
        }.reduce(_.unionByName(_))
          .select($"version", $"n", $"total")
        val rows = per.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), per.schema)
          .orderBy($"version")
      } finally {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(p, true)
        fs.delete(new org.apache.hadoop.fs.Path(path + ".merge_tmp"), true)
      }
    }, Some("""
      WITH v1 AS (SELECT * REPLACE (CASE WHEN o_orderkey % 7 = 0
                                    THEN o_totalprice + 1000.0
                                    ELSE o_totalprice END AS o_totalprice)
                  FROM orders),
      v2 AS (SELECT * FROM v1 WHERE o_orderkey % 11 <> 0
             UNION ALL
             SELECT * REPLACE (o_orderkey + 100000000 AS o_orderkey)
             FROM orders WHERE o_orderkey % 13 = 0)
      SELECT 0 AS version, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(15,2)) AS total
      FROM orders
      UNION ALL
      SELECT 1, count(*),
             CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(15,2))
      FROM v1
      UNION ALL
      SELECT 2, count(*),
             CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(15,2))
      FROM v2
      ORDER BY version""")),

    // character-entropy quality signal: per-doc Shannon entropy of the
    // character distribution via the native sorted-run expression — ln
    // parity with the oracle like q109/q115, terms summed in ascending
    // character order on BOTH sides (list_sort'd distinct in SQL)
    Q("q120_char_entropy", (s, d) => {
      import s.implicits._
      TextAnalysis.charEntropy(T.documents(s, d), "doc_id", "text")
        .select($"id".as("doc_id"), $"n_chars", $"entropy")
        .orderBy($"doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, length(text) AS n, string_split(text, '') AS cs
                 FROM documents)
      SELECT doc_id, CAST(n AS INT) AS n_chars,
             round(coalesce(-list_sum(list_transform(
               list_sort(list_distinct(cs)),
               c -> (len(list_filter(cs, x -> x = c)) * 1.0 / n) *
                    ln(len(list_filter(cs, x -> x = c)) * 1.0 / n))), 0.0), 6)
               AS entropy
      FROM t ORDER BY doc_id""")),

    // one-row corpus report: the data card a release ships with —
    // doc/token/vocab counts, exact-dup count, length stats (exact
    // interpolated median on both engines), stopword + English shares
    Q("q121_corpus_report", (s, d) => {
      import s.implicits._
      TextAnalysis.corpusReport(T.documents(s, d), "doc_id", "text")
        .select($"n_docs", $"total_tokens", $"mean_doc_tokens",
          $"median_doc_tokens", $"mean_stopword_ratio", $"english_share",
          $"exact_dup_docs", $"vocab_size")
    }, Some("""
      WITH t AS (SELECT doc_id, text,
                        regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents),
      d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(ws)) AS BIGINT) AS total_tokens,
                   round(avg(len(ws)), 6) AS mean_doc_tokens,
                   round(quantile_cont(len(ws), 0.5), 6) AS median_doc_tokens,
                   round(avg(len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is','it','on','for'))) * 1.0 / len(ws)), 6) AS mean_stopword_ratio,
                   round(avg(CASE WHEN len(list_filter(ws, x -> x IN ('the','and','of'))) > 0
                             THEN 1 ELSE 0 END), 6) AS english_share,
                   CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS exact_dup_docs
            FROM t),
      v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vocab_size
            FROM (SELECT unnest(ws) AS w FROM t))
      SELECT n_docs, total_tokens, mean_doc_tokens, median_doc_tokens,
             mean_stopword_ratio, english_share, exact_dup_docs, vocab_size
      FROM d CROSS JOIN v""")),

    // asymmetric containment near-dup: directed pairs where most of a
    // doc's shingles appear in another (the quote/boilerplate signal
    // symmetric Jaccard misses); same bounded slice as q29
    Q("q122_containment", (s, d) => {
      import s.implicits._
      Dedup.shingleContainmentPairs(
          T.documents(s, d).filter($"doc_id" < 500), "doc_id", "text", 0.6)
        .orderBy($"a_id", $"b_id")
    }, Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents WHERE doc_id < 500),
      sh AS (SELECT doc_id,
                    list_distinct(list_transform(
                      generate_series(1, greatest(len(ws) - 2, 0)),
                      i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS s
             FROM w),
      jsz AS (SELECT doc_id, len(s) AS n FROM sh),
      jpost AS (SELECT doc_id, unnest(s) AS g FROM sh),
      jcom AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
               FROM jpost a JOIN jpost b ON a.g = b.g AND a.doc_id <> b.doc_id
               GROUP BY 1, 2),
      pairs AS (SELECT a_id, b_id,
                       round(c * 1.0 / sa.n, 6) AS containment
                FROM jcom JOIN jsz sa ON sa.doc_id = a_id)
      SELECT a_id, b_id, containment FROM pairs WHERE containment >= 0.6
      ORDER BY a_id, b_id""")),

    // boilerplate mining: the 25 most-repeated word 5-grams corpus-wide
    // with exact occurrence and document counts — what a template-
    // stripping pass consumes. Bounded TakeOrdered on (count desc,
    // gram asc): the gram table is never globally sorted
    Q("q123_top_ngrams", (s, d) => {
      import s.implicits._
      // tokenize ONCE into a bound column before the windowing HOF:
      // higher-order functions evaluate interpreted, so a lambda over
      // the raw split() expression re-tokenizes the document on every
      // element access (~250 full tokenizations per doc — 10x slower)
      val grams = T.documents(s, d)
        .select($"doc_id", TextAnalysis.tokens($"text").as("__ws"))
        .select($"doc_id",
          explode(TextAnalysis.wordShingles($"__ws", 5)).as("gram"))
      grams.groupBy($"gram")
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct($"doc_id").as("n_docs"))
        .orderBy($"n_occurrences".desc, $"gram")
        .limit(25)
    }, Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents),
      g AS (SELECT doc_id, unnest(list_transform(
                     generate_series(1, greatest(len(ws) - 4, 0)),
                     i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4])))
                   AS gram
            FROM w)
      SELECT gram, count(*) AS n_occurrences,
             count(DISTINCT doc_id) AS n_docs
      FROM g GROUP BY gram
      ORDER BY n_occurrences DESC, gram LIMIT 25""")),

    // CDC schema evolution: a feed carrying a NEW column widens the
    // snapshot, base rows null-pad it (the lakehouse mergeSchema write);
    // grouping on the evolved column (NULL bucket = untouched rows)
    // checksums the whole merge
    Q("q124_schema_evolution", (s, d) => {
      import s.implicits._
      val base = T.orders(s, d)
      val feed = base.filter($"o_orderkey" % 9 === 0)
        .withColumn("priority_flag",
          when($"o_totalprice" > 150000, 1).otherwise(0))
        .withColumn("__op", lit("U")).withColumn("__seq", lit(1L))
      Merge.applyChanges(base, feed, Seq("o_orderkey"), "__op", "__seq",
          evolveSchema = true)
        .groupBy(coalesce($"priority_flag", lit(-1)).as("priority_flag"))
        .agg(count(lit(1)).as("n"),
          sum($"o_totalprice".cast("decimal(15,2)")).as("total"))
        .orderBy($"priority_flag")
    }, Some("""
      SELECT coalesce(CASE WHEN o_orderkey % 9 = 0 THEN
               (CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) END, -1)
               AS priority_flag,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(15,2)) AS total
      FROM orders GROUP BY 1 ORDER BY 1""")),

    // STREAMING session windows: the same 30-minute-gap sessionization
    // as q23, but through the streaming session_window operator (state
    // merged per micro-batch, complete-mode drain) — completing the
    // window family's streaming side next to q39/q77/q98's shapes
    Q("q125_session_stream", (s, d) => {
      import s.implicits._
      val schema = T.table(s, d, "events").schema
      val ev = T.withEventTs(
        s.readStream.schema(schema).parquet(s"$d/events.*"))
      val sessions = ev
        .groupBy($"user_id", session_window($"ts", "30 minutes"))
        .agg(count(lit(1)).as("n_events"), round(sum($"value".cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
        .select($"user_id", $"session_window.start".as("session_start"),
          $"n_events", $"sum_value")
      Streams.drain(sessions, "complete").orderBy($"user_id", $"session_start")
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

    // entity-resolution capstone: fuzzy pairs (edit distance <= 1 on
    // customer names) -> connected components -> canonical record per
    // cluster by max account balance, min-key ties — the q129 + q131
    // machinery composed end-to-end; the oracle rebuilds the same
    // pipeline from ≤1-deletion-variant candidates (proven-exact
    // superset, see q129) + levenshtein verify + an UNROLLED min-label
    // closure. Not the reach-style recursive CTE: at sf0.1 the name
    // graph is ONE 15,000-node component (digit chains connect
    // everything), and reach materializes (node × reaching-label) pairs
    // — up to 225M rows — where min-label propagation floods the
    // component minimum in 6 measured rounds. 12 MATERIALIZED steps
    // (q220's unroll discipline: chained CTEs referenced twice re-expand
    // exponentially if inlined) + a guard row that fails the compare
    // loudly if l11 <> l12, i.e. if a future corpus needs more rounds.
    Q("q143_entity_resolution", (s, d) => {
      import s.implicits._
      val cust = T.customer(s, d)
      val pairs = Fuzzy.editDistancePairs(cust, "c_custkey", "c_name", maxDist = 1)
      Dedup.canonicalize(
          cust.select($"c_custkey", ($"c_acctbal" * 100).cast("long").as("bal")),
          "c_custkey", "bal", pairs, "id_a", "id_b")
        .orderBy($"c_custkey")
    }, Some {
      val step = (i: Int) => s"""
      l$i AS MATERIALIZED (
        SELECT l.n, least(l.l, coalesce(t.m, l.l)) AS l
        FROM l${i - 1} l LEFT JOIN (
          SELECT e.d AS n, min(p.l) AS m
          FROM ed e JOIN l${i - 1} p ON p.n = e.s GROUP BY e.d) t
        ON t.n = l.n),"""
      """
      WITH vlist AS (SELECT c_custkey, length(c_name) AS ln,
             list_prepend(c_name, list_transform(range(1, length(c_name) + 1),
               i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1))) AS vs
           FROM customer),
      vars AS (SELECT c_custkey, ln, unnest(list_distinct(vs)) AS v FROM vlist),
      cand AS (SELECT DISTINCT a.c_custkey AS a_id, b.c_custkey AS b_id
               FROM vars a JOIN vars b ON a.v = b.v AND a.c_custkey < b.c_custkey
                                       AND abs(a.ln - b.ln) <= 1),
      prs AS MATERIALIZED (SELECT a_id, b_id
              FROM cand JOIN customer ca ON ca.c_custkey = a_id
                        JOIN customer cb ON cb.c_custkey = b_id
              WHERE levenshtein(ca.c_name, cb.c_name) <= 1),
      ed AS MATERIALIZED (SELECT a_id AS s, b_id AS d FROM prs
                          UNION SELECT b_id, a_id FROM prs),
      l0 AS MATERIALIZED (SELECT DISTINCT s AS n, s AS l FROM ed),""" +
        (1 to 12).map(step).mkString + """
      comp AS (SELECT n AS c_custkey, l AS component FROM l12),
      g AS (SELECT c.c_custkey, CAST(c.c_acctbal * 100 AS BIGINT) AS bal,
                   coalesce(m.component, c.c_custkey) AS group_id
            FROM customer c LEFT JOIN comp m USING (c_custkey)),
      best AS (SELECT group_id, c_custkey AS canonical_id FROM (
                 SELECT group_id, c_custkey, row_number() OVER (
                   PARTITION BY group_id ORDER BY bal DESC, c_custkey) AS rn
                 FROM g) WHERE rn = 1)
      SELECT * FROM (
        SELECT g.c_custkey, g.group_id, b.canonical_id,
               CAST(g.c_custkey = b.canonical_id AS INT) AS is_canonical
        FROM g JOIN best b USING (group_id)
        UNION ALL
        SELECT -1, -1, -1, CAST(-1 AS INT)
        WHERE EXISTS (SELECT 1 FROM l11 a JOIN l12 b ON a.n = b.n
                      WHERE a.l <> b.l)
      ) ORDER BY c_custkey"""
    }),

    // heavy hitters, production shape: a Misra-Gries sketch pass finds
    // candidate words (guaranteed superset of everything above
    // N/(k+1) ≈ 7 occurrences here), then an exact recount of ONLY the
    // candidates filters at 150 — so the output is deterministic and
    // equals the full GROUP BY oracle even though sketch estimates are
    // partition-order-dependent. k=4000 keeps the guarantee valid
    // through sf0.1's ~270k tokens
    Q("q142_heavy_hitters", (s, d) => {
      import s.implicits._
      val toks = T.documents(s, d)
        .select(explode(TextAnalysis.tokens($"text")).as("w"))
      val cands = toks.agg(
        graft.functions.MisraGriesAgg.candidates($"w", 4000).as("cs"))
        .select(explode($"cs").as("w"))
      toks.join(broadcast(cands), Seq("w"), "left_semi")
        .groupBy($"w").agg(count(lit(1)).as("n"))
        .filter($"n" >= 150)
        .orderBy($"w")
    }, Some("""
      WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
                 FROM documents)
      SELECT w, count(*) AS n FROM w GROUP BY w HAVING count(*) >= 150
      ORDER BY w""")),

    // incremental aggregate maintenance: per-customer rollups computed
    // on two disjoint halves of orders, then FOLDED — counts re-merge
    // by sum, maxes by max; the oracle is the from-scratch aggregate,
    // so a hash match proves fold(partials) == full recompute (decimal
    // sums are exact, no fp tolerance needed)
    Q("q141_merge_aggregates", (s, d) => {
      import s.implicits._
      val orders = T.orders(s, d)
      val halves = Seq(0, 1).map { r =>
        orders.filter($"o_orderkey" % 2 === r)
          .groupBy($"o_custkey")
          .agg(count(lit(1)).as("n"),
            sum($"o_totalprice".cast("decimal(18,2)")).as("sum_total"),
            max($"o_orderdate").as("last_order"))
      }
      Merge.mergeAggregates(halves, Seq("o_custkey"),
          Map("n" -> "sum", "sum_total" -> "sum", "last_order" -> "max"))
        .select($"o_custkey", $"n",
          $"sum_total".cast("decimal(18,2)").as("sum_total"), $"last_order")
        .orderBy($"o_custkey")
    }, Some("""
      SELECT o_custkey, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_total,
             max(o_orderdate) AS last_order
      FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),

    // winsorization: clamp extendedprice into each returnflag's exact
    // [p5, p95] band — one sort-rank pass for both bounds, AQE-
    // broadcast bounds join, per-row clamp; q64's quantile parity
    // makes the clamped values engine-exact
    Q("q140_winsorize", (s, d) => {
      import s.implicits._
      graft.operators.Quantiles.winsorize(
          T.lineitem(s, d), Seq("l_returnflag"), "l_extendedprice",
          lo = 0.05, hi = 0.95)
        .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
          round($"l_extendedprice_winsorized", 6).as("price_w"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }, Some("""
      WITH b AS (SELECT l_returnflag,
                        quantile_cont(l_extendedprice, 0.05) AS lo,
                        quantile_cont(l_extendedprice, 0.95) AS hi
                 FROM lineitem GROUP BY l_returnflag)
      SELECT l_orderkey, l_linenumber, l.l_returnflag,
             round(least(greatest(CAST(l_extendedprice AS DOUBLE), lo), hi), 6)
               AS price_w
      FROM lineitem l JOIN b USING (l_returnflag)
      ORDER BY l_orderkey, l_linenumber""")),

    // retention cohorts: users grouped by first-signup week, counted
    // distinct-active per whole-week offset — the standard product
    // retention triangle, composed from min-agg + join + date diff
    Q("q139_retention", (s, d) => {
      import s.implicits._
      val ev = T.events(s, d)
      val cohorts = ev.filter($"event_type" === "signup")
        .groupBy($"user_id")
        .agg(min(date_trunc("week", $"ts")).as("cohort_week"))
      ev.select($"user_id", $"ts")
        .join(cohorts, "user_id")
        .select($"cohort_week",
          floor(($"ts".cast("long") - $"cohort_week".cast("long")) /
            lit(604800L)).as("week_offset"), $"user_id")
        .filter($"week_offset" >= 0)
        .groupBy($"cohort_week", $"week_offset")
        .agg(countDistinct($"user_id").as("active_users"))
        .orderBy($"cohort_week", $"week_offset")
    }, Some("""
      WITH cohorts AS (SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
                       FROM events WHERE event_type = 'signup' GROUP BY user_id),
      act AS (SELECT c.cohort_week,
                     floor((epoch(e.ts) - epoch(c.cohort_week)) / 604800) AS week_offset,
                     e.user_id
              FROM events e JOIN cohorts c USING (user_id))
      SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
             count(DISTINCT user_id) AS active_users
      FROM act WHERE week_offset >= 0
      GROUP BY cohort_week, week_offset
      ORDER BY cohort_week, week_offset""")),

    // per-user OLS trend of event value over hours-since-2024-01-01 —
    // the centered two-pass formula on both sides (the one-pass closed
    // form catastrophically cancels at epoch-scale x); micros-exact x
    // so the only fp divergence is sum order, absorbed by round 6
    Q("q138_trend", (s, d) => {
      import s.implicits._
      val pts = T.events(s, d)
        .select($"user_id",
          ((unix_micros($"ts") - lit(1704067200000000L)) / lit(3.6e9)).as("x"),
          $"value".as("y"))
      graft.operators.TimeSeries.trendPerKey(pts, "user_id", "x", "y")
        .orderBy($"user_id")
    }, Some("""
      WITH pts AS (SELECT user_id,
                          (epoch_us(ts) - 1704067200000000)
                            / CAST(3600000000 AS DOUBLE) AS x,
                          value AS y
                   FROM events),
      m AS (SELECT user_id, avg(x) AS ax, avg(y) AS ay, count(*) AS n
            FROM pts GROUP BY user_id HAVING count(*) >= 2),
      agg AS (SELECT p.user_id, any_value(m.n) AS n,
                     any_value(m.ax) AS ax, any_value(m.ay) AS ay,
                     sum((x - ax) * (y - ay)) AS sxy,
                     sum((x - ax) * (x - ax)) AS sxx
              FROM pts p JOIN m USING (user_id) GROUP BY p.user_id
              HAVING sum((x - ax) * (x - ax)) > 0)
      SELECT user_id, CAST(n AS BIGINT) AS n,
             round(sxy / sxx, 6) AS slope,
             round(ay - sxy / sxx * ax, 6) AS intercept
      FROM agg ORDER BY user_id""")),

    // forward as-of join: each signup picks up the user's NEXT purchase
    // at or after it — q48's operator mirrored in time (union + running-
    // first window, one shuffle); the oracle is DuckDB's native forward
    // ASOF
    Q("q137_asof_forward", (s, d) => {
      import s.implicits._
      val ev = T.events(s, d)
      val signups = ev.filter($"event_type" === "signup")
        .select($"event_id", $"user_id", $"ts")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts")
      val epoch = lit("1970-01-01 00:00:00").cast("timestamp")
      graft.operators.AsOf.asofJoinForward(
          signups, purchases, "user_id", "ts", "ts", Seq("ts"))
        .select($"event_id", $"user_id", $"ts",
          coalesce($"asof_ts", epoch).as("next_purchase_ts"))
        .orderBy($"event_id")
    }, Some("""
      SELECT p.event_id, p.user_id, p.ts,
             coalesce(s.ts, TIMESTAMP '1970-01-01 00:00:00') AS next_purchase_ts
      FROM (SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'signup') p
      ASOF LEFT JOIN (SELECT user_id, ts FROM events
                      WHERE event_type = 'purchase') s
        ON p.user_id = s.user_id AND s.ts >= p.ts
      ORDER BY p.event_id""")),

    // stream-stream LEFT OUTER join: q77's purchase<-signup attribution
    // plus the null rows for provably-unattributable purchases. Outer
    // emission is watermark-driven — a purchase emits (p, NULL) only
    // once the global watermark W = min(max s_ts, max p_ts) - 1h passes
    // its state's horizon, so the oracle gates its NOT EXISTS branch on
    // p_ts < W exactly as the engine's eviction does; purchases inside
    // the final watermark hour stay withheld (state that survives the
    // drain). noDataMicroBatches stays ENABLED here — the trailing
    // no-data batch IS what advances W and flushes the outer state
    Q("q136_stream_outer_join", (s, d) => {
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
            $"s_ts" <= $"p_ts" && $"s_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR"),
          "leftOuter")
        .select($"p_user".as("user_id"), $"p_event",
          coalesce($"s_event", lit(-1L)).as("s_event"))
      Streams.drain(joined, "append", "spark.sql.shuffle.partitions" -> "8")
        .orderBy($"user_id", $"p_event", $"s_event")
    }, Some("""
      WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
      s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
      wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM s))
                    - INTERVAL 1 HOUR AS w),
      m AS (SELECT p.user_id, p.event_id AS p_event, s.event_id AS s_event
            FROM p JOIN s ON p.user_id = s.user_id
             AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 1 HOUR),
      unm AS (SELECT p.user_id, p.event_id AS p_event, -1 AS s_event
              FROM p CROSS JOIN wm
              WHERE p.ts < wm.w AND NOT EXISTS (
                SELECT 1 FROM s WHERE s.user_id = p.user_id
                 AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 1 HOUR))
      SELECT user_id, p_event, s_event FROM m
      UNION ALL SELECT user_id, p_event, s_event FROM unm
      ORDER BY user_id, p_event, s_event""")),

    // weighted sampling (Efraimidis–Spirtakis): 50 docs drawn with
    // probability proportional to length via the k smallest -ln(u)/w
    // keys; the oracle replays the exact hash draw and ln arithmetic,
    // so the SAME 50 docs win in both engines
    Q("q134_weighted_sample", (s, d) => {
      import s.implicits._
      Mixing.weightedSample(T.documents(s, d), "doc_id", "n_chars", k = 50)
        .select($"doc_id", $"source", $"n_chars")
        .orderBy($"doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, source, n_chars,
                        ((((doc_id % 2147483648) * 1) % 2147483648)
                          * 2246822519) % 1048576 + 1 AS hx
                 FROM documents WHERE n_chars > 0),
      keyed AS (SELECT doc_id, source, n_chars,
                       -ln(hx / 1048576.0) / n_chars AS wkey
                FROM t ORDER BY wkey, doc_id LIMIT 50)
      SELECT doc_id, source, n_chars FROM keyed ORDER BY doc_id""")),

    // per-user EWMA of event values in (ts, event_id) order — the
    // sequential recurrence runs as an aggregate-HOF fold over each
    // key's time-sorted array; the oracle replays the identical fold
    // (same op order, same doubles) via list_reduce with a prepended
    // 0.0 init
    Q("q135_ewma", (s, d) => {
      import s.implicits._
      graft.operators.TimeSeries.ewmaPerKey(
          T.events(s, d),
          "user_id", Seq("ts", "event_id"), "value", alpha = 0.3)
        .select($"user_id", $"n_events", $"ewma")
        .orderBy($"user_id")
    }, Some("""
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             round(list_reduce(
               list_concat([CAST(0.0 AS DOUBLE)],
                 list(CAST(value AS DOUBLE) ORDER BY ts, event_id)),
               (acc, x) -> acc * (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE))
                           + x * CAST(0.3 AS DOUBLE)), 6) AS ewma
      FROM events GROUP BY user_id ORDER BY user_id""")),

    // fixed-budget per-domain sample: exactly 20 docs per source by
    // deterministic md5 rank — the oracle replays the same hash order,
    // so the SAME 20 docs survive in both engines; the plan runs the
    // bounded-heap TopKPerGroup rewrite (pinned in TopKRewriteSpec)
    Q("q133_group_sample", (s, d) => {
      import s.implicits._
      Mixing.sampleKPerGroup(T.documents(s, d), "source", "doc_id", k = 20)
        .select($"doc_id", $"source")
        .orderBy($"source", $"doc_id")
    }, Some("""
      SELECT doc_id, source FROM (
        SELECT doc_id, source, row_number() OVER (
          PARTITION BY source ORDER BY md5(concat_ws(':', 0, doc_id))) AS rn
        FROM documents) WHERE rn <= 20
      ORDER BY source, doc_id""")),

    // vocabulary coverage: per-doc OOV rate against the corpus's own
    // top-150 vocabulary (count desc, word asc — q111's stable order);
    // the fraction a 150-word tokenizer would shred into UNKs
    Q("q132_oov_rate", (s, d) => {
      import s.implicits._
      TextAnalysis.oovRate(T.documents(s, d), "doc_id", "text", vocabSize = 150)
        .select($"id".as("doc_id"), $"n_tokens", $"n_oov", $"oov_rate")
        .orderBy($"doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents),
      toks AS (SELECT doc_id, unnest(ws) AS tok FROM w),
      f AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      v AS (SELECT tok FROM f ORDER BY c DESC, tok LIMIT 150)
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS oov_rate
      FROM toks t LEFT JOIN v USING (tok)
      GROUP BY t.doc_id ORDER BY t.doc_id""")),

    // canonical-doc selection: near-dup clusters (q66's pair + component
    // machinery) collapse to the longest member, ties to the smallest
    // id; singletons are their own canonical. The full (doc -> group,
    // canonical, keep-bit) map is the output — what a corpus rewrite
    // joins against
    Q("q131_canonicalize", (s, d) => {
      import s.implicits._
      val docs = T.documents(s, d)
      val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text", 0.5)
      Dedup.canonicalize(docs.select($"doc_id", $"n_chars"), "doc_id",
          "n_chars", pairs, "a_id", "b_id")
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
      prs AS (SELECT a_id, b_id
              FROM jcom JOIN jsz sa ON sa.doc_id = a_id
                        JOIN jsz sb ON sb.doc_id = b_id
              WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5),
      edges AS (SELECT a_id AS src, b_id AS dst FROM prs
                UNION SELECT b_id, a_id FROM prs),
      reach AS (SELECT src AS id, src AS lbl FROM edges
                UNION
                SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      comp AS (SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id),
      g AS (SELECT d.doc_id, d.n_chars,
                   coalesce(c.component, d.doc_id) AS group_id
            FROM documents d LEFT JOIN comp c USING (doc_id)),
      best AS (SELECT group_id, doc_id AS canonical_id FROM (
                 SELECT group_id, doc_id, row_number() OVER (
                   PARTITION BY group_id ORDER BY n_chars DESC, doc_id) AS rn
                 FROM g) WHERE rn = 1)
      SELECT g.doc_id, g.group_id, b.canonical_id,
             CAST(g.doc_id = b.canonical_id AS INT) AS is_canonical
      FROM g JOIN best b USING (group_id) ORDER BY g.doc_id""")),

    // PageRank over the symmetrized customer<->supplier trade graph
    // (3 unrolled iterations, matching the operator's loop exactly —
    // the oracle replays every double op in the same order-free shape;
    // per-node in-sums round at 9 places). The symmetric graph has no
    // dangling nodes, so the operator's dangling term is exactly 0.0
    // and the oracle can omit it
    Q("q130_pagerank", (s, d) => {
      import s.implicits._
      // LONG node ids (customer 2k, supplier 2k+1) through the whole
      // iteration — string keys in every shuffle cost ~2x; the display
      // form is a projection over the final |nodes| rows only
      val ol = T.orders(s, d)
        .join(T.lineitem(s, d),
          $"o_orderkey" === $"l_orderkey")
        .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      // symmetrize by exploding both directions out of ONE join pass —
      // a self-union would evaluate the orders×lineitem join twice
      val edges = ol.select(explode(array(
          struct($"c".as("src"), $"s".as("dst")),
          struct($"s".as("src"), $"c".as("dst")))).as("e"))
        .select($"e.src".as("src"), $"e.dst".as("dst"))
      Graph.pageRank(edges, "src", "dst", iterations = 3)
        .select(when($"node" % 2 === 0, concat(lit("c"), ($"node" / 2).cast("long")))
          .otherwise(concat(lit("s"), (($"node" - 1) / 2).cast("long"))).as("node"),
          round($"rank", 9).as("rank"))
        .orderBy($"node")
    }, Some("""
      WITH ol AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      e AS (SELECT src, dst FROM ol UNION SELECT dst, src FROM ol),
      nodes AS (SELECT DISTINCT src AS node FROM e),
      nn AS (SELECT count(*) AS n FROM nodes),
      deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS r FROM nodes CROSS JOIN nn),
      c1 AS (SELECT e.dst AS node, sum(r0.r / deg.deg) AS s
             FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
             GROUP BY e.dst),
      r1 AS (SELECT nodes.node,
                    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
                    CAST(0.85 AS DOUBLE) * (coalesce(c1.s, 0) + CAST(0.0 AS DOUBLE) / nn.n) AS r
             FROM nodes CROSS JOIN nn LEFT JOIN c1 USING (node)),
      c2 AS (SELECT e.dst AS node, sum(r1.r / deg.deg) AS s
             FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
             GROUP BY e.dst),
      r2 AS (SELECT nodes.node,
                    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
                    CAST(0.85 AS DOUBLE) * (coalesce(c2.s, 0) + CAST(0.0 AS DOUBLE) / nn.n) AS r
             FROM nodes CROSS JOIN nn LEFT JOIN c2 USING (node)),
      c3 AS (SELECT e.dst AS node, sum(r2.r / deg.deg) AS s
             FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
             GROUP BY e.dst),
      r3 AS (SELECT nodes.node,
                    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
                    CAST(0.85 AS DOUBLE) * (coalesce(c3.s, 0) + CAST(0.0 AS DOUBLE) / nn.n) AS r
             FROM nodes CROSS JOIN nn LEFT JOIN c3 USING (node))
      SELECT node, round(r, 9) AS rank FROM r3 ORDER BY node""")),

    // fuzzy self-join: all customer-name pairs within edit distance 1
    // via deletion-variant blocking + exact levenshtein verify. The
    // oracle blocks on the same PROVEN-exact ≤1-deletion signatures
    // (Mor–Fraenkel: ed(s,t)≤1 ⇒ s,t share a ≤1-deletion variant, so
    // candidates are a superset and the verify is exact) — the former
    // brute-force cross join ground 112M levenshtein calls at sf0.1
    // (>10 min in DuckDB); this form was validated equal to it at
    // sf0.01 and runs in seconds at sf0.1
    Q("q129_fuzzy_join", (s, d) => {
      import s.implicits._
      Fuzzy.editDistancePairs(
          T.customer(s, d), "c_custkey", "c_name",
          maxDist = 1)
        .orderBy($"id_a", $"id_b")
    }, Some("""
      WITH vlist AS (SELECT c_custkey, length(c_name) AS ln,
             list_prepend(c_name, list_transform(range(1, length(c_name) + 1),
               i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1))) AS vs
           FROM customer),
      vars AS (SELECT c_custkey, ln, unnest(list_distinct(vs)) AS v FROM vlist),
      cand AS (SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
               FROM vars a JOIN vars b ON a.v = b.v AND a.c_custkey < b.c_custkey
                                       AND abs(a.ln - b.ln) <= 1)
      SELECT id_a, id_b, levenshtein(ca.c_name, cb.c_name) AS dist
      FROM cand JOIN customer ca ON ca.c_custkey = id_a
                JOIN customer cb ON cb.c_custkey = id_b
      WHERE levenshtein(ca.c_name, cb.c_name) <= 1
      ORDER BY id_a, id_b""")),

    // MapState (State API v2's wide-state cell): per-user per-event-type
    // running counts as a category->count map on the RocksDB store, each
    // batch emitting only the categories it touched. The drained
    // changelog's per-(user, type) max equals the batch aggregate
    // (counts are monotone)
    Q("q128_map_state", (s, d) => {
      import s.implicits._
      val schema = T.table(s, d, "events").schema
      val src = s.readStream.schema(schema).parquet(s"$d/events.*")
        .select($"user_id".cast("long"), $"event_type".cast("string"))
        .as[(Long, String)]
      val changelog = StatefulOps.categoryCounts(src).toDF("user_id", "event_type", "n")
      Streams.drain(changelog, "update", StatefulOps.RocksDbProvider)
        .groupBy($"user_id", $"event_type")
        .agg(max($"n").as("n_events"))
        .orderBy($"user_id", $"event_type")
    }, Some("""
      SELECT user_id, event_type, count(*) AS n_events
      FROM events GROUP BY user_id, event_type
      ORDER BY user_id, event_type""")),

    // Spark 4 transformWithState (State API v2): per-user running
    // count+sum as typed ValueState cells on the RocksDB store, update-
    // mode changelog drained to its end; the final per-key rows
    // must equal the batch aggregate
    Q("q126_transform_with_state", (s, d) => {
      import s.implicits._
      val schema = T.table(s, d, "events").schema
      val src = s.readStream.schema(schema).parquet(s"$d/events.*")
        .select($"user_id".cast("long"), $"value".cast("double"))
        .as[(Long, Double)]
      val changelog = StatefulOps.runningTotals(src).toDF("user_id", "n_events", "sum_value")
      // update mode emits a changelog row per key per batch: the final
      // state is each key's max running count (counts are monotone)
      Streams.drain(changelog, "update", StatefulOps.RocksDbProvider)
        .groupBy($"user_id")
        .agg(max($"n_events").as("n_events"),
          round(max_by($"sum_value", $"n_events"), 2).as("sum_value"))
        .orderBy($"user_id")
    }, Some("""
      SELECT user_id, count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
      FROM events GROUP BY user_id ORDER BY user_id""")),

    // streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    // holds each key only while a duplicate could still arrive (the
    // watermark horizon), vs q73's grow-forever exact dedup — the state
    // shape an unbounded 100 TB stream actually needs. Key columns only,
    // so the surviving-row choice cannot affect the result. The DISTINCT
    // oracle is exact for this fixture's single-file single-batch drain;
    // across batches the operator legitimately re-emits a key whose
    // duplicates arrive > 1h apart (that bounded-memory tradeoff is the
    // operator's point)
    Q("q127_dedup_watermark", (s, d) => {
      import s.implicits._
      val schema = T.table(s, d, "events").schema
      val deduped = T.withEventTs(
          s.readStream.schema(schema).parquet(s"$d/events.*"))
        .withWatermark("ts", "1 hour")
        .select($"user_id", $"event_type", $"ts")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select($"user_id", $"event_type")
      Streams.drain(deduped, "append").orderBy($"user_id", $"event_type")
    }, Some("""
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type""")),

    // bigram LM quality: per-doc mean ln P(w_i | w_{i-1}) under corpus
    // bigram statistics with add-0.5 smoothing (0.5 is exact in binary,
    // so the only float ops are the shared ln/avg, handled like q109)
    Q("q115_bigram_lm", (s, d) => {
      import s.implicits._
      TextAnalysis.bigramLogProb(T.documents(s, d), "doc_id", "text", alpha = 0.5)
        .select($"id".as("doc_id"), $"n_bigrams", $"avg_logp")
        .orderBy($"doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents),
      bi AS (SELECT doc_id, unnest(ws[1:len(ws)-1]) AS a, unnest(ws[2:len(ws)]) AS b
             FROM w WHERE len(ws) >= 2),
      c2 AS (SELECT a, b, count(*) AS c2 FROM bi GROUP BY a, b),
      c1 AS (SELECT a, sum(c2) AS c1 FROM c2 GROUP BY a),
      v AS (SELECT count(DISTINCT w) AS v
            FROM (SELECT unnest(ws) AS w FROM w) t)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(avg(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v))), 6) AS avg_logp
      FROM bi JOIN c2 USING (a, b) JOIN c1 USING (a) CROSS JOIN v
      GROUP BY doc_id ORDER BY doc_id"""))
  )
}
