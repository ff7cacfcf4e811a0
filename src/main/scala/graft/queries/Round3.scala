package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Mixing, Quantiles, TextAnalysis}
import graft.sources.{Tables => T}
import graft.streaming.Streams

/** Round-3 surface additions (q84–q100): multi-column and
  * high-cardinality exact quantiles, Gopher-style repetition filtering,
  * domain rebalancing and hash-based train/val/test splits, stream-static
  * enrichment, token-budget shard packing, embedding near-pair mining,
  * multimodal resize, product-quantized ANN, benchmark decontamination,
  * PII redaction, batch + streaming incremental dedup against a stored
  * band layout, sliding event-time windows, value-range window frames,
  * and the Z-order clustering key.
  */
object Round3 {

  /** Path of the MATERIALIZED corpus band layout for the fixture at `d`,
    * built on first use: the serving artifact BOTH incremental dedup
    * shapes read — q95 (batch) and q97 (streaming) — so no query ever
    * re-shingles corpus text after the one-time indexing job. Keyed by
    * source size AND mtime plus the banding parameters, so a regenerated
    * fixture (even of identical size) or a parameter change can never be
    * served a stale layout. */
  private[graft] def corpusBandLayout(s: SparkSession, d: String): String = {
    val src = new java.io.File(s"$d/documents.parquet")
    val layout = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_band_layout_v2_${src.length()}_${src.lastModified()}_n3h64b16_" +
        d.replaceAll("[^A-Za-z0-9]", "_")).toString
    if (!new java.io.File(layout, "_SUCCESS").exists()) {
      val corpus = T.documents(s, d).filter(col("doc_id") % 10 =!= 0)
      graft.operators.Dedup.bandedSignatures(corpus, "doc_id", "text")
        .write.mode("overwrite").parquet(layout)
    }
    layout
  }

  /** The streaming half of q97: new-doc bands computed map-side
    * IN-FLIGHT, joined per micro-batch against the served corpus band
    * layout — a plain parquet SCAN of [[corpusBandLayout]], not a
    * recompute. Spark re-evaluates the static side of a stream-static
    * join every micro-batch, so what sits there decides the per-batch
    * cost: reading the materialized (id, band, bucket) layout is
    * batch-sized work; re-shingling the corpus (the pre-round-4 shape)
    * was corpus-sized work per batch. Returns the terminated query, for
    * plan inspection; its `name` is the drained memory-sink table's. */
  private[graft] def streamCandidates(s: SparkSession, d: String): StreamingQuery = {
    import s.implicits._
    val corpusBands = s.read.parquet(corpusBandLayout(s, d))
      .select($"id".as("a_id"), $"band", $"bucket")
    val schema = T.table(s, d, "documents").schema
    val fresh = s.readStream.schema(schema).parquet(s"$d/documents.*")
      .filter($"doc_id" % 10 === 0)
    val newBands = graft.operators.Dedup.bandedSignatures(fresh, "doc_id", "text")
      .select($"id".as("b_id"), $"band", $"bucket")
    val pairs = newBands.join(corpusBands, Seq("band", "bucket"))
      .groupBy($"a_id", $"b_id").count()
    Streams.runToEnd(pairs)(Streams.memorySink(_, "complete"))
  }

  val all: Seq[Q] = Seq(

    // several value columns' quantiles from ONE range-partitioned sort:
    // the columns are stack-unpivoted so the sort is paid once for n
    // columns — n independent sorts collapse into one shuffle
    Q("q84_quantiles_multi", (s, d) => {
      import s.implicits._
      Quantiles.exactQuantilesMulti(T.lineitem(s, d), Seq("l_returnflag"),
          Seq("l_quantity", "l_extendedprice"), Seq(0.25, 0.5, 0.75))
        .select($"l_returnflag",
          round($"l_quantity_p25", 6).as("qty_p25"),
          round($"l_quantity_p50", 6).as("qty_p50"),
          round($"l_quantity_p75", 6).as("qty_p75"),
          round($"l_extendedprice_p25", 6).as("price_p25"),
          round($"l_extendedprice_p50", 6).as("price_p50"),
          round($"l_extendedprice_p75", 6).as("price_p75"))
        .orderBy($"l_returnflag")
    }, Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.25), 6) AS qty_p25,
             round(quantile_cont(l_quantity, 0.50), 6) AS qty_p50,
             round(quantile_cont(l_quantity, 0.75), 6) AS qty_p75,
             round(quantile_cont(l_extendedprice, 0.25), 6) AS price_p25,
             round(quantile_cont(l_extendedprice, 0.50), 6) AS price_p50,
             round(quantile_cont(l_extendedprice, 0.75), 6) AS price_p75
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // quantiles with a HIGH-cardinality group key: the driver-histogram
    // path is forced to route to the fully distributed window plan
    // (maxDriverHistogram = 100), proving per-customer medians never
    // materialize group state on the driver
    Q("q85_quantiles_wide", (s, d) => {
      import s.implicits._
      Quantiles.exactQuantiles(T.orders(s, d), Seq("o_custkey"), "o_totalprice",
          Seq(0.5), maxDriverHistogram = 100L)
        .select($"o_custkey", round($"p50", 6).as("med_price"))
        .orderBy($"o_custkey")
    }, Some("""
      SELECT o_custkey, round(quantile_cont(o_totalprice, 0.5), 6) AS med_price
      FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),

    // Gopher-style repetition quality filter: fraction of duplicated word
    // 3-grams per document — high duplication marks boilerplate/spam.
    // Total gram count is arithmetic on the token count and the distinct
    // count comes from the native shingle expression, so the whole filter
    // is codegen'd scalar work with zero shuffles
    Q("q86_ngram_repetition", (s, d) => {
      import s.implicits._
      val total = greatest(TextAnalysis.tokenCount($"text") - 2, lit(0)).cast("long")
      val dist = size(TextAnalysis.shingleSet($"text", 3)).cast("long")
      T.documents(s, d)
        .select($"doc_id", total.as("n_grams"),
          round(when(total > 0,
            lit(1.0) - dist.cast("double") / total.cast("double"))
            .otherwise(lit(0.0)), 6).as("dup_frac"))
        .withColumn("keep", $"dup_frac" <= 0.2)
        .orderBy($"doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents),
      g AS (SELECT doc_id,
                   greatest(len(ws) - 2, 0) AS n_grams,
                   len(list_distinct(list_transform(
                     generate_series(1, greatest(len(ws) - 2, 0)),
                     i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))) AS n_dist
            FROM w)
      SELECT doc_id, n_grams,
             round(CASE WHEN n_grams > 0
                        THEN 1.0 - n_dist * 1.0 / n_grams ELSE 0.0 END, 6) AS dup_frac,
             round(CASE WHEN n_grams > 0
                        THEN 1.0 - n_dist * 1.0 / n_grams ELSE 0.0 END, 6) <= 0.2 AS keep
      FROM g ORDER BY doc_id""")),

    // domain mixture rebalancing: deterministically downsample each
    // source toward a target count — the step that turns a raw crawl into
    // a weighted training mixture; one scan + broadcast of |domains| rows
    Q("q87_domain_mix", (s, d) => {
      import s.implicits._
      Mixing.rebalanceDomains(T.documents(s, d), "source", "doc_id", targetPerDomain = 10L)
        .groupBy($"source").agg(count(lit(1)).as("n_kept"))
        .orderBy($"source")
    }, Some("""
      WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source)
      SELECT d.source, count(*) AS n_kept
      FROM documents d JOIN c USING (source)
      WHERE ((d.doc_id % 2147483648) * 2246822519) % 1000 <
            least(1000, floor(1000.0 * 10.0 / c.n))
      GROUP BY d.source ORDER BY d.source""")),

    // stream-static enrichment join: the streaming event feed picks up a
    // BROADCAST static dimension per micro-batch (no stream state, no
    // watermark needed for stream-static inner joins) — the standard
    // "enrich the firehose with reference data" shape
    Q("q88_stream_static_join", (s, d) => {
      import s.implicits._
      val schema = T.table(s, d, "events").schema
      val dim = broadcast(T.customer(s, d)
        .select($"c_custkey".as("user_id"), $"c_mktsegment"))
      val enriched = s.readStream.schema(schema).parquet(s"$d/events.*")
        .select($"user_id", $"event_type", $"value")
        .join(dim, "user_id")
        .groupBy($"c_mktsegment", $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value".cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
      Streams.drain(enriched, "complete").orderBy($"c_mktsegment", $"event_type")
    }, Some("""
      SELECT c_mktsegment, event_type, count(*) AS n,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment, event_type ORDER BY c_mktsegment, event_type""")),

    // token-budget shard packing: documents in stable order are packed
    // into contiguous shards of ~`budget` tokens — the step that turns a
    // cleaned corpus into fixed-size training shards. The running token
    // total comes from Scale.prefixSum (two-phase distributed scan), NOT
    // a single-partition global window
    Q("q89_pack_shards", (s, d) => {
      import s.implicits._
      val docs = T.documents(s, d)
        .select($"doc_id", TextAnalysis.tokenCount($"text").as("n_tokens"))
      graft.operators.Scale.prefixSum(docs, "doc_id", "n_tokens", "cum")
        .withColumn("shard", (($"cum" - $"n_tokens") / lit(2000L)).cast("long"))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").cast("long").as("shard_tokens"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
        .orderBy($"shard")
    }, Some("""
      WITH t AS (SELECT doc_id,
                        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
                 FROM documents),
      c AS (SELECT doc_id, n_tokens,
                   sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM t)
      SELECT CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard,
             count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY shard ORDER BY shard""")),

    // rows-only: embedding near-dup PAIRS at scale — banded hyperplane
    // LSH candidates + exact-cosine verify (precision exact, recall
    // pinned by AnnRecallSpec against the brute-force pair set). The
    // fixture embeddings are near-orthogonal (max pairwise cosine ≈ 0.47
    // — no natural near-dups), so the query plants perturbed copies of
    // part of the corpus: exactly the augmented/re-encoded duplicates a
    // real pipeline hunts, and deterministic so the row set is stable
    Q("q90_embed_near_pairs", (s, d) => {
      import s.implicits._
      val emb = T.embeddings(s, d)
      val perturbed = emb.filter($"vec_id" < 200)
        .select(($"vec_id" + 1000000L).as("vec_id"),
          transform($"embedding", x => x + lit(0.02f)).as("embedding"))
      graft.operators.Similarity.lshNearPairs(
          emb.select($"vec_id", $"embedding").unionByName(perturbed), threshold = 0.9)
        .orderBy($"a_id", $"b_id")
    }, None),

    // multimodal resize + feature re-extraction: stride-subsample each
    // payload (the stub analog of image downscaling), then re-run the
    // codec's feature pass over the resized bytes — partition-batched,
    // oracle replays the identical byte-order arithmetic
    Q("q91_multimodal_resize", (s, d) => {
      import s.implicits._
      graft.operators.Multimodal.resizeFeatures(s,
          graft.operators.Multimodal.withPayload(T.documents(s, d), "text"), stride = 4)
        .select($"doc_id", $"width", $"height", $"n_bytes".as("n_resized"),
          round($"feat_norm", 6).as("feat_norm"))
        .orderBy($"doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id, text,
                        CAST(octet_length(encode(text)) AS BIGINT) AS n
                 FROM documents),
      r AS (SELECT doc_id, text, (n + 3) // 4 AS m FROM d),
      f AS (SELECT doc_id, m,
                   CAST(64 + (m % 192) AS INT) AS width,
                   CAST(64 + (ascii(substring(text, 1, 1)) % 128) AS INT) AS height,
                   list_transform(range(0, 8), j ->
                     coalesce(list_sum(list_transform(
                       list_filter(range(0, CAST(m AS INT)), k -> k % 8 = j),
                       k -> ascii(substring(text, CAST(k * 4 + 1 AS INT), 1)) / 255.0)), 0.0)) AS feats
            FROM r)
      SELECT doc_id, width, height, CAST(m AS BIGINT) AS n_resized,
             round(sqrt(list_sum(list_transform(feats, x -> x * x))), 6) AS feat_norm
      FROM f ORDER BY doc_id""")),

    // rows-only: product-quantized ANN — vectors stored as 8 codebook
    // codes (~16-32x smaller than raw floats), probes score against the
    // codebook reconstruction (asymmetric: query side exact). Near-dups
    // are planted as in q90; AnnRecallSpec pins that PQ still surfaces
    // each probe's planted twin in its top-k despite the compression
    Q("q92_ann_pq", (s, d) => {
      import s.implicits._
      val emb = T.embeddings(s, d)
      val perturbed = emb.filter($"vec_id" < 50)
        .select(($"vec_id" + 1000000L).as("vec_id"),
          transform($"embedding", x => x + lit(0.02f)).as("embedding"))
      val corpus = emb.select($"vec_id", $"embedding").unionByName(perturbed)
      graft.operators.Similarity.pqTopK(corpus, emb.filter($"vec_id" < 20), topK = 5)
        .select($"probe_id", $"vec_id", $"sim", $"rnk")
        .orderBy($"probe_id", $"rnk")
    }, None),

    // benchmark decontamination: every 25th document plays the role of
    // the eval set; the rest of the corpus is screened for word-3-gram
    // overlap with it. The eval gram set is broadcast, so the corpus is
    // scanned once map-side — no corpus self-join
    Q("q93_decontaminate", (s, d) => {
      import s.implicits._
      val docs = T.documents(s, d)
      graft.operators.Decontaminate.contaminationStats(
          docs.filter($"doc_id" % 25 =!= 0), docs.filter($"doc_id" % 25 === 0),
          "doc_id", "text", n = 3)
        .withColumn("contaminated", $"n_contaminated" >= 3)
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
      hits AS (SELECT c.doc_id, count(*) AS n_contaminated
               FROM (SELECT doc_id, unnest(s) AS gram FROM sh
                     WHERE doc_id % 25 <> 0) c
               JOIN ev USING (gram) GROUP BY 1)
      SELECT doc_id, n_contaminated, n_contaminated >= 3 AS contaminated
      FROM hits ORDER BY doc_id""")),

    // PII scrubbing: the synthetic documents carry no PII, so the
    // PII-bearing text is assembled from the customer dimension (a
    // phone derived deterministically from the key, an email from the
    // name) identically on both sides, then counted and redacted — the
    // map-side scrub every shared-corpus release runs
    Q("q94_pii_redact", (s, d) => {
      import s.implicits._
      val phone = concat(($"c_custkey" % 80 + 10).cast("string"), lit("-"),
        lpad(($"c_custkey" * 7 % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(($"c_custkey" * 13 % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(($"c_custkey" * 31 % 10000).cast("string"), 4, "0"))
      val msg = concat(lit("Contact "), $"c_name", lit(" at "), phone,
        lit(" or "), lower(regexp_replace($"c_name", "[^A-Za-z0-9]", "")),
        lit("@example.com"), lit(" about the order."),
        when($"c_custkey" % 3 === 0, concat(lit(" Alt: "), phone))
          .otherwise(lit("")))
      T.customer(s, d)
        .select($"c_custkey", msg.as("msg"))
        .select($"c_custkey",
          graft.operators.TextAnalysis.piiCount($"msg",
            graft.operators.TextAnalysis.emailPattern).as("n_emails"),
          graft.operators.TextAnalysis.piiCount($"msg",
            graft.operators.TextAnalysis.phonePattern).as("n_phones"),
          graft.operators.TextAnalysis.redactPii($"msg").as("redacted"))
        .orderBy($"c_custkey")
    }, Some("""
      WITH p AS (SELECT c_custkey, c_name,
                        concat(CAST(c_custkey % 80 + 10 AS VARCHAR), '-',
                               lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0'), '-',
                               lpad(CAST(c_custkey * 13 % 1000 AS VARCHAR), 3, '0'), '-',
                               lpad(CAST(c_custkey * 31 % 10000 AS VARCHAR), 4, '0')) AS phone
                 FROM customer),
      m AS (SELECT c_custkey,
                   concat('Contact ', c_name, ' at ', phone, ' or ',
                          lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')),
                          '@example.com', ' about the order.',
                          CASE WHEN c_custkey % 3 = 0
                               THEN concat(' Alt: ', phone) ELSE '' END) AS msg
            FROM p)
      SELECT c_custkey,
             CAST(len(regexp_extract_all(msg,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
             CAST(len(regexp_extract_all(msg,
               '[0-9]{2,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
             regexp_replace(regexp_replace(msg,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '[0-9]{2,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
      FROM m ORDER BY c_custkey""")),

    // incremental near-dup dedup: every 10th document arrives as the NEW
    // batch; the rest is the existing corpus whose banded MinHash layout
    // is already materialized. Candidates come from the (band, bucket)
    // join against that layout — corpus text is then touched only for
    // the few colliding docs (broadcast semi-join) — so per-increment
    // cost scales with the batch, not the corpus. The oracle is the full
    // brute-force cross-set Jaccard, so this also pins banding recall
    Q("q95_incremental_dedup", (s, d) => {
      import s.implicits._
      val docs = T.documents(s, d)
      val corpus = docs.filter($"doc_id" % 10 =!= 0)
      val fresh = docs.filter($"doc_id" % 10 === 0)
      // serving shape: the corpus band layout is MATERIALIZED once (first
      // call pays the shingle+sign job) and every later increment reads
      // it back — corpus text is never re-shingled per batch
      graft.operators.Dedup.incrementalNearDupPairs(
          s.read.parquet(corpusBandLayout(s, d)), corpus, fresh,
          "doc_id", "text", threshold = 0.5)
        .orderBy($"a_id", $"b_id")
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
               FROM jpost a JOIN jpost b
                 ON a.g = b.g AND a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
               GROUP BY 1, 2),
      pairs AS (SELECT a_id, b_id,
                       round(c * 1.0 / (sa.n + sb.n - c), 6) AS sim
                FROM jcom JOIN jsz sa ON sa.doc_id = a_id
                          JOIN jsz sb ON sb.doc_id = b_id)
      SELECT a_id, b_id, sim FROM pairs WHERE sim >= 0.5
      ORDER BY a_id, b_id""")),

    // the same incremental dedup as a CONTINUOUS pipeline: new docs
    // arrive on a stream, are shingled/signed/banded map-side in-flight
    // (the signature expression is stream-safe), matched per micro-batch
    // against the SERVED corpus band layout — a parquet scan of the
    // materialized index, never a recompute (see streamCandidates) — and
    // the surviving candidate pairs are exact-Jaccard-verified batch-side
    // after the drain — ingestion-time dedup rather than a nightly batch
    Q("q97_stream_incremental_dedup", (s, d) => {
      import s.implicits._
      val docs = T.documents(s, d)
      val candidates = s.table(streamCandidates(s, d).name)
      val sets = graft.operators.Dedup.shingleSets(docs, "doc_id", "text")
      candidates
        .join(sets.select($"id".as("a_id"), $"shingles".as("sa")), "a_id")
        .join(sets.select($"id".as("b_id"), $"shingles".as("sb")), "b_id")
        .select($"a_id", $"b_id",
          round(graft.operators.TextAnalysis.jaccard($"sa", $"sb"), 6).as("sim"))
        .filter($"sim" >= 0.5)
        .orderBy($"a_id", $"b_id")
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
               FROM jpost a JOIN jpost b
                 ON a.g = b.g AND a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
               GROUP BY 1, 2),
      pairs AS (SELECT a_id, b_id,
                       round(c * 1.0 / (sa.n + sb.n - c), 6) AS sim
                FROM jcom JOIN jsz sa ON sa.doc_id = a_id
                          JOIN jsz sb ON sb.doc_id = b_id)
      SELECT a_id, b_id, sim FROM pairs WHERE sim >= 0.5
      ORDER BY a_id, b_id""")),

    // deterministic train/val/test split: multiplicative-hash slots give
    // every row a stable split assignment — pure map-side arithmetic, no
    // RNG, identical on every run/engine/cluster size; checked per
    // (split, lang) so the hash boundaries themselves are verified
    Q("q96_dataset_split", (s, d) => {
      import s.implicits._
      graft.operators.Mixing.splitByHash(T.documents(s, d), "doc_id", "split",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n"), min($"doc_id").as("min_id"))
        .orderBy($"split", $"lang")
    }, Some("""
      WITH t AS (SELECT lang, doc_id,
                        CASE WHEN ((doc_id % 2147483648) * 2654435761) % 1000 < 800 THEN 'train'
                             WHEN ((doc_id % 2147483648) * 2654435761) % 1000 < 900 THEN 'val'
                             ELSE 'test' END AS split
                 FROM documents)
      SELECT split, lang, count(*) AS n, min(doc_id) AS min_id
      FROM t GROUP BY split, lang ORDER BY split, lang""")),

    // SLIDING event-time windows (1 h window / 30 min hop): every event
    // contributes to the two overlapping windows covering it — the
    // moving-average shape tumbling windows can't express. The oracle
    // reproduces Spark's epoch-aligned starts by exploding each event to
    // its two bucket starts (DuckDB time_bucket's 2000-01-01 origin is
    // 30-min-aligned with the epoch grid, so the boundaries coincide)
    Q("q98_sliding_window", (s, d) => {
      import s.implicits._
      T.events(s, d)
        .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value".cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
        .select($"window.start".as("win_start"), $"event_type", $"n", $"sum_value")
        .orderBy($"win_start", $"event_type")
    }, Some("""
      WITH e AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS g,
                        event_type, value FROM events),
      w AS (SELECT unnest([g, g - INTERVAL '30 minutes']) AS win_start,
                   event_type, value FROM e)
      SELECT win_start, event_type, count(*) AS n,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
      FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""")),

    // VALUE-range window frame (RANGE BETWEEN, not ROWS BETWEEN): each
    // order's trailing-30-day revenue for its customer — the frame spans
    // whatever number of rows falls in the day range, which a row-count
    // frame cannot express; day-level ties are all peers, so the result
    // is deterministic under any partitioning
    Q("q99_range_frame", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"o_custkey").orderBy($"__d")
        .rangeBetween(-29, 0)
      T.orders(s, d)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice",
          datediff($"o_orderdate", lit("1970-01-01")).cast("long").as("__d"))
        .withColumn("rev_30d", round(sum($"o_totalprice".cast("decimal(18,2)")).over(w).cast("double"), 2))
        .select($"o_orderkey", $"o_custkey", $"rev_30d")
        .orderBy($"o_orderkey")
    }, Some("""
      SELECT o_orderkey, o_custkey,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
               RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS rev_30d
      FROM orders ORDER BY o_orderkey""")),

    // Z-order (Morton) clustering key: bit-interleave of two dimensions,
    // the sort key behind multi-dimensional data-skipping layouts
    // (Scale.zOrderWrite; ScaleSpec proves per-file bounding boxes shrink
    // on BOTH dims). The oracle spells out the same interleave bit by bit
    Q("q100_zorder", (s, d) => {
      import s.implicits._
      T.part(s, d)
        .select($"p_partkey",
          graft.operators.Scale.zValue(
            pmod($"p_partkey", lit(1024L)),
            pmod($"p_size".cast("long") * 37L, lit(1024L)), bits = 10).as("z"))
        .orderBy($"p_partkey")
    }, Some {
      val terms = (0 until 10).flatMap(i => Seq(
        s"((((p_partkey % 1024) >> $i) & 1) << ${2 * i})",
        s"(((((p_size * 37) % 1024) >> $i) & 1) << ${2 * i + 1})"))
      s"""
      SELECT p_partkey,
             CAST(${terms.mkString(" + ")} AS BIGINT) AS z
      FROM part ORDER BY p_partkey"""
    })
  )
}
