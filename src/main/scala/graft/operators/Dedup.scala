package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators: exact and near-duplicate (SURVEY §2.3).
  *
  * All variants are shuffle-based DataFrame plans with no driver-side
  * loops, so they scale to arbitrary corpus sizes:
  *
  *  - exact: hash-groupBy on the key (or a digest of it) — one shuffle.
  *  - MinHash+LSH: shingle → 64 minhashes → 16 bands × 4 rows →
  *    bucket-join candidates → exact-Jaccard verify. Shuffles are on
  *    doc_id (signature agg) and (band, bucket) (candidate join); hot
  *    buckets (boilerplate shingles) are the skew risk at 100 TB — AQE
  *    skew-join plus the distinct-pair dedup keep it bounded.
  *  - SimHash: 64-bit sketch; banded self-join on `maxHamming + 1` chunks.
  *    Pigeonhole makes the banding COMPLETE: a pair differing in at most
  *    `maxHamming` bits cannot differ in all `maxHamming + 1` chunks, so
  *    it shares at least one chunk exactly and becomes a candidate; the
  *    `bit_count(a ^ b)` verify then gives exact precision. Larger radii
  *    mean narrower chunks (64 / (r+1) bits) and therefore denser buckets
  *    — candidate volume, not recall, is what a large radius costs.
  */
object Dedup {

  /** Exact dedup on explicit key columns (keeps an arbitrary row). */
  def exact(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** Exact dedup keeping the minimum id per key — deterministic
    * representative, verifiable against a GROUP BY oracle. */
  def exactKeepMinId(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** (id, shingles) — distinct word n-gram sets per document. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs.select(col(idCol).as("id"),
      TextAnalysis.shingleSet(col(textCol), n).as("shingles"))

  /** MinHash signatures: per document, the minimum of a universal hash
    * family over its shingles, one array column per document. Computed by
    * the [[graft.functions.MinHashSignature]] expression where the row
    * already lives — each shingle string is hashed once and re-mixed per
    * slot; no explode, no groupBy, no shuffle (the explode + 64×min-agg
    * formulation shuffled every shingle and re-hashed the full string per
    * slot). */
  def minHashSignatures(shingles: DataFrame, numHashes: Int = 64): DataFrame =
    shingles.select(col("id"),
      graft.functions.Functions.minhash_signature(col("shingles"), numHashes).as("sig"))

  /** (id, band, bucket) banding of MinHash signatures: one row per
    * document per band, bucket = hash of that band's signature slice. */
  private def banded(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("id"), posexplode(
      array((0 until bands).map(b =>
        hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)).as(Seq("band", "bucket")))

  /** LSH banding: documents sharing any (band, bucket) are candidates.
    * Returns distinct (a_id, b_id) with a_id < b_id. */
  def lshCandidates(sigs: DataFrame, bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val bd = banded(sigs, bands, rowsPerBand)
    val a = bd.as("a")
    val b = bd.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
  }

  /** The banded-signature layout of a corpus: (id, band, bucket), one row
    * per doc per band. This is the artifact an INCREMENTAL dedup pipeline
    * persists (e.g. parquet bucketed on (band, bucket)): each new batch
    * joins against it without re-reading or re-shingling corpus text.
    * Docs with empty shingle sets are dropped (see
    * [[minHashNearDupPairs]]). */
  def bandedSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, shingleN)
      .filter(size(col("shingles")) > 0)
    banded(minHashSignatures(sets, numHashes), bands, numHashes / bands)
  }

  /** Incremental near-dup check: a NEW batch of documents against an
    * EXISTING corpus whose banded signatures are already materialized —
    * the production shape at 100 TB, where re-shingling the corpus per
    * increment is off the table.
    *
    *  - candidates: new-batch bands ⋈ stored corpus bands on
    *    (band, bucket) — corpus text untouched;
    *  - verify: exact Jaccard, re-shingling ONLY candidate rows. The
    *    candidate a-ids are broadcast-semi-joined into the corpus scan,
    *    so corpus text is read just for the (few) docs the new batch
    *    collides with.
    *
    * Returns (a_id ∈ corpus, b_id ∈ new batch, sim ≥ threshold). New docs
    * absent from the result are safe to admit; pairs feed the same
    * connectedComponents → anti-join chain as the batch pipeline.
    */
  def incrementalNearDupPairs(corpusBands: DataFrame, corpusDocs: DataFrame,
      newDocs: DataFrame, idCol: String, textCol: String, threshold: Double,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val newBands = bandedSignatures(newDocs, idCol, textCol, shingleN, numHashes, bands)
    // the increment is small by definition — broadcast its bands so the
    // stored corpus layout streams through a map-side join, unshuffled
    val cands = corpusBands.as("a").join(broadcast(newBands.as("b")),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    val hitCorpus = corpusDocs.join(
      broadcast(cands.select(col("a_id").as(idCol)).distinct()), Seq(idCol), "left_semi")
    val sa = shingleSets(hitCorpus, idCol, textCol, shingleN)
      .select(col("id").as("a_id"), col("shingles").as("sa"))
    val sb = shingleSets(newDocs, idCol, textCol, shingleN)
      .select(col("id").as("b_id"), col("shingles").as("sb"))
    cands.join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"),
        round(TextAnalysis.jaccard(col("sa"), col("sb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Full near-dup pipeline: LSH candidates verified by exact Jaccard.
    *
    * Documents with an empty shingle set (shorter than the shingle width)
    * are dropped BEFORE signatures: they would all share the identical
    * all-`Long.MaxValue` signature, collide in every band, and
    * materialize O(m²) candidate pairs for m short docs — pairs the
    * exact-Jaccard verify would discard anyway (0/0 similarity is null).
    */
  def minHashNearDupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    // eager checkpoint, not cache: three consumers (signatures + both
    // verify sides) read the shingle sets, and the blocks are freed with
    // the returned plan instead of pinning the CacheManager per call
    val sets = shingleSets(docs, idCol, textCol, shingleN)
      .filter(size(col("shingles")) > 0).barrier()
    val cands = lshCandidates(minHashSignatures(sets, numHashes), bands, numHashes / bands)
    cands
      .join(sets.select(col("id").as("a_id"), col("shingles").as("sa")), "a_id")
      .join(sets.select(col("id").as("b_id"), col("shingles").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(TextAnalysis.jaccard(col("sa"), col("sb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Exact shingle-Jaccard pairs via an inverted index: explode shingles,
    * self-join on the shingle, count common shingles per pair, then
    * |A∩B| / (|A|+|B|−|A∩B|). Pairs sharing no shingle are never
    * materialized — the scale path for brute-force similarity (the naive
    * cross-join is O(n²) in documents; this is linear in the posting
    * lists). Hot shingles are the skew risk; AQE skew-join handles them.
    */
  def shingleJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, shingleN)
    val sizes = sets.select(col("id"), size(col("shingles")).as("n"))
    val ex = sets.select(col("id"), explode(col("shingles")).as("sh"))
    val common = ex.as("a").join(ex.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .agg(count(lit(1)).as("ni"))
    common
      .join(sizes.select(col("id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("id").as("b_id"), col("n").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("ni") / (col("na") + col("nb") - col("ni")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** APPLY step for substring dedup (the Lee et al. 2022 removal pass
    * [[duplicatedSpans]] only reports): delete every duplicated k-token
    * window occurrence from the corpus EXCEPT its canonical first
    * occurrence — canonical = lexicographically-minimal (doc, pos) per
    * exact window text, so the choice is deterministic under any
    * partitioning. A position survives unless covered by some removed
    * occurrence; the cleaned document is its surviving tokens in
    * original order.
    *
    * Spark shape: same slim rolling-hash pipeline as
    * [[duplicatedPositions]] (token arrays never shuffle; only
    * colliding windows are ever tokenized, exact-text verified), plus
    * one gram-keyed canonical window, a span-bounded position explode,
    * and one anti-join — all keyed shuffles. Returns
    * `(id, n_tokens, n_removed, cleaned)` for EVERY doc (cleaned =
    * single-space re-joined surviving tokens). */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = docs.select(col(idCol).as("id"), col(textCol).as("__t"))
    val wins = raw.select(col("id"),
      posexplode(graft.functions.Functions.token_window_hashes(col("__t"), k))
        .as(Seq("pos", "__wh")))
    val repeats = wins.select(col("__wh"))
      .groupBy(col("__wh")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
    val candByDoc = wins.join(repeats, "__wh")
      .groupBy(col("id")).agg(collect_list(col("pos")).as("__ps"))
    val cand = raw.join(candByDoc, Seq("id"))
      .select(col("id"), TextAnalysis.tokens(col("__t")).as("__ws"), col("__ps"))
      .select(col("id"), explode(transform(col("__ps"), p =>
        struct(p.as("pos"),
          concat_ws(" ", slice(col("__ws"), p + lit(1), lit(k))).as("__gram"))))
        .as("__pg"))
      .select(col("id"), col("__pg.pos").as("pos"),
        col("__pg.__gram").as("__gram"))
    val verified = cand
      .withColumn("__gn", count(lit(1)).over(Window.partitionBy(col("__gram"))))
      .filter(col("__gn") >= 2)
    val removed = verified
      .withColumn("__rn", row_number().over(Window
        .partitionBy(col("__gram")).orderBy(col("id"), col("pos"))))
      .filter(col("__rn") > 1) // canonical first occurrence survives
    val covered = removed
      .select(col("id"), explode(sequence(col("pos"),
        col("pos") + lit(k - 1))).as("rp"))
      .distinct()
    val toks = raw.select(col("id"),
        posexplode(TextAnalysis.tokens(col("__t"))).as(Seq("tp", "tok")))
      .filter(col("tok") =!= "")
    val kept = toks.join(covered,
        toks("id") === covered("id") && col("tp") === col("rp"),
        "left_anti")
    val stats = toks.groupBy(col("id")).agg(count(lit(1)).as("n_tokens"))
    val keptAgg = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("__nk"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("tp"), col("tok")))),
          s => s.getField("tok"))).as("cleaned"))
    // stats is the base: a fully-removed doc must still report, with an
    // empty cleaned text, not vanish
    stats.join(keptAgg, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__nk"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Prefix-filtered set-similarity join (PPJoin-lite; Xiao, Wang, Lin
    * & Yu 2008): exact Jaccard pairs at threshold `tNum/tDen`, but the
    * candidate space comes from joining only each set's PREFIX — the
    * first `n − ⌈t·n⌉ + 1` tokens in a global (frequency asc, token)
    * canonical order. The prefix-filter theorem guarantees any pair
    * with J ≥ t shares at least one prefix token, so the result is
    * IDENTICAL to [[shingleJaccardPairs]] while the index join carries
    * a small fraction of the postings — and the rare-token-first order
    * concentrates candidates on low-frequency postings, killing the
    * hot-token skew the full inverted join suffers at scale.
    *
    * The threshold is a RATIONAL (tNum/tDen) so the prefix length is
    * exact integer arithmetic; the final filter mirrors
    * shingleJaccardPairs' rounded-sim convention. Verification joins
    * the full postings of CANDIDATE pairs only (cost ∝ Σ_cand |a|,
    * never the all-pairs product). */
  def ppJoinPairs(docs: DataFrame, idCol: String, textCol: String,
      tNum: Int, tDen: Int, shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a fraction in (0,1]: $tNum/$tDen")
    val sets = shingleSets(docs, idCol, textCol, shingleN)
    val sizes = sets.select(col("id"), size(col("shingles")).as("n"))
    val ex = sets.select(col("id"), explode(col("shingles")).as("sh"))
    val freq = ex.groupBy(col("sh")).agg(count(lit(1)).as("__f"))
    val prefix = ex.join(freq, "sh")
      .withColumn("__rnk", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("__f").asc, col("sh").asc)))
      .join(sizes, "id")
      // p = n − ceil(t·n) + 1, in exact integer arithmetic
      .withColumn("__p",
        col("n") - expr(s"(n * $tNum + ${tDen - 1}) div $tDen") + 1)
      .filter(col("__rnk") <= col("__p"))
      .select(col("id"), col("sh"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id")).distinct()
    val common = cand
      .join(ex.select(col("id").as("a_id"), col("sh")), "a_id")
      .join(ex.select(col("id").as("b_id"), col("sh")), Seq("b_id", "sh"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("ni"))
    common
      .join(sizes.select(col("id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("id").as("b_id"), col("n").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("ni") / (col("na") + col("nb") - col("ni")), 6).as("sim"))
      .filter(col("sim") >= lit(tNum.toDouble / tDen))
  }

  /** Asymmetric shingle CONTAINMENT pairs: containment(a ⊆ b) =
    * |sh(a) ∩ sh(b)| / |sh(a)| ≥ threshold — the signal symmetric
    * Jaccard misses when the container is much larger than the
    * contained doc (quotes, boilerplate wrappers, subset pages; the
    * near-dup literature's containment dedup). Output is DIRECTED
    * (a_id largely contained in b_id); both directions fall out of one
    * inverted-index self-join — same scale shape as
    * [[shingleJaccardPairs]], shared shingles drive the pair space,
    * never a cross join. */
  def shingleContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, shingleN)
    val sizes = sets.select(col("id"), size(col("shingles")).as("n"))
    val ex = sets.select(col("id"), explode(col("shingles")).as("sh"))
    val common = ex.as("a").join(ex.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .agg(count(lit(1)).as("ni"))
    common
      .join(sizes.select(col("id").as("a_id"), col("n").as("na")), "a_id")
      .select(col("a_id"), col("b_id"),
        round(col("ni") / col("na"), 6).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Maximal EXACT repeated token spans — the substring-level dedup of
    * published training-data pipelines (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": repeated ~50-token
    * spans), re-expressed for Spark: a suffix array does not distribute,
    * but the same spans fall out of k-token window hashes, a corpus-wide
    * repeat test and per-document island merging.
    *
    *  - windows: every k-token window hashed map-side by
    *    [[graft.functions.TokenWindowHashes]] (rolling, O(tokens) per
    *    doc) — windows travel the shuffle as 8-byte longs, not k-token
    *    strings;
    *  - repeated candidates: window hashes occurring at ≥ 2 corpus
    *    positions (same or different documents). Hash equality is
    *    COMPLETE (equal text ⇒ equal hash), so no true repeat is missed;
    *  - verify: candidate windows — and only those — reconstruct their
    *    exact token text and are re-counted on it, removing hash
    *    collisions. Result is exact on both axes, hence DuckDB-oracleable;
    *  - spans: consecutive duplicated positions merge into maximal spans
    *    (gaps-and-islands per document).
    *
    * Returns (id, start_pos, span_tokens, n_windows) per maximal
    * repeated span, one row per span. At 100 TB the wide shuffles carry
    * only (hash) / (id, pos) slim rows — exploded window rows never
    * carry token arrays (an early version did; the per-row array copy
    * dominated runtime even locally). Candidate grams are materialized
    * by a second map-side pass over the corpus: the per-doc candidate
    * position lists join back broadcast, so no token array ever crosses
    * the network. The text-side shuffle is bounded by the candidate
    * count; boilerplate hot windows are the usual skew risk (AQE
    * skew-join; a stop-window count guard is the knob if a single
    * window recurs millions of times).
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, broadcastCandidates: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dup = duplicatedPositions(docs, idCol, textCol, k, broadcastCandidates)
    // gaps-and-islands: runs of consecutive duplicated positions form one
    // maximal span of (last - first + k) tokens
    val isl = Window.partitionBy(col("id")).orderBy(col("pos"))
    dup.withColumn("__grp", col("pos") - row_number().over(isl))
      .groupBy(col("id"), col("__grp"))
      .agg(min(col("pos")).as("start_pos"),
        (max(col("pos")) - min(col("pos")) + lit(k)).as("span_tokens"),
        count(lit(1)).cast("int").as("n_windows"))
      .select(col("id"), col("start_pos"), col("span_tokens"), col("n_windows"))
  }

  /** The exact duplicated window positions behind [[duplicatedSpans]]:
    * (id, pos) for every k-token window occurring at ≥ 2 corpus
    * positions. Hash candidates first (slim 8-byte rows through every
    * wide shuffle), exact-text verify second (kills collisions) — see
    * duplicatedSpans for the full cost model. */
  private[graft] def duplicatedPositions(docs: DataFrame, idCol: String,
      textCol: String, k: Int,
      broadcastCandidates: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = docs.select(col(idCol).as("id"), col(textCol).as("__t"))
    // slim exploded rows: (id, pos, 8-byte hash) — no token arrays
    val wins = raw.select(col("id"),
      posexplode(graft.functions.Functions.token_window_hashes(col("__t"), k))
        .as(Seq("pos", "__wh")))
    val repeats = wins.select(col("__wh"))
      .groupBy(col("__wh")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
    // candidate positions, regrouped per doc (small on a mostly-unique
    // corpus: only colliding windows survive), then joined back to the
    // corpus. By default AQE picks the join from RUNTIME stats — it
    // broadcasts the candidate table when it is actually small and
    // falls back to a shuffle join on a boilerplate-heavy corpus where
    // most documents collide and the table is corpus-sized (a forced
    // broadcast() there OOMs; a driver-side count guard would compute
    // the candidate pipeline twice). broadcastCandidates=true forces
    // the map-side build for callers who know their collision rate.
    // Either way tokenization sits above the join, so non-colliding
    // docs never pay it, and token arrays never cross the network
    val candByDoc = wins.join(repeats, "__wh")
      .groupBy(col("id")).agg(collect_list(col("pos")).as("__ps"))
    val candSide = if (broadcastCandidates) broadcast(candByDoc) else candByDoc
    val cand = raw.join(candSide, Seq("id"))
      .select(col("id"), TextAnalysis.tokens(col("__t")).as("__ws"), col("__ps"))
      .select(col("id"), explode(transform(col("__ps"), p =>
        struct(p.as("pos"),
          concat_ws(" ", slice(col("__ws"), p + lit(1), lit(k))).as("__gram"))))
        .as("__pg"))
      .select(col("id"), col("__pg.pos").as("pos"), col("__pg.__gram").as("__gram"))
    // exact-text recount: kills hash collisions (count over a window —
    // one shuffle on the candidate grams, no second aggregate+join)
    cand
      .withColumn("__gn", count(lit(1)).over(Window.partitionBy(col("__gram"))))
      .filter(col("__gn") >= 2)
      .select(col("id"), col("pos"))
  }

  /** Per-document duplication ratio — the document-level DROP SCORE of
    * substring dedup (Lee et al. 2022 discard documents whose content is
    * mostly corpus-duplicated text): the fraction of a document's
    * k-token windows that occur elsewhere in the corpus (or again in the
    * same document). Exact (hash-candidates + text verify, like
    * [[duplicatedSpans]]), so the scores are DuckDB-oracleable.
    *
    * Returns (id, n_windows, dup_windows, dup_ratio) for every document
    * with at least one window; dup_ratio ∈ [0,1] rounded to 6 places.
    */
  def duplicationRatio(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, broadcastCandidates: Boolean = false): DataFrame = {
    val totals = docs.select(col(idCol).as("id"),
        greatest(size(TextAnalysis.tokens(col(textCol))) - lit(k - 1), lit(0))
          .cast("long").as("n_windows"))
      .filter(col("n_windows") > 0)
    val dups = duplicatedPositions(docs, idCol, textCol, k, broadcastCandidates)
      .groupBy(col("id")).agg(count(lit(1)).as("dup_windows"))
    totals.join(dups, Seq("id"), "left")
      .select(col("id"), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        round(coalesce(col("dup_windows"), lit(0L)) / col("n_windows"), 6)
          .as("dup_ratio"))
  }

  /** Connected components over an undirected pair list — the missing
    * last step of a dedup pipeline: LSH pairs → groups → keep one
    * representative per group. Returns (id, component) with component =
    * min id reachable.
    *
    * Hybrid execution: the near-dup pair set is orders of magnitude
    * smaller than the corpus (it IS the duplicates), so when it fits in
    * `maxDriverEdges` the components come from a driver-side union-find —
    * O(E·α) with zero extra Spark jobs. Above the threshold it falls
    * back to distributed min-label propagation (the GraphX/Pregel shape):
    * each round every node takes the minimum label among itself and its
    * neighbors, converging in component-diameter rounds of shuffles.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, maxDriverEdges: Long = 5000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // the path probe COUNTS instead of collecting, so routing to the
    // distributed branch never ships edge rows to the driver; the persist
    // makes the probe and the subsequent real consumer share one
    // evaluation of the (possibly expensive) pair plan. A plain count —
    // not limit(max+1).count(): the persist materializes every partition
    // anyway, so a limit cannot short-circuit evaluation; it only inserts
    // a single-partition exchange of up to maxDriverEdges rows, where
    // count() ships one long per partition
    val sel = pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (sel.count() > maxDriverEdges)
        return connectedComponentsDistributed(sel, "a", "b", maxIter)
      val collected = sel.collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      collected.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        else { parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b); () }
      }
      val ids = collected.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      ids.map(id => (id, find(id))).toSeq.toDF("id", "component")
    } finally sel.unpersist()
  }

  /** Distributed min-label propagation (see [[connectedComponents]]). */
  def connectedComponentsDistributed(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component")).cache()
    var i = 0
    var done = false
    while (i < maxIter && !done) {
      // candidate labels: own + every neighbor's current label
      val next = labels
        .union(edges
          .join(labels.withColumnRenamed("id", "dst2"), col("dst") === col("dst2"))
          .select(col("src").as("id"), col("component")))
        .groupBy(col("id")).agg(min(col("component")).as("component"))
        // cut lineage growth: each round's plan would otherwise nest the
        // previous round's whole DAG
        .barrier()
      val changed = next.as("n")
        .join(labels.as("p"), col("n.id") === col("p.id"))
        .filter(col("n.component") =!= col("p.component")).hasRows()
      labels.unpersist()
      labels = next
      done = !changed
      i += 1
    }
    edges.unpersist()
    labels
  }

  /** SimHash near-dup pairs within a Hamming radius — EXACT, not
    * approximate: the sketch is banded into `maxHamming + 1` chunks, so
    * by pigeonhole any pair with `bit_count(a ^ b) <= maxHamming` agrees
    * exactly on at least one chunk and surfaces as a candidate; the
    * explicit Hamming filter then removes false candidates. Radius is
    * capped at 15 (chunks of < 4 bits would bucket the corpus into < 16
    * groups per band — the candidate join degenerates toward all-pairs).
    */
  def simHashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    import graft.functions.Functions.simhash64
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15]: $maxHamming")
    val numChunks = maxHamming + 1
    val bounds = (0 to numChunks).map(i => i * 64 / numChunks)
    val sh = docs.select(col(idCol).as("id"),
      simhash64(TextAnalysis.tokens(col(textCol))).as("sh"))
    val chunked = sh.select(col("id"), col("sh"), posexplode(
      array((0 until numChunks).map { c =>
        val width = bounds(c + 1) - bounds(c)
        val mask = if (width == 64) -1L else (1L << width) - 1L
        shiftright(col("sh"), bounds(c)).bitwiseAND(lit(mask))
      }: _*)).as(Seq("chunk", "ck")))
    val a = chunked.as("a")
    val b = chunked.as("b")
    // verify BEFORE distinct: the Hamming filter runs map-side on the
    // joined stream and discards most candidates, so the distinct only
    // shuffles true near-pairs — not every band collision
    a.join(b, col("a.chunk") === col("b.chunk") &&
        col("a.ck") === col("b.ck") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Collapse near-dup clusters to one CANONICAL document each — the
    * selection step between pair-finding and corpus rewrite: group ids
    * come from [[connectedComponents]] over `pairs`, singletons form
    * their own group, and each group's representative maximizes
    * `scoreCol` (ties broken by smallest id, so the choice is
    * deterministic on any engine and partitioning). Returns every doc
    * with `(group_id, canonical_id, is_canonical)` — filter on
    * `is_canonical = 1` for the deduplicated corpus, or join the full
    * map back to re-point references at survivors.
    *
    * At scale: components run over the PAIR set (answer-sized, not
    * corpus-sized), the group map joins back to the corpus once, and
    * the argmax is a window over groups whose width is the duplicate
    * cluster size — no corpus-wide sort, no driver state. */
  def canonicalize(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    val grouped = docs.join(comp, Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("component"), col(idCol)))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("group_id"))
    grouped
      .withColumn("__best",
        min(struct((-col(scoreCol)).as("ns"), col(idCol).as("id"))).over(w))
      .select(col(idCol), col("group_id"),
        col("__best.id").as("canonical_id"),
        (col(idCol) === col("__best.id")).cast("int").as("is_canonical"))
  }
}
