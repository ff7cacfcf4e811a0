package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Dedup, Merge, Mixing}

/** Round-4 operators: duplication ratio, sequence packing, stratified
  * sampling, CDC merge. (Semantic dedup has its own SemanticDedupSpec.)
  */
class Round4OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.local(4)

  override def afterAll(): Unit = spark.stop()

  // ---- duplication ratio -------------------------------------------------

  test("duplication ratio is exact on a planted half-duplicated doc") {
    import spark.implicits._
    // doc 1: 10 shared + 10 unique tokens; doc 2: the same 10 shared.
    // doc 1 has 20-8+1 = 13 windows, of which the 3 fully inside the
    // shared run are duplicated; doc 2 has exactly those 3 windows
    val shared = (0 until 10).map(i => s"dup$i").mkString(" ")
    val a = (shared +: (0 until 10).map(i => s"a$i")).mkString(" ")
    val got = Dedup.duplicationRatio(
        Seq((1L, a), (2L, shared)).toDF("doc_id", "text"), "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 13L, 3L), (2L, 3L, 3L)))
  }

  test("fully unique corpus scores zero everywhere") {
    import spark.implicits._
    val docs = (1 to 5).map(d =>
      (d.toLong, (0 until 12).map(i => s"w${d}_$i").mkString(" ")))
    val got = Dedup.duplicationRatio(docs.toDF("doc_id", "text"), "doc_id", "text", 8)
      .collect()
    assert(got.length == 5 && got.forall(r => r.getLong(2) == 0L && r.getDouble(3) == 0.0))
  }

  // ---- sequence packing --------------------------------------------------

  test("packing layout reconstructs the exact concatenated token stream") {
    import spark.implicits._
    // token counts chosen to straddle seqLen=10 boundaries in every way:
    // exact fit, spill into next, multi-sequence span, empty doc
    val docs = Seq((1L, 10), (2L, 3), (3L, 25), (4L, 0), (5L, 7))
      .toDF("doc_id", "nt").repartition(3)
    val got = Mixing.packSequences(docs, "doc_id", "nt", seqLen = 10)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(r.fieldIndex("start_token")),
        r.getLong(r.fieldIndex("first_seq")), r.getLong(r.fieldIndex("last_seq")),
        r.getLong(r.fieldIndex("seq_offset"))))
    assert(got.toSeq == Seq(
      (0L, 0L, 0L, 0L),    // fills seq 0 exactly
      (10L, 1L, 1L, 0L),   // starts seq 1
      (13L, 1L, 3L, 3L),   // spans seqs 1..3 (tokens 13..37)
      (38L, 3L, 3L, 8L),   // empty doc: degenerate at its offset
      (38L, 3L, 4L, 8L)))  // tokens 38..44
  }

  test("packing offsets are partitioning-invariant") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, (i % 13).toInt))
    val one = Mixing.packSequences(docs.toDF("doc_id", "nt").coalesce(1),
      "doc_id", "nt", 7).orderBy("doc_id").collect().toSeq
    val many = Mixing.packSequences(docs.toDF("doc_id", "nt").repartition(11),
      "doc_id", "nt", 7).orderBy("doc_id").collect().toSeq
    assert(one == many)
  }

  // ---- stratified sampling ----------------------------------------------

  test("stratified sample is a deterministic subset with per-stratum rates") {
    import spark.implicits._
    val rows = (1L to 4000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
    val df = rows.toDF("id", "lang")
    val kept = Mixing.stratifiedSample(df, "lang", "id",
      Map("en" -> 0.5, "de" -> 0.1))
    val again = Mixing.stratifiedSample(df, "lang", "id",
      Map("en" -> 0.5, "de" -> 0.1))
    val a = kept.collect().map(_.getLong(0)).toSet
    assert(a == again.collect().map(_.getLong(0)).toSet) // deterministic
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // hash-slot draw: expected 1000 en / 200 de, concentration well
    // within ±20% at n=2000 per stratum
    assert(math.abs(byLang("en") - 1000L) < 200, s"en=${byLang("en")}")
    assert(math.abs(byLang("de") - 200L) < 80, s"de=${byLang("de")}")
  }

  test("unlisted strata fall back to the default fraction") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, "xx")).toDF("id", "lang")
    assert(Mixing.stratifiedSample(df, "lang", "id", Map("en" -> 1.0)).count() == 0L)
    assert(Mixing.stratifiedSample(df, "lang", "id", Map.empty,
      defaultFraction = 1.0).count() == 1000L)
  }

  // ---- CDC merge ---------------------------------------------------------

  private def merged(base: Seq[(Long, String)], changes: Seq[(Long, String, String, Long)]) = {
    import spark.implicits._
    Merge.applyChanges(
        base.toDF("k", "v"),
        changes.toDF("k", "v", "op", "seq"),
        Seq("k"), "op", "seq")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
  }

  test("upsert replaces, delete removes, untouched rows pass through") {
    assert(merged(
      base = Seq((1L, "a"), (2L, "b"), (3L, "c")),
      changes = Seq((2L, "B", "U", 1L), (3L, "x", "D", 1L), (9L, "new", "U", 1L)))
      == Set(1L -> "a", 2L -> "B", 9L -> "new"))
  }

  test("multiple changes per key resolve latest-seq-wins") {
    assert(merged(
      base = Seq((1L, "a")),
      // delete at seq 1, then re-insert at seq 2; key 2 inserted then deleted
      changes = Seq((1L, "x", "D", 1L), (1L, "back", "U", 2L),
        (2L, "tmp", "U", 1L), (2L, "y", "D", 2L)))
      == Set(1L -> "back"))
  }

  test("merge is idempotent: applying an empty feed changes nothing") {
    assert(merged(Seq((1L, "a"), (2L, "b")), Seq.empty) == Set(1L -> "a", 2L -> "b"))
  }

  test("equal-seq ties resolve deterministically: the delete wins") {
    // malformed feed (caller owns sequencing) but the outcome must not
    // depend on partition order: 'D' sorts before 'U' on the tiebreak
    assert(merged(
      base = Seq((1L, "a"), (2L, "b")),
      changes = Seq((1L, "x", "U", 5L), (1L, "y", "D", 5L),
        (1L, "z", "U", 5L), (2L, "B", "U", 1L)))
      == Set(2L -> "B"))
  }

  test("a change carrying the base sentinel seq is rejected at run time") {
    import spark.implicits._
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + msgs(t.getCause)
    val e = intercept[Throwable] {
      Merge.applyChanges(Seq((1L, "a")).toDF("k", "v"),
        Seq((1L, "x", "U", Long.MinValue)).toDF("k", "v", "op", "seq"),
        Seq("k"), "op", "seq").collect()
    }
    assert(msgs(e).contains("sentinel"), msgs(e))
  }

  // ---- vocab-id encoding ---------------------------------------------------

  test("vocab-id encoding preserves token order, ranks by freq, UNKs the tail") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // freq: the(3) > b(2) > a(1)=c(1) (ties broken a < c); vocab size 3
    // keeps [the, b, a] as ids 1..3; c falls to UNK=0
    val docs = Seq((1L, "the b a the"), (2L, "c b the")).toDF("doc_id", "text")
    val got = TextAnalysis.encodeVocabIds(docs, "doc_id", "text", vocabSize = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(got == Map(1L -> List(1, 2, 3, 1), 2L -> List(0, 2, 1)))
  }

  test("vocab-id encoding is partitioning-invariant") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = (1L to 60L).map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} w$i"))
    val enc = (df: org.apache.spark.sql.DataFrame) =>
      TextAnalysis.encodeVocabIds(df, "doc_id", "text", 10)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(enc(docs.toDF("doc_id", "text").coalesce(1)) ==
      enc(docs.toDF("doc_id", "text").repartition(13)))
  }

  // ---- snapshot diff -------------------------------------------------------

  test("snapshot diff classifies added/removed/changed/unchanged, null-safely") {
    import spark.implicits._
    val a = Seq((1L, Some("x")), (2L, Some("y")), (3L, None: Option[String]), (4L, Some("z")))
      .toDF("k", "v")
    val b = Seq((1L, Some("x")), (2L, Some("Y")), (3L, Some("now")), (5L, Some("new")))
      .toDF("k", "v")
    val got = Merge.snapshotDiff(a, b, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "changed", 4L -> "removed", 5L -> "added"))
  }

  test("diff of applyChanges output recovers the feed's effect") {
    import spark.implicits._
    val base = (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
    val feed = Seq((9L, "V9", "U", 1L), (10L, "x", "D", 1L), (99L, "n", "U", 1L))
      .toDF("k", "v", "op", "seq")
    val next = Merge.applyChanges(base, feed, Seq("k"), "op", "seq")
    val byKind = Merge.snapshotDiff(base, next, Seq("k"))
      .groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKind == Map("unchanged" -> 48L, "changed" -> 1L,
      "removed" -> 1L, "added" -> 1L))
  }

  // ---- bucketed CDC snapshot ----------------------------------------------

  // runs `body` on a snapshot path inside a new `graft_cdc_<name>` temp
  // directory, and deletes the directory and all under it afterwards
  private def withSnapshotPath[T](name: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_cdc_$name")
    try body(dir.toString + "/snap")
    finally java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
  }

  test("bucketed apply rewrites only touched buckets, equals full merge") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    withSnapshotPath("spec") { path =>
      val base = (1L to 500L).map(i => (i, s"v$i")).toDF("k", "v")
      Merge.writeBucketedSnapshot(base, path, Seq("k"), buckets = 8)

      // record per-bucket file listings before the merge
      def bucketFiles(b: Int): Set[(String, Long)] = {
        val dir = Paths.get(path, s"__bucket=$b")
        if (!Files.exists(dir)) Set.empty
        else {
          val s = Files.list(dir)
          try s.iterator().asScala
            .filter(_.toString.endsWith(".parquet"))
            .map(p => (p.getFileName.toString, Files.getLastModifiedTime(p).toMillis))
            .toSet
          finally s.close()
        }
      }
      val before = (0 until 8).map(b => b -> bucketFiles(b)).toMap

      val changes = Seq((3L, "V3", "U", 1L), (7L, "x", "D", 1L), (900L, "new", "U", 1L))
        .toDF("k", "v", "op", "seq")
      Merge.applyChangesBucketed(path, changes, Seq("k"), "op", "seq", buckets = 8)

      // snapshot content equals the all-at-once merge
      val got = spark.read.parquet(path).select("k", "v")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
      val want = Merge.applyChanges(base, changes, Seq("k"), "op", "seq")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(got == want)

      // untouched buckets keep their exact files; touched ones were rewritten
      val touchedBuckets = changes.select(pmod(xxhash64($"k"), lit(8L)).cast("int"))
        .collect().map(_.getInt(0)).toSet
      (0 until 8).foreach { b =>
        if (touchedBuckets.contains(b))
          assert(bucketFiles(b) != before(b), s"touched bucket $b not rewritten")
        else
          assert(bucketFiles(b) == before(b), s"untouched bucket $b was rewritten")
      }
    }
  }

  test("an interrupted bucket swap is recovered on the next apply") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    withSnapshotPath("spec3") { path =>
      val base = (1L to 100L).map(i => (i, i)).toDF("k", "v")
      Merge.writeBucketedSnapshot(base, path, Seq("k"), buckets = 4)
      // simulate a crash between rename-aside and rename-in: bucket 2's
      // only copy sits at the hidden .old name, live dir gone
      val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.rename(new Path(s"$path/__bucket=2"), new Path(s"$path/.__bucket=2.old")))
      Merge.applyChangesBucketed(path,
        Seq((1L, 999L, "U", 1L)).toDF("k", "v", "op", "seq"), Seq("k"), "op", "seq", 4)
      // nothing lost: all 100 keys present, the update applied
      val got = spark.read.parquet(path).select("k", "v")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 100 && got(1L) == 999L && got(2L) == 2L)
    }
  }

  // ---- snapshot manifest ----------------------------------------------------

  test("manifest tracks apply_seq and per-bucket stats across applies") {
    import spark.implicits._
    withSnapshotPath("m1") { path =>
      val base = (1L to 100L).map(i => (i, i)).toDF("k", "v")
      Merge.writeBucketedSnapshot(base, path, Seq("k"), buckets = 4)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val (s0, m0) = Merge.readManifest(fs, path).get
      assert(s0 == 0L && m0.values.map(_.rows).sum == 100L)
      // apply touches exactly key 1's bucket: its entry changes, every
      // other bucket keeps rows, checksum AND file list bit-for-bit
      val touched = spark.range(1).select(
        pmod(xxhash64(lit(1L)), lit(4L)).cast("int")).collect()(0).getInt(0)
      Merge.applyChangesBucketed(path,
        Seq((1L, 999L, "U", 1L)).toDF("k", "v", "op", "seq"), Seq("k"), "op", "seq", 4)
      val (s1, m1) = Merge.readManifest(fs, path).get
      assert(s1 == 1L)
      assert(m1(touched) != m0(touched), "touched bucket's manifest entry unchanged")
      assert((m1 - touched) == (m0 - touched), "untouched manifest entries drifted")
      assert(m1.values.map(_.rows).sum == 100L)
    }
  }

  test("readBucketedSnapshot validates against the manifest and fails closed on a torn bucket") {
    import spark.implicits._
    withSnapshotPath("m2") { path =>
      Merge.writeBucketedSnapshot((1L to 100L).map(i => (i, i)).toDF("k", "v"),
        path, Seq("k"), buckets = 4)
      assert(Merge.readBucketedSnapshot(spark, path).count() == 100L)
      // tear a bucket: remove one data file without committing a manifest —
      // the mid-swap state a racing reader must not silently serve
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val b = Merge.readManifest(fs, path).get._2.keys.min
      val victim = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/__bucket=$b"))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.delete(victim, false)
      val e = intercept[IllegalStateException] {
        Merge.readBucketedSnapshot(spark, path, maxRetries = 2, retryMs = 1)
      }
      assert(e.getMessage.contains("manifest"))
    }
  }

  test("a missing manifest falls back to a plain read and is healed by the next apply") {
    import spark.implicits._
    withSnapshotPath("m3") { path =>
      Merge.writeBucketedSnapshot((1L to 100L).map(i => (i, i)).toDF("k", "v"),
        path, Seq("k"), buckets = 4)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path, "_manifest.json"), false)
      // legacy layout: unvalidated read still works
      assert(Merge.readBucketedSnapshot(spark, path, maxRetries = 3, retryMs = 1)
        .count() == 100L)
      // even an EMPTY apply re-derives the manifest from the live data
      Merge.applyChangesBucketed(path,
        Seq.empty[(Long, Long, String, Long)].toDF("k", "v", "op", "seq"),
        Seq("k"), "op", "seq", 4)
      val (seq, m) = Merge.readManifest(fs, path).get
      assert(m.values.map(_.rows).sum == 100L, s"healed manifest wrong: $m")
    }
  }

  test("bucketed apply supports repeated batches (stream shape)") {
    import spark.implicits._
    withSnapshotPath("spec2") { path =>
      val base = (1L to 100L).map(i => (i, i * 10)).toDF("k", "v")
      Merge.writeBucketedSnapshot(base, path, Seq("k"), buckets = 4)
      Merge.applyChangesBucketed(path,
        Seq((1L, 111L, "U", 1L)).toDF("k", "v", "op", "seq"), Seq("k"), "op", "seq", 4)
      Merge.applyChangesBucketed(path,
        Seq((1L, 999L, "U", 2L), (2L, 0L, "D", 2L)).toDF("k", "v", "op", "seq"),
        Seq("k"), "op", "seq", 4)
      val got = spark.read.parquet(path).select("k", "v")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got(1L) == 999L && !got.contains(2L) && got.size == 99)
    }
  }
}
