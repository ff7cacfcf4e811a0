package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Self-diagnosing dump: when a driver-side compare goes red, the log
    * alone carries what the engine produced — the full sorted cells for
    * small results (≤100 rows), a per-column checksum for larger ones —
    * so a red row is diffable against the oracle without a rerun. Reads
    * the parquet back so the dump reflects the exact on-disk round-trip
    * the oracle compare sees. */
  /** Engine-vs-golden diff with no DuckDB in the loop: when a committed
    * golden file (tools/compare.py --emit-golden, canonical oracle cells
    * for this scale factor) exists, print MATCH or the exact missing /
    * extra rows — a driver-red row becomes diffable from the driver log
    * alone. Both sides are sorted here, so the golden's on-disk order is
    * irrelevant. */
  /** Numeric-token canonicalization: golden cells are written by Python
    * (shortest-repr floats) while the engine renders through JDK 17's
    * pre-Ryū Double.toString, which occasionally emits a non-shortest
    * digit string for the same bits — a false MISMATCH on any query with
    * unrounded double finals. Parsing float-looking tokens on BOTH sides
    * and re-rendering through THIS JVM's Double.toString makes the
    * comparison exact-float equality; integer-looking and non-numeric
    * tokens pass through untouched. */
  private def canonLine(line: String): String =
    line.split("\\|", -1).map { tok =>
      // a float token either has a decimal point or a bare exponent:
      // Python's shortest repr emits dotless forms like `1e+20` that the
      // engine renders as `1.0E20` — both must canonicalize
      if (tok.isEmpty ||
        !tok.matches("-?\\d+(\\.\\d+)?[eE][-+]?\\d+|-?\\d*\\.\\d+")) tok
      else java.lang.Double.toString(java.lang.Double.parseDouble(tok))
    }.mkString("|")

  private def checkGolden(name: String, lines: Seq[String],
      sfDir: String): Unit = {
    val sfName = new java.io.File(sfDir).getName
    val gdir = sys.env.getOrElse("SPARK_GRAFT_GOLDEN_DIR", "golden")
    val p = Paths.get(s"$gdir/$sfName/$name.txt")
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val expected = Files.readAllLines(p).asScala.toSeq
        .filterNot(_.startsWith("#")).map(canonLine).sorted
      val got = lines.map(canonLine).sorted
      if (expected == got)
        System.err.println(s"[verify:golden] $name MATCH (${got.size} rows)")
      else {
        val miss = expected.diff(got)
        val extra = got.diff(expected)
        System.err.println(s"[verify:golden] $name MISMATCH " +
          s"missing=${miss.size} extra=${extra.size}")
        miss.take(20).foreach(l =>
          System.err.println(s"[verify:golden] $name oracle-only $l"))
        extra.take(20).foreach(l =>
          System.err.println(s"[verify:golden] $name engine-only $l"))
      }
    }
  }

  /** Checksum goldens close the >100-row hole in the golden sweep: the
    * committed file carries `#checksum` plus the engine's own verified
    * per-column bit_xor(xxhash64) line (snapshotted AFTER a full DuckDB
    * compare passed — DuckDB can't reproduce Spark's xxhash64, so these
    * pin partitioning-invariance and round-over-round regression, while
    * oracle parity stays the DuckDB compare's job). */
  private def checkGoldenChecksum(name: String, line: String,
      sfDir: String): Unit = {
    val sfName = new java.io.File(sfDir).getName
    val gdir = sys.env.getOrElse("SPARK_GRAFT_GOLDEN_DIR", "golden")
    val p = Paths.get(s"$gdir/$sfName/$name.txt")
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val all = Files.readAllLines(p).asScala.toSeq
      if (all.headOption.exists(_.startsWith("#checksum"))) {
        val expected = all.filterNot(_.startsWith("#")).mkString("\n").trim
        if (expected == line)
          System.err.println(s"[verify:golden] $name checksum-MATCH")
        else {
          System.err.println(s"[verify:golden] $name checksum-MISMATCH")
          System.err.println(s"[verify:golden] $name golden $expected")
          System.err.println(s"[verify:golden] $name engine $line")
        }
      }
    }
  }

  /** Some(true) = checksum golden, Some(false) = row golden, None = no
    * golden committed. The compare must dispatch on the FILE's kind, not
    * the live row count: a query whose cardinality drifts across 100
    * between rounds would otherwise row-compare a checksum file (its
    * `rows=...` payload read as a data row) or silently skip a row
    * golden — spurious or missing verification either way. */
  private def goldenKind(name: String, sfDir: String): Option[Boolean] = {
    val sfName = new java.io.File(sfDir).getName
    val gdir = sys.env.getOrElse("SPARK_GRAFT_GOLDEN_DIR", "golden")
    val p = Paths.get(s"$gdir/$sfName/$name.txt")
    if (!Files.exists(p)) None
    else {
      val src = scala.io.Source.fromFile(p.toFile)
      try Some(src.getLines().nextOption().exists(_.startsWith("#checksum")))
      finally src.close()
    }
  }

  private def dumpDiagnostics(spark: SparkSession, name: String,
      path: String, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.BinaryType
    try {
      val back = spark.read.parquet(path)
      val cols = back.columns.sorted
      def asStr(c: String) = back.schema(c).dataType match {
        case BinaryType => hex(col(c))
        case _          => col(c).cast("string")
      }
      def cellLines(): Seq[String] = back
        .select(cols.map(c => asStr(c).as(c)): _*)
        .collect()
        .map(_.toSeq.map(v => if (v == null) "NULL" else v.toString)
          .mkString("|"))
        .sorted.toSeq
      val nRows = back.count()
      lazy val checksumLine: String = {
        // bit_xor, not sum: order-independent like sum, but closed over
        // Long — a summed hash overflows under ANSI mode at ~15k rows
        val sums = back
          .select(cols.map(c => bit_xor(xxhash64(asStr(c))).as(c)): _*)
          .collect()(0)
        s"rows=$nRows " +
          cols.zipWithIndex.map { case (c, i) => s"$c=${sums.get(i)}" }
            .mkString(" ")
      }
      // diagnostics dump: small results print full cells, large ones the
      // per-column checksum — enough to diff a driver-red from the log
      val smallCells = if (nRows <= 100) Some(cellLines()) else None
      smallCells match {
        case Some(rows) =>
          System.err.println(s"[verify:cells] $name rows=$nRows cols=${cols.mkString(",")}")
          rows.foreach(r => System.err.println(s"[verify:cells] $name $r"))
        case None =>
          System.err.println(s"[verify:checksum] $name $checksumLine")
      }
      // golden compare: kind comes from the committed file's header
      goldenKind(name, sfDir) match {
        case Some(true) => checkGoldenChecksum(name, checksumLine, sfDir)
        case Some(false) if nRows <= 100000 =>
          checkGolden(name, smallCells.getOrElse(cellLines()), sfDir)
        case Some(false) =>
          System.err.println(s"[verify:golden] $name row golden but " +
            s"rows=$nRows — cardinality drifted; regenerate the golden")
        case None => ()
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify:diag] $name diagnostics failed: ${e.getMessage}")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // posture-profiled session (same knobs as before under the default
    // profile; SessionPostureSpec pins the config map)
    val spark = Session.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q108 (comma-separated) restricts the dump for
    // single-query flake hunting — same contract as Bench's filter
    // suite-wide cache-hygiene gate: CacheHygieneSpec probes the graph/dedup
    // operators in isolation; THIS probe runs after every query in the
    // verify loop, so any future query-level cache()/persist() pin fails
    // the 5-stage gate (verify_full.sh greps CACHE-PIN) instead of
    // surfacing as an unexplained bench drift rounds later. Checkpoint
    // blocks don't register in the CacheManager, so the GC-lifetime
    // localCheckpoint discipline passes this clean.
    val pinned = scala.collection.mutable.ArrayBuffer[String]()
    var ran = 0
    SparkEntry.selectedQueries
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
          dumpDiagnostics(spark, name, s"$outDir/$name", sfDir)
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        ran += 1
        if (!org.apache.spark.sql.graft.Shims.cacheManagerEmpty(spark)) {
          pinned += name
          System.err.println(s"[verify:cache] $name CACHE-PIN left in " +
            "CacheManager after the query returned")
          // clear so one leak doesn't cascade blame onto every later query
          try spark.catalog.clearCache() catch { case _: Throwable => () }
        }
      }
    System.err.println(s"[verify:cache] ${ran - pinned.size}/$ran " +
      s"cache-clean" + (if (pinned.isEmpty) "" else
        s"; pinned: ${pinned.mkString(",")}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => SparkEntry.selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
