package graft

import org.apache.spark.sql.SparkSession

/** Execution posture: the small set of knobs that differ between
  * a local[32] box and a 1000-executor cluster, expressed once so every
  * entry point (tests, Verify, Bench, a user's own session) builds the
  * same posture instead of hand-copying configs.
  *
  * Defaults reproduce Spark's own defaults plus the project's three
  * local-mode choices (shuffle partitions = cores instead of 200, AQE
  * on, and a generated-code cache of [[Session.CodegenCacheEntries]]
  * classes instead of 100, set by [[Session.local]] since it is a static
  * conf), so applying the default profile changes NOTHING about the
  * benched plans — SessionPostureSpec pins that. Every posture knob is
  * env-overridable (`SPARK_GRAFT_*`) for deployment tuning without a
  * rebuild.
  *
  * The 100-TB posture (see README "Cluster deployment"): OVERSIZE
  * `shufflePartitions` (ScaleBench proves 8× the local default at ×10
  * data — AQE coalescing merges what turns out small, while fixed
  * small counts mis-attribute spill cost as algorithmic superlinearity),
  * keep AQE + skew-join on, leave the broadcast threshold at 10 MB
  * unless dimension tables are known-bigger, and consider
  * `spark.graft.checkpoint.reliable=true` + a checkpoint dir on
  * preemptible executors (see graft.operators.BarrierOps).
  */
final case class Posture(
    shufflePartitions: Int,
    // Spark defaults, surfaced here so a deployment can tune them in one
    // place: broadcast 10 MB, file split 128 MB, AQE + skew-join on with
    // factor 5.0 / threshold 256 MB
    broadcastThresholdBytes: Long = 10L * 1024 * 1024,
    maxPartitionBytes: Long = 128L * 1024 * 1024,
    aqe: Boolean = true,
    skewJoin: Boolean = true,
    skewFactor: Double = 5.0,
    skewThresholdBytes: Long = 256L * 1024 * 1024) {

  /** The exact config map [[Session]] applies — also the unit the spec
    * asserts on, so the tested path IS the applied path. */
  def confs: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.autoBroadcastJoinThreshold" -> broadcastThresholdBytes.toString,
    "spark.sql.files.maxPartitionBytes" -> maxPartitionBytes.toString,
    "spark.sql.adaptive.enabled" -> aqe.toString,
    "spark.sql.adaptive.skewJoin.enabled" -> skewJoin.toString,
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> skewFactor.toString,
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> skewThresholdBytes.toString)
}

object Posture {
  /** Local posture: shuffle partitions sized to the core count. */
  def local(cores: Int): Posture = Posture(shufflePartitions = cores)

  /** Cluster posture: oversized shuffle partitions (8 × total cores,
    * ScaleBench's measured ×10 setting scaled by data share) with AQE
    * coalescing shrinking the small ones back at runtime. */
  def cluster(totalCores: Int): Posture =
    Posture(shufflePartitions = 8 * totalCores)

  /** Env overrides on top of `base` — deployment tuning with no rebuild:
    * SPARK_GRAFT_SHUFFLE_PARTITIONS, SPARK_GRAFT_BROADCAST_MB,
    * SPARK_GRAFT_MAX_PARTITION_MB, SPARK_GRAFT_SKEW_FACTOR,
    * SPARK_GRAFT_SKEW_THRESHOLD_MB. */
  def fromEnv(base: Posture, env: Map[String, String] = sys.env): Posture = {
    def mb(k: String, dflt: Long): Long =
      env.get(k).map(_.toLong * 1024 * 1024).getOrElse(dflt)
    base.copy(
      shufflePartitions = env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        .map(_.toInt).getOrElse(base.shufflePartitions),
      broadcastThresholdBytes =
        mb("SPARK_GRAFT_BROADCAST_MB", base.broadcastThresholdBytes),
      maxPartitionBytes =
        mb("SPARK_GRAFT_MAX_PARTITION_MB", base.maxPartitionBytes),
      skewFactor = env.get("SPARK_GRAFT_SKEW_FACTOR")
        .map(_.toDouble).getOrElse(base.skewFactor),
      skewThresholdBytes =
        mb("SPARK_GRAFT_SKEW_THRESHOLD_MB", base.skewThresholdBytes))
  }
}

/** SparkSession factory for tests, Verify, Bench and ad-hoc runs.
  *
  * UTC timezone (oracle parity with DuckDB), AQE on, shuffle partitions
  * sized to local cores rather than the 200 default, and a codegen cache
  * that holds a pass's generated classes ([[CodegenCacheEntries]]). On a
  * real cluster the same settings apply through [[Posture.cluster]], with
  * AQE coalescing handling the oversize.
  */
object Session {
  /** `spark.sql.codegen.cache.maxEntries`: how many compiled classes
    * Spark's Janino cache keeps (LRU, default 100). In local mode a
    * whole-stage class takes two entries, because the key pairs the code
    * with the thread's class loader and the driver and the executor task
    * threads use different loaders; q220 plus q297 then need ~110 entries
    * a pass, and at 100 a warm pass recompiled 17–53 classes per query.
    * The cache is sized once per JVM, by the first session that generates
    * code, so every session built here (and any spec building its own)
    * uses this constant. Recompiles the cache cannot save are fresh code
    * text, such as a Limit's JVM-global `_limit_counter_<n>` field:
    * emptiness probes use `hasRows()` (graft.operators), which plans no
    * Limit. */
  val CodegenCacheEntries = 1000

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      posture: Posture = null): SparkSession = {
    val p = Posture.fromEnv(
      Option(posture).getOrElse(Posture.local(cores)))
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf: a runtime `spark.conf.set` throws, so it stays out
      // of Posture.confs
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    p.confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
