package graft

import org.apache.spark.sql.SparkSession

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs}

/** The one place a session is built or a session setting is scoped.
  *
  * Local-mode defaults: `local[cpus]` with `cpus` shuffle partitions, where
  * `cpus` is `SPARK_GRAFT_CPUS` (default 32). A caller that passes its own
  * master and sets `spark.sql.shuffle.partitions` after the builder gets
  * exactly those. On a real cluster the same code runs unchanged — AQE
  * coalesces/splits shuffle partitions at runtime, so the static
  * `spark.sql.shuffle.partitions` is only a starting hint.
  */
object GraftSession {

  private val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The RocksDB state-store provider setting: spills keyed state to local
    * disk (the right provider once state exceeds executor heap — SURVEY
    * §4) and the only one `transformWithState` accepts. The session
    * default stays the in-memory HDFS-backed provider, which is faster for
    * small state. */
  val rocksDbState: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def builder(master: String = s"local[$cpus]"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(GraftExtensions) // SQL names for the native expressions
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // reliable checkpoint() files (the CC loop writes one per round) are
      // deleted once their RDD is GC'd instead of accumulating forever
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // file: through Hadoop's checksummed local filesystem minus its
      // chmod/readlink subprocesses (~190 per streaming micro-batch)
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)

  /** Runs `body` with `confs` set on `spark`, then puts every key back as
    * it was — the previous value, or unset — also when `body` throws.
    * Eager bodies only: a lazy frame returned from `body` is planned after
    * the scope has closed. */
  def withConf[A](spark: SparkSession, confs: (String, Any)*)(body: => A): A = {
    val set = spark.conf.getAll // explicitly set keys only, no defaults
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v.toString) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** [[withConf]] with the RocksDB state-store provider. */
  def withRocksDb[A](spark: SparkSession)(body: => A): A =
    withConf(spark, rocksDbState)(body)
}
