package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** File-replay harness: run a STREAMING formulation of an operator over a
  * batch events frame — chopped into time-ordered micro-batches through
  * the file stream source — and return the completed sink table as a
  * batch DataFrame.
  *
  * This is what puts the streaming layer (watermarks, the state store,
  * event-time timers) onto the driver's DuckDB correctness record: a
  * `q_*_stream` query in [[graft.SparkEntry.queries]] replays the real
  * events table through the streaming operator and is hash-compared
  * against the same SQL oracle as its batch twin.
  *
  * Mechanics:
  *   - one `ntile(nChunks)` window over (ts, id) — the jittered sort key
  *     when `orderJitterSec` > 0 — splits the input into chunks, and ONE
  *     partitioned write produces every chunk file, each in that order
  *     (an empty chunk still gets an empty file); the input plan runs
  *     once, whatever `nChunks` is;
  *   - the files get explicitly ascending mtimes; `maxFilesPerTrigger = 1`
  *     makes each file one micro-batch, replayed chronologically — so
  *     watermarks advance monotonically and state carries across many
  *     batches (the seam single-batch tests never stress);
  *   - two trailing sentinel rows (far-future ts, kind/key
  *     [[Replay.Sentinel]]) are appended as two extra single-row batches:
  *     watermark updates take effect one batch late, so the first
  *     sentinel advances the watermark past all real event time and the
  *     second's batch fires every event-time timer and finalizes every
  *     window. Aggregation pipelines must let the sentinel flow ALL THE
  *     WAY INTO the aggregate and exclude it there (conditional
  *     `count(when(kind =!= Sentinel, ...))` + a cnt>0 post-filter): a
  *     plain filter placed after `withWatermark` gets PUSHED BELOW the
  *     EventTimeWatermark node by the optimizer, the sentinel never
  *     reaches the watermark operator, and the final window never
  *     finalizes. The keyed state machines ignore the sentinel kind by
  *     construction.
  *
  * Preparing a replay runs three driver-side actions: the chunk
  * write, a scalar max(ts) read back from the written chunk files (to
  * place the sentinels), and one write of both sentinel batches (plus
  * one empty-file write when some chunk has no rows).
  */
object Replay {

  /** Kind and key of the watermark-advancing sentinel rows. */
  val Sentinel = "__sentinel__"

  private val counter = new AtomicInteger(0)

  /** Replay `events` (columns key, ts, kind, id — see [[KeyedEvent]])
    * through `pipeline` and return the completed (batch) result.
    *
    * `orderJitterSec` > 0 scrambles the replay order: each event's SORT
    * position (not its timestamp) is displaced by a deterministic
    * hash-of-id offset in ±jitter seconds, so events arrive up to
    * 2×jitter late relative to the watermark — real out-of-order input
    * for exercising allowed-lateness re-firing. An operator whose
    * lateness/out-of-orderness tolerance exceeds 2×jitter still produces
    * exact final results, which is what the correctness row checks.
    */
  def keyedEvents(
      events: DataFrame,
      nChunks: Int = 10,
      orderJitterSec: Long = 0L)(
      pipeline: Dataset[KeyedEvent] => DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val src = events.select(
      col("key").cast("string").as("key"),
      col("ts"),
      col("kind").cast("string").as("kind"),
      col("id").cast("string").as("id"))
    replayCore(src, nChunks, orderJitterSec,
      (sTs, j) => Seq(KeyedEvent(Sentinel, sTs, Sentinel, s"s$j")).toDF())(
      df => pipeline(df.as[KeyedEvent]))
  }

  /** [[keyedEvents]] for operators that fold a NUMERIC payload (daily
    * revenue machines): same contract plus a `value` column carried as an
    * exact long (convert upstream at fixed micro-scale so streamed sums
    * replay the batch decimal sums bit-for-bit). Sentinels carry value 0
    * and the sentinel kind, so value-folding machines skip them like any
    * other.
    */
  def keyedValueEvents(
      events: DataFrame,
      nChunks: Int = 10,
      orderJitterSec: Long = 0L)(
      pipeline: Dataset[KeyedValueEvent] => DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val src = events.select(
      col("key").cast("string").as("key"),
      col("ts"),
      col("kind").cast("string").as("kind"),
      col("id").cast("string").as("id"),
      col("value").cast("long").as("value"))
    replayCore(src, nChunks, orderJitterSec,
      (sTs, j) => Seq(KeyedValueEvent(Sentinel, sTs, Sentinel, s"s$j", 0L)).toDF())(
      df => pipeline(df.as[KeyedValueEvent]))
  }

  /** [[keyedEvents]] for banded-signature document streams
    * ([[BandEvent]]: key = LSH bucket, sig = the doc's full MinHash
    * signature). Sentinels carry an empty signature and the sentinel
    * key; [[StreamingDedup.lshIndex]] filters them before the keyed op
    * (it runs TimeMode.None — no watermark semantics to preserve).
    */
  def bandEvents(
      events: DataFrame,
      nChunks: Int = 10,
      orderJitterSec: Long = 0L)(
      pipeline: Dataset[BandEvent] => DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val src = events.select(
      col("key").cast("string").as("key"),
      col("ts"),
      col("id").cast("string").as("id"),
      col("sig"))
    replayCore(src, nChunks, orderJitterSec,
      (sTs, j) => Seq(BandEvent(Sentinel, sTs, s"s$j", Array.empty[Long])).toDF())(
      df => pipeline(df.as[BandEvent]))
  }

  /** [[bandEvents]] for sign-bucketed embedding streams ([[VecEvent]]:
    * key = LSH table|bucket, vec = the full embedding for the in-bucket
    * exact-cosine verify). */
  def vecEvents(
      events: DataFrame,
      nChunks: Int = 10,
      orderJitterSec: Long = 0L)(
      pipeline: Dataset[VecEvent] => DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val src = events.select(
      col("key").cast("string").as("key"),
      col("ts"),
      col("id").cast("string").as("id"),
      col("vec"))
    replayCore(src, nChunks, orderJitterSec,
      (sTs, j) => Seq(VecEvent(Sentinel, sTs, s"s$j", Array.empty[Double])).toDF())(
      df => pipeline(df.as[VecEvent]))
  }

  /** [[keyedEvents]] for raw-document streams ([[DocEvent]]: `key` is
    * ignored on input — the admission pipeline re-derives its own keys
    * from `text` — so callers pass any placeholder; sentinels carry
    * empty text and fall to the quality gate). */
  def docEvents(
      events: DataFrame,
      nChunks: Int = 10,
      orderJitterSec: Long = 0L)(
      pipeline: Dataset[DocEvent] => DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val src = events.select(
      col("key").cast("string").as("key"),
      col("ts"),
      col("id").cast("string").as("id"),
      col("text").cast("string").as("text"))
    replayCore(src, nChunks, orderJitterSec,
      (sTs, j) => Seq(DocEvent(Sentinel, sTs, s"s$j", "")).toDF())(
      df => pipeline(df.as[DocEvent]))
  }

  /** A pre-chopped replay input: chunk files + sentinel batches written
    * once, replayable any number of times — each [[replay]] starts from a
    * FRESH checkpoint (state begins empty). Chunking is harness cost, not
    * operator cost, so the bench chops once and times only the streaming
    * runs; the single-shot wrappers ([[keyedEvents]] etc., what the
    * correctness gate calls) prepare + replay + close in one call as
    * before.
    */
  final class Prepared[T] private[streaming] (
      private[streaming] val spark: org.apache.spark.sql.SparkSession,
      private[streaming] val dir: java.nio.file.Path,
      private[streaming] val schema: org.apache.spark.sql.types.StructType,
      private[streaming] val typed: DataFrame => Dataset[T]) {
    def replay(pipeline: Dataset[T] => DataFrame): DataFrame =
      Replay.runPrepared(spark, dir, schema, df => pipeline(typed(df)))
    def close(): Unit = Replay.deleteTree(dir)
  }

  /** [[keyedEvents]]' input, prepared once for many replays. */
  def prepareKeyed(
      events: DataFrame,
      nChunks: Int = 10,
      orderJitterSec: Long = 0L): Prepared[KeyedEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    val src = events.select(
      col("key").cast("string").as("key"),
      col("ts"),
      col("kind").cast("string").as("kind"),
      col("id").cast("string").as("id"))
    val dir = prepareCore(src, nChunks, orderJitterSec,
      (sTs, j) => Seq(KeyedEvent(Sentinel, sTs, Sentinel, s"s$j")).toDF())
    new Prepared[KeyedEvent](spark, dir, src.schema, _.as[KeyedEvent])
  }

  /** [[docEvents]]' input, prepared once for many replays. */
  def prepareDocs(
      events: DataFrame,
      nChunks: Int = 10,
      orderJitterSec: Long = 0L): Prepared[DocEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    val src = events.select(
      col("key").cast("string").as("key"),
      col("ts"),
      col("id").cast("string").as("id"),
      col("text").cast("string").as("text"))
    val dir = prepareCore(src, nChunks, orderJitterSec,
      (sTs, j) => Seq(DocEvent(Sentinel, sTs, s"s$j", "")).toDF())
    new Prepared[DocEvent](spark, dir, src.schema, _.as[DocEvent])
  }

  /** Shared replay machinery: chunked chronological write-out, two
    * sentinel batches, memory-sink collection. `src` must already carry
    * (ts, id) columns; `sentinel(ts, j)` builds the j-th sentinel frame
    * in `src`'s schema.
    */
  private def replayCore(
      src: DataFrame,
      nChunks: Int,
      orderJitterSec: Long,
      sentinel: (Timestamp, Int) => DataFrame)(
      pipeline: DataFrame => DataFrame): DataFrame = {
    val dir = prepareCore(src, nChunks, orderJitterSec, sentinel)
    try runPrepared(src.sparkSession, dir, src.schema, pipeline)
    finally deleteTree(dir)
  }

  /** Chop `src` into `nChunks` mtime-ordered chunk files + two sentinel
    * batches under a fresh scratch dir; returns the dir. A failed write
    * deletes the dir before rethrowing, so no caller ever owns a partial
    * one. */
  private def prepareCore(
      src: DataFrame,
      nChunks: Int,
      orderJitterSec: Long,
      sentinel: (Timestamp, Int) => DataFrame): java.nio.file.Path = {
    // `graft.replay.tmpdir` redirects the replay scratch space (chunk
    // files + streaming checkpoint). Bench AND Verify set it to a tmpfs
    // (round 13/14) so replays measure the operators, not the host disk's
    // fsync latency (measured swinging 4× under co-tenant I/O while CPU
    // sat idle — see docs/SCALE.md). The larger fixed cost per micro-batch
    // was not the disk but process spawns: without libhadoop.so, stock
    // Hadoop forked ~20 chmod/readlink processes per state partition per
    // commit, ~190 per batch at 8 partitions with the offset/commit/source
    // logs, on tmpfs as on disk (~115 ms off-CPU per state task);
    // GraftSession's graft.io.ForkFreeLocalFs removes them. Scratch
    // placement cannot change streaming semantics; checkpoint RECOVERY
    // keeps its own real-disk specs (CheckpointRecoverySpec).
    val tmp = sys.props.get("graft.replay.tmpdir")
      .map(java.nio.file.Paths.get(_))
      .filter(Files.isDirectory(_))
      .map(Files.createTempDirectory(_, "graft-replay"))
      .getOrElse(Files.createTempDirectory("graft-replay"))
    try {
      writeChunks(src, nChunks, orderJitterSec, sentinel, tmp)
      tmp
    } catch {
      case e: Throwable =>
        deleteTree(tmp)
        throw e
    }
  }

  private def writeChunks(
      src: DataFrame,
      nChunks: Int,
      orderJitterSec: Long,
      sentinel: (Timestamp, Int) => DataFrame,
      tmp: java.nio.file.Path): Unit = {
    val spark = src.sparkSession
    def file(i: Int) = tmp.resolve(s"in_$i.parquet")

    // Write `df` (src's columns + chunk number `__c`) partitioned by `__c`
    // in ONE job, then move chunk i's single part file to in_i.parquet.
    // An empty chunk gets no partition dir from the writer; it becomes an
    // empty file in src's schema, so every chunk stays one micro-batch.
    lazy val emptyFile = {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], src.schema)
        .write.parquet(s"$tmp/empty")
      partFiles(tmp.resolve("empty")).head
    }
    def writeParts(df: DataFrame, name: String, chunks: Range): Unit = {
      df.write.partitionBy("__c").parquet(s"$tmp/$name")
      for (i <- chunks) {
        val part = tmp.resolve(name).resolve(s"__c=$i")
        if (!Files.isDirectory(part)) Files.copy(emptyFile, file(i))
        else partFiles(part) match {
          case Seq(f) => Files.move(f, file(i))
          case fs => throw new IllegalStateException(
            s"replay chunk $i: expected one part file, got ${fs.size}")
        }
      }
    }

    val orderKey =
      if (orderJitterSec == 0L) unix_micros(col("ts"))
      else unix_micros(col("ts")) +
        (pmod(xxhash64(col("id")), lit(2 * orderJitterSec + 1)) - orderJitterSec) * 1000000L
    // The un-partitioned window already holds every row in one ordered
    // partition; sorting it by (chunk, orderKey, id) satisfies the
    // partitioned writer's own ordering requirement, so it adds no sort
    // and each chunk file keeps replay order. src and the window run once.
    writeParts(
      src.withColumn("__c", ntile(nChunks).over(Window.orderBy(orderKey, col("id"))))
        .sortWithinPartitions(col("__c"), orderKey, col("id")),
      "chunks", 1 to nChunks)

    // max(ts) from the written chunks (schema given: no inference job),
    // not from a re-run of src's plan
    val maxTs = spark.read.schema(src.schema)
      .parquet((1 to nChunks).map(file(_).toString): _*)
      .agg(max(col("ts"))).head.getTimestamp(0)
    // 30 days past max event time: beyond any window/timer deadline the
    // declared queries use (<= 24 h); both sentinel batches in one write
    val sentinels = (0 until 2).map { j =>
      val sTs = new Timestamp(maxTs.getTime + 30L * 86400 * 1000 + j * 1000)
      sentinel(sTs, j).select(src.columns.map(col): _*).withColumn("__c", lit(nChunks + 1 + j))
    }.reduce(_ union _)
    writeParts(sentinels.coalesce(1), "sentinels", nChunks + 1 to nChunks + 2)

    // the file source orders micro-batches by mtime: set them explicitly
    // ascending, one second apart (coarse-mtime filesystems), ending now
    val t0 = System.currentTimeMillis() - (nChunks + 2) * 1000L
    for (i <- 1 to nChunks + 2)
      Files.setLastModifiedTime(file(i), FileTime.fromMillis(t0 + i * 1000L))
  }

  /** The parquet part files directly under `dir` (not the writer's .crc
    * side files). */
  private def partFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally ls.close()
  }

  /** One streaming run over a prepared chunk dir: fresh checkpoint (a
    * subdir of the scratch, deleted after — state always starts empty),
    * memory-sink collection, returned as a batch frame. The chunk files
    * are left in place for further replays; [[Prepared.close]] /
    * [[replayCore]]'s finally owns their deletion. */
  private def runPrepared(
      spark: org.apache.spark.sql.SparkSession,
      tmp: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType,
      pipeline: DataFrame => DataFrame): DataFrame = {
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/in_*.parquet") // glob: the ckpt subdir never matches
    val name = s"graft_replay_${counter.incrementAndGet()}"
    val ckpt = Files.createTempDirectory(tmp, "ckpt")
    val q = pipeline(stream).writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString) // self-contained: no session-level default needed
      .start()
    try q.processAllAvailable()
    finally {
      q.stop()
      // the checkpoint is dead once the query stopped (results live in
      // the memory sink) — delete eagerly, INSIDE the finally, so a failed
      // replay (which callers catch and retry) can't leak a RAM-backed dir
      // under the tmpfs redirect; best-effort, never fails a replay.
      deleteTree(ckpt)
    }
    spark.table(name)
  }

  /** Best-effort recursive delete; the walk stream is closed explicitly —
    * java.util.stream holds the dir handles open until then. */
  private[streaming] def deleteTree(p: java.nio.file.Path): Unit =
    scala.util.Try {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(x => { Files.deleteIfExists(x); () })
      finally walk.close()
    }
}
