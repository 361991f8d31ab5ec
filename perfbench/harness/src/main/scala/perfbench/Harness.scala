package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.io.Tables

/** One benchmark run of one workload, in a fresh JVM: the set-up (session
  * build, input registration, one warm pass over every op), then
  * closed-loop timed passes until `seconds` have elapsed. One client: each
  * op starts only after the previous one has committed. Writes
  * `<out>/record.json` (and `<out>/oracle_sql.json`); run.py derives
  * every metric from the record.
  *
  * An op is one `SparkEntry.queries(name)(spark, dir)` call whose result
  * goes to the noop sink, timed as lookup (the registry call), build (the
  * call of the query's function, including any eager Spark work; for a
  * `*_stream` op the whole replay) and exec (the sink write, which plans
  * and runs the query). The warm pass writes each result to parquet
  * instead, for run.py's oracle check. With `trace` on, the third timed
  * pass and every second one after it run with the Spark and
  * query-execution listeners attached, so one run gives both the traced
  * numbers and the tracing overhead. The streaming
  * progress listener is on in every pass: micro-batch latency is an
  * end-to-end number.
  *
  * Usage: Harness --input DIR --ops a,b,c --out DIR --seconds N --trace 0|1
  *        --cpus N --partitions N [--inject-wrong NAME]
  */
object Harness {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds on the monotonic clock, comparable with the
    * listener timestamps. */
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    new Run(
      input = a("input"), ops = a("ops").split(",").toSeq, out = a("out"),
      seconds = a("seconds").toDouble, trace = a("trace") == "1", cpus = a("cpus").toInt,
      partitions = a("partitions").toInt, injectWrong = a.get("inject-wrong")).run()
  }

  private final class Run(
      input: String, ops: Seq[String], out: String, seconds: Double,
      trace: Boolean, cpus: Int, partitions: Int, injectWrong: Option[String]) {
    private val rec = new Recorder
    private var spark: SparkSession = _
    private val passRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val opRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val failures = mutable.LinkedHashMap.empty[String, String]

    private def gcMs: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    def run(): Unit = {
      Files.createDirectories(Paths.get(out, "check"))
      Files.writeString(Paths.get(out, "oracle_sql.json"),
        Json(ops.map(n => n -> SparkEntry.oracleSql.get(n)).toMap))

      val setup = setUp()

      // timed closed loop: whole passes until `seconds` have elapsed. A
      // traced run starts with two untraced passes (the first still warms
      // up steeply), then alternates traced and untraced ones, at least
      // four in all: each traced pass has an untraced pass on either side
      // for the overhead estimate.
      val t0 = nowMs
      var p = 0
      while (nowMs - t0 < seconds * 1000 || (trace && p < 4)) {
        val traced = trace && p >= 2 && p % 2 == 0
        if (traced) {
          spark.sparkContext.addSparkListener(rec.sparkListener)
          spark.listenerManager.register(rec.queryListener)
        }
        val gc0 = gcMs
        val start = nowMs
        ops.foreach(runOp(_, s"$p", check = false))
        val end = nowMs
        passRecs += Map("pass" -> p, "traced" -> traced, "start" -> start, "end" -> end,
          "gc_ms" -> (gcMs - gc0))
        if (traced) {
          rec.drain()
          spark.sparkContext.removeSparkListener(rec.sparkListener)
          spark.listenerManager.unregister(rec.queryListener)
        }
        p += 1
      }
      rec.drain()

      val mem = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum
      val record = Map(
        "env" -> Map(
          "spark" -> spark.version, "java" -> System.getProperty("java.version"),
          "cpus" -> cpus, "master" -> spark.sparkContext.master,
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")),
        "setup" -> setup, "passes" -> passRecs, "ops" -> opRecs,
        "failures" -> failures,
        "jvm" -> Map(
          "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
          "heap_peak_bytes" -> mem, "rss_peak_kb" -> peakRssKb),
        "events" -> rec.events.asScala.toSeq)
      spark.stop()
      Files.writeString(Paths.get(out, "record.json"), Json(record))
    }

    /** Session build, input registration and the warm pass, timed from
      * JVM start. */
    private def setUp(): Map[String, Double] = {
      val start = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
      spark = GraftSession.builder(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", partitions.toString)
        .config("spark.local.dir", Paths.get(out, "spark-local").toString)
        .config("spark.sql.warehouse.dir", Paths.get(out, "warehouse").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark.streams.addListener(rec.streamListener)
      val session = nowMs
      // registration: resolve each generated table's schema (footers, listing)
      def has(table: String) = Files.exists(Paths.get(input, s"$table.parquet"))
      val t = Tables(spark, input)
      if (has("events")) t.events.schema
      if (has("documents")) t.documents.schema
      if (has("embeddings")) t.embeddings.schema
      val registered = nowMs
      ops.foreach(runOp(_, "setup", check = true))
      Map("start" -> start, "session" -> session, "registered" -> registered, "end" -> nowMs)
    }

    /** One op: lookup, build, exec. A throw is recorded with its class and
      * message and the loop goes on. */
    private def runOp(name: String, pass: String, check: Boolean): Unit = {
      val sc = spark.sparkContext
      val key = s"$pass/${opRecs.size}"
      sc.setLocalProperty(OpKey, key)
      val marks = mutable.ArrayBuffer(nowMs)
      var error: Option[String] = None
      try {
        sc.setLocalProperty(PhaseKey, "lookup")
        val build = SparkEntry.queries(name)
        marks += nowMs
        sc.setLocalProperty(PhaseKey, "build")
        val df = build(spark, input)
        marks += nowMs
        sc.setLocalProperty(PhaseKey, "exec")
        if (check) writeCheck(name, df)
        else df.write.format("noop").mode("overwrite").save()
        marks += nowMs
      } catch {
        case e: Throwable =>
          error = Some(s"${e.getClass.getName}: ${e.getMessage}")
          failures.getOrElseUpdate(name, error.get)
          marks += nowMs
      } finally {
        sc.setLocalProperty(OpKey, null)
        sc.setLocalProperty(PhaseKey, null)
      }
      opRecs += Map("key" -> key, "pass" -> pass, "name" -> name,
        "marks" -> marks.toSeq, "error" -> error)
      // free whatever the query persisted, as Bench and Verify do, so
      // repeated passes hold storage flat
      spark.catalog.clearCache()
    }

    /** The checked output: one parquet file per op; `--inject-wrong`
      * duplicates a row of the named op's result (the self-test's
      * deliberately wrong output). */
    private def writeCheck(name: String, df: DataFrame): Unit = {
      val outDf = if (injectWrong.contains(name)) df.union(df.limit(1)) else df
      outDf.repartition(1).write.mode("overwrite").parquet(Paths.get(out, "check", name).toString)
    }

    private def peakRssKb: Long = {
      val status = Paths.get("/proc/self/status")
      if (!Files.exists(status)) -1L
      else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    }
  }
}
