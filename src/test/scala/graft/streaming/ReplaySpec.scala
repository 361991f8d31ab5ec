package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The prepared replay input itself: file layout, chunk sizes and order,
  * mtimes, scratch cleanup on failure, and a job count that does not grow
  * with the chunk count. */
class ReplaySpec extends SparkSpec {

  private lazy val events: DataFrame =
    graft.io.Tables(spark, "/root/testdata/sf0.001").events.select(
      col("user_id").cast("string").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"))

  private def inFiles(dir: Path): Seq[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("in_") && n.endsWith(".parquet")).toList.sorted
    finally ls.close()
  }

  private def withPrepared[T](nChunks: Int, jitter: Long = 0L)(
      body: Replay.Prepared[KeyedEvent] => T): T = {
    val p = Replay.prepareKeyed(events, nChunks, jitter)
    try body(p) finally p.close()
  }

  private def chunk(p: Replay.Prepared[_], i: Int): DataFrame =
    spark.read.parquet(p.dir.resolve(s"in_$i.parquet").toString)

  test("a prepared dir holds exactly nChunks + 2 in_*.parquet files") {
    for (n <- Seq(4, 10)) withPrepared(n) { p =>
      assert(inFiles(p.dir) == (1 to n + 2).map(i => s"in_$i.parquet").sorted)
    }
  }

  test("per-chunk row counts are the ntile sizes; sentinels are one row each") {
    val total = events.count()
    val n = 7
    withPrepared(n) { p =>
      val expected = (1 to n).map(i => total / n + (if (i <= total % n) 1 else 0))
      assert((1 to n).map(chunk(p, _).count()) == expected)
      for (i <- n + 1 to n + 2) {
        val rows = chunk(p, i).collect()
        assert(rows.length == 1)
        assert(rows.head.getAs[String]("key") == Replay.Sentinel)
      }
    }
  }

  test("an empty chunk still gets its own empty file") {
    val three = events.orderBy(col("ts"), col("id")).limit(3)
    val p = Replay.prepareKeyed(three, nChunks = 5)
    try {
      assert(inFiles(p.dir) == (1 to 7).map(i => s"in_$i.parquet").sorted)
      assert((1 to 5).map(chunk(p, _).count()) == Seq(1L, 1L, 1L, 0L, 0L))
      assert(chunk(p, 4).schema == chunk(p, 1).schema)
      assert(p.replay(_.toDF()).count() == 5L) // 3 events + 2 sentinels
    } finally p.close()
  }

  test("each chunk file is in (orderKey, id) order and chunks do not overlap") {
    for (jitter <- Seq(0L, 2L)) withPrepared(5, jitter) { p =>
      val orderKey =
        if (jitter == 0L) unix_micros(col("ts"))
        else unix_micros(col("ts")) +
          (pmod(xxhash64(col("id")), lit(2 * jitter + 1)) - jitter) * 1000000L
      val keyed = (1 to 5).map { i =>
        chunk(p, i).select(orderKey, col("id")).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
      }
      val ord = Ordering.Tuple2[Long, String]
      for ((rows, i) <- keyed.zipWithIndex) {
        assert(rows.nonEmpty)
        assert(rows.zip(rows.drop(1)).forall { case (a, b) => ord.lt(a, b) },
          s"chunk ${i + 1} (jitter $jitter) is not in (orderKey, id) order")
      }
      for (Seq(a, b) <- keyed.sliding(2))
        assert(ord.lt(a.last, b.head), s"chunks overlap (jitter $jitter)")
    }
  }

  test("mtimes strictly ascend, sentinels last") {
    withPrepared(6) { p =>
      val mtimes = (1 to 8).map(i =>
        Files.getLastModifiedTime(p.dir.resolve(s"in_$i.parquet")).toMillis)
      assert(mtimes.zip(mtimes.drop(1)).forall { case (a, b) => a < b }, mtimes.toString)
    }
  }

  test("a failing src leaves no scratch dir behind") {
    val scratch = Files.createTempDirectory("graft-replay-spec")
    val prev = sys.props.get("graft.replay.tmpdir")
    sys.props("graft.replay.tmpdir") = scratch.toString
    try {
      val broken = events.withColumn("key",
        when(col("ts").isNotNull, raise_error(lit("boom"))).otherwise(col("key")))
      intercept[Exception](Replay.prepareKeyed(broken, 4))
      intercept[Exception](Replay.keyedEvents(broken, 4)(_.toDF()))
      val left = Files.list(scratch)
      try assert(left.count() == 0L, "prepare leaked its scratch dir")
      finally left.close()
    } finally {
      prev match {
        case Some(v) => sys.props("graft.replay.tmpdir") = v
        case None    => sys.props.remove("graft.replay.tmpdir")
      }
      Replay.deleteTree(scratch)
    }
  }

  test("prepare runs the same number of jobs at nChunks = 4 and 10") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    // listener events arrive in order: once a marker job's start is seen,
    // every job submitted before it has been counted
    def jobsOf(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(s"$group-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      groups.asScala.count(_ == group)
    }
    try {
      events.count() // the input's first read falls outside both counts
      val jobs4 = jobsOf("replay-prepare-4")(Replay.prepareKeyed(events, 4).close())
      val jobs10 = jobsOf("replay-prepare-10")(Replay.prepareKeyed(events, 10).close())
      assert(jobs4 > 0)
      assert(jobs4 == jobs10, s"prepare jobs grow with nChunks: $jobs4 at 4, $jobs10 at 10")
    } finally sc.removeSparkListener(listener)
  }
}
