package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Batch operator specs on tiny in-memory data. Scenario rows mirror the
  * reference's curated CSV inputs (SURVEY §5): consecutive-fail bursts,
  * create-without-pay orders, unmatched receipts.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // ---- WindowAggs ----

  test("tumblingCount counts rows per hour window") {
    val df = Seq(
      ("2020-01-01 10:05:00", "a"),
      ("2020-01-01 10:55:00", "b"),
      ("2020-01-01 11:05:00", "c"))
      .toDF("t", "v")
      .withColumn("t", col("t").cast("timestamp"))
    val got = WindowAggs
      .tumblingCount(df, col("t"), "1 hour")
      .orderBy("window_start")
      .collect()
      .map(r => (r.getTimestamp(1).toString, r.getLong(0)))
    assert(got.toSeq == Seq(("2020-01-01 10:00:00.0", 2L), ("2020-01-01 11:00:00.0", 1L)))
  }

  test("slidingCount lands each row in size/slide windows") {
    val df = Seq(("2020-01-01 10:30:00", "a")).toDF("t", "v")
      .withColumn("t", col("t").cast("timestamp"))
    val got = WindowAggs.slidingCount(df, col("t"), "1 hour", "15 minutes")
    assert(got.count() == 4) // one row appears in 60/15 = 4 windows
  }

  test("slidingCountPanes emits exactly the rows of slidingCount (testdata sf0.001)") {
    val events = graft.io.Tables(spark, "/root/testdata/sf0.001").events
      .filter(col("event_type") === "click")
    val viaExpand = WindowAggs
      .slidingCount(events, col("ts"), "1 hour", "5 minutes", Seq(col("user_id")))
      .select("window_start", "user_id", "cnt")
      .as[(Timestamp, Long, Long)].collect().toSet
    val viaPanes = WindowAggs
      .slidingCountPanes(events, col("ts"), "1 hour", "5 minutes", Seq(col("user_id")))
      .select("window_start", "user_id", "cnt")
      .as[(Timestamp, Long, Long)].collect().toSet
    assert(viaPanes == viaExpand)
    assert(viaPanes.nonEmpty)
  }

  test("slidingCountDistinct pane collapse == raw expansion (keyed + fallback geometry)") {
    // round 9: aligned geometries (size % slide == 0) pre-collapse to
    // distinct (key, pane, value) before the window expansion — must be
    // row-identical to the raw expansion, keyed and unkeyed; and the
    // non-multiple geometry (90 min / 1 h) must take the raw path and
    // stay correct (window membership changes mid-pane there)
    val events = graft.io.Tables(spark, "/root/testdata/sf0.001").events
    def raw(size: String, slide: String, keys: Seq[org.apache.spark.sql.Column]) =
      WindowAggs.flattenForTest(
        events.groupBy(window(col("ts"), size, slide) +: keys: _*)
          .agg(count_distinct(col("user_id")).as("uv")))
    def viaOp(size: String, slide: String, keys: Seq[org.apache.spark.sql.Column]) =
      WindowAggs.slidingCountDistinct(events, col("ts"), size, slide, col("user_id"), keys)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSet
    }
    for ((size, slide) <- Seq(("3 days", "1 day"), ("90 minutes", "1 hour"))) {
      val a = rows(viaOp(size, slide, Nil))
      val b = rows(raw(size, slide, Nil))
      assert(a == b && a.nonEmpty, s"unkeyed $size/$slide")
      val ka = rows(viaOp(size, slide, Seq(col("event_type"))))
      val kb = rows(raw(size, slide, Seq(col("event_type"))))
      assert(ka == kb && ka.nonEmpty, s"keyed $size/$slide")
    }
  }

  test("slidingCountPanes accepts computed keys whose auto-names contain dots") {
    // get_json_object auto-generates a name with dots/parens; the second
    // groupBy must re-reference it quoted, not as nested-field access
    val df = Seq(
      ("2020-01-01 10:02:00", """{"k": 7}"""),
      ("2020-01-01 10:03:00", """{"k": 7}"""),
      ("2020-01-01 10:07:00", """{"k": 3}"""))
      .toDF("t", "props")
      .withColumn("t", col("t").cast("timestamp"))
    val got = WindowAggs
      .slidingCountPanes(df, col("t"), "10 minutes", "5 minutes",
        Seq(get_json_object(col("props"), "$.k")))
      .collect()
    assert(got.map(_.getLong(2)).sum == 6) // 3 rows x 2 windows each
    intercept[IllegalArgumentException] {
      WindowAggs.slidingCountPanes(df, col("t"), "10 minutes", "5 minutes",
        Seq(col("props"), col("props")))
    }
  }

  test("slidingCountDistinct accepts computed keys whose auto-names contain dots") {
    // same quoting idiom as slidingCountPanes, on the aligned-geometry
    // (pane pre-collapse) path where the keys get re-referenced by name
    val df = Seq(
      ("2020-01-01 10:02:00", """{"k": 7}""", 1L),
      ("2020-01-01 10:03:00", """{"k": 7}""", 1L), // same user: distinct collapses
      ("2020-01-01 10:07:00", """{"k": 3}""", 2L))
      .toDF("t", "props", "u")
      .withColumn("t", col("t").cast("timestamp"))
    val got = WindowAggs
      .slidingCountDistinct(df, col("t"), "10 minutes", "5 minutes", col("u"),
        Seq(get_json_object(col("props"), "$.k")))
      .collect()
    assert(got.map(_.getAs[Long]("uv")).sum == 4) // each (key,user) in 2 windows
    intercept[IllegalArgumentException] {
      WindowAggs.slidingCountDistinct(df, col("t"), "10 minutes", "5 minutes", col("u"),
        Seq(col("props"), col("props")))
    }
  }

  test("tumblingCountDistinct counts distinct users") {
    val df = Seq(
      ("2020-01-01 10:05:00", 1L),
      ("2020-01-01 10:15:00", 1L),
      ("2020-01-01 10:25:00", 2L))
      .toDF("t", "u")
      .withColumn("t", col("t").cast("timestamp"))
    val got = WindowAggs.tumblingCountDistinct(df, col("t"), "1 hour", col("u")).collect()
    assert(got.head.getLong(0) == 2L)
  }

  // ---- TopN ----

  test("TopN.perPartition ranks within each partition, deterministic ties") {
    val df = Seq(("p1", "x", 10), ("p1", "y", 30), ("p1", "z", 20), ("p2", "q", 1))
      .toDF("p", "item", "cnt")
    val got = TopN
      .perPartition(df, Seq(col("p")), Seq(col("cnt").desc, col("item").asc), 2)
      .select("p", "item", "rank")
      .as[(String, String, Long)]
      .collect()
      .toSet
    assert(got == Set(("p1", "y", 1L), ("p1", "z", 2L), ("p2", "q", 1L)))
  }

  // ---- Sequences (C2/C3/C5/C6 batch semantics) ----

  test("consecutiveMatches finds fail-fail runs within gap, success resets") {
    // the LoginLog scenario: two fails 1s apart -> warn; fail,success,fail -> no warn
    val df = Seq(
      ("u1", "2020-01-01 00:00:00", "e1", "fail"),
      ("u1", "2020-01-01 00:00:01", "e2", "fail"),
      ("u2", "2020-01-01 00:00:00", "e3", "fail"),
      ("u2", "2020-01-01 00:00:01", "e4", "success"),
      ("u2", "2020-01-01 00:00:02", "e5", "fail"),
      ("u3", "2020-01-01 00:00:00", "e6", "fail"),
      ("u3", "2020-01-01 01:00:00", "e7", "fail")) // gap > 2s
      .toDF("k", "t", "id", "kind")
      .withColumn("t", col("t").cast("timestamp"))
    val got = Sequences
      .consecutiveMatches(df, col("k"), col("t"), col("id"), col("kind") === "fail", 2, 2L)
      .as[(String, Timestamp, Timestamp)]
      .collect()
    assert(got.toSeq == Seq(("u1", ts("2020-01-01 00:00:00"), ts("2020-01-01 00:00:01"))))
  }

  test("consecutiveMatches n=3 needs three in a row") {
    val df = Seq(
      ("u1", "2020-01-01 00:00:00", "a", "fail"),
      ("u1", "2020-01-01 00:00:01", "b", "fail"),
      ("u1", "2020-01-01 00:00:02", "c", "fail"))
      .toDF("k", "t", "id", "kind")
      .withColumn("t", col("t").cast("timestamp"))
    assert(Sequences.consecutiveMatches(
      df, col("k"), col("t"), col("id"), col("kind") === "fail", 3, 10L).count() == 1)
    assert(Sequences.consecutiveMatches(
      df, col("k"), col("t"), col("id"), col("kind") === "fail", 4, 10L).count() == 0)
  }

  test("dailyThreshold keeps only keys at/over the threshold per day") {
    val df = Seq(
      ("u1", "2020-01-01 10:00:00", "click"),
      ("u1", "2020-01-01 11:00:00", "click"),
      ("u1", "2020-01-02 10:00:00", "click"), // next day: count resets
      ("u2", "2020-01-01 10:00:00", "click"))
      .toDF("k", "t", "kind")
      .withColumn("t", col("t").cast("timestamp"))
    val got = Sequences
      .dailyThreshold(df, col("k"), col("t"), col("kind") === "click", 2L)
      .select("key", "cnt").as[(String, Long)].collect()
    assert(got.toSeq == Seq(("u1", 2L)))
  }

  test("matchWithTimeout: pay in time matched, no pay times out") {
    // the OrderLog scenario: o1 created+paid in window, o2 never paid,
    // o3 paid too late
    val reqs = Seq(
      ("o1", "r1", "2020-01-01 00:00:00"),
      ("o2", "r2", "2020-01-01 00:00:00"),
      ("o3", "r3", "2020-01-01 00:00:00"))
      .toDF("key", "id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val resps = Seq(
      ("o1", "2020-01-01 00:10:00"),
      ("o3", "2020-01-01 01:00:00"))
      .toDF("key", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val got = Sequences
      .matchWithTimeout(reqs, resps, timeoutSec = 900L)
      .select("key", "status").as[(String, String)].collect().toSet
    assert(got == Set(("o1", "matched"), ("o2", "timeout"), ("o3", "timeout")))
  }

  // ---- Joins ----

  test("intervalJoin keeps pairs inside the time range only") {
    val l = Seq(("k1", "p1", "2020-01-01 02:00:00"))
      .toDF("lk", "lid", "lts").withColumn("lts", col("lts").cast("timestamp"))
    val r = Seq(
      ("k1", "c1", "2020-01-01 01:30:00"), // inside [-2h, 0]
      ("k1", "c2", "2020-01-01 02:30:00"), // after: out
      ("k1", "c3", "2019-12-31 23:00:00")) // too early: out
      .toDF("rk", "rid", "rts").withColumn("rts", col("rts").cast("timestamp"))
    val got = Joins
      .intervalJoin(l, r, col("lk"), col("rk"), col("lts"), col("rts"), -7200L, 0L)
      .select("lid", "rid").as[(String, String)].collect()
    assert(got.toSeq == Seq(("p1", "c1")))
  }

  test("reconcile emits matched plus both side-output tags") {
    // the PayReceipt scenario: tx1 both sides, tx2 pay only, tx3 receipt only
    val l = Seq(("tx1", "p1", "2020-01-01 00:00:00"), ("tx2", "p2", "2020-01-01 00:00:00"))
      .toDF("lk", "lid", "lts").withColumn("lts", col("lts").cast("timestamp"))
    val r = Seq(("tx1", "r1", "2020-01-01 00:00:03"), ("tx3", "r3", "2020-01-01 00:00:00"))
      .toDF("rk", "rid", "rts").withColumn("rts", col("rts").cast("timestamp"))
    val got = Joins
      .reconcile(l, r, col("lk"), col("rk"), col("lts"), col("rts"), 5L,
        "matched", "pay_no_receipt", "receipt_no_pay")
      .select("status").as[String].collect().sorted
    assert(got.toSeq == Seq("matched", "pay_no_receipt", "receipt_no_pay"))
  }

  test("asOfJoin picks the latest build at-or-before each probe, null when none") {
    val p = Seq(("u1", "p1", "2020-01-01 02:00:00"), ("u2", "p2", "2020-01-01 00:00:00"))
      .toDF("pk", "pid", "pts").withColumn("pts", col("pts").cast("timestamp"))
    val b = Seq(
      ("u1", "c1", "2020-01-01 01:00:00"), // before: candidate
      ("u1", "c2", "2020-01-01 02:00:00"), // same instant: wins (inclusive)
      ("u1", "c3", "2020-01-01 03:00:00")) // after: never visible
      .toDF("bk", "bid", "bts").withColumn("bts", col("bts").cast("timestamp"))
    val got = Joins
      .asOfJoin(p, b, col("pk"), col("bk"), col("pts"), col("bts"))
      .select("pid", "bid").as[(String, String)].collect().toSet
    assert(got == Set(("p1", "c2"), ("p2", null)))
  }

  test("asOfJoin tie-break: greatest tie-break column wins among equal-ts builds") {
    val p = Seq(("u1", "p1", "2020-01-01 02:00:00"))
      .toDF("pk", "pid", "pts").withColumn("pts", col("pts").cast("timestamp"))
    val b = Seq(("u1", "c1", "2020-01-01 01:00:00"), ("u1", "c9", "2020-01-01 01:00:00"))
      .toDF("bk", "bid", "bts").withColumn("bts", col("bts").cast("timestamp"))
    val got = Joins
      .asOfJoin(p, b, col("pk"), col("bk"), col("pts"), col("bts"), buildTieBreak = Seq("bid"))
      .select("bid").as[String].collect().toSeq
    assert(got == Seq("c9"))
  }

  test("asOfJoin matches the brute-force max-prior-build formulation") {
    // randomized small input, fixed seed: asOfJoin ≡ (range join + argmax)
    val rnd = new scala.util.Random(7)
    val probes = (1 to 40).map(i =>
      (s"u${rnd.nextInt(5)}", s"p$i", new java.sql.Timestamp(rnd.nextInt(1000) * 1000L)))
      .toDF("pk", "pid", "pts")
    val builds = (1 to 60).map(i =>
      (s"u${rnd.nextInt(5)}", f"c$i%03d", new java.sql.Timestamp(rnd.nextInt(1000) * 1000L)))
      .toDF("bk", "bid", "bts")
    val got = Joins
      .asOfJoin(probes, builds, col("pk"), col("bk"), col("pts"), col("bts"),
        buildTieBreak = Seq("bid"))
      .select("pid", "bid").as[(String, String)].collect().toSet
    // brute force: all prior builds per probe, keep (max ts, then max id)
    val want = probes.as[(String, String, java.sql.Timestamp)].collect().map {
      case (pk, pid, pts) =>
        val cands = builds.as[(String, String, java.sql.Timestamp)].collect()
          .filter { case (bk, _, bts) => bk == pk && !bts.after(pts) }
        pid -> (if (cands.isEmpty) null
                else cands.maxBy { case (_, bid, bts) => (bts.getTime, bid) }._2)
    }.toSet
    assert(got == want)
  }

  test("apacheLog parses the reference's log line shape; malformed -> nulls") {
    val lines = Seq(
      "83.149.9.216 10001 - 17/05/2015:10:05:03 +0000 GET /presentations/x.png",
      "a b c not-a-date e f g", // enough fields, bad date -> null ts, no throw
      "garbage").toDF("value")
    val got = graft.io.LogParse.apacheLog(lines, col("value"))
    val ok = got.filter(col("ts").isNotNull)
      .select("ip", "user_id", "method", "url").as[(String, String, String, String)].head()
    assert(ok == (("83.149.9.216", "10001", "GET", "/presentations/x.png")))
    assert(got.filter(col("ts").isNull).count() == 2) // malformed rows survive as nulls
  }

  // ---- Dedup ----

  test("exact dedup groups identical normalized text") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(df, col("doc_id"), lower(col("text")))
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 1L)))
  }

  test("ingestIncrement: exact stage wins, near verdicts split corpus vs batch, novel admits") {
    // corpus doc 0; batch: 1 = byte-identical copy (dup_exact even though
    // it would also near-dup), 3 = one word off the corpus doc
    // (near_dup_corpus; J = 0.75, collides deterministically), 5/9 = a
    // corpus-unrelated pair one trailing word apart (J = 13/15 — checked
    // against the portable hash family: 4 of 16 bands collide, so 5 is
    // admitted and 9 is near_dup_batch), 7 = novel (admitted)
    val base = "the quick brown fox jumps over the lazy dog"
    val greek = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val corpus = Seq((0L, base)).toDF("doc_id", "text")
    val batch = Seq(
      (1L, base),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (5L, greek),
      (7L, "completely different words about distributed shuffle exchanges"),
      (9L, greek.stripSuffix("pi") + "rho"))
      .toDF("doc_id", "text")
    val (hx, bx) = Dedup.nearDupIndex(corpus, col("doc_id"), col("text"),
      shingleLen = 3, k = 64, bands = 16)
    val got = Dedup.ingestIncrement(
        Dedup.fingerprintSet(corpus, col("text")), hx, bx, batch, col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, threshold = 0.6)
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "dup_exact",
      3L -> "near_dup_corpus",
      5L -> "admitted",
      7L -> "admitted",
      9L -> "near_dup_batch"))
  }

  test("incrementalNearIngest: appended index screens day 2 like a rebuilt one") {
    val base = "the quick brown fox jumps over the lazy dog"
    val greek = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val corpus = Seq((0L, base)).toDF("doc_id", "text")
    val day1 = Seq(
      (1L, base), // no exact stage here: byte-identical -> near_dup_corpus
      (3L, "the quick brown fox jumps over the lazy cat"),
      (5L, greek),
      (7L, "completely different words about distributed shuffle exchanges"),
      (9L, greek.stripSuffix("pi") + "rho"))
      .toDF("doc_id", "text")
    def index(docs: org.apache.spark.sql.DataFrame) =
      Dedup.nearDupIndex(docs, col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16)
    def screen(hx: org.apache.spark.sql.DataFrame, bx: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalNearIngest(hx, bx, batch, col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, threshold = 0.6)
        .as[(Long, String)].collect().toMap
    val (hx, bx) = index(corpus)
    val indexed = screen(hx, bx, day1)
    assert(indexed(1L) == "near_dup_corpus" && indexed(5L) == "admitted")
    // day 2: append the admitted day-1 docs' index rows (the per-increment
    // discipline — the corpus is never re-shingled) and screen a new batch;
    // 20 near-dups day-1 admitted doc 5 (now a CORPUS hit), 22 is novel
    val admittedIds = indexed.collect { case (i, "admitted") => i }.toSeq
    val admitted = day1.filter(col("doc_id").isin(admittedIds: _*))
    val (hA, bA) = index(admitted)
    val day2 = Seq(
      (20L, greek.stripSuffix("pi") + "sigma"),
      (22L, "entirely fresh topic sentences regarding columnar storage formats"))
      .toDF("doc_id", "text")
    val got2 = screen(hx.union(hA), bx.union(bA), day2)
    assert(got2 == Map(20L -> "near_dup_corpus", 22L -> "admitted"))
    // and the appended index screens exactly like one rebuilt from
    // corpus ∪ admitted text
    val (hU, bU) = index(corpus.union(admitted))
    assert(got2 == screen(hU, bU, day2))
  }

  test("portableShingleHashArray equals portableShingleHashRows (incl. short-doc fallback)") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "short doc"), // < n tokens -> whole-text shingle
      (3L, (1 to 40).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = TextOps.portableShingleHashRows(df, col("doc_id"), col("text"), 13)
      .distinct().as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val arr = df.select(col("doc_id"),
        Dedup.portableShingleHashArray(col("text"), 13).as("hs"))
      .as[(Long, Seq[Long])].collect()
      .map { case (i, hs) => i -> hs.toSet }.toMap
    assert(arr == rows)
  }

  test("exactNgramCollisions: a verbatim 13-token span flags; high-overlap-no-run does not") {
    val span = (1 to 13).map(i => s"leak$i").mkString(" ") // the verbatim 13-gram
    val evalDoc = s"benchmark question about $span and its answer"
    // train 1 embeds the span verbatim inside otherwise-different text;
    // train 3 shares many tokens with the eval doc but never 13 in a row;
    // train 5 is clean; eval ids are even
    val train1 = s"some unrelated prose then $span then more unrelated prose"
    val train3 = (1 to 13).map(i => s"leak$i pad$i").mkString(" ") // interleaved: no run
    val df = Seq(
      (0L, evalDoc), (2L, "another benchmark item entirely"),
      (1L, train1), (3L, train3), (5L, "wholly clean document text here"))
      .toDF("doc_id", "text")
    val got = Dedup.exactNgramCollisions(
        df.filter(col("doc_id") % 2 === 1), df.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), n = 13)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 0L)))
  }

  test("contaminatedSpans: offsets, padding, merge, clamp — planted leaks land exactly") {
    val span = (1 to 13).map(i => s"leak$i").mkString(" ")
    val evalDoc = s"benchmark question about $span and its answer"
    // train 1: the leak at tokens [4, 17) of a 40-token doc → padded span
    // [max(0,4-2), min(40,16+13+2))... pad=2: hits at pos 4 only, span
    // [2, 19). train 3: TWO leaks close enough to merge (second run
    // starts 13 tokens after the first: consecutive verbatim runs give
    // hits at every pos in [2, 2+14), one island). train 5: clean.
    // train 7: leak at pos 0 of a short 15-token doc → clamped at 0.
    val t1 = ((1 to 4).map(i => s"a$i") ++ span.split(" ") ++ (1 to 23).map(i => s"b$i")).mkString(" ")
    val t3 = ((1 to 2).map(i => s"c$i") ++ span.split(" ") ++ span.split(" ") ++ (1 to 10).map(i => s"d$i")).mkString(" ")
    val t7 = (span.split(" ") ++ Seq("x1", "x2")).mkString(" ")
    val df = Seq(
      (0L, evalDoc),
      (1L, t1), (3L, t3), (5L, "wholly clean document text here"), (7L, t7))
      .toDF("doc_id", "text")
    val got = Dedup.contaminatedSpans(
        df.filter(col("doc_id") % 2 === 1), df.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), n = 13, padTokens = 2)
      .as[(Long, Long, Long)].collect().toSet
    // t1: 40 tokens, hit at 4 → [2, 19); t3: 38 tokens, hits at 2 and 15
    // (the doubled span repeats the verbatim 13-gram 13 tokens later),
    // gap 13 ≤ 17 merges → [0, 30); t7: 15 tokens, hit at 0 → [0, 15)
    assert(got == Set((1L, 2L, 19L), (3L, 0L, 30L), (7L, 0L, 15L)))
  }

  test("decontaminateByRedaction: clean pieces survive, blanketed docs vanish") {
    val span = (1 to 13).map(i => s"leak$i").mkString(" ")
    val evalDoc = s"benchmark question about $span and its answer"
    val t1 = ((1 to 30).map(i => s"a$i") ++ span.split(" ") ++ (1 to 30).map(i => s"b$i")).mkString(" ")
    val t7 = (span.split(" ") ++ Seq("x1", "x2")).mkString(" ") // blanketed
    val clean = (1 to 25).map(i => s"e$i").mkString(" ")
    val df = Seq((0L, evalDoc), (1L, t1), (7L, t7), (9L, clean)).toDF("doc_id", "text")
    val got = Dedup.decontaminateByRedaction(
        df.filter(col("doc_id") % 2 === 1), df.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), n = 13, padTokens = 2, minPieceTokens = 20)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // t1: 73 tokens, hit at 30 → span [28, 45); pieces [0,28) and
    // [45,73), both ≥ 20. t7: span covers the whole doc → nothing.
    // clean 25-token doc → one whole piece.
    assert(got == Set(
      (1L, 0L, 0L, 28L, 28L), (1L, 1L, 45L, 73L, 28L),
      (9L, 0L, 0L, 25L, 25L)))
  }

  test("bloom decon twins: an empty eval side yields empty results, not a null bloom") {
    // bloomAgg over zero rows returns a null sketch; the twins must
    // degrade to the plain sweeps' empty-join result instead of feeding
    // might_contain a null filter
    val train = Seq(
      (1L, (1 to 20).map(i => s"tok$i").mkString(" ")),
      (3L, "wholly clean document text here")).toDF("doc_id", "text")
    val noEval = train.filter(lit(false))
    val hard = Dedup.exactNgramCollisionsBloom(
      train, noEval, col("doc_id"), col("text"), n = 13,
      expectedEvalShingles = 100L)
    assert(hard.isEmpty && hard.columns.toSeq == Seq("train_id", "eval_id"))
    val near = Dedup.crossCorpusNearDupsBloom(
      train, noEval, col("doc_id"), col("text"), n = 3, threshold = 0.5,
      expectedEvalShingles = 100L)
    assert(near.isEmpty && near.columns.toSeq == Seq("train_id", "eval_id", "jaccard"))
  }

  test("ngramJaccardPairs finds the planted near-dup pair only") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy dog again and often" // 1 word off
    val c = "completely different text with no overlap at all whatsoever here"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 3, 0.5)
      .select("a", "b").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L)))
  }

  test("removeDuplicateShingles scrubs shared runs, keeps short and unique docs intact") {
    // shingleLen=3: docs 1 and 2 share the run "a b c d" (two overlapping
    // 3-shingles "a b c" and "b c d" → positions 0..3 covered in both);
    // doc 3 is unique; doc 4 is shorter than a shingle and untouchable.
    val df = Seq(
      (1L, "a b c d x y z"),
      (2L, "p q a b c d"),
      (3L, "u v w r s t"),
      (4L, "m n"))
      .toDF("doc_id", "text")
    val got = Dedup.removeDuplicateShingles(df, col("doc_id"), col("text"), shingleLen = 3)
      .select("doc_id", "n_tokens", "n_kept", "cleaned_md5")
      .as[(Long, Long, Long, String)].collect().map(r => (r._1, (r._2, r._3, r._4))).toMap
    def m(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(got(1L) == ((7L, 3L, m("x y z"))))
    assert(got(2L) == ((6L, 2L, m("p q"))))
    assert(got(3L) == ((6L, 6L, m("u v w r s t"))))
    assert(got(4L) == ((2L, 2L, m("m n"))))
  }

  test("removeDuplicateShingles: fully-duplicated doc empties to md5 of empty string") {
    val df = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateShingles(df, col("doc_id"), col("text"), shingleLen = 3)
      .select("doc_id", "n_kept", "cleaned_md5").as[(Long, Long, String)].collect().toSet
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert(got == Set((1L, 0L, emptyMd5), (2L, 0L, emptyMd5)))
  }

  test("crossCorpusNearDups flags the leaked eval doc only") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val leak = "the quick brown fox jumps over the lazy dog again and often"
    val clean = "completely different text with no overlap at all whatsoever here"
    val train = Seq((1L, a)).toDF("doc_id", "text")
    val eval = Seq((100L, leak), (101L, clean)).toDF("doc_id", "text")
    val got = Dedup.crossCorpusNearDups(train, eval, col("doc_id"), col("text"), 3, 0.5)
      .select("train_id", "eval_id").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 100L)))
  }

  test("bm25: tf saturates and longer docs score lower at equal tf") {
    val df = Seq(
      (1L, "cat dog"), // tf(cat)=1, dl=2
      (2L, "cat cat dog"), // tf=2: more, but sub-linear
      (3L, "cat dog bird fish mouse wolf bear lion tiger fox"), // tf=1, dl=10
      (4L, "dog bird fish")) // keeps df(cat) < N
      .toDF("doc_id", "text")
    val s = TextOps.bm25PerTerm(df, col("doc_id"), col("text"), 10)
      .filter(col("token") === "cat")
      .select("doc_id", "score_1e4").as[(Long, Long)].collect().toMap
    assert(s(2L) > s(1L), "higher tf must score higher")
    assert(s(2L) < 2 * s(1L), "saturation: doubling tf must not double the score")
    assert(s(3L) < s(1L), "length normalization: longer doc scores lower at tf=1")
  }

  test("centroidByKey averages per (key, dim) with micro-unit flooring") {
    val df = Seq(
      ("a", Seq(1.0f, 2.0f)), ("a", Seq(3.0f, 6.0f)), ("b", Seq(10.0f, 0.0f)))
      .toDF("k", "vec")
    val got = Embeddings.centroidByKey(df, col("k"), col("vec"))
      .as[(String, Int, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(("a", 0) -> 2.0, ("a", 1) -> 4.0, ("b", 0) -> 10.0, ("b", 1) -> 0.0))
  }

  test("funnel: greedy earliest chain, strict order, window from step 1") {
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new Timestamp(t0.getTime + s * 1000L)
    val df = Seq(
      // u1 full chain; the click BEFORE the first view must not count
      (1L, ts(0), "b"), (1L, ts(1), "a"), (1L, ts(2), "b"), (1L, ts(3), "c"),
      // u2: step-2 only outside the 10 s window of its first "a"
      (2L, ts(0), "a"), (2L, ts(20), "b"),
      // u3: only a later-step event -> present with n_reached 0
      (3L, ts(0), "c"),
      // u4: same-ts step2 as step1 must NOT chain (strictly after)
      (4L, ts(0), "a"), (4L, ts(0), "b"))
      .toDF("u", "t", "k")
    val got = Sequences.funnel(df, col("u"), col("t"), col("k"), Seq("a", "b", "c"), 10L)
      .select("key", "n_reached").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 0, 4L -> 1), got.toString)
    val u1 = Sequences.funnel(df, col("u"), col("t"), col("k"), Seq("a", "b", "c"), 10L)
      .filter(col("key") === 1L).select("ts_first", "ts_reached")
      .as[(Timestamp, Timestamp)].head()
    assert(u1 == ((ts(1), ts(3))), s"chain must start at the first 'a': $u1")
  }

  test("eventSequences orders by (ts, id), caps the string, keeps the full count") {
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new Timestamp(t0.getTime + s * 1000L)
    // out-of-insertion-order events; two share ts=1 -> id 2L before 10L
    val df = Seq(
      (1L, ts(5), 9L, "e"), (1L, ts(1), 10L, "c"), (1L, ts(1), 2L, "b"),
      (1L, ts(0), 1L, "a"), (1L, ts(9), 3L, "z"), (2L, ts(0), 4L, "x"))
      .toDF("u", "t", "eid", "k")
    val got = Sequences.eventSequences(df, col("u"), col("t"), col("eid"), col("k"), 3)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 5L, "a|b|c")), s"cap at 3, (ts,id) order: ${got(1L)}")
    assert(got(2L) == ((2L, 1L, "x")))
  }

  test("contaminationFraction grades joint overlap the pair sweep misses") {
    // eval 100: tokens "a b c d" -> shingles {"a b c","b c d"}; train docs
    // 1 and 2 each contain ONE of them — jointly 100% contaminated even
    // though neither single pair has high Jaccard
    val train = Seq((1L, "a b c x y z q w e r t u"), (2L, "p b c d m n o k l f g h")).toDF("doc_id", "text")
    val eval = Seq((100L, "a b c d"), (101L, "u v w x")).toDF("doc_id", "text")
    val got = Dedup.contaminationFraction(train, eval, col("doc_id"), col("text"), 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(100L) == ((100L, 2L, 2L, 1.0)), s"jointly leaked doc: ${got(100L)}")
    assert(got(101L)._4 == 0.0, "clean doc must score 0")
  }

  test("filterByKeyQuantiles trims each key to its own band, exact and approx") {
    val df = ((1L to 100L).map(v => ("a", v)) ++ (1L to 10L).map(v => ("b", v * 1000L)))
      .toDF("k", "v")
    val kept = Stats.filterByKeyQuantiles(df, col("k"), col("v"), 0.05, 0.95)
      .as[(String, Long)].collect().toSet
    // a: type-1 bounds ceil(.05*100)=5th, ceil(.95*100)=95th -> [5, 95]
    assert(kept.filter(_._1 == "a") == (5L to 95L).map(("a", _)).toSet)
    // b: bounds 1st and ceil(9.5)=10th value -> the whole stratum
    assert(kept.count(_._1 == "b") == 10)
    val approx = Stats.filterByKeyQuantiles(df, col("k"), col("v"), 0.05, 0.95, approx = true)
      .as[(String, Long)].collect().toSet
    assert(approx == kept, "sketch must be loss-free at this size")
  }

  test("dropNearDuplicates keeps one canonical doc per cluster, others intact") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy dog again and often"
    val c = "completely different text with no overlap at all whatsoever here"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(df, col("doc_id"), col("text"), threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L)) // 2 is 1's near-dup, 1 is canonical
  }

  test("dropNearDuplicatesKeepBest keeps the highest-quality doc per cluster") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy dog again and often surely"
    val c = "completely different text with no overlap at all whatsoever here"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    // quality = token count: doc 2 (13 tokens) beats doc 1 (12), so the
    // cluster keeps 2 where dropNearDuplicates would keep min-id 1
    val kept = Dedup
      .dropNearDuplicatesKeepBest(
        df, col("doc_id"), col("text"), TextOps.tokenCount(col("text")), threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L))
    // quality tie -> min id: exact length tie keeps the smaller id
    val tied = Seq((1L, a), (2L, a.replace("again and again", "again and often")), (3L, c))
      .toDF("doc_id", "text")
    val keptTied = Dedup
      .dropNearDuplicatesKeepBest(
        tied, col("doc_id"), col("text"), TextOps.tokenCount(col("text")), threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(keptTied.toSeq == Seq(1L, 3L))
  }

  test("dedup consumers compose over ONE shared pair frame, results identical") {
    // The pipeline shape for a real run: stage-1 collapse and stage-2 pair
    // generation happen ONCE; clusters, the drop keep-list, and the
    // keep-best keep-list all derive from the same persisted pair frame —
    // no per-consumer shingle-explode + self-join recompute.
    val docs = graft.io.Tables(spark, "/root/testdata/sf0.01").documents
    val reps = Dedup.exactRepresentatives(docs, col("doc_id"), col("text"))
    val pairs = Dedup.ngramJaccardPairs(reps, col("doc_id"), col("text"), 3, 0.6).persist()
    try {
      assert(pairs.count() > 0, "composition test is vacuous: no pairs")
      def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.select(col("doc_id")).as[Long].collect().sorted.toSeq
      val qual = TextOps.tokenCount(col("text"))
      // shared-frame consumers == the one-shot conveniences, exactly
      assert(ids(Dedup.dropNearDuplicates(reps, col("doc_id"), pairs)) ==
        ids(Dedup.dropNearDuplicates(docs, col("doc_id"), col("text"),
          shingleLen = 3, threshold = 0.6)))
      assert(ids(Dedup.dropNearDuplicatesKeepBest(reps, col("doc_id"), qual, pairs)) ==
        ids(Dedup.dropNearDuplicatesKeepBest(docs, col("doc_id"), col("text"), qual,
          shingleLen = 3, threshold = 0.6)))
      // deepest composition: ONE CC label table feeds both consumers too
      val cc = Dedup.connectedComponents(pairs).persist()
      try {
        assert(cc.count() > 0)
        assert(ids(Dedup.dropNearDuplicatesFromClusters(reps, col("doc_id"), cc)) ==
          ids(Dedup.dropNearDuplicates(reps, col("doc_id"), pairs)))
        assert(
          ids(Dedup.dropNearDuplicatesKeepBestFromClusters(reps, col("doc_id"), qual, cc)) ==
            ids(Dedup.dropNearDuplicatesKeepBest(reps, col("doc_id"), qual, pairs)))
      } finally cc.unpersist()
    } finally pairs.unpersist()
  }

  test("vocabSignals: exact counts, ttr, top-token with (count desc, token asc) tie-break") {
    val df = Seq(
      (1L, "b b a a c"), // tie on count 2: 'a' < 'b' wins
      (2L, "x x x y")
    ).toDF("doc_id", "text")
    val got = TextOps.vocabSignals(df, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Double, String, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 5L, 3L, 3.0 / 5.0, "a", 2.0 / 5.0)))
    assert(got(2L) == ((2L, 4L, 2L, 2.0 / 4.0, "x", 3.0 / 4.0)))
  }

  test("gopherSignals: each rule fires on its designed violator, clean doc keeps") {
    val clean = ("the quick brown fox jumps over a lazy dog on the mat and " +
      "then runs back to the barn for more hay with its friends in tow ") * 3 // >50 toks, stopwords
    val df = Seq(
      (1L, clean),
      (2L, "short text"), // n_tokens < 50
      (3L, ("## # ## " * 30) + clean), // symbol_ratio >= 0.1
      (4L, ("123 456 789 " * 30) + clean.split(" ").take(20).mkString(" ")), // alpha ratio low
      (5L, (1 to 60).map(i => s"w$i").mkString(" ")) // no stopwords
    ).toDF("doc_id", "text")
    val got = TextOps.gopherSignals(df, col("doc_id"), col("text"))
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(got(1L), "clean doc must keep")
    assert(!got(2L) && !got(3L) && !got(4L) && !got(5L))
    val sig = TextOps.gopherSignals(df, col("doc_id"), col("text"))
      .filter(col("doc_id") === 3L)
      .select("symbol_ratio").as[Double].head()
    assert(sig >= 0.1, s"symbol rule must be the one firing on doc 3, got $sig")
  }

  test("gopherSignals: bullet and ellipsis line rules fire") {
    val body = ("the and of to in is on for with as " * 6).trim // stopword-rich filler
    val bullets = (1 to 19).map(i => s"- item $i $body").mkString("\n") + "\nplain"
    val dots = (1 to 9).map(i => s"line $i $body...").mkString("\n") + "\nplain " + body
    val df = Seq((1L, bullets), (2L, dots)).toDF("doc_id", "text")
    val got = TextOps.gopherSignals(df, col("doc_id"), col("text"))
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(!got(1L), "95% bullet lines must drop")
    assert(!got(2L), "90% ellipsis-terminated lines must drop")
  }

  test("keySkewReport: exact counts, ppm share, global totals, tie-break") {
    val rows = Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++ Seq("a", "b", "c")
    val df = rows.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val got = Stats.keySkewReport(df, col("k"), topN = 3)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.length == 3)
    assert(got(0) == (("hot", 6L, 500000L, 12L, 5L)))
    assert(got(1) == (("warm", 3L, 250000L, 12L, 5L)))
    assert(got(2) == (("a", 1L, 83333L, 12L, 5L)), "count-1 tie must break key-asc")
  }

  test("truncateRenorm: unit norm for nonzero prefixes, zero prefix passes through") {
    val df = Seq(
      (1L, Array(3.0f, 4.0f, 100f, -7f)),
      (2L, Array(0.0f, 0.0f, 5f, 5f))
    ).toDF("vec_id", "embedding")
    val got = Embeddings.truncateRenorm(df, col("vec_id"), col("embedding"), k = 2)
      .as[(Long, Seq[Double])].collect().toMap
    assert(got(1L) == Seq(0.6, 0.8))
    assert(got(2L) == Seq(0.0, 0.0), "zero-norm prefix must not NaN")
    val dig = Embeddings.truncateRenormDigest(df, col("vec_id"), col("embedding"), 2)
      .select("k", "sq_norm_micro").as[(Long, Long)].collect()
    assert(dig.forall(_._1 == 2L))
    assert(dig.exists(_._2 == 1000000L) && dig.exists(_._2 == 0L))
  }

  test("saltedJoin equals the plain inner join, any bucket count") {
    val fact = Seq((1L, "a", 10L), (2L, "a", 11L), (3L, "b", 12L), (4L, "c", 13L))
      .toDF("id", "k", "v")
    val dim = Seq(("a", "A"), ("b", "B"), ("d", "D")).toDF("dk", "name")
    val plain = fact.join(dim, col("k") === col("dk"))
      .select("id", "name").as[(Long, String)].collect().toSet
    for (b <- Seq(1, 3, 8)) {
      val salted = Joins
        .saltedJoin(fact, dim, col("k"), col("dk"), col("id"), buckets = b)
        .select("id", "name").as[(Long, String)].collect().toSet
      assert(salted == plain, s"buckets=$b changed join semantics")
    }
  }

  test("nfcNormalize: composes combining marks, idempotent, null-safe, codegen'd") {
    val df = Seq(
      (1L, "cafe\u0301"), // decomposed
      (2L, "caf\u00e9"), // precomposed
      (3L, "plain ascii"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val got = df
      .select(col("id"), org.apache.spark.sql.graft.TextFunctions.nfcNormalize(col("t")).as("n"))
      .as[(Long, Option[String])].collect().toMap
    assert(got(1L).get == "caf\u00e9", "NFC must compose e+U+0301")
    assert(got(1L) == got(2L))
    assert(got(3L).get == "plain ascii")
    assert(got(4L).isEmpty, "null must stay null")
    // compiled execution, not interpreted fallback
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val n = df.select(
        org.apache.spark.sql.graft.TextFunctions.nfcNormalize(col("t")).as("n"))
        .filter(col("n").isNotNull).count()
      assert(n == 3)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("charEntropySignals: uniform string hits ln(k), single-char doc is ~0") {
    val df = Seq((1L, "abcd"), (2L, "aaaa")).toDF("doc_id", "text")
    val got = TextOps.charEntropySignals(df, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 4L && got(1L)._3 == 4L)
    assert(math.abs(got(1L)._4 / 1e6 - math.log(4)) < 1e-4, "uniform: H = ln 4")
    assert(got(2L)._3 == 1L && math.abs(got(2L)._4) < 1.0, "constant: H = 0")
  }

  test("charEntropySignals: native CharStats == explode formulation; empty drops") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .union(Seq((-1L, "", "en", "src0", 0L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val native = TextOps.charEntropySignals(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val exploded = TextOps.charEntropySignalsExploded(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(native == exploded, "one-pass expression must match the explode form exactly")
    assert(!native.exists(_._1 == -1L), "empty doc must emit no row in both forms")
  }

  test("naiveBayesClassify: separable labels recovered, deterministic output") {
    val df = Seq(
      (1L, "apple apple fruit sweet", "food"),
      (2L, "apple fruit tasty sweet", "food"),
      (3L, "bolt wrench steel tool", "hw"),
      (4L, "wrench bolt hammer tool", "hw"),
      (5L, "apple sweet fruit snack", "food"),
      (6L, "steel hammer bolt nail", "hw")
    ).toDF("doc_id", "text", "source")
    val got = TextOps.naiveBayesClassify(df, col("doc_id"), col("text"), col("source"))
      .select("doc_id", "pred_label").as[(Long, String)].collect().toMap
    assert(Seq(1L, 2L, 5L).forall(got(_) == "food"))
    assert(Seq(3L, 4L, 6L).forall(got(_) == "hw"))
    val again = TextOps.naiveBayesClassify(df, col("doc_id"), col("text"), col("source"))
      .select("doc_id", "pred_label").as[(Long, String)].collect().toMap
    assert(got == again)
  }

  test("winnowFingerprints: shared >= w+k-1 token run guarantees a common fp") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 = w+k-1
    val df = Seq(
      (1L, s"one two $shared three four five six seven"),
      (2L, s"red green blue $shared yellow purple orange pink"),
      (3L, "totally unrelated words nothing in common here at all today"),
      (4L, "tiny doc") // < k tokens -> whole-text gram, one fp
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(df, col("doc_id"), col("text"), k = 4, w = 5)
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "winnowing must not miss a w+k-1 overlap")
    assert((fps(1L) & fps(3L)).isEmpty)
    assert(fps(4L).size == 1, "short doc -> exactly one whole-text fingerprint")
  }

  test("zscoreOutliers: planted extreme value flagged, uniform bulk not") {
    val vals = (1 to 200).map(i => (i.toLong, "a", 10.0 + (i % 5))) :+ (999L, "a", 5000.0)
    val e = vals.toDF("event_id", "event_type", "value")
    val z = Stats.zscoreOutliers(e, col("event_type"), col("value"))
      .select("event_id").as[Long].collect().toSet
    assert(z == Set(999L), s"only the planted outlier should flag, got $z")
  }

  test("bigramLogProb: hand-computed add-1 conditional terms, short docs emit no row") {
    // corpus: "a b a b", "a b", "solo". pairs: (a,b)x3, (b,a)x1.
    // c2(a,b)=3 c2(b,a)=1; marginals c1(a)=3 c1(b)=1; unigram vocab
    // {a,b,solo} -> V=3
    val df = Seq((1L, "a b a b"), (2L, "a b"), (3L, "solo")).toDF("doc_id", "text")
    val got = TextOps.bigramLogProb(df, col("doc_id"), col("text"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def t(c2: Long, c1: Long) = math.floor(math.log((c2 + 1.0) / (c1 + 3.0)) * 1e6).toLong
    // doc1: tf(a,b)=2, tf(b,a)=1; doc2: tf(a,b)=1
    assert(got(1L) == ((2 * t(3, 3) + t(1, 1), 3L)))
    assert(got(2L) == ((t(3, 3), 1L)))
    assert(!got.contains(3L), "single-token doc has no bigrams")
  }

  test("histogram and paretoShare: exact bins, exact running shares, tie-break") {
    val e = Seq(
      (1L, "a", 10.0), (2L, "a", 60.0), (3L, "a", 60.0), (4L, "b", 120.0)
    ).toDF("id", "et", "v")
    val h = Stats.histogram(e, col("et"), col("v"), width = 50.0)
      .select("key", "bin", "cnt").as[(String, Long, Long)].collect().toSet
    assert(h == Set(("a", 0L, 1L), ("a", 1L, 2L), ("b", 2L, 1L)))

    // pareto over keys k1=60, k2=30, k3=10 (total 100)
    val p = Seq(("k1", 60.0), ("k2", 30.0), ("k3", 10.0)).toDF("k", "v")
    val got = Stats.paretoShare(p, col("k"), col("v"))
      .select("key", "rank", "cum_share_micro").as[(String, Int, Long)].collect().toList
      .sortBy(_._2)
    assert(got == List(("k1", 1, 600000L), ("k2", 2, 900000L), ("k3", 3, 1000000L)))
  }

  test("sampleWeighted keeps rows proportional to weight, capped at 1") {
    val df = (1L to 1000L).map(i => (i, if (i <= 500) 0.1 else 10.0)).toDF("id", "w")
    val kept = Sampling.sampleWeighted(df, col("id"), col("w"))
      .select("id").as[Long].collect().toSet
    val low = kept.count(_ <= 500) // expect ~50 of 500 at p=0.1
    assert(low > 20 && low < 90, s"low-weight keep count $low far from 10%")
    assert(kept.count(_ > 500) == 500, "prob 10 must cap at 1: keep ALL high-weight rows")
    // deterministic: the same keep-set on a re-run
    val again = Sampling.sampleWeighted(df, col("id"), col("w"))
      .select("id").as[Long].collect().toSet
    assert(kept == again)
  }

  test("sampleSqrtSmoothed keeps c*sqrt(n) per stratum and whole small strata") {
    // skewed mixture: 10000-doc giant, 400-doc mid, 4-doc tail (4 <= c^2 with c=2)
    val df = ((1L to 10000L).map(i => (i, "big")) ++
      (10001L to 10400L).map(i => (i, "mid")) ++
      (10401L to 10404L).map(i => (i, "tiny"))).toDF("id", "s")
    val kept = Sampling.sampleSqrtSmoothed(df, col("id"), col("s"), 2.0)
      .groupBy("s").count().as[(String, Long)].collect().toMap
    // expected: big 2*sqrt(10000)=200, mid 2*sqrt(400)=40, tiny all 4
    assert(kept("tiny") == 4L, "stratum with n <= c^2 must be kept whole")
    assert(kept("big") > 120 && kept("big") < 300, s"big kept ${kept("big")}, want ~200")
    assert(kept("mid") > 15 && kept("mid") < 75, s"mid kept ${kept("mid")}, want ~40")
    // rebalanced: big/mid ratio ~5 (sqrt of 25), not the raw 25
    assert(kept("big").toDouble / kept("mid") < 12, "mixture must be sqrt-flattened")
    // deterministic keep-set
    val again = Sampling.sampleSqrtSmoothed(df, col("id"), col("s"), 2.0)
      .select("id").as[Long].collect().toSet
    assert(again == Sampling.sampleSqrtSmoothed(df, col("id"), col("s"), 2.0)
      .select("id").as[Long].collect().toSet)
  }

  test("deterministic sampling and splitting are stable and well-proportioned") {
    val df = spark.range(10000).toDF("id")
    val s1 = Sampling.sample(df, col("id"), 0.1).as[Long].collect().toSet
    val s2 = Sampling.sample(df, col("id"), 0.1).as[Long].collect().toSet
    assert(s1 == s2) // rerun-stable
    assert(math.abs(s1.size - 1000) < 150, s"got ${s1.size}")
    val sp = Sampling.split(df, col("id"), Seq("train" -> 0.9, "eval" -> 0.1))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(sp("train") + sp("eval") == 10000L)
    assert(math.abs(sp("eval") - 1000) < 150, sp.toString)
  }

  test("shardedShuffle: reproducible permutation with dense per-shard positions") {
    val df = spark.range(1000).toDF("id")
    def run(seed: Long) = Sampling.shardedShuffle(df, col("id"), nShards = 4, seed = seed)
      .select("id", "shard", "pos").as[(Long, Long, Long)].collect()
    val a = run(0); val b = run(0)
    assert(a.toSet == b.toSet) // rerun-stable
    assert(a.map(_._1).toSet == (0L until 1000L).toSet) // a permutation: every row once
    // positions are dense 1..n within each shard
    val byShard = a.groupBy(_._2)
    assert(byShard.forall { case (_, rows) =>
      rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq
    })
    assert(a.map(_._2).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    // another epoch (seed) is a different order
    assert(run(1).toSet != a.toSet)
  }

  test("capPerKey limits per-key rows deterministically") {
    val df = Seq(("d1", 1L), ("d1", 2L), ("d1", 3L), ("d2", 9L)).toDF("domain", "doc")
    val got = Sampling.capPerKey(df, col("domain"), Seq(col("doc").asc), 2)
      .as[(String, Long)].collect().toSet
    assert(got == Set(("d1", 1L), ("d1", 2L), ("d2", 9L)))
  }

  test("connectedComponents: chain merges into one cluster, islands stay apart") {
    // 1-2, 2-3, 3-4 chain + isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("minhash LSH candidates contain the true near-dup; verify filters rest") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy dog again and often"
    val c = "completely different text with no overlap at all whatsoever here"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val got = Dedup.minhashDedup(df, col("doc_id"), col("text"), 3, 64, 16, 0.5)
      .select("a", "b").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L)))
  }

  test("simhashPairs: near-identical docs within hamming bound") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq((1L, a), (2L, a), (3L, "unrelated words entirely disjoint from others")).toDF("doc_id", "text")
    val got = Dedup.simhashPairs(df, col("doc_id"), col("text"), 3)
      .select("a", "b").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L))) // identical text -> hamming 0
  }

  test("bloomDistinct estimates within ~2% of exact at 10k distinct") {
    val df = spark.range(10000).select((col("id") % 5000).as("v"),
      lit("2020-01-01 10:00:00").cast("timestamp").as("t"))
    val est = WindowAggs
      .tumblingBloomDistinct(df, col("t"), "1 hour", col("v"))
      .select("uv_bloom").as[Long].head()
    assert(math.abs(est - 5000L) <= 100L, s"estimate $est vs exact 5000")
  }

  // ---- Similarity ----

  test("bruteForceTopK returns k nearest by cosine") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)))
      .toDF("id", "vec")
    val got = Similarity
      .bruteForceTopK(vecs, vecs.filter(col("id") === 0), k = 2)
      .select("nbr_id", "rank").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 2L)))
  }

  test("semanticDedupPairs at nClusters=1 equals brute-force near-dup pairs") {
    val t = graft.io.Tables(spark, "/root/testdata/sf0.001")
    val v = t.embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val brute = Similarity.cosineNearDupPairs(v, 0.40)
      .select("a", "b", "sim").as[(Long, Long, Long)].collect().toSet
    val sem = Similarity.semanticDedupPairs(v, 0.40, nClusters = 1, nProbe = 1)
      .select("a", "b", "sim").as[(Long, Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    assert(sem == brute) // one cluster holds everything: blocking is a no-op
  }

  test("ivfTopK with full probing equals brute force; partial probing is subset") {
    val t = graft.io.Tables(spark, "/root/testdata/sf0.001")
    val v = t.embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val probes = v.filter(col("id") < 5)
    val brute = Similarity.bruteForceTopK(v, probes, k = 3)
      .select("query_id", "rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    val ivfFull = Similarity.ivfTopK(v, probes, nLists = 8, nProbe = 8, k = 3)
      .select("query_id", "rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    assert(ivfFull == brute) // nProbe == nLists degenerates to exact
    val ivfPartial = Similarity.ivfTopK(v, probes, nLists = 8, nProbe = 3, k = 3)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    // partial probing trades recall for scan volume: decent overlap with
    // the true top-k expected at nProbe=3/8
    val bruteParts = brute.map(r => (r._1, r._3))
    assert(ivfPartial.nonEmpty)
    assert((ivfPartial & bruteParts).size * 10 >= bruteParts.size * 4,
      s"recall too low: ${(ivfPartial & bruteParts).size}/${bruteParts.size}")
  }

  test("cosineNearDupPairsLSH finds identical and near-identical vectors") {
    val vecs = Seq(
      (0L, Array.fill(8)(0.5f)),
      (1L, Array.fill(8)(0.5f)),                       // identical to 0
      (2L, Array(0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f, -0.5f)),
      (3L, Array(-1.0f, 1.0f, -1.0f, 1.0f, -1.0f, 1.0f, -1.0f, 1.0f)))
      .toDF("id", "vec")
    val got = Similarity.cosineNearDupPairsLSH(vecs, 0.9, dim = 8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 1L)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("pqTopK with exhaustive refine equals brute force (ADC only picks candidates)") {
    val t = graft.io.Tables(spark, "/root/testdata/sf0.001")
    val v = t.embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val n = v.count().toInt
    val probes = v.filter(col("id") < 5)
    val brute = Similarity.bruteForceTopK(v, probes, k = 3)
      .select("query_id", "rank", "nbr_id", "sim").as[(Long, Long, Long, Long)].collect().toSet
    // refine*k >= N: every vector is an ADC candidate, so the exact
    // re-rank IS brute force — emitted sims and ranks must be identical
    val pqFull = Similarity.pqTopK(v, probes, m = 8, nCentroids = 8, k = 3, refine = n / 3 + 1)
      .select("query_id", "rank", "nbr_id", "sim").as[(Long, Long, Long, Long)].collect().toSet
    assert(pqFull == brute)
    // partial refine: exact sims on approximately-chosen candidates
    val pqPartial = Similarity.pqTopK(v, probes, m = 8, nCentroids = 8, k = 3, refine = 4)
      .select("query_id", "nbr_id", "sim").as[(Long, Long, Long)].collect()
    val bruteSims = brute.map(r => ((r._1, r._3), r._4)).toMap
    // every emitted sim that names a true-top-k pair carries the exact value
    assert(pqPartial.forall { case (q, nb, s) =>
      bruteSims.get((q, nb)).forall(_ == s)
    })
  }

  test("native PqCodes/AdcScore equal the HOF formulations bit-for-bit") {
    import org.apache.spark.sql.graft.VectorFunctions
    val t = graft.io.Tables(spark, "/root/testdata/sf0.001")
    val v = t.embeddings
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("nv"))
      .limit(50)
    val (m, k, d) = (8, 4, 8)
    // arbitrary fixed codebooks (not trained — equality is about the
    // expression semantics, not recall)
    val codebooks: Seq[Seq[Seq[Double]]] = (0 until m).map(s =>
      (0 until k).map(c => (0 until d).map(j => math.sin(s * 131 + c * 17 + j) / 2)))
    def hofCode(s: Int): org.apache.spark.sql.Column = {
      val cb = typedlit(codebooks(s))
      val sub = slice(col("nv"), s * d + 1, d)
      val dists = transform(cb, cent =>
        aggregate(zip_with(sub, cent, (x, y) => (x - y) * (x - y)), lit(0.0d), (a, x) => a + x))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    val flat = codebooks.flatten.flatten.toArray
    val both = v.select(
      col("id"),
      VectorFunctions.pqCodes(col("nv"), flat, m, k, d).as("native"),
      array((0 until m).map(hofCode): _*).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).isEmpty, "codes differ")
    // ADC: native sum vs HOF aggregate over a lut derived from the vector
    val lut = array((0 until m).map(s =>
      transform(typedlit(codebooks(s)), cent =>
        Similarity.dot(slice(col("nv"), s * d + 1, d), cent))): _*)
    val adcBoth = both
      .join(v, "id")
      .select(
        VectorFunctions.adcScore(lut, col("native")).as("na"),
        aggregate(
          zip_with(lut, col("native"), (l, cd) => element_at(l, cd + 1)),
          lit(0.0d), (a, x) => a + x).as("ha"))
    assert(adcBoth.filter(col("na") =!= col("ha")).isEmpty, "adc scores differ")
  }

  test("native NearestCentroid equals the HOF argmin; ties go to the lowest index") {
    import org.apache.spark.sql.graft.VectorFunctions
    val (k, d) = (4, 6)
    val cents: Seq[Seq[Long]] = (0 until k).map(c =>
      (0 until d).map(j => ((c * 37 + j * 11) % 23 - 9).toLong))
    val flat = cents.flatten.toArray
    val v = graft.io.Tables(spark, "/root/testdata/sf0.001").embeddings
      .select(col("vec_id").as("id"),
        transform(col("embedding").cast("array<double>"),
          x => floor(x * lit(20)).cast("long")).as("qv"))
      .select(col("id"), slice(col("qv"), 1, d).as("qv"))
      .limit(60)
    val hofDists = transform(typedlit(cents), c =>
      aggregate(zip_with(col("qv"), c, (x, y) => (x - y) * (x - y)), lit(0L), (a, x) => a + x))
    val both = v.select(
      col("id"),
      VectorFunctions.nearestCentroid(col("qv"), flat, k, d).as("packed"),
      Cols.bindOnce(hofDists)(ds => struct(
        (array_position(ds, array_min(ds)) - 1).cast("int").as("list"),
        array_min(ds).as("dist"))).as("hof"))
    assert(both.filter(
      col("packed").bitwiseAND(lit(16383L)).cast("int") =!= col("hof.list") ||
        shiftright(col("packed"), 14) =!= col("hof.dist")).isEmpty,
      "native argmin/dist differ from the HOF formulation")
    // explicit tie: a point equidistant from centroids 0 and 1 picks 0
    val tiePoint = Seq(Tuple1(Seq(5L, 0L))).toDF("qv")
    val tieCents = Array(0L, 0L, 10L, 0L, 0L, 99L) // c0=(0,0), c1=(10,0), c2 far
    val packed = tiePoint
      .select(VectorFunctions.nearestCentroid(col("qv"), tieCents, 3, 2))
      .head().getLong(0)
    assert((packed & 16383L) == 0L && (packed >> 14) == 25L,
      s"tie must keep the lowest centroid index: got $packed")
    // a fit wider than the old 4-bit pack: k = 64 centroids resolve and
    // the pack round-trips list ids above 15
    val wideCents: Array[Long] = (0 until 64).flatMap(c => Seq(c * 10L, 0L)).toArray
    val widePacked = Seq(Tuple1(Seq(501L, 0L))).toDF("qv")
      .select(VectorFunctions.nearestCentroid(col("qv"), wideCents, 64, 2))
      .head().getLong(0)
    assert((widePacked & 16383L) == 50L && (widePacked >> 14) == 1L,
      s"k=64 pack must decode (list=50, dist=1): got $widePacked")
  }

  test("kMeansFitStats matches a local Lloyd reference on a deterministic frame") {
    // 12 points in 3 obvious groups around (0,0), (100,0), (0,100) on the
    // 1e-6 grid after quantization — the fit must find the groups and the
    // (size, inertia) record must match an independently-coded local loop
    val pts: Seq[(Long, Seq[Double])] = (0 until 12).map { i =>
      val (cx, cy) = (i % 3) match {
        case 0 => (0.0, 0.0); case 1 => (1.0, 0.0); case _ => (0.0, 1.0)
      }
      (i.toLong, Seq(cx + 0.001 * (i / 3), cy - 0.002 * (i / 3)))
    }
    val df = pts.toDF("vec_id", "embedding")
    val got = graft.ops.Embeddings
      .kMeansFitStats(df, col("vec_id"), col("embedding"), k = 3, iters = 3)
      .orderBy("list_id")
      .as[(Int, Long, Long)].collect().toSeq
    // local reference: same quantization, same md5 init order, 3 sweeps
    val q = pts.map { case (id, v) => id -> v.map(x => math.floor(x * 1e6).toLong).toArray }
    val md5hex = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var cents = q.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(3).map(_._2.map(identity))
    def assign(v: Array[Long]) = cents.zipWithIndex.map { case (c, i) =>
      (c.zip(v).map { case (a, b) => val t = b - a; t * t }.sum, i)
    }.minBy { case (dist, i) => (dist, i) }
    for (_ <- 0 until 3) {
      val byC = q.groupBy { case (_, v) => assign(v)._2 }
      cents = cents.zipWithIndex.map { case (c, i) =>
        byC.get(i).fold(c) { members =>
          val n = members.size
          c.indices.map(j =>
            math.floor(members.map(_._2(j)).sum.toDouble / n).toLong).toArray
        }
      }
    }
    val want = q.groupBy { case (_, v) => assign(v)._2 }.toSeq
      .map { case (li, ms) => (li, ms.size.toLong, ms.map(m => assign(m._2)._1).sum) }
      .sortBy(_._1)
    assert(got == want, s"distributed fit diverged from the local reference:\n$got\n$want")
    assert(got.map(_._2).sum == 12, "every point assigned exactly once")

    // degenerate corpus: identical points with k=3 — ties send every
    // point to centroid 0, clusters 1/2 stay empty (keep their previous
    // centroid, never divide by zero) and drop out of the record
    val same = Seq.tabulate(3)(i => (i.toLong, Seq(0.5, 0.5))).toDF("vec_id", "embedding")
    val degen = graft.ops.Embeddings
      .kMeansFitStats(same, col("vec_id"), col("embedding"), k = 3, iters = 2)
      .as[(Int, Long, Long)].collect().toSeq
    assert(degen == Seq((0, 3L, 0L)), s"identical points must collapse to cluster 0: $degen")

    // k larger than the corpus fails loudly, not with a silent short fit
    val tiny = Seq((1L, Seq(0.1, 0.2))).toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      graft.ops.Embeddings.kMeansFitStats(tiny, col("vec_id"), col("embedding"), k = 4, iters = 1)
    }
    assert(err.getMessage.contains("< k="), err.getMessage)
  }

  test("native CharNgrams equals the transform/substr HOF formulation") {
    import org.apache.spark.sql.graft.TextFunctions
    val df = Seq("hello world", "ab", "abc", "", "héllo ünïcode")
      .toDF("t").select(lower(col("t")).as("t"))
    val hof = when(
      length(col("t")) >= 3,
      transform(sequence(lit(1), length(col("t")) - 2), i => col("t").substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
    val both = df.select(
      TextFunctions.charNgrams(col("t"), 3).as("native"), hof.as("hof"))
    assert(both.filter(col("native") =!= col("hof")).isEmpty)
    // sub-n strings give empty arrays, not null
    assert(df.select(TextFunctions.charNgrams(col("t"), 3))
      .collect().forall(!_.isNullAt(0)))
  }

  test("CharNgramCodes packs the same trigrams as CharNgrams, order-compatibly") {
    import org.apache.spark.sql.graft.TextFunctions
    val df = Seq("hello world", "ab", "abc", "", "héllo ünïcode", "日本語のテキスト")
      .toDF("t").select(lower(col("t")).as("t"))
    val rows = df.select(
      TextFunctions.charNgrams(col("t"), 3).as("s"),
      TextFunctions.charNgramCodes(col("t"), 3).as("c"))
      .as[(Seq[String], Seq[Long])].collect()
    for ((ss, cs) <- rows) {
      // same grams: unpacking 3 × 21-bit codepoints reproduces the strings
      val unpacked = cs.map { c =>
        val cps = Array(((c >> 42) & 0x1FFFFF).toInt, ((c >> 21) & 0x1FFFFF).toInt,
          (c & 0x1FFFFF).toInt)
        new String(cps, 0, 3)
      }
      assert(unpacked == ss)
      // same order: numeric code order == UTF-8 byte order of the grams
      // (what Spark and DuckDB both sort strings by)
      def utf8Lt(a: String, b: String): Boolean = {
        val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n && x(i) == y(i)) i += 1
        if (i < n) (x(i) & 0xFF) < (y(i) & 0xFF) else x.length < y.length
      }
      assert(ss.zip(cs).sortWith((p, q) => utf8Lt(p._1, q._1)).map(_._2) ==
        cs.sorted)
    }
  }

  test("native CosineSim equals HOF formulation bit-for-bit") {
    val df = Seq((Array(0.1, 0.2, 0.7), Array(0.3, 0.9, 0.11))).toDF("a", "b")
    val hof = df.select(
      (Similarity.dot(col("a"), col("b")) /
        (Similarity.l2norm(col("a")) * Similarity.l2norm(col("b")))).as("c"))
      .head().getDouble(0)
    val native = df.select(Similarity.cosine(col("a"), col("b")).as("c")).head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(hof) == java.lang.Double.doubleToLongBits(native))
  }

  // ---- TextOps ----

  test("quality signals and langid on english vs noise") {
    val df = Seq((1L, "the cat sat on the mat"), (2L, "zzz qqq")).toDF("doc_id", "text")
    val q = TextOps.qualitySignals(df, col("text"))
      .select("doc_id", "n_tokens", "stopword_ratio").as[(Long, Int, Double)].collect().toMap2
    assert(q(1L) == ((6, 3.0 / 6)))
    assert(q(2L) == ((2, 0.0)))
    val langs = df.select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(langs == Map(1L -> "en", 2L -> "und"))
  }

  test("repetitionRatio: 0 for fresh prose, high for looping text, 0 for short docs") {
    val df = Seq(
      (1L, "one two three four five six"),        // all trigrams distinct
      (2L, ("spam ham " * 20).trim),              // 2-token loop: 2 distinct of 38
      (3L, "too short")                           // < n tokens: single shingle
    ).toDF("doc_id", "text")
    val r = df.select(col("doc_id"), TextOps.repetitionRatio(col("text")).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(r(1L) == 0.0)
    assert(r(2L) == 1.0 - 2.0 / 38.0)
    assert(r(3L) == 0.0)
    // the codegen'd aggregate form computes the identical ratios
    val agg = TextOps.repetitionSignals(df, col("doc_id"), col("text"))
      .select(col("doc_id"), col("repetition_ratio"))
      .as[(Long, Double)].collect().toMap
    assert(agg == r)
  }

  test("charNgramLangId: profiles separate languages, unmatched docs fall back to und") {
    val docs = Seq(
      (1L, "the cat and the dog and the fox", "en"),
      (2L, "the owl and the cat and the hen", "en"),
      (3L, "der hund und die katze und das", "de"),
      (4L, "die maus und der igel und das", "de"),
      // unlabeled-style probe rows still carry a label column (training is
      // on the full frame); prediction must follow the trigram profiles
      (5L, "the cat and the hen", "en"),
      (6L, "der igel und die katze", "de"),
      (7L, "zzzzqqqqxxxx", "en")) // shares no profile trigram -> und... unless its own trigrams trained in
      .toDF("doc_id", "text", "lang")
    val got = TextOps.charNgramLangId(docs, col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L)._1 == "en" && got(2L)._1 == "en")
    assert(got(3L)._1 == "de" && got(4L)._1 == "de")
    assert(got(5L)._1 == "en")
    assert(got(6L)._1 == "de")
    // doc 7's junk trigrams ARE in the en profile (it contributes to
    // training) but en prose trigrams dominate doc 5's vote; the junk doc
    // still resolves to en via its own trained trigrams — assert votes > 0
    // rather than und, which is reserved for truly profile-less docs
    assert(got(7L)._2 > 0L)
    val empty = Seq((9L, "ab", "en")).toDF("doc_id", "text", "lang")
    val g2 = TextOps.charNgramLangId(empty, col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, Long)].collect().head
    assert(g2 == ((9L, "und", 0L))) // sub-trigram doc: no votes, und
  }

  test("redactPii tags each PII kind once, in pattern order") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "ssn 123-45-6789 phone 415-555-1234 ip 10.0.0.7"),
      (3L, "clean text no pii")
    ).toDF("doc_id", "text")
    val out = TextOps.piiSignals(df, col("text"))
      .select("doc_id", "n_email", "n_ssn", "n_phone", "n_ipv4", "redacted")
      .as[(Long, Int, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 1, 0, 0, 0, "mail [EMAIL] now")))
    // SSN is consumed by the SSN pattern, never half-eaten by phone
    assert(out(1) == ((2L, 0, 1, 1, 1, "ssn [SSN] phone [PHONE] ip [IPV4]")))
    assert(out(2) == ((3L, 0, 0, 0, 0, "clean text no pii")))
  }

  test("docFrequency counts each token once per containing doc") {
    val df = Seq(
      (1L, "spark spark flink"),
      (2L, "spark beam"),
      (3L, "beam beam beam")
    ).toDF("doc_id", "text")
    val d = TextOps.docFrequency(df, col("doc_id"), col("text"))
      .as[(String, Long)].collect().toMap
    assert(d == Map("spark" -> 2L, "flink" -> 1L, "beam" -> 2L))
  }

  test("tfidfTopTerms ranks doc-distinctive terms above ubiquitous ones") {
    val df = Seq(
      (1L, "common rare1 common"),
      (2L, "common rare2"),
      (3L, "common rare3")
    ).toDF("doc_id", "text")
    val top1 = TextOps.tfidfTopTerms(df, col("doc_id"), col("text"), k = 1)
      .select("doc_id", "token").as[(Long, String)].collect().toMap
    // 'common' is in every doc: idf ln(4/4)=0; each rareN wins its doc
    assert(top1 == Map(1L -> "rare1", 2L -> "rare2", 3L -> "rare3"))
    val all = TextOps.tfidfTopTerms(df, col("doc_id"), col("text"), k = 10)
    assert(all.filter(col("token") === "common").filter(col("score_1e4") =!= 0L).count() == 0)
  }

  test("unigramLogProb: exact add-1 smoothed sums, corpus-typical docs score higher") {
    val df = Seq(
      (1L, "a a b"), // in-vocab doc
      (2L, "a a a"),
      (3L, "z q")    // out-of-distribution doc
    ).toDF("doc_id", "text")
    val got = TextOps.unigramLogProb(df, col("doc_id"), col("text"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // corpus: N=8, V=4; c(a)=5, c(b)=1, c(z)=1, c(q)=1
    def lp(c: Long): Long = math.floor(math.log((c + 1).toDouble / 12.0) * 1e6).toLong
    assert(got(1L) == ((2 * lp(5) + lp(1), 3L)))
    assert(got(2L) == ((3 * lp(5), 3L)))
    assert(got(3L) == ((2 * lp(1), 2L)))
    // mean token log-prob separates in-vocab from OOD
    assert(got(2L)._1 / 3.0 > got(3L)._1 / 2.0)
  }

  test("bigramRows emits adjacent pairs in order; sub-2-token docs yield none") {
    val df = Seq((1L, "a b c"), (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    val got = TextOps.bigramRows(df, col("doc_id"), col("text"))
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "a", "b"), (1L, "b", "c")))
  }

  test("pmiCollocations: glued pair beats the stopword pair, minCount prunes the tail") {
    // every pair occurs 10x, but only new/york occur NOWHERE else:
    // PMI(new,york) = ln(10); cat/saw/the/end each double up elsewhere
    // so their pairs score ln(5) or less; u-pairs never reach minCount
    val docs = (1 to 10).map(i =>
      (i.toLong, s"u${i}a cat saw u${i}b the new york the end cat"))
    val got = TextOps.pmiCollocations(docs.toDF("doc_id", "text"), col("doc_id"),
        col("text"), minCount = 5L, k = 10)
      .select("w1", "w2", "n_xy").as[(String, String, Long)].collect()
    assert(got.head._1 == "new" && got.head._2 == "york" && got.head._3 == 10L)
    val pairs = got.map(r => (r._1, r._2)).toSeq
    // sub-minCount pairs (each u{i}a... appears once) are gone
    assert(!pairs.exists(p => p._1.startsWith("u") || p._2.startsWith("u")))
    assert(pairs.toSet == Set(("new", "york"), ("cat", "saw"), ("the", "new"),
      ("york", "the"), ("the", "end"), ("end", "cat")))
  }

  test("capTokensPerKey: md5-order quota, boundary doc kept iff first token fits") {
    // doc md5 order within each source decides who spends the budget
    val df = Seq(
      (1L, "s1", "a b c"),     // 3 tokens
      (2L, "s1", "d e f g"),   // 4 tokens
      (3L, "s1", "h i"),       // 2 tokens
      (4L, "s2", "x y z")      // own source: own budget
    ).toDF("doc_id", "source", "text")
    val got = Sampling.capTokensPerKey(df, col("source"), col("doc_id"),
        TextOps.tokenCount(col("text")), budgetTokens = 5L)
      .select("doc_id").as[Long].collect().toSet
    // s1 md5 order is doc 3 (h=6dd...), 1 (c4c...), 2 (c81...)? — compute
    // instead of guessing: replicate the rule in-memory
    val order = Seq(1L, 2L, 3L).sortBy(id =>
      java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes)
        .map("%02x".format(_)).mkString)
    val toks = Map(1L -> 3L, 2L -> 4L, 3L -> 2L)
    var cum = 0L
    val expect = order.filter { id => val keep = cum < 5L; cum += toks(id); keep }.toSet + 4L
    assert(got == expect)
    // every source always keeps its first doc, even one bigger than budget
    val big = Seq((9L, "s9", Seq.fill(100)("w").mkString(" "))).toDF("doc_id", "source", "text")
    assert(Sampling.capTokensPerKey(big, col("source"), col("doc_id"),
      TextOps.tokenCount(col("text")), 5L).count() == 1)
  }

  test("hashedBowVectors: counts preserved, fixed width, identical docs cosine ~1") {
    val df = Seq(
      (1L, "spark flink beam spark"),
      (2L, "spark flink beam spark"), // exact dup of 1
      (3L, "totally different words here now")
    ).toDF("doc_id", "text")
    val vecs = TextOps.hashedBowVectors(df, col("doc_id"), col("text"), dim = 16)
    val got = vecs.as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2).toMap
    assert(got.values.forall(_.size == 16))
    // bucket counts sum to token counts
    assert(got(1L).sum == 4 && got(3L).sum == 5)
    assert(got(1L) == got(2L))
    // compose with the similarity stack: dup pair surfaces at ~1.0
    val pairs = Similarity
      .cosineNearDupPairs(vecs.select(col("doc_id").as("id"), col("vec")), 0.95)
      .as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 >= 9999L) // sqrt(n)*sqrt(n) can undershoot n by 1 ulp
  }

  test("sharedShingleStats counts cross-doc repeated runs, not within-doc repeats") {
    val df = Seq(
      (1L, "a b c d e"), // shares run 'a b c d' with doc 2 (shingles: abcd, bcde)
      (2L, "a b c d x"), // shingles: abcd, bcdx
      (3L, "p q r s t"), // unique content
      (4L, "hi"),        // short doc, whole-text shingle
      (5L, "hi")         // exact short dup of doc 4
    ).toDF("doc_id", "text")
    val got = Dedup.sharedShingleStats(df, col("doc_id"), col("text"), shingleLen = 4)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((2L, 1L)), 2L -> ((2L, 1L)), // 'a b c d' shared, second shingle unique
      3L -> ((2L, 0L)),
      4L -> ((1L, 1L)), 5L -> ((1L, 1L)))) // whole-text dup registers
  }

  test("quantizeInt8: extreme hits ±127, dequantize error bounded, zeros safe") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)), // max |v| = 1.0 -> scale 127
      (2L, Seq(0.0f, 0.0f, 0.0f))    // all-zero: no NaN path
    ).toDF("vec_id", "embedding")
    val got = Embeddings.quantizeInt8(df, col("vec_id"), col("embedding"))
      .as[(Long, Seq[Long], Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == Seq(64L, -127L, 32L)) // floor(.5*127+.5)=64
    assert(got(1L)._3 == 127.0)
    assert(got(2L)._2 == Seq(0L, 0L, 0L))
    // dequantized values within half a quantization step
    val scale = got(1L)._3
    Seq(0.5, -1.0, 0.25).zip(got(1L)._2).foreach { case (v, q) =>
      assert(math.abs(v - q / scale) <= 0.5 / scale + 1e-12)
    }
  }

  test("quantilesByKey: type-1 quantiles are exact data values per key") {
    val df = (1 to 100).map(i => ("a", i.toLong)) ++ Seq(("b", 7L), ("b", 9L))
    val got = Stats.quantilesByKey(df.toDF("k", "v"), col("k"), col("v"),
        Seq(0.25, 0.5, 0.9))
      .as[(String, Double, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // key a: N=100 -> ceil(p*N) = 25, 50, 90
    assert(got(("a", 0.25)) == 25L && got(("a", 0.5)) == 50L && got(("a", 0.9)) == 90L)
    // key b: N=2 -> indices ceil(.5)=1, ceil(1.0)=1, ceil(1.8)=2
    assert(got(("b", 0.25)) == 7L && got(("b", 0.5)) == 7L && got(("b", 0.9)) == 9L)
  }

  test("approxQuantilesByKey below sketch accuracy equals exact type-1 quantiles") {
    val df = (1 to 500).map(i => ("k" + (i % 3), (i * 37 % 211).toLong)).toDF("k", "v")
    val ps = Seq(0.1, 0.5, 0.9, 0.99)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("key", "p", "value").as[(String, Double, Long)].collect().toSet
    val exact = rows(Stats.quantilesByKey(df, col("k"), col("v"), ps))
    val approx = rows(Stats.approxQuantilesByKey(df, col("k"), col("v"), ps))
    assert(approx == exact) // N per key << accuracy: sketch is loss-free
    assert(exact.size == 12)
  }

  test("shingleHashRows matches wordShingles content") {
    val df = Seq((1L, "a b c d"), (2L, "x y"), (3L, "solo")).toDF("doc_id", "text")
    val viaRows = TextOps.shingleHashRows(df, col("doc_id"), col("text"), 3)
      .distinct().groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    val viaArray = df.select(col("doc_id"),
      size(TextOps.wordShingles(col("text"), 3)).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(viaRows == viaArray)
    assert(viaRows == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("Cols.bindOnce: value parity with the inlined form, nulls pass through") {
    val df = Seq(
      (1L, Seq(3.0, 4.0)),
      (2L, Seq(0.0, 0.0)),
      (3L, null.asInstanceOf[Seq[Double]])).toDF("id", "v")
    // inlined: the norm subtree referenced per element (the pathology);
    // zero-guarded like unitNorm (ANSI mode makes 0/0 an error, not NaN)
    val raw = sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x))
    val normExpr = when(raw > 0d, raw).otherwise(lit(1.0))
    val inlined = transform(col("v"), x => x / normExpr)
    val bound = Cols.bindOnce(normExpr)(n => transform(col("v"), x => x / n))
    val got = df.select(col("id"), inlined.as("a"), bound.as("b"))
      .as[(Long, Seq[Double], Seq[Double])].collect().sortBy(_._1)
    // same values element-for-element, and a null array stays null
    got.foreach { case (_, a, b) => assert(a == b) }
    assert(got(0)._2 == Seq(3.0 / 5.0, 4.0 / 5.0))
    assert(got(2)._2 == null && got(2)._3 == null)
    // a null SCALAR binds as a null lambda variable (null-propagating
    // arithmetic, same as the inlined form), not a crash
    val nullScalar = df
      .select(Cols.bindOnce(when(lit(false), lit(1.0)))(s =>
        transform(col("v"), x => x + s)).as("r"))
      .collect()
    assert(nullScalar.length == 3) // evaluates without error on every row
  }

  private implicit class TripleOps[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }
}
