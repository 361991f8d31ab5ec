package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantics specs for the robust-stats / CDC / bloom-join operators:
  * MAD outliers, winsorization, inter-arrival gaps, keep-latest
  * compaction, bloom-pruned semi-join, cluster-size distribution, and
  * the HLL sketch rollup. Oracle equality on the real tables is the
  * driver gate's job; these pin edge semantics on crafted rows.
  */
class RobustStatsSpec extends SparkSpec {
  import spark.implicits._

  test("madOutliers flags only beyond threshold*MAD and guards zero-MAD strata") {
    // key a: values 1..9 plus a 100 outlier -> med=5 (type-1 over 10: ceil(5)=5th of sorted)
    // key b: constant -> MAD 0 -> nothing flagged even with one deviant? b is all-same
    val df = (Seq.tabulate(9)(i => ("a", (i + 1).toDouble)) :+ ("a", 100.0))
      .++(Seq.fill(5)(("b", 7.0)))
      .toDF("k", "v")
    val got = Stats.madOutliers(df, col("k"), col("v"), threshold = 3.5)
      .select(col("k"), col("v")).as[(String, Double)].collect().toSet
    // a: sorted 1..9,100; med = 5th = 5; devs sorted 0,1,1,2,2,3,3,4,4,95
    //    -> mad = 5th = 2; cut = 7 -> only 100 flagged (dev 95)
    assert(got == Set(("a", 100.0)))
  }

  test("madOutliers zero-MAD stratum flags nothing even with a wild value") {
    // >=50% of rows identical -> MAD = 0 -> guarded (no division, no flags)
    val df = (Seq.fill(6)(("c", 1.0)) :+ ("c", 1e9)).toDF("k", "v")
    assert(Stats.madOutliers(df, col("k"), col("v")).count() == 0)
  }

  test("winsorizeByKey clamps into the type-1 [p05,p95] band, keeps every row") {
    val df = Seq.tabulate(100)(i => ("a", (i + 1).toLong)).toDF("k", "v")
    val got = Stats.winsorizeByKey(df, col("k"), col("v"), 0.05, 0.95)
      .select(col("v"), col("value_w")).as[(Long, Long)].collect().toMap
    assert(got.size == 100) // every row survives
    // type-1 bounds over 1..100: lo = ceil(0.05*100)=5th = 5, hi = 95th = 95
    assert(got(1L) == 5L && got(4L) == 5L && got(5L) == 5L)
    assert(got(50L) == 50L)
    assert(got(95L) == 95L && got(96L) == 95L && got(100L) == 95L)
  }

  test("interArrivalGaps: gaps in exact µs, single-event keys carry null stats") {
    val df = Seq(
      ("a", "2020-01-01 00:00:00.000001", 1L),
      ("a", "2020-01-01 00:00:00.000004", 2L),
      ("a", "2020-01-01 00:00:01.000004", 3L),
      ("b", "2020-01-01 00:00:00", 4L))
      .toDF("k", "t", "id").withColumn("t", col("t").cast("timestamp"))
    val got = Stats.interArrivalGaps(df, col("k"), col("t"), col("id"))
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("a") == (("a", 3L, 2L, Some(3L), Some(1000000L), Some(1000003L))))
    assert(got("b") == (("b", 1L, 0L, None, None, None)))
  }

  test("keepLatest: highest (version, tie-break) wins per key") {
    val df = Seq(
      (1L, 10L, 100L, "old"), (1L, 20L, 101L, "new"),
      (2L, 30L, 200L, "a"), (2L, 30L, 201L, "b")) // same ts -> id 201 wins
      .toDF("k", "ver", "id", "payload")
    val got = Dedup
      .keepLatest(df, Seq(col("k")), Seq(col("ver"), col("id")))
      .select(col("k"), col("payload")).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "new", 2L -> "b"))
  }

  test("bloomPrunedSemiJoin ≡ plain left_semi join (false positives die in the refine)") {
    val fact = Seq.tabulate(500)(i => (i.toLong % 50, i.toLong)).toDF("fk", "row_id")
    val dim = Seq.tabulate(10)(i => (i * 5).toLong).toDF("dk") // keys 0,5,..,45
    val got = Joins
      .bloomPrunedSemiJoin(fact, dim, col("fk"), col("dk"), expectedItems = 100L)
      .select(col("row_id")).as[Long].collect().toSet
    val want = fact
      .join(dim, col("fk") === col("dk"), "left_semi")
      .select(col("row_id")).as[Long].collect().toSet
    assert(got == want && want.nonEmpty)
  }

  test("clusterSizeDistribution counts components by size") {
    // components: {1,2,3} (chain), {4,5} -> sizes 3 and 2, one each
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val got = Dedup.clusterSizeDistribution(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 1L, 2L -> 1L))
  }

  test("ewmaDaily: integer halving recursion, gaps carry the previous smoothed value") {
    val df = Seq(
      ("a", "2020-01-01 05:00:00", 4.0), ("a", "2020-01-01 06:00:00", 4.0), // day1: 8
      ("a", "2020-01-02 05:00:00", 2.0),                                    // day2: 2
      ("a", "2020-01-04 05:00:00", 11.0))                                   // day4 (day3 absent): 11
      .toDF("k", "t", "v").withColumn("t", col("t").cast("timestamp"))
    val got = Stats.ewmaDaily(df, col("k"), col("t"), col("v"))
      .select(col("day").cast("string"), col("rev_micro"), col("ewma_micro"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    // s1 = 8M; s2 = (2M+8M)>>1 = 5M; day3 missing (present-days series);
    // s4 = (11M+5M)>>1 = 8M
    assert(got == Seq(
      ("2020-01-01", 8000000L, 8000000L),
      ("2020-01-02", 2000000L, 5000000L),
      ("2020-01-04", 11000000L, 8000000L)))
  }

  test("incrementalIngest admits only unseen content, min-id within the batch") {
    val corpus = Seq((0L, "aaa"), (2L, "bbb")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "aaa"),  // already in corpus -> rejected
      (3L, "ccc"), (5L, "ccc"), // new, duplicated in batch -> admit 3 only
      (7L, "ddd")) // new unique -> admit
      .toDF("doc_id", "text")
    val got = Dedup
      .incrementalIngest(
        Dedup.fingerprintSet(corpus, col("text")), incoming, col("doc_id"), col("text"))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(got == Set(3L, 7L))
  }

  test("clusterSizeDistributionFromClusters == raw-graph sizes on a dup-heavy corpus") {
    // docs: "x" ×3 (exact clique of 3), "a b c"/"a b d" near-dups with
    // "a b c" duplicated ×2, "z" singleton -> raw-graph components:
    // {x,x,x} size 3, {abc,abc,abd} size 3, z excluded
    val docs = Seq(
      (1L, "x"), (2L, "x"), (3L, "x"),
      (4L, "a b c"), (5L, "a b c"), (6L, "a b d"),
      (7L, "z"))
      .toDF("doc_id", "text")
    val raw = Dedup.clusterSizeDistribution(
      Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 1, 0.5))
      .as[(Long, Long)].collect().toMap
    val groups = Dedup.exact(docs, col("doc_id"), col("text"))
    val reps = Dedup.exactRepresentatives(docs, col("doc_id"), col("text"))
    val composed = Dedup.clusterSizeDistributionFromClusters(
      groups,
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(reps, col("doc_id"), col("text"), 1, 0.5)))
      .as[(Long, Long)].collect().toMap
    assert(raw == Map(3L -> 2L))
    assert(composed == raw)
  }

  test("containmentPairs catches a short doc inside a long one that Jaccard misses") {
    val short = "q w e r t" // 3 shingles, all inside long
    val long = (Seq("q w e r t") ++ (1 to 50).map(i => s"tok$i")).mkString(" ")
    val docs = Seq((1L, short), (2L, long), (3L, "x y z")).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, col("doc_id"), col("text"), 3, 0.8)
      .select(col("a"), col("b"), col("c_micro")).as[(Long, Long, Long)].collect().toSeq
    assert(cont == Seq((1L, 2L, 1000000L))) // full containment
    val jac = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.8)
    assert(jac.count() == 0) // Jaccard at the same bar sees nothing
  }

  test("containmentPairsBlocked == containmentPairs on a shared-boilerplate corpus") {
    // the blocking's adversary: every doc opens with the SAME hot
    // sentence (a shingle in every doc — the m²-blowup input for the
    // unblocked join) with unique tails; plus one true containment pair
    // and one pair of equal-size near-identical docs (ties the smaller-
    // side (n_sh, doc_id) probe selection). Losslessness = set equality.
    val boiler = "terms of service apply here"
    val docs = ((1 to 40).map(i =>
      (i.toLong, s"$boiler u${i}a u${i}b u${i}c u${i}d")) ++ Seq(
      (100L, "p q r s t"),
      (101L, ("p q r s t " + (1 to 30).map(i => s"z$i").mkString(" "))),
      (200L, s"$boiler same tail here exactly"),
      (201L, s"$boiler same tail here exactly")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a"), col("b"), col("c_micro")).as[(Long, Long, Long)].collect().toSet
    val raw = rows(Dedup.containmentPairs(docs, col("doc_id"), col("text"), 3, 0.8))
    val blocked = rows(Dedup.containmentPairsBlocked(docs, col("doc_id"), col("text"), 3, 0.8))
    assert(raw.contains((100L, 101L, 1000000L)) && raw.contains((200L, 201L, 1000000L)),
      s"fixture must contain the planted pairs: $raw")
    assert(blocked == raw)
  }

  test("containmentPairsBlocked is lossless at the exact-threshold boundary (n_sh % 5 == 0)") {
    // The float-prefix regression shape: probe has n_sh = 10 (divisible
    // by 5), containment EXACTLY 0.8 (c = 8 of 10), and its 2
    // outside-intersection shingles are its RAREST (df 1 vs df 2 for the
    // shared ones), so they fill the front of the (df asc) prefix. A
    // ⌊n_sh·(1−t)⌋+1 bound computed in floating point gives prefix 2
    // (1.0−0.8 = 0.1999…96 ⇒ ⌊1.999…⌋ = 1) and misses the pair; the
    // integer pigeonhole bound gives 3 and catches it.
    val shared = (1 to 10).map(i => s"c$i").mkString(" ") // 10 words → 8 shingles at n=3
    val probe = s"u1 u2 $shared"                          // 12 words → 10 shingles, 2 unique
    val big = shared + " " + (1 to 20).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, probe), (2L, big)).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a"), col("b"), col("c_micro")).as[(Long, Long, Long)].collect().toSet
    val raw = rows(Dedup.containmentPairs(docs, col("doc_id"), col("text"), 3, 0.8))
    assert(raw == Set((1L, 2L, 800000L)), s"fixture must sit exactly at threshold: $raw")
    val blocked = rows(Dedup.containmentPairsBlocked(docs, col("doc_id"), col("text"), 3, 0.8))
    assert(blocked == raw)
  }

  test("topMovers: largest |day-over-day| deltas, first day never ranks") {
    val df = Seq(
      ("a", "2020-01-01", 1.0), ("a", "2020-01-02", 10.0), // Δ +9M
      ("a", "2020-01-03", 8.0),                            // Δ -2M
      ("b", "2020-01-01", 100.0))                          // single day: no Δ
      .toDF("k", "t", "v").withColumn("t", col("t").cast("timestamp"))
    val got = Stats.topMovers(df, col("k"), col("t"), col("v"), topN = 5)
      .select(col("key"), col("day").cast("string"), col("delta_micro"))
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("a", "2020-01-02", 9000000L), ("a", "2020-01-03", -2000000L)))
  }

  test("rangeBounds: sample quantile boundaries are ordered and within range") {
    val df = Seq.tabulate(1000)(i => (i.toLong, (i % 500).toLong)).toDF("id", "v")
    val bounds = Stats.rangeBounds(df, col("id"), col("v"), k = 4, sampleFrac = 0.5)
      .orderBy("p").select(col("value")).as[Long].collect().toSeq
    assert(bounds.length == 3)
    assert(bounds == bounds.sorted)
    assert(bounds.forall(b => b >= 0 && b < 500))
    // a ~50% hash sample of a uniform 0..499 column puts the quartile
    // boundaries near 125/250/375 — sampling error well under a bucket
    assert(math.abs(bounds(1) - 250) < 50)
  }

  test("psiByKey: identical slices score ~0, a shifted slice scores high") {
    // slice A values in [0,100), slice B identical -> every bin balanced
    // -> each term is (p-p)*ln(1)=0 exactly
    val same = Seq.tabulate(200)(i => ("k", (i % 100).toDouble, i < 100))
      .toDF("k", "v", "a")
    val psi0 = Stats.psiByKey(same, col("k"), col("v"), col("a"), width = 10.0)
      .select(col("psi_micro")).as[Long].head()
    assert(psi0 == 0L)
    // B shifted by +500: disjoint bins -> large positive PSI
    val shifted = (Seq.tabulate(100)(i => ("k", (i % 100).toDouble, true)) ++
      Seq.tabulate(100)(i => ("k", 500.0 + (i % 100), false))).toDF("k", "v", "a")
    val psi1 = Stats.psiByKey(shifted, col("k"), col("v"), col("a"), width = 10.0)
      .select(col("psi_micro")).as[Long].head()
    assert(psi1 > 250000L, s"disjoint distributions must exceed the drift bar, got $psi1")
  }

  test("negativeSamples: k negatives per anchor, never the anchor itself, deterministic") {
    val df = Seq.tabulate(20)(i => Tuple1(i.toLong)).toDF("doc_id")
    val got = Sampling.negativeSamples(df, col("doc_id"), k = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.length == 60)
    assert(got.forall { case (a, _, n) => a != n })
    assert(got.groupBy(_._1).forall(_._2.map(_._2).sorted == Seq(1L, 2L, 3L)))
    val again = Sampling.negativeSamples(df, col("doc_id"), k = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.toSet == again.toSet)
  }

  test("trendSlopeByKey: exact rational slope; single-day keys undefined") {
    // key a: days 0,1,2 with micro sums 1M,3M,5M -> slope exactly 2M/day:
    // num = n*sxy - sx*sy = 3*(0+3M+10M) - 3*9M = 12M; den = 3*5 - 9 = 6
    val df = Seq(
      ("a", "1970-01-01 01:00:00", 1.0), ("a", "1970-01-02 01:00:00", 3.0),
      ("a", "1970-01-03 01:00:00", 5.0),
      ("b", "1970-01-05 01:00:00", 9.0))
      .toDF("k", "t", "v").withColumn("t", col("t").cast("timestamp"))
    val got = Stats.trendSlopeByKey(df, col("k"), col("t"), col("v"))
      .select(col("key"), col("n_days"),
        col("slope_num").cast("string"), col("slope_den").cast("string"))
      .as[(String, Long, Option[String], Option[String])].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") == ((3L, Some("12000000"), Some("6"))))
    assert(got("b") == ((1L, None, None)))
  }

  test("mixtureAllocation caps at availability; untargeted sources get 0") {
    val df = Seq(("web", 100L), ("web", 50L), ("code", 10L), ("misc", 30L))
      .toDF("src", "tok")
    val got = Sampling.mixtureAllocation(df, col("src"), col("tok"),
        targetsMicro = Seq("web" -> 500000L, "code" -> 500000L), budget = 200L)
      .select(col("key"), col("avail_tokens"), col("target_tokens"),
        col("alloc_tokens"), col("keep_frac_micro"))
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // web: avail 150, target 100 -> alloc 100, keep 100*1e6/150 = 666666
    assert(got("web") == (("web", 150L, 100L, 100L, 666666L)))
    // code: avail 10, target 100 -> capped at 10, keep 1.0
    assert(got("code") == (("code", 10L, 100L, 10L, 1000000L)))
    // misc: no target -> 0
    assert(got("misc") == (("misc", 30L, 0L, 0L, 0L)))
  }

  test("blocklistAudit: hit counts + sorted term trail; clean docs absent") {
    val docs = Seq(
      (1L, "bad worse bad ok"), (2L, "all clean here"), (3L, "worse"))
      .toDF("doc_id", "text")
    val got = TextOps.blocklistAudit(docs, col("doc_id"), col("text"), Seq("bad", "worse"))
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> ((3L, "bad|worse")), 3L -> ((1L, "worse"))))
  }

  test("vocabGrowth: types count at first occurrence; running total is cumulative") {
    // bucket=2: docs 0,1 -> bucket 0 (types a,b,c); docs 2,3 -> bucket 1
    // (only d is NEW)
    val docs = Seq((10L, "a b"), (11L, "b c"), (12L, "a d"), (13L, "c d"))
      .toDF("doc_id", "text")
    val got = TextOps.vocabGrowth(docs, col("doc_id"), col("text"), bucket = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 3L, 3L), (1L, 1L, 4L)))
  }

  test("joinProfile: exact fan-out cardinality and per-side orphans") {
    val l = Seq((1L, "x"), (1L, "y"), (2L, "z"), (9L, "o")).toDF("lk", "pay")
    val r = Seq((1L, "a"), (1L, "b"), (3L, "c")).toDF("rk", "dim")
    val got = Stats.joinProfile(l, r, col("lk"), col("rk"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    // join rows: key 1 -> 2*2 = 4 (key 2/9 orphan left, key 3 orphan right)
    assert(got == ((4L, 3L, 3L, 2L, 1L, 4L, 2L, 1L)))
    val plain = l.join(r, col("lk") === col("rk")).count()
    assert(plain == 4L) // forecast equals the real join
  }

  test("rrfFuse: integer contributions, absent ranking contributes 0, deterministic ties") {
    val ra = Seq((10L, 1L), (20L, 2L)).toDF("doc_id", "rank")
    val rb = Seq((20L, 1L), (30L, 2L)).toDF("doc_id", "rank")
    val got = TextOps.rrfFuse(Seq(ra, rb), k = 60, topN = 10)
      .select(col("doc_id"), col("rrf_micro"), col("rank"))
      .as[(Long, Long, Long)].collect().toSeq
    val c1 = 1000000L / 61 // 16393
    val c2 = 1000000L / 62 // 16129
    // doc 20: rank2 in a + rank1 in b = c2 + c1 (top); docs 10/30 tie on
    // c1/c2 respectively -> 10 (c1) beats 30 (c2)
    assert(got == Seq((20L, c1 + c2, 1L), (10L, c1, 2L), (30L, c2, 3L)))
  }

  test("cusumDaily: recursion resets at zero, single-day key never alarms") {
    // key "a": days 10/10/40 around mu=20 -> s = 0, 0, max(0,0+40-20)=20
    // (h = mu = 20, 20 > 20 false: excess must EXCEED one average day);
    // key "b": one day -> mu = x -> s = 0, no alarm possible
    val df = Seq(
      ("a", "2024-01-01", 10.0), ("a", "2024-01-02", 10.0), ("a", "2024-01-03", 40.0),
      ("b", "2024-01-01", 7.0))
      .toDF("k", "d", "v")
      .select(col("k"), col("d").cast("timestamp").as("ts"), col("v"))
    val got = Stats.cusumDaily(df, col("k"), col("ts"), col("v"))
      .select(col("key"), col("day").cast("string"), col("cusum_micro"), col("alarm"))
      .as[(String, String, Long, Boolean)].collect().toSet
    assert(got == Set(
      ("a", "2024-01-01", 0L, false),
      ("a", "2024-01-02", 0L, false),
      ("a", "2024-01-03", 20000000L, false),
      ("b", "2024-01-01", 0L, false)))
    // an excess above h DOES alarm: mu=50, s3 = max(0, 110-50) = 60M > h=50M
    val hot = Seq(
      ("a", "2024-01-01", 20.0), ("a", "2024-01-02", 20.0), ("a", "2024-01-03", 110.0))
      .toDF("k", "d", "v")
      .select(col("k"), col("d").cast("timestamp").as("ts"), col("v"))
    val alarms = Stats.cusumDaily(hot, col("k"), col("ts"), col("v"))
      .filter(col("alarm")).select(col("day").cast("string")).as[String].collect().toSeq
    assert(alarms == Seq("2024-01-03"))
  }

  test("seriesCorrByKeyPair: exact anti-correlation, disjoint days drop out, zero den on constants") {
    val df = Seq(
      // a and b perfectly anti-correlated on two shared days
      ("a", "2024-01-01", 1.0), ("a", "2024-01-02", 2.0),
      ("b", "2024-01-01", 2.0), ("b", "2024-01-02", 1.0),
      // c constant on the same days (den_c = 0 -> undefined corr, caller's
      // guard); d shares NO days with anyone -> no pair rows at all
      ("c", "2024-01-01", 5.0), ("c", "2024-01-02", 5.0),
      ("d", "2024-03-01", 9.0))
      .toDF("k", "day", "v")
      .select(col("k"), col("day").cast("timestamp").as("ts"), col("v"))
    val got = Stats.seriesCorrByKeyPair(df, col("k"), col("ts"), col("v"))
      .select(col("key_a"), col("key_b"), col("n_days"),
        col("corr_num").cast("long"), col("den_a").cast("long"), col("den_b").cast("long"))
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    // micro units: x in {1e6, 2e6}; n*sxy - sx*sy for (a,b) = -1e12;
    // den_a = den_b = 1e12
    assert(got == Set(
      ("a", "b", 2L, -1000000000000L, 1000000000000L, 1000000000000L),
      ("a", "c", 2L, 0L, 1000000000000L, 0L),
      ("b", "c", 2L, 0L, 1000000000000L, 0L)))
    assert(!got.exists(t => t._1 == "d" || t._2 == "d"))
  }

  test("editDistancePairs: typo pair found, far pair rejected, short docs excluded") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running onward"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("quick", "quack")),           // dist 2 (i->a is 1? no: u->a = 1 char) — small
      (3L, "a completely different sentence about spark shuffles and watermarks here"),
      (4L, "tiny doc"),                               // < (t+1)*q = 36 chars: excluded
      (5L, "tiny dog"))
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, col("doc_id"), col("text"), t = 8, q = 4)
      .select(col("a"), col("b"), col("dist")).as[(Long, Long, Long)].collect().toSet
    // brute truth on the eligible (len >= 36) docs
    val lev = docs.as("l").join(docs.as("r"), col("l.doc_id") < col("r.doc_id"))
      .filter(length(col("l.text")) >= 36 && length(col("r.text")) >= 36)
      .select(col("l.doc_id"), col("r.doc_id"),
        levenshtein(col("l.text"), col("r.text")).cast("long"))
      .as[(Long, Long, Long)].collect().filter(_._3 <= 8).toSet
    assert(got == lev)
    assert(got.map(p => (p._1, p._2)) == Set((1L, 2L)))
    // the short near-pair (4,5) is outside the validity domain — absent
    assert(!got.exists(p => p._1 == 4L || p._2 == 5L))
  }

  test("editDistancePairsViaReps == editDistancePairs on a duplicate-heavy corpus") {
    // the composed anchor's losslessness: byte-identical copies (the
    // 10x-replica blow-up shape) collapse to reps, pair over reps,
    // expand back — must be set-identical to the raw form, which here
    // produces within-group dist-0 pairs, cross-group expanded pairs,
    // and a rep whose min-id copy pairs through a NON-rep member's id
    val base = "the quick brown fox jumps over the lazy dog and keeps running onward"
    val typo = base.replace("quick", "quack")
    val far = "a completely different sentence about spark shuffles and watermarks here"
    val docs = Seq(
      (1L, base), (4L, base), (7L, base),  // group of 3 exact copies
      (2L, typo), (9L, typo),              // near group of 2
      (3L, far), (5L, "tiny doc"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a"), col("b"), col("dist")).as[(Long, Long, Long)].collect().toSet
    val raw = rows(Dedup.editDistancePairs(docs, col("doc_id"), col("text"), t = 8, q = 4))
    val composed =
      rows(Dedup.editDistancePairsViaReps(docs, col("doc_id"), col("text"), t = 8, q = 4))
    // raw truth: 3 within-group-A + 1 within-group-B + 3x2 cross pairs
    assert(raw.size == 10, s"fixture pair count: $raw")
    assert(raw.contains((4L, 7L, 0L)) && raw.contains((2L, 9L, 0L)))
    assert(composed == raw)
  }

  test("seasonalResiduals: residual vs the key's own weekday mean, exact micro") {
    // two Mondays (2024-01-01, 2024-01-08) at 10 and 30 -> dow mean 20;
    // one Tuesday at 50 -> its own mean, residual 0
    val df = Seq(
      ("a", "2024-01-01", 10.0), ("a", "2024-01-08", 30.0), ("a", "2024-01-02", 50.0))
      .toDF("k", "d", "v")
      .select(col("k"), col("d").cast("timestamp").as("ts"), col("v"))
    val got = Stats.seasonalResiduals(df, col("k"), col("ts"), col("v"))
      .select(col("day").cast("string"), col("rev_micro"), col("dow_mean_micro"),
        col("residual_micro"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("2024-01-01", 10000000L, 20000000L, -10000000L),
      ("2024-01-08", 30000000L, 20000000L, 10000000L),
      ("2024-01-02", 50000000L, 50000000L, 0L)))
  }

  test("kfold: deterministic, complete, balanced to binomial noise") {
    val df = spark.range(10000).toDF("doc_id")
    val a = Sampling.kfold(df, col("doc_id"), k = 5)
      .groupBy("fold").count().as[(Long, Long)].collect().toMap
    assert(a.keySet == Set(0L, 1L, 2L, 3L, 4L)) // every fold non-empty
    assert(a.values.sum == 10000L)              // a partition, nothing dropped
    // binomial sd ~ 40; ±5 sd is deterministic slack on the fixed hash
    assert(a.values.forall(n => math.abs(n - 2000L) < 200),
      s"fold imbalance: $a")
    // same ids land in the same fold on a second evaluation
    val b = Sampling.kfold(df, col("doc_id"), k = 5)
      .groupBy("fold").count().as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("groupManifest: set-identity digest — order-blind, membership-sensitive") {
    val a = Seq((1L, "s", 10L), (2L, "s", 20L), (3L, "t", 5L)).toDF("id", "g", "w")
    val b = Seq((2L, "s", 20L), (1L, "s", 10L), (3L, "t", 5L)).toDF("id", "g", "w") // reordered
    val c = Seq((1L, "s", 10L), (4L, "s", 20L), (3L, "t", 5L)).toDF("id", "g", "w") // 2 -> 4
    def m(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long, String)] =
      Sampling.groupManifest(df, col("g"), col("id"), col("w"))
        .as[(String, Long, Long, String)].collect()
        .map { case (k, n, w2, d) => k -> ((n, w2, d)) }.toMap
    val (ma, mb, mc) = (m(a), m(b), m(c))
    assert(ma == mb, "row order must not change the digest")
    assert(ma("s")._1 == 2L && ma("s")._2 == 30L)
    assert(ma("s")._3 != mc("s")._3, "membership change must change the digest")
    assert(ma("t") == mc("t"), "untouched groups keep their digest")
  }

  test("hllRollup: deterministic and exact-grade on small cardinalities") {
    // 3 buckets x overlapping user sets; at tiny cardinality the HLL
    // sparse mode is exact, so the union estimate equals true distinct
    val df = Seq.tabulate(300)(i => ("t", i % 3, (i % 60).toLong))
      .toDF("k", "b", "u")
    val got = Sketches.hllRollup(df, col("k"), col("b"), col("u"))
      .select(col("n_buckets"), col("uv_est").cast("long"))
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((3L, 60L)))
    // determinism: a second run returns the identical estimate
    val again = Sketches.hllRollup(df, col("k"), col("b"), col("u"))
      .select(col("uv_est").cast("long")).as[Long].head()
    assert(again == 60L)
  }
}
