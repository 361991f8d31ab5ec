package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._

/** Edge-input robustness: empty frames and degenerate values must flow
  * through every operator as empty/null results, never exceptions — at
  * 100 TB a poison row or an empty partition cannot kill the job.
  */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emptyEvents = Seq.empty[(String, java.sql.Timestamp, String, String)]
    .toDF("k", "ts", "kind", "id")

  test("window aggs, sequences, topN, joins on empty input -> empty output") {
    assert(WindowAggs.tumblingCount(emptyEvents, col("ts"), "1 hour").count() == 0)
    assert(WindowAggs.slidingCountPanes(
      emptyEvents, col("ts"), "1 hour", "5 minutes", Seq(col("k"))).count() == 0)
    assert(Sequences.consecutiveMatches(
      emptyEvents, col("k"), col("ts"), col("id"), col("kind") === "x", 2, 2L).count() == 0)
    assert(TopN.perPartition(emptyEvents, Seq(col("k")), Seq(col("ts").desc), 5).count() == 0)
    val e2 = emptyEvents.select(col("k").as("key"), col("id"), col("ts"))
    assert(Sequences.matchWithTimeout(e2, e2.select(col("key"), col("ts")), 60L).count() == 0)
  }

  test("dedup + text ops on empty and whitespace-only documents") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, "one real doc here")).toDF("doc_id", "text")
    assert(Dedup.exact(docs, col("doc_id"), col("text")).count() > 0)
    // empty/whitespace docs produce the degenerate single shingle, no throw
    assert(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5).count() == 1)
    assert(Dedup.minhashDedup(docs, col("doc_id"), col("text"), 3, 64, 16, 0.5).count() == 1)
    val q = TextOps.qualitySignals(docs, col("text"))
      .select("doc_id", "n_tokens").as[(Long, Int)].collect().toMap
    assert(q(3L) == 4)
    val empty = docs.filter(col("doc_id") < 0)
    assert(Dedup.simhashPairs(empty, col("doc_id"), col("text"), 3).count() == 0)
  }

  test("round-6 ops on degenerate input: empty frames, single docs, null vectors") {
    // as-of join with no builds at all: every probe survives with nulls
    val p = Seq(("k1", "p1", java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
      .toDF("pk", "pid", "pts")
    val noBuilds = p.filter(col("pid") === "absent")
      .select(col("pk").as("bk"), col("pid").as("bid"), col("pts").as("bts"))
    val asof = Joins.asOfJoin(p, noBuilds, col("pk"), col("bk"), col("pts"), col("bts"))
      .select("pid", "bid").as[(String, String)].collect()
    assert(asof.toSeq == Seq(("p1", null)))

    // unigram LM on a one-doc corpus: P(w) = (c+1)/(N+V), still exact
    val one = Seq((1L, "a a b")).toDF("doc_id", "text")
    val lm = TextOps.unigramLogProb(one, col("doc_id"), col("text"))
      .as[(Long, Long, Long)].collect().head
    def lp(c: Long) = math.floor(math.log((c + 1) / 5.0) * 1e6).toLong
    assert(lm == ((1L, 2 * lp(2) + lp(1), 3L)))

    // PMI below minCount everywhere -> empty, no throw
    assert(TextOps.pmiCollocations(one, col("doc_id"), col("text")).count() == 0)

    // substring stats on a single doc: shingles exist, nothing shared
    val sss = Dedup.sharedShingleStats(one, col("doc_id"), col("text"), 2)
      .as[(Long, Long, Long)].collect().head
    assert(sss == ((1L, 2L, 0L)))

    // quantize: null vector row propagates nulls, never throws
    val vecs = Seq((1L, Some(Seq(1.0f, -2.0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val qz = Embeddings.quantizeInt8(vecs, col("vec_id"), col("embedding"))
      .select("id", "q").as[(Long, Option[Seq[Long]])].collect().toMap
    assert(qz(1L).contains(Seq(64L, -127L)) && qz(2L).isEmpty)

    // quantiles of a single value: every p returns it
    val qs = Stats.quantilesByKey(one.select(lit("k").as("k"), lit(42L).as("v")),
        col("k"), col("v"), Seq(0.25, 0.9))
      .select("value").as[Long].collect().toSeq
    assert(qs == Seq(42L, 42L))
  }

  test("kafka-shaped csv value parsing: good and malformed rows") {
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("item_id", LongType),
      StructField("behavior", StringType)))
    val raw = Seq("1,100,pv", "not,numeric,x", "short").toDF("v")
      .select(col("v").cast("binary").as("value"))
    val got = graft.streaming.Sources.parseCsvValue(raw, schema)
    assert(got.count() == 3)
    assert(got.filter(col("user_id").isNotNull).count() == 1) // only the good row
  }

  test("SQL surface: registered views answer plain SQL") {
    graft.io.Tables(spark, "/root/testdata/sf0.001").registerAll()
    val n = spark.sql(
      """SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""")
      .as[Long].head()
    assert(n > 0)
    assert(spark.sql("SELECT count(*) FROM events").as[Long].head() > 0)
  }

  test("SQL surface: native expressions are callable by name (GraftExtensions)") {
    // identical vectors -> cosine 1.0
    assert(spark.sql("SELECT cosine_sim(array(1d, 0d), array(1d, 0d))")
      .head().getDouble(0) == 1.0)
    // trigram split
    assert(spark.sql("SELECT char_ngrams('abcd', 3)")
      .head().getSeq[String](0) == Seq("abc", "bcd"))
    // non-literal n is rejected loudly, not silently miscomputed
    intercept[Exception] {
      spark.sql("SELECT char_ngrams('abcd', CAST(rand() * 3 AS INT))").head()
    }
    // ADC over a literal LUT
    assert(spark.sql("SELECT adc_score(array(array(1d, 2d), array(3d, 4d)), array(1, 0))")
      .head().getDouble(0) == 5.0)
    // header parsers answer SQL over binary columns; garbage -> null struct
    val meta = spark.sql(
      """SELECT image_meta(unhex('89504E470D0A1A0A0000000D49484452000000400000002008060000'))
        |       AS m""".stripMargin).select("m.format", "m.width", "m.height").head()
    assert(meta.getString(0) == "png" && meta.getInt(1) == 64 && meta.getInt(2) == 32)
    assert(spark.sql("SELECT audio_meta(CAST('junk' AS BINARY))").head().isNullAt(0))
    assert(spark.sql("SELECT video_meta(CAST('junk' AS BINARY))").head().isNullAt(0))
    // NFC composition by name: e + U+0301 -> precomposed, 4 codepoints
    assert(spark.sql("SELECT length(nfc_normalize('caf' || 'e\u0301'))")
      .head().getInt(0) == 4)
    // char stats by name: 'aab' -> 3 chars, 2 types
    val cs = spark.sql("SELECT char_stats('aab') AS s")
      .select("s.n_chars", "s.n_char_types").head()
    assert(cs.getLong(0) == 3L && cs.getLong(1) == 2L)
  }

  test("round-8 ops on degenerate input: empty corpus, short docs, guard rails") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val tiny = Seq((1L, "a"), (2L, ""), (3L, "  ")).toDF("doc_id", "text")

    // BPE on an empty corpus: no merges, no throw; on a corpus with no
    // repeating pair at minPairFreq=2, early-stops empty
    assert(Bpe.train(empty, col("text"), nMerges = 5).isEmpty)
    Bpe.train(tiny, col("text"), nMerges = 5) // single-char corpus: no throw
    // encode under zero merges: every word counts chars + </w>
    val enc = Bpe.encodeTokenCounts(tiny, col("doc_id"), col("text"), Nil)
      .as[(Long, Long)].collect().toMap
    assert(enc(1L) == 2L) // 'a' + </w>
    assert(!enc.contains(2L) && !enc.contains(3L)) // no tokens -> no row

    // substring removal: empty corpus -> empty; all-short docs untouched
    assert(Dedup.removeDuplicateShingles(empty, col("doc_id"), col("text")).count() == 0)
    val rds = Dedup.removeDuplicateShingles(tiny, col("doc_id"), col("text"), shingleLen = 3)
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
    assert(rds == Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // tokens() of '' is ['']

    // PCA guards: k out of range fails loudly, never a silent truncation
    val vecs = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Embeddings.pcaBasis(vecs, col("embedding"), k = 3)
    }
    // k = dim basis on 2 points still orthonormal
    val b = Embeddings.pcaBasis(vecs, col("embedding"), k = 2)
    assert(math.abs(b.components(0).map(x => x * x).sum - 1.0) < 1e-8)

    // CMS: empty probe list rejected loudly; zero-count token estimates 0
    intercept[IllegalArgumentException] {
      Sketches.cmsTokenEstimates(tiny, col("text"), Seq.empty)
    }
    val est = Sketches.cmsTokenEstimates(tiny, col("text"), Seq("absent"))
      .as[(String, Long)].collect().toMap
    assert(est("absent") == 0L)
  }

  test("round-8 batch-2/3 ops on degenerate input: empties, single labels, zero variance") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val tiny = Seq((1L, "a"), (2L, ""), (3L, "  ")).toDF("doc_id", "text")

    // gopher/entropy/winnow on empty + whitespace docs: no throw, sane rows
    assert(TextOps.gopherSignals(empty, col("doc_id"), col("text")).count() == 0)
    val gs = TextOps.gopherSignals(tiny, col("doc_id"), col("text"))
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(gs.values.forall(_ == false), "1-token and empty docs must all drop")
    assert(TextOps.charEntropySignals(empty, col("doc_id"), col("text")).count() == 0)
    val ent = TextOps.charEntropySignals(tiny, col("doc_id"), col("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(ent == Set(1L, 3L), "empty text drops; whitespace-only still has chars")
    assert(Dedup.winnowFingerprints(empty, col("doc_id"), col("text")).count() == 0)
    assert(Dedup.winnowFingerprints(tiny, col("doc_id"), col("text"))
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
      .values.forall(_ == 1L), "short docs -> exactly one whole-text fp each")

    // NB: single-label corpus predicts that label for every doc
    val oneLab = Seq((1L, "x y", "only"), (2L, "y z", "only")).toDF("doc_id", "text", "source")
    val nb = TextOps.naiveBayesClassify(oneLab, col("doc_id"), col("text"), col("source"))
      .select("pred_label").as[String].collect()
    assert(nb.length == 2 && nb.forall(_ == "only"))

    // skew report: topN beyond key count returns all keys; empty frame -> empty
    assert(Stats.keySkewReport(empty, col("doc_id"), topN = 5).count() == 0)
    assert(Stats.keySkewReport(tiny, col("doc_id"), topN = 99).count() == 3)

    // truncateRenorm: k beyond dim keeps what exists (slice semantics)
    val vecs = Seq((1L, Seq(3.0f, 4.0f))).toDF("vec_id", "embedding")
    val tr = Embeddings.truncateRenorm(vecs, col("vec_id"), col("embedding"), k = 10)
      .select("proj").as[Seq[Double]].head()
    assert(tr == Seq(0.6, 0.8))

    // salted join: empty dim -> empty result, no throw
    val fact = Seq((1L, "a")).toDF("id", "k")
    val noDim = Seq.empty[(String, String)].toDF("dk", "name")
    assert(Joins.saltedJoin(fact, noDim, col("k"), col("dk"), col("id"), 4).count() == 0)

    // zero-variance stratum: guarded null z, never a DIVIDE_BY_ZERO throw
    // (ANSI double division by zero errors; the first draft of this op
    // crashed exactly here) and never a flagged row
    val const = Seq((1L, "a", 5.0), (2L, "a", 5.0)).toDF("event_id", "event_type", "value")
    assert(Stats.zscoreOutliers(const, col("event_type"), col("value")).count() == 0)
  }

  test("round-8 late-batch ops on degenerate input: empties, singletons, zero modulus") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyVals = Seq.empty[(String, java.sql.Timestamp, Double)].toDF("k", "ts", "v")

    // negativeSamples on a 0/1-row corpus: n-1 would be a ZERO MODULUS
    // under ANSI pmod — must emit nothing, not throw
    assert(Sampling.negativeSamples(emptyDocs, col("doc_id"), 3).count() == 0)
    val one = Seq(Tuple1(7L)).toDF("doc_id")
    assert(Sampling.negativeSamples(one, col("doc_id"), 3).count() == 0)

    // stats family on empty input: no throw, empty output
    assert(Stats.madOutliers(emptyVals, col("k"), col("v")).count() == 0)
    assert(Stats.winsorizeByKey(emptyVals, col("k"), col("v")).count() == 0)
    assert(Stats.ewmaDaily(emptyVals, col("k"), col("ts"), col("v")).count() == 0)
    assert(Stats.trendSlopeByKey(emptyVals, col("k"), col("ts"), col("v")).count() == 0)
    assert(Stats.topMovers(emptyVals, col("k"), col("ts"), col("v")).count() == 0)
    assert(Stats.psiByKey(emptyVals, col("k"), col("v"), lit(true), 10.0).count() == 0)

    // psi with an entirely one-sided slice: smoothing keeps terms finite
    val oneSided = Seq(("k", 1.0, true), ("k", 2.0, true)).toDF("k", "v", "a")
    assert(Stats.psiByKey(oneSided, col("k"), col("v"), col("a"), 10.0).count() == 1)

    // containment with an empty corpus / single doc: no pairs, no throw
    assert(Dedup.containmentPairs(emptyDocs, col("doc_id"), col("text"), 3, 0.8).count() == 0)
    val single = Seq((1L, "a b c d")).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(single, col("doc_id"), col("text"), 3, 0.8).count() == 0)

    // incrementalIngest with an empty corpus admits the whole batch
    val batch = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    assert(Dedup.incrementalIngest(Dedup.fingerprintSet(emptyDocs, col("text")),
      batch, col("doc_id"), col("text")).count() == 2)

    // mixtureAllocation with an empty corpus: empty plan, no throw
    assert(Sampling.mixtureAllocation(
      emptyDocs, col("text"), col("doc_id"), Seq("a" -> 500000L), 100L).count() == 0)
  }
}
