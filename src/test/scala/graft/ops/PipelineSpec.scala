package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Tables

/** End-to-end corpus build (TrainingPipeline) and z-order layout specs.
  *
  * The DuckDB oracle already replays the full p_corpus_e2e chain value-
  * exactly at sf0.01; these tests pin the SEMANTIC invariants on crafted
  * rows (each stage demonstrably fires) and on real testdata (outputs
  * never violate the decontamination / split guarantees), plus the
  * z-order locality property that justifies the layout at 100 TB.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  // doc_id 44 hashes into the 10% eval band (hashUnit(44) >= 0.9); the
  // other ids land in train — chosen so every pipeline stage fires.
  private val corpus = Seq(
    // (doc_id, source, text)
    (1L, "web", "the cat sat on the mat and the dog watched"),
    (2L, "web", "the cat sat on the mat and the dog watched"), // exact dup of 1
    (5L, "web", "xyzzy plugh quux veeblefetzer gostak distims doshes"), // no stopwords -> und
    (7L, "web", "a b"), // too short
    (44L, "books", "the quick brown fox jumps over the lazy dog today"), // eval
    (8L, "books", "the quick brown fox jumps over the lazy dog now"), // leaks into 44
    (9L, "books", "we walked to the store and bought a loaf of bread"))
    .toDF("doc_id", "source", "text")

  test("buildCorpus: dedup, gates, leakage drop and mixture each fire; output is addressed") {
    val out = TrainingPipeline
      .buildCorpus(corpus, col("doc_id"), col("text"), col("source"))
      .select("doc_id", "source", "shard", "pos")
      .collect()
    val ids = out.map(_.getLong(0)).toSet
    // 2 collapsed into 1 (exact dup), 5 gated (lang), 7 gated (length),
    // 44 is eval-side, 8 dropped for leaking into 44; mixture keeps all
    // survivors (every source has <= 9 docs <= c^2 = 9)
    assert(ids == Set(1L, 9L))
    // every kept row is shard/pos-addressed
    assert(out.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 8 && r.getLong(3) >= 1))
  }

  test("buildCorpus: deterministic re-run, disjoint from eval, no surviving leak (sf0.001)") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    def run() = TrainingPipeline
      .buildCorpus(docs, col("doc_id"), col("text"), col("source"))
      .select("doc_id", "shard", "pos")
    val a = run().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val b = run().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(a.nonEmpty && a.sameElements(b), "pipeline must be bit-deterministic across runs")
    // the output never contains an eval-band doc, and no output doc
    // near-dups any eval-band doc at the pipeline's own threshold
    val evalBand = Sampling
      .split(docs, col("doc_id"), Seq("train" -> 0.9, "eval" -> 0.1))
      .filter(col("split") === "eval")
    val evalIds = evalBand.select("doc_id").as[Long].collect().toSet
    assert(a.map(_._1).forall(!evalIds.contains(_)))
    val kept = docs.join(
      run().select(col("doc_id").as("__k")), col("doc_id") === col("__k"), "left_semi")
    val leaks = Dedup
      .crossCorpusNearDups(kept, evalBand, col("doc_id"), col("text"), 3, 0.5)
    assert(leaks.isEmpty, "no kept doc may near-dup an eval doc")
  }

  test("splitByGroup: zero cross-split near-dup pairs where the per-doc split leaks") {
    val docs = graft.io.Tables(spark, "/root/testdata/sf0.01").documents
    def leaks(withSplit: org.apache.spark.sql.DataFrame): Long =
      Dedup.crossCorpusNearDups(
        withSplit.filter(col("split") === "train"),
        withSplit.filter(col("split") === "eval"),
        col("doc_id"), col("text"), 3, 0.5).count()
    // the audit's known corpus fact: the plain per-doc split leaks
    val perDoc = Sampling.split(docs, col("doc_id"), Seq("train" -> 0.9, "eval" -> 0.1))
    assert(leaks(perDoc) > 0, "testdata should contain leaked pairs under the per-doc split")
    // the cluster-keyed split leaks ZERO by construction — same
    // threshold for the cluster build and the audit, so every potential
    // leak pair is an edge inside one cluster, and one cluster never
    // straddles the boundary
    val byCluster = Sampling.splitByGroup(
      docs, col("doc_id"),
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5)),
      "id", "cluster_id", Seq("train" -> 0.9, "eval" -> 0.1))
    assert(leaks(byCluster) == 0, "cluster-keyed split must not leak")
    // every doc keeps exactly one label and the corpus stays whole
    assert(byCluster.count() == docs.count())
  }

  // the stored corpus artifacts the admission ladders screen against —
  // fingerprint set + the two nearDupIndex tables, at the ladders' params
  private def artifacts(corpus: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (hx, bx) = Dedup.nearDupIndex(corpus, col("doc_id"), col("text"),
      shingleLen = 3, k = 64, bands = 16)
    (Dedup.fingerprintSet(corpus, col("text")), hx, bx)
  }

  // 60-token Gopher-passing paragraph: "the <w> and" per theme word keeps
  // every signal inside the keep thresholds (avg token len 4ish, all
  // alphabetic, stopword hits >> 2, no symbols/bullets/ellipses)
  private def para(theme: Seq[String]): String =
    theme.map(w => s"the $w and").mkString(" ")
  private val themeA = Seq("falcon", "badger", "otter", "marten", "weasel",
    "ferret", "stoat", "marmot", "beaver", "muskrat", "vole", "shrew",
    "lemming", "gopher", "pika", "capuchin", "tamarin", "macaque", "gibbon",
    "langur")
  private val themeB = Seq("hammer", "chisel", "plane", "rasp", "auger",
    "brace", "gimlet", "awl", "froe", "adze", "spokeshave", "scriber",
    "mallet", "clamp", "vise", "level", "square", "bevel", "gauge", "punch")
  private val themeC = Seq("barley", "millet", "sorghum", "quinoa", "spelt",
    "teff", "amaranth", "farro", "kamut", "emmer", "einkorn", "durum",
    "buckwheat", "rye", "oat", "maize", "rice", "fonio", "triticale",
    "freekeh")

  test("dailyAdmission: all six verdicts fire with the declared precedence") {
    val q1 = para(themeA)
    val q2 = para(themeB)
    val q3 = para(themeC)
    val corpusDf = Seq((0L, q1)).toDF("doc_id", "text")
    val evalDf = Seq((2L, q2)).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, Seq.fill(60)("#").mkString(" ")), // fails every Gopher rule
      (4L, q1), // byte-identical to the corpus doc — exact stage wins
      (7L, para(themeA.init :+ "lynx")), // one word off the corpus doc
      (10L, q3), // novel, clean -> admitted (and the batch keeper for 13)
      (13L, para(themeC.init :+ "wheat")), // one word off 10
      (16L, q2)) // clean vs corpus+batch but a copy of the eval doc
      .toDF("doc_id", "text")
    val (fps, hx, bx) = artifacts(corpusDf)
    val got = TrainingPipeline
      .dailyAdmission(fps, hx, bx, incoming, evalDf, col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "rejected_quality",
      4L -> "dup_exact",
      7L -> "near_dup_corpus",
      10L -> "admitted",
      13L -> "near_dup_batch",
      16L -> "contaminated"))
  }

  test("property: dailyAdmission verdicts partition the batch; admits re-screen clean") {
    // seeded pseudo-random corpus: quality word-soup docs with planted
    // exact dups and near-dups — properties below are distribution-free
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 200).map(i => s"word$i")
    def doc(): String =
      (0 until 20).map(_ => s"the ${vocab(rnd.nextInt(vocab.size))} and").mkString(" ")
    def mutate(s: String): String = { // one word off -> near-dup
      val w = s.split(" "); w(w.length - 2) = "mutant"; w.mkString(" ")
    }
    val corpusDocs = (0 until 15).map(i => (i * 10L, doc()))
    val evalDocs = (0 until 8).map(i => (1000L + i, doc()))
    val base = (0 until 20).map(i => (5000L + i * 10, doc()))
    val incomingDocs = base ++ Seq(
      (6000L, corpusDocs(3)._2), // exact corpus dup
      (6010L, mutate(corpusDocs(5)._2)), // near corpus dup
      (6020L, base(2)._2), // exact in-batch dup
      (6030L, mutate(base(4)._2)), // near in-batch dup
      (6040L, evalDocs(1)._2), // contaminated
      (6050L, "## ##")) // junk
    val corpusDf = corpusDocs.toDF("doc_id", "text")
    val evalDf = evalDocs.toDF("doc_id", "text")
    val incoming = incomingDocs.toDF("doc_id", "text")
    val (fps, hx, bx) = artifacts(corpusDf)
    val got = TrainingPipeline
      .dailyAdmission(fps, hx, bx, incoming, evalDf, col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    // (a) exactly one verdict per incoming doc, from the declared ladder
    assert(got.map(_._1).sorted.toSeq == incomingDocs.map(_._1).sorted)
    val classes = Set("rejected_quality", "dup_exact", "near_dup_corpus",
      "near_dup_batch", "contaminated", "admitted")
    assert(got.forall(v => classes(v._2)), got.mkString(","))
    // (b) self-consistency: re-screening the admitted set against
    // corpus ∪ itself finds nothing — every admit is genuinely novel
    val admittedIds = got.collect { case (i, "admitted") => i }
    assert(admittedIds.nonEmpty)
    val admitted = incoming.filter(col("doc_id").isin(admittedIds: _*))
    val rescreen = Dedup.ingestIncrement(
        fps, hx, bx, admitted, col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, threshold = 0.6)
      .as[(Long, String)].collect()
    assert(rescreen.forall(_._2 == "admitted"), rescreen.mkString(","))
    // (c) no admit near-dups the eval benchmark at the decon threshold
    val leaks = Dedup.crossCorpusNearDups(
      admitted, evalDf, col("doc_id"), col("text"), 3, 0.5).count()
    assert(leaks == 0)
  }

  test("property: hard-13 ladder verdicts partition; a verbatim span flags where Jaccard can't") {
    // the GPT-3-rule ladder inherits the partition invariant, and its
    // differentiator is on the record: a doc embedding ONE verbatim
    // 13-token benchmark run — far below any whole-doc Jaccard bar —
    // must land `contaminated` under hard13 while the Jaccard ladder
    // admits it
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 200).map(i => s"word$i")
    def doc(): String =
      (0 until 20).map(_ => s"the ${vocab(rnd.nextInt(vocab.size))} and").mkString(" ")
    def mutate(s: String): String = {
      val w = s.split(" "); w(w.length - 2) = "mutant"; w.mkString(" ")
    }
    val corpusDocs = (0 until 12).map(i => (i * 10L, doc()))
    val evalDocs = (0 until 6).map(i => (1000L + i, doc()))
    val base = (0 until 15).map(i => (5000L + i * 10, doc()))
    val span13 = evalDocs(2)._2.split(" ").take(13).mkString(" ")
    val incomingDocs = base ++ Seq(
      (6000L, corpusDocs(4)._2), // exact corpus dup
      (6010L, mutate(corpusDocs(7)._2)), // near corpus dup
      (6020L, base(3)._2), // exact in-batch dup
      (6040L, s"${doc()} $span13 ${doc()}"), // verbatim 13-gram leak only
      (6050L, "## ##")) // junk
    val corpusDf = corpusDocs.toDF("doc_id", "text")
    val evalDf = evalDocs.toDF("doc_id", "text")
    val incoming = incomingDocs.toDF("doc_id", "text")
    val (fps, hx, bx) = artifacts(corpusDf)
    val got = TrainingPipeline
      .dailyAdmissionHard13(fps, hx, bx, incoming, evalDf, col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    // (a) exactly one verdict per incoming doc, from the declared ladder
    assert(got.map(_._1).sorted.toSeq == incomingDocs.map(_._1).sorted)
    val classes = Set("rejected_quality", "dup_exact", "near_dup_corpus",
      "near_dup_batch", "contaminated", "admitted")
    assert(got.forall(v => classes(v._2)), got.mkString(","))
    val byId = got.toMap
    // (b) the span leak is caught by the hard rule...
    assert(byId(6040L) == "contaminated", s"span leak got ${byId(6040L)}")
    assert(byId(6000L) == "dup_exact" && byId(6010L) == "near_dup_corpus" &&
      byId(6050L) == "rejected_quality", byId.mkString(","))
    // ...and sails through the Jaccard ladder — the two rules measure
    // different leakage, which is why both are declared
    val jaccard = TrainingPipeline
      .dailyAdmission(fps, hx, bx, incoming, evalDf, col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    assert(jaccard(6040L) == "admitted",
      s"span doc should clear the 0.5-Jaccard decon, got ${jaccard(6040L)}")
    // (c) no admit shares ANY verbatim 13-gram with the benchmark
    val admittedIds = got.collect { case (i, "admitted") => i }
    assert(admittedIds.nonEmpty)
    val admitted = incoming.filter(col("doc_id").isin(admittedIds: _*))
    assert(Dedup.exactNgramCollisions(
      admitted, evalDf, col("doc_id"), col("text"), 13).isEmpty)
    // (d) the bloom-pruned 13-gram screen finds exactly the plain
    // screen's collisions on the same batch (the span leak among them)
    def hits(df: DataFrame) = df.as[(Long, Long)].collect().toSet
    val plain = hits(Dedup.exactNgramCollisions(
      incoming, evalDf, col("doc_id"), col("text"), 13))
    assert(plain.exists(_._1 == 6040L), plain.mkString(","))
    assert(hits(Dedup.exactNgramCollisionsBloom(
      incoming, evalDf, col("doc_id"), col("text"), 13,
      expectedEvalShingles = 1000L)) == plain)
  }

  test("zorder2 matches the per-bit reference and nulls out-of-range input") {
    def ref(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 31)
        z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      z
    }
    val samples = Seq[(Long, Long)](
      (0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (1023L, 1L),
      (Int.MaxValue.toLong, Int.MaxValue.toLong), (1L << 30, 7L))
    // fallback off: a codegen compile failure must FAIL here, not demote
    // the write path to interpreted eval (the Janino static-forwarder trap)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val got =
      try samples.toDF("x", "y")
        .select(org.apache.spark.sql.graft.ZOrderFunctions.zorder2(col("x"), col("y")))
        .as[Long].collect()
      finally spark.conf.set("spark.sql.codegen.fallback", "true")
    assert(got.toSeq == samples.map { case (x, y) => ref(x, y) })
    val bad = Seq((-1L, 3L), (3L, Long.MaxValue)).toDF("x", "y")
      .select(org.apache.spark.sql.graft.ZOrderFunctions.zorder2(col("x"), col("y")))
      .collect()
    assert(bad.forall(_.isNullAt(0)), "out-of-range coordinates must yield null, not garbage")
    // SQL surface
    assert(spark.sql("SELECT zorder2(3L, 5L)").head().getLong(0) == ref(3L, 5L))
  }

  test("z-order ranges bound BOTH dims; lexicographic bounds only the leading one") {
    // full 32x32 grid, cut into 16 contiguous runs of 64 cells each
    val grid = (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    def extents(sorted: Seq[(Long, Long)]): (Long, Long) =
      sorted.grouped(64).map { g =>
        (g.map(_._1).max - g.map(_._1).min, g.map(_._2).max - g.map(_._2).min)
      }.toSeq.unzip match { case (xs, ys) => (xs.max, ys.max) }
    val byZ = grid
      .withColumn("z", org.apache.spark.sql.graft.ZOrderFunctions.zorder2(col("x"), col("y")))
      .orderBy("z").select("x", "y").as[(Long, Long)].collect().toSeq
    val byLex = grid.orderBy("x", "y").select("x", "y").as[(Long, Long)].collect().toSeq
    val (zx, zy) = extents(byZ)
    val (lx, ly) = extents(byLex)
    // each 64-cell z-run is an aligned 8x8 quad: extent 7 in both dims
    assert(zx == 7 && zy == 7, s"z-order run extents ($zx, $zy) should be (7, 7)")
    // lexicographic runs: 2 consecutive x columns (extent 1) but the FULL
    // y range — a y-filter can prune nothing
    assert(lx <= 1 && ly == 31, s"lex run extents ($lx, $ly) should be (<=1, 31)")
  }
}
