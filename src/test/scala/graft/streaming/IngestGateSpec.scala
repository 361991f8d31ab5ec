package graft.streaming

import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec}
import graft.ops.TrainingPipeline

/** The one-query admission gate ([[StreamingDedup.ingestGate]]): two
  * chained keyed state machines (first-per-fingerprint, then the
  * accumulating LSH index) with the stateless signature projection
  * between them. The oracle row (p_ingest_stream) pins the real-corpus
  * output; this fixture pins the verdict classes the corpus doesn't
  * exercise (no exact duplicates exist in the testdata) and the
  * DETERMINISTIC intra-batch winner that separates [[StreamingDedup
  * .firstPerKey]] from dropDuplicates.
  */
class IngestGateSpec extends SparkSpec {
  import spark.implicits._

  test("all four verdicts; exact-dup keeper is the earliest arrival even intra-batch") {
    GraftSession.withRocksDb(spark) {
      // ≥5 tokens and ≥2 stopwords pass the gate; base/near share all
      // but one trailing token (trigram jaccard ≈ 0.9 ⇒ est ≥ 0.6)
      val base = "the quick brown fox jumps over the lazy dog and then " +
        "runs far away to the quiet green hills beyond the river"
      val near = "the quick brown fox jumps over the lazy dog and then " +
        "runs far away to the quiet green hills beyond the valley"
      val docs = Seq(
        (10L, "web", base), // first arrival: admitted, the keeper
        (11L, "web", base), // byte-identical, same replay chunk as 10
        (12L, "web", near), // near-dup of 10 in the index
        (13L, "web", "short"), // fails the token gate
        (14L, "web", "completely different words entirely fresh content " +
          "with the usual amount of and of the stopword glue in it")
      ).toDF("doc_id", "source", "text")
      val hits = Replay.docEvents(
        docs.select(
          lit("").as("key"),
          timestamp_seconds(col("doc_id")).as("ts"),
          col("doc_id").cast("string").as("id"),
          col("text")),
        nChunks = 1) { stream => // ONE chunk: 10 and 11 share a batch
        StreamingDedup.ingestGate(stream.toDF()).toDF()
      }
      val got = TrainingPipeline.ingestVerdicts(docs, hits)
        .as[(Long, String, String)].collect()
        .map { case (id, _, v) => id -> v }.toMap
      assert(got == Map(
        10L -> "admitted", 11L -> "dup_exact", 12L -> "near_dup",
        13L -> "low_quality", 14L -> "admitted"), s"got $got")
    }
  }

  test("sigPartitions decouples compute width without changing verdicts") {
    GraftSession.withRocksDb(spark) {
      val base = "the quick brown fox jumps over the lazy dog and then " +
        "runs far away to the quiet green hills beyond the river"
      val near = "the quick brown fox jumps over the lazy dog and then " +
        "runs far away to the quiet green hills beyond the valley"
      val docs = Seq(
        (10L, "web", base),
        (11L, "web", base),
        (12L, "web", near),
        (13L, "web", "short"),
        (14L, "web", "completely different words entirely fresh content " +
          "with the usual amount of and of the stopword glue in it")
      ).toDF("doc_id", "source", "text")
      val events = docs.select(
        lit("").as("key"),
        timestamp_seconds(col("doc_id")).as("ts"),
        col("doc_id").cast("string").as("id"),
        col("text"))
      // the tuned bench config repartitions the signature stage wider than
      // the state width; a hash exchange between the two state machines
      // must be invisible in the verdicts (state keying and intra-batch
      // ordering are ts-driven, not partition-driven)
      val wide = Replay.docEvents(events, nChunks = 1) { stream =>
        StreamingDedup.ingestGate(stream.toDF(), sigPartitions = 7).toDF()
      }
      val got = TrainingPipeline.ingestVerdicts(docs, wide)
        .as[(Long, String, String)].collect()
        .map { case (id, _, v) => id -> v }.toMap
      assert(got == Map(
        10L -> "admitted", 11L -> "dup_exact", 12L -> "near_dup",
        13L -> "low_quality", 14L -> "admitted"), s"got $got")
    }
  }

  test("stream-safe signature column == batch minhashSignatures (portable family)") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.io.Tables(spark, dir).documents.limit(200)
    val hof = docs.select(
      col("doc_id"),
      graft.ops.Dedup.portableMinhashSignature(col("text")).as("sig"))
      .as[(Long, Array[Long])].collect().map(r => r._1 -> r._2.toSeq).toMap
    val batch = graft.ops.Dedup
      .minhashSignatures(docs, col("doc_id"), col("text"),
        shingleLen = 3, k = 64)
      .select(col("doc_id"), array((0 until 64).map(i => col(s"m$i")): _*).as("sig"))
      .as[(Long, Array[Long])].collect().map(r => r._1 -> r._2.toSeq).toMap
    assert(batch.nonEmpty && hof == batch,
      s"HOF and aggregate signatures diverge on ${hof.keySet.diff(batch.keySet)} " +
        s"or values (${hof.count { case (k, v) => batch.get(k).contains(v) }}/${hof.size} agree)")
  }
}
