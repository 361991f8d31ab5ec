package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.{AdcScore, AudioMeta, CharNgrams, CharStats, CosineSim, ImageMeta, NfcNormalize, VideoMeta, ZOrder2}

/** SQL-surface registration for the engine's native expressions — the
  * `SparkSessionExtensions` injection point, so a `spark.sql` user (or a
  * JDBC/thrift client) calls the same codegen'd kernels the Column API
  * uses: `SELECT cosine_sim(a.vec, b.vec)`, `SELECT image_meta(payload).*`.
  * Installed by [[GraftSession.builder]]; also usable standalone via
  * `--conf spark.sql.extensions=...` semantics by passing this object to
  * a session builder's `withExtensions`.
  *
  * Only model-free scalar expressions register: `PqCodes` /
  * `SignProjectionBucket` carry plan-time model artifacts (codebooks,
  * hyperplane signs) and stay Column-API-only by design.
  */
object GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions.type].getCanonicalName, null, name, usage, "")

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other =>
      throw new IllegalArgumentException(s"$what must be an integer literal, got: $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two array<double> vectors"),
      (es: Seq[Expression]) => CosineSim(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("adc_score"),
      info("adc_score", "adc_score(lut, codes) - PQ asymmetric distance sum"),
      (es: Seq[Expression]) => AdcScore(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("char_ngrams"),
      info("char_ngrams", "char_ngrams(text, n) - all overlapping character n-grams"),
      (es: Seq[Expression]) => CharNgrams(es(0), intLit(es(1), "char_ngrams n"))))
    ext.injectFunction((
      FunctionIdentifier("image_meta"),
      info("image_meta", "image_meta(binary) - PNG/JPEG/GIF header metadata struct"),
      (es: Seq[Expression]) => ImageMeta(es.head)))
    ext.injectFunction((
      FunctionIdentifier("audio_meta"),
      info("audio_meta", "audio_meta(binary) - RIFF/WAVE header metadata struct"),
      (es: Seq[Expression]) => AudioMeta(es.head)))
    ext.injectFunction((
      FunctionIdentifier("zorder2"),
      info("zorder2", "zorder2(x, y) - Morton bit-interleave of two bucket coordinates"),
      (es: Seq[Expression]) => ZOrder2(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("video_meta"),
      info("video_meta", "video_meta(binary) - ISO BMFF (MP4) header metadata struct"),
      (es: Seq[Expression]) => VideoMeta(es.head)))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(text) - Unicode NFC canonical composition"),
      (es: Seq[Expression]) => NfcNormalize(es.head)))
    ext.injectFunction((
      FunctionIdentifier("char_stats"),
      info("char_stats",
        "char_stats(text) - struct(n_chars, n_char_types, ent_sum_micro) character-unigram stats"),
      (es: Seq[Expression]) => CharStats(es.head)))
  }
}
