package graft
package queries

import org.apache.spark.sql.functions._

import graft.GraftSession.withRocksDb
import graft.io.Tables
import graft.ops._
import graft.streaming.Replay
import graft.queries.Fragments.{fpExpr, minhashSigBody, shinglesExpr, stopCntExpr, tokensExpr}

/** `p_*`: training-data pipeline stages (sampling, splitting,
  * packing, mixing, daily admission) and their stream replays.
  */
object PipelineQueries {

  /** p_ingest_stream oracle: the whole admission chain replayed —
    * quality gate (token count + stopword language id), deterministic
    * first-per-fingerprint keeper (arrival order = doc_id order), then
    * the portable MinHash/banding CTEs over the kept set with the
    * integer agreement verify (n·5 ≥ 192 ⇔ est ≥ 0.6); a doc that
    * collides with ANY earlier kept doc is a near-dup. */
  private lazy val ingestStreamSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, text, $fpExpr AS fp,
       |    (len($tokensExpr) >= 5 AND $stopCntExpr >= 2) AS ok
       |  FROM documents
       |), keep AS (
       |  SELECT *, min(CASE WHEN ok THEN doc_id END) OVER (PARTITION BY fp) AS keeper
       |  FROM base
       |), idx AS (
       |  SELECT doc_id, text FROM keep WHERE ok AND doc_id = keeper
       |), ${minhashSigBody("idx")}, cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |    AND l.doc_id < r.doc_id
       |), agree AS (
       |  SELECT c.a, c.b, count(*) AS n
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.a
       |  JOIN sig sb ON sb.doc_id = c.b AND sb.i = sa.i AND sb.m = sa.m
       |  GROUP BY 1, 2
       |), near AS (SELECT DISTINCT b FROM agree WHERE n * 5 >= 192)
       |SELECT doc_id, source,
       |  CASE WHEN NOT ok THEN 'low_quality'
       |       WHEN doc_id <> keeper THEN 'dup_exact'
       |       WHEN doc_id IN (SELECT b FROM near) THEN 'near_dup'
       |       ELSE 'admitted' END AS verdict
       |FROM keep""".stripMargin

  /** p_ingest_decon_stream oracle: [[ingestStreamSql]]'s chain restricted
    * to the incoming third, plus the eval third's own portable signature
    * CTEs and the cross-side band collide + integer agreement verify —
    * `contaminated` slots between `near_dup` and `admitted`, exactly the
    * stream's verdict ladder. The decon CTEs range over keepers only:
    * the stream screens every gated arrival, but verdict precedence
    * hides decon hits on non-keepers, so the verdicts agree. */
  private lazy val ingestDeconStreamSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, text, $fpExpr AS fp,
       |    (len($tokensExpr) >= 5 AND $stopCntExpr >= 2) AS ok
       |  FROM documents WHERE doc_id % 3 = 1
       |), keep AS (
       |  SELECT *, min(CASE WHEN ok THEN doc_id END) OVER (PARTITION BY fp) AS keeper
       |  FROM base
       |), idx AS (
       |  SELECT doc_id, text FROM keep WHERE ok AND doc_id = keeper
       |), ${minhashSigBody("idx")}, cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |    AND l.doc_id < r.doc_id
       |), agree AS (
       |  SELECT c.a, c.b, count(*) AS n
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.a
       |  JOIN sig sb ON sb.doc_id = c.b AND sb.i = sa.i AND sb.m = sa.m
       |  GROUP BY 1, 2
       |), near AS (SELECT DISTINCT b FROM agree WHERE n * 5 >= 192),
       |ed AS (
       |  SELECT doc_id, $tokensExpr AS w FROM documents WHERE doc_id % 3 = 2
       |), eg AS (
       |  SELECT doc_id, $shinglesExpr AS sh FROM ed
       |), ehs AS (
       |  SELECT doc_id, list_distinct(list_transform(sh,
       |    s -> CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT))) AS hh
       |  FROM eg
       |), ehr AS (
       |  SELECT doc_id, unnest(hh) AS h32 FROM ehs
       |), esig AS (
       |  SELECT doc_id, i, min((h32 * pa + pb) % 4294967311) AS m
       |  FROM ehr, p GROUP BY 1, 2
       |), eband AS (
       |  SELECT doc_id, i // 4 AS band,
       |    md5(string_agg(CAST(m AS VARCHAR), '|' ORDER BY i)) AS bh
       |  FROM esig GROUP BY 1, 2
       |), dcand AS (
       |  SELECT DISTINCT r.doc_id AS b, l.doc_id AS e
       |  FROM eband l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |), dagree AS (
       |  SELECT c.b, c.e, count(*) AS n
       |  FROM dcand c
       |  JOIN esig sa ON sa.doc_id = c.e
       |  JOIN sig sb ON sb.doc_id = c.b AND sb.i = sa.i AND sb.m = sa.m
       |  GROUP BY 1, 2
       |), cont AS (SELECT DISTINCT b FROM dagree WHERE n * 5 >= 192)
       |SELECT doc_id, source,
       |  CASE WHEN NOT ok THEN 'low_quality'
       |       WHEN doc_id <> keeper THEN 'dup_exact'
       |       WHEN doc_id IN (SELECT b FROM near) THEN 'near_dup'
       |       WHEN doc_id IN (SELECT b FROM cont) THEN 'contaminated'
       |       ELSE 'admitted' END AS verdict
       |FROM keep""".stripMargin

  /** Shared by p_daily_admission and its stored-artifact twin — only
    * the corpus side's provenance (fingerprint set + nearDupIndex
    * tables vs text recompute) differs, the verdicts are identical.
    * `contCtes` plugs the decontamination screen ending in a
    * `cont(doc_id)` CTE: the 3-gram Jaccard sweep for the base pair,
    * the exact-13-gram collision rule for the hard13 pair. */
  private def dailyAdmissionSqlWith(contCtes: String): String =
    s"""WITH gq AS (
         |  SELECT doc_id,
         |    CAST(len($tokensExpr) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
         |      / len($tokensExpr) AS avg_token_len,
         |    CAST(len(regexp_extract_all(text, '#'))
         |       + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |      / len($tokensExpr) AS symbol_ratio,
         |    CAST(len(list_filter($tokensExpr,
         |        t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
         |      / len($tokensExpr) AS alpha_word_ratio,
         |    CAST($stopCntExpr AS BIGINT) AS stop_hits,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(l, '^\\s*[-*•]'))) AS DOUBLE)
         |      / greatest(1, len(string_split(text, chr(10)))) AS bullet_line_frac,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS DOUBLE)
         |      / greatest(1, len(string_split(text, chr(10)))) AS ellipsis_line_frac
         |  FROM documents WHERE doc_id % 3 = 1
         |), q AS (
         |  SELECT doc_id FROM gq
         |  WHERE COALESCE(n_tokens BETWEEN 50 AND 100000
         |    AND avg_token_len BETWEEN 3.0 AND 10.0
         |    AND symbol_ratio < 0.1
         |    AND alpha_word_ratio > 0.8
         |    AND stop_hits >= 2
         |    AND bullet_line_frac < 0.9
         |    AND ellipsis_line_frac < 0.3, FALSE)
         |), f AS (SELECT doc_id, text, $fpExpr AS fp FROM documents),
         |seen AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 = 0),
         |keep AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY fp) AS kk
         |    FROM f WHERE doc_id IN (SELECT doc_id FROM q)
         |      AND fp NOT IN (SELECT fp FROM seen)
         |  ) WHERE doc_id = kk
         |), idx AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id, text FROM keep
         |), ${minhashSigBody("idx")}, cb AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
         |  WHERE l.doc_id % 3 = 0 AND r.doc_id % 3 = 1
         |), bb AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
         |    AND l.doc_id < r.doc_id
         |  WHERE l.doc_id % 3 = 1 AND r.doc_id % 3 = 1
         |), vcb AS (
         |  SELECT DISTINCT c.b
         |  FROM cb c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
         |  WHERE len(list_intersect(ha.hh, hb.hh)) > 0
         |    AND CAST(len(list_intersect(ha.hh, hb.hh)) AS DOUBLE)
         |        / (len(ha.hh) + len(hb.hh) - len(list_intersect(ha.hh, hb.hh))) >= 0.6
         |), vbb AS (
         |  SELECT DISTINCT c.b
         |  FROM bb c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
         |  WHERE len(list_intersect(ha.hh, hb.hh)) > 0
         |    AND CAST(len(list_intersect(ha.hh, hb.hh)) AS DOUBLE)
         |        / (len(ha.hh) + len(hb.hh) - len(list_intersect(ha.hh, hb.hh))) >= 0.6
         |), adm AS (
         |  SELECT doc_id FROM keep
         |  WHERE doc_id NOT IN (SELECT b FROM vcb)
         |    AND doc_id NOT IN (SELECT b FROM vbb)
         |), dd AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |  WHERE doc_id % 3 = 2 OR doc_id IN (SELECT doc_id FROM adm)
         |), $contCtes
         |SELECT doc_id,
         |  CASE WHEN doc_id NOT IN (SELECT doc_id FROM q) THEN 'rejected_quality'
         |       WHEN doc_id NOT IN (SELECT doc_id FROM keep) THEN 'dup_exact'
         |       WHEN doc_id IN (SELECT b FROM vcb) THEN 'near_dup_corpus'
         |       WHEN doc_id IN (SELECT b FROM vbb) THEN 'near_dup_batch'
         |       WHEN doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
         |       ELSE 'admitted' END AS verdict
         |FROM documents WHERE doc_id % 3 = 1""".stripMargin

  private lazy val dailyAdmissionSql: String = dailyAdmissionSqlWith(
    s"""dgs AS (
       |  SELECT doc_id, $shinglesExpr AS sh FROM dd
       |), cont AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM dgs a JOIN dgs b ON a.doc_id % 3 = 1 AND b.doc_id % 3 = 2
       |  WHERE len(list_intersect(a.sh, b.sh)) > 0
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(a.sh || b.sh)) >= 0.5
       |)""".stripMargin)

  /** The hard13 ladder pair's oracle: identical prefix, decon via the
    * exact-13-gram collision rule at the portable md5→32-bit hash grain
    * (the hard13Sql shingle chain over admitted ∪ benchmark). */
  private lazy val dailyAdmissionHard13Sql: String = dailyAdmissionSqlWith(
    """g13 AS (
      |  SELECT doc_id, CASE WHEN len(w) >= 13
      |    THEN list_distinct([array_to_string(w[i:i+12], ' ')
      |                        for i in range(1, len(w) - 11)])
      |    ELSE [array_to_string(w, ' ')] END AS sh
      |  FROM dd
      |), e13 AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, unnest(sh) AS s FROM g13)
      |), cont AS (
      |  SELECT DISTINCT a.doc_id
      |  FROM e13 a JOIN e13 b ON a.h = b.h
      |    AND a.doc_id % 3 = 1 AND b.doc_id % 3 = 2
      |)""".stripMargin)

  val all: Seq[Query] = Seq(
    Query("p_incremental_ingest",
      s"""WITH f AS (SELECT doc_id, $fpExpr AS fp FROM documents),
         |seen AS (SELECT DISTINCT fp FROM f WHERE doc_id % 2 = 0),
         |inc AS (SELECT doc_id, fp FROM f WHERE doc_id % 2 = 1)
         |SELECT fp, min(doc_id) AS doc_id FROM inc
         |WHERE fp NOT IN (SELECT fp FROM seen)
         |GROUP BY fp""".stripMargin)((s, dir) => {
      // ingest-batch dedup: odd-id docs are the incoming snapshot, even-id
      // the existing corpus; admit = not-seen (fp anti-join against the
      // 16-byte fingerprint set) + min-id within the batch
      val t = Tables(s, dir)
      Dedup.incrementalIngest(
        t.documents.filter(col("doc_id") % 2 === 0),
        t.documents.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"))
    }),
    // composed daily-ingest increment: exact fingerprint keeper stage
    // first (replayed like p_incremental_ingest), then the near-dup
    // chain over corpus ∪ keepers only — non-keepers verdict 'dup_exact'
    Query("p_near_ingest_e2e",
      s"""WITH f AS (SELECT doc_id, text, $fpExpr AS fp FROM documents),
         |seen AS (SELECT DISTINCT fp FROM f WHERE doc_id % 2 = 0),
         |keep AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY fp) AS k
         |    FROM f WHERE doc_id % 2 = 1 AND fp NOT IN (SELECT fp FROM seen)
         |  ) WHERE doc_id = k
         |), idx AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
         |  UNION ALL SELECT doc_id, text FROM keep
         |), ${minhashSigBody("idx")}, cb AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
         |  WHERE l.doc_id % 2 = 0 AND r.doc_id % 2 = 1
         |), bb AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
         |    AND l.doc_id < r.doc_id
         |  WHERE l.doc_id % 2 = 1 AND r.doc_id % 2 = 1
         |), vcb AS (
         |  SELECT DISTINCT c.b
         |  FROM cb c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
         |  WHERE len(list_intersect(ha.hh, hb.hh)) > 0
         |    AND CAST(len(list_intersect(ha.hh, hb.hh)) AS DOUBLE)
         |        / (len(ha.hh) + len(hb.hh) - len(list_intersect(ha.hh, hb.hh))) >= 0.6
         |), vbb AS (
         |  SELECT DISTINCT c.b
         |  FROM bb c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
         |  WHERE len(list_intersect(ha.hh, hb.hh)) > 0
         |    AND CAST(len(list_intersect(ha.hh, hb.hh)) AS DOUBLE)
         |        / (len(ha.hh) + len(hb.hh) - len(list_intersect(ha.hh, hb.hh))) >= 0.6
         |)
         |SELECT doc_id,
         |  CASE WHEN doc_id NOT IN (SELECT doc_id FROM keep) THEN 'dup_exact'
         |       WHEN doc_id IN (SELECT b FROM vcb) THEN 'near_dup_corpus'
         |       WHEN doc_id IN (SELECT b FROM vbb) THEN 'near_dup_batch'
         |       ELSE 'admitted' END AS verdict
         |FROM documents WHERE doc_id % 2 = 1""".stripMargin)((s, dir) => {
      // the composed daily-ingest increment, cheap stage first: exact
      // fingerprint dedup (corpus anti-join + in-batch min-id keeper —
      // collapses replica mass BEFORE any signature work, the
      // d_cluster_sizes exact-collapse-first lesson), then the near-dup
      // screen over keepers only. Exact hits verdict 'dup_exact'; the
      // near stage's verdicts pass through for keepers.
      val t = Tables(s, dir)
      Dedup.ingestIncrement(
        t.documents.filter(col("doc_id") % 2 === 0),
        t.documents.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, threshold = 0.6, portableHash = true)
    }),
    // the full daily admission replayed end-to-end: Gopher keep
    // conjunction over the incoming third, md5 fingerprint keeper, the
    // portable MinHash chain over corpus ∪ keepers, then the 3-gram
    // Jaccard decontamination sweep of the admitted sliver against the
    // eval third — verdict precedence identical to the Spark dataflow
    Query("p_daily_admission", dailyAdmissionSql)((s, dir) => {
      // the FULL daily-admission decision (buildCorpus's ingest-time
      // counterpart): quality gate → exact dedup → near-dup screen →
      // eval-benchmark decontamination, one verdict per incoming doc.
      // doc_id % 3 partitions the corpus into standing corpus (0),
      // incoming batch (1), and frozen eval benchmark (2); the oracle
      // replays every stage — the Gopher keep conjunction, the md5
      // fingerprint keeper, the portable MinHash chain over
      // corpus ∪ keepers, and the 3-gram Jaccard decon sweep — as one
      // CTE chain with the same verdict precedence.
      val t = Tables(s, dir)
      TrainingPipeline.dailyAdmission(
        t.documents.filter(col("doc_id") % 3 === 0),
        t.documents.filter(col("doc_id") % 3 === 1),
        t.documents.filter(col("doc_id") % 3 === 2),
        col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, nearThreshold = 0.6,
        deconShingleLen = 3, deconThreshold = 0.5, portableHash = true)
    }),
    Query("p_daily_admission_indexed", dailyAdmissionSql)((s, dir) => {
      // p_daily_admission against STORED corpus artifacts only — the
      // form the scheduled daily job actually runs: the corpus enters as
      // its fingerprint set + its two nearDupIndex tables (at scale
      // materialized once and appended per admitted batch); corpus TEXT
      // is never read anywhere in the plan. Same verdicts, one shared
      // oracle (PipelineSpec pins equality with the recompute form).
      val t = Tables(s, dir)
      val corpus = t.documents.filter(col("doc_id") % 3 === 0)
      val (hx, bx) = Dedup.nearDupIndex(
        corpus, col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, portableHash = true)
      TrainingPipeline.dailyAdmissionIndexed(
        Dedup.fingerprintSet(corpus, col("text")), hx, bx,
        t.documents.filter(col("doc_id") % 3 === 1),
        t.documents.filter(col("doc_id") % 3 === 2),
        col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, nearThreshold = 0.6,
        deconShingleLen = 3, deconThreshold = 0.5, portableHash = true)
    }),
    Query("p_daily_admission_hard13", dailyAdmissionHard13Sql)((s, dir) => {
      // the admission ladder with GPT-3's decontamination rule: the
      // admitted sliver is screened for ANY verbatim 13-token run shared
      // with the frozen benchmark (exactNgramCollisions — one equi-join
      // on portable 32-bit shingle hashes) instead of the Jaccard sweep.
      // Batch twin of the d_decon_hard13_stream screen; same %3 corpus /
      // batch / benchmark split as p_daily_admission.
      val t = Tables(s, dir)
      TrainingPipeline.dailyAdmissionHard13(
        t.documents.filter(col("doc_id") % 3 === 0),
        t.documents.filter(col("doc_id") % 3 === 1),
        t.documents.filter(col("doc_id") % 3 === 2),
        col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, nearThreshold = 0.6,
        deconNgram = 13, portableHash = true)
    }),
    Query("p_daily_admission_hard13_indexed", dailyAdmissionHard13Sql)((s, dir) => {
      // the hard-13 ladder the scheduled job runs at 100 TB: stored
      // corpus artifacts (fp set + nearDupIndex tables — corpus text
      // never in the plan) AND the bloom-pruned 13-gram screen
      // (might_contain kills train shingles before any exchange; the
      // exact join restores exactness). Shares hard13's oracle exactly.
      val t = Tables(s, dir)
      val corpus = t.documents.filter(col("doc_id") % 3 === 0)
      val (hx, bx) = Dedup.nearDupIndex(
        corpus, col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, portableHash = true)
      TrainingPipeline.dailyAdmissionHard13Indexed(
        Dedup.fingerprintSet(corpus, col("text")), hx, bx,
        t.documents.filter(col("doc_id") % 3 === 1),
        t.documents.filter(col("doc_id") % 3 === 2),
        col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, nearThreshold = 0.6,
        deconNgram = 13, expectedEvalShingles = 400000L, portableHash = true)
    }),
    // ---- sampling / splitting ----
    Query("p_corpus_report",
      s"""WITH d AS (
         |  SELECT source, doc_id, lang, n_chars,
         |    len($tokensExpr) AS n_toks, md5(text) AS fp
         |  FROM documents),
         |base AS (
         |  SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |    count(DISTINCT lang) AS n_langs
         |  FROM d GROUP BY 1),
         |dup AS (
         |  SELECT source,
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_docs
         |  FROM (SELECT source, fp, count(*) AS c FROM d GROUP BY 1, 2) GROUP BY 1),
         |med AS (
         |  SELECT source, CAST(n_chars AS BIGINT) AS chars_p50 FROM (
         |    SELECT source, n_chars,
         |      row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
         |      count(*) OVER (PARTITION BY source) AS cnt
         |    FROM d) r
         |  WHERE rn = greatest(1, CAST(ceil(0.5 * cnt) AS BIGINT))),
         |lr AS (
         |  SELECT source, lang AS top_lang, CAST(n AS BIGINT) AS top_lang_n FROM (
         |    SELECT source, lang, count(*) AS n,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY count(*) DESC, lang) AS rk
         |    FROM d GROUP BY source, lang) t
         |  WHERE rk = 1)
         |SELECT base.source, n_docs, n_tokens, n_langs, n_dup_docs, chars_p50,
         |  top_lang, top_lang_n
         |FROM base JOIN dup USING (source) JOIN med USING (source)
         |JOIN lr USING (source)""".stripMargin)((s, dir) => {
      // per-source corpus DATASHEET — the rollup you run before training:
      // doc/token volume, language spread + dominant language
      // (deterministic tie-break: count desc then lexicographic), exact
      // duplicate rate (md5 fingerprints), and the exact type-1 median
      // char length. Every branch aggregates to source grain before any
      // join, so the joins carry |sources| rows (broadcast) — the corpus
      // is scanned once per signal family, never joined at doc grain.
      val d = Tables(s, dir).documents.select(
        col("source"), col("doc_id"), col("lang"), col("n_chars"),
        TextOps.tokenCount(col("text")).cast("long").as("n_toks"),
        md5(col("text")).as("fp"))
      val base = d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      val dup = d.groupBy(col("source"), col("fp"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup_docs"))
      val med = Stats.quantilesByKey(d, col("source"), col("n_chars"), Seq(0.5))
        .select(col("key").as("source"), col("value").cast("long").as("chars_p50"))
      val lw = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("n").desc, col("lang"))
      val topLang = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(lw))
        .filter(col("rk") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("n").as("top_lang_n"))
      base.join(dup, "source").join(med, "source").join(topLang, "source")
        .select(
          col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
          col("n_dup_docs"), col("chars_p50"), col("top_lang"), col("top_lang_n"))
    }),
    Query("p_lm_filter",
      s"""WITH toks AS (SELECT doc_id, unnest($tokensExpr) AS w FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
         |c AS (SELECT w, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM c),
         |lm AS (
         |  SELECT doc_id,
         |    CAST(sum(tf * CAST(floor(ln(CAST(c + 1 AS DOUBLE)
         |      / CAST(n + v AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS logprob_1e6,
         |    CAST(sum(tf) AS BIGINT) AS n_tokens
         |  FROM tf JOIN c USING (w) CROSS JOIN tot
         |  GROUP BY doc_id
         |), ranked AS (
         |  SELECT lm.doc_id, d.source, lm.logprob_1e6, lm.n_tokens,
         |    percent_rank() OVER (PARTITION BY d.source
         |      ORDER BY CAST(lm.logprob_1e6 AS DOUBLE) / lm.n_tokens) AS pct
         |  FROM lm JOIN documents d USING (doc_id)
         |)
         |SELECT doc_id, source, logprob_1e6, n_tokens
         |FROM ranked WHERE pct >= 0.1 AND pct <= 0.9""".stripMargin)((s, dir) => {
      // CCNet-style LM quality band: score each doc by its PER-TOKEN
      // corpus-unigram log-prob (composing t_unigram_lm's integer-exact
      // scorer), percent-rank WITHIN its source, keep the [0.1, 0.9]
      // band — drops each stratum's worst boilerplate AND its
      // suspiciously-predictable head with one calibrated rule. The
      // division of two exact ints is IEEE-identical on any engine and
      // percent_rank = (rank-1)/(n-1) ties deterministically, so the
      // band membership is oracle-exact. Per-source window sort carries
      // the same stratum-sort scale caveat as t_calibrate (documented
      // there; strata sort independently).
      val docs = Tables(s, dir).documents
      val lm = TextOps.unigramLogProb(docs, col("doc_id"), col("text"))
      val scored = lm
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .withColumn("score", col("logprob_1e6").cast("double") / col("n_tokens"))
      Stats.percentRankByKey(scored, col("source"), col("score"))
        .filter(col("pct_rank") >= 0.1 && col("pct_rank") <= 0.9)
        .select(col("doc_id"), col("source"), col("logprob_1e6"), col("n_tokens"))
    }),
    Query("p_gopher_filter",
      s"""WITH sig AS (
         |  SELECT doc_id,
         |    CAST(len($tokensExpr) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
         |      / len($tokensExpr) AS avg_token_len,
         |    CAST(len(regexp_extract_all(text, '#'))
         |       + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |      / len($tokensExpr) AS symbol_ratio,
         |    CAST(len(list_filter($tokensExpr,
         |        t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
         |      / len($tokensExpr) AS alpha_word_ratio,
         |    CAST($stopCntExpr AS BIGINT) AS stop_hits,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(l, '^\\s*[-*•]'))) AS DOUBLE)
         |      / greatest(1, len(string_split(text, chr(10)))) AS bullet_line_frac,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS DOUBLE)
         |      / greatest(1, len(string_split(text, chr(10)))) AS ellipsis_line_frac
         |  FROM documents)
         |SELECT doc_id, n_tokens, avg_token_len, symbol_ratio, alpha_word_ratio,
         |  stop_hits,
         |  (n_tokens BETWEEN 50 AND 100000
         |   AND avg_token_len BETWEEN 3.0 AND 10.0
         |   AND symbol_ratio < 0.1
         |   AND alpha_word_ratio > 0.8
         |   AND stop_hits >= 2
         |   AND bullet_line_frac < 0.9
         |   AND ellipsis_line_frac < 0.3) AS keep
         |FROM sig""".stripMargin)((s, dir) => {
      // Gopher rule-composite hygiene pass (Rae et al. §A1.1 thresholds):
      // per-rule audit columns + the keep conjunction, all codegen'd
      // per-row expressions — the multi-rule generalization of the
      // reference's P3 predicate filter
      TextOps.gopherSignals(Tables(s, dir).documents, col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
          col("symbol_ratio"), col("alpha_word_ratio"), col("stop_hits"),
          col("keep"))
    }),
    Query("p_skew_report",
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_id, count(*) AS cnt
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |         CAST(count(*) AS BIGINT) AS n_keys FROM c
        |)
        |SELECT user_id, cnt,
        |  CAST(floor(cnt * 1000000 / n_rows) AS BIGINT) AS share_ppm,
        |  n_rows, n_keys
        |FROM c CROSS JOIN t
        |ORDER BY cnt DESC, user_id ASC LIMIT 10""".stripMargin)((s, dir) => {
      // shuffle-key skew diagnostic: top-10 heaviest user_ids with exact
      // ppm share + global totals — run before sizing any 100 TB shuffle
      Stats.keySkewReport(Tables(s, dir).events, col("user_id"), topN = 10)
        .select(col("key").as("user_id"), col("cnt"), col("share_ppm"),
          col("n_rows"), col("n_keys"))
    }),
    Query("p_cap_per_key",
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents
        |) t WHERE rn <= 20""".stripMargin)((s, dir) => {
      // source-balance capping: at most 20 docs per source, deterministic
      // (WindowGroupLimit-pruned rank — same plan family as T1)
      Sampling
        .capPerKey(Tables(s, dir).documents, col("source"), Seq(col("doc_id").asc), 20)
        .select(col("source"), col("doc_id"))
    }),
    Query("p_sample",
      """SELECT doc_id FROM documents
        |WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |      / 281474976710656.0 < 0.1""".stripMargin)((s, dir) => {
      // deterministic 10% Bernoulli sample of documents by doc_id hash
      Sampling.sample(Tables(s, dir).documents, col("doc_id"), 0.1)
        .select(col("doc_id"))
    }),
    Query("p_split",
      """SELECT CASE
        |    WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |         / 281474976710656.0 < 0.9 THEN 'train' ELSE 'eval' END AS split,
        |  count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin)((s, dir) => {
      // deterministic 90/10 train/eval split labels
      Sampling.split(Tables(s, dir).documents, col("doc_id"),
          Seq("train" -> 0.9, "eval" -> 0.1))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
    }),
    Query("p_sample_stratified",
      s"""SELECT doc_id FROM documents
         |WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
         |      / 281474976710656.0
         |      < CASE WHEN $stopCntExpr >= 2 THEN 0.1 ELSE 0.6 END""".stripMargin)((s, dir) => {
      // per-language rebalance: keep 10% of en docs, 60% of the rest —
      // the corpus-mixing knob, decided per row by the same md5 hash as
      // p_sample so the mix is reproducible on any engine
      Sampling.sampleStratified(
          Tables(s, dir).documents, col("doc_id"),
          TextOps.langId(col("text")), Map("en" -> 0.1, "und" -> 0.6))
        .select(col("doc_id"))
    }),
    Query("p_sample_weighted",
      """SELECT doc_id, n_chars FROM documents
        |WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |      / 281474976710656.0
        |      < least(1.0, CAST(n_chars AS DOUBLE) / 2000.0 * 0.2)""".stripMargin)((s, dir) => {
      // importance sampling: inclusion probability proportional to doc
      // length (n_chars/2000 × 0.2, capped at 1) — upsample long docs in
      // a mixture; the same engine-portable md5 decision as p_sample, so
      // the oracle replicates the exact keep-set, not just its size
      Sampling.sampleWeighted(Tables(s, dir).documents, col("doc_id"),
          col("n_chars").cast("double") / 2000.0 * 0.2)
        .select(col("doc_id"), col("n_chars"))
    }),
    Query("p_mixture_sqrt",
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, count(*) OVER (PARTITION BY source) AS n_s
        |  FROM documents
        |) WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |        / 281474976710656.0 < least(1.0, 3.0 / sqrt(CAST(n_s AS DOUBLE)))""".stripMargin)((s, dir) => {
      // corpus mixture rebalancing: α=1/2 temperature sampling — each
      // source's expected contribution is c·sqrt(n_s), so dominant
      // sources are down-weighted and any source with ≤ c² docs is kept
      // whole. sqrt (not pow) keeps the md5 keep-set engine-exact.
      Sampling.sampleSqrtSmoothed(Tables(s, dir).documents, col("doc_id"), col("source"), 3.0)
        .select(col("doc_id"), col("source"))
    }),
    Query("p_token_budget",
      s"""WITH d AS (
         |  SELECT source, doc_id, len($tokensExpr) AS tok,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents
         |), c AS (
         |  SELECT source, doc_id,
         |    CAST(coalesce(sum(tok) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM d
         |)
         |SELECT source, doc_id FROM c WHERE cum < 800""".stripMargin)((s, dir) => {
      // corpus mixing: each source contributes docs in md5 order until
      // its 800-token quota is spent (boundary doc included iff its
      // first token fits — packByBudget's block boundary rule)
      Sampling.capTokensPerKey(
          Tables(s, dir).documents, col("source"), col("doc_id"),
          TextOps.tokenCount(col("text")), budgetTokens = 800L)
        .select(col("source"), col("doc_id"))
    }),
    Query("p_pack",
      s"""WITH d AS (
         |  SELECT doc_id, len($tokensExpr) AS tok,
         |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, h % 8 AS shard,
         |    CAST(coalesce(sum(tok) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM d
         |)
         |SELECT doc_id, shard, CAST(cum // 512 AS BIGINT) AS pack_id,
         |  CAST(cum % 512 AS BIGINT) AS offset_tokens
         |FROM c""".stripMargin)((s, dir) => {
      // deterministic 512-token block packing over 8 shards: concatenate
      // each shard's docs in md5-hash order, assign each doc to the pack
      // its first token lands in (block-packed-dataset semantics)
      val d = Tables(s, dir).documents
      Chunking.packByBudget(
        d, col("doc_id"), TextOps.tokenCount(col("text")), 512L, nShards = 8)
    }),
    Query("p_pack_greedy",
      s"""WITH RECURSIVE d AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(len($tokensExpr) AS BIGINT) AS tok,
         |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
         |  FROM documents
         |), o AS (
         |  SELECT doc_id, tok, h % 8 AS shard,
         |    row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rn
         |  FROM d
         |), r AS (
         |  SELECT shard, rn, doc_id, tok,
         |    CAST(0 AS BIGINT) AS pack_id, CAST(0 AS BIGINT) AS offset_tokens, tok AS fill
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.shard, o.rn, o.doc_id, o.tok,
         |    CASE WHEN r.fill > 0 AND r.fill + o.tok > 512 THEN r.pack_id + 1 ELSE r.pack_id END,
         |    CASE WHEN r.fill > 0 AND r.fill + o.tok > 512 THEN CAST(0 AS BIGINT) ELSE r.fill END,
         |    CASE WHEN r.fill > 0 AND r.fill + o.tok > 512 THEN o.tok ELSE r.fill + o.tok END
         |  FROM r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1
         |)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, shard, pack_id, offset_tokens FROM r""".stripMargin)((s, dir) => {
      // atomic-doc first-fit packing (SFT posture: docs never straddle a
      // pack): per-shard sequential fold via flatMapSortedGroups; the
      // oracle replays the fold as a DuckDB recursive CTE
      val d = Tables(s, dir).documents
      Chunking.packGreedy(
          d, col("doc_id"), TextOps.tokenCount(col("text")), 512L, nShards = 8)
        .select(
          col("doc_id").cast("long").as("doc_id"),
          col("shard"), col("pack_id"), col("offset_tokens"))
    }),
    Query("p_shuffle",
      """WITH s AS (
        |  SELECT doc_id, md5(concat('0-', CAST(doc_id AS VARCHAR))) AS h
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, h,
        |    CAST(concat('0x', substring(h, 1, 12)) AS BIGINT) % 8 AS shard
        |  FROM s
        |)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY shard ORDER BY h, CAST(doc_id AS VARCHAR)) AS BIGINT) AS pos
        |FROM sh""".stripMargin)((s, dir) => {
      // deterministic epoch ordering: md5-keyed sharded permutation —
      // (shard, pos) is the reproducible global training order; one hash
      // exchange + per-shard rank, never a global sort
      Sampling
        .shardedShuffle(Tables(s, dir).documents, col("doc_id"), nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
    }),
    Query("p_zorder_layout",
      """WITH b AS (
        |  SELECT event_id, user_id % 1024 AS ux,
        |    (epoch_us(ts) // 3600000000) % 1024 AS uy
        |  FROM events
        |)
        |SELECT event_id, ux, uy,
        |  CAST((SELECT sum((((ux >> i) & 1) << (2*i)) + (((uy >> i) & 1) << (2*i+1)))
        |        FROM range(10) t(i)) AS BIGINT) AS z
        |FROM b""".stripMargin)((s, dir) => {
      // multi-dimensional clustering key for data-skipping writes: Morton
      // interleave of (user bucket, hour bucket) — sorting by z bounds
      // every file's range in BOTH dims, so min/max stats prune filters
      // on either (Sinks.zorderedParquet is the write path; the native
      // codegen'd ZOrder2 kernel is what the oracle replays bit-for-bit)
      Tables(s, dir).events.select(
        col("event_id"),
        pmod(col("user_id"), lit(1024L)).as("ux"),
        pmod(expr("unix_micros(ts) div 3600000000"), lit(1024L)).as("uy"),
        org.apache.spark.sql.graft.ZOrderFunctions.zorder2(
          pmod(col("user_id"), lit(1024L)),
          pmod(expr("unix_micros(ts) div 3600000000"), lit(1024L))).as("z"))
    }),
    Query("p_ingest_stream", ingestStreamSql)((s, dir) => {
      // the batch flagship's ADMISSION-TIME twin: quality gate → exact
      // dedup (deterministic first-per-fingerprint) → accumulating
      // MinHash-LSH index, as ONE streaming query with two chained keyed
      // state machines (fingerprint grouping, then band-bucket grouping).
      // The streamed hit rows label the near-dups; the batch side below
      // only ASSEMBLES verdict labels from stateless exprs + the hit set
      // — every stateful decision happened in-stream. Oracle replays the
      // whole chain (gates, min-per-fp keeper, signatures, banding,
      // agreement ≥ 39/64).
      withRocksDb(s) {
        val docs = Tables(s, dir).documents
        val hits = Replay.docEvents(
          docs.select(
            lit("").as("key"),
            timestamp_seconds(col("doc_id")).as("ts"),
            col("doc_id").cast("string").as("id"),
            col("text"))) { stream =>
          graft.streaming.StreamingDedup.ingestGate(stream.toDF()).toDF()
        }
        TrainingPipeline.ingestVerdicts(docs, hits)
      }
    }),
    Query("p_ingest_decon_stream", ingestDeconStreamSql)((s, dir) => {
      // p_daily_admission's STREAMING posture: the admission gate's two
      // chained state machines PLUS a stateless stream-static broadcast
      // screen against the frozen eval benchmark, in ONE streaming query
      // (the decon branch unions into the gate's hit stream with
      // band = -1; the benchmark is tiny by definition, so its band
      // table broadcasts and every executor screens its own arrivals).
      // doc_id % 3 = 1 docs arrive in id order; % 3 = 2 is the static
      // benchmark. Oracle replays gates, the min-per-fp keeper,
      // signatures, banding, and BOTH integer agreement verifies.
      withRocksDb(s) {
        val docs = Tables(s, dir).documents
        val arrivals = docs.filter(col("doc_id") % 3 === 1)
        val evalBands = graft.streaming.StreamingDedup.evalBandTable(
          docs.filter(col("doc_id") % 3 === 2), col("doc_id"), col("text"))
        val out = Replay.docEvents(
          arrivals.select(
            lit("").as("key"),
            timestamp_seconds(col("doc_id")).as("ts"),
            col("doc_id").cast("string").as("id"),
            col("text"))) { stream =>
          val df = stream.toDF()
          val gate = graft.streaming.StreamingDedup.ingestGate(df).toDF()
            .select(col("band"), col("a"), col("b"), col("n_agree"))
          val dec = graft.streaming.StreamingDedup.deconHits(df, evalBands)
            .select(lit(-1).as("band"),
              concat(lit("eval:"), col("eval_id")).as("a"),
              col("b"), col("n_agree"))
          gate.unionByName(dec)
        }
        TrainingPipeline.ingestVerdictsDecon(
          arrivals, out.filter(col("band") >= 0), out.filter(col("band") === -1))
      }
    }),
    Query("p_corpus_e2e",
      s"""WITH base AS (
         |  SELECT doc_id, source, text, $fpExpr AS fp, $tokensExpr AS w FROM documents
         |), dedup AS (
         |  SELECT doc_id, source, text, w FROM (
         |    SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM base
         |  ) WHERE doc_id = keep_id
         |), q AS (
         |  SELECT doc_id, source, w FROM dedup
         |  WHERE len(w) >= 5 AND $stopCntExpr >= 2
         |), sp AS (
         |  SELECT doc_id, source, w,
         |    CASE WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
         |      / 281474976710656.0 < 0.9 THEN 'train' ELSE 'eval' END AS split
         |  FROM q
         |), g AS (SELECT doc_id, split, $shinglesExpr AS sh FROM sp),
         |leak AS (
         |  SELECT DISTINCT a.doc_id FROM g a JOIN g b ON a.split = 'train' AND b.split = 'eval'
         |  WHERE len(list_intersect(a.sh, b.sh)) > 0
         |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)) >= 0.5
         |), tr AS (
         |  SELECT doc_id, source FROM sp WHERE split = 'train'
         |    AND doc_id NOT IN (SELECT doc_id FROM leak)
         |), mix AS (
         |  SELECT doc_id, source FROM (
         |    SELECT doc_id, source, count(*) OVER (PARTITION BY source) AS n_s FROM tr
         |  ) WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
         |        / 281474976710656.0 < least(1.0, 3.0 / sqrt(CAST(n_s AS DOUBLE)))
         |), sh AS (
         |  SELECT doc_id, source, md5(concat('0-', CAST(doc_id AS VARCHAR))) AS h FROM mix
         |)
         |SELECT doc_id, source,
         |  CAST(concat('0x', substring(h, 1, 12)) AS BIGINT) % 8 AS shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY CAST(concat('0x', substring(h, 1, 12)) AS BIGINT) % 8
         |    ORDER BY h, CAST(doc_id AS VARCHAR)) AS BIGINT) AS pos
         |FROM sh""".stripMargin)((s, dir) => {
      // the flagship composition: raw documents → exact dedup → quality +
      // language gate → 90/10 split → eval-leakage decontamination →
      // sqrt-mixture → 8-shard epoch shuffle, ONE dataflow whose full
      // chain the oracle replays; (shard, pos) is the training order
      TrainingPipeline
        .buildCorpus(Tables(s, dir).documents, col("doc_id"), col("text"), col("source"))
        .select(col("doc_id"), col("source"), col("shard"), col("pos"))
    }),
    Query("p_split_leakage",
      s"""WITH s0 AS (
         |  SELECT doc_id, text,
         |    CASE WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
         |      / 281474976710656.0 < 0.9 THEN 'train' ELSE 'eval' END AS split
         |  FROM documents
         |), d AS (SELECT doc_id, split, $tokensExpr AS w FROM s0),
         |g AS (SELECT doc_id, split, $shinglesExpr AS sh FROM d)
         |SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(list_distinct(a.sh || b.sh)) AS jaccard
         |FROM g a JOIN g b ON a.split = 'train' AND b.split = 'eval'
         |WHERE len(list_intersect(a.sh, b.sh)) > 0
         |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / len(list_distinct(a.sh || b.sh)) >= 0.5""".stripMargin)((s, dir) => {
      // split-boundary decontamination audit: the deterministic 90/10
      // hash split followed by cross-split near-dup detection — the
      // composition that catches train→eval leakage BEFORE a corpus
      // ships (5 leaked pairs exist in the sf0.01 testdata)
      val withSplit = Sampling.split(
        Tables(s, dir).documents, col("doc_id"), Seq("train" -> 0.9, "eval" -> 0.1))
      Dedup.crossCorpusNearDups(
        withSplit.filter(col("split") === "train"),
        withSplit.filter(col("split") === "eval"),
        col("doc_id"), col("text"), 3, 0.5)
    }),
    Query("p_split_group",
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |), g AS (
         |  SELECT doc_id, $shinglesExpr AS sh FROM d
         |), p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) > 0
         |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)) >= 0.5
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p
         |), lab(id, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, lab.l FROM lab JOIN edges e ON lab.id = e.src
         |), clusters AS (
         |  SELECT id, min(l) AS cluster_id FROM lab GROUP BY id
         |)
         |SELECT doc.doc_id,
         |  CASE WHEN CAST(concat('0x', substring(
         |         md5(CAST(coalesce(c.cluster_id, doc.doc_id) AS VARCHAR)), 1, 12))
         |         AS BIGINT) / 281474976710656.0 < 0.9
         |       THEN 'train' ELSE 'eval' END AS split
         |FROM documents doc LEFT JOIN clusters c ON doc.doc_id = c.id""".stripMargin)((s, dir) => {
      // leakage-safe 90/10 split: the split unit is the near-dup
      // CLUSTER (connected components over the lossless pair list), so
      // near-duplicates can never straddle the boundary — the
      // constructive fix for exactly what p_split_leakage audits (the
      // per-doc split leaks 5 pairs in this corpus; this one leaks zero
      // by construction, asserted in PipelineSpec). Docs with no
      // near-dup form singleton groups keyed by their own id.
      val docs = Tables(s, dir).documents
      Sampling.splitByGroup(
          docs,
          col("doc_id"),
          Dedup.connectedComponents(
            Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5)),
          "id", "cluster_id",
          Seq("train" -> 0.9, "eval" -> 0.1))
        .select(col("doc_id"), col("split"))
    }),
    Query("p_blocklist",
      s"""WITH toks AS (SELECT doc_id, unnest($tokensExpr) AS w FROM documents)
         |SELECT doc_id, count(*) AS n_hits,
         |  array_to_string(list_sort(list_distinct(list(w))), '|') AS hit_terms
         |FROM toks WHERE w IN ('slow', 'big', 'stream')
         |GROUP BY doc_id""".stripMargin)((s, dir) => {
      // safety/compliance audit: ANY-term blocklist hits with the
      // per-doc term trail; token stream prunes to the blocklist first
      TextOps.blocklistAudit(
        Tables(s, dir).documents, col("doc_id"), col("text"),
        Seq("slow", "big", "stream"))
    }),
    Query("p_range_bounds",
      """WITH s AS (
        |  SELECT n_chars AS v FROM documents
        |  WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |      AS BIGINT) / 281474976710656.0 < 0.5
        |), r AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |    count(*) OVER () AS cnt
        |  FROM s
        |), p AS (
        |  SELECT CAST(unnest([0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875])
        |    AS DOUBLE) AS p
        |)
        |SELECT p, v AS value
        |FROM r JOIN p ON rn = greatest(1, CAST(ceil(p * cnt) AS BIGINT))""".stripMargin)((s, dir) => {
      // range-partition boundary plan: 8-way split points for n_chars
      // from the deterministic md5 half-sample
      Stats.rangeBounds(
        Tables(s, dir).documents, col("doc_id"), col("n_chars"), k = 8, sampleFrac = 0.5)
    }),
    Query("p_mixture_alloc",
      """WITH avail AS (
        |  SELECT source AS key, CAST(sum(n_chars) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY 1
        |), t(tk, w) AS (VALUES ('src0', 300000), ('src1', 400000),
        |                       ('src2', 200000), ('src3', 100000)),
        |p AS (
        |  SELECT key, avail_tokens,
        |    CAST(coalesce(w, 0) AS BIGINT) * 20000 // 1000000 AS target_tokens
        |  FROM avail LEFT JOIN t ON key = tk
        |)
        |SELECT key, avail_tokens, target_tokens,
        |  CAST(least(target_tokens, avail_tokens) AS BIGINT) AS alloc_tokens,
        |  CAST(CAST(least(target_tokens, avail_tokens) AS BIGINT) * 1000000
        |    // avail_tokens AS BIGINT) AS keep_frac_micro
        |FROM p""".stripMargin)((s, dir) => {
      // corpus-mixing plan: 30/40/20/10% of a 20k-token budget across
      // four named sources, capped at availability, exact integer keep
      // fractions for the downstream Bernoulli sampler
      Sampling.mixtureAllocation(
        Tables(s, dir).documents, col("source"), col("n_chars"),
        targetsMicro = Seq(
          "src0" -> 300000L, "src1" -> 400000L, "src2" -> 200000L, "src3" -> 100000L),
        budget = 20000L)
    }),
    Query("p_manifest",
      """SELECT source AS "group", count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS total_weight,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_md5
        |FROM documents GROUP BY 1""".stripMargin)((s, dir) => {
      // per-source integrity manifest: row count, char total, and the
      // md5 of the sorted doc-id list — set-identity for corpus builds
      // (two builds made the same corpus iff the digests match)
      Sampling.groupManifest(
        Tables(s, dir).documents, col("source"), col("doc_id"), col("n_chars"))
    }),
    Query("p_kfold",
      """SELECT CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |    AS BIGINT) % 5 AS fold,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM documents GROUP BY 1""".stripMargin)((s, dir) => {
      // deterministic 5-fold CV assignment + per-fold size audit: the
      // md5-mod fold is reproducible on any engine, so training jobs and
      // eval harnesses agree on membership with no assignment table
      Sampling.kfold(Tables(s, dir).documents, col("doc_id"), k = 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    }),
    Query("p_negatives",
      """WITH r AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS r
        |  FROM documents
        |), t AS (SELECT count(*) AS n FROM documents),
        |p AS (
        |  SELECT doc_id, r, n, j,
        |    (r + 1 + (CAST(concat('0x', substring(md5(
        |        concat(CAST(doc_id AS VARCHAR), '_', CAST(j AS VARCHAR))), 1, 12))
        |      AS BIGINT) % (n - 1))) % n AS nr
        |  FROM r, t, (SELECT unnest([1, 2, 3]) AS j)
        |)
        |SELECT p.doc_id, CAST(p.j AS BIGINT) AS j, r2.doc_id AS neg_id
        |FROM p JOIN r r2 ON p.nr = r2.r""".stripMargin)((s, dir) => {
      // contrastive negative sampling: 3 deterministic hash-ring
      // negatives per doc, guaranteed != anchor; md5 ring so the draw
      // replays on any engine
      Sampling.negativeSamples(Tables(s, dir).documents, col("doc_id"), k = 3)
    }),
    Query("p_dsir",
      s"""WITH tf AS (
         |  SELECT doc_id, t, w, count(*) AS tf FROM (
         |    SELECT doc_id, (lang = 'en') AS t,
         |      unnest($tokensExpr) AS w FROM documents)
         |  GROUP BY 1, 2, 3
         |), vocab AS (
         |  SELECT w, CAST(sum(tf) AS BIGINT) AS c_r,
         |    CAST(sum(CASE WHEN t THEN tf ELSE 0 END) AS BIGINT) AS c_t
         |  FROM tf GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
         |    CAST(sum(c_t) AS BIGINT) AS n_t, count(*) AS v
         |  FROM vocab
         |)
         |SELECT doc_id,
         |  CAST(sum(tf * (
         |    CAST(floor(ln(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + v AS DOUBLE))
        |       * 1000000) AS BIGINT)
         |    - CAST(floor(ln(CAST(c_r + 1 AS DOUBLE) / CAST(n_r + v AS DOUBLE))
        |       * 1000000) AS BIGINT)
         |  )) AS BIGINT) AS llr_1e6,
         |  CAST(sum(tf) AS BIGINT) AS n_tokens
         |FROM tf JOIN vocab USING (w) CROSS JOIN tot
         |GROUP BY doc_id""".stripMargin)((s, dir) => {
      // DSIR importance weights: log-likelihood ratio of an en-target
      // unigram LM vs the raw-corpus LM, integer-floored per-word terms
      // (one corpus scan; both models from the same tf aggregate)
      TextOps.dsirWeights(
        Tables(s, dir).documents, col("doc_id"), col("text"), col("lang") === "en")
    }),
    Query("p_dsir_resample",
      s"""WITH tf AS (
         |  SELECT doc_id, t, w, count(*) AS tf FROM (
         |    SELECT doc_id, (lang = 'en') AS t,
         |      unnest($tokensExpr) AS w FROM documents)
         |  GROUP BY 1, 2, 3
         |), vocab AS (
         |  SELECT w, CAST(sum(tf) AS BIGINT) AS c_r,
         |    CAST(sum(CASE WHEN t THEN tf ELSE 0 END) AS BIGINT) AS c_t
         |  FROM tf GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
         |    CAST(sum(c_t) AS BIGINT) AS n_t, count(*) AS v
         |  FROM vocab
         |), wts AS (
         |  SELECT doc_id,
         |    CAST(sum(tf * (
         |      CAST(floor(ln(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + v AS DOUBLE))
         |         * 1000000) AS BIGINT)
         |      - CAST(floor(ln(CAST(c_r + 1 AS DOUBLE) / CAST(n_r + v AS DOUBLE))
         |         * 1000000) AS BIGINT)
         |    )) AS BIGINT) AS llr_1e6,
         |    CAST(sum(tf) AS BIGINT) AS n_tokens
         |  FROM tf JOIN vocab USING (w) CROSS JOIN tot
         |  GROUP BY doc_id
         |), ws AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(floor(exp(CAST(llr_1e6 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |        / 1000000.0) * 1000000.0) AS BIGINT) AS w_1e6
         |  FROM wts
         |), norm AS (
         |  SELECT CAST(sum(w_1e6) AS BIGINT) AS w_sum, count(*) AS n_docs FROM ws
         |)
         |SELECT doc_id, w_1e6, n_tokens
         |FROM ws CROSS JOIN norm
         |WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
         |      / 281474976710656.0
         |      < least(1.0, 0.25 * CAST(w_1e6 * n_docs AS DOUBLE) / CAST(w_sum AS DOUBLE))""".stripMargin)((s, dir) => {
      // DSIR composed end-to-end (round 12): the weights feed the actual
      // resampling draw — exp(mean per-token llr) floored to an integer
      // 1e-6 grid, normalized by the corpus mean weight (exact integer
      // sum + 1-row broadcast), min(1, 0.25·w/mean) inclusion
      // probability, then the same md5 Bernoulli decision as p_sample —
      // so the kept set replays exactly in SQL
      TextOps.dsirResample(
        Tables(s, dir).documents, col("doc_id"), col("text"), col("lang") === "en",
        keepFraction = 0.25)
    }),
  )
}
