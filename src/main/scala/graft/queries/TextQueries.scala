package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops._
import graft.streaming.{Replay, StateMachines}
import graft.queries.Fragments.{fpExpr, keyedEventsFrame, shinglesExpr, stopCntExpr, tokensExpr}

/** `t_*`: text analysis (tokenization, normalization, quality
  * signals, language models, BPE).
  */
object TextQueries {

  /** t_pii's planted PII, built byte-identically by both engines (the
    * corpus text itself is digit-free word soup, so every match below is
    * the planted one). Spark column + DuckDB expression must stay in
    * lockstep.
    */
  private def piiSaltedText: Column =
    concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com ip 10.0."),
      pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 call 415-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" ssn "), lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-45-6789"))

  private val piiSaltSql =
    "text || ' contact user' || doc_id || '@example.com ip 10.0.' || " +
      "(doc_id % 256) || '.7 call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-45-6789'"

  /** DuckDB replica of [[graft.ops.TextOps.piiSignals]]: the same
    * sequential count-then-replace chain, generated from the same
    * [[graft.ops.TextOps.PiiPatterns]] list.
    */
  private val piiSql: String = {
    val pats = graft.ops.TextOps.PiiPatterns
    val ctes = ("WITH s0 AS (SELECT doc_id, " + piiSaltSql + " AS t0 FROM documents)") +:
      pats.zipWithIndex.map { case ((name, pat), i) =>
        s"s${i + 1} AS (SELECT *, regexp_replace(t$i, '$pat', '[${name.toUpperCase}]', 'g') AS t${i + 1} FROM s$i)"
      }
    val counts = pats.zipWithIndex
      .map { case ((name, pat), i) => s"len(regexp_extract_all(t$i, '$pat')) AS n_$name" }
    val selectCols = "doc_id" +: counts :+ s"md5(t${pats.size}) AS redacted_md5"
    ctes.mkString(",\n") + "\nSELECT " + selectCols.mkString(",\n  ") + s"\nFROM s${pats.size}"
  }

  // ---- round-10: BPE bounded-unroll oracles ---------------------------
  // The merge loop is genuinely iterative, but the declared queries fix
  // the merge count (k=24 train / k=16 encode), so the whole Sennrich
  // loop unrolls into k chained CTE rounds (the s_mmr greedy-unroll
  // precedent): pair-count -> argmax (cnt DESC, left, right — the
  // trainDriver tie-break) -> greedy left-to-right merge application as
  // a list_reduce fold (bit-equal to Bpe.applyMerge's aggregate fold;
  // the LEFT JOIN ON TRUE keeps rounds after an early stop as identity
  // passes, matching the Scala loop's break). CTEs are MATERIALIZED:
  // each round references its predecessor twice, and DuckDB's default
  // inlining would make the chain exponential.

  private def bpeRoundSql(i: Int): String = {
    val n = i + 1
    s"""p$i AS MATERIALIZED (
  SELECT p.l AS l, p.r AS r, sum(freq) AS cnt FROM (
    SELECT unnest([{'l': syms[j], 'r': syms[j+1]} for j in range(1, len(syms))]) AS p, freq
    FROM w$i) GROUP BY 1, 2 HAVING sum(freq) >= 2
), b$i AS MATERIALIZED (SELECT l, r FROM p$i ORDER BY cnt DESC, l, r LIMIT 1
), w$n AS MATERIALIZED (
  SELECT word, freq,
    list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
      CASE WHEN len(acc) > 0 AND acc[-1] = b.l AND x[1] = b.r
        THEN list_slice(acc, 1, len(acc) - 1) || [acc[-1] || x[1]]
        ELSE acc || x END) AS syms
  FROM w$i LEFT JOIN b$i b ON TRUE
)"""
  }

  private val bpeBaseSql: String =
    """WITH wf AS MATERIALIZED (
  SELECT w AS word, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w FROM documents)
  WHERE w <> '' GROUP BY 1
), w0 AS MATERIALIZED (
  SELECT word, freq,
    list_append(list_filter(string_split(word, ''), s -> s <> ''), '</w>') AS syms
  FROM wf
)"""

  private lazy val bpeTrainSql: String = {
    val rounds = (0 until 24).map(bpeRoundSql).mkString(",\n")
    val sel = (0 until 24)
      .map(i => s"""SELECT $i AS rank, l AS "left", r AS "right", l || r AS merged FROM b$i""")
      .mkString("\nUNION ALL ")
    s"$bpeBaseSql,\n$rounds\n$sel"
  }

  private lazy val bpeEncodeSql: String = {
    val rounds = (0 until 16).map(bpeRoundSql).mkString(",\n")
    s"""$bpeBaseSql,
$rounds,
enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n FROM w16),
tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
  FROM documents)
SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens
FROM tok JOIN enc USING (word) WHERE word <> '' GROUP BY doc_id"""
  }

  private val lenQuantilesSql =
    s"""WITH d AS (
       |  SELECT CASE WHEN $stopCntExpr >= 2 THEN 'en' ELSE 'und' END AS lang_pred,
       |    len($tokensExpr) AS n
       |  FROM documents
       |), r AS (
       |  SELECT lang_pred, n,
       |    row_number() OVER (PARTITION BY lang_pred ORDER BY n) AS rn,
       |    count(*) OVER (PARTITION BY lang_pred) AS cnt
       |  FROM d
       |), p AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS p)
       |SELECT lang_pred, p, CAST(n AS BIGINT) AS n_tokens
       |FROM r JOIN p ON rn = greatest(1, CAST(ceil(p * cnt) AS BIGINT))""".stripMargin

  val all: Seq[Query] = Seq(
    // ---- text analysis ----
    Query("t_tokens",
      s"SELECT doc_id, len($tokensExpr) AS n_tokens FROM documents")((s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    }),
    Query("t_tokens_bpe",
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe
        |FROM documents""".stripMargin)((s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"), TextOps.bpeishTokenCount(col("text")).cast("long").as("n_bpe"))
    }),
    Query("t_cms_counts",
      s"""WITH tk AS (
         |  SELECT w FROM (SELECT unnest($tokensExpr) AS w FROM documents)
         |  WHERE w <> ''
         |), grid AS (
         |  SELECT i,
         |    CAST(concat('0x', substring(md5(concat('42:', CAST(i AS VARCHAR),
         |      '|', w)), 1, 12)) AS BIGINT) % 2719 AS b,
         |    count(*) AS cnt
         |  FROM tk, range(5) r(i) GROUP BY 1, 2
         |), probes AS (
         |  SELECT DISTINCT w FROM (
         |    SELECT unnest($tokensExpr) AS w
         |    FROM (SELECT text FROM documents ORDER BY doc_id LIMIT 10)
         |  ) WHERE w <> ''
         |), pb AS (
         |  SELECT p.w, r.i,
         |    CAST(concat('0x', substring(md5(concat('42:', CAST(r.i AS VARCHAR),
         |      '|', p.w)), 1, 12)) AS BIGINT) % 2719 AS b
         |  FROM probes p, range(5) r(i)
         |)
         |SELECT pb.w, CAST(min(coalesce(grid.cnt, 0)) AS BIGINT) AS est
         |FROM pb LEFT JOIN grid ON grid.i = pb.i AND grid.b = pb.b
         |GROUP BY 1""".stripMargin)((s, dir) => {
      // Count-Min point-frequency estimates, completing the sketch
      // family (HLL distinct / Bloom membership / Misra-Gries heavy
      // hitters): one map-side-combined pass builds the mergeable d×w
      // grid as a DataFrame, probes join it at their d buckets — the
      // corpus is never rescanned per query. Probe set = distinct tokens
      // of the 10 lowest-id docs (bounded, deterministic).
      // ORACLE-CHECKED since round 9: the md5-bucket hash replays in SQL
      // so the grid and every estimate are exactly pinned;
      // ApproxGatesSpec still asserts the one-sided Cormode-Muthukrishnan
      // bound on every probe.
      val docs = Tables(s, dir).documents
      val probes = Sketches.probeTokens(docs, col("doc_id"), col("text"), 10)
      Sketches.cmsTokenEstimates(docs, col("text"), probes)
    }),
    Query("t_bpe_train", bpeTrainSql)((s, dir) => {
      // REAL BPE tokenizer training (Sennrich merges), distributed: one
      // corpus-grain shuffle builds the (word, freq) table, then each of
      // the 24 merge rounds costs O(vocab) — at 100 TB the loop never
      // re-reads the corpus. ORACLE-CHECKED since round 10: the fixed
      // merge count unrolls the whole Sennrich loop into 24 chained SQL
      // rounds (bpeTrainSql), so the merge table is hash-checked;
      // BpeSpec still pins merge-by-merge equality with a sequential
      // reference implementation.
      Bpe.trainTable(Tables(s, dir).documents, col("text"), nMerges = 24)
    }),
    Query("t_bpe_encode", bpeEncodeSql)((s, dir) => {
      // token counts under the trained merges: k fold passes over the
      // DISTINCT-WORD table, then one equi-join back to doc grain —
      // corpus is touched twice total (word-freq + final join), never
      // per merge. ORACLE-CHECKED since round 10 (bpeEncodeSql unrolls
      // train(16) + encode end-to-end); BpeSpec still gates exact
      // equality with per-word sequential encoding.
      val docs = Tables(s, dir).documents
      val merges = Bpe.train(docs, col("text"), nMerges = 16)
      Bpe.encodeTokenCounts(docs, col("doc_id"), col("text"), merges)
        .select(col("id").as("doc_id"), col("n_tokens"))
    }),
    Query("t_quality",
      s"""SELECT doc_id,
         |  len($tokensExpr) AS n_tokens,
         |  length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_alpha_chars,
         |  CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
         |    / len($tokensExpr) AS avg_token_len,
         |  CAST($stopCntExpr AS DOUBLE) / len($tokensExpr) AS stopword_ratio,
         |  CAST(length(regexp_replace(trim(text), '[A-Za-z0-9\\s]+', '', 'g')) AS DOUBLE)
         |    / length(regexp_replace(trim(text), '\\s+', '', 'g')) AS punct_ratio
         |FROM documents""".stripMargin)((s, dir) => {
      TextOps
        .qualitySignals(Tables(s, dir).documents, col("text"))
        .select(
          col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_alpha_chars").cast("long").as("n_alpha_chars"),
          col("avg_token_len"),
          col("stopword_ratio"),
          col("punct_ratio"))
    }),
    Query("t_nb_classify",
      s"""WITH base AS (SELECT doc_id, source AS lab, text FROM documents),
         |tok AS (SELECT doc_id, lab, unnest($tokensExpr) AS t FROM base),
         |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
         |ltc AS (SELECT lab, t, count(*) AS c FROM tok GROUP BY 1, 2),
         |nl AS (SELECT lab, CAST(sum(c) AS BIGINT) AS n_l FROM ltc GROUP BY 1),
         |vocab AS (SELECT DISTINCT t FROM ltc),
         |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
         |dl AS (SELECT lab, count(*) AS d_l FROM base GROUP BY 1),
         |dt AS (SELECT count(*) AS d FROM base),
         |terms AS (
         |  SELECT nl.lab, vocab.t,
         |    CAST(floor(ln(CAST(COALESCE(ltc.c, 0) + 1 AS DOUBLE)
         |      / CAST(nl.n_l + v.v AS DOUBLE)) * 1000000) AS BIGINT) AS term_micro
         |  FROM vocab CROSS JOIN nl CROSS JOIN v
         |  LEFT JOIN ltc ON ltc.lab = nl.lab AND ltc.t = vocab.t
         |),
         |priors AS (
         |  SELECT lab, CAST(floor(ln(CAST(d_l AS DOUBLE) / CAST(d AS DOUBLE))
         |    * 1000000) AS BIGINT) AS prior_micro
         |  FROM dl CROSS JOIN dt
         |),
         |scores AS (
         |  SELECT tf.doc_id, tr.lab,
         |    CAST(sum(tf.tf * tr.term_micro) AS BIGINT) AS s
         |  FROM tf JOIN terms tr ON tf.t = tr.t GROUP BY 1, 2
         |),
         |sc AS (
         |  SELECT s.doc_id, s.lab, s.s + p.prior_micro AS score
         |  FROM scores s JOIN priors p USING (lab)
         |)
         |SELECT doc_id, lab AS pred_label, score AS best_score_micro FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, lab ASC) AS rk FROM sc
         |) WHERE rk = 1""".stripMargin)((s, dir) => {
      // corpus-trained multinomial Naive Bayes (add-1), source as label —
      // the model-based filter shape (fastText/DCLM); integer-floored log
      // terms make scores exact longs on any engine
      TextOps.naiveBayesClassify(
        Tables(s, dir).documents, col("doc_id"), col("text"), col("source"))
    }),
    Query("t_winsorize",
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents
        |), b AS (
        |  SELECT lang,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * cnt) AS BIGINT))
        |        THEN n_chars END) AS lo,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * cnt) AS BIGINT))
        |        THEN n_chars END) AS hi
        |  FROM r GROUP BY lang
        |)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  least(greatest(d.n_chars, b.lo), b.hi) AS value_w
        |FROM documents d JOIN b ON d.lang = b.lang""".stripMargin)((s, dir) => {
      // per-language winsorization: clamp n_chars into the [p05, p95]
      // type-1 band — every row survives with a tamed value; value_w is
      // a pure selection (no arithmetic), engine-exact
      Stats.winsorizeByKey(
          Tables(s, dir).documents, col("lang"), col("n_chars"), 0.05, 0.95)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("value_w"))
    }),
    Query("t_entropy",
      """WITH ch AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS c
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2
        |), d AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
        |    CAST(count(*) AS BIGINT) AS n_char_types,
        |    CAST(sum(cnt * CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000)
        |      AS BIGINT)) AS BIGINT) AS s
        |  FROM g GROUP BY 1
        |)
        |SELECT doc_id, n_chars, n_char_types,
        |  CAST(CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1000000) AS BIGINT)
        |    AS DOUBLE) - CAST(s AS DOUBLE) / n_chars AS ent_micro
        |FROM d""".stripMargin)((s, dir) => {
      // char-unigram Shannon entropy per doc (micro-nats): the
      // compression-style quality signal, integer-floored ln terms so the
      // record is engine-exact
      TextOps.charEntropySignals(Tables(s, dir).documents, col("doc_id"), col("text"))
    }),
    Query("t_normalize",
      """WITH s AS (
        |  SELECT doc_id,
        |    text || ' caf' || 'e' || chr(769) || ' No'
        |      || CAST(doc_id % 7 AS VARCHAR) AS salted
        |  FROM documents
        |)
        |SELECT doc_id, md5(nfc_normalize(salted)) AS norm_md5,
        |  CAST(length(salted) AS BIGINT) AS n_raw,
        |  CAST(length(nfc_normalize(salted)) AS BIGINT) AS n_nfc
        |FROM s""".stripMargin)((s, dir) => {
      // NFC canonical composition via the native codegen'd expression —
      // run BEFORE fingerprint/dedup so 'é' and 'e'+U+0301 collapse; the
      // salt plants a combining sequence on every doc so the op does real
      // work (corpus text is ASCII), md5 pins the normalized bytes
      val salted = concat(
        col("text"), lit(" caf"), lit("e\u0301"), lit(" No"),
        pmod(col("doc_id"), lit(7)).cast("string"))
      val norm = org.apache.spark.sql.graft.TextFunctions.nfcNormalize(salted)
      Tables(s, dir).documents.select(
        col("doc_id"),
        md5(norm).as("norm_md5"),
        length(salted).cast("long").as("n_raw"),
        length(norm).cast("long").as("n_nfc"))
    }),
    Query("t_langid",
      s"""SELECT doc_id,
         |  CASE WHEN $stopCntExpr >= 2 THEN 'en' ELSE 'und' END AS lang_pred
         |FROM documents""".stripMargin)((s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
    }),
    Query("t_langid_model",
      """WITH d AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
        |tri AS (
        |  SELECT doc_id, lang, substr(t, CAST(i AS INT), 3) AS g
        |  FROM d, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
        |),
        |prof AS (
        |  SELECT lang AS p_lang, g FROM (
        |    SELECT lang, g,
        |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) AS rn
        |    FROM tri GROUP BY lang, g
        |  ) WHERE rn <= 50
        |),
        |docg AS (SELECT DISTINCT doc_id, g FROM tri),
        |votes AS (
        |  SELECT docg.doc_id, prof.p_lang, count(*) AS v
        |  FROM docg JOIN prof ON docg.g = prof.g
        |  GROUP BY 1, 2
        |),
        |pred AS (
        |  SELECT doc_id, p_lang, v,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY v DESC, p_lang) AS rn
        |  FROM votes
        |)
        |SELECT d0.doc_id,
        |  coalesce(p.p_lang, 'und') AS lang_pred,
        |  CAST(coalesce(p.v, 0) AS BIGINT) AS votes
        |FROM (SELECT doc_id FROM documents) d0
        |LEFT JOIN (SELECT * FROM pred WHERE rn = 1) p USING (doc_id)""".stripMargin)((s, dir) => {
      // corpus-trained char-trigram classifier over the labeled lang
      // column (integer votes against top-50 per-language profiles) —
      // the model-based counterpart of t_langid's stopword heuristic
      TextOps.charNgramLangId(
        Tables(s, dir).documents, col("doc_id"), col("text"), col("lang"))
    }),
    Query("t_repetition",
      s"""WITH t AS (SELECT doc_id, $tokensExpr AS w FROM documents)
         |SELECT doc_id,
         |  greatest(1, len(w) - 2) AS n_shingles,
         |  1.0 - len($shinglesExpr) / CAST(greatest(1, len(w) - 2) AS DOUBLE)
         |    AS repetition_ratio
         |FROM t""".stripMargin)((s, dir) => {
      // within-doc repetition: 1 - distinct/total word trigrams (the
      // boilerplate/spam signal a quality filter thresholds on); the
      // codegen'd shingle-row aggregate, not the interpreted array form
      TextOps.repetitionSignals(
        Tables(s, dir).documents, col("doc_id"), col("text"))
    }),
    Query("t_fingerprint",
      s"SELECT doc_id, $fpExpr AS fp FROM documents")((s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
    }),
    Query("t_pii", piiSql)((s, dir) => {
      // scrub-audit over documents with deterministically planted PII
      // (the corpus itself is digit-free word soup): both engines build
      // the identical salted string, then count + redact each pattern in
      // PiiPatterns order
      val salted = Tables(s, dir).documents.withColumn("salted", piiSaltedText)
      TextOps
        .piiSignals(salted, col("salted"))
        .select(
          col("doc_id"),
          col("n_email").cast("long").as("n_email"),
          col("n_ssn").cast("long").as("n_ssn"),
          col("n_phone").cast("long").as("n_phone"),
          col("n_ipv4").cast("long").as("n_ipv4"),
          md5(col("redacted")).as("redacted_md5"))
    }),
    Query("t_doc_freq",
      s"""WITH t AS (
         |  SELECT DISTINCT doc_id, unnest($tokensExpr) AS token FROM documents
         |), d AS (SELECT token, count(*) AS df FROM t GROUP BY 1)
         |SELECT * FROM (
         |  SELECT token, df, row_number() OVER (ORDER BY df DESC, token) AS rank FROM d
         |) ranked WHERE rank <= 100""".stripMargin)((s, dir) => {
      // corpus vocabulary head: 100 most document-frequent tokens.
      // orderBy+limit plans as TakeOrderedAndProject (per-partition
      // top-100, driver merge); rank over the 100 survivors comes from a
      // broadcast self-join count, not a partitionless window — same
      // result, no single-partition WindowExec (and no Spark warning)
      val top100 = TextOps
        .docFrequency(Tables(s, dir).documents, col("doc_id"), col("text"))
        .orderBy(col("df").desc, col("token").asc)
        .limit(100)
      val ahead = top100.select(col("token").as("b_token"), col("df").as("b_df"))
      top100
        .join(
          broadcast(ahead),
          col("b_df") > col("df") ||
            (col("b_df") === col("df") && col("b_token") < col("token")),
          "left")
        .groupBy(col("token"), col("df"))
        .agg((count(col("b_token")) + 1).as("rank"))
        .select(col("token"), col("df"), col("rank"))
    }),
    Query("t_unigram_lm",
      s"""WITH toks AS (SELECT doc_id, unnest($tokensExpr) AS w FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
         |c AS (SELECT w, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM c)
         |SELECT doc_id,
         |  CAST(sum(tf * CAST(floor(ln(CAST(c + 1 AS DOUBLE)
         |    / CAST(n + v AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS logprob_1e6,
         |  CAST(sum(tf) AS BIGINT) AS n_tokens
         |FROM tf JOIN c USING (w) CROSS JOIN tot
         |GROUP BY doc_id""".stripMargin)((s, dir) => {
      // corpus-trained add-1 unigram LM score per doc (the CCNet-style
      // quality filter): integer outputs — per-token log-probs floored
      // to 1e-6 ints before the weighted sum, so no double-sum ordering
      Tables(s, dir).documents
        .transform(d => TextOps.unigramLogProb(d, col("doc_id"), col("text")))
        .select(col("doc_id"), col("logprob_1e6"), col("n_tokens"))
    }),
    Query("t_bigram_lm",
      s"""WITH prs AS (
         |  SELECT doc_id, unnest([{'w1': w[i], 'w2': w[i+1]}
         |    for i in range(1, len(w))]) AS p
         |  FROM (SELECT doc_id, $tokensExpr AS w FROM documents)
         |), ptf AS (
         |  SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(*) AS tf
         |  FROM prs GROUP BY 1, 2, 3
         |), c2 AS (
         |  SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c2 FROM ptf GROUP BY 1, 2
         |), c1 AS (
         |  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1
         |), v AS (
         |  SELECT count(*) AS v FROM (
         |    SELECT DISTINCT unnest($tokensExpr) AS w FROM documents)
         |), terms AS (
         |  SELECT c2.w1, c2.w2,
         |    CAST(floor(ln(CAST(c2 + 1 AS DOUBLE)
         |      / CAST(c1 + v AS DOUBLE)) * 1000000) AS BIGINT) AS lp
         |  FROM c2 JOIN c1 USING (w1) CROSS JOIN v
         |)
         |SELECT doc_id,
         |  CAST(sum(tf * lp) AS BIGINT) AS logprob2_1e6,
         |  CAST(sum(tf) AS BIGINT) AS n_bigrams
         |FROM ptf JOIN terms USING (w1, w2)
         |GROUP BY doc_id""".stripMargin)((s, dir) => {
      // corpus-trained add-1 BIGRAM LM score per doc — the conditional
      // next step of t_unigram_lm's quality ladder, same integer-floored
      // term discipline
      Tables(s, dir).documents
        .transform(d => TextOps.bigramLogProb(d, col("doc_id"), col("text")))
        .select(col("doc_id"), col("logprob2_1e6"), col("n_bigrams"))
    }),
    Query("t_pmi_bigrams",
      s"""WITH t AS (SELECT doc_id, $tokensExpr AS ws FROM documents),
         |toks AS (SELECT unnest(ws) AS w FROM t),
         |u AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
         |tot AS (SELECT count(*) AS n FROM toks),
         |s AS (
         |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
         |  FROM t WHERE len(ws) >= 2
         |), b AS (SELECT ws[i] AS w1, ws[i + 1] AS w2 FROM s),
         |cxy AS (SELECT w1, w2, count(*) AS n_xy FROM b GROUP BY 1, 2),
         |scored AS (
         |  SELECT w1, w2, n_xy,
         |    CAST(floor(ln((CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE))
         |      / (CAST(cx.c AS DOUBLE) * CAST(cy.c AS DOUBLE))) * 10000) AS BIGINT) AS s4
         |  FROM cxy JOIN u cx ON cx.w = cxy.w1 JOIN u cy ON cy.w = cxy.w2 CROSS JOIN tot
         |  WHERE n_xy >= 5)
         |SELECT w1, w2, n_xy, rank FROM (
         |  SELECT w1, w2, n_xy, row_number() OVER (ORDER BY s4 DESC, w1, w2) AS rank
         |  FROM scored
         |) ranked WHERE rank <= 100""".stripMargin)((s, dir) => {
      // top-100 collocations by PMI (min pair count 5), ranked on the
      // 1e-4-floored score which stays OUT of the output (same one-ulp
      // discipline as t_tfidf); rank from a broadcast self-join over the
      // 100 survivors, not a partitionless window
      val top = TextOps.pmiCollocations(
        Tables(s, dir).documents, col("doc_id"), col("text"), minCount = 5L, k = 100)
      val ahead = top.select(
        col("w1").as("b_w1"), col("w2").as("b_w2"), col("score_1e4").as("b_s"))
      top
        .join(
          broadcast(ahead),
          col("b_s") > col("score_1e4") ||
            (col("b_s") === col("score_1e4") &&
              (col("b_w1") < col("w1") ||
                (col("b_w1") === col("w1") && col("b_w2") < col("w2")))),
          "left")
        .groupBy(col("w1"), col("w2"), col("n_xy"))
        .agg((count(col("b_w1")) + 1).as("rank"))
        .select(col("w1"), col("w2"), col("n_xy"), col("rank"))
    }),
    Query("t_tfidf",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($tokensExpr) AS token FROM documents
         |), tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfr AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, tf.token AS token, tf.tf AS tf, df,
         |    CAST(floor(tf * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE))
         |      * 10000) AS BIGINT) AS score_1e4
         |  FROM tf JOIN dfr USING (token) CROSS JOIN n)
         |SELECT doc_id, token, tf, df, rank FROM (
         |  SELECT doc_id, token, tf, df,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score_1e4 DESC, token) AS rank
         |  FROM scored
         |) ranked WHERE rank <= 5""".stripMargin)((s, dir) => {
      // top-5 TF-IDF keywords per doc; ranked internally on the 1e-4
      // floored score, but the score itself stays OUT of the compared
      // output: its floored value can flip if Spark's and DuckDB's ln
      // differ by one ulp exactly at a 1e-4 boundary (rank is safe — a
      // one-ulp wobble only reorders exact mathematical ties, which the
      // floor already buckets together)
      TextOps
        .tfidfTopTerms(Tables(s, dir).documents, col("doc_id"), col("text"), k = 5)
        .select(col("doc_id"), col("token"), col("tf"), col("df"), col("rank"))
    }),
    Query("t_len_quantiles_approx", lenQuantilesSql)((s, dir) => {
      // the declared 100 TB quantile path (percentile_approx sketch, no
      // per-key sort) on the correctness record: at gate scale every
      // key's N is far below the sketch accuracy, so the sketch is
      // loss-free and the row shares the EXACT type-1 oracle — the
      // approximation only begins past N ~ accuracy (rank error
      // N/accuracy), which is the documented trade
      val d = Tables(s, dir).documents
        .select(TextOps.langId(col("text")).as("lang"), TextOps.tokenCount(col("text")).cast("long").as("n"))
      Stats.approxQuantilesByKey(d, col("lang"), col("n"), Seq(0.25, 0.5, 0.75, 0.9))
        .select(col("key").as("lang_pred"), col("p"), col("value").as("n_tokens"))
    }),
    Query("t_len_quantiles", lenQuantilesSql)((s, dir) => {
      // exact type-1 token-length quantiles per predicted language —
      // the filter-threshold view of the corpus; approx_percentile is
      // the documented 100 TB path (Stats.quantilesByKey scaladoc)
      val d = Tables(s, dir).documents
        .select(TextOps.langId(col("text")).as("lang"), TextOps.tokenCount(col("text")).cast("long").as("n"))
      Stats.quantilesByKey(d, col("lang"), col("n"), Seq(0.25, 0.5, 0.75, 0.9))
        .select(col("key").as("lang_pred"), col("p"), col("value").as("n_tokens"))
    }),
    Query("t_heavy_tokens",
      s"""WITH toks AS (
         |  SELECT unnest($tokensExpr) AS token FROM documents
         |), total AS (SELECT count(*) AS n_total FROM toks)
         |SELECT token, count(*) AS cnt, (SELECT n_total FROM total) AS n_total
         |FROM toks GROUP BY token
         |HAVING count(*) * 65 > (SELECT n_total FROM total)""".stripMargin)((s, dir) => {
      // bounded-memory heavy hitters, SKETCH-THEN-VERIFY (round-9
      // redefinition): Misra–Gries (k=64) finds the ≤64 candidate tokens
      // in one bounded-memory pass, then ONE more bounded pass (broadcast
      // semi-join on the candidate set) counts those candidates exactly,
      // keeping tokens with true freq·65 > N. MG's deterministic
      // guarantee (every token with freq > N/(k+1) survives the sketch)
      // makes the RESULT exact and merge-order independent — so the query
      // is oracle-checked, while the raw (order-dependent) MG estimates
      // stay gated in ApproxGatesSpec. This is also the honest 100 TB
      // shape: sketch for candidates, exact-verify the bounded set.
      val toks = Tables(s, dir).documents
        .select(explode(TextOps.tokens(col("text"))).as("token"))
      val cand = toks
        .agg(HeavyHitters.heavyHitters(col("token"), 64).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e._1").as("token"))
      val total = toks.agg(count(lit(1)).as("n_total"))
      toks
        .join(broadcast(cand), "token")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") * 65 > col("n_total"))
        .select(col("token"), col("cnt"), col("n_total"))
    }),
    Query("t_bm25",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($tokensExpr) AS token FROM documents
         |), dfreq AS (
         |  SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
         |), top AS (
         |  SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 20
         |), tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
         |), st AS (
         |  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
         |  FROM dl
         |)
         |SELECT tf.doc_id, tf.token, tf.tf, top.df,
         |  CAST(floor(
         |    ln(1.0 + (st.n_docs - top.df + 0.5) / (top.df + 0.5)) *
         |    ((CAST(tf.tf AS DOUBLE) * 1.25 + CAST(tf.tf AS DOUBLE)) /
         |     (CAST(tf.tf AS DOUBLE) +
         |      1.25 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / st.avgdl))) *
         |    10000) AS BIGINT) AS score_1e4
         |FROM tf JOIN top USING (token) JOIN dl USING (doc_id) CROSS JOIN st""".stripMargin)((s, dir) => {
      // BM25 (doc, term) relevance for the 20 highest-DF terms: tf
      // saturation + length normalization, the retrieval scorer TF-IDF
      // lacks; k1=1.25 / b=0.75 are exact binary doubles so only ln is
      // inexact, and the 1e-4 floor hides its last ulp
      TextOps.bm25PerTerm(Tables(s, dir).documents, col("doc_id"), col("text"), 20)
    }),
    Query("t_calibrate",
      """SELECT doc_id, source, n_chars,
        |  percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pct_rank
        |FROM documents""".stripMargin)((s, dir) => {
      // cross-source score calibration: each doc's length mapped to its
      // in-source percent rank, so one global cutoff means the same
      // thing in every stratum
      Stats
        .percentRankByKey(
          Tables(s, dir).documents.select(col("doc_id"), col("source"), col("n_chars")),
          col("source"), col("n_chars"))
    }),
    Query("t_length_filter",
      """WITH r AS (
        |  SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY source) AS cnt
        |  FROM documents
        |), b AS (
        |  SELECT source,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * cnt) AS BIGINT))
        |        THEN n_chars END) AS lo,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * cnt) AS BIGINT))
        |        THEN n_chars END) AS hi
        |  FROM r GROUP BY source
        |)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN b ON d.source = b.source
        |WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi""".stripMargin)((s, dir) => {
      // corpus trim: keep docs inside each source's own [p05, p95]
      // char-length band — drops truncated fragments and concatenation
      // monsters per stratum; bounds broadcast, corpus never shuffles
      Stats
        .filterByKeyQuantiles(
          Tables(s, dir).documents, col("source"), col("n_chars"), 0.05, 0.95)
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),
    Query("t_vocab",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($tokensExpr) AS token FROM documents
         |), c AS (
         |  SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY 1, 2
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, token) AS rn
         |  FROM c
         |)
         |SELECT doc_id,
         |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS ttr,
         |  max(CASE WHEN rn = 1 THEN token END) AS top_token,
         |  CAST(max(CASE WHEN rn = 1 THEN cnt END) AS DOUBLE)
         |    / CAST(sum(cnt) AS DOUBLE) AS top_ratio
         |FROM r GROUP BY doc_id""".stripMargin)((s, dir) => {
      // Gopher-family lexical diversity: type-token ratio + share of the
      // most frequent token (exact integer counts, single IEEE divisions)
      TextOps.vocabSignals(Tables(s, dir).documents, col("doc_id"), col("text"))
    }),
    Query("t_user_sequences",
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events
        |)
        |SELECT user_id, any_value(cnt) AS n_events,
        |  string_agg(event_type, '|' ORDER BY rn) AS sequence
        |FROM r WHERE rn <= 50
        |GROUP BY user_id""".stripMargin)((s, dir) => {
      // training-sequence construction: each user's chronological event
      // history, capped at 50 events, as a portable '|'-joined string;
      // n_events keeps the pre-cap count visible
      val e = Tables(s, dir).events
      Sequences.eventSequences(
        e, col("user_id"), col("ts"), col("event_id"), col("event_type"), 50)
        .select(col("key").as("user_id"), col("n_events"), col("sequence"))
    }),
    // streaming twin: every key closes exactly once (idle horizon > max
    // per-key gap), so the rows equal the batch fold over the full log
    Query("t_user_sequences_stream",
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events
        |)
        |SELECT user_id, any_value(cnt) AS n_events,
        |  string_agg(event_type, '|' ORDER BY rn) AS sequence
        |FROM r WHERE rn <= 50
        |GROUP BY user_id""".stripMargin)((s, dir) => {
      // streaming twin of t_user_sequences: per-key capped chronological
      // sequence finalized after 10 days of event-time inactivity —
      // above the corpus's max per-key gap (~6 d) and below the replay
      // sentinel's +30 d horizon, so every key closes exactly once and
      // the rows hash-match the batch oracle. State is O(maxLen) per
      // key, strictly better than the batch collect_list.
      Replay
        .keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
          StateMachines.eventSequences(stream, maxLen = 50, idleSec = 10L * 86400).toDF()
        }
        .select(
          col("key").cast("long").as("user_id"),
          col("n_events"),
          col("sequence"))
    }),
  )
}
