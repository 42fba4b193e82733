package graft.queries

import graft.functions.TextFns
import graft.sources.Tables
import graft.util.Det
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge.pinned

/** Text-analysis operators (SURVEY §2.9 X4/X5 + the training-data-pipeline
  * surface from the north star): TF-IDF, per-language stats, token counting,
  * quality scoring, language-ID heuristic, document fingerprinting. All over
  * the `documents` table, all pure Column expressions (no UDFs).
  */
object TextQueries {
  private val EnStop = Seq("the", "a", "and", "of", "to")
  private val DeStop = Seq("der", "die", "und", "ein", "zu")
  private val FrStop = Seq("le", "la", "et", "un", "une")

  /** X4 — TF-IDF top-3 terms per document. tf = term count / doc tokens;
    * idf = ln(N / df). Scores quantized to 6 decimals BEFORE ranking so the
    * cross-engine libm ulp on `ln` cannot flip ranks; ties break on term.
    * Scale: explode + two hash aggregations + window — all shuffle on
    * doc/term keys, no driver loops.
    */
  private def tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val tok = docs.select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n_tok",
        sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
    val df = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val scored = tf.join(df, Seq("term")).crossJoin(nDocs)
      .select(col("doc_id"), col("term"),
        Det.qround((col("cnt") / col("n_tok")) *
          log(col("n_docs") / col("df")), 6).as("tfidf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  private val tfidfSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS cnt,
       |         SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS n_tok
       |  FROM tok GROUP BY doc_id, term),
       |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
       |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term,
       |    ${Det.qroundSql("(CAST(cnt AS DOUBLE) / n_tok) * ln(CAST(n_docs AS DOUBLE) / df)", 6)} AS tfidf
       |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN nd),
       |ranked AS (
       |  SELECT doc_id, term, tfidf,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY tfidf DESC, term) AS rk
       |  FROM scored)
       |SELECT doc_id, rk, term, tfidf FROM ranked WHERE rk <= 3
       |ORDER BY doc_id, rk""".stripMargin

  /** text_bm25 query-term band: df-ranks [[Bm25QFrom]]..[[Bm25QTo]] by
    * (df DESC, term) — just BELOW the RAKE adaptive stoplist's top-8:
    * mid-frequency informative terms, the band a retrieval query
    * actually lives in (the top-df terms are function words that match
    * every document and rank nothing).
    */
  private val Bm25QFrom = 9
  private val Bm25QTo = 12
  private val Bm25TopK = 10
  /** Query-band width — the hybrid-retrieval fusion key (X190, in
    * SimQueries next to the ANN ladder) sizes its dense query set to it.
    */
  private[graft] val Bm25Band = Bm25QTo - Bm25QFrom + 1

  /** X184 — text_bm25: Okapi BM25 retrieval scoring (Robertson &
    * Sparck Jones lineage; k1 = 1.2, b = 0.75, the standard defaults) —
    * the lexical-retrieval baseline a RAG pipeline runs BEFORE (and as
    * the recall backstop next to) the X3 embedding ladder. For each
    * query term the top-[[Bm25TopK]] documents by
    * `idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))` with the
    * plus-one idf `ln(1 + (N − df + ½)/(df + ½))` (always positive —
    * the Lucene-standard variant). Query terms are corpus-derived and
    * deterministic (the df band above), so the key needs no external
    * query fixture.
    *
    * Determinism: scores are ONE fixed-order FP expression (identical
    * operation order in both engines), qround(6) BEFORE ranking so a
    * libm ulp on `ln` cannot flip ranks (the X4 discipline); ties break
    * on doc_id; `tf` rides along as the exact integer anchor.
    *
    * Scale: explode + two hash aggs (tf, dl) + a term agg (df) — the
    * X4 cost class; the ≤ 4-term query set broadcasts and the scoring
    * join touches ONLY its posting lists (the inverted-index probe
    * shape: |postings|, never |docs|·|queries|); per-term top-K is a
    * window over the posting frame partitioned BY TERM (no global
    * sort). The two tiny broadcast nests (query band, corpus stats) are
    * declared in PlanSpec's allowlist.
    */
  private def textBm25(s: SparkSession, dir: String): DataFrame =
    bm25Of(Tables(s, dir, "documents"))

  /** Testable seam for [[textBm25]]: explicit documents frame; the
    * query band and top-K are parameters so hand specs can pin the
    * arithmetic on small vocabularies.
    */
  private[graft] def bm25Of(docs: DataFrame, qFrom: Int = Bm25QFrom,
      qTo: Int = Bm25QTo, topK: Int = Bm25TopK): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot_tok"))
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wq = Window.orderBy(col("df").desc, col("term"))
    val qterms = dfr.orderBy(col("df").desc, col("term")).limit(qTo)
      .withColumn("qrk", row_number().over(wq))
      .filter(col("qrk") >= qFrom)
      .select(col("term"), col("df"))
    val scored = tf.join(broadcast(qterms), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"), col("tf"),
        Det.qround(
          log(lit(1.0) + (col("n_docs").cast("double") - col("df") +
            lit(0.5)) / (col("df") + lit(0.5))) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") * col("n_docs") /
                col("tot_tok")))), 6).as("bm25"))
    val w = Window.partitionBy(col("term"))
      .orderBy(col("bm25").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= topK)
      .select(col("term"), col("rk"), col("doc_id"), col("tf"),
        col("bm25"))
      .orderBy(col("term"), col("rk"))
  }

  // X196 PRF parameters: feedback depth, expansion width, serving page.
  private val PrfFbDocs = 5
  private val PrfExpTerms = 3
  private val PrfTopK = 10

  /** X196 — retrieval_prf_expansion: PSEUDO-RELEVANCE-FEEDBACK query
    * expansion (the RM3-lite rung of the retrieval ladder, after X184
    * BM25 → X3 ANN → X190 RRF): for each band query term, (1) take its
    * top-[[PrfFbDocs]] BM25 documents as the feedback set, (2) pick
    * the [[PrfExpTerms]] expansion terms with the largest summed tf
    * across the feedback docs — an EXACT INTEGER selection (no FP in
    * the expansion choice), with the corpus's top-[[Bm25QTo]] df terms
    * excluded (the RAKE adaptive-stoplist discipline: function words
    * dominate raw tf; the band itself, hence the query term, sits in
    * that region and is excluded for free), (3) re-retrieve with the
    * expanded query: score'(d) = bm25(q,d) + Σ_e bm25(e,d)/2 (uniform
    * half-weight feedback — an integer-weight RM3 mix).
    *
    * The reason PRF exists shows up as a column: `recall_gain` marks
    * documents that contain NO occurrence of the original term and are
    * retrievable only through the expansion — vocabulary-mismatch
    * recall, the failure mode lexical retrieval has and this operator
    * repairs.
    *
    * Determinism — the X139 integer-grid discipline: every per-term
    * BM25 score is quantized to a micro-integer
    * (`floor(score·10⁶+0.5)` — order-equivalent to the X184 qround(6)
    * ranking) BEFORE any combination, so the expanded score is an
    * exact integer sum (order-independent; the /2 is integer `div`),
    * and every ranking tie-breaks on ids.
    *
    * Scale: tf/dl/df are the X184 hash aggs; the stoplist and band are
    * TakeOrdered 12-row frames (broadcast); feedback and expansion are
    * per-term windows over posting-list-sized frames; the expansion
    * scoring touches only ≤ |band|·[[PrfExpTerms]] terms' posting
    * lists. Serving-page-bounded everywhere, like a real PRF stack.
    */
  private def retrievalPrf(s: SparkSession, dir: String): DataFrame =
    prfOf(Tables(s, dir, "documents"))

  /** Testable seam for [[retrievalPrf]]: explicit documents frame. */
  private[graft] def prfOf(docs: DataFrame): DataFrame = {
    // tf is the frame every stage below re-reads (both microScore
    // calls, the expansion-candidate agg, dl, dfr): un-pinned, each
    // reference re-ran the tokenize+count over the whole corpus — in a
    // single scan task on a one-row-group fixture (r17 measured:
    // 19.9 s cold at sf0.1). Pin it once over a fanned-out scan
    // ([[graft.util.FanOut]]); dl re-derives from the pinned tf
    // (Σ per-doc tf IS the doc's token count — same integers, one
    // tokenize pass instead of two), and dfr/stats re-group the same
    // pinned frame.
    val tf = pinned(graft.util.FanOut(docs)
      .select(col("doc_id"),
        explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot_tok"))
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stop12 = dfr.orderBy(col("df").desc, col("term")).limit(Bm25QTo)
    val wq = Window.orderBy(col("df").desc, col("term"))
    val band = stop12.withColumn("qrk", row_number().over(wq))
      .filter(col("qrk") >= Bm25QFrom).select(col("term"), col("df"))
    // (term, doc_id, sc_micro) for an arbitrary small (term, df) set
    def microScore(terms: DataFrame): DataFrame =
      tf.join(broadcast(terms), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("term"), col("doc_id"),
          floor(
            log(lit(1.0) + (col("n_docs").cast("double") - col("df") +
              lit(0.5)) / (col("df") + lit(0.5))) *
              (col("tf") * lit(2.2)) /
              (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
                (col("dl").cast("double") * col("n_docs") /
                  col("tot_tok")))) * 1000000.0 + 0.5)
            .cast("long").as("sc_micro"))
    // lex is read twice below (feedback page + the orig side of the
    // final mix) — pin the posting-list-sized frame once.
    val lex = pinned(microScore(band))
    val wl = Window.partitionBy(col("term"))
      .orderBy(col("sc_micro").desc, col("doc_id"))
    val fb = lex.withColumn("rk", row_number().over(wl))
      .filter(col("rk") <= PrfFbDocs)
    val cand = fb.select(col("term").as("qterm"), col("doc_id"))
      .join(tf.select(col("doc_id"), col("term").as("eterm"), col("tf")),
        Seq("doc_id"))
      .join(broadcast(stop12.select(col("term").as("eterm"))),
        Seq("eterm"), "left_anti")
      .groupBy(col("qterm"), col("eterm")).agg(sum(col("tf")).as("w"))
    val we = Window.partitionBy(col("qterm"))
      .orderBy(col("w").desc, col("eterm"))
    val exp = cand.withColumn("erk", row_number().over(we))
      .filter(col("erk") <= PrfExpTerms)
      .select(col("qterm"), col("eterm"))
    val expScored = microScore(
      exp.select(col("eterm").as("term")).distinct()
        .join(dfr, Seq("term")))
      .select(col("term").as("eterm"), col("doc_id"), col("sc_micro"))
    val expContrib = exp.join(expScored, Seq("eterm"))
      .groupBy(col("qterm"), col("doc_id"))
      .agg(sum(expr("sc_micro div 2")).as("exp_micro"))
    val orig = lex.select(col("term").as("qterm"), col("doc_id"),
      col("sc_micro").as("orig_micro"))
    val combined = orig
      .join(expContrib, Seq("qterm", "doc_id"), "full_outer")
      .select(col("qterm"), col("doc_id"),
        (coalesce(col("orig_micro"), lit(0L)) +
          coalesce(col("exp_micro"), lit(0L))).as("prf_micro"),
        col("orig_micro"))
    val wf = Window.partitionBy(col("qterm"))
      .orderBy(col("prf_micro").desc, col("doc_id"))
    combined.withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= PrfTopK)
      .select(col("qterm").as("term"), col("rk"), col("doc_id"),
        col("prf_micro"), col("orig_micro"),
        col("orig_micro").isNull.as("recall_gain"))
      .orderBy(col("term"), col("rk"))
  }

  private[graft] val retrievalPrfSql = {
    val msc = "CAST(FLOOR(" +
      "ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) " +
      "* (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * " +
      "(CAST(dl AS DOUBLE) * n_docs / tot_tok))) " +
      "* 1000000.0 + 0.5) AS BIGINT)"
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |btf AS MATERIALIZED (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |bdl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
       |bst AS (SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(dl) AS BIGINT) AS tot_tok FROM bdl),
       |bdf AS MATERIALIZED (
       |  SELECT term, COUNT(*) AS df FROM btf GROUP BY 1),
       |stop12 AS (
       |  SELECT term, df FROM (
       |    SELECT term, df,
       |      row_number() OVER (ORDER BY df DESC, term) AS qrk
       |    FROM bdf)
       |  WHERE qrk <= $Bm25QTo),
       |band AS (
       |  SELECT term, df FROM (
       |    SELECT term, df,
       |      row_number() OVER (ORDER BY df DESC, term) AS qrk
       |    FROM bdf)
       |  WHERE qrk BETWEEN $Bm25QFrom AND $Bm25QTo),
       |plex AS MATERIALIZED (
       |  SELECT q.term, f.doc_id, f.tf, q.df, d.dl, n_docs, tot_tok,
       |    $msc AS sc_micro
       |  FROM btf f JOIN band q ON f.term = q.term
       |  JOIN bdl d ON d.doc_id = f.doc_id
       |  CROSS JOIN bst),
       |pfb AS (
       |  SELECT term, doc_id FROM (
       |    SELECT term, doc_id, row_number() OVER (PARTITION BY term
       |      ORDER BY sc_micro DESC, doc_id) AS rk
       |    FROM plex)
       |  WHERE rk <= $PrfFbDocs),
       |pcand AS (
       |  SELECT q.term AS qterm, f.term AS eterm, SUM(f.tf) AS w
       |  FROM pfb q JOIN btf f ON f.doc_id = q.doc_id
       |  WHERE f.term NOT IN (SELECT term FROM stop12)
       |  GROUP BY 1, 2),
       |pexp AS (
       |  SELECT qterm, eterm FROM (
       |    SELECT qterm, eterm, row_number() OVER (PARTITION BY qterm
       |      ORDER BY w DESC, eterm) AS erk
       |    FROM pcand)
       |  WHERE erk <= $PrfExpTerms),
       |pesc AS MATERIALIZED (
       |  SELECT f.term AS eterm, f.doc_id, f.tf, q.df, d.dl,
       |    n_docs, tot_tok, $msc AS sc_micro
       |  FROM btf f
       |  JOIN (SELECT DISTINCT e.eterm AS term, dd.df
       |        FROM pexp e JOIN bdf dd ON dd.term = e.eterm) q
       |    ON f.term = q.term
       |  JOIN bdl d ON d.doc_id = f.doc_id
       |  CROSS JOIN bst),
       |pcontrib AS (
       |  SELECT e.qterm, s.doc_id,
       |    CAST(SUM(s.sc_micro // 2) AS BIGINT) AS exp_micro
       |  FROM pexp e JOIN pesc s ON s.eterm = e.eterm
       |  GROUP BY 1, 2),
       |pcomb AS (
       |  SELECT COALESCE(o.term, c.qterm) AS term,
       |    COALESCE(o.doc_id, c.doc_id) AS doc_id,
       |    COALESCE(o.sc_micro, 0) + COALESCE(c.exp_micro, 0)
       |      AS prf_micro,
       |    o.sc_micro AS orig_micro
       |  FROM plex o FULL OUTER JOIN pcontrib c
       |    ON c.qterm = o.term AND c.doc_id = o.doc_id)
       |SELECT term, rk, doc_id, prf_micro, orig_micro,
       |  orig_micro IS NULL AS recall_gain
       |FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY term
       |    ORDER BY prf_micro DESC, doc_id) AS INTEGER) AS rk
       |  FROM pcomb)
       |WHERE rk <= $PrfTopK
       |ORDER BY term, rk""".stripMargin
  }

  // private[graft]: the X190 fusion oracle embeds this whole statement as
  // its lexical-arm derived table, so both keys run ONE bm25 definition.
  private[graft] val textBm25Sql = {
    val score = Det.qroundSql(
      "ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) " +
        "* (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * " +
        "(CAST(dl AS DOUBLE) * n_docs / tot_tok)))", 6)
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |btf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |bdl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
       |bst AS (SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(dl) AS BIGINT) AS tot_tok FROM bdl),
       |bdf AS (SELECT term, COUNT(*) AS df FROM btf GROUP BY 1),
       |bq AS (
       |  SELECT term, df FROM (
       |    SELECT term, df,
       |      row_number() OVER (ORDER BY df DESC, term) AS qrk
       |    FROM bdf)
       |  WHERE qrk BETWEEN $Bm25QFrom AND $Bm25QTo),
       |bsc AS (
       |  SELECT q.term, f.doc_id, f.tf, $score AS bm25
       |  FROM btf f JOIN bq q ON f.term = q.term
       |  JOIN bdl d ON d.doc_id = f.doc_id
       |  CROSS JOIN bst),
       |brk AS (
       |  SELECT term, doc_id, tf, bm25,
       |    row_number() OVER (PARTITION BY term
       |      ORDER BY bm25 DESC, doc_id) AS rk
       |  FROM bsc)
       |SELECT term, rk, doc_id, tf, bm25 FROM brk WHERE rk <= $Bm25TopK
       |ORDER BY term, rk""".stripMargin
  }

  /** X5 — per-language corpus stats. */
  private def langStats(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        sum(size(TextFns.tokens(col("text")))).as("total_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))

  private val langStatsSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  COUNT(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** token counting — whitespace tokens + a regex token pass. */
  private def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(
      col("doc_id"),
      size(TextFns.tokens(col("text"))).as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
        .as("n_re_tokens"),
      col("n_chars"))
      .orderBy(col("doc_id"))

  private val tokenCountSql =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[a-z0-9]+')) AS n_re_tokens,
      |  n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** quality scoring — length / stopword-ratio / mean-token-length
    * heuristics with a bucketed score.
    */
  private def quality(s: SparkSession, dir: String): DataFrame = {
    val tok = TextFns.tokens(col("text"))
    val nTok = size(tok)
    val stopRatio =
      TextFns.stopwordCount(tok, EnStop).cast("double") / nTok
    val avgTokLen =
      (length(col("text")) - (nTok - 1)).cast("double") / nTok
    Tables(s, dir, "documents").select(
      col("doc_id"), nTok.as("n_tokens"),
      Det.qround(avgTokLen, 6).as("avg_token_len"),
      Det.qround(stopRatio, 6).as("stopword_ratio"),
      when(nTok >= 40 && stopRatio < 0.3, 2)
        .when(nTok >= 10, 1).otherwise(0).as("quality"))
      .orderBy(col("doc_id"))
  }

  private val qualitySql = {
    val tok = "string_split(text, ' ')"
    val stop = TextFns.stopwordCountSql(tok, EnStop)
    s"""SELECT doc_id, len($tok) AS n_tokens,
       |  ${Det.qroundSql(s"CAST(length(text) - (len($tok) - 1) AS DOUBLE) / len($tok)", 6)} AS avg_token_len,
       |  ${Det.qroundSql(s"CAST($stop AS DOUBLE) / len($tok)", 6)} AS stopword_ratio,
       |  CASE WHEN len($tok) >= 40
       |            AND CAST($stop AS DOUBLE) / len($tok) < 0.3 THEN 2
       |       WHEN len($tok) >= 10 THEN 1 ELSE 0 END AS quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** language-ID — stopword-vote heuristic over three mini-lexicons with a
    * deterministic argmax (en ≥ de ≥ fr on ties).
    */
  private def langId(s: SparkSession, dir: String): DataFrame = {
    val tok = TextFns.tokens(col("text"))
    val cEn = TextFns.stopwordCount(tok, EnStop)
    val cDe = TextFns.stopwordCount(tok, DeStop)
    val cFr = TextFns.stopwordCount(tok, FrStop)
    Tables(s, dir, "documents").select(
      col("doc_id"), cEn.as("c_en"), cDe.as("c_de"), cFr.as("c_fr"),
      when(cEn >= cDe && cEn >= cFr, "en")
        .when(cDe >= cFr, "de").otherwise("fr").as("pred_lang"),
      col("lang"))
      .withColumn("is_match", (col("pred_lang") === col("lang")).cast("int"))
      .orderBy(col("doc_id"))
  }

  private val langIdSql = {
    val tok = "string_split(text, ' ')"
    val (cEn, cDe, cFr) = (TextFns.stopwordCountSql(tok, EnStop),
      TextFns.stopwordCountSql(tok, DeStop),
      TextFns.stopwordCountSql(tok, FrStop))
    s"""SELECT doc_id, c_en, c_de, c_fr, pred_lang, lang,
       |  CAST(pred_lang = lang AS INT) AS is_match FROM (
       |  SELECT doc_id, $cEn AS c_en, $cDe AS c_de, $cFr AS c_fr,
       |    CASE WHEN $cEn >= $cDe AND $cEn >= $cFr THEN 'en'
       |         WHEN $cDe >= $cFr THEN 'de' ELSE 'fr' END AS pred_lang,
       |    lang
       |  FROM documents) t ORDER BY doc_id""".stripMargin
  }

  /** document fingerprinting — deterministic polynomial rolling hash of the
    * full text (identical integer arithmetic in both engines).
    */
  private def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(
      col("doc_id"),
      TextFns.stringHash(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  private val fingerprintSql =
    s"""SELECT doc_id, ${TextFns.stringHashSql("text")} AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin

  /** text_repetition — Gopher-style intra-document repetition signals,
    * the filter that catches boilerplate/spam BEFORE cross-document dedup:
    * duplicate-token fraction (1 - distinct/total), most-frequent-token
    * fraction, and most-frequent-bigram fraction (share of adjacent-pair
    * slots taken by the top 2-gram). All counts are exact integers; the
    * fractions quantize ([[Det.qround]]) last, so the key is
    * order-independent. Only the top COUNT is emitted (never the winning
    * gram itself) — a deliberate choice that removes any tie-break on the
    * argmax. Scale: explode + two hash aggs keyed on (doc, gram), both
    * map-side combinable; bigrams derive from one zip of the token array
    * with itself shifted — no joins, no windows.
    */
  private def repetition(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"),
        size(col("tk")).as("n_tokens"),
        size(array_distinct(col("tk"))).as("n_distinct"),
        expr("""zip_with(slice(tk, 1, size(tk) - 1),
                         slice(tk, 2, size(tk) - 1),
                         (a, b) -> concat(a, ' ', b))""").as("bg"))
    val topTok = base.select(col("doc_id"), explode(col("tk")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_tok"))
    val topBig = base.select(col("doc_id"), explode(col("bg")).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_big"))
    base.select(col("doc_id"), col("n_tokens"), col("n_distinct"))
      .join(topTok, Seq("doc_id"), "left_outer")
      .join(topBig, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        Det.qround(lit(1.0) -
          col("n_distinct").cast("double") / col("n_tokens"), 6)
          .as("dup_token_frac"),
        Det.qround(coalesce(col("top_tok"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("top_token_frac"),
        when(col("n_tokens") >= 2,
          Det.qround(coalesce(col("top_big"), lit(0L)).cast("double") /
            (col("n_tokens") - 1), 6)).otherwise(0.0)
          .as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  private val repetitionSql =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |base AS MATERIALIZED (
       |  SELECT doc_id, len(tk) AS n_tokens,
       |    len(list_distinct(tk)) AS n_distinct,
       |    list_transform(range(1, len(tk)),
       |      i -> tk[i] || ' ' || tk[i + 1]) AS bg
       |  FROM tok),
       |tt AS MATERIALIZED (
       |  SELECT doc_id, MAX(c) AS top_tok FROM (
       |    SELECT doc_id, t, COUNT(*) AS c FROM (
       |      SELECT doc_id, unnest(tk) AS t FROM tok) u
       |    GROUP BY doc_id, t) g GROUP BY doc_id),
       |tb AS MATERIALIZED (
       |  SELECT doc_id, MAX(c) AS top_big FROM (
       |    SELECT doc_id, b, COUNT(*) AS c FROM (
       |      SELECT doc_id, unnest(bg) AS b FROM base) u
       |    GROUP BY doc_id, b) g GROUP BY doc_id)
       |SELECT base.doc_id, n_tokens, n_distinct,
       |  ${Det.qroundSql(
             "1.0 - CAST(n_distinct AS DOUBLE) / n_tokens", 6)}
       |    AS dup_token_frac,
       |  ${Det.qroundSql(
             "CAST(COALESCE(top_tok, 0) AS DOUBLE) / n_tokens", 6)}
       |    AS top_token_frac,
       |  CASE WHEN n_tokens >= 2 THEN ${Det.qroundSql(
             "CAST(COALESCE(top_big, 0) AS DOUBLE) / (n_tokens - 1)", 6)}
       |       ELSE 0.0 END AS top_bigram_frac
       |FROM base LEFT JOIN tt ON tt.doc_id = base.doc_id
       |LEFT JOIN tb ON tb.doc_id = base.doc_id
       |ORDER BY base.doc_id""".stripMargin

  /** text_unigram_nll — unigram language-model quality score (the CCNet
    * perplexity-filter shape with the corpus itself as the LM): per
    * document, the mean negative log-likelihood of its tokens under the
    * corpus unigram distribution. Low = stereotypical text, high = rare
    * vocabulary; pretraining pipelines bucket documents on exactly this
    * number.
    *
    * Determinism: each token's nll is quantized to 6 dp and SCALED TO AN
    * EXACT LONG before the per-document sum (the `hits` integer-scaling
    * trick) — summing doubles would make the result depend on partition
    * order. The single libm `ln` per vocab entry gets identical double
    * inputs on both engines (exact long→double division); the ×1e6 floor
    * masks ulp noise the same way `text_tfidf` does. Scale: the vocab agg
    * is map-side combinable and its result is small (a token vocabulary,
    * not the corpus) — broadcast to the token stream; the 1-row total is
    * the declared scalar cross join.
    */
  private def unigramNll(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("t"))
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val total = tok.select(count(lit(1)).as("total"))
    val nllq = floor(-log(col("cnt").cast("double") / col("total")) *
      1000000.0 + 0.5).cast("long")
    tok.join(broadcast(vocab), Seq("t")).crossJoin(total)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(nllq).as("nllq_sum"))
      .select(col("doc_id"), col("n_tokens"),
        Det.qround(col("nllq_sum").cast("double") / 1000000.0 /
          col("n_tokens"), 6).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  private val unigramNllSql =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |vocab AS MATERIALIZED (
       |  SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
       |tot AS (SELECT COUNT(*) AS total FROM tok),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(FLOOR(-ln(CAST(cnt AS DOUBLE) / total) * 1000000 + 0.5)
       |         AS BIGINT) AS nllq
       |  FROM tok JOIN vocab USING (t) CROSS JOIN tot)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  ${Det.qroundSql(
             "CAST(SUM(nllq) AS BIGINT) / 1000000.0 / COUNT(*)", 6)}
       |    AS avg_nll
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** text_entropy — per-document Shannon entropy of the document's OWN
    * word distribution, in bits: the internal-diversity quality signal
    * (complement of `text_repetition`'s boilerplate ratio and of
    * `text_unigram_nll`'s corpus-relative rarity — a spammy
    * low-vocabulary page scores near 0, diverse prose near log₂ of its
    * distinct-word count). Output: (doc_id, n_tokens, n_distinct,
    * entropy).
    *
    * Determinism: each −p·ln(p) term is quantized to an exact long
    * (the [[unigramNll]] ×10⁶ floor trick) before the per-document sum,
    * so the result never depends on aggregation order; `ln` gets
    * identical double inputs on both engines (exact long/long division),
    * and the nats→bits conversion divides by the PINNED double literal
    * 0.6931471805599453 (= ln 2) instead of calling a second libm
    * function. Scale: two map-side-combinable hash aggs keyed by
    * (doc, word) and doc — the same shuffle profile as `text_repetition`.
    */
  private val Ln2 = 0.6931471805599453

  private def textEntropy(s: SparkSession, dir: String): DataFrame =
    textEntropyOf(Tables(s, dir, "documents"))

  /** [[textEntropy]] over an explicit (doc_id, text) frame — the testable
    * seam (PipelineSpec checks hand-computable uniform distributions).
    */
  private[graft] def textEntropyOf(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("t"))
    val wc = tok.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("c"))
    val n = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val p = col("c").cast("double") / col("n")
    val termq = floor(-(p * log(p)) * 1000000.0 + 0.5).cast("long")
    wc.join(n, Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(min(col("n")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum(termq).as("hq"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        Det.qround(col("hq").cast("double") / 1000000.0 / Ln2, 6)
          .as("entropy"))
      .orderBy(col("doc_id"))
  }

  private val textEntropySql =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |wc AS MATERIALIZED (
       |  SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
       |n AS MATERIALIZED (
       |  SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
       |terms AS (
       |  SELECT w.doc_id, n.n,
       |    CAST(FLOOR(-(CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) / n))
       |         * 1000000.0 + 0.5) AS BIGINT) AS hq
       |  FROM wc w JOIN n USING (doc_id))
       |SELECT doc_id, MIN(n) AS n_tokens, COUNT(*) AS n_distinct,
       |  ${Det.qroundSql(
            s"CAST(SUM(hq) AS DOUBLE) / 1000000.0 / $Ln2", 6)} AS entropy
       |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Bigrams below this corpus count are not collocation candidates (the
    * classic low-count PMI instability cutoff).
    */
  final val PmiMinCount = 5

  /** Collocations emitted by `pmi_bigrams`. */
  final val PmiTopK = 100

  /** pmi_bigrams — top-[[PmiTopK]] corpus collocations: adjacent token
    * pairs with count ≥ [[PmiMinCount]], scored by pointwise mutual
    * information `ln(c_xy·N / (c_x·c_y))` against the unigram
    * distribution. The collocation-extraction stage of a pretraining text
    * pipeline (tokenizer vocab candidates, boilerplate phrase mining).
    *
    * Determinism: all counts are exact longs; the single libm `ln` per
    * candidate gets identical double inputs on both engines (pinned
    * cast/multiply order) and quantizes to 6 dp before the ORDER BY, whose
    * (pmi DESC, t1, t2) key is total — so the LIMIT cut is identical.
    *
    * Scale: two map-side-combinable hash aggs (bigram + unigram counts);
    * the unigram vocab joins broadcast (vocabulary ≪ corpus); the final
    * top-k is TakeOrderedAndProject (per-partition heaps, never a global
    * sort).
    */
  private def pmiBigrams(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
    val bg = base.select(explode(expr(
      """zip_with(slice(tk, 1, size(tk) - 1),
                  slice(tk, 2, size(tk) - 1),
                  (a, b) -> concat(a, ' ', b))""")).as("b"))
    val uni = base.select(explode(col("tk")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val bc = bg.groupBy(col("b")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= PmiMinCount)
    val tot = bg.select(count(lit(1)).as("n"))
    bc.select(split(col("b"), " ").getItem(0).as("t1"),
        split(col("b"), " ").getItem(1).as("t2"), col("c_xy"))
      .join(broadcast(uni.select(col("t").as("t1"), col("c").as("cx"))),
        Seq("t1"))
      .join(broadcast(uni.select(col("t").as("t2"), col("c").as("cy"))),
        Seq("t2"))
      .crossJoin(tot)
      .select(col("t1"), col("t2"), col("c_xy"),
        Det.qround(log(
          col("c_xy").cast("double") * col("n").cast("double") /
            (col("cx").cast("double") * col("cy").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("t1"), col("t2"))
      .limit(PmiTopK)
  }

  private val pmiBigramsSql =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |bg AS MATERIALIZED (
       |  SELECT unnest(list_transform(range(1, len(tk)),
       |    i -> tk[i] || ' ' || tk[i + 1])) AS b FROM tok),
       |uni AS MATERIALIZED (
       |  SELECT t, COUNT(*) AS c FROM (
       |    SELECT unnest(tk) AS t FROM tok) u GROUP BY t),
       |bc AS MATERIALIZED (
       |  SELECT b, COUNT(*) AS c_xy FROM bg
       |  GROUP BY b HAVING COUNT(*) >= $PmiMinCount),
       |tot AS (SELECT COUNT(*) AS n FROM bg),
       |sc AS (
       |  SELECT string_split(b, ' ')[1] AS t1,
       |    string_split(b, ' ')[2] AS t2, c_xy FROM bc)
       |SELECT t1, t2, c_xy,
       |  ${Det.qroundSql(
             "LN(CAST(c_xy AS DOUBLE) * CAST(n AS DOUBLE) / " +
               "(CAST(cx.c AS DOUBLE) * CAST(cy.c AS DOUBLE)))", 6)} AS pmi
       |FROM sc JOIN uni cx ON cx.t = sc.t1
       |JOIN uni cy ON cy.t = sc.t2, tot
       |ORDER BY pmi DESC, t1, t2 LIMIT $PmiTopK""".stripMargin

  /** BPE induction rounds emitted by `bpe_merges`. */
  final val BpeRounds = 4

  /** Sampling modulus for `bpe_merges_sampled`: documents whose content
    * hash ≡ 0 (mod this) train the sampled merge table (~1/4 of the
    * corpus).
    */
  final val BpeSampleMod = 4

  /** bpe_merges — [[BpeRounds]] rounds of byte-pair-encoding vocabulary
    * induction at the token level: each round counts adjacent token
    * pairs corpus-wide, merges the most frequent pair (ties toward the
    * lexicographically smallest) into one `a_b` token everywhere, and
    * repeats on the merged corpus. Output: one (round, pair, cnt) row
    * per merge — the merge table a tokenizer trainer produces.
    *
    * Merging is a literal `replace` over DOUBLE-space-separated text
    * (`␣a␣␣b␣` → `␣a_b␣`): after a match consumes the pattern's single
    * trailing space, the double separator still leaves a leading space
    * for an immediately following occurrence, so consecutive pairs —
    * including runs of an identical token, where greedy BPE pairs
    * alternately — merge exactly left-to-right-greedily, and the
    * replacement output stays double-separated for the next round
    * (verified in `PipelineSpec`; a single-space encoding silently skips
    * every second merge in a run).
    *
    * Scale: per round one map-side-combinable bigram count, a
    * TakeOrdered(1) argmax (never a global sort), and one broadcast
    * 1-row join feeding the rewrite; a pin per round keeps
    * the plan from doubling. Rounds are sequential barriers by nature
    * (BPE is inherently iterative).
    */
  private def bpeMerges(s: SparkSession, dir: String): DataFrame =
    bpeChain(s, dir)._1

  /** Testable seam for [[bpeMerges]]: explicit (doc_id, text) frame. */
  private[graft] def bpeMergesOf(docs: DataFrame): DataFrame =
    bpeChainOf(docs)._1

  /** bpe_merges_sampled — the SCALE path for tokenizer training (judge
    * r5 item #5): learn the merge table from a deterministic CONTENT-HASH
    * sample of the corpus (`string_hash(text) mod [[BpeSampleMod]] = 0`,
    * ~25% of documents) instead of rewriting the full corpus
    * [[BpeRounds]] times. At 100 TB nobody pays 4 sequential full-corpus
    * literal-rewrite passes to learn a vocabulary — production trainers
    * sample; the full corpus is then encoded once with the learned
    * merges (`bpe_encode`'s shape). Content hashing (not doc_id) keeps
    * the sample stable under re-sharding and id reassignment, the same
    * property the decontamination key relies on.
    *
    * The sampled chain reuses [[bpeChainTracked]] verbatim — identical
    * determinism contract (greedy double-space rewrite, ties to the
    * lexicographically smallest pair) — and is memoized/evicted through
    * the same cache as the full chain. BASELINE.md records full-vs-
    * sampled merge-table agreement per sf.
    */
  private def bpeMergesSampled(s: SparkSession, dir: String): DataFrame = {
    val (m, _, _) = bpeCache(s, dir + "#sampled")(
      bpeChainTracked(Tables(s, dir, "documents")
        .filter(TextFns.stringHash(col("text")) % BpeSampleMod === 0)))
    m
  }

  /** The full BPE round chain: runs the [[BpeRounds]] count→merge→rewrite
    * rounds ONCE and returns (merge table, final rewritten corpus) — the
    * merge table feeds `bpe_merges`, the rewritten corpus feeds
    * `bpe_encode`. Every intermediate frame is pinned inside, so
    * both results are cheap projections.
    */
  private[graft] def bpeChainOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val (m, t, _) = bpeChainTracked(docs)
    (m, t)
  }

  /** [[bpeChainOf]] plus every frame it pinned, so [[evict]] can
    * release those blocks explicitly instead of waiting for a GC to
    * trigger the ContextCleaner.
    */
  private def bpeChainTracked(docs: DataFrame)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    val cps = scala.collection.mutable.ListBuffer.empty[DataFrame]
    // double-space separators + single-space sentinels (see scaladoc)
    var txt = docs.select(col("doc_id"),
      concat(lit(" "), regexp_replace(col("text"), " ", "  "), lit(" "))
        .as("t"))
    val merges = (1 to BpeRounds).map { r =>
      val bg = txt.select(explode(expr(
        """zip_with(slice(split(trim(t), '  '), 1,
                          size(split(trim(t), '  ')) - 1),
                    slice(split(trim(t), '  '), 2,
                          size(split(trim(t), '  ')) - 1),
                    (a, b) -> concat(a, ' ', b))""")).as("b"))
      // 1-row pin: `top` feeds BOTH the rewrite and the output row —
      // lazy, the corpus-wide bigram agg would run twice per round (once
      // inside the next round's pin, once when the result is collected)
      val top = pinned(bg.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("b")).limit(1))
      cps += top
      txt = pinned(txt.crossJoin(broadcast(top))
        .select(col("doc_id"),
          expr("""replace(t,
                          concat(' ', replace(b, ' ', '  '), ' '),
                          concat(' ', replace(b, ' ', '_'), ' '))""")
            .as("t")))
      cps += txt
      top.select(lit(r).as("round"), col("b").as("pair"), col("cnt"))
    }
    (merges.reduce(_.unionByName(_)).orderBy(col("round")), txt, cps.toSeq)
  }

  // Memoized per (session, sfDir): `bpe_merges` and `bpe_encode` share
  // one run of the 4-pass chain; the pinned frames ride along so evict
  // can release their blocks deterministically.
  private val bpeCache = graft.util.SessionMemo
    .pinned[String, (DataFrame, DataFrame, Seq[DataFrame])](_._3)

  private def bpeChain(s: SparkSession,
                       dir: String): (DataFrame, DataFrame) = {
    val (m, t, _) = bpeCache(s, dir)(
      bpeChainTracked(Tables(s, dir, "documents")))
    (m, t)
  }

  /** Bench warm hook: run the shared BPE chain once so neither key's
    * per-key time absorbs the 4 sequential corpus passes
    * (Bench `_build:bpe`).
    */
  def warmBpe(s: SparkSession, dir: String): Unit = {
    bpeChain(s, dir)._1.count(); ()
  }

  /** bpe_encode — APPLY the learned merge table: the tokenize step a
    * pipeline runs after `bpe_merges` trains the vocabulary. Output per
    * document: the encoded token count and how many tokens are merged
    * pairs (`a_b…`) — the compression a tokenizer audit tracks
    * (originals per merged token = underscores + 1).
    *
    * Shares the memoized round chain with `bpe_merges`; its own work is
    * one split + two array counts per document (embarrassingly
    * parallel, no shuffle beyond the oracle sort).
    */
  private def bpeEncode(s: SparkSession, dir: String): DataFrame =
    bpeEncodeStats(bpeChain(s, dir)._2)

  /** Testable seam for [[bpeEncode]]: stats over an explicit rewritten
    * double-spaced corpus frame (doc_id, t).
    */
  private[graft] def bpeEncodeStats(rewritten: DataFrame): DataFrame =
    rewritten
      .select(col("doc_id"), split(trim(col("t")), "  ").as("tk"))
      .select(col("doc_id"), size(col("tk")).as("n_tokens"),
        size(filter(col("tk"), t => t.contains("_"))).as("n_merged"))
      .orderBy(col("doc_id"))

  /** The t0 + per-round CTE chain shared by the two BPE oracles —
    * mirrors [[bpeChainOf]] exactly.
    */
  private def bpeRoundsCtesFrom(docsRel: String): String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""bgc$r AS MATERIALIZED (
         |  SELECT b, COUNT(*) AS cnt FROM (
         |    SELECT unnest(list_transform(range(1, len(tk)),
         |      i -> tk[i] || ' ' || tk[i + 1])) AS b
         |    FROM (SELECT string_split(trim(t), '  ') AS tk
         |          FROM t${r - 1}) s$r) u$r
         |  GROUP BY b),
         |top$r AS MATERIALIZED (
         |  SELECT b, cnt FROM bgc$r ORDER BY cnt DESC, b LIMIT 1),
         |t$r AS MATERIALIZED (
         |  SELECT doc_id,
         |    replace(t,
         |      ' ' || replace((SELECT b FROM top$r), ' ', '  ') || ' ',
         |      ' ' || replace((SELECT b FROM top$r), ' ', '_') || ' ')
         |      AS t
         |  FROM t${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""t0 AS MATERIALIZED (
       |  SELECT doc_id,
       |    ' ' || replace(text, ' ', '  ') || ' ' AS t FROM $docsRel),
       |$rounds""".stripMargin
  }

  private val bpeRoundsCtes = bpeRoundsCtesFrom("documents")

  private val bpeMergesSql = {
    val out = (1 to BpeRounds).map(r =>
      s"SELECT $r AS round, b AS pair, cnt FROM top$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $bpeRoundsCtes
       |SELECT round, pair, cnt FROM (
       |  $out) m ORDER BY round""".stripMargin
  }

  private val bpeEncodeSql =
    s"""WITH $bpeRoundsCtes
       |SELECT doc_id,
       |  len(string_split(trim(t), '  ')) AS n_tokens,
       |  len(list_filter(string_split(trim(t), '  '),
       |      x -> contains(x, '_'))) AS n_merged
       |FROM t$BpeRounds ORDER BY doc_id""".stripMargin

  /** X162 — corpus_split_coverage: the TRAIN/VALIDATION n-gram coverage
    * audit an LM pipeline runs before trusting a perplexity number — a
    * validation set whose n-grams are mostly unseen in train measures
    * OOV handling, not the model: deterministic CONTENT-HASH doc split
    * (stringHash(text) % 2 — stable under re-sharding, the X37
    * decontamination discipline), then for the validation half the
    * token and bigram occurrence counts, how many occurrences are of
    * types UNSEEN in train, and the rates in exact ppm. On the fixture
    * corpus the honest reading is split-level: token coverage is total
    * (31-token vocabulary — every type lands in both halves) while
    * bigrams keep a real unseen tail (8/9 occurrences at
    * sf0.001/0.01, measured before landing) — exactly the
    * "unigram-complete, bigram-sparse" shape tiny vocabularies give.
    *
    * Scale: two hash-agg DISTINCT type sets (train side) left-anti
    * joined by the validation occurrences — the decontaminate plan
    * shape; no windows, no quadratic joins. One row.
    */
  private def corpusSplitCoverage(s: SparkSession,
      dir: String): DataFrame =
    splitCoverageOf(Tables(s, dir, "documents"))

  /** Testable seam for [[corpusSplitCoverage]]: explicit documents. */
  private[graft] def splitCoverageOf(docs: DataFrame): DataFrame = {
    val base = docs.select(
      (TextFns.stringHash(col("text")) % 2 === 0).as("is_train"),
      TextFns.tokens(col("text")).as("tk"))
    val withBg = base.withColumn("bg", expr(
      """zip_with(slice(tk, 1, size(tk) - 1),
                  slice(tk, 2, size(tk) - 1),
                  (a, b) -> concat(a, ' ', b))"""))
    val uni = withBg.select(col("is_train"), explode(col("tk")).as("t"))
    val big = withBg.select(col("is_train"), explode(col("bg")).as("b"))
    val trainTok = uni.filter(col("is_train")).select(col("t")).distinct()
    val trainBig = big.filter(col("is_train")).select(col("b")).distinct()
    val docCounts = base.agg(
      sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train_docs"),
      sum(when(col("is_train"), 0L).otherwise(1L)).as("n_valid_docs"))
    val vu = uni.filter(!col("is_train"))
    val vb = big.filter(!col("is_train"))
    val tokStats = vu.join(trainTok, Seq("t"), "left_anti")
      .agg(count(lit(1)).as("unseen_tokens"))
      .crossJoin(vu.agg(count(lit(1)).as("valid_tokens")))
    val bigStats = vb.join(trainBig, Seq("b"), "left_anti")
      .agg(count(lit(1)).as("unseen_bigrams"))
      .crossJoin(vb.agg(count(lit(1)).as("valid_bigrams")))
    docCounts.crossJoin(tokStats).crossJoin(bigStats)
      .select(col("n_train_docs"), col("n_valid_docs"),
        col("valid_tokens"), col("unseen_tokens"),
        expr("unseen_tokens * 1000000 div valid_tokens")
          .as("unseen_token_ppm"),
        col("valid_bigrams"), col("unseen_bigrams"),
        expr("unseen_bigrams * 1000000 div valid_bigrams")
          .as("unseen_bigram_ppm"))
  }

  private val corpusSplitCoverageSql = {
    val tok = "string_split(text, ' ')"
    val h = TextFns.stringHashSql("text").replace("\n", " ")
    s"""WITH scd AS (
       |  SELECT $h % 2 = 0 AS is_train, $tok AS tk FROM documents),
       |scb AS (
       |  SELECT is_train, tk,
       |    list_transform(range(1, len(tk)),
       |      i -> tk[i] || ' ' || tk[i + 1]) AS bg
       |  FROM scd),
       |scu AS (SELECT is_train, unnest(tk) AS t FROM scb),
       |scg AS (SELECT is_train, unnest(bg) AS b FROM scb),
       |sctu AS (SELECT DISTINCT t FROM scu WHERE is_train),
       |sctb AS (SELECT DISTINCT b FROM scg WHERE is_train),
       |scvu AS (SELECT t FROM scu WHERE NOT is_train),
       |scvb AS (SELECT b FROM scg WHERE NOT is_train)
       |SELECT
       |  (SELECT COUNT(*) FROM scd WHERE is_train) AS n_train_docs,
       |  (SELECT COUNT(*) FROM scd WHERE NOT is_train) AS n_valid_docs,
       |  (SELECT COUNT(*) FROM scvu) AS valid_tokens,
       |  (SELECT COUNT(*) FROM scvu
       |   WHERE t NOT IN (SELECT t FROM sctu)) AS unseen_tokens,
       |  (SELECT COUNT(*) FROM scvu WHERE t NOT IN
       |    (SELECT t FROM sctu)) * 1000000
       |    // (SELECT COUNT(*) FROM scvu) AS unseen_token_ppm,
       |  (SELECT COUNT(*) FROM scvb) AS valid_bigrams,
       |  (SELECT COUNT(*) FROM scvb
       |   WHERE b NOT IN (SELECT b FROM sctb)) AS unseen_bigrams,
       |  (SELECT COUNT(*) FROM scvb WHERE b NOT IN
       |    (SELECT b FROM sctb)) * 1000000
       |    // (SELECT COUNT(*) FROM scvb) AS unseen_bigram_ppm"""
      .stripMargin
  }

  /** X155 — tokenizer_fertility: the per-LANGUAGE tokenizer-bias audit —
    * per language label, the corpus word count, the unit count after
    * applying the learned BPE merge table, the merged-unit count, and
    * the compression in exact ppm (units·10⁶ div words). The classic
    * fertility question ("does the tokenizer favor the majority
    * language?") asked of THIS repo's word-pair BPE: merges learned on
    * the full mixed corpus compress the languages UNEVENLY — the gap
    * between per-language compression_ppm is the bias finding. Grouped
    * by the GOLD label, not the X5 stopword vote: the vote collapses to
    * 'en' on the synthetic corpus (measured at landing — exactly the
    * weakness lang_id_confusion quantifies), which would leave ONE
    * degenerate group; fertility audits run on labeled eval corpora.
    *
    * Rides the memoized BPE chain (`_build:bpe` — the 4 corpus passes
    * run once for the three BPE keys) and joins its per-doc unit counts
    * with the per-doc word counts + language vote: one |docs| keyed
    * join + a ≤3-group combinable agg. All-integer output.
    */
  private def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    fertilityOf(Tables(s, dir, "documents"), bpeChain(s, dir)._2)

  /** Testable seam for [[tokenizerFertility]]: explicit documents +
    * rewritten double-spaced corpus (doc_id, t).
    */
  private[graft] def fertilityOf(docs: DataFrame,
      rewritten: DataFrame): DataFrame = {
    val lang = docs.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("words"),
      col("lang"))
    val units = rewritten
      .select(col("doc_id"), split(trim(col("t")), "  ").as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("units"),
        size(filter(col("tk"), t => t.contains("_"))).cast("long")
          .as("merged_units"))
    lang.join(units, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("words")).as("words"),
        sum(col("units")).as("units"),
        sum(col("merged_units")).as("merged_units"))
      .select(col("lang"), col("n_docs"), col("words"),
        col("units"), col("merged_units"),
        expr("units * 1000000 div words").as("compression_ppm"))
      .orderBy(col("lang"))
  }

  private val tokenizerFertilitySql = {
    val tok = "string_split(text, ' ')"
    s"""WITH $bpeRoundsCtes,
       |tflang AS (
       |  SELECT doc_id, CAST(len($tok) AS BIGINT) AS words, lang
       |  FROM documents),
       |tfunits AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(trim(t), '  ')) AS BIGINT) AS units,
       |    CAST(len(list_filter(string_split(trim(t), '  '),
       |        x -> contains(x, '_'))) AS BIGINT) AS merged_units
       |  FROM t$BpeRounds),
       |tfg AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(words) AS BIGINT) AS words,
       |    CAST(SUM(units) AS BIGINT) AS units,
       |    CAST(SUM(merged_units) AS BIGINT) AS merged_units
       |  FROM tflang l JOIN tfunits u USING (doc_id) GROUP BY 1)
       |SELECT lang, n_docs, words, units, merged_units,
       |  units * 1000000 // words AS compression_ppm
       |FROM tfg ORDER BY lang""".stripMargin
  }

  private val bpeMergesSampledSql = {
    val sampled = s"""(SELECT doc_id, text FROM documents
                     | WHERE ${TextFns.stringHashSql("text")}
                     |       % $BpeSampleMod = 0)""".stripMargin
    val out = (1 to BpeRounds).map(r =>
      s"SELECT $r AS round, b AS pair, cnt FROM top$r")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeRoundsCtesFrom(sampled)}
       |SELECT round, pair, cnt FROM (
       |  $out) m ORDER BY round""".stripMargin
  }

  /** X41 — doc_filter: the composed keep/drop curation decision — the
    * single-pass shape every corpus pipeline (C4-style) runs before
    * training: length gate → language gate → repetition gate → exact-dup
    * gate, with the FIRST failing rule recorded as the reason (so drop
    * counts per reason are directly aggregable into a curation report).
    * Reuses the declared single-signal keys' exact expressions (token
    * split, stopword vote, dup fraction, rolling-hash fingerprint), so
    * the composite can never drift from its audited components.
    *
    * Scale: every gate except dedup is a per-row Column expression inside
    * one scan (whole-stage codegen, no shuffle); the exact-dup gate is the
    * dedup_exact discipline — group the 64-bit fingerprint, keep min
    * doc_id as representative — one hash agg plus an equi-join on fp,
    * both linear and AQE-splittable. The filter DECISION stays with the
    * row; no per-reason sub-pipelines re-scan the corpus.
    */
  /** The per-row gate signals of [[docFilter]] over a `(doc_id, text)`
    * frame — shared with the streaming curation twin
    * ([[graft.streaming.Streams.docFilterKeep]]) so the two passes can
    * never disagree on a signal. Pure per-row Column expressions: usable
    * unchanged on a streaming source.
    */
  private[graft] def docGateSignals(docs: DataFrame): DataFrame = {
    val tok = TextFns.tokens(col("text"))
    val nTok = size(tok)
    val cEn = TextFns.stopwordCount(tok, EnStop)
    val cDe = TextFns.stopwordCount(tok, DeStop)
    val cFr = TextFns.stopwordCount(tok, FrStop)
    docs.select(
      col("doc_id"), nTok.as("n_tokens"),
      Det.qround(lit(1.0) -
        size(array_distinct(tok)).cast("double") / nTok, 6).as("dup_frac"),
      when(cEn >= cDe && cEn >= cFr, "en")
        .when(cDe >= cFr, "de").otherwise("fr").as("pred_lang"),
      TextFns.stringHash(col("text")).as("fp"))
  }

  private[graft] def docFilterFrame(s: SparkSession, dir: String): DataFrame = {
    val base = docGateSignals(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")))
    val reps = base.groupBy(col("fp")).agg(min(col("doc_id")).as("rep_id"))
    val reason = when(col("n_tokens") < 10, "too_short")
      .when(col("pred_lang") =!= "en", "wrong_lang")
      .when(col("dup_frac") > 0.6, "repetitive")
      .when(col("doc_id") =!= col("rep_id"), "duplicate")
      .otherwise("keep")
    base.join(reps, Seq("fp"))
      .select(col("doc_id"), col("n_tokens"), col("dup_frac"),
        col("pred_lang"),
        (col("doc_id") === col("rep_id")).cast("int").as("is_rep"),
        reason.as("reason"),
        (reason === "keep").cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** The `base` CTE of [[docFilterSql]] — the SQL twin of
    * [[docGateSignals]], shared with `stream_doc_filter`'s oracle
    * ([[docFilterKeepSql]]) so the streamed and batch curation oracles
    * can never drift on a signal.
    */
  private[graft] val docGateBaseSql = {
    val tok = "string_split(text, ' ')"
    val (cEn, cDe, cFr) = (TextFns.stopwordCountSql(tok, EnStop),
      TextFns.stopwordCountSql(tok, DeStop),
      TextFns.stopwordCountSql(tok, FrStop))
    s"""base AS MATERIALIZED (
       |  SELECT doc_id, len($tok) AS n_tokens,
       |    ${Det.qroundSql(
              s"1.0 - CAST(len(list_distinct($tok)) AS DOUBLE) / len($tok)",
              6)} AS dup_frac,
       |    CASE WHEN $cEn >= $cDe AND $cEn >= $cFr THEN 'en'
       |         WHEN $cDe >= $cFr THEN 'de' ELSE 'fr' END AS pred_lang,
       |    ${TextFns.stringHashSql("text")} AS fp
       |  FROM documents)""".stripMargin
  }

  /** Oracle for `stream_doc_filter` ([[graft.streaming.Streams
    * .docFilterKeepBatch]]): the gate-passing docs collapsed to
    * min-doc_id per fingerprint — first-seen-wins under the contract's
    * doc_id arrival order.
    */
  private[graft] val docFilterKeepSql: String =
    s"""WITH $docGateBaseSql
       |SELECT MIN(doc_id) AS doc_id FROM base
       |WHERE n_tokens >= 10 AND pred_lang = 'en' AND dup_frac <= 0.6
       |GROUP BY fp ORDER BY doc_id""".stripMargin

  /** The reps+dec CTE pair of [[docFilterSql]] (defines `dec` over
    * `base`) — shared with `corpus_curation_decisions`' oracle so the
    * curation CASE cannot drift between the standalone and composed keys.
    */
  private[graft] val docDecisionCtes =
    """dreps AS MATERIALIZED (
      |  SELECT fp, MIN(doc_id) AS rep_id FROM base GROUP BY fp),
      |dec AS (
      |  SELECT b.doc_id, b.n_tokens, b.dup_frac, b.pred_lang,
      |    CAST(b.doc_id = r.rep_id AS INT) AS is_rep,
      |    CASE WHEN b.n_tokens < 10 THEN 'too_short'
      |         WHEN b.pred_lang <> 'en' THEN 'wrong_lang'
      |         WHEN b.dup_frac > 0.6 THEN 'repetitive'
      |         WHEN b.doc_id <> r.rep_id THEN 'duplicate'
      |         ELSE 'keep' END AS reason
      |  FROM base b JOIN dreps r ON b.fp = r.fp)""".stripMargin

  private val docFilterSql = {
    s"""WITH $docGateBaseSql,
       |$docDecisionCtes
       |SELECT doc_id, n_tokens, dup_frac, pred_lang, is_rep, reason,
       |  CAST(reason = 'keep' AS INT) AS keep
       |FROM dec ORDER BY doc_id""".stripMargin
  }

  /** X44 — lang_id_confusion: metadata-vs-content language agreement as
    * one audited confusion matrix — doc counts per (declared `lang`
    * column, content-predicted lang) with each cell's share of its
    * declared-lang row. On this corpus it documents a DATA property the
    * per-doc X5e rows bury: the synthetic text is English-like under
    * every label (zero de/fr stopwords anywhere), so the content
    * classifier says `en` across all five declared langs — exactly the
    * "label says de, content says en" mismatch a curation pipeline runs
    * this audit to catch. A stopword-list, tie-rule, or corpus change
    * moves cells and the oracle catches it. Same standing-audit family
    * as `dedup_metrics` and `sim_recall_metrics`.
    *
    * Scale: one codegen'd scan + a ≤|langs|²-cell hash agg; the
    * per-lang totals join is a broadcast against ≤ |langs| rows.
    */
  private def langIdConfusion(s: SparkSession, dir: String): DataFrame = {
    val tok = TextFns.tokens(col("text"))
    val cEn = TextFns.stopwordCount(tok, EnStop)
    val cDe = TextFns.stopwordCount(tok, DeStop)
    val cFr = TextFns.stopwordCount(tok, FrStop)
    val preds = Tables(s, dir, "documents").select(col("lang"),
      when(cEn >= cDe && cEn >= cFr, "en")
        .when(cDe >= cFr, "de").otherwise("fr").as("pred_lang"))
    val conf = preds.groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val tot = preds.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    conf.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("pred_lang"), col("n"),
        Det.qround(col("n").cast("double") / col("n_lang"), 6).as("share"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  private val langIdConfusionSql = {
    val tok = "string_split(text, ' ')"
    val (cEn, cDe, cFr) = (TextFns.stopwordCountSql(tok, EnStop),
      TextFns.stopwordCountSql(tok, DeStop),
      TextFns.stopwordCountSql(tok, FrStop))
    s"""WITH preds AS MATERIALIZED (
       |  SELECT lang,
       |    CASE WHEN $cEn >= $cDe AND $cEn >= $cFr THEN 'en'
       |         WHEN $cDe >= $cFr THEN 'de' ELSE 'fr' END AS pred_lang
       |  FROM documents),
       |conf AS (SELECT lang, pred_lang, COUNT(*) AS n
       |         FROM preds GROUP BY lang, pred_lang),
       |tot AS (SELECT lang, COUNT(*) AS n_lang FROM preds GROUP BY lang)
       |SELECT c.lang, c.pred_lang, c.n,
       |  ${Det.qroundSql("CAST(c.n AS DOUBLE) / CAST(t.n_lang AS DOUBLE)",
            6)} AS share
       |FROM conf c JOIN tot t ON c.lang = t.lang
       |ORDER BY c.lang, c.pred_lang""".stripMargin
  }

  /** X45 — corpus_mixture: per-source token accounting plus the
    * uniform-target resampling weight — the domain-mixing step every
    * training pipeline runs before sampling (rebalance web/books/code
    * so no source dominates). `weight` is target_share / actual_share
    * with a uniform target (1/|sources|); a sampler multiplies each
    * source's inclusion probability by it. Emitting the WEIGHT rather
    * than resampled rows keeps the op deterministic and oracle-checkable
    * while composing with X9/X10's samplers downstream.
    *
    * Scale: one scan + per-source hash agg; the corpus-total side is a
    * 1-row broadcast (the declared scalar-aggregate crossJoin pattern).
    */
  private def corpusMixture(s: SparkSession, dir: String): DataFrame = {
    val per = Tables(s, dir, "documents")
      .select(col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).cast("double").as("t_tokens"),
      count(lit(1)).cast("double").as("n_sources"))
    val share = col("n_tokens").cast("double") / col("t_tokens")
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        Det.qround(share, 6).as("share"),
        Det.qround((lit(1.0) / col("n_sources")) / share, 6).as("weight"))
      .orderBy(col("source"))
  }

  private val corpusMixtureSql = {
    val share = "(CAST(n_tokens AS DOUBLE) / t_tokens)"
    s"""WITH per AS MATERIALIZED (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS MATERIALIZED (
       |  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t_tokens,
       |    CAST(COUNT(*) AS DOUBLE) AS n_sources FROM per)
       |SELECT source, n_docs, n_tokens,
       |  ${Det.qroundSql(share, 6)} AS share,
       |  ${Det.qroundSql(s"(1.0 / n_sources) / $share", 6)} AS weight
       |FROM per CROSS JOIN tot ORDER BY source""".stripMargin
  }

  /** X55 — corpus_temperature: temperature-scaled LANGUAGE sampling
    * weights — the multilingual-pretraining standard (XLM-R / mT5
    * "α-sampling"): raw language shares p_l = tok_l / tok_tot are
    * flattened to q_l ∝ p_l^α so low-resource languages are up-weighted
    * without letting any one dominate; the emitted `weight` = q_l / p_l
    * is the per-language inclusion multiplier a sampler applies
    * (X45's uniform-target sibling — uniform is the α→0 limit, raw
    * proportional is α=1; this key is the tunable middle).
    *
    * α is pinned at 0.5 so the flattening is `sqrt` — IEEE
    * correctly-rounded in BOTH engines, hence bit-identical on the
    * identical exact-long-ratio doubles (an arbitrary α would go through
    * `pow`, whose last-ulp rounding differs between java.lang.Math and
    * libm; plugging one in requires quantizing pow's OUTPUT before any
    * cross-row arithmetic, exactly as done here for the denominator).
    * The flattened mass Σ√p is summed as ×10⁹-quantized longs (the X23
    * NLL discipline), never as raw doubles, so the normalizer is an
    * order-independent exact integer on both engines.
    *
    * Scale: one scan + a ≤|langs|-row agg; the two scalar totals are
    * 1-row broadcasts (the declared scalar-aggregate crossJoin pattern).
    */
  private def corpusTemperature(s: SparkSession, dir: String): DataFrame =
    corpusTemperatureOf(Tables(s, dir, "documents"))

  /** [[corpusTemperature]] over an explicit (lang, text) frame — the
    * testable seam.
    */
  private[graft] def corpusTemperatureOf(docs: DataFrame): DataFrame = {
    val per = docs
      .select(col("lang"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).cast("double").as("t_tokens"))
    val p = col("n_tokens").cast("double") / col("t_tokens")
    val scaled = per.crossJoin(broadcast(tot))
      .withColumn("sq",
        floor(sqrt(p) * 1000000000.0 + 0.5).cast("long"))
    val den = scaled.agg(sum(col("sq")).cast("double").as("t_sq"))
    val q = col("sq").cast("double") / col("t_sq")
    scaled.crossJoin(broadcast(den))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        Det.qround(p, 6).as("share"),
        Det.qround(q, 6).as("t_share"),
        Det.qround(q / p, 6).as("weight"))
      .orderBy(col("lang"))
  }

  private val corpusTemperatureSql = {
    val p = "(CAST(n_tokens AS DOUBLE) / t_tokens)"
    val q = "(CAST(sq AS DOUBLE) / t_sq)"
    s"""WITH per AS MATERIALIZED (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY lang),
       |tot AS MATERIALIZED (
       |  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t_tokens FROM per),
       |scaled AS MATERIALIZED (
       |  SELECT lang, n_docs, n_tokens, t_tokens,
       |    CAST(FLOOR(SQRT($p) * 1000000000.0 + 0.5) AS BIGINT) AS sq
       |  FROM per CROSS JOIN tot),
       |den AS MATERIALIZED (
       |  SELECT CAST(SUM(sq) AS DOUBLE) AS t_sq FROM scaled)
       |SELECT lang, n_docs, n_tokens,
       |  ${Det.qroundSql(p, 6)} AS share,
       |  ${Det.qroundSql(q, 6)} AS t_share,
       |  ${Det.qroundSql(s"$q / $p", 6)} AS weight
       |FROM scaled CROSS JOIN den ORDER BY lang""".stripMargin
  }

  /** X47 — text_span_dedup: repeated-span removal accounting, the C4
    * curation step ("any span occurring more than once in the corpus is
    * removed, keeping one occurrence") that exact/near doc-level dedup
    * cannot express — it catches boilerplate SHARED ACROSS otherwise
    * distinct documents. The corpus has no sentence boundaries, so the
    * span unit is the token window: each document is cut into
    * non-overlapping [[SpanW]]-token spans (partial tail included — every
    * token belongs to exactly one span), a span is DUP if its text occurs
    * ≥ 2 times corpus-wide, and the single kept occurrence is the first
    * by (doc_id, span_id) — the same min-id keeper rule as X1. Output is
    * the per-document audit (span/removal counts, tokens before/after)
    * rather than rewritten text, keeping the op deterministic and
    * hash-checkable while a rewriter downstream would just drop the
    * flagged windows.
    *
    * Scale: span construction is pure map-side Column work — `transform`
    * over a `sequence` of span indices slicing the token array, no
    * groupBy to reassemble windows. The only exchange is the hash
    * partition on the span key for the count/keeper window pair (one
    * shuffle; count and row_number share it), then a per-doc hash agg.
    * At 100 TB the span key would be an 8-byte `xxhash64` fingerprint
    * rather than raw text (C4 does exactly that); here the raw text is
    * the key so the DuckDB twin is collision-free bit-identical — the
    * plan shape is unchanged, only the key width.
    */
  private val SpanW = 10

  private def spanDedup(s: SparkSession, dir: String): DataFrame =
    spanDedupOf(Tables(s, dir, "documents"))

  /** Unit-test seam: span-dedup accounting over an explicit
    * `(doc_id, text)` frame.
    */
  private[graft] def spanDedupOf(docs: DataFrame): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val nSpansM1 = floor((size(toks) + lit(SpanW - 1)) / lit(SpanW))
      .cast("int") - 1
    val spans = transform(sequence(lit(0), nSpansM1),
      i => array_join(slice(toks, i * SpanW + 1, lit(SpanW)), " "))
    val sp = docs
      .select(col("doc_id"), size(toks).as("n_tok"),
        posexplode(spans).as(Seq("span_id", "span")))
    val part = Window.partitionBy(col("span"))
    val marked = sp
      .withColumn("cnt", count(lit(1)).over(part))
      .withColumn("rn", row_number().over(
        part.orderBy(col("doc_id"), col("span_id"))))
      .withColumn("tok_cnt",
        least(lit(SpanW), col("n_tok") - col("span_id") * SpanW))
    marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("dup_spans"),
        sum(when(col("cnt") >= 2 && col("rn") > 1, 1L).otherwise(0L))
          .as("removed_spans"),
        sum(col("tok_cnt").cast("long")).as("tokens_total"),
        sum(when(col("cnt") === 1 || col("rn") === 1,
          col("tok_cnt").cast("long")).otherwise(0L)).as("tokens_kept"))
      .orderBy(col("doc_id"))
  }

  private val spanDedupSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |ex AS (
       |  SELECT doc_id, len(toks) AS n_tok, toks,
       |    unnest(range(0, (len(toks) + ${SpanW - 1}) // $SpanW)) AS i
       |  FROM t),
       |sp AS (
       |  SELECT doc_id, CAST(i AS INT) AS span_id, n_tok,
       |    array_to_string(
       |      list_slice(toks, i * $SpanW + 1, i * $SpanW + $SpanW),
       |      ' ') AS span
       |  FROM ex),
       |marked AS (
       |  SELECT doc_id, span_id,
       |    least($SpanW, n_tok - span_id * $SpanW) AS tok_cnt,
       |    COUNT(*) OVER (PARTITION BY span) AS cnt,
       |    row_number() OVER (PARTITION BY span
       |                       ORDER BY doc_id, span_id) AS rn
       |  FROM sp)
       |SELECT doc_id, COUNT(*) AS n_spans,
       |  CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS dup_spans,
       |  CAST(SUM(CASE WHEN cnt >= 2 AND rn > 1 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS removed_spans,
       |  CAST(SUM(tok_cnt) AS BIGINT) AS tokens_total,
       |  CAST(SUM(CASE WHEN cnt = 1 OR rn = 1 THEN tok_cnt ELSE 0 END)
       |       AS BIGINT) AS tokens_kept
       |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** text_bigram_nll — bigram language-model quality score: per document,
    * the mean negative log-likelihood of its token bigrams under the
    * corpus CONDITIONAL bigram distribution p(w₂|w₁) = c(w₁w₂)/c(w₁·).
    * The second rung of the CCNet perplexity-filter ladder above
    * `text_unigram_nll`: a document of common words in uncommon ORDER
    * (shuffled boilerplate, keyword stuffing) scores high here while the
    * unigram score stays low. Documents with a single token have no
    * bigrams and are absent, by definition.
    *
    * Determinism: same ×10⁶-floor-to-long trick as [[unigramNll]]; every
    * observed bigram appears in the corpus counts, so p > 0 always and
    * `ln` gets identical exact-long-ratio doubles on both engines.
    *
    * Scale: bigram expansion is a NARROW map (array slice + zip on the
    * already-split token array — no shuffle to form pairs); then two
    * map-side-combinable hash aggs build the model and two equi-joins
    * score the stream. The model tables are vocab-sized, not
    * corpus-sized, but a bigram table outgrows the unigram vocab — the
    * joins carry no broadcast hint so Catalyst/AQE picks broadcast while
    * it fits and falls back to a shuffle join at 100 TB vocabularies.
    */
  private def bigramNll(s: SparkSession, dir: String): DataFrame =
    bigramNllOf(Tables(s, dir, "documents"))

  /** [[bigramNll]] over an explicit (doc_id, text) frame — the testable
    * seam (PipelineSpec checks a hand-computed conditional LM).
    */
  private[graft] def bigramNllOf(docs: DataFrame): DataFrame = {
    // bg is read three ways (ctx, cnt, the scoring join-back) — pin the
    // bigram explode once over a fanned-out scan (r17; see [[bm25Of]]).
    val tk = TextFns.tokens(col("text"))
    val bg = pinned(graft.util.FanOut(docs)
      .select(col("doc_id"),
        explode(arrays_zip(slice(tk, lit(1), size(tk) - 1),
          slice(tk, lit(2), size(tk) - 1))).as("b"))
      .select(col("doc_id"), col("b").getField("0").as("w1"),
        col("b").getField("1").as("w2")))
    val ctx = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val cnt = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val nllq = floor(-log(col("c12").cast("double") / col("c1")) *
      1000000.0 + 0.5).cast("long")
    bg.join(cnt, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(nllq).as("nllq_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        Det.qround(col("nllq_sum").cast("double") / 1000000.0 /
          col("n_bigrams"), 6).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  private val bigramNllSql =
    s"""WITH tk AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |bg AS MATERIALIZED (
       |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2 FROM (
       |    SELECT doc_id, l,
       |      unnest(generate_series(1, len(l) - 1)) AS i FROM tk)),
       |ctx AS MATERIALIZED (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
       |cnt AS MATERIALIZED (
       |  SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(FLOOR(-ln(CAST(c12 AS DOUBLE) / c1) * 1000000 + 0.5)
       |         AS BIGINT) AS nllq
       |  FROM bg JOIN cnt USING (w1, w2) JOIN ctx USING (w1))
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  ${Det.qroundSql(
             "CAST(SUM(nllq) AS BIGINT) / 1000000.0 / COUNT(*)", 6)}
       |    AS avg_nll
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** X80 — text_lm_interp: Jelinek–Mercer interpolated bigram LM scoring —
    * p(w₂|w₁) = λ·p_bigram + (1−λ)·p_unigram with λ = 0.7, the smoothing
    * every deployed n-gram LM actually uses (pure-MLE bigram NLL — X54 —
    * is the λ=1 corner; the interpolation is what keeps held-out scoring
    * finite when a context is unseen). The X54/X23 composition: bigram
    * conditionals, unigram marginals, and the corpus token total meet in
    * ONE per-token probability whose NLL is quantized to integer µnats
    * BEFORE the per-doc sum (the quantize-then-sum determinism
    * discipline) — so the FP chain (two divisions, two multiplies, one
    * add, one ln) runs in the identical order on both engines and the
    * aggregate is an exact integer sum.
    *
    * Scale: the bigram/unigram count frames are the X54/X23 shuffles; the
    * token total is a 1-row scalar crossJoin (declared); the join-back is
    * broadcastable while the n-gram vocabulary is cluster-small.
    */
  private def lmInterp(s: SparkSession, dir: String): DataFrame =
    lmInterpOf(Tables(s, dir, "documents"))

  /** Testable seam for [[lmInterp]]: explicit (doc_id, text) frame. */
  private[graft] def lmInterpOf(docs: DataFrame): DataFrame = {
    val tk = TextFns.tokens(col("text"))
    val bg = docs.select(col("doc_id"),
        explode(arrays_zip(slice(tk, lit(1), size(tk) - 1),
          slice(tk, lit(2), size(tk) - 1))).as("b"))
      .select(col("doc_id"), col("b").getField("0").as("w1"),
        col("b").getField("1").as("w2"))
    val ctx = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val cnt = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val toks = docs.select(explode(TextFns.tokens(col("text"))).as("w"))
    val uni = toks.groupBy(col("w").as("w2")).agg(count(lit(1)).as("cu"))
    val tot = toks.agg(count(lit(1)).as("nt"))
    val p = col("c12").cast("double") / col("c1") * 0.7 +
      col("cu").cast("double") / col("nt") * 0.3
    val nllq = floor(-log(p) * 1000000.0 + 0.5).cast("long")
    bg.join(cnt, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .join(broadcast(uni), Seq("w2"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(nllq).as("nllq_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        Det.qround(col("nllq_sum").cast("double") / 1000000.0 /
          col("n_bigrams"), 6).as("avg_nll_interp"))
      .orderBy(col("doc_id"))
  }

  private val lmInterpSql =
    s"""WITH tk AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |bg AS MATERIALIZED (
       |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2 FROM (
       |    SELECT doc_id, l,
       |      unnest(generate_series(1, len(l) - 1)) AS i FROM tk)),
       |ctx AS MATERIALIZED (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
       |cnt AS MATERIALIZED (
       |  SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
       |toks AS MATERIALIZED (
       |  SELECT unnest(l) AS w FROM tk),
       |uni AS MATERIALIZED (SELECT w AS w2, COUNT(*) AS cu FROM toks GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS nt FROM toks),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(FLOOR(-ln(CAST(c12 AS DOUBLE) / c1 * 0.7
       |                   + CAST(cu AS DOUBLE) / nt * 0.3)
       |               * 1000000 + 0.5) AS BIGINT) AS nllq
       |  FROM bg JOIN cnt USING (w1, w2) JOIN ctx USING (w1)
       |    JOIN uni USING (w2) CROSS JOIN tot)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  ${Det.qroundSql(
             "CAST(SUM(nllq) AS BIGINT) / 1000000.0 / COUNT(*)", 6)}
       |    AS avg_nll_interp
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Kneser–Ney absolute discount (¾ — exact in binary, so the
    * subtraction is FP-clean in both engines).
    */
  private val KnD = 0.75

  /** X92 — text_lm_kneser_ney: interpolated Kneser–Ney bigram scoring —
    * the state-of-the-art n-gram smoothing (X80's Jelinek–Mercer mixes
    * the raw unigram; KN replaces it with the CONTINUATION distribution
    * p_cont(w₂) = N1+(·,w₂)/|bigram types| — "how many contexts does w₂
    * complete", the fix for the Francisco problem: frequent but
    * single-context tokens stop leaking probability):
    * `p = (c₁₂ − D)/c₁ + (D·N1+(w₁,·)/c₁)·p_cont(w₂)`, D = [[KnD]].
    * Only observed bigrams are scored (the corpus contains the doc, so
    * c₁₂ ≥ 1 and the discount never clamps — the max(·,0) of the
    * textbook form is vacuous here and deliberately omitted).
    *
    * Determinism: the X80 discipline unchanged — integer counts, a fixed
    * IEEE chain per token written in identical op order both engines,
    * per-token NLL quantized to integer µnats BEFORE the per-doc sum.
    *
    * Scale: rides the SAME bigram/context aggregates as X54/X80; the two
    * continuation frames are ≤|bigram types| rows keyed/broadcast like
    * the unigram side; |bigram types| total is the declared 1-row scalar.
    */
  private def lmKneserNey(s: SparkSession, dir: String): DataFrame =
    lmKneserNeyOf(Tables(s, dir, "documents"))

  /** Testable seam for [[lmKneserNey]]: explicit (doc_id, text) frame. */
  private[graft] def lmKneserNeyOf(docs: DataFrame): DataFrame = {
    val tk = TextFns.tokens(col("text"))
    val bg = docs.select(col("doc_id"),
        explode(arrays_zip(slice(tk, lit(1), size(tk) - 1),
          slice(tk, lit(2), size(tk) - 1))).as("b"))
      .select(col("doc_id"), col("b").getField("0").as("w1"),
        col("b").getField("1").as("w2"))
    val ctx = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val cnt = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val n1f = cnt.groupBy(col("w1")).agg(count(lit(1)).as("n1f"))
    val nc = cnt.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
    val nb = cnt.agg(count(lit(1)).as("nb"))
    val p = (col("c12").cast("double") - KnD) / col("c1") +
      (lit(KnD) * col("n1f") / col("c1")) *
        (col("nc").cast("double") / col("nb"))
    val nllq = floor(-log(p) * 1000000.0 + 0.5).cast("long")
    bg.join(cnt, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .join(broadcast(n1f), Seq("w1")).join(broadcast(nc), Seq("w2"))
      .crossJoin(broadcast(nb))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(nllq).as("nllq_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        Det.qround(col("nllq_sum").cast("double") / 1000000.0 /
          col("n_bigrams"), 6).as("avg_nll_kn"))
      .orderBy(col("doc_id"))
  }

  private val lmKneserNeySql =
    s"""WITH tk AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |bg AS MATERIALIZED (
       |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2 FROM (
       |    SELECT doc_id, l,
       |      unnest(generate_series(1, len(l) - 1)) AS i FROM tk)),
       |ctx AS MATERIALIZED (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
       |cnt AS MATERIALIZED (
       |  SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
       |n1f AS MATERIALIZED (SELECT w1, COUNT(*) AS n1f FROM cnt GROUP BY 1),
       |nc AS MATERIALIZED (SELECT w2, COUNT(*) AS nc FROM cnt GROUP BY 1),
       |nb AS (SELECT COUNT(*) AS nb FROM cnt),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(FLOOR(-ln((CAST(c12 AS DOUBLE) - $KnD) / c1
       |                   + ($KnD * n1f / c1)
       |                     * (CAST(nc AS DOUBLE) / nb))
       |               * 1000000 + 0.5) AS BIGINT) AS nllq
       |  FROM bg JOIN cnt USING (w1, w2) JOIN ctx USING (w1)
       |    JOIN n1f USING (w1) JOIN nc USING (w2) CROSS JOIN nb)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  ${Det.qroundSql(
             "CAST(SUM(nllq) AS BIGINT) / 1000000.0 / COUNT(*)", 6)}
       |    AS avg_nll_kn
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Vocabulary size for [[vocabCoverage]] — pinned below the fixture
    * corpus's 31 distinct tokens so the OOV tail is non-empty at every
    * scale (a top-V that swallows the whole vocabulary audits nothing).
    */
  private val VocabV = 16

  /** X71 — vocab_coverage: out-of-vocabulary audit per source — what
    * fraction of a source's token stream a top-[[VocabV]] frequency
    * vocabulary covers. The tokenizer-budget question a pretraining mix
    * asks before committing to a vocab: which sources pay the OOV tax.
    *
    * Shape: ONE explode+agg to per-(source, token) counts (map-side
    * combinable), then BOTH consumers read that small frame — the global
    * token marginal (re-agg, TakeOrdered top-V by count DESC, token ASC —
    * bounded V rows, broadcast back) and the per-source coverage roll-up
    * (broadcast hash join + agg). The agg frame is MATERIALIZED
    * (pinned) before fan-out: without it Spark plans a second
    * corpus scan for the vocab branch (observed in `.explain` — exchange
    * reuse does not fire across the differing downstream aggs), and the
    * materialized frame is only |sources|·|vocab|-bounded, so pinning it
    * is what makes "one corpus scan" TRUE at 100 TB rather than a
    * scaladoc claim. OOV share as integer ppm (X51 discipline) — no FP.
    */
  private def vocabCoverage(s: SparkSession, dir: String): DataFrame =
    vocabCoverageOf(Tables(s, dir, "documents"))

  /** Testable seam for [[vocabCoverage]]: explicit documents frame. */
  private[graft] def vocabCoverageOf(docs: DataFrame): DataFrame = {
    val st = pinned(docs
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n")))
    val vocab = st.groupBy(col("token")).agg(sum(col("n")).as("tot"))
      .orderBy(col("tot").desc, col("token")).limit(VocabV)
      .select(col("token"), lit(1).as("in_vocab"))
    st.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("total_tokens"),
        sum(when(col("in_vocab").isNotNull, col("n")).otherwise(0L))
          .as("in_vocab_tokens"))
      .select(col("source"), col("total_tokens"), col("in_vocab_tokens"),
        expr("(total_tokens - in_vocab_tokens) * 1000000 div total_tokens")
          .as("oov_ppm"))
      .orderBy(col("source"))
  }

  private val vocabCoverageSql =
    s"""WITH tok AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |st AS MATERIALIZED (
       |  SELECT source, token, COUNT(*) AS n FROM tok GROUP BY 1, 2),
       |vocab AS (
       |  SELECT token FROM (
       |    SELECT token, SUM(n) AS tot FROM st GROUP BY 1)
       |  ORDER BY tot DESC, token LIMIT $VocabV)
       |SELECT source, CAST(SUM(n) AS BIGINT) AS total_tokens,
       |  CAST(SUM(CASE WHEN v.token IS NOT NULL THEN n ELSE 0 END)
       |       AS BIGINT) AS in_vocab_tokens,
       |  (CAST(SUM(n) AS BIGINT)
       |   - CAST(SUM(CASE WHEN v.token IS NOT NULL THEN n ELSE 0 END)
       |          AS BIGINT)) * 1000000
       |    // CAST(SUM(n) AS BIGINT) AS oov_ppm
       |FROM st LEFT JOIN vocab v ON st.token = v.token
       |GROUP BY source ORDER BY source""".stripMargin

  /** text_chunk window (tokens per chunk) and stride (tokens advanced
    * per chunk → overlap = [[ChunkW]] − [[ChunkS]]).
    */
  private val ChunkW = 16
  private val ChunkS = 12

  /** X87 — text_chunk: overlapping token-window chunking — the
    * RAG-/embedding-indexing shape (and the context-window packing
    * precursor X59 packs whole docs for): each document splits into
    * windows of [[ChunkW]] whitespace tokens advancing by [[ChunkS]]
    * (4-token overlap so no retrieval-relevant span is cut at a hard
    * boundary), the last chunk keeping the short tail. Pure integer
    * chunk arithmetic — `n_chunks = 1 + (max(n−W, 0) + S−1) div S`,
    * nonneg operands so truncating and floor division agree across
    * engines — and the chunk text is re-joined from the token slice, so
    * the output is a deterministic function of the text alone.
    *
    * Scale: one narrow map + explode per document — no shuffle at all
    * before the oracle ORDER BY (chunking is the canonical
    * embarrassingly-parallel pass); output size is corpus·(1/S + ε)
    * rows. The explode carries only (doc_id, tk, n_tok) — the token
    * array is reused across its own chunks inside one row-batch, never
    * re-split per chunk.
    */
  private def textChunk(s: SparkSession, dir: String): DataFrame =
    textChunkOf(Tables(s, dir, "documents"))

  /** Testable seam for [[textChunk]]: explicit documents frame. */
  private[graft] def textChunkOf(docs: DataFrame): DataFrame = {
    val start = (col("chunk_id") * ChunkS + 1).cast("int")
    docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
      .withColumn("n_tok", size(col("tk")).cast("long"))
      .withColumn("chunk_id", explode(sequence(lit(0L),
        expr(s"(greatest(n_tok - $ChunkW, 0L) + ${ChunkS - 1}) div $ChunkS"))))
      .select(col("doc_id"), col("chunk_id"),
        start.cast("long").as("start_tok"),
        least(lit(ChunkW.toLong), col("n_tok") - start + 1L).as("n_tokens"),
        array_join(slice(col("tk"), start, lit(ChunkW)), " ")
          .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  private val textChunkSql =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |ch AS (
       |  SELECT doc_id, tk, n_tok,
       |    UNNEST(range(1 + (GREATEST(n_tok - $ChunkW, 0)
       |                      + ${ChunkS - 1}) // $ChunkS)) AS chunk_id
       |  FROM d)
       |SELECT doc_id, chunk_id,
       |  chunk_id * $ChunkS + 1 AS start_tok,
       |  LEAST($ChunkW, n_tok - (chunk_id * $ChunkS + 1) + 1) AS n_tokens,
       |  array_to_string(list_slice(tk, chunk_id * $ChunkS + 1,
       |    chunk_id * $ChunkS + $ChunkW), ' ') AS chunk_text
       |FROM ch ORDER BY doc_id, chunk_id""".stripMargin

  /** X110 — doc_quality_model: a MODEL-BASED document-quality scorer —
    * the fastText-shaped linear classifier every production curation
    * pipeline (C4/CCNet-style) runs after the rule gates: hashed n-gram
    * features (unigrams + word bigrams → [[QmBuckets]] buckets via the
    * audited [[TextFns.stringHash]]) scored by a pinned weight vector,
    * sigmoid-calibrated, thresholded to a keep bit. The weights are the
    * model ARTIFACT of the operator — pinned deterministically so the
    * oracle can replay them: each bucket's base weight is a fixed integer
    * mix `(b·2654435761 + 40503) mod 2001 − 1000` (milli-units in
    * [−1000, 1000]), and the buckets of the English function words get a
    * +[[QmBonus]] boost (exactly the positive mass a trained
    * natural-vs-junk classifier concentrates on function words). In a
    * real deployment the formula is replaced by a broadcast weights
    * array; every other part of the operator — feature hashing, integer
    * milli-unit accumulation (the X23 quantize-then-sum discipline, so
    * the score is EXACT integer arithmetic, never a float reduction),
    * the integer-compare gate `score > [[QmThreshMilli]]·n_features` —
    * is the production shape unchanged.
    *
    * Scale: a pure per-row Column pipeline (tokens → feature array →
    * bucket array → integer fold) inside ONE scan — no shuffle, no UDF,
    * no model join; at 100 TB this is a map-only pass, the cheapest
    * possible plan class. The sigmoid is display calibration only: the
    * keep DECISION is the integer compare, immune to libm ulps.
    */
  private val QmBuckets = 512L
  private val QmBonus = 1500L
  private[graft] val QmThreshMilli = 80L

  /** Plan-time replica of [[TextFns.stringHash]] for pinning constant
    * bucket ids (same fold, plain Scala).
    */
  private def strHashLocal(t: String): Long =
    t.foldLeft(0L)((h, c) => (h * 31 + c) % TextFns.HashMod)

  private val QmPinnedBuckets: Seq[Long] =
    EnStop.map(w => strHashLocal(w) % QmBuckets).distinct.sorted

  private def qmBaseW(b: org.apache.spark.sql.Column) =
    (b * lit(2654435761L) + lit(40503L)) % lit(2001L) - lit(1000L) +
      when(b.isin(QmPinnedBuckets.map(x => x: Any): _*), lit(QmBonus))
        .otherwise(lit(0L))

  /** Testable seam for [[docQualityModel]]: explicit `(doc_id, text)`
    * frame.
    */
  private[graft] def docQualityModelOf(docs0: DataFrame): DataFrame = {
    // The per-doc feature pipeline below (tokens + bigrams + a hash and
    // weight per feature) is the board's single-task CPU hot spot when
    // the corpus arrives as one parquet split — spread it first
    // (identity at real scale; see [[graft.util.FanOut]]).
    val docs = graft.util.FanOut(docs0)
    val tok = TextFns.tokens(col("text"))
    val bigrams = when(size(tok) >= 2, TextFns.shingles(tok, 2))
      .otherwise(array().cast("array<string>"))
    val feats = concat(tok, bigrams)
    val buckets = transform(feats,
      t => TextFns.stringHash(t) % lit(QmBuckets))
    val scoreSum = aggregate(buckets, lit(0L), (acc, b) => acc + qmBaseW(b))
    docs
      .select(col("doc_id"), size(feats).cast("long").as("n_features"),
        scoreSum.as("score_sum_milli"))
      .select(col("doc_id"), col("n_features"), col("score_sum_milli"),
        Det.qround(lit(1.0) / (lit(1.0) +
          exp(-(col("score_sum_milli").cast("double") /
            (lit(1000.0) * col("n_features"))))), 6).as("model_score"),
        (col("score_sum_milli") > lit(QmThreshMilli) * col("n_features"))
          .cast("int").as("keep_model"))
      .orderBy(col("doc_id"))
  }

  private def docQualityModel(s: SparkSession, dir: String): DataFrame =
    docQualityModelOf(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")))

  /** The CTE chain of [[docQualityModelSql]] (defines `qsc` with
    * (doc_id, n_features, score_sum_milli)) — shared with
    * `corpus_curation_decisions`' oracle so the composed and standalone
    * model gates cannot drift. CTE names are qm-prefixed to avoid
    * collisions when composed next to the curation chain.
    */
  private[graft] val docQualityCtes: String = {
    val h = TextFns.stringHashSql("ft").replace("\n", " ")
    val pin = QmPinnedBuckets.mkString(", ")
    s"""qt AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
       |qf AS (
       |  SELECT doc_id, list_concat(tok,
       |    list_transform(range(1, len(tok)),
       |      i -> tok[i] || ' ' || tok[i+1])) AS feats
       |  FROM qt),
       |qb AS (
       |  SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_features,
       |    list_transform(feats, ft -> $h % $QmBuckets) AS bks
       |  FROM qf),
       |qsc AS MATERIALIZED (
       |  SELECT doc_id, n_features,
       |    CAST(list_sum(list_transform(bks, bk ->
       |      (bk * 2654435761 + 40503) % 2001 - 1000 +
       |      CASE WHEN bk IN ($pin) THEN $QmBonus ELSE 0 END))
       |      AS BIGINT) AS score_sum_milli
       |  FROM qb)""".stripMargin
  }

  private val docQualityModelSql =
    s"""WITH $docQualityCtes
       |SELECT doc_id, n_features, score_sum_milli,
       |  ${Det.qroundSql(
            "1.0 / (1.0 + exp(-(CAST(score_sum_milli AS DOUBLE) / " +
              "(1000.0 * n_features))))", 6)} AS model_score,
       |  CAST(score_sum_milli > $QmThreshMilli * n_features AS INT)
       |    AS keep_model
       |FROM qsc ORDER BY doc_id""".stripMargin

  /** The (doc_id, keep_model) projection of [[docQualityModelOf]] — the
    * gate bit `corpus_curation_decisions` composes.
    */
  private[graft] def docQualityKeepFrame(s: SparkSession,
      dir: String): DataFrame =
    docQualityModelOf(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("keep_model"))

  /** X117 — doc_quality_calibration: the CALIBRATION/AGREEMENT table a
    * curation team reviews before trusting a model gate — X110's scores
    * bucketed into fixed 50-milli average-score bins, with per-bin doc
    * counts, model-keep and rule-keep (X41) counts, and the
    * model-vs-rule agreement rate. A well-behaved quality model shows
    * keep rate rising monotonically with the score bin and agreement
    * concentrated away from the threshold bin — this table is where
    * that claim becomes inspectable (and where threshold tuning reads
    * its operating point from).
    *
    * Determinism: the bin is a PURE nonnegative integer division —
    * `(score_sum_milli + 1000·n_features) div (50·n_features)` (the
    * +1000/feature shift keeps the numerator ≥ 0, since the minimum
    * per-feature weight is −1000, so truncating and flooring division
    * agree across engines); all counts exact, agreement in integer ppm.
    * Scale: two map-only frames (X110 scores, X41 gate signals) joined
    * on doc_id, one combinable roll-up to ≤ ~50 bins.
    */
  private def docQualityCalibration(s: SparkSession,
      dir: String): DataFrame = {
    val model = docQualityModelOf(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_features"), col("score_sum_milli"),
        col("keep_model"))
    val rule = docFilterFrame(s, dir)
      .select(col("doc_id").as("rid"), col("keep"))
    model.join(rule, col("doc_id") === col("rid"))
      .select(
        expr("(score_sum_milli + 1000 * n_features) div (50 * n_features)")
          .as("bin"),
        col("keep_model"), col("keep"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep_model").cast("long")).as("n_model_keep"),
        sum(col("keep").cast("long")).as("n_rule_keep"),
        sum((col("keep_model") === col("keep")).cast("long"))
          .as("n_agree"))
      .select(col("bin"), col("n_docs"), col("n_model_keep"),
        col("n_rule_keep"),
        expr("n_agree * 1000000 div n_docs").as("agree_ppm"))
      .orderBy(col("bin"))
  }

  private val docQualityCalibrationSql =
    s"""WITH $docGateBaseSql,
       |$docDecisionCtes,
       |$docQualityCtes,
       |joined AS (
       |  SELECT (q.score_sum_milli + 1000 * q.n_features)
       |           // (50 * q.n_features) AS bin,
       |    CAST(q.score_sum_milli > $QmThreshMilli * q.n_features AS INT)
       |      AS keep_model,
       |    CAST(d.reason = 'keep' AS INT) AS keep
       |  FROM qsc q JOIN dec d ON d.doc_id = q.doc_id)
       |SELECT bin, COUNT(*) AS n_docs,
       |  CAST(SUM(keep_model) AS BIGINT) AS n_model_keep,
       |  CAST(SUM(keep) AS BIGINT) AS n_rule_keep,
       |  CAST(SUM(CAST(keep_model = keep AS INT)) AS BIGINT) * 1000000
       |    // COUNT(*) AS agree_ppm
       |FROM joined GROUP BY bin ORDER BY bin""".stripMargin

  /** Email/phone patterns for X118 — deliberately restricted to syntax with
    * IDENTICAL semantics in Java regex (Spark) and RE2 (DuckDB): character
    * classes, `+`, bounded `{n}` repeats, a literal `\.`. No lookaround, no
    * backreferences, no lazy quantifiers.
    */
  private val EmailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  private val PhoneRe = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** The deterministic PII render for X118 as a SQL fragment over a column
    * `h` (the per-doc salt hash): phone digits and an email address built
    * from pure integer div/mod arithmetic — the SAME text in both engines,
    * so detection counts and the redacted string value-compare exactly.
    * `h % 4` stripes docs across {phone-only, email-only, both, clean}, so
    * the detector sees positives AND true negatives at every scale.
    */
  private val piiPhoneFrag =
    "CAST(10 + (h div 7) % 90 AS STRING), '-', " +
      "CAST(100 + (h div 11) % 900 AS STRING), '-', " +
      "CAST(100 + (h div 13) % 900 AS STRING), '-', " +
      "CAST(1000 + (h div 17) % 9000 AS STRING)"
  private val piiEmailFrag =
    "'user', CAST(h % 99991 AS STRING), '@', " +
      "CASE (h div 3) % 3 WHEN 0 THEN 'example.com' " +
      "WHEN 1 THEN 'mail.org' ELSE 'web.net' END"

  /** X118 — text_pii_redact: the PII scrub stage every production corpus
    * runs before training — detect and mask email addresses and phone
    * numbers, emitting per-doc detection counts, the redacted text, and
    * the redacted-text fingerprint. The raw fixture text is letters-only,
    * so (derived-tier precedent, BASELINE round-10) the key first RENDERS
    * a deterministic contact suffix onto each doc from the salted hash —
    * phone digits and an email via integer div/mod — striping docs across
    * phone-only / email-only / both / clean variants (`h % 4`), giving the
    * detector real positives and negatives at every scale.
    *
    * Determinism: the rendered suffix is pure integer arithmetic on the
    * shared [[TextFns.stringHash]] salt, so both engines see the same
    * bytes; the regexes are in the Java∩RE2 common dialect (see
    * [[EmailRe]]); the redacted string and its fingerprint value-compare
    * exactly. Scale: map-only — one projection chain per doc, no joins,
    * no shuffles beyond the output ORDER BY; at 100 TB this is the shape
    * you want (pattern scan fused into the document scan, redaction
    * in-place, no data movement).
    */
  private def piiRedact(s: SparkSession, dir: String): DataFrame =
    piiRedactOf(Tables(s, dir, "documents").select(col("doc_id"), col("text")))

  private[graft] def piiRedactOf(docs: DataFrame): DataFrame = {
    val rendered = docs
      .select(col("doc_id"), col("text"),
        TextFns.stringHash(concat(lit("pii:"), col("doc_id").cast("string")))
          .as("h"))
      .select(col("doc_id"),
        concat(col("text"), expr(
          s"""CASE h % 4
             |  WHEN 0 THEN concat(' call ', $piiPhoneFrag)
             |  WHEN 1 THEN concat(' mail ', $piiEmailFrag)
             |  WHEN 2 THEN concat(' call ', $piiPhoneFrag,
             |                     ' mail ', $piiEmailFrag)
             |  ELSE '' END""".stripMargin)).as("rendered"))
    rendered.select(col("doc_id"),
      size(regexp_extract_all(col("rendered"), lit(EmailRe), lit(0)))
        .as("n_email"),
      size(regexp_extract_all(col("rendered"), lit(PhoneRe), lit(0)))
        .as("n_phone"),
      regexp_replace(
        regexp_replace(col("rendered"), PhoneRe, "<PHONE>"),
        EmailRe, "<EMAIL>").as("redacted"))
      .withColumn("redacted_fp", TextFns.stringHash(col("redacted")))
      .orderBy(col("doc_id"))
  }

  private val piiRedactSql = {
    val phoneFragSql = piiPhoneFrag
      .replace(" div ", " // ").replace("AS STRING", "AS VARCHAR")
    val emailFragSql = piiEmailFrag
      .replace(" div ", " // ").replace("AS STRING", "AS VARCHAR")
    val hashDoc = TextFns.stringHashSql(
      "concat('pii:', CAST(doc_id AS VARCHAR))").replace("\n", " ")
    s"""WITH h AS (
       |  SELECT doc_id, text, $hashDoc AS h FROM documents),
       |r AS (
       |  SELECT doc_id, concat(text,
       |    CASE h % 4
       |      WHEN 0 THEN concat(' call ', $phoneFragSql)
       |      WHEN 1 THEN concat(' mail ', $emailFragSql)
       |      WHEN 2 THEN concat(' call ', $phoneFragSql,
       |                         ' mail ', $emailFragSql)
       |      ELSE '' END) AS rendered
       |  FROM h)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(rendered, '$EmailRe')) AS INT)
       |    AS n_email,
       |  CAST(len(regexp_extract_all(rendered, '$PhoneRe')) AS INT)
       |    AS n_phone,
       |  regexp_replace(regexp_replace(rendered,
       |    '$PhoneRe', '<PHONE>', 'g'), '$EmailRe', '<EMAIL>', 'g')
       |    AS redacted,
       |  ${TextFns.stringHashSql(
            s"""regexp_replace(regexp_replace(rendered,
               |    '$PhoneRe', '<PHONE>', 'g'), '$EmailRe', '<EMAIL>', 'g')"""
              .stripMargin).replace("\n", " ")} AS redacted_fp
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ── X137: text_rake — RAKE keyword extraction. ─────────────────────
  private val RakeStopK = 8 // adaptive delimiter lexicon size
  private val RakeMaxLen = 4 // standard RAKE candidate-length cap
  private val RakeTopK = 50

  /** X137 — text_rake: RAKE keyword/keyphrase extraction (Rose et al.
    * 2010) with the ADAPTIVE frequency-generated stoplist variant —
    * delimiters = the [[RakeStopK]] most frequent corpus words
    * ((count DESC, word) total order — exact integers, deterministic
    * even on the near-uniform synthetic vocabulary), because the fixed
    * English stoplist barely occurs in the fixture corpus and would
    * degenerate every document into one giant phrase (measured in the
    * landing sim). Candidate phrases = maximal non-delimiter runs
    * (gaps-and-islands: `pos − row_number` per doc), capped at
    * [[RakeMaxLen]] words (the standard RAKE cap — uncapped, the known
    * long-phrase bias puts only whole-document runs in the top-K,
    * measured too); word score = deg/freq over candidate tokens,
    * LIFTED to the exact micro-integer grid (`deg·10⁶ div freq`) so the
    * per-phrase score is an ORDER-FREE integer sum (the X132
    * discipline); output = global top-[[RakeTopK]] distinct phrases by
    * (score DESC, phrase) with occurrence counts. Sim evidence:
    * 1 889/1 796/11 516 distinct candidates with occurrence counts up
    * to 96/98/7 750 at sf0.001/0.01/sf1 and ZERO cross-occurrence
    * score disagreement.
    *
    * Scale: one token explode + one global word count (the ≤\|vocab\|
    * delimiter set broadcasts into an anti-join), one per-doc window,
    * two keyed aggregations, and a TakeOrdered top-K — no all-pairs
    * anywhere; integer arithmetic end to end.
    */
  private def textRake(s: SparkSession, dir: String): DataFrame =
    rakeOf(Tables(s, dir, "documents"))

  /** Testable seam for [[textRake]]: explicit documents frame; the
    * stoplist size and candidate cap are parameters so hand specs can
    * pin the arithmetic on small vocabularies.
    */
  private[graft] def rakeOf(docs: DataFrame,
      stopK: Int = RakeStopK, maxLen: Int = RakeMaxLen,
      topK: Int = RakeTopK): DataFrame = {
    val tok = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val stopw = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(stopK)
      .select(col("w"))
    val ns = tok.join(broadcast(stopw), Seq("w"), "left_anti")
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val ph = ns.groupBy(col("doc_id"), col("grp"))
      .agg(concat_ws(" ",
        transform(sort_array(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w"))).as("phrase"),
        count(lit(1)).as("plen"))
      .filter(col("plen") <= maxLen)
    val pw = ns.select(col("doc_id"), col("grp"), col("w"))
      .join(ph, Seq("doc_id", "grp"))
    val ws = pw.groupBy(col("w"))
      .agg(expr(s"(sum(plen) * 1000000) div count(*)").as("wsc"))
    val psc = pw.join(ws, Seq("w"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(sum(col("wsc")).as("score"), max(col("phrase")).as("phrase"),
        max(col("plen")).as("plen"))
    psc.groupBy(col("phrase"))
      .agg(max(col("plen")).as("n_words"), count(lit(1)).as("n_occ"),
        max(col("score")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(topK)
      .select(col("phrase"), col("n_words"), col("n_occ"),
        col("score_micro"))
  }

  private val textRakeSql =
    s"""WITH rtok AS (
       |  SELECT doc_id, u.w, u.pos FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |           generate_subscripts(string_split(text, ' '), 1) AS pos
       |    FROM documents) u(doc_id, w, pos)
       |  WHERE u.w <> ''),
       |rstop AS (
       |  SELECT w FROM (SELECT w, COUNT(*) AS c FROM rtok GROUP BY 1
       |  ORDER BY c DESC, w LIMIT $RakeStopK)),
       |rns AS (
       |  SELECT doc_id, w, pos,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
       |      AS grp
       |  FROM rtok WHERE w NOT IN (SELECT w FROM rstop)),
       |rph AS (
       |  SELECT doc_id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase,
       |         COUNT(*) AS plen
       |  FROM rns GROUP BY 1, 2
       |  HAVING COUNT(*) <= $RakeMaxLen),
       |rpw AS (
       |  SELECT n.doc_id, n.grp, n.w, p.plen, p.phrase
       |  FROM rns n JOIN rph p USING (doc_id, grp)),
       |rws AS (
       |  SELECT w, (CAST(SUM(plen) AS BIGINT) * 1000000) // COUNT(*)
       |    AS wsc
       |  FROM rpw GROUP BY w),
       |rpsc AS (
       |  SELECT rpw.doc_id, rpw.grp, CAST(SUM(rws.wsc) AS BIGINT)
       |      AS score,
       |    MAX(rpw.phrase) AS phrase, MAX(rpw.plen) AS plen
       |  FROM rpw JOIN rws USING (w) GROUP BY 1, 2)
       |SELECT phrase, CAST(MAX(plen) AS BIGINT) AS n_words,
       |  COUNT(*) AS n_occ, MAX(score) AS score_micro
       |FROM rpsc GROUP BY phrase
       |ORDER BY score_micro DESC, phrase LIMIT $RakeTopK""".stripMargin

  /** X154 — text_zipf_fit: RANK–FREQUENCY power-law fit over the corpus
    * vocabulary — the Zipf diagnostic a corpus audit runs before
    * tokenizer training (natural text follows freq ∝ rank^−s with
    * s ≈ 1, r² near 1; TEMPLATED/synthetic text does not, and the
    * HONEST verdict here is exactly that: measured before landing,
    * slope ≈ −0.17 with r² ≈ 4.6–6.0 % at every SF — the fixture corpus
    * has a flat 31-token head, and the low r² IS the finding, the
    * Benford-audit shape): least squares of ln(count) on ln(rank) over
    * the top-[[ZipfFitN]] tokens (rank = (count DESC, token ASC)).
    *
    * Determinism: both logs are quantized to the micro-integer grid
    * BEFORE summing (floor(ln·10⁶ + 0.5) — one IEEE ln per value, the
    * X23 discipline), so every moment (Σx, Σy, Σxx, Σxy, Σyy) is an
    * order-free exact BIGINT; slope = ONE IEEE division of the exact
    * integer (n·Σxy − ΣxΣy) / (n·Σxx − Σx²), qround(6); intercept
    * likewise from the closed form (Σy·den − num·Σx)/(10⁶·n·den) with
    * the big products on DECIMAL(38,0)/HUGEINT; r² in exact ppm as
    * num²·10⁶ div (den·(n·Σyy − Σy²)) — exact while num²·10⁶ < 10³⁸
    * (|num| ≲ 3·10¹⁵ here; bound documented, DECIMAL fails loudly past
    * it). Output one row: n_fit, total/distinct token counts, slope,
    * intercept (nats), r2_ppm.
    *
    * Scale: one |tokens| explode + hash agg (map-side combinable), a
    * top-N = 64-row sort-limit, then constant-size arithmetic; the two
    * 1-row frames crossJoin (declared).
    */
  private val ZipfFitN = 64

  private def textZipfFit(s: SparkSession, dir: String): DataFrame =
    zipfFitOf(Tables(s, dir, "documents"))

  /** Testable seam for [[textZipfFit]]: explicit documents frame. */
  private[graft] def zipfFitOf(docs: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val c = docs
      .select(explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val stats = c.agg(count(lit(1)).as("distinct_tokens"),
      sum(col("cnt")).as("total_tokens"))
    val top = c.orderBy(col("cnt").desc, col("tok")).limit(ZipfFitN)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("tok"))).cast("long"))
    val qz = top.select(
      floor(log(col("rnk").cast("double")) * 1e6 + 0.5).cast("long")
        .as("xq"),
      floor(log(col("cnt").cast("double")) * 1e6 + 0.5).cast("long")
        .as("yq"))
    val m = qz.agg(count(lit(1)).as("n"), sum(col("xq")).as("sx"),
      sum(col("yq")).as("sy"),
      sum(col("xq") * col("xq")).as("sxx"),
      sum(col("xq") * col("yq")).as("sxy"),
      sum(col("yq") * col("yq")).as("syy"))
    m.crossJoin(broadcast(stats))
      .select(col("n").as("n_fit"), col("total_tokens"),
        col("distinct_tokens"),
        Det.qround((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double"), 6).as("slope"),
        Det.qround(
          (col("sy").cast(dec) *
            (col("n") * col("sxx") - col("sx") * col("sx")).cast(dec) -
            (col("n") * col("sxy") - col("sx") * col("sy")).cast(dec) *
              col("sx").cast(dec)).cast("double") /
          (lit(1000000.0) *
            (col("n").cast(dec) *
              (col("n") * col("sxx") - col("sx") * col("sx")).cast(dec))
              .cast("double")), 6).as("intercept"),
        expr("cast((cast(n*sxy - sx*sy as decimal(38,0)) * " +
          "cast(n*sxy - sx*sy as decimal(38,0)) * 1000000) div " +
          "(cast(n*sxx - sx*sx as decimal(38,0)) * " +
          "cast(n*syy - sy*sy as decimal(38,0))) as bigint)")
          .as("r2_ppm"))
  }

  private val textZipfFitSql =
    s"""WITH zt AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |zc AS (SELECT tok, COUNT(*) AS cnt FROM zt GROUP BY 1),
       |zstats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
       |         CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM zc),
       |ztop AS (
       |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
       |  FROM zc ORDER BY cnt DESC, tok LIMIT $ZipfFitN),
       |zq AS (
       |  SELECT
       |    CAST(FLOOR(ln(CAST(rnk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
       |      AS xq,
       |    CAST(FLOOR(ln(CAST(cnt AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
       |      AS yq
       |  FROM ztop),
       |zm AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
       |    CAST(SUM(xq * xq) AS BIGINT) AS sxx,
       |    CAST(SUM(xq * yq) AS BIGINT) AS sxy,
       |    CAST(SUM(yq * yq) AS BIGINT) AS syy
       |  FROM zq)
       |SELECT n AS n_fit, total_tokens, distinct_tokens,
       |  ${Det.qroundSql(
            "CAST(n*sxy - sx*sy AS DOUBLE) / " +
              "CAST(n*sxx - sx*sx AS DOUBLE)", 6)} AS slope,
       |  ${Det.qroundSql(
            "CAST(CAST(sy AS HUGEINT) * (n*sxx - sx*sx) - " +
              "CAST(n*sxy - sx*sy AS HUGEINT) * sx AS DOUBLE) / " +
              "(1000000.0 * CAST(CAST(n AS HUGEINT) * " +
              "(n*sxx - sx*sx) AS DOUBLE))", 6)} AS intercept,
       |  CAST(CAST(n*sxy - sx*sy AS HUGEINT) *
       |       CAST(n*sxy - sx*sy AS HUGEINT) * 1000000 //
       |       (CAST(n*sxx - sx*sx AS HUGEINT) * (n*syy - sy*sy))
       |       AS BIGINT) AS r2_ppm
       |FROM zm, zstats""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("text_zipf_fit", textZipfFit, Some(textZipfFitSql)),
    Q("tokenizer_fertility", tokenizerFertility,
      Some(tokenizerFertilitySql)),
    Q("corpus_split_coverage", corpusSplitCoverage,
      Some(corpusSplitCoverageSql)),
    Q("text_rake", textRake, Some(textRakeSql)),
    Q("doc_quality_model", docQualityModel, Some(docQualityModelSql)),
    Q("doc_quality_calibration", docQualityCalibration,
      Some(docQualityCalibrationSql)),
    Q("text_tfidf", tfidf, Some(tfidfSql)),
    Q("text_bm25", textBm25, Some(textBm25Sql)),
    Q("retrieval_prf_expansion", retrievalPrf, Some(retrievalPrfSql)),
    Q("text_chunk", textChunk, Some(textChunkSql)),
    Q("vocab_coverage", vocabCoverage, Some(vocabCoverageSql)),
    Q("pmi_bigrams", pmiBigrams, Some(pmiBigramsSql)),
    Q("bpe_merges", bpeMerges, Some(bpeMergesSql)),
    Q("bpe_merges_sampled", bpeMergesSampled, Some(bpeMergesSampledSql)),
    Q("bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    Q("text_repetition", repetition, Some(repetitionSql)),
    Q("text_unigram_nll", unigramNll, Some(unigramNllSql)),
    Q("text_bigram_nll", bigramNll, Some(bigramNllSql)),
    Q("text_lm_interp", lmInterp, Some(lmInterpSql)),
    Q("text_lm_kneser_ney", lmKneserNey, Some(lmKneserNeySql)),
    Q("text_entropy", textEntropy, Some(textEntropySql)),
    Q("text_lang_stats", langStats, Some(langStatsSql)),
    Q("text_token_count", tokenCount, Some(tokenCountSql)),
    Q("text_quality", quality, Some(qualitySql)),
    Q("text_lang_id", langId, Some(langIdSql)),
    Q("text_fingerprint", fingerprint, Some(fingerprintSql)),
    Q("doc_filter", docFilterFrame, Some(docFilterSql)),
    Q("lang_id_confusion", langIdConfusion, Some(langIdConfusionSql)),
    Q("corpus_mixture", corpusMixture, Some(corpusMixtureSql)),
    Q("corpus_temperature", corpusTemperature, Some(corpusTemperatureSql)),
    Q("text_span_dedup", spanDedup, Some(spanDedupSql)),
    Q("text_pii_redact", piiRedact, Some(piiRedactSql)),
  )

}
