package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators: token counting, quality scoring, language ID,
  * fingerprinting. All pure column expressions (codegen'd, no UDFs) —
  * at 100 TB each is a single map-side projection over the corpus scan,
  * no shuffle at all. The paired SQL builders keep the DuckDB oracle
  * formula-identical.
  */
object TextAnalysis {

  /** BPE-style pre-tokenizer pattern (GPT-2-family shape, restricted to
    * the RE2 ∩ Java common subset): letter runs, digit runs, and
    * non-alphanumeric symbol runs each form one pre-token — the unit a
    * byte-pair encoder would then split. Counting these approximates
    * model token counts far better than whitespace words do (ASCII
    * punctuation and numbers tokenize separately). */
  val BpeTokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

  /** Whitespace + BPE-ish token counts and density features. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = size(split(trim(col("text")), "\\s+"))
    docs.select(
      col("doc_id"),
      toks.cast("long").as("n_tokens"),
      regexp_count(col("text"), lit(BpeTokenRe)).cast("long").as("n_tokens_bpe"),
      length(col("text")).cast("long").as("n_chars_actual"),
      round(toks.cast("double") / greatest(length(col("text")), lit(1)), 6)
        .as("tokens_per_char"))
  }

  // ---- BM25 retrieval scoring ----

  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25 score per (query term, document) with per-term top-k — the
    * standard lexical-retrieval primitive for corpus search and
    * train-set construction. Shape at scale: the term list and the
    * per-term document frequencies broadcast; term frequencies are one
    * map-side-combined aggregate over the token explode (only matching
    * tokens survive the filter, so the explode never shuffles the full
    * corpus); corpus stats (N, avgdl) are a broadcast single row.
    * Ranking uses the ROUNDED score (both engines) so a 1-ulp `ln`
    * divergence can never flip an order. */
  def bm25(docs: DataFrame, terms: Seq[String], topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = broadcast(docs
      .agg(count(lit(1)).cast("double").as("n_docs"),
        avg(size(tokens).cast("double")).as("avgdl")))
    // round 16: per-term tf AND dl come from ONE doc-local pass
    // ([[graft.functions.TextExprs.profileHits]] with one singleton
    // profile per term counts exactly `tok == term` occurrences) —
    // the previous shape exploded the full token stream, re-aggregated
    // (doc, tok) across an exchange, and shuffle-joined the dl frame
    // back on doc_id; here the only post-scan rows are the ≤ |terms|
    // matches per doc and the dl column rides along, so df, score and
    // the top-k window see map-side input. Values are unchanged
    // (profileHits ≡ the explode count, spec-pinned; same r6'd score,
    // same rank tie-break).
    val termCols = terms.map(t => Seq(t))
    val tf = docs
      .select(col("doc_id"), size(tokens).cast("double").as("dl"),
        posexplode(graft.functions.TextExprs.profileHits(tokens, termCols))
          .as(Seq("__ti", "__tf")))
      .filter(col("__tf") > 0)
      .select(col("doc_id"), col("dl"),
        element_at(array(terms.map(lit): _*), col("__ti") + 1).as("tok"),
        col("__tf").cast("double").as("tf"))
    val dfq = tf.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1)
    val score = idf * (col("tf") * (Bm25K1 + 1)) /
      (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfq), "tok").crossJoin(stats)
      .select(col("tok").as("term"), col("doc_id"),
        graft.ts.Round6.r6(score).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= topK)
      .select(col("term"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score"))
  }

  /** DuckDB twin of [[bm25]] over the documents table. */
  def bm25Sql(terms: Seq[String], topK: Int): String = {
    // SQL-literal escape: the Spark side (isin) takes any string
    val termList = terms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH dl AS (
       |  SELECT doc_id,
       |         CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE) AS dl
       |  FROM documents
       |), stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
       |), tf AS (
       |  SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
       |    FROM documents)
       |  WHERE tok IN ($termList) GROUP BY 1, 2
       |), dfq AS (
       |  SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok
       |), scored AS (
       |  SELECT t.tok AS term, t.doc_id,
       |         ${graft.ts.Round6.r6Sql(
      s"""(ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1) *
         |          (t.tf * ${Bm25K1 + 1}) /
         |          (t.tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * d.dl / s.avgdl)))""".stripMargin)} AS score
       |  FROM tf t JOIN dfq q USING (tok) JOIN dl d USING (doc_id), stats s
       |), ranked AS (
       |  SELECT term, doc_id, score,
       |         row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS rank
       |  FROM scored
       |)
       |SELECT term, CAST(rank AS BIGINT) AS rank, CAST(doc_id AS BIGINT) AS doc_id, score
       |FROM ranked WHERE rank <= $topK ORDER BY term, rank""".stripMargin
  }

  // ---- TF-IDF keyword extraction ----

  /** Per-document top-k keywords by smoothed TF-IDF — the corpus-side
    * complement of [[bm25]]'s query-side scoring: BM25 ranks documents
    * for a term, this tags each document with the terms that
    * distinguish it (topic labels, dedup-cluster names, curriculum
    * features). idf = ln((N+1)/(df+1)) + 1 (smoothed: a term in every
    * document still scores, just minimally); score compares ROUNDED
    * (the bm25 rule) with term tie-break.
    *
    * Scale shape: tf is one map-side-combined aggregate over the
    * token explode; df one more over tf's (corpus-bounded, vocab-
    * grain) frame; their equi-join shuffles on the token key, and the
    * per-doc rank is a `WindowGroupLimit`-bounded window on doc_id —
    * no frame here ever exceeds (doc, distinct-token) grain. Returns
    * (doc_id, rank, term, score). */
  def keywords(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.select(count(lit(1)).cast("double").as("n_docs"))
    val tf = docs.select(col("doc_id"), explode(tokens).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val score = graft.ts.Round6.r6(col("tf") *
      (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
    tf.join(df, Seq("term")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), score.as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("score"))
  }

  /** DuckDB twin of [[keywords]] over `documents`. A complete
    * SELECT. */
  def keywordsSql(k: Int): String =
    s"""WITH tf AS (
       |  SELECT doc_id, tok AS term, CAST(count(*) AS DOUBLE) AS tf FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
       |    FROM documents)
       |  GROUP BY 1, 2
       |), dfq AS (
       |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
       |), n AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
       |), scored AS (
       |  SELECT t.doc_id, t.term,
       |         ${graft.ts.Round6.r6Sql(
              "t.tf * (ln((n.n_docs + 1.0) / (q.df + 1.0)) + 1.0)")} AS score
       |  FROM tf t JOIN dfq q USING (term), n
       |), ranked AS (
       |  SELECT doc_id, term, score,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY score DESC, term) AS rank
       |  FROM scored
       |)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rank AS BIGINT) AS rank,
       |       term, score
       |FROM ranked WHERE rank <= $k ORDER BY doc_id, rank""".stripMargin

  // ---- hybrid retrieval: semantic expansion + rank fusion ----

  /** RRF dampening constant (the standard 60 from Cormack et al.). */
  val RrfC = 60

  /** Integer RRF mass unit: each arm contributes `RrfScale div
    * (RrfC + rank)` — exact long arithmetic, so the fused score is
    * independent of the order the arms' rows meet in the aggregate
    * (a double `1/(c+rank)` sum is not, across ≥3 arms). */
  val RrfScale = 1000000000000L

  /** Rocchio-style pseudo-relevance-feedback retrieval — the semantic
    * arm of hybrid search over a text corpus with an embedding column:
    * for each query term, the centroid of the embeddings of the
    * lexically-matching documents is the query vector, and the whole
    * corpus ranks by cosine to it. Retrieves documents that never
    * contain the term but live near the ones that do — the expansion
    * step a training-corpus search runs beside [[bm25]].
    *
    * Scale shape: the matching set reduces through one map-side-
    * combined per-dim aggregate (one native long-array sum over the
    * INT-QUANTIZED embeddings, so the centroid is exact whatever
    * order partitions combine in — the k-means update idiom); the
    * per-term centroid frame is tiny and broadcasts; the cosine scan
    * is one map-side pass over the corpus. The final per-term rank
    * partitions by term like [[Similarity.topKExact]] partitions by
    * query — ad-hoc term counts are small; a standing many-thousand-
    * term workload would serve the arm from the published IVF index
    * instead ([[Similarity.topKIvfServe]] with the centroids as
    * queries). */
  def semanticExpand(docs: DataFrame, vecs: DataFrame, terms: Seq[String],
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dim = Similarity.Dim
    // round 16: one doc-local profileHits pass — (term, doc_id) is
    // already distinct by construction (each term surfaces at most
    // once per doc), so the explode + corpus-grain distinct exchange
    // both drop out; membership is identical (hits > 0 ⇔ the explode
    // kept ≥ 1 row)
    val matching = docs
      .select(col("doc_id"),
        posexplode(graft.functions.TextExprs.profileHits(
          tokens, terms.map(t => Seq(t)))).as(Seq("__ti", "__tf")))
      .filter(col("__tf") > 0)
      .select(element_at(array(terms.map(lit): _*), col("__ti") + 1).as("term"),
        col("doc_id"))
    val qv = vecs.select(col("vec_id"), Similarity.qvec(col("embedding")).as("qv"))
    // per-dim sums as one native aggregate (exact long addition —
    // values identical to unrolled sum columns); see
    // [[graft.functions.LongArraySumAgg]]
    val cents = broadcast(matching
      .join(qv.select(col("vec_id").as("doc_id"), col("qv")), Seq("doc_id"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"),
        graft.functions.VectorExprs.arraySumLong(col("qv")).as("s"))
      .select(col("term"),
        transform(col("s"), x => x.cast("double") / col("n")).as("cent")))
    qv.crossJoin(cents)
      .select(col("term"), col("vec_id"),
        Similarity.cosine(col("cent"),
          transform(col("qv"), _.cast("double"))).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("term"), col("rank").cast("long").as("rank"),
        col("vec_id").cast("long").as("vec_id"),
        graft.ts.Round6.r6(col("cos")).as("cos"))
  }

  /** DuckDB twin of [[semanticExpand]] over `documents`/`embeddings`.
    * A complete SELECT. */
  def semanticExpandSql(terms: Seq[String], k: Int): String = {
    val dim = Similarity.Dim
    val termList = terms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH m AS (
       |  SELECT DISTINCT tok AS term, doc_id FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
       |    FROM documents)
       |  WHERE tok IN ($termList)
       |), qv AS (
       |  SELECT vec_id,
       |    [CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT)
       |     for e in embedding] AS qv
       |  FROM embeddings
       |), cents AS (
       |  SELECT term, list(sx / n ORDER BY i) AS cent FROM (
       |    SELECT m.term, t.i, sum(q.qv[t.i]) AS sx, count(*) AS n
       |    FROM m JOIN qv q ON m.doc_id = q.vec_id
       |    CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS i) t
       |    GROUP BY m.term, t.i)
       |  GROUP BY term
       |), scored AS (
       |  SELECT c.term, q.vec_id,
       |         ${Similarity.cosineSql("c.cent", "q.qv")} AS cos
       |  FROM qv q, cents c
       |), ranked AS (
       |  SELECT term, vec_id, cos,
       |         row_number() OVER (PARTITION BY term ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT term, CAST(rank AS BIGINT) AS rank, CAST(vec_id AS BIGINT) AS vec_id,
       |       ${graft.ts.Round6.r6Sql("cos")} AS cos
       |FROM ranked WHERE rank <= $k ORDER BY term, rank""".stripMargin
  }

  /** Reciprocal-rank fusion over N ranked arms `(qid, doc_id, rank)` —
    * the standard way hybrid retrieval combines a lexical and a
    * semantic ranking without score calibration: fused mass =
    * Σ_arms `RrfScale div (RrfC + rank)` (exact integer — see
    * [[RrfScale]]), ranked per qid by (mass desc, doc_id). The
    * reported `rrf` column is the conventional Σ 1/(c+rank) value.
    *
    * Scale shape: arm frames are top-k lists — |queries|·k rows, never
    * corpus-sized — so the fusion is one map-side-combined groupBy
    * plus a per-qid window over k·N rows. Nothing here touches the
    * corpus; the arms already did. */
  def rrfFuse(arms: Seq[DataFrame], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(arms.nonEmpty, "rrfFuse needs at least one ranked arm")
    val union = arms.map(_.select(col("qid"), col("doc_id"),
      col("rank").cast("long").as("rank"))).reduce(_.unionByName(_))
    union
      .select(col("qid"), col("doc_id"),
        expr(s"$RrfScale div ($RrfC + rank)").as("mass"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("mass")).as("mass"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("mass").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("doc_id"),
        graft.ts.Round6.r6(col("mass").cast("double") /
          lit(RrfScale).cast("double")).as("rrf"))
  }

  /** DuckDB twin of [[rrfFuse]] over two arm subqueries (each already
    * shaped `(qid, doc_id, rank)`). A complete SELECT. */
  def rrfFuseSql(armA: String, armB: String, k: Int): String =
    s"""WITH fused AS (
       |  SELECT qid, doc_id, sum($RrfScale // ($RrfC + rank)) AS mass
       |  FROM (SELECT * FROM ($armA) UNION ALL SELECT * FROM ($armB))
       |  GROUP BY qid, doc_id
       |), ranked AS (
       |  SELECT qid, doc_id, mass,
       |         row_number() OVER (PARTITION BY qid ORDER BY mass DESC, doc_id) AS rank
       |  FROM fused
       |)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, CAST(doc_id AS BIGINT) AS doc_id,
       |       ${graft.ts.Round6.r6Sql(
                  s"CAST(mass AS DOUBLE) / CAST($RrfScale AS DOUBLE)")} AS rrf
       |FROM ranked WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  // ---- PII scrubbing ----

  /** Redaction patterns, written to the RE2 ∩ Java-regex common subset
    * so the DuckDB oracle matches byte-for-byte: emails, http(s) URLs
    * (conservative charset — no \S, whose semantics differ), and
    * dotted-quad IPs. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[A-Za-z0-9./_%-]+"
  val IpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Per-document PII counts + redacted text — the scrub every
    * training corpus runs before anything else. Email redaction runs
    * first (an email never contains `://`, a URL never `@`, so the
    * order is only about determinism, which both engines share). Map-
    * side projection; zero shuffle. */
  def scrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_email"),
      regexp_count(col("text"), lit(UrlRe)).cast("long").as("n_url"),
      regexp_count(col("text"), lit(IpRe)).cast("long").as("n_ip"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        EmailRe, "<EMAIL>"), UrlRe, "<URL>"), IpRe, "<IP>").as("clean"))

  /** DuckDB twin of [[scrub]] over a CTE/table named `docs`. */
  def scrubSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '$UrlRe')) AS BIGINT) AS n_url,
       |  CAST(len(regexp_extract_all(text, '$IpRe')) AS BIGINT) AS n_ip,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailRe', '<EMAIL>', 'g'), '$UrlRe', '<URL>', 'g'),
       |    '$IpRe', '<IP>', 'g') AS clean
       |FROM docs""".stripMargin

  // ---- blocklist filtering ----

  /** C4/RefinedWeb-style blocklist filtering: total occurrences of any
    * blocklist phrase in the (lowercased) text, and a `blocked` gate
    * past `maxHits`. One broadcast Aho–Corasick automaton pass per
    * document ([[graft.functions.AhoCountExpr]]) — O(|text|) whatever
    * the blocklist size, where the naive per-phrase scan multiplies
    * the text pass by |phrases| (real blocklists run to thousands of
    * entries). Map-side, zero shuffle; counts include overlapping and
    * nested matches (each match END counts once). */
  def blocklist(docs: DataFrame, phrases: Seq[String],
      maxHits: Long = 0L): DataFrame = {
    val ac = docs.sparkSession.sparkContext.broadcast(
      graft.functions.AhoCorasick(phrases.map(_.toLowerCase)))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.TextExprs.acCount(lower(col("text")), ac)
          .as("n_blocked"))
      .withColumn("blocked", col("n_blocked") > maxHits)
  }

  /** DuckDB twin of [[blocklist]] over `documents`: per phrase, every
    * start position whose substring equals the phrase (so overlaps
    * count, matching the automaton's every-end-position semantics),
    * summed. A complete SELECT. */
  def blocklistSql(phrases: Seq[String], maxHits: Long = 0L): String = {
    val counts = phrases.map(_.toLowerCase.replace("'", "''")).map { p =>
      val L = p.length
      s"len([i FOR i IN range(1, greatest(len(t) - $L + 2, 1))" +
        s" IF substr(t, i, $L) = '$p'])"
    }.mkString("(", " + ", ")")
    s"""SELECT doc_id, CAST($counts AS BIGINT) AS n_blocked,
       |  $counts > $maxHits AS blocked
       |FROM (SELECT doc_id, lower(text) AS t FROM documents
       |      WHERE text IS NOT NULL)""".stripMargin
  }

  // ---- unicode normalization ----

  /** Canonical Unicode cleanup — the normalization every hash-keyed
    * stage (exact dedup, shingles, fingerprints) wants upstream, since
    * NFC-divergent encodings of the same text otherwise hash apart:
    * NFC compose → drop zero-width chars (ZWSP/ZWNJ/ZWJ/BOM) → collapse
    * whitespace/control runs (an ENUMERATED code-point class, stated
    * identically as an RE2 class in the oracle) to single spaces →
    * trim. One codegen'd native pass
    * ([[graft.functions.NfcCleanExpr]]); map-side, zero shuffle.
    * Returns (doc_id, text_norm, changed). */
  def normalize(docs: DataFrame): DataFrame = {
    val norm = graft.functions.TextExprs.nfcClean(col("text"))
    docs.select(col("doc_id"), norm.as("text_norm"),
      (norm =!= col("text")).as("changed"))
  }

  /** DuckDB twin of [[normalize]]'s cleanup chain for a string
    * expression `e`. */
  def normalizeSql(e: String): String =
    "trim(regexp_replace(regexp_replace(nfc_normalize(" + e + "), " +
      s"'${graft.functions.NfcClean.ZeroWidthClassRe2}', '', 'g'), " +
      s"'${graft.functions.NfcClean.CollapseClassRe2}', ' ', 'g'))"

  // ---- quality scoring ----

  /** English stopwords used by the quality heuristic (tiny fixed list —
    * the scoring signal, not a linguistic claim). */
  val StopEn: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "at", "by", "this", "was", "are", "be")

  private def tokens = split(trim(lower(col("text"))), "\\s+")

  private def hitRatio(stop: Seq[String]): Column =
    graft.functions.TextExprs.profileHits(tokens, Seq(stop)).getItem(0)
      .cast("double") / greatest(size(tokens), lit(1)).cast("double")

  /** Length/punctuation/stopword quality features + a composite score —
    * the standard pre-training corpus filters (length bounds, symbol
    * ratios, stopword presence), deterministic and clamped to [0,1]. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val len = greatest(length(col("text")), lit(1)).cast("double")
    val nTok = greatest(size(tokens), lit(1)).cast("double")
    val punct = regexp_count(col("text"), lit("[.,!?;:]")).cast("double") / len
    val digit = regexp_count(col("text"), lit("[0-9]")).cast("double") / len
    val upper = regexp_count(col("text"), lit("[A-Z]")).cast("double") / len
    val meanTokLen =
      length(regexp_replace(col("text"), "\\s", "")).cast("double") / nTok
    val stopR = hitRatio(StopEn)
    docs.select(col("doc_id"),
      size(tokens).cast("long").as("n_tokens"),
      punct.as("punct_ratio"), digit.as("digit_ratio"),
      upper.as("upper_ratio"), meanTokLen.as("mean_tok_len"),
      stopR.as("stopword_ratio"), qualityColumn.as("quality"))
  }

  /** The composite quality score as a doc-local COLUMN over any frame
    * with `text` — identical expression to [[qualityScore]]'s
    * `quality` output; lets gate-shaped consumers (e.g.
    * [[Curation.curate]]'s quality floor) FILTER on it in place
    * instead of joining the score frame back on doc_id. */
  private[pipeline] def qualityColumn: Column = {
    val len = greatest(length(col("text")), lit(1)).cast("double")
    val punct = regexp_count(col("text"), lit("[.,!?;:]")).cast("double") / len
    val digit = regexp_count(col("text"), lit("[0-9]")).cast("double") / len
    val upper = regexp_count(col("text"), lit("[A-Z]")).cast("double") / len
    val stopR = hitRatio(StopEn)
    val lengthOk = when(size(tokens).between(5, 10000), lit(1.0)).otherwise(lit(0.0))
    least(lit(1.0), greatest(lit(0.0),
      lit(0.3) * lengthOk +
        lit(0.4) * least(stopR * 4, lit(1.0)) +
        lit(0.3) * (lit(1.0) - least(punct * 10 + digit * 5 + upper * 5, lit(1.0)))))
  }

  def qualityScoreSql: String = {
    val stopList = StopEn.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  punct AS punct_ratio, digit AS digit_ratio,
       |  upper AS upper_ratio, mean_tok_len, stop_r AS stopword_ratio,
       |  least(1.0, greatest(0.0,
       |    0.3 * (CASE WHEN len(toks) BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END)
       |    + 0.4 * least(stop_r * 4, 1.0)
       |    + 0.3 * (1.0 - least(punct * 10 + digit * 5 + upper * 5, 1.0)))) AS quality
       |FROM (
       |  SELECT doc_id, toks,
       |    len(regexp_extract_all(text, '[.,!?;:]')) / glen AS punct,
       |    len(regexp_extract_all(text, '[0-9]')) / glen AS digit,
       |    len(regexp_extract_all(text, '[A-Z]')) / glen AS upper,
       |    len(regexp_replace(text, '\\s', '', 'g')) / greatest(len(toks), 1) AS mean_tok_len,
       |    list_sum([CASE WHEN list_contains($stopList, t) THEN 1 ELSE 0 END
       |              for t in toks]) / CAST(greatest(len(toks), 1) AS DOUBLE) AS stop_r
       |  FROM (SELECT doc_id, text,
       |          regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
       |          CAST(greatest(len(text), 1) AS DOUBLE) AS glen
       |        FROM documents))""".stripMargin
  }

  // ---- language ID ----

  /** Stopword profiles for the n-gram/stopword language heuristic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> StopEn,
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en", "un",
      "una", "es", "por", "con", "para", "del"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
      "mit", "von", "zu", "den", "im", "für", "auf"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "un", "une",
      "du", "dans", "pour", "que", "qui", "sur"))

  /** Language-ID heuristic: stopword hit ratio per profile + CJK char
    * ratio for zh; argmax wins (first in profile order on ties), 'und'
    * (undetermined) when every score is 0. */
  def languageId(docs: DataFrame): DataFrame = {
    // one fused native pass over the tokens for ALL profiles (the
    // per-profile HOF fold would walk every document P times)
    val hits = graft.functions.TextExprs.profileHits(
      tokens, LangProfiles.map(_._2))
    val nTok = greatest(size(tokens), lit(1)).cast("double")
    val scores = LangProfiles.zipWithIndex.map { case ((l, _), i) =>
      l -> (hits.getItem(i).cast("double") / nTok)
    }
    val zh = regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]"))
      .cast("double") / greatest(length(col("text")), lit(1)).cast("double")
    val all = scores :+ ("zh" -> zh)
    val best = all.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = all.foldRight(lit("und"): Column) { case ((l, s), els) =>
      when(s === best && best > 0, lit(l)).otherwise(els)
    }
    // first-match-wins needs left-to-right: foldRight builds
    // when(en)...when(zh).otherwise(und) in profile order — correct.
    docs.select(col("doc_id"), pick.as("lang_pred"), best.as("lang_score"))
  }

  def languageIdSql: String = {
    val scoreExprs = LangProfiles.map { case (l, stop) =>
      val lst = stop.map(s => s"'$s'").mkString("[", ", ", "]")
      l -> (s"list_sum([CASE WHEN list_contains($lst, t) THEN 1 ELSE 0 END " +
        s"for t in toks]) / CAST(greatest(len(toks), 1) AS DOUBLE)")
    } :+ ("zh" ->
      ("len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) " +
        "/ CAST(greatest(len(text), 1) AS DOUBLE)"))
    val cols = scoreExprs.map { case (l, e) => s"($e) AS s_$l" }.mkString(", ")
    val best = scoreExprs.map(p => s"s_${p._1}").mkString("greatest(", ", ", ")")
    val pick = scoreExprs.map { case (l, _) =>
      s"WHEN s_$l = best AND best > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    s"""SELECT doc_id, $pick AS lang_pred, best AS lang_score
       |FROM (
       |  SELECT doc_id, $best AS best, * FROM (
       |    SELECT doc_id, text,
       |           regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
       |           $cols
       |    FROM documents))""".stripMargin
  }

  // ---- fingerprinting ----

  /** Rolling polynomial hash (h·31 + code, mod 2³¹−1) over the full
    * lowercased text, plus the min md5-hash of char 5-grams (a 1-value
    * winnowing-style sketch). Identical fold order in both engines. */
  def fingerprints(docs: DataFrame): DataFrame = {
    val t = trim(lower(col("text")))
    val rolling = graft.functions.TextExprs.rollingHash(t, 31L, NearDup.P)
    val grams = expr(
      "transform(sequence(1, greatest(length(trim(lower(text))) - 4, 1)), " +
        "i -> substring(trim(lower(text)), i, 5))")
    val minGram = array_min(transform(grams,
      g => pmod(NearDup.h64(g), lit(2147483648L))))
    docs.select(col("doc_id"), rolling.as("fp_rolling"), minGram.as("fp_min5gram"))
  }

  // ---- LM perplexity scoring ----

  /** Bigram-LM perplexity — the CCNet-shape LM quality filter (Wenzek
    * et al. 2020 score with a 5-gram KenLM; the distributed plan is
    * the same at any order): a Laplace-smoothed bigram model is
    * trained on the even-doc_id half of the corpus, then EVERY
    * document is scored against it. p(b|a) = (c(a,b)+1)/(c(a)+V) with
    * V the train vocabulary size; ppl = exp(−Σ ln p / n) over a doc's
    * n bigrams. Unseen words degrade gracefully (c = 0 keeps the
    * smoothed floor); docs with fewer than two tokens — null/empty
    * text included — surface with n_bigrams = 0 and null ppl.
    *
    * Scale shape: the count tables are two map-side-combined
    * aggregates over the train half. Scoring joins each doc bigram
    * against them on their own keys — at 100 TB the bigram table does
    * NOT broadcast, and the shuffle join on (a,b)/(a) is the right
    * shape: the build side is one row per key even for Zipf-hot
    * tokens, so AQE's skew split on the probe side is sufficient. V is
    * the one scalar driver-free broadcast. */
  def perplexity(docs: DataFrame): DataFrame = {
    val t = filter(tokens, x => length(x) > 0)
    // adjacent pairs without element_at (ANSI-safe, empty-safe):
    // zip tokens 1..n-1 with tokens 2..n
    def bigrams(tc: Column): Column = {
      val n = greatest(size(tc) - 1, lit(0))
      zip_with(slice(tc, lit(1), n), slice(tc, lit(2), n),
        (x, y) => struct(x.as("a"), y.as("b")))
    }
    val toks = docs.select(col("doc_id"), t.as("tk"))
    val train = toks.filter(col("doc_id") % 2 === 0)
    // Round 16 NOTE: deriving the unigram table from the bigram
    // aggregate (ca = Σ_b cab + #docs-ending-in-a) was tried and
    // REVERTED — distinct bigrams run ~0.7× token occurrences on
    // natural text, so the "smaller" re-aggregation plus its full
    // outer join measured slightly SLOWER than the direct count at
    // every scale tried; the direct shape below stays.
    val uni = train.select(explode(col("tk")).as("a"))
      .groupBy("a").agg(count(lit(1)).as("ca"))
    val bi = train.select(explode(bigrams(col("tk"))).as("g"))
      .select(col("g.a").as("a"), col("g.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
    val v = broadcast(uni.agg(count(lit(1)).cast("double").as("v")))
    val logp = log((coalesce(col("cab"), lit(0L)) + lit(1.0)) /
      (coalesce(col("ca"), lit(0L)) + col("v")))
    toks.select(col("doc_id"), explode_outer(bigrams(col("tk"))).as("g"))
      .select(col("doc_id"), col("g.a").as("a"), col("g.b").as("b"))
      .join(bi, Seq("a", "b"), "left")
      .join(uni, Seq("a"), "left")
      .crossJoin(v)
      .groupBy(col("doc_id"))
      .agg(count(col("a")).cast("long").as("n_bigrams"),
        sum(when(col("a").isNotNull, logp)).as("__lp"))
      .select(col("doc_id"), col("n_bigrams"),
        when(col("n_bigrams") > 0, exp(-col("__lp") / col("n_bigrams")))
          .as("ppl"))
  }

  /** DuckDB twin of [[perplexity]]; defines `ppx(doc_id, n_bigrams,
    * ppl)`. */
  def perplexitySql: String = perplexitySql("documents")

  /** [[perplexitySql]] over an arbitrary corpus relation — the
    * composed streaming pipeline trains the LM on the dedup-SURVIVOR
    * corpus, not the raw table. */
  def perplexitySql(from: String): String =
    s"""ptoks AS (
       |  SELECT doc_id, coalesce(list_filter(
       |    regexp_split_to_array(trim(lower(text)), '\\s+'),
       |    t -> t <> ''), []) AS tk
       |  FROM $from
       |), pbg AS (
       |  SELECT doc_id, list_zip(tk[1:greatest(len(tk) - 1, 0)],
       |                          tk[2:len(tk)]) AS bg
       |  FROM ptoks
       |), puni AS (
       |  SELECT t AS a, count(*) AS ca
       |  FROM (SELECT unnest(tk) AS t FROM ptoks WHERE doc_id % 2 = 0)
       |  GROUP BY 1
       |), pbi AS (
       |  SELECT g[1] AS a, g[2] AS b, count(*) AS cab
       |  FROM (SELECT unnest(bg) AS g FROM pbg WHERE doc_id % 2 = 0)
       |  GROUP BY 1, 2
       |), pv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM puni),
       |pex AS (
       |  SELECT doc_id, g[1] AS a, g[2] AS b
       |  FROM (SELECT doc_id, unnest(bg) AS g FROM pbg)
       |), psc AS (
       |  SELECT e.doc_id, count(*) AS n,
       |    sum(ln((coalesce(cb.cab, 0) + 1.0) / (coalesce(cu.ca, 0) + pv.v))) AS lp
       |  FROM pex e
       |  LEFT JOIN pbi cb ON cb.a = e.a AND cb.b = e.b
       |  LEFT JOIN puni cu ON cu.a = e.a
       |  CROSS JOIN pv
       |  GROUP BY e.doc_id
       |), ppx AS (
       |  SELECT d.doc_id, coalesce(p.n, 0) AS n_bigrams,
       |    CASE WHEN p.n > 0 THEN exp(-p.lp / p.n) END AS ppl
       |  FROM $from d LEFT JOIN psc p USING (doc_id)
       |)""".stripMargin

  // ---- character entropy ----

  /** Shannon entropy of the character distribution, in nats — the
    * gibberish/degenerate-text detector (keyboard mash, base64 blobs,
    * and single-char runs all sit far from natural text's ~3 nats):
    * H = ln n − (Σ_c c·ln c)/n over per-doc char counts c. Null/empty
    * text surfaces as n_chars = 0 with null entropy.
    *
    * Scale shape: entropy is a pure function of the one document, so
    * it is computed DOC-LOCALLY in one native pass
    * ([[graft.functions.CharEntropyExpr]]) — no explode, no exchange,
    * no join-back. (Round 16: the previous explode + two-level
    * aggregate + broadcast-join-back shape paid 3 exchanges and a
    * per-CHARACTER row stream through the partial aggregate for a
    * value every row already owned; the kernel counts code points —
    * exactly the groups `split(text, "") … length(ch) > 0` produced —
    * and applies the same log-sum identity, so the value is
    * unchanged.) n_chars = `length(text)` (code points, = the kept
    * per-char rows); null/empty text surfaces as n_chars = 0 with
    * null entropy, as before. */
  def charEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      coalesce(length(col("text")).cast("long"), lit(0L)).as("n_chars"),
      when(length(col("text")) > 0,
        graft.functions.TextExprs.charEntropy(col("text"))).as("entropy"))

  /** DuckDB twin of [[charEntropy]]; defines `ent(doc_id, n_chars,
    * entropy)`. */
  def charEntropySql: String = charEntropySql("documents")

  /** [[charEntropySql]] over an arbitrary corpus relation. */
  def charEntropySql(from: String): String =
    s"""echr AS (
       |  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
       |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
       |        FROM $from) WHERE ch <> ''
       |  GROUP BY doc_id, ch
       |), edoc AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
       |    ln(sum(c)) - sum(c * ln(c)) / sum(c) AS entropy
       |  FROM echr GROUP BY doc_id
       |), ent AS (
       |  SELECT d.doc_id, coalesce(e.n_chars, 0) AS n_chars, e.entropy
       |  FROM $from d LEFT JOIN edoc e USING (doc_id)
       |)""".stripMargin

  def fingerprintsSql: String =
    s"""SELECT doc_id,
       |  list_reduce([CAST(ascii(c) AS BIGINT) for c in string_split(t, '')],
       |              (acc, x) -> (acc * 31 + x) % ${NearDup.P}) AS fp_rolling,
       |  list_min([CAST('0x' || substr(md5(substr(t, i, 5)), 1, 15) AS BIGINT) % 2147483648
       |            for i in generate_series(1, greatest(len(t) - 4, 1))]) AS fp_min5gram
       |FROM (SELECT doc_id, trim(lower(text)) AS t FROM documents)""".stripMargin
}
