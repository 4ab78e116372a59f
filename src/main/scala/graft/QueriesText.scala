package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{HashFns, TextFns}
import graft.operators.{Similarity, Windows}
import graft.sources.Tables

/** Text-analysis operators over the `documents` corpus: token counting,
  * quality scoring, language-ID heuristic, corpus n-gram stats, and
  * content fingerprinting. All per-document work is embarrassingly
  * parallel (map-only over the scan); only the n-gram rollup shuffles,
  * and it shuffles compact (bigram, 1) pairs after map-side partial
  * aggregation — the shape that survives a 100 TB corpus.
  *
  * DuckDB oracle notes: DuckDB regexp_replace needs the 'g' flag to
  * match Spark's replace-all default; token/char counts are cast BIGINT
  * on both sides; ratios are int/int → double in both engines (same
  * operands → same IEEE result).
  */
object QueriesText {

  /** Shared CTE chain of the two drift-gate oracles (q_drift_chisq /
    * q_drift_psi): half-split snapshots → reference histogram →
    * equi-depth boundaries → per-bin (ref_n, cur_n) counts, ending at
    * `per`. One definition, two consumers, zero drift.
    */
  private lazy val driftBinsCtesSql: String =
    """mid AS (
      |  SELECT (max(doc_id) + 1) // 2 AS m FROM documents),
      |refv AS (
      |  SELECT CAST(n_chars AS BIGINT) AS gv FROM documents, mid
      |  WHERE doc_id < m AND n_chars IS NOT NULL),
      |curv AS (
      |  SELECT CAST(n_chars AS BIGINT) AS gv FROM documents, mid
      |  WHERE doc_id >= m AND n_chars IS NOT NULL),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM refv),
      |hist AS (SELECT gv, count(*) AS c FROM refv GROUP BY gv),
      |cum AS (SELECT gv, sum(c) OVER (ORDER BY gv) AS cum
      |        FROM hist),
      |bnd AS (
      |  SELECT t.i, min(cum.gv) AS b
      |  FROM cum, n, unnest(range(1, 10)) t(i)
      |  WHERE cum.cum >= (t.i * n.n + 9) // 10
      |  GROUP BY t.i),
      |refb AS (
      |  SELECT bin, CAST(count(*) AS BIGINT) AS ref_n FROM (
      |    SELECT CAST((SELECT count(*) FROM bnd
      |      WHERE bnd.b < r.gv) AS BIGINT) AS bin FROM refv r)
      |  GROUP BY bin),
      |curb AS (
      |  SELECT bin, CAST(count(*) AS BIGINT) AS cur_n FROM (
      |    SELECT CAST((SELECT count(*) FROM bnd
      |      WHERE bnd.b < c.gv) AS BIGINT) AS bin FROM curv c)
      |  GROUP BY bin),
      |tot AS (
      |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM refv)
      |    AS ref_total,
      |  (SELECT CAST(count(*) AS BIGINT) FROM curv) AS cur_total),
      |per AS (
      |  SELECT bin, COALESCE(ref_n, CAST(0 AS BIGINT)) AS ref_n,
      |    COALESCE(cur_n, CAST(0 AS BIGINT)) AS cur_n
      |  FROM refb FULL OUTER JOIN curb USING (bin))""".stripMargin

  /** Shared CTE chain of the BM25 oracle (docs 0-4 query docs >= 5):
    * tf/dl/df/avgdl statistics, rational-idf scoring, ordered term
    * folds — ends at `tot(qid, doc_id, score)`. Used verbatim by
    * q_text_bm25_topk and the RRF fusion oracle so the two replays
    * cannot drift.
    *
    * `parts` is `AS MATERIALIZED` (a DuckDB-only execution hint; the
    * result is identical): at sf10 (42M part rows on the closed
    * vocabulary) DuckDB's pipelined execution of the ordered-list fold
    * directly over the term join exhausted its 100 GiB budget, while
    * materializing `parts` first runs the same fold in 0.2 s — the
    * ordered-aggregate-over-join shape keeps per-group sort state live
    * across the whole join when fused.
    */
  private lazy val bm25CtesSql =
    s"""toks AS (
       |  SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS term
       |  FROM documents),
       |corpus AS (SELECT doc_id, term FROM toks WHERE doc_id >= 5),
       |tf AS (SELECT doc_id, term, count(*) AS tf
       |       FROM corpus GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, count(*) AS dl
       |       FROM corpus GROUP BY doc_id),
       |dfreq AS (SELECT term, count(*) AS df
       |          FROM (SELECT DISTINCT doc_id, term FROM corpus)
       |          GROUP BY term),
       |st AS (SELECT count(*) AS n_docs,
       |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       |       FROM dl),
       |qt AS (SELECT DISTINCT doc_id AS qid, term FROM toks
       |       WHERE doc_id < 5),
       |parts AS MATERIALIZED (
       |  SELECT q.qid, t.doc_id, q.term,
       |    ((st.n_docs - d.df + 0.5e0) / (d.df + 0.5e0))
       |      * (t.tf * (1.2e0 + 1.0e0))
       |      / (t.tf + 1.2e0 * (1.0e0 - 0.75e0
       |          + 0.75e0 * (l.dl / st.avgdl))) AS part
       |  FROM qt q
       |  JOIN dfreq d USING (term)
       |  JOIN tf t USING (term)
       |  JOIN dl l ON l.doc_id = t.doc_id, st),
       |tot AS (SELECT qid, doc_id,
       |          list_sum(list(part ORDER BY term)) AS score
       |        FROM parts GROUP BY qid, doc_id)""".stripMargin
  private val stopListSql =
    TextFns.enStopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  val qs: Seq[Q] = Seq(

    // -------------------------------------------------- token/char stats
    Q("q_text_token_stats",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = TextFns.tokens(col("text"))
        docs.select(
            col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            TextFns.wordCount(col("text")).as("n_words"),
            TextFns.punctCount(col("text")).as("n_punct"),
            length(col("text")).cast("long").as("n_chars_raw"),
            (length(array_join(toks, "")).cast("long")
              / size(toks)).as("avg_token_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, text, ${TextFns.tokensSql("text")} AS toks
              |  FROM documents)
              |SELECT doc_id,
              |  CAST(len(toks) AS BIGINT) AS n_tokens,
              |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words,
              |  CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS BIGINT) AS n_punct,
              |  CAST(length(text) AS BIGINT) AS n_chars_raw,
              |  CAST(length(list_aggregate(toks, 'string_agg', '')) AS BIGINT)
              |    / CAST(len(toks) AS BIGINT) AS avg_token_len
              |FROM t ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------------- quality score
    Q("q_text_quality",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = TextFns.tokens(col("text"))
        val nTok = size(toks).cast("long")
        val nStop = TextFns.countIn(toks, TextFns.enStopwords)
        docs.select(
            col("doc_id"),
            nTok.as("n_tokens"),
            nStop.as("n_stop"),
            (nStop / nTok).as("stop_ratio"),
            when(nTok >= 20 && nTok <= 500 && (nStop / nTok) >= 0.01, 1L)
              .otherwise(0L).as("quality_ok"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
              |  FROM documents),
              |c AS (
              |  SELECT doc_id,
              |    CAST(len(toks) AS BIGINT) AS n_tokens,
              |    CAST(len(list_filter(toks, x -> x IN $stopListSql)) AS BIGINT) AS n_stop
              |  FROM t)
              |SELECT doc_id, n_tokens, n_stop,
              |  n_stop / n_tokens AS stop_ratio,
              |  CAST(CASE WHEN n_tokens >= 20 AND n_tokens <= 500
              |            AND n_stop / n_tokens >= 0.01
              |       THEN 1 ELSE 0 END AS BIGINT) AS quality_ok
              |FROM c ORDER BY doc_id""".stripMargin)),

    // --------------------------------------- lexical diversity signals
    // Unigram entropy + type-token ratio — the Gopher/C4-family
    // diversity gates that catch keyword-stuffed or template text which
    // length/stopword gates miss. Shape: explode → (doc, token) count
    // (map-side combine) → per-doc rollup; state is O(types per doc),
    // embarrassingly parallel across docs. TTR is an exact int/int
    // ratio; entropy is ln(n) − Σc·ln(c)/n, 6-decimal-stabilized
    // because ln() and float-sum order differ legitimately between
    // engines (both sides' terms agree to ~1e-13 against a 1e-6 grid).
    Q("q_text_diversity",
      (s, d) => {
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        val toked = Tables.documents(s, d).select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("tok"))
        toked.groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("__c"))
          .groupBy(col("doc_id"))
          .agg(
            sum(col("__c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(col("__c").cast("double")
              * log(col("__c").cast("double"))).as("__clogc"))
          .select(col("doc_id"), col("n_tokens"), col("n_types"),
            (col("n_types") / col("n_tokens")).as("ttr"),
            stab6(log(col("n_tokens").cast("double"))
              - col("__clogc") / col("n_tokens").cast("double"))
              .as("entropy"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS tok
              |  FROM documents),
              |c AS (
              |  SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
              |e AS (
              |  SELECT doc_id,
              |    CAST(sum(c) AS BIGINT) AS n_tokens,
              |    CAST(count(*) AS BIGINT) AS n_types,
              |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
              |  FROM c GROUP BY 1)
              |SELECT doc_id, n_tokens, n_types,
              |  n_types / n_tokens AS ttr,
              |  ${graft.functions.Stabilize.stabSql(
                   "ln(CAST(n_tokens AS DOUBLE)) - clogc / CAST(n_tokens AS DOUBLE)", 6)}
              |    AS entropy
              |FROM e ORDER BY doc_id""".stripMargin)),

    // --------------------------------------- corpus-quantile quality prune
    // Quality pruning by GLOBAL quantile rather than a fixed threshold
    // (the common "drop the worst X% of the corpus" step): the cutoff
    // comes from Percentiles.exactByHistogram — a distributed
    // groupBy-count histogram plus a window over the (tiny) histogram,
    // NOT the built-in `percentile` aggregate, whose single buffer
    // holds every score in one task and was this suite's last
    // 100-TB-shaped memory ceiling (flagged by the r4/r5 verdicts).
    // stop_ratio's distinct-value count is bounded by the (n_stop,
    // n_tokens) integer pairs, so the histogram contract holds. The
    // broadcast of the 1-row cutoff feeds a fully parallel filter —
    // same two-phase shape as mean imputation, never a global sort or
    // corpus-sized window. The cutoff is 6-decimal-stabilized
    // (interpolation order differs legitimately between engines); the
    // scores themselves are exact int/int ratios, so boundary
    // decisions agree cross-engine by construction.
    Q("q_text_quality_prune",
      (s, d) => {
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        // SPREAD THE SCAN before the regex-heavy scoring (round-12
        // profile finding, SCALING.md): documents.parquet is a single
        // file with few row groups at the local decades, so the
        // CPU-bound normalize/tokenize leg rode on 1-2 scan tasks and
        // serialized (quality_prune measured 263 s at sf10 with 30
        // cores idle). The narrow round-robin exchange of the raw
        // text (tens of MB) buys full-width scoring; at 100 TB the
        // scan has thousands of splits and this repartition coalesces
        // into the same width AQE would pick. `scored` is cached —
        // its two consumers (histogram + filter) otherwise re-run
        // the regex leg twice.
        val docs = Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism)
        val toks = TextFns.tokens(col("text"))
        val scored = docs.select(col("doc_id"),
          (TextFns.countIn(toks, TextFns.enStopwords)
            / size(toks).cast("long")).as("stop_ratio")).cache()
        val cut = graft.operators.Percentiles
          .exactByHistogram(scored, "stop_ratio", 0.25, "cutoff_raw")
          .select(stab6(col("cutoff_raw")).as("cutoff"))
        scored.crossJoin(broadcast(cut))
          .filter(col("stop_ratio") >= col("cutoff"))
          .select(col("doc_id"), col("stop_ratio"), col("cutoff"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
              |  FROM documents),
              |sc AS (
              |  SELECT doc_id,
              |    CAST(len(list_filter(toks, x -> x IN $stopListSql)) AS BIGINT)
              |      / CAST(len(toks) AS BIGINT) AS stop_ratio
              |  FROM t),
              |c AS (SELECT ${graft.functions.Stabilize.stabSql(
                  "quantile_cont(stop_ratio, 0.25)", 6)} AS cutoff FROM sc)
              |SELECT doc_id, stop_ratio, cutoff FROM sc, c
              |WHERE stop_ratio >= cutoff ORDER BY doc_id""".stripMargin)),

    // ----------------------------------- approx corpus-quantile prune
    // The sketch-based sibling of q_text_quality_prune for value
    // domains where the histogram contract does NOT hold (continuous
    // unbounded scores): approx_percentile's GK sketch is mergeable
    // with O(accuracy) state per task, the canonical 100-TB quantile
    // shape. Oracle-able (unlike a generic sketch) because at accuracy
    // 10000 the sketch is EXACT below 10000 rows, and an exact GK query
    // returns the order statistic at rank ceil(p·n) (1-indexed; see
    // QuantileSummaries.query — every sample has g=1, delta=0, so the
    // probe lands on minRank == ceil(quantile·count)). That rule is
    // plain SQL: ORDER BY score LIMIT 1 OFFSET ceil(p·n)−1. The output
    // omits the cutoff column — the cross-engine contract is the
    // SELECTED SET (which at real scale is bounded by the sketch's
    // rank error, PercentilesSpec's tolerance assertion), not the
    // sketch internals. Scores are exact int/int ratios and the cutoff
    // is an actual data value (no interpolation), so boundary
    // decisions agree bit-exactly.
    Q("q_text_quality_prune_approx",
      (s, d) => {
        // Scan spread + scored cache: same round-12 profile fix as
        // q_text_quality_prune (the serial-scan finding). Partition
        // count does not move the GK sketch outside its contract —
        // merged summaries keep the eps rank bound, which is the
        // operator's documented accuracy bar and what check_sf1
        // verifies above 10k rows.
        val docs = Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism)
        val toks = TextFns.tokens(col("text"))
        val scored = docs.select(col("doc_id"),
          (TextFns.countIn(toks, TextFns.enStopwords)
            / size(toks).cast("long")).as("stop_ratio")).cache()
        val cut = scored.agg(
          expr("approx_percentile(stop_ratio, 0.25, 10000)").as("cutoff"))
        scored.crossJoin(broadcast(cut))
          .filter(col("stop_ratio") >= col("cutoff"))
          .select(col("doc_id"), col("stop_ratio"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
              |  FROM documents),
              |sc AS (
              |  SELECT doc_id,
              |    CAST(len(list_filter(toks, x -> x IN $stopListSql)) AS BIGINT)
              |      / CAST(len(toks) AS BIGINT) AS stop_ratio
              |  FROM t),
              |c AS (
              |  SELECT stop_ratio AS cutoff FROM sc ORDER BY stop_ratio
              |  LIMIT 1 OFFSET (SELECT CAST(ceil(0.25 * count(*)) AS BIGINT) - 1
              |                  FROM sc))
              |SELECT doc_id, stop_ratio FROM sc, c
              |WHERE stop_ratio >= cutoff ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------ language-ID heuristic
    // Stopword-share n-gram heuristic (the corpus text is synthetic word
    // salad, so the score — not the stored lang column — is the contract;
    // the heuristic itself is what a pretraining pipeline runs at scale).
    Q("q_text_langid",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = TextFns.tokens(col("text"))
        val score = TextFns.countIn(toks, TextFns.enStopwords) /
          size(toks).cast("long")
        docs.select(col("doc_id"), col("lang").as("lang_declared"),
            score.as("en_score"),
            when(score >= 0.05, lit("en")).otherwise(lit("und")).as("lang_pred"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, lang, ${TextFns.tokensSql("text")} AS toks
              |  FROM documents),
              |sc AS (
              |  SELECT doc_id, lang,
              |    CAST(len(list_filter(toks, x -> x IN $stopListSql)) AS BIGINT)
              |      / CAST(len(toks) AS BIGINT) AS en_score
              |  FROM t)
              |SELECT doc_id, lang AS lang_declared, en_score,
              |  CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'und' END AS lang_pred
              |FROM sc ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------- corpus top bigrams
    Q("q_text_top_bigrams",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // Materialize the token array ONCE per row: inlining the
        // normalize+split expression into the lambda would re-run the
        // regexes per element access (O(len²) regex work per doc — this
        // was 21 s at sf0.1 before the materialization).
        val toked = docs.select(TextFns.tokens(col("text")).as("toks"))
        val t = col("toks")
        val bigrams = transform(
          sequence(lit(1), size(t) - 1),
          i => concat(element_at(t, i), lit(" "), element_at(t, i + 1)))
        toked.select(explode(bigrams).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram"))
          .limit(20)
      },
      Some(s"""WITH t AS (
              |  SELECT ${TextFns.tokensSql("text")} AS toks FROM documents),
              |bg AS (
              |  SELECT unnest(list_transform(range(1, len(toks)),
              |    i -> toks[i] || ' ' || toks[i+1])) AS bigram
              |  FROM t)
              |SELECT bigram, count(*) AS n FROM bg
              |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin)),

    // ---------------------------------------------- token-count estimate
    // Whitespace word count vs the BPE-ish subword estimate per doc,
    // plus the corpus totals a token-budgeting pass needs.
    Q("q_text_token_estimate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val per = docs.select(col("doc_id"),
          TextFns.wordCount(col("text")).as("n_words"),
          TextFns.bpeishTokenCount(col("text")).as("n_bpeish"))
        // corpus total via 1-row agg + broadcast, NOT an unpartitioned
        // window (same A8 discipline: nothing funnels through one task)
        val total = per.agg(sum(col("n_bpeish")).as("corpus_bpeish"))
        per.crossJoin(broadcast(total))
          .filter(col("doc_id") < 200)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH per AS (
              |  SELECT doc_id,
              |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
              |      AS BIGINT) AS n_words,
              |    CAST(len(regexp_extract_all(text,
              |      '${TextFns.bpeishPattern.replace("'", "''")}', 0))
              |      AS BIGINT) AS n_bpeish
              |  FROM documents)
              |SELECT doc_id, n_words, n_bpeish,
              |  (SELECT CAST(SUM(n_bpeish) AS BIGINT) FROM per)
              |    AS corpus_bpeish
              |FROM per WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------------- doc chunking
    // Split documents into overlapping token windows (size 32, stride
    // 24) — the context-window chunking step of an LLM training-data
    // pipeline. Pure map + explode (no shuffle): each doc emits
    // ceil((len-overlap)/stride) chunks tagged (doc_id, chunk_no) with
    // its token span re-joined to text. A trailing partial chunk is
    // kept iff it adds tokens beyond the previous window.
    Q("q_text_chunking",
      (s, d) => {
        val W = 32
        val S = 24
        val docs = Tables.documents(s, d)
        val toked = docs.select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks"))
        val t = col("toks")
        val nChunks = when(size(t) <= W, lit(1))
          .otherwise(ceil((size(t) - lit(W)).cast("double") / S)
            .cast("int") + 1)
        toked
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0), nChunks - 1)).as("chunk_no"))
          .select(col("doc_id"), col("chunk_no"),
            concat_ws(" ",
              slice(col("toks"), col("chunk_no") * S + 1, lit(W))).as("chunk"),
            least(size(col("toks")) - col("chunk_no") * S, lit(W))
              .cast("long").as("chunk_tokens"))
          .orderBy(col("doc_id"), col("chunk_no"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
              |  FROM documents),
              |n AS (
              |  SELECT doc_id, toks,
              |    CASE WHEN len(toks) <= 32 THEN 1
              |         ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INT) + 1
              |    END AS n_chunks
              |  FROM t),
              |c AS (
              |  SELECT doc_id, toks,
              |    CAST(u.c AS INT) AS chunk_no
              |  FROM n, unnest(range(n_chunks)) u(c))
              |SELECT doc_id, chunk_no,
              |  array_to_string(toks[chunk_no * 24 + 1 : chunk_no * 24 + 32],
              |    ' ') AS chunk,
              |  CAST(least(len(toks) - chunk_no * 24, 32) AS BIGINT)
              |    AS chunk_tokens
              |FROM c ORDER BY doc_id, chunk_no""".stripMargin)),

    // ------------------------------------------------------- tf-idf terms
    // Top characteristic terms per document: tf × (N/df), the rational
    // idf variant — integer-derived double division is bit-exact across
    // engines, unlike ln(N/df) whose libm implementations differ in the
    // last ulp and would break the exact hash compare. Corpus-wide df in
    // one distinct+groupBy pass; N via a broadcast 1-row aggregate.
    Q("q_text_tfidf_terms",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs.select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("term"))
        val tf = toks.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = toks.distinct().groupBy(col("term"))
          .agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
        val scored = tf.join(dfreq, Seq("term"))
          .crossJoin(broadcast(nDocs))
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            (col("tf") * col("n_docs") / col("df")).as("score"))
        Windows.topKPerGroup(scored, Seq(col("doc_id")),
            Seq(col("score").desc, col("term")), 3)
          .orderBy(col("doc_id"), col("score").desc, col("term"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS term
              |  FROM documents),
              |tf AS (SELECT doc_id, term, count(*) AS tf
              |       FROM toks GROUP BY doc_id, term),
              |dfreq AS (SELECT term, count(*) AS df
              |          FROM (SELECT DISTINCT doc_id, term FROM toks)
              |          GROUP BY term),
              |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
              |scored AS (
              |  SELECT doc_id, term, tf, df, tf * n_docs / df AS score
              |  FROM tf JOIN dfreq USING (term), n
              |  WHERE doc_id < 50)
              |SELECT doc_id, term, tf, df, score FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY doc_id ORDER BY score DESC, term) AS rk
              |  FROM scored) WHERE rk <= 3
              |ORDER BY doc_id, score DESC, term""".stripMargin)),

    // ------------------------------------------------- BM25 retrieval
    // Query-by-document retrieval (operators/Bm25): docs 0-4 are the
    // queries, docs >= 5 the corpus; each query's distinct tokens probe
    // the tf postings through an inverted-index join and BM25
    // (k1 = 1.2, b = 0.75, RATIONAL idf — see Bm25's scaladoc for the
    // cross-engine exactness argument) ranks the top-5 hits. This is
    // the retrieval primitive behind query-by-example decontamination
    // audits; the oracle replays tf/df/dl/avgdl and the ordered
    // term-fold scoring end-to-end.
    Q("q_text_bm25_topk",
      (s, d) => {
        import graft.operators.Bm25
        val toks = Tables.documents(s, d).select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("term"))
        val corpus = toks.filter(col("doc_id") >= 5)
        val queryTerms = toks.filter(col("doc_id") < 5)
          .select(col("doc_id").as("qid"), col("term")).distinct()
        Bm25.topK(corpus, queryTerms, k1 = 1.2, b = 0.75, k = 5)
      },
      Some(s"""WITH $bm25CtesSql
              |SELECT qid, rk, doc_id, score FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
              |  FROM tot) WHERE rk <= 5
              |ORDER BY qid, rk""".stripMargin)),

    // ---------------------------- BM25 served from the bucketed lake
    // The SERVING half of the BM25 story (the q_sim_ann_ivf_lake
    // convention): Bm25.buildIndex persists the inverted index as
    // postings (term, doc_id, tf, dl) + dfreq (term, df), both
    // BUCKETED BY term (Lake.writeBucketed, co-bucketed), with the
    // 1-row exact-integer (n_docs, sum_dl) stats frame alongside; a
    // query batch then probes the persisted tables with term
    // equi-joins — at 100 TB the index never moves or shuffles, only
    // the (broadcast-tiny) query terms do, and the probe/df joins
    // match the bucket layout. Same arithmetic (shared partExpr),
    // same ordered fold, same oracle as q_text_bm25_topk — only the
    // physical serving plan differs; PlanSpec pins its exchange
    // budget.
    Q("q_text_bm25_lake",
      (s, d) => {
        import graft.operators.Bm25
        import graft.sources.Lake
        // Tables.spread measured + reverted here in r16 (flat,
        // 3.89 -> 3.79 s): the bucketed index writes re-execute the
        // exchange per write job, cancelling the scan parallelism
        val toks = Tables.documents(s, d).select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("term"))
        val (postings, dfreq, stats) = Bm25.buildIndex(
          toks.filter(col("doc_id") >= 5))
        Lake.writeBucketed(postings, "bm25_postings", "term", 8)
        Lake.writeBucketed(dfreq, "bm25_dfreq", "term", 8)
        val statsDir = s.conf.get("spark.sql.warehouse.dir") +
          "/bm25_stats_parquet"
        stats.coalesce(1).write.mode("overwrite").parquet(statsDir)
        val queryTerms = toks.filter(col("doc_id") < 5)
          .select(col("doc_id").as("qid"), col("term")).distinct()
        Bm25.servedTopK(s.table("bm25_postings"), s.table("bm25_dfreq"),
          s.read.parquet(statsDir), queryTerms,
          k1 = 1.2, b = 0.75, k = 5)
      },
      Some(s"""WITH $bm25CtesSql
              |SELECT qid, rk, doc_id, score FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
              |  FROM tot) WHERE rk <= 5
              |ORDER BY qid, rk""".stripMargin)),

    // ---------------------- BM25 index INCREMENTAL maintenance
    // The ingest half (the q_sim_lsh_incremental discipline — history
    // is never rescanned): the corpus docs with doc_id % 10 == 7
    // arrive as a NEW batch against an index built from the rest.
    // Bm25.mergeIndex appends the batch's postings, adds its df
    // counts into the term-keyed dfreq by one full-outer term join
    // (only the batch's terms shuffle — at 100 TB the history
    // postings are untouched bytes on the lake), and adds the
    // exact-integer stats. Because stats carry integer sums (not the
    // derived avgdl), the merged index is BIT-IDENTICAL to a full
    // rebuild — so this oracle is simply the full-corpus BM25 replay
    // shared with q_text_bm25_topk, and a hash match PROVES
    // incremental == rebuild end-to-end. Bm25Spec additionally pins
    // the equivalence per index frame.
    Q("q_text_bm25_incremental",
      (s, d) => {
        import graft.operators.Bm25
        val toks = Tables.documents(s, d).select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("term"))
        val corpus = toks.filter(col("doc_id") >= 5)
        val (hPost, hDfreq, hStats) = Bm25.buildIndex(
          corpus.filter(col("doc_id") % 10 =!= 7))
        val (mPost, mDfreq, mStats) = Bm25.mergeIndex(
          hPost, hDfreq, hStats,
          corpus.filter(col("doc_id") % 10 === 7))
        val queryTerms = toks.filter(col("doc_id") < 5)
          .select(col("doc_id").as("qid"), col("term")).distinct()
        Bm25.servedTopK(mPost, mDfreq, mStats, queryTerms,
          k1 = 1.2, b = 0.75, k = 5)
      },
      Some(s"""WITH $bm25CtesSql
              |SELECT qid, rk, doc_id, score FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
              |  FROM tot) WHERE rk <= 5
              |ORDER BY qid, rk""".stripMargin)),

    // ------------------------------------------ hybrid retrieval (RRF)
    // Reciprocal-rank fusion of the two retrieval modalities this
    // library certifies separately (operators/Fusion, Cormack et al.
    // 2009): the BM25 lexical top-20 and the embedding cosine top-20
    // each contribute 1/(60 + rank) per hit, scores add, and the fused
    // top-5 decides — rank-space fusion needs no score calibration
    // between a postings ranker and a vector ranker, which is why it's
    // the default hybrid combiner in RAG stacks. The oracle replays
    // BOTH rankers (the BM25 chain verbatim via the shared CTEs, the
    // cosine ranker like q_sim_cosine_topk) and the value-ordered part
    // fold end-to-end.
    Q("q_text_rrf_fusion",
      (s, d) => {
        import graft.operators.{Bm25, Fusion}
        val toks = Tables.documents(s, d).select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("term"))
        val lexical = Bm25.topK(
          toks.filter(col("doc_id") >= 5),
          toks.filter(col("doc_id") < 5)
            .select(col("doc_id").as("qid"), col("term")).distinct(),
          k1 = 1.2, b = 0.75, k = 20)
          .select(col("qid"), col("doc_id"), col("rk"))
        val e = Tables.embeddings(s, d)
          .withColumn("nrm", Similarity.norm(col("embedding")))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("nrm").as("qn"))
        val c = e.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("doc_id"), col("embedding").as("ce"),
            col("nrm").as("cn"))
        val cos = q.crossJoin(c).select(col("qid"), col("doc_id"),
          (Similarity.dot(col("qe"), col("ce"))
            / (col("qn") * col("cn"))).as("cos"))
        val semantic = Windows.topKPerGroupRanked(cos, Seq(col("qid")),
            Seq(col("cos").desc, col("doc_id")), 20, "rk")
          .select(col("qid"), col("doc_id"), col("rk"))
        Fusion.rrf(Seq(lexical, semantic), k0 = 60, topK = 5)
      },
      Some(s"""WITH $bm25CtesSql,
              |lex AS (
              |  SELECT qid, doc_id, rk FROM (
              |    SELECT qid, doc_id, row_number() OVER (
              |      PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
              |    FROM tot) WHERE rk <= 20),
              |ev AS (
              |  SELECT vec_id, embedding,
              |    sqrt(list_sum(list_transform(embedding,
              |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
              |  FROM embeddings),
              |cos AS (
              |  SELECT q.vec_id AS qid, c.vec_id AS doc_id,
              |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
              |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
              |      / (q.nrm * c.nrm) AS cos
              |  FROM ev q, ev c WHERE q.vec_id < 5 AND c.vec_id >= 5),
              |sem AS (
              |  SELECT qid, doc_id, rk FROM (
              |    SELECT qid, doc_id, row_number() OVER (
              |      PARTITION BY qid ORDER BY cos DESC, doc_id) AS rk
              |    FROM cos) WHERE rk <= 20),
              |parts2 AS (
              |  SELECT qid, doc_id, 1.0e0 / (60 + rk) AS part FROM lex
              |  UNION ALL
              |  SELECT qid, doc_id, 1.0e0 / (60 + rk) AS part FROM sem),
              |fused AS (
              |  SELECT qid, doc_id,
              |    list_sum(list(part ORDER BY part)) AS rrf_score
              |  FROM parts2 GROUP BY qid, doc_id)
              |SELECT qid, rk, doc_id, rrf_score FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY qid ORDER BY rrf_score DESC, doc_id) AS rk
              |  FROM fused) WHERE rk <= 5
              |ORDER BY qid, rk""".stripMargin)),

    // --------------------------------- hybrid retrieval (RRF), ANN arm
    // q_text_rrf_fusion's SCALE-PATH twin (the q_graph_pagerank_lsh
    // convention): the lexical arm is the same inverted-index BM25
    // probe, but the semantic arm's candidates come from multi-probe
    // sign-bit LSH buckets (adaptive width — the q_sim_embedding_neardup
    // machinery) with exact cosine re-ranking the pooled candidates to
    // the top-20, instead of a full-corpus cosine scan. The PQ-refine
    // shape: quantized structure decides what is LOOKED AT, full
    // precision decides the ORDER. PlanSpec pins that no cartesian
    // node appears anywhere in the executed plan beyond BM25's 1-row
    // corpus-stats broadcast, and FusionSpec asserts the ANN arm's
    // recall@20 floor against the exact ranker (and that radius-2
    // dominates radius-1). The oracle replays the identical banded
    // candidate build — including the radius-2 probe set — so the
    // compare stays hash-exact.
    Q("q_text_rrf_fusion_ann",
      (s, d) => {
        import graft.operators.{Bm25, Fusion}
        val toks = Tables.documents(s, d).select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("term"))
        val lexical = Bm25.topK(
          toks.filter(col("doc_id") >= 5),
          toks.filter(col("doc_id") < 5)
            .select(col("doc_id").as("qid"), col("term")).distinct(),
          k1 = 1.2, b = 0.75, k = 20)
          .select(col("qid"), col("doc_id"), col("rk"))
        val base = Tables.embeddings(s, d)
        val bits = Similarity.adaptiveSignBits(base.count())
        val e = base
          .withColumn("bucket",
            Similarity.signBitBucket(col("embedding"), bits))
          .withColumn("nrm", Similarity.norm(col("embedding")))
        // Hamming-2 probing on the QUERY side only (5 queries →
        // 1 + b + b(b−1)/2 probe rows each; the corpus side joins its
        // one exact bucket) — the recall knob costs nothing where the
        // frame is tiny. Measured recall@20 vs the exact ranker: 0.77
        // on the 500-vector test embeddings (0.42 at radius 1);
        // FusionSpec pins the 0.5 floor and radius-2 >= radius-1.
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("nrm").as("qn"),
            explode(Similarity.multiProbeBuckets2(col("bucket"), bits))
              .as("bucket"))
        val c = e.filter(col("vec_id") >= 5)
          .select(col("bucket"), col("vec_id").as("doc_id"),
            col("embedding").as("ce"), col("nrm").as("cn"))
        // each (qid, doc_id) meets at most once: probe values within a
        // query are pairwise distinct, the corpus side joins its ONE
        // exact bucket (the q_sim_embedding_neardup argument)
        val cand = q.join(c, Seq("bucket"))
          .select(col("qid"), col("doc_id"),
            (Similarity.dot(col("qe"), col("ce"))
              / (col("qn") * col("cn"))).as("cos"))
        val semantic = Windows.topKPerGroupRanked(cand, Seq(col("qid")),
            Seq(col("cos").desc, col("doc_id")), 20, "rk")
          .select(col("qid"), col("doc_id"), col("rk"))
        Fusion.rrf(Seq(lexical, semantic), k0 = 60, topK = 5)
      },
      Some(s"""WITH $bm25CtesSql,
              |lex AS (
              |  SELECT qid, doc_id, rk FROM (
              |    SELECT qid, doc_id, row_number() OVER (
              |      PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
              |    FROM tot) WHERE rk <= 20),
              |p AS (
              |  SELECT LEAST(24, GREATEST(4,
              |    length(bin((count(*) + 31) // 32 - 1)))) AS bits
              |  FROM embeddings),
              |ev AS (
              |  SELECT vec_id, embedding,
              |    CAST(list_sum(list_transform(range(p.bits), i ->
              |      CASE WHEN embedding[CAST(i AS INT) + 1] >= 0
              |           THEN 1 << i ELSE 0 END)) AS BIGINT) AS bk,
              |    sqrt(list_sum(list_transform(embedding,
              |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
              |  FROM embeddings, p),
              |qprobe AS (
              |  SELECT vec_id AS qid, embedding AS qe, nrm AS qn,
              |    unnest(list_prepend(bk, list_concat(
              |      list_transform(range(p.bits), i -> xor(bk, 1 << i)),
              |      flatten(list_transform(range(p.bits), i ->
              |        list_transform(range(i), j ->
              |          xor(bk, (1 << i) | (1 << j)))))))) AS bucket
              |  FROM ev, p WHERE vec_id < 5),
              |cand AS (
              |  SELECT qp.qid, c.vec_id AS doc_id,
              |    list_sum(list_transform(list_zip(qp.qe, c.embedding),
              |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
              |      / (qp.qn * c.nrm) AS cos
              |  FROM qprobe qp JOIN ev c ON qp.bucket = c.bk
              |    AND c.vec_id >= 5),
              |sem AS (
              |  SELECT qid, doc_id, rk FROM (
              |    SELECT qid, doc_id, row_number() OVER (
              |      PARTITION BY qid ORDER BY cos DESC, doc_id) AS rk
              |    FROM cand) WHERE rk <= 20),
              |parts2 AS (
              |  SELECT qid, doc_id, 1.0e0 / (60 + rk) AS part FROM lex
              |  UNION ALL
              |  SELECT qid, doc_id, 1.0e0 / (60 + rk) AS part FROM sem),
              |fused AS (
              |  SELECT qid, doc_id,
              |    list_sum(list(part ORDER BY part)) AS rrf_score
              |  FROM parts2 GROUP BY qid, doc_id)
              |SELECT qid, rk, doc_id, rrf_score FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY qid ORDER BY rrf_score DESC, doc_id) AS rk
              |  FROM fused) WHERE rk <= 5
              |ORDER BY qid, rk""".stripMargin)),

    // ------------------------------------------------ content fingerprint
    // Fingerprint survives case/punctuation/whitespace noise: fp of the
    // raw text equals fp of a deliberately-mangled copy.
    Q("q_text_fingerprint",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val noisy = concat(upper(substring(col("text"), 1, 10)),
          substring(col("text"), 11, 1000000), lit("  !!!"))
        docs.select(col("doc_id"),
            TextFns.fingerprint(col("text")).as("fp"),
            (TextFns.fingerprint(col("text")) === TextFns.fingerprint(noisy))
              .cast("int").cast("long").as("noise_invariant"))
          .orderBy(col("doc_id"))
      },
      Some {
        val norm = TextFns.normalizeSql("text")
        val normNoisy = TextFns.normalizeSql(
          "upper(substr(text,1,10)) || substr(text,11) || '  !!!'")
        s"""SELECT doc_id,
           |  ${HashFns.md5LongSql(norm)} AS fp,
           |  CAST(CASE WHEN ${HashFns.md5LongSql(norm)} =
           |       ${HashFns.md5LongSql(normNoisy)}
           |       THEN 1 ELSE 0 END AS BIGINT) AS noise_invariant
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // -------------------------------------------------- sequence packing
    // Pack documents into fixed token-budget training sequences (budget
    // 512): docs in arrival order (doc_id), a doc joins the pack where
    // its cumulative token count STARTS — greedy sequential fill, no
    // splitting, so a doc may overflow its pack by less than its own
    // length (the standard pack-then-truncate/pad shape). The cumsum is
    // the DISTRIBUTED bucket-carry operator
    // (Windows.runningSumDistributed): in-bucket windows run in
    // parallel and only one total per 100-doc bucket reaches the
    // driver — a plain global window would funnel the corpus through a
    // single task. The oracle's global window cumsum is numerically
    // identical because the sums are integral.
    Q("q_text_pack_sequences",
      (s, d) => {
        val budget = 512
        val per = Tables.documents(s, d).select(col("doc_id"),
          TextFns.bpeishTokenCount(col("text")).as("n_tokens"))
        Windows.runningSumDistributed(per, "n_tokens", "cum_tokens",
            Seq(col("doc_id")), floor(col("doc_id") / 100).cast("long"))
          .select(col("doc_id"), col("n_tokens"),
            ((col("cum_tokens") - col("n_tokens")) / budget)
              .cast("long").as("pack_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH per AS (
              |  SELECT doc_id,
              |    CAST(len(regexp_extract_all(text,
              |      '${TextFns.bpeishPattern.replace("'", "''")}', 0))
              |      AS BIGINT) AS n_tokens
              |  FROM documents)
              |SELECT doc_id, n_tokens,
              |  CAST((SUM(n_tokens) OVER (ORDER BY doc_id
              |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |   - n_tokens) // 512 AS BIGINT) AS pack_id
              |FROM per ORDER BY doc_id""".stripMargin)),

    // --------------------------------------- benchmark contamination check
    // Decontamination: find TRAIN documents sharing token n-grams with
    // the EVAL set (the GPT-3-style n-gram overlap rule; here 3-grams,
    // eval = doc_id < 50). Inverted-index join on the ngram — the same
    // no-all-pairs shape as the similarity family — with boilerplate
    // ngrams (corpus df > 50) excluded so one common phrase can't turn
    // the join quadratic; pairs with >= 3 shared ngrams are flagged.
    Q("q_text_contamination",
      (s, d) => contamination(s, d, bloomPrefilter = false),
      Some(contaminationOracle)),

    // ------------------------------------- hashed linear quality scorer
    // The fastText-shaped quality classifier as Spark plumbing: hash
    // each token into a bucket, look up an integer weight, score =
    // Σw / (1000·n). Weights here are DERIVED from the bucket id
    // (pmod(md5, 1001) − 500 ∈ [−500, 500]) so the oracle is exact —
    // a trained model swaps in a broadcast map<bucket, weight> without
    // changing the plan. The whole scorer is ONE higher-order-function
    // expression per row (aggregate over transform): map-only, no
    // shuffle, stays in whole-stage codegen. Integer weight sums make
    // the score an exact int/int ratio — no float-order wobble, no
    // stabilizer.
    Q("q_text_quality_classifier",
      (s, d) => {
        val toks = TextFns.tokens(col("text"))
        val wSum = aggregate(
          transform(toks,
            t => pmod(HashFns.md5Long(t), lit(1001L)) - lit(500L)),
          lit(0L), (acc, x) => acc + x)
        Tables.documents(s, d).select(
            col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            wSum.as("w_sum"),
            (wSum / (size(toks).cast("long") * lit(1000L))).as("score"))
          .withColumn("accept", (col("score") > 0.0).cast("boolean"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
              |  FROM documents),
              |sc AS (
              |  SELECT doc_id,
              |    CAST(len(toks) AS BIGINT) AS n_tokens,
              |    CAST(list_sum(list_transform(toks,
              |      x -> ${HashFns.md5LongSql("x")} % 1001 - 500))
              |      AS BIGINT) AS w_sum
              |  FROM t)
              |SELECT doc_id, n_tokens, w_sum,
              |  w_sum / (n_tokens * 1000) AS score,
              |  w_sum / (n_tokens * 1000) > 0.0 AS accept
              |FROM sc ORDER BY doc_id""".stripMargin)),

    // ------------------------------------ exact substring span dedup
    // Lee et al. 2022's ExactSubstr recast distributed (operators/
    // SpanDedup): tokens covered by an 8-token span that also appears
    // in another document are cut; the fingerprint hashes the RETAINED
    // text. The oracle replays the whole construction — digests, dup
    // spans, window coverage, ordered reassembly — in DuckDB, so span
    // boundaries are pinned token-exactly, not just counted.
    Q("q_text_span_dedup",
      (s, d) => {
        // Tables.spread: tokenize + 8-gram window fingerprints were
        // scan-bound on one task (measured 3.69 -> 2.66 s); the
        // per-doc windows reuse the spread's doc_id partitioning
        val docs = Tables.spread(s, d, "documents").select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks"))
        graft.operators.SpanDedup
          .dedupFingerprints(docs, "doc_id", "toks", 8)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
              |  FROM documents),
              |tok AS (
              |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
              |         toks[CAST(u.i AS INT)] AS tok
              |  FROM t, unnest(range(1, len(toks) + 1)) u(i)),
              |g AS (
              |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS start,
              |    ${HashFns.md5LongSql(
                     "array_to_string(toks[CAST(u.i AS INT):" +
                       "CAST(u.i + 7 AS INT)], ' ')")} AS g
              |  FROM t, unnest(range(1, len(toks) - 6)) u(i)
              |  WHERE len(toks) >= 8),
              |dup AS (SELECT g FROM g GROUP BY g
              |        HAVING count(DISTINCT doc_id) > 1),
              |ds AS (SELECT DISTINCT doc_id, start
              |       FROM g JOIN dup USING (g)),
              |f AS (
              |  SELECT tok.doc_id, tok.pos, tok.tok,
              |    CASE WHEN ds.start IS NULL THEN 0 ELSE 1 END AS dupflag
              |  FROM tok LEFT JOIN ds
              |    ON tok.doc_id = ds.doc_id AND tok.pos = ds.start),
              |c AS (
              |  SELECT doc_id, pos, tok,
              |    sum(dupflag) OVER (PARTITION BY doc_id ORDER BY pos
              |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) > 0 AS covered
              |  FROM f)
              |SELECT doc_id,
              |  CAST(count(*) AS BIGINT) AS n_tokens,
              |  CAST(count(*) FILTER (WHERE NOT covered) AS BIGINT) AS n_kept,
              |  ${HashFns.md5LongSql(
                   "coalesce(string_agg(tok, ' ' ORDER BY pos) " +
                     "FILTER (WHERE NOT covered), '')")} AS fingerprint
              |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------- span-dup corpus health by source
    // The curation dashboard number: per SOURCE, what fraction of
    // tokens sits inside cross-document duplicated spans, and how many
    // of its documents are hit at all. Same SpanDedup.coverage pass as
    // q_text_span_dedup, then one rollup keyed on source — dup_frac is
    // an exact int/int ratio, so no stabilizer.
    Q("q_text_span_dup_by_source",
      (s, d) => {
        // Tables.spread: same scan-bound coverage pass as
        // q_text_span_dedup (measured 3.71 -> 2.27 s)
        val docs = Tables.spread(s, d, "documents").select(col("doc_id"),
          col("source"), TextFns.tokens(col("text")).as("toks"))
        graft.operators.SpanDedup
          .coverage(docs.select(col("doc_id"), col("toks")),
            "doc_id", "toks", 8)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("covered"), 1L).otherwise(0L)).as("n_dup"),
            countDistinct(when(col("covered"), col("doc_id")))
              .as("n_docs_hit"))
          .withColumn("dup_frac", col("n_dup") / col("n_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, source, ${TextFns.tokensSql("text")} AS toks
              |  FROM documents),
              |tok AS (
              |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
              |         toks[CAST(u.i AS INT)] AS tok
              |  FROM t, unnest(range(1, len(toks) + 1)) u(i)),
              |g AS (
              |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS start,
              |    ${HashFns.md5LongSql(
                     "array_to_string(toks[CAST(u.i AS INT):" +
                       "CAST(u.i + 7 AS INT)], ' ')")} AS g
              |  FROM t, unnest(range(1, len(toks) - 6)) u(i)
              |  WHERE len(toks) >= 8),
              |dup AS (SELECT g FROM g GROUP BY g
              |        HAVING count(DISTINCT doc_id) > 1),
              |ds AS (SELECT DISTINCT doc_id, start
              |       FROM g JOIN dup USING (g)),
              |f AS (
              |  SELECT tok.doc_id, tok.pos,
              |    CASE WHEN ds.start IS NULL THEN 0 ELSE 1 END AS dupflag
              |  FROM tok LEFT JOIN ds
              |    ON tok.doc_id = ds.doc_id AND tok.pos = ds.start),
              |c AS (
              |  SELECT doc_id, pos,
              |    sum(dupflag) OVER (PARTITION BY doc_id ORDER BY pos
              |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) > 0 AS covered
              |  FROM f)
              |SELECT source,
              |  CAST(count(*) AS BIGINT) AS n_tokens,
              |  CAST(count(*) FILTER (WHERE covered) AS BIGINT) AS n_dup,
              |  CAST(count(DISTINCT CASE WHEN covered THEN c.doc_id END)
              |    AS BIGINT) AS n_docs_hit,
              |  CAST(count(*) FILTER (WHERE covered) AS BIGINT)
              |    / CAST(count(*) AS BIGINT) AS dup_frac
              |FROM c JOIN t ON c.doc_id = t.doc_id
              |GROUP BY source ORDER BY source""".stripMargin)),

    // ------------------------------ contamination, bloom-prefiltered
    // Same answer, 100 TB shape: before the train-side n-grams shuffle
    // into the inverted-index join, a bloom filter built over the EVAL
    // n-gram digests (operators/Bloom — a distributed treeAggregate;
    // only the fixed-size bit array reaches the driver) drops the
    // ~all of the train corpus that can't match. False positives
    // survive the prefilter and are removed by the exact join, so the
    // result is bit-identical — pinned by sharing q_text_contamination's
    // oracle verbatim.
    Q("q_text_contamination_bloom",
      (s, d) => contamination(s, d, bloomPrefilter = true),
      Some(contaminationOracle)),

    // Salted-fixture twins: the SAME decontamination pipeline kept
    // POPULATED at every decade. The plain pair's df <= 50 rare gate
    // empties by sf10 under replica tiling (every template n-gram's
    // df scales with corpus size — r13's "green-but-vacuous" rows
    // certified only the empty-case contract there). [[saltedDocs]]
    // controls df by construction — each eval doc carries a unique
    // 5-token salt run shared with ~one train doc per 50 at any
    // corpus size — so the MATCH logic (rare gate, inverted-index
    // join, >= 3 threshold) hash-verifies with non-empty results at
    // sf0.01, sf1 and sf10. The bloom twin additionally pins the
    // prefilter's bit-identity on a populated corpus at scale by
    // sharing the same oracle string.
    Q("q_text_contamination_salted",
      (s, d) => contaminationOver(saltedDocs(s, d), bloomPrefilter = false),
      Some(saltedContaminationOracle)),
    Q("q_text_contamination_salted_bloom",
      (s, d) => contaminationOver(saltedDocs(s, d), bloomPrefilter = true),
      Some(saltedContaminationOracle)),

    // ------------------------------------------------------ PII scrubbing
    // Redaction pass: count and mask emails and (toy) phone numbers.
    // The corpus has no natural PII, so deterministic PII is appended
    // per doc (same construction on both sides) — the operator under
    // test is the count+replace chain, which is map-only (no shuffle)
    // and conservative-regex so Java and RE2 agree. Output carries the
    // scrubbed-text fingerprint so the masking itself is hash-checked.
    Q("q_text_pii_scrub",
      (s, d) => {
        val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phone = "555-[0-9]{4}"
        val withPii = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
            .as("text"))
        withPii.select(col("doc_id"),
            regexp_count(col("text"), lit(email)).cast("long").as("n_emails"),
            regexp_count(col("text"), lit(phone)).cast("long").as("n_phones"),
            HashFns.md5Long(
              regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
                phone, "<PHONE>")).as("scrubbed_fp"))
          .orderBy(col("doc_id"))
      },
      Some {
        val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phone = "555-[0-9]{4}"
        s"""WITH p AS (
           |  SELECT doc_id,
           |    text || ' contact user' || doc_id ||
           |      '@example.com or 555-' ||
           |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT)
           |    AS n_emails,
           |  CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT)
           |    AS n_phones,
           |  ${HashFns.md5LongSql(
               s"regexp_replace(regexp_replace(text, '$email', " +
                 s"'<EMAIL>', 'g'), '$phone', '<PHONE>', 'g')")}
           |    AS scrubbed_fp
           |FROM p ORDER BY doc_id""".stripMargin
      }),

    // -------------------------------------------- repetition filter
    // Gopher-style (Rae et al. 2021, table A1) within-document
    // repetition signals over word 3-grams: the duplicate-occurrence
    // fraction (1 - distinct/total) and the top-ngram share; documents
    // exceeding either threshold are flagged. Two-level aggregation —
    // (doc, ngram) counts with map-side partial agg, then a per-doc
    // rollup — so the shuffle carries compact count pairs and the doc
    // body is never shuffled. Docs under 3 tokens yield no ngrams and
    // drop out (same on both sides).
    Q("q_text_repetition",
      (s, d) => {
        val toked = Tables.documents(s, d).select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks"))
        val ng = Similarity.wordNgrams(toked, "doc_id", "toks", 3)
        val per = ng.groupBy(col("doc_id"), col("ngram"))
          .agg(count(lit(1)).as("__n"))
        per.groupBy(col("doc_id"))
          .agg(sum(col("__n")).as("n_ngrams"),
            count(lit(1)).as("n_distinct"),
            max(col("__n")).as("__top"))
          .select(col("doc_id"), col("n_ngrams"), col("n_distinct"),
            ((col("n_ngrams") - col("n_distinct")) / col("n_ngrams"))
              .as("dup_frac"),
            (col("__top") / col("n_ngrams")).as("top_frac"),
            (((col("n_ngrams") - col("n_distinct")) / col("n_ngrams"))
              > 0.2 ||
              (col("__top") / col("n_ngrams")) > 0.1)
              .cast("int").cast("long").as("is_repetitive"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
             |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
             |  FROM documents),
             |ng AS (
             |  SELECT doc_id,
             |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1] ||
             |      ' ' || toks[CAST(i AS INT)+2] AS ngram
             |  FROM t, unnest(range(1, greatest(len(toks)-1, 1))) u(i)
             |  WHERE len(toks) >= 3),
             |per AS (
             |  SELECT doc_id, ngram, count(*) AS n FROM ng GROUP BY 1, 2),
             |agg AS (
             |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_ngrams,
             |    CAST(count(*) AS BIGINT) AS n_distinct,
             |    CAST(MAX(n) AS BIGINT) AS top_n
             |  FROM per GROUP BY doc_id)
             |SELECT doc_id, n_ngrams, n_distinct,
             |  (n_ngrams - n_distinct) / n_ngrams AS dup_frac,
             |  top_n / n_ngrams AS top_frac,
             |  CAST(CASE WHEN (n_ngrams - n_distinct) / n_ngrams > 0.2
             |         OR top_n / n_ngrams > 0.1
             |       THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
             |FROM agg ORDER BY doc_id""".stripMargin)),

    // -------------------------------------------- winnowing fingerprints
    // Winnowing (Schleimer et al., SIGMOD 2003 — the MOSS algorithm):
    // hash every char 8-gram, slide a window of 4 consecutive gram
    // hashes, keep each window's MINIMUM — the selected fingerprint set
    // is position-robust (guaranteed to share fingerprints with any
    // copy that overlaps by >= w+k-1 chars). Per-doc window over an
    // ordered in-doc frame — every document processes independently in
    // parallel after one hash shuffle on doc_id; fingerprints are
    // md5-derived longs, so the DuckDB replay is exact. Scoped to
    // doc_id < 100 to pin the full fingerprint SET per doc without a
    // 100k-row dump.
    Q("q_text_winnowing",
      (s, d) => {
        val k = 8
        val w = 4
        val grams = Tables.documents(s, d)
          .filter(col("doc_id") < 100 && length(col("text")) >= k)
          .select(col("doc_id"),
            posexplode(transform(
              sequence(lit(1), length(col("text")) - (k - 1)),
              i => col("text").substr(i, lit(k)))).as(Seq("pos", "gram")))
        val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.currentRow, w - 1)
        grams
          .select(col("doc_id"),
            min(HashFns.md5Long(col("gram"))).over(win).as("fp"),
            count(lit(1)).over(win).as("__wn"))
          .filter(col("__wn") === w)
          .select(col("doc_id"), col("fp")).distinct()
          .orderBy(col("doc_id"), col("fp"))
      },
      Some(s"""WITH g AS (
              |  SELECT doc_id, CAST(i AS INT) AS pos,
              |    substr(text, CAST(i AS INT), 8) AS gram
              |  FROM documents,
              |    unnest(range(1, greatest(length(text)-6, 1))) t(i)
              |  WHERE doc_id < 100 AND length(text) >= 8),
              |h AS (
              |  SELECT doc_id, pos, ${HashFns.md5LongSql("gram")} AS h
              |  FROM g),
              |w AS (
              |  SELECT doc_id,
              |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
              |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
              |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
              |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
              |  FROM h)
              |SELECT DISTINCT doc_id, fp FROM w WHERE wn = 4
              |ORDER BY doc_id, fp""".stripMargin)),

    // ------------------------ unigram-LM negative-log-likelihood score
    // Model-based quality filtering (the CCNet/Gopher "perplexity
    // against a reference LM" gate, with the LM being a unigram model
    // trained on the corpus itself — the simplest member of the family
    // that exercises the full TRAIN-then-SCORE plan shape): vocab =
    // one (token, count) aggregate with map-side combine; scoring
    // joins each document's tokens back to the vocab and averages
    // -ln(c_t/N) in one per-doc aggregate. At 100 TB the vocab join
    // shuffles on the token (or broadcasts when the vocab fits) and
    // everything else is partial-aggregated; a trained KenLM/fastText
    // scorer swaps in as a broadcast model without changing the plan.
    // nll = ln(N) - mean(ln c_t) is 6-decimal-stabilized (ln +
    // summation order differ legitimately across engines); token
    // counts are exact.
    Q("q_text_unigram_nll",
      (s, d) => {
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        val toked = Tables.documents(s, d).select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("tok"))
        val vocab = toked.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val total = vocab.agg(sum(col("c")).as("total"))
        toked.join(vocab, Seq("tok"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(log(col("c").cast("double"))).as("__slc"))
          .crossJoin(broadcast(total))
          .select(col("doc_id"), col("n_tokens"),
            stab6(log(col("total").cast("double"))
              - col("__slc") / col("n_tokens").cast("double")).as("nll"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS tok
              |  FROM documents),
              |v AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
              |n AS (SELECT sum(c) AS total FROM v),
              |s AS (
              |  SELECT t.doc_id, count(*) AS n_tokens,
              |         sum(ln(CAST(v.c AS DOUBLE))) AS slc
              |  FROM t JOIN v USING (tok) GROUP BY 1)
              |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
              |  ${graft.functions.Stabilize.stabSql(
                   "ln(CAST(total AS DOUBLE)) - slc / CAST(n_tokens AS DOUBLE)",
                   6)} AS nll
              |FROM s, n ORDER BY doc_id""".stripMargin)),

    // --------------------- DSIR-style importance weights for selection
    // Data Selection via Importance Resampling (Xie et al. 2023): score
    // each raw document by the log-likelihood ratio of a TARGET-domain
    // unigram LM (here: the English slice) against the RAW-corpus LM,
    // add-1 smoothed over the shared vocabulary; high weights mark
    // documents distributionally closest to the target. Both LMs come
    // out of ONE vocabulary aggregate (count + filtered count per
    // token, map-side combined), scoring is the same join + per-doc
    // aggregate shape as q_text_unigram_nll, and the ratio's constant
    // term ln(T_raw+V) − ln(T_tgt+V) attaches after a 1-row broadcast.
    // At 100 TB nothing here is new plan-wise: one token shuffle, one
    // doc aggregate. Per-doc mean of ln-ratios is 6-decimal-stabilized
    // (float summation order differs across engines); counts are exact.
    Q("q_text_dsir",
      (s, d) => {
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        val toked = Tables.documents(s, d).select(col("doc_id"),
          col("lang"), explode(TextFns.tokens(col("text"))).as("tok"))
        val vocab = toked.groupBy(col("tok"))
          .agg(count(lit(1)).as("c_raw"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_tgt"))
        val totals = vocab.agg(sum(col("c_raw")).as("t_raw"),
          sum(col("c_tgt")).as("t_tgt"), count(lit(1)).as("v"))
        toked.join(vocab, Seq("tok"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(log((col("c_tgt") + 1).cast("double"))
              - log((col("c_raw") + 1).cast("double"))).as("__slr"))
          .crossJoin(broadcast(totals))
          .select(col("doc_id"), col("n_tokens"),
            stab6(col("__slr") / col("n_tokens").cast("double")
              + log((col("t_raw") + col("v")).cast("double"))
              - log((col("t_tgt") + col("v")).cast("double")))
              .as("dsir_weight"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, lang,
              |    unnest(${TextFns.tokensSql("text")}) AS tok
              |  FROM documents),
              |v AS (
              |  SELECT tok, count(*) AS c_raw,
              |    count(*) FILTER (WHERE lang = 'en') AS c_tgt
              |  FROM t GROUP BY 1),
              |n AS (
              |  SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw,
              |    CAST(sum(c_tgt) AS BIGINT) AS t_tgt,
              |    count(*) AS v
              |  FROM v),
              |s AS (
              |  SELECT t.doc_id, count(*) AS n_tokens,
              |    sum(ln(CAST(c_tgt + 1 AS DOUBLE))
              |      - ln(CAST(c_raw + 1 AS DOUBLE))) AS slr
              |  FROM t JOIN v USING (tok) GROUP BY 1)
              |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
              |  ${graft.functions.Stabilize.stabSql(
                   "slr / CAST(n_tokens AS DOUBLE)" +
                   " + ln(CAST(t_raw + v AS DOUBLE))" +
                   " - ln(CAST(t_tgt + v AS DOUBLE))", 6)} AS dsir_weight
              |FROM s, n ORDER BY doc_id""".stripMargin)),

    // ---------------------- deterministic corpus shuffle into shards
    // The training-export step every pretraining pipeline ends with:
    // a GLOBAL pseudo-random shuffle of the corpus, materialized as N
    // shards with a stable within-shard order — deterministic (hash-
    // derived, seed-separated from the shard key so shard and order
    // are independent), reproducible run-to-run, and NEVER a global
    // sort: one hash shuffle on the shard key, then each shard orders
    // independently (at scale, shards ≫ tasks, so the per-shard sorts
    // parallelize; the window is per-shard, not corpus-wide).
    Q("q_corpus_shuffle_shard",
      (s, d) => {
        val nShards = 8
        val sid = col("doc_id").cast("string")
        val docs = Tables.documents(s, d).select(col("doc_id"),
          (HashFns.md5Long(sid) % nShards).as("shard"),
          HashFns.md5Long(sid, seed = 17).as("__ord"))
        docs.withColumn("pos", row_number().over(
            Window.partitionBy(col("shard"))
              .orderBy(col("__ord"), col("doc_id"))).cast("long"))
          .select(col("shard"), col("pos"), col("doc_id"))
          .orderBy(col("shard"), col("pos"))
      },
      Some(s"""WITH h AS (
              |  SELECT doc_id,
              |    ${HashFns.md5LongSql("CAST(doc_id AS VARCHAR)")} % 8
              |      AS shard,
              |    ${HashFns.md5LongSql("CAST(doc_id AS VARCHAR)", 17)}
              |      AS ord
              |  FROM documents)
              |SELECT shard,
              |  CAST(row_number() OVER (PARTITION BY shard
              |    ORDER BY ord, doc_id) AS BIGINT) AS pos,
              |  doc_id
              |FROM h ORDER BY shard, pos""".stripMargin)),

    // ------------------------------- leakage-safe train/eval split
    // Deterministic hash split BY GROUP (source), not by document:
    // near-duplicate documents cluster within a source, so a per-doc
    // split leaks eval content into train through those near-dups —
    // the group hash sends EVERY document of a source to the same
    // side. Map-only (the split is a pure function of the source
    // string), no coordination, stable as the corpus grows: adding a
    // source never reassigns an existing one.
    Q("q_split_leakage_safe",
      (s, d) => {
        val side = when(HashFns.md5Long(col("source"), seed = 7) % 100 < 90,
          lit("train")).otherwise(lit("eval"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), side.as("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, source,
              |  CASE WHEN ${HashFns.md5LongSql("source", 7)} % 100 < 90
              |    THEN 'train' ELSE 'eval' END AS split
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----------------------------- cross-source quantile normalization
    // Feature normalization for heterogeneous corpora: each document's
    // length is mapped to the GLOBAL value at its within-source
    // quantile, so sources with systematically long/short docs become
    // comparable (the batch-effect correction of quantile
    // normalization, on the engine's exact order-statistic machinery).
    // All rank arithmetic is integer — rank r of n_s maps to global
    // rank 1 + (r-1)(N-1) div (n_s-1) — and the global lookup is a
    // range join of doc ranks against the broadcast cumulative
    // HISTOGRAM (O(grid) rows), never a corpus self-join.
    Q("q_text_quantile_norm",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("n_chars"), col("doc_id"))
        val ranked = docs
          .withColumn("__r", row_number().over(w).cast("long"))
          .withColumn("__ns", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("source"))))
        val hist = docs.groupBy(col("n_chars").as("__gv"))
          .agg(count(lit(1)).as("__c"))
        val cum = hist.withColumn("__cum", sum(col("__c")).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("__gv"))
              .rowsBetween(org.apache.spark.sql.expressions.Window
                .unboundedPreceding,
                org.apache.spark.sql.expressions.Window.currentRow)))
          .withColumn("__lo", col("__cum") - col("__c") + 1)
        val n = docs.agg(count(lit(1)).as("__n"))
        ranked.crossJoin(broadcast(n))
          .withColumn("__tgt", when(col("__ns") === 1,
              expr("(__n + 1) div 2"))
            .otherwise(lit(1) + expr(
              "((__r - 1) * (__n - 1)) div (__ns - 1)")))
          .join(broadcast(cum),
            col("__tgt") >= col("__lo") && col("__tgt") <= col("__cum"))
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("__gv").as("norm_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
             |  FROM documents),
             |ranked AS (
             |  SELECT doc_id, source, n_chars,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY n_chars, doc_id) AS BIGINT) AS r,
             |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
             |      AS ns
             |  FROM docs),
             |hist AS (SELECT n_chars AS gv, count(*) AS c FROM docs
             |         GROUP BY 1),
             |cum AS (
             |  SELECT gv, c, sum(c) OVER (ORDER BY gv) AS cum,
             |    sum(c) OVER (ORDER BY gv) - c + 1 AS lo
             |  FROM hist),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
             |tgt AS (
             |  SELECT doc_id, source, n_chars,
             |    CASE WHEN ns = 1 THEN (n.n + 1) // 2
             |      ELSE 1 + ((r - 1) * (n.n - 1)) // (ns - 1) END AS tgt
             |  FROM ranked, n)
             |SELECT t.doc_id, t.source, t.n_chars, c.gv AS norm_chars
             |FROM tgt t JOIN cum c ON t.tgt >= c.lo AND t.tgt <= c.cum
             |ORDER BY t.doc_id""".stripMargin))

    ,
    // -------------------------- negative sampling for contrastive pairs
    // Training-pair construction for contrastive/embedding training:
    // each anchor document draws 3 negatives from a SHARED hash-
    // selected pool (the distributed analogue of in-batch negatives —
    // the pool broadcasts, so the anchor side streams map-only),
    // ranked by a pair-seeded portable hash so the draw is
    // reproducible across runs, engines, and partitionings. Exact
    // duplicates of the anchor (same content digest) are excluded —
    // a copy of the anchor is a FALSE negative.
    //
    // Pool sizing (r13 sf10 finding): a fixed 2% modulus made the pool
    // grow WITH the corpus, so anchor × pool was n²/50 — 5e9 rows at
    // 500k docs, a quadratic hiding behind a "broadcast" word (the
    // sweep's 400-s straggler). The modulus now scales as
    // max(50, ⌊n/1000⌋): identical below 50k docs (every committed
    // hash at sf0.001–sf1 is unchanged), and from there the pool is a
    // CAPPED ~1000 docs — anchor × pool is O(n·1000), the actual
    // in-batch-negatives contract.
    Q("q_text_negative_sampling",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val nF = docs.agg(count(lit(1)).as("__n"))
        val pool = docs.crossJoin(broadcast(nF))
          .filter(
            HashFns.md5Long(col("doc_id").cast("string"), seed = 41)
              % greatest(lit(50L),
                floor(col("__n") / lit(1000.0)).cast("long")) === 0)
          .select(col("doc_id").as("neg_id"), md5(col("text")).as("__nh"))
        val anchors = docs.select(col("doc_id"), md5(col("text")).as("__ah"))
        val scored = anchors.crossJoin(broadcast(pool))
          .filter(col("doc_id") =!= col("neg_id")
            && col("__ah") =!= col("__nh"))
          .withColumn("__hk", HashFns.md5Long(
            concat(col("doc_id").cast("string"), lit(":"),
              col("neg_id").cast("string")), seed = 43))
        // bounded-buffer min-3 aggregate, NOT a ranked window: the
        // broadcast join fans each anchor's full candidate set out
        // inside ONE map task, so map-side combine shrinks the shuffle
        // to 3 rows per anchor (the window form shuffled candidates ×
        // anchors — a 12 GB spill leg at sf10)
        graft.operators.TopK.kMinPairsPerGroup(scored,
            Seq("doc_id"), "__hk", "neg_id", 3, "rk")
          .select(col("doc_id"), col("rk"), col("neg_id"))
          .orderBy(col("doc_id"), col("rk"))
      },
      Some(s"""WITH nn AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              |pool AS (
              |  SELECT doc_id AS neg_id, md5(text) AS nh
              |  FROM documents, nn
              |  WHERE ${HashFns.md5LongSql("CAST(doc_id AS VARCHAR)", 41)}
              |    % GREATEST(50, CAST(floor(nn.n / 1000.0) AS BIGINT))
              |    = 0),
              |a AS (SELECT doc_id, md5(text) AS ah FROM documents),
              |sc AS (
              |  SELECT a.doc_id, p.neg_id,
              |    ${HashFns.md5LongSql(
                     "CAST(a.doc_id AS VARCHAR) || ':' || " +
                       "CAST(p.neg_id AS VARCHAR)", 43)} AS hk
              |  FROM a, pool p
              |  WHERE a.doc_id <> p.neg_id AND a.ah <> p.nh)
              |SELECT doc_id, CAST(rn AS BIGINT) AS rk, neg_id FROM (
              |  SELECT doc_id, neg_id, row_number() OVER (
              |    PARTITION BY doc_id ORDER BY hk, neg_id) AS rn
              |  FROM sc)
              |WHERE rn <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // ------------------------------- cross-source contamination matrix
    // Corpus-hygiene analysis: for every source pair, how many RARE
    // word 3-grams they share — the pairwise generalization of the
    // train/eval decontamination check (mirror-site detection, scraped
    // duplicates across crawls, license-laundered copies). The join is
    // the rare-ngram inverted index with the SAME df <= 50 cap as the
    // decontamination path: the cap bounds every ngram's bucket, so
    // pair work is O(ngrams * cap^2) worst case, never quadratic in
    // corpus size.
    Q("q_text_source_overlap",
      (s, d) => sourceOverlapOver(Tables.documents(s, d)),
      Some("WITH " + sourceOverlapSqlOver("documents"))),

    // Salted-fixture twin: the same rare-ngram source matrix, kept
    // POPULATED at every decade. The plain query's df <= 50 gate
    // empties by sf10 under replica tiling (template n-grams' df
    // scales with corpus size — the r13 "green-but-vacuous" rows), so
    // this variant runs the identical pipeline over [[saltedDocs]],
    // whose constructed runs keep df ~2 at any scale: eval doc e and
    // its salted train partners sit in different sources, so each
    // salted run contributes cross-source shared n-grams that survive
    // the gate at sf0.01, sf1 AND sf10. Same oracle body over the
    // fixture CTE.
    Q("q_text_source_overlap_salted",
      (s, d) => sourceOverlapOver(saltedDocs(s, d)),
      Some("WITH " + saltedDocsSql + ",\n" + sourceOverlapSqlOver("aug"))),

    // ----------------------------------- interpolated bigram-LM score
    // The bigram upgrade of q_text_unigram_nll's quality signal:
    // per-doc negative log-likelihood under a Jelinek-Mercer
    // interpolated bigram LM trained on the corpus itself,
    // p(w2|w1) = 0.75·c(w1,w2)/c(w1) + 0.25·c(w2)/N (λ an exact binary
    // fraction; c(w1) is the full unigram count — the standard
    // history-count simplification, mirrored on both sides). Repetitive
    // or template docs score low NLL, incoherent token soup scores
    // high. Same exactness treatment as the unigram query: every
    // probability is integer-ratio IEEE arithmetic, ln + an unordered
    // per-doc sum absorbed by the 6-decimal stabilizer.
    Q("q_text_bigram_nll",
      (s, d) => {
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        val toked = Tables.documents(s, d).select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks"))
        val t = col("toks")
        val big = toked.filter(size(t) >= 2)
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(t) - 1),
            j => struct(element_at(t, j).as("w1"),
              element_at(t, j + 1).as("w2")))).as("p"))
          .select(col("doc_id"), col("p.w1"), col("p.w2"))
        val uni = toked.select(explode(t).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
        val total = uni.agg(sum(col("cu")).as("n_total"))
        val bi = big.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("cb"))
        big
          .join(bi, Seq("w1", "w2"))
          .join(uni.select(col("tok").as("w1"), col("cu").as("c1")),
            Seq("w1"))
          .join(uni.select(col("tok").as("w2"), col("cu").as("c2")),
            Seq("w2"))
          .crossJoin(broadcast(total))
          .select(col("doc_id"),
            log(lit(0.75) * col("cb").cast("double") / col("c1").cast("double")
              + lit(0.25) * col("c2").cast("double")
                / col("n_total").cast("double")).as("__lp"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("__lp")).as("__slp"))
          .select(col("doc_id"), col("n_bigrams"),
            stab6(-col("__slp") / col("n_bigrams").cast("double"))
              .as("nll"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
              |  FROM documents),
              |big AS (
              |  SELECT doc_id, toks[CAST(u.i AS INT)] AS w1,
              |    toks[CAST(u.i AS INT) + 1] AS w2
              |  FROM t, unnest(range(1, len(toks))) u(i)
              |  WHERE len(toks) >= 2),
              |uni AS (
              |  SELECT unnest(toks) AS tok FROM t),
              |cu AS (SELECT tok, count(*) AS cu FROM uni GROUP BY tok),
              |n AS (SELECT CAST(sum(cu) AS BIGINT) AS n_total FROM cu),
              |cb AS (SELECT w1, w2, count(*) AS cb FROM big
              |       GROUP BY w1, w2),
              |lp AS (
              |  SELECT big.doc_id,
              |    ln(CAST(0.75 AS DOUBLE) * CAST(cb.cb AS DOUBLE)
              |         / CAST(u1.cu AS DOUBLE)
              |       + CAST(0.25 AS DOUBLE) * CAST(u2.cu AS DOUBLE)
              |         / CAST(n.n_total AS DOUBLE)) AS lp
              |  FROM big
              |  JOIN cb ON cb.w1 = big.w1 AND cb.w2 = big.w2
              |  JOIN cu u1 ON u1.tok = big.w1
              |  JOIN cu u2 ON u2.tok = big.w2, n),
              |s AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              |    sum(lp) AS slp
              |  FROM lp GROUP BY doc_id)
              |SELECT doc_id, n_bigrams,
              |  ${graft.functions.Stabilize.stabSql(
                   "-slp / CAST(n_bigrams AS DOUBLE)", 6)} AS nll
              |FROM s ORDER BY doc_id""".stripMargin)),

    // ------------------------------------ snapshot drift gate (chi-sq)
    // Distribution-shift check between two corpus snapshots (first vs
    // second half of the id space standing in for "last crawl" vs "new
    // crawl"): Pearson's chi-squared over equi-depth n_chars bins of
    // the REFERENCE snapshot. Chi-squared instead of PSI/KL on purpose:
    // no logarithm, so every term is integer-derived IEEE arithmetic
    // and the report replays bit-for-bit (operators/Drift scaladoc has
    // the shuffle shape: one ref histogram + broadcast boundaries +
    // two map-only assignments).
    Q("q_drift_chisq",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val mid = docs.agg(expr("(max(doc_id) + 1) div 2").as("m"))
        val sided = docs.crossJoin(broadcast(mid))
        graft.operators.Drift.chiSquared(
          sided.filter(col("doc_id") < col("m")),
          sided.filter(col("doc_id") >= col("m")),
          "n_chars", bins = 10)
      },
      Some(s"""WITH $driftBinsCtesSql,
             |per2 AS (
             |  SELECT bin, ref_n, cur_n,
             |    CAST(ref_n AS DOUBLE) * CAST(cur_total AS DOUBLE)
             |      / CAST(ref_total AS DOUBLE) AS expected,
             |    CASE WHEN ref_n = 0 THEN CAST(cur_n AS DOUBLE)
             |      ELSE (CAST(cur_n AS DOUBLE)
             |             - CAST(ref_n AS DOUBLE) * CAST(cur_total AS DOUBLE)
             |               / CAST(ref_total AS DOUBLE))
             |         * (CAST(cur_n AS DOUBLE)
             |             - CAST(ref_n AS DOUBLE) * CAST(cur_total AS DOUBLE)
             |               / CAST(ref_total AS DOUBLE))
             |         / (CAST(ref_n AS DOUBLE) * CAST(cur_total AS DOUBLE)
             |               / CAST(ref_total AS DOUBLE))
             |    END AS contrib
             |  FROM per, tot),
             |t AS (SELECT list_sum(list(contrib ORDER BY bin)) AS chisq
             |      FROM per2)
             |SELECT bin, ref_n, cur_n, expected, contrib, chisq
             |FROM per2, t ORDER BY bin""".stripMargin)),

    // ------------------------------------- snapshot drift gate (PSI)
    // The industry-standard sibling of q_drift_chisq on the SAME
    // equi-depth bins (operators/Drift.psiFromReport): population
    // stability index Σ (p−q)·ln(p/q) with add-half smoothing, the
    // metric monitoring dashboards alert on (<0.1 stable, >0.25
    // drifted). The ln makes terms engine-sensitive at the last ulp,
    // so each bin term is 6-decimal stabilized BEFORE the bin-ordered
    // fold — the total then sums identical doubles on both engines.
    Q("q_drift_psi",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val mid = docs.agg(expr("(max(doc_id) + 1) div 2").as("m"))
        val sided = docs.crossJoin(broadcast(mid))
        graft.operators.Drift.psiFromReport(
          graft.operators.Drift.chiSquared(
            sided.filter(col("doc_id") < col("m")),
            sided.filter(col("doc_id") >= col("m")),
            "n_chars", bins = 10))
      },
      Some(s"""WITH $driftBinsCtesSql,
             |tt AS (
             |  SELECT CAST(sum(ref_n) AS DOUBLE) AS rt,
             |    CAST(sum(cur_n) AS DOUBLE) AS ct,
             |    CAST(count(*) AS DOUBLE) AS k
             |  FROM per),
             |terms AS (
             |  SELECT bin, ref_n, cur_n,
             |    ${graft.functions.Stabilize.stabSql(
                   "((CAST(ref_n AS DOUBLE) + 0.5) / (rt + 0.5 * k) " +
                   " - (CAST(cur_n AS DOUBLE) + 0.5) / (ct + 0.5 * k)) " +
                   "* ln(((CAST(ref_n AS DOUBLE) + 0.5) / (rt + 0.5 * k)) " +
                   "/ ((CAST(cur_n AS DOUBLE) + 0.5) / (ct + 0.5 * k)))",
                   6)} AS term
             |  FROM per, tt),
             |t AS (SELECT list_sum(list(term ORDER BY bin)) AS psi
             |      FROM terms)
             |SELECT bin, ref_n, cur_n, term, psi
             |FROM terms, t ORDER BY bin""".stripMargin)),

    // ----------------------------------- snapshot drift gate (KS)
    // The nonparametric member of the drift family on the same
    // half-split snapshots: two-sample Kolmogorov–Smirnov distance
    // over the n_chars ECDFs (operators/Drift.ks). No bins, no
    // smoothing — sensitive to shape shifts the equi-depth gates can
    // wash out. The max runs over exact cross-multiplied integers
    // (R(v)·ct − C(v)·rt), so the one-row report is bit-reproducible:
    // only the final d division produces a double, correctly rounded
    // from the same integers on both engines.
    Q("q_drift_ks",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val mid = docs.agg(expr("(max(doc_id) + 1) div 2").as("m"))
        val sided = docs.crossJoin(broadcast(mid))
        graft.operators.Drift.ks(
          sided.filter(col("doc_id") < col("m")),
          sided.filter(col("doc_id") >= col("m")),
          "n_chars")
      },
      Some("""WITH mid AS (
             |  SELECT (max(doc_id) + 1) // 2 AS m FROM documents),
             |rh AS (
             |  SELECT n_chars AS gv, count(*) AS rn FROM documents, mid
             |  WHERE doc_id < m GROUP BY 1),
             |ch AS (
             |  SELECT n_chars AS gv, count(*) AS cn FROM documents, mid
             |  WHERE doc_id >= m GROUP BY 1),
             |h AS (
             |  SELECT coalesce(rh.gv, ch.gv) AS gv,
             |    coalesce(rn, 0) AS rn, coalesce(cn, 0) AS cn
             |  FROM rh FULL OUTER JOIN ch ON rh.gv = ch.gv),
             |cum AS (
             |  SELECT gv,
             |    sum(rn) OVER (ORDER BY gv ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS rc,
             |    sum(cn) OVER (ORDER BY gv ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS cc
             |  FROM h),
             |t AS (SELECT CAST(sum(rn) AS BIGINT) AS ref_total,
             |             CAST(sum(cn) AS BIGINT) AS cur_total FROM h),
             |scored AS (
             |  SELECT gv, ref_total, cur_total,
             |    abs(rc * cur_total - cc * ref_total) AS diff
             |  FROM cum, t)
             |SELECT gv AS at_value, ref_total, cur_total,
             |  CAST(diff AS BIGINT) AS d_num,
             |  CAST(diff AS DOUBLE)
             |    / (CAST(ref_total AS DOUBLE) * CAST(cur_total AS DOUBLE))
             |    AS d
             |FROM scored ORDER BY diff DESC, gv DESC LIMIT 1""".stripMargin)),

    // ----------------------------- snapshot drift gate (Mann–Whitney U)
    // The location-shift member of the drift family on the same
    // half-split snapshots (operators/Drift.mannWhitney): did one side
    // stochastically dominate? Rank arithmetic runs over the value
    // HISTOGRAM — tie-averaged rank of a value with t occurrences after
    // m earlier ones is m + (t+1)/2, so 2·R_ref = Σ rn·(2m+t+1), all
    // DECIMAL(38,0) integers (rank sums are ≈N² — BIGINT overflows at
    // petabyte row counts, decimals don't). The corpus is never ranked
    // row-by-row; z and the common-language effect size are 6-decimal
    // stabilized, every other output is an exact integer or a single
    // correctly-rounded division.
    Q("q_drift_mannwhitney",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val mid = docs.agg(expr("(max(doc_id) + 1) div 2").as("m"))
        val sided = docs.crossJoin(broadcast(mid))
        graft.operators.Drift.mannWhitney(
          sided.filter(col("doc_id") < col("m")),
          sided.filter(col("doc_id") >= col("m")),
          "n_chars")
      },
      Some(s"""WITH mid AS (
             |  SELECT (max(doc_id) + 1) // 2 AS m FROM documents),
             |rh AS (
             |  SELECT n_chars AS gv, count(*) AS rn FROM documents, mid
             |  WHERE doc_id < m GROUP BY 1),
             |ch AS (
             |  SELECT n_chars AS gv, count(*) AS cn FROM documents, mid
             |  WHERE doc_id >= m GROUP BY 1),
             |h AS (
             |  SELECT coalesce(rh.gv, ch.gv) AS gv,
             |    coalesce(rn, 0) AS rn, coalesce(cn, 0) AS cn
             |  FROM rh FULL OUTER JOIN ch ON rh.gv = ch.gv),
             |rk AS (
             |  SELECT gv, rn, cn,
             |    CAST(rn + cn AS DECIMAL(38,0)) AS t,
             |    CAST(coalesce(sum(rn + cn) OVER (ORDER BY gv
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS DECIMAL(38,0)) AS m_before
             |  FROM h),
             |sums AS (
             |  SELECT sum(CAST(rn AS DECIMAL(38,0)) * (m_before * 2 + t + 1))
             |           AS r1x2,
             |         sum(t * t * t - t) AS tie_sum
             |  FROM rk),
             |tot AS (
             |  SELECT CAST(sum(rn) AS DECIMAL(38,0)) AS rt,
             |         CAST(sum(cn) AS DECIMAL(38,0)) AS ct
             |  FROM h),
             |rep AS (
             |  SELECT rt, ct, r1x2 - rt * (rt + 1) AS u1x2, tie_sum
             |  FROM sums, tot)
             |SELECT CAST(rt AS BIGINT) AS ref_total,
             |  CAST(ct AS BIGINT) AS cur_total,
             |  CAST(u1x2 AS DOUBLE) / 2 AS u_ref,
             |  CAST(rt * ct * 2 - u1x2 AS DOUBLE) / 2 AS u_cur,
             |  CAST(tie_sum AS DOUBLE) AS tie_sum,
             |  ${graft.functions.Stabilize.stabSql(
                  "(CAST(u1x2 AS DOUBLE) / 2 - CAST(rt AS DOUBLE) *" +
                  " CAST(ct AS DOUBLE) / 2) / sqrt(CAST(rt AS DOUBLE) *" +
                  " CAST(ct AS DOUBLE) / 12 * ((CAST(rt AS DOUBLE) +" +
                  " CAST(ct AS DOUBLE) + 1) - CAST(tie_sum AS DOUBLE) /" +
                  " ((CAST(rt AS DOUBLE) + CAST(ct AS DOUBLE)) *" +
                  " (CAST(rt AS DOUBLE) + CAST(ct AS DOUBLE) - 1))))", 6)} AS z,
             |  ${graft.functions.Stabilize.stabSql(
                  "CAST(u1x2 AS DOUBLE) / 2 / (CAST(rt AS DOUBLE) *" +
                  " CAST(ct AS DOUBLE))", 6)} AS r_effect
             |FROM rep""".stripMargin)),

    // --------------------------------------- BPE merge-rule training
    // Three rounds of distributed BPE merge induction (Sennrich et al.
    // 2016) over word tokens (= phrase induction; the operator is
    // initial-tokenization-agnostic): count adjacent pairs corpus-wide,
    // adopt the most frequent (ties: count DESC, left, right), rewrite
    // greedily left-to-right, repeat — merged tokens participate in
    // later rounds. Per round: one map-side pair explode + one counted
    // shuffle + a TakeOrdered top-1 + a broadcast map-only rewrite.
    // Output is pure integers/strings; the oracle unrolls the three
    // rounds with list_reduce replaying the exact greedy fold.
    Q("q_text_bpe_merges",
      (s, d) => graft.operators.Bpe.trainMerges(
        Tables.documents(s, d)
          .select(TextFns.tokens(col("text")).as("toks")),
        "toks", iters = 3),
      Some {
        def round(src: String, b: String, p: String): String =
          s"""$p AS (
             |  SELECT toks[CAST(u.i AS INT)] AS pair_l,
             |    toks[CAST(u.i AS INT) + 1] AS pair_r, count(*) AS pair_n
             |  FROM $src, unnest(range(1, len(toks))) u(i)
             |  GROUP BY 1, 2),
             |$b AS (
             |  SELECT pair_l, pair_r, CAST(pair_n AS BIGINT) AS pair_n
             |  FROM $p ORDER BY pair_n DESC, pair_l, pair_r LIMIT 1)"""
            .stripMargin
        def apply(src: String, b: String, dst: String): String =
          s"""$dst AS (
             |  SELECT list_reduce(list_transform(toks, x -> [x]),
             |    (acc, t) -> CASE
             |      WHEN acc[-1] = $b.pair_l AND t[1] = $b.pair_r
             |      THEN list_concat(acc[1:len(acc)-1],
             |        [$b.pair_l || '_' || $b.pair_r])
             |      ELSE list_concat(acc, t) END) AS toks
             |  FROM $src, $b)""".stripMargin
        s"""WITH t0 AS (
           |  SELECT ${TextFns.tokensSql("text")} AS toks FROM documents),
           |${round("t0", "b1", "p1")},
           |${apply("t0", "b1", "t1")},
           |${round("t1", "b2", "p2")},
           |${apply("t1", "b2", "t2")},
           |${round("t2", "b3", "p3")}
           |SELECT CAST(1 AS BIGINT) AS iter, * FROM b1
           |UNION ALL SELECT CAST(2 AS BIGINT), * FROM b2
           |UNION ALL SELECT CAST(3 AS BIGINT), * FROM b3
           |ORDER BY iter""".stripMargin
      }),

    // ----------------------------------------- BPE encode (rule apply)
    // The other half of the tokenizer loop: ENCODE the corpus with the
    // rule table q_text_bpe_merges learns. The 3 trained rules are
    // collected to the driver (the tokenizer artifact — the classic
    // rules-as-literals broadcast shape) and applied as K nested
    // greedy folds in ONE map-only projection (Bpe.applyMerges): no
    // joins, no shuffles, so encoding throughput scales linearly with
    // executors at any corpus size. Reported per doc: token counts
    // before/after and the merges applied. The oracle replays
    // training AND encoding with the same list_reduce fold.
    Q("q_text_bpe_encode",
      (s, d) => {
        // Tables.spread: the encode fold (3 nested greedy merges per
        // doc) is map-only and was serialized by the single-file scan
        // (measured 5.46 -> 1.88 s; q_text_bpe_merges deliberately
        // stays unspread — its 3 tiny training rounds REGRESSED 0.47
        // -> 1.19 s under the same spread, see OPTIMIZATION_r15.md)
        val docsT = Tables.spread(s, d, "documents").select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks"))
        val rules = graft.operators.Bpe.trainMerges(
            docsT.select(col("toks")), "toks", iters = 3)
          .select(col("pair_l"), col("pair_r")).collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        graft.operators.Bpe.applyMerges(docsT, "toks", rules)
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_before"),
            size(col("bpe_toks")).cast("long").as("n_after"),
            (size(col("toks")) - size(col("bpe_toks"))).cast("long")
              .as("n_merged"))
          .orderBy(col("doc_id"))
      },
      Some {
        def round(src: String, b: String, p: String): String =
          s"""$p AS (
             |  SELECT toks[CAST(u.i AS INT)] AS pair_l,
             |    toks[CAST(u.i AS INT) + 1] AS pair_r, count(*) AS pair_n
             |  FROM $src, unnest(range(1, len(toks))) u(i)
             |  GROUP BY 1, 2),
             |$b AS (
             |  SELECT pair_l, pair_r FROM $p
             |  ORDER BY pair_n DESC, pair_l, pair_r LIMIT 1)"""
            .stripMargin
        def apply(src: String, b: String, dst: String,
                  keyed: Boolean): String = {
          val key = if (keyed) "doc_id, " else ""
          s"""$dst AS (
             |  SELECT ${key}list_reduce(list_transform(toks, x -> [x]),
             |    (acc, t) -> CASE
             |      WHEN acc[-1] = $b.pair_l AND t[1] = $b.pair_r
             |      THEN list_concat(acc[1:len(acc)-1],
             |        [$b.pair_l || '_' || $b.pair_r])
             |      ELSE list_concat(acc, t) END) AS toks
             |  FROM $src, $b)""".stripMargin
        }
        s"""WITH t0d AS (
           |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
           |  FROM documents),
           |t0 AS (SELECT toks FROM t0d),
           |${round("t0", "b1", "p1")},
           |${apply("t0", "b1", "t1", keyed = false)},
           |${round("t1", "b2", "p2")},
           |${apply("t1", "b2", "t2", keyed = false)},
           |${round("t2", "b3", "p3")},
           |${apply("t0d", "b1", "d1", keyed = true)},
           |${apply("d1", "b2", "d2", keyed = true)},
           |${apply("d2", "b3", "d3", keyed = true)}
           |SELECT t0d.doc_id,
           |  CAST(len(t0d.toks) AS BIGINT) AS n_before,
           |  CAST(len(d3.toks) AS BIGINT) AS n_after,
           |  CAST(len(t0d.toks) - len(d3.toks) AS BIGINT) AS n_merged
           |FROM t0d JOIN d3 USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------ source mixing under a token budget
    // The data-mixing step of pretraining-corpus assembly (Pile/Dolma
    // style): each source carries a declared mixing weight (curated
    // src0-4 get 3x the weight of web-crawl sources), the corpus
    // budget here is half the total token count, and each source's
    // admission rate is its allotted tokens over its actual tokens,
    // capped at 1. Rates are basis-point INTEGERS (floor arithmetic
    // throughout — no float shares), and admission is the portable
    // doc_id hash against the per-source threshold, so the sample is
    // reproducible across runs, engines, and partitionings. Shape: one
    // shuffle to count per-source tokens, a broadcast of the tiny
    // per-source rate table, then a map-only admission pass + one
    // re-aggregation of the admitted docs.
    Q("q_text_mixture_budget",
      (s, d) => {
        val tok = Tables.documents(s, d).select(col("doc_id"),
          col("source"), TextFns.wordCount(col("text")).as("toks"))
        val per = tok.groupBy(col("source"))
          .agg(sum(col("toks")).as("t_tokens"))
          .withColumn("weight",
            when(substring(col("source"), 4, 10).cast("int") < 5,
              lit(3L)).otherwise(lit(1L)))
        val tot = per.agg(
          expr("sum(t_tokens) div 2").as("budget"),
          sum(col("weight")).as("wsum"))
        val rated = per.crossJoin(broadcast(tot))
          .withColumn("alloc_tokens", expr("(budget * weight) div wsum"))
          .withColumn("rate_bp", least(lit(10000L),
            expr("(10000 * alloc_tokens) div t_tokens")))
        val sel = tok
          .join(broadcast(rated.select(col("source"), col("rate_bp"))),
            Seq("source"))
          .filter(HashFns.md5Long(col("doc_id").cast("string"), seed = 23)
            % 10000 < col("rate_bp"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_sel"), sum(col("toks")).as("sel_tokens"))
        rated.join(sel, Seq("source"), "left")
          .select(col("source"), col("weight"), col("t_tokens"),
            col("alloc_tokens"), col("rate_bp"),
            coalesce(col("n_sel"), lit(0L)).as("n_sel"),
            coalesce(col("sel_tokens"), lit(0L)).as("sel_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""WITH tok AS (
              |  SELECT doc_id, source,
              |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
              |      AS BIGINT) AS toks
              |  FROM documents),
              |per AS (
              |  SELECT source, CAST(sum(toks) AS BIGINT) AS t_tokens,
              |    CASE WHEN CAST(substr(source, 4) AS INT) < 5
              |      THEN CAST(3 AS BIGINT) ELSE CAST(1 AS BIGINT) END
              |      AS weight
              |  FROM tok GROUP BY source),
              |tot AS (
              |  SELECT CAST(sum(t_tokens) // 2 AS BIGINT) AS budget,
              |    CAST(sum(weight) AS BIGINT) AS wsum FROM per),
              |rated AS (
              |  SELECT p.source, p.weight, p.t_tokens,
              |    CAST((t.budget * p.weight) // t.wsum AS BIGINT)
              |      AS alloc_tokens,
              |    CAST(least(10000, (10000 * ((t.budget * p.weight)
              |      // t.wsum)) // p.t_tokens) AS BIGINT) AS rate_bp
              |  FROM per p, tot t),
              |sel AS (
              |  SELECT tok.source, CAST(count(*) AS BIGINT) AS n_sel,
              |    CAST(sum(tok.toks) AS BIGINT) AS sel_tokens
              |  FROM tok JOIN rated r ON tok.source = r.source
              |  WHERE ${HashFns.md5LongSql("CAST(doc_id AS VARCHAR)", 23)}
              |    % 10000 < r.rate_bp
              |  GROUP BY tok.source)
              |SELECT r.source, r.weight, r.t_tokens, r.alloc_tokens,
              |  r.rate_bp,
              |  COALESCE(s.n_sel, CAST(0 AS BIGINT)) AS n_sel,
              |  COALESCE(s.sel_tokens, CAST(0 AS BIGINT)) AS sel_tokens
              |FROM rated r LEFT JOIN sel s ON r.source = s.source
              |ORDER BY r.source""".stripMargin)),

    // ----------------------------------------- hashing-trick features
    // Fixed-width signed bag-of-words without a vocabulary: bucket =
    // md5(token) mod 64, sign = an independent md5 bit, feature value
    // = the signed occurrence sum per (doc, bucket) with zero-sum
    // buckets dropped (operators/Features — Weinberger et al. 2009).
    // Map-only hashing then one partial-aggregated groupBy; the
    // shuffle carries (doc, bucket, partial sum), never tokens.
    Q("q_feat_hashing",
      (s, d) => {
        val toked = Tables.documents(s, d).select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("tok"))
        graft.operators.Features.hashingTrick(toked, "doc_id", "tok", 64)
          .orderBy(col("doc_id"), col("bucket"))
      },
      Some {
        import graft.operators.Features
        s"""WITH t AS (
           |  SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS tok
           |  FROM documents),
           |f AS (
           |  SELECT doc_id, ${Features.bucketSql("tok", 64)} AS bucket,
           |    ${Features.signSql("tok")} AS s
           |  FROM t)
           |SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS feat_val
           |FROM f GROUP BY doc_id, bucket
           |HAVING sum(s) <> 0
           |ORDER BY doc_id, bucket""".stripMargin
      }),

    // --------------------------------------- Pareto-frontier selection
    // Budget-free document selection: keep the docs that are not
    // dominated on (length, lexical breadth) — no other doc is >= on
    // both n_chars and distinct-token count with one strictly greater.
    // The distributed skyline (operators/Pareto) prefilters with a
    // 256-bucket x-binned suffix-max broadcast (a dominated row dies
    // without a shuffle), then resolves exactly on the tiny candidate
    // frame; the DuckDB oracle is the definitional NOT EXISTS
    // anti-join, tractable at oracle scale only.
    Q("q_select_pareto",
      (s, d) => {
        val toked = Tables.documents(s, d).select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("tok"))
        val types = toked.groupBy(col("doc_id"))
          .agg(countDistinct(col("tok")).as("n_types"))
        val pts = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"))
          .join(types, Seq("doc_id"))
        graft.operators.Pareto.frontier2D(pts, "n_chars", "n_types")
          .select(col("doc_id"), col("n_chars"), col("n_types"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS tok
              |  FROM documents),
              |ty AS (
              |  SELECT doc_id, CAST(count(DISTINCT tok) AS BIGINT)
              |    AS n_types
              |  FROM t GROUP BY 1),
              |p AS (
              |  SELECT d.doc_id, d.n_chars, ty.n_types
              |  FROM documents d JOIN ty USING (doc_id))
              |SELECT doc_id, n_chars, n_types FROM p
              |WHERE NOT EXISTS (
              |  SELECT 1 FROM p q
              |  WHERE q.n_chars >= p.n_chars AND q.n_types >= p.n_types
              |    AND (q.n_chars > p.n_chars OR q.n_types > p.n_types))
              |ORDER BY doc_id""".stripMargin)),

    // --------------------------------- word-distribution entropy signal
    // Shannon entropy of each document's token distribution, in nats:
    // H = ln(n) − (Σ c·ln c)/n over per-doc token counts. The standard
    // degenerate-text screen orthogonal to q_text_repetition (n-gram
    // self-overlap) and q_text_quality (surface ratios): spam/keyword
    // stuffing collapses H toward 0, natural prose sits near ln(V).
    // Two partial-aggregating groupBys, both keyed by doc — no corpus
    // vocabulary join at all, so the whole signal is map-side work per
    // document at any corpus size. Counts are exact; the one
    // order-dependent float sum (Σ c·ln c) is 6-decimal-stabilized like
    // q_text_unigram_nll's.
    Q("q_text_word_entropy",
      (s, d) => {
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        Tables.documents(s, d).select(col("doc_id"),
            explode(TextFns.tokens(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(col("c").cast("double")
              * log(col("c").cast("double"))).as("__slc"))
          .select(col("doc_id"), col("n_tokens"), col("n_types"),
            stab6(log(col("n_tokens").cast("double"))
              - col("__slc") / col("n_tokens").cast("double"))
              .as("entropy"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS tok
              |  FROM documents),
              |c AS (SELECT doc_id, tok, count(*) AS c
              |      FROM t GROUP BY 1, 2),
              |s AS (
              |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
              |    CAST(count(*) AS BIGINT) AS n_types,
              |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS slc
              |  FROM c GROUP BY 1)
              |SELECT doc_id, n_tokens, n_types,
              |  ${graft.functions.Stabilize.stabSql(
                   "ln(CAST(n_tokens AS DOUBLE)) " +
                   "- slc / CAST(n_tokens AS DOUBLE)", 6)} AS entropy
              |FROM s ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------- Zipf-law fit
    // Corpus-health diagnostic: OLS slope of ln(freq) on ln(rank) over
    // the vocabulary — natural corpora sit near −1; template/spam
    // skews it hard. Composes Timeseries.olsByGroup over the ranked
    // vocabulary histogram (the rank window runs over the BOUNDED
    // vocab, the percentile-histogram contract). Both ln coordinates
    // are 6-decimal stabilized BEFORE the exact-DECIMAL moment sums,
    // so engine libm ulps cannot move a grid point.
    Q("q_text_zipf",
      (s, d) => {
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        val vocab = Tables.documents(s, d)
          .select(explode(TextFns.tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val ranked = vocab.withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("c").desc, col("tok"))))
          .select(lit("corpus").as("g"),
            stab6(log(col("rank").cast("double"))).as("x"),
            stab6(log(col("c").cast("double"))).as("y"))
        graft.operators.Timeseries.olsByGroup(ranked, Seq("g"), "x", "y",
            prodScale = 6)
          .select(col("n").as("n_types"),
            stab6(col("slope")).as("zipf_slope"),
            stab6(col("intercept")).as("intercept"))
      },
      Some {
        def st(e: String) = graft.functions.Stabilize.stabSql(e, 6)
        s"""WITH t AS (
           |  SELECT unnest(${TextFns.tokensSql("text")}) AS tok
           |  FROM documents),
           |v AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
           |r AS (
           |  SELECT ${st("ln(CAST(row_number() OVER (" +
                "ORDER BY c DESC, tok) AS DOUBLE))")} AS x,
           |    ${st("ln(CAST(c AS DOUBLE))")} AS y
           |  FROM v),
           |m AS (
           |  SELECT count(*) AS n,
           |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           |    CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           |    CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
           |    CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
           |  FROM r)
           |SELECT CAST(n AS BIGINT) AS n_types,
           |  ${st("(CAST(n AS DOUBLE) * sxy - sx * sy) " +
               "/ (CAST(n AS DOUBLE) * sxx - sx * sx)")} AS zipf_slope,
           |  ${st("(sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) " +
               "/ (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) " +
               "/ CAST(n AS DOUBLE)")} AS intercept
           |FROM m""".stripMargin
      }),

    // ------------------------------------------- Heaps-law fit
    // Zipf's companion diagnostic: vocabulary growth V(N) ≈ K·N^β over
    // the corpus in doc_id stream order — template/boilerplate text
    // flattens β (few new types per token), PII/noise inflates it.
    // Each term's FIRST document is one aggregate (min doc_id); new
    // types and token mass roll up into 10 equal doc_id buckets, the
    // cumulative window runs over those 10 rows (never the corpus),
    // and the ln-ln OLS reuses the Zipf stabilized-moment path — so
    // the whole fit costs two token-grain shuffles.
    Q("q_text_heaps",
      (s, d) => {
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        val docs = Tables.documents(s, d)
        val toks = docs.select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("tok")).cache()
        val nt = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val nw = toks.groupBy(col("tok"))
          .agg(min(col("doc_id")).as("fdoc"))
          .groupBy(col("fdoc")).agg(count(lit(1)).as("nv"))
        val mx = docs.agg((max(col("doc_id")) + 1).as("__md"))
        val buck = nt.join(nw, nt("doc_id") === nw("fdoc"), "left")
          .crossJoin(broadcast(mx))
          .select(expr("(doc_id * 10) div __md").as("bkt"), col("n"),
            coalesce(col("nv"), lit(0L)).as("nv"))
          .groupBy(col("bkt"))
          .agg(sum(col("n")).as("tb"), sum(col("nv")).as("vb"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("bkt"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        val pts = buck
          .select(sum(col("tb")).over(w).as("ct"),
            sum(col("vb")).over(w).as("cv"))
          .select(lit("corpus").as("g"),
            stab6(log(col("ct").cast("double"))).as("x"),
            stab6(log(col("cv").cast("double"))).as("y"))
        graft.operators.Timeseries.olsByGroup(pts, Seq("g"), "x", "y",
            prodScale = 6)
          .select(col("n").as("n_points"),
            stab6(col("slope")).as("heaps_beta"),
            stab6(col("intercept")).as("intercept"))
      },
      Some {
        def st(e: String) = graft.functions.Stabilize.stabSql(e, 6)
        s"""WITH t AS (
           |  SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS tok
           |  FROM documents),
           |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           |       FROM t GROUP BY 1),
           |nw AS (
           |  SELECT fdoc, CAST(count(*) AS BIGINT) AS nv FROM (
           |    SELECT tok, min(doc_id) AS fdoc FROM t GROUP BY 1)
           |  GROUP BY 1),
           |mx AS (SELECT max(doc_id) + 1 AS md FROM documents),
           |buck AS (
           |  SELECT (nt.doc_id * 10) // md AS bkt,
           |    sum(n) AS tb, sum(coalesce(nv, 0)) AS vb
           |  FROM nt LEFT JOIN nw ON nw.fdoc = nt.doc_id, mx
           |  GROUP BY 1),
           |c AS (
           |  SELECT
           |    sum(tb) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW) AS ct,
           |    sum(vb) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW) AS cv
           |  FROM buck),
           |r AS (SELECT ${st("ln(CAST(ct AS DOUBLE))")} AS x,
           |             ${st("ln(CAST(cv AS DOUBLE))")} AS y
           |      FROM c),
           |m AS (
           |  SELECT count(*) AS n,
           |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           |    CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           |    CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
           |    CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
           |  FROM r)
           |SELECT CAST(n AS BIGINT) AS n_points,
           |  ${st("(CAST(n AS DOUBLE) * sxy - sx * sy) " +
               "/ (CAST(n AS DOUBLE) * sxx - sx * sx)")} AS heaps_beta,
           |  ${st("(sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) " +
               "/ (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) " +
               "/ CAST(n AS DOUBLE)")} AS intercept
           |FROM m""".stripMargin
      }),

    // --------------------------------- corpus-pipeline stage audit
    // The observability row every corpus run ships with: row counts
    // through quality gate -> language filter -> exact dedup ->
    // novelty prune (docs re-hashing earlier content at < 0.3 novel
    // 3-grams drop). Each stage is an already-oracled operator; the
    // audit is five 1-row aggregates unioned — the lineage a data
    // card / retention report reads, computed in the same job as the
    // clean itself. Counts are exact integers.
    Q("q_corpus_stage_audit",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val quality = docs.filter(TextFns.wordCount(col("text")) >= 5)
        val en = quality.filter(col("lang") === "en")
        val uniq = graft.operators.Dedup.exactByContent(en, "text", "doc_id")
        val toked = uniq.select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks"))
        val ng = graft.operators.Similarity
          .wordNgrams(toked, "doc_id", "toks", 3).distinct()
        val firstSeen = ng.groupBy(col("ngram"))
          .agg(min(col("doc_id")).as("__first"))
        val novelty = ng.join(firstSeen, Seq("ngram"))
          .groupBy(col("doc_id"))
          .agg((sum(when(col("__first") === col("doc_id"), 1L)
            .otherwise(0L)) / count(lit(1))).as("__novelty"))
        val kept = uniq.join(novelty, Seq("doc_id"), "left")
          .filter(col("__novelty").isNull || col("__novelty") >= 0.3)
        val stages = Seq("raw" -> docs, "quality_gate" -> quality,
          "lang_en" -> en, "exact_dedup" -> uniq, "novelty_prune" -> kept)
        stages.zipWithIndex.map { case ((name, df), i) =>
          df.agg(count(lit(1)).as("n"))
            .select(lit(i.toLong).as("seq"), lit(name).as("stage"),
              col("n"))
        }.reduce(_ unionAll _).orderBy(col("seq"))
      },
      Some(s"""WITH q AS (
              |  SELECT * FROM documents
              |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+'))
              |    >= 5),
              |en AS (SELECT * FROM q WHERE lang = 'en'),
              |uniq AS (
              |  SELECT doc_id, text FROM (
              |    SELECT doc_id, text, row_number() OVER (
              |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
              |    FROM en) WHERE rn = 1),
              |t AS (
              |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
              |  FROM uniq),
              |ng AS (
              |  SELECT DISTINCT doc_id,
              |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1] ||
              |      ' ' || toks[CAST(i AS INT)+2] AS ngram
              |  FROM t, unnest(range(1, greatest(len(toks)-1, 1))) u(i)
              |  WHERE len(toks) >= 3),
              |fs AS (SELECT ngram, min(doc_id) AS f FROM ng GROUP BY 1),
              |nov AS (
              |  SELECT ng.doc_id,
              |    sum(CASE WHEN fs.f = ng.doc_id THEN 1 ELSE 0 END)
              |      / count(*) AS novelty
              |  FROM ng JOIN fs USING (ngram) GROUP BY 1),
              |kept AS (
              |  SELECT u.doc_id FROM uniq u
              |  LEFT JOIN nov ON nov.doc_id = u.doc_id
              |  WHERE nov.novelty IS NULL OR nov.novelty >= 0.3)
              |SELECT * FROM (
              |  SELECT CAST(0 AS BIGINT) AS seq, 'raw' AS stage,
              |    CAST((SELECT count(*) FROM documents) AS BIGINT) AS n
              |  UNION ALL SELECT 1, 'quality_gate',
              |    CAST((SELECT count(*) FROM q) AS BIGINT)
              |  UNION ALL SELECT 2, 'lang_en',
              |    CAST((SELECT count(*) FROM en) AS BIGINT)
              |  UNION ALL SELECT 3, 'exact_dedup',
              |    CAST((SELECT count(*) FROM uniq) AS BIGINT)
              |  UNION ALL SELECT 4, 'novelty_prune',
              |    CAST((SELECT count(*) FROM kept) AS BIGINT))
              |ORDER BY seq""".stripMargin)),

    // --------------------------------------- n-gram novelty scoring
    // Stream-order novelty: the fraction of each document's distinct
    // 3-grams whose FIRST corpus occurrence (min doc_id) is this
    // document — 1.0 = genuinely new content, ~0 = re-hash of what
    // came before. The selection signal between exact dedup (all or
    // nothing) and near-dup (pairwise): it prices PARTIAL redundancy
    // against the whole accumulated stream in one aggregate + one
    // join, no pair enumeration at all. Counts exact; novelty is an
    // exact integer ratio.
    Q("q_text_ngram_novelty",
      (s, d) => {
        val toked = Tables.documents(s, d).select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks"))
        val ng = graft.operators.Similarity
          .wordNgrams(toked, "doc_id", "toks", 3).distinct()
        val firstSeen = ng.groupBy(col("ngram"))
          .agg(min(col("doc_id")).as("__first"))
        ng.join(firstSeen, Seq("ngram"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_ngrams"),
            sum(when(col("__first") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .select(col("doc_id"), col("n_ngrams"), col("n_novel"),
            (col("n_novel") / col("n_ngrams")).as("novelty"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
              |  FROM documents),
              |ng AS (
              |  SELECT DISTINCT doc_id,
              |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1] ||
              |      ' ' || toks[CAST(i AS INT)+2] AS ngram
              |  FROM t, unnest(range(1, greatest(len(toks)-1, 1))) u(i)
              |  WHERE len(toks) >= 3),
              |fs AS (SELECT ngram, min(doc_id) AS f FROM ng GROUP BY 1)
              |SELECT ng.doc_id,
              |  CAST(count(*) AS BIGINT) AS n_ngrams,
              |  CAST(sum(CASE WHEN fs.f = ng.doc_id THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_novel,
              |  sum(CASE WHEN fs.f = ng.doc_id THEN 1 ELSE 0 END)
              |    / count(*) AS novelty
              |FROM ng JOIN fs USING (ngram)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------- PMI collocation extraction
    // Pointwise mutual information of adjacent word pairs against
    // unigram independence: pmi = ln(c_xy·T² / (B·c_x·c_y)) — the
    // classic collocation/phrase-mining signal (Church & Hanks 1990)
    // that a tokenizer-vocabulary or phrase-merge pass ranks by. All
    // counts are exact integers from two map-side-combining
    // aggregates (bigrams re-use q_text_top_bigrams' one-pass array
    // transform); the single ln over the exact ratio is 6-decimal
    // stabilized (libm ulp), and the order is pmi-then-pair so ties
    // stay deterministic.
    Q("q_text_pmi_collocations",
      (s, d) => {
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        val toked = Tables.documents(s, d)
          .select(TextFns.tokens(col("text")).as("toks"))
        val t = col("toks")
        val pairs = toked.select(explode(transform(
            sequence(lit(1), size(t) - 1),
            i => struct(element_at(t, i).as("w1"),
              element_at(t, i + 1).as("w2")))).as("bg"))
          .select(col("bg.w1"), col("bg.w2"))
        val bcnt = pairs.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c_xy"))
          .filter(col("c_xy") >= 5)
        val ucnt = toked.select(explode(t).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
        val tot = ucnt.agg(sum(col("c")).cast("double").as("T"))
        val btot = pairs.agg(count(lit(1)).cast("double").as("B"))
        bcnt
          .join(ucnt.select(col("w").as("w1"), col("c").as("c_x")),
            Seq("w1"))
          .join(ucnt.select(col("w").as("w2"), col("c").as("c_y")),
            Seq("w2"))
          .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
          .select(col("w1"), col("w2"), col("c_xy"),
            stab6(log((col("c_xy").cast("double") * col("T") * col("T"))
              / (col("B") * col("c_x").cast("double")
                * col("c_y").cast("double")))).as("pmi"))
          .orderBy(col("pmi").desc, col("w1"), col("w2"))
      },
      Some(s"""WITH t AS (
              |  SELECT ${TextFns.tokensSql("text")} AS toks FROM documents),
              |bg AS (
              |  SELECT unnest(list_transform(range(1, len(toks)),
              |    i -> toks[i] || ' ' || toks[i+1])) AS bigram
              |  FROM t),
              |bc AS (
              |  SELECT string_split(bigram, ' ')[1] AS w1,
              |         string_split(bigram, ' ')[2] AS w2,
              |         count(*) AS c_xy
              |  FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
              |u AS (
              |  SELECT unnest(${TextFns.tokensSql("text")}) AS w
              |  FROM documents),
              |uc AS (SELECT w, count(*) AS c FROM u GROUP BY 1),
              |tt AS (SELECT CAST(sum(c) AS DOUBLE) AS T FROM uc),
              |bt AS (SELECT CAST(count(*) AS DOUBLE) AS B FROM bg)
              |SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
              |  ${graft.functions.Stabilize.stabSql(
                   "ln((CAST(c_xy AS DOUBLE) * T * T) " +
                   "/ (B * CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)))",
                   6)} AS pmi
              |FROM bc
              |JOIN uc ca ON ca.w = w1
              |JOIN uc cb ON cb.w = w2, tt, bt
              |ORDER BY pmi DESC, w1, w2""".stripMargin))
  )

  /** GPT-3-style n-gram decontamination (both q_text_contamination
    * variants above share this pipeline; the bloom path inserts the
    * operators/Bloom prefilter before the train-side shuffle).
    */
  private def contamination(s: SparkSession, d: String,
      bloomPrefilter: Boolean): DataFrame =
    contaminationOver(Tables.documents(s, d), bloomPrefilter)

  private def contaminationOver(docs: DataFrame,
      bloomPrefilter: Boolean): DataFrame = {
    val toked = docs.select(col("doc_id"),
      TextFns.tokens(col("text")).as("toks"))
    val ng = Similarity.wordNgrams(toked, "doc_id", "toks", 3).distinct()
    val rare = ng.groupBy(col("ngram"))
      .agg(count(lit(1)).as("__df")).filter(col("__df") <= 50)
      .select(col("ngram"))
    // The bloom path runs TWO actions over ngR (the filter build, then
    // the join); cache it so the n-gram pipeline is computed once. At
    // production scale the eval set is small and static — the filter is
    // built once and reused across batches, not per query.
    val ngR0 = ng.join(rare, Seq("ngram"))
    val ngR = if (bloomPrefilter) ngR0.cache() else ngR0
    val evalNg = ngR.filter(col("doc_id") < 50)
      .select(col("doc_id").as("eval_id"), col("ngram"))
    val trainNg0 = ngR.filter(col("doc_id") >= 50)
      .select(col("doc_id").as("train_id"), col("ngram"))
    val trainNg = if (!bloomPrefilter) trainNg0 else {
      // Digest the n-gram once on each side (md5Long is the portable
      // 60-bit hash already on the similarity hot path); the filter is
      // sized by counting the eval keys — one extra pass over the
      // SMALL side.
      val evalKeys = evalNg
        .select(HashFns.md5Long(col("ngram")).as("k")).distinct()
      val filter = graft.operators.Bloom.buildLongFilter(evalKeys, "k")
      trainNg0.filter(graft.operators.Bloom.mightContain(
        filter, HashFns.md5Long(col("ngram"))))
    }
    // Cache-release contract: ngR stays cached until the caller's
    // action completes (the result is lazy, so unpersisting here would
    // defeat the cache). Both harness runners — Verify and Bench —
    // clearCache() between queries, so the cached n-gram pipeline
    // lives for ONE query, not the session; a library caller running
    // this directly should clearCache()/unpersist after materializing.
    // (An eager localCheckpoint would self-release, but it also
    // replaces the executed plan with a Scan ExistingRDD, destroying
    // PlanSpec's pin that the might_contain probe participates.)
    trainNg.join(evalNg, Seq("ngram"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= 3)
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** Cross-source rare-ngram overlap matrix over any documents-shaped
    * frame (shared by q_text_source_overlap and its salted-fixture
    * twin). Inverted-index join with the df <= 50 cap bounding every
    * ngram bucket — pair work is O(ngrams · cap²), never
    * corpus-quadratic.
    */
  private def sourceOverlapOver(docs: DataFrame): DataFrame = {
    val toked = docs.select(col("doc_id"),
      TextFns.tokens(col("text")).as("toks"))
    val ng = Similarity.wordNgrams(toked, "doc_id", "toks", 3)
      .distinct()
    val rare = ng.groupBy(col("ngram"))
      .agg(count(lit(1)).as("__df")).filter(col("__df") <= 50)
      .select(col("ngram"))
    val srcNg = ng.join(rare, Seq("ngram"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("ngram")).distinct()
    val a = srcNg.select(col("ngram"), col("source").as("src_a"))
    val b = srcNg.select(col("ngram"), col("source").as("src_b"))
    a.join(b, Seq("ngram")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** The source-overlap replay's CTE chain + final SELECT over any
    * documents-shaped relation `src`. Callers prepend "WITH " (and
    * any fixture CTEs).
    */
  private def sourceOverlapSqlOver(src: String): String =
    s"""t AS (
              |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
              |  FROM $src),
              |ng AS (
              |  SELECT DISTINCT doc_id,
              |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1]
              |      || ' ' || toks[CAST(i AS INT)+2] AS ngram
              |  FROM t, unnest(range(1, greatest(len(toks)-1, 1))) u(i)
              |  WHERE len(toks) >= 3),
              |rare AS (SELECT ngram FROM ng GROUP BY ngram
              |         HAVING count(*) <= 50),
              |sn AS (
              |  SELECT DISTINCT d.source, ng.ngram
              |  FROM ng JOIN rare USING (ngram)
              |  JOIN $src d USING (doc_id))
              |SELECT a.source AS src_a, b.source AS src_b,
              |  CAST(count(*) AS BIGINT) AS n_shared
              |FROM sn a JOIN sn b USING (ngram)
              |WHERE a.source < b.source
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The decontamination replay's CTE chain + final SELECT over any
    * documents-shaped relation `src` (shared by the plain, bloom, and
    * salted-fixture registrations — one body, so the replays cannot
    * drift). Callers prepend "WITH " (and any fixture CTEs).
    */
  private def contaminationSqlOver(src: String): String =
    s"""t AS (
             |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
             |  FROM $src),
             |ng AS (
             |  SELECT DISTINCT doc_id,
             |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1] ||
             |      ' ' || toks[CAST(i AS INT)+2] AS ngram
             |  FROM t, unnest(range(1, greatest(len(toks)-1, 1))) u(i)
             |  WHERE len(toks) >= 3),
             |rare AS (SELECT ngram FROM ng GROUP BY ngram
             |         HAVING count(*) <= 50),
             |ngr AS (SELECT * FROM ng JOIN rare USING (ngram))
             |SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
             |       count(*) AS shared_ngrams
             |FROM ngr a JOIN ngr b USING (ngram)
             |WHERE a.doc_id >= 50 AND b.doc_id < 50
             |GROUP BY 1, 2 HAVING count(*) >= 3
             |ORDER BY train_id, eval_id""".stripMargin

  // lazy: declared after `qs`, which captures it during object init
  private lazy val contaminationOracle: String =
    "WITH " + contaminationSqlOver("documents")

  /** SALTED CONTAMINATION FIXTURE (round 14, de-vacuating the sf10
    * rows): under the self-similar replica tiling every TEMPLATE
    * n-gram's document frequency scales with corpus size — the closed
    * 31-word vocabulary means all natural 3-grams blow through the
    * df <= 50 rare gate by sf10 (100 replicas), so
    * q_text_contamination and q_text_source_overlap return 0 rows on
    * BOTH engines there: green, but certifying only the empty-case
    * contract. This fixture controls df BY CONSTRUCTION at every
    * decade instead (the quote-augmented-fixture pattern of
    * q_sim_containment_stratified): each eval doc e (doc_id < 50)
    * appends a unique 5-token salt run (tokens `zqsalt{e}a..e`,
    * lowercase-alnum so TextFns.normalize passes them through), and
    * ~50 HASH-SELECTED train docs — md5Long(id, seed 41) %
    * max(97, n/50) == 0, a scale-adaptive modulus so the salted-train
    * COUNT stays ~constant as the corpus grows — append the run of
    * eval doc md5Long(id, seed 43) % 50. Selection and partner
    * assignment are hashed, NOT raw-id modular arithmetic: at the
    * tiled decades doc_ids are sparse multiples of the replica offset,
    * so `doc_id % M == 0` degenerates to one-per-replica ids that ALL
    * share residue 0 mod 50 — every salted doc piles onto eval doc 0
    * and the pile's df blows through the rare gate (measured: 0 rows
    * at sf10 on the first cut of this fixture). Hashing decouples the
    * construction from any id structure: ~Poisson(1) partners per
    * eval doc, so every salted n-gram's df stays ~2 at ANY scale.
    * Each salted train doc shares exactly 3 n-grams (5 tokens → 3
    * trigrams) with its eval doc — meeting the >= 3 flag bar — and
    * the match logic stays populated and hash-verifiable at sf0.01,
    * sf1 and sf10. The oracle replays the identical augmentation in
    * SQL, so fixture + pipeline pin end to end.
    */
  private def saltedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = docs.agg(count(lit(1)).as("__n"))
    def run(e: org.apache.spark.sql.Column) = {
      val es = e.cast("string")
      concat(lit(" zqsalt"), es, lit("a zqsalt"), es, lit("b zqsalt"),
        es, lit("c zqsalt"), es, lit("d zqsalt"), es, lit("e"))
    }
    val m = greatest(lit(97L), floor(col("__n") / 50).cast("long"))
    val idStr = col("doc_id").cast("string")
    docs.crossJoin(broadcast(n))
      .withColumn("text",
        when(col("doc_id") < 50, concat(col("text"), run(col("doc_id"))))
          .when(HashFns.md5Long(idStr, 41) % m === 0,
            concat(col("text"),
              run(HashFns.md5Long(idStr, 43) % 50)))
          .otherwise(col("text")))
      .drop("__n")
  }

  /** DuckDB mirror of [[saltedDocs]]: CTEs `nn` + `aug`, where `aug`
    * is documents-shaped (SELECT * REPLACE keeps all columns). Same
    * branch order as the Spark `when` chain, so doc_id 0 (eval AND a
    * multiple of every modulus) salts identically on both engines.
    */
  private lazy val saltedDocsSql: String = { // lazy: captured during `qs` init
    def run(e: String) =
      s"' zqsalt' || $e || 'a zqsalt' || $e || 'b zqsalt' || $e || " +
        s"'c zqsalt' || $e || 'd zqsalt' || $e || 'e'"
    val idStr = "CAST(d.doc_id AS VARCHAR)"
    s"""nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |aug AS (
       |  SELECT d.* REPLACE ((CASE
       |    WHEN d.doc_id < 50
       |      THEN d.text || ${run("CAST(d.doc_id AS VARCHAR)")}
       |    WHEN ${HashFns.md5LongSql(idStr, 41)}
       |        % GREATEST(97, nn.n // 50) = 0
       |      THEN d.text ||
       |        ${run(s"CAST(${HashFns.md5LongSql(idStr, 43)} % 50" +
                  " AS VARCHAR)")}
       |    ELSE d.text END) AS text)
       |  FROM documents d, nn)""".stripMargin
  }

  private lazy val saltedContaminationOracle: String =
    "WITH " + saltedDocsSql + ",\n" + contaminationSqlOver("aug")
}
