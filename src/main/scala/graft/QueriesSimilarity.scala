package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{HashFns, TextFns}
import graft.operators.{Dedup, Ivf, Pq, Sampling, Similarity, Windows}
import graft.sources.Tables

/** Deduplication + similarity-search operators over `documents` (text)
  * and `embeddings` (64-dim float vectors): exact content dedup,
  * MinHash signatures, banded-LSH near-dup pairs with exact-Jaccard
  * verification, brute-force cosine top-k, and a sign-bit LSH-bucketed
  * ANN variant (the 100 TB scale path — candidates meet only inside a
  * bucket, the all-pairs join never exists).
  *
  * Oracle parity: hashes are md5-derived (HashFns) so DuckDB reproduces
  * them exactly; dot products accumulate in DOUBLE in index order on
  * both engines (Spark aggregate(zip_with(...)) ≡ DuckDB
  * list_sum(list_transform(list_zip(...)))), giving bit-identical
  * cosines.
  */
object QueriesSimilarity {

  private val K = 8 // minhash signature width
  private val R = 2 // rows per LSH band -> 4 bands

  /** DuckDB mirror of Similarity.charShingles(k=5). */
  private val shinglesSql =
    """SELECT doc_id, substr(text, CAST(i AS INT), 5) AS shingle
      |  FROM documents, unnest(range(1, greatest(length(text)-3, 1))) t(i)""".stripMargin

  /** DuckDB mirror of minhashSignature: one md5 per shingle (`h`), K
    * xor-shift family members, min per id.
    */
  private val baseHashSql =
    s"SELECT doc_id, ${HashFns.md5LongSql("shingle")} AS h FROM sh"
  private def sigSelectSql: String =
    (0 until K).map(i =>
      s"MIN(${HashFns.hashFamilySql("h", i)}) AS mh$i").mkString(",\n  ")

  /** md5 digest of every word 3-gram of each document → (doc_id, h),
    * repeats kept; `toked` carries (doc_id, toks). The element frame
    * of every word-3-gram set join (Jaccard, containment, prefix
    * report), so all of them hash the same elements.
    */
  private def hashedTrigrams(toked: DataFrame): DataFrame =
    Similarity.hashedShingles(
      Similarity.wordNgrams(toked, "doc_id", "toks", 3)
        .withColumnRenamed("ngram", "shingle"), "doc_id")

  /** q_sim_containment_indexed's banded quote join, unordered — its
    * `_sampled` twin filters this same frame. spreadById (r16, Finding
    * 3): the ngram explode + md5 leg parallelizes; containmentBanded's
    * distinct/sizes absorb the doc_id partitioning.
    */
  private def containmentIndexed(s: SparkSession, d: String): DataFrame = {
    val toked = Similarity.spreadById(
      Tables.documents(s, d).select(col("doc_id"),
        TextFns.tokens(col("text")).as("toks")), "doc_id")
    graft.operators.SetJoin
      .containmentBanded(hashedTrigrams(toked), "doc_id", "h", 0.9)
  }

  /** The EXACT all-pairs containment brute force over hashed word
    * 3-grams — shared verbatim by q_sim_containment (the exact
    * operator) and q_sim_containment_indexed (the banded scale twin):
    * one oracle, two implementations, so the twin's correctness bar is
    * literally "reproduces the exact answer", not "replays its own
    * approximation". Parametrized by the corpus SELECT so
    * q_sim_containment_stratified can run the SAME brute force over
    * its quote-augmented fixture, and by an optional A-side predicate
    * so q_sim_containment_indexed_sampled can bound the Σdf²
    * intersection join to a deterministic 1/97 probe subsample — the
    * trick that makes this oracle REPLAYABLE at sf10, where the full
    * join is infeasible in DuckDB (the r13 named exclusion).
    */
  private def containmentExactOracleSqlOver(corpusSql: String,
      aSideSql: String = ""): String =
    s"""WITH corpus AS (
       |  $corpusSql),
       |t AS (
       |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
       |  FROM corpus),
       |ng AS (
       |  SELECT DISTINCT doc_id,
       |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1] ||
       |      ' ' || toks[CAST(i AS INT)+2] AS ngram
       |  FROM t, unnest(range(1, greatest(len(toks)-1, 1))) u(i)
       |  WHERE len(toks) >= 3),
       |hng AS (SELECT DISTINCT doc_id,
       |          ${HashFns.md5LongSql("ngram")} AS h
       |        FROM ng),
       |sz AS (SELECT doc_id, count(*) AS n FROM hng GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         count(*) AS n_inter
       |  FROM hng a JOIN hng b ON b.h = a.h
       |    AND a.doc_id <> b.doc_id$aSideSql
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
       |  n_inter / sa.n AS containment
       |FROM inter
       |JOIN sz sa ON sa.doc_id = id_a
       |WHERE n_inter / sa.n >= 0.9
       |ORDER BY id_a, id_b""".stripMargin

  private lazy val containmentExactOracleSql: String =
    containmentExactOracleSqlOver("SELECT doc_id, text FROM documents")

  /** The quote-augmented fixture corpus (q_sim_containment_stratified):
    * documents plus, for every 13th document with ≥ 80 normalized
    * tokens, a synthetic QUOTE document carrying its first 12 tokens —
    * a verbatim span whose 3-gram set is contained (containment = 1.0)
    * in a host ≥ 5× its size (ρ = |B|/|A| ≥ 5, the regime the banded
    * twin's coverage contract excludes). Deterministic, derived from
    * the table itself — the same expression at every SF.
    */
  private val containmentFixtureCorpusSql: String =
    s"""SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000000 AS doc_id,
       |         array_to_string(toks[1:12], ' ') AS text
       |  FROM (SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
       |        FROM documents)
       |  WHERE doc_id % 13 = 0 AND len(toks) >= 80""".stripMargin

  /** One-time lake build for the served LSH index (q_sim_lsh_
    * incremental_lake + its probe-leg sibling): shingles ALL of
    * `documents`, persists band buckets, distinct shingle digests, and
    * per-doc set sizes as bucketed lake tables. Idempotent per
    * (JVM, sfDir) unless `force` — the probe sibling reuses a build
    * the full query (or a previous probe run) already wrote, so its
    * timed runs are pure serve-leg.
    */
  @volatile private var lshLakeBuiltFor: String = null
  private def buildLshLake(s: org.apache.spark.sql.SparkSession,
                           d: String, force: Boolean = false): Unit =
    this.synchronized {
      if (force || lshLakeBuiltFor != d) {
        import graft.sources.Lake
        // spreadById (r16, Finding 3): one narrow doc-row shuffle the
        // (doc_id, h) distinct, the minhash groupBy and the sizes
        // groupBy all absorb — the exploded shingle frame is never
        // re-shuffled during the build
        val docs = Similarity.spreadById(Tables.documents(s, d), "doc_id")
        val histHs = Similarity.hashedShingles(
          Similarity.charShingles(docs, "doc_id", "text", 5), "doc_id")
          .distinct().cache()
        val histBands = Similarity.lshBands(
          Similarity.minhashFromHashes(histHs, "doc_id", K), "doc_id", K, R)
        Lake.writeBucketed(histBands, "lsh_hist_bands", "band_value", 8)
        Lake.writeBucketed(histHs, "lsh_hist_digests", "doc_id", 8)
        Lake.writeBucketed(histHs.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_sh")), "lsh_hist_sizes", "doc_id", 8)
        histHs.unpersist()
        lshLakeBuiltFor = d
      }
    }

  /** The serve-time leg: only the 30-doc batch is shingled; candidates
    * come from an equi-join against the persisted band buckets (history
    * bucket cap 20) and jaccardForPairsServed verifies against the
    * digest/size lake with no corpus-wide distinct or aggregation.
    */
  private def lshLakeProbe(s: org.apache.spark.sql.SparkSession,
                           d: String): org.apache.spark.sql.DataFrame = {
    val batch = Tables.documents(s, d).filter(col("doc_id") < 30)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" revised edition")).as("text"))
    val bHs = Similarity.hashedShingles(
      Similarity.charShingles(batch, "doc_id", "text", 5), "doc_id")
      .cache()
    val cand = Similarity.candidatePairsAcross(
      Similarity.lshBands(
        Similarity.minhashFromHashes(bHs, "doc_id", K), "doc_id", K, R),
      s.table("lsh_hist_bands"), "doc_id", maxBucket = 20)
    Similarity.jaccardForPairsServed(cand, bHs,
        s.table("lsh_hist_digests"), s.table("lsh_hist_sizes"),
        "doc_id")
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a").as("id_new"), col("id_b").as("id_hist"),
        col("jaccard"))
      .orderBy(col("id_new"), col("id_hist"))
  }

  /** Recompute-everything DuckDB replay shared by
    * q_sim_lsh_incremental_lake AND its probe-leg sibling — one oracle
    * string, two physical paths, so the served leg's hash match proves
    * served == full on its own.
    */
  private lazy val lshIncrementalLakeOracleSql: String = {
    val bandValSql = (0 until K / R).map { b =>
      val bv = (0 until R).map(r => s"CAST(mh${b * R + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"WHEN $b THEN $bv"
    }.mkString(" ")
    s"""WITH batch AS (
       |  SELECT doc_id + 1000000 AS doc_id,
       |         text || ' revised edition' AS text
       |  FROM documents WHERE doc_id < 30),
       |hsh AS (
       |  SELECT doc_id, substr(text, CAST(i AS INT), 5) AS shingle
       |  FROM documents,
       |       unnest(range(1, greatest(length(text)-3, 1))) t(i)),
       |bsh AS (
       |  SELECT doc_id, substr(text, CAST(i AS INT), 5) AS shingle
       |  FROM batch,
       |       unnest(range(1, greatest(length(text)-3, 1))) t(i)),
       |hhh AS (SELECT doc_id,
       |          ${HashFns.md5LongSql("shingle")} AS h FROM hsh),
       |bhh AS (SELECT doc_id,
       |          ${HashFns.md5LongSql("shingle")} AS h FROM bsh),
       |hsig AS (
       |  SELECT doc_id,
       |  $sigSelectSql
       |  FROM hhh GROUP BY doc_id),
       |bsig AS (
       |  SELECT doc_id,
       |  $sigSelectSql
       |  FROM bhh GROUP BY doc_id),
       |hb AS (
       |  SELECT doc_id, CAST(bb.band AS INT) AS band,
       |         CASE CAST(bb.band AS INT) $bandValSql END AS bv
       |  FROM hsig, (SELECT unnest(range(${K / R})) AS band) bb),
       |pb AS (
       |  SELECT doc_id, CAST(bb.band AS INT) AS band,
       |         CASE CAST(bb.band AS INT) $bandValSql END AS bv
       |  FROM bsig, (SELECT unnest(range(${K / R})) AS band) bb),
       |ok AS (SELECT band, bv FROM hb GROUP BY band, bv
       |       HAVING count(*) <= 20),
       |cand AS (
       |  SELECT DISTINCT p.doc_id AS id_a, h.doc_id AS id_b
       |  FROM pb p
       |  JOIN ok USING (band, bv)
       |  JOIN hb h USING (band, bv)),
       |shd_h AS (SELECT DISTINCT doc_id, h FROM hhh),
       |shd_b AS (SELECT DISTINCT doc_id, h FROM bhh),
       |sz_h AS (SELECT doc_id, count(*) AS n FROM shd_h GROUP BY doc_id),
       |sz_b AS (SELECT doc_id, count(*) AS n FROM shd_b GROUP BY doc_id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN shd_b a ON a.doc_id = c.id_a
       |  JOIN shd_h b ON b.doc_id = c.id_b AND b.h = a.h
       |  GROUP BY c.id_a, c.id_b)
       |SELECT id_a AS id_new, id_b AS id_hist,
       |  n_inter / (sa.n + sb.n - n_inter) AS jaccard
       |FROM inter
       |JOIN sz_b sa ON sa.doc_id = id_a
       |JOIN sz_h sb ON sb.doc_id = id_b
       |WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
       |ORDER BY id_new, id_hist""".stripMargin
  }

  /** One-time lake build for the served CONTAINMENT index
    * (q_sim_containment_lake): span fingerprints (winnowW = 8) and
    * distinct 3-gram digests of ALL documents, persisted bucketed.
    * Idempotent per (JVM, sfDir) — under the warm-mode bench
    * convention the registered query's "first" number carries the
    * build and its warm median is the pure serve leg.
    */
  @volatile private var spanLakeBuiltFor: String = null
  private def buildSpanLake(s: org.apache.spark.sql.SparkSession,
                            d: String): Unit = this.synchronized {
    if (spanLakeBuiltFor != d) {
      import graft.sources.Lake
      // spreadById (r16): the fingerprint window (partitionBy doc_id)
      // and the digest distinct both absorb the narrow pre-explode
      // exchange, and the two lake writes share it (ReusedExchange)
      val toked = Similarity.spreadById(
        Tables.documents(s, d).select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks")), "doc_id")
      val seq = Similarity.wordNgramsIndexed(toked, "doc_id", "toks", 3)
        .select(col("doc_id"), col("pos"),
          HashFns.md5Long(col("ngram")).as("h"))
      Lake.writeBucketed(graft.operators.SetJoin
          .spanFingerprints(seq, "doc_id", "pos", "h", winnowW = 8),
        "span_fp_index", "fp", 8)
      Lake.writeBucketed(seq.select(col("doc_id"), col("h")).distinct(),
        "span_digests", "doc_id", 8)
      spanLakeBuiltFor = d
    }
  }

  /** Recompute-everything DuckDB replay of the served containment
    * probe: the batch (12-token openers of every 7th document with
    * ≥ 40 tokens) brute-forced against the whole corpus at
    * containment ≥ 0.9 on hashed 3-gram sets — no fingerprint or
    * index structure replayed, so the hash match proves the served
    * path equals exact recomputation. Recall rides on the span
    * guarantee: every true pair here is a verbatim run ≥ 10 tokens
    * (pre-flight measured 63/63 at sf0.01 and 5215/5215 at sf1 are
    * substring-verbatim).
    */
  private lazy val containmentLakeOracleSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
       |  FROM documents),
       |batch AS (
       |  SELECT doc_id + 200000000 AS doc_id,
       |         array_to_string(toks[1:12], ' ') AS text
       |  FROM tok WHERE doc_id % 7 = 0 AND len(toks) >= 40),
       |bt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM batch),
       |bng AS (
       |  SELECT DISTINCT doc_id,
       |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1] ||
       |      ' ' || toks[CAST(i AS INT)+2] AS ngram
       |  FROM bt, unnest(range(1, greatest(len(toks)-1, 1))) u(i)
       |  WHERE len(toks) >= 3),
       |hng AS (
       |  SELECT DISTINCT doc_id,
       |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1] ||
       |      ' ' || toks[CAST(i AS INT)+2] AS ngram
       |  FROM tok, unnest(range(1, greatest(len(toks)-1, 1))) u(i)
       |  WHERE len(toks) >= 3),
       |bh AS (SELECT DISTINCT doc_id,
       |         ${HashFns.md5LongSql("ngram")} AS h FROM bng),
       |hh AS (SELECT DISTINCT doc_id,
       |         ${HashFns.md5LongSql("ngram")} AS h FROM hng),
       |bsz AS (SELECT doc_id, count(*) AS n FROM bh GROUP BY doc_id),
       |inter AS (
       |  SELECT b.doc_id AS id_new, h.doc_id AS id_hist,
       |         count(*) AS n_inter
       |  FROM bh b JOIN hh h ON h.h = b.h
       |  GROUP BY 1, 2)
       |SELECT id_new, id_hist, CAST(n_inter AS BIGINT) AS n_inter,
       |  n_inter / bsz.n AS containment
       |FROM inter
       |JOIN bsz ON bsz.doc_id = id_new
       |WHERE n_inter / bsz.n >= 0.9
       |ORDER BY id_new, id_hist""".stripMargin

  /** DuckDB mirror of the double-accumulated dot product. */
  private def dotSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))""".stripMargin
  private def normSql(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)})"

  /** Banded-LSH kNN-3 edge list over `embeddings` — the SCALE-PATH
    * edge builder of the `_lsh` graph face, assembled from the SAME certified
    * multi-probe sign-bit machinery as q_sim_embedding_neardup:
    * adaptive bucket width (expected bucket size ~32 at every corpus
    * size, so candidate volume stays O(n · probes · 32), linear in n),
    * probe side explodes bucket + every 1-bit flip, EQUI-join on the
    * other side's exact bucket (a hash join — hamming ≤ 1 never
    * becomes an all-pairs predicate), exact cosine ranks candidates,
    * top-3 per source kept. No cartesian anywhere; each (src, nid)
    * pair matches at most once (probe values within a vector are
    * pairwise distinct, the index side joins its ONE exact bucket).
    * Corpus count read once for the width (parquet row-count, no data
    * scan — the q_sim_embedding_neardup two-phase convention).
    */
  private def lshKnnEdges(s: SparkSession, d: String): DataFrame = {
    // Tables.spread was MEASURED here in r16 and reverted: it
    // helped clustering_coeff_lsh (4.87 -> 4.09 s) but regressed the
    // other four _lsh twins (triangles 3.10 -> 3.57, label_prop
    // 0.85 -> 1.18, kcore 1.51 -> 1.70, pagerank 3.81 -> 3.96 at
    // sf0.1/32c) — the banded probe's per-row work is too small to
    // repay the extra exchange + task fan-out (the q_text_bpe_merges
    // pattern from r15).
    val base = Tables.embeddings(s, d)
    val bits = Similarity.adaptiveSignBits(base.count())
    val e = base
      .withColumn("bucket",
        Similarity.signBitBucket(col("embedding"), bits))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val a = e.select(col("vec_id").as("src"), col("embedding").as("ea"),
      col("nrm").as("na"),
      explode(Similarity.multiProbeBuckets(col("bucket"), bits))
        .as("bucket"))
    val b = e.select(col("bucket"), col("vec_id").as("nid"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val cand = a.join(b, Seq("bucket")).filter(col("src") =!= col("nid"))
      .select(col("src"), col("nid"),
        (Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
          .as("cos"))
    Windows.topKPerGroup(cand, Seq(col("src")),
        Seq(col("cos").desc, col("nid")), 3)
      .select(col("src"), col("nid").as("dst"), col("cos").as("w"))
  }

  /** Deterministic 1/13 node subsample shared by the `_sampled` graph
    * faces: hash-select (md5Long of the id string, seed 15), NEVER a
    * raw-id modulus — decade tilings re-key ids sparsely, so a raw
    * modulus would select a scale-dependent fraction; the 60-bit hash
    * keeps the sampled fraction ~1/13 at every scale (33 nodes at
    * sf0.01, 15.5k at sf10). Mirrored bit-for-bit by
    * [[graphSamplePredSql]].
    */
  private val GraphSampleSeed = 15
  private val GraphSampleMod = 13
  private def graphSample(df: DataFrame): DataFrame =
    df.filter(HashFns.md5Long(col("vec_id").cast("string"),
      GraphSampleSeed) % GraphSampleMod === 0)
  private val graphSamplePredSql: String =
    s"${HashFns.md5LongSql("CAST(vec_id AS VARCHAR)", GraphSampleSeed)}" +
      s" % $GraphSampleMod = 0"

  /** EXACT cosine kNN-3 edge list (src, dst, w=cos) — the brute-force
    * all-pairs recall-BASELINE edge build of the exact graph face;
    * `sampled = true` restricts the node set to the deterministic
    * [[graphSample]] 1/13 slice FIRST, so the `_sampled` face compares the exact kNN graph OF THE SAMPLED
    * CORPUS (a self-consistent graph, not sampled edges of the full
    * graph). The crossJoin is intentional and labeled: this is the
    * recall oracle, (n/13)² is still quadratic — the `_lsh` face is
    * the 100 TB scale path. Mirrors [[exactKnnEdgeCtes]] CTE-for-stage.
    */
  private def exactKnnEdges(s: SparkSession, d: String,
                            sampled: Boolean = false): DataFrame = {
    // Tables.spread (full path only): the quadratic crossJoin
    // inherits the left side's partitioning, so an unspread
    // single-file scan ran the whole n² cosine pass in ONE task
    // (measured: q_graph_kcore 5.54 -> 1.84 s at sf0.1, and the kNN
    // build was a 12.5 s single-task stage in q_graph_pagerank). The
    // sampled path keeps the plain scan: its 1/13-slice build is tiny
    // at sf0.1 and the spread's exchange + task fan-out REGRESSED all
    // five _sampled faces ~1.3-1.6x (OPTIMIZATION_r15.md).
    val base0 =
      if (sampled) Tables.embeddings(s, d)
      else Tables.spread(s, d, "embeddings")
    val base = if (sampled) graphSample(base0) else base0
    val e = base.withColumn("nrm", Similarity.norm(col("embedding")))
    val a = e.select(col("vec_id").as("src"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("nid"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val pairs = a.crossJoin(b).filter(col("src") =!= col("nid"))
      .select(col("src"), col("nid"),
        (Similarity.dot(col("ea"), col("eb"))
          / (col("na") * col("nb"))).as("cos"))
    Windows.topKPerGroup(pairs, Seq(col("src")),
        Seq(col("cos").desc, col("nid")), 3)
      .select(col("src"), col("nid").as("dst"), col("cos").as("w"))
  }

  /** One edge face of the kNN-3 graph family: the Spark edge build
    * (src, dst, w = cos), the DuckDB CTEs that mirror it stage for
    * stage and end in `edges(src, dst, w)`, and the face's node
    * restriction (a Spark filter and its SQL predicate). Only label
    * propagation's seed universe reads the restriction; off the
    * `_sampled` face it is the identity / "TRUE".
    */
  private final case class EdgeFace(
      suffix: String,
      edges: (SparkSession, String) => DataFrame,
      edgeCtes: String,
      nodes: DataFrame => DataFrame,
      nodePredSql: String)

  private def edgeFaces: Seq[EdgeFace] = Seq(
    // Exact: brute-force all-pairs top-3 cosine, the labeled recall
    // baseline the other two faces are judged against.
    EdgeFace("", exactKnnEdges(_, _), exactKnnEdgeCtes("TRUE"),
      identity, "TRUE"),
    // _lsh: the SCALE PATH. Edges come from the certified multi-probe
    // sign-bit LSH candidate index (the q_sim_embedding_neardup
    // machinery: adaptive bucket width, bucket EQUI-join) instead of
    // the all-pairs crossJoin, so candidate volume is
    // O(n · probes · bucketSize), never n², and the executed plan has
    // NO CartesianProduct / BroadcastNestedLoopJoin node
    // (PlanSpec-pinned). Nodes no probe touches don't enter the graph;
    // the oracle builds the identical banded edge set (weights
    // included), so the compare is exact, not recall-fuzzy.
    EdgeFace("_lsh", lshKnnEdges, lshKnnEdgeCtesSql, identity, "TRUE"),
    // _sampled: the decade-evidence face of the exact baseline (the
    // q_sim_containment_indexed_sampled convention). The full exact
    // build is intrinsically quadratic (4e10 pairs at the 200k-vector
    // decade, not replayable in any engine), but the exact kNN-3 graph
    // of the deterministic 1/13 hash-sampled slice is ~2.4e8 pairs at
    // sf10, so the exact family gets hash-tight oracle rows at sf1/sf10
    // instead of resting on sf0.1 evidence alone. NOT a scale path
    // (`_lsh` is). Populated at every scale (33 sampled nodes at
    // sf0.01, 15.5k at sf10).
    EdgeFace("_sampled", exactKnnEdges(_, _, sampled = true),
      exactKnnEdgeCtes(graphSamplePredSql), graphSample,
      graphSamplePredSql))

  /** One kNN-3 graph algorithm, defined once: its Spark body over an
    * edge face and its oracle tail over that face's `edges` CTE.
    */
  private final case class GraphAlgo(
      name: String,
      spark: (SparkSession, String, EdgeFace) => DataFrame,
      oracleTail: EdgeFace => String)

  /** Undirected simple projection (u < v, no self-loops, distinct) of a
    * directed (src, dst) edge list; [[undCteSql]] is its oracle mirror,
    * shared by the triangle and k-core chains.
    */
  private def undirected(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
  private val undCteSql: String =
    """und AS (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM edges WHERE src <> dst)""".stripMargin

  private def graphAlgos: Seq[GraphAlgo] = Seq(
    // PageRank (operators/PageRank): graph centrality; nodes that many
    // neighborhoods point at are the corpus's "hub" content, the
    // weighting curation pipelines put behind importance sampling.
    // 5 damped iterations, every iteration stabilized to the 1e-12
    // grid with source-ordered contribution folds — the oracle unrolls
    // and replays all 5 bit-exactly.
    GraphAlgo("pagerank",
      (s, d, f) =>
        graft.operators.PageRank.run(
            f.edges(s, d).select(col("src"), col("dst")),
            damping = 0.85, iters = 5)
          .select(col("id").as("vec_id"), col("r").as("pagerank"))
          .orderBy(col("vec_id")),
      _ => pagerankChainSql),
    // Label propagation (operators/LabelProp): semi-supervised corpus
    // labeling. A 20% seed slice (vec_id % 5 == 0 keeps its label, the
    // "human-labeled" subset) propagates over the weighted kNN-3 graph
    // by 2 rounds of clamped weighted-majority vote. The vote is a
    // skew-safe max_by aggregate and every weight sum folds in neighbor
    // order, so the oracle replays the rounds bit-for-bit. The seed
    // universe takes the face's node restriction, so every propagated
    // row ranges over exactly the nodes the edges were built on.
    GraphAlgo("label_prop",
      (s, d, f) => {
        val seeds = f.nodes(Tables.embeddings(s, d))
          .select(col("vec_id").as("id"),
            when(col("vec_id") % 5 === 0, col("label")).as("lab"))
        graft.operators.LabelProp.run(f.edges(s, d), seeds, iters = 2)
          .select(col("id").as("vec_id"), col("lab").as("label_prop"))
          .orderBy(col("vec_id"))
      },
      f => labelPropChain(f.nodePredSql)),
    // Degree-ordered triangle counting (operators/Triangles): per-node
    // triangle participation, the densification signal under
    // clustering coefficients and near-dup community checks.
    // Degree-ordering bounds wedge work at O(m^1.5) and spreads the hot
    // vertex's wedges to its low-degree neighbors (Suri &
    // Vassilvitskii 2011); counts are exact integers.
    GraphAlgo("triangles",
      (s, d, f) =>
        graft.operators.Triangles.perNode(
            f.edges(s, d).select(col("src"), col("dst")))
          .select(col("id").as("vec_id"), col("n_tri"))
          .orderBy(col("vec_id")),
      _ => s"""$triangleChainSql
              |SELECT id AS vec_id, CAST(count(*) AS BIGINT) AS n_tri
              |FROM nodes GROUP BY 1 ORDER BY vec_id""".stripMargin),
    // Local clustering coefficient cc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)):
    // the density signal community detection thresholds on (a near-dup
    // cluster's members have cc -> 1, bridge nodes -> 0). One extra
    // broadcast-sized degree join over the triangle machinery; cc is an
    // exact integer ratio. The undirected projection is cached because
    // the degree aggregate and the triangle count both consume it.
    GraphAlgo("clustering_coeff",
      (s, d, f) => {
        val und = undirected(
          f.edges(s, d).select(col("src"), col("dst"))).cache()
        val deg = und.select(col("u").as("id"))
          .unionAll(und.select(col("v").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        graft.operators.Triangles.perNode(und.select(
            col("u").as("src"), col("v").as("dst")))
          .join(deg, Seq("id"))
          .select(col("id").as("vec_id"), col("n_tri"), col("deg"),
            ((col("n_tri") * lit(2L))
              / (col("deg") * (col("deg") - lit(1L)))).as("clustering"))
          .orderBy(col("vec_id"))
      },
      _ => s"""$triangleChainSql,
              |tc AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tri
              |       FROM nodes GROUP BY 1)
              |SELECT tc.id AS vec_id, tc.n_tri,
              |  CAST(deg.deg AS BIGINT) AS deg,
              |  (tc.n_tri * 2) / (deg.deg * (deg.deg - 1)) AS clustering
              |FROM tc JOIN deg ON deg.id = tc.id
              |ORDER BY vec_id""".stripMargin),
    // Bounded k-core peeling (operators/KCore.boundedPeel): three rounds
    // of "drop nodes with degree < 3 among survivors", then the
    // survivors' final degrees — the dense-kernel extractor community
    // detection and near-dup cluster triage start from. Fixed-round
    // peeling keeps the cost deterministic and distributed (one degree
    // aggregate + two restriction joins per round, cached so the
    // lineage stays linear); the oracle unrolls the identical three
    // rounds as chained CTEs. Pure integer outputs.
    GraphAlgo("kcore",
      (s, d, f) =>
        graft.operators.KCore.boundedPeel(
            undirected(f.edges(s, d).select(col("src"), col("dst"))),
            k = 3, rounds = 3)
          .select(col("id").as("vec_id"), col("deg"))
          .orderBy(col("vec_id")),
      _ => kcoreChainSql))

  /** The kNN-3 graph family: every algorithm on every edge face, named
    * `q_graph_<algorithm><face suffix>`.
    */
  private def graphQs: Seq[Q] =
    for (a <- graphAlgos; f <- edgeFaces)
      yield Q(s"q_graph_${a.name}${f.suffix}", (s, d) => a.spark(s, d, f),
        Some(s"WITH ${f.edgeCtes},\n${a.oracleTail(f)}"))

  /** Shared CTE chain of the near-dup CLUSTER oracles (dedup -> shingle
    * -> sign -> band -> capped candidates -> exact Jaccard >= 0.8 ->
    * undirected edges -> recursive reachability). Ends at `reach`; the
    * cluster query appends its component SELECT, the canonical query
    * appends the argmax CTEs — one definition, two consumers, zero
    * drift.
    */
  private lazy val dupClusterCtesSql: String = {
    val bandValSql = (0 until K / R).map { b =>
      val bv = (0 until R).map(r => s"CAST(mh${b * R + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"WHEN $b THEN $bv"
    }.mkString(" ")
    // sig/shd/e carry AS MATERIALIZED (DuckDB-only execution hints,
    // result-identical — the bm25 precedent): `bands` is referenced
    // three times (a side, b side, the ok cap) and `shd` twice (both
    // verify sides), and DuckDB's default inlining re-derives the
    // 300M-row shingle+md5 pipeline once PER REFERENCE at sf10 —
    // measured >60 GiB of spill before dying vs 28 s with the two
    // materializations (SCALING.md round 13).
    s"""WITH RECURSIVE uniq AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text, row_number() OVER (
       |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM documents) WHERE rn = 1),
       |sh AS (
       |  SELECT doc_id, substr(text, CAST(i AS INT), 5) AS shingle
       |  FROM uniq, unnest(range(1, greatest(length(text)-3, 1))) t(i)),
       |hh AS ($baseHashSql),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |  $sigSelectSql
       |  FROM hh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, CAST(bb.band AS INT) AS band,
       |         CASE CAST(bb.band AS INT) $bandValSql END AS bv
       |  FROM sig, (SELECT unnest(range(${K / R})) AS band) bb),
       |ok AS (SELECT band, bv FROM bands GROUP BY band, bv
       |       HAVING count(*) <= 20),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a
       |  JOIN ok USING (band, bv)
       |  JOIN bands b USING (band, bv)
       |  WHERE a.doc_id < b.doc_id),
       |shd AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM hh),
       |sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN shd a ON a.doc_id = c.id_a
       |  JOIN shd b ON b.doc_id = c.id_b AND b.h = a.h
       |  GROUP BY c.id_a, c.id_b),
       |prs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sz sa ON sa.doc_id = id_a
       |  JOIN sz sb ON sb.doc_id = id_b
       |  WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8),
       |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM prs
       |      UNION SELECT id_b, id_a FROM prs),
       |reach(id, lbl) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.src, r.lbl FROM e JOIN reach r ON r.id = e.dst)""".stripMargin
  }

  /** The prelude of every embedding-index query (the five IVF-family
    * bodies and semdedup): `e` = embeddings with `nrm`, and the query
    * batch vec_id ∈ [10, 20) projected to (qid, qe, qnrm).
    *
    * Tables.spread was MEASURED on these bodies in r16 and reverted:
    * these multi-consumer index pipelines (separate write jobs between
    * consumers) re-execute the spread exchange per job — exchange
    * reuse does not span jobs — so it regressed the whole ANN family
    * (ivf 0.82 -> 1.81 s, ivf_lake 1.65 -> 4.32, ivf_incremental
    * 1.90 -> 5.00, ivfpq 3.07 -> 4.68, ivfpq_incremental 5.86 -> 8.35,
    * semdedup 1.26 -> 1.81, and q_sim_ann_pq 3.02 -> 3.14 at
    * sf0.1/32c). So all of them read the plain scan.
    */
  private def annInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, d)
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val queries = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qnrm"))
    (e, queries)
  }

  /** DuckDB mirror of [[Ivf.lloydCentroids]] plus the scoring half of
    * [[Ivf.assign]] — the CTEs `e, seeds, s0, a0, dims, cents0, cents,
    * scored`, without the leading WITH. Shared by every IVF-family
    * oracle and semdedup's, so the trained index has one definition;
    * each caller appends its own `assign` and search tail.
    *
    * `seedPred` picks the seed rows of `e` (the first 8 vectors, or
    * semdedup's corpus-sized k). `trainPred` restricts the LLOYD
    * TRAINING population only — `scored` still covers the whole
    * corpus: with `vec_id < 250` it replays the frozen-centroid
    * REBUILD that the incremental queries' append paths must
    * hash-match.
    */
  private def ivfCentroidCtes(seedPred: String, trainPred: String): String =
    s"""e AS (
       |  SELECT vec_id, embedding,
       |         ${normSql("embedding")} AS nrm
       |  FROM embeddings),
       |seeds AS (
       |  SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm
       |  FROM e WHERE $seedPred),
       |s0 AS (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    ${dotSql("e.embedding", "c.cvec")} / (e.nrm * c.cnrm)
       |      AS csim
       |  FROM (SELECT * FROM e WHERE $trainPred) e, seeds c),
       |a0 AS (
       |  SELECT vec_id, embedding, cid
       |  FROM (SELECT *, row_number() OVER (
       |          PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
       |        FROM s0) WHERE rn = 1),
       |dims AS (
       |  SELECT cid, CAST(i AS INT) AS i,
       |    round_even(avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE))
       |      * 1000000.0, 0) / 1000000.0 AS cv
       |  FROM a0, unnest(range(1, len(embedding) + 1)) t(i)
       |  GROUP BY cid, i),
       |cents0 AS (
       |  SELECT cid, list(cv ORDER BY i) AS cvec FROM dims
       |  GROUP BY cid),
       |cents AS (
       |  SELECT cid, cvec, ${normSql("cvec")} AS cnrm FROM cents0),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, e.nrm, c.cid,
       |    ${dotSql("e.embedding", "c.cvec")} / (e.nrm * c.cnrm)
       |      AS csim
       |  FROM e, cents c)""".stripMargin

  /** DuckDB mirror of Similarity.adaptiveSeedCount as a seed predicate:
    * vec_id < max(8, ⌈√n⌉).
    */
  private val adaptiveSeedPredSql: String =
    "vec_id < (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT))" +
      " FROM embeddings)"

  /** The IVF-family tail of [[ivfCentroidCtes]] ([[Ivf.assign]] and
    * the query batch): `assign` keeps each vector's best-scored cell
    * (ties to the lowest cid) as (cell, nid, ce, cenrm); `queries` is
    * vec_id ∈ [10, 20) as (qid, qe, qnrm).
    */
  private val ivfAssignCtes: String =
    """assign AS (
      |  SELECT cid AS cell, vec_id AS nid, embedding AS ce,
      |         nrm AS cenrm
      |  FROM (SELECT *, row_number() OVER (
      |          PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
      |        FROM scored) WHERE rn = 1),
      |queries AS (
      |  SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm
      |  FROM e WHERE vec_id >= 10 AND vec_id < 20)""".stripMargin

  /** DuckDB mirror of [[Pq.codebooks]] + [[Pq.encode]] at m = 16, d/m = 4,
    * k = 16 — the CTEs `sv, pseeds, ps0, pa0, pdims, books, enc0, codes`.
    * `trainPred` restricts the codebook training population only;
    * encoding covers the whole corpus.
    */
  private def pqCodebookCtes(trainPred: String): String =
    s"""sv AS (
       |  SELECT vec_id, CAST(j AS INT) AS sub,
       |    list_transform(
       |      embedding[CAST(j*4+1 AS INT):CAST(j*4+4 AS INT)],
       |      x -> CAST(x AS DOUBLE)) AS svec
       |  FROM embeddings, unnest(range(16)) t(j)),
       |pseeds AS (
       |  SELECT sub, vec_id AS cid, svec AS cvec
       |  FROM sv WHERE vec_id < 16),
       |ps0 AS (
       |  SELECT sv.vec_id, sv.sub, sv.svec, c.cid,
       |    ${dotSql("sv.svec", "sv.svec")}
       |      - 2 * ${dotSql("sv.svec", "c.cvec")}
       |      + ${dotSql("c.cvec", "c.cvec")} AS dd
       |  FROM (SELECT * FROM sv WHERE $trainPred) sv
       |  JOIN pseeds c USING (sub)),
       |pa0 AS (
       |  SELECT vec_id, sub, svec, cid FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id, sub ORDER BY dd, cid) AS rn
       |    FROM ps0) WHERE rn = 1),
       |pdims AS (
       |  SELECT sub, cid, CAST(i AS INT) AS i,
       |    round_even(avg(svec[CAST(i AS INT)]) * 1000000.0, 0)
       |      / 1000000.0 AS cv
       |  FROM pa0, unnest(range(1, 5)) t(i)
       |  GROUP BY sub, cid, i),
       |books AS (
       |  SELECT sub, cid, list(cv ORDER BY i) AS cvec
       |  FROM pdims GROUP BY sub, cid),
       |enc0 AS (
       |  SELECT sv.vec_id, sv.sub, b.cid,
       |    ${dotSql("sv.svec", "sv.svec")}
       |      - 2 * ${dotSql("sv.svec", "b.cvec")}
       |      + ${dotSql("b.cvec", "b.cvec")} AS dd
       |  FROM sv JOIN books b USING (sub)),
       |codes AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id, sub ORDER BY dd, cid) AS rn
       |    FROM enc0) WHERE rn = 1)""".stripMargin

  /** Shared DuckDB replay of the WHOLE IVF pipeline (train ->
    * assign -> probe -> score -> top-3). Used VERBATIM (trainPred =
    * TRUE) by both q_sim_ann_ivf and q_sim_ann_ivf_lake: same answer,
    * different physical plan (the lake variant serves the index from
    * cell-partitioned parquet with partition pruning) — the
    * q_u2_dedup_keep_first_agg shared-oracle precedent. With
    * `vec_id < 250` it is q_sim_ann_ivf_incremental's rebuild.
    */
  private def ivfOracleSql(trainPred: String = "TRUE"): String =
    s"""WITH ${ivfCentroidCtes("vec_id < 8", trainPred)},
       |$ivfAssignCtes,
       |probes AS (
       |  SELECT qid, qe, qnrm, cell FROM (
       |    SELECT q.qid, q.qe, q.qnrm, c.cid AS cell,
       |      ${dotSql("q.qe", "c.cvec")} / (q.qnrm * c.cnrm) AS psim,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${dotSql("q.qe", "c.cvec")} / (q.qnrm * c.cnrm)
       |          DESC, c.cid) AS rk
       |    FROM queries q, cents c) WHERE rk <= 2),
       |hits AS (
       |  SELECT p.qid, a.nid,
       |    ${dotSql("p.qe", "a.ce")} / (p.qnrm * a.cenrm) AS cos_sim
       |  FROM probes p JOIN assign a USING (cell)
       |  WHERE p.qid <> a.nid)
       |SELECT qid, rk, nid FROM (
       |  SELECT qid, nid, row_number() OVER (
       |    PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rk
       |  FROM hits)
       |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** Shared DuckDB replay of the full IVFPQ composition (both index
    * constructions + the three-stage search). `trainPred` restricts
    * BOTH training populations — the IVF Lloyd pass and the PQ
    * codebook pass — while encoding and assignment still cover the
    * whole corpus: with `vec_id < 250` it replays the frozen-artifact
    * REBUILD that q_sim_ann_ivfpq_incremental's append path must
    * hash-match.
    */
  private def ivfpqOracleSql(trainPred: String = "TRUE"): String =
    s"""WITH ${ivfCentroidCtes("vec_id < 8", trainPred)},
       |$ivfAssignCtes,
       |${pqCodebookCtes(trainPred)},
       |probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, c.cid AS cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${dotSql("q.qe", "c.cvec")} / (q.qnrm * c.cnrm)
       |          DESC, c.cid) AS rk
       |    FROM queries q, cents c) WHERE rk <= 2),
       |members AS (
       |  SELECT p.qid, a.nid FROM probes p JOIN assign a USING (cell)
       |  WHERE p.qid <> a.nid),
       |qsub AS (
       |  SELECT vec_id AS qid, sub, svec FROM sv
       |  WHERE vec_id >= 10 AND vec_id < 20),
       |tab AS (
       |  SELECT q.qid, q.sub, b.cid AS code,
       |    ${dotSql("q.svec", "b.cvec")} AS part
       |  FROM qsub q JOIN books b USING (sub)),
       |adc AS (
       |  SELECT m.qid, m.nid,
       |    list_sum(list(t.part ORDER BY t.sub)) AS adc
       |  FROM members m
       |  JOIN codes c ON c.vec_id = m.nid
       |  JOIN tab t ON t.qid = m.qid AND t.sub = c.sub
       |    AND t.code = c.code
       |  GROUP BY m.qid, m.nid),
       |cand AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (
       |      PARTITION BY qid ORDER BY adc DESC, nid) AS rk
       |    FROM adc) WHERE rk <= 20),
       |ex AS (
       |  SELECT cand.qid, cand.nid,
       |    ${dotSql("q.qe", "a.ce")} / (q.qnrm * a.cenrm) AS cos_sim
       |  FROM cand
       |  JOIN queries q USING (qid)
       |  JOIN assign a ON a.nid = cand.nid)
       |SELECT qid, rk, nid FROM (
       |  SELECT qid, nid, row_number() OVER (
       |    PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rk
       |  FROM ex)
       |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  val qs: Seq[Q] = Seq(

    // ------------------------------------------------- exact content dedup
    // The corpus unioned with 50 re-keyed copies; dedup keeps the lowest
    // id per identical text. Shuffle key is the 128-bit digest, never the
    // document body.
    Q("q_sim_exact_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dupes = docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 1000)
        Dedup.exactByContent(docs.unionByName(dupes), "text", "doc_id")
          .select(col("doc_id"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text, n_chars FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000, text, n_chars FROM documents
             |  WHERE doc_id < 50),
             |r AS (SELECT *, row_number() OVER (
             |        PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |      FROM all_docs)
             |SELECT doc_id, n_chars FROM r WHERE rn = 1
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------ incremental-ingest dedup
    // The CDC shape of exact dedup: a NEW batch lands against a huge
    // HISTORICAL corpus, and already-seen content must not re-enter.
    // The anti-join's big side is the history, of which almost nothing
    // matches — so a bloom filter over the (small) batch's digests
    // drops ~all of history BEFORE its shuffle (operators/Bloom; the
    // filter ships executor-side, only probable matches shuffle).
    // Bloom false positives survive into the exact anti-join and die
    // there, so the result is exactly "batch minus seen digests" —
    // fully hash-checked. Everything shuffles 8-byte digests, never
    // document bodies. The batch is new docs (doc_id >= 400) plus a
    // re-keyed RE-LANDING of 100 history docs (the same manufactured-
    // duplicate convention as q_sim_exact_dedup) — the relanded rows
    // MUST all be dropped, so the anti-join is exercised non-trivially
    // at every scale factor.
    Q("q_sim_incremental_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val hist = docs.filter(col("doc_id") < 400)
          .select(HashFns.md5Long(col("text")).as("__h"))
        val relanded = docs.filter(col("doc_id") < 100)
          .withColumn("doc_id", col("doc_id") + 2000)
        val batch = docs.filter(col("doc_id") >= 400)
          .unionByName(relanded)
          .select(col("doc_id"), col("n_chars"),
            HashFns.md5Long(col("text")).as("__h"))
        val filter = graft.operators.Bloom.buildLongFilter(
          batch.select(col("__h")).distinct(), "__h")
        // No distinct on the build side: left_anti is an existence
        // test, so repeated digests (identical texts within history)
        // only pad the hash set — deduplicating them first would be an
        // extra full shuffle of the surviving history.
        val histSeen = hist
          .filter(graft.operators.Bloom.mightContain(filter, col("__h")))
        batch.join(histSeen, Seq("__h"), "left_anti")
          .select(col("doc_id"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH batch AS (
             |  SELECT doc_id, n_chars, text FROM documents
             |  WHERE doc_id >= 400
             |  UNION ALL
             |  SELECT doc_id + 2000, n_chars, text FROM documents
             |  WHERE doc_id < 100)
             |SELECT doc_id, n_chars FROM batch b
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM documents h
             |  WHERE h.doc_id < 400 AND md5(h.text) = md5(b.text))
             |ORDER BY doc_id""".stripMargin)),

    // ---------------------------------------------------- MinHash signature
    Q("q_sim_minhash_signature",
      (s, d) => {
        // Tables.spread: the char-5 shingle explode + md5 is the whole
        // query and the minhash groupBy(doc_id) reuses the spread's
        // partitioning (measured 2.18 -> 1.20 s, OPTIMIZATION_r15.md)
        val hs = Similarity.hashedShingles(
          Similarity.charShingles(Tables.spread(s, d, "documents"),
            "doc_id", "text", 5), "doc_id")
        Similarity.minhashFromHashes(hs, "doc_id", K).orderBy(col("doc_id"))
      },
      Some(s"""WITH sh AS (
              |$shinglesSql),
              |hh AS ($baseHashSql)
              |SELECT doc_id,
              |  $sigSelectSql
              |FROM hh GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --------------------------- minhash-estimate certification
    // The MinHash member of the sketch-certification family (HLL:
    // q_profile_approx_distinct, count-min: q_profile_heavy_hitters):
    // for every pair with exact word-3-gram Jaccard >= 0.6 (found by
    // the LOSSLESS prefix join, so the pair set itself is exhaustive —
    // the q_sim_setjoin_prefix sets and threshold verbatim), the
    // signature-component match fraction — the estimator LSH banding
    // is built on — reported next to the exact Jaccard it estimates.
    // Signatures are md5-family hashes, so the oracle replays both
    // sides bit-for-bit; the match count is an exact integer and the
    // estimate an exact K-denominator ratio. Word n-grams, not char
    // shingles, deliberately: char-5 types over this corpus's tiny
    // vocabulary are so few that every doc shares "rare" shingles
    // with every other — a 339 s candidate explosion at sf0.1; the
    // 3-gram type space keeps prefixes genuinely rare (5.7 s).
    Q("q_sim_minhash_estimate",
      (s, d) => {
        // spreadById (r16, Finding 3): the ngram explode + md5 leg
        // parallelizes and jaccardSelfJoin's distinct, per-set window
        // and size aggregate all absorb the doc_id partitioning
        val toked = Similarity.spreadById(
          Tables.documents(s, d).select(col("doc_id"),
            TextFns.tokens(col("text")).as("toks")), "doc_id")
        val hs = hashedTrigrams(toked).cache()
        val pairs = graft.operators.SetJoin
          .jaccardSelfJoin(hs, "doc_id", "h", 0.6)
        val sig = Similarity.minhashFromHashes(hs, "doc_id", K)
        val a = sig.select(col("doc_id").as("id_a") +:
          (0 until K).map(i => col(s"mh$i").as(s"__a$i")): _*)
        val b = sig.select(col("doc_id").as("id_b") +:
          (0 until K).map(i => col(s"mh$i").as(s"__b$i")): _*)
        val matches = (0 until K)
          .map(i => when(col(s"__a$i") === col(s"__b$i"), 1L).otherwise(0L))
          .reduce(_ + _)
        pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
          .select(col("id_a"), col("id_b"), col("jaccard"),
            matches.as("mh_matches"),
            (matches.cast("double") / lit(K.toDouble)).as("mh_est"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val matchSql = (0 until K)
          .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH t AS (
           |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
           |  FROM documents),
           |ng AS (
           |  SELECT DISTINCT doc_id,
           |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1] ||
           |      ' ' || toks[CAST(i AS INT)+2] AS ngram
           |  FROM t, unnest(range(1, greatest(len(toks)-1, 1))) u(i)
           |  WHERE len(toks) >= 3),
           |hng AS (SELECT DISTINCT doc_id,
           |          ${HashFns.md5LongSql("ngram")} AS h
           |        FROM ng),
           |sz AS (SELECT doc_id, count(*) AS n FROM hng GROUP BY doc_id),
           |inter AS (
           |  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           |         count(*) AS n_inter
           |  FROM hng x JOIN hng y ON y.h = x.h AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2),
           |pairs AS (
           |  SELECT id_a, id_b,
           |    n_inter / (sa.n + sb.n - n_inter) AS jaccard
           |  FROM inter
           |  JOIN sz sa ON sa.doc_id = id_a
           |  JOIN sz sb ON sb.doc_id = id_b
           |  WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.6),
           |sig AS (
           |  SELECT doc_id,
           |  $sigSelectSql
           |  FROM hng GROUP BY doc_id)
           |SELECT p.id_a, p.id_b, p.jaccard,
           |  CAST($matchSql AS BIGINT) AS mh_matches,
           |  CAST($matchSql AS DOUBLE) / ${K}.0 AS mh_est
           |FROM pairs p
           |JOIN sig a ON a.doc_id = p.id_a
           |JOIN sig b ON b.doc_id = p.id_b
           |ORDER BY p.id_a, p.id_b""".stripMargin
      }),

    // ------------------------------------- banded LSH near-dup + verification
    // Exact dedup FIRST (identical bodies would otherwise form quadratic
    // buckets), then sig -> 4 bands of 2 -> bucket-join candidates with a
    // bucket-size cap of 20 (a hot bucket of m docs emits m²/2 pairs; at
    // corpus scale capped buckets go to a template report, not the pair
    // join) -> exact Jaccard over shingle sets (candidates only) -> 0.8.
    Q("q_sim_lsh_neardup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // spreadById (r16, Finding 3): the dedup window leaves the
        // corpus partitioned by content digest; one narrow doc-row
        // shuffle by doc_id here is absorbed by the minhash groupBy,
        // the verify distinct(doc_id, h) and the sizes groupBy — the
        // exploded (id, h) frame is never re-shuffled
        val uniq = Similarity.spreadById(
          Dedup.exactByContent(docs, "text", "doc_id"), "doc_id")
        // hashed ONCE, cached: signature and exact-Jaccard verification
        // both consume (id, h) — one md5 per shingle for the whole
        // query, and no shuffle ever carries the shingle string
        val hs = Similarity.hashedShingles(
          Similarity.charShingles(uniq, "doc_id", "text", 5), "doc_id")
          .cache()
        val sig = Similarity.minhashFromHashes(hs, "doc_id", K)
        val bands = Similarity.lshBands(sig, "doc_id", K, R)
        val cand = Similarity.candidatePairs(bands, "doc_id", maxBucket = 20)
        Similarity.jaccardForPairsHashed(cand, hs, "doc_id")
          .filter(col("jaccard") >= 0.8)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val bandValSql = (0 until K / R).map { b =>
          val bv = (0 until R).map(r => s"CAST(mh${b * R + r} AS VARCHAR)")
            .mkString(" || ':' || ")
          s"WHEN $b THEN $bv"
        }.mkString(" ")
        s"""WITH uniq AS (
           |  SELECT doc_id, text FROM (
           |    SELECT doc_id, text, row_number() OVER (
           |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |    FROM documents) WHERE rn = 1),
           |sh AS (
           |  SELECT doc_id, substr(text, CAST(i AS INT), 5) AS shingle
           |  FROM uniq, unnest(range(1, greatest(length(text)-3, 1))) t(i)),
           |hh AS ($baseHashSql),
           |sig AS (
           |  SELECT doc_id,
           |  $sigSelectSql
           |  FROM hh GROUP BY doc_id),
           |bands AS (
           |  SELECT doc_id, CAST(bb.band AS INT) AS band,
           |         CASE CAST(bb.band AS INT) $bandValSql END AS bv
           |  FROM sig, (SELECT unnest(range(${K / R})) AS band) bb),
           |ok AS (SELECT band, bv FROM bands GROUP BY band, bv
           |       HAVING count(*) <= 20),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a
           |  JOIN ok USING (band, bv)
           |  JOIN bands b USING (band, bv)
           |  WHERE a.doc_id < b.doc_id),
           |shd AS (SELECT DISTINCT doc_id, h FROM hh),
           |sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
           |inter AS (
           |  SELECT c.id_a, c.id_b, count(*) AS n_inter
           |  FROM cand c
           |  JOIN shd a ON a.doc_id = c.id_a
           |  JOIN shd b ON b.doc_id = c.id_b AND b.h = a.h
           |  GROUP BY c.id_a, c.id_b)
           |SELECT id_a, id_b,
           |  n_inter / (sa.n + sb.n - n_inter) AS jaccard
           |FROM inter
           |JOIN sz sa ON sa.doc_id = id_a
           |JOIN sz sb ON sb.doc_id = id_b
           |WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // --------------------------------- LSH candidates, edit-distance verify
    // Same banded-LSH candidate generation as q_sim_lsh_neardup, but the
    // verification metric is LEVENSHTEIN distance — the fuzzy-dedup
    // variant used when near-dups are edits (typos, template fills,
    // boilerplate patches) rather than shingle-set overlap. Thresholding
    // is pure integer arithmetic (lev*5 <= max(len) == lev <= 0.2*max),
    // and the O(len^2) DP runs only on CANDIDATE pairs — the LSH stage
    // bounds the quadratic work exactly as it does for Jaccard. Both
    // engines implement classic unit-cost Levenshtein, so the verify is
    // exact (edit_sim's one int/int division is a single IEEE op).
    Q("q_sim_lsh_editdist",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // uniq feeds three consumers (shingling + both text joins);
        // cached so the dedup window runs once, as the materialized
        // exact-dedup stage would at scale (Verify/Bench clearCache
        // between queries). spreadById (r16, Finding 3): see
        // q_sim_lsh_neardup — the minhash groupBy absorbs the exchange
        val uniq = Similarity.spreadById(
          Dedup.exactByContent(docs, "text", "doc_id"), "doc_id").cache()
        val hs = Similarity.hashedShingles(
          Similarity.charShingles(uniq, "doc_id", "text", 5), "doc_id")
        val sig = Similarity.minhashFromHashes(hs, "doc_id", K)
        // bands cache DROPPED in r16: candidatePairs' grouped-pairs
        // form consumes bands exactly ONCE, so the r15 cache (which
        // existed because the old sizing+self-join form read it three
        // times) would only add a storage round-trip
        val bands = Similarity.lshBands(sig, "doc_id", K, R)
        val cand = Similarity.candidatePairs(bands, "doc_id", maxBucket = 20)
        val t = uniq.select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("len"))
        cand
          .join(t.select(col("doc_id").as("id_a"), col("text").as("__ta"),
            col("len").as("__la")), Seq("id_a"))
          .join(t.select(col("doc_id").as("id_b"), col("text").as("__tb"),
            col("len").as("__lb")), Seq("id_b"))
          // length difference lower-bounds edit distance, so this
          // integer precheck discards ~2/3 of candidates before any
          // O(len^2) DP runs (semantically redundant with the lev
          // threshold below — pure pruning)
          .filter(abs(col("__la") - col("__lb")) * 5
            <= greatest(col("__la"), col("__lb")))
          // the surviving pair frame is only a few MB, so AQE's
          // byte-based coalescing would collapse it into ONE task and
          // serialize all the DP work there (measured 30 s -> the DP is
          // CPU-bound, not byte-bound); spread pairs explicitly before
          // the expensive verify
          .repartition(64, col("id_a"), col("id_b"))
          .withColumn("lev",
            levenshtein(col("__ta"), col("__tb")).cast("long"))
          // aggregate barrier on the SAME keys the repartition used
          // (no extra shuffle): the threshold filter can't be pushed
          // below an aggregate output, so the O(len^2) levenshtein is
          // evaluated exactly ONCE per pair instead of once in the
          // filter and again in the projection
          .groupBy(col("id_a"), col("id_b"))
          .agg(min(col("lev")).as("lev"), min(col("__la")).as("__la"),
            min(col("__lb")).as("__lb"))
          .filter(col("lev") * 5 <= greatest(col("__la"), col("__lb")))
          .select(col("id_a"), col("id_b"), col("lev"),
            (lit(1.0) - col("lev").cast("double") /
              greatest(col("__la"), col("__lb")).cast("double"))
              .as("edit_sim"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val bandValSql = (0 until K / R).map { b =>
          val bv = (0 until R).map(r => s"CAST(mh${b * R + r} AS VARCHAR)")
            .mkString(" || ':' || ")
          s"WHEN $b THEN $bv"
        }.mkString(" ")
        s"""WITH uniq AS (
           |  SELECT doc_id, text FROM (
           |    SELECT doc_id, text, row_number() OVER (
           |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |    FROM documents) WHERE rn = 1),
           |sh AS (
           |  SELECT doc_id, substr(text, CAST(i AS INT), 5) AS shingle
           |  FROM uniq, unnest(range(1, greatest(length(text)-3, 1))) t(i)),
           |hh AS ($baseHashSql),
           |sig AS (
           |  SELECT doc_id,
           |  $sigSelectSql
           |  FROM hh GROUP BY doc_id),
           |bands AS (
           |  SELECT doc_id, CAST(bb.band AS INT) AS band,
           |         CASE CAST(bb.band AS INT) $bandValSql END AS bv
           |  FROM sig, (SELECT unnest(range(${K / R})) AS band) bb),
           |ok AS (SELECT band, bv FROM bands GROUP BY band, bv
           |       HAVING count(*) <= 20),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a
           |  JOIN ok USING (band, bv)
           |  JOIN bands b USING (band, bv)
           |  WHERE a.doc_id < b.doc_id),
           |t AS (SELECT doc_id, text,
           |        CAST(length(text) AS BIGINT) AS len FROM uniq)
           |SELECT c.id_a, c.id_b,
           |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
           |  CAST(1 AS DOUBLE) - CAST(levenshtein(a.text, b.text) AS DOUBLE)
           |    / CAST(greatest(a.len, b.len) AS DOUBLE) AS edit_sim
           |FROM cand c
           |JOIN t a ON a.doc_id = c.id_a
           |JOIN t b ON b.doc_id = c.id_b
           |WHERE CAST(levenshtein(a.text, b.text) AS BIGINT) * 5
           |  <= greatest(a.len, b.len)
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // ------------------------------------ incremental LSH near-dup probe
    // The NEAR-dup sibling of q_sim_incremental_dedup's exact-digest CDC
    // path: a new batch lands against a historical corpus whose MinHash
    // band buckets are a persisted, write-once index. The batch is
    // shingled/signed/banded (O(batch) work — history is never
    // re-shingled), its bands probe the index's buckets
    // (Similarity.candidatePairsAcross, history-bucket cap 20), and the
    // surviving (new, hist) candidates verify by exact Jaccard over
    // shingle digests. The batch holds genuinely new docs (>= 400) plus
    // 30 re-keyed LIGHTLY-EDITED history docs (" revised edition"
    // appended) — edits defeat the exact-digest path but land in the
    // same buckets, so the probe must catch them (long docs stay above
    // the 0.8 Jaccard bar; short ones dilute below it identically in
    // both engines). Re-keying is +1000000 — OUTSIDE every sf's real id
    // domain: a collision (the +2000 convention collides with real docs
    // at sf0.1) would merge two documents' shingles under one id in the
    // per-id signature aggregation and silently dilute the edit pairs
    // below the Jaccard bar on BOTH engines.
    Q("q_sim_lsh_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val edited = docs.filter(col("doc_id") < 30)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(col("text"), lit(" revised edition")).as("text"))
        val all = Similarity.spreadById(
          docs.select(col("doc_id"), col("text")).unionByName(edited),
          "doc_id") // r16, Finding 3: see q_sim_lsh_neardup
        // Signatures are per-doc independent, so this REPLAY query runs
        // one shared shingle/sig/band pipeline over history ∪ batch and
        // splits the band rows by id afterward (ids are disjoint: hist
        // < 400, batch >= 400) — in production the history side of the
        // probe join below is read from the persisted index artifact,
        // not recomputed (candidatePairsAcross's contract).
        val hs = Similarity.hashedShingles(
          Similarity.charShingles(all, "doc_id", "text", 5), "doc_id")
          .cache()
        val bands = Similarity.lshBands(
          Similarity.minhashFromHashes(hs, "doc_id", K), "doc_id", K, R)
          .cache()
        val cand = Similarity.candidatePairsAcross(
          bands.filter(col("doc_id") >= 400),
          bands.filter(col("doc_id") < 400), "doc_id", maxBucket = 20)
        Similarity.jaccardForPairsHashed(cand, hs, "doc_id")
          .filter(col("jaccard") >= 0.8)
          .select(col("id_a").as("id_new"), col("id_b").as("id_hist"),
            col("jaccard"))
          .orderBy(col("id_new"), col("id_hist"))
      },
      Some {
        val bandValSql = (0 until K / R).map { b =>
          val bv = (0 until R).map(r => s"CAST(mh${b * R + r} AS VARCHAR)")
            .mkString(" || ':' || ")
          s"WHEN $b THEN $bv"
        }.mkString(" ")
        s"""WITH all_docs AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000, text || ' revised edition'
           |  FROM documents WHERE doc_id < 30),
           |sh AS (
           |  SELECT doc_id, substr(text, CAST(i AS INT), 5) AS shingle
           |  FROM all_docs,
           |       unnest(range(1, greatest(length(text)-3, 1))) t(i)),
           |hh AS ($baseHashSql),
           |sig AS (
           |  SELECT doc_id,
           |  $sigSelectSql
           |  FROM hh GROUP BY doc_id),
           |bands AS (
           |  SELECT doc_id, CAST(bb.band AS INT) AS band,
           |         CASE CAST(bb.band AS INT) $bandValSql END AS bv
           |  FROM sig, (SELECT unnest(range(${K / R})) AS band) bb),
           |hb AS (SELECT * FROM bands WHERE doc_id < 400),
           |pb AS (SELECT * FROM bands WHERE doc_id >= 400),
           |ok AS (SELECT band, bv FROM hb GROUP BY band, bv
           |       HAVING count(*) <= 20),
           |cand AS (
           |  SELECT DISTINCT p.doc_id AS id_a, h.doc_id AS id_b
           |  FROM pb p
           |  JOIN ok USING (band, bv)
           |  JOIN hb h USING (band, bv)),
           |shd AS (SELECT DISTINCT doc_id, h FROM hh),
           |sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
           |inter AS (
           |  SELECT c.id_a, c.id_b, count(*) AS n_inter
           |  FROM cand c
           |  JOIN shd a ON a.doc_id = c.id_a
           |  JOIN shd b ON b.doc_id = c.id_b AND b.h = a.h
           |  GROUP BY c.id_a, c.id_b)
           |SELECT id_a AS id_new, id_b AS id_hist,
           |  n_inter / (sa.n + sb.n - n_inter) AS jaccard
           |FROM inter
           |JOIN sz sa ON sa.doc_id = id_a
           |JOIN sz sb ON sb.doc_id = id_b
           |WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
           |ORDER BY id_new, id_hist""".stripMargin
      }),

    // -------------- incremental LSH probe SERVED from the lake index
    // The production shape q_sim_lsh_incremental's scaladoc promises
    // but its replay form cannot measure (it re-hashes history ∪ batch
    // every run — corpus-linear, 11.4× at the sf1 decade): here the
    // HISTORY side exists only as persisted lake artifacts — band
    // buckets, distinct shingle digests, and per-doc set sizes, all
    // by-products of the one-time index build (the q_text_bm25_lake
    // convention) — and the registered probe shingles ONLY the 30-doc
    // batch. candidatePairsAcross equi-joins the batch's bands against
    // the persisted buckets (history bucket cap 20), and
    // jaccardForPairsServed verifies with no corpus-wide distinct or
    // size aggregation: history contributes a digest-lake scan, the
    // batch broadcasts. History here is ALL of `documents` (not the
    // <400 split — the index serves the whole corpus); the oracle
    // replays the same semantics from scratch, so a hash match proves
    // the served path equals the recompute-everything path.
    Q("q_sim_lsh_incremental_lake",
      (s, d) => {
        // force: THIS query's registered cost is build+probe (its
        // scaladoc contract and the r11-r12 bench history); the probe
        // sibling below is the build-excluded number
        buildLshLake(s, d, force = true)
        lshLakeProbe(s, d)
      },
      Some(lshIncrementalLakeOracleSql)),

    // --------------------- lake-served LSH: the PROBE LEG in isolation
    // q_sim_lsh_incremental_lake necessarily times build+probe together
    // (its oracle replays the build, so the registered query performs
    // it). This sibling is the MEASURED serving claim (r12 verdict
    // task 5): [[buildLshLake]] is idempotent per (JVM, sfDir) and the
    // bench orders queries by name, so ..._lake has already built the
    // index by the time this runs — every timed run here is
    // shingle-the-batch → equi-join the persisted buckets → verify
    // against the digest lake, the O(batch + index scan) contract.
    // Standalone runs (a filtered Verify) still self-build, so
    // correctness is order-independent. SAME oracle string — a hash
    // match proves the served leg equals the recompute-everything
    // semantics on its own.
    Q("q_sim_lsh_incremental_lake_probe",
      (s, d) => {
        buildLshLake(s, d)
        lshLakeProbe(s, d)
      },
      Some(lshIncrementalLakeOracleSql)),

    // -------------------------------------------- duplicate CLUSTERS
    // Pairwise near-dup pairs upgraded to components: min-label
    // propagation over the verified LSH pairs (operators/Components)
    // gives every clustered doc its cluster id (= min doc_id — the
    // canonical survivor). The oracle computes the same components via
    // a DuckDB RECURSIVE CTE — an independent algorithm (transitive
    // reachability) confirming the propagation's fixpoint.
    Q("q_sim_dup_clusters",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // spreadById (r16, Finding 3): see q_sim_lsh_neardup
        val uniq = Similarity.spreadById(
          Dedup.exactByContent(docs, "text", "doc_id"), "doc_id")
        val hs = Similarity.hashedShingles(
          Similarity.charShingles(uniq, "doc_id", "text", 5), "doc_id")
          .cache()
        val sig = Similarity.minhashFromHashes(hs, "doc_id", K)
        val bands = Similarity.lshBands(sig, "doc_id", K, R)
        val cand = Similarity.candidatePairs(bands, "doc_id", maxBucket = 20)
        val pairs = Similarity.jaccardForPairsHashed(cand, hs, "doc_id")
          .filter(col("jaccard") >= 0.8)
          .select(col("id_a"), col("id_b"))
        graft.operators.Components
          .connectedComponents(pairs, "id_a", "id_b")
          .orderBy(col("id"))
      },
      Some(s"""$dupClusterCtesSql
           |SELECT id, min(lbl) AS component FROM reach
           |GROUP BY id ORDER BY id""".stripMargin)),

    // ------------------------------ canonical document per dup cluster
    // The step that CLOSES the near-dup story: detect (LSH) -> verify
    // (Jaccard) -> cluster (connected components) -> and here, pick
    // each cluster's canonical survivor (longest text, ties to the
    // lowest id — the usual keep-the-most-complete-copy rule) and map
    // every member to it. The argmax is the skew-safe max_by aggregate;
    // everything upstream is the proven q_sim_dup_clusters pipeline.
    Q("q_sim_dup_canonical",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // spreadById (r16, Finding 3): see q_sim_lsh_neardup
        val uniq = Similarity.spreadById(
          Dedup.exactByContent(docs, "text", "doc_id"), "doc_id")
        val hs = Similarity.hashedShingles(
          Similarity.charShingles(uniq, "doc_id", "text", 5), "doc_id")
          .cache()
        val sig = Similarity.minhashFromHashes(hs, "doc_id", K)
        val bands = Similarity.lshBands(sig, "doc_id", K, R)
        val cand = Similarity.candidatePairs(bands, "doc_id", maxBucket = 20)
        val pairs = Similarity.jaccardForPairsHashed(cand, hs, "doc_id")
          .filter(col("jaccard") >= 0.8)
          .select(col("id_a"), col("id_b"))
        val comp = graft.operators.Components
          .connectedComponents(pairs, "id_a", "id_b")
        val cl = comp.join(docs.select(col("doc_id").as("id"),
          col("n_chars")), Seq("id"))
        val canon = cl.groupBy(col("component"))
          .agg(max_by(col("id"), struct(col("n_chars"), -col("id")))
            .as("canonical_id"))
        cl.join(broadcast(canon), Seq("component"))
          .select(col("id"), col("component"), col("canonical_id"),
            (col("id") === col("canonical_id")).as("is_kept"))
          .orderBy(col("id"))
      },
      Some(s"""$dupClusterCtesSql,
           |comp AS (SELECT id, min(lbl) AS component FROM reach
           |         GROUP BY id),
           |cl AS (
           |  SELECT c.id, c.component, CAST(d.n_chars AS BIGINT)
           |    AS n_chars
           |  FROM comp c JOIN documents d ON d.doc_id = c.id),
           |can AS (
           |  SELECT component, id AS canonical_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY component
           |      ORDER BY n_chars DESC, id) AS rn
           |    FROM cl) WHERE rn = 1)
           |SELECT cl.id, cl.component, can.canonical_id,
           |  cl.id = can.canonical_id AS is_kept
           |FROM cl JOIN can USING (component)
           |ORDER BY cl.id""".stripMargin)),

    // --------------------------- near-dup-cluster-safe train/eval split
    // q_split_leakage_safe splits by source; this closes the harder
    // leak: two near-duplicate documents landing on opposite sides of
    // the split (train memorizes, eval "verifies"). Every document maps
    // to a GROUP KEY — its exact-dup representative (min doc_id per
    // content digest), lifted to its near-dup component label when the
    // representative sits in an LSH cluster — and the hash split is a
    // pure function of that key, so an entire dup cluster always lands
    // on one side. Plan-wise this is the proven cluster pipeline plus
    // one digest aggregate and two key joins; the component frame is
    // tiny (only clustered docs) and broadcasts.
    Q("q_split_cluster_safe",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val rep = docs.groupBy(md5(col("text")).as("__dig"))
          .agg(min(col("doc_id")).as("rep"))
        val withRep = docs.select(col("doc_id"), md5(col("text"))
            .as("__dig"))
          .join(rep, Seq("__dig"))
        // spreadById (r16, Finding 3): see q_sim_lsh_neardup
        val uniq = Similarity.spreadById(
          Dedup.exactByContent(docs, "text", "doc_id"), "doc_id")
        val hs = Similarity.hashedShingles(
          Similarity.charShingles(uniq, "doc_id", "text", 5), "doc_id")
          .cache()
        val sig = Similarity.minhashFromHashes(hs, "doc_id", K)
        val bands = Similarity.lshBands(sig, "doc_id", K, R)
        val cand = Similarity.candidatePairs(bands, "doc_id",
          maxBucket = 20)
        val pairs = Similarity.jaccardForPairsHashed(cand, hs, "doc_id")
          .filter(col("jaccard") >= 0.8)
          .select(col("id_a"), col("id_b"))
        val comp = graft.operators.Components
          .connectedComponents(pairs, "id_a", "id_b")
          .withColumnRenamed("id", "rep")
        withRep.join(broadcast(comp), Seq("rep"), "left")
          .withColumn("group_key",
            coalesce(col("component"), col("rep")))
          .select(col("doc_id"), col("group_key"),
            when(HashFns.md5Long(col("group_key").cast("string"),
                seed = 7) % 100 < 90, lit("train"))
              .otherwise(lit("eval")).as("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$dupClusterCtesSql,
           |comp AS (SELECT id, min(lbl) AS component FROM reach
           |         GROUP BY id),
           |rep AS (SELECT md5(text) AS dig, min(doc_id) AS rep
           |        FROM documents GROUP BY 1),
           |m AS (SELECT d.doc_id, r.rep FROM documents d
           |      JOIN rep r ON md5(d.text) = r.dig),
           |g AS (SELECT m.doc_id,
           |        coalesce(c.component, m.rep) AS group_key
           |      FROM m LEFT JOIN comp c ON c.id = m.rep)
           |SELECT doc_id, group_key,
           |  CASE WHEN ${HashFns.md5LongSql(
                  "CAST(group_key AS VARCHAR)", 7)} % 100 < 90
           |    THEN 'train' ELSE 'eval' END AS split
           |FROM g ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------ LSH hot-bucket report
    // The observability half of candidatePairs' maxBucket cap: every
    // bucket the near-dup join DROPS (size > 20) is reported with its
    // size and a sorted id sample, so capped template/boilerplate
    // content is visible and routed to a template pass instead of
    // silently skipped. Same shuffle key as the candidate join.
    //
    // BENCH NOTE (r3 0.49 s -> r4+ ~2.5 s at sf0.1): NOT a plan
    // regression. Until r3 the bench never cleared caches between
    // queries, so this query silently reused the hashedShingles/bands
    // frames q_sim_lsh_neardup had cached moments earlier; r4's
    // clear-between-queries fix makes each measurement self-contained.
    // Measured isolated at sf0.1 (r7): q_sim_minhash_signature alone
    // is ~2.4 s, this query ~2.9 s — i.e. ~2.5 s is the shared
    // shingle->minhash->bands pipeline and only ~0.5 s is the report's
    // own single window+groupBy pass. In a production run the report
    // SHOULD share the near-dup job's bands frame (one pipeline, two
    // sinks) and cost only that marginal pass; as a standalone
    // correctness query it honestly pays for its own inputs.
    Q("q_sim_lsh_bucket_report",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // spreadById (r16, Finding 3): see q_sim_lsh_neardup — here it
        // parallelizes the shingle+md5 leg and the minhash groupBy
        // absorbs the exchange
        val uniq = Similarity.spreadById(
          Dedup.exactByContent(docs, "text", "doc_id"), "doc_id")
        val sh = Similarity.charShingles(uniq, "doc_id", "text", 5)
        val sig = Similarity.minhashSignature(sh, "doc_id", K)
        val bands = Similarity.lshBands(sig, "doc_id", K, R)
        Similarity.hotBuckets(bands, "doc_id", maxBucket = 20)
          .orderBy(col("band"), col("band_value"))
      },
      Some {
        val bandValSql = (0 until K / R).map { b =>
          val bv = (0 until R).map(r => s"CAST(mh${b * R + r} AS VARCHAR)")
            .mkString(" || ':' || ")
          s"WHEN $b THEN $bv"
        }.mkString(" ")
        s"""WITH uniq AS (
           |  SELECT doc_id, text FROM (
           |    SELECT doc_id, text, row_number() OVER (
           |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |    FROM documents) WHERE rn = 1),
           |sh AS (
           |  SELECT doc_id, substr(text, CAST(i AS INT), 5) AS shingle
           |  FROM uniq, unnest(range(1, greatest(length(text)-3, 1))) t(i)),
           |hh AS ($baseHashSql),
           |sig AS (
           |  SELECT doc_id,
           |  $sigSelectSql
           |  FROM hh GROUP BY doc_id),
           |bands AS (
           |  SELECT doc_id, CAST(bb.band AS INT) AS band,
           |         CASE CAST(bb.band AS INT) $bandValSql END AS band_value
           |  FROM sig, (SELECT unnest(range(${K / R})) AS band) bb)
           |SELECT band, band_value, count(*) AS size,
           |  array_to_string(list_sort(list(doc_id))[1:5], ',')
           |    AS sample_ids
           |FROM bands GROUP BY band, band_value
           |HAVING count(*) > 20
           |ORDER BY band, band_value""".stripMargin
      }),

    // ------------------------------------- label centroids + outliers
    // Embedding-space curation: per-label centroids, then each label's
    // least-central members — the mislabel/contamination candidates a
    // curation pass reviews. Distributed shape: posexplode →
    // groupBy(label, dim) partial-agg mean (state O(labels × dims),
    // never a vector buffer), centroids re-assembled and BROADCAST to
    // score every vector map-side; one window per label ranks the
    // bottom 5. Cross-engine exactness: each centroid component is
    // 6-decimal-stabilized (row-order float summation wobbles ~1e-13
    // between engines), after which both engines dot IDENTICAL arrays
    // in index order (DotF | list_transform), so the cosines
    // hash-match with no further rounding.
    Q("q_sim_label_centroids",
      (s, d) => {
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        val e = Tables.embeddings(s, d)
        val cent = e.select(col("label"), posexplode(col("embedding")))
          .groupBy(col("label"), col("pos"))
          .agg(avg(col("col").cast("double")).as("__c0"))
          .select(col("label"), col("pos"), stab6(col("__c0")).as("__c"))
        val carr = cent.groupBy(col("label"))
          .agg(array_sort(collect_list(struct(col("pos"), col("__c"))))
            .as("__cl"))
          .select(col("label"),
            transform(col("__cl"), x => x.getField("__c")).as("__centroid"))
        val w = Window.partitionBy(col("label"))
          .orderBy(col("cos_c"), col("vec_id"))
        e.join(broadcast(carr), Seq("label"))
          .select(col("label"), col("vec_id"),
            Similarity.cosine(col("embedding"), col("__centroid"))
              .as("cos_c"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("label"), col("rk"), col("vec_id"), col("cos_c"))
          .orderBy(col("label"), col("rk"))
      },
      Some(s"""WITH ex AS (
              |  SELECT label, CAST(u.i - 1 AS BIGINT) AS pos,
              |         CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) AS x
              |  FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
              |cent AS (
              |  SELECT label, pos,
              |    ${graft.functions.Stabilize.stabSql("avg(x)", 6)} AS c
              |  FROM ex GROUP BY label, pos),
              |carr AS (
              |  SELECT label, list(c ORDER BY pos) AS centroid
              |  FROM cent GROUP BY label),
              |sc AS (
              |  SELECT e.label, vec_id,
              |    ${cosSql("e.embedding", "centroid")} AS cos_c
              |  FROM embeddings e JOIN carr USING (label)),
              |r AS (SELECT *, row_number() OVER (
              |        PARTITION BY label ORDER BY cos_c, vec_id) AS rk
              |      FROM sc)
              |SELECT label, rk, vec_id, cos_c FROM r WHERE rk <= 5
              |ORDER BY label, rk""".stripMargin)),

    // -------------------------------------------- brute-force cosine top-k
    // The correctness baseline for ANN: 10 query vectors scored against
    // the full corpus. At scale the candidate side is bucketed (next
    // query); this one stays the oracle for recall measurement.
    Q("q_sim_cosine_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = e.select(col("vec_id").as("nid"), col("embedding").as("ce"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos_sim").desc, col("nid"))
        q.crossJoin(c).filter(col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"),
            Similarity.cosine(col("qe"), col("ce")).as("cos_sim"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("qid"), col("rk"), col("nid"), col("cos_sim"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""WITH q AS (
              |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
              |  WHERE vec_id < 10),
              |s AS (
              |  SELECT qid, e.vec_id AS nid,
              |    ${cosSql("qe", "e.embedding")} AS cos_sim
              |  FROM q, embeddings e WHERE e.vec_id <> qid),
              |r AS (SELECT *, row_number() OVER (
              |        PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rk
              |      FROM s)
              |SELECT qid, rk, nid, cos_sim FROM r WHERE rk <= 5
              |ORDER BY qid, rk""".stripMargin)),

    // --------------------------------------------- sign-bit LSH ANN top-k
    // Scale path: candidates restricted to the query's sign-bit bucket
    // (8 bits over the first dimensions — a random-projection LSH family
    // for cosine). The bucket join replaces the cross join; at 100 TB
    // use more bits + multi-probe for recall.
    Q("q_sim_ann_signbit",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .withColumn("bucket", Similarity.signBitBucket(col("embedding"), 8))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
                  col("bucket"))
        val c = e.select(col("vec_id").as("nid"), col("embedding").as("ce"),
                         col("bucket"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos_sim").desc, col("nid"))
        q.join(c, Seq("bucket")).filter(col("qid") =!= col("nid"))
          .select(col("qid"), col("bucket"), col("nid"),
            Similarity.cosine(col("qe"), col("ce")).as("cos_sim"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("bucket"), col("rk"), col("nid"))
          .orderBy(col("qid"), col("rk"))
      },
      Some {
        val bucketSql = (0 until 8).map(i =>
          s"CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END")
          .mkString("CAST(", " + ", " AS BIGINT)")
        s"""WITH b AS (
           |  SELECT vec_id, embedding, $bucketSql AS bucket
           |  FROM embeddings),
           |q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM b
           |      WHERE vec_id < 10),
           |s AS (
           |  SELECT qid, q.bucket, c.vec_id AS nid,
           |    ${cosSql("qe", "c.embedding")} AS cos_sim
           |  FROM q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> qid),
           |r AS (SELECT *, row_number() OVER (
           |        PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rk
           |      FROM s)
           |SELECT qid, bucket, rk, nid FROM r WHERE rk <= 3
           |ORDER BY qid, rk""".stripMargin
      }),

    // --------------------------------------------- embedding near-dup pairs
    // Cosine near-dup pairs via multi-probe sign-bit LSH. THE BUCKET
    // WIDTH SCALES WITH THE CORPUS (Similarity.adaptiveSignBits): bits =
    // ceil(log2(n/32)) clamped to [4,24], so expected bucket size stays
    // ~32 and the candidate stage stays LINEAR in n — a fixed width is
    // O(n²/2^bits), quadratic at every scale-up (r2 verdict: fixed 4
    // bits already cost 46 s at sf0.1). Probe side explodes bucket +
    // every 1-bit flip, EQUI-join on the other side's exact bucket
    // (hamming <= 1 as a hash join, never an all-pairs predicate), exact
    // cosine verification on candidates only. Probing is a recall/cost
    // knob: hamming <= 1 probing costs bits+1 rows per vector; recall
    // rises toward 1 as the threshold approaches true-duplicate range,
    // where sign patterns agree.
    Q("q_sim_embedding_neardup",
      (s, d) => {
        val base = Tables.embeddings(s, d)
        // two-phase by design: the corpus count picks the LSH width
        // (parquet row-count read, no data scan)
        val bits = Similarity.adaptiveSignBits(base.count())
        // norms precomputed ONCE per vector — computing them inside the
        // pair-wise cosine would redo two 64-element aggregations per
        // CANDIDATE (millions) instead of per vector (thousands)
        val e = base
          .withColumn("bucket",
            Similarity.signBitBucket(col("embedding"), bits))
          .withColumn("nrm", Similarity.norm(col("embedding")))
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
            col("nrm").as("na"),
            explode(Similarity.multiProbeBuckets(col("bucket"), bits))
              .as("bucket"))
        val b = e.select(col("bucket"), col("vec_id").as("id_b"),
          col("embedding").as("eb"), col("nrm").as("nb"))
        // no distinct: probe values within a vector are pairwise distinct
        // and the other side joins its ONE exact bucket, so each pair can
        // match at most once (a distinct here would shuffle every
        // candidate pair a second time for nothing)
        a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            (Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
              .as("cos_sim"))
          .filter(col("cos_sim") >= 0.45)
          .orderBy(col("id_a"), col("id_b"))
      },
      // The oracle derives the SAME width from count(*) — integer binary
      // length, see adaptiveSignBits scaladoc for why not float log2.
      Some(s"""WITH p AS (
              |  SELECT LEAST(24, GREATEST(4,
              |    length(bin((count(*) + 31) // 32 - 1)))) AS bits
              |  FROM embeddings),
              |b AS (
              |  SELECT vec_id, embedding,
              |    CAST(list_sum(list_transform(range(p.bits), i ->
              |      CASE WHEN embedding[CAST(i AS INT) + 1] >= 0
              |           THEN 1 << i ELSE 0 END)) AS BIGINT) AS bk,
              |    ${normSql("embedding")} AS nrm
              |  FROM embeddings, p),
              |probes AS (
              |  SELECT vec_id AS id_a, embedding AS ea, nrm AS na,
              |    unnest(list_prepend(bk, list_transform(range(p.bits),
              |      i -> xor(bk, 1 << i)))) AS bucket
              |  FROM b, p)
              |SELECT id_a, id_b, cos_sim FROM (
              |  SELECT p.id_a, c.vec_id AS id_b,
              |    ${dotSql("p.ea", "c.embedding")} / (p.na * c.nrm) AS cos_sim
              |  FROM probes p JOIN b c ON p.bucket = c.bk AND p.id_a < c.vec_id)
              |WHERE cos_sim >= 0.45
              |ORDER BY id_a, id_b""".stripMargin)),

    // ----------------------------------------------- quantized ANN scan
    // int8 scan + exact re-rank: the corpus is scanned in max-abs
    // quantized form (1 byte/dim — 4x less bandwidth than float32,
    // which is what brute-force scans pay for at scale); the top-8
    // quantized candidates per query are re-ranked by exact cosine and
    // the top-3 kept. Output is integer-only (ids/ranks) so the
    // cross-engine compare is exact by construction.
    Q("q_sim_ann_quantized",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .withColumn("scale", Similarity.quantScale(col("embedding")))
          .withColumn("qv", Similarity.quantize(col("embedding"), col("scale")))
          .withColumn("nrm", Similarity.norm(col("embedding")))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("qv").as("qqv"), col("scale").as("qs"), col("nrm").as("qn"))
        val c = e.select(col("vec_id").as("nid"), col("embedding").as("ce"),
          col("qv").as("cqv"), col("scale").as("cs"), col("nrm").as("cn"))
        val coarse = Windows.topKPerGroup(
          q.crossJoin(c).filter(col("qid") =!= col("nid"))
            .select(col("qid"), col("qe"), col("qn"), col("nid"), col("ce"),
              col("cn"),
              (Similarity.quantDot(col("qqv"), col("cqv")).cast("double")
                / (col("qs") * col("cs"))).as("qscore")),
          Seq(col("qid")), Seq(col("qscore").desc, col("nid")), 8)
        val exact = coarse.select(col("qid"), col("nid"),
          (Similarity.dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
            .as("cos_sim"))
        Windows.topKPerGroup(exact, Seq(col("qid")),
            Seq(col("cos_sim").desc, col("nid")), 3)
          .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
            .orderBy(col("cos_sim").desc, col("nid"))))
          .select(col("qid"), col("rk"), col("nid"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""WITH e AS (
              |  SELECT vec_id, embedding,
              |    127.0 / list_max(list_transform(embedding,
              |      x -> abs(CAST(x AS DOUBLE)))) AS scale,
              |    ${normSql("embedding")} AS nrm
              |  FROM embeddings),
              |qz AS (
              |  SELECT vec_id, embedding, scale, nrm,
              |    list_transform(embedding,
              |      x -> CAST(round(CAST(x AS DOUBLE) * scale, 0) AS BIGINT))
              |      AS qv
              |  FROM e),
              |q AS (SELECT vec_id AS qid, embedding AS qe, qv AS qqv,
              |             scale AS qs, nrm AS qn
              |      FROM qz WHERE vec_id < 10),
              |coarse AS (
              |  SELECT * FROM (
              |    SELECT q.qid, q.qe, q.qn, c.vec_id AS nid,
              |      c.embedding AS ce, c.nrm AS cn,
              |      row_number() OVER (PARTITION BY q.qid ORDER BY
              |        list_sum(list_transform(list_zip(q.qqv, c.qv),
              |          x -> x[1] * x[2])) / (q.qs * c.scale) DESC,
              |        c.vec_id) AS qrk
              |    FROM q, qz c WHERE c.vec_id <> q.qid)
              |  WHERE qrk <= 8)
              |SELECT qid, rk, nid FROM (
              |  SELECT qid, nid, row_number() OVER (
              |    PARTITION BY qid ORDER BY
              |      ${dotSql("qe", "ce")} / (qn * cn) DESC, nid) AS rk
              |  FROM coarse)
              |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin)),

    // ------------------------------------------------------- IVF ANN
    // Inverted-file ANN: vectors partition into cells by nearest
    // centroid; a query probes its nProbe nearest cells and scores only
    // those cells' members. Centroids are COMPUTED, not just seeded: the
    // first 8 vectors seed one deterministic Lloyd iteration (assign all
    // to nearest seed, recompute per-cell per-dimension means), so cell
    // balance reflects the data while both engines replay bit-identically
    // — the recomputed means are 6-decimal half-even stabilized to
    // collapse cross-engine summation-order noise. Every step is a
    // broadcast join against the (tiny) centroid set or an equi-join on
    // cell id — corpus² never exists. At 100 TB the same shape holds:
    // k-means∥ on a sample picks seeds, a few Lloyd passes are each one
    // broadcast join + one (cell, dim) aggregation.
    Q("q_sim_ann_ivf",
      (s, d) => {
        val (e, queries) = annInputs(s, d)
        // index construction + search factored into operators/Ivf so
        // SimilaritySpec's recall curve measures the SAME index; 8
        // seeds and nProbe=2 pinned here because the oracle replays
        // them (production sizing: Similarity.adaptiveSeedCount)
        val cents = Ivf.lloydCentroids(e, nSeeds = 8)
        Ivf.search(queries, cents, Ivf.assign(e, cents), nProbe = 2, k = 3)
      },
      Some(ivfOracleSql())),

    // --------------------------------- IVF served from partitioned lake
    // The SERVING half of the IVF story: the index (cell, member
    // vector) persists as parquet PARTITIONED BY cell, and a query
    // batch reads ONLY its probed cells — at 100 TB the ANN scan cost
    // is nProbe/nCells of the corpus, enforced by the storage layout
    // itself (partition pruning), not by a runtime join. The probed
    // cell set is known after the broadcast centroid scoring and is
    // tiny (<= nSeeds), so collecting it to the driver to push a
    // static IN filter into the scan is the documented one-row-per-
    // bucket exception (cf. Windows bucket-carry); PlanSpec pins that
    // the served scan's partition filter actually prunes. Same answer
    // as q_sim_ann_ivf (shared oracle) — only the physical plan
    // differs.
    Q("q_sim_ann_ivf_lake",
      (s, d) => {
        val (e, queries) = annInputs(s, d)
        val cents = Ivf.lloydCentroids(e, nSeeds = 8)
        val dir = java.nio.file.Files
          .createTempDirectory("graft_ivf_lake").toString
        Ivf.assign(e, cents).write.mode("overwrite")
          .partitionBy("cell").parquet(dir)
        val cells = Ivf.probe(queries, cents, nProbe = 2)
          .select(col("cell")).distinct().collect().map(_.getLong(0))
        val served = s.read.parquet(dir)
          .filter(col("cell").isin(cells: _*))
          .select(col("cell").cast("long").as("cell"), col("nid"),
            col("ce"), col("cenrm"))
        Ivf.search(queries, cents, served, nProbe = 2, k = 3)
      },
      Some(ivfOracleSql())),

    // -------------------------------------------- product quantization
    // PQ-ADC ANN with exact refinement (operators/Pq, Jégou et al.
    // 2011; the FAISS IVFPQ two-stage shape): 16 subspaces × 4 dims,
    // 16-entry codebook each (one seeded Lloyd round, 6-dec-stabilized
    // centroids, ties to lowest cid — the Ivf determinism contract),
    // every vector → 16 codes; queries rank the WHOLE corpus by
    // table-lookup ADC sums folded in subspace order (so both engines
    // add identical doubles identically), keep the top 50, and an
    // exact dot re-ranks only those candidates to the final top 3 —
    // quantization decides what is looked at, full precision decides
    // the answer (recall@3 0.97 vs 0.50 ADC-only, SimilaritySpec).
    // The DuckDB oracle replays training, encoding, ADC, and re-rank
    // end-to-end. At 100 TB compose with IVF: cells prune the scan,
    // codes compress it, the refinement join touches ~50 floats/query.
    Q("q_sim_ann_pq",
      (s, d) => {
        // plain scan: see annInputs for the measured spread
        val e = Tables.embeddings(s, d)
        val books = Pq.codebooks(e, "vec_id", "embedding",
          m = 16, dim = 64, k = 16)
        val codes = Pq.encode(e, "vec_id", "embedding", books,
          m = 16, dim = 64)
        val queries = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        val cands = Pq.searchAdc(queries, "vec_id", "embedding", books,
          codes, m = 16, dim = 64, k = 50)
        Pq.rerankExact(cands, queries, e, "vec_id", "vec_id",
          "embedding", k = 3)
      },
      Some(s"""WITH ${pqCodebookCtes("TRUE")},
              |qsub AS (
              |  SELECT vec_id AS qid, sub, svec FROM sv
              |  WHERE vec_id >= 10 AND vec_id < 20),
              |tab AS (
              |  SELECT q.qid, q.sub, b.cid AS code,
              |    ${dotSql("q.svec", "b.cvec")} AS part
              |  FROM qsub q JOIN books b USING (sub)),
              |sc AS (
              |  SELECT t.qid, c.vec_id AS id,
              |    list_sum(list(t.part ORDER BY t.sub)) AS adc
              |  FROM codes c JOIN tab t ON c.sub = t.sub AND c.code = t.code
              |  WHERE t.qid <> c.vec_id
              |  GROUP BY t.qid, c.vec_id),
              |cand AS (
              |  SELECT qid, id AS nid FROM (
              |    SELECT qid, id, row_number() OVER (
              |      PARTITION BY qid ORDER BY adc DESC, id) AS rk
              |    FROM sc) WHERE rk <= 50),
              |ex AS (
              |  SELECT cand.qid, cand.nid,
              |    ${dotSql(
                     "list_transform(q.embedding, x -> CAST(x AS DOUBLE))",
                     "list_transform(c.embedding, x -> CAST(x AS DOUBLE))")}
              |      AS dp
              |  FROM cand
              |  JOIN embeddings q ON q.vec_id = cand.qid
              |  JOIN embeddings c ON c.vec_id = cand.nid)
              |SELECT qid, rk, nid FROM (
              |  SELECT qid, nid, row_number() OVER (
              |    PARTITION BY qid ORDER BY dp DESC, nid) AS rk
              |  FROM ex)
              |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin)),

    // ------------------------------------------------ IVFPQ composition
    // FAISS's workhorse index assembled from this library's two
    // certified parts (Pq.searchIvfPq): IVF cells prune to nProbe=2 of
    // 8 cells, PQ codes (16 subspaces × 16-entry books) rank the
    // probed cells' members by ADC, and an exact cosine re-rank of the
    // ADC top-20 decides the top-3. The oracle replays BOTH index
    // constructions and the three-stage search end-to-end — the
    // composition claim in the scaladocs is hash-checked, not asserted.
    Q("q_sim_ann_ivfpq",
      (s, d) => {
        val (e, queries) = annInputs(s, d)
        val cents = Ivf.lloydCentroids(e, nSeeds = 8)
        val assigned = Ivf.assign(e, cents)
        val books = Pq.codebooks(e, "vec_id", "embedding",
          m = 16, dim = 64, k = 16)
        val codes = Pq.encode(e, "vec_id", "embedding", books,
          m = 16, dim = 64)
        Pq.searchIvfPq(queries, cents, assigned, books, codes,
          m = 16, dim = 64, nProbe = 2, candN = 20, k = 3)
      },
      Some(ivfpqOracleSql())),

    // ----------------------------------- incremental IVF maintenance
    // The one index lifecycle the ANN family was missing (BM25, bloom,
    // HLL, count-min, and phash all maintain incrementally): at 100 TB
    // you append vectors to FROZEN trained centroids daily — re-training
    // is a rare, drift-gated REBUILD, never part of ingest. Centroids
    // train on the BASE corpus (vec_id < 250) and freeze; the base
    // index lands cell-partitioned in the lake; the new batch
    // (vec_id >= 250) APPENDS via Ivf.appendToLake — history files are
    // untouched, only the batch's cells gain files, and serve-time
    // partition pruning is unchanged. The oracle replays the
    // frozen-centroid FULL REBUILD (train on base, assign the whole
    // corpus), so hash equality proves append == rebuild bit-exactly —
    // the q_text_bm25_incremental convention, now for ANN.
    Q("q_sim_ann_ivf_incremental",
      (s, d) => {
        val (e, queries) = annInputs(s, d)
        val base = e.filter(col("vec_id") < 250)
        val batch = e.filter(col("vec_id") >= 250)
        val cents = Ivf.lloydCentroids(base, nSeeds = 8)
        val dir = java.nio.file.Files
          .createTempDirectory("graft_ivf_incr").toString
        Ivf.assign(base, cents).write.mode("overwrite")
          .partitionBy("cell").parquet(dir)
        Ivf.appendToLake(batch, cents, dir)
        val merged = s.read.parquet(dir)
          .select(col("cell").cast("long").as("cell"), col("nid"),
            col("ce"), col("cenrm"))
        Ivf.search(queries, cents, merged, nProbe = 2, k = 3)
      },
      Some(ivfOracleSql("vec_id < 250"))),

    // -------------------------------- incremental IVFPQ maintenance
    // The composed index under the same frozen-artifact contract: PQ
    // codebooks ALSO train on the base and freeze, the batch's codes
    // append next to its cell assignments (codes are per-vector
    // deterministic given frozen books, so append == re-encode), and
    // the three-stage search runs over the merged artifacts. The
    // oracle replays the rebuild with both trainings base-restricted.
    Q("q_sim_ann_ivfpq_incremental",
      (s, d) => {
        val (e, queries) = annInputs(s, d)
        val base = e.filter(col("vec_id") < 250)
        val batch = e.filter(col("vec_id") >= 250)
        val cents = Ivf.lloydCentroids(base, nSeeds = 8)
        val books = Pq.codebooks(base, "vec_id", "embedding",
          m = 16, dim = 64, k = 16)
        val root = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_incr").toString
        Ivf.assign(base, cents).write.mode("overwrite")
          .partitionBy("cell").parquet(s"$root/cells")
        Ivf.appendToLake(batch, cents, s"$root/cells")
        Pq.encode(base, "vec_id", "embedding", books, m = 16, dim = 64)
          .write.mode("overwrite").parquet(s"$root/codes")
        Pq.encode(batch, "vec_id", "embedding", books, m = 16, dim = 64)
          .write.mode("append").parquet(s"$root/codes")
        val assigned = s.read.parquet(s"$root/cells")
          .select(col("cell").cast("long").as("cell"), col("nid"),
            col("ce"), col("cenrm"))
        val codes = s.read.parquet(s"$root/codes")
        Pq.searchIvfPq(queries, cents, assigned, books, codes,
          m = 16, dim = 64, nProbe = 2, candN = 20, k = 3)
      },
      Some(ivfpqOracleSql("vec_id < 250"))),

    // ----------------------------------------------------- simhash dedup
    // 16-bit SimHash from word tokens; near-dup candidates = docs whose
    // simhashes collide on one of 4 four-bit bands, verified by hamming
    // distance <= 3. Map + one groupBy to sign, band bucket-join for
    // pairs — the same no-all-pairs shape as MinHash-LSH, but signature
    // cost is one hash per TOKEN (vs per char-shingle).
    Q("q_sim_simhash_neardup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // spreadById (r16, Finding 3): see q_sim_lsh_neardup — the
        // simhash token-vote groupBy(doc_id) absorbs the exchange
        val uniq = Similarity.spreadById(
          Dedup.exactByContent(docs, "text", "doc_id"), "doc_id")
        val toks = uniq.select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("token"))
        // one small row per doc, three consumers (banding explode +
        // both hamming-verify sides) — cached so the token-vote
        // aggregate runs once; eviction by LRU/harness-clearCache
        // (the lazy-result cache contract)
        val shash = Similarity.simHash(toks, "doc_id", "token", 16).cache()
        val bandStructs = (0 until 4).map(b => struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 4).bitwiseAND(lit(15L)).as("band_value")))
        val bands = shash
          .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
          .select(col("doc_id"), col("bb.band").as("band"),
            col("bb.band_value").as("band_value"))
        val cand = Similarity.candidatePairs(bands, "doc_id", maxBucket = 50)
        val ha = shash.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
        val hb = shash.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
        cand.join(ha, Seq("id_a")).join(hb, Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long")
              .as("hamming"))
          .filter(col("hamming") <= 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val votes = (0 until 16).map(i =>
          s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
          .mkString(",\n    ")
        val assemble = (0 until 16).map(i =>
          s"CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
        s"""WITH uniq AS (
           |  SELECT doc_id, text FROM (
           |    SELECT doc_id, text, row_number() OVER (
           |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |    FROM documents) WHERE rn = 1),
           |tok AS (
           |  SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS token
           |  FROM uniq),
           |hh AS (SELECT doc_id, ${HashFns.md5LongSql("token")} AS h FROM tok),
           |votes AS (
           |  SELECT doc_id,
           |    $votes
           |  FROM hh GROUP BY doc_id),
           |shash AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash
           |          FROM votes),
           |bands AS (
           |  SELECT doc_id, CAST(bb.band AS INT) AS band,
           |         (simhash >> (CAST(bb.band AS INT) * 4)) & 15 AS bv
           |  FROM shash, (SELECT unnest(range(4)) AS band) bb),
           |ok AS (SELECT band, bv FROM bands GROUP BY band, bv
           |       HAVING count(*) <= 50),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN ok USING (band, bv)
           |  JOIN bands b USING (band, bv)
           |  WHERE a.doc_id < b.doc_id)
           |SELECT id_a, id_b,
           |  CAST(bit_count(xor(ha.simhash, hb.simhash)) AS BIGINT) AS hamming
           |FROM cand
           |JOIN shash ha ON ha.doc_id = id_a
           |JOIN shash hb ON hb.doc_id = id_b
           |WHERE bit_count(xor(ha.simhash, hb.simhash)) <= 3
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // ------------------------------------------------ corpus clean (capstone)
    // The end-to-end training-corpus cleaning pipeline: quality gate
    // (minimum word count) -> exact dedup (keep lowest id per content)
    // -> MinHash-LSH near-dup detection -> greedy prune (drop the
    // higher id of every verified pair — single pass, deterministic;
    // full transitive clustering would need iterative label
    // propagation). Output: the surviving corpus. Every stage is the
    // already-oracled operator, composed.
    Q("q_corpus_clean",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .filter(TextFns.wordCount(col("text")) >= 5)
        // spreadById (r16, Finding 3): see q_sim_lsh_neardup
        val uniq = Similarity.spreadById(
          Dedup.exactByContent(docs, "text", "doc_id"), "doc_id")
        // hashed once, cached: signature and exact-Jaccard verification
        // both consume the (id, h) frame
        val hs = Similarity.hashedShingles(
          Similarity.charShingles(uniq, "doc_id", "text", 5), "doc_id")
          .cache()
        val sig = Similarity.minhashFromHashes(hs, "doc_id", K)
        val bands = Similarity.lshBands(sig, "doc_id", K, R)
        val cand = Similarity.candidatePairs(bands, "doc_id", maxBucket = 20)
        val nearDups = Similarity.jaccardForPairsHashed(cand, hs, "doc_id")
          .filter(col("jaccard") >= 0.8)
          .select(col("id_b").as("doc_id")).distinct()
        uniq.join(nearDups, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some {
        val bandValSql = (0 until K / R).map { b =>
          val bv = (0 until R).map(r => s"CAST(mh${b * R + r} AS VARCHAR)")
            .mkString(" || ':' || ")
          s"WHEN $b THEN $bv"
        }.mkString(" ")
        s"""WITH q AS (
           |  SELECT doc_id, text, n_chars FROM documents
           |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 5),
           |uniq AS (
           |  SELECT doc_id, text, n_chars FROM (
           |    SELECT doc_id, text, n_chars, row_number() OVER (
           |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |    FROM q) WHERE rn = 1),
           |sh AS (
           |  SELECT doc_id, substr(text, CAST(i AS INT), 5) AS shingle
           |  FROM uniq, unnest(range(1, greatest(length(text)-3, 1))) t(i)),
           |hh AS ($baseHashSql),
           |sig AS (
           |  SELECT doc_id,
           |  $sigSelectSql
           |  FROM hh GROUP BY doc_id),
           |bands AS (
           |  SELECT doc_id, CAST(bb.band AS INT) AS band,
           |         CASE CAST(bb.band AS INT) $bandValSql END AS bv
           |  FROM sig, (SELECT unnest(range(${K / R})) AS band) bb),
           |ok AS (SELECT band, bv FROM bands GROUP BY band, bv
           |       HAVING count(*) <= 20),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN ok USING (band, bv)
           |  JOIN bands b USING (band, bv)
           |  WHERE a.doc_id < b.doc_id),
           |shd AS (SELECT DISTINCT doc_id, h FROM hh),
           |sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
           |inter AS (
           |  SELECT c.id_a, c.id_b, count(*) AS n_inter
           |  FROM cand c
           |  JOIN shd a ON a.doc_id = c.id_a
           |  JOIN shd b ON b.doc_id = c.id_b AND b.h = a.h
           |  GROUP BY c.id_a, c.id_b),
           |dropped AS (
           |  SELECT DISTINCT id_b AS doc_id FROM inter
           |  JOIN sz sa ON sa.doc_id = id_a
           |  JOIN sz sb ON sb.doc_id = id_b
           |  WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8)
           |SELECT doc_id, n_chars FROM uniq
           |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------ word-ngram jaccard
    // Token-3-gram Jaccard near-dup: inverted-index candidate join on
    // shared RARE ngrams (document frequency <= 20 — frequent ngrams are
    // boilerplate and would re-create the quadratic join), then exact
    // set-Jaccard for the candidates only.
    Q("q_sim_ngram_jaccard",
      (s, d) => {
        // Tables.spread: parallelizes the md5-digest dedup window's
        // map side and the tokenize leg (measured 5.36 -> 4.17 s)
        val docs = Tables.spread(s, d, "documents")
        // spreadById (r16, Finding 3): the dedup window re-partitions
        // by content digest, so without this the (doc_id, ngram)
        // distinct re-shuffles the EXPLODED ngram strings; spread the
        // narrow doc rows instead and the distinct absorbs it
        val uniq = Similarity.spreadById(
          Dedup.exactByContent(docs, "text", "doc_id"), "doc_id")
        val toked = uniq.select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks"))
        // cached: consumed three times (df counts, candidate join sides,
        // exact-Jaccard verification)
        val ngrams = Similarity.wordNgrams(toked, "doc_id", "toks", 3)
          .distinct().cache()
        val rare = ngrams.groupBy(col("ngram"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") <= 20)
          .select(col("ngram"))
        // positional filter: candidates must share >= 2 rare ngrams —
        // one shared ngram admits far too many weak pairs into the
        // (expensive) exact-Jaccard verification at corpus scale
        val rareNg = ngrams.join(rare, Seq("ngram"))
        val cand = rareNg.select(col("ngram"), col("doc_id").as("id_a"))
          .join(rareNg.select(col("ngram"), col("doc_id").as("id_b")),
            Seq("ngram"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("__shared"))
          .filter(col("__shared") >= 2)
          .select(col("id_a"), col("id_b"))
        Similarity.jaccardForPairs(cand, ngrams.withColumnRenamed("ngram",
            "shingle"), "doc_id")
          .filter(col("jaccard") >= 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH uniq AS (
             |  SELECT doc_id, text FROM (
             |    SELECT doc_id, text, row_number() OVER (
             |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |    FROM documents) WHERE rn = 1),
             |t AS (
             |  SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
             |  FROM uniq),
             |ng AS (
             |  SELECT DISTINCT doc_id,
             |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1] ||
             |      ' ' || toks[CAST(i AS INT)+2] AS ngram
             |  FROM t, unnest(range(1, greatest(len(toks)-1, 1))) u(i)
             |  WHERE len(toks) >= 3),
             |rare AS (SELECT ngram FROM ng GROUP BY ngram
             |         HAVING count(*) <= 20),
             |cand AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM ng a JOIN rare USING (ngram) JOIN ng b USING (ngram)
             |  WHERE a.doc_id < b.doc_id
             |  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2),
             |hng AS (SELECT DISTINCT doc_id,
             |          ${HashFns.md5LongSql("ngram")} AS h
             |        FROM ng),
             |sz AS (SELECT doc_id, count(*) AS n FROM hng GROUP BY doc_id),
             |inter AS (
             |  SELECT c.id_a, c.id_b, count(*) AS n_inter
             |  FROM cand c
             |  JOIN hng a ON a.doc_id = c.id_a
             |  JOIN hng b ON b.doc_id = c.id_b AND b.h = a.h
             |  GROUP BY c.id_a, c.id_b)
             |SELECT id_a, id_b,
             |  n_inter / (sa.n + sb.n - n_inter) AS jaccard
             |FROM inter
             |JOIN sz sa ON sa.doc_id = id_a
             |JOIN sz sb ON sb.doc_id = id_b
             |WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.5
             |ORDER BY id_a, id_b""".stripMargin)),

    // ----------------------------------------------------- semantic dedup
    // SemDeDup (Abbas et al. 2023): cluster the embedding corpus
    // (k-means, same deterministic seeded-Lloyd construction as
    // q_sim_ann_ivf), compare pairs WITHIN a cluster only, and for every
    // pair above the similarity threshold drop the member with the
    // HIGHER similarity to its centroid (the paper's keep-rule: retain
    // the cluster's less-typical example; ties drop the higher id).
    // Scale shape: pair generation is a self-join on the cell id, so
    // cost is Σ cellSize². The seed count k = max(8, ⌈√n⌉) GROWS WITH
    // THE CORPUS (Similarity.adaptiveSeedCount — a fixed k would leave
    // Θ(n²/k), still quadratic): with ~√n balanced cells the pair work
    // is n^1.5 and each cell's join side is ~√n rows. The one
    // driver-side count() buys the corpus size before the plan is
    // built, the same pattern q_sim_embedding_neardup uses for its
    // sign-bit width. Output flags every vector so the kept/dropped
    // decision is fully pinned. n^1.5 makes this the LABELED FAITHFUL
    // BASELINE (sf10 measured 29.5× for 10× data, as the exponent
    // predicts); q_sim_semdedup_lsh below is the linear scale twin.
    Q("q_sim_semdedup",
      (s, d) => {
        val k = Similarity.adaptiveSeedCount(Tables.embeddings(s, d).count())
        val (e, _) = annInputs(s, d)
        val cents = Ivf.lloydCentroids(e, nSeeds = k)
        val scored = e.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"),
            (Similarity.dot(col("embedding"), col("cvec"))
              / (col("nrm") * col("cnrm"))).as("csim"))
        val assign = Dedup.keepFirst(scored, Seq("vec_id"),
            Seq(col("csim").desc, col("cid")))
          .select(col("cid").as("cell"), col("vec_id"), col("embedding"),
            col("nrm"), col("csim"))
        val a = assign.select(col("cell"), col("vec_id").as("id_a"),
          col("embedding").as("ea"), col("nrm").as("na"),
          col("csim").as("ca"))
        val b = assign.select(col("cell"), col("vec_id").as("id_b"),
          col("embedding").as("eb"), col("nrm").as("nb"),
          col("csim").as("cb"))
        val dropped = a.join(b, Seq("cell"))
          .filter(col("id_a") < col("id_b"))
          .filter((Similarity.dot(col("ea"), col("eb"))
            / (col("na") * col("nb"))) >= 0.45)
          .select(when(col("ca") > col("cb"), col("id_a"))
            .otherwise(col("id_b")).as("vec_id"))
          .distinct()
        assign
          .join(dropped.withColumn("__dropped", lit(1L)), Seq("vec_id"),
            "left")
          .select(col("vec_id"), col("cell"),
            col("__dropped").isNull.cast("int").cast("long").as("is_kept"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH ${ivfCentroidCtes(adaptiveSeedPredSql, "TRUE")},
              |assign AS (
              |  SELECT cid AS cell, vec_id, embedding, nrm, csim
              |  FROM (SELECT *, row_number() OVER (
              |          PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
              |        FROM scored) WHERE rn = 1),
              |dropped AS (
              |  SELECT DISTINCT CASE WHEN a.csim > b.csim THEN a.vec_id
              |                       ELSE b.vec_id END AS vec_id
              |  FROM assign a JOIN assign b
              |    ON a.cell = b.cell AND a.vec_id < b.vec_id
              |  WHERE ${dotSql("a.embedding", "b.embedding")}
              |          / (a.nrm * b.nrm) >= 0.45)
              |SELECT a.vec_id, a.cell,
              |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END
              |    AS BIGINT) AS is_kept
              |FROM assign a LEFT JOIN dropped d USING (vec_id)
              |ORDER BY a.vec_id""".stripMargin)),

    // ------------------------------------ semantic dedup, linear twin
    // The sf10 sweep measured q_sim_semdedup at 29.5× for 10× data —
    // exactly the n^1.5 its √n-cell contract predicts (both the n×k
    // assignment scan and the Σ cellSize² pair stage are n^1.5 when
    // k = √n). This twin replaces the k-means cells with adaptive
    // sign-bit LSH cells (Similarity.adaptiveSignBits: expected cell
    // size ~32 at ANY corpus size), which makes every stage linear:
    // assignment is a hash of the sign pattern (no centroid scan at
    // all), the cell centroid is the members' coordinate mean (one
    // groupBy), and within-cell pairs are Σ cell² ≈ 32n. Same
    // SemDeDup keep-rule as the baseline (drop the member MORE similar
    // to its centroid; ties drop the higher id). Random-projection
    // cells are a coarser partition than k-means cells — near-dups
    // whose sign patterns straddle a cell boundary are missed, the
    // recall trade every `_lsh` twin makes — so q_sim_semdedup stays
    // the labeled faithful baseline and this is the plan you'd run at
    // 100 TB. Skewed cells (embedding dims far from centered) are
    // observable via Similarity.hotBuckets, the same routing report
    // the minhash family uses.
    Q("q_sim_semdedup_lsh",
      (s, d) => {
        val base = Tables.embeddings(s, d)
        val bits = Similarity.adaptiveSignBits(base.count())
        val e = base
          .withColumn("cell",
            Similarity.signBitBucket(col("embedding"), bits))
          .withColumn("nrm", Similarity.norm(col("embedding")))
        val cents = e
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("cell"), col("pos"))
          .agg((bround(avg(col("v").cast("double")) * lit(1e6)) / lit(1e6))
            .as("cv"))
          .groupBy(col("cell"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("cv")))),
            x => x.getField("cv")).as("cvec"))
          .select(col("cell"), col("cvec"),
            Similarity.norm(col("cvec")).as("cnrm"))
        val assign = e.join(cents, Seq("cell"))
          .select(col("cell"), col("vec_id"), col("embedding"), col("nrm"),
            (Similarity.dot(col("embedding"), col("cvec"))
              / (col("nrm") * col("cnrm"))).as("csim"))
        val a = assign.select(col("cell"), col("vec_id").as("id_a"),
          col("embedding").as("ea"), col("nrm").as("na"),
          col("csim").as("ca"))
        val b = assign.select(col("cell"), col("vec_id").as("id_b"),
          col("embedding").as("eb"), col("nrm").as("nb"),
          col("csim").as("cb"))
        val dropped = a.join(b, Seq("cell"))
          .filter(col("id_a") < col("id_b"))
          .filter((Similarity.dot(col("ea"), col("eb"))
            / (col("na") * col("nb"))) >= 0.45)
          .select(when(col("ca") > col("cb"), col("id_a"))
            .otherwise(col("id_b")).as("vec_id"))
          .distinct()
        assign
          .join(dropped.withColumn("__dropped", lit(1L)), Seq("vec_id"),
            "left")
          .select(col("vec_id"), col("cell"),
            col("__dropped").isNull.cast("int").cast("long").as("is_kept"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH p AS (
              |  SELECT LEAST(24, GREATEST(4,
              |    length(bin((count(*) + 31) // 32 - 1)))) AS bits
              |  FROM embeddings),
              |e AS (
              |  SELECT vec_id, embedding,
              |    CAST(list_sum(list_transform(range(p.bits), i ->
              |      CASE WHEN embedding[CAST(i AS INT) + 1] >= 0
              |           THEN 1 << i ELSE 0 END)) AS BIGINT) AS cell,
              |    ${normSql("embedding")} AS nrm
              |  FROM embeddings, p),
              |dims AS (
              |  SELECT cell, CAST(i AS INT) AS i,
              |    round_even(avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE))
              |      * 1000000.0, 0) / 1000000.0 AS cv
              |  FROM e, unnest(range(1, len(embedding) + 1)) t(i)
              |  GROUP BY cell, i),
              |cents0 AS (
              |  SELECT cell, list(cv ORDER BY i) AS cvec FROM dims
              |  GROUP BY cell),
              |cents AS (
              |  SELECT cell, cvec, ${normSql("cvec")} AS cnrm FROM cents0),
              |assign AS (
              |  SELECT e.cell, e.vec_id, e.embedding, e.nrm,
              |    ${dotSql("e.embedding", "c.cvec")} / (e.nrm * c.cnrm)
              |      AS csim
              |  FROM e JOIN cents c USING (cell)),
              |dropped AS (
              |  SELECT DISTINCT CASE WHEN a.csim > b.csim THEN a.vec_id
              |                       ELSE b.vec_id END AS vec_id
              |  FROM assign a JOIN assign b
              |    ON a.cell = b.cell AND a.vec_id < b.vec_id
              |  WHERE ${dotSql("a.embedding", "b.embedding")}
              |          / (a.nrm * b.nrm) >= 0.45)
              |SELECT a.vec_id, a.cell,
              |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END
              |    AS BIGINT) AS is_kept
              |FROM assign a LEFT JOIN dropped d USING (vec_id)
              |ORDER BY a.vec_id""".stripMargin)),

    // ------------------------- dominant principal direction (power iter)
    // Two matrix-free power iterations over the embedding matrix: the
    // top singular direction used for all-but-the-top de-biasing and
    // corpus drift monitoring. The d x d covariance never materializes
    // — each iteration is a per-row dot (map) plus a per-DIMENSION
    // aggregation (state O(d), dimensions spread across tasks). Every
    // float reduction folds in an explicit order (row dots by index,
    // dimension sums by vec_id, the norm by dimension), so the DuckDB
    // replay below is bit-identical — see Spectral.scala for the
    // ordered-fold contract and the commutative-sum relaxation at
    // production scale.
    Q("q_emb_power_iteration",
      (s, d) => graft.operators.Spectral.powerIterationLoadings(
        Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, iters = 2),
      Some("""WITH e AS (
             |  SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
             |  FROM embeddings),
             |lng AS (
             |  SELECT vec_id, CAST(u.i AS BIGINT) AS j,
             |    xd[CAST(u.i AS INT)] AS x
             |  FROM e, unnest(range(1, 65)) u(i)),
             |d1 AS (
             |  SELECT vec_id, list_sum(list_transform(xd,
             |    x -> x * CAST(0.125 AS DOUBLE))) AS d
             |  FROM e),
             |s1 AS (
             |  SELECT lng.j, list_sum(list(lng.x * d1.d
             |    ORDER BY lng.vec_id)) AS sv
             |  FROM lng JOIN d1 USING (vec_id) GROUP BY lng.j),
             |n1 AS (
             |  SELECT sqrt(list_sum(list(sv * sv ORDER BY j))) AS nrm
             |  FROM s1),
             |v1l AS (
             |  SELECT list(sv / nrm ORDER BY j) AS vl FROM s1, n1),
             |d2 AS (
             |  SELECT e.vec_id, list_sum(list_transform(
             |    list_zip(e.xd, v1l.vl),
             |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS d
             |  FROM e, v1l),
             |s2 AS (
             |  SELECT lng.j, list_sum(list(lng.x * d2.d
             |    ORDER BY lng.vec_id)) AS sv
             |  FROM lng JOIN d2 USING (vec_id) GROUP BY lng.j),
             |n2 AS (
             |  SELECT sqrt(list_sum(list(sv * sv ORDER BY j))) AS nrm
             |  FROM s2)
             |SELECT s2.j AS dim, s2.sv / n2.nrm AS loading,
             |  n2.nrm AS eig
             |FROM s2, n2 ORDER BY dim""".stripMargin)),

    // ------------------- prefix-filtered EXACT set-similarity self-join
    // The PPJoin-family prefix filter (operators/SetJoin): every pair
    // with 3-gram-shingle Jaccard >= 0.6, found WITHOUT all-pairs and
    // WITHOUT the recall gamble of LSH or the rare-ngram heuristic
    // (q_sim_lsh_neardup / q_sim_ngram_jaccard) — the prefix collision
    // is a theorem, not a probability, so the result set is exactly the
    // brute force's. The oracle IS that brute force (the same all-pairs
    // construction as q_sim_ngram_jaccard's verify stage), which makes
    // this query a machine-checked losslessness proof at sf scale on
    // top of SetJoinSpec's property test. Jaccard is an exact-integer
    // ratio — bit-identical across engines, no stabilization.
    Q("q_sim_setjoin_prefix",
      (s, d) => {
        // Tables.spread: tokenize + 3-gram explode + md5 parallelize
        // and the jaccardSelfJoin's first distinct reuses the spread's
        // doc_id partitioning (measured 3.98 -> 2.12 s)
        val toked = Tables.spread(s, d, "documents").select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks"))
        // 8-byte digests up front: prefix ranking, candidate join AND
        // verify all shuffle longs, never shingle strings (the oracle
        // mirrors the hash, q_sim_ngram_jaccard's convention)
        val hashed = hashedTrigrams(toked)
        graft.operators.SetJoin
          .jaccardSelfJoin(hashed, "doc_id", "h", 0.6)
          .orderBy(col("id_a"), col("id_b"))
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
             |hng AS (SELECT DISTINCT doc_id,
             |          ${HashFns.md5LongSql("ngram")} AS h
             |        FROM ng),
             |sz AS (SELECT doc_id, count(*) AS n FROM hng GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |         count(*) AS n_inter
             |  FROM hng a JOIN hng b ON b.h = a.h
             |    AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  n_inter / (sa.n + sb.n - n_inter) AS jaccard
             |FROM inter
             |JOIN sz sa ON sa.doc_id = id_a
             |JOIN sz sb ON sb.doc_id = id_b
             |WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.6
             |ORDER BY id_a, id_b""".stripMargin)),

    // --------------------------- directional containment (quote) join
    // SetJoin.containmentSelfJoin at t = 0.9 over the same hashed
    // 3-gram shingle sets: |A∩B|/|A| — the subset/quote detector that
    // Jaccard misses (small doc inside big doc). Lossless asymmetric
    // prefix filter (contained side's rarest elements vs the full
    // corpus), |B| >= ⌈t·|A|⌉ length filter, exact-ratio verify. The
    // oracle is the all-pairs brute force on the mirrored hashes.
    Q("q_sim_containment",
      (s, d) => {
        val toked = Tables.documents(s, d).select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks"))
        val hashed = hashedTrigrams(toked)
        graft.operators.SetJoin
          .containmentSelfJoin(hashed, "doc_id", "h", 0.9)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(containmentExactOracleSql)),

    // ----------------- containment scale twin: banded index probe
    // SetJoin.containmentBanded — the scale path for the quote join on
    // closed-vocabulary corpora, where the exact join's candidate
    // GENERATION (Σ_e prefix-df·df) measured 51×/decade at sf1
    // (SCALING.md round 11). MinHash band buckets are the index;
    // probing is an equi-join; candidate volume is capped by
    // construction (b·n·maxBucket) regardless of vocabulary growth;
    // every emitted pair is verified by the exact integer ratio.
    // The oracle is THE SAME all-pairs brute force as
    // q_sim_containment — this twin must reproduce the exact answer,
    // which it does because contained pairs at t=0.9 carry
    // J ≥ 0.9/(ρ+0.1) and this corpus's quote pairs are size-similar
    // (ρ ≤ ~1.1 ⇒ J ≥ 0.81; the per-pair miss probability at 24
    // r=2 bands is ≤ 4e-12 — see the operator's coverage contract
    // for the ρ-envelope this exactness rides on).
    Q("q_sim_containment_indexed",
      (s, d) => containmentIndexed(s, d).orderBy(col("id_a"), col("id_b")),
      Some(containmentExactOracleSql)),

    // ------- containment twin with an sf10-REPLAYABLE exact oracle
    // Identical plan to q_sim_containment_indexed with one final
    // deterministic probe subsample on the CONTAINED side
    // (id_a % 97 == 0, OR id_a < 50 so the row is populated at the
    // sf0.01 driver gate too — 6 of its 50 truth pairs have a sub-50
    // contained doc there). The point is the ORACLE: the full brute
    // force's Σdf² intersection join is infeasible in DuckDB at 500k
    // docs (the standing sf10 exclusion), but the A-side predicate
    // pushes into the join and bounds it to ~1/97 of that work (+ a
    // constant 50 docs), so THIS row hash-verifies the banded
    // operator against exact truth at sf10 too — closing the
    // containment family's timing-only gap at the decade where it
    // matters. The subsample is of the VERIFIED output, not of the
    // index: the banded probe still runs over the whole corpus, so
    // the plan under test is unchanged.
    Q("q_sim_containment_indexed_sampled",
      (s, d) => containmentIndexed(s, d)
        .filter(col("id_a") % 97 === 0 || col("id_a") < 50)
        .orderBy(col("id_a"), col("id_b")),
      Some(containmentExactOracleSqlOver(
        "SELECT doc_id, text FROM documents",
        " AND (a.doc_id % 97 = 0 OR a.doc_id < 50)"))),

    // -------- containment FULL-RANGE twin: stratified by overlap shape
    // SetJoin.containmentStratified — closes q_sim_containment_indexed's
    // documented coverage hole (pairs beyond the ρ ≤ ~2 size-ratio
    // envelope: a tiny quote inside a much larger document). Two
    // per-stratum candidate generators union into ONE exact verify:
    // the banded MinHash probe for size-similar pairs, and winnowed
    // (df, hash)-minimal fingerprints for the quote stratum — a
    // DETERMINISTIC guarantee for any verbatim run of ≥ 8 n-grams,
    // where per-stratum band tuning (LSH-Ensemble proper) provably
    // cannot reach hash-exactness on this corpus at feasible K (the
    // operator scaladoc carries the measured noise arithmetic). Runs
    // on the quote-AUGMENTED fixture: every 13th document with ≥ 80
    // tokens contributes a 12-token quote doc (ρ ≥ 5, containment
    // 1.0) — pairs the banded twin misses (SetJoinSpec pins that
    // miss). The oracle is the SAME exact brute force, over the same
    // fixture corpus.
    Q("q_sim_containment_stratified",
      (s, d) => {
        val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val toked0 = base.select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks"))
        val quotes = toked0
          .filter(col("doc_id") % 13 === 0 && size(col("toks")) >= 80)
          .select((col("doc_id") + lit(100000000L)).as("doc_id"),
            concat_ws(" ", slice(col("toks"), 1, 12)).as("text"))
        val corpus = base.unionByName(quotes)
        // spreadById (r16, Findings 2+3): both strata consume the
        // tokenized corpus — the spread exchange right after the cheap
        // scan+union is the SHARED materialization point every
        // re-evaluation reuses (ReusedExchange), and the per-doc
        // fingerprint window + the distinct/sizes absorb it
        val toked = Similarity.spreadById(
          corpus.select(col("doc_id"),
            TextFns.tokens(col("text")).as("toks")), "doc_id")
        val hashedSeq = Similarity
          .wordNgramsIndexed(toked, "doc_id", "toks", 3)
          .select(col("doc_id"), col("pos"),
            HashFns.md5Long(col("ngram")).as("h"))
        graft.operators.SetJoin
          .containmentStratified(hashedSeq, "doc_id", "pos", "h", 0.9)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(containmentExactOracleSqlOver(containmentFixtureCorpusSql))),

    // --------------- containment SERVED from a persisted span index
    // The production contamination-check shape: "is any document in
    // this new batch a verbatim quote of the training corpus?" served
    // at O(batch + index probe). History exists only as lake
    // artifacts — span fingerprints (every 8-n-gram window folded to
    // one 64-bit key, [[SetJoin.spanFingerprints]]) and distinct
    // 3-gram digests, both by-products of one ingest-time build
    // ([[buildSpanLake]], idempotent per JVM+dir — the warm bench
    // median is the pure serve leg, the build rides in "first").
    // Serve time: ONLY the batch (12-token openers of every 7th
    // document ≥ 40 tokens, the quote workload) is tokenized and
    // fingerprinted; candidates are an equi-join of batch span keys
    // against the persisted index (bucket cap 64); containment
    // |A∩B|/|A| is verified EXACTLY against the digest lake with the
    // denominator from the tiny batch side — no corpus-wide distinct
    // or size aggregation exists at serve time. The span guarantee
    // makes recall DETERMINISTIC for the quote workload (runs ≥ 10
    // tokens); the oracle replays exact recompute-everything brute
    // force, so the hash match proves served == exact.
    Q("q_sim_containment_lake",
      (s, d) => {
        buildSpanLake(s, d)
        val toked = Tables.documents(s, d).select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks"))
        val batch = toked
          .filter(col("doc_id") % 7 === 0 && size(col("toks")) >= 40)
          .select((col("doc_id") + lit(200000000L)).as("doc_id"),
            concat_ws(" ", slice(col("toks"), 1, 12)).as("text"))
        val bSeq = Similarity.wordNgramsIndexed(
            batch.select(col("doc_id"),
              TextFns.tokens(col("text")).as("toks")),
            "doc_id", "toks", 3)
          .select(col("doc_id"), col("pos"),
            HashFns.md5Long(col("ngram")).as("h"))
          .cache()
        val bFps = graft.operators.SetJoin
          .spanFingerprints(bSeq, "doc_id", "pos", "h", winnowW = 8)
        val idx = s.table("span_fp_index")
        val idxOk = {
          val sizes = idx.groupBy(col("fp")).agg(count(lit(1)).as("__fn"))
            .filter(col("__fn") <= 64).drop("__fn")
          idx.join(sizes, Seq("fp"))
        }
        val cand = bFps.select(col("fp"), col("doc_id").as("id_new"))
          .join(idxOk.select(col("fp"), col("doc_id").as("id_hist")),
            Seq("fp"))
          .select(col("id_new"), col("id_hist")).distinct()
        val bh = bSeq.select(col("doc_id"), col("h")).distinct()
        val bsz = bh.groupBy(col("doc_id")).agg(count(lit(1)).as("__n"))
        cand
          .join(bh.select(col("doc_id").as("id_new"), col("h")),
            Seq("id_new"))
          .join(s.table("span_digests")
            .select(col("doc_id").as("id_hist"), col("h")),
            Seq("id_hist", "h"))
          .groupBy(col("id_new"), col("id_hist"))
          .agg(count(lit(1)).as("n_inter"))
          .join(bsz.select(col("doc_id").as("id_new"), col("__n")),
            Seq("id_new"))
          .select(col("id_new"), col("id_hist"), col("n_inter"),
            (col("n_inter") / col("__n")).as("containment"))
          .filter(col("containment") >= 0.9)
          .orderBy(col("id_new"), col("id_hist"))
      },
      Some(containmentLakeOracleSql)),

    // --------------------------------- prefix hot-element report
    // The closed-vocabulary early warning for the exact set joins
    // (SetJoin cost contract, SCALING.md round 11): every reported
    // element contributes prefix_df² candidate pairs to
    // q_sim_setjoin_prefix's join, so a fattening tail here is the
    // routing signal toward the banded probabilistic twins BEFORE the
    // quadratic join is attempted. Same element hashing and prefix
    // rule as the join itself; the oracle replays rank, prefix, and
    // report exactly.
    Q("q_sim_prefix_hot_report",
      (s, d) => {
        val toked = Tables.documents(s, d).select(col("doc_id"),
          TextFns.tokens(col("text")).as("toks"))
        val hashed = hashedTrigrams(toked)
        graft.operators.SetJoin
          .prefixHotElements(hashed, "doc_id", "h", 0.6, maxDf = 2)
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
             |hng AS (SELECT DISTINCT doc_id,
             |          ${HashFns.md5LongSql("ngram")} AS h
             |        FROM ng),
             |sz AS (SELECT doc_id, count(*) AS n FROM hng GROUP BY doc_id),
             |dfreq AS (SELECT h, count(*) AS df FROM hng GROUP BY h),
             |ranked AS (
             |  SELECT hng.doc_id, hng.h, sz.n, dfreq.df,
             |    row_number() OVER (PARTITION BY hng.doc_id
             |      ORDER BY dfreq.df, hng.h) AS pos
             |  FROM hng JOIN sz USING (doc_id) JOIN dfreq USING (h)),
             |pref AS (
             |  SELECT doc_id, h, df FROM ranked
             |  WHERE pos <= n - ceil(0.6 * n) + 1)
             |SELECT h, count(*) AS prefix_df, df AS global_df
             |FROM pref GROUP BY h, df HAVING count(*) > 2
             |ORDER BY prefix_df DESC, h""".stripMargin)),

    // ------------------------- simplified silhouette (cluster quality)
    // Cluster-validation score for the label partition of the
    // embedding space: per vector, a = distance to the OWN label's
    // centroid, b = distance to the nearest OTHER centroid, s =
    // (b−a)/max(a,b) ∈ [−1,1] — negative s flags probable mislabels,
    // the per-corpus mean is the standard clustering-quality gauge.
    // This is the centroid ("simplified") silhouette: the classic
    // all-pairs form is O(n²); the centroid decomposition is O(n·k)
    // with the k centroids BROADCAST, so the corpus is scored
    // map-side in one pass (one tiny window per vector's k rows picks
    // the nearest foreign centroid with a deterministic tie-break).
    // Cross-engine exactness: centroid components are 6-decimal
    // stabilized (the label_centroids discipline), after which both
    // engines fold IDENTICAL arrays in index order — every later op
    // is a single correctly-rounded IEEE step, so rows hash-match
    // with no further rounding.
    Q("q_emb_silhouette",
      (s, d) => {
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        val e = Tables.embeddings(s, d)
        val cent = e.select(col("label"), posexplode(col("embedding")))
          .groupBy(col("label"), col("pos"))
          .agg(avg(col("col").cast("double")).as("__c0"))
          .select(col("label"), col("pos"), stab6(col("__c0")).as("__c"))
        val carr = cent.groupBy(col("label"))
          .agg(array_sort(collect_list(struct(col("pos"), col("__c"))))
            .as("__cl"))
          .select(col("label").as("clabel"),
            transform(col("__cl"), x => x.getField("__c")).as("__centroid"))
        val dist = sqrt(greatest(
          Similarity.dot(col("embedding"), col("embedding"))
            - lit(2) * Similarity.dot(col("embedding"), col("__centroid"))
            + Similarity.dot(col("__centroid"), col("__centroid")),
          lit(0.0)))
        val pairs = e.crossJoin(broadcast(carr))
          .select(col("vec_id"), col("label"), col("clabel"),
            dist.as("dd"))
        val a = pairs.filter(col("clabel") === col("label"))
          .select(col("vec_id"), col("label"), col("dd").as("a_dist"))
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("dd"), col("clabel"))
        val b = pairs.filter(col("clabel") =!= col("label"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("vec_id"), col("clabel").as("b_label"),
            col("dd").as("b_dist"))
        a.join(b, Seq("vec_id"))
          .select(col("vec_id"), col("label"), col("a_dist"),
            col("b_label"), col("b_dist"),
            when(greatest(col("a_dist"), col("b_dist")) > 0,
              (col("b_dist") - col("a_dist"))
                / greatest(col("a_dist"), col("b_dist")))
              .otherwise(lit(0.0)).as("silhouette"))
          .orderBy(col("vec_id"))
      },
      Some {
        def distSql(x: String, c: String) =
          s"sqrt(greatest(${dotSql(x, x)} - 2 * ${dotSql(x, c)}" +
            s" + ${dotSql(c, c)}, 0.0))"
        s"""WITH ex AS (
           |  SELECT label, CAST(u.i - 1 AS BIGINT) AS pos,
           |         CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) AS x
           |  FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
           |cent AS (
           |  SELECT label, pos,
           |    ${graft.functions.Stabilize.stabSql("avg(x)", 6)} AS c
           |  FROM ex GROUP BY label, pos),
           |carr AS (
           |  SELECT label AS clabel, list(c ORDER BY pos) AS centroid
           |  FROM cent GROUP BY label),
           |pairs AS (
           |  SELECT vec_id, e.label, clabel,
           |    ${distSql("e.embedding", "centroid")} AS dd
           |  FROM embeddings e, carr),
           |a AS (
           |  SELECT vec_id, label, dd AS a_dist FROM pairs
           |  WHERE clabel = label),
           |b0 AS (
           |  SELECT vec_id, clabel, dd, row_number() OVER (
           |      PARTITION BY vec_id ORDER BY dd, clabel) AS rn
           |  FROM pairs WHERE clabel <> label),
           |b AS (
           |  SELECT vec_id, clabel AS b_label, dd AS b_dist
           |  FROM b0 WHERE rn = 1)
           |SELECT vec_id, label, a_dist, b_label, b_dist,
           |  CASE WHEN greatest(a_dist, b_dist) > 0
           |    THEN (b_dist - a_dist) / greatest(a_dist, b_dist)
           |    ELSE 0.0 END AS silhouette
           |FROM a JOIN b USING (vec_id) ORDER BY vec_id""".stripMargin
      }),

    // -------------------------------- sorted-neighborhood near-dup scan
    // The record-linkage classic (Hernández & Stolfo merge/purge)
    // complementing the LSH/minhash family: sort by a discriminating
    // key — the 24-char prefix of the normalized text — and compare
    // each document only with its w=2 successors, blocked by the
    // 4-char key prefix so the window distributes
    // (operators/Similarity.sortedNeighborhood). Candidates are w·n,
    // never n²; verification is exact distinct-word-set Jaccard with
    // the integer 2·inter ≥ union gate (≥ 0.5), so no float decides
    // membership. Two hash joins attach the word sets to the O(w·n)
    // candidate pairs — the corpus itself is scanned once.
    Q("q_sim_sorted_neighborhood",
      (s, d) => {
        val keyed = Tables.documents(s, d)
          .select(col("doc_id"),
            TextFns.normalize(col("text")).as("__nk"),
            array_sort(array_distinct(TextFns.tokens(col("text"))))
              .as("__w"))
          .select(col("doc_id"),
            substring(col("__nk"), 1, 24).as("__key"),
            substring(col("__nk"), 1, 4).as("__blk"), col("__w"))
          .cache() // feeds candidate generation AND both verify joins
        val pairs = Similarity.sortedNeighborhood(
          keyed, "doc_id", "__key", "__blk", w = 2)
        val sets = keyed.select(col("doc_id"), col("__w"))
        val inter = size(array_intersect(col("__wa"), col("__wb")))
          .cast("long")
        val union = (size(col("__wa")) + size(col("__wb"))).cast("long") -
          inter
        pairs
          .join(sets.select(col("doc_id").as("a"), col("__w").as("__wa")),
            Seq("a"))
          .join(sets.select(col("doc_id").as("b"), col("__w").as("__wb")),
            Seq("b"))
          .select(col("a"), col("b"), inter.as("inter_n"),
            union.as("union_n"))
          .filter(col("inter_n") * 2 >= col("union_n"))
          .withColumn("jaccard",
            col("inter_n").cast("double") / col("union_n").cast("double"))
          .orderBy(col("a"), col("b"))
      },
      Some(s"""WITH k AS (
             |  SELECT doc_id, ${TextFns.normalizeSql("text")} AS nk,
             |    list_sort(list_distinct(${TextFns.tokensSql("text")}))
             |      AS wset
             |  FROM documents),
             |keyed AS (
             |  SELECT doc_id, substr(nk, 1, 24) AS key,
             |    substr(nk, 1, 4) AS blk, wset
             |  FROM k),
             |nb AS (
             |  SELECT doc_id,
             |    lead(doc_id, 1) OVER (PARTITION BY blk
             |      ORDER BY key, doc_id) AS l1,
             |    lead(doc_id, 2) OVER (PARTITION BY blk
             |      ORDER BY key, doc_id) AS l2
             |  FROM keyed),
             |p0 AS (
             |  SELECT doc_id AS x, l1 AS y FROM nb WHERE l1 IS NOT NULL
             |  UNION ALL
             |  SELECT doc_id, l2 FROM nb WHERE l2 IS NOT NULL),
             |pairs AS (
             |  SELECT least(x, y) AS a, greatest(x, y) AS b FROM p0),
             |j AS (
             |  SELECT p.a, p.b,
             |    CAST(len(list_filter(ka.wset,
             |      t -> list_contains(kb.wset, t))) AS BIGINT) AS inter_n,
             |    CAST(len(ka.wset) + len(kb.wset)
             |      - len(list_filter(ka.wset,
             |          t -> list_contains(kb.wset, t))) AS BIGINT)
             |      AS union_n
             |  FROM pairs p
             |  JOIN keyed ka ON ka.doc_id = p.a
             |  JOIN keyed kb ON kb.doc_id = p.b)
             |SELECT a, b, inter_n, union_n,
             |  CAST(inter_n AS DOUBLE) / CAST(union_n AS DOUBLE) AS jaccard
             |FROM j WHERE 2 * inter_n >= union_n
             |ORDER BY a, b""".stripMargin)),

    // ------------------------- centroid-classifier confusion report
    // Per-class evaluation of the nearest-label-centroid classifier
    // (the q_sim_label_centroids centroids turned into a predictor):
    // each vector is assigned the label whose stabilized mean-vector
    // centroid it is most cosine-similar to (ties → smaller label),
    // then the report gives per-class n_actual/n_predicted/tp,
    // precision/recall/F1 (sklearn zero_division=0 convention), and
    // macro-F1 folded in label order. Ratios are single divisions of
    // exact integers; F1 chains fixed IEEE ops on those — engine-exact
    // throughout. Shape: one centroid aggregate, one broadcast
    // score-and-argmax pass (a 10-label max_by, no window), then
    // O(labels²) cells.
    Q("q_eval_confusion",
      (s, d) => {
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        val e = Tables.embeddings(s, d)
        val cent = e.select(col("label"), posexplode(col("embedding")))
          .groupBy(col("label"), col("pos"))
          .agg(avg(col("col").cast("double")).as("__c0"))
          .select(col("label"), col("pos"), stab6(col("__c0")).as("__c"))
        val carr = cent.groupBy(col("label"))
          .agg(array_sort(collect_list(struct(col("pos"), col("__c"))))
            .as("__cl"))
          .select(col("label").as("clabel"),
            transform(col("__cl"), x => x.getField("__c")).as("__centroid"))
        val pred = e.crossJoin(broadcast(carr))
          .select(col("vec_id"), col("label"), col("clabel"),
            Similarity.cosine(col("embedding"), col("__centroid"))
              .as("cos_c"))
          .groupBy(col("vec_id"), col("label"))
          .agg(max_by(col("clabel"),
            struct(col("cos_c"), negate(col("clabel").cast("long"))))
            .as("predicted"))
        val cells = pred.groupBy(col("label"), col("predicted"))
          .agg(count(lit(1)).as("n")).cache()
        val act = cells.groupBy(col("label")).agg(sum(col("n")).as("n_actual"))
        val prd = cells.groupBy(col("predicted"))
          .agg(sum(col("n")).as("n_predicted"))
        val tp = cells.filter(col("label") === col("predicted"))
          .select(col("label"), col("n").as("tp"))
        val per = act
          .join(broadcast(prd), act("label") === prd("predicted"), "left")
          .join(broadcast(tp), Seq("label"), "left")
          .select(col("label"), col("n_actual"),
            coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
            coalesce(col("tp"), lit(0L)).as("tp"))
          .withColumn("precision", when(col("n_predicted") === 0, lit(0.0))
            .otherwise(col("tp").cast("double")
              / col("n_predicted").cast("double")))
          .withColumn("recall", when(col("n_actual") === 0, lit(0.0))
            .otherwise(col("tp").cast("double")
              / col("n_actual").cast("double")))
          .withColumn("f1",
            when(col("precision") + col("recall") === 0.0, lit(0.0))
              .otherwise(lit(2.0) * col("precision") * col("recall")
                / (col("precision") + col("recall"))))
        val macroF1 = per.agg((aggregate(
          transform(array_sort(collect_list(struct(col("label"),
            col("f1").as("__f")))), x => x.getField("__f")),
          lit(0.0), (a, x) => a + x)
          / count(lit(1)).cast("double")).as("macro_f1"))
        per.crossJoin(broadcast(macroF1)).orderBy(col("label"))
      },
      Some(s"""WITH ex AS (
              |  SELECT label, CAST(u.i - 1 AS BIGINT) AS pos,
              |         CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) AS x
              |  FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
              |cent AS (
              |  SELECT label, pos,
              |    ${graft.functions.Stabilize.stabSql("avg(x)", 6)} AS c
              |  FROM ex GROUP BY label, pos),
              |carr AS (
              |  SELECT label AS clabel, list(c ORDER BY pos) AS centroid
              |  FROM cent GROUP BY label),
              |sc AS (
              |  SELECT e.vec_id, e.label, clabel,
              |    ${cosSql("e.embedding", "centroid")} AS cos_c
              |  FROM embeddings e, carr),
              |pr AS (
              |  SELECT vec_id, label, clabel AS predicted FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id
              |      ORDER BY cos_c DESC, clabel) AS rk
              |    FROM sc) WHERE rk = 1),
              |cells AS (SELECT label, predicted, count(*) AS n
              |          FROM pr GROUP BY 1, 2),
              |act AS (SELECT label, CAST(sum(n) AS BIGINT) AS n_actual
              |        FROM cells GROUP BY 1),
              |prd AS (SELECT predicted,
              |          CAST(sum(n) AS BIGINT) AS n_predicted
              |        FROM cells GROUP BY 1),
              |tp AS (SELECT label, CAST(n AS BIGINT) AS tp
              |       FROM cells WHERE label = predicted),
              |per0 AS (
              |  SELECT act.label, n_actual,
              |    coalesce(n_predicted, 0) AS n_predicted,
              |    coalesce(tp, 0) AS tp
              |  FROM act
              |  LEFT JOIN prd ON prd.predicted = act.label
              |  LEFT JOIN tp USING (label)),
              |per1 AS (
              |  SELECT *,
              |    CASE WHEN n_predicted = 0 THEN 0.0
              |      ELSE CAST(tp AS DOUBLE) / CAST(n_predicted AS DOUBLE)
              |    END AS precision,
              |    CASE WHEN n_actual = 0 THEN 0.0
              |      ELSE CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE)
              |    END AS recall
              |  FROM per0),
              |per AS (
              |  SELECT *, CASE WHEN precision + recall = 0.0 THEN 0.0
              |    ELSE 2.0 * precision * recall / (precision + recall)
              |    END AS f1
              |  FROM per1),
              |mf AS (SELECT list_sum(list(f1 ORDER BY label))
              |         / CAST(count(*) AS DOUBLE) AS macro_f1
              |       FROM per)
              |SELECT label, n_actual, n_predicted, tp,
              |  precision, recall, f1, macro_f1
              |FROM per, mf ORDER BY label""".stripMargin)),

    // --------------------------------- split-conformal calibration
    // Distribution-free uncertainty for the centroid classifier:
    // nonconformity = 1 − cos(vector, own-label centroid), stabilized
    // to a 6-decimal INTEGER grid (a monotone transform, so the
    // conformal guarantee is untouched — and the bounded grid lets the
    // exact-histogram rank path find the calibration quantile without
    // a global sort). Even vec_ids calibrate, odd ones test: q̂ is the
    // ⌈(n+1)(1−α)⌉-th smallest calibration score (α=0.1, ceil in pure
    // integer arithmetic), empirical test coverage is an exact integer
    // ratio — the ≥ 90% check a model card reports. Histogram shuffle
    // is O(distinct grid values); nothing corpus-scale is sorted.
    Q("q_eval_conformal",
      (s, d) => {
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        val e = Tables.embeddings(s, d)
        val cent = e.select(col("label"), posexplode(col("embedding")))
          .groupBy(col("label"), col("pos"))
          .agg(avg(col("col").cast("double")).as("__c0"))
          .select(col("label"), col("pos"), stab6(col("__c0")).as("__c"))
        val carr = cent.groupBy(col("label"))
          .agg(array_sort(collect_list(struct(col("pos"), col("__c"))))
            .as("__cl"))
          .select(col("label"),
            transform(col("__cl"), x => x.getField("__c")).as("__centroid"))
        val scored = e.join(broadcast(carr), Seq("label"))
          .select(col("vec_id"),
            round(stab6(lit(1.0) - Similarity.cosine(col("embedding"),
              col("__centroid"))) * lit(1e6)).cast("long").as("s6"))
          .cache() // one corpus pass feeds calibration AND test
        val cal = scored.filter(col("vec_id") % 2 === 0)
        val tst = scored.filter(col("vec_id") % 2 =!= 0)
        val hist = cal.groupBy(col("s6")).agg(count(lit(1)).as("c"))
        val cum = hist.withColumn("cum", sum(col("c")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("s6"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)))
        val nCal = cal.agg(count(lit(1)).as("n_cal"))
          .withColumn("rank", expr("(9 * n_cal + 18) div 10"))
        val qhat = cum.crossJoin(broadcast(nCal))
          .filter(col("cum") >= col("rank"))
          .groupBy(col("n_cal"), col("rank"))
          .agg(min(col("s6")).as("qhat_s6"))
        tst.crossJoin(broadcast(qhat))
          .agg(first(col("n_cal")).as("n_cal"),
            first(col("rank")).as("rank"),
            first(col("qhat_s6")).as("qhat_s6"),
            count(lit(1)).as("n_test"),
            sum(when(col("s6") <= col("qhat_s6"), 1L).otherwise(0L))
              .as("n_covered"))
          .withColumn("coverage", col("n_covered").cast("double")
            / col("n_test").cast("double"))
      },
      Some(s"""WITH ex AS (
              |  SELECT label, CAST(u.i - 1 AS BIGINT) AS pos,
              |         CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) AS x
              |  FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
              |cent AS (
              |  SELECT label, pos,
              |    ${graft.functions.Stabilize.stabSql("avg(x)", 6)} AS c
              |  FROM ex GROUP BY label, pos),
              |carr AS (
              |  SELECT label, list(c ORDER BY pos) AS centroid
              |  FROM cent GROUP BY label),
              |scored AS (
              |  SELECT vec_id,
              |    CAST(round(${graft.functions.Stabilize.stabSql(
                     "1.0 - " + cosSql("e.embedding", "centroid"), 6)}
              |      * 1000000.0) AS BIGINT) AS s6
              |  FROM embeddings e JOIN carr USING (label)),
              |cal AS (SELECT s6 FROM scored WHERE vec_id % 2 = 0),
              |tst AS (SELECT s6 FROM scored WHERE vec_id % 2 <> 0),
              |h AS (SELECT s6, count(*) AS c FROM cal GROUP BY 1),
              |cum AS (
              |  SELECT s6, sum(c) OVER (ORDER BY s6 ROWS BETWEEN
              |    UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              |  FROM h),
              |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
              |         CAST((9 * count(*) + 18) // 10 AS BIGINT) AS rank
              |       FROM cal),
              |q AS (SELECT n_cal, rank, min(s6) AS qhat_s6
              |      FROM cum, nc WHERE cum >= rank GROUP BY 1, 2)
              |SELECT q.n_cal, q.rank, q.qhat_s6,
              |  CAST(count(*) AS BIGINT) AS n_test,
              |  CAST(sum(CASE WHEN s6 <= qhat_s6 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_covered,
              |  CAST(sum(CASE WHEN s6 <= qhat_s6 THEN 1 ELSE 0 END)
              |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
              |FROM tst, q
              |GROUP BY 1, 2, 3""".stripMargin)),

    // --------------------------------- MMR diversity re-ranking
    // Maximal marginal relevance (operators/Similarity.mmrRerank) as
    // the final stage of a retrieval pipeline: the distributed
    // relevance top-20 pool for query vector 0 is greedily re-ranked
    // so each pick trades relevance against similarity to what's
    // already picked (λ=0.5, an exact binary fraction). The pool is
    // the bounded artifact the upstream top-k already produced;
    // re-ranking runs in exact driver arithmetic mirroring the
    // oracle's unrolled rounds. The search-result sibling of
    // q_sample_kcenter's corpus-level diversity pick.
    Q("q_sim_mmr_rerank",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val pool = e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("embedding"),
            Similarity.cosine(col("embedding"), col("qe")).as("rel"))
          .orderBy(col("rel").desc, col("vec_id")).limit(20)
        Similarity.mmrRerank(pool, "vec_id", "embedding", "rel", k = 5)
      },
      Some {
        def round(r: Int): String = {
          val sims = (1 until r).map(i =>
            s"(SELECT sim FROM psim WHERE ca = p.vec_id " +
              s"AND cb = (SELECT vec_id FROM s$i))")
          val ms = if (sims.size == 1) sims.head
            else s"greatest(${sims.mkString(", ")})"
          val notIn = (1 until r).map(i => s"SELECT vec_id FROM s$i")
            .mkString(" UNION ALL ")
          s"""r$r AS (
             |  SELECT p.vec_id, p.rel, 0.5 * p.rel - 0.5 * $ms AS score
             |  FROM pool p WHERE p.vec_id NOT IN ($notIn)),
             |s$r AS (SELECT vec_id, rel, score FROM r$r
             |        ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
        }
        val finalSel = (2 to 5).map(r =>
          s"UNION ALL SELECT $r, vec_id, rel, score FROM s$r")
          .mkString("\n")
        s"""WITH q AS (
           |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |pool AS MATERIALIZED (
           |  SELECT e.vec_id, e.embedding,
           |    ${cosSql("e.embedding", "qe")} AS rel
           |  FROM embeddings e, q WHERE e.vec_id <> 0
           |  ORDER BY rel DESC, vec_id LIMIT 20),
           |psim AS MATERIALIZED (
           |  SELECT a.vec_id AS ca, b.vec_id AS cb,
           |    ${cosSql("a.embedding", "b.embedding")} AS sim
           |  FROM pool a, pool b WHERE a.vec_id <> b.vec_id),
           |s1 AS (SELECT vec_id, rel, rel AS score FROM pool
           |       ORDER BY rel DESC, vec_id LIMIT 1),
           |${(2 to 5).map(round).mkString(",\n")}
           |SELECT CAST(1 AS BIGINT) AS round, vec_id,
           |  rel AS relevance, score FROM s1
           |$finalSel
           |ORDER BY round""".stripMargin
      }),

    // ------------------------------- k-center diversity selection
    // Greedy farthest-point selection of 5 maximally-spread embedding
    // rows (operators/Sampling.kCenter — the coreset seed rule):
    // start at the smallest vec_id, then 4× take the point farthest
    // from everything picked. `dist` is each pick's squared distance
    // to the prior centers — the shrinking k-center coverage radius.
    // Distances fold in index order (the engine-parity dot-product
    // convention) and argmax ties break on the smaller id, so the
    // selected SET replays exactly; the oracle unrolls the 5 rounds.
    Q("q_sample_kcenter",
      (s, d) => Sampling.kCenter(
        Tables.embeddings(s, d), "vec_id", "embedding", k = 5),
      Some {
        def d2(a: String, b: String): String =
          s"""list_sum(list_transform(list_zip($a, $b),
             |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
             |        * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"""
            .stripMargin
        def pick(prev: String, c: String): String =
          s"""$c AS (
             |  SELECT vec_id, embedding, dmin FROM $prev
             |  ORDER BY dmin DESC, vec_id LIMIT 1)""".stripMargin
        def relax(prev: String, c: String, dst: String): String =
          s"""$dst AS (
             |  SELECT p.vec_id, p.embedding,
             |    least(p.dmin, ${d2("p.embedding", s"$c.embedding")})
             |      AS dmin
             |  FROM $prev p, $c)""".stripMargin
        s"""WITH c1 AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  ORDER BY vec_id LIMIT 1),
           |d1 AS (
           |  SELECT e.vec_id, e.embedding,
           |    ${d2("e.embedding", "c1.embedding")} AS dmin
           |  FROM embeddings e, c1),
           |${pick("d1", "c2")},
           |${relax("d1", "c2", "d2")},
           |${pick("d2", "c3")},
           |${relax("d2", "c3", "d3")},
           |${pick("d3", "c4")},
           |${relax("d3", "c4", "d4")},
           |${pick("d4", "c5")}
           |SELECT CAST(1 AS BIGINT) AS round, vec_id AS center_id,
           |  0.0 AS dist FROM c1
           |UNION ALL SELECT 2, vec_id, dmin FROM c2
           |UNION ALL SELECT 3, vec_id, dmin FROM c3
           |UNION ALL SELECT 4, vec_id, dmin FROM c4
           |UNION ALL SELECT 5, vec_id, dmin FROM c5
           |ORDER BY round""".stripMargin
      })
  ) ++ graphQs

  /** EXACT kNN-3 edge CTEs over `embeddings WHERE pred` (ends with
    * `edges(src, dst, w)` — w is the cosine, unused by the unweighted
    * chains): all-pairs cosine + top-3 per source — the labeled
    * recall-BASELINE edge build of the exact graph face ("TRUE").
    * The `_sampled` face passes [[graphSamplePredSql]] so the oracle
    * replays the identical 1/13-node exact kNN graph (the
    * q_sim_containment_indexed_sampled convention: the predicate bounds
    * the quadratic pair join to ~1/169, which is what makes this
    * brute-force oracle REPLAYABLE at sf10 where the full 4·10¹⁰-pair
    * join is infeasible in DuckDB).
    *
    * `edges` carries AS MATERIALIZED (result-identical, the
    * q_text_bm25_lake precedent): every graph chain references its
    * derivatives several times, and DuckDB's CTE inlining re-runs the
    * expensive pair pipeline once per reference — at the 200k-vector
    * decade the overlapping copies spilled 68 GB of temp before dying
    * on ENOSPC; the one hint pins the narrow edge list (n·3 rows)
    * instead and the sf10 replay completes in ~98 s.
    */
  private def exactKnnEdgeCtes(pred: String): String =
    s"""e AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
       |  FROM embeddings WHERE $pred),
       |pairs AS (
       |  SELECT a.vec_id AS src, b.vec_id AS nid,
       |    ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
       |      AS cos
       |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
       |edges AS MATERIALIZED (
       |  SELECT src, nid AS dst, cos AS w FROM (
       |    SELECT src, nid, cos, row_number() OVER (
       |      PARTITION BY src ORDER BY cos DESC, nid) AS rk
       |    FROM pairs) WHERE rk <= 3)""".stripMargin

  /** BANDED-LSH kNN-3 edge CTEs (ends with `edges(src, dst, w)` — w is
    * the cosine, unused by the unweighted chains): the
    * SCALE-PATH edge build — multi-probe sign-bit buckets
    * (adaptive width, the q_sim_embedding_neardup machinery verbatim),
    * candidates meet only inside a bucket via EQUI-join (never an
    * all-pairs comparison), exact cosine ranks the candidates, top-3
    * per source. Mirrors [[lshKnnEdges]] CTE-for-stage.
    */
  private lazy val lshKnnEdgeCtesSql: String =
    s"""p AS (
       |  SELECT LEAST(24, GREATEST(4,
       |    length(bin((count(*) + 31) // 32 - 1)))) AS bits
       |  FROM embeddings),
       |b AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(p.bits), i ->
       |      CASE WHEN embedding[CAST(i AS INT) + 1] >= 0
       |           THEN 1 << i ELSE 0 END)) AS BIGINT) AS bk,
       |    ${normSql("embedding")} AS nrm
       |  FROM embeddings, p),
       |probes AS (
       |  SELECT vec_id AS src, embedding AS ea, nrm AS na,
       |    unnest(list_prepend(bk, list_transform(range(p.bits),
       |      i -> xor(bk, 1 << i)))) AS bucket
       |  FROM b, p),
       |cand AS (
       |  SELECT pr.src, c.vec_id AS nid,
       |    ${dotSql("pr.ea", "c.embedding")} / (pr.na * c.nrm) AS cos
       |  FROM probes pr JOIN b c ON pr.bucket = c.bk
       |    AND c.vec_id <> pr.src),
       |edges AS MATERIALIZED (
       |  SELECT src, nid AS dst, cos AS w FROM (
       |    SELECT src, nid, cos, row_number() OVER (
       |      PARTITION BY src ORDER BY cos DESC, nid) AS rk
       |    FROM cand) WHERE rk <= 3)""".stripMargin

  /** PageRank chain over a prior `edges(src, dst)` CTE: nodes/outdeg/
    * uniform start, 5 damped iterations (source-ordered contribution
    * folds, 1e-12 stabilized), final (vec_id, pagerank) select.
    */
  private lazy val pagerankChainSql: String = {
    import graft.functions.Stabilize.stabSql
    val iterSql = (1 to 5).map { t =>
      s"""c$t AS (
         |  SELECT e.dst, list_sum(list(r.r / o.od ORDER BY e.src)) AS s
         |  FROM edges e
         |  JOIN r${t - 1} r ON r.id = e.src
         |  JOIN outdeg o ON o.src = e.src
         |  GROUP BY e.dst),
         |r$t AS (
         |  SELECT nd.id,
         |    ${stabSql(s"(1.0e0 - 0.85e0) / st.n " +
              s"+ 0.85e0 * coalesce(c$t.s, 0.0e0)", 12)} AS r
         |  FROM nodes nd
         |  LEFT JOIN c$t ON c$t.dst = nd.id
         |  CROSS JOIN st)""".stripMargin
    }.mkString(",\n")
    s"""nodes AS (SELECT DISTINCT id FROM (
       |  SELECT src AS id FROM edges
       |  UNION ALL SELECT dst FROM edges)),
       |outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
       |st AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT id, ${stabSql("1.0e0 / st.n", 12)} AS r
       |       FROM nodes, st),
       |$iterSql
       |SELECT id AS vec_id, r AS pagerank FROM r5 ORDER BY vec_id"""
      .stripMargin
  }

  /** Bounded k-core chain (k=3, 3 peel rounds) over a prior
    * `edges(src, dst)` CTE, ending in the final (vec_id, deg) select.
    */
  private lazy val kcoreChainSql: String = {
    def degCte(src: String, nm: String): String =
      s"""$nm AS (
         |  SELECT id, count(*) AS deg FROM (
         |    SELECT u AS id FROM $src UNION ALL SELECT v FROM $src)
         |  GROUP BY 1)""".stripMargin
    def round(src: String, r: Int): String =
      s"""${degCte(src, s"kd$r")},
         |kk$r AS (SELECT id FROM kd$r WHERE deg >= 3),
         |ke$r AS (
         |  SELECT u, v FROM $src
         |  JOIN kk$r a ON a.id = u JOIN kk$r b ON b.id = v)"""
        .stripMargin
    s"""$undCteSql,
       |${round("und", 1)},
       |${round("ke1", 2)},
       |${round("ke2", 3)},
       |${degCte("ke3", "kd4")}
       |SELECT id AS vec_id, CAST(deg AS BIGINT) AS deg
       |FROM kd4 ORDER BY vec_id""".stripMargin
  }

  /** Weighted-majority label-propagation chain (2 clamped rounds) over
    * a prior `edges(src, dst, w)` CTE: 20% seed slice (vec_id % 5 == 0)
    * of `embeddings WHERE pred` (the face's node restriction), per-round
    * dst-ordered weight folds + lowest-label argmax vote + seed clamp,
    * final (vec_id, label_prop) select.
    */
  private def labelPropChain(pred: String): String = {
    val round = (t: Int) =>
      s"""s$t AS (
         |  SELECT e.src, l.lab,
         |    list_sum(list(e.w ORDER BY e.dst)) AS sc
         |  FROM edges e
         |  JOIN lab${t - 1} l ON l.id = e.dst
         |  WHERE l.lab IS NOT NULL
         |  GROUP BY e.src, l.lab),
         |a$t AS (
         |  SELECT src AS id, lab FROM (
         |    SELECT src, lab, row_number() OVER (
         |      PARTITION BY src ORDER BY sc DESC, lab) AS rn
         |    FROM s$t) WHERE rn = 1),
         |lab$t AS (
         |  SELECT l0.id, COALESCE(l0.lab, a$t.lab) AS lab
         |  FROM lab0 l0 LEFT JOIN a$t USING (id))""".stripMargin
    s"""lab0 AS (
       |  SELECT vec_id AS id,
       |    CASE WHEN vec_id % 5 = 0 THEN label END AS lab
       |  FROM embeddings WHERE $pred),
       |${round(1)},
       |${round(2)}
       |SELECT id AS vec_id, lab AS label_prop FROM lab2
       |ORDER BY vec_id""".stripMargin
  }

  /** Shared CTE chain of the kNN-3 triangle and clustering-coefficient
    * oracles, over a prior `edges(src, dst, …)` CTE: undirected →
    * degrees → degree-ordered orientation → wedges → triangles →
    * `nodes` (one id row per triangle corner).
    */
  private lazy val triangleChainSql: String =
    s"""$undCteSql,
       |deg AS (
       |  SELECT id, count(*) AS deg FROM (
       |    SELECT u AS id FROM und UNION ALL SELECT v FROM und)
       |  GROUP BY 1),
       |o AS (
       |  SELECT
       |    CASE WHEN du.deg < dv.deg
       |           OR (du.deg = dv.deg AND u < v) THEN u ELSE v
       |    END AS a,
       |    CASE WHEN du.deg < dv.deg
       |           OR (du.deg = dv.deg AND u < v) THEN v ELSE u
       |    END AS b
       |  FROM und
       |  JOIN deg du ON du.id = u
       |  JOIN deg dv ON dv.id = v),
       |ob AS (SELECT o.a, o.b, d.deg AS db
       |       FROM o JOIN deg d ON d.id = o.b),
       |w AS (
       |  SELECT e1.a, e1.b AS x, e2.b AS y
       |  FROM ob e1 JOIN ob e2 ON e1.a = e2.a
       |    AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))),
       |tri AS (
       |  SELECT w.a, w.x, w.y
       |  FROM w JOIN o ON o.a = w.x AND o.b = w.y),
       |nodes AS (
       |  SELECT a AS id FROM tri
       |  UNION ALL SELECT x FROM tri
       |  UNION ALL SELECT y FROM tri)""".stripMargin
}
