package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HashFns

/** Near-duplicate detection and similarity search primitives:
  * character shingling, MinHash signatures, banded LSH candidate
  * generation, and dense-vector cosine — all as `Column`/`DataFrame`
  * combinators over Spark built-ins (higher-order array functions), no
  * UDFs, no driver-side loops.
  *
  * Scale shapes (the point of each design):
  *  - shingling is map-only over the corpus scan;
  *  - MinHash reduces each document to K longs via partial-aggregating
  *    `min()` — the shuffle carries (id, K×8 bytes), never text;
  *  - LSH banding shuffles (band, bandValue) keys so only same-bucket
  *    documents ever meet — the all-pairs join never exists;
  *  - candidate verification joins shingles ONLY for candidate pairs
  *    (semi-join pushdown), so exact Jaccard cost is proportional to
  *    the candidate count, not corpus².
  * Hashes are md5-derived (HashFns) so every step is reproducible by
  * any engine — the DuckDB oracles in QueriesSimilarity mirror each
  * stage exactly.
  */
object Similarity {

  /** Character k-shingles: one (id, shingle) row per position. Documents
    * shorter than k produce no rows (same as the DuckDB mirror).
    */
  def charShingles(df: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame =
    df.filter(length(col(textCol)) >= k)
      .select(col(idCol),
        explode(transform(
          sequence(lit(1), length(col(textCol)) - (k - 1)),
          i => col(textCol).substr(i, lit(k)))).as("shingle"))

  /** (id, shingle) → (id, h): ONE md5 per shingle row, shared by every
    * downstream consumer — the signature aggregation AND the exact-set
    * verification both work from the 8-byte hash, so the md5 runs once
    * per shingle and no downstream shuffle ever carries the shingle
    * STRING (digests are the only shuffle payload, the repo-wide rule).
    * Set semantics are preserved exactly on both engines because they
    * share the md5 mapping; a 64-bit collision within one document pair
    * is the usual negligible caveat and hits both engines identically.
    */
  def hashedShingles(shingles: DataFrame, idCol: String): DataFrame =
    shingles.select(col(idCol), HashFns.md5Long(col("shingle")).as("h"))

  /** MinHash signature: K min-hashes per id, output columns
    * mh0..mh{K-1}. Duplicate shingles don't affect min, so no distinct
    * pass is needed before this. Input is the [[hashedShingles]] frame;
    * the K family members derive from each hash by xor-shift mixing
    * (HashFns.hashFamily) — at corpus scale md5 dominates signature
    * cost, so this is K× cheaper than seeded per-hash digests and
    * still engine-portable.
    */
  def minhashFromHashes(hashed: DataFrame, idCol: String,
                        numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(HashFns.hashFamily(col("h"), i)).as(s"mh$i"))
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash directly from (id, shingle) — hashes inline; prefer
    * [[hashedShingles]] + [[minhashFromHashes]] when the shingle set
    * has other consumers (near-dup verification), so the md5 runs once.
    */
  def minhashSignature(shingles: DataFrame, idCol: String,
                       numHashes: Int): DataFrame =
    minhashFromHashes(hashedShingles(shingles, idCol), idCol, numHashes)

  /** Banded LSH: split the K-hash signature into bands of `rowsPerBand`,
    * emit one (id, band, band_value) row per band. Joining on
    * (band, band_value) equality yields candidate pairs with the classic
    * 1-(1-j^r)^b recall curve.
    */
  def lshBands(sig: DataFrame, idCol: String, numHashes: Int,
               rowsPerBand: Int): DataFrame = {
    val bands = numHashes / rowsPerBand
    val bandStructs = (0 until bands).map { b =>
      val bv = concat_ws(":",
        (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
      struct(lit(b).as("band"), bv.as("band_value"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"),
              col("bb.band_value").as("band_value"))
  }

  /** Candidate pairs from banded signatures: ids sharing at least one
    * band bucket, deduplicated, a < b. The join key is (band, value) —
    * this is the only shuffle and it never compares cross-bucket pairs.
    *
    * `maxBucket` caps bucket size and is required: a bucket of m ids
    * emits m(m-1)/2 pairs, so one hot bucket (template spam,
    * boilerplate) turns the candidate stage quadratic. Oversized
    * buckets are DROPPED from near-dup candidacy — run exact dedup
    * first so they can only arise from genuinely-distinct-but-templated
    * content, and handle those via the bucket report, not the pair
    * join. ONE groupBy generates the per-bucket pairs directly (see
    * [[pairsWithinGroups]]); a caller that wants every bucket passes a
    * cap no smaller than its id count.
    */
  def candidatePairs(bands: DataFrame, idCol: String,
                     maxBucket: Int): DataFrame =
    pairsWithinGroups(bands, Seq(col("band"), col("band_value")),
      idCol, maxBucket)

  /** All unordered id pairs (id_a < id_b, distinct) co-occurring in at
    * least one group of size ≤ `maxBucket` — the shared candidate
    * generator of [[candidatePairs]] and SetJoin's span-fingerprint
    * stratum. One shuffle total: groupBy(keys) collects each group's
    * ids and the pair explode runs inside the same stage. The old
    * size-filter-join + self-join form planned three shuffles of the
    * input AND re-evaluated its lineage per read. Per-task work is
    * bounded by construction: the collect_list buffer holds ≤
    * `maxBucket` ids (oversized groups are dropped, same semantics as
    * the join form's cap) and the explode emits ≤ m(m−1)/2 ≤ 2016
    * pairs at the repo-wide caps (≤ 64) — skew-safe (guide §2.5).
    * sort_array makes each group's ids strictly increasing (an id
    * appears at most once per group), so pairing every element with
    * its successors yields exactly the id_a < id_b pairs of the old
    * self-join; the cross-group distinct is unchanged.
    */
  def pairsWithinGroups(df: DataFrame, keys: Seq[Column], idCol: String,
                        maxBucket: Int): DataFrame =
    df.groupBy(keys: _*)
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucket))
      .select(explode(flatten(transform(col("__ids"), (x, i) =>
        transform(slice(col("__ids"), i + lit(2),
            size(col("__ids")) - i - lit(1)),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .distinct()

  /** Deterministic fan-out by id across the session's planned shuffle
    * width — the post-dedup sibling of Tables.spread (r15): the
    * exact-dedup window leaves the corpus partitioned by content
    * digest, which no downstream shingle consumer can use, so the
    * shingle pipelines re-shuffled the EXPLODED (id, h) frame for
    * their distinct/groupBy. Repartitioning the narrow document rows
    * by id BEFORE the explode moves strictly fewer bytes (text ≈ 1/16
    * of the exploded hash rows) and is absorbed by every downstream
    * id-keyed operation (distinct(id, h), minhash groupBy(id), sizes
    * groupBy(id), per-id windows) — HashPartitioning(id) satisfies
    * each of their required distributions, so they plan NO exchange
    * (guide §2.3/§2.4; scale-independent — the replaced exchange
    * grows with the corpus exactly as this one does, only wider).
    * Width follows AQE's initialPartitionNum (volume-adaptive at
    * scale, = cores locally); explicit so AQE's byte-based coalescing
    * cannot fold the small pre-explode frame into one task — the
    * whole point is parallelism for the expansion that follows.
    * Hash-by-id is deterministic under retries (§2.5).
    */
  def spreadById(df: DataFrame, idCol: String): DataFrame = {
    val s = df.sparkSession
    val n = math.max(s.sparkContext.defaultParallelism,
      try s.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
      catch { case _: Throwable => 0 })
    df.repartition(n, col(idCol))
  }

  /** Candidates for an INCREMENTAL probe: a new batch's band buckets
    * joined against the persisted history index's buckets — the
    * near-dup sibling of the Bloom-prefiltered exact-digest CDC path
    * (q_sim_incremental_dedup). Emits (id_a = probe id, id_b = index
    * id) once per colliding pair. `maxBucket` caps the HISTORY bucket
    * size: an index bucket holding m docs charges every probe hit m
    * verify pairs, so template buckets in the index are excluded from
    * probing (route them to the hot-bucket report), exactly as
    * [[candidatePairs]] does for the batch self-join.
    *
    * 100 TB shape: the index side (bands of the historical corpus) is a
    * write-once artifact re-read per batch; the probe side is the small
    * new batch, so the (band, band_value) equi-join broadcasts the
    * probe under AQE and history is never re-shingled — only its
    * precomputed band rows and the candidates' shingle digests move.
    */
  def candidatePairsAcross(probe: DataFrame, index: DataFrame,
                           idCol: String,
                           maxBucket: Int = Int.MaxValue): DataFrame = {
    val ok =
      if (maxBucket == Int.MaxValue) index
      else {
        val sizes = index.groupBy(col("band"), col("band_value"))
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= maxBucket)
          .drop("__bn")
        index.join(sizes, Seq("band", "band_value"))
      }
    probe.select(col("band"), col("band_value"), col(idCol).as("id_a"))
      .join(ok.select(col("band"), col("band_value"), col(idCol).as("id_b")),
        Seq("band", "band_value"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Exact Jaccard over shingle SETS for the given candidate pairs only.
    *
    * Physical shape note: `pairs` is tiny (bounded by the bucket cap),
    * so AQE broadcasts it into the id_a join, whose output — candidate
    * documents' shingles only — is again broadcast-sized for the
    * (id_b, shingle) intersection join; the full shingle frame is never
    * shuffled, only scanned. (An explicit pre-filter of `shingles` by a
    * broadcast of the candidate ids was tried and is 4× SLOWER: the
    * broadcast subquery re-evaluates the candidate subtree and defeats
    * the ReusedExchange of the shd distinct between `inter` and
    * `sizes`.)
    */
  def jaccardForPairs(pairs: DataFrame, shingles: DataFrame,
                      idCol: String): DataFrame =
    jaccardForPairsHashed(pairs, hashedShingles(shingles, idCol), idCol)

  /** Exact Jaccard from the [[hashedShingles]] frame: the distinct pass
    * and both intersection joins carry (id, 8-byte hash) rows, never
    * shingle strings — ~40% less shuffle volume on the one full-corpus
    * shuffle this verification has (the shd distinct).
    */
  def jaccardForPairsHashed(pairs: DataFrame, hashed: DataFrame,
                            idCol: String): DataFrame = {
    val shd = hashed.select(col(idCol), col("h")).distinct()
    val sizes = shd.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(shd.select(col(idCol).as("id_a"), col("h")), Seq("id_a"))
      .join(shd.select(col(idCol).as("id_b"), col("h")),
        Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
  }

  /** Exact Jaccard for INCREMENTAL probe candidates against a PERSISTED
    * index — the serving-shape sibling of [[jaccardForPairsHashed]].
    * `probeHashed` is the new batch's (id, h) digest frame (the only
    * thing that was shingled this trigger); `indexDigests` and
    * `indexSizes` are lake artifacts written at ingest time (digests
    * already DISTINCT per (id, h), sizes exact counts — both are
    * by-products the index build already computes, so persisting them
    * is free). The verify then does NO corpus-wide distinct and NO
    * corpus-wide size aggregation: the batch side is tiny and
    * broadcasts through both joins, history contributes only a scan of
    * its digest lake (bucket/DPP-prunable by id at scale), and the
    * candidate intersection count + the two size lookups produce the
    * exact integer-ratio Jaccard. This is what makes the registered
    * incremental query's cost O(batch + index scan) instead of
    * O(re-hash history) — the contract [[candidatePairsAcross]]
    * documents, now measurable.
    */
  def jaccardForPairsServed(pairs: DataFrame, probeHashed: DataFrame,
                            indexDigests: DataFrame, indexSizes: DataFrame,
                            idCol: String): DataFrame = {
    val pshd = probeHashed.select(col(idCol), col("h")).distinct()
    val psizes = pshd.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(pshd.select(col(idCol).as("id_a"), col("h")), Seq("id_a"))
      .join(indexDigests.select(col(idCol).as("id_b"), col("h")),
        Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(psizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")),
        Seq("id_a"))
      .join(indexSizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
  }

  /** SimHash over a (id, token) frame: for each of `bits` bit positions,
    * tokens vote +1/-1 by their hash's bit; positive totals set the bit.
    * Near-duplicate documents differ in few tokens, so their simhashes
    * differ in few bits (compare with bit_count(xor)).
    *
    * Scale shape: map-side md5 per token row, ONE groupBy(id) with
    * `bits` partial-aggregating sums — the shuffle carries (id, bits×8
    * bytes). Pair generation then bands the simhash bits (same
    * bucket-join shape as MinHash-LSH), never all-pairs.
    */
  def simHash(tokens: DataFrame, idCol: String, tokenCol: String,
              bits: Int): DataFrame = {
    val h = HashFns.md5Long(col(tokenCol))
    val votes = (0 until bits).map { i =>
      sum(when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$i")
    }
    tokens.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until bits).map(i =>
          when(col(s"v$i") > 0L, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Word n-grams from a token-array column: one (id, ngram) row per
    * position, n consecutive tokens joined by a space. Token arrays
    * shorter than n produce no rows.
    */
  def wordNgrams(df: DataFrame, idCol: String, toksCol: String,
                 n: Int): DataFrame =
    df.filter(size(col(toksCol)) >= n)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col(toksCol)) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(col(toksCol), i + j)): _*)))
        .as("ngram"))

  /** Word n-grams WITH their 1-based position — the ordered sibling of
    * [[wordNgrams]] for consumers that need sequence structure (the
    * winnowed-fingerprint quote stratum in SetJoin.containmentStratified:
    * its guarantee is about CONTIGUOUS runs, which the set view erases).
    * One (id, pos, ngram) row per position.
    */
  def wordNgramsIndexed(df: DataFrame, idCol: String, toksCol: String,
                        n: Int): DataFrame =
    df.filter(size(col(toksCol)) >= n)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), size(col(toksCol)) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(col(toksCol), i + j)): _*))))
      .select(col(idCol), (col("pos") + 1).as("pos"),
        col("col").as("ngram"))

  /** Dot product of two float/double-array columns, accumulated in
    * DOUBLE in index order (bit-identical to DuckDB's
    * list_sum(list_transform(list_zip(a,b), ...)) mirror). Native
    * codegen'd expression (expressions/DotF) — the composed
    * aggregate(zip_with(...)) form evaluates its lambda interpreted
    * per element, which is the whole inner loop of a brute-force ANN
    * scan.
    */
  def dot(a: Column, b: Column): Column = graft.expressions.DotF(a, b)

  /** Euclidean norm (double). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two float-array columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Sign-bit width for an n-vector corpus targeting ~`target` vectors
    * per bucket: the smallest b with 2^b ≥ ceil(n/target), clamped to
    * [4, 24]. THE BITS MUST SCALE WITH THE CORPUS: with fixed b the
    * candidate stage is O(n²/2^b) — quadratic at 100× — while b =
    * log2(n/target) keeps expected bucket size (and so pairs-per-bucket)
    * constant, making the whole near-dup join linear in n. At 100 TB
    * (n ≈ 1e9 embeddings) this gives 24 bits ≈ 16M buckets.
    *
    * Integer-only on purpose (binary length, not float log2): a float
    * log2 can land on either side of an exact power of two and desync
    * engines. DuckDB mirror:
    * `LEAST(24, GREATEST(4, length(bin((n + target-1)//target - 1))))`.
    */
  def adaptiveSignBits(n: Long, target: Long = 32L): Int = {
    val m = (n + target - 1) / target
    val b = java.lang.Long.toBinaryString(math.max(m - 1, 0L)).length
    math.max(4, math.min(24, b))
  }

  /** Cluster-seed count for a corpus of `n` vectors: max(8, ⌈√n⌉).
    * SemDeDup's within-cell pair generation costs Σ cellSize² — with a
    * FIXED k that is Θ(n²/k), still quadratic in the corpus; with
    * k ≈ √n balanced cells it is k·(n/k)² = n^1.5 and the per-cell
    * join side stays ~√n rows. The same rule sizes an IVF nlist.
    * Integer-safe: IEEE sqrt is correctly rounded, so a perfect-square
    * n never straddles the ceil and the DuckDB mirror
    * `greatest(8, CAST(ceil(sqrt(n)) AS BIGINT))` agrees exactly.
    */
  def adaptiveSeedCount(n: Long): Long =
    math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong)

  /** Report of the LSH buckets that [[candidatePairs]] DROPS under its
    * `maxBucket` cap: (band, band_value, size, sample_ids). A capped
    * bucket is template/boilerplate content whose m²/2 pairs would turn
    * the candidate join quadratic — it should be handled by a template
    * pass (dedup the bucket wholesale), and this report is how that
    * content stays observable instead of silently skipped. `sample_ids`
    * is the sorted first `sampleK` ids joined with commas (a string, so
    * any engine compares it exactly). One groupBy on the band keys —
    * same shuffle shape (and key) as the candidate join itself.
    */
  def hotBuckets(bands: DataFrame, idCol: String, maxBucket: Int,
                 sampleK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The sample is rank-limited BEFORE aggregation: a hot bucket is by
    // definition huge, and collect_list over it would buffer every id
    // in one aggregation buffer — the window operator sorts with
    // spilling, so per-bucket aggregation state is O(sampleK), not
    // O(bucket). Rank and size come from ONE window pass over one
    // shuffle (the groupBy reuses the window's hash partitioning), and
    // with no sizes-samples join a NULL band_value bucket still reports.
    val w = Window.partitionBy(col("band"), col("band_value"))
    val rn = Dedup.freshName(bands, "__hbrn")
    val sz = Dedup.freshName(bands.columns.toSet + rn, "__hbsz")
    bands
      .withColumn(rn, row_number().over(w.orderBy(col(idCol))))
      .withColumn(sz, count(lit(1)).over(w))
      .filter(col(sz) > maxBucket && col(rn) <= sampleK)
      .groupBy(col("band"), col("band_value"))
      .agg(max(col(sz)).as("size"),
        array_join(transform(
          sort_array(collect_list(col(idCol))), _.cast("string")), ",")
          .as("sample_ids"))
      .select(col("band"), col("band_value"), col("size"),
        col("sample_ids"))
  }

  /** Sign-bit random-projection bucket over the first `bits` dimensions:
    * bucket = Σ 2^i · [v[i] ≥ 0]. For embeddings whose dimensions are
    * (approximately) random projections this is a valid LSH family for
    * cosine distance; derive `bits` from corpus size via
    * [[adaptiveSignBits]] and pair with [[multiProbeBuckets]] for recall.
    */
  def signBitBucket(vec: Column, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(vec, i + 1) >= 0f, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Max-abs int8 quantization scale for a float-vector column:
    * 127 / max(|v_i|) (null-safe: zero vectors get scale 0).
    */
  def quantScale(vec: Column): Column = {
    val maxabs = aggregate(vec, lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    when(maxabs > 0.0, lit(127.0) / maxabs).otherwise(lit(0.0))
  }

  /** Quantize to int8 range (stored tinyint: 1 byte/dim vs 4 for
    * float32 — a quantized corpus scan reads 4x less data, which is the
    * bandwidth that dominates brute-force ANN at scale; exact re-rank
    * then touches only the top candidates).
    */
  def quantize(vec: Column, scale: Column): Column =
    transform(vec, x => round(x.cast("double") * scale).cast("tinyint"))

  /** Integer dot product of two quantized vectors (exact in long).
    * Native codegen'd expression (expressions/DotI8) — see [[dot]].
    */
  def quantDot(a: Column, b: Column): Column = graft.expressions.DotI8(a, b)

  /** Sorted-neighborhood candidate generation (Hernández & Stolfo's
    * merge/purge, 1995) — the record-linkage classic complementing LSH
    * blocking: order records by a discriminating key and compare each
    * record only with its `w` successors, so candidate volume is w·n
    * instead of n². The textbook single-sorted-list scan is inherently
    * serial; this form PARTITIONS the window by a block prefix of the
    * sort key (`blockCol` must be a prefix of `keyCol`), so blocks
    * spread across tasks while near-identical keys — which agree on
    * the prefix by construction — still land in the same block.
    *
    * Emits id-normalized candidate pairs (`a` < `b`); verification
    * (exact Jaccard, edit distance, …) is the caller's second stage,
    * touching only the w·n candidates. Pure window `lead`s: one
    * shuffle on the block key, no self-join of the corpus.
    */
  def sortedNeighborhood(df: DataFrame, idCol: String, keyCol: String,
                         blockCol: String, w: Int): DataFrame = {
    require(w >= 1, s"need window >= 1, got $w")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(blockCol)).orderBy(col(keyCol), col(idCol))
    val withLeads = df.select(col(idCol) +:
      (1 to w).map(k => lead(col(idCol), k).over(win).as(s"__l$k")): _*)
    withLeads
      .select(col(idCol), explode(array(
        (1 to w).map(k => col(s"__l$k")): _*)).as("__nb"))
      .filter(col("__nb").isNotNull)
      .select(least(col(idCol), col("__nb")).as("a"),
        greatest(col(idCol), col("__nb")).as("b"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * 1998) of a CANDIDATE POOL: greedily pick k items maximizing
    * `lambda·rel(c) − (1−lambda)·max_{s∈S} cos(c, s)` — the
    * diversity-aware final stage of a retrieval pipeline (the
    * relevance-only top-k upstream of it stays fully distributed; the
    * pool this re-ranks is the O(poolK) artifact that stage already
    * produced, so it is collected under a require() guard and re-ranked
    * in exact driver arithmetic — the bucket-carry precedent).
    *
    * Determinism contract: `lambda` must be an exact binary fraction
    * (0.5 by default); cosines fold in index order (the dot-product
    * convention); max-similarity uses exact `max` (order-free for
    * doubles); argmax ties break on the smaller id. Bit-identical on
    * any engine.
    *
    * `pool` needs (`idCol`: long, `vecCol`: float array, `relCol`:
    * double). Output: `round`, idCol, `relevance`, `score` (round 1's
    * score IS its relevance).
    */
  def mmrRerank(pool: DataFrame, idCol: String, vecCol: String,
                relCol: String, k: Int,
                lambda: Double = 0.5): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val spark = pool.sparkSession
    val rows = pool.select(col(idCol), col(vecCol), col(relCol)).collect()
    require(rows.length <= 4096,
      s"pool has ${rows.length} rows — MMR re-ranks a bounded candidate " +
        "pool, not a corpus; push the top-k upstream")
    val cand = rows.map(r => (r.getLong(0),
      r.getSeq[Float](1).toArray, r.getDouble(2)))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val picked = collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val selected = collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    for (_ <- 1 to math.min(k, cand.length)) {
      val scored = cand
        .filter(c => !selected.exists(_._1 == c._1))
        .map { case (id, v, rel) =>
          val score =
            if (selected.isEmpty) rel
            else {
              // exact max over selected (order-free for doubles), then
              // one fixed IEEE op chain — mirrors the oracle's greatest()
              val maxSim = selected.map(s => cos(v, s._2)).max
              lambda * rel - (1.0 - lambda) * maxSim
            }
          (id, v, rel, score)
        }
      val best = scored.minBy { case (id, _, _, score) => (-score, id) }
      picked += ((best._1, best._3, best._4))
      selected += ((best._1, best._2))
    }
    import spark.implicits._
    picked.toSeq.zipWithIndex
      .map { case ((id, rel, score), i) => (i + 1L, id, rel, score) }
      .toDF("round", idCol, "relevance", "score")
      .orderBy(col("round"))
  }

  /** Multi-probe set for a sign-bit bucket: the bucket itself plus every
    * 1-bit flip — explode this on the probe side and EQUI-JOIN on the
    * exact bucket of the other side. This keeps candidate generation a
    * hash join (hamming <= 1 as a join predicate would be an all-pairs
    * comparison); probing k bits costs k+1 rows per vector, not n².
    */
  def multiProbeBuckets(bucket: Column, bits: Int): Column =
    array(bucket +: (0 until bits).map(i =>
      bucket.bitwiseXOR(lit(1L << i))): _*)

  /** Multi-probe set at Hamming radius 2: the bucket, every 1-bit
    * flip, and every 2-bit flip — `1 + b + b(b−1)/2` probes, all
    * pairwise distinct (the xor masks differ in popcount or support),
    * so the at-most-once candidate-match argument of
    * [[multiProbeBuckets]] still holds. This is the QUERY-side recall
    * knob: when the probe side is a small query batch and the corpus
    * side joins its ONE exact bucket, deeper probing multiplies only
    * the tiny side (measured recall@20 of the sign-bit pool vs the
    * exact ranker: 0.42 at radius 1 → 0.77 at radius 2 on the
    * 500-vector sf0.001 test embeddings — FusionSpec pins a 0.5 floor
    * and radius-2 ≥ radius-1 dominance; treat that spec, not this
    * number, as the source of truth).
    */
  def multiProbeBuckets2(bucket: Column, bits: Int): Column = {
    val ones = (0 until bits).map(i => bucket.bitwiseXOR(lit(1L << i)))
    val twos = for {
      i <- 0 until bits
      j <- 0 until i
    } yield bucket.bitwiseXOR(lit((1L << i) | (1L << j)))
    array(bucket +: (ones ++ twos): _*)
  }
}
