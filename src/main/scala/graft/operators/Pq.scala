package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Product quantization (PQ) ANN — the missing member of the ANN
  * family next to brute cosine / sign-bit LSH / IVF / int8+re-rank
  * (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
  * Search"): the embedding splits into `m` subspaces, each subspace
  * gets its own tiny k-means codebook, and every vector compresses to
  * `m` small codes. Query scoring is ADC (asymmetric distance
  * computation): the query precomputes an (m × k) table of
  * subspace-dot-products against the codebooks, and each encoded
  * vector's approximate dot product is the sum of `m` table lookups —
  * the corpus is scanned in CODE space (m bytes/vector), never in
  * float space.
  *
  * Spark shape: codebooks are (m × k × d/m) doubles — broadcast
  * everywhere; encoding is one broadcast join + argmin (map-side);
  * ADC scoring joins the per-query lookup table to the code table on
  * (sub, code) and partial-aggregates the per-(query, vector) sum.
  * PQ compresses the scan, it does not prune it — at 100 TB compose
  * with IVF (coarse cells prune, PQ codes scan within probed cells),
  * exactly how FAISS IVFPQ composes the same two operators.
  *
  * Determinism contract (oracle-replayable, same as Ivf): seeds are
  * the first k vectors' subvectors, ONE Lloyd round, recomputed
  * centroids 6-decimal half-even stabilized; assignment ties break to
  * the lowest centroid id; ADC sums its m parts in subspace order
  * (sequential fold), so both engines add identical doubles in
  * identical order.
  */
object Pq {

  /** Long-form subvectors: (id, sub, svec) — `sub` ∈ [0, m), `svec` =
    * the sub-th d/m-dim slice as array<double>.
    */
  def subvectors(e: DataFrame, idCol: String, vecCol: String,
                 m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val d = dim / m
    e.select(col(idCol).as("id"), posexplode(transform(
        sequence(lit(0), lit(m - 1)),
        j => slice(col(vecCol).cast(ArrayType(DoubleType)),
          j * d + 1, lit(d)))).as(Seq("sub", "svec")))
  }

  /** Squared L2 distance via dots (index-order accumulation). */
  private def d2(u: org.apache.spark.sql.Column,
                 c: org.apache.spark.sql.Column) =
    Similarity.dot(u, u) - lit(2.0) * Similarity.dot(u, c) +
      Similarity.dot(c, c)

  /** Per-subspace codebooks from ONE seeded Lloyd round →
    * (sub, cid, cvec). Seeds: subvectors of the first k vectors.
    */
  def codebooks(e: DataFrame, idCol: String, vecCol: String,
                m: Int, dim: Int, k: Int): DataFrame = {
    val sv = subvectors(e, idCol, vecCol, m, dim)
    val seeds = sv.filter(col("id") < k)
      .select(col("sub"), col("id").as("cid"), col("svec").as("cvec"))
    // argmin via the min_by AGGREGATE (Dedup.keepFirstAgg), not a
    // row_number window: map-side combine collapses each (id, sub)'s
    // k candidate rows before the shuffle — the window form would
    // shuffle all n·m·k scored rows to sort them
    val scored = sv.join(broadcast(seeds), Seq("sub"))
      .select(col("id"), col("sub"), col("svec"), col("cid"),
        d2(col("svec"), col("cvec")).as("dd"))
    val a0 = Dedup.keepFirstAgg(scored, Seq("id", "sub"),
      Seq(col("dd"), col("cid")))
    a0.select(col("sub"), col("cid"),
        posexplode(col("svec")).as(Seq("pos", "v")))
      .groupBy(col("sub"), col("cid"), col("pos"))
      .agg((bround(avg(col("v")) * lit(1e6)) / lit(1e6)).as("cv"))
      .groupBy(col("sub"), col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("cvec"))
  }

  /** Encode every vector: nearest codebook centroid per subspace →
    * (id, sub, code).
    */
  def encode(e: DataFrame, idCol: String, vecCol: String,
             books: DataFrame, m: Int, dim: Int): DataFrame = {
    val sv = subvectors(e, idCol, vecCol, m, dim)
    val scored = sv.join(broadcast(books), Seq("sub"))
      .select(col("id"), col("sub"), col("cid"),
        d2(col("svec"), col("cvec")).as("dd"))
    // same argmin-as-aggregate shape as codebooks (see comment there)
    Dedup.keepFirstAgg(scored, Seq("id", "sub"), Seq(col("dd"), col("cid")))
      .select(col("id"), col("sub"), col("cid").as("code"))
  }

  /** ADC top-k: per query, approximate dot = Σ_sub
    * dot(q_sub, codebook[sub][code]), summed in subspace order →
    * (qid, rk, nid). Self-matches (qid == nid) are excluded.
    */
  def searchAdc(queries: DataFrame, qidCol: String, qvecCol: String,
                books: DataFrame, codes: DataFrame,
                m: Int, dim: Int, k: Int): DataFrame = {
    val qsub = subvectors(queries, qidCol, qvecCol, m, dim)
      .select(col("id").as("qid"), col("sub"), col("svec"))
    val tab = qsub.join(broadcast(books), Seq("sub"))
      .select(col("qid"), col("sub"), col("cid").as("code"),
        Similarity.dot(col("svec"), col("cvec")).as("part"))
    val scored = codes.join(tab, Seq("sub", "code"))
      .filter(col("qid") =!= col("id"))
      .groupBy(col("qid"), col("id"))
      // sequential fold over sub-ordered parts: both engines sum the
      // same doubles in the same order, so ranks can't split on
      // summation-order ulps
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("sub"), col("part")))),
          x => x.getField("part")),
        lit(0.0), (acc, x) => acc + x).as("adc"))
    Windows.topKPerGroupRanked(scored, Seq(col("qid")),
        Seq(col("adc").desc, col("id")), k, "rk")
      .select(col("qid"), col("rk"), col("id").as("nid"))
      .orderBy(col("qid"), col("rk"))
  }

  /** The full IVFPQ composition (FAISS's workhorse index, built from
    * the two operators this library already proves separately): IVF
    * cells PRUNE the scan to `nProbe` probed cells per query, PQ codes
    * COMPRESS the within-cell ranking to ADC table lookups, and an
    * exact cosine re-rank of the ADC top `candN` decides the final
    * top `k`. Inputs are the factored artifacts — `cents`/`assigned`
    * from [[Ivf.lloydCentroids]]/[[Ivf.assign]] and `books`/`codes`
    * from [[codebooks]]/[[encode]] — so the composed index is exactly
    * the sum of its certified parts. At 100 TB every stage is a
    * broadcast join (centroids, codebooks, query tables) or an
    * equi-join on cell/code keys; the only per-candidate float work is
    * the ~candN re-rank dots per query.
    */
  def searchIvfPq(queries: DataFrame, cents: DataFrame, assigned: DataFrame,
                  books: DataFrame, codes: DataFrame, m: Int, dim: Int,
                  nProbe: Int, candN: Int, k: Int): DataFrame = {
    val members = Ivf.probe(queries, cents, nProbe)
      .select(col("qid"), col("cell"))
      .join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
    val qsub = subvectors(queries, "qid", "qe", m, dim)
      .select(col("id").as("qid"), col("sub"), col("svec"))
    val tab = qsub.join(broadcast(books), Seq("sub"))
      .select(col("qid"), col("sub"), col("cid").as("code"),
        Similarity.dot(col("svec"), col("cvec")).as("part"))
    val adc = members
      .join(codes.withColumnRenamed("id", "nid"), Seq("nid"))
      .join(tab, Seq("qid", "sub", "code"))
      .groupBy(col("qid"), col("nid"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("sub"), col("part")))),
          x => x.getField("part")),
        lit(0.0), (acc, x) => acc + x).as("adc"))
    val cand = Windows.topKPerGroup(adc, Seq(col("qid")),
      Seq(col("adc").desc, col("nid")), candN)
    val exact = cand.select(col("qid"), col("nid"))
      .join(queries.select(col("qid"), col("qe"), col("qnrm")), Seq("qid"))
      .join(assigned.select(col("nid"), col("ce"), col("cenrm")), Seq("nid"))
      .select(col("qid"), col("nid"),
        (Similarity.dot(col("qe"), col("ce"))
          / (col("qnrm") * col("cenrm"))).as("cos_sim"))
    Windows.topKPerGroupRanked(exact, Seq(col("qid")),
        Seq(col("cos_sim").desc, col("nid")), k, "rk")
      .select(col("qid"), col("rk"), col("nid"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Exact re-rank of ADC candidates (the FAISS IVFPQ refinement
    * stage): only the candidate pairs fetch their float vectors and
    * score an exact index-order dot — quantization error decides
    * which ~N vectors are LOOKED AT, full precision decides the final
    * top-k. `queries`/`corpus` carry (idCol, vecCol) raw vectors;
    * `cands` is searchAdc's (qid, rk, nid) output.
    */
  def rerankExact(cands: DataFrame, queries: DataFrame,
                  corpus: DataFrame, qidCol: String, idCol: String,
                  vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"),
      col(vecCol).cast(ArrayType(DoubleType)).as("__qv"))
    val c = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast(ArrayType(DoubleType)).as("__cv"))
    val exact = cands.select(col("qid"), col("nid"))
      .join(q, Seq("qid")).join(c, Seq("nid"))
      .select(col("qid"), col("nid"),
        Similarity.dot(col("__qv"), col("__cv")).as("dp"))
    Windows.topKPerGroupRanked(exact, Seq(col("qid")),
        Seq(col("dp").desc, col("nid")), k, "rk")
      .select(col("qid"), col("rk"), col("nid"))
      .orderBy(col("qid"), col("rk"))
  }
}
