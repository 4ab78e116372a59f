package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Inverted-file (IVF) ANN index as three composable stages, factored
  * out of q_sim_ann_ivf so the oracle query and the recall-curve spec
  * (SimilaritySpec) run the SAME construction — a drift between the
  * benchmarked index and the measured one would make the recall curve
  * fiction.
  *
  * Contract: `e` carries (vec_id, embedding, nrm); `queries` carries
  * (qid, qe, qnrm). Centroids are COMPUTED, not just seeded: the first
  * `nSeeds` vectors seed one deterministic Lloyd iteration (assign all
  * to nearest seed, recompute per-cell per-dimension means), so cell
  * balance reflects the data while engines replay bit-identically —
  * recomputed means are 6-decimal half-even stabilized to collapse
  * cross-engine summation-order noise. Every step is a broadcast join
  * against the (tiny) centroid set or an equi-join on cell id —
  * corpus² never exists. At 100 TB the same shape holds: k-means∥ on
  * a sample picks seeds (nSeeds via Similarity.adaptiveSeedCount), a
  * few Lloyd passes are each one broadcast join + one (cell, dim)
  * aggregation.
  */
object Ivf {

  /** One seeded deterministic Lloyd iteration → (cid, cvec, cnrm). */
  def lloydCentroids(e: DataFrame, nSeeds: Long): DataFrame = {
    val seeds = e.filter(col("vec_id") < nSeeds)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        col("nrm").as("cnrm"))
    // assign to nearest seed (argmax cosine, ties -> lowest cid), then
    // per-cell per-dimension mean
    val s0 = e.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("embedding"), col("cid"),
        (Similarity.dot(col("embedding"), col("cvec"))
          / (col("nrm") * col("cnrm"))).as("csim"))
    val a0 = Dedup.keepFirst(s0, Seq("vec_id"),
      Seq(col("csim").desc, col("cid")))
    a0.select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg((bround(avg(col("v").cast("double")) * lit(1e6)) / lit(1e6))
        .as("cv"))
      .groupBy(col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("cvec"))
      .select(col("cid"), col("cvec"),
        Similarity.norm(col("cvec")).as("cnrm"))
  }

  /** Final cell assignment against the recomputed centroids →
    * (cell, nid, ce, cenrm).
    */
  def assign(e: DataFrame, cents: DataFrame): DataFrame = {
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"),
        (Similarity.dot(col("embedding"), col("cvec"))
          / (col("nrm") * col("cnrm"))).as("csim"))
    Dedup.keepFirst(scored, Seq("vec_id"),
        Seq(col("csim").desc, col("cid")))
      .select(col("cid").as("cell"), col("vec_id").as("nid"),
        col("embedding").as("ce"), col("nrm").as("cenrm"))
  }

  /** Incremental maintenance — the missing ANN index lifecycle next to
    * [[Bm25.mergeIndex]]'s: assign a NEW batch of vectors to the FIXED
    * trained centroids and append its (cell, nid, ce, cenrm) rows;
    * history rows are never read or rewritten. At 100 TB you append
    * vectors to frozen centroids daily — re-training is a REBUILD, a
    * deliberate rare event triggered by drift gates (operators/Drift),
    * not by ingest. Contract: the batch's vec_ids are disjoint from
    * the indexed corpus (route updates through CDC/SCD2 first — the
    * [[Bm25.mergeIndex]] convention), and `cents` is the frozen
    * artifact the index was built with. Because [[assign]] is
    * per-vector deterministic (argmax cosine, ties to lowest cid),
    * append == rebuild-against-the-same-centroids BIT-EXACTLY —
    * q_sim_ann_ivf_incremental's oracle replays the full-corpus
    * assignment and hash-matches the appended index's answers.
    */
  def appendToIndex(assigned: DataFrame, cents: DataFrame,
                    newVecs: DataFrame): DataFrame =
    assigned.unionByName(assign(newVecs, cents))

  /** Lake face of [[appendToIndex]]: the batch's assignments APPEND to
    * the cell-partitioned parquet index (the q_sim_ann_ivf_lake
    * layout) — only the batch's cells gain files, history files are
    * untouched, and serve-time partition pruning is unchanged. Cell
    * membership counts ([[cellCounts]]) merge by integer sum, so the
    * balance telemetry stays exact under appends too.
    */
  def appendToLake(newVecs: DataFrame, cents: DataFrame,
                   dir: String): Unit =
    assign(newVecs, cents).write.mode("append")
      .partitionBy("cell").parquet(dir)

  /** Per-cell membership counts of an assigned index — the balance
    * telemetry that decides when drifted appends warrant a re-train
    * (a cell absorbing a disproportionate share of new vectors is the
    * IVF analogue of an LSH hot bucket). Mergeable by integer sum:
    * counts of two disjoint batches add exactly.
    */
  def cellCounts(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))

  /** Each query's `nProbe` nearest cells by centroid cosine, ties to
    * the lowest cell → (qid, qe, qnrm, cell, psim).
    */
  def probe(queries: DataFrame, cents: DataFrame, nProbe: Int): DataFrame =
    Windows.topKPerGroup(
      queries.crossJoin(broadcast(cents))
        .select(col("qid"), col("qe"), col("qnrm"), col("cid").as("cell"),
          (Similarity.dot(col("qe"), col("cvec"))
            / (col("qnrm") * col("cnrm"))).as("psim")),
      Seq(col("qid")), Seq(col("psim").desc, col("cell")), nProbe)

  /** Probe each query's `nProbe` nearest cells, score ONLY those cells'
    * members, keep top `k` → (qid, rk, nid).
    */
  def search(queries: DataFrame, cents: DataFrame, assigned: DataFrame,
             nProbe: Int, k: Int): DataFrame = {
    val hits = probe(queries, cents, nProbe).join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (Similarity.dot(col("qe"), col("ce"))
          / (col("qnrm") * col("cenrm"))).as("cos_sim"))
    Windows.topKPerGroupRanked(hits, Seq(col("qid")),
        Seq(col("cos_sim").desc, col("nid")), k, "rk")
      .select(col("qid"), col("rk"), col("nid"))
      .orderBy(col("qid"), col("rk"))
  }
}
