package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query per implemented operator (SURVEY §2 + the
  * large-scale extension operators). Each [[Q]] keeps the Spark plan and
  * its DuckDB oracle SQL side by side so they cannot drift.
  *
  * Oracle-parity rules used throughout (see tools/check.py for the local
  * harness that enforces them pre-commit):
  *   - every query ends in a deterministic total ORDER BY on both sides;
  *   - SUM/AVG over doubles goes through an exact DECIMAL cast and back to
  *     double (order-independent, so partial aggregation can't change the
  *     result), e.g. CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE);
  *   - cross-engine hashing uses md5-derived longs (functions.HashFns),
  *     never Spark-specific hash()/xxhash64();
  *   - aggregate/computed columns carry identical aliases on both sides.
  */
final case class Q(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Queries {
  private def groups: Seq[Seq[Q]] = Seq(
    QueriesRelational.qs,
    QueriesCoverage.qs,
    QueriesSources.qs,
    QueriesDatasets.qs,
    QueriesText.qs,
    QueriesSimilarity.qs,
    QueriesEvents.qs,
    QueriesMultimodal.qs,
    QueriesGovernance.qs
  )

  lazy val all: Map[String, (SparkSession, String) => DataFrame] =
    groups.flatten.map(q => q.name -> q.spark).toMap

  lazy val oracles: Map[String, String] =
    groups.flatten.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Coarse family tag for reporting (Bench subtotals, targeted CI
    * runs). Name-convention based, no per-query annotation:
    *  - "parity": the SURVEY §2 reference-coverage queries — the
    *    numbered §2 ids (q_p1.., q_f18.., q_a10.., q_s4.., q_w1..,
    *    q_j2.., q_u2.., q_n3.., q_o1..), the dataset-pipeline replays
    *    (q_ds_*), and the §2 spatial/GPX items (q_geo_*, q_gpx_*);
    *  - "twin": scale-path siblings of a labeled baseline — the
    *    banded/bucketed/aggregate re-expressions (suffixes _lsh,
    *    _indexed, _agg, _approx) that exist to survive 100 TB where
    *    their exact sibling is the recall baseline;
    *  - "extension": everything else (the LLM-pipeline operator
    *    library: text/similarity/events/governance/lake/streaming).
    * Coarse on purpose: subtotals and CI filters need stable buckets,
    * not a taxonomy — a query's authoritative story stays in its own
    * registration comment.
    */
  def family(name: String): String =
    // Twin suffixes are tested FIRST (r12 advice): a §2-numbered scale
    // twin like q_u2_dedup_keep_first_agg is a scale-path sibling, not
    // parity coverage — its exact §2 base query carries the parity tag.
    if (name.endsWith("_lsh") || name.endsWith("_indexed")
        || name.endsWith("_agg") || name.endsWith("_approx")
        || name.endsWith("_stratified"))
      "twin"
    else if (name.matches("q_[pfawjuons]\\d+.*") || name.startsWith("q_ds_")
        || name.startsWith("q_geo_") || name.startsWith("q_gpx_"))
      "parity"
    else "extension"

  /** Shared Verify/Bench query-selection filter.
    *  - SPARK_GRAFT_ONLY=p1,p2 — prefix filter (the long-standing
    *    local-iteration contract; the driver never sets it);
    *  - SPARK_GRAFT_ONLY_EXACT=1 — makes ONLY exact-name: Bench's
    *    fresh-JVM rerun child and `tools/run_isolated.sh` set this,
    *    because timing q_text_quality_prune alone must not also run
    *    q_text_quality_prune_approx in the same JVM;
    *  - SPARK_GRAFT_FAMILY=parity|twin|extension — family filter, so a
    *    §2-regression check costs the parity family's ~30 s, not the
    *    full suite (documented in README).
    */
  def selected(name: String): Boolean = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    val exact = sys.env.get("SPARK_GRAFT_ONLY_EXACT").contains("1")
    val onlyOk = only.forall(_.exists(p =>
      if (exact) name == p else name.startsWith(p)))
    val famOk = sys.env.get("SPARK_GRAFT_FAMILY")
      .forall(f => family(name) == f)
    onlyOk && famOk
  }

  /** True when any selection filter is active — a filtered Bench run
    * must not clobber BENCH_LOCAL.json.
    */
  def filtered: Boolean =
    sys.env.contains("SPARK_GRAFT_ONLY") ||
      sys.env.contains("SPARK_GRAFT_FAMILY")
}
