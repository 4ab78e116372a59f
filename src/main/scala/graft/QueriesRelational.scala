package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Bins, TimeFns, UnitFns}
import graft.operators.{Dedup, Scaffold, Windows}
import graft.sources.Tables

/** Relational operator inventory (SURVEY §2.2–§2.9) expressed over the
  * driver testdata. Query names carry the SURVEY ids they cover.
  */
object QueriesRelational {

  /** Exact, order-independent sum of a 2-decimal double column. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")
  private def dsumSql(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(18,2))) AS DOUBLE)"

  /** Exact mean: decimal sum / count, both as double. */
  private def davg(c: Column): Column = dsum(c) / count(c)
  private def davgSql(e: String): String = s"${dsumSql(e)} / COUNT($e)"

  /** Sketch size shared by q_profile_kmv_setops' Spark side AND its
    * DuckDB oracle (r13 advice: the SQL hardcoded 256/255, so changing
    * the Scala k silently desynchronized the two engines).
    */
  private val KmvK = 256

  /** DuckDB mirror of KMV.estimateDistinct over (m, hk) columns —
    * shared by every KMV oracle so the estimator formula exists once.
    */
  private def kmvEstCaseSql(m: String, hk: String): String =
    s"CASE WHEN $m < $KmvK THEN CAST($m AS DOUBLE) " +
      s"ELSE (CAST(${KmvK - 1} AS DOUBLE) * " +
      "POWER(CAST(2 AS DOUBLE), 60)) " +
      s"/ CAST($hk AS DOUBLE) END"

  /** Shared CTE chain of the per-source KMV sketch oracles (shingle →
    * hash → per-source k-min → pairwise union sketch → rho/m/hk),
    * ending at `ua`. q_profile_kmv_setops appends its exact
    * certification sides (ex, ei); q_profile_kmv_setops_lake consumes
    * it as-is — ONE body, so the two replays cannot drift (the
    * contaminationSqlOver discipline).
    */
  private lazy val kmvSketchCtesSql: String = {
    import graft.functions.HashFns
    s"""sh AS (
       |  SELECT d.source, substr(d.text, CAST(i AS INT), 5) AS shingle
       |  FROM documents d,
       |       unnest(range(1, greatest(length(d.text)-3, 1))) t(i)),
       |hh AS (SELECT DISTINCT source,
       |         ${HashFns.md5LongSql("shingle")} AS h FROM sh),
       |km AS (SELECT source, h, row_number() OVER (
       |         PARTITION BY source ORDER BY h) AS rn FROM hh),
       |sk AS (SELECT source, h FROM km WHERE rn <= $KmvK),
       |sz AS (SELECT source, count(*) AS m, max(h) AS hk
       |       FROM sk GROUP BY source),
       |est AS (SELECT source, ${kmvEstCaseSql("m", "hk")} AS est_d
       |        FROM sz),
       |pr AS (SELECT a.source AS src_a, b.source AS src_b
       |       FROM sz a JOIN sz b ON a.source < b.source),
       |uh AS (SELECT p.src_a, p.src_b, s.h
       |       FROM pr p JOIN sk s ON s.source = p.src_a
       |       UNION
       |       SELECT p.src_a, p.src_b, s.h
       |       FROM pr p JOIN sk s ON s.source = p.src_b),
       |ur AS (SELECT src_a, src_b, h, row_number() OVER (
       |         PARTITION BY src_a, src_b ORDER BY h) AS rn FROM uh),
       |us AS (SELECT src_a, src_b, h FROM ur WHERE rn <= $KmvK),
       |mf AS (SELECT u.src_a, u.src_b, u.h,
       |         CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
       |           THEN 1 ELSE 0 END AS in_both
       |       FROM us u
       |       LEFT JOIN sk sa ON sa.source = u.src_a AND sa.h = u.h
       |       LEFT JOIN sk sb ON sb.source = u.src_b AND sb.h = u.h),
       |ua AS (SELECT src_a, src_b, count(*) AS m, max(h) AS hk,
       |         sum(in_both) AS rho
       |       FROM mf GROUP BY 1, 2)""".stripMargin
  }

  /** One-time, dataset-keyed build of the per-source KMV sketch lake
    * (q_profile_kmv_setops_lake): write-once k-min arrays, one row per
    * source, built by the sketch-only production path — the bounded
    * aggregator dedups inside reduce/merge, so NO distinct shuffle
    * precedes the group-by (the plan q_profile_kmv_setops' scaladoc
    * promises for 100 TB, here actually executed). Idempotent per
    * (JVM, dataset); the dir is dsScoped so cross-dataset sweeps
    * cannot pollute it (the r13 hll_catalog lesson). The guard is a
    * SET of built datasets, not a last-dataset slot: the dirs are
    * dataset-keyed, so a lake built for A stays valid while B runs —
    * alternating datasets in one JVM must not rebuild A's still-valid
    * artifacts (the once-per-(JVM, dataset) semantics, literally).
    */
  private val kmvLakeBuilt = scala.collection.mutable.Set.empty[String]
  private def buildKmvSourceLake(s: org.apache.spark.sql.SparkSession,
                                 d: String): Unit =
    this.synchronized {
      val dir = QueriesSources.dsScoped("kmv_source_sketches", d)
      // The memo alone is not proof the artifact still exists: if the
      // tmp dir was wiped (or a prior write died between mkdir and
      // commit) while this JVM lives, trusting the set would hand the
      // serve a missing/partial lake. Trust the memo only when the
      // write's _SUCCESS marker is also on disk, and record the
      // dataset only AFTER a verified write (r14 advice).
      val success = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
      val fs = success.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!kmvLakeBuilt.contains(d) || !fs.exists(success)) {
        val hh = graft.operators.Similarity.hashedShingles(
          graft.operators.Similarity.charShingles(
            Tables.documents(s, d), "source", "text", 5), "source")
        graft.operators.KMV.sketch(hh, "source", "h", KmvK)
          .write.mode("overwrite").parquet(dir)
        require(fs.exists(success), s"kmv lake write left no _SUCCESS: $dir")
        kmvLakeBuilt += d
      }
    }

  /** Once-per-(JVM, dataset, process) build of q_profile_mg_served's
    * two heavy-hitter sketch lakes (≤ k-row Misra–Gries summaries +
    * d×w count-min grids, 4 deterministic micro-batches keyed by
    * `pmod(l_orderkey, 4)`) — the [[buildKmvSourceLake]] convention:
    * at 100 TB the stream writes the lake ONCE; re-ingesting the whole
    * corpus per probe would be the anti-pattern the serve face exists
    * to avoid. Process-scoped (QueriesSources.procScoped) so two
    * harness JVMs can't race each other's builds; memo trusted only
    * when the LAST batch's _SUCCESS is on disk in BOTH lakes (the r14
    * advice rule), and a partial history is wiped before rebuilding
    * because the writers' lineage guard correctly refuses a batch-0
    * restart over existing batches.
    */
  private val mgServedBuilt = scala.collection.mutable.Set.empty[String]
  private def buildMgServedLakes(s: org.apache.spark.sql.SparkSession,
                                 d: String,
                                 keys: org.apache.spark.sql.DataFrame,
                                 k: Int, depth: Int, width: Int,
                                 force: Boolean = false)
      : (String, String) =
    this.synchronized {
      import graft.streaming.EventStreams
      val base = QueriesSources.procScoped("mg_served_lakes", d)
      val (mgDir, cmDir) = (s"$base/mg", s"$base/cm")
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
      def done = Seq(mgDir, cmDir).forall(dir => fs.exists(
        new org.apache.hadoop.fs.Path(s"$dir/batch=3/_SUCCESS")))
      // `force` (the q_sim_lsh_incremental_lake convention, r15 verdict
      // item 6): the _build face's registered cost IS the 4-batch
      // ingest, so it wipes and rebuilds every run — the build cost is
      // a benched number, not a once-per-process memo. A rebuild is
      // serve-safe: the CM grid is deterministic (cell-wise counts) and
      // the serve face only asserts the MG no-false-negative guarantee,
      // which every valid build satisfies.
      if (force || !mgServedBuilt.contains(d) || !done) {
        fs.delete(basePath, true)
        (0 until 4).foreach { b =>
          val batch = keys.filter(col("__b") === b).select(col("key"))
          EventStreams.mgIngestBatch(batch, b.toLong, "key", k, mgDir)
          EventStreams.sketchIngestBatch(batch, b.toLong, "key",
            depth, width, cmDir)
        }
        require(done, s"mg_served lake build left no final _SUCCESS: $base")
        mgServedBuilt += d
      }
      (mgDir, cmDir)
    }

  /** Shared by q_agg_percentiles and q_agg_percentiles_hist — the two
    * plans must stay answer-identical, so they share ONE oracle.
    */
  private lazy val percentilesOracle: String = {
    def q(p: String) = graft.functions.Stabilize.stabSql(
      s"quantile_cont(l_extendedprice, $p)", 6)
    s"""SELECT l_returnflag,
       |  ${q("0.5")} AS p50,
       |  ${q("0.9")} AS p90,
       |  ${q("0.99")} AS p99,
       |  count(*) AS n
       |FROM lineitem GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin
  }

  /** Exact sum for 4-decimal products like extendedprice*(1-discount). */
  private def dsum4(c: Column): Column =
    sum(c.cast("decimal(28,4)")).cast("double")
  private def dsum4Sql(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(28,4))) AS DOUBLE)"

  val qs: Seq[Q] = Seq(

    // ---------------------------------------------------------------- P1/P9
    Q("q_p1_project_rename",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 500)
        .select(
          col("l_orderkey").as("okey"),
          col("l_linenumber").as("line"),
          col("l_quantity").as("qty"),
          col("l_extendedprice").as("price"))
        .orderBy(col("okey"), col("line")),
      Some("""SELECT l_orderkey AS okey, l_linenumber AS line,
             |       l_quantity AS qty, l_extendedprice AS price
             |FROM lineitem WHERE l_orderkey < 500
             |ORDER BY okey, line""".stripMargin)),

    // ---------------------------------------------------------------- P5/P6
    Q("q_p5_filter_eq",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F" && col("o_orderpriority") =!= "3-MEDIUM")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_custkey, o_orderpriority
             |FROM orders
             |WHERE o_orderstatus = 'F' AND o_orderpriority <> '3-MEDIUM'
             |ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------ P7
    Q("q_p7_substring_filter",
      (s, d) => Tables.part(s, d)
        .filter(lower(col("p_type")).contains("econo"))
        .select(col("p_partkey"), col("p_name"), col("p_type"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, p_name, p_type FROM part
             |WHERE lower(p_type) LIKE '%econo%'
             |ORDER BY p_partkey""".stripMargin)),

    // ------------------------------------------------------------------ P8
    Q("q_p8_range_filter",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
                col("o_orderdate") < lit("1997-07-01"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-07-01'
             |ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------ F5
    Q("q_f5_calendar_features",
      (s, d) => Tables.orders(s, d)
        .select(to_date(col("o_orderdate")).as("cal_date")).distinct()
        .select(
          col("cal_date"),
          year(col("cal_date")).as("yr"),
          quarter(col("cal_date")).as("qtr"),
          month(col("cal_date")).as("mon"),
          date_format(col("cal_date"), "MMM").as("mon_abbrev"),
          date_format(col("cal_date"), "MMMM").as("mon_name"),
          weekofyear(col("cal_date")).as("iso_week"),
          expr("extract(YEAROFWEEK FROM cal_date)").as("iso_year"),
          dayofmonth(col("cal_date")).as("dom"),
          (expr("weekday(cal_date)") + 1).as("iso_dow"))
        .orderBy(col("cal_date")),
      Some("""SELECT CAST(o_orderdate AS DATE) AS cal_date,
             |  date_part('year', o_orderdate) AS yr,
             |  date_part('quarter', o_orderdate) AS qtr,
             |  date_part('month', o_orderdate) AS mon,
             |  strftime(o_orderdate, '%b') AS mon_abbrev,
             |  monthname(o_orderdate) AS mon_name,
             |  date_part('week', o_orderdate) AS iso_week,
             |  date_part('isoyear', o_orderdate) AS iso_year,
             |  date_part('day', o_orderdate) AS dom,
             |  date_part('isodow', o_orderdate) AS iso_dow
             |FROM (SELECT DISTINCT o_orderdate FROM orders)
             |ORDER BY cal_date""".stripMargin)),

    // ------------------------------------------------------------- F18/F19
    Q("q_f18_binning",
      (s, d) => Tables.lineitem(s, d)
        .select(Bins.binLabel(col("l_quantity"), Bins.distanceBins).as("qty_group"),
                Bins.binId(col("l_quantity"), Bins.distanceBins).as("qty_group_id"))
        .groupBy(col("qty_group"), col("qty_group_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("qty_group_id")),
      Some("""SELECT CASE
             |  WHEN l_quantity >= 13 THEN '13km+'
             |  WHEN l_quantity >= 10 THEN '10-13km'
             |  WHEN l_quantity >= 7 THEN '7-10km'
             |  WHEN l_quantity >= 5 THEN '5-7km'
             |  WHEN l_quantity >= 3 THEN '3-5km'
             |  WHEN l_quantity >= 0 THEN '0-3km' END AS qty_group,
             |CASE
             |  WHEN l_quantity >= 13 THEN 6
             |  WHEN l_quantity >= 10 THEN 5
             |  WHEN l_quantity >= 7 THEN 4
             |  WHEN l_quantity >= 5 THEN 3
             |  WHEN l_quantity >= 3 THEN 2
             |  WHEN l_quantity >= 0 THEN 1 END AS qty_group_id,
             |count(*) AS n
             |FROM lineitem GROUP BY 1, 2 ORDER BY qty_group_id""".stripMargin)),

    // -------------------------------------------------- F6-F11 round trip
    Q("q_f7_time_parse_roundtrip",
      (s, d) => {
        val base = Tables.lineitem(s, d)
          .filter(col("l_orderkey") < 2000)
          .select(col("l_orderkey"), col("l_linenumber"),
            concat(col("l_linenumber").cast("string"), lit(":"),
              lpad(col("l_quantity").cast("int").cast("string"), 2, "0"),
              lit(".5")).as("raw"))
        base.select(
            col("l_orderkey"), col("l_linenumber"), col("raw"),
            TimeFns.mmssToSeconds(TimeFns.dropMilliseconds(col("raw"))).as("sec"),
            TimeFns.standardizeHms(TimeFns.dropMilliseconds(col("raw"))).as("hms_std"))
          .withColumn("hms_fmt", TimeFns.secondsToHms(col("sec")))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""WITH base AS (
             |  SELECT l_orderkey, l_linenumber,
             |    CAST(l_linenumber AS VARCHAR) || ':' ||
             |      lpad(CAST(CAST(l_quantity AS INT) AS VARCHAR), 2, '0') || '.5' AS raw
             |  FROM lineitem WHERE l_orderkey < 2000),
             |parsed AS (
             |  SELECT l_orderkey, l_linenumber, raw,
             |    CAST(string_split(string_split(raw,'.')[1], ':')[1] AS BIGINT) * 60 +
             |      CAST(string_split(string_split(raw,'.')[1], ':')[2] AS BIGINT) AS sec,
             |    '0:' || string_split(raw,'.')[1] AS hms_std
             |  FROM base)
             |SELECT l_orderkey, l_linenumber, raw, sec, hms_std,
             |  printf('%d:%02d:%02d', sec//3600, (sec%3600)//60, sec%60) AS hms_fmt
             |FROM parsed ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ------------------------------------------------------- F15/F16/F17
    Q("q_f15_unit_conversions",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 1000)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          UnitFns.cmToKm(col("l_extendedprice")).as("as_km"),
          UnitFns.msToSeconds(col("l_extendedprice")).as("as_sec"),
          UnitFns.secondsToHours(col("l_extendedprice")).as("as_hr"),
          UnitFns.sentinelToDefault(
            when(col("l_linenumber") === 1, lit("--"))
              .otherwise(format_string("%.2f", col("l_extendedprice"))))
            .as("cleaned"),
          UnitFns.flag(col("l_quantity") > 25).as("is_big"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_extendedprice / 100000.0 AS as_km,
             |  l_extendedprice / 1000.0 AS as_sec,
             |  round(l_extendedprice / 3600.0, 1) AS as_hr,
             |  CASE WHEN l_linenumber = 1 THEN 0.0
             |       ELSE CAST(replace(printf('%.2f', l_extendedprice), ',', '') AS DOUBLE)
             |  END AS cleaned,
             |  CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS is_big
             |FROM lineitem WHERE l_orderkey < 1000
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // -------------------------------------------------------------- A1
    Q("q_a1_group_min",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(min(col("o_totalprice")).as("min_price"),
             max(col("o_totalprice")).as("max_price"),
             min(col("o_orderdate")).as("first_date"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority, min(o_totalprice) AS min_price,
             |       max(o_totalprice) AS max_price, min(o_orderdate) AS first_date
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // -------------------------------------------------------------- A2
    Q("q_a2_group_mean",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(davg(col("l_extendedprice")).as("avg_price"),
             davg(col("l_quantity")).as("avg_qty"),
             count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      Some(s"""SELECT l_returnflag,
              |  ${davgSql("l_extendedprice")} AS avg_price,
              |  ${davgSql("l_quantity")} AS avg_qty,
              |  count(*) AS n
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // -------------------------------------------------------------- A3/A4
    Q("q_a3_global_agg",
      (s, d) => Tables.lineitem(s, d)
        .agg(dsum(col("l_extendedprice")).as("total_price"),
             dsum(col("l_quantity")).as("total_qty"),
             count(lit(1)).as("n_rows"),
             countDistinct(col("l_orderkey")).as("n_orders")),
      Some(s"""SELECT ${dsumSql("l_extendedprice")} AS total_price,
              |  ${dsumSql("l_quantity")} AS total_qty,
              |  count(*) AS n_rows,
              |  count(DISTINCT l_orderkey) AS n_orders
              |FROM lineitem""".stripMargin)),

    Q("q_a4_filtered_count",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_totalprice") >= 200000.0)
        .agg(count(lit(1)).as("n")),
      Some("SELECT count(*) AS n FROM orders WHERE o_totalprice >= 200000.0")),

    // -------------------------------------------------------------- A5/A6
    Q("q_a5_a6_profile",
      (s, d) => {
        val o = Tables.orders(s, d)
        // Single multi-agg pass (SURVEY §7.4#8): one job profiles every
        // column's null count + distinct count, instead of one job each.
        val aggs = o.columns.toSeq.flatMap { c =>
          Seq(sum(col(c).isNull.cast("long")).as(s"nulls_$c"),
              countDistinct(col(c)).as(s"distinct_$c"))
        }
        o.agg(aggs.head, aggs.tail: _*)
      },
      Some {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        // CAST ... AS BIGINT: DuckDB's SUM over integers returns HUGEINT
        // (surfaces as float64) while Spark emits int64 — hash parity
        // requires pinning the oracle side to int64.
        val items = cols.flatMap { c =>
          Seq(s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_$c",
              s"count(DISTINCT $c) AS distinct_$c")
        }
        s"SELECT ${items.mkString(", ")} FROM orders"
      }),

    // ------------------------------------- robust outlier gate (MAD)
    // Median/MAD outlier detection — the robust z-score gate that mean/
    // stddev gates get wrong under the very outliers being hunted.
    // Composes the histogram percentile twice (median, then median of
    // |x − med|), each a distributed two-phase aggregate whose 1-row
    // result broadcasts into a fully parallel filter — the same
    // agg+broadcast shape as the corpus-quantile prune, never a sort
    // or a single value buffer. events.value sits on a 0.01 grid, so
    // the histogram's bounded-distinct contract holds for both passes
    // (|x − stab6(med)| inherits a bounded grid). Both cutoffs are
    // 6-decimal-stabilized; dev arithmetic on exact doubles then agrees
    // across engines bit-for-bit.
    Q("q_agg_mad_outliers",
      (s, d) => {
        def stab6(c: Column) = graft.functions.Stabilize.stab(c, 6)
        // Tables.spread (r16): ev's lineage executes three times (med
        // histogram, dev for mad, dev for the final filter), each from
        // a single-task scan; the spread parallelizes all three passes
        // and its exchange is shared by subtree reuse
        val ev = Tables.spread(s, d, "events")
          .select(col("event_id"), col("value").as("v"))
        val med = graft.operators.Percentiles
          .exactByHistogram(ev, "v", 0.5, "med_raw")
          .select(stab6(col("med_raw")).as("med"))
        val dev = ev.crossJoin(broadcast(med))
          .withColumn("dev", abs(col("v") - col("med")))
        val mad = graft.operators.Percentiles
          .exactByHistogram(dev, "dev", 0.5, "mad_raw")
          .select(stab6(col("mad_raw")).as("mad"))
        dev.crossJoin(broadcast(mad))
          .filter(col("dev") > lit(4.5) * col("mad"))
          .select(col("event_id"), col("v"), col("med"), col("mad"))
          .orderBy(col("event_id"))
      },
      Some {
        def st(e: String) = graft.functions.Stabilize.stabSql(e, 6)
        s"""WITH m AS (
           |  SELECT ${st("quantile_cont(value, 0.5)")} AS med FROM events),
           |d AS (
           |  SELECT event_id, value AS v, med, abs(value - med) AS dev
           |  FROM events, m),
           |md AS (SELECT ${st("quantile_cont(dev, 0.5)")} AS mad FROM d)
           |SELECT event_id, v, med, mad FROM d, md
           |WHERE dev > 4.5 * mad ORDER BY event_id""".stripMargin
      }),

    // ------------------------------------------- equi-depth binning
    // ntile()-style feature bucketing WITHOUT ntile's global sort: one
    // multi-p histogram aggregate finds the 20/40/60/80 boundaries
    // (groupedExactByHistogram over a literal group = all quantiles in
    // ONE pass over the histogram), the 1-row boundary frame broadcasts
    // into a parallel CASE assignment, and the per-bucket rollup is an
    // ordinary partial-agg groupBy. Boundaries are 6-decimal-stabilized;
    // assignments then agree across engines exactly (2-decimal values
    // vs a 1e-6 grid never straddle).
    Q("q_agg_equidepth_bins",
      (s, d) => {
        def stab6(c: Column) = graft.functions.Stabilize.stab(c, 6)
        // Tables.spread was MEASURED here in r16 and reverted (1.85 ->
        // 2.08 s): both consumers are histogram partial-aggs that
        // reduce well map-side, so the spread's exchange outweighs the
        // parallelism it buys
        val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("v"))
        val bounds = graft.operators.Percentiles
          .groupedExactByHistogram(li.withColumn("__one", lit(1)),
            Seq("__one"), "v",
            Seq(0.2 -> "b1", 0.4 -> "b2", 0.6 -> "b3", 0.8 -> "b4"))
          .select(stab6(col("b1")).as("b1"), stab6(col("b2")).as("b2"),
            stab6(col("b3")).as("b3"), stab6(col("b4")).as("b4"))
        li.crossJoin(broadcast(bounds))
          .withColumn("bucket",
            when(col("v") <= col("b1"), 1L).when(col("v") <= col("b2"), 2L)
              .when(col("v") <= col("b3"), 3L).when(col("v") <= col("b4"), 4L)
              .otherwise(5L))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
            max(col("v")).as("hi"))
          .orderBy(col("bucket"))
      },
      Some {
        def st(p: String) = graft.functions.Stabilize.stabSql(
          s"quantile_cont(l_extendedprice, $p)", 6)
        s"""WITH b AS (
           |  SELECT ${st("0.2")} AS b1, ${st("0.4")} AS b2,
           |         ${st("0.6")} AS b3, ${st("0.8")} AS b4
           |  FROM lineitem)
           |SELECT CAST(CASE
           |    WHEN l_extendedprice <= b1 THEN 1
           |    WHEN l_extendedprice <= b2 THEN 2
           |    WHEN l_extendedprice <= b3 THEN 3
           |    WHEN l_extendedprice <= b4 THEN 4
           |    ELSE 5 END AS BIGINT) AS bucket,
           |  count(*) AS n, min(l_extendedprice) AS lo,
           |  max(l_extendedprice) AS hi
           |FROM lineitem, b GROUP BY 1 ORDER BY bucket""".stripMargin
      }),

    // -------------------------------------- A6 scale path certification
    // Profiling at 100 TB swaps exact countDistinct for the mergeable
    // single-pass HLL sketch (Profile.stats(exact = false)); this report
    // certifies that swap at test scale. n_distinct is the exact answer
    // (hash-checked against DuckDB count(DISTINCT)); sketch_ok asserts
    // the HLL estimate landed within 5% — deterministic for fixed data,
    // so the oracle pins it to literal TRUE. Four columns cover the
    // cardinality classes (high key / bounded numeric / 3-value flag /
    // date): each exact-distinct aggregate adds an Expand branch, so
    // column count is plan width, not extra certification value.
    Q("q_profile_approx_distinct", {
        val cols = Seq("l_partkey", "l_quantity", "l_returnflag", "l_shipdate")
        // Tables.spread was MEASURED here in r16 and reverted (5.58 ->
        // 5.75 s): the Expand ×4 multiplies the spread's shuffle rows,
        // and the exact-distinct partial aggregation already reduces
        // poorly (high-cardinality keys), so the exchange buys nothing
        (s, d) => graft.operators.Profile
          .distinctSketchReport(Tables.lineitem(s, d), cols)
      },
      Some {
        val cols = Seq("l_partkey", "l_quantity", "l_returnflag", "l_shipdate")
        cols.map(c =>
            s"SELECT '$c' AS col_name, count(DISTINCT $c) AS n_distinct, " +
              s"TRUE AS sketch_ok FROM lineitem")
          .mkString("", " UNION ALL ", " ORDER BY col_name")
      }),

    // ------------------------------------ frequency-sketch certification
    // The frequency sibling of the HLL certification above: heavy-hitter
    // detection via a count-min sketch (operators/CountMin — d=3 rows ×
    // w=256 buckets, constant size at any corpus scale, cell-wise
    // mergeable so Spark's partial aggregation IS the sketch merge).
    // The report takes the true top-10 keys (the exact side the sketch
    // replaces at scale), probes the sketch for each, and emits the
    // one-sided overshoot — cm_estimate >= exact_n always, and the gap
    // is colliding keys' mass. Hashes are the md5 family, so the oracle
    // replays every cell count and min-probe bit-exactly.
    Q("q_profile_heavy_hitters",
      (s, d) => {
        import graft.operators.CountMin
        val keys = Tables.lineitem(s, d)
          .select(col("l_partkey").cast("string").as("key"))
        val sk = CountMin.sketch(keys, "key", depth = 3, width = 256)
        val top = keys.groupBy(col("key")).agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("key")).limit(10)
        CountMin.estimate(top, "key", sk, depth = 3, width = 256)
          .select(col("key"), col("exact_n"), col("cm_estimate"),
            (col("cm_estimate") - col("exact_n")).as("over_count"))
          .orderBy(col("exact_n").desc, col("key"))
      },
      Some {
        import graft.functions.HashFns
        def cellSql(src: String) =
          s"""SELECT $src.*, CAST(t.d AS INT) AS d,
             |    (CASE CAST(t.d AS INT)
             |       WHEN 0 THEN ${HashFns.hashFamilySql("h", 0)}
             |       WHEN 1 THEN ${HashFns.hashFamilySql("h", 1)}
             |       WHEN 2 THEN ${HashFns.hashFamilySql("h", 2)}
             |     END) % 256 AS bucket
             |  FROM $src, unnest(range(3)) t(d)""".stripMargin
        s"""WITH k AS (
           |  SELECT CAST(l_partkey AS VARCHAR) AS key FROM lineitem),
           |hh AS (SELECT key, ${HashFns.md5LongSql("key")} AS h FROM k),
           |cells AS (${cellSql("hh")}),
           |sk AS (SELECT d, bucket, count(*) AS c FROM cells
           |       GROUP BY d, bucket),
           |top AS (
           |  SELECT key, count(*) AS exact_n FROM k GROUP BY key
           |  ORDER BY exact_n DESC, key LIMIT 10),
           |th AS (SELECT key, exact_n, ${HashFns.md5LongSql("key")} AS h
           |       FROM top),
           |probes AS (${cellSql("th")}),
           |est AS (
           |  SELECT key, exact_n, min(c) AS cm_estimate
           |  FROM probes JOIN sk USING (d, bucket)
           |  GROUP BY key, exact_n)
           |SELECT key, exact_n, cm_estimate,
           |  cm_estimate - exact_n AS over_count
           |FROM est ORDER BY exact_n DESC, key""".stripMargin
      }),

    // ----------------------------------- exact heavy-hitter detection
    // The ENUMERATION face of the frequency family: count-min (above)
    // estimates a given key, but listing the frequent keys without a
    // candidate source is the real 100 TB ask ("which domains exceed
    // 1/64 of the crawl") — and the naive candidate source, a full
    // groupBy(key), shuffles one row per distinct key. HeavyHitters
    // .exact bounds it with a mergeable Misra–Gries summary (k counters
    // per partial, merged by partial aggregation; its key set provably
    // contains every key with count > n/(k+1) under any partitioning)
    // and then re-counts only the <= k candidates behind a broadcast
    // isin probe — the second scan's shuffle is tasks × k rows however
    // many distinct keys exist. Output is the EXACT strict-threshold
    // set, so the oracle is a plain GROUP BY / HAVING replay. The skew
    // regime is constructed deterministically (the engine's skew-
    // fixture discipline): 5 hot keys at ~2% of rows over a ~2000-key
    // uniform tail at ~0.05% — distinct >> k, so the sketch phase
    // genuinely evicts, and only the hot keys clear the 1/64 bar.
    Q("q_profile_heavy_hitters_exact",
      (s, d) => {
        val keys = Tables.lineitem(s, d).select(
          when(col("l_quantity") <= 5,
            concat(lit("hot_"),
              col("l_quantity").cast("int").cast("string")))
            .otherwise(col("l_partkey").cast("string")).as("key"))
        graft.operators.HeavyHitters.exact(keys, "key", k = 63)
          .orderBy(col("exact_n").desc, col("key"))
      },
      Some("""WITH k AS (
             |  SELECT CASE WHEN l_quantity <= 5
             |    THEN 'hot_' || CAST(CAST(l_quantity AS INT) AS VARCHAR)
             |    ELSE CAST(l_partkey AS VARCHAR) END AS key
             |  FROM lineitem),
             |n AS (SELECT count(*) AS n FROM k)
             |SELECT key, count(*) AS exact_n,
             |  (SELECT n FROM n) AS total_n
             |FROM k GROUP BY key
             |HAVING count(*) * 64 > (SELECT n FROM n)
             |ORDER BY exact_n DESC, key""".stripMargin)),

    // -------------------------------- weighted heavy-hitter detection
    // The WEIGHTED face of the exact detector above: "which keys exceed
    // 1/64 of total REVENUE/bytes", not of row count. Same two bounded
    // passes, with the weighted Misra–Gries rule (fold the arriving
    // weight in, shrink by subtracting the (k+1)-th largest — the
    // undercount stays <= W/(k+1) because each unit subtracted charges
    // k+1 units of input mass, so the candidate superset guarantee
    // carries over to weights). Money is fixed-pointed to integer
    // cents BEFORE summing, so both engines' totals — and the strict
    // threshold filter — are exact integer arithmetic, no float-sum
    // ordering hazards. The skew regime mirrors the unweighted twin
    // but keys the HIGH-quantity rows (weight ∝ price ∝ quantity in
    // the TPC-H shape): 5 hot keys at ~2% of total cents each over the
    // ~2000-key tail.
    Q("q_profile_heavy_hitters_weighted",
      (s, d) => {
        val keys = Tables.lineitem(s, d).select(
          when(col("l_quantity") >= 46,
            concat(lit("hot_"),
              col("l_quantity").cast("int").cast("string")))
            .otherwise(col("l_partkey").cast("string")).as("key"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        graft.operators.HeavyHitters.exactWeighted(keys, "key", "cents", k = 63)
          .orderBy(col("exact_w").desc, col("key"))
      },
      Some("""WITH k AS (
             |  SELECT CASE WHEN l_quantity >= 46
             |    THEN 'hot_' || CAST(CAST(l_quantity AS INT) AS VARCHAR)
             |    ELSE CAST(l_partkey AS VARCHAR) END AS key,
             |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
             |  FROM lineitem),
             |n AS (SELECT sum(cents) AS w FROM k)
             |SELECT key, CAST(sum(cents) AS BIGINT) AS exact_w,
             |  (SELECT CAST(w AS BIGINT) FROM n) AS total_w
             |FROM k GROUP BY key
             |HAVING sum(cents) * 64 > (SELECT w FROM n)
             |ORDER BY exact_w DESC, key""".stripMargin)),

    // ----------------------------- served heavy hitters (sketch lakes)
    // The SERVE face of the streaming frequency family, oracle-checked:
    // the stream is replayed as 4 deterministic micro-batches through
    // the two batch-keyed ingest writers (EventStreams.mgIngestBatch →
    // ≤ k-row Misra–Gries summaries; sketchIngestBatch → d×w count-min
    // grids), then servedHeavyHitters answers "which keys exceed
    // n/(k+1)" purely from the two stored lakes — no corpus rescan.
    // The lakes are built once per (JVM, dataset, process) — the
    // buildKmvSourceLake convention: at 100 TB the stream writes the
    // lake ONCE and every later probe serves from stored artifacts,
    // so warm runs here measure the serve, not a rebuild.
    // What is deterministic (and therefore hashed): the truth set
    // (exact GROUP BY/HAVING), n, and cm_estimate — per-batch CM grids
    // are exact cell counts and merge-on-read is cell-wise addition,
    // so the merged grid equals the whole-stream grid bit-for-bit
    // however the stream was batched or partitioned. What is NOT
    // deterministic (and therefore asserted, not enumerated): the MG
    // candidate set beyond the guarantee — so the output carries the
    // no-false-negative property as oracle-pinned booleans (the HLL
    // certification convention): every true heavy hitter must be
    // served (MG superset ∧ one-sided CM estimate always clears the
    // `estimate·(k+1) > n` bar) and its estimate must dominate truth.
    // Skew regime and k match q_profile_heavy_hitters_exact, so the
    // sketch phase genuinely evicts (distinct ≈ 2000 ≫ k = 63).
    Q("q_profile_mg_served",
      (s, d) => {
        import graft.streaming.EventStreams
        val k = 63; val depth = 3; val width = 256
        val keys = Tables.lineitem(s, d).select(
          when(col("l_quantity") <= 5,
            concat(lit("hot_"),
              col("l_quantity").cast("int").cast("string")))
            .otherwise(col("l_partkey").cast("string")).as("key"),
          pmod(col("l_orderkey"), lit(4)).cast("int").as("__b"))
          .cache()
        val (mgDir, cmDir) = buildMgServedLakes(s, d, keys, k,
          depth, width)
        val served = EventStreams.servedHeavyHitters(
          s, mgDir, cmDir, k, depth, width)
        val tot = keys.agg(count(lit(1)).as("total_n"))
        val truth = keys.groupBy(col("key"))
          .agg(count(lit(1)).as("exact_n"))
          .crossJoin(broadcast(tot))
          .filter(col("exact_n") * (k + 1L) > col("total_n"))
        truth
          .join(served.select(col("key"), col("cm_estimate")),
            Seq("key"), "left")
          .select(col("key"), col("exact_n"), col("total_n"),
            col("cm_estimate"),
            col("cm_estimate").isNotNull.as("served"),
            (col("cm_estimate") >= col("exact_n")).as("cm_one_sided"))
          .orderBy(col("exact_n").desc, col("key"))
      },
      Some {
        import graft.functions.HashFns
        def cellSql(src: String) =
          s"""SELECT $src.*, CAST(t.d AS INT) AS d,
             |    (CASE CAST(t.d AS INT)
             |       WHEN 0 THEN ${HashFns.hashFamilySql("h", 0)}
             |       WHEN 1 THEN ${HashFns.hashFamilySql("h", 1)}
             |       WHEN 2 THEN ${HashFns.hashFamilySql("h", 2)}
             |     END) % 256 AS bucket
             |  FROM $src, unnest(range(3)) t(d)""".stripMargin
        s"""WITH k AS (
           |  SELECT CASE WHEN l_quantity <= 5
           |    THEN 'hot_' || CAST(CAST(l_quantity AS INT) AS VARCHAR)
           |    ELSE CAST(l_partkey AS VARCHAR) END AS key
           |  FROM lineitem),
           |n AS (SELECT count(*) AS n FROM k),
           |hh AS (SELECT key, ${HashFns.md5LongSql("key")} AS h FROM k),
           |cells AS (${cellSql("hh")}),
           |sk AS (SELECT d, bucket, count(*) AS c FROM cells
           |       GROUP BY d, bucket),
           |truth AS (
           |  SELECT key, count(*) AS exact_n FROM k GROUP BY key
           |  HAVING count(*) * 64 > (SELECT n FROM n)),
           |th AS (SELECT key, exact_n, ${HashFns.md5LongSql("key")} AS h
           |       FROM truth),
           |probes AS (${cellSql("th")}),
           |est AS (
           |  SELECT key, exact_n, min(c) AS cm_estimate
           |  FROM probes JOIN sk USING (d, bucket)
           |  GROUP BY key, exact_n)
           |SELECT key, exact_n, (SELECT n FROM n) AS total_n,
           |  cm_estimate, TRUE AS served, TRUE AS cm_one_sided
           |FROM est ORDER BY exact_n DESC, key""".stripMargin
      }),

    // ------------------------- served heavy hitters: the BUILD face
    // r15 verdict item 6 (bench honesty for serve faces): the memoised
    // once-per-process lake build moved q_profile_mg_served's warm
    // median to the pure serve leg, leaving the ingest cost visible
    // only in the artifact's "first" map. This face makes the build a
    // benched, oracle-checked number of its own: every run FORCES a
    // fresh 4-batch ingest (wipe + mgIngestBatch + sketchIngestBatch
    // per batch) and returns the merged count-min grid — deterministic
    // bit-for-bit (cells are exact counts, merge-on-read is cell-wise
    // addition), so DuckDB replays it from the raw keys regardless of
    // batching. Read q_profile_mg_served's warm number as serve-only
    // NEXT TO this build number, never alone.
    Q("q_profile_mg_served_build",
      (s, d) => {
        import graft.streaming.EventStreams
        val k = 63; val depth = 3; val width = 256
        val keys = Tables.lineitem(s, d).select(
          when(col("l_quantity") <= 5,
            concat(lit("hot_"),
              col("l_quantity").cast("int").cast("string")))
            .otherwise(col("l_partkey").cast("string")).as("key"),
          pmod(col("l_orderkey"), lit(4)).cast("int").as("__b"))
          .cache()
        val (_, cmDir) = buildMgServedLakes(s, d, keys, k, depth, width,
          force = true)
        EventStreams.readSketch(s, cmDir)
          .select(col("d"), col("bucket"), col("c"))
          .orderBy(col("d"), col("bucket"))
      },
      Some {
        import graft.functions.HashFns
        s"""WITH k AS (
           |  SELECT CASE WHEN l_quantity <= 5
           |    THEN 'hot_' || CAST(CAST(l_quantity AS INT) AS VARCHAR)
           |    ELSE CAST(l_partkey AS VARCHAR) END AS key
           |  FROM lineitem),
           |hh AS (SELECT key, ${HashFns.md5LongSql("key")} AS h FROM k),
           |cells AS (
           |  SELECT CAST(t.d AS INT) AS d,
           |    CAST((CASE CAST(t.d AS INT)
           |       WHEN 0 THEN ${HashFns.hashFamilySql("h", 0)}
           |       WHEN 1 THEN ${HashFns.hashFamilySql("h", 1)}
           |       WHEN 2 THEN ${HashFns.hashFamilySql("h", 2)}
           |     END) % 256 AS INT) AS bucket
           |  FROM hh, unnest(range(3)) t(d))
           |SELECT d, bucket, CAST(count(*) AS BIGINT) AS c
           |FROM cells GROUP BY d, bucket
           |ORDER BY d, bucket""".stripMargin
      }),

    // ------------------------------------- KMV set-operation sketches
    // The third member of the sketch-certification family (HLL:
    // q_profile_approx_distinct, count-min: q_profile_heavy_hitters).
    // KMV closes the set-OPERATION gap: HLL unions, but cannot
    // estimate intersections without inclusion-exclusion error blowup;
    // a KMV sketch is a uniform sample of the distinct-value domain,
    // so one k-long array per source answers |A|, |A∪B|, |A∩B| and
    // Jaccard for every source pair — the mergeable cross-corpus
    // overlap report (the sketch twin of q_text_source_overlap's exact
    // rare-ngram matrix). At 100 TB the per-source sketches are
    // write-once artifacts merged as k-long arrays; here the exact
    // sides ride along as the certification baseline (the heavy-hitter
    // convention) — even the exact intersection join is bounded:
    // each distinct hash joins at most n_sources² pairs, never
    // corpus-quadratic. All hashes are md5Long, so sketch, estimates,
    // and set algebra replay bit-exactly in DuckDB.
    Q("q_profile_kmv_setops",
      (s, d) => {
        val k = KmvK
        val docs = Tables.documents(s, d)
        val hh = graft.operators.Similarity.hashedShingles(
          graft.operators.Similarity.charShingles(
            docs, "source", "text", 5), "source")
        // The distinct (source, h) frame feeds FOUR consumers (sketch
        // build, exact per-source counts, both exact-intersection join
        // sides) — cached, the shingle+md5 scan runs once. Sketch-only
        // production at scale skips this distinct entirely (the
        // aggregator dedups, KMV.scala); it exists here because the
        // certification baseline needs the exact frame anyway.
        // Eviction: LRU/harness-clearCache, never inline unpersist
        // (the result is lazy — the repo-wide cache contract).
        val hd = hh.distinct().cache()
        val sk = graft.operators.KMV.sketch(hd, "source", "h", k)
        val est = sk.select(col("source"), col("kmins"),
          graft.operators.KMV.estimateDistinct(col("kmins"), k)
            .as("est_d"))
        val ex = hd.groupBy(col("source"))
          .agg(count(lit(1)).as("exact_d"))
        val inter = hd.select(col("h"), col("source").as("src_a"))
          .join(hd.select(col("h"), col("source").as("src_b")), Seq("h"))
          .filter(col("src_a") < col("src_b"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("exact_inter_n"))
        val a = est.select(col("source").as("src_a"),
          col("kmins").as("__ka"), col("est_d").as("est_a"))
        val b = est.select(col("source").as("src_b"),
          col("kmins").as("__kb"), col("est_d").as("est_b"))
        // n_sources² pair frame from two sketch-row sides — a
        // broadcast nested loop over tiny inputs by construction
        val pairs = a.join(b, col("src_a") < col("src_b"))
        val exa = ex.select(col("source").as("src_a"),
          col("exact_d").as("exact_a"))
        val exb = ex.select(col("source").as("src_b"),
          col("exact_d").as("exact_b"))
        val num = lit((k - 1).toDouble * math.pow(2.0, 60))
        pairs
          .join(broadcast(exa), Seq("src_a"))
          .join(broadcast(exb), Seq("src_b"))
          .join(broadcast(inter), Seq("src_a", "src_b"), "left")
          .withColumn("exact_inter",
            coalesce(col("exact_inter_n"), lit(0L)))
          // K(A∪B) = the k smallest of K(A) ∪ K(B): KMV is closed
          // under union, so the merged array IS the union's sketch
          .withColumn("__L",
            slice(array_sort(array_union(col("__ka"), col("__kb"))),
              1, k))
          .withColumn("__m", size(col("__L")))
          .withColumn("__rho", size(filter(col("__L"),
            h => array_contains(col("__ka"), h) &&
              array_contains(col("__kb"), h))))
          .withColumn("est_union",
            when(col("__m") < k, col("__m").cast("double"))
              .otherwise(num / element_at(col("__L"), k).cast("double")))
          .withColumn("est_jaccard",
            col("__rho").cast("double") / col("__m").cast("double"))
          .select(col("src_a"), col("src_b"),
            col("exact_a"), col("exact_b"), col("exact_inter"),
            (col("exact_a") + col("exact_b") - col("exact_inter"))
              .as("exact_union"),
            col("est_a"), col("est_b"),
            (col("est_jaccard") * col("est_union")).as("est_inter"),
            col("est_union"), col("est_jaccard"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some {
        val estCaseU = kmvEstCaseSql("ua.m", "ua.hk")
        s"""WITH $kmvSketchCtesSql,
           |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS exact_d
           |       FROM hh GROUP BY source),
           |ei AS (SELECT a.source AS src_a, b.source AS src_b,
           |         CAST(count(*) AS BIGINT) AS exact_inter
           |       FROM hh a JOIN hh b ON a.h = b.h AND a.source < b.source
           |       GROUP BY 1, 2)
           |SELECT p.src_a, p.src_b,
           |  ea.exact_d AS exact_a, eb.exact_d AS exact_b,
           |  COALESCE(ei.exact_inter, 0) AS exact_inter,
           |  ea.exact_d + eb.exact_d - COALESCE(ei.exact_inter, 0)
           |    AS exact_union,
           |  sa.est_d AS est_a, sb.est_d AS est_b,
           |  (CAST(ua.rho AS DOUBLE) / CAST(ua.m AS DOUBLE))
           |    * ($estCaseU) AS est_inter,
           |  $estCaseU AS est_union,
           |  CAST(ua.rho AS DOUBLE) / CAST(ua.m AS DOUBLE) AS est_jaccard
           |FROM pr p
           |JOIN ex ea ON ea.source = p.src_a
           |JOIN ex eb ON eb.source = p.src_b
           |JOIN est sa ON sa.source = p.src_a
           |JOIN est sb ON sb.source = p.src_b
           |JOIN ua ON ua.src_a = p.src_a AND ua.src_b = p.src_b
           |LEFT JOIN ei ON ei.src_a = p.src_a AND ei.src_b = p.src_b
           |ORDER BY p.src_a, p.src_b""".stripMargin
      }),

    // ---------------------- KMV set operations SERVED from the lake
    // The production shape of the cross-corpus overlap question
    // ("how much of crawl B is already in crawl A?"): per-source KMV
    // sketches are write-once lake artifacts ([[buildKmvSourceLake]],
    // built by the NO-DISTINCT aggregator path — the sketch-only plan
    // that skips q_profile_kmv_setops' certification-side distinct
    // entirely), and the whole pairwise report — |A|, |A∪B|, |A∩B|,
    // Jaccard per source pair — is computed by merging the STORED
    // k-long arrays. No corpus scan, no exact sides, no join against
    // the data: n_sources² pairs of k-long arrays. The oracle
    // recomputes the identical estimates from the corpus in DuckDB
    // (the construction is md5Long-deterministic), so served ==
    // recomputed is hash-pinned. Under the warm-mode bench convention
    // the one-time build rides in "first"; warm runs are the pure
    // serve leg.
    Q("q_profile_kmv_setops_lake",
      (s, d) => {
        val k = KmvK
        buildKmvSourceLake(s, d)
        val sk = s.read.parquet(
          QueriesSources.dsScoped("kmv_source_sketches", d))
        val est = sk.select(col("source"), col("kmins"),
          graft.operators.KMV.estimateDistinct(col("kmins"), k)
            .as("est_d"))
        val a = est.select(col("source").as("src_a"),
          col("kmins").as("__ka"), col("est_d").as("est_a"))
        val b = est.select(col("source").as("src_b"),
          col("kmins").as("__kb"), col("est_d").as("est_b"))
        val num = lit((k - 1).toDouble * math.pow(2.0, 60))
        a.join(b, col("src_a") < col("src_b"))
          .withColumn("__L",
            slice(array_sort(array_union(col("__ka"), col("__kb"))),
              1, k))
          .withColumn("__m", size(col("__L")))
          .withColumn("__rho", size(filter(col("__L"),
            h => array_contains(col("__ka"), h) &&
              array_contains(col("__kb"), h))))
          .withColumn("est_union",
            when(col("__m") < k, col("__m").cast("double"))
              .otherwise(num / element_at(col("__L"), k).cast("double")))
          .withColumn("est_jaccard",
            col("__rho").cast("double") / col("__m").cast("double"))
          .select(col("src_a"), col("src_b"),
            col("est_a"), col("est_b"),
            (col("est_jaccard") * col("est_union")).as("est_inter"),
            col("est_union"), col("est_jaccard"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some {
        val estCaseU = kmvEstCaseSql("ua.m", "ua.hk")
        s"""WITH $kmvSketchCtesSql
           |SELECT p.src_a, p.src_b,
           |  sa.est_d AS est_a, sb.est_d AS est_b,
           |  (CAST(ua.rho AS DOUBLE) / CAST(ua.m AS DOUBLE))
           |    * ($estCaseU) AS est_inter,
           |  $estCaseU AS est_union,
           |  CAST(ua.rho AS DOUBLE) / CAST(ua.m AS DOUBLE) AS est_jaccard
           |FROM pr p
           |JOIN est sa ON sa.source = p.src_a
           |JOIN est sb ON sb.source = p.src_b
           |JOIN ua ON ua.src_a = p.src_a AND ua.src_b = p.src_b
           |ORDER BY p.src_a, p.src_b""".stripMargin
      }),

    // -------------------------------------- group-wise normalization
    // Feature engineering's z-score per group: ONE aggregate computes
    // exact decimal moments (Σv, Σv² — order-independent, so partial
    // aggregation can't move the answer), the 3-row stats frame
    // broadcasts, and the normalization is map-side. No stabilizer:
    // both engines derive mean/std from the SAME exact-decimal-rounded
    // doubles with the identical formula, so every IEEE op matches.
    // Population std (÷n) to keep the formula engine-mirrorable.
    Q("q_agg_groupwise_zscore",
      (s, d) => {
        val dec = col("l_extendedprice").cast("decimal(18,2)")
        val li = Tables.lineitem(s, d).select(col("l_orderkey"),
          col("l_linenumber"), col("l_returnflag").as("flag"),
          col("l_extendedprice").as("v"))
        // Tables.spread (r16): parallelizes the decimal moment
        // partial aggregate (single-task scan otherwise); the probe
        // side `li` stays a plain scan — it only projects + filters
        val stats = Tables.spread(s, d, "lineitem")
          .groupBy(col("l_returnflag").as("flag"))
          .agg(sum(dec).cast("double").as("s1"),
            sum((dec * dec).cast("decimal(38,4)")).cast("double").as("s2"),
            count(lit(1)).as("n"))
        li.join(broadcast(stats), Seq("flag"))
          .withColumn("mean", col("s1") / col("n"))
          .withColumn("std",
            sqrt(col("s2") / col("n") - col("mean") * col("mean")))
          .filter(col("l_orderkey") < 2000)
          .select(col("l_orderkey"), col("l_linenumber"), col("flag"),
            col("v"), ((col("v") - col("mean")) / col("std")).as("z"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""WITH st AS (
             |  SELECT l_returnflag AS flag,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
             |      AS DOUBLE) AS s1,
             |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             |        * CAST(l_extendedprice AS DECIMAL(18,2))
             |      AS DECIMAL(38,4))) AS DOUBLE) AS s2,
             |    count(*) AS n
             |  FROM lineitem GROUP BY 1)
             |SELECT l_orderkey, l_linenumber, flag, l_extendedprice AS v,
             |  (l_extendedprice - (s1/n))
             |    / sqrt(s2/n - (s1/n)*(s1/n)) AS z
             |FROM lineitem JOIN st ON l_returnflag = flag
             |WHERE l_orderkey < 2000
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ------------------------------------------- declarative checks
    // The Deequ-shaped validation gate (operators/Checks): six checks
    // over orders compile into ONE aggregation pass; the long-form
    // report carries exact metrics and pass booleans. One check is
    // deliberately failing so both verdict paths are oracle-pinned.
    Q("q_quality_checks", {
        import graft.operators.Checks._
        val checks = Seq(
          NullRateBelow("o_custkey", 0.01),
          MinAtLeast("o_totalprice", 0.0),
          MaxAtMost("o_totalprice", 1000000.0),
          DistinctAtLeast("o_orderstatus", 2L),
          SatisfiesAtLeast("o_totalprice > 0", 0.99),
          MaxAtMost("o_totalprice", 1000.0)) // deliberately failing
        (s, d) => graft.operators.Checks
          .run(Tables.orders(s, d), checks)
          .orderBy(col("seq"))
      },
      Some("""WITH m AS (SELECT
             |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) / count(*) AS m0,
             |  CAST(min(o_totalprice) AS DOUBLE) AS m1,
             |  CAST(max(o_totalprice) AS DOUBLE) AS m2,
             |  CAST(count(DISTINCT o_orderstatus) AS DOUBLE) AS m3,
             |  CAST(SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) / count(*) AS m4
             |  FROM orders)
             |SELECT * FROM (
             |  SELECT 'null_rate(o_custkey)<=0.01' AS "check",
             |    CAST(0 AS BIGINT) AS seq, m0 AS metric,
             |    m0 <= 0.01 AS passed FROM m
             |  UNION ALL SELECT 'min(o_totalprice)>=0.0',
             |    1, m1, m1 >= 0.0 FROM m
             |  UNION ALL SELECT 'max(o_totalprice)<=1000000.0',
             |    2, m2, m2 <= 1000000.0 FROM m
             |  UNION ALL SELECT 'distinct(o_orderstatus)>=2',
             |    3, m3, m3 >= 2.0 FROM m
             |  UNION ALL SELECT 'satisfies(o_totalprice > 0)>=0.99',
             |    4, m4, m4 >= 0.99 FROM m
             |  UNION ALL SELECT 'max(o_totalprice)<=1000.0',
             |    5, m2, m2 <= 1000.0 FROM m)
             |ORDER BY seq""".stripMargin)),

    // -------------------------------------------------------------- A7
    Q("q_a7_value_counts",
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type")),
      Some("""SELECT event_type, count(*) AS n FROM events
             |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin)),

    // -------------------------------------------------------------- A8
    Q("q_a8_mean_impute",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .withColumn("disc_dirty",
            when(col("l_linenumber") === 2, lit(null)).otherwise(col("l_discount")))
        // Global mean via a 1-row aggregate broadcast-cross-joined back in.
        // (An unpartitioned window would funnel the whole fact table through
        // one task — correct at sf0.1 but a guaranteed straggler/OOM at
        // cluster scale; the agg+broadcast shape stays fully parallel.)
        val meanDf = li.agg(
          (sum(col("disc_dirty").cast("decimal(18,2)")).cast("double")
            / count(col("disc_dirty"))).as("mean_disc"))
        val filled = li.crossJoin(broadcast(meanDf))
          .withColumn("disc_filled",
            coalesce(col("disc_dirty"), round(col("mean_disc"), 4)))
        filled.groupBy(col("l_returnflag"))
          .agg(sum(col("disc_filled").cast("decimal(18,4)")).cast("double")
                 .as("sum_filled"),
               count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH dirty AS (
             |  SELECT l_returnflag,
             |    CASE WHEN l_linenumber = 2 THEN NULL ELSE l_discount END AS disc_dirty
             |  FROM lineitem),
             |m AS (SELECT CAST(SUM(CAST(disc_dirty AS DECIMAL(18,2))) AS DOUBLE)
             |             / COUNT(disc_dirty) AS mean_disc FROM dirty)
             |SELECT l_returnflag,
             |  CAST(SUM(CAST(COALESCE(disc_dirty, round(mean_disc, 4))
             |       AS DECIMAL(18,4))) AS DOUBLE) AS sum_filled,
             |  count(*) AS n
             |FROM dirty, m GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // -------------------------------------------------------------- A9
    Q("q_a9_correlation",
      (s, d) => {
        // Pearson r from exact decimal co-moments: deterministic across
        // engines and partitionings (built-in corr() accumulates doubles
        // in partition order, which is not reproducible bit-for-bit).
        val li = Tables.lineitem(s, d).select(
          col("l_quantity").as("x"), col("l_extendedprice").as("y"))
        li.agg(
            count(lit(1)).cast("double").as("n"),
            sum(col("x").cast("decimal(18,2)")).cast("double").as("sx"),
            sum(col("y").cast("decimal(18,2)")).cast("double").as("sy"),
            sum((col("x") * col("y")).cast("decimal(28,4)")).cast("double").as("sxy"),
            sum((col("x") * col("x")).cast("decimal(28,4)")).cast("double").as("sxx"),
            sum((col("y") * col("y")).cast("decimal(28,4)")).cast("double").as("syy"))
          .select(
            // 12-decimal stabilized: the closing multiply-subtract is
            // FMA-sensitive cross-engine (see Correlation scaladoc)
            graft.functions.Stabilize.stab(
              (col("n") * col("sxy") - col("sx") * col("sy")) /
                sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                     (col("n") * col("syy") - col("sy") * col("sy"))), 12)
              .as("corr_qty_price"))
      },
      Some(s"""WITH s AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
             |    CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS syy
             |  FROM lineitem)
             |SELECT ${graft.operators.Correlation.stab12Sql(
               "(n*sxy - sx*sy) / sqrt((n*sxx - sx*sx)*(n*syy - sy*sy))")}
             |  AS corr_qty_price FROM s""".stripMargin)),

    // ------------------------------------------- A9 generalized: full matrix
    // The reference's df.corr() computes ALL numeric pairs (~60 cols,
    // `2024 Marathon Training Analysis.ipynb:21099`); this is the same
    // over lineitem's 8 numeric columns — 45 co-moments in ONE
    // aggregation pass (operators/Correlation), long-form output.
    Q("q_a9_corr_matrix", {
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
          "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
          "l_tax")
        (s, d) => graft.operators.Correlation
          .matrix(Tables.lineitem(s, d), cols)
          .orderBy(col("col_a"), col("col_b"))
      },
      Some(graft.operators.Correlation.matrixSql("lineitem",
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        + "\nORDER BY col_a, col_b")),

    // ------------------------------------------- exact grouped percentiles
    // Exact p50/p90/p99 per group (Spark `percentile`, linear
    // interpolation at rank p·(n−1)). Exact percentile buffers each
    // group's values — fine for low-cardinality keys like returnflag;
    // at 100 TB with high-cardinality groups use approx_percentile
    // (mergeable GK sketch) and accept the error bound. The 12-decimal
    // stabilizer guards the interpolation arithmetic, whose operation
    // ORDER differs legitimately between engines.
    Q("q_agg_percentiles",
      (s, d) => {
        def stab(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        // ONE array-percentile aggregate: each scalar percentile() agg
        // buffers (and sorts) the whole group independently, so three
        // of them tripled the aggregation state and the per-group sort;
        // the array form computes all three ranks from one buffer
        // (measured 4.0 s -> ~1.6 s at sf0.1).
        // Tables.spread (r16): the single-task scan serialized the
        // whole buffer+sort partial aggregate on one core; the spread
        // parallelizes it (merge concatenates partial buffers and
        // sorts the same multiset — order-independent, so the answer
        // is unchanged)
        Tables.spread(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))")
              .as("__ps"),
            count(lit(1)).as("n"))
          .select(col("l_returnflag"),
            stab(element_at(col("__ps"), 1)).as("p50"),
            stab(element_at(col("__ps"), 2)).as("p90"),
            stab(element_at(col("__ps"), 3)).as("p99"),
            col("n"))
          .orderBy(col("l_returnflag"))
      },
      Some(percentilesOracle)),

    // ---------------------------------- grouped percentiles, scale path
    // Same answer as q_agg_percentiles (same oracle, hash-checked), but
    // via operators/Percentiles.groupedExactByHistogram: phase 1 shuffles
    // a (group, value) histogram with map-side combine, phase 2 windows
    // over the histogram partitioned by group. No task ever buffers a
    // group's raw values, so one pathologically hot group (a single
    // returnflag holding most of 100 TB) costs O(distinct values) — the
    // per-group analogue of the q_text_quality_prune cutoff fix.
    Q("q_agg_percentiles_hist",
      (s, d) => {
        def stab(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        // n = non-null count; equal to count(*) here (l_extendedprice
        // is non-null in lineitem), matching the oracle's count(*).
        graft.operators.Percentiles.groupedExactByHistogram(
            Tables.lineitem(s, d), Seq("l_returnflag"), "l_extendedprice",
            Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99"))
          .select(col("l_returnflag"),
            stab(col("p50")).as("p50"),
            stab(col("p90")).as("p90"),
            stab(col("p99")).as("p99"),
            col("n"))
          .orderBy(col("l_returnflag"))
      },
      Some(percentilesOracle)),

    // ------------------------------------------------------------- A10/U2
    Q("q_a10_keep_latest",
      (s, d) => Dedup.keepLatest(Tables.orders(s, d),
          Seq("o_custkey"), col("o_orderdate"), Seq(col("o_orderkey").desc))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .orderBy(col("o_custkey")),
      Some("""SELECT o_custkey, o_orderkey, o_orderdate FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY o_custkey
             |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // keepLatestAgg (max_by) in the gate alongside keepFirstAgg: argmax
    // per key where the order column alone is a total order (o_orderkey
    // is unique), so the aggregate's tie contract holds by construction.
    Q("q_a10_keep_latest_agg",
      (s, d) => Dedup.keepLatestAgg(Tables.orders(s, d),
          Seq("o_custkey"), col("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey")),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
             |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    Q("q_u2_dedup_keep_first",
      (s, d) => Dedup.keepFirst(Tables.lineitem(s, d),
          Seq("l_partkey"), Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")))
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .orderBy(col("l_partkey")),
      Some("""SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY l_partkey
             |    ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
             |  FROM lineitem) WHERE rn = 1 ORDER BY l_partkey""".stripMargin)),

    // SCD2 dimension history from a change log (operators/Scd2): each
    // customer's order-status sequence compacts into [valid_from,
    // valid_to) intervals with an is_current flag — keep-latest dedup
    // is the one-interval special case of this. One key shuffle feeds
    // both windows (lag change-detect, lead interval-close);
    // comparison is null-safe (<=>), mirrored by IS DISTINCT FROM.
    Q("q_scd2_history",
      (s, d) => graft.operators.Scd2.fromChangeLog(
          Tables.orders(s, d).filter(col("o_custkey") < 300),
          keys = Seq("o_custkey"), attrs = Seq("o_orderstatus"),
          tsCol = "o_orderdate", tiebreak = Seq(col("o_orderkey")))
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderstatus")),
      Some("""WITH cp AS (
             |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
             |      ORDER BY o_orderdate, o_orderkey) AS prev
             |  FROM orders WHERE o_custkey < 300),
             |ch AS (
             |  SELECT * FROM cp
             |  WHERE prev IS DISTINCT FROM o_orderstatus),
             |iv AS (
             |  SELECT o_custkey, o_orderstatus,
             |    o_orderdate AS valid_from,
             |    lead(o_orderdate) OVER (PARTITION BY o_custkey
             |      ORDER BY o_orderdate, o_orderkey) AS valid_to
             |  FROM ch)
             |SELECT o_custkey, o_orderstatus, valid_from, valid_to,
             |  valid_to IS NULL AS is_current
             |FROM iv
             |ORDER BY o_custkey, valid_from, o_orderstatus""".stripMargin)),

    // Same answer, SKEW-SAFE plan: keepFirstAgg's min_by partial
    // aggregate instead of the row_number window — map-side combine
    // collapses a hot l_partkey to one candidate per task before the
    // shuffle, where the window form would serialize it into one task
    // (AQE does not split window partitions). Shares q_u2's oracle
    // verbatim (the percentile-pair precedent: two plans, one truth);
    // PlanSpec pins the absence of a Window node.
    Q("q_u2_dedup_keep_first_agg",
      (s, d) => Dedup.keepFirstAgg(Tables.lineitem(s, d),
          Seq("l_partkey"), Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")))
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .orderBy(col("l_partkey")),
      Some("""SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY l_partkey
             |    ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
             |  FROM lineitem) WHERE rn = 1 ORDER BY l_partkey""".stripMargin)),

    // -------------------------------------------------------------- W1/W2
    Q("q_w1_running_sum",
      (s, d) => {
        val o = Tables.orders(s, d).filter(col("o_custkey") < 200)
        o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            Windows.runningSum(col("o_totalprice").cast("decimal(18,2)"),
                Seq(col("o_custkey")), Seq(col("o_orderdate"), col("o_orderkey")))
              .cast("double").as("cum_spend"))
          .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             |    AS cum_spend
             |FROM orders WHERE o_custkey < 200
             |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    Q("q_w2_lag_default",
      (s, d) => Tables.orders(s, d).filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"),
          Windows.lagWithDefault(col("o_totalprice"),
            Seq(col("o_custkey")), Seq(col("o_orderdate"), col("o_orderkey")), 0.0)
            .as("prev_price"))
        .orderBy(col("o_custkey"), col("o_orderkey")),
      Some("""SELECT o_custkey, o_orderkey,
             |  COALESCE(lag(o_totalprice) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0)
             |    AS prev_price
             |FROM orders WHERE o_custkey < 200
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ----------------------------------------------------------- J2 + W3
    Q("q_j2_w3_scaffold_ffill",
      (s, d) => {
        val o = Tables.orders(s, d)
        val sparse = o.filter(col("o_orderpriority") === "1-URGENT")
          .groupBy(to_date(col("o_orderdate")).as("cal_date"))
          .agg(max(col("o_totalprice")).as("day_max"))
        val spine = Scaffold.dateSpine(o, "o_orderdate", "cal_date")
        spine.join(sparse, Seq("cal_date"), "left")
          .select(col("cal_date"),
            Windows.forwardFill(col("day_max"), Nil, Seq(col("cal_date")))
              .as("day_max_filled"))
          .orderBy(col("cal_date"))
      },
      Some("""WITH spine AS (
             |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
             |    AS cal_date
             |  FROM (SELECT CAST(min(o_orderdate) AS DATE) AS lo,
             |               CAST(max(o_orderdate) AS DATE) AS hi FROM orders)),
             |sparse AS (
             |  SELECT CAST(o_orderdate AS DATE) AS cal_date,
             |         max(o_totalprice) AS day_max
             |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
             |SELECT s.cal_date,
             |  last_value(day_max IGNORE NULLS) OVER (
             |    ORDER BY s.cal_date
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day_max_filled
             |FROM spine s LEFT JOIN sparse USING (cal_date)
             |ORDER BY s.cal_date""".stripMargin)),

    // ------------------------------------------------------------- J1
    Q("q_j1_multiway_outer",
      (s, d) => {
        val byDay  = (df: DataFrame, c: String, n: String) =>
          df.groupBy(to_date(col(c)).as("cal_date")).agg(count(lit(1)).as(n))
        val o = byDay(Tables.orders(s, d), "o_orderdate", "n_orders")
        val l = byDay(Tables.lineitem(s, d), "l_shipdate", "n_ship")
        val e = byDay(Tables.events(s, d), "ts", "n_events")
        Seq(o, l, e).reduce(_.join(_, Seq("cal_date"), "full_outer"))
          .select(col("cal_date"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("n_ship"), lit(0L)).as("n_ship"),
            coalesce(col("n_events"), lit(0L)).as("n_events"))
          .orderBy(col("cal_date"))
      },
      Some("""WITH o AS (SELECT CAST(o_orderdate AS DATE) cal_date, count(*) n_orders
             |          FROM orders GROUP BY 1),
             |     l AS (SELECT CAST(l_shipdate AS DATE) cal_date, count(*) n_ship
             |          FROM lineitem GROUP BY 1),
             |     e AS (SELECT CAST(ts AS DATE) cal_date, count(*) n_events
             |          FROM events GROUP BY 1)
             |SELECT cal_date,
             |  COALESCE(n_orders, 0) AS n_orders,
             |  COALESCE(n_ship, 0) AS n_ship,
             |  COALESCE(n_events, 0) AS n_events
             |FROM o FULL OUTER JOIN l USING (cal_date)
             |       FULL OUTER JOIN e USING (cal_date)
             |ORDER BY cal_date""".stripMargin)),

    // ----------------------------------------------------- star join (J1)
    Q("q_join_star_revenue",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val o  = Tables.orders(s, d)
        val c  = Tables.customer(s, d)
        val n  = Tables.nation(s, d)
        val r  = Tables.region(s, d)
        // nation/region are fixed-size → explicit broadcast; customer SCALES
        // with SF (150k×SF rows) so its join strategy is left to AQE — a
        // forced broadcast would blow the driver at cluster scale.
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
                 .as("revenue"),
               count(lit(1)).as("n_items"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some(s"""SELECT r_name, n_name,
              |  ${dsum4Sql("l_extendedprice * (1 - l_discount)")} AS revenue,
              |  count(*) AS n_items
              |FROM lineitem
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation   ON c_nationkey = n_nationkey
              |JOIN region   ON n_regionkey = r_regionkey
              |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    // ----------------------------------------------------- semi/anti joins
    Q("q_join_semi",
      (s, d) => Tables.part(s, d)
        .join(Tables.lineitem(s, d), col("p_partkey") === col("l_partkey"), "left_semi")
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
             |ORDER BY p_partkey""".stripMargin)),

    Q("q_join_anti",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------------------------------- U1
    Q("q_u1_union_by_name",
      (s, d) => {
        val hi = Tables.orders(s, d).filter(col("o_totalprice") >= 300000.0)
          .select(col("o_orderkey").as("okey"), col("o_totalprice").as("price"),
                  lit("high").as("bucket"))
        // deliberately different column order — unionByName aligns by name
        val lo = Tables.orders(s, d).filter(col("o_totalprice") < 20000.0)
          .select(lit("low").as("bucket"), col("o_totalprice").as("price"),
                  col("o_orderkey").as("okey"))
        hi.unionByName(lo).orderBy(col("okey"))
      },
      Some("""SELECT o_orderkey AS okey, o_totalprice AS price, 'high' AS bucket
             |FROM orders WHERE o_totalprice >= 300000.0
             |UNION ALL
             |SELECT o_orderkey, o_totalprice, 'low'
             |FROM orders WHERE o_totalprice < 20000.0
             |ORDER BY okey""".stripMargin)),

    // -------------------------------------------------- intersect / except
    Q("q_set_intersect",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("custkey")).distinct()
          .intersect(o.filter(col("o_orderstatus") === "O")
            .select(col("o_custkey").as("custkey")).distinct())
          .orderBy(col("custkey"))
      },
      Some("""SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus='F'
             |INTERSECT
             |SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus='O'
             |ORDER BY custkey""".stripMargin)),

    Q("q_set_except",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("custkey")).distinct()
          .except(o.filter(col("o_orderstatus") === "O")
            .select(col("o_custkey").as("custkey")).distinct())
          .orderBy(col("custkey"))
      },
      Some("""SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus='F'
             |EXCEPT
             |SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus='O'
             |ORDER BY custkey""".stripMargin)),

    // ------------------------------------------------------------- O1/O2
    Q("q_o1_topk_global",
      (s, d) => Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    Q("q_o2_topk_per_group",
      (s, d) => Windows.topKPerGroup(Tables.orders(s, d),
          Seq(col("o_orderpriority")),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey")),
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice DESC, o_orderkey) AS rk
             |  FROM orders) WHERE rk <= 3
             |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin)),

    // ------------------------------------------ winsorized aggregates
    // Outlier-robust totals: prices clip to the exact p01/p99 ORDER
    // STATISTICS (ranks ceil(0.01n)/ceil(0.99n) off the cumulative
    // value histogram — data values, not interpolations, so clipped
    // rows keep their 2-decimal grid and the per-flag sums stay exact
    // DECIMAL arithmetic end to end). One histogram shuffle + a
    // broadcast of the two cutoffs + one map-side-combined aggregation;
    // the robust-stats sibling of the MAD outlier gate.
    Q("q_agg_winsorize",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val vals = li.select(col("l_extendedprice").as("v"))
        val hist = vals.groupBy(col("v")).agg(count(lit(1)).as("__c"))
        val cum = hist.withColumn("__cum", sum(col("__c")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("v"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
        val n = vals.agg(count(lit(1)).as("__n"))
        val cuts = cum.crossJoin(broadcast(n)).agg(
          min(when(col("__cum") >= expr("(__n + 99) div 100"),
            col("v"))).as("lo"),
          min(when(col("__cum") >= expr("(99 * __n + 99) div 100"),
            col("v"))).as("hi"))
        li.crossJoin(broadcast(cuts))
          .select(col("l_returnflag"),
            when(col("l_extendedprice") < col("lo"), col("lo"))
              .when(col("l_extendedprice") > col("hi"), col("hi"))
              .otherwise(col("l_extendedprice")).as("__w"),
            (col("l_extendedprice") < col("lo")).cast("long").as("__nlo"),
            (col("l_extendedprice") > col("hi")).cast("long").as("__nhi"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("__nlo")).as("n_lo_clipped"),
            sum(col("__nhi")).as("n_hi_clipped"),
            sum(col("__w").cast("decimal(18,2)")).cast("double")
              .as("sum_winsorized"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH vals AS (
             |  SELECT l_extendedprice AS v FROM lineitem),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vals),
             |hist AS (SELECT v, count(*) AS c FROM vals GROUP BY v),
             |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum
             |        FROM hist),
             |cuts AS (
             |  SELECT
             |    min(CASE WHEN cum >= (n.n + 99) // 100 THEN v END)
             |      AS lo,
             |    min(CASE WHEN cum >= (99 * n.n + 99) // 100 THEN v END)
             |      AS hi
             |  FROM cum, n)
             |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN l_extendedprice < cuts.lo
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_lo_clipped,
             |  CAST(sum(CASE WHEN l_extendedprice > cuts.hi
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_clipped,
             |  CAST(sum(CAST(CASE WHEN l_extendedprice < cuts.lo
             |      THEN cuts.lo
             |      WHEN l_extendedprice > cuts.hi THEN cuts.hi
             |      ELSE l_extendedprice END AS DECIMAL(18,2)))
             |    AS DOUBLE) AS sum_winsorized
             |FROM lineitem, cuts
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // O2 scale path: same answer and oracle as q_o2_topk_per_group,
    // but via the bounded-buffer AGGREGATE (operators/TopK) — map-side
    // combine reduces a hot priority to 3 rows per map task, immune to
    // the one skewed group that serializes the row_number window at
    // 100 TB (the top-k analogue of the keepFirstAgg precedent; the
    // no-Window plan shape is PlanSpec-pinned).
    Q("q_o2_topk_per_group_agg",
      (s, d) => graft.operators.TopK.topKPerGroupAgg(
          Tables.orders(s, d).select(col("o_orderpriority"),
            col("o_totalprice"), col("o_orderkey")),
          Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 3)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc,
          col("o_orderkey")),
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice DESC, o_orderkey) AS rk
             |  FROM orders) WHERE rk <= 3
             |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin)),

    // ------------------------------------------------------------- N1/N2
    Q("q_n1_struct_expand",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"),
          struct(col("o_totalprice").as("price"),
                 year(col("o_orderdate")).as("yr"),
                 col("o_orderstatus").as("status")).as("payload"))
        .select(col("o_orderkey"), col("payload.*"))
        .withColumnRenamed("status", "status_payload")
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_totalprice AS price,
             |  date_part('year', o_orderdate) AS yr,
             |  o_orderstatus AS status_payload
             |FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin)),

    // -------------------------------------------------- per-group OLS trend
    // operators/Timeseries.olsByGroup: slope/intercept of extendedprice
    // on quantity per returnflag from exact DECIMAL moment sums — the
    // map-side-combining form of regr_slope/regr_intercept. The final
    // double arithmetic runs over exact operands with one fixed
    // parenthesization on both engines; the 6-decimal grid only
    // collapses last-ulp divide noise.
    Q("q_ts_ols_trend",
      (s, d) => {
        def stab6(c: Column) = graft.functions.Stabilize.stab(c, 6)
        graft.operators.Timeseries.olsByGroup(Tables.lineitem(s, d),
            Seq("l_returnflag"), "l_quantity", "l_extendedprice")
          .select(col("l_returnflag"), col("n"),
            stab6(col("slope")).as("slope"),
            stab6(col("intercept")).as("intercept"))
          .orderBy(col("l_returnflag"))
      },
      Some {
        def st(e: String) = graft.functions.Stabilize.stabSql(e, 6)
        s"""WITH m AS (
           |  SELECT l_returnflag, count(*) AS n,
           |    CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sx,
           |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)
           |      AS sy,
           |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,4)))
           |      AS DOUBLE) AS sxx,
           |    CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4)))
           |      AS DOUBLE) AS sxy
           |  FROM lineitem GROUP BY 1)
           |SELECT l_returnflag, n,
           |  ${st("(CAST(n AS DOUBLE) * sxy - sx * sy) " +
               "/ (CAST(n AS DOUBLE) * sxx - sx * sx)")} AS slope,
           |  ${st("(sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) " +
               "/ (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) " +
               "/ CAST(n AS DOUBLE)")} AS intercept
           |FROM m ORDER BY l_returnflag""".stripMargin
      }),

    // ------------------------------------------------- deterministic mode
    // Exact per-group mode with a total tie-break (highest count, then
    // SMALLEST value — `mode()` builtins tie-break arbitrarily, which
    // is useless for an oracle-checked pipeline). Two partial
    // aggregates: value counts, then a skew-safe max_by on
    // struct(count, -value) — no window, so one hot group cannot
    // serialize a task.
    Q("q_agg_mode",
      (s, d) => {
        val counts = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(count(lit(1)).as("cnt"))
        counts.groupBy(col("l_returnflag"))
          .agg(max_by(col("l_quantity"),
              struct(col("cnt"), negate(col("l_quantity")))).as("mode_qty"),
            max(col("cnt")).as("mode_cnt"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH c AS (
             |  SELECT l_returnflag, l_quantity, count(*) AS cnt
             |  FROM lineitem GROUP BY 1, 2),
             |r AS (
             |  SELECT l_returnflag, l_quantity, cnt, row_number() OVER (
             |    PARTITION BY l_returnflag
             |    ORDER BY cnt DESC, l_quantity) AS rk
             |  FROM c)
             |SELECT l_returnflag, l_quantity AS mode_qty,
             |  CAST(cnt AS BIGINT) AS mode_cnt
             |FROM r WHERE rk = 1 ORDER BY l_returnflag""".stripMargin)),

    // ------------------------------- partition-level table checksum
    // Cross-system reconciliation primitive: an order-independent
    // content checksum per partition key — sum over rows of the
    // md5-derived 60-bit digest of a canonical '|'-joined row string
    // (numerics via DECIMAL so both engines print identical text,
    // nulls sentinel'd). Sum is commutative, so partial aggregation,
    // shuffle order, and file layout cannot change it: two systems
    // agree iff the per-partition (n_rows, checksum) rows agree —
    // the migration-validation check that replaces row-by-row diffs
    // at 100 TB. Exact integer arithmetic end to end.
    Q("q_profile_table_checksum",
      (s, d) => {
        val rowStr = concat_ws("|",
          col("o_orderkey").cast("string"),
          col("o_totalprice").cast("decimal(18,2)").cast("string"),
          coalesce(col("o_orderpriority"), lit("␀")))
        Tables.orders(s, d)
          .select(col("o_orderstatus"),
            graft.functions.HashFns.md5Long(rowStr).as("__h"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("__h").cast("decimal(38,0)")).cast("double")
              .as("checksum"))
          .orderBy(col("o_orderstatus"))
      },
      Some {
        val rowStr = "CAST(o_orderkey AS VARCHAR) || '|' || " +
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || " +
          "'|' || coalesce(o_orderpriority, chr(9216))"
        s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(${graft.functions.HashFns.md5LongSql(rowStr)})
           |    AS DOUBLE) AS checksum
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ------------------------------------------------ key-skew diagnostic
    // operators/Profile.keySkewReport: frequency concentration of a
    // prospective shuffle key as exact integer ratios (max share, HHI,
    // effective key count) — the number a salting/AQE decision wants,
    // computed sort-free (a Gini needs a global rank; HHI is two plain
    // aggregates). Bit-identical across engines: every output is a
    // ratio of exact integers.
    Q("q_profile_key_skew",
      (s, d) => graft.operators.Profile.keySkewReport(
        Tables.lineitem(s, d), Seq("l_suppkey")),
      Some("""WITH c AS (
             |  SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_keys,
             |  CAST(sum(c) AS BIGINT) AS total,
             |  CAST(max(c) AS BIGINT) AS max_cnt,
             |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS max_share,
             |  CAST(sum(c * c) AS DOUBLE)
             |    / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)) AS hhi,
             |  (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
             |    / CAST(sum(c * c) AS DOUBLE) AS effective_keys
             |FROM c""".stripMargin)),

    // -------------------------------------- Benford first-digit profile
    // Leading-significant-digit distribution of o_totalprice vs
    // Benford's law — the fabricated-data / unit-mixup detector an
    // ingestion audit runs on any monetary or count column. The digit
    // is taken from the BIGINT string of floor(x) (no log10 on the
    // data path, so no libm edge at exact powers of ten); shares are
    // single exact-integer divisions, and only the CONSTANT Benford
    // expectation log10(1+1/d) needs the 6-decimal stabilizer. One
    // map-side digit extraction + one 9-key aggregate: scan-bound at
    // any scale.
    Q("q_profile_benford",
      (s, d) => {
        val dg = Tables.orders(s, d)
          .filter(col("o_totalprice") >= 1)
          .select(substring(floor(col("o_totalprice")).cast("string"),
            1, 1).cast("int").as("digit"))
        val counts = dg.groupBy(col("digit")).agg(count(lit(1)).as("n"))
        val t = counts.agg(sum(col("n")).as("__t"))
        counts.crossJoin(broadcast(t))
          .select(col("digit"), col("n"),
            (col("n").cast("double") / col("__t").cast("double"))
              .as("share"),
            graft.functions.Stabilize.stab(
              log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
              .as("expected"))
          .orderBy(col("digit"))
      },
      Some(s"""WITH dg AS (
             |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
             |    AS VARCHAR), 1, 1) AS INT) AS digit
             |  FROM orders WHERE o_totalprice >= 1),
             |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
             |      FROM dg GROUP BY digit),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM c)
             |SELECT digit, n,
             |  CAST(n AS DOUBLE) / CAST(tt AS DOUBLE) AS share,
             |  ${graft.functions.Stabilize.stabSql(
                  "log10(1.0 + 1.0 / CAST(digit AS DOUBLE))", 6)} AS expected
             |FROM c, t ORDER BY digit""".stripMargin)),

    // ------------------------------- Gini revenue concentration
    // operators/Concentration.gini over per-customer revenue: the
    // single-number inequality alert ("what share of revenue sits in
    // the top accounts") sitting beside key_skew's HHI. Revenue enters
    // as exact CENTS (the DECIMAL(18,2) sum ×100 — fixed-point scale
    // cancels in the ratio), the rank arithmetic folds from the value
    // HISTOGRAM in DECIMAL(38,0) (no per-row ranking; see the
    // operator's bounded-domain note), and only the one-row report
    // divides doubles, 6-decimal stabilized.
    Q("q_profile_gini",
      (s, d) => {
        val rev = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("decimal(38,0)").as("cents"))
        graft.operators.Concentration.gini(rev, col("cents"))
      },
      Some(s"""WITH rev AS (
             |  SELECT o_custkey, CAST(sum(CAST(o_totalprice
             |      AS DECIMAL(18,2))) * 100 AS HUGEINT) AS cents
             |  FROM orders GROUP BY 1),
             |h AS (
             |  SELECT cents AS v, CAST(count(*) AS HUGEINT) AS c
             |  FROM rev GROUP BY 1),
             |rk AS (
             |  SELECT v, c, coalesce(sum(c) OVER (ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |    0) AS m
             |  FROM h),
             |tot AS (
             |  SELECT sum(c) AS n, sum(v * c) AS s FROM h),
             |num AS (
             |  SELECT sum(v * c * (m * 2 + c - n)) AS num
             |  FROM rk, tot)
             |SELECT CAST(n AS BIGINT) AS n_values,
             |  CAST(s AS DOUBLE) AS total,
             |  ${graft.functions.Stabilize.stabSql(
                  "CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) *" +
                  " CAST(s AS DOUBLE))", 6)} AS gini
             |FROM num, tot""".stripMargin)),

    // ------------------------------- functional-dependency discovery
    // Schema profiling: which column determines which (A → B iff every
    // A value maps to exactly one B value) over a declared column set —
    // the key-candidate / denormalization detector a catalog crawler
    // runs on unknown tables. All 20 ordered pairs are checked in ONE
    // pipeline: a map-side explode tags each row with every pair
    // (values go through an injective string cast, so mixed column
    // types share one frame and distinct counts are type-faithful),
    // then two aggregations — max distinct-RHS per LHS value, then per
    // pair. Violations are counted, not just flagged, so near-FDs
    // (max_rhs_per_lhs = 2) are visible. Pure integer outputs.
    Q("q_profile_fd_discovery",
      (s, d) => {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "o_orderdate")
        val pairs = for { a <- cols; b <- cols if a != b } yield (a, b)
        // Tables.spread: the ×20 column-pair explode ran in the single
        // scan task and wrote its 55 MB exchange serially (measured
        // 5.12 -> 2.68 s; the distinct aggregate is exact integers, so
        // partitioning cannot change the result)
        val long = Tables.spread(s, d, "orders")
          .select(explode(array(pairs.map { case (a, b) =>
            struct(lit(a).as("lhs"), lit(b).as("rhs"),
              col(a).cast("string").as("va"), col(b).cast("string").as("vb"))
          }: _*)).as("p"))
          .select(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"),
            col("p.va").as("va"), col("p.vb").as("vb"))
        long.groupBy(col("lhs"), col("rhs"), col("va"))
          .agg(countDistinct(col("vb")).as("nb"))
          .groupBy(col("lhs"), col("rhs"))
          .agg(count(lit(1)).as("n_lhs"),
            max(col("nb")).as("max_rhs_per_lhs"))
          .withColumn("holds",
            when(col("max_rhs_per_lhs") === 1, 1L).otherwise(0L))
          .orderBy(col("lhs"), col("rhs"))
      },
      Some {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "o_orderdate")
        val pairs = for { a <- cols; b <- cols if a != b } yield (a, b)
        pairs.map { case (a, b) =>
          s"""SELECT '$a' AS lhs, '$b' AS rhs,
             |  CAST(count(*) AS BIGINT) AS n_lhs,
             |  CAST(max(nb) AS BIGINT) AS max_rhs_per_lhs,
             |  CASE WHEN max(nb) = 1 THEN CAST(1 AS BIGINT)
             |       ELSE CAST(0 AS BIGINT) END AS holds
             |FROM (SELECT $a, count(DISTINCT $b) AS nb
             |      FROM orders GROUP BY 1) g""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY lhs, rhs")
      }),

    // ------------------------------------ candidate-key detection
    // The uniqueness sibling of FD discovery: which single columns and
    // column pairs uniquely identify a row (n_distinct = n_rows) —
    // the primary-key / join-key candidate report. All 15 combos
    // (5 singles + 10 unordered pairs) share ONE pipeline: a map-side
    // explode emits each combo's separator-joined value string (injective
    // per engine, so distinct counts are representation-independent),
    // then a single two-phase distinct aggregate. Integer outputs.
    Q("q_profile_key_candidates",
      (s, d) => {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "o_orderdate")
        val combos = cols.map(Seq(_)) ++
          (for { i <- cols.indices; j <- i + 1 until cols.size }
            yield Seq(cols(i), cols(j)))
        // Tables.spread: same serial-explode fix as q_profile_fd_discovery
        // (measured 3.26 -> 1.97 s); the count(*) side below stays a
        // plain scan — it reads no values
        val long = Tables.spread(s, d, "orders")
          .select(explode(array(combos.map { c =>
            struct(lit(c.mkString("+")).as("combo"),
              concat_ws("\u0001", c.map(col(_).cast("string")): _*)
                .as("kv"))
          }: _*)).as("p"))
          .select(col("p.combo").as("combo"), col("p.kv").as("kv"))
        val t = Tables.orders(s, d).agg(count(lit(1)).as("__rows"))
        long.groupBy(col("combo"))
          .agg(countDistinct(col("kv")).as("n_distinct"))
          .crossJoin(broadcast(t))
          .select(col("combo"), col("n_distinct"),
            col("__rows").as("n_rows"),
            when(col("n_distinct") === col("__rows"), 1L).otherwise(0L)
              .as("is_key"))
          .orderBy(col("combo"))
      },
      Some {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "o_orderdate")
        val combos = cols.map(Seq(_)) ++
          (for { i <- cols.indices; j <- i + 1 until cols.size }
            yield Seq(cols(i), cols(j)))
        combos.map { c =>
          val kv = c.map(x => s"CAST($x AS VARCHAR)")
            .mkString(" || chr(1) || ")
          s"""SELECT '${c.mkString("+")}' AS combo,
             |  CAST(count(DISTINCT $kv) AS BIGINT) AS n_distinct,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CASE WHEN count(DISTINCT $kv) = count(*)
             |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
             |  END AS is_key
             |FROM orders""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY combo")
      }),

    // ----------------------- mutual information (categorical pair)
    // The information-theoretic sibling of Cramér's V below, on the
    // corpus-mix pair (lang × source) of `documents`: per-cell PMI
    // ln(n·obs/(ra·cb)) plus the table MI = Σ (obs/n)·pmi and the
    // sqrt-normalized NMI = MI/√(H(lang)·H(source)) — the redundancy
    // score a feature-selection or source-mix audit ranks categorical
    // pairs by. One O(r·c) cell aggregate feeds margins, entropies,
    // and cells (corpus scanned once). Every ln goes through the
    // 6-decimal stabilizer BEFORE its ordered fold (libm ulps), so
    // the folds add identical doubles; everything else is exact
    // integer ratios.
    Q("q_profile_mutual_info",
      (s, d) => {
        val cells = Tables.documents(s, d)
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("obs"))
          .cache() // O(r·c) rows; feeds margins, totals, and the cells
        val ra = cells.groupBy(col("lang")).agg(sum(col("obs")).as("ra"))
        val cb = cells.groupBy(col("source")).agg(sum(col("obs")).as("cb"))
        val tot = cells.agg(sum(col("obs")).as("n"))
        def stab6(c: org.apache.spark.sql.Column) =
          graft.functions.Stabilize.stab(c, 6)
        val nD = col("n").cast("double")
        val hx = ra.crossJoin(broadcast(tot))
          .select(col("lang"), stab6(-(col("ra").cast("double") / nD)
            * log(col("ra").cast("double") / nD)).as("__t"))
          .agg(aggregate(transform(array_sort(collect_list(
            struct(col("lang"), col("__t").as("__v")))),
            x => x.getField("__v")), lit(0.0), (a, x) => a + x).as("hx"))
        val hy = cb.crossJoin(broadcast(tot))
          .select(col("source"), stab6(-(col("cb").cast("double") / nD)
            * log(col("cb").cast("double") / nD)).as("__t"))
          .agg(aggregate(transform(array_sort(collect_list(
            struct(col("source"), col("__t").as("__v")))),
            x => x.getField("__v")), lit(0.0), (a, x) => a + x).as("hy"))
        val obsD = col("obs").cast("double")
        val per = cells.join(broadcast(ra), Seq("lang"))
          .join(broadcast(cb), Seq("source"))
          .crossJoin(broadcast(tot))
          .withColumn("pmi", stab6(log(obsD * nD
            / (col("ra").cast("double") * col("cb").cast("double")))))
          .withColumn("__term", stab6((obsD / nD) * log(obsD * nD
            / (col("ra").cast("double") * col("cb").cast("double")))))
        val mi = per.agg(aggregate(transform(array_sort(collect_list(
          struct(col("lang"), col("source"), col("__term").as("__v")))),
          x => x.getField("__v")), lit(0.0), (a, x) => a + x).as("mi"))
        per.crossJoin(broadcast(mi))
          .crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
          .select(col("lang"), col("source"), col("obs"), col("pmi"),
            col("mi"),
            stab6(col("mi") / sqrt(col("hx") * col("hy"))).as("nmi"))
          .orderBy(col("lang"), col("source"))
      },
      Some(s"""WITH cells AS (
             |  SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
             |  FROM documents GROUP BY 1, 2),
             |ra AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS ra
             |       FROM cells GROUP BY 1),
             |cb AS (SELECT source, CAST(sum(obs) AS BIGINT) AS cb
             |       FROM cells GROUP BY 1),
             |t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells),
             |hx AS (
             |  SELECT list_sum(list(term ORDER BY lang)) AS hx
             |  FROM (SELECT lang, ${graft.functions.Stabilize.stabSql(
                  "-(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE)) *" +
                  " ln(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE))", 6)} AS term
             |        FROM ra, t) x),
             |hy AS (
             |  SELECT list_sum(list(term ORDER BY source)) AS hy
             |  FROM (SELECT source, ${graft.functions.Stabilize.stabSql(
                  "-(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) *" +
                  " ln(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))", 6)} AS term
             |        FROM cb, t) x),
             |per AS (
             |  SELECT lang, source, obs,
             |    ${graft.functions.Stabilize.stabSql(
                  "ln(CAST(obs AS DOUBLE) * CAST(n AS DOUBLE) /" +
                  " (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)))", 6)} AS pmi,
             |    ${graft.functions.Stabilize.stabSql(
                  "(CAST(obs AS DOUBLE) / CAST(n AS DOUBLE)) *" +
                  " ln(CAST(obs AS DOUBLE) * CAST(n AS DOUBLE) /" +
                  " (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)))", 6)} AS term
             |  FROM cells JOIN ra USING (lang) JOIN cb USING (source), t),
             |m AS (
             |  SELECT list_sum(list(term ORDER BY lang, source)) AS mi
             |  FROM per)
             |SELECT lang, source, obs, pmi, mi,
             |  ${graft.functions.Stabilize.stabSql(
                  "mi / sqrt(hx * hy)", 6)} AS nmi
             |FROM per, m, hx, hy ORDER BY lang, source""".stripMargin)),

    // ------------------------------- categorical association (Cramér's V)
    // Contingency-table profiling: does order status depend on order
    // priority? χ² over the status×priority cells plus Cramér's V =
    // sqrt(χ² / (n·min(r−1, c−1))) — the normalized [0,1] association
    // strength a feature-selection pass ranks categorical pairs by.
    // Engine-exact without stabilizers: every input is an integer
    // count, expected/contrib are fixed IEEE op chains on those
    // integers, the χ² total folds in (status, priority) cell order,
    // and sqrt is correctly rounded per IEEE — so the report replays
    // bit-for-bit. One cell aggregate (r·c rows) feeds margins,
    // totals, and cells; the orders table is scanned once.
    Q("q_profile_cramers_v",
      (s, d) => {
        val cells = Tables.orders(s, d)
          .select(col("o_orderstatus").as("status"),
            col("o_orderpriority").as("priority"))
          .groupBy(col("status"), col("priority"))
          .agg(count(lit(1)).as("obs"))
          .cache() // O(r·c) rows; feeds margins, totals, and the cells
        val ra = cells.groupBy(col("status")).agg(sum(col("obs")).as("ra"))
        val cb = cells.groupBy(col("priority"))
          .agg(sum(col("obs")).as("cb"))
        val tot = cells.agg(sum(col("obs")).as("n"),
          countDistinct(col("status")).as("r"),
          countDistinct(col("priority")).as("c"))
        val obsD = col("obs").cast("double")
        val per = cells.join(broadcast(ra), Seq("status"))
          .join(broadcast(cb), Seq("priority"))
          .crossJoin(broadcast(tot))
          .withColumn("expected", col("ra").cast("double")
            * col("cb").cast("double") / col("n").cast("double"))
          .withColumn("contrib", (obsD - col("expected"))
            * (obsD - col("expected")) / col("expected"))
        val chi2 = per.agg(aggregate(
          transform(array_sort(collect_list(struct(col("status"),
            col("priority"), col("contrib").as("__c")))),
            x => x.getField("__c")),
          lit(0.0), (a, x) => a + x).as("chi2"))
        per.crossJoin(broadcast(chi2))
          .select(col("status"), col("priority"), col("obs"),
            col("expected"), col("contrib"), col("chi2"),
            sqrt(col("chi2") / (col("n").cast("double")
              * least(col("r") - 1, col("c") - 1).cast("double")))
              .as("cramers_v"))
          .orderBy(col("status"), col("priority"))
      },
      Some("""WITH cells AS (
             |  SELECT o_orderstatus AS status, o_orderpriority AS priority,
             |    CAST(count(*) AS BIGINT) AS obs
             |  FROM orders GROUP BY 1, 2),
             |ra AS (SELECT status, sum(obs) AS ra FROM cells GROUP BY 1),
             |cb AS (SELECT priority, sum(obs) AS cb FROM cells GROUP BY 1),
             |t AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
             |        count(DISTINCT status) AS r,
             |        count(DISTINCT priority) AS c
             |      FROM cells),
             |per0 AS (
             |  SELECT cells.status, cells.priority, obs, n, r, c,
             |    CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
             |      / CAST(n AS DOUBLE) AS expected
             |  FROM cells
             |  JOIN ra USING (status) JOIN cb USING (priority), t),
             |per AS (
             |  SELECT *, (CAST(obs AS DOUBLE) - expected)
             |    * (CAST(obs AS DOUBLE) - expected) / expected AS contrib
             |  FROM per0),
             |tf AS (SELECT list_sum(list(contrib
             |         ORDER BY status, priority)) AS chi2
             |       FROM per)
             |SELECT status, priority, obs, expected, contrib, chi2,
             |  sqrt(chi2 / (CAST(n AS DOUBLE)
             |    * CAST(least(r - 1, c - 1) AS DOUBLE))) AS cramers_v
             |FROM per, tf ORDER BY status, priority""".stripMargin)),

    // ------------------------------------------------- GROUPING SETS
    // The general form completing the cube/rollup family: an explicit
    // grouping-set list — per-returnflag totals, per-linestatus
    // totals, and the grand total in ONE pass (Spark expands the sets
    // into a single Expand + hash aggregate, exactly like cube).
    // grouping_id disambiguates rows whose NULLs could collide with
    // real data; both engines emit the standard bitmask (1 bit per
    // column, set when aggregated away).
    Q("q_agg_grouping_sets",
      (s, d) => Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus,
             |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             |  ${dsumSql("l_quantity")} AS sum_qty,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)),

    // -------------------------------------------- association mining
    // operators/Assoc: frequent co-purchase pairs with support + lift
    // over the orders×parts relation, a-priori pruned (items below min
    // support never enter pair generation — pair support can't exceed
    // item support). Lift is an exact integer ratio. The per-basket
    // self-join is an equi-join on the order key: AQE-splittable, and
    // baskets are order-sized, never corpus-sized.
    Q("q_assoc_copurchase",
      (s, d) => graft.operators.Assoc.copurchasePairs(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", minSupport = 3L)
        .orderBy(col("item_a"), col("item_b")),
      Some("""WITH b AS (
             |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
             |  FROM lineitem),
             |ic AS (SELECT it, count(*) AS c FROM b GROUP BY 1),
             |nb AS (SELECT count(DISTINCT bk) AS n FROM b),
             |f AS (SELECT b.bk, b.it FROM b
             |      JOIN ic ON ic.it = b.it AND ic.c >= 3),
             |p AS (
             |  SELECT a.it AS item_a, b2.it AS item_b, count(*) AS support
             |  FROM f a JOIN f b2 ON a.bk = b2.bk AND a.it < b2.it
             |  GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT item_a, item_b, CAST(support AS BIGINT) AS support,
             |  (CAST(support AS DOUBLE) * CAST(nb.n AS DOUBLE))
             |    / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift
             |FROM p
             |JOIN ic ca ON ca.it = item_a
             |JOIN ic cb ON cb.it = item_b, nb
             |ORDER BY item_a, item_b""".stripMargin)),

    // ------------------------------------------- weighted percentiles
    // operators/Percentiles.weightedLowerQuantiles: quantity-weighted
    // price quantiles — "the price below which 25/50/90 % of UNITS
    // (not line items) trade". Weights accumulate in DECIMAL and each
    // threshold is the cross-multiplied comparison cum·den >= tot·num,
    // so no float boundary can flip a bucket between engines; the
    // answer is always an actual data value. Same histogram shape as
    // the exact-percentile scale path: one (value, Σweight) aggregate
    // with map-side combine, then a window over the bounded histogram.
    Q("q_agg_weighted_percentile",
      (s, d) => graft.operators.Percentiles.weightedLowerQuantiles(
        Tables.lineitem(s, d), "l_extendedprice", "l_quantity",
        Seq((1, 4, "wp25"), (1, 2, "wp50"), (9, 10, "wp90"))),
      Some("""WITH h AS (
             |  SELECT l_extendedprice AS v,
             |    sum(CAST(l_quantity AS DECIMAL(38,6))) AS w
             |  FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
             |  GROUP BY 1),
             |c AS (
             |  SELECT v, sum(w) OVER (ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    sum(w) OVER () AS tot
             |  FROM h)
             |SELECT
             |  min(CASE WHEN cum * 4 >= tot * 1 THEN v END) AS wp25,
             |  min(CASE WHEN cum * 2 >= tot * 1 THEN v END) AS wp50,
             |  min(CASE WHEN cum * 10 >= tot * 9 THEN v END) AS wp90,
             |  CAST(max(tot) AS DOUBLE) AS total_weight
             |FROM c""".stripMargin)),

    // ------------------------------------- grouped weighted percentiles
    // Percentiles.weightedLowerQuantilesByGroup: the per-source form a
    // token-budget pipeline actually wants ("each source's length
    // cutoff holding half its TOKENS"). Same cross-multiplied DECIMAL
    // thresholds; the cumulative window partitions by group over the
    // bounded histogram.
    Q("q_agg_weighted_percentile_grouped",
      // Tables.spread was MEASURED here in r16 and reverted (flat,
      // 3.16 -> 3.13 s): the decimal-weight histogram partial-agg
      // reduces well map-side, so the exchange buys nothing
      (s, d) => graft.operators.Percentiles.weightedLowerQuantilesByGroup(
          Tables.lineitem(s, d), Seq("l_returnflag"),
          "l_extendedprice", "l_quantity",
          Seq((1, 2, "wp50"), (9, 10, "wp90")))
        .orderBy(col("l_returnflag")),
      Some("""WITH h AS (
             |  SELECT l_returnflag, l_extendedprice AS v,
             |    sum(CAST(l_quantity AS DECIMAL(38,6))) AS w
             |  FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
             |  GROUP BY 1, 2),
             |c AS (
             |  SELECT l_returnflag, v,
             |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
             |  FROM h)
             |SELECT l_returnflag,
             |  min(CASE WHEN cum * 2 >= tot * 1 THEN v END) AS wp50,
             |  min(CASE WHEN cum * 10 >= tot * 9 THEN v END) AS wp90,
             |  CAST(max(tot) AS DOUBLE) AS total_weight
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --------------------------------------- grouped shape moments
    // Profile.momentsByGroup: mean/variance/skewness/kurtosis per
    // segment from four DECIMAL power sums in one pass. l_quantity
    // keeps x^4 exactly representable, so the whole report is
    // truth-exact AND bit-identical with zero stabilization — every
    // statistic is one fixed parenthesization over exact operands.
    Q("q_profile_moments",
      // Tables.spread (r16): parallelizes the decimal power-sum
      // partial aggregate off the single-task scan
      (s, d) => graft.operators.Profile.momentsByGroup(
          Tables.spread(s, d, "lineitem"), Seq("l_returnflag"), "l_quantity")
        .orderBy(col("l_returnflag")),
      Some("""WITH m AS (
             |  SELECT l_returnflag, count(*) AS n,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE)
             |      AS s1,
             |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,4)))
             |      AS DOUBLE) AS s2,
             |    CAST(sum(CAST(l_quantity * l_quantity * l_quantity
             |      AS DECIMAL(38,4))) AS DOUBLE) AS s3,
             |    CAST(sum(CAST(l_quantity * l_quantity * l_quantity
             |      * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS s4
             |  FROM lineitem WHERE l_quantity IS NOT NULL
             |  GROUP BY 1),
             |st AS (
             |  SELECT l_returnflag, n,
             |    s1 / CAST(n AS DOUBLE) AS mean,
             |    s2 / CAST(n AS DOUBLE)
             |      - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
             |      AS m2,
             |    s3 / CAST(n AS DOUBLE)
             |      - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE))
             |      + 2.0 * (s1 / CAST(n AS DOUBLE))
             |          * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
             |      AS m3,
             |    s4 / CAST(n AS DOUBLE)
             |      - 4.0 * (s1 / CAST(n AS DOUBLE)) * (s3 / CAST(n AS DOUBLE))
             |      + 6.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
             |          * (s2 / CAST(n AS DOUBLE))
             |      - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
             |          * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
             |      AS m4
             |  FROM m)
             |SELECT l_returnflag, n, mean, m2 AS variance,
             |  m3 / (m2 * sqrt(m2)) AS skewness,
             |  m4 / (m2 * m2) - 3.0 AS kurtosis
             |FROM st ORDER BY l_returnflag""".stripMargin)),

    // ------------------------------------------- grouped Pearson r
    // Correlation.pairByGroup: per-segment correlation from exact
    // DECIMAL moments in ONE map-side-combining pass (the built-in
    // corr() accumulates doubles in partition order — not
    // reproducible); closing arithmetic stabilized at 12 decimals
    // like the global matrix.
    Q("q_a9_corr_grouped",
      // Tables.spread (r16): parallelizes the decimal moment partial
      // aggregate off the single-task scan
      (s, d) => graft.operators.Correlation.pairByGroup(
          Tables.spread(s, d, "lineitem"), Seq("l_returnflag"),
          "l_quantity", "l_extendedprice")
        .orderBy(col("l_returnflag")),
      Some {
        def cov(p: String, a: String, b: String) =
          s"(CAST(n AS DOUBLE) * $p - $a * $b)"
        s"""WITH m AS (
           |  SELECT l_returnflag, count(*) AS n,
           |    CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE)
           |      AS sx,
           |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)
           |      AS sy,
           |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,4)))
           |      AS DOUBLE) AS sxx,
           |    CAST(sum(CAST(l_extendedprice * l_extendedprice
           |      AS DECIMAL(38,4))) AS DOUBLE) AS syy,
           |    CAST(sum(CAST(l_quantity * l_extendedprice
           |      AS DECIMAL(38,4))) AS DOUBLE) AS sxy
           |  FROM lineitem
           |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
           |  GROUP BY 1)
           |SELECT l_returnflag, n,
           |  ${graft.operators.Correlation.stab12Sql(
               s"${cov("sxy", "sx", "sy")} / sqrt(${cov("sxx", "sx", "sx")}" +
               s" * ${cov("syy", "sy", "sy")})")} AS pearson_r
           |FROM m ORDER BY l_returnflag""".stripMargin
      }),

    // ------------------------------------------ grouped median imputation
    // The robust sibling of q_a8_mean_impute: nulls fill with their
    // GROUP's exact median (outlier-immune, per-segment) via the
    // grouped histogram percentile scale path — a (group, value)
    // histogram shuffle + broadcast medians + map-only coalesce; the
    // hot group costs O(its distinct values). Median rounds to the
    // 4-decimal grid before filling (the mean-impute convention), and
    // the proof aggregate runs in exact DECIMAL.
    Q("q_a8_median_impute",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .withColumn("disc_dirty",
            when(col("l_linenumber") === 2, lit(null))
              .otherwise(col("l_discount")))
        val med = graft.operators.Percentiles
          .groupedExactByHistogram(li, Seq("l_returnflag"), "disc_dirty",
            Seq(0.5 -> "med"))
          .select(col("l_returnflag"), round(col("med"), 4).as("med"))
        li.join(broadcast(med), Seq("l_returnflag"))
          .withColumn("disc_filled", coalesce(col("disc_dirty"), col("med")))
          .groupBy(col("l_returnflag"))
          .agg(sum(col("disc_filled").cast("decimal(18,4)")).cast("double")
                 .as("sum_filled"),
               count(lit(1)).as("n"),
               max(col("med")).as("med"))
          .orderBy(col("l_returnflag"))
      },
      Some {
        def st(e: String) = graft.functions.Stabilize.stabSql(e, 6)
        s"""WITH dirty AS (
           |  SELECT l_returnflag,
           |    CASE WHEN l_linenumber = 2 THEN NULL ELSE l_discount
           |    END AS disc_dirty
           |  FROM lineitem),
           |m AS (
           |  SELECT l_returnflag,
           |    round(quantile_cont(disc_dirty, 0.5), 4) AS med
           |  FROM dirty GROUP BY 1)
           |SELECT d.l_returnflag,
           |  CAST(sum(CAST(coalesce(d.disc_dirty, m.med)
           |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_filled,
           |  count(*) AS n, max(m.med) AS med
           |FROM dirty d JOIN m ON m.l_returnflag = d.l_returnflag
           |GROUP BY 1 ORDER BY 1""".stripMargin
      })
  )
}
