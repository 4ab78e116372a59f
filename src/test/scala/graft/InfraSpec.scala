package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.operators.Salt
import graft.sources.{Lake, Tables}

/** Extension registration, salted aggregation, and lake partition
  * pruning — the cluster-infrastructure seams.
  */
class InfraSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("GarminPipeline orchestrates all datasets end-to-end with verify counts") {
    val out = Files.createTempDirectory("graft_pipeline").toString
    val results = graft.cli.GarminPipeline.run(spark, out,
      graft.datasets.GarminRaw.defaultRawDir)
    assert(results.size == 10)
    val failed = results.filter(_.error.nonEmpty)
    assert(failed.isEmpty, s"failed datasets: $failed")
    // E1's post-load verification numbers (the reference's count check):
    // every dataset landed rows, and the known-grain tables match
    val byName = results.map(r => r.dataset -> r.rows).toMap
    assert(results.forall(_.rows > 0))
    assert(byName("summarized_activities") == 354L)
    assert(byName("sleep_data") == 257L)
    assert(byName("master_table") == 239L)
  }

  test("GarminPipeline --datasets filter runs only the named pipelines") {
    val out = Files.createTempDirectory("graft_pipeline_f").toString
    val results = graft.cli.GarminPipeline.run(spark, out,
      graft.datasets.GarminRaw.defaultRawDir,
      select = Some(Seq("sleep_data", "atl_data")))
    assert(results.map(_.dataset) == Seq("sleep_data", "atl_data"))
    assert(results.forall(_.error.isEmpty))
    // unknown names fail loudly, not silently-skip
    val ex = intercept[IllegalArgumentException] {
      graft.cli.GarminPipeline.run(spark, out,
        graft.datasets.GarminRaw.defaultRawDir,
        select = Some(Seq("nope_data")))
    }
    assert(ex.getMessage.contains("nope_data"))
  }

  test("GarminPipeline config file selects, renames, and re-points the run") {
    import graft.cli.GarminPipeline
    val out = Files.createTempDirectory("graft_pipeline_c").toString
    val cfgFile = Files.createTempFile("graft_cfg", ".yaml")
    Files.writeString(cfgFile, s"""# reference config.template.yaml shape
        |data_paths:
        |  raw_data: "${graft.datasets.GarminRaw.defaultRawDir}"
        |  output_data: "$out"
        |
        |tables:
        |  sleep_data: "sleep_clean"   # renamed sink dir
        |  atl_data: "atl_data"
        |
        |etl_settings:
        |  load_strategy: "replace"
        |  batch_size: 1000
        |""".stripMargin)
    val cfg = GarminPipeline.PipelineConfig.load(cfgFile.toString)
    assert(cfg.rawDir.contains(graft.datasets.GarminRaw.defaultRawDir))
    assert(cfg.outDir.contains(out))
    assert(cfg.saveMode == "overwrite")
    // no --datasets: the tables: section IS the configured dataset set
    val results = GarminPipeline.run(spark, cfg.outDir.get, cfg.rawDir.get,
      select = None, config = cfg)
    assert(results.map(_.dataset) == Seq("sleep_data", "atl_data"))
    assert(results.forall(_.error.isEmpty))
    // the rename landed: sink dir carries the configured table name
    assert(new java.io.File(s"$out/sleep_clean").isDirectory)
    assert(!new java.io.File(s"$out/sleep_data").exists)
  }

  test("saltedJoin equals the plain equi-join row-for-row") {
    import spark.implicits._
    val big = Seq((0L, "x1"), (0L, "x2"), (0L, "x3"), (1L, "y"), (9L, "z"))
      .toDF("k", "payload").withColumn("rid", monotonically_increasing_id())
    val dim = Seq((0L, "zero"), (1L, "one"), (2L, "two")).toDF("k", "name")
    val salted = Salt.saltedJoin(big, dim, "k",
        Salt.saltFrom(col("rid"), 4), buckets = 4)
      .select("k", "payload", "name").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    val plain = big.join(dim, Seq("k"))
      .select("k", "payload", "name").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    assert(salted.toSeq == plain.toSeq)
    assert(salted.length == 4) // key 9 has no dim row; key 0 matches 3x
    // NULL salt must not drop the row (routes to bucket 0)
    val withNull = Seq((0L, "n1", Some(7L)), (0L, "n2", None))
      .toDF("k", "payload", "src")
    val r = Salt.saltedJoin(withNull, dim, "k",
        Salt.saltFrom(col("src"), 4), buckets = 4)
      .select("payload").collect().map(_.getString(0)).sorted
    assert(r.toSeq == Seq("n1", "n2"), "null-salt row was dropped")
  }

  test("py_round is registered as a SQL function via GraftExtensions") {
    val r = spark.sql(
      "SELECT py_round(2.15d, 1) AS a, py_round(0.25d, 1) AS b, " +
        "py_round(1.05d, 1) AS c").head()
    assert((r.getDouble(0), r.getDouble(1), r.getDouble(2)) == (2.1, 0.2, 1.1))
  }

  test("salted aggregation equals the direct group-by exactly") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 2.5), ("a", 3.25), ("b", 7.0))
      .toDF("k", "v").withColumn("id", monotonically_increasing_id())
    val direct = df.groupBy("k")
      .agg(sum(col("v").cast("decimal(18,2)")).as("s"), count(lit(1)).as("n"))
      .orderBy("k").collect().toSeq
    val salted = Salt.aggregate(df, Seq(col("k")),
        Salt.saltFrom(col("id"), 4),
        Seq("s" -> (col("v").cast("decimal(18,2)"), Salt.sum2),
            "n" -> (lit(1L), Salt.sum2)))
      .orderBy("k").collect().toSeq
    assert(salted == direct)
  }

  test("day-partitioned lake prunes partitions on date predicates") {
    val dir = Files.createTempDirectory("graft_lake").toString
    Lake.writeByDay(Tables.events(spark, sf), "ts", dir)
    val days = Lake.read(spark, dir).select("day").distinct().count()
    assert(days > 5)
    val filtered = Lake.read(spark, dir)
      .filter(col("day") === "2024-01-03")
    filtered.collect()
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("day"),
      s"expected partition filters in scan:\n$scan")
    // the pruned scan must touch ~1/days of the files
    val counts = "files read: (\\d+)".r.findFirstMatchIn(
      filtered.queryExecution.executedPlan.toString)
    // plan text formats vary; the load-bearing assertion is the filter +
    // correct result
    assert(filtered.count() ==
      Tables.events(spark, sf)
        .filter(to_date(col("ts")) === "2024-01-03").count())
  }

  test("family() classifies twin suffixes before the parity id regex") {
    // r12 advice: §2-numbered scale twins were tagged "parity", so the
    // per-family bench subtotals charged twin cost to parity coverage.
    assert(Queries.family("q_u2_dedup_keep_first") == "parity")
    assert(Queries.family("q_u2_dedup_keep_first_agg") == "twin")
    assert(Queries.family("q_a10_keep_latest_agg") == "twin")
    assert(Queries.family("q_sim_containment_stratified") == "twin")
    assert(Queries.family("q_graph_pagerank_lsh") == "twin")
    assert(Queries.family("q_ds_master_table") == "parity")
    assert(Queries.family("q_geo_bbox_join") == "parity")
    assert(Queries.family("q_text_bm25_topk") == "extension")
    assert(Queries.family("q_sim_lsh_incremental_lake_probe") == "extension")
  }

  test("Verify.dump deletes a stale output, so a failing query leaves none") {
    val out = Files.createTempDirectory("graft_verify").toString
    val stale = java.nio.file.Paths.get(out, "q_stale")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-00000.parquet"), "stale")
    val ok = Verify.dump(spark, sf, out, "q_stale",
      (_, _) => throw new IllegalStateException("query failed"))
    assert(!ok, "a throwing query must report a failure")
    assert(!Files.exists(stale), "stale output survived a failed query")
    assert(Verify.dump(spark, sf, out, "q_ok", (s, _) => s.range(3).toDF()))
    assert(new java.io.File(out, "q_ok").list().exists(_.endsWith(".parquet")))
  }

  test("jsonString escapes quote, backslash and control chars so Jackson reads them back") {
    val raw = "a\"b\\c\nd\re\tf\u0001g"
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(json.readValue(Verify.jsonString(raw), classOf[String]) == raw)
  }

  test("Bench.render: warm medians, spreads, cpu/gc, reruns and errors in the artifact contract") {
    import Bench.{Run, Stats}
    val runs = Seq(
      // chronological: cold 5.0, then warm 1.0, 3.0, 2.0
      "q_a" -> Seq(Run(5.0, 9.0, 0.5), Run(1.0, 4.0, 0.1),
        Run(3.0, 6.0, 0.3), Run(2.0, 5.0, 0.2)),
      "q_b" -> Seq.empty[Run],
      "q_c" -> Seq(Run(1.5, 2.0, 0.0), Run(0.5, 1.0, 0.0)))
    val results = runs.map { case (n, rs) => n -> Bench.stats(rs) }
    // q_c's in-sweep numbers, replaced by a fresh-JVM rerun
    val reruns = Seq("q_c" -> Stats(9.0, 0.5, 1.25, 8.0, 1.0, 0.0))
    val errors = Map("q_b" -> "java.lang.Error: \"boom\"",
      "q_c" -> "a rerun failed")
    val (line, compact) =
      Bench.render(results, reruns, errors, (0.5, 1.5), "/sf", "BENCH_LOCAL.json")
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val full = m.readTree(line)
    assert(full.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "queries", "spread", "first", "cpu", "gc", "reruns", "errors", "runs",
      "loadavg", "families", "sf"))
    val q = full.get("queries")
    // the warm median, not the smallest run and not the cold-inclusive one
    assert(q.get("q_a").asDouble == 2.0)
    assert(q.get("q_b").asDouble == -1.0)
    assert(q.get("q_c").asDouble == 1.5) // 2 runs: none dropped, upper median
    def arr(n: com.fasterxml.jackson.databind.JsonNode) =
      (0 until n.size).map(n.get(_).asDouble)
    assert(arr(full.get("spread").get("q_a")) == Seq(1.0, 2.0, 3.0))
    assert(arr(full.get("spread").get("q_c")) == Seq(0.5, 1.5, 1.5))
    assert(!full.get("spread").has("q_b"))
    assert(full.get("reruns").fieldNames.asScala.toSeq == Seq("q_c"))
    assert(arr(full.get("reruns").get("q_c")) == Seq(0.5, 1.25, 8.0))
    assert(full.get("first").get("q_a").asDouble == 5.0)
    assert(full.get("cpu").get("q_a").asDouble == 5.0)
    assert(full.get("gc").get("q_a").asDouble == 0.2)
    // kept times win over a recorded error; none at all means an error
    assert(full.get("errors").size == 1)
    assert(full.get("errors").get("q_b").asText == "java.lang.Error: \"boom\"")
    assert(full.get("value").asDouble == 3.5)
    assert(arr(full.get("loadavg")) == Seq(0.5, 1.5))
    val tail = m.readTree(compact)
    assert(tail.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "queries", "n_queries", "n_errors", "runs", "loadavg", "sf", "detail"))
    assert(tail.get("queries").fieldNames.asScala.toSeq == Seq("q_a", "q_c"))
    assert(tail.get("n_queries").asInt == 3 && tail.get("n_errors").asInt == 1)
    assert(tail.get("detail").asText == "BENCH_LOCAL.json")
  }

  test("Tables.spread hash-spreads a one-partition scan by its key and leaves a wide scan alone") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    def repartitions(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.logical.collect { case r: RepartitionByExpression => r }
    // one small file scans as one partition under the local[4] session
    assert(Tables.documents(spark, sf).rdd.getNumPartitions == 1)
    val spread = Tables.spread(spark, sf, "documents")
    assert(spread.rdd.getNumPartitions == 4)
    assert(repartitions(spread).flatMap(_.partitionExpressions)
      .flatMap(_.references.map(_.name)) == Seq("doc_id"))
    // every row sits in the Murmur3 hash partition of its doc_id
    assert(spread.filter(spark_partition_id() =!=
      pmod(hash(col("doc_id")), lit(4))).isEmpty)
    assert(spread.count() == Tables.documents(spark, sf).count())
    // four files already scan as four partitions: the byte gate passes,
    // the planned-scan gate returns the frame unchanged
    val dir = Files.createTempDirectory("graft_spread").toString
    Tables.documents(spark, sf).repartition(4)
      .write.parquet(s"$dir/documents.parquet")
    val wide = Tables.documents(spark, dir)
    assert(wide.rdd.getNumPartitions >= 4)
    val unchanged = Tables.spread(spark, dir, "documents")
    assert(repartitions(unchanged).isEmpty)
    assert(unchanged.rdd.getNumPartitions == wide.rdd.getNumPartitions)
  }

  test("autoWidthFactor sums bytes recursively and gates on 1 GB") {
    // r12 defect: a top-level-only listing returned 0 bytes for
    // partitioned lake dirs (data lives in day=.../part-*.parquet),
    // silently pinning the width factor to 1 there.
    val root = Files.createTempDirectory("graft_width").toString
    def put(rel: String, n: Int): Unit = {
      val p = java.nio.file.Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, new Array[Byte](n))
    }
    put("day=2024-01-01/part-0.parquet", 1 << 20)
    put("day=2024-01-02/part-0.parquet", 1 << 20)
    put("top.parquet", 1 << 20)
    assert(Sessions.dirBytes(root) == 3L * (1 << 20),
      "nested partition files must count toward input volume")
    assert(Sessions.dirBytes(root + "/nope") == 0L)
    // absolute gate: anything under 1 GB is factor 1 at ANY core count
    assert(Sessions.autoWidthFactor(root, 4) == 1)
    assert(Sessions.autoWidthFactor(root, 32) == 1)
    // above the gate the byte/core formula applies (sparse file keeps
    // this cheap on disk is NOT guaranteed by Files.write, so compute
    // the formula against the flat testdata instead of writing 1 GB):
    // 2.2 GB at 32 cores -> round(2.2e9/2.56e8) = 9, capped at 16.
    val sf10 = "/root/repo/target/sf10"
    if (new java.io.File(sf10).isDirectory) {
      val f = Sessions.autoWidthFactor(sf10, 32)
      assert(f >= 8 && f <= 16, s"sf10 factor out of calibrated range: $f")
    }
  }

  test("TMP catalog artifacts are dataset-scoped: cross-dataset runs are idempotent") {
    // r13's one red row: q_profile_hll_catalog wrote day-partitioned
    // sketches with DYNAMIC partition overwrite into a dataset-AGNOSTIC
    // $TMP dir; a later sf10 sweep left 3000 foreign day partitions
    // that dynamic overwrite preserves, so the next sf0.01 run read
    // n_days=3000 against the oracle's 30. The fix keys the catalog
    // dir by dataset (QueriesSources.dsScoped); this test pins the
    // class of bug: running the SAME query against dataset B between
    // two runs on dataset A must not change A's answer, and each
    // dataset's n_days must equal its OWN day count.
    val q = Queries.all("q_profile_hll_catalog")
    val a = sf                       // sf0.001
    val b = "/root/testdata/sf0.01"  // different day population
    def run(d: String): Seq[Seq[Any]] =
      q(spark, d).collect().toSeq.map(_.toSeq)
    val a1 = run(a)
    val nDaysA = Tables.events(spark, a)
      .select(to_date(col("ts"))).distinct().count()
    assert(a1.head.head == nDaysA,
      s"first run on A already wrong: ${a1.head.head} != $nDaysA " +
        "(stale catalog dir? wipe target/tmp)")
    val b1 = run(b)
    val nDaysB = Tables.events(spark, b)
      .select(to_date(col("ts"))).distinct().count()
    assert(b1.head.head == nDaysB)
    val a2 = run(a)
    assert(a2 == a1,
      "cross-dataset catalog pollution: A's answer changed after B ran")
    // Same pin for the KMV catalog (the second dynamic-partition-
    // overwrite writer): A -> B -> A must be idempotent, and each
    // run's n_days must equal its own dataset's day count.
    val qk = Queries.all("q_profile_kmv_catalog")
    def runK(d: String): Seq[Seq[Any]] =
      qk(spark, d).collect().toSeq.map(_.toSeq)
    val ka = runK(a)
    assert(ka.head.head == nDaysA)
    assert(runK(b).head.head == nDaysB)
    assert(runK(a) == ka,
      "cross-dataset KMV catalog pollution: A's answer changed after B")
    // And for the count-min catalog (the third dynamic-partition-
    // overwrite writer; its n_days rides on every probe row).
    val qc = Queries.all("q_profile_cm_catalog")
    def runC(d: String): Seq[Seq[Any]] =
      qc(spark, d).collect().toSeq.map(_.toSeq)
    val ca = runC(a)
    assert(ca.head.head == nDaysA)
    assert(runC(b).head.head == nDaysB)
    assert(runC(a) == ca,
      "cross-dataset CM catalog pollution: A's answer changed after B")
    // And for the histogram catalog (the fourth dynamic-partition-
    // overwrite writer; exact distributions, n_days leads the row).
    val qp = Queries.all("q_profile_pctl_catalog")
    def runP(d: String): Seq[Seq[Any]] =
      qp(spark, d).collect().toSeq.map(_.toSeq)
    val pa = runP(a)
    assert(pa.head.head == nDaysA)
    assert(runP(b).head.head == nDaysB)
    assert(runP(a) == pa,
      "cross-dataset pctl catalog pollution: A's answer changed after B")
  }

  test("TMP round-trip artifacts are process-scoped: no shared writable path across JVMs") {
    // r14's red: the embedded Derby db lived at a FIXED shared path, and
    // Derby allows exactly one booting JVM per database directory — when
    // the driver's correctness and bench JVMs overlapped, the second got
    // XSDB6 and three JDBC queries lost their correctness rows. The fix
    // keys the db dir (and every write-then-read-back round-trip dir) by
    // process id. This pins both halves of the lesson:
    // (1) distinct processes must get distinct paths;
    val d1 = QueriesSources.derbyDbDir(111L)
    val d2 = QueriesSources.derbyDbDir(222L)
    assert(d1 != d2, "derby db dir must be JVM-scoped")
    val pid = ProcessHandle.current().pid()
    assert(QueriesSources.derbyDbDir(pid).endsWith(s"graftdb-$pid"))
    val ps = QueriesSources.procScoped("x_roundtrip", sf)
    assert(ps.endsWith(s"_p$pid"), s"procScoped must embed the pid: $ps")
    assert(ps.contains("ds_"), "procScoped must also keep the dataset key")
    // (2) no query body may interpolate a raw shared $TMP path: every
    // TMP use inside the registry region must go through dsScoped /
    // procScoped / derbyDbDir, which are all defined BEFORE `val qs`.
    // A future query hardcoding s"$TMP/..." lands after that marker
    // and fails here.
    val src = new String(Files.readAllBytes(java.nio.file.Paths.get(
      "/root/repo/src/main/scala/graft/QueriesSources.scala")), "UTF-8")
    val qsStart = src.indexOf("val qs: Seq[Q]")
    assert(qsStart > 0, "registry marker missing")
    val rawTmpInRegistry = src.substring(qsStart)
      .linesIterator.zipWithIndex
      .filter(_._1.contains("$TMP"))
      .map(_._1.trim).toSeq
    assert(rawTmpInRegistry.isEmpty,
      s"raw \\$$TMP path inside the query registry (use dsScoped/procScoped): $rawTmpInRegistry")
  }

  test("doc query totals cannot drift from the registry") {
    // The r7 verdict caught SURVEY/README totals lagging the registry
    // twice; this pins them. Every oracle-bearing doc number must equal
    // Queries.all.size, and every registered query must carry an oracle
    // (rows-only entries are banned since round 8 closed the last one).
    val n = Queries.all.size
    def docN(path: String, re: scala.util.matching.Regex): Int = {
      val text = new String(Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      re.findFirstMatchIn(text)
        .getOrElse(sys.error(s"totals sentence missing from $path"))
        .group(1).toInt
    }
    assert(docN("/root/repo/SURVEY.md",
      "(\\d+) registered queries".r) == n,
      s"SURVEY.md totals != $n registered")
    assert(docN("/root/repo/README.md",
      "ALL (\\d+) registered queries".r) == n,
      s"README.md totals != $n registered")
    val unoracled = Queries.all.keySet -- Queries.oracles.keySet
    assert(unoracled.isEmpty,
      s"queries without a DuckDB oracle: $unoracled")
    // The TEST-count claim drifts too (r12: SURVEY said 308 while sbt
    // test reported 310). Pin it to the source-level registration
    // count: one `test("` per ScalaTest case + one `property(` per
    // ScalaCheck law, which is what `sbt test` runs.
    def countIn(root: java.io.File, re: scala.util.matching.Regex): Int = {
      def walk(f: java.io.File): Iterator[java.io.File] =
        if (f.isDirectory) f.listFiles.iterator.flatMap(walk)
        else if (f.getName.endsWith(".scala")) Iterator(f)
        else Iterator.empty
      walk(root).map { f =>
        re.findAllMatchIn(new String(
          Files.readAllBytes(f.toPath), "UTF-8")).size
      }.sum
    }
    val testRoot = new java.io.File("/root/repo/src/test")
    val nTests = countIn(testRoot, "(?m)^\\s*test\\(\"".r) +
      countIn(testRoot, "(?m)^\\s*property\\(\"".r)
    assert(docN("/root/repo/SURVEY.md",
      "(\\d+) ScalaTest/ScalaCheck tests".r) == nTests,
      s"SURVEY.md test-count claim != $nTests registered tests")
  }
}
