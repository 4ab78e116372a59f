package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.commons.io.FileUtils
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{Queries, Sessions}
import graft.cli.GarminPipeline
import graft.datasets.{ActivitiesPipeline, GarminRaw}
import graft.operators.{Components, Dedup, Similarity}
import graft.sinks.Jdbc
import graft.sources.{JsonSources, Tables}
import graft.tools.PlanWalk

/** One benchmark run in one JVM: set up the session once, run
  * passes over the workload's operation list (closed loop, one operation
  * at a time), and write everything the Python side needs into one JSON
  * file. Passes run until `--seconds` have passed, at least one.
  * `--trace 1` adds traced and untraced warm passes after the first (the
  * difference is the tracing overhead) and then replays the workload's
  * layers one call at a time.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --data DIR [--raw DIR] --ops a,b,c --cores N
  *     --result FILE
  */
object Main {

  val GarminDatasets: Seq[String] = Seq("summarized_activities",
    "running_data", "sleep_data", "atl_data", "maxmet_data",
    "race_predictions", "training_history", "uds_data")

  // QueriesSimilarity's private K (minhash width) and R (rows per band),
  // and the maxBucket = 20 of q_sim_lsh_neardup and q_sim_dup_clusters,
  // for the traced replay of their chain. Keep them equal to the queries'.
  val MinhashK = 8
  val RowsPerBand = 2
  val BucketCap = 20

  final case class Span(id: Int, parent: Int, name: String, op: String,
                        pass: Int, start: Long, end: Long)

  /** Nested wall-clock spans; a no-op while disabled. */
  final class Tracer(t0: Long) {
    var enabled = false
    var op = ""
    var pass = -1
    val spans = ArrayBuffer.empty[Span]
    private var stack = List(0)
    private var next = 1
    def apply[T](name: String)(body: => T): T =
      if (!enabled) body
      else {
        val id = next; next += 1
        val parent = stack.head
        stack = id :: stack
        val s = System.nanoTime()
        try body
        finally {
          stack = stack.tail
          spans += Span(id, parent, name, op, pass, s - t0, System.nanoTime() - t0)
        }
      }
    def total(name: String, onlyPass: Int => Boolean = _ => true): Double =
      spans.filter(s => s.name == name && onlyPass(s.pass))
        .map(s => (s.end - s.start) / 1e9).sum
  }

  /** Spark execution counters, reset per pass. */
  final class ExecListener extends SparkListener {
    var jobs, stages, tasks, failedTasks = 0L
    var runNs, cpuNs, gcMs, schedMs, shuffleW, shuffleR, fetchMs = 0L
    var spillMem, spillDisk = 0L
    val jobStart = scala.collection.mutable.Map.empty[Int, Long]
    val jobSpans = ArrayBuffer.empty[(Long, Long)]
    val stageTasks = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
    val stageDur = scala.collection.mutable.Map.empty[(Int, Int), Long]

    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0; failedTasks = 0
      runNs = 0; cpuNs = 0; gcMs = 0; schedMs = 0; shuffleW = 0; shuffleR = 0
      fetchMs = 0; spillMem = 0; spillDisk = 0
      jobStart.clear(); jobSpans.clear(); stageTasks.clear(); stageDur.clear()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs += 1
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stageDur((i.stageId, i.attemptNumber())) = c - s
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (!e.taskInfo.successful) failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runNs += m.executorRunTime * 1000000L
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        val dur = e.taskInfo.duration
        schedMs += math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        shuffleW += m.shuffleWriteMetrics.bytesWritten
        shuffleR += m.shuffleReadMetrics.totalBytesRead
        fetchMs += m.shuffleReadMetrics.fetchWaitTime
        spillMem += m.memoryBytesSpilled
        spillDisk += m.diskBytesSpilled
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
          ArrayBuffer.empty) += dur
      }
    }

    /** Wall time covered by at least one running job. */
    def busyMs: Long = synchronized {
      var total = 0L; var curS = -1L; var curE = -1L
      for ((s, e) <- jobSpans.sortBy(_._1)) {
        if (s > curE) { total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      total + (curE - curS)
    }

    /** max / median task time in the longest stage. */
    def skew: Double = synchronized {
      if (stageDur.isEmpty) 0.0
      else {
        val key = stageDur.maxBy(_._2)._1
        val ts = stageTasks.getOrElse(key, ArrayBuffer.empty[Long]).sorted
        if (ts.isEmpty) 0.0
        else ts.last.toDouble / math.max(1L, ts(ts.size / 2))
      }
    }
  }

  /** Every query execution, so the executed (AQE-final) plans can be
    * walked after each operation.
    */
  final class PlanCapture extends QueryExecutionListener {
    val qes = ArrayBuffer.empty[QueryExecution]
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized(qes += qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    def take(): Seq[QueryExecution] = synchronized {
      val r = qes.toList; qes.clear(); r
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val dataDir = a("data")
    val rawDir = a.getOrElse("raw", "")
    val ops = a("ops").split(",").toSeq.filter(_.nonEmpty)
    val cores = a("cores").toInt
    val t0 = System.nanoTime()
    val tr = new Tracer(t0)
    val isEtl = workload.startsWith("etl")

    // ---- set-up: JVM start to a ready session with the warm-up op done
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val s0 = System.currentTimeMillis()
    val spark = Sessions.builder(s"local[$cores]", cores, Some(dataDir)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val s1 = System.currentTimeMillis()
    val warm = spark.range(0, 200000, 1, cores)
      .groupBy((col("id") % 97).as("k")).agg(sum(col("id")).as("s"))
      .agg(sum(col("s"))).head().getLong(0)
    require(warm == 199999L * 200000L / 2, s"warm-up op returned $warm")
    val s2 = System.currentTimeMillis()
    val setup = Map("setup_s" -> (s2 - jvmStartMs) / 1e3, "jvm_s" -> (s0 - jvmStartMs) / 1e3,
      "start_s" -> (s1 - s0) / 1e3, "warmup_s" -> (s2 - s1) / 1e3)
    val sc = spark.sparkContext
    // Untraced runs register nothing: their passes are the end-to-end numbers.
    val listener = new ExecListener
    val plans = new PlanCapture
    if (trace) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(plans)
    }

    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = ManagementFactory.getCompilationMXBean
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    // Two full collections around a pause: objects released by the
    // ContextCleaner's reference processing after the first one are
    // only reclaimed by the second.
    def liveOldMb(): Double = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      oldGen.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L))
        .sum / 1048576.0
    }
    def storageBytes(): Long =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    def clearStorage(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    val derbyUrl = "jdbc:derby:memory:perfbench;create=true"
    val queries = Queries.all
    val opRecords = ArrayBuffer.empty[Map[String, Any]]
    val planCounts = scala.collection.mutable.Map.empty[String, (Int, Int)]
    val leftover = scala.collection.mutable.Map.empty[String, Double]
    var etlRows = Map.empty[String, Long]
    var etlDerby = Map.empty[String, Long]

    def walkPlans(op: String): Unit = {
      PerfbenchBus.drain(sc)
      val counts = plans.take().map { qe =>
        val p = qe.executedPlan match {
          case c: CommandResultExec => c.commandPhysicalPlan
          case o => o
        }
        PlanWalk.exchangeScanCounts(p)
      }
      planCounts(op) = (counts.map(_._1).sum, counts.map(_._2).sum)
    }

    def record(pass: Int, op: String, err: Option[Throwable], secs: Double): Unit =
      opRecords += Map("pass" -> pass, "op" -> op, "ok" -> err.isEmpty,
        "error" -> err.map(e => e.toString.take(400)).orNull, "wall_s" -> secs)

    def runQuery(pass: Int, name: String, passDir: Path): Unit = {
      tr.op = name
      val before = if (tr.enabled) storageBytes() else 0L
      val w0 = System.nanoTime()
      val err = try {
        tr("op") {
          val df = tr("plan.build")(queries(name)(spark, dataDir))
          if (tr.enabled) tr("plan.optimize")(df.queryExecution.executedPlan)
          tr("exec")(df.write.mode("overwrite").parquet(passDir.resolve(name).toString))
        }
        None
      } catch { case e: Throwable => Some(e) }
      record(pass, name, err, (System.nanoTime() - w0) / 1e9)
      if (tr.enabled) {
        walkPlans(name)
        leftover(name) = (storageBytes() - before) / 1048576.0
      }
    }

    def runEtl(pass: Int, passDir: Path): Unit = {
      tr.op = "garmin_pipeline"
      val w0 = System.nanoTime()
      val results = try tr("op")(tr("exec")(GarminPipeline.run(spark,
          passDir.resolve("landed").toString, rawDir, Some(GarminDatasets))))
        catch { case e: Throwable =>
          GarminDatasets.map(d => GarminPipeline.Result(d, -1L, Some(e.toString))) }
      val landSecs = (System.nanoTime() - w0) / 1e9
      if (tr.enabled) walkPlans("garmin_pipeline")
      var rows = Map.empty[String, Long]
      var derby = Map.empty[String, Long]
      for (r <- results) {
        tr.op = r.dataset
        val w1 = System.nanoTime()
        val err = r.error.map(m => new RuntimeException(m)).orElse {
          try {
            rows += r.dataset -> r.rows
            tr("sinks.jdbc_load")(Jdbc.load(
              spark.read.parquet(passDir.resolve("landed").resolve(r.dataset).toString),
              derbyUrl, r.dataset, "replace", numPartitions = Some(cores)))
            derby += r.dataset -> tr("sinks.jdbc_verify")(
              Jdbc.rowCount(spark, derbyUrl, r.dataset))
            None
          } catch { case e: Throwable => Some(e) }
        }
        // each dataset's share of the landing pass plus its own reload
        record(pass, r.dataset, err, landSecs / results.size +
          (System.nanoTime() - w1) / 1e9)
      }
      if (tr.enabled) walkPlans("garmin_jdbc")
      etlRows = rows
      etlDerby = derby
    }

    // ---- measured passes
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var lastPassDir: Path = null
    var heapPeak = 0.0
    var execSnap = Map.empty[String, Double]
    var tracedPass = -1
    val outRoot = work.resolve("out")
    FileUtils.deleteQuietly(outRoot.toFile)
    val m0 = System.nanoTime()
    var k = 0
    // Pass 0 runs cold (JIT, first-use class loading) and is the measured
    // one. A traced run alternates traced and untraced warm passes after
    // it, at least one of each, so both kinds are measured in the same
    // process.
    val minPasses = if (trace) 3 else 1
    while (k < minPasses || System.nanoTime() - m0 < seconds * 1e9) {
      val traced = trace && k % 2 == 1
      val passDir = outRoot.resolve(s"pass$k")
      if (lastPassDir != null) FileUtils.deleteQuietly(lastPassDir.toFile)
      Files.createDirectories(passDir)
      listener.reset()
      tr.enabled = traced
      tr.pass = k
      plans.take()
      val c0 = cpuBean.getProcessCpuTime
      val j0 = jit.getTotalCompilationTime
      val w0 = System.nanoTime()
      if (isEtl) runEtl(k, passDir)
      else ops.foreach(op => runQuery(k, op, passDir))
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - c0) / 1e9
      val jitS = (jit.getTotalCompilationTime - j0) / 1e3
      tr.enabled = false
      PerfbenchBus.drain(sc)
      if (traced) {
        tracedPass = k
        val busy = listener.busyMs / 1000.0
        execSnap = Map(
          "exec.s" -> busy,
          "exec.jobs" -> listener.jobs.toDouble,
          "exec.stages" -> listener.stages.toDouble,
          "exec.tasks" -> listener.tasks.toDouble,
          "exec.task_run_s" -> listener.runNs / 1e9,
          "exec.task_cpu_s" -> listener.cpuNs / 1e9,
          "exec.cpu_util" -> (if (busy > 0) listener.cpuNs / 1e9 / (busy * cores) else 0.0),
          "exec.sched_delay_s" -> listener.schedMs / 1000.0,
          "exec.gc_s" -> listener.gcMs / 1000.0,
          "exec.shuffle_write_bytes" -> listener.shuffleW.toDouble,
          "exec.shuffle_read_bytes" -> listener.shuffleR.toDouble,
          "exec.shuffle_fetch_wait_s" -> listener.fetchMs / 1000.0,
          "exec.spill_memory_bytes" -> listener.spillMem.toDouble,
          "exec.spill_disk_bytes" -> listener.spillDisk.toDouble,
          "exec.task_skew" -> listener.skew,
          "exec.failed_tasks" -> listener.failedTasks.toDouble,
          "cache.leftover_mb" -> storageBytes() / 1048576.0)
      }
      val live = liveOldMb()
      heapPeak = math.max(heapPeak, live)
      clearStorage()
      passes += Map("pass" -> k, "wall_s" -> wall, "cpu_s" -> cpu, "jit_s" -> jitS,
        "traced" -> traced, "live_mb" -> live)
      lastPassDir = passDir
      k += 1
    }

    // ---- traced replays of single layers (outside the measured passes)
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val replayPass = -2
    if (trace) {
      tr.enabled = true
      tr.pass = replayPass
      val replayDir = work.resolve("replay")
      FileUtils.deleteQuietly(replayDir.toFile)
      def jobsDuring[T](body: => T): (T, Long) = {
        PerfbenchBus.drain(sc)
        val j0 = listener.jobs
        val r = body
        PerfbenchBus.drain(sc)
        (r, listener.jobs - j0)
      }
      if (isEtl) {
        val envelopeGlob = "*/DI_CONNECT/DI-Connect-Fitness/*summarizedActivities*.json"
        val scans: Seq[(String, String, () => DataFrame)] = Seq(
          ("sleep", "*/DI_CONNECT/DI-Connect-Wellness/*sleepData.json",
            () => GarminRaw.sleep(spark, rawDir)),
          ("atl", "*/DI_CONNECT/DI-Connect-Metrics/MetricsAcuteTrainingLoad_*.json",
            () => GarminRaw.atl(spark, rawDir)),
          ("maxmet", "*/DI_CONNECT/DI-Connect-Metrics/MetricsMaxMetData_*.json",
            () => GarminRaw.maxmet(spark, rawDir)),
          ("race", "*/DI_CONNECT/DI-Connect-Metrics/RunRacePredictions_*.json",
            () => GarminRaw.racePredictions(spark, rawDir)),
          ("training", "*/DI_CONNECT/DI-Connect-Metrics/TrainingHistory_*.json",
            () => GarminRaw.trainingHistory(spark, rawDir)),
          ("uds", "*/DI_CONNECT/DI-Connect-Aggregator/UDSFile_*.json",
            () => GarminRaw.uds(spark, rawDir)),
          ("activities", envelopeGlob, () => JsonSources.scanEnvelope(spark,
            s"$rawDir/$envelopeGlob", "summarizedActivitiesExport",
            ActivitiesPipeline.innerSchema)))
        var files, bytes, records = 0L
        for ((name, glob, mk) <- scans) {
          tr.op = name
          val matcher = java.nio.file.FileSystems.getDefault
            .getPathMatcher("glob:" + Paths.get(rawDir).toAbsolutePath + "/" + glob)
          val st = Files.walk(Paths.get(rawDir))
          val matched = try st.iterator().asScala
            .filter(p => Files.isRegularFile(p) && matcher.matches(p.toAbsolutePath)).toList
          finally st.close()
          files += matched.size
          bytes += matched.map(Files.size(_)).sum
          val obs = Observation(s"n_$name")
          tr("sources.scan")(mk().observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save())
          records += obs.get("n").asInstanceOf[Long]
        }
        layer ++= Seq("sources.scan_s" -> tr.total("sources.scan", _ == replayPass),
          "sources.files" -> files.toDouble, "sources.input_bytes" -> bytes.toDouble,
          "sources.input_records" -> records.toDouble)
        var eager = 0L
        for ((name, mk) <- GarminPipeline.datasets(spark, rawDir)
             if GarminDatasets.contains(name)) {
          tr.op = name
          val (df, jobs) = jobsDuring(tr("datasets.build")(mk()))
          eager += jobs
          tr("plan.optimize")(df.queryExecution.executedPlan)
          tr("datasets.run")(df.write.format("noop").mode("overwrite").save())
          val out = replayDir.resolve(name).toString
          tr("cli.write")(df.write.mode("overwrite").parquet(out))
          tr("cli.verify")(spark.read.parquet(out).count())
          clearStorage()
        }
        layer ++= Seq(
          "datasets.build_s" -> tr.total("datasets.build", _ == replayPass),
          "datasets.eager_jobs" -> eager.toDouble,
          "datasets.run_s" -> tr.total("datasets.run", _ == replayPass),
          "cli.write_s" -> tr.total("cli.write", _ == replayPass),
          "cli.verify_s" -> tr.total("cli.verify", _ == replayPass),
          "cli.bytes_written" -> FileUtils.sizeOfDirectory(replayDir.toFile).toDouble,
          "sinks.jdbc_load_s" -> tr.total("sinks.jdbc_load", _ == tracedPass),
          "sinks.jdbc_rows" -> etlDerby.values.sum.toDouble,
          "sinks.jdbc_verify_s" -> tr.total("sinks.jdbc_verify", _ == tracedPass),
          "plan.build_s" -> tr.total("datasets.build", _ == replayPass),
          "plan.optimize_s" -> tr.total("plan.optimize", _ == replayPass))
      }
      if (workload.startsWith("neardup")) {
        // The chain of q_sim_lsh_neardup and q_sim_dup_clusters, call for
        // call. Only `hs` is cached, as in the queries. Each step is
        // materialised by a noop write, which recomputes the uncached steps
        // before it, so a step's time is its write less the previous one's.
        tr.op = "neardup_chain"
        def noop(df: DataFrame, n: String): Long = {
          val obs = Observation(n)
          df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
          obs.get("n").asInstanceOf[Long]
        }
        val docs = Tables.documents(spark, dataDir)
        val uniq = Similarity.spreadById(
          Dedup.exactByContent(docs, "text", "doc_id"), "doc_id")
        val hs = Similarity.hashedShingles(
          Similarity.charShingles(uniq, "doc_id", "text", 5), "doc_id")
          .cache()
        val bands = Similarity.lshBands(Similarity.minhashFromHashes(hs, "doc_id", MinhashK),
          "doc_id", MinhashK, RowsPerBand)
        val cand = Similarity.candidatePairs(bands, "doc_id", maxBucket = BucketCap)
        val ver = Similarity.jaccardForPairsHashed(cand, hs, "doc_id")
          .filter(col("jaccard") >= 0.8)
        tr("operators.shingle")(noop(hs, "hs"))
        tr("operators.minhash")(noop(bands, "bands"))
        val nCand = tr("operators.candidates")(noop(cand, "cand"))
        val nVer = tr("operators.verify")(noop(ver, "ver"))
        val (_, compJobs) = jobsDuring(tr("operators.components")(noop(
          Components.connectedComponents(ver.select(col("id_a"), col("id_b")), "id_a", "id_b"),
          "components")))
        val maxBucket = bands.groupBy(col("band"), col("band_value")).count()
          .agg(max(col("count"))).head().getLong(0)
        clearStorage()
        def step(name: String) = tr.total(name, _ == replayPass)
        layer ++= Seq(
          "operators.shingle_s" -> step("operators.shingle"),
          "operators.minhash_s" -> step("operators.minhash"),
          "operators.candidates_s" -> (step("operators.candidates") - step("operators.minhash")),
          "operators.verify_s" -> (step("operators.verify") - step("operators.candidates")),
          "operators.components_s" -> (step("operators.components") - step("operators.verify")),
          "operators.candidate_pairs" -> nCand.toDouble,
          "operators.verified_pairs" -> nVer.toDouble,
          "operators.candidate_precision" ->
            (if (nCand > 0) nVer.toDouble / nCand else 0.0),
          "operators.max_bucket_ids" -> maxBucket.toDouble,
          "operators.components_jobs" -> compJobs.toDouble)
      }
      if (!isEtl) {
        layer ++= Seq(
          "plan.build_s" -> tr.total("plan.build", _ == tracedPass),
          "plan.optimize_s" -> tr.total("plan.optimize", _ == tracedPass))
      }
      val pc = planCounts.values
      layer ++= Seq("plan.exchanges" -> pc.map(_._1).sum.toDouble,
        "plan.scans" -> pc.map(_._2).sum.toDouble)
      layer ++= execSnap
      tr.enabled = false
      val walls = passes.drop(1)
        .map(p => (p("traced").asInstanceOf[Boolean], p("wall_s").asInstanceOf[Double]))
      layer("trace.overhead_s") =
        median(walls.filter(_._1).map(_._2).toSeq) - median(walls.filterNot(_._1).map(_._2).toSeq)
    }
    layer("sessions.start_s") = setup("start_s")
    layer("sessions.warmup_s") = setup("warmup_s")

    val oracles = if (isEtl) Map.empty[String, String]
      else ops.flatMap(o => Queries.oracles.get(o).map(o -> _)).toMap
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jdk" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "setup" -> setup,
      "passes" -> passes,
      "live_heap_peak_mb" -> heapPeak,
      "ops" -> opRecords,
      "out_dir" -> lastPassDir.toString,
      "etl_rows" -> etlRows, "etl_derby" -> etlDerby,
      "oracles" -> oracles,
      "layers" -> layer,
      "plan_counts" -> planCounts.map { case (k, (e, s)) => k -> Map("exchanges" -> e, "scans" -> s) },
      "cache_leftover_mb" -> leftover,
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "pass" -> s.pass,
        "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9)))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(a("result")), result)
    spark.stop()
  }
}
