package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (see /root/repo/TESTDATA.md). One parquet file per table under
  * `sfDir`. Parquet scans give Catalyst pushdown + pruning for free;
  * at cluster scale the same call reads a partitioned directory, so
  * nothing here assumes single-file layout.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Bytes under `p` — a regular file's size, a directory's recursive
    * sum (partitioned layouts), 0 on any error.
    */
  private def pathBytes(p: String): Long =
    try {
      val path = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isRegularFile(path))
        java.nio.file.Files.size(path)
      else graft.Sessions.dirBytes(p)
    } catch { case _: Throwable => 0L }

  /** Scan fan-out for inputs too small to fill the session's cores
    * (optimization round 15; the measured evidence is in
    * OPTIMIZATION_r15.md "scan fan-out").
    *
    * A small parquet file is one row group, and a row group scans as
    * ONE task regardless of core count (split planning is byte-ranged,
    * but only the split containing the row-group start reads rows). So
    * every pipeline whose expensive leg is scan-side row expansion —
    * tokenize → explode ngrams → md5, vector math on embeddings, the
    * column-pair explode of the profile queries — ran serially while
    * 31 cores idled: measured 3.7-12.5 s single-task stages across the
    * text/similarity/graph families at sf0.1.
    *
    * When the input is smaller than cores × maxPartitionBytes the scan
    * CANNOT reach the session's parallelism even at the best split, so
    * one hash shuffle of the raw scan rows (cheap: it moves the
    * un-expanded table once) buys full parallelism for everything
    * downstream. The key is the table's primary id, so the first keyed
    * aggregation/distinct downstream (minhash groupBy(doc_id),
    * distinct(doc_id, h), per-doc windows) is already co-partitioned
    * and plans NO second exchange — the spread usually MOVES the
    * pipeline's first shuffle from after the row expansion (wide rows)
    * to before it (narrow rows) rather than adding one. Above the gate
    * the scan parallelizes naturally and the frame is returned
    * unchanged, so at cluster scale (100 TB inputs split into
    * thousands of tasks) this is the identity — the gate follows
    * cores × maxPartitionBytes, not a constant tuned for local mode.
    * Hash-by-id is deterministic under retries (guide §2.5: never
    * derive a synthetic partition key from rand()).
    */
  /** OPT-IN per query (measured round 15): the spread is a large win
    * exactly where the scan-side row expansion dominates (BPE encode
    * 5.46→1.88 s, exact kNN builds 5.54→1.54 s, the profile explodes
    * 5.12→2.68 s, span dedup 3.69→2.66 s at sf0.1) and a REGRESSION
    * where the pipeline is iterative/multi-consumer with small rounds
    * (q_sim_containment_stratified 10.2→46.7 s isolated: the added
    * exchange defeats subtree reuse in its 4-consumer uncached scan
    * pipeline; q_text_bpe_merges 0.47→1.19 s: 3 tiny training rounds
    * pay the exchange + task fan-out each). So the base loaders stay
    * plain scans and the measured winners call [[spread]].
    */
  def spread(s: SparkSession, d: String, table: String): DataFrame = {
    val key = spreadKey(table)
    // events needs the ts conversion; the gate and fan-out are the same
    val df = if (table == "events") events(s, d) else load(s, d, table)
    val cores = s.sparkContext.defaultParallelism
    val maxPB = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val bytes = pathBytes(s"$d/$table.parquet")
    // Two gates (r15 ADVICE tightened the second): the cheap byte gate
    // says the input COULD under-parallelize; the planned-scan gate
    // (the scan's actual partition count, row-group/split driven)
    // confirms it DOES — a 4 GB multi-row-group file already splits
    // into ~cores scan tasks, where this repartition would shuffle the
    // whole table for no parallelism gain.
    if (bytes > 0L && cores > 1 && bytes < cores.toLong * maxPB &&
        df.rdd.getNumPartitions < cores)
      df.repartition(cores, org.apache.spark.sql.functions.col(key))
    else df
  }

  /** Each spreadable table's primary id — unique, so the hash spread is
    * even (guide §2.5).
    */
  private val spreadKey = Map(
    "documents" -> "doc_id", "orders" -> "o_orderkey",
    "embeddings" -> "vec_id", "lineitem" -> "l_orderkey",
    "events" -> "event_id")

  /** events.parquet stores `ts` as parquet TIMESTAMP(NANOS), which Spark
    * only reads via spark.sql.legacy.parquet.nanosAsLong (as a raw long).
    * Convert to a microsecond TimestampType here (floor-truncate, matching
    * DuckDB's TIMESTAMP_NS -> TIMESTAMP cast) so downstream code sees a
    * normal timestamp column. Sessions must set the nanosAsLong conf
    * (graft.Sessions does).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        // Floor division in pure INTEGER math: `div` truncates toward zero
        // (wrong for pre-epoch negative nanos), and floor(x/1000.0) loses
        // precision because epoch nanos (~1.7e18) exceed double's 53-bit
        // mantissa. Subtracting pmod first keeps it exact and floor-like.
        raw.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000L)) div 1000L")))
      case TimestampNTZType =>
        // TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet surfaces as
        // NTZ in Spark 4, which unix_micros()/window() reject. The
        // session timezone is pinned to UTC (graft.Sessions), so the
        // LTZ relabel below is exact — the same micros DuckDB reads
        // from this file as its naive TIMESTAMP.
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
