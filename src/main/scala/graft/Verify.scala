package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt, Some(sfDir))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.quietAuditedWindowWarn() // audited global windows, see Sessions
    new java.io.File(outDir).mkdirs()
    // Optional local-iteration filters (SPARK_GRAFT_ONLY prefix list,
    // SPARK_GRAFT_ONLY_EXACT, SPARK_GRAFT_FAMILY) — shared contract in
    // Queries.selected; the driver never sets any of them.
    // oracle_sql.json lists the selected queries only, so a filtered run
    // never pairs an oracle with an output left over from an earlier run.
    SparkEntry.queries.filter(kv => Queries.selected(kv._1))
      .foreach { case (name, fn) => dump(spark, sfDir, outDir, name, fn) }
    val json = SparkEntry.oracleSql.filter(kv => Queries.selected(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** A JSON string literal: escapes the quote, the backslash and ALL
    * control chars (< 0x20). A tab or CR in oracle SQL would otherwise
    * make `json.load` of oracle_sql.json fail, and with it every oracle
    * compare. Shared by Verify and Bench.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes one query's result to `$outDir/$name` as a single parquet
    * file. Any earlier output there is deleted first, and a failed
    * write's leftovers after, so a query that fails leaves no directory
    * for the compare to mistake for its result. Returns false (and logs
    * the error) when the query failed.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           name: String, fn: (SparkSession, String) => DataFrame): Boolean = {
    val out = Paths.get(outDir, name)
    deleteTree(out)
    val ok =
      try {
        fn(spark, sfDir).coalesce(1).write.parquet(out.toString)
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        deleteTree(out)
        false
      }
    // Queries cache() intermediates and never unpersist; across ~100
    // queries the accumulated storage becomes GC pressure (see
    // Bench). Each query's dump is self-contained, so clear between.
    spark.sharedState.cacheManager.clearCache()
    ok
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally paths.close()
    }
}
