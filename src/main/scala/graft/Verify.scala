package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args 3+ (builder-side only; the driver always passes exactly two)
    // restrict the run to the named queries for fast iteration
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val copies = SparkEntry.registry.filter(_.readBack).map(_.name).toSet
    val copyDir = SparkEntry.oracleInputDir
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // a query that throws must leave no output from an earlier run
      // behind, or the compare would grade that stale result
      FileUtils.deleteQuietly(new java.io.File(s"$outDir/$name"))
      FileUtils.deleteQuietly(new java.io.File(s"$copyDir/$name.parquet"))
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // read-back oracles reference this result at a fixed path the
        // oracle's DuckDB can see regardless of the outDir chosen
        if (copies.contains(name))
          spark.read.parquet(s"$outDir/$name").coalesce(1)
            .write.mode("overwrite").parquet(s"$copyDir/$name.parquet")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // leftover release between queries, like Bench.releaseLeftovers:
      // checkpointed corpus/survivor RDD blocks (q32/q38/q41/q46/q51
      // machinery) would otherwise accumulate across the 120-query run
      // and pressure later queries' execution memory (r19 ADVICE)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
