package graft
import graft.plans.{Materialize, Scope}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Each query runs in its own Scope, closed after its write; a query
  * that leaves cache entries behind anyway is reported on stderr. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val names = Scope(spark)(SparkEntry.queries(_).keys.toSeq)
    names.foreach { name =>
      try Scope(spark) { scope =>
        // fork-free like the table writes; the dump keeps its _SUCCESS
        SparkEntry.queries(scope)(name)(spark, sfDir).coalesce(1).write
          .options(Materialize.ForkFreeWriteOptions)
          .mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // a lazily persisted frame that never ran has a cache-manager
      // entry but no persistent RDD yet
      val rdds = spark.sparkContext.getPersistentRDDs.size
      val left = if (rdds == 0 && !spark.sharedState.cacheManager.isEmpty) 1 else rdds
      if (left > 0) {
        System.err.println(s"[verify] $name left $left cache entries")
        // start the next query clean, so each leak is reported once
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
      }
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
    // oracle SQL may cross-check one query against another query's dump
    // via read_parquet('{OUT}/<name>/*.parquet') — substitute the real
    // dump dir (absolute, DuckDB runs with an unknown cwd)
    val absOut = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{OUT}", absOut))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
