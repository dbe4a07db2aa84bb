package graft
import org.apache.spark.sql.SparkSession
import graft.operators.Scope
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    new java.io.File(outDir).mkdirs()
    // Optional subset for local iteration (same contract as Bench):
    // SPARK_GRAFT_ONLY=x45,x46 matches on name prefix before the first '_'.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean =
      only.forall(keys => keys.contains(name) || keys.contains(name.takeWhile(_ != '_')))
    var nRun = 0
    var nFailed = 0
    SparkEntry.queries.filter { case (n, _) => selected(n) }.foreach { case (name, fn) =>
      nRun += 1
      // the Scope releases every cache and checkpoint the query made
      try Scope {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        nFailed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // one compact, grep-able completion line (the Bench marker discipline):
    // a truncated driver log can still prove the dump finished and how many
    // query writes failed before the DuckDB compare even runs
    println("VERIFY_JSON: " +
      s"""{"n_queries":$nRun,"n_write_failed":$nFailed,"sf":"$sfDir","out":"$outDir"}""")
    spark.stop()
  }
}
