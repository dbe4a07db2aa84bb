package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.operators.Scope

/** Dump `.explain("formatted")` for named declared queries — the plan
  * evidence the optimization rounds commit under plans/rNN/. Usage:
  *
  *   sbt "runMain graft.Plans <outDir> <suffix> <query> [query ...]"
  *
  * writes <outDir>/<query>_<suffix>.txt per query. Same session config as
  * Bench (local[$SPARK_GRAFT_CPUS], AQE on, 64 MB broadcast threshold), so
  * the captured plan is the one the bench executes. Each query is built
  * inside a Scope, which releases its caches and checkpoints once the plan
  * text is captured. */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Plans <outDir> <suffix> <query> [query ...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
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
    Files.createDirectories(outDir)
    // a typo'd query name must FAIL the invocation (a missing plan file
    // with a green exit reads as evidence that was never produced), and
    // the session must stop even when a query builder throws
    var failed = false
    try names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          failed = true
          System.err.println(s"plans: no such query: $name")
        case Some(fn) =>
          spark.sparkContext.setJobDescription(s"plans: $name")
          val txt = Scope(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
          Files.write(outDir.resolve(s"${name}_$suffix.txt"),
            txt.getBytes(StandardCharsets.UTF_8))
          println(s"plans: wrote ${name}_$suffix.txt (${txt.length} chars)")
      }
    } finally spark.stop()
    if (failed) sys.exit(1)
  }
}
