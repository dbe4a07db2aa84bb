package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scope

/** Shared local SparkSession for specs (small shuffle count for test speed,
  * managed tables in a temporary warehouse, not the working tree).
  * Each test runs inside a Scope, so the caches and checkpoints its
  * operators make are gone before the next test plans anything. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites
  override def withFixture(test: NoArgTest): Outcome = Scope(super.withFixture(test))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }
}
