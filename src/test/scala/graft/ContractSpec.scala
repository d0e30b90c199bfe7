package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Driver-contract conformance: every declared query executes on the smoke
  * fixture, every oracle key has a query, and the flagship returns rows —
  * the exact checks the driver's t1/t2 harness performs, run locally so a
  * broken query never reaches a round boundary unnoticed. */
class ContractSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // the SQL-surface queries (v2_sql_tvf) need the extension installed,
    // same as the Verify/Bench sessions the driver runs
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("flagship entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query executes at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, dir).count(); None }
        catch { case e: Throwable => Some(s"$name: ${Verify.causeChain(e)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("current_timestamp comparison behaves (reference ts suite shape)") {
    import org.apache.spark.sql.functions._
    val n = graft.nats.NatsScan.scanDir(spark, dir)
      .filter(col("ts_nats") < current_timestamp() &&
        col("ts_nats") > current_timestamp() - expr("INTERVAL 100 YEARS"))
      .count()
    assert(n == 1000L)
  }
}
