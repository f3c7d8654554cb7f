package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract itself: oracle keys must reference real
  * queries, every query must plan and return rows at sf0.001, and the
  * flagship entry must work on a vanilla session.
  */
class ContractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("queries and oracleSql cover exactly the same keys") {
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty, s"oracle entries without queries: $orphanOracles")
    // every query MUST carry an oracle: the driver downgrades missing ones
    // to a weak rows-only check, which would silently erode the gate
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"queries without oracle coverage: $unchecked")
  }

  test("contract names are unique across the family lists") {
    // toMap would keep only the last of two same-named contracts
    val dups = SparkEntry.contracts.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate contract names: $dups")
    assert(SparkEntry.contracts.size == 257)
  }

  test("entry() returns rows on a plain session (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries plan and return at least one row at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val n = fn(spark, dir).count()
        if (n > 0) None else Some(s"$name: 0 rows")
      } catch {
        case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}")
      }
    }
    assert(failures.isEmpty, s"broken queries:\n${failures.mkString("\n")}")
  }
}
