package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CONF parses key=value tokens; a value may contain '='") {
    assert(PlanDump.parseConf("spark.a=1,spark.b=x=y") ==
      Seq("spark.a" -> "1", "spark.b" -> "x=y"))
  }

  test("SPARK_GRAFT_CONF rejects a token without '=' and names it") {
    val e = intercept[IllegalArgumentException](
      PlanDump.parseConf("spark.a=1,spark.sql.files.maxPartitionBytes"))
    assert(e.getMessage.contains("'spark.sql.files.maxPartitionBytes'"), e.getMessage)
  }
}
