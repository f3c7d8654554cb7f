package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BloomSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("bloom never lets a seen item through; unseen survival near 1-fpp") {
    import spark.implicits._
    val seen = (0 until 20000).map(i => s"url$i")
    val mixed = (10000 until 40000).map(i => s"url$i") // half seen, half new
    val ref = spark.createDataset(seen).toDF("u")
    val big = spark.createDataset(mixed).toDF("u")
    val out = BloomTools.filterUnseen(big, "u", ref, "u",
      expectedItems = 30000, fpp = 0.01).collect().map(_.getString(0)).toSet
    // zero false negatives: every surviving item is genuinely unseen
    assert(out.forall(u => u.stripPrefix("url").toInt >= 20000))
    // false positives bounded: at least ~97% of genuinely-new items survive
    assert(out.size >= (20000 * 0.97).toInt, s"survivors: ${out.size}")
  }

  test("prunedAntiJoin equals the exact anti-join row-for-row") {
    import spark.implicits._
    val seen = (0 until 20000).map(i => s"url$i")
    val mixed = (10000 until 40000).map(i => s"url$i") // half seen, half new
    val ref = spark.createDataset(seen).toDF("u")
    val big = spark.createDataset(mixed).toDF("u")
    // tight fpp=0.25 sizing forces REAL false positives through the
    // confirm join — the routing, not a lucky clean bloom, is under test.
    // Run once as planned and once with broadcast off: the operator's
    // regime is a seen set too big to broadcast, which forces shuffle joins.
    for (threshold <- Seq(None, Some("-1"))) {
      threshold.foreach(spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      try {
        val pruned = BloomTools.prunedAntiJoin(big, "u", ref, "u",
          expectedItems = 20000, fpp = 0.25)
          .collect().map(_.getString(0)).sorted
        val exact = big.join(ref, Seq("u"), "left_anti")
          .collect().map(_.getString(0)).sorted
        assert(pruned.sameElements(exact), s"broadcast threshold $threshold")
        assert(exact.length == 20000)
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("prunedAntiJoin keeps every column of the big side") {
    import spark.implicits._
    val ref = Seq("b").toDF("k")
    val big = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    val out = BloomTools.prunedAntiJoin(big, "k", ref, "k", 10, 0.01)
      .collect().map(r => r.getString(0) -> r.getInt(1)).sortBy(_._1)
    assert(out.toSeq == Seq("a" -> 1, "c" -> 3))
  }

  test("mightContain column works inside filters and joins") {
    import spark.implicits._
    val ref = spark.createDataset(Seq("a", "b", "c")).toDF("k")
    val filter = BloomTools.buildFilter(ref, "k", 100, 0.01)
    val probe = spark.createDataset(Seq("a", "x", "c", "y")).toDF("k")
    val flagged = probe.withColumn("seen", BloomTools.mightContain(col("k"), filter))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(flagged("a") && flagged("c")) // no false negatives, ever
  }
}
