package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CoOccurrence, CrystalBall}
import graft.sources.{BasketSource, GoldenSink}

/** Reference-format output + UDAF stripe equivalence (SURVEY.md §2
  * O8/O11/O15/O16/O17).
  */
class GoldenSinkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Specs.spark

  private val fixtureLines = ReferencePort.fixtureLines

  private def pairs = CrystalBall.pairProbabilities(
    BasketSource.fromLines(spark, fixtureLines))

  test("pair text lines byte-match the golden Pairs output") {
    val got = GoldenSink.pairLines(pairs).collect().map(_.getString(0)).toSet
    val golden = ReferencePort.committed("CrystalBallPair").flatten.toSet
    assert(got == golden)
  }

  test("stripe text lines parse back to the golden probabilities") {
    val stripes = CrystalBall.stripeProbabilities(
      BasketSource.fromLines(spark, fixtureLines))
    val lines = GoldenSink.stripeLines(stripes).collect().map(_.getString(0))
    assert(lines.forall(l => l.contains("\t{") && l.endsWith("), }")))
    assert(lines.length == 6) // product 18 is only ever last -> empty window, no stripe
  }

  test("range partitioning reproduces the reference fixed cuts exactly") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    // 3-way (Pairs/Stripes): partition 0 iff id < 30, 1 iff < 60, else 2
    val parts3 = GoldenSink.rangePartitioned(pairs, 3)
      .select(col("product").cast("int").as("p"), spark_partition_id().as("pid"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(parts3.nonEmpty)
    parts3.foreach { case (p, pid) =>
      val want = if (p < 30) 0 else if (p < 60) 1 else 2
      assert(pid == want, s"product $p landed in partition $pid, want $want")
    }
    assert(parts3.map(_._2).distinct.sorted.toSeq == Seq(0, 1, 2))
    // 2-way (Hybrid): partition 0 iff id < 50, else 1
    val parts2 = GoldenSink.rangePartitioned(pairs, 2)
      .select(col("product").cast("int").as("p"), spark_partition_id().as("pid"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    parts2.foreach { case (p, pid) =>
      assert(pid == (if (p < 50) 0 else 1))
    }
  }

  test("range partitioning handles a numeric-typed product column") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    import Specs.spark.implicits._
    // regression: getString on an int column threw ClassCastException,
    // which the Try swallowed — silently routing every row to partition 0
    val numeric = Seq((10, "a"), (45, "b"), (90, "c")).toDF("product", "neighbor")
    val got = GoldenSink.rangePartitionedAt(numeric, Seq(30, 60))
      .select(col("product"), spark_partition_id().as("pid"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toMap
    assert(got == Map(10 -> 0, 45 -> 1, 90 -> 2), s"got $got")
  }

  test("writeText overwrites (O17) and round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("golden_sink").toString
    GoldenSink.writeText(GoldenSink.pairLines(pairs), s"$dir/out")
    GoldenSink.writeText(GoldenSink.pairLines(pairs), s"$dir/out") // overwrite
    val back = spark.read.text(s"$dir/out").count()
    assert(back == 34)
  }

  test("CSV, JSON, and XML basket sources yield the same relation as text") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_sources")
    Files.write(dir.resolve("b.csv"), java.util.List.of(
      "customer,products",
      "Mary,34 56 29 12 34 56 92 29 34 12",
      "Kelly,92 29 12 34 79 29 56 12 34 18"))
    Files.write(dir.resolve("b.json"), java.util.List.of(
      """{"customer": "Mary", "products": ["34","56","29","12","34","56","92","29","34","12"]}""",
      """{"customer": "Kelly", "products": ["92","29","12","34","79","29","56","12","34","18"]}"""))
    Files.write(dir.resolve("b.xml"), java.util.List.of(
      "<baskets>",
      "  <basket><customer>Mary</customer>" +
        "<products>34 56 29 12 34 56 92 29 34 12</products></basket>",
      "  <basket><customer>Kelly</customer>" +
        "<products>92 29 12 34 79 29 56 12 34 18</products></basket>",
      "</baskets>"))
    val fromText = BasketSource.fromLines(spark, fixtureLines).collect()
      .map(b => b.customer -> b.products).toMap
    val fromCsv = BasketSource.fromCsv(spark, dir.resolve("b.csv").toString)
      .collect().map(b => b.customer -> b.products).toMap
    val fromJson = BasketSource.fromJson(spark, dir.resolve("b.json").toString)
      .collect().map(b => b.customer -> b.products).toMap
    val fromXml = BasketSource.fromXml(spark, dir.resolve("b.xml").toString)
      .collect().map(b => b.customer -> b.products).toMap
    assert(fromCsv == fromText && fromJson == fromText && fromXml == fromText)
  }

  test("StripeAggregator UDAF equals groupBy+map_from_entries composition") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val counts = CoOccurrence.counts(BasketSource.fromLines(spark, fixtureLines))
    val viaUdaf = counts.as[(String, String, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(graft.functions.StripeAggregator.toColumn.name("stripe"))
      .collect().toMap
    val viaComposition = CrystalBall.stripeMap(
        BasketSource.fromLines(spark, fixtureLines))
      .collect()
      .map(r => r.getString(0) -> r.getMap[String, Double](1))
      .toMap
    assert(viaUdaf.keySet == viaComposition.keySet)
    viaUdaf.foreach { case (product, stripe) =>
      val total = stripe.values.sum.toDouble
      val probs = stripe.map { case (k, v) => k -> v / total }
      assert(probs == viaComposition(product).toMap.map {
        case (k, v) => k -> v }, s"stripe for $product")
    }
  }
}
