package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[ReferencePort]] — the source of the reconstructed goldens the
  * golden-parity specs read — to the anchors quoted verbatim from the
  * reference's committed outputs (FIXTURES.md §1, SURVEY.md §5), and the
  * committed golden files to the port's output. Spark-free.
  */
class ReferencePortSpec extends AnyFunSuite {

  test("port reproduces the reference's quoted anchors") {
    val out = ReferencePort.outputs()
    val pairParts = out("CrystalBallPair")
    assert(pairParts.size == 3, s"Pairs writes 3 part files, got ${pairParts.size}")
    val pairs = pairParts.flatten.map(ReferencePort.parsePair)
    // 34 pairs over 7 products
    assert(pairs.size == 34 && pairs.map(_._1).distinct.size == 34)
    assert(pairs.flatMap { case ((a, b), _) => Seq(a, b) }.distinct.size == 7)
    // output/CrystalBallPair/part-r-00000:3 is the hand-checked P(34|12) = 4/11
    assert(pairParts.head(2) == "[12, 34]\t0.36363636363636365")
    // per-product probabilities sum to 1.0
    pairs.groupBy(_._1._1).foreach { case (p, ps) =>
      assert(math.abs(ps.map(_._2).sum - 1.0) < 1e-12, s"product $p")
    }
    // Hybrid line 1 = Stripe line 1 = Pair rows 1-6 (product 12)
    val hybrid1 = ReferencePort.parseStripe(out("CrystalBallHybrid").head.head)
    val stripe1 = ReferencePort.parseStripe(out("CrystalBallStripe").head.head)
    val pair1to6 = "12" -> pairs.take(6).map { case ((_, b), p) => b -> p }.toMap
    assert(pairs.take(6).forall(_._1._1 == "12") && pairs(6)._1._1 != "12")
    assert(hybrid1 == stripe1 && stripe1 == pair1to6)
    assert(out("CrystalBallStripe").size == 3 && out("CrystalBallHybrid").size == 2)
  }

  test("committed reconstructed goldens are the port's output") {
    ReferencePort.outputs().foreach { case (job, parts) =>
      assert(ReferencePort.committed(job) == parts, s"$job golden drifted from the port")
    }
  }
}
