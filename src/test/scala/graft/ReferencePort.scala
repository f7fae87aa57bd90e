package graft

/** Plain-Scala, Spark-free port of the reference's three MapReduce jobs
  * (SURVEY.md §1, §2 O2-O16, §3.1-3.3): the mapper loops, the in-mapper
  * buckets, the range partitioners, the shuffle sort and the reducers, kept
  * loop for loop so the output is what the jobs write — one
  * `part-r-0000N` line list per reduce partition.
  *
  * It is the source of the RECONSTRUCTED goldens under
  * `src/test/resources/reference-output-reconstructed/`: the reference's
  * committed part files are not in this repository, so the goldens the
  * specs read are this port's output over the FIXTURES.md §1 lines, pinned
  * by `ReferencePortSpec` to the anchors quoted from the originals.
  * Regenerate with
  * `sbt "Test/runMain graft.ReferencePort src/test/resources/reference-output-reconstructed"`.
  *
  * Stripe entry order in the reference is Java `HashMap` order; the port
  * writes neighbors in string order, which is why stripe goldens are
  * compared as parsed maps, never as bytes (SURVEY.md §5).
  */
object ReferencePort {

  /** The reference input (`input/input:1-2`, FIXTURES.md §1). */
  val fixtureLines: Seq[String] = Seq(
    "Mary 34 56 29 12 34 56 92 29 34 12",
    "Kelly 92 29 12 34 79 29 56 12 34 18")

  /** `Pair(first, second)`; `second == null` is the wildcard `*`. */
  final case class Pair(first: String, second: String) {
    override def toString: String = s"[$first, $second]"
  }

  /** `Pair.compareTo` (O9): by first, then the wildcard before any real
    * neighbor, then by second — string order throughout. */
  private val pairOrder: Ordering[Pair] = (a: Pair, b: Pair) => {
    val c = a.first.compareTo(b.first)
    if (c != 0) c
    else if (a.second == null && b.second == null) 0
    else if (a.second == null) -1
    else if (b.second == null) 1
    else a.second.compareTo(b.second)
  }

  /** The shared mapper loop (O2-O5): token 0 is the customer; every
    * product but the last opens a window that ends at the line's end or
    * at the product's next occurrence. `emit(current, neighbor)` fires
    * once per window position; `close(current, windowSize)` once per
    * window.
    */
  private def windows(line: String)(emit: (String, String) => Unit,
      close: (String, Int) => Unit): Unit = {
    val productIds = line.split("\\s+")
    var i = 1
    while (i < productIds.length - 1) {
      val currentProductId = productIds(i)
      var sum = 0
      var rangeCompleted = false
      var j = i + 1
      while (j < productIds.length && !rangeCompleted) {
        val currentNeighborId = productIds(j)
        if (currentProductId.equals(currentNeighborId)) rangeCompleted = true
        else { emit(currentProductId, currentNeighborId); sum += 1 }
        j += 1
      }
      close(currentProductId, sum)
      i += 1
    }
  }

  /** Map phase with in-mapper combining (O7): one map task over the whole
    * input, its bucket flushed once at cleanup. */
  private def pairBucket(lines: Seq[String],
      wildcard: Boolean): Map[Pair, Int] = {
    val bucket = scala.collection.mutable.HashMap[Pair, Int]()
    def addIntoBucket(a: String, b: String, n: Int): Unit =
      bucket(Pair(a, b)) = bucket.getOrElse(Pair(a, b), 0) + n
    lines.foreach(line => windows(line)(
      (a, b) => addIntoBucket(a, b, 1),
      (a, sum) => if (wildcard) addIntoBucket(a, null, sum)))
    bucket.toMap
  }

  /** O11 partitioners: Pairs/Stripes cut at 30/60 over 3 reducers, Hybrid
    * at 50 over 2. */
  private def partition3(product: String): Int = {
    val id = Integer.parseInt(product)
    if (id < 30) 0 else if (id < 60) 1 else 2
  }
  private def partition2(product: String): Int =
    if (Integer.parseInt(product) < 50) 0 else 1

  /** Shuffle: route by the partitioner, sort each reducer's input. */
  private def shuffle[K, V](records: Map[K, V], reducers: Int,
      part: K => Int)(implicit ord: Ordering[K]): Seq[Seq[(K, V)]] =
    (0 until reducers).map(r =>
      records.toSeq.filter { case (k, _) => part(k) == r }.sortBy(_._1))

  /** `a\t{(b, p), …, }` — the stripe writables' `toString` (O15). */
  private def stripeLine(product: String, stripe: Seq[(String, Double)]): String =
    product + "\t{" + stripe.map { case (b, p) => s"($b, $p), " }.mkString + "}"

  /** CrystalBallPair: wildcard marginals + order inversion (O6, O9, O13). */
  def pairJob(lines: Seq[String]): Seq[Seq[String]] =
    shuffle(pairBucket(lines, wildcard = true), 3,
        (p: Pair) => partition3(p.first))(pairOrder).map { input =>
      var numberOfCurrentProduct = 0
      input.flatMap { case (key, sum) =>
        if (key.second == null) { numberOfCurrentProduct = sum; None }
        else Some(s"$key\t${sum.toDouble / numberOfCurrentProduct}")
      }
    }

  /** CrystalBallStripe: one stripe per window, merged into the in-mapper
    * bucket (O8 `sumMap`); the reducer totals and normalizes each
    * product's stripe (`sumValues`, `averageElements`). An empty window
    * adds no stripe — the fixture has none.
    */
  def stripeJob(lines: Seq[String]): Seq[Seq[String]] = {
    val bucket = scala.collection.mutable.HashMap[String, Map[String, Double]]()
    var stripe = Map.empty[String, Double]
    lines.foreach(line => windows(line)(
      (_, b) => stripe = stripe.updated(b, stripe.getOrElse(b, 0.0) + 1.0),
      (a, _) => {
        if (stripe.nonEmpty) bucket(a) = stripe.foldLeft(
          bucket.getOrElse(a, Map.empty[String, Double])) {
            case (m, (b, c)) => m.updated(b, m.getOrElse(b, 0.0) + c) }
        stripe = Map.empty
      }))
    shuffle(bucket.toMap, 3, partition3).map(_.map { case (product, merged) =>
      val total = merged.values.sum
      stripeLine(product, merged.toSeq.sortBy(_._1).map { case (b, c) => b -> c / total })
    })
  }

  /** CrystalBallHybrid: pairs map side, stripes rebuilt at the reducer's
    * group boundaries (O14), the last group flushed in cleanup. */
  def hybridJob(lines: Seq[String]): Seq[Seq[String]] =
    shuffle(pairBucket(lines, wildcard = false), 2,
        (p: Pair) => partition2(p.first))(pairOrder).map { input =>
      val out = Seq.newBuilder[String]
      var currentProduct: String = null
      var stripe = Vector.empty[(String, Int)]
      def flush(): Unit = if (currentProduct != null) {
        val total = stripe.map(_._2).sum.toDouble
        out += stripeLine(currentProduct, stripe.map { case (b, c) => b -> c / total })
      }
      input.foreach { case (key, sum) =>
        if (key.first != currentProduct) {
          flush(); currentProduct = key.first; stripe = Vector.empty
        }
        stripe :+= key.second -> sum
      }
      flush()
      out.result()
    }

  /** Job name → its part files' lines, as committed under the golden dir. */
  def outputs(): Map[String, Seq[Seq[String]]] = Map(
    "CrystalBallPair" -> pairJob(fixtureLines),
    "CrystalBallStripe" -> stripeJob(fixtureLines),
    "CrystalBallHybrid" -> hybridJob(fixtureLines))

  private val pairRe = """\[(\S+), (\S+)\]\t(\S+)""".r
  private val entryRe = """\((\S+), ([0-9.Ee+-]+)\)""".r

  /** Parse a Pairs line `[a, b]\tprob`. */
  def parsePair(line: String): ((String, String), Double) = line match {
    case pairRe(a, b, p) => (a, b) -> p.toDouble
  }

  /** Parse a Stripes/Hybrid line `a\t{(b, prob), …, }` as a map — entry
    * order is not part of the format. */
  def parseStripe(line: String): (String, Map[String, Double]) = {
    val Array(k, rest) = line.split("\t", 2)
    k -> entryRe.findAllMatchIn(rest).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** The committed golden part files of `job`, read from the test
    * classpath — a missing golden fails the caller, never skips it. */
  def committed(job: String): Seq[Seq[String]] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val res = s"/reference-output-reconstructed/$job"
    val dir = Paths.get(Option(getClass.getResource(res))
      .getOrElse(throw new java.nio.file.NoSuchFileException(res)).toURI)
    val files = Files.list(dir)
    try files.iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sorted
      .map(p => Files.readAllLines(p).asScala.toSeq)
    finally files.close()
  }

  def main(args: Array[String]): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    outputs().foreach { case (job, parts) =>
      val dir = Paths.get(args(0), job)
      Files.createDirectories(dir)
      parts.zipWithIndex.foreach { case (lines, r) =>
        Files.write(dir.resolve(f"part-r-$r%05d"), lines.asJava)
      }
    }
  }
}
