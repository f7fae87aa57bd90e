package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Basket, Bench, SparkEntry}
import graft.operators.{CoOccurrence, CrystalBall}
import graft.sources.BasketSource

/** The benchmark's JVM side: one local session on every core, one client
  * thread submitting one job after another (a closed loop), each job fully
  * materializing its result as parquet for the DuckDB check `run.py` makes
  * afterwards. Set-up runs once per `--setup` query: a new session plus
  * one untimed run of that query (its output is checked too), so every
  * query of the workload has run once before timing and the median
  * set-up is steady. The `--warm` jobs then run untimed, for workloads
  * whose short jobs are still compiling after set-up.
  *
  * With `--trace 1` the same job list runs twice more after the timed pass:
  * once under a [[Tracer]], with each layer's output materialized before
  * the next layer reads it so a span covers exactly one layer, and once
  * untraced, as the reference for the tracing overhead.
  *
  * Usage: Harness --workload W --data DIR --out DIR --cpus N
  *   --setup Q1,Q2,... --warm Q1,Q2,... --jobs Q1,Q2,... --trace 0|1
  */
object Harness {

  /** Row shape of the registered crystalball_stripes projection: the
    * stripe array posexploded back to scalar rows.
    */
  private def stripeRows(stripes: DataFrame): DataFrame =
    stripes
      .select(col("product"), size(col("stripe")).cast("long").as("n_neighbors"),
        posexplode(col("stripe")))
      .select(col("product"), col("n_neighbors"),
        col("pos").cast("long").as("pos"),
        col("col.neighbor").as("neighbor"), col("col.prob").as("prob"))
      .orderBy(col("product"), col("pos"))

  /** Row shape of the registered crystalball_totals projection. */
  private def totalsRows(probs: DataFrame): DataFrame =
    probs.select(col("product"), col("neighbor"), col("cnt"), col("prob"))
      .orderBy(col("product"), col("neighbor"))

  /** DuckDB baskets CTE over the generated text, one basket per non-blank
    * line keyed by line number, split like `BasketSource.parseLine`.
    * Ends with `baskets` so the registered window CTE can follow it.
    */
  private def textBasketsCte(path: String): String =
    s"""WITH text_lines AS (
       |  SELECT generate_subscripts(ls, 1) AS ln, unnest(ls) AS line
       |  FROM (SELECT string_split(content, chr(10)) AS ls FROM read_text('$path'))
       |), text_tokens AS (
       |  SELECT ln, list_filter(regexp_split_to_array(line, '\\s+'), x -> x <> '') AS toks
       |  FROM text_lines
       |), baskets AS (
       |  SELECT CAST(ln AS VARCHAR) AS customer, toks[2:] AS products
       |  FROM text_tokens WHERE len(toks) > 0
       |)""".stripMargin

  /** The wide-basket twins of the registered flagship queries: the same
    * operator compositions over `BasketSource.fromText`, checked by the
    * registered oracle text with its lineitem baskets CTE swapped for the
    * text one.
    */
  private final case class TextQuery(twin: String,
      build: (SparkSession, String) => DataFrame)

  private val textQueries: Map[String, TextQuery] = Map(
    "wide_pairs" -> TextQuery("crystalball_pairs", (s, path) =>
      CrystalBall.pairProbabilities(BasketSource.fromText(s, path))),
    "wide_stripes" -> TextQuery("crystalball_stripes", (s, path) =>
      stripeRows(CrystalBall.stripeShape(CrystalBall.normalize(
        CoOccurrence.countsFused(BasketSource.fromText(s, path).toDF()))))),
    "wide_totals" -> TextQuery("crystalball_totals", (s, path) =>
      totalsRows(CrystalBall.normalizeViaTotalsJoin(
        CoOccurrence.countsFused(BasketSource.fromText(s, path).toDF())))))

  final class Workload(data: String) {
    private val textPath = s"$data/baskets.txt"

    def query(spark: SparkSession, q: String): DataFrame =
      textQueries.get(q).fold(SparkEntry.queries(q)(spark, data))(
        _.build(spark, textPath))

    def oracle(q: String): String = textQueries.get(q) match {
      case None => SparkEntry.oracleSql(q)
      case Some(t) =>
        val sql = SparkEntry.oracleSql(t.twin)
        require(sql.startsWith(SparkEntry.basketsCte),
          s"oracle for ${t.twin} no longer starts with the baskets CTE")
        textBasketsCte(textPath) + sql.stripPrefix(SparkEntry.basketsCte)
    }

    /** The query's composition replayed layer by layer: each layer's output
      * is materialized (local checkpoint) inside its own span, and the
      * counts a layer produced are read back in an untimed `probe` span.
      * Queries without a layered form (the streaming and table-writing
      * ones) run whole in a `query` span; the streaming and table-sink
      * listeners split them.
      */
    def traced(t: Tracer, spark: SparkSession, q: String, dir: String): Unit = {
      import spark.implicits._
      def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
      def baskets(src: => DataFrame): DataFrame = {
        val (b, s) = t.span("BasketSource")(s => (materialize(src), s))
        t.span("probe")(_ => s.add("rows_out", b.count()))
        b
      }
      def counts(b: DataFrame, fused: Boolean): DataFrame = {
        val (c, s) = t.span("CoOccurrence") { s =>
          (materialize(if (fused) CoOccurrence.countsFused(b)
            else CoOccurrence.counts(b.as[Basket])), s)
        }
        t.span("probe") { _ =>
          val r = c.agg(sum(col("cnt")), count(lit(1))).head()
          s.add("pairs_emitted", r.getLong(0))
          s.add("distinct_pairs", r.getLong(1))
        }
        c
      }
      def normalize(c: DataFrame, viaTotals: Boolean): DataFrame =
        t.span("CrystalBall.normalize")(_ => materialize(
          if (viaTotals) CrystalBall.normalizeViaTotalsJoin(c)
          else CrystalBall.normalize(c)))
      def shape(result: DataFrame): Unit =
        t.span("CrystalBall.shape")(_ => result.write.mode("overwrite").parquet(dir))
      def text = baskets(BasketSource.fromText(spark, textPath).toDF())
      q match {
        case "wide_pairs" =>
          shape(normalize(counts(text, fused = false), viaTotals = false)
            .orderBy(col("product"), col("neighbor")))
        case "wide_stripes" =>
          shape(stripeRows(CrystalBall.stripeShape(
            normalize(counts(text, fused = true), viaTotals = false))))
        case "wide_totals" =>
          shape(totalsRows(normalize(counts(text, fused = true), viaTotals = true)))
        case _ =>
          t.span("query")(_ => query(spark, q).write.mode("overwrite").parquet(dir))
      }
    }
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def failureRecord(workload: String, phase: String, job: Int,
      query: String, e: Throwable): Map[String, Any] = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    Map("workload" -> workload, "phase" -> phase, "job" -> job, "query" -> query,
      "kind" -> "exception", "exception" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(2000),
      "causes" -> chain.map(c => Map("exception" -> c.getClass.getName,
        "message" -> String.valueOf(c.getMessage).take(500))),
      "frames" -> chain.last.getStackTrace.take(15).map(_.toString).toSeq)
  }

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val out = opt("out")
    val cpus = opt("cpus").toInt
    val jobs = opt("jobs").split(",").toSeq
    val w = new Workload(data)
    val failures = mutable.ArrayBuffer[Map[String, Any]]()

    def newSession(): SparkSession = {
      val s = Bench.sessionBuilder(s"local[$cpus]",
          Bench.scaledShufflePartitions(data, cpus).toString)
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    /** Runs one job; the record carries its latency, from the query call
      * to its last output file committed, and where the output went.
      */
    def job(spark: SparkSession, label: String, i: Int, q: String)(
        run: (String, String) => Unit): Map[String, Any] = {
      val dir = s"$out/$label/$i"
      val s0 = System.nanoTime()
      val err = try { run(q, dir); None } catch { case NonFatal(e) => Some(e) }
      val sec = (System.nanoTime() - s0) / 1e9
      spark.catalog.clearCache()
      err.foreach(e => failures += failureRecord(workload, label, i, q, e))
      Map("index" -> i, "query" -> q, "seconds" -> sec, "ok" -> err.isEmpty, "out" -> dir)
    }

    /** Runs `queries` one after another. */
    def phase(spark: SparkSession, label: String, queries: Seq[String] = jobs)(
        run: (String, String) => Unit): Map[String, Any] = {
      val t0 = System.nanoTime()
      val recs = queries.zipWithIndex.map { case (q, i) => job(spark, label, i, q)(run) }
      Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "jobs" -> recs)
    }

    def materialized(spark: SparkSession)(q: String, dir: String): Unit =
      w.query(spark, q).write.mode("overwrite").parquet(dir)

    val setupQueries = opt("setup").split(",").toSeq
    val setups = setupQueries.zipWithIndex.map { case (q, i) =>
      val t0 = System.nanoTime()
      val spark = newSession()
      val rec = job(spark, "setup", i, q)(materialized(spark))
      val sec = (System.nanoTime() - t0) / 1e9
      if (i < setupQueries.size - 1) spark.stop()
      (rec + ("setup_s" -> sec), sec)
    }
    val spark = SparkSession.active
    // the stopped sessions' debris must not be collected inside the timed jobs
    System.gc()
    val phases = mutable.LinkedHashMap[String, Any](
      "setup" -> Map("wall_s" -> setups.map(_._2).sum, "jobs" -> setups.map(_._1)))
    val warmJobs = opt("warm").split(",").toSeq.filter(_.nonEmpty)
    if (warmJobs.nonEmpty) phases("warm") = phase(spark, "warm", warmJobs)(materialized(spark))
    phases("timed") = phase(spark, "timed")(materialized(spark))
    var spans: Seq[Map[String, Any]] = Nil
    if (opt("trace") == "1") {
      val tracer = new Tracer(spark)
      phases("traced") = phase(spark, "traced") { (q, dir) =>
        tracer.span(s"job:$q")(_ => w.traced(tracer, spark, q, dir))
      }
      tracer.close()
      spans = tracer.spansJson
      // the reference for the tracing overhead: the same jobs, untraced,
      // equally warm as the traced pass
      phases("untraced") = phase(spark, "untraced")(materialized(spark))
    }
    val result = Map("phases" -> phases.toMap, "spans" -> spans,
      "failures" -> failures.toSeq, "peak_rss_mb" -> peakRssMb(),
      "oracle" -> jobs.distinct.map(q => q -> w.oracle(q)).toMap)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/harness.json"),
      json.writeValueAsString(result))
    spark.stop()
  }
}
