package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — extra names restrict the dump to
    // a subset (local dev iteration only; the driver always passes two).
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Verify keeps the FIXED cpus-count shuffle (deterministic small-SF
    // dump; the sf-proportional rule is a bench/audit concern)
    val spark = Bench.sessionBuilder(s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(FailureRecord.json("verify", name, e))
      }
      finally {
        spark.catalog.clearCache() // per-query operator caches
        // a build that failed before its consuming action leaves armed
        // self-release listeners behind — drop them (Explain discipline)
        graft.operators.CacheScope.releaseAll()
      }
    }
    import FailureRecord.quote
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
