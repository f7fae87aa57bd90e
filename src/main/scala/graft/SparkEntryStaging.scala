package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Per-invocation staging-directory helpers shared by every registered
  * query that feeds a bounded file-source stream or writes a versioned
  * table layout — split out of `SparkEntry` in the r16 registry reseam
  * (VERDICT r15 item 7) so the family query traits can stage without
  * reaching into the object.
  */
private[graft] trait SparkEntryStaging {


  /** Stage input for a bounded file-source stream, run the body, DELETE
    * the staging copy. The body returns only after `awaitTermination()`
    * with its result materialized in the memory sink (driver memory), so
    * the staged files are dead weight the moment it returns — and
    * without the cleanup every invocation (Bench times each streaming
    * query 2-3×) leaks a corpus-sized copy into the system temp dir.
    *
    * The body runs under
    * [[graft.streaming.StreamingOps.withStatePartitions]] — stateful
    * streaming shuffle partitions (= state-store instance count, a
    * per-micro-batch fixed cost) are sized by the batch data-proportional
    * rule with a one-wave floor, `min(task slots, 8)`, instead of the
    * batch session default's core-count floor; `sfDir` feeds that rule.
    * On 4 slots that is 4 stores instead of two waves of 8:
    * `stream_incremental`'s `job_tail_s` 6.23 → 4.98 s (median of 6
    * pairs). See the scaladoc there for the receipts and scale posture.
    */
  private[graft] def withStreamStage(sfDir: String, prefix: String)(body: String => DataFrame): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory(prefix)
    try graft.streaming.StreamingOps.withStatePartitions(
      org.apache.spark.sql.SparkSession.active, sfDir) { body(stage.toString) }
    finally {
      import scala.jdk.CollectionConverters._
      // Files.walk holds open directory handles until closed — leak one
      // per streaming invocation otherwise (Bench runs each query 2-3x)
      val walk = java.nio.file.Files.walk(stage)
      try walk.iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Per-invocation staging for queries whose RESULT still reads the
    * staged files lazily (orc_roundtrip / schema_evolution) — unlike
    * [[withStreamStage]], the returned plan scans the directory after
    * this returns, so it cannot be deleted here. A unique directory per
    * invocation is the isolation fix: a fixed tmpdir path lets a
    * concurrent run's read interleave with this run's partial write, and
    * a killed run's stale generation dirs would satisfy glob reads
    * (mergeSchema) forever after. A shutdown hook reclaims the space at
    * JVM exit (Verify/Bench are single-JVM mains, so nothing outlives
    * the process).
    */
  private[graft] def freshStageDir(prefix: String): String = {
    val stage = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(stage)
      try walk.iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }))
    stage.toString
  }
}
