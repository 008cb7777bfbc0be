package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reliable-checkpoint deploy switch: with `spark.graft.checkpointDir`
  * set, every iterative lineage cut (label propagation, BPE rounds, PQ
  * training) writes fault-tolerant checkpoints there instead of
  * unreplicated executor-local blocks — the difference between "one lost
  * executor kills the 100 TB job" and "it doesn't". */
class CheckpointSpec extends AnyFunSuite with SparkFixture {

  /** `op`'s rows, rebuilt anew with the checkpoint dir set to a
    * fresh directory, and the number of files written there. */
  private def underCheckpointDir(memo: String)(op: => DataFrame): (Set[Seq[Any]], Long) = {
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    PlanCache.drop(spark, SfDir, memo)
    spark.conf.set(Checkpoints.DirConf, ckDir)
    try {
      val rows = op.collect().map(_.toSeq).toSet
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      (rows, files)
    } finally {
      spark.conf.unset(Checkpoints.DirConf)
      PlanCache.drop(spark, SfDir, memo)
    }
  }

  test("iterative cuts under spark.graft.checkpointDir match and checkpoint reliably") {
    val baseline = operators.DedupOps.dedupClusters(spark, SfDir).collect()
      .map(_.toSeq).toSet
    val (got, files) = underCheckpointDir("dedup:clusters") {
      operators.DedupOps.dedupClusters(spark, SfDir)
    }
    assert(got == baseline)
    // the label-propagation cuts really went to the reliable store
    assert(files > 0, "no checkpoint files under the checkpoint dir")
  }

  test("a traversal is unchanged under spark.graft.checkpointDir") {
    val depth = 3 // only this spec queries depth 3 — a private memo key
    val baseline = operators.GraphOps.kHop(spark, SfDir, depth).collect()
      .map(_.toSeq).toSet
    val (got, _) = underCheckpointDir(s"bfs:khop:$depth") {
      operators.GraphOps.kHop(spark, SfDir, depth)
    }
    assert(got == baseline)
  }

  test("cut falls back to localCheckpoint when the conf is unset") {
    import spark.implicits._
    val df = Checkpoints.cut(Seq(1, 2, 3).toDF("x").filter(col("x") > 1))
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
    // a cut frame scans its materialized blocks, not the original plan
    assert(df.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
  }
}
