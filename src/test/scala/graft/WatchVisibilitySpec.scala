package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphOps
import graft.streaming.WatchLoop

/** The stream appends through its own cloned session; graph reads run on
  * the serving session, which must see every appended batch whether or not
  * a memo over the edge table was cached when the batch landed. */
class WatchVisibilitySpec extends AnyFunSuite with SparkFixture {

  test("watch loop: kHop on the serving session sees every batch's edges") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = WatchLoop.start(spark, SfDir, mem.toDF().toDF("src", "dst"))
    try {
      def hop1Parts(): Set[Long] = GraphOps.kHop(spark, SfDir, 1)
        .filter(col("hop") === 1).select("node_id").as[Long].collect().toSet
      // seed supplier 0 ships a new part per batch: each one is a hop-1 node
      def land(parts: Seq[Long]): Unit = parts.foreach { p =>
        mem.addData((0L, p))
        q.processAllAvailable()
      }
      // batches with no read between them: no memo over the table is cached
      // when they append
      val quiet = 777001L to 777003L
      land(quiet)
      assert(quiet.toSet.subsetOf(hop1Parts()), "a batch landed unseen")
      // batches after a read, which cached the memos they invalidate
      val afterRead = 777004L to 777005L
      land(afterRead)
      assert((quiet ++ afterRead).toSet.subsetOf(hop1Parts()), "a batch landed unseen")
    } finally {
      q.stop()
      WatchLoop.stop(spark, SfDir)
    }
  }
}
