package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphOps

/** Executor-side gate for the mid-traversal invalidation spec: local mode
  * runs tasks in the driver's JVM, so a task can block on it until the
  * test has invalidated the dir. */
private object TraversalGate {
  val armed = new AtomicBoolean(false)
  val entered = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}

/** The shared traversal kernel against a plain-Scala BFS over the sf0.001
  * edges, the graph rows against their outputs before the kernel, and the
  * epoch rule for a traversal that an invalidation overtakes. */
class TraversalSpec extends AnyFunSuite with SparkFixture {

  private type Node = (String, Long)

  private lazy val adjacency: Map[Node, Seq[Node]] =
    Tables.lineitem(spark, SfDir).select("l_suppkey", "l_partkey").distinct()
      .collect().toSeq
      .flatMap { r =>
        val (s, p) = (("supplier", r.getLong(0)), ("part", r.getLong(1)))
        Seq(s -> p, p -> s)
      }
      .groupMap(_._1)(_._2)

  /** node -> (min hop, min (type, id) parent at that hop). */
  private def refBfs(seeds: Set[Node], depth: Int): Map[Node, (Int, Node)] = {
    var visited = seeds
    var frontier = seeds
    var out = Map.empty[Node, (Int, Node)]
    for (h <- 1 to depth) {
      val next = frontier.toSeq
        .flatMap(f => adjacency.getOrElse(f, Nil).map(_ -> f))
        .filterNot(x => visited(x._1))
        .groupMapReduce(_._1)(_._2)(Ordering[Node].min)
      out ++= next.map { case (n, p) => n -> (h, p) }
      visited ++= next.keys
      frontier = next.keySet
    }
    out
  }

  private def refPath(src: Node, dst: Node, depth: Int): Seq[(Int, String, Long)] = {
    val reached = refBfs(Set(src), depth)
    def walk(n: Node): List[Node] = reached.get(n).fold(List(n))(p => n :: walk(p._2))
    if (!reached.contains(dst)) Nil
    else walk(dst).reverse.zipWithIndex.map { case ((t, id), step) => (step, t, id) }
  }

  private def node(t: String, id: Long): Column =
    col("f_t") === t && col("f_id") === id

  test("the kernel matches a plain BFS: min hop and min (type, id) parent") {
    val rnd = new scala.util.Random(20261017L)
    val single = (1 to 12).map { _ =>
      val n: Node =
        if (rnd.nextBoolean()) ("supplier", rnd.nextInt(12).toLong) // 10, 11 unknown
        else ("part", rnd.nextInt(210).toLong)
      (node(n._1, n._2), Set(n), 1 + rnd.nextInt(GraphOps.MaxDepth))
    }
    val seedSuppliers = adjacency.keySet.filter(n => n._1 == "supplier" && n._2 < 10)
    val cases = single ++ Seq(
      (col("f_t") === "supplier" && col("f_id") < 10L, seedSuppliers, GraphOps.MaxDepth),
      (node("part", 37L), Set[Node](("part", 37L)), GraphOps.MaxDepth))
    for ((seeds, refSeeds, depth) <- cases) {
      val got = GraphOps.traverse(GraphOps.partAdj(spark, SfDir), seeds, depth)
      assert(got.map(_._1).distinct.size == got.size, "a node is reached once")
      assert(got.map(_._2._1) == got.map(_._2._1).sorted, "rows come in hop order")
      assert(got.toMap == refBfs(refSeeds, depth), s"seeds $refSeeds, depth $depth")
    }
  }

  test("pathFind matches a plain BFS path, incl. unreachable, src == dst and unknown src") {
    val rnd = new scala.util.Random(7L)
    val drawn = (1 to 10).map { _ =>
      (rnd.nextInt(10).toLong, ("part", rnd.nextInt(200).toLong): Node,
        1 + rnd.nextInt(GraphOps.MaxDepth))
    }
    val edgeCases = Seq(
      (0L, ("part", 37L): Node, 1),                       // unreachable within depth
      (0L, ("supplier", 0L): Node, 3),                    // src == dst: empty
      (987654L, ("part", 1L): Node, 3),                   // unknown src id
      (0L, ("supplier", 3L): Node, GraphOps.MaxDepth),    // depth 6
      (4L, ("part", 96L): Node, GraphOps.MaxDepth))
    assert(refPath(("supplier", 0L), ("part", 37L), 1).isEmpty)
    assert(refPath(("supplier", 0L), ("supplier", 3L), GraphOps.MaxDepth).nonEmpty)
    for ((src, dst, depth) <- drawn ++ edgeCases) {
      val got = GraphOps.pathFind(spark, SfDir, "supplier", src, dst._1, dst._2, depth)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
        .sortBy(_._1)
      assert(got == refPath(("supplier", src), dst, depth), s"$src -> $dst at depth $depth")
    }
  }

  /** Row count and MD5 over the schema and the sorted rows. */
  private def canon(df: DataFrame): String = {
    val rows = df.collect().map(_.toSeq.mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(df.schema.toDDL.getBytes("UTF-8"))
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().map("%02x".format(_)).mkString
  }

  test("graph rows keep their outputs from before the shared kernel") {
    // recorded at sf0.001 from the per-layer join BFS the kernel replaced
    val pinned = Seq[(String, (SparkSession, String) => DataFrame, String)](
      ("graph_khop_deep", GraphOps.graphKhopDeep, "200:23840a9cee59f549bc421a45df87fd89"),
      ("graph_khop", GraphOps.graphKhop, "200:23840a9cee59f549bc421a45df87fd89"),
      ("graph_dependents", GraphOps.graphDependents, "150:9ef333b6be62cb0c487da578350f187b"),
      ("callees", GraphOps.graphCallees, "200:23840a9cee59f549bc421a45df87fd89"),
      ("callers", GraphOps.graphCallers, "10:dae3b2edbe5463c7fc4944956038a1bc"),
      ("graph_implementations", GraphOps.graphImplementations,
        "170:50bf65bace9a8b01c85eedac875e6215"),
      ("graph_path_find_deep", GraphOps.graphPathFindDeep, "4:7d5e9eaa79ea5bc1acd990d6bb6fdb8a"),
      ("graph_path_find", GraphOps.graphPathFind, "3:f931a934a3c3214af1a356923de9373a"))
    for ((name, op, want) <- pinned)
      assert(canon(op(spark, SfDir)) == want, name)
  }

  test("an invalidate mid-traversal keeps the in-flight result out of the memo") {
    // a private dir over the same lineitem, so invalidating it leaves the
    // shared suites' memos alone
    val dir = Files.createTempDirectory("graft-bfs-epoch")
    Files.copy(Paths.get(SfDir, "lineitem.parquet"), dir.resolve("lineitem.parquet"))
    val d = dir.toString
    // stand-in edge memo whose first scan (hop 1) blocks until released
    val gate = udf { (s: Long) =>
      if (TraversalGate.armed.getAndSet(false)) {
        TraversalGate.entered.countDown()
        TraversalGate.release.await(60, TimeUnit.SECONDS)
      }
      s
    }
    PlanCache.getOrBuild(spark, d, "edges") {
      Tables.lineitem(spark, d)
        .select(gate(col("l_suppkey")).as("src"), col("l_partkey").as("dst"))
        .distinct()
    }
    TraversalGate.armed.set(true)
    try {
      val inFlight = Future(GraphOps.kHop(spark, d, 2))
      assert(TraversalGate.entered.await(60, TimeUnit.SECONDS), "hop 1 never ran")
      PlanCache.invalidate(d)
      TraversalGate.release.countDown()
      val first = Await.result(inFlight, 2.minutes)
      val second = GraphOps.kHop(spark, d, 2)
      assert(!(second eq first),
        "the next call must rebuild, not hit the result of the overtaken traversal")
      assert(GraphOps.kHop(spark, d, 2) eq second, "the rebuilt result is the memo")
      assert(first.collect().toSet == second.collect().toSet)
    } finally {
      TraversalGate.release.countDown()
      PlanCache.invalidate(d)
    }
  }
}
