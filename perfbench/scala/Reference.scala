package graftbench

import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Order-insensitive result hashing: columns sorted by name, each row
  * rendered canonically, rows sorted, SHA-256 over the lot. */
object Canon {
  private def render(v: Any): String = v match {
    case null => "\\N"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  def hashRows(rows: Seq[Row], cols: Seq[String]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(cols.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** (hash, row count, sorted column names) of a result. */
  def hashDf(df: DataFrame): (String, Long, Seq[String]) = {
    val rows = df.collect().toSeq
    (hashRows(rows, df.columns.toSeq), rows.size.toLong, df.columns.toSeq.sorted)
  }
}

/** Hashes a Verify dump (one parquet dir per query, already compared with
  * the DuckDB oracle) into the benchmark's expected-results file. */
object Derive {
  def apply(corpus: String, verifyOut: String): Map[String, Any] = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    try {
      val out = graft.SparkEntry.queries.keys.toSeq.sorted.map { n =>
        val (h, rows, cols) = Canon.hashDf(spark.read.parquet(s"$verifyOut/$n"))
        n -> Map("hash" -> h, "rows" -> rows, "cols" -> cols)
      }
      Map("corpus" -> corpus, "queries" -> out.toMap)
    } finally spark.stop()
  }
}

/** Reference evaluations run after the timed region. Graph answers are
  * recomputed by a plain breadth-first search over the collected edges;
  * FTS answers by evaluating the query over collected token arrays; IVF
  * probe answers by training the quantizer and scoring over the collected
  * embeddings. */
object Reference {
  type Check = (String, Boolean, String) => Unit

  private def edgesOf(spark: SparkSession, dir: String): Seq[(Long, Long)] =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_suppkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSeq

  private type Node = (String, Long)
  private def adjacency(edges: Seq[(Long, Long)]): Map[Node, Seq[Node]] = {
    val m = mutable.HashMap.empty[Node, mutable.ArrayBuffer[Node]]
    edges.distinct.foreach { case (s, p) =>
      m.getOrElseUpdate(("supplier", s), mutable.ArrayBuffer()) += (("part", p))
      m.getOrElseUpdate(("part", p), mutable.ArrayBuffer()) += (("supplier", s))
    }
    m.view.mapValues(_.toSeq).toMap
  }

  private val nodeOrd: Ordering[Node] = Ordering.Tuple2[String, Long]

  /** Layered BFS: node -> (hop, min parent at that hop). */
  private def bfs(adj: Map[Node, Seq[Node]], seeds: Seq[Node], depth: Int)
      : Map[Node, (Int, Node)] = {
    val visited = mutable.HashSet.empty[Node] ++= seeds
    val out = mutable.HashMap.empty[Node, (Int, Node)]
    var frontier = seeds.distinct
    for (h <- 1 to depth) {
      val next = mutable.HashMap.empty[Node, Node]
      frontier.foreach { f =>
        adj.getOrElse(f, Nil).foreach { n =>
          if (!visited.contains(n))
            next(n) = next.get(n).fold(f)(p => nodeOrd.min(p, f))
        }
      }
      next.foreach { case (n, p) => out(n) = (h, p) }
      visited ++= next.keys
      frontier = next.keys.toSeq
    }
    out.toMap
  }

  private def khopRef(adj: Map[Node, Seq[Node]], edges: Seq[(Long, Long)],
      depth: Int): Set[(Int, String, Long)] = {
    val seeds = edges.collect { case (s, _) if s < 10 => ("supplier", s) }.distinct
    bfs(adj, seeds, depth).map { case ((t, id), (h, _)) => (h, t, id) }.toSet
  }

  private def pathRef(adj: Map[Node, Seq[Node]], src: Long, dst: Long,
      depth: Int): Set[(Int, String, Long)] = {
    val s: Node = ("supplier", src)
    val reach = bfs(adj, Seq(s), depth)
    reach.get(("part", dst)) match {
      case None => Set.empty
      case Some((h, _)) =>
        var cur: Node = ("part", dst)
        var step = h
        val path = mutable.Set((0, "supplier", src))
        while (step >= 1) {
          path += ((step, cur._1, cur._2))
          cur = reach.get(cur).map(_._2).getOrElse(s)
          step -= 1
        }
        path.toSet
    }
  }

  private def triples(rows: Array[Row]): Set[(Int, String, Long)] =
    rows.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet

  private def ftsMatch(q: JsonNode, toks: Seq[String]): Boolean = q.get(0).asText match {
    case "term" => toks.contains(q.get(1).asText)
    case "prefix" => toks.exists(_.startsWith(q.get(1).asText))
    case "and" => q.asScala.drop(1).forall(ftsMatch(_, toks))
    case "or" => q.asScala.drop(1).exists(ftsMatch(_, toks))
  }

  private def round(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot, na, nb = 0.0
    for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    for (i <- a.indices) { val d = a(i) - b(i); acc += d * d }
    acc
  }

  /** The k-means IVF index of `vec_knn_kmeans`, rebuilt from its definition
    * over the collected embeddings: the 8 vectors of smallest md5(vec_id)
    * seed the clusters, one re-estimation averages each cluster's members
    * (rounded to 6 decimals), every vector joins its nearest centroid
    * (ties to the lower cluster), and a query probes the `nprobe`
    * centroids of highest cosine (rounded to 4 decimals, ties to the lower
    * cluster) and ranks their members by cosine, rounded to 4 decimals,
    * ties to the lower vec_id. The query vector is vec_id 0. */
  private final class Ivf(spark: SparkSession, dir: String) {
    private val k = 8
    private val emb: Seq[(Long, Array[Double])] =
      spark.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    private val query = emb.find(_._1 == 0L).get._2

    private def md5(id: Long): String = MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString

    private def assign(cents: Seq[(Int, Array[Double])]): Seq[(Long, Array[Double], Int)] =
      emb.map { case (id, v) =>
        (id, v, cents.map { case (c, x) => (sqDist(v, x), c) }.min._2)
      }

    private val centroids: Seq[(Int, Array[Double])] = {
      val seeds = emb.sortBy { case (id, _) => (md5(id), id) }.take(k)
        .zipWithIndex.map { case ((_, v), c) => (c, v) }
      assign(seeds).groupBy(_._3).toSeq.sortBy(_._1).map { case (c, members) =>
        val dims = members.head._2.length
        (c, Array.tabulate(dims)(d => round(members.map(_._2(d)).sum / members.size, 6)))
      }
    }
    private val members = assign(centroids)

    /** (vec_id, cluster, score) of the top 10, best first. */
    def probe(nprobe: Int): Seq[(Long, Int, Double)] = {
      val probed = centroids.map { case (c, x) => (-round(cosine(x, query), 4), c) }
        .sorted.take(nprobe).map(_._2).toSet
      members.collect { case (id, v, c) if probed(c) && id != 0L =>
        (id, c, round(cosine(v, query), 4))
      }.sortBy { case (id, _, s) => (-s, id) }.take(10)
    }
  }

  def checkServe(spark: SparkSession, dir: String,
      responses: Seq[(JsonNode, Array[Row])], check: Check): Unit = {
    val edges = edgesOf(spark, dir)
    val adj = adjacency(edges)
    lazy val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), graft.functions.Tokenize.tokens(col("text")))
      .collect().map(r => (r.getAs[Number](0).longValue, r.getString(1),
        r.getSeq[String](2))).toSeq
    lazy val ivf = new Ivf(spark, dir)
    responses.foreach { case (r, rows) =>
      val key = r.get("key").asText
      r.get("op").asText match {
        case "khop" =>
          val want = khopRef(adj, edges, r.get("depth").asInt)
          check(s"serve:$key", triples(rows) == want, s"got ${rows.length} want ${want.size}")
        case "path" =>
          val want = pathRef(adj, r.get("src").asLong, r.get("dst").asLong, r.get("depth").asInt)
          check(s"serve:$key", triples(rows) == want, s"got ${triples(rows)} want $want")
        case "fts" =>
          val lang = Option(r.get("lang")).filterNot(_.isNull).map(_.asText)
          val rank = r.get("rank").asText
          val want = docs.filter { case (_, l, t) => lang.forall(_ == l) && ftsMatch(r.get("q"), t) }
            .map { case (id, _, t) => (id, t.count(_ == rank).toLong) }
            .sortBy { case (id, s) => (-s, id) }.take(r.get("k").asInt)
          val got = rows.map(x => (x.getAs[Number](0).longValue, x.getAs[Number](1).longValue)).toSeq
          check(s"serve:$key", got == want, s"got ${got.take(3)} want ${want.take(3)}")
        case "probe" =>
          val want = ivf.probe(r.get("nprobe").asInt)
          val got = rows.map(x => (x.getLong(0), x.getInt(1), x.getDouble(2))).toSeq
          check(s"serve:$key", got == want, s"got ${got.take(3)} want ${want.take(3)}")
        case "registry" => () // compared with the expected results by run.py
      }
    }
  }

  /** The watched edge table must hold exactly the seed edges plus every
    * generated one, and the graph answer must equal a batch recompute. */
  def checkChurn(spark: SparkSession, dir: String, added: Seq[(Long, Long)],
      depth: Int, check: Check): Unit = {
    val seed = edgesOf(spark, dir)
    val want = (seed ++ added).toSet
    val tbl = "graft_watch_edges" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    // the graph answer first, through the serving path as the reader saw it
    val ans = triples(graft.operators.GraphOps.kHop(spark, dir, depth).collect())
    // the table as stored: the serving session's cached relation may
    // predate the stream's last appends, so its file listing is refreshed
    spark.catalog.refreshTable(tbl)
    val got = spark.table(tbl).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
    check("churn:edge_table", got == want,
      s"got ${got.size} want ${want.size} missing ${(want -- got).take(3)}")
    check("churn:khop", ans == khopRef(adjacency(want.toSeq), want.toSeq, depth),
      s"rows ${ans.size}")
  }
}
