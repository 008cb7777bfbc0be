package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.Tables
import graft.Checkpoints.LineageCut

/** Code-graph query analogues over the supplier→part bipartite graph
  * derived from lineitem (edge = "supplier ships part").
  *
  * Reference analogue: project-cortex's graph searcher runs bounded-depth
  * traversals over edge tables — callers/callees, dependencies, impact
  * (internal/graph/searcher_sql.go:34, depth capped at 6).
  *
  * Scale posture: every traversal (k-hop, dependents, callers/callees,
  * implementations, path finding) runs one kernel, [[traverse]]: the
  * frontier, visited set and parent map live on the driver, and each hop
  * (depth is bounded, as in cortex) is one narrow job — a distributed
  * scan of the persisted edge relation filtered by the frontier. Driver
  * memory grows with the nodes reached, which is what [[kHop]] returns
  * anyway; the edge relation itself never leaves the executors.
  */
object GraphOps {

  /** The canonical batch edge relation: distinct supplier→part pairs
    * derived from lineitem. Un-memoized — [[edges]] wraps it; the watch
    * loop seeds its live table from it. */
  private[graft] def batchEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
      .distinct()

  /** Distinct supplier→part edges, persisted and memoized per
    * (session, dir): every graph query references the edge relation from
    * at least two plan branches, and without materialization each branch
    * would re-scan and re-distinct lineitem (cortex materializes its edge
    * tables for the same reason, internal/storage/schema.go). When a
    * watch loop is live for this (session, dir), the relation reads the
    * stream-maintained edge table instead (see streaming.WatchLoop);
    * PlanCache.invalidate(dir) per micro-batch is what makes the memo
    * follow the stream.
    */
  private def edges(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.getOrBuild(spark, dir, "edges") {
      graft.streaming.WatchLoop.edgeOverride(spark, dir)
        .getOrElse(batchEdges(spark, dir))
    }

  /** Second edge relation (the cortex analogue of `type_relationships`
    * next to `function_calls`, internal/graph/searcher_sql.go:524):
    * customer→supplier "uses" edges derived from orders⋈lineitem — customer
    * c uses supplier s if any of c's orders contains a lineitem supplied by
    * s. One shuffle join on orderkey, then distinct on the thin edge pair.
    */
  private def usesEdges(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.getOrBuild(spark, dir, "usesEdges") {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
    }

  private val SeedMax = 10 // seed roots: suppliers with key < 10

  /** Depth cap, as in the reference (searcher_sql.go:44 MaxDepth = 6). */
  val MaxDepth = 6

  /** A node of the typed graph: (type, id). */
  private type Node = (String, Long)

  /** Parent tie-break: the smallest (type, id), the order of
    * `min(struct(type, id))`. */
  private val nodeOrd: Ordering[Node] = Ordering.Tuple2[String, Long]

  /** The bounded-depth traversal every BFS operator here runs — the
    * reference's recursive-CTE traversal with visited-dedup
    * (internal/graph/searcher_sql.go:146-156) run as a driver loop.
    * `adj(f_t, f_id, t_t, t_id)` is a typed adjacency over a persisted
    * edge memo; the seeds are the `f` nodes of the rows matching `seeds`.
    * Returns every node reached within `depth` hops with its MINIMUM hop
    * and, at that hop, its smallest (type, id) parent, in (hop, node)
    * order. Stops early once the frontier is empty or `target` is
    * reached.
    *
    * Scale posture: the frontier, the visited set and the parent map live
    * on the driver, so driver memory grows with the nodes reached — what
    * [[kHop]] returns anyway — plus one hop's outgoing edges. Each hop's
    * expansion is ONE narrow Spark job: a distributed scan of the
    * persisted edge relation filtered by the frontier (an IN-set the
    * in-memory scan also prunes batches with), collecting the edges that
    * leave the frontier. No shuffle, no per-hop cache, no lineage to cut:
    * a traversal costs at most `depth` jobs.
    */
  private[graft] def traverse(adj: DataFrame, seeds: Column, depth: Int,
      target: Option[Node] = None): Seq[(Node, (Int, Node))] = {
    require(depth >= 1 && depth <= MaxDepth, s"depth must be in [1, $MaxDepth]")
    val visited = mutable.HashSet.empty[Node]
    val reached = mutable.ArrayBuffer.empty[(Node, (Int, Node))]
    var frontier = Option(seeds)
    for (h <- 1 to depth; hop <- frontier) {
      val out = adj.filter(hop)
        .select(col("f_t"), col("f_id"), col("t_t"), col("t_id")).collect()
        .map(r => ((r.getString(0), r.getLong(1)), (r.getString(2), r.getLong(3))))
      if (h == 1) visited ++= out.iterator.map(_._1)
      val next = mutable.HashMap.empty[Node, Node]
      for ((f, t) <- out if !visited.contains(t))
        next(t) = next.get(t).fold(f)(nodeOrd.min(_, f))
      visited ++= next.keys
      reached ++= next.toSeq.sortBy(_._1)(nodeOrd).map { case (n, p) => n -> (h, p) }
      frontier =
        if (next.isEmpty || target.exists(next.contains)) None
        else Some(next.keys.groupBy(_._1).map { case (t, ns) =>
          col("f_t") === t && col("f_id").isInCollection(ns.map(_._2))
        }.reduce(_ || _))
    }
    reached.toSeq
  }

  /** The (step, node) walk from the traversal's seed to `n`, read back
    * through the parent map; empty when `n` was not reached. */
  private def walkTo(reached: Seq[(Node, (Int, Node))], n: Node): Seq[(Int, Node)] = {
    val parent = reached.toMap
    parent.get(n).fold(Seq.empty[(Int, Node)]) { case (h, _) =>
      Iterator.iterate(n)(parent(_)._2).take(h + 1).toSeq.reverse.zipWithIndex
        .map { case (node, step) => (step, node) }
    }
  }

  private def schema(hopCol: String): StructType = StructType(Seq(
    StructField(hopCol, IntegerType, nullable = false),
    StructField("node_type", StringType, nullable = false),
    StructField("node_id", LongType, nullable = true)))

  /** Memoize a traversal's driver rows. The build runs every hop inside
    * PlanCache's epoch snapshot, so an invalidation that lands
    * mid-traversal keeps the result out of the memo. The rows are cut into
    * executor blocks: a memo hit then plans a scan of blocks, not a local
    * relation whose every row Spark re-plans and re-compares per query. */
  private def memoRows(spark: SparkSession, dir: String, tag: String,
      hopCol: String)(rows: => Seq[(Int, Node)]): DataFrame =
    graft.PlanCache.getOrBuild(spark, dir, tag) {
      spark.createDataFrame(
        rows.map { case (h, (t, id)) => Row(h, t, id) }.asJava, schema(hopCol))
        .lineageCut
    }

  /** A BFS operator's (hop, node_type, node_id) rows. */
  private def bfs(spark: SparkSession, dir: String, tag: String,
      adj: => DataFrame, seeds: Column, depth: Int): DataFrame =
    memoRows(spark, dir, tag, "hop") {
      traverse(adj, seeds, depth).map { case (n, (h, _)) => (h, n) }
    }

  /** One direction of an edge relation as typed adjacency rows. */
  private def arcs(rel: DataFrame, fromT: String, from: String, toT: String,
      to: String): DataFrame =
    rel.select(lit(fromT).as("f_t"), col(from).as("f_id"),
      lit(toT).as("t_t"), col(to).as("t_id"))

  /** Undirected typed adjacency of the supplier↔part graph. */
  private[graft] def partAdj(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir)
    arcs(e, "supplier", "src", "part", "dst")
      .unionAll(arcs(e, "part", "dst", "supplier", "src"))
  }

  /** Undirected typed adjacency of the customer↔supplier "uses" graph. */
  private def usesAdj(spark: SparkSession, dir: String): DataFrame = {
    val u = usesEdges(spark, dir)
    arcs(u, "customer", "cust", "supplier", "supp")
      .unionAll(arcs(u, "supplier", "supp", "customer", "cust"))
  }

  private def seedsOf(t: String, below: Long): Column =
    col("f_t") === t && col("f_id") < below

  /** Depth-parameterized k-hop reachability from the seed suppliers over
    * the supplier↔part graph (cortex `dependencies` at arbitrary depth <=
    * MaxDepth, searcher_sql.go:44). Each node appears once, at its minimum
    * hop. */
  def kHop(spark: SparkSession, dir: String, depth: Int): DataFrame =
    bfs(spark, dir, s"bfs:khop:$depth", partAdj(spark, dir),
      seedsOf("supplier", SeedMax), depth)

  /** The depth-4 contract row for the parameterized traversal. */
  def graphKhopDeep(spark: SparkSession, dir: String): DataFrame =
    kHop(spark, dir, 4)

  /** Bounded-depth (2-hop) reachability from the seed suppliers:
    * hop 1 = parts they ship, hop 2 = other suppliers shipping those
    * parts (cortex `dependencies`/`path` queries, searcher_sql.go). */
  def graphKhop(spark: SparkSession, dir: String): DataFrame =
    kHop(spark, dir, 2)

  /** Reverse-direction traversal over the `uses` relation (cortex
    * `dependents`, searcher_types.go): hop 1 = customers depending on the
    * seed suppliers, hop 2 = other suppliers those customers also use. */
  def graphDependents(spark: SparkSession, dir: String): DataFrame =
    bfs(spark, dir, "bfs:dependents", usesAdj(spark, dir),
      seedsOf("supplier", SeedMax), 2)

  /** Direct neighbors — the cortex `callers`/`callees` operations
    * (searcher_types.go): depth-1 directed traversal. `callees` follows
    * the edge direction from supplier seeds (parts they ship); `callers`
    * reverses it from part seeds (suppliers shipping them). Both are the
    * depth-1 specialization of the same traversal the deep operators
    * use; they carry no separate `queries` row because graph_khop /
    * graph_implementations already oracle-check the identical hop-1
    * rows. */
  def graphCallees(spark: SparkSession, dir: String): DataFrame =
    bfs(spark, dir, "bfs:callees",
      arcs(edges(spark, dir), "supplier", "src", "part", "dst"),
      seedsOf("supplier", SeedMax), 1)

  def graphCallers(spark: SparkSession, dir: String): DataFrame =
    bfs(spark, dir, "bfs:callers",
      arcs(edges(spark, dir), "part", "dst", "supplier", "src"),
      seedsOf("part", 40), 1)

  /** `implementations` / `type-usages` analogue over the second direction
    * of the supplier↔part relation: seed parts are the "interfaces", hop 1
    * = suppliers implementing (shipping) them, hop 2 = the other parts
    * those suppliers also ship (the usage closure). */
  def graphImplementations(spark: SparkSession, dir: String): DataFrame =
    bfs(spark, dir, "bfs:implementations", partAdj(spark, dir),
      seedsOf("part", 40), 2)

  /** Impact radius per seed root: how many distinct other suppliers are
    * reachable in 2 hops (cortex `impact` metric). The two edge scans
    * join through the part frontier only for seed-rooted paths.
    */
  def graphImpact(spark: SparkSession, dir: String): DataFrame =
   graft.PlanCache.getOrBuild(spark, dir, "graph:impact") {
    val e = edges(spark, dir)
    val out = e.filter(col("src") < SeedMax)
      .select(col("src").as("root"), col("dst"))
    out.join(e.select(col("dst"), col("src").as("nbr")), "dst")
      .filter(col("nbr") =!= col("root"))
      .groupBy(col("root"))
      .agg(countDistinct(col("nbr")).as("n_impacted"))
      .orderBy(col("root"))
   }

  /** Path query between seed roots (cortex `path`, searcher_sql.go): for
    * every ordered seed pair, the number of distinct length-2 paths
    * (shared parts). Both sides filter to seeds BEFORE the join, so the
    * join input is seeds' edges only, not the full edge table.
    */
  def graphPath(spark: SparkSession, dir: String): DataFrame =
   graft.PlanCache.getOrBuild(spark, dir, "graph:path") {
    val e = edges(spark, dir)
    val a = e.filter(col("src") < SeedMax)
      .select(col("src").as("a_id"), col("dst"))
    val b = e.filter(col("src") < SeedMax)
      .select(col("src").as("b_id"), col("dst").as("b_dst"))
    a.join(b, col("dst") === col("b_dst") && col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(countDistinct(col("dst")).as("n_paths"))
   }

  /** BFS path FINDING — the reference's `path` operation returns an
    * actual node sequence between two nodes (internal/graph TestBFSPath),
    * not just counts. Deterministic construction: BFS from supplier 0
    * with the min parent recorded per node at its first hop, target =
    * the smallest other supplier (first reached at hop 2 — in this dense
    * bipartite graph hop 2 already closes the supplier set from any
    * seed), path read back through the parent map; the min-parent
    * tie-break makes the chosen path unique so it verifies row-for-row.
    */
  def graphPathFind(spark: SparkSession, dir: String): DataFrame =
    memoRows(spark, dir, "bfs:pathfind", "step") {
      val reached = traverse(partAdj(spark, dir),
        col("f_t") === "supplier" && col("f_id") === 0L, 2)
      reached.collectFirst { case (n @ ("supplier", _), (2, _)) => n }
        .fold(Seq.empty[(Int, Node)])(walkTo(reached, _))
    }

  /** Third edge relation: customer→part "orders" edges (customer c calls
    * part p directly if any of c's orders contains p). Used by the phased
    * impact analysis as the direct-caller relation, next to supplier→part
    * "implements" and customer→supplier "uses".
    */
  private def custPartEdges(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.getOrBuild(spark, dir, "custPartEdges") {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        .distinct()
    }

  /** Arbitrary-endpoint shortest path over the supplier↔part graph — the
    * reference's `path` operation takes any (from, to) pair and BFSes the
    * reachable subgraph up to the depth cap
    * (internal/graph/searcher_sql.go:270 queryPath + bfsPath:185). The
    * shared [[traverse]] kernel records the min parent per node at its
    * first (= minimum) hop, so the recovered path is unique and verifies
    * row-for-row; the traversal stops at the hop that reaches dst.
    *
    * Scale posture: at most maxDepth narrow jobs, the path read from the
    * driver-held parent map; the memo holds only the path itself (≤
    * maxDepth+1 rows), so a deployment answering many distinct path
    * queries pins no per-query edge state. Depth is capped at
    * [[MaxDepth]] as in the reference. Returns (step, node_type,
    * node_id) from src (step 0) to dst; empty when dst is unreachable
    * within maxDepth — the reference's "No path found" response — and
    * when src == dst.
    */
  def pathFind(spark: SparkSession, dir: String, srcType: String, srcId: Long,
      dstType: String, dstId: Long, maxDepth: Int): DataFrame =
    memoRows(spark, dir,
        s"bfs:path:$srcType:$srcId:$dstType:$dstId:$maxDepth", "step") {
      val dst = (dstType, dstId)
      walkTo(traverse(partAdj(spark, dir),
        col("f_t") === srcType && col("f_id") === srcId, maxDepth, Some(dst)), dst)
    }

  /** Contract row: shortest path supplier 0 → part 37 at the full depth
    * cap. Part 37 sits at BFS distance exactly 3 from supplier 0 in the
    * test corpus at every SF (not shipped by supplier 0 directly), so this
    * pins the depth ≥ 3 machinery the fixed-depth graph_path_find row
    * cannot. */
  def graphPathFindDeep(spark: SparkSession, dir: String): DataFrame =
    pathFind(spark, dir, "supplier", 0L, "part", 37L, MaxDepth)

  /** Impact target for the phased contract row: part 1 exists with both
    * direct-customer and supplier coverage at every SF. */
  private val ImpactTarget = 1L

  /** Three-phase impact analysis — the reference's blast-radius query
    * (internal/graph/searcher_sql.go:304 queryImpact): implementations
    * ("must_update"), direct callers ("must_update"), and transitive
    * callers ("review_needed", deduped against direct callers as the
    * reference keeps only depth>1 rows). Mapped onto the corpus graph
    * with the target part as the "interface": implementations = suppliers
    * shipping it (supplier→part), direct callers = customers whose orders
    * contain it (customer→part), transitive = customers using any
    * implementing supplier (customer→supplier) that are not already
    * direct callers.
    *
    * Scale posture: the implementations set (suppliers of ONE part) is
    * tiny and broadcasts into the uses-edge join; everything else is a
    * thin key join or anti-join — no traversal re-runs, each phase reads
    * a memoized edge relation once.
    */
  def graphImpactPhased(spark: SparkSession, dir: String): DataFrame =
   graft.PlanCache.getOrBuild(spark, dir, "graph:impactPhased") {
    val e = edges(spark, dir)
    val cp = custPartEdges(spark, dir)
    val us = usesEdges(spark, dir)
    val impl = e.filter(col("dst") === ImpactTarget)
      .select(col("src").as("id")).distinct()
    val direct = cp.filter(col("part") === ImpactTarget)
      .select(col("cust").as("id")).distinct()
    val trans = us
      .join(broadcast(impl.select(col("id").as("supp"))), "supp")
      .select(col("cust").as("id")).distinct()
      .join(direct, Seq("id"), "left_anti")
    impl.select(lit("implementation").as("impact_type"),
        lit("must_update").as("severity"),
        lit("supplier").as("node_type"), col("id").as("node_id"))
      .unionAll(direct.select(lit("direct_caller"), lit("must_update"),
        lit("customer"), col("id")))
      .unionAll(trans.select(lit("transitive"), lit("review_needed"),
        lit("customer"), col("id")))
   }

  /** Type pattern for the `type-usages` contract row — the reference's
    * pattern form (searcher_sql.go:540-543: exact / `%User%` / generics
    * all via LIKE). */
  private[graft] val TypeUsagePattern = "red %"
  private val TypeUsageMax = 100

  /** `type-usages` query kind (cortex OperationTypeUsages,
    * searcher_sql.go:65/:536 buildTypeUsagesSQL): a text type pattern
    * (LIKE) selects the type set; usage sites are the DISTINCT functions
    * referencing any of them, returned with denormalized name/module
    * metadata at depth 1, ordered by id and bounded by MaxResults. Over
    * this graph: types = parts (p_name carries the pattern), usage sites
    * = suppliers shipping them, module metadata = the supplier's nation.
    *
    * Scale posture: the LIKE filter reaches the part scan and the matched
    * type-key set (thin, pattern-selective) BROADCASTS into the edge
    * join, so the big edge relation never shuffles for the semi-join;
    * the per-site aggregate is TakeOrdered-limited to MaxResults BEFORE
    * the metadata joins, so supplier/nation join against a ≤100-row
    * broadcast side rather than the full site set.
    */
  def graphTypeUsages(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.getOrBuild(spark, dir, "graph:typeUsages") {
      typeUsagesBuild(spark, dir)
    }

  /** Un-memoized [[graphTypeUsages]] plan (exposed for the plan-shape
    * spec — the PlanCache wrapper would hide the scan/join shape behind
    * an InMemoryTableScan). */
  private[graft] def typeUsagesBuild(spark: SparkSession, dir: String): DataFrame = {
    val types = Tables.part(spark, dir)
      .filter(col("p_name").like(TypeUsagePattern))
      .select(col("p_partkey"))
    val sites = edges(spark, dir)
      .join(broadcast(types), col("dst") === col("p_partkey"))
      .groupBy(col("src"))
      .agg(countDistinct(col("dst")).as("n_type_sites"))
      .orderBy(col("src"))
      .limit(TypeUsageMax)
    broadcast(sites)
      .join(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey")),
        col("src") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("function_id"), col("s_name").as("name"),
        col("n_name").as("module_path"), col("n_type_sites"),
        lit(1).as("depth"))
      .orderBy(col("function_id"))
  }

  /** In/out degree for every node of the bipartite graph (cortex
    * callers/callees counts): suppliers count distinct parts shipped,
    * parts count distinct shipping suppliers.
    */
  def graphDegree(spark: SparkSession, dir: String): DataFrame =
   graft.PlanCache.getOrBuild(spark, dir, "graph:degree") {
    val e = edges(spark, dir)
    e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .select(lit("supplier").as("node_type"), col("src").as("node_id"), col("degree"))
      .unionAll(
        e.groupBy(col("dst")).agg(count(lit(1)).as("degree"))
          .select(lit("part").as("node_type"), col("dst").as("node_id"), col("degree")))
   }

  /** Context-lines window for [[graphContext]]. */
  private val ContextK = 5

  /** Code-context assembly around a graph node — the reference's
    * ContextExtractor (internal/graph/context.go:43 ExtractContext:
    * window the stored file content around a target range, prefix a
    * "// Lines a-b" header) re-expressed over the token domain: for
    * every symbol declaration, the ±[[ContextK]]-token window around
    * the (keyword, symbol) pair with a "// toks lo-hi" header — what the
    * graph tools render next to every impact/usage hit.
    *
    * One scan: the snippet slices the SAME staged token array the decls
    * Generate reads (no join back to documents, no second tokenize), so
    * context assembly is a projection, not a query — the byte-window
    * trick context.go plays against SQLite substr, played against the
    * columnar token array instead.
    */
  def graphContext(spark: SparkSession, dir: String): DataFrame = {
    val ts = col("ts")
    val lo = greatest(col("pos") - ContextK, lit(1L))
    val hi = least(col("pos") + 1 + ContextK, size(ts).cast("long"))
    // round 14: the decl extraction ran as one interpreted
    // transform+filter walk PER KEYWORD PAIR over every token (Spark
    // HOF lambdas don't codegen), re-tokenizing the corpus besides —
    // the exact shape KeywordDecls replaced for the symbols/DSL family
    // in round 12. Same native single pass here, reading the
    // pre-tokenized index: output structs (symbol = token after the
    // keyword, kind, pos = 1-based keyword index) match the HOF
    // formulation field-for-field, and the per-pair concat order the
    // HOF produced is KeywordDecls' documented output order. The
    // snippet assembly still slices the SAME ridden token array — a
    // projection, not a join.
    PatternOps.indexedToks(spark, dir)
      .select(col("doc_id"), col("toks").as("ts"))
      .select(col("doc_id"), ts,
        explode(graft.functions.ArrayFunctions.keywordDecls(
          ts, PatternOps.SymbolKinds)).as("d"))
      .select(col("doc_id"), col("d.symbol").as("symbol"),
        col("d.kind").as("kind"), col("d.pos").as("pos"), ts)
      .select(col("doc_id"), col("symbol"), col("kind"), col("pos"),
        concat(lit("// toks "), lo, lit("-"), hi, lit("\n"),
          array_join(slice(ts, lo.cast("int"), (hi - lo + 1).cast("int")), " "))
          .as("snippet"))
  }

  /** Incremental graph maintenance — the reference's GraphUpdater
    * (internal/indexer/graph_updater.go:19: "extraction → deletion →
    * insertion" per changed file) as one declarative delta relation over
    * the document→symbol edge set. Same snapshot convention as
    * change_detect / pipeline_incremental (docs ≡ 0 mod 7 removed,
    * docs ≡ 0 mod 5 get a rev2 edit):
    *
    *  - `carried`: edges of unchanged docs pass through untouched (no
    *    re-extraction — the churn-proportional property);
    *  - `refreshed`: changed docs' edges re-extracted from the NEW text
    *    (the delete-then-insert pair collapses to one relation);
    *  - `deleted`: removed docs surface their old edges for index
    *    deletion (the eviction row the updater issues).
    *
    * The content-hash diff is the only corpus-wide join (doc_id-keyed,
    * both sides thin projections of the same scan); extraction work is
    * churn-sized.
    */
  def graphUpdateIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val neu = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
    val status = docs.select(col("doc_id").as("o_id"), md5(col("text")).as("o_hash"))
      .join(neu.select(col("doc_id").as("n_id"), md5(col("text")).as("n_hash")),
        col("o_id") === col("n_id"), "left_outer")
      .select(col("o_id").as("doc_id"),
        when(col("n_id").isNull, "deleted")
          .when(col("o_hash") =!= col("n_hash"), "changed")
          .otherwise("unchanged").as("status"))
    val oldEdges = PatternOps.symbolsExtract(spark, dir)
    val carried = oldEdges
      .join(status.filter(col("status") === "unchanged").select(col("doc_id")), "doc_id")
      .withColumn("action", lit("carried"))
    val deleted = oldEdges
      .join(status.filter(col("status") === "deleted").select(col("doc_id")), "doc_id")
      .withColumn("action", lit("deleted"))
    val refreshed = PatternOps.streamingSymbolsExtract(
        neu.join(status.filter(col("status") === "changed").select(col("doc_id")), "doc_id"))
      .withColumn("action", lit("refreshed"))
    carried.unionAll(refreshed).unionAll(deleted)
  }

  /** Every [[graphIfaceMatch]] interface comes from a seed doc
    * (doc_id ≡ 0 mod this stride) — the data-level stand-in for
    * "interfaces are a small fraction of all declared types", which is
    * what makes the interface side broadcastable. */
  private[graft] val IfaceSeedStride = 40

  /** Embedded-interface flattening depth cap — the reference's traversal
    * bound (searcher_sql.go caps at 6; the matcher's flattening is
    * cycle-guarded rather than depth-capped, but 6 covers any real
    * embedding chain and keeps the closure a fixed number of joins). */
  private[graft] val EmbedMaxDepth = 6

  /** Interface-implementation inference — the reference's
    * InterfaceMatcher (internal/graph/interface_matcher.go:92
    * InferImplementations: every struct × every interface, implements iff
    * the interface's RESOLVED method set — own methods plus recursively
    * flattened embedded interfaces, flattenMethods:58 — is contained in
    * the struct's method set) re-expressed as relational division over
    * the symbols_extract token domain:
    *
    *  - method identity is SIGNATURE-AWARE like the reference's
    *    signaturesMatch (internal/storage/inferencer.go:171: methods
    *    match on name AND param/return counts, not name alone): each
    *    `query` decl's arity = the token count between its symbol and
    *    the next keyword token (query/table/batch/stream) or
    *    end-of-doc — the decl template's parameter span. A method is
    *    the encoded string `name:arity`; per doc the LAST declaration
    *    of a name wins (the reference builds a name→signature map in
    *    decl order, so later decls overwrite), giving each doc ONE
    *    signature per method name;
    *  - interface = each `stream` symbol declared in a SEED doc
    *    (doc_id ≡ 0 mod [[IfaceSeedStride]]); its own methods are the
    *    `function` decls of its declaring doc;
    *  - embedding = the seed doc IMPORTS (`batch X`) another seed
    *    interface name; the target resolves to the minimum seed doc
    *    declaring that stream symbol (the min-id convention every graph
    *    tie-break here uses), self-doc excluded;
    *  - resolved methods = the function signatures over the ≤
    *    [[EmbedMaxDepth]]-step embed closure (cycle-safe: the closure is
    *    a visited-set BFS, not a recursion), ONE signature per method
    *    name: the shallowest declaration wins (own methods beat
    *    embedded ones — Go interfaces reject own/embedded duplicates
    *    outright, so own-wins is the faithful resolution), min doc_id
    *    breaking depth ties (the min-id convention);
    *  - concrete type = each `table` symbol; its method set is its doc's
    *    function signatures; implements iff resolved(iface) ⊆
    *    sigs(doc) — a same-name/different-arity method does NOT
    *    satisfy the requirement, exactly the reference's
    *    signaturesMatch gate — set containment checked per row by the
    *    sorted merge scan;
    *  - the reference's "empty interface matches every type" degenerate
    *    case (implementsInterface:124) is NOT materialized as edges —
    *    at corpus scale that is a deliberate quadratic; it surfaces as
    *    ONE wildcard row per empty interface (type_doc = -1,
    *    type_symbol = '*', n_methods = 0) instead.
    *
    * Scale shape: the interface side (seed docs, embed edges, closure,
    * resolved method rows) is tiny and BROADCASTS; the corpus pays ONE
    * staged scan producing per-doc distinct name arrays (memoized — the
    * probe and the type-explode read the same persisted relation), and
    * the only corpus-sized exchange is the (doc, iface) match-count
    * aggregate, sized by partial matches, not docs × interfaces. The
    * reference's nested struct×iface loop is exactly the all-pairs this
    * avoids. */
  def graphIfaceMatch(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = graft.PlanCache.getOrBuild(spark, dir, "iface:perdoc") {
      def names(kw: String) = array_sort(array_distinct(filter(
        transform(col("ts"), (x, i) =>
          when(x === lit(kw) && i < size(col("ts")) - 1,
            element_at(col("ts"), (i + lit(2)).cast("int")))
            .otherwise(lit(null))),
        _.isNotNull)))
      // fns = one `name:arity` signature per method name (last decl
      // wins); arity = tokens between the symbol and the next keyword
      val kws = Seq("query", "table", "batch", "stream")
      def sig(d: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val pos = d.getField("pos") // 0-based symbol index
        val nextKw = array_min(filter(col("kpos"), k => k > pos))
        concat_ws(":", d.getField("symbol"),
          coalesce(nextKw, size(col("ts")).cast("long")) - pos - 1)
      }
      Tables.documents(spark, dir)
        .select(col("doc_id"), graft.functions.Tokenize.tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("ts"),
          graft.functions.ArrayFunctions
            .keywordDecls(col("ts"), Seq("query" -> "function")).as("ds"),
          filter(transform(col("ts"), (x, i) =>
              when(x.isin(kws: _*), i.cast("long")).otherwise(lit(null))),
            _.isNotNull).as("kpos"),
          names("table").as("tys"), names("batch").as("imps"),
          names("stream").as("strs"))
        .select(col("doc_id"),
          array_sort(transform(
            filter(col("ds"), (d, i) => // last decl of a name wins
              !exists(slice(col("ds"), i + lit(2), size(col("ds"))),
                e => e.getField("symbol") === d.getField("symbol"))),
            sig _)).as("fns"),
          col("tys"), col("imps"), col("strs"))
        .filter(size(col("fns")) > 0 || size(col("tys")) > 0 || size(col("strs")) > 0)
    }
    val seed = perDoc.filter(col("doc_id") % IfaceSeedStride === 0)
    val ifaces = seed.select(col("doc_id"), explode(col("strs")).as("symbol"))
    // The flattening closure is the expensive prefix (6 rounds of eager
    // lineage-cut jobs) and its result is tiny — memoize it per
    // (session, dir) like every other graph BFS memo, so repeated calls
    // pay the division probe only.
    val resolved = graft.PlanCache.getOrBuild(spark, dir, "iface:resolved") {
      // embed edges: (src iface doc, src iface sym) -> min seed doc
      // declaring an imported stream name; doc-level imports, so every
      // iface symbol of the importing doc embeds the same targets (the
      // Go node's EmbeddedTypes list lives on the declaring file too)
      val tmin = ifaces.groupBy(col("symbol").as("dst_sym"))
        .agg(min(col("doc_id")).as("dst_doc"))
      val docEmbeds = seed.select(col("doc_id").as("src_doc"), explode(col("imps")).as("tgt"))
        .join(broadcast(tmin), col("tgt") === col("dst_sym"))
        .filter(col("dst_doc") =!= col("src_doc"))
        .select(col("src_doc"), col("dst_doc"), col("dst_sym")).distinct()
      val embed = ifaces.select(col("doc_id").as("src_doc"), col("symbol").as("src_sym"))
        .join(broadcast(docEmbeds), "src_doc")
      // Fixed-depth closure: one lineage cut per round (on the frontier
      // only — `reach` stays a lazy union of already-cut frames, so the
      // plan grows linearly in rounds, not exponentially).
      var reach = ifaces.select(col("doc_id").as("root_doc"), col("symbol").as("root_sym"),
        col("doc_id"), col("symbol"), lit(0).as("depth"))
      var frontier = reach
      for (round <- 1 to EmbedMaxDepth) {
        val next = frontier
          .join(broadcast(embed),
            frontier("doc_id") === embed("src_doc") && frontier("symbol") === embed("src_sym"))
          .select(col("root_doc"), col("root_sym"),
            col("dst_doc").as("doc_id"), col("dst_sym").as("symbol"))
          .distinct()
          .join(reach, Seq("root_doc", "root_sym", "doc_id", "symbol"), "left_anti")
          .withColumn("depth", lit(round))
          .lineageCut
        reach = reach.unionAll(next)
        frontier = next
      }
      // one signature per (iface, method name): shallowest declaration
      // wins (own beats embedded), min doc_id breaks depth ties
      reach.select(col("root_doc"), col("root_sym"), col("doc_id"), col("depth"))
        .distinct()
        .join(perDoc.select(col("doc_id"), col("fns")), "doc_id")
        .select(col("root_doc").as("iface_doc"), col("root_sym").as("iface_symbol"),
          col("depth"), col("doc_id"), explode(col("fns")).as("sig"))
        .groupBy(col("iface_doc"), col("iface_symbol"),
          substring_index(col("sig"), ":", 1).as("name"))
        .agg(min(struct(col("depth"), col("doc_id"), col("sig"))).as("w"))
        .select(col("iface_doc"), col("iface_symbol"), col("w.sig").as("m"))
    }
    // Division via rarest-method candidates + merge-scan verify (the
    // Jaccard prefix filter's rarest-first trick applied to set
    // containment): iface ⊆ doc implies doc contains the iface's rarest
    // method, so ONE probe method per interface generates every true
    // candidate — candidate volume is Σ_iface df(rarest method), not the
    // dense all-names join (measured 84M joined rows at sf1 on this
    // corpus's 31-name universe; rarest-probing cut the operator 35 s →
    // seconds). Each candidate pair arises at most once (fns are
    // distinct, one probe method per iface), so there is NO (doc, iface)
    // aggregate at all: containment is a per-row SortedIntersectSize
    // merge scan over the sorted name arrays.
    val probe = perDoc.filter(size(col("tys")) > 0 && size(col("fns")) > 0)
    // The division side (per-iface rarest probe method + sorted method
    // array + method count) is interface-sized and derives from two
    // memoized relations plus one df census — memoized like the closure
    // it reads, so repeated calls pay only the probe scan + merge-scan
    // verify (the corpus-sized part) instead of rebuilding three
    // broadcast subtrees and the census each evaluation.
    val division = graft.PlanCache.getOrBuild(spark, dir, "iface:division") {
      val rnAgg = resolved.groupBy(col("iface_doc"), col("iface_symbol"))
        .agg(array_sort(collect_list(col("m"))).as("ms"),
          count(lit(1)).as("n_m"))
      val dfm = probe.select(explode(col("fns")).as("m"))
        .groupBy(col("m")).agg(count(lit(1)).as("df"))
      // LEFT join: an iface whose methods occur in NO probe doc has no
      // rarest probe (null m — the matched join drops it, correctly: no
      // doc can contain its methods) but must STAY in rn, else the
      // wildcard anti-join would mis-classify it as an empty interface
      rnAgg.join(
        resolved.join(dfm, "m")
          .groupBy(col("iface_doc"), col("iface_symbol"))
          .agg(min(struct(col("df"), col("m"))).as("r"))
          .select(col("iface_doc"), col("iface_symbol"), col("r.m").as("m")),
        Seq("iface_doc", "iface_symbol"), "left")
    }
    val rn = division.select(col("iface_doc"), col("iface_symbol"), col("n_m"))
    val matched = probe
      .select(col("doc_id"), col("tys"), col("fns"), explode(col("fns")).as("m"))
      .join(broadcast(division), "m")
      .filter(graft.functions.ArrayFunctions
        .sortedIntersectSize(col("fns"), col("ms")) === col("n_m"))
    val edges = matched.select(col("doc_id").as("type_doc"),
      explode(col("tys")).as("type_symbol"),
      col("iface_doc"), col("iface_symbol"), col("n_m").as("n_methods"))
    val wildcards = ifaces.join(rn,
        ifaces("doc_id") === rn("iface_doc") && ifaces("symbol") === rn("iface_symbol"),
        "left_anti")
      .select(lit(-1L).as("type_doc"), lit("*").as("type_symbol"),
        col("doc_id").as("iface_doc"), col("symbol").as("iface_symbol"),
        lit(0L).as("n_methods"))
    edges.unionAll(wildcards)
  }
}
