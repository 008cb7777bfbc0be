package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{GraftConf, SparkEntry}
import graft.operators.{GraphOps, SearchOps}
import graft.sources.IndexStore

/** The benchmark's JVM side. `run <plan.json> <out.json>` executes one
  * workload exactly as the plan (generated from the seed by run.py) lays
  * it out and writes raw samples; run.py turns them into metrics.
  * `derive <corpus> <verify-out> <out.json>` hashes a Verify dump into the
  * expected-results file. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("run", plan, out) =>
      val result = new Run(mapper.readTree(new File(plan))).execute()
      mapper.writeValue(new File(out), result)
    case Seq("derive", corpus, verifyOut, out) =>
      mapper.writeValue(new File(out), Derive(corpus, verifyOut))
    case _ =>
      System.err.println("usage: run <plan.json> <out.json> | derive <corpus> <verify-out> <out.json>")
      sys.exit(2)
  }
}

/** One op's outcome as run.py reads it. `phase` is cold/steady (sweep),
  * warmup/req (serve) or read (churn); `novel` marks a first-seen request. */
final case class OpRec(id: String, kind: String, name: String, phase: String,
    novel: Boolean, start_ms: Double, wall_ms: Double, ok: Boolean,
    err: String, traced: Boolean)

final class Run(plan: JsonNode) {
  private val workload = plan.get("workload").asText
  private val seconds = plan.get("seconds").asDouble
  private val cpus = plan.get("cpus").asInt
  private val dir = plan.get("corpus").asText
  private val runDir = plan.get("run_dir").asText
  private val tracer = new Tracer(plan.get("trace").asInt == 1)
  private val t0Ns = System.nanoTime()
  private def relMs: Double = (System.nanoTime() - t0Ns) / 1e6

  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail.take(300))

  private val base = s"$runDir/session"

  /** The session Bench and Verify build, pinned: no environment knob can
    * reach it, and it gets fresh warehouse, local and checkpoint
    * directories, so no catalog or physical table of an earlier run can
    * be reused. */
  private def newSession(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes",
        GraftConf.splitBytes(dir, cpus, Map.empty).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("spark.local.dir", s"$base/local")
      .config("spark.sql.streaming.checkpointLocation", s"$base/stream")
      .config(graft.Checkpoints.DirConf, s"$base/checkpoint")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (tracer.enabled) s.sparkContext.addSparkListener(tracer.listener)
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Runs the workload's set-up and records its time from JVM start. */
  private def setUp[S](build: => S): S = {
    val s = build
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    extra("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    s
  }

  private var opSeq = 0
  /** Times one operation; a throw is recorded as a failed op. */
  private def timed(spark: SparkSession, kind: String, name: String,
      phase: String, novel: Boolean, traced: Boolean = true)(body: => Unit): OpRec = {
    opSeq += 1
    val id = s"$opSeq"
    val start = relMs
    val cg0 = if (tracer.enabled) Codegen.count else 0L
    val cgt0 = if (tracer.enabled) Codegen.totalMs else 0L
    val t0 = System.nanoTime()
    val err = tracer.op(spark.sparkContext, id, traced) {
      val e = try { body; "" } catch { case t: Throwable =>
        (t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)).take(300) }
      if (tracer.enabled && traced) {
        tracer.count("codegen_compiles", Codegen.count - cg0)
        tracer.count("codegen_ms", Codegen.totalMs - cgt0)
      }
      e
    }
    val r = OpRec(id, kind, name, phase, novel, start,
      (System.nanoTime() - t0) / 1e6, err.isEmpty, err, tracer.enabled && traced)
    ops += r
    r
  }

  /** Builds the corpus index; returns its wall seconds. */
  private def timedIndexBuild(s: SparkSession): Double = {
    val t0 = System.nanoTime()
    IndexStore.index(s, dir)
    (System.nanoTime() - t0) / 1e9
  }

  private def construct[T](body: => T): T = tracer.span("operators.construct")(body)
  private def action[T](body: => T): T = tracer.span("spark.action")(body)

  // ---------------------------------------------------------------- sweep

  private def surfaceSweep(): Unit = {
    // set-up: a session and the index a user's first sweep builds
    val spark = setUp {
      val s = newSession()
      extra("index_build_s") = timedIndexBuild(s)
      s
    }
    val names = plan.get("queries").asScala.map(_.asText).toSeq
    val fns = SparkEntry.queries
    def runQuery(n: String, phase: String, traced: Boolean): OpRec =
      timed(spark, "query", n, phase, phase == "cold", traced) {
        val df = construct(fns(n)(spark, dir))
        action(df.write.format("noop").mode("overwrite").save())
      }
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val c0 = System.nanoTime()
    names.foreach(runQuery(_, "cold", traced = true))
    passes += Map("phase" -> "cold", "wall_ms" -> (System.nanoTime() - c0) / 1e6,
      "traced" -> tracer.enabled)
    val cgSteady0 = Codegen.count
    // steady passes until the timed region, cold pass included, has lasted
    // the measuring time, and at least five: pass times still fall by about
    // 15% from the first steady pass to the third, so each query's median
    // needs passes past that; in a traced run every other pass is
    // untraced, which gives the tracing overhead
    var k = 0
    while (k < 5 || (System.nanoTime() - c0) / 1e9 < seconds) {
      val traced = k % 2 == 0
      val p0 = System.nanoTime()
      names.foreach(runQuery(_, "steady", traced))
      passes += Map("phase" -> "steady", "wall_ms" -> (System.nanoTime() - p0) / 1e6,
        "traced" -> (tracer.enabled && traced))
      k += 1
    }
    extra("passes") = passes.toSeq
    extra("steady_codegen_compiles") = Codegen.count - cgSteady0
    endOfTimedRegion(spark)
    // correctness: every query's rows, hashed the way Derive hashed the
    // oracle-checked Verify dump
    extra("hashes") = names.map { n =>
      n -> scala.util.Try(Canon.hashDf(fns(n)(spark, dir))).fold(
        e => Map("error" -> e.toString.take(200)),
        { case (h, rows, cols) => Map("hash" -> h, "rows" -> rows, "cols" -> cols) })
    }.toMap
    stopSession(spark)
  }

  // ---------------------------------------------------------------- serve

  private def ftsQuery(n: JsonNode): SearchOps.FtsQuery = {
    import SearchOps.FtsQuery._
    n.get(0).asText match {
      case "term" => Term(n.get(1).asText)
      case "prefix" => Prefix(n.get(1).asText)
      case "and" => And(n.asScala.drop(1).map(ftsQuery).toSeq)
      case "or" => Or(n.asScala.drop(1).map(ftsQuery).toSeq)
    }
  }

  /** One request as the serving layer would answer it: build, collect. */
  private def answer(spark: SparkSession, r: JsonNode): (Array[Row], Seq[String]) = {
    val df = construct(r.get("op").asText match {
      case "fts" =>
        val lang = Option(r.get("lang")).filterNot(_.isNull).map(_.asText)
        SearchOps.ftsSearch(graft.Tables.documents(spark, dir), ftsQuery(r.get("q")),
          lang, r.get("rank").asText, r.get("k").asInt)
      case "probe" => SearchOps.vecKnnKmeansProbes(spark, dir, r.get("nprobe").asInt)
      case "path" => GraphOps.pathFind(spark, dir, "supplier", r.get("src").asLong,
        "part", r.get("dst").asLong, r.get("depth").asInt)
      case "khop" => GraphOps.kHop(spark, dir, r.get("depth").asInt)
      case "registry" => SparkEntry.queries(r.get("query").asText)(spark, dir)
    })
    (action(df.collect()), df.columns.toSeq)
  }

  private def searchServe(): Unit = {
    val reqs = plan.get("requests").asScala.toSeq
    val (warm, timedReqs) = reqs.partition(_.get("warmup").asBoolean)
    // the first answer to each request, and its hash; every repeat must
    // hash the same, whether a memo served it or not
    val responses = mutable.LinkedHashMap.empty[String, (JsonNode, Array[Row], String)]
    // in a traced run, blocks of requests alternate traced and untraced for
    // the overhead estimate; a block is whole periods of the request mix
    val block = plan.get("trace_block").asInt
    var served = 0
    def serve(spark: SparkSession, r: JsonNode, phase: String): Unit = {
      val key = r.get("key").asText
      val traced = (served / block) % 2 == 0
      if (phase == "req") served += 1
      var res: (Array[Row], Seq[String]) = null
      timed(spark, r.get("kind").asText, key, phase, r.get("novel").asBoolean, traced) {
        res = answer(spark, r)
      }
      if (res != null) {
        val h = Canon.hashRows(res._1.toSeq, res._2)
        responses.get(key) match {
          case None => responses(key) = (r, res._1, h)
          case Some((_, _, first)) =>
            if (h != first) check(s"serve:repeat:$key", ok = false, "differs from the first answer")
        }
      }
    }
    val spark = setUp {
      val s = newSession()
      extra("index_build_s") = timedIndexBuild(s)
      warm.foreach(serve(s, _, "warmup"))
      s
    }
    ops.filterInPlace(_.phase != "warmup")
    val s0 = System.nanoTime()
    val it = timedReqs.iterator
    while (it.hasNext && (System.nanoTime() - s0) / 1e9 < seconds)
      serve(spark, it.next(), "req")
    endOfTimedRegion(spark)
    Reference.checkServe(spark, dir, responses.values.map(x => (x._1, x._2)).toSeq, check)
    // registry rows are compared with the expected results, as in the sweep
    extra("hashes") = responses.values.collect { case (r, rows, h)
        if r.get("op").asText == "registry" =>
      r.get("query").asText -> Map("hash" -> h, "rows" -> rows.length)
    }.toMap
    stopSession(spark)
  }

  // ---------------------------------------------------------------- churn

  private def watchChurn(): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
    final case class Watch(spark: SparkSession, mem: MemoryStream[(Long, Long)],
        q: StreamingQuery)
    val reads = plan.get("reads").asScala.map(_.asInt).toIndexedSeq
    def startWatch(): Watch = {
      val s = newSession()
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = MemoryStream[(Long, Long)]
      val q = graft.streaming.WatchLoop.start(s, dir, mem.toDF().toDF("src", "dst"))
      GraphOps.kHop(s, dir, reads.head).collect()
      Watch(s, mem, q)
    }
    def stopWatch(w: Watch): Unit = {
      w.q.stop()
      graft.streaming.WatchLoop.stop(w.spark, dir)
      stopSession(w.spark)
    }
    val w = setUp(startWatch())
    val spark = w.spark
    val batches = plan.get("batches").asScala.map(_.asScala.map(e =>
      (e.get(0).asLong, e.get(1).asLong)).toSeq).toIndexedSeq
    val periodMs = plan.get("period_ms").asDouble

    // commits, from the stream's own progress reports
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val epochAt0 = System.currentTimeMillis() - relMs
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val end = scala.util.Try(p.sources.head.endOffset.trim.toLong).getOrElse(-1L)
        val commit = java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration
        if (p.numInputRows > 0) progress.add((end, commit - epochAt0))
      }
    })

    // open-loop generator: batch i is due at start + i·period, late or not
    val due = new Array[Double](batches.size)
    val added = new Array[Double](batches.size)
    val offsets = Array.fill(batches.size)(-2L)
    @volatile var stopGen = false
    @volatile var issued = 0
    val start = relMs + 50.0
    val gen = new Thread(() => {
      var i = 0
      while (i < batches.size && !stopGen) {
        due(i) = start + i * periodMs
        val wait = due(i) - relMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        if (!stopGen) {
          added(i) = relMs
          offsets(i) = w.mem.addData(batches(i): _*).toString.trim.toLong
          issued = i + 1
        }
        i += 1
      }
    }, "graftbench-generator")
    gen.setDaemon(true)
    gen.start()

    // closed-loop reader over the churning graph
    val visible = Array.fill(batches.size)(-1.0)
    val s0 = System.nanoTime()
    var j = 0
    while ((System.nanoTime() - s0) / 1e9 < seconds) {
      val depth = reads(j % reads.size)
      var rows: Array[Row] = Array.empty
      val r = timed(spark, "read", s"khop:$depth", "read", novel = false, traced = j % 2 == 0) {
        val df = construct(GraphOps.kHop(spark, dir, depth))
        rows = action(df.collect())
      }
      val end = r.start_ms + r.wall_ms
      val parts = rows.iterator.filter(x => x.getInt(0) == 1 && x.getString(1) == "part")
        .map(_.getLong(2)).toSet
      for (i <- 0 until issued if visible(i) < 0 &&
          batches(i).forall { case (_, d) => parts.contains(d) })
        visible(i) = end - due(i)
      j += 1
    }
    stopGen = true
    gen.join()
    val n = issued
    w.q.processAllAvailable()
    endOfTimedRegion(spark)
    val commits = progress.asScala.toSeq.sortBy(_._1)
    extra("batches") = (0 until n).map { i =>
      val commit = commits.find(_._1 >= offsets(i)).map(_._2)
      Map("due_ms" -> due(i), "lag_ms" -> (added(i) - due(i)),
        "reload_ms" -> commit.map(_ - due(i)).getOrElse(-1.0),
        "visible_ms" -> visible(i), "edges" -> batches(i).size)
    }
    val m = graft.streaming.WatchLoop.metrics(spark, dir)
    extra("watch") = Map("reloads" -> m.totalReloads, "failed" -> m.failedReloads,
      "edges_appended" -> graft.streaming.WatchLoop.reloadLedger(spark, dir)
        .agg(org.apache.spark.sql.functions.sum("n_new_edges")).head().get(0),
      "batch_ms" -> graft.streaming.WatchLoop.reloadLedger(spark, dir)
        .filter(col("n_new_edges") > 0).collect().map(_.getAs[Long]("duration_ms")).toSeq)
    check("watch_failed_reloads", m.failedReloads == 0, s"failed=${m.failedReloads}")
    Reference.checkChurn(spark, dir, batches.take(n).flatten, reads.max, check)
    stopWatch(w)
  }

  // ---------------------------------------------------------------- common

  private def dirBytes(p: Path, suffix: String = ""): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix))
        .mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Heap after a full GC, the index footprint, cached relations. */
  private def endOfTimedRegion(spark: SparkSession): Unit = {
    val rdds = spark.sparkContext.getRDDStorageInfo
    extra("memos") = rdds.length
    extra("memo_bytes") = rdds.map(r => r.memSize + r.diskSize).sum
    extra("catalog_tables") = spark.catalog.listTables().count()
    extra("warehouse_bytes") = dirBytes(Paths.get(s"$base/warehouse"))
    extra("corpus_bytes") = dirBytes(Paths.get(dir), ".parquet")
    // Spark's ContextCleaner frees the blocks of collected broadcasts and
    // shuffles only after a GC has found them, so collect until the live
    // set stops shrinking
    val rt = Runtime.getRuntime
    def live(): Long = { System.gc(); Thread.sleep(200); rt.totalMemory - rt.freeMemory }
    var last = live()
    var now = live()
    var rounds = 2
    while (rounds < 8 && last - now > (1L << 20)) { last = now; now = live(); rounds += 1 }
    extra("retained_heap_bytes") = now
  }

  def execute(): Map[String, Any] = {
    workload match {
      case "surface_sweep" => surfaceSweep()
      case "search_serve" => searchServe()
      case "watch_churn" => watchChurn()
    }
    val env = Map("spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "scala_version" -> scala.util.Properties.versionNumberString)
    val trace = if (!tracer.enabled) Map.empty[String, Any] else Map(
      "spans" -> tracer.spanRows.map(s => Seq(s.op, s.name, s.startUs, s.endUs)),
      "counters" -> tracer.counters.asScala.map { case (op, c) =>
        op -> c.c.asScala.map { case (k, v) => k -> v.get }.toMap }.toMap)
    Map("ops" -> ops.toSeq, "checks" -> checks.toSeq, "env" -> env) ++ extra ++ trace
  }
}
