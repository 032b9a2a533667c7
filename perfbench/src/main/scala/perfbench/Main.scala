package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark JVM. Two modes, both driven by perfbench/run.py:
  *
  *  - `prepare`: writes the 10x ScaleUp replica of the fixture and checks
  *    its row counts;
  *  - `run`: sets the engines up three times, then runs untimed
  *    warm-up passes and timed passes over the workload's queries (closed
  *    loop, one client). Every execution's output is fingerprinted. With
  *    `--trace 1` graft and its stock-Spark twin are interleaved per
  *    query and half the passes are traced: spans at each layer boundary
  *    plus Spark's listener events.
  *
  * Everything raw goes to one JSON file (`--out`); run.py derives the
  * metrics from it. */
object Main {
  private val warmupQuery = "tpch_q06_forecast_revenue"

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    HeapPeak.install()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String): String = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cores = req("cores").toInt
    val result = req("mode") match {
      case "prepare" => prepare(req("fixture"), req("data"), req("work"), cores)
      case "run" => run(entryNs, Workloads(req("workload")), req("dir"), req("work"), cores,
        req("seed").toLong, req("seconds").toDouble, req("trace") == "1")
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    Files.write(Paths.get(req("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(result))
  }

  /** Row counts the 10x replica must have. */
  val replicaRows: Map[String, Long] = Map("lineitem" -> 600000L, "orders" -> 150000L,
    "documents" -> 50000L, "embeddings" -> 20000L, "events" -> 100000L)

  def prepare(fixture: String, data: String, work: String, cores: Int): Map[String, Any] = {
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      graft.tools.ScaleUp.run(spark, fixture, s"$data/x10", 10, "all")
      val rows = replicaRows.keys.toSeq.sorted.map { t =>
        t -> graft.Tables.loadRaw(spark, s"$data/x10", t).count()
      }.toMap
      val bad = rows.filter { case (t, n) => n != replicaRows(t) }
      require(bad.isEmpty, s"replica row counts differ from the expected ones: $bad")
      Map("rows" -> rows)
    } finally spark.stop()
  }

  private def secondsSince(ns: Long): Double = (System.nanoTime() - ns) / 1e9

  def run(entryNs: Long, wl: Workload, dir: String, work: String, cores: Int, seed: Long,
      seconds: Double, trace: Boolean): Map[String, Any] = {
    val build = graft.SparkEntry.queries

    // set-up: SparkContext, both sessions and the warm-up query on each,
    // three times; the first is timed from main entry and is the cold
    // start, the other two restart in the warm JVM; the last stays up
    val setups = ArrayBuffer[Map[String, Any]]()
    var engines: Engines = null
    for (i <- 1 to 3) {
      val a = if (i == 1) entryNs else System.nanoTime()
      engines = Engines.start(cores, work)
      val start = secondsSince(a)
      val b = System.nanoTime()
      for (s <- Seq(engines.graft, engines.vanilla))
        build(warmupQuery)(s, dir).write.format("noop").mode("overwrite").save()
      val warmup = secondsSince(b)
      setups += Map("start_s" -> start, "warmup_s" -> warmup, "total_s" -> (start + warmup))
      if (i < 3) engines.graft.stop()
    }
    val sc = engines.graft.sparkContext
    // untraced runs time graft alone; traced runs interleave the twin
    def sessionsFor(q: String): Seq[(String, SparkSession)] =
      Seq("graft" -> engines.graft) ++
        (if (trace && wl.twin(q)) Seq("vanilla" -> engines.vanilla) else Nil)

    val warehouse = new File(sys.props("graft.lake.warehouse"))
    val recorder = new Recorder
    val spans = ArrayBuffer[Span]()
    var nextId = 0
    def newId(): Int = { nextId += 1; nextId }

    /** One query on one engine: construction plus a write that discards
      * the rows and fingerprints them (FingerprintSink). The wall comes
      * from the monotonic clock; spans are in epoch milliseconds, the
      * clock of Spark's listener events. Traced passes tag the query's
      * jobs with its id, add spans and per-query counters, read outside
      * the spans, and drain the listener bus before the next query. */
    def timeOne(q: String, eng: String, s: SparkSession, pass: Int, traced: Boolean): Map[String, Any] = {
      val qid = newId()
      val (cg0, cc0) = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      val cached0 = if (traced) sc.getRDDStorageInfo.map(_.id).toSet else Set.empty[Int]
      val lake0 = if (traced) listFiles(warehouse) else Map.empty[String, Long]
      if (traced) {
        recorder.query = qid
        sc.setLocalProperty(Recorder.queryKey, qid.toString)
      }
      val n0 = System.nanoTime()
      val t0 = System.currentTimeMillis()
      var t1 = t0
      var analysis: Option[(Long, Long)] = None
      val error =
        try {
          val df = build(q)(s, dir)
          t1 = System.currentTimeMillis()
          analysis = df.queryExecution.tracker.phases.get("analysis").map(p => (p.startTimeMs, p.endTimeMs))
          df.write.format(FingerprintSink.name).option("id", qid.toString).mode("append").save()
          None
        } catch {
          case e: Throwable => Some(e.toString.take(400))
        }
      val t2 = System.currentTimeMillis()
      val wall = secondsSince(n0)
      if (traced) {
        sc.setLocalProperty(Recorder.queryKey, null)
        org.apache.spark.PerfbenchBus.drain(sc)
        val compileNs = CodeGenerator.compileTime - cg0
        val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
        val cacheB = sc.getRDDStorageInfo.filterNot(r => cached0(r.id))
          .map(r => r.memSize + r.diskSize).sum
        val newFiles = listFiles(warehouse).filter { case (p, _) => !lake0.contains(p) }
        spans += Span(qid, -1, "query", qid, eng, t0, t2, Map("query_name" -> q, "pass" -> pass,
          "compile_ns" -> compileNs, "classes" -> classes, "cache_b" -> cacheB,
          "lake_files" -> newFiles.size, "lake_b" -> newFiles.values.sum))
        val buildId = newId()
        spans += Span(buildId, qid, "operators.build", qid, eng, t0, t1)
        // the query's own Catalyst analysis runs eagerly inside construction
        analysis.foreach { case (a, b) =>
          spans += Span(newId(), buildId, "catalyst.analysis", qid, eng, a, b)
        }
        spans += Span(newId(), qid, "execute", qid, eng, t1, t2)
      }
      s.catalog.clearCache()
      val fp = Fingerprint.take(qid.toString)
      Map("query" -> q, "engine" -> eng, "wall_s" -> wall,
        "ok" -> (error.isEmpty && fp.isDefined), "error" -> error,
        "rows" -> fp.map(_.rows), "hash" -> fp.map(_.hash.toString))
    }

    // Warm-up passes (three, four on iterative_lake), checked but not
    // timed. The JIT compiles the classes the engine generates in every
    // pass, and its threads still take one to two of the four cores after
    // the warm-up, so walls keep drifting down slowly; the warm-up takes
    // the steepest part of that drift. The number of timed passes is
    // fixed by --seconds and the workload's nominal pass length, so every
    // run of a workload does the same work. The seed permutes each pass's
    // query order; the within-pair engine order flips every other pass. Traced
    // runs go untraced, traced, traced, untraced (and again), which
    // balances tracing against engine order and warm-up drift. A traced
    // pass also runs the twin, so it counts as two nominal passes.
    val warm = wl.warmupPasses
    val timed =
      if (trace) math.max(4, math.round(seconds / (2 * wl.passSeconds)).toInt)
      else math.max(2, math.round(seconds / wl.passSeconds).toInt)
    val passes = ArrayBuffer[Map[String, Any]]()
    val measureStart = System.nanoTime()
    for (pass <- 0 until warm + timed) {
      val k = pass - warm
      val traced = trace && (k % 4 == 1 || k % 4 == 2)
      val graftFirst = (k / 2) % 2 == 0
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(wl.queries)
      val schedule = order.map(q => q -> (if (graftFirst) sessionsFor(q) else sessionsFor(q).reverse))
      if (k == 0) {
        // the timed passes start from a full collection, so the peak
        // heap counts their own live data, not leftovers of the set-up
        HeapPeak.reset()
        System.gc()
      }
      val listeners = if (!traced) Nil else Seq("graft" -> engines.graft, "vanilla" -> engines.vanilla)
        .map { case (eng, s) => s -> recorder.executionListener(eng) }
      if (traced) {
        sc.addSparkListener(recorder)
        listeners.foreach { case (s, l) => s.listenerManager.register(l) }
      }
      val p0 = System.nanoTime()
      val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      val walls = for ((q, ss) <- schedule; (eng, s) <- ss) yield timeOne(q, eng, s, pass, traced)
      val passS = secondsSince(p0)
      val jitS = (ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0) / 1000.0
      if (traced) {
        sc.removeSparkListener(recorder)
        listeners.foreach { case (s, l) => s.listenerManager.unregister(l) }
      }
      passes += Map("pass" -> pass, "warmup" -> (k < 0), "traced" -> traced,
        "graft_first" -> graftFirst, "seconds" -> passS, "jit_s" -> jitS, "walls" -> walls)
    }
    val measuredS = secondsSince(measureStart)
    engines.graft.stop()

    Map("workload" -> wl.name, "seed" -> seed, "cores" -> cores,
      "trace" -> trace, "queries" -> wl.queries, "setups" -> setups.toSeq,
      "passes" -> passes.toSeq, "measured_s" -> measuredS,
      "peak_rss_mb" -> peakRssMb(), "peak_heap_mb" -> HeapPeak.mb, "spans" -> spans.map(_.toJson).toSeq) ++
      (if (trace) recorder.toJson else Map.empty)
  }

  /** path -> length of every regular file under `root`. */
  def listFiles(root: File): Map[String, Long] = {
    if (!root.exists()) Map.empty
    else {
      val out = Map.newBuilder[String, Long]
      val stream = Files.walk(root.toPath)
      try stream.filter(Files.isRegularFile(_)).forEach(p => out += (p.toString -> Files.size(p)))
      finally stream.close()
      out.result()
    }
  }

  /** The JVM's resident-set high-water mark (driver and executor in
    * local mode), from /proc. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** The largest heap occupancy left after any collection since the last
  * [[HeapPeak.reset]], summed over the heap pools: the memory the engine
  * kept live or had not yet let the collector free, unlike the resident
  * set, which also counts heap the collector only touched. */
object HeapPeak {
  @volatile private var peakB = 0L
  @volatile private var fromUptimeMs = 0L

  def mb: Double = peakB / 1e6

  /** Forgets the peak; collections that start from now on count. */
  def reset(): Unit = synchronized {
    fromUptimeMs = ManagementFactory.getRuntimeMXBean.getUptime
    peakB = 0L
  }

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val used = gc.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (gc.getStartTime >= fromUptimeMs) peakB = math.max(peakB, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}
