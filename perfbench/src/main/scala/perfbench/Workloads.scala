package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload: the queries it runs, the nominal length of
  * one graft pass over them on four cores, which with `--seconds` fixes
  * how many timed passes a run makes, and the number of untimed warm-up
  * passes before them. Traced runs also run each query on
  * the stock-Spark twin, where the twin can plan it. The data directory
  * of each workload is chosen by run.py. */
final case class Workload(name: String, passSeconds: Double, warmupPasses: Int, queries: Seq[String]) {
  def twin(q: String): Boolean = !graft.Bench.graftOnly(q)
}

object Workloads {
  // Each list is the slice of the query family that fits the run budget
  // (PROTOCOL.md, "Workloads"). iterative_lake warms up one pass longer:
  // its walls drift down for longer while the JIT catches up with the
  // driver code of its many small plans.
  val tpch: Seq[String] = Seq(
    "tpch_q01_pricing_summary", "tpch_q03_topk_revenue", "tpch_q05_local_supplier",
    "tpch_q06_forecast_revenue", "tpch_q18_large_orders")

  val iterativeLake: Seq[String] = Seq(
    "graph_pagerank", "lake_merge", "lake_time_travel")

  val all: Seq[Workload] = Seq(
    Workload("tpch", 2.2, 3, tpch),
    Workload("iterative_lake", 2.5, 4, iterativeLake))

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload $name; expected one of ${all.map(_.name).mkString(", ")}"))
}

/** The two engines under test, as two sessions over one SparkContext:
  * `graft` is built by `graft.GraftSession.builder` with the engine's
  * extensions and tuned session confs,
  * `vanilla` is a stock session with only master, shuffle-partition and
  * time-zone parity. Context-level confs are neutral, so nothing of the
  * graft session leaks into the vanilla one. Stopping either session
  * stops the context. */
final case class Engines(graft: SparkSession, vanilla: SparkSession)

object Engines {
  def start(cores: Int, workDir: String): Engines = {
    val master = s"local[$cores]"
    val vanilla = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.sql.cache.serializer",
        classOf[graft.sources.GraftCachedBatchSerializer].getName)
      .config("spark.sql.maxPlanStringLength", (8 * 1024 * 1024).toString)
      .getOrCreate()
    vanilla.sparkContext.setLogLevel("ERROR")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // the engine's own session builder; its context-level confs are
    // ignored on the existing context, so the extensions are injected
    // into this session alone
    val graftSession = graft.GraftSession.builder(master, cores)
      .withExtensions(new graft.GraftExtensions()(_))
      .getOrCreate()
    Engines(graftSession, vanilla)
  }
}
