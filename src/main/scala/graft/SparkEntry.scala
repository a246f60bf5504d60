package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.gate.GateQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every implemented operator surfaces here as a named query; the driver
  * verifies each against its DuckDB oracle (oracleSql) at sf0.01 and
  * benchmarks the set at sf0.1.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's canonical shape (app/Main.hs:20): a 2-hop labeled
    * pattern — here customer → order → part over the gate graph.
    */
  def entry(spark: SparkSession): DataFrame =
    GateQueries.queries("g2_parts_of_customer_orders")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = GateQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = GateQueries.oracles

  /** The session [[graft.Bench]], PlanDump and the probe mains run on:
    * `SPARK_GRAFT_CPUS` local cores (default 32) and as many shuffle
    * partitions, UTC, AQE. `SPARK_GRAFT_CONF` (semicolon-separated k=v
    * pairs) is an experiment-only passthrough for A/B runs without a
    * rebuild — absent in driver runs, never a tuning surface (committed
    * defaults are in code, measured results in SCALING.md). */
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val extraConf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    val spark = extraConf.foldLeft(SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
