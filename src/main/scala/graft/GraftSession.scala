package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session and query-selection setup shared by the mains: `Bench`,
  * `Verify` and `tools.Prof` build the same local session, and all of
  * them (`tools.PlanDump` too) honour the `SPARK_GRAFT_ONLY` selector. */
object GraftSession {
  type Query = (SparkSession, String) => DataFrame

  /** `SPARK_GRAFT_CPUS`, else the available processors capped at 32. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(Runtime.getRuntime.availableProcessors, 32).toString)

  /** A `local[cpus]` session with the graft extensions, one shuffle
    * partition per core, AQE with partition coalescing, UTC and no UI;
    * Spark logs at WARN. */
  def local(): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_ONLY=a,b` as a set of query names; None when unset or
    * blank (an iteration aid: the full-corpus runs never set it). */
  def only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").filter(_.trim.nonEmpty)
      .map(_.split(",").map(_.trim).toSet)

  /** The [[SparkEntry.queries]] that [[only]] names, or `ifUnset`. */
  def selected(ifUnset: => Map[String, Query] = SparkEntry.queries)
      : Map[String, Query] =
    only.fold(ifUnset)(names => SparkEntry.queries.filter { case (n, _) => names(n) })

  /** Job-boundary cleanup between queries: operators persist() for
    * intra-query reuse (shingle tables, changelogs, graph edges) and
    * the blocks must not outlive the query — in a 139-query session
    * the leaked cache steadily degrades later queries (measured 7× on
    * g3) exactly as it would evict useful blocks on a shared cluster. */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
