package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Library front door. A user migrating off the reference (or starting
  * fresh) gets a fully-configured session, the custom SQL functions, and
  * the test-table views in three lines:
  *
  * {{{
  * val spark = Graft.session()                     // extensions + sane conf
  * Graft.registerViews(spark, "/data/sf0.1")       // tables as temp views
  * spark.sql("SELECT graft_normalize(text) FROM documents").show()
  * }}}
  *
  * `session()` is a convenience for local work; a cluster deployment sets
  * `spark.sql.extensions=graft.exprs.GraftExtensions` on its own builder
  * and calls `registerFunctions`/`registerViews` against the shared
  * session instead.
  */
object Graft {

  /** The driver-generated table names ([[rel.Tables]] handles the
    * TIMESTAMP(NANOS) parquet normalization on load). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Build a local session with the graft extensions injected and the
    * shuffle sizing this engine is tuned for (`cores` partitions, not
    * Spark's default 200 — right for local[n]; a cluster overrides). */
  def session(master: String = "local[*]",
              appName: String = "graft",
              shufflePartitions: Option[Int] = None): SparkSession = {
    val cores = shufflePartitions.getOrElse(Runtime.getRuntime.availableProcessors())
    SparkSession.builder()
      .master(master).appName(appName)
      .config("spark.sql.extensions", "graft.exprs.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
  }

  /** Register the full `graft_*` SQL function catalog (normalize/dot plus
    * the reference's scoring/parsing kernels — tokens_contain, em,
    * token_f1, rougel, fusion, probability, deal_prediction, expand_refs)
    * on an EXISTING session that was built without the extensions class,
    * with the custom planner strategies ([[exprs.GraftExtensions.install]]:
    * functions the session already has are left as they are). */
  def registerFunctions(spark: SparkSession): Unit =
    exprs.GraftExtensions.install(spark)

  /** Register every test table under `dir` as a temp view (missing files
    * are skipped, so a partial directory still yields its tables). */
  def registerViews(spark: SparkSession, dir: String): Seq[String] =
    tableNames.filter { n =>
      val exists = new java.io.File(s"$dir/$n.parquet").exists()
      if (exists) rel.Tables.load(spark, dir, n).createOrReplaceTempView(n)
      exists
    }

  /** Every declared query by name — the library's executable catalog. */
  def query(name: String)(spark: SparkSession, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  def queryNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
}
