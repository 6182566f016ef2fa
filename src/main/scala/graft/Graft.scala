package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Public front door of the engine: one call to get a session with
  * the recommended scale configuration and every graft extension
  * (native functions, optimizer rules, the custom as-of planner
  * strategy) installed — the entry point a user of the reference
  * pipeline switches to.
  *
  * ```scala
  * val spark = Graft.session()              // or Graft.install(existing)
  * import graft.pipeline._, graft.operators._
  * val chunks = Inference.chunkDocuments(spark, docs)
  * val index  = Inference.embedChunks(chunks, HashingEmbedder())
  * VectorSearch.searchText(index.toDF(), "embedding", "chunk_id", "query", HashingEmbedder(), 5)
  * ```
  */
object Graft {

  /** Session tuned for the target deployment: AQE (runtime re-plan +
    * skew-join splitting), shuffle partitions sized to cores (not the
    * 200 default), UTC. On a real cluster pass `master = null` and
    * let spark-submit supply the master/resource config.
    */
  def session(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Option[Int] = None,
      appName: String = "graft"): SparkSession = {
    val parts = shufflePartitions.getOrElse(
      math.max(Runtime.getRuntime.availableProcessors(), 2))
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val preExisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = (if (master != null) b.master(master) else b).getOrCreate()
    // getOrCreate() silently ignores builder configs when a session
    // already exists (common in tests/notebooks) — re-apply the
    // runtime-settable ones so the tuned-session contract holds
    // either way. (master is JVM-fixed; nothing to do there.)
    if (preExisting.contains(spark)) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
    install(spark)
    spark
  }

  /** Install graft's functions and optimizer rules on an existing
    * session (idempotent).
    */
  def install(spark: SparkSession): SparkSession = {
    functions.GraftFunctions.register(spark)
    functions.SortedIntersectCount.register(spark)
    functions.FirstCommonBounded.register(spark)
    functions.FirstBandCollision.register(spark)
    functions.TextFunctions.registerSql(spark)
    functions.HyperLogLog.registerSql(spark)
    functions.CountMinSketch.registerSql(spark)
    plans.GraftOptimizations.install(spark)
    spark
  }

  /** The driver test-corpus tables (TESTDATA.md). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(spark, dir, name)
}
