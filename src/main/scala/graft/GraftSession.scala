package graft

import org.apache.spark.sql.SparkSession

/** Tuned local SparkSession factory used by specs, [[Bench]] and
  * ad-hoc runs.
  *
  * The settings mirror what we'd ship on a real cluster: AQE on (runtime
  * re-planning, skew-join splitting, partition coalescing), shuffle
  * parallelism matched to cores instead of the 200 default, UTC session
  * time zone for oracle parity. `SPARK_GRAFT_CPUS` sets the local core
  * count (default: the host's available processors).
  */
object GraftSession {
  def get(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // build-time extensions: the analyzer rules (V2-catalog bridge)
      // can only inject here — register() below covers the rest on
      // sessions someone else built
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.tables.GraftCatalog")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
