package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Designed for a real cluster (1000-executor scale) but testable on
  * `local[N]`: every knob here is either scale-neutral (AQE, UTC, parquet
  * nanos handling) or derived from the environment rather than hardcoded to
  * the laptop case.
  */
object GraftSession {

  private val tuned =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Apply engine-required runtime confs to an externally created session
    * (the driver hands us its own SparkSession — see SparkEntry). All of
    * these are dynamic SQL confs, safe to set post-creation.
    */
  def tune(spark: SparkSession): SparkSession = synchronized {
    // Idempotence guard: table loaders call tune() defensively (the driver
    // hands us an externally created session), but mutating runtime confs on
    // every load would surprise callers composing with a configured session
    // mid-job (ADVICE.md r1). Tune each session exactly once.
    if (tuned.contains(spark)) return spark
    tuned.add(spark)
    // engine-native codegen'd functions (graft_long_dot etc.)
    graft.functions.GraftFunctions.register(spark)
    // idiom-recognition optimizer rules (post-hoc injection point for an
    // externally created session; injectOptimizerRule at build time would
    // be the SparkSessionExtensions equivalent)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RewriteComposedHash60))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteComposedHash60
    // testdata events.parquet carries INT64 TIMESTAMP(NANOS) which Spark has
    // no TimestampType for; read as LongType (nanos) and convert explicitly.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // AQE re-plans shuffles at runtime (skew joins, partition coalescing) —
    // essential at 100 TB, harmless at test scale.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark
  }

  /** Core count for the dev mains (Bench, Verify, PlanDump, ...), from
    * `SPARK_GRAFT_CPUS`: a number is used as given; unset or anything
    * else (e.g. `*`) means every available processor. Resolved once, so a
    * run's `local[n]` master and its file names agree.
    */
  lazy val envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Build a local session for tests/benchmarks. Shuffle partitions follow
    * the core count, not the 200 default (right-sizing partitions is the
    * single biggest local-mode win; on a cluster this would be set to
    * ~2-3x total cores instead).
    */
  def local(appName: String = "graft",
            cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    // getOrCreate() ignores builder configs when a session already exists
    // (ADVICE.md r1) — re-assert the dynamic ones so callers always get the
    // documented shuffle sizing regardless of session reuse; master/UI are
    // creation-only and intentionally left as the existing session had them.
    spark.conf.set("spark.sql.shuffle.partitions", cores.toString)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }
}
