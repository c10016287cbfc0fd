package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Designed for a real cluster (1000-executor scale) but testable on
  * `local[N]`: every knob here is either scale-neutral (AQE, UTC, parquet
  * nanos handling) or derived from the environment rather than hardcoded to
  * the laptop case.
  *
  * One knob is static and fixed here: [[CodegenCacheEntries]], the size of
  * Spark's cache of generated classes. Spark's default of 100 is smaller
  * than the engine's working set, so at the default every warm query and
  * micro-batch compiles its classes again.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries` for every session the engine
    * builds. Spark keeps one LRU of compiled whole-stage and expression
    * classes per JVM, 100 entries by default. In local mode a new class is
    * compiled, and cached, once for the driver and once for the tasks.
    * Measured working sets in cache entries (`local[4]`, sf0.01, perfbench
    * seed 501):
    *  - `batch_short`'s ten queries compile 212 classes in their first
    *    pass and 279 over a whole run (`collect()` and `toRdd.count()`
    *    generate different final stages);
    *  - the three-query `stream_bulk` topology compiles 127 classes while
    *    it warms up and 272 over a whole run. About 145 of those are
    *    one-off predicates that carry a micro-batch's watermark as a
    *    literal.
    * At 100 entries every warm `batch_short` run recompiled its classes
    * (7–66 per query, `ev_pagerank` the most) although one query run
    * alone and repeated recompiles none, and `stream_bulk` compiled 3,258
    * classes in its measured 25 s. The constant is over twice the larger
    * set. It is a static conf: Spark reads it once per JVM, when
    * `CodeGenerator` is first used, so it goes on the session builder, not
    * in [[tune]].
    */
  val CodegenCacheEntries: Int = 1000

  private val tuned =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Apply engine-required runtime confs to an externally created session
    * (the driver hands us its own SparkSession — see SparkEntry). All of
    * these are dynamic SQL confs, safe to set post-creation.
    *
    * The codegen cache size ([[CodegenCacheEntries]]) is static and cannot
    * be set here: a session whose `spark.sql.codegen.cache.maxEntries` is
    * below the constant gets one WARN line, and the conf must be set at
    * submit time (`--conf spark.sql.codegen.cache.maxEntries=1000`).
    */
  def tune(spark: SparkSession): SparkSession = synchronized {
    // Idempotence guard: table loaders call tune() defensively (the driver
    // hands us an externally created session), but mutating runtime confs on
    // every load would surprise callers composing with a configured session
    // mid-job (ADVICE.md r1). Tune each session exactly once.
    if (tuned.contains(spark)) return spark
    tuned.add(spark)
    val cacheEntries = spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt
    if (cacheEntries < CodegenCacheEntries)
      org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
        s"spark.sql.codegen.cache.maxEntries=$cacheEntries is below the engine's " +
          s"$CodegenCacheEntries, so warm queries will recompile their generated classes. " +
          "It is a static conf: set it at submit time " +
          s"(--conf spark.sql.codegen.cache.maxEntries=$CodegenCacheEntries).")
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
    // Under AQE one query's whole-stage codegen stage ids vary from run to
    // run. With the id in the class name, identical code under another id
    // is a codegen cache miss: warm ev_pagerank and txt_epoch_plan runs
    // compiled 2–6 such classes now and then. Without it the id stays only
    // in a comment, which the cache key ignores.
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    // getOrCreate() ignores builder configs when a session already exists
    // (ADVICE.md r1) — re-assert the dynamic ones so callers always get the
    // documented shuffle sizing regardless of session reuse; master/UI and
    // the codegen cache size are creation-only and intentionally left as the
    // existing session had them (tune() warns about a small cache).
    spark.conf.set("spark.sql.shuffle.partitions", cores.toString)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }
}
