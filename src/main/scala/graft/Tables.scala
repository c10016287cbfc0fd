package graft

import graft.Cols
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every loader goes through [[table]], a parquet scan, so Catalyst
  * handles column pruning and predicate pushdown — downstream operators
  * should `.select`/`.filter` early and let the scan prune.
  *
  * [[table]] caches each file's inferred schema and reads with it
  * (`spark.read.schema(s).parquet`): a bare `spark.read.parquet` runs one
  * Spark job per call just to read the footer, and on sub-second queries
  * that job is a large share of plan-building time. The cache key is the
  * file's qualified path, length and modification time plus the parquet
  * confs that change inference (`InferenceConfs`), so a regenerated file
  * or a toggled `nanosAsLong` is inferred again. The cache keeps at most
  * one entry per path: a changed key replaces its path's entry. A path
  * that is a directory, or missing, bypasses the cache, so its schema is
  * never served stale.
  */
object Tables {

  /** Session confs that change the schema parquet inference resolves. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** Qualified file path → ((length, mtime, inference confs), schema). */
  private[graft] val schemas = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long, Seq[Option[String]]), StructType)]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftSession.tune(spark)
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val file =
      try Some(fs.getFileStatus(p)).filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => None }
    file match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val qualified = fs.makeQualified(p).toString
        val key = (st.getLen, st.getModificationTime, InferenceConfs.map(spark.conf.getOption))
        val schema = Option(schemas.get(qualified)).collect { case (k, s) if k == key => s }
          .getOrElse {
            val s = spark.read.parquet(path).schema
            schemas.put(qualified, (key, s))
            s
          }
        spark.read.schema(schema).parquet(path)
    }
  }

  /** Fan an UNDER-SPLIT scan out to the session's parallelism.
    *
    * The optimization-guide §2.5 "input skew" case: a source whose file
    * layout cannot split (here: the driver-generated single-row-group
    * parquet files — Spark splits parquet only at row-group boundaries,
    * so every scan is ONE task regardless of core count, and the whole
    * map stage before the first exchange runs single-threaded: shingle
    * explodes, md5 fingerprints, image decodes, partial aggregates). The
    * fix is the guide's: repartition immediately after the read.
    *
    * Deliberately CONDITIONAL, not a constant: when the scan already
    * carries at least the session's default parallelism in partitions —
    * every real table at 100 TB — this is a no-op and no shuffle is
    * added. It only fires when the file layout under-splits the data,
    * which is exactly when one round-robin shuffle of the input is
    * cheaper than computing the whole map stage on one core.
    *
    * Applied at the MAP-HEAVY operator entries (per-char fingerprinting,
    * shingle/md5 pipelines, vector math, synthetic media decodes), NOT
    * blanket at the loaders: for a scan that goes straight into an
    * aggregate, the added shuffle moves the table's uncombined rows and
    * measured SLOWER than the single-task partial aggregate it replaces
    * (ev_type_stats 0.16 s → 0.57 s, q6_forecast 0.14 s → 0.33 s),
    * while the md5-bound text pipelines gained 1.3–3.4×. Round 16
    * narrowed the application further: the exchange costs a sub-second
    * scan→readout query ~0.2–0.5 s of stage overhead, so consumers opt
    * in per QUERY (registry-level) where the per-row map work measured
    * heavy, instead of per shared helper (VERDICT r15 #1: ~70 cheap
    * ann/emb/mm readouts paid the shuffle for nothing).
    *
    * Streaming frames pass through untouched: `df.rdd` would throw at
    * plan time on a streaming DataFrame, and a repartition decision
    * keyed on a static scan's split count is meaningless there anyway.
    */
  def fanOutScan(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** The `events` table with event time normalized to epoch milliseconds
    * (`ts_ms: Long`). The driver has generated `ts` as INT64
    * TIMESTAMP(NANOS) in some rounds (read as raw nanos via `nanosAsLong`)
    * and TIMESTAMP(MICROS) in others (read as TIMESTAMP_NTZ); branch on the
    * resolved type so both encodings floor to the same epoch millis (exact
    * integer floor, valid for pre-1970 epochs too) — matching the DuckDB
    * oracle's `epoch_ms(ts::TIMESTAMP)` exactly (session timezone is UTC,
    * so the NTZ wall clock IS the epoch clock).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    val tsMs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        Cols.floorDiv(col("ts"), 1000000L) // raw nanos (nanosAsLong path)
      case org.apache.spark.sql.types.TimestampType =>
        // instant-typed: unix_micros is timezone-independent, no cast needed
        Cols.floorDiv(unix_micros(col("ts")), 1000L)
      case org.apache.spark.sql.types.TimestampNTZType =>
        // the NTZ wall clock IS the epoch clock only under UTC; re-assert
        // the conf here (tune() sets it once per session) so a caller
        // mutating the session timezone afterwards can't silently shift ts_ms
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        Cols.floorDiv(unix_micros(col("ts").cast("timestamp")), 1000L)
      case other =>
        // loud failure beats silent nulls/wrong epochs from a blind cast
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; " +
            "expected INT64 nanos, TIMESTAMP, or TIMESTAMP_NTZ")
    }
    df.withColumn("ts_ms", tsMs)
  }

  val AllNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table as a temp view (events with its `ts_ms`
    * event-time column) plus the engine's SQL functions — the `spark.sql`
    * entry surface: after this, every query in the engine is expressible
    * as plain SQL against these views.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    AllNames.foreach { n =>
      val df = if (n == "events") events(spark, dir) else table(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
    spark.udf.register(
      "graft_user_agg",
      org.apache.spark.sql.functions.udaf(graft.ops.UserAggregateTyped))
  }
}
