package graft

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (driver contract). Per-query progress goes to
  * stderr so slow queries are identifiable while the run is live.
  *
  * This is a measuring tool, not a regression gate: it keeps no state
  * between runs. Regressions are gated by perfbench's paired parent/change
  * runs (`perfbench/`, `BENCHMARK.json`), whose `stream_bulk` workload is
  * also where the streaming topology is measured. `corrected` and
  * `probe_base_sec` compare only within one run: the base is that run's
  * quietest probe, and it moved 1.66× between two back-to-back runs of the
  * same code on a 4-core host.
  */
object Bench {
  /** One query's figures: its best run's wall time and the classes Spark
    * compiled during that run, whether it succeeded, and its noise factor
    * and best-run probe time (see below).
    */
  private final case class Result(name: String, sec: Double, ok: Boolean, noise: Double,
      bestProbe: Double, compiles: Long)

  /** Generated classes Spark has compiled in this JVM so far (codegen
    * cache misses). In local mode tasks compile in the driver JVM too.
    */
  private def compiled(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = GraftSession.envCores
    val spark = GraftSession.local("graft-bench", cores)
    // dev filter: SPARK_GRAFT_ONLY=comma,separated,names runs a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // min-of-N timing: the first run pays planning + codegen and either run
    // can be hit by external host load; the min is the query's capability
    // min-of-3 by default: this host has bursty external load and the
    // CPU-bound queries are contention-sensitive; three samples give the
    // min a fair shot at a quiet window
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Fixed CPU-bound calibration probe, timed before every run: external
    // host load that would poison a measurement inflates the probe the
    // same way, so each reported time carries a noise factor
    // (probe-at-best-run / quietest-probe-seen) and a loaded-host artifact
    // is self-identifying instead of masquerading as a 30× regression
    // (VERDICT r3 #3: BENCH_r03 reported 70 s for a 1.4 s query).
    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.range(150000)
        .selectExpr("sum(conv(substr(md5(cast(id as string)),1,15),16,10))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // untimed JIT/codegen warmup so the alphabetically-first query doesn't
    // absorb JVM startup (hash/codegen/parquet paths get hot once), then
    // calibrate: the baseline is the quietest probe ever observed
    spark.range(100000).selectExpr("sum(conv(substr(md5(cast(id as string)),1,15),16,10))").collect()
    Tables.table(spark, sfDir, "region").count()
    var probeBase = (1 to 5).map(_ => probe()).min
    val maxExtraRuns = 2
    val results = selected.map { case (name, fn) =>
      def oneRun(): (Double, Long, Double, Long) = {
        // a query may .cache() an internal index; clearing between runs
        // keeps run N from silently reusing run N-1's CacheManager entry
        // (cached plans match by logical-plan equality across runs)
        spark.catalog.clearCache()
        val p = probe()
        probeBase = math.min(probeBase, p)
        val c0 = compiled()
        val t0 = System.nanoTime()
        val n =
          // count() lets Catalyst prune every projection — a map-only query
          // would be benched as a parquet row-count. toRdd.count() forces
          // the full output row to materialize through the whole plan.
          try fn(spark, sfDir).queryExecution.toRdd.count()
          catch { case e: Throwable => System.err.println(s"[bench] $name FAILED: $e"); -1L }
        ((System.nanoTime() - t0) / 1e9, n, p, compiled() - c0)
      }
      var times = (1 to runs).map(_ => oneRun())
      // if even the best run was taken under a loaded host (probe >2×
      // quiet), grant extra runs — a later quiet window fixes the artifact
      var extras = 0
      def bestNoise = {
        val ok = times.filter(_._2 >= 0)
        if (ok.isEmpty) Double.MaxValue else ok.minBy(_._1)._3 / probeBase
      }
      while (bestNoise > 2.0 && extras < maxExtraRuns) { times :+= oneRun(); extras += 1 }
      val ok = times.filter(_._2 >= 0)
      val (sec, n, _, compiles) = if (ok.nonEmpty) ok.minBy(_._1) else times.minBy(_._1)
      // noise = quietest probe seen ACROSS this query's runs / global base:
      // a single probe spike between queries can't stamp a 100× factor on a
      // clean min-of-N measurement (VERDICT r4 #5: emb_quantize_int8 got
      // noise 103.54 on a 0.28 s query from one contaminated probe)
      val noise = times.map(_._3).min / probeBase
      // for the noise correction below: the winning run's own probe time
      // (it ran in the same contention window as the query measurement)
      val bestProbe = if (ok.nonEmpty) ok.minBy(_._1)._3 else -1.0
      System.err.println(f"[bench] $name%-28s $sec%8.2fs  ($n rows, noise $noise%.2f)")
      Result(name, sec, n >= 0, noise, bestProbe, compiles)
    }
    // Locale.ROOT: the default-locale f"" interpolator emits comma decimals
    // under e.g. de_DE, which breaks the JSON contract
    def num2(d: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    val failed = results.filterNot(_.ok).map("\"" + _.name + "\"")
    val failedJson = if (failed.isEmpty) "" else s""","failed":[${failed.mkString(",")}]"""
    val total = results.filter(_.ok).map(_.sec).sum
    // a warm best run should compile nothing: a nonzero count means
    // generated classes were evicted from Spark's codegen cache and
    // compiled again (GraftSession.CodegenCacheEntries)
    val compiles = results.map(_.compiles).sum
    val probeBaseStr = String.format(java.util.Locale.ROOT, "%.4f", Double.box(probeBase))
    // corrected per query (VERDICT r9 #2): the winning run's time deflated
    // by ITS OWN probe's load factor vs the final (global quietest) base —
    // what the query would have cost on the quiet machine every run was
    // calibrated against. The probe has jitter of its own (~2× on a 0.1 s
    // micro-probe), so a DEAD-BAND applies: below 1.3× the raw min stands
    // and corrected ≡ raw; only real contention deflates. A deflated figure
    // is an estimate, not a measurement: read it beside `noise`.
    val corrected = results.map { r =>
      val factor = if (r.bestProbe > 0) r.bestProbe / probeBase else 1.0
      (r.name, if (!r.ok) -1.0 else if (factor < 1.3) r.sec else r.sec / factor)
    }
    val correctedTotal = corrected.collect { case (_, v) if v >= 0 => v }.sum
    // full per-query detail goes to a file: at 200+ queries the flat map is
    // ~8 KB and the driver keeps only a ~2 KB tail of stdout, which left
    // BENCH_r04/r05 unparseable ("parsed": null). Stdout gets a compact
    // primary line (total, failures, slowest-10) that always fits. The file
    // is keyed by core count so runs at two core counts keep both maps.
    val detailPath = s"BENCH_DETAIL_c$cores.json"
    val qs = results.map(r => "\"" + r.name + "\":" + (if (r.ok) r.sec.toString else "-1"))
      .mkString("{", ",", "}")
    val noiseJson = results.map(r => "\"" + r.name + "\":" + num2(r.noise))
      .mkString("{", ",", "}")
    val compilesJson = results.map(r => "\"" + r.name + "\":" + r.compiles)
      .mkString("{", ",", "}")
    val corrJson = corrected.map { case (k, v) => "\"" + k + "\":" + (if (v >= 0) num2(v) else "-1") }
      .mkString("{", ",", "}")
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
      s""""corrected_total":${num2(correctedTotal)},""" +
      s""""queries":$qs$failedJson,"noise":$noiseJson,"corrected":$corrJson,""" +
      s""""codegen_compiles":$compilesJson,""" +
      s""""probe_base_sec":$probeBaseStr,"sf":"$sfDir"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val slowest = results.filter(_.ok).sortBy(-_.sec).take(10)
      .map(r => "\"" + r.name + "\":" + num2(r.sec))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
      s""""corrected_total":${num2(correctedTotal)},""" +
      s""""slowest":$slowest$failedJson,"codegen_compiles":$compiles,""" +
      s""""probe_base_sec":$probeBaseStr,""" +
      s""""detail_file":"$detailPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
