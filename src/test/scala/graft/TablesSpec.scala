package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}
import scala.jdk.CollectionConverters._

/** `Tables.table`'s schema cache: a repeated read runs no inference job,
  * and a changed file or a changed inference conf is never served a stale
  * schema.
  */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** One single-file parquet table of int64 columns, written with
    * parquet-mr directly: Spark writes a directory of part files, and
    * cannot write TIMESTAMP(NANOS) at all.
    */
  private def writeParquet(file: File, schema: String, rows: Seq[Seq[Long]]): Unit = {
    val msg = MessageTypeParser.parseMessageType(schema)
    val conf = new Configuration()
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file.toURI), conf))
      .withType(msg)
      .withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val groups = new SimpleGroupFactory(msg)
    try rows.foreach { r =>
      val g = groups.newGroup()
      msg.getFields.asScala.zip(r).foreach { case (f, v) => g.add(f.getName, v) }
      w.write(g)
    } finally w.close()
  }

  /** Runs `body` in its own job group and counts the Spark jobs it started.
    * Listener events post asynchronously but in order, so a sentinel job
    * submitted after `body` marks the point where every job of `body` has
    * been counted.
    */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID}"
    val sentinel = "tables-spec-sentinel"
    val jobs = new AtomicInteger(0)
    @volatile var sentinelSeen = false
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (group == js.properties.getProperty("spark.jobGroup.id")) {
          if (sentinel == js.properties.getProperty("spark.job.description")) sentinelSeen = true
          else jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(counter)
    try {
      sc.setJobGroup(group, "tables spec")
      val res = body
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen, "the listener never saw the sentinel job")
      (res, jobs.get())
    } finally {
      sc.setJobDescription(null)
      sc.clearJobGroup()
      sc.removeSparkListener(counter)
    }
  }

  test("a second read of the same file runs no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("tables_cache").toFile
    writeParquet(new File(dir, "t.parquet"), "message t { required int64 a; }", Seq(Seq(1L), Seq(2L)))
    val (first, firstJobs) = jobsIn(Tables.table(spark, dir.getPath, "t").schema)
    val (second, secondJobs) = jobsIn(Tables.table(spark, dir.getPath, "t").schema)
    // the first read infers: if it ran no job either, the counter is blind
    assert(firstJobs > 0, "the first read ran no inference job")
    assert(secondJobs === 0)
    assert(second === first)
  }

  test("a rewritten file is inferred again and replaces its path's entry") {
    val dir = java.nio.file.Files.createTempDirectory("tables_rewrite").toFile
    val file = new File(dir, "t.parquet")
    writeParquet(file, "message t { required int64 a; }", Seq(Seq(1L)))
    assert(Tables.table(spark, dir.getPath, "t").columns.toSeq === Seq("a"))
    writeParquet(file, "message t { required int64 a; required int64 b; }", Seq(Seq(1L, 2L)))
    val df = Tables.table(spark, dir.getPath, "t")
    assert(df.columns.toSeq === Seq("a", "b"))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    val entries = Tables.schemas.asScala.filter(_._1.contains(dir.getName))
    assert(entries.size === 1)
    assert(entries.head._2._2.fieldNames.toSeq === Seq("a", "b"))
  }

  test("inference confs are keyed: a toggled conf re-infers events' ts type, ts_ms holds") {
    val dir = java.nio.file.Files.createTempDirectory("tables_ts").toFile
    // pre-1970, sub-millisecond and exact-millisecond instants
    val nanos = Seq(1700000000123456789L, -1500L, 0L, 86400000000000L)
    val wantMs = nanos.map(Math.floorDiv(_, 1000000L))
    def write(name: String, unit: String, values: Seq[Long]): Unit =
      writeParquet(new File(dir, s"$name/events.parquet"),
        s"message events { required int64 event_id; required int64 ts (TIMESTAMP($unit,false)); }",
        values.zipWithIndex.map { case (v, i) => Seq(i.toLong, v) })
    write("nanos", "NANOS", nanos)
    write("micros", "MICROS", nanos.map(Math.floorDiv(_, 1000L)))
    def read(name: String): (DataType, Seq[Long]) = {
      val df = Tables.events(spark, s"${dir.getPath}/$name")
      (df.schema("ts").dataType,
        df.orderBy("event_id").select("ts_ms").collect().map(_.getLong(0)).toSeq)
    }
    def withConf[T](key: String, value: String)(body: => T): T = {
      val before = spark.conf.get(key)
      spark.conf.set(key, value)
      try body finally spark.conf.set(key, before)
    }
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert(withConf(nanosAsLong, "true")(read("nanos")) === (LongType, wantMs))
    // Spark has no type for TIMESTAMP(NANOS) without nanosAsLong: the read
    // must fail, not be served the LongType schema cached under the other value
    val e = intercept[Exception](withConf(nanosAsLong, "false")(read("nanos")))
    assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
    assert(withConf(ntz, "true")(read("micros")) === (TimestampNTZType, wantMs))
    assert(withConf(ntz, "false")(read("micros")) === (TimestampType, wantMs))
  }

  test("cached reads return the same schema and rows as a plain parquet read") {
    Tables.AllNames.foreach { n =>
      val cached = Tables.table(spark, sf, n)
      val plain = spark.read.parquet(s"$sf/$n.parquet")
      assert(cached.schema === plain.schema, n)
      assert(cached.collect().toSeq === plain.collect().toSeq, n)
    }
  }

  test("src/main makes batch reads only in Tables.scala, behind the schema cache") {
    // `spark.read.<format>` (also split across lines); `readStream` and
    // Avro's `reader.read(...)` do not match
    val batchRead = """\.read\s*\.""".r
    def sources(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    val files = sources(new File("src/main/scala"))
    // a scan that found nothing would pass vacuously
    assert(files.exists(_.getName == "Tables.scala"), "no sources found under src/main/scala")
    val offenders = files
      .filter(_.getName != "Tables.scala")
      .filter { f =>
        val code = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
          .linesIterator
          .filterNot { l => val t = l.trim; t.startsWith("//") || t.startsWith("*") || t.startsWith("/*") }
          .mkString("\n")
        batchRead.findFirstIn(code).isDefined
      }
    assert(offenders.map(_.getPath).isEmpty,
      s"batch reads outside Tables.scala bypass the schema cache: ${offenders.mkString(", ")}")
  }
}
