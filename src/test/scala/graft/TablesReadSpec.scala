package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.read` infers a parquet schema once per file version and
  * then opens the path with it. These pin what that cache must never
  * change (the schema Spark would infer, fresh attribute ids) and what
  * it must notice (overwrites, inference-relevant session settings),
  * plus the win itself: a warm load runs no Spark job.
  */
class TablesReadSpec extends SparkSpec {

  private val sf001 = SparkEntry.defaultVerifyDir

  private def scratch(name: String): String = {
    val d = new java.io.File(s"target/tables_read_spec/$name")
    org.apache.commons.io.FileUtils.deleteDirectory(d)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** A single parquet file written by parquet-mr itself, so a test can
    * pick logical types Spark cannot write (TIMESTAMP(NANOS)).
    */
  private def writeFile(path: String, message: String,
      rows: Seq[Seq[(String, Long)]]): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(new Path(path))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.foreach { case (k, v) => g.append(k, v) }
      w.write(g)
    } finally w.close()
  }

  test("Tables.read returns the schema spark.read.parquet infers") {
    val dir = scratch("same_schema")
    val meta = new MetadataBuilder().putString("comment", "kept").build()
    spark.range(20).select(col("id"),
      col("id").cast("string").as("s", meta),
      when(col("id") > 3, col("id")).as("maybe"))
      .write.mode("overwrite").parquet(s"$dir/spark_dir")
    val paths = Tables.names.map(n => s"$sf001/$n.parquet") :+ s"$dir/spark_dir"
    paths.foreach { p =>
      val inferred = spark.read.parquet(p).schema
      // the first call fills the cache, the second opens with it
      Seq(1, 2).foreach { i =>
        val got = Tables.read(spark, p).schema
        assert(got == inferred, s"$p, call $i")
        assert(got.map(_.nullable) == inferred.map(_.nullable), p)
        assert(got.map(_.metadata) == inferred.map(_.metadata), p)
      }
    }
    assert(Tables.read(spark, s"$dir/spark_dir").schema("s").metadata
      .getString("comment") == "kept")
  }

  test("an overwrite at the same path is read with its new schema") {
    val dir = scratch("overwrite")
    val file = s"$dir/t.parquet"
    writeFile(file, "message t { required int64 a; }", Seq(Seq("a" -> 1L)))
    assert(Tables.read(spark, file).schema.fieldNames.toSeq == Seq("a"))
    writeFile(file, "message t { required int64 b; required int64 c; }",
      Seq(Seq("b" -> 2L, "c" -> 3L)))
    assert(Tables.read(spark, file).schema.fieldNames.toSeq == Seq("b", "c"))
    assert(Tables.read(spark, file).collect().toSeq.map(_.toSeq) ==
      Seq(Seq(2L, 3L)))

    val sdir = s"$dir/spark_dir"
    spark.range(3).toDF("x").write.mode("overwrite").parquet(sdir)
    assert(Tables.read(spark, sdir).schema.fieldNames.toSeq == Seq("x"))
    spark.range(5).select(col("id").cast("string").as("y"))
      .write.mode("overwrite").parquet(sdir)
    val after = Tables.read(spark, sdir)
    assert(after.schema == StructType(Seq(StructField("y", StringType))))
    assert(after.count() == 5)
    // an append adds part files: the listing still sees them
    spark.range(2).select(col("id").cast("string").as("y"))
      .write.mode("append").parquet(sdir)
    assert(Tables.read(spark, sdir).count() == 7)
  }

  test("sessions that differ in one inference setting each get their own ts type") {
    val dir = scratch("session_conf")
    val nanos = s"$dir/nanos.parquet"
    writeFile(nanos,
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }",
      Seq(Seq("event_id" -> 1L, "ts" -> 1700000000123456789L)))
    val micros = s"$dir/micros.parquet"
    writeFile(micros,
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(MICROS,false)); }",
      Seq(Seq("event_id" -> 1L, "ts" -> 1700000000123456L)))
    def session(k: String, v: String) = {
      val s = spark.newSession()
      s.conf.set(k, v)
      s
    }
    def tsType(s: org.apache.spark.sql.SparkSession, path: String) =
      scala.util.Try(Tables.read(s, path).schema("ts").dataType)
    // alternate, so each session's read follows the other's
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    val asLong = session(nanosAsLong, "true")
    val strict = session(nanosAsLong, "false")
    (1 to 2).foreach { _ =>
      assert(tsType(asLong, nanos).get == LongType)
      // Spark rejects TIMESTAMP(NANOS) unless it is read as a long
      assert(tsType(strict, nanos).isFailure)
    }
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val ntz = session(ntzKey, "true")
    val ltz = session(ntzKey, "false")
    (1 to 2).foreach { _ =>
      assert(tsType(ntz, micros).get == TimestampNTZType)
      assert(tsType(ltz, micros).get == TimestampType)
    }
  }

  test("a self-join of one table loaded twice resolves without ambiguity") {
    val a = Tables.load(spark, sf001, "nation")
    val b = Tables.load(spark, sf001, "nation")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    // 25 nations over 5 regions: 5 × 5 pairs per region
    assert(a.join(b, a("n_regionkey") === b("n_regionkey")).count() == 125)
    assert(a.join(b, a("n_nationkey") === b("n_nationkey")).count() == 25)
  }

  test("a second load of an unchanged table runs no Spark job") {
    val dir = scratch("jobs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/nation.parquet"),
      java.nio.file.Paths.get(s"$dir/nation.parquet"))
    val sc = spark.sparkContext
    val key = "graft.tablesReadSpec"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag))
          jobs.incrementAndGet()
    }
    def jobsIn(body: => Unit): Int = {
      val before = jobs.get
      body
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
      jobs.get - before
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      // the cold load infers the schema, which is one job
      assert(jobsIn(Tables.load(spark, dir, "nation").schema) >= 1)
      assert(jobsIn(Tables.load(spark, dir, "nation").schema) == 0)
      assert(jobsIn(Tables.loadWide(spark, dir, "nation").schema) == 0)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
