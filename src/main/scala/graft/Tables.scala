package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (TESTDATA.md). Schemas are discovered from the files, once per
  * file version (see [[read]]), not on every load; callers must not
  * hand-declare them (FIXTURES.md §8).
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the
  * loader keeps the access path behind one function so a catalog swap
  * (`spark.table`) is a one-line change.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // events.ts contract for callers: nanos-since-epoch LONG (callers
  // derive ms via `ts DIV 1000000` — integer-exact, matches DuckDB
  // epoch_ms). The driver's parquet has shipped it two ways across
  // rounds — TIMESTAMP(NANOS) (read as long via
  // spark.sql.legacy.parquet.nanosAsLong=true, which every session
  // sets) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ under Spark 4's
  // inferTimestampNTZ default) — so the loader normalizes BY TYPE at
  // load instead of letting 20 call sites care. The NTZ→long path is
  // integer-exact too: sessions run in UTC, so unix_micros of the
  // wall-clock cast is the same instant DuckDB's epoch_ms reads from
  // the naive timestamp.
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    open(spark, path, version(spark, path), name)
  }

  private def open(spark: SparkSession, path: String, v: FileVersion,
      name: String): DataFrame = {
    val df = read(spark, path, v)
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** The engine's one parquet reader, for tables and learn-once
    * artifacts alike. `spark.read.parquet` runs a one-task job per call
    * to read a footer and infer the schema; this infers once per file
    * version and afterwards opens the path with that schema, so Spark
    * only lists the files (new files are always seen) and runs no job.
    * Each call builds a new relation with fresh attribute ids, so
    * self-joins resolve as with a plain read.
    *
    * The cached schema is reused only while both of these still match:
    *  - the file version: length and mtime of a single file; for a
    *    directory, the sorted (name, length, mtime) of its visible data
    *    files. Spark's part-file names carry the write job's UUID, so
    *    an overwrite is seen even where directories have no mtime
    *    (object stores).
    *  - the session settings that change inference ([[InferenceConf]]):
    *    two sessions in one JVM may read `events.ts` as different types.
    * One entry per path, replaced when either changes: metadata only,
    * never results. Missing paths and partitioned (nested) directories
    * fall through to a plain `spark.read.parquet`.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, path, version(spark, path))

  private def read(spark: SparkSession, path: String,
      v: FileVersion): DataFrame =
    if (!v.cacheable) spark.read.parquet(path)
    else {
      val conf = InferenceConf.map(k => spark.conf.getOption(k).orNull)
      schemas.get(path).filter(e => e.files == v.files && e.conf == conf)
        match {
          case Some(e) => spark.read.schema(e.schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.put(path, SchemaEntry(v.files, conf, df.schema))
            df
        }
    }

  /** Session settings that change what parquet schema inference
    * returns for the same files.
    */
  private val InferenceConf: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private final case class SchemaEntry(files: Seq[(String, Long, Long)],
      conf: Seq[String], schema: StructType)

  private val schemas =
    scala.collection.concurrent.TrieMap[String, SchemaEntry]()

  /** One stat of a parquet path: (name, length, mtime) of each data
    * file Spark would read, from one `getFileStatus` (plus one
    * `listStatus` for a directory). Names starting with `_` or `.` are
    * hidden, as in Spark's file index (`_SUCCESS`, `_temporary`, the
    * artifact stamps, checksums). `cacheable` is false for a missing
    * path and for a directory with visible subdirectories (partitioned
    * layouts).
    */
  private final case class FileVersion(files: Seq[(String, Long, Long)],
      cacheable: Boolean, parquetFiles: Int)

  private def version(spark: SparkSession, path: String): FileVersion = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    root match {
      case None => FileVersion(Nil, cacheable = false, 0)
      case Some(st) if !st.isDirectory =>
        FileVersion(Seq((p.getName, st.getLen, st.getModificationTime)),
          cacheable = true, 1)
      case Some(_) =>
        val (dirs, files) = fs.listStatus(p).toSeq
          .filterNot(c => c.getPath.getName.startsWith("_") ||
            c.getPath.getName.startsWith("."))
          .partition(_.isDirectory)
        val listed = files.map(f =>
          (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)
        FileVersion(listed, cacheable = dirs.isEmpty,
          listed.count(_._1.endsWith(".parquet")))
    }
  }

  /** `load` plus a guard against a pathologically NARROW scan, for
    * queries whose heavy per-row work is fused into the scan stage
    * (n-gram/shingle explodes over text, per-vector model
    * projections): the driver's test parquet is ONE file with ONE
    * row group per table (unsplittable — no `maxPartitionBytes`
    * setting can help), so everything before the first exchange runs
    * single-threaded no matter how good the plan is. Measured
    * (PERF.md r13): the same corpus written as 32 splits ran the
    * text-heavy tail 2–5× faster with identical plans, while a
    * BLANKET widen taxed every light query ~0.25 s for an extra AQE
    * stage — hence opt-in per query, not a loader default. No-ops on
    * any healthily-split table (file count ≥ half the worker count —
    * every real deployment) and on small tables (<1000 rows), so at
    * production layouts `loadWide ≡ load`. Results are unchanged —
    * registered queries are repartition-invariant by contract.
    * Catalyst pushes filters and pruning through the round-robin
    * exchange into the scan (verified: `PlanDump _rawscan:documents`).
    * A derived frame behind a checkpoint is widened by
    * `Boundary.lazyWide`, under the same guard.
    */
  def loadWide(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val v = version(spark, path)
    val df = open(spark, path, v, name)
    if (!engages(spark, path, v)) df
    else {
      // one stderr line per (path, engage) so a bench/driver log
      // answers "did widening fire in THIS environment?" without a
      // plan dump (r13 verdict #3 — the q199 driver-vs-builder drift
      // was undiagnosable from bench output alone). stderr, not
      // stdout: the bench contract is ONE JSON line on stdout.
      if (engageLogged.putIfAbsent(path, true).isEmpty)
        System.err.println(s"[graft] loadWide engaged: $path " +
          s"(files=${v.parquetFiles} < " +
          s"${math.max(1, spark.sparkContext.defaultParallelism / 2)})")
      df.repartition(spark.sparkContext.defaultParallelism)
    }
  }

  /** True iff `loadWide` would insert the widening exchange for this
    * table: fewer files than half the worker count AND ≥1000 rows.
    * Public so PlanDump/diagnostics can report the decision instead
    * of inferring it from plan shape, and so `Boundary.lazyWide`
    * widens a checkpoint's input under the same guard.
    */
  def wideningEngages(spark: SparkSession, dir: String,
      name: String): Boolean = {
    val path = s"$dir/$name.parquet"
    engages(spark, path, version(spark, path))
  }

  private def engages(spark: SparkSession, path: String,
      v: FileVersion): Boolean =
    v.parquetFiles < math.max(1, spark.sparkContext.defaultParallelism / 2) &&
      graft.sources.Artifacts.parquetRowCount(path,
        spark.sparkContext.hadoopConfiguration) >= 1000L

  private val engageLogged =
    scala.collection.concurrent.TrieMap[String, Boolean]()

  private def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case Some(other) =>
        throw new IllegalStateException(
          s"events.ts has unsupported parquet type $other")
    }
  }

  /** Convenience bundle of all tables at a scale-factor dir. */
  final case class Tpch(spark: SparkSession, dir: String) {
    def region: DataFrame     = load(spark, dir, "region")
    def nation: DataFrame     = load(spark, dir, "nation")
    def customer: DataFrame   = load(spark, dir, "customer")
    def supplier: DataFrame   = load(spark, dir, "supplier")
    def part: DataFrame       = load(spark, dir, "part")
    def orders: DataFrame     = load(spark, dir, "orders")
    def lineitem: DataFrame   = load(spark, dir, "lineitem")
    def events: DataFrame     = load(spark, dir, "events")
    def documents: DataFrame  = load(spark, dir, "documents")
    def embeddings: DataFrame = load(spark, dir, "embeddings")
  }

  def apply(spark: SparkSession, dir: String): Tpch = Tpch(spark, dir)

  /** Worker count for every main: `SPARK_GRAFT_CPUS`, else the
    * machine's processor count. The one place the variable is read;
    * mains that size a `repartition` or a probe use this, too.
    */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine's only session builder (every main, the benchmark
    * harness; a spec pins that no other `SparkSession.builder` exists
    * in the engine). Shuffle partitions sized to cores (not 200), AQE
    * on for runtime re-planning (skew joins, partition coalescing) —
    * the settings that transfer to a real cluster — plus the
    * suite-sized codegen cache and the [[Metrics]] listener. Mains
    * that need a different runtime SQL conf set it with
    * `spark.conf.set` afterwards.
    *
    * `spark.cleaner.periodicGC.interval` stays at Spark's default
    * (30 min). A 30 s cadence (once set by five mains to release dead
    * lazy-checkpoint blocks sooner) was measured with `perfbench`,
    * adding only that line: `curation` ops/s fell from a
    * median 1.060 to 0.987 (−6.9%, lower in 8 of 10 alternating
    * pairs; p50 latency 1152 → 1142 ms, mixed), `flwor` was flat
    * (p50 295.8 → 285.4 ms, ops/s 2.85 → 2.90). Bench's own note had
    * called it hygiene, not speed.
    */
  def localSession(appName: String, cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // suite-sized codegen class cache (see build.sbt javaOptions)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Metrics.register(spark)
    spark
  }
}
