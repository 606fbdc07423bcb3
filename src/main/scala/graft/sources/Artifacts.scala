package graft.sources

import org.apache.hadoop.conf.Configuration

/** Single root for every learn-once artifact (BPE merge tables, IVF
  * postings, LSH planes, LR weights, suffix-rank pyramids, stress
  * scratch). Configurable via `GRAFT_ARTIFACT_ROOT` — a multi-node
  * deployment points it at shared storage (an HDFS/S3 URI works
  * unchanged: every reader/writer goes through the Spark/Hadoop FS
  * API) — and defaults to `<java.io.tmpdir>/graft_artifacts` for
  * local runs. No call site hardcodes a temp path (r9 verdict #6;
  * grep-enforced by ArtifactHygieneSpec).
  */
object Artifacts {

  val root: String = sys.env.getOrElse("GRAFT_ARTIFACT_ROOT",
    new java.io.File(sys.props("java.io.tmpdir"), "graft_artifacts")
      .getPath)

  /** 8-hex SHA-256 prefix — a path disambiguator, not a security
    * hash.
    */
  def sha8(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString

  /** Artifact directory for `kind` over input `dataDir`, with the
    * hyperparameters that shape the artifact baked into the name
    * (derived, not hand-synced — advisor r5). The name carries BOTH
    * a readable sanitized prefix and the SHA-256 prefix of the RAW
    * dir string: two data dirs that sanitize identically (or differ
    * only in stripped characters) must never share an artifact
    * (r9 advisory #3 — the sanitize-only name let distinct dirs
    * collide and overwrite each other's weights between build and
    * oracle replay).
    */
  def dir(kind: String, dataDir: String, params: String): String =
    s"$root/$kind/${dataDir.replaceAll("[^A-Za-z0-9]", "_")}_" +
      sha8(dataDir) + s"_$params"

  private val countCache =
    scala.collection.concurrent.TrieMap[String, Long]()

  /** Row count of a parquet file/directory from footers only — no
    * SparkSession (artifact paths whose name bakes in a data-derived
    * parameter, e.g. the IVF quantizer's corpus-sized nLists, must be
    * derivable at oracle-SQL materialization time, before any session
    * exists). Footer reads are O(files), not O(rows); cached per JVM
    * keyed by path PLUS the root-status mtime (advisor r13: the
    * stress harnesses `mode("overwrite")` tables at a stable path
    * within one JVM — a path-only key would hand the sizing law the
    * PREVIOUS corpus's count while the fingerprint guard rebuilds
    * over the new data: an index sized and path-keyed for data that
    * no longer exists. Overwrite bumps the directory mtime, so the
    * mtime-qualified key misses and the footers are re-read). Goes
    * through the Hadoop FS API, so an HDFS/S3 artifact root works
    * unchanged.
    */
  def parquetRowCount(path: String,
      conf: Configuration = sharedConf): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.getFileStatus(p)
    countCache.getOrElseUpdate(s"$path@${root.getModificationTime}", {
      val files =
        if (root.isDirectory)
          fs.listStatus(p).map(_.getPath)
            .filter(_.getName.endsWith(".parquet")).toSeq
        else Seq(p)
      files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
    })
  }

  /** The Hadoop configuration for session-less row counts, built once:
    * `new Configuration()` parses the default resource files, which
    * cost 11–13 ms per call against 0.1–0.2 ms for a cache hit (4-core
    * box, sf0.1 documents). Callers that hold a session pass its
    * `hadoopConfiguration` instead.
    */
  private lazy val sharedConf = new Configuration()
}
