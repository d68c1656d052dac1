package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The library's recommended SparkSession setup — what a deployment
  * would configure before using graft operators:
  *
  *   - UTC session timezone (the audit timestamp format is zone-less;
  *     reproducible epoch-millis output, `App.java:72-73` semantics);
  *   - AQE left on (runtime coalescing + skew-join splitting);
  *   - shuffle parallelism sized to the caller's cluster, not the
  *     200-partition default;
  *   - `file:` paths on [[GraftLocalFileSystem]] ([[localFileSystem]]),
  *     so local checkpoints and parquet writes do not fork a process
  *     per created file when libhadoop is not loaded;
  *   - on a local master, file listings run on the driver, never as a
  *     Spark job ([[serialListing]]);
  *   - no per-session artifact isolation ([[ArtifactIsolation]]), so
  *     every streaming query of a session reuses the code an earlier
  *     query compiled instead of compiling it again.
  *
  * All settings are plain configs — users with an existing session can
  * replicate them instead of calling this.
  */
object GraftSession {

  /** Hadoop settings that serve the `file` scheme from
    * [[GraftLocalFileSystem]] through both Hadoop APIs: `FileSystem`
    * (parquet parts, listing) and `FileContext` (Spark's streaming
    * checkpoint manager). Other schemes are untouched.
    */
  val localFileSystem: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)

  /** Spark lists the paths of a file read (a batch read, and every
    * micro-batch of a file stream, which resolves its new files anew) on
    * the driver up to this many paths and as a one-task-per-path job
    * above it. No read option reaches `InMemoryFileIndex`'s listing, so
    * this session conf is the one place that can change it.
    */
  private val ListingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Spark's own switch for per-session artifacts (Spark Connect's
    * `addArtifact`, a session's own jars and class files). When on, a
    * session's tasks carry its UUID, and each executor gives every new
    * UUID a fresh session with its own class loader. Code generation
    * caches compiled classes per class loader, so every new UUID
    * compiles all of its generated code again, resolving the names
    * Janino cannot find through jar scans and, on a cluster, driver
    * RPCs. A streaming query runs on a clone of its session with a new
    * UUID: with isolation on, each query compiled its 23 classes anew
    * and ran them cold (on a 4-vCPU VM, a 60k-line backfill took 1.6 s
    * with isolation and 1.1 s without). Isolation guards artifacts a
    * session adds, and graft adds none. Spark reads the conf when a
    * session is created, so it is set on the builder.
    */
  private[graft] val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** Whether a session on `master` lists files on the driver whatever
    * their number: true for `local` and `local[n]` (Spark's own test for
    * a local master). There, a listing job's tasks run in the same JVM on
    * the same disk, so the job only adds its scheduling: on a 4-vCPU
    * VM a 120-file micro-batch took 0.6–0.8 s to list as a job and
    * under 0.05 s on the driver. On a cluster master Spark's default
    * stays: there the job's tasks issue the S3/HDFS listing calls from
    * many executors at once, and that parallelism is what makes a large
    * listing fast.
    */
  private[graft] def serialListing(master: String): Boolean =
    master == "local" || master.startsWith("local[")

  /** The file system serving `path`, through the session's Hadoop conf:
    * the context's conf with the session's settings on top, as Spark's
    * own reads and writes of the path see it. So a Hadoop key set with
    * `spark.conf.set` (a per-session `fs.s3a.*` credential, an
    * `fs.file.impl`) reaches graft's own listings, purges and renames
    * too. Every file system graft looks up directly comes from here.
    */
  def fileSystem(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConf())

  /** `builder.getOrCreate()`, then the settings that depend on the
    * master the session got ([[serialListing]]). Every graft session is
    * made here.
    */
  def create(builder: SparkSession.Builder): SparkSession = {
    val spark = builder.getOrCreate()
    if (serialListing(spark.sparkContext.master))
      spark.conf.set(ListingThreshold, Int.MaxValue.toLong)
    spark
  }

  /** The session settings above, before a master is chosen. */
  def builder(shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config(ArtifactIsolation, "false")
      .config(localFileSystem)

  /** The session every `main` runs on (`Bench`, `Verify` and the
    * `graft.tools` mains): `local[n]` with `n` shuffle partitions, where
    * `n` is `SPARK_GRAFT_CPUS` (default 4), the UI off, and Spark's log
    * level set to `logLevel`.
    */
  def forMain(logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = create(builder(shufflePartitions = cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false"))
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Local session for tests / single-node runs. */
  def local(cores: Int): SparkSession =
    create(builder(shufflePartitions = cores).master(s"local[$cores]"))
}
