package graft

import org.apache.spark.sql.SparkSession

/** The library's recommended SparkSession setup — what a deployment
  * would configure before using graft operators:
  *
  *   - UTC session timezone (the audit timestamp format is zone-less;
  *     reproducible epoch-millis output, `App.java:72-73` semantics);
  *   - [[graft.functions.GraftExtensions]] installed so the native
  *     expressions are callable from SQL (`graft_dot`,
  *     `graft_poly_hash`, `graft_simhash64`);
  *   - AQE left on (runtime coalescing + skew-join splitting);
  *   - shuffle parallelism sized to the caller's cluster, not the
  *     200-partition default;
  *   - `file:` paths on [[GraftLocalFileSystem]] ([[localFileSystem]]),
  *     so local checkpoints and parquet writes do not fork a process
  *     per created file when libhadoop is not loaded.
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

  /** NOTE: `spark.sql.extensions` is a static conf — getOrCreate
    * ignores it when a session already exists in the JVM. [[local]]
    * compensates by registering the SQL functions on whatever session
    * it gets back; callers using this builder directly should do the
    * same ([[graft.functions.GraftExtensions.registerAll]]).
    */
  def builder(shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config(localFileSystem)

  /** Local session for tests / single-node runs. The SQL functions are
    * guaranteed registered even when getOrCreate returns a
    * pre-existing session (where the extensions static conf is
    * silently ignored).
    */
  def local(cores: Int): SparkSession = {
    val spark = builder(shufflePartitions = cores)
      .master(s"local[$cores]")
      .getOrCreate()
    graft.functions.GraftExtensions.registerAll(spark)
    spark
  }
}
