package graft.streaming

import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

import graft.GraftSession
import graft.operators.{AuditJson, Sessionize}
import graft.sources.AuditSource

/** End-to-end Structured Streaming wiring of the reference pipeline
  * (`App.java:136-162`): continuous file source → lenient JSON parse →
  * event-time watermark → session-window denied counts → formatted
  * strings → Kafka (at-least-once) or console sink.
  *
  * One pipeline serves batch and streaming (Spark's unified API): the
  * transform stage is a pure DataFrame→DataFrame function reused verbatim
  * by tests and the batch twin — the unit of reuse the reference exposes
  * as `extractDeniedAuditCountsUserSession` (`App.java:126-134`).
  */
object AuditSessionPipeline {

  /** Watermark bound: the reference hardcodes 2-day bounded
    * out-of-orderness (`App.java:57`).
    */
  val DefaultWatermark = "2 days"

  /** Parse → watermark → sessionize → non-zero filter. Works on any
    * DataFrame with a string `value` column, bounded or unbounded.
    */
  def transform(
      lines: DataFrame,
      gapSeconds: Long,
      watermark: String = DefaultWatermark
  ): DataFrame = {
    val parsed = AuditJson.parse(lines)
    val withWm =
      if (parsed.isStreaming) parsed.withWatermark("evtTime", watermark)
      else parsed
    Sessionize.auditDeniedCounts(withWm, gapSeconds)
  }

  /** transform + the output string projection (F2). */
  def formatted(lines: DataFrame, gapSeconds: Long, watermark: String = DefaultWatermark): DataFrame =
    Sessionize.formatResults(transform(lines, gapSeconds, watermark))

  /** Typed view of the reference's config file (C1, `App.java:23-28`,
    * `readme.md:5-13`). `kafka.*` keys pass through to the Kafka sink
    * with their prefix kept (Spark's Kafka source/sink uses the same
    * `kafka.`-prefix convention as the reference's stripping logic).
    */
  final case class Config(
      auditPath: String,
      pollSeconds: Long,
      minDate: Option[String],
      gapSeconds: Long,
      output: String,
      checkpoint: Option[String],
      kafkaTopic: Option[String],
      kafkaOptions: Map[String, String],
      outputPath: Option[String] = None
  )

  object Config {
    def fromProperties(props: Properties): Config = {
      def opt(k: String): Option[String] = Option(props.getProperty(k)).map(_.trim).filter(_.nonEmpty)
      def req(k: String): String =
        opt(k).getOrElse(throw new IllegalArgumentException(s"missing required config key: $k"))
      Config(
        auditPath = req("audit.path"),
        pollSeconds = opt("audit.poll").map(_.toLong).getOrElse(240L),
        minDate = opt("audit.min_date"),
        gapSeconds = req("session.duration").toLong,
        output = opt("session.output").getOrElse("kafka"),
        checkpoint = opt("session.checkpoint"),
        kafkaTopic = opt("kafka.topic"),
        kafkaOptions = props.stringPropertyNames.asScala
          .filter(k => k.startsWith("kafka.") && k != "kafka.topic")
          .map(k => k -> props.getProperty(k))
          .toMap,
        outputPath = opt("session.output_path")
      )
    }

    def fromFile(path: String): Config = {
      val props = new Properties()
      val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
      try props.load(in)
      finally in.close()
      Config.fromProperties(props)
    }
  }

  /** Build the sink side: Append mode (sessions emit once, when the
    * watermark passes their end — the analog of Flink's event-time
    * trigger), processing-time trigger = the reference's poll interval,
    * at-least-once via checkpointing.
    *
    * The `kafka` format needs the standard `spark-sql-kafka-0-10`
    * connector on the deployment classpath (not bundled in this test
    * image — mirroring the reference, which also ships Kafka as a
    * provided dependency, `pom.xml:38-43`).
    */
  def writer(results: DataFrame, config: Config): DataStreamWriter[Row] = {
    val base = results.writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(s"${config.pollSeconds} seconds"))
    val withCp = config.checkpoint.fold(base)(cp => base.option("checkpointLocation", cp))
    config.output match {
      case "print" => withCp.format("console")
      case "memory" => withCp.format("memory").queryName("audit_sessions")
      // exactly-once file sink: the manifest-committed parquet sink is
      // the strongest guarantee of the three (Kafka stays at-least-once,
      // matching the reference's DeliveryGuarantee.AT_LEAST_ONCE)
      case "files" =>
        val path = config.outputPath.getOrElse(
          throw new IllegalArgumentException("session.output_path required for files output"))
        withCp.format("parquet").option("path", path)
      case "kafka" =>
        val topic = config.kafkaTopic.getOrElse(
          throw new IllegalArgumentException("kafka.topic required for kafka output"))
        config.kafkaOptions
          .foldLeft(withCp.format("kafka"))((w, kv) => w.option(kv._1, kv._2))
          .option("topic", topic)
      case other =>
        throw new IllegalArgumentException(s"unknown session.output: $other")
    }
  }

  /** Batch-backfill twin of [[main]]'s source wiring: a one-shot
    * reprocess of an audit tree ("rebuild sessions since min_date over
    * years of history"). Unlike the streaming path — where Spark's file
    * stream source owns the listing, so date pruning is a row filter —
    * the batch path prunes at ENUMERATION time via
    * [[graft.sources.DatePrunedFileIndex]]: below-min-date day
    * directories are never even listed, which at backfill scale is the
    * dominant saving. Feed the result to [[transform]]/[[formatted]].
    */
  def batchLines(spark: SparkSession, config: Config): DataFrame =
    config.minDate match {
      case Some(_) => AuditSource.batchPruned(spark, config.auditPath, config.minDate)
      case None => AuditSource.batch(spark, config.auditPath)
    }

  /** Full production wiring (the `App.main` analog). Blocks until
    * termination.
    */
  def main(args: Array[String]): Unit = {
    val config = Config.fromFile(args(0))
    // spark-submit injects spark.master (and any spark.sql.shuffle.partitions
    // given with --conf); default to local[*] and its core count for direct runs
    val builder = GraftSession
      .builder(sys.props.get("spark.sql.shuffle.partitions")
        .fold(Runtime.getRuntime.availableProcessors)(_.toInt))
      .appName("audit-sessions")
    val spark = sys.props.get("spark.master")
      .fold(builder.master("local[*]"))(_ => builder)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // min-date pruning happens at LISTING time on every poll (the glob
    // skips dead day dirs, matching the reference's per-poll
    // DateFileFilter); the row filter composes on top only for date
    // dirs nested deeper than the day level.
    val lines = config.minDate match {
      case Some(d) =>
        AuditSource.filterByPathDate(
          AuditSource.streamPruned(spark, config.auditPath, d), d)
      case None => AuditSource.stream(spark, config.auditPath)
    }
    val out = formatted(lines, config.gapSeconds)
    writer(out, config).start().awaitTermination()
  }
}
