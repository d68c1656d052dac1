package graft.sources

import java.io.Closeable

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.hadoop.fs.Options.OpenFileOptions.{FS_OPTION_OPENFILE_SPLIT_END, FS_OPTION_OPENFILE_SPLIT_START}
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{JobID, MRJobConfig, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, UncompressedSplitLineReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.util.functional.FutureIO
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.execution.datasources.{HadoopLineRecordReader, PartitionedFile, RecordReaderIterator}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The one reader of audit files: Spark's `text` rows (one `value` per
  * line, byte for byte), with Hadoop's reader set up once per task
  * instead of once per file. [[AuditSource]]'s batch reads, its pruned
  * batch read and every micro-batch of its file stream go through it.
  *
  * Spark's `text` reader builds a `HadoopFileLinesReader` per file, and
  * before reading a byte that copies the whole Hadoop conf into a new
  * `JobConf`, scans every property twice more for the
  * `mapreduce.job.input.file.{option,must}.*` open options and builds a
  * `CompressionCodecFactory`. On a tree of many small hourly files that
  * setup is most of the scan. Here a task does it once, on its first
  * file; each file then costs an `openFile` (with the split's start and
  * end and those options, as Spark passes them: S3A's read policy uses
  * them), a codec lookup by name and Hadoop's
  * `UncompressedSplitLineReader`, read in `LineRecordReader`'s loop:
  *
  *   - a split that does not start at 0 skips its first (partial) line,
  *     and every split reads past its end to finish its last line;
  *   - a UTF-8 BOM at offset 0 is stripped;
  *   - lines end at LF, CRLF or CR;
  *   - a line longer than `mapreduce.input.linerecordreader.line.maxlength`
  *     is skipped;
  *   - a file closes at its end (and at task end if a reader stops early).
  *
  * A file whose name Spark decodes (a Hadoop codec's extension, or
  * Spark's own `.zst`/`.zstd`/`.gzip`) is read by Spark's
  * `HadoopLineRecordReader` on the task's shared context, so compressed
  * input keeps Spark's exact behaviour. `input_file_name()` is set by
  * Spark's file scan, not by the reader, and is unchanged.
  *
  * A file stream over this format needs an explicit `value STRING`
  * schema: Spark exempts only its own `TextFileFormat` class from the
  * streaming schema requirement.
  */
private[sources] class AuditLines extends TextFileFormat {

  override def shortName(): String = "auditlines"

  override def toString: String = "AuditLines"

  override def buildReader(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration
  ): PartitionedFile => Iterator[InternalRow] =
    new AuditLines.Reader(
      ColumnBridge.broadcastConf(sparkSession.sparkContext, hadoopConf), requiredSchema.nonEmpty)
}

private[sources] object AuditLines {

  /** Names Spark's `HadoopCodecStreams` decodes without a Hadoop codec
    * of that extension.
    */
  private val SparkCodecSuffixes = Seq(".zst", ".zstd", ".gzip")

  /** The per-file read function a scan ships to its tasks. Each task
    * deserializes its own copy, so [[task]] is built once per task.
    */
  private final class Reader(conf: Broadcast[SerializableConfiguration], readsValue: Boolean)
      extends (PartitionedFile => Iterator[InternalRow]) with Serializable {

    @transient private lazy val task = new TaskReader(conf.value.value)

    def apply(file: PartitionedFile): Iterator[InternalRow] = {
      val lines = task.open(file)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
      if (!readsValue) {
        val empty = new UnsafeRow(0)
        lines.map(_ => empty)
      } else {
        val writer = new UnsafeRowWriter(1)
        lines.map { line =>
          writer.reset()
          writer.write(0, line.getBytes, 0, line.getLength)
          writer.getRow
        }
      }
    }
  }

  /** What Spark's reader builds per file, built once: the task's
    * `JobConf` and task context, its codec factory, its open options and
    * its line length limit.
    */
  private final class TaskReader(shared: Configuration) {
    private val jobConf = new JobConf(shared)
    private val context = new TaskAttemptContextImpl(
      jobConf, new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
    private val codecs = new CompressionCodecFactory(jobConf)
    private val optional = jobConf.getPropsWithPrefix(MRJobConfig.INPUT_FILE_OPTION_PREFIX).asScala.toSeq
    private val mandatory = jobConf.getPropsWithPrefix(MRJobConfig.INPUT_FILE_MANDATORY_PREFIX).asScala.toSeq
    private val maxLineLength = jobConf.getInt(HadoopLineRecordReader.MAX_LINE_LENGTH, Int.MaxValue)

    def open(file: PartitionedFile): Iterator[Text] with Closeable = {
      val path = file.toPath
      val name = path.getName.toLowerCase(java.util.Locale.ROOT)
      if (codecs.getCodec(path) == null && !SparkCodecSuffixes.exists(name.endsWith))
        new SplitLines(path, file.start, file.length)
      else {
        val reader = new HadoopLineRecordReader()
        reader.initialize(new FileSplit(path, file.start, file.length, Array.empty[String]), context)
        new RecordReaderIterator(reader)
      }
    }

    /** `LineRecordReader` over one uncompressed split, iterated as
      * `RecordReaderIterator` does: the `Text` it returns is reused.
      */
    private final class SplitLines(path: Path, start: Long, length: Long)
        extends Iterator[Text] with Closeable {
      private val end = start + length
      private val fileIn: FSDataInputStream = {
        val builder = path.getFileSystem(jobConf).openFile(path)
        builder.optLong(FS_OPTION_OPENFILE_SPLIT_START, start)
        builder.optLong(FS_OPTION_OPENFILE_SPLIT_END, end)
        optional.foreach { case (k, v) => builder.opt(k, v) }
        mandatory.foreach { case (k, v) => builder.must(k, v) }
        FutureIO.awaitFuture(builder.build())
      }
      private var pos = 0L
      private val in =
        try {
          fileIn.seek(start)
          val in = new UncompressedSplitLineReader(fileIn, jobConf, null, length)
          // the line this split starts inside belongs to the previous split
          if (start != 0) pos = start + in.readLine(new Text(), 0, maxBytesToConsume(start))
          in
        } catch { case e: Throwable => fileIn.close(); throw e }
      private val value = new Text()
      private var havePair = false
      private var finished = false
      private var closed = false

      private def maxBytesToConsume(at: Long): Int =
        math.max(math.min(Int.MaxValue.toLong, end - at), maxLineLength.toLong).toInt

      private def inSplit: Boolean = pos <= end || in.needAdditionalRecordAfterSplit()

      /** The first line, without a UTF-8 BOM; the size counts the BOM's
        * bytes only toward `pos`.
        */
      private def firstLineWithoutBom(): Int = {
        var size = in.readLine(value, math.min(3L + maxLineLength, Int.MaxValue.toLong).toInt,
          maxBytesToConsume(pos))
        pos += size
        val bytes = value.getBytes
        if (value.getLength >= 3 && bytes(0) == 0xEF.toByte && bytes(1) == 0xBB.toByte &&
            bytes(2) == 0xBF.toByte) {
          size -= 3
          if (value.getLength > 3) value.set(value.copyBytes(), 3, value.getLength - 3)
          else value.clear()
        }
        size
      }

      /** `LineRecordReader.nextKeyValue`: the next line of the split,
        * skipping lines longer than the limit.
        */
      private def nextLine(): Boolean = {
        var size = 0
        var again = inSplit
        while (again) {
          if (pos == 0) size = firstLineWithoutBom()
          else {
            size = in.readLine(value, maxLineLength, maxBytesToConsume(pos))
            pos += size
          }
          again = size != 0 && size >= maxLineLength && inSplit
        }
        size != 0
      }

      override def hasNext: Boolean = {
        if (!finished && !havePair) {
          finished = !nextLine()
          if (finished) close()
          havePair = !finished
        }
        !finished
      }

      override def next(): Text = {
        if (!hasNext) throw new NoSuchElementException(s"end of split: $path")
        havePair = false
        value
      }

      override def close(): Unit =
        if (!closed) {
          closed = true
          in.close()
        }
    }
  }
}
