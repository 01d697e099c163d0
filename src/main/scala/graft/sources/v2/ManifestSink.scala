package graft.sources.v2

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util
import java.util.Locale

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 SINK with the full two-phase commit protocol — the
  * transactional-batch seat of the reference's S3/RDS workers
  * (`rdsworker.py:38-141` wraps each page in a DB transaction;
  * `s3worker.py` one object per record): every task writes its partition
  * to a TEMP file, task `commit()` hands the driver a commit message, and
  * only the driver's job-level `commit()` renames temps into place and
  * writes the `_MANIFEST.tsv` naming exactly the committed files — a
  * reader that trusts the manifest never sees a torn job. Task `abort()`
  * deletes its temp; job `abort()` sweeps the temp dir; Spark's commit
  * coordinator (on by default for batch writes) guarantees one committed
  * attempt per partition, so speculative retries cannot double-write.
  *
  * One protocol serves every file-backed sink of the reference: the kafka
  * and rds shapes write here directly, and [[graft.sinks.Sinks]]' S3,
  * JSON-lines and single-JSON-file writers commit through it too. The
  * `codec` writer option picks the file layout ([[ManifestCodec]]): `tsv`
  * (the default; atomic types, tab/newline/backslash escaped, null `\N`,
  * files `part-<n>.tsv`) or `lines` (one string column written raw plus
  * `\n`, a null as an empty line — Spark's text writer's layout; files
  * `part-<n>.txt`). A task that writes no rows commits no file, so the
  * manifest names only files that hold rows. Overwrite (truncate) replaces
  * every file the directory held, whoever wrote it. The sink writes with
  * java.nio to the local filesystem: a path with a URI scheme other than
  * `file` is rejected. The codecs are deliberately boring because the
  * PROTOCOL is the artifact: a JDBC/Kafka binding replaces the file IO in
  * [[ManifestDataWriter]] with a transaction/producer and keeps every
  * commit hook as-is.
  */
class ManifestSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-manifest"
  override def supportsExternalMetadata(): Boolean = true
  // write-only source: reads go through spark.read.csv over the files
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType(Nil)
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new ManifestTable(opts.get("path"), schema)
  }
}

class ManifestTable(path: String, writeSchema: StructType)
  extends Table with SupportsWrite {
  require(path != null && path.nonEmpty, "graft-manifest needs option 'path'")
  private val dir = ManifestTable.localDir(path)
  override def name(): String = s"graft_manifest($path)"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = {
        val codec = Option(info.options().get("codec"))
          .map(_.toLowerCase(Locale.ROOT)).getOrElse(ManifestCodec.Tsv)
        ManifestCodec(codec, info.schema()) // fails an unusable codec here
        new Write {
          override def toBatch: BatchWrite =
            new ManifestBatchWrite(dir, info.schema(), doTruncate, codec)
          override def toStreaming: streaming.StreamingWrite =
            new ManifestStreamingWrite(dir, info.schema(), codec)
        }
      }
    }
}

object ManifestTable {
  /** The local directory `path` names: a plain path or a `file:` URI.
    * Any other scheme throws, because the sink writes with java.nio and
    * `Paths.get("s3a://b/x")` would quietly make a local dir named `s3a:`. */
  def localDir(path: String): String = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    Option(uri.getScheme) match {
      case None => path
      case Some(s) if s.equalsIgnoreCase("file") => uri.getPath
      case Some(s) => throw new IllegalArgumentException(
        s"graft-manifest writes to the local filesystem only: path $path has scheme $s")
    }
  }
}

/** A file layout of the manifest sink, chosen by the `codec` writer
  * option. Built on each executor from its name and the write schema. */
sealed trait ManifestCodec {
  /** The extension of the committed `part-<n>` files. */
  def extension: String
  def write(row: InternalRow, out: OutputStream): Unit
}

object ManifestCodec {
  val Tsv = "tsv"
  val Lines = "lines"

  def apply(name: String, schema: StructType): ManifestCodec = name match {
    case Tsv => new TsvCodec(schema)
    case Lines =>
      require(schema.fields.length == 1 && schema.fields(0).dataType == StringType,
        s"graft-manifest codec 'lines' writes one string column, got ${schema.simpleString}")
      LinesCodec
    case other => throw new IllegalArgumentException(
      s"graft-manifest codec must be '$Tsv' or '$Lines', got '$other'")
  }

  /** Atomic types; tab/newline/backslash escaped; null as `\N`. */
  private final class TsvCodec(schema: StructType) extends ManifestCodec {
    val extension = ".tsv"

    private def esc(s: String): String = s
      .replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")

    private val cells: Array[(InternalRow, Int) => String] =
      schema.fields.map { f =>
        f.dataType match {
          case LongType => (r: InternalRow, i: Int) => r.getLong(i).toString
          case IntegerType => (r: InternalRow, i: Int) => r.getInt(i).toString
          case DoubleType => (r: InternalRow, i: Int) => r.getDouble(i).toString
          case BooleanType => (r: InternalRow, i: Int) => r.getBoolean(i).toString
          case StringType => (r: InternalRow, i: Int) => esc(r.getUTF8String(i).toString)
          case dt => throw new IllegalArgumentException(
            s"graft-manifest sink handles atomic types, got $dt for ${f.name}")
        }
      }

    def write(row: InternalRow, out: OutputStream): Unit = {
      val line = cells.indices.map(i =>
        if (row.isNullAt(i)) "\\N" else cells(i)(row, i)).mkString("\t")
      out.write(line.getBytes(StandardCharsets.UTF_8))
      out.write('\n')
    }
  }

  /** One string column, its UTF-8 bytes as is plus `\n`; null is an empty
    * line. */
  private object LinesCodec extends ManifestCodec {
    val extension = ".txt"
    def write(row: InternalRow, out: OutputStream): Unit = {
      if (!row.isNullAt(0)) row.getUTF8String(0).writeTo(out)
      out.write('\n')
    }
  }
}

/** Streaming flavor of the manifest protocol: one manifest PER EPOCH
  * (`_MANIFEST-<epoch>.tsv`), committed atomically after the epoch's
  * files land. Replayed epochs (restart from checkpoint re-running the
  * last uncommitted batch) are IDEMPOTENT: an existing epoch manifest
  * short-circuits the commit and the replay's temps are swept — the
  * batchId-keyed exactly-once discipline `idempotentBatchWriter` applies
  * to foreachBatch, here at the native sink layer. */
class ManifestStreamingWrite(path: String, schema: StructType,
    codec: String = ManifestCodec.Tsv) extends streaming.StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory = {
    Files.createDirectories(Paths.get(path, "_tmp"))
    new ManifestStreamingWriterFactory(path, schema, codec)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val manifest = s"_MANIFEST-$epochId.tsv"
    if (Files.exists(Paths.get(path, manifest))) {
      // replayed epoch: already committed once — drop the replay's temps
      FileCommit.deleteTemps(messages)
    } else FileCommit.land(path, messages, manifest)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    FileCommit.deleteTemps(messages)
}

class ManifestStreamingWriterFactory(path: String, schema: StructType,
    codec: String) extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new ManifestDataWriter(path, schema, partitionId, taskId,
      epochPrefix = s"epoch-$epochId-", codec = codec)
}

/** A task's committed temp file: `rows` rows, to land as `finalName`. A
  * task that wrote no rows commits [[NoFile]] instead. */
case class FileCommit(tempPath: String, finalName: String, rows: Long)
  extends WriterCommitMessage

case object NoFile extends WriterCommitMessage

object FileCommit {
  /** The driver's half of a commit: rename every task's temp into `dir`,
    * then write `manifest` naming exactly those files and their rows. */
  def land(dir: String, messages: Array[WriterCommitMessage],
      manifest: String): Unit = {
    val lines = files(messages).sortBy(_.finalName).map { m =>
      Files.move(Paths.get(m.tempPath), Paths.get(dir, m.finalName),
        StandardCopyOption.ATOMIC_MOVE)
      s"${m.finalName}\t${m.rows}"
    }
    Files.write(Paths.get(dir, manifest),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  def deleteTemps(messages: Array[WriterCommitMessage]): Unit =
    files(messages).foreach(m => Files.deleteIfExists(Paths.get(m.tempPath)))

  // a failed task's slot in `messages` is null
  private def files(messages: Array[WriterCommitMessage]): Array[FileCommit] =
    messages.collect { case m: FileCommit => m }
}

class ManifestBatchWrite(path: String, schema: StructType,
    truncate: Boolean, codec: String = ManifestCodec.Tsv) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(Paths.get(path, "_tmp"))
    new ManifestWriterFactory(path, schema, codec)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    if (truncate) {
      // overwrite: every file the previous write left (its part files and
      // manifest, or a Hadoop writer's _SUCCESS and .crc files) goes
      val old = Files.list(Paths.get(path))
      try old.iterator().forEachRemaining(p =>
        if (Files.isRegularFile(p)) Files.delete(p))
      finally old.close()
    }
    FileCommit.land(path, messages, "_MANIFEST.tsv")
    sweepTmp()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = sweepTmp()

  private def sweepTmp(): Unit = {
    val tmp = Paths.get(path, "_tmp")
    if (Files.exists(tmp)) {
      val it = Files.list(tmp).iterator()
      while (it.hasNext) Files.deleteIfExists(it.next())
      Files.deleteIfExists(tmp)
    }
  }
}

class ManifestWriterFactory(path: String, schema: StructType, codec: String)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new ManifestDataWriter(path, schema, partitionId, taskId, codec = codec)
}

/** One task's writer: rows go to a temp file under `<path>/_tmp`, opened
  * on the first row, so a task without rows leaves no file. */
class ManifestDataWriter(path: String, schema: StructType,
    partitionId: Int, taskId: Long, epochPrefix: String = "",
    codec: String = ManifestCodec.Tsv)
  extends DataWriter[InternalRow] {

  private val layout = ManifestCodec(codec, schema)
  private val tempPath = Paths.get(path, "_tmp",
    s"${epochPrefix}part-$partitionId-attempt-$taskId${layout.extension}")
  private var out: OutputStream = _
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    if (out == null) out = new BufferedOutputStream(Files.newOutputStream(tempPath))
    layout.write(row, out)
    rows += 1
  }

  override def commit(): WriterCommitMessage =
    if (out == null) NoFile
    else {
      out.close()
      FileCommit(tempPath.toString,
        f"${epochPrefix}part-$partitionId%05d${layout.extension}", rows)
    }

  override def abort(): Unit = {
    if (out != null) out.close()
    Files.deleteIfExists(tempPath)
  }

  override def close(): Unit = ()
}
