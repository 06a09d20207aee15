package graft.streaming

import java.io.{BufferedOutputStream, IOException, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write,
  WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The partitioned JSONL streaming sink behind [[Sinks.jsonl]] (which
  * states its layout and replay contract): the reference's
  * one-file-per-key writer (reference/src/sinks/jsonl.py) with Structured
  * Streaming's per-epoch idempotence, and none of the general file sink's
  * per-batch fixed cost (metadata log and its compaction, Hadoop
  * `Configuration` shipping, `.crc` sidecars, per-task partition-path
  * codegen).
  *
  * Input rows are `(key_1 … key_n, line)`, all strings. Directory names
  * come from `ExternalCatalogUtils.getPartitionPathString`, as Spark's
  * `partitionBy` names them (NULL or empty → `__HIVE_DEFAULT_PARTITION__`),
  * so `spark.read.text(root)` discovers the same partition values. The
  * stable query id in the file names keeps a run with a fresh checkpoint,
  * whose epochs restart at 0, from overwriting an earlier run's files in
  * the same root.
  */
class JsonlSinkProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new JsonlTable(JsonlSink.localRoot(properties.get("path")))
}

class JsonlTable(root: Path) extends Table with SupportsWrite {
  override def name(): String = s"jsonl:$root"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new Write {
      override def toStreaming: StreamingWrite = new JsonlStreamingWrite(root, info.schema, info.queryId)
    }
  }
}

object JsonlSink {
  /** Epoch records live here, one directory per query id. */
  val LogDir = "_graft_jsonl"

  private[streaming] val BufferBytes = 1 << 15

  /** A root given as a plain or `file:` path, made absolute. */
  def localRoot(path: String): Path = {
    require(path != null, "the JSONL sink needs a path")
    val uri = new HadoopPath(path).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"the JSONL sink writes local paths only: $path")
    Paths.get(uri.getPath).toAbsolutePath
  }

  /** A staged file and the name the epoch commit gives it, both relative
    * to the root. */
  final case class Staged(staged: String, committed: String)
  final case class TaskFiles(files: Array[Staged]) extends WriterCommitMessage
}

class JsonlStreamingWrite(root: Path, schema: StructType, queryId: String) extends StreamingWrite {
  import JsonlSink._

  require(schema.nonEmpty && schema.forall(_.dataType == StringType),
    s"the JSONL sink takes string partition keys and a string line, not $schema")
  private val keys = schema.fieldNames.init
  private val records = root.resolve(LogDir).resolve(queryId)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    JsonlWriterFactory(root.toString, keys, queryId)

  /** Each task attempt stages under its own names and only successful
    * attempts report files, so the driver needs no commit arbitration. */
  override def useCommitCoordinator(): Boolean = false

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq.flatMap { case TaskFiles(fs) => fs.toSeq }
    Files.createDirectories(records)
    val record = records.resolve(epochId.toString)
    if (Files.exists(record)) readRecord(record).foreach { f =>
      Files.deleteIfExists(root.resolve(f.staged))
      Files.deleteIfExists(root.resolve(f.committed))
    }
    writeRecord(record, files)
    files.foreach { f =>
      Files.move(root.resolve(f.staged), root.resolve(f.committed),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    }
    val stale = Files.list(records)
    try stale.iterator().asScala.toList.foreach { p =>
      p.getFileName.toString.toLongOption.filter(_ < epochId - 1).foreach(_ => Files.deleteIfExists(p))
    } finally stale.close()
  }

  /** The record of an epoch's files: one `staged\tcommitted` line each
    * (escaped partition paths hold no control characters). */
  private def readRecord(record: Path): Seq[Staged] =
    Files.readAllLines(record, UTF_8).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val Array(s, c) = l.split("\t", 2)
      Staged(s, c)
    }

  private def writeRecord(record: Path, files: Seq[Staged]): Unit = {
    val tmp = record.resolveSibling(s".${record.getFileName}.tmp")
    Files.write(tmp, files.map(f => s"${f.staged}\t${f.committed}").asJava, UTF_8)
    Files.move(tmp, record, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case TaskFiles(fs) => fs.foreach(f => Files.deleteIfExists(root.resolve(f.staged)))
      case _ => // a task that failed deleted its own files
    }
}

final case class JsonlWriterFactory(root: String, keys: Array[String], queryId: String)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new JsonlDataWriter(Paths.get(root), keys, f"part-$epochId%05d-$partitionId%05d-$queryId.jsonl")
}

/** One task's files: one open stream per partition directory. */
class JsonlDataWriter(root: Path, keys: Array[String], fileName: String) extends DataWriter[InternalRow] {
  import JsonlSink._

  /** Tells this attempt's staged files from any other attempt's,
    * including an earlier run's attempt at the same epoch. */
  private val stage = s".$fileName.${UUID.randomUUID()}"
  private val outs = new util.HashMap[KeyTuple, Out]()
  private val dirs = new util.LinkedHashMap[String, Out]()
  private var closed = false

  private final class Out(dir: String) {
    Files.createDirectories(root.resolve(dir))
    val file = Staged(s"$dir/$stage", s"$dir/$fileName")
    val stream: OutputStream = new BufferedOutputStream(Files.newOutputStream(root.resolve(file.staged),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), BufferBytes)
  }

  override def write(row: InternalRow): Unit = {
    val n = keys.length
    val values = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (!row.isNullAt(i)) values(i) = row.getUTF8String(i)
      i += 1
    }
    var out = outs.get(new KeyTuple(values))
    if (out == null) {
      // NULL and "" share a directory, so two key tuples can share a file
      val dir = keys.indices.map(j => ExternalCatalogUtils.getPartitionPathString(
        keys(j), Option(values(j)).map(_.toString).orNull)).mkString("/")
      out = dirs.computeIfAbsent(dir, new Out(_))
      // the row's strings point into a reused buffer: the map keeps copies
      outs.put(new KeyTuple(values.map(v => if (v == null) null else v.clone())), out)
    }
    if (!row.isNullAt(n)) row.getUTF8String(n).writeTo(out.stream)
    out.stream.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    close()
    TaskFiles(dirs.values.asScala.map(_.file).toArray)
  }

  override def abort(): Unit = {
    try close() catch { case _: IOException => }
    dirs.values.asScala.foreach(o => Files.deleteIfExists(root.resolve(o.file.staged)))
  }

  override def close(): Unit = if (!closed) {
    closed = true
    var failure: IOException = null
    dirs.values.asScala.foreach { o =>
      try o.stream.close() catch { case e: IOException => if (failure == null) failure = e }
    }
    if (failure != null) throw failure
  }
}

/** A row's partition-key values, compared by content (NULL-safe). */
final class KeyTuple(val values: Array[UTF8String]) {
  override val hashCode: Int = util.Arrays.hashCode(values.asInstanceOf[Array[AnyRef]])
  override def equals(o: Any): Boolean = o match {
    case k: KeyTuple => util.Arrays.equals(values.asInstanceOf[Array[AnyRef]], k.values.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
}
