package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import graft.data.BioCorpus
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 table provider for the reference's BIO corpus format
  * (`/root/reference/utils.py:27-49`) — `spark.read.format("bio")
  * .load(path)` — the remaining Spark extension axis after expressions,
  * aggregates, the optimizer rule, the planner strategy, and the
  * generator: a first-class connector with its OWN split planning and
  * column pruning. It is the one BIO reader: [[graft.data.BioCorpus.read]]
  * and `readIndexed` read through it, and blocks parse with
  * [[BioCorpus.parseBlock]].
  *
  * Scale design: [[BioScan.planInputPartitions]] slices every file into
  * `maxSplitBytes` byte ranges (one [[InputPartition]] each — a 100 TB
  * corpus fans out to byte-range tasks, not whole files), and each
  * partition reader delegates record framing to Hadoop's
  * [[LineRecordReader]] with a blank-line delimiter — the battle-tested
  * boundary logic: a reader starting mid-sentence skips forward to the
  * next delimiter and the previous range reads one record past its end,
  * so every sentence is read exactly once. Column pruning is pushed into
  * the scan ([[SupportsPushDownRequiredColumns]]): a `doc_id`-only query
  * never materializes the char/tag arrays.
  *
  * FRAMING CONTRACT (narrower than the reference's line reader): sentence
  * blocks must be separated by a strictly empty LF-delimited line
  * (`"\n\n"`). The reference's `utils.py _read_data` strips each line, so
  * a whitespace-only separator (`" \n"`) or a CRLF blank line (`"\r\n"`)
  * also ends a sentence there; here such lines do NOT split — the
  * surrounding blocks parse as one merged sentence (the stray separator
  * line itself is dropped by the ≠2-field filter). The connector is
  * reference-exact at the LINE level only; feed it LF-only files with
  * strictly empty separators (everything this connector's write side and
  * [[graft.data.BioCorpus]] produce satisfies that by construction).
  *
  * Options: `idPrefix` (doc_id = `"<prefix>-%012d" format byteOffset`,
  * default "bio"), `maxSplitBytes` (default 128 MiB).
  */
class BioDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "bio"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BioTable.Schema

  // writes validate the incoming frame against the table schema; letting
  // the frame's own schema flow through here means a (chars, tags)-only
  // frame writes without a dummy doc_id column (the format has no id
  // field — ids regenerate from byte offsets on read)
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new BioTable(schema, properties.asScala.toMap)
}

object BioTable {
  /** One row per sentence block: stable byte-offset id + parallel
    * char/tag arrays (the reference's in-memory shape, `utils.py:27-49`).
    */
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("chars", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("tags", ArrayType(StringType, containsNull = false), nullable = false)))
}

class BioTable(tableSchema: StructType, properties: Map[String, String]) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"bio(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).orElse(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException("bio source requires a path"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BioScanBuilder(
      pathOf(options),
      Option(options.get("idPrefix")).orElse(properties.get("idPrefix")).getOrElse("bio"),
      Option(options.get("maxSplitBytes")).orElse(properties.get("maxSplitBytes"))
        .map(_.toLong).getOrElse(128L * 1024 * 1024))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new BioWriteBuilder(pathOf(info.options()), info.schema(), info.queryId())
}

class BioScanBuilder(path: String, idPrefix: String, maxSplitBytes: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = BioTable.Schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = BioScan(path, idPrefix, maxSplitBytes, required)
}

case class BioInputPartition(file: String, start: Long, length: Long)
  extends InputPartition

private[sources] object BioFiles {

  /** Stable data files under `path` (a file or a directory): hidden
    * (`_`/`.`-prefixed) and zero-length entries excluded, sorted by path.
    * Driver-side callers pass the SESSION Hadoop configuration so
    * `spark.hadoop.*` settings (object-store credentials, fs.defaultFS)
    * reach the filesystem — same as every other FS touchpoint in the
    * codebase.
    */
  def list(path: String, conf: Configuration): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    val files: Seq[FileStatus] = {
      val status = fs.getFileStatus(p)
      if (status.isDirectory) fs.listStatus(p).toSeq.filter(_.isFile)
      else Seq(status)
    }
    files
      .filterNot { f =>
        val n = f.getPath.getName
        n.startsWith("_") || n.startsWith(".") || f.getLen == 0
      }
      .sortBy(_.getPath.toString)
  }

  /** Byte-range partitions of `maxSplitBytes` over each file. */
  def split(files: Seq[FileStatus], maxSplitBytes: Long): Array[InputPartition] = {
    require(maxSplitBytes > 0, "maxSplitBytes must be positive")
    files.flatMap { f =>
      (0L until f.getLen by maxSplitBytes).map { off =>
        BioInputPartition(
          f.getPath.toString, off, math.min(maxSplitBytes, f.getLen - off))
      }
    }.toArray
  }
}

case class BioScan(
    path: String,
    idPrefix: String,
    maxSplitBytes: Long,
    required: StructType)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"BioScan path=$path cols=${required.fieldNames.mkString(",")}"

  /** File-census statistics so Catalyst can PLAN with this source:
    * without them a DSv2 relation costs `spark.sql.defaultSizeInBytes`
    * (≈Long.Max) and a small BIO table on the build side of a join gets
    * a sort-merge plan instead of the broadcast it deserves. Size = sum
    * of data-file lengths (the same census the split planner reads);
    * rows = size over a measured ~500 bytes/sentence-block on the
    * reference corpus — an order-of-magnitude row estimate is all the
    * join planner needs.
    */
  // lazy: Catalyst may request relation statistics several times while
  // planning one query (join reorder/CBO) — the file census (a LIST call
  // per request on an object store) is paid once per scan instance
  private lazy val censusBytes: Long =
    BioFiles.list(path, GraftSqlBridge.activeHadoopConf()).map(_.getLen).sum

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val bytes = censusBytes
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bytes / 500L))
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    BioFiles.split(BioFiles.list(path, GraftSqlBridge.activeHadoopConf()), maxSplitBytes)

  override def createReaderFactory(): PartitionReaderFactory =
    BioReaderFactory(idPrefix, required.fieldNames.toIndexedSeq,
      GraftSqlBridge.serializableHadoopConf())

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new BioMicroBatchStream(path, idPrefix, maxSplitBytes, required)
}

/** Offset of the streaming bio source: the MAP of data-file name →
  * byte length processed so far, serialized as a sorted JSON array of
  * `["name", length]` pairs. This is the semantic content Spark's own
  * FileStreamSource tracks (its seen-files map, persisted via the
  * compacted metadata log); carrying it in the offset keeps this source
  * self-contained — at a 100 TB file census the production move is the
  * same state behind a compacting log, not a different algorithm.
  *
  * Lengths ride in the offset so a committed batch REPLAYS from offset
  * content alone: [[BioMicroBatchStream.planInputPartitions]] re-derives
  * byte-range splits without re-listing the directory, and a file that
  * vanished or shrank since the offset was written fails loudly instead
  * of being silently dropped from the replayed batch (exactly-once).
  */
case class BioOffset(files: Map[String, Long]) extends Offset {
  override def json(): String =
    files.toSeq.sortBy(_._1).map { case (f, len) =>
      "[\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"," + len + "]"
    }.mkString("[", ",", "]")
}

object BioOffset {

  /** Parse `json()` output. A character scan honoring backslash escapes,
    * NOT a delimiter split — a filename containing `","` or `",123]`
    * would fool any quote-splitting regex (caught by the hostile-filename
    * round-trip property test). The writer only escapes `\` and `"`, so
    * unescaping is "take the next char verbatim". An entry without a
    * length throws: read as zero bytes, its file would replay in a later
    * batch and break exactly-once.
    */
  def fromJson(json: String): BioOffset = {
    val out = Map.newBuilder[String, Long]
    var i = 0
    val n = json.length
    while (i < n) {
      if (json.charAt(i) == '"') {
        val sb = new StringBuilder
        i += 1
        var done = false
        while (!done && i < n) {
          json.charAt(i) match {
            case '\\' if i + 1 < n => sb.append(json.charAt(i + 1)); i += 2
            case '"' => done = true; i += 1
            case c => sb.append(c); i += 1
          }
        }
        // after the closing quote: `,<digits>]`
        val digits = i + 1
        var j = digits
        while (j < n && json.charAt(j).isDigit) j += 1
        if (i >= n || json.charAt(i) != ',' || j == digits || j >= n || json.charAt(j) != ']')
          throw new IllegalArgumentException(
            s"bio stream offset entry \"$sb\" has no byte length")
        out += sb.toString -> json.substring(digits, j).toLong
        i = j // leave the ']' to the outer scan
      } else i += 1
    }
    BioOffset(out.result())
  }
}

/** Micro-batch streaming read: each batch is the set of files that
  * appeared since the last committed offset (file-arrival semantics, the
  * same contract as Spark's file stream source), split into the same
  * byte-range partitions as the batch scan — a newly landed 10 GB BIO
  * dump fans out across the cluster instead of pinning one task. Files
  * are assumed immutable once visible (the write side's temp-then-rename
  * protocol guarantees exactly that for connector-written data).
  */
class BioMicroBatchStream(
    path: String,
    idPrefix: String,
    maxSplitBytes: Long,
    required: StructType) extends MicroBatchStream {

  override def initialOffset(): Offset = BioOffset(Map.empty)

  override def latestOffset(): Offset =
    BioOffset(BioFiles.list(path, GraftSqlBridge.activeHadoopConf())
      .map(f => f.getPath.toString -> f.getLen).toMap)

  override def deserializeOffset(json: String): Offset = BioOffset.fromJson(json)

  /** The batch is (end − start) BY OFFSET CONTENT: splits derive from the
    * (name, length) pairs recorded in the end offset, never from a live
    * directory listing, so a committed batch replayed after restart plans
    * the exact same partitions. A directory listing is consulted only to
    * VALIDATE: a fresh file that is absent or shorter than its recorded
    * length (e.g. deleted by a truncate overwrite since the offset was
    * written) fails the replay loudly — silently skipping it would break
    * the exactly-once contract.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[BioOffset].files.keySet
    val now = end.asInstanceOf[BioOffset].files
    val fresh = now.filter { case (n, _) => !seen.contains(n) }
    if (fresh.isEmpty) return Array.empty
    val listed = BioFiles.list(path, GraftSqlBridge.activeHadoopConf())
      .map(f => f.getPath.toString -> f.getLen).toMap
    fresh.toSeq.sortBy(_._1).flatMap { case (name, len) =>
      val currentLen = listed.get(name)
      if (currentLen.forall(_ < len)) throw new IllegalStateException(
        s"bio stream replay: file $name recorded at $len bytes in the " +
          s"committed offset is ${currentLen.fold("absent")(l => s"now $l bytes")} — " +
          "cannot replay the batch exactly-once")
      (0L until len by maxSplitBytes).map { off =>
        BioInputPartition(name, off, math.min(maxSplitBytes, len - off))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    BioReaderFactory(idPrefix, required.fieldNames.toIndexedSeq,
      GraftSqlBridge.serializableHadoopConf())

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

case class BioReaderFactory(
    idPrefix: String,
    fields: IndexedSeq[String],
    conf: java.io.Serializable)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val bp = partition.asInstanceOf[BioInputPartition]
    new BioPartitionReader(bp, idPrefix, fields, GraftSqlBridge.unwrapHadoopConf(conf))
  }
}

/** Reads one byte range of one BIO file. Record framing (blank-line
  * delimiter, split-boundary skip/read-over) is Hadoop's
  * [[LineRecordReader]]; this class only parses blocks (shared
  * [[BioCorpus.parseBlock]] — reference-exact line semantics) and builds
  * pruned [[InternalRow]]s. Blocks that parse to zero pairs (all-blank /
  * all-malformed) are skipped.
  */
class BioPartitionReader(
    partition: BioInputPartition,
    idPrefix: String,
    fields: IndexedSeq[String],
    conf: Configuration) extends PartitionReader[InternalRow] {

  private val reader = new LineRecordReader("\n\n".getBytes("UTF-8"))
  locally {
    val split = new FileSplit(
      new Path(partition.file), partition.start, partition.length, Array.empty[String])
    reader.initialize(split, new TaskAttemptContextImpl(conf, new TaskAttemptID()))
  }

  private var row: InternalRow = _

  override def next(): Boolean = {
    row = null
    while (row == null && reader.nextKeyValue()) {
      val off = reader.getCurrentKey.get()
      val (chars, tags) = BioCorpus.parseBlock(reader.getCurrentValue.toString)
      if (chars.nonEmpty) {
        row = InternalRow.fromSeq(fields.map {
          case "doc_id" => UTF8String.fromString(f"$idPrefix-$off%012d")
          case "chars" => ArrayData.toArrayData(chars.map(UTF8String.fromString).toArray)
          case "tags" => ArrayData.toArrayData(tags.map(UTF8String.fromString).toArray)
          case other => throw new IllegalArgumentException(s"unknown bio column: $other")
        })
      }
    }
    row != null
  }

  override def get(): InternalRow = row

  override def close(): Unit = reader.close()
}

/** Write side of the connector (S7, the BIO sink, as a first-class
  * DSv2 write path): each task streams its partition's sentences into
  * one `part-%05d` file as blank-line-delimited `char<sp>tag` blocks —
  * byte-compatible with the read side and with the reference's dump
  * format. The input frame must carry `chars` and `tags` array columns
  * (any extra columns, e.g. `doc_id`, are ignored — the format has no
  * id field; ids regenerate from byte offsets on read).
  *
  * Commit protocol: tasks write to dot-prefixed temp names (invisible to
  * the read side's hidden-file filter) and rename to the canonical part
  * name on task commit, refusing an already-installed target — the
  * fencing discipline of `tables/Icebergish`: of two racing attempts,
  * one installs its file and the other fails visibly. Overwrite
  * (truncate) is NON-destructive until job commit: new parts carry
  * queryId-unique names, the pre-existing data files are deleted only
  * inside `commit()` (then `_SUCCESS` is dropped), so a failed overwrite
  * leaves the old dataset intact. Job abort removes THIS job's installed
  * part files (from the task commit messages) and its queryId-scoped
  * temps — other jobs' in-flight files are untouched.
  */
class BioWriteBuilder(path: String, schema: StructType, queryId: String)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = BioBatchWrite(path, schema, queryId, doTruncate)
  }
}

case class BioTaskCommit(file: String) extends WriterCommitMessage

case class BioBatchWrite(path: String, schema: StructType, queryId: String, truncate: Boolean)
    extends BatchWrite {

  // data files present before this job started — deleted at job COMMIT
  // in truncate mode (never earlier, so a failed overwrite keeps them)
  @volatile private var preExisting: Seq[Path] = Seq.empty

  private def requiredIdx(name: String): Int = {
    val i = schema.fieldIndex(name)
    schema(i).dataType match {
      case ArrayType(StringType, _) => i
      case other => throw new IllegalArgumentException(
        s"bio write column '$name' must be array<string>, got $other")
    }
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val charsIdx = requiredIdx("chars")
    val tagsIdx = requiredIdx("tags")
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, GraftSqlBridge.activeHadoopConf())
    fs.mkdirs(p)
    if (truncate) preExisting = BioFiles.list(path, GraftSqlBridge.activeHadoopConf())
      .map(_.getPath)
    BioWriterFactory(path, queryId, charsIdx, tagsIdx,
      GraftSqlBridge.serializableHadoopConf())
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(path, "_SUCCESS")
    val fs = FileSystem.get(p.toUri, GraftSqlBridge.activeHadoopConf())
    if (truncate) preExisting.foreach(f => fs.delete(f, false))
    fs.create(p, true).close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, GraftSqlBridge.activeHadoopConf())
    if (fs.exists(p)) {
      // roll back THIS job's installed parts (committed tasks of the
      // failed job, named in the commit messages) ...
      messages.collect { case BioTaskCommit(f) => new Path(f) }
        .foreach(f => fs.delete(f, false))
      // ... plus any zombie-committed part — a task that renamed its temp
      // to the final name but died before its commit message reached the
      // driver is invisible to `messages`, yet its part carries this
      // job's queryId in the canonical name, so a name sweep catches it
      // (a failed overwrite must leave ONLY the old dataset visible) ...
      fs.listStatus(p)
        .filter { f =>
          val n = f.getPath.getName
          n.startsWith(s"part-$queryId-") && n.endsWith(".bio")
        }
        .foreach(f => fs.delete(f.getPath, false))
      // ... and sweep this job's temps only — a concurrent job's
      // in-flight temps carry a different queryId and are untouched
      fs.listStatus(p)
        .filter(_.getPath.getName.startsWith(s".bio-tmp-$queryId"))
        .foreach(f => fs.delete(f.getPath, false))
    }
  }
}

case class BioWriterFactory(
    path: String,
    queryId: String,
    charsIdx: Int,
    tagsIdx: Int,
    conf: java.io.Serializable)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new BioDataWriter(path, queryId, partitionId, taskId, charsIdx, tagsIdx,
      GraftSqlBridge.unwrapHadoopConf(conf))
}

class BioDataWriter(
    path: String,
    queryId: String,
    partitionId: Int,
    taskId: Long,
    charsIdx: Int,
    tagsIdx: Int,
    conf: Configuration) extends DataWriter[InternalRow] {

  private val fs = FileSystem.get(new Path(path).toUri, conf)
  private val tmpPath = new Path(path, f".bio-tmp-$queryId-$partitionId%05d-$taskId")
  // queryId (job-unique) in the canonical name: appends from separate
  // jobs never collide, while racing attempts of ONE partition in one
  // job still contend on the same target (the fence below)
  private val finalPath = new Path(path, f"part-$queryId-$partitionId%05d.bio")
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(fs.create(tmpPath, true), "UTF-8"), 1 << 16)

  /** A written token must survive the read side's `(?U)\s+` field split
    * unchanged: null or whitespace-containing tokens would silently
    * corrupt block framing (the line parses to ≠2 fields and is dropped),
    * so they are rejected loudly here instead.
    */
  private def checkToken(s: UTF8String, what: String): String = {
    require(s != null, s"bio write: null $what element")
    val t = s.toString
    require(t.nonEmpty && !BioDataWriter.Ws.matcher(t).find(),
      s"bio write: $what token ${if (t.isEmpty) "is empty" else s"'$t' contains whitespace"}" +
        " — it would not survive the BIO line format's field split")
    t
  }

  override def write(record: InternalRow): Unit = {
    val chars = record.getArray(charsIdx)
    val tags = record.getArray(tagsIdx)
    require(chars != null && tags != null, "bio write: null chars/tags array")
    require(chars.numElements() == tags.numElements(),
      s"chars/tags length mismatch: ${chars.numElements()} vs ${tags.numElements()}")
    var i = 0
    val n = chars.numElements()
    while (i < n) {
      out.write(checkToken(chars.getUTF8String(i), "chars"))
      out.write(' ')
      out.write(checkToken(tags.getUTF8String(i), "tags"))
      out.write('\n')
      i += 1
    }
    if (n > 0) out.write('\n') // blank line closes the sentence block
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    // install via rename: atomic no-overwrite on HDFS-like filesystems;
    // the local FS follows POSIX rename (overwrites), so an explicit
    // exists check fences the common case there — of two racing
    // attempts, one surfaces the failure instead of clobbering
    if (fs.exists(finalPath) || !fs.rename(tmpPath, finalPath)) {
      fs.delete(tmpPath, false)
      throw new java.io.IOException(
        s"bio write: another attempt already committed $finalPath")
    }
    BioTaskCommit(finalPath.toString)
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(tmpPath, false)
  }

  override def close(): Unit = ()
}

object BioDataWriter {
  /** Same unicode whitespace class as `BioCorpus.parseBlock`'s splitter. */
  private val Ws = java.util.regex.Pattern.compile("(?U)\\s")
}
