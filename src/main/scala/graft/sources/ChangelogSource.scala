package graft.sources

import java.util.{Map => JMap}
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{EqualTo, Filter, IsNotNull}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for the reference's wire format: one JSON
  * `DatabaseEvent` envelope per line (`{"id":..,"seq":..,"op":..,
  * "table":..,"payload":{..}}` — the shape the reference produces at
  * `utils.go:67-90` and ships through Kafka). This is the faithful O1/O8
  * rendering SURVEY §2.1 marks optional: a first-class connector, so
  * `spark.read.format("changelog").load(dir)` (short name via
  * DataSourceRegister; the full class name also works) plans through the
  * same DSv2 machinery as any production source.
  *
  * Scale features a 100 TB source needs, implemented:
  *  - byte-range splits: one InputPartition per `maxSplitBytes` range with
  *    Hadoop line-boundary semantics (a non-zero-offset range discards its
  *    first partial line; every range reads through the end of the last
  *    line that STARTS inside it) — a 10 GB envelope file becomes ~80
  *    parallel tasks, not one;
  *  - recursive listing (`fs.listFiles(_, true)`) so date-bucketed
  *    `dt=…/part-…` layouts are picked up, skipping `_`/`.` metadata at
  *    any depth;
  *  - compressed envelopes (.gz etc.) via the Hadoop codec factory —
  *    detected by extension, read whole-file (codecs aren't splittable
  *    here), never mis-parsed as text;
  *  - column pruning (`SupportsPushDownRequiredColumns`): un-projected
  *    envelope fields are never materialized per row;
  *  - filter pushdown (`SupportsPushDownFilters`) for the op/table equality
  *    dispatch predicates (O5/O10): rows are dropped inside the reader,
  *    before Spark sees them;
  *  - MICRO_BATCH_READ: the same scan is a Structured Streaming source
  *    ([[ChangelogMicroBatchStream]]) — file-granular offsets, admission
  *    control (`maxFilesPerTrigger`), checkpoint-restart resume. This is
  *    the reference's core shape — an ordered, resumable tail of the
  *    changelog (`producer.go:18-174`, resume-from-position; consume from
  *    earliest `utils.go:48-54`) — rendered as the engine's own connector.
  *
  * Corrupt lines are skipped (the O9 decode convention: `from_json` yields
  * null and the pipeline filters it) but COUNTED: a range where every line
  * failed to parse fails loudly instead of reading as an empty changelog —
  * a binary or mis-encoded file is a systemic error, not late data.
  *
  * The `payload` column stays a raw JSON string — schema application is
  * the downstream `from_json` step (O4/O9), exactly the engine's dynamic-
  * schema model (SURVEY §1.3).
  */
class ChangelogSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "changelog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangelogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new ChangelogTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object ChangelogSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("seq", LongType),
    StructField("op", StringType),
    StructField("table", StringType),
    StructField("payload", StringType)))

  val DefaultMaxSplitBytes: Long = 128L * 1024 * 1024

  /** Incremental-listing slack: files older than (max seen mtime − slack)
    * are skipped during the streaming walk. Wide enough to absorb writer
    * clock skew; widen via `.option("mtimeSlackMs", …)` on filesystems with
    * non-monotonic visibility. */
  val DefaultMtimeSlackMs: Long = 10L * 60 * 1000
}

class ChangelogTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"changelog($path)"
  override def schema(): StructType = ChangelogSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // capture the SESSION Hadoop conf (spark.hadoop.* — S3/ABFS creds,
    // fs overrides) as a serializable map; a bare `new Configuration()`
    // would ignore it and the connector would only work on local paths
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    val confMap = {
      val it = conf.iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    val maxSplit = Option(options.get("maxSplitBytes")).map(_.toLong)
      .getOrElse(ChangelogSource.DefaultMaxSplitBytes)
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
    val mtimeSlack = Option(options.get("mtimeSlackMs")).map(_.toLong)
      .getOrElse(ChangelogSource.DefaultMtimeSlackMs)
    new ChangelogScanBuilder(path, confMap, maxSplit, maxFiles, mtimeSlack)
  }
}

class ChangelogScanBuilder(path: String, confMap: Map[String, String],
                           maxSplitBytes: Long, maxFilesPerTrigger: Option[Int],
                           mtimeSlackMs: Long = ChangelogSource.DefaultMtimeSlackMs)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = ChangelogSource.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept the dispatch predicates the pipeline actually uses: equality on
    * op/table, and IsNotNull on any envelope column. Everything else stays a
    * post-scan filter. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo(a, _: String) => a == "op" || a == "table"
      case IsNotNull(_) => true
      case _ => false
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new ChangelogScan(path, required, pushed, confMap, maxSplitBytes,
      maxFilesPerTrigger, mtimeSlackMs)
}

class ChangelogScan(path: String, required: StructType, filters: Array[Filter],
                    confMap: Map[String, String], maxSplitBytes: Long,
                    maxFilesPerTrigger: Option[Int],
                    mtimeSlackMs: Long = ChangelogSource.DefaultMtimeSlackMs)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ChangelogScan(path=$path, pushed=${filters.mkString(",")})"

  override def planInputPartitions(): Array[InputPartition] =
    ChangelogPlanner.planFiles(
      ChangelogPlanner.listDataFiles(path, confMap), confMap, maxSplitBytes)
      .map(p => p: InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangelogReaderFactory(required, filters, confMap)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangelogMicroBatchStream(path, required, filters, confMap,
      maxSplitBytes, maxFilesPerTrigger, checkpointLocation, mtimeSlackMs)
}

/** Byte range `[start, start+length)` of one file. `compressed` ranges span
  * the whole file (codec streams aren't seekable). */
case class ChangelogInputPartition(file: String, start: Long, length: Long,
                                   compressed: Boolean) extends InputPartition

/** File listing + range planning shared by the batch scan and the
  * micro-batch stream. */
object ChangelogPlanner {
  /** Recursive listing of data files under `dir`. Every entry whose name
    * starts with `_` or `.` (Spark/Hadoop metadata: `_SUCCESS`, `_staging/`,
    * a producer's `.x.tmp`, …) is pruned by name BEFORE it is stat'ed or
    * descended into, and a sub-directory that vanishes between its parent's
    * listing and its own is skipped — a producer's rename racing the
    * listing must not fail the query. Files with mtime < `minMtime` are
    * dropped during the walk — the streaming side's incremental-listing
    * floor (nothing that old can be new). */
  def listDataFiles(dir: String, confMap: Map[String, String],
                    minMtime: Long = Long.MinValue): Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(ChangelogConf.toConfiguration(confMap))
    val out = ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    def walk(entries: Array[org.apache.hadoop.fs.FileStatus]): Unit =
      entries.foreach { s =>
        val name = s.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (s.isDirectory)
            walk(try fs.listStatus(s.getPath)
                 catch { case _: java.io.FileNotFoundException => Array.empty })
          else if (s.getModificationTime >= minMtime) out += s
        }
      }
    walk(fs.listStatus(root))
    out.sortBy(_.getPath.toString).toSeq
  }

  /** One partition per `maxSplitBytes` range; compressed files (by
    * extension, via the Hadoop codec factory) are one unsplit range. */
  def planFiles(files: Seq[org.apache.hadoop.fs.FileStatus],
                confMap: Map[String, String],
                maxSplitBytes: Long): Seq[ChangelogInputPartition] =
    planEntries(files.map(s =>
      ChangelogFileEntry(s.getPath.toString, s.getLen, s.getModificationTime)),
      confMap, maxSplitBytes)

  /** Range planning from logged (path, length) metadata — the streaming
    * path plans from its own file log and never re-lists the directory. */
  def planEntries(files: Seq[ChangelogFileEntry],
                  confMap: Map[String, String],
                  maxSplitBytes: Long): Seq[ChangelogInputPartition] = {
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(
      ChangelogConf.toConfiguration(confMap))
    files.flatMap { s =>
      val len = s.len
      val p = new org.apache.hadoop.fs.Path(s.path)
      if (len == 0) Nil
      else if (codecs.getCodec(p) != null)
        Seq(ChangelogInputPartition(s.path, 0L, len, compressed = true))
      else
        (0L until len by maxSplitBytes).map { off =>
          ChangelogInputPartition(s.path, off,
            math.min(maxSplitBytes, len - off), compressed = false)
        }
    }
  }
}

object ChangelogConf {
  def toConfiguration(m: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    m.foreach { case (k, v) => c.set(k, v) }
    c
  }
}

/** Streaming offset: just the id of the last admitted micro-batch. The
  * file set each batch covers lives in the source's own batch-id-keyed
  * seen-file log ([[ChangelogFileLog]], under the checkpoint), so the JSON
  * Spark re-serializes into its offset log every trigger is O(1) — not the
  * O(total-files-ever-seen) array the first version shipped. This is the
  * `FileStreamSource` design: tiny offsets, compacted metadata log. */
case class ChangelogOffset(batchId: Long) extends Offset {
  override def json(): String = s"""{"batchId":$batchId}"""
}

object ChangelogOffsetCodec {
  val mapper = new ObjectMapper()
  def fromJson(json: String): ChangelogOffset = {
    val node = mapper.readTree(json)
    if (node.isObject && node.hasNonNull("batchId"))
      ChangelogOffset(node.get("batchId").asLong())
    else throw new IllegalStateException(
      s"unrecognized changelog offset $json (a pre-compaction file-set " +
        "checkpoint cannot be resumed by this version; restart the query " +
        "with a fresh checkpoint)")
  }
}

/** One admitted file: enough metadata to plan its splits without ever
  * listing the directory again (length) and to bound the incremental
  * listing (mtime). */
case class ChangelogFileEntry(path: String, len: Long, mtime: Long)

/** Batch-id-keyed seen-file log under the streaming checkpoint — the
  * `FileStreamSource`-style metadata log backing [[ChangelogOffset]]:
  *  - `<id>` (zero-padded): the files ADMITTED in batch id, one
  *    `path\tlen\tmtime` line each — O(batch) bytes;
  *  - `<id>.compact` every `compactInterval` batches: the FULL seen set at
  *    that batch, so a restart replays one compact + at most
  *    `compactInterval-1` deltas instead of the whole history.
  * Entries are written temp-file + rename BEFORE the offset is returned to
  * Spark, so any offset Spark ever checkpoints is resolvable here. Writes
  * happen only on the driver's streaming thread — no locking needed. */
class ChangelogFileLog(logDir: String, confMap: Map[String, String],
                       compactInterval: Int = 10) {
  require(compactInterval > 0, "compactInterval must be positive")
  private val dir = new org.apache.hadoop.fs.Path(logDir)
  private def fs = dir.getFileSystem(ChangelogConf.toConfiguration(confMap))

  private def name(id: Long, compact: Boolean): String =
    f"$id%020d${if (compact) ".compact" else ""}"

  private def write(p: org.apache.hadoop.fs.Path, entries: Seq[ChangelogFileEntry]): Unit = {
    val f = fs
    f.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".${p.getName}.tmp")
    val out = f.create(tmp, true)
    try entries.foreach { e =>
      out.write(s"${e.path}\t${e.len}\t${e.mtime}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    if (!f.rename(tmp, p))
      throw new IllegalStateException(s"file-log write failed: $tmp -> $p")
  }

  private def read(p: org.apache.hadoop.fs.Path): Seq[ChangelogFileEntry] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).filter(_.nonEmpty)
      .map { line =>
        val Array(path, len, mtime) = line.split('\t')
        ChangelogFileEntry(path, len.toLong, mtime.toLong)
      }.toVector
    finally in.close()
  }

  /** Record batch `id`'s admitted files; additionally roll a compact entry
    * (`allSeen`, lazily materialized only when due). */
  def append(id: Long, admitted: Seq[ChangelogFileEntry],
             allSeen: => Seq[ChangelogFileEntry]): Unit = {
    write(new org.apache.hadoop.fs.Path(dir, name(id, compact = false)), admitted)
    if (id % compactInterval == compactInterval - 1)
      write(new org.apache.hadoop.fs.Path(dir, name(id, compact = true)), allSeen)
  }

  /** The files admitted in exactly batch `id`. Fails loudly if the log has
    * no entry — an offset Spark checkpointed MUST be resolvable. */
  def delta(id: Long): Seq[ChangelogFileEntry] = {
    val p = new org.apache.hadoop.fs.Path(dir, name(id, compact = false))
    if (!fs.exists(p)) throw new IllegalStateException(
      s"changelog file-log has no entry for batch $id under $logDir")
    read(p)
  }

  /** Rebuild driver state after a restart: (latest batch id, full seen set)
    * from the newest compact entry plus the deltas after it. */
  def replay(): (Long, Seq[ChangelogFileEntry]) = {
    val f = fs
    if (!f.exists(dir)) return (-1L, Nil)
    val names = f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith("."))
    if (names.isEmpty) return (-1L, Nil)
    def id(n: String): Long = n.stripSuffix(".compact").toLong
    val latest = names.map(id).max
    val lastCompact = names.filter(_.endsWith(".compact")).map(id)
      .filter(_ <= latest).sorted.lastOption
    val base = lastCompact.toSeq.flatMap(c =>
      read(new org.apache.hadoop.fs.Path(dir, name(c, compact = true))))
    val tail = ((lastCompact.getOrElse(-1L) + 1L) to latest).flatMap(delta)
    (latest, base ++ tail)
  }
}

/** The streaming side of the connector: an ordered, resumable tail of the
  * changelog directory — the engine's rendering of the reference's
  * replication-slot consumer (`producer.go:18-174` tails in order and
  * resumes from its saved position; `utils.go:48-54` consumes from
  * earliest). Offsets are batch ids backed by a compacted seen-file log
  * (see [[ChangelogFileLog]]); a restart replays one compact entry plus a
  * bounded delta tail, then replans exactly the admitted-but-uncommitted
  * batches, so no event is re-applied or skipped. Admission control honors
  * `maxFilesPerTrigger` so AvailableNow replays history as bounded
  * micro-batches — [[SupportsTriggerAvailableNow]] is implemented directly
  * because Spark's generic wrapper returns the captured end offset
  * wholesale, collapsing AvailableNow to one unbounded batch and defeating
  * the read limit.
  *
  * Per-trigger cost at scale: the directory walk skips every file whose
  * mtime predates the seen watermark minus `mtimeSlackMs` (no seen-set
  * lookup, no candidate materialization), so only the recent band is
  * diffed; planning reads the batch's own log entry (path+length), never
  * re-listing the world; offset JSON is O(1). The slack absorbs writer
  * clock skew and non-monotonic visibility — a file surfacing with an
  * mtime older than every seen file by more than the slack is the one
  * hazard, and the knob exists to widen the band where that can happen. */
class ChangelogMicroBatchStream(path: String, required: StructType,
                                filters: Array[Filter],
                                confMap: Map[String, String],
                                maxSplitBytes: Long, maxFilesPerTrigger: Option[Int],
                                checkpointLocation: String,
                                mtimeSlackMs: Long = 10L * 60 * 1000)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val log = new ChangelogFileLog(s"$checkpointLocation/graft-filelog", confMap)

  // driver-side state, rebuilt from the log once per query start (compact +
  // bounded tail), then maintained incrementally — never per trigger. The
  // entry map (not just a path set) is what compaction rolls from; at
  // extreme file counts the production knob is age-based eviction, exactly
  // FileStreamSource's maxFileAge.
  private val seen = scala.collection.mutable.HashMap.empty[String, ChangelogFileEntry]
  private var latestBatchId = -1L
  private var maxSeenMtime = Long.MinValue
  locally {
    val (lb, entries) = log.replay()
    latestBatchId = lb
    entries.foreach { e =>
      seen(e.path) = e
      if (e.mtime > maxSeenMtime) maxSeenMtime = e.mtime
    }
  }

  /** Recursive walk keeping only files that could be new: anything whose
    * mtime predates every seen file by more than the slack is skipped
    * before any set lookup. */
  private def listCandidates(): Seq[ChangelogFileEntry] = {
    val floor = if (seen.isEmpty) Long.MinValue else maxSeenMtime - mtimeSlackMs
    ChangelogPlanner.listDataFiles(path, confMap, minMtime = floor)
      .map(s => ChangelogFileEntry(s.getPath.toString, s.getLen, s.getModificationTime))
  }

  // AvailableNow contract: freeze the file set at query start; batches then
  // drain toward it under the read limit and the query stops at the target
  // (files landing mid-run wait for the next start — exactly Spark's own
  // file-source semantics)
  private var availableNowTarget: Option[Set[String]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(listCandidates().map(_.path).toSet)

  override def initialOffset(): Offset = ChangelogOffset(-1L)

  override def deserializeOffset(json: String): Offset =
    ChangelogOffsetCodec.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startId = start.asInstanceOf[ChangelogOffset].batchId
    // durable log entries Spark hasn't consumed yet (admitted, then crashed
    // before Spark checkpointed the offset): hand them back before
    // admitting anything new
    if (latestBatchId > startId) return ChangelogOffset(latestBatchId)
    val visible = availableNowTarget match {
      case Some(target) => listCandidates().filter(e => target(e.path))
      case None => listCandidates()
    }
    val fresh = visible.filterNot(e => seen.contains(e.path)).sortBy(_.path)
    val admitted = limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles())
      case _ => fresh
    }
    if (admitted.isEmpty) ChangelogOffset(latestBatchId)
    else {
      val id = latestBatchId + 1
      // log first, offset after: any offset Spark ever sees is resolvable
      log.append(id, admitted, (seen.values ++ admitted).toSeq)
      admitted.foreach { e =>
        seen(e.path) = e
        if (e.mtime > maxSeenMtime) maxSeenMtime = e.mtime
      }
      latestBatchId = id
      ChangelogOffset(id)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startId = start.asInstanceOf[ChangelogOffset].batchId
    val endId = end.asInstanceOf[ChangelogOffset].batchId
    // the batch's files come from the source's own log — planning never
    // re-lists the directory. A file deleted between admission and replay
    // fails loudly at open time (the offset CLAIMS those rows; same
    // contract as Spark's file source without ignoreMissingFiles).
    val entries = ((startId + 1L) to endId).flatMap(log.delta)
    ChangelogPlanner.planEntries(entries, confMap, maxSplitBytes)
      .map(p => p: InputPartition).toArray
  }

  /** Spark 4.1 does not run operator pushdown on streaming relations
    * (filters/projection stay in the query plan — pinned by
    * StreamAlignmentSpec), so `required`/`filters` arrive here as the full
    * schema and an empty set. Honoring them anyway keeps the reader's rows
    * aligned with `Scan.readSchema()` under EITHER behavior — if a future
    * Spark prunes streaming scans, nothing here breaks. */
  override def createReaderFactory(): PartitionReaderFactory =
    new ChangelogReaderFactory(required, filters, confMap)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class ChangelogReaderFactory(required: StructType, filters: Array[Filter],
                             confMap: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ChangelogPartitionReader(
      partition.asInstanceOf[ChangelogInputPartition], required, filters, confMap)
}

/** Byte-oriented line reader over one range of an uncompressed file, with
  * Hadoop `LineRecordReader` boundary semantics: a range starting past 0
  * discards everything through its first newline (that line belongs to the
  * previous range, which reads THROUGH the boundary: a new line is started
  * while its first byte's offset is <= `end`). Counts bytes, not chars, so
  * multi-byte UTF-8 never desyncs the offsets. */
private[sources] class LineRangeReader(in: org.apache.hadoop.fs.FSDataInputStream,
                                       start: Long, length: Long) {
  private val end = start + length
  private var pos = start
  private val buf = new Array[Byte](64 * 1024)
  private var bufLen = 0
  private var bufPos = 0

  in.seek(start)
  if (start != 0) skipLine()

  private def fill(): Boolean = {
    if (bufPos < bufLen) true
    else {
      bufLen = in.read(buf)
      bufPos = 0
      bufLen > 0
    }
  }

  private def skipLine(): Unit = {
    var done = false
    while (!done && fill()) {
      val nl = indexOfNl()
      if (nl >= 0) { pos += nl - bufPos + 1; bufPos = nl + 1; done = true }
      else { pos += bufLen - bufPos; bufPos = bufLen }
    }
  }

  private def indexOfNl(): Int = {
    var i = bufPos
    while (i < bufLen && buf(i) != '\n') i += 1
    if (i < bufLen) i else -1
  }

  /** Next line whose first byte lies in `[start, end]` (Hadoop's `<= end`
    * convention), or null at range end / EOF. Strips the trailing `\r` of
    * CRLF input; the returned string never contains the newline. */
  def readLine(): String = {
    if (pos > end) return null
    var out: java.io.ByteArrayOutputStream = null
    var line: String = null
    var done = false
    while (!done) {
      if (!fill()) {
        // EOF: flush a final unterminated line if any bytes were gathered
        line = if (out != null && out.size() > 0) finish(out) else null
        done = true
      } else {
        val nl = indexOfNl()
        if (nl >= 0) {
          if (out == null) out = new java.io.ByteArrayOutputStream(256)
          out.write(buf, bufPos, nl - bufPos)
          pos += nl - bufPos + 1
          bufPos = nl + 1
          line = finish(out)
          done = true
        } else {
          if (out == null) out = new java.io.ByteArrayOutputStream(256)
          out.write(buf, bufPos, bufLen - bufPos)
          pos += bufLen - bufPos
          bufPos = bufLen
        }
      }
    }
    line
  }

  private def finish(out: java.io.ByteArrayOutputStream): String = {
    val bytes = out.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1 else bytes.length
    new String(bytes, 0, n, java.nio.charset.StandardCharsets.UTF_8)
  }
}

/** Per-range reader: stream lines, jackson-parse the envelope, apply pushed
  * filters, emit only the pruned columns. Corrupt lines are skipped AND
  * counted — a range whose every line fails to parse raises instead of
  * silently reading as empty (see class doc of [[ChangelogSource]]). */
class ChangelogPartitionReader(partition: ChangelogInputPartition,
                               required: StructType,
                               filters: Array[Filter],
                               confMap: Map[String, String])
    extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val conf = ChangelogConf.toConfiguration(confMap)
  private val path = new org.apache.hadoop.fs.Path(partition.file)
  // a planned file that vanished (deleted by retention between admission
  // and replay) must fail loudly, not read as empty — the offset/plan
  // CLAIMS those rows; same contract as Spark's file source without
  // ignoreMissingFiles
  private val in = try path.getFileSystem(conf).open(path) catch {
    case e: java.io.FileNotFoundException => throw new IllegalStateException(
      s"changelog file admitted into offsets but no longer present: ${partition.file}", e)
  }
  // compressed: whole-file codec stream (unsplittable, so start is always 0);
  // plain: byte-range reader with line-boundary handling
  private val compressedLines: java.io.BufferedReader =
    if (partition.compressed) {
      val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(path)
      new java.io.BufferedReader(new java.io.InputStreamReader(
        codec.createInputStream(in), java.nio.charset.StandardCharsets.UTF_8))
    } else null
  private val rangeLines: LineRangeReader =
    if (partition.compressed) null else new LineRangeReader(in, partition.start, partition.length)

  private var row: InternalRow = _
  private var parsed = 0L
  private var corrupt = 0L
  private var corruptBytes = 0L

  private def nextLine(): String =
    if (compressedLines != null) compressedLines.readLine() else rangeLines.readLine()

  private def passes(node: com.fasterxml.jackson.databind.JsonNode): Boolean =
    filters.forall {
      case EqualTo(a, v: String) =>
        val n = node.get(a); n != null && !n.isNull && n.asText() == v
      case IsNotNull(a) =>
        val n = node.get(a); n != null && !n.isNull
      case _ => true
    }

  override def next(): Boolean = {
    var line = nextLine()
    while (line != null) {
      if (line.nonEmpty) {
        // corrupt record -> skip + count, the engine's O9 decode convention
        // (from_json yields null and the pipeline filters it)
        val node = try mapper.readTree(line) catch { case _: Exception => null }
        if (node == null || !node.isObject) { corrupt += 1; corruptBytes += line.length }
        else {
          parsed += 1
          if (passes(node)) {
            val values = new ArrayBuffer[Any](required.length)
            required.fields.foreach { f =>
              val n = node.get(f.name)
              values += (if (n == null || n.isNull) null
              else f.dataType match {
                case LongType => n.asLong()
                // payload: keep the raw JSON text (object or scalar)
                case StringType if n.isContainerNode => UTF8String.fromString(n.toString)
                case StringType => UTF8String.fromString(n.asText())
                case dt => throw new IllegalStateException(s"unsupported type $dt")
              })
            }
            row = new GenericInternalRow(values.toArray)
            return true
          }
        }
      }
      line = nextLine()
    }
    // end of range: all-corrupt input is a systemic failure (binary file,
    // unknown compression, wrong encoding) — fail loudly, don't read as
    // empty. A LONE short corrupt line is NOT systemic: a producer crash
    // can tear the final line of a file, and a split boundary can isolate
    // that tail in its own range — that stays an O9 skip. Systemic =
    // several corrupt lines, or one newline-free blob (binary data parses
    // as a single huge "line").
    if (parsed == 0 && (corrupt > 2 || corruptBytes >= (1L << 20)))
      throw new IllegalStateException(
        s"changelog range ${partition.file}[${partition.start}+${partition.length}] " +
          s"contained $corrupt lines ($corruptBytes bytes), none parseable as JSON envelopes")
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit =
    if (compressedLines != null) compressedLines.close() else in.close()
}
