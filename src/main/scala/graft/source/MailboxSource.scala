package graft.source

import java.io.ByteArrayOutputStream
import java.util.Base64
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.{Expression => ConnectorExpression}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.model.MailboxSchema
import graft.model.MailboxSchema.Mode

/** Mailbox DataSource V2 — the Spark rebuild of the reference's scan
  * machinery (SURVEY.md §2 Tier A).
  *
  * `spark.read.format("mailbox").option("mode", "messages").load(glob)`
  * scans `*.mbx` mailbox dumps with:
  *  - file globbing / multi-file scan over any Hadoop FileSystem scheme
  *    (A2, A19; reference reads PST over any DuckDB filesystem,
  *    duckdb_filesystem.cpp:12-36),
  *  - O(#files) planning: with `.idx` sidecars (see [[MailboxIndex]])
  *    planning reads only per-file metadata — the analog of the
  *    reference enumerating PST index nodes without reading message
  *    content (table_function.cpp:100-212). Files without a sidecar get
  *    size-based byte-range splits; readers discover record boundaries
  *    with the first-newline-after-offset rule (Hadoop's
  *    LineRecordReader convention). Planning never reads the corpus.
  *  - one sealed partition hierarchy ([[MailboxPartition]]): static
  *    rows answered at plan time, or a file slice — `.mbx` indexed row
  *    ranges, byte ranges, enumerated offsets, or PST node ids — with
  *    one reader per shape ([[StaticRowsReader]],
  *    [[MailboxPartitionReader]], [[PstPartitionReader]]),
  *  - fixed-size row partitions + exact statistics when indexed (A4, A8),
  *  - plan-time message-class filtering for typed modes and pushed
  *    `message_class = '…'` predicates (A5),
  *  - exact `read_limit` / SupportsPushDownLimit allocation (A6),
  *  - projection pushdown — unprojected columns are never parsed (A7;
  *    row_serializer.cpp:1211-1266),
  *  - count(*) pushdown: static rows wherever planning knows the count
  *    exactly (zero execution IO on indexed files); elsewhere the row
  *    reader over an empty projection, classify-only, counted by
  *    [[CountingReader]] (A9),
  *  - count / delivery-time MIN/MAX, ungrouped or GROUP BY
  *    message_class, answered from sidecar statistics (A9),
  *  - virtual row-id columns `__partition`/`__node_id` for late
  *    materialization (A10; schema.hpp:11-17),
  *  - per-task scan metrics: rows / bytes / files read (A11; reference
  *    progress reporting, table_function.cpp:359-365),
  *  - scan-description EXPLAIN metadata (A12; table_function.cpp:367-380),
  *  - named scan parameters `read_limit`, `read_body_size_bytes`,
  *    `read_attachment_body`, `partition_size`, `partition_bytes` (A13),
  *  - per-task readers with null-tolerant row serialization (A15-A18;
  *    any per-field failure yields NULL, row_serializer.cpp:1252-1263),
  *  - UTF-16 byte-budget body truncation that never splits a surrogate
  *    pair (row_serializer.cpp:83-114),
  *  - resilient multi-file bind — an unreadable file is logged and
  *    skipped (A20; table_function.cpp:228-235).
  */
class MailboxSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "mailbox"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MailboxTable.schemaFor(MailboxOptions(options.asScala.toMap))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new MailboxTable(MailboxOptions(properties.asScala.toMap))

  // schema is always derived from `mode`; a user-supplied schema would be
  // silently ignored, so honestly report no external-metadata support
  // (Spark then rejects .schema(...) with a clear error)
  override def supportsExternalMetadata(): Boolean = false
}

/** Parsed scan options (A13). */
final case class MailboxOptions(raw: Map[String, String]) {
  private def get(k: String): Option[String] =
    raw.collectFirst { case (key, v) if key.equalsIgnoreCase(k) => v }

  val path: String = get("path").getOrElse(
    throw new IllegalArgumentException("mailbox source requires a path"))
  val mode: Mode.Value = get("mode").map(_.toLowerCase).getOrElse("messages") match {
    case "folders"                         => Mode.Folders
    case "messages"                        => Mode.Messages
    case "notes"                           => Mode.Notes
    case "contacts"                        => Mode.Contacts
    case "appointments"                    => Mode.Appointments
    case "sticky_notes" | "stickynotes"    => Mode.StickyNotes
    case "tasks"                           => Mode.Tasks
    case "distribution_lists" | "dlists"   => Mode.DistributionLists
    case other => throw new IllegalArgumentException(s"unknown mode: $other")
  }
  // defaults mirror the reference (table_function.hpp:29-31)
  val partitionSize: Int     = get("partition_size").map(_.toInt).getOrElse(4096).max(1)
  val readLimit: Long        = get("read_limit").map(_.toLong).getOrElse(Long.MaxValue)
  val bodySizeBytes: Long    = get("read_body_size_bytes").map(_.toLong).getOrElse(1000000L)
  val readAttachmentBody: Boolean =
    get("read_attachment_body").exists(_.toBoolean)
  val virtualColumns: Boolean = get("virtual_columns").exists(_.toBoolean)
  /** Byte-range split size for unindexed files (scale default 32 MiB). */
  val partitionBytes: Long =
    get("partition_bytes").map(_.toLong).getOrElse(32L * 1024 * 1024).max(1L << 16)
}

/** Scalar text helpers shared by the readers. */
object MailboxText {

  /** Truncate to a byte budget over UTF-16 code units without splitting a
    * surrogate pair (reference row_serializer.cpp:83-114: wchar-aligned
    * byte budget; 0 = unlimited, :302-304). 100 bytes → 50 BMP chars; an
    * astral character on the boundary is dropped whole.
    */
  def truncateUtf16(s: String, budgetBytes: Long): String = {
    if (budgetBytes <= 0) return s
    val units = (budgetBytes / 2).toInt
    if (s.length <= units) s
    else if (units > 0 && Character.isHighSurrogate(s.charAt(units - 1)))
      s.substring(0, units - 1)
    else s.substring(0, units)
  }
}

/** Plan-time record filter (A5): the scan mode's taxonomy class plus any
  * pushed exact `message_class = '…'` equalities.
  *
  * Two distinct semantics, mirroring the reference:
  *  - the MODE filter is the typed_bag.hpp taxonomy — an exact lookup of
  *    the six known classes with unknown/subclass/missing strings
  *    bucketed into notes (BASE_CLASS), so `IPM.Appointment.Foo` is a
  *    note, not an appointment;
  *  - a pushed SQL equality is a predicate on the raw column value —
  *    plain string equality, never prefix or taxonomy matching.
  */
final case class RecordFilter(
    mode: MailboxSchema.Mode.Value,
    exacts: Seq[String] = Nil) {

  def wantFolder: Boolean = mode == Mode.Folders

  /** Does this filter reject any message record at all? (false = plain
    * folders/messages scan with no pushed predicate)
    */
  def filtersClass: Boolean = MailboxSchema.isTypedMode(mode) || exacts.nonEmpty

  /** Does a message record with this class survive? `cls` may be null or
    * "" for a missing PR_MESSAGE_CLASS_A — the taxonomy buckets those
    * into notes; an equality predicate never matches them.
    */
  def matchesClass(cls: String): Boolean =
    (!MailboxSchema.isTypedMode(mode) || MailboxSchema.taxonomyOf(cls) == mode) &&
      exacts.forall(e => cls != null && e == cls)

  def describe: String =
    (if (MailboxSchema.isTypedMode(mode)) Seq(s"taxonomy=${MailboxSchema.modeClass(mode)}") else Nil) ++
      exacts.map(e => s"class='$e'") mkString ","
}

object MailboxTable {
  /** Columns a reader fills from the partition, not from the record. */
  private[source] val MetaColumns =
    Set("pst_path", "pst_name", "__partition", "__node_id")

  def schemaFor(opts: MailboxOptions): StructType = {
    val base = MailboxSchema.schemaFor(opts.mode)
    if (opts.virtualColumns) StructType(base ++ MailboxSchema.virtualFields)
    else base
  }
}

class MailboxTable(val opts: MailboxOptions) extends Table with SupportsRead {
  override def name(): String = s"mailbox(${opts.path}, mode=${opts.mode})"
  override def schema(): StructType = MailboxTable.schemaFor(opts)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MailboxScanBuilder(opts)
}

/** One planned partition (A4; reference PSTInputPartition,
  * table_function.hpp:87-105). Two shapes:
  *  - [[StaticRowsPartition]]: rows already known on the driver — a
  *    planned count(*) or a sidecar-statistics aggregate; zero IO;
  *  - [[FilePartition]]: a slice of one file that a task reads.
  */
sealed trait MailboxPartition extends InputPartition

/** Precomputed rows, emitted with zero execution IO. `rowsRead` is the
  * rows-read metric the partition reports: the count it stands for when
  * it answers count(*) from planning statistics, 0 for a statistics
  * aggregate. A count over files whose counts are all exact collapses
  * to ONE such partition carrying the total: a 167-file archive costs
  * one task instead of one per planned slice (measured 0.84 s → ~0.2 s
  * on the 1.17M-message reference-scale probe,
  * `graft.tools.RefScaleBench`).
  */
final case class StaticRowsPartition(rows: Array[InternalRow], rowsRead: Long)
  extends MailboxPartition

object StaticRowsPartition {
  /** One count(*) row standing for `count` rows read. */
  def count(count: Long): StaticRowsPartition =
    StaticRowsPartition(Array(new GenericInternalRow(Array[Any](count))), count)
}

/** A slice of one file, read by a task. */
sealed trait FilePartition extends MailboxPartition {
  def index: Int
  def file: String

  /** True on exactly one partition per planned file, so the sum of the
    * files-read task metric counts distinct files, not partitions (a
    * file split into N ranges is still one file).
    */
  def firstInFile: Boolean
}

/** A slice of an `.mbx` JSONL dump. Three shapes:
  *  - [[IndexedPartition]]: sidecar-planned — starts at a block
  *    checkpoint, skips `skipMatching` matching rows, emits
  *    `takeMatching` (exact count known at plan time);
  *  - [[RangePartition]]: a byte range of an unindexed file — the reader
  *    discovers record boundaries (first newline after `start`) and
  *    emits every matching record starting inside the range;
  *  - [[EnumeratedPartition]]: explicit row offsets (bounded-limit
  *    planning on unindexed files only).
  */
sealed trait MbxPartition extends FilePartition

final case class IndexedPartition(
    index: Int, file: String, startOffset: Long,
    skipMatching: Long, takeMatching: Long,
    firstInFile: Boolean = false) extends MbxPartition

final case class RangePartition(
    index: Int, file: String, start: Long, length: Long,
    firstInFile: Boolean = false) extends MbxPartition

final case class EnumeratedPartition(
    index: Int, file: String,
    offsets: Array[Long], nodeIds: Array[Long],
    firstInFile: Boolean = false) extends MbxPartition

/** A slice of a real PST file's plan-enumerated node ids (the analog of
  * the reference's node-id partition queue; see [[PstScan]]). When
  * `exact` the node ids ARE the row set (already mode-classified at plan
  * time), so counts and limits are exact and the reader skips
  * re-classification. Defaults to false — the fail-safe direction: an
  * unmarked partition is re-filtered by the reader (slower, never wrong).
  */
final case class PstPartition(
    index: Int, file: String, nodeIds: Array[Long],
    exact: Boolean = false,
    firstInFile: Boolean = false) extends FilePartition

/** Driver-side planning: glob → per-file metadata (sidecar index or file
  * size) → partitions. Reads O(#files) bytes — sidecars, or a ≤160-byte
  * first-record validation probe — never the corpus (A2-A4, A20).
  */
object MailboxPlanner {

  /** Does a record with this line prefix survive the plan-time record
    * filter? (A5 — the analog of the reference's planning-time
    * PR_MESSAGE_CLASS_A lookup.) The class string is extracted exactly
    * and classified through the typed_bag.hpp taxonomy — never a
    * substring/prefix match.
    */
  def lineMatches(prefix: String, filter: RecordFilter): Boolean = {
    val isFolder = prefix.contains("\"record_type\":\"folder\"")
    if (filter.wantFolder) isFolder
    else !isFolder && filter.matchesClass(MailboxIndex.classOfPrefix(prefix))
  }

  def nodeIdOf(prefix: String): Long = {
    val i = prefix.indexOf("\"node_id\":")
    if (i < 0) -1L
    else {
      val rest = prefix.substring(i + 10).takeWhile(ch => ch.isDigit || ch == '-')
      if (rest.isEmpty) -1L else rest.toLong
    }
  }

  /** Resolve a glob to (path, size) pairs, preserving non-local schemes.
    * Local paths stay scheme-less so `pst_path` matches user input.
    */
  def globStatuses(pattern: String, conf: Configuration): Seq[(String, Long)] = {
    val p  = new Path(pattern)
    val fs = p.getFileSystem(conf)
    val statuses = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
    // A20: a LITERAL path (no wildcards) that matches nothing must be
    // an error, not a silent empty scan. globStatus swallows the
    // filesystem's FileNotFoundException (filesystems that do proper
    // existence checks, e.g. the ranged-GET http FS, throw it); re-ask
    // directly so it surfaces. Zero matches for a true glob stays a
    // legitimate empty result.
    if (statuses.isEmpty && !pattern.exists(c => "*?[{".contains(c)))
      fs.getFileStatus(p)
    statuses.filter(_.isFile).map { st =>
      val uri = st.getPath.toUri
      val name =
        if (uri.getScheme == null || uri.getScheme == "file") uri.getPath
        else st.getPath.toString
      // length-less schemes (http/s report -1) would make byte-range
      // planning vacuous (`while (start < bytes)` never runs → silent
      // empty scan): fetch once (JVM-cached) and use the real size
      val len =
        if (st.getLen >= 0) st.getLen
        else java.nio.file.Files.size(LocalBuffer.materialize(st.getPath, conf))
      name -> len
    }.sortBy(_._1)
  }

  def globFiles(pattern: String): Seq[String] =
    globStatuses(pattern, activeHadoopConf()).map(_._1)

  def activeHadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** First-record probe: read ≤160 bytes and require the mailbox line
    * shape (A20 — the analog of the reference failing the PST header
    * check and skipping the file). O(1) bytes per file.
    */
  private def validateFile(file: Path, conf: Configuration): Boolean = {
    val fs = file.getFileSystem(conf)
    val in = fs.open(file)
    try {
      val head = new Array[Byte](11)
      var got  = 0
      while (got < head.length) {
        val n = in.read(head, got, head.length - got)
        if (n < 0) return false
        got += n
      }
      new String(head, "UTF-8").startsWith("{\"node_id\":")
    } catch { case NonFatal(_) => false }
    finally in.close()
  }

  /** Bounded enumeration for `read_limit` on unindexed files: scans line
    * prefixes and STOPS at `limit` matches — O(limit) rows per file, not
    * O(file).
    */
  def enumerateBounded(file: Path, conf: Configuration,
      filter: RecordFilter, limit: Long): (Array[Long], Array[Long]) = {
    val offsets = new ArrayBuffer[Long]()
    val nodes   = new ArrayBuffer[Long]()
    val fs = file.getFileSystem(conf)
    val in = fs.open(file)
    val buf  = new Array[Byte](1 << 16)
    val head = new Array[Byte](160)
    try {
      var headLen   = 0
      var lineStart = 0L
      var abs       = 0L
      var done      = false

      def processLine(): Boolean = {
        if (headLen == 0) false
        else {
          val prefix = new String(head, 0, headLen, "UTF-8")
          if (prefix.startsWith("{\"node_id\":") &&
              lineMatches(prefix, filter)) {
            offsets += lineStart
            nodes += nodeIdOf(prefix)
            offsets.length >= limit
          } else false
        }
      }

      while (!done) {
        val n = in.read(buf)
        if (n < 0) { processLine(); done = true }
        else {
          var i = 0
          while (i < n && !done) {
            val b = buf(i)
            if (b == '\n') {
              if (processLine()) done = true
              lineStart = abs + i + 1
              headLen = 0
            } else if (headLen < 160) {
              head(headLen) = b
              headLen += 1
            }
            i += 1
          }
          abs += n
        }
      }
    } finally in.close()
    (offsets.toArray, nodes.toArray)
  }

  /** One sidecar read per glob member, fanned out on a bounded pool
    * (same O(#files) parallel-metadata discipline as [[plan]] — a
    * 10,000-file archive must not pay 10,000 serial round-trips at
    * aggregate-push time). Returns None if ANY file fails `read`.
    */
  private def parallelIndexProbe[A](opts: MailboxOptions, conf: Configuration)(
      read: (MailboxIndex.FileIndex) => Option[A]): Option[Seq[A]] = {
    val files = globStatuses(opts.path, conf)
    if (files.isEmpty) return Some(Nil)
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(files.length, 16)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = files.map { case (name, len) =>
        Future {
          val p0 = new Path(name)
          val p  = LocalBuffer.resolvePath(p0, conf)
          val fs = p.getFileSystem(conf)
          try MailboxIndex.read(fs, p, len, MailboxIndex.indexPath(p0), conf)
            .flatMap(read)
          catch { case NonFatal(_) => None }
        }
      }
      val results = futs.map(f => Await.result(f, Duration.Inf))
      if (results.exists(_.isEmpty)) None else Some(results.map(_.get).toSeq)
    } finally pool.shutdown()
  }

  /** Statistics-only probe for aggregate pushdown: per raw message class
    * across the whole glob, the exact matching row count plus the
    * delivery-time (min, max) over the class's non-null rows (None when
    * it has none) — answered ENTIRELY from fresh v3 sidecars, O(#files)
    * metadata reads and zero corpus IO. None when any member cannot
    * answer exactly (PST members, absent/stale sidecars, a read_limit,
    * folder mode, or — when `needTs` — a matching class with
    * inconclusive timestamp heads): the caller must fall back to the
    * ordinary columnar scan plan, which is always correct.
    */
  def classStatsProbe(opts: MailboxOptions, filter: RecordFilter,
      conf: Configuration, needTs: Boolean)
      : Option[Seq[(String, Long, Option[(Long, Long)])]] = {
    if (filter.wantFolder || opts.readLimit != Long.MaxValue) return None
    parallelIndexProbe(opts, conf)(_.classGroupStats(filter)).flatMap {
      perFile =>
        val acc = scala.collection.mutable.LinkedHashMap[
          String, (Long, Long, Long, Long)]() // cnt, mn, mx, nonNull
        perFile.foreach { rows =>
          rows.foreach { case (cls, cnt, mn, mx, n, unknown) =>
            if (needTs && unknown > 0) return None
            val (c0, mn0, mx0, n0) =
              acc.getOrElse(cls, (0L, Long.MaxValue, Long.MinValue, 0L))
            acc(cls) =
              if (n > 0) (c0 + cnt, math.min(mn0, mn), math.max(mx0, mx), n0 + n)
              else (c0 + cnt, mn0, mx0, n0)
          }
        }
        Some(acc.toSeq.map { case (cls, (cnt, mn, mx, n)) =>
          (cls, cnt, if (n > 0) Some((mn, mx)) else None)
        })
    }
  }

  /** Plan result: partitions + what planning knew exactly. */
  final case class PlanResult(
      partitions: Seq[FilePartition],
      exactRows: Option[Long],
      totalBytes: Long,
      files: Int)

  /** Full plan: one metadata probe per file in parallel (reference
    * std::async fan-out, table_function.cpp:214-239), then partitions:
    * sidecar-indexed files → fixed-size row partitions with exact
    * counts; others → byte-range splits (or bounded enumeration under a
    * limit). The global limit is allocated across partitions in file
    * order, exactly.
    */
  def plan(opts: MailboxOptions, filter: RecordFilter,
      conf: Configuration): PlanResult = {
    val files      = globStatuses(opts.path, conf)
    val limit      = opts.readLimit
    val limited    = limit != Long.MaxValue

    sealed trait FilePlan { def bytes: Long }
    case class Indexed(file: String, bytes: Long, ix: MailboxIndex.FileIndex) extends FilePlan
    case class Ranged(file: String, bytes: Long) extends FilePlan
    case class Enumerated(file: String, bytes: Long,
        offsets: Array[Long], nodes: Array[Long]) extends FilePlan
    case class Pst(file: String, bytes: Long, nids: Array[Long],
        classified: Boolean) extends FilePlan

    val pool = Executors.newFixedThreadPool(math.max(1, math.min(files.length, 16)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val perFile: Seq[FilePlan] =
      try {
        val futures = files.map { case (name, len) =>
          Future {
            val p0 = new Path(name)
            // length-less remote schemes (http/s): probes and reads run
            // on the JVM-cached local copy globStatuses already fetched;
            // the sidecar is looked up at the ORIGINAL location
            val p  = LocalBuffer.resolvePath(p0, conf)
            val fs = p.getFileSystem(conf)
            try {
              MailboxIndex.read(fs, p, len,
                  MailboxIndex.indexPath(p0), conf) match {
                case Some(ix) => Some(Indexed(name, len, ix))
                case None =>
                  if (PstScan.isPst(p, conf)) {
                    // real PST binary: enumerate node ids from the file's
                    // own index (O(index) bytes, like the reference)
                    val nids = PstScan.enumerate(name, conf, filter.wantFolder)
                    if (filter.filtersClass && !filter.wantFolder && limited) {
                      // bounded classification so read_limit stays exact
                      // and GLOBAL across partitions (the reference's
                      // limit break is global, table_function.cpp):
                      // read each candidate's class property until
                      // `limit` matches — O(limit) property reads, the
                      // PST analog of enumerateBounded
                      Some(Pst(name, len,
                        PstScan.classifyBounded(name, conf, nids, filter, limit),
                        classified = true))
                    } else Some(Pst(name, len, nids, classified = false))
                  } else if (!validateFile(p, conf)) {
                    System.err.println(s"[mailbox] skipping unreadable file $name")
                    None
                  } else if (limited) {
                    val (off, nid) =
                      enumerateBounded(p, conf, filter, limit)
                    Some(Enumerated(name, len, off, nid))
                  } else Some(Ranged(name, len))
              }
            } catch {
              case NonFatal(e) => // A20: log and skip unreadable files
                System.err.println(s"[mailbox] skipping unreadable file $name: ${e.getMessage}")
                None
            }
          }
        }
        Await.result(Future.sequence(futures), Duration.Inf).flatten
      } finally pool.shutdown()

    val parts   = new ArrayBuffer[FilePartition]()
    var exact   = true
    var rows    = 0L
    var remain  = limit
    var fileStart = true
    def mark(): Boolean = { val f = fileStart; fileStart = false; f }

    perFile.foreach { fp =>
      fileStart = true
      fp match {
      case Indexed(file, _, ix) if remain > 0 =>
        val total = math.min(ix.matchingCount(filter), remain)
        if (total > 0) {
          val blockMatch = ix.blockMatching(filter)
          // cumulative matching rows at each block start
          val cum = new Array[Long](ix.blocks.length)
          var c = 0L
          var i = 0
          while (i < ix.blocks.length) { cum(i) = c; c += blockMatch(i); i += 1 }
          var firstRow = 0L
          while (firstRow < total) {
            val take = math.min(opts.partitionSize.toLong, total - firstRow)
            // latest block whose cumulative count is <= firstRow
            var b = java.util.Arrays.binarySearch(cum, firstRow)
            if (b < 0) b = -b - 2
            parts += IndexedPartition(parts.length, file,
              ix.blocks(b).offset, firstRow - cum(b), take, mark())
            firstRow += take
          }
          rows += total
          remain -= total
        }
      case Enumerated(file, _, offsets, nodes) if remain > 0 =>
        val take = math.min(offsets.length.toLong, remain).toInt
        var i = 0
        while (i < take) {
          val end = math.min(i + opts.partitionSize, take)
          parts += EnumeratedPartition(parts.length, file,
            offsets.slice(i, end), nodes.slice(i, end), mark())
          i = end
        }
        rows += take
        remain -= take
      case Ranged(file, bytes) if remain > 0 =>
        exact = false
        var start = 0L
        while (start < bytes) {
          val len = math.min(opts.partitionBytes, bytes - start)
          parts += RangePartition(parts.length, file, start, len, mark())
          start += len
        }
      case Pst(file, _, nids, classified) if remain > 0 =>
        if (!filter.filtersClass || filter.wantFolder || classified) {
          // the node enumeration IS the row set (folders, unfiltered
          // messages, or plan-classified typed nodes): exact counts,
          // exact GLOBAL limit allocation
          val total = math.min(nids.length.toLong, remain)
          var i = 0L
          while (i < total) {
            val end = math.min(i + opts.partitionSize, total).toInt
            parts += PstPartition(parts.length, file, nids.slice(i.toInt, end),
              exact = true, mark())
            i = end
          }
          rows += total
          remain -= total
        } else {
          // unlimited typed modes: class lives in each node's property
          // context; the reader classifies on the executors (plan-time
          // classification would re-read the corpus on the driver)
          exact = false
          var i = 0
          while (i < nids.length) {
            val end = math.min(i + opts.partitionSize, nids.length)
            parts += PstPartition(parts.length, file, nids.slice(i, end),
              exact = false, mark())
            i = end
          }
        }
      case _ => () // limit exhausted
      }
    }

    PlanResult(parts.toSeq, if (exact) Some(rows) else None,
      files.map(_._2).sum, files.length)
  }
}

class MailboxScanBuilder(opts: MailboxOptions)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var requiredSchema: StructType = MailboxTable.schemaFor(opts)
  private var exactClasses: Seq[String] = Nil
  private var accepted: Array[Filter] = Array.empty
  private var limit: Option[Long] = None
  private var countStar: Boolean = false
  private var pushedStats: Option[StatsAggregate] = None

  private def filter: RecordFilter = RecordFilter(opts.mode, exactClasses)

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  /** A5 — `message_class = '…'` becomes a plan-time row filter: exact
    * string equality on the raw column, layered on top of the mode's
    * taxonomy filter. Everything else stays residual for Spark.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition {
      case EqualTo("message_class", _: String)
          if MailboxSchema.isMessageMode(opts.mode) => true
      case _ => false
    }
    ok.collect { case EqualTo(_, v: String) => v }.foreach { v =>
      if (!exactClasses.contains(v)) exactClasses :+= v
    }
    accepted = ok
    residual
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pushLimit(l: Int): Boolean = {
    limit = Some(math.min(l.toLong, opts.readLimit))
    true // exact: planning allocates exactly `limit` rows (A6)
  }

  /** A9 — count(*) with no grouping is answered from planning statistics;
    * partial pushdown: each partition emits its exact count, Spark sums.
    *
    * Beyond count(*): MIN/MAX(message_delivery_time) and count(*) —
    * ungrouped, or GROUP BY message_class — are answered from the v3
    * sidecars' per-class statistics (the parquet-footer-min/max analog)
    * when EVERY glob member has fresh, conclusive stats. The whole
    * aggregate becomes one static partition: one row, or one row per
    * raw class (partial pushdown: Spark still re-aggregates our rows,
    * which is exact). [[MailboxPlanner.classStatsProbe]] decides at plan
    * time, and anything it cannot answer exactly falls back to the
    * ordinary columnar scan (Spark then aggregates the pruned columns
    * itself).
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (limit.nonEmpty) return false
    val exprs   = agg.aggregateExpressions()
    val grouped = agg.groupByExpressions.nonEmpty
    if (!grouped && exprs.length == 1 && exprs(0).isInstanceOf[CountStar]) {
      countStar = true
      return true
    }
    val byClass = agg.groupByExpressions match {
      case Array(nr: NamedReference) => nr.fieldNames.toSeq == Seq("message_class")
      case _ => false
    }
    if (grouped && !(byClass && MailboxSchema.isMessageMode(opts.mode)))
      return false
    val columns = exprs.map(MailboxScanBuilder.statsColumn)
    if (columns.isEmpty || columns.exists(_.isEmpty)) return false
    val (fields, values) = columns.map(_.get).toSeq.unzip
    def row(key: Seq[Any], cnt: Long, minMax: Option[(Long, Long)]) =
      new GenericInternalRow((key ++ values.map(_(cnt, minMax))).toArray)
    val needTs = !exprs.forall(_.isInstanceOf[CountStar])
    pushedStats = MailboxPlanner.classStatsProbe(opts, filter,
        MailboxPlanner.activeHadoopConf(), needTs).flatMap { classes =>
      if (!grouped) {
        val withTs = classes.flatMap(_._3)
        val minMax =
          if (withTs.isEmpty) None // zero non-null rows: MIN/MAX is NULL
          else Some((withTs.map(_._1).min, withTs.map(_._2).max))
        Some(StatsAggregate(StructType(fields),
          Array(row(Nil, classes.map(_._2).sum, minMax)), grouped = false))
      } else if (classes.exists(_._1.isEmpty)) {
        // a record head without message_class: the scan would group it
        // under NULL, which the sidecar conflates with ""
        None
      } else Some(StatsAggregate(
        StructType(StructField("message_class", StringType) +: fields),
        classes.map { case (cls, cnt, minMax) =>
          row(Seq(UTF8String.fromString(cls)), cnt, minMax)
        }.toArray, grouped = true))
    }
    pushedStats.isDefined
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean = false

  override def build(): Scan =
    new MailboxScan(opts, requiredSchema, filter, limit, countStar,
      pushedStats)
}

object MailboxScanBuilder {
  private val TsField = "message_delivery_time"

  /** An aggregate the sidecar statistics answer — count(*) or
    * MIN/MAX(message_delivery_time) — as its output field and its value
    * from a (count, delivery (min, max) in epoch seconds) pair; None for
    * anything else.
    */
  private def statsColumn(e: AggregateFunc)
      : Option[(StructField, (Long, Option[(Long, Long)]) => Any)] = {
    def ts(c: ConnectorExpression): Boolean = c match {
      case nr: NamedReference => nr.fieldNames.toSeq == Seq(TsField)
      case _ => false
    }
    def timestamp(name: String, pick: ((Long, Long)) => Long) = Some((
      StructField(s"$name($TsField)", TimestampType, nullable = true),
      (_: Long, minMax: Option[(Long, Long)]) =>
        minMax.map(mm => pick(mm) * 1000000L: Any).orNull)) // → catalyst micros
    e match {
      case _: CountStar => Some((
        StructField("count(*)", LongType, nullable = false),
        (cnt: Long, _: Option[(Long, Long)]) => cnt))
      case m: Min if ts(m.column) => timestamp("min", _._1)
      case m: Max if ts(m.column) => timestamp("max", _._2)
      case _ => None
    }
  }
}

/** A fully statistics-answered aggregate: its output schema and rows —
  * one row, or one per raw class when `grouped` by message_class.
  */
final case class StatsAggregate(
    schema: StructType, rows: Array[InternalRow], grouped: Boolean)

/** A11 — scan progress metrics, mirroring the reference's % scanned
  * reporting (table_function.cpp:359-365) as Spark SQL custom metrics.
  */
object MailboxMetrics {
  final val RowsRead  = "mailboxRowsRead"
  final val BytesRead = "mailboxBytesRead"
  final val FilesRead = "mailboxFilesRead"

  def all: Array[CustomMetric] = Array(
    new MailboxRowsReadMetric, new MailboxBytesReadMetric,
    new MailboxFilesReadMetric)

  final case class Task(name: String, value: Long) extends CustomTaskMetric

  /** The three task metrics every reader reports. */
  def report(rows: Long, bytes: Long, firstInFile: Boolean)
      : Array[CustomTaskMetric] = Array(
    Task(RowsRead, rows), Task(BytesRead, bytes),
    Task(FilesRead, if (firstInFile) 1L else 0L))
}

// top-level with 0-arg constructors: the SQL UI re-instantiates metric
// classes reflectively when aggregating task values
class MailboxRowsReadMetric extends CustomSumMetric {
  override def name(): String = MailboxMetrics.RowsRead
  override def description(): String = "mailbox rows read"
}
class MailboxBytesReadMetric extends CustomSumMetric {
  override def name(): String = MailboxMetrics.BytesRead
  override def description(): String = "mailbox bytes read"
}
class MailboxFilesReadMetric extends CustomSumMetric {
  override def name(): String = MailboxMetrics.FilesRead
  override def description(): String = "mailbox files read"
}

class MailboxScan(
    opts: MailboxOptions,
    requiredSchema: StructType,
    filter: RecordFilter,
    limit: Option[Long],
    countStar: Boolean,
    pushedStats: Option[StatsAggregate] = None)
  extends Scan with Batch with SupportsReportStatistics {

  // captured at plan time on the driver; shipped to executors so custom
  // FileSystem schemes configured on the session work in readers (A19)
  private val serConf = new SerializableConfiguration(
    MailboxPlanner.activeHadoopConf())

  private lazy val planned: MailboxPlanner.PlanResult = {
    val effective = limit match {
      case Some(l) => MailboxOptions(opts.raw + ("read_limit" ->
        math.min(l, opts.readLimit).toString))
      case None => opts
    }
    MailboxPlanner.plan(effective, filter, serConf.value)
  }

  override def readSchema(): StructType = pushedStats match {
    case Some(a) => a.schema
    case None if countStar =>
      StructType(Seq(StructField("count(*)", LongType, nullable = false)))
    case None => requiredSchema
  }

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new MailboxMicroBatchStream(opts, requiredSchema, filter)

  /** A9 — under count(*), every partition whose count planning knows
    * exactly becomes a one-row static partition; when all of them are
    * exact the scan collapses to one partition carrying the total. The
    * rest (byte ranges, class-filtered PST slices) are counted by a
    * classify-only scan.
    */
  override def planInputPartitions(): Array[InputPartition] = pushedStats match {
    // fully stats-answered: one partition, zero IO (the probe already
    // paid the O(#files) sidecar reads at push time)
    case Some(a) => Array(StaticRowsPartition(a.rows, 0L))
    case None if countStar => planned.exactRows match {
      case Some(total) => Array(StaticRowsPartition.count(total))
      case None => planned.partitions.map {
        case ip: IndexedPartition    => StaticRowsPartition.count(ip.takeMatching)
        case ep: EnumeratedPartition => StaticRowsPartition.count(ep.offsets.length)
        case pp: PstPartition if pp.exact =>
          StaticRowsPartition.count(pp.nodeIds.length)
        case fp => fp
      }.toArray
    }
    case None => planned.partitions.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MailboxReaderFactory(readSchema(), opts, filter, countStar, serConf)

  override def supportedCustomMetrics(): Array[CustomMetric] =
    MailboxMetrics.all

  /** A8 — exact cardinality when planning knew it (sidecar-indexed or
    * enumerated); size-only estimate for range-planned files. A
    * stats-answered aggregate is a few rows and must not force a plan.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(pushedStats.map(64L * _.rows.length)
        .getOrElse(planned.exactRows.map(_ * 512L).getOrElse(planned.totalBytes)))
    override def numRows(): java.util.OptionalLong =
      pushedStats.map(a => java.util.OptionalLong.of(a.rows.length.toLong))
        .orElse(planned.exactRows.map(java.util.OptionalLong.of))
        .getOrElse(java.util.OptionalLong.empty())
  }

  /** A12 — EXPLAIN metadata, mirroring PSTDynamicToString. */
  override def description(): String = {
    val classFilter =
      if (filter.filtersClass) s" classFilter=${filter.describe}" else ""
    pushedStats match {
      case Some(a) =>
        s"mailbox mode=${opts.mode} statsAggPushdown=" +
          (if (a.grouped) s"group groups=${a.rows.length}" else "true") +
          s" [${a.schema.fieldNames.mkString(", ")}]" + classFilter
      case None =>
        s"mailbox mode=${opts.mode} files=${planned.files} " +
          s"partitions=${planned.partitions.length}" +
          planned.exactRows.map(r => s" rows=$r").getOrElse(" rows=est") +
          (if (countStar) " countStarPushdown=true" else "") +
          limit.map(l => s" limit=$l").getOrElse("") + classFilter
    }
  }
}

/** One reader per partition shape: static rows, PST node slices, `.mbx`
  * slices. Under a pushed count(*) a file's row reader projects nothing
  * — it only classifies — and [[CountingReader]] turns its rows into one
  * count, so a count always equals the rows the same scan returns.
  */
class MailboxReaderFactory(
    readSchema: StructType,
    opts: MailboxOptions,
    filter: RecordFilter,
    countStar: Boolean,
    serConf: SerializableConfiguration) extends PartitionReaderFactory {

  private val rowSchema = if (countStar) new StructType() else readSchema

  private def counted(rows: PartitionReader[InternalRow]): PartitionReader[InternalRow] =
    if (countStar) new CountingReader(rows) else rows

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition.asInstanceOf[MailboxPartition] match {
      case sp: StaticRowsPartition => new StaticRowsReader(sp)
      case pp: PstPartition =>
        counted(new PstPartitionReader(pp, rowSchema, opts, filter, serConf.value))
      case mp: MbxPartition =>
        counted(new MailboxPartitionReader(mp, rowSchema, opts, filter, serConf.value))
    }
}

/** Emits a static partition's precomputed rows (zero IO). */
class StaticRowsReader(p: StaticRowsPartition) extends PartitionReader[InternalRow] {
  private var i = -1
  override def next(): Boolean = { i += 1; i < p.rows.length }
  override def get(): InternalRow = p.rows(i)
  override def close(): Unit = ()
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    MailboxMetrics.report(p.rowsRead, 0L, firstInFile = false)
}

/** A9 — count(*) over a partition planning could not count (a byte
  * range, a class-filtered PST slice): drains the row reader and emits
  * one row with the count. Metrics are the row reader's own.
  */
class CountingReader(rows: PartitionReader[InternalRow])
    extends PartitionReader[InternalRow] {
  private var count = -1L
  override def next(): Boolean =
    if (count >= 0) false
    else { count = 0L; while (rows.next()) count += 1; true }
  override def get(): InternalRow = new GenericInternalRow(Array[Any](count))
  override def close(): Unit = rows.close()
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    rows.currentMetricsValues()
}

/** Streams lines of one partition's byte span through a Hadoop FS input
  * stream (A19): seeks once, then reads sequentially in 64 KiB chunks
  * scanned in-place for newlines — no per-byte stream calls on the hot
  * path (this is the connector's innermost loop: every byte of the
  * corpus passes through it). Yields the line's ≤160-byte prefix (for
  * classification without allocation) plus, when `keepAll`, the full
  * line bytes.
  */
private[source] final class LineStream(
    file: String, startAt: Long, conf: Configuration,
    alignToNewline: Boolean) {

  private val path = LocalBuffer.resolvePath(file, conf)
  private val fsIn = path.getFileSystem(conf).open(path)
  if (startAt > 0) fsIn.seek(startAt)
  private val buf    = new Array[Byte](1 << 16)
  private var bufLen = 0
  private var bufPos = 0
  var pos: Long       = startAt
  var bytesRead: Long = 0L
  var lineStart: Long = startAt

  /** Refill the chunk buffer; false at EOF. */
  private def fill(): Boolean = {
    var n = fsIn.read(buf)
    while (n == 0) n = fsIn.read(buf)
    if (n < 0) false
    else { bufLen = n; bufPos = 0; true }
  }

  /** Jump to a known exact record offset: one FS seek, dropping the read
    * buffer — never re-reads the bytes in between (enumerated partitions
    * carry exact line-start offsets from planning).
    */
  def seekTo(target: Long): Unit = {
    fsIn.seek(target)
    bufLen = 0
    bufPos = 0
    pos = target
    lineStart = target
  }

  // a range partition's first (partial) line belongs to its predecessor
  if (alignToNewline && startAt > 0) {
    var skipped = 0L
    var done    = false
    while (!done) {
      if (bufPos >= bufLen && !fill()) done = true
      else {
        var i = bufPos
        while (i < bufLen && buf(i) != '\n') i += 1
        skipped += i - bufPos
        if (i < bufLen) { skipped += 1; bufPos = i + 1; done = true }
        else bufPos = bufLen
      }
    }
    bytesRead += skipped
    pos = startAt + skipped
  }

  /** Next line's (prefix, fullBytes-or-null). Returns null at EOF.
    * `lineStart` is the line's byte offset in the file.
    */
  def next(keepAll: Boolean): (String, Array[Byte]) = {
    lineStart = pos
    var out: ByteArrayOutputStream = null
    val head     = new Array[Byte](160)
    var headLen  = 0
    var consumed = 0L
    var sawBytes = false
    var done     = false
    while (!done) {
      if (bufPos >= bufLen && !fill()) done = true
      else {
        sawBytes = true
        var i = bufPos
        while (i < bufLen && buf(i) != '\n') i += 1
        val len = i - bufPos
        if (len > 0) {
          if (keepAll) {
            if (out == null) out = new ByteArrayOutputStream(math.max(256, len))
            out.write(buf, bufPos, len)
          }
          val copy = math.min(len, 160 - headLen)
          if (copy > 0) {
            System.arraycopy(buf, bufPos, head, headLen, copy)
            headLen += copy
          }
          consumed += len
        }
        if (i < bufLen) { consumed += 1; bufPos = i + 1; done = true }
        else bufPos = bufLen
      }
    }
    if (!sawBytes) return null
    pos += consumed
    bytesRead += consumed
    (new String(head, 0, headLen, "UTF-8"),
      if (!keepAll) null
      else if (out == null) Array.emptyByteArray
      else out.toByteArray)
  }

  def close(): Unit = fsIn.close()
}

/** Per-task reader (A15-A18): streams its byte span sequentially through
  * the Hadoop FS, parses only projected fields, null-tolerant per field.
  */
class MailboxPartitionReader(
    p: MbxPartition,
    readSchema: StructType,
    opts: MailboxOptions,
    filter: RecordFilter,
    conf: Configuration) extends PartitionReader[InternalRow] {

  private lazy val mapper  = new ObjectMapper()
  private lazy val factory = mapper.getFactory

  private val (startAt, align) = p match {
    case ip: IndexedPartition => (ip.startOffset, false)
    case rp: RangePartition   => (rp.start, true)
    // enumerated offsets are exact line starts — open at the first one
    case ep: EnumeratedPartition => (ep.offsets.headOption.getOrElse(0L), false)
  }
  private val stream = new LineStream(p.file, startAt, conf, align)

  private var rowsRead = 0L
  // the record `next` stopped on; `get` builds its row once, so a count
  // (which never calls `get`) only classifies
  private var currentLine: Array[Byte] = _
  private var current: InternalRow = _
  private var currentNodeId: Long = -1L

  // enumerated-partition cursor
  private var enumIdx = -1
  // indexed-partition cursors
  private var skipped = 0L
  private var taken   = 0L

  private val fileName = new Path(p.file).getName
  private val bodyBudget: Long =
    if (opts.bodySizeBytes <= 0) 0L else opts.bodySizeBytes

  // a projection of meta columns only (count(*) projects none) needs no
  // record content: classify on the line prefix, never buffer or parse
  private val metaFields = MailboxTable.MetaColumns
  private val needContent = readSchema.fields.exists(f => !metaFields.contains(f.name))
  // fast path: if every projected field is a top-level scalar, extract
  // values with the streaming parser and never build a JsonNode tree
  // (~2-3x less allocation on analytic projections)
  private val flatOnly: Boolean = readSchema.fields.forall { f =>
    metaFields.contains(f.name) || (f.dataType match {
      case _: ArrayType | _: StructType => false
      case _                            => true
    })
  }
  private val fieldIndex: Map[String, Int] =
    readSchema.fieldNames.zipWithIndex.toMap
  // the node id is parsed from the record head only when projected
  private val wantNodeId = fieldIndex.contains("__node_id")
  private def nodeIdOf(prefix: String): Long =
    if (wantNodeId) MailboxPlanner.nodeIdOf(prefix) else -1L

  override def next(): Boolean = p match {
    case ip: IndexedPartition =>
      if (taken >= ip.takeMatching) false
      else {
        var emitted = false
        var eof     = false
        while (!emitted && !eof) {
          val line = stream.next(keepAll = needContent && skipped >= ip.skipMatching)
          if (line == null) eof = true
          else {
            val prefix = line._1
            if (prefix.startsWith("{\"node_id\":") &&
                MailboxPlanner.lineMatches(prefix, filter)) {
              if (skipped < ip.skipMatching) skipped += 1
              else {
                emit(line._2, nodeIdOf(prefix))
                taken += 1
                emitted = true
              }
            }
          }
        }
        emitted
      }

    case rp: RangePartition =>
      val end = rp.start + rp.length
      var emitted = false
      var done    = false
      while (!emitted && !done) {
        // Hadoop boundary rule: a record belongs to this range iff it
        // starts at pos <= end (the next range's align-skip discards it)
        if (stream.pos > end) done = true
        else {
          val line = stream.next(keepAll = needContent)
          if (line == null) done = true
          else {
            val prefix = line._1
            if (prefix.startsWith("{\"node_id\":") &&
                MailboxPlanner.lineMatches(prefix, filter)) {
              emit(line._2, nodeIdOf(prefix))
              emitted = true
            }
          }
        }
      }
      emitted

    case ep: EnumeratedPartition =>
      enumIdx += 1
      if (enumIdx >= ep.offsets.length) false
      else {
        val target = ep.offsets(enumIdx)
        // offsets are exact line starts from planning: seek, never
        // re-read the bytes between enumerated records
        if (target != stream.pos) stream.seekTo(target)
        val line = stream.next(keepAll = needContent)
        if (line == null) false
        else { emit(line._2, ep.nodeIds(enumIdx)); true }
      }
  }

  private def emit(lineBytes: Array[Byte], nodeId: Long): Unit = {
    currentLine = lineBytes
    currentNodeId = nodeId
    current = null
    rowsRead += 1
  }

  override def get(): InternalRow = {
    if (current == null) current =
      if (!needContent) metaRow()
      else try {
        if (flatOnly) rowOfStreaming(currentLine)
        else rowOf(mapper.readTree(currentLine))
      } catch { case NonFatal(_) => metaRow() }
    current
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    MailboxMetrics.report(rowsRead, stream.bytesRead, p.firstInFile)

  /** Streaming extraction of projected top-level scalars. */
  private def rowOfStreaming(line: Array[Byte]): InternalRow = {
    import com.fasterxml.jackson.core.JsonToken
    val values = new Array[Any](readSchema.length)
    val parser = factory.createParser(line)
    try {
      if (parser.nextToken() == JsonToken.START_OBJECT) {
        var tok = parser.nextToken()
        while (tok != JsonToken.END_OBJECT && tok != null) {
          val name = parser.currentName()
          parser.nextToken() // move onto the value
          fieldIndex.get(name) match {
            case Some(i) if !metaFields.contains(name) =>
              values(i) =
                try {
                  if (parser.currentToken() == JsonToken.VALUE_NULL) null
                  else scalarValue(readSchema.fields(i), parser)
                } catch { case NonFatal(_) => null }
            case _ => parser.skipChildren() // no-op for scalars
          }
          tok = parser.nextToken()
        }
      }
    } finally parser.close()
    fillMeta(values)
    new GenericInternalRow(values)
  }

  private def truncate(name: String, s: String): String =
    if (name == "body" || name == "body_html")
      MailboxText.truncateUtf16(s, bodyBudget)
    else s

  private def scalarValue(
      f: StructField, parser: com.fasterxml.jackson.core.JsonParser): Any =
    f.dataType match {
      case StringType =>
        UTF8String.fromString(truncate(f.name, parser.getValueAsString))
      case LongType      => parser.getValueAsLong
      case IntegerType   => parser.getValueAsInt
      case ShortType     => parser.getValueAsInt.toShort
      case DoubleType    => parser.getValueAsDouble
      case BooleanType   => parser.getValueAsBoolean
      case TimestampType => parser.getValueAsLong * 1000000L
      case BinaryType    => Base64.getDecoder.decode(parser.getValueAsString)
      case _             => null
    }

  private def fillMeta(values: Array[Any]): Unit = {
    fieldIndex.get("pst_path").foreach(i =>
      values(i) = UTF8String.fromString(p.file))
    fieldIndex.get("pst_name").foreach(i =>
      values(i) = UTF8String.fromString(fileName))
    fieldIndex.get("__partition").foreach(i => values(i) = p.index.toLong)
    fieldIndex.get("__node_id").foreach(i => values(i) = currentNodeId)
  }

  /** The meta columns filled, every record column NULL. */
  private def metaRow(): InternalRow = {
    val values = new Array[Any](readSchema.length)
    fillMeta(values)
    new GenericInternalRow(values)
  }

  private def rowOf(node: JsonNode): InternalRow = {
    val values = new Array[Any](readSchema.length)
    var i = 0
    while (i < readSchema.length) {
      val f = readSchema.fields(i)
      // A16: any per-field failure degrades to NULL, never kills the row
      values(i) =
        try fieldValue(f, node)
        catch { case NonFatal(_) => null }
      i += 1
    }
    new GenericInternalRow(values)
  }

  private def fieldValue(f: StructField, node: JsonNode): Any = f.name match {
    case "pst_path"    => UTF8String.fromString(p.file)
    case "pst_name"    => UTF8String.fromString(fileName)
    case "__partition" => p.index.toLong
    case "__node_id"   => currentNodeId
    case name =>
      val v = node.get(name)
      if (v == null || v.isNull) null
      else convert(name, f.dataType, v)
  }

  private def convert(name: String, dt: DataType, v: JsonNode): Any = dt match {
    case StringType =>
      UTF8String.fromString(truncate(name, v.asText()))
    case LongType      => v.asLong()
    case IntegerType   => v.asInt()
    case ShortType     => v.asInt().toShort
    case DoubleType    => v.asDouble()
    case BooleanType   => v.asBoolean()
    case BinaryType =>
      if (name == "bytes" && !opts.readAttachmentBody) null
      else Base64.getDecoder.decode(v.asText())
    case TimestampType => v.asLong() * 1000000L // TIMESTAMP_S → micros
    case ArrayType(et, _) =>
      val items = (0 until v.size()).map(j => convert(name, et, v.get(j)))
      new GenericArrayData(items.toArray)
    case st: StructType =>
      val vals = st.fields.map { sf =>
        val c = v.get(sf.name)
        if (c == null || c.isNull) null
        else
          try convert(sf.name, sf.dataType, c)
          catch { case NonFatal(_) => null }
      }
      new GenericInternalRow(vals.asInstanceOf[Array[Any]])
    case _ => null
  }

  override def close(): Unit = stream.close()
}
