package graft.source

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.MailboxSchema.Mode
import graft.source.pst.{PstFile, PstReader}

/** Real PST binary files served through the same mailbox DSv2 table
  * machinery as `.mbx` dumps (glob, modes, projection, limits, stats,
  * metrics). A file is routed here when its first 4 bytes are the
  * `!BDN` NDB magic; everything else is planned as JSONL.
  *
  * Planning matches the reference exactly: enumerate node ids from the
  * PST's own node b-tree *without reading message content*
  * (table_function.cpp:100-212) — O(index) bytes per file, never the
  * corpus. Typed modes (contacts, tasks, …) need each candidate's
  * message class, which lives in the node's property context, so their
  * class filter is applied by the reader, and planning reports their
  * cardinality as an estimate (`exact` only when no class filter).
  */
object PstScan {

  /** 4-byte magic probe (the analog of the reference failing the PST
    * header check, A20). O(4) bytes.
    */
  def isPst(file: Path, conf: Configuration): Boolean = {
    val fs = file.getFileSystem(conf)
    val in = fs.open(file)
    try {
      val head = new Array[Byte](4)
      var got = 0
      while (got < head.length) {
        val n = in.read(head, got, head.length - got)
        if (n < 0) return false
        got += n
      }
      head(0) == '!' && head(1) == 'B' && head(2) == 'D' && head(3) == 'N'
    } catch { case NonFatal(_) => false }
    finally in.close()
  }

  /** Plan-time node enumeration: node ids of the mode's NID type, in
    * ascending order, from the NBT only.
    */
  def enumerate(file: String, conf: Configuration, wantFolder: Boolean): Array[Long] = {
    val pst = PstFile.open(file, conf)
    try {
      val t = if (wantFolder) 0x02 else 0x04
      pst.nodes.valuesIterator
        .filter(e => e.nidType == t && e.bidData != 0)
        .map(_.nid).toArray.sorted
    } finally pst.close()
  }

  /** Plan-time bounded classification for `read_limit` on typed modes:
    * read each candidate node's class property (lazy PropertyContext —
    * no recipient/attachment/body materialization) in node-id order,
    * stopping at `limit` matches. Keeps the limit exact and GLOBAL
    * across partitions, the same discipline as the reference's limit
    * break (table_function.cpp) and the JSONL path's enumerateBounded.
    * A node whose classification throws is kept: the reader serializes
    * it as a null-tolerant row (A16), so it occupies a limit slot there
    * too.
    */
  def classifyBounded(file: String, conf: Configuration, nids: Array[Long],
      filter: RecordFilter, limit: Long): Array[Long] = {
    val pst = PstFile.open(file, conf)
    try {
      val reader  = new PstReader(pst)
      val matched = new scala.collection.mutable.ArrayBuffer[Long]()
      var i = 0
      while (i < nids.length && matched.length < limit) {
        val nid = nids(i)
        val ok =
          try filter.matchesClass(reader.messageClass(nid))
          catch { case NonFatal(_) => true }
        if (ok) matched += nid
        i += 1
      }
      matched.toArray
    } finally pst.close()
  }
}

/** Row reader over assigned node ids: opens the PST through the Hadoop
  * FS, serializes each node's property bag onto the projected columns
  * (the Spark analog of row_serializer.cpp's into_row).
  */
class PstPartitionReader(
    p: PstPartition,
    readSchema: StructType,
    opts: MailboxOptions,
    filter: RecordFilter,
    conf: Configuration) extends PartitionReader[InternalRow] {

  private val wantFolder = filter.wantFolder
  // opened on first use: a meta-only projection of exact nodes never is
  private var opened      = false
  private lazy val pst    = { val f = PstFile.open(p.file, conf); opened = true; f }
  private lazy val reader = new PstReader(pst)

  // a projection of meta columns only (count(*) projects none) needs no
  // node content: classify, never serialize
  private val needContent =
    readSchema.fields.exists(f => !MailboxTable.MetaColumns.contains(f.name))
  private val bodyBudget: Long =
    if (opts.bodySizeBytes <= 0) 0L else opts.bodySizeBytes

  private var i = -1
  private var rowsRead = 0L
  private var current: InternalRow = _

  // Any read_limit is allocated exactly and globally at plan time (the
  // planner classifies nodes when a typed mode is limited), so the
  // reader itself never caps rows — a cap here would be per-partition
  // and could multiply the limit by the partition count.
  override def next(): Boolean = {
    var found = false
    while (!found && i < p.nodeIds.length - 1) {
      i += 1
      val nid = p.nodeIds(i)
      try {
        if (wantFolder) {
          current = project(
            if (needContent) reader.folderRow(nid) else Map.empty, nid)
          found = true
        } else if (p.exact || filter.matchesClass(reader.messageClass(nid))) {
          current = project(
            if (needContent) reader.messageRow(nid, opts.readAttachmentBody)
            else Map.empty, nid)
          found = true
        }
      } catch {
        case NonFatal(_) => // A16: a malformed node degrades to a null row
          current = project(Map("node_id" -> nid), nid)
          found = true
      }
    }
    if (found) rowsRead += 1
    found
  }

  /** Project the serializer's column map onto the required schema.
    * TIMESTAMP_S semantics: micros truncated to whole seconds
    * (row_serializer.cpp:44-47); body/body_html honor the UTF-16 byte
    * budget (A13/A17).
    */
  private def project(row: Map[String, Any], nid: Long): InternalRow = {
    val values = new Array[Any](readSchema.length)
    var j = 0
    while (j < readSchema.length) {
      val f = readSchema.fields(j)
      values(j) = f.name match {
        case "pst_path"    => UTF8String.fromString(p.file)
        case "pst_name"    => UTF8String.fromString(reader.storeName)
        case "__partition" => p.index.toLong
        case "__node_id"   => nid
        case name =>
          row.getOrElse(name, null) match {
            case null => null
            case v: Long if f.dataType == TimestampType =>
              Math.floorDiv(v, 1000000L) * 1000000L
            case s: UTF8String if name == "body" || name == "body_html" =>
              UTF8String.fromString(
                MailboxText.truncateUtf16(s.toString, bodyBudget))
            case v => v
          }
      }
      j += 1
    }
    new GenericInternalRow(values)
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (opened) pst.close()
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    MailboxMetrics.report(rowsRead, if (opened) pst.bytesRead else 0L,
      p.firstInFile)
}
