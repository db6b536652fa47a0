package graft.source

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Per-file sidecar index for mailbox (`*.mbx`) archives — the analog of
  * the PST node index the reference plans from (table_function.cpp:100-212:
  * the reference enumerates node ids from the PST's b-tree WITHOUT reading
  * message content; a JSONL stand-in has no embedded index, so the index
  * lives in a `<file>.idx` sidecar instead).
  *
  * With sidecars present, scan planning reads O(#files) metadata bytes —
  * never the corpus — while keeping the reference's plan-time guarantees:
  * exact per-class cardinalities (A8), count(*) answered with zero
  * execution IO (A9), exact `read_limit` allocation (A6), and fixed-size
  * row partitions (A4).
  *
  * Format (one JSON document, v3):
  * {{{
  * {"v":3,"size":<bytes>,"fp":<crc>,"lines":<n>,
  *  "classes":["F","m:IPM.Note",...],        // "F" = folder records;
  *                                           // messages "m:"-namespaced
  *  "totals":[16,5,...],                     // per-class line counts
  *  "tsmin":[...],"tsmax":[...],             // per-class delivery-time
  *  "tsn":[...],"tsu":[...],                 //   min/max/non-null/unknown
  *  "blocks":[[offset,lines,c0,c1,...],...]} // checkpoint every 512 lines
  * }}}
  * `fp` is the head/tail CRC content fingerprint checked (with `size`)
  * for sidecar freshness.
  *
  * v3 adds per-class `message_delivery_time` statistics — the analog of
  * a parquet column chunk's min/max — read from the bounded record head
  * (the MailboxGen layout contract puts the timestamp fields in the
  * first 384 bytes). `tsn` counts rows with a non-null value, `tsu`
  * rows whose head did NOT contain the field (foreign layouts): any
  * matching class with `tsu > 0` makes the statistics inconclusive and
  * the planner refuses the aggregate pushdown rather than guess.
  *
  * Block checkpoints let the planner cut partitions at exact matching-row
  * boundaries: a partition starts at the latest block at-or-before its
  * first row and carries a skip count (< 512 lines of cheap prefix
  * re-classification — no JSON parse). Sidecar volume is ~50 bytes per
  * 512 lines (~0.01% of data at 1 KiB/line), the same order as parquet
  * footers.
  */
object MailboxIndex {

  // v2 added the content fingerprint and namespaced message classes
  // ("m:" prefix) so the folder marker can never collide with a message
  // whose class string is literally "F"; v3 adds per-class delivery-time
  // min/max statistics. Older sidecars are rejected and planning falls
  // back to range splits — never stale rows.
  val Version    = 3
  val BlockLines = 512
  /** Record-head bytes retained per line: classification fields fit in
    * 160, the stats (timestamp) fields in 384 — the MailboxGen layout
    * contract.
    */
  val HeadBytes  = 384
  val FolderClass = "F"
  private val MsgPrefix = "m:"

  /** Sidecar storage key for a record: folders → the "F" marker,
    * messages → their namespaced class string.
    */
  def storageClass(prefix: String): String =
    if (prefix.contains("\"record_type\":\"folder\"")) FolderClass
    else MsgPrefix + classOfPrefix(prefix)

  /** One block checkpoint: byte offset, line count, per-class line counts
    * (indices into `classes`).
    */
  final case class Block(offset: Long, lines: Int, classCounts: Array[Int])

  /** Per-class `message_delivery_time` statistics (parallel to
    * `classes`): min/max over non-null values (undefined when
    * `nonNull == 0`), the non-null row count, and the count of rows
    * whose record head lacked the field entirely (stats inconclusive).
    */
  final case class TsStats(
      min: Array[Long],
      max: Array[Long],
      nonNull: Array[Long],
      unknown: Array[Long])

  final case class FileIndex(
      size: Long,
      fingerprint: Long,
      lines: Long,
      classes: Array[String],
      totals: Array[Long],
      blocks: Array[Block],
      ts: TsStats) {

    /** Index positions of message classes (stored namespaced as "m:…",
      * so the folder marker can never collide) matching the plan
      * filter — taxonomy + exact-equality semantics live in
      * [[RecordFilter.matchesClass]], so the sidecar's exact per-class
      * counts answer taxonomy-bucketed modes too (e.g. notes mode sums
      * `IPM.Note` + every unknown-class total).
      */
    private def matchingClasses(filter: RecordFilter): Array[Int] =
      classes.indices
        .filter(i => classes(i).startsWith("m:") &&
          filter.matchesClass(classes(i).substring(2)))
        .toArray

    /** Per-matching-class rows for aggregate pushdown: (raw class,
      * total, tsMin, tsMax, tsNonNull, tsUnknown). The caller merges
      * across files and decides whether the timestamp side is
      * conclusive; counts are always exact. None for folder scans
      * (folders carry no class or delivery time).
      */
    def classGroupStats(filter: RecordFilter)
        : Option[Seq[(String, Long, Long, Long, Long, Long)]] =
      if (filter.wantFolder) None
      else Some(matchingClasses(filter).toSeq.map { i =>
        (classes(i).substring(2), totals(i),
          ts.min(i), ts.max(i), ts.nonNull(i), ts.unknown(i))
      })

    /** Exact number of rows a scan with this record filter yields. */
    def matchingCount(filter: RecordFilter): Long =
      if (filter.wantFolder) {
        val i = classes.indexOf(FolderClass); if (i < 0) 0L else totals(i)
      } else matchingClasses(filter).map(totals).sum

    /** Per-block matching counts under the same filter. */
    def blockMatching(filter: RecordFilter): Array[Long] =
      if (filter.wantFolder) {
        val i = classes.indexOf(FolderClass)
        blocks.map(b => if (i < 0) 0L else b.classCounts(i).toLong)
      } else {
        val ms = matchingClasses(filter)
        blocks.map(b => ms.map(b.classCounts(_).toLong).sum)
      }
  }

  def indexPath(file: Path): Path =
    new Path(file.getParent, file.getName + ".idx")

  /** Cheap content fingerprint: CRC32 of the file's head, middle, and
    * tail 512-byte blocks. Catches in-place rewrites that preserve byte
    * length (size alone cannot) without reading the corpus — O(1.5 KiB)
    * per file at plan time. Sampled, not exhaustive: an adversarial
    * rewrite confined to unsampled byte ranges passes; full certainty
    * requires re-indexing (`indexAll`), which reads everything anyway.
    * Modification time is deliberately NOT used: VCS checkouts and
    * copies rewrite mtimes, which would spuriously invalidate every
    * sidecar after a clone.
    */
  def fingerprint(fs: FileSystem, file: Path, size: Long): Long = {
    val n    = math.min(512L, size).toInt
    val head = new Array[Byte](n)
    val mid  = new Array[Byte](n)
    val tail = new Array[Byte](n)
    val in   = fs.open(file)
    try {
      in.readFully(0, head)
      if (size > 2L * n) in.readFully(size / 2 - n / 2, mid)
      if (size > n) in.readFully(size - n, tail)
    } finally in.close()
    val crc = new java.util.zip.CRC32
    crc.update(head)
    if (size > 2L * n) crc.update(mid)
    if (size > n) crc.update(tail)
    crc.getValue
  }

  // ── building ─────────────────────────────────────────────────────────

  /** Extract a message record's class from its line prefix ("" when
    * absent/null — the taxonomy buckets that into notes, like the
    * reference's missing PR_MESSAGE_CLASS_A). The format contract
    * (MailboxGen layout) puts node_id / record_type / message_class in
    * the first 160 bytes, so classification never needs a full parse.
    */
  def classOfPrefix(prefix: String): String = {
    val k = prefix.indexOf("\"message_class\":\"")
    if (k < 0) ""
    else {
      val start = k + 17
      val end   = prefix.indexOf('"', start)
      if (end < 0) "" else prefix.substring(start, end)
    }
  }

  /** Delivery time from a record head. `truncated` = the head was cut
    * at [[HeadBytes]], so an absent key may still exist later in the
    * line. Returns:
    *  - `Some(Some(sec))` — field present with a numeric value,
    *  - `Some(None)`      — field present and JSON null, or the WHOLE
    *                        line fit in the head and has no field
    *                        (genuinely null column),
    *  - `None`            — inconclusive (truncated head without the
    *                        field, or a value cut mid-digits).
    */
  def deliveryOfPrefix(prefix: String, truncated: Boolean)
      : Option[Option[Long]] = {
    val key = "\"message_delivery_time\":"
    val k = prefix.indexOf(key)
    if (k < 0) { if (truncated) None else Some(None) }
    else {
      val start = k + key.length
      if (prefix.startsWith("null", start)) Some(None)
      else {
        var i = start
        if (i < prefix.length && prefix.charAt(i) == '-') i += 1
        val digitsStart = i
        while (i < prefix.length && prefix.charAt(i).isDigit) i += 1
        if (i == digitsStart) None // malformed / cut before digits
        else if (i == prefix.length && truncated) None // cut mid-digits
        else Some(Some(prefix.substring(start, i).toLong))
      }
    }
  }

  /** Build the index by scanning the file once (the indexing pass — run
    * distributed via [[indexAll]] for large corpora; planning afterwards
    * never re-reads data). Throws if the first record is not
    * mailbox-shaped (A20: such files fail the bind).
    */
  def build(fs: FileSystem, file: Path): FileIndex = {
    val status = fs.getFileStatus(file)
    val in     = fs.open(file)
    val classes = new ArrayBuffer[String]()
    val classIdx = scala.collection.mutable.HashMap[String, Int]()
    val totals  = new ArrayBuffer[Long]()
    val blocks  = new ArrayBuffer[Block]()
    val tsMin   = new ArrayBuffer[Long]()
    val tsMax   = new ArrayBuffer[Long]()
    val tsN     = new ArrayBuffer[Long]()
    val tsU     = new ArrayBuffer[Long]()

    var blockStart  = 0L
    var blockLines  = 0
    var blockCounts = new ArrayBuffer[Int]()
    var lines       = 0L
    var first       = true

    def idxOf(c: String): Int = classIdx.getOrElseUpdate(c, {
      classes += c; totals += 0L
      tsMin += Long.MaxValue; tsMax += Long.MinValue; tsN += 0L; tsU += 0L
      classes.length - 1
    })

    def flushBlock(nextOffset: Long): Unit = {
      if (blockLines > 0) {
        val arr = new Array[Int](classes.length)
        var i = 0
        while (i < blockCounts.length) { arr(i) = blockCounts(i); i += 1 }
        blocks += Block(blockStart, blockLines, arr)
      }
      blockStart = nextOffset
      blockLines = 0
      blockCounts = new ArrayBuffer[Int]()
    }

    val buf  = new Array[Byte](1 << 16)
    val head = new Array[Byte](HeadBytes)
    try {
      var headLen   = 0
      var truncated = false
      var lineStart = 0L
      var abs       = 0L
      var eof       = false

      def processLine(lineEnd: Long): Unit = {
        if (headLen > 0) {
          val prefix = new String(head, 0, headLen, StandardCharsets.UTF_8)
          if (first && !prefix.startsWith("{\"node_id\":"))
            throw new IllegalArgumentException(s"not a mailbox dump: $file")
          first = false
          val c = idxOf(storageClass(prefix))
          totals(c) += 1
          deliveryOfPrefix(prefix, truncated) match {
            case Some(Some(sec)) =>
              if (sec < tsMin(c)) tsMin(c) = sec
              if (sec > tsMax(c)) tsMax(c) = sec
              tsN(c) += 1
            case Some(None) => // known null: excluded, stats stay exact
            case None       => tsU(c) += 1
          }
          while (blockCounts.length < classes.length) blockCounts += 0
          blockCounts(c) += 1
          blockLines += 1
          lines += 1
          if (blockLines >= BlockLines) flushBlock(lineEnd)
        }
      }

      while (!eof) {
        val n = in.read(buf)
        if (n < 0) { processLine(abs); eof = true }
        else {
          var i = 0
          while (i < n) {
            val b = buf(i)
            if (b == '\n') {
              processLine(abs + i + 1)
              lineStart = abs + i + 1
              headLen = 0
              truncated = false
            } else if (headLen < HeadBytes) {
              head(headLen) = b
              headLen += 1
            } else truncated = true
            i += 1
          }
          abs += n
        }
      }
    } finally in.close()
    flushBlock(0L)
    FileIndex(status.getLen, fingerprint(fs, file, status.getLen), lines,
      classes.toArray, totals.toArray, blocks.toArray,
      TsStats(tsMin.toArray, tsMax.toArray, tsN.toArray, tsU.toArray))
  }

  // ── serialization ────────────────────────────────────────────────────

  def toJson(ix: FileIndex): String = {
    val sb = new StringBuilder(256)
    sb.append("{\"v\":").append(Version)
      .append(",\"size\":").append(ix.size)
      .append(",\"fp\":").append(ix.fingerprint)
      .append(",\"lines\":").append(ix.lines)
      .append(",\"classes\":[")
    sb.append(ix.classes.map(c => "\"" + c.replace("\"", "\\\"") + "\"").mkString(","))
    sb.append("],\"totals\":[").append(ix.totals.mkString(","))
    sb.append("],\"tsmin\":[").append(ix.ts.min.mkString(","))
    sb.append("],\"tsmax\":[").append(ix.ts.max.mkString(","))
    sb.append("],\"tsn\":[").append(ix.ts.nonNull.mkString(","))
    sb.append("],\"tsu\":[").append(ix.ts.unknown.mkString(","))
    sb.append("],\"blocks\":[")
    sb.append(ix.blocks.map(b =>
      (Seq(b.offset, b.lines.toLong) ++ b.classCounts.map(_.toLong)).mkString("[", ",", "]")
    ).mkString(","))
    sb.append("]}")
    sb.toString
  }

  def fromJson(json: String): FileIndex = {
    val node = new ObjectMapper().readTree(json)
    require(node.get("v").asInt() == Version, "unknown mailbox index version")
    val classes = (0 until node.get("classes").size())
      .map(node.get("classes").get(_).asText()).toArray
    val totals = (0 until node.get("totals").size())
      .map(node.get("totals").get(_).asLong()).toArray
    def longs(field: String): Array[Long] = {
      val a = node.get(field)
      (0 until a.size()).map(a.get(_).asLong()).toArray
    }
    val blocks = (0 until node.get("blocks").size()).map { i =>
      val b = node.get("blocks").get(i)
      val counts = new Array[Int](b.size() - 2)
      var j = 2
      while (j < b.size()) { counts(j - 2) = b.get(j).asInt(); j += 1 }
      // sparse tail: classes discovered after this block was flushed
      val full = if (counts.length < classes.length)
        counts ++ Array.fill(classes.length - counts.length)(0)
      else counts
      Block(b.get(0).asLong(), b.get(1).asInt(), full)
    }.toArray
    FileIndex(node.get("size").asLong(), node.get("fp").asLong(),
      node.get("lines").asLong(), classes, totals, blocks,
      TsStats(longs("tsmin"), longs("tsmax"), longs("tsn"), longs("tsu")))
  }

  def write(fs: FileSystem, file: Path, ix: FileIndex): Unit = {
    val out = fs.create(indexPath(file), true)
    try out.write(toJson(ix).getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Load the sidecar if present AND fresh: recorded size AND head/tail
    * content fingerprint must both match the file's current state (size
    * alone misses an in-place rewrite that preserves byte length);
    * None → caller falls back to range planning.
    */
  def read(fs: FileSystem, file: Path, fileSize: Long): Option[FileIndex] =
    read(fs, file, fileSize, indexPath(file), fs.getConf)

  /** Variant with an explicit sidecar location: the caller may read the
    * DATA from a resolved local copy (length-less remote schemes, see
    * [[graft.source.LocalBuffer]]) while the sidecar still lives next
    * to the ORIGINAL file — it is resolved through the same fallback,
    * so O(#files) sidecar planning works over http too (one small GET
    * per `.idx`; a 404 lands in the NonFatal fallback → range/bounded
    * planning, exactly like a missing local sidecar).
    */
  def read(fs: FileSystem, file: Path, fileSize: Long, sidecar: Path,
      conf: org.apache.hadoop.conf.Configuration): Option[FileIndex] = {
    try {
      val ip  = graft.source.LocalBuffer.resolvePath(sidecar, conf)
      val ifs = ip.getFileSystem(conf)
      if (!ifs.exists(ip)) None
      else {
        val in  = ifs.open(ip)
        val len = ifs.getFileStatus(ip).getLen.toInt
        val bytes = new Array[Byte](len)
        try in.readFully(0, bytes) finally in.close()
        val ix = fromJson(new String(bytes, StandardCharsets.UTF_8))
        if (ix.size == fileSize &&
            ix.fingerprint == fingerprint(fs, file, fileSize)) Some(ix)
        else None
      }
    } catch { case NonFatal(_) => None }
  }

  /** Index one local file (fixture-generation helper). */
  def writeLocal(file: java.io.File): Unit = {
    val p  = new Path(file.getAbsolutePath)
    val fs = p.getFileSystem(new Configuration())
    write(fs, p, build(fs, p))
  }

  /** Distributed indexing job: one task per file, each scanning its file
    * once and writing the sidecar next to it — how a 100 TB corpus gets
    * indexed (planning afterwards is O(#files) forever).
    */
  def indexAll(spark: SparkSession, pattern: String): Long = {
    val conf  = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val files = MailboxPlanner.globStatuses(pattern, conf.value).map(_._1)
    spark.sparkContext
      .parallelize(files, math.max(1, files.length))
      .map { f =>
        val p  = new Path(f)
        val fs = p.getFileSystem(conf.value)
        write(fs, p, build(fs, p))
        1L
      }
      .sum()
      .toLong
  }
}
