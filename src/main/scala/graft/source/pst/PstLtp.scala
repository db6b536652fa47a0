package graft.source.pst

import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** Lists, Tables and Properties (LTP) layer: heap-on-node (HN), BTH
  * b-trees on heaps, property contexts (PC), table contexts (TC) and the
  * named-property map — the layer pstsdk provides to the reference
  * (typed_bag.hpp:116-152). Public MS-PST layout throughout.
  */
final class HeapNode(pst: PstFile, bidData: Long, bidSub: Long) {
  import Lit._

  val blocks: IndexedSeq[Array[Byte]] = pst.dataBlocks(bidData).toIndexedSeq
  lazy val subnodeMap: Map[Long, (Long, Long)] =
    if (bidSub == 0) Map.empty else pst.subnodes(bidSub)

  def clientSig: Int = if (blocks.isEmpty) -1 else u8(blocks(0), 3)
  def userRoot: Long = u32(blocks(0), 4)

  /** Allocation bytes for a HID (type 0, 1-based index, block index). */
  def alloc(hid: Long): Array[Byte] = {
    if (hid == 0) return Array.emptyByteArray
    require((hid & 0x1F) == 0, s"not a HID: $hid")
    val index = ((hid >> 5) & 0x7FF).toInt
    val block = ((hid >> 16) & 0xFFFF).toInt
    val d = blocks(block)
    val ibHnpm = u16(d, 0)
    val cAlloc = u16(d, ibHnpm)
    require(index >= 1 && index <= cAlloc, s"hid index $index out of range ($cAlloc)")
    val start = u16(d, ibHnpm + 4 + 2 * (index - 1))
    val end   = u16(d, ibHnpm + 4 + 2 * index)
    java.util.Arrays.copyOfRange(d, start, end)
  }

  /** HNID resolution: low-5-bits-zero → heap allocation; otherwise a
    * subnode of this node (its full data).
    */
  def hnidBytes(hnid: Long): Array[Byte] =
    if (hnid == 0) Array.emptyByteArray
    else if ((hnid & 0x1F) == 0) alloc(hnid)
    else subnodeMap.get(hnid) match {
      case Some((bd, _)) => pst.nodeData(bd)
      case None          => Array.emptyByteArray
    }

  def subnodeHeap(hnid: Long): Option[HeapNode] =
    subnodeMap.get(hnid).map { case (bd, bs) => new HeapNode(pst, bd, bs) }
}

/** BTH (b-tree on heap) reader. */
object Bth {
  import Lit._

  /** All leaf records of the BTH rooted at `hidHeader` (key ++ data). */
  def records(heap: HeapNode, hidHeader: Long): Seq[(Array[Byte], Array[Byte])] = {
    val h = heap.alloc(hidHeader)
    if (h.isEmpty) return Nil
    require(u8(h, 0) == 0xB5, "not a BTH header")
    val cbKey   = u8(h, 1)
    val cbEnt   = u8(h, 2)
    val levels  = u8(h, 3)
    val hidRoot = u32(h, 4)
    val out = mutable.ArrayBuffer[(Array[Byte], Array[Byte])]()
    def walk(hid: Long, level: Int): Unit = {
      if (hid == 0) return
      val d = heap.alloc(hid)
      if (level > 0) {
        val w = cbKey + 4
        var o = 0
        while (o + w <= d.length) { walk(u32(d, o + cbKey), level - 1); o += w }
      } else {
        val w = cbKey + cbEnt
        var o = 0
        while (o + w <= d.length) {
          out += ((java.util.Arrays.copyOfRange(d, o, o + cbKey),
                   java.util.Arrays.copyOfRange(d, o + cbKey, o + w)))
          o += w
        }
      }
    }
    walk(hidRoot, levels)
    out.toSeq
  }
}

/** A typed MAPI property value. */
final case class PropValue(propType: Int, bytes: Array[Byte], inline: Long) {
  import Lit._
  def int32: Int       = if (bytes.nonEmpty) i32(bytes, 0) else inline.toInt
  def int16: Int       = if (bytes.nonEmpty) u16(bytes, 0) else (inline & 0xFFFF).toInt
  def int64: Long      = if (bytes.nonEmpty) i64(bytes, 0) else inline
  def bool: Boolean    = (if (bytes.nonEmpty) u8(bytes, 0) else inline.toInt) != 0
  def double: Double   = java.lang.Double.longBitsToDouble(int64)
  /** FILETIME → epoch micros. */
  def timeMicros: Long = int64 / 10L - 11644473600000000L
  def string: String = propType match {
    case 0x1F => new String(bytes, StandardCharsets.UTF_16LE)
    case _    => new String(bytes, StandardCharsets.ISO_8859_1)
  }
  /** Multi-valued variable-width payloads (PT_MV_BINARY/UNICODE). */
  def multiBytes: Seq[Array[Byte]] = {
    if (bytes.length < 4) return Nil
    val n = i32(bytes, 0)
    if (n <= 0 || 4 + 4 * n > bytes.length) return Nil
    val offs = (0 until n).map(i => i32(bytes, 4 + 4 * i)) :+ bytes.length
    (0 until n).map(i => java.util.Arrays.copyOfRange(bytes, offs(i), offs(i + 1)))
  }
}

/** Property context: propId → value (MS-PST §2.3.3). Values are
  * materialized lazily per property, so classify-only access (e.g. the
  * scan's message-class filter) reads just that property's bytes —
  * never bodies or attachments.
  */
final class PropertyContext(heap: HeapNode) {
  import Lit._

  /** propId → (propType, raw 4-byte value/HNID) from the PC's BTH. */
  private val entries: Map[Int, (Int, Long)] = {
    val m = mutable.HashMap[Int, (Int, Long)]()
    Bth.records(heap, heap.userRoot).foreach { case (key, ent) =>
      m(u16(key, 0)) = (u16(ent, 0), u32(ent, 2))
    }
    m.toMap
  }

  private val cache = mutable.HashMap[Int, PropValue]()

  private def fixedWidth(t: Int): Int = t match {
    case 0x02 => 2
    case 0x03 | 0x0A | 0x0B => 4
    case 0x05 | 0x14 | 0x40 | 0x07 => 8
    case 0x48 => 16
    case _    => -1 // variable
  }

  private def materialize(t: Int, v: Long): PropValue = {
    val w = fixedWidth(t)
    if (w >= 0 && w <= 4) PropValue(t, Array.emptyByteArray, v)
    else PropValue(t, heap.hnidBytes(v), 0L)
  }

  def get(id: Int): Option[PropValue] =
    entries.get(id).map { case (t, v) =>
      cache.getOrElseUpdate(id, materialize(t, v))
    }
  def str(id: Int): Option[String]   = get(id).map(_.string).filter(_ != null)
  def i32p(id: Int): Option[Int]     = get(id).map(_.int32)
  def boolP(id: Int): Option[Boolean] = get(id).map(_.bool)
  def timeP(id: Int): Option[Long]   = get(id).filter(_.bytes.length >= 8).map(_.timeMicros)
  def binP(id: Int): Option[Array[Byte]] = get(id).map(_.bytes).filter(_.nonEmpty)
}

/** Table context (MS-PST §2.3.4): column descriptors + row matrix. */
final class TableContext(pst: PstFile, heap: HeapNode) {
  import Lit._
  import TableContext.Col

  private val info = heap.alloc(heap.userRoot)
  require(u8(info, 0) == 0x7C, "not a TCINFO")
  val cCols: Int = u8(info, 1)
  private val rgib   = (0 until 4).map(i => u16(info, 2 + 2 * i))
  val rowWidth: Int  = rgib(3) // TCI_bm = total row width
  private val ib1b   = rgib(2) // start of the cell-existence bitmap
  val hnidRows: Long = u32(info, 14)
  val cols: Seq[Col] = (0 until cCols).map { i =>
    val o = 22 + 8 * i
    Col(u32(info, o), u16(info, o + 4), u8(info, o + 6), u8(info, o + 7))
  }

  /** Raw rows; rows never span leaf blocks when stored in a subnode. */
  def rows: Seq[Array[Byte]] =
    if (hnidRows == 0 || rowWidth == 0) Nil
    else if ((hnidRows & 0x1F) == 0) {
      val d = heap.alloc(hnidRows)
      (0 until d.length / rowWidth).map(i =>
        java.util.Arrays.copyOfRange(d, i * rowWidth, (i + 1) * rowWidth))
    } else heap.subnodeMap.get(hnidRows) match {
      case None => Nil
      case Some((bd, _)) =>
        pst.dataBlocks(bd).flatMap { blk =>
          (0 until blk.length / rowWidth).map(i =>
            java.util.Arrays.copyOfRange(blk, i * rowWidth, (i + 1) * rowWidth))
        }
    }

  def rowId(row: Array[Byte]): Long = u32(row, 0)

  private def isFixed(t: Int): Boolean = t match {
    case 0x02 | 0x03 | 0x0A | 0x0B | 0x05 | 0x07 | 0x14 | 0x40 => true
    case _ => false
  }

  def cell(row: Array[Byte], col: Col): Option[PropValue] = {
    // cell-existence bitmap
    if (ib1b + col.iBit / 8 >= row.length) return None
    val bit = u8(row, ib1b + col.iBit / 8)
    if ((bit & (1 << (7 - col.iBit % 8))) == 0) return None
    val t = col.propType
    if (isFixed(t)) {
      // fixed-width values (up to 8 bytes) are stored inline in the row
      val w = col.cbData
      val b = java.util.Arrays.copyOfRange(row, col.ibData, col.ibData + w)
      if (w <= 4) {
        val v = w match {
          case 1 => u8(row, col.ibData).toLong
          case 2 => u16(row, col.ibData).toLong
          case _ => u32(row, col.ibData)
        }
        Some(PropValue(t, Array.emptyByteArray, v))
      } else Some(PropValue(t, b, 0L))
    } else {
      val hnid = u32(row, col.ibData)
      Some(PropValue(t, heap.hnidBytes(hnid), 0L))
    }
  }
}

object TableContext {
  final case class Col(tag: Long, ibData: Int, cbData: Int, iBit: Int) {
    def propId: Int   = ((tag >> 16) & 0xFFFF).toInt
    def propType: Int = (tag & 0xFFFF).toInt
  }
}

/** Named-property map (node 0x61; MS-PST §2.4.7): resolves
  * (property-set GUID, LID) → propId ≥ 0x8000.
  */
final class NamedPropMap(pc: PropertyContext) {
  import Lit._

  private val guidStream  = pc.binP(0x0002).getOrElse(Array.emptyByteArray)
  private val entryStream = pc.binP(0x0003).getOrElse(Array.emptyByteArray)

  private def guidAt(idx: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(guidStream, 16 * idx, 16 * idx + 16)

  /** (lid, guidBytes) → propId. */
  val byLid: Map[(Long, Seq[Byte]), Int] = {
    val m = mutable.HashMap[(Long, Seq[Byte]), Int]()
    var o = 0
    while (o + 8 <= entryStream.length) {
      val key      = u32(entryStream, o)
      val w1       = u16(entryStream, o + 4)
      val propIdx  = u16(entryStream, o + 6)
      val isString = (w1 & 1) == 1
      val guidIdx  = w1 >> 1
      if (!isString && guidIdx >= 3)
        m((key, guidAt(guidIdx - 3).toSeq)) = 0x8000 + propIdx
      o += 8
    }
    m.toMap
  }

  def resolve(guid: Array[Byte], lid: Long): Option[Int] =
    byLid.get((lid, guid.toSeq))
}

object NamedProps {
  /** Public property-set GUIDs (MS-OXPROPS), little-endian layout. */
  private def g(s: String): Array[Byte] = {
    val u  = java.util.UUID.fromString(s)
    val bb = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt((u.getMostSignificantBits >> 32).toInt)
    bb.putShort(((u.getMostSignificantBits >> 16) & 0xFFFF).toShort)
    bb.putShort((u.getMostSignificantBits & 0xFFFF).toShort)
    bb.order(java.nio.ByteOrder.BIG_ENDIAN).putLong(u.getLeastSignificantBits)
    bb.array()
  }
  val PSETID_Appointment: Array[Byte] = g("00062002-0000-0000-c000-000000000046")
  val PSETID_Task: Array[Byte]        = g("00062003-0000-0000-c000-000000000046")
  val PSETID_Address: Array[Byte]     = g("00062004-0000-0000-c000-000000000046")
  val PSETID_Common: Array[Byte]      = g("00062008-0000-0000-c000-000000000046")
  val PSETID_Note: Array[Byte]        = g("0006200e-0000-0000-c000-000000000046")
}
