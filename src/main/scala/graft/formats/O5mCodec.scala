package graft.formats

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/**
 * o5m wire format (http://wiki.openstreetmap.org/wiki/O5m), re-derived
 * from the published format description with the reference
 * implementation as the behavioral oracle:
 * parser semantics follow
 * /root/reference/src/uk/me/parabola/splitter/parser/O5mMapParser.java
 * (dataset framing :149-197, delta state + string table :80-96,464-478,
 * version/ts/author :364-399, rel refs :405-429) and writer byte
 * behavior follows writer/O5mMapWriter.java (type-switch reset
 * :222-226, version block :298-310, string table ring with eviction
 * :323-441, varint encodings :475-520).
 *
 * Numbers: unsigned = little-endian 7-bit groups with 0x80
 * continuation; signed = zigzag then unsigned (O5mMapWriter.java:493-520
 * writes exactly `u = n<0 ? ((-n)<<1)-1 : n<<1`, i.e. zigzag).
 * String pairs ≤ 250 payload bytes enter a 15000-slot ring; a non-zero
 * leading varint is a back-reference (distance) into that ring.
 */
object O5mConst {
  val NodeDataset = 0x10
  val WayDataset = 0x11
  val RelDataset = 0x12
  val BboxDataset = 0xdb
  val TimestampDataset = 0xdc
  val HeaderDataset = 0xe0
  val EodFlag = 0xfe
  val ResetFlag = 0xff

  /** Private sync dataset (unknown type, length-prefixed — every o5m
    * consumer skips it by its length, including the reference parser's
    * unknown-dataset branch). Emitted after each RESET when the writer
    * runs with `resetEvery` > 0: the 1-byte 0xff marker alone cannot be
    * distinguished from payload bytes when resyncing into the middle of
    * a file, but [0xff][0xe7][0x10][16 magic bytes] is a 19-byte
    * signature with negligible accidental-occurrence probability — the
    * o5m analogue of a PBF BlobHeader signature. */
  val SyncDataset = 0xe7
  val SyncMagic: Array[Byte] = Array(0xf1, 'g', 'r', 'a', 'f', 't', 'S',
    'y', 'n', 'c', 0x9c, 0xb3, 0x5a, 0xe4, 0x21, 0x08).map(_.toByte)
  /** Full resync signature: reset marker + sync dataset frame. */
  val SyncSignature: Array[Byte] =
    Array(ResetFlag.toByte, SyncDataset.toByte, SyncMagic.length.toByte) ++ SyncMagic

  val StringTableSize = 15000
  /** writer-side limit: s1+s2 payload bytes that may enter the table */
  val MaxStoredPairBytes = 250
  /** reader-side limit: bytes consumed for the pair incl. terminators */
  val MaxReadPairBytes = 252
}

object O5mVarint {
  /** zigzag both ways (the o5m signed number encoding) */
  @inline def zigzag(n: Long): Long = (n << 1) ^ (n >> 63)
  @inline def unzigzag(u: Long): Long = (u >>> 1) ^ -(u & 1L)

  def writeUnsigned(num: Long, out: OutputStream): Unit = {
    var u = num
    while ((u & ~0x7fL) != 0) {
      out.write(((u & 0x7f) | 0x80).toInt)
      u >>>= 7
    }
    out.write(u.toInt)
  }

  def writeSigned(n: Long, out: OutputStream): Unit =
    writeUnsigned(zigzag(n), out)
}

/**
 * Streaming o5m reader. Honors [[OsmReadSpec]] exactly like the
 * reference parser: skipped element KINDS are jumped wholesale at the
 * dataset level (safe because the writer's type-switch RESET clears the
 * string table between runs, O5mMapParser.java:165-182), while tag
 * string pairs are always DECODED (the ring must stay in sync for
 * roles/later pairs) and only their materialization is skipped
 * (O5mMapParser.java:317-331).
 */
final class O5mReader(in: InputStream, spec: OsmReadSpec = OsmReadSpec(),
    stopAtResetFrom: Long = Long.MaxValue)
    extends Iterator[OsmEntity] with AutoCloseable {
  import O5mConst._

  private var headerSeen = false
  var bounds: Option[OsmBounds] = None

  /** Bytes consumed from `in` so far. A RESET marker whose own byte
    * offset is >= `stopAtResetFrom` ends this reader (the segment it
    * opens belongs to the next byte-range partition — see
    * [[graft.sources.O5mRangeIterator]]). */
  private var consumed = 0L

  // delta state (reset on 0xff)
  private var lastNodeId = 0L
  private var lastWayId = 0L
  private var lastRelId = 0L
  private val lastRef = new Array[Long](3)
  private var lastTs = 0L
  private var lastChangeSet = 0L
  private var lastLon = 0
  private var lastLat = 0

  // string table ring: (s1, s2) pairs, s2 null for single strings
  private var tab: Array[(String, String)] = new Array(StringTableSize)
  private var tabPos = 0

  private def resetState(): Unit = {
    lastNodeId = 0; lastWayId = 0; lastRelId = 0
    lastRef(0) = 0; lastRef(1) = 0; lastRef(2) = 0
    lastTs = 0; lastChangeSet = 0
    lastLon = 0; lastLat = 0
    tab = new Array(StringTableSize)
    tabPos = 0
  }

  private def storePair(s1: String, s2: String): Unit = {
    tab(tabPos) = (s1, s2)
    tabPos += 1
    if (tabPos >= StringTableSize) tabPos = 0
  }

  private def refPair(ref: Int): (String, String) = {
    var pos = tabPos - ref
    if (pos < 0) pos += StringTableSize
    val p = tab(pos)
    if (p == null) throw new java.io.IOException(s"invalid o5m string ref $ref")
    p
  }

  // ---- stream-level reads -------------------------------------------------

  private def streamByte(): Int = {
    val b = in.read()
    if (b < 0) throw new java.io.IOException("unexpected o5m EOF")
    consumed += 1
    b
  }

  private def streamUnsigned(): Long = {
    var result = 0L
    var shift = 0
    var b = streamByte()
    while ((b & 0x80) != 0) {
      result |= (b & 0x7fL) << shift
      shift += 7
      b = streamByte()
    }
    result | (b.toLong << shift)
  }

  // ---- payload cursor -----------------------------------------------------

  private var buf: Array[Byte] = new Array(4096)
  private var bufLen = 0
  private var pos = 0

  private def loadPayload(size: Int): Unit = {
    if (buf.length < size) buf = new Array((size * 3) / 2 + 16)
    var off = 0
    while (off < size) {
      val n = in.read(buf, off, size - off)
      if (n < 0) throw new java.io.IOException("truncated o5m dataset")
      off += n
    }
    consumed += size
    bufLen = size
    pos = 0
  }

  private def payloadByte(): Int = {
    if (pos >= bufLen) throw new java.io.IOException("o5m dataset overrun")
    val b = buf(pos) & 0xff
    pos += 1
    b
  }

  private def pUnsigned(): Long = {
    var result = 0L
    var shift = 0
    var b = payloadByte()
    while ((b & 0x80) != 0) {
      result |= (b & 0x7fL) << shift
      shift += 7
      b = payloadByte()
    }
    result | (b.toLong << shift)
  }

  private def pSigned(): Long = O5mVarint.unzigzag(pUnsigned())

  private def pString(): String = {
    val start = pos
    while (payloadByte() != 0) {}
    new String(buf, start, pos - 1 - start, UTF_8)
  }

  /** tag/author pair: leading 0 = two inline strings, else table ref. */
  private def readStringPair(): (String, String) = {
    val ref = pUnsigned().toInt
    if (ref == 0) {
      val start = pos
      val s1 = pString()
      val s2 = pString()
      if (pos - start <= MaxReadPairBytes) storePair(s1, s2)
      (s1, s2)
    } else refPair(ref)
  }

  /** rel member: type char + role as one stored pair (expanded type).
    * NOTE: unlike readStringPair, the reference counts the pair size
    * FROM BEFORE the leading ref varint (O5mMapParser.java:407 sets
    * toReadStart before readUnsignedNum32) — so a role of exactly 250
    * bytes is NOT stored in the ring here while it would be in a tag
    * pair. Matching that keeps the 15000-slot ring in sync. */
  private def readRelRef(): (Int, String) = {
    val start = pos // before the ref varint — see note above
    val refNum = pUnsigned().toInt
    if (refNum == 0) {
      val t = payloadByte() - '0'
      val refType = if (t >= 0 && t <= 2) t else 3
      val role = pString()
      val typeName = refType match {
        case 0 => OsmKind.Node
        case 1 => OsmKind.Way
        case 2 => OsmKind.Relation
        case _ => "?"
      }
      if (pos - start <= MaxReadPairBytes) storePair(typeName, role)
      (refType, role)
    } else {
      val (t, role) = refPair(refNum)
      val refType = t.charAt(0) match {
        case 'n' => 0
        case 'w' => 1
        case 'r' => 2
        case _ => 3
      }
      (refType, role)
    }
  }

  /** O5mMapParser.readVersionTsAuthor/readAuthor (table participation). */
  private def readVersionTsAuthor(): Int = {
    val version = pUnsigned().toInt
    if (version != 0) {
      lastTs += pSigned()
      if (lastTs != 0) {
        lastChangeSet += pSigned()
        // author
        val ref = pUnsigned().toInt
        if (ref == 0) {
          val start = pos
          val uid = pUnsigned()
          val uidStr = if (uid == 0) "" else { payloadByte(); uid.toString }
          val user = pString()
          if (pos - start <= MaxReadPairBytes) storePair(uidStr, user)
        } else refPair(ref)
      }
    }
    version
  }

  private def readTags(materialize: Boolean): Vector[OsmTag] = {
    if (pos >= bufLen) return Vector.empty
    val b = Vector.newBuilder[OsmTag]
    while (pos < bufLen) {
      val (k, v) = readStringPair()
      if (materialize) b += OsmTag(k, v)
    }
    b.result()
  }

  // ---- dataset dispatch ---------------------------------------------------

  private var nextEntity: OsmEntity = _
  private var done = false

  private def parseNode(): OsmEntity = {
    lastNodeId += pSigned()
    if (pos >= bufLen) return null // delete action
    val version = readVersionTsAuthor()
    if (pos >= bufLen) return null
    lastLon += pSigned().toInt
    lastLat += pSigned().toInt
    val tags = readTags(spec.tags)
    OsmEntity(OsmKind.Node, lastNodeId, lastLat, lastLon, hasCoords = true,
      version, tags, Vector.empty, Vector.empty)
  }

  private def parseWay(): OsmEntity = {
    lastWayId += pSigned()
    if (pos >= bufLen) return null
    val version = readVersionTsAuthor()
    if (pos >= bufLen) return null
    val refBytes = pUnsigned().toInt
    val stop = pos + refBytes
    val refs = Vector.newBuilder[Long]
    while (pos < stop) {
      lastRef(0) += pSigned()
      refs += lastRef(0)
    }
    val tags = readTags(spec.tags)
    OsmEntity(OsmKind.Way, lastWayId, 0, 0, hasCoords = false, version, tags,
      refs.result(), Vector.empty)
  }

  private def parseRel(): OsmEntity = {
    lastRelId += pSigned()
    if (pos >= bufLen) return null
    val version = readVersionTsAuthor()
    if (pos >= bufLen) return null
    val memBytes = pUnsigned().toInt
    val stop = pos + memBytes
    val members = Vector.newBuilder[OsmMember]
    while (pos < stop) {
      val delta = pSigned()
      val (refType, role) = readRelRef()
      if (refType <= 2) {
        lastRef(refType) += delta
        val t = refType match {
          case 0 => OsmKind.Node
          case 1 => OsmKind.Way
          case _ => OsmKind.Relation
        }
        members += OsmMember(t, lastRef(refType), role)
      }
    }
    val tags = readTags(spec.tags)
    OsmEntity(OsmKind.Relation, lastRelId, 0, 0, hasCoords = false, version,
      tags, Vector.empty, members.result())
  }

  private def parseBbox(): Unit = {
    val left = pSigned()
    val bottom = pSigned()
    val right = pSigned()
    val top = pSigned()
    bounds = Some(OsmBounds(bottom, left, top, right))
  }

  private def advance(): Unit = {
    nextEntity = null
    while (nextEntity == null && !done) {
      val t = in.read()
      if (t >= 0) consumed += 1
      if (t < 0 || t == EodFlag) { done = true; return }
      if (t == ResetFlag) {
        // marker byte offset = consumed - 1: past the range bound this
        // segment belongs to the next partition
        if (consumed - 1 >= stopAtResetFrom) { done = true; return }
        resetState()
      } else if (t < 0xf0) {
        val size = streamUnsigned().toInt
        val skip = t match {
          case NodeDataset => !spec.nodes
          case WayDataset => !spec.ways
          case RelDataset => !spec.relations
          case _ => false
        }
        if (skip) { in.skipNBytes(size.toLong); consumed += size }
        else {
          loadPayload(size)
          t match {
            case NodeDataset => nextEntity = parseNode()
            case WayDataset => nextEntity = parseWay()
            case RelDataset => nextEntity = parseRel()
            case BboxDataset => parseBbox()
            case HeaderDataset =>
              if (bufLen != 4 || buf(0) != 'o' || buf(1) != '5' ||
                  (buf(2) != 'm' && buf(2) != 'c') || buf(3) != '2')
                throw new java.io.IOException("unsupported o5m header")
              headerSeen = true
            case _ => () // timestamp / unknown: payload already consumed
          }
        }
      }
      // bytes 0xf0..0xfd other than reset/eod: no length, ignore
    }
  }

  advance()

  override def hasNext: Boolean = nextEntity != null
  override def next(): OsmEntity = {
    val e = nextEntity
    if (e == null) throw new NoSuchElementException
    advance()
    e
  }
  override def close(): Unit = in.close()
}

/**
 * o5m writer, byte-compatible with the reference O5mMapWriter: same
 * type-switch resets, version block, varints and string-table ring
 * (ring position advances exactly when the reference's does, so every
 * back-reference distance matches). Version policy: "remove" writes the
 * bare 0x00, "fake" writes version 1, "keep" writes the entity's
 * version (0 degrades to the bare 0x00 — O5mMapWriter.java:298-310).
 *
 * `resetEvery` > 0 additionally emits a RESET marker roughly every
 * that many payload bytes, and follows EVERY reset (periodic,
 * type-switch and the file-start one) with the [[O5mConst.SyncMagic]]
 * sync dataset. The o5m spec allows resets anywhere between datasets
 * and consumers skip unknown length-prefixed datasets, so every o5m
 * reader still accepts the file — but each [0xff][sync] point is a
 * safe, unambiguous parallel-entry signature (delta state and string
 * table restart there), which lets [[graft.sources.O5mRangeIterator]]
 * byte-range-split the file exactly like PBF blocks. The default 0
 * keeps byte parity with the reference writer (resets only on
 * entity-type switches, O5mMapWriter.java:222-226) at the cost of a
 * sequential read.
 */
final class O5mWriter(out: OutputStream, versionPolicy: String = "keep",
    resetEvery: Long = 0L) {
  import O5mConst._

  private var lastType = 0
  private var lastNodeId = 0L
  private var lastWayId = 0L
  private var lastRelId = 0L
  private val lastRef = new Array[Long](3)
  private var lastLon = 0
  private var lastLat = 0

  // ring + exact-pair index (equivalent to the reference's hash chains:
  // a pair is referenced iff it is currently stored, and the ref is the
  // ring distance — O5mMapWriter.stw_write/stw__getref)
  private var slotPair: Array[(String, String)] = new Array(StringTableSize)
  private val pairSlot = mutable.HashMap.empty[(String, String), Int]
  private var tabi = 0
  private var sinceReset = 0L

  private def resetVars(): Unit = {
    lastNodeId = 0; lastWayId = 0; lastRelId = 0
    lastRef(0) = 0; lastRef(1) = 0; lastRef(2) = 0
    lastLon = 0; lastLat = 0
    slotPair = new Array(StringTableSize)
    pairSlot.clear()
    tabi = 0
  }

  /** In splittable mode every reset is followed by the sync dataset —
    * the resync signature AND the range reader's stop condition both
    * key on the reset marker, so the two stay consistent. */
  private def reset(): Unit = {
    out.write(ResetFlag)
    if (resetEvery > 0) {
      out.write(SyncDataset)
      O5mVarint.writeUnsigned(SyncMagic.length.toLong, out)
      out.write(SyncMagic)
      // lastType untouched: a sync dataset carries no decoder state
    }
    resetVars()
    sinceReset = 0L
  }

  private def writeDataset(fileType: Int, payload: java.io.ByteArrayOutputStream): Unit = {
    out.write(fileType)
    O5mVarint.writeUnsigned(payload.size().toLong, out)
    payload.writeTo(out)
    lastType = fileType
    sinceReset += payload.size().toLong + 2
  }

  /** Entity writers call this AFTER a complete dataset so a reset never
    * lands inside one; the marker then opens a fresh segment. */
  private def maybePeriodicReset(): Unit =
    if (resetEvery > 0 && sinceReset >= resetEvery) reset()

  private def writeHeaderDataset(): Unit = {
    val s = new java.io.ByteArrayOutputStream()
    s.write('o'); s.write('5'); s.write('m'); s.write('2')
    writeDataset(HeaderDataset, s)
  }

  out.write(ResetFlag)
  writeHeaderDataset()
  // splittable mode: a sync point right after the header, so splittable
  // files are recognizable from their first bytes (planner probe)
  if (resetEvery > 0) reset()

  /** bbox values are degrees*1e7 truncated longs (O5mMapWriter.writeBBox). */
  def writeBounds(b: OsmBounds): Unit = {
    val s = new java.io.ByteArrayOutputStream()
    O5mVarint.writeSigned(b.minLon7, s)
    O5mVarint.writeSigned(b.minLat7, s)
    O5mVarint.writeSigned(b.maxLon7, s)
    O5mVarint.writeSigned(b.maxLat7, s)
    writeDataset(BboxDataset, s)
  }

  private def writeVersion(version: Int, s: OutputStream): Unit = {
    versionPolicy match {
      case "remove" => s.write(0x00)
      case p =>
        val v = if (p == "fake") 1 else version
        if (v != 0) O5mVarint.writeUnsigned(v.toLong, s)
        s.write(0x00) // no timestamp/author
    }
  }

  private def stwWrite(s1: String, s2: String, s: OutputStream): Unit = {
    val s1b = s1.getBytes(UTF_8)
    val s2b = if (s2 != null) s2.getBytes(UTF_8) else null
    val len = s1b.length + (if (s2b != null) s2b.length else 0)
    val storable = len <= MaxStoredPairBytes
    if (storable) {
      pairSlot.get((s1, s2)) match {
        case Some(slot) =>
          var ref = tabi - slot
          if (ref <= 0) ref += StringTableSize
          O5mVarint.writeUnsigned(ref.toLong, s)
          return
        case None => ()
      }
    }
    s.write(0x00)
    s.write(s1b); s.write(0x00)
    if (s2b != null) { s.write(s2b); s.write(0x00) }
    if (storable) {
      val old = slotPair(tabi)
      if (old != null) pairSlot.remove(old)
      slotPair(tabi) = (s1, s2)
      pairSlot((s1, s2)) = tabi
      tabi += 1
      if (tabi >= StringTableSize) tabi = 0
    }
  }

  private def writeTags(tags: Seq[OsmTag], s: OutputStream): Unit =
    tags.foreach(t => stwWrite(t.key, t.value, s))

  def writeNode(id: Long, lat7: Int, lon7: Int, version: Int, tags: Seq[OsmTag]): Unit = {
    if (lastType != NodeDataset) reset()
    val s = new java.io.ByteArrayOutputStream()
    O5mVarint.writeSigned(id - lastNodeId, s); lastNodeId = id
    writeVersion(version, s)
    O5mVarint.writeSigned((lon7 - lastLon).toLong, s); lastLon = lon7
    O5mVarint.writeSigned((lat7 - lastLat).toLong, s); lastLat = lat7
    writeTags(tags, s)
    writeDataset(NodeDataset, s)
    maybePeriodicReset()
  }

  def writeWay(id: Long, refs: Seq[Long], version: Int, tags: Seq[OsmTag]): Unit = {
    if (lastType != WayDataset) reset()
    val s = new java.io.ByteArrayOutputStream()
    O5mVarint.writeSigned(id - lastWayId, s); lastWayId = id
    writeVersion(version, s)
    val refStream = new java.io.ByteArrayOutputStream()
    refs.foreach { r =>
      O5mVarint.writeSigned(r - lastRef(0), refStream); lastRef(0) = r
    }
    O5mVarint.writeUnsigned(refStream.size().toLong, s)
    refStream.writeTo(s)
    writeTags(tags, s)
    writeDataset(WayDataset, s)
    maybePeriodicReset()
  }

  def writeRelation(id: Long, members: Seq[OsmMember], version: Int, tags: Seq[OsmTag]): Unit = {
    if (lastType != RelDataset) reset()
    val s = new java.io.ByteArrayOutputStream()
    O5mVarint.writeSigned(id - lastRelId, s); lastRelId = id
    writeVersion(version, s)
    val memStream = new java.io.ByteArrayOutputStream()
    members.foreach { m =>
      val refType = m.mtype match {
        case OsmKind.Node => 0
        case OsmKind.Way => 1
        case OsmKind.Relation => 2
        case other => throw new IllegalArgumentException(s"unknown member type $other")
      }
      O5mVarint.writeSigned(m.ref - lastRef(refType), memStream)
      lastRef(refType) = m.ref
      stwWrite(refType.toString + m.role, null, memStream)
    }
    O5mVarint.writeUnsigned(memStream.size().toLong, s)
    memStream.writeTo(s)
    writeTags(tags, s)
    writeDataset(RelDataset, s)
    maybePeriodicReset()
  }

  def write(e: OsmEntity): Unit = e.kind match {
    case OsmKind.Node => writeNode(e.id, e.lat7, e.lon7, e.version, e.tags)
    case OsmKind.Way => writeWay(e.id, e.refs, e.version, e.tags)
    case OsmKind.Relation => writeRelation(e.id, e.members, e.version, e.tags)
    case other => throw new IllegalArgumentException(s"unknown kind $other")
  }

  def finish(): Unit = { out.write(EodFlag); out.flush() }
}
