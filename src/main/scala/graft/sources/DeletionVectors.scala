package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.CRC32

/** Delta-protocol DELETION VECTORS, jar-free: the on-disk formats a
  * reader-version-3 table stores its deleted row indices in, per the
  * public Delta PROTOCOL.md ("Deletion Vector Format"):
  *
  *  - a 64-bit "RoaringBitmapArray" in the PORTABLE serialization
  *    (magic 1681511377, LE; one standard-format 32-bit Roaring bitmap
  *    per populated high-32-bit key, ascending),
  *  - each 32-bit bitmap in the RoaringFormatSpec portable layout
  *    (cookie 12346/12347, per-container array / bitmap / run forms),
  *  - stored INLINE (`storageType "i"`, Z85-encoded in the log), or in a
  *    sidecar `.bin` FILE (`"u"` relative / `"p"` absolute): format
  *    version byte 1, then per DV at `offset`: 4-byte BIG-endian size,
  *    the bitmap bytes, 4-byte BIG-endian CRC-32 of those bytes.
  *
  * Reference: reference repo has no DV support (Python pipeline on
  * managed Delta); this implements the open spec so foreign delta-spark
  * / delta-rs tables with DVs MOUNT read-correctly instead of refusing.
  * The serializer exists for the spec suite and synthetic fixtures —
  * DeletionVectorsSpec pins hand-computed byte layouts, not just a
  * roundtrip, so the two directions cannot cancel a shared bug. */
object DeletionVectors {

  // ------------------------------------------------------------- Z85

  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyz" +
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Decode: Array[Int] = {
    val d = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => d(c.toInt) = i }
    d
  }

  /** Z85 decode (RFC 32/Z85: 5 chars → 4 bytes, big-endian base 85). */
  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"z85: length ${s.length} not a multiple of 5")
    val out = ByteBuffer.allocate(s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Decode(c.toInt) else -1
        require(d >= 0, s"z85: invalid character '$c'")
        v = v * 85 + d
        j += 1
      }
      out.putInt(v.toInt)
      i += 5
    }
    out.array()
  }

  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, "z85: length not a multiple of 4")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    val bb = ByteBuffer.wrap(bytes)
    while (bb.hasRemaining) {
      var v = bb.getInt.toLong & 0xFFFFFFFFL
      val chunk = new Array[Char](5)
      var j = 4
      while (j >= 0) { chunk(j) = Z85Alphabet((v % 85).toInt); v /= 85; j -= 1 }
      sb.appendAll(chunk)
    }
    sb.toString
  }

  // ---------------------------------------------- RoaringBitmapArray

  private val PortableMagic = 1681511377
  private val SerialCookieNoRuns = 12346
  private val SerialCookie = 12347
  private val NoOffsetThreshold = 4

  /** Deserialize a portable-format 64-bit RoaringBitmapArray to its
    * SORTED member values. */
  def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == PortableMagic,
      s"deletion vector: bad RoaringBitmapArray magic $magic")
    val nBitmaps = bb.getLong
    require(nBitmaps >= 0 && nBitmaps <= Int.MaxValue,
      s"deletion vector: implausible bitmap count $nBitmaps")
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var b = 0L
    while (b < nBitmaps) {
      val high = (bb.getInt.toLong & 0xFFFFFFFFL) << 32
      readBitmap32(bb).foreach(v => out += (high | v))
      b += 1
    }
    out.toArray
  }

  /** One standard 32-bit Roaring bitmap, values as unsigned ints. */
  private def readBitmap32(bb: ByteBuffer): Array[Long] = {
    val cookie = bb.getInt
    val (size, runFlags) =
      if ((cookie & 0xFFFF) == SerialCookie) {
        val n = (cookie >>> 16) + 1
        val flags = new Array[Byte]((n + 7) / 8)
        bb.get(flags)
        (n, flags)
      } else {
        require(cookie == SerialCookieNoRuns,
          s"deletion vector: bad Roaring cookie $cookie")
        (bb.getInt, null)
      }
    def isRun(i: Int): Boolean =
      runFlags != null && (runFlags(i / 8) & (1 << (i % 8))) != 0
    val keys = new Array[Int](size)
    val cards = new Array[Int](size)
    var i = 0
    while (i < size) {
      keys(i) = bb.getShort & 0xFFFF
      cards(i) = (bb.getShort & 0xFFFF) + 1
      i += 1
    }
    // offsets present: always for the no-run cookie; for the run cookie
    // only at/above the threshold. Sequential read — skip them.
    if (runFlags == null || size >= NoOffsetThreshold)
      bb.position(bb.position() + 4 * size)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    i = 0
    while (i < size) {
      val base = keys(i).toLong << 16
      if (isRun(i)) {
        val nRuns = bb.getShort & 0xFFFF
        var r = 0
        while (r < nRuns) {
          val start = bb.getShort & 0xFFFF
          val len = bb.getShort & 0xFFFF // run covers [start, start+len]
          var v = start
          while (v <= start + len) { out += (base | v); v += 1 }
          r += 1
        }
      } else if (cards(i) <= 4096) {
        var c = 0
        while (c < cards(i)) { out += (base | (bb.getShort & 0xFFFF)); c += 1 }
      } else {
        var w = 0
        while (w < 1024) {
          val word = bb.getLong
          if (word != 0L) {
            var bit = 0
            while (bit < 64) {
              if ((word & (1L << bit)) != 0L) out += (base | (w * 64 + bit))
              bit += 1
            }
          }
          w += 1
        }
      }
      i += 1
    }
    out.toArray
  }

  /** Serialize SORTED DISTINCT values as a portable RoaringBitmapArray
    * (always the no-run cookie; array containers below 4097 members,
    * bitmap containers above — a spec-conformant writer every
    * spec-conformant reader accepts). */
  def serialize(values: Array[Long]): Array[Byte] = {
    require(values.sameElements(values.distinct.sorted),
      "deletion vector serializer expects sorted distinct values")
    val byHigh = values.groupBy(_ >>> 32).toSeq.sortBy(_._1)
    val bitmaps = byHigh.map { case (high, vs) =>
      (high.toInt, serializeBitmap32(vs.map(_ & 0xFFFFFFFFL)))
    }
    val total = 4 + 8 + bitmaps.map(4 + _._2.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(PortableMagic)
    bb.putLong(bitmaps.length.toLong)
    bitmaps.foreach { case (k, data) => bb.putInt(k); bb.put(data) }
    bb.array()
  }

  private def serializeBitmap32(values: Array[Long]): Array[Byte] = {
    val byKey = values.groupBy(v => (v >>> 16).toInt).toSeq.sortBy(_._1)
    val containers = byKey.map { case (key, vs) =>
      val lows = vs.map(v => (v & 0xFFFF).toInt).sorted
      val body =
        if (lows.length <= 4096) {
          val b = ByteBuffer.allocate(2 * lows.length)
            .order(ByteOrder.LITTLE_ENDIAN)
          lows.foreach(v => b.putShort(v.toShort))
          b.array()
        } else {
          val words = new Array[Long](1024)
          lows.foreach(v => words(v / 64) |= (1L << (v % 64)))
          val b = ByteBuffer.allocate(8192).order(ByteOrder.LITTLE_ENDIAN)
          words.foreach(b.putLong)
          b.array()
        }
      (key, lows.length, body)
    }
    val n = containers.length
    val total = 4 + 4 + 4 * n + 4 * n + containers.map(_._3.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(SerialCookieNoRuns)
    bb.putInt(n)
    containers.foreach { case (k, card, _) =>
      bb.putShort(k.toShort); bb.putShort((card - 1).toShort)
    }
    var off = 4 + 4 + 4 * n + 4 * n
    containers.foreach { case (_, _, body) => bb.putInt(off); off += body.length }
    containers.foreach { case (_, _, body) => bb.put(body) }
    bb.array()
  }

  // --------------------------------------------------- DV descriptors

  /** One add action's `deletionVector` descriptor, as logged. */
  case class Descriptor(storageType: String, pathOrInlineDv: String,
                        offset: Option[Int], sizeInBytes: Int,
                        cardinality: Long)

  /** The sidecar file a "u" or "p" descriptor points at; None for an
    * inline ("i") vector. */
  def sidecarPath(table: String, d: Descriptor): Option[Path] =
    d.storageType match {
      case "p" => Some(Paths.get(d.pathOrInlineDv))
      case "u" =>
        // "u": [optional random prefix dirs]<20-char z85 UUID>;
        // the file lives at <prefix>/deletion_vector_<uuid>.bin
        val enc = d.pathOrInlineDv
        val (prefix, u) = enc.splitAt(enc.length - 20)
        val name = s"deletion_vector_${uuidOfZ85(u)}.bin"
        Some(if (prefix.isEmpty) Paths.get(table, name)
             else Paths.get(table, prefix, name))
      case _ => None
    }

  /** Resolve and load a descriptor's deleted row indices (sorted). */
  def load(table: String, d: Descriptor): Array[Long] = {
    val data = d.storageType match {
      case "i" =>
        val bytes = z85Decode(d.pathOrInlineDv)
        bytes.take(d.sizeInBytes) // z85 pads to 4-byte groups
      case "u" | "p" =>
        val path = sidecarPath(table, d).get
        val all = Files.readAllBytes(path)
        require(all.nonEmpty && all(0) == 1,
          s"deletion vector file $path: unknown format version " +
            s"${if (all.isEmpty) "<empty>" else all(0)}")
        val off = d.offset.getOrElse(1)
        val bb = ByteBuffer.wrap(all, off, all.length - off)
        val size = bb.getInt // BIG endian per spec
        require(size == d.sizeInBytes,
          s"deletion vector file $path: stored size $size != descriptor " +
            s"sizeInBytes ${d.sizeInBytes}")
        val data = new Array[Byte](size)
        bb.get(data)
        val crc = bb.getInt
        val c = new CRC32; c.update(data)
        require(crc == c.getValue.toInt,
          s"deletion vector file $path: checksum mismatch")
        data
      case other =>
        throw new IllegalArgumentException(
          s"deletion vector storageType '$other' is outside the spec (i/u/p)")
    }
    val values = deserialize(data)
    require(d.cardinality < 0 || values.length.toLong == d.cardinality,
      s"deletion vector: ${values.length} values != descriptor " +
        s"cardinality ${d.cardinality}")
    values
  }

  /** Write one DV FILE holding the given bitmaps (spec layout: version
    * byte, then per DV size/data/checksum) — the writer half used by the
    * spec suite's synthetic foreign tables. Returns the relative
    * `pathOrInlineDv` ("u"-style z85 UUID) and each bitmap's
    * (offset, sizeInBytes). */
  def writeDvFile(table: String, bitmaps: Seq[Array[Long]])
      : (String, Seq[(Int, Int)]) = {
    val (uuid, spans) = writeDvFileRef(table, bitmaps)
    (z85OfUuid(uuid), spans)
  }

  /** The UUID of a 20-character z85 rendering ([[z85OfUuid]]'s inverse). */
  def uuidOfZ85(u: String): java.util.UUID = {
    val bb = ByteBuffer.wrap(z85Decode(u))
    new java.util.UUID(bb.getLong, bb.getLong)
  }

  /** The z85 rendering of a UUID — a "u"-descriptor's `pathOrInlineDv`. */
  def z85OfUuid(uuid: java.util.UUID): String = {
    val ub = ByteBuffer.allocate(16)
    ub.putLong(uuid.getMostSignificantBits)
    ub.putLong(uuid.getLeastSignificantBits)
    z85Encode(ub.array())
  }

  /** [[writeDvFile]] returning the raw UUID — [[graft.sources.TxLog]]'s
    * writer-side DVs key their log entries on the hex form (the z85
    * alphabet contains both '#' and ':', the entry separators). */
  def writeDvFileRef(table: String, bitmaps: Seq[Array[Long]])
      : (java.util.UUID, Seq[(Int, Int)]) = {
    val uuid = java.util.UUID.randomUUID()
    val serialized = bitmaps.map(serialize)
    val total = 1 + serialized.map(8 + _.length).sum
    val bb = ByteBuffer.allocate(total) // BIG endian (default) framing
    bb.put(1.toByte)
    val spans = serialized.map { data =>
      val off = bb.position()
      bb.putInt(data.length)
      bb.put(data)
      val c = new CRC32; c.update(data)
      bb.putInt(c.getValue.toInt)
      (off, data.length)
    }
    Files.write(Paths.get(table, s"deletion_vector_$uuid.bin"), bb.array())
    (uuid, spans)
  }
}
