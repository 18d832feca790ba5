package graft.sinks

import org.apache.spark.sql.types._
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.CRC32

/** Delta Lake READER FEATURES — the table-feature surface a modern Delta
  * writer produces by default and [[DeltaInterchange.importDelta]] must
  * therefore read (delta-io PROTOCOL.md, "Column Mapping" and "Deletion
  * Vectors"; reference connector `flink-cdc-pipeline-connector-
  * paimon/..` peers ship the equivalent via the vendor libraries):
  *
  *  - '''Column mapping''' (`delta.columnMapping.mode` = `name` | `id`):
  *    parquet files store PHYSICAL column names (`col-<uuid>`); the
  *    logical schema carries `delta.columnMapping.physicalName` (+ a
  *    stable `delta.columnMapping.id`) in per-field metadata at every
  *    nesting level. Readers resolve columns by physical name (name
  *    mode) or by parquet field id (id mode), then surface logical
  *    names. [[physicalSchema]] builds the read schema recursively;
  *    the cast-back to logical names is positional (struct-to-struct
  *    `Cast` renames field-wise), so nested renames cost no data motion.
  *  - '''Deletion vectors''': an `add` action may carry a
  *    `deletionVector` descriptor marking row INDEXES of the file as
  *    deleted instead of rewriting it. The bitmap is a
  *    "RoaringBitmapArray" in the portable format (magic `1681511377`
  *    LE, int64 LE bitmap count, then standard 32-bit portable roaring
  *    bitmaps — bitmap `i` covers `[i·2^32, (i+1)·2^32)`), stored either
  *    inline (`storageType "i"`, Z85-encoded in the descriptor) or in a
  *    `deletion_vector_<uuid>.bin` sidecar (`"u"` — Z85-encoded uuid,
  *    optional random path prefix; `"p"` — absolute path) framed as
  *    `<int32 BE size><bytes><int32 BE CRC-32>` after a 1-byte format
  *    version. Import filters the marked `_metadata.row_index` rows out
  *    map-side — executors open the sidecars themselves (the driver
  *    broadcasts O(files) descriptors, never bitmap bytes), so a table
  *    with millions of deletion vectors never funnels through the
  *    driver.
  *
  * Scale note: the row filter is a map-side predicate over
  * `_metadata.file_path`/`row_index` on the one parquet scan — no extra
  * shuffle, no per-file sub-plans; parsed bitmaps cache per executor.
  */
object DeltaReaderFeatures {

  // --------------------------------------------------------------- Z85
  // The ZeroMQ Z85 alphabet Delta's Base85 codec uses (PROTOCOL.md cites
  // RFC 1924's character set in Z85 order).
  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Decode: Array[Int] = {
    val a = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  /** Z85-encode; input is zero-padded to a multiple of 4 (the caller
    * records the true length — deletion-vector descriptors carry
    * `sizeInBytes`). */
  def z85Encode(bytes: Array[Byte]): String = {
    val padded =
      if (bytes.length % 4 == 0) bytes
      else bytes ++ new Array[Byte](4 - bytes.length % 4)
    val sb = new StringBuilder(padded.length / 4 * 5)
    var i = 0
    while (i < padded.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (padded(i + j) & 0xffL); j += 1 }
      val chunk = new Array[Char](5)
      var k = 4
      while (k >= 0) { chunk(k) = Z85Alphabet((v % 85).toInt); v /= 85; k -= 1 }
      sb.appendAll(chunk)
      i += 4
    }
    sb.toString
  }

  /** Z85-decode to `len` bytes (trailing pad dropped); refuses characters
    * outside the alphabet and strings that cannot hold `len` bytes. */
  def z85Decode(s: String, len: Int): Array[Byte] = {
    require(s.length % 5 == 0,
      s"Z85 string length ${s.length} is not a multiple of 5")
    val full = new Array[Byte](s.length / 5 * 4)
    require(len <= full.length && len > full.length - 4,
      s"$len bytes cannot come from a ${s.length}-char Z85 string")
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Decode(c.toInt) else -1
        require(d >= 0, s"character '$c' is not in the Z85 alphabet")
        v = v * 85 + d
        j += 1
      }
      var k = 3
      while (k >= 0) { full(i / 5 * 4 + k) = (v & 0xff).toByte; v >>= 8; k -= 1 }
      i += 5
    }
    full.take(len)
  }

  // ------------------------------------------- RoaringBitmapArray bytes
  private val PortableMagic = 1681511377

  /** Serialize 64-bit positions as a portable RoaringBitmapArray. */
  def serializeBitmap(positions: Seq[Long]): Array[Byte] = {
    require(positions.forall(_ >= 0), "deletion-vector positions are row " +
      "indexes and cannot be negative")
    val byHigh = positions.groupBy(p => (p >>> 32).toInt)
    val n = if (byHigh.isEmpty) 0 else byHigh.keys.max + 1
    val maps = (0 until n).map { hi =>
      val rb = new org.roaringbitmap.RoaringBitmap()
      byHigh.getOrElse(hi, Nil).foreach(p => rb.add(p.toInt))
      rb.runOptimize()
      rb
    }
    val size = 12 + maps.map(_.serializedSizeInBytes().toLong).sum
    val buf = ByteBuffer.allocate(size.toInt).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(PortableMagic)
    buf.putLong(n.toLong)
    maps.foreach(_.serialize(buf))
    buf.array()
  }

  /** Parsed bitmap: `contains` over the 64-bit row-index space. */
  final class LongBitmap(maps: Array[org.roaringbitmap.RoaringBitmap]) {
    def contains(v: Long): Boolean = {
      val hi = (v >>> 32).toInt
      hi >= 0 && hi < maps.length && maps(hi).contains(v.toInt)
    }
    def cardinality: Long = maps.map(_.getLongCardinality).sum

    /** All set positions, ascending — what a DV MERGE needs (the v3 spec
      * requires a new deletion vector to supersede the previous one for
      * the same data file, so the writer unions the old positions in). */
    def positions: Seq[Long] = maps.toSeq.zipWithIndex.flatMap {
      case (rb, hi) =>
        rb.toArray.map(lo => (hi.toLong << 32) | (lo.toLong & 0xffffffffL)).toSeq
    }
  }

  /** Parse a portable RoaringBitmapArray; refuses a wrong magic. */
  def parseBitmap(bytes: Array[Byte]): LongBitmap = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = buf.getInt()
    require(magic == PortableMagic,
      s"deletion-vector bitmap magic $magic != $PortableMagic — not a " +
        "portable RoaringBitmapArray; refusing")
    val n = buf.getLong()
    require(n >= 0 && n < Int.MaxValue, s"implausible bitmap count $n")
    val maps = (0L until n).map { _ =>
      val rb = new org.roaringbitmap.RoaringBitmap()
      rb.deserialize(buf)
      // advance past the bitmap just consumed (deserialize(ByteBuffer)
      // does not move the buffer position)
      buf.position(buf.position() + rb.serializedSizeInBytes())
      rb
    }.toArray
    new LongBitmap(maps)
  }

  // ------------------------------------------------ descriptors + files
  private val DvVersionByte: Byte = 1

  /** An `add.deletionVector` descriptor, resolved driver-side to what an
    * EXECUTOR needs to load the bitmap itself: inline bytes, or the
    * sidecar (path, offset, size). Serializable by design — it is what
    * the import broadcasts. */
  final case class DvDescriptor(
      inline: Option[Array[Byte]],
      binPath: String,
      offset: Int,
      sizeInBytes: Int,
      cardinality: Long) extends Serializable {

    /** Load + verify the bitmap bytes (CRC-32 for sidecars, declared size
      * for both) and parse. */
    def load(): LongBitmap = {
      val bytes = inline.getOrElse {
        val all = Files.readAllBytes(Paths.get(binPath))
        require(all.nonEmpty && all(0) == DvVersionByte,
          s"$binPath: deletion-vector file format version " +
            s"${if (all.isEmpty) "<empty>" else all(0)} is not $DvVersionByte")
        val buf = ByteBuffer.wrap(all).order(ByteOrder.BIG_ENDIAN)
        buf.position(offset)
        val size = buf.getInt()
        require(size == sizeInBytes,
          s"$binPath@$offset: stored size $size != descriptor sizeInBytes " +
            s"$sizeInBytes — refusing a torn deletion vector")
        val data = new Array[Byte](size)
        buf.get(data)
        val stored = buf.getInt()
        val crc = new CRC32(); crc.update(data)
        require(stored == crc.getValue.toInt,
          s"$binPath@$offset: CRC-32 mismatch (stored $stored, computed " +
            s"${crc.getValue.toInt}) — refusing a corrupt deletion vector")
        data
      }
      require(bytes.length == sizeInBytes,
        s"deletion vector carries ${bytes.length} bytes but the descriptor " +
          s"declares $sizeInBytes")
      val bm = parseBitmap(bytes)
      require(bm.cardinality == cardinality,
        s"deletion-vector cardinality ${bm.cardinality} != descriptor " +
          s"cardinality $cardinality — refusing")
      bm
    }
  }

  /** Parse + resolve an `add.deletionVector` JSON node. `tableDir` roots
    * relative (`"u"`) storage. */
  def parseDescriptor(node: com.fasterxml.jackson.databind.JsonNode,
      tableDir: String): DvDescriptor = {
    val storage = node.get("storageType").asText()
    val pod = node.get("pathOrInlineDv").asText()
    val size = node.get("sizeInBytes").asInt()
    val card = node.get("cardinality").asLong()
    storage match {
      case "i" =>
        DvDescriptor(Some(z85Decode(pod, size)), "", 0, size, card)
      case "u" =>
        // <optional random prefix><20-char Z85 uuid>; the sidecar lives at
        // <table>/<prefix>/deletion_vector_<uuid>.bin
        require(pod.length >= 20,
          s"storageType 'u' pathOrInlineDv '$pod' is shorter than a Z85 uuid")
        val (prefix, z) = pod.splitAt(pod.length - 20)
        val raw = z85Decode(z, 16)
        val bb = ByteBuffer.wrap(raw)
        val uuid = new java.util.UUID(bb.getLong, bb.getLong)
        val dir = if (prefix.isEmpty) Paths.get(tableDir)
          else Paths.get(tableDir, prefix)
        DvDescriptor(None, dir.resolve(s"deletion_vector_$uuid.bin").toString,
          node.get("offset").asInt(), size, card)
      case "p" =>
        DvDescriptor(None, pod, node.get("offset").asInt(), size, card)
      case other =>
        throw new IllegalArgumentException(
          s"deletionVector storageType '$other' is not in the protocol " +
            "(i / u / p) — refusing")
    }
  }

  /** Write one deletion-vector SIDECAR holding the given bitmaps and
    * return its file name (`deletion_vector_<uuid>.bin`, the uuid derived
    * from the positions) with per-entry (pathOrInlineDv, offset,
    * sizeInBytes, cardinality) descriptor fields — the writer side of the
    * lakehouse's own deletion vectors, and what [[DeltaInterchangeSpec]]
    * and the foreign-table gates build fixtures with. */
  def writeDvFile(tableDir: String, entries: Seq[Seq[Long]])
      : (String, Seq[(String, Int, Int, Long)]) = {
    val uuid = java.util.UUID.nameUUIDFromBytes(
      entries.flatten.mkString(",").getBytes("UTF-8"))
    val serialized = entries.map(serializeBitmap)
    val total = 1 + serialized.map(8 + _.length).sum
    val buf = ByteBuffer.allocate(total).order(ByteOrder.BIG_ENDIAN)
    buf.put(DvVersionByte)
    val metas = serialized.zip(entries).map { case (data, positions) =>
      val off = buf.position()
      buf.putInt(data.length)
      buf.put(data)
      val crc = new CRC32(); crc.update(data)
      buf.putInt(crc.getValue.toInt)
      val bb = ByteBuffer.allocate(16)
      bb.putLong(uuid.getMostSignificantBits)
      bb.putLong(uuid.getLeastSignificantBits)
      (z85Encode(bb.array()), off, data.length, positions.distinct.size.toLong)
    }
    val name = s"deletion_vector_$uuid.bin"
    Files.write(Paths.get(tableDir, name), buf.array())
    (name, metas)
  }

  /** Inline descriptor fields for small bitmaps. */
  def inlineDv(positions: Seq[Long]): (String, Int, Long) = {
    val data = serializeBitmap(positions)
    (z85Encode(data), data.length, positions.distinct.size.toLong)
  }

  // --------------------------------------------------- executor filter
  /** Per-executor parsed-bitmap cache: descriptors broadcast, bitmap
    * bytes loaded (and sidecars opened) where the filter runs. Bounded:
    * on overflow the cache clears (a reload is cheap; unbounded growth
    * across many imports in one long-lived executor is not). */
  private val bitmapCache =
    new java.util.concurrent.ConcurrentHashMap[String, LongBitmap]()
  private val BitmapCacheMax = 512

  /** Cache identity must be CONTENT identity. A sidecar bitmap is pinned
    * by its immutable (file, offset); an INLINE one has no path (the
    * descriptor's binPath/offset are empty/0 for every `storageType "i"`
    * entry), so the encoded bytes themselves are the key — keying inline
    * entries by path would collide every inline DV of the import onto one
    * cache slot and mask other files' rows with the first file's bitmap. */
  private def cacheKey(d: DvDescriptor): String = d.inline match {
    case Some(b) => "i:" + java.util.Base64.getEncoder.encodeToString(b)
    case None    => s"f:${d.binPath}@${d.offset}"
  }

  /** True when `rowIndex` of the file at `filePathUri` is deleted.
    * `dvs` is keyed by absolute filesystem path. */
  def isDeleted(dvs: Map[String, DvDescriptor], filePathUri: String,
      rowIndex: Long): Boolean = {
    val fsPath = new java.net.URI(filePathUri).getPath
    dvs.get(fsPath) match {
      case None => false
      case Some(d) =>
        val key = cacheKey(d)
        var bm = bitmapCache.get(key)
        if (bm == null) {
          bm = d.load()
          if (bitmapCache.size >= BitmapCacheMax) bitmapCache.clear()
          bitmapCache.put(key, bm)
        }
        bm.contains(rowIndex)
    }
  }

  // ---------------------------------------------------- column mapping
  val PhysicalNameKey = "delta.columnMapping.physicalName"
  val FieldIdKey = "delta.columnMapping.id"
  private val ParquetFieldId = "parquet.field.id"

  /** The PHYSICAL read schema of a column-mapped logical schema: every
    * field (at every nesting level) renamed to its
    * `delta.columnMapping.physicalName`; in `id` mode each field also
    * carries `parquet.field.id` so Spark's parquet reader matches by
    * field id (the mode's resolution rule) with the physical name as the
    * documented fallback for id-less files. Missing metadata refuses —
    * a column-mapped table without physical names is corrupt. */
  def physicalSchema(logical: StructType, idMode: Boolean): StructType = {
    def field(f: StructField): StructField = {
      require(f.metadata.contains(PhysicalNameKey),
        s"column '${f.name}': columnMapping is active but the field has " +
          s"no $PhysicalNameKey metadata — refusing a corrupt mapping")
      val md = new MetadataBuilder()
      if (idMode) {
        require(f.metadata.contains(FieldIdKey),
          s"column '${f.name}': id-mode columnMapping but no $FieldIdKey")
        md.putLong(ParquetFieldId, f.metadata.getLong(FieldIdKey))
      }
      StructField(f.metadata.getString(PhysicalNameKey), dataType(f.dataType),
        f.nullable, md.build())
    }
    def dataType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(field))
      case a: ArrayType => a.copy(elementType = dataType(a.elementType))
      case m: MapType =>
        m.copy(keyType = dataType(m.keyType), valueType = dataType(m.valueType))
      case other => other
    }
    StructType(logical.fields.map(field))
  }
}
