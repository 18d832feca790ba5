package graft.sinks

import graft.sources.cdc.LoopbackListener
import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.CRC32C
import scala.collection.mutable

/** The Kafka wire protocol, implemented from the PUBLIC protocol guide
  * (kafka.apache.org/protocol) for the slice a pipeline sink needs:
  * ApiVersions v0, Metadata v1, Produce v3 and Fetch v4 — all pre-"flexible
  * version" encodings — carrying REAL RecordBatch v2 record sets (varint
  * zigzag record framing, CRC32C over the batch body, magic 2). The
  * reference's Kafka connector delegates these bytes to the Kafka client
  * library (`flink-cdc-pipeline-connector-kafka/.../KafkaDataSink.java`);
  * offline, this module IS the client (and the loopback broker double), so
  * tests prove the actual produce/fetch byte contract, not a JSON stand-in —
  * the BinlogSocket/walsender/OP_MSG precedent applied to the sink side.
  *
  * Scale shape: one [[KafkaWireProducer]] per Spark task (opened inside
  * `foreachPartition`), writing whole RecordBatches per (topic, partition) —
  * the unit Kafka's own producer batches by. Nothing here is driver-side
  * except topic metadata.
  */
object KafkaWire {

  // api keys (public protocol ids)
  val ApiProduce = 0
  val ApiFetch = 1
  val ApiListOffsets = 2
  val ApiMetadata = 3
  val ApiOffsetCommit = 8
  val ApiOffsetFetch = 9
  val ApiFindCoordinator = 10
  val ApiApiVersions = 18
  val ApiInitProducerId = 22
  val ApiAddPartitionsToTxn = 24
  val ApiEndTxn = 26

  // RecordBatch attribute bits (public spec)
  val AttrTransactional = 0x10
  val AttrControl = 0x20

  // attribute bits 0-2: compression codec (public spec ids). The batch
  // HEADER (baseOffset..recordCount) stays uncompressed; the record
  // entries blob compresses as one unit under the codec's stream framing
  // — gzip, snappy-java's framed stream, the LZ4 frame format, and the
  // zstd frame, exactly the framings the Kafka clients use.
  val CodecMask = 0x07
  val CodecNone = 0
  val CodecGzip = 1
  val CodecSnappy = 2
  val CodecLz4 = 3
  val CodecZstd = 4

  /** `compression.type` option value -> codec id; unknown names refuse. */
  def codecId(name: String): Int = name.toLowerCase match {
    case "none" | "uncompressed" => CodecNone
    case "gzip" => CodecGzip
    case "snappy" => CodecSnappy
    case "lz4" => CodecLz4
    case "zstd" => CodecZstd
    case other => throw new IllegalArgumentException(
      s"compression.type '$other' is not none|gzip|snappy|lz4|zstd")
  }

  private def compress(codec: Int, bytes: Array[Byte]): Array[Byte] = {
    if (codec == CodecNone) return bytes
    val bos = new java.io.ByteArrayOutputStream()
    val out: java.io.OutputStream = codec match {
      case CodecGzip => new java.util.zip.GZIPOutputStream(bos)
      case CodecSnappy => new org.xerial.snappy.SnappyOutputStream(bos)
      case CodecLz4 => new net.jpountz.lz4.LZ4FrameOutputStream(bos)
      case CodecZstd => new com.github.luben.zstd.ZstdOutputStream(bos)
      case other => throw new IllegalArgumentException(
        s"compression codec id $other is not in the protocol (0-4)")
    }
    out.write(bytes); out.close()
    bos.toByteArray
  }

  private def decompress(codec: Int, bytes: Array[Byte]): Array[Byte] = {
    if (codec == CodecNone) return bytes
    val bis = new java.io.ByteArrayInputStream(bytes)
    val in: java.io.InputStream = codec match {
      case CodecGzip => new java.util.zip.GZIPInputStream(bis)
      case CodecSnappy => new org.xerial.snappy.SnappyInputStream(bis)
      case CodecLz4 => new net.jpountz.lz4.LZ4FrameInputStream(bis)
      case CodecZstd => new com.github.luben.zstd.ZstdInputStream(bis)
      case other => throw new IllegalArgumentException(
        s"compression codec id $other is not in the protocol (0-4) — " +
          "refusing rather than yielding garbage records")
    }
    try in.readAllBytes() finally in.close()
  }

  // error codes used here (public protocol ids)
  val ErrCorruptMessage = 2
  val ErrUnknownTopicOrPartition = 3
  val ErrInvalidProducerEpoch = 47
  val ErrInvalidTxnState = 48

  // ------------------------------------------------------------ primitives

  final class Writer {
    private val out = new java.io.ByteArrayOutputStream()
    def int8(v: Int): Writer = { out.write(v & 0xff); this }
    def int16(v: Int): Writer = { out.write((v >> 8) & 0xff); out.write(v & 0xff); this }
    def int32(v: Int): Writer = {
      out.write((v >> 24) & 0xff); out.write((v >> 16) & 0xff)
      out.write((v >> 8) & 0xff); out.write(v & 0xff); this
    }
    def int64(v: Long): Writer = { int32((v >> 32).toInt); int32(v.toInt); this }
    def string(s: String): Writer = {
      val b = s.getBytes(UTF_8); int16(b.length); out.write(b); this
    }
    def nullableString(s: String): Writer =
      if (s == null) int16(-1) else string(s)
    def bytes(b: Array[Byte]): Writer = {
      if (b == null) int32(-1) else { int32(b.length); out.write(b) }; this
    }
    def raw(b: Array[Byte]): Writer = { out.write(b); this }
    /** Zigzag varint (the RecordBatch record framing). */
    def varint(v: Int): Writer = varlong(v.toLong)
    def varlong(v: Long): Writer = {
      var z = (v << 1) ^ (v >> 63)
      while ((z & ~0x7fL) != 0) { out.write(((z & 0x7f) | 0x80).toInt); z >>>= 7 }
      out.write(z.toInt); this
    }
    def result(): Array[Byte] = out.toByteArray
    def size: Int = out.size()
  }

  final class Reader(buf: ByteBuffer) {
    def this(b: Array[Byte]) = this(ByteBuffer.wrap(b))
    def int8(): Int = buf.get().toInt
    def int16(): Int = buf.getShort().toInt
    def int32(): Int = buf.getInt()
    def int64(): Long = buf.getLong()
    def string(): String = {
      val n = int16(); val b = new Array[Byte](n); buf.get(b); new String(b, UTF_8)
    }
    def nullableString(): String = {
      val n = int16()
      if (n < 0) null else { val b = new Array[Byte](n); buf.get(b); new String(b, UTF_8) }
    }
    def bytes(): Array[Byte] = {
      val n = int32()
      if (n < 0) null else { val b = new Array[Byte](n); buf.get(b); b }
    }
    def bytesRaw(n: Int): Array[Byte] = {
      val b = new Array[Byte](n); buf.get(b); b
    }
    def varint(): Int = varlong().toInt
    def varlong(): Long = {
      var z = 0L; var shift = 0; var b = 0
      while ({ b = buf.get() & 0xff; (b & 0x80) != 0 }) { z |= (b & 0x7fL) << shift; shift += 7 }
      z |= b.toLong << shift
      (z >>> 1) ^ -(z & 1)
    }
    def remaining: Int = buf.remaining()
    def position: Int = buf.position()
    def skip(n: Int): Unit = buf.position(buf.position() + n)
  }

  // --------------------------------------------------------- record batches

  /** One decoded record: (offset, timestamp, key, value, headers). */
  final case class WireRecord(offset: Long, timestamp: Long,
      key: Array[Byte], value: Array[Byte],
      headers: Seq[(String, Array[Byte])] = Nil)

  /** Encode a RecordBatch v2. The CRC32C covers attributes..end — the spec
    * excludes baseOffset/batchLength/leaderEpoch/magic/crc precisely so a
    * broker can re-stamp the base offset at append time without recomputing
    * the checksum (the double does exactly that).
    */
  def encodeBatch(baseOffset: Long,
      records: Seq[(Array[Byte], Array[Byte], Long)]): Array[Byte] =
    encodeBatchWithHeaders(baseOffset,
      records.map { case (k, v, ts) => (k, v, ts, Nil) })

  def encodeBatchWithHeaders(baseOffset: Long,
      records: Seq[(Array[Byte], Array[Byte], Long, Seq[(String, Array[Byte])])],
      attributes: Int = 0, producerId: Long = -1L, producerEpoch: Int = -1,
      compression: Int = CodecNone)
      : Array[Byte] = {
    require(records.nonEmpty, "a RecordBatch must carry at least one record")
    require((attributes & CodecMask) == 0,
      "pass the codec via the compression parameter, not attribute bits")
    val firstTs = records.map(_._3).min
    val maxTs = records.map(_._3).max
    val entries = new Writer
    records.zipWithIndex.foreach { case ((k, v, ts, headers), i) =>
      val r = new Writer
      r.int8(0) // record attributes
      r.varlong(ts - firstTs)
      r.varint(i) // offsetDelta
      if (k == null) r.varint(-1) else { r.varint(k.length); r.raw(k) }
      if (v == null) r.varint(-1) else { r.varint(v.length); r.raw(v) }
      r.varint(headers.size)
      headers.foreach { case (hk, hv) =>
        val hkb = hk.getBytes(UTF_8)
        r.varint(hkb.length); r.raw(hkb)
        if (hv == null) r.varint(-1) else { r.varint(hv.length); r.raw(hv) }
      }
      val rb = r.result()
      entries.varint(rb.length); entries.raw(rb)
    }
    val body = new Writer
    body.int16(attributes | compression) // codec + CreateTime (+ txn/control)
    body.int32(records.size - 1) // lastOffsetDelta
    body.int64(firstTs)
    body.int64(maxTs)
    body.int64(producerId)
    body.int16(producerEpoch)
    body.int32(-1) // baseSequence
    body.int32(records.size)
    body.raw(compress(compression, entries.result()))
    val bodyBytes = body.result()
    val crc = new CRC32C
    crc.update(bodyBytes)
    val out = new Writer
    out.int64(baseOffset)
    out.int32(4 + 1 + 4 + bodyBytes.length) // batchLength: leaderEpoch+magic+crc+body
    out.int32(0) // partitionLeaderEpoch
    out.int8(2) // magic
    out.int32(crc.getValue.toInt)
    out.raw(bodyBytes)
    out.result()
  }

  /** Per-batch envelope metadata, needed for transactional reads:
    * read_committed consumers drop control batches and the data batches
    * of aborted producers. */
  final case class WireBatchMeta(baseOffset: Long, lastOffset: Long,
      producerId: Long, producerEpoch: Int, attributes: Int) {
    def isControl: Boolean = (attributes & AttrControl) != 0
    def isTransactional: Boolean = (attributes & AttrTransactional) != 0
  }

  /** Decode ALL batches in a record set with their envelope metadata,
    * validating magic and CRC32C on each — a corrupt batch throws, never
    * yields garbage records. */
  def decodeBatchesMeta(recordSet: Array[Byte]): Seq[(WireBatchMeta, Seq[WireRecord])] = {
    if (recordSet == null || recordSet.isEmpty) return Seq.empty
    val out = mutable.ArrayBuffer.empty[(WireBatchMeta, Seq[WireRecord])]
    val buf = ByteBuffer.wrap(recordSet)
    while (buf.remaining() >= 12) {
      val baseOffset = buf.getLong()
      val batchLength = buf.getInt()
      if (buf.remaining() < batchLength) {
        // trailing partial batch: a real broker may truncate the tail of a
        // fetch response at max_bytes; the consumer drops it and refetches
        buf.position(buf.limit())
      } else {
        val batch = new Array[Byte](batchLength)
        buf.get(batch)
        val r = new Reader(batch)
        r.int32() // partitionLeaderEpoch
        val magic = r.int8()
        require(magic == 2, s"RecordBatch magic $magic is not v2")
        val crcStored = r.int32()
        val body = java.util.Arrays.copyOfRange(batch, 9, batch.length)
        val crc = new CRC32C
        crc.update(body)
        require(crc.getValue.toInt == crcStored,
          f"RecordBatch CRC32C mismatch (stored 0x$crcStored%08x, " +
            f"computed 0x${crc.getValue.toInt}%08x) — corrupt batch")
        val attrs = r.int16()
        val lastOffsetDelta = r.int32()
        val firstTs = r.int64()
        r.int64() // maxTimestamp
        val producerId = r.int64()
        val producerEpoch = r.int16()
        r.int32() // baseSequence
        val count = r.int32()
        // codec bits: the record-entries blob (everything after the
        // header) decompresses as one unit; the CRC above already covered
        // the COMPRESSED form, matching the spec
        val codec = attrs & CodecMask
        val re =
          if (codec == CodecNone) r
          else new Reader(decompress(codec,
            r.bytesRaw(batch.length - r.position)))
        val records = (0 until count).map { _ =>
          val len = re.varint()
          val end = re.position + len
          re.int8() // record attributes
          val tsDelta = re.varlong()
          val offDelta = re.varint()
          val kLen = re.varint()
          val key = if (kLen < 0) null else re.bytesRaw(kLen)
          val vLen = re.varint()
          val value = if (vLen < 0) null else re.bytesRaw(vLen)
          val nHeaders = re.varint()
          val headers = (0 until nHeaders).map { _ =>
            val kb = re.bytesRaw(re.varint())
            val vl = re.varint()
            val vb = if (vl < 0) null else re.bytesRaw(vl)
            new String(kb, UTF_8) -> vb
          }
          re.skip(end - re.position)
          WireRecord(baseOffset + offDelta, firstTs + tsDelta, key, value, headers)
        }
        out += ((WireBatchMeta(baseOffset, baseOffset + lastOffsetDelta,
          producerId, producerEpoch, attrs), records))
      }
    }
    out.toSeq
  }

  /** Flat record view (control records included — read_uncommitted). */
  def decodeBatches(recordSet: Array[Byte]): Seq[WireRecord] =
    decodeBatchesMeta(recordSet).flatMap(_._2)

  /** A transaction CONTROL batch (the marker the broker appends at
    * EndTxn): one record whose key is version INT16 = 0 + type INT16
    * (1 = commit, 0 = abort), value empty — the public control-record
    * shape read_committed consumers use to resolve open ranges. */
  def encodeControlBatch(commit: Boolean, producerId: Long,
      producerEpoch: Int): Array[Byte] = {
    val key = new Writer
    key.int16(0) // control record version
    key.int16(if (commit) 1 else 0)
    encodeBatchWithHeaders(0L, Seq((key.result(), Array.empty[Byte], 0L, Nil)),
      attributes = AttrTransactional | AttrControl,
      producerId = producerId, producerEpoch = producerEpoch)
  }

  /** Kafka's default partitioner hash (murmur2, public algorithm): the
    * byte-identical routing real consumers expect for HASH_BY_KEY. */
  def murmur2(data: Array[Byte]): Int = {
    val m = 0x5bd1e995
    val r = 24
    var h = 0x9747b28c ^ data.length
    val length4 = (data.length / 4) * 4
    var i = 0
    while (i < length4) {
      var k = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      k *= m; k ^= k >>> r; k *= m
      h *= m; h ^= k
      i += 4
    }
    (data.length % 4) match {
      case 3 =>
        h ^= (data(length4 + 2) & 0xff) << 16
        h ^= (data(length4 + 1) & 0xff) << 8
        h ^= data(length4) & 0xff; h *= m
      case 2 =>
        h ^= (data(length4 + 1) & 0xff) << 8
        h ^= data(length4) & 0xff; h *= m
      case 1 =>
        h ^= data(length4) & 0xff; h *= m
      case _ => ()
    }
    h ^= h >>> 13; h *= m; h ^= h >>> 15
    h
  }

  def partitionForKey(key: Array[Byte], numPartitions: Int): Int =
    (murmur2(key) & 0x7fffffff) % numPartitions

  // ------------------------------------------------------------- transport

  private[sinks] def sendRequest(sock: Socket, apiKey: Int, apiVersion: Int,
      correlationId: Int, clientId: String, body: Array[Byte]): Array[Byte] = {
    val req = new Writer
    req.int16(apiKey); req.int16(apiVersion)
    req.int32(correlationId); req.nullableString(clientId)
    req.raw(body)
    val payload = req.result()
    val out = new DataOutputStream(sock.getOutputStream)
    out.writeInt(payload.length)
    out.write(payload)
    out.flush()
    val in = new DataInputStream(sock.getInputStream)
    val respLen = in.readInt()
    val resp = new Array[Byte](respLen)
    in.readFully(resp)
    val rr = new Reader(resp)
    val corr = rr.int32()
    require(corr == correlationId, s"correlation id mismatch ($corr != $correlationId)")
    java.util.Arrays.copyOfRange(resp, 4, resp.length)
  }
}

/** Minimal produce-side client: Metadata for partition discovery +
  * auto-create, Produce v3 with acks=-1 (the leader's append is the ack —
  * at-least-once; redelivered batches are the consumer's to dedupe, same
  * contract as the reference's non-transactional KafkaSink). One socket,
  * reused; NOT thread-safe — one instance per Spark task. */
final class KafkaWireProducer(bootstrap: String, clientId: String = "graft-producer") {
  import KafkaWire._

  private val (host, port) = KafkaWireProducer.parseBootstrap(bootstrap)
  private lazy val sock = {
    val s = new Socket(host, port)
    s.setTcpNoDelay(true) // request/response protocol: Nagle + delayed
    s                     // ACK would add ~40 ms per produce round trip
  }
  private val corr = new AtomicInteger(0)

  private def call(apiKey: Int, version: Int, body: Array[Byte]): Reader =
    new Reader(sendRequest(sock, apiKey, version, corr.incrementAndGet(), clientId, body))

  /** Partition count for a topic (Metadata v1; the double auto-creates). */
  def partitionsOf(topic: String): Int = {
    val body = new Writer
    body.int32(1); body.string(topic)
    val r = call(ApiMetadata, 1, body.result())
    val brokers = r.int32()
    (0 until brokers).foreach { _ => r.int32(); r.string(); r.int32(); r.nullableString() }
    r.int32() // controller id
    val topics = r.int32()
    require(topics == 1, s"metadata returned $topics topics for one request")
    val err = r.int16()
    require(err == 0, s"metadata error $err for topic $topic")
    r.string(); r.int8() // name, is_internal
    val parts = r.int32()
    (0 until parts).foreach { _ =>
      r.int16(); r.int32(); r.int32()
      val nr = r.int32(); (0 until nr).foreach(_ => r.int32())
      val ni = r.int32(); (0 until ni).foreach(_ => r.int32())
    }
    parts
  }

  /** Produce one RecordBatch to (topic, partition); returns the assigned
    * base offset. */
  def produce(topic: String, partition: Int,
      records: Seq[(Array[Byte], Array[Byte], Long)]): Long =
    produceWithHeaders(topic, partition,
      records.map { case (k, v, ts) => (k, v, ts, Nil) })

  def produceWithHeaders(topic: String, partition: Int,
      records: Seq[(Array[Byte], Array[Byte], Long, Seq[(String, Array[Byte])])],
      txn: Option[(String, Long, Int)] = None,
      compression: Int = KafkaWire.CodecNone): Long = {
    val batch = txn match {
      case Some((_, pid, epoch)) => encodeBatchWithHeaders(0L, records,
        attributes = AttrTransactional, producerId = pid, producerEpoch = epoch,
        compression = compression)
      case None => encodeBatchWithHeaders(0L, records, compression = compression)
    }
    val body = new Writer
    body.nullableString(txn.map(_._1).orNull) // transactional_id
    body.int16(-1) // acks: full ISR
    body.int32(30000) // timeout
    body.int32(1); body.string(topic)
    body.int32(1); body.int32(partition); body.bytes(batch)
    val r = call(ApiProduce, 3, body.result())
    val topics = r.int32()
    require(topics == 1, "produce response topic count")
    r.string()
    val parts = r.int32()
    require(parts == 1, "produce response partition count")
    r.int32() // partition index
    val err = r.int16()
    require(err == 0, s"produce error code $err on $topic/$partition")
    val baseOffset = r.int64()
    r.int64() // log_append_time
    baseOffset
  }

  // ------------------------------------------------------- transactions
  // The public EOS protocol slice: FindCoordinator locates the txn
  // coordinator (this single-node double IS it), InitProducerId assigns
  // (producerId, epoch) and FENCES prior incarnations of the same
  // transactional id (epoch bump + abort of its open txn),
  // AddPartitionsToTxn registers partitions, EndTxn commits or aborts by
  // writing control markers.

  def findTxnCoordinator(transactionalId: String): (String, Int) = {
    val body = new Writer
    body.string(transactionalId)
    body.int8(1) // key_type: transaction
    val r = call(ApiFindCoordinator, 1, body.result())
    r.int32() // throttle
    val err = r.int16()
    require(err == 0, s"find coordinator error $err")
    r.nullableString() // error message
    r.int32() // node id
    (r.string(), r.int32())
  }

  /** Returns (producerId, producerEpoch). Re-initializing an existing
    * transactional id bumps the epoch — the zombie-fencing handshake. */
  def initProducerId(transactionalId: String,
      txnTimeoutMs: Int = 60000): (Long, Int) = {
    val body = new Writer
    body.nullableString(transactionalId)
    body.int32(txnTimeoutMs)
    val r = call(ApiInitProducerId, 0, body.result())
    r.int32() // throttle
    val err = r.int16()
    require(err == 0, s"init producer id error $err")
    (r.int64(), r.int16())
  }

  def addPartitionsToTxn(transactionalId: String, producerId: Long,
      producerEpoch: Int, topic: String, partitions: Seq[Int]): Unit = {
    val body = new Writer
    body.string(transactionalId)
    body.int64(producerId); body.int16(producerEpoch)
    body.int32(1); body.string(topic)
    body.int32(partitions.size); partitions.foreach(body.int32)
    val r = call(ApiAddPartitionsToTxn, 0, body.result())
    r.int32() // throttle
    val topics = r.int32()
    (0 until topics).foreach { _ =>
      r.string()
      val parts = r.int32()
      (0 until parts).foreach { _ =>
        r.int32()
        val err = r.int16()
        require(err == 0, s"add partitions to txn error $err " +
          s"(47 = fenced by a newer producer epoch)")
      }
    }
  }

  def endTxn(transactionalId: String, producerId: Long, producerEpoch: Int,
      commit: Boolean): Unit = {
    val err = endTxnCode(transactionalId, producerId, producerEpoch, commit)
    require(err == 0, s"end txn error $err (47 = fenced by a newer epoch)")
  }

  /** [[endTxn]] returning the raw error code instead of throwing — the
    * crash-recovery commit path needs to distinguish "already ended by the
    * crashed attempt" (INVALID_TXN_STATE with a matching epoch, a no-op)
    * from "fenced by a newer producer" (INVALID_PRODUCER_EPOCH, which means
    * the prepared data was aborted and exactly-once is unrecoverable). */
  def endTxnCode(transactionalId: String, producerId: Long,
      producerEpoch: Int, commit: Boolean): Int = {
    val body = new Writer
    body.string(transactionalId)
    body.int64(producerId); body.int16(producerEpoch)
    body.int8(if (commit) 1 else 0)
    val r = call(ApiEndTxn, 0, body.result())
    r.int32() // throttle
    r.int16()
  }

  def close(): Unit = sock.close()
}

object KafkaWireProducer {
  private[sinks] def parseBootstrap(bootstrap: String): (String, Int) = {
    val first = bootstrap.split(",").head.trim
    val Array(h, p) = first.split(":")
    (h, p.toInt)
  }
}

/** Fetch-side client (Fetch v4): reads a partition from an offset — the
  * read-back half that closes the wire round trip in tests and gates. */
final class KafkaWireConsumer(bootstrap: String, clientId: String = "graft-consumer") {
  import KafkaWire._

  private val (host, port) = KafkaWireProducer.parseBootstrap(bootstrap)
  private lazy val sock = {
    val s = new Socket(host, port)
    s.setTcpNoDelay(true)
    s
  }
  private val corr = new AtomicInteger(0)

  private def call(apiKey: Int, version: Int, body: Array[Byte]): Reader =
    new Reader(sendRequest(sock, apiKey, version, corr.incrementAndGet(), clientId, body))

  private def fetchRaw(topic: String, partition: Int, offset: Long,
      maxBytes: Int, isolation: Int)
      : (Array[Byte], Long, Long, Seq[(Long, Long)]) = {
    val body = new Writer
    body.int32(-1) // replica_id: consumer
    body.int32(100) // max_wait_ms
    body.int32(1) // min_bytes
    body.int32(maxBytes)
    body.int8(isolation)
    body.int32(1); body.string(topic)
    body.int32(1)
    body.int32(partition); body.int64(offset); body.int32(maxBytes)
    val r = call(ApiFetch, 4, body.result())
    r.int32() // throttle_time
    val topics = r.int32()
    require(topics == 1, "fetch response topic count")
    r.string()
    val parts = r.int32()
    require(parts == 1, "fetch response partition count")
    r.int32() // partition index
    val err = r.int16()
    require(err == 0, s"fetch error code $err on $topic/$partition")
    val hw = r.int64()
    val lso = r.int64()
    val aborted = (0 until r.int32()).map(_ => (r.int64(), r.int64()))
    (r.bytes(), hw, lso, aborted)
  }

  /** ListOffsets v1: the FIRST offset whose record timestamp is >=
    * `timestamp` (Kafka's `offsetsForTimes`), resolved broker-side from
    * the log — O(log metadata + one batch decode), never a topic scan.
    * `-1L` asks for the log-end offset, `-2L` for the earliest. Returns
    * (offset, record timestamp); None when no record is that late. */
  def offsetForTimestamp(topic: String, partition: Int,
      timestamp: Long): Option[(Long, Long)] = {
    val body = new Writer
    body.int32(-1) // replica_id
    body.int32(1); body.string(topic)
    body.int32(1); body.int32(partition); body.int64(timestamp)
    val r = call(ApiListOffsets, 1, body.result())
    require(r.int32() == 1, "ListOffsets response topic count")
    r.string()
    require(r.int32() == 1, "ListOffsets response partition count")
    require(r.int32() == partition, "ListOffsets response partition id")
    val err = r.int16()
    require(err == 0, s"ListOffsets error $err for $topic/$partition")
    val ts = r.int64()
    val off = r.int64()
    if (off < 0) None else Some((off, ts))
  }

  /** FindCoordinator v1 with key_type GROUP (0) — where a consumer group's
    * offsets live (the txn variant at `:1` locates the txn coordinator). */
  def findGroupCoordinator(groupId: String): (String, Int) = {
    val body = new Writer
    body.string(groupId)
    body.int8(0) // key_type: group
    val r = call(ApiFindCoordinator, 1, body.result())
    r.int32() // throttle
    val err = r.int16()
    require(err == 0, s"find group coordinator error $err")
    r.nullableString() // error message
    r.int32() // node id
    (r.string(), r.int32())
  }

  /** OffsetCommit v2: durably record `offset` (the NEXT offset the group
    * will read — Kafka's committed-offset convention) for
    * (group, topic, partition) at the coordinator. */
  def commitOffset(groupId: String, topic: String, partition: Int,
      offset: Long, metadata: String = ""): Unit = {
    val body = new Writer
    body.string(groupId)
    body.int32(-1) // generation_id: not using the group membership protocol
    body.string("") // member_id
    body.int64(-1L) // retention_time_ms: broker default
    body.int32(1); body.string(topic)
    body.int32(1)
    body.int32(partition); body.int64(offset); body.nullableString(metadata)
    val r = call(ApiOffsetCommit, 2, body.result())
    val topics = r.int32()
    require(topics == 1, "OffsetCommit response topic count")
    r.string()
    val parts = r.int32()
    require(parts == 1, "OffsetCommit response partition count")
    require(r.int32() == partition, "OffsetCommit response partition id")
    val err = r.int16()
    require(err == 0, s"OffsetCommit error $err for $groupId@$topic/$partition")
  }

  /** OffsetFetch v1 (broker-stored offsets): the group's committed offset,
    * `None` when the group has never committed for this partition
    * (the protocol's offset `-1`). */
  def committedOffset(groupId: String, topic: String, partition: Int): Option[Long] = {
    val body = new Writer
    body.string(groupId)
    body.int32(1); body.string(topic)
    body.int32(1); body.int32(partition)
    val r = call(ApiOffsetFetch, 1, body.result())
    val topics = r.int32()
    require(topics == 1, "OffsetFetch response topic count")
    r.string()
    val parts = r.int32()
    require(parts == 1, "OffsetFetch response partition count")
    require(r.int32() == partition, "OffsetFetch response partition id")
    val off = r.int64()
    r.nullableString() // metadata
    val err = r.int16()
    require(err == 0, s"OffsetFetch error $err for $groupId@$topic/$partition")
    if (off < 0) None else Some(off)
  }

  /** One fetch: records at `offset` and after, plus the high watermark
    * (read_uncommitted — control records included). */
  def fetch(topic: String, partition: Int, offset: Long,
      maxBytes: Int = 8 * 1024 * 1024): (Seq[KafkaWire.WireRecord], Long) = {
    val (set, hw, _, _) = fetchRaw(topic, partition, offset, maxBytes, 0)
    (decodeBatches(set).filter(_.offset >= offset), hw)
  }

  /** The partition's last-stable offset: the first offset any still-OPEN
    * transaction wrote (= the high watermark when no transaction is open).
    * This — not the high watermark — is the only safe frame for a
    * read_committed batch window: a window cut at the HW can cross records
    * the fetch withholds, and once the caller's offset cursor advances
    * past them they are skipped forever (silent data loss when the
    * producer later commits). */
  def lastStableOffset(topic: String, partition: Int): Long =
    fetchRaw(topic, partition, Long.MaxValue >> 1, 1024, 1)._3

  /** Drain at READ_COMMITTED: data of still-open transactions is held
    * back by the last-stable-offset, control batches are dropped, and
    * aborted producers' batches resolve against the response's
    * aborted_transactions ranges — each range [firstOffset, abort marker]
    * closes when its ABORT control record passes, so a producer that
    * aborts and then (re-fenced) commits keeps its committed data. */
  def readAllCommitted(topic: String, partition: Int, from: Long = 0L,
      untilExclusive: Long = Long.MaxValue)
      : Seq[KafkaWire.WireRecord] = {
    val out = mutable.ArrayBuffer.empty[KafkaWire.WireRecord]
    // pid -> queue of aborted firstOffsets not yet closed by a marker
    val pendingAborts = mutable.Map.empty[Long, mutable.Queue[Long]]
    // every range ever enqueued in THIS scan: a broker may legally re-send a
    // range on later fetches while its marker is still ahead; re-enqueueing
    // one whose marker this scan already consumed would leave it open
    // forever and mask the producer's later committed batches
    val seenRanges = mutable.Set.empty[(Long, Long)]
    var off = from
    var continue = true
    while (continue) {
      val (set, _, lso, aborted) = fetchRaw(topic, partition, off, 8 * 1024 * 1024, 1)
      // ranges arrive in abort order, which is offset order per pid (the
      // double appends each abort's range as it happens) — keep the queue
      // sorted on insert so head is always the earliest open range
      aborted.foreach { case (pid, first) =>
        if (seenRanges.add((pid, first))) {
          val q = pendingAborts.getOrElseUpdate(pid, mutable.Queue.empty)
          val sorted = (q.toSeq :+ first).sorted
          q.clear(); q ++= sorted
        }
      }
      val batches = decodeBatchesMeta(set).sortBy(_._1.baseOffset)
      if (batches.isEmpty || off >= lso || off >= untilExclusive) continue = false
      else batches.foreach { case (meta, recs) =>
        if (meta.isControl) {
          // key: version INT16, type INT16 (0 = abort, 1 = commit)
          val k = new Reader(recs.head.key)
          k.int16()
          if (k.int16() == 0)
            // a marker closes only a range that STARTED before it — a
            // data-less abort (txn registered partitions but produced
            // nothing, or was fenced empty) has no range, and consuming a
            // LATER range here would deliver that range's aborted data
            pendingAborts.get(meta.producerId).foreach(q =>
              if (q.nonEmpty && q.head <= meta.baseOffset) q.dequeue())
        } else {
          val isAborted = meta.isTransactional &&
            pendingAborts.get(meta.producerId).exists(q =>
              q.nonEmpty && q.head <= meta.baseOffset)
          if (!isAborted)
            out ++= recs.filter(r => r.offset >= from && r.offset < untilExclusive)
        }
        off = math.max(off, meta.lastOffset + 1)
      }
      // a caller framing a bounded micro-batch must not drain the whole
      // backlog past its window: with admission control (ReadMaxRows) a
      // catch-up would otherwise re-fetch the entire remaining tail on
      // every trigger — O(backlog²/limit) bytes over the wire
      if (off >= untilExclusive) continue = false
    }
    out.toSeq
  }

  /** Every transaction CONTROL marker in a partition as (producerId,
    * producerEpoch, committed) in log order — the recovery probe that lets
    * a driver distinguish "already committed" from "aborted server-side"
    * when EndTxn answers INVALID_TXN_STATE. Reads at read_uncommitted so
    * markers of still-open ranges are visible too; decodes only batch
    * envelopes plus the one-record control payloads. */
  def controlMarkers(topic: String, partition: Int): Seq[(Long, Int, Boolean)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Int, Boolean)]
    var off = 0L
    var hw = Long.MaxValue
    var continue = true
    while (continue && off < hw) {
      val (set, highWater, _, _) = fetchRaw(topic, partition, off, 8 * 1024 * 1024, 0)
      hw = highWater
      val batches = KafkaWire.decodeBatchesMeta(set)
      if (batches.isEmpty) continue = false
      else batches.foreach { case (meta, recs) =>
        if (meta.isControl && recs.nonEmpty && recs.head.key != null &&
            recs.head.key.length >= 4) {
          val k = new KafkaWire.Reader(recs.head.key)
          k.int16() // control record version
          out += ((meta.producerId, meta.producerEpoch, k.int16() == 1))
        }
        off = math.max(off, meta.lastOffset + 1)
      }
    }
    out.toSeq
  }

  /** Drain a partition from `from` to the current high watermark. */
  def readAll(topic: String, partition: Int, from: Long = 0L): Seq[KafkaWire.WireRecord] = {
    val out = mutable.ArrayBuffer.empty[KafkaWire.WireRecord]
    var off = from
    var hw = Long.MaxValue
    while (off < hw) {
      val (recs, highWater) = fetch(topic, partition, off)
      hw = highWater
      if (recs.isEmpty) return out.toSeq
      out ++= recs
      off = recs.map(_.offset).max + 1
    }
    out.toSeq
  }

  def close(): Unit = sock.close()
}

/** Loopback Kafka broker double: a single-node broker speaking ApiVersions
  * v0, Metadata v1 (with topic auto-create), Produce v3 (CRC-validated
  * append, base-offset re-stamp) and Fetch v4 over real sockets. In-memory
  * log per (topic, partition) storing the produced batch BYTES — a fetch
  * returns the same bytes the producer sent, re-based, so the round trip
  * exercises both codec directions. */
final class KafkaBrokerDouble(autoCreatePartitions: Int = 3) {
  import KafkaWire._

  // (topic, partition) -> (batches as raw bytes, log end offset)
  private val logs = mutable.LinkedHashMap.empty[(String, Int), mutable.ArrayBuffer[Array[Byte]]]
  private val ends = mutable.HashMap.empty[(String, Int), Long]
  private val topics = mutable.LinkedHashMap.empty[String, Int]

  // --- transaction coordinator state (this single node IS the coordinator)
  private var producerIdSeq = 1000L
  // transactionalId -> (producerId, epoch)
  private val producers = mutable.HashMap.empty[String, (Long, Int)]
  // transactionalId -> partitions in the OPEN txn -> first data offset (-1
  // until the first produce lands there)
  private val openTxns = mutable.HashMap.empty[String, mutable.LinkedHashMap[(String, Int), Long]]
  // per partition: ABORTED ranges as (producerId, firstOffset, abortMarkerOffset)
  private val abortedRanges = mutable.HashMap.empty[(String, Int), mutable.ArrayBuffer[(Long, Long, Long)]]

  // --- group coordinator state: (group, topic, partition) -> (offset, metadata)
  // (the __consumer_offsets compacted-topic content, as a map)
  private val groupOffsets = mutable.HashMap.empty[(String, String, Int), (Long, String)]

  private var listener: Option[LoopbackListener] = None
  @volatile private var running = false

  def start(): Unit = synchronized {
    running = true
    listener = Some(LoopbackListener.start("kafka-broker-double", 0)(serve))
  }

  def stop(): Unit = synchronized {
    running = false
    listener.foreach(_.stop())
  }

  def bootstrap: String =
    s"127.0.0.1:${listener.map(_.port).getOrElse(sys.error("not started"))}"

  def topicNames: Seq[String] = synchronized(topics.keys.toSeq)
  def partitionsOf(topic: String): Int = synchronized(topics.getOrElse(topic, 0))
  def endOffset(topic: String, partition: Int): Long =
    synchronized(ends.getOrElse((topic, partition), 0L))

  private def ensureTopic(topic: String): Int = synchronized {
    topics.getOrElseUpdate(topic, {
      (0 until autoCreatePartitions).foreach { p =>
        logs((topic, p)) = mutable.ArrayBuffer.empty
        ends((topic, p)) = 0L
      }
      autoCreatePartitions
    })
  }

  /** One connection; a stopped broker answers no further request. */
  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    while (running) {
      val len = in.readInt()
      val payload = new Array[Byte](len)
      in.readFully(payload)
      val r = new Reader(payload)
      val apiKey = r.int16()
      val apiVersion = r.int16()
      val correlationId = r.int32()
      r.nullableString() // client id
      val respBody: Array[Byte] = apiKey match {
        case ApiApiVersions => apiVersionsResponse()
        case ApiMetadata => metadataResponse(r, apiVersion)
        case ApiProduce => produceResponse(r, apiVersion)
        case ApiFetch => fetchResponse(r, apiVersion)
        case ApiListOffsets => listOffsetsResponse(r, apiVersion)
        case ApiOffsetCommit => offsetCommitResponse(r, apiVersion)
        case ApiOffsetFetch => offsetFetchResponse(r, apiVersion)
        case ApiFindCoordinator => findCoordinatorResponse(r, apiVersion)
        case ApiInitProducerId => initProducerIdResponse(r, apiVersion)
        case ApiAddPartitionsToTxn => addPartitionsResponse(r, apiVersion)
        case ApiEndTxn => endTxnResponse(r, apiVersion)
        case other => sys.error(s"api key $other not implemented in the double")
      }
      val w = new Writer
      w.int32(correlationId)
      w.raw(respBody)
      val resp = w.result()
      out.writeInt(resp.length)
      out.write(resp)
      out.flush()
    }
  }

  private def apiVersionsResponse(): Array[Byte] = {
    val w = new Writer
    w.int16(0) // error
    val versions = Seq((ApiProduce, 0, 3), (ApiFetch, 0, 4),
      (ApiListOffsets, 1, 1), (ApiMetadata, 0, 1), (ApiFindCoordinator, 0, 1),
      (ApiOffsetCommit, 2, 2), (ApiOffsetFetch, 1, 1),
      (ApiApiVersions, 0, 0), (ApiInitProducerId, 0, 0),
      (ApiAddPartitionsToTxn, 0, 0), (ApiEndTxn, 0, 0))
    w.int32(versions.size)
    versions.foreach { case (k, lo, hi) => w.int16(k); w.int16(lo); w.int16(hi) }
    w.result()
  }

  /** OffsetCommit v2 (pre-flexible): the group coordinator durably stores
    * each (topic, partition) -> offset; committing to a partition the
    * broker does not host answers UNKNOWN_TOPIC_OR_PARTITION per entry. */
  private def offsetCommitResponse(r: Reader, version: Int): Array[Byte] = {
    require(version == 2, s"offset commit v$version not supported")
    val group = r.string()
    r.int32() // generation_id (no group-membership protocol in the double)
    r.string() // member_id
    r.int64() // retention_time_ms
    val w = new Writer
    val topicCount = r.int32()
    w.int32(topicCount)
    (0 until topicCount).foreach { _ =>
      val topic = r.string()
      w.string(topic)
      val partCount = r.int32()
      w.int32(partCount)
      (0 until partCount).foreach { _ =>
        val partition = r.int32()
        val offset = r.int64()
        val metadata = Option(r.nullableString()).getOrElse("")
        val known = synchronized {
          val hosted = topics.get(topic).exists(partition < _)
          if (hosted) groupOffsets((group, topic, partition)) = (offset, metadata)
          hosted
        }
        w.int32(partition)
        w.int16(if (known) 0 else ErrUnknownTopicOrPartition)
      }
    }
    w.result()
  }

  /** OffsetFetch v1 (broker-stored): never-committed partitions answer
    * offset -1 with no error — the protocol's "nothing stored" shape. */
  private def offsetFetchResponse(r: Reader, version: Int): Array[Byte] = {
    require(version == 1, s"offset fetch v$version not supported")
    val group = r.string()
    val w = new Writer
    val topicCount = r.int32()
    w.int32(topicCount)
    (0 until topicCount).foreach { _ =>
      val topic = r.string()
      w.string(topic)
      val partCount = r.int32()
      w.int32(partCount)
      (0 until partCount).foreach { _ =>
        val partition = r.int32()
        val stored = synchronized(groupOffsets.get((group, topic, partition)))
        w.int32(partition)
        w.int64(stored.map(_._1).getOrElse(-1L))
        w.nullableString(stored.map(_._2).orNull)
        w.int16(0)
      }
    }
    w.result()
  }

  private def findCoordinatorResponse(r: Reader, version: Int): Array[Byte] = {
    require(version == 1, s"find coordinator v$version not supported")
    r.string() // key
    r.int8() // key type
    val w = new Writer
    w.int32(0) // throttle
    w.int16(0) // error
    w.nullableString(null)
    w.int32(0) // node id: this broker
    w.string("127.0.0.1"); w.int32(listener.get.port)
    w.result()
  }

  private def initProducerIdResponse(r: Reader, version: Int): Array[Byte] = {
    require(version == 0, s"init producer id v$version not supported")
    val txnId = r.nullableString()
    r.int32() // txn timeout
    val (pid, epoch) = synchronized {
      txnId match {
        case null =>
          producerIdSeq += 1; (producerIdSeq, 0)
        case id =>
          producers.get(id) match {
            case Some((oldPid, oldEpoch)) =>
              // re-initialization FENCES the prior incarnation: epoch
              // bump, and its still-open transaction ABORTS (the real
              // coordinator's recovery path for a restarted producer)
              abortOpen(id, oldPid, oldEpoch)
              val next = (oldPid, oldEpoch + 1)
              producers(id) = next
              next
            case None =>
              producerIdSeq += 1
              producers(id) = (producerIdSeq, 0)
              (producerIdSeq, 0)
          }
      }
    }
    val w = new Writer
    w.int32(0); w.int16(0)
    w.int64(pid); w.int16(epoch)
    w.result()
  }

  /** Abort the open transaction of `txnId` (if any): write abort markers
    * to every touched partition, record the aborted data ranges. MUST be
    * called under `synchronized`. */
  private def abortOpen(txnId: String, pid: Long, epoch: Int): Unit =
    openTxns.remove(txnId).foreach { parts =>
      parts.foreach { case ((topic, p), firstOff) =>
        val markerOff = ends((topic, p)) // where appendControl lands the marker
        appendControl(topic, p, commit = false, pid, epoch)
        if (firstOff >= 0)
          abortedRanges.getOrElseUpdate((topic, p), mutable.ArrayBuffer.empty) +=
            ((pid, firstOff, markerOff))
      }
    }

  private def appendControl(topic: String, partition: Int, commit: Boolean,
      pid: Long, epoch: Int): Unit = {
    val marker = encodeControlBatch(commit, pid, epoch)
    val base = ends((topic, partition))
    val stamped = marker.clone()
    ByteBuffer.wrap(stamped).putLong(0, base)
    logs((topic, partition)) += stamped
    ends((topic, partition)) = base + 1
  }

  private def addPartitionsResponse(r: Reader, version: Int): Array[Byte] = {
    require(version == 0, s"add partitions to txn v$version not supported")
    val txnId = r.string()
    val pid = r.int64(); val epoch = r.int16()
    val topicCount = r.int32()
    val reqs = (0 until topicCount).map { _ =>
      val topic = r.string()
      val n = r.int32()
      topic -> (0 until n).map(_ => r.int32())
    }
    val err = synchronized {
      if (!producers.get(txnId).contains((pid, epoch))) ErrInvalidProducerEpoch
      else {
        val parts = openTxns.getOrElseUpdate(txnId, mutable.LinkedHashMap.empty)
        reqs.foreach { case (topic, ps) =>
          ensureTopic(topic)
          ps.foreach(p => parts.getOrElseUpdate((topic, p), -1L))
        }
        0
      }
    }
    val w = new Writer
    w.int32(0) // throttle
    w.int32(reqs.size)
    reqs.foreach { case (topic, ps) =>
      w.string(topic)
      w.int32(ps.size)
      ps.foreach { p => w.int32(p); w.int16(err) }
    }
    w.result()
  }

  private def endTxnResponse(r: Reader, version: Int): Array[Byte] = {
    require(version == 0, s"end txn v$version not supported")
    val txnId = r.string()
    val pid = r.int64(); val epoch = r.int16()
    val commit = r.int8() == 1
    val err = synchronized {
      if (!producers.get(txnId).contains((pid, epoch))) ErrInvalidProducerEpoch
      else openTxns.remove(txnId) match {
        case None => ErrInvalidTxnState // no open transaction to end
        case Some(parts) =>
          parts.foreach { case ((topic, p), firstOff) =>
            val markerOff = ends((topic, p))
            appendControl(topic, p, commit, pid, epoch)
            if (!commit && firstOff >= 0)
              abortedRanges.getOrElseUpdate((topic, p), mutable.ArrayBuffer.empty) +=
                ((pid, firstOff, markerOff))
          }
          0
      }
    }
    val w = new Writer
    w.int32(0); w.int16(err)
    w.result()
  }

  private def metadataResponse(r: Reader, version: Int): Array[Byte] = {
    require(version == 1, s"metadata v$version not supported by the double")
    val n = r.int32()
    val requested: Seq[String] =
      if (n < 0) synchronized(topics.keys.toSeq)
      else (0 until n).map(_ => r.string())
    requested.foreach(ensureTopic)
    val port = listener.get.port
    val w = new Writer
    w.int32(1) // brokers
    w.int32(0); w.string("127.0.0.1"); w.int32(port); w.nullableString(null)
    w.int32(0) // controller id
    val resolved = synchronized(requested.map(t => t -> topics(t)))
    w.int32(resolved.size)
    resolved.foreach { case (t, parts) =>
      w.int16(0) // error
      w.string(t)
      w.int8(0) // is_internal
      w.int32(parts)
      (0 until parts).foreach { p =>
        w.int16(0); w.int32(p); w.int32(0)
        w.int32(1); w.int32(0) // replicas [0]
        w.int32(1); w.int32(0) // isr [0]
      }
    }
    w.result()
  }

  private def produceResponse(r: Reader, version: Int): Array[Byte] = {
    require(version == 3, s"produce v$version not supported by the double")
    val txnId = r.nullableString() // transactional id
    r.int16() // acks
    r.int32() // timeout
    val topicCount = r.int32()
    val results = (0 until topicCount).map { _ =>
      val topic = r.string()
      val partCount = r.int32()
      topic -> (0 until partCount).map { _ =>
        val partition = r.int32()
        val recordSet = r.bytes()
        // error codes are the public protocol's: 2 = CORRUPT_MESSAGE
        // (CRC/magic validation failed), 3 = UNKNOWN_TOPIC_OR_PARTITION,
        // 47 = INVALID_PRODUCER_EPOCH (fenced), 48 = INVALID_TXN_STATE
        val (err, assigned) =
          try {
            // ONE decode validates magic/CRC/codec and yields the record
            // count; the append below just re-stamps and stores the bytes
            // (decoding again would decompress every transactional zstd
            // batch twice on the B14 hot path)
            val meta = decodeBatchesMeta(recordSet)
            val txnErr = if (txnId == null) 0 else synchronized {
              val pidEpoch = meta.headOption
                .map(m => (m._1.producerId, m._1.producerEpoch)).getOrElse((-1L, -1))
              if (!producers.get(txnId).contains(pidEpoch) ||
                  !meta.forall(_._1.isTransactional)) ErrInvalidProducerEpoch
              else if (!openTxns.get(txnId).exists(_.contains((topic, partition))))
                ErrInvalidTxnState // partition was never added to the txn
              else 0
            }
            if (txnErr != 0) (txnErr, -1L)
            else {
              val a = append(topic, partition, recordSet, meta.map(_._2.size).sum)
              if (a >= 0 && txnId != null) synchronized {
                val parts = openTxns(txnId)
                if (parts((topic, partition)) < 0) parts((topic, partition)) = a
              }
              (if (a < 0) ErrUnknownTopicOrPartition else 0, a)
            }
          } catch { case _: IllegalArgumentException => (ErrCorruptMessage, -1L) }
        (partition, err, assigned)
      }
    }
    val w = new Writer
    w.int32(results.size)
    results.foreach { case (topic, parts) =>
      w.string(topic)
      w.int32(parts.size)
      parts.foreach { case (partition, err, assigned) =>
        w.int32(partition)
        w.int16(err)
        w.int64(assigned)
        w.int64(-1L) // log append time (CreateTime batches)
      }
    }
    w.int32(0) // throttle
    w.result()
  }

  /** Append an ALREADY-VALIDATED batch (the caller's decodeBatchesMeta
    * checked magic + CRC and counted records): re-stamp the base offset in
    * place (safe because the CRC excludes it), store the bytes. */
  private def append(topic: String, partition: Int, recordSet: Array[Byte],
      recordCount: Int): Long =
    synchronized {
      ensureTopic(topic)
      if (!logs.contains((topic, partition))) return -1L
      val base = ends((topic, partition))
      val stamped = recordSet.clone()
      ByteBuffer.wrap(stamped).putLong(0, base)
      logs((topic, partition)) += stamped
      ends((topic, partition)) = base + recordCount
      base
    }

  /** ListOffsets v1: timestamp -> first offset with record ts >= target.
    * The real broker answers from its time index in O(log segments); the
    * double prefilters on each batch header's maxTimestamp (byte 35) and
    * decodes only candidate batches — same contract, never a topic scan
    * on the CLIENT side, which is the scale property the API exists for.
    * -1 = log end, -2 = earliest. Control batches are skipped (markers
    * carry no consumable rows). */
  private def listOffsetsResponse(r: Reader, version: Int): Array[Byte] = {
    require(version == 1, s"ListOffsets v$version not supported by the double")
    r.int32() // replica_id
    val topicCount = r.int32()
    val w = new Writer
    w.int32(topicCount)
    (0 until topicCount).foreach { _ =>
      val topic = r.string()
      val partCount = r.int32()
      w.string(topic)
      w.int32(partCount)
      (0 until partCount).foreach { _ =>
        val partition = r.int32()
        val target = r.int64()
        val (err, ts, off) = synchronized {
          logs.get((topic, partition)) match {
            case None => (ErrUnknownTopicOrPartition, -1L, -1L)
            case Some(batches) =>
              target match {
                case -1L => (0, -1L, ends((topic, partition)))
                case -2L => (0, -1L, batches.headOption
                  .map(b => ByteBuffer.wrap(b).getLong(0)).getOrElse(0L))
                case t =>
                  batches.iterator
                    .filter(b => ByteBuffer.wrap(b).getLong(35) >= t)
                    .flatMap(b => decodeBatchesMeta(b).iterator)
                    .filterNot(_._1.isControl)
                    .flatMap(_._2)
                    .find(_.timestamp >= t) match {
                    case Some(rec) => (0, rec.timestamp, rec.offset)
                    case None => (0, -1L, -1L)
                  }
              }
          }
        }
        w.int32(partition)
        w.int16(err)
        w.int64(ts)
        w.int64(off)
      }
    }
    w.result()
  }

  private def fetchResponse(r: Reader, version: Int): Array[Byte] = {
    require(version == 4, s"fetch v$version not supported by the double")
    r.int32(); r.int32(); r.int32(); r.int32()
    val isolation = r.int8() // 0 = read_uncommitted, 1 = read_committed
    val topicCount = r.int32()
    val results = (0 until topicCount).map { _ =>
      val topic = r.string()
      val partCount = r.int32()
      topic -> (0 until partCount).map { _ =>
        val partition = r.int32()
        val offset = r.int64()
        r.int32() // partition max bytes
        synchronized {
          logs.get((topic, partition)) match {
            case None =>
              (partition, -1L, -1L, Seq.empty[(Long, Long)], Array.empty[Byte])
            case Some(batches) =>
              val hw = ends((topic, partition))
              // last stable offset: everything below the FIRST offset any
              // still-open transaction wrote here — read_committed reads
              // stop there so an in-flight txn's data never leaks
              val lso = openTxns.values
                .flatMap(_.get((topic, partition))).filter(_ >= 0)
                .minOption.getOrElse(hw)
              val bound = if (isolation == 1) lso else hw
              val keep = batches.filter { b =>
                val bb = ByteBuffer.wrap(b)
                val baseOff = bb.getLong(0)
                // lastOffsetDelta sits after base(8)+len(4)+epoch(4)+magic(1)+crc(4)+attrs(2)
                val lastDelta = bb.getInt(23)
                baseOff + lastDelta >= offset && baseOff + lastDelta < bound
              }
              val set = new java.io.ByteArrayOutputStream()
              keep.foreach(set.write)
              val abortedList =
                if (isolation == 1)
                  // real-broker semantics: only ranges whose ABORT MARKER is
                  // at or past the fetch offset overlap this read. A range
                  // whose marker the consumer already passed must NOT be
                  // re-delivered — the client would re-open it with no
                  // closing marker left ahead and mask the producer's later
                  // COMMITTED batches (silent data loss)
                  abortedRanges.getOrElse((topic, partition), Nil).toSeq
                    .filter(_._3 >= offset).map(t => (t._1, t._2))
                else Seq.empty[(Long, Long)]
              (partition, hw, lso, abortedList, set.toByteArray)
          }
        }
      }
    }
    val w = new Writer
    w.int32(0) // throttle
    w.int32(results.size)
    results.foreach { case (topic, parts) =>
      w.string(topic)
      w.int32(parts.size)
      parts.foreach { case (partition, hw, lso, abortedList, set) =>
        w.int32(partition)
        w.int16(if (hw < 0) 3 else 0)
        w.int64(hw)
        w.int64(if (hw < 0) -1L else lso) // last stable offset
        w.int32(abortedList.size)
        abortedList.foreach { case (pid, first) => w.int64(pid); w.int64(first) }
        w.bytes(if (hw < 0) null else set)
      }
    }
    w.result()
  }
}
