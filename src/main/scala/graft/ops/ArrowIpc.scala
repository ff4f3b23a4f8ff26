package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.Channels
import java.nio.charset.StandardCharsets.UTF_8

import io.netty.util.internal.PlatformDependent
import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.flatbuf
import org.apache.arrow.flatbuf.{BodyCompressionMethod, CompressionType, DictionaryBatch,
  Message, MessageHeader, RecordBatch}
import org.apache.arrow.memory.{AllocationManager, AllocatorBridge, ArrowBuf, BufferAllocator,
  OutOfMemoryException, RootAllocator}
import org.apache.arrow.memory.netty.NettyAllocationManager
import org.apache.arrow.memory.util.MemoryUtil
import org.apache.arrow.vector.{BaseIntVector, BigIntVector, FieldVector, Float4Vector,
  IntVector, ValueVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.complex.{FixedSizeListVector, ListVector}
import org.apache.arrow.vector.complex.writer.FieldWriter
import org.apache.arrow.vector.compression.{AbstractCompressionCodec, CompressionCodec}
import org.apache.arrow.vector.compression.CompressionUtil.CodecType
import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.ipc.message.IpcOption
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding, Field, FieldType, Schema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Apache Arrow IPC payloads — the columnar interchange rung of the
  * tensor tier: embedding shards and feature tables ship as Arrow
  * streams/files. Reading and writing both go through `arrow-vector`
  * (`ArrowStreamReader`/`ArrowStreamWriter`, the codecs of
  * `arrow-compression`); the reference repo has no analogue
  * (`main.py` is row-JSON only).
  *
  * What the library does not guard is guarded here. It allocates a
  * claimed length before reading it, so [[frame]] first checks every
  * message's framing against the payload's length, and the reader runs
  * under an allocator capped at the payload's length plus
  * [[ShortCodecs.MaxOutput]]: a corrupt length or a decompression bomb
  * is a malformed payload, never an `OutOfMemoryError`. The file
  * wrapper (`ARROW1` magic) reads by skipping the magic — stream
  * messages are self-describing, the footer is redundant for a full
  * scan.
  *
  * Scale shape: pure bytes→rows functions inside `flatMap` (the
  * safetensors/NPZ seam); a shard decodes in the task that holds it,
  * with no shared state.
  */
object ArrowIpc {

  private def refuse(why: String): Nothing =
    throw new graft.GraftAnalysisException(s"arrow: $why")

  private def malformed(why: String): Nothing = throw new IOException(s"arrow: $why")

  // ------------------------------------------------------------ read

  /** Walk the message framing of `b` — an IPC stream, or a file whose
    * 8-byte `ARROW1` magic is skipped — and return the [start, end)
    * span of its messages through the EOS marker. Each continuation
    * marker or legacy length prefix, metadata length and
    * `Message.bodyLength` is checked against the bytes held, and each
    * batch's body compression against the codecs the reader has: the
    * library maps an unknown codec id to "uncompressed" and would read
    * compressed bytes as values. */
  private def frame(b: Array[Byte]): (Int, Int) = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val start = if (b.length >= 8 && new String(b, 0, 6, UTF_8) == "ARROW1") 8 else 0
    var p = start
    var eos = false
    while (!eos && b.length - p >= 4) {
      var at = p + 4
      var metaLen = bb.getInt(p)
      if (metaLen == -1) { // continuation marker
        if (b.length - p < 8) malformed("truncated message prefix")
        metaLen = bb.getInt(p + 4)
        at = p + 8
      }
      if (metaLen == 0) eos = true
      else {
        if (metaLen < 0 || metaLen > b.length - at) malformed(s"metadata length $metaLen")
        val msg = Message.getRootAsMessage(bb.slice(at, metaLen))
        at += metaLen
        val bodyLen = msg.bodyLength
        if (bodyLen < 0 || bodyLen > b.length - at) malformed(s"body length $bodyLen")
        at += bodyLen.toInt
        // the reader's own walk dereferences these headers unchecked
        val batch = msg.headerType match {
          case MessageHeader.Schema =>
            if (msg.header(new flatbuf.Schema) == null) malformed("schema message without a schema")
            None
          case MessageHeader.RecordBatch =>
            Some(msg.header(new RecordBatch).asInstanceOf[RecordBatch])
          case MessageHeader.DictionaryBatch =>
            Some(Option(msg.header(new DictionaryBatch).asInstanceOf[DictionaryBatch])
              .map(_.data).orNull)
          case _ => None
        }
        batch.foreach { rb =>
          if (rb == null) malformed("batch message without its record batch")
          Option(rb.compression).foreach { c =>
            if (c.method != BodyCompressionMethod.BUFFER)
              refuse(s"body compression method ${c.method} unsupported")
            if (c.codec != CompressionType.LZ4_FRAME && c.codec != CompressionType.ZSTD)
              refuse(s"body compression codec ${c.codec} unsupported")
          }
        }
      }
      p = at
    }
    (start, p)
  }

  /** LZ4_FRAME buffers decode through the engine's frame decoder, which
    * caps its output at [[ShortCodecs.MaxOutput]]: arrow-compression's
    * own LZ4 codec sizes a heap array from the buffer's declared length
    * and drains the frame uncapped, so a hostile length or frame ends
    * in an `OutOfMemoryError` before the allocator sees it. */
  private object BoundedLz4 extends AbstractCompressionCodec {
    def getCodecType: CodecType = CodecType.LZ4_FRAME
    protected def doCompress(a: BufferAllocator, b: ArrowBuf): ArrowBuf =
      throw new UnsupportedOperationException("arrow: the reader does not compress")
    protected def doDecompress(a: BufferAllocator, b: ArrowBuf): ArrowBuf = {
      val frame = new Array[Byte]((b.writerIndex - 8).toInt)
      b.getBytes(8, frame)
      val plain = ShortCodecs.unlz4Framed(frame).getOrElse(malformed("lz4 frame"))
      if (plain.length.toLong != readUncompressedLength(b)) malformed("lz4 length")
      val out = a.buffer(plain.length.toLong)
      out.setBytes(0, plain)
      out.writerIndex(plain.length.toLong)
    }
  }

  /** The reader's memory, in direct ByteBuffers: freed on release as
    * usual, and by the GC when the library throws on a malformed
    * payload and leaves buffers unreleased — with the default pooled
    * allocator those bytes would stay allocated for good. */
  private object Reclaimable extends AllocationManager.Factory {
    def create(a: BufferAllocator, size: Long): AllocationManager = new AllocationManager(a) {
      private val bb = ByteBuffer.allocateDirect(Math.toIntExact(size))
      def getSize: Long = size
      protected def memoryAddress: Long = MemoryUtil.getByteBufferAddress(bb)
      protected def release0(): Unit = PlatformDependent.freeDirectBuffer(bb)
    }
    def empty: ArrowBuf = NettyAllocationManager.FACTORY.empty
  }

  private object Codecs extends CompressionCodec.Factory {
    def createCodec(t: CodecType): CompressionCodec =
      if (t == CodecType.LZ4_FRAME) BoundedLz4 else CommonsCompressionFactory.INSTANCE.createCodec(t)
    def createCodec(t: CodecType, level: Int): CompressionCodec = createCodec(t)
  }

  /** A column's values and the map from a row to its slot in them: a
    * dictionary-encoded column reads through the dictionary in force
    * for the batch, its index bounds-checked. */
  private def resolve(v: FieldVector, dicts: DictionaryProvider): (ValueVector, Int => Int) =
    Option(v.getField.getDictionary) match {
      case None => (v, i => i)
      case Some(enc) =>
        val values = dicts.lookup(enc.getId).getVector
        val ix = v.asInstanceOf[BaseIntVector]
        (values, { i =>
          val k = ix.getValueAsLong(i)
          if (k < 0 || k >= values.getValueCount)
            throw new IndexOutOfBoundsException(s"arrow: dictionary index $k")
          k.toInt
        })
    }

  /** The non-null (key, value) pairs of one payload's record batches:
    * `keyCol` an integer column, `valueCol` read by `value`. A payload
    * without either column yields none; so does a malformed one. */
  private def pairs[V](payload: Array[Byte], keyCol: String, valueCol: String)(
      value: ValueVector => Int => V): Seq[(Long, V)] = {
    val bytes = if (payload == null) Array.emptyByteArray else payload
    try {
      val (start, end) = frame(bytes)
      // not closed: closing only audits for the leaks a malformed
      // payload can cause inside the library, which the GC reclaims
      val alloc = AllocatorBridge.root(Reclaimable,
        math.min(Int.MaxValue, bytes.length.toLong + ShortCodecs.MaxOutput))
      val reader = new ArrowStreamReader(
        new ByteArrayInputStream(bytes, start, end - start), alloc, Codecs)
      try {
        val out = Vector.newBuilder[(Long, V)]
        while (reader.loadNextBatch()) {
          val root = reader.getVectorSchemaRoot
          val k = root.getVector(keyCol)
          val v = root.getVector(valueCol)
          if (k != null && v != null) {
            val (keys, kAt) = resolve(k, reader)
            val (values, vAt) = resolve(v, reader)
            val key = keys match {
              case iv: BaseIntVector => iv
              case _ => refuse(s"key column $keyCol is ${keys.getField.getType}, not an integer")
            }
            val read = value(values)
            var i = 0
            while (i < root.getRowCount) {
              if (!k.isNull(i) && !v.isNull(i)) {
                val ki = kAt(i)
                val vi = vAt(i)
                if (!keys.isNull(ki) && !values.isNull(vi))
                  out += ((key.getValueAsLong(ki), read(vi)))
              }
              i += 1
            }
          }
        }
        out.result()
      } finally reader.close()
    } catch {
      // what malformed input raises in the reader: IOException for framing
      // and message order, IndexOutOfBounds for buffers, offsets and
      // indices, IllegalArgument for node, buffer and dictionary-id
      // mismatches, UnsupportedOperation for unknown type ids,
      // OutOfMemoryException past the allocator's limit, and a plain
      // RuntimeException from arrow-compression's ZSTD codec
      case _: IOException | _: IndexOutOfBoundsException | _: IllegalArgumentException |
          _: UnsupportedOperationException | _: OutOfMemoryException => Nil
      case e: RuntimeException if e.getClass == classOf[RuntimeException] => Nil
    }
  }

  /** Float32 lists — FixedSizeList or List — as arrays; a null element
    * reads as 0. */
  private def floatLists(name: String)(v: ValueVector): Int => Array[Float] = {
    def floats(child: FieldVector): Float4Vector = child match {
      case f: Float4Vector if f.getField.getDictionary == null => f
      case _ => refuse(s"column $name: list children other than plain float32 unsupported")
    }
    def slice(c: Float4Vector, from: Long, until: Long): Array[Float] = {
      if (from < 0 || until < from || until > c.getValueCount)
        throw new IndexOutOfBoundsException(s"arrow: list slice [$from, $until)")
      Array.tabulate((until - from).toInt) { j =>
        val at = (from + j).toInt
        if (c.isNull(at)) 0f else c.get(at)
      }
    }
    v match {
      case l: FixedSizeListVector =>
        val c = floats(l.getDataVector)
        val n = l.getListSize.toLong
        i => slice(c, i * n, i * n + n)
      case l: ListVector =>
        val c = floats(l.getDataVector)
        i => slice(c, l.getElementStartIndex(i).toLong, l.getElementEndIndex(i).toLong)
      case _ => refuse(s"column $name is ${v.getField.getType}, not a list of float32")
    }
  }

  private def utf8(name: String)(v: ValueVector): Int => String = v match {
    case s: VarCharVector => { i =>
      val (from, until) = (s.getStartOffset(i), s.getEndOffset(i))
      if (from < 0 || until < from || until > s.getDataBuffer.capacity)
        throw new IndexOutOfBoundsException(s"arrow: utf8 slice [$from, $until)")
      new String(s.get(i), UTF_8)
    }
    case _ => refuse(s"column $name is ${v.getField.getType}, not utf8")
  }

  /** One payload's (key, vector) rows: the bytes→rows function of
    * [[decodeVecRows]]. */
  private[graft] def vecRows(payload: Array[Byte], keyCol: String,
      vecCol: String): Seq[(Long, Array[Float])] =
    pairs(payload, keyCol, vecCol)(floatLists(vecCol))

  /** One payload's (key, string) rows: the bytes→rows function of
    * [[decodeKeyStrRows]]. */
  private[graft] def strRows(payload: Array[Byte], keyCol: String,
      strCol: String): Seq[(Long, String)] =
    pairs(payload, keyCol, strCol)(utf8(strCol))

  // ------------------------------------------------------------ write

  /** One IPC stream of `rows`, `batchRows` to a record batch, through
    * `ArrowStreamWriter`: `fill` sets one batch's rows into the root;
    * `codec` compresses the bodies; `dictionaries` (built in the
    * stream's allocator) are written ahead of the first batch. */
  private def writeStream[R](fields: Seq[Field], rows: Seq[R], batchRows: Int,
      codec: CodecType = CodecType.NO_COMPRESSION,
      dictionaries: BufferAllocator => Seq[Dictionary] = _ => Nil)(
      fill: (VectorSchemaRoot, Seq[R]) => Unit): Array[Byte] = {
    val alloc = new RootAllocator()
    try {
      val provider = new DictionaryProvider.MapDictionaryProvider(dictionaries(alloc): _*)
      try {
        val root = VectorSchemaRoot.create(new Schema(java.util.Arrays.asList(fields: _*)), alloc)
        try {
          val bos = new ByteArrayOutputStream()
          val writer = new ArrowStreamWriter(root, provider, Channels.newChannel(bos),
            IpcOption.DEFAULT,
            if (codec == CodecType.NO_COMPRESSION) CompressionCodec.Factory.INSTANCE
            else CommonsCompressionFactory.INSTANCE, codec)
          try {
            writer.start()
            rows.grouped(math.max(1, batchRows)).foreach { batch =>
              root.allocateNew()
              fill(root, batch)
              root.setRowCount(batch.length)
              writer.writeBatch()
            }
            writer.end()
          } finally writer.close()
          bos.toByteArray
        } finally root.close()
      } finally provider.close()
    } finally alloc.close()
  }

  private def int64(name: String): Field =
    new Field(name, FieldType.nullable(new ArrowType.Int(64, true)), null)

  /** (vec_id int64, embedding list<float32>) rows: `list` is the
    * embedding's type, a FixedSizeList or a List. */
  private def writeVecs(rows: Seq[(Long, Array[Float])], batchRows: Int, list: ArrowType,
      codec: CodecType): Array[Byte] = {
    val item = new Field("item",
      FieldType.nullable(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)), null)
    val vec = new Field("embedding", FieldType.nullable(list), java.util.Arrays.asList(item))
    writeStream(Seq(int64("vec_id"), vec), rows, batchRows, codec) { (root, batch) =>
      val keys = root.getVector(0).asInstanceOf[BigIntVector]
      val w: FieldWriter = root.getVector(1) match {
        case l: FixedSizeListVector => l.getWriter
        case l: ListVector => l.getWriter
      }
      batch.zipWithIndex.foreach { case ((k, vs), i) =>
        keys.setSafe(i, k)
        w.setPosition(i)
        w.startList()
        vs.foreach(w.float4().writeFloat4(_))
        w.endList()
      }
    }
  }

  private def vecShards(df: DataFrame, keyCol: String, vecCol: String, groups: Int) = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("long"), col(vecCol).cast("array<float>"))
      .where(col(keyCol).isNotNull && col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .groupByKey(_._1 % groups)
  }

  // ------------------------------------------------------------ spark surfaces

  /** Gate packer: embeddings grouped into `groups` shards by
    * key % groups, each shard one multi-batch Arrow IPC stream with a
    * FixedSizeList embedding column. */
  def packVecs(df: DataFrame, keyCol: String, vecCol: String,
      groups: Int = 8, batchRows: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    vecShards(df, keyCol, vecCol, groups).mapGroups { (g, it) =>
      val rows = it.toSeq.sortBy(_._1)
      (g, writeVecs(rows, batchRows,
        new ArrowType.FixedSizeList(rows.head._2.length), CodecType.NO_COMPRESSION))
    }.toDF("shard", "payload")
  }

  /** Gate packer for the COMPRESSED read path: the same embedding
    * shards with a variable List column and real body compression —
    * LZ4_FRAME on even shards, ZSTD on odd — so the reader's
    * buffer-by-buffer decompression runs on both codecs. Multi-batch
    * streams (batchRows per batch) keep the framing walk honest. */
  def packVecsCompressedRef(df: DataFrame, keyCol: String, vecCol: String,
      groups: Int = 8, batchRows: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    vecShards(df, keyCol, vecCol, groups).mapGroups { (g, it) =>
      val rows = it.toSeq.sortBy(_._1)
      val codec = if (g % 2 == 0) CodecType.LZ4_FRAME else CodecType.ZSTD
      (g, if (g % 2 == 0) "lz4" else "zstd",
        writeVecs(rows, batchRows, new ArrowType.List(), codec))
    }.toDF("shard", "codec", "payload")
  }

  /** Gate packer for the DICTIONARY read path: (doc_id, source) with
    * `source` dictionary-encoded through int32 indices — the writer
    * emits the dictionary batch first, then index columns in the
    * record batches. */
  def packDocsDictRef(df: DataFrame, idCol: String, strCol: String,
      groups: Int = 8, batchRows: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(strCol), lit("")))
      .where(col(idCol).isNotNull)
      .as[(Long, String)]
      .groupByKey(_._1 % groups)
      .mapGroups { (g, it) =>
        val rows = it.toSeq.sortBy(_._1)
        // distinct values, first-appearance order, as the dictionary
        val values = rows.map(_._2).distinct
        val index = values.zipWithIndex.toMap
        val encoding = new DictionaryEncoding(7L, false, new ArrowType.Int(32, true))
        def dictionary(alloc: BufferAllocator): Seq[Dictionary] = {
          val v = new VarCharVector("dict", alloc)
          v.allocateNew()
          values.zipWithIndex.foreach { case (s, i) => v.setSafe(i, s.getBytes(UTF_8)) }
          v.setValueCount(values.length)
          Seq(new Dictionary(v, encoding))
        }
        // the field carries the encoding; its storage is the index ints
        val source = new Field("source",
          new FieldType(true, new ArrowType.Int(32, true), encoding, null), null)
        (g, writeStream(Seq(int64("doc_id"), source), rows, batchRows,
          dictionaries = dictionary) { (root, batch) =>
          val ids = root.getVector(0).asInstanceOf[BigIntVector]
          val ixs = root.getVector(1).asInstanceOf[IntVector]
          batch.zipWithIndex.foreach { case ((id, s), i) =>
            ids.setSafe(i, id)
            ixs.setSafe(i, index(s))
          }
        })
      }
      .toDF("shard", "payload")
  }

  /** Decode (key, string) rows out of IPC payloads — the dictionary
    * gate's read surface: (id, key, value). The string column may be
    * plain or dictionary-encoded. */
  def decodeKeyStrRows(df: DataFrame, idCol: String, payloadCol: String,
      keyCol: String, strCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        strRows(payload, keyCol, strCol).map { case (k, s) => (id, k, s) }
      }
      .toDF("id", "key", "value")
  }

  /** Decode (key, vector) rows back out of IPC payloads:
    * (id, key, dim, values). Hostile bytes yield nothing for that
    * payload; a column the op cannot map raises with the named reason
    * (analysis-grade refusal, not a quiet drop). */
  def decodeVecRows(df: DataFrame, idCol: String, payloadCol: String,
      keyCol: String, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        vecRows(payload, keyCol, vecCol).map { case (k, vs) =>
          (id, k, vs.length.toLong, vs)
        }
      }
      .toDF("id", "key", "dim", "values")
  }
}
