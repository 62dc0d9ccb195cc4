package graft.read

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.roaringbitmap.longlong.Roaring64NavigableMap
import java.io.{ByteArrayInputStream, DataInputStream}
import java.nio.{ByteBuffer, ByteOrder}

/**
 * Puffin file + deletion-vector blob decoding (Iceberg v3).
 *
 * Blob layout per the Iceberg spec: [combined length: 4B big-endian]
 * [magic D1 D3 39 64][64-bit roaring bitmap, portable format][CRC-32: 4B BE].
 * Legacy "bare" blobs (no length/magic wrapper) are accepted too —
 * (reference: src/core/deletes/iceberg_deletion_vector.cpp:68-183, option
 * handling iceberg_extension.cpp:92-96; puffin footer
 * src/core/metadata/puffin/iceberg_puffin_metadata.cpp).
 */
object Puffin {
  private val DvMagic = Array[Byte](0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte)

  /** Read `length` bytes at `offset` from a file. */
  def readRange(path: String, conf: Configuration, offset: Long, length: Int): Array[Byte] = {
    val fsys = new Path(path).getFileSystem(conf)
    val in = fsys.open(new Path(path))
    try {
      val buf = new Array[Byte](length)
      in.seek(offset)
      in.readFully(buf)
      buf
    } finally in.close()
  }

  /** A written DV blob descriptor. */
  case class DvBlob(referencedDataFile: String, offset: Long, length: Long, cardinality: Long)

  /** Write a Puffin file containing one deletion-vector blob per referenced
    * data file. `dvs` = (referencedDataFile, portableRoaringBytes,
    * cardinality). Layout per the Puffin spec: magic, blobs, footer
    * (magic + JSON payload + payload size LE + flags + magic); each DV blob
    * is [combined length BE][D1 D3 39 64][bitmap][CRC-32 BE].
    * `snapshotId`/`sequenceNumber` stamp the blob metadata with the commit
    * that adds the DV (the reference stamps them the same way). */
  def writeDeletionVectors(path: String, conf: Configuration,
      dvs: Seq[(String, Array[Byte], Long)],
      snapshotId: Long = -1L, sequenceNumber: Long = -1L): Seq[DvBlob] = {
    val fsys = new Path(path).getFileSystem(conf)
    val out = fsys.create(new Path(path), true)
    val magic = "PFA1".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.write(magic)
    var offset = 4L
    val blobs = Seq.newBuilder[DvBlob]
    val blobJson = new StringBuilder("[")
    var first = true
    dvs.foreach { case (ref, bitmap, card) =>
      val combined = 4 + bitmap.length
      val crc = new java.util.zip.CRC32()
      crc.update(DvMagic); crc.update(bitmap)
      val bb = ByteBuffer.allocate(4 + 4 + bitmap.length + 4) // BE by default
      bb.putInt(combined)
      bb.put(DvMagic)
      bb.put(bitmap)
      bb.putInt(crc.getValue.toInt)
      val blobBytes = bb.array()
      out.write(blobBytes)
      blobs += DvBlob(ref, offset, blobBytes.length.toLong, card)
      if (!first) blobJson.append(",")
      first = false
      blobJson.append(
        s"""{"type":"deletion-vector-v1","fields":[],"snapshot-id":$snapshotId,"sequence-number":$sequenceNumber,""" +
          s""""offset":$offset,"length":${blobBytes.length},"properties":{""" +
          s""""referenced-data-file":${jsonStr(ref)},"cardinality":"$card"}}""")
      offset += blobBytes.length
    }
    blobJson.append("]")
    val footerPayload = s"""{"blobs":${blobJson.toString},"properties":{}}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.write(magic)
    out.write(footerPayload)
    val tail = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    tail.putInt(footerPayload.length)
    tail.putInt(0) // flags
    out.write(tail.array())
    out.write(magic)
    out.close()
    blobs.result()
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** A generic blob to write into a Puffin file (table-statistics files). */
  case class BlobSpec(
      blobType: String,
      fields: Seq[Int],
      snapshotId: Long,
      sequenceNumber: Long,
      payload: Array[Byte],
      properties: Map[String, String])

  /** Result of [[writeBlobs]]: offsets/lengths per blob plus the file and
    * footer sizes table metadata records for the statistics entry. */
  case class WrittenPuffin(blobOffsets: Seq[(Long, Long)], fileSize: Long, footerSize: Long)

  /** Write a generic Puffin file: magic, raw blob payloads, footer
    * (magic + JSON payload + payload size LE + flags + magic). Used for
    * table-statistics files; the DV path keeps its own framing (DV blobs
    * wrap payloads in [len][magic][bitmap][crc]). */
  def writeBlobs(path: String, conf: Configuration, blobs: Seq[BlobSpec]): WrittenPuffin = {
    val fsys = new Path(path).getFileSystem(conf)
    val out = fsys.create(new Path(path), true)
    val magic = "PFA1".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.write(magic)
    var offset = 4L
    val offsets = Seq.newBuilder[(Long, Long)]
    val blobJson = new StringBuilder("[")
    blobs.zipWithIndex.foreach { case (b, i) =>
      out.write(b.payload)
      offsets += ((offset, b.payload.length.toLong))
      if (i > 0) blobJson.append(",")
      val props = b.properties.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString(",")
      blobJson.append(
        s"""{"type":${jsonStr(b.blobType)},"fields":[${b.fields.mkString(",")}],""" +
          s""""snapshot-id":${b.snapshotId},"sequence-number":${b.sequenceNumber},""" +
          s""""offset":$offset,"length":${b.payload.length},"properties":{$props}}""")
      offset += b.payload.length
    }
    blobJson.append("]")
    val footerPayload = s"""{"blobs":${blobJson.toString},"properties":{}}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.write(magic)
    out.write(footerPayload)
    val tail = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    tail.putInt(footerPayload.length)
    tail.putInt(0) // flags
    out.write(tail.array())
    out.write(magic)
    out.close()
    // Footer per the spec: Magic + FooterPayload + PayloadSize + Flags + Magic.
    WrittenPuffin(offsets.result(), offset + 4 + footerPayload.length + 8 + 4,
      4L + footerPayload.length + 8L + 4L)
  }

  /** Decode a deletion-vector blob into its roaring bitmap — used by scans
    * that drop the deleted positions of one data file, and by DV rewrites
    * that OR an existing vector into a new one (one-DV-per-file invariant;
    * reference iceberg_delete.cpp:334-341). */
  def decodeDeletionVectorBitmap(path: String, conf: Configuration, offset: Long, length: Long): Roaring64NavigableMap = {
    val raw = readRange(path, conf, offset, math.max(length, 8L).toInt)
    val bitmapBytes: Array[Byte] = {
      val bb = ByteBuffer.wrap(raw)
      val declared = bb.getInt(0) // big-endian combined length (magic + vector)
      val hasMagic = raw.length >= 8 && (0 until 4).forall(i => raw(4 + i) == DvMagic(i))
      if (hasMagic && declared >= 4 && declared <= raw.length - 4) {
        // [len][magic][bitmap][crc] — bitmap = declared - 4 bytes after magic
        java.util.Arrays.copyOfRange(raw, 8, 4 + declared)
      } else if ((0 until 4).forall(i => raw(i) == DvMagic(i))) {
        // bare magic-prefixed
        java.util.Arrays.copyOfRange(raw, 4, raw.length)
      } else {
        raw // legacy bare bitmap
      }
    }
    val bm = new Roaring64NavigableMap()
    bm.deserializePortable(new DataInputStream(new ByteArrayInputStream(bitmapBytes)))
    bm
  }
}
