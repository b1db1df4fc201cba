package graft.codec

import graft.model.{KHeader, KRecord}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Legacy JSON segment format (S11, restore/helpers.rs:23-51): a JSON array
  * of records with base64-encoded byte fields, optionally whole-file
  * compressed, detected by the storage-key extension. Format sniffing: a
  * segment starting with the "KBAK" magic is binary, anything else is legacy.
  */
object LegacySegment {
  implicit private val formats: Formats = DefaultFormats

  private val b64 = java.util.Base64.getDecoder
  private val b64e = java.util.Base64.getEncoder

  def isBinarySegment(data: Array[Byte]): Boolean =
    data.length >= 4 &&
      data(0) == 'K' && data(1) == 'B' && data(2) == 'A' && data(3) == 'K'

  /** Decode either format; the key's extension selects the decompressor for
    * the legacy path (the binary header carries its own codec byte). Only
    * records inside the inclusive `[windowStartMs, windowEndMs]` window are
    * returned.
    */
  def decodeAny(data: Array[Byte], key: String, topic: String = null,
                partition: Int = -1, windowStartMs: Long = Long.MinValue,
                windowEndMs: Long = Long.MaxValue): Iterator[KRecord] =
    if (isBinarySegment(data))
      SegmentCodec.decode(data, topic, partition, windowStartMs, windowEndMs)
    else decodeLegacy(
      Compression.decompress(data, CompressionCodec.fromExtension(key)),
      topic, partition)
      .filter(r => r.timestamp >= windowStartMs && r.timestamp <= windowEndMs)

  def decodeLegacy(json: Array[Byte], topic: String, partition: Int): Iterator[KRecord] = {
    val parsed = JsonMethods.parse(new String(json, java.nio.charset.StandardCharsets.UTF_8))
    parsed.children.iterator.map { rec =>
      val key = (rec \ "key") match {
        case JString(s) => b64.decode(s)
        case _ => null
      }
      val value = (rec \ "value") match {
        case JString(s) => b64.decode(s)
        case _ => null
      }
      val headers = (rec \ "headers") match {
        case JArray(hs) => hs.map { h =>
          KHeader((h \ "key").extract[String],
            (h \ "value") match { case JString(s) => b64.decode(s); case _ => Array.emptyByteArray })
        }
        case _ => Nil
      }
      KRecord(topic, partition,
        (rec \ "offset").extract[Long], (rec \ "timestamp").extract[Long],
        key, value, headers)
    }
  }

  /** Encode the legacy form (for fixtures and migration tests). */
  def encodeLegacy(records: Seq[KRecord], codec: CompressionCodec = CompressionCodec.None): Array[Byte] = {
    def b(v: Array[Byte]): String =
      if (v == null) "null" else "\"" + b64e.encodeToString(v) + "\""
    val rows = records.map { r =>
      val hs = r.headers.map(h =>
        s"""{"key":${JsonMethods.compact(JString(h.key))},"value":"${b64e.encodeToString(
          if (h.value == null) Array.emptyByteArray else h.value)}"}""").mkString(",")
      s"""{"key":${b(r.key)},"value":${b(r.value)},"headers":[$hs],""" +
        s""""timestamp":${r.timestamp},"offset":${r.offset}}"""
    }
    Compression.compress(rows.mkString("[", ",", "]").getBytes("UTF-8"), codec)
  }
}
