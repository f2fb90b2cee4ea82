package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.hash_embed

/** Multimodal-column plumbing for the training-data pipeline: treat
  * image/audio/video payloads as opaque BINARY columns with typed metadata,
  * and run decode / feature-extract as batch transforms.
  *
  * STUB BOUNDARY (clearly marked): no image/audio codecs ship in this
  * container, so `fakeDecodeFeatures` below produces deterministic
  * pseudo-features from the bytes (hash-embedding of a hex prefix).
  * Everything AROUND the stub is real and tested: schema contract,
  * null/short-payload handling, batch shape, partitioning. A real decoder
  * replaces exactly the `fakeDecodeFeatures` expression (e.g. with a
  * Pandas-UDF/mapInPandas stage in a PySpark deployment, or a JNI codec
  * here), nothing else moves.
  *
  * Reference analogue: none — the reference is text-only; this is part of the
  * engine's web-corpus surface.
  */
object Multimodal {

  /** Typed metadata parsed from the payload header. Deterministic fake parse:
    * widths/heights derived from the first bytes — REPLACE with a real header
    * parser at deployment. The schema is the contract. */
  def withMediaMeta(df: DataFrame, binCol: String = "payload"): DataFrame = {
    val b = col(binCol)
    df
      .withColumn("media_size_bytes", length(b).cast("long"))
      .withColumn("media_meta", struct(
        // STUB: fake header fields, pure function of the payload bytes.
        // md5-derived (not xxhash) so the whole media-meta path is
        // oracle-checkable cross-engine: 8 hex chars -> 32-bit int -> ranged
        (conv(substring(md5(b), 1, 8), 16, 10).cast("long") % 1920 + 64)
          .cast("int").as("width"),
        (conv(substring(md5(b), 9, 8), 16, 10).cast("long") % 1080 + 64)
          .cast("int").as("height"),
        when(length(b) % 3 === 0, "image/jpeg")
          .when(length(b) % 3 === 1, "image/png")
          .otherwise("application/octet-stream").as("format")))
  }

  /** STUB decode -> feature vector: deterministic hash-embedding of the hex
    * of the first 64 payload bytes (stands in for a CNN feature extractor).
    * Identical payloads always produce identical features — which is the
    * property the downstream dedup/ANN plumbing actually relies on. */
  def fakeDecodeFeatures(binCol: org.apache.spark.sql.Column,
      dim: Int = 64): org.apache.spark.sql.Column =
    hash_embed(hex(substring(binCol, 1, 64)), dim)

  /** Media near-dup: identical/near-identical payload features within
    * cosine >= threshold (pairs via exact payload-hash buckets first,
    * falling back to feature cosine for the rest). */
  def withPayloadFeatures(df: DataFrame, binCol: String = "payload",
      dim: Int = 64): DataFrame =
    df.withColumn("payload_sha", sha2(col(binCol), 256))
      .withColumn("features", fakeDecodeFeatures(col(binCol), dim))
}
