package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column support: image/audio/video payloads ride as opaque
  * `binary` columns with a typed metadata struct; feature extraction runs
  * batched per partition.
  *
  * Scale design: the payload column stays opaque to Catalyst (no codegen
  * over megabyte blobs); metadata lives in a small sibling struct so
  * filters/pruning touch only metadata (Parquet reads skip the blob
  * column entirely when it isn't selected). Extraction is a
  * `mapPartitions` over row batches — the same batch shape as an Arrow/
  * Pandas-UDF pipeline, so a real decoder drops in without changing the
  * plan. Heavy per-row work parallelizes by partition count, not driver
  * loops.
  *
  * The decoder is a real pure-JVM header parser: BMP and WAV (and PNG's
  * IHDR) are plain byte arithmetic — no codec library needed — so
  * `decodeMedia` reads genuine width/height/sample-rate/channels from
  * genuine file bytes. Compressed payload DATA (JPEG entropy coding,
  * audio codecs) would still need a library; those formats fall through
  * to `format = "raw"` with size/checksum only.
  */
object Multimodal {

  /** Metadata schema carried next to every payload. */
  val metaSchema: StructType = StructType(Seq(
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("mime", StringType, nullable = false)))

  /** Feature schema produced by the decoder. `format` is "bmp" / "wav" /
    * "png" / "raw"; fields a format doesn't carry are -1 (never NULL —
    * keeps downstream aggregation null-safe).
    */
  case class MediaFeatures(doc_id: Long, n_bytes: Int, checksum: Long,
                           format: String, width: Int, height: Int,
                           sample_rate: Int, channels: Int)

  /** Wrap a text column as an opaque binary payload + metadata struct —
    * the ingestion shape for any media column.
    */
  def attachPayload(df: DataFrame, idCol: String, contentCol: String,
                    mime: String = "text/plain"): DataFrame =
    df.select(
      col(idCol),
      encode(col(contentCol), "UTF-8").as("payload"),
      struct(octet_length(encode(col(contentCol), "UTF-8")).as("n_bytes"),
             lit(mime).as("mime")).as("meta"))

  /** Pure-expression payload features (no decode): size, content hash,
    * prefix sample. These run codegen'd inside the scan stage.
    */
  def payloadFeatures(df: DataFrame, idCol: String): DataFrame =
    df.select(
      col(idCol),
      col("meta.n_bytes").as("n_bytes"),
      md5(col("payload")).as("content_md5"),
      hex(substring(col("payload"), 1, 8)).as("prefix_hex"))

  // little/big-endian field reads — the whole of header "decoding"
  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  /** JPEG dimensions: walk the marker segments from SOI to the first
    * start-of-frame (SOF0-SOF15, minus the non-frame C4/C8/CC codes)
    * and read height/width from its fixed-offset big-endian fields.
    * "Compressed data needs a codec" is true for PIXELS, not for
    * dimensions — the frame header is plain byte arithmetic. Returns
    * (-1, -1) on any malformed walk (truncated segment, no SOF): one
    * corrupt blob must not kill a 100 TB extraction job.
    */
  private def jpegDims(b: Array[Byte]): (Int, Int) = {
    var i = 2
    while (i + 3 < b.length && (b(i) & 0xff) == 0xff) {
      // JPEG permits any number of 0xFF FILL bytes before a marker
      // code; treating a fill byte as the marker would read its
      // neighbor as a length field and mis-step the walk. Skip runs of
      // 0xFF so b(i+1) is the actual marker code.
      while (i + 3 < b.length && (b(i + 1) & 0xff) == 0xff) i += 1
      // the skip may consume the tail (a blob truncated inside a fill
      // run); without this guard the length-field read below indexes
      // past the array — and this walk must never throw
      if (i + 3 >= b.length) return (-1, -1)
      val marker = b(i + 1) & 0xff
      if (marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
        return if (i + 8 < b.length) (be16(b, i + 7), be16(b, i + 5))
               else (-1, -1)
      } else if (marker == 0xd8 || marker == 0x01 ||
                 (marker >= 0xd0 && marker <= 0xd7)) {
        i += 2 // standalone markers carry no length field
      } else if (marker == 0xd9) {
        return (-1, -1) // EOI before any frame header
      } else {
        i += 2 + be16(b, i + 2)
      }
    }
    (-1, -1)
  }
  private def ascii(b: Array[Byte], o: Int, s: String): Boolean =
    s.indices.forall(i => b(o + i) == s.charAt(i).toByte)

  /** Real header decode, pure byte arithmetic (no codec library):
    *  - BMP (BITMAPFILEHEADER + BITMAPINFOHEADER): width/height at
    *    offsets 18/22, 32-bit little-endian.
    *  - WAV (RIFF/WAVE, "fmt " chunk first): channels at 22 (LE16),
    *    sample rate at 24 (LE32).
    *  - PNG IHDR: width/height at 16/20, 32-bit big-endian.
    *  - JPEG: marker-segment walk to the first SOF header (see
    *    [[jpegDims]]).
    *  - GIF (87a/89a): logical screen descriptor — width/height at
    *    6/8, 16-bit little-endian.
    * Anything else — including truncated headers — is `"raw"` with
    * size + checksum only (-1 dims), never a throw: one corrupt blob
    * must not kill a 100 TB extraction job.
    */
  def decodeMedia(id: Long, bytes: Array[Byte]): MediaFeatures = {
    var sum = 0L
    var i = 0
    while (i < bytes.length) { sum += (bytes(i) & 0xff); i += 1 }
    val n = bytes.length
    if (n >= 26 && ascii(bytes, 0, "BM"))
      MediaFeatures(id, n, sum, "bmp",
        width = le32(bytes, 18), height = le32(bytes, 22),
        sample_rate = -1, channels = -1)
    else if (n >= 36 && ascii(bytes, 0, "RIFF") &&
             ascii(bytes, 8, "WAVE") && ascii(bytes, 12, "fmt "))
      MediaFeatures(id, n, sum, "wav", width = -1, height = -1,
        sample_rate = le32(bytes, 24), channels = le16(bytes, 22))
    else if (n >= 24 && bytes(0) == 0x89.toByte && ascii(bytes, 1, "PNG"))
      MediaFeatures(id, n, sum, "png",
        width = be32(bytes, 16), height = be32(bytes, 20),
        sample_rate = -1, channels = -1)
    else if (n >= 4 && bytes(0) == 0xff.toByte && bytes(1) == 0xd8.toByte) {
      val (w, h) = jpegDims(bytes)
      MediaFeatures(id, n, sum, if (w > 0) "jpeg" else "raw",
        width = w, height = h, sample_rate = -1, channels = -1)
    } else if (n >= 13 && ascii(bytes, 0, "GIF8") &&
               (bytes(4) == '7'.toByte || bytes(4) == '9'.toByte) &&
               bytes(5) == 'a'.toByte)
      MediaFeatures(id, n, sum, "gif",
        width = le16(bytes, 6), height = le16(bytes, 8),
        sample_rate = -1, channels = -1)
    else
      MediaFeatures(id, n, sum, "raw", -1, -1, -1, -1)
  }

  /** Minimal valid 24-bpp BMP (BITMAPINFOHEADER, rows padded to 4 bytes,
    * deterministic pixel fill) — the fixture side of the decode
    * round-trip. File size = 54 + height · rowSize,
    * rowSize = ⌈3·width/4⌉·4.
    */
  def encodeBmp(width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0)
    val rowSize = (width * 3 + 3) / 4 * 4
    val size = 54 + rowSize * height
    val b = new Array[Byte](size)
    def w16(o: Int, v: Int): Unit = { b(o) = v.toByte; b(o + 1) = (v >> 8).toByte }
    def w32(o: Int, v: Int): Unit = { w16(o, v & 0xffff); w16(o + 2, v >>> 16) }
    b(0) = 'B'; b(1) = 'M'
    w32(2, size); w32(10, 54)
    w32(14, 40); w32(18, width); w32(22, height)
    w16(26, 1); w16(28, 24)
    w32(34, rowSize * height)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width * 3) { b(54 + y * rowSize + x) = ((x + y) % 256).toByte; x += 1 }
      y += 1
    }
    b
  }

  /** Minimal valid PCM-16 WAV (RIFF/WAVE + "fmt " + "data", deterministic
    * samples) — file size = 44 + nSamples · channels · 2.
    */
  def encodeWav(sampleRate: Int, channels: Int, nSamples: Int): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && nSamples >= 0)
    val dataSize = nSamples * channels * 2
    val b = new Array[Byte](44 + dataSize)
    def w16(o: Int, v: Int): Unit = { b(o) = v.toByte; b(o + 1) = (v >> 8).toByte }
    def w32(o: Int, v: Int): Unit = { w16(o, v & 0xffff); w16(o + 2, v >>> 16) }
    def tag(o: Int, s: String): Unit = s.indices.foreach(i => b(o + i) = s.charAt(i).toByte)
    tag(0, "RIFF"); w32(4, 36 + dataSize); tag(8, "WAVE")
    tag(12, "fmt "); w32(16, 16); w16(20, 1); w16(22, channels)
    w32(24, sampleRate); w32(28, sampleRate * channels * 2)
    w16(32, channels * 2); w16(34, 16)
    tag(36, "data"); w32(40, dataSize)
    var i = 0
    while (i < nSamples * channels) { w16(44 + i * 2, (i * 31) & 0xffff); i += 1 }
    b
  }

  /** Minimal well-formed JPEG: SOI, a COM segment of `commentLen`
    * deterministic bytes (so file size is data-dependent), a SOF0 frame
    * header carrying the real dimensions, EOI. File size =
    * 21 + commentLen.
    */
  def encodeJpeg(width: Int, height: Int, commentLen: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0 && commentLen >= 0 && commentLen <= 0xfffd)
    val b = new Array[Byte](21 + commentLen)
    def w16(o: Int, v: Int): Unit = { b(o) = (v >> 8).toByte; b(o + 1) = v.toByte }
    b(0) = 0xff.toByte; b(1) = 0xd8.toByte              // SOI
    b(2) = 0xff.toByte; b(3) = 0xfe.toByte              // COM
    w16(4, 2 + commentLen)
    var i = 0
    while (i < commentLen) { b(6 + i) = ((i * 7) % 256).toByte; i += 1 }
    val s = 6 + commentLen
    b(s) = 0xff.toByte; b(s + 1) = 0xc0.toByte          // SOF0
    w16(s + 2, 11)                                      // len: 8 + 3·1 comp
    b(s + 4) = 8                                        // precision
    w16(s + 5, height); w16(s + 7, width)
    b(s + 9) = 1                                        // 1 component
    b(s + 10) = 1; b(s + 11) = 0x11; b(s + 12) = 0      // id/sampling/qtbl
    b(s + 13) = 0xff.toByte; b(s + 14) = 0xd9.toByte    // EOI
    b
  }

  /** Minimal well-formed GIF89a: header + logical screen descriptor
    * (width/height LE16, no global color table) + trailer. 14 bytes.
    */
  def encodeGif(width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0)
    val b = new Array[Byte](14)
    "GIF89a".indices.foreach(i => b(i) = "GIF89a".charAt(i).toByte)
    b(6) = width.toByte; b(7) = (width >> 8).toByte
    b(8) = height.toByte; b(9) = (height >> 8).toByte
    b(13) = 0x3b.toByte
    b
  }

  /** Batched feature extraction over (id, payload) rows: one decoder
    * invocation per row, streamed per partition (the mapInPandas /
    * Arrow-batch execution shape, minus Python).
    */
  def extractFeatures(spark: SparkSession, df: DataFrame, idCol: String)
      : Dataset[MediaFeatures] = {
    import spark.implicits._
    df.select(col(idCol), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeMedia(id, bytes) })
  }
}
