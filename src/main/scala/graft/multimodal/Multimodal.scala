package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, QueryModule, Tables}

/** Multimodal-column plumbing: images/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract
  * operators.
  *
  * Image decode is REAL for every format: hand-parsed pure byte
  * parsing for the uncompressed ones — PPM/PGM images ([[Ppm]]/[[Pgm]]:
  * header dims, channel/quadrant features — see [[decodeImages]]),
  * 24-bit BMP ([[Bmp]]) — and the JDK's headless ImageIO for the
  * compressed ones ([[ImageCodec]]: JPEG/PNG/GIF, zero added
  * dependencies). PCM WAV audio ([[Wav]]) and Y4M video ([[Y4m]])
  * decode for the perceptual hashes in [[Perceptual]]. The QUICK
  * metadata in [[asMediaTable]] is a real header parse too —
  * fixed-offset / regex column expressions over the first bytes, nulls
  * where a header genuinely can't say (JPEG dims need a marker walk,
  * Y4M duration needs a frame scan). [[extractFeatures]] is real too:
  * an L2-normalized mean-luma-grid embedding from decoded pixels
  * ([[Ppm.lumaGrid]]) — a simple visual embedding, not a model, but
  * every float comes from image content. The plumbing is the real
  * 100 TB design:
  *
  *  - media rows are `(id, content binary, meta struct)` — the schema
  *    a lakehouse media table uses; metadata is sniffed from magic
  *    bytes so readers can partition-prune by `meta.mime` without
  *    touching content;
  *  - heavy per-row work runs in `mapPartitions` with ONE decoder
  *    instantiation per partition (the expensive-init pattern a real
  *    codec/model needs), streaming through rows without
  *    materializing a partition in memory;
  *  - feature vectors come back as `Array[Float]` columns that feed
  *    straight into [[graft.sim.Similarity]].
  */
object Multimodal extends QueryModule {

  val PpmMime = "image/x-portable-pixmap"
  val PgmMime = "image/x-portable-graymap"
  val Y4mMime = "video/x-yuv4mpeg"
  val BmpMime = "image/bmp"

  /** Magic-byte MIME sniffing (real: PPM/PGM/BMP/Y4M/PNG/JPEG/RIFF) on
    * the driver: the reference for [[asMediaTable]]'s `meta.mime`
    * column expression. */
  private[graft] def sniffMime(bytes: Array[Byte]): String = {
    if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6') PpmMime
    else if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '5') PgmMime
    else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') BmpMime
    else if (bytes.length >= 9 &&
      new String(bytes, 0, 9, "US-ASCII") == "YUV4MPEG2") Y4mMime
    else if (bytes.length >= 8 &&
      (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' &&
      bytes(3) == 'G') "image/png"
    else if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8) "image/jpeg"
    else if (bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == '8') "image/gif"
    else if (bytes.length >= 4 && bytes(0) == 'R' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == 'F') "audio/wav"
    else "application/octet-stream"
  }

  /** Little-endian unsigned integer read from a binary column slice
    * (1-based `pos`, `len` ≤ 7 bytes): per-byte hex→long, shifted. */
  private def leLong(c: Column, pos: Int, len: Int): Column =
    (0 until len).map(i =>
      conv(hex(substring(c, pos + i, 1)), 16, 10).cast("long") *
        lit(1L << (8 * i))).reduce(_ + _)

  /** Big-endian unsigned integer read (1-based `pos`). */
  private def beLong(c: Column, pos: Int, len: Int): Column =
    conv(hex(substring(c, pos, len)), 16, 10).cast("long")

  /** Reinterpret an unsigned 32-bit read as two's-complement signed. */
  private def signed32(v: Column): Column =
    when(v >= lit(1L << 31), v - lit(1L << 32)).otherwise(v)

  /** Wrap a binary column into the media schema with sniffed metadata.
    * Pure column expressions (no UDF → stays inside whole-stage
    * codegen). Dimensions/duration are REAL header parses, header-only
    * by design — fixed-offset reads (BMP/PNG/GIF/WAV) and a bounded
    * 128-byte regex (PNM/Y4M), never a scan of the blob body, so the
    * metadata pass stays cheap on GB-size media. Nulls where the
    * header genuinely can't say: JPEG dims (marker walk —
    * [[decodeImages]]/[[ImageCodec]] supply them), Y4M duration (frame
    * scan — [[Y4m.decode]]), audio dims, image duration. The PNM
    * regex covers comment-free headers (what [[Ppm.encode]] writes);
    * the full grammar incl. `#` comments lives in the codecs. */
  def asMediaTable(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val content = col("content")
    val mime =
      when(hex(substring(content, 1, 2)) === "5036", PpmMime)
        .when(hex(substring(content, 1, 2)) === "5035", PgmMime)
        .when(hex(substring(content, 1, 2)) === "424D", BmpMime)
        .when(substring(content, 1, 9).cast("string") === "YUV4MPEG2", Y4mMime)
        .when(hex(substring(content, 1, 4)) === "89504E47", "image/png")
        .when(hex(substring(content, 1, 2)) === "FFD8", "image/jpeg")
        .when(substring(content, 1, 4).cast("string") === "GIF8", "image/gif")
        .when(hex(substring(content, 1, 4)) === "52494646", "audio/wav")
        .otherwise("application/octet-stream")
    val n = length(content)
    // ASCII headers (PNM "P6\n<w> <h>\n...", Y4M "YUV4MPEG2 W<w> H<h>
    // F<n>:<d>"): bounded prefix cast — header bytes are ASCII, so the
    // lossy UTF-8 cast of trailing binary can't corrupt the match
    val hdr = substring(content, 1, 128).cast("string")
    // regexp_extract returns '' on no match and ANSI mode (Spark 4
    // default) makes CAST('' AS INT) THROW — nullif turns the no-match
    // case into the documented null. Digit runs are bounded to 8 so a
    // matched value can never overflow the int cast either.
    def rxInt(pattern: String, group: Int): Column =
      nullif(regexp_extract(hdr, pattern, group), lit("")).cast("int")
    val pnmRe = "^P[56]\\s+(\\d{1,8})\\s+(\\d{1,8})"
    val pnmW = rxInt(pnmRe, 1)
    val pnmH = rxInt(pnmRe, 2)
    val y4mW = rxInt(" W(\\d{1,8})", 1)
    val y4mH = rxInt(" H(\\d{1,8})", 1)
    // fixed-offset binary headers (1-based substring offsets):
    // BMP BITMAPINFOHEADER int32 LE at 19/23 (height < 0 = top-down;
    // gated on the DIB header-size field ≥ 40 — an OS/2
    // BITMAPCOREHEADER packs 16-bit dims at the same offsets and would
    // read as garbage, so it gets null instead);
    // PNG IHDR int32 BE at 17/21; GIF screen descriptor uint16 LE at 7/9
    val bmpInfo = leLong(content, 15, 4) >= 40
    val bmpW = signed32(leLong(content, 19, 4)).cast("int")
    val bmpH = abs(signed32(leLong(content, 23, 4))).cast("int")
    val pngW = beLong(content, 17, 4).cast("int")
    val pngH = beLong(content, 21, 4).cast("int")
    val gifW = leLong(content, 7, 2).cast("int")
    val gifH = leLong(content, 9, 2).cast("int")
    val width =
      when(mime === PpmMime || mime === PgmMime, pnmW)
        .when(mime === BmpMime && n >= 26 && bmpInfo, bmpW)
        .when(mime === "image/png" && n >= 24, pngW)
        .when(mime === "image/gif" && n >= 10, gifW)
        .when(mime === Y4mMime, y4mW)
        .otherwise(lit(null).cast("int"))
    val height =
      when(mime === PpmMime || mime === PgmMime, pnmH)
        .when(mime === BmpMime && n >= 26 && bmpInfo, bmpH)
        .when(mime === "image/png" && n >= 24, pngH)
        .when(mime === "image/gif" && n >= 10, gifH)
        .when(mime === Y4mMime, y4mH)
        .otherwise(lit(null).cast("int"))
    // canonical PCM WAV (what Wav.encode writes): byte rate LE32 at
    // 29, "data" tag at 37, data length LE32 at 41. Non-canonical
    // chunk layouts (LIST/fact before data) → null; Wav.decode walks
    // the full chunk list for those.
    val byteRate = leLong(content, 29, 4)
    val dataLen = leLong(content, 41, 4)
    val durationMs =
      when(mime === "audio/wav" && n >= 44 &&
        substring(content, 37, 4).cast("string") === "data" &&
        byteRate > 0,
        (dataLen * lit(1000L) / byteRate).cast("long"))
        .otherwise(lit(null).cast("long"))
    df.select(col(idCol).as("media_id"), col(binCol).as("content"))
      .withColumn("meta", struct(
        mime.as("mime"),
        length(content).cast("long").as("size_bytes"),
        width.as("width"),
        height.as("height"),
        durationMs.as("duration_ms")))
  }

  /** REAL feature extraction: binary content → L2-normalized √dim×√dim
    * mean-luma grid embedding ([[Ppm.lumaGrid]]) decoded from actual
    * pixels — PPM/PGM/BMP natively, JPEG/PNG/GIF via the JDK's
    * ImageIO ([[ImageCodec]]). Non-image or corrupt rows get null
    * features (no fabricated values). mapPartitions streams rows with
    * one decode scope per partition — the expensive-init shape a
    * heavier model decoder would need; output schema is explicit. */
  def extractFeatures(media: DataFrame, dim: Int = 16): DataFrame = {
    val g = math.sqrt(dim.toDouble).toInt
    require(g * g == dim,
      s"dim must be a perfect square (g×g luma grid), got $dim")
    val spark = media.sparkSession
    val outSchema = StructType(
      media.schema.fields.toSeq :+ StructField("features",
        ArrayType(FloatType)))
    val rdd = media.rdd.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]]("content")
        val img =
          if (bytes == null) None
          else Ppm.decode(bytes).orElse(Bmp.decode(bytes))
            .orElse(Pgm.decode(bytes)).orElse(ImageCodec.decode(bytes))
        Row.fromSeq(r.toSeq :+ img.map(Ppm.lumaGrid(_, g).toSeq).orNull)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL image decode: PPM, PGM, 24-bit BMP, and — via the JDK's
    * ImageIO ([[ImageCodec]]) — JPEG/PNG/GIF rows get actual header
    * dimensions and pixel-derived features ([[Ppm.features]] —
    * channel means + quadrant luminance; every codec decodes to the
    * same RGB raster); other rows get nulls. Same mapPartitions shape
    * as [[extractFeatures]]: one decoder scope per partition,
    * streaming, corrupt blobs → null columns (not exceptions). */
  def decodeImages(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(media.schema.fields.toSeq ++ Seq(
      StructField("img_width", IntegerType),
      StructField("img_height", IntegerType),
      StructField("img_features", ArrayType(FloatType))))
    val rdd = media.rdd.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]]("content")
        val decoded = Ppm.decode(bytes).orElse(Bmp.decode(bytes))
          .orElse(Pgm.decode(bytes)).orElse(ImageCodec.decode(bytes))
        Row.fromSeq(r.toSeq ++ (decoded match {
          case Some(img) =>
            Seq(img.width, img.height, Ppm.features(img).toSeq)
          case None => Seq(null, null, null)
        }))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** The synthetic media corpus: each document's UTF-8 bytes tiled
    * into an 8×8 PPM raster (empty/null text → a black frame). Shared
    * by q70 and the perceptual-hash q122 so their oracles replay ONE
    * rendering spelling — a drifted copy in either would silently
    * detach that query's DuckDB replay. */
  private[multimodal] def renderedBlobs(s: SparkSession,
                                        dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        // null/empty text is data, not an error: render a black frame
        val bytes = Option(text).getOrElse("")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val raster =
          if (bytes.isEmpty) new Array[Byte](8 * 8 * 3)
          else Array.tabulate(8 * 8 * 3)(i => bytes(i % bytes.length))
        (id, Ppm.encode(Ppm.Image(8, 8, raster)))
      }.toDF("doc_id", "blob")
  }

  /** q70: end-to-end multimodal pipeline over testdata. No real media
    * ships in the container, so each document renders via
    * [[renderedBlobs]] — and from there the pipeline is REAL:
    * magic-byte sniff → header decode → pixel-derived features via the
    * [[Ppm]] codec, all distributed, plus the stub-decoder leg for the
    * codec-less formats. */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    val blobs = renderedBlobs(s, dir)
    val media = asMediaTable(blobs, "doc_id", "blob")
    decodeImages(media)
      .select(col("media_id"), col("meta.mime").as("mime"),
        col("meta.size_bytes").as("size_bytes"),
        col("img_width"), col("img_height"),
        aggregate(col("img_features").cast("array<double>"),
          lit(0.0d), (acc, x) => acc + x).as("feature_sum"))
      .orderBy("media_id")
  }

  /** q137: the decode→embed→search pipeline REAL end-to-end: render
    * blobs, sniff + decode them with the actual codec, embed via the
    * pixel-derived [[Ppm.lumaGrid]] (L2-normalized 16-dim), then
    * brute-force top-k cosine neighbors for the query media
    * (media_id < 10) — the q50 shape: tiny query side broadcast, one
    * corpus scan, exact [[graft.functions.FloatDot]] scoring. Every
    * float the ranking consumes comes from image content, and DuckDB
    * replays the whole chain (raster → luma grid → normalize → dot →
    * rank), so the embedding math itself is hash-gated. */
  def mediaEmbedKnn(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val media = asMediaTable(renderedBlobs(s, dir), "doc_id", "blob")
    val emb = extractFeatures(media, dim = 16)
      .select(col("media_id"), col("features"))
    val q = emb.where(col("media_id") < 10)
      .select(col("media_id").as("query_id"), col("features").as("qv"))
    val scored = emb.join(broadcast(q), col("media_id") =!= col("query_id"))
      .select(col("query_id"), col("media_id").as("neighbor_id"),
        call_function("float_dot", col("features"), col("qv")).as("cosine"))
    // the one kNN rank/tie-break spelling (see Similarity.rankTopK)
    graft.sim.Similarity.rankTopK(scored, k)
  }

  /** The q70 pipeline IS SQL-expressible after all: the raster is a
    * deterministic byte expansion of the document text, [[Ppm.features]]
    * is integer sums with one float division per output (float division
    * via double is exactly rounded — 53 ≥ 2·24+2), and the final sum is
    * a sequential double fold. DuckDB regenerates the raster with
    * `encode()`+`hex()` and replays the whole decode, so the magic
    * sniff, header parse, and pixel-feature math are all hash-checked.
    * The quadrant populations are constant (8×8 → 16 per quadrant). */
  lazy val records: Seq[Query] = Seq(
    Query("q70_multimodal_features", mediaFeatures(_, _),
      """WITH b AS (
        |  SELECT doc_id, hex(encode(coalesce(text, ''))) AS h,
        |    octet_length(encode(coalesce(text, ''))) AS n
        |  FROM documents
        |), raster AS (
        |  SELECT doc_id,
        |    CASE WHEN n = 0 THEN [0 for i in range(0, 192)]
        |         ELSE [('0x' || substr(h, 2 * (i % n) + 1, 2))::INT
        |               for i in range(0, 192)]
        |    END AS px
        |  FROM b
        |), sums AS (
        |  SELECT doc_id,
        |    list_sum([px[3*p + 1] for p in range(0, 64)]) AS r,
        |    list_sum([px[3*p + 2] for p in range(0, 64)]) AS g,
        |    list_sum([px[3*p + 3] for p in range(0, 64)]) AS bb,
        |    [list_sum([
        |       CASE WHEN (CASE WHEN (p // 8) * 2 >= 8 THEN 2 ELSE 0 END +
        |                  CASE WHEN (p % 8) * 2 >= 8 THEN 1 ELSE 0 END) = q
        |            THEN (299 * px[3*p + 1] + 587 * px[3*p + 2]
        |                  + 114 * px[3*p + 3]) // 1000
        |            ELSE 0 END
        |     for p in range(0, 64)]) for q in range(0, 4)] AS quads
        |  FROM raster
        |), feats AS (
        |  SELECT doc_id,
        |    CAST(CAST(r AS FLOAT) / CAST(64 AS FLOAT) AS FLOAT) AS f0,
        |    CAST(CAST(g AS FLOAT) / CAST(64 AS FLOAT) AS FLOAT) AS f1,
        |    CAST(CAST(bb AS FLOAT) / CAST(64 AS FLOAT) AS FLOAT) AS f2,
        |    CAST(CAST(quads[1] AS FLOAT) / CAST(16 AS FLOAT) AS FLOAT) AS f3,
        |    CAST(CAST(quads[2] AS FLOAT) / CAST(16 AS FLOAT) AS FLOAT) AS f4,
        |    CAST(CAST(quads[3] AS FLOAT) / CAST(16 AS FLOAT) AS FLOAT) AS f5,
        |    CAST(CAST(quads[4] AS FLOAT) / CAST(16 AS FLOAT) AS FLOAT) AS f6
        |  FROM sums
        |)
        |SELECT doc_id AS media_id, 'image/x-portable-pixmap' AS mime,
        |  CAST(203 AS BIGINT) AS size_bytes, 8 AS img_width, 8 AS img_height,
        |  CAST(f0 AS DOUBLE) + f1 + f2 + f3 + f4 + f5 + f6 AS feature_sum
        |FROM feats ORDER BY media_id""".stripMargin),
    // q137 replays the ENTIRE Spark chain: the q70 raster rendering,
    // the 4×4 mean-luma grid (integer luma floored, float mean over
    // the 4 pixels per cell), double sequential L2 norm, float
    // normalized components, then FloatDot's exact semantics (float
    // products, sequential double accumulation) and the rank window.
    Query("q137_media_embed_knn", mediaEmbedKnn(_, _),
      """WITH b AS (
        |  SELECT doc_id, hex(encode(coalesce(text, ''))) AS h,
        |    octet_length(encode(coalesce(text, ''))) AS n
        |  FROM documents
        |), raster AS (
        |  SELECT doc_id,
        |    CASE WHEN n = 0 THEN [0 for i in range(0, 192)]
        |         ELSE [('0x' || substr(h, 2 * (i % n) + 1, 2))::INT
        |               for i in range(0, 192)]
        |    END AS px
        |  FROM b
        |), luma AS (
        |  SELECT doc_id,
        |    [(299 * px[3*p + 1] + 587 * px[3*p + 2] + 114 * px[3*p + 3]) // 1000
        |     for p in range(0, 64)] AS lum
        |  FROM raster
        |), grid AS (
        |  SELECT doc_id,
        |    [CAST(CAST(list_sum([CASE WHEN ((p // 8) // 2) * 4 + ((p % 8) // 2) = c
        |                              THEN lum[p + 1] ELSE 0 END
        |                         for p in range(0, 64)]) AS FLOAT)
        |          / CAST(4 AS FLOAT) AS FLOAT)
        |     for c in range(0, 16)] AS f
        |  FROM luma
        |), normed AS (
        |  SELECT doc_id, f,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [CAST(f[i] AS DOUBLE) * CAST(f[i] AS DOUBLE)
        |       for i in range(1, 17)]), (acc, x) -> acc + x)) AS nrm
        |  FROM grid
        |), emb AS (
        |  SELECT doc_id,
        |    CASE WHEN nrm = 0 THEN f
        |         ELSE [CAST(CAST(f[i] AS DOUBLE) / nrm AS FLOAT)
        |               for i in range(1, 17)]
        |    END AS e
        |  FROM normed
        |), scored AS (
        |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [q.e[i] * c.e[i] for i in range(1, 17)]),
        |      (acc, x) -> acc + x) AS cosine
        |  FROM emb q JOIN emb c ON c.doc_id <> q.doc_id
        |  WHERE q.doc_id < 10
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, cosine, rank
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin))
}
