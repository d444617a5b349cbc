package graft.operators

import graft.synth.ImageCodec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column plumbing: images/audio/video ride as opaque `binary`
 * columns with typed metadata; decode / feature-extract runs per partition
 * over the binary payloads (the Scala analogue of a batched mapInPandas —
 * one decoder instantiation per partition, not per row).
 *
 * PNG/JPEG/GIF/BMP decode is REAL (in-JDK javax.imageio, same codec the
 * synthesizer and phash validators use). Other formats (audio/video/webp...)
 * take the clearly-marked deterministic STUB path: the container has no media
 * codecs, so the stub derives a fake-but-stable feature vector from the
 * payload bytes — the Spark-side schema, partitioning, and batch shape are
 * real and tested.
 */
object Multimodal {

  val featureSchema: StructType = StructType(Seq(
    StructField("image_id", StringType),
    StructField("decoded", BooleanType),     // false => stub path
    StructField("dec_w", IntegerType),
    StructField("dec_h", IntegerType),
    StructField("phash64", LongType),
    StructField("mean_luma", DoubleType)))

  /** Formats the in-JDK javax.imageio registry genuinely decodes (png/jpeg
    * via cached per-thread readers, gif/bmp/wbmp via the registry fallback in
    * ImageCodec.decode). webp/audio/video are NOT in this set — the container
    * ships no codecs for them, so they take the stub path below. */
  private val jdkDecodable = Set("png", "jpg", "jpeg", "gif", "bmp", "wbmp")

  /** Real decode only for the formats the in-JDK codec handles; anything else
    * (or a corrupt payload) returns None and the caller stubs/passes through
    * instead of failing the task. */
  private def tryDecode(bytes: Array[Byte], fmt: String): Option[java.awt.image.BufferedImage] =
    if (jdkDecodable(fmt))
      try Option(ImageCodec.decode(bytes)) catch { case _: Throwable => None }
    else None

  /**
   * @param images (image_id STRING, bytes BINARY, fmt STRING)
   * @return per-row decode features (schema above); rows whose payload fails
   *         to decode fall back to the stub path instead of failing the task.
   */
  def decodeFeatures(spark: SparkSession, images: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(featureSchema)
    val input = images.select(col("image_id"), col("bytes"), col("fmt"))
    input.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getString(0)
        val bytes = r.getAs[Array[Byte]](1)
        val fmt = r.getString(2)
        tryDecode(bytes, fmt) match {
          case Some(img) =>
            var sum = 0.0
            val step = math.max(1, img.getWidth * img.getHeight / 4096) // sampled luma
            var i = 0
            var n = 0
            while (i < img.getWidth * img.getHeight) {
              val p = img.getRGB(i % img.getWidth, i / img.getWidth)
              sum += 0.299 * ((p >> 16) & 0xFF) + 0.587 * ((p >> 8) & 0xFF) + 0.114 * (p & 0xFF)
              n += 1
              i += step
            }
            Row(id, true, img.getWidth, img.getHeight,
              ImageCodec.averageHash(img), if (n == 0) 0.0 else sum / n)
          case None =>
            // STUB: deterministic fake features from payload bytes — replace
            // with a real codec when the target cluster ships one.
            val h = graft.functions.HashKernels.hashBytes(bytes, 7L)
            Row(id, false, -1, -1, h, ((h >>> 8) & 0xFF).toDouble)
        }
      }
    }(enc).toDF()
  }

  val regionKeySchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("key", LongType)))

  /**
   * Region-content keys for crop-resilient dedup: for every lattice-aligned
   * sub-rectangle of each image (corners on the (lattice+1)^2 grid of lines
   * `i * dim / lattice`), one 64-bit [[graft.synth.ImageCodec.regionKey]] —
   * an avalanche hash of the region's raw 8x8 luma cell grid, flat
   * regions (below `minContrast` luma spread) emitting nothing. A crop whose
   * bounds sit on the source's lattice produces, as its own FULL-frame key,
   * exactly the source's key for that region ([[graft.synth.ImageCodec
   * .regionCells]] integer-arithmetic identity), so crop pairs collide in
   * one equi-joinable key space — no pixel comparison at pair time.
   *
   * Scale shape: one decode per row (per-partition reader reuse, same as
   * [[decodeFeatures]]), C(lattice+1, 2)^2 keys per image (lattice=2 -> 9,
   * the default 3 -> 36, 4 -> 100) — the recall/volume knob: larger
   * lattices detect finer-grained crops at linearly more key rows. Keys are
   * 8-byte longs, so the downstream shuffle is (id, key) rows only.
   * Undecodable/stub-format rows emit no keys (honest-stub policy, as
   * [[decodeFeatures]]).
   */
  def cropRegionKeys(spark: SparkSession, images: DataFrame, lattice: Int = 3,
      minContrast: Double = 8.0): DataFrame = {
    require(lattice >= 1 && lattice <= 8,
      s"lattice($lattice) outside [1,8]: 8x8 hash cells need >= 1 px each way")
    val enc = ExpressionEncoder(regionKeySchema)
    val input = images.select(col("image_id"), col("bytes"), col("fmt"))
    input.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getString(0)
        val bytes = r.getAs[Array[Byte]](1)
        val fmt = r.getString(2)
        tryDecode(bytes, fmt) match {
          case Some(img) =>
            val w = img.getWidth; val h = img.getHeight
            val xs = Array.tabulate(lattice + 1)(i => i * w / lattice)
            val ys = Array.tabulate(lattice + 1)(i => i * h / lattice)
            for {
              ix0 <- 0 until lattice; ix1 <- (ix0 + 1) to lattice
              iy0 <- 0 until lattice; iy1 <- (iy0 + 1) to lattice
              if xs(ix1) > xs(ix0) && ys(iy1) > ys(iy0)
              k <- ImageCodec.regionKey(img, xs(ix0), ys(iy0),
                xs(ix1) - xs(ix0), ys(iy1) - ys(iy0), minContrast)
            } yield Row(id, k)
          case None => Nil
        }
      }
    }(enc).toDF()
  }

  /**
   * Aligned-tile content keys for overlay-resilient dedup: each image is
   * split into a `grid` x `grid` lattice of tiles (boundaries at
   * `i * dim / grid`, the [[cropRegionKeys]] arithmetic) and every tile
   * emits one [[graft.synth.ImageCodec.regionKey]] of its raw 8x8 luma cell
   * grid, tagged with its tile index and the frame dims. Two images that
   * differ only inside a stamped region (watermark, logo, timestamp — the
   * third common web re-post transform, complementary to [[cropRegionKeys]]
   * and [[borderTrimKeys]]) are pixel-identical on every untouched tile, so
   * they collide on that tile's (tile_idx, key, w, h) — same-position,
   * same-dims equality, which is exactly the overlay contract (an overlay
   * never moves the rest of the frame). Flat tiles below `minContrast`
   * emit nothing (they would bucket unrelated flat-background images).
   *
   * Scale shape: one decode per row, exactly grid^2 key rows per image
   * (8-byte key + 3 ints — narrower than [[cropRegionKeys]]' C(l+1,2)^2),
   * undecodable rows emit nothing (honest-stub policy).
   *
   * @return (id, tile_idx = iy * grid + ix, key, w, h)
   */
  def tileKeys(spark: SparkSession, images: DataFrame, grid: Int = 4,
      minContrast: Double = 8.0): DataFrame = {
    require(grid >= 2 && grid <= 8,
      s"grid($grid) outside [2,8]: 1 tile = whole frame (use exact dedup), " +
        "8x8 hash cells need >= 1 px each way")
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("tile_idx", IntegerType),
      StructField("key", LongType),
      StructField("w", IntegerType),
      StructField("h", IntegerType)))
    val enc = ExpressionEncoder(schema)
    val input = images.select(col("image_id"), col("bytes"), col("fmt"))
    input.mapPartitions { rows =>
      rows.flatMap { r =>
        tryDecode(r.getAs[Array[Byte]](1), r.getString(2)) match {
          case Some(img) =>
            val id = r.getString(0)
            val w = img.getWidth; val h = img.getHeight
            val xs = Array.tabulate(grid + 1)(i => i * w / grid)
            val ys = Array.tabulate(grid + 1)(i => i * h / grid)
            for {
              iy <- 0 until grid; ix <- 0 until grid
              if xs(ix + 1) > xs(ix) && ys(iy + 1) > ys(iy)
              k <- ImageCodec.regionKey(img, xs(ix), ys(iy),
                xs(ix + 1) - xs(ix), ys(iy + 1) - ys(iy), minContrast)
            } yield Row(id, iy * grid + ix, k, w, h)
          case None => Nil
        }
      }
    }(enc).toDF()
  }

  /**
   * Border-trimmed content keys: each image's uniform borders are stripped
   * ([[graft.synth.ImageCodec.contentBounds]] — letterbox / pillarbox /
   * nested frames) and the remaining content region emits ONE
   * [[graft.synth.ImageCodec.regionKey]]. A lossless re-post of an image
   * inside added solid bars trims to pixel-identical content, so the pair
   * collides on an equi-joinable key — the border-resilient complement of
   * [[cropRegionKeys]] (bars sit at arbitrary pixel offsets, which no
   * lattice covers). One decode + one O(pixels) trim scan per row;
   * undecodable rows emit nothing; flat images (all border, 1x1 content)
   * are dropped by the `minContrast` gate unless it is 0.
   *
   * @return (id, key, content_w, content_h)
   */
  def borderTrimKeys(spark: SparkSession, images: DataFrame,
      minContrast: Double = 8.0): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("key", LongType),
      StructField("content_w", IntegerType),
      StructField("content_h", IntegerType)))
    val enc = ExpressionEncoder(schema)
    val input = images.select(col("image_id"), col("bytes"), col("fmt"))
    input.mapPartitions { rows =>
      rows.flatMap { r =>
        tryDecode(r.getAs[Array[Byte]](1), r.getString(2)) match {
          case Some(img) =>
            val (x0, y0, cw, ch) = ImageCodec.contentBounds(img)
            ImageCodec.regionKey(img, x0, y0, cw, ch, minContrast)
              .map(k => Row(r.getString(0), k, cw, ch))
          case None => None
        }
      }
    }(enc).toDF()
  }

  /**
   * Scale-canonical content keys: one [[graft.synth.ImageCodec.scaleKey]]
   * per image — integer-luma 8x8 cell means + reduced aspect ratio, the
   * key that is BIT-IDENTICAL across integer-factor nearest-neighbor
   * rescales of multiple-of-8-dimension frames (the "re-uploaded at a
   * different resolution" transform, complementary to the crop / border /
   * overlay families). One decode + one O(pixels) integer pass per row;
   * undecodable rows emit nothing; low-contrast frames are dropped by the
   * `minContrast` gate unless it is 0.
   *
   * @return (id, key, w, h)
   */
  def scaleKeys(spark: SparkSession, images: DataFrame,
      minContrast: Double = 8.0): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("key", LongType),
      StructField("w", IntegerType),
      StructField("h", IntegerType)))
    val enc = ExpressionEncoder(schema)
    val input = images.select(col("image_id"), col("bytes"), col("fmt"))
    input.mapPartitions { rows =>
      rows.flatMap { r =>
        tryDecode(r.getAs[Array[Byte]](1), r.getString(2)) match {
          case Some(img) =>
            ImageCodec.scaleKey(img, minContrast)
              .map(k => Row(r.getString(0), k, img.getWidth, img.getHeight))
          case None => None
        }
      }
    }(enc).toDF()
  }

  /**
   * Geometric-canonical content keys — border trim COMPOSED with the
   * scale-canonical key: strip uniform bars ([[graft.synth.ImageCodec
   * .contentBounds]]), then key the remaining content region with
   * [[graft.synth.ImageCodec.scaleKeyRegion]]. One key catches added bars,
   * integer-factor NN rescales, AND their composition (the letterboxed
   * thumbnail): trim commutes with NN rescaling — a uniform row upscales to
   * f uniform rows, so trim(upscale(X)) is exactly upscale(trim(X)) — and
   * the scale key is then exact on the trimmed content whenever ITS
   * dimensions are multiples of 8. One decode + one O(pixels) trim + one
   * integer pass per row; undecodable rows emit nothing.
   *
   * @return (id, key, content_w, content_h)
   */
  def canonicalKeys(spark: SparkSession, images: DataFrame,
      minContrast: Double = 8.0): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("key", LongType),
      StructField("content_w", IntegerType),
      StructField("content_h", IntegerType)))
    val enc = ExpressionEncoder(schema)
    val input = images.select(col("image_id"), col("bytes"), col("fmt"))
    input.mapPartitions { rows =>
      rows.flatMap { r =>
        tryDecode(r.getAs[Array[Byte]](1), r.getString(2)) match {
          case Some(img) =>
            val (x0, y0, cw, ch) = ImageCodec.contentBounds(img)
            ImageCodec.scaleKeyRegion(img, x0, y0, cw, ch, minContrast)
              .map(k => Row(r.getString(0), k, cw, ch))
          case None => None
        }
      }
    }(enc).toDF()
  }
}
