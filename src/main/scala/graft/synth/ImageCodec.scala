package graft.synth

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.stream.MemoryCacheImageOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/**
 * In-JDK image codec (java.awt + javax.imageio only — zero external deps):
 * encode/decode PNG and JPEG, average-hash perceptual hashing, PSNR.
 * Used by the synthetic generator, the multimodal decode operator, and the
 * per-row fidelity validators (BASELINE.json input_hint: decoded-pixel
 * PSNR >= 40 dB for lossy, byte equality otherwise).
 */
object ImageCodec {

  // ImageIO defaults to a FileCache*ImageStream per read/write — a temp file
  // on every decode. At 32 concurrent decode tasks that serializes on /tmp
  // inode churn; in-memory streams keep the stage CPU-bound (scaling probe).
  ImageIO.setUseCache(false)

  def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** JPEG encode with a fixed quality so output bytes are deterministic for a
    * given JVM (FIXTURES.md section 4: fixed encoder params + seeds). */
  def encodeJpg(img: BufferedImage, quality: Float = 0.99f): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    // JPEG writer rejects alpha; ensure 3-band RGB
    val rgb = toRgb(img)
    writer.write(null, new IIOImage(rgb, null, null), params)
    ios.flush(); writer.dispose()
    bos.toByteArray
  }

  // ImageIO.read performs synchronized IIORegistry/ServiceRegistry lookups
  // on EVERY call; at ~600k decodes that serializes tens of seconds of lock
  // time across all executor threads (measured: a ~30s ingest component
  // constant across 2 and 8 cores — the signature of a serialized section).
  // Readers are not thread-safe, so cache one per (thread, format) and
  // dispatch on the payload's magic bytes; unknown formats fall back to the
  // registry path.
  private val pngReader: ThreadLocal[javax.imageio.ImageReader] =
    ThreadLocal.withInitial(() => ImageIO.getImageReadersByFormatName("png").next())
  private val jpgReader: ThreadLocal[javax.imageio.ImageReader] =
    ThreadLocal.withInitial(() => ImageIO.getImageReadersByFormatName("jpg").next())

  private def isPng(b: Array[Byte]): Boolean =
    b.length > 8 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'

  private def isJpg(b: Array[Byte]): Boolean =
    b.length > 3 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8

  def decode(bytes: Array[Byte]): BufferedImage = {
    val reader =
      if (isPng(bytes)) pngReader.get()
      else if (isJpg(bytes)) jpgReader.get()
      else return ImageIO.read(new ByteArrayInputStream(bytes))
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis, true, true)
      reader.read(0)
    } finally {
      reader.setInput(null)
      iis.close()
    }
  }

  def toRgb(img: BufferedImage): BufferedImage = {
    if (img.getType == BufferedImage.TYPE_3BYTE_BGR) return img
    val out = new BufferedImage(img.getWidth, img.getHeight, BufferedImage.TYPE_3BYTE_BGR)
    val g = out.createGraphics()
    g.drawImage(img, 0, 0, null)
    g.dispose()
    out
  }

  /** Nearest-neighbor resize (deterministic, no AA jitter across JVMs). */
  def resize(img: BufferedImage, w: Int, h: Int): BufferedImage = {
    val out = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val sx = math.min(img.getWidth - 1, x * img.getWidth / w)
        val sy = math.min(img.getHeight - 1, y * img.getHeight / h)
        out.setRGB(x, y, img.getRGB(sx, sy))
        x += 1
      }
      y += 1
    }
    out
  }

  /** ITU-R BT.601 luminance per pixel. */
  private def luma(rgb: Int): Double = {
    val r = (rgb >> 16) & 0xFF
    val g = (rgb >> 8) & 0xFF
    val b = rgb & 0xFF
    0.299 * r + 0.587 * g + 0.114 * b
  }

  /**
   * 64-bit average-hash: area-average luminance on an 8x8 grid, bit i set iff
   * cell i is above the grid mean (FIXTURES.md: DCT-free average-hash variant).
   * Small pixel perturbations (lossy re-encode, mild resize) flip few bits;
   * unrelated images differ on ~32.
   */
  // fast path: read the 3BYTE_BGR raster array directly — getRGB goes
  // through ColorModel conversion per pixel (~10x the decode cost on the
  // validation hot path); both paths compute identical cell sums because
  // luma coefficients are applied to the same 8-bit channel values
  private def lumaAccessor(img: BufferedImage): (Int, Int) => Double =
    img.getRaster.getDataBuffer match {
      case b: java.awt.image.DataBufferByte
          if img.getType == BufferedImage.TYPE_3BYTE_BGR &&
            b.getData.length == img.getWidth * img.getHeight * 3 =>
        val d = b.getData
        val w = img.getWidth
        (x, y) => {
          val o = (y * w + x) * 3
          0.299 * (d(o + 2) & 0xFF) + 0.587 * (d(o + 1) & 0xFF) + 0.114 * (d(o) & 0xFF)
        }
      case _ => (x, y) => luma(img.getRGB(x, y))
    }

  /**
   * 8x8 grid of area-average luminance over the region
   * [x0, x0+rw) x [y0, y0+rh) — the SAME integer cell arithmetic as
   * [[averageHash]] runs over a whole frame of size rw x rh, just offset by
   * (x0, y0). Consequence (the crop-dedup invariant [[graft.operators.Dedup
   * .cropDups]] builds on): for a losslessly-encoded crop of exactly this
   * region, `regionCells(original, x0, y0, rw, rh)` equals the cells
   * [[averageHash]] computes on the cropped image, bit for bit.
   */
  def regionCells(img: BufferedImage, x0: Int, y0: Int,
      rw: Int, rh: Int): Array[Double] = {
    require(rw > 0 && rh > 0 && x0 >= 0 && y0 >= 0 &&
      x0 + rw <= img.getWidth && y0 + rh <= img.getHeight,
      s"region ($x0,$y0,$rw,$rh) outside ${img.getWidth}x${img.getHeight}")
    val direct = lumaAccessor(img)
    val cells = new Array[Double](64)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        val cx0 = gx * rw / 8; val cx1 = math.max(cx0 + 1, (gx + 1) * rw / 8)
        val cy0 = gy * rh / 8; val cy1 = math.max(cy0 + 1, (gy + 1) * rh / 8)
        var sum = 0.0
        var y = cy0
        while (y < cy1) {
          var x = cx0
          while (x < cx1) { sum += direct(x0 + x, y0 + y); x += 1 }
          y += 1
        }
        cells(gy * 8 + gx) = sum / ((cx1 - cx0) * (cy1 - cy0))
        gx += 1
      }
      gy += 1
    }
    cells
  }

  /** Average-hash bits from a cell grid: bit i set iff cell i exceeds the
    * grid mean (the [[averageHash]] tail, factored for region reuse). */
  def cellsAHash(cells: Array[Double]): Long = {
    val mean = cells.sum / 64.0
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (cells(i) > mean) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /**
   * 64-bit region-content key for crop detection: an avalanche hash
   * ([[graft.functions.HashKernels.mix64]] chain) of the region's 64 RAW
   * cell doubles — key equality means the two cell grids are bit-identical
   * (up to a ~2^-64 mix collision), which a LOSSLESS crop of the region
   * guarantees via the [[regionCells]] arithmetic identity. Deliberately
   * NOT a perceptual-bit key: aHash/dHash bit patterns of smooth regions
   * are low-entropy (a monotone ramp fixes half the bits), so distinct
   * images could legitimately share them; raw cell values cannot. The trade
   * is the contract: lossy (JPEG) crops perturb cells and will not match —
   * route those through the banded-Hamming phash path instead.
   *
   * Returns None for low-contrast regions (max cell - min cell <
   * minContrast): flat fills (borders, letterboxes, solid backgrounds) ARE
   * identical across unrelated images, so their keys would be degenerate
   * buckets by construction — the same reason MinHash drops empty shingle
   * sets rather than bucketing them.
   */
  def regionKey(img: BufferedImage, x0: Int, y0: Int, rw: Int, rh: Int,
      minContrast: Double = 8.0): Option[Long] = {
    val cells = regionCells(img, x0, y0, rw, rh)
    var mn = cells(0); var mx = cells(0)
    var i = 1
    while (i < 64) {
      if (cells(i) < mn) mn = cells(i)
      if (cells(i) > mx) mx = cells(i)
      i += 1
    }
    if (mx - mn < minContrast) None
    else {
      var h = 0x51AF3C6B9E7D21L
      i = 0
      while (i < 64) {
        h = graft.functions.HashKernels.mix64(
          h ^ java.lang.Double.doubleToRawLongBits(cells(i)))
        i += 1
      }
      Some(h)
    }
  }

  /**
   * 64-bit average-hash: area-average luminance on an 8x8 grid, bit i set iff
   * cell i is above the grid mean (FIXTURES.md: DCT-free average-hash variant).
   * Small pixel perturbations (lossy re-encode, mild resize) flip few bits;
   * unrelated images differ on ~32.
   */
  def averageHash(img: BufferedImage): Long =
    cellsAHash(regionCells(img, 0, 0, img.getWidth, img.getHeight))

  /** Integer luma 299r + 587g + 114b (milli-luma, 0..255000): the exact-sum
    * counterpart of [[lumaAccessor]] for keys that must survive rescaling —
    * Long sums of integer luma never round, where float sums of the
    * fractional luma re-round per accumulation order. */
  private def intLumaAccessor(img: BufferedImage): (Int, Int) => Long =
    img.getRaster.getDataBuffer match {
      case b: java.awt.image.DataBufferByte
          if img.getType == BufferedImage.TYPE_3BYTE_BGR &&
            b.getData.length == img.getWidth * img.getHeight * 3 =>
        val d = b.getData
        val w = img.getWidth
        (x, y) => {
          val o = (y * w + x) * 3
          299L * (d(o + 2) & 0xFF) + 587L * (d(o + 1) & 0xFF) +
            114L * (d(o) & 0xFF)
        }
      case _ => (x, y) => {
        val rgb = img.getRGB(x, y)
        299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
          114L * (rgb & 0xFF)
      }
    }

  /**
   * Scale-canonical content key: 8x8 grid of INTEGER-luma cell means over
   * the whole frame, mixed with the gcd-reduced aspect ratio.
   *
   * EXACT invariant — for an integer-factor nearest-neighbor rescale (in
   * either direction) of an image whose dimensions are multiples of 8, the
   * key is bit-identical:
   *  - cell boundaries `gx·w/8` are exact multiples of w/8, so the rescaled
   *    boundaries are exactly `f` times the original ones — cells map to
   *    cells;
   *  - per-cell sums are exact integers (milli-luma ≤ 255000/px; a Long
   *    holds ~3.6·10¹³ px/cell before overflow), and NN replication
   *    multiplies sum and area both by exactly f², so the IEEE quotient
   *    sum/area rounds the SAME real number → bit-equal doubles;
   *  - gcd-reduced (w, h) is invariant under uniform scaling.
   * [[regionKey]]'s fractional luma cannot promise this (float sums of
   * replicated values re-round per accumulation order); integer luma
   * removes rounding from the sums entirely. Fractional-factor or
   * interpolated (lossy) rescales perturb the means and belong to the
   * phash/average-hash families.
   *
   * @param minContrast same units as [[regionKey]] (luma, 0..255): frames
   *        whose cell-mean spread is below it emit nothing
   */
  def scaleKey(img: BufferedImage, minContrast: Double = 8.0): Option[Long] =
    scaleKeyRegion(img, 0, 0, img.getWidth, img.getHeight, minContrast)

  /** [[scaleKey]] generalized to a sub-region — the composition device for
    * trim-then-rescale canonicalization ([[graft.operators.Multimodal
    * .canonicalKeys]]): the exact invariant holds for the REGION's
    * dimensions (multiples of 8) under integer-factor NN rescaling of the
    * region's pixels, wherever the region sits in its frame. */
  def scaleKeyRegion(img: BufferedImage, x0: Int, y0: Int, rw: Int, rh: Int,
      minContrast: Double = 8.0): Option[Long] = {
    require(rw > 0 && rh > 0 && x0 >= 0 && y0 >= 0 &&
      x0 + rw <= img.getWidth && y0 + rh <= img.getHeight,
      s"region ($x0,$y0,$rw,$rh) outside ${img.getWidth}x${img.getHeight}")
    val li = intLumaAccessor(img)
    val cells = new Array[Double](64)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        val cx0 = gx * rw / 8; val cx1 = math.max(cx0 + 1, (gx + 1) * rw / 8)
        val cy0 = gy * rh / 8; val cy1 = math.max(cy0 + 1, (gy + 1) * rh / 8)
        var sum = 0L
        var y = cy0
        while (y < cy1) {
          var x = cx0
          while (x < cx1) { sum += li(x0 + x, y0 + y); x += 1 }
          y += 1
        }
        cells(gy * 8 + gx) =
          sum.toDouble / ((cx1 - cx0).toLong * (cy1 - cy0))
        gx += 1
      }
      gy += 1
    }
    var mn = cells(0); var mx = cells(0)
    var i = 1
    while (i < 64) {
      if (cells(i) < mn) mn = cells(i)
      if (cells(i) > mx) mx = cells(i)
      i += 1
    }
    if ((mx - mn) / 1000.0 < minContrast) None
    else {
      var a = rw.toLong; var b = rh.toLong
      while (b != 0) { val t = a % b; a = b; b = t }
      var k = graft.functions.HashKernels.mix64(0x5C4E9A27D31B86FL ^ (rw / a))
      k = graft.functions.HashKernels.mix64(k ^ (rh / a))
      i = 0
      while (i < 64) {
        k = graft.functions.HashKernels.mix64(
          k ^ java.lang.Double.doubleToRawLongBits(cells(i)))
        i += 1
      }
      Some(k)
    }
  }

  /**
   * Content bounding box after stripping uniform borders: any outermost row
   * or column whose pixels are all ONE color is trimmed, repeatedly, until
   * every edge row/column is non-uniform (or a 1x1 region remains). Handles
   * letterboxes, pillarboxes, and nested multi-color frames in one rule,
   * with no color list to configure.
   *
   * The canonicalization invariant [[graft.operators.Dedup.borderDups]]
   * builds on: for a losslessly re-encoded copy of image A inside added
   * uniform bars, trimming first strips exactly the added bars and then
   * proceeds on pixels identical to A's — so both images trim to the SAME
   * content region even when A's own edges happen to be uniform (the
   * trim is content-deterministic, not border-width-deterministic).
   *
   * @return (x0, y0, w, h) of the content region
   */
  def contentBounds(img: BufferedImage): (Int, Int, Int, Int) = {
    var x0 = 0; var y0 = 0
    var x1 = img.getWidth; var y1 = img.getHeight
    def rowUniform(y: Int): Boolean = {
      val c = img.getRGB(x0, y)
      var x = x0 + 1
      while (x < x1) { if (img.getRGB(x, y) != c) return false; x += 1 }
      true
    }
    def colUniform(x: Int): Boolean = {
      val c = img.getRGB(x, y0)
      var y = y0 + 1
      while (y < y1) { if (img.getRGB(x, y) != c) return false; y += 1 }
      true
    }
    var changed = true
    while (changed) {
      changed = false
      if (y1 - y0 > 1 && rowUniform(y0)) { y0 += 1; changed = true }
      if (y1 - y0 > 1 && rowUniform(y1 - 1)) { y1 -= 1; changed = true }
      if (x1 - x0 > 1 && colUniform(x0)) { x0 += 1; changed = true }
      if (x1 - x0 > 1 && colUniform(x1 - 1)) { x1 -= 1; changed = true }
    }
    (x0, y0, x1 - x0, y1 - y0)
  }
}
