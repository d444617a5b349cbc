package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class HashKernelsSpec extends AnyFunSuite {

  private def tokenHashes(toks: Seq[String]): Array[Long] =
    toks.map(t => Oracles.hashString(t, 42L)).toArray

  test("shingle hashes: count, determinism, order sensitivity") {
    val a = HashKernels.shingleHashesFromTokenHashes(tokenHashes(Seq("a", "b", "c", "d")), 3, 42L)
    assert(a.length == 2) // windows (a,b,c), (b,c,d)
    val a2 = HashKernels.shingleHashesFromTokenHashes(tokenHashes(Seq("a", "b", "c", "d")), 3, 42L)
    assert(a.sameElements(a2))
    val rev = HashKernels.shingleHashesFromTokenHashes(tokenHashes(Seq("d", "c", "b", "a")), 3, 42L)
    assert(!a.sameElements(rev)) // order-sensitive
  }

  test("shingle hashes: short sequence yields one whole-sequence shingle; empty yields none") {
    assert(HashKernels.shingleHashesFromTokenHashes(tokenHashes(Seq("a", "b")), 3, 42L).length == 1)
    assert(HashKernels.shingleHashesFromTokenHashes(Array.emptyLongArray, 3, 42L).isEmpty)
  }

  test("jaccard: hand cases") {
    assert(HashKernels.jaccard(Array(1L, 2L, 3L), Array(2L, 3L, 4L)) == 0.5)
    assert(HashKernels.jaccard(Array(1L, 2L), Array(1L, 2L)) == 1.0)
    assert(HashKernels.jaccard(Array(1L), Array(2L)) == 0.0)
    assert(HashKernels.jaccard(Array.emptyLongArray, Array.emptyLongArray) == 1.0)
    assert(HashKernels.jaccard(Array(1L), Array.emptyLongArray) == 0.0)
    // multiset input treated as set
    assert(HashKernels.jaccard(Array(1L, 1L, 2L), Array(1L, 2L, 2L)) == 1.0)
  }

  test("minhash: identical sets give identical signatures; empty set gives sentinel") {
    val s = Array(11L, 22L, 33L)
    assert(HashKernels.minhashArray(s, 64, 42L)
      .sameElements(HashKernels.minhashArray(s.reverse, 64, 42L))) // order-free
    assert(HashKernels.minhashArray(Array.emptyLongArray, 8, 42L)
      .forall(_ == HashKernels.EMPTY_MIN))
  }

  test("minhash agreement approximates Jaccard (property)") {
    // sets with known overlap: |A|=|B|=200, |A∩B|=k → J = k/(400-k)
    val rng = new scala.util.Random(7)
    for (k <- Seq(0, 50, 100, 150, 200)) {
      val common = Array.fill(k)(rng.nextLong())
      val a = common ++ Array.fill(200 - k)(rng.nextLong())
      val b = common ++ Array.fill(200 - k)(rng.nextLong())
      val j = k.toDouble / (400 - k)
      val sa = HashKernels.minhashArray(a, 256, 42L)
      val sb = HashKernels.minhashArray(b, 256, 42L)
      val agree = sa.zip(sb).count { case (x, y) => x == y } / 256.0
      assert(math.abs(agree - j) < 0.11, s"k=$k j=$j agree=$agree")
    }
  }

  test("oph: deterministic, order-free, densification fills every bin") {
    val s = Array(11L, 22L, 33L) // 3 elements into 64 bins: most bins densified
    val sig = HashKernels.ophArray(s, 64, 42L)
    assert(sig.sameElements(HashKernels.ophArray(s.reverse, 64, 42L)))
    assert(!sig.contains(HashKernels.EMPTY_MIN)) // no empty bin survives
    // every densified value is a copy of some occupied bin's value
    assert(sig.distinct.length <= 3)
    // empty input keeps the minhash sentinel contract
    assert(HashKernels.ophArray(Array.emptyLongArray, 8, 42L)
      .forall(_ == HashKernels.EMPTY_MIN))
  }

  test("oph is a pure function of the input SET (fill-order independence)") {
    val rng = new scala.util.Random(31)
    val base = Array.fill(40)(rng.nextLong())
    val sig = HashKernels.ophArray(base, 128, 42L)
    // duplicated elements and permutations change nothing
    assert(sig.sameElements(HashKernels.ophArray(base ++ base.take(7), 128, 42L)))
    assert(sig.sameElements(HashKernels.ophArray(rng.shuffle(base.toSeq).toArray, 128, 42L)))
  }

  test("oph agreement approximates Jaccard (property)") {
    // the same harness as the classic-minhash property: J = k/(400-k)
    val rng = new scala.util.Random(7)
    for (k <- Seq(0, 50, 100, 150, 200)) {
      val common = Array.fill(k)(rng.nextLong())
      val a = common ++ Array.fill(200 - k)(rng.nextLong())
      val b = common ++ Array.fill(200 - k)(rng.nextLong())
      val j = k.toDouble / (400 - k)
      val sa = HashKernels.ophArray(a, 256, 42L)
      val sb = HashKernels.ophArray(b, 256, 42L)
      val agree = sa.zip(sb).count { case (x, y) => x == y } / 256.0
      assert(math.abs(agree - j) < 0.11, s"k=$k j=$j agree=$agree")
    }
  }

  test("oph fused band keys equal bandKeys over the materialized signature") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val rng = new scala.util.Random(19)
    val inputs = Seq(Array.fill(60)(rng.nextLong()), Array.emptyLongArray)
    for (sh <- inputs) {
      // (kernel name, signature kernel, fused signature+banding kernel)
      val kernels = Seq[(String, Array[Long] => Array[Long],
          UnsafeArrayData => org.apache.spark.sql.catalyst.util.ArrayData)](
        ("oph", HashKernels.ophArray(_, 128, 42L),
          HashKernels.ophBandKeys(_, 128, 64, 2, 42L)),
        ("classic", HashKernels.minhashArray(_, 128, 42L),
          HashKernels.minhashBandKeys(_, 128, 64, 2, 42L)))
      for ((name, signature, fusedKernel) <- kernels) {
        val viaSig = HashKernels.bandKeys(
          UnsafeArrayData.fromPrimitiveArray(signature(sh)), 64, 2, 42L)
          .toLongArray()
        val fused = fusedKernel(UnsafeArrayData.fromPrimitiveArray(sh))
          .toLongArray()
        assert(fused.length == 64, s"$name, ${sh.length} shingles")
        assert(fused.sameElements(viaSig), s"$name, ${sh.length} shingles")
      }
    }
  }

  test("simhash: deterministic, equal inputs equal outputs, disjoint inputs far") {
    val rng = new scala.util.Random(13)
    val a = Array.fill(300)(rng.nextLong())
    val b = Array.fill(300)(rng.nextLong())
    val ha = HashKernels.simhash64Array(a, 42L)
    assert(ha == HashKernels.simhash64Array(a.reverse, 42L))
    val d = java.lang.Long.bitCount(ha ^ HashKernels.simhash64Array(b, 42L))
    assert(d > 15, s"unrelated simhashes too close: $d")
  }

  test("simhash hamming grows with perturbation size (property)") {
    val rng = new scala.util.Random(17)
    val base = Array.fill(400)(rng.nextLong())
    val h0 = HashKernels.simhash64Array(base, 42L)
    val dists = Seq(1, 40, 200).map { m =>
      val pert = base.clone()
      (0 until m).foreach(i => pert(i) = rng.nextLong())
      java.lang.Long.bitCount(h0 ^ HashKernels.simhash64Array(pert, 42L))
    }
    assert(dists(0) <= dists(1) && dists(1) <= dists(2), s"non-monotone: $dists")
    assert(dists(0) <= 8)
  }

  test("lcs length: hand cases + clamp") {
    assert(HashKernels.lcsLength("abcdef", "zabcy", 2000) == 3)   // "abc"
    assert(HashKernels.lcsLength("same", "same", 2000) == 4)
    assert(HashKernels.lcsLength("abc", "xyz", 2000) == 0)
    assert(HashKernels.lcsLength("", "abc", 2000) == 0)
    assert(HashKernels.lcsLength("aaaa" + "x" * 100, "aaaa", 6) == 4)
  }

  test("lcs matches naive oracle (property)") {
    def naive(a: String, b: String): Int =
      (for {
        i <- 0 to a.length; j <- i to a.length
        if b.contains(a.substring(i, j))
      } yield j - i).max
    val rng = new scala.util.Random(23)
    def randStr() = Array.fill(12)("abc" (rng.nextInt(3))).mkString
    for (_ <- 0 until 200) {
      val (a, b) = (randStr(), randStr())
      assert(HashKernels.lcsLength(a, b, 2000) == naive(a, b), s"a=$a b=$b")
    }
  }

  test("cosine: hand cases") {
    assert(math.abs(HashKernels.cosine(Array(1f, 0f), Array(1f, 0f)) - 1.0) < 1e-12)
    assert(math.abs(HashKernels.cosine(Array(1f, 0f), Array(0f, 1f))) < 1e-12)
    assert(math.abs(HashKernels.cosine(Array(1f, 1f), Array(-1f, -1f)) + 1.0) < 1e-12)
    assert(HashKernels.cosine(Array(0f, 0f), Array(1f, 1f)) == 0.0)
  }

  test("srp bucket: identical vectors collide, deterministic") {
    val v = Array.fill(64)(scala.util.Random.nextFloat() - 0.5f)
    assert(HashKernels.srpBucket(v, 12, 42L) == HashKernels.srpBucket(v.clone(), 12, 42L))
    // scaled vector lands in the same bucket (sign-invariant to positive scale)
    assert(HashKernels.srpBucket(v.map(_ * 3.7f), 12, 42L) == HashKernels.srpBucket(v, 12, 42L))
  }

  test("phash orbit canonical: group laws and invariance") {
    val rng = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val p = rng.nextLong()
      // involutions + composition law of the Klein four-group
      assert(HashKernels.phashFlipH(HashKernels.phashFlipH(p)) == p)
      assert(HashKernels.phashFlipV(HashKernels.phashFlipV(p)) == p)
      assert(HashKernels.phashRot180(p) ==
        HashKernels.phashFlipH(HashKernels.phashFlipV(p)))
      // canonical is orbit-invariant and a member of the orbit
      val c = HashKernels.phashCanonical(p)
      assert(HashKernels.phashCanonical(HashKernels.phashFlipH(p)) == c)
      assert(HashKernels.phashCanonical(HashKernels.phashFlipV(p)) == c)
      assert(HashKernels.phashCanonical(HashKernels.phashRot180(p)) == c)
      assert(Set(p, HashKernels.phashFlipH(p), HashKernels.phashFlipV(p),
        HashKernels.phashRot180(p)).contains(c))
    }
  }

  test("phash D4 orbit: transpose vs naive, group laws, canonical invariance") {
    def transposeNaive(p: Long): Long = {
      var out = 0L
      for (r <- 0 until 8; c <- 0 until 8)
        if (((p >>> (8 * r + c)) & 1L) == 1L) out |= 1L << (8 * c + r)
      out
    }
    val rng = new scala.util.Random(13)
    (1 to 500).foreach { _ =>
      val p = rng.nextLong()
      val t = HashKernels.phashTranspose(p)
      // the delta-swap transpose is the literal (gy,gx)->(gx,gy) permutation
      assert(t == transposeNaive(p))
      assert(HashKernels.phashTranspose(t) == p) // involution
      // rotation group laws: rot90 has order 4, rot90^2 = rot180,
      // rot270 = rot90^3 (i.e. rot90 . rot270 = id)
      val r1 = HashKernels.phashRot90(p)
      assert(HashKernels.phashRot90(r1) == HashKernels.phashRot180(p))
      assert(HashKernels.phashRot90(Oracles.phashRot270(p)) == p)
      // full-dihedral canonical: invariant under ALL eight symmetries and a
      // member of the orbit; never above the four-group canonical
      val orbit = {
        val k4 = Seq(p, HashKernels.phashFlipH(p), HashKernels.phashFlipV(p),
          HashKernels.phashRot180(p))
        k4 ++ k4.map(HashKernels.phashTranspose) // K4 union its transpose coset
      }
      val c = HashKernels.phashCanonicalD4(p)
      assert(orbit.toSet.contains(c))
      orbit.foreach(q => assert(HashKernels.phashCanonicalD4(q) == c))
      assert(c <= HashKernels.phashCanonical(p))
    }
  }

  test("phash rot90/rot270 equal real decoded-pixel rotations (8-divisible dims)") {
    import java.awt.image.BufferedImage
    val rng = new scala.util.Random(17)
    def randImage(w: Int, h: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rng.nextInt())
      img
    }
    // rotating swaps the dimensions, so the mapped image is h x w
    def rotCw(src: BufferedImage): BufferedImage = {
      val (w, h) = (src.getWidth, src.getHeight)
      val out = new BufferedImage(h, w, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w)
        out.setRGB(h - 1 - y, x, src.getRGB(x, y))
      out
    }
    // exact for non-square images too: both dims %8 keep grid blocks aligned
    Seq((64, 48), (128, 128), (96, 160)).foreach { case (w, h) =>
      val img = randImage(w, h)
      val p = graft.synth.ImageCodec.averageHash(img)
      val cw = rotCw(img)
      val ccw = rotCw(rotCw(cw)) // three clockwise turns = one counter-clockwise
      assert(graft.synth.ImageCodec.averageHash(cw) == HashKernels.phashRot90(p))
      assert(graft.synth.ImageCodec.averageHash(ccw) == Oracles.phashRot270(p))
    }
  }

  test("phash flip transforms equal real decoded-pixel flips (8-divisible dims)") {
    import java.awt.image.BufferedImage
    val rng = new scala.util.Random(11)
    def randImage(w: Int, h: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rng.nextInt())
      img
    }
    def mapped(src: BufferedImage)(f: (Int, Int) => (Int, Int)): BufferedImage = {
      val out = new BufferedImage(src.getWidth, src.getHeight,
        BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until src.getHeight; x <- 0 until src.getWidth) {
        val (nx, ny) = f(x, y)
        out.setRGB(nx, ny, src.getRGB(x, y))
      }
      out
    }
    Seq((64, 48), (128, 128), (96, 160)).foreach { case (w, h) =>
      val img = randImage(w, h)
      val p = graft.synth.ImageCodec.averageHash(img)
      val fh = mapped(img)((x, y) => (w - 1 - x, y))
      val fv = mapped(img)((x, y) => (x, h - 1 - y))
      val r2 = mapped(img)((x, y) => (w - 1 - x, h - 1 - y))
      assert(graft.synth.ImageCodec.averageHash(fh) == HashKernels.phashFlipH(p))
      assert(graft.synth.ImageCodec.averageHash(fv) == HashKernels.phashFlipV(p))
      assert(graft.synth.ImageCodec.averageHash(r2) == HashKernels.phashRot180(p))
    }
  }

  test("band keys: r identical minhash rows in a band imply equal band key") {
    val sigA = Array.tabulate(8)(i => i.toLong * 31)
    val sigB = sigA.clone(); sigB(7) = 999L // differs only in last band (b=3, r=2)
    val ka = HashKernels.bandKeys(
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sigA), 4, 2, 42L).toLongArray()
    val kb = HashKernels.bandKeys(
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sigB), 4, 2, 42L).toLongArray()
    assert(ka.take(3).sameElements(kb.take(3)))
    assert(ka(3) != kb(3))
  }

  test("band keys: a signature shorter than bands·rowsPerBand is rejected by name") {
    val sig = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array.tabulate(7)(_.toLong))
    val e = intercept[IllegalArgumentException](HashKernels.bandKeys(sig, 4, 2, 42L))
    assert(e.getMessage.contains("lsh_band_keys: signature length 7 < bands·rowsPerBand = 8"),
      e.getMessage)
  }
}
