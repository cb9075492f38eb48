package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** SURVEY.md §2.10: the array-geometry UDF family — the only reference
  * capability (A8 resize, A11 flip, A12 crop/ten-crop, A13 augmentation)
  * that Catalyst builtins cannot express. Pure `Array[Double]` functions
  * (unit-testable without Spark) wrapped as Scala UDFs.
  *
  * Images are flat row-major arrays: pixel (r,c) of a W-wide image is
  * a(r*W + c) (reference keeps 75×75 numpy matrices, main.py:63-64; the
  * flat layout is our A1 mapping).
  *
  * Scale note: each UDF is a pure per-row function over a small array —
  * embarrassingly parallel, no shuffle, no state; at 100 TB these run
  * inside the scan stage. They break whole-stage codegen locally (UDF
  * boundary) which is acceptable: the arithmetic dominates, not the
  * virtual call. Upgrade path if profiling demands: Catalyst Expression
  * with doGenCode.
  *
  * The signatures are `Array[Double]`, NOT `Seq[Double]`, and that is
  * load-bearing: Spark 4's ScalaUDF deserializes a `Seq[Double]` input
  * as an immutable List, so every `a(i)` in the samplers is an O(n)
  * linked-list walk — measured 45 ms/row on 75×75 resize (~16M hops)
  * vs ~0.1 ms with the primitive-array fast path (bulk unboxed copy on
  * input, `UnsafeArrayData.fromPrimitiveArray` on output).
  */
object ImageGeometry {

  /** A8: bilinear resize h0×w0 → h1×w1 with half-pixel centers and edge
    * clamp (the semantics of skimage.transform.resize used at
    * main.py:105; reflect-pad differs only outside the clamp region for
    * upscales ≥ half, deviation documented). */
  def bilinearResize(a: Array[Double], h0: Int, w0: Int, h1: Int, w1: Int): Array[Double] = {
    val sy = h0.toDouble / h1
    val sx = w0.toDouble / w1
    val out = new Array[Double](h1 * w1)
    var r = 0
    while (r < h1) {
      val fy = (r + 0.5) * sy - 0.5
      val y0 = math.max(0, math.min(h0 - 1, math.floor(fy).toInt))
      val y1 = math.min(h0 - 1, y0 + 1)
      val dy = math.max(0.0, math.min(1.0, fy - y0))
      var c = 0
      while (c < w1) {
        val fx = (c + 0.5) * sx - 0.5
        val x0 = math.max(0, math.min(w0 - 1, math.floor(fx).toInt))
        val x1 = math.min(w0 - 1, x0 + 1)
        val dx = math.max(0.0, math.min(1.0, fx - x0))
        out(r * w1 + c) =
          a(y0 * w0 + x0) * (1 - dx) * (1 - dy) +
          a(y0 * w0 + x1) * dx * (1 - dy) +
          a(y1 * w0 + x0) * (1 - dx) * dy +
          a(y1 * w0 + x1) * dx * dy
        c += 1
      }
      r += 1
    }
    out
  }

  /** A11: horizontal flip (np.fliplr, 10-crop.py:241). */
  def flipH(a: Array[Double], w: Int): Array[Double] = {
    val h = a.length / w
    val out = new Array[Double](a.length)
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) { out(r * w + c) = a(r * w + (w - 1 - c)); c += 1 }
      r += 1
    }
    out
  }

  /** A11: vertical flip (np.flipud) — reverses row blocks. The
    * reference's generator enables vertical_flip alongside horizontal
    * (main.py:150); both are independent 50% draws. */
  def flipV(a: Array[Double], w: Int): Array[Double] = {
    val h = a.length / w
    val out = new Array[Double](a.length)
    var r = 0
    while (r < h) {
      System.arraycopy(a, (h - 1 - r) * w, out, r * w, w)
      r += 1
    }
    out
  }

  /** A12: rectangular crop at (x0, y0) of size w×h from a W-wide image. */
  def crop(a: Array[Double], imgW: Int, x0: Int, y0: Int, w: Int, h: Int): Array[Double] = {
    val out = new Array[Double](w * h)
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) { out(r * w + c) = a((y0 + r) * imgW + (x0 + c)); c += 1 }
      r += 1
    }
    out
  }

  /** A12: the reference's 10-crop TTA (10-crop.py:240-255): 4 corners +
    * center, each over {original, horizontally-flipped} image → 10 crops
    * in a fixed order: [TL, TR, BL, BR, center] × {orig, flipped}.
    *
    * INTENTIONAL DEVIATION: the reference's center_crop slices
    * (2*(size//2)+1)-sized windows (10-crop.py:233-236) — odd-sized,
    * i.e. size+1 for even crop sizes, so its center crop differs in
    * shape from its corner crops. We return a uniform w×h for all ten
    * (consistent tensors downstream); flagged here per the advisor. */
  def tenCrop(a: Array[Double], imgW: Int, imgH: Int, w: Int, h: Int): Array[Array[Double]] = {
    val cx = (imgW - w) / 2; val cy = (imgH - h) / 2
    val offs = Array((0, 0), (imgW - w, 0), (0, imgH - h), (imgW - w, imgH - h), (cx, cy))
    val flipped = flipH(a, imgW)
    offs.map { case (x0, y0) => crop(a, imgW, x0, y0, w, h) } ++
      offs.map { case (x0, y0) => crop(flipped, imgW, x0, y0, w, h) }
  }

  /** A13: deterministic augmentation decision bits from a 31-bit LCG on
    * (id, epoch) — replaces the reference's seeded ImageDataGenerator
    * randomness (main.py:149-168, seed 55) with integer arithmetic that
    * is reproducible on any engine (and oracle-expressible). Every
    * intermediate is pre-masked so nothing exceeds 2^55: engines with
    * checked int64 arithmetic (DuckDB) evaluate the identical value
    * instead of erroring where the JVM would silently wrap. */
  def lcg(seed: Long): Long = ((seed & 0xffffffL) * 1103515245L + 12345L) & 0x7fffffffL
  def augmentFlip(a: Array[Double], w: Int, id: Long, epoch: Int): Array[Double] =
    if (lcg((id & 0xffffL) * 131071L + epoch) % 2 == 0) flipH(a, w) else a

  /** A13 (full): affine augmentation by inverse mapping — for each
    * output pixel, apply the INVERSE of rotate(θ)∘zoom(z)∘shift(sx,sy)
    * about the image center, then bilinear-sample the source with edge
    * clamp (the resampler semantics of A8). Matches the reference's
    * ImageDataGenerator parameter families: rotation_range 10-30°,
    * zoom 0.5, width/height_shift 0.2 (main.py:149-156,
    * main-2-0116.py:151-155); theirs draws per batch, ours derives the
    * draw deterministically from (id, epoch) via the masked LCG. */
  def affine(a: Array[Double], w: Int, h: Int,
      thetaRad: Double, zoom: Double, shiftX: Double, shiftY: Double): Array[Double] = {
    val out = new Array[Double](w * h)
    val cx = (w - 1) / 2.0
    val cy = (h - 1) / 2.0
    val cosT = math.cos(-thetaRad) // inverse rotation
    val sinT = math.sin(-thetaRad)
    val invZ = 1.0 / zoom
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        // inverse transform: undo shift, then rotation, then zoom
        val dx = c - cx - shiftX * w
        val dy = r - cy - shiftY * h
        val sx = (dx * cosT - dy * sinT) * invZ + cx
        val sy = (dx * sinT + dy * cosT) * invZ + cy
        // bilinear sample with edge clamp (same policy as A8)
        val x0 = math.max(0, math.min(w - 1, math.floor(sx).toInt))
        val y0 = math.max(0, math.min(h - 1, math.floor(sy).toInt))
        val x1 = math.min(w - 1, x0 + 1)
        val y1 = math.min(h - 1, y0 + 1)
        val fx = math.max(0.0, math.min(1.0, sx - x0))
        val fy = math.max(0.0, math.min(1.0, sy - y0))
        out(r * w + c) =
          a(y0 * w + x0) * (1 - fx) * (1 - fy) +
          a(y0 * w + x1) * fx * (1 - fy) +
          a(y1 * w + x0) * (1 - fx) * fy +
          a(y1 * w + x1) * fx * fy
        c += 1
      }
      r += 1
    }
    out
  }

  /** The reference's full random augmentation (H-flip + V-flip +
    * rotate + zoom + shift), deterministically parameterized: each
    * parameter draws from an independent masked-LCG stream on
    * (id, epoch). Ranges follow main-2-0116.py:151-155 (rot ≤30°,
    * shift ≤0.2, zoom ∈ [0.75, 1.25] — the Keras zoom_range=0.5
    * convention of [1−z/2, 1+z/2]); both flips are independent 50%
    * draws per main.py:149-150 (horizontal_flip AND vertical_flip).
    * The V-flip draw uses stream 5 so streams 1-4 (the affine
    * parameters, and the sample-coordinate margin guarantees proved
    * over them in AffineSpec) are unchanged by its addition. */
  def augmentFull(a: Array[Double], w: Int, id: Long, epoch: Int): Array[Double] = {
    val h = a.length / w
    def draw(stream: Int): Double = // uniform in [0,1)
      lcg((id & 0xffffL) * 131071L + epoch * 31L + stream).toDouble / 0x80000000L.toDouble
    val flippedH = if (draw(0) < 0.5) flipH(a, w) else a
    val flipped = if (draw(5) < 0.5) flipV(flippedH, w) else flippedH
    val theta = (draw(1) * 2 - 1) * math.toRadians(30)
    val zoom = 0.75 + draw(2) * 0.5
    val sx = (draw(3) * 2 - 1) * 0.2
    val sy = (draw(4) * 2 - 1) * 0.2
    affine(flipped, w, h, theta, zoom, sx, sy)
  }

  /** A13: the V-flip decision alone (stream 5 of augmentFull), for the
    * dedicated vertical-flip gate entry. */
  def augmentFlipV(a: Array[Double], w: Int, id: Long, epoch: Int): Array[Double] =
    if (lcg((id & 0xffffL) * 131071L + epoch * 31L + 5) < 0x40000000L) flipV(a, w) else a

  // --- Column wrappers ---
  val bilinearResizeUdf =
    udf((a: Array[Double], h0: Int, w0: Int, h1: Int, w1: Int) => bilinearResize(a, h0, w0, h1, w1))
  val tenCropUdf =
    udf((a: Array[Double], imgW: Int, imgH: Int, w: Int, h: Int) => tenCrop(a, imgW, imgH, w, h))
  val augmentFlipUdf =
    udf((a: Array[Double], w: Int, id: Long, epoch: Int) => augmentFlip(a, w, id, epoch))
  val augmentFlipVUdf =
    udf((a: Array[Double], w: Int, id: Long, epoch: Int) => augmentFlipV(a, w, id, epoch))
  val augmentFullUdf =
    udf((a: Array[Double], w: Int, id: Long, epoch: Int) => augmentFull(a, w, id, epoch))

  def bilinear_resize(a: Column, h0: Int, w0: Int, h1: Int, w1: Int): Column =
    bilinearResizeUdf(a, org.apache.spark.sql.functions.lit(h0),
      org.apache.spark.sql.functions.lit(w0), org.apache.spark.sql.functions.lit(h1),
      org.apache.spark.sql.functions.lit(w1))
}
