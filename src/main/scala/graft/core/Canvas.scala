package graft.core

/**
 * Per-tile accumulation canvas: a brightness SUM image plus the circular
 * hue mean accumulators (cx, cy). This is the engine's rasterization
 * aggregation buffer — elementwise addition is associative and
 * commutative, so partial canvases merge safely across Spark partitions
 * (reference kernel: graphics.c:221-235).
 *
 * Scale-minded internals: the hue planes are allocated lazily (most
 * renders have no color ramp) and the touched row range is tracked so
 * reset/tone-map only walk dirty memory — at high zooms most tiles are
 * nearly empty and the canvas traffic, not the drawing, is the cost.
 */
final class Canvas(val width: Int, val height: Int) extends Serializable {
  val image = new Array[Double](width * height)
  private var cxArr: Array[Double] = null
  private var cyArr: Array[Double] = null

  /** dirty row range [minY, maxY] (inclusive); minY > maxY = untouched */
  var minY: Int = height
  var maxY: Int = -1

  def cx: Array[Double] = {
    if (cxArr == null) cxArr = new Array[Double](width * height)
    cxArr
  }
  def cy: Array[Double] = {
    if (cyArr == null) cyArr = new Array[Double](width * height)
    cyArr
  }
  def hasHue: Boolean = cxArr != null

  var clipx: Int = 0
  var clipy: Int = 0
  var clipw: Int = Int.MaxValue
  var cliph: Int = Int.MaxValue

  def setClip(x: Int, y: Int, w: Int, h: Int): Unit = {
    clipx = x; clipy = y; clipw = w; cliph = h
  }

  /** Zero the dirty region (buffer reuse across tiles). */
  def reset(): Unit = {
    if (maxY >= minY) {
      val from = minY * width
      val until = (maxY + 1) * width
      java.util.Arrays.fill(image, from, until, 0.0)
      if (cxArr != null) {
        java.util.Arrays.fill(cxArr, from, until, 0.0)
        java.util.Arrays.fill(cyArr, from, until, 0.0)
      }
    }
    minY = height; maxY = -1
    clipx = 0; clipy = 0; clipw = Int.MaxValue; cliph = Int.MaxValue
  }

  /** graphics.c:221-235 */
  def putPixel(x: Double, y: Double, bright: Double, hue: Double): Unit = {
    val x0 = math.floor(x).toInt
    val y0 = math.floor(y).toInt
    if (x0 >= 0 && y0 >= 0 && x0 <= width - 1 && y0 <= height - 1 &&
        x0 >= clipx && x0 < clipx + clipw && y0 >= clipy && y0 < clipy + cliph) {
      val i = y0 * width + x0
      image(i) += bright
      if (y0 < minY) minY = y0
      if (y0 > maxY) maxY = y0
      if (hue >= 0) {
        cx(i) += bright * math.cos(hue * 2 * math.Pi)
        cy(i) += bright * math.sin(hue * 2 * math.Pi)
      }
    }
  }

  /** Bilinear point splat over 4 pixels (graphics.c:417-422). */
  def drawPixel(x: Double, y: Double, bright: Double, hue: Double): Unit = {
    val fx = Raster.fpart(x); val rx = 1 - fx
    val fy = Raster.fpart(y); val ry = 1 - fy
    putPixel(x, y, bright * rx * ry, hue)
    putPixel(x + 1, y, bright * fx * ry, hue)
    putPixel(x, y + 1, bright * rx * fy, hue)
    putPixel(x + 1, y + 1, bright * fx * fy, hue)
  }

  def merge(o: Canvas): Canvas = {
    // only o's dirty rows can hold non-zero values — walk just those:
    // at high zooms most partial canvases are nearly empty and this
    // merge's memory traffic, not the drawing, is the cost
    if (o.maxY >= o.minY) {
      val lo = math.max(o.minY, 0) * width
      val hi = math.min(o.maxY + 1, height) * width
      var i = lo
      while (i < hi) {
        image(i) += o.image(i)
        i += 1
      }
      if (o.hasHue) {
        val tcx = cx; val tcy = cy // force alloc
        i = lo
        while (i < hi) {
          tcx(i) += o.cx(i); tcy(i) += o.cy(i)
          i += 1
        }
      }
    }
    minY = math.min(minY, o.minY)
    maxY = math.max(maxY, o.maxY)
    this
  }

  /** Extract a sub-window as a fresh canvas (the leaflet-retina path
    * renders the parent tile at double size and crops each quadrant). */
  def crop(x0: Int, y0: Int, w: Int, h: Int): Canvas = {
    val c = new Canvas(w, h)
    var y = 0
    while (y < h) {
      System.arraycopy(image, (y0 + y) * width + x0, c.image, y * w, w)
      y += 1
    }
    if (hasHue) {
      val scx = cx; val scy = cy; val dcx = c.cx; val dcy = c.cy
      y = 0
      while (y < h) {
        System.arraycopy(scx, (y0 + y) * width + x0, dcx, y * w, w)
        System.arraycopy(scy, (y0 + y) * width + x0, dcy, y * w, w)
        y += 1
      }
    }
    if (maxY >= minY) {
      val lo = math.max(0, minY - y0)
      val hi = math.min(h - 1, maxY - y0)
      if (lo <= hi) { c.minY = lo; c.maxY = hi }
    }
    c
  }
}

/** Stateless rasterization kernels drawing into a Canvas. Semantics match
  * the reference's graphics.c (Xiaolin-Wu line :247-337, thick line
  * :339-367, Bresenham :370-392, clip-then-draw :394-415, brush
  * :424-517). */
object Raster {
  def fpart(x: Double): Double = x - math.floor(x)
  def rfpart(x: Double): Double = 1 - fpart(x)

  /** Xiaolin-Wu antialiased line (graphics.c:247-337). */
  def wuLine(x0in: Double, y0in: Double, x1in: Double, y1in: Double,
             g: Canvas, bright: Double, hue: Double): Unit = {
    var x0 = x0in; var y0 = y0in; var x1 = x1in; var y1 = y1in
    val steep = math.abs(y1 - y0) > math.abs(x1 - x0)
    if (steep) {
      var t = x0; x0 = y0; y0 = t
      t = x1; x1 = y1; y1 = t
    }
    if (x0 > x1) {
      var t = x0; x0 = x1; x1 = t
      t = y0; y0 = y1; y1 = t
    }
    val dx = x1 - x0
    val dy = y1 - y0
    val gradient = dy / dx

    def put(a: Double, b: Double, w: Double): Unit =
      if (steep) g.putPixel(a, b, w, hue) else g.putPixel(b, a, w, hue)

    // start and end inside the same pixel
    if (math.floor(x0) == math.floor(x1)) {
      y0 = (y0 + y1) / 2
      put(y0, x0, dx * rfpart(y0) * bright)
      put(y0 + 1, x0, dx * fpart(y0) * bright)
      return
    }
    // fractional start pixel
    if (x0 != math.floor(x0)) {
      val yy = y0 + .5 * rfpart(x0) * gradient
      put(yy, x0, rfpart(x0) * rfpart(yy) * bright)
      put(yy + 1, x0, rfpart(x0) * fpart(yy) * bright)
      y0 += gradient * rfpart(x0)
      x0 = math.ceil(x0)
    }
    // fractional end pixel
    if (x1 != math.floor(x1)) {
      val yy = y1 - .5 * fpart(x1) * gradient
      put(yy, x1, fpart(x1) * rfpart(yy) * bright)
      put(yy + 1, x1, fpart(x1) * fpart(yy) * bright)
      y1 -= gradient * fpart(x1)
      x1 = math.floor(x1)
    }
    // whole pixels along the path
    y0 += .5 * gradient
    while (x0 < x1) {
      put(y0, x0, rfpart(y0) * bright)
      put(y0 + 1, x0, fpart(y0) * bright)
      y0 += gradient
      x0 += 1
    }
  }

  /** Thick antialiased line: parallel offset strokes, brightness-
    * conserving (graphics.c:339-367). */
  def wuLineThick(x0: Double, y0: Double, x1: Double, y1: Double,
                  g: Canvas, bright: Double, hue: Double, thickIn: Double): Unit = {
    var thick = thickIn
    if (thick <= 1) {
      wuLine(x0, y0, x1, y1, g, bright * thick, hue)
      return
    }
    wuLine(x0, y0, x1, y1, g, bright, hue)
    var off = 1
    thick -= 1
    val angle = math.atan2(y1 - y0, x1 - x0) + math.Pi / 2
    val c = math.cos(angle)
    val s = math.sin(angle)
    while (thick > 0) {
      if (thick >= 2) {
        wuLine(x0 + c * off, y0 + s * off, x1 + c * off, y1 + s * off, g, bright, hue)
        wuLine(x0 - c * off, y0 - s * off, x1 - c * off, y1 - s * off, g, bright, hue)
      } else {
        val d = off - 1 + thick / 2
        wuLine(x0 + c * d, y0 + s * d, x1 + c * d, y1 + s * d, g, bright * thick / 2, hue)
        wuLine(x0 - c * d, y0 - s * d, x1 - c * d, y1 - s * d, g, bright * thick / 2, hue)
      }
      thick -= 2
      off += 1
    }
  }

  /** Bresenham line, no antialiasing (graphics.c:370-392; endpoint pixel
    * is deliberately not drawn, matching the reference). */
  def bresenham(x0in: Int, y0in: Int, x1: Int, y1: Int,
                g: Canvas, bright: Double, hue: Double): Unit = {
    var x0 = x0in; var y0 = y0in
    val dx = math.abs(x1 - x0); val sx = if (x0 < x1) 1 else -1
    val dy = math.abs(y1 - y0); val sy = if (y0 < y1) 1 else -1
    var err = (if (dx > dy) dx else -dy) / 2
    while (!(x0 == x1 && y0 == y1)) {
      g.putPixel(x0, y0, bright, hue)
      val e2 = err
      if (e2 > -dx) { err -= dy; x0 += sx }
      if (e2 < dy) { err += dx; y0 += sy }
    }
  }

  /** Clip to canvas (with thickness margin) then draw
    * (graphics.c:394-415). Returns true if any part was drawn. */
  def drawClip(x0: Double, y0: Double, x1: Double, y1: Double,
               g: Canvas, bright: Double, hue: Double,
               antialias: Boolean, thick: Double): Boolean = {
    val xmin = -1 - thick
    val ymin = -1 - thick
    val xmax = g.width + thick
    val ymax = g.height + thick
    val r = Clip.clip(x0, y0, x1, y1, xmin, ymin, xmax, ymax)
    if (r != null) {
      if (antialias) wuLineThick(r(0), r(1), r(2), r(3), g, bright, hue, thick)
      else bresenham(r(0).toInt, r(1).toInt, r(2).toInt, r(3).toInt, g, bright, hue)
      true
    } else false
  }

  private final val Mult = 9

  /** Precompute the disk / Gaussian brush kernel at 9x supersampling,
    * brightness-normalized (graphics.c:429-490). */
  def brushKernel(brush: Double, gaussian: Boolean): (Int, Array[Double]) = {
    val radius = Mult * math.sqrt(brush / math.Pi)
    val bigwidth = 2 * math.ceil(radius / Mult).toInt * Mult + Mult
    val mid = bigwidth / 2
    val brushwidth = bigwidth / Mult
    val temp = new Array[Double](bigwidth * bigwidth)
    var sum = 0.0
    var xa = mid - math.floor(radius).toInt
    val xaEnd = mid + math.floor(radius).toInt
    while (xa <= xaEnd) {
      val dx = math.acos((xa - mid) / radius)
      val yy = math.floor(math.abs(math.sin(dx)) * radius).toInt
      var ya = mid - yy
      while (ya <= mid + yy) {
        if (ya >= 0 && ya < bigwidth && xa >= 0 && xa < bigwidth) {
          var inc = 1.0
          if (gaussian) {
            val xx = (xa - mid) / radius
            val yyf = (ya - mid) / radius
            val d = math.sqrt(xx * xx + yyf * yyf)
            inc = math.exp(-(d * d) / (2.0 / 9.0))
          }
          temp(bigwidth * ya + xa) = inc
          sum += inc
        }
        ya += 1
      }
      xa += 1
    }
    val weights = new Array[Double](brushwidth * brushwidth)
    var x = 0
    while (x < bigwidth) {
      var y = 0
      while (y < bigwidth) {
        weights(x / Mult + (y / Mult) * brushwidth) += temp(x + y * bigwidth)
        y += 1
      }
      x += 1
    }
    val scale = Mult * Mult * brush / sum
    var i = 0
    while (i < weights.length) { weights(i) *= scale; i += 1 }
    (brushwidth, weights)
  }

  // executor-wide brush memoization (graphics.c:424-432); tiny keyspace
  private val brushCache = new java.util.concurrent.ConcurrentHashMap[(Double, Boolean), (Int, Array[Double])]()

  /** Disk/Gaussian brush splat (graphics.c:429-517). */
  def drawBrush(xIn: Double, yIn: Double, g: Canvas, bright: Double,
                brush: Double, hue: Double, gaussian: Boolean): Unit = {
    val (bw, weights) = brushCache.computeIfAbsent((brush, gaussian),
      _ => brushKernel(brush, gaussian))
    val x = xIn - (bw / 2 + .5)
    val y = yIn - (bw / 2 + .5)
    if (x + bw < 0 || y + bw < 0 || x - bw > g.width || y - bw > g.height) return
    var xx = 0
    while (xx < bw) {
      var yy = 0
      while (yy < bw) {
        g.drawPixel(x + xx, y + yy, weights(yy * bw + xx) * bright / (Mult * Mult), hue)
        yy += 1
      }
      xx += 1
    }
  }
}
