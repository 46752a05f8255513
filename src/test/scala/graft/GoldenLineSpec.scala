package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.core._
import graft.encode.Feature
import graft.render.Render

/** Golden tests for polyline rendering: the Spark pyramid line join +
  * Wu rasterizer vs the compiled reference `render` on the same lines. */
class GoldenLineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val mapbits = 48

  lazy val corpus: Seq[(Seq[(Double, Double)], Long)] = GoldenLineSpec.corpus

  lazy val refDir: String = {
    val txt = corpus.map { case (pts, m) =>
      pts.map { case (la, lo) => f"$la%.6f,$lo%.6f" }.mkString(" ") + s" :$m"
    }.mkString("\n") + "\n"
    Files.writeString(Paths.get("/tmp/golden_lines.txt"), txt)
    val dir = "/tmp/goldenl.dm"
    import scala.sys.process._
    s"rm -rf $dir".!
    val (rc, _) = RefBinaries.run("encode", Seq("-o", dir, "-z16", "-m8", "/tmp/golden_lines.txt"))
    assert(rc == 0)
    dir
  }

  lazy val featuresDs = {
    import spark.implicits._
    spark.createDataset(GoldenLineSpec.features(mapbits))
  }

  def compareTile(z: Int, x: Int, y: Int, flags: Seq[String] = Nil,
                  params: RenderParams = RenderParams()): (Double, Int, Int) = {
    refDir // force encode
    val (rc, png) = RefBinaries.run("render", flags ++ Seq(refDir, z.toString, x.toString, y.toString))
    assert(rc == 0)
    val (refRgba, _, _) = Png.decode(png)
    val tiles = Render.renderTiles(None, Some(featuresDs), Seq(z), mapbits, params,
      requireOwn = false, only = Some(_ == Cell.tileKey(z, x, y))).collect()
    val ours = tiles.find(t => t.x == x && t.y == y)
    // a tile no feature touches is pure background (the reference still
    // emits a PNG; our pipeline emits nothing — equivalent output)
    val ourPng = ours.map(_.png).getOrElse {
      Png.encode(ToneMap(new Canvas(params.tilesize, params.tilesize), params), params.tilesize, params.tilesize)
    }
    val (ourRgba, _, _) = Png.decode(ourPng)
    def support(b: Array[Byte]) = b.grouped(4).count(px => px(0) != 0 || px(1) != 0 || px(2) != 0)
    (Png.psnr(refRgba, ourRgba), support(refRgba), support(ourRgba))
  }

  def denseTile(z: Int): (Int, Int) = {
    val c = Cell.encode(Mercator.lonToX32(-74.0).toInt, Mercator.latToY32(40.7).toInt)
    (Cell.tileX(c, z), Cell.tileY(c, z))
  }

  for (z <- Seq(8, 12, 14, 16, 18)) {
    test(s"z$z line tile matches reference (PSNR >= 40, support)") {
      val (x, y) = denseTile(z)
      val (psnr, refSup, ourSup) = compareTile(z, x, y)
      assert(math.abs(refSup - ourSup) <= math.max(16, refSup / 200), s"support ref=$refSup ours=$ourSup")
      assert(psnr >= 40.0, s"psnr=$psnr refSup=$refSup ourSup=$ourSup")
    }
  }

  for ((name, flags, params) <- Seq(
    ("thick lines (-L 3)", Seq("-L", "3"), RenderParams(lineThick = 3)),
    ("line ramp (-l 1.3)", Seq("-l", "1.3"), RenderParams(lineRamp = 1.3)),
    ("GPS attenuation (-g)", Seq("-g"), RenderParams(gps = true)),
    ("gps params (-g -O 14:800:1.4)", Seq("-g", "-O", "14:800:1.4"),
      RenderParams(gps = true, gpsBase = 14, gpsDist = 800, gpsRamp = 1.4)))) {
    test(s"line param variant: $name matches reference") {
      val (x, y) = denseTile(14)
      val (psnr, refSup, ourSup) = compareTile(14, x, y, flags, params)
      assert(math.abs(refSup - ourSup) <= math.max(16, refSup / 200), s"support ref=$refSup ours=$ourSup")
      assert(psnr >= 40.0, s"psnr=$psnr refSup=$refSup")
    }
  }

  // The name keeps the deleted entry point it pinned; the one-shuffle mixed
  // pyramid is now a multi-zoom renderTiles call.
  test("renderPyramidAll (mixed, one shuffle) is byte-identical to per-zoom renders") {
    import spark.implicits._
    // points from the line corpus's first vertices + the lines themselves
    val pts = featuresDs.map(f => (f.cell, f.meta)).toDF("cell", "meta")
    val zooms = 14 to 16 // step == 1 at these zooms: no rank needed
    val p = RenderParams()
    val onePass = Render.renderTiles(Some(pts), Some(featuresDs), zooms, mapbits, p)
      .collect().map(t => ((t.z, t.x, t.y), t.png)).toMap
    val perZoom = zooms.map(z =>
      Render.renderTiles(Some(pts), Some(featuresDs), Seq(z), mapbits, p))
      .reduce(_ union _)
      .collect().map(t => ((t.z, t.x, t.y), t.png)).toMap
    assert(onePass.keySet == perZoom.keySet,
      s"tile sets differ: ${onePass.keySet.diff(perZoom.keySet).take(3)} / ${perZoom.keySet.diff(onePass.keySet).take(3)}")
    val bad = perZoom.collect { case (k, png) if !java.util.Arrays.equals(png, onePass(k)) => k }
    assert(bad.isEmpty, s"diffs at ${bad.take(5)}")
    assert(onePass.nonEmpty)
  }

  test("line dump rows (render -d) match reference incl. clip predicate") {
    refDir
    val (x, y) = denseTile(13)
    val (rc, out) = RefBinaries.run("render", Seq("-d", refDir, "13", x.toString, y.toString))
    assert(rc == 0)
    val refRows = new String(out).linesIterator.map { line =>
      val hex = line.split("// ")(1).trim.split(" ")
      hex.grouped(2).map(p => (java.lang.Long.parseLong(p(0), 16), java.lang.Long.parseLong(p(1), 16))).toSeq
    }.toSeq.sortBy(_.toString)

    // our dump: features whose first-vertex prefix matches (pyramid rule,
    // dump mode scans all z_lookups, render.c:976 `dump ||`) and that
    // pass the tile clip test (render.c:244-262)
    val lo = 0; // dump membership: prefix condition at min(z, c)
    val z = 13
    val ourRows = featuresDs.collect().toSeq.flatMap { f =>
      val xs = f.vertices.map(Cell.decodeX)
      val ys = f.vertices.map(Cell.decodeY)
      val c0 = math.min(BitPack.commonLevels(xs.map(_.toInt), ys.map(_.toInt), mapbits), mapbits / 2)
      val m = math.min(z, c0)
      val keyOk = (m == 0) ||
        ((xs(0) >>> (32 - m)) == (x.toLong >>> (z - m)) && (ys(0) >>> (32 - m)) == (y.toLong >>> (z - m)))
      if (!keyOk) None
      else {
        val xd = xs.map(Mercator.worldToTileFracX(_, z, x))
        val yd = ys.map(Mercator.worldToTileFracY(_, z, y))
        val should = (1 until xs.length).exists { k =>
          Clip.accepts(xd(k - 1), yd(k - 1), xd(k), yd(k), 0, 0, 1, 1)
        }
        if (should) Some(xs.zip(ys).toSeq) else None
      }
    }.sortBy(_.toString)
    assert(refRows.size == ourRows.size, s"ref=${refRows.size} ours=${ourRows.size}")
    assert(refRows == ourRows)
    assert(refRows.nonEmpty)
  }
}

object GoldenLineSpec {
  /** deterministic polylines around a city area + some long lines */
  lazy val corpus: Seq[(Seq[(Double, Double)], Long)] = {
    val r = new scala.util.Random(777)
    def r6(v: Double): Double = f"$v%.6f".toDouble
    val short = (0 until 1500).map { _ =>
      val lat = 40.6 + r.nextDouble() * 0.2
      val lon = -74.1 + r.nextDouble() * 0.2
      val n = 2 + r.nextInt(4)
      val pts = (0 until n).map { _ =>
        (r6(lat + (r.nextDouble() - .5) * 0.02), r6(lon + (r.nextDouble() - .5) * 0.02))
      }
      (pts, r.nextInt(256).toLong)
    }
    val long = (0 until 100).map { _ =>
      val lat = r.nextDouble() * 120 - 60
      val lon = r.nextDouble() * 300 - 150
      val pts = Seq(
        (r6(lat), r6(lon)),
        (r6(lat + (r.nextDouble() - .5) * 8), r6(lon + (r.nextDouble() - .5) * 8)))
      (pts, r.nextInt(256).toLong)
    }
    short ++ long
  }

  /** The corpus as cell-encoded features (records with an invalid vertex
    * drop whole, like the reference encode). */
  def features(mapbits: Int): Seq[Feature] = corpus
    .filter(_._1.forall { case (la, lo) => Mercator.valid(la, lo) })
    .map { case (pts, m) =>
      val cells = pts.map { case (la, lo) =>
        Cell.truncate(Cell.encode(Mercator.lonToX32(lo).toInt, Mercator.latToY32(la).toInt), mapbits)
      }.toArray
      Feature(cells(0), cells, m)
    }
}
