package graft.sinks

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{BitPack, Cell, Mercator}
import graft.encode.Feature
import java.nio.file.{Files, Paths}

/** Output sinks of the engine beyond parquet: the reference's dump
  * formats, tileset metadata, and the reference's own binary dataset
  * format (full interop: a dataset written here renders identically
  * under the reference binaries). */
object Sinks {
  /** S6: text dump rows (`render -d` format, dump.c:69-89). Delegates
    * to the reference-exact [[dumpTextLine]] — ONE implementation of
    * the format (a parallel re-implementation here had already drifted
    * in whitespace). */
  def textDump(features: Dataset[Feature], metabits: Int): Dataset[String] = {
    val spark = features.sparkSession
    import spark.implicits._
    features.map(dumpTextLine(_, metabits))
  }

  /** One dump_out text row (dump.c:70-90): "lat,lon ... [bits:meta ]// hex "
    * — each field is space-TERMINATED like the reference's printf. */
  def dumpTextLine(f: Feature, metabits: Int): String = {
    val sb = new StringBuilder
    f.vertices.foreach { c =>
      sb ++= graft.core.Cfmt.f("%f,%f ", Mercator.tileToLat(Cell.decodeY(c), 32), Mercator.tileToLon(Cell.decodeX(c), 32))
    }
    if (metabits != 0) sb ++= s"$metabits:${f.meta} "
    sb ++= "// "
    f.vertices.foreach { c =>
      sb ++= graft.core.Cfmt.f("%08x %08x ", Cell.decodeX(c), Cell.decodeY(c))
    }
    sb.result()
  }

  /** One dump_out GeoJSON feature row (dump.c:21-68), byte-compatible
    * with the reference's printf stream (comma separators are added by
    * the caller between rows, matching `dump == 2`). */
  def dumpGeoJsonLine(f: Feature, metabits: Int): String = {
    val sb = new StringBuilder
    sb ++= "{ \"type\": \"Feature\", \"properties\": {"
    if (metabits != 0) sb ++= s""" "meta": ${f.meta} """
    sb ++= "}, \"geometry\": { "
    sb ++= (if (f.vertices.length == 1) "\"type\": \"Point\", " else "\"type\": \"LineString\", ")
    sb ++= "\"coordinates\": [ "
    f.vertices.foreach { c =>
      val lon = Mercator.tileToLon(Cell.decodeX(c), 32)
      val lat = Mercator.tileToLat(Cell.decodeY(c), 32)
      if (f.vertices.length != 1) sb ++= graft.core.Cfmt.f("[ %f, %f ] ", lon, lat)
      else sb ++= graft.core.Cfmt.f("%f, %f ", lon, lat)
    }
    // LineString pairs are comma-separated in the reference
    val body = sb.result()
    val fixed = if (f.vertices.length != 1) {
      // "] [" between consecutive pairs becomes "], ["
      body.replace("] [", "], [")
    } else body
    fixed + "] } }"
  }

  /** `enumerate -a` / `-D` (enumerate.c:340-393): dump EVERY record of a
    * dataset in the reference's k-way merge order — memcmp over the
    * first (mapbits+metabits+7)/8 packed bytes (gSortBytes), which is a
    * prefix of every record. Ties across different (n,common) files
    * follow full-record byte order here (the reference's insert order on
    * exact prefix ties is read-order dependent). Distributed sort on the
    * binary key; Spark's BinaryType ordering is unsigned lexicographic,
    * the same as memcmp. */
  def enumerateDump(features: Dataset[Feature], encodeZoom: Int, metabits: Int,
                    geoJson: Boolean): Dataset[String] = {
    val spark = features.sparkSession
    import spark.implicits._
    val mapbits = 2 * (encodeZoom + 8)
    features.map { f =>
      val xs = f.vertices.map(c => Cell.decodeX(c).toInt)
      val ys = f.vertices.map(c => Cell.decodeY(c).toInt)
      val common = if (xs.length > 1) BitPack.commonLevels(xs, ys, mapbits) else 0
      val packed = BitPack.pack(xs, ys, f.meta, metabits, mapbits, metabits, common)
      val line = if (geoJson) dumpGeoJsonLine(f, metabits) else dumpTextLine(f, metabits)
      (packed, line)
    }.toDF("key", "line")
      .orderBy(col("key"))
      .select(col("line")).as[String]
  }

  /** FeatureCollection wrapper for the GeoJSON dump (dump.c:7-19).
    * The reference emits each row with a trailing newline and a ",\n"
    * separator line before every non-first row. */
  def geoJsonCollect(rows: Seq[String]): String =
    "{\n\"type\": \"FeatureCollection\",\n\"features\": [\n" +
      (if (rows.nonEmpty) rows.mkString("\n,\n") + "\n" else "") + "]\n}\n"

  /** `render -v`: Mapnik/CartoCSS stylesheet equivalent of the raster
    * brightness model (render.c:698-783), byte-compatible with the
    * reference's printf stream. */
  def mapnikStylesheet(p: graft.core.RenderParams): String = {
    val sb = new StringBuilder
    sb ++= "Map {\n"
    val bgR = (p.bg >> 16) & 0xFF; val bgG = (p.bg >> 8) & 0xFF; val bgB = p.bg & 0xFF
    sb ++= graft.core.Cfmt.f("  background-color: rgba(%d,%d,%d,%.3f);\n", bgR, bgG, bgB, p.transparency / 255.0)
    sb ++= "}\n\n"
    sb ++= "#points {\n"
    sb ++= (if (p.invert) "  line-color: #000000;\n" else "  line-color: #FFFFFF;\n")
    sb ++= "  line-cap: round;\n"
    // diameter of the circle with area point_size
    sb ++= graft.core.Cfmt.f("  line-width: %.3f;\n", 2 * math.sqrt(p.pointSize / math.Pi))
    if (p.color != -1 || p.color2 != -1) {
      var r1 = (p.color >> 16) & 0xFF; var g1 = (p.color >> 8) & 0xFF; var b1 = p.color & 0xFF
      var r2 = (p.color2 >> 16) & 0xFF; var g2 = (p.color2 >> 8) & 0xFF; var b2 = p.color2 & 0xFF
      if (p.color == -1) { r1 = 128; g1 = 128; b1 = 128 }
      if (p.color2 == -1) { val v = if (p.invert) 0 else 255; r2 = v; g2 = v; b2 = v }
      sb ++= graft.core.Cfmt.f("  image-filters: colorize-alpha(#%02X%02X%02X, #%02X%02X%02X, #%02X%02X%02X);\n", r1, g1, b1, r1, g1, b1, r2, g2, b2)
    }
    // alpha reaching half brightness in the same number of steps as the
    // raster model's dot_bright accumulation under the display gamma
    def alphaAt(bright: Double): Double = {
      val steps = 1.0 / bright
      val halfsteps = steps * math.exp(math.log(.5) / p.gamma)
      1 - math.exp(math.log(.5) / halfsteps)
    }
    sb ++= graft.core.Cfmt.f("  line-opacity: %.3f;\n", alphaAt(p.dotBright / p.pointSize))
    sb ++= "\n"
    var i = 0
    while (i <= p.dotBase) {
      val a = alphaAt(p.dotBright / p.pointSize * math.exp(math.log(p.dotRamp) * (i - p.dotBase)))
      sb ++= graft.core.Cfmt.f("  [zoom >= %2d] { line-opacity: %7.3f; }\n", i, a)
      i += 1
    }
    while (i < 23) {
      val a = alphaAt(p.dotBright / p.pointSize * math.exp(math.log(p.dotRamp) * (i - p.dotBase)))
      val w = 2 * math.sqrt(p.pointSize * (1 << (i - p.dotBase)) / math.Pi)
      sb ++= graft.core.Cfmt.f("  [zoom >= %2d] { line-opacity: %7.3f; line-width: %7.3f; }\n", i, a, w)
      i += 1
    }
    sb ++= "}\n"
    sb.result()
  }

  /** S5: mbutil-compatible tileset metadata.json, byte-compatible with
    * the reference's prep() (render.c:395-457): name = output dir,
    * description = source dataset, optional vector_layers block for pbf. */
  def writeTilesetMetadata(dir: String, name: String, minzoom: Int, maxzoom: Int,
                           format: String = "png"): Unit = {
    Files.createDirectories(Paths.get(dir))
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
    } + "\""
    val sb = new StringBuilder
    sb ++= "{\n"
    sb ++= s""""name": ${q(dir)},\n"""
    sb ++= s""""description": ${q(name)},\n"""
    sb ++= "\"version\": 1,\n"
    sb ++= s""""minzoom": $minzoom,\n"""
    sb ++= s""""maxzoom": $maxzoom,\n"""
    sb ++= "\"type\": \"overlay\",\n"
    if (format == "pbf") {
      sb ++= "\"json\": \"{"
      sb ++= s"""\\"vector_layers\\": [ { \\"id\\": \\"points\\", \\"description\\": \\"\\", \\"minzoom\\": $minzoom, \\"maxzoom\\": $maxzoom, \\"fields\\": {\\"meta\\": \\"Number\\" } }, { \\"id\\": \\"lines\\", \\"description\\": \\"\\", \\"minzoom\\": $minzoom, \\"maxzoom\\": $maxzoom, \\"fields\\": {\\"meta\\": \\"Number\\" } } ]"""
      sb ++= "}\",\n"
    }
    sb ++= s""""format": "$format"\n"""
    sb ++= "}\n"
    Files.writeString(Paths.get(dir, "metadata.json"), sb.result())
  }

  /** min/max zoom gathered during the write pass (an up-front
    * `tiles.map(_.z).distinct().collect()` would execute the full
    * render DAG a second time just for the metadata header). */
  private class ZRangeAcc extends org.apache.spark.util.AccumulatorV2[Int, (Int, Int)] {
    private var mn = Int.MaxValue
    private var mx = Int.MinValue
    override def isZero: Boolean = mn == Int.MaxValue
    override def copy(): ZRangeAcc = { val a = new ZRangeAcc; a.mn = mn; a.mx = mx; a }
    override def reset(): Unit = { mn = Int.MaxValue; mx = Int.MinValue }
    override def add(v: Int): Unit = { if (v < mn) mn = v; if (v > mx) mx = v }
    override def merge(other: org.apache.spark.util.AccumulatorV2[Int, (Int, Int)]): Unit =
      other match { case o: ZRangeAcc => if (o.mn < mn) mn = o.mn; if (o.mx > mx) mx = o.mx }
    override def value: (Int, Int) = (mn, mx)
  }

  /** Tile table -> z/x/y.png files + metadata.json (the `render -o`
    * tileset layout). Executor-parallel file writes; ONE render job
    * (the zoom range for metadata.json rides along in an accumulator). */
  def writeTileset(tiles: Dataset[graft.render.TileOut], dir: String, name: String): Unit = {
    val spark = tiles.sparkSession
    val zAcc = new ZRangeAcc
    spark.sparkContext.register(zAcc, "tileset-zoom-range")
    tiles.foreachPartition { (it: Iterator[graft.render.TileOut]) =>
      it.foreach { t =>
        val p = Paths.get(dir, t.z.toString, t.x.toString)
        Files.createDirectories(p)
        Files.write(p.resolve(t.y.toString + ".png"), t.png)
        zAcc.add(t.z)
      }
    }
    if (!zAcc.isZero) {
      val (mn0, mx0) = zAcc.value
      mergeTilesetMetadata(dir, name, mn0, mx0)
    }
  }

  /** Widen the tileset metadata's zoom range by [mn0, mx0] (creating it
    * if absent). Incremental writers call the tileset sink per batch
    * with only the zooms THEY rendered; the tileset on disk keeps its
    * full range, so the metadata must merge with what an earlier call
    * recorded — a clobber would make map clients refuse existing zoom
    * levels. Also used by the low-zoom refresh swap, whose temp-dir
    * render writes metadata unaware of the live tileset's range. */
  def mergeTilesetMetadata(dir: String, name: String, mn0: Int, mx0: Int): Unit = {
    val existing = Paths.get(dir, "metadata.json")
    val (mn, mx) =
      if (!Files.exists(existing)) (mn0, mx0)
      else {
        val txt = Files.readString(existing)
        def zOf(k: String): Option[Int] =
          s""""$k": (\\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
        (zOf("minzoom").map(math.min(_, mn0)).getOrElse(mn0),
          zOf("maxzoom").map(math.max(_, mx0)).getOrElse(mx0))
      }
    writeTilesetMetadata(dir, name, mn, mx)
  }

  /**
   * Assemble mode (`render -A`, render.c:827-887): render every tile of
   * a lat/lon bbox at zoom z and stitch into one large RGBA image.
   * Reference-exact placement: each tile lands at the C-int truncation
   * of ((x - x1 - fx1) * tilesize) — including the reference's own
   * first-row/column trunc-toward-zero quirk — and, like the reference
   * (do_tile render.c:947 `&& !assemble`), neighbor spill probes are
   * skipped, so brush splats clip at tile windows. Capped at
   * 10000x10000 like the reference.
   */
  def assemble(points: Option[DataFrame], lines: Option[Dataset[Feature]],
               z: Int, lat1: Double, lon1: Double, lat2: Double, lon2: Double,
               mapbits: Int, p: graft.core.RenderParams): (Array[Byte], Int, Int) = {
    val wx1 = math.min(Mercator.lonToX32(lon1), Mercator.lonToX32(lon2))
    val wx2 = math.max(Mercator.lonToX32(lon1), Mercator.lonToX32(lon2))
    val wy1 = math.min(Mercator.latToY32(lat1), Mercator.latToY32(lat2))
    val wy2 = math.max(Mercator.latToY32(lat1), Mercator.latToY32(lat2))
    val ts = p.tilesize
    val x1 = (wx1 >> (32 - z)).toInt; val x2 = (wx2 >> (32 - z)).toInt
    val y1 = (wy1 >> (32 - z)).toInt; val y2 = (wy2 >> (32 - z)).toInt
    val fx1 = Mercator.worldToTileFracX(wx1, z, x1)
    val fy1 = Mercator.worldToTileFracY(wy1, z, y1)
    val fx2 = Mercator.worldToTileFracX(wx2, z, x2)
    val fy2 = Mercator.worldToTileFracY(wy2, z, y2)
    val outW = ((x2 - x1 + fx2 - fx1) * ts).toInt
    val outH = ((y2 - y1 + fy2 - fy1) * ts).toInt
    require(outW.toLong * outH <= 10000L * 10000L, "Image too big")

    val tiles = graft.render.Render.renderTiles(points, lines, Seq(z), mapbits, p,
      requireOwn = false,
      only = Some { k =>
        val tx = Cell.tileKeyX(k); val ty = Cell.tileKeyY(k)
        tx >= x1 && tx <= x2 && ty >= y1 && ty <= y2
      },
      pointSpill = false)
      .collect()
    val big = new Array[Byte](outW * outH * 4)
    // background fill for empty regions
    val bgTile = graft.core.ToneMap(new graft.core.Canvas(1, 1), p)
    var i = 0
    while (i < outW * outH) {
      System.arraycopy(bgTile, 0, big, i * 4, 4)
      i += 1
    }
    tiles.foreach { t =>
      val (rgba, _, _) = graft.core.Png.decode(t.png)
      // C: do_tile(..., int xoff = (x - x1 - fx1) * tilesize, ...) —
      // trunc toward zero, exactly like the reference's implicit cast
      val ox = (((t.x - x1) - fx1) * ts).toInt
      val oy = (((t.y - y1) - fy1) * ts).toInt
      var py = 0
      while (py < ts) {
        val by = oy + py
        if (by >= 0 && by < outH) {
          var px = 0
          while (px < ts) {
            val bx = ox + px
            if (bx >= 0 && bx < outW)
              System.arraycopy(rgba, (py * ts + px) * 4, big, (by * outW + bx) * 4, 4)
            px += 1
          }
        }
        py += 1
      }
    }
    (big, outW, outH)
  }

  /**
   * S10: write a dataset in the reference's own binary format —
   * per-(n,common) fully sorted packed record files + `meta` descriptor
   * (encode.c:274-403). TEST-ONLY golden-interop sink: the records
   * stream through the driver in sorted partition order — do not point
   * it at real data. At cluster scale each (n,common) group would be
   * written as per-partition files and concatenated by the storage
   * layer; dataset files here are local single files by design.
   */
  def writeDatamapsBinary(features: Dataset[Feature], dir: String,
                          encodeZoom: Int = 16, metabits: Int = 0): Unit = {
    val spark = features.sparkSession
    import spark.implicits._
    val mapbits = 2 * (encodeZoom + 8)
    Files.createDirectories(Paths.get(dir))

    // pack every record, tagged with its (n, common) file identity;
    // cached so the per-group loop below re-filters the cached packed
    // rows instead of re-running the upstream DAG per group
    val packed: Dataset[(Int, Int, Array[Byte])] = features.map { f =>
      val xs = f.vertices.map(c => Cell.decodeX(c).toInt)
      val ys = f.vertices.map(c => Cell.decodeY(c).toInt)
      val n = xs.length
      val common = if (n > 1) BitPack.commonLevels(xs, ys, mapbits) else 0
      (n, common, BitPack.pack(xs, ys, f.meta, metabits, mapbits, metabits, common))
    }.cache()

    val groups = packed.select(col("_1"), col("_2")).distinct()
      .as[(Int, Int)].collect().sorted
    var maxn = 0
    groups.foreach { case (n, common) =>
      maxn = math.max(maxn, n)
      val sorted = packed.filter(r => r._1 == n && r._2 == common)
        .map(_._3)
        .rdd
        .sortBy(identity[Array[Byte]])(
          new Ordering[Array[Byte]] {
            def compare(a: Array[Byte], b: Array[Byte]): Int = BitPack.compare(a, b)
          },
          scala.reflect.classTag[Array[Byte]])
      val fname = if (n == 1) "1,0" else s"$n,$common"
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(s"$dir/$fname"))
      sorted.toLocalIterator.foreach(out.write)
      out.close()
    }
    packed.unpersist()
    Files.writeString(Paths.get(dir, "meta"), s"1\n$mapbits $metabits $maxn\n")
  }
}
