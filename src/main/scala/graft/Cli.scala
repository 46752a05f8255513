package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Cell, Mercator, RenderParams}
import graft.encode.Feature
import graft.sinks.Sinks
import graft.sources.{DatamapsSource, TextSource}

/**
 * Drop-in CLI: the reference's four binaries (`encode`, `render`,
 * `enumerate`, `merge`) as one Spark entry point with the same flags —
 * a user of the original tools can switch by prefixing
 * `sbt "runMain graft.Cli ..."`. Datasets are the reference's own
 * binary format (read via DatamapsSource, written byte-exactly via
 * Sinks.writeDatamapsBinary), so pipelines can mix the C tools and this
 * engine freely. Ordering of enumerate's stdout rows is sorted
 * (z, tile) rather than the reference's stream-close order; row SETS
 * are identical.
 *
 * Scale note: .dm OUTPUT (encode/merge -o) streams through the driver by
 * design — the format is one sorted file per (n,common), so ANY writer
 * serializes per file (the reference is fully single-threaded). It is
 * the interop sink; the scale path is `convert`, which lands the
 * dataset in the range-partitioned parquet snapshot all engine queries
 * and tileset builds run on.
 */
object Cli {
  private def session(): SparkSession = {
    val s = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** stop the session only if this invocation created it (in-process
    * callers — tests, notebooks — keep theirs). */
  private def withSession[A](f: SparkSession => A): A = {
    val owned = SparkSession.getActiveSession.isEmpty && SparkSession.getDefaultSession.isEmpty
    val spark = session()
    try f(spark) finally if (owned) spark.stop()
  }

  /** getopt-ish: single-char flags, inline ("-z16") or separate ("-z 16")
    * args, "--" terminator. `multi` keeps EVERY occurrence of a
    * value-taking flag in order (the reference's getopt loop sees each
    * one: repeated -f accumulates files, render.c:622; repeated -x
    * accumulates modes); `opts` is the last-wins view for flags that
    * only make sense once. */
  private def parse(args: List[String], takesArg: Set[Char])
      : (Map[Char, String], List[Char], List[String], Map[Char, List[String]]) = {
    var opts = Map.empty[Char, String]
    var multi = Map.empty[Char, List[String]]
    var flags = List.empty[Char]
    var pos = List.empty[String]
    var rest = args
    var done = false
    while (rest.nonEmpty) {
      val t = rest.head; rest = rest.tail
      if (done || !t.startsWith("-") || t == "-") pos :+= t
      else if (t == "--") done = true
      else {
        // getopt bundle scan: boolean flags accumulate until a
        // value-taking flag — the REMAINDER of the token (or the next
        // token) is its value, so "-az16" == -a -z16 (the old
        // first-char-only test silently turned "16" into bogus
        // boolean flags '1','6' and lost the zoom)
        var i = 1
        var consumed = false
        while (i < t.length && !consumed) {
          val f = t(i)
          if (takesArg(f)) {
            val v = if (i + 1 < t.length) t.substring(i + 1)
                    else { val h = rest.head; rest = rest.tail; h }
            opts += f -> v
            multi += f -> (multi.getOrElse(f, Nil) :+ v)
            consumed = true
          } else { flags :+= f; i += 1 }
        }
      }
    }
    (opts, flags, pos, multi)
  }

  def main(args: Array[String]): Unit = {
    // reference parity: the C binaries printf under LC_ALL=C
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    run(args)
  }

  private def run(args: Array[String]): Unit = args.toList match {
    case "encode" :: rest => encode(rest)
    case "render" :: rest => render(rest)
    case "enumerate" :: rest => enumerate(rest)
    case "merge" :: rest => merge(rest)
    case "convert" :: rest => convert(rest)
    case "tileset" :: rest => tileset(rest)
    case _ =>
      System.err.println(
        "usage: graft.Cli encode|render|enumerate|merge [reference flags...]\n" +
          "       graft.Cli convert -o <parquet-dir> <dataset.dm>   (migrate to a sorted snapshot)\n" +
          "       graft.Cli tileset -o <tiles-dir> -z <min..max> [render flags] <dataset.dm>\n" +
          "         (whole pyramid in ONE Spark job — replaces the reference's enumerate|xargs render loop)")
      sys.exit(1)
  }

  /** Migration path for reference users: one-shot convert a .dm dataset
    * into the engine's cell-sorted parquet snapshot (range-partitioned,
    * Parquet min/max prunable — every TileOps/render query runs on it). */
  private def convert(args: List[String]): Unit = {
    val (opts, _, pos, _) = parse(args, Set('o'))
    val out = opts.getOrElse('o', sys.error("convert: -o output required"))
    withSession { spark =>
      import spark.implicits._
      val feats = DatamapsSource.read(spark, pos.head)
      val parts = spark.sparkContext.defaultParallelism * 2
      feats.map(f => (f.cell, f.vertices, f.meta)).toDF("cell", "vertices", "meta")
        .repartitionByRange(parts, col("cell"))
        .sortWithinPartitions(col("cell"), col("meta"))
        .write.mode("error").parquet(out)
    }
  }

  /** RenderParams flags shared by `render` and `tileset`: ONE takesArg
    * set and ONE switch — the earlier copy in tileset drifted (narrower
    * takesArg silently pushed values of render-only flags onto the
    * positional list, corrupting the dataset path). */
  private val RenderParamArgs =
    Set('t', 'C', 'c', 'S', 'B', 'O', 'G', 'l', 'L', 'M', 'b', 'T', 'x', 'e', 'p')

  private def renderParamsFrom(opts: Map[Char, String], multi: Map[Char, List[String]],
                               flags: List[Char]): RenderParams = {
    var p = RenderParams()
    opts.get('t').foreach(v => p = p.copy(transparency = v.toInt))
    opts.get('G').foreach(v => p = p.copy(gamma = v.toDouble))
    opts.get('b').foreach(v => p = p.copy(bg = java.lang.Long.parseLong(v, 16).toInt))
    opts.get('c').foreach(v => p = p.copy(color = java.lang.Long.parseLong(v, 16).toInt))
    opts.get('S').foreach(v => p = p.copy(color2 = java.lang.Long.parseLong(v, 16).toInt))
    opts.get('T').foreach(v => p = p.copy(tilesize = v.toInt))
    opts.get('e').foreach(v => p = p.copy(exponent = v.toDouble))
    opts.get('M').foreach(v => p = p.copy(mercatorLat = v.toDouble))
    opts.get('L').foreach(v => p = p.copy(lineThick = v.toDouble))
    opts.get('l').foreach(v => p = p.copy(lineRamp = v.toDouble))
    opts.get('O').foreach(v => p = p.copy(gpsDist = v.toDouble))
    opts.get('B').foreach { v =>
      val Array(zb, br, ra) = v.split(":")
      p = p.copy(dotBase = zb.toInt, dotBright = br.toDouble, dotRamp = ra.toDouble)
    }
    opts.get('p').foreach { v =>
      if (v.startsWith("g")) p = p.copy(pointSize = v.drop(1).toDouble, gaussian = true)
      else p = p.copy(pointSize = v.toDouble)
    }
    opts.get('C').foreach { v =>
      val Array(m1, h1, m2, h2) = v.split(":").map(_.toDouble)
      p = p.copy(colorRampActive = true, colorMeta1 = m1.toLong, colorHue1 = h1,
        colorMeta2 = m2.toLong, colorHue2 = h2)
    }
    multi.getOrElse('x', Nil).foreach {
      case "b" => p = p.copy(metabright = true)
      case "r" => p = p.copy(metabrush = true)
      case "u" => p = p.copy(cie = true)
      case v if v.startsWith("l") => p = p.copy(maxmeta = v.drop(1).toLong)
      case v if v.startsWith("s") => p = p.copy(colorCap = v.drop(1).toDouble)
      case v if v.startsWith("c") =>
        // the reference's sscanf("c%f%c") REQUIRES a unit: only feet
        // ('f') or meters ('m'); a unitless "-x c100" errored there and
        // must not silently parse as 10 feet here
        val unit = v.last
        val numStr = v.drop(1).dropRight(1)
        if (numStr.isEmpty || (unit != 'f' && unit != 'm'))
          sys.error(s"render: can't understand unit in -x $v (c<dist>f or c<dist>m)")
        val num = numStr.toDouble
        p = p.copy(circle = if (unit == 'm') num * 3.28 else num)
      case v => sys.error(s"render: can't understand -x $v")
    }
    if (flags.contains('a')) p = p.copy(antialias = false)
    if (flags.contains('m')) p = p.copy(mask = true)
    if (flags.contains('s')) p = p.copy(saturate = false)
    if (flags.contains('g')) p = p.copy(gps = true)
    if (flags.contains('w')) p = p.copy(bg = 0xFFFFFF, invert = true)
    p
  }

  /** Whole-tileset build: points + polylines, every zoom in [min..max],
    * ONE shuffle (multi-zoom renderTiles) -> z/x/y.png + metadata.json. */
  private def tileset(args: List[String]): Unit = {
    val (opts, flags, pos, multi) = parse(args, RenderParamArgs + 'o' + 'z')
    val out = opts.getOrElse('o', sys.error("tileset: -o output required"))
    val zr = opts.getOrElse('z', "0..8").split("\\.\\.").map(_.toInt)
    val zooms = zr(0) to zr(zr.length - 1)
    val p = renderParamsFrom(opts, multi, flags)
    withSession { spark =>
      import spark.implicits._
      val feats = DatamapsSource.read(spark, pos.head)
      val mapbits = DatamapsSource.readMeta(pos.head).mapbits
      val points = render_.withGlobalRank(
        feats.filter((f: Feature) => f.vertices.length == 1)
          .map(f => (f.cell, f.meta)).toDF("cell", "meta"))
      val lines = feats.filter((f: Feature) => f.vertices.length > 1)
      val tiles = render_.renderTiles(Some(points), Some(lines), zooms, mapbits, p)
      Sinks.writeTileset(tiles, out, pos.head)
      points.unpersist()
    }
  }

  private def encode(args: List[String]): Unit = {
    val (opts, _, pos, _) = parse(args, Set('o', 'z', 'm'))
    val out = opts.getOrElse('o', sys.error("encode: -o output required"))
    val z = opts.get('z').map(_.toInt).getOrElse(16)
    val m = opts.get('m').map(_.toInt).getOrElse(0)
    require(!new java.io.File(out).exists(), s"$out exists (the reference encode refuses too)")
    withSession { spark =>
      val feats = pos.map(TextSource.read(spark, _, z, m)).reduce(_ union _)
      Sinks.writeDatamapsBinary(feats, out, z, m)
    }
  }

  private def merge(args: List[String]): Unit = {
    val (opts, flags, pos, _) = parse(args, Set('o'))
    val out = opts.getOrElse('o', sys.error("merge: -o output required"))
    require(!new java.io.File(out).exists(), s"$out exists")
    withSession { spark =>
      // the reference refuses mismatched encodings (merge.c:79-87) —
      // silently re-encoding at the first file's parameters would be lossy
      val metas = pos.map(DatamapsSource.readMeta)
      val meta = metas.head
      metas.zip(pos).tail.foreach { case (m, f) =>
        require(m.mapbits == meta.mapbits && m.metabits == meta.metabits,
          s"merge: mismatched encoding of ${pos.head} (-z ${meta.encodeZoom} -m ${meta.metabits}) " +
            s"and $f (-z ${m.encodeZoom} -m ${m.metabits})")
      }
      val all = pos.map(DatamapsSource.read(spark, _)).reduce(_ union _)
      val merged = if (flags.contains('u')) all.dropDuplicates("vertices", "meta") else all
      Sinks.writeDatamapsBinary(merged, out, meta.encodeZoom, meta.metabits)
    }
  }

  private def enumerate(args: List[String]): Unit = {
    val (opts, flags, pos, _) = parse(args, Set('z', 'Z', 'b'))
    val dir = pos.head
    withSession { spark =>
    import spark.implicits._
    val meta = DatamapsSource.readMeta(dir)
    val feats = DatamapsSource.read(spark, dir)
    val maxz = opts.get('z').map(_.toInt).getOrElse(meta.mapbits / 2 - 8)
    val minz = opts.get('Z').map(_.toInt).getOrElse(0)
    if (flags.contains('a') || flags.contains('D')) {
      // stream the (possibly huge) dump through the driver in sorted
      // partition order — bounded memory, like the reference's pipe
      val geo = flags.contains('D')
      val rows = Sinks.enumerateDump(feats, meta.encodeZoom, meta.metabits, geoJson = geo)
        .toLocalIterator()
      if (geo) {
        print("{\n\"type\": \"FeatureCollection\",\n\"features\": [\n")
        var first = true
        rows.forEachRemaining { r =>
          if (!first) print(",\n")
          first = false
          print(r); print("\n")
        }
        print("]\n}\n")
      } else rows.forEachRemaining(println)
    } else {
      val verbose = flags.contains('v')
      val showdist = flags.contains('d')
      val bounded = opts.get('b').map { b =>
        val Array(minlat, minlon, maxlat, maxlon) = b.split(",").map(_.toDouble)
        (Mercator.lonToX32(minlon), Mercator.latToY32(maxlat),
          Mercator.lonToX32(maxlon), Mercator.latToY32(minlat))
      }
      val firsts = feats.map(f => (Cell.decodeX(f.cell), Cell.decodeY(f.cell)))
        .toDF("x32", "y32")
      val inb = bounded match {
        case Some((l, t, r, b)) => query.TileOps.bboxFilter(firsts, l, t, r, b)
        case None => firsts
      }
      // tile lists can be pyramid-sized: stream unless sibling
      // completion needs the full present-set in memory. The -d length
      // stat joins in distributively (no pyramid-sized driver map).
      def rolledSorted = {
        val base = query.TileOps.enumerateRollup(inb, minz, maxz)
        // the len stat honors -b exactly like cnt/xsum: the reference
        // adds tile.len only when the record's FIRST vertex is in
        // bounds (enumerate.c include gate) — the unbounded feature set
        // would overcount tiles straddling the bbox edge
        lazy val featsForLen = bounded match {
          case Some((l, t, r, b)) => feats.filter { f: Feature =>
            val x = Cell.decodeX(f.cell); val y = Cell.decodeY(f.cell)
            x >= l && x <= r && y >= t && y <= b
          }
          case None => feats
        }
        val withLen =
          if (!showdist) base.withColumn("len", lit(0.0))
          else base.join(
            query.TileOps.enumerateRollupFeatures(featsForLen, minz, maxz)
              .select(col("z"), col("tx").cast("long"), col("ty").cast("long"), col("len")),
            Seq("z", "tx", "ty"), "left")
            .na.fill(0.0, Seq("len"))
        withLen
          // xsum/ysum accumulate in DECIMAL(38) for 10^12-row safety;
          // CLI-scale totals fit a Long (the reference prints the same)
          .select(col("z"), col("tx"), col("ty"), col("cnt"),
            col("xsum").cast("long").as("xsum"), col("ysum").cast("long").as("ysum"), col("len"))
          .orderBy(col("z"), col("tx"), col("ty"))
          .as[(Int, Long, Long, Long, Long, Long, Double)]
      }
      val needMaterialize = flags.contains('s')
      val rolledSeq: Seq[(Int, Long, Long, Long, Long, Long, Double)] =
        if (needMaterialize) rolledSorted.collect().toSeq else Seq.empty
      val rolled: Iterator[(Int, Long, Long, Long, Long, Long, Double)] =
        if (needMaterialize) rolledSeq.iterator
        else { import scala.jdk.CollectionConverters._; rolledSorted.toLocalIterator().asScala }
      rolled.foreach { case (z, tx, ty, cnt, xsum, ysum, len) =>
        val sb = new StringBuilder(s"$dir $z $tx $ty")
        if (verbose)
          sb ++= graft.core.Cfmt.f(" %d %f,%f", cnt, Mercator.tileToLat(ysum / cnt, 32), Mercator.tileToLon(xsum / cnt, 32))
        if (showdist) sb ++= graft.core.Cfmt.f(" %f", len)
        println(sb.result())
      }
      if (flags.contains('s')) {
        // sibling completion: empty quad-mates of every present tile
        val present = rolledSeq.map { case (z, tx, ty, _, _, _, _) => (z, tx, ty) }.toSet
        rolledSeq.iterator.filter(_._1 > 0)
          .flatMap { case (z, tx, ty, _, _, _, _) =>
            for { qx <- 0 to 1; qy <- 0 to 1
                  sx = tx / 2 * 2 + qx; sy = ty / 2 * 2 + qy
                  if !present((z, sx, sy)) } yield (z, sx, sy)
          }.toSeq.distinct.sorted.foreach { case (z, sx, sy) =>
            val sb = new StringBuilder(s"$dir $z $sx $sy")
            if (flags.contains('v'))
              sb ++= graft.core.Cfmt.f(" 0 %f,%f", Mercator.tileToLat(sy << (32 - z), 32), Mercator.tileToLon(sx << (32 - z), 32))
            if (showdist) sb ++= " 0.000000"
            println(sb.result())
          }
      }
    }
    }
  }

  private def render(args: List[String]): Unit = {
    val (opts, flags, pos, multi) = parse(args, RenderParamArgs + 'f' + 'o')
    val p = renderParamsFrom(opts, multi, flags)

    if (flags.contains('v')) { print(Sinks.mapnikStylesheet(p)); return }

    withSession { spark =>
    // reference file order: every -f first, the positional dataset last
    // (render.c:622 files[nfiles++], then :797). DOCUMENTED DEVIATION:
    // the reference draws file 0 fully, then file 1 (file-major FP
    // accumulation); the union render interleaves records of equal
    // (slot, cell) across files, so multi-file sums fold in a different
    // FP order — canvas accumulation is commutative, so the output is
    // ulp-equivalent (golden multi-f test: PSNR >= 40), not bit-equal.
    val dirs = multi.getOrElse('f', Nil) :+ pos.head
    val metas = dirs.map(DatamapsSource.readMeta)
    val mapbits = metas.map(_.mapbits).max
    val featsByDir = dirs.map(DatamapsSource.read(spark, _))
    val feats = featsByDir.reduce(_ union _)
    import spark.implicits._

    if (flags.contains('d') || flags.contains('D')) {
      // dump modes need no rank/canvas: text (-d, dump==1) or GeoJSON
      // FeatureCollection (-D, dump==2, dump.c:7-68). Single tile dumps
      // file-major (render.c:915-916); -A dumps every bbox tile x-major
      // with the file loop INSIDE (render.c:873-880).
      val geo = flags.contains('D')
      if (geo) print("{\n\"type\": \"FeatureCollection\",\n\"features\": [\n")
      var first = true
      def emit(i: Int, z: Int, x: Int, y: Int): Unit = {
        val m = metas(i)
        dumpTileFeatures(featsByDir(i), z, x, y, m.mapbits, m.metabits, p.maxmeta).foreach { f =>
          if (geo) {
            if (!first) print(",\n")
            first = false
            print(Sinks.dumpGeoJsonLine(f, m.metabits)); print("\n")
          } else println(Sinks.dumpTextLine(f, m.metabits))
        }
      }
      if (flags.contains('A')) {
        val Seq(zs, lat1, lon1, lat2, lon2) = pos.tail.take(5)
        val z = zs.toInt
        val wxs = Seq(Mercator.lonToX32(lon1.toDouble), Mercator.lonToX32(lon2.toDouble)).sorted
        val wys = Seq(Mercator.latToY32(lat1.toDouble), Mercator.latToY32(lat2.toDouble)).sorted
        val (x1, x2) = ((wxs(0) >> (32 - z)).toInt, (wxs(1) >> (32 - z)).toInt)
        val (y1, y2) = ((wys(0) >> (32 - z)).toInt, (wys(1) >> (32 - z)).toInt)
        for (x <- x1 to x2; y <- y1 to y2; i <- dirs.indices) emit(i, z, x, y)
      } else {
        val Seq(zs, xs, ys) = pos.tail.take(3)
        for (i <- dirs.indices) emit(i, zs.toInt, xs.toInt, ys.toInt)
      }
      if (geo) print("]\n}\n")
      return
    }

    // global rank = the reference's file offset (records sort by packed
    // bytes == (cell, meta)); needed for deterministic step sampling at
    // zooms below dot_base
    val points = render_.withGlobalRank(
      feats.filter((f: Feature) => f.vertices.length == 1)
        .map(f => (f.cell, f.meta)).toDF("cell", "meta"))
    val lines = feats.filter((f: Feature) => f.vertices.length > 1)

    if (flags.contains('A')) {
      val Seq(z, lat1, lon1, lat2, lon2) = pos.tail.take(5)
      val (rgba, w, h) = Sinks.assemble(Some(points), Some(lines), z.toInt,
        lat1.toDouble, lon1.toDouble, lat2.toDouble, lon2.toDouble, mapbits, p)
      System.out.write(graft.core.Png.encode(rgba, w, h)); System.out.flush()
    } else {
      val Seq(zs, xs, ys) = pos.tail.take(3)
      val (z, x, y) = (zs.toInt, xs.toInt, ys.toInt)
      // single-tile render: after rank assignment (global!), restrict the
      // point scan to the target tile's neighbor-ring cell ranges — the
      // Spark analog of the reference's per-range binary search. Cloud
      // mode keeps the full scan (rings are latitude-dependent).
      def ringFiltered(zz: Int, tx: Int, ty: Int) = {
        val n = 1L << zz
        val ranges = for {
          dx <- -1 to 1; dy <- -1 to 1
          nx = tx + dx; ny = ty + dy
          if nx >= 0 && nx < n && ny >= 0 && ny < n
        } yield (Cell.tileRangeLo(zz, nx.toInt, ny.toInt), Cell.tileRangeHi(zz, nx.toInt, ny.toInt))
        points.filter(ranges.map { case (lo, hi) =>
          col("cell") >= lo && col("cell") <= hi
        }.reduce(_ || _))
      }
      locally {
        val tiles =
          if (flags.contains('r'))
            render_.renderRetinaTiles(
              Some(if (p.circle > 0) points else ringFiltered(z - 1, x / 2, y / 2)),
              Some(lines), z, mapbits, p, requireOwn = false)
          else render_.renderTiles(
            Some(if (p.circle > 0) points else ringFiltered(z, x, y)),
            Some(lines), Seq(z), mapbits, p,
            requireOwn = false, only = Some(_ == Cell.tileKey(z, x, y)))
        val tile = tiles.collect().find(t => t.x == x && t.y == y)
        tile match {
          case Some(t) =>
            opts.get('o') match {
              case Some(outdir) =>
                Sinks.writeTileset(spark.createDataset(Seq(t))(
                  org.apache.spark.sql.Encoders.product[graft.render.TileOut]), outdir, pos.head)
              case None => System.out.write(t.png); System.out.flush()
            }
          case None =>
            // empty tile: tone-map an untouched canvas (background)
            val bgPng = graft.core.Png.encode(
              graft.core.ToneMap(new graft.core.Canvas(p.tilesize, p.tilesize), p),
              p.tilesize, p.tilesize)
            opts.get('o') match {
              case Some(outdir) =>
                Sinks.writeTileset(spark.createDataset(Seq(graft.render.TileOut(z, x, y, bgPng)))(
                  org.apache.spark.sql.Encoders.product[graft.render.TileOut]), outdir, pos.head)
              case None => System.out.write(bgPng); System.out.flush()
            }
        }
      }
    }
    }
  }

  /** The tile's dump rows in the reference's exact emission order
    * (render.c do_tile, dump mode): the points file first, then line
    * files (n, z_lookup) for z_lookup ascending z+1..mapbits/2
    * (render.c:976-985), then z_lookup descending z..0 (render.c:990-
    * 1004), n ascending inside each z_lookup; within a file, records in
    * memcmp order of their packed bytes. Membership = first-vertex
    * prefix match at min(z, common) plus the dump clip predicate
    * (render.c:244-262) and the maxmeta ceiling (render.c:198). The
    * filter runs distributed; only one tile's rows reach the driver. */
  private def dumpTileFeatures(feats: org.apache.spark.sql.Dataset[Feature],
                               z: Int, x: Int, y: Int,
                               mapbits: Int, metabits: Int, maxmeta: Long): Seq[Feature] = {
    val half = mapbits / 2
    val lo = Cell.tileRangeLo(z, x, y); val hi = Cell.tileRangeHi(z, x, y)
    val matched = feats.filter { (f: Feature) =>
      if (f.meta > maxmeta) false
      else if (f.vertices.length == 1) f.cell >= lo && f.cell <= hi
      else {
        val xs = f.vertices.map(Cell.decodeX)
        val ys = f.vertices.map(Cell.decodeY)
        val c0 = graft.core.BitPack.commonLevels(xs.map(_.toInt), ys.map(_.toInt), mapbits)
        val m = math.min(z, c0)
        val keyOk = (m == 0) ||
          ((xs(0) >>> (32 - m)) == (x.toLong >>> (z - m)) && (ys(0) >>> (32 - m)) == (y.toLong >>> (z - m)))
        keyOk && {
          val xd = xs.map(Mercator.worldToTileFracX(_, z, x))
          val yd = ys.map(Mercator.worldToTileFracY(_, z, y))
          (1 until xs.length).exists(k =>
            graft.core.Clip.accepts(xd(k - 1), yd(k - 1), xd(k), yd(k), 0, 0, 1, 1))
        }
      }
    }.collect().toSeq
    implicit val memcmp: Ordering[Array[Byte]] =
      (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)
    matched.map { f =>
      val xs = f.vertices.map(c => Cell.decodeX(c).toInt)
      val ys = f.vertices.map(c => Cell.decodeY(c).toInt)
      val n = xs.length
      val c0 = if (n == 1) 0 else graft.core.BitPack.commonLevels(xs, ys, mapbits)
      val fileRank =
        if (n == 1) 0
        else if (c0 > z) c0 - z // deeper z_lookups, ascending
        else (half - z) + 1 + (z - c0) // then z_lookup z..0 descending
      val packed = graft.core.BitPack.pack(xs, ys, f.meta, metabits, mapbits, metabits, c0)
      ((fileRank, n, packed), f)
    }.sortBy(_._1).map(_._2)
  }

  private val render_ = graft.render.Render
}
