package graft

import java.nio.ByteBuffer
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.render.{Render, TileOut}

/** Reference-free pixel pins for every render entry point. Each case
  * renders one seeded corpus (ImageTable.generateGeo points plus the
  * GoldenLineSpec polylines) and compares a SHA-256 digest of the
  * output with a recorded value: for raster tiles the digest runs over
  * the (z, x, y)-sorted tiles' coordinates and decoded RGBA, for vector
  * tiles and text dumps over the raw bytes. The digests were recorded
  * before the render command paths were merged into one emitter, so a
  * refactor that changes any tile set, command multiset or pixel fails
  * here. Salted renders use two salts: a sum of two partial canvases is
  * the same in either merge order, so the digest is deterministic. */
class RenderPinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val mapbits = 48

  /** (cell, meta, rank) in (cell, meta) order: rank = sorted position. */
  lazy val cellRows: Seq[(Long, Long)] = {
    import spark.implicits._
    graft.tables.ImageTable.generateGeo(spark, 4000, partitions = 4).toDF()
      .select(col("cell"), col("meta")).as[(Long, Long)].collect()
      .map { case (c, m) => (Cell.truncate(c, mapbits), m) }
      .sorted.toSeq
  }

  def points: DataFrame = {
    import spark.implicits._
    cellRows.zipWithIndex.map { case ((c, m), i) => (c, m, i.toLong) }.toDF("cell", "meta", "rank")
  }

  lazy val lines = {
    import spark.implicits._
    spark.createDataset(GoldenLineSpec.features(mapbits))
  }

  /** The same points as a ranked parquet snapshot. */
  lazy val snapshot: String = {
    val dir = java.nio.file.Files.createTempDirectory("renderpin").toString + "/ranked"
    Render.writeRankedSnapshot(points.select(col("cell"), col("meta")), dir)
    dir
  }

  def nyc(z: Int): (Int, Int) = {
    val c = Cell.encode(Mercator.lonToX32(-74.0).toInt, Mercator.latToY32(40.7).toInt)
    (Cell.tileX(c, z), Cell.tileY(c, z))
  }

  def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  def digestTiles(tiles: Seq[TileOut], decode: Boolean = true): String = {
    val keys = tiles.map(t => (t.z, t.x, t.y))
    assert(keys.distinct.length == keys.length, "duplicate tile keys")
    assert(tiles.nonEmpty, "no tiles")
    val md = MessageDigest.getInstance("SHA-256")
    tiles.sortBy(t => (t.z, t.x, t.y)).foreach { t =>
      md.update(ByteBuffer.allocate(12).putInt(t.z).putInt(t.x).putInt(t.y).array())
      md.update(if (decode) Png.decode(t.png)._1 else t.png)
    }
    s"${tiles.length}:${hex(md.digest())}"
  }

  def digestBytes(b: Array[Byte]): String =
    s"${b.length}:${hex(MessageDigest.getInstance("SHA-256").digest(b))}"

  val cases: Seq[(String, () => String)] = Seq(
    "renderPoints z13" -> (() =>
      digestTiles(Render.renderTiles(Some(points), None, Seq(13), mapbits, RenderParams()).collect())),
    "renderTiles z10 step sampling" -> (() =>
      digestTiles(Render.renderTiles(Some(points), Some(lines), Seq(10), mapbits, RenderParams()).collect())),
    "renderTiles z15 brush spill" -> (() =>
      digestTiles(Render.renderTiles(Some(points), Some(lines), Seq(15), mapbits, RenderParams()).collect())),
    // the spill gate: a tile whose own records set no `further` (none
    // at all, or metabrush metas of 0/1 at z13) draws no neighbour spill
    "renderTiles z15 requireOwn = false" -> (() =>
      digestTiles(Render.renderTiles(Some(points), None, Seq(15), mapbits, RenderParams(),
        requireOwn = false).collect())),
    "renderTiles metabrush z13" -> (() =>
      digestTiles(Render.renderTiles(Some(points), None, Seq(13), mapbits,
        RenderParams(metabrush = true)).collect())),
    "renderTiles z17 overzoom noise" -> (() =>
      digestTiles(Render.renderTiles(Some(points), None, Seq(17), mapbits, RenderParams()).collect())),
    "renderTiles metabrush z14" -> (() =>
      digestTiles(Render.renderTiles(Some(points), None, Seq(14), mapbits,
        RenderParams(metabrush = true)).collect())),
    "renderTiles exponent 1.5 z10" -> (() =>
      digestTiles(Render.renderTiles(Some(points), None, Seq(10), mapbits,
        RenderParams(exponent = 1.5)).collect())),
    "renderTiles tilesize 512" -> (() =>
      digestTiles(Render.renderTiles(Some(points), Some(lines), Seq(12), mapbits,
        RenderParams(tilesize = 512)).collect())),
    "renderPyramid z0-10 ranked snapshot" -> (() =>
      digestTiles(Render.renderPyramid(Render.readRankedSnapshot(spark, snapshot),
        0 to 10, mapbits, RenderParams()).collect())),
    "cloud renderTiles z10" -> (() =>
      digestTiles(Render.renderTiles(Some(points), None, Seq(10), mapbits,
        RenderParams(circle = 5000)).collect())),
    "cloud renderTiles z14" -> (() =>
      digestTiles(Render.renderTiles(Some(points), None, Seq(14), mapbits,
        RenderParams(circle = 5000)).collect())),
    "cloud renderPyramid z10,z14" -> (() =>
      digestTiles(Render.renderPyramid(points, Seq(10, 14), mapbits,
        RenderParams(circle = 5000)).collect())),
    "renderPyramidAll points+lines z12-16" -> (() =>
      digestTiles(Render.renderTiles(Some(points), Some(lines), 12 to 16, mapbits,
        RenderParams()).collect())),
    "renderRetinaTiles z14" -> (() =>
      digestTiles(Render.renderRetinaTiles(Some(points), Some(lines), 14, mapbits,
        RenderParams()).collect())),
    "renderVectorTiles z14" -> (() =>
      digestTiles(Render.renderVectorTiles(Some(points), Some(lines), 14, mapbits,
        RenderParams()).collect(), decode = false)),
    "Sinks.assemble z12" -> { () =>
      val (rgba, w, h) = graft.sinks.Sinks.assemble(Some(points), Some(lines), 12,
        40.60, -74.15, 40.85, -73.85, mapbits, RenderParams())
      s"${w}x$h:" + digestBytes(rgba)
    },
    "renderPyramidSalted z12-14" -> (() =>
      digestTiles(Render.renderPyramidSalted(Render.readRankedSnapshot(spark, snapshot),
        12 to 14, mapbits, RenderParams(), hotThreshold = 20, salts = 2).collect())),
    "rasterDebugDump z13" -> { () =>
      val (x, y) = nyc(13)
      val out = Render.rasterDebugDump(points, 13, x, y, mapbits, RenderParams())
      assert(out.nonEmpty)
      digestBytes(out.mkString("\n").getBytes("UTF-8"))
    })

  /** Digests recorded on the sources before the render paths merged. */
  val recorded: Map[String, String] = Map(
    "renderPoints z13" ->
      "2840:3f20399a7fadce3650d4ef1e4478d7791867d83e96232e967498a73771a6d652",
    "renderTiles z10 step sampling" ->
      "458:abe0c9375608f1e46c82c10eb72c7cf02adf0d4cbb0e535241674a29cf814d2c",
    "renderTiles z15 brush spill" ->
      "3410:60a19e87f9dce69fa5a138ec5c77387083d912f5f16e42e23695a6c50ccee0aa",
    "renderTiles z15 requireOwn = false" ->
      "25525:a99243963c124e2750c6410f7c2196bf6b1b58597ece90cf825c5162f3631e50",
    "renderTiles metabrush z13" ->
      "2840:77c303f594cb99f5696baf7e32d575e962ac07f0914fe377feccf02e2e60d600",
    "renderTiles z17 overzoom noise" ->
      "3140:d62d05cfb2ac775056abbbdca6f38eca0e407ef65f27862bd7b8f6fe65017dd6",
    "renderTiles metabrush z14" ->
      "2840:d9b41609b7fd9b64e55bc029f97a684a42afea9225a6b948f97def517ac03aea",
    "renderTiles exponent 1.5 z10" ->
      "948:7d92111c99784691d64f7da083d002f5f5fcc6c88c339374dbc8c26d6e47974b",
    "renderTiles tilesize 512" ->
      "1537:71f6fa7a7b8febc70552f57b44afcaae98b97b8c985a8a86289915a4d8381fc0",
    "renderPyramid z0-10 ranked snapshot" ->
      "732:59ab36c3442386d90f90d9813e18a45e9a408f43db6fc06639638cc00f790370",
    "cloud renderTiles z10" ->
      "2823:d1ce04be3c651cafd8ff9581ab811e493ddd32d670121b61c929fc77fcfb720b",
    "cloud renderTiles z14" ->
      "2840:08c5afcf922ba19fd1ad25933c8d5b6b33c19dfaebb99d474bf8ada1422127bc",
    "cloud renderPyramid z10,z14" ->
      "5663:11054ec21ac5ccb65ce4318f91e0da63b051299a77631a094a45f1f23577afa3",
    "renderPyramidAll points+lines z12-16" ->
      "15033:5458b5298e05db82d9cc0651341da2f1d3422b78985afd98a758aff4fbb54acb",
    "renderRetinaTiles z14" ->
      "11912:c00b407691e61117f271f9e2f02c138ff1dc3a0164c750ee3a502876e8c61df6",
    "renderVectorTiles z14" ->
      "3069:e9901cceb220245c3942a23c56824d858bcd73b7cccfb69f3adf824874ad9dc5",
    "Sinks.assemble z12" ->
      "873x960:3352320:58060bf64016d17a5f4b5884699a1b3e012280c0e0ab21a17e0cc09287a355a0",
    "renderPyramidSalted z12-14" ->
      "7105:fca0776cdeeeaf6463d04436f2f61bd947b184ed4bc9fd97cac649477d50625b",
    "rasterDebugDump z13" ->
      "1259:9e5c3bd9eab7058683971abb9ad1bb0628ffe41c52bca71ff34957276182c0b3")

  for ((name, run) <- cases) {
    test(s"render pin: $name") {
      val got = run()
      info(s"$name -> $got")
      assert(recorded.get(name).contains(got), s"digest for '$name' is $got")
    }
  }

  test("exponent 0.5 (step 0 below z12): pyramid and salted pyramid draw every occupied tile") {
    val p = RenderParams(exponent = 0.5)
    val zooms = 9 to 12
    assert(zooms.map(p.pointParams(_)._1) == Seq(0, 0, 0, 1))
    val occupied = (for (z <- zooms; (c, _) <- cellRows) yield (z, Cell.tileX(c, z), Cell.tileY(c, z))).toSet
    val plain = Render.renderPyramid(points, zooms, mapbits, p).collect()
    val salted = Render.renderPyramidSalted(points, zooms, mapbits, p, hotThreshold = 20, salts = 2).collect()
    for (tiles <- Seq(plain, salted)) {
      val keys = tiles.map(t => (t.z, t.x, t.y))
      assert(keys.length == keys.distinct.length)
      assert(keys.toSet == occupied)
    }
  }
}
