package graft

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.media.Media
import graft.tables.{ImageRow, ImageTable}

/** Output pins for every image-dedup entry point. One seeded corpus
  * holds random originals, byte-identical copies, PNG re-encodes,
  * 2x-upscaled copies, Hamming-1/2 near-dups, a >cap hot band bucket
  * and a doubly-hot (terminal-level) bucket; the state cases split it
  * into a state batch A, an incremental batch B (boundary copies, a
  * bridge that merges two A clusters) and a later batch C that only
  * resolves through B's append. Each case digests its output rows
  * (SHA-256 over the sorted row strings) and compares the digest with
  * a recorded value. The digests were recorded before the dedup entry
  * points were merged into one nid-space core: a digest change is a
  * dedup regression, never a value to re-record. */
class DedupPinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import DedupPinSpec._

  def digest(df: DataFrame): String = {
    val rows = df.collect().map(rowString).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"${rows.length}:${md.digest().map(b => f"$b%02x").mkString}"
  }

  def images(rows: Seq[ImageRow]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows).toDF()
  }

  /** The whole corpus as parquet, so the batch entry points see a file
    * scan (the withDecodeSplits path) as the bench does. */
  lazy val corpusPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("deduppin").toString + "/images"
    images(batchA ++ batchB ++ batchC).coalesce(2).write.parquet(dir)
    dir
  }
  def corpus: DataFrame = spark.read.parquet(corpusPath)

  /** The state chain runs once, in order: write A, resolve B, append B,
    * resolve C. */
  lazy val stateDigests: Map[String, String] = {
    val dir = java.nio.file.Files.createTempDirectory("deduppinstate").toString
    val tbl = "dedup_pin_bands"
    val aLabels = Media.writeImageDedupState(images(batchA), dir, tbl, buckets = 4)
    val written = Map(
      "writeImageDedupState labels" -> digest(aLabels),
      "writeImageDedupState labels dir" -> digest(spark.read.parquet(s"$dir/labels")),
      "writeImageDedupState bands" -> digest(spark.table(tbl)))
    val bIds = Media.dhashes(images(batchB))
    val (bl, bm) = Media.incrementalImageDedup(bIds, tbl)
    val blC = bl.localCheckpoint(true)
    val resolved = Map(
      "incrementalImageDedup labels" -> digest(blC),
      "incrementalImageDedup merges" -> digest(bm))
    Media.appendImageDedupState(bIds, blC, tbl, dir, buckets = 4)
    val appended = Map(
      "appendImageDedupState bands" -> digest(spark.table(tbl)),
      "appendImageDedupState labels dir" -> digest(spark.read.parquet(s"$dir/labels")))
    val (cl, cm) = Media.incrementalImageDedup(Media.dhashes(images(batchC)), tbl)
    written ++ resolved ++ appended ++ Map(
      "incrementalImageDedup after append labels" -> digest(cl),
      "incrementalImageDedup after append merges" -> digest(cm))
  }

  val cases: Seq[(String, () => String)] = Seq(
    "imageDupClusters" -> (() => digest(Media.imageDupClusters(corpus))),
    "imageDupClustersPhased._1" -> (() => digest(Media.imageDupClustersPhased(corpus)._1)),
    "imageDupLabelsNid" -> { () =>
      digest(Media.imageDupLabelsNid(Media.dhashes(corpus).select(col("nid"), col("dhash"))))
    },
    // the edge list itself: the exact-pregroup stars and the banded
    // pairs between pregroup reps, so a change of the rep choice shows
    // even where the component labels cannot see it
    "dupEdges" -> (() => digest(Media.dupEdges(Media.dhashes(corpus), 2)._1)),
    "ImageCuration.run" -> { () =>
      val out = java.nio.file.Files.createTempDirectory("deduppincur").toString + "/out"
      val (_, counts) = graft.pipelines.ImageCuration.run(spark, corpus, out, minPixels = 64L)
      s"$counts:" + digest(spark.read.parquet(out))
    }) ++ Seq(
      "writeImageDedupState labels", "writeImageDedupState labels dir",
      "writeImageDedupState bands", "incrementalImageDedup labels",
      "incrementalImageDedup merges", "appendImageDedupState bands",
      "appendImageDedupState labels dir", "incrementalImageDedup after append labels",
      "incrementalImageDedup after append merges").map(n => n -> (() => stateDigests(n)))

  /** Digests recorded on the sources before the dedup paths merged. */
  val recorded: Map[String, String] = Map(
    "imageDupClusters" ->
      "225:b102bb9ed59c424f7a8f9548802a0f2851c4deca63618eedfb3dcbb6fba2026d",
    "imageDupClustersPhased._1" ->
      "225:b102bb9ed59c424f7a8f9548802a0f2851c4deca63618eedfb3dcbb6fba2026d",
    "imageDupLabelsNid" ->
      "225:72103c22be764c93380f249e39db0f8503ee46a2814572bef8f7cfef2d62e14d",
    "dupEdges" ->
      "889:ecee8174c0946d092856ed086a846e9d1bf2a8adf4b31d680e9dafa308a0546b",
    "ImageCuration.run" ->
      "ImageCurationCounts(225,225,225,225,71):71:67afcd5706b96a606ecb2e21a4821c2cf3a0327b79e12a51bbb15d2184257907",
    "writeImageDedupState labels" ->
      "120:3624c65cff70f82ff494ebd47b12357136cd7d58751ffd602ff0c9e28b823cdc",
    "writeImageDedupState labels dir" ->
      "120:3624c65cff70f82ff494ebd47b12357136cd7d58751ffd602ff0c9e28b823cdc",
    "writeImageDedupState bands" ->
      "678:c66dd1c076f384a9d71e24ab1ccd6066fd6849e7f85db12f36b8e0269e1328a1",
    "incrementalImageDedup labels" ->
      "96:fcb9dcfcb405818c44e22dbc5f2089ca82979ab42feff06aca6f2098323a4d8d",
    "incrementalImageDedup merges" ->
      "1:138052ca323fe9e3f5dd5d5e76e1755e23b207aacb66744490d9c5c766cebe38",
    "appendImageDedupState bands" ->
      "1236:25c3c2c3e56829e375222b24157e97c44001b2709d7b00b4360412bc69ce9b58",
    "appendImageDedupState labels dir" ->
      "216:8862205a3aba54261269647589dafbddf7b5fa1c43cb8e6ed3692bd187a5f37d",
    "incrementalImageDedup after append labels" ->
      "9:0353a24752c15db3d6a6f424c873203899b3582d3bf9050989063437073f18fd",
    "incrementalImageDedup after append merges" ->
      "0:e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")

  for ((name, run) <- cases) {
    test(s"dedup pin: $name") {
      val got = run()
      info(s"$name -> $got")
      assert(recorded.get(name).contains(got), s"digest for '$name' is $got")
    }
  }

  test("pin corpus: the planted structure is really there") {
    def h(r: ImageRow) = Media.dhash64(Media.decode(r.image_id, r.bytes, r.w, r.h, r.fmt))
    val all = batchA ++ batchB ++ batchC
    val byId = all.map(r => r.image_id -> h(r)).toMap
    // designed hashes decode to exactly the planted value, at 9x8 and 18x16
    hashRows.foreach { case (r, want) => assert(h(r) == want, r.image_id) }
    assert(byId("pa_big") == byId("pa"))
    // > 64 distinct hashes share band (0,1)'s key: a hot level-1 bucket
    val band01 = byId.values.toSeq.distinct.count(x => (x & 0xFFFFFFFFL) == 0L)
    assert(band01 > 64, s"band (0,1) bucket holds only $band01 distinct hashes")
    // the bridge is Hamming-2 from both A targets, which are 4 apart
    assert(java.lang.Long.bitCount(byId("bridge") ^ byId("bx")) == 2)
    assert(java.lang.Long.bitCount(byId("bridge") ^ byId("by")) == 2)
    assert(java.lang.Long.bitCount(byId("bx") ^ byId("by")) == 4)
  }
}

object DedupPinSpec {
  def rowString(r: Row): String = r.toSeq.map {
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case null => "null"
    case v => v.toString
  }.mkString("|")

  /** A raw gray raster whose dhash64 is exactly `h`: at 9x8 each pixel
    * is one dHash grid cell (at 18x16 each 2x2 block is), and within a
    * grid row each set bit steps the luma down by 10, each clear bit up
    * by 10 from 128 (the range stays inside 48..208). */
  def hashImage(id: String, h: Long, scale: Int = 1): ImageRow = {
    val w = 9 * scale; val ht = 8 * scale
    val grid = Array.ofDim[Int](8, 9)
    for (gy <- 0 until 8) {
      grid(gy)(0) = 128
      for (gx <- 0 until 8)
        grid(gy)(gx + 1) = grid(gy)(gx) + (if (((h >>> (gy * 8 + gx)) & 1L) != 0) -10 else 10)
    }
    val rgb = new Array[Byte](w * ht * 3)
    for (y <- 0 until ht; x <- 0 until w; c <- 0 until 3)
      rgb((y * w + x) * 3 + c) = grid(y / scale)(x / scale).toByte
    ImageRow(id, rgb, w, ht, "raw", "", 0L)
  }

  def reencode(r: ImageRow, tag: String): ImageRow = {
    val img = Media.decode(r.image_id, r.bytes, r.w, r.h, r.fmt)
    r.copy(image_id = r.image_id + tag, bytes = Media.reencodePng(img), fmt = "png")
  }

  val originals: IndexedSeq[ImageRow] = (0L until 66L).map(i => ImageTable.row(5L, i))

  // hot level-1 bucket: quarters 0, 1 and 3 shared, Hamming-2 pair
  // (pa, pb) inside quarter 2; fillers also chain at Hamming 2
  private val q3 = 0xABCDL << 48
  val hot: IndexedSeq[(String, Long)] =
    (10 to 77).map(i => (f"f$i%03d", q3 | ((i.toLong * 0x0101L) << 32)))
  // doubly-hot: the low byte of quarter 2 shared as well, so the pair
  // (ha, hb) only meets at the terminal level
  private val q3b = 0x1234L << 48
  val doublyHot: IndexedSeq[(String, Long)] =
    (1 to 68).map(i => (f"g$i%03d", q3b | ((i.toLong << 8) << 32)))
  private val bx = 0x0F0F00F0L << 24
  val planted: Seq[(String, Long)] = Seq(
    "pa" -> (q3 | (0xFF00L << 32)), "pb" -> (q3 | (0xFC00L << 32)),
    "ha" -> (q3b | (0xFF00L << 32)), "hb" -> (q3b | (0xFC00L << 32)),
    "near0" -> 0x5A5A5A5A12345678L, "near1" -> (0x5A5A5A5A12345678L ^ 1L),
    "near2" -> (0x5A5A5A5A12345678L ^ 1L ^ (1L << 40)),
    "bx" -> bx, "by" -> (bx ^ 0xF0000L), "bridge" -> (bx ^ 0x30000L))

  lazy val hashRows: Seq[(ImageRow, Long)] =
    (hot ++ doublyHot ++ planted).map { case (id, h) => hashImage(id, h) -> h } ++
      Seq(hashImage("pa_big", planted.head._2, scale = 2) -> planted.head._2)
  private def hr(id: String): ImageRow = hashRows.find(_._1.image_id == id).get._1

  /** State batch: originals 0-39, six byte copies of original 3, a
    * re-encode of original 0, the hot bucket with pa, near0/near1, and
    * the two clusters the bridge will merge. */
  lazy val batchA: Seq[ImageRow] =
    originals.take(40) ++
      (0 until 6).map(k => originals(3).copy(image_id = s"o3_copy$k")) ++
      Seq(reencode(originals(0), "_re")) ++
      hot.map(p => hr(p._1)) ++ Seq("pa", "near0", "near1", "bx", "by").map(hr)

  /** Incremental batch: originals 40-59, boundary copies (re-encode of
    * an A original, a 2x copy of pa, pb across the hot bucket, near2),
    * a B-internal copy, the doubly-hot set and the merging bridge. */
  lazy val batchB: Seq[ImageRow] =
    originals.slice(40, 60) ++
      Seq(reencode(originals(7), "_re"), originals(45).copy(image_id = "o45_copy")) ++
      doublyHot.map(p => hr(p._1)) ++
      Seq("pa_big", "pb", "ha", "hb", "near2", "bridge").map(hr)

  /** Later batch: fresh originals plus copies only B's append can resolve. */
  lazy val batchC: Seq[ImageRow] =
    originals.drop(60) ++
      Seq(reencode(originals(45), "_rc"), hr("hb").copy(image_id = "hb_copy"),
        originals(3).copy(image_id = "o3_copy_c"))
}
