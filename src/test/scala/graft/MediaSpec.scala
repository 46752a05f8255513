package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Mvt, Png}
import graft.media.Media
import graft.tables.ImageTable

/** Payload-invariant tests (input_hint): decoded pixels survive the full
  * pipeline (PSNR check, exact here since all formats are lossless);
  * captions survive byte-equal. Plus MVT encoder roundtrip. */
class MediaSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("image payload + caption survive geotag -> snapshot -> read-back unchanged") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("imgsnap").toString
    val geo = ImageTable.generateGeo(spark, 500)
    graft.ops.Snapshots.commit(root, geo.toDF()
      .repartitionByRange(4, col("cell")).sortWithinPartitions(col("cell")))
    val back = graft.ops.Snapshots.read(spark, root)
      .select("image_id", "bytes", "w", "h", "fmt", "caption")
      .as[(String, Array[Byte], Int, Int, String, String)]
      .collect().map(r => r._1 -> r).toMap

    (0L until 500L).foreach { i =>
      val orig = ImageTable.row(42L, i)
      val r = back(orig.image_id)
      assert(r._6 == orig.caption, s"caption mismatch for ${orig.image_id}")
      // decoded-pixel comparison (PSNR; infinite here because lossless)
      val origPix = Media.decode(orig.image_id, orig.bytes, orig.w, orig.h, orig.fmt)
      val backPix = Media.decode(r._1, r._2, r._3, r._4, r._5)
      assert(origPix.w == backPix.w && origPix.h == backPix.h)
      assert(Png.psnr(origPix.rgb, backPix.rgb) >= 40.0)
      assert(java.util.Arrays.equals(origPix.rgb, backPix.rgb))
    }
  }

  test("feature extraction + thumbnails run distributed with correct shapes") {
    import spark.implicits._
    val imgs = ImageTable.generate(spark, 200).toDF()
    val feats = Media.extractFeatures(imgs).collect()
    assert(feats.length == 200)
    assert(feats.forall(f => f.luma_hist.sum == f.w.toLong * f.h))
    assert(feats.forall(f => f.mean_r >= 0 && f.mean_r <= 255))

    val thumbs = Media.thumbnails(imgs, 4, 4)
    val t = thumbs.as[(String, Array[Byte], Int, Int, String)].collect()
    assert(t.length == 200)
    t.foreach { case (id, bytes, w, h, fmt) =>
      assert(w == 4 && h == 4 && fmt == "png")
      val d = Media.decode(id, bytes, w, h, fmt)
      assert(d.rgb.length == 4 * 4 * 3)
    }
  }

  test("real JPEG decode via JDK ImageIO (distributed feature extraction)") {
    import spark.implicits._
    // author real JPEGs with the JDK encoder: solid-color images whose
    // channel means survive lossy compression within a few counts
    def jpegBytes(r: Int, g: Int, b: Int, w: Int, h: Int): Array[Byte] = {
      val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val px = (r << 16) | (g << 8) | b
      for (y <- 0 until h; x <- 0 until w) bi.setRGB(x, y, px)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "jpeg", bos)
      bos.toByteArray
    }
    val rows = Seq(
      ("j1", jpegBytes(200, 40, 90, 32, 24), 32, 24, "jpeg"),
      ("j2", jpegBytes(10, 180, 250, 48, 48), 48, 48, "jpeg"))
    val df = rows.toDF("image_id", "bytes", "w", "h", "fmt")
    val feats = graft.media.Media.extractFeatures(df).collect().sortBy(_.image_id)
    assert(feats.map(f => (f.w, f.h)).toSeq == Seq((32, 24), (48, 48)))
    val j1 = feats(0); val j2 = feats(1)
    assert(math.abs(j1.mean_r - 200) < 8 && math.abs(j1.mean_g - 40) < 8 && math.abs(j1.mean_b - 90) < 8,
      s"j1 means ${(j1.mean_r, j1.mean_g, j1.mean_b)}")
    assert(math.abs(j2.mean_r - 10) < 8 && math.abs(j2.mean_g - 180) < 8 && math.abs(j2.mean_b - 250) < 8,
      s"j2 means ${(j2.mean_r, j2.mean_g, j2.mean_b)}")
    // corrupt jpeg payload falls back to the deterministic stub
    val bad = graft.media.Media.decode("x", Array[Byte](1, 2, 3), 4, 4, "jpeg")
    assert(bad.w == 4 && bad.h == 4 && bad.rgb.length == 48)
  }

  test("real WAV PCM16 decode: sine wave features recovered exactly") {
    // author a real RIFF/WAVE via the JDK sound API, decode with ours
    val sr = 8000; val n = 4000; val freq = 440.0
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val v = (math.sin(2 * math.Pi * freq * i / sr) * 30000).toShort
      pcm(2 * i) = (v & 0xFF).toByte; pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val dec = graft.media.Media.decodeAudio("w1", wav, 0, 0) // params ignored for real wav
    assert(dec.sampleRate == sr && dec.samples.length == n)
    val f = graft.media.Media.audioFeatures(dec)
    // sine RMS = amplitude/sqrt(2); zero crossings = 2*freq*duration
    assert(math.abs(f.rms - 30000.0 / 32768 / math.sqrt(2)) < 0.01, s"rms=${f.rms}")
    assert(math.abs(f.zeroCrossings - 2 * freq * n / sr) <= 2, s"zc=${f.zeroCrossings}")
    assert(math.abs(f.durSec - 0.5) < 1e-9)
  }

  test("unknown formats route through ImageIO service discovery before the stub") {
    // BMP bytes mislabeled as an unregistered format: decode never
    // consults the format string — the ImageIO SPI sniffs the bytes —
    // so a codec jar dropped on the classpath (e.g. webp) starts
    // decoding with no code change
    val bi = new java.awt.image.BufferedImage(6, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 6) bi.setRGB(x, y, 0x30C090)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "bmp", bos)
    val bytes = bos.toByteArray
    val viaWebp = Media.decode("u1", bytes, 6, 5, "webp")
    val viaBmp = Media.decode("u1", bytes, 6, 5, "bmp")
    assert(viaWebp.w == 6 && viaWebp.h == 5)
    assert(java.util.Arrays.equals(viaWebp.rgb, viaBmp.rgb))
    assert((viaWebp.rgb(0) & 0xFF) == 0x30 && (viaWebp.rgb(1) & 0xFF) == 0xC0)
    // truly unreadable bytes still fall to the deterministic stub
    val stub = Media.decode("u2", Array[Byte](9, 9, 9), 4, 4, "webp")
    assert(stub.rgb.length == 48)
  }

  test("stubbed decode for unavailable codecs is deterministic") {
    val a = Media.decode("x", Array[Byte](1, 2, 3), 8, 8, "jpeg")
    val b = Media.decode("x", Array[Byte](1, 2, 3), 8, 8, "jpeg")
    assert(java.util.Arrays.equals(a.rgb, b.rgb))
    assert(a.rgb.length == 8 * 8 * 3)
  }

  test("dhash64: format-invariant, perturbation-local, discriminative") {
    val a = ImageTable.row(42L, 0L) // fmt raw
    val rawImg = Media.decode(a.image_id, a.bytes, a.w, a.h, a.fmt)
    // re-encode the same pixels as PNG: dhash must be identical
    val pngImg = Media.decode(a.image_id, Media.reencodePng(rawImg), a.w, a.h, "png")
    assert(Media.dhash64(rawImg) == Media.dhash64(pngImg), "dhash not format-invariant")

    // perturb one pixel slightly: few bits move
    val pert = rawImg.rgb.clone()
    pert(0) = ((pert(0) & 0xFF) ^ 0x08).toByte
    val hPert = Media.dhash64(graft.media.DecodedImage(a.image_id, a.w, a.h, pert))
    assert(java.lang.Long.bitCount(Media.dhash64(rawImg) ^ hPert) <= 4, "perturbation not local")

    // different images: far apart (deterministic seeds)
    val dists = (1L to 20L).map { i =>
      val b = ImageTable.row(42L, i)
      val img = Media.decode(b.image_id, b.bytes, b.w, b.h, b.fmt)
      java.lang.Long.bitCount(Media.dhash64(rawImg) ^ Media.dhash64(img))
    }
    assert(dists.forall(_ > 10), s"independent images too close: $dists")
  }

  test("image near-dup pipeline: banded pairs + clusters find re-encoded copies") {
    import spark.implicits._
    val originals = (0L until 40L).map(i => ImageTable.row(42L, i))
    // three re-encoded duplicates (same pixels, different format+id)
    val dups = Seq(0L, 7L, 21L).map { i =>
      val o = originals(i.toInt)
      val img = Media.decode(o.image_id, o.bytes, o.w, o.h, o.fmt)
      o.copy(image_id = o.image_id + "_re", bytes = Media.reencodePng(img), fmt = "png")
    }
    val df = spark.createDataset(originals ++ dups).toDF()
    val pairs = Media.imageNearDupPairs(Media.dhashes(df), maxHamming = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    Seq(0L, 7L, 21L).foreach { i =>
      val id = originals(i.toInt).image_id
      assert(pairs.contains((id, s"${id}_re")) || pairs.contains((s"${id}_re", id)),
        s"missing dup pair for $id in $pairs")
    }
    val clusters = Media.imageDupClusters(df, maxHamming = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters.size == 43)
    Seq(0L, 7L, 21L).foreach { i =>
      val id = originals(i.toInt).image_id
      assert(clusters(id) == clusters(s"${id}_re"), s"dup $id not co-clustered")
    }
    // keep-one: every cluster rep is a member of its own cluster
    assert(clusters.values.toSet.subsetOf(clusters.keySet))
  }

  test("image dedup: a mega-cluster of identical images collapses via the exact pregroup") {
    import spark.implicits._
    val base = ImageTable.row(42L, 5L)
    val copies = (0 until 200).map(i => base.copy(image_id = f"copy$i%04d"))
    val distinct = (10L until 20L).map(i => ImageTable.row(42L, i))
    val df = spark.createDataset(copies ++ distinct).toDF()
    val clusters = Media.imageDupClusters(df, maxHamming = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters.size == 210)
    val copyReps = copies.map(c => clusters(c.image_id)).toSet
    assert(copyReps.size == 1, s"identical images split into ${copyReps.size} clusters")
    assert(distinct.map(d => clusters(d.image_id)).toSet.size == 10)
  }

  /** Brute-force Hamming<=2 truth over a hash set, for exact-set asserts. */
  private def brutePairs(hs: Seq[(String, Long)]): Set[(String, String)] =
    (for {
      a <- hs; b <- hs
      if a._1 < b._1 && java.lang.Long.bitCount(a._2 ^ b._2) <= 2
    } yield (a._1, b._1)).toSet

  private def foundPairs(hs: Seq[(String, Long)]): Set[(String, String)] = {
    import spark.implicits._
    Media.imageNearDupPairs(hs.toDF("image_id", "dhash"), maxHamming = 2)
      .collect().map { r =>
        val (a, b) = (r.getString(0), r.getString(1))
        if (a < b) (a, b) else (b, a)
      }.toSet
  }

  test("hot band bucket: true pair recovered via sub-banding (was dropped by star-pair cap)") {
    // 70 distinct hashes all sharing quarters 0, 1 and 3 — every band
    // not involving quarter 2 is a >cap hot bucket, and the planted
    // Hamming-2 pair differs only inside quarter 2, so no small bucket
    // ever holds both members. The old star-pair escape linked members
    // to the bucket min and Hamming-filtered those links away, silently
    // dropping this pair; recursive sub-banding must find it.
    val q3 = 0xABCDL << 48
    val fillers = (10 to 77).map(i => (f"f$i%03d", q3 | ((i.toLong * 0x0101L) << 32)))
    val planted = Seq(("pa", q3 | (0xFF00L << 32)), ("pb", q3 | (0xFC00L << 32)))
    val hs = fillers ++ planted
    assert(java.lang.Long.bitCount(hs.head._2 ^ planted.head._2) > 2) // truly hot, not chained
    val got = foundPairs(hs)
    assert(got.contains(("pa", "pb")), s"planted hot-bucket pair missing from $got")
    assert(got == brutePairs(hs), "banded pairs != brute-force Hamming<=2 truth")
  }

  test("doubly-hot buckets recurse to the terminal level and still find the pair") {
    // all members also share the low byte of quarter 2: every level-2
    // sub-bucket that can hold the pair is hot too, forcing the
    // terminal (56-bits-fixed) all-pairs level
    val q3 = 0x1234L << 48
    val fillers = (1 to 68).map(i => (f"g$i%03d", q3 | ((i.toLong << 8) << 32)))
    val planted = Seq(("ha", q3 | (0xFF00L << 32)), ("hb", q3 | (0xFC00L << 32)))
    val hs = fillers ++ planted
    val got = foundPairs(hs)
    assert(got.contains(("ha", "hb")), s"planted terminal-level pair missing from $got")
    assert(got == brutePairs(hs), "banded pairs != brute-force Hamming<=2 truth")
  }

  test("incremental image dedup against persisted state equals the full-batch partition") {
    import spark.implicits._
    val originals = (0L until 60L).map(i => ImageTable.row(77L, i))
    def re(i: Int, tag: String) = {
      val o = originals(i)
      val img = Media.decode(o.image_id, o.bytes, o.w, o.h, o.fmt)
      o.copy(image_id = o.image_id + tag, bytes = Media.reencodePng(img), fmt = "png")
    }
    // A: first 40 originals + an A-internal dup. B: the rest + a
    // BOUNDARY dup (copy of an A original) + a B-internal dup.
    val aRows = originals.take(40) ++ Seq(re(3, "_ra"))
    val bRows = originals.drop(40) ++ Seq(re(5, "_rb"), re(45, "_rbb"))
    val dir = java.nio.file.Files.createTempDirectory("dedupstate").toString
    val aLabels = Media.writeImageDedupState(
      spark.createDataset(aRows).toDF(), dir, "dedup_state_bands", buckets = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (bl, mg) = Media.incrementalImageDedup(
      spark.createDataset(bRows).toDF(), "dedup_state_bands")
    val bLabels = bl.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val merges = mg.collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // sticky semantics: the boundary dup adopts A's existing label
    val a5 = originals(5).image_id
    assert(bLabels(a5 + "_rb") == aLabels(a5),
      s"boundary dup got ${bLabels(a5 + "_rb")}, old cluster rep is ${aLabels(a5)}")
    // B-internal dup co-labels with its B source
    assert(bLabels(originals(45).image_id + "_rbb") == bLabels(originals(45).image_id))

    // partition equivalence vs clustering A+B in one batch (rep CHOICE
    // may differ — sticky reps are A's — the induced partition may not)
    val full = Media.imageDupClusters(spark.createDataset(aRows ++ bRows).toDF())
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def partition(m: Map[String, String]): Set[Set[String]] =
      m.groupBy(_._2).values.map(_.keySet.toSet).toSet
    val aFinal = aLabels.map { case (id, rep) => id -> merges.getOrElse(rep, rep) }
    assert(partition(aFinal ++ bLabels) == partition(full),
      "incremental partition differs from full-batch clustering")
  }

  test("dedup state append: later batches see earlier batches; re-seen hashes don't bloat the index") {
    import spark.implicits._
    val originals = (0L until 70L).map(i => ImageTable.row(88L, i))
    def re(i: Int, tag: String) = {
      val o = originals(i)
      val img = Media.decode(o.image_id, o.bytes, o.w, o.h, o.fmt)
      o.copy(image_id = o.image_id + tag, bytes = Media.reencodePng(img), fmt = "png")
    }
    val aRows = originals.take(40)
    // B: fresh originals + a re-encode of an A original (hash already indexed)
    val bRows = originals.slice(40, 60) ++ Seq(re(3, "_rb"))
    // C: fresh originals + a re-encode of a B-ONLY original — resolvable
    // only if B's append folded its hashes into the state
    val cRows = originals.drop(60) ++ Seq(re(45, "_rc"))
    val dir = java.nio.file.Files.createTempDirectory("dedupappend").toString
    val tbl = "dedup_append_bands"
    Media.writeImageDedupState(spark.createDataset(aRows).toDF(), dir, tbl, buckets = 4)
    val (bl, _) = Media.incrementalImageDedup(spark.createDataset(bRows).toDF(), tbl)
    val blM = bl.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    Media.appendImageDedupState(spark.createDataset(bRows).toDF(), bl, tbl, dir, buckets = 4)
    val (cl, _) = Media.incrementalImageDedup(spark.createDataset(cRows).toDF(), tbl)
    val clM = cl.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val b45 = originals(45).image_id
    assert(clM(b45 + "_rc") == blM(b45),
      s"C's dup of a B image got ${clM(b45 + "_rc")}, B labeled it ${blM(b45)}")
    // idempotent fold: original 3's hash was in A's state; B's re-encode
    // of it must NOT append duplicate band rows
    val h3 = Media.dhash64(Media.decode(originals(3).image_id, originals(3).bytes,
      originals(3).w, originals(3).h, originals(3).fmt))
    val rows3 = spark.table(tbl).filter(col("dhash") === h3).count()
    assert(rows3 == 6, s"re-seen hash has $rows3 band rows (expected 6)")
    // B's fresh hashes DID land: one of B's originals has 6 rows
    val h45 = Media.dhash64(Media.decode(b45, originals(45).bytes,
      originals(45).w, originals(45).h, originals(45).fmt))
    assert(spark.table(tbl).filter(col("dhash") === h45).count() == 6)
  }

  test("MVT encode/decode roundtrip: geometry, layers, meta tags") {
    val pts = Seq(
      Mvt.MvtFeature(Array(100), Array(200), 7),
      Mvt.MvtFeature(Array(100), Array(200), 7), // duplicate -> dedup
      Mvt.MvtFeature(Array(4000), Array(50), 3))
    val lns = Seq(
      Mvt.MvtFeature(Array(0, 100, 200), Array(0, 150, 50), 9))
    val tile = Mvt.encode(pts, lns, hasMeta = true)
    val layers = Mvt.decode(tile)
    assert(layers.map(_.name) == Seq("points", "lines"))
    val pl = layers(0)
    assert(pl.extent == 4096)
    assert(pl.features.size == 2) // deduped
    assert(pl.features.map(_._1).toSet == Set(1)) // POINT
    assert(pl.features.map(f => (f._2.head, f._3.get)).toSet ==
      Set(((100L, 200L), 7L), ((4000L, 50L), 3L)))
    val ll = layers(1)
    assert(ll.features.size == 1)
    assert(ll.features.head._1 == 2) // LINESTRING
    assert(ll.features.head._2 == Seq((0L, 0L), (100L, 150L), (200L, 50L)))
    assert(ll.features.head._3.contains(9L))
  }

  test("MJPEG AVI: real frame sampling from a RIFF container") {
    // author a minimal AVI (RIFF/hdrl/movi) whose '00dc' chunks are real
    // JDK-encoded JPEGs of distinct solid colors
    def jpeg(r: Int, g: Int, b: Int): Array[Byte] = {
      val bi = new java.awt.image.BufferedImage(16, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 12; x <- 0 until 16) bi.setRGB(x, y, (r << 16) | (g << 8) | b)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "jpeg", bos)
      bos.toByteArray
    }
    def le32(v: Int): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def chunk(tag: String, data: Array[Byte]): Array[Byte] =
      tag.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def list(typ: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("US-ASCII") ++ body)
    val frames = Seq(jpeg(250, 10, 10), jpeg(10, 250, 10), jpeg(10, 10, 250))
    val body = list("hdrl", chunk("avih", new Array[Byte](56))) ++
      list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length + 4) ++
      "AVI ".getBytes("US-ASCII") ++ body

    val got = Media.sampleFrames("v1", avi, 0, 0, nFrames = 0, every = 2)
    assert(got.map(_.image_id) == Seq("v1#f0", "v1#f2"), got.map(_.image_id))
    assert(got.forall(f => f.w == 16 && f.h == 12))
    def mean(img: graft.media.DecodedImage, c: Int): Double =
      img.rgb.indices.collect { case i if i % 3 == c => img.rgb(i) & 0xFF }.sum /
        (img.w * img.h).toDouble
    assert(mean(got(0), 0) > 200 && mean(got(0), 1) < 60, "frame 0 not red")
    assert(mean(got(1), 2) > 200 && mean(got(1), 0) < 60, "frame 2 not blue")
    // non-AVI payloads keep the deterministic stub shape
    val stub = Media.sampleFrames("v2", Array[Byte](1, 2, 3), 8, 8, nFrames = 4, every = 2)
    assert(stub.map(_.image_id) == Seq("v2#f0", "v2#f2") && stub.forall(_.rgb.length == 192))
    // a corrupt chunk length (claims 4 GiB) must terminate the walk —
    // no decodable frames, so the caller falls through to the stub
    val bad = "RIFF".getBytes("US-ASCII") ++ le32(100) ++ "AVI ".getBytes("US-ASCII") ++
      "00dc".getBytes("US-ASCII") ++ le32(0xFFFFFFF8) ++ new Array[Byte](16)
    val sf = Media.sampleFrames("v3", bad, 4, 4, nFrames = 2, every = 1)
    assert(sf.map(_.image_id) == Seq("v3#f0", "v3#f1") && sf.forall(_.rgb.length == 48))
  }

  test("animated GIF: multi-frame sampling through the JDK reader") {
    import javax.imageio.ImageIO
    def solid(r: Int, g: Int, b: Int): java.awt.image.BufferedImage = {
      val bi = new java.awt.image.BufferedImage(10, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 10) bi.setRGB(x, y, (r << 16) | (g << 8) | b)
      bi
    }
    val bos = new java.io.ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    Seq(solid(240, 20, 20), solid(20, 240, 20), solid(20, 20, 240), solid(240, 240, 20))
      .foreach(bi => writer.writeToSequence(new javax.imageio.IIOImage(bi, null, null), null))
    writer.endWriteSequence(); ios.close(); writer.dispose()

    val got = Media.sampleFrames("g1", bos.toByteArray, 0, 0, nFrames = 0, every = 3)
    assert(got.map(_.image_id) == Seq("g1#f0", "g1#f3"), got.map(_.image_id))
    assert(got.forall(f => f.w == 10 && f.h == 8))
    assert((got(0).rgb(0) & 0xFF) > 200 && (got(0).rgb(1) & 0xFF) < 60, "frame 0 not red")
    assert((got(1).rgb(0) & 0xFF) > 200 && (got(1).rgb(1) & 0xFF) > 200, "frame 3 not yellow")
  }

  test("delta-encoded GIF: sub-rectangle frames composite on the logical screen") {
    import javax.imageio.{ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    def solid(w: Int, h: Int, rgb: Int): java.awt.image.BufferedImage = {
      val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) bi.setRGB(x, y, rgb)
      bi
    }
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    // stream metadata pins the 20x16 LOGICAL SCREEN (bigger than frame 0)
    val smeta = writer.getDefaultStreamMetadata(null)
    val sfmt = "javax_imageio_gif_stream_1.0"
    val sroot = smeta.getAsTree(sfmt).asInstanceOf[IIOMetadataNode]
    val lsd = {
      val kids = sroot.getChildNodes
      (0 until kids.getLength).map(kids.item).find(_.getNodeName == "LogicalScreenDescriptor")
        .map(_.asInstanceOf[IIOMetadataNode]).getOrElse {
          val n = new IIOMetadataNode("LogicalScreenDescriptor"); sroot.appendChild(n); n
        }
    }
    lsd.setAttribute("logicalScreenWidth", "20")
    lsd.setAttribute("logicalScreenHeight", "16")
    lsd.setAttribute("colorResolution", "7")
    lsd.setAttribute("pixelAspectRatio", "0")
    smeta.setFromTree(sfmt, sroot)
    def frameMeta(img: java.awt.image.BufferedImage, x: Int, y: Int) = {
      val m = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), null)
      val fmt = "javax_imageio_gif_image_1.0"
      val root = m.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      val kids = root.getChildNodes
      val desc = (0 until kids.getLength).map(kids.item)
        .find(_.getNodeName == "ImageDescriptor").get.asInstanceOf[IIOMetadataNode]
      desc.setAttribute("imageLeftPosition", x.toString)
      desc.setAttribute("imageTopPosition", y.toString)
      m.setFromTree(fmt, root)
      m
    }
    writer.prepareWriteSequence(smeta)
    // frame 0 is a small 6x5 patch at (10, 8): frame-0-sized canvases
    // (the old bug) would clip the full-screen frame 1 to 16x13
    val f0 = solid(6, 5, 0x20C020)
    val f1 = solid(20, 16, 0xC02020)
    writer.writeToSequence(new javax.imageio.IIOImage(f0, null, frameMeta(f0, 10, 8)), null)
    writer.writeToSequence(new javax.imageio.IIOImage(f1, null, frameMeta(f1, 0, 0)), null)
    writer.endWriteSequence(); ios.close(); writer.dispose()

    val got = Media.sampleFrames("gd", bos.toByteArray, 0, 0, nFrames = 0, every = 1)
    assert(got.map(_.image_id) == Seq("gd#f0", "gd#f1"))
    assert(got.forall(f => f.w == 20 && f.h == 16),
      s"canvas not logical-screen-sized: ${got.map(f => (f.w, f.h))}")
    // frame 0 composite: green patch at (10,8), background untouched
    def px(img: graft.media.DecodedImage, x: Int, y: Int): (Int, Int, Int) = {
      val o = (y * img.w + x) * 3
      ((img.rgb(o) & 0xFF), (img.rgb(o + 1) & 0xFF), (img.rgb(o + 2) & 0xFF))
    }
    assert(px(got(0), 12, 10)._2 > 150, "patch pixel not green")
    assert(px(got(0), 0, 0)._2 < 60, "background unexpectedly painted")
    // frame 1 composite: full red screen, including the far corner the
    // old frame-0-sized canvas would have clipped
    assert(px(got(1), 19, 15)._1 > 150, "corner pixel clipped — canvas not logical screen")
  }

  test("adversarial AVI: 100k nested LISTs walk iteratively (no stack overflow)") {
    // pure nesting: each 12-byte level is LIST + len + type, innermost
    // holds only its type. A recursive walk overflows the JVM stack
    // around ~10k frames; the iterative walk must degrade to the stub.
    val n = 100000
    val total = 12 * n
    val body = new Array[Byte](total)
    def le32At(a: Array[Byte], o: Int, v: Int): Unit = {
      a(o) = (v & 0xFF).toByte; a(o + 1) = ((v >> 8) & 0xFF).toByte
      a(o + 2) = ((v >> 16) & 0xFF).toByte; a(o + 3) = ((v >> 24) & 0xFF).toByte
    }
    for (i <- 0 until n) {
      val o = 12 * i
      System.arraycopy("LIST".getBytes("US-ASCII"), 0, body, o, 4)
      le32At(body, o + 4, total - o - 8) // payload = type + everything nested
      System.arraycopy("mv  ".getBytes("US-ASCII"), 0, body, o + 8, 4)
    }
    val avi = "RIFF".getBytes("US-ASCII") ++
      Array((total + 4 & 0xFF).toByte, ((total + 4 >> 8) & 0xFF).toByte,
        ((total + 4 >> 16) & 0xFF).toByte, ((total + 4 >> 24) & 0xFF).toByte) ++
      "AVI ".getBytes("US-ASCII") ++ body
    val got = Media.sampleFrames("deep", avi, 4, 4, nFrames = 2, every = 1)
    assert(got.map(_.image_id) == Seq("deep#f0", "deep#f1") && got.forall(_.rgb.length == 48),
      "nested-LIST AVI did not degrade to the stub")
  }

  test("GIF disposal: restoreToBackgroundColor clears the frame rect; decompression bomb stubs") {
    import javax.imageio.{ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    def solid(w: Int, h: Int, rgb: Int): java.awt.image.BufferedImage = {
      val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) bi.setRGB(x, y, rgb)
      bi
    }
    def writeGif(frames: Seq[(java.awt.image.BufferedImage, Int, Int, String)],
                 screen: Option[(Int, Int)]): Array[Byte] = {
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val smeta = screen.map { case (sw, sh) =>
        val m = writer.getDefaultStreamMetadata(null)
        val sfmt = "javax_imageio_gif_stream_1.0"
        val root = m.getAsTree(sfmt).asInstanceOf[IIOMetadataNode]
        val kids = root.getChildNodes
        val lsd = (0 until kids.getLength).map(kids.item)
          .find(_.getNodeName == "LogicalScreenDescriptor")
          .map(_.asInstanceOf[IIOMetadataNode]).getOrElse {
            val nn = new IIOMetadataNode("LogicalScreenDescriptor"); root.appendChild(nn); nn
          }
        lsd.setAttribute("logicalScreenWidth", sw.toString)
        lsd.setAttribute("logicalScreenHeight", sh.toString)
        lsd.setAttribute("colorResolution", "7")
        lsd.setAttribute("pixelAspectRatio", "0")
        m.setFromTree(sfmt, root)
        m
      }.orNull
      writer.prepareWriteSequence(smeta)
      frames.foreach { case (img, x, y, disposal) =>
        val m = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), null)
        val fmt = "javax_imageio_gif_image_1.0"
        val root = m.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        val kids = root.getChildNodes
        val desc = (0 until kids.getLength).map(kids.item)
          .find(_.getNodeName == "ImageDescriptor").get.asInstanceOf[IIOMetadataNode]
        desc.setAttribute("imageLeftPosition", x.toString)
        desc.setAttribute("imageTopPosition", y.toString)
        val gce = (0 until kids.getLength).map(kids.item)
          .find(_.getNodeName == "GraphicControlExtension")
          .map(_.asInstanceOf[IIOMetadataNode]).getOrElse {
            val nn = new IIOMetadataNode("GraphicControlExtension"); root.appendChild(nn); nn
          }
        gce.setAttribute("disposalMethod", disposal)
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", "10")
        gce.setAttribute("transparentColorIndex", "0")
        m.setFromTree(fmt, root)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, m), null)
      }
      writer.endWriteSequence(); ios.close(); writer.dispose()
      bos.toByteArray
    }
    // frame 0: full green, disposal restoreToBackgroundColor; frame 1:
    // 4x4 red patch. A do-not-dispose-only compositor keeps the green
    // under frame 1; a compliant one clears it first.
    val gif = writeGif(Seq(
      (solid(10, 8, 0x20C020), 0, 0, "restoreToBackgroundColor"),
      (solid(4, 4, 0xC02020), 0, 0, "doNotDispose")), None)
    val got = Media.sampleFrames("disp", gif, 0, 0, nFrames = 0, every = 1)
    assert(got.length == 2)
    def px(img: graft.media.DecodedImage, x: Int, y: Int): (Int, Int, Int) = {
      val o = (y * img.w + x) * 3
      ((img.rgb(o) & 0xFF), (img.rgb(o + 1) & 0xFF), (img.rgb(o + 2) & 0xFF))
    }
    assert(px(got(0), 8, 6)._2 > 150, "frame 0 not green")
    assert(px(got(1), 1, 1)._1 > 150, "frame 1 patch not red")
    assert(px(got(1), 8, 6)._2 < 60,
      s"frame 0's pixels survived its restoreToBackgroundColor disposal: ${px(got(1), 8, 6)}")

    // decompression bomb: a ~200-byte GIF declaring a 50000x50000
    // logical screen must stub, not allocate a 7.5 GB canvas
    val bomb = writeGif(Seq((solid(2, 2, 0x112233), 0, 0, "none")), Some((50000, 50000)))
    val stub = Media.sampleFrames("bomb", bomb, 4, 4, nFrames = 2, every = 1)
    assert(stub.map(_.image_id) == Seq("bomb#f0", "bomb#f1") && stub.forall(_.rgb.length == 48),
      "oversized logical screen did not degrade to the stub")

    // FRAME-descriptor bomb: patch the 2x2 frame's ImageDescriptor to
    // claim 50000x50000 (the canvas cap alone would miss this — the
    // allocation happens inside reader.read). Descriptor layout:
    // 0x2C left(2) top(2) w(2) h(2); patch w/h little-endian.
    val plain = writeGif(Seq((solid(2, 2, 0x112233), 0, 0, "none")), None)
    val pat = Array[Byte](0x2C, 0, 0, 0, 0, 2, 0, 2, 0)
    val at = plain.indices.find(i => i + pat.length <= plain.length &&
      pat.indices.forall(j => plain(i + j) == pat(j))).get
    val fbomb = plain.clone()
    fbomb(at + 5) = 0x50.toByte; fbomb(at + 6) = 0xC3.toByte // w = 50000
    fbomb(at + 7) = 0x50.toByte; fbomb(at + 8) = 0xC3.toByte // h = 50000
    val stub2 = Media.sampleFrames("fbomb", fbomb, 4, 4, nFrames = 2, every = 1)
    assert(stub2.map(_.image_id) == Seq("fbomb#f0", "fbomb#f1") && stub2.forall(_.rgb.length == 48),
      "oversized frame descriptor did not degrade to the stub")
  }

  test("dedup state append: single-writer lease rejects concurrent writers, steals stale ones") {
    import spark.implicits._
    val originals = (0L until 20L).map(i => ImageTable.row(77L, i))
    val dir = java.nio.file.Files.createTempDirectory("dedup_lease").toString + "/state"
    val tbl = "dedup_lease_bands"
    Media.writeImageDedupState(spark.createDataset(originals.take(10)).toDF(), dir, tbl, buckets = 4)
    val bRows = originals.drop(10)
    val (bl, _) = Media.incrementalImageDedup(spark.createDataset(bRows).toDF(), tbl)
    val blC = bl.localCheckpoint(true)
    // a FRESH lease held by "another writer" must reject the append
    val lease = java.nio.file.Paths.get(dir, ".writer_lease")
    java.nio.file.Files.createFile(lease)
    val ex = intercept[IllegalStateException] {
      Media.appendImageDedupState(spark.createDataset(bRows).toDF(), blC, tbl, dir, buckets = 4)
    }
    assert(ex.getMessage.contains("another writer"), ex.getMessage)
    // a STALE lease (crashed writer, mtime beyond the lease window) is stolen
    java.nio.file.Files.setLastModifiedTime(lease,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000))
    Media.appendImageDedupState(spark.createDataset(bRows).toDF(), blC, tbl, dir, buckets = 4)
    assert(!java.nio.file.Files.exists(lease), "lease not released after append")
    // the append landed (a B hash has its 6 band rows)
    val h = Media.dhash64(Media.decode(bRows.head.image_id, bRows.head.bytes,
      bRows.head.w, bRows.head.h, bRows.head.fmt))
    assert(spark.table(tbl).filter(col("dhash") === h).count() == 6)
  }

  test("audio/video payload plumbing: features + frame sampling") {
    import spark.implicits._
    val audio = (0 until 50).map { i =>
      (s"aud$i", Array.tabulate[Byte](64)(j => ((i * 31 + j) & 0xFF).toByte), 16000, 1600)
    }.toDF("media_id", "bytes", "sample_rate", "n_samples")
    val feats = Media.extractAudioFeatures(audio).collect()
    assert(feats.length == 50)
    assert(feats.forall(f => f.rms > 0 && f.rms < 1.2 && f.durSec == 0.1))
    // deterministic
    val feats2 = Media.extractAudioFeatures(audio).collect()
    assert(feats.map(_.rms).toSeq == feats2.map(_.rms).toSeq)

    val frames = Media.sampleFrames("vid1", Array[Byte](1, 2, 3), 8, 8, nFrames = 30, every = 10)
    assert(frames.map(_.image_id) == Seq("vid1#f0", "vid1#f10", "vid1#f20"))
    assert(frames.forall(_.rgb.length == 8 * 8 * 3))
  }

  test("tileset writer: z/x/y.png layout + metadata.json, ONE render job") {
    import spark.implicits._
    val geo = ImageTable.generateGeo(spark, 1000).toDF().select(col("cell"), col("meta"))
    val tiles = graft.render.Render.renderTiles(Some(geo), None, Seq(15), 48, graft.core.RenderParams())
    val dir = java.nio.file.Files.createTempDirectory("tileset").toString
    // the zoom range for metadata.json must ride along in the write pass
    // (round-1 collected distinct zooms first = a full second render).
    // AQE splits one action into shuffle-stage jobs, so compare against
    // an identical single-action baseline instead of expecting exactly 1.
    def jobsFor(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    val baseline = jobsFor("tileset-baseline") { tiles.count() }
    val writeJobs = jobsFor("tileset-write-test") { graft.sinks.Sinks.writeTileset(tiles, dir, "test") }
    assert(writeJobs <= baseline, s"writeTileset ran $writeJobs jobs vs $baseline for one render action")
    val meta = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "metadata.json"))
    assert(meta.contains("\"minzoom\": 15") && meta.contains("\"format\": \"png\""))
    val z15 = new java.io.File(dir, "15")
    assert(z15.isDirectory && z15.listFiles().nonEmpty)
    val onePng = z15.listFiles().head.listFiles().head
    val (rgba, w, h) = Png.decode(java.nio.file.Files.readAllBytes(onePng.toPath))
    assert(w == 256 && h == 256 && rgba.length == 256 * 256 * 4)
  }

  test("assemble mode stitches a bbox into one image") {
    import spark.implicits._
    val geo = graft.render.Render.withGlobalRank(
      ImageTable.generateGeo(spark, 3000).toDF().select(col("cell"), col("meta")))
    // bbox around the NYC hotspot
    val (rgba, w, h) = graft.sinks.Sinks.assemble(Some(geo), None, 12,
      40.60, -74.15, 40.85, -73.85, 48, graft.core.RenderParams())
    assert(w > 256 && h > 128, s"dims $w x $h")
    assert(rgba.length == w * h * 4)
    val lit = rgba.grouped(4).count(px => px(0) != 0 || px(1) != 0 || px(2) != 0)
    assert(lit > 50, s"only $lit lit pixels")
  }

  test("vector tiles render from the point table") {
    import spark.implicits._
    val geo = ImageTable.generateGeo(spark, 2000).toDF().select(col("cell"), col("meta"))
    val vts = graft.render.Render.renderVectorTiles(
      Some(geo), None, 15, 48, graft.core.RenderParams()).collect()
    assert(vts.nonEmpty)
    val one = vts.head
    val layers = Mvt.decode(one.png)
    assert(layers.nonEmpty && layers.head.features.nonEmpty)
    // every geometry inside (or near) the extent
    layers.foreach(_.features.foreach(_._2.foreach { case (x, y) =>
      assert(x >= -4096 && x <= 8192 && y >= -4096 && y <= 8192)
    }))
  }
}
