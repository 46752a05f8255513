package graft.media

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Png

/** Decoded raster: interleaved RGB bytes + dims. */
case class DecodedImage(image_id: String, w: Int, h: Int, rgb: Array[Byte])

/** Per-image features extracted from pixels. */
case class ImageFeatures(image_id: String, w: Int, h: Int,
                         mean_r: Double, mean_g: Double, mean_b: Double,
                         luma_hist: Array[Long])

/**
 * Multimodal payload operators: image/audio/video ride through the
 * engine as opaque binary columns with typed metadata (w, h, fmt); the
 * pixel work happens in batch-shaped mapPartitions — the Spark-side
 * plumbing (schema, partitioning, batch iteration) is real; only codecs
 * that have no library in this container are STUBBED with deterministic
 * fakes (clearly marked).
 */
object Media {
  /** Decode one payload. Real decoders: "raw" (interleaved RGB), "png"
    * (the engine's own codec), and EVERY other format via JDK ImageIO
    * service discovery (in-memory cache only — the thread-local-reuse
    * PNG hot path stays on our own codec; ImageIO is fine on this
    * colder batch-decode path). The JDK ships jpeg/gif/bmp/wbmp
    * readers, and any codec jar dropped on the classpath (e.g. a webp
    * ImageIO plugin) registers through the same SPI — so new formats
    * start decoding with NO code change here; the format string is
    * never consulted, the reader sniffs the bytes. STUB: payloads no
    * registered reader accepts fall back to a deterministic fake
    * raster from the byte hash so the pipeline shape stays testable
    * (no webp codec ships in this container). */
  def decode(id: String, bytes: Array[Byte], w: Int, h: Int, fmt: String): DecodedImage = fmt match {
    case "raw" =>
      require(bytes.length == w * h * 3, s"raw payload size mismatch for $id")
      DecodedImage(id, w, h, bytes)
    case "png" =>
      val (rgba, dw, dh) = Png.decode(bytes)
      val rgb = new Array[Byte](dw * dh * 3)
      var i = 0; var p = 0
      while (i < dw * dh) {
        rgb(3 * i) = rgba(p); rgb(3 * i + 1) = rgba(p + 1); rgb(3 * i + 2) = rgba(p + 2)
        i += 1; p += 4
      }
      DecodedImage(id, dw, dh, rgb)
    case _ =>
      val bi = imageioRead(bytes)
      if (bi == null) stubDecode(id, bytes, w, h) // no reader / corrupt / bomb payload
      else bufferedToDecoded(id, bi)
  }

  /** Decoded-pixel ceiling for untrusted payloads: a decompression bomb
    * (e.g. a GIF declaring a 65535x65535 logical screen from a few
    * hundred input bytes) would otherwise allocate gigabytes INSIDE the
    * codec. 64 Mpx ≈ 192 MB of RGB — far above any sane training image,
    * far below heap-killing. */
  final val MaxDecodePixels: Long = 64L << 20

  /** ImageIO decode with the header dimensions checked BEFORE pixel
    * allocation (reader.getWidth/Height parse only the header). Catches
    * NonFatal only: an OutOfMemoryError or other VM error must
    * propagate and fail the task rather than be swallowed into a stub
    * decode on a wounded executor. Returns null for unreadable,
    * truncated, or over-cap payloads (callers stub). */
  private def imageioRead(bytes: Array[Byte]): java.awt.image.BufferedImage =
    try {
      javax.imageio.ImageIO.setUseCache(false) // never touch disk
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) null
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val dw = reader.getWidth(0).toLong
            val dh = reader.getHeight(0).toLong
            if (dw <= 0 || dh <= 0 || dw * dh > MaxDecodePixels) null
            else reader.read(0)
          } finally reader.dispose()
        }
      } finally iis.close() // dispose() never closes the reader's input
    } catch { case scala.util.control.NonFatal(_) => null }

  private def bufferedToDecoded(id: String, bi: java.awt.image.BufferedImage): DecodedImage = {
    val dw = bi.getWidth; val dh = bi.getHeight
    val rgb = new Array[Byte](dw * dh * 3)
    val row = new Array[Int](dw)
    var y = 0
    while (y < dh) {
      bi.getRGB(0, y, dw, 1, row, 0, dw)
      var x = 0
      while (x < dw) {
        val px = row(x); val o = (y * dw + x) * 3
        rgb(o) = ((px >> 16) & 0xFF).toByte
        rgb(o + 1) = ((px >> 8) & 0xFF).toByte
        rgb(o + 2) = (px & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    DecodedImage(id, dw, dh, rgb)
  }

  /** Clamp caller-supplied stub dimensions: metadata is as untrusted as
    * payload bytes — w*h*3 can overflow Int (wrapped undersized arrays
    * -> downstream index crashes) or allocate gigabytes past the
    * MaxDecodePixels cap the real decoders enforce. Degenerate or
    * oversized dims degrade to a small deterministic raster. */
  private def clampStubDims(w: Int, h: Int): (Int, Int) = {
    val px = w.toLong * h
    if (w <= 0 || h <= 0 || px > MaxDecodePixels) (8, 8) else (w, h)
  }

  /** STUB decode (no codec for this fmt in-container): deterministic
    * fake pixels from a hash of the payload. */
  private def stubDecode(id: String, bytes: Array[Byte], w0: Int, h0: Int): DecodedImage = {
    val (w, h) = clampStubDims(w0, h0)
    var s = java.util.Arrays.hashCode(bytes).toLong
    val rgb = new Array[Byte](w * h * 3)
    var i = 0
    while (i < rgb.length) {
      s = s * 6364136223846793005L + 1442695040888963407L
      rgb(i) = (s >>> 56).toByte
      i += 1
    }
    DecodedImage(id, w, h, rgb)
  }

  /** Nearest-neighbor resize (real implementation, no codec needed). */
  def resize(img: DecodedImage, newW: Int, newH: Int): DecodedImage = {
    val out = new Array[Byte](newW * newH * 3)
    var y = 0
    while (y < newH) {
      val sy = y.toLong * img.h / newH
      var x = 0
      while (x < newW) {
        val sx = x.toLong * img.w / newW
        val si = ((sy * img.w + sx) * 3).toInt
        val di = (y * newW + x) * 3
        out(di) = img.rgb(si); out(di + 1) = img.rgb(si + 1); out(di + 2) = img.rgb(si + 2)
        x += 1
      }
      y += 1
    }
    DecodedImage(img.image_id, newW, newH, out)
  }

  /** Channel means + 16-bin luma histogram. */
  def features(img: DecodedImage): ImageFeatures = {
    var r = 0L; var g = 0L; var b = 0L
    val hist = new Array[Long](16)
    var i = 0
    val n = img.w * img.h
    while (i < n) {
      val rr = img.rgb(3 * i) & 0xFF
      val gg = img.rgb(3 * i + 1) & 0xFF
      val bb = img.rgb(3 * i + 2) & 0xFF
      r += rr; g += gg; b += bb
      val luma = (rr * 299 + gg * 587 + bb * 114) / 1000
      hist(luma >> 4) += 1
      i += 1
    }
    ImageFeatures(img.image_id, img.w, img.h,
      r.toDouble / n, g.toDouble / n, b.toDouble / n, hist)
  }

  /** images df (image_id, bytes, w, h, fmt, ...) -> decoded features;
    * batch-shaped mapPartitions so a real codec could amortize per-batch
    * init (the mapInPandas analog in Scala). */
  def extractFeatures(images: DataFrame): Dataset[ImageFeatures] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("image_id"), col("bytes"), col("w"), col("h"), col("fmt"))
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions { it =>
        // per-batch codec init would go here
        it.map { case (id, bytes, w, h, fmt) =>
          features(decode(id, bytes, w, h, fmt))
        }
      }
  }

  // ---------- perceptual image dedup ----------

  /** 64-bit difference hash (dHash, the classic perceptual image
    * fingerprint): grayscale -> 9x8 area-average downsample ->
    * horizontal luma-gradient sign bits. Pure integer arithmetic, so
    * it's deterministic and format-invariant: a PNG and a raw payload
    * of the same pixels hash identically, and small pixel edits move
    * only a few bits (Hamming-near). */
  def dhash64(img: DecodedImage): Long = {
    val gw = 9; val gh = 8
    val sum = new Array[Long](gw * gh)
    val cnt = new Array[Long](gw * gh)
    var y = 0
    while (y < img.h) {
      val gy = (y.toLong * gh / img.h).toInt
      var x = 0
      while (x < img.w) {
        val gx = (x.toLong * gw / img.w).toInt
        val o = (y * img.w + x) * 3
        val luma = (img.rgb(o) & 0xFF) * 299 +
          (img.rgb(o + 1) & 0xFF) * 587 + (img.rgb(o + 2) & 0xFF) * 114
        sum(gy * gw + gx) += luma
        cnt(gy * gw + gx) += 1
        x += 1
      }
      y += 1
    }
    // images narrower than the grid leave empty columns (avg 0) — still
    // deterministic and format-invariant, which is all dedup needs
    var bits = 0L
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw - 1) {
        val a = if (cnt(gy * gw + gx) == 0) 0L else sum(gy * gw + gx) / cnt(gy * gw + gx)
        val b = if (cnt(gy * gw + gx + 1) == 0) 0L else sum(gy * gw + gx + 1) / cnt(gy * gw + gx + 1)
        if (a > b) bits |= 1L << (gy * (gw - 1) + gx)
        gx += 1
      }
      gy += 1
    }
    bits
  }

  /** Re-encode decoded pixels as an (opaque-alpha) PNG payload — the
    * single source for "same pixels, different bytes" duplicates in
    * bench ground truth and tests. */
  def reencodePng(img: DecodedImage): Array[Byte] = {
    val rgba = new Array[Byte](img.w * img.h * 4)
    var i = 0
    while (i < img.w * img.h) {
      rgba(4 * i) = img.rgb(3 * i)
      rgba(4 * i + 1) = img.rgb(3 * i + 1)
      rgba(4 * i + 2) = img.rgb(3 * i + 2)
      rgba(4 * i + 3) = 0xFF.toByte
      i += 1
    }
    Png.encode(rgba, img.w, img.h)
  }

  /** Node id of an image: xxhash64 of its image_id string, the Long
    * node id connected components need (collision odds ~n^2/2^65 — 1e-8
    * at a million images; at real catalog scale swap in a precomputed
    * numeric key). The ONE derivation: dedup labels, the persisted band
    * index and the curation funnel must agree on it. */
  private[graft] def nid(imageId: Column): Column = xxhash64(imageId)

  /** images df (image_id, bytes, w, h, fmt) -> (image_id, dhash, nid):
    * the only pass that reads the payload column, and the projection
    * every dedup entry point consumes. It is materialized ONCE (eager
    * localCheckpoint — lineage-free, reclaimed by the ContextCleaner)
    * because it feeds several consumers (pregroup, banding, the name
    * map, the state index) and each would otherwise re-run the decode.
    * The decode runs under [[withDecodeSplits]], so a few-split file
    * scan re-splits at the read. */
  def dhashes(images: DataFrame): DataFrame = withDecodeSplits(images) {
    val spark = images.sparkSession
    import spark.implicits._
    val src = images.select(col("image_id"), col("bytes"), col("w"), col("h"), col("fmt"))
    // Decode is the CPU-bound pass: when the input still arrives in
    // fewer splits than cores (a non-file source, or an unsplittable
    // one), fan out BEFORE decoding (the shared ReadBalance guard — a
    // no-op at catalog scale)
    graft.ops.ReadBalance.fanOut(src)
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.map { case (id, bytes, w, h, fmt) =>
        (id, dhash64(decode(id, bytes, w, h, fmt)))
      })
      .toDF("image_id", "dhash")
      .withColumn("nid", nid(col("image_id")))
      .localCheckpoint(true)
  }

  private val chunkPairs = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
  private def otherTwo(i: Int, j: Int): (Int, Int) = {
    val r = Seq(0, 1, 2, 3).filterNot(c => c == i || c == j)
    (r(0), r(1))
  }

  /** One banding level over `bits`-bit residuals: each (doc_id, key,
    * resid) row explodes into the six chunk-pair sub-bands of its
    * residual (chunk = bits/4). Output key extends the parent key with
    * (band, chunk_i, chunk_j); output resid packs the complementary two
    * chunks (bits/2 wide). Pigeonhole: <= 2 differing bits touch at
    * most two of the four chunks, so two hashes at Hamming <= 2 share
    * at least one sub-band whose key matches EXACTLY.
    *
    * Key encoding: EXACT (lossless) packed Longs wherever the widths
    * fit — the level-1 key is 3+32 bits and level 2 appends 3+16 more
    * (54 total), so both pack into one shifted Long and the dominant
    * level-1 groupBy/join shuffles 8-byte keys, not nested structs.
    * The terminal level would need 65 bits, so it keys on a
    * (parent-Long, sub-Long) struct pair — still exact, preserving the
    * unconditional terminal all-pairs bound (a terminal bucket fixes
    * 56 of 64 hash bits -> <= 2^8 distinct-hash members). */
  private def subBands(members: DataFrame, bits: Int): DataFrame = {
    val cs = bits / 4
    val mask = (1L << cs) - 1
    def chunk(n: Int) = shiftrightunsigned(col("resid"), n * cs).bitwiseAND(lit(mask))
    members.select(col("doc_id"), col("dhash"),
        explode(array(chunkPairs.zipWithIndex.map { case ((i, j), b) =>
          val (k, l) = otherTwo(i, j)
          val sub = lit(b.toLong << (2 * cs))
            .bitwiseOR(shiftleft(chunk(i), cs)).bitwiseOR(chunk(j)) // 3 + 2*cs bits
          val key =
            if (bits == 16) struct(col("key").as("pk"), sub.as("sk"))
            else shiftleft(col("key").cast("long"), 3 + 2 * cs).bitwiseOR(sub)
          struct(key.as("key"),
            shiftleft(chunk(k), cs).bitwiseOR(chunk(l)).as("resid"))
        }: _*)).as("x"))
      .select(col("doc_id"), col("dhash"), col("x.key").as("key"), col("x.resid").as("resid"))
  }

  /** Candidate pairs by recursive sub-banding. Buckets of <= cap members
    * emit all pairs; hotter buckets RECURSE — their members share every
    * hash bit except the bits/2-bit residual, which sub-bands again with
    * the same pigeonhole guarantee. At bits == 16 a bucket fixes 56 of
    * the 64 hash bits, so (with one row per DISTINCT hash) it holds at
    * most 2^8 members and all-pairs is bounded — recursion terminates
    * unconditionally, and NO true Hamming<=2 pair is ever dropped. This
    * replaces the earlier star-pairs-to-bucket-min escape, whose
    * unverifiable star edges had to be Hamming-filtered away, silently
    * losing connectivity through any >cap band bucket. */
  private def bandPairs(members: DataFrame, bits: Int, cap: Int): DataFrame = {
    val banded = subBands(members, bits)
    // per-bucket stats via hash agg (map-side combine); singleton
    // buckets — the vast majority — never rejoin (AQE broadcasts the
    // small collided-stat set, cf. TextOps.cappedCandidatePairs)
    val stats = banded.groupBy(col("key"))
      .agg(count(lit(1)).as("bcnt"))
      .filter(col("bcnt") >= 2)
    // EAGER checkpoint of the (collided-members-only, candidate-sized)
    // join result: its three consumers — the self-join's two sides and
    // the hot-bucket recursion — would otherwise each re-evaluate the
    // FULL corpus explode+groupBy, and every recursion level would
    // re-derive its ancestors' (profiled: the level-1 pass alone ran
    // ~4x per action, >half the dedup band phase, to produce pairs
    // from a few thousand collided rows)
    val collided = banded.join(stats, Seq("key")).localCheckpoint(true)
    val terminal = bits <= 16
    val allowAll = if (terminal) collided else collided.filter(col("bcnt") <= cap)
    // each side carries its member's ORIGINAL 64-bit hash (it rode the
    // banding as one extra 8-byte column on candidate-sized rows), so
    // the exact Hamming verify filters RIGHT HERE — the former
    // re-attach joined the full distinct-hash table back TWICE per
    // dedup (two corpus-sized shuffle joins) to recover dh_a/dh_b
    val allPairs = allowAll.as("a").join(allowAll.as("b"),
        col("a.key") === col("b.key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("img_a"), col("b.doc_id").as("img_b"),
        col("a.dhash").as("dh_a"), col("b.dhash").as("dh_b"))
    if (terminal) allPairs
    else {
      val hot = collided.filter(col("bcnt") > cap)
        .select(col("doc_id"), col("dhash"), col("key"), col("resid"))
      allPairs.unionByName(bandPairs(hot, bits / 2, cap))
    }
  }

  /** Exact-duplicate pregroup over the (nid, dhash) projection:
    * identical dhashes (byte-identical and re-encoded copies — the BULK
    * of web-corpus duplication) collapse by a plain hash aggregation, a
    * star edge per member to the group's min nid, so banding sees ONE
    * representative per distinct hash (a million-copy image contributes
    * one band row, never a mega-bucket). Returns (star edges (a, b),
    * repIds (dhash, nid)). Only 8-byte nids and hashes ride its shuffle
    * and its checkpoint; the grouped projection is checkpointed eagerly
    * because its consumers (star edges + the banding/verify sides)
    * would each re-run the groupBy+join otherwise. */
  private def exactPregroup(ids: DataFrame): (DataFrame, DataFrame) = {
    val slim = ids.select(col("nid"), col("dhash"))
    val groups = slim.groupBy(col("dhash")).agg(min(col("nid")).as("grep"))
    val withRep = slim.join(groups, "dhash").localCheckpoint(true)
    (withRep.filter(col("nid") =!= col("grep"))
        .select(col("nid").as("a"), col("grep").as("b")),
      withRep.filter(col("nid") === col("grep")).drop("grep"))
  }

  /** Near-dup edges as (a, b) nid pairs between the pregroup's
    * distinct-hash reps (one row per distinct hash BY CONSTRUCTION, so
    * the terminal banding level's all-pairs bound holds). Every
    * banding/verify shuffle carries 8-byte nids; the hashes ride the
    * banding and the Hamming verify is a map-side filter on the
    * candidate pairs — no re-attach join of the hash table. */
  private def nearDupEdges(repIds: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 2, "chunk-pair banding only guarantees recall for Hamming <= 2")
    val members = repIds.select(col("nid").as("doc_id"), col("dhash"),
      lit(0L).as("key"), col("dhash").as("resid"))
    bandPairs(members, 64, cap = 64).distinct()
      .filter(graft.text.TextOps.hamming64(col("dh_a"), col("dh_b")) <= maxHamming)
      .select(col("img_a").as("a"), col("img_b").as("b"))
  }

  /** THE duplicate-graph edge builder, shared by the batch, state and
    * incremental paths (the pregroup rep choice — min nid — must never
    * diverge between them). From a (nid, dhash) projection it returns
    * (edges (a, b) as nids, repIds (dhash, nid) — one row per distinct
    * hash). Connectivity contract: any two images at Hamming <=
    * maxHamming fall in one connected component of `edges` (recall 1.0,
    * see [[bandPairs]]); `edges` is NOT the full pair set — exact copies
    * attach by one star edge to their hash group's min nid, and banded
    * pairs link only those reps. */
  private[graft] def dupEdges(ids: DataFrame, maxHamming: Int): (DataFrame, DataFrame) = {
    val (exactEdges, repIds) = exactPregroup(ids)
    (exactEdges.unionByName(nearDupEdges(repIds, maxHamming)), repIds)
  }

  /** Scope `f` under a file-split size tuned so `images`' scan yields
    * ~2x-cores splits, when the current plan would yield fewer: the
    * decode pass then parallelizes AT THE READ instead of dhashes'
    * repartition fallback, which round-robins the full payload bytes
    * through a shuffle just to balance CPU work (guide: move heavy
    * bytes zero extra times when a split-size knob does the same job).
    * The conf is restored afterwards; `f` must CONTAIN the decode
    * action (split planning happens at action time). dhashes' own
    * repartition guard still covers non-file sources and genuinely
    * unsplittable inputs — with the conf in effect it sees the wider
    * scan and skips the shuffle. CAVEAT: maxPartitionBytes is
    * session-scoped, so a file scan PLANNED CONCURRENTLY in the same
    * session during `f` would also get the narrowed splits — the one
    * caller is [[dhashes]], run serially per dedup call, and a
    * session that interleaves other planning with a dedup run should
    * use a separate session (cheap: SparkSession.newSession shares the
    * context but not the conf). */
  private def withDecodeSplits[T](images: DataFrame)(f: => T): T = {
    val spark = images.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val key = "spark.sql.files.maxPartitionBytes"
    val bytes = try images.queryExecution.optimizedPlan.stats.sizeInBytes
                catch { case scala.util.control.NonFatal(_) => return f }
    if (!bytes.isValidLong) return f
    val target = math.max(bytes.toLong / (2L * p), 4L << 20) // >= 4 MB splits
    val current = spark.conf.get(key)
    val currentBytes = try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(current)
                       catch { case scala.util.control.NonFatal(_) => return f }
    // only narrow the splits; never widen past the session's setting
    if (target >= currentBytes) return f
    // also needs fewer splits than cores right now, else nothing to fix
    val few = try images.rdd.getNumPartitions < p
              catch { case scala.util.control.NonFatal(_) => false }
    if (!few) return f
    try { spark.conf.set(key, target.toString); f }
    finally spark.conf.set(key, current)
  }

  /** The one name adapter: (image_id, nid, rep) for every image of
    * `ids` from its dup-graph `edges` — rep is the image_id of the
    * component's min nid, images outside the graph label themselves.
    * Names attach here, once, at the end. Only nids that ARE a
    * component rep need resolving — a component-count-sized set;
    * restricting the name map to it keeps both joins broadcastable
    * (the unrestricted map is the FULL id table, a corpus x corpus
    * shuffle join at scale). */
  private def withNames(ids: DataFrame, edges: DataFrame): DataFrame = {
    val labels = graft.ops.Components
      .connectedComponents(edges)
      .withColumnRenamed("node", "nid")
      .localCheckpoint(true) // duplicate-node-sized; feeds two joins + the rep set
    val repSet = labels.select(col("rep")).distinct()
    val repNames = ids.select(col("nid").as("rep"), col("image_id").as("rep_id"))
      .join(repSet, "rep")
    ids.select(col("image_id"), col("nid")).join(labels, Seq("nid"), "left")
      .join(repNames, Seq("rep"), "left")
      .select(col("image_id"), col("nid"), coalesce(col("rep_id"), col("image_id")).as("rep"))
  }

  /** Full image dedup: decode -> dhash -> banded pairs -> connected
    * components. Returns (image_id, rep); keep-one is
    * filter(image_id === rep) after a left join back to the table. */
  def imageDupClusters(images: DataFrame, maxHamming: Int = 2): DataFrame =
    imageDupClustersPhased(images, maxHamming)._1

  /** Duplicate labels entirely in nid space: (nid, rep) for every row
    * of `ids` (nid, dhash — e.g. [[dhashes]]), rep = component min nid,
    * singletons mapped to themselves — the keep-best-per-cluster entry
    * point. No image_id string rides a shuffle or checkpoint, so
    * downstream per-cluster aggregations move 8-byte keys only; attach
    * names at the end by joining back on nid. */
  def imageDupLabelsNid(ids: DataFrame, maxHamming: Int = 2): DataFrame =
    graft.ops.Components.labelAll(ids, dupEdges(ids, maxHamming)._1, "nid")

  /** [[imageDupClusters]] with per-phase wall timings for the bench:
    * returns (labels, decodeSec, bandSec) — decode = payload scan ->
    * dhash projection (checkpoint-forced), band = pregroup + recursive
    * banding + Hamming verify to the edge list (checkpoint-forced);
    * the remaining components+labeling cost is what the caller's
    * terminal action pays. */
  def imageDupClustersPhased(images: DataFrame, maxHamming: Int = 2): (DataFrame, Double, Double) = {
    val t0 = System.nanoTime()
    val ids = dhashes(images)
    val tDecode = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val edges = dupEdges(ids, maxHamming)._1.localCheckpoint(true)
    val tBand = (System.nanoTime() - t1) / 1e9
    (withNames(ids, edges).select(col("image_id"), col("rep")), tDecode, tBand)
  }

  // ---------- incremental image dedup against persisted state ----------

  /** Pack a level-1 quarter-pair band key into one Long — the
    * INDEXABLE band encoding (structs can't be bucket columns):
    * (band << 32) | (quarter_i << 16) | quarter_j. */
  private def packedBandKeys(dhash: Column): Column = {
    def quarter(i: Int) = shiftrightunsigned(dhash, i * 16).bitwiseAND(lit(0xFFFFL))
    array(chunkPairs.zipWithIndex.map { case ((i, j), b) =>
      lit(b.toLong << 32).bitwiseOR(shiftleft(quarter(i), 16)).bitwiseOR(quarter(j))
    }: _*)
  }

  /** Build the persisted dedup state for [[incrementalImageDedup]]:
    * runs the full batch clustering, then lands
    *  - `<table>` (catalog, parquet at `dir/bands`): one row per
    *    (distinct dhash x 6 level-1 bands) — (band_key, dhash, rep_nid,
    *    rep) — BUCKETED by band_key, so incremental probes join the
    *    corpus-sized side with zero shuffle;
    *  - `dir/labels`: (image_id, rep) for every image.
    * Returns the labels. At 10^12 images the bands table is ~300 B/
    * distinct hash; probes read only matching buckets. */
  def writeImageDedupState(images: DataFrame, dir: String, table: String,
                           buckets: Int, maxHamming: Int = 2): DataFrame = {
    val spark = images.sparkSession
    // ONE payload-decode pass feeds both the clustering and the index
    val ids = dhashes(images)
    val (edges, repIds) = dupEdges(ids, maxHamming)
    val labels = withNames(ids, edges).localCheckpoint(true)
    // index rows take each distinct hash's label through its pregroup
    // rep's nid — repIds already holds one (dhash, nid) per distinct
    // hash, so no extra distinct pass runs here
    val distinctHash = repIds.join(labels.select(col("nid"), col("rep")), "nid")
      .select(col("dhash"), col("rep"), nid(col("rep")).as("rep_nid"))
    val named = labels.select(col("image_id"), col("rep"))
    // rebuild under the SAME per-corpus lease the appenders hold (see
    // TextDedupState.writeTextDedupState): an unguarded DROP + overwrite
    // interleaving with a concurrent append would mix two state
    // generations under one bucket spec
    val lease = graft.ops.StateLease.acquire(dir)
    try {
      graft.ops.StateLease.checkFenced(lease)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      distinctHash
        .select(explode(packedBandKeys(col("dhash"))).as("band_key"),
          col("dhash"), col("rep_nid"), col("rep"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "band_key").sortBy("band_key")
        .option("path", s"$dir/bands").saveAsTable(table)
      named.write.mode("overwrite").parquet(s"$dir/labels")
      graft.ops.StateLease.checkFenced(lease)
    } finally graft.ops.StateLease.release(lease)
    named
  }

  /** Deduplicate a NEW batch against persisted state WITHOUT touching
    * the old corpus — the only formulation that survives continuous
    * ingest at 10^12 images (re-running [[imageDupClusters]] over
    * everything per batch re-decodes and re-shuffles the world).
    * `ids` is the batch's [[dhashes]] projection.
    *
    * Within the batch: the full recursive banding (recall 1.0 at
    * Hamming <= maxHamming). Across the batch/corpus boundary: new
    * hashes probe the bucketed level-1 band index — the corpus side
    * never shuffles; only (new-hash, band) rows do — and verify by
    * exact Hamming against the matched member hash. The index keeps
    * EVERY band of every distinct hash and the probe join is uncapped,
    * so boundary recall is ALSO 1.0 at Hamming <= 2 by the same
    * pigeonhole; the cost guard is per-bucket join fan-out, bounded by
    * |batch| x hottest-bucket occupancy (not corpus^2).
    *
    * Old labels are STICKY: a new image joining an old cluster takes
    * the OLD rep. A new image bridging several old clusters reports a
    * merge instead of relabeling the corpus: returns
    * (newLabels(image_id, rep), merges(rep_a, merged_rep)) — apply
    * merges downstream as rep_a -> merged_rep, at most a
    * label-table-sized join, never a re-cluster. */
  def incrementalImageDedup(ids: DataFrame, bandsTable: String,
                            maxHamming: Int = 2): (DataFrame, DataFrame) = {
    val spark = ids.sparkSession
    val (batchEdges, repIds) = dupEdges(ids, maxHamming)
    // boundary probe: new distinct hashes explode their 6 band keys and
    // join the BUCKETED index — corpus side shuffle-free — then verify
    // by exact Hamming against the matched member hash. The hit set is
    // candidate-sized and eagerly checkpointed: BOTH the edge list and
    // the old-rep name map below derive from it, and everything this
    // function knows about the corpus flows through it — the index is
    // never scanned or aggregated in full.
    val probes = repIds
      .select(col("nid"), col("dhash").as("new_dhash"),
        explode(packedBandKeys(col("dhash"))).as("band_key"))
    val index = spark.table(bandsTable)
    val probeHits = probes.join(index, "band_key")
      .filter(graft.text.TextOps.hamming64(col("new_dhash"), col("dhash")) <= maxHamming)
      .select(col("nid"), col("rep_nid"), col("rep"))
      .localCheckpoint(true)
    val newOldEdges = probeHits.select(col("nid").as("a"), col("rep_nid").as("b"))
      .distinct()
    val oldReps = probeHits.select(col("rep_nid"), col("rep")).distinct()
    val comp = graft.ops.Components.connectedComponents(batchEdges.unionByName(newOldEdges))
    // sticky labels + merge events: shared resolution (ops.StickyLabels,
    // one source with the text path)
    graft.ops.StickyLabels.resolve(comp, oldReps,
      ids.select(col("image_id"), col("nid")), "image_id")
  }

  /** Fold a processed batch into the persisted dedup state so the NEXT
    * batch's probes see it: appends band rows for the batch's distinct
    * hashes (from its [[dhashes]] projection `ids`) that are NOT already
    * indexed (presence is an exact-dhash match detected through the
    * band-0 bucket join — identical hashes share every band, so one
    * band suffices, and the corpus side stays shuffle-free), labeled
    * with the batch's FINAL reps from [[incrementalImageDedup]]'s
    * newLabels; plus the labels themselves (skippable via `writeLabels`
    * when the caller lands labels in its own idempotent sink, as the
    * streaming wrapper does). `buckets` must match the value the state
    * was built with (Spark refuses mismatched bucket specs on append).
    *
    * Merge semantics: band rows of clusters ABSORBED by an earlier
    * merge keep their original rep — labels compose through the
    * accumulated merge tables (rep_a -> merged_rep), they are never
    * rewritten in place. Single-writer per corpus, ENFORCED by a lease
    * file under `dir` (stale leases from crashed writers are stolen
    * after 15 min): a concurrent append throws instead of corrupting
    * the bucketed index. */
  def appendImageDedupState(ids: DataFrame, newLabels: DataFrame,
                            bandsTable: String, dir: String, buckets: Int,
                            writeLabels: Boolean = true): Unit = {
    val lease = graft.ops.StateLease.acquire(dir)
    try {
      graft.ops.StateLease.checkFenced(lease)
      appendImageDedupStateLocked(ids, newLabels, bandsTable, dir, buckets, writeLabels)
      // post-write fence check: a steal DURING the append must fail the
      // job loudly — the successor may have interleaved bucket files
      graft.ops.StateLease.checkFenced(lease)
    } finally graft.ops.StateLease.release(lease)
  }

  private def appendImageDedupStateLocked(ids: DataFrame, newLabels: DataFrame,
                                          bandsTable: String, dir: String, buckets: Int,
                                          writeLabels: Boolean): Unit = {
    val spark = ids.sparkSession
    val distinctNew = ids.groupBy(col("dhash")).agg(min(col("image_id")).as("member_id"))
    val idx0 = spark.table(bandsTable)
      .filter(col("band_key") < (1L << 32)) // band 0 rows only
      .select(col("band_key"), col("dhash").as("old_dhash"))
    val fresh = distinctNew.withColumn("band_key", packedBandKeys(col("dhash")).getItem(0))
      .join(idx0, Seq("band_key"), "left")
      .groupBy(col("dhash"), col("member_id"))
      .agg(max(when(col("old_dhash") === col("dhash"), 1).otherwise(0)).as("present"))
      .filter(col("present") === 0)
      .select(col("dhash"), col("member_id"))
    fresh
      .join(newLabels.withColumnRenamed("image_id", "member_id"), "member_id")
      .select(explode(packedBandKeys(col("dhash"))).as("band_key"),
        col("dhash"), nid(col("rep")).as("rep_nid"), col("rep"))
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "band_key").sortBy("band_key")
      .option("path", s"$dir/bands").saveAsTable(bandsTable)
    if (writeLabels) newLabels.write.mode("append").parquet(s"$dir/labels")
  }

  // ---------- audio / video payload plumbing ----------

  /** Decoded audio: mono PCM samples. REAL decode for RIFF/WAV payloads
    * (pure-JVM parse, detected by magic bytes) in PCM16, G.711 mu-law /
    * A-law, and IMA ADPCM; anything else (mp3/aac/ogg need codec libs
    * absent from this container) is the documented deterministic STUB. */
  case class DecodedAudio(media_id: String, sampleRate: Int, samples: Array[Float])

  def decodeAudio(id: String, bytes: Array[Byte], sampleRate: Int, nSamples: Int): DecodedAudio = {
    if (bytes.length >= 44 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E') {
      decodeWav(id, bytes)
    } else {
      var s = java.util.Arrays.hashCode(bytes).toLong
      val out = new Array[Float](nSamples)
      var i = 0
      while (i < nSamples) {
        s = s * 6364136223846793005L + 1442695040888963407L
        out(i) = ((s >>> 40).toInt / 8388608.0f) - 1.0f
        i += 1
      }
      DecodedAudio(id, sampleRate, out)
    }
  }

  /** RIFF/WAVE parser: walks chunks to fmt + data; multi-channel input
    * downmixes to mono by averaging. REAL decoders for the formats a
    * WAV container actually carries in the wild without native libs:
    * PCM16 (tag 1), A-law (6), mu-law (7) — both G.711 companding
    * tables — and IMA ADPCM (0x11, block-structured 4-bit differences).
    * Anything else (mp3-in-wav etc.) raises; the caller's magic-byte
    * dispatch already routed non-RIFF payloads to the stub. */
  private def decodeWav(id: String, b: Array[Byte]): DecodedAudio = {
    def u16(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
    def u32(o: Int): Long = (u16(o).toLong) | (u16(o + 2).toLong << 16)
    var off = 12
    var sampleRate = 0; var channels = 1; var bits = 16
    var fmtTag = 0; var blockAlign = 0
    var dataOff = -1; var dataLen = 0
    while (off + 8 <= b.length && (dataOff < 0 || sampleRate == 0)) {
      val tag = new String(b, off, 4, "US-ASCII")
      // a corrupt/overflowing length field must never stall the walk:
      // clamp to the bytes actually present (a truncated final chunk is
      // normal; anything claiming more than remains IS final)
      val avail = b.length - off - 8
      val len = math.min(u32(off + 4), avail.toLong).toInt
      if (tag == "fmt ") {
        // a fmt chunk needs its full 16-byte body: a truncated or
        // short-declared one must not read past the clamped length
        // (raw index crash) or parse the NEXT chunk's bytes as
        // blockAlign/bits (garbage decode parameters)
        require(len >= 16, s"$id: malformed wav (fmt chunk len $len < 16)")
        fmtTag = u16(off + 8)
        channels = u16(off + 10)
        sampleRate = u32(off + 12).toInt
        blockAlign = u16(off + 20)
        bits = u16(off + 22)
      } else if (tag == "data") { dataOff = off + 8; dataLen = len }
      off += 8 + len + (len & 1) // chunks are word-aligned
    }
    require(dataOff >= 0 && sampleRate > 0 && channels >= 1, s"$id: malformed wav")
    dataLen = math.min(dataLen, b.length - dataOff)
    val pcm: Array[Float] = fmtTag match {
      case 1 =>
        require(bits == 16, s"$id: only 16-bit PCM wav supported")
        val frames = dataLen / (2 * channels)
        val out = new Array[Float](frames)
        var f = 0
        while (f < frames) {
          var acc = 0.0f; var c = 0
          while (c < channels) {
            acc += (u16(dataOff + (f * channels + c) * 2).toShort / 32768.0f); c += 1
          }
          out(f) = acc / channels; f += 1
        }
        out
      case 6 | 7 => // G.711 A-law / mu-law: one byte per sample
        val frames = dataLen / channels
        val out = new Array[Float](frames)
        var f = 0
        while (f < frames) {
          var acc = 0.0f; var c = 0
          while (c < channels) {
            val u = b(dataOff + f * channels + c) & 0xFF
            val s = if (fmtTag == 7) ulawToPcm(u) else alawToPcm(u)
            acc += s / 32768.0f; c += 1
          }
          out(f) = acc / channels; f += 1
        }
        out
      case 0x11 =>
        imaAdpcmToPcm(b, dataOff, dataLen, channels, blockAlign)
      case other => throw new IllegalArgumentException(
        s"$id: unsupported wav format tag $other (PCM16/A-law/mu-law/IMA-ADPCM decode here)")
    }
    DecodedAudio(id, sampleRate, pcm)
  }

  /** G.711 mu-law byte -> linear PCM16 (CCITT reference arithmetic). */
  def ulawToPcm(uIn: Int): Short = {
    val u = ~uIn & 0xFF
    var t = ((u & 0x0F) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    (if ((u & 0x80) != 0) 0x84 - t else t - 0x84).toShort
  }

  /** G.711 A-law byte -> linear PCM16 (CCITT reference arithmetic). */
  def alawToPcm(aIn: Int): Short = {
    val a = aIn ^ 0x55
    var t = (a & 0x0F) << 4
    val seg = (a & 0x70) >> 4
    if (seg == 0) t += 8
    else if (seg == 1) t += 0x108
    else { t += 0x108; t <<= seg - 1 }
    (if ((a & 0x80) != 0) t else -t).toShort
  }

  /** IMA/DVI ADPCM step sizes (the published 89-entry table). */
  private[media] val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173, 190, 209, 230,
    253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658, 724, 796, 876, 963,
    1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
    3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794,
    32767)
  private[media] val ImaIndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA ADPCM decode step: applies `nibble` to (predictor, index),
    * returning the new state. Shared with the test-side encoder, which
    * must track the decoder's state exactly. */
  private[media] def imaStep(nibble: Int, pred: Int, index: Int): (Int, Int) = {
    val step = ImaStepTable(index)
    var diff = step >> 3
    if ((nibble & 1) != 0) diff += step >> 2
    if ((nibble & 2) != 0) diff += step >> 1
    if ((nibble & 4) != 0) diff += step
    val p0 = if ((nibble & 8) != 0) pred - diff else pred + diff
    val p = math.max(-32768, math.min(32767, p0))
    val i = math.max(0, math.min(88, index + ImaIndexTable(nibble & 7)))
    (p, i)
  }

  /** IMA ADPCM (WAV fmt 0x11) -> mono float PCM. Blocks of `blockAlign`
    * bytes: per channel a 4-byte state header (predictor s16, step
    * index u8, reserved), then nibble data interleaved in 4-byte groups
    * per channel; low nibble first. The header predictor IS the block's
    * first sample. */
  private def imaAdpcmToPcm(b: Array[Byte], dataOff: Int, dataLen: Int,
                            channels: Int, blockAlign: Int): Array[Float] = {
    require(blockAlign > 4 * channels, s"bad ADPCM blockAlign $blockAlign")
    def u16(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
    val samplesPerBlock = (blockAlign - 4 * channels) * 2 / channels + 1
    val out = scala.collection.mutable.ArrayBuffer.empty[Float]
    var blk = dataOff
    val dataEnd = dataOff + dataLen
    while (blk + 4 * channels <= dataEnd) {
      val blockEnd = math.min(blk + blockAlign, dataEnd)
      val pred = new Array[Int](channels)
      val idx = new Array[Int](channels)
      val ch = new Array[Array[Float]](channels)
      for (c <- 0 until channels) {
        pred(c) = u16(blk + 4 * c).toShort.toInt
        idx(c) = math.max(0, math.min(88, b(blk + 4 * c + 2) & 0xFF))
        ch(c) = new Array[Float](samplesPerBlock)
        ch(c)(0) = pred(c) / 32768.0f
      }
      var n = 1 // per-channel sample cursor (0 = header predictor)
      var o = blk + 4 * channels
      while (o + 4 * channels <= blockEnd && n < samplesPerBlock) {
        for (c <- 0 until channels) {
          val base = o + 4 * c
          var k = 0
          while (k < 8 && n + k < samplesPerBlock) {
            val byte = b(base + k / 2) & 0xFF
            val nib = if (k % 2 == 0) byte & 0x0F else byte >> 4
            val (p, i) = imaStep(nib, pred(c), idx(c))
            pred(c) = p; idx(c) = i
            ch(c)(n + k) = p / 32768.0f
            k += 1
          }
        }
        n += 8
        o += 4 * channels
      }
      // a TRUNCATED final block yields only the samples its bytes
      // actually encode — padding to samplesPerBlock would splice
      // silence into the stream and skew duration/rms features
      val decoded = math.min(samplesPerBlock, n)
      var f = 0
      while (f < decoded) {
        var acc = 0.0f; var c = 0
        while (c < channels) { acc += ch(c)(f); c += 1 }
        out += acc / channels
        f += 1
      }
      blk += blockAlign
    }
    out.toArray
  }

  case class AudioFeatures(media_id: String, rms: Double, zeroCrossings: Long, durSec: Double)

  def audioFeatures(a: DecodedAudio): AudioFeatures = {
    // zero-length audio (empty data chunk / n_samples = 0) is a valid
    // degenerate row, not a task-killer
    if (a.samples.isEmpty) return AudioFeatures(a.media_id, 0.0, 0L, 0.0)
    var sq = 0.0
    var zc = 0L
    var i = 1
    sq = a.samples(0).toDouble * a.samples(0)
    while (i < a.samples.length) {
      sq += a.samples(i).toDouble * a.samples(i)
      if ((a.samples(i) >= 0) != (a.samples(i - 1) >= 0)) zc += 1
      i += 1
    }
    AudioFeatures(a.media_id, math.sqrt(sq / a.samples.length), zc,
      a.samples.length.toDouble / a.sampleRate)
  }

  /** Video frame sampling: emit every k-th frame as an image payload
    * (one input row -> many frame rows, the explode pattern).
    * REAL decode for RIFF/AVI containers whose frames ImageIO can read
    * (MJPEG — each '..dc'/'..db' chunk is a standalone JPEG — plus any
    * intra-coded codec a dropped-in ImageIO plugin handles): pure-JVM
    * chunk walk, frame dims come from the bytes. Other containers
    * (mp4/mkv/inter-coded codecs need native libs absent from this
    * container) keep the documented deterministic STUB. */
  def sampleFrames(id: String, bytes: Array[Byte], w0: Int, h0: Int,
                   nFrames: Int, every: Int): Seq[DecodedImage] = {
    val real =
      if (isAvi(bytes)) aviFrames(id, bytes, every)
      else if (isGif(bytes)) gifFrames(id, bytes, every)
      else Seq.empty
    if (real.nonEmpty) real
    else (0 until nFrames by every).map { f =>
      val (w, h) = clampStubDims(w0, h0) // untrusted metadata: cap like decode
      var s = java.util.Arrays.hashCode(bytes).toLong ^ (f.toLong * 0x9E3779B97F4A7C15L)
      val rgb = new Array[Byte](w * h * 3)
      var i = 0
      while (i < rgb.length) {
        s = s * 6364136223846793005L + 1442695040888963407L
        rgb(i) = (s >>> 56).toByte
        i += 1
      }
      DecodedImage(s"$id#f$f", w, h, rgb)
    }
  }

  private def isGif(b: Array[Byte]): Boolean =
    b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8'

  /** Animated-GIF frame sampling through the JDK's multi-frame
    * ImageReader (plain ImageIO.read surfaces only frame 0): frames
    * composite sequentially onto a logical-screen canvas at their
    * descriptor offsets, honoring each frame's GraphicControlExtension
    * disposalMethod — doNotDispose accumulates (what delta frames
    * assume), restoreToBackgroundColor clears the frame's rectangle
    * (to black: the RGB stand-in for the transparent background a
    * compliant renderer shows), restoreToPrevious restores the canvas
    * saved before the frame drew. Every `every`-th composite is
    * emitted. Canvas dims are capped like [[decode]] (a 65535x65535
    * logical screen from a 200-byte bomb must not allocate 17 GB), and
    * only NonFatal failures degrade to empty (caller stubs) — VM errors
    * propagate. Pure JDK — animated GIFs are the one multi-frame web
    * format that needs no codec lib at all. */
  private def gifFrames(id: String, bytes: Array[Byte], every: Int): Seq[DecodedImage] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[DecodedImage]
    val it = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
    if (!it.hasNext) return Seq.empty
    val reader = it.next()
    // g is disposed in the FINALLY: the bomb early-returns and NonFatal
    // exits would otherwise leak the Graphics2D (pinning its canvas
    // until GC) on every adversarial GIF an executor sees
    var g: java.awt.Graphics2D = null
    var iis: javax.imageio.stream.ImageInputStream = null
    try {
      javax.imageio.ImageIO.setUseCache(false)
      iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      if (n <= 0) return Seq.empty
      // canvas dims come from the LOGICAL SCREEN descriptor, not frame 0:
      // optimized GIFs delta-encode frames as sub-rectangles, and a
      // frame-0-sized canvas would silently clip every later frame
      val screen = try {
        val st = reader.getStreamMetadata.getAsTree("javax_imageio_gif_stream_1.0")
          .asInstanceOf[org.w3c.dom.Element]
        val lsd = st.getElementsByTagName("LogicalScreenDescriptor").item(0)
          .asInstanceOf[org.w3c.dom.Element]
        Some((lsd.getAttribute("logicalScreenWidth").toInt,
          lsd.getAttribute("logicalScreenHeight").toInt))
      } catch { case scala.util.control.NonFatal(_) => None }
      var canvas: java.awt.image.BufferedImage = null
      // previous frame's disposal obligation, applied BEFORE the next
      // frame composites (disposal describes what happens after display)
      var prevDisposal = "none"
      var prevRect: java.awt.Rectangle = null
      var prevSnapshot: java.awt.image.BufferedImage = null
      for (f <- 0 until n) {
        // frame-dimension bomb check BEFORE decode, every frame: a
        // descriptor declaring 46000x46000 would otherwise allocate
        // ~2 GB inside reader.read (the canvas cap below only guards
        // the composite, and only once)
        if (reader.getWidth(f).toLong * reader.getHeight(f) > MaxDecodePixels)
          return Seq.empty
        val frame = reader.read(f)
        val meta = reader.getImageMetadata(f)
        val tree = meta.getAsTree("javax_imageio_gif_image_1.0")
          .asInstanceOf[org.w3c.dom.Element]
        val desc = tree.getElementsByTagName("ImageDescriptor").item(0)
          .asInstanceOf[org.w3c.dom.Element]
        val x = desc.getAttribute("imageLeftPosition").toInt
        val y = desc.getAttribute("imageTopPosition").toInt
        val disposal = {
          val gce = tree.getElementsByTagName("GraphicControlExtension").item(0)
          if (gce == null) "none"
          else gce.asInstanceOf[org.w3c.dom.Element].getAttribute("disposalMethod")
        }
        if (canvas == null) {
          val (cw, ch) = screen.filter(s => s._1 > 0 && s._2 > 0)
            .getOrElse((x + frame.getWidth, y + frame.getHeight))
          val w = math.max(cw, x + frame.getWidth)
          val h = math.max(ch, y + frame.getHeight)
          if (w.toLong * h > MaxDecodePixels) return Seq.empty // bomb: stub
          canvas = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          g = canvas.createGraphics()
        }
        // settle the PREVIOUS frame's disposal first
        if (prevRect != null) prevDisposal match {
          case "restoreToBackgroundColor" =>
            val old = g.getColor
            g.setColor(java.awt.Color.BLACK)
            g.fillRect(prevRect.x, prevRect.y, prevRect.width, prevRect.height)
            g.setColor(old)
          case "restoreToPrevious" if prevSnapshot != null =>
            g.drawImage(prevSnapshot, 0, 0, null)
          case _ => () // none / doNotDispose: accumulate
        }
        prevSnapshot =
          if (disposal == "restoreToPrevious") {
            val c = new java.awt.image.BufferedImage(
              canvas.getWidth, canvas.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val cg = c.createGraphics(); cg.drawImage(canvas, 0, 0, null); cg.dispose()
            c
          } else null
        g.drawImage(frame, x, y, null)
        prevDisposal = disposal
        prevRect = new java.awt.Rectangle(x, y, frame.getWidth, frame.getHeight)
        if (f % every == 0) out += bufferedToDecoded(s"$id#f$f", canvas)
      }
      out.toSeq
    } catch { case scala.util.control.NonFatal(_) => Seq.empty } // corrupt GIF: caller stubs
    finally {
      if (g != null) g.dispose()
      reader.dispose()
      if (iis != null)
        try iis.close() catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private def isAvi(b: Array[Byte]): Boolean =
    b.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' '

  /** Walk the RIFF/AVI chunk tree to the 'movi' list and decode every
    * `every`-th video-data chunk ('NNdc'/'NNdb') through ImageIO (MJPEG
    * frames are standalone JPEGs, header-capped like [[decode]]).
    * Frames ImageIO rejects are skipped; an AVI with no decodable
    * frames returns empty (caller stubs). The walk is ITERATIVE with an
    * explicit (offset, end) work stack: a crafted AVI nesting ~100k
    * 12-byte LISTs would blow the JVM stack under recursion, and a
    * StackOverflowError escapes any NonFatal guard; corrupt lengths are
    * clamped so the walk always advances. Any NonFatal parse failure
    * degrades to empty (caller stubs), the repo's adversarial-payload
    * invariant. */
  private def aviFrames(id: String, b: Array[Byte], every: Int): Seq[DecodedImage] =
    try {
      def u32(o: Int): Long =
        (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) | ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)
      def tag(o: Int): String = new String(b, o, 4, "US-ASCII")
      val out = scala.collection.mutable.ArrayBuffer.empty[DecodedImage]
      var frameNo = 0
      if (b.length < 12) return Seq.empty
      // LIFO work stack of (offset, end) ranges replaces recursion:
      // pushing a LIST's body and the remainder of the current range
      // preserves the depth-first chunk order the recursive walk had
      val stack = scala.collection.mutable.ArrayDeque[(Int, Int)]((12, b.length))
      while (stack.nonEmpty) {
        var (o, end) = stack.removeLast()
        var descended = false
        while (!descended && o + 8 <= end) {
          val t = tag(o)
          // clamp corrupt/overflowing chunk lengths to the bytes present:
          // the walk must always advance (a negative toInt would
          // otherwise spin forever on one adversarial payload)
          val len = math.min(u32(o + 4), (end - o - 8).toLong).toInt
          val dataEnd = o + 8 + len
          val next = o + 8 + len + (len & 1) // chunks are word-aligned
          if (t == "LIST" && dataEnd >= o + 12) {
            // resume the remainder after the list body completes
            if (next < end) stack.append((next, end))
            stack.append((o + 12, dataEnd)) // list body follows its 4-byte type
            descended = true
          } else {
            if (len > 0 && t.length == 4 &&
              t.charAt(0).isDigit && t.charAt(1).isDigit &&
              (t.endsWith("dc") || t.endsWith("db"))) {
              if (frameNo % every == 0) {
                val frame = new Array[Byte](math.min(len, b.length - o - 8))
                System.arraycopy(b, o + 8, frame, 0, frame.length)
                val bi = imageioRead(frame)
                if (bi != null) out += bufferedToDecoded(s"$id#f$frameNo", bi)
              }
              frameNo += 1
            }
            o = next
          }
        }
      }
      out.toSeq
    } catch { case scala.util.control.NonFatal(_) => Seq.empty } // corrupt AVI: caller stubs

  /** audio df (media_id, bytes, sample_rate, n_samples) -> features. */
  def extractAudioFeatures(audio: DataFrame): Dataset[AudioFeatures] = {
    val spark = audio.sparkSession
    import spark.implicits._
    audio.select(col("media_id"), col("bytes"), col("sample_rate"), col("n_samples"))
      .as[(String, Array[Byte], Int, Int)]
      .mapPartitions(_.map { case (id, b, sr, n) => audioFeatures(decodeAudio(id, b, sr, n)) })
  }

  /** Resize every image to (tw x th), re-encoding as PNG; payload stays
    * a binary column (the thumbnailing stage of a training pipeline). */
  def thumbnails(images: DataFrame, tw: Int, th: Int): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("image_id"), col("bytes"), col("w"), col("h"), col("fmt"))
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions { it =>
        it.map { case (id, bytes, w, h, fmt) =>
          val img = resize(decode(id, bytes, w, h, fmt), tw, th)
          val rgba = new Array[Byte](tw * th * 4)
          var i = 0
          while (i < tw * th) {
            rgba(4 * i) = img.rgb(3 * i)
            rgba(4 * i + 1) = img.rgb(3 * i + 1)
            rgba(4 * i + 2) = img.rgb(3 * i + 2)
            rgba(4 * i + 3) = 0xFF.toByte
            i += 1
          }
          (id, Png.encode(rgba, tw, th), tw, th, "png")
        }
      }
      .toDF("image_id", "bytes", "w", "h", "fmt")
  }
}
