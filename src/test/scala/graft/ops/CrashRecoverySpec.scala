package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.media.Media
import graft.tables.ImageTable
import graft.text.TextDedupState

/**
 * End-to-end crash recovery for the incremental dedup state, BOTH
 * modalities: a writer dies mid-append (band rows landed, labels did
 * not, its lease file left behind with a dead heartbeat), the retrying
 * driver's next attempt steals the stale lease after the timeout and
 * replays the WHOLE batch (incremental resolve + append). The
 * recovered state must equal a never-crashed run exactly: no duplicate
 * band rows (the md5/dhash presence check makes the replayed append a
 * no-op), identical labels, lease released. The lease-steal and
 * batch-replay idempotency are unit-tested separately (StateLease,
 * StreamOps); this spec exercises the full recovery path in one story.
 */
class CrashRecoverySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Leftover lease of a crashed writer: file present, token nobody
    * holds, mtime past the lease window (heartbeat dead). */
  private def plantStaleLease(dir: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(dir, ".writer_lease")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, "dead-writer-token")
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 20 * 60 * 1000L))
    p
  }

  // -------- text --------

  private def textDoc(family: Int, variant: Int): String = {
    val r = new scala.util.Random(family * 1000)
    val core = Seq.fill(40)("abcdefghijklmnopqrstuvwxyz".charAt(r.nextInt(26)).toString +
      (if (r.nextInt(4) == 0) " " else "")).mkString
    if (variant == 0) core else core + " v"
  }

  private def textDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("text: kill mid-append, steal stale lease, replay batch -> state equals never-crashed run") {
    val a = (0 until 10).map(i => (i.toLong, textDoc(i, 0)))
    val b = (20 until 26).map(i => (i.toLong, textDoc(i, 0))) ++
      Seq((200L, textDoc(3, 1))) // boundary near-dup of an A doc
    val base = java.nio.file.Files.createTempDirectory("crashtext").toString

    // reference: the never-crashed run
    val refTbl = "crash_text_ref"
    TextDedupState.writeTextDedupState(textDf(a), s"$base/ref", refTbl, buckets = 4)
    val (refBl, _, refBands) = TextDedupState.incrementalTextDedup(textDf(b), refTbl)
    TextDedupState.appendTextDedupState(refBands, refBl, refTbl, s"$base/ref", buckets = 4)

    // crashing run: same batches
    val tbl = "crash_text_crashed"
    TextDedupState.writeTextDedupState(textDf(a), s"$base/st", tbl, buckets = 4)
    val (bl, _, bands) = TextDedupState.incrementalTextDedup(textDf(b), tbl)
    // CRASH: bands appended, labels never written, stale lease left over
    TextDedupState.appendTextDedupState(bands, bl, tbl, s"$base/st", buckets = 4,
      writeLabels = false)
    val lease = plantStaleLease(s"$base/st")

    // RECOVERY: driver retries the whole batch; acquire() must steal
    val (blR, _, bandsR) = TextDedupState.incrementalTextDedup(textDf(b), tbl)
    assert(blR.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
      bl.collect().map(r => (r.getLong(0), r.getLong(1))).toMap,
      "replayed incremental resolve diverged from the pre-crash resolve")
    TextDedupState.appendTextDedupState(bandsR, blR, tbl, s"$base/st", buckets = 4)
    assert(!java.nio.file.Files.exists(lease), "recovery writer leaked its lease")

    // recovered state == never-crashed state (bands as a multiset, labels as a set)
    def bandRows(t: String): Seq[(Int, Long, String, Long)] =
      spark.table(t).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq.sorted
    assert(bandRows(tbl) == bandRows(refTbl),
      "recovered band index differs from the never-crashed run")
    def labels(d: String): Map[Long, Long] =
      spark.read.parquet(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(s"$base/st/labels") == labels(s"$base/ref/labels"),
      "recovered labels differ from the never-crashed run")

    // and the NEXT batch behaves identically on both states
    val c = Seq((300L, textDoc(22, 1))) // near-dup of a batch-B doc
    val (clRec, _, _) = TextDedupState.incrementalTextDedup(textDf(c), tbl)
    val (clRef, _, _) = TextDedupState.incrementalTextDedup(textDf(c), refTbl)
    assert(clRec.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      clRef.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  // -------- image --------

  test("image: kill mid-append, steal stale lease, replay batch -> state equals never-crashed run") {
    import spark.implicits._
    val originals = (0L until 30L).map(i => ImageTable.row(99L, i))
    def re(i: Int, tag: String) = {
      val o = originals(i)
      val img = Media.decode(o.image_id, o.bytes, o.w, o.h, o.fmt)
      o.copy(image_id = o.image_id + tag, bytes = Media.reencodePng(img), fmt = "png")
    }
    val aRows = originals.take(20)
    val bRows = originals.drop(20) ++ Seq(re(5, "_rb")) // boundary dup of an A image
    val base = java.nio.file.Files.createTempDirectory("crashimage").toString

    val bIds = Media.dhashes(spark.createDataset(bRows).toDF())
    val refTbl = "crash_img_ref"
    Media.writeImageDedupState(spark.createDataset(aRows).toDF(), s"$base/ref", refTbl, buckets = 4)
    val (refBl, _) = Media.incrementalImageDedup(bIds, refTbl)
    Media.appendImageDedupState(bIds, refBl, refTbl, s"$base/ref", buckets = 4)

    val tbl = "crash_img_crashed"
    Media.writeImageDedupState(spark.createDataset(aRows).toDF(), s"$base/st", tbl, buckets = 4)
    val (bl, _) = Media.incrementalImageDedup(bIds, tbl)
    // CRASH: bands appended, labels never written, stale lease left over
    Media.appendImageDedupState(bIds, bl, tbl, s"$base/st", buckets = 4, writeLabels = false)
    val lease = plantStaleLease(s"$base/st")

    // RECOVERY: replay the whole batch (decoded afresh, as a replay is)
    val bIdsR = Media.dhashes(spark.createDataset(bRows).toDF())
    val (blR, _) = Media.incrementalImageDedup(bIdsR, tbl)
    assert(blR.collect().map(r => (r.getString(0), r.getString(1))).toMap ==
      bl.collect().map(r => (r.getString(0), r.getString(1))).toMap,
      "replayed incremental resolve diverged from the pre-crash resolve")
    Media.appendImageDedupState(bIdsR, blR, tbl, s"$base/st", buckets = 4)
    assert(!java.nio.file.Files.exists(lease), "recovery writer leaked its lease")

    def bandRows(t: String): Seq[(Long, Long, Long, String)] =
      spark.table(t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq.sorted
    assert(bandRows(tbl) == bandRows(refTbl),
      "recovered band index differs from the never-crashed run")
    def labels(d: String): Map[String, String] =
      spark.read.parquet(d).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels(s"$base/st/labels") == labels(s"$base/ref/labels"),
      "recovered labels differ from the never-crashed run")
  }
}
