package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental text near-dup dedup against persisted state: partition
  * equivalence with batch clustering, sticky labels across batches,
  * index no-bloat on re-seen text, and the streaming wrapper chain. */
class TextDedupStateSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // synthetic corpus: families of near-identical docs (shared long core
  // + tiny suffix edits => shared character shingles => shared minhash
  // bands), plus unrelated docs and exact copies
  private def doc(family: Int, variant: Int): String = {
    val r = new scala.util.Random(family * 1000)
    val core = Seq.fill(40)("abcdefghijklmnopqrstuvwxyz".charAt(r.nextInt(26)).toString +
      (if (r.nextInt(4) == 0) " " else "")).mkString
    if (variant == 0) core else core + " v" // 2-char edit: near-dup, not exact
  }

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def labelsMap(d: DataFrame): Map[Long, Long] =
    d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def partition(m: Map[Long, Long]): Set[Set[Long]] =
    m.groupBy(_._2).values.map(_.keySet.toSet).toSet

  test("A/B incremental partition equals one-shot batch clustering; labels sticky") {
    val a = (0 until 12).map(i => (i.toLong, doc(i, 0))) ++
      Seq((100L, doc(3, 1)), (101L, doc(3, 0))) // near-dup + exact dup of family 3
    val b = (20 until 28).map(i => (i.toLong, doc(i, 0))) ++
      Seq((200L, doc(5, 1)),  // near-dup of an A doc (state boundary)
          (201L, doc(22, 1)), // near-dup of a B-only doc
          (202L, doc(3, 0)))  // exact copy of an A doc
    val base = java.nio.file.Files.createTempDirectory("textdedup").toString
    val tbl = "text_dedup_bands_ab"
    val aLabels = labelsMap(TextDedupState.writeTextDedupState(df(a), s"$base/state", tbl, buckets = 4))
    // A-internal: exact + near dups of family 3 co-cluster
    assert(aLabels(100L) == aLabels(3L) && aLabels(101L) == aLabels(3L))

    val (bl, merges, _) = TextDedupState.incrementalTextDedup(df(b), tbl)
    val bLabels = labelsMap(bl)
    // sticky: the boundary near-dup and exact copy adopt A's labels
    assert(bLabels(200L) == aLabels(5L), s"boundary near-dup got ${bLabels(200L)}")
    assert(bLabels(202L) == aLabels(3L), s"boundary exact copy got ${bLabels(202L)}")
    // B-internal near-dup co-labels with its B source
    assert(bLabels(201L) == bLabels(22L))

    // partition equivalence vs clustering A+B in one shot (rep CHOICE
    // may differ — sticky reps are A's — the induced partition may not)
    val mergeMap = merges.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aFinal = aLabels.map { case (id, rep) => id -> mergeMap.getOrElse(rep, rep) }
    val fullTbl = "text_dedup_bands_full"
    val full = labelsMap(TextDedupState.writeTextDedupState(
      df(a ++ b), s"$base/full", fullTbl, buckets = 4))
    assert(partition(aFinal ++ bLabels) == partition(full),
      "incremental partition differs from one-shot clustering")
  }

  test("LSH-ineligible exact copies link across batches via md5 band rows") {
    // "X 9!" sanitizes to < 5 [a-z ] chars: no LSH bands at all. An
    // exact copy in a later batch must STILL adopt the old label —
    // the md5 band row (band = -1, exact-verified) carries it.
    val base = java.nio.file.Files.createTempDirectory("textdedup_inelig").toString
    val tbl = "text_dedup_bands_inelig"
    val a = Seq((0L, "X 9!"), (1L, doc(1, 0)))
    val aLabels = labelsMap(TextDedupState.writeTextDedupState(df(a), s"$base/state", tbl, buckets = 4))
    val (bl, _, _) = TextDedupState.incrementalTextDedup(
      df(Seq((10L, "X 9!"), (11L, doc(9, 0)))), tbl)
    val bLabels = labelsMap(bl)
    assert(bLabels(10L) == aLabels(0L),
      s"ineligible exact copy got ${bLabels(10L)}, expected ${aLabels(0L)}")
    assert(bLabels(11L) == 11L, "unrelated doc must stay a singleton")
    // and an ineligible NON-copy never false-matches through the md5 band
    val (cl, _, _) = TextDedupState.incrementalTextDedup(df(Seq((20L, "Y 7?"))), tbl)
    assert(labelsMap(cl)(20L) == 20L)
  }

  test("append chain: later batches see earlier folds; re-seen text doesn't bloat the index") {
    val a = (0 until 8).map(i => (i.toLong, doc(i, 0)))
    val b = (20 until 24).map(i => (i.toLong, doc(i, 0))) :+ ((300L, doc(2, 0))) // re-seen A text
    val c = Seq((400L, doc(21, 1))) // near-dup of a B-ONLY doc: needs B's fold
    val base = java.nio.file.Files.createTempDirectory("textdedupchain").toString
    val tbl = "text_dedup_bands_chain"
    TextDedupState.writeTextDedupState(df(a), s"$base/state", tbl, buckets = 4)
    val (bl, _, bBands) = TextDedupState.incrementalTextDedup(df(b), tbl)
    val blM = labelsMap(bl)
    TextDedupState.appendTextDedupState(bBands, bl, tbl, s"$base/state", buckets = 4)
    val (cl, _, _) = TextDedupState.incrementalTextDedup(df(c), tbl)
    assert(labelsMap(cl)(400L) == blM(21L),
      "C's near-dup of a B doc did not resolve through B's folded state")
    // no-bloat: doc 2's text was indexed by A; B's exact copy (id 300)
    // must not add band rows — its bands stay at exactly LshBands + 1
    // rows (the LSH bands plus the md5 band)
    val perDoc = TextOps.LshBands + 1
    val md5_2 = spark.sql(s"SELECT md5('${doc(2, 0)}')").head().getString(0)
    assert(spark.table(tbl).filter(col("text_md5") === md5_2).count() == perDoc,
      "re-seen text bloated the band index")
    // B's fresh docs DID land
    val md5_21 = spark.sql(s"SELECT md5('${doc(21, 0)}')").head().getString(0)
    assert(spark.table(tbl).filter(col("text_md5") === md5_21).count() == perDoc)
  }

  test("streaming wrapper: micro-batches resolve against folded state, idempotent sinks") {
    import graft.streaming.StreamOps
    val base = java.nio.file.Files.createTempDirectory("textdedupstream").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val tbl = "text_dedup_bands_stream"
    val a = (0 until 6).map(i => (i.toLong, doc(i, 0)))
    TextDedupState.writeTextDedupState(df(a), s"$base/state", tbl, buckets = 4)
    def feed(rows: Seq[(Long, String)], tag: String): Unit = {
      val tmp = s"$base/stage_$tag"
      df(rows).coalesce(1).write.parquet(tmp)
      new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(in, s"${tag}_${f.getName}")))
    }
    val schema = df(Seq((0L, "x"))).schema
    def runOnce(): Unit = {
      val q = StreamOps.incrementalTextDedupStream(
        spark.readStream.schema(schema).parquet(in), tbl, s"$base/state", 4,
        s"$base/labels", s"$base/merges", s"$base/ckpt")
      q.awaitTermination()
    }
    feed(Seq((50L, doc(50, 0)), (51L, doc(2, 1))), "b1"); runOnce() // near-dup of state doc 2
    feed(Seq((60L, doc(50, 1))), "b2"); runOnce() // near-dup of a BATCH-1 doc
    val labels = spark.read.parquet(s"$base/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(51L) == 2L, s"stream batch-1 boundary dup got ${labels(51L)}")
    assert(labels(60L) == labels(50L), s"batch-2 dup of a batch-1 doc got ${labels(60L)}")
    // idempotent layout: labels live under batch=N partitions
    assert(new java.io.File(s"$base/labels").listFiles().exists(_.getName.startsWith("batch=")))
  }
}
