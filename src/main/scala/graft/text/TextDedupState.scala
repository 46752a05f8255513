package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Incremental TEXT near-dup dedup against persisted state — the text
 * analog of Media.writeImageDedupState / incrementalImageDedup, and the
 * continuous-ingest shape for a 100 TB document corpus: a new batch
 * dedups against everything ever seen WITHOUT re-tokenizing,
 * re-hashing, or re-shuffling the old corpus.
 *
 * Match semantics are EXACTLY the batch MinHash-LSH pipeline's
 * (q28/q42, geometry single-sourced from TextOps.Lsh*): two documents
 * are near-dups iff they share any LSH band key of their minhash
 * signatures; additionally EVERY distinct text — including docs too
 * short/non-latin for LSH banding — carries one md5 "band" row
 * (band = -1, key in a disjoint >= 2^62 namespace, match verified by
 * exact text_md5 equality), so cross-batch EXACT copies link no matter
 * their eligibility and the incremental partition equals one-shot
 * clustering regardless of batch boundaries. The persisted state is
 *  - `<table>` (catalog, parquet at `dir/bands`): one row per
 *    (distinct-md5 rep doc x (bands + 1)) — (band, band_key, text_md5,
 *    rep) — BUCKETED by band_key so incremental probes join the
 *    corpus-sized side with ZERO shuffle (read via spark.table, never
 *    read.parquet: bucket metadata lives in the catalog);
 *  - `dir/labels`: (doc_id, rep) for every doc.
 *
 * Exact duplicates (identical text — the bulk of web duplication)
 * collapse by an md5 pregroup before banding, so a million-copy
 * document contributes ONE set of band rows, never a mega-bucket; the
 * pregroup's star edges preserve connectivity, so the induced partition
 * equals the plain batch clustering's.
 *
 * Labels are STICKY and merges compose — identical semantics to the
 * image path via the shared ops.StickyLabels. Appends are serialized
 * per corpus by ops.StateLease. doc_id must be a corpus-unique Long
 * (it IS the graph node id — no separate nid hash needed).
 */
object TextDedupState {
  /** md5 "band" key: xxhash64 of the md5 string forced into a
    * namespace disjoint from the < 2^31 LSH band keys. The key only
    * SEEDS the bucket join — matches verify by exact text_md5
    * equality, so a 64-bit collision can never merge clusters. */
  private def md5Key(md5Col: Column): Column =
    xxhash64(md5Col).bitwiseAND(lit(0x3FFFFFFFFFFFFFFFL)).bitwiseOR(lit(1L << 62))

  /** Batch preparation: (CHECKPOINTED star edges from the md5 pregroup,
    * CHECKPOINTED band rows). Band rows = the LSH bands of eligible
    * reps PLUS one md5 row (band = -1) for EVERY rep; the checkpoints
    * matter — bands feed the pair join (which scans twice) plus the
    * probe/index writes (CLAUDE.md multi-consumer invariant).
    *
    * Band keys and the md5 digest compute MAP-SIDE off the scan, so
    * the checkpointed projection — (doc_id, 32-char md5, <= bands
    * 8-byte keys) — is all that ever shuffles: the full text column
    * never leaves the scan (it used to ride the pregroup join, a
    * corpus-text shuffle at state-build time). Signatures compute per
    * DOC, not per rep — identical texts produce identical keys, so the
    * rep band rows are unchanged; the trade is minhash CPU on
    * duplicate copies for zero text bytes on any exchange. The narrow
    * checkpoint is unpersisted HERE once both derived checkpoints have
    * materialized (leaking one per micro-batch inflates executor
    * storage batch over batch). */
  private[text] def prepareBatch(docs: DataFrame): (DataFrame, DataFrame) = {
    val keyed = docs.select(col("doc_id").cast("long").as("doc_id"),
        md5(col("text")).as("text_md5"),
        when(TextOps.lshEligible(col("text")),
          TextOps.minhashBandKeys(col("text"), TextOps.LshShingle,
            TextOps.LshBands, TextOps.LshRows))
          .otherwise(typedLit(Array.empty[Long])).as("bks"))
      .localCheckpoint(true)
    try {
      val groups = keyed.groupBy(col("text_md5")).agg(min(col("doc_id")).as("grep"))
      val withRep = keyed.join(groups, "text_md5")
      val starEdges = withRep.filter(col("doc_id") =!= col("grep"))
        .select(col("doc_id").as("a"), col("grep").as("b"))
        .localCheckpoint(true)
      val reps = withRep.filter(col("doc_id") === col("grep"))
      val lshBands = reps.select(col("doc_id"), col("text_md5"),
        posexplode(col("bks")).as(Seq("band", "band_key")))
      val md5Bands = reps.select(col("doc_id"), col("text_md5"),
        lit(-1).as("band"), md5Key(col("text_md5")).as("band_key"))
      val bands = lshBands.unionByName(md5Bands).localCheckpoint(true)
      (starEdges, bands)
    } finally keyed.unpersist()
  }

  /** In-batch near-dup pairs from prepared band rows: the capped LSH
    * pair join over the LSH rows only (md5 rows are redundant in-batch
    * — identical texts already collapsed into one rep). */
  private def batchPairs(bands: DataFrame): DataFrame =
    TextOps.cappedCandidatePairs(
      bands.filter(col("band") =!= -1).select(col("doc_id"), col("band_key")),
      "band_key", cap = TextOps.LshCap)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))

  /** Build the persisted state: batch-cluster `docs` (md5 pregroup +
    * capped LSH pairs + connected components — the q42 partition),
    * land the bucketed band index and the labels, return the labels. */
  def writeTextDedupState(docs: DataFrame, dir: String, table: String,
                          buckets: Int): DataFrame = {
    val spark = docs.sparkSession
    val (starEdges, bands) = prepareBatch(docs)
    val comp = graft.ops.Components
      .connectedComponents(starEdges.unionByName(batchPairs(bands)))
      .withColumnRenamed("node", "doc_id")
    val labels = docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
      .localCheckpoint(true)
    // the rebuild takes the SAME per-corpus lease the appenders hold:
    // an unguarded DROP + overwrite interleaving with a concurrent
    // append's saveAsTable would mix two state generations under one
    // bucket spec — the exact two-writer corruption the lease exists for
    val lease = graft.ops.StateLease.acquire(dir)
    try {
      graft.ops.StateLease.checkFenced(lease)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      bands
        .join(labels, "doc_id")
        .select(col("band"), col("band_key"), col("text_md5"), col("rep"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "band_key").sortBy("band_key")
        .option("path", s"$dir/bands").saveAsTable(table)
      labels.write.mode("overwrite").parquet(s"$dir/labels")
      graft.ops.StateLease.checkFenced(lease)
    } finally graft.ops.StateLease.release(lease)
    labels
  }

  /** Dedup a NEW batch against the persisted band index WITHOUT
    * touching the old corpus: within the batch, the full md5-pregroup +
    * capped-LSH clustering; across the boundary, the batch's band rows
    * (LSH + md5) probe the BUCKETED index (corpus side never shuffles;
    * only (doc_id, band_key) rows do) — a shared LSH band key IS a
    * match (the batch criterion) and md5 rows match on verified exact
    * text, so boundary semantics equal re-clustering the union for
    * eligible AND ineligible docs. Old labels are sticky; bridges emit
    * merges (see ops.StickyLabels). Returns (labels(doc_id, rep),
    * merges(rep_a, merged_rep), bands) — `bands` are the batch's
    * checkpointed band rows, which [[appendTextDedupState]] takes, so a
    * batch that is dedup'd and then folded into the state hashes each
    * document ONCE. */
  def incrementalTextDedup(newDocs: DataFrame, bandsTable: String):
      (DataFrame, DataFrame, DataFrame) = {
    val spark = newDocs.sparkSession
    val (starEdges, bands) = prepareBatch(newDocs)
    // boundary probe: batch band rows join the bucketed index; md5-band
    // hits additionally verify exact text equality. The hit set is
    // candidate-sized and checkpointed — the edge list AND the old-rep
    // set both derive from it, and nothing ever scans the index in full
    val idx = spark.table(bandsTable)
      .select(col("band").as("i_band"), col("band_key"),
        col("text_md5").as("i_md5"), col("rep"))
    val probeHits = bands.select(col("doc_id"), col("text_md5"), col("band_key"))
      .join(idx, "band_key")
      .filter(col("i_band") =!= -1 || col("i_md5") === col("text_md5"))
      .select(col("doc_id"), col("rep"))
      .distinct()
      .localCheckpoint(true)
    val newOldEdges = probeHits.select(col("doc_id").as("a"), col("rep").as("b"))
    val oldReps = probeHits.select(col("rep").as("rep_nid"), col("rep")).distinct()
    val comp = graft.ops.Components.connectedComponents(
      starEdges.unionByName(batchPairs(bands)).unionByName(newOldEdges))
    val ids = newDocs.select(col("doc_id").cast("long").as("doc_id"))
      .withColumn("nid", col("doc_id"))
    val (labels, merges) = graft.ops.StickyLabels.resolve(comp, oldReps, ids, "doc_id")
    (labels, merges, bands)
  }

  /** Fold a processed batch into the state so the NEXT batch sees it:
    * from the batch's `bands` (as [[incrementalTextDedup]] returns
    * them), append band rows for the batch's distinct-md5 rep docs
    * whose text is NOT already indexed (presence = exact text_md5 match
    * through the md5-band bucket join — covers LSH-ineligible docs too,
    * and the corpus side stays shuffle-free), labeled with the batch's
    * FINAL reps; plus the labels (skippable via `writeLabels` for
    * callers with their own idempotent label sink). Single-writer per
    * corpus, enforced by ops.StateLease. */
  def appendTextDedupState(bands: DataFrame, newLabels: DataFrame,
                           bandsTable: String, dir: String, buckets: Int,
                           writeLabels: Boolean = true): Unit = {
    val lease = graft.ops.StateLease.acquire(dir)
    try {
      graft.ops.StateLease.checkFenced(lease)
      val spark = bands.sparkSession
      val idxMd5 = spark.table(bandsTable).filter(col("band") === -1)
        .select(col("band_key"), col("text_md5").as("old_md5"))
      val fresh = bands.filter(col("band") === -1)
        .join(idxMd5, Seq("band_key"), "left")
        .groupBy(col("doc_id"), col("text_md5"))
        .agg(max(when(col("old_md5") === col("text_md5"), 1).otherwise(0)).as("present"))
        .filter(col("present") === 0)
        .select(col("doc_id"))
      bands.join(fresh, "doc_id")
        .join(newLabels.select(col("doc_id").cast("long").as("doc_id"), col("rep")), "doc_id")
        .select(col("band"), col("band_key"), col("text_md5"), col("rep"))
        .write.mode("append").format("parquet")
        .bucketBy(buckets, "band_key").sortBy("band_key")
        .option("path", s"$dir/bands").saveAsTable(bandsTable)
      if (writeLabels) newLabels.write.mode("append").parquet(s"$dir/labels")
      // post-write fence check (see StateLease scaladoc): fail loudly if
      // the lease was stale-stolen while this append ran
      graft.ops.StateLease.checkFenced(lease)
    } finally graft.ops.StateLease.release(lease)
  }
}
