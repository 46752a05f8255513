package graft.tools

import org.apache.spark.sql.functions._

/** One-shot throughput probe for the perceptual dedup pipeline at a
  * given image-table path and core count:
  *   sbt "Test/runMain graft.tools.DedupDrive <imgPath> <cpus>"
  * Prints images, seconds (total and the decode/band phases),
  * images/sec and the count of non-rep images. */
object DedupDrive {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val cpus = args(1).toInt
    val spark = graft.Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // the probe table may have few files; shrink the split size so the
    // decode pass can feed every core (at real scale the ingest layout
    // provides the parallelism)
    spark.conf.set("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
    val imgs = spark.read.parquet(path)
    val n = imgs.count()
    val t0 = System.nanoTime()
    val (labels, decodeSec, bandSec) =
      graft.media.Media.imageDupClustersPhased(imgs, maxHamming = 2)
    val dup = labels.filter(col("image_id") =!= col("rep")).count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[dedup] images=$n sec=$sec%.2f decode_s=$decodeSec%.2f band_s=$bandSec%.2f " +
      f"images_per_sec=${n / sec}%.0f non_rep=$dup")
    spark.stop()
  }
}
