package graft.tools

import org.apache.spark.sql.functions._

/** One-off band-phase profiler (Test/runMain graft.tools.BandProfile
  * [dedupInputDir]): times the image-dedup sub-stages the bench's
  * phase split can't separate — pregroup, level-1 banding+stats,
  * candidate pairs, Hamming verify — so optimization targets the
  * measured stage, not a guess. */
object BandProfile {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/tmp/graft_bench/images_dedup_0.1")
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val images = spark.read.parquet(path)
    // decode once (untimed warmup of the same kernels), then timed
    val ids = graft.media.Media.dhashes(images)
    println(s"[profile] input rows: ${ids.count()}")
    (0 until 2).foreach { rep =>
      println(s"[profile] --- rep $rep ---")
      val hashes = timed("pregroup (groupBy dhash + join + checkpoint)") {
        // the nid-only pregroup: no image_id on the shuffle or checkpoint
        val slim = ids.select(col("nid"), col("dhash"))
        val groups = slim.groupBy(col("dhash")).agg(min(col("nid")).as("grep"))
        val withRep = slim.join(groups, "dhash").localCheckpoint(true)
        val reps = withRep.filter(col("nid") === col("grep"))
          .select(col("nid"), col("dhash")).localCheckpoint(true)
        println(s"  distinct hashes: ${reps.count()}")
        reps
      }
      val banded = hashes.select(col("nid").as("doc_id"),
        lit(0L).as("key"), col("dhash").as("resid"))
      timed("level-1 explode + bucket stats (groupBy key)") {
        // the same six-subband shape bandPairs builds at level 1
        val cs = 16
        val mask = (1L << cs) - 1
        def chunk(n: Int) = shiftrightunsigned(col("resid"), n * cs).bitwiseAND(lit(mask))
        val pairsIdx = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
        val sub = banded.select(col("doc_id"),
          explode(array(pairsIdx.zipWithIndex.map { case ((i, j), b) =>
            lit(b.toLong << 32).bitwiseOR(shiftleft(chunk(i), cs)).bitwiseOR(chunk(j))
          }: _*)).as("key"))
        val collided = sub.groupBy("key").agg(count(lit(1)).as("bcnt"))
          .filter(col("bcnt") >= 2).count()
        println(s"  collided buckets: $collided")
      }
      timed("full edge build (pregroup + banded pairs + Hamming verify)") {
        println(s"  edges: ${graft.media.Media.dupEdges(ids, 2)._1.count()}")
      }
    }
    spark.stop()
  }
}
