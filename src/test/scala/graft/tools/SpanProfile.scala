package graft.tools

import org.apache.spark.sql.functions._

/** Test-scope: duplicate-span timings, whole operator vs the windowed
  * projection alone, at a given sf dir. */
object SpanProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
    }
    // warm
    graft.text.TextOps.duplicateSpans(docs, 30, 64).count()
    (0 until 2).foreach { _ =>
      time("spans     ")(graft.text.TextOps.duplicateSpans(docs, 30, 64).count())
      time("proj only ")(graft.text.TextOps.duplicateSpansProjection(docs, 30).localCheckpoint(true).count())
    }
    spark.stop()
  }
}
