package org.apache.spark {
  /** Waits for the listener bus (private[spark]) to deliver every event. */
  object DedupPlanBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft.tools {

  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.util.QueryExecutionListener
  import org.apache.spark.sql.execution.QueryExecution
  import graft.tables.ImageTable

  /** Prints the executed physical plan of every action one
    * `Media.imageDupClustersPhased` call runs (the decode checkpoint, the
    * pregroup and banding checkpoints, the components rounds and the
    * final label collect), normalized so two source versions can be
    * diffed plan-for-plan: expression ids, plan ids, lambda addresses
    * and the temp path are replaced by fixed tokens. The corpus is the
    * bench's dedup shape: 2000 generated payloads plus PNG re-encodes
    * of every 50th, read back from parquet.
    *
    *   sbt "Test/runMain graft.tools.DedupPlanDump"
    */
  object DedupPlanDump {
    val rows = 2000L

    def normalize(plan: String, dir: String): String = plan
      .replace(dir, "/tmp/dedupplan")
      .replaceAll("#\\d+", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("\\$\\$Lambda[$/0-9a-fx@]*", "\\$\\$Lambda")
      .replaceAll("\\[\\d+\\] at ", "[N] at ")

    def main(args: Array[String]): Unit = {
      val spark = graft.Bench.session(4)
      spark.sparkContext.setLogLevel("WARN")
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("dedupplan").toString
      val path = s"$dir/images"
      val imgs = ImageTable.generate(spark, rows, seed = 0L, partitions = 4).toDF()
        .select("image_id", "bytes", "w", "h", "fmt")
      val dups = imgs.filter(pmod(xxhash64(col("image_id")), lit(50)) === 0)
        .as[(String, Array[Byte], Int, Int, String)]
        .map { case (id, b, w, h, fmt) =>
          (id + "_re", graft.media.Media.reencodePng(graft.media.Media.decode(id, b, w, h, fmt)),
            w, h, "png")
        }.toDF("image_id", "bytes", "w", "h", "fmt")
      imgs.unionByName(dups).write.parquet(path)

      val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val listener = new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          plans.add(funcName -> qe.executedPlan.toString)
        def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val (labels, _, _) = graft.media.Media.imageDupClustersPhased(spark.read.parquet(path))
      val n = labels.collect().length
      org.apache.spark.DedupPlanBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
      println(s"=== imageDupClustersPhased over ${rows} payloads + re-encodes: $n labels ===")
      plans.toArray(Array.empty[(String, String)]).zipWithIndex.foreach { case ((f, p), i) =>
        println(s"=== action ${i + 1}: $f ===")
        println(normalize(p, dir))
      }
      spark.stop()
    }
  }
}
