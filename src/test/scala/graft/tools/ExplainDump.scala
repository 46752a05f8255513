package graft.tools

import org.apache.spark.sql.functions._
import graft.core.{Cell, RenderParams}
import graft.render.Render
import graft.tables.ImageTable

/** Prints the executed physical plans of the two render shapes on a
  * generated corpus, so a render refactor can be diffed plan-for-plan:
  *   1. renderPyramid z0-10 over a ranked parquet snapshot (the bulk
  *      tileset build);
  *   2. the multi-zoom renderTiles call of an incremental refresh
  *      (StreamOps.incrementalTiles): z13-16, restricted to the tiles a
  *      small append touches, over a cell-range filtered snapshot scan;
  * plus the formatted plan of one tile range scan.
  *
  *   sbt "Test/runMain graft.tools.ExplainDump"
  */
object ExplainDump {
  /** Generated corpus size: the plans under plans/render_emitter/ use it. */
  val rows = 20000L

  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session(4)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("explaindump").toString
    val snap = s"$dir/ranked"
    Render.writeRankedSnapshot(
      ImageTable.generateGeo(spark, rows).toDF().select(col("cell"), col("meta")), snap)
    val p = RenderParams()

    val pyramid = Render.renderPyramid(Render.readRankedSnapshot(spark, snap), 0 to 10, 48, p)
    pyramid.collect() // runs this plan, so the adaptive plan is final
    println("=== renderPyramid z0-10 executed plan ===")
    println(pyramid.queryExecution.executedPlan)

    // an appended batch: its own tiles at every refreshed zoom, read
    // through the coalesced z13 ancestor ranges (the incremental shape)
    val zooms = 13 to 16
    val batch = ImageTable.generateGeo(spark, 20, seed = 7L).map(_.cell).collect()
    val affected = (for (c <- batch; z <- zooms) yield
      Cell.tileKey(z, Cell.tileX(c, z), Cell.tileY(c, z))).toSet
    val cond = batch.map { c =>
      val (x, y) = (Cell.tileX(c, zooms.min), Cell.tileY(c, zooms.min))
      col("cell").between(Cell.tileRangeLo(zooms.min, x, y), Cell.tileRangeHi(zooms.min, x, y))
    }.reduce(_ || _)
    val affectedB = spark.sparkContext.broadcast(affected)
    val refresh = Render.renderTiles(Some(spark.read.parquet(snap).filter(cond)), None, zooms, 48, p,
      only = Some(k => affectedB.value.contains(k)))
    refresh.collect()
    println("=== incremental refresh renderTiles z13-16 executed plan ===")
    println(refresh.queryExecution.executedPlan)

    val scan = graft.query.TileOps.tileRangeScan(spark.read.parquet(snap), 6, 11, 23)
    println("=== range scan formatted ===")
    println(scan.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    spark.stop()
  }
}
