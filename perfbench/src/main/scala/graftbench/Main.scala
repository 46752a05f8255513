package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One closed-loop operation's record. `key` and `check` are its output
  * check: operations with the same key must produce the same check, and
  * the checks recorded for the seed (golden.json) pin them across
  * commits. */
final case class Check(units: Long, ok: Boolean, key: String, check: String)

trait Workload {
  /** True while operation i must still run after `--seconds` has
    * passed (e.g. to complete one whole round of a call mix). */
  def unfinished(i: Int): Boolean = i == 0
  def kind(i: Int): String
  /** Input synthesis and untimed warm-up running the timed calls. */
  def prepare(dir: String): Unit
  /** Untimed work before operation i (e.g. landing an input batch). */
  def before(i: Int): Unit = ()
  /** The timed operation. */
  def run(i: Int): Unit
  /** Untimed output check of operation i. */
  def check(i: Int): Check
  /** After the loop: extra per-layer counters and a final output digest. */
  def finish(traced: Boolean): (Map[String, Any], String)
}

/** Benchmark driver: one workload, one seed, one client thread in a
  * closed loop on local[nproc]; prints one JSON run record prefixed by
  * `PERFBENCH_RECORD ` as the last line of standard output.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> */
object Main {
  def session(cpus: Int, localDir: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", localDir)
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(name, seedS, secondsS, traceS, work) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val tracing = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val t0 = System.nanoTime()
    val spark = session(cpus, s"$work/spark-local")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = jvmStartS + (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark.sparkContext)
    val wl: Workload = name match {
      case "pyramid_build" => new PyramidBuild(spark, seed, trace)
      case "spatial_queries" => new SpatialQueries(spark, seed, trace)
      case "tile_refresh" => new TileRefresh(spark, seed, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val p0 = System.nanoTime()
    wl.prepare(s"$work/data")
    val prepareS = (System.nanoTime() - p0) / 1e9

    val ops = ArrayBuffer.empty[Map[String, Any]]
    val errors = ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val seen = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)
    var i = 0
    while (System.nanoTime() < deadline || wl.unfinished(i)) {
      // traced runs trace every other operation of each kind, starting
      // with the first, so every kind is traced and the tracing overhead
      // is measured inside one run
      val kind = wl.kind(i)
      val traced = tracing && seen(kind) % 2 == 0
      seen(kind) += 1
      wl.before(i)
      var ran = true
      val span = trace.op(i, kind, traced) {
        try wl.run(i)
        catch { case NonFatal(e) => ran = false; errors += s"op $i ($kind): $e" }
      }
      val c =
        if (!ran) Check(0, ok = false, "", "")
        else try wl.check(i)
        catch { case NonFatal(e) => errors += s"check $i ($kind): $e"; Check(0, ok = false, "", "") }
      ops += Map("i" -> i, "kind" -> kind, "lat_s" -> span.wallS, "ok" -> c.ok,
        "units" -> c.units, "traced" -> traced, "key" -> c.key, "check" -> c.check)
      i += 1
    }

    val f0 = System.nanoTime()
    val (extras, finalCheck) =
      try wl.finish(tracing)
      catch { case NonFatal(e) => errors += s"finish: $e"; (Map.empty[String, Any], "") }
    val finishS = (System.nanoTime() - f0) / 1e9
    val spans = if (tracing) trace.summary() else Nil
    val peakRssMb = Host.peakRssMb()
    val host = Map(
      "nproc" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1e6,
      "cpu_probe_s" -> graft.Bench.cpuProbe(cpus),
      "mem_probe_s" -> graft.Bench.memProbe(cpus))
    spark.stop()

    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> tracing,
      "host" -> host,
      "session_s" -> sessionS, "prepare_s" -> prepareS, "finish_s" -> finishS,
      "peak_rss_mb" -> peakRssMb,
      "ops" -> ops, "errors" -> errors, "final_check" -> finalCheck,
      "extras" -> extras, "spans" -> spans)
    println("PERFBENCH_RECORD " + Json(record))
    System.out.flush()
  }
}

object Host {
  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }
}
