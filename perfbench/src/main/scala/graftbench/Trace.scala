package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One span per public call the benchmark makes. Spans nest: an op span
  * (one closed-loop operation) holds the layer spans of the calls it
  * made. Every span runs under its own Spark job group
  * `perfbench:<span id>`; the listener, attached only while a traced op
  * runs, files each job under that group's span, or, for jobs started
  * on threads the benchmark does not own (a streaming query's own
  * thread), under the innermost span open at the job's start time. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val traced: Boolean, val t0Ns: Long, val t0Ms: Long) {
  @volatile var t1Ns: Long = -1L
  @volatile var t1Ms: Long = Long.MaxValue
  def wallS: Double = (t1Ns - t0Ns) / 1e9
}

private final class JobRec(val span: Int, val startMs: Long) {
  var endMs: Long = -1L
}

private final class StageAcc {
  var execMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final class Trace(sc: SparkContext) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var curOp = -1
  private var curTraced = false
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, StageAcc]

  /** Run one closed-loop operation as a top-level span; with `traced`
    * the listener records its jobs, stages and tasks. */
  def op(index: Int, kind: String, traced: Boolean)(body: => Unit): Span = {
    curOp = index
    curTraced = traced
    if (traced) sc.addSparkListener(this)
    var opSpan: Span = null
    try span("op:" + kind) { opSpan = synchronized(stack.head); body }
    finally if (traced) {
      // hand over every event of this op before detaching
      org.apache.spark.BusDrain(sc)
      sc.removeSparkListener(this)
    }
    opSpan
  }

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val sp = new Span(spans.size, name, parent, curOp, curTraced,
        System.nanoTime(), System.currentTimeMillis())
      spans += sp
      stack = sp :: stack
      sp
    }
    sc.setJobGroup("perfbench:" + s.id, name)
    try body
    finally {
      s.t1Ns = System.nanoTime()
      s.t1Ms = System.currentTimeMillis()
      synchronized { stack = stack.tail }
      stack.headOption match {
        case Some(p) => sc.setJobGroup("perfbench:" + p.id, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def spanAt(ms: Long): Int = {
    var i = spans.size - 1
    while (i >= 0) {
      val s = spans(i)
      if (s.t0Ms <= ms && ms <= s.t1Ms) return i
      i -= 1
    }
    -1
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a pooled thread (Knn's bounds probe) can carry the group of the
    // span that first used it: trust the group only inside its span
    val group: String = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val tagged =
      if (group != null && group.startsWith("perfbench:")) group.stripPrefix("perfbench:").toInt
      else -1
    val span =
      if (tagged >= 0 && spans(tagged).t0Ms <= e.time && e.time <= spans(tagged).t1Ms) tagged
      else spanAt(e.time)
    jobs(e.jobId) = new JobRec(span, e.time)
    e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.execMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.diskBytesSpilled
      a.inputRecords += m.inputMetrics.recordsRead
    }
  }

  /** Per-span aggregates over the span and its descendants, for the
    * spans of traced ops: wall, jobs, the time no job of the span was
    * running (driver-side planning and scheduling), executor time, GC,
    * shuffle and spill, records read, and the task times of the
    * span's heaviest result stage (for the skew ratio). */
  def summary(): Seq[Map[String, Any]] = synchronized {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Set[Int] =
      children.getOrElse(s.id, Nil).foldLeft(Set(s.id))(_ ++ subtree(_))
    spans.toSeq.filter(_.traced).map { s =>
      val ids = subtree(s)
      val js = jobs.values.filter(j => ids.contains(j.span)).toSeq
      val intervals = js.map(j => (math.max(j.startMs, s.t0Ms),
        math.min(if (j.endMs < 0) s.t1Ms else j.endMs, s.t1Ms)))
      val st = stages.toSeq.filter { case (id, _) => stageSpan.get(id).exists(ids.contains) }
      val (mapSt, resSt) = st.partition(_._2.shuffleWriteRecords > 0)
      val heaviestResult = resSt.sortBy(-_._2.execMs).headOption
      Map(
        "name" -> s.name, "id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "wall_s" -> s.wallS,
        "jobs" -> js.size,
        "job_s" -> Trace.unionMs(intervals) / 1e3,
        "exec_s" -> st.map(_._2.execMs).sum / 1e3,
        "gc_s" -> st.map(_._2.gcMs).sum / 1e3,
        "shuffle_write_mb" -> st.map(_._2.shuffleWriteBytes).sum / 1e6,
        "spill_mb" -> st.map(_._2.spillBytes).sum / 1e6,
        "input_records" -> st.map(_._2.inputRecords).sum,
        "map_exec_s" -> mapSt.map(_._2.execMs).sum / 1e3,
        "result_exec_s" -> resSt.map(_._2.execMs).sum / 1e3,
        // the last shuffle written before the result stage: for a
        // render, the tile commands
        "last_map_records" -> mapSt.sortBy(_._1).lastOption.map(_._2.shuffleWriteRecords).getOrElse(0L),
        "result_task_ms" -> heaviestResult.map(_._2.taskMs.toSeq).getOrElse(Nil))
    }
  }
}

object Trace {
  /** Total length of the union of [lo, hi] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    iv.filter { case (lo, hi) => hi > lo }.sortBy(_._1).foreach { case (lo, hi) =>
      if (lo > curHi) {
        if (curHi > curLo) total += curHi - curLo
        curLo = lo; curHi = hi
      } else if (hi > curHi) curHi = hi
    }
    if (curHi > curLo) total += curHi - curLo
    total
  }
}
