package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One timed interval: a call into a layer, a Spark job or a Spark stage.
  * Times are epoch milliseconds with sub-millisecond fractions, so spans
  * recorded by the benchmark and events posted by Spark share one clock. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

final case class StageRec(stageId: Int, submit: Double, complete: Double, tasks: Int,
                          runMs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)
final case class TaskRec(stageId: Int, launch: Double, finish: Double)
final case class JobRec(jobId: Int, start: Double, var end: Double, stageIds: Seq[Int])

/** Collects jobs, stages and tasks while attached. Buffers are appended on
  * the listener-bus thread and read on the driver thread after
  * `Bus.drain`, so every access holds the recorder's lock. */
final class SparkRecorder extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]

  def reset(): Unit = synchronized { jobs.clear(); stages.clear(); tasks.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time.toDouble, Double.NaN, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val (run, gc, sw, spill) =
      if (m == null) (0L, 0L, 0L, 0L)
      else (m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    val submit = si.submissionTime.getOrElse(0L).toDouble
    stages += StageRec(si.stageId, submit, si.completionTime.map(_.toDouble).getOrElse(submit),
      si.numTasks, run, gc, sw, spill)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble)
  }
}

/** Spark-side totals over a window of wall time. */
final case class SparkWindow(jobs: Int, stages: Int, tasks: Int, executorCoreS: Double,
                             driverGapS: Double, gcS: Double, shuffleWriteMb: Double,
                             spillMb: Double, maxTaskS: Double, taskSkew: Double)

/** Records spans around the benchmark's calls into each layer. Disabled,
  * `span` only runs its body, and no listener is attached. Spans stay in
  * memory; `write` puts them out, with the Spark jobs and stages attached
  * as children of the innermost span open when each job started. */
final class Tracer(sc: SparkContext) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val recorder = new SparkRecorder
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var attached = false
  private var archivedJobs = Vector.empty[JobRec]
  private var archivedStages = Vector.empty[StageRec]

  def enabled: Boolean = attached

  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def enable(): Unit = if (!attached) { sc.addSparkListener(recorder); attached = true }

  def disable(): Unit = if (attached) {
    drain(); sc.removeSparkListener(recorder); attached = false
  }

  def drain(): Unit = if (attached) org.apache.spark.graftperf.Bus.drain(sc)

  /** Starts a new measured window: drops the stage and task data collected
    * so far, keeping jobs and stages for the span file. */
  def resetWindow(): Unit = {
    drain()
    recorder.synchronized {
      archivedJobs ++= recorder.jobs; archivedStages ++= recorder.stages
    }
    recorder.reset()
  }

  def span[A](name: String)(body: => A): A =
    if (!attached) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, name, now(), Double.NaN)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = now())
      }
    }

  def spansNamed(name: String): Seq[Span] = spans.toSeq.filter(s => s.name == name && !s.end.isNaN)

  /** Jobs that started inside `s`. */
  def jobsIn(s: Span): Int = { drain(); recorder.synchronized(recorder.jobs.count(j => j.start >= s.start && j.start <= s.end)) }

  /** Totals over [from, to] from the stages and tasks recorded since the
    * last `resetWindow`. The driver gap is the part of the window during
    * which no stage was running. */
  def window(from: Double, to: Double): SparkWindow = {
    drain()
    recorder.synchronized {
      val st = recorder.stages.filter(s => s.submit >= from && s.complete <= to).toSeq
      val tk = recorder.tasks.filter(t => t.launch >= from && t.finish <= to).toSeq
      val jb = recorder.jobs.count(j => j.start >= from && j.start <= to)
      val busy = Tracer.unionLength(st.map(s => (s.submit, s.complete)), from, to)
      val durs = tk.map(t => (t.finish - t.launch) / 1e3).sorted
      val maxTask = durs.lastOption.getOrElse(0.0)
      val medTask = if (durs.isEmpty) 0.0 else Stats.median(durs)
      SparkWindow(jb, st.length, tk.length, st.map(_.runMs).sum / 1e3,
        math.max(0.0, (to - from) - busy) / 1e3, st.map(_.gcMs).sum / 1e3,
        st.map(_.shuffleWriteBytes).sum / 1048576.0, st.map(_.spillBytes).sum / 1048576.0,
        maxTask, if (medTask > 0) maxTask / medTask else 0.0)
    }
  }

  /** Benchmark spans plus the Spark jobs and stages seen while tracing,
    * each job placed under the innermost span open when it started. */
  def allSpans(): Seq[Span] = {
    drain()
    val (jobs, stages) = recorder.synchronized {
      (archivedJobs ++ recorder.jobs, archivedStages ++ recorder.stages)
    }
    val out = ArrayBuffer.empty[Span] ++ spans.filter(!_.end.isNaN)
    val byStage = stages.map(s => s.stageId -> s).toMap
    jobs.foreach { j =>
      val host = out.filter(s => !s.name.startsWith("spark.") && s.start <= j.start && j.start <= s.end)
        .sortBy(_.start).lastOption.map(_.id).getOrElse(-1)
      val jid = out.length
      out += Span(jid, host, s"spark.job", j.start, if (j.end.isNaN) j.start else j.end)
      j.stageIds.flatMap(byStage.get).foreach { st =>
        out += Span(out.length, jid, "spark.stage", st.submit, st.complete)
      }
    }
    out.toSeq
  }

  /** Span minus the part of it its children cover. */
  def selfTimes(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Tracer.unionLength(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end)
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val all = allSpans()
    val self = selfTimes(all)
    val lines = all.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.start}%.3f,""" +
        f""""end_ms":${s.end}%.3f,"self_ms":${self(s.id)}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Length of the union of intervals, clipped to [from, to]. */
  def unionLength(iv: Seq[(Double, Double)], from: Double, to: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }.filter(p => p._2 > p._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
