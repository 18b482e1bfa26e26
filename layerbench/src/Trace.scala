package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** One timed region. `kind` is `build` (the call into the layer), `exec`
  * (the returned frame written to the `noop` sink), `pass` (one pass's
  * root) or `check` (an untimed output check). Times are epoch ms;
  * `pinnedMb` is what the span left persisted (after minus before, traced
  * spans only). */
final case class Span(
    id: Long, layer: String, op: String, kind: String, pass: Int,
    start: Double, end: Double, parent: Long, pinnedMb: Double) {
  def name: String = s"$layer.$op.$kind"
  def seconds: Double = (end - start) / 1000
}

final case class Job(id: Int, group: String, start: Long, var end: Long)

final class Stage(val group: String) {
  var submitted = 0L; var completed = 0L
  var taskMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L; var outBytes = 0L
  val taskTimes = mutable.ArrayBuffer.empty[Long]
  def duration: Long = completed - submitted
}

/** Jobs, stages and tasks, keyed by the job group each span sets. The
  * listener bus delivers on one thread; reads happen after a drain. */
final class JobLog extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, group(e.properties), e.time, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(group(e.properties)))
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.completed =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.taskMs += m.executorRunTime
      s.taskTimes += m.executorRunTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Records spans around the benchmark's calls into each layer. With
  * `traced` on, each span also sets a job group that the [[JobLog]] uses
  * to attribute jobs, stages and tasks to it, and samples the bytes
  * persisted before and after it. With it off, only wall times are taken. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val log = new JobLog
  private var traced = false
  private var nextId = 0L
  private var parent = -1L
  private var passNo = 0
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  private def now: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  def group(id: Long): String = s"graftbench-$id"

  def setTraced(on: Boolean): Unit = if (on != traced) {
    if (on) sc.addSparkListener(log) else { drain(); sc.removeSparkListener(log) }
    traced = on
  }

  def drain(): Unit = if (traced) org.apache.spark.graftbench.ListenerBus.drain(sc)

  /** Bytes held by persisted RDDs (memory plus disk), in MB. */
  def pinnedMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def persistedRdds(): Int = sc.getPersistentRDDs.size

  def span[T](layer: String, op: String, kind: String)(f: => T): T = {
    val id = nextId; nextId += 1
    val outer = parent
    parent = id
    if (traced) sc.setJobGroup(group(id), s"$layer.$op.$kind", interruptOnCancel = false)
    val pinnedBefore = if (traced && kind != "pass") pinnedMb() else Double.NaN
    val start = now
    try f
    finally {
      val end = now
      if (traced) sc.clearJobGroup()
      parent = outer
      if (outer >= 0 && traced) sc.setJobGroup(group(outer), "", interruptOnCancel = false)
      spans += Span(id, layer, op, kind, passNo, start, end, outer,
        if (pinnedBefore.isNaN) Double.NaN else pinnedMb() - pinnedBefore)
    }
  }

  /** One pass, the root span that build and exec spans hang under; returns its seconds. */
  def pass(no: Int)(f: => Unit): Double = {
    passNo = no
    span("bench", s"pass$no", "pass")(f)
    spans.last.seconds
  }

  def build[T](layer: String, op: String)(f: => T): T = span(layer, op, "build")(f)

  /** exec: write every column of the frame to the `noop` sink. */
  def exec(layer: String, op: String, df: DataFrame): Unit =
    span(layer, op, "exec")(df.write.format("noop").mode("overwrite").save())

  def check[T](op: String)(f: => T): T = span("check", op, "check")(f)
}
