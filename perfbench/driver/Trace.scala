package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One span of the benchmark's trace: a workload, a step inside it, a
  * Spark job started by the step, or a stage of that job. Times are
  * epoch microseconds (driver steps) or epoch milliseconds scaled to
  * microseconds (listener events).
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      start: Long, end: Long)

/** Job and stage accounting from the listener bus, attributed to the
  * benchmark step that was current on the submitting thread.
  *
  * Attribution uses a local property ([[Recorder.StepKey]]) that
  * [[Tracer.step]] sets around each call: `onJobStart` reads it from
  * the job's properties and the bus delivers events in order, so a
  * stage that completes after the driver moved on still lands on the
  * step that started it. Totals are read only after [[Recorder.drain]]:
  * the marker job's start is processed after every earlier event.
  */
final class Recorder extends SparkListener {
  final class Job(val id: Int, val step: Int, val start: Long, val stageIds: Seq[Int],
                  val checkpoint: Boolean) {
    var end = 0L
  }
  final class Stage(val id: Int, val job: Int) {
    var submit = 0L; var complete = 0L; var tasks = 0; var failedTasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var input = 0L; var output = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** SQL execution id -> step, from the properties of the jobs it ran. */
  val execStep = mutable.Map.empty[Long, Int]
  private val sched = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val failed = mutable.Map.empty[Int, Int].withDefaultValue(0)
  @volatile var flushSeen = 0
  /** Step of the last job the bus delivered (bus thread only). */
  var lastJobStep = -1

  private def stepOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Recorder.StepKey))).map(_.toInt).getOrElse(-1)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val flush = Option(j.properties).flatMap(p => Option(p.getProperty(Recorder.FlushKey)))
    flush match {
      case Some(token) => flushSeen = token.toInt
      case None =>
        // an eager Materialize checkpoint is the job whose call site is
        // Materialize.scala (Spark names stages after the first user frame)
        val ckpt = j.stageInfos.exists(_.name.contains("Materialize.scala"))
        val step = stepOf(j.properties)
        lastJobStep = step
        jobs(j.jobId) = new Job(j.jobId, step, j.time, j.stageIds, ckpt)
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(e => execStep.getOrElseUpdate(e.toLong, step))
        j.stageIds.foreach(stageJob(_) = j.jobId)
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    jobs.get(j.jobId).foreach(_.end = j.time)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val i = t.taskInfo
    if (t.reason != org.apache.spark.Success) failed(t.stageId) += 1
    val m = t.taskMetrics
    if (m != null) {
      val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime +
        i.gettingResultTime
      sched(t.stageId) += math.max(0L, i.duration - busy)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val s = new Stage(si.stageId, stageJob.getOrElse(si.stageId, -1))
    s.submit = si.submissionTime.getOrElse(0L)
    s.complete = si.completionTime.getOrElse(s.submit)
    s.tasks = si.numTasks
    s.failedTasks = failed(si.stageId)
    s.schedMs = sched(si.stageId)
    val m = si.taskMetrics
    if (m != null) {
      s.runMs = m.executorRunTime; s.cpuNs = m.executorCpuTime; s.gcMs = m.jvmGCTime
      s.shuffleRead = m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      s.spill = m.diskBytesSpilled + m.memoryBytesSpilled
      s.input = m.inputMetrics.bytesRead
      s.output = m.outputMetrics.bytesWritten
    }
    stages(si.stageId * 1000 + si.attemptNumber()) = s
  }

  private var token = 0

  /** Run a marker job and wait until the bus has delivered its start. */
  def drain(sc: org.apache.spark.SparkContext): Boolean = {
    token += 1
    sc.setLocalProperty(Recorder.FlushKey, token.toString)
    try sc.parallelize(1 to 1, 1).count()
    finally sc.setLocalProperty(Recorder.FlushKey, null)
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (flushSeen < token && System.nanoTime() < deadline) Thread.sleep(5)
    flushSeen >= token
  }
}

object Recorder {
  val StepKey = "perfbench.step"
  val FlushKey = "perfbench.flush"
}

/** Driver-side spans. With tracing off, [[step]] only times its body. */
final class Tracer(val enabled: Boolean, sc: org.apache.spark.SparkContext) {
  private val t0Nanos = System.nanoTime()
  private val t0Micros = System.currentTimeMillis() * 1000L
  def nowMicros: Long = t0Micros + (System.nanoTime() - t0Nanos) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  /** Id of the step that finished last. */
  var lastId = -1
  private val stack = mutable.Stack[Int](-1)

  /** Runs `body` as a span named `name` in `layer`; returns (result, seconds). */
  def step[T](name: String, layer: String)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val parent = stack.top
    val prevProp = sc.getLocalProperty(Recorder.StepKey)
    if (enabled) sc.setLocalProperty(Recorder.StepKey, id.toString)
    stack.push(id)
    val s = nowMicros
    val n0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - n0) / 1e9)
    } finally {
      val e = nowMicros
      stack.pop()
      lastId = id
      if (enabled) {
        sc.setLocalProperty(Recorder.StepKey, prevProp)
        spans += Span(id, parent, name, layer, s, e)
      }
    }
  }

  /** Steps plus the recorder's jobs and stages, as one span list. */
  def allSpans(rec: Recorder): Seq[Span] = {
    var id = 1000000
    val jobSpan = mutable.Map.empty[Int, Int]
    val js = rec.jobs.values.toSeq.map { j =>
      id += 1; jobSpan(j.id) = id
      Span(id, j.step, s"job ${j.id}", if (j.checkpoint) "plans" else "exec",
        j.start * 1000L, math.max(j.end, j.start) * 1000L)
    }
    val ss = rec.stages.values.toSeq.map { st =>
      id += 1
      Span(id, jobSpan.getOrElse(st.job, -1), s"stage ${st.id}", "exec",
        st.submit * 1000L, st.complete * 1000L)
    }
    spans.toSeq ++ js ++ ss
  }
}

/** Self time per span: at each instant the deepest spans active under
  * a root share it equally, so a root's self times sum to the union of
  * its subtree's intervals. Anything a child spends outside its root's
  * interval makes that sum exceed the root's wall; the reconciliation
  * report states the difference.
  */
object SelfTime {
  def apply(all: Seq[Span], rootId: Int): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    val depth = mutable.Map.empty[Int, Int]
    val sub = mutable.ArrayBuffer.empty[Span]
    def walk(s: Span, d: Int): Unit = {
      depth(s.id) = d; sub += s
      kids.getOrElse(s.id, Nil).foreach(walk(_, d + 1))
    }
    all.find(_.id == rootId).foreach(walk(_, 0))
    val cuts = sub.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val self = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    for (i <- 1 until cuts.size) {
      val (a, b) = (cuts(i - 1), cuts(i))
      val active = sub.filter(s => s.start <= a && s.end >= b)
      if (active.nonEmpty) {
        val d = active.map(s => depth(s.id)).max
        val deepest = active.filter(s => depth(s.id) == d)
        deepest.foreach(s => self(s.id) += (b - a) / 1e6 / deepest.size)
      }
    }
    self.toMap
  }
}
