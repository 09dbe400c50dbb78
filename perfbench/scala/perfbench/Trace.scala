package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer, as recorded in the traced run. Times are ms on
  * the epoch clock (the clock Spark stamps stages with), taken at ns
  * resolution. `group` is the Spark job group set while the span is the
  * innermost one on its thread, so jobs, stages and tasks map back to it.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      request: Int, group: String, start: Double,
                      var constructEnd: Double = Double.NaN,
                      var end: Double = Double.NaN,
                      var rowsOut: Long = -1L)

/** Records spans at every call the benchmark makes into a layer, and sets a
  * job group per span so the listener can attribute Spark work to it.
  * Disabled, every method just runs its body.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  /** Spans are recorded only while this is set; the traced run toggles it
    * per operation so traced and untraced operations interleave. */
  var enabled = false
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Span]()
  private var request = -1
  val listener = new LayerListener

  if (traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener.planListener)
  }

  /** Tag the spans opened by `body` with request id `id`. */
  def inRequest[T](id: Int)(body: => T): T = {
    val prev = request
    request = id
    try body finally request = prev
  }

  private def open(layer: String, name: String): Span = {
    val parent = if (stack.isEmpty) -1 else stack.top.id
    val s = Span(spans.size, parent, layer, name, request, s"pb-${spans.size}", nowMs)
    spans += s
    stack.push(s)
    spark.sparkContext.setJobGroup(s.group, s"$layer.$name", interruptOnCancel = false)
    s
  }

  private def close(s: Span): Unit = {
    s.end = nowMs
    stack.pop()
    if (stack.isEmpty) spark.sparkContext.clearJobGroup()
    else {
      val p = stack.top
      spark.sparkContext.setJobGroup(p.group, s"${p.layer}.${p.name}", interruptOnCancel = false)
    }
  }

  /** A call whose work happens inside it (a write, an eager publish, a
    * collect): the whole call is the span, and construct time equals it. */
  def call[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(layer, name)
      try {
        val out = body
        s.constructEnd = nowMs
        out
      } finally close(s)
    }

  /** A call that builds a lazy frame, followed by the action that runs it,
    * in one span; building alone is the construct time. */
  def run[T](layer: String, name: String)(build: => DataFrame)(act: DataFrame => T): T =
    if (!enabled) act(build)
    else {
      val s = open(layer, name)
      try {
        val df = build
        s.constructEnd = nowMs
        act(df)
      } finally close(s)
    }

  /** A call that returns a lazy frame. Traced, the frame is materialised at
    * the layer boundary with an eager local checkpoint, so its stages fall
    * in this span rather than in whichever layer consumes it; that cost is
    * part of the tracing overhead. Untraced, the frame is returned as is. */
  def frame(layer: String, name: String)(body: => DataFrame): DataFrame =
    if (!enabled) body
    else run(layer, name)(body) { df =>
      val cp = df.localCheckpoint(true)
      stack.top.rowsOut = cp.count()
      cp
    }
}

/** Per-job-group Spark counters for the traced run. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var planMs = 0.0
  /** Result-stage names of this group's jobs, e.g.
    * "localCheckpoint at ConnectedComponents.scala:134". */
  val jobNames = mutable.ArrayBuffer.empty[String]
}

final case class StageSpan(group: String, start: Double, end: Double)

/** Collects jobs, stages, tasks and Catalyst phase times keyed by the job
  * group each was submitted under. Runs on the listener bus thread; read it
  * only after [[org.apache.spark.perfbench.BusDrain]] has emptied the bus. */
final class LayerListener extends SparkListener {
  val groups = mutable.HashMap.empty[String, GroupStats]
  val stageSpans = mutable.ArrayBuffer.empty[StageSpan]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageStart = mutable.HashMap.empty[Int, Double]
  private val execGroup = mutable.HashMap.empty[Long, String]
  private val execPlanMs = mutable.HashMap.empty[Long, Double]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    val st = stats(g)
    st.jobs += 1
    e.stageInfos.sortBy(_.stageId).lastOption.foreach(s => st.jobNames += s.name)
    e.stageInfos.foreach(s => stageGroup.getOrElseUpdate(s.stageId, g))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execGroup.getOrElseUpdate(id.toLong, g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = stageGroup.getOrElseUpdate(e.stageInfo.stageId, groupOf(e.properties))
    stats(g).stages += 1
    stageStart(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.map(_.toDouble).getOrElse(System.currentTimeMillis().toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val end = e.stageInfo.completionTime.map(_.toDouble)
      .getOrElse(System.currentTimeMillis().toDouble)
    stageSpans += StageSpan(stageGroup.getOrElse(id, ""), stageStart.getOrElse(id, end), end)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stats(stageGroup.getOrElse(e.stageId, ""))
    st.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      st.spillBytes += m.diskBytesSpilled
      st.inputBytes += m.inputMetrics.bytesRead
      st.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Catalyst analysis + optimisation + planning time per SQL execution;
    * attributed to the job group of that execution's jobs at the end. */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      execPlanMs(qe.id) = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Fold the per-execution plan times into their groups; call once. */
  def resolvePlanTimes(): Unit =
    execPlanMs.foreach { case (id, ms) =>
      execGroup.get(id).foreach(g => stats(g).planMs += ms)
    }
}
