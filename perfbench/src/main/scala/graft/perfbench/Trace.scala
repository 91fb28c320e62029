package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the span that was open when
  * this one started (-1 for a root); times are wall-clock nanoseconds from
  * the tracer's origin and epoch milliseconds (to match listener events).
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var planMs = 0L

  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem); planMs += o.planMs
  }
}

/** Spans kept in memory, opened and closed by the single client thread.
  * While enabled, every span also sets a Spark job tag naming itself, so the
  * listeners can attribute each job (and its stages and tasks) to the
  * innermost span that caused it. Disabled, [[span]] only runs its body.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Ids of the spans open now, innermost first. */
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  private var listener: Listener = null

  def enabled: Boolean = listener != null

  private def nowMs(ns: Long): Long = originMs + (ns - originNs) / 1000000L
  private def tag(id: Int) = s"perfbench_span_$id"

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, start) = synchronized {
        val id = nextId
        nextId += 1
        open.headOption.foreach(p => sc.removeJobTag(tag(p)))
        sc.addJobTag(tag(id))
        open.push(id)
        (id, System.nanoTime())
      }
      try body
      finally synchronized {
        val end = System.nanoTime()
        open.pop()
        sc.removeJobTag(tag(id))
        val parent = open.headOption.getOrElse(-1)
        open.headOption.foreach(p => sc.addJobTag(tag(p)))
        spans += Span(id, parent, layer, name, start - originNs, end - originNs,
          nowMs(start), nowMs(end))
      }
    }

  /** Register the Spark and query-execution listeners; spans recorded from
    * here on carry job tags.
    */
  def enable(): Unit = if (!enabled) {
    listener = new Listener
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }

  /** Unregister the listeners after the listener bus has delivered every
    * event posted so far.
    */
  def disable(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
    listener = null
  }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  private val countsSoFar = mutable.HashMap.empty[Int, SparkCounts]

  /** Spark counts per span id, from events delivered so far (-1: work no
    * span was open for).
    */
  def countsBySpan(): Map[Int, SparkCounts] = synchronized(countsSoFar.toMap)

  /** A job's span: the job tag it carries, or else the innermost span open
    * when it started (jobs submitted from threads that never saw the tag).
    */
  private def spanOf(props: java.util.Properties, timeMs: Long): Int = {
    val tags = Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .getOrElse("")
    val tagged = "perfbench_span_(\\d+)".r.findAllMatchIn(tags).map(_.group(1).toInt).toSeq
    if (tagged.nonEmpty) tagged.max
    else innermostAt(timeMs)
  }

  /** The latest-started closed span containing the time, or else the
    * innermost span still open.
    */
  private def innermostAt(timeMs: Long): Int = synchronized {
    val closed = spans.filter(s => s.startMs <= timeMs && timeMs <= s.endMs)
    if (closed.nonEmpty) closed.maxBy(_.startNs).id
    else open.headOption.getOrElse(-1)
  }

  private def counts(id: Int): SparkCounts =
    synchronized(countsSoFar.getOrElseUpdate(id, new SparkCounts))

  private final class Listener extends SparkListener with QueryExecutionListener {
    private val stageSpan = mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = spanOf(e.properties, e.time)
      counts(id).jobs += 1
      e.stageIds.foreach(s => stageSpan(s) = id)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counts(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counts(stageSpan.getOrElse(e.stageId, -1))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planned(qe)

    /** Catalyst time (analysis, optimization, planning) of one executed
      * query, attributed to the span open when it finished.
      */
    private def planned(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val endMs =
        if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.endTimeMs).max
      counts(innermostAt(endMs)).planMs += ms
    }
  }
}
