package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span of the traced run: an operation (face or pipeline call), one of its
  * phases (construct, execute, call, stream) or a Spark job. Times are epoch
  * milliseconds; `parent` is 0 for operations.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Long, var end: Long)

/** Per-span sums of what Spark reports for the jobs and tasks launched while
  * the span was the driver thread's current span.
  */
final class Agg {
  var jobs, schemaJobs, tasks, runMs, cpuNs = 0L
  var inputB, shuffleWriteB, spillB, outputB = 0L
  var planMs = 0.0
}

/** One streaming micro-batch's durations, from `StreamingQueryListener`. */
final case class Progress(triggerMs: Long, addBatchMs: Long, commitMs: Long,
    planningMs: Long)

/** The traced run's instruments, all public Spark and JVM interfaces: a
  * `SparkListener` (jobs, tasks), a `QueryExecutionListener` (Catalyst phase
  * times from `QueryExecution.tracker`), a `StreamingQueryListener`
  * (micro-batch durations) and the GC MXBeans. Spans and sums stay in memory;
  * [[spansJson]] renders them once, at the end of the run.
  *
  * Jobs are attributed through a local property that the driver thread sets
  * to the current span id (inherited by broadcast and stream threads); query
  * executions are attributed by the start time of their analysis phase,
  * since the listener sees them on the listener-bus thread.
  */
final class Tracer(spark: SparkSession) {
  private val PropKey = "perfbench.span"
  private val ids = new AtomicInteger(0)
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  val aggs = TrieMap[Int, Agg]()
  private val stageSpan = TrieMap[Int, Int]()
  private val jobSpan = TrieMap[Int, Span]()
  private val planEvents = mutable.ArrayBuffer[(Long, Double)]()
  val progress = mutable.ArrayBuffer[Progress]()

  private def agg(id: Int): Agg = aggs.getOrElseUpdate(id, new Agg)

  def begin(kind: String, name: String): Span = spans.synchronized {
    val parent = open.headOption.map(_.id).getOrElse(0)
    val s = Span(ids.incrementAndGet(), parent, kind, name, System.currentTimeMillis(), 0L)
    spans += s
    open.push(s)
    spark.sparkContext.setLocalProperty(PropKey, s.id.toString)
    s
  }

  def end(s: Span): Unit = spans.synchronized {
    s.end = System.currentTimeMillis()
    open.pop()
    spark.sparkContext.setLocalProperty(PropKey,
      open.headOption.map(_.id.toString).orNull)
  }

  def within[T](kind: String, name: String)(body: => T): T = {
    val s = begin(kind, name)
    try body finally end(s)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toInt).getOrElse(0)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val inSql = Option(e.properties).exists(_.getProperty("spark.sql.execution.id") != null)
      val s = Span(ids.incrementAndGet(), parent, "job", site, e.time, 0L)
      spans.synchronized { spans += s }
      jobSpan(e.jobId) = s
      e.stageIds.foreach(stageSpan(_) = parent)
      val a = agg(parent)
      a.synchronized {
        a.jobs += 1
        // a schema-inference job: a parquet read's job outside any SQL execution
        if (site.startsWith("parquet at") && !inSql) a.schemaJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.remove(e.jobId).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = agg(stageSpan.getOrElse(e.stageId, 0))
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.inputB += m.inputMetrics.bytesRead
          a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          a.outputB += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val ms = phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
        val at = phases.values.map(_.startTimeMs).min
        planEvents.synchronized { planEvents += ((at, ms)) }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress.synchronized {
        progress += Progress(d("triggerExecution"), d("addBatch"),
          d("walCommit") + d("commitOffsets"), d("queryPlanning"))
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Streaming progress events arrive asynchronously: wait until `n` have. */
  def awaitProgress(n: Int): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (progress.synchronized(progress.size) < n && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  /** Let the listener bus deliver what is queued, then attribute each query
    * execution's Catalyst time to the innermost driver span open at its start.
    */
  def settle(): Unit = {
    var last = -1
    var stable = 0
    while (stable < 5) {
      Thread.sleep(50)
      val now = planEvents.synchronized(planEvents.size) + aggs.values.map(_.tasks).sum.toInt
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
    val driverSpans = spans.synchronized(spans.filter(_.kind != "job").toList)
    planEvents.synchronized {
      planEvents.foreach { case (at, ms) =>
        val inner = driverSpans.filter(s => s.start <= at && (s.end == 0 || at <= s.end))
        val target = if (inner.isEmpty) 0 else inner.maxBy(_.start).id
        val a = agg(target)
        a.synchronized { a.planMs += ms }
      }
      planEvents.clear()
    }
  }

  /** Sum of the per-span sums over the given spans. */
  def total(of: Iterable[Span]): Agg = {
    val t = new Agg
    of.foreach(s => aggs.get(s.id).foreach { a =>
      t.jobs += a.jobs; t.schemaJobs += a.schemaJobs; t.tasks += a.tasks
      t.runMs += a.runMs; t.cpuNs += a.cpuNs
      t.inputB += a.inputB; t.shuffleWriteB += a.shuffleWriteB
      t.spillB += a.spillB; t.outputB += a.outputB; t.planMs += a.planMs
    })
    t
  }

  def spansJson: String = spans.synchronized {
    spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "start" -> s.start, "end" -> s.end)).mkString("[\n", ",\n", "\n]")
  }
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** `VmHWM` of this process, in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON rendering for the harness's output. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(collection.immutable.ListMap(kv: _*))
}
