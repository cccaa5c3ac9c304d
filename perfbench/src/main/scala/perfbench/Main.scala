package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.{SparkEntry, Tables, WarmState}
import graft.jobs.PipelineJobs
import graft.sources.{JsonLanding, Schemas, Sinks}

/** The measured JVM of one benchmark run: one workload, one `local[k]`
  * session. It sets up (session, table opens, an untimed warm-up pass), times
  * whole passes until `--seconds` have elapsed, then runs one untimed pass
  * that writes what the correctness check needs. Everything it measures lands
  * in `<work>/harness.json`; `run.py` turns that into the result line.
  *
  * Usage: Main --workload W --data DIR --work DIR --seconds S --trace 0|1
  *             --cores K
  */
object Main {

  /** Faces of the `relational` workload, one or more per operator module. */
  val Relational: Seq[String] = Seq(
    "q1_pricing_summary", "q14_promo_share", "q_asof_join", "q_window_tumbling",
    "q_insert_ignore_posts", "q_comments_of_yesterday_posts")

  val RelationalReaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events)

  /** A run times whole passes until `--seconds` have elapsed, and at least
    * this many, so that every run reports a median over several passes.
    */
  val MinPasses = 3

  final case class Opts(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, cores: Int)

  /** One operation of a pass: a face, a pipeline call or a stream replay. */
  final case class Op(name: String, ok: Boolean, constructS: Double, execS: Double,
      error: String = null) {
    def s: Double = constructS + execS
  }

  /** One timed pass: its operations, wall time, and (traced) layer sums. */
  final case class Pass(ops: Seq[Op], wallS: Double, layers: Map[String, Double])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("cores").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Tables.sessionBuilder(s"local[${o.cores}]", o.cores.toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val bench = o.workload match {
      case "relational" => new FaceBench(spark, o, tracer, Relational, RelationalReaders)
      case "ingest" => new IngestBench(spark, o, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap[String, Any]("workload" -> o.workload, "cores" -> o.cores)
    def mark(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")
    mark("session built")
    bench.setUp()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val passes = mutable.ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < o.seconds)
      passes += bench.pass(passes.size)
    val peakRss = Jvm.peakRssMb
    mark("timed passes done")
    val checks = bench.check()
    mark("check done")
    tracer.foreach(_.settle())
    out ++= Seq(
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRss,
      "passes" -> passes.map(p => Map(
        "wall_s" -> p.wallS,
        "ops" -> p.ops.map(op => Map("name" -> op.name, "ok" -> op.ok,
          "construct_s" -> op.constructS, "exec_s" -> op.execS, "error" -> op.error)))),
      "checks" -> checks)
    tracer.foreach { t =>
      out("layers") = bench.layers(passes.toSeq)
      Files.writeString(Paths.get(o.work, "spans.json"), t.spansJson)
    }
    Files.writeString(Paths.get(o.work, "harness.json"), Json.value(out))
    spark.stop()
  }
}

/** What every workload provides to [[Main]]. */
abstract class Bench(val spark: SparkSession, val o: Main.Opts, val tracer: Option[Tracer]) {
  import Main._

  def setUp(): Unit
  def pass(n: Int): Pass
  /** The untimed correctness step: named operations and whether each held. */
  def check(): Seq[Map[String, Any]]

  protected def phase[T](kind: String, name: String)(body: => T): T =
    tracer.fold(body)(_.within(kind, name)(body))

  protected def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private var heapAfterGc = 0.0
  private var gcInOps = 0L

  /** The sweep between operations, outside every timed window. */
  protected def sweep(): Unit = {
    WarmState.resetForColdRerun()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    heapAfterGc = math.max(heapAfterGc, Jvm.heapUsedMb)
  }

  /** Times `body` as one operation and counts the GC time inside it. */
  protected def timedOp(body: => Op): Op = {
    val gc0 = Jvm.gcMs
    try body finally gcInOps += Jvm.gcMs - gc0
  }

  /** Layer sums of the spans recorded since the last call. */
  private var spanMark = 0
  private var progressMark = 0
  protected def closePassLayers(wallS: Double, extra: Map[String, Double]): Map[String, Double] =
    tracer.fold(Map.empty[String, Double]) { t =>
      t.settle()
      val spans = t.spans.synchronized(t.spans.drop(spanMark).filter(_.kind != "job").toList)
      spanMark = t.spans.synchronized(t.spans.size)
      val progress = t.progress.synchronized(t.progress.drop(progressMark).toList)
      progressMark = t.progress.synchronized(t.progress.size)
      def dur(ss: Seq[Span]) = ss.map(s => (s.end - s.start) / 1000.0).sum
      val construct = spans.filter(_.kind == "construct")
      val exec = spans.filter(s => Set("execute", "call", "stream")(s.kind))
      val all = t.total(spans)
      val ex = t.total(exec)
      val slots = o.cores.toDouble
      val m = Map(
        "tables.schema_jobs" -> all.schemaJobs.toDouble,
        "construct.s" -> dur(construct),
        "construct.jobs" -> t.total(construct).jobs.toDouble,
        "plan.s" -> all.planMs / 1000.0,
        "exec.s" -> dur(exec),
        "exec.jobs" -> ex.jobs.toDouble,
        "exec.tasks" -> ex.tasks.toDouble,
        "exec.tasks_per_job" -> (if (ex.jobs == 0) 0.0 else ex.tasks.toDouble / ex.jobs),
        "exec.task_run_s" -> ex.runMs / 1000.0,
        "exec.task_cpu_s" -> ex.cpuNs / 1e9,
        "exec.slot_busy" -> all.runMs / 1000.0 / (slots * wallS),
        "exec.input_mb" -> ex.inputB / 1048576.0,
        "exec.shuffle_write_mb" -> ex.shuffleWriteB / 1048576.0,
        "exec.spill_mb" -> ex.spillB / 1048576.0,
        "sink.output_mb" -> all.outputB / 1048576.0,
        "stream.batches" -> progress.size.toDouble,
        "stream.trigger_s" -> progress.map(_.triggerMs).sum / 1000.0,
        "stream.addbatch_s" -> progress.map(_.addBatchMs).sum / 1000.0,
        "stream.commit_s" -> progress.map(_.commitMs).sum / 1000.0,
        "stream.planning_s" -> progress.map(_.planningMs).sum / 1000.0,
        "jvm.gc_s" -> gcInOps / 1000.0,
        "jvm.heap_after_gc_mb" -> heapAfterGc) ++ extra
      heapAfterGc = 0.0
      gcInOps = 0L
      m
    }

  /** Median over the traced passes of each layer metric. */
  def layers(passes: Seq[Pass]): Map[String, Double] = {
    val keys = passes.flatMap(_.layers.keys).distinct
    keys.map(k => k -> median(passes.flatMap(_.layers.get(k)))).toMap ++ opLayers(passes)
  }

  /** Per-operation medians: total latency, construction time and jobs. */
  protected def opLayers(passes: Seq[Pass]): Map[String, Double]

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** `relational`: each pass builds and runs every face once into a noop
  * sink, with the sweep between faces.
  */
final class FaceBench(spark: SparkSession, o: Main.Opts, tracer: Option[Tracer],
    faces: Seq[String],
    readers: Seq[(String, (SparkSession, String) => DataFrame)])
    extends Bench(spark, o, tracer) {
  import Main._

  private val WarmUpPasses = 4
  private val opJobs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private var openS = 0.0

  def setUp(): Unit = {
    readers.foreach { case (_, r) => r(spark, o.data).schema }
    (1 to WarmUpPasses).foreach(_ => pass(-1))
  }

  private def face(name: String, sink: DataFrame => Unit): Op = {
    sweep()
    timedOp {
      val opSpan = tracer.map(_.begin("face", name))
      val t0 = System.nanoTime()
      try {
        val df = phase("construct", name)(SparkEntry.queries(name)(spark, o.data))
        val t1 = System.nanoTime()
        persisted(name)
        phase("execute", name)(sink(df))
        Op(name, ok = true, (t1 - t0) / 1e9, secs(t1))
      } catch {
        case e: Throwable => Op(name, ok = false, secs(t0), 0.0, msg(e))
      } finally opSpan.foreach(s => tracer.get.end(s))
    }
  }

  private val persistedMb = mutable.Map[String, Double]().withDefaultValue(0.0)
  private def persisted(name: String): Unit = if (tracer.isDefined)
    persistedMb(name) += spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def pass(n: Int): Pass = {
    val ops = faces.map(f => face(f, noop))
    sweep()
    val wall = ops.map(_.s).sum
    val extra = tracer.fold(Map.empty[String, Double]) { t =>
      if (n >= 0 && openS == 0.0) openS = timeOpens()
      Map("construct.persisted_mb" -> persistedMb.values.sum, "tables.open_s" -> openS)
    }
    persistedMb.clear()
    val layers = if (n < 0) { closePassLayers(1.0, Map.empty); Map.empty[String, Double] }
                 else closePassLayers(wall, extra)
    tracer.foreach(t => if (n >= 0) recordOpJobs(t))
    System.err.println(f"[perfbench] pass $n: $wall%.2f s " +
      ops.map(op => f"${op.name}=${op.s}%.2f${if (op.ok) "" else "!"}").mkString(" "))
    Pass(if (n < 0) Nil else ops, wall, layers)
  }

  /** A direct call to each reader the workload uses, each timed alone. */
  private def timeOpens(): Double = readers.map { case (_, r) =>
    sweep()
    val t0 = System.nanoTime()
    r(spark, o.data).schema
    secs(t0)
  }.sum

  private def recordOpJobs(t: Tracer): Unit = {
    val ss = t.spans.synchronized(t.spans.toList)
    val lastPass = ss.filter(_.kind == "face").takeRight(faces.size)
    lastPass.foreach { f =>
      val kids = ss.filter(s => s.parent == f.id)
      opJobs.getOrElseUpdate(f.name, mutable.ArrayBuffer()) += t.total(f +: kids).jobs.toDouble
    }
  }

  protected def opLayers(passes: Seq[Pass]): Map[String, Double] = faces.flatMap { f =>
    val ops = passes.flatMap(_.ops).filter(_.name == f)
    Seq(s"op.$f.s" -> median(ops.map(_.s)),
      s"op.$f.construct_s" -> median(ops.map(_.constructS)),
      s"op.$f.jobs" -> median(opJobs.getOrElse(f, Nil).toSeq))
  }.toMap

  /** One untimed pass that writes each face's result for the oracle
    * compare, plus the oracle SQL for every written face.
    */
  def check(): Seq[Map[String, Any]] = {
    val results = s"${o.work}/results"
    def write(dir: String)(df: DataFrame): Unit = {
      val ntz = df.schema.fields.foldLeft(df) { (acc, f) =>
        if (f.dataType == TimestampType) acc.withColumn(f.name, col(f.name).cast(TimestampNTZType))
        else acc
      }
      ntz.coalesce(1).write.mode("overwrite").parquet(dir)
    }
    val ops = faces.map(f => face(f, write(s"$results/$f")))
    sweep()
    val oracles = ops.filter(_.ok).flatMap(op => SparkEntry.oracleSql.get(op.name).map(op.name -> _)).toMap
    Files.writeString(Paths.get(o.work, "oracle_sql.json"), Json.value(oracles))
    ops.map(op => Map("name" -> op.name, "ok" -> op.ok, "error" -> op.error))
  }

  private def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" ").take(400)
}

/** `ingest`: each pass replays the window's posts landings hour by hour
  * through `PipelineJobs.runPostsJob`, runs `PipelineJobs.runCommentsJob`
  * over the window, then consumes the same landings as a file stream through
  * `JsonLanding.transformBatch` and `Sinks.streamInsertIgnore`. Every pass
  * starts from empty targets.
  */
final class IngestBench(spark: SparkSession, o: Main.Opts, tracer: Option[Tracer])
    extends Bench(spark, o, tracer) {
  import Main._

  private val expect = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new File(s"${o.data}/expect.json"))
  private val hours = expect.get("hours").asInt
  private val newPerHour = expect.get("new_per_hour").elements().asScala.map(_.asLong).toVector
  private val window = expect.get("window")
  private val FilesPerTrigger = 2
  private var lastRoot = ""
  private val callJobs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private var callMark = 0
  private var openS = 0.0

  private def hourFile(h: Int) = f"${o.data}/posts/hour-$h%03d.json"
  private def commentFiles: Seq[String] = new File(s"${o.data}/comments").listFiles()
    .map(_.getPath).filter(_.endsWith(".json")).sorted.toSeq

  def setUp(): Unit = {
    // warm-up, untimed: one whole replay, so that the timed passes run warm
    replay(s"${o.work}/ingest/warmup", hours)
    deleteTree(new File(s"${o.work}/ingest/warmup"))
    sweep()
    closePassLayers(1.0, Map.empty)
    tracer.foreach(t => callMark = t.spans.synchronized(t.spans.size))
  }

  private def call(name: String, expected: Long)(body: => Long): Op = timedOp {
    val t0 = System.nanoTime()
    try {
      val n = phase("call", name)(body)
      Op(name, n == expected, 0.0, secs(t0),
        if (n == expected) null else s"mismatch: loaded $n rows, expected $expected")
    } catch { case e: Throwable => Op(name, ok = false, 0.0, secs(t0), String.valueOf(e.getMessage).take(400)) }
  }

  /** The replay of the first `upTo` hours into fresh targets under `root`:
    * the hourly posts calls, the window's comments call, the stream.
    */
  private def replay(root: String, upTo: Int): Seq[Op] = {
    val posts = s"$root/posts"
    val ops = mutable.ArrayBuffer[Op]()
    for (h <- 0 until upTo) {
      ops += call("posts_job", newPerHour(h)) {
        PipelineJobs.runPostsJob(spark, Seq(hourFile(h)), posts)
      }
    }
    ops += call("comments_job", window.get("comment_ids").size.toLong) {
      PipelineJobs.runCommentsJob(spark, commentFiles, posts, s"$root/comments",
        window.get("start").asText, window.get("end").asText)
    }
    ops += stream(root, upTo)
    ops.toSeq
  }

  /** The posts landings of the first `upTo` hours as a file stream. */
  private def stream(root: String, upTo: Int): Op = timedOp {
    val landing = s"$root/stream_landing"
    new File(landing).mkdirs()
    // the file source orders by modification time: copy in hour order
    (0 until upTo).foreach { h =>
      val link = Paths.get(landing, f"hour-$h%03d.json")
      Files.copy(Paths.get(hourFile(h)), link)
      link.toFile.setLastModified(1700000000000L + h * 1000L)
    }
    val before = tracer.fold(0)(t => t.progress.synchronized(t.progress.size))
    val t0 = System.nanoTime()
    try {
      val q = phase("stream", "stream") {
        val raw = spark.readStream.schema(Schemas.postsRaw).option("multiLine", "true")
          .option("maxFilesPerTrigger", FilesPerTrigger.toString).json(landing)
        val query = Sinks.streamInsertIgnore(JsonLanding.transformBatch(raw, Schemas.postsFinal),
          s"$root/stream_posts", "id", s"$root/stream_ckpt")
        query.awaitTermination()
        query
      }
      val s = secs(t0)
      tracer.foreach(_.awaitProgress(before + q.recentProgress.length))
      Op("stream", q.exception.isEmpty, 0.0, s)
    } catch { case e: Throwable => Op("stream", ok = false, 0.0, secs(t0), String.valueOf(e.getMessage).take(400)) }
  }

  def pass(n: Int): Pass = {
    if (lastRoot.nonEmpty) deleteTree(new File(lastRoot))
    sweep()
    val root = s"${o.work}/ingest/pass-$n"
    lastRoot = root
    val t0 = System.nanoTime()
    val ops = replay(root, hours)
    val wall = secs(t0)
    val extra = tracer.fold(Map.empty[String, Double]) { t =>
      val calls = ops.count(_.name != "stream")
      val files = Seq("posts", "comments", "stream_posts").map(d => countFiles(new File(s"$root/$d"))).sum
      if (openS == 0.0) {
        val t1 = System.nanoTime()
        spark.read.parquet(s"$root/posts").schema
        openS = secs(t1)
      }
      Map("sink.target_files" -> files.toDouble,
        "sink.output_files" -> files.toDouble / (calls + 1),
        "tables.open_s" -> openS,
        "stream.wall_s" -> ops.filter(_.name == "stream").map(_.s).sum)
    }
    val layers = closePassLayers(wall, extra)
    tracer.foreach(recordCallJobs)
    System.err.println(f"[perfbench] pass $n: $wall%.2f s, ${ops.size} ops, " +
      f"posts p50 ${median(ops.filter(_.name == "posts_job").map(_.s))}%.3f s, " +
      f"stream ${ops.last.s}%.2f s, failed ${ops.count(!_.ok)}")
    Pass(ops, wall, layers)
  }

  private def recordCallJobs(t: Tracer): Unit = {
    val calls = t.spans.synchronized {
      val fresh = t.spans.drop(callMark).filter(s => s.kind == "call" || s.kind == "stream").toList
      callMark = t.spans.size
      fresh
    }
    calls.foreach { c =>
      callJobs.getOrElseUpdate(c.name, mutable.ArrayBuffer()) += t.total(Seq(c)).jobs.toDouble
    }
  }

  protected def opLayers(passes: Seq[Pass]): Map[String, Double] = {
    val all = callJobs.filter(_._1 != "stream").values.flatten.toSeq
    Map("pipeline.spark_jobs_per_call" -> (if (all.isEmpty) 0.0 else all.sum / all.size)) ++
      Seq("posts_job", "comments_job", "stream").flatMap { n =>
        val ops = passes.flatMap(_.ops).filter(_.name == n)
        Seq(s"op.$n.s" -> median(ops.map(_.s)),
          s"op.$n.jobs" -> median(callJobs.getOrElse(n, Nil).toSeq))
      }
  }

  /** Re-running the last hour must load nothing; the targets of the last
    * timed pass stay in place for `run.py` to check against the generator.
    */
  def check(): Seq[Map[String, Any]] = {
    val rerun = PipelineJobs.runPostsJob(spark, Seq(hourFile(hours - 1)), s"$lastRoot/posts")
    Files.writeString(Paths.get(o.work, "targets.json"), Json.obj(
      "posts" -> s"$lastRoot/posts", "comments" -> s"$lastRoot/comments",
      "stream_posts" -> s"$lastRoot/stream_posts"))
    Seq(Map("name" -> "rerun_last_hour_loads_nothing", "ok" -> (rerun == 0L),
      "error" -> (if (rerun == 0L) null else s"mismatch: re-run loaded $rerun rows")))
  }

  private def countFiles(f: File): Int =
    if (f.isDirectory) f.listFiles().map(countFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }
}
