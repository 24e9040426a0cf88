package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in fractional milliseconds since the epoch, aligned with
  * the millisecond times Spark stamps on its listener events. */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def ms: Double = (System.nanoTime() + offsetNs) / 1e6
}

/** A named interval. Spans of one pass share the pass span as root;
  * `parent` is the enclosing span's id (-1 for a root). */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans kept in memory for the whole run and written out at the end. */
final class Spans {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Double)]
  private var next = 0

  def apply[A](name: String)(body: => A): A = {
    val id = synchronized { next += 1; open = (next, name, Clock.ms) :: open; next }
    try body finally synchronized {
      val (_, n, t0) = open.head
      open = open.tail
      all += Span(id, open.headOption.map(_._1).getOrElse(-1), n, t0, Clock.ms)
    }
  }

  def list: Seq[Span] = synchronized(all.toList.sortBy(_.id))

  /** Duration minus the part of it that child spans cover. */
  def selfMs(s: Span, spans: Seq[Span]): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    kids.foreach { case (a, b) =>
      if (lo.isNaN || a > hi) { if (!lo.isNaN) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (!lo.isNaN) covered += hi - lo
    s.dur - covered
  }

  def json: String = {
    val ss = list
    ss.map(s => Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "dur_ms" -> s.dur, "self_ms" -> selfMs(s, ss))))
      .mkString("[\n", ",\n", "\n]\n")
  }
}

final case class JobRec(id: Int, start: Long, var end: Long, desc: String,
    module: String, method: String, stages: Seq[Int])

final case class StageRec(id: Int, tasks: Int, runMs: Long, cpuNs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, gcMs: Long,
    inputBytes: Long, outputBytes: Long)

final case class Progress(query: String, batchMs: Long, durations: Map[String, Long],
    stateRows: Long, stateBytes: Long)

/** Listener-side recorder: every job (with the module and method of the
  * first program frame of its call site), every completed stage's
  * metrics and every micro-batch progress, kept until `drain()`. */
final class Recorder(spark: SparkSession) {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val progress = mutable.ArrayBuffer.empty[Progress]
  @volatile private var on = false

  private val execSites = mutable.Map.empty[String, String]

  private val sparkListener = new SparkListener {
    // A SQL execution's call site is the stack of the thread that ran
    // the action; its jobs (including adaptive stages submitted from
    // other threads) carry the execution id.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Recorder.this.synchronized { execSites(x.executionId.toString) = x.details }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val site = prop("spark.sql.execution.id")
        .flatMap(id => Recorder.this.synchronized(execSites.get(id)))
        .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse(""))
      val (module, method) = Recorder.frame(site)
      val desc = prop("spark.job.description").getOrElse("")
      Recorder.this.synchronized {
        jobs += JobRec(e.jobId, e.time, -1L, desc, module, method, e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) Recorder.this.synchronized {
        stages += StageRec(i.stageId, i.numTasks, m.executorRunTime,
          m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Recorder.this.synchronized {
        progress += Progress(String.valueOf(p.name), d.getOrElse("triggerExecution", 0L), d,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  private val moduleCounts = mutable.Map.empty[String, Int]

  def start(): Unit = on = true
  def stop(): Unit = on = false

  /** Jobs per (module.method) over every traced pass, for the record. */
  def modules: Map[String, Int] = synchronized(moduleCounts.toMap)

  /** Waits for the listener bus, then hands over and forgets
    * everything recorded so far. */
  def drain(): (Seq[JobRec], Seq[StageRec], Seq[Progress]) = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val r = (jobs.toList, stages.toList, progress.toList)
      jobs.foreach(j => moduleCounts(s"${j.module}.${j.method}") =
        moduleCounts.getOrElse(s"${j.module}.${j.method}", 0) + 1)
      jobs.clear(); stages.clear(); progress.clear(); execSites.clear()
      r
    }
  }
}

object Recorder {
  private val Frame = """\s*(graft\.[\w.$]+)\.([\w$]+)\(.*""".r

  /** (module, method) of the first program frame of a call site. The
    * module is the package under `graft` (`etl`, `sources`, ...) or,
    * under `graft.queries`, the operator family object (`EpochOps`);
    * empty when the action was the benchmark's own. */
  def frame(site: String): (String, String) =
    site.linesIterator.collectFirst {
      case Frame(cls, m) if !cls.startsWith("graft.perfbench") =>
        val parts = cls.stripSuffix("$").split('.').toList
        val module = parts match {
          case "graft" :: "queries" :: obj :: _ => obj.takeWhile(_ != '$')
          case "graft" :: pkg :: _ :: _ => pkg
          case "graft" :: obj :: Nil => obj.takeWhile(_ != '$')
          case _ => "graft"
        }
        val method = m.split('$').filter(t => t.nonEmpty && t != "anonfun" &&
          !t.forall(_.isDigit)).headOption.getOrElse(m)
        (module, method)
    }.getOrElse(("", ""))
}

/** Samples the block manager's cached RDDs while a traced pass runs:
  * the peak cached bytes and the peak cached partition count. */
final class CacheSampler(spark: SparkSession) {
  @volatile private var running = false
  @volatile var peakBytes = 0L
  @volatile var peakPartitions = 0
  private var thread: Thread = _

  def start(): Unit = {
    peakBytes = 0L; peakPartitions = 0; running = true
    thread = new Thread(() => while (running) {
      try {
        val infos = spark.sparkContext.getRDDStorageInfo
        peakBytes = math.max(peakBytes, infos.map(i => i.memSize + i.diskSize).sum)
        peakPartitions = math.max(peakPartitions, infos.map(_.numCachedPartitions).sum)
      } catch { case _: Throwable => () }
      Thread.sleep(50)
    }, "perfbench-cache-sampler")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = { running = false; if (thread != null) thread.join() }
}

/** Turns one traced pass's recordings into layer metrics, and the
  * traced passes into their medians. Every name in [[Names]] is
  * reported on every workload; a layer the workload does not exercise
  * reads 0. */
object Layers {
  val Modules = Seq("sources", "etl", "EpochOps", "DedupOps", "Analytic", "StreamingOps", "Scratch")
  private val Phases = Map(
    "pairs" -> Set("acceptedPairs"),
    "cc" -> Set("connectedComponents", "contractionComponents", "distributedComponents",
      "unionFind"))
  private val MB = 1048576.0

  val Names: Seq[String] = Seq(
    "sources.parse_s", "sources.rows", "sources.named_frac",
    "functions.normalize_ns_per_row",
    "plans.SeqRatio.ns_per_call", "plans.Uuid5.ns_per_call",
    "plans.SortedIntersectCount.ns_per_call",
    "etl.consolidate_s", "etl.validate_s", "etl.confidence_s", "etl.tag_s",
    "etl.pairs_s", "etl.cc_s", "etl.merge_s", "etl.typed_decisions",
    "etl.csv_written_mb", "etl.csv_read_mb", "etl.merged_rows_frac",
    "etl.pair_recall", "etl.pair_precision",
    "EpochOps.prepare_s", "EpochOps.body_s") ++
    Modules.flatMap(m => Seq(s"$m.jobs", s"$m.task_s")) ++ Seq(
    "Scratch.cached_mb_peak", "Scratch.cached_partitions", "Scratch.leaked",
    "Scratch.conf_drift", "Scratch.shm_mb",
    "StreamingOps.batches", "StreamingOps.batch_ms", "StreamingOps.batch_ms_p90",
    "StreamingOps.add_batch_ms", "StreamingOps.wal_commit_ms",
    "StreamingOps.commit_offsets_ms", "StreamingOps.query_planning_ms",
    "StreamingOps.latest_offset_ms", "StreamingOps.state_rows", "StreamingOps.state_mb",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.exec_run_s", "spark.exec_cpu_s",
    "spark.driver_gap_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.spill_mb", "spark.gc_s", "spark.unlabelled_jobs",
    "trace_overhead_frac")

  /** Total length of the union of [lo, hi] intervals. */
  def covered(iv: Seq[(Double, Double)]): Double =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) {
      case ((acc, hi), (a, b)) =>
        if (a >= hi) (acc + b - a, b) else if (b > hi) (acc + b - hi, b) else (acc, hi)
    }._1

  def ofPass(p: Main.PassRec, rec: (Seq[JobRec], Seq[StageRec], Seq[Progress]),
      spans: Spans, typedDecisions: Long, sampler: CacheSampler): Map[String, Double] = {
    def opAt(t: Double) = p.ops.find(o => t >= o.start - 1 && t <= o.end + 1)
    // Only the operations' jobs: the checks after the pass are not counted.
    val jobs = rec._1.filter(j => opAt(j.start.toDouble).isDefined)
    val progress = rec._3
    // Each completed stage belongs to the first job that lists it.
    val owner = jobs.sortBy(_.id).flatMap(j => j.stages.map(_ -> j.id)).reverse.toMap
    val stages = rec._2.filter(s => owner.contains(s.id))
    val byJob = stages.groupBy(s => owner(s.id))
    def taskS(js: Seq[JobRec]) = js.flatMap(j => byJob.getOrElse(j.id, Nil)).map(_.runMs).sum / 1000.0
    def wallS(js: Seq[JobRec]) = js.map(j => math.max(0L, j.end - j.start)).sum / 1000.0
    // The benchmark's own action (the fingerprint) counts for the
    // module of the operation it times.
    def module(j: JobRec) =
      if (j.module.nonEmpty) j.module else opAt(j.start.toDouble).map(_.module).getOrElse("")
    val etlJobs = jobs.filter(j => module(j) == "etl" &&
      opAt(j.start.toDouble).exists(_.label == "etl.consolidate"))
    def phase(ms: Set[String]) = etlJobs.filter(j => ms(j.method))
    val inPass = spans.list.filter(s => s.start >= p.start - 1 && s.end <= p.end + 1)
    def spanS(n: String) = inPass.filter(_.name == n).map(_.dur).sum / 1000
    val batch = progress.map(_.batchMs.toDouble)
    def dur(k: String) = progress.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val lastState = progress.groupBy(_.query).values.map(_.last).toSeq
    val etl = p.ops.exists(_.label.startsWith("etl."))
    val m = mutable.Map[String, Double](
      "spark.jobs" -> jobs.size, "spark.stages" -> stages.size,
      "spark.tasks" -> stages.map(_.tasks).sum,
      "spark.exec_run_s" -> stages.map(_.runMs).sum / 1000.0,
      "spark.exec_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "spark.driver_gap_s" -> (p.makespanS - p.ops.map(o => covered(jobs.map(j =>
        (math.max(j.start.toDouble, o.start),
          math.min(if (j.end < 0) o.end else j.end.toDouble, o.end))))).sum / 1000),
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / MB,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleRead).sum / MB,
      "spark.spill_mb" -> stages.map(_.spill).sum / MB,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
      "spark.unlabelled_jobs" -> jobs.count(j => !opAt(j.start.toDouble).exists(_.label == j.desc)),
      "etl.pairs_s" -> wallS(phase(Phases("pairs"))),
      "etl.cc_s" -> wallS(phase(Phases("cc"))),
      "etl.merge_s" -> wallS(etlJobs.filterNot(j => Phases.values.exists(_(j.method)))),
      "etl.typed_decisions" -> typedDecisions.toDouble,
      "etl.csv_written_mb" -> (if (etl) stages.map(_.outputBytes).sum / MB else 0.0),
      "etl.csv_read_mb" -> (if (etl) stages.map(_.inputBytes).sum / MB else 0.0),
      "EpochOps.prepare_s" -> spanS("EpochOps.prepare"),
      "EpochOps.body_s" -> spanS("EpochOps.body"),
      "Scratch.cached_mb_peak" -> sampler.peakBytes / MB,
      "Scratch.cached_partitions" -> sampler.peakPartitions,
      "Scratch.leaked" -> p.leaked,
      "Scratch.shm_mb" -> p.shmBytes / MB,
      "StreamingOps.batches" -> progress.size,
      "StreamingOps.batch_ms" -> Stats.median(batch),
      "StreamingOps.batch_ms_p90" -> Stats.quantile(batch, 0.9),
      "StreamingOps.add_batch_ms" -> dur("addBatch"),
      "StreamingOps.wal_commit_ms" -> dur("walCommit"),
      "StreamingOps.commit_offsets_ms" -> dur("commitOffsets"),
      "StreamingOps.query_planning_ms" -> dur("queryPlanning"),
      "StreamingOps.latest_offset_ms" -> dur("latestOffset"),
      "StreamingOps.state_rows" -> lastState.map(_.stateRows).sum.toDouble,
      "StreamingOps.state_mb" -> lastState.map(_.stateBytes).sum / MB)
    p.ops.filter(_.label.startsWith("etl.")).foreach(o => m(s"${o.label}_s") = o.s)
    Modules.foreach { mod =>
      val js = jobs.filter(module(_) == mod)
      m(s"$mod.jobs") = js.size
      m(s"$mod.task_s") = taskS(js)
    }
    m.toMap
  }

  /** Median over the traced passes of each per-pass metric. */
  def summarise(passes: Seq[Main.PassRec]): Map[String, Double] =
    passes.flatMap(_.layer.keys).distinct.map(k =>
      k -> Stats.median(passes.map(_.layer.getOrElse(k, 0.0)))).toMap
}
