package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload in one session as a closed loop (one client, one
  * operation at a time): an untimed warm-up that also fixes the
  * expected outputs, then timed passes until `--seconds` have elapsed;
  * every pass's outputs are checked at the end. With
  * `--trace 1` the timed passes are an untraced, a traced and another
  * untraced stretch, the middle one under the benchmark's listeners,
  * and the layer metrics are measured. Writes a JSON record to `--out`.
  *
  * Usage: graft.perfbench.Main --workload <name> --inputs <dir>
  *   --work <dir> --seconds <n> --passes <n> --trace <0|1> --out <file>
  *   --cpus <n>
  * where `--passes` is the least number of timed passes an untraced run
  * makes, however long they take.
  */
object Main {
  private val CacheConfKey = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
  private val OpTimeoutS = 100L

  final case class OpRec(label: String, module: String, start: Double, end: Double,
      cpuS: Double, outputs: Either[String, Map[String, Fp]]) {
    def s: Double = (end - start) / 1000
  }
  /** One pass. Its makespan and CPU are those of its operations: the
    * checks and the collections between operations are not counted. */
  final case class PassRec(ops: Seq[OpRec], leaked: Int, drift: Boolean, shmBytes: Long,
      layer: Map[String, Double]) {
    def start: Double = ops.head.start
    def end: Double = ops.last.end
    def makespanS: Double = ops.map(_.s).sum
    def cpuS: Double = ops.map(_.cpuS).sum
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val work = new File(a("work")).getAbsolutePath
    val seconds = a("seconds").toDouble
    val minPasses = a.getOrElse("passes", "1").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    val host0 = Host.snapshot()
    val shm0 = Shm.entries()
    val spark = session(cpus, work)
    val gc = new GcWatch
    val spans = new Spans
    val w = Workload(name, spark, new File(a("inputs")).getAbsolutePath, work, spans)
    val recorder = if (trace) Some(new Recorder(spark)) else None
    val sampler = new CacheSampler(spark)
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
    })

    def hygiene(): Unit = {
      graft.Scratch.releaseAll()
      graft.queries.evictMemos(spark)
    }

    /** One pass over the workload's operations; their outputs are
      * fingerprinted right after it and checked at the end of the run. */
    def pass(traced: Boolean): PassRec = {
      w.beforePass()
      val conf0 = spark.conf.getOption(CacheConfKey)
      val typed0 = ContactCounters.typedDecisions
      if (traced) sampler.start()
      val ran = spans("pass") {
        w.ops.map { op =>
          val sc = spark.sparkContext
          sc.setJobGroup(op.label, op.label, interruptOnCancel = true)
          val cancel = watchdog.schedule((() => sc.cancelJobGroup(op.label)): Runnable,
            OpTimeoutS, java.util.concurrent.TimeUnit.SECONDS)
          val cpu0 = cpuBean.getProcessCpuTime
          val t0 = Clock.ms
          val r = try Right(spans(op.label)(op.run())) catch {
            case e: Throwable => Left(s"${op.label} threw ${e.getClass.getName}: ${e.getMessage}")
          }
          val t1 = Clock.ms
          val cpuS = (cpuBean.getProcessCpuTime - cpu0) / 1e9
          cancel.cancel(false)
          sc.clearJobGroup()
          // The live heap this operation leaves (see GcWatch), once the
          // listener bus no longer holds its events.
          if (trace) { org.apache.spark.PerfbenchBus.drain(sc); System.gc() }
          (op, t0, t1, cpuS, r)
        }
      }
      if (traced) sampler.stop()
      val ops = ran.map { case (op, t0, t1, cpuS, r) =>
        val outputs = r.flatMap(fp => try Right(op.outputs(fp)) catch {
          case e: Throwable => Left(s"${op.label} output threw ${e.getClass.getName}: ${e.getMessage}")
        })
        OpRec(op.label, op.module, t0, t1, cpuS, outputs)
      }
      hygiene()
      val rec = PassRec(ops,
        spark.sparkContext.getPersistentRDDs.size,
        spark.conf.getOption(CacheConfKey) != conf0, Shm.bytes(shm0), Map.empty)
      if (!traced) rec
      else rec.copy(layer = Layers.ofPass(rec, recorder.get.drain(), spans,
        ContactCounters.typedDecisions - typed0, sampler))
    }

    def loop(forS: Double, traced: Boolean, atLeast: Int = 1): Seq[PassRec] = {
      val t0 = Clock.ms
      val out = mutable.ArrayBuffer(pass(traced))
      while (Clock.ms - t0 < forS * 1000 || out.size < atLeast) out += pass(traced)
      out.toList
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    System.err.println(f"perfbench: session ready ${(Clock.ms - jvmStart) / 1000}%.1f s after JVM start")
    w.warmup()
    hygiene()
    val setupS = (Clock.ms - jvmStart) / 1000
    System.err.println(f"perfbench: setup $setupS%.1f s, " + Diagnostics.line())
    gc.reset()
    val plain =
      if (trace) loop(seconds / 3, traced = false) else loop(seconds, false, minPasses)
    val peakMb = gc.peakAfterGcBytes / 1048576.0
    // Traced passes sit between two untraced stretches, so the warm-up
    // trend cancels out of the tracing overhead.
    val (traced, plainAfter) = recorder.map { r =>
      r.start()
      val t = loop(seconds / 3, traced = true)
      r.stop()
      (t, loop(seconds / 3, traced = false))
    }.getOrElse((Nil, Nil))
    val layer = if (trace) {
      val kernels = w.layerMetrics(spans)
      val untraced = (Stats.median(plain.map(_.makespanS)) +
        Stats.median(plainAfter.map(_.makespanS))) / 2
      Layers.Names.map(_ -> 0.0).toMap ++ Layers.summarise(traced) ++ kernels ++ Map(
        "trace_overhead_frac" -> (Stats.median(traced.map(_.makespanS)) / untraced - 1),
        "Scratch.conf_drift" -> (plain ++ traced ++ plainAfter).count(_.drift).toDouble)
    } else Map.empty[String, Double]
    System.err.println("perfbench: end of passes, " + Diagnostics.line())
    val host1 = Host.snapshot()
    val all = plain ++ traced ++ plainAfter
    def error(o: OpRec): Option[String] = w.problems.get(o.label).orElse(o.outputs.fold(Some(_),
      out => out.collectFirst { case (k, fp) if !w.expected.get(k).contains(fp) =>
        s"${o.label}: output $k is $fp, expected ${w.expected.get(k)}" }))
    val errors = all.flatMap(_.ops.flatMap(error))
    val makespans = plain.map(_.makespanS)
    val record = Json.obj(Seq(
      "workload" -> name,
      "attempted" -> all.map(_.ops.size).sum,
      "failed" -> all.map(_.ops.count(error(_).isDefined)).sum,
      "errors" -> errors.distinct.take(20),
      "metrics" -> Map(
        "makespan_s" -> Stats.median(makespans),
        "cpu_s" -> Stats.median(plain.map(_.cpuS)),
        "setup_s" -> setupS),
      "layer" -> (layer ++ Map("peak_mem_mb" -> peakMb)),
      "samples" -> Map("passes" -> plain.size, "makespan_s_max" -> makespans.max),
      "job_modules" -> recorder.map(_.modules).getOrElse(Map.empty),
      "host" -> Map("start" -> host0, "end" -> host1),
      "passes" -> all.map(p => Map("makespan_s" -> p.makespanS, "cpu_s" -> p.cpuS,
        "ops" -> p.ops.map(o => Map("op" -> o.label, "s" -> o.s, "cpu_s" -> o.cpuS)),
        "leaked" -> p.leaked, "conf_drift" -> p.drift, "shm_bytes" -> p.shmBytes))))
    Files.write(a("out"), record)
    Files.write(s"$work/spans.json", spans.json)
    watchdog.shutdownNow()
    spark.stop()
  }

  def session(cpus: String, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Deep enough that call sites reach the program's frames.
      .config("spark.callstack.depth", "200")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** JIT, GC and query-codegen totals so far, for the run record. */
object Diagnostics {
  def line(): String = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0
    val cg = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot
    val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f"jit $jitS%.1f s, gc $gcS%.1f s, codegen compiles $n (mean ${cg.getMean}%.0f ms)"
  }
}

/** Reads the typed-path merge decision counter, which sits behind the
  * program's package boundary. */
object ContactCounters {
  def typedDecisions: Long = graft.etl.ContactLogic.typedDecisionCount.sum()
}

/** Heap in use right after the full collections the benchmark triggers
  * at every operation boundary (from GC notifications). Young
  * collections are left out: their after-GC figure still holds old-gen
  * garbage, so it tracks collection timing rather than live data. */
final class GcWatch {
  @volatile var peakAfterGcBytes = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          if (info.getGcCause == "System.gc()") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
          synchronized { peakAfterGcBytes = math.max(peakAfterGcBytes, used) }
        }}
      }, null, null)
    case _ => ()
  }
  def reset(): Unit = synchronized { peakAfterGcBytes = 0L }
}

/** Load average, MemAvailable and processor count: the run window. */
object Host {
  def snapshot(): Map[String, Double] = {
    def read(f: String) = try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f))) catch { case _: Throwable => "" }
    val load = read("/proc/loadavg").split(' ').headOption.flatMap(_.toDoubleOption)
    val avail = read("/proc/meminfo").linesIterator.find(_.startsWith("MemAvailable"))
      .flatMap(_.replaceAll("[^0-9]", "").toDoubleOption)
    Map("load1" -> load.getOrElse(-1.0), "mem_avail_mb" -> avail.map(_ / 1024).getOrElse(-1.0),
      "nproc" -> Runtime.getRuntime.availableProcessors.toDouble)
  }
}

/** The program's tmpfs scratch entries (`graft_*`) this run created. */
object Shm {
  private val root = new File("/dev/shm")
  def entries(): Set[File] =
    Option(root.listFiles()).map(_.filter(_.getName.startsWith("graft_")).toSet)
      .getOrElse(Set.empty)
  def bytes(before: Set[File]): Long = entries().diff(before).toSeq.map(Files.size).sum
}

object Files {
  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L) else f.length
  def write(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, text)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
