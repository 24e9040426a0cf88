package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** [[Scratch]]'s contract: `cache` never touches the caller's session
  * conf and gives each cache the plan it asked for, even under
  * concurrent callers; `overlap` labels both sides' jobs with the
  * caller's job group and joins both sides before it returns or
  * rethrows; `releaseAll` leaves nothing persisted. */
class ScratchSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def cacheBuilder(ds: DataFrame) =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(ds.asInstanceOf[classic.Dataset[_]]).get
      .cachedRepresentation.cacheBuilder

  /** Whether AQE may coalesce the cache's stored partitions by bytes. */
  private def coalescesByBytes(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec =>
      a.conf.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS)
    case _ => false
  }

  test("cache: concurrent sized and plain builds never touch the session conf, and each gets the plan it asked for") {
    val key = SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING.key
    val before = spark.conf.getOption(key)
    val threads = 4
    val iters = 40
    val built = new ConcurrentLinkedQueue[(Boolean, DataFrame)]()
    val pool = Executors.newFixedThreadPool(threads)
    var readsTrue = 0
    try {
      val work = (0 until threads).map { t =>
        pool.submit((() => (0 until iters).foreach { i =>
          def rel(tag: String) = spark.range(100)
            .groupBy((col("id") % 7).as("g")).count()
            .withColumn("tag", lit(s"$tag-$t-$i"))
          built.add(true -> Scratch.cache(rel("sized"), sized = true))
          built.add(false -> Scratch.cache(rel("plain")))
        }): Runnable)
      }
      while (work.exists(!_.isDone))
        if (spark.conf.getOption(key).contains("true")) readsTrue += 1
      work.foreach(_.get())
    } finally pool.shutdown()
    try {
      assert(readsTrue == 0, s"the session conf read true $readsTrue times while caches were built")
      assert(spark.conf.getOption(key) == before)
      assert(built.size == 2 * threads * iters)
      built.asScala.foreach { case (sized, ds) =>
        val p = cacheBuilder(ds).cachedPlan
        if (sized) assert(p.isInstanceOf[AdaptiveSparkPlanExec], p.treeString)
        assert(coalescesByBytes(p) == sized,
          s"${if (sized) "sized" else "plain"} cache compiled with the other flavour's conf:\n${p.treeString}")
      }
      // The stored partitioning follows: byte-coalesced for the sized
      // cache, the session's shuffle width for the plain one.
      def parts(sized: Boolean) = built.asScala.collectFirst { case (`sized`, ds) =>
        cacheBuilder(ds).cachedColumnBuffers.getNumPartitions
      }.get
      assert(parts(sized = false) == spark.conf.get("spark.sql.shuffle.partitions").toInt)
      assert(parts(sized = true) < parts(sized = false))
    } finally Scratch.releaseAll()
  }

  test("cache: a fenced cache is a single-RDD-leaf plan with the same rows") {
    val src = spark.range(50).withColumn("sq", col("id") * col("id"))
    val fenced = Scratch.cache(src, sized = true, fenced = true)
    try {
      assert(fenced.queryExecution.logical.children.isEmpty)
      assert(fenced.collect().toSet == src.collect().toSet)
    } finally Scratch.releaseAll()
  }

  /** Collects (job group, description, interruptOnCancel) of every job
    * started while `body` runs. */
  private def jobLabels(body: => Unit): Seq[(String, String, String)] = {
    val sc = spark.sparkContext
    val labels = new ConcurrentLinkedQueue[(String, String, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties())
        labels.add((p.getProperty("spark.jobGroup.id"), p.getProperty("spark.job.description"),
          p.getProperty("spark.job.interruptOnCancel")))
      }
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try { body; TestBus.drain(sc) } finally sc.removeSparkListener(l)
    labels.asScala.toSeq
  }

  test("overlap: from a reused pool thread, every job of both sides carries the caller's job group and description") {
    val sc = spark.sparkContext
    val callers = Executors.newSingleThreadExecutor()
    def inGroup(g: String): Unit = callers.submit((() => {
      sc.setJobGroup(g, s"$g description", interruptOnCancel = true)
      try Scratch.overlap(spark.range(0, 1000, 1, 4).count(), spark.range(0, 2000, 1, 4).count())
      finally sc.clearJobGroup()
    }): Runnable).get()
    try {
      // The first call creates the caller thread and the overlap pool's
      // threads under another group; the second reuses them.
      inGroup("warm-up")
      val labels = jobLabels(inGroup("nightly"))
      assert(labels.size >= 2, labels)
      assert(labels.forall(_ == (("nightly", "nightly description", "true"))), labels)
    } finally callers.shutdown()
  }

  /** Runs `body`, which must throw `e`, and returns the ids of the jobs
    * it started, their end times, and the time the exception reached
    * this caller. */
  private def failingJobs(e: Exception)(body: => Unit): (Seq[Int], Map[Int, Long], Long) = {
    val sc = spark.sparkContext
    val started = new ConcurrentLinkedQueue[Int]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = started.add(j.jobId)
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ended.put(j.jobId, j.time)
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    val caught = try {
      val thrown = intercept[Exception](body)
      assert(thrown eq e)
      System.currentTimeMillis()
    } finally { TestBus.drain(sc); sc.removeSparkListener(l) }
    (started.asScala.toSeq, ended.asScala.toMap, caught)
  }

  private def slowCount(): Long =
    spark.sparkContext.parallelize(1 to 4, 4).map { i => Thread.sleep(400); i }.count()

  test("overlap: a failing side reaches the caller only after the other side's jobs have ended") {
    val aDone = new AtomicBoolean(false)
    val bFails = new IllegalStateException("b failed")
    val (s1, e1, t1) = failingJobs(bFails)(
      Scratch.overlap({ slowCount(); aDone.set(true) }, throw bFails))
    assert(aDone.get, "overlap rethrew b's failure before a finished")
    assert(s1.nonEmpty && s1.forall(id => e1.get(id).exists(_ <= t1)), (s1, e1, t1))

    val aFails = new IllegalStateException("a failed")
    val (s2, e2, t2) = failingJobs(aFails)(
      Scratch.overlap(throw aFails, slowCount()))
    assert(s2.nonEmpty && s2.forall(id => e2.get(id).exists(_ <= t2)), (s2, e2, t2))
  }

  test("overlap: when both sides fail, b's failure is thrown with a's suppressed") {
    val (ea, eb) = (new IllegalStateException("a"), new IllegalArgumentException("b"))
    val thrown = intercept[IllegalArgumentException](Scratch.overlap(throw ea, throw eb))
    assert((thrown eq eb) && thrown.getSuppressed.toSeq == Seq(ea))
  }

  test("releaseAll after a q140 body at sf0.001 leaves no persisted RDD behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keys.toSet
    def added = sc.getPersistentRDDs.keys.toSet -- before
    Registry.queriesMap("q140_maintenance_epoch")(spark, "/root/testdata/sf0.001").collect()
    assert(added.nonEmpty, "q140 cached nothing; the check is vacuous")
    Scratch.releaseAll()
    assert(added.isEmpty, sc.getPersistentRDDs)
  }

  test("src/main mutates a session conf only where the allowlist says") {
    // Load-time parquet read confs, the streaming width (streaming
    // queries must stay on the session whose StreamingQueryManager the
    // caller listens on), and the sized cache's own session clone.
    val allowed = Set(
      "graft/Tables.scala#load",
      "graft/queries/StreamingOps.scala#eventsStream",
      "graft/queries/StreamingOps.scala#withStreamPartitions",
      "org/apache/spark/sql/GraftCache.scala#persistSized")
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    val mutation = """\bconf\.(set|unset|setConf|unsetConf)\(""".r
    val definition = """\bdef\s+(\w+)""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val found = files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      val lines = java.nio.file.Files.readAllLines(f.toPath).asScala.toVector
      lines.indices.collect { case i if mutation.findFirstIn(lines(i)).isDefined &&
          !lines(i).trim.startsWith("//") && !lines(i).trim.startsWith("*") =>
        val enclosing = (i to 0 by -1).iterator
          .flatMap(j => definition.findFirstMatchIn(lines(j)).map(_.group(1))).nextOption()
        (s"$rel#${enclosing.getOrElse("?")}", i + 1)
      }
    }
    assert(found.nonEmpty, "the scan matched nothing; the pattern is broken")
    val outside = found.filterNot { case (site, _) => allowed(site) }
    assert(outside.isEmpty, s"session conf mutated outside the allowlist: $outside")
  }
}
