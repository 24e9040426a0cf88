package graft

import graft.etl._
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The four stage CLIs over the small difftest corpus: how many Spark
  * jobs each submits, that they run over a `file:` URI outputs dir,
  * and what a failing sink leaves behind. */
class StageRunSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def res(name: String): String =
    Paths.get(getClass.getResource(s"/difftest/$name").toURI).toString

  /** What `body` returned or threw, the ids of the jobs it started,
    * their end times, and the time `body` returned or threw (ms). */
  private def jobsOf[A](body: => A): (Either[Throwable, A], Seq[Int], Map[Int, Long], Long) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val ended = new ConcurrentHashMap[Int, Long]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    val (r, t) = try {
      val r = try Right(body) catch { case e: Throwable => Left(e) }
      (r, System.currentTimeMillis())
    } finally { TestBus.drain(sc); sc.removeSparkListener(l) }
    (r, started.asScala.toSeq, ended.asScala.toMap, t)
  }

  private val Stages4 = Seq("consolidate", "validate", "confidence", "tag")

  private def runStage(stage: String, dir: String): Unit = stage match {
    case "consolidate" =>
      ConsolidateMain.run(spark, res("linkedin.csv"), res("gmail.csv"), res("contacts.vcf"), dir)
    case "validate" => ValidateMain.run(spark, dir)
    case "confidence" => ConfidenceMain.run(spark, dir)
    case "tag" => TagMain.run(spark, dir, res("gmail.csv"), res("contacts.vcf"))
  }

  /** One run of the four stages into a plain local dir, with the number
    * of jobs each stage submitted. */
  private lazy val plainRun: (String, Map[String, Int]) = {
    val dir = Files.createTempDirectory("graft-stage-plain").toString
    val counts = Stages4.map { s =>
      val (r, jobs, _, _) = jobsOf(runStage(s, dir))
      r.fold(throw _, identity)
      s -> jobs.size
    }.toMap
    (dir, counts)
  }

  private val Artifacts9 = Seq(
    "consolidated_contacts", "consolidated_lineage", "flattened_contacts",
    "validation_report", "contact_quality_scored",
    "confidence_report", "confidence_summary",
    "tagged_contacts", "referral_targets")

  private def rows(dir: String, artifact: String): Seq[String] = {
    val df = Stages.readArtifactCsv(spark, Stages.artifactPath(dir, artifact))
    df.collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted
  }

  // The most jobs each stage was measured to submit on this corpus with
  // schema-declared reads, second sinks derived from the cached first
  // output and no trailing count (consolidate varies 33-34 with the
  // order in which adaptive execution submits its query stages). With
  // schema inference, recomputed second sinks and the trailing count
  // the stages submitted 35, 9, 14 and 17; a re-introduced inference
  // read, second-sink recompute or trailing count exceeds these.
  private val MaxJobs = Map("consolidate" -> 34, "validate" -> 8, "confidence" -> 11, "tag" -> 11)

  test("job census: each stage CLI submits at most the jobs it needs") {
    val counts = plainRun._2
    info(s"jobs per stage: $counts")
    for (s <- Stages4)
      assert(counts(s) <= MaxJobs(s), s"$s submitted ${counts(s)} jobs (at most ${MaxJobs(s)})")
  }

  test("the four stage mains run over a file: URI outputs dir") {
    val local = Files.createTempDirectory("graft-stage-uri")
    val uri = local.toUri.toString.stripSuffix("/")
    assert(uri.startsWith("file:"), uri)
    Stages4.foreach(runStage(_, uri))
    for (a <- Artifacts9) {
      assert(Files.isDirectory(local.resolve(a)), s"$a was not written under $uri")
      assert(!Stages.artifactPath(uri, a).endsWith(".csv"), s"$a resolved to the reference layout")
      assert(rows(uri, a) == rows(plainRun._1, a), s"$a differs from the plain-path run")
    }
  }

  /** A copy of the consolidate stage's artifacts in a fresh dir. */
  private def consolidatedCopy(): Path = {
    val dir = Files.createTempDirectory("graft-stage-fail")
    for (a <- Artifacts9.take(3)) {
      val src = Paths.get(plainRun._1, a)
      Files.walk(src).iterator.asScala.foreach(p =>
        Files.copy(p, dir.resolve(a).resolve(src.relativize(p).toString)))
    }
    dir
  }

  test("a failing second sink throws after the first sink's jobs have ended and leaves nothing persisted") {
    val dir = consolidatedCopy()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keys.toSet
    // Overwrite mode replaces an existing file or directory, so the
    // sink is made unwritable by a link whose target lies under a
    // regular file: no directory can be created there.
    val blocker = Files.writeString(dir.resolve("blocker"), "a regular file")
    Files.createSymbolicLink(dir.resolve("contact_quality_scored"), blocker.resolve("sink"))
    val (r, started, ended, caught) = jobsOf(ValidateMain.run(spark, dir.toString))
    assert(r.isLeft, "the validate stage did not fail")
    assert(started.nonEmpty && started.forall(id => ended.get(id).exists(_ <= caught)),
      (started, ended, caught))
    assert(Files.isDirectory(dir.resolve("validation_report")), "the first sink did not run")
    assert((sc.getPersistentRDDs.keys.toSet -- before).isEmpty, sc.getPersistentRDDs)
  }
}
