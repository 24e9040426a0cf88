package graft

import graft.etl._
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** [[Stages.readArtifactCsv]] declares the schema Spark's header
  * inference would give, read from one header record on the driver, on
  * every artifact layout the stage CLIs accept, and submits no job. */
class ArtifactReadSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The same read with Spark's header inference. */
  private def inferredRead(path: String): DataFrame = spark.read
    .option("header", "true").option("escape", "\"").option("multiLine", "true")
    .csv(path).na.fill("")

  private def inferred(path: String): StructType = inferredRead(path).schema

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def sample: DataFrame = spark.range(0, 40).select(
    col("id").cast("string").as("contact_id"),
    concat(lit("Ann, \"A\" "), col("id")).as("full_name"),
    when(col("id") % 3 === 0, lit("line1\nline2")).otherwise(lit("")).as("notes"))

  private def listFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).toSeq

  /** Every layout, as (case name, path to read). */
  private lazy val layouts: Seq[(String, String)] = {
    val single = s"${tmp("graft-read-single")}/validation_report"
    Artifacts.writeCsv(sample, single)

    val parts = s"${tmp("graft-read-parts")}/consolidated_contacts"
    Artifacts.writeCsv(sample.repartition(3), parts, singleFile = false)
    assert(listFiles(parts).count(_.endsWith(".csv")) > 1, listFiles(parts))

    // The reference writes a plain <name>.csv, resolved by artifactPath.
    val refDir = tmp("graft-read-ref")
    Files.writeString(Paths.get(refDir, "tagged_contacts.csv"),
      "\"contact_id\",\"full_name\"\n\"1\",\"Ann Yu\"\n")
    val ref = Stages.artifactPath(refDir, "tagged_contacts")
    assert(ref.endsWith("tagged_contacts.csv"), ref)

    val empty = s"${tmp("graft-read-empty")}/referral_targets"
    Artifacts.writeCsv(sample.where(lit(false)), empty)

    // A quoted comma, a blank name and a case-insensitive duplicate.
    val oddDir = tmp("graft-read-odd")
    Files.writeString(Paths.get(oddDir, "odd.csv"),
      "\"a,b\",\"\",\"Name\",\"name\",\"x\"\n\"1\",\"2\",\"3\",\"4\",\"5\"\n")
    val odd = s"$oddDir/odd.csv"

    Seq("single file" -> single, "multi-part" -> parts, "reference <name>.csv" -> ref,
      "empty" -> empty, "quoted comma, blank and duplicate names" -> odd)
  }

  test("the declared schema equals Spark's inferred schema on every artifact layout") {
    for ((name, path) <- layouts) {
      val declared = Stages.readArtifactCsv(spark, path).schema
      assert(declared == inferred(path), name)
    }
    val odd = layouts.toMap.apply("quoted comma, blank and duplicate names")
    assert(Stages.readArtifactCsv(spark, odd).columns.toSeq ==
      Seq("a,b", "_c1", "Name2", "name3", "x"))
    // The rows read back too, not only the names.
    val single = layouts.toMap.apply("single file")
    assert(Stages.readArtifactCsv(spark, single).collect().toSet ==
      inferredRead(single).collect().toSet)
  }

  test("a checksummed part-file directory is read past its .crc and _SUCCESS entries") {
    val dir = layouts.toMap.apply("multi-part")
    val names = listFiles(dir)
    assert(names.exists(n => n.startsWith(".") && n.endsWith(".crc")), names)
    assert(names.contains("_SUCCESS"), names)
    assert(Stages.readArtifactCsv(spark, dir).schema == inferred(dir))
  }

  test("reading an artifact submits no Spark job") {
    val paths = layouts.map(_._2)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      paths.foreach(p => Stages.readArtifactCsv(spark, p))
      TestBus.drain(sc)
    } finally sc.removeSparkListener(l)
    assert(jobs.get == 0)
  }

  test("a directory without a data file fails with its path") {
    val dir = tmp("graft-read-nodata")
    Files.writeString(Paths.get(dir, "_SUCCESS"), "")
    val e = intercept[IllegalArgumentException](Stages.readArtifactCsv(spark, dir))
    assert(e.getMessage.contains(dir))
  }
}
