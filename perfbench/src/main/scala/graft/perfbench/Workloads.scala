package graft.perfbench

import graft.Registry
import graft.etl._
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File

/** Order-independent result identity: row count plus the sum of a
  * 64-bit hash over every column of every row. Computing it reads the
  * full projection, unlike a bare count. */
final case class Fp(rows: Long, hash: BigDecimal)

object Fp {
  private def q(c: String) = col("`" + c.replace("`", "``") + "`")

  def of(df: DataFrame): Fp = {
    val h = if (df.columns.isEmpty) lit(0L) else xxhash64(df.columns.toSeq.map(q): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(20,0)"))).head()
    Fp(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Every column as the string a CSV artifact holds ("" for null). */
  def strings(df: DataFrame): DataFrame =
    df.select(df.columns.toSeq.map(c => coalesce(q(c).cast("string"), lit("")).as(c)): _*)
}

/** One timed call of the program's public surface. `run` is timed and
  * returns the fingerprint of its timed action when it has one;
  * `outputs`, called right after the pass, names the fingerprint of
  * every output the call produced. */
final case class Op(label: String, module: String, run: () => Option[Fp],
    outputs: Option[Fp] => Map[String, Fp])

/** A workload: the operations one pass makes, the untimed warm-up
  * that also fixes `expected`, the outputs every pass must reproduce,
  * and `problems`, operations failed whatever they output; and the
  * layer metrics only the traced run measures. */
trait Workload {
  def ops: Seq[Op]
  def beforePass(): Unit = ()
  def warmup(): Unit
  def expected: Map[String, Fp]
  def problems: Map[String, String]
  /** Layer metrics measured outside the passes (kernels, parse). */
  def layerMetrics(spans: Spans): Map[String, Double]
}

object Workload {
  def apply(name: String, spark: SparkSession, inputs: String, work: String,
      spans: Spans): Workload = name match {
    case "contacts-etl" => new ContactsEtl(spark, inputs, work, spans)
    case "maintenance" => new SfQueries(spark, inputs, work, spans, Seq(
      "q140_maintenance_epoch" -> "EpochOps", "q65_stream_tumbling" -> "StreamingOps"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Median of `reps` timings of `body`, in nanoseconds. */
  def medianNs(reps: Int)(body: => Unit): Double = {
    val ts = (1 to reps).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble }
    Stats.median(ts)
  }

  /** ns per call of `f` over `inputs`, looping until each repetition
    * has taken at least 100 ms; the median of five repetitions. */
  def nsPerCall[A](inputs: IndexedSeq[A])(f: A => Any): Double = {
    if (inputs.isEmpty) return 0.0
    var sink = 0
    var loops = 1
    def rep(): Double = {
      val t0 = System.nanoTime()
      var l = 0
      while (l < loops) { var i = 0; while (i < inputs.length) { sink += f(inputs(i)).hashCode; i += 1 }; l += 1 }
      (System.nanoTime() - t0).toDouble / (loops.toLong * inputs.length)
    }
    while ({ val t0 = System.nanoTime(); rep(); System.nanoTime() - t0 < 100000000L }) loops *= 2
    val r = Stats.median((1 to 5).map(_ => rep()))
    if (sink == 42) println("")
    r
  }
}

/** The reference's four-stage dataflow over a seeded three-source
  * corpus, stages exchanging CSV artifacts on disk. */
final class ContactsEtl(spark: SparkSession, inputs: String, work: String, spans: Spans)
    extends Workload {
  private val li = s"$inputs/linkedin.csv"
  private val gm = s"$inputs/gmail.csv"
  private val vcf = s"$inputs/contacts.vcf"
  private val out = s"$work/etl_out"
  private val artifacts = Seq(
    "consolidate" -> Seq("consolidated_contacts", "consolidated_lineage", "flattened_contacts"),
    "validate" -> Seq("validation_report", "contact_quality_scored"),
    "confidence" -> Seq("confidence_report", "confidence_summary"),
    "tag" -> Seq("tagged_contacts", "referral_targets"))
  var expected = Map.empty[String, Fp]
  var problems = Map.empty[String, String]
  var quality = Map.empty[String, Double]

  private def staged(name: String): Fp =
    Fp.of(Fp.strings(Stages.readArtifactCsv(spark, Stages.artifactPath(out, name))))

  private def stage(name: String)(body: => Unit): Op = Op(s"etl.$name", "etl",
    () => { body; None },
    _ => artifacts.toMap.apply(name).map(a => a -> staged(a)).toMap)

  val ops: Seq[Op] = Seq(
    stage("consolidate")(ConsolidateMain.run(spark, li, gm, vcf, out): Unit),
    stage("validate")(ValidateMain.run(spark, out)),
    stage("confidence")(ConfidenceMain.run(spark, out)),
    stage("tag")(TagMain.run(spark, out, gm, vcf)))

  override def beforePass(): Unit = Files.delete(new File(out))

  /** The warm-up chains the same public functions in memory, each CSV
    * boundary replaced by its all-string projection: what every staged
    * pass must reproduce. It also measures the corpus's pair recall and
    * precision against the generator's identities, with a floor on
    * recall. (A staged warm-up pass on top would spare the first timed
    * pass the CSV sinks' and readers' cold start, at ~10 s a run.) */
  def warmup(): Unit = {
    val cfg = Config.load(Config.Cli(), None)
    val raw = Sources.loadAll(spark, li, gm, vcf).localCheckpoint(true)
    val normalized = Pipeline.normalize(raw, cfg.normalization)
    val (merged, lineage) = Pipeline.dedupeAndMerge(normalized, raw, cfg.dedupe)
    val s = Fp.strings _
    val contacts = s(Artifacts.consolidatedContacts(merged)).localCheckpoint(true)
    val lin = s(Artifacts.consolidatedLineage(lineage)).localCheckpoint(true)
    val flat = s(Artifacts.flattenedContacts(merged)).localCheckpoint(true)
    val (report, scored) = Stages.validate(contacts, flat, cfg.quality)
    val reportS = s(report).localCheckpoint(true)
    val (conf, summary) = Stages.confidence(contacts, reportS, flat)
    val confS = s(conf).localCheckpoint(true)
    val notes = Sources.gmailNotes(spark, gm).unionByName(Sources.vcfNotes(spark, vcf))
    val (tagged, targets) = Stages.tag(contacts, lin, notes, confS, Tag.CliDefaultSettings)
    expected = Map(
      "consolidated_contacts" -> Fp.of(contacts), "consolidated_lineage" -> Fp.of(lin),
      "flattened_contacts" -> Fp.of(flat), "validation_report" -> Fp.of(reportS),
      "contact_quality_scored" -> Fp.of(s(scored)), "confidence_report" -> Fp.of(confS),
      "confidence_summary" -> Fp.of(s(summary)), "tagged_contacts" -> Fp.of(s(tagged)),
      "referral_targets" -> Fp.of(s(targets)))
    val truth = spark.read.option("header", "true").csv(s"$inputs/truth.csv")
    val joined = lin.select("contact_id", "source", "source_row_id")
      .join(truth, Seq("source", "source_row_id"))
    def pairs(keys: String*): Double = joined.groupBy(keys.map(col): _*).count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).head().get(0) match {
        case null => 0.0
        case v => v.toString.toDouble
      }
    val (truePairs, predicted, hit) =
      (pairs("identity"), pairs("contact_id"), pairs("contact_id", "identity"))
    val rows = raw.count().toDouble
    quality = Map(
      "etl.merged_rows_frac" -> (1.0 - expected("consolidated_contacts").rows / rows),
      "etl.pair_recall" -> (if (truePairs > 0) hit / truePairs else 1.0),
      "etl.pair_precision" -> (if (predicted > 0) hit / predicted else 1.0))
    val recall = quality("etl.pair_recall")
    if (recall < ContactsEtl.RecallFloor)
      problems = Map("etl.consolidate" -> f"pair recall $recall%.3f is below ${ContactsEtl.RecallFloor}")
    graft.Scratch.releaseAll()
  }

  def layerMetrics(spans: Spans): Map[String, Double] = {
    val cfg = Config.load(Config.Cli(), None)
    val parseNs = spans("sources.loadAll")(Workload.medianNs(3) {
      Fp.of(Sources.loadAll(spark, li, gm, vcf).toDF())
    })
    val parsed = Sources.loadAll(spark, li, gm, vcf).localCheckpoint(true)
    val rows = parsed.count()
    val named = parsed.where(trim(col("full_name_raw")) =!= "").count()
    val normNs = spans("functions.normalize")(Workload.medianNs(3) {
      Fp.of(Pipeline.normalize(parsed, cfg.normalization).toDF())
    })
    val local = parsed.select("full_name_raw", "emails").collect()
    val names = local.map(_.getString(0).toLowerCase).sorted
      .map(org.apache.spark.unsafe.types.UTF8String.fromString)
    val namePairs = names.indices.drop(1).map(i => (names(i - 1), names(i)))
    val keys = local.map(r => org.apache.spark.unsafe.types.UTF8String.fromString(
      r.getString(0) + "|" + r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0)).mkString(",")))
    val seqRatio = spans("plans.SeqRatio")(Workload.nsPerCall(namePairs) {
      case (a, b) => graft.functions.Similarity.ratioUTF8(a, b)
    })
    val uuid5 = spans("plans.Uuid5")(Workload.nsPerCall(keys.toIndexedSeq)(
      graft.functions.Ids.uuid5UTF8))
    graft.Scratch.releaseAll()
    quality ++ Map(
      "sources.parse_s" -> parseNs / 1e9,
      "sources.rows" -> rows.toDouble,
      "sources.named_frac" -> (if (rows > 0) named.toDouble / rows else 0.0),
      "functions.normalize_ns_per_row" -> (if (rows > 0) normNs / rows else 0.0),
      "plans.SeqRatio.ns_per_call" -> seqRatio,
      "plans.Uuid5.ns_per_call" -> uuid5)
  }
}

object ContactsEtl {
  /** Share of the generator's same-identity row pairs the merge must
    * join. The corpus keeps names consistent across sources; the merge
    * joins every such pair today (recall 1.0). */
  val RecallFloor = 0.9
}

/** Registered queries over seeded sf-shaped tables, each with the
  * program module whose prepare/body spans it records: an operation is
  * the query's prepare hook, its body and the fingerprint action, all
  * timed. The warm-up runs the same calls on a persisted result and
  * also writes it for the DuckDB oracle; read back, it is the expected
  * output. */
final class SfQueries(spark: SparkSession, dir: String, work: String, spans: Spans,
    queries: Seq[(String, String)]) extends Workload {
  private val oracleDir = s"$work/oracle"
  private val names = queries.map(_._1)
  var expected = Map.empty[String, Fp]
  val problems = Map.empty[String, String]

  val ops: Seq[Op] = queries.map { case (name, module) =>
    Op(name, module, () => {
      Registry.preparesMap.get(name).foreach(p => spans(s"$module.prepare")(p(spark, dir)))
      spans(s"$module.body")(Some(Fp.of(Registry.queriesMap(name)(spark, dir))))
    }, fp => fp.map(name -> _).toMap)
  }

  def warmup(): Unit = {
    queries.foreach { case (name, module) =>
      Registry.preparesMap.get(name).foreach(p => spans(s"$module.prepare")(p(spark, dir)))
      val result = Registry.queriesMap(name)(spark, dir).persist()
      Fp.of(result)
      result.coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/$name")
      result.unpersist()
      graft.Scratch.releaseAll()
    }
    expected = names.map(n => n -> Fp.of(spark.read.parquet(s"$oracleDir/$n"))).toMap
    val sql = graft.SparkEntry.oracleSql
    Files.write(s"$oracleDir/oracle_sql.json",
      Json.obj(names.map(n => n -> sql(n))))
  }

  /** SortedIntersectCount over the documents' sorted distinct word
    * 3-gram hash sets: each document against its successor. */
  def layerMetrics(spans: Spans): Map[String, Double] = {
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id").select("text").collect().map(_.getString(0))
    val sets = texts.map { t =>
      val w = t.split(' ')
      val hs = (0 until math.max(1, w.length - 2)).map(i =>
        w.slice(i, i + 3).mkString(" ").hashCode.toLong).distinct.sorted.toArray
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(hs)
    }
    val pairs = sets.indices.drop(1).map(i => (sets(i - 1), sets(i)))
    val ns = spans("plans.SortedIntersectCount")(Workload.nsPerCall(pairs) {
      case (a, b) => graft.plans.SortedIntersectCount.count(a, b)
    })
    Map("plans.SortedIntersectCount.ns_per_call" -> ns)
  }
}
