package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Stage sink projections + CSV writers
  * (combine_contacts.py:1457-1529,1562-1568).
  *
  * The consolidate stage's three artifacts are rendered exactly like
  * the reference: channels as pipe-joined `value::label` strings
  * (phones with `xEXT` suffix), addresses as a JSON array string, plus
  * the `invalid_emails`/`non_standard_phones` columns the insight
  * notebooks expect but the reference never actually emitted
  * (SURVEY.md §2.9.3 — we emit them, matching the documented intent).
  * Writers use header + quote-all UTF-8 CSV, the reference's
  * `csv.QUOTE_ALL` discipline, so every cell round-trips as a string.
  *
  * Downstream stage artifacts (validation_report,
  * contact_quality_scored, confidence_report, confidence_summary,
  * tagged_contacts, referral_targets) are already flat DataFrames from
  * Score/Tag — write them with [[writeCsv]] directly.
  */
object Artifacts {

  private def renderEmails(c: org.apache.spark.sql.Column) =
    concat_ws("|", transform(c, e =>
      concat(e.getField("value"), lit("::"), e.getField("label"))))

  private def renderPhones(c: org.apache.spark.sql.Column) =
    concat_ws("|", transform(c, p =>
      concat(p.getField("value"),
        when(p.getField("extension") =!= "", concat(lit("x"), p.getField("extension")))
          .otherwise(""),
        lit("::"), p.getField("label"))))

  /** consolidated_contacts.csv projection (combine_contacts.py:1462-1486). */
  def consolidatedContacts(merged: Dataset[MergedContact]): DataFrame =
    merged.toDF().select(
      col("contact_id"),
      col("contact.full_name").as("full_name"),
      col("contact.prefix").as("prefix"),
      col("contact.first_name").as("first_name"),
      col("contact.middle_name").as("middle_name"),
      col("contact.last_name").as("last_name"),
      col("contact.maiden_name").as("maiden_name"),
      col("contact.suffix").as("suffix"),
      col("contact.suffix_professional").as("suffix_professional"),
      col("contact.nickname").as("nickname"),
      col("contact.company").as("company"),
      col("contact.title").as("title"),
      col("contact.department").as("department"),
      col("contact.linkedin_url").as("linkedin_url"),
      renderEmails(col("contact.emails")).as("emails"),
      renderPhones(col("contact.phones")).as("phones"),
      col("addresses_json"),
      col("source_count"),
      col("source_row_count"),
      concat_ws("|", col("invalid_emails")).as("invalid_emails"),
      concat_ws("|", col("non_standard_phones")).as("non_standard_phones"))

  /** consolidated_lineage.csv — Lineage is already the flat row. */
  def consolidatedLineage(lineage: Dataset[Lineage]): DataFrame = lineage.toDF()

  /** flattened_contacts.csv (combine_contacts.py:1488-1514). */
  def flattenedContacts(merged: Dataset[MergedContact]): DataFrame =
    Pipeline.flatten(merged)

  /** Abort when any contact_id is duplicated
    * (combine_contacts.py:1519-1525); otherwise return the row total.
    * One aggregation yields both the total and the number of
    * duplicated ids; the first five duplicates are collected only to
    * name them in the error. */
  def assertUniqueIds(contacts: DataFrame): Long = {
    val perId = contacts.groupBy(col("contact_id")).count()
    val r = perId.agg(coalesce(sum(col("count")), lit(0L)),
      count(when(col("count") > 1, true))).head()
    if (r.getLong(1) > 0) {
      val dups = perId.where(col("count") > 1)
        .orderBy(col("contact_id")).limit(5)
        .collect().map(_.getString(0))
      throw new IllegalStateException(
        s"duplicate contact_id detected in consolidated output: ${dups.mkString(", ")}")
    }
    r.getLong(0)
  }

  /** Header + quote-all UTF-8 CSV (the reference's `csv.QUOTE_ALL`
    * discipline).
    *
    * `singleFile = true` (reference-parity mode) emits one file via
    * repartition(1), not coalesce(1): coalesce propagates the
    * 1-partition constraint up through every narrow stage, serializing
    * the whole render onto one core; the shuffle keeps the upstream
    * projection parallel and only the final write is one task. A
    * round-robin repartition carries NO ordering contract, so
    * order-significant artifacts (referral_targets is a ranked
    * deliverable; confidence_summary has a fixed bucket order) must
    * pass `sortCols` — the rows are re-sorted INSIDE the single
    * partition, which is cheap (reports are small) and deterministic
    * on any deployment, instead of relying on local-mode fetch order.
    *
    * `singleFile = false` is the scale mode: part-files written at the
    * upstream parallelism (each internally sorted when `sortCols` is
    * given). The stage CLIs read both layouts. */
  def writeCsv(df: DataFrame, path: String,
      sortCols: Seq[org.apache.spark.sql.Column] = Nil,
      singleFile: Boolean = true): Unit = {
    val placed = if (singleFile) df.repartition(1) else df
    val sorted = if (sortCols.nonEmpty) placed.sortWithinPartitions(sortCols: _*) else placed
    sorted.write
      .option("header", "true")
      .option("quoteAll", "true")
      // RFC-4180 doubled quotes ("" not \") — Spark's backslash-escape
      // default breaks standard CSV readers on embedded JSON.
      .option("escape", "\"")
      .mode("overwrite")
      .csv(path)
  }

  /** The consolidate stage's three artifacts (combine_contacts.py:1562-1568);
    * returns the number of consolidated contacts.
    *
    * [[assertUniqueIds]] runs first: it guards the write and, when
    * `merged` and `lineage` derive from one cached merge (as
    * `Pipeline.dedupeAndMerge`'s do), materializes that cache, so the
    * three sinks then only render and write. They are written at the
    * same time ([[graft.Scratch.overlap]]); a failing sink surfaces
    * after the other two have ended. */
  def writeConsolidated(merged: Dataset[MergedContact], lineage: Dataset[Lineage],
      outDir: String, singleFile: Boolean = true): Long = {
    val contacts = consolidatedContacts(merged)
    val total = assertUniqueIds(contacts)
    graft.Scratch.overlap(
      writeCsv(contacts, s"$outDir/consolidated_contacts", singleFile = singleFile),
      graft.Scratch.overlap(
        writeCsv(consolidatedLineage(lineage), s"$outDir/consolidated_lineage",
          singleFile = singleFile),
        writeCsv(flattenedContacts(merged), s"$outDir/flattened_contacts",
          singleFile = singleFile)))
    total
  }
}
