package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q116's removal-equals-rebuild contract: removing a batch of docs
  * from the standing capped index (DedupOps.removeFromIndexBuckets)
  * must produce, bucket for bucket, the capped index recomputed from
  * scratch over `banding MINUS removed` — including the DEMOTION
  * branch (a tombstone whose survivor count falls to ≤ cap comes back
  * LIVE with the full survivor id set, recoverable only from the
  * persisted banding relation, never from the truncated index itself),
  * the zero-survivor DROP (a bucket losing every member leaves the
  * table, matching the from-scratch index which has no bucket no doc
  * names), and tombstone PERSISTENCE (still over cap after removal →
  * stays rejected). The registered q116 oracle re-proves the equality
  * cross-engine every round at the registered cap; this spec fires the
  * branches the sf corpora don't reach on crafted fixtures, then
  * replays removal == from-scratch on the real sf tables under
  * tightened caps where demotion actually fires. */
class IndexRemoveSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Cap = 3

  /** banding(doc_id, band, key) fixture rows — the persisted reverse
    * relation q116's contract requires a deployment to keep. */
  private def banding(rows: (Long, Int, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "band", "key")
  }

  private def removedDf(ids: Long*) = {
    val s = spark
    import s.implicits._
    ids.toDF("doc_id")
  }

  private def buckets(df: org.apache.spark.sql.DataFrame): Map[(Int, String), Seq[Long]] =
    df.collect().map(r => (r.getAs[Int]("band"), r.getAs[String]("key")) ->
      r.getAs[scala.collection.Seq[Long]]("ids").toSeq).toMap

  /** The crafted corpus covering every branch at cap 3:
    *   demote      4 members, tombstoned; removing 1 → 3 = cap → LIVE
    *   gone        2 members, both removed → bucket DROPS
    *   hot         5 members, removing 1 → 4 > cap → tombstone persists
    *   live_shrink 3 live members, removing 1 → 2, stays live
    *   untouched   live bucket naming no removed doc → unchanged
    *   cold        over-cap bucket naming no removed doc → tombstone
    *               passes through untouched */
  private val fixture = Seq[(Long, Int, String)](
    (1L, 0, "demote"), (2L, 0, "demote"), (3L, 0, "demote"), (4L, 0, "demote"),
    (5L, 0, "gone"), (6L, 0, "gone"),
    (10L, 0, "hot"), (11L, 0, "hot"), (12L, 0, "hot"), (13L, 0, "hot"), (14L, 0, "hot"),
    (20L, 0, "live_shrink"), (21L, 0, "live_shrink"), (22L, 0, "live_shrink"),
    (30L, 0, "untouched"), (31L, 0, "untouched"),
    (40L, 0, "cold"), (41L, 0, "cold"), (42L, 0, "cold"), (43L, 0, "cold"))
  private val fixtureRemoved = Seq(4L, 5L, 6L, 14L, 22L)

  test("demotion, zero-survivor drop, tombstone persistence, passthrough") {
    val b = banding(fixture: _*)
    val standing = queries.DedupOps.cappedIndexBuckets(b, Cap)
    val out = buckets(queries.DedupOps.removeFromIndexBuckets(
      standing, b, removedDf(fixtureRemoved: _*), Cap))
    assert(out((0, "demote")) == Seq(1L, 2L, 3L),
      "tombstone at cap after removal must DEMOTE with the full survivor set, sorted")
    assert(!out.contains((0, "gone")),
      "a bucket losing every member must drop from the table")
    assert(out((0, "hot")) == Seq.empty,
      "a bucket still over cap after removal must stay tombstoned")
    assert(out((0, "live_shrink")) == Seq(20L, 21L),
      "a live bucket losing one member keeps the rest")
    assert(out((0, "untouched")) == Seq(30L, 31L),
      "an untouched live bucket must pass through unchanged")
    assert(out((0, "cold")) == Seq.empty,
      "an untouched tombstone must pass through as a tombstone")
    assert(out.size == 5)
  }

  test("crafted removal equals from-scratch recompute over surviving banding") {
    val b = banding(fixture: _*)
    val standing = queries.DedupOps.cappedIndexBuckets(b, Cap)
    val removed = removedDf(fixtureRemoved: _*)
    val out = buckets(queries.DedupOps.removeFromIndexBuckets(standing, b, removed, Cap))
    val fromScratch = buckets(queries.DedupOps.cappedIndexBuckets(
      b.join(removed, Seq("doc_id"), "left_anti"), Cap))
    assert(out == fromScratch)
  }

  test("re-applying the same removal is a no-op (redelivered takedown)") {
    // At-least-once delivery of a takedown batch: the second apply's
    // touched buckets rebuild from the SAME surviving banding rows, so
    // the result is unchanged — no survivor is lost twice.
    val b = banding(fixture: _*)
    val removed = removedDf(fixtureRemoved: _*)
    val once = queries.DedupOps.removeFromIndexBuckets(
      queries.DedupOps.cappedIndexBuckets(b, Cap), b, removed, Cap)
    val twice = buckets(queries.DedupOps.removeFromIndexBuckets(once, b, removed, Cap))
    assert(twice == buckets(once))
  }

  test("a doc naming several buckets rebuilds every one of them") {
    // doc 2 sits in band 0 AND band 1; its removal must touch both,
    // while the band-1 bucket doc 1 shares stays consistent.
    val b = banding(
      (1L, 0, "x"), (2L, 0, "x"),
      (1L, 1, "y"), (2L, 1, "y"), (3L, 1, "y"))
    val standing = queries.DedupOps.cappedIndexBuckets(b, Cap)
    val out = buckets(queries.DedupOps.removeFromIndexBuckets(
      standing, b, removedDf(2L), Cap))
    assert(out((0, "x")) == Seq(1L))
    assert(out((1, "y")) == Seq(1L, 3L))
    assert(out.size == 2)
  }

  // sf replays under tightened caps and removal fractions picked so
  // the interesting branches actually fire on the real banding (bucket
  // census, r14: at the registered cap 3 / 10 %
  // batch neither corpus reaches demotion — sf0.01's max bucket IS 3 —
  // so cap 2 with a 1-in-3 batch is where tombstones both demote and,
  // on sf0.001, persist). The same h60 "remove:" split family as
  // registered q116, applied to the banding's own doc ids
  // (removeFromIndexBuckets only ever consults removed ∩ banding, so
  // filtering documents vs banding ids is equivalent).
  for ((sf, cap, pct, expectDemote, expectPersist) <- Seq(
      ("sf0.001", 3, 10, false, true), // registered cap+batch: persistence only
      ("sf0.001", 2, 3, true, true),   // demotion AND persistence fire
      ("sf0.01", 2, 3, true, false))) { // all 3 tombstones demote
    test(s"removal equals from-scratch recompute on $sf (cap $cap, 1/$pct removed)") {
      val dir = s"/root/testdata/$sf"
      val b = Scratch.cache(queries.DedupOps.bandedFor(spark, dir, lit(true)))
      val removed = b.select(col("doc_id")).distinct()
        .where(queries.h60(concat(lit("remove:"), col("doc_id"))) % pct === 0)
      val standing = buckets(queries.DedupOps.cappedIndexBuckets(b, cap))
      val out = buckets(queries.DedupOps.removeFromIndexBuckets(
        queries.DedupOps.cappedIndexBuckets(b, cap), b, removed, cap))
      val fromScratch = buckets(queries.DedupOps.cappedIndexBuckets(
        b.join(removed, Seq("doc_id"), "left_anti"), cap))
      Scratch.releaseAll()
      assert(out == fromScratch)
      assert(out.size < standing.size, "no bucket dropped; drop branch vacuous")
      if (expectPersist)
        assert(out.exists(_._2.isEmpty), "no tombstone survived removal; persistence vacuous")
      if (expectDemote) {
        val demoted = standing.collect {
          case (k, ids) if ids.isEmpty && out.get(k).exists(_.nonEmpty) => k }
        assert(demoted.nonEmpty, "no tombstone demoted to live; demotion branch vacuous")
      }
    }
  }

  /** [[buckets]] for the embedding banding's Int keys. */
  private def bucketsI(df: org.apache.spark.sql.DataFrame): Map[(Int, Int), Seq[Long]] =
    df.collect().map(r => (r.getAs[Int]("band"), r.getAs[Int]("key")) ->
      r.getAs[scala.collection.Seq[Long]]("ids").toSeq).toMap

  // The EMBEDDING instance (q123): the same operator over the q97
  // sign-LSH banding, at the IndexMergeSpec cap split — sf0.01
  // tightened to 12, sf0.1 at the PRODUCTION cap 56 itself — and the
  // registered 10 % takedown. Demotion AND persistence both fire on
  // the real banding at these points (r14 bucket census: 16
  // demotions / 14 persists at sf0.01 cap 12; 3 / 1 at sf0.1 cap 56);
  // no bucket empties entirely there, so the drop branch stays
  // covered by the text-banding cases and the crafted fixture.
  for ((sf, cap) <- Seq(("sf0.01", 12), ("sf0.1", 56))) {
    test(s"embedding removal equals from-scratch recompute on $sf (cap $cap)") {
      val dir = s"/root/testdata/$sf"
      val b = Scratch.cache(queries.DedupOps.embBandedFor(spark, dir, lit(true)))
      val removed = b.select(col("doc_id")).distinct()
        .where(queries.h60(concat(lit("remove:"), col("doc_id"))) % 10 === 0)
      val standing = bucketsI(queries.DedupOps.cappedIndexBuckets(b, cap))
      val out = bucketsI(queries.DedupOps.removeFromIndexBuckets(
        queries.DedupOps.cappedIndexBuckets(b, cap), b, removed, cap))
      val fromScratch = bucketsI(queries.DedupOps.cappedIndexBuckets(
        b.join(removed, Seq("doc_id"), "left_anti"), cap))
      Scratch.releaseAll()
      assert(out == fromScratch)
      assert(out.exists(_._2.isEmpty), "no tombstone survived removal; persistence vacuous")
      val demoted = standing.collect {
        case (k, ids) if ids.isEmpty && out.get(k).exists(_.nonEmpty) => k }
      assert(demoted.nonEmpty, "no tombstone demoted to live; demotion branch vacuous")
    }
  }
}
