package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q124's composition contract: a takedown through the CAPPED
  * pipeline (index removal → demotion-revealed pairs → cluster
  * remove + merge) must equal the from-scratch capped rebuild over
  * the survivors. The branches the registered sf instance cannot
  * reach (no sf bucket exceeds the registered cap, so nothing ever
  * demotes there) are the whole point here: a demoted bucket REVEALS
  * a pair its tombstone had swallowed, a revealed pair BRIDGES two
  * standing components, and a survivor the removal orphaned is
  * RESURRECTED by a revealed edge — all on one crafted corpus whose
  * similarity structure is spelled out in hs sets, then replayed on
  * the real sf corpora at tightened caps where demotion provably
  * fires (r14 bucket-size census). */
class CappedRemoveSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sigDf(rows: (Long, Seq[Long])*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "hs")
  }

  private def bandedDf(rows: (Long, Int, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "band", "key")
  }

  private def removedDf(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.toDF("doc_id")
  }

  private def partition(df: DataFrame): Set[Set[Long]] =
    df.collect().map(r => r.getAs[Long]("comp") -> r.getAs[Long]("id"))
      .groupBy(_._1).values.map(_.map(_._2).toSet).toSet

  /** Composition vs from-scratch capped rebuild over the survivors;
    * both sides share the (restrictable) sig/banded relations. */
  private def checked(sig: DataFrame, banded: DataFrame,
      removed: DataFrame, cap: Int): Set[Set[Long]] = {
    val (idx, pairs, standing) =
      queries.DedupOps.cappedClusterArtifacts(sig, banded, cap)
    val got = partition(queries.DedupOps.removeFromCappedCluster(
      idx, banded, sig, pairs, standing, removed, cap))
    val sigS = sig.join(removed, Seq("doc_id"), "left_anti")
    val bandedS = banded.join(removed, Seq("doc_id"), "left_anti")
    val (_, _, fromScratch) =
      queries.DedupOps.cappedClusterArtifacts(sigS, bandedS, cap)
    val want = partition(fromScratch)
    Scratch.releaseAll()
    assert(got == want, "composition must equal the from-scratch capped rebuild")
    got
  }

  test("reveal, bridge, and resurrect on one crafted corpus (cap 3)") {
    // hs similarity (size-10 sets, 9 shared -> J = 9/11 >= 0.8):
    //   {1,2} similar; 3,4 dissimilar to everyone;
    //   {5,6,7,8} mutually similar; 9,10 dissimilar;
    //   {11,12,13} mutually similar; 14,15 dissimilar.
    def sim(base: Long, uniq: Long) = (0L until 9L).map(base + _) :+ uniq
    def lone(base: Long) = (0L until 10L).map(base + _)
    val sig = sigDf(
      1L -> sim(1000, 100), 2L -> sim(1000, 101),
      3L -> lone(2000), 4L -> lone(3000),
      5L -> sim(4000, 102), 6L -> sim(4000, 103),
      7L -> sim(4000, 104), 8L -> sim(4000, 105),
      9L -> lone(5000), 10L -> lone(6000),
      11L -> sim(7000, 106), 12L -> sim(7000, 107), 13L -> sim(7000, 108),
      14L -> lone(8000), 15L -> lone(9000))
    // Buckets (cap 3): A/D/F are over cap -> tombstoned, no pairs.
    val banded = bandedDf(
      (1L, 0, "A"), (2L, 0, "A"), (3L, 0, "A"), (4L, 0, "A"),      // hot
      (5L, 0, "B"), (6L, 0, "B"),                                  // live pair
      (7L, 0, "C"), (8L, 0, "C"),                                  // live pair
      (5L, 0, "D"), (7L, 0, "D"), (9L, 0, "D"), (10L, 0, "D"),     // hot
      (11L, 0, "E"), (12L, 0, "E"),                                // live pair
      (11L, 0, "F"), (13L, 0, "F"), (14L, 0, "F"), (15L, 0, "F"))  // hot
    // Standing state before removal: pairs (5,6), (7,8), (11,12) ->
    // comps {5,6}, {7,8}, {11,12}; docs 1,2,3 invisible (their only
    // bucket is tombstoned).
    val (idx0, _, standing0) =
      queries.DedupOps.cappedClusterArtifacts(sig, banded, 3)
    assert(partition(standing0) == Set(Set(5L, 6L), Set(7L, 8L), Set(11L, 12L)))
    assert(idx0.where(size(col("ids")) === 0).count() == 3, "A/D/F must tombstone")
    Scratch.releaseAll()
    // Remove {4, 9, 10, 12, 14, 15}:
    //   A demotes to {1,2,3} -> REVEALS (1,2): a brand-new component
    //     of docs the capped pipeline had never paired;
    //   D demotes to {5,7} -> reveals (5,7): BRIDGES comps {5,6} and
    //     {7,8};
    //   E loses 12 -> 11 orphaned (dropped), but F demotes to
    //     {11,13} -> reveals (11,13): 11 is RESURRECTED.
    val got = checked(sig, banded, removedDf(4L, 9L, 10L, 12L, 14L, 15L), 3)
    assert(got == Set(Set(1L, 2L), Set(5L, 6L, 7L, 8L), Set(11L, 13L)))
  }

  test("dissimilar demoted members reveal nothing; still-hot buckets stay silent") {
    // One hot bucket of four mutually-DISSIMILAR docs: removing one
    // demotes it, the three revealed candidates all fail verify, and
    // the result is empty either way. A second bucket of five stays
    // over cap after one removal and must contribute nothing.
    def lone(base: Long) = (0L until 10L).map(base + _)
    val sig = sigDf((1L to 9L).map(i => i -> lone(i * 1000)): _*)
    val banded = bandedDf(
      (1L, 0, "X"), (2L, 0, "X"), (3L, 0, "X"), (4L, 0, "X"),
      (5L, 0, "Y"), (6L, 0, "Y"), (7L, 0, "Y"), (8L, 0, "Y"), (9L, 0, "Y"))
    val got = checked(sig, banded, removedDf(4L, 9L), 3)
    assert(got == Set.empty[Set[Long]])
  }

  // Tightened-cap sf replays (the IndexRemoveSpec parameter points
  // where demotion provably fires on the real banding: cap 2 with a
  // 1-in-3 takedown). The composition must equal the from-scratch
  // capped rebuild over survivors, and at least one bucket must
  // actually demote so the reveal path is exercised on real data.
  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf replay at cap 2, 1/3 removed: composition == from-scratch capped rebuild", SlowReplay) {
      val dir = s"/root/testdata/$sf"
      val (sig0, banded0) = queries.DedupOps.sigBanded(spark, dir)
      val sig = sig0
      val banded = Scratch.cache(banded0)
      val removed = banded.select(col("doc_id")).distinct()
        .where(queries.h60(concat(lit("remove:"), col("doc_id"))) % 3 === 0)
      val (idx, pairs, standing) =
        queries.DedupOps.cappedClusterArtifacts(sig, banded, 2)
      val got = partition(queries.DedupOps.removeFromCappedCluster(
        idx, banded, sig, pairs, standing, removed, 2))
      val demotions = idx.where(size(col("ids")) === 0)
        .join(banded.join(removed, Seq("doc_id"), "left_anti")
            .groupBy(col("band"), col("key")).agg(count(lit(1)).as("n"))
            .where(col("n") > 0 && col("n") <= 2),
          Seq("band", "key"), "left_semi").count()
      val sigS = sig.join(removed, Seq("doc_id"), "left_anti")
      val bandedS = banded.join(removed, Seq("doc_id"), "left_anti")
      val (_, _, fromScratch) =
        queries.DedupOps.cappedClusterArtifacts(sigS, bandedS, 2)
      val want = partition(fromScratch)
      Scratch.releaseAll()
      assert(got == want, "composition must equal the from-scratch capped rebuild")
      assert(demotions > 0, "no bucket demoted; the reveal path is vacuous on this replay")
    }
  }
}
