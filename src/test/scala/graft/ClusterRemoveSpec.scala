package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q117's removal-equals-rebuild contract for CLUSTER state: dropping
  * a removed batch from a standing (id, comp) assignment
  * (DedupOps.removeFromComponents) must produce exactly the partition
  * a from-scratch closure over the SURVIVING edges (both endpoints
  * alive) computes. The branches the sf corpora never reach are the
  * point of this spec — above all the SPLIT (removing a cut-vertex
  * disconnects its component into several), plus the
  * survivor-with-no-edge DROP (an id whose every pair partner was
  * removed is no longer a near-duplicate of anything and leaves the
  * table) and untouched-component passthrough. The registered q117
  * oracle re-proves removal == full rebuild cross-engine every round;
  * the sf replays here pin the same equality same-engine against
  * componentsOf over the surviving pair relation. */
class ClusterRemoveSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def edges(rows: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("src", "dst")
  }

  private def removedDf(ids: Long*) = {
    val s = spark
    import s.implicits._
    ids.toDF("id")
  }

  /** An assignment as a canonical partition (set of member sets). */
  private def partition(df: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
    df.collect().map(r => r.getAs[Long]("comp") -> r.getAs[Long]("id"))
      .groupBy(_._1).values.map(_.map(_._2).toSet).toSet

  /** Run removal against the standing closure of `es` and check it
    * equals the from-scratch closure over the surviving edges; returns
    * the post-removal partition for branch assertions. */
  private def checked(es: Seq[(Long, Long)], removed: Seq[Long]): Set[Set[Long]] = {
    val pairs = edges(es: _*)
    val standing = queries.DedupOps.componentsOf(pairs)
    val rem = removedDf(removed: _*)
    val out = queries.DedupOps.removeFromComponents(standing, pairs, rem)
    val surviving = pairs
      .join(rem.select(col("id").as("src")), Seq("src"), "left_anti")
      .join(rem.select(col("id").as("dst")), Seq("dst"), "left_anti")
    val fromScratch = queries.DedupOps.componentsOf(surviving)
    val (gotP, wantP) = (partition(out), partition(fromScratch))
    assert(gotP == wantP, "removal must equal the from-scratch closure over surviving edges")
    // Label contract too, not just grouping: both sides label by min
    // member (componentsOf's contract), so the full (id, comp) sets
    // must match row for row.
    val diff = out.select(col("id"), col("comp"))
      .union(fromScratch.select(col("id"), col("comp")))
      .groupBy(col("id"), col("comp")).agg(count(lit(1)).as("n"))
      .where(col("n") =!= 2).count()
    assert(diff == 0, "labels must match the from-scratch min-member labels")
    gotP
  }

  test("cut-vertex removal splits its component in two") {
    // path 1-2-3-4-5; removing 3 disconnects {1,2} from {4,5}.
    val got = checked(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), Seq(3L))
    assert(got == Set(Set(1L, 2L), Set(4L, 5L)))
  }

  test("cut-vertex removal splits a star into three singles -> all drop") {
    // star center 10 with leaves 11,12,13: removing the center leaves
    // three survivors with NO surviving edge — all leave the table,
    // exactly as the from-scratch closure over zero edges decides.
    val got = checked(Seq((10L, 11L), (10L, 12L), (10L, 13L)), Seq(10L))
    assert(got == Set.empty[Set[Long]])
  }

  test("survivor with no surviving edge drops; its ex-partner's other tie holds") {
    // 1-2, 2-3: removing 2 orphans both 1 and 3; separately 20-21
    // loses 21, orphaning 20. Component {30,31,32} (a triangle) loses
    // 32 but 30-31 still share an edge and stay.
    val got = checked(
      Seq((1L, 2L), (2L, 3L), (20L, 21L), (30L, 31L), (30L, 32L), (31L, 32L)),
      Seq(2L, 21L, 32L))
    assert(got == Set(Set(30L, 31L)))
  }

  test("untouched components pass through with their labels") {
    val got = checked(Seq((1L, 2L), (10L, 11L), (10L, 12L)), Seq(1L))
    assert(got == Set(Set(10L, 11L, 12L)))
  }

  test("removing an entire component erases it and nothing else") {
    val got = checked(Seq((1L, 2L), (2L, 3L), (10L, 11L)), Seq(1L, 2L, 3L))
    assert(got == Set(Set(10L, 11L)))
  }

  test("partial removal keeping connectivity: component shrinks, no split") {
    // clique {1,2,3,4}: removing 4 keeps {1,2,3} connected.
    val got = checked(
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)), Seq(4L))
    assert(got == Set(Set(1L, 2L, 3L)))
  }

  test("removed id absent from the assignment is a no-op") {
    val got = checked(Seq((1L, 2L)), Seq(999L))
    assert(got == Set(Set(1L, 2L)))
  }

  test("re-applying the same removal is a no-op (redelivered takedown)") {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val pairs = edges(es: _*)
    val rem = removedDf(3L)
    val once = queries.DedupOps.removeFromComponents(
      queries.DedupOps.componentsOf(pairs), pairs, rem)
    val twice = queries.DedupOps.removeFromComponents(once, pairs, rem)
    val diff = once.union(twice).groupBy(col("id"), col("comp"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    assert(diff == 0)
  }

  // Real-data replays: standing = the registered q117 standing state
  // (closure over the minhash pair relation), removed = the same h60
  // "remove:" 10 % residue as registered, applied to assigned ids.
  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf replay: removal equals from-scratch closure over surviving pairs", SlowReplay) {
      val dir = s"/root/testdata/$sf"
      val pairs = Scratch.cache(queries.DedupOps.minhashPairs(spark, dir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      val standing = queries.DedupOps.componentsOf(pairs)
      val rem = standing.select(col("id")).distinct()
        .where(queries.h60(concat(lit("remove:"), col("id"))) % 10 === 0)
      val out = queries.DedupOps.removeFromComponents(standing, pairs, rem)
      val surviving = pairs
        .join(rem.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(rem.select(col("id").as("dst")), Seq("dst"), "left_anti")
      val fromScratch = queries.DedupOps.componentsOf(surviving)
      val diff = out.select(col("id"), col("comp"))
        .union(fromScratch.select(col("id"), col("comp")))
        .groupBy(col("id"), col("comp")).agg(count(lit(1)).as("n"))
        .where(col("n") =!= 2).count()
      val (nOut, nStanding) = (out.count(), standing.count())
      Scratch.releaseAll()
      assert(diff == 0)
      assert(nOut < nStanding, "removal removed nothing; replay is vacuous")
    }
  }
}
