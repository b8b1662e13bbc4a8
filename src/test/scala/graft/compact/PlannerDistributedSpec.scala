package graft.compact

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The Dataset planning path must be indistinguishable from the in-memory
  * one (same buckets, same order, same skip reporting) — pinned by a
  * seeded fuzz over snapshot trees with colliding buckets, duplicated
  * cross-snapshot references, and unparseable paths — and must keep the
  * driver's retained state at O(actionable work): a 100k-file catalog of
  * mostly singletons returns only the multi-file buckets.
  */
/** Deterministic meta PER PATH (serializable — executor lambdas use it):
  * in-bucket dedup keeps the first of each path, and group-iterator order
  * differs between the driver Vector and Spark's shuffle — metas must not
  * depend on which copy survives. */
private object PlannerFuzz extends Serializable {
  def fm(path: String): FileMeta = {
    val h = path.hashCode.toLong & 0xffffffL
    FileMeta(h, path, 100L + h % 1000, 10L + h % 50, 0L,
      1737928861362000000L + h, 1737928861362000999L + h)
  }
}

class PlannerDistributedSpec extends AnyFunSuite {
  import PlannerFuzz.fm
  private lazy val spark = TestSpark.spark

  test("conflicting metadata for one path: same deterministic survivor everywhere") {
    // r4 ADVICE #3: when the SAME path carries differing FileMeta across
    // snapshots, the surviving copy used to be first-arrival — snapshot
    // order on the in-memory path, Spark's nondeterministic group order
    // on the distributed path — changing the bucket's files (and so the
    // output's id and chunk_time) between the two and between runs. Both now keep the min under a total field ordering,
    // independent of input order.
    import spark.implicits._
    val p1 = "h0/dbs/db-0/table-0/2025-01-26/05-00/0000000001.parquet"
    val p2 = "h0/dbs/db-0/table-0/2025-01-26/05-20/0000000002.parquet"
    def meta(p: String, id: Long) =
      FileMeta(id, p, 100 + id, 10 * id, 0L, 100 * id, 1000 * id)
    def snapOf(ms: FileMeta*) = SnapshotMeta("w", 0, 0, 0, 0,
      Vector(DbTables(0, Vector(TableFiles(0, ms.toVector)))))
    val s1 = snapOf(meta(p1, 7), meta(p2, 2))
    val s2 = snapOf(meta(p1, 3), meta(p2, 9))
    for (order <- Seq(Seq(s1, s2), Seq(s2, s1))) {
      val (mem, _) = Planner.plan(order, 1)
      val (ds, _) = Planner.planDistributed(
        spark, spark.createDataset(order.flatMap(_.allFiles).toVector), 1)
      assert(mem.length == 1)
      assert(ds.collect().toVector.map(_.toBucket) == mem,
        s"distributed survivor differs for order $order")
      // min-by-total-key copies, regardless of which snapshot came first
      assert(mem.head.files.map(_.id) == Vector(3L, 2L))
    }
  }

  test("fuzzed snapshot trees: distributed plan equals in-memory plan exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    (1 to 12).foreach { trial =>
      // dense key space so buckets actually collide: 2 hosts × 2 dbs ×
      // 3 tables × 2 dates × 4 hours; ~90 files across 3 snapshots with
      // cross-snapshot duplicates and a sprinkle of invalid paths
      def randPath(): String =
        if (rnd.nextInt(20) == 0) s"garbage-${rnd.nextInt(4)}/layout.parquet"
        else
          s"h${rnd.nextInt(2)}/dbs/db-${rnd.nextInt(2)}/table-${rnd.nextInt(3)}/" +
            f"2025-01-2${6 + rnd.nextInt(2)}/${rnd.nextInt(4)}%02d-${rnd.nextInt(6) * 10}%02d/" +
            f"${rnd.nextInt(60)}%010d.parquet"
      val paths = Vector.fill(30 + rnd.nextInt(60))(randPath())
      val snaps = paths.grouped(paths.length / 3 + 1).map { group =>
        // re-reference ~1/3 of another group's files (cross-snapshot dups)
        val dups = Vector.fill(group.length / 3)(paths(rnd.nextInt(paths.length)))
        SnapshotMeta("w", 0, 0, 0, 0, Vector(DbTables(0, Vector(
          TableFiles(0, (group ++ dups).map(fm))))))
      }.toVector

      val windowHours = Seq(1, 4, 24)(rnd.nextInt(3))
      val (memBuckets, memSkipped) = Planner.plan(snaps, windowHours)
      val (dsBuckets, dsSkipped) = Planner.planDistributed(
        spark, spark.createDataset(snaps.flatMap(_.allFiles)), windowHours)
      assert(dsBuckets.collect().toVector.map(_.toBucket) == memBuckets,
        s"trial $trial (windowHours=$windowHours): bucket mismatch")
      assert(dsSkipped.collect().toSet == memSkipped.toSet,
        s"trial $trial: skipped mismatch")
    }
  }

  test("100k-file catalog: driver receives only the actionable buckets") {
    import spark.implicits._
    // 100k singletons (each its own (table, date, hour)) + 50 three-file
    // buckets — steady-state shape: almost everything already compacted
    val singles = spark.range(100000).map { i =>
      fm(s"h0/dbs/db-${i % 10}/table-${i / 10 % 100}/" +
        f"2025-0${1 + i / 1000 % 9}%d-${1 + i / 96 % 28}%02d/${i % 24}%02d-00/" +
        f"$i%010d.parquet")
    }
    val multis = spark.range(50).flatMap { b =>
      (0 until 3).map(j => fm(
        f"h0/dbs/db-m/table-$b%d/2025-12-01/00-${j * 10}%02d/${900000 + b * 10 + j}%010d.parquet"))
    }
    val (buckets, skipped) = Planner.planDistributed(
      spark, singles.unionAll(multis), windowHours = 1)
    val got = buckets.collect().toVector
    assert(skipped.count() == 0L)
    assert(got.length == 50, s"expected exactly the 50 planted buckets, got ${got.length}")
    assert(got.forall(_.files.length == 3))
    assert(got.map(_.table) == (0 until 50).map(b => s"table-$b")
      .sorted.toVector, "bucket order must match the in-memory path's sort")
  }
}
