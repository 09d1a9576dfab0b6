package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ScalarIndex

/** Persisted scalar (btree/bitmap) index: value-exact fragment pruning
  * for `=`/`IN` where zone maps cannot prune — the second leg of the
  * reference's automatic index selection (docs/src/performance.md
  * "Index Usage": btree, bitmap, zonemap). */
class ScalarIndexSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-si-wh").toString
    spark.conf.set("spark.sql.catalog.si", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.si.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS si.db")
    dir
  }

  private def plannedPartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case b: BatchScanExec => b.inputPartitions.size
    }.sum

  private def tablePath(name: String) =
    new org.apache.hadoop.fs.Path(s"file:$wh/db/$name.graft")

  /** 4 fragments, each spanning the FULL [0, 4000) range of k (values
    * interleaved mod 4) so zone maps retain everything; each k lives in
    * exactly one fragment. */
  private def interleaved(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS si.db.$name")
    spark.sql(s"CREATE TABLE si.db.$name (k BIGINT, s STRING)")
    (0 until 4).foreach { i =>
      spark.sql(
        s"""INSERT INTO si.db.$name
           |SELECT id * 4 + $i, concat('grp', $i)
           |FROM range(0, 1000, 1, 1)""".stripMargin)
    }
  }

  test("equality prunes to exactly the fragment holding the value; zone maps cannot") {
    wh
    interleaved("t")
    ScalarIndex.clearCaches()
    val all = spark.table("si.db.t")
    // zone maps alone: every fragment spans [i, 3996+i] -> no pruning
    assert(plannedPartitions(all.filter(col("k") === 1501)) == 4,
      "without an index, interleaved fragments are un-prunable")
    ScalarIndex.build(spark, tablePath("t"), "k")
    ScalarIndex.clearCaches()
    val one = all.filter(col("k") === 1501) // 1501 % 4 == 1 -> fragment 1
    assert(plannedPartitions(one) == 1,
      "indexed equality must plan exactly the one holding fragment")
    assert(one.collect().map(_.getString(1)).toSeq == Seq("grp1"))
  }

  test("IN unions postings across values; conjunction intersects columns") {
    wh
    interleaved("t2")
    ScalarIndex.build(spark, tablePath("t2"), "k")
    ScalarIndex.clearCaches()
    val all = spark.table("si.db.t2")
    val in2 = all.filter(col("k").isin(8L, 9L)) // fragments 0 and 1
    assert(plannedPartitions(in2) == 2, "IN over 2 fragments plans 2")
    assert(in2.count() == 2)
    // value absent from the table -> index prunes every fragment
    val absent = all.filter(col("k") === 999999L)
    assert(plannedPartitions(absent) == 0, "absent value plans 0 fragments")
    assert(absent.count() == 0)
    // conjunction composes with zone maps: k=12 -> index keeps only
    // fragment 0; s='grp1' -> zone maps (s is constant per fragment)
    // keep only fragment 1; the intersection plans ZERO fragments
    val conj = all.filter(col("k") === 12L && col("s") === "grp1")
    assert(plannedPartitions(conj) == 0,
      "index(k) ∩ zonemap(s) must compose to the empty plan")
    assert(conj.count() == 0)
  }

  test("bounded integral BETWEEN prunes value-exact via enumeration") {
    wh
    interleaved("tr")
    ScalarIndex.build(spark, tablePath("tr"), "k")
    ScalarIndex.clearCaches()
    val all = spark.table("si.db.tr")
    // k in [8, 9]: fragments 0 and 1 hold those values; zone maps alone
    // keep all 4 (every fragment spans the full range)
    val between = all.filter(col("k") >= 8L && col("k") <= 9L)
    assert(plannedPartitions(between) == 2,
      "narrow BETWEEN must enumerate and plan only holding fragments")
    assert(between.count() == 2)
    // strict bounds tighten the enumeration: 8 < k < 11 = {9, 10}
    val strict = all.filter(col("k") > 8L && col("k") < 11L)
    assert(plannedPartitions(strict) == 2)
    assert(strict.collect().map(_.getLong(0)).sorted.toSeq == Seq(9L, 10L))
    // a range past the data prunes everything
    val absent = all.filter(col("k") >= 4000L && col("k") <= 4100L)
    assert(plannedPartitions(absent) == 0, "absent range plans 0 fragments")
    assert(absent.count() == 0)
    // spans above MaxLookupValues fall back to zone maps (correct, wide)
    val wide = all.filter(col("k") >= 0L && col("k") <= 2000L)
    assert(plannedPartitions(wide) == 4)
    assert(wide.count() == 2001)
  }

  test("date BETWEEN prunes value-exact (epoch-day enumeration)") {
    wh
    spark.sql("DROP TABLE IF EXISTS si.db.td")
    spark.sql("CREATE TABLE si.db.td (k BIGINT, d DATE)")
    // fragment i holds dates == i (mod 4); every fragment spans the
    // full date range, so zone maps alone cannot prune
    (0 until 4).foreach { i =>
      spark.sql(
        s"""INSERT INTO si.db.td
           |SELECT id * 4 + $i,
           |  date_add(DATE '2020-01-01', CAST(id * 4 + $i AS INT))
           |FROM range(0, 250, 1, 1)""".stripMargin)
    }
    ScalarIndex.build(spark, tablePath("td"), "d")
    ScalarIndex.clearCaches()
    val all = spark.table("si.db.td")
    // 2020-01-09/10 = days 8 and 9 -> fragments 0 and 1
    val between = all.filter(
      col("d") >= lit("2020-01-09").cast("date") &&
        col("d") <= lit("2020-01-10").cast("date"))
    assert(plannedPartitions(between) == 2,
      "narrow date BETWEEN must enumerate epoch days")
    assert(between.count() == 2)
    // absent date range prunes everything
    val absent = all.filter(
      col("d") >= lit("2030-01-01").cast("date") &&
        col("d") <= lit("2030-01-05").cast("date"))
    assert(plannedPartitions(absent) == 0)
    assert(absent.count() == 0)
  }

  test("string column index; stale after append (invisible, not wrong)") {
    wh
    spark.sql("DROP TABLE IF EXISTS si.db.t3")
    spark.sql("CREATE TABLE si.db.t3 (k BIGINT, tag STRING)")
    // fragment i holds tags {i, i+3, i+6} -> per-fragment string ranges
    // OVERLAP (tag0-tag6 / tag1-tag7 / tag2-tag8) so zone maps keep all
    // three for tag5, but only fragment 2 actually contains it
    (0 until 3).foreach { i =>
      spark.sql(
        s"""INSERT INTO si.db.t3
           |SELECT id, concat('tag', CAST(id % 3 * 3 + $i AS STRING))
           |FROM range(0, 200, 1, 1)""".stripMargin)
    }
    ScalarIndex.clearCaches()
    val all = spark.table("si.db.t3")
    val expected = all.filter(col("tag") === "tag5").count()
    assert(expected > 0)
    assert(plannedPartitions(all.filter(col("tag") === "tag5")) == 3,
      "overlapping string ranges: zone maps alone keep all 3")
    val v = ScalarIndex.build(spark, tablePath("t3"), "tag")
    assert(ScalarIndex.indexedVersions(spark, tablePath("t3"), "tag") == Seq(v))
    ScalarIndex.clearCaches()
    assert(plannedPartitions(all.filter(col("tag") === "tag5")) == 1,
      "indexed string equality plans only the holding fragment")
    assert(all.filter(col("tag") === "tag5").count() == expected)
    // append -> index version no longer matches -> no pruning, same rows
    spark.sql("INSERT INTO si.db.t3 SELECT 9999, 'tag5'")
    ScalarIndex.clearCaches()
    assert(plannedPartitions(spark.table("si.db.t3")
      .filter(col("tag") === "tag5")) == 4,
      "stale index must be invisible")
    assert(spark.table("si.db.t3").filter(col("tag") === "tag5").count()
      == expected + 1)
  }

  test("index survives for time travel at its build version") {
    wh
    interleaved("t4")
    val v = ScalarIndex.build(spark, tablePath("t4"), "k")
    spark.sql("INSERT INTO si.db.t4 SELECT 99999, 'late'")
    ScalarIndex.clearCaches()
    val pinned = spark.sql(
      s"SELECT * FROM si.db.t4 VERSION AS OF $v WHERE k = 1501")
    assert(plannedPartitions(pinned) == 1,
      "time travel at the indexed version still prunes")
    assert(pinned.count() == 1)
    // latest version (appended since build): the index is stale ->
    // invisible; zone maps still drop the new out-of-range fragment,
    // so an old-range equality plans all 4 original fragments
    val latest = spark.table("si.db.t4").filter(col("k") === 1501L)
    assert(plannedPartitions(latest) == 4, "latest version sees no index")
    assert(latest.count() == 1)
  }

  test("vacuum GCs scalar-index versions of dropped manifests") {
    wh
    interleaved("t5")
    val v1 = ScalarIndex.build(spark, tablePath("t5"), "k")
    spark.sql("INSERT INTO si.db.t5 SELECT 50000, 'x'")
    val v2 = ScalarIndex.build(spark, tablePath("t5"), "k")
    assert(ScalarIndex.indexedVersions(spark, tablePath("t5"), "k")
      == Seq(v1, v2))
    graft.ops.Maintenance.vacuum(spark, tablePath("t5"), keepVersions = 1,
      minVersionsRetained = 1)
    assert(ScalarIndex.indexedVersions(spark, tablePath("t5"), "k") == Seq(v2),
      "dropped version's index dir must be GC'd; current retained")
  }
}
