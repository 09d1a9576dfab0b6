package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Large fragments split into byte-range partitions
  * (spark.sql.files.maxPartitionBytes) so one multi-GB fragment never
  * serializes into a single task — row groups are assigned by midpoint
  * (Spark's file-split contract), deletion vectors and row addresses
  * are file-absolute, so results are split-invariant. */
class SplitScanSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-sp-wh").toString
    spark.conf.set("spark.sql.catalog.sp", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.sp.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS sp.db")
    dir
  }

  private def planned(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case b: BatchScanExec => b.inputPartitions.size
    }.sum

  private val MinPartitionNum = "spark.sql.files.minPartitionNum"

  private def withMaxSplit[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, old)
  }

  test("a large fragment splits into multiple partitions; results identical") {
    wh
    spark.sql("DROP TABLE IF EXISTS sp.db.big")
    spark.sql("CREATE TABLE sp.db.big (k BIGINT, pad STRING)")
    // ONE fragment (single writing partition), ~2 MB of parquet across
    // several row groups (small page/block sizes are parquet defaults;
    // 50k rows * ~40B is enough for multiple 128KB-aligned splits)
    spark.sql(
      """INSERT INTO sp.db.big
        |SELECT id, concat('pad-', id, '-', repeat('x', 32))
        |FROM range(0, 50000, 1, 1)""".stripMargin)
    val m = graft.format.GraftFormat.readLatest(
      new org.apache.hadoop.fs.Path(s"file:$wh/db/big.graft")
        .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(s"file:$wh/db/big.graft")).get
    assert(m.fragments.size == 1, "setup: exactly one fragment expected")

    val whole = spark.table("sp.db.big")
    assert(planned(whole) == 1)
    val checksum = whole.agg(sum("k"), count(lit(1))).head()

    withMaxSplit(128 * 1024) {
      val split = spark.table("sp.db.big")
      assert(planned(split) > 1,
        s"a ${m.fragments.head.sizeBytes}-byte fragment must split at 128KB")
      assert(split.agg(sum("k"), count(lit(1))).head() == checksum,
        "split scan must return identical data")
      // row addresses are file-absolute: still unique across splits
      assert(split.select(countDistinct(col("_row_address"))).head().getLong(0)
        == 50000L)
    }
  }

  test("deletion vectors apply correctly across splits") {
    wh
    spark.sql("DROP TABLE IF EXISTS sp.db.bigdel")
    spark.sql("CREATE TABLE sp.db.bigdel (k BIGINT, pad STRING)")
    spark.sql(
      """INSERT INTO sp.db.bigdel
        |SELECT id, concat('pad-', id, '-', repeat('x', 32))
        |FROM range(0, 50000, 1, 1)""".stripMargin)
    spark.sql("DELETE FROM sp.db.bigdel WHERE k % 10 = 3")
    val expected = spark.table("sp.db.bigdel").count()
    assert(expected == 45000L)
    withMaxSplit(128 * 1024) {
      val split = spark.table("sp.db.bigdel")
      assert(planned(split) > 1)
      assert(split.count() == expected)
      assert(split.filter(col("k") % 10 === 3).count() == 0)
    }
  }

  test("many small fragments bin-pack into few tasks; results identical") {
    wh
    spark.sql("DROP TABLE IF EXISTS sp.db.many")
    spark.sql("CREATE TABLE sp.db.many (k BIGINT, s STRING)")
    // 12 tiny fragments via 12 appends
    (0 until 12).foreach { i =>
      spark.sql(s"INSERT INTO sp.db.many SELECT id + ${i * 100}, 'x' " +
        s"FROM range(0, 100, 1, 1)")
    }
    val unpacked = spark.table("sp.db.many")
    assert(planned(unpacked) == 12, "pack conf off in tests: 1 per fragment")
    val checksum = unpacked.agg(sum("k"), count(lit(1))).head()

    val packKey = graft.connector.GraftScan.PackSmallFragmentsConf
    spark.conf.set(packKey, "true")
    // one task target, so the split is maxPartitionBytes capped by the
    // scan's total cost rather than spread over local[8]'s 8 cores
    spark.conf.set(MinPartitionNum, "1")
    try {
      // openCost floor (4MB default) x 12 files / 128MB target -> 1 bin
      val packed = spark.table("sp.db.many")
      val n = planned(packed)
      assert(n < 12, s"12 tiny fragments must bin-pack, planned $n")
      assert(packed.agg(sum("k"), count(lit(1))).head() == checksum)
      assert(packed.select(countDistinct(col("_row_address"))).head().getLong(0)
        == 1200L, "row addresses stay fragment-scoped and unique when packed")
      // zone-map pruning composes with packing (prune first, then pack)
      val filtered = spark.table("sp.db.many").filter(col("k") < 100)
      assert(filtered.count() == 100)
    } finally {
      spark.conf.set(packKey, "false")
      spark.conf.unset(MinPartitionNum)
    }
  }

  test("packing spreads a scan of a few small fragments over every core") {
    wh
    spark.sql("DROP TABLE IF EXISTS sp.db.few")
    spark.sql("CREATE TABLE sp.db.few (k BIGINT, s STRING)")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO sp.db.few SELECT id + ${i * 100}, 'x' " +
        s"FROM range(0, 100, 1, 1)")
    }
    val packKey = graft.connector.GraftScan.PackSmallFragmentsConf
    spark.conf.set(packKey, "true")
    try {
      // Spark's maxSplitBytes: 4 x 4MB open cost over local[8]'s 8
      // cores is below the 4MB floor, so each fragment is its own task
      val packed = spark.table("sp.db.few")
      val n = planned(packed)
      assert(n >= 4, s"4 small fragments must plan one task each, planned $n")
      assert(packed.agg(sum("k"), count(lit(1))).head() ==
        Row((0L until 400L).sum, 400L))
    } finally spark.conf.set(packKey, "false")
  }

  test("pushed limit disables splitting (prefix semantics stay whole-fragment)") {
    wh
    withMaxSplit(128 * 1024) {
      val lim = spark.table("sp.db.big").limit(7)
      assert(planned(lim) == 1, "limit planning reasons in whole fragments")
      assert(lim.count() == 7)
    }
  }
}
