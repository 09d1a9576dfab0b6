package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ALTER TABLE schema evolution (extension — the reference's only
  * schema change is CREATE OR REPLACE): metadata-only Evolve commits;
  * fragments written before an ADD COLUMN null-fill it at read time. */
class SchemaEvolutionSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-ev-wh").toString
    spark.conf.set("spark.sql.catalog.ev", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ev.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ev.db")
    dir
  }

  test("add column: old fragments null-fill, new inserts carry values") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.t")
    spark.sql("CREATE TABLE ev.db.t (k BIGINT, s STRING)")
    spark.sql("INSERT INTO ev.db.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE ev.db.t ADD COLUMN score DOUBLE")
    assert(spark.table("ev.db.t").schema.fieldNames.toSeq
      == Seq("k", "s", "score"))
    // pre-evolution fragment reads back with nulls in the new column
    val old = spark.table("ev.db.t").orderBy("k").collect()
    assert(old.map(_.isNullAt(2)).toSeq == Seq(true, true))
    spark.sql("INSERT INTO ev.db.t VALUES (3, 'c', 1.5)")
    val rows = spark.table("ev.db.t").orderBy("k")
      .select("k", "score").collect()
    assert(rows.map(r => if (r.isNullAt(1)) null else r.getDouble(1)).toSeq
      == Seq(null, null, 1.5))
    // filters over the mixed column stay correct (old rows are null)
    assert(spark.table("ev.db.t").filter(col("score") > 1.0).count() == 1)
    assert(spark.table("ev.db.t").filter(col("score").isNull).count() == 2)
  }

  test("drop column: reads prune it; re-add sees nulls, not stale data") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.t2")
    spark.sql("CREATE TABLE ev.db.t2 (k BIGINT, s STRING, extra INT)")
    spark.sql("INSERT INTO ev.db.t2 VALUES (1, 'a', 10), (2, 'b', 20)")
    spark.sql("ALTER TABLE ev.db.t2 DROP COLUMN extra")
    assert(spark.table("ev.db.t2").schema.fieldNames.toSeq == Seq("k", "s"))
    assert(spark.table("ev.db.t2").count() == 2)
    // columns bind BY NAME (no field ids), so re-adding a dropped
    // name surfaces the original physical values still present in old
    // fragments — name-mapping semantics, pinned here so it stays a
    // documented decision rather than an accident
    spark.sql("ALTER TABLE ev.db.t2 ADD COLUMN extra INT")
    val vals = spark.table("ev.db.t2").orderBy("k").select("extra").collect()
    assert(vals.map(r => if (r.isNullAt(0)) null else r.getInt(0)).toSeq
      == Seq(10, 20),
      "name-bound re-add surfaces the original physical values")
  }

  test("time travel reads the schema of the pinned version") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.t3")
    spark.sql("CREATE TABLE ev.db.t3 (k BIGINT)")
    spark.sql("INSERT INTO ev.db.t3 VALUES (1)")
    spark.sql("ALTER TABLE ev.db.t3 ADD COLUMN note STRING")
    assert(spark.sql("SELECT * FROM ev.db.t3 VERSION AS OF 2")
      .schema.fieldNames.toSeq == Seq("k"), "old version keeps old schema")
    assert(spark.table("ev.db.t3").schema.fieldNames.toSeq == Seq("k", "note"))
  }

  test("guard rails: non-nullable add, dotted names, rename rejected") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.t4")
    spark.sql("CREATE TABLE ev.db.t4 (k BIGINT, s STRING)")
    intercept[Exception] {
      spark.sql("ALTER TABLE ev.db.t4 ADD COLUMN c INT NOT NULL")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE ev.db.t4 RENAME COLUMN s TO s2")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE ev.db.t4 DROP COLUMN nope")
    }
    // SET/UNSET TBLPROPERTIES ride the same Evolve commit
    spark.sql("ALTER TABLE ev.db.t4 SET TBLPROPERTIES ('dept'='infra')")
    val props = spark.sql("SHOW TBLPROPERTIES ev.db.t4").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("dept").contains("infra"))
    spark.sql("ALTER TABLE ev.db.t4 UNSET TBLPROPERTIES ('dept')")
    val props2 = spark.sql("SHOW TBLPROPERTIES ev.db.t4").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(!props2.contains("dept"))
  }

  test("evolve commit drops clustering claims that reference a dropped column") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.t5")
    spark.sql("CREATE TABLE ev.db.t5 (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO ev.db.t5 SELECT id, id * 2 FROM range(0, 100)")
    val dir = new org.apache.hadoop.fs.Path(s"file:$wh/db/t5.graft")
    graft.ops.Maintenance.compact(spark, dir, sortBy = Seq("v"))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(graft.format.GraftFormat.readLatest(fs, dir).get
      .properties.contains(graft.format.GraftFormat.SortByProp))
    spark.sql("ALTER TABLE ev.db.t5 DROP COLUMN v")
    assert(!graft.format.GraftFormat.readLatest(fs, dir).get
      .properties.contains(graft.format.GraftFormat.SortByProp),
      "sort_by over a dropped column must not survive")
    assert(spark.table("ev.db.t5").count() == 100)
  }

  test("graft.table_id is reserved: ALTER SET/UNSET fails typed, a " +
      "user-supplied value at CREATE is stripped (fresh generation)") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.rid")
    // a replayed SHOW CREATE TABLE DDL carries the old generation's id:
    // the new table must mint its own (it IS a new generation) rather
    // than forge the dead one
    spark.sql("CREATE TABLE ev.db.rid (k BIGINT) " +
      "TBLPROPERTIES ('graft.table_id'='forged-id')")
    val id = spark.sql("SHOW TBLPROPERTIES ev.db.rid").collect()
      .find(_.getString(0) == "graft.table_id").get.getString(1)
    assert(id != "forged-id", "user-supplied generation id must not stick")
    // overwriting would forge a dead generation's identity; unsetting
    // would disable drop+re-create detection for strict streams
    val e1 = intercept[Exception](spark.sql(
      "ALTER TABLE ev.db.rid SET TBLPROPERTIES ('graft.table_id'='x')"))
    assert(TestSpark.rootMsgs(e1).contains("reserved"), TestSpark.rootMsgs(e1))
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE ev.db.rid UNSET TBLPROPERTIES ('graft.table_id')"))
    assert(TestSpark.rootMsgs(e2).contains("reserved"), TestSpark.rootMsgs(e2))
    // the id survived both rejected statements
    assert(spark.sql("SHOW TBLPROPERTIES ev.db.rid").collect()
      .find(_.getString(0) == "graft.table_id").get.getString(1) == id)
    spark.sql("DROP TABLE ev.db.rid")
  }
}
