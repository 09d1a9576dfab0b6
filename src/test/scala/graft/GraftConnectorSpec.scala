package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.format.GraftFormat

class GraftConnectorSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-wh").toString
    spark.conf.set("spark.sql.catalog.g", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.g.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    dir
  }

  private def li = Tables.load(spark, sf, "lineitem")

  test("ctas + read back matches source") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.li")
    li.limit(1000).createOrReplaceTempView("li_src")
    spark.sql("CREATE TABLE g.db.li AS SELECT * FROM li_src")
    val got = spark.table("g.db.li")
    assert(got.count() == 1000)
    assert(got.schema.fieldNames.sameElements(li.schema.fieldNames))
    val a = got.agg(sum("l_quantity")).head.getDouble(0)
    val b = li.limit(1000).agg(sum("l_quantity")).head.getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }

  test("write.max_rows_per_file bounds fragment size (reference: " +
      "lance.max_rows_per_file)") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.sized")
    spark.sql(
      """CREATE TABLE g.db.sized (id BIGINT)
        |TBLPROPERTIES ('write.max_rows_per_file' = '100')""".stripMargin)
    // one input partition, 350 rows: without the knob this is ONE
    // fragment; with it the writer must roll files at 100 rows
    spark.range(0, 350).coalesce(1).createOrReplaceTempView("sized_src")
    spark.sql("INSERT INTO g.db.sized SELECT id FROM sized_src")
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "sized.graft").toUri)
    val m = GraftFormat.readLatest(
      dir.getFileSystem(spark.sessionState.newHadoopConf()), dir).get
    assert(m.fragments.length == 4,
      s"expected 4 fragments of <=100 rows, got ${m.fragments.length}")
    assert(m.fragments.forall(_.rowCount <= 100))
    assert(spark.table("g.db.sized").count() == 350)
    // the session-conf fallback applies when the table carries no knob
    spark.sql("DROP TABLE IF EXISTS g.db.sized2")
    spark.sql("CREATE TABLE g.db.sized2 (id BIGINT)")
    spark.conf.set("spark.graft.write.maxRowsPerFile", "200")
    try {
      spark.sql("INSERT INTO g.db.sized2 SELECT id FROM sized_src")
      val m2 = GraftFormat.readLatest(
        dir.getFileSystem(spark.sessionState.newHadoopConf()),
        new org.apache.hadoop.fs.Path(
          java.nio.file.Paths.get(wh, "db", "sized2.graft").toUri)).get
      assert(m2.fragments.length == 2 && m2.fragments.forall(_.rowCount <= 200))
    } finally spark.conf.unset("spark.graft.write.maxRowsPerFile")
  }

  test("an injected task failure in INSERT leaves the manifest unchanged " +
      "and no new file under data/; no write stages a .staging- dir") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.ifail")
    spark.sql("CREATE TABLE g.db.ifail AS SELECT id AS k FROM range(0, 100, 1, 2)")
    spark.sql("INSERT INTO g.db.ifail SELECT id FROM range(100, 200, 1, 2)")
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "ifail.graft").toUri)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .filter(_.isFile).map(_.getPath.getName).toSet
    def stagingDirs() = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith(".staging-")).toSeq
    val before = GraftFormat.readLatest(fs, dir).get
    val filesBefore = dataFiles()
    assert(filesBefore.size == 4 && stagingDirs().isEmpty)
    // four writing tasks; the last fails mid-stream, after its first 150
    // rows reached its fragment file and a 1 s pause that lets the other
    // three commit their files first
    spark.udf.register("fail_at_1900", (id: Long) => {
      if (id == 1900L) {
        Thread.sleep(1000)
        throw new IllegalStateException("injected task failure")
      }
      id
    })
    val e = intercept[Exception](spark.sql(
      "INSERT INTO g.db.ifail SELECT fail_at_1900(id) FROM range(1000, 2000, 1, 4)"))
    assert(rootMsgs(e).contains("injected task failure"), rootMsgs(e))
    assert(GraftFormat.readLatest(fs, dir).get == before)
    assert(dataFiles() == filesBefore)
    assert(stagingDirs().isEmpty)
    assert(spark.table("g.db.ifail").count() == 200)
  }

  test("write.max_rows_per_group bounds parquet row-group size " +
      "(reference: lance.max_rows_per_group)") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.grouped")
    spark.sql(
      """CREATE TABLE g.db.grouped (id BIGINT)
        |TBLPROPERTIES ('write.max_rows_per_group' = '100')""".stripMargin)
    spark.range(0, 350).coalesce(1).createOrReplaceTempView("grouped_src")
    spark.sql("INSERT INTO g.db.grouped SELECT id FROM grouped_src")
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "grouped.graft").toUri)
    val fs = dir.getFileSystem(conf)
    val m = GraftFormat.readLatest(fs, dir).get
    assert(m.fragments.length == 1, "one file, many row groups")
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir, m.fragments.head.path), conf))
    try {
      val groups = footer.getRowGroups
      assert(groups.size == 4,
        s"expected 4 row groups of <=100 rows, got ${groups.size}")
      assert((0 until groups.size).forall(i => groups.get(i).getRowCount <= 100))
    } finally footer.close()
    assert(spark.table("g.db.grouped").count() == 350)
  }

  test("write.bloom.columns writes parquet bloom filters that answer " +
      "membership (row-group skip beyond zone maps)") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.bloomed")
    spark.sql(
      """CREATE TABLE g.db.bloomed (id BIGINT, tag STRING)
        |TBLPROPERTIES ('write.bloom.columns' = 'tag')""".stripMargin)
    // ids 0..999 but only even tags: odd tag lookups must bloom-miss
    spark.range(0, 1000).selectExpr("id", "concat('tag', id * 2) AS tag")
      .coalesce(1).createOrReplaceTempView("bloom_src")
    spark.sql("INSERT INTO g.db.bloomed SELECT id, tag FROM bloom_src")
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "bloomed.graft").toUri)
    val fs = dir.getFileSystem(conf)
    val m = GraftFormat.readLatest(fs, dir).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir, m.fragments.head.path), conf))
    try {
      val block = reader.getFooter.getBlocks.get(0)
      val cols = block.getColumns
      val tagCol = (0 until cols.size).map(cols.get)
        .find(_.getPath.toDotString == "tag").get
      assert(tagCol.getBloomFilterOffset >= 0,
        "bloom filter missing from the tag column chunk")
      val idCol = (0 until cols.size).map(cols.get)
        .find(_.getPath.toDotString == "id").get
      assert(idCol.getBloomFilterOffset < 0,
        "bloom filter written for a column not named in write.bloom.columns")
      // the filter answers membership: every written tag hits, a sample
      // of never-written tags miss (2^-17 FPP per probe at defaults —
      // 20 probes cannot all collide)
      val bloom = reader.getBloomFilterDataReader(block)
        .readBloomFilter(tagCol)
      val bin = (s: String) => org.apache.parquet.io.api.Binary
        .fromString(s)
      assert((0 until 1000).forall(i =>
        bloom.findHash(bloom.hash(bin(s"tag${i * 2}")))),
        "a written value must always test present")
      assert((0 until 20).exists(i =>
        !bloom.findHash(bloom.hash(bin(s"tag${i * 2 + 1}")))),
        "unwritten values must (overwhelmingly) test absent")
    } finally reader.close()
    // scan-side: the pushed point predicate stays correct with blooms on
    assert(spark.table("g.db.bloomed")
      .filter(col("tag") === "tag400").count() == 1)
    assert(spark.table("g.db.bloomed")
      .filter(col("tag") === "tag401").count() == 0)
    // mixed-case column names survive the writer-option path (datasource
    // option keys must not be case-folded before reaching parquet)
    spark.sql("DROP TABLE IF EXISTS g.db.bloomcase")
    spark.sql(
      """CREATE TABLE g.db.bloomcase (id BIGINT, `TagName` STRING)
        |TBLPROPERTIES ('write.bloom.columns' = 'TagName')""".stripMargin)
    spark.range(0, 100).selectExpr("id", "concat('t', id) AS TagName")
      .coalesce(1).createOrReplaceTempView("bloomcase_src")
    spark.sql("INSERT INTO g.db.bloomcase SELECT * FROM bloomcase_src")
    val cdir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "bloomcase.graft").toUri)
    val cm = GraftFormat.readLatest(fs, cdir).get
    val cr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(cdir, cm.fragments.head.path), conf))
    try {
      val ccols = cr.getFooter.getBlocks.get(0).getColumns
      val tcol = (0 until ccols.size).map(ccols.get)
        .find(_.getPath.toDotString == "TagName").get
      assert(tcol.getBloomFilterOffset >= 0,
        "bloom filter missing for a mixed-case column")
    } finally cr.close()
  }

  test("start_version incremental read: only post-version appends, " +
      "live rows, compact-aware") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.cdc")
    spark.sql("CREATE TABLE g.db.cdc (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.cdc VALUES (1, 'a'), (2, 'b')") // v2
    spark.sql("INSERT INTO g.db.cdc VALUES (3, 'c'), (4, 'd')") // v3
    spark.sql("DELETE FROM g.db.cdc WHERE k = 4") // v4
    def since(v: Long) = spark.read.option("start_version", v)
      .table("g.db.cdc").collect().map(_.getLong(0)).sorted.toSeq
    // appends after v2 = {3,4}; the snapshot's deletion vector drops 4
    assert(since(2) == Seq(3L), s"got ${since(2)}")
    assert(since(0).toSet == Set(1L, 2L, 3L),
      "start_version 0 reads everything live")
    // count(*) must NOT be answered from the whole-table manifest
    assert(spark.read.option("start_version", 2).table("g.db.cdc").count() == 1)
    // unknown start_version fails loudly, never silently full-scans
    intercept[Exception](since(99))

    // bounded window: Spark's own versionAsOf option is the end bound
    val window = spark.read.option("start_version", 2)
      .option("versionAsOf", 3).table("g.db.cdc")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(window == Seq(3L, 4L),
      s"(v2, v3] window must see both appends, pre-delete; got $window")
    // an inverted window (start at-or-past the end snapshot) is empty,
    // never a leak of rows deleted between the two versions
    assert(spark.read.option("start_version", 4)
      .option("versionAsOf", 3).table("g.db.cdc").count() == 0)

    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "cdc.graft").toUri)
    // a DATA-NEUTRAL compact (consumes only pre-v4 fragments) stays
    // invisible: changes since v4 = appends after it only
    graft.ops.Maintenance.compact(spark, dir, minRows = 10) // v5
    spark.sql("INSERT INTO g.db.cdc VALUES (5, 'e')") // v6
    assert(since(4) == Seq(5L), s"got ${since(4)}")
    // a compact that CONSUMED a not-yet-read append must keep its
    // outputs deliverable (at-least-once), never lose row 5
    graft.ops.Maintenance.compact(spark, dir, minRows = 10) // v7
    assert(since(4).contains(5L),
      "append consumed by a later compact must still be delivered")
  }

  test("expected_table_id: an incremental sync that bookmarks the " +
      "generation fails typed across drop + re-create, even when " +
      "start_version exists in the new history") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.cdcid")
    spark.sql("CREATE TABLE g.db.cdcid (k BIGINT)")
    spark.sql("INSERT INTO g.db.cdcid VALUES (1)") // v2
    val id = spark.sql("SHOW TBLPROPERTIES g.db.cdcid").collect()
      .find(_.getString(0) == "graft.table_id")
      .map(_.getString(1)).getOrElse(fail("graft.table_id not stamped"))
    // same generation: the bookmarked sync passes
    assert(spark.read.option("start_version", 1)
      .option("expected_table_id", id).table("g.db.cdcid")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // new generation whose history reaches the bookmark: start_version
    // alone passes every check and would sync the WRONG table's data
    spark.sql("DROP TABLE g.db.cdcid")
    spark.sql("CREATE TABLE g.db.cdcid (k BIGINT)")
    spark.sql("INSERT INTO g.db.cdcid VALUES (100)") // v2 again
    val e = intercept[Exception] {
      spark.read.option("start_version", 1)
        .option("expected_table_id", id).table("g.db.cdcid").collect()
    }
    assert(TestSpark.rootMsgs(e).contains("GRAFT_LOST_HISTORY"),
      TestSpark.rootMsgs(e))
    // the generation check also guards plain (non-CDC) reads, including
    // the manifest-served count(*) path
    val e2 = intercept[Exception] {
      spark.read.option("expected_table_id", id).table("g.db.cdcid").count()
    }
    assert(TestSpark.rootMsgs(e2).contains("GRAFT_LOST_HISTORY"),
      TestSpark.rootMsgs(e2))
    spark.sql("DROP TABLE g.db.cdcid")
  }

  test("an INSERT re-creating a concurrently-dropped table mints a " +
      "fresh generation id (dead-generation props must not resurrect)") {
    wh
    // The V1 insert path passes the LOADED manifest's properties into
    // GraftWriter.write; if the table is dropped by another session
    // between load and commit, the write's first-commit branch starts a
    // NEW history — carrying the dead generation's graft.table_id over
    // would blind every id-based drop+re-create guard (strict streams,
    // expected_table_id bookmarks) once the new history reaches the
    // checkpointed version.
    val dir = fsPath("riddir")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val deadProps = Map(GraftFormat.TableIdProp -> "dead-generation-uuid",
      "user.prop" -> "kept")
    graft.connector.GraftWriter.write(fs, dir,
      spark.range(3).toDF("k"), overwrite = false, tableProps = deadProps)
    val m = GraftFormat.readLatest(fs, dir).get
    val minted = m.properties.get(GraftFormat.TableIdProp)
    assert(minted.isDefined, "new history must carry a generation id")
    assert(minted.get != "dead-generation-uuid",
      "first commit of a new history resurrected the dead generation's id")
    assert(m.properties.get("user.prop").contains("kept"),
      "non-reserved caller properties must survive")
    fs.delete(dir, true)
  }

  private def fsPath(name: String) = new org.apache.hadoop.fs.Path(
    java.nio.file.Paths.get(wh, "db", name + ".graft").toUri)

  test("insert append creates a new version; time travel reads the old one") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.tt")
    spark.sql("CREATE TABLE g.db.tt (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.tt VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO g.db.tt VALUES (3, 'c')")
    assert(spark.table("g.db.tt").count() == 3)
    // v1 = empty create, v2 = first insert, v3 = second insert
    assert(spark.sql("SELECT * FROM g.db.tt VERSION AS OF 2").count() == 2)
    assert(spark.sql("SELECT * FROM g.db.tt VERSION AS OF 1").count() == 0)
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM g.db.tt VERSION AS OF 99").collect()
    }
    assert(err.getMessage.contains("99"))
  }

  test("count(*) is answered from the manifest (no fragment read)") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.cnt")
    li.limit(500).createOrReplaceTempView("cnt_src")
    spark.sql("CREATE TABLE g.db.cnt AS SELECT * FROM cnt_src")
    val df = spark.table("g.db.cnt").agg(count(lit(1)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushedAggregates=[AggCountStar]"),
      s"count(*) not pushed:\n$plan")
    assert(df.head.getLong(0) == 500)
  }

  test("filter + projection pushdown reach the scan") {
    wh
    val df = spark.table("g.db.li")
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("pushedFilters=[IsNotNull(l_quantity)"),
      s"filters not pushed:\n$scanDesc")
    val expected = li.limit(1000).filter(col("l_quantity") > 45).count()
    assert(df.count() == expected)
  }

  test("DELETE writes deletion vectors, count and rows update, history preserved") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.del")
    li.limit(2000).createOrReplaceTempView("del_src")
    spark.sql("CREATE TABLE g.db.del AS SELECT * FROM del_src")
    val before = spark.table("g.db.del").count()
    val toDelete = spark.table("g.db.del")
      .filter(col("l_returnflag") === "R").count()
    spark.sql("DELETE FROM g.db.del WHERE l_returnflag = 'R'")
    val after = spark.table("g.db.del")
    assert(after.count() == before - toDelete)
    assert(after.filter(col("l_returnflag") === "R").count() == 0)
    // old version still sees deleted rows (merge-on-read, MVCC);
    // atomic CTAS commits data at version 1
    val versions = spark.sql("SELECT * FROM g.db.del VERSION AS OF 1")
    assert(versions.count() == before)
    // second delete on another predicate merges with existing vectors
    val toDelete2 = after.filter(col("l_quantity") < 10).count()
    spark.sql("DELETE FROM g.db.del WHERE l_quantity < 10")
    assert(spark.table("g.db.del").count() == before - toDelete - toDelete2)
    // DV application is observable: the scan's task metric counts the
    // rows the deletion vectors removed
    val q = spark.table("g.db.del").select("l_orderkey")
    assert(q.collect().length == before - toDelete - toDelete2)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(s.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
      }.flatten
    val skipped = allScans(q.queryExecution.executedPlan)
      .map(_.metrics("deletionRowsSkipped").value).sum
    assert(skipped == toDelete + toDelete2,
      s"expected ${toDelete + toDelete2} DV-skipped rows, metric says $skipped")
  }

  test("_row_address metadata column is selectable and unique") {
    wh
    val addrs = spark.table("g.db.cnt").select(col("_row_address")).collect()
      .map(_.getLong(0))
    assert(addrs.length == 500)
    assert(addrs.distinct.length == 500)
  }

  test("INSERT OVERWRITE truncates and rewrites") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.ow")
    spark.sql("CREATE TABLE g.db.ow (k BIGINT)")
    spark.sql("INSERT INTO g.db.ow VALUES (1), (2), (3)")
    spark.sql("INSERT OVERWRITE g.db.ow VALUES (9)")
    val rows = spark.table("g.db.ow").collect().map(_.getLong(0))
    assert(rows.sameElements(Array(9L)))
  }

  test("limit pushdown coalesces fragment partitions") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.lim")
    li.limit(3000).repartition(6).write.format("noop") // force multi-fragment
    li.limit(3000).repartition(6).createOrReplaceTempView("lim_src")
    spark.sql("CREATE TABLE g.db.lim AS SELECT * FROM lim_src")
    val m = GraftFormat.readLatest(
      org.apache.hadoop.fs.FileSystem.getLocal(
        new org.apache.hadoop.conf.Configuration()),
      new org.apache.hadoop.fs.Path(
        java.nio.file.Paths.get(wh, "db", "lim.graft").toUri)).get
    assert(m.fragments.size > 1, "expected multiple fragments")
    val df = spark.table("g.db.lim").limit(10)
    assert(df.count() == 10)
    val nParts = df.queryExecution.executedPlan.collectLeaves()
      .head.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions.size
    assert(nParts == 1, s"limit should plan 1 fragment, planned $nParts")
  }

  test("a many-task CTAS lands one fragment per task with the source's " +
      "contents") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.rbl")
    li.limit(3000).repartition(6).createOrReplaceTempView("rbl_src")
    def frags(): Int = GraftFormat.readLatest(
      org.apache.hadoop.fs.FileSystem.getLocal(
        new org.apache.hadoop.conf.Configuration()),
      new org.apache.hadoop.fs.Path(
        java.nio.file.Paths.get(wh, "db", "rbl.graft").toUri)).get
      .fragments.size
    spark.sql("CREATE TABLE g.db.rbl AS SELECT * FROM rbl_src")
    assert(frags() == 6, s"default layout should be task-per-fragment")
    assert(spark.table("g.db.rbl").collect().toSet ==
      spark.table("rbl_src").collect().toSet,
      "the CTAS must not change the rows it writes")
    spark.sql("DROP TABLE g.db.rbl")
  }

  test("table rename is rejected like the reference; ALTER exceeds it") {
    wh
    // ADD COLUMN is supported as a metadata-only Evolve commit
    // (extension beyond the reference — see SchemaEvolutionSpec);
    // RENAME TABLE and RENAME COLUMN stay rejected
    spark.sql("ALTER TABLE g.db.cnt ADD COLUMN extra INT")
    assert(spark.table("g.db.cnt").schema.fieldNames.contains("extra"))
    assert(intercept[Exception] {
      spark.sql("ALTER TABLE g.db.cnt RENAME TO cnt2")
    }.getMessage.toLowerCase.contains("rename"))
    assert(intercept[Exception] {
      spark.sql("ALTER TABLE g.db.cnt RENAME COLUMN extra TO extra2")
    }.getMessage.toLowerCase.contains("rename"))
  }

  test("CREATE OR REPLACE swaps schema atomically; old version readable") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.cor")
    spark.sql("CREATE TABLE g.db.cor AS SELECT 1 AS a, 'x' AS b")
    assert(spark.table("g.db.cor").columns.sameElements(Array("a", "b")))
    // replace with a DIFFERENT schema (the format's only schema change)
    spark.sql("CREATE OR REPLACE TABLE g.db.cor AS SELECT CAST(2.5 AS DOUBLE) AS c")
    val after = spark.table("g.db.cor")
    assert(after.columns.sameElements(Array("c")))
    assert(after.head.getDouble(0) == 2.5)
    // previous version still has the old schema + data
    val old = spark.sql("SELECT * FROM g.db.cor VERSION AS OF 1")
    assert(old.columns.sameElements(Array("a", "b")))
    assert(old.head.getInt(0) == 1)
  }

  test("REPLACE TABLE on missing table fails; CTAS on existing fails") {
    wh
    assert(intercept[Exception] {
      spark.sql("REPLACE TABLE g.db.nope_missing AS SELECT 1 AS x")
    }.getMessage.toLowerCase.contains("not"))
    spark.sql("DROP TABLE IF EXISTS g.db.dup")
    spark.sql("CREATE TABLE g.db.dup AS SELECT 1 AS x")
    assert(intercept[Exception] {
      spark.sql("CREATE TABLE g.db.dup AS SELECT 2 AS y")
    }.getMessage.toLowerCase.contains("exists"))
    // original table untouched by the failed CTAS
    assert(spark.table("g.db.dup").head.getInt(0) == 1)
  }

  test("struct columns roundtrip with nested projection pushdown (P2)") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.structs")
    spark.sql(
      """CREATE TABLE g.db.structs AS
        |SELECT id,
        |  named_struct('name', concat('n', CAST(id AS STRING)),
        |               'value', id * 10,
        |               'inner', named_struct('flag', id % 2 = 0)) AS metadata
        |FROM range(100)""".stripMargin)
    val df = spark.table("g.db.structs")
      .select(col("id"), col("metadata.name"), col("metadata.inner.flag"))
      .orderBy("id")
    val r = df.collect()
    assert(r.length == 100)
    assert(r(5).getString(1) == "n5")
    assert(r(4).getBoolean(2))
    // nested schema pruning: the scan must not read metadata.value
    val scan = df.queryExecution.executedPlan.toString
    val readSchema = scan.split("readSchema=")(1).split("\\)\n")(0)
    assert(!readSchema.contains("value"),
      s"nested pruning failed, scan reads: $readSchema")
    // filter on a nested field
    assert(spark.table("g.db.structs")
      .filter(col("metadata.inner.flag")).count() == 50)
  }

  test("array and map columns roundtrip (map exceeds reference parity)") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.complex")
    spark.sql(
      """CREATE TABLE g.db.complex AS
        |SELECT id,
        |  array(id, id + 1, id + 2) AS arr,
        |  map('k', id) AS m
        |FROM range(50)""".stripMargin)
    val df = spark.table("g.db.complex")
    val arrSum = df
      .select(expr("aggregate(arr, CAST(0 AS BIGINT), (a, x) -> a + x)").as("s"))
      .agg(sum(col("s"))).head.getLong(0)
    assert(arrSum == (0 until 50).map(i => 3L * i + 3).sum)
    val mapSum = df.select(expr("m['k']").as("mv"))
      .agg(sum(col("mv"))).head.getLong(0)
    assert(mapSum == (0 until 50).sum)
  }

  test("manifest json roundtrip") {
    import graft.format.GraftFormat._
    val m = Manifest(7, """{"type":"struct","fields":[]}""",
      Seq(FragmentMeta(0, "data/x.parquet", 100, Some("_deletions/0-1-z.json"), 3)),
      0, 123456789L, "Update")
    assert(GraftFormat.fromJson(GraftFormat.toJson(m)) == m)
  }

  test("multi-level namespaces: nested create/list/use/drop in the " +
      "directory catalog") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.ml")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.ml.child")
    val children = spark.sql("SHOW NAMESPACES IN g.ml").collect()
      .map(_.getString(0))
    assert(children.contains("ml.child"), children.mkString(","))
    val top = spark.sql("SHOW NAMESPACES IN g").collect().map(_.getString(0))
    assert(top.contains("ml") && !top.exists(_.contains("child")))
    spark.sql("CREATE TABLE g.ml.child.t AS SELECT id FROM range(5)")
    assert(spark.table("g.ml.child.t").count() == 5)
    assert(spark.sql("SHOW TABLES IN g.ml.child").collect()
      .map(_.getString(1)).contains("t"))
    val e = intercept[Exception](spark.sql("DROP NAMESPACE g.ml"))
    assert(e.getMessage.toLowerCase.contains("empty"), e.getMessage)
    spark.sql("DROP NAMESPACE g.ml CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN g").collect()
      .map(_.getString(0)).contains("ml"))
  }

  test("an executed scan builds its reader factory once") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.rf")
    spark.sql("CREATE TABLE g.db.rf AS SELECT id AS k, id * 2 AS v FROM range(0, 100, 1, 2)")
    // the planner and AQE each ask a different copy of the scan node for
    // its factory; each build broadcasts the Hadoop conf
    val builds = graft.connector.GraftScan.readerFactoryBuilds
    val before = builds.get()
    val rows = spark.sql("SELECT k, v FROM g.db.rf WHERE k < 10 ORDER BY k").collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until 10L))
    assert(builds.get() - before == 1)
  }

  test("an executed scan plans its partitions once") {
    wh
    spark.sql("DROP TABLE IF EXISTS g.db.pp")
    spark.sql("CREATE TABLE g.db.pp AS SELECT id AS k, id * 2 AS v FROM range(0, 100, 1, 2)")
    // Spark asks a scan whose columnar support is partition-defined for
    // its partitions on each copy of the scan node
    val plans = graft.connector.GraftScan.partitionPlans
    val before = plans.get()
    val rows = spark.sql("SELECT k, v FROM g.db.pp WHERE k >= 10 AND k < 60 ORDER BY k").collect()
    assert(rows.map(_.getLong(0)).toSeq == (10L until 60L))
    assert(plans.get() - before == 1)
  }
}
