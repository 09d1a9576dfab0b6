package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.format.GraftFormat.{ColStats, FragmentMeta}
import graft.format.ZoneMaps

/** Zone-map fragment pruning: manifest min/max stats must skip fragments
  * a pushed predicate excludes, while results stay identical — the
  * native analog of the reference's scalar-index scan skipping
  * (LanceFragmentPageSource.java:126 useScalarIndex(true)). */
class ZoneMapsSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-zm-wh").toString
    spark.conf.set("spark.sql.catalog.zm", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.zm.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS zm.db")
    dir
  }

  private def plannedPartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case b: BatchScanExec => b.inputPartitions.size
    }.sum

  test("disjoint long ranges: predicate plans only matching fragments") {
    wh
    spark.sql("DROP TABLE IF EXISTS zm.db.t")
    spark.sql("CREATE TABLE zm.db.t (k BIGINT, s STRING)")
    // 4 appends with disjoint k ranges -> 4+ fragments with disjoint stats
    (0 until 4).foreach { i =>
      spark.sql(
        s"""INSERT INTO zm.db.t
           |SELECT id + ${i * 1000}, concat('grp', ${i})
           |FROM range(0, 1000, 1, 1)""".stripMargin)
    }
    val all = spark.table("zm.db.t")
    val nFrags = plannedPartitions(all.filter(col("k") >= 0))
    assert(nFrags == 4, s"expected 4 fragments, planned $nFrags")

    val one = all.filter(col("k") === 1500)
    assert(plannedPartitions(one) == 1,
      "equality inside one fragment's range must plan exactly 1")
    assert(one.count() == 1)

    val range = all.filter(col("k") >= 900 && col("k") < 2100)
    assert(plannedPartitions(range) == 3,
      "range spanning 3 fragments must plan exactly 3")
    assert(range.count() == 1200)

    val none = all.filter(col("k") > 100000)
    assert(plannedPartitions(none) == 0, "out-of-range predicate plans 0")
    assert(none.count() == 0)

    // string zone maps prune too
    val str = all.filter(col("s") === "grp2")
    assert(plannedPartitions(str) == 1)
    assert(str.count() == 1000)
  }

  test("date predicates prune fragments (stats stored as epoch days)") {
    wh
    spark.sql("DROP TABLE IF EXISTS zm.db.d")
    spark.sql("CREATE TABLE zm.db.d (d DATE, v BIGINT)")
    (0 until 3).foreach { i =>
      spark.sql(
        s"""INSERT INTO zm.db.d
           |SELECT date_add(DATE'2024-01-01', CAST(id + ${i * 30} AS INT)), id
           |FROM range(0, 30, 1, 1)""".stripMargin)
    }
    val all = spark.table("zm.db.d")
    val feb = all.filter(col("d").between(
      java.sql.Date.valueOf("2024-02-01"), java.sql.Date.valueOf("2024-02-28")))
    assert(plannedPartitions(feb) <= 2,
      "february range must not plan the march fragment")
    assert(feb.count() == 28)
    val none = all.filter(col("d") > java.sql.Date.valueOf("2025-01-01"))
    assert(plannedPartitions(none) == 0)
  }

  test("pruning is conservative: nulls, IN, StartsWith, unstatted columns") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    def frag(stats: Map[String, ColStats], rows: Long = 100) =
      FragmentMeta(0, "data/x.parquet", rows, None, 0, 1L, stats)

    val f = frag(Map("k" -> ColStats(Some("10"), Some("20"), 0),
      "s" -> ColStats(Some("apple"), Some("mango"), 5)))
    assert(!ZoneMaps.mayMatch(EqualTo("k", 5L), schema, f))
    assert(ZoneMaps.mayMatch(EqualTo("k", 15L), schema, f))
    assert(ZoneMaps.mayMatch(In("k", Array(1L, 15L)), schema, f))
    assert(!ZoneMaps.mayMatch(In("k", Array(1L, 2L)), schema, f))
    assert(!ZoneMaps.mayMatch(GreaterThan("k", 20L), schema, f))
    assert(ZoneMaps.mayMatch(GreaterThanOrEqual("k", 20L), schema, f))
    assert(ZoneMaps.mayMatch(IsNull("s"), schema, f))
    assert(!ZoneMaps.mayMatch(IsNull("k"), schema, f))
    assert(ZoneMaps.mayMatch(StringStartsWith("s", "ban"), schema, f))
    assert(!ZoneMaps.mayMatch(StringStartsWith("s", "zebra"), schema, f))
    // And/Or composition
    assert(!ZoneMaps.mayMatch(
      And(EqualTo("k", 15L), EqualTo("k", 5L)), schema, f))
    assert(ZoneMaps.mayMatch(
      Or(EqualTo("k", 5L), EqualTo("k", 15L)), schema, f))
    // unknown column / missing stats -> never prune
    val bare = frag(Map.empty)
    assert(ZoneMaps.mayMatch(EqualTo("k", 5L), schema, bare))
    assert(ZoneMaps.mayMatch(EqualTo("nope", 5L), schema, f))
    // unsupported filter shape -> never prune
    assert(ZoneMaps.mayMatch(StringContains("s", "zzz"), schema, f))
    assert(ZoneMaps.mayMatch(Not(EqualTo("k", 15L)), schema, f))

    // CODE-POINT order (r14 review): parquet computes string stats in
    // unsigned UTF-8 byte order = code-point order, where supplementary
    // chars sort ABOVE [U+E000, U+FFFF]; a code-UNIT compare would read
    // max=U+1F600 < U+E000 and prune a row that exists
    val sup = frag(Map("s" ->
      ColStats(Some("\ue000"), Some("\ud83d\ude00"), 0)))
    assert(ZoneMaps.mayMatch(EqualTo("s", "\ue000"), schema, sup),
      "code-unit ordering would unsoundly prune the min itself")
    assert(ZoneMaps.mayMatch(EqualTo("s", "\ud83d\ude00"), schema, sup))
    assert(ZoneMaps.mayMatch(GreaterThan("s", "\ue000"), schema, sup))
    assert(!ZoneMaps.mayMatch(EqualTo("s", "\ud83d\ude01"), schema, sup))
    assert(!ZoneMaps.mayMatch(EqualTo("s", "a"), schema, sup))
  }

  test("supplementary characters roundtrip the zone maps end to end: " +
      "equality on a BMP value coexisting with emoji rows is not pruned") {
    wh
    spark.sql("DROP TABLE IF EXISTS zm.db.sup")
    spark.sql("CREATE TABLE zm.db.sup (s STRING)")
    spark.sql("INSERT INTO zm.db.sup VALUES ('\ue000'), ('\ud83d\ude00')")
    val all = spark.table("zm.db.sup")
    // parquet's footer min/max for this fragment are byte-ordered:
    // min=U+E000, max=the emoji — the compare path must agree
    val hit = all.filter(col("s") === "\ue000")
    assert(hit.count() == 1,
      "code-unit stat comparison pruned the fragment holding the row")
    assert(all.filter(col("s") === "\ud83d\ude00").count() == 1)
    // 'z' (U+007A) sorts BELOW the U+E000 min in code-point order
    assert(plannedPartitions(all.filter(col("s") === "zzz")) == 0,
      "a value below the byte-order min must still prune")
    assert(plannedPartitions(
        all.filter(col("s") === "\ud83d\ude01")) == 0,
      "a value above the byte-order max must still prune")
  }

  test("pruning effectiveness surfaces as SQL metrics on the scan node") {
    wh
    spark.sql("DROP TABLE IF EXISTS zm.db.met")
    spark.sql("CREATE TABLE zm.db.met (k BIGINT)")
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO zm.db.met SELECT id + ${i * 1000} FROM range(0, 1000, 1, 1)"))
    val q = spark.table("zm.db.met").filter(col("k") === 1500)
    // collect() executes THIS query execution; count() would plan a
    // separate one whose scan metrics never populate
    assert(q.collect().length == 1)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
      p.collect {
        case b: BatchScanExec => Seq(b)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(s.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
      }.flatten
    val metrics = allScans(q.queryExecution.executedPlan).head.metrics
    assert(metrics("fragmentsPlanned").value == 1,
      s"planned metric: ${metrics("fragmentsPlanned").value}")
    assert(metrics("fragmentsPruned").value == 3,
      s"pruned metric: ${metrics("fragmentsPruned").value}")
  }

  test("property: pruning is sound — a fragment with a matching row is kept") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val schema = StructType(Seq(StructField("k", LongType)))
    def mkStats(rows: List[Option[Long]]): Map[String, ColStats] = {
      val vs = rows.flatten
      Map("k" -> ColStats(
        vs.minOption.map(_.toString), vs.maxOption.map(_.toString),
        rows.count(_.isEmpty).toLong))
    }
    val genV = Gen.chooseNum(-50L, 50L)
    val genRow = Gen.frequency(9 -> genV.map(Some(_)), 1 -> Gen.const(None))
    val genLeaf: Gen[Filter] = Gen.oneOf(
      genV.map(EqualTo("k", _)),
      genV.map(GreaterThan("k", _)),
      genV.map(GreaterThanOrEqual("k", _)),
      genV.map(LessThan("k", _)),
      genV.map(LessThanOrEqual("k", _)),
      Gen.listOf(genV).map(vs => In("k", vs.toArray.map(_.asInstanceOf[Any]))),
      Gen.const(IsNull("k")),
      Gen.const(IsNotNull("k")))
    def genFilter(depth: Int): Gen[Filter] =
      if (depth == 0) genLeaf
      else Gen.frequency(
        2 -> genLeaf,
        1 -> Gen.zip(genFilter(depth - 1), genFilter(depth - 1)).map(And.tupled),
        1 -> Gen.zip(genFilter(depth - 1), genFilter(depth - 1)).map(Or.tupled))
    // SQL semantics on one row: null compares are false, IS NULL true
    def eval(f: Filter, v: Option[Long]): Boolean = f match {
      case EqualTo("k", x) => v.contains(x.asInstanceOf[Long])
      case GreaterThan("k", x) => v.exists(_ > x.asInstanceOf[Long])
      case GreaterThanOrEqual("k", x) => v.exists(_ >= x.asInstanceOf[Long])
      case LessThan("k", x) => v.exists(_ < x.asInstanceOf[Long])
      case LessThanOrEqual("k", x) => v.exists(_ <= x.asInstanceOf[Long])
      case In("k", vs) => v.exists(vv => vs.contains(vv))
      case IsNull("k") => v.isEmpty
      case IsNotNull("k") => v.nonEmpty
      case And(l, r) => eval(l, v) && eval(r, v)
      case Or(l, r) => eval(l, v) || eval(r, v)
      case other => fail(s"generator produced unexpected filter $other")
    }
    val prop = Prop.forAll(Gen.nonEmptyListOf(genRow), genFilter(2)) { (rows, f) =>
      val fr = FragmentMeta(0, "data/x.parquet", rows.size.toLong, None, 0L,
        1L, mkStats(rows))
      // soundness: a fragment holding any matching row must never prune
      !rows.exists(eval(f, _)) || ZoneMaps.mayMatch(f, schema, fr)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(3000), prop)
    assert(res.passed, s"zone-map soundness violated: ${res.status}")
  }

  test("string zone maps are truncated to 64 chars at harvest, soundly: " +
      "min is a prefix, max is rounded UP, and pruning never drops a " +
      "fragment containing a match") {
    import graft.format.FragmentStats
    // truncUpper unit contract first
    assert(FragmentStats.truncUpper("short").contains("short"))
    val long = "b" * 100
    assert(FragmentStats.truncUpper(long).contains("b" * 63 + "c"))
    assert(FragmentStats.truncUpper("a" + "\uffff" * 100)
      .contains("b"), "trailing MaxValue chars must round the earlier char")
    assert(FragmentStats.truncUpper("\uffff" * 100).isEmpty,
      "an un-roundable prefix must drop the max (absent never prunes)")
    // surrogate safety (r14 review): a lone surrogate would mangle to
    // '?' on the manifest's UTF-8 wire, making the persisted max
    // SMALLER than the true max \u2014 every rounded result must be valid
    // UTF-16 and still compare >= the original
    val emoji = "\ud83d\ude00" // U+1F600, a surrogate pair
    val cut = "x" * 63 + emoji + "tail" * 20 // 64-char cut splits the pair
    val up = FragmentStats.truncUpper(cut).get
    assert(up.compareTo(cut) > 0, "rounded max must stay an upper bound")
    assert(new String(up.getBytes("UTF-8"), "UTF-8") == up,
      "rounded max must survive the UTF-8 wire exactly (valid UTF-16)")
    // 0xD7FF bumps PAST the surrogate block, not into it
    val edge = "x" * 63 + "\ud7ff" + "y" * 20
    assert(FragmentStats.truncUpper(edge).contains("x" * 63 + "\ue000"))
    // min side: a cut that strands a high surrogate drops it (prefix
    // stays a sound lower bound and survives the wire)
    val lo = FragmentStats.truncLower(cut)
    assert(lo == "x" * 63, "trailing lone high surrogate must be dropped")
    assert(new String(lo.getBytes("UTF-8"), "UTF-8") == lo)

    wh
    spark.sql("DROP TABLE IF EXISTS zm.db.longstr")
    spark.sql("CREATE TABLE zm.db.longstr (k BIGINT, doc STRING)")
    // two fragments of document-length strings with disjoint prefixes
    spark.sql("""INSERT INTO zm.db.longstr
      SELECT id, concat('alpha-', id, repeat('x', 200))
      FROM range(0, 100, 1, 1)""")
    spark.sql("""INSERT INTO zm.db.longstr
      SELECT id, concat('omega-', id, repeat('x', 200))
      FROM range(0, 100, 1, 1)""")
    val dir = new org.apache.hadoop.fs.Path(s"$wh/db/longstr.graft")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val m = graft.format.GraftFormat.readLatest(fs, dir).get
    val docStats = m.fragments.flatMap(_.stats.get("doc"))
    assert(docStats.size == m.fragments.size, "doc column must have stats")
    docStats.foreach { cs =>
      assert(cs.min.get.length <= 64, s"min not truncated: ${cs.min}")
      assert(cs.max.get.length <= 64, s"max not truncated: ${cs.max}")
    }
    val all = spark.table("zm.db.longstr")
    // the true max of the alpha fragment is ~208 chars; its truncated
    // max must still ADMIT it (rounded up, not prefix-chopped)
    val trueMax = all.where(col("doc").startsWith("alpha-"))
      .agg(org.apache.spark.sql.functions.max("doc")).head.getString(0)
    assert(trueMax.length > 64)
    val hit = all.filter(col("doc") === trueMax)
    assert(plannedPartitions(hit) == 1,
      "equality on a beyond-truncation value must keep its fragment " +
        "and prune the other")
    assert(hit.count() == 1, "truncated max must not prune a real match")
    // prefix pruning still works on the truncated stats
    assert(plannedPartitions(all.filter(col("doc").startsWith("omega-"))) == 1)
    assert(plannedPartitions(all.filter(col("doc") > "zzz")) == 0)
  }

  test("decimal ranges prune: unscaled INT64 stats vs BigDecimal filters") {
    wh
    spark.sql("DROP TABLE IF EXISTS zm.db.dec")
    spark.sql("CREATE TABLE zm.db.dec (k BIGINT, price DECIMAL(12,2))")
    // 4 appends with disjoint price ranges: [0,10), [10,20), ...
    (0 until 4).foreach { i =>
      spark.sql(
        s"""INSERT INTO zm.db.dec
           |SELECT id, CAST($i * 10 + id / 100.0 AS DECIMAL(12,2))
           |FROM range(0, 1000, 1, 1)""".stripMargin)
    }
    val all = spark.table("zm.db.dec")
    assert(plannedPartitions(all.filter(col("k") >= 0)) == 4)
    val one = all.filter(col("price") === new java.math.BigDecimal("25.00"))
    assert(plannedPartitions(one) == 1,
      "decimal equality inside one fragment's range must plan exactly 1")
    assert(one.count() == 1)
    val range = all.filter(col("price") >= new java.math.BigDecimal("15.00"))
    assert(plannedPartitions(range) == 3)
    assert(range.count() == 2500)
    assert(plannedPartitions(
      all.filter(col("price") > new java.math.BigDecimal("1000"))) == 0)
  }
}
