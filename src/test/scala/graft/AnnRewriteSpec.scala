package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.ops.VectorIndex.Ivf

class AnnRewriteSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val dir: Path = {
    val d = new Path(tempDir("graft-annrw").resolve("e.graft").toUri)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    graft.connector.GraftWriter.write(fs, d,
      Tables.load(spark, sf, "embeddings"), overwrite = true)
    Ivf.build(spark, d, "vec_id", "embedding", nLists = 8)
    d
  }

  private def tableDF = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    val manifest = graft.format.GraftFormat.readLatest(fs, dir).get
    org.apache.spark.sql.GraftShim.tableDF(spark,
      new graft.connector.GraftTable(s"annrw:$dir", dir, manifest, conf))
  }

  private def queryVec: Seq[Float] =
    Tables.load(spark, sf, "embeddings").filter(col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0)

  private def topK(k: Int) = tableDF
    .orderBy(VectorFunctions.cosine_sim(
      col("embedding"), typedlit(queryVec)).desc)
    .limit(k)
    .select("vec_id")

  private def withRule[A](f: => A): A = {
    val rule = graft.plans.AnnTopKIndexRewrite(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    spark.conf.set("spark.graft.ann.indexRewrite", "true")
    try f finally {
      spark.conf.unset("spark.graft.ann.indexRewrite")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq rule)
    }
  }

  private def semiJoins(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftSemi => j
    }.size

  test("top-k cosine over a graft table rewrites to an IVF index probe") {
    dir
    val exact = topK(5).collect().map(_.getLong(0)).toSeq
    withRule {
      val q = topK(5)
      assert(semiJoins(q) == 1, "expected a semi join against the index:\n" +
        q.queryExecution.optimizedPlan)
      val approx = q.collect().map(_.getLong(0)).toSeq
      assert(approx.length == 5)
      // approximate result must equal the exact top-k RESTRICTED to the
      // probed lists — verify against a hand-built probe of the index
      val (cents, assign) = Ivf.readCurrent(spark, dir, "embedding").get
      val qv = queryVec.map(_.toDouble)
      val probed = cents.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)
          .zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum))
        .sortBy { case (cid, d) => (d, cid) }.take(4).map(_._1).toSet
      val candIds = assign.filter(col("cid").isin(probed.toSeq: _*))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val expected = tableDF
        .filter(col("vec_id").isin(candIds.toSeq: _*))
        .orderBy(VectorFunctions.cosine_sim(
          col("embedding"), typedlit(queryVec)).desc)
        .limit(5).select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(approx == expected, "probe result differs from a manual probe")
      // the query vector IS row 7, so its own list is always probed and
      // the top hit survives the approximation
      assert(approx.head == exact.head)
    }
  }

  test("a Filter below the sort still rewrites: filtered ANN probes the " +
      "index and honors the predicate (post-filter semantics)") {
    dir
    def filteredTopK(k: Int) = tableDF
      .where(col("vec_id") % 3 === 0)
      .orderBy(VectorFunctions.cosine_sim(
        col("embedding"), typedlit(queryVec)).desc)
      .limit(k)
      .select("vec_id")
    withRule {
      // pin the prefix to the base nprobe: this test hand-computes the
      // 4-probed-list expectation; the selectivity-scaled prefix has
      // its own test below
      spark.conf.set("spark.graft.ann.selectivityScale", "false")
      try filteredBody()
      finally spark.conf.unset("spark.graft.ann.selectivityScale")
    }
    def filteredBody(): Unit = {
      val q = filteredTopK(5)
      assert(semiJoins(q) == 1, "filtered top-k must still probe the " +
        s"index:\n${q.queryExecution.optimizedPlan}")
      val approx = q.collect().map(_.getLong(0)).toSeq
      assert(approx.length == 5)
      assert(approx.forall(_ % 3 == 0),
        s"probe result leaked rows the predicate excludes: $approx")
      // post-filter semantics exactly: the result is the exact top-k
      // restricted to (probed lists ∩ predicate)
      val (cents, assign) = Ivf.readCurrent(spark, dir, "embedding").get
      val qv = queryVec.map(_.toDouble)
      val probed = cents.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)
          .zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum))
        .sortBy { case (cid, d) => (d, cid) }.take(4).map(_._1).toSet
      val candIds = assign.filter(col("cid").isin(probed.toSeq: _*))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val expected = tableDF
        .filter(col("vec_id").isin(candIds.toSeq: _*) &&
          col("vec_id") % 3 === 0)
        .orderBy(VectorFunctions.cosine_sim(
          col("embedding"), typedlit(queryVec)).desc)
        .limit(5).select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(approx == expected,
        "filtered probe differs from manual probe ∩ predicate")
    }
  }

  test("selectivity-scaled nprobe: a filter keeping ~2/3 of rows widens " +
      "the prefix beyond the base by 1/selectivity (recall floor), and " +
      "a sharp filter keeping > k rows degenerates to the exact scan") {
    dir
    def q(pred: org.apache.spark.sql.Column) = tableDF
      .where(pred)
      .orderBy(VectorFunctions.cosine_sim(
        col("embedding"), typedlit(queryVec)).desc)
      .limit(5).select("vec_id")
    withRule {
      // ~2/3 selectivity: scaled = ceil(base / selectivity), from data
      val total = tableDF.count()
      val surv = tableDF.where(col("vec_id") % 3 =!= 0).count()
      val expectedPrefix =
        math.min(8L, math.ceil(4.0 * total / surv).toLong).toInt
      assert(expectedPrefix > 4 && expectedPrefix < 8,
        s"fixture must scale strictly between base and nLists: $expectedPrefix")
      val mild = q(col("vec_id") % 3 =!= 0)
      assert(semiJoins(mild) == 1,
        s"mild filter must keep the probe:\n${mild.queryExecution.optimizedPlan}")
      assert(probedLists(mild).contains(expectedPrefix),
        s"expected a $expectedPrefix-list scaled prefix, got ${probedLists(mild)}")
      assert(mild.collect().length == 5)
      // sharp filter, > k matches: 1/(1/43) scales past nLists — the
      // semi-join would keep everything, so the exact scan runs and
      // recall is 1 by construction
      val sharp = q(col("vec_id") % 43 === 0)
      val rows = sharp.collect().map(_.getLong(0)).toSeq
      assert(semiJoins(sharp) == 0,
        s"sharp filter should abandon to exact:\n${sharp.queryExecution.optimizedPlan}")
      assert(rows.length == 5 && rows.forall(_ % 43 == 0))
      // and the exact answer it returns IS the true filtered top-k —
      // a FRESH DataFrame under rewrite-off (re-collecting `sharp`
      // would reuse its already-planned execution: vacuous)
      spark.conf.set("spark.graft.ann.indexRewrite", "false")
      try assert(rows ==
        q(col("vec_id") % 43 === 0).collect().map(_.getLong(0)).toSeq)
      finally spark.conf.set("spark.graft.ann.indexRewrite", "true")
    }
  }

  test("unfiltered survivor counts come from the persisted list_sizes " +
      "file: ZERO plan-time count jobs on a fresh index") {
    val d = new Path(tempDir("graft-annsizes").resolve("e.graft").toUri)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    graft.connector.GraftWriter.write(fs, d,
      Tables.load(spark, sf, "embeddings"), overwrite = true)
    Ivf.build(spark, d, "vec_id", "embedding", nLists = 8)
    assert(fs.exists(new Path(new Path(new Path(new Path(d, "_indices"),
      "embedding.ivf"), "v=1"), "list_sizes")),
      "build must persist list sizes")
    def df = {
      val m = graft.format.GraftFormat.readLatest(fs, d).get
      org.apache.spark.sql.GraftShim.tableDF(spark,
        new graft.connector.GraftTable(s"annsizes:$d", d, m, fs.getConf))
    }
    val metrics = graft.plans.AnnTopKIndexRewrite.metrics
    withRule {
      val jobs0 = metrics.countJobs.get()
      val q = df.orderBy(VectorFunctions.cosine_sim(
          col("embedding"), typedlit(queryVec)).desc)
        .limit(5).select("vec_id")
      assert(semiJoins(q) == 1, "fresh unfiltered top-k must probe")
      assert(q.collect().length == 5)
      assert(metrics.countJobs.get() == jobs0,
        "unfiltered planning must serve from persisted list sizes, " +
          "never a plan-time count job over the assignments")
    }
  }

  test("rewrite prefers the IVF_PQ codes table when both indexes exist") {
    dir
    graft.ops.VectorIndex.Pq.build(spark, dir, "vec_id", "embedding",
      nLists = 8)
    withRule {
      val q = topK(5)
      assert(semiJoins(q) == 1)
      // the probe must read the ivfpq codes sidecar, not the ivf assign
      val roots = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Seq.empty
          }
      }.flatten
      assert(roots.exists(_.contains(".ivfpq")),
        s"expected an ivfpq codes read, scanned: $roots")
      // same coarse probing -> same candidate lists -> identical rows
      val approx = q.collect().map(_.getLong(0)).toSeq
      assert(approx.length == 5)
    }
  }

  test("top-k l2_sq ASC rewrites to the same IVF probe; DESC never does") {
    dir
    def l2TopK(k: Int) = tableDF
      .orderBy(VectorFunctions.l2_sq(
        col("embedding"), typedlit(queryVec)).asc)
      .limit(k)
      .select("vec_id")
    withRule {
      val q = l2TopK(5)
      assert(semiJoins(q) == 1, "expected a semi join against the index:\n" +
        q.queryExecution.optimizedPlan)
      val approx = q.collect().map(_.getLong(0)).toSeq
      // IVF lists ARE k-means L2 cells, so the probe is metric-exact for
      // l2: verify against a hand-built probe
      val (cents, assign) = Ivf.readCurrent(spark, dir, "embedding").get
      val qv = queryVec.map(_.toDouble)
      val probed = cents.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)
          .zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum))
        .sortBy { case (cid, d) => (d, cid) }.take(4).map(_._1).toSet
      val candIds = assign.filter(col("cid").isin(probed.toSeq: _*))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val expected = tableDF
        .filter(col("vec_id").isin(candIds.toSeq: _*))
        .orderBy(VectorFunctions.l2_sq(
          col("embedding"), typedlit(queryVec)).asc)
        .limit(5).select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(approx == expected, "l2 probe differs from a manual probe")
      // the query vector is row 7: l2 distance 0 to itself, always found
      assert(approx.head == 7L)
      // farthest-k (l2_sq DESC) is not nearest-neighbor — must not probe
      val farthest = tableDF.orderBy(VectorFunctions.l2_sq(
        col("embedding"), typedlit(queryVec)).desc).limit(5)
      assert(semiJoins(farthest) == 0)
    }
  }

  /** cid → vec_ids of the shared fixture's index, with the lists
    * L2-ranked nearest-first for queryVec — the same ranking the rule
    * computes, so tests can place predicates in known lists. */
  private def listsByRank: Seq[Set[Long]] = {
    val (cents, assign) = Ivf.readCurrent(spark, dir, "embedding").get
    val qv = queryVec.map(_.toDouble)
    val ranked = cents.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)
        .zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum))
      .sortBy { case (cid, d) => (d, cid) }.map(_._1)
    val byCid = assign.select("cid", "vec_id").collect()
      .groupBy(_.getInt(0)).map { case (c, rs) =>
        (c, rs.map(_.getLong(1)).toSet) }
    ranked.map(c => byCid.getOrElse(c, Set.empty[Long])).toSeq
  }

  test("recall cliff closed: a predicate selecting only rows OUTSIDE " +
      "every escalated probe falls back to the exact scan and still " +
      "returns exactly k rows") {
    dir
    val ranks = listsByRank
    // rows living only in the FARTHEST list: no prefix short of ALL 8
    // lists reaches them (minimal-nprobe escalation walks every prefix
    // now, so rows reachable at 5..7 lists would legitimately keep the
    // probe), so without the adaptive guard the probe would return 0
    // rows — and WITH it, the all-lists probe is pointless and the
    // rewrite must abandon itself
    val farIds = ranks.last.take(10).toSeq
    val k = farIds.size
    assume(k >= 3, s"fixture too small: $k")
    def q = tableDF
      .where(col("vec_id").isin(farIds: _*))
      .orderBy(VectorFunctions.cosine_sim(
        col("embedding"), typedlit(queryVec)).desc)
      .limit(k).select("vec_id")
    val exact = q.collect().map(_.getLong(0)).toSeq
    withRule {
      val rows = q.collect().map(_.getLong(0)).toSeq
      assert(rows.length == k, s"recall cliff: got ${rows.length} rows")
      assert(rows == exact, "fallback must equal the exact filtered top-k")
      assert(semiJoins(q) == 0,
        "all-lists probe is pointless — rewrite must abandon itself:\n" +
          q.queryExecution.optimizedPlan)
    }
  }

  /** The list ids a planned probe reads = the cid IN-list the
    * semi-join's index side filters on. */
  private def probedCids(df: org.apache.spark.sql.DataFrame): Option[Set[Int]] =
    df.queryExecution.optimizedPlan.collectFirst {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(
          org.apache.spark.sql.catalyst.expressions.ArrayContains(
            ids: org.apache.spark.sql.catalyst.expressions.Literal, a), _)
          if a.references.map(_.name).exists(_ == "cid") =>
        ids.value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toIntArray().toSet
    }

  /** The nprobe a planned probe actually used. */
  private def probedLists(df: org.apache.spark.sql.DataFrame): Option[Int] =
    probedCids(df).map(_.size)

  test("escalation is minimal: survivors first reaching k at an " +
      "intermediate (non-doubled) prefix probe exactly that prefix " +
      "instead of abandoning") {
    dir
    val ranks = listsByRank
    // ids spread over the 3 nearest lists, k sized so prefixes 1 and 2
    // fall short and prefix 3 suffices: the old doubling (1 -> 2 -> 4)
    // never tested 3; minimal escalation must land on exactly 3
    val ids = (ranks(0).take(1) ++ ranks(1).take(1) ++ ranks(2).take(1)).toSeq
    assume(ids.size == 3, s"fixture too small: ${ids.size}")
    def q = tableDF
      .where(col("vec_id").isin(ids: _*))
      .orderBy(VectorFunctions.cosine_sim(
        col("embedding"), typedlit(queryVec)).desc)
      .limit(3).select("vec_id")
    val exact = q.collect().map(_.getLong(0)).toSeq
    withRule {
      spark.conf.set("spark.graft.ann.nprobe", "1")
      try {
        val rows = q.collect().map(_.getLong(0)).toSeq
        assert(rows == exact)
        assert(semiJoins(q) == 1,
          "minimal escalation must keep the probe:\n" +
            q.queryExecution.optimizedPlan)
        assert(probedLists(q).contains(3),
          s"expected exactly 3 probed lists, got ${probedLists(q)}:\n" +
            q.queryExecution.optimizedPlan)
      } finally spark.conf.unset("spark.graft.ann.nprobe")
    }
  }

  test("plan-time observability: the survivor-count job increments its " +
      "counter once per cache miss, zero on hit; abandonment counts too") {
    dir
    val m = graft.plans.AnnTopKIndexRewrite.metrics
    val ranks = listsByRank
    // a fresh never-planned predicate guarantees a cache miss
    val ids = ranks(1).take(4).toSeq
    assume(ids.size == 4)
    def q = tableDF
      .where(col("vec_id").isin(ids: _*) || col("vec_id") === -1L)
      .orderBy(VectorFunctions.cosine_sim(
        col("embedding"), typedlit(queryVec)).desc)
      .limit(4).select("vec_id")
    withRule {
      val (jobs0, hits0) = (m.countJobs.get(), m.countJobCacheHits.get())
      q.collect()
      assert(m.countJobs.get() == jobs0 + 1,
        "first plan of a new query must run exactly one count job")
      assert(m.countJobCacheHits.get() == hits0)
      q.collect() // re-built DataFrame, same canonical plan -> cache hit
      assert(m.countJobs.get() == jobs0 + 1,
        "re-planning the same query must not re-run the count job")
      assert(m.countJobCacheHits.get() > hits0)
      // an all-lists-needed predicate abandons and says so
      val farIds = ranks.last.take(3).toSeq
      assume(farIds.size == 3)
      val ab0 = m.abandons.get()
      tableDF.where(col("vec_id").isin(farIds: _*))
        .orderBy(VectorFunctions.cosine_sim(
          col("embedding"), typedlit(queryVec)).desc)
        .limit(3).select("vec_id").collect()
      assert(m.abandons.get() > ab0,
        "abandonment to the exact scan must increment its counter")
    }
  }

  test("adaptive escalation: a shortlist short of k at the configured " +
      "nprobe widens the probe instead of returning short") {
    dir
    val ranks = listsByRank
    // k rows from the SECOND-nearest list only: nprobe=1 sees none of
    // them, nprobe=2 sees all — the rule must escalate exactly once and
    // keep the semi-join (no fallback)
    val ids = ranks(1).take(5)
    assume(ids.size == 5, s"fixture too small: ${ids.size}")
    def q = tableDF
      .where(col("vec_id").isin(ids.toSeq: _*))
      .orderBy(VectorFunctions.cosine_sim(
        col("embedding"), typedlit(queryVec)).desc)
      .limit(5).select("vec_id")
    val exact = q.collect().map(_.getLong(0)).toSeq
    withRule {
      spark.conf.set("spark.graft.ann.nprobe", "1")
      try {
        val rows = q.collect().map(_.getLong(0)).toSeq
        assert(rows.length == 5, s"escalation failed: ${rows.length} rows")
        // the predicate admits exactly these 5 ids, so the escalated
        // probe's answer must equal the exact one
        assert(rows == exact)
        assert(semiJoins(q) == 1,
          "escalation (not fallback) must keep the index probe:\n" +
            q.queryExecution.optimizedPlan)
      } finally spark.conf.unset("spark.graft.ann.nprobe")
    }
  }

  test("unfiltered short probe escalates too; k beyond the corpus falls " +
      "back to exact") {
    dir
    val total = tableDF.count()
    withRule {
      // k = whole corpus: no probe subset can fill it -> exact scan
      val all = topK(total.toInt)
      assert(semiJoins(all) == 0,
        "k covering the corpus must not probe:\n" +
          all.queryExecution.optimizedPlan)
      assert(all.collect().length == total)
    }
  }

  test("adaptiveNprobe=false preserves the legacy post-filter cliff " +
      "(documented escape hatch)") {
    dir
    val ranks = listsByRank
    val farIds = ranks.drop(4).flatten.take(10)
    assume(farIds.size == 10)
    withRule {
      spark.conf.set("spark.graft.ann.adaptiveNprobe", "false")
      try {
        val q = tableDF
          .where(col("vec_id").isin(farIds.toSeq: _*))
          .orderBy(VectorFunctions.cosine_sim(
            col("embedding"), typedlit(queryVec)).desc)
          .limit(10).select("vec_id")
        assert(semiJoins(q) == 1, "legacy mode must still probe")
        assert(q.collect().length < 10,
          "legacy mode must exhibit the cliff this knob opts back into")
      } finally spark.conf.unset("spark.graft.ann.adaptiveNprobe")
    }
  }

  test("survivor counts: one count job per distinct query (cache hit on " +
      "re-plan), and a re-created generation NEVER reuses the dead " +
      "history's counts") {
    val d = new Path(tempDir("graft-anncache").resolve("e.graft").toUri)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    val e = Tables.load(spark, sf, "embeddings")
    graft.connector.GraftWriter.write(fs, d, e, overwrite = true)
    Ivf.build(spark, d, "vec_id", "embedding", nLists = 8)
    def df = {
      val conf = spark.sessionState.newHadoopConf()
      val manifest = graft.format.GraftFormat.readLatest(fs, d).get
      org.apache.spark.sql.GraftShim.tableDF(spark,
        new graft.connector.GraftTable(s"anncache:$d", d, manifest, conf))
    }
    def q = df.where(col("vec_id") % 3 === 0)
      .orderBy(VectorFunctions.cosine_sim(
        col("embedding"), typedlit(queryVec)).desc)
      .limit(5).select("vec_id")
    val cache = graft.plans.AnnTopKIndexRewrite.survivorCounts
    withRule {
      val size0 = cache.size()
      val first = q.collect().map(_.getLong(0)).toSeq
      assert(cache.size() == size0 + 1,
        "first plan of a new query must add exactly one counts entry")
      // a RE-BUILT DataFrame of the same query re-plans from scratch:
      // the canonicalized-plan key must hit, not recount
      assert(q.collect().map(_.getLong(0)).toSeq == first)
      assert(cache.size() == size0 + 1,
        "re-planning the same query must hit the cache, not recount")
      // drop + re-create: same rows, same version, same index path —
      // only the generation id differs. Keying on the version dir alone
      // would serve the dead history's counts; the fresh generation
      // must get its own entry
      fs.delete(d, true)
      graft.connector.GraftWriter.write(fs, d, e, overwrite = true)
      Ivf.build(spark, d, "vec_id", "embedding", nLists = 8)
      assert(q.collect().map(_.getLong(0)).toSeq == first,
        "identical data must give identical results across generations")
      assert(cache.size() == size0 + 2,
        "a re-created generation must mint a NEW counts entry — " +
          "reusing the dead history's is the stale-cache recall hole")
    }
  }

  test("concurrent first-plannings of the same query run ONE count job " +
      "(per-key in-flight latch)") {
    // fresh table + index: nothing cached for this generation
    val d = new Path(tempDir("graft-annlatch").resolve("e.graft").toUri)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    graft.connector.GraftWriter.write(fs, d,
      Tables.load(spark, sf, "embeddings"), overwrite = true)
    Ivf.build(spark, d, "vec_id", "embedding", nLists = 8)
    def df = {
      val m = graft.format.GraftFormat.readLatest(fs, d).get
      org.apache.spark.sql.GraftShim.tableDF(spark,
        new graft.connector.GraftTable(s"annlatch:$d", d, m, fs.getConf))
    }
    // FILTERED: must count through the predicate (list_sizes can't serve)
    def q = df.where(col("vec_id") % 3 === 0)
      .orderBy(VectorFunctions.cosine_sim(
        col("embedding"), typedlit(queryVec)).desc)
      .limit(5).select("vec_id")
    val metrics = graft.plans.AnnTopKIndexRewrite.metrics
    withRule {
      val jobs0 = metrics.countJobs.get()
      val threads = 8
      val barrier = new java.util.concurrent.CyclicBarrier(threads)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
      val pool = (1 to threads).map { _ =>
        new Thread(() => {
          try {
            barrier.await()
            results.add(q.collect().map(_.getLong(0)).toSeq)
          } catch { case t: Throwable => errors.add(t) }
        })
      }
      pool.foreach(_.start())
      pool.foreach(_.join(120000))
      assert(errors.isEmpty, s"concurrent planning failed: ${errors.peek()}")
      import scala.jdk.CollectionConverters._
      assert(results.asScala.toSet.size == 1,
        "all threads must see the identical result")
      assert(metrics.countJobs.get() == jobs0 + 1,
        s"concurrent first-planning must run exactly ONE count job, " +
          s"ran ${metrics.countJobs.get() - jobs0}")
    }
  }

  /** A fresh table over the embeddings fixture with an IVF index built
    * at `nLists`, and a DataFrame factory over its latest version. */
  private def freshIndexed(tag: String, nLists: Int = 8)
      : (Path, () => org.apache.spark.sql.DataFrame) = {
    val d = new Path(tempDir(s"graft-$tag").resolve("e.graft").toUri)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    graft.connector.GraftWriter.write(fs, d,
      Tables.load(spark, sf, "embeddings"), overwrite = true)
    Ivf.build(spark, d, "vec_id", "embedding", nLists = nLists)
    (d, () => {
      val m = graft.format.GraftFormat.readLatest(fs, d).get
      org.apache.spark.sql.GraftShim.tableDF(spark,
        new graft.connector.GraftTable(s"$tag:$d", d, m, fs.getConf))
    })
  }

  test("SQL-form ANN planning on a warm index launches no Spark job; " +
      "filtered counts are shared across query vectors, per row set") {
    val (_, df) = freshIndexed("annsql")
    VectorFunctions.register(spark)
    df().createOrReplaceTempView("annsql_t")
    val vecs = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id").isin(3L, 7L, 11L, 19L, 23L))
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => s"CAST($x AS FLOAT)")
        .mkString("array(", ", ", ")"))
    assume(vecs.length == 5, "fixture lacks the query rows")
    // the benchmark's SQL shape: the query literal lives in the Project
    // that aliases the score, below the sort
    def sqlQ(v: String, from: String = "annsql_t") = spark.sql(
      s"SELECT vec_id, cosine_sim(embedding, $v) AS score FROM $from " +
        "ORDER BY score DESC LIMIT 10")
    def ids(q: org.apache.spark.sql.DataFrame) =
      q.collect().map(_.getLong(0)).toSeq
    // ~2/3 selectivity keeps the scaled prefix below every list
    val filteredFrom = "annsql_t WHERE vec_id % 3 <> 0"
    // the id column derived from another column: the ids the sort
    // reads are not the plain predicate's, so neither are the counts
    val derivedFrom = "(SELECT vec_id + 1 AS vec_id, embedding " +
      "FROM annsql_t WHERE vec_id % 3 <> 0)"
    val m = graft.plans.AnnTopKIndexRewrite.metrics
    withRule {
      // warm-up: the first plan loads the index version's metadata
      val unfiltered = vecs.take(4).map(v => sqlQ(v))
      unfiltered.head.queryExecution.optimizedPlan
      unfiltered.slice(1, 3).foreach { q =>
        val (plan, jobs) = jobsDuring(q.queryExecution.optimizedPlan)
        assert(plan.collect { case j: Join if j.joinType == LeftSemi => j }
          .size == 1, s"warm SQL-form top-k must probe:\n$plan")
        assert(jobs == 0,
          s"planning over a warm index launched $jobs Spark jobs")
      }
      val (_, explainJobs) = jobsDuring(unfiltered(3).explain())
      assert(explainJobs == 0, s"explain() launched $explainJobs Spark jobs")
      val jobs0 = m.countJobs.get()
      val filtered = vecs.take(3).map(v => sqlQ(v, filteredFrom))
      filtered.foreach(q => assert(semiJoins(q) == 1,
        s"filtered top-k must probe:\n${q.queryExecution.optimizedPlan}"))
      assert(m.countJobs.get() == jobs0 + 1, "three filtered queries with " +
        s"one predicate ran ${m.countJobs.get() - jobs0} count jobs, not 1")
      val derived = sqlQ(vecs(4), derivedFrom)
      derived.queryExecution.optimizedPlan
      assert(m.countJobs.get() == jobs0 + 2,
        "a Project deriving the id column must get its own count")
      val all = unfiltered ++ filtered :+ derived
      val warm = all.map(ids)
      // the same queries planned from cold caches give the same rows
      graft.plans.AnnTopKIndexRewrite.indexMetas.clear()
      graft.plans.AnnTopKIndexRewrite.survivorCounts.clear()
      val cold = (vecs.take(4).map(v => sqlQ(v)) ++
        vecs.take(3).map(v => sqlQ(v, filteredFrom)) :+
        sqlQ(vecs(4), derivedFrom)).map(ids)
      assert(warm.toSeq == cold.toSeq, "cached planning changed a result")
      warm.foreach(r => assert(r.length == 10))
    }
  }

  test("warm SQL-form ANN queries probing different lists compile no " +
      "code; each answer equals the query planned from cold caches") {
    val (_, df) = freshIndexed("anncodegen")
    VectorFunctions.register(spark)
    df().createOrReplaceTempView("anncodegen_t")
    def sqlQ(v: Seq[Float]) = spark.sql("SELECT vec_id, cosine_sim(" +
      v.map(x => s"CAST($x AS FLOAT)").mkString("embedding, array(", ", ", ")") +
      ") AS score FROM anncodegen_t ORDER BY score DESC LIMIT 10")
    def ids(q: org.apache.spark.sql.DataFrame) =
      q.collect().map(_.getLong(0)).toSeq
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    withRule {
      val vecs = Tables.load(spark, sf, "embeddings").orderBy("vec_id")
        .select("embedding").limit(64).collect().map(_.getSeq[Float](0))
      ids(sqlQ(vecs.head)) // warm-up: the index metadata and the classes
      // query vectors whose probes differ from each other and from the
      // warm-up's
      val seen = scala.collection.mutable.Set(probedCids(sqlQ(vecs.head)))
      val picked = vecs.tail.filter(v => seen.add(probedCids(sqlQ(v)))).take(3)
      assume(picked.length == 3, "fixture lacks three distinct probes")
      assert(seen.forall(_.nonEmpty), "every query must probe the index")
      val before = compiles.getCount
      val warm = picked.map(v => ids(sqlQ(v)))
      assert(compiles.getCount == before, s"3 warm ANN queries compiled " +
        s"${compiles.getCount - before} classes")
      graft.plans.AnnTopKIndexRewrite.indexMetas.clear()
      graft.plans.AnnTopKIndexRewrite.survivorCounts.clear()
      assert(picked.map(v => ids(sqlQ(v))).toSeq == warm.toSeq,
        "cached planning changed a result")
      warm.foreach(r => assert(r.length == 10))
    }
  }

  test("an in-place rebuild at the same table version (nLists 8 -> 4) " +
      "probes the new build's lists with the new build's list sizes") {
    val (d, df) = freshIndexed("annrebuild")
    def q(k: Int) = df().orderBy(VectorFunctions.cosine_sim(
        col("embedding"), typedlit(queryVec)).desc)
      .limit(k).select("vec_id")
    withRule {
      spark.conf.set("spark.graft.ann.nprobe", "1")
      try {
        assert(probedCids(q(5)).nonEmpty, "the 8-list build must probe")
        Ivf.build(spark, d, "vec_id", "embedding", nLists = 4)
        // the new build's ranking and sizes: k one past the nearest
        // list's size needs exactly the two nearest lists
        val (cents, assign) = Ivf.readCurrent(spark, d, "embedding").get
        val qv = queryVec.map(_.toDouble)
        val ranked = cents.collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1)
            .zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum))
          .sortBy { case (cid, dist) => (dist, cid) }.map(_._1)
        assert(ranked.length == 4)
        val sizes = assign.groupBy("cid").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val k = (sizes(ranked(0)) + 1).toInt
        assume(sizes(ranked(1)) > 0)
        val p = q(k)
        assert(probedCids(p).exists(_.forall(_ < 4)))
        assert(probedCids(p).contains(ranked.take(2).toSet),
          s"expected lists ${ranked.take(2).toSeq}, probed ${probedCids(p)}:\n" +
            p.queryExecution.optimizedPlan)
        assert(p.collect().length == k)
      } finally spark.conf.unset("spark.graft.ann.nprobe")
    }
  }

  test("property: filtered adaptive ANN always returns min(k, matches) " +
      "predicate-true rows across seeded random predicates and ks") {
    dir
    val allIds = tableDF.select("vec_id").collect().map(_.getLong(0))
    val rnd = new scala.util.Random(20260815L)
    withRule {
      (1 to 12).foreach { i =>
        val subsetSize = 1 + rnd.nextInt(30)
        val s = rnd.shuffle(allIds.toVector).take(subsetSize).toSet
        val k = 1 + rnd.nextInt(15)
        val q = tableDF
          .where(col("vec_id").isin(s.toSeq: _*))
          .orderBy(VectorFunctions.cosine_sim(
            col("embedding"), typedlit(queryVec)).desc)
          .limit(k).select("vec_id")
        val rows = q.collect().map(_.getLong(0)).toSeq
        // the adaptive contract, for EVERY predicate/k: exactly
        // min(k, matches) rows, no leakage, within-result uniqueness
        assert(rows.length == math.min(k, s.size),
          s"case $i: |S|=${s.size} k=$k got ${rows.length} rows")
        assert(rows.forall(s.contains), s"case $i: leaked ${rows.filterNot(s.contains)}")
        assert(rows.distinct.length == rows.length, s"case $i: duplicates")
        // when the rewrite abandoned itself (no semi-join) OR the
        // predicate admits at most k rows, the result must equal the
        // exact filtered top-k bit-for-bit
        if (semiJoins(q) == 0 || s.size <= k) {
          val exact = tableDF
            .where(col("vec_id").isin(s.toSeq: _*))
            .orderBy(VectorFunctions.cosine_sim(
              col("embedding"), typedlit(queryVec)).desc)
            .limit(k).select("vec_id")
          spark.conf.set("spark.graft.ann.indexRewrite", "false")
          val expected = try exact.collect().map(_.getLong(0)).toSeq
          finally spark.conf.set("spark.graft.ann.indexRewrite", "true")
          assert(rows == expected, s"case $i: diverged from exact")
        }
      }
    }
  }

  test("rewrite does not fire: conf false, no index, non-literal query") {
    dir
    // conf explicitly false forces exact results despite the index
    val rule = graft.plans.AnnTopKIndexRewrite(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    spark.conf.set("spark.graft.ann.indexRewrite", "false")
    try assert(semiJoins(topK(5)) == 0)
    finally {
      spark.conf.unset("spark.graft.ann.indexRewrite")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq rule)
    }
    withRule {
      // ascending sort (farthest-first) must not be rewritten
      val asc = tableDF.orderBy(VectorFunctions.cosine_sim(
        col("embedding"), typedlit(queryVec)).asc).limit(5)
      assert(semiJoins(asc) == 0)
      // column-vs-column cosine (no literal query vector) must not be
      val cc = tableDF.orderBy(VectorFunctions.cosine_sim(
        col("embedding"), col("embedding")).desc).limit(5)
      assert(semiJoins(cc) == 0)
    }
  }

  test("auto-fire: a fresh index probes with NO session conf set; a stale " +
      "index silently reverts to the exact scan") {
    // own table: appends here must not stale the shared fixture
    val d = new Path(tempDir("graft-annauto").resolve("e.graft").toUri)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    val e = Tables.load(spark, sf, "embeddings")
    graft.connector.GraftWriter.write(fs, d, e, overwrite = true)
    Ivf.build(spark, d, "vec_id", "embedding", nLists = 8)
    def df = {
      val conf = spark.sessionState.newHadoopConf()
      val manifest = graft.format.GraftFormat.readLatest(fs, d).get
      org.apache.spark.sql.GraftShim.tableDF(spark,
        new graft.connector.GraftTable(s"annauto:$d", d, manifest, conf))
    }
    def q = df.orderBy(VectorFunctions.cosine_sim(
      col("embedding"), typedlit(queryVec)).desc).limit(5).select("vec_id")
    val rule = graft.plans.AnnTopKIndexRewrite(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    assert(spark.conf.getOption("spark.graft.ann.indexRewrite").isEmpty,
      "precondition: no session conf")
    try {
      // index presence alone flips the probe on (reference contract:
      // a built vector index makes ANN approximate automatically)
      assert(semiJoins(q) == 1,
        "fresh index + no conf must auto-fire:\n" + q.queryExecution.optimizedPlan)
      // append -> version mismatch -> the probe must NOT fire, and the
      // result must be the exact scan's
      graft.connector.GraftWriter.write(fs, d,
        e.limit(2).select((col("vec_id") + 900000).as("vec_id"),
          col("embedding"), col("label")),
        overwrite = false)
      val stale = q
      assert(semiJoins(stale) == 0,
        "stale index must be invisible — exactness over staleness")
      val exactNoRule = df.orderBy(VectorFunctions.cosine_sim(
        col("embedding"), typedlit(queryVec)).desc).limit(5).select("vec_id")
      assert(stale.collect().map(_.getLong(0)).toSeq ==
        exactNoRule.collect().map(_.getLong(0)).toSeq)
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq rule)
  }

  test("GraftExtensions injects the native SQL functions at session " +
      "build (no per-session register calls)") {
    withExtensionSession { s2 =>
      assert(s2.sql("SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D))")
        .head().getDouble(0) == 1.0)
      assert(s2.sql("SELECT l2_sq(array(0.0D, 0.0D), array(3.0D, 4.0D))")
        .head().getDouble(0) == 25.0)
      assert(s2.sql("SELECT poly_hash64('abc') = poly_hash64('abc')")
        .head().getBoolean(0))
      assert(s2.sql("SELECT simhash64(array('some', 'text', 'here'))")
        .head().get(0) != null)
    }
  }
}
