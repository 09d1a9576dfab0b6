package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Driver-gated queries that exercise the graft table format END TO END:
  * each one (re)builds a graft table from the sf-dir parquet input via
  * the DSv2 catalog, then answers a query whose oracle runs on the raw
  * parquet — so CTAS/insert/commit, fragment scan, deletion vectors,
  * time travel and manifest count(*) all sit inside the correctness
  * gate, not just unit tests.
  */
object FormatQueries {

  private def setup(s: SparkSession, d: String): Unit = {
    val wh = Paths.get(sys.props("java.io.tmpdir"), "graft_wh").toString
    s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
  }

  val all: Seq[Q] = Seq(

    // Full write -> read roundtrip through the format.
    Q("g01_format_roundtrip",
      """SELECT l_returnflag, round(sum(l_extendedprice), 2) AS total,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
      "graft CTAS of lineitem + aggregate read-back") { (s, d) =>
      setup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.db.li_rt")
      Tables.load(s, d, "lineitem").createOrReplaceTempView("li_rt_src")
      s.sql("CREATE TABLE graft.db.li_rt AS SELECT * FROM li_rt_src")
      s.table("graft.db.li_rt")
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_extendedprice")), 2).as("total"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // MVCC time travel: v2 = first half only; latest = everything.
    Q("g02_time_travel",
      """SELECT 'v1' AS snap, count(*) AS n FROM lineitem WHERE l_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'latest' AS snap, count(*) AS n FROM lineitem
        |ORDER BY snap""".stripMargin,
      "append creates versions; VERSION AS OF reads the older snapshot") { (s, d) =>
      setup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.db.li_tt")
      val li = Tables.load(s, d, "lineitem")
      li.filter(col("l_orderkey") % 2 === 0).createOrReplaceTempView("tt_even")
      li.filter(col("l_orderkey") % 2 =!= 0).createOrReplaceTempView("tt_odd")
      s.sql("CREATE TABLE graft.db.li_tt AS SELECT * FROM tt_even")
      s.sql("INSERT INTO graft.db.li_tt SELECT * FROM tt_odd")
      // versions: 1 = atomic CTAS (even rows), 2 = append (odd rows)
      s.sql(
        """SELECT 'v1' AS snap, count(*) AS n
          |  FROM graft.db.li_tt VERSION AS OF 1
          |UNION ALL
          |SELECT 'latest' AS snap, count(*) AS n FROM graft.db.li_tt
          |ORDER BY snap""".stripMargin)
    },

    // Merge-on-read DELETE with deletion vectors.
    Q("g03_delete_vectors",
      """SELECT l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem
        |WHERE NOT (l_returnflag = 'R' OR l_quantity < 5)
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,
      "SQL DELETE writes per-fragment deletion vectors; scan applies them") { (s, d) =>
      setup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.db.li_del")
      Tables.load(s, d, "lineitem").createOrReplaceTempView("li_del_src")
      s.sql("CREATE TABLE graft.db.li_del AS SELECT * FROM li_del_src")
      s.sql("DELETE FROM graft.db.li_del WHERE l_returnflag = 'R'")
      s.sql("DELETE FROM graft.db.li_del WHERE l_quantity < 5")
      s.table("graft.db.li_del")
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy("l_linestatus")
    },

    // COUNT(*) answered from the manifest (zero data scan), minus
    // deletion-vector counts.
    Q("g04_manifest_count",
      """SELECT count(*) AS n FROM lineitem WHERE NOT l_returnflag = 'A'""",
      "manifest-served count(*) after DELETE (deletion-aware)") { (s, d) =>
      setup(s, d)
      // CTAS + DELETE are table prep; the measured operator is the
      // manifest-served deletion-aware count
      s.sql("DROP TABLE IF EXISTS graft.db.li_cnt")
      Tables.load(s, d, "lineitem").createOrReplaceTempView("li_cnt_src")
      s.sql("CREATE TABLE graft.db.li_cnt AS SELECT * FROM li_cnt_src")
      s.sql("DELETE FROM graft.db.li_cnt WHERE l_returnflag = 'A'")
      s.table("graft.db.li_cnt").agg(count(lit(1)).as("n"))
    },

    // Row-level UPDATE (merge-on-read delete + insert, one commit).
    Q("g06_update",
      """SELECT o_orderstatus,
        |  round(sum(CASE WHEN o_totalprice < 10000
        |                 THEN o_totalprice * 1.1
        |                 ELSE o_totalprice END), 2) AS total
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
      "UPDATE applies assignments to matched rows via deletion+insert commit") { (s, d) =>
      setup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.db.ord_upd")
      Tables.load(s, d, "orders").createOrReplaceTempView("ord_upd_src")
      s.sql("CREATE TABLE graft.db.ord_upd AS SELECT * FROM ord_upd_src")
      // SQL UPDATE -> delta-based row-level write: executors write the
      // deletion vectors + replacement fragments, one manifest commit
      s.sql("""UPDATE graft.db.ord_upd
              |SET o_totalprice = o_totalprice * 1.1
              |WHERE o_totalprice < 10000""".stripMargin)
      s.table("graft.db.ord_upd")
        .groupBy(col("o_orderstatus"))
        .agg(round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("o_orderstatus")
    },

    // MERGE: upsert from a source snapshot into the table.
    Q("g07_merge",
      """WITH target AS (SELECT c_custkey, c_acctbal FROM customer
        |                WHERE c_custkey <= 1000),
        |src AS (SELECT c_custkey, c_acctbal * 2 AS new_bal FROM customer
        |        WHERE c_custkey BETWEEN 500 AND 1500)
        |SELECT c_custkey, round(bal, 2) AS bal FROM (
        |  SELECT t.c_custkey,
        |         coalesce(s.new_bal, t.c_acctbal) AS bal
        |  FROM target t LEFT JOIN src s USING (c_custkey)
        |  UNION ALL
        |  SELECT s.c_custkey, s.new_bal AS bal
        |  FROM src s WHERE s.c_custkey NOT IN (SELECT c_custkey FROM target))
        |ORDER BY c_custkey""".stripMargin,
      "MERGE upsert: matched rows replaced, unmatched source rows inserted") { (s, d) =>
      setup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.db.cust_mrg")
      Tables.load(s, d, "customer")
        .filter(col("c_custkey") <= 1000)
        .select("c_custkey", "c_acctbal")
        .createOrReplaceTempView("cust_mrg_src")
      s.sql("CREATE TABLE graft.db.cust_mrg AS SELECT * FROM cust_mrg_src")
      Tables.load(s, d, "customer")
        .filter(col("c_custkey").between(500, 1500))
        .select(col("c_custkey").as("sk"),
          (col("c_acctbal") * 2).as("new_bal"))
        .createOrReplaceTempView("cust_mrg_updates")
      // SQL MERGE INTO -> delta-based row-level write (upsert)
      s.sql("""MERGE INTO graft.db.cust_mrg t
              |USING cust_mrg_updates s
              |ON t.c_custkey = s.sk
              |WHEN MATCHED THEN UPDATE SET c_acctbal = s.new_bal
              |WHEN NOT MATCHED THEN
              |  INSERT (c_custkey, c_acctbal) VALUES (s.sk, s.new_bal)""".stripMargin)
      s.table("graft.db.cust_mrg")
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
        .orderBy("c_custkey")
    },

    // Compaction + vacuum: small multi-append table with deletes is
    // compacted (deletion vectors folded) and vacuumed; results must
    // still be byte-exact vs the relational oracle.
    Q("g08_compact_vacuum",
      """SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 2) AS bal
        |FROM supplier
        |WHERE NOT s_acctbal < 0
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin,
      "compact folds fragments+deletes, vacuum drops history; data exact") { (s, d) =>
      setup(s, d)
      // table prep (fragment fan-out the compaction will fold)
      s.sql("DROP TABLE IF EXISTS graft.db.supp_cmp")
      s.sql("CREATE TABLE graft.db.supp_cmp (s_suppkey BIGINT, s_name STRING, " +
        "s_nationkey INT, s_acctbal DOUBLE)")
      val supp = Tables.load(s, d, "supplier")
      // several small appends -> many fragments
      (0 until 4).foreach { i =>
        supp.filter(col("s_suppkey") % 4 === i)
          .createOrReplaceTempView(s"supp_cmp_$i")
        s.sql(s"INSERT INTO graft.db.supp_cmp SELECT * FROM supp_cmp_$i")
      }
      s.sql("DELETE FROM graft.db.supp_cmp WHERE s_acctbal < 0")
      // maintenance through the SQL surface (ProcedureCatalog)
      s.sql("CALL graft.system.compact(`table` => 'db.supp_cmp', " +
        "min_rows => 1000000)")
      s.sql("CALL graft.system.vacuum(`table` => 'db.supp_cmp', " +
        "keep_versions => 1)")
      s.table("graft.db.supp_cmp")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 2).as("bal"))
        .orderBy("s_nationkey")
    },

    // Sorted compaction (OPTIMIZE ... SORT BY analog): interleaved
    // appends leave every fragment spanning the whole key range; the
    // sorted rewrite re-clusters fragments onto disjoint ranges so the
    // zone maps can prune range scans (planned-partition counts proven
    // in MaintenanceSpec) — and the data must stay byte-exact.
    Q("g10_sorted_compact",
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderkey BETWEEN 10000 AND 50000
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
      "sorted compact re-clusters fragments; range query stays exact") { (s, d) =>
      setup(s, d)
      // interleaved-append table prep; the measured operator is the
      // sorted compaction + the range probe it accelerates
      s.sql("DROP TABLE IF EXISTS graft.db.ord_srt")
      val ord = Tables.load(s, d, "orders")
      ord.filter(col("o_orderkey") % 4 === 0).createOrReplaceTempView("ord_srt_0")
      s.sql("CREATE TABLE graft.db.ord_srt AS SELECT * FROM ord_srt_0")
      (1 until 4).foreach { i =>
        ord.filter(col("o_orderkey") % 4 === i)
          .createOrReplaceTempView(s"ord_srt_$i")
        s.sql(s"INSERT INTO graft.db.ord_srt SELECT * FROM ord_srt_$i")
      }
      val dir = new org.apache.hadoop.fs.Path(
        Paths.get(sys.props("java.io.tmpdir"), "graft_wh", "db",
          "ord_srt.graft").toUri)
      graft.ops.Maintenance.compact(s, dir, minRows = 4000L,
        sortBy = Seq("o_orderkey"))
      s.table("graft.db.ord_srt")
        .filter(col("o_orderkey").between(10000, 50000))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("o_orderpriority")
    },

    // Z-order compaction (OPTIMIZE ... ZORDER BY analog): Morton
    // interleave of quantile-bucket ids clusters fragments into
    // hyper-rectangles, so zone maps prune point/range predicates on
    // EVERY listed dimension — not just a sort prefix (planned-
    // partition counts proven in MaintenanceSpec). The gate pins that
    // the rewrite is byte-exact under predicates on both dimensions.
    Q("g15_zorder_compact",
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_custkey BETWEEN 500 AND 1000
        |  AND o_totalprice BETWEEN 50000 AND 150000
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
      "zorder compact clusters on (custkey, totalprice); probe stays exact") { (s, d) =>
      setup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.db.ord_zo")
      val ord = Tables.load(s, d, "orders")
      ord.filter(col("o_orderkey") % 4 === 0).createOrReplaceTempView("ord_zo_0")
      s.sql("CREATE TABLE graft.db.ord_zo AS SELECT * FROM ord_zo_0")
      (1 until 4).foreach { i =>
        ord.filter(col("o_orderkey") % 4 === i)
          .createOrReplaceTempView(s"ord_zo_$i")
        s.sql(s"INSERT INTO graft.db.ord_zo SELECT * FROM ord_zo_$i")
      }
      // the measured operator is the z-order rewrite + the 2-D probe it
      // accelerates; the interleaved appends above are table prep
      val dir = new org.apache.hadoop.fs.Path(
        Paths.get(sys.props("java.io.tmpdir"), "graft_wh", "db",
          "ord_zo.graft").toUri)
      graft.ops.Maintenance.compact(s, dir, minRows = 4000L,
        zorderBy = Seq("o_custkey", "o_totalprice"))
      s.table("graft.db.ord_zo")
        .filter(col("o_custkey").between(500, 1000) &&
          col("o_totalprice").between(50000, 150000))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("o_orderpriority")
    },

    // Persisted inverted TEXT index (the FTS leg of the index family
    // next to g12's scalar and v-series' vector indexes): postings are
    // sorted parquet (tok, doc_id, tf, dl) sidecars, and search reads
    // ONLY the query terms' postings — yet scores are EXACT BM25, so
    // the oracle is the identical full-scan SQL formulation as t11.
    Q("g16_text_index",
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM tok
        |  WHERE tok IN ('vector', 'join', 'filter') GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT tf.doc_id,
        |    sum(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
        |        * tf.tf * 2.2
        |        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))
        |      AS score
        |  FROM tf JOIN df ON tf.tok = df.tok
        |          JOIN dl ON tf.doc_id = dl.doc_id
        |          CROSS JOIN stats
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, round(score, 4) AS bm25
        |FROM scored
        |ORDER BY round(score, 4) DESC, doc_id
        |LIMIT 50""".stripMargin,
      "persisted text index answers exact BM25 from query-term postings only") { (s, d) =>
      setup(s, d)
      val dir = new org.apache.hadoop.fs.Path(
        Paths.get(sys.props("java.io.tmpdir"), "graft_wh", "db",
          "docs_fts.graft").toUri)
      s.sql("DROP TABLE IF EXISTS graft.db.docs_fts")
      Tables.load(s, d, "documents").createOrReplaceTempView("docs_fts_src")
      s.sql("CREATE TABLE graft.db.docs_fts AS SELECT * FROM docs_fts_src")
      graft.ops.TextIndex.build(s, dir, "doc_id", "text")
      graft.ops.TextIndex.searchCurrent(
        s, dir, "text", Seq("vector", "join", "filter"), 50).get
    },

    // Bucketized rewrite (storage-partitioned-join layout): every row
    // moves to the fragment of bucket pmod(key, n); results must stay
    // byte-exact and a bucketized-x-bucketized join must agree with the
    // raw-parquet oracle. (Zero-shuffle SPJ plan shape is proven in
    // BucketedJoinSpec; bucketing never changes results.)
    Q("g11_bucketized_join",
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |WHERE o_totalprice > 150000
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
      "join of two bucketized graft tables stays exact") { (s, d) =>
      setup(s, d)
      // the 2 CTAS + 2 bucketize rewrites are table PREP, not the probe
      s.sql("DROP TABLE IF EXISTS graft.db.cust_bkt")
      s.sql("DROP TABLE IF EXISTS graft.db.ord_bkt")
      Tables.load(s, d, "customer").createOrReplaceTempView("cust_bkt_src")
      Tables.load(s, d, "orders").createOrReplaceTempView("ord_bkt_src")
      s.sql("CREATE TABLE graft.db.cust_bkt AS SELECT * FROM cust_bkt_src")
      s.sql("CREATE TABLE graft.db.ord_bkt AS SELECT * FROM ord_bkt_src")
      val cd = new org.apache.hadoop.fs.Path(
        Paths.get(sys.props("java.io.tmpdir"), "graft_wh", "db",
          "cust_bkt.graft").toUri)
      val od = new org.apache.hadoop.fs.Path(
        Paths.get(sys.props("java.io.tmpdir"), "graft_wh", "db",
          "ord_bkt.graft").toUri)
      graft.ops.Maintenance.bucketize(s, cd, "c_custkey", 8)
      graft.ops.Maintenance.bucketize(s, od, "o_custkey", 8)
      s.table("graft.db.cust_bkt")
        .join(s.table("graft.db.ord_bkt"),
          col("c_custkey") === col("o_custkey"))
        .filter(col("o_totalprice") > 150000)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("c_mktsegment")
    },

    // Persisted scalar (btree/bitmap) index: value-exact fragment
    // pruning for =/IN where overlapping ranges defeat zone maps —
    // the second leg of the reference's automatic index selection
    // (docs/src/performance.md "Index Usage": btree, bitmap, zonemap;
    // LanceFragmentPageSource.java:126 useScalarIndex(true)). The
    // table is written in 4 round-robin fragments so every fragment
    // spans the full custkey range; the index still narrows each key
    // to its one holding fragment, and results stay oracle-exact.
    Q("g12_scalar_index",
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE c_custkey IN (7, 421, 1000)
        |ORDER BY c_custkey""".stripMargin,
      "equality/IN through a persisted scalar index stays exact") { (s, d) =>
      setup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.db.cust_si")
      val cust = Tables.load(s, d, "customer")
      cust.createOrReplaceTempView("cust_si_src")
      // interleave custkeys across 4 appended fragments (mod 4) so
      // every fragment's zone map covers the whole key range
      s.sql("""CREATE TABLE graft.db.cust_si AS
              |SELECT * FROM cust_si_src WHERE c_custkey % 4 = 0""".stripMargin)
      (1 until 4).foreach { i =>
        s.sql(s"""INSERT INTO graft.db.cust_si
                 |SELECT * FROM cust_si_src WHERE c_custkey % 4 = $i""".stripMargin)
      }
      val dir = new org.apache.hadoop.fs.Path(
        Paths.get(sys.props("java.io.tmpdir"), "graft_wh", "db",
          "cust_si.graft").toUri)
      graft.ops.ScalarIndex.build(s, dir, "c_custkey")
      s.table("graft.db.cust_si")
        .filter(col("c_custkey").isin(7L, 421L, 1000L))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // Range probe through the same persisted scalar index: a bounded
    // integral BETWEEN is enumerated into the posting lookups, pruning
    // value-exact where every fragment's zone map spans the whole key
    // range (see GraftScan.rangeEnumerations).
    Q("g14_range_index",
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE c_custkey BETWEEN 701 AND 724
        |ORDER BY c_custkey""".stripMargin,
      "bounded BETWEEN through a persisted scalar index stays exact") { (s, d) =>
      setup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.db.cust_ri")
      val cust = Tables.load(s, d, "customer")
      cust.createOrReplaceTempView("cust_ri_src")
      // interleave custkeys across 4 appended fragments (mod 4) so
      // every fragment's zone map covers the whole key range
      s.sql("""CREATE TABLE graft.db.cust_ri AS
              |SELECT * FROM cust_ri_src WHERE c_custkey % 4 = 0""".stripMargin)
      (1 until 4).foreach { i =>
        s.sql(s"""INSERT INTO graft.db.cust_ri
                 |SELECT * FROM cust_ri_src WHERE c_custkey % 4 = $i""".stripMargin)
      }
      val dir = new org.apache.hadoop.fs.Path(
        Paths.get(sys.props("java.io.tmpdir"), "graft_wh", "db",
          "cust_ri.graft").toUri)
      graft.ops.ScalarIndex.build(s, dir, "c_custkey")
      s.table("graft.db.cust_ri")
        .filter(col("c_custkey") >= 701L && col("c_custkey") <= 724L)
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // Schema evolution (extension; the reference's only schema change
    // is CREATE OR REPLACE): ALTER TABLE ADD COLUMN is a metadata-only
    // Evolve commit — pre-evolution fragments null-fill the new column
    // at read time, post-evolution inserts carry values, and both
    // coexist in one aggregate.
    Q("g13_schema_evolution",
      """SELECT n_regionkey,
        |  count(*) AS n,
        |  count(priority) AS n_scored,
        |  CAST(coalesce(sum(priority), 0) AS BIGINT) AS sum_priority
        |FROM (
        |  SELECT n_regionkey, NULL AS priority FROM nation
        |  UNION ALL
        |  SELECT n_regionkey, CAST(n_nationkey * 10 AS BIGINT) AS priority
        |  FROM nation)
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin,
      "ALTER TABLE ADD COLUMN: old fragments null-fill, new rows carry values") { (s, d) =>
      setup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.db.nat_ev")
      Tables.load(s, d, "nation").createOrReplaceTempView("nat_ev_src")
      s.sql("""CREATE TABLE graft.db.nat_ev AS
              |SELECT n_nationkey, n_name, n_regionkey FROM nat_ev_src""".stripMargin)
      s.sql("ALTER TABLE graft.db.nat_ev ADD COLUMN priority BIGINT")
      s.sql("""INSERT INTO graft.db.nat_ev
              |SELECT n_nationkey, n_name, n_regionkey,
              |  CAST(n_nationkey * 10 AS BIGINT)
              |FROM nat_ev_src""".stripMargin)
      s.table("graft.db.nat_ev")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"),
          count(col("priority")).as("n_scored"),
          coalesce(sum(col("priority")), lit(0L)).as("sum_priority"))
        .orderBy("n_regionkey")
    },

    // MIN/MAX/COUNT(*) answered from manifest zone maps (extends the
    // reference's COUNT(*)-only metadata source): zero data scan.
    Q("g09_stats_minmax",
      """SELECT min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price,
        |  min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
        |  count(*) AS n
        |FROM orders""".stripMargin,
      "min/max/count served by manifest fragment statistics") { (s, d) =>
      setup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.db.ord_mm")
      Tables.load(s, d, "orders").createOrReplaceTempView("ord_mm_src")
      s.sql("CREATE TABLE graft.db.ord_mm AS SELECT * FROM ord_mm_src")
      s.table("graft.db.ord_mm").agg(
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_orderdate")).as("max_date"),
        count(lit(1)).as("n"))
    },

    // Row addresses are unique across the table (fragment-scoped
    // identity, like the reference's $row_address).
    Q("g05_row_address",
      "SELECT count(*) AS n_rows FROM orders",
      "distinct _row_address count == table row count") { (s, d) =>
      setup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.db.ord_addr")
      Tables.load(s, d, "orders").createOrReplaceTempView("ord_addr_src")
      s.sql("CREATE TABLE graft.db.ord_addr AS SELECT * FROM ord_addr_src")
      s.table("graft.db.ord_addr")
        .agg(countDistinct(col("_row_address")).as("n_rows"))
    },

    // Object-store deployment: the ENTIRE table lifecycle — distributed
    // parquet write, fragment adoption, conditional-put manifest CAS,
    // deletion-vector write, merge-on-read scan with ranged GETs — runs
    // over real s3a:// URIs against an in-process S3 REST endpoint
    // (reference analog: the S3/LocalStack conformance leg,
    // TestLanceS3DefaultConnectorTest.java, LanceQueryRunner.java:82-94).
    Q("g17_s3_object_store",
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(c_acctbal), 2) AS bal
        |FROM customer
        |WHERE c_custkey % 3 <> 0
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
      "CTAS + DELETE + aggregate read-back over s3a:// (in-process S3)") { (s, d) =>
      val srv = graft.sources.S3LiteServer.shared
      val hc = s.sparkContext.hadoopConfiguration
      hc.set("fs.s3a.impl", classOf[graft.sources.S3LiteFileSystem].getName)
      hc.set(graft.sources.S3LiteFileSystem.EndpointKey, srv.endpoint)
      s.conf.set("spark.sql.catalog.graft_s3", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_s3.warehouse", "s3a://graft/wh")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_s3.db")
      s.sql("DROP TABLE IF EXISTS graft_s3.db.cust_s3")
      Tables.load(s, d, "customer").createOrReplaceTempView("cust_s3_src")
      s.sql("CREATE TABLE graft_s3.db.cust_s3 AS SELECT * FROM cust_s3_src")
      s.sql("DELETE FROM graft_s3.db.cust_s3 WHERE c_custkey % 3 = 0")
      s.table("graft_s3.db.cust_s3")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal")), 2).as("bal"))
        .orderBy("c_mktsegment")
    }
  )
}
