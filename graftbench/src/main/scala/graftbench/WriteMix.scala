package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

final case class KvRow(k: Long, grp: Int, amount: Long, tag: Long, note: String)

object KvGen {
  val Groups = 64
  def grp(seed: Long, k: Long): Int = java.lang.Math.floorMod(Gen.mix(seed ^ k), Groups.toLong).toInt
  def note(r: Gen.Rng): String = (0 until 3).map(_ => Gen.word(r.nextInt(5000))).mkString("-")
  def row(seed: Long, k: Long): KvRow = {
    val r = Gen.rng(seed, "kv", k)
    KvRow(k, grp(seed, k), r.nextInt(1000000).toLong, 0L, note(r))
  }
  val schema = StructType(Seq(StructField("k", LongType), StructField("grp", IntegerType),
    StructField("amount", LongType), StructField("tag", LongType),
    StructField("note", StringType)))
  def bytes(r: KvRow): Long = Env.rowBytes(r.k, r.grp, r.amount, r.tag, r.note)
}

/** The benchmark's own model of the keyed table: which keys are live,
  * their amount and tag, and per-group totals for every committed version. */
final class KvModel(seed: Long) {
  private var amount = new Array[Long](1 << 16)
  private var tag = new Array[Long](1 << 16)
  val live = new java.util.BitSet()
  var nextKey = 0L
  /** Per group: count, sum(k), sum(amount), sum(tag). */
  val agg = Array.ofDim[Long](KvGen.Groups, 4)

  private def ensure(k: Long): Unit = while (k >= amount.length) {
    amount = java.util.Arrays.copyOf(amount, amount.length * 2)
    tag = java.util.Arrays.copyOf(tag, tag.length * 2)
  }
  private def add(k: Long, sign: Int): Unit = {
    val g = agg(KvGen.grp(seed, k))
    g(0) += sign; g(1) += sign * k; g(2) += sign * amount(k.toInt); g(3) += sign * tag(k.toInt)
  }
  def upsert(k: Long, amt: Long, tg: Long): Unit = {
    ensure(k)
    if (live.get(k.toInt)) add(k, -1)
    amount(k.toInt) = amt; tag(k.toInt) = tg
    live.set(k.toInt); add(k, 1)
    nextKey = math.max(nextKey, k + 1)
  }
  def delete(k: Long): Unit = if (live.get(k.toInt)) { add(k, -1); live.clear(k.toInt) }
  def isLive(k: Long): Boolean = k >= 0 && live.get(k.toInt)
  def amountOf(k: Long): Long = amount(k.toInt)
  def tagOf(k: Long): Long = tag(k.toInt)
  def liveIn(a: Long, b: Long): Seq[Long] = (a until b).filter(isLive)
  def aggRows(a: Array[Array[Long]] = agg): Seq[Seq[Any]] =
    a.indices.filter(g => a(g)(0) > 0).map(g => Seq(g, a(g)(0), a(g)(1), a(g)(2), a(g)(3)))
  def snapshot(): Array[Array[Long]] = agg.map(_.clone())

  def copy(): KvModel = {
    val c = new KvModel(seed)
    c.amount = amount.clone(); c.tag = tag.clone(); c.live.or(live)
    c.nextKey = nextKey
    agg.indices.foreach(g => Array.copy(agg(g), 0, c.agg(g), 0, 4))
    c
  }
}

/** write_mix: a keyed table under a stream of small appends, deletes,
  * updates and merges, with periodic compaction and vacuum, interleaved
  * with head and time-travel reads. Every commit invalidates the cached
  * manifest and the version count grows, so commit, deletion-vector and
  * maintenance paths dominate. */
final class WriteMix(spark: SparkSession, seed: Long, staging: String, wh: Warehouse,
    ctx: Ctx) extends Workload {
  val name = "write_mix"
  val initialRows = 200000L
  val batch = 100
  val compactMinRows = 20000L
  val keepVersions = 8
  private[graftbench] val base = new KvModel(seed)
  private var m = base
  /** Per-group totals for each version the loop committed. */
  private val snapshots = mutable.Map[Long, Array[Array[Long]]]()
  private var ns = ""
  private var cycleNo = 0
  private var opNo = 0L
  private def T = s"g.$ns.kv"

  def sizes = Seq("initial_rows" -> initialRows, "batch_rows" -> batch,
    "compact_min_rows" -> compactMinRows, "keep_versions" -> keepVersions)
  def tables = Seq(T)

  def stage(): Unit = {
    import spark.implicits._
    val s = seed
    spark.range(0, initialRows, 1, 4).as[Long].map(k => KvGen.row(s, k))
      .write.parquet(s"$staging/kv")
    (0L until initialRows).foreach { k => base.upsert(k, KvGen.row(seed, k).amount, 0L) }
  }

  override def beforeSetup(): Unit = { m = base.copy(); snapshots.clear() }

  def setup(namespace: String): Unit = {
    ns = namespace
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS g.$ns")
    step("load")(spark.sql(s"CREATE TABLE $T AS SELECT * FROM parquet.`$staging/kv`"))
    committed()
    // first read of the fresh table
    step("first_reads")({ val o = rangeRead(); o.prepare(); o.run() })
  }

  /** Reads only: writes would move the table away from the model. */
  def warmup(): Unit = Seq(rangeRead(), aggRead(), timeTravel())
    .foreach { o => o.prepare(); o.run() }

  private def committed(): Option[String] = {
    snapshots(wh.head(T)) = m.snapshot()
    None
  }

  private def view(name: String, rows: Seq[KvRow]): Unit =
    ctx.view(name, KvGen.schema, rows.map(r => Row(r.k, r.grp, r.amount, r.tag, r.note)))

  private def nextRng(): Gen.Rng = { opNo += 1; Gen.rng(seed, "op", opNo) }

  /** A key range of `len` keys holding at least one live key. */
  private def liveRange(r: Gen.Rng, len: Int): Long = {
    var a = 0L
    var tries = 0
    do { a = java.lang.Math.floorMod(r.nextLong(), math.max(1L, m.nextKey - len)); tries += 1 }
    while (m.liveIn(a, a + len).isEmpty && tries < 50)
    a
  }

  private def insert(): Op = new Op("insert", false) {
    var rows = Seq.empty[KvRow]
    override def prepare(): Unit = {
      val r = nextRng()
      rows = (0 until batch).map { i =>
        val k = m.nextKey + i
        KvRow(k, KvGen.grp(seed, k), r.nextInt(1000000).toLong, 0L, KvGen.note(r))
      }
      view("src_insert", rows)
    }
    def run(): Array[Row] = ctx.sql(s"INSERT INTO $T SELECT * FROM src_insert")
    def check(out: Array[Row]): Option[String] = {
      rows.foreach(x => m.upsert(x.k, x.amount, 0L))
      committed()
    }
    override def ingestBytes: Long = rows.map(KvGen.bytes).sum
  }

  private def delete(): Op = new Op("delete", false) {
    var a = 0L
    override def prepare(): Unit = a = liveRange(nextRng(), 200)
    def run(): Array[Row] = ctx.sql(s"DELETE FROM $T WHERE k >= $a AND k < ${a + 200}")
    def check(out: Array[Row]): Option[String] = {
      (a until a + 200).foreach(m.delete)
      committed()
    }
  }

  private def update(): Op = new Op("update", false) {
    var a = 0L
    var d = 0L
    var hit = Seq.empty[Long]
    override def prepare(): Unit = {
      val r = nextRng()
      a = liveRange(r, 100); d = 1 + r.nextInt(1000)
      hit = m.liveIn(a, a + 100)
    }
    def run(): Array[Row] = ctx.sql(
      s"UPDATE $T SET amount = amount + $d, tag = tag + 1 WHERE k >= $a AND k < ${a + 100}")
    def check(out: Array[Row]): Option[String] = {
      hit.foreach(k => m.upsert(k, m.amountOf(k) + d, m.tagOf(k) + 1))
      committed()
    }
    // the user supplies two new BIGINT values per matched row
    override def ingestBytes: Long = hit.size * 16L
  }

  private def merge(): Op = new Op("merge", false) {
    var rows = Seq.empty[KvRow]
    override def prepare(): Unit = {
      val r = nextRng()
      val old = Iterator.continually(java.lang.Math.floorMod(r.nextLong(), m.nextKey))
        .filter(m.isLive).take(60).toSeq.distinct
      val fresh = (0 until batch - old.size).map(i => m.nextKey + i)
      rows = (old ++ fresh).map(k => KvRow(k, KvGen.grp(seed, k), r.nextInt(1000000).toLong,
        0L, KvGen.note(r)))
      view("src_merge", rows)
    }
    def run(): Array[Row] = ctx.sql(
      s"""MERGE INTO $T t USING src_merge s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET amount = s.amount, tag = t.tag + 1
         |WHEN NOT MATCHED THEN INSERT (k, grp, amount, tag, note)
         |VALUES (s.k, s.grp, s.amount, 0, s.note)""".stripMargin)
    def check(out: Array[Row]): Option[String] = {
      rows.foreach { x =>
        m.upsert(x.k, x.amount, if (m.isLive(x.k)) m.tagOf(x.k) + 1 else 0L)
      }
      committed()
    }
    override def ingestBytes: Long = rows.map(KvGen.bytes).sum
  }

  private def rangeRead(): Op = new Op("range_read", true) {
    var a = 0L
    override def prepare(): Unit = a = liveRange(nextRng(), 50)
    def run(): Array[Row] =
      ctx.sql(s"SELECT k, amount, tag FROM $T WHERE k >= $a AND k < ${a + 50} ORDER BY k")
    def check(out: Array[Row]): Option[String] = ReadMix.sameRows(kind, out,
      m.liveIn(a, a + 50).map(k => Seq(k, m.amountOf(k), m.tagOf(k))))
  }

  private def aggSql(asOf: String) =
    s"""SELECT grp, count(*) AS n, sum(k) AS sk, sum(amount) AS sa, sum(tag) AS st
       |FROM $T $asOf GROUP BY grp ORDER BY grp""".stripMargin

  private def aggRead(): Op = Op("agg_read", true)(ctx.sql(aggSql("")))(
    out => ReadMix.sameRows("agg_read", out, m.aggRows()))

  private def timeTravel(): Op = new Op("time_travel", true) {
    var v = 0L
    override def prepare(): Unit = {
      val onDisk = wh.versions(T).filter(snapshots.contains)
      v = onDisk(nextRng().nextInt(onDisk.size))
    }
    def run(): Array[Row] = ctx.sql(aggSql(s"VERSION AS OF $v"))
    def check(out: Array[Row]): Option[String] =
      ReadMix.sameRows(s"time_travel@$v", out, m.aggRows(snapshots(v)))
  }

  private def maintenance(proc: String, args: String): Op = new Op(proc, false) {
    def run(): Array[Row] = ctx.call(s"ops.$proc")(
      ctx.sql(s"CALL g.system.$proc(`table` => '$ns.kv', $args)"))
    def check(out: Array[Row]): Option[String] =
      if (out.length != 1) Some(s"$proc returned ${out.length} rows") else committed()
  }

  /** 16 seeded ops, then compaction and vacuum. */
  def cycle(): Seq[Op] = {
    val r = Gen.rng(seed, "cycle", cycleNo)
    cycleNo += 1
    val ops: Seq[() => Op] = Seq.fill(7)(() => insert()) ++
      Seq(() => delete(), () => update(), () => merge()) ++
      Seq.fill(4)(() => rangeRead()) ++ Seq(() => aggRead(), () => timeTravel())
    ops.map(o => (r.nextLong(), o)).sortBy(_._1).map(_._2()) ++ Seq(
      maintenance("compact", s"min_rows => $compactMinRows"),
      maintenance("vacuum", s"keep_versions => $keepVersions"))
  }
}
