package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.TextOps
import graft.ops.{MinhashStore, VectorIndex}

final case class Doc(doc_id: Long, text: String)
final case class Vec(id: Long, cat: Int, emb: Array[Float])

/** Seeded corpus and embeddings. Documents are random pseudo-word text;
  * planted near-duplicates are copies of an earlier document with a few
  * words replaced. Embeddings are points around seeded cluster centers. */
object LlmGen {
  val Vocab = 6000
  val Dim = 64
  val Clusters = 24
  val Cats = 8

  def doc(seed: Long, id: Long): String = {
    val r = Gen.rng(seed, "doc", id)
    (0 until r.between(40, 90)).map(_ => Gen.word(Gen.skewedWord(r, Vocab))).mkString(" ")
  }

  /** `src` with `edits` words replaced at seeded positions. */
  def nearDup(seed: Long, id: Long, src: String, edits: Int): String = {
    val r = Gen.rng(seed, "dup", id)
    val ws = src.split(' ')
    (0 until edits).foreach(_ => ws(r.nextInt(ws.length)) = Gen.word(r.nextInt(Vocab)))
    ws.mkString(" ")
  }

  private def center(seed: Long, c: Int): Array[Double] = {
    val r = Gen.rng(seed, "center", c)
    val v = Array.fill(Dim)(r.gaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def vec(seed: Long, id: Long): Vec = {
    val r = Gen.rng(seed, "vec", id)
    val c = center(seed, r.nextInt(Clusters))
    Vec(id, java.lang.Math.floorMod(Gen.mix(seed ^ id), Cats.toLong).toInt,
      c.map(x => (x + 0.08 * r.gaussian()).toFloat))
  }

  /** graft's near-dup shingles: distinct 3-word windows of the lower-cased
    * whitespace tokens, or the whole text when it has fewer than 3. */
  def shingles(text: String): Set[String] = {
    val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (t.length < 3) Set(t.mkString(" ")) else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    Stats.ratio((a & b).size, (a | b).size)
}

/** llm_ops: ANN top-10 queries through the SQL rewrite (cosine and L2, some
  * behind a filter) interleaved with ingest rounds that append documents,
  * run one indexed near-duplicate round, fold the survivors into the
  * MinhashStore, append vectors and refresh the IVF index. Many small
  * Spark jobs per op, so driver orchestration and shuffle dominate. */
final class LlmOps(spark: SparkSession, seed: Long, staging: String, wh: Warehouse,
    ctx: Ctx) extends Workload {
  import LlmGen._
  val name = "llm_ops"
  val baseDocs = 1000L
  val baseVecs = 10000L
  val deltaDocs = 150
  val plantedPerRound = 15
  val deltaVecs = 300
  /** Minimum mean recall@10 over a run, and minimum share of planted
    * near-duplicates flagged. */
  val RecallFloor = 0.9
  val DedupFloor = 0.9
  /** Every reported pair must be at least this similar by exact Jaccard
    * (the dedup threshold 0.5 minus the MinHash estimate's error). */
  val PairJaccardFloor = 0.3

  private var ns = ""
  private var cycleNo = 0
  private var roundNo = 0
  private var queryNo = 0L
  private def D = s"g.$ns.docs"
  private def V = s"g.$ns.vecs"
  private def store = wh.root.getParent.resolve("minhash").resolve(ns).toUri.toString

  // the model: every document's text, the ids the store indexes, vectors
  private val texts = mutable.Map[Long, String]()
  private val indexed = ArrayBuffer[Long]()
  private var nextDoc = baseDocs
  private var vecs = new Array[Float](0)
  private var vecCat = new Array[Int](0)
  private var nVecs = 0L
  private val recalls = ArrayBuffer[Double]()
  private var planted, flagged = 0
  private var annQueries, annProbed, unfilteredNotProbed = 0

  def sizes = Seq("base_docs" -> baseDocs, "base_vectors" -> baseVecs, "dim" -> Dim,
    "delta_docs" -> deltaDocs, "planted_per_round" -> plantedPerRound,
    "delta_vectors" -> deltaVecs)
  def tables = Seq(D, V)

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("id", LongType),
    StructField("cat", IntegerType), StructField("emb", ArrayType(FloatType))))

  def stage(): Unit = {
    import spark.implicits._
    val s = seed
    spark.range(0, baseDocs, 1, 2).as[Long].map(i => Doc(i, LlmGen.doc(s, i)))
      .write.parquet(s"$staging/docs")
    spark.range(0, baseVecs, 1, 4).as[Long].map(i => LlmGen.vec(s, i))
      .write.parquet(s"$staging/vecs")
  }

  private def resetModel(): Unit = {
    texts.clear(); indexed.clear()
    (0L until baseDocs).foreach { i => texts(i) = doc(seed, i); indexed += i }
    nextDoc = baseDocs
    vecs = new Array[Float]((baseVecs * Dim).toInt)
    vecCat = new Array[Int](baseVecs.toInt)
    nVecs = 0
    (0L until baseVecs).foreach(i => addVec(vec(seed, i)))
    roundNo = 0
    recalls.clear(); planted = 0; flagged = 0
    annQueries = 0; annProbed = 0; unfilteredNotProbed = 0
  }

  private def addVec(v: Vec): Unit = {
    if ((nVecs + 1) * Dim > vecs.length) {
      vecs = java.util.Arrays.copyOf(vecs, vecs.length * 2)
      vecCat = java.util.Arrays.copyOf(vecCat, vecCat.length * 2)
    }
    System.arraycopy(v.emb, 0, vecs, (v.id * Dim).toInt, Dim)
    vecCat(v.id.toInt) = v.cat
    nVecs = math.max(nVecs, v.id + 1)
  }

  def setup(namespace: String): Unit = {
    ns = namespace
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS g.$ns")
    step("load_docs")(spark.sql(s"CREATE TABLE $D AS SELECT * FROM parquet.`$staging/docs`"))
    step("minhash_build")(MinhashStore.build(TextOps.minhashIndex(spark.table(D)), store))
    step("load_vectors")(spark.sql(s"CREATE TABLE $V AS SELECT * FROM parquet.`$staging/vecs`"))
    step("ivf_build")(VectorIndex.Ivf.build(spark, new HPath(wh.tableDir(V).toUri), "id", "emb"))
    // first query against the fresh index
    step("first_reads")({ val o = ann("cos", false); o.prepare(); o.run() })
  }

  /** Every query shape. An ingest round is left out: it costs as much as
    * the timed loop, so the loop's round is the first in the JVM. */
  def warmup(): Unit = Seq(ann("cos", false), ann("l2", false), ann("cos", true),
    ann("l2", true)).foreach { o => o.prepare(); o.run() }

  /** The model is rebuilt before each set-up, outside its timing. */
  override def beforeSetup(): Unit = resetModel()

  /** A query near a stored vector, or (every other draw) at the midpoint
    * of two stored vectors, which usually sit in different clusters and
    * so ask the index to probe more than one list. */
  private def qvec(r: Gen.Rng): Array[Double] = {
    val a = r.nextInt(nVecs.toInt)
    val b = if (r.nextInt(2) == 0) a else r.nextInt(nVecs.toInt)
    Array.tabulate(Dim)(j => math.round(((vecs(a * Dim + j) + vecs(b * Dim + j)) / 2 +
      0.05 * r.gaussian()) * 1e4) / 1e4)
  }

  private def score(metric: String, q: Array[Double], id: Int): Double = {
    var dot, na, nb, l2 = 0.0
    var j = 0
    while (j < Dim) {
      val x = vecs(id * Dim + j).toDouble; val y = q(j)
      dot += x * y; na += x * x; nb += y * y; l2 += (x - y) * (x - y); j += 1
    }
    if (metric == "cos") dot / (math.sqrt(na) * math.sqrt(nb)) else l2
  }

  private def ann(metric: String, filtered: Boolean): Op =
    new Op(s"ann_$metric${if (filtered) "_filtered" else ""}", true) {
      var q = Array.empty[Double]
      var qe: org.apache.spark.sql.execution.QueryExecution = _
      override def prepare(): Unit = { queryNo += 1; q = qvec(Gen.rng(seed, "query", queryNo)) }
      def run(): Array[Row] = {
        val lit = q.map(x => s"${x}D").mkString("array(", ", ", ")")
        val (fn, dir) = if (metric == "cos") ("cosine_sim", "DESC") else ("l2_sq", "ASC")
        val rows = ctx.sql(s"SELECT id, $fn(emb, $lit) AS score FROM $V " +
          (if (filtered) "WHERE cat < 6 " else "") + s"ORDER BY score $dir LIMIT 10")
        qe = ctx.lastQe
        rows
      }
      def check(out: Array[Row]): Option[String] = {
        annQueries += 1
        val probed = PlanSignals.probesIndex(qe)
        if (probed) annProbed += 1 else if (!filtered) unfilteredNotProbed += 1
        val sign = if (metric == "cos") -1.0 else 1.0
        val ok = (0 until nVecs.toInt).filter(i => !filtered || vecCat(i) < 6)
        val exact = ok.map(i => (sign * score(metric, q, i), i)).sorted.take(10)
        val ids = out.map(_.getLong(0).toInt)
        val bad = out.find { r =>
          val id = r.getLong(0).toInt
          id < 0 || id >= nVecs || (filtered && vecCat(id) >= 6) ||
            !ReadMix.same(r.getDouble(1), score(metric, q, id))
        }
        val sorted = out.map(r => sign * r.getDouble(1)).sliding(2)
          .forall(p => p.length < 2 || p(0) <= p(1) + 1e-12)
        val kth = exact.last._1
        val recall = ids.count(i => sign * score(metric, q, i) <= kth + 1e-12) / 10.0
        recalls += recall
        if (out.length != 10) Some(s"$kind returned ${out.length} rows")
        else if (ids.distinct.length != 10) Some(s"$kind returned duplicate ids")
        else if (bad.isDefined) Some(s"$kind returned a wrong row ${bad.get}")
        else if (!sorted) Some(s"$kind answer is not ordered")
        else if (recall < 0.5) Some(f"$kind recall@10 $recall%.2f below 0.5")
        else None
      }
    }

  private def insertDocs(): Op = new Op("ingest_docs", false) {
    var rows = Seq.empty[Doc]
    override def prepare(): Unit = {
      val r = Gen.rng(seed, "round", roundNo)
      val lo = nextDoc
      rows = (0 until deltaDocs).map { i =>
        val id = lo + i
        if (i < plantedPerRound) {
          val src = indexed(r.nextInt(indexed.size))
          Doc(id, nearDup(seed, id, texts(src), 3))
        } else Doc(id, doc(seed, id))
      }
      ctx.view("src_docs", docSchema, rows.map(d => Row(d.doc_id, d.text)))
    }
    def run(): Array[Row] = ctx.sql(s"INSERT INTO $D SELECT * FROM src_docs")
    def check(out: Array[Row]): Option[String] = {
      rows.foreach(d => texts(d.doc_id) = d.text)
      nextDoc += deltaDocs
      None
    }
    override def ingestBytes: Long = rows.map(d => Env.rowBytes(d.doc_id, d.text)).sum
  }

  private def dedupRound(): Op = new Op("dedup_round", false) {
    var lo = 0L
    override def prepare(): Unit = lo = nextDoc - deltaDocs
    def run(): Array[Row] = {
      val delta = spark.table(D).where(s"doc_id >= $lo AND doc_id < ${lo + deltaDocs}")
      val round = ctx.call("ops.dedup_round")(TextOps.incrementalDedupRoundIndexed(delta, store))
      val dups = ctx.call("ops.dedup_round")(ctx.collect(round.dups))
      ctx.call("ops.minhash_append")(
        MinhashStore.append(TextOps.minhashIndex(round.survivors), store))
      dups
    }
    def check(out: Array[Row]): Option[String] = {
      val hi = lo + deltaDocs
      val flaggedIds = out.map(_.getLong(0)).toSet
      val wrong = out.find { r =>
        val (d, of) = (r.getLong(0), r.getLong(1))
        d < lo || d >= hi || !texts.contains(of) ||
          jaccard(shingles(texts(d)), shingles(texts(of))) < PairJaccardFloor
      }
      val plantedIds = (lo until lo + plantedPerRound).toSet
      planted += plantedIds.size
      flagged += (plantedIds & flaggedIds).size
      indexed ++= (lo until hi).filterNot(flaggedIds)
      roundNo += 1
      if (flaggedIds.size != out.length) Some("dedup_round flagged a document twice")
      else wrong.map(r => s"dedup_round reported a dissimilar pair $r")
    }
  }

  private def insertVecs(): Op = new Op("ingest_vectors", false) {
    var rows = Seq.empty[Vec]
    override def prepare(): Unit = {
      rows = (0 until deltaVecs).map(i => vec(seed, nVecs + i))
      ctx.view("src_vecs", vecSchema, rows.map(v => Row(v.id, v.cat, v.emb.toSeq)))
    }
    def run(): Array[Row] = ctx.sql(s"INSERT INTO $V SELECT * FROM src_vecs")
    def check(out: Array[Row]): Option[String] = { rows.foreach(addVec); None }
    override def ingestBytes: Long = rows.map(v => Env.rowBytes(v.id, v.cat, v.emb)).sum
  }

  private def refresh(): Op = Op("ivf_refresh", false)(
    Array(Row(ctx.call("ops.ivf_refresh")(
      VectorIndex.Ivf.refresh(spark, new HPath(wh.tableDir(V).toUri), "id", "emb")))))(
    out => {
      val head = wh.head(V)
      if (out.head.getLong(0) != head) Some(s"ivf_refresh indexed v${out.head.getLong(0)}, head is v$head")
      else None
    })

  /** Eight ANN queries (three of them filtered), then one ingest round. */
  def cycle(): Seq[Op] = {
    val r = Gen.rng(seed, "cycle", cycleNo)
    cycleNo += 1
    val queries = Seq(ann("cos", false), ann("cos", false), ann("cos", false),
      ann("l2", false), ann("l2", false), ann("cos", true), ann("cos", true), ann("l2", true))
    queries.map(o => (r.nextLong(), o)).sortBy(_._1).map(_._2) ++
      Seq(insertDocs(), dedupRound(), insertVecs(), refresh())
  }

  override def quality = Seq(
    ("ann_recall_at_10", if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size, recalls.size),
    ("dedup_recall", Stats.ratio(flagged, planted), planted))

  override def qualityFailure: Option[String] = {
    val r = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    if (r < RecallFloor) Some(f"mean ANN recall@10 $r%.3f is below $RecallFloor")
    else if (planted > 0 && flagged.toDouble / planted < DedupFloor)
      Some(s"dedup flagged $flagged of $planted planted near-duplicates, below $DedupFloor")
    else None
  }

  override def annIndexUse: (Int, Int) = (annQueries, annProbed)

  override def report = Seq("ann_queries" -> annQueries, "ann_probed" -> annProbed,
    "ann_unfiltered_not_probed" -> unfilteredNotProbed, "planted" -> planted,
    "planted_flagged" -> flagged, "rounds" -> roundNo)
}
