package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.ops.VectorIndex.Pq

/** IVF_PQ: product-quantized ANN over a persisted index — the analog
  * of Lance's IVF_PQ vector indexes (docs/src/performance.md). */
class PqIndexSpec extends AnyFunSuite {
  import TestSpark._

  test("pq_adc expression: exact lookup-table walk, codegen == eval") {
    // 2 subspaces; code word [3, 130] -> entries 3 and 256+130
    val table: Seq[Double] = (0 until 512).map(_.toDouble * 0.5)
    val expected = 3 * 0.5 + (256 + 130) * 0.5
    val df = spark.range(1).select(
      VectorFunctions.pq_adc(
        typedlit(Array(3.toByte, 130.toByte)), typedlit(table)).as("d"))
    assert(math.abs(df.head().getDouble(0) - expected) < 1e-9)
    // SQL registration path agrees
    VectorFunctions.register(spark)
    val viaSql = spark.sql(
      s"SELECT pq_adc(X'0382', CAST(array(${table.mkString(",")}) AS ARRAY<DOUBLE>))")
      .head().getDouble(0)
    assert(math.abs(viaSql - expected) < 1e-9)
  }

  test("ivf_pq: 16 bytes per vector, recall vs brute force, staleness") {
    val dir = new Path(tempDir("graft-pq").resolve("e.graft").toUri)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val e = Tables.load(spark, sf, "embeddings")
    graft.connector.GraftWriter.write(fs, dir, e, overwrite = true)
    val v = Pq.build(spark, dir, "vec_id", "embedding")
    val (cents, bks, codes) = Pq.readCurrent(spark, dir, "embedding").get
    assert(cents.count() == 16)
    assert(bks.count() <= 16 * 256)
    assert(codes.count() == e.count(), "every live row is encoded")
    // the compression claim: 16 one-byte codes per 64-dim float vector
    val lens = codes.select(length(col("code"))).distinct().collect().map(_.getInt(0))
    assert(lens.toSeq == Seq(16), s"code word must be 16 bytes, got ${lens.toSeq}")

    // recall of the full query pipeline vs exact brute force
    val bf = SparkEntry.queries("v01_knn_bruteforce")(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SparkEntry.queries("v07_ann_ivfpq")(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.nonEmpty)
    val perQuery = SparkEntry.queries("v07_ann_ivfpq")(spark, sf)
      .groupBy("q_id").count().select("count").distinct().collect().map(_.getLong(0))
    assert(perQuery.toSeq == Seq(5L), "exactly 5 hits per query")
    val recall = (bf intersect ann).size.toDouble / bf.size
    assert(recall > 0.3, s"ivf_pq recall too low: $recall")

    // staleness: any commit hides the index (invisible, not wrong)
    graft.connector.GraftWriter.write(fs, dir,
      e.limit(3).select(col("vec_id") + 500000, col("embedding"), col("label"))
        .toDF("vec_id", "embedding", "label"), overwrite = false)
    assert(Pq.readCurrent(spark, dir, "embedding").isEmpty)
    assert(Pq.build(spark, dir, "vec_id", "embedding") == v + 1)
  }
}
