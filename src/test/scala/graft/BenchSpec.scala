package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[Bench.timeAll]] times full answers: a query whose final projection
  * throws is reported in `errs`, although a `.count()` of the same
  * DataFrame prunes that column and succeeds. */
class BenchSpec extends AnyFunSuite {
  import TestSpark._

  test("a query whose projection throws lands in errs; the line parses as the probes read it") {
    val boom = udf((id: Long) => {
      if (id >= 0) throw new IllegalStateException("projection evaluated")
      id
    })
    val ok: (SparkSession, String) => DataFrame =
      (s, _) => s.range(0, 20).select((col("id") * 2).as("x")).orderBy(col("x").desc)
    val failing: (SparkSession, String) => DataFrame =
      (s, _) => s.range(0, 20).select(col("id"), boom(col("id")).as("b")).orderBy("id")
    assert(failing(spark, sf).count() == 20, "count() prunes the throwing column")

    val out = Bench.timeAll(spark, sf, Seq("bad" -> failing, "good" -> ok))
    // the same pattern tools/scale_probe.py and tools/skew_probe.py match
    val m = """\{"metric":.*\}""".r.findFirstIn(out)
    assert(m.contains(out), out)
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
    assert(root.get("metric").asText() == "total" && root.get("unit").asText() == "sec")
    assert(root.get("queries").fieldNames().asScala.toSet == Set("bad", "good"))
    assert(root.get("spread").fieldNames().asScala.toSet == Set("bad", "good"))
    assert(root.get("errs").fieldNames().asScala.toSeq == Seq("bad"))
    assert(root.get("errs").get("bad").asText().nonEmpty)
    val total = root.get("queries").elements().asScala.map(_.asDouble()).sum
    assert(math.abs(root.get("value").asDouble() - total) < 1e-3)
    assert(root.get("sf").asText() == sf)
  }
}
