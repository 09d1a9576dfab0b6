package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** Gate timer: runs each [[SparkEntry]] query to its full answer and
  * prints one JSON line to stdout,
  * `{"metric":"total","value":…,"unit":"sec","queries":{…},"spread":{…},"errs":{…},"sf":"…"}`.
  * Env: `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_BENCH_ONLY=q01,t02` (query-name prefixes to run) and
  * `SPARK_GRAFT_BENCH_CONF="k=v;k=v"` (session confs);
  * `tools/scale_probe.py` and `tools/skew_probe.py` set the last two. */
object Bench {
  private val Repeats = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // generic warm-up, so the first timed query does not absorb the
    // JVM's one-time JIT, classloading and parquet-reader setup
    spark.range(0, 1000000).selectExpr("sum(id)", "count(distinct id % 100)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().collect()
    sys.env.get("SPARK_GRAFT_BENCH_CONF").foreach(_.split(';')
      .filter(_.contains('=')).foreach { kv =>
        val i = kv.indexOf('=')
        spark.conf.set(kv.take(i).trim, kv.drop(i + 1).trim)
      })
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').map(_.trim))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    println(timeAll(spark, sfDir, selected))
    spark.stop()
  }

  /** Runs each query [[Repeats]] times to its full answer through the
    * `noop` sink, which executes the whole physical plan, final sort
    * included (a `.count()` would let Catalyst prune projections,
    * aggregates and sorts). Returns the JSON line: per query the median
    * seconds (`queries`), [min, max] (`spread`) and the first error of
    * a failing run (`errs`); `value` is the sum of the medians. */
  def timeAll(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): String = {
    def r4(v: Double): Double = math.round(v * 10000) / 10000.0
    val results = queries.map { case (name, fn) =>
      val runs = (1 to Repeats).map { _ =>
        val t0 = System.nanoTime()
        val err = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None
        } catch { case NonFatal(t) =>
          Some(s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}".take(160))
        }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      (name, runs.map(_._1).sorted, runs.flatMap(_._2).headOption)
    }
    val mapper = new ObjectMapper()
    val line = mapper.createObjectNode().put("metric", "total")
      .put("value", r4(results.map(_._2(Repeats / 2)).sum)).put("unit", "sec")
    val (qs, spread, errs) =
      (line.putObject("queries"), line.putObject("spread"), line.putObject("errs"))
    results.foreach { case (name, secs, err) =>
      qs.put(name, r4(secs(Repeats / 2)))
      spread.putArray(name).add(r4(secs.head)).add(r4(secs.last))
      err.foreach(errs.put(name, _))
    }
    line.put("sf", sfDir)
    mapper.writeValueAsString(line)
  }
}
