package graft.connector

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** The Hadoop conf that executor-side readers, writers and task closures
  * use, shipped once per distinct content instead of inside every task.
  *
  * A session conf holds ~1,100 entries and serializes to ~113 KB
  * (`Configuration.write` gzips each entry's source list). Captured in a
  * closure or a reader/writer factory, it is written into every stage's
  * task binary and read back by every task. A broadcast is fetched once
  * per executor, and a task deserializes only its small handle.
  *
  * One broadcast serves every call whose conf has the same entries: the
  * key is the full entry set, compared entry by entry. At most 32 confs
  * are kept, least recently used first out; an evicted broadcast is
  * cleaned by Spark's ContextCleaner once no plan holds it. The first
  * call under a new SparkContext, or after its owner stopped, drops
  * every entry.
  *
  * Executor code only READS the shared conf: every task of an executor
  * sees the same object. `TaskAttemptContextImpl` copies it into a
  * `JobConf` before the parquet writer sets its keys, and
  * `FragmentStats.readFooter` and `GraftFormat.readDeletionFileAbs` only
  * read it. The broadcast holds a copy, so a caller may go on changing
  * its own conf. */
object SharedConf {
  private val MaxEntries = 32

  private var owner: SparkContext = null
  private val cache = new java.util.LinkedHashMap[Map[String, String],
      Broadcast[SerializableConfiguration]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Map[String, String],
        Broadcast[SerializableConfiguration]]): Boolean = size() > MaxEntries
  }

  def broadcast(sc: SparkContext, conf: Configuration)
      : Broadcast[SerializableConfiguration] = {
    val key = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    synchronized {
      if ((owner ne sc) || owner.isStopped) { cache.clear(); owner = sc }
      var b = cache.get(key)
      if (b == null) {
        b = sc.broadcast(new SerializableConfiguration(new Configuration(conf)))
        cache.put(key, b)
      }
      b
    }
  }
}
