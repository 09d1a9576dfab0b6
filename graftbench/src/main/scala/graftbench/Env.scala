package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** The catalog warehouse on local disk, as the benchmark sees it from
  * outside graft: directory sizes and the version files a table holds. */
final class Warehouse(val root: Path) {
  val catalog = "g"

  /** `g.ns.t` lives at `<root>/ns/t.graft`. */
  def tableDir(fq: String): Path = {
    val parts = fq.split('.')
    require(parts.length == 3 && parts(0) == catalog, s"not a $catalog table: $fq")
    root.resolve(parts(1)).resolve(parts(2) + ".graft")
  }

  private val VersionFile = """(\d+)\.manifest\.json""".r

  /** Committed versions still on disk, ascending. */
  def versions(fq: String): Seq[Long] = {
    val dir = tableDir(fq).resolve("_versions")
    Using.resource(Files.list(dir))(_.iterator().asScala.toList)
      .map(_.getFileName.toString)
      .collect { case VersionFile(v) => v.toLong }
      .sorted
  }

  def head(fq: String): Long = versions(fq).last

  def bytes(fq: String): Long = Env.treeBytes(tableDir(fq))
}

object Env {
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(f => Files.isRegularFile(f)).map(f => Files.size(f)).sum)

  /** 1-minute load average, or -1 where the platform has none. */
  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Other running JVMs ("java" executables), excluding this one. */
  def otherJvms(): Int = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      p.pid() != self && {
        val cmd = p.info().command()
        cmd.isPresent && {
          val n = Path.of(cmd.get).getFileName.toString
          n == "java" || (n.startsWith("java") && n.drop(4).nonEmpty &&
            n.drop(4).forall(_.isDigit))
        }
      }
    }
  }

  /** Approximate user-row bytes: 8 per number, UTF-8 length per string,
    * 4 per float element. The denominator of write amplification. */
  def rowBytes(values: Any*): Long = values.map {
    case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
    case _: Int | _: Float => 4L
    case _: Long | _: Double => 8L
    case a: Array[Float] => 4L * a.length
    case _ => 8L
  }.sum
}
