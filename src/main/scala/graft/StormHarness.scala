package graft

import scala.jdk.CollectionConverters._

/** Child-JVM launch/await machinery: the current JVM's own flags and
  * classpath, stdout to a file so a hung child can never block the
  * parent on a pipe. Used by the two-process storm
  * ([[StormAgent]] via `TwoProcessStormSpec` and [[StormBench]]) — one
  * copy, so a launch fix reaches every child. */
object StormHarness {

  final case class AgentHandle(proc: Process, out: java.nio.file.Path)

  /** Start `mainClass` in a fresh JVM with the given extra env. Caller
    * must [[await]] it. */
  def launchJvm(mainClass: String, env: Map[String, String]): AgentHandle = {
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), mainClass)
    val pb = new ProcessBuilder(cmd.asJava)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val outFile = java.nio.file.Files.createTempFile("graft-child-jvm", ".out")
    outFile.toFile.deleteOnExit()
    pb.redirectOutput(outFile.toFile)
    AgentHandle(pb.start(), outFile)
  }

  /** Start a [[StormAgent]] JVM with the given env. Caller must
    * [[await]] it. */
  def launchAgent(env: Map[String, String]): AgentHandle =
    launchJvm("graft.StormAgent", env)

  /** Wait for the agent; kill it on timeout. Returns (exit code — -1 on
    * timeout — and its stdout). */
  def await(h: AgentHandle, timeoutSec: Long): (Int, String) = {
    val finished = h.proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) {
      h.proc.destroyForcibly()
      h.proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
    }
    val out = try java.nio.file.Files.readString(h.out)
    catch { case _: Throwable => "" }
    (if (finished) h.proc.exitValue() else -1, out)
  }

  /** The cross-process typed-conflict protocol, shared by
    * TwoProcessStormSpec and StormBench: pin the current head as a
    * base, wait (up to `waitSec`) for ANOTHER process to advance it —
    * the caller must stay QUIET, so the version that takes base+1 can
    * only be the other process's — then commit at the now-taken
    * version, which must lose typed. Returns Some(exception class
    * simple name) when the forced commit threw, Some("COMMIT_WON")
    * when it unexpectedly succeeded (a protocol violation the caller
    * should fail on), None when the head never moved within the
    * window (nothing to collide with — slow box). */
  def forceCrossProcessConflict(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, waitSec: Long): Option[String] = {
    import graft.format.GraftFormat
    val base = GraftFormat.readLatest(fs, dir).get
    val deadline = System.nanoTime() + waitSec * 1000L * 1000 * 1000
    while (GraftFormat.readLatest(fs, dir).get.version == base.version &&
        System.nanoTime() < deadline) Thread.sleep(30)
    if (GraftFormat.readLatest(fs, dir).get.version == base.version) None
    else Some(
      try {
        GraftFormat.commit(fs, dir, base.copy(
          version = base.version + 1,
          createdAtMs = System.currentTimeMillis(),
          operation = "Append"))
        "COMMIT_WON"
      } catch { case t: Throwable => t.getClass.getSimpleName })
  }

  /** A `key=value` Int from the agent's DONE line (-1 when absent). */
  private def doneField(stdout: String, key: String): Int =
    stdout.linesIterator
      .collectFirst { case l if l.startsWith("STORM_AGENT_DONE") =>
        s"$key=(\\d+)".r.findFirstMatchIn(l)
          .map(_.group(1).toInt).getOrElse(-1) }
      .getOrElse(-1)

  /** The agent's self-reported append count, from its DONE line. */
  def agentAppends(stdout: String): Int = doneField(stdout, "appends")

  /** The agent's self-reported row-level delete count. */
  def agentDeletes(stdout: String): Int = doneField(stdout, "deletes")
}
