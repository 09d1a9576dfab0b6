package graft

import java.net.URI
import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import graft.format.GraftFormat
import graft.format.GraftFormat.Manifest

/** Object-store commit conformance (reference analog: the S3/LocalStack
  * leg of T/LanceQueryRunner.java:174-193): the manifest CAS must stay
  * correct on filesystems WITHOUT an atomic exclusive CREATE_NEW.
  *
  * Two adversarial stores:
  *  - [[CondPutFs]] — S3-with-conditional-put semantics: create(f, false)
  *    buffers; the object materializes atomically at close(), where a
  *    lost race surfaces as FileAlreadyExistsException. No partial object
  *    is ever visible; rename does not exist.
  *  - [[RacyRenameFs]] — a store whose create(f, false) silently
  *    OVERWRITES (the check-then-act race S3 had before conditional
  *    put), but with HDFS-style atomic rename-no-overwrite. The commit
  *    strategy must route around the broken create via temp + rename.
  *
  * Conformance = under a concurrent commit storm every logical commit
  * lands exactly once, losers get the TYPED CommitConflictException (and
  * retry), the version chain is gapless, and every committed manifest
  * parses — never a partial or overwritten file.
  */
class ObjectStoreCommitSpec extends AnyFunSuite {

  private val schemaJson =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json

  private def newFs(fs: RawLocalFileSystem, scheme: String,
      strategy: String): FileSystem = {
    val conf = new Configuration()
    conf.set(GraftFormat.ExclusiveStrategyKey, strategy)
    fs.initialize(URI.create(s"$scheme:///"), conf)
    fs
  }

  private def tableDir(fs: FileSystem, scheme: String): Path = {
    val local = TestSpark.tempDir(s"graft-$scheme")
    fs.makeQualified(new Path(s"$scheme:" + local.toString, "t.graft"))
  }

  /** `writers` threads each land `commitsEach` commits through
    * commitWithRetry; returns nothing, asserts everything. */
  private def storm(fs: FileSystem, dir: Path,
      writers: Int = 8, commitsEach: Int = 5): Unit = {
    val pool = Executors.newFixedThreadPool(writers)
    try {
      val futures = (1 to writers).map { w =>
        pool.submit(new Callable[Unit] {
          override def call(): Unit =
            (1 to commitsEach).foreach { i =>
              GraftFormat.commitWithRetry(fs, dir) { base =>
                Manifest(
                  version = base.map(_.version + 1).getOrElse(1L),
                  schemaJson = schemaJson,
                  fragments = Seq.empty,
                  maxFragmentId = 0,
                  createdAtMs = System.currentTimeMillis(),
                  operation = if (base.isEmpty) "Create" else "Append",
                  properties = Map("writer" -> w.toString, "seq" -> i.toString))
              }
            }
        })
      }
      futures.foreach(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()

    val total = writers * commitsEach
    val versions = GraftFormat.listVersions(fs, dir)
    assert(versions == (1L to total.toLong),
      s"version chain has gaps or extras: $versions")
    // every manifest parses and its (writer, seq) identity is unique —
    // no commit was lost, duplicated, or overwritten
    val identities = versions.map { v =>
      val m = GraftFormat.readManifest(fs, dir, v)
      assert(m.version == v, s"manifest $v carries version ${m.version}")
      (m.properties("writer"), m.properties("seq"))
    }
    assert(identities.distinct.size == total,
      "a commit landed at two versions (overwrite/duplication)")
    // only committed manifests at the final paths — no temp debris
    val names = fs.listStatus(new Path(dir, "_versions"))
      .map(_.getPath.getName).toSeq
    assert(names.forall(_.endsWith(".manifest.json")),
      s"non-manifest files in _versions: $names")
  }

  private def typedLoss(fs: FileSystem, dir: Path): Unit = {
    val m1 = Manifest(1L, schemaJson, Seq.empty, 0,
      System.currentTimeMillis(), "Create", Map("writer" -> "first"))
    GraftFormat.commit(fs, dir, m1)
    // same version again: typed conflict, and the FIRST write survives
    intercept[GraftFormat.CommitConflictException] {
      GraftFormat.commit(fs, dir,
        m1.copy(properties = Map("writer" -> "second")))
    }
    assert(GraftFormat.readManifest(fs, dir, 1L)
      .properties("writer") == "first",
      "losing commit overwrote the winner")
  }

  test("conditional-put store: storm commits are CAS, losers typed") {
    val fs = newFs(new CondPutFs, "mems3", "conditional")
    typedLoss(fs, tableDir(fs, "mems3"))
    storm(fs, tableDir(fs, "mems3"))
  }

  test("unverified conditional put: strict mode refuses, default warns " +
      "and proceeds") {
    // an S3-shaped store that does NOT advertise the conditional-create
    // capability (stock s3a before Hadoop 3.4.1, or with
    // fs.s3a.create.conditional.enabled off)
    class NoCapFs extends CondPutFs {
      override def hasPathCapability(path: Path, capability: String): Boolean = false
    }
    val strictFs = newFs(new NoCapFs, "mems3", "conditional")
    strictFs.getConf.setBoolean(GraftFormat.StrictExclusiveKey, true)
    val dir = tableDir(strictFs, "mems3")
    val m1 = Manifest(1L, schemaJson, Seq.empty, 0,
      System.currentTimeMillis(), "Create", Map.empty)
    val ex = intercept[IllegalStateException](GraftFormat.commit(strictFs, dir, m1))
    assert(ex.getMessage.contains("conditional"), ex.getMessage)
    // default mode: warns once but commits (capability probes can lag
    // connector reality; availability wins unless the user opts strict)
    val laxFs = newFs(new NoCapFs, "mems3", "conditional")
    val dir2 = tableDir(laxFs, "mems3")
    GraftFormat.commit(laxFs, dir2, m1)
    assert(GraftFormat.listVersions(laxFs, dir2) == Seq(1L))
  }

  test("racy-create store: temp+rename strategy keeps commits CAS") {
    val fs = newFs(new RacyRenameFs, "memhdfs", "rename")
    typedLoss(fs, tableDir(fs, "memhdfs"))
    storm(fs, tableDir(fs, "memhdfs"))
  }

  test("racy-create store would corrupt under the conditional strategy " +
      "(the adversarial FS really is adversarial)") {
    val fs = newFs(new RacyRenameFs, "memhdfs", "conditional")
    val dir = tableDir(fs, "memhdfs")
    val m1 = Manifest(1L, schemaJson, Seq.empty, 0,
      System.currentTimeMillis(), "Create", Map("writer" -> "first"))
    GraftFormat.commit(fs, dir, m1)
    // bypass the exists() short-circuit the way a true concurrent racer
    // does (both pass the check before either writes): create directly
    val p = new Path(new Path(dir, "_versions"), "1.manifest.json")
    val out = fs.create(p, false)
    try out.write("{\"broken\":".getBytes("UTF-8")) finally out.close()
    // the broken create really did overwrite the committed manifest
    intercept[Exception](GraftFormat.readManifest(fs, dir, 1L))
  }
}

/** S3-with-conditional-put semantics over a local directory: no atomic
  * CREATE_NEW; create(f, overwrite=false) buffers in memory and the
  * object materializes atomically at close(), throwing
  * FileAlreadyExistsException on a lost race. rename is unsupported,
  * like an object store. */
class CondPutFs extends RawLocalFileSystem {
  override def getScheme: String = "mems3"
  override def getUri: URI = URI.create("mems3:///")

  // both create overloads route here — RawLocalFileSystem dispatches
  // FileSystem.create(Path, boolean) through the non-permission variant
  private def condCreate(f: Path): FSDataOutputStream = {
    val buf = new java.io.ByteArrayOutputStream()
    new FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit = buf.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        buf.write(b, off, len)
      override def close(): Unit = CondPutFs.lock.synchronized {
        val local = java.nio.file.Paths.get(f.toUri.getPath)
        if (java.nio.file.Files.exists(local))
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"conditional put lost: $f")
        java.nio.file.Files.createDirectories(local.getParent)
        // content-atomic materialization, like a completed S3 put
        val tmp = local.resolveSibling(
          s".${local.getFileName}.${java.util.UUID.randomUUID()}.tmp")
        java.nio.file.Files.write(tmp, buf.toByteArray)
        java.nio.file.Files.move(tmp, local,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }, null)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    if (overwrite)
      super.create(f, permission, true, bufferSize, replication,
        blockSize, progress)
    else condCreate(f)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    if (overwrite)
      super.create(f, true, bufferSize, replication, blockSize, progress)
    else condCreate(f)

  override def rename(src: Path, dst: Path): Boolean =
    throw new UnsupportedOperationException("object store: no rename")

  // a store with TRUE conditional put advertises it (hadoop-aws >= 3.4.1
  // with fs.s3a.create.conditional.enabled does the same)
  override def hasPathCapability(path: Path, capability: String): Boolean =
    capability == "fs.capability.conditional.create" ||
      super.hasPathCapability(path, capability)
}

object CondPutFs {
  val lock = new Object
}

/** A store whose create(f, overwrite=false) silently OVERWRITES — the
  * pre-conditional-put S3 race — but whose rename is atomic
  * no-overwrite (HDFS namenode semantics, emulated with a lock). */
class RacyRenameFs extends RawLocalFileSystem {
  override def getScheme: String = "memhdfs"
  override def getUri: URI = URI.create("memhdfs:///")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    super.create(f, permission, true, bufferSize, replication, blockSize,
      progress)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    super.create(f, true, bufferSize, replication, blockSize, progress)

  override def rename(src: Path, dst: Path): Boolean =
    RacyRenameFs.lock.synchronized {
      if (exists(dst)) false else super.rename(src, dst)
    }
}

object RacyRenameFs {
  val lock = new Object
}
