package graft.catalog

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.connector.GraftTable
import graft.format.GraftFormat
import graft.format.GraftFormat.Manifest

/** REST namespace backend (SURVEY.md S8): table NAMES and LOCATIONS are
  * resolved by an external namespace service; table DATA stays on any
  * Hadoop-FS store. Mirrors the reference's `lance.impl=rest` deployment
  * (LanceConfig.java:43-65, BaseLanceRestConnectorTest) where the
  * connector speaks the lance-namespace REST protocol and reads data
  * directly from the returned locations.
  *
  *   spark.sql.catalog.graft            = graft.catalog.GraftRestCatalog
  *   spark.sql.catalog.graft.uri        = http://namespace-service
  *   spark.sql.catalog.graft.warehouse  = s3a://bucket/warehouse  (new-table data)
  *
  * Protocol (modeled on the public lance-namespace REST surface):
  *   GET    /v1/namespaces                     -> {"namespaces":[...]}
  *   POST   /v1/namespaces        {"name":ns}  -> 200 | 409
  *   DELETE /v1/namespaces/<ns>                -> 200 | 404 | 409(not empty)
  *   GET    /v1/namespaces/<ns>/tables         -> {"tables":[...]}
  *   GET    /v1/namespaces/<ns>/tables/<t>     -> {"location": uri} | 404
  *   POST   /v1/namespaces/<ns>/tables/<t> {"location":uri} -> 200 | 409
  *   DELETE /v1/namespaces/<ns>/tables/<t>     -> 200 | 404   (deregister)
  *
  * Scale/HA notes: the service holds only O(tables) name->location rows;
  * every data and manifest byte moves through Hadoop FS, so the REST
  * hop is one metadata round-trip per table resolution, never on the
  * per-task path (executors get absolute file paths in their splits).
  * Namespaces may be multi-level: levels are joined with the
  * reference's `$` delimiter on the wire (LanceConfig.java:79
  * "hive$catalog" with-parent modes), and the hierarchy is a
  * client-side view over the service's flat name set.
  */
class GraftRestCatalog extends TableCatalog with SupportsNamespaces
  with StagingTableCatalog with ProcedureCatalog {

  // SQL maintenance surface: table names resolve via DescribeTable
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident, { dotted =>
      val parts = dotted.split('.')
      require(parts.length >= 2, s"expected <namespace>.<table>, got '$dotted'")
      val id = Identifier.of(parts.init, parts.last)
      // DescribeTable vends the table's location AND its scoped storage
      // credentials — maintenance must run under the same identity as
      // scans/writes, not the bare session conf
      val (dir, vended) = describeTable(id)
        .getOrElse(throw new NoSuchTableException(id))
      (dir, tableConf(vended))
    })

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  private var catalogName: String = _
  private var warehouse: Path = _
  private var storageOptions: Map[String, String] = Map.empty
  private var client: NamespaceClient = _
  // Reference namespace-mount modes (LanceConfig.java:69-106):
  //   parent = "pfx" or "pfx$path" roots every visible namespace under
  //     that service prefix (`lance.parent`, '$'-delimited);
  //   single_level_ns = true exposes ONE virtual namespace `default`
  //     whose tables live at the parent key itself — CREATE/DROP
  //     NAMESPACE are disallowed (`lance.single_level_ns`).
  private var parentLevels: Seq[String] = Nil
  private var singleLevel: Boolean = false
  @transient private var hadoopConf: Configuration = _

  private def conf: Configuration = {
    if (hadoopConf == null) {
      hadoopConf = SparkSession.active.sessionState.newHadoopConf()
      storageOptions.foreach { case (k, v) => hadoopConf.set(k, v) }
    }
    hadoopConf
  }

  /** Per-table configuration: catalog conf + the storage options the
    * namespace service vended for this table (credential vending,
    * reference: LanceMetadata.java:1319-1354 getStorageOptionsForTable —
    * table-scoped options win over namespace-level ones). The reserved
    * `expires_at` key (epoch millis) is consumed by the refresh logic,
    * not forwarded to Hadoop. */
  private def tableConf(vended: Map[String, String]): Configuration =
    if (vended.isEmpty) conf
    else {
      val c = new Configuration(conf)
      (vended - ExpiresAtKey).foreach { case (k, v) => c.set(k, v) }
      c
    }

  private val ExpiresAtKey = "expires_at"
  /** Re-resolve vended credentials once within 5 minutes of expiry —
    * the reference's refresh window (LanceTableHandle.java:36,154-173:
    * REFRESH_WINDOW_MINUTES ahead of expiration, re-DescribeTable). */
  private val RefreshWindowMs = 5 * 60 * 1000L

  private def expiring(opts: Map[String, String]): Boolean =
    opts.get(ExpiresAtKey).flatMap(_.toLongOption).exists(t =>
      System.currentTimeMillis() >= t - RefreshWindowMs)

  /** Conf source for one resolved table: hands out the vended-credential
    * conf, re-resolving via DescribeTable when the cached credentials
    * are inside the refresh window. Called at every scan/write PLANNING
    * (GraftTable.conf is a def), so a multi-query job over an STS-style
    * token keeps working as long as the service keeps vending; a single
    * task only ever needs the token it was planned with (executors get
    * the planned conf as a `SharedConf` broadcast keyed by its entries,
    * so a refreshed token ships as a new broadcast, like the
    * reference's per-split storage options). */
  private final class CredentialSource(ident: Identifier,
      initial: Map[String, String]) {
    @volatile private var cached = initial
    // A token whose TTL never leaves the refresh window (expires_at -
    // now <= RefreshWindowMs for its whole life) would otherwise turn
    // EVERY conf access into a blocking DescribeTable round trip; bound
    // re-resolution like the reference caches until near expiry.
    @volatile private var lastAttemptMs = 0L
    private def minRetryMs: Long =
      SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .flatMap(_.conf.getOption("spark.graft.credential.refresh.retry.ms"))
        .map(_.toLong).getOrElse(30 * 1000L)
    // The throttle only applies inside the SOFT refresh window; once the
    // token is past its actual expires_at every access must retry — a
    // token with TTL shorter than the retry interval (or one transient
    // DescribeTable failure near expiry) would otherwise leave executors
    // planning with a dead credential for up to minRetryMs.
    private def hardExpired: Boolean =
      cached.get(ExpiresAtKey).flatMap(_.toLongOption)
        .exists(System.currentTimeMillis() >= _)
    def current(): Configuration = {
      if (expiring(cached)) {
        val now = System.currentTimeMillis()
        if (hardExpired || now - lastAttemptMs >= minRetryMs) {
          lastAttemptMs = now
          describeTable(ident).foreach { case (_, vended) => cached = vended }
        }
      }
      tableConf(cached)
    }
  }

  private def fs: FileSystem = warehouse.getFileSystem(conf)

  /** Protocol seam: subclasses select the wire client (reference:
    * `lance.impl` = rest | glue | hive, LanceConfig.java:43-65). */
  protected def newClient(name: String,
      options: CaseInsensitiveStringMap): NamespaceClient =
    new RestNamespaceClient(Option(options.get("uri"))
      .map(_.stripSuffix("/")).getOrElse(throw new IllegalArgumentException(
        s"catalog $name requires option 'uri'")))

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = new Path(Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option 'warehouse' for new table data")))
    storageOptions = GraftCatalog.hadoopOptions(options)
    parentLevels = Option(options.get("parent"))
      .map(_.split('$').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    singleLevel = Option(options.get("single_level_ns")).exists(_.toBoolean)
    if (singleLevel && parentLevels.isEmpty)
      // the virtual `default` schema needs a concrete service key to
      // hang tables on; without a parent that key is literally "default"
      parentLevels = Seq("default")
    client = newClient(name, options)
  }

  override def name(): String = catalogName

  // --------------------------------------------------- service calls

  /** Multi-level namespaces travel to the service as ONE name with the
    * reference's `$` level delimiter (LanceConfig.java:79 "hive$catalog"
    * with-parent modes): Array("a","b") <-> "a$b". The service stays a
    * flat name->tables store; nesting is a client-side view. */
  private def nsKey(namespace: Array[String]): String = {
    if (singleLevel) {
      if (namespace.length != 1 ||
          !SparkSession.active.sessionState.conf.resolver(namespace(0), "default"))
        throw new NoSuchNamespaceException(namespace)
      parentLevels.mkString("$")
    } else {
      if (namespace.isEmpty) throw new NoSuchNamespaceException(namespace)
      (parentLevels ++ namespace).mkString("$")
    }
  }

  /** DescribeTable: the table's data location + any storage options the
    * service vends for it (e.g. scoped credentials), or None. */
  private def describeTable(ident: Identifier): Option[(Path, Map[String, String])] =
    client.describeTable(nsKey(ident.namespace()), ident.name())
      .map { case (loc, storage) => (new Path(loc), storage) }

  private def lookupLocation(ident: Identifier): Option[Path] =
    describeTable(ident).map(_._1)

  private def register(ident: Identifier, location: Path): Unit =
    client.registerTable(nsKey(ident.namespace()), ident.name(),
        location.toString) match {
      case NamespaceClient.Registered => ()
      case NamespaceClient.TableExists =>
        throw new TableAlreadyExistsException(ident)
      case NamespaceClient.NoSuchNamespace =>
        throw new NoSuchNamespaceException(ident.namespace())
    }

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] =
    client.listTables(nsKey(namespace)) match {
      case Some(ts) => ts.map(Identifier.of(namespace, _)).toArray
      case None =>
        // implicit ancestor (proper prefix of a stored name): no tables
        // of its own, but it IS a namespace — don't throw
        if (namespaceExists(namespace)) Array.empty
        else throw new NoSuchNamespaceException(namespace)
    }

  private def load(ident: Identifier,
      pick: (Path, Configuration) => Option[Manifest]): Table = {
    val (dir, vended) = describeTable(ident)
      .getOrElse(throw new NoSuchTableException(ident))
    val creds = new CredentialSource(ident, vended)
    val tc = creds.current()
    if (!GraftFormat.exists(dir.getFileSystem(tc), dir))
      throw new NoSuchTableException(ident)
    val manifest = pick(dir, tc).getOrElse(throw new NoSuchTableException(ident))
    new GraftTable(ident.toString, dir, manifest, tc) {
      override def conf: Configuration = creds.current()
    }
  }

  /** A table exists while the service registers it, even when its
    * directory is gone — so `DROP TABLE IF EXISTS` still deregisters an
    * orphaned name (Spark's default asks `loadTable`, which fails then). */
  override def tableExists(ident: Identifier): Boolean =
    lookupLocation(ident).isDefined

  override def loadTable(ident: Identifier): Table =
    load(ident,
      (d, tc) => graft.format.ManifestCache.latest(d.getFileSystem(tc), d))

  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, { (dir, tc) =>
      val dfs = dir.getFileSystem(tc)
      val v = try version.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"invalid version '$version' for table $ident (expected integer)")
      }
      if (!GraftFormat.listVersions(dfs, dir).contains(v))
        throw new IllegalArgumentException(
          s"version $v does not exist for table $ident")
      Some(graft.format.ManifestCache.readPinned(dfs, dir, v))
    })

  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    load(ident, { (dir, tc) =>
      val dfs = dir.getFileSystem(tc)
      GraftFormat.versionAtTimestamp(dfs, dir, timestampMicros / 1000L)
        .map(graft.format.ManifestCache.readPinned(dfs, dir, _))
        .orElse(throw new IllegalArgumentException(
          s"no version of $ident exists at or before timestamp ${timestampMicros}us"))
    })

  private def newTableDir(ident: Identifier): Path =
    new Path(new Path(warehouse, ident.namespace().mkString("/")),
      ident.name() + ".graft")

  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    if (partitions.nonEmpty) throw new UnsupportedOperationException(
      "graft tables are fragment-partitioned; explicit PARTITIONED BY is not supported")
    if (lookupLocation(ident).isDefined) throw new TableAlreadyExistsException(ident)
    val userProps = GraftCatalog.userProperties(properties)
    GraftCatalog.validateColumnNames(schema)
    graft.format.VectorColumns.validate(schema,
      graft.format.VectorColumns.fromProperties(userProps))
    val dir = newTableDir(ident)
    GraftFormat.init(fs, dir)
    val m = Manifest(1L, schema.json, Seq.empty, -1,
      System.currentTimeMillis(), "Create", GraftFormat.withTableId(userProps))
    GraftFormat.commit(fs, dir, m)
    try register(ident, fs.makeQualified(dir))
    catch { case e: Throwable => fs.delete(dir, true); throw e }
    new GraftTable(ident.toString, dir, m, conf)
  }

  // ------------------------------------------- atomic CTAS/RTAS (D3)
  // Fragments stage invisibly under the new location; ONE manifest
  // commit + ONE RegisterTable call publish the table.

  override def stageCreate(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): StagedTable = {
    if (lookupLocation(ident).isDefined) throw new TableAlreadyExistsException(ident)
    val dir = newTableDir(ident)
    new StagedGraftTable(ident.toString, dir, schema, replace = false,
      GraftCatalog.userProperties(properties), conf) {
      override def commitStagedChanges(): Unit = {
        super.commitStagedChanges()
        register(ident, fs.makeQualified(dir))
      }
    }
  }

  override def stageReplace(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): StagedTable = {
    val dir = lookupLocation(ident).getOrElse(throw new NoSuchTableException(ident))
    new StagedGraftTable(ident.toString, dir, schema, replace = true,
      GraftCatalog.userProperties(properties), conf)
  }

  override def stageCreateOrReplace(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): StagedTable =
    lookupLocation(ident) match {
      case Some(dir) =>
        new StagedGraftTable(ident.toString, dir, schema, replace = true,
          GraftCatalog.userProperties(properties), conf)
      case None => stageCreate(ident, schema, partitions, properties)
    }

  /** Same Evolve-commit schema evolution as the directory catalog —
    * the manifest lives in the table directory, so the namespace
    * service needs no schema round-trip. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    lookupLocation(ident) match {
      case Some(dir) =>
        GraftCatalog.evolveCommit(fs, dir, ident, changes)
        loadTable(ident)
      case None => throw new NoSuchTableException(ident)
    }

  override def dropTable(ident: Identifier): Boolean =
    lookupLocation(ident) match {
      case None => false
      case Some(dir) =>
        val deregistered =
          client.deregisterTable(nsKey(ident.namespace()), ident.name())
        val dfs = dir.getFileSystem(conf)
        graft.format.ManifestCache.purge(dfs, dir)
        dfs.delete(dir, true)
        // second purge closes the resolve-between-purge-and-delete
        // window (same rationale as GraftCatalog.dropTable)
        graft.format.ManifestCache.purge(dfs, dir)
        deregistered
    }

  override def renameTable(old: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft (like the reference) does not support RENAME TABLE")

  // --------------------------------------------------------- namespaces

  /** Every VISIBLE namespace, as level arrays: the service's `$`-joined
    * names filtered to (and stripped of) the configured parent prefix;
    * in single-level mode exactly the virtual `default`. */
  private def allNamespaces(): Seq[Array[String]] =
    if (singleLevel) Seq(Array("default"))
    else client.listNamespaceKeys().map(_.split('$').toSeq)
      .filter(ns => ns.length > parentLevels.length &&
        ns.startsWith(parentLevels))
      .map(_.drop(parentLevels.length).toArray)

  override def listNamespaces(): Array[Array[String]] =
    // top level of the hierarchy only, deduplicated: "a" and "a$b"
    // both contribute Array("a")
    allNamespaces().map(ns => Seq(ns.head)).distinct
      .map(_.toArray).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    // direct children of the parent, including IMPLICIT ones: a stored
    // "a$b$c" contributes child ["a","b"] under parent ["a"] even when
    // "a$b" itself was never stored
    allNamespaces()
      .filter(ns => ns.length > namespace.length && ns.startsWith(namespace))
      .map(ns => ns.take(namespace.length + 1).toSeq)
      .distinct
      .map(_.toArray).toArray
  }

  /** A namespace exists if it is stored exactly OR is a proper prefix of
    * a stored `$`-joined name — the hierarchy the catalog itself surfaces
    * via [[listNamespaces]] must be navigable (`SHOW TABLES IN a` cannot
    * throw for an `a` that `SHOW NAMESPACES` just listed). */
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.nonEmpty && allNamespaces().exists(ns =>
      ns.length >= namespace.length && ns.startsWith(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(
      namespace: Array[String], metadata: JMap[String, String]): Unit = {
    if (singleLevel) throw new UnsupportedOperationException(
      "single_level_ns mode exposes only the virtual 'default' " +
        "namespace; CREATE NAMESPACE is not allowed (reference: " +
        "lance.single_level_ns, LanceConfig.java:69-76)")
    client.createNamespace(nsKey(namespace))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (singleLevel) throw new UnsupportedOperationException(
      "single_level_ns mode exposes only the virtual 'default' " +
        "namespace; DROP NAMESPACE is not allowed")
    if (!namespaceExists(namespace)) return false
    val children = listNamespaces(namespace)
    // capture BEFORE any cascade: an implicit ancestor ceases to exist
    // the moment its last stored descendant is dropped
    val tables = listTables(namespace)
    if (cascade) {
      children.foreach(dropNamespace(_, cascade = true))
      tables.foreach(dropTable)
    } else if (tables.nonEmpty || children.nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    // an implicit ancestor has no stored entry to DELETE — once its
    // stored descendants are gone (cascade above) it ceases to exist
    if (!allNamespaces().exists(_.sameElements(namespace))) return true
    client.dropNamespace(nsKey(namespace))
  }
}

/** Glue-backed catalog: identical catalog logic, Glue wire protocol
  * (`lance.impl=glue`, LanceConfig.java:60).
  *
  *   spark.sql.catalog.g           = graft.catalog.GraftGlueCatalog
  *   spark.sql.catalog.g.endpoint  = http://glue-endpoint (or LocalStack)
  *   spark.sql.catalog.g.warehouse = s3a://bucket/warehouse
  */
class GraftGlueCatalog extends GraftRestCatalog {
  override protected def newClient(name: String,
      options: CaseInsensitiveStringMap): NamespaceClient =
    new GlueNamespaceClient(Option(options.get("endpoint"))
      .map(_.stripSuffix("/")).getOrElse(throw new IllegalArgumentException(
        s"catalog $name requires option 'endpoint'")))
}

/** Hive-Metastore-backed catalog: identical catalog logic, HMS Thrift
  * wire protocol (`lance.impl=hive2`/`hive3`, LanceConfig.java:60 —
  * one client serves both, see [[HiveNamespaceClient]]).
  *
  *   spark.sql.catalog.h           = graft.catalog.GraftHiveCatalog
  *   spark.sql.catalog.h.uri       = thrift://metastore-host:9083
  *   spark.sql.catalog.h.warehouse = hdfs://nn/warehouse
  */
class GraftHiveCatalog extends GraftRestCatalog {
  override protected def newClient(name: String,
      options: CaseInsensitiveStringMap): NamespaceClient = {
    val uri = Option(options.get("uri")).getOrElse(
      throw new IllegalArgumentException(s"catalog $name requires option " +
        "'uri' (thrift://host:port, like hive.metastore.uris)"))
    val hp = uri.stripPrefix("thrift://").split(":", 2)
    if (hp.length != 2 || hp(1).toIntOption.isEmpty)
      throw new IllegalArgumentException(
        s"catalog $name: cannot parse metastore uri '$uri'")
    new HiveNamespaceClient(hp(0), hp(1).toInt)
  }
}
