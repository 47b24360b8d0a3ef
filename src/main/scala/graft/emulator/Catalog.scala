package graft.emulator

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Snowflake object model over Spark's 2-level catalog (reference
  * `pkg/metadata/repository.go`): databases are Spark databases, Snowflake
  * schemas are metadata-only and flattened into the table name
  * (`DATABASE.SCHEMA_TABLE`, `table_naming.go:23-40`). Our own metadata
  * rows (comments, column defs, schema list) live in memory the way the
  * reference keeps `_metadata_*` tables.
  *
  * Storage is a sequence of immutable table versions. A table is an
  * external parquet table whose location is one version directory under
  * the table's root. A statement that replaces content writes it once into
  * a fresh directory and then points the table there (the catalog half of
  * `ALTER TABLE ... SET LOCATION`), under a per-table lock — the
  * reference serializes all writes (`pkg/connection/manager.go:39-63`).
  * INSERT and COPY append files to the current directory. A [[Version]]
  * is the file list and schema at one moment, so time travel, transaction
  * snapshots, stream baselines and drop retention hold versions rather
  * than copies, and [[sweep]] deletes a directory once neither a table nor
  * a registered holder references it.
  */
final class Catalog(val spark: SparkSession) {
  import Catalog._

  private val databases = new ConcurrentHashMap[String, DatabaseMeta]()
  private val schemas = new ConcurrentHashMap[String, SchemaMeta]() // key db.schema
  private val tables = new ConcurrentHashMap[String, TableMeta]() // key db.schema.table
  private val fileFormats = new ConcurrentHashMap[String, FileFormatMeta]()
  private val tableLocks = new ConcurrentHashMap[String, Object]()
  /** Version directories this catalog wrote and has not yet deleted. */
  private val ownedDirs = ConcurrentHashMap.newKeySet[String]()
  private val holders = new java.util.concurrent.CopyOnWriteArrayList[() => Iterable[Version]]()
  /** Orders location swaps against [[sweep]], so a sweep never sees a
    * directory as owned before it sees it as current. */
  private val swapLock = new Object

  private def up(s: String) = s.trim.toUpperCase(java.util.Locale.ROOT)
  private def tKey(r: TableNaming.Ref) = s"${r.database}.${r.schema}.${r.table}"
  private def sessionCatalog = spark.sessionState.catalog
  private def ident(r: TableNaming.Ref) =
    TableIdentifier(s"${r.schema}_${r.table}", Some(r.database))
  /** Table roots live outside Spark's database directories, so DROP
    * DATABASE leaves held versions to the sweep. */
  private lazy val tablesRoot = new HPath(spark.conf.get("spark.sql.warehouse.dir"), "graft_tables")
  private lazy val fs = tablesRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dirKey(p: HPath): String = fs.makeQualified(p).toString
  private def noTable(r: TableNaming.Ref) = SnowflakeError.notFound(
    s"table ${r.database}.${r.schema}.${r.table} does not exist")
  private def columnsOf(r: TableNaming.Ref): Seq[ColumnDef] =
    spark.table(sparkTableName(r)).schema.fields.toSeq.map(f =>
      ColumnDef(up(f.name), TypeMapper.toSnowflakeTypeName(f.dataType), f.nullable))

  def lockFor(r: TableNaming.Ref): Object =
    tableLocks.computeIfAbsent(tKey(r), _ => new Object)

  // ---- databases -----------------------------------------------------

  /** Create database + its PUBLIC schema (the reference auto-creates both
    * on login, `server/handlers/session.go:94-102`, `repository.go:193-232`). */
  def createDatabase(name: String, ifNotExists: Boolean = true): Unit = {
    val n = up(name)
    if (databases.containsKey(n) && !ifNotExists)
      throw SnowflakeError.alreadyExists(s"database $n already exists")
    databases.putIfAbsent(n, DatabaseMeta(n))
    schemas.putIfAbsent(s"$n.PUBLIC", SchemaMeta(n, "PUBLIC"))
    // REST v2 calls this per statement: skip the SQL round when it exists
    if (!sessionCatalog.databaseExists(n))
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$n`")
  }

  def dropDatabase(name: String, ifExists: Boolean = false): Unit = {
    val n = up(name)
    if (!databases.containsKey(n)) {
      if (ifExists) return
      throw SnowflakeError.notFound(s"database $n does not exist")
    }
    databases.remove(n)
    schemas.keySet.removeIf(_.startsWith(n + "."))
    tables.keySet.removeIf(_.startsWith(n + "."))
    spark.sql(s"DROP DATABASE IF EXISTS `$n` CASCADE")
    sweep()
  }

  def listDatabases(): Seq[DatabaseMeta] =
    databases.values.asScala.toSeq.sortBy(_.name)

  def setDatabaseComment(name: String, comment: String): Unit =
    Option(databases.get(up(name))).foreach(_.comment = comment)

  // ---- schemas -------------------------------------------------------

  def createSchema(db: String, name: String, ifNotExists: Boolean = false): Unit = {
    val key = s"${up(db)}.${up(name)}"
    if (schemas.containsKey(key) && !ifNotExists)
      throw SnowflakeError.alreadyExists(s"schema $key already exists")
    createDatabase(up(db))
    schemas.putIfAbsent(key, SchemaMeta(up(db), up(name)))
  }

  def dropSchema(db: String, name: String, ifExists: Boolean = false): Unit = {
    val key = s"${up(db)}.${up(name)}"
    if (schemas.remove(key) == null && !ifExists)
      throw SnowflakeError.notFound(s"schema $key does not exist")
    tables.values.asScala
      .filter(t => t.database == up(db) && t.schema == up(name)).toSeq
      .foreach(t => dropTable(TableNaming.Ref(t.database, t.schema, t.table),
        ifExists = true))
  }

  def listSchemas(db: String): Seq[SchemaMeta] =
    schemas.values.asScala.filter(_.database == up(db)).toSeq.sortBy(_.name)

  // ---- tables --------------------------------------------------------

  def sparkTableName(r: TableNaming.Ref): String = TableNaming.sparkName(r)

  def tableExists(r: TableNaming.Ref): Boolean = tables.containsKey(tKey(r))

  def getTable(r: TableNaming.Ref): Option[TableMeta] = Option(tables.get(tKey(r)))

  /** Snowflake CLUSTER BY -> Spark bucketed table: joins/aggregations on
    * the cluster key between co-clustered tables read pre-partitioned data
    * and skip the shuffle entirely — the physical meaning clustering has in
    * Snowflake, expressed in Spark's storage layer. Buckets per clustered
    * table: fixed so appends always match the existing spec; sized for
    * local mode, a deployment would raise it. */
  val ClusterBuckets = 16

  def createTable(r: TableNaming.Ref, columns: Seq[ColumnDef],
      orReplace: Boolean = false, ifNotExists: Boolean = false,
      clusterKey: Option[String] = None): Unit = {
    if (tableExists(r)) {
      if (ifNotExists) return
      if (!orReplace) throw SnowflakeError.alreadyExists(
        s"table ${r.database}.${r.schema}.${r.table} already exists")
    }
    // NOT NULL stays in the column defs: Spark's schema is all-nullable,
    // as a table Spark writes itself would be
    val struct = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(
        c.name, TypeMapper.toSparkType(c.snowflakeType), nullable = true)))
    commit(r, None, struct, clusterKey)
    tables.put(tKey(r), TableMeta(r.database, r.schema, r.table, "BASE TABLE",
      columns, clusterKey = clusterKey))
  }

  /** Register a table created via raw SQL pass-through (CTAS etc.), reading
    * the column defs back from the physical table. */
  def registerExisting(r: TableNaming.Ref): Unit = {
    val cols = columnsOf(r)
    createSchema(r.database, r.schema, ifNotExists = true)
    val ck = getTable(r).flatMap(_.clusterKey)
    tables.put(tKey(r), TableMeta(r.database, r.schema, r.table, "BASE TABLE",
      cols, clusterKey = ck))
  }

  /** Register a view just created via SQL; columns read from the resolved
    * plan. Views carry type VIEW in metadata like the reference's table
    * rows (`repository.go:42-52`). */
  def registerView(r: TableNaming.Ref): Unit =
    tables.put(tKey(r), TableMeta(r.database, r.schema, r.table, "VIEW", columnsOf(r)))

  def dropView(r: TableNaming.Ref, ifExists: Boolean = false): Unit = {
    if (tables.remove(tKey(r)) == null && !ifExists)
      throw SnowflakeError.notFound(
        s"view ${r.database}.${r.schema}.${r.table} does not exist")
    spark.sql(s"DROP VIEW IF EXISTS ${sparkTableName(r)}")
  }

  /** The Spark table is external, so its files stay for the versions
    * still holding them; the sweep deletes the rest. */
  def dropTable(r: TableNaming.Ref, ifExists: Boolean = false): Unit = {
    if (tables.remove(tKey(r)) == null && !ifExists) throw noTable(r)
    spark.sql(s"DROP TABLE IF EXISTS ${sparkTableName(r)}")
    sweep()
  }

  def listTables(db: String): Seq[TableMeta] =
    tables.values.asScala.filter(_.database == up(db)).toSeq
      .sortBy(t => (t.schema, t.table))

  def tableDf(r: TableNaming.Ref): DataFrame = {
    if (!tableExists(r)) throw noTable(r)
    spark.table(sparkTableName(r))
  }

  /** Replace table content with `df`, written once into a fresh version
    * directory (the plan may read the table being replaced: it reads the
    * old directory). `keepSchema` casts `df` to the table's schema, so a
    * widened expression type never reaches the files; DDL that changes the
    * columns passes false. Creates the table when it does not exist yet. */
  def overwriteTable(r: TableNaming.Ref, df: DataFrame,
      keepSchema: Boolean = true): Unit =
    lockFor(r).synchronized {
      val schema = physical(r).filter(_ => keepSchema).map(_.schema)
        .getOrElse(StructType(df.schema.map(_.copy(nullable = true))))
      commit(r, Some(df), schema, getTable(r).flatMap(_.clusterKey))
    }

  /** Append `df` (in the table's column order) to the current directory;
    * a clustered table's spec buckets the new files. */
  def appendToTable(r: TableNaming.Ref, df: DataFrame): Unit =
    lockFor(r).synchronized(df.write.insertInto(sparkTableName(r)))

  // ---- versions --------------------------------------------------------

  private def physical(r: TableNaming.Ref): Option[CatalogTable] =
    scala.util.Try(sessionCatalog.getTableMetadata(ident(r))).toOption

  /** The table's current version, tagged with `queryId`. */
  def version(r: TableNaming.Ref, queryId: String = ""): Version =
    lockFor(r).synchronized {
      val t = physical(r).getOrElse(throw noTable(r))
      val dir = new HPath(t.location)
      val files = fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith(".")).map(_.toString).sorted
      Version(queryId, dirKey(dir), files, t.schema, System.currentTimeMillis())
    }

  def readVersion(v: Version): DataFrame =
    if (v.files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], v.schema)
    else spark.read.schema(v.schema).parquet(v.files: _*)

  /** Register a source of versions that must outlive the table's current
    * directory; every [[sweep]] consults it. */
  def holdVersions(held: () => Iterable[Version]): Unit = holders.add(held)

  /** Delete every version directory this catalog wrote that is neither a
    * table's current location nor held by a registered holder. */
  def sweep(): Unit = swapLock.synchronized {
    val current = databases.keySet.asScala.toSeq
      .flatMap(db => scala.util.Try(sessionCatalog.listTables(db)).getOrElse(Nil))
      .filter(_.database.isDefined)
      .flatMap(t => scala.util.Try(sessionCatalog.getTableMetadata(t)).toOption)
      .flatMap(_.storage.locationUri).map(u => dirKey(new HPath(u)))
    val live = current.toSet ++ holders.asScala.flatMap(_.apply()).map(_.dir)
    ownedDirs.asScala.filterNot(live).toSeq.foreach { d =>
      fs.delete(new HPath(d), true)
      ownedDirs.remove(d)
    }
  }

  /** Write `df` (nothing, for an empty table) into a fresh directory under
    * the table's root, then point the table there: a metadata-only swap,
    * so readers see the old version or the new one, never a half-written
    * one. */
  private def commit(r: TableNaming.Ref, df: Option[DataFrame], schema: StructType,
      clusterKey: Option[String]): Unit = lockFor(r).synchronized {
    val cur = physical(r)
    if (cur.isEmpty) createSchema(r.database, r.schema, ifNotExists = true)
    val root = cur.map(t => new HPath(t.location).getParent)
      .getOrElse(new HPath(tablesRoot, s"${r.database}/${r.schema}_${r.table}"))
    val dir = new HPath(root, s"v-${java.util.UUID.randomUUID()}")
    val bucketSpec = clusterKey.map(k => BucketSpec(ClusterBuckets, Seq(k), Seq(k)))
    try {
      df.map(_.select(schema.map(f => col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)) match {
        case Some(d) if clusterKey.isDefined =>
          // Spark writes bucketed files only through a table: a scratch
          // external table at `dir`, dropped (files kept) once written
          val scratch = s"`default`.`graft_w_${java.util.UUID.randomUUID().toString.replace("-", "")}`"
          try d.write.format("parquet").bucketBy(ClusterBuckets, clusterKey.get).sortBy(clusterKey.get)
            .option("path", dir.toString).saveAsTable(scratch)
          finally spark.sql(s"DROP TABLE IF EXISTS $scratch")
        case Some(d) => d.write.parquet(dir.toString)
        case None => fs.mkdirs(dir)
      }
      swapLock.synchronized {
        cur match {
          case Some(t) =>
            sessionCatalog.alterTable(t.copy(schema = schema, bucketSpec = bucketSpec,
              storage = t.storage.copy(locationUri = Some(dir.toUri))))
            sessionCatalog.invalidateCachedTable(ident(r))
          case None =>
            sessionCatalog.createTable(CatalogTable(ident(r), CatalogTableType.EXTERNAL,
              CatalogStorageFormat.empty.copy(locationUri = Some(dir.toUri)),
              schema, Some("parquet"), bucketSpec = bucketSpec), ignoreIfExists = false)
        }
        ownedDirs.add(dirKey(dir))
      }
    } catch { case t: Throwable => fs.delete(dir, true); throw t }
    sweep()
  }

  def setTableComment(r: TableNaming.Ref, comment: String): Unit =
    Option(tables.get(tKey(r))).foreach(_.comment = comment)

  /** Move a table's catalog entry under a new name (the physical rename is
    * the caller's ALTER TABLE RENAME; metadata moves here). */
  def renameTable(from: TableNaming.Ref, to: TableNaming.Ref): Unit =
    lockFor(from).synchronized {
      val m = Option(tables.remove(tKey(from))).getOrElse(throw noTable(from))
      if (tables.containsKey(tKey(to))) {
        tables.put(tKey(from), m) // restore — rename refused
        throw SnowflakeError.alreadyExists(
          s"table ${to.database}.${to.schema}.${to.table} already exists")
      }
      tables.put(tKey(to),
        m.copy(database = to.database, schema = to.schema, table = to.table))
    }

  /** Re-install a snapshotted metadata row (transaction ROLLBACK after a
    * DROP/REPLACE restores the parquet AND the catalog entry, preserving
    * the cluster key so the restoring write re-buckets identically). */
  def restoreMeta(m: TableMeta): Unit = {
    createSchema(m.database, m.schema, ifNotExists = true)
    tables.put(s"${m.database}.${m.schema}.${m.table}", m)
  }

  // ---- file formats (reference `repository.go:76-85`) ----------------

  def createFileFormat(db: String, schema: String, name: String,
      formatType: String, rawOptions: String): Unit =
    fileFormats.put(s"${up(db)}.${up(schema)}.${up(name)}",
      FileFormatMeta(up(db), up(schema), up(name), up(formatType), rawOptions))

  def getFileFormat(db: String, schema: String, name: String): Option[FileFormatMeta] =
    Option(fileFormats.get(s"${up(db)}.${up(schema)}.${up(name)}"))

  def dropFileFormat(db: String, schema: String, name: String,
      ifExists: Boolean = false): Unit =
    if (fileFormats.remove(s"${up(db)}.${up(schema)}.${up(name)}") == null && !ifExists)
      throw SnowflakeError.notFound(s"file format ${up(name)} does not exist")

  def listFileFormats(db: String): Seq[FileFormatMeta] =
    fileFormats.values.asScala.filter(_.database == up(db)).toSeq.sortBy(_.name)
}

object Catalog {
  final case class ColumnDef(
      name: String, snowflakeType: String, nullable: Boolean = true,
      default: Option[String] = None, primaryKey: Boolean = false)

  final case class TableMeta(
      database: String, schema: String, table: String,
      tableType: String, // BASE TABLE | VIEW
      columns: Seq[ColumnDef],
      var comment: String = "",
      createdOn: Long = System.currentTimeMillis(),
      clusterKey: Option[String] = None)

  /** One immutable state of a table: its parquet files (all in `dir`) and
    * schema, tagged with the statement that produced it. */
  final case class Version(queryId: String, dir: String, files: Seq[String],
      schema: StructType, atMillis: Long)

  final case class SchemaMeta(database: String, name: String,
      createdOn: Long = System.currentTimeMillis())
  final case class DatabaseMeta(name: String,
      createdOn: Long = System.currentTimeMillis(),
      var comment: String = "")
  /** Named file format (reference `repository.go:76-85`): the option text
    * is stored raw and re-parsed by CopyParser when COPY references the
    * format by name, so format options have one parsing code path. */
  final case class FileFormatMeta(database: String, schema: String,
      name: String, formatType: String, rawOptions: String)
}
