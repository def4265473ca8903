package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A DataSource V2 CATALOG over a warehouse directory of zone-map
  * tables — the last integration surface after the read/write/stream
  * connector: plain SQL drives the table format end to end,
  * {{{
  *   spark.conf.set("spark.sql.catalog.zm", classOf[ZoneCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.zm.warehouse", "/data/zm")
  *   CREATE TABLE zm.db.events (rid BIGINT, a BIGINT, b BIGINT)
  *   INSERT INTO zm.db.events SELECT ...   -- batch id auto-assigned
  *   SELECT ... FROM zm.db.events          -- zone-pruned v2 scan
  *   SELECT ... FROM zm.db.events VERSION AS OF 1   -- time travel
  * }}}
  * Tables live at `<warehouse>/<namespace...>/<name>`; CREATE writes a
  * declared-schema sidecar so an empty table loads before its first
  * insert; `VERSION AS OF v` resolves through
  * `loadTable(ident, version)` to a snapshot-pinned table (the same
  * `asof` the reader option uses). DDL is directory algebra — create
  * is mkdir+sidecar, drop is a recursive delete, rename is one
  * filesystem rename — because the table's own commit protocol
  * already owns everything transactional.
  */
class ZoneCatalog extends TableCatalog with ProcedureCatalog
    with SupportsNamespaces {
  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  private def fs = new Path(warehouse).getFileSystem(
    SparkSession.active.sessionState.newHadoopConf())

  private def dirOf(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  override def tableExists(ident: Identifier): Boolean =
    fs.exists(new Path(dirOf(ident)))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = new Path((warehouse +: namespace.toSeq).mkString("/"))
    if (!fs.exists(ns)) return Array.empty
    fs.listStatus(ns).filter(_.isDirectory)
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident)
    new ZoneMapTable(dir, ZoneMapSource.dataSchema(dir))
  }

  /** SQL time travel: `VERSION AS OF v` pins the snapshot exactly like
    * the reader's `asof` option. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident)
    new ZoneMapTable(dir, ZoneMapSource.dataSchema(dir),
      Some(version.toLong))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    require(partitions.isEmpty,
      "zone-map tables cluster by OPTIMIZE ZORDER, not declared " +
        "partitions")
    require(schema.fieldNames.toSeq == Seq("rid", "a", "b") &&
      schema.fields.forall(_.dataType == LongType),
      s"zone-map table contract is (rid, a, b) BIGINT; got $schema")
    val dir = dirOf(ident)
    require(fs.mkdirs(new Path(dir)), s"cannot create $dir")
    ZoneMapSource.writeSchemaMeta(dir, schema)
    new ZoneMapTable(dir, schema)
  }

  override def createTable(ident: Identifier, info: TableInfo): Table =
    createTable(ident, info.schema(), info.partitions(),
      info.properties())

  override def alterTable(
      ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "zone-map tables are append-only with a fixed (rid, a, b) schema")

  override def dropTable(ident: Identifier): Boolean = tableExists(ident) && {
    DirTable.delete(fs, new Path(dirOf(ident)), "dropTable")
    true
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    DirTable.rename(fs, new Path(dirOf(from)), new Path(dirOf(to)),
      "renameTable")
  }

  // --------------------------------------------------------------------
  // NAMESPACES — directory algebra like everything else in this
  // catalog: a namespace IS a warehouse subdirectory, distinguished
  // from a table by the absence of the table sidecar/data layout.
  // CREATE NAMESPACE = mkdir, DROP = delete (refused non-empty unless
  // CASCADE), SHOW NAMESPACES = list.

  private def nsPath(ns: Array[String]): Path =
    new Path((warehouse +: ns.toSeq).mkString("/"))

  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, "_table_meta.json")) ||
      fs.exists(new Path(p, "data")) || fs.exists(new Path(p, "zones"))

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.nonEmpty && fs.exists(nsPath(ns)) && !isTableDir(nsPath(ns))

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).filter(st => st.isDirectory &&
      !isTableDir(st.getPath)).map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    if (ns.isEmpty) return listNamespaces()
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    fs.listStatus(nsPath(ns)).filter(st => st.isDirectory &&
      !isTableDir(st.getPath))
      .map(st => ns :+ st.getPath.getName)
  }

  override def loadNamespaceMetadata(
      ns: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    java.util.Map.of("location", nsPath(ns).toString)
  }

  override def createNamespace(ns: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(ns)) throw new NamespaceAlreadyExistsException(ns)
    require(fs.mkdirs(nsPath(ns)), s"cannot create namespace at $ns")
  }

  override def alterNamespace(
      ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "zone-map namespaces carry no mutable metadata")

  override def dropNamespace(
      ns: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    if (!cascade && fs.listStatus(nsPath(ns)).nonEmpty)
      throw new NonEmptyNamespaceException(ns)
    DirTable.delete(fs, nsPath(ns), "dropNamespace")
    true
  }

  // --------------------------------------------------------------------
  // MAINTENANCE PROCEDURES — `CALL zm.system.optimize('db.t')` et al.:
  // the table-format operations that are commands, not queries, on the
  // engine's stored-procedure surface (ProcedureCatalog). Each takes
  // the table as a dotted name, runs the existing crash-safe
  // maintenance primitive, and returns a summary row through a
  // LocalScan so the CALL statement has a result to show.

  private def tableDir(dotted: String): String = {
    val dir = (warehouse +: dotted.split('.').toSeq).mkString("/")
    require(fs.exists(new Path(dir)), s"no such zone table: $dotted")
    dir
  }

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    Array("optimize", "dv_materialize", "history", "heal_rlo")
      .map(Identifier.of(Array("system"), _))

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    ident.name() match {
      case "optimize" => new ZoneProc("optimize",
        "re-cluster every visible row into Z-tiles and swap the " +
          "generation (crash-safe; refuses over live deletion vectors)",
        StructType(Seq(StructField("parts_before", LongType),
          StructField("parts_after", LongType)))) {
        override def run(dotted: String): Array[InternalRow] = {
          val dir = tableDir(dotted)
          val spark = SparkSession.active
          def parts = DirTable.visible(spark, s"$dir/zones", "opt").size.toLong
          val before = parts
          graft.streaming.Streaming.zoneOptimize(spark, dir)
          val after = parts
          Array(new GenericInternalRow(Array[Any](before, after)))
        }
      }
      case "dv_materialize" => new ZoneProc("dv_materialize",
        "rewrite survivors as one atomic generation and clear the " +
          "deletion vectors",
        StructType(Seq(StructField("deleted_cleared", LongType)))) {
        override def run(dotted: String): Array[InternalRow] = {
          val dir = tableDir(dotted)
          val spark = SparkSession.active
          val cleared = graft.streaming.Streaming
            .dvDeletedCount(spark, dir)
          graft.streaming.Streaming.dvMaterialize(spark, dir)
          Array(new GenericInternalRow(Array[Any](cleared)))
        }
      }
      case "history" => new ZoneProc("history",
        "one row per visible part from the file index (no data read)",
        StructType(Seq(StructField("part", StringType),
          StructField("rows", LongType),
          StructField("min_a", LongType), StructField("max_a", LongType),
          StructField("min_b", LongType),
          StructField("max_b", LongType)))) {
        override def run(dotted: String): Array[InternalRow] =
          ZoneMapSource.zoneRows(tableDir(dotted)).sortBy(_.file).map {
            z => new GenericInternalRow(Array[Any](
              UTF8String.fromString(z.file), z.n, z.la, z.ha, z.lb,
              z.hb)): InternalRow
          }.toArray
      }
      case "heal_rlo" => new ZoneProc("heal_rlo",
        "complete or abort any crashed row-level (UPDATE/MERGE) " +
          "commit: a pending marker whose batch became visible " +
          "finishes its staged dv publish, one whose batch never " +
          "landed aborts whole (idempotent; also run automatically " +
          "by the next row-level commit)",
        StructType(Seq(StructField("pending_before", LongType),
          StructField("pending_after", LongType)))) {
        override def run(dotted: String): Array[InternalRow] = {
          val dir = tableDir(dotted)
          val spark = SparkSession.active
          def pending(): Long = {
            val root = new Path(dir)
            if (!fs.exists(root)) 0L
            else fs.listStatus(root).count(
              _.getPath.getName.startsWith(".rlo_pending_")).toLong
          }
          val before = pending()
          ZoneMapSource.healRowLevelPending(spark, dir)
          Array(new GenericInternalRow(Array[Any](before, pending())))
        }
      }
      case "vacuum" => new ZoneProcWithInt("vacuum", "retain_gens",
        "truncate the deletion-vector retraction journal to the " +
          "newest <retain_gens> generations and drop orphan logs and " +
          "stale staging; a feed consumer whose watermark predates " +
          "the horizon gets a loud recompute error from " +
          "zoneChangesFeed instead of silently missing retractions",
        StructType(Seq(StructField("logs_removed", LongType),
          StructField("logs_kept", LongType)))) {
        override def run(dotted: String, arg: Int): Array[InternalRow] = {
          val (removed, kept) = graft.streaming.Streaming.dvLogVacuum(
            SparkSession.active, tableDir(dotted), arg)
          Array(new GenericInternalRow(Array[Any](removed, kept)))
        }
      }
      case other => throw new UnsupportedOperationException(
        s"unknown zone-map procedure: $other")
    }

  /** (table string, <intName> int) in, a LocalScan of summary rows
    * out — the two-parameter sibling of [[ZoneProc]]. */
  private abstract class ZoneProcWithInt(
      nm: String, intName: String, desc: String, out: StructType)
      extends UnboundProcedure with BoundProcedure {
    def run(dotted: String, arg: Int): Array[InternalRow]
    override def name(): String = nm
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in(intName,
          org.apache.spark.sql.types.IntegerType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow)
        : java.util.Iterator[Scan] = {
      val result = run(input.getUTF8String(0).toString, input.getInt(1))
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = result
        override def readSchema(): StructType = out
      }).iterator()
    }
  }

  /** One string parameter in, a LocalScan of summary rows out. */
  private abstract class ZoneProc(
      nm: String, desc: String, out: StructType)
      extends UnboundProcedure with BoundProcedure {
    def run(dotted: String): Array[InternalRow]
    override def name(): String = nm
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow)
        : java.util.Iterator[Scan] = {
      val result = run(input.getUTF8String(0).toString)
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = result
        override def readSchema(): StructType = out
      }).iterator()
    }
  }
}
