package graft.connector

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.kv.{KvField, KvSchema}

/** SQL catalog for KV tables: the reference's table-lifecycle surface
  * (`HBaseTap.java:69-101` — create-if-missing, disable+delete, exists)
  * exposed through Spark's `TableCatalog`, so plain SQL works:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft_kv",
  *     "graft.connector.KvCatalog")
  *   spark.conf.set("spark.sql.catalog.graft_kv.warehouse", "/tables")
  *   spark.sql("CREATE TABLE graft_kv.ns.t (k STRING, v STRING) " +
  *     "USING kvtable TBLPROPERTIES ('kv.key'='k','kv.map.v'='f:val')")
  *   spark.sql("INSERT INTO graft_kv.ns.t (k, v) VALUES ('a', 'x')")
  *   spark.sql("DROP TABLE graft_kv.ns.t")
  * }}}
  *
  * Layout: `warehouse/<namespace...>/<table>` — one directory per table,
  * the same on-disk format `KvTable`/`format("kvtable")` read and write
  * (the catalog is an addressing layer, not a new storage format).
  *
  * Schema declaration mirrors the reference's fieldMap
  * (`HBaseScheme.java:55`): `kv.key` names the single rowkey column
  * (default: the first column), and `kv.map.<col>` = `family:qualifier`
  * addresses each value column (default: family `f`, qualifier = column
  * name). `CREATE TABLE` persists `_kvschema.json` + a stats-manifest
  * base carrying the parquet schema, so an EMPTY table is immediately
  * loadable (no data-file footer to infer from).
  *
  * Reads through the catalog expose the RAW log (engine columns
  * included) — the LWW collapse is an aggregation a V2 scan cannot
  * express; apply `KvTable.readV2`-style collapse on top (see
  * `kv_catalog_sql`). SQL `INSERT` synthesizes the engine columns in
  * the writer (one batch version per statement — each INSERT is one
  * HBase "flush", newest wins).
  */
class KvCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _
  // the active session's, per call: a catalog outlives session conf changes
  private def conf: Configuration = KvHadoopConf.active()

  /** A table handle sharing one configuration with its schema read. */
  private def openTable(path: String, asOf: Option[Long] = None): Table = {
    val c = conf
    new KvBatchTable(path, KvV2Util.inferSchema(path, c), asOf, c)
  }

  // --- maintenance procedures: SQL `CALL graft_kv.system.compact(...)`
  // maps the reference's admin-side maintenance (HBase major compaction,
  // triggered through HBaseAdmin like the lifecycle ops in
  // HBaseTap.java:69-101) onto Spark's ProcedureCatalog.

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array("system"), "compact"),
      Identifier.of(Array("system"), "compact_minor"),
      Identifier.of(Array("system"), "zorder"),
      Identifier.of(Array("system"), "create_matview"),
      Identifier.of(Array("system"), "refresh_matview"))

  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure =
    ident.name().toLowerCase match {
      case "compact" => new KvCompactProcedure(this)
      case "compact_minor" => new KvCompactMinorProcedure(this)
      case "zorder" => new KvZOrderProcedure(this)
      case "create_matview" => new KvCreateMatViewProcedure(this)
      case "refresh_matview" => new KvRefreshMatViewProcedure(this)
      case other => throw new UnsupportedOperationException(
        s"kvtable catalog has no procedure '$other' (available: compact, " +
          "compact_minor, zorder, create_matview, refresh_matview)")
    }

  /** Resolve a `ns.table` string (catalog-relative, like ALTER TABLE
    * RENAME targets) to its warehouse path. */
  private[connector] def resolvePath(tableRef: String): String = {
    val parts = tableRef.split('.')
    val ident = Identifier.of(parts.init, parts.last)
    require(tableExists(ident), s"kvtable: no such table $tableRef")
    tablePath(ident)
  }

  /** Warehouse path for a table that need not exist yet (procedure
    * targets that CREATE their table, e.g. create_matview). */
  private[connector] def resolveNewPath(tableRef: String): String = {
    val parts = tableRef.split('.')
    tablePath(Identifier.of(parts.init, parts.last))
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null,
      s"catalog $name requires option 'warehouse' " +
        s"(spark.sql.catalog.$name.warehouse=<dir>)")
  }

  override def name(): String = catalogName

  private def tablePath(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def schemaFileOf(path: String) = new HPath(s"$path/_kvschema.json")

  private def fs(p: String) = new HPath(p).getFileSystem(conf)

  override def tableExists(ident: Identifier): Boolean =
    fs(warehouse).exists(schemaFileOf(tablePath(ident)))

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata table: `SELECT * FROM cat.ns.t$files`
    // exposes the stats manifest (one row per data file: size, rows,
    // row groups, rowkey min/max) — the layout-health view an operator
    // watches to decide when to CALL system.compact_minor.
    if (ident.name().endsWith("$files")) {
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$files"))
      val path = tablePath(base)
      if (!tableExists(base)) throw new NoSuchTableException(base)
      return new KvFilesMetaTable(path)
    }
    val path = tablePath(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    openTable(path)
  }

  /** SQL time travel: `SELECT ... FROM t VERSION AS OF <v>` — a
    * read-only snapshot at LWW batch version `v` (the catalog analog of
    * `KvTable.readAsOf`; versions are the monotone batch counter, or
    * the caller's event-time domain when writes used `versionFrom`).
    * `TIMESTAMP AS OF` is deliberately unsupported: the version domain
    * is caller-defined, so a wall-clock mapping would be a guess. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v =
      try version.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"kvtable VERSION AS OF takes a numeric batch version, got '$version'")
      }
    val path = tablePath(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    openTable(path, Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "kvtable: partitioning is managed by the engine (bucket compaction); " +
        "PARTITIONED BY is not supported")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val path = tablePath(ident)
    val props = properties.asScala
    val key = props.getOrElse("kv.key", schema.fieldNames.head)
    require(schema.fieldNames.contains(key),
      s"kv.key '$key' is not a declared column")
    val values = schema.fields.filterNot(_.name == key).map { f =>
      props.get(s"kv.map.${f.name}") match {
        case Some(fq) => fq.split(":", 2) match {
          case Array(fam, qual) => KvField(f.name, fam, qual)
          case _ => throw new IllegalArgumentException(
            s"kv.map.${f.name} must be 'family:qualifier', got '$fq'")
        }
        case None => KvField(f.name, "f", f.name)
      }
    }
    val kvSchema = KvSchema(key, values.toSeq)
    val c = conf
    val fileSchema = KvDdl.createEmpty(path, kvSchema, schema, c)
    new KvBatchTable(path, fileSchema, hadoopConf = c)
  }

  /** Schema evolution: `ALTER TABLE t ADD COLUMNS (c TYPE [COMMENT
    * 'family:qualifier'])` and `ALTER TABLE t DROP COLUMN c`. The log's
    * files are immutable, so evolution is pure METADATA — adding a
    * column null-fills it in every existing row (the readers treat an
    * absent parquet field as null), dropping one merely hides it (the
    * bytes stay in the files, like dropping an HBase column qualifier
    * from a scan's projection). The (family, qualifier) address of an
    * added column comes from its COMMENT when it matches 'fam:qual',
    * else defaults to ('f', name) — the same convention as kv.map at
    * CREATE. The rowkey cannot be dropped or replaced. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePath(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    graft.kv.TableLock.withLock(path, conf) {
      var kv = readKvSchema(path)
      changes.foreach {
        case add: TableChange.AddColumn =>
          require(add.fieldNames.length == 1,
            "kvtable: nested columns are not supported")
          val name = add.fieldNames()(0)
          require(name != kv.keyField && !kv.valueFields.exists(_.name == name),
            s"kvtable: column '$name' already exists")
          val (fam, qual) = Option(add.comment())
            .map(_.split(":", 2)).collect {
              case Array(f0, q0) if f0.nonEmpty && q0.nonEmpty => (f0, q0)
            }.getOrElse(("f", name))
          kv = KvSchema(kv.keyField, kv.valueFields :+ KvField(name, fam, qual))
          addManifestColumn(path, name, add.dataType())
        case del: TableChange.DeleteColumn =>
          require(del.fieldNames.length == 1,
            "kvtable: nested columns are not supported")
          val name = del.fieldNames()(0)
          require(name != kv.keyField, "kvtable: the rowkey cannot be dropped")
          require(kv.valueFields.exists(_.name == name),
            s"kvtable: no such column '$name'")
          kv = KvSchema(kv.keyField, kv.valueFields.filterNot(_.name == name))
          dropManifestColumn(path, name)
        case other => throw new UnsupportedOperationException(
          s"kvtable: unsupported ALTER TABLE change $other")
      }
      val out = fs(path).create(schemaFileOf(path), true)
      try out.write(kv.toJson.getBytes("UTF-8")) finally out.close()
    }
    openTable(path)
  }

  private def readKvSchema(path: String): KvSchema = {
    val in = fs(path).open(schemaFileOf(path))
    val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    KvSchema.fromJson(s)
  }

  /** Rewrite the manifest base with the column added to the parquet
    * schema (before the engine columns), folding any segments so file
    * stats survive — metadata-only, no data IO. */
  private def addManifestColumn(path: String, name: String,
                                dt: org.apache.spark.sql.types.DataType): Unit = {
    val manifest = KvStats.read(path, conf).getOrElse(
      throw new IllegalStateException(s"kvtable($path): no stats manifest"))
    val msg = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType(manifest.schema)
    val added = KvWriteUtil.toParquetSchema(
      new StructType().add(name, dt)).getFields.get(0)
    val engine = Set(graft.kv.KvTable.VersionCol, graft.kv.KvTable.SeqCol,
      graft.kv.KvTable.TombstoneCol)
    val (front, back) = msg.getFields.asScala.toSeq
      .partition(f => !engine(f.getName))
    val fields: util.List[org.apache.parquet.schema.Type] =
      ((front :+ added) ++ back).asJava
    rewriteManifest(path, manifest,
      new org.apache.parquet.schema.MessageType("spark_schema", fields).toString)
  }

  private def dropManifestColumn(path: String, name: String): Unit = {
    val manifest = KvStats.read(path, conf).getOrElse(return)
    val msg = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType(manifest.schema)
    val fields: util.List[org.apache.parquet.schema.Type] =
      msg.getFields.asScala.filterNot(_.getName == name).toSeq.asJava
    rewriteManifest(path, manifest,
      new org.apache.parquet.schema.MessageType("spark_schema", fields).toString)
  }

  private def rewriteManifest(path: String, folded: KvStats.Manifest,
                              newSchema: String): Unit = {
    KvStats.clear(path, conf)
    KvStats.write(path, KvStats.Manifest(newSchema, folded.files), conf)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val existed = tableExists(ident)
    if (existed) fs(warehouse).delete(new HPath(tablePath(ident)), true)
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val dst = new HPath(tablePath(newIdent))
    val f = fs(warehouse)
    f.mkdirs(dst.getParent)
    if (!f.rename(new HPath(tablePath(oldIdent)), dst))
      throw new java.io.IOException(
        s"kvtable: could not rename $oldIdent to $newIdent")
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new HPath((warehouse +: namespace.toSeq).mkString("/"))
    val f = fs(warehouse)
    if (!f.exists(dir)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(dir).toSeq
      .filter(s => s.isDirectory &&
        f.exists(schemaFileOf(s.getPath.toString)))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  // --- namespaces: directories under the warehouse ---

  override def listNamespaces(): Array[Array[String]] = {
    val f = fs(warehouse)
    val root = new HPath(warehouse)
    if (!f.exists(root)) Array.empty
    else f.listStatus(root).toSeq.filter(_.isDirectory)
      .filterNot(s => f.exists(schemaFileOf(s.getPath.toString)))
      .map(s => Array(s.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      fs(warehouse).exists(
        new HPath((warehouse +: namespace.toSeq).mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    fs(warehouse).mkdirs(
      new HPath((warehouse +: namespace.toSeq).mkString("/")))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("kvtable: namespace metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = new HPath((warehouse +: namespace.toSeq).mkString("/"))
    val f = fs(warehouse)
    val existed = f.exists(p)
    if (existed) {
      if (!cascade && f.listStatus(p).nonEmpty)
        throw new IllegalStateException(s"namespace not empty: ${namespace.mkString(".")}")
      f.delete(p, true)
    }
    existed
  }
}

/** `CALL <catalog>.system.compact(table => 'ns.t' [, buckets => N])` —
  * major compaction through SQL: rewrites the log to one current
  * version per key ([[graft.kv.KvTable.compact]]); `buckets > 0`
  * compacts INTO a hash-bucketed layout
  * ([[graft.kv.KvTable.compactBucketed]]) so later point lookups prune
  * to one bucket directory. Side-effect procedure: returns no rows.
  * Serialized against concurrent writers by the table lock. */
class KvCompactProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure with procedures.BoundProcedure {

  override def name(): String = "compact"
  override def description(): String =
    "major-compact a kvtable (optionally into a bucketed layout)"
  override def bind(inputType: StructType): procedures.BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[procedures.ProcedureParameter] = Array(
    procedures.ProcedureParameter
      .in("table", org.apache.spark.sql.types.DataTypes.StringType)
      .comment("catalog-relative table reference, e.g. ns.t").build(),
    procedures.ProcedureParameter
      .in("buckets", org.apache.spark.sql.types.DataTypes.IntegerType)
      .defaultValue("0")
      .comment("hash-bucket count for the compacted layout; 0 = flat").build())

  override def call(input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    val tableRef = input.getUTF8String(0).toString
    val buckets = if (input.isNullAt(1)) 0 else input.getInt(1)
    val spark = org.apache.spark.sql.SparkSession.active
    val path = cat.resolvePath(tableRef)
    if (buckets > 0) graft.kv.KvTable.compactBucketed(spark, path, buckets)
    else graft.kv.KvTable.compact(spark, path)
    java.util.Collections.emptyIterator()
  }
}

/** `CALL <catalog>.system.compact_minor(table => 'ns.t'
  * [, small_file_bytes => N])` — minor compaction through SQL: merge
  * each region's small files into one without rewriting the table
  * ([[graft.kv.KvTable.compactMinor]]); lossless, preserves version
  * history. Side-effect procedure: returns no rows. */
class KvCompactMinorProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure with procedures.BoundProcedure {

  override def name(): String = "compact_minor"
  override def description(): String =
    "merge a kvtable's small files per bucket (lossless minor compaction)"
  override def bind(inputType: StructType): procedures.BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[procedures.ProcedureParameter] = Array(
    procedures.ProcedureParameter
      .in("table", org.apache.spark.sql.types.DataTypes.StringType)
      .comment("catalog-relative table reference, e.g. ns.t").build(),
    procedures.ProcedureParameter
      .in("small_file_bytes", org.apache.spark.sql.types.DataTypes.LongType)
      .defaultValue(s"${32L * 1024 * 1024}")
      .comment("files below this size are merged").build())

  override def call(input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    val tableRef = input.getUTF8String(0).toString
    val small =
      if (input.isNullAt(1)) 32L * 1024 * 1024 else input.getLong(1)
    val spark = org.apache.spark.sql.SparkSession.active
    graft.kv.KvTable.compactMinor(spark, cat.resolvePath(tableRef), small)
    java.util.Collections.emptyIterator()
  }
}

/** `CALL <catalog>.system.zorder(table => 'ns.t', columns => 'a,b'
  * [, cells => N])` — Z-order clustering through SQL
  * ([[graft.kv.KvTable.compactZOrder]]): major-compacts the table along
  * a Morton curve over the named columns so stats pruning serves
  * selective predicates on any of them (the Delta/Iceberg
  * `OPTIMIZE ... ZORDER BY` admin verb). Side-effect procedure. */
class KvZOrderProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure with procedures.BoundProcedure {

  override def name(): String = "zorder"
  override def description(): String =
    "rewrite a kvtable clustered along a Z-curve over the given columns"
  override def bind(inputType: StructType): procedures.BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[procedures.ProcedureParameter] = Array(
    procedures.ProcedureParameter
      .in("table", org.apache.spark.sql.types.DataTypes.StringType)
      .comment("catalog-relative table reference, e.g. ns.t").build(),
    procedures.ProcedureParameter
      .in("columns", org.apache.spark.sql.types.DataTypes.StringType)
      .comment("comma-separated cluster columns (numeric/date/timestamp)")
      .build(),
    procedures.ProcedureParameter
      .in("cells", org.apache.spark.sql.types.DataTypes.IntegerType)
      .defaultValue("256")
      .comment("quantile cells per column (rank resolution)").build())

  override def call(input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    val tableRef = input.getUTF8String(0).toString
    val cols = input.getUTF8String(1).toString.split(",")
      .map(_.trim).filter(_.nonEmpty).toSeq
    val cells = if (input.isNullAt(2)) 256 else input.getInt(2)
    val spark = org.apache.spark.sql.SparkSession.active
    graft.kv.KvTable.compactZOrder(spark, cat.resolvePath(tableRef),
      cols, cells)
    java.util.Collections.emptyIterator()
  }
}

/** `CALL <catalog>.system.create_matview(base => 'ns.b', view => 'ns.v',
  * group_col => 'g', sum_cols => 'a,b')` — materialize a per-group
  * cnt/sum aggregate view of a base table
  * ([[graft.kv.KvMatView.build]]); thereafter `refresh_matview` advances
  * it incrementally from the base's CDC feed. */
class KvCreateMatViewProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure with procedures.BoundProcedure {

  override def name(): String = "create_matview"
  override def description(): String =
    "materialize a per-group cnt/sum aggregate view of a kvtable"
  override def bind(inputType: StructType): procedures.BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[procedures.ProcedureParameter] = Array(
    procedures.ProcedureParameter
      .in("base", org.apache.spark.sql.types.DataTypes.StringType)
      .comment("catalog-relative base table reference").build(),
    procedures.ProcedureParameter
      .in("view", org.apache.spark.sql.types.DataTypes.StringType)
      .comment("catalog-relative view table reference (created)").build(),
    procedures.ProcedureParameter
      .in("group_col", org.apache.spark.sql.types.DataTypes.StringType)
      .comment("base value column to group by (becomes the view rowkey)")
      .build(),
    procedures.ProcedureParameter
      .in("sum_cols", org.apache.spark.sql.types.DataTypes.StringType)
      .defaultValue("''")
      .comment("comma-separated base columns to sum (exact types only)")
      .build())

  override def call(input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    val base = input.getUTF8String(0).toString
    val view = input.getUTF8String(1).toString
    val groupCol = input.getUTF8String(2).toString
    val sumCols =
      if (input.isNullAt(3)) Seq.empty
      else input.getUTF8String(3).toString.split(",")
        .map(_.trim).filter(_.nonEmpty).toSeq
    val spark = org.apache.spark.sql.SparkSession.active
    graft.kv.KvMatView.build(spark, cat.resolvePath(base),
      cat.resolveNewPath(view), groupCol, sumCols)
    java.util.Collections.emptyIterator()
  }
}

/** `CALL <catalog>.system.refresh_matview(base => 'ns.b',
  * view => 'ns.v')` — delta-maintain a materialized aggregate view from
  * its base table's CDC feed ([[graft.kv.KvMatView.refresh]]): cost is
  * O(keys changed since the view's checkpoint), not O(base). */
class KvRefreshMatViewProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure with procedures.BoundProcedure {

  override def name(): String = "refresh_matview"
  override def description(): String =
    "incrementally refresh a materialized aggregate view from its base"
  override def bind(inputType: StructType): procedures.BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[procedures.ProcedureParameter] = Array(
    procedures.ProcedureParameter
      .in("base", org.apache.spark.sql.types.DataTypes.StringType)
      .comment("catalog-relative base table reference").build(),
    procedures.ProcedureParameter
      .in("view", org.apache.spark.sql.types.DataTypes.StringType)
      .comment("catalog-relative view table reference").build())

  override def call(input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    val base = input.getUTF8String(0).toString
    val view = input.getUTF8String(1).toString
    val spark = org.apache.spark.sql.SparkSession.active
    graft.kv.KvMatView.refresh(spark, cat.resolvePath(base),
      cat.resolvePath(view))
    java.util.Collections.emptyIterator()
  }
}

/** `t$files` metadata table: the stats manifest as SQL rows — one per
  * data file with size, row count, row-group count, and the rowkey's
  * min/max (from the per-group column stats, merged per type tag).
  * Planning is one driver JSON read (the same manifest scans plan
  * from); no data or footer IO. */
class KvFilesMetaTable(path: String) extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read._
  import org.apache.spark.sql.types._

  override def name(): String = s"kvtable-files($path)"
  override def schema(): StructType = KvFilesMetaTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = KvFilesMetaTable.Schema
        override def description(): String = s"kvtable-files $path"
        override def toBatch: Batch = this

        override def planInputPartitions(): Array[InputPartition] = {
          val conf = KvHadoopConf.active()
          val key = KvV2Util.readKeyField(path, conf)
          val files = KvStats.read(path, conf).map(_.files)
            .getOrElse(Seq.empty)
          val rows = files.map { f =>
            val ks = key.toSeq.flatMap(k =>
              f.groups.flatMap(_.stats.get(k)).filter(_.t != "n"))
            def pick(best: (String, String) => Boolean): String =
              if (ks.isEmpty) null
              else ks.map(c => (c.t, c)).foldLeft(null: String) {
                case (null, (_, c)) => bestOf(c.t, c.mn, c.mx, best)
                case (acc, (t, c)) =>
                  val cand = bestOf(t, c.mn, c.mx, best)
                  if (best(cand, acc)) cand else acc
              }
            def bestOf(t: String, mn: String, mx: String,
                       best: (String, String) => Boolean): String =
              if (best(mn, mx)) mn else mx
            def lt(t: String)(a: String, b: String): Boolean = t match {
              case "l" => a.toLong < b.toLong
              case "d" => a.toDouble < b.toDouble
              case _ => a < b
            }
            val tag = ks.headOption.map(_.t).getOrElse("s")
            (f.path, f.len, f.groups.map(_.rows).sum, f.groups.length,
              if (ks.isEmpty) null else pick(lt(tag)),
              if (ks.isEmpty) null else pick((a, b) => !lt(tag)(a, b)))
          }
          Array(KvFilesPartition(rows))
        }

        override def createReaderFactory(): PartitionReaderFactory =
          new KvFilesReaderFactory
      }
    }
}

object KvFilesMetaTable {
  import org.apache.spark.sql.types._
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType), StructField("bytes", LongType),
    StructField("rows", LongType), StructField("row_groups", IntegerType),
    StructField("key_min", StringType), StructField("key_max", StringType)))
}

case class KvFilesPartition(
    rows: Seq[(String, Long, Long, Int, String, String)])
  extends org.apache.spark.sql.connector.read.InputPartition

class KvFilesReaderFactory
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[KvFilesPartition].rows.iterator
      private var cur: InternalRow = _
      override def next(): Boolean = {
        if (!it.hasNext) return false
        val (f, bytes, rows, groups, kmin, kmax) = it.next()
        def s(x: String) = if (x == null) null else UTF8String.fromString(x)
        cur = new GenericInternalRow(
          Array[Any](s(f), bytes, rows, groups, s(kmin), s(kmax)))
        true
      }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
}

/** Storage-side DDL shared by the SQL catalog ([[KvCatalog]]) and the
  * transport SPI ([[graft.kv.ParquetKvStore]]) — one definition of what
  * "an empty, immediately-loadable KV table" is on disk. */
object KvDdl {

  /** Persist an empty table at `path`: `_kvschema.json`, zeroed meta,
    * and a schema-bearing empty stats manifest so reads work with zero
    * data files (and zero footer IO forever after). `logical` is the
    * key + value column types. Returns the on-disk file schema (logical
    * plus engine columns). */
  def createEmpty(path: String, kv: KvSchema, logical: StructType,
                  conf: Configuration): StructType = {
    require(logical.fieldNames.contains(kv.keyField),
      s"kvtable: key '${kv.keyField}' missing from declared columns")
    val f = new HPath(path).getFileSystem(conf)
    // the empty data dir makes the v1 parquet read path hit
    // UNABLE_TO_INFER_SCHEMA (handled: empty DF with the manifest
    // schema) instead of PATH_NOT_FOUND on a freshly created table
    f.mkdirs(new HPath(s"$path/data"))
    val out = f.create(new HPath(s"$path/_kvschema.json"), true)
    try out.write(kv.toJson.getBytes("UTF-8")) finally out.close()
    KvV2Util.writeMeta(path, conf, version = 0L, buckets = 0)
    val fileSchema = KvWriteUtil.fileSchema(logical, synth = true)
    KvStats.write(path,
      KvStats.Manifest(KvWriteUtil.toParquetSchema(fileSchema).toString,
        Seq.empty), conf)
    fileSchema
  }
}
