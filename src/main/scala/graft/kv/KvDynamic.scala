package graft.kv

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.connector.KvHadoopConf

/** Dynamic column-family mode (SURVEY.md §1's schemaless-wide-row
  * extension): rows are `rowkey -> {family -> {qualifier -> value}}`
  * with an OPEN qualifier set, the HBase data model the reference's
  * fixed `fieldMap` schema (`HBaseScheme.java:55`) cannot express.
  *
  * Storage model: an append-only CELL log — one row per
  * (key, family, qualifier) mutation, exactly HBase's KeyValue layout —
  * as flat parquet (`family`/`qualifier` are ordinary low-cardinality
  * string columns that dictionary-encode to near nothing). LWW collapse
  * happens per CELL, not per row: a Put of {f:q1} then {f:q2} on the
  * same key yields a row holding both cells, matching HBase merge
  * semantics (the fixed-schema [[KvTable]] replaces whole rows, which is
  * what the reference's sink does with its complete tuples).
  *
  * Deletes: `deleteRows` appends a row tombstone (family = null) hiding
  * every older cell of the key — HBase `Delete(row)`; `deleteCells`
  * appends per-cell tombstones — `Delete.deleteColumn`.
  *
  * Scale notes: appends are pure file adds. The read view is one
  * partial-agg shuffle keyed by (key, family, qualifier) — finer keys
  * than row-level LWW, but pre-shuffle partial `max_by` still bounds
  * shuffle volume by live-cell count per partition. Values are strings
  * (the reference stores stringly-typed cells, `HBaseScheme.java:120`);
  * route binary payloads through [[graft.ops.Ops.encodeUtf8]]/base64 or
  * the fixed-schema binary cells.
  */
object KvDynamic {
  import KvTable.{SeqCol, TombstoneCol, VersionCol}

  val KeyCol = "__key"
  val FamilyCol = "family"
  val QualifierCol = "qualifier"
  val ValueCol = "value"

  private def dataDir(path: String) = s"$path/data"
  private def metaFile(path: String) = s"$path/_kvdynamic.json"

  private def fs(spark: SparkSession, path: String) =
    new HPath(path).getFileSystem(KvHadoopConf(spark))

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new HPath(metaFile(path)))

  def drop(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new HPath(path), true)

  /** (keyField, families seen so far, lastVersion). */
  private def readMeta(spark: SparkSession, path: String): (String, Seq[String], Long) = {
    val f = fs(spark, path)
    if (!f.exists(new HPath(metaFile(path)))) ("", Seq.empty, 0L)
    else {
      val in = f.open(new HPath(metaFile(path)))
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val key = "\"keyField\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(s)
        .map(_.group(1)).getOrElse("")
      val fams = "\"families\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(s)
        .map(_.group(1)).getOrElse("")
        .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSeq
      val ver = "\"lastVersion\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s)
        .map(_.group(1).toLong).getOrElse(0L)
      (key, fams, ver)
    }
  }

  private def writeMeta(spark: SparkSession, path: String, keyField: String,
                        families: Seq[String], version: Long): Unit = {
    // family names are identifiers, not data: reject anything the
    // line-format meta file (and sane HBase schemas) can't represent —
    // an unescaped quote/comma would silently corrupt the family list.
    families.foreach { f =>
      require(f != null && f.nonEmpty && !f.exists(c => c == '"' || c == ','),
        s"invalid family name ${String.valueOf(f)}: must be non-empty, " +
          "without quotes or commas")
    }
    val fams = families.distinct.sorted.map(f => s""""$f"""").mkString(",")
    val out = fs(spark, path).create(new HPath(metaFile(path)), true)
    try out.write(
      s"""{"keyField":"$keyField","families":[$fams],"lastVersion":$version}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  def families(spark: SparkSession, path: String): Seq[String] =
    readMeta(spark, path)._2

  /** Append CELL rows: `cells` must have columns
    * (`keyField`, family, qualifier, value) — one row per cell.
    * @param versionFrom optional LWW version column (e.g. event time);
    *   default: driver-allocated batch counter, like [[KvTable.write]].
    * @param declaredFamilies the batch's family names, when the caller
    *   knows them (it almost always does — families are schema-design,
    *   not data). Families are additive metadata, so over-declaring is
    *   harmless (empty map column in the wide view); UNDER-declaring
    *   hides the missing family from the wide [[read]] view (cells stay
    *   visible in [[readCells]]) — declare every family the batch
    *   writes. When omitted, families are discovered by an `observe`
    *   metric piggybacked on the write job itself: no extra scan, no
    *   driver-side collect of data rows (family names are bounded
    *   schema-cardinality output).
    */
  def writeCells(cells: DataFrame, path: String, keyField: String,
                 mode: SinkMode = SinkMode.Append,
                 versionFrom: Option[Column] = None,
                 declaredFamilies: Option[Seq[String]] = None): Unit = {
    val spark = cells.sparkSession
    TableLock.withLock(path, KvHadoopConf(spark)) {
    mode match {
      case SinkMode.Keep if exists(spark, path) =>
        throw new IllegalStateException(s"KvDynamic $path exists and mode is Keep")
      case SinkMode.Replace => drop(spark, path)
      case _ => ()
    }
    val (prevKey, prevFams, prevVer) = readMeta(spark, path)
    require(prevKey.isEmpty || prevKey == keyField,
      s"KvDynamic $path key mismatch: $prevKey vs $keyField")
    val batch = prevVer + 1
    val version = versionFrom.getOrElse(lit(batch)).cast("long")
    val out = cells
      .withColumn(VersionCol, version)
      .select(col(keyField).cast("string").as(KeyCol),
        col(FamilyCol).cast("string"), col(QualifierCol).cast("string"),
        col(ValueCol).cast("string"), col(VersionCol))
      .withColumn(SeqCol, monotonically_increasing_id())
      .withColumn(TombstoneCol, lit(false))
    // Family discovery rides the write job as an observe metric
    // (collect_set drops nulls — a null-family non-tombstone cell is
    // meaningless and invisible to both read branches): zero extra
    // scans, bounded driver output. writeMeta validates the names.
    val obs = declaredFamilies match {
      case Some(_) => None
      case None => Some(new org.apache.spark.sql.Observation())
    }
    val observed = obs match {
      case Some(o) => out.observe(o, collect_set(col(FamilyCol)).as("fams"))
      case None => out
    }
    observed.write.mode("append").parquet(dataDir(path))
    val newFams = declaredFamilies.getOrElse(
      obs.get.get.apply("fams").asInstanceOf[scala.collection.Seq[String]].toSeq)
    writeMeta(spark, path, keyField, prevFams ++ newFams, batch)
    }
  }

  /** Wide-row convenience write: `df` holds the key plus one
    * `MapType(string, string)` column PER FAMILY (named after it);
    * maps explode to cells. Null/missing maps contribute nothing.
    * NOTE: the per-family union re-executes `df`'s subplan once per
    * family (Spark self-union semantics) — for an expensive upstream
    * `df`, persist it first or write through [[writeCells]]. */
  def writeWide(df: DataFrame, path: String, keyField: String,
                familyCols: Seq[String],
                mode: SinkMode = SinkMode.Append): Unit = {
    val perFam = familyCols.map { f =>
      df.select(col(keyField),
          explode(col(f)).as(Seq(QualifierCol, ValueCol)))
        .withColumn(FamilyCol, lit(f))
    }
    writeCells(perFam.reduce(_ unionByName _), path, keyField, mode,
      declaredFamilies = Some(familyCols))
  }

  /** HBase `Delete(row)`: hide every older cell of each key. */
  def deleteRows(keys: DataFrame, path: String, keyField: String,
                 version: Option[Long] = None): Unit =
    appendTombstones(keys.select(col(keyField).cast("string").as(KeyCol),
      lit(null).cast("string").as(FamilyCol),
      lit(null).cast("string").as(QualifierCol)), path, version)

  /** HBase `Delete.deleteColumn`: hide single cells.
    * `cells`: (key, family, qualifier). */
  def deleteCells(cells: DataFrame, path: String, keyField: String,
                  version: Option[Long] = None): Unit =
    appendTombstones(cells.select(col(keyField).cast("string").as(KeyCol),
      col(FamilyCol).cast("string"), col(QualifierCol).cast("string")),
      path, version)

  private def appendTombstones(rows: DataFrame, path: String,
                               version: Option[Long]): Unit = {
    val spark = rows.sparkSession
    TableLock.withLock(path, KvHadoopConf(spark)) {
    require(exists(spark, path), s"KvDynamic $path does not exist")
    val (keyField, fams, prevVer) = readMeta(spark, path)
    val batch = version.getOrElse(prevVer + 1)
    rows
      .withColumn(ValueCol, lit(null).cast("string"))
      .withColumn(VersionCol, lit(batch))
      .withColumn(SeqCol, monotonically_increasing_id())
      .withColumn(TombstoneCol, lit(true))
      .select(KeyCol, FamilyCol, QualifierCol, ValueCol,
        VersionCol, SeqCol, TombstoneCol)
      .write.mode("append").parquet(dataDir(path))
    // never regress the counter: persisting a caller-supplied OLDER
    // version would let a later auto-versioned write collide with live
    // cell versions and decide LWW by arbitrary seq ties
    writeMeta(spark, path, keyField, fams, math.max(prevVer, batch))
    }
  }

  /** Flat LWW cell view: one row per LIVE (key, family, qualifier),
    * newest version wins per cell, row/cell tombstones applied. */
  def readCells(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.parquet(dataDir(path))
    val ord = struct(col(VersionCol), col(SeqCol))
    // newest row tombstone per key (family null = whole-row delete)
    val rowTombs = raw.filter(col(TombstoneCol) && col(FamilyCol).isNull)
      .groupBy(col(KeyCol)).agg(max(ord).as("__rt"))
    // per-cell LWW: the winning mutation may itself be a cell tombstone
    val cellW = raw.filter(col(FamilyCol).isNotNull)
      .groupBy(col(KeyCol), col(FamilyCol), col(QualifierCol))
      .agg(max_by(struct(col(TombstoneCol), col(ValueCol),
        col(VersionCol), col(SeqCol)), ord).as("__c"))
      .filter(!col("__c")(TombstoneCol))
    cellW.join(rowTombs, Seq(KeyCol), "left")
      .filter(col("__rt").isNull ||
        struct(col("__c")(VersionCol), col("__c")(SeqCol)) > col("__rt"))
      .select(col(KeyCol), col(FamilyCol), col(QualifierCol),
        col("__c")(ValueCol).as(ValueCol),
        col("__c")(VersionCol).as("version"))
  }

  /** Wide read view: key + one `map<string,string>` column per family
    * ever written (map entries sorted by qualifier — deterministic).
    * A table whose meta records no families (all writes were tombstones
    * or empty batches) yields a key-only view of the live keys. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val (keyField, fams, _) = readMeta(spark, path)
    val cells = readCells(spark, path)
    val aggs = fams.sorted.map { f =>
      map_from_entries(sort_array(collect_list(
        when(col(FamilyCol) === f,
          struct(col(QualifierCol), col(ValueCol)))))).as(f)
    }
    if (aggs.isEmpty)
      cells.select(col(KeyCol).as(keyField)).distinct()
    else
      cells.groupBy(col(KeyCol).as(keyField))
        .agg(aggs.head, aggs.tail: _*)
  }
}
