package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.kv.{KvAppend, KvCounter, KvDynamic, KvIndex, KvMatView, KvReplica, KvSchema, KvTable, SinkMode}

/** Queries exercising the KV-table surface — the reference's REF
  * operators (SURVEY.md §2a/§2d): upsert-by-rowkey LWW reads, rowkey
  * range scans, APPEND accumulation. `kv_roundtrip` and `kv_scan_range`
  * run the REAL KvTable write/read path (parquet log + LWW view), so the
  * oracle checks the engine end-to-end, not just a plan rewrite.
  *
  * Each query's scratch-table construction lives in a `setup*` function
  * guarded by [[ensureSetup]]: correctness runs always rebuild; Bench
  * builds once untimed and then times the read path alone (an HBase
  * benchmark times Get/Scan, not table loading).
  */
object KvQueries {

  /** Deterministic total LWW version for orders: event-time (seconds)
    * widened to make room for the unique orderkey tiebreak — the
    * reference inherits HBase's timestamp+seqid tiebreak implicitly;
    * here it is explicit and reproducible.
    */
  private val orderVersion =
    (unix_timestamp(col("o_orderdate")) * lit(1000000000L) + col("o_orderkey"))

  private val ordersSchema = KvSchema.of("o_custkey",
    "o_orderkey" -> ("o", "orderkey"),
    "o_totalprice" -> ("o", "totalprice"))

  // --- setup functions (idempotent; REPLACE-first) ---

  private def setupRoundtrip(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_roundtrip", dir)
    ensureSetup(path) {
      val schema = KvSchema.of("o_custkey",
        "o_orderkey" -> ("o", "orderkey"),
        "o_orderstatus" -> ("o", "status"),
        "o_totalprice" -> ("o", "totalprice"))
      KvTable.write(table(s, dir, "orders"), path, schema, SinkMode.Replace,
        versionFrom = Some(orderVersion))
    }
    path
  }

  /** Source + replica pair exercising [[graft.kv.KvReplica]]: an initial
    * sync copies the pre-1996 orders, then an append batch AND tombstone
    * deletes land on the source, and a second (incremental) sync ships
    * only those — the replica's LWW view must equal the source's final
    * state, updates and deletes included.
    */
  private def setupReplica(s: SparkSession, dir: String): String = {
    val src = scratchDir("kv_replica_src", dir)
    val dst = scratchDir("kv_replica_dst", dir)
    ensureSetup(dst) {
      KvTable.drop(s, src)
      KvTable.drop(s, dst)
      val o = table(s, dir, "orders")
      val old = o.filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      val recent = o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      KvTable.write(old, src, ordersSchema, SinkMode.Replace,
        versionFrom = Some(orderVersion))
      KvReplica.sync(s, src, dst) // initial copy
      KvTable.write(recent, src, ordersSchema, SinkMode.Append,
        versionFrom = Some(orderVersion))
      // deletes carry a version ABOVE every event-time version (HBase
      // timestamp-domain discipline, see KvTable.delete's scaladoc)
      KvTable.delete(
        o.select(col("o_custkey")).distinct()
          .filter(pmod(col("o_custkey"), lit(10)) === 0),
        src, ordersSchema, version = Some(4000000000000000000L))
      KvReplica.sync(s, src, dst) // incremental: append batch + tombstones
    }
    dst
  }

  private def setupIndex(s: SparkSession, dir: String): (String, String) = {
    val primary = setupRoundtrip(s, dir)
    val index = scratchDir("kv_index", dir)
    ensureSetup(index) {
      KvIndex.build(s, primary, index, "o_orderstatus",
        covered = Seq("o_orderkey", "o_totalprice"))
    }
    (primary, index)
  }

  private def setupColocated(s: SparkSession, dir: String): (String, String) = {
    val po = scratchDir("kv_coloc_orders", dir)
    ensureSetup(po) {
      KvTable.write(table(s, dir, "orders"), po, ordersSchema,
        SinkMode.Replace, versionFrom = Some(orderVersion))
      KvTable.compactBucketed(s, po, 8)
    }
    val pc = scratchDir("kv_coloc_customer", dir)
    ensureSetup(pc) {
      val custSchema = KvSchema.of("c_custkey",
        "c_name" -> ("c", "name"), "c_acctbal" -> ("c", "acctbal"))
      KvTable.write(
        table(s, dir, "customer").select(col("c_custkey"), col("c_name"),
          col("c_acctbal")),
        pc, custSchema, SinkMode.Replace)
      KvTable.compactBucketed(s, pc, 8)
    }
    (po, pc)
  }

  private def setupMinorCompacted(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_minor", dir)
    ensureSetup(path) {
      val o = table(s, dir, "orders")
      val third = unix_timestamp(col("o_orderdate")) % 3
      // three appends -> several small files, then a lossless minor
      // compaction (every file qualifies) — the LWW view must be
      // untouched by the merge
      KvTable.write(o.filter(third === 0), path, ordersSchema,
        SinkMode.Replace, versionFrom = Some(orderVersion))
      KvTable.write(o.filter(third === 1), path, ordersSchema,
        SinkMode.Append, versionFrom = Some(orderVersion))
      KvTable.write(o.filter(third === 2), path, ordersSchema,
        SinkMode.Append, versionFrom = Some(orderVersion))
      KvTable.compactMinor(s, path, smallFileBytes = Long.MaxValue)
    }
    path
  }

  private def setupExpireCompacted(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_expire", dir)
    ensureSetup(path) {
      KvTable.write(table(s, dir, "orders"), path, ordersSchema,
        SinkMode.Replace, versionFrom = Some(orderVersion))
      // physical TTL: cells before 1996 are DISCARDED by the compaction,
      // so the plain read equals the readTtl view (kv_ttl's oracle)
      KvTable.compact(s, path,
        expireBelow = Some(820454400L * 1000000000L))
    }
    path
  }

  private def setupAppendUpsert(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_append_upsert", dir)
    ensureSetup(path) {
      val o = table(s, dir, "orders")
      val old = o.filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      val recent = o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      KvTable.write(old, path, ordersSchema, SinkMode.Replace,
        versionFrom = Some(orderVersion))
      KvTable.write(recent, path, ordersSchema, SinkMode.Append,
        versionFrom = Some(orderVersion))
    }
    path
  }

  private def setupV2Scan(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_v2_scan", dir)
    ensureSetup(path) {
      KvTable.write(table(s, dir, "orders"), path, ordersSchema,
        SinkMode.Replace, versionFrom = Some(orderVersion))
    }
    path
  }

  /** Register the SQL catalog over the scratch root (idempotent). Tables
    * under it are then addressable as `graft_kv.&#96;name&#96;`. */
  private def ensureCatalog(s: SparkSession): Unit =
    if (!s.conf.getOption("spark.sql.catalog.graft_kv").contains(
      "graft.connector.KvCatalog")) {
      s.conf.set("spark.sql.catalog.graft_kv", "graft.connector.KvCatalog")
      s.conf.set("spark.sql.catalog.graft_kv.warehouse",
        "/root/repo/target/kvscratch")
    }

  /** Catalog identifier of a scratch table (single-part, backticked —
    * scratch names carry dots from the sf tag). */
  private def catalogRef(path: String): String =
    s"graft_kv.`${path.split('/').last}`"

  /** Full SQL lifecycle through [[graft.connector.KvCatalog]]: CREATE
    * TABLE ... USING kvtable, INSERT (engine columns synthesized; each
    * INSERT is one LWW batch — the second updates every F-status order),
    * read back via the catalog identifier. */
  private def setupCatalogSql(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_catalog_sql", dir)
    ensureCatalog(s)
    val t = catalogRef(path)
    ensureSetup(path) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(
        s"""CREATE TABLE $t (
           |  o_orderkey BIGINT, o_custkey BIGINT,
           |  o_totalprice DOUBLE, o_orderstatus STRING)
           |USING kvtable TBLPROPERTIES (
           |  'kv.key'='o_orderkey',
           |  'kv.map.o_custkey'='o:custkey',
           |  'kv.map.o_totalprice'='o:totalprice',
           |  'kv.map.o_orderstatus'='o:status')""".stripMargin)
      table(s, dir, "orders").createOrReplaceTempView("orders_src")
      s.sql(
        s"""INSERT INTO $t (o_orderkey, o_custkey, o_totalprice, o_orderstatus)
           |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
           |FROM orders_src""".stripMargin)
      // second batch = newer version: upserts every F-status order
      s.sql(
        s"""INSERT INTO $t (o_orderkey, o_custkey, o_totalprice, o_orderstatus)
           |SELECT o_orderkey, o_custkey, o_totalprice + 1000.0, o_orderstatus
           |FROM orders_src WHERE o_orderstatus = 'F'""".stripMargin)
    }
    path
  }

  /** SQL DELETE surface (SupportsDelete → tombstone appends): load
    * orders, DELETE an IN-list and an OR-of-equalities by rowkey, then
    * resurrect one deleted key with a newer put — the mutation
    * sequence `TableOutputFormatWrap.java:79-84` dispatches, driven
    * entirely through SQL. */
  private def setupSqlDelete(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_sql_delete", dir)
    ensureCatalog(s)
    val t = catalogRef(path)
    ensureSetup(path) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(
        s"""CREATE TABLE $t (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
           |USING kvtable TBLPROPERTIES (
           |  'kv.key'='o_orderkey',
           |  'kv.map.o_custkey'='o:custkey',
           |  'kv.map.o_totalprice'='o:totalprice')""".stripMargin)
      table(s, dir, "orders").createOrReplaceTempView("orders_src_del")
      s.sql(
        s"""INSERT INTO $t (o_orderkey, o_custkey, o_totalprice)
           |SELECT o_orderkey, o_custkey, o_totalprice
           |FROM orders_src_del""".stripMargin)
      s.sql(s"DELETE FROM $t WHERE o_orderkey IN (${(1 to 40).mkString(", ")})")
      s.sql(s"DELETE FROM $t WHERE o_orderkey = 77 OR o_orderkey = 99")
      s.sql(s"INSERT INTO $t (o_orderkey, o_custkey, o_totalprice) " +
        "VALUES (7, 7, 777.0)")
    }
    path
  }

  /** SQL MERGE surface (delta-based row-level operation on a
    * bucket-compacted table): load orders, compact into buckets, then
    * one MERGE whose source updates even-key orders (price bump),
    * deletes every key divisible by 10, and inserts fresh high keys —
    * the full Put/Delete mutation stream as ONE SQL statement. */
  private def setupSqlMerge(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_sql_merge", dir)
    ensureCatalog(s)
    val t = catalogRef(path)
    ensureSetup(path) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(
        s"""CREATE TABLE $t (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
           |USING kvtable TBLPROPERTIES (
           |  'kv.key'='o_orderkey',
           |  'kv.map.o_custkey'='o:custkey',
           |  'kv.map.o_totalprice'='o:totalprice')""".stripMargin)
      table(s, dir, "orders").createOrReplaceTempView("orders_src_mrg")
      s.sql(
        s"""INSERT INTO $t (o_orderkey, o_custkey, o_totalprice)
           |SELECT o_orderkey, o_custkey, o_totalprice
           |FROM orders_src_mrg""".stripMargin)
      // API compaction (the CALL form is spec-covered; scratch names
      // carry dots from the sf tag, which SQL parses as namespaces)
      KvTable.compactBucketed(s, path, 8)
      s.sql(
        s"""MERGE INTO $t t USING (
           |  SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS p
           |  FROM orders_src_mrg WHERE o_orderkey % 2 = 0
           |  UNION ALL
           |  SELECT o_orderkey + 10000000 AS k, o_custkey AS c,
           |         CAST(1.5 AS DOUBLE) AS p
           |  FROM orders_src_mrg WHERE o_orderkey % 1000 = 7) s
           |ON t.o_orderkey = s.k
           |WHEN MATCHED AND s.k % 10 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p + 100.0
           |WHEN NOT MATCHED THEN
           |  INSERT (o_orderkey, o_custkey, o_totalprice)
           |  VALUES (s.k, s.c, s.p)""".stripMargin)
    }
    path
  }

  private def setupPointGet(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_point_get", dir)
    ensureSetup(path) {
      KvTable.write(table(s, dir, "orders"), path, ordersSchema,
        SinkMode.Replace, versionFrom = Some(orderVersion))
      KvTable.compactBucketed(s, path, buckets = 8)
    }
    path
  }

  private def setupScanRange(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_scan_range", dir)
    ensureSetup(path) {
      val schema = KvSchema.of("rowkey",
        "name" -> ("f", "name"),
        "acctbal" -> ("f", "acctbal"),
        "mktsegment" -> ("f", "mktsegment"))
      val c = table(s, dir, "customer")
        .select(lpad(col("c_custkey").cast("string"), 10, "0").as("rowkey"),
          col("c_name").as("name"), col("c_acctbal").as("acctbal"),
          col("c_mktsegment").as("mktsegment"))
      KvTable.write(c, path, schema, SinkMode.Replace)
    }
    path
  }

  private def setupTombstone(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_tombstone_delete", dir)
    ensureSetup(path) {
      val schema = KvSchema.of("rowkey",
        "name" -> ("f", "name"),
        "mktsegment" -> ("f", "mktsegment"))
      val c = table(s, dir, "customer")
        .select(lpad(col("c_custkey").cast("string"), 10, "0").as("rowkey"),
          col("c_name").as("name"), col("c_mktsegment").as("mktsegment"))
      KvTable.write(c, path, schema, SinkMode.Replace)
      KvTable.delete(c.filter(col("mktsegment") === "BUILDING")
        .select(col("rowkey")), path, schema)
    }
    path
  }

  private def setupV2Bucketed(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_v2_bucketed_delete", dir)
    ensureSetup(path) {
      val schema = KvSchema.of("rowkey",
        "name" -> ("f", "name"),
        "mktsegment" -> ("f", "mktsegment"))
      val c = table(s, dir, "customer")
        .select(lpad(col("c_custkey").cast("string"), 10, "0").as("rowkey"),
          col("c_name").as("name"), col("c_mktsegment").as("mktsegment"))
      // full V2 lifecycle on a bucket-compacted table: Replace-write,
      // bucket-compact, bucket-aligned upsert append, tombstone delete —
      // all through the V2 connector's single Put/Delete writer
      // (TableOutputFormatWrap.java:79-84).
      KvTable.write(c, path, schema, SinkMode.Replace)
      KvTable.compactBucketed(s, path, buckets = 4)
      KvTable.write(c.filter(col("mktsegment") === "MACHINERY")
        .withColumn("name", upper(col("name"))), path, schema)
      KvTable.delete(c.filter(col("mktsegment") === "BUILDING")
        .select(col("rowkey")), path, schema)
    }
    path
  }

  private val mvSchema = KvSchema.of("o_custkey",
    "o_orderkey" -> ("o", "orderkey"),
    "o_orderstatus" -> ("o", "status"),
    "o_totalprice" -> ("o", "totalprice"))

  private def setupMatView(s: SparkSession, dir: String): (String, String) = {
    val base = scratchDir("kv_mv_base", dir)
    val view = scratchDir("kv_mv_view", dir)
    ensureSetup(view) {
      // totalprice goes through DECIMAL so the view's sums are exact and
      // order-independent (testdata stores it as DOUBLE; the 2-decimal
      // values cast losslessly, mirrored in the oracle)
      val o = table(s, dir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)"))
      val old = o.filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      val recent = o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      // view built over the pre-1996 live view, then maintained
      // INCREMENTALLY across an upsert append AND a delete batch — the
      // refresh only reads the changed keys, not the table
      KvTable.write(old, base, mvSchema, SinkMode.Replace,
        versionFrom = Some(orderVersion))
      KvMatView.build(s, base, view, "o_orderstatus", Seq("o_totalprice"))
      KvTable.write(recent, base, mvSchema, SinkMode.Append,
        versionFrom = Some(orderVersion))
      // event-time-versioned base: the delete batch must dominate the
      // event-time domain, not the batch counter
      KvTable.delete(
        o.filter(col("o_custkey") % 10 === 0).select(col("o_custkey"))
          .distinct(),
        base, mvSchema, version = Some(KvTable.maxVersion(s, base) + 1))
      KvMatView.refresh(s, base, view)
    }
    (base, view)
  }

  private def setupZOrder(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_zorder", dir)
    ensureSetup(path) {
      val schema = KvSchema.of("o_orderkey",
        "o_custkey" -> ("o", "custkey"),
        "o_totalprice" -> ("o", "totalprice"))
      KvTable.write(table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        path, schema, SinkMode.Replace)
      KvTable.compactZOrder(s, path, Seq("o_custkey", "o_totalprice"))
    }
    path
  }

  private def setupDynamic(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_dynamic_wide", dir)
    ensureSetup(path) {
      val c = table(s, dir, "customer")
        .select(lpad(col("c_custkey").cast("string"), 10, "0").as("rowkey"),
          col("c_name"), col("c_mktsegment"), col("c_nationkey"))
      def cells(family: String, qualifier: String, value: org.apache.spark.sql.Column) =
        c.select(col("rowkey"), lit(family).as("family"),
          lit(qualifier).as("qualifier"), value.cast("string").as("value"))
      // write 1: profile family (name + segment cells). Families are
      // DECLARED (schema design, known to the writer) — discovery is the
      // fallback for ad-hoc batches.
      KvDynamic.writeCells(
        cells("prof", "name", col("c_name"))
          .unionByName(cells("prof", "segment", col("c_mktsegment"))),
        path, "rowkey", SinkMode.Replace,
        declaredFamilies = Some(Seq("prof")))
      // write 2 MERGES: a new family's cells plus a segment UPDATE for
      // MACHINERY rows — their name cell must survive (cell-level LWW)
      KvDynamic.writeCells(
        cells("acct", "nation", col("c_nationkey"))
          .unionByName(c.filter(col("c_mktsegment") === "MACHINERY")
            .select(col("rowkey"), lit("prof").as("family"),
              lit("segment").as("qualifier"), lit("MACH").as("value"))),
        path, "rowkey",
        declaredFamilies = Some(Seq("acct", "prof")))
      // row deletes (BUILDING) and single-cell deletes (FURNITURE names)
      KvDynamic.deleteRows(c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("rowkey")), path, "rowkey")
      KvDynamic.deleteCells(c.filter(col("c_mktsegment") === "FURNITURE")
        .select(col("rowkey"), lit("prof").as("family"),
          lit("name").as("qualifier")), path, "rowkey")
    }
    path
  }

  /** HBase-Increment-style counter lifecycle: accumulate pre-1995 order
    * totals (in cents) as delta cells, tombstone every 7th customer,
    * MAJOR-COMPACT mid-sequence (totals materialize, masked history and
    * tombstones drop), then keep incrementing — the read view must be
    * insensitive to where the compaction happened. */
  private def setupCounter(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_counter", dir)
    ensureSetup(path) {
      val o = table(s, dir, "orders")
      // floor(double*100) is bit-deterministic IEEE arithmetic, so the
      // DuckDB oracle reproduces the cents exactly (no decimal detour)
      def cents(df: org.apache.spark.sql.DataFrame) =
        df.select(col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as(KvCounter.DeltaCol))
      val split = lit("1995-01-01").cast("timestamp")
      KvCounter.increment(cents(o.filter(col("o_orderdate") < split)),
        path, "o_custkey", SinkMode.Replace)
      KvCounter.delete(
        o.select(col("o_custkey")).distinct()
          .filter(pmod(col("o_custkey"), lit(7)) === 0), path)
      KvCounter.compact(s, path)
      KvCounter.increment(cents(o.filter(col("o_orderdate") >= split)),
        path, "o_custkey")
    }
    path
  }

  /** HBase-Append-style cell concatenation: three fragment batches
    * build `mktsegment|name` per customer, every 5th key is
    * tombstone-reset before the final batch (value restarts), and a
    * MAJOR compaction lands mid-sequence — the read must be
    * insensitive to it, like the counter lifecycle. */
  private def setupAppendCells(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_cell_append", dir)
    ensureSetup(path) {
      val c = table(s, dir, "customer")
      def frag(piece: org.apache.spark.sql.Column) =
        c.select(col("c_custkey"), piece.as(KvAppend.PieceCol))
      KvAppend.appendTo(frag(col("c_mktsegment")), path, "c_custkey",
        SinkMode.Replace)
      KvAppend.appendTo(frag(lit("|")), path, "c_custkey")
      KvAppend.delete(
        c.select(col("c_custkey")).filter(pmod(col("c_custkey"), lit(5)) === 0),
        path)
      KvAppend.compact(s, path)
      KvAppend.appendTo(frag(col("c_name")), path, "c_custkey")
    }
    path
  }

  /** One-job bucketed ingest (HBase completebulkload): customers land
    * directly in their compacted 8-bucket layout — sorted files, blooms,
    * manifest — with no log replay or compaction afterwards. */
  private def setupBulkLoad(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_bulk_load", dir)
    ensureSetup(path) {
      val schema = KvSchema.of("c_custkey",
        "c_name" -> ("c", "name"), "c_acctbal" -> ("c", "acctbal"))
      KvTable.bulkLoad(
        table(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
        path, schema, buckets = 8, SinkMode.Replace)
    }
    path
  }

  /** Conditional-mutation lifecycle (HBase checkAndPut): credit +100 to
    * every customer, but expect the CURRENT balance only on even keys —
    * odd rows carry a stale expectation and must be rejected. */
  private def setupCheckAndPut(s: SparkSession, dir: String): String = {
    val path = scratchDir("kv_check_and_put", dir)
    ensureSetup(path) {
      val schema = KvSchema.of("c_custkey",
        "c_mktsegment" -> ("c", "mktsegment"), "c_acctbal" -> ("c", "acctbal"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      KvTable.write(c, path, schema, SinkMode.Replace)
      val updates = c
        .withColumn("__expect",
          when(pmod(col("c_custkey"), lit(2)) === 0, col("c_acctbal"))
            .otherwise(col("c_acctbal") + 1))
        .withColumn("c_acctbal", col("c_acctbal") + 100)
      KvTable.checkAndPut(updates, path, schema, "c_acctbal", col("__expect"))
    }
    path
  }

  /** Bench runs these untimed before timing the query bodies. */
  val prepares: Map[String, (SparkSession, String) => Unit] = checked(
    "kv_counter" -> ((s, d) => { setupCounter(s, d); () }),
    "kv_cell_append" -> ((s, d) => { setupAppendCells(s, d); () }),
    "kv_bulk_load" -> ((s, d) => { setupBulkLoad(s, d); () }),
    "kv_scan_topn" -> ((s, d) => { setupBulkLoad(s, d); () }),
    "kv_check_and_put" -> ((s, d) => { setupCheckAndPut(s, d); () }),
    "kv_roundtrip" -> ((s, d) => { setupRoundtrip(s, d); () }),
    "kv_append_upsert" -> ((s, d) => { setupAppendUpsert(s, d); () }),
    "kv_versions" -> ((s, d) => { setupAppendUpsert(s, d); () }),
    "kv_time_travel" -> ((s, d) => { setupAppendUpsert(s, d); () }),
    "kv_ttl" -> ((s, d) => { setupAppendUpsert(s, d); () }),
    "kv_changes" -> ((s, d) => { setupAppendUpsert(s, d); () }),
    "kv_replica_sync" -> ((s, d) => { setupReplica(s, d); () }),
    "kv_index_lookup" -> ((s, d) => { setupIndex(s, d); () }),
    "kv_index_covered" -> ((s, d) => { setupIndex(s, d); () }),
    "kv_colocated_join" -> ((s, d) => { setupColocated(s, d); () }),
    "kv_minor_compacted" -> ((s, d) => { setupMinorCompacted(s, d); () }),
    "kv_compact_expire" -> ((s, d) => { setupExpireCompacted(s, d); () }),
    "kv_v2_scan" -> ((s, d) => { setupV2Scan(s, d); () }),
    "kv_catalog_sql" -> ((s, d) => { setupCatalogSql(s, d); () }),
    "kv_sql_delete" -> ((s, d) => { setupSqlDelete(s, d); () }),
    "kv_sql_merge" -> ((s, d) => { setupSqlMerge(s, d); () }),
    "kv_count_star" -> ((s, d) => { setupCatalogSql(s, d); () }),
    "kv_point_get" -> ((s, d) => { setupPointGet(s, d); () }),
    "kv_multi_get" -> ((s, d) => { setupPointGet(s, d); () }),
    "kv_scan_range" -> ((s, d) => { setupScanRange(s, d); () }),
    "kv_tombstone_delete" -> ((s, d) => { setupTombstone(s, d); () }),
    "kv_v2_bucketed_delete" -> ((s, d) => { setupV2Bucketed(s, d); () }),
    "kv_dynamic_wide" -> ((s, d) => { setupDynamic(s, d); () }),
    "kv_matview" -> ((s, d) => { setupMatView(s, d); () }),
    "kv_zorder" -> ((s, d) => { setupZOrder(s, d); () })
  )

  val defs: Map[String, Q] = checked(
    // Latest order per customer, expressed directly as the LWW
    // aggregation (single partial-agg shuffle; no global sort of the
    // fact table — this is the shape that survives 100 TB).
    "kv_lww_latest_order" -> { (s, dir) =>
      val o = table(s, dir, "orders")
      o.groupBy(col("o_custkey"))
        .agg(max_by(
          struct(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("o_orderdate")),
          struct(col("o_orderdate"), col("o_orderkey"))).as("r"))
        .select(col("o_custkey"), col("r.o_orderkey").as("o_orderkey"),
          col("r.o_orderstatus").as("o_orderstatus"),
          col("r.o_totalprice").as("o_totalprice"),
          col("r.o_orderdate").as("o_orderdate"))
        .orderBy(col("o_custkey"))
    },

    // Full engine round trip: REPLACE-write orders into a KvTable keyed
    // by custkey (version = order event time), then LWW-read it back.
    "kv_roundtrip" -> { (s, dir) =>
      KvTable.read(s, setupRoundtrip(s, dir)).orderBy(col("o_custkey"))
    },

    // HBase Increment analog: per-customer spend counters accumulated as
    // commutative delta cells across batches, tombstone-reset, and
    // major-compacted mid-sequence (see setupCounter). The value is the
    // sum of deltas surviving the latest tombstone.
    "kv_counter" -> { (s, dir) =>
      KvCounter.read(s, setupCounter(s, dir)).orderBy(col("o_custkey"))
    },

    // HBase Append analog: fragments concatenate in (version, seq)
    // order; every 5th key was reset before the last fragment so its
    // value restarts at c_name (see setupAppendCells).
    "kv_cell_append" -> { (s, dir) =>
      KvAppend.read(s, setupAppendCells(s, dir)).orderBy(col("c_custkey"))
    },

    // Bulk load (completebulkload): the table was born bucket-compacted
    // in one job; the V2 read runs over its sorted bucket files with the
    // key-range predicate pruning row groups via the manifest.
    "kv_bulk_load" -> { (s, dir) =>
      KvTable.readV2(s, setupBulkLoad(s, dir))
        .filter(col("c_custkey") >= 100 && col("c_custkey") < 400)
        .orderBy(col("c_custkey"))
    },

    // Ordered-scan first page (HBase Scan + PageFilter): ORDER BY
    // rowkey LIMIT over the bulk-loaded table's raw log — the V2
    // SupportsPushDownTopN plans only the row groups whose key ranges
    // cover the page when the layout is disjoint (spec-asserted in
    // KvTableSourceSpec); the bucketed bulk-load layout here declines
    // truncation (buckets interleave key ranges), proving the safe
    // path stays correct too.
    "kv_scan_topn" -> { (s, dir) =>
      val path = setupBulkLoad(s, dir)
      s.read.format("kvtable").load(path)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
        .limit(50)
    },

    // checkAndPut: only the even-keyed updates (correct expectation)
    // landed; odd keys kept their original balance.
    "kv_check_and_put" -> { (s, dir) =>
      KvTable.read(s, setupCheckAndPut(s, dir)).orderBy(col("c_custkey"))
    },

    // APPEND lifecycle: two flow runs accumulate in the log
    // (MultiFamilyCascadeHBaseTest.java:94-104's 13 -> 26 semantics),
    // collapsed back to one row per key at read time, newest wins.
    "kv_append_upsert" -> { (s, dir) =>
      KvTable.read(s, setupAppendUpsert(s, dir)).orderBy(col("o_custkey"))
    },

    // Same round trip through the custom V2 connector — addressed via
    // the SQL CATALOG identifier (spark.table over KvCatalog) instead of
    // a path, with the LWW collapse applied on the raw-log read.
    "kv_v2_scan" -> { (s, dir) =>
      val path = setupV2Scan(s, dir)
      ensureCatalog(s)
      KvTable.lwwView(s.table(catalogRef(path)), KvTable.readSchema(s, path))
        .filter(col("o_custkey") < 700)
        .orderBy(col("o_custkey"))
    },

    // Pure-SQL lifecycle: CREATE TABLE ... USING kvtable via the
    // TableCatalog (HBaseTap.java:69-101's create/exists/delete surface),
    // SQL INSERTs with engine-synthesized versions, catalog-identifier
    // read. The LWW view must show the second INSERT's F-order update.
    "kv_catalog_sql" -> { (s, dir) =>
      val path = setupCatalogSql(s, dir)
      ensureCatalog(s)
      KvTable.lwwView(s.table(catalogRef(path)), KvTable.readSchema(s, path))
        .orderBy(col("o_orderkey"))
    },

    // SQL DELETE by rowkey (IN-list + OR-of-equalities), then a
    // resurrecting put: the LWW view hides tombstoned keys and shows
    // the re-inserted one at its newest value.
    "kv_sql_delete" -> { (s, dir) =>
      val path = setupSqlDelete(s, dir)
      ensureCatalog(s)
      KvTable.lwwView(s.table(catalogRef(path)), KvTable.readSchema(s, path))
        .orderBy(col("o_orderkey"))
    },

    // SQL MERGE INTO on a bucket-compacted table: one statement
    // updating, deleting, and inserting by rowkey through the delta
    // row-level path — the LWW view must equal the set algebra of the
    // three branches over orders.
    "kv_sql_merge" -> { (s, dir) =>
      val path = setupSqlMerge(s, dir)
      ensureCatalog(s)
      KvTable.lwwView(s.table(catalogRef(path)), KvTable.readSchema(s, path))
        .orderBy(col("o_orderkey"))
    },

    // Metadata-only COUNT(*): the V2 scan answers an unfiltered count
    // from the stats manifest (one driver-side JSON read, zero data
    // IO — plan-asserted in KvTableSourceSpec). The log holds orders
    // twice (full + F-status re-upsert), so the raw count is the sum.
    "kv_count_star" -> { (s, dir) =>
      val path = setupCatalogSql(s, dir)
      s.read.format("kvtable").load(path)
        .groupBy().count().withColumnRenamed("count", "n_raw")
    },

    // Point lookup on a bucket-compacted table (the HBase Get): only the
    // key's bucket directory is read.
    "kv_point_get" -> { (s, dir) =>
      KvTable.get(s, setupPointGet(s, dir), 42L)
    },

    // IN-list multi-Get on the same bucketed table: the V2 scan hashes
    // each probed key to its bucket directory (KvV2Util.bucketSetFor) so
    // only those buckets are planned — the HBase multi-Get region
    // routing, spec-asserted in KvTableSourceSpec.
    "kv_multi_get" -> { (s, dir) =>
      val path = setupPointGet(s, dir)
      KvTable.readV2(s, path)
        .filter(col("o_custkey").isin(42L, 77L, 123L, 999L))
        .orderBy(col("o_custkey"))
    },

    // Multi-version read (HBase VERSIONS>1 scan): newest 2 live
    // versions per key, newest first, original event-time versions
    // surfaced — goes beyond the reference (its source() only ever
    // returns the newest cell, HBaseScheme.java:101).
    "kv_versions" -> { (s, dir) =>
      val path = setupAppendUpsert(s, dir)
      KvTable.readVersions(s, path, 2)
        .orderBy(col("o_custkey"), col("version_rank"))
    },

    // Time-travel (snapshot) read: the LWW view AS OF the end of 1995 —
    // only cells whose event-time version predates 1996 participate, so
    // the result is the table as it stood before the second (1996+)
    // append batch. The version predicate prunes newer batches at the
    // parquet scan (file min/max on __version) before the collapse.
    "kv_time_travel" -> { (s, dir) =>
      val path = setupAppendUpsert(s, dir)
      // versions are unix_ts(o_orderdate)*1e9 + orderkey; everything
      // strictly below the 1996-01-01 epoch bound is the 1995 snapshot
      KvTable.readAsOf(s, path, 820454400L * 1000000000L - 1)
        .orderBy(col("o_custkey"))
    },

    // Secondary-index point query (Phoenix-style global index): the
    // customers whose LATEST order is still open — a rowkey-prefix scan
    // on the index table (pruned by key min/max like any range scan)
    // semi-joined back into the primary, never a full value scan of the
    // primary. Index maintenance is CDC-incremental (KvIndexSpec).
    "kv_index_lookup" -> { (s, dir) =>
      val (primary, index) = setupIndex(s, dir)
      KvIndex.lookup(s, primary, index, "O").orderBy(col("o_custkey"))
    },

    // Covered (index-only) variant: the covered columns come straight
    // from the index's prefix scan — zero primary IO (spec proves it by
    // answering after the primary is dropped).
    "kv_index_covered" -> { (s, dir) =>
      val (_, index) = setupIndex(s, dir)
      KvIndex.lookupCovered(s, index, "O").orderBy(col("o_orderkey"))
    },

    // Co-located (storage-partitioned) join: latest order per customer
    // joined to the customer's own KV table — both bucket-compacted
    // with the same count, so scans, LWW collapses and the join run
    // with ZERO shuffle (spec-asserted in KvTableSourceSpec). The
    // region-aligned fact-to-fact join that makes bucketing pay at
    // 100 TB.
    "kv_colocated_join" -> { (s, dir) =>
      val (po, pc) = setupColocated(s, dir)
      KvTable.joinBucketed(s, po, pc).orderBy(col("o_custkey"))
    },

    // CDC change feed: the mutation stream after a version checkpoint —
    // here "everything since the pre-1996 batch", i.e. the second
    // append batch's puts, version-ordered, NOT collapsed. The
    // incremental-poll primitive: the version predicate prunes all
    // earlier batches at the scan, so the poll costs O(new data).
    "kv_changes" -> { (s, dir) =>
      val path = setupAppendUpsert(s, dir)
      KvTable.readChanges(s, path, afterVersion = 820454400L * 1000000000L - 1)
    },

    // CDC replication (HBase WAL-replication analog): two syncs — an
    // initial copy, then an incremental poll shipping an append batch
    // plus tombstones — leave the replica's LWW view value-identical to
    // the source's final state. The oracle recomputes that state from
    // the raw orders table.
    "kv_replica_sync" -> { (s, dir) =>
      KvTable.read(s, setupReplica(s, dir)).orderBy(col("o_custkey"))
    },

    // Lossless minor compaction under the ORACLE gate: three appends
    // merged to one file per group, read back — value-identical to the
    // uncompacted LWW view (the maintenance op the driver now runs on
    // real data every round).
    "kv_minor_compacted" -> { (s, dir) =>
      KvTable.read(s, setupMinorCompacted(s, dir)).orderBy(col("o_custkey"))
    },

    // Physical TTL under the oracle gate: compact(expireBelow) discards
    // pre-1996 cells, so the PLAIN read equals kv_ttl's filtered view.
    "kv_compact_expire" -> { (s, dir) =>
      KvTable.read(s, setupExpireCompacted(s, dir)).orderBy(col("o_custkey"))
    },

    // TTL read — HBase's column-family TTL: cells older than the cutoff
    // are invisible even when they are a key's newest, so customers
    // whose last order predates 1996 DISAPPEAR from the view (vs
    // kv_time_travel, which shows exactly those). The version predicate
    // is the dual bound, pruned identically at the parquet scan.
    "kv_ttl" -> { (s, dir) =>
      val path = setupAppendUpsert(s, dir)
      KvTable.readTtl(s, path, 820454400L * 1000000000L)
        .orderBy(col("o_custkey"))
    },

    // Rowkey-range scan over a byte-lex string rowkey (the HBase Scan
    // [startRow, stopRow) analog with correct closed-open bounds —
    // SURVEY.md §2b documents the reference's boundary bugs we fix).
    "kv_scan_range" -> { (s, dir) =>
      KvTable.readRange(s, setupScanRange(s, dir),
          Some("0000000100"), Some("0000000300"))
        .orderBy(col("rowkey"))
    },

    // Tombstone deletes: delete BUILDING-segment customers, read back
    // the survivors (Delete-mutation dispatch,
    // TableOutputFormatWrap.java:79-84).
    "kv_tombstone_delete" -> { (s, dir) =>
      KvTable.read(s, setupTombstone(s, dir)).orderBy(col("rowkey"))
    },

    // V2 lifecycle on a bucket-compacted table: bucket-aligned append
    // upserts + tombstone deletes through the V2 writer, read back via
    // the shuffle-free bucketed V2 scan.
    "kv_v2_bucketed_delete" -> { (s, dir) =>
      KvTable.readV2(s, setupV2Bucketed(s, dir)).orderBy(col("rowkey"))
    },

    // Dynamic column-family (schemaless wide-row) mode: cell-level LWW
    // merge across writes, row + cell tombstones, map-typed wide view.
    "kv_dynamic_wide" -> { (s, dir) =>
      KvDynamic.read(s, setupDynamic(s, dir))
        .select(col("rowkey"),
          element_at(col("prof"), "name").as("name"),
          element_at(col("prof"), "segment").as("segment"),
          element_at(col("acct"), "nation").as("nation"),
          size(col("prof")).as("n_prof"))
        .orderBy(col("rowkey"))
    },

    // Incrementally-maintained materialized aggregate view: built over
    // the pre-1996 base, then DELTA-maintained (O(changed keys)) across
    // an upsert append and a delete batch — the summary-table pattern
    // HBase deployments hand-roll with coprocessors. The oracle
    // recomputes the aggregate from scratch over the final live view.
    "kv_matview" -> { (s, dir) =>
      val (_, view) = setupMatView(s, dir)
      KvMatView.read(s, view)
        .select(col("o_orderstatus"), col("cnt"),
          col("sum_o_totalprice").cast("double").as("sum_o_totalprice"))
        .orderBy(col("o_orderstatus"))
    },

    // Z-order-clustered scan: the table is rewritten along a Morton
    // curve over (custkey, totalprice), so this two-dimensional
    // predicate prunes files/row groups on BOTH columns through the
    // stats manifest (a key-sorted layout would scan everything —
    // neither predicate touches the rowkey). KvZOrderSpec asserts the
    // partition-count shrinkage; here the pruned scan is value-checked.
    "kv_zorder" -> { (s, dir) =>
      val path = setupZOrder(s, dir)
      KvTable.lwwView(s.read.format("kvtable").load(path),
          KvTable.readSchema(s, path))
        .filter(col("o_custkey") <= 100 && col("o_totalprice") >= 100000.0)
        .orderBy(col("o_orderkey"))
    }
  )

  private val latestOrderSql =
    """SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  val oracles: Map[String, String] = checked(
    "kv_lww_latest_order" -> latestOrderSql,
    "kv_matview" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 AND o_custkey % 10 <> 0
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "kv_zorder" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey <= 100 AND o_totalprice >= 100000.0
        |ORDER BY o_orderkey""".stripMargin,
    "kv_roundtrip" ->
      """SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "kv_cell_append" ->
      """SELECT c_custkey,
        |       CASE WHEN c_custkey % 5 = 0 THEN c_name
        |            ELSE c_mktsegment || '|' || c_name END AS value
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "kv_bulk_load" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey >= 100 AND c_custkey < 400
        |ORDER BY c_custkey""".stripMargin,
    "kv_scan_topn" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_custkey LIMIT 50""".stripMargin,
    "kv_check_and_put" ->
      """SELECT c_custkey, c_mktsegment,
        |       CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 100
        |            ELSE c_acctbal END AS c_acctbal
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "kv_counter" ->
      """SELECT o_custkey,
        |       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS value
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' OR o_custkey % 7 <> 0
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "kv_append_upsert" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "kv_time_travel" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01')
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "kv_index_lookup" ->
      """SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 AND o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "kv_colocated_join" ->
      """SELECT o.o_custkey, o.o_orderkey, o.o_totalprice,
        |       c.c_name, c.c_acctbal
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice
        |      FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |            FROM orders)
        |      WHERE rn = 1) o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_custkey""".stripMargin,
    "kv_index_covered" ->
      """SELECT CAST(o_custkey AS VARCHAR) AS __pk, o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 AND o_orderstatus = 'O'
        |ORDER BY o_orderkey""".stripMargin,
    "kv_changes" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(epoch(o_orderdate) AS BIGINT) * 1000000000 + o_orderkey
        |    AS version,
        |  FALSE AS is_delete
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |ORDER BY version""".stripMargin,
    "kv_replica_sync" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 AND o_custkey % 10 <> 0
        |ORDER BY o_custkey""".stripMargin,
    "kv_minor_compacted" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "kv_compact_expire" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01')
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "kv_ttl" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01')
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "kv_v2_scan" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 AND o_custkey < 700
        |ORDER BY o_custkey""".stripMargin,
    "kv_catalog_sql" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1000.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "kv_sql_delete" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |WHERE o_orderkey NOT IN (${(1 to 40).mkString(", ")}, 77, 99)
         |UNION ALL
         |SELECT CAST(7 AS BIGINT), CAST(7 AS BIGINT), 777.0
         |ORDER BY o_orderkey""".stripMargin,
    "kv_count_star" ->
      """SELECT COUNT(*) + (SELECT COUNT(*) FROM orders
        |                   WHERE o_orderstatus = 'F') AS n_raw
        |FROM orders""".stripMargin,
    "kv_sql_merge" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 100.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE NOT (o_orderkey % 2 = 0 AND o_orderkey % 10 = 0)
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, CAST(1.5 AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 1000 = 7)
        |ORDER BY o_orderkey""".stripMargin,
    "kv_point_get" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 AND o_custkey = 42""".stripMargin,
    "kv_versions" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(epoch(o_orderdate) AS BIGINT) * 1000000000 + o_orderkey AS version,
        |  CAST(rn AS INT) AS version_rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn <= 2
        |ORDER BY o_custkey, rn""".stripMargin,
    "kv_multi_get" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 AND o_custkey IN (42, 77, 123, 999)
        |ORDER BY o_custkey""".stripMargin,
    "kv_scan_range" ->
      """SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS rowkey,
        |       c_name AS name, c_acctbal AS acctbal, c_mktsegment AS mktsegment
        |FROM customer
        |WHERE lpad(CAST(c_custkey AS VARCHAR), 10, '0') >= '0000000100'
        |  AND lpad(CAST(c_custkey AS VARCHAR), 10, '0') < '0000000300'
        |ORDER BY rowkey""".stripMargin,
    "kv_tombstone_delete" ->
      """SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS rowkey,
        |       c_name AS name, c_mktsegment AS mktsegment
        |FROM customer WHERE c_mktsegment <> 'BUILDING'
        |ORDER BY rowkey""".stripMargin,
    "kv_v2_bucketed_delete" ->
      """SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS rowkey,
        |       CASE WHEN c_mktsegment = 'MACHINERY' THEN upper(c_name)
        |            ELSE c_name END AS name,
        |       c_mktsegment AS mktsegment
        |FROM customer WHERE c_mktsegment <> 'BUILDING'
        |ORDER BY rowkey""".stripMargin,
    "kv_dynamic_wide" ->
      """SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS rowkey,
        |  CASE WHEN c_mktsegment = 'FURNITURE' THEN NULL
        |       ELSE c_name END AS name,
        |  CASE WHEN c_mktsegment = 'MACHINERY' THEN 'MACH'
        |       ELSE c_mktsegment END AS segment,
        |  CAST(c_nationkey AS VARCHAR) AS nation,
        |  CAST(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 2 END
        |    AS INT) AS n_prof
        |FROM customer WHERE c_mktsegment <> 'BUILDING'
        |ORDER BY rowkey""".stripMargin
  )
}
