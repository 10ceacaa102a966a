package graft.connector

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.sources._

/** Persisted per-file / per-row-group statistics manifest
  * (`<table>/_kvstats.json`) for the V2 planner.
  *
  * Motivation (100 TB): `planInputPartitions` must not open parquet
  * footers on the driver — at 10^5 files that serializes 10^5 reads into
  * query planning. The reference avoided the same trap by fetching
  * region metadata once from the master (`TableInputFormatWrap.java:46`);
  * here the stats are persisted AT WRITE TIME (V2 writer tasks extract
  * their own file's stats and ship them in the commit message — zero
  * driver footer IO; every append and compaction writes through that
  * writer) and planning
  * reads one small base JSON plus at most [[foldThreshold]] append
  * segments (see the segmented-layout note at the manifest IO section).
  *
  * Entries carry: relative path, file length (stale detection), and per
  * row group: byte range (for row-group-level splits), row count, and
  * per-column min/max (for range/point pruning without footer IO).
  */
object KvStats {

  /** Column min/max, values encoded as strings with a type tag:
    * `s` string, `l` long/int, `d` double/float; `n` marks a column
    * that is entirely NULL in the row group (no min/max — lets
    * IsNotNull and every comparison prune the group). */
  /** `nulls` is the group's null count for the column: -1 = unknown
    * (pre-existing manifests) — consumers needing null-safety (TopN
    * truncation) must treat unknown as "may contain nulls". */
  final case class ColStat(t: String, mn: String, mx: String,
                           nulls: Long = -1L)

  /** One parquet row group: `[start, start+len)` is the byte range whose
    * midpoint selects exactly this group as a file split (parquet
    * filters blocks by `startingPos + compressedSize/2`). */
  final case class GroupStat(start: Long, len: Long, rows: Long,
                             stats: Map[String, ColStat])

  /** `path` is relative to the table root (tables stay relocatable).
    * `bloom` is an optional base64 rowkey bloom filter (see [[KvBloom]])
    * computed task-side by the V2 writer while the file streamed through
    * it — the HBase per-store-file bloom: point gets skip whole files
    * whose bloom excludes the key. Absent only on files placed outside
    * the writer (footer extraction never sees row values). */
  /** `sorted` records that the file's rows are ascending in the rowkey
    * (the V2 writer OBSERVES it while rows stream through, compaction
    * output included) — the basis for the scan's
    * `SupportsReportOrdering` report. False = unknown, never wrong. */
  final case class FileStat(path: String, len: Long, groups: Seq[GroupStat],
                            bloom: Option[String] = None,
                            sorted: Boolean = false)

  /** `schema` is the parquet MessageType of the data files, so projection
    * and inference need no footer either. */
  final case class Manifest(schema: String, files: Seq[FileStat])

  def statsFile(path: String) = s"$path/_kvstats.json"

  private val mapper = new ObjectMapper()

  // ---- footer extraction (the only place stats are computed) ----

  /** Extract a [[FileStat]] from a file's parquet footer. Called by V2
    * writer TASKS on their own output and by the back-fill for new
    * files only. */
  def fromFooter(file: HPath, relPath: String, len: Long,
                 conf: Configuration): FileStat = {
    KvV2Util.footerOpens.incrementAndGet()
    val reader = KvV2Util.openFooter(file, conf)
    try {
      val groups = reader.getFooter.getBlocks.asScala.toSeq.map { b =>
        val cols = b.getColumns.asScala.flatMap { cc =>
          val s = cc.getStatistics
          if (s == null) None
          else {
            val nulls = if (s.isNumNullsSet) s.getNumNulls else -1L
            if (!s.hasNonNullValue) {
              // all-null row group for this column (numNulls covers every
              // row): record the marker so IsNotNull / comparisons prune
              if (nulls == b.getRowCount)
                Some(cc.getPath.toDotString -> ColStat("n", "", "", nulls))
              else None
            } else {
              val name = cc.getPath.toDotString
              (s.genericGetMin, s.genericGetMax) match {
                case (mn: Binary, mx: Binary)
                  if cc.getPrimitiveType.getLogicalTypeAnnotation.isInstanceOf[
                    org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                  Some(name -> ColStat("s", mn.toStringUsingUTF8,
                    mx.toStringUsingUTF8, nulls))
                case (mn: java.lang.Long, mx: java.lang.Long) =>
                  Some(name -> ColStat("l", mn.toString, mx.toString, nulls))
                case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                  Some(name -> ColStat("l", mn.toString, mx.toString, nulls))
                case (mn: java.lang.Double, mx: java.lang.Double) =>
                  Some(name -> ColStat("d", mn.toString, mx.toString, nulls))
                case (mn: java.lang.Float, mx: java.lang.Float) =>
                  Some(name -> ColStat("d", mn.toString, mx.toString, nulls))
                case _ => None // binary/boolean: not used for pruning
              }
            }
          }
        }.toMap
        GroupStat(b.getStartingPos, b.getCompressedSize, b.getRowCount, cols)
      }
      FileStat(relPath, len, groups)
    } finally reader.close()
  }

  // ---- pruning against manifest stats (no IO) ----

  /** True unless a pushed filter provably excludes the whole row group.
    * Columns absent from the stats can never prune (safe default). */
  def groupPasses(stats: Map[String, ColStat], pushed: Array[Filter]): Boolean =
    pushed.forall { f =>
      val (colName, check) = bound(f)
      stats.get(colName).forall(cs => check(cs))
    }

  private def cmp(cs: ColStat, side: String, v: Any): Int = {
    val raw = if (side == "mn") cs.mn else cs.mx
    (cs.t, v) match {
      case ("s", s: String) => cmpBytes(raw.getBytes("UTF-8"), s.getBytes("UTF-8"))
      case ("l", l: Long) => java.lang.Long.compare(raw.toLong, l)
      case ("l", i: Integer) => java.lang.Long.compare(raw.toLong, i.toLong)
      case ("d", d: Double) => java.lang.Double.compare(raw.toDouble, d)
      case _ => 0 // type mismatch -> treat as overlapping, never prune
    }
  }

  /** Unsigned lexicographic byte order — parquet's BINARY stats order. */
  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Byte-wise successor of a UTF-8 prefix: the exclusive upper bound of
    * the `startsWith` range [p, succ(p)). None = unbounded (all 0xff). */
  private def prefixSuccessor(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  private def bound(f: Filter): (String, ColStat => Boolean) = f match {
    // an all-null group ("n") satisfies no comparison — every branch
    // below must return false for it, which cmp-based checks do via the
    // allNull guard
    case GreaterThan(c, v) => (c, cs => notNullStat(cs) && cmp(cs, "mx", v) > 0)
    case GreaterThanOrEqual(c, v) => (c, cs => notNullStat(cs) && cmp(cs, "mx", v) >= 0)
    case LessThan(c, v) => (c, cs => notNullStat(cs) && cmp(cs, "mn", v) < 0)
    case LessThanOrEqual(c, v) => (c, cs => notNullStat(cs) && cmp(cs, "mn", v) <= 0)
    case EqualTo(c, v) =>
      (c, cs => notNullStat(cs) && cmp(cs, "mn", v) <= 0 && cmp(cs, "mx", v) >= 0)
    // IN-list: the group survives if ANY value lands inside [mn, mx] —
    // the point-get-by-IN-list path (a "multi Get" in HBase terms)
    case In(c, vs) =>
      (c, cs => notNullStat(cs) && vs.exists(v =>
        v != null && cmp(cs, "mn", v) <= 0 && cmp(cs, "mx", v) >= 0))
    case IsNotNull(c) => (c, cs => notNullStat(cs))
    // prefix range [p, succ(p)) against the group's [mn, mx]
    case StringStartsWith(c, p) =>
      (c, cs => cs.t match {
        case "s" =>
          val pb = p.getBytes("UTF-8")
          cmpBytes(cs.mx.getBytes("UTF-8"), pb) >= 0 &&
            prefixSuccessor(pb).forall(succ =>
              cmpBytes(cs.mn.getBytes("UTF-8"), succ) < 0)
        case "n" => false
        case _ => true // non-string stats: never prune
      })
    case other => (other.references.headOption.getOrElse(""), _ => true)
  }

  private def notNullStat(cs: ColStat): Boolean = cs.t != "n"

  // ---- manifest IO ----
  //
  // SEGMENTED layout: `_kvstats.json` is the compacted BASE; each append
  // adds one small file under `_kvstats_seg/` describing only ITS new
  // data files (O(new files) manifest bytes per append — the fix for
  // the quadratic whole-rewrite this module used to do). Readers merge
  // base + segments in segment-name order (names embed a millisecond
  // timestamp, so later writes win on path collisions). When the
  // segment count passes [[foldThreshold]] the next append folds
  // everything back into the base — bounded planning IO, amortized
  // O(1/threshold) fold cost, the same compaction discipline as the
  // table's own log.

  def segDir(path: String) = s"$path/_kvstats_seg"

  /** Segments folded into the base once their count reaches this
    * (override via -Dgraft.kvstats.foldSegments for tests). */
  def foldThreshold: Int =
    sys.props.get("graft.kvstats.foldSegments").map(_.toInt).getOrElse(64)

  private def readManifestFile(f: HPath, conf: Configuration): Option[Manifest] = {
    val fs = f.getFileSystem(conf)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      try Some(parse(mapper.readTree(s)))
      catch { case _: Exception => None } // corrupt -> footer fallback
    }
  }

  /** Segment files in merge order (name-sorted: timestamped, later wins). */
  private def segmentFiles(path: String, conf: Configuration): Seq[HPath] = {
    val dir = new HPath(segDir(path))
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isFile)
      .map(_.getPath).filter(_.getName.endsWith(".json"))
      .sortBy(_.getName)
  }

  /** The merged manifest view: base + segments, last writer wins per
    * relative path. This is what planning reads — O(1 + segments)
    * small JSON files, segments bounded by [[foldThreshold]]. */
  def read(path: String, conf: Configuration): Option[Manifest] = {
    val base = readManifestFile(new HPath(statsFile(path)), conf)
    val segs = segmentFiles(path, conf)
      .flatMap(f => readManifestFile(f, conf))
    if (base.isEmpty && segs.isEmpty) None
    else {
      val merged = scala.collection.mutable.LinkedHashMap.empty[String, FileStat]
      (base.toSeq ++ segs).foreach(_.files.foreach(f => merged.update(f.path, f)))
      val schema = (base.toSeq ++ segs).map(_.schema).find(_.nonEmpty).getOrElse("")
      Some(Manifest(schema, merged.values.toSeq))
    }
  }

  /** The merged manifest's parquet schema string — the base's, else the
    * first segment's that has one — read without parsing any file
    * entry: the writer puts `schema` first, so a schema inference costs
    * O(1), not O(files), however large the manifest grows. */
  def readSchema(path: String, conf: Configuration): Option[String] =
    (new HPath(statsFile(path)) +: segmentFiles(path, conf)).iterator
      .flatMap(schemaOf(_, conf)).find(_.nonEmpty)

  private def schemaOf(f: HPath, conf: Configuration): Option[String] = {
    val fs = f.getFileSystem(conf)
    if (!fs.exists(f)) None
    else {
      val p = mapper.getFactory.createParser(fs.open(f): java.io.InputStream)
      try {
        var schema: Option[String] = None
        if (p.nextToken() == JsonToken.START_OBJECT)
          while (schema.isEmpty && p.nextToken() == JsonToken.FIELD_NAME) {
            val name = p.currentName()
            p.nextToken()
            if (name == "schema") schema = Some(p.getText) else p.skipChildren()
          }
        schema
      } catch { case _: Exception => None } // corrupt -> footer fallback
      finally p.close()
    }
  }

  /** Append one segment describing this write's new files only. */
  def writeSegment(path: String, m: Manifest, conf: Configuration): Unit = {
    val dir = new HPath(segDir(path))
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val name = f"seg-${System.currentTimeMillis()}%013d-" +
      s"${java.util.UUID.randomUUID().toString.take(8)}.json"
    writeManifestFile(new HPath(dir, name), m, conf)
  }

  private def parse(root: JsonNode): Manifest = {
    val files = root.get("files").elements().asScala.map { fn =>
      val groups = fn.get("groups").elements().asScala.map { gn =>
        val stats = Option(gn.get("stats")).map { sn =>
          sn.properties().asScala.map { e =>
            val v = e.getValue
            e.getKey -> ColStat(v.get("t").asText(),
              v.get("mn").asText(), v.get("mx").asText(),
              Option(v.get("nulls")).map(_.asLong).getOrElse(-1L))
          }.toMap
        }.getOrElse(Map.empty[String, ColStat])
        GroupStat(gn.get("start").asLong(), gn.get("len").asLong(),
          gn.get("rows").asLong(), stats)
      }.toSeq
      FileStat(fn.get("path").asText(), fn.get("len").asLong(), groups,
        Option(fn.get("bloom")).map(_.asText()),
        Option(fn.get("sorted")).exists(_.asBoolean()))
    }.toSeq
    Manifest(Option(root.get("schema")).map(_.asText()).getOrElse(""), files)
  }

  /** Rewrite the BASE manifest whole and drop every segment (the fold /
    * truncate path — segments merge-after base, so a fresh base must not
    * leave stale segments shadowing it). */
  def write(path: String, m: Manifest, conf: Configuration): Unit = {
    writeManifestFile(new HPath(statsFile(path)), m, conf)
    new HPath(segDir(path)).getFileSystem(conf)
      .delete(new HPath(segDir(path)), true)
  }

  private def writeManifestFile(f: HPath, m: Manifest,
                                conf: Configuration): Unit = {
    val root: ObjectNode = mapper.createObjectNode()
    root.put("schema", m.schema)
    val filesArr: ArrayNode = root.putArray("files")
    m.files.foreach { f =>
      val fn = filesArr.addObject()
      fn.put("path", f.path)
      fn.put("len", f.len)
      f.bloom.foreach(fn.put("bloom", _))
      if (f.sorted) fn.put("sorted", true)
      val groupsArr = fn.putArray("groups")
      f.groups.foreach { g =>
        val gn = groupsArr.addObject()
        gn.put("start", g.start)
        gn.put("len", g.len)
        gn.put("rows", g.rows)
        val sn = gn.putObject("stats")
        g.stats.foreach { case (name, cs) =>
          val cn = sn.putObject(name)
          cn.put("t", cs.t); cn.put("mn", cs.mn); cn.put("mx", cs.mx)
          if (cs.nulls >= 0) cn.put("nulls", cs.nulls)
        }
      }
    }
    val fs = f.getFileSystem(conf)
    val out = fs.create(f, true)
    try out.write(mapper.writeValueAsString(root).getBytes("UTF-8"))
    finally out.close()
  }

  /** Path of `file` relative to the table root (both made qualified). */
  def relativize(tablePath: String, file: HPath, conf: Configuration): String = {
    val fs = new HPath(tablePath).getFileSystem(conf)
    val root = fs.makeQualified(new HPath(tablePath)).toString
    val full = fs.makeQualified(file).toString
    if (full.startsWith(root)) full.substring(root.length).stripPrefix("/")
    else full
  }

  /** Record the stats of files just added to the log: ONE new segment
    * holding `added`, or — when there is no manifest yet or the segment
    * count has reached [[foldThreshold]] — a fold of everything into one
    * base keyed to the CURRENT file listing, which also drops entries
    * for deleted files. The one segment-or-fold decision, shared by the
    * V2 commit (batch and streaming) and [[refresh]]. A listed file that
    * neither `added` nor `prior` describes (at its current length) gets
    * its entry from the footer. */
  def append(path: String, schema: String, prior: Option[Manifest],
             added: Seq[FileStat], conf: Configuration): Unit =
    if (prior.isEmpty || segmentFiles(path, conf).size >= foldThreshold) {
      val known = (prior.toSeq.flatMap(_.files) ++ added)
        .map(f => f.path -> f).toMap
      val entries = KvV2Util.dataFiles(path, conf).map { f =>
        val rel = relativize(path, f.getPath, conf)
        known.get(rel).filter(_.len == f.getLen)
          .getOrElse(fromFooter(f.getPath, rel, f.getLen, conf))
      }
      write(path, Manifest(schema, entries), conf)
    } else if (added.nonEmpty)
      writeSegment(path, Manifest(schema, added), conf)

  /** Incremental back-fill for files placed in `data/` OUTSIDE the V2
    * writer (every append and compaction writes through it): reads
    * footers ONLY for files not already present (or changed length) and
    * records them through [[append]], unsorted and without a Bloom —
    * O(new files) footer IO and manifest bytes, independent of table
    * size. */
  def refresh(path: String, conf: Configuration): Unit = {
    val files = KvV2Util.dataFiles(path, conf)
    val prior = read(path, conf)
    val existing: Map[String, FileStat] =
      prior.map(_.files.map(f => f.path -> f).toMap).getOrElse(Map.empty)
    val schemaStr = prior.map(_.schema).filter(_.nonEmpty)
      .orElse(files.headOption.map(f => KvV2Util.footerSchema(f, conf).toString))
      .getOrElse("")
    val fresh = files.flatMap { f =>
      val rel = relativize(path, f.getPath, conf)
      if (existing.get(rel).exists(_.len == f.getLen)) None
      else Some(fromFooter(f.getPath, rel, f.getLen, conf))
    }
    append(path, schemaStr, prior, fresh, conf)
  }
}

/** Per-file rowkey bloom filter — HBase's per-store-file (ROW) bloom.
  * 8192 bits / 4 FNV-1a-derived hashes: ~1 KB per file in the manifest,
  * false-positive rate ~2.4% at 1000 keys per file (appends are small
  * by definition). Compacted files carry the writer's Bloom too; on a
  * large file it saturates (every probe passes) but never excludes a
  * key, and such files have tight sorted min/max instead. Keys are
  * hashed by their STRING rendering,
  * identical on the write path (row values) and the probe path (Spark
  * filter literals) for string/long/int keys. False positives cost one
  * wasted file read; false negatives are impossible, so tombstones are
  * never skipped (a missed tombstone would resurrect deleted rows).
  */
object KvBloom {
  val Bits = 8192
  val Hashes = 4

  private def fnv(s: String, seed: Int): Int = {
    var x = 0x811c9dc5 ^ seed
    var i = 0
    while (i < s.length) { x = (x ^ s.charAt(i)) * 0x01000193; i += 1 }
    x
  }

  def indexes(v: String): Array[Int] = {
    val out = new Array[Int](Hashes)
    var k = 0
    while (k < Hashes) {
      out(k) = math.floorMod(fnv(v, k * 0x9e3779b9 + 1), Bits)
      k += 1
    }
    out
  }

  def add(bits: java.util.BitSet, v: String): Unit =
    indexes(v).foreach(bits.set)

  def encode(bits: java.util.BitSet): String =
    java.util.Base64.getEncoder.encodeToString(bits.toByteArray)

  def mightContain(b64: String, v: String): Boolean = {
    val bits = java.util.BitSet.valueOf(
      java.util.Base64.getDecoder.decode(b64))
    indexes(v).forall(bits.get)
  }
}
