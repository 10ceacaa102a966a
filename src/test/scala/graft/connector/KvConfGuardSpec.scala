package graft.connector

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: the connector and the KV store build no Hadoop
  * `Configuration` of their own outside [[KvHadoopConf]], and call none
  * of the parquet-mr entry points that parse a default one internally
  * (the path-based `ParquetReader.builder`, the one-argument
  * `ParquetFileReader.open`). Each such call re-reads Hadoop's XML
  * defaults and ignores the session's Hadoop settings. Parquet is
  * encoded and decoded by Spark's own reader and writer only, so no
  * second codec can drift from what compaction writes. */
class KvConfGuardSpec extends AnyFunSuite {

  private val roots = Seq("src/main/scala/graft/connector", "src/main/scala/graft/kv")
  private val helper = "KvHadoopConf.scala"

  private def sources: Seq[Path] = roots.flatMap { r =>
    val dir = Paths.get(r)
    assert(Files.isDirectory(dir), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  /** Source text with comments removed (docs may name the calls). */
  private def code(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  /** Argument lists of every `call(` in `src`, parentheses balanced. */
  private def argLists(src: String, call: String): Seq[String] =
    Regex.quote(call).r.findAllMatchIn(src).map { m =>
      var depth = 1
      var i = m.end
      while (depth > 0 && i < src.length) {
        src(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ => ()
        }
        i += 1
      }
      src.substring(m.end, i - 1)
    }.toSeq

  /** True when `args` has a comma outside any nested parentheses. */
  private def multiArg(args: String): Boolean = {
    var depth = 0
    args.exists {
      case '(' | '[' => depth += 1; false
      case ')' | ']' => depth -= 1; false
      case ',' => depth == 0
      case _ => false
    }
  }

  test("connector and KV code build Hadoop configurations only through " +
    "KvHadoopConf and open parquet files only on a given configuration") {
    val files = sources
    val offenses = files.flatMap { p =>
      val src = code(p)
      val name = p.getFileName.toString
      val confs =
        if (name == helper) Seq.empty
        else argLists(src, "new Configuration(").map(a => s"new Configuration($a)")
      val builders = argLists(src, "ParquetReader.builder(")
        .map(a => s"ParquetReader.builder($a)")
      val opens = argLists(src, "ParquetFileReader.open(")
        .filterNot(multiArg).map(a => s"ParquetFileReader.open($a)")
      (confs ++ builders ++ opens).map(o => s"$p: $o")
    }
    assert(offenses.isEmpty, offenses.mkString("\n"))
    assert(files.exists(_.getFileName.toString == helper))
  }

  test("connector and KV code encode and decode parquet only through " +
    "Spark's parquet reader and writer: no parquet-mr example codec, no " +
    "ParquetReader/ParquetWriter builder") {
    val codec = "org\\.apache\\.parquet\\.(hadoop\\.)?example\\b".r
    val builder =
      "\\b(Example)?Parquet(Reader|Writer)\\s*\\.\\s*[Bb]uilder\\b".r
    val offenses = sources.flatMap { p =>
      val src = code(p)
      (codec.findAllIn(src) ++ builder.findAllIn(src)).map(o => s"$p: $o")
    }
    assert(offenses.isEmpty, offenses.mkString("\n"))
  }

  /** The lines of `file` matching `pattern`, comments excluded, each as
    * `file:line: code`. */
  private def matches(file: String, pattern: Regex): Seq[String] = {
    val p = Paths.get(file)
    // comments blanked line for line, so the reported numbers are the file's
    val lines = "(?s)/\\*.*?\\*/".r
      .replaceAllIn(new String(Files.readAllBytes(p), "UTF-8"),
        m => "\n" * m.matched.count(_ == '\n'))
      .split("\n").toSeq.map(_.replaceAll("//.*", ""))
    lines.zipWithIndex.collect {
      case (line, i) if pattern.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
    }
  }

  test("KvTable appends only through the kvtable connector: no Spark " +
    "parquet write into a table's data dir") {
    val writes = matches("src/main/scala/graft/kv/KvTable.scala",
      "(?<!read)\\.parquet\\(dataDir\\(".r)
    assert(writes.isEmpty, writes.mkString("\n"))
  }

  test("KvTable, KvCounter and KvAppend write data files only through " +
    "the kvtable connector") {
    // a `.parquet(` call whose nearest preceding reader/writer access is
    // `.write` is a DataFrameWriter write (reads, e.g. of an explicit
    // file list, are the other guard's business)
    val access = "\\.(read|write)(Stream)?\\b|\\.parquet\\(".r
    val writes = Seq("KvTable", "KvCounter", "KvAppend").flatMap { n =>
      val p = Paths.get(s"src/main/scala/graft/kv/$n.scala")
      val src = code(p)
      var last = ""
      access.findAllMatchIn(src).flatMap { m =>
        if (m.matched != ".parquet(") { last = m.matched; None }
        else if (last == ".write")
          Some(s"$p: ...${src.slice(m.start - 80, m.end).trim}")
        else None
      }.toSeq
    }
    assert(writes.isEmpty, writes.mkString("\n"))
  }

  test("KvTable, KvCounter, KvAppend and KvReplica read a table's log " +
    "only through the kvtable connector: no Spark parquet read of its " +
    "data dir") {
    val reads = Seq("KvTable", "KvCounter", "KvAppend", "KvReplica").flatMap(n =>
      matches(s"src/main/scala/graft/kv/$n.scala", "parquet\\(\\s*dataDir\\(".r))
    assert(reads.isEmpty, reads.mkString("\n"))
  }
}
