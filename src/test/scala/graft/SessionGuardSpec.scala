package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Source guard: [[Session]] is the only place a Spark session is
  * built, so Bench, Verify, the tools and the tests cannot drift onto
  * different confs; and the shared test session carries every conf the
  * factory sets, so plan pins are taken under the bench's confs. */
class SessionGuardSpec extends SparkSpec {

  private val roots = Seq("src/main/scala", "src/test/scala")
  private val factory = Paths.get("src/main/scala/graft/Session.scala")

  private def sources: Seq[Path] = roots.flatMap { r =>
    val dir = Paths.get(r)
    assert(Files.isDirectory(dir), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  /** Source text with comments removed (docs may name the call). */
  private def code(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  test("SparkSession.builder is called only in graft/Session.scala") {
    val call = "SparkSession\\s*\\.\\s*builder\\s*\\(".r
    val files = sources
    val offenses = files.filterNot(_ == factory).flatMap { p =>
      call.findAllMatchIn(code(p)).map(_ => p.toString)
    }
    assert(offenses.isEmpty, offenses.mkString("\n"))
    assert(files.contains(factory))
    assert(call.findFirstIn(code(factory)).nonEmpty)
  }

  test("the shared test session carries every conf the factory sets") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") === s"local[${TestSpark.cores}]")
    val differ = Session.confs(TestSpark.cores).collect {
      case (k, v) if !conf.getOption(k).contains(v) =>
        s"$k: factory $v, test session ${conf.getOption(k).getOrElse("<unset>")}"
    }
    assert(differ.isEmpty, differ.mkString("\n"))
  }
}
