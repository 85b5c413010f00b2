package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint over `src/main/scala`: caches are taken and released only
  * through `Materialize`, sessions are built only by `LocalSession`,
  * graft's functions and rules reach a session only through
  * `GraftExtensions`, and every streaming query ends in
  * `StreamingOps.catchUp`, which alone touches Spark's state stores through
  * the access-package bridge. */
class SourceLintSpec extends AnyFunSuite {

  /** `file:line: text` of every line matching `pattern` outside `owner`
    * (every file when `owner` is empty). */
  private def offenders(pattern: String, owner: String = ""): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val re = pattern.r
    val files = Files.walk(root)
    try files.iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != owner)
      .flatMap(f => Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      })
      .toList
    finally files.close()
  }

  test("persist, unpersist and cache() appear only in Materialize") {
    val bad = offenders("""\.(persist|unpersist)\(|\.cache\(\)""", "Materialize.scala")
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("SparkSession.builder appears only in LocalSession") {
    val bad = offenders("""SparkSession\.builder""", "LocalSession.scala")
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("no temp functions and no extra optimizer rules: GraftExtensions injects them") {
    val bad = offenders("""createOrReplaceTempFunction|experimental\.extraOptimizations""")
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("awaitTermination( appears only inside StreamingOps.catchUp") {
    val ops = Paths.get("src/main/scala/graft/streaming/StreamingOps.scala")
    val lines = Files.readAllLines(ops).asScala
    val from = lines.indexWhere(_.contains("def catchUp(")) + 1
    val until = lines.indexWhere(_.trim.matches("""(private\S* )?def .*"""), from) + 1
    assert(from > 0 && until > from, s"no catchUp in $ops")
    val bad = offenders("""awaitTermination\(""").filterNot { hit =>
      hit.startsWith(s"$ops:") && (from until until).contains(hit.split(":")(1).toInt)
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("StateStore. appears only in the access-package bridge") {
    val bad = offenders("""StateStore\.""", "SparkBridge.scala")
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
