package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint over `src/main/scala`: caches are taken and released only
  * through `Materialize`, sessions are built only by `LocalSession`, and
  * graft's functions and rules reach a session only through
  * `GraftExtensions`. */
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
}
