package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Operators in `ops/ext` and `pipeline` materialize only through
  * [[graft.core.Checkpoints]]' scope, which owns every free: a raw
  * `localCheckpoint`/`persist` or a hand-written lineage release there
  * would bypass the single owner. */
class LifecycleLintSpec extends AnyFunSuite {

  private val Banned = Seq(
    """\.localCheckpoint\(""".r,
    """(?<!Checkpoints)\.persist\(""".r,
    """Checkpoints\.release\(""".r,
    """releaseExcept""".r)

  /** A source line without its comment: Scaladoc and block-comment lines
    * start with a star or a comment opener, and a line comment runs from
    * its double slash. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) "" else t.split("//", 2)(0)
  }

  test("ops/ext and pipeline materialize only through the Checkpoints scope") {
    val files = Seq("src/main/scala/graft/ops/ext", "src/main/scala/graft/pipeline")
      .flatMap(d => Files.walk(Paths.get(d)).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
    assert(files.size >= 10, s"found only ${files.size} sources")
    val hits = for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if Banned.exists(_.findFirstIn(code(line)).isDefined)
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
