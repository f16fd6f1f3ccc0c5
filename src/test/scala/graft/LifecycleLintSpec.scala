package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Operators in `ops/ext`, `pipeline`, `multimodal` and `io` materialize
  * only through [[graft.core.Checkpoints]]' scope, which owns every free:
  * a raw `localCheckpoint`/`persist`/`cache()`, a hand-written
  * `unpersist` or a lineage release there would bypass the single owner. */
class LifecycleLintSpec extends AnyFunSuite {

  private val Banned = Seq(
    """\.localCheckpoint\(""".r,
    """(?<!Checkpoints)\.persist\(""".r,
    """\.cache\(\)""".r,
    """\.unpersist\(""".r,
    """Checkpoints\.release\(""".r,
    """releaseExcept""".r)

  /** A source line without its comment: Scaladoc and block-comment lines
    * start with a star or a comment opener, and a line comment runs from
    * its double slash. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) "" else t.split("//", 2)(0)
  }

  /** Every banned call under `dirs` (at least `minFiles` sources), as
    * `file:line: code`. */
  private def hits(minFiles: Int, dirs: String*): Seq[String] = {
    val files = dirs
      .flatMap(d => Files.walk(Paths.get(d)).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
    assert(files.size >= minFiles, s"found only ${files.size} sources")
    for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if Banned.exists(_.findFirstIn(code(line)).isDefined)
    } yield s"$f:${n + 1}: ${line.trim}"
  }

  test("ops/ext and pipeline materialize only through the Checkpoints scope") {
    val h = hits(10, "src/main/scala/graft/ops/ext", "src/main/scala/graft/pipeline")
    assert(h.isEmpty, h.mkString("\n", "\n", ""))
  }

  test("multimodal materializes only through the Checkpoints scope") {
    val h = hits(1, "src/main/scala/graft/multimodal")
    assert(h.isEmpty, h.mkString("\n", "\n", ""))
  }

  test("io materializes only through the Checkpoints scope") {
    val h = hits(1, "src/main/scala/graft/io")
    assert(h.isEmpty, h.mkString("\n", "\n", ""))
  }
}
