package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Operators in `ops` (with `ops/ext`), `pipeline`, `multimodal` and `io`,
  * and the query builders in `SparkEntry`, materialize only through
  * [[graft.core.Checkpoints]]' scope, which owns every free: a raw
  * `localCheckpoint`/`persist`/`cache()`, a hand-written `unpersist` or a
  * lineage release there would bypass the single owner.
  *
  * The same sources replace an output only through
  * [[graft.io.Publish]]: a save mode that overwrites would delete the old
  * output before the job runs, so a failed rerun would leave none. */
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

  private val Overwrites = Seq(
    """SaveMode\.Overwrite""".r,
    """\.mode\(SaveMode""".r,
    """\.mode\("overwrite"\)""".r)

  /** Every call matching `banned` under `dirs` (at least `minFiles`
    * sources), as `file:line: code`. */
  private def hits(
      banned: Seq[scala.util.matching.Regex], minFiles: Int, dirs: String*): Seq[String] = {
    val files = dirs
      .flatMap(d => Files.walk(Paths.get(d)).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
    assert(files.size >= minFiles, s"found only ${files.size} sources")
    for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.exists(_.findFirstIn(code(line)).isDefined)
    } yield s"$f:${n + 1}: ${line.trim}"
  }

  test("ops/ext and pipeline materialize only through the Checkpoints scope") {
    val h = hits(Banned, 10, "src/main/scala/graft/ops", "src/main/scala/graft/pipeline",
      "src/main/scala/graft/SparkEntry.scala")
    assert(h.isEmpty, h.mkString("\n", "\n", ""))
  }

  test("multimodal materializes only through the Checkpoints scope") {
    val h = hits(Banned, 1, "src/main/scala/graft/multimodal")
    assert(h.isEmpty, h.mkString("\n", "\n", ""))
  }

  test("io materializes only through the Checkpoints scope") {
    val h = hits(Banned, 1, "src/main/scala/graft/io")
    assert(h.isEmpty, h.mkString("\n", "\n", ""))
  }

  test("engine sinks replace an output only through io.Publish") {
    val h = hits(Overwrites, 20, "src/main/scala/graft/io", "src/main/scala/graft/ops",
      "src/main/scala/graft/pipeline", "src/main/scala/graft/multimodal",
      "src/main/scala/graft/SparkEntry.scala")
      .filterNot(_.startsWith("src/main/scala/graft/io/Publish.scala:"))
    assert(h.isEmpty, h.mkString("\n", "\n", ""))
  }
}
