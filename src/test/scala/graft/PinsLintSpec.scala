package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: [[graft.operators.Pins]] is the one owner of the pin
  * lifecycle in the operators and queries. Outside `Pins.scala`, no
  * code line there unpersists a frame or an RDD, or reaches into a
  * plan for the RDDs behind its checkpoints.
  */
class PinsLintSpec extends AnyFunSuite {

  private val roots = Seq("src/main/scala/graft/operators",
    "src/main/scala/graft/queries").map(Paths.get(_))

  private def sources: Seq[Path] = roots.flatMap { r =>
    val s = Files.walk(r)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** The line without a trailing `//` comment; scaladoc and block
    * comment lines are dropped whole.
    */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else t.indexOf("//") match {
      case -1 => t
      case i => t.take(i)
    }
  }

  test("only Pins releases pins in operators and queries") {
    assert(sources.size > 20, s"source roots not found: $roots")
    val hits = for {
      f <- sources if f.getFileName.toString != "Pins.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      c = code(line)
      if c.contains("unpersist(") || c.contains("LogicalRDD") ||
        c.contains("Pins.free(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
