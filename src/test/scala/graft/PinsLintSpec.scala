package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lints.
  *
  * [[graft.operators.Pins]] is the one owner of the pin lifecycle. Outside
  * `Pins.scala`, no code line of `src/main` unpersists a frame or an RDD,
  * or reaches into a plan for the RDDs behind its checkpoints; nor does
  * one checkpoint, cache or persist a frame except through a scope's
  * `p.persist`.
  *
  * Every object in [[graft.streaming]] has a caller: a code line of
  * `src/main` outside that package names it, or a live streaming object
  * does, or it is one of the `held` objects below.
  */
class PinsLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private val roots = Seq("operators", "queries").map(root.resolve)

  private val streaming = Paths.get("src/main/scala/graft/streaming")

  /** Streaming objects kept without a `src/main` caller, each with the
    * ROADMAP item that decides whether it stays: item 7 measures the
    * serve path (kNN attach and IVF probe), item 5 weighs the
    * `AvailableNow` load against `Ingest.stageAndLoad`.
    */
  private val held = Map(
    "StreamKnnFold" -> 7, "StreamIvfProbe" -> 7, "StreamingIngest" -> 5)

  private def scalaFiles(roots: Seq[Path]): Seq[Path] = roots.flatMap { r =>
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

  /** Code lines of `files` outside `Pins.scala` that `bad` matches. */
  private def hits(files: Seq[Path])(bad: String => Boolean): Seq[String] =
    for {
      f <- files if f.getFileName.toString != "Pins.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if bad(code(line))
    } yield s"$f:${i + 1}: ${line.trim}"

  /** Code lines of `files` that release a pin by hand. */
  private def releases(files: Seq[Path]): Seq[String] = hits(files)(c =>
    c.contains("unpersist(") || c.contains("LogicalRDD") ||
      c.contains("Pins.free("))

  private val scopePersist = """\bp\.persist\(""".r

  test("only Pins releases pins in operators and queries") {
    val sources = scalaFiles(roots)
    assert(sources.size > 20, s"source roots not found: $roots")
    val hits = releases(sources)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("only Pins releases pins in the rest of src/main") {
    val sources = scalaFiles(Seq(root))
      .filterNot(f => roots.exists(f.startsWith))
    assert(sources.size > 20, s"source root not found: $root")
    val hits = releases(sources)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("only Pins checkpoints or persists in src/main") {
    val sources = scalaFiles(Seq(root))
    assert(sources.size > 20, s"source root not found: $root")
    val pins = hits(sources) { line =>
      val c = scopePersist.replaceAllIn(line, "")
      c.contains("localCheckpoint(") || c.contains(".cache()") ||
        c.contains(".persist(")
    }
    assert(pins.isEmpty, pins.mkString("\n", "\n", ""))
  }

  test("every streaming object has a caller in src/main or is held") {
    val topLevel = """^(?:final\s+|case\s+)*(?:object|class|trait)\s+(\w+)""".r
    val owner: Map[String, Path] = (for {
      f <- scalaFiles(Seq(streaming))
      line <- Files.readAllLines(f).asScala
      m <- topLevel.findFirstMatchIn(line)
    } yield m.group(1) -> f).toMap
    assert(owner.nonEmpty, s"source root not found: $streaming")
    val stale = held.keySet -- owner.keySet
    assert(stale.isEmpty, s"held objects no longer exist: $stale")

    def codeOf(fs: Seq[Path]): Seq[String] =
      fs.flatMap(f => Files.readAllLines(f).asScala.map(code))
    def named(lines: Seq[String]): Set[String] = owner.keySet.filter { n =>
      val word = s"\\b$n\\b".r
      lines.exists(word.findFirstIn(_).isDefined)
    }
    val outside = scalaFiles(Seq(Paths.get("src/main/scala")))
      .filterNot(_.startsWith(streaming))
    var live = held.keySet ++ named(codeOf(outside))
    var frontier = live
    while (frontier.nonEmpty) {
      val next = named(codeOf(frontier.toSeq.map(owner))) -- live
      live ++= next
      frontier = next
    }
    val dead = (owner.keySet -- live).toSeq.sorted.map(n => s"$n (${owner(n)})")
    assert(dead.isEmpty,
      dead.mkString("no src/main caller:\n", "\n", ""))
  }
}
