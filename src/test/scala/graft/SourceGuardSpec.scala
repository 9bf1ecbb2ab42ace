package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards over `src/main/scala`: a shared intermediate table
  * is built by one function, and operators leave session state alone. */
class SourceGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources(under: Path): Seq[(Path, Seq[String])] = {
    assert(Files.isDirectory(under), s"$under not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(under)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readAllLines(p).asScala.toSeq)
    finally walk.close()
  }

  private val memoCall = """Memo\.memo\(s, "([^"]+)"""".r

  test("each literal memo tag has one call site") {
    val sites = for {
      (p, lines) <- sources(root)
      (line, i) <- lines.zipWithIndex
      m <- memoCall.findAllMatchIn(line)
    } yield m.group(1) -> s"${root.relativize(p)}:${i + 1}"
    assert(sites.nonEmpty)
    val shared = sites.groupBy(_._1).filter(_._2.size > 1)
    // two builders under one tag: whichever runs first in a session
    // decides what every other caller of the tag reads
    assert(shared.isEmpty, shared.toSeq.sortBy(_._1).map { case (tag, at) =>
      s"$tag: ${at.map(_._2).mkString(", ")}" }.mkString("\n"))
  }

  test("operators set no session conf") {
    val writes = for {
      (p, lines) <- sources(root.resolve("graft/operators"))
      (line, i) <- lines.zipWithIndex
      if line.contains("conf.set") || line.contains("conf.unset")
    } yield s"${root.relativize(p)}:${i + 1}: ${line.trim}"
    assert(writes.isEmpty, writes.mkString("\n"))
  }
}
