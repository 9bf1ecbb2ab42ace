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

  test("TxnLog publishes from one call site and reads row positions in one scan") {
    val txnLog = root.resolve("graft/sources/TxnLog.scala")
    val code = Files.readAllLines(txnLog).asScala.toSeq.zipWithIndex
      .filterNot { case (l, _) =>
        val t = l.trim; t.startsWith("*") || t.startsWith("/*") || t.startsWith("//") }
    def sites(spelling: scala.util.matching.Regex): Seq[String] =
      code.collect { case (l, i) if spelling.findFirstIn(l).isDefined =>
        s"TxnLog.scala:${i + 1}: ${l.trim}" }
    // a second publish site is a second commit protocol: its retry, ts
    // clamp and high-water carry can drift from the commit loop's
    val publish = sites("""(?<!def )\btryPublish\(""".r)
    assert(publish.size === 1, publish.mkString("\n"))
    // a second positional scan is a second deletion-vector reader
    val positions = sites("""_metadata\.row_index""".r)
    assert(positions.size === 1, positions.mkString("\n"))
  }
}
