package graft

/** Tracked temp dirs with one shared shutdown cleanup — the single home
  * for the "staged artifact on local disk, removed at JVM exit" pattern
  * (roundtrip table copies, bucketed tables, partitioned layouts).
  * Extracted from QRound3's staging machinery so there is exactly one
  * delete path to harden (review finding: the hook had been copied). */
object Staging {
  private val dirs = java.util.Collections.synchronizedList(
    new java.util.ArrayList[String]())

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.forEach { root =>
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val p = Paths.get(root)
      if (Files.exists(p))
        Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(Files.deleteIfExists(_))
    }))

  /** Create a temp dir that the shutdown hook will remove. */
  def trackedTempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    dirs.add(dir)
    dir
  }
}
