package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** One temp root per suite under `target/`, holding every table and
  * checkpoint directory the suite creates, and deleted in `afterAll` —
  * so a run leaves no per-test directories behind. */
trait SuiteTempRoot extends BeforeAndAfterAll { this: Suite =>
  @volatile private var root: Option[Path] = None

  private def suiteRoot: Path = synchronized {
    root.getOrElse {
      val target = Files.createDirectories(Paths.get("target").toAbsolutePath)
      val r = Files.createTempDirectory(target, getClass.getSimpleName + "-")
      root = Some(r)
      r
    }
  }

  /** A fresh directory under this suite's root. */
  protected def suiteTempDir(prefix: String): String =
    Files.createTempDirectory(suiteRoot, prefix).toString

  override protected def afterAll(): Unit =
    try root.foreach { r =>
      val walk = Files.walk(r)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    } finally super.afterAll()
}
