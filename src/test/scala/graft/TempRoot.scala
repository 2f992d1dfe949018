package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.util.Try

import org.scalatest.{BeforeAndAfterAll, Suite}

/** One temp root per suite, deleted with everything under it after the
  * suite's last test. Suites that write fixtures, checkpoints or ledger
  * copies take their paths from [[tempDir]] and [[tempFile]] instead of
  * the system temp dir, where every run would otherwise leave them. */
trait TempRoot extends BeforeAndAfterAll { this: Suite =>

  private var root: Option[Path] = None

  private def rootDir: Path = synchronized {
    root.getOrElse {
      val r = Files.createTempDirectory(s"graft-${getClass.getSimpleName}-")
      root = Some(r)
      r
    }
  }

  /** A fresh directory under the suite's root. */
  protected def tempDir(prefix: String): String =
    Files.createTempDirectory(rootDir, prefix).toString

  /** A fresh empty file under the suite's root. */
  protected def tempFile(prefix: String, suffix: String): Path =
    Files.createTempFile(rootDir, prefix, suffix)

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      // best effort: a file that a stopping query's thread still writes
      // must not fail the suite
      root.foreach { r =>
        Try {
          val walk = Files.walk(r)
          try walk.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Try(Files.deleteIfExists(p)))
          finally walk.close()
        }
      }
      root = None
    }
}
