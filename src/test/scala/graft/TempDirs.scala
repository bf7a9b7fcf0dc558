package graft

import java.io.File
import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories for one suite: every [[tmpDir]] is created under a
  * single per-suite root in java.io.tmpdir, and `afterAll` deletes that
  * root. Nothing outside the root is touched — in particular not the
  * indexes EngineQueries caches directly in java.io.tmpdir. */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>

  private var root: Option[Path] = None

  private def suiteRoot: Path = synchronized {
    root.getOrElse {
      val r = Files.createTempDirectory(s"graft-$suiteName-")
      root = Some(r)
      r
    }
  }

  /** A fresh empty directory, deleted with the suite's root. */
  protected def tmpDir(): String = Files.createTempDirectory(suiteRoot, "d").toString

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized { root.foreach(r => delete(r.toFile)); root = None }

  // symlinks are deleted, never followed
  private def delete(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
