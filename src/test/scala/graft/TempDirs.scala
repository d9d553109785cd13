package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories for a spec: each `tmpDir` is a fresh directory
  * under `java.io.tmpdir`, and every one a spec made is removed (with its
  * contents) once the spec has run. */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[File]()

  protected def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(s"graft-$prefix").toFile
    made.add(d)
    d.getAbsolutePath
  }

  override protected def afterAll(): Unit =
    try made.forEach(d => deleteTree(d)) finally super.afterAll()

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
