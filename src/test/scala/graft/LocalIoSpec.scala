package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.LocalIo

/** The tmpfs scratch sweep deletes stale entries but never one a live
 * process owns, however old. */
class LocalIoSpec extends AnyFunSuite {

  private def entry(root: File, name: String, ageMs: Long): File = {
    val d = new File(root, name)
    assert(d.mkdirs())
    Files.write(new File(d, "blob").toPath, Array[Byte](1, 2, 3))
    assert(d.setLastModified(System.currentTimeMillis() - ageMs))
    d
  }

  test("sweep keeps live-owned and recent entries, deletes stale ones") {
    val root = Files.createTempDirectory("graft-sweep").toFile
    val hour = 60L * 60 * 1000
    val self = ProcessHandle.current().pid()
    // a pid no process can hold (beyond any kernel's pid_max)
    val dead = 999999999L
    assert(!ProcessHandle.of(dead).isPresent)
    val liveOld = entry(root, s"pid-$self", 5 * hour)
    val deadOld = entry(root, s"pid-$dead", 5 * hour)
    val deadNew = entry(root, s"pid-$dead-x", 0L) // not the pid form: age rules
    val staleFixture = entry(root, "graft-old-fixture", 5 * hour)
    val freshFixture = entry(root, "graft-new-fixture", 0L)
    LocalIo.sweep(root, System.currentTimeMillis() - 2 * hour)
    assert(liveOld.isDirectory && new File(liveOld, "blob").isFile,
      "a live process's scratch was deleted")
    assert(!deadOld.exists(), "a dead process's stale scratch survived")
    assert(deadNew.isDirectory && freshFixture.isDirectory)
    assert(!staleFixture.exists())
  }

  test("ownedScratch names the dir after this process only on the tmpfs redirect") {
    val tmp = System.getProperty("java.io.tmpdir", "")
    LocalIo.ownedScratch() match {
      case Some(d) =>
        assert(tmp.startsWith("/dev/shm/"))
        assert(new File(d).getName == s"pid-${ProcessHandle.current().pid()}")
        assert(new File(d).isDirectory)
      case None => assert(!tmp.startsWith("/dev/shm/"))
    }
  }
}
