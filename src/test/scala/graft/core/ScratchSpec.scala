package graft.core

import java.io.File
import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

class ScratchSpec extends AnyFunSuite {

  test("tmpfs is elected only as a writable directory with the minimum space free") {
    val dir = Files.createTempDirectory("scratch-spec").toFile
    try {
      val min = Scratch.MinTmpfsBytes
      assert(Scratch.pick(isDirectory = true, writable = true, min, "/fallback") === "/dev/shm")
      val missing = new File(dir, "absent")
      assert(Scratch.pick(missing.isDirectory, missing.canWrite, missing.getUsableSpace,
        "/fallback") === "/fallback")
      assert(Scratch.pick(isDirectory = true, writable = false, 4 * min, "/fallback") === "/fallback")
      assert(Scratch.pick(isDirectory = true, writable = true, min - 1, "/fallback") === "/fallback")
    } finally FileUtils.deleteQuietly(dir)
  }

  test("release removes one application's run directories and leaves the rest") {
    val dir = Files.createTempDirectory("scratch-spec").toFile
    try {
      def runDir(name: String): File = {
        val d = new File(dir, name)
        d.mkdirs()
        Files.write(new File(d, "part-00000").toPath, Array[Byte](1, 2, 3))
        d
      }
      val released = Seq(runDir("graft_csv_local-17_ab12"), runDir("graft_orc_local-17_9f"))
      // another application (including one whose id extends this one's)
      // and the dataset-keyed snapshot directories stay
      val kept = Seq(runDir("graft_csv_local-171_ab12"), runDir("graft_csv_local-2_ab12"),
        runDir("graft_snap_ab12"))
      Scratch.release(dir, "local-17")
      assert(released.forall(!_.exists))
      assert(kept.forall(d => new File(d, "part-00000").exists))
    } finally FileUtils.deleteQuietly(dir)
  }
}
