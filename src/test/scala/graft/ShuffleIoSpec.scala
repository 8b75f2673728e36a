package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.ShuffleIo

/** The shuffle local-dir choice: the override first, then a tmpfs
  * only when it has room. */
class ShuffleIoSpec extends AnyFunSuite {
  private val MiB = 1L << 20

  test("SPARK_GRAFT_LOCAL_DIR wins whatever the tmpfs holds") {
    assert(ShuffleIo.chooseLocalDir(Some("/data/spark"), 0L) == Some("/data/spark"))
    assert(ShuffleIo.chooseLocalDir(Some("/data/spark"), 64L << 30) == Some("/data/spark"))
  }

  test("a 64 MB tmpfs is rejected") {
    assert(ShuffleIo.chooseLocalDir(None, 64 * MiB).isEmpty)
    assert(ShuffleIo.chooseLocalDir(None, 0L).isEmpty)
  }

  test("a large tmpfs is taken") {
    assert(ShuffleIo.chooseLocalDir(None, 16L << 30) ==
      Some("/dev/shm/graft-spark-local"))
    assert(ShuffleIo.chooseLocalDir(None, ShuffleIo.MinShmBytes).isDefined)
  }
}
