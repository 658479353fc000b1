package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** Scratch placement falls back to the disk-backed tmpdir when tmpfs is
  * too small to hold an entry's stream scratch. */
class TmpDirsSpec extends AnyFunSuite {

  test("a 64 MB tmpfs falls back to java.io.tmpdir") {
    assert(TmpDirs.choose("/dev/shm", 64L << 20, "/tmp") == "/tmp")
  }

  test("a roomy tmpfs is kept; the floor itself is enough") {
    assert(TmpDirs.choose("/dev/shm", 16L << 30, "/tmp") == "/dev/shm")
    assert(TmpDirs.choose("/dev/shm", TmpDirs.MinFastBytes, "/tmp") == "/dev/shm")
    assert(TmpDirs.choose("/dev/shm", TmpDirs.MinFastBytes - 1, "/tmp") == "/tmp")
  }

  test("a missing or read-only tmpfs (no usable bytes) falls back") {
    assert(TmpDirs.choose("/dev/shm", 0L, "/tmp") == "/tmp")
  }
}
