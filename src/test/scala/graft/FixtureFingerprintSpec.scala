package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Tables.fixtureFingerprint backs every content-addressed staging dir
  * (q216's evolve dir, the streaming rangeChunks and streamDir,
  * binaryStageDir). Fixtures come in two shapes: a single parquet FILE
  * (driver testdata) and a Spark-written parquet DIRECTORY (the 10× scale
  * tier) — the helper must fingerprint both, and the directory form must
  * change on any content change, part rename, or part add/remove, or a
  * stale staging dir gets served for regenerated data.
  */
class FixtureFingerprintSpec extends AnyFunSuite {
  private def tmpDir() = TempDirs.dir("graft_fp_spec")

  test("single file: digest is the raw-bytes md5 (staged dirs from the pre-helper era stay valid)") {
    val f = TempDirs.file("graft_fp", ".bin")
    Files.write(f, "hello graft".getBytes("UTF-8"))
    val (size, md5) = Tables.fixtureFingerprint(f)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
    assert(size == 11L)
    assert(md5 == expected)
  }

  test("directory: stable across calls, sensitive to content change") {
    val d = tmpDir()
    Files.write(d.resolve("part-00000"), "aaa".getBytes)
    Files.write(d.resolve("part-00001"), "bbb".getBytes)
    val fp1 = Tables.fixtureFingerprint(d)
    val fp2 = Tables.fixtureFingerprint(d)
    assert(fp1 == fp2)
    assert(fp1._1 == 6L)
    Files.write(d.resolve("part-00001"), "bbc".getBytes)
    assert(Tables.fixtureFingerprint(d) != fp1, "content change must change the digest")
  }

  test("directory: part rename and part add/remove both change the digest") {
    val d = tmpDir()
    Files.write(d.resolve("part-00000"), "aaa".getBytes)
    val base = Tables.fixtureFingerprint(d)
    Files.move(d.resolve("part-00000"), d.resolve("part-00007"))
    val renamed = Tables.fixtureFingerprint(d)
    assert(renamed != base, "rename must change the digest (relative path is folded in)")
    Files.write(d.resolve("_SUCCESS"), Array.emptyByteArray)
    assert(Tables.fixtureFingerprint(d) != renamed, "added file must change the digest")
  }

  test("directory: swapping content between two parts changes the digest (path-content binding)") {
    val d = tmpDir()
    Files.write(d.resolve("part-00000"), "aaa".getBytes)
    Files.write(d.resolve("part-00001"), "bbb".getBytes)
    val fp1 = Tables.fixtureFingerprint(d)
    Files.write(d.resolve("part-00000"), "bbb".getBytes)
    Files.write(d.resolve("part-00001"), "aaa".getBytes)
    val fp2 = Tables.fixtureFingerprint(d)
    assert(fp1._1 == fp2._1, "same total bytes")
    assert(fp1._2 != fp2._2, "per-file (path, bytes) folding must distinguish the swap")
  }
}
