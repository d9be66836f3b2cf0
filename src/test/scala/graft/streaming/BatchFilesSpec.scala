package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the checkpoint file-source-log parser that powers
  * per-micro-batch schema re-resolution (CdcStream.resolveBatch).
  * Any surprise must yield None so the caller falls back to the
  * `_metadata.file_path` scan — never a wrong file list.
  */
class BatchFilesSpec extends AnyFunSuite {

  private def ckpt(): String = {
    val d = Files.createTempDirectory("bf").toString
    Files.createDirectories(Paths.get(d, "sources", "0"))
    d
  }

  private def write(ckptDir: String, name: String, lines: String*): Unit =
    Files.writeString(Paths.get(ckptDir, "sources", "0", name), lines.mkString("\n"))

  test("plain batch file: v1 header + one entry per admitted file") {
    val d = ckpt()
    write(d, "3",
      "v1",
      """{"path":"file:///data/log/chunk=0/part-a.parquet","timestamp":1,"batchId":3}""",
      """{"path":"file:///data/log/chunk=0/part-b.parquet","timestamp":2,"batchId":3}""")
    assert(CdcStream.batchFiles(d, 3L).contains(Seq(
      "file:///data/log/chunk=0/part-a.parquet",
      "file:///data/log/chunk=0/part-b.parquet")))
  }

  test("compact file: full history tagged by batchId; only this batch's adds returned") {
    val d = ckpt()
    write(d, "9.compact",
      "v1",
      """{"path":"file:///a.parquet","timestamp":1,"batchId":7}""",
      """{"path":"file:///b.parquet","timestamp":2,"batchId":9}""",
      """{"path":"file:///c.parquet","timestamp":3,"batchId":9}""")
    assert(CdcStream.batchFiles(d, 9L).contains(Seq("file:///b.parquet", "file:///c.parquet")))
  }

  test("escaped path characters are unescaped") {
    val d = ckpt()
    write(d, "0",
      "v1",
      """{"path":"file:///x\/y\/z.parquet","timestamp":1,"batchId":0}""")
    assert(CdcStream.batchFiles(d, 0L).contains(Seq("file:///x/y/z.parquet")))
  }

  test("missing batch file, bad header, or empty entry set -> None (caller falls back)") {
    val d = ckpt()
    assert(CdcStream.batchFiles(d, 5L).isEmpty)
    write(d, "6", "v2", """{"path":"file:///a","batchId":6}""")
    assert(CdcStream.batchFiles(d, 6L).isEmpty)
    write(d, "7", "v1") // header only — no entries for this batch
    assert(CdcStream.batchFiles(d, 7L).isEmpty)
    assert(CdcStream.batchFiles("/nonexistent-ckpt", 1L).isEmpty)
  }
}
