package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every file the program writes goes through its one local file system
  * (`graft.io.Writes`): a DataFrame `.write` that bypasses the write entry,
  * or a file-system lookup outside `StateFs` and `graft.io`, would bring
  * back Hadoop's per-file `chmod` process on a local disk. Scans the main
  * sources, comments stripped.
  */
class WritePathGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  // `.write` as a DataFrame writer, not `OutputStream.write(...)`,
  // `writeStream` or `writeTo`; the `noop` sink and the BigQuery connector
  // write no local file
  private val bypass =
    """\.write\b(?!\s*\()(?!\s*\.\s*format\("(noop|bigquery)"\))""".r
  private val fsLookup =
    """\bgetFileSystem\b|\bFileSystem\s*\.\s*(get|getLocal|newInstance)\b""".r

  private def stripComments(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  private def sources: Seq[(String, String)] =
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> stripComments(Files.readString(p)))
      .toSeq.sortBy(_._1)

  private def hits(src: String, pattern: scala.util.matching.Regex): Seq[String] =
    pattern.findAllMatchIn(src).map { m =>
      src.substring(src.lastIndexOf('\n', m.start) + 1,
        Some(src.indexOf('\n', m.end)).filter(_ >= 0).getOrElse(src.length)).trim
    }.toSeq

  test("the detectors flag a bypass and pass the entry and the exempt sinks") {
    assert(hits("df.write.mode(\"overwrite\").parquet(p)", bypass).nonEmpty)
    assert(hits("df.coalesce(1)\n  .write\n  .parquet(p)", bypass).nonEmpty)
    assert(hits("p.getFileSystem(conf)", fsLookup).nonEmpty)
    assert(hits("FileSystem.get(uri, conf)", fsLookup).nonEmpty)
    Seq("Writes.of(df).mode(\"overwrite\").parquet(p)",
        "df.write.format(\"noop\").mode(\"overwrite\").save()",
        "df.write.format(\"bigquery\").save()",
        "out.write(bytes)", "df.writeStream.start()")
      .foreach(ok => assert(hits(ok, bypass).isEmpty, ok))
    val commented = stripComments("// df.write.parquet(p)\n/* p.getFileSystem(c) */")
    assert(hits(commented, bypass).isEmpty && hits(commented, fsLookup).isEmpty)
  }

  test("every file-writing DataFrame write in src/main goes through Writes.of") {
    val found = sources.filterNot(_._1 == "graft/io/Writes.scala")
      .flatMap { case (file, src) => hits(src, bypass).map(l => s"$file: $l") }
    assert(found.isEmpty,
      s"DataFrame writes bypassing graft.io.Writes.of:\n${found.mkString("\n")}")
  }

  test("file systems are resolved only in StateFs and graft.io") {
    val found = sources
      .filterNot { case (file, _) =>
        file == "graft/streaming/StateFs.scala" || file.startsWith("graft/io/") }
      .flatMap { case (file, src) => hits(src, fsLookup).map(l => s"$file: $l") }
    assert(found.isEmpty,
      s"file-system lookups outside StateFs and graft.io:\n${found.mkString("\n")}")
  }
}
