package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.io.{PosixRawLocalFileSystem, Writes}
import graft.streaming.StateFs

/** The program's local file system leaves exactly what Hadoop's stock
  * `LocalFileSystem` leaves — names, `.crc` sidecars, `_SUCCESS`, bytes
  * and modes — without starting a process per file and directory.
  */
class LocalWritesSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def stock: FileSystem = FileSystem.getLocal(conf)

  /** Every path under `root` (root included) with its kind and POSIX mode,
    * part-file names reduced to their task number — the UUID in them
    * differs per write; content is compared for control files only.
    */
  private def tree(root: JPath): Seq[String] =
    Files.walk(root).iterator.asScala.toSeq.map { p =>
      val rel = root.relativize(p).toString
        .replaceAll("part-(\\d+)-[0-9a-f-]+", "part-$1")
      val kind = if (Files.isDirectory(p)) "d" else "f"
      val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
      f"$kind $rel%s ${mode}%04o"
    }.sorted

  private def bytesOf(root: JPath): Map[String, Seq[Byte]] =
    Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  private def newDir(prefix: String): JPath = Files.createTempDirectory(prefix)

  /** Bytes the program's raw local file system has written, all threads. */
  private def posixBytesWritten(): Long = {
    @annotation.nowarn("cat=deprecation")
    def stats = FileSystem.getStatistics("file", classOf[PosixRawLocalFileSystem])
    stats.getBytesWritten
  }

  private def totalBytes(root: JPath): Long =
    Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** `jdk.ProcessStart` events whose command names `dir`, across `f`. */
  private def processStarts[A](dir: JPath)(f: => A): (A, Int) = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val a = try f finally rec.stop()
    val dump = Files.createTempFile("graft-local-writes", ".jfr")
    try {
      rec.dump(dump)
      val n = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .count(e => e.getEventType.getName == "jdk.ProcessStart" &&
          e.getString("command").contains(dir.toString))
      (a, n)
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  private def frame: DataFrame =
    spark.range(0, 200, 1, 3).select(col("id"), (col("id") % 4).alias("k"))

  test("a parquet write through the write entry leaves the stock layout and" +
      " modes, starts no process, and its bytes land through the program's FS") {
    val (viaStock, viaEntry) = (newDir("graft-stock"), newDir("graft-entry"))
    val (_, stockForks) = processStarts(viaStock)(
      frame.write.mode("overwrite").parquet(s"$viaStock/out"))
    val before = posixBytesWritten()
    val (_, entryForks) = processStarts(viaEntry)(
      Writes.of(frame).mode("overwrite").parquet(s"$viaEntry/out"))
    assert(posixBytesWritten() - before == totalBytes(viaEntry.resolve("out")))
    assert(tree(viaEntry) == tree(viaStock))
    assert(tree(viaEntry).exists(_.startsWith("f out/._SUCCESS.crc ")))
    assert(tree(viaEntry).count(_.matches("f out/\\.part-.*\\.crc \\d+")) == 3)
    assert(stockForks > 0, "the stock write started no process: nothing to compare")
    assert(entryForks == 0, s"the write entry started $entryForks processes")
    assert(spark.read.parquet(s"$viaEntry/out").orderBy("id").collect()
      .sameElements(frame.orderBy("id").collect()))
  }

  test("a partitionBy parquet write through the write entry leaves the stock" +
      " layout and modes") {
    val (viaStock, viaEntry) = (newDir("graft-stock"), newDir("graft-entry"))
    frame.write.mode("overwrite").partitionBy("k").parquet(s"$viaStock/out")
    val (_, entryForks) = processStarts(viaEntry)(
      Writes.of(frame).mode("overwrite").partitionBy("k").parquet(s"$viaEntry/out"))
    assert(tree(viaEntry) == tree(viaStock))
    assert(tree(viaEntry).count(_.startsWith("d out/k=")) == 4)
    assert(entryForks == 0, s"the write entry started $entryForks processes")
  }

  test("StateFs control files match the stock FS's names, .crc files, bytes" +
      " and modes; the program's FS counts their bytes; an exclusive create" +
      " of an existing file still fails") {
    val (viaStock, viaState) = (newDir("graft-stock"), newDir("graft-state"))
    def stockCreate(p: String, body: String): Unit = {
      val path = new Path(p)
      stock.mkdirs(path.getParent)
      val out = stock.create(path, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    stockCreate(s"$viaStock/state/_vmanifest_1", "horizon 0\n#end")
    stockCreate(s"$viaStock/state/_expired_through_3", "")
    stockCreate(s"$viaStock/claims/_rewrite_2", "")
    val before = posixBytesWritten()
    val (_, forks) = processStarts(viaState) {
      StateFs.writeFile(spark, s"$viaState/state/_vmanifest_1", "horizon 0\n#end")
      StateFs.touch(spark, s"$viaState/state/_expired_through_3")
      StateFs.touchExclusive(spark, s"$viaState/claims/_rewrite_2")
    }
    assert(tree(viaState) == tree(viaStock))
    assert(bytesOf(viaState) == bytesOf(viaStock))
    assert(tree(viaState).exists(_.startsWith("f state/._vmanifest_1.crc ")))
    assert(posixBytesWritten() - before == totalBytes(viaState))
    assert(forks == 0, s"StateFs started $forks processes")
    val err = intercept[IllegalStateException](
      StateFs.touchExclusive(spark, s"$viaState/claims/_rewrite_2"))
    assert(err.getMessage.contains("concurrent writer"))
  }

  test("a mode with the sticky bit takes Hadoop's own path and keeps the bit;" +
      " a plain mode is set in-process") {
    val root = newDir("graft-sticky")
    val fs = Writes.localFs(conf)
    val (sticky, plain) = (root.resolve("sticky"), root.resolve("plain"))
    fs.mkdirs(new Path(sticky.toString))
    fs.mkdirs(new Path(plain.toString))
    def mode(p: JPath) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    val (_, stickyForks) = processStarts(root)(
      fs.setPermission(new Path(sticky.toString), new FsPermission(Integer.parseInt("1750", 8).toShort)))
    val (_, plainForks) = processStarts(root)(
      fs.setPermission(new Path(plain.toString), new FsPermission(Integer.parseInt("0750", 8).toShort)))
    assert(mode(sticky) == Integer.parseInt("1750", 8), f"${mode(sticky)}%o")
    assert(mode(plain) == Integer.parseInt("0750", 8), f"${mode(plain)}%o")
    assert(stickyForks == 1, s"sticky mode started $stickyForks processes")
    assert(plainForks == 0, s"plain mode started $plainForks processes")
  }

  test("a directory that inherits set-group-ID keeps it, as under the stock FS") {
    val (viaStock, viaPosix) = (newDir("graft-stock"), newDir("graft-posix"))
    Seq(viaStock, viaPosix).foreach(d =>
      Files.setAttribute(d, "unix:mode", Integer.parseInt("2755", 8)))
    stock.mkdirs(new Path(s"$viaStock/a/b"))
    Writes.localFs(conf).mkdirs(new Path(s"$viaPosix/a/b"))
    assert(tree(viaPosix) == tree(viaStock))
    assert(tree(viaPosix).contains("d a/b 2755"), tree(viaPosix).mkString("; "))
  }
}
