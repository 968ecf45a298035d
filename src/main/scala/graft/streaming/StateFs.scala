package graft.streaming

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-`FileSystem` spellings of the streaming state-machinery file
  * operations — generation listings, commit probes, rewrite claims,
  * retention markers, manifests. Every path resolves through
  * `Path.getFileSystem(hadoopConf)`, so the SAME code serves `file:`
  * paths in the sandbox and `hdfs:` / object-store URIs in a deployment;
  * the `java.io.File` forms these replace could never leave a local
  * disk, which made the 100 TB durability story a caveat instead of a
  * property. Object-store posture: every CONTROL operation the state
  * machinery commits through is a single-object create (a generation's
  * `_SUCCESS`, a rewrite claim, a retention marker) — atomic on local,
  * HDFS, and S3-like stores alike. `rename` (atomic on local/HDFS,
  * copy-based on S3-likes) appears nowhere on a commit path: a
  * compaction or erasure writes a NEW generation beside the ones it
  * reads and commits it with one create (`EventStream` documents the
  * log), the table-format snapshot-per-commit discipline.
  */
private[graft] object StateFs {

  /** FS round-trip counters — the manifest's measured claim
    * (fewer metadata probes per read) is assertable instead of argued:
    * every `list`/`exists`/`readFileOpt` bumps its counter, and the
    * spec brackets a read in both serving modes. Monotone and global;
    * specs compare DELTAS, so concurrent bumps only ever make the
    * assertion harder, never false-positive.
    */
  private[graft] val listCalls = new java.util.concurrent.atomic.AtomicLong
  private[graft] val existsCalls = new java.util.concurrent.atomic.AtomicLong
  private[graft] val readCalls = new java.util.concurrent.atomic.AtomicLong

  // the SHARED driver Hadoop conf, read-only here — `newHadoopConf()`
  // would CLONE the full SparkConf+Hadoop conf on every commit probe,
  // and a generation listing multiplies that by one exists() per dir;
  // the shared instance also keys Hadoop's FileSystem cache, so repeat
  // calls reuse one client per scheme. A local path goes to the program's
  // one local file system (`graft.io.Writes`), which creates markers and
  // manifests without starting a `chmod` process per file and directory.
  private def fsOf(spark: SparkSession, p: Path): FileSystem = {
    val conf = spark.sparkContext.hadoopConfiguration
    p.getFileSystem(conf) match {
      case _: LocalFileSystem => graft.io.Writes.localFs(conf)
      case fs => fs
    }
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    existsCalls.incrementAndGet()
    val p = new Path(path)
    fsOf(spark, p).exists(p)
  }

  /** Create an empty marker file, parents included — idempotent (a
    * re-run overwrites the zero-byte marker with itself). For
    * IDEMPOTENT markers only (retention horizons): a marker whose second
    * create is evidence of a concurrent writer (a rewrite claim) must go
    * through [[touchExclusive]] instead.
    */
  def touch(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  /** CREATE-ONLY marker create — fails with a named error when the file
    * already exists instead of silently overwriting it. This is the
    * claim primitive of the log's rewrites: two racing writers that both
    * compute the same next rewrite sequence must not BOTH "successfully"
    * commit (last-writer-wins would silently discard one writer's
    * rewrite — an erasure, possibly), so the claim is an exclusive
    * create.
    *
    * FILESYSTEM REQUIREMENT: exclusivity is only as strong as the
    * store's create-no-overwrite. Local posix and HDFS give it
    * natively. Object stores do NOT by default: Hadoop S3A's
    * `create(path, overwrite = false)` is an exists-check-then-PUT —
    * two racing writers can BOTH "succeed" — unless conditional create
    * is enabled (`fs.s3a.create.conditional` / HTTP `If-None-Match: *`,
    * S3A ≥ 3.4.1 against stores supporting conditional put). Deploying
    * the log on an object store without that capability silently
    * voids claim exclusivity; enable conditional create or front the
    * table with HDFS.
    */
  def touchExclusive(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    fs.mkdirs(p.getParent)
    try fs.create(p, false).close()
    catch {
      case e: java.io.IOException =>
        throw new IllegalStateException(
          s"create-only marker $path could not be created " +
            "(a concurrent writer created it first)", e)
    }
  }

  /** Delete a single file; a missing path is a no-op (a failed writer's
    * claim, a superseded marker or manifest — recursive delete of a FILE
    * would succeed too, but the intent here is never a directory).
    */
  def deleteFile(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fsOf(spark, p).delete(p, false)
    ()
  }

  /** Child names of `dir`; empty when the dir is missing (the java.io
    * `list() == null` case every caller used to special-case).
    */
  def list(spark: SparkSession, dir: String): Seq[String] = {
    listCalls.incrementAndGet()
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Write a small CONTROL file (manifest) — create parents, overwrite.
    * Content-bearing, so torn writes are possible by construction; every
    * reader of such files must validate a terminator and fall back (the
    * manifest contract) — commit evidence stays name-encoded markers.
    */
  def writeFile(spark: SparkSession, path: String, content: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a small control file; None when missing. */
  def readFileOpt(spark: SparkSession, path: String): Option[String] = {
    readCalls.incrementAndGet()
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Recursive delete; a missing path is a no-op. */
  def deleteRecursively(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fsOf(spark, p).delete(p, true)
    ()
  }

}
