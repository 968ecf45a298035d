package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.io.Writes
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [name ...]
  *
  * With no names every registered query is dumped (the driver contract).
  * Named queries restrict the dump, and oracle_sql.json, to those
  * entries, so `tools/check_oracle.py` can gate one query without the
  * full-registry run. Unknown names fail before any query runs. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [name ...]")
    val (sfDir, outDir, names) = (args(0), args(1), args.drop(2).toSeq)
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"unknown queries: ${unknown.mkString(", ")} — " +
          s"valid names:\n  ${registry.keys.toSeq.sorted.mkString("\n  ")}")
      sys.exit(2)
    }
    val selected =
      if (names.isEmpty) registry.toSeq else names.map(n => n -> registry(n))
    val spark = GraftSession.build("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try Writes.of(fn(spark, sfDir).coalesce(1)).mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names.isEmpty || names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
