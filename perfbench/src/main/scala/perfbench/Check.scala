package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Result comparison with the semantics of `tools/check_oracle.py`:
  * same column names (order-free), same row count, then cell by cell —
  * floating values bit-exact (NaN equals NaN), everything else by value.
  * Integral and floating types are each compared within their family,
  * and temporal values as UTC wall-clock text, so a DuckDB-written
  * oracle file and a Spark result compare equal when check_oracle.py
  * would pass them.
  */
object Check {

  private def norm(v: Any): Any = v match {
    case null => null
    case d: Double => java.lang.Double.doubleToLongBits(d)  // NaN canonical
    case f: Float => java.lang.Double.doubleToLongBits(f.toDouble)
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp =>
      t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
    case t: java.time.Instant => t.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
    case t: java.time.LocalDateTime => t.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => norm(k) -> norm(x) }.toMap
    case s: scala.collection.Seq[_] => s.map(norm)
    case x => x
  }

  /** Rows as normalized cell lists, columns in name order. */
  def canonical(names: Seq[String], rows: Array[Row]): (Seq[String], IndexedSeq[Seq[Any]]) = {
    val order = names.zipWithIndex.sortBy(_._1)
    (order.map(_._1), rows.toIndexedSeq.map(r => order.map { case (_, i) => norm(r.get(i)) }))
  }

  def canonical(df: DataFrame): (Seq[String], IndexedSeq[Seq[Any]]) =
    canonical(df.columns.toSeq, df.collect())

  /** None when equal, else the first difference found. `ordered = false`
    * compares the two row multisets.
    */
  def compare(got: (Seq[String], IndexedSeq[Seq[Any]]),
      want: (Seq[String], IndexedSeq[Seq[Any]]), ordered: Boolean): Option[String] = {
    val (gc, gr) = got
    val (wc, wr) = want
    if (gc != wc) Some(s"columns differ: got=$gc want=$wc")
    else if (gr.length != wr.length) Some(s"row count differs: got=${gr.length} want=${wr.length}")
    else if (ordered)
      gr.indices.find(i => gr(i) != wr(i))
        .map(i => s"row $i differs: got=${gr(i)} want=${wr(i)}")
    else {
      val (g, w) = (gr.groupMapReduce(identity)(_ => 1)(_ + _),
        wr.groupMapReduce(identity)(_ => 1)(_ + _))
      w.find { case (r, n) => g.getOrElse(r, 0) != n }
        .map { case (r, n) => s"row $r: got ${g.getOrElse(r, 0)} times, want $n" }
    }
  }

  def oracle(spark: SparkSession, path: String): (Seq[String], IndexedSeq[Seq[Any]]) =
    canonical(spark.read.parquet(path))
}
