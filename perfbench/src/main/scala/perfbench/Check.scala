package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Output checks. Nothing here calls into the program: the expected MR
  * results come from a plain-Scala model of each built-in job type, and
  * query outputs are reduced to a canonical hash that was cross-checked
  * once against the DuckDB oracle (see `expected/queries.tsv`).
  */
object Check {

  /** The built-in job types the workloads rotate through. */
  val jobTypes: Seq[String] = Seq("wordcount", "charcount", "distinct", "identity")

  /** The result list the service must return for `jobType` over `kvs`, in
    * order: results are concatenated in ascending key order (bytewise,
    * which is String order for the ASCII inputs used here); `identity`
    * emits `key\tvalue` per input pair with values sorted within a key.
    */
  def expected(jobType: String, kvs: Seq[(String, String)]): IndexedSeq[String] = {
    def counts(tokens: Iterator[String]): IndexedSeq[(String, Long)] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      tokens.foreach(t => m(t) = m.getOrElse(t, 0L) + 1L)
      m.toIndexedSeq.sortBy(_._1)
    }
    def words = kvs.iterator.flatMap(_._2.split(' ')).filter(_.nonEmpty)
    jobType match {
      case "wordcount" => counts(words).map(_._2.toString)
      case "charcount" => counts(kvs.iterator.flatMap(_._2.toLowerCase.iterator
        .filter(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')).map(_.toString)))
        .map(_._2.toString)
      case "distinct" => words.toSet.toIndexedSeq.sorted
      case "identity" => kvs.sortBy(identity).map { case (k, v) => s"$k\t$v" }.toIndexedSeq
    }
  }

  /** Order-sensitive digest of a row stream: count plus SHA-256 over the
    * rows in stream order, so a reordered, truncated or altered stream
    * never matches.
    */
  def digest(rows: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0L
    rows.foreach { s => md.update(s.getBytes("UTF-8")); md.update(0.toByte); n += 1 }
    s"$n:" + hex(md.digest())
  }

  /** Canonical hash of a query result: columns by name, each row rendered
    * to text, rows sorted — the same normalisation the oracle compare
    * applies, so an order-free result hashes the same however Spark
    * partitioned it.
    */
  def queryHash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val lines = df.select(cols.map(df.col).toIndexedSeq: _*).collect()
      .map(render).sorted
    cols.mkString(",") + "|" + digest(lines.iterator)
  }

  private def render(r: Row): String =
    (0 until r.length).map(i => value(r.get(i))).mkString("\u0001")

  private def value(v: Any): String = v match {
    case null => "∅"
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => render(r)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => hex(b)
    // Ten significant digits: last-bit differences between equally valid
    // summation orders must not change the hash.
    case d: Double => new java.math.BigDecimal(d).round(new java.math.MathContext(10)).toString
    case f: Float => new java.math.BigDecimal(f.toDouble).round(new java.math.MathContext(7)).toString
    case x => x.toString
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString
}
