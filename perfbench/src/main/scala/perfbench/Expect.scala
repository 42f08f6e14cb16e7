package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Writes the query tables and the expected-output file for the query
  * suites: `rows:<n>` for queries without an oracle, else the canonical
  * hash. Run it once per change of the tables or lists, after checking
  * the same outputs against the DuckDB oracle (graft.Verify plus
  * scripts/check_oracle.py on the tables written here).
  *
  *   perfbench.Expect <tables dir> <expected tsv>
  */
object Expect {
  def main(args: Array[String]): Unit = {
    val Array(dir, tsv) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Not inside `dir`: the streaming queries list the table directory.
      .config("spark.sql.warehouse.dir", new File(dir).getAbsolutePath + "-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new File(dir).mkdirs()
    Data.writeQueryTables(spark, QuerySuite.DataSeed, dir)
    val keys = QuerySuite.batch ++ QuerySuite.stream
    SparkEntry.warmups.filter(w => keys.exists(w.appliesTo)).foreach(_.run(spark, dir))
    val oracle = SparkEntry.oracleSql.keySet ++ SparkEntry.dynamicOracleSql(spark, dir).keySet
    val w = new PrintWriter(tsv, "UTF-8")
    try {
      w.println(s"# expected outputs of the query suites on tables of data seed ${QuerySuite.DataSeed}")
      keys.sorted.foreach { k =>
        spark.catalog.clearCache()
        val df = SparkEntry.queries(k)(spark, dir)
        w.println(k + "\t" + (if (oracle(k)) Check.queryHash(df) else s"rows:${df.count()}"))
      }
    } finally w.close()
    spark.stop()
  }
}
