package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Physical-layout verification: bucketed joins plan without a shuffle;
  * partitioned scans prune directories; the persisted-layout lifecycle
  * sweeps exactly one role's superseded generations on one source path.
  */
class StorageSpec extends SparkSuite {

  test("bucketed join is shuffle-free (no Exchange on either side)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    Storage.writeBucketed(li, "li_b", "l_orderkey", 8)
    Storage.writeBucketed(o, "o_b", "o_orderkey", 8)
    // Disable auto-broadcast so the plan exercises the co-located
    // sort-merge path a 100 TB fact-fact join would take (at sf0.001
    // everything fits under the broadcast threshold).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("o_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(plan.contains("Bucketed: true"), plan.take(800))
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      // one exchange is allowed for the final groupBy; the join adds none
      assert(exchanges <= 1, s"unexpected join shuffles:\n${plan.take(1500)}")
      // correctness unchanged
      val expect = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned write prunes on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/events"
    val ev = graft.Tables.load(spark, sf, "events")
      .withColumn("event_date", to_date(col("ts")))
    Storage.writePartitioned(ev, dir, Seq("event_date"))
    val pruned = spark.read.parquet(dir)
      .filter(col("event_date") === "2024-01-02")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(800))
    val expected = ev.filter(to_date(col("ts")) === "2024-01-02").count()
    assert(pruned.count() == expected)
    assert(expected > 0)
  }

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** A tiny corpus of `n` rows at `dir`; rewriting it with another `n`
    * is a regeneration at the same path (file sizes change).
    */
  private def corpus(dir: String, n: Int): String = {
    spark.range(n).toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")
    s"$dir/t.parquet"
  }

  private var builds = 0

  private def layout(roles: Seq[String], src: String): Seq[String] =
    Storage.ensureLayout(spark, roles, Seq(src)) { names =>
      builds += 1
      names.foreach(t =>
        spark.range(1).write.mode("overwrite").format("parquet").saveAsTable(t))
    }

  private def exists(t: String) = spark.catalog.tableExists(t)

  test("layout lifecycle: two roles on one corpus coexist; a partial layout is rebuilt") {
    val src = corpus(tmpDir("graft_lc_roles"), 10)
    val Seq(x) = layout(Seq("graft_lca_x_"), src)
    val Seq(y) = layout(Seq("graft_lca_y_"), src)
    assert(x != y && exists(x) && exists(y))
    val before = builds
    assert(layout(Seq("graft_lca_x_"), src) == Seq(x), "ensure is idempotent")
    assert(builds == before, "an existing layout must not be rebuilt")
    // two-table layout with one table missing: absent, rebuilt whole
    val Seq(p, q) = layout(Seq("graft_lca_p_", "graft_lca_q_"), src)
    spark.sql(s"DROP TABLE $q")
    assert(layout(Seq("graft_lca_p_", "graft_lca_q_"), src) == Seq(p, q))
    assert(builds == before + 2 && exists(p) && exists(q))
    Seq(x, y, p, q).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("layout lifecycle: regenerating a corpus sweeps only that role's old generation") {
    val dir = tmpDir("graft_lc_regen")
    val src = corpus(dir, 10)
    val Seq(oldX) = layout(Seq("graft_lcb_x_"), src)
    val Seq(oldY) = layout(Seq("graft_lcb_y_"), src)
    corpus(dir, 20)
    val Seq(newX) = layout(Seq("graft_lcb_x_"), src)
    assert(newX != oldX && exists(newX))
    assert(!exists(oldX), "the superseded generation of the rebuilt role must be swept")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    assert(!new java.io.File(wh, oldX).exists(), "its warehouse dir must be gone too")
    assert(exists(oldY), "another role's layout is swept only by its own rebuild")
    Seq(newX, oldY).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("layout lifecycle: a layout for a second corpus path leaves the first path's in place") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (d1, d2) = (tmpDir("graft_lc_path1"), tmpDir("graft_lc_path2"))
    Seq(d1, d2).foreach(d => docs.write.parquet(s"$d/documents.parquet"))
    val t1 = graft.queries.TextOps.ensureQualityModel(spark, d1)
    val t2 = graft.queries.TextOps.ensureQualityModel(spark, d2)
    assert(t1 != t2 && exists(t2))
    assert(exists(t1), "building for another corpus path dropped the first path's layout")
    Seq(t1, t2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
