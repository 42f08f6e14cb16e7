package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.mr.JobStore

/** The benchmark's own test: every output check must accept the real
  * output and reject a deliberately corrupted expectation.
  *
  *   perfbench.SelfTest <expected tsv> <scratch dir>
  *
  * Exits 0 when all cases behave, 1 otherwise.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val Array(tsv, scratch) = args
    val work = new File(scratch)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    var bad = 0
    def expect(what: String, cond: Boolean): Unit = {
      println((if (cond) "ok   " else "FAIL ") + what)
      if (!cond) bad += 1
    }

    // MR results: the plain-Scala model matches the service, in order; a
    // result with two rows swapped, or one row changed, does not.
    val kvs = Data.documents(7L, 40).map(d => (d.id.toString, d.text))
    val store = new JobStore()
    Check.jobTypes.foreach { t =>
      val id = store.launch(spark, JobStore.JobSpec("self", t, "tok", 4, 4), kvs.toDS())
        .fold(m => throw new IllegalStateException(m), identity)
      val got = store.getResult(id, "tok").fold(m => throw new IllegalStateException(m), identity)
      val want = Check.expected(t, kvs)
      expect(s"$t result equals the model", got == want)
      val swapped = want.updated(0, want(1)).updated(1, want(0))
      expect(s"$t result differs from a reordered model", want(0) == want(1) || got != swapped)
      expect(s"$t result differs from a corrupted model", got != want.updated(0, want(0) + "x"))
      expect(s"$t stream digest rejects reordering",
        want(0) == want(1) || Check.digest(got.iterator) != Check.digest(swapped.iterator))
    }

    // Query outputs: the recorded hash passes, a corrupted one fails,
    // through the same warm-up check the query suites run.
    val expected = scala.io.Source.fromFile(tsv, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
      .map(a => a(0) -> a(1)).toMap
    val keys = Seq("b3_join_semi", "c4_text_stats")
    def suite(exp: Map[String, String]) = {
      val listeners = new Listeners(spark)
      val q = new QuerySuite(Ctx(spark, 4, 1L, exp, listeners), keys)
      q.prepare(new File(work, "tables"))
      q.warmup().map(o => o.kind -> o.ok).toMap
    }
    val clean = suite(expected)
    keys.foreach(k => expect(s"$k output matches its expected hash", clean(k)))
    val corrupted = suite(expected.updated("b3_join_semi", expected("b3_join_semi") + "0"))
    expect("b3_join_semi check fails on a corrupted expected hash", !corrupted("b3_join_semi"))
    expect("c4_text_stats still passes beside it", corrupted("c4_text_stats"))

    spark.stop()
    println(if (bad == 0) "self-test passed" else s"self-test: $bad case(s) failed")
    sys.exit(if (bad == 0) 0 else 1)
  }
}
