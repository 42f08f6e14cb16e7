package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import graft.SparkEntry

/** One client running a fixed query list through `SparkEntry.queries`,
  * in an order fixed by the seed. Each query is built, then executed in
  * full through the `noop` sink, with the cache cleared before it and its
  * own job group. The warm-up pass also checks every output against its
  * expected hash. Latency and rate are taken per pass over the list (a
  * single query's latency depends on which query it is): passes start
  * until the deadline, like the MR clients' jobs, and a traced run
  * alternates untraced and traced passes, at least one each.
  */
final class QuerySuite(ctx: Ctx, keys: Seq[String]) extends Workload {
  private val spark = ctx.spark
  private var dir = ""
  private val order: Seq[String] = {
    val r = new SplittableRandom(ctx.seed)
    val a = keys.toArray
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
  private val perOp = mutable.HashMap.empty[String, SparkStats]
  private val passes = mutable.ArrayBuffer.empty[(Long, Long, Boolean)]

  def prepare(d: File): Unit = {
    d.mkdirs()
    dir = d.getPath
    Data.writeQueryTables(spark, QuerySuite.DataSeed, dir)
    SparkEntry.warmups.filter(w => keys.exists(w.appliesTo)).foreach(_.run(spark, dir))
  }

  private def query(k: String, pass: Int, check: Boolean, traced: Boolean): Op = {
    val req = s"$k#$pass"
    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(s"perfbench-$req", k)
    val t0 = Trace.now()
    val op = try {
      val df = Trace.span("op", req) {
        val df = Trace.span("builder", req)(SparkEntry.queries(k)(spark, dir))
        Trace.span("exec", req)(df.write.format("noop").mode("overwrite").save())
        df
      }
      val t1 = Trace.now()
      val err = if (!check) "" else {
        val want = ctx.expected.getOrElse(k, "<none>")
        val got = if (want.startsWith("rows:")) s"rows:${df.count()}" else Check.queryHash(df)
        if (got == want) "" else s"expected $want, got $got"
      }
      Op(req, k, t0, t1, err.isEmpty, traced, err)
    } catch {
      case e: Exception => Op(req, k, t0, Trace.now(), ok = false, traced, e.toString)
    } finally spark.sparkContext.clearJobGroup()
    if (traced) {
      ctx.listeners.drain()
      perOp(req) = ctx.listeners.takeAll()
    }
    op
  }

  def warmup(): Seq[Op] = order.map(query(_, -1, check = true, traced = false))

  def run(deadline: Long, traceAt: Long, tracer: Tracer): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val tracing = traceAt < deadline
    var pass = 0
    def more = pass == 0 || (tracing && pass < 2) || Trace.now() < deadline
    while (more) {
      val traced = tracing && pass % 2 == 1
      if (traced) tracer.start()
      val t0 = Trace.now()
      ops ++= order.map(query(_, pass, check = false, traced))
      passes += ((t0, Trace.now(), traced))
      if (traced) tracer.stop()
      pass += 1
    }
    ops.toSeq
  }

  override def units(ops: Seq[Op]): Seq[Op] =
    ops.groupBy(_.req.split('#')(1)).toSeq.sortBy(_._1.toInt).map { case (pass, qs) =>
      Op(s"pass#$pass", "pass", qs.map(_.start).min, qs.map(_.end).max, qs.forall(_.ok),
        qs.head.traced, qs.map(_.error).find(_.nonEmpty).getOrElse(""))
    }

  /** Median over passes of the time spent in the queries of `part`. */
  def partS(part: Seq[String], ops: Seq[Op]): Double =
    Stats.median(ops.filter(o => part.contains(o.kind)).groupBy(_.req.split('#')(1))
      .values.map(_.map(_.ms / 1e3).sum).toSeq)

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val n = math.max(1, passes.count(_._3)).toDouble
    val spans = Trace.all.groupBy(_.req)
    val all = new SparkStats
    var gapNs = 0L
    traced.foreach { o =>
      perOp.get(o.req).foreach { s =>
        all.add(s)
        gapNs += (o.end - o.start) - s.jobCoverNs(o.start, o.end)
      }
    }
    def spanS(name: String) = traced.flatMap(o => spans.getOrElse(o.req, Nil))
      .filter(_.name == name).map(_.ms / 1e3).sum / n
    val wallS = traced.map(_.ms / 1e3).sum
    Map(
      "builder.s" -> spanS("builder"),
      "exec.s" -> spanS("exec"),
      "catalyst.analysis_s" -> all.analysisNs / 1e9 / n,
      "catalyst.optimize_s" -> all.optimizeNs / 1e9 / n,
      "catalyst.planning_s" -> all.planningNs / 1e9 / n,
      "scheduler.jobs" -> all.jobs / n,
      "scheduler.stages" -> all.stages / n,
      "scheduler.tasks" -> all.tasks / n,
      "scheduler.single_task_stage_share" -> all.singleTaskStages.toDouble / math.max(1L, all.stages),
      "scheduler.critical_path_s" -> all.criticalPathNs / 1e9 / n,
      "scheduler.task_cpu_s" -> all.cpuNs / 1e9 / n,
      "scheduler.cpu_util" -> all.cpuNs / 1e9 / (ctx.cores * math.max(wallS, 1e-9)),
      "driver.gap_s" -> gapNs / 1e9 / n,
      "shuffle.bytes" -> all.shuffleBytes / n,
      "shuffle.spill_bytes" -> all.spillBytes / n,
      "input.bytes" -> all.inputBytes / n,
      "streaming.batches" -> all.batches / n,
      "streaming.empty_batch_share" -> all.emptyBatches.toDouble / math.max(1L, all.batches),
      "streaming.trigger_ms" -> all.triggerMs / n,
      "streaming.planning_ms" -> all.streamPlanningMs / n,
      "streaming.addbatch_ms" -> all.addBatchMs / n,
      "streaming.commit_ms" -> all.commitMs / n,
      "streaming.state_rows_max" -> all.stateRowsMax.toDouble)
  }

  def replay(): Map[String, Double] = Map.empty

  def gapName: String = "cache clearing and job-group bookkeeping between build and execute"

  def close(): Unit = ()
}

object QuerySuite {
  /** The query tables do not depend on the run's seed: their expected
    * hashes are fixed and were cross-checked against the DuckDB oracle.
    * The seed orders the queries.
    */
  val DataSeed = 42L

  /** Non-streaming queries, at least one per family: the MR kernel
    * through DataFrames (a), the relational surface (b) and each pipeline
    * group c1–c7 (c5 by its batch twin).
    */
  val batch: Seq[String] = Seq("a2_mr_charcount", "b2_agg_q1", "b3_join_semi",
    "c1_exact_dedup", "c2_minhash_lsh", "c3_cosine_topk",
    "c4_text_stats", "c5_sessionize", "c6_meta_stats", "c7_sample_strat")

  /** Streaming queries: an incremental (`_incr`) lifecycle and a
    * checkpoint restart (`_restart`) with state.
    */
  val stream: Seq[String] = Seq("c5_stream_topk_incr", "c5_stream_restart_state")
}
