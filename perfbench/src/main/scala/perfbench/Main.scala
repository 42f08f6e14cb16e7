package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `run.py` builds the classpath and starts it.
  *
  *   --workload <mr_gateway|mr_bulk|queries>
  *   --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir>      scratch root, deleted on exit
  *   --out <dir>       where the run's record and spans are written
  *   --expected <tsv>  expected query hashes
  *   --commit <id>     revision of the measured sources
  *
  * The last line of stdout is the result object. With --trace 0 it holds
  * the end-to-end metrics; with --trace 1 the per-layer metrics, taken
  * from a run whose first half is untraced and second half traced.
  */
object Main {

  /** The end-to-end metrics, in every workload's result. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms", "ops_per_s" -> "1/s")

  /** Tracing overhead is reported for every end-to-end metric measured
    * while tracing is on; set-up always runs untraced.
    */
  private def overheadOf = endToEnd.filter(_._1 != "setup_s")

  /** A per-layer metric, and the end-to-end metric and workload it is
    * expected to move.
    */
  final case class Layer(name: String, unit: String, moves: String)

  private val gw = "op_p50_ms @ mr_gateway"
  private val gwRate = "ops_per_s @ mr_gateway"
  private val bulk = "op_p50_ms @ mr_bulk"
  private val q = "op_p50_ms @ queries"

  /** The per-layer metrics, in every traced result; 0 where a layer is
    * idle on the workload. Layers are named after the modules they time.
    */
  val perLayer: Seq[Layer] = Seq(
    Layer("gateway.launch_ms_p50", "ms", gw),
    Layer("gateway.fetch_ms_p50", "ms", gw),
    Layer("gateway.polls_per_job", "count", gwRate),
    Layer("sources.parse_ms_p50", "ms", gw),
    Layer("sources.spark_jobs_per_parse", "count", gw),
    Layer("jobstore.queue_ms_p50", "ms", "op_p90_ms @ mr_gateway"),
    Layer("jobstore.run_ms_p50", "ms", s"$gw, $bulk"),
    Layer("jobstore.spill_read_ms_p50", "ms", bulk),
    Layer("jobstore.spilled_share", "1", bulk),
    Layer("mrjob.spark_jobs_per_job", "count", gw),
    Layer("mrjob.tasks_per_job", "count", gwRate),
    Layer("mrjob.driver_gap_ms", "ms", gw),
    Layer("mrjob.shuffle_bytes_per_job", "B", bulk),
    Layer("mrjob.shuffle_records_per_job", "count", bulk),
    Layer("mrjob.critical_path_ms", "ms", bulk),
    Layer("mrjob.task_cpu_ms", "ms", "ops_per_s @ mr_bulk"),
    Layer("mrjob.spill_bytes", "B", bulk),
    Layer("replay.mrjob_ms_p50", "ms", s"$gw, $bulk"),
    Layer("replay.jobstore_ms_p50", "ms", s"$gw, $bulk"),
    Layer("builder.s", "s", q),
    Layer("catalyst.analysis_s", "s", q),
    Layer("catalyst.optimize_s", "s", q),
    Layer("catalyst.planning_s", "s", q),
    Layer("exec.s", "s", q),
    Layer("scheduler.jobs", "count", q),
    Layer("scheduler.stages", "count", q),
    Layer("scheduler.tasks", "count", q),
    Layer("scheduler.single_task_stage_share", "1", q),
    Layer("scheduler.critical_path_s", "s", q),
    Layer("scheduler.task_cpu_s", "s", q),
    Layer("scheduler.cpu_util", "1", q),
    Layer("driver.gap_s", "s", q),
    Layer("shuffle.bytes", "B", q),
    Layer("shuffle.spill_bytes", "B", q),
    Layer("input.bytes", "B", q),
    Layer("streaming.batches", "count", q),
    Layer("streaming.empty_batch_share", "1", q),
    Layer("streaming.trigger_ms", "ms", q),
    Layer("streaming.planning_ms", "ms", q),
    Layer("streaming.addbatch_ms", "ms", q),
    Layer("streaming.commit_ms", "ms", q),
    Layer("streaming.state_rows_max", "count", q),
    Layer("jvm.gc_ms", "ms", "op_p90_ms @ every workload"),
    Layer("jvm.heap_peak_mb", "MB", "setup_s @ every workload"),
    Layer("trace.uncovered_share", "1", "none: share of traced wall time no layer covers")) ++
    overheadOf.map { case (n, u) => Layer(s"trace.overhead.$n", u, "none: traced minus untraced") }

  /** Input preparation is repeated this many times; setup_s takes the
    * median.
    */
  val PrepareReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workload.names.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    work.mkdirs(); out.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val expected = scala.io.Source.fromFile(opts("expected"), "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    // run.py holds our stdin open; end of input means it is gone, and a
    // benchmark nobody waits for must not keep running.
    val orphanWatch = new Thread(() => {
      while (System.in.read() >= 0) {}
      Runtime.getRuntime.halt(3)
    }, "perfbench-parent-watch")
    orphanWatch.setDaemon(true)
    orphanWatch.start()

    val listeners = new Listeners(spark)
    val ctx = Ctx(spark, cores, seed, expected, listeners)
    val wl = Workload(workload, ctx)
    try {
      val prepS = (0 until PrepareReps).map { i =>
        val t0 = System.nanoTime()
        wl.prepare(new File(work, s"input-$i"))
        (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      val warm = wl.warmup()
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(prepS) + warmS
      warm.filterNot(_.ok).foreach(o => println(s"FAILED warm-up ${o.req}: ${o.error}"))

      val gc0 = Jvm.gcMs
      val cpu0 = Jvm.hostCpu
      val start = Trace.now()
      val deadline = start + (seconds * 1e9).toLong
      val traceAt = if (traced) start + (seconds * 0.5e9).toLong else Long.MaxValue
      var gcAtTrace = gc0
      val tracer = new Tracer {
        def start(): Unit = { gcAtTrace = Jvm.gcMs; listeners.register(); Trace.on = true }
        def stop(): Unit = { Trace.on = false; listeners.unregister() }
      }
      val ops = wl.run(deadline, traceAt, tracer)
      val end = math.max(Trace.now(), ops.map(_.end).maxOption.getOrElse(0L))
      val cpu1 = Jvm.hostCpu
      // Share of the host's CPU time taken by other guests while measuring
      // (the "steal" column of /proc/stat; 0 where the host does not say).
      val steal = (cpu1._2 - cpu0._2).toDouble / math.max(1L, cpu1._1 - cpu0._1)
      ops.filterNot(_.ok).foreach(o => println(s"FAILED ${o.req}: ${o.error}"))

      def e2e(sel: Seq[Op], wallNs: Long): Map[String, Double] = {
        val ok = sel.filter(_.ok).map(_.ms)
        Map("setup_s" -> setupS, "op_p50_ms" -> Stats.pct(ok, 50),
          "op_p90_ms" -> Stats.pct(ok, 90), "ops_per_s" -> ok.size / (wallNs / 1e9))
      }
      val attempted = warm.size + ops.size
      val failed = warm.count(!_.ok) + ops.count(!_.ok)
      val record = runRecord(spark, workload, seed, seconds, traced, cores, steal, opts)

      val metrics: Seq[(String, Double, String)] = if (!traced) {
        val m = e2e(wl.units(ops), end - start)
        report(wl, m, ops, failed, attempted, warmS, prepS, sessionS)
        endToEnd.map { case (n, u) => (n, m(n), u) }
      } else {
        if (Trace.on) tracer.stop()
        val gcMs = Jvm.gcMs - gcAtTrace
        val (plain, tr) = ops.partition(!_.traced)
        // Each half is timed over its own operations' span.
        def wall(s: Seq[Op]) = s.map(_.end).maxOption.getOrElse(0L) - s.map(_.start).minOption.getOrElse(0L)
        val mPlain = e2e(wl.units(plain), wall(plain))
        val mTraced = e2e(wl.units(tr), wall(tr))
        val layer = wl.layers(ops)
        Trace.on = true
        val replay = wl.replay()
        Trace.on = false
        val uncovered = uncoveredShare(tr)
        val m = layer ++ replay ++ Map(
          "jvm.gc_ms" -> gcMs.toDouble, "jvm.heap_peak_mb" -> Jvm.heapPeakMb,
          "trace.uncovered_share" -> uncovered) ++
          overheadOf.map { case (n, _) => s"trace.overhead.$n" -> (mTraced(n) - mPlain(n)) }
        report(wl, mPlain, plain, failed, attempted, warmS, prepS, sessionS)
        perLayer.foreach(l =>
          println(f"layer ${l.name}%-34s ${fmt(m.getOrElse(l.name, 0.0))}%-22s ${l.unit}%-5s -> ${l.moves}"))
        println(f"coverage: layers cover ${(1 - uncovered) * 100}%.1f%% of traced operation wall time" +
          (if (uncovered > 0.10) s"; the gap is ${wl.gapName}" else ""))
        Trace.write(new File(out, s"$workload-seed$seed.spans.jsonl"))
        perLayer.map(l => (l.name, m.getOrElse(l.name, 0.0), l.unit))
      }

      val result = s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        """"metrics": {""" + metrics.map { case (n, v, u) =>
          s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ") + "}}"
      val w = new PrintWriter(new File(out, s"$workload-seed$seed-trace${opts("trace")}.json"), "UTF-8")
      val opLines = ops.map(o => f"""{"req": "${o.req}", "kind": "${o.kind}", """ +
        f""""start_s": ${(o.start - start) / 1e9}%.4f, "ms": ${o.ms}%.3f, "ok": ${o.ok}, "traced": ${o.traced}}""")
      try w.println(s"""{"record": $record, "result": $result, "ops": [""" +
        opLines.mkString(",\n") + "]}")
      finally w.close()
      println("record " + record)
      System.out.flush()
      println(result)
      System.out.flush()
    } finally {
      wl.close()
      spark.stop()
    }
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  /** Share of traced operations' wall time that no layer span covers. */
  private def uncoveredShare(ops: Seq[Op]): Double = {
    val byReq = Trace.all.filter(_.name != "op").groupBy(_.req)
    val wall = ops.map(o => o.end - o.start).sum
    val covered = ops.map { o =>
      Stats.unionNs(byReq.getOrElse(o.req, Nil).map(s =>
        (math.max(s.start, o.start), math.min(s.end, o.end))).filter(x => x._2 > x._1))
    }.sum
    if (wall <= 0) 0.0 else 1.0 - covered.toDouble / wall
  }

  /** The figures under the names the roadmap uses: job latency and rate
    * for the MR workloads, suite time for the query suite, and the
    * failure ratio for all.
    */
  private def report(wl: Workload, m: Map[String, Double], ops: Seq[Op],
      failed: Int, attempted: Int, warmS: Double, prepS: Seq[Double], sessionS: Double): Unit = {
    val n = ops.count(_.ok)
    println(f"setup_s ${m("setup_s")}%.3f s (session $sessionS%.3f s, prepare median of " +
      prepS.map(p => f"$p%.3f").mkString("[", ", ", "]") + f" s, warm-up $warmS%.3f s)")
    wl match {
      case q: QuerySuite =>
        println(f"suite_s ${m("op_p50_ms") / 1e3}%.3f s (median pass of ${wl.units(ops).size};" +
          f" batch queries ${q.partS(QuerySuite.batch, ops)}%.3f s, streaming queries" +
          f" ${q.partS(QuerySuite.stream, ops)}%.3f s)")
        println(f"query_p50_ms ${Stats.median(ops.map(_.ms))}%.1f ms (n=$n)")
      case _ =>
        println(f"job_p50_ms ${m("op_p50_ms")}%.1f ms (n=$n)")
        println(f"job_p90_ms ${m("op_p90_ms")}%.1f ms (n=$n, ${n - math.ceil(0.9 * n).toInt} beyond p90)")
        println(f"jobs_per_s ${m("ops_per_s")}%.3f 1/s")
    }
    println(f"fail_ratio ${failed.toDouble / math.max(1, attempted)}%.4f 1 ($failed of $attempted)")
  }

  private def runRecord(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      traced: Boolean, cores: Int, steal: Double, opts: Map[String, String]): String = {
    val xmx = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .find(_.startsWith("-Xmx")).getOrElse(s"${Runtime.getRuntime.maxMemory >> 20}m")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    Seq("workload" -> q(workload), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> traced.toString, "nproc" -> cores.toString, "cpu_steal_share" -> f"$steal%.4f",
      "master" -> q(spark.sparkContext.master),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "data" -> q(if (workload.startsWith("queries"))
        s"generated query tables (1/200 of TPC-H sf1 shapes), data seed ${QuerySuite.DataSeed}"
        else s"generated documents, seed $seed"),
      "xmx" -> q(xmx), "spark" -> q(spark.version), "commit" -> q(opts.getOrElse("commit", "unknown")))
      .map { case (k, v) => q(k) + ": " + v }.mkString("{", ", ", "}")
  }
}
