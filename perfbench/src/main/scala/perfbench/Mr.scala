package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.mr.{Gateway, JobStore, JobTypeRegistry, MRJob}
import graft.sources.Sources

/** Job-state transitions seen through the public `JobStore.status(id)`,
  * sampled every 2 ms while tracing: Queued→Running and Running→done.
  */
final class StatusSampler(store: () => JobStore) {
  final class Seen(val req: String, val launched: Long) {
    @volatile var running = 0L
    @volatile var done = 0L
  }
  private val watched = new ConcurrentHashMap[Long, Seen]()
  val seen = new ConcurrentHashMap[Long, Seen]()
  @volatile private var stop = false
  private val thread = new Thread(() => {
    while (!stop) {
      watched.forEach { (id, s) =>
        store().status(id).foreach { st =>
          val t = Trace.now()
          if (st != JobStore.Queued && s.running == 0L) s.running = t
          if (st != JobStore.Queued && st != JobStore.Running) {
            s.done = t
            watched.remove(id)
          }
        }
      }
      Thread.sleep(2)
    }
  }, "perfbench-status")
  thread.setDaemon(true)
  thread.start()

  def watch(id: Long, req: String, launched: Long): Unit = {
    val s = new Seen(req, launched)
    seen.put(id, s); watched.put(id, s)
  }

  def close(): Unit = { stop = true; thread.join() }
}

/** Shared parts of the two MR workloads: closed-loop clients, job-type
  * rotation, the status sampler and the MR per-layer numbers.
  */
abstract class MrWorkload(ctx: Ctx) extends Workload {
  protected val spark: SparkSession = ctx.spark
  protected val listeners: Listeners = ctx.listeners
  protected def clients: Int
  protected def store: JobStore
  protected val pollMs: Long
  protected val sampler = new StatusSampler(() => store)
  private val jobIds = new ConcurrentHashMap[String, Long]()

  /** Run job `i` of client `c`; returns when the full result was read. */
  protected def job(c: Int, i: Int, rng: SplittableRandom, traced: Boolean): Op

  protected def noteLaunch(req: String, id: Long, traced: Boolean): Unit = {
    jobIds.put(req, id)
    if (traced) sampler.watch(id, req, Trace.now())
  }

  /** The job types a client rotates through. */
  protected def types: Seq[String] = Check.jobTypes

  protected def jobType(c: Int, i: Int): String = types(math.floorMod(c + i, types.size))

  protected def guarded(req: String, kind: String, traced: Boolean)(body: => Boolean): Op = {
    val t0 = Trace.now()
    try {
      val ok = Trace.span("op", req)(body)
      Op(req, kind, t0, Trace.now(), ok, traced, if (ok) "" else "wrong result")
    } catch {
      case e: Exception => Op(req, kind, t0, Trace.now(), ok = false, traced, e.toString)
    }
  }

  /** Length of the warm-up, which runs the same closed loop under client
    * ids the timed loop never uses, so the JIT compiles the per-job paths
    * before timing starts.
    */
  protected val warmSeconds: Double

  def warmup(): Seq[Op] = {
    val until = Trace.now() + (warmSeconds * 1e9).toLong
    closedLoop(clients until 2 * clients)(() => Trace.now() < until)
  }

  /** One thread per client id; a job that starts while `more` holds runs
    * to completion.
    */
  private def closedLoop(ids: Seq[Int])(more: () => Boolean): Seq[Op] = {
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val threads = ids.map { c =>
      val t = new Thread(() => {
        val rng = new SplittableRandom(ctx.seed * 31 + c)
        var i = 0
        while (more()) {
          ops.add(job(c, i, rng, Trace.on))
          i += 1
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    ops.asScala.toSeq
  }

  def run(deadline: Long, traceAt: Long, tracer: Tracer): Seq[Op] = {
    val switch = new Thread(() => if (traceAt < deadline) {
      while (Trace.now() < traceAt) Thread.sleep(5)
      tracer.start()
    }, "perfbench-trace-switch")
    switch.start()
    try closedLoop(0 until clients)(() => Trace.now() < deadline)
    finally switch.join()
  }

  def layers(ops: Seq[Op]): Map[String, Double] = {
    listeners.drain()
    val traced = ops.filter(o => o.traced && o.ok)
    val states = traced.flatMap(o => Option(jobIds.get(o.req)).flatMap(id =>
      Option(sampler.seen.get(id)).filter(s => s.running > 0 && s.done > 0).map(id -> _)))
    val queueMs = states.map { case (_, s) => (s.running - s.launched) / 1e6 }
    val runMs = states.map { case (_, s) => (s.done - s.running) / 1e6 }
    states.foreach { case (_, s) =>
      Trace.record("jobstore.queue", s.req, s.launched, s.running)
      Trace.record("jobstore.run", s.req, s.running, s.done)
    }
    val stats = states.map { case (id, s) => (s, listeners.take(JobStore.jobGroup(id))) }
    def perJob(f: SparkStats => Double): Double = Stats.mean(stats.map(x => f(x._2)))
    Map(
      "jobstore.queue_ms_p50" -> Stats.median(queueMs),
      "jobstore.run_ms_p50" -> Stats.median(runMs),
      "mrjob.spark_jobs_per_job" -> perJob(_.jobs.toDouble),
      "mrjob.tasks_per_job" -> perJob(_.tasks.toDouble),
      "mrjob.driver_gap_ms" -> Stats.median(stats.map { case (s, st) =>
        (s.done - s.running - st.jobCoverNs(s.running, s.done)) / 1e6 }),
      "mrjob.shuffle_bytes_per_job" -> perJob(_.shuffleBytes.toDouble),
      "mrjob.shuffle_records_per_job" -> perJob(_.shuffleRecords.toDouble),
      "mrjob.critical_path_ms" -> perJob(_.criticalPathNs / 1e6),
      "mrjob.task_cpu_ms" -> perJob(_.cpuNs / 1e6),
      "mrjob.spill_bytes" -> perJob(_.spillBytes.toDouble))
  }

  /** Feed each of `inputs` through the layers one at a time: the launch
    * decoding (gateway only), MRJob alone, and JobStore's synchronous
    * launch (MRJob plus admission and result materialisation).
    */
  protected def replayJobs(inputs: Seq[(String, Dataset[(String, String)])]): Map[String, Double] = {
    val direct = mutable.ArrayBuffer.empty[Double]
    val viaStore = mutable.ArrayBuffer.empty[Double]
    val replayStore = new JobStore()
    inputs.zipWithIndex.foreach { case ((t, ds), k) =>
      val fns = JobTypeRegistry.lookup(t).get
      val t0 = Trace.now()
      Trace.span("mrjob.replay", s"replay-$k") {
        MRJob.run(spark, ds, fns.mapFn, fns.reduceFn, 4, 4, fns.combineFn).count()
      }
      val t1 = Trace.now()
      Trace.span("jobstore.replay", s"replay-$k") {
        replayStore.launch(spark, JobStore.JobSpec(s"replay-$k", t, "replay", 4, 4), ds)
      }
      direct += (t1 - t0) / 1e6
      viaStore += (Trace.now() - t1) / 1e6
    }
    listeners.drain()
    listeners.takeAll()
    Map("replay.mrjob_ms_p50" -> Stats.median(direct.toSeq),
      "replay.jobstore_ms_p50" -> Stats.median(viaStore.toSeq))
  }

  def close(): Unit = sampler.close()
}

/** Small HTTP jobs against the gateway: each client POSTs `/launch` with
  * 50 consecutive documents at a seeded offset, then polls `/getresult`.
  */
final class MrGateway(ctx: Ctx) extends MrWorkload(ctx) {
  protected val clients: Int = ctx.cores
  protected val pollMs = 20L
  protected val warmSeconds = 6.0
  private val docsPerJob = 50
  private var docs: IndexedSeq[Data.Doc] = IndexedSeq.empty
  @volatile private var jobStore: JobStore = _
  private var gateway: Gateway = _
  private var port = 0
  private val http = ThreadLocal.withInitial[HttpClient](() =>
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())
  private val json = new ObjectMapper()
  private val bodies = new ConcurrentHashMap[String, (String, String)]()
  private val pollCounts = new ConcurrentHashMap[String, Int]()
  protected def store: JobStore = jobStore

  def prepare(dir: File): Unit = {
    docs = Data.documents(ctx.seed, 5000)
    if (gateway != null) gateway.stop()
    jobStore = new JobStore()
    gateway = new Gateway(spark, jobStore, port = 0)
    port = gateway.start()
  }

  private def launchBody(name: String, t: String, kvs: Seq[(String, String)]): String = {
    val n = JsonNodeFactory.instance.objectNode()
    n.put("name", name).put("type", t).put("mapper_num", 4).put("reducer_num", 4)
      .put("token", "tok-" + name)
    val arr = n.putArray("kvs")
    kvs.foreach { case (k, v) => arr.addObject().put("key", k).put("value", v) }
    json.writeValueAsString(n)
  }

  private def send(req: HttpRequest): HttpResponse[String] =
    http.get().send(req, HttpResponse.BodyHandlers.ofString())

  protected def job(c: Int, i: Int, rng: SplittableRandom, traced: Boolean): Op = {
    val t = jobType(c, i)
    val off = rng.nextInt(docs.size - docsPerJob)
    val kvs = docs.slice(off, off + docsPerJob).map(d => (d.id.toString, d.text))
    val req = s"c$c-$i"
    val body = launchBody(req, t, kvs)
    if (traced && bodies.size < 8) bodies.putIfAbsent(t + "-" + bodies.size, (t, body))
    guarded(req, t, traced) {
      val launched = Trace.span("gateway.launch", req) {
        send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/launch"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build())
      }
      val lj = json.readTree(launched.body())
      if (launched.statusCode != 200 || !lj.path("ok").asBoolean(false))
        throw new IllegalStateException(s"launch refused: ${launched.statusCode} ${launched.body}")
      val id = lj.get("job_id").asLong()
      noteLaunch(req, id, traced)
      val get = HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/getresult?job_id=$id&token=tok-$req")).GET().build()
      val giveUp = Trace.now() + 120L * 1000000000L
      var result: Option[IndexedSeq[String]] = None
      var polls = 0
      while (result.isEmpty) {
        if (Trace.now() > giveUp) throw new IllegalStateException(s"job $id never finished")
        Thread.sleep(pollMs)
        polls += 1
        val p0 = Trace.now()
        val r = send(get)
        val p1 = Trace.now()
        val rj = json.readTree(r.body())
        if (r.statusCode == 200 && rj.path("ok").asBoolean(false)) {
          if (traced) Trace.record("gateway.fetch", req, p0, p1)
          result = Some(rj.get("result").elements().asScala.map(_.asText()).toIndexedSeq)
        } else if (r.statusCode == 500 && rj.path("message").asText() == "job not finished") {
          if (traced) Trace.record("gateway.poll", req, p0, p1)
        } else throw new IllegalStateException(s"getresult: ${r.statusCode} ${r.body}")
      }
      pollCounts.put(req, polls)
      result.get == Check.expected(t, kvs)
    }
  }

  override def layers(ops: Seq[Op]): Map[String, Double] = {
    val spans = Trace.all
    def p50(name: String) = Stats.median(spans.filter(_.name == name).map(_.ms))
    super.layers(ops) ++ Map(
      "gateway.launch_ms_p50" -> p50("gateway.launch"),
      // Result requests per job: attempts over the one useful fetch.
      "gateway.polls_per_job" -> Stats.mean(ops.filter(o => o.traced && o.ok)
        .map(o => pollCounts.getOrDefault(o.req, 1).toDouble)),
      "gateway.fetch_ms_p50" -> p50("gateway.fetch"))
  }

  def replay(): Map[String, Double] = {
    val samples = bodies.values.asScala.toSeq.sortBy(_._2)
    val parse = samples.zipWithIndex.map { case ((_, body), k) =>
      val group = s"perfbench-parse-$k"
      spark.sparkContext.setJobGroup(group, "launch decoding replay")
      val t0 = Trace.now()
      val launch = Trace.span("sources.parse", s"replay-$k") {
        Sources.parseLaunchJson(spark, body)
      }
      val ms = (Trace.now() - t0) / 1e6
      spark.sparkContext.clearJobGroup()
      listeners.drain()
      (ms, listeners.take(group).jobs.toDouble, launch.toOption.get)
    }
    Map("sources.parse_ms_p50" -> Stats.median(parse.map(_._1)),
      "sources.spark_jobs_per_parse" -> Stats.mean(parse.map(_._2))) ++
      replayJobs(samples.map(_._1).zip(parse.map(_._3.kvs)))
  }

  def gapName: String = "client poll wait (job finished, next /getresult not yet sent)"

  override def close(): Unit = {
    super.close()
    if (gateway != null) gateway.stop()
  }
}

/** Library-path jobs over a seeded corpus written once to parquet:
  * `launchAsync`, then `fetchResultLeased`, and for a spilled result
  * `readSpilled` and `releaseSpill`.
  */
final class MrBulk(ctx: Ctx) extends MrWorkload(ctx) {
  protected val clients = 2
  protected val pollMs = 10L
  protected val warmSeconds = 5.0
  /** charcount emits one pair per character and runs ~2.5x longer than
    * the other types here; with it in the rotation the median job flips
    * between two clusters from run to run. It stays in mr_gateway.
    */
  override protected val types: Seq[String] = Seq("wordcount", "distinct", "identity")
  private val nDocs = 5000
  /** Results above 1 MiB spill. The default bound (16 MiB) is only reached
    * by an identity job over ~55k documents, which runs for several
    * seconds; at this bound the same write-then-stream path is taken by
    * every identity job of a short run (~1.5 MB of results).
    */
  val spillBytes: Long = 1L << 20
  @volatile private var jobStore: JobStore = _
  private var input: Dataset[(String, String)] = _
  private var expected: Map[String, Either[String, IndexedSeq[String]]] = Map.empty
  private val spillReads = new ConcurrentHashMap[String, Double]()
  private val spilled = new ConcurrentHashMap[String, Boolean]()
  protected def store: JobStore = jobStore

  def prepare(dir: File): Unit = {
    import spark.implicits._
    val docs = Data.documents(ctx.seed ^ 0xb01cL, nDocs)
    dir.mkdirs()
    Data.write(spark, dir.getPath, "bulk", "key STRING, value STRING",
      docs.map(d => org.apache.spark.sql.Row(d.id.toString, d.text)))
    input = spark.read.parquet(new File(dir, "bulk.parquet").getPath).as[(String, String)]
    val kvs = docs.map(d => (d.id.toString, d.text))
    expected = types.map { t =>
      val rows = Check.expected(t, kvs)
      t -> (if (rows.iterator.map(_.length.toLong).sum > spillBytes)
        Left(Check.digest(rows.iterator)) else Right(rows))
    }.toMap
    jobStore = new JobStore(spillBytes = spillBytes)
  }

  protected def job(c: Int, i: Int, rng: SplittableRandom, traced: Boolean): Op = {
    val t = jobType(c, i)
    val req = s"c$c-$i"
    guarded(req, t, traced) {
      val id = Trace.span("jobstore.launch", req) {
        jobStore.launchAsync(spark, JobStore.JobSpec(req, t, "tok-" + req, 4, 4), input)
      }.fold(msg => throw new IllegalStateException(msg), identity)
      noteLaunch(req, id, traced)
      val giveUp = Trace.now() + 120L * 1000000000L
      var res: Option[JobStore.JobResult] = None
      while (res.isEmpty) {
        if (Trace.now() > giveUp) throw new IllegalStateException(s"job $id never finished")
        Thread.sleep(pollMs)
        val p0 = Trace.now()
        jobStore.fetchResultLeased(id, "tok-" + req) match {
          case Right(r) => res = Some(r); if (traced) Trace.record("jobstore.fetch", req, p0, Trace.now())
          case Left("job not finished") => ()
          case Left(msg) => throw new IllegalStateException(msg)
        }
      }
      res.get match {
        case JobStore.InlineResult(rows) => expected(t) == Right(rows.toIndexedSeq)
        case sp: JobStore.SpilledResult =>
          spilled.put(req, true)
          val t0 = Trace.now()
          val got = try {
            spark.sparkContext.setJobGroup(s"perfbench-read-$id", "spilled result read")
            Trace.span("jobstore.spill_read", req)(Check.digest(JobStore.readSpilled(spark, sp)))
          } finally {
            spark.sparkContext.clearJobGroup()
            jobStore.releaseSpill(sp)
          }
          spillReads.put(req, (Trace.now() - t0) / 1e6)
          expected(t) == Left(got)
      }
    }
  }

  override def layers(ops: Seq[Op]): Map[String, Double] = {
    val traced = ops.filter(o => o.traced && o.ok)
    super.layers(ops) ++ Map(
      "jobstore.spill_read_ms_p50" ->
        Stats.median(traced.flatMap(o => Option(spillReads.get(o.req)).map(_.doubleValue))),
      "jobstore.spilled_share" ->
        traced.count(o => spilled.containsKey(o.req)).toDouble / math.max(1, traced.size))
  }

  def replay(): Map[String, Double] =
    replayJobs(types.map(t => (t, input)))

  def gapName: String = "client poll wait (job finished, next fetch not yet made)"
}
