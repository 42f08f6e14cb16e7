package graft.mr

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.Sources
import org.apache.spark.sql.SparkSession

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** Runnable HTTP front for the job surface — wire-level parity with the
  * reference gateway (`/root/reference/src/tmapreduce/gateway.cc`):
  *
  *  - `GET  /helloworld` → `Hello world.` (gateway.cc:64-66)
  *  - `POST /launch` with body `{name, type, mapper_num, reducer_num,
  *    token, kvs:[{key,value}]}` → 400 on a body failing the field checks
  *    (gateway.cc:15-51); 500 `{"ok":false,"message":…}` when the master
  *    rejects the launch (unknown type / bad counts / empty kvs,
  *    master.cc:530-535); 200 `{"ok":true,"message":"","job_id":N}` on
  *    success (gateway.cc:110-127). Launch is asynchronous — clients poll,
  *    exactly like the reference example client (word_count_client.cc).
  *  - `GET /getresult?job_id=N&token=T` → 200
  *    `{"ok":true,"message":"","result":[…]}` when finished
  *    (gateway.cc:167-176); 500 `{"ok":false,"message":…}` for missing
  *    job / wrong token / not-finished (master.cc:685-699 guard order,
  *    via JobStore.getResult).
  *
  * Deviation (documented): the reference calls `std::stoul` on `job_id`
  * with no validation — a missing parameter crashes the handler; here a
  * missing/non-numeric parameter is a 400. Everything Raft/brpc-related
  * is dropped per SURVEY.md §7.6 — the Spark driver is the single master,
  * so there is no leader lookup and no 502 path.
  *
  * This is a control-plane front (one small JSON document per request),
  * not a data plane: large inputs belong in tables read by the query
  * surface, and large results in `Sources.writeResultJsonl`.
  */
final class Gateway(spark: SparkSession, store: JobStore, port: Int = 2335,
    maxBodyBytes: Int = Gateway.DefaultMaxBodyBytes,
    threads: Int = Gateway.DefaultThreads,
    sweepIntervalMillis: Long = Gateway.DefaultSweepIntervalMillis) {

  @volatile private var server: HttpServer = _
  @volatile private var sweeper: java.util.concurrent.ScheduledExecutorService = _

  /** Bind + start; returns the actual port (use port 0 for ephemeral). */
  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/helloworld", (ex: HttpExchange) =>
      respond(ex, 200, "Hello world.", "text/plain"))
    server.createContext("/launch", handleLaunch _)
    server.createContext("/getresult", handleGetResult _)
    server.createContext("/cancel", handleCancel _)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
      threads, r => { val t = new Thread(r, "graft-gateway"); t.setDaemon(true); t }))
    server.start()
    // The reference master runs a detached background scanner that
    // evicts TTL-expired finished jobs every SCAN_PERIOD_SECOND = 10 s
    // (`master.cc:114,436-463`, `master.h:25`). JobStore sweeps lazily
    // on getResult/cancel, which matches the observable per-request
    // semantics — but a LONG-LIVED gateway whose expired jobs are never
    // polled again would retain their results forever. This daemon
    // thread restores the reference's active sweep; the store's
    // injectable clock is untouched (the sweep just invokes the same
    // evictExpired the lazy path uses, so tests drive eviction by
    // advancing the fake clock).
    sweeper = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      r => { val t = new Thread(r, "graft-gateway-sweep"); t.setDaemon(true); t })
    sweeper.scheduleWithFixedDelay(
      () => try store.sweep() catch { case _: Exception => () },
      sweepIntervalMillis, sweepIntervalMillis,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (sweeper != null) sweeper.shutdownNow()
    if (server != null) server.stop(0)
  }

  private def handleLaunch(ex: HttpExchange): Unit =
    if (ex.getRequestMethod != "POST") respond(ex, 405, "", "text/plain")
    else {
      // Bounded read: a launch is a control-plane document, not a data
      // upload — cap it instead of buffering an arbitrary client body
      // (the reference reads the whole body unchecked; large inputs
      // belong in tables, SURVEY §2.2). One byte past the cap = 413.
      val raw = ex.getRequestBody.readNBytes(maxBodyBytes + 1)
      if (raw.length > maxBodyBytes) {
        respond(ex, 413, "", "text/plain")
        return
      }
      val body = new String(raw, StandardCharsets.UTF_8)
      Sources.parseLaunchJson(spark, body) match {
        case Left(_) =>
          // field-check failure = bare 400, like check_launch_request
          respond(ex, 400, "", "text/plain")
        case Right(launch) =>
          val spec = JobStore.JobSpec(
            launch.name, launch.jobType, launch.token,
            launch.mapperNum, launch.reducerNum)
          store.launchAsync(spark, spec, launch.kvs) match {
            case Left(msg) =>
              respond(ex, 500, s"""{"ok":false,"message":${Sources.jsonString(msg)}}""")
            case Right(id) =>
              respond(ex, 200, s"""{"ok":true,"message":"","job_id":$id}""")
          }
      }
    }

  /** Decoded query parameters (last occurrence wins, like the reference's
    * brpc accessor); shared by every parameterized endpoint so parsing
    * can never diverge between them.
    */
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split("&").iterator.map(_.split("=", 2))
      .collect { case Array(k, v) =>
        k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap

  private def handleGetResult(ex: HttpExchange): Unit =
    if (ex.getRequestMethod != "GET") respond(ex, 405, "", "text/plain")
    else {
      val params = queryParams(ex)
      (params.get("job_id").flatMap(_.toLongOption), params.get("token")) match {
        case (Some(id), Some(token)) =>
          // Leased fetch: a spilled result's sink holds a read lease for
          // the duration of the chunked stream, so a concurrent TTL
          // sweep (another request, the 10 s sweeper) can never delete
          // the parquet mid-stream — the delete defers to releaseSpill.
          store.fetchResultLeased(id, token) match {
            case Right(JobStore.InlineResult(results)) =>
              respond(ex, 200,
                results.iterator.map(Sources.jsonString).mkString(
                  """{"ok":true,"message":"","result":[""", ",", "]}"))
            case Right(sp: JobStore.SpilledResult) =>
              // Size-gated path: the result never materialized on the
              // driver (it lives in the executor-written spill sink), so
              // the response must not either — stream it CHUNKED, one
              // bounded partition at a time (readSpilled/toLocalIterator).
              // Same body shape as the inline path byte-for-byte: a
              // client cannot tell which path served it.
              try streamResult(ex, JobStore.readSpilled(spark, sp))
              finally store.releaseSpill(sp)
            case Left(msg) =>
              respond(ex, 500, s"""{"ok":false,"message":${Sources.jsonString(msg)}}""")
          }
        case _ => respond(ex, 400, "", "text/plain")
      }
    }

  /** Chunked `/getresult` body for spilled results: response length 0 =
    * chunked transfer encoding; rows are escaped and written as they
    * stream off the sink scan, buffered by the 64 KiB writer — the
    * gateway's heap holds O(one row + one partition fetch), never the
    * result.
    *
    * Mid-stream failure (the 200 status is already committed, chunked
    * bodies cannot change it): the closing `]}` is deliberately NOT
    * written — the body ends as unparseable JSON, so any client that
    * parses the document reliably detects the truncation instead of
    * consuming a silently-shortened result array.
    */
  private def streamResult(ex: HttpExchange, rows: Iterator[String]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, 0)
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      ex.getResponseBody, StandardCharsets.UTF_8), 64 * 1024)
    try {
      w.write("""{"ok":true,"message":"","result":[""")
      var first = true
      rows.foreach { r =>
        if (!first) w.write(",")
        first = false
        w.write(Sources.jsonString(r))
      }
      w.write("]}")
    } finally {
      try w.close() catch { case _: Exception => () }
      ex.close()
    }
  }

  /** `POST /cancel?job_id=N&token=T` — the user-facing form of the
    * reference's internal subjob cancel RPC (`master.cc:571-583`; the
    * reference requeues a subjob on worker loss, Spark's scheduler owns
    * that, so the surfaced capability is terminal job cancellation).
    * 200 `{"ok":true,"message":""}` when the running job was cancelled;
    * 500 `{"ok":false,"message":…}` for missing job / wrong token /
    * already-terminal (same guard order as getresult); 400 on missing
    * params, 405 on non-POST.
    */
  private def handleCancel(ex: HttpExchange): Unit =
    if (ex.getRequestMethod != "POST") respond(ex, 405, "", "text/plain")
    else {
      val params = queryParams(ex)
      (params.get("job_id").flatMap(_.toLongOption), params.get("token")) match {
        case (Some(id), Some(token)) =>
          store.cancel(spark, id, token) match {
            case Right(()) => respond(ex, 200, """{"ok":true,"message":""}""")
            case Left(msg) =>
              respond(ex, 500, s"""{"ok":false,"message":${Sources.jsonString(msg)}}""")
          }
        case _ => respond(ex, 400, "", "text/plain")
      }
    }

  private def respond(
      ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }
}

object Gateway {
  /** Launch-body cap: far above any control-plane document, far below a
    * buffering hazard.
    */
  val DefaultMaxBodyBytes: Int = 8 * 1024 * 1024
  val DefaultThreads: Int = 8
  /** Background TTL sweep cadence — SCAN_PERIOD_SECOND, master.h:25. */
  val DefaultSweepIntervalMillis: Long = 10L * 1000L
}
