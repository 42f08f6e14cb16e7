package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What every workload gets from the run. */
final case class Ctx(spark: SparkSession, cores: Int, seed: Long,
    expected: Map[String, String], listeners: Listeners)

/** One timed operation: an MR job, or one query. */
final case class Op(req: String, kind: String, start: Long, end: Long, ok: Boolean,
    traced: Boolean, error: String = "") {
  def ms: Double = (end - start) / 1e6
}

/** Turns tracing (spans and listeners) on and off. */
trait Tracer {
  def start(): Unit
  def stop(): Unit
}

/** A workload is prepared (inputs and services), run once untimed as a
  * warm-up that also checks every output, then run closed-loop until the
  * deadline. `traceAt` is the epoch-ns time from which operations run
  * traced (Long.MaxValue: never).
  */
trait Workload {
  def prepare(dir: File): Unit
  def warmup(): Seq[Op]
  def run(deadline: Long, traceAt: Long, tracer: Tracer): Seq[Op]
  /** The operations the end-to-end latency and rate are taken over. */
  def units(ops: Seq[Op]): Seq[Op] = ops
  /** Per-layer numbers from the traced operations of the last run. */
  def layers(ops: Seq[Op]): Map[String, Double]
  /** Traced run only: feed the generated inputs once through each
    * layer's public entry point on its own.
    */
  def replay(): Map[String, Double]
  /** Wall time not covered by the layers' spans, and what fills it. */
  def gapName: String
  def close(): Unit
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "mr_gateway" => new MrGateway(ctx)
    case "mr_bulk" => new MrBulk(ctx)
    case "queries" => new QuerySuite(ctx, QuerySuite.batch ++ QuerySuite.stream)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val names: Seq[String] = Seq("mr_gateway", "mr_bulk", "queries")
}
