package graft.mr

import org.apache.spark.sql.{Dataset, SparkSession}

/** The tMapReduce job kernel, re-expressed as a Spark Dataset pipeline.
  *
  * Reference semantics (all cites into /root/reference):
  *  - input is a list of opaque string KV pairs, sorted bytewise by key at
  *    launch (`src/tmapreduce/master.cc:736-738`);
  *  - the sorted input is split into `mapper_num` contiguous ranges
  *    (`src/tmapreduce/job.cc:10-28`) — ≙ range partitioning;
  *  - user Map is a per-record flatMap `(k,v) => Seq[(k',v')]`
  *    (`src/tmapreduce/mrf.h:9`, bridge `src/tmapreduce/wrapper.cc:10-31`);
  *  - Merge groups all values per key exactly once and sorts keys ascending
  *    (`src/tmapreduce/job.cc:45-66`) — in the reference this is a
  *    single-threaded std::map on the master; here it is Spark's
  *    distributed shuffle (the whole point of the re-architecture);
  *  - user Reduce is a per-group flatMap `(k, values) => Seq[out]`
  *    (`src/tmapreduce/mrf.h:11`, `src/tmapreduce/wrapper.cc:33-55`);
  *  - final result concatenates group outputs in ascending key order
  *    (`src/tmapreduce/job.cc:68-77`).
  *
  * Documented deviation (SURVEY.md §2.1 note 3): within a key, the
  * reference presents values in map-subjob emission order, which is not
  * reproducible in any distributed engine; we define the value order as
  * SORTED for determinism. Commutative reduces (the reference's own
  * implicit contract — it re-executes subjobs at-least-once) see no
  * difference.
  *
  * Execution contract: user closures run at least once, not exactly once.
  * The reduce may run more than once per group: the sampling job of the
  * final `repartitionByRange` recomputes the reduce stage, and a retried
  * task reruns its closures. The reference re-runs subjobs at least once
  * too, so side-effecting map or reduce functions are unsupported. Callers
  * that act on the result more than once should execute one plan and
  * reuse its shuffle outputs (`JobStore`'s size gate does) rather than
  * rerun the lineage.
  *
  * Scale note: `flatMapGroups` materializes one key's values at a time on
  * one task — the per-key value list must fit in executor memory. That is
  * inherent to the MapReduce Reduce contract itself; the relational surface
  * (graft.queries.*) is the scale path for aggregations, with partial
  * (map-side) aggregation that this shape cannot express.
  */
object MRJob {
  /** Per-record UDTF: emit 0..n output pairs for one input pair. */
  type MapFn = (String, String) => IterableOnce[(String, String)]
  /** Per-group UDTF: emit 0..n output strings for one (key, values) group. */
  type ReduceFn = (String, Seq[String]) => IterableOnce[String]
  /** Optional map-side combiner: a commutative, associative fold over the
    * VALUE strings of one key. Declaring one asserts the algebraic contract
    *   reduceFn(k, Seq(values.reduce(combineFn))) == reduceFn(k, values.sorted)
    * for every value multiset — i.e. the reduce only depends on the
    * combiner's fold of the values (sums, mins, maxes, value-ignoring
    * reduces like DISTINCT). The reference has no combiner (its master-side
    * merge ships every raw pair, `job.cc:45-66`); this is the scale fix for
    * that design: with a combiner the shuffle carries at most
    * keys × partitions rows instead of one row per map emission.
    */
  type CombineFn = (String, String) => String

  /** Run one job. Output rows are in ascending key order, and within a key
    * in reduce-emission order (range-partitioned: collecting or writing the
    * dataset preserves the global order across partitions).
    *
    * @param combineFn map-side partial aggregation for reduces declared
    *        commutative (see [[CombineFn]]); None = the reference's
    *        ship-every-pair behavior, reduce sees all values sorted.
    */
  def run(
      spark: SparkSession,
      input: Dataset[(String, String)],
      mapFn: MapFn,
      reduceFn: ReduceFn,
      mappers: Int = 2,
      reducers: Int = 2,
      combineFn: Option[CombineFn] = None): Dataset[String] = {
    require(mappers > 0, "mapper_num must be > 0")   // master.cc:530-532
    require(reducers > 0, "reducer_num must be > 0")
    import spark.implicits._

    val mapped = input
      // Normalize column names: a Dataset[(String,String)] built from a
      // DataFrame keeps its source column names, so address by position.
      .toDF("_1", "_2").as[(String, String)]
      // O2 launch sort + O3 contiguous-range split: the reference sorts
      // the input and splits it into `mappers` contiguous ranges
      // (master.cc:736-738, job.cc:10-28). Post-shuffle that sort is
      // UNOBSERVABLE — values are re-sorted per group (deviation note
      // below) and output is re-sorted by key — so we keep only the
      // parallelism knob (round-robin repartition) and skip the range
      // sampling pass + sort, saving a full input scan.
      .repartition(mappers)
      .flatMap { case (k, v) => mapFn(k, v) } // O5 user map

    val reduced = combineFn match {
      case Some(c) =>
        // Declared-commutative path: reduceGroups is a typed Aggregator, so
        // Catalyst plans it as partial aggregation (map-side combine before
        // the exchange) — the shuffle carries one row per (key, partition).
        mapped
          .groupByKey(_._1)
          .mapValues(_._2)
          .reduceGroups(c)
          .flatMap { case (k, v) =>
            reduceFn(k, Seq(v))
              .iterator.zipWithIndex.map { case (out, i) => (k, i, out) }
          }
      case None =>
        mapped
          .groupByKey(_._1) // O6 shuffle replaces the master-side merge
          .flatMapGroups { (k, it) =>
            val values = it.map(_._2).toArray
            java.util.Arrays.sort(values.asInstanceOf[Array[AnyRef]])
            // Keep (key, emissionIndex) so the final order is fully defined.
            reduceFn(k, scala.collection.immutable.ArraySeq.unsafeWrapArray(values))
              .iterator.zipWithIndex.map { case (out, i) => (k, i, out) }
          }
    }

    reduced
      // O4 reduce-side contiguous split + O8 key-ordered concatenation:
      // range partitions are globally ordered, so sorting within partitions
      // yields a total order without an extra global sort pass.
      .repartitionByRange(reducers, $"_1", $"_2")
      .sortWithinPartitions($"_1", $"_2")
      .map(_._3)
  }

  /** Reference-shape runner: in-memory KV list in, string list out
    * (the `/launch` → `/getresult` surface, gateway.cc:66-184).
    * Only for modest inputs — the Dataset overload is the scale path.
    */
  def runLocal(
      spark: SparkSession,
      input: Seq[(String, String)],
      mapFn: MapFn,
      reduceFn: ReduceFn,
      mappers: Int = 2,
      reducers: Int = 2,
      combineFn: Option[CombineFn] = None): Seq[String] = {
    require(input.nonEmpty, "input kvs must be non-empty") // master.cc:533-535
    import spark.implicits._
    run(spark, input.toDS(), mapFn, reduceFn, mappers, reducers, combineFn)
      .collect().toSeq
  }
}
