package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory. Every entry point (Verify, Bench, TimeOne,
  * Inspect, demos, the shared test fixture) builds its session here, so
  * the Graft planner extensions ([[graft.plans.PrefixJoinStrategy]] via
  * [[graft.plans.GraftPlanExtensions]]) and the engine-parity configs
  * (UTC session timezone) can never be silently lost — a plain
  * `SparkSession.builder()` without the strategy would degrade prefix
  * joins to BroadcastNestedLoopJoin without any error.
  *
  * External users embedding the library get the identical wiring with
  * `--conf spark.sql.extensions=graft.plans.GraftPlanExtensions`.
  */
object GraftSession {

  /** Build the standard Graft session. `configure` lets a caller layer
    * entry-point-specific configs (bench tuning, warehouse dirs) on top of
    * the canonical base; extensions are injected before `configure` runs
    * and cannot be removed by it.
    */
  def create(configure: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // InferFiltersFromGenerate turns explode(f(x)) into an inferred
      // `size(f(x)) > 0` filter that predicate pushdown then sinks through
      // repartitions into the scan — for the dedup pipelines that re-runs
      // the (deliberately post-shuffle, parallel) native shingle-hash
      // expression serially inside the single-file scan task. Explode
      // already skips empty/null arrays by itself; the inference only
      // MOVES that work, so excluding the rule costs nothing here.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // let AQE re-plan (notably: coalesce post-shuffle partitions of)
      // plans that feed a persisted relation — off by default so cached
      // data keeps a stable output partitioning for downstream reuse, but
      // the eager persist-count-unpersist lifecycle our operators use
      // (stratified sampling, LSH dedup, cluster labels) never relies on
      // that partitioning, and without AQE the cached subtree runs every
      // stage at full shuffle width however tiny the data
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // trust the sort order of 1-file-per-bucket bucketed layouts: every
      // bucketed table this engine writes is bucket-aligned and sorted by
      // the bucket key (operators.Bucketing.writeBucketed* repartitions to
      // numPartitions == buckets before the sorted write), so the SMJ over
      // a bucketed join needs no per-query re-sort. Spark verifies the
      // one-file-per-bucket precondition from the file listing before
      // assuming order, so a foreign multi-file bucket table silently
      // falls back to sorting — never wrong, just slower. Measured at
      // x1000 on the 128-bucket orderkey layout: the fact⋈fact join drops
      // its two 600M/150M-row sorts (see layout_bucketed_join's audit).
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .withExtensions(new graft.plans.GraftPlanExtensions)
    val spark = configure(base).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The bench session profile, layered on [[create]]'s base by every
    * timing entry point (`GraftSession.create(GraftSession.benchProfile)`).
    * The defaults of [[create]] stay as they are, so tests and Verify plan
    * without it.
    */
  val benchProfile: SparkSession.Builder => SparkSession.Builder = _
    // sf0.1 inputs are sub-100MB: most shuffles carry a few MB, so let
    // AQE coalesce them down to size (1-2 partitions) instead of
    // preserving parallelism — fewer tasks per stage is the main lever
    // against Spark's fixed per-task submission floor on tiny queries.
    // At cluster scale the same configs are harmless: 100TB shuffles
    // blow straight past the advisory size and keep full parallelism.
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
    // local mode has no data locality to wait for; the 3s default can
    // stall tiny stages behind a phantom locality preference
    .config("spark.locality.wait", "0ms")
}
