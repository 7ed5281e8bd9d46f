package graft.streaming

import org.apache.spark.sql.SparkSession

/**
 * State-partition sizing for streaming queries — the one knob Spark fixes
 * at checkpoint creation and never re-plans: a stateful operator's state
 * store count equals `spark.sql.shuffle.partitions` AT FIRST START, and
 * every micro-batch thereafter pays per-partition machinery (one delta
 * file write + fsync per state store instance per batch, plus the
 * HDFS-backed store's version bookkeeping) regardless of how little
 * state each partition holds.
 *
 * Measured (the `stream` family of [[graft.Rehearse]], 2500 rows x 8
 * batches of [[graft.pipeline.Dedup.dedupStreamNear]] on local[32]): with the batch
 * default of 32 shuffle partitions, per-batch wall time is 7-20 s and
 * state-store commit task-time 51-424 s/batch — for ~60k tiny state
 * entries; at 4 partitions the SAME workload runs ~1.2 s/batch flat with
 * ~1 s commit time. The floor is fsync amplification (32 concurrent
 * per-partition delta-file syncs per batch), not the operator's work.
 *
 * Sizing rule, both directions:
 *  - DOWN for small state: a gate/test/dev stream whose total state fits
 *    one executor core should run a handful of partitions — the default
 *    inherited from the BATCH tuning (cores, for shuffle width) is the
 *    wrong number for per-batch state commits.
 *  - UP for real scale: at 100 TB, size to `expected state bytes /
 *    (executor memory per core / safety factor)` — state partitions are
 *    the unit of state-store memory AND of rescale granularity, and the
 *    count is FROZEN into the checkpoint (changing it means a new
 *    checkpoint), so pick for peak state, not first-day state.
 *
 * The helper returns an ISOLATED session (`newSession`: shared
 * SparkContext/catalog-state, fresh SQLConf) so the batch side of a mixed
 * job keeps its shuffle width — only queries built and STARTED from the
 * returned session get the sized state layout. Builder-level confs
 * (timezone, parquet nanos shim, extensions) propagate; memory-sink
 * tables register in the returned session's catalog — read them from it.
 */
object StreamTuning {
  /** Default state partitions for the repo's gate/test streams: small
    * enough that per-batch state commits cost ~one fsync round, large
    * enough to exercise real multi-partition state merge paths. */
  val GateStatePartitions: Int = 4

  def sizedSession(s: SparkSession,
      statePartitions: Int = GateStatePartitions): SparkSession = {
    require(statePartitions > 0,
      s"statePartitions must be positive: $statePartitions")
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    s2
  }

  /** The sizing DOCTRINE as code (r16 verdict item 3: the 4-partition
    * gate default is fixture-sized; a production caller copying the
    * pattern would freeze it into a checkpoint). Derives the partition
    * count from the caller's own state estimate:
    * ceil(expectedStateBytes / targetBytesPerPartition), floored at 1 —
    * pick `expectedStateBytes` for PEAK state (the count is frozen into
    * the checkpoint) and `targetBytesPerPartition` from per-core state
    * memory over a safety factor (default 256 MB ≈ 1 GB/core / 4). */
  def sizedSessionForState(s: SparkSession, expectedStateBytes: Long,
      targetBytesPerPartition: Long = 256L << 20): SparkSession = {
    require(expectedStateBytes >= 0, "expectedStateBytes must be >= 0")
    require(targetBytesPerPartition > 0, "targetBytesPerPartition must be > 0")
    val n = math.max(1L, (expectedStateBytes + targetBytesPerPartition - 1)
      / targetBytesPerPartition)
    require(n <= Int.MaxValue, "state partition count overflow")
    sizedSession(s, n.toInt)
  }
}
