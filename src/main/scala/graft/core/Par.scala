package graft.core

import org.apache.spark.sql.DataFrame

/** Parallelism pinning for stages whose DOWNSTREAM work dwarfs their input
  * bytes (guide §2.4/§8: decide placement with small rows, spend compute in
  * parallel).
  *
  * Two local-mode/cluster-mode facts motivate this:
  *
  *  - Spark's parquet parallelism unit is the ROW GROUP. The driver's test
  *    tables are single-row-group files, so every scan — however many byte
  *    splits planning makes — materializes all rows in ONE task. At 100 TB a
  *    table has thousands of row groups and this helper's shuffle is dwarfed
  *    by the per-row compute it balances; locally it is the difference
  *    between 1 core and all of them.
  *  - AQE coalesces small exchanges to one partition based on the bytes
  *    FLOWING INTO them. A stage that then EXPANDS each row (explode of
  *    O(d²) pairs, per-row distance loops) does work proportional to the
  *    post-expansion size AQE cannot see. Pinning the exchange to the
  *    session's configured shuffle parallelism (cluster-sized in production,
  *    `SPARK_GRAFT_CPUS` locally) keeps the expansion parallel at any scale.
  *
  * Only use ahead of expansion-heavy or per-row-compute-heavy stages: for a
  * plain partial aggregation the extra exchange would just defeat map-side
  * combining.
  */
object Par {

  /** The session's configured shuffle parallelism — the one scale-adaptive
    * knob every exchange already derives from (`spark.sql.shuffle.partitions`
    * is `SPARK_GRAFT_CPUS` in the bench contract, cluster-sized in prod).
    */
  def parallelism(df: DataFrame): Int =
    // the RESOLVED numeric value (not the raw conf string): a
    // platform-managed non-numeric setting like "auto" must degrade to
    // whatever the session resolves it to, never crash the query
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Round-robin rebalance of a NARROW frame ahead of a row-local expansion
    * (the expansion multiplies bytes/compute by 30-2000x, so this shuffle is
    * noise at any scale). The explicit partition count keeps AQE from
    * coalescing the exchange below the configured parallelism.
    */
  def fanOut(df: DataFrame): DataFrame = df.repartition(parallelism(df))

  /** Hash-cluster by `cols` at the configured parallelism — for when the
    * next operator needs the clustering anyway (groupBy on the same keys
    * reuses this exchange; guide §2.4) but its OUTPUT side does the heavy
    * work, so AQE's input-byte-based coalescing must not serialize it.
    *
    * The rentals pipeline's two sites:
    *  - `Transforms.unpivotMonthly` clusters the wide rows by `RegionID`
    *    ahead of the `stack` unpivot, a 36x expansion on a three-year file
    *    whose CSV is one input split; the dedup and MoM windows reuse the
    *    exchange, so the expansion and both windows run on every core.
    *  - `Io`'s partitioned writer clusters by the hive partition keys so
    *    each directory gets one file from one task (the write itself goes
    *    through [[LocalFs]], because without libhadoop Hadoop's stock local
    *    file system forks a `chmod` per created file and directory).
    */
  def fanOutBy(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(parallelism(df), cols: _*)
}
