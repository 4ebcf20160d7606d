package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Scan-parallelism guard — guide §2.5's input-skew remedy ("one huge
  * unsplittable file: repartition immediately after the read").
  *
  * The driver corpora are ONE sub-16 MB parquet file per table, so every
  * scan is a single split and the map-side work downstream of it —
  * percentile/HLL buffer builds, vector dot sweeps, vocabulary partial
  * aggregation — serializes through ONE task no matter how many cores
  * the session has (the r19 scaling block measured 8c→32c ratios of
  * 0.7–1.15 suite-wide: nothing upstream of the first exchange could
  * scale).
  *
  * [[spreadTable]] hash-repartitions such a scan to the session's
  * default parallelism, keyed DETERMINISTICALLY (never round-robin:
  * retried map tasks must reproduce the same row placement, and keyless
  * `repartition(n)` pays a sort besides — §2.5). Scale-adaptive, not a
  * local[32] constant: the guard estimates the scan's split count from
  * the FILE BYTES on disk (bytes cached per path — a ~1 ms FS stat, done once
  * per session, never a per-build `.rdd` plan: an earlier draft used
  * `df.rdd.getNumPartitions`, which re-planned the subtree on every
  * reference and cost 0.2–0.5 s per call on iterative consumers). When
  * the table already spans at least `defaultParallelism` splits — any
  * real multi-file table at production scale — this is the identity and
  * NO exchange is added.
  *
  * Applied ONLY where the full r20 bench A/B showed the scan-stage work
  * dominates (percentile/HLL partials, brute-force vector sweeps, the
  * vocabulary aggregate, the basket collect_set): for map-light
  * queries the extra exchange + stage is pure overhead and the same
  * A/B measured it as a regression — those keep the bare scan.
  */
private[graft] object Par {
  private val bytesCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Estimated split count of the parquet file(s) at `path`: total
    * bytes over the session's CURRENT `files.maxPartitionBytes` (the
    * same quantity Spark's split packing bounds), floored at 1. Only the
    * byte count is cached; the division runs per call, so a later
    * change of `maxPartitionBytes` is honoured.
    *
    * ASSUMES the driver corpus' shape: one small file per table, which
    * Spark reads in one task whatever the formula. The estimate does not
    * mirror Spark's packing (`maxSplitBytes = min(maxPartitionBytes,
    * max(openCostInBytes, bytes / defaultParallelism))`), so a single
    * file between `maxPartitionBytes` and `target × maxPartitionBytes`
    * (128 MB–4 GB at 32 cores and the default 128 MB) is estimated below
    * `target` although Spark already plans it as about `target` splits,
    * and it still gets the extra exchange. Perf only: the repartition is
    * semantically a no-op.
    */
  private def scanSplits(s: SparkSession, path: String): Int = {
    val bytes = bytesCache.getOrElseUpdate(path, {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
    })
    val maxPB = s.sessionState.conf.filesMaxPartitionBytes
    math.max(1L, (bytes + maxPB - 1) / maxPB).toInt
  }

  /** The named table, hash-repartitioned on `key` to the session's
    * default parallelism iff its estimated split count is below it.
    */
  def spreadTable(s: SparkSession, d: String, name: String, key: Column): DataFrame = {
    val df = graft.Tables.table(s, d, name)
    val target = s.sparkContext.defaultParallelism
    if (scanSplits(s, s"$d/$name.parquet") >= target) df
    else df.repartition(target, key)
  }
}
