package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-layout helpers — the 100 TB join strategy.
  *
  * The dedup candidate join, the incremental delta join, and the LSH
  * band join all equi-join on a stable key (title_key / band_hash /
  * seg_hash). At cluster scale the dominant cost of those joins is the
  * corpus-side shuffle; pre-bucketing the stored corpus BY THAT KEY
  * moves the shuffle to write time, once, and every subsequent join
  * reads co-located buckets with NO exchange on the bucketed side
  * (Spark's bucketed scan reports HashPartitioning that the join
  * requirement matches; with `sortBy` the merge-join sort disappears
  * too). This is the standard "shuffle once, join forever" layout for a
  * slowly-growing 100 TB corpus joined daily against small deltas —
  * and when the delta is also written with the same bucket spec, the
  * join is exchange-free on both sides.
  *
  * Spark only honors bucket metadata through the catalog, so the writer
  * uses `saveAsTable` with an explicit path (external table); plain
  * `parquet(path)` would silently drop the bucketing.
  */
object Bucketing {

  /** Write `df` bucketed (+ sorted) by `keys` into `nBuckets` buckets at
    * `path`, registered as catalog table `table`. Each write task writes
    * one file per bucket it holds rows of, so a bucket is one file only
    * when a single task writes it; a bucketed read still scans one bucket
    * per task, whatever its file count.
    */
  def writeBucketed(
      df: DataFrame,
      keys: Seq[String],
      nBuckets: Int,
      table: String,
      path: String
  ): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** Read a bucketed table back with its bucket metadata intact. */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}
