package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Bucketed-table helpers: pre-shuffle fact tables ONCE at write time so
  * every later equi-join / aggregation on the bucket key runs with no
  * exchange at all. At 100 TB this converts the recurring cost of a
  * fact-to-fact join (two full shuffles per query) into a one-time cost
  * paid at ingestion — the single biggest repeated-shuffle saving a
  * warehouse layout can make. Requires a table-catalog write
  * (`saveAsTable`); plain parquet paths cannot carry bucket metadata.
  */
object Bucketing {

  /** Write `df` as a bucketed, sorted table on `key`. Sorting within
    * buckets additionally enables sort-merge joins with neither exchange
    * NOR sort.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit = {
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }
}
