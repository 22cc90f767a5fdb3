package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Term dictionary (SURVEY.md §1.1): per-term `df` (document frequency) and
 * `cf` (collection / total term frequency), plus a dense, term-ordered
 * `termId`. Reference analog: Lucene's FST term dictionary with (df, cf)
 * resolved per term in `ModelBase.fillBasicStats`
 * (`/root/reference/src/main/java/org/apache/lucene/search/similarities/
 * ModelBase.java:70-100`).
 */
object Dictionary {

  /** (term, df, cf) — one hash-aggregate over the posting source; partial
   * (map-side) aggregation makes the shuffle carry one row per distinct
   * (partition, term), not one per posting. */
  def termStats(termDocs: DataFrame): DataFrame =
    termDocs.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))

  /** (term, df, cf) from posting-block metadata alone (`n` postings and
   * `sumTf` per block): no corpus pass, and no posting is decoded. */
  def fromBlocks(blocks: DataFrame): DataFrame =
    blocks.groupBy("term").agg(sum("n").as("df"), sum("sumTf").as("cf"))

  /**
   * Assign dense term-ordered ids WITHOUT a single-partition global window.
   *
   * A naive `row_number().over(Window.orderBy("term"))` funnels the whole
   * dictionary through one task — fatal at 10^12-turn vocabulary size.
   * Instead: range-repartition by term (so partition p holds a contiguous,
   * sorted term range), count per partition, broadcast the prefix offsets,
   * then number within partitions. Two jobs, fully parallel, deterministic.
   */
  def withIds(termStats: DataFrame): DataFrame =
    DenseIds.assign(termStats.select("term", "df", "cf"), "termId", col("term"))
      .select("term", "termId", "df", "cf")
}
