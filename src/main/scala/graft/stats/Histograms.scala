package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.model.CorpusStats
import graft.query.Exact

/**
 * Per-term frequency-distribution histograms (SURVEY.md §2.6 A4-A7).
 *
 * All four distributions of the reference's freq family over the
 * denormalized posting source `termDocs(docId, docLen, term, tf)`:
 * bin a per-posting relative frequency with the LengthNormalized rule
 * (`freq/LengthNormalized.java:15-41`) and count per (term, bin).
 * Each reads only the asked terms' postings ([[Exact.postingsFor]]; over a
 * block index the term predicate reaches the postings scan before decode)
 * and runs one partial-aggregated groupBy.
 */
object Histograms {

  /** Fast binning rule: v = trunc(pct·bins); bin = (v == bins) ? v : v+1.
   * Property-tested fast == slow (BinningSpec). */
  def binCol(pct: Column, bins: Int): Column = {
    val v = floor(pct * bins)
    when(v === bins, v).otherwise(v + 1).cast("int")
  }

  /** A4 — raw tf normalized by doc length (`TermFreqDistribution.java:40-78`):
   * pct = tf/docLen. */
  def lengthNormalized(termDocs: DataFrame, terms: Seq[String], bins: Int): DataFrame =
    Exact.postingsFor(termDocs, terms)
      .withColumn("bin", binCol(col("tf").cast("double") / col("docLen").cast("double"), bins))
      .groupBy("term", "bin").agg(count(lit(1)).as("cnt"))

  /** Round-digits binning (`freq/Round2Binning.java:8-24`,
   * `Round3Binning.java`): bin = relative frequency rounded HALF-UP to
   * `digits` decimals, scaled to an int (0.567 → "0.57" → 57; 1.0 →
   * 10^digits). Both Spark's `round` and DuckDB's `round` are half-up for
   * positive doubles, so the rule mirrors exactly. */
  def roundBinCol(pct: Column, digits: Int): Column =
    round(pct * math.pow(10, digits).toInt, 0).cast("int")

  /** A4-variant — LengthNormalized pct under round-digits binning
   * (the reference pairs `QueryFreqDistribution`/`TermFreqDistribution`
   * with any `BinningStrategy`). */
  def roundBinned(termDocs: DataFrame, terms: Seq[String], digits: Int): DataFrame =
    Exact.postingsFor(termDocs, terms)
      .withColumn("bin", roundBinCol(col("tf").cast("double") / col("docLen").cast("double"), digits))
      .groupBy("term", "bin").agg(count(lit(1)).as("cnt"))

  /** Standard normal CDF via commons-math3 (the exact library the reference
   * uses, `freq/Phi.java:18,75`) — ships in /opt/spark/jars. One
   * distribution instance per executor, not per row. */
  private val stdNormal =
    new org.apache.commons.math3.distribution.NormalDistribution(null, 0d, 1d)
  val phiUdf: UserDefinedFunction = udf { (x: Double) => stdNormal.cumulativeProbability(x) }

  /** Φ⁻¹(j/bins) bin boundaries, j = 1..bins−1 (commons-math3 inverse CDF —
   * same library as the reference's Φ). */
  def phiBinBoundaries(bins: Int): Array[Double] = {
    require(bins >= 2)
    Array.tabulate(bins - 1)(j => stdNormal.inverseCumulativeProbability((j + 1).toDouble / bins))
  }

  /** A5 — Phi distribution (`freq/Phi.java:46-90`):
   * pct = Φ((tf - e_ij)/√e_ij), e_ij = cf·dl/C.
   *
   * Binning `Φ(z)` with [[binCol]] at boundaries j/bins is equivalent to
   * counting how many z-boundaries `Φ⁻¹(j/bins)` the raw z crosses (Φ is
   * strictly increasing; `Φ(z)=1.0` exactly only past every boundary, which
   * lands in the top bin either way) — so the bin is native column math, no
   * CDF per row, and a SQL oracle can mirror it with the same 9 constants. */
  def phi(termDocs: DataFrame, dict: DataFrame, stats: CorpusStats,
          terms: Seq[String], bins: Int): DataFrame = {
    val e = (col("cf") * col("docLen")).cast("double") / lit(stats.numTokens.toDouble)
    val z = (col("tf").cast("double") - e) / sqrt(e)
    val bin = phiBinBoundaries(bins).foldLeft(lit(1)) { (acc, b) =>
      acc + when(z >= lit(b), lit(1)).otherwise(lit(0))
    }
    Exact.postingsFor(termDocs, terms)
      .join(broadcast(dict.filter(col("term").isin(terms: _*)).select("term", "cf")), "term")
      .withColumn("bin", bin.cast("int"))
      .groupBy("term", "bin").agg(count(lit(1)).as("cnt"))
  }

  /** A6a — Zero (add-one smoothed) distribution
   * (`freq/ZeroDistribution.java:55-120`): docs containing the term bin
   * (tf+1)/(dl+1); ALL OTHER docs bin 1/(dl+1) (the reference realizes the
   * complement with a MatchAll + MUST_NOT query; here a left-anti join). */
  def zero(termDocs: DataFrame, docs: DataFrame, terms: Seq[String], bins: Int): DataFrame = {
    val spark = termDocs.sparkSession
    import spark.implicits._

    // The tf=0 bin depends only on docLen, so the complement needs NO join
    // against the corpus: bin ALL docs by docLen once (bins rows), subtract
    // each term's matching docs' docLen-bin counts. One term-pruned
    // posting scan + one docs scan — no N×|terms| crossJoin at any scale.
    val mBin = binCol((col("tf").cast("double") + 1) / (col("docLen").cast("double") + 1), bins)
    val dBin = binCol(lit(1.0) / (col("docLen").cast("double") + 1), bins)

    // single scan of the filtered postings: counts per (term, match-bin, docLen-bin)
    val grouped = Exact.postingsFor(termDocs, terms)
      .groupBy(col("term"), mBin.as("mbin"), dBin.as("dbin"))
      .agg(count(lit(1)).as("c")) // ≤ |terms|·(bins+1)² rows
    val matching = grouped.groupBy(col("term"), col("mbin").as("bin"))
      .agg(sum("c").as("cnt"))

    val allBins = docs.withColumn("bin", dBin).groupBy("bin")
      .agg(count(lit(1)).as("total")) // ≤ bins rows
    val matchedByDlBin = grouped.groupBy(col("term"), col("dbin").as("bin"))
      .agg(sum("c").as("mcnt"))
    val nonMatching = terms.toDF("term").crossJoin(allBins) // tiny × tiny
      .join(matchedByDlBin, Seq("term", "bin"), "left")
      .select(col("term"), col("bin"),
        (col("total") - coalesce(col("mcnt"), lit(0L))).as("cnt"))
      .filter(col("cnt") > 0)

    matching.unionByName(nonMatching)
      .groupBy("term", "bin").agg(sum("cnt").as("cnt"))
  }

  /** A6b — Dirichlet-smoothed distribution
   * (`freq/DirichletDistribution.java`, relativeFrequency at the file's
   * private helper): pct = (tf + e_ij)/(dl + e_ij), e_ij = cf·dl/C. */
  def dirichlet(termDocs: DataFrame, dict: DataFrame, stats: CorpusStats,
                terms: Seq[String], bins: Int): DataFrame = {
    val e = (col("cf") * col("docLen")).cast("double") / lit(stats.numTokens.toDouble)
    Exact.postingsFor(termDocs, terms)
      .join(broadcast(dict.filter(col("term").isin(terms: _*)).select("term", "cf")), "term")
      .withColumn("bin", binCol((col("tf").cast("double") + e) / (col("docLen").cast("double") + e), bins))
      .groupBy("term", "bin").agg(count(lit(1)).as("cnt"))
  }

  /** Dense `Long[bins+1]` arrays per term (index 0 unused, as the
   * reference's `rollCountArray`); histograms are tiny, built driver-side. */
  def toDense(hist: DataFrame, bins: Int): Map[String, Array[Long]] =
    hist.collect()
      .groupBy(_.getString(0))
      .map { case (term, rows) =>
        val arr = new Array[Long](bins + 1)
        rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
        term -> arr
      }
}
