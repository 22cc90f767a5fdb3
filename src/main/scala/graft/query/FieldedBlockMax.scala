package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.FieldedBlocks
import graft.model.Topic

/**
 * Early-terminating fielded DisMax retrieval over the block-compressed
 * fielded index: the fielded adapter of the shared loop in [[BlockMax]] —
 * one posting stream per (field, term), merged per term by the reference's
 * DisjunctionMax (max + tie·(sum − max), boosts per field —
 * `Searcher.java:232-323`) under the query-length minimum-should-match.
 *
 * Per-field block bounds are B_f = max(0, boost_f · float(score(maxTf,
 * minDocLen))) (ub-safe models only). Float discipline matches
 * [[Fielded.score]] exactly: per-field score cast to float THEN scaled by
 * the boost in double (both gate modes), per-term DisMax and ×mult in
 * double, per-doc sum in double, finished with a float cast (reference
 * mode) or half-up rounding (cross-engine gate mode).
 */
object FieldedBlockMax {

  /**
   * Distributed fielded block-max search — result ≡ [[Fielded.searchIndexed]]
   * (pinned in FieldedSpec) with every corpus-sized read a term-pruned block
   * scan and per-doc work gated by θ and msm.
   *
   * @param rounded half-up round the doc score to this many decimals and
   *   rank on the rounded value (the cross-engine gate discipline);
   *   None = reference float semantics
   */
  def search(idx: FieldedBlocks.FBIndex, topics: Seq[Topic],
             model: Scoring.Model, k: Int,
             boosts: Map[String, Double] = Fielded.DEFAULT_BOOSTS,
             tie: Double = Fielded.DEFAULT_TIE,
             tag: Analyzer.Tag = Analyzer.Tag.NoStem,
             rounded: Option[Int] = None): DataFrame = {
    require(model.ubSafe,
      s"fielded Block-Max WAND is unsound for non-monotone model ${model.name}; " +
        "use Fielded.searchIndexed")
    val spark = idx.blocks.sparkSession
    val finish = BlockMax.finisher(rounded)

    val qterms = Exact.queryTerms(topics, tag) // (qid, term, mult, nTerms)
    val termSet = qterms.map(_._2).distinct
    // bounded driver state: |fields| stat rows, ≤ |query terms|·|fields| dict rows
    val statRows: Map[String, (Long, Long)] = idx.stats
      .select("field", "fN", "fC").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dictRows: Map[(String, String), (Long, Long)] = idx.dict
      .filter(col("term").isin(termSet: _*))
      .select("field", "term", "df", "cf").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // qid → Seq[(term, mult, nTerms)] in canonical term order
    val plan: Map[Int, Seq[(String, Int, Int)]] = qterms
      .groupBy(_._1).view
      .mapValues(ts => ts.map { case (_, term, mult, nTerms) => (term, mult, nTerms) }
        .sortBy(_._1)(BlockMax.utf8Order))
      .toMap
    val bPlan = spark.sparkContext.broadcast(plan)
    val bDict = spark.sparkContext.broadcast(dictRows)
    val bStats = spark.sparkContext.broadcast(statRows)

    // docIdNum ascending ≡ docId-string ascending (fdocs numbering order) —
    // the window reproduces Fielded.score's (score desc, docId asc) exactly
    BlockMax.searchShards(idx.blocks, termSet, idx.fdocs, k, rounded.isEmpty) { byTerm =>
      val dict = bDict.value
      val stats = bStats.value
      bPlan.value.iterator.flatMap { case (qid, terms) =>
        val msm = Fielded.minimumShouldMatch(terms.head._3)
        val streams = terms.flatMap { case (term, mult, _) =>
          byTerm.get(term).map { blocks =>
            // canonical field order — mirrors Fielded.score's ordered
            // per-term fold
            val fields = blocks.groupBy(_.field).toArray.sortBy(_._1)(BlockMax.utf8Order)
              .flatMap { case (field, fieldBlocks) =>
                // a field absent from boosts scores 0 but still counts for
                // msm and joins the DisMax group — mirror Fielded.score's
                // boostCol otherwise(0.0)
                val boost = boosts.getOrElse(field, 0d)
                dict.get((field, term)).map { case (df, cf) =>
                  val (fN, fC) = stats(field)
                  val avgdl = fC.toDouble / fN.toDouble
                  // float boundary BEFORE the boost scale, both gate modes
                  // (Fielded.score: boostCol * expr.cast(float).cast(double))
                  val scoreAt: (Long, Long) => Double = (tf, dl) =>
                    boost * model.score(tf.toDouble, dl, avgdl, 1.0,
                      df.toDouble, cf.toDouble, fN.toDouble, fC.toDouble).toFloat.toDouble
                  new BlockMax.PostingStream(fieldBlocks, scoreAt)
                }
              }
            new BlockMax.TermStream(fields, mult, tie)
          }
        }.toArray
        BlockMax.wand(streams, msm, k, finish).iterator
          .map { case (score, doc) => (qid, doc, score) }
      }
    }
  }
}
