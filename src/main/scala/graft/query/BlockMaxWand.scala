package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.IndexBuild
import graft.model.Topic

/**
 * Block-Max WAND top-k over the compressed, document-sharded posting index
 * (SURVEY.md §7.3): the flat adapter of the shared loop in [[BlockMax]],
 * run as its one-field case — one posting stream per query term, tie = 0,
 * msm = 1 (Boolean OR).
 *
 * Float discipline matches the exact path bit-for-bit: per-term score cast
 * to float (`ModelBase.java:145`), ×multiplicity accumulated in double,
 * final cast to float. Standing invariant (tested): BMW ≡ exact path.
 */
object BlockMaxWand {

  /**
   * Distributed BMW search: one Spark job for the whole topic set; each
   * shard task runs the WAND loop per topic (see [[BlockMax.searchShards]]).
   */
  def search(index: IndexBuild.Index, topics: Seq[Topic], model: Scoring.Model,
             k: Int, tag: Analyzer.Tag = Analyzer.Tag.NoStem,
             sentinelDocId: Option[String] = None,
             roundedDouble: Option[Int] = None): DataFrame = {
    require(model.ubSafe,
      s"Block-Max WAND is unsound for non-monotone model ${model.name} " +
        "(block bound score(maxTf, minDocLen) would not dominate mid-tf " +
        "postings); use Exact.search")
    val spark = index.docs.sparkSession
    import spark.implicits._

    // reference float boundary vs cross-engine rounded-double mode (see
    // Exact.search): the per-term map + per-doc finish must both be monotone
    // and the block upper bounds go through the same per-term map, or a
    // float-rounded-down UB could mask a winning doc.
    val perTerm: Double => Double =
      if (roundedDouble.isEmpty) d => d.toFloat.toDouble else identity
    val finish = BlockMax.finisher(roundedDouble)

    // driver-side: analyzed terms + dictionary stats for them (tiny)
    val qterms = Exact.queryTerms(topics, tag) // (qid, term, mult, nTerms)
    val termSet = qterms.map(_._2).distinct
    val dictRows = index.dict
      .filter(col("term").isin(termSet: _*))
      .select("term", "df", "cf")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // qid → Seq[(term, mult, df, cf)] in canonical term order
    val plan: Map[Int, Seq[(String, Int, Long, Long)]] = qterms
      .flatMap { case (qid, term, mult, _) =>
        dictRows.get(term).map { case (df, cf) => qid -> (term, mult, df, cf) }
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)(BlockMax.utf8Order)).toMap
    val bPlan = spark.sparkContext.broadcast(plan)
    // Query-sensitive models: MATF's scalar score() reads the instance's
    // queryLength (the reference's per-query setMaxOverlap), while the exact
    // path reads In.qLen per row — substitute a per-qid instance here or BMW
    // would score every query with the parser default (|q| = 1) and diverge
    // from the exact path on multi-term queries.
    val perQidModel: Map[Int, Scoring.Model] = model match {
      case Scoring.MATF(_) =>
        qterms.groupBy(_._1).view
          .mapValues(ts => Scoring.MATF(ts.map(_._3).sum): Scoring.Model).toMap
      case _ => Map.empty
    }
    val bModels = spark.sparkContext.broadcast(perQidModel)
    val nDocs = index.stats.numDocs.toDouble
    val nTokens = index.stats.numTokens.toDouble
    val avgdl = nTokens / nDocs

    val ranked = BlockMax.searchShards(index.blocks, termSet,
        index.docs.select("docIdNum", "docId"), k, roundedDouble.isEmpty) { byTerm =>
      bPlan.value.iterator.flatMap { case (qid, terms) =>
        val qModel = bModels.value.getOrElse(qid, model)
        val streams = terms.flatMap { case (term, mult, df, cf) =>
          byTerm.get(term).map { blocks =>
            val scoreAt: (Long, Long) => Double = (tf, dl) =>
              perTerm(qModel.score(tf.toDouble, dl, avgdl, 1.0, df.toDouble, cf.toDouble,
                nDocs, nTokens))
            new BlockMax.TermStream(Array(new BlockMax.PostingStream(blocks, scoreAt)),
              mult, tie = 0d)
          }
        }.toArray
        BlockMax.wand(streams, msm = 1, k, finish).iterator
          .map { case (score, doc) => (qid, doc, score) }
      }
    }

    sentinelDocId match {
      case None => ranked
      case Some(sentinel) =>
        val zero: org.apache.spark.sql.Column =
          if (roundedDouble.isEmpty) lit(0.0f) else lit(0.0d)
        val allQ = topics.map(_.qid).toDF("qid")
        val missing = allQ.join(ranked.select("qid").distinct(), Seq("qid"), "left_anti")
          .select(col("qid"), lit(sentinel).as("docId"),
            lit(1).as("rank"), zero.as("score"))
        ranked.unionByName(missing)
    }
  }
}
