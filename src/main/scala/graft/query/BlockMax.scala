package graft.query

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.{Codec, IndexBuild}
import graft.model.BlockMeta

/**
 * The one Block-Max WAND top-k loop (SURVEY.md §7.3), shared by flat
 * [[BlockMaxWand]] and fielded [[FieldedBlockMax]]. A query term is the
 * DisMax merge of its per-field posting streams (`Searcher.java:232-323`:
 * (max + tie·(sum − max))·mult) under a minimum-should-match (msm). Flat
 * search is the one-field case with tie = 0 and msm = 1, where the bound
 * ((1−tie)·max B + tie·Σ B)·mult is B·mult and the score s·mult.
 *
 * Per shard (contiguous docIdNum range) the WAND loop uses per-block bounds
 * B = max(0, scoreAt(maxTf, minDocLen)) — sound for models monotone in tf
 * and docLen ([[Scoring.Model.ubSafe]]); `max(0,·)` keeps negative-idf terms
 * safe — a pivot on the shard-local heap threshold θ at index ≥ msm−1
 * (streams sort by current doc, so a doc below `streams(msm−1).curDoc` is
 * in fewer than msm term lists), a shallow current-block bound check before
 * scoring, and skipTo over whole blocks without decoding them.
 *
 * The per-posting `scoreAt` (each adapter's float boundary) and the per-doc
 * `finish` are monotone, so a doc whose unfinished sum ≤ θ finishes ≤ θ and
 * loses the docId-ascending tie-break: skips stay exact, and shard-local
 * top-k heaps over disjoint doc ranges merge to the global exact top-k.
 * Fields and terms are summed in canonical UTF-8 binary order, matching
 * [[Fielded.score]]'s array_sort'ed folds: double addition is
 * non-associative (unordered sums diverged on 67 of 152k run rows at 8M
 * docs), and same-order sums keep each rounded bound sum ≥ its score sum.
 */
private[query] object BlockMax {

  /** Spark's array_sort string order (UTF-8 binary): the canonical
   * field/term summation order shared with [[Fielded.score]]. */
  val utf8Order: Ordering[String] = IndexBuild.utf8CmpStatic(_, _)

  /** Per-doc finish: float cast (reference semantics) or half-up rounding
   * to `rounded` decimals (cross-engine gate mode). */
  def finisher(rounded: Option[Int]): Double => Double = rounded match {
    case None => d => d.toFloat.toDouble
    case Some(decimals) =>
      d => BigDecimal(d).setScale(decimals, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** One posting list within a shard: lazily-decoded blocks, block-level
   * skip, per-block bound max(0, scoreAt(maxTf, minDocLen)). */
  final class PostingStream(blocks: Array[_ <: BlockMeta],
                            scoreAt: (Long, Long) => Double) {
    private val ubs = blocks.map(b => math.max(0d, scoreAt(b.maxTf, b.minDocLen)))
    val maxUb: Double = if (ubs.isEmpty) 0d else ubs.max
    private var bi = 0
    private var pi = 0
    private var docs: Array[Long] = _
    private var tfs: Array[Long] = _
    private var dls: Array[Long] = _
    private def decode(): Unit = {
      val b = blocks(bi)
      docs = Codec.decodeDeltas(b.docBytes, b.n)
      tfs = Codec.decodeTfs(b.tfBytes, b.n)
      dls = Codec.decodeTfs(b.dlBytes, b.n)
    }
    if (blocks.nonEmpty) decode()

    def exhausted: Boolean = bi >= blocks.length
    def curDoc: Long = docs(pi)
    def curScore: Double = scoreAt(tfs(pi), dls(pi))
    def blockUb: Double = ubs(bi)

    private def next(): Unit = {
      pi += 1
      if (pi >= blocks(bi).n) {
        pi = 0; bi += 1
        if (!exhausted) decode()
      }
    }

    /** Advance to the first doc ≥ target; skips whole blocks undecoded. */
    def skipTo(target: Long): Unit = {
      if (exhausted) return
      if (blocks(bi).maxDoc < target) {
        // gallop over blocks by maxDoc without decoding
        var lo = bi + 1; var hi = blocks.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (blocks(mid).maxDoc < target) lo = mid + 1 else hi = mid
        }
        bi = lo; pi = 0
        if (exhausted) return
        decode()
      }
      while (pi < blocks(bi).n - 1 && docs(pi) < target) pi += 1
      if (docs(pi) < target) { next(); if (!exhausted) skipTo(target) }
    }
  }

  /** One query term: the DisMax merge of its per-field posting streams
   * (given in canonical field order). curDoc = min over live streams — a
   * doc matches the term iff ANY field contains it, which is also the msm
   * "matched" notion; an exhausted term sits at Long.MaxValue. */
  final class TermStream(fields: Array[PostingStream], mult: Int, tie: Double) {
    private var live = fields.filter(!_.exhausted)
    /** ((1−tie)·max B + tie·Σ B)·mult over the per-field global maxima. */
    val globalUb: Double =
      if (fields.isEmpty) 0d
      else {
        val ubs = fields.map(_.maxUb)
        ((1d - tie) * ubs.max + tie * ubs.sum) * mult
      }
    def exhausted: Boolean = live.isEmpty
    def curDoc: Long = {
      var d = Long.MaxValue
      var i = 0
      while (i < live.length) { if (live(i).curDoc < d) d = live(i).curDoc; i += 1 }
      d
    }
    /** DisMax current-block bound over the streams positioned AT d
     * (streams past d cannot contain it). */
    def blockUbAt(d: Long): Double = {
      var mx = 0d; var sm = 0d
      var i = 0
      while (i < live.length) {
        if (live(i).curDoc == d) {
          val u = live(i).blockUb
          if (u > mx) mx = u
          sm += u
        }
        i += 1
      }
      ((1d - tie) * mx + tie * sm) * mult
    }
    /** Exact term contribution at d: (mx + tie·(sm − mx))·mult over the
     * per-field scores of the streams positioned at d. */
    def scoreAt(d: Long): Double = {
      var mx = Double.NegativeInfinity; var sm = 0d
      var i = 0
      while (i < live.length) {
        if (live(i).curDoc == d) {
          val s = live(i).curScore
          if (s > mx) mx = s
          sm += s
        }
        i += 1
      }
      (mx + tie * (sm - mx)) * mult
    }
    /** Moves every live stream before target to its first doc ≥ target. */
    def skipTo(target: Long): Unit = {
      var dead = false
      var i = 0
      while (i < live.length) {
        if (live(i).curDoc < target) { live(i).skipTo(target); dead ||= live(i).exhausted }
        i += 1
      }
      if (dead) live = live.filter(!_.exhausted)
    }
  }

  /** Shard-local top-k accumulator ordered (score desc, docIdNum asc);
   * ascending doc traversal ⇒ ties never displace earlier docs. */
  private final class TopK(k: Int) {
    private val heap = new java.util.PriorityQueue[(Double, Long)](k,
      (a: (Double, Long), b: (Double, Long)) => {
        val c = java.lang.Double.compare(a._1, b._1) // lowest score = worst first
        if (c != 0) c else java.lang.Long.compare(b._2, a._2) // larger doc = worse
      })
    def theta: Double = if (heap.size < k) Double.NegativeInfinity else heap.peek()._1
    def offer(score: Double, doc: Long): Unit = {
      if (heap.size < k) heap.add((score, doc))
      else if (score > heap.peek()._1) { heap.poll(); heap.add((score, doc)) }
    }
    def drain(): List[(Double, Long)] = {
      var out = List.empty[(Double, Long)]
      while (!heap.isEmpty) out = heap.poll() :: out
      out
    }
  }

  /** One shard × one query → local top-k (score, docIdNum). `terms` must
   * be in canonical term order: it is the per-doc summation order. */
  def wand(terms: Array[TermStream], msm: Int, k: Int,
           finish: Double => Double): List[(Double, Long)] = {
    val topk = new TopK(k)
    var streams = terms.filter(!_.exhausted)

    while (streams.length >= msm) {
      java.util.Arrays.sort(streams, (a: TermStream, b: TermStream) =>
        java.lang.Long.compare(a.curDoc, b.curDoc))
      val theta = topk.theta
      // pivot: smallest index i ≥ msm−1 whose Σ global-UB prefix exceeds θ
      var acc = 0d
      var pivot = -1
      var i = 0
      while (i < streams.length && pivot < 0) {
        acc += streams(i).globalUb
        if (acc > theta && i >= msm - 1) pivot = i
        i += 1
      }
      if (pivot < 0) return topk.drain() // nothing can beat θ anymore

      val pivotDoc = streams(pivot).curDoc
      var target = pivotDoc // laggards move up to the pivot
      if (streams(0).curDoc == pivotDoc) {
        // aligned: shallow current-block bound over all streams at pivotDoc
        var blockAcc = 0d
        var j = 0
        while (j < streams.length && streams(j).curDoc == pivotDoc) {
          blockAcc += streams(j).blockUbAt(pivotDoc); j += 1
        }
        if (j >= msm && blockAcc > theta) {
          var s = 0d
          var m = 0
          while (m < terms.length) {
            if (terms(m).curDoc == pivotDoc) s += terms(m).scoreAt(pivotDoc)
            m += 1
          }
          topk.offer(finish(s), pivotDoc)
        }
        target = pivotDoc + 1 // every stream at pivotDoc moves past it
      }
      var dead = false
      var a = 0
      while (a < streams.length && streams(a).curDoc < target) {
        streams(a).skipTo(target); dead ||= streams(a).exhausted; a += 1
      }
      if (dead) streams = streams.filter(!_.exhausted)
    }
    topk.drain()
  }

  /**
   * The distributed driver around [[wand]]: one Spark job for the whole
   * topic set. Blocks are pruned to the query terms at the parquet scan
   * (predicate pushdown on `term`) and grouped by shard; `perShard` gets
   * one shard's blocks by term, each run ordered by doc range (NOT blockNo
   * — a shard straddling a build-partition boundary has two block runs
   * with repeated blockNos), and emits (qid, docIdNum, score) candidates.
   * The tiny per-shard candidate sets merge through a global window top-k
   * on (score desc, docIdNum asc) — docIdNum order is docId string order —
   * joined to `docs` (docIdNum → docId).
   */
  def searchShards[B <: BlockMeta : ClassTag](blocks: Dataset[B], terms: Seq[String],
                                              docs: DataFrame, k: Int, floatScores: Boolean)(
      perShard: Map[String, Array[B]] => Iterator[(Int, Long, Double)]): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val candidates = blocks
      .filter(col("term").isin(terms: _*)) // parquet row-group stats prune
      .groupByKey(_.shard)
      .flatMapGroups { (_, it) =>
        perShard(it.toArray.groupBy(_.term).view.mapValues(_.sortBy(_.minDoc)).toMap)
      }
      .toDF("qid", "docIdNum", "score")
    val scoreCol = if (floatScores) col("score").cast("float") else col("score")
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("docIdNum").asc)
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(docs, "docIdNum")
      .select(col("qid"), col("docId"), col("rank"), scoreCol.as("score"))
  }
}
