package graft.perfbench

import org.apache.spark.sql.Row

/** An op's output failed its check: counted as a failed op. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Checks {

  def require(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  /** One ranked row: (qid, docId, rank, score). */
  final case class Ranked(qid: Int, docId: String, rank: Int, score: Float)

  def ranked(rows: Array[Row]): Seq[Ranked] =
    rows.toSeq.map(r => Ranked(r.getAs[Int]("qid"), r.getAs[String]("docId"),
      r.getAs[Int]("rank"), r.getAs[Float]("score")))

  /** Each topic returns at most k rows ranked 1..n, scores do not increase
   * down the list, and equal scores list docIds in ascending order. */
  def topK(what: String, rows: Seq[Ranked], k: Int): Unit =
    rows.groupBy(_.qid).foreach { case (qid, rs) =>
      val byRank = rs.sortBy(_.rank)
      require(rs.size <= k, s"$what: qid $qid returned ${rs.size} rows > k=$k")
      require(byRank.map(_.rank) == (1 to rs.size),
        s"$what: qid $qid ranks are not 1..${rs.size}")
      byRank.sliding(2).foreach {
        case Seq(a, b) =>
          require(a.score > b.score || (a.score == b.score && a.docId < b.docId),
            s"$what: qid $qid rank ${a.rank} (${a.docId}, ${a.score}) " +
              s"is not ahead of rank ${b.rank} (${b.docId}, ${b.score})")
        case _ =>
      }
    }

  /** Two paths rank identically: same docIds at the same ranks with the same
   * float scores. */
  def sameRanking(what: String, got: Seq[Ranked], want: Seq[Ranked]): Unit = {
    val g = got.toSet
    val w = want.toSet
    val missing = (w -- g).toSeq.sortBy(r => (r.qid, r.rank))
    val extra = (g -- w).toSeq.sortBy(r => (r.qid, r.rank))
    require(missing.isEmpty && extra.isEmpty,
      s"$what: ${missing.size} expected rows missing (first ${missing.headOption}), " +
        s"${extra.size} unexpected rows (first ${extra.headOption})")
  }
}
