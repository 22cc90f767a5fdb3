package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.{Codec, FieldedBlocks, FieldedIndex, IndexBuild}
import graft.model.{PostingBlock, Qrel, Topic}
import graft.query.{BlockMaxWand, Exact, Fielded, FieldedBlockMax, Scoring}
import graft.stats.{Histograms, Qpp}
import graft.eval.Metrics
import graft.streaming.Streams
import graft.train.ParamTrain

/** What every workload gets: the session, the span recorder, the seed and
 * a private work directory. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, work: String)

/** One timed measurement of an op of kind `kind`. */
final case class Sample(kind: String, seconds: Double)

/**
 * A workload: a one-time set-up and a numbered sequence of steps. Each step is one op of the closed loop; it returns its timings,
 * and throws (a [[CheckFailed]] or the engine's own exception) when the op
 * fails or its output is wrong.
 */
abstract class Workload(ctx: Ctx) {
  protected val spark: SparkSession = ctx.spark
  protected val tr: Tracer = ctx.tracer

  /** Names of the primary and secondary op kinds its samples carry. */
  def kinds: (String, String)
  /** Steps per full alternation of its op kinds; a run times at least one. */
  def stepsPerRound: Int = 1
  def warmupSteps: Int
  /** Generates the inputs and builds the indexes the steps use. */
  def prepare(): Unit
  /** Seconds [[prepare]] spent building the workload's indexes. */
  protected var indexSeconds = 0d
  def indexS(p50: String => Double): Double = indexSeconds
  def step(i: Int): Seq[Sample]
  /** Cross-path ranking check run once after the timed phase. */
  def finalCheck(): Unit = ()
  /** Bytes on disk of the workload's flat index per byte of input text. */
  def indexBytesPerTextByte: Double
  /** Per-layer counts read from the index and inputs (traced runs only). */
  def counters(): Map[String, Double]
  /** The workload's metrics under the names of the benchmark's doc. */
  def namedMetrics(p50: String => Double, tail: String => Double): Seq[(String, Double, String)]

  protected def dir(rel: String): String = s"${ctx.work}/$rel"

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected val K = 1000
  protected val bm25: Scoring.Model = Scoring.parse("BM25k0.9b0.4")
  protected val boosts: Map[String, Double] = Map("role" -> 0.9, "tool" -> 0.7, "contents" -> 0.3)
  protected val docsPerShard = 16384L

  protected def generate[T](body: => T): T = tr.span("data.generate")(body)

  protected def flatBuild(turnsDir: String, out: String): IndexBuild.Index =
    tr.span("index.build") {
      IndexBuild.build(Inputs.turns(spark, turnsDir), out, Analyzer.Tag.NoStem,
        docsPerShard = docsPerShard)
    }

  protected def fieldedBuild(turnsDir: String, out: String): (FieldedIndex.FIndex, FieldedBlocks.FBIndex) = {
    val fidx = tr.span("index.fbuild") {
      FieldedIndex.build(FieldedIndex.fromTurns(Inputs.turns(spark, turnsDir), Analyzer.Tag.NoStem), out)
    }
    (fidx, tr.span("index.fblocks")(FieldedBlocks.build(fidx, out)))
  }

  protected def bmw(idx: IndexBuild.Index, topics: Seq[Topic]): Seq[Checks.Ranked] = {
    val rows = tr.span("query.bmw")(BlockMaxWand.search(idx, topics, bm25, K).collect())
    Checks.ranked(rows)
  }

  /** Block/posting/term counts of a flat index, plus the blocks a topic set
   * reads and how fast one thread decodes them. */
  protected def flatCounters(idx: IndexBuild.Index, indexDir: String,
                             topics: Seq[Topic]): Map[String, Double] = {
    val r = idx.blocks.agg(count(lit(1)), sum("n")).head()
    val (blocks, postings) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    val terms = Exact.queryTerms(topics, Analyzer.Tag.NoStem).map(_._2).distinct
    val read = if (terms.isEmpty) Array.empty[PostingBlock]
               else idx.blocks.filter(col("term").isin(terms: _*)).collect()
    Map(
      "index.blocks" -> blocks,
      "index.postings" -> postings,
      "index.terms" -> idx.dict.count().toDouble,
      "index.bytes_per_posting" -> Inputs.treeBytes(s"$indexDir/postings") / postings,
      "index.decode_postings_per_s" -> Micro.decodeRate(read),
      "query.blocks_read" -> read.length.toDouble,
      "query.blocks_read_ratio" -> read.length / blocks)
  }

  protected def checkBuild(idx: IndexBuild.Index, indexDir: String, turns: Long): Unit = {
    Checks.require(idx.stats.numDocs == turns, s"index holds ${idx.stats.numDocs} docs, input has $turns turns")
    val sumDf = idx.dict.agg(sum("df")).head().getLong(0)
    val manifested = spark.read.parquet(s"$indexDir/manifest").agg(sum("nPostings")).head().getLong(0)
    Checks.require(sumDf == manifested, s"dict sum(df) $sumDf != manifest sum(nPostings) $manifested")
  }

  /** Appends one micro-batch as a streaming sink does (batch id and run
   * token set); returns the dict version before the append. */
  protected def append(turnsDir: String, indexDir: String, batch: Int, runToken: String): Long = {
    val before = Inputs.readSmallFile(s"$indexDir/_dict_version").map(_.toLong).getOrElse(1L)
    tr.span("streaming.append") {
      Streams.appendBatch(Inputs.turns(spark, turnsDir), indexDir, Analyzer.Tag.NoStem,
        docsPerShard = docsPerShard, batchId = Some(batch.toLong), runToken = Some(runToken))
    }
    before
  }

  /** After a batch: the docs count grew to `wantDocs` and the dict version
   * advanced by one. */
  protected def checkGrown(idx: IndexBuild.Index, indexDir: String, batch: Int, wantDocs: Long,
                           versionBefore: Long): Unit = {
    Checks.require(idx.stats.numDocs == wantDocs,
      s"after batch $batch the index holds ${idx.stats.numDocs} docs, expected $wantDocs")
    val ver = Inputs.readSmallFile(s"$indexDir/_dict_version").map(_.toLong)
    Checks.require(ver.contains(versionBefore + 1),
      s"after batch $batch the dict version is $ver, expected ${versionBefore + 1}")
  }

  protected def checkFielded(f: FieldedBlocks.FBIndex, turns: Long): Unit = {
    val docs = f.fdocs.count()
    Checks.require(docs == turns, s"fielded index holds $docs docs, input has $turns turns")
    val inBlocks = f.blocks.agg(sum("n")).head().getLong(0)
    val sumDf = f.dict.agg(sum("df")).head().getLong(0)
    Checks.require(inBlocks == sumDf, s"fielded blocks hold $inBlocks postings, dict sum(df) is $sumDf")
  }
}

/** Single-thread micro-measurements of two hot loops. */
object Micro {
  private def rate(minSeconds: Double)(pass: () => Long): Double = {
    var units = 0L
    val t0 = System.nanoTime()
    var el = 0d
    while (el < minSeconds) { units += pass(); el = (System.nanoTime() - t0) / 1e9 }
    units / el
  }

  def tokensPerSecond(texts: Array[String]): Double =
    rate(0.5)(() => texts.iterator.map(t => Analyzer.analyze(t, Analyzer.Tag.NoStem).size.toLong).sum)

  def decodeRate(blocks: Array[PostingBlock]): Double =
    if (blocks.isEmpty) 0d
    else rate(0.3) { () =>
      var n = 0L
      blocks.foreach { b =>
        Codec.decodeDeltas(b.docBytes, b.n)
        Codec.decodeTfs(b.tfBytes, b.n)
        n += b.n
      }
      n
    }
}

/** Write path: alternate a flat and a fielded build of one table into a
 * fresh directory. */
final class BuildWorkload(ctx: Ctx) extends Workload(ctx) {
  val kinds = ("flat_build", "fielded_build")
  override val stepsPerRound = 2
  val warmupSteps = 2
  private val convs = 1000L
  private val turns = convs * Inputs.TurnsPerConv
  private val corpus = dir("corpus")
  private var textBytes = 0L
  private var flatRatio = Double.NaN
  private var fieldedRatio = Double.NaN
  private var counts = Map.empty[String, Double]

  def prepare(): Unit = textBytes = generate(Inputs.writeCorpus(spark, corpus, convs, ctx.seed))

  def step(i: Int): Seq[Sample] = {
    val out = dir(s"op$i")
    try {
      if (i % 2 == 0) {
        val (idx, s) = timed(tr.op("op.flat_build")(flatBuild(corpus, out)))
        checkBuild(idx, out, turns)
        flatRatio = Inputs.treeBytes(out).toDouble / textBytes
        if (counts.isEmpty && tr.enabled) counts = flatCounters(idx, out, Nil)
        Seq(Sample(kinds._1, s))
      } else {
        val ((_, fb), s) = timed(tr.op("op.fielded_build")(fieldedBuild(corpus, out)))
        checkFielded(fb, turns)
        fieldedRatio = Inputs.treeBytes(out).toDouble / textBytes
        if (tr.enabled && !counts.contains("index.fblocks"))
          counts += "index.fblocks" -> fb.blocks.count().toDouble
        Seq(Sample(kinds._2, s))
      }
    } finally Inputs.deleteTree(out)
  }

  def indexBytesPerTextByte: Double = flatRatio

  override def indexS(p50: String => Double): Double = p50(kinds._1) + p50(kinds._2)

  def counters(): Map[String, Double] = counts

  def namedMetrics(p50: String => Double, tail: String => Double): Seq[(String, Double, String)] = Seq(
    ("build_turns_per_s", turns / p50(kinds._1), "turns/s"),
    ("fbuild_turns_per_s", turns / p50(kinds._2), "turns/s"),
    ("index_bytes_per_text_byte", flatRatio, "ratio"),
    ("findex_bytes_per_text_byte", fieldedRatio, "ratio"))
}

/** Read path: alternate flat and fielded Block-Max WAND runs of one topic
 * set (eight seeded sets, one per round in turn). Set-up writes the indexes
 * the way a deployment grows them: a bulk flat build of a base table, then
 * micro-batches appended through the streaming sink's entry point, so the
 * flat index searched is fragmented into one shard per batch; the fielded
 * index is built over the same turns. */
final class SearchWorkload(ctx: Ctx) extends Workload(ctx) {
  val kinds = ("flat_bmw", "fielded_bmw")
  override val stepsPerRound = 2
  val warmupSteps = 16
  private val baseConvs = 500L
  private val batchConvs = 125L
  private val batches = 2
  /** Round r (one flat and one fielded op) runs topic set r % 8. */
  private val sets = (0 until 8).map(k => Inputs.topics(ctx.seed * 8 + k, 24))
  private val corpus = dir("corpus")
  private val idxDir = dir("index")
  private var idx: IndexBuild.Index = _
  private var fidx: FieldedIndex.FIndex = _
  private var fb: FieldedBlocks.FBIndex = _
  private var ratio = Double.NaN
  private var lastFlat = (Seq.empty[Topic], Seq.empty[Checks.Ranked])
  private var lastFielded = (Seq.empty[Topic], Seq.empty[Checks.Ranked])

  def prepare(): Unit = {
    val textBytes = generate(Inputs.writeBatches(spark, corpus, baseConvs, batchConvs, batches, ctx.seed))
    val (_, s) = timed {
      flatBuild(s"$corpus/batch=0", idxDir)
      (1 to batches).foreach { b =>
        val before = append(s"$corpus/batch=$b", idxDir, b, "perfbench")
        idx = tr.span("index.load")(IndexBuild.load(spark, idxDir))
        checkGrown(idx, idxDir, b, (baseConvs + b * batchConvs) * Inputs.TurnsPerConv, before)
      }
      val f = fieldedBuild(corpus, dir("findex"))
      fidx = f._1
      fb = f._2
    }
    indexSeconds = s
    ratio = Inputs.treeBytes(idxDir).toDouble / textBytes.sum
  }

  def step(i: Int): Seq[Sample] = {
    val topics = sets(i / 2 % sets.size)
    if (i % 2 == 0) {
      val (rows, s) = timed(tr.op("op.flat_bmw")(bmw(idx, topics)))
      Checks.topK("flat BMW", rows, K)
      lastFlat = (topics, rows)
      Seq(Sample(kinds._1, s))
    } else {
      val (rows, s) = timed(tr.op("op.fielded_bmw") {
        Checks.ranked(tr.span("query.fbmw")(
          FieldedBlockMax.search(fb, topics, bm25, K, boosts = boosts).collect()))
      })
      Checks.topK("fielded BMW", rows, K)
      lastFielded = (topics, rows)
      Seq(Sample(kinds._2, s))
    }
  }

  override def finalCheck(): Unit = {
    val exact = Exact.search(idx.termDocs, idx.dict, idx.stats, lastFlat._1, bm25, K).collect()
    Checks.sameRanking("flat BMW vs Exact.search", lastFlat._2, Checks.ranked(exact))
    val fielded = Fielded.searchIndexed(fidx, lastFielded._1, bm25, K, boosts = boosts).collect()
    Checks.sameRanking("fielded BMW vs Fielded.searchIndexed", lastFielded._2, Checks.ranked(fielded))
  }

  def indexBytesPerTextByte: Double = ratio

  def counters(): Map[String, Double] =
    flatCounters(idx, idxDir, sets.head) + ("index.fblocks" -> fb.blocks.count().toDouble)

  def namedMetrics(p50: String => Double, tail: String => Double): Seq[(String, Double, String)] = Seq(
    ("search_p50_s", p50(kinds._1), "s"), ("search_tail_s", tail(kinds._1), "s"),
    ("fsearch_p50_s", p50(kinds._2), "s"), ("fsearch_tail_s", tail(kinds._2), "s"),
    ("index_bytes_per_text_byte", ratio, "ratio"))
}

/** Writes beside reads: equal micro-batches appended to a bulk-built base
 * index, each followed by a load and a flat BMW run on the grown index.
 * Every `cycle` batches the live index is reset to a copy of the base, so
 * the index a step sees does not depend on how fast earlier steps ran. */
final class IngestWorkload(ctx: Ctx) extends Workload(ctx) {
  val kinds = ("append_batch", "search_after_batch")
  val warmupSteps = 2
  private val cycle = 4
  private val baseConvs = 750L
  private val batchConvs = 125L
  private val topics = Inputs.topics(ctx.seed, 24)
  private val inputs = dir("inputs")
  private val base = dir("base")
  private val live = dir("live")
  private var textBytes = IndexedSeq.empty[Long]
  private var ratio = Double.NaN
  private var lastRows = Seq.empty[Checks.Ranked]
  private var lastIdx: IndexBuild.Index = _

  def prepare(): Unit = {
    textBytes = generate(Inputs.writeBatches(spark, inputs, baseConvs, batchConvs, cycle, ctx.seed))
    indexSeconds = timed(flatBuild(s"$inputs/batch=0", base))._2
  }

  def step(i: Int): Seq[Sample] = {
    val b = i % cycle + 1
    if (b == 1) { Inputs.deleteTree(live); Inputs.copyTree(base, live) }
    val (before, appendS) = timed(tr.op("op.append_batch") {
      append(s"$inputs/batch=$b", live, b, s"perfbench${i / cycle}")
    })
    val ((idx, rows), searchS) = timed(tr.op("op.search_after_batch") {
      val idx = tr.span("index.load")(IndexBuild.load(spark, live))
      (idx, bmw(idx, topics))
    })
    checkGrown(idx, live, b, (baseConvs + b * batchConvs) * Inputs.TurnsPerConv, before)
    Checks.topK("BMW after batch", rows, K)
    if (b == 1 && ratio.isNaN) ratio = Inputs.treeBytes(live).toDouble / (textBytes(0) + textBytes(1))
    lastRows = rows
    lastIdx = idx
    Seq(Sample(kinds._1, appendS), Sample(kinds._2, searchS))
  }

  override def finalCheck(): Unit = {
    val exact = Exact.search(lastIdx.termDocs, lastIdx.dict, lastIdx.stats, topics, bm25, K).collect()
    Checks.sameRanking("BMW on the grown index vs Exact.search", lastRows, Checks.ranked(exact))
  }

  def indexBytesPerTextByte: Double = ratio

  def counters(): Map[String, Double] = flatCounters(lastIdx, live, topics)

  def namedMetrics(p50: String => Double, tail: String => Double): Seq[(String, Double, String)] = Seq(
    ("ingest_batch_p50_s", p50(kinds._1), "s"), ("ingest_batch_tail_s", tail(kinds._1), "s"),
    ("search_p50_s", p50(kinds._2), "s"), ("search_tail_s", tail(kinds._2), "s"),
    ("index_bytes_per_text_byte", ratio, "ratio"))
}

/** The experiment loop over one index: exact search, evaluation against
 * corpus-derived qrels, query-performance prediction, the phi term
 * histogram and a parameter sweep, for a seeded subset of topics. */
final class AnalyzeWorkload(ctx: Ctx) extends Workload(ctx) {
  val kinds = ("experiment_pass", "sweep")
  val warmupSteps = 3
  private val convs = 500L
  private val subset = 5
  /** Pass i runs topic set i % 8; each set has the same shape. */
  private val sets = (0 until 8).map(k => Inputs.topics(ctx.seed * 8 + k, subset, 1 + k * subset))
  private val pool = sets.flatten
  private val models = Seq(bm25, Scoring.PL2c(5.0), Scoring.DirichletLM(1000.0))
  private val idxDir = dir("index")
  private var idx: IndexBuild.Index = _
  private var qrels = Seq.empty[Qrel]
  private var df = Map.empty[String, Long]
  private var ratio = Double.NaN

  def prepare(): Unit = {
    val corpus = dir("corpus")
    val textBytes = generate(Inputs.writeCorpus(spark, corpus, convs, ctx.seed))
    val (built, s) = timed(flatBuild(corpus, idxDir))
    idx = built
    indexSeconds = s
    ratio = Inputs.treeBytes(idxDir).toDouble / textBytes
    // qrels from the corpus: a hashed 1-in-8 sample of the docs holding a
    // topic term, graded by how many distinct topic terms they hold
    import spark.implicits._
    val qt = Exact.queryTerms(pool, Analyzer.Tag.NoStem).map(t => (t._1, t._2)).toDF("qid", "term")
    qrels = idx.termDocs.join(broadcast(qt), "term")
      .groupBy("qid", "docId").agg(count(lit(1)).cast("int").as("judge"))
      .filter(pmod(hash(col("docId"), lit(ctx.seed)), lit(8)) === 0)
      .as[Qrel].collect().toSeq
    df = idx.dict.filter(col("term").isin(qt.select("term").as[String].collect(): _*))
      .select("term", "df").as[(String, Long)].collect().toMap
  }

  def step(i: Int): Seq[Sample] = {
    import spark.implicits._
    val topics = sets(i % 8)
    val terms = Exact.queryTerms(topics, Analyzer.Tag.NoStem).map(_._2).distinct
    val qids = topics.map(_.qid).toSet
    val ((exact, means, qpp, phi, sweep), passS) = timed(tr.op("op.experiment_pass") {
      val exact = Checks.ranked(tr.span("query.exact") {
        Exact.search(idx.termDocs, idx.dict, idx.stats, topics, bm25, K).collect()
      })
      val means = tr.span("eval.metrics") {
        val runs = exact.toDF()
        Metrics.means(Metrics.perQuery(runs, qrels.filter(q => qids(q.qid)).toDF())).collect()
      }
      val qpp = tr.span("stats.qpp") {
        Qpp.aggregate(Qpp.perTerm(spark, topics, idx.dict, idx.stats), "idf").collect()
      }
      val phi = tr.span("stats.phi")(Histograms.phi(idx.termDocs, idx.dict, idx.stats, terms, 10).collect())
      val sweep = timed(tr.span("train.sweep") {
        ParamTrain.sweepRuns(idx.termDocs, idx.dict, idx.stats, topics, models, K).collect()
      })
      (exact, means, qpp, phi, sweep)
    })
    Checks.topK("Exact.search", exact, K)
    means.head.toSeq.foreach { v =>
      val d = v.asInstanceOf[Number].doubleValue
      Checks.require(d >= 0d && d <= 1d, s"mean metric $d outside [0, 1] in ${means.head}")
    }
    Checks.require(qpp.length <= topics.size && qpp.forall(r => r.getAs[Double]("avg").isFinite),
      s"QPP aggregate rows ${qpp.toSeq}")
    phi.groupBy(_.getAs[String]("term")).foreach { case (t, rs) =>
      val n = rs.map(_.getAs[Long]("cnt")).sum
      Checks.require(df.get(t).contains(n), s"phi bins of $t count $n docs, df is ${df.get(t)}")
    }
    val byModel = sweep._1.groupBy(_.getAs[String]("model"))
    Checks.require(byModel.keySet == models.map(_.name).toSet, s"sweep models ${byModel.keySet}")
    byModel.foreach { case (m, rs) =>
      val asRanked = rs.toSeq.map(r => Checks.Ranked(r.getAs[Int]("qid"), r.getAs[String]("docId"),
        r.getAs[Int]("rank"), r.getAs[Double]("score").toFloat))
      Checks.topK(s"sweep $m", asRanked, K)
      if (m == bm25.name) Checks.sameRanking("sweep BM25 vs Exact.search", asRanked, exact)
    }
    Seq(Sample(kinds._1, passS), Sample(kinds._2, sweep._2))
  }

  def indexBytesPerTextByte: Double = ratio

  def counters(): Map[String, Double] = flatCounters(idx, idxDir, pool)

  def namedMetrics(p50: String => Double, tail: String => Double): Seq[(String, Double, String)] = Seq(
    ("experiment_p50_s", p50(kinds._1), "s"), ("experiment_tail_s", tail(kinds._1), "s"),
    ("index_bytes_per_text_byte", ratio, "ratio"))
}
