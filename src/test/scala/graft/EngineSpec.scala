package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.data.Transcripts
import graft.index.{Dictionary, IndexBuild, Tokenize}
import graft.model.{Topic, Turn}
import graft.query.{BlockMaxWand, Exact, Scoring}
import graft.stats.Histograms
import graft.train.ParamTrain

/**
 * End-to-end engine invariants (SURVEY.md §5.2): rank-identity against the
 * reference-semantics oracle, BMW ≡ exact path, text-equality, resume.
 */
class EngineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val NUM_CONVS = 150
  private val TURNS = 6
  private lazy val turns = Transcripts.generate(spark, NUM_CONVS, TURNS, seed = 42L, partitions = 4)
  private lazy val turnsLocal: Seq[Turn] =
    (0L until NUM_CONVS).flatMap(ci => (0 until TURNS).map(ti => Transcripts.turnOf(ci, ti, 42L)))

  private val topics = Seq(
    Topic(1, "w0 w3"),              // hot Zipf terms
    Topic(2, "needle0 needle7"),    // planted rare terms
    Topic(3, "w1 w1 w1"),           // duplicate-term multiplicity
    Topic(4, "qqqmissing"),         // zero-hit → sentinel
    Topic(5, "w0 needle3 w42"),     // mixed hot/rare
    Topic(6, "w10 w100 w500 w1500"))
  private val SENT = "sentinel#0"
  private val K = 50
  private val model = Scoring.BM25c(0.9, 0.4)

  private lazy val indexDir = {
    val dir = Files.createTempDirectory("graft-idx").toString
    IndexBuild.build(turns, dir, docsPerShard = 100) // 900 docs → 9 shards
    dir
  }
  private lazy val index = IndexBuild.load(spark, indexDir)

  test("utf8CmpStatic: UTF-8 binary order, diverging from String.compareTo on supplementary chars") {
    // ADVICE r05: U+E000 (UTF-8 EE 80 80) vs U+10000 (surrogate pair, UTF-8
    // F0 90 80 80) — UTF-16 code units order them one way, UTF-8 bytes the
    // other; the validation must follow DenseIds' UTF-8 binary order
    val e000 = "\uE000"
    val u10000 = new String(Character.toChars(0x10000))
    assert(e000.compareTo(u10000) > 0)                 // Java: E000 above surrogates
    assert(IndexBuild.utf8CmpStatic(e000, u10000) < 0) // UTF-8: below
    assert(IndexBuild.utf8CmpStatic("abc", "abd") < 0)    // ASCII fast path ≡ compareTo
    assert(IndexBuild.utf8CmpStatic("abc", "abc") == 0)
    assert(IndexBuild.utf8CmpStatic("abcd", "abc") > 0)
  }

  test("per-turn text-equality invariant under stable (conv_id, turn_idx) order") {
    val dir = Files.createTempDirectory("graft-turns").toString
    turns.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
      .orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "text")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    val expected = turnsLocal.sortBy(t => (t.conv_id, t.turn_idx))
      .map(t => (t.conv_id, t.turn_idx, t.text))
    assert(back.toSeq == expected)
  }

  test("exact path is rank-identical to the in-memory reference oracle") {
    val td = Tokenize.termDocs(turns)
    val dict = Dictionary.termStats(td)
    val stats = Tokenize.corpusStats(Tokenize.docs(turns))
    val got = Exact.search(td, dict, stats, topics, model, K, sentinelDocId = Some(SENT))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val want = Oracle.topk(turnsLocal, topics, model, K, SENT).sortBy(t => (t._1, t._3))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"got $g want $w") }
  }

  test("Block-Max WAND ≡ exact path (docIds and float scores)") {
    val got = BlockMaxWand.search(index, topics, model, K, sentinelDocId = Some(SENT))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val want = Oracle.topk(turnsLocal, topics, model, K, SENT).sortBy(t => (t._1, t._3))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"got $g want $w") }
    // cross-engine rounded-double mode: identity per-term map, half-up finish
    val gotR = BlockMaxWand.search(index, topics, model, K, sentinelDocId = Some(SENT),
        roundedDouble = Some(4))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
    val td = Tokenize.termDocs(turns)
    val wantR = Exact.search(td, Dictionary.termStats(td),
        Tokenize.corpusStats(Tokenize.docs(turns)), topics, model, K,
        sentinelDocId = Some(SENT), roundedDouble = Some(4))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
    assert(gotR == wantR, s"rounded mode diverged:\n  missing=${wantR -- gotR}\n  extra=${gotR -- wantR}")
  }

  test("BMW ≡ exact for a parameter-free model (DirichletLM)") {
    val m = Scoring.DirichletLM()
    val got = BlockMaxWand.search(index, topics, m, K, sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val want = Oracle.topk(turnsLocal, topics, m, K, SENT).sortBy(t => (t._1, t._3))
    assert(got.toSeq == want)
  }

  test("BMW ≡ oracle for every block-max-eligible stock-grid cell (57 models)") {
    val eligible = graft.query.StockLucene.grid.filter(_.ubSafe)
    // 36 DFR (In/Ine/IF x gains x H1/H2/Z/0) + 16 IB + Classic + BM25 + 3 LM
    assert(eligible.size == 57)
    eligible.foreach { m =>
      val got = BlockMaxWand.search(index, topics, m, K, sentinelDocId = Some(SENT))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
        .sortBy(t => (t._1, t._3))
      val want = Oracle.topk(turnsLocal, topics, m, K, SENT).sortBy(t => (t._1, t._3))
      assert(got.toSeq == want, s"BMW diverged from oracle for ${m.name}")
    }
  }

  test("BMW substitutes per-query MATF length (BMW ≡ exact for MATF, multi-term)") {
    // MATF's scalar score() reads the instance queryLength; the exact path
    // reads In.qLen per row — BMW must swap in MATF(Σ mult) per qid or the
    // two paths diverge on every multi-term query.
    val m = Scoring.MATF()
    val got = BlockMaxWand.search(index, topics, m, K, sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val td = Tokenize.termDocs(turns)
    val want = Exact.search(td, Dictionary.termStats(td),
        Tokenize.corpusStats(Tokenize.docs(turns)), topics, m, K,
        sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    assert(got.toSeq == want.toSeq)
    // and against the independent oracle, per topic with the true |q|
    topics.foreach { t =>
      val qLen = graft.analysis.Analyzer.analyzeQuery(t.query, Analyzer.Tag.NoStem).size
      val o = Oracle.topk(turnsLocal, Seq(t), Scoring.MATF(math.max(qLen, 1)), K, SENT)
        .sortBy(x => (x._1, x._3))
      assert(got.filter(_._1 == t.qid).toSeq == o, s"qid ${t.qid}")
    }
  }

  test("BMW ≡ exact under the Snowball stemming tag (fresh stemmed index)") {
    val tag = Analyzer.Tag.Snowball
    val dir = Files.createTempDirectory("graft-idx-stem").toString
    IndexBuild.build(turns, dir, tag, docsPerShard = 100)
    val idx = IndexBuild.load(spark, dir)
    // stemmed topics: inflected forms must hit the stemmed index
    val stemTopics = topics :+ Topic(7, "needles running") // needle0? no — stems
    val got = BlockMaxWand.search(idx, stemTopics, model, K, tag, sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val td = Tokenize.termDocs(turns, tag)
    val want = Exact.search(td, Dictionary.termStats(td),
        Tokenize.corpusStats(Tokenize.docs(turns, tag)), stemTopics, model, K, tag,
        sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"got $g want $w") }
  }

  test("BMW ≡ exact under the KStem tag (fresh kstem index)") {
    val tag = Analyzer.Tag.KStem
    val dir = Files.createTempDirectory("graft-idx-kstem").toString
    IndexBuild.build(turns, dir, tag, docsPerShard = 100)
    val idx = IndexBuild.load(spark, dir)
    val stemTopics = topics :+ Topic(7, "needles running")
    val got = BlockMaxWand.search(idx, stemTopics, model, K, tag, sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val td = Tokenize.termDocs(turns, tag)
    val want = Exact.search(td, Dictionary.termStats(td),
        Tokenize.corpusStats(Tokenize.docs(turns, tag)), stemTopics, model, K, tag,
        sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"got $g want $w") }
  }

  test("BMW refuses non-monotone models (block bounds would be unsound)") {
    Seq(Scoring.DPH, Scoring.DLH13, Scoring.DFRee, Scoring.PL2c()).foreach { m =>
      assert(!m.ubSafe)
      intercept[IllegalArgumentException] {
        BlockMaxWand.search(index, topics, m, K)
      }
    }
    // the same queries run fine on the exact path
    val td = Tokenize.termDocs(turns)
    val r = Exact.search(td, Dictionary.termStats(td),
      Tokenize.corpusStats(Tokenize.docs(turns)), topics, Scoring.DPH, K)
    assert(r.count() > 0)
  }

  test("decoded blocks reproduce the posting source exactly") {
    val viaBlocks = index.termDocs
      .select("docId", "docLen", "term", "tf")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    val direct = Tokenize.termDocs(turns)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    assert(viaBlocks.toSeq == direct.toSeq)
    // term-restricted: the predicate is applied below the decode, rows unchanged
    val terms = Seq("w0", "needle3", "w42", "qqqmissing")
    val restricted = Exact.postingsFor(index.termDocs, terms)
      .select("docId", "docLen", "term", "tf")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    val want = direct.filter(t => terms.contains(t._3))
    assert(want.nonEmpty && want.length < direct.length)
    assert(restricted.toSeq == want.toSeq)
  }

  /** Whether `e` is an `In`/`InSet` predicate on a `term` column (the
   * optimizer turns long `In` lists into `InSet`). */
  private def isTermIn(e: Expression): Boolean = e.exists {
    case In(a: AttributeReference, _)    => a.name == "term"
    case InSet(a: AttributeReference, _) => a.name == "term"
    case _                               => false
  }

  test("exact search over blocks filters on the query terms below the decode") {
    val ranked = Exact.search(index.termDocs, index.dict, index.stats, topics, model, K,
      sentinelDocId = Some(SENT))
    val plan = ranked.queryExecution.optimizedPlan
    val decodes = plan.collect { case g: Generate => g }
    assert(decodes.nonEmpty, s"block decode is not a Generate:\n$plan")
    decodes.foreach { g =>
      val below = g.child.collect { case f: Filter if isTermIn(f.condition) => f }
      assert(below.nonEmpty, s"no term filter below the decode:\n$plan")
    }
    // …and it reaches the postings scan as a pushed parquet filter
    val physical = ranked.queryExecution.sparkPlan
    val scans = physical.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains("postings")) => s
    }
    assert(scans.nonEmpty && scans.forall(_.dataFilters.exists(isTermIn)),
      s"postings scan without a term filter:\n$physical")
  }

  test("exact search, sweep and phi over blocks ≡ over the posting source") {
    val td = Tokenize.termDocs(turns)
    val dict = Dictionary.termStats(td)
    val stats = Tokenize.corpusStats(Tokenize.docs(turns))
    assert(stats == index.stats)
    // topic 4's terms are all absent from the corpus; topic 7 analyzes to no terms
    val ts = topics :+ Topic(7, "?! ...")
    def ranking(termDocs: DataFrame, d: DataFrame, t: Seq[Topic]) =
      Exact.search(termDocs, d, stats, t, model, K, sentinelDocId = Some(SENT))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3))).toSet
    val viaBlocks = ranking(index.termDocs, index.dict, ts)
    assert(viaBlocks == ranking(td, dict, ts))
    assert(viaBlocks.filter(r => r._1 == 4 || r._1 == 7) == Set((4, SENT, 1, 0.0f), (7, SENT, 1, 0.0f)))
    // an empty term list: only the sentinel row
    assert(Exact.termsOf(Seq(Topic(7, "?! ...")), Analyzer.Tag.NoStem).isEmpty)
    assert(ranking(index.termDocs, index.dict, Seq(Topic(7, "?! ..."))) == Set((7, SENT, 1, 0.0f)))

    val models = Seq(model, Scoring.PL2c(2.0), Scoring.DirichletLM())
    def sweep(termDocs: DataFrame, d: DataFrame) =
      ParamTrain.sweepRuns(termDocs, d, stats, ts, models, K)
        .select("model", "qid", "docId", "rank", "score")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3), r.getDouble(4))).toSet
    val sweepBlocks = sweep(index.termDocs, index.dict)
    assert(sweepBlocks.map(_._1) == models.map(_.name).toSet)
    assert(sweepBlocks == sweep(td, dict))

    val terms = Seq("w0", "w3", "needle7", "w500", "qqqmissing")
    def phi(termDocs: DataFrame, d: DataFrame) =
      Histograms.phi(termDocs, d, stats, terms, 10)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val binsBlocks = phi(index.termDocs, index.dict)
    assert(binsBlocks.map(_._1) == terms.toSet - "qqqmissing")
    assert(binsBlocks == phi(td, dict))
  }

  test("corpus stats match hand computation") {
    val st = index.stats
    val toks = turnsLocal.map(t => Analyzer.analyze(t.text).size.toLong)
    assert(st.numDocs == turnsLocal.size)
    assert(st.numTokens == toks.sum)
  }

  test("kill-resume: injected failure, restart skips completed shards, identical tables") {
    val dirA = Files.createTempDirectory("graft-resume").toString
    intercept[IndexBuild.InjectedFailure] {
      IndexBuild.build(turns, dirA, docsPerShard = 100, waves = 3, failAfterWave = 0)
    }
    val afterCrash = IndexBuild.completedShards(spark, s"$dirA/postings")
    assert(afterCrash.nonEmpty && afterCrash.size < 9, s"wave 0 of 3 should leave a strict subset, got $afterCrash")

    // resume: completes only the remainder
    IndexBuild.build(turns, dirA, docsPerShard = 100, waves = 3)
    assert(IndexBuild.completedShards(spark, s"$dirA/postings").size == 9)

    def fp(dir: String) = IndexBuild.load(spark, dir).termDocs
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).sorted
    assert(fp(dirA).toSeq == fp(indexDir).toSeq)

    // manifest carries per-shard lineage + metrics
    val manifest = spark.read.parquet(s"$dirA/manifest")
    assert(manifest.select("shard").distinct().count() == 9)
    assert(manifest.columns.toSet ==
      Set("shard", "nBlocks", "nPostings", "nTerms", "sumMaxTf", "wave", "wallMs"))
  }

  test("wave-scoped input pruning: waves read only partitions covering their shards") {
    import spark.implicits._
    // keep-set math, incl. a shard-boundary-straddling partition
    val bounds = Array((0, 0L, 99L), (1, 100L, 199L), (2, 200L, 299L), (3, 300L, 399L))
    assert(IndexBuild.partitionsForShards(bounds, Set(0), 100L) == Set(0))
    assert(IndexBuild.partitionsForShards(bounds, Set(1, 2), 100L) == Set(1, 2))
    val straddle = Array((0, 0L, 149L), (1, 150L, 399L))
    assert(IndexBuild.partitionsForShards(straddle, Set(1), 100L) == Set(0, 1))
    assert(IndexBuild.partitionsForShards(straddle, Set(3), 100L) == Set(1))

    // the pruned-RDD build path really skips partitions: 4 sorted partitions
    // of 100 docs each; pruning to shards {2,3} must touch 2 RDD partitions
    // and reproduce exactly those shards' postings
    val sorted = Transcripts.generate(spark, 400, 1, seed = 9L, partitions = 4)
    val withId = graft.index.DenseIds.assign(
      sorted.toDF().select(
        concat(col("conv_id"), lit("#"), col("turn_idx").cast("string")).as("docId"),
        col("text")),
      "docIdNum", col("docId"))
    val baseRdd = withId.select("docIdNum", "text").as[(Long, String)].rdd
    val pb = withId.groupBy(spark_partition_id().as("pid"))
      .agg(min("docIdNum").as("mn"), max("docIdNum").as("mx"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val keep = IndexBuild.partitionsForShards(pb, Set(2, 3), 100L)
    val pruned = org.apache.spark.rdd.PartitionPruningRDD.create(baseRdd, keep.contains)
    assert(pruned.partitions.length == 2,
      s"expected 2 surviving partitions, got ${pruned.partitions.length}")
    val prunedBlocks = graft.index.PostingsBuilder
      .buildSegmentsRdd(spark, pruned, Analyzer.Tag.NoStem, 100L,
        shardFilter = Set(2, 3).contains)
      .collect()
    val fullBlocks = graft.index.PostingsBuilder
      .buildSegments(withId, Analyzer.Tag.NoStem, 100L, shardFilter = Set(2, 3).contains)
      .collect()
    def key(b: graft.model.PostingBlock) = (b.shard, b.term, b.blockNo, b.n, b.minDoc, b.maxDoc)
    assert(prunedBlocks.map(key).sorted.toSeq == fullBlocks.map(key).sorted.toSeq)
  }

  test("zero-shuffle sorted build (inputSorted=true) produces an identical index") {
    val dir = Files.createTempDirectory("graft-sorted").toString
    IndexBuild.build(turns, dir, docsPerShard = 100, inputSorted = true)
    def fp(d: String) = IndexBuild.load(spark, d).termDocs
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).sorted.toSeq
    assert(fp(dir) == fp(indexDir))
    // and BMW over the sorted-build index stays rank-identical to the oracle
    val got = BlockMaxWand.search(IndexBuild.load(spark, dir), topics, model, K,
        sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val want = Oracle.topk(turnsLocal, topics, model, K, SENT).sortBy(t => (t._1, t._3))
    assert(got.toSeq == want)
  }

  test("sorted build survives partitions arriving out of key order (file-scan split packing)") {
    import spark.implicits._
    // a sorted lake table read back through a file scan presents its
    // disjoint sorted ranges in size-packed (arbitrary) task order —
    // simulate by permuting the 4 generator partitions
    val base = turns.rdd
    val perm = Seq(2, 0, 3, 1)
    val shuffledParts = spark.sparkContext.union(
      perm.map(p => org.apache.spark.rdd.PartitionPruningRDD.create(base, _ == p)))
    val permuted = spark.createDataset(shuffledParts)
    val dir = Files.createTempDirectory("graft-permuted").toString
    IndexBuild.build(permuted, dir, docsPerShard = 100, inputSorted = true)
    def fp(d: String) = IndexBuild.load(spark, d).termDocs
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).sorted.toSeq
    assert(fp(dir) == fp(indexDir))
    // overlapping ranges must still be rejected: partition 0 twice overlaps
    val overlapping = spark.createDataset(spark.sparkContext.union(
      Seq(0, 0).map(p => org.apache.spark.rdd.PartitionPruningRDD.create(base, _ == p))))
    val dir2 = Files.createTempDirectory("graft-overlap").toString
    val e = intercept[IllegalArgumentException] {
      IndexBuild.build(overlapping, dir2, docsPerShard = 100, inputSorted = true)
    }
    assert(e.getMessage.contains("overlaps"))
  }

  test("hot-term skew: a 90%-df stopword spreads evenly across shards (FIXTURES.md §6)") {
    import spark.implicits._
    // corpus where 'hotstop' appears in 90% of turns
    val skewed = spark.range(0, 600, 1, 4).as[Long].map { i =>
      val base = Transcripts.turnOf(i, 0, 7L)
      if (i % 10 != 0) base.copy(text = base.text + " hotstop hotstop") else base
    }
    val dir = Files.createTempDirectory("graft-skew").toString
    val idx = IndexBuild.build(skewed, dir, docsPerShard = 100) // 6 shards
    val perShard = idx.blocks.filter(col("term") === "hotstop")
      .groupBy("shard").agg(sum("n").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perShard.size == 6, s"stopword postings must appear in every shard: $perShard")
    val counts = perShard.values
    assert(counts.max <= counts.min * 2,
      s"doc-range sharding should balance the hot term, got $perShard")
    // and retrieval over the skewed corpus still matches the oracle
    val skewedLocal = (0L until 600L).map { i =>
      val base = Transcripts.turnOf(i, 0, 7L)
      if (i % 10 != 0) base.copy(text = base.text + " hotstop hotstop") else base
    }
    val t = Seq(Topic(1, "hotstop w0"))
    val got = BlockMaxWand.search(idx, t, model, 20)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(_._3)
    val want = Oracle.topk(skewedLocal, t, model, 20, SENT).sortBy(_._3)
    assert(got.toSeq == want)
  }

  test("TF histogram (Spark column math) == scalar Scala loop") {
    val bins = 10
    val terms = Seq("w0", "w5", "needle0")
    val td = Tokenize.termDocs(turns).filter(col("term").isin(terms: _*))
    val v = floor(col("tf").cast("double") / col("docLen").cast("double") * bins)
    val got = td.withColumn("bin", when(v === bins, v).otherwise(v + 1).cast("int"))
      .groupBy("term", "bin").count()
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap

    val want = scala.collection.mutable.Map.empty[(String, Int), Long]
    turnsLocal.foreach { t =>
      val toks = Analyzer.analyze(t.text)
      val dl = toks.size.toDouble
      toks.groupBy(identity).foreach { case (w, o) =>
        if (terms.contains(w)) {
          val pct = o.size / dl
          val vv = (pct * bins).toInt
          val bin = if (vv == bins) vv else vv + 1
          want((w, bin)) = want.getOrElse((w, bin), 0L) + 1
        }
      }
    }
    assert(got == want.toMap)
  }
}
