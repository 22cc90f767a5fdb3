package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.model.{CorpusStats, DocEntry, PostingBlock, Turn}

/**
 * Resumable index build (SURVEY.md §7.2/§7.5, north rule: "resumable from
 * checkpoint with per-partition lineage + metrics").
 *
 * On-disk layout under `indexDir/` — the one contract shared with
 * [[graft.streaming.Streams.appendBatch]], which grows the same directory:
 * {{{
 *   docs/           docId, docIdNum, docLen     (+ _SUCCESS)
 *   postings/       shard=K/ *.parquet  PostingBlock rows, partitioned by shard
 *   dicts/v=N/      term, termId, df, cf — immutable dictionary snapshots,
 *                   derived from block metadata (no extra corpus pass)
 *   manifest/       per-shard lineage + metrics rows, appended per wave
 *   _dict_version   N of the current snapshot (see [[dictPath]])
 *   _hwm            highest docIdNum numbered so far (the next append
 *                   starts at the shard boundary past it)
 * }}}
 *
 * Stage pipeline (each stage skipped when already committed):
 *  1. `docs` — one tokenize pass for (docId, docIdNum, docLen).
 *  2. `postings` — the fused segment build ([[PostingsBuilder.buildSegments]]):
 *     tokenize + in-memory inversion + block compression in ONE
 *     mapPartitions, zero shuffles on sorted input. Checkpointed at *shard*
 *     granularity: shards are written in waves; a restart lists committed
 *     shards on disk and plans only the remainder (§5.5 kill-resume).
 *     Each wave appends manifest rows
 *     `(shard, wave, nBlocks, nPostings, nTerms, sumMaxTf, wallMs)`.
 *  3. `dict` — (term, df, cf) aggregated from block metadata (`n`, `sumTf`)
 *     + dense term-ordered termIds, written as the next snapshot whenever
 *     this call committed posting shards or no snapshot exists yet.
 *
 * Reference analog: `Indexer.indexWithThreads`
 * (`/root/reference/src/main/java/edu/anadolu/Indexer.java:567-654`) —
 * file-level tasks → RAM-buffered segment build; here partition-level tasks
 * → per-shard block files, with the merge made unnecessary by disjoint
 * doc-range sharding.
 */
object IndexBuild {

  final case class Index(docs: DataFrame, dict: DataFrame,
                         blocks: Dataset[PostingBlock], stats: CorpusStats) {
    /** Denormalized exact-path posting source (docId string key). A `term`
     * filter on it is pushed below the block decode to the postings scan;
     * the docs table is still read whole on every call. */
    def termDocs: DataFrame =
      PostingsBuilder.decodeBlocks(blocks)
        .join(docs.select("docIdNum", "docId"), "docIdNum")
        .select("docId", "docLen", "term", "tf")
  }

  private[graft] def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def exists(spark: SparkSession, p: String): Boolean =
    fs(spark, p).exists(new Path(p))

  def stageDone(spark: SparkSession, stageDir: String): Boolean =
    exists(spark, s"$stageDir/_SUCCESS")

  /** Trimmed UTF-8 body of a marker file, if present. */
  private[graft] def readSmallFile(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val f = fs(spark, path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val b = new java.io.ByteArrayOutputStream()
      try { var c = in.read(); while (c >= 0) { b.write(c); c = in.read() } } finally in.close()
      Some(b.toString("UTF-8").trim)
    }
  }

  private[graft] def writeSmallFile(spark: SparkSession, path: String, body: String = ""): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    out.write(body.getBytes("UTF-8")); out.close()
  }

  /** The docId string key of a turn: `conv_id#turn_idx`. */
  private[graft] def docIdCol = concat(col("conv_id"), lit("#"), col("turn_idx").cast("string")).as("docId")

  /** Writes the (docId, docIdNum, docLen) rows of a numbered
   * (docId, docIdNum, text) frame to `docsDir`. */
  private[graft] def writeDocs(withId: DataFrame, tag: Analyzer.Tag, docsDir: String,
                               mode: String): Unit = {
    import withId.sparkSession.implicits._
    withId.select("docId", "docIdNum", "text").as[(String, Long, String)]
      .mapPartitions(_.map { case (docId, num, text) =>
        val dl =
          if (tag == Analyzer.Tag.NoStem) Analyzer.countTokens(text).toLong
          else Analyzer.analyze(text, tag).size.toLong
        DocEntry(docId, num, dl)
      })
      .write.mode(mode).parquet(docsDir)
  }

  /** Number of the current dictionary snapshot; 0 before the first one. */
  private[graft] def dictVersion(spark: SparkSession, indexDir: String): Long =
    readSmallFile(spark, s"$indexDir/_dict_version").fold(0L)(_.toLong)

  /** Writes `termStats` (term, df, cf) as snapshot `dicts/v=ver`, then
   * points `_dict_version` at it — readers never see a partial snapshot. */
  private[graft] def commitDict(spark: SparkSession, indexDir: String,
                                termStats: DataFrame, ver: Long): Unit = {
    Dictionary.withIds(termStats).write.mode("overwrite").parquet(s"$indexDir/dicts/v=$ver")
    writeSmallFile(spark, s"$indexDir/_dict_version", ver.toString)
  }

  /** Shards already fully written (present on disk = committed by a
   * successful wave job; Spark commits partition dirs atomically per job).
   * Every shard in [0, numShards) holds at least one doc: batch builds
   * number densely, and streaming batches start at the immediately next
   * shard boundary — id ranges are contiguous at shard granularity. */
  def completedShards(spark: SparkSession, postingsDir: String): Set[Int] = {
    val f = fs(spark, postingsDir)
    val p = new Path(postingsDir)
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("shard="))
      .map(_.stripPrefix("shard=").toInt)
      .toSet
  }

  /** Deliberate mid-build crash for the kill-resume test. */
  final class InjectedFailure(wave: Int) extends RuntimeException(s"injected failure after wave $wave")

  /** Byte-wise UTF-8 comparison (ADVICE r05): DenseIds numbers partitions
   * in Spark's UTF8-BINARY min-key order, so the inputSorted validation
   * must compare docIds over UTF-8 BYTES — Java's String.compareTo orders
   * by UTF-16 code units, which diverges for supplementary characters
   * (surrogates sort above U+E000..U+FFFF in UTF-8 binary order but below
   * them in UTF-16). ASCII-only docIds are unaffected; this closes the
   * latent hazard. */
  private[graft] def utf8CmpStatic(a: String, b: String): Int = {
    // fast path: the two collations only diverge when a supplementary
    // character (UTF-16 surrogate pair) meets a BMP char ≥ U+E000; when
    // neither string holds a surrogate, String.compareTo IS the UTF-8 byte
    // order — and the validation calls this per row, so the common (ASCII)
    // case must not allocate
    var i = 0
    var surrogate = false
    while (i < a.length && !surrogate) { if (a.charAt(i) >= 0xD800) surrogate = true; i += 1 }
    i = 0
    while (i < b.length && !surrogate) { if (b.charAt(i) >= 0xD800) surrogate = true; i += 1 }
    if (!surrogate) return a.compareTo(b)
    val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    i = 0
    val n = math.min(ab.length, bb.length)
    while (i < n) {
      val c = (ab(i) & 0xFF) - (bb(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    ab.length - bb.length
  }

  /** Input partitions whose [min, max] docIdNum range intersects any wanted
   * shard (shard = docIdNum / docsPerShard) — the wave-pruning keep set. */
  private[graft] def partitionsForShards(bounds: Array[(Int, Long, Long)],
                                         wanted: Set[Int],
                                         docsPerShard: Long): Set[Int] =
    bounds.filter { case (_, mn, mx) =>
      val lo = (mn / docsPerShard).toInt
      val hi = (mx / docsPerShard).toInt
      wanted.exists(s => s >= lo && s <= hi)
    }.map(_._1).toSet

  /**
   * Build (or resume) the full index.
   *
   * @param docsPerShard documents per posting shard (doc-range partitioning;
   *   also the segment-flush granularity bounding task memory)
   * @param waves number of atomic write jobs the remaining shards are split
   *   into (1 = single job; >1 exercises finer checkpoints)
   * @param failAfterWave fault injection: throw after this wave commits
   * @param inputSorted the turns table is already cluster-sorted by the
   *   stable turn ordering with docId-string-ordered partitions (true for
   *   the generator / a sorted lake table) — the build then runs with ZERO
   *   full-data shuffles
   */
  def build(turns: Dataset[Turn], indexDir: String,
            tag: Analyzer.Tag = Analyzer.Tag.NoStem,
            docsPerShard: Long = 1 << 20,
            waves: Int = 1,
            failAfterWave: Int = -1,
            inputSorted: Boolean = false): Index = {
    val spark = turns.sparkSession
    // Resume safety: completedShards treats an on-disk shard=K dir as
    // committed, which is only true under job-level commit — pin the v1
    // committer so partition dirs surface at job commit, never mid-wave.
    spark.sparkContext.hadoopConfiguration
      .setInt("mapreduce.fileoutputcommitter.algorithm.version", 1)
    val docsDir = s"$indexDir/docs"
    val postingsDir = s"$indexDir/postings"
    val manifestDir = s"$indexDir/manifest"

    // inputSorted trusts in-partition order AS docId-string order — the
    // engine's canonical tie-break order (exact path, BMW heap, windows).
    // Validate it with one narrow pass (docId column only): per-partition
    // strict monotonicity + DISJOINT ranges across partitions, checked in
    // key order rather than partition-index order (a file scan of a sorted
    // lake table packs splits by size, so the sorted ranges arrive in
    // arbitrary task order — DenseIds numbers them in min-key order). A
    // numeric (conv_id, turn_idx) sort with turn_idx ≥ 10 would fail here
    // ("c#10" sorts before "c#2" numerically but after as a string).
    val docsWasDone = stageDone(spark, docsDir)
    if (inputSorted && !docsWasDone) {
      val bounds = turns.toDF().select(docIdCol)
        .rdd.mapPartitionsWithIndex { (pi, it) =>
          var first: String = null; var last: String = null; var sorted = true
          it.foreach { r =>
            val d = r.getString(0)
            if (first == null) first = d
            else if (utf8CmpStatic(d, last) <= 0) sorted = false
            last = d
          }
          if (first == null) Iterator.empty else Iterator((pi, first, last, sorted))
        }.collect()
        .sortWith((x, y) => { val c = utf8CmpStatic(x._2, y._2); c < 0 || (c == 0 && x._1 < y._1) })
      bounds.foreach { case (pi, _, _, sorted) =>
        require(sorted, s"inputSorted=true but partition $pi is not strictly sorted by docId string") }
      bounds.sliding(2).foreach {
        case Array((_, _, lastA, _), (pi, firstB, _, _)) =>
          require(utf8CmpStatic(lastA, firstB) < 0,
            s"inputSorted=true but partition $pi's range [$firstB, …] overlaps a sibling ending at '$lastA'")
        case _ =>
      }
    }

    // DenseIds persists its post-shuffle frame internally for unsorted
    // input, so every pass below pays the range shuffle at most once.
    //
    // RESUME CONSISTENCY: once the docs stage is committed, its
    // docId→docIdNum mapping is the durable numbering of record. A restart
    // must NOT re-run DenseIds — repartitionByRange re-samples partition
    // boundaries (non-deterministic across JVMs), so a recomputed numbering
    // could disagree with the one inside already-committed posting shards.
    // Instead, join the committed mapping back onto the input and restore
    // the shard-build invariant (docIdNum ascending within partitions) with
    // a range shuffle on the now-FIXED numeric ids.
    lazy val freshAssigned = DenseIds.assignCounted(
      turns.toDF().select(docIdCol, col("text")),
      "docIdNum", assumeSorted = inputSorted, col("docId"))
    lazy val turnsWithId: DataFrame =
      if (docsWasDone) {
        val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
        turns.toDF().select(docIdCol, col("text"))
          .join(spark.read.parquet(docsDir).select("docId", "docIdNum"), "docId")
          .repartitionByRange(parts, col("docIdNum"))
          .sortWithinPartitions("docIdNum")
      } else freshAssigned._1

    // -- stage 1: docs (docId, docIdNum, docLen), one zero-alloc count pass.
    // Round 6 (optimization guide §2.6): on a FRESH build the docs write is
    // independent of the postings waves (both scan turnsWithId), and the
    // shard space is already known from the numbering's own count pass
    // (dense ids ⇒ max id = n − 1) — so the docs job runs on its own
    // thread and the postings waves back-fill the scheduler alongside it.
    // The resume path keeps the sequential read of the committed docs.
    @volatile var docsFailure: Throwable = null
    val docsThread: Option[Thread] =
      if (docsWasDone) None
      else {
        val work: Runnable = () =>
          try writeDocs(turnsWithId, tag, docsDir, "overwrite")
          catch { case e: Throwable => docsFailure = e }
        val t = new Thread(work, "graft-idx-docs")
        t.start()
        Some(t)
      }

    // Shard space from BOTH the doc count and the max id (hwm): the build's own
    // numbering is dense (maxId + 1 == numDocs), but a streaming-appended
    // index aligns each batch to a shard boundary, leaving id gaps — a
    // count-only bound would never repair its upper shards. Fresh build:
    // both come from the numbering count (no job); resume: from the
    // committed docs.
    val (numDocsForShards, hwm) =
      if (docsWasDone) {
        val r = spark.read.parquet(docsDir)
          .agg(count(lit(1)), coalesce(max("docIdNum"), lit(-1L))).head()
        (r.getLong(0), r.getLong(1))
      } else (freshAssigned._2, freshAssigned._2 - 1)
    // durable before any shard: an append after a crashed build still
    // numbers past every id this build assigned
    if (hwm >= 0) writeSmallFile(spark, s"$indexDir/_hwm", hwm.toString)

    // -- stage 2: postings via fused segment build, shard-granular resume --
    val numShards = math.max(1,
      ((math.max(numDocsForShards, hwm + 1) + docsPerShard - 1) / docsPerShard).toInt)
    val done = completedShards(spark, postingsDir)
    val todo = (0 until numShards).filterNot(done)

    try if (todo.nonEmpty) {
      val groups = {
        val per = math.max(1, math.ceil(todo.size.toDouble / math.max(1, waves)).toInt)
        todo.grouped(per).toSeq
      }
      // Wave-scoped input pruning: when a wave covers only part of the shard
      // space (multi-wave build, or a resume with committed shards), prune
      // whole INPUT partitions whose docIdNum range misses the wave — a wave
      // then reads ~its share of the input instead of scanning everything
      // and discarding rows inside mapPartitions.
      //
      // CONSISTENCY: the bounds pass runs on the SAME RDD object the wave
      // jobs prune (`baseRdd`), so any shuffle in the lineage materializes
      // once and is REUSED by every subsequent job (Spark skips the map
      // stage of an already-computed ShuffleDependency) — the partitioning
      // the bounds describe is physically the partitioning the waves read.
      // A fresh DataFrame aggregate would NOT give that guarantee: the
      // resume path's repartitionByRange re-samples boundaries per
      // execution (seeded by rdd.id), and drift between the bounds job and
      // the wave job would silently prune partitions that still hold
      // wanted-shard docs.
      val pruneWaves = groups.size > 1 || done.nonEmpty
      lazy val baseDs = {
        import spark.implicits._
        turnsWithId.select("docIdNum", "text").as[(Long, String)]
      }
      lazy val baseRdd = baseDs.rdd
      lazy val partBounds: Array[(Int, Long, Long)] =
        baseRdd.mapPartitionsWithIndex { (pi, it) =>
          var mn = Long.MaxValue; var mx = Long.MinValue
          it.foreach { case (num, _) =>
            if (num < mn) mn = num
            if (num > mx) mx = num
          }
          if (mn == Long.MaxValue) Iterator.empty else Iterator((pi, mn, mx))
        }.collect()
      groups.zipWithIndex.foreach { case (shardGroup, wave) =>
        val t0 = System.nanoTime()
        val groupSet = shardGroup.toSet
        val blocks =
          if (pruneWaves) {
            val keep = partitionsForShards(partBounds, groupSet, docsPerShard)
            PostingsBuilder.buildSegmentsRdd(spark,
              org.apache.spark.rdd.PartitionPruningRDD.create(baseRdd, keep.contains),
              tag, docsPerShard, shardFilter = groupSet.contains)
          } else PostingsBuilder.buildSegments(turnsWithId, tag, docsPerShard,
            shardFilter = groupSet.contains)
        blocks
          .toDF()
          .write.mode("append").partitionBy("shard").parquet(postingsDir)
        // per-shard lineage + metrics from the blocks just committed
        val wallMs = (System.nanoTime() - t0) / 1000000L
        // two-stage (shard, term) partials → per-shard roll-up: mixing
        // countDistinct with plain sums plans an Expand that doubles the
        // block rows through the shuffle (see FieldedIndex.fieldStatsOf;
        // block terms are non-null by construction, so count(*) over the
        // (shard, term) groups ≡ the old countDistinct)
        spark.read.parquet(postingsDir)
          .filter(col("shard").isin(shardGroup: _*))
          .groupBy("shard", "term")
          .agg(count(lit(1)).as("tBlocks"), sum("n").as("tPostings"),
            sum("maxTf").as("tMaxTf"))
          .groupBy("shard")
          .agg(sum("tBlocks").as("nBlocks"), sum("tPostings").as("nPostings"),
            count(lit(1)).as("nTerms"), sum("tMaxTf").as("sumMaxTf"))
          .withColumn("wave", lit(wave))
          .withColumn("wallMs", lit(wallMs))
          .write.mode("append").parquet(manifestDir)
        if (failAfterWave == wave) throw new InjectedFailure(wave)
      }
    }
    // the concurrent docs write must be fully committed (or its failure
    // surfaced) before anything below reads docsDir — and ALSO when a wave
    // throws (kill-resume re-enters build in the same JVM and must not see
    // a half-written docs stage racing a fresh attempt)
    finally docsThread.foreach(_.join())
    if (docsFailure != null) throw docsFailure

    // -- stage 3: dict from block metadata (no corpus pass). Shards this
    // call committed (a fresh build, or a repair of a crashed build or
    // append) are not covered by any existing snapshot: write the next one.
    val ver = dictVersion(spark, indexDir)
    if (todo.nonEmpty || ver == 0L)
      commitDict(spark, indexDir, Dictionary.fromBlocks(spark.read.parquet(postingsDir)), ver + 1)
    load(spark, indexDir)
  }

  /** Current dictionary location: the immutable snapshot `dicts/v=N`
   * named by the `_dict_version` marker, which [[build]] and
   * [[graft.streaming.Streams.appendBatch]] advance. */
  def dictPath(spark: SparkSession, indexDir: String): String = {
    val v = dictVersion(spark, indexDir)
    require(v > 0, s"$indexDir has no dictionary snapshot (no _dict_version marker)")
    s"$indexDir/dicts/v=$v"
  }

  def load(spark: SparkSession, indexDir: String): Index = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$indexDir/docs")
    val statsRow = docs.agg(count(lit(1)), coalesce(sum("docLen"), lit(0L))).head()
    Index(
      docs,
      spark.read.parquet(dictPath(spark, indexDir)),
      spark.read.parquet(s"$indexDir/postings").as[PostingBlock],
      CorpusStats(statsRow.getLong(0), statsRow.getLong(1)))
  }
}
