package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.Transcripts
import graft.model.{Topic, Turn}

/** Seeded inputs. The engine only ever sees these generated tables and
 * topic sets; the seed changes the text and the terms drawn, never the
 * sizes or the mix, so runs with different seeds do the same amount of
 * work. */
object Inputs {

  val TurnsPerConv = 8

  /** Writes `numConvs` × 8 turns of [[Transcripts.generate]] as parquet
   * under `dir` and returns the text bytes written (the generator's text is
   * ASCII, so characters are bytes). */
  def writeCorpus(spark: SparkSession, dir: String, numConvs: Long, seed: Long): Long = {
    Transcripts.generate(spark, numConvs, TurnsPerConv, seed)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).agg(sum(length(col("text")))).head().getLong(0)
  }

  /** One generated corpus split by conversation into a base (`dir/batch=0`)
   * and `nBatches` equal micro-batches (`dir/batch=1` …); returns the text
   * bytes of each part, base first. */
  def writeBatches(spark: SparkSession, dir: String, baseConvs: Long, batchConvs: Long,
                   nBatches: Int, seed: Long): IndexedSeq[Long] = {
    val conv = substring(col("conv_id"), 6, 8).cast("long")
    Transcripts.generate(spark, baseConvs + batchConvs * nBatches, TurnsPerConv, seed)
      .withColumn("batch", when(conv < baseConvs, lit(0L))
        .otherwise(lit(1L) + floor((conv - lit(baseConvs)) / lit(batchConvs))).cast("int"))
      .write.mode("overwrite").partitionBy("batch").parquet(dir)
    val bytes = spark.read.parquet(dir).groupBy("batch").agg(sum(length(col("text"))))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 to nBatches).map(bytes)
  }

  def turns(spark: SparkSession, dir: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(dir)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[Turn]
  }

  /** A topic set of fixed shape: topic i has 1 + i % 4 terms, and term slot
   * j of topic i is hot (`w0`–`w19`, in most documents), mid-frequency
   * (`w20`–`w499`) or a rare `needle*` term by (i + j) % 5. The hot slots
   * always hold w0, w1, … in turn and the mid slots one term from each of
   * equal-width rank strata; the seed only shuffles them over the slots,
   * jitters mid ranks within a few places and picks the needles, so every
   * seed asks for about the same work. */
  def topics(seed: Long, n: Int, firstQid: Int = 1): Seq[Topic] = {
    val rng = new scala.util.Random(seed * 7919L + n)
    val slots = (0 until n).flatMap(i => (0 until 1 + i % 4).map(j => (i, (i + j) % 5)))
    val nHot = slots.count(_._2 <= 1)
    val nMid = slots.count(s => s._2 == 2 || s._2 == 3)
    val width = 480 / math.max(1, nMid)
    val hot = rng.shuffle((0 until nHot).map(k => s"w${k % 20}"))
    val mid = rng.shuffle((0 until nMid).map(m => s"w${20 + m * width + rng.nextInt(math.min(width, 4))}"))
    var (h, m) = (0, 0)
    val terms = slots.map { case (i, kind) =>
      i -> (kind match {
        case 0 | 1 => h += 1; hot(h - 1)
        case 2 | 3 => m += 1; mid(m - 1)
        case _     => Transcripts.NEEDLES(rng.nextInt(Transcripts.NEEDLES.size))
      })
    }
    terms.groupBy(_._1).toSeq.sortBy(_._1).map { case (i, ts) =>
      Topic(firstQid + i, ts.map(_._2).distinct.mkString(" "))
    }
  }

  /** Texts of a fixed sample of turns, for single-thread analyzer timing. */
  def textSample(seed: Long, n: Int): Array[String] =
    Array.tabulate(n)(i => Transcripts.turnText(i / TurnsPerConv, i % TurnsPerConv, seed))

  // -- local file helpers: every directory the benchmark creates lives
  //    under its work dir and is removed by these, also after a failure --

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }
  }

  /** Bytes of the data files under `dir` (Hadoop `.crc` side files excluded). */
  def treeBytes(dir: String): Long = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
      .map(Files.size).sum
    finally walk.close()
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p: Path =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  def readSmallFile(path: String): Option[String] = {
    val p = Paths.get(path)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8").trim) else None
  }
}
