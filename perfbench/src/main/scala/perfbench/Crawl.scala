package perfbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{CrawlSignals, PageRow, Rollup, SyntheticCrawl}

/** The crawl-pages input of `crawl_rollup`: a window of
  * `SyntheticCrawl.urlRows` chosen by seed, written to parquet. */
object Crawl {
  val BasePoints = 300
  val CadenceMs = 60000L

  /** Url indices of the seed's window. Windows are aligned to 100 urls, so
    * each holds the generator's exact 90/9/1 short/medium/mega mix. */
  def window(seed: Long, urls: Int): (Long, Long) = (seed * urls, seed * urls + urls)

  def write(spark: SparkSession, seed: Long, urls: Int, path: String): Unit = {
    import spark.implicits._
    val (lo, hi) = window(seed, urls)
    spark.range(lo, hi, 1, math.min(urls, 64)).as[Long]
      .flatMap(i => SyntheticCrawl.urlRows(i, BasePoints, CadenceMs))
      .withColumn("warc_ts", timestamp_millis(col("warc_ts")))
      .select("url", "warc_ts", "html", "text", "lang")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Rows the rollup must emit per tier: every gap-filled bucket between a
    * url's first and last crawl, at 1m, 1h and 1d. Derived from the
    * generator alone, so it checks any seed. */
  def expectedTierRows(seed: Long, urls: Int): Map[String, Long] = {
    val (lo, hi) = window(seed, urls)
    val acc = scala.collection.mutable.Map("1m" -> 0L, "1h" -> 0L, "1d" -> 0L)
    var i = lo
    while (i < hi) {
      val rows = SyntheticCrawl.urlRows(i, BasePoints, CadenceMs)
      val (first, last) = (rows.head.warc_ts, rows.last.warc_ts)
      for ((tier, ms) <- Rollup.TierMs)
        acc(tier) += Math.floorDiv(last, ms) - Math.floorDiv(first, ms) + 1
      i += 1
    }
    acc.toMap
  }

  /** The page-size series of url `i` as the rollup's kernel sees it: 1m
    * bucket means, gap-filled by last observation, cut into the rollup's
    * `MegaSeriesBuckets`-bucket chunks (absolute chunk boundaries). */
  def kernelSeries(i: Long): Seq[Array[Double]] = {
    val rows: Seq[PageRow] = SyntheticCrawl.urlRows(i, BasePoints, CadenceMs)
    val chunkMs = CadenceMs * Rollup.MegaSeriesBuckets
    rows.groupBy(r => Math.floorDiv(r.warc_ts, chunkMs)).toSeq.sortBy(_._1).map { case (_, rs) =>
      val first = Math.floorDiv(rs.head.warc_ts, CadenceMs)
      val nB = (Math.floorDiv(rs.last.warc_ts, CadenceMs) - first + 1).toInt
      val cnt = new Array[Long](nB)
      val sum = new Array[Double](nB)
      rs.foreach { r =>
        val b = (Math.floorDiv(r.warc_ts, CadenceMs) - first).toInt
        cnt(b) += 1; sum(b) += r.html.length.toDouble
      }
      var last = 0.0
      Array.tabulate(nB) { b => if (cnt(b) > 0) last = sum(b) / cnt(b); last }
    }
  }

  /** Rollup of every tier plus per-tier row counts and the order-independent
    * content hash, in one action (the same reduction as `graft.Bench`). */
  def rollup(pages: DataFrame, segment: Boolean): (Map[String, Long], Long) = {
    val all = Rollup.scalableRollupAllTiers(CrawlSignals.pageSize(pages), CadenceMs, segment).toDF()
    val rows = all.groupBy("tier")
      .agg(count(lit(1)).as("rows"),
        sum(xxhash64(all.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")).as("hsum"))
      .collect()
    (rows.map(r => r.getString(0) -> r.getLong(1)).toMap,
      reduceHash(rows.map(r => BigDecimal(r.getDecimal(2))).sum))
  }

  /** Same pmod reduction as `Checkpointing.contentHashCol`. */
  def reduceHash(total: BigDecimal): Long = {
    val m = total % BigDecimal(Long.MaxValue)
    (if (m < 0) m + BigDecimal(Long.MaxValue) else m).toLong
  }
}
