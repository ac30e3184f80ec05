package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Outcome of one query: phase times, result rows and content hash, and the
  * storage bytes it left cached. `error` is set when any phase threw. */
final case class QueryRun(
    name: String, buildS: Double, planS: Double, execS: Double,
    rows: Long, hash: Long, cachedBytes: Long, error: Option[String], tags: Seq[String]) {
  def totalS: Double = buildS + planS + execS
}

/** The `graft.SparkEntry.queries` registry, run one query at a time. */
object QuerySuite {

  /** Queries that write a fixed `/tmp` store outside any working directory;
    * the harness only reads and writes inside its own checkout. */
  val Excluded: Set[String] = Set(
    "q98_rollup_rewrite", "q100_ca_lifecycle", "q104_rewrite_avg",
    "q149_rewrite_day", "q150_rewrite_filtered")

  /** Queries whose dominant stage is a per-key kernel (ClaSP, ClaSS, CLaP,
    * discords, DTW, period search) — the engine's own dense set. */
  val KernelDense: Set[String] = Set(
    "q13_epoch_rollup_1h", "q14_clasp_summary", "q23_crawl_pipeline_1d",
    "q24_stream_summary", "q25_stream_cps", "q27_state_detection",
    "q28_multivariate_cps", "q31_epoch_states", "q88_discords",
    "q90_dtw_search", "q91_period_detect")

  /** Queries built on the `graft.streaming.StreamStage` twins. */
  val Streaming: Set[String] = Set("q24_stream_summary", "q25_stream_cps")

  /** The timed subset: the kernel rollup, ClaSP summary and both
    * streaming-twin queries, plus every fifth other query in name order. */
  def suite: Seq[String] = {
    val names = graft.SparkEntry.queries.keys.filterNot(Excluded).toSeq.sorted
    val kernel = Seq("q13_epoch_rollup_1h", "q14_clasp_summary") ++ Streaming.toSeq.sorted
    kernel ++ names.filterNot(KernelDense).zipWithIndex.collect { case (n, i) if i % 5 == 0 => n }
  }

  /** Seed-permuted order of the suite (Fisher-Yates). */
  def order(seed: Long): Seq[String] = {
    val a = suite.toArray
    val rng = new java.util.Random(seed)
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }

  /** Hashable view of a result: map columns (which `xxhash64` rejects) and
    * anything containing them become their JSON text. */
  private def hashable(df: DataFrame): Seq[org.apache.spark.sql.Column] =
    df.schema.fields.toIndexedSeq.map { f =>
      def hasMap(t: org.apache.spark.sql.types.DataType): Boolean = t match {
        case _: MapType => true
        case a: ArrayType => hasMap(a.elementType)
        case s: StructType => s.fields.exists(x => hasMap(x.dataType))
        case _ => false
      }
      if (hasMap(f.dataType)) to_json(struct(col(s"`${f.name}`"))) else col(s"`${f.name}`")
    }

  /** Run one query in its own session (so conf written by `Adaptive.tune`
    * stays there) and release whatever it left cached before returning. */
  def run(spark: SparkSession, dir: String, name: String, tracer: Tracer): QueryRun = {
    val session = spark.newSession()
    val fn = graft.SparkEntry.queries(name)
    var buildS, planS, execS = 0.0
    var rows, hash = 0L
    val tags = scala.collection.mutable.ArrayBuffer.empty[String]
    val error = try {
      val (df, b, bt) = tracer.span(s"$name:build")(fn(session, dir))
      buildS = b; tags += bt
      val (_, p, pt) = tracer.span(s"$name:plan")(df.queryExecution.executedPlan)
      planS = p; tags += pt
      val cols = hashable(df)
      val (r, e, et) = tracer.span(s"$name:exec") {
        df.agg(count(lit(1)),
          sum(xxhash64(cols: _*).cast("decimal(38,0)"))).collect()(0)
      }
      execS = e; tags += et
      rows = r.getLong(0)
      hash = if (r.isNullAt(1)) 0L else Crawl.reduceHash(BigDecimal(r.getDecimal(1)))
      None
    } catch { case t: Throwable => Some(s"${t.getClass.getName}: ${t.getMessage}".take(300)) }
    val cached = cachedBytes(spark)
    session.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    QueryRun(name, buildS, planS, execS, rows, hash, cached, error, tags.toSeq)
  }

  /** Memory plus disk bytes of every cached RDD block. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
