package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Checkpointing, CrawlSignals, Pipeline, Rollup}
import graft.sources.{ParquetTableIO, TableIO}

/** Everything one run shares: arguments, paths, the tracer, the recorded
  * expectations, and the counters of attempted and failed operations. */
final class Ctx(
    val workload: String, val seed: Long, val seconds: Int, val traced: Boolean,
    val urls: Int, val work: Path, val data: Path, val expected: Expected,
    val record: Boolean) {
  var tracer: Tracer = _
  var attempted = 0L
  var failed = 0L
  val cpus: Int = Runtime.getRuntime.availableProcessors
  /** Task threads: half the vCPUs, leaving room for the JVM's own threads
    * (JIT, GC, the Spark driver) and for the host's other tenants. */
  val cores: Int = math.max(1, cpus / 2)
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** (seconds, traced) of every successful timed operation. */
  val ops = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
  /** Stage records of every traced timed operation. */
  val opStages = scala.collection.mutable.ArrayBuffer.empty[Seq[StageRec]]
  var rowsPerOp = 0L
  /** Rollup rows per tier the generator implies for this crawl window. */
  lazy val tierFloor: Map[String, Long] = Crawl.expectedTierRows(seed, urls)

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Count one operation; a failed check or an exception marks it failed. */
  def attempt[T](what: String)(f: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val problem = try {
      val r = f
      check(r) match {
        case None => return Some(r)
        case Some(p) => p
      }
    } catch { case t: Throwable => s"${t.getClass.getName}: ${t.getMessage}" }
    failed += 1
    log(s"FAILED $what: $problem")
    None
  }

  /** Timed operations until `seconds` have passed (at least `min`). In the
    * traced run every other operation runs without the stage listener, so
    * the listener's cost shows as `trace.overhead_s`. */
  def loop(min: Int)(op: Int => Option[(Double, Seq[StageRec])]): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (i < min || System.nanoTime() < deadline) {
      val on = traced && i % 2 == 0
      tracer.active(on)
      op(i).foreach { case (s, stages) =>
        ops += ((s, on))
        if (on) opStages += stages
      }
      i += 1
    }
    tracer.active(traced)
  }
}

trait Workload {
  /** Make or load the input (the part of set-up after session start). */
  def prepare(spark: SparkSession, ctx: Ctx): Unit
  /** One untimed, checked operation before the timed section. */
  def warmup(spark: SparkSession, ctx: Ctx): Unit
  /** How many warm-up operations run before the timed section. */
  def warmups: Int
  /** The timed section. */
  def measure(spark: SparkSession, ctx: Ctx): Unit
  /** Traced run only: per-layer measurements beyond the timed section. */
  def layers(spark: SparkSession, ctx: Ctx): Unit = ()
}

object Workload {
  def apply(name: String): Workload = name match {
    case "crawl_rollup" => CrawlRollup
    case "query_suite" => Queries
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  /** Spark counters of the traced timed operations, per operation. */
  def sparkLayers(ctx: Ctx): Unit = {
    val n = math.max(1, ctx.opStages.length).toDouble
    val all = ctx.opStages.flatten
    val tracedWall = ctx.ops.filter(_._2).map(_._1).sum
    val taskS = all.map(_.taskS).sum
    ctx.layers ++= Seq(
      "spark.cpu_s" -> all.map(_.cpuS).sum / n,
      "spark.task_s" -> taskS / n,
      "spark.gc_s" -> all.map(_.gcS).sum / n,
      "spark.task_util" -> (if (tracedWall > 0) taskS / (tracedWall * ctx.cores) else 0.0),
      "spark.shuffle_write_bytes" -> all.map(_.shuffleWriteBytes.toDouble).sum / n,
      "spark.spill_bytes" -> all.map(_.spillBytes.toDouble).sum / n,
      "spark.stages" -> all.length / n,
      "spark.tasks" -> all.map(_.tasks.toDouble).sum / n)
    val on = ctx.ops.filter(_._2).map(_._1)
    val off = ctx.ops.filterNot(_._2).map(_._1)
    if (on.nonEmpty && off.nonEmpty) ctx.layers("trace.overhead_s") = median(on) - median(off)
  }
}

/** The paper's path: scan → page-size signal → ClaSP-adaptive rollup of all
  * tiers → per-tier counts and content hash. Its traced run also measures
  * the storage side: `Pipeline.run` without the kernel, writing every tier
  * and the Gorilla blobs through a timed `TableIO`. */
object CrawlRollup extends Workload {
  private val Retain = Map("1m" -> 7, "1h" -> 90)
  private def pages(ctx: Ctx) = ctx.work.resolve("pages").toString
  private def sinkDir(ctx: Ctx) = ctx.work.resolve("sink").toString
  private def key(ctx: Ctx) = s"${ctx.urls}/${ctx.seed}"
  /** The first warm-up's result per window; every later pass must equal it. */
  private val reference = scala.collection.mutable.Map.empty[String, (Map[String, Long], Long)]

  def prepare(spark: SparkSession, ctx: Ctx): Unit = Crawl.write(spark, ctx.seed, ctx.urls, pages(ctx))

  /** The pass time keeps falling for about ten passes while the JIT
    * compiles the kernel (with three warm-ups the timed passes still fell by
    * a fifth over a run); eight warm-ups leave them level. */
  val warmups = 8

  /** Checks one rollup result: the 1m tier has one row per gap-filled minute
    * and the coarser tiers at least one per hour and day (epoch boundaries
    * split buckets); the result equals the recorded one for this window, if
    * any, and the first warm-up's. */
  private def check(ctx: Ctx, r: (Map[String, Long], Long)): Option[String] = {
    val floor = ctx.tierFloor
    val (tiers, _) = r
    if (tiers.keySet != floor.keySet || tiers("1m") != floor("1m") ||
        tiers("1h") < floor("1h") || tiers("1d") < floor("1d"))
      Some(s"tier rows $tiers, generator implies 1m=${floor("1m")}, 1h>=${floor("1h")}, 1d>=${floor("1d")}")
    else ctx.expected.rollup(key(ctx)) match {
      case Some(e) if e != r => Some(s"rollup $r, recorded $e")
      case _ if reference.get(key(ctx)).exists(_ != r) =>
        Some(s"rollup $r differs from warm-up ${reference(key(ctx))}")
      case _ => None
    }
  }

  def warmup(spark: SparkSession, ctx: Ctx): Unit =
    ctx.attempt("warm-up rollup")(Crawl.rollup(spark.read.parquet(pages(ctx)), segment = true))(check(ctx, _))
      .foreach { r =>
        if (!reference.contains(key(ctx))) {
          reference(key(ctx)) = r
          ctx.rowsPerOp = r._1.values.sum
          ctx.log(s"crawl_rollup urls=${ctx.urls} seed=${ctx.seed} tiers=${r._1.toSeq.sorted.mkString(",")} rollup_hash=${r._2}")
        }
        if (ctx.record) {
          println(s"""RECORD {"crawl_rollup":{"${key(ctx)}":""" +
            s"""{"tiers":{${r._1.toSeq.sorted.map { case (t, c) => s""""$t":$c""" }.mkString(",")}},"hash":${r._2}}}}""")
          sink(spark, ctx, ParquetTableIO).foreach { case (res, hash, _) =>
            println(s"""RECORD {"sink":{"${key(ctx)}":{"rows":[${res.rows1m},${res.rows1h},""" +
              s"""${res.rows1d},${res.blobs}],"hash":$hash}}}""")
          }
        }
      }

  def measure(spark: SparkSession, ctx: Ctx): Unit = {
    val failures0 = Rollup.segmentFailures.sum()
    ctx.loop(min = 3) { i =>
      ctx.attempt(s"rollup pass $i")(
        ctx.tracer.span("rollup")(Crawl.rollup(spark.read.parquet(pages(ctx)), segment = true)))(x => check(ctx, x._1))
        .map { case (_, s, tag) => (s, ctx.tracer.stagesOf(tag)) }
    }
    ctx.layers("kernel.fallbacks") = (Rollup.segmentFailures.sum() - failures0).toDouble
  }

  /** `Pipeline.run(segment = false)` into `sinkDir`, checked against the
    * recording: returns the row counts, the order-independent hash of
    * everything written, and the Gorilla payload bytes. */
  private def sink(spark: SparkSession, ctx: Ctx, io: TableIO): Option[(Pipeline.Result, Long, Long)] =
    ctx.attempt("sink") {
      val (res, s, _) = ctx.tracer.span("sink")(
        Pipeline.run(spark.read.parquet(pages(ctx)), sinkDir(ctx), segment = false, retainDays = Retain, io = io))
      val out = sinkDir(ctx)
      val hash = Crawl.reduceHash(Seq("tier=1m", "tier=1h", "tier=1d", "blobs").map(t =>
        BigDecimal(Checkpointing.contentHash(spark.read.parquet(s"$out/$t")))).sum)
      val gorilla = spark.read.parquet(s"$out/blobs").agg(sum(octet_length(col("gorilla")))).head().getLong(0)
      ctx.log(f"sink urls=${ctx.urls} seed=${ctx.seed} $s%.3f s rows=$res sink_hash=$hash gorilla_bytes=$gorilla")
      (res, hash, gorilla)
    } { case (res, hash, _) =>
      ctx.expected.sink(key(ctx)) match {
        case Some((er, _)) if er != res => Some(s"sink rows $res, recorded $er")
        case Some((_, eh)) if eh != hash => Some(s"sink hash $hash, recorded $eh")
        case _ => None
      }
    }

  override def layers(spark: SparkSession, ctx: Ctx): Unit = {
    // the kernel stage is the one with the most task time in a pass
    val kernel = ctx.opStages.filter(_.nonEmpty).map(_.maxBy(_.taskS))
    ctx.layers ++= Seq(
      "pipeline.kernel_stage_wall_s" -> Workload.median(kernel.map(_.wallS)),
      "pipeline.kernel_stage_cpu_s" -> Workload.median(kernel.map(_.cpuS)),
      "pipeline.kernel_stage_task_max_s" -> Workload.median(kernel.map(_.taskMaxS)),
      "pipeline.kernel_stage_skew" -> Workload.median(kernel.map(k => k.taskMaxS / math.max(k.taskMedianS, 1e-3))))
    ctx.layers("pipeline.scan_signal_s") = Workload.median((0 until 3).map(_ => ctx.tracer.span("scan_signal") {
      CrawlSignals.pageSize(spark.read.parquet(pages(ctx))).write.format("noop").mode(SaveMode.Overwrite).save()
    }._2))
    ctx.attempt("rollup without kernel")(
      ctx.tracer.span("rollup_nokernel")(Crawl.rollup(spark.read.parquet(pages(ctx)), segment = false))) { r =>
      if (r._1._1 == ctx.tierFloor) None
      else Some(s"segment=false tier rows ${r._1._1}, generator implies ${ctx.tierFloor}")
    }.foreach(r => ctx.layers("pipeline.rollup_nokernel_s") = r._2)

    // storage: two sink passes; the read-back scans every written table
    val ios = (0 until 2).map(_ => new TimedTableIO)
    val sinks = ios.flatMap(io => sink(spark, ctx, io).map(r => (io, r)))
    sinks.lastOption.foreach { case (io, (_, _, gorilla)) =>
      val readS = (0 until 2).map(_ => ctx.tracer.span("read_back") {
        io.written.foreach(t => spark.read.parquet(t).write.format("noop").mode(SaveMode.Overwrite).save())
      }._2)
      ctx.layers ++= Seq(
        "sources.write_s" -> Workload.median(sinks.map(_._1.writeS)),
        "sources.read_s" -> Workload.median(readS),
        "sources.bytes_written" -> io.bytes.toDouble,
        "sink.gorilla_bytes" -> gorilla.toDouble)
    }

    val sample = KernelReplay.sample(ctx.seed, ctx.urls)
    val reps = (0 until 3).map(_ => ctx.tracer.span("kernel_replay")(KernelReplay.run(sample))._1)
    def med(f: KernelReplay.Totals => Double) = Workload.median(reps.map(f))
    val t = reps.head
    ctx.layers ++= Seq(
      "kernel.suss_s" -> med(_.sussS),
      "kernel.knn_s" -> med(_.knnS),
      "kernel.profile_s" -> med(_.profileS),
      "kernel.validation_s" -> med(_.validationS),
      "kernel.segmentation_s" -> med(_.segmentationS),
      "kernel.series" -> t.series.toDouble,
      "kernel.points" -> t.points.toDouble,
      "kernel.knn_rows" -> t.knnRows.toDouble,
      "kernel.splits_scored" -> t.splitsScored.toDouble,
      "kernel.knn_rows_per_s" -> t.knnRows / math.max(med(_.knnS), 1e-9))
  }
}

/** Times the storage seam's writes and counts the bytes they leave. Reads
  * are lazy, so they pass through untimed. */
final class TimedTableIO extends TableIO {
  var writeS = 0.0
  var bytes = 0L
  val written = scala.collection.mutable.LinkedHashSet.empty[String]

  def read(spark: SparkSession, table: String): DataFrame = ParquetTableIO.read(spark, table)

  def write(df: DataFrame, table: String, partitionCols: Seq[String], mode: SaveMode,
      dynamicOverwrite: Boolean): Unit = timed(table)(
    ParquetTableIO.write(df, table, partitionCols, mode, dynamicOverwrite))

  def writeBucketedSorted(df: DataFrame, table: String, buckets: Int, bucketCol: String,
      sortCols: Seq[String]): Unit = timed(table)(
    ParquetTableIO.writeBucketedSorted(df, table, buckets, bucketCol, sortCols))

  private def timed(table: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    writeS += (System.nanoTime() - t0) / 1e9
    bytes += Workload.dirBytes(java.nio.file.Paths.get(table))
    written += table
  }
}

/** One pass over a fixed subset of the query registry in seed-permuted
  * order, each query in its own session. */
object Queries extends Workload {
  private def dir(ctx: Ctx) = ctx.data.toString

  /** Scan every input table once. */
  def prepare(spark: SparkSession, ctx: Ctx): Unit =
    Files.list(ctx.data).toArray.map(_.asInstanceOf[Path]).sortBy(_.toString).foreach { t =>
      ctx.attempt(s"scan ${t.getFileName}")(spark.read.parquet(t.toString).count())(n =>
        if (n > 0) None else Some("empty table"))
    }

  /** None: the timed pass is each query's first run in the JVM. */
  def warmup(spark: SparkSession, ctx: Ctx): Unit = ()
  val warmups = 0

  private def check(ctx: Ctx, r: QueryRun): Option[String] =
    r.error.orElse(ctx.expected.query(r.name) match {
      case None if !ctx.record => Some("no recorded result")
      case Some((rows, _)) if rows != r.rows => Some(s"rows ${r.rows}, recorded $rows")
      // recording again: a hash that moved marks the query rows-only
      case Some((_, Some(h))) if h != r.hash && !ctx.record => Some(s"hash ${r.hash}, recorded $h")
      case _ => None
    })

  def measure(spark: SparkSession, ctx: Ctx): Unit = {
    val order = QuerySuite.order(ctx.seed)
    ctx.tracer.active(ctx.traced)
    val cold = order.flatMap { name =>
      ctx.attempt(name)(QuerySuite.run(spark, dir(ctx), name, ctx.tracer))(check(ctx, _))
    }
    cold.foreach { r =>
      ctx.ops += ((r.totalS, ctx.traced))
      ctx.log(f"${r.name}%-28s ${r.totalS}%.3f s (build ${r.buildS}%.3f, plan ${r.planS}%.3f, exec ${r.execS}%.3f) rows=${r.rows} hash=${r.hash}")
    }
    ctx.rowsPerOp = cold.map(_.rows).sum
    if (ctx.record) println("RECORD " + cold.map(r => s""""${r.name}":{"rows":${r.rows},"hash":${r.hash}}""")
      .mkString("""{"query_suite":{"queries":{""", ",", "}}}"))
    if (ctx.traced) {
      def sum(rs: Seq[QueryRun], f: QueryRun => Double) = rs.map(f).sum
      val lat = cold.map(_.totalS)
      ctx.opStages += cold.flatMap(_.tags.flatMap(ctx.tracer.stagesOf))
      ctx.layers ++= Seq(
        "queries.count" -> cold.length.toDouble,
        "queries.build_s" -> sum(cold, _.buildS),
        "queries.plan_s" -> sum(cold, _.planS),
        "queries.exec_s" -> sum(cold, _.execS),
        "queries.p50_s" -> Workload.quantile(lat, 0.5),
        "queries.p90_s" -> Workload.quantile(lat, 0.9),
        "queries.kernel_dense_s" -> sum(cold.filter(r => QuerySuite.KernelDense(r.name)), _.totalS),
        "queries.stream_s" -> sum(cold.filter(r => QuerySuite.Streaming(r.name)), _.totalS),
        "queries.cached_bytes_leaked" -> cold.map(_.cachedBytes.toDouble).sum,
        "queries.leaking" -> cold.count(_.cachedBytes > 0).toDouble)
      // a second and third run of each query, one without and one with the
      // listener, alternating which comes first so warming cancels out
      val (warm, warmTraced) = order.zipWithIndex.map { case (n, i) =>
        def runWith(on: Boolean) = {
          ctx.tracer.active(on)
          ctx.attempt(s"$n warm")(QuerySuite.run(spark, dir(ctx), n, ctx.tracer))(check(ctx, _))
        }
        if (i % 2 == 0) { val off = runWith(false); (off, runWith(true)) }
        else { val on = runWith(true); (runWith(false), on) }
      }.unzip match { case (a, b) => (a.flatten, b.flatten) }
      ctx.layers("queries.warm_s") = sum(warm, _.totalS)
      ctx.layers("trace.overhead_s") = sum(warmTraced, _.totalS) - sum(warm, _.totalS)
    }
  }
}
