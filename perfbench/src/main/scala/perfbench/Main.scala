package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `perfbench/run.py`). Runs one workload
  * in a single `local[<task threads>]` JVM: set up several times (session
  * start and input), run one checked warm-up operation and the timed section, check
  * every output, and print one `PERFBENCH_RESULT {...}` line. With `--trace 1` it
  * also measures the per-layer metrics and appends spans and stage records
  * to `perfbench/out/trace.jsonl`.
  *
  * Arguments: `--workload <crawl_rollup|query_suite> --seed <n>
  * --seconds <n> --trace <0|1> --root <checkout>` and optionally `--urls <n>`
  * (crawl window size) and `--record <n>` (record the
  * results of `n` seeds from `--seed` on instead of measuring). */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  val EndToEnd = Seq("setup_s", "pass_s", "rows_per_s", "heap_retained_mb")

  /** Every per-layer metric; a workload that does not exercise a layer
    * reports it as 0. */
  val PerLayer = Seq(
    "kernel.suss_s", "kernel.knn_s", "kernel.profile_s", "kernel.validation_s",
    "kernel.segmentation_s", "kernel.series", "kernel.points", "kernel.knn_rows",
    "kernel.splits_scored", "kernel.knn_rows_per_s", "kernel.fallbacks",
    "pipeline.scan_signal_s", "pipeline.kernel_stage_wall_s", "pipeline.kernel_stage_cpu_s",
    "pipeline.kernel_stage_task_max_s", "pipeline.kernel_stage_skew", "pipeline.rollup_nokernel_s",
    "sources.write_s", "sources.read_s", "sources.bytes_written", "sink.gorilla_bytes",
    "queries.count", "queries.build_s", "queries.plan_s", "queries.exec_s", "queries.p50_s", "queries.p90_s",
    "queries.kernel_dense_s", "queries.stream_s", "queries.warm_s",
    "queries.cached_bytes_leaked", "queries.leaking",
    "spark.cpu_s", "spark.task_s", "spark.gc_s", "spark.task_util",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.stages", "spark.tasks",
    "trace.overhead_s")

  val Units: Map[String, String] = Map(
    "setup_s" -> "s", "pass_s" -> "s", "rows_per_s" -> "1/s", "heap_retained_mb" -> "MB") ++
    PerLayer.map { m =>
      m -> (if (m.endsWith("_per_s")) "1/s" else if (m.endsWith("_s")) "s"
        else if (m.contains("bytes")) "bytes"
        else if (m.endsWith("skew") || m.endsWith("util")) "ratio" else "count")
    }

  def session(ctx: Ctx): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName("perfbench")
      // the same execution settings as graft.Bench: 8x vCPUs shuffle
      // partitions for the heavy-tailed kernel stage, AQE without
      // coalescing, 16 MB scan splits
      .config("spark.sql.shuffle.partitions", (ctx.cpus * 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps every job and SQL execution on the heap even
      // without a UI; cap it so heap_retained_mb sees leaks, not history
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.local.dir", ctx.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", ctx.work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def arg(args: Map[String, String], k: String, default: => String): String =
    args.getOrElse(k, default)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = arg(args, "workload", sys.error("--workload is required"))
    val seed = arg(args, "seed", "0").toLong
    val root = Paths.get(arg(args, "root", ".")).toAbsolutePath.normalize
    val bench = root.resolve("perfbench")
    val work = bench.resolve("out").resolve("work").resolve(workload)
    Files.createDirectories(work)
    def mkCtx(seed: Long, record: Boolean) =
      new Ctx(workload, seed, arg(args, "seconds", "10").toInt, arg(args, "trace", "0") == "1",
        arg(args, "urls", "100").toInt, work, bench.resolve("data").resolve("sf0.001"),
        Expected.load(bench.resolve("expected.json")), record)
    val w = Workload(workload)
    val record = arg(args, "record", "0").toInt
    if (record > 0) return recordSeeds(w, seed until seed + record, mkCtx(_, record = true))
    val ctx = mkCtx(seed, record = false)

    // set-up: session start and input, the first from JVM start and the
    // others from a session restart; then the warm-up operations
    var spark: SparkSession = null
    val setupS = (0 until Setups).map { k =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(ctx)
      ctx.tracer = new Tracer(spark.sparkContext, false, workload, seed)
      w.prepare(spark, ctx)
      if (k == 0) (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }
    ctx.log(s"setup_s per set-up: ${setupS.map(s => f"$s%.2f").mkString(" ")}")
    for (_ <- 0 until w.warmups) w.warmup(spark, ctx)

    ctx.tracer = new Tracer(spark.sparkContext, ctx.traced, workload, seed)
    w.measure(spark, ctx)
    if (ctx.traced) {
      ctx.tracer.active(true)
      w.layers(spark, ctx)
      Workload.sparkLayers(ctx)
    }
    val heapMb = retainedHeapMb()

    val pass = if (w eq Queries) ctx.ops.map(_._1).sum else Workload.median(ctx.ops.map(_._1).toSeq)
    val e2e = Map(
      "setup_s" -> Workload.median(setupS),
      "pass_s" -> pass,
      "rows_per_s" -> (if (pass > 0) ctx.rowsPerOp / pass else 0.0),
      "heap_retained_mb" -> heapMb)
    ctx.log(s"end-to-end ${EndToEnd.map(m => s"$m=${e2e(m)}").mkString(" ")}; " +
      s"${ctx.ops.length} timed operations (${ctx.ops.map(o => f"${o._1}%.3f").mkString(" ")}), " +
      s"${ctx.failed}/${ctx.attempted} failed")
    if (ctx.traced)
      ctx.tracer.record("run",
        (EndToEnd.map(m => s""""$m":${Json.num(e2e(m))}""") ++
          PerLayer.map(m => s""""$m":${Json.num(ctx.layers.getOrElse(m, 0.0))}"""))
          .mkString(","))
    ctx.tracer.write(bench.resolve("out").resolve("trace.jsonl"))
    spark.stop()

    val metrics = (if (ctx.traced) PerLayer.map(m => m -> ctx.layers.getOrElse(m, 0.0))
      else EndToEnd.map(m => m -> e2e(m)))
      .map { case (m, v) => s""""$m":{"value":${Json.num(v)},"unit":"${Units(m)}"}""" }
    val correct = ctx.failed == 0 && ctx.ops.nonEmpty
    println(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""metrics":{${metrics.mkString(",")}}}""")
  }

  /** Record mode: the checked results of each seed, as `RECORD` lines for
    * `run.py --record` to merge into expected.json. */
  private def recordSeeds(w: Workload, seeds: Seq[Long], mkCtx: Long => Ctx): Unit = {
    val ctxs = seeds.map(mkCtx)
    val spark = session(ctxs.head)
    for (ctx <- ctxs) {
      ctx.tracer = new Tracer(spark.sparkContext, false, ctx.workload, ctx.seed)
      w.prepare(spark, ctx)
      w.warmup(spark, ctx)
      if (w eq Queries) w.measure(spark, ctx)
    }
    spark.stop()
    val failed = ctxs.map(_.failed).sum
    println(s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":${ctxs.map(_.attempted).sum},""" +
      s""""failed":$failed,"metrics":{}}""")
  }

  /** Heap still in use after full collections. Spark's context cleaner
    * frees broadcast and shuffle blocks only once a collection has found
    * their handles unreachable, so collect, let it run, and collect again. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
