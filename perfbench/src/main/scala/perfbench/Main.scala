package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: `perfbench.Main --workload W --seed N --seconds S
 * --trace 0|1 --out DIR`. Closed loop, one client: the next operation
 * starts when the previous one has returned.
 *
 *  1. Set up three times, each in a fresh local[nproc] session: start
 *     the session, register the st_* functions and the join rule,
 *     generate the seeded input, run one full-size operation as warm-up.
 *     `setup_s` is the median of the three. Warm-up outputs are not checked.
 *  2. Compute the expected outputs (untimed) and check that no timed
 *     query lost graft expressions to its checksum reduction.
 *  3. Run operations until they have taken S seconds (at least three),
 *     each timed for wall and process CPU and each checked (untimed)
 *     against the expected outputs.
 *  4. Traced run only: attach the listener to every other operation
 *     (the rest measure the tracing overhead), then probe the layers.
 *
 * The last line printed is `PERFBENCH_RESULT {json}`.
 */
object Main {

  final val SetupReps = 3
  final val MinOps = 3

  final case class Op(wallS: Double, cpuS: Double, fromMs: Long, toMs: Long, traced: Boolean,
      span: Int)

  def main(argv: Array[String]): Unit = {
    // Spark leaves non-daemon threads behind a failure; exit explicitly
    val code = try { runOnce(argv); 0 } catch {
      case t: Throwable => t.printStackTrace(); 2
    }
    System.out.flush()
    sys.exit(code)
  }

  private def runOnce(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val out = new File(args.getOrElse("out", ".bench_build")).getAbsoluteFile
    val workDir = new File(out, s"work/$workload-$seed")
    val nproc = Runtime.getRuntime.availableProcessors
    org.apache.commons.io.FileUtils.deleteDirectory(workDir)
    workDir.mkdirs()

    val w: Workload = workload match {
      case "pipeline" => new PipelineWork(seed, new File(workDir, "data"), pages = 100000L)
      case "pip_join" => new PipJoinWork(seed, nproc, nPoints = 8192L)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer(traced)
    val errors = ArrayBuffer[String]()
    var attempted = 0
    var failed = 0

    // ---- set-up, three times
    var spark: SparkSession = null
    val setupS = ArrayBuffer[Double]()
    val registerS = ArrayBuffer[Double]()
    for (rep <- 0 until SetupReps) {
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      tracer.span(-1, -1, s"setup.$rep") { sp =>
        spark = tracer.span(-1, sp, "session")(_ => session(nproc, workDir))
        val r0 = System.nanoTime()
        tracer.span(-1, sp, "sql.register") { _ =>
          graft.sql.functions.register(spark)
          graft.sql.functions.registerOptimizations(spark, PipJoinWork.Level)
        }
        registerS += (System.nanoTime() - r0) / 1e9
        tracer.span(-1, sp, "input")(_ => w.setup(spark, rep))
        tracer.span(-1, sp, "warmup") { _ =>
          w.prepareOp(spark)
          w.run(spark)
        }
      }
      setupS += (System.nanoTime() - t0) / 1e9
    }

    // ---- expected outputs and the reduction check (untimed)
    val expected = tracer.span(-1, -1, "oracle")(_ => w.expected(spark))
    def check(label: String, ok: Boolean, detail: => String): Unit = {
      attempted += 1
      if (!ok) {
        failed += 1
        errors += s"$label: $detail"
      }
    }
    val planS = ArrayBuffer[Double]()
    var fallback = 0
    w.timedQueries(spark).foreach { case (q, unreduced, reduced) =>
      val t0 = System.nanoTime()
      reduced.queryExecution.executedPlan
      planS += (System.nanoTime() - t0) / 1e9
      fallback += Checks.fallbackExprs(reduced)
      val lost = Checks.lostExprs(unreduced, reduced)
      check(s"$q reduction", lost.isEmpty, s"lost graft expressions ${lost.mkString(",")}")
    }

    // ---- the closed loop
    val rec = new Recorder
    val ops = ArrayBuffer[Op]()
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    while (ops.size < MinOps || ops.map(_.wallS).sum < seconds) {
      val tracedOp = traced && ops.size % 2 == 0
      w.prepareOp(spark)
      if (tracedOp) spark.sparkContext.addSparkListener(rec)
      val from = System.currentTimeMillis()
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      var span = -1
      val raw = tracer.span(ops.size, -1, "op") { id => span = id; w.run(spark) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      val to = System.currentTimeMillis()
      if (tracedOp) {
        org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(rec)
      }
      ops += Op(wall, cpu, from, to, tracedOp, span)
      val got = w.observe(spark, raw)
      check(s"op ${ops.size - 1}", got == expected,
        s"got ${got.mkString(",")} expected ${expected.mkString(",")}")
    }

    val metrics = ArrayBuffer[(String, Double)]()
    if (!traced) {
      metrics += "setup_s" -> median(setupS.toSeq)
      metrics += "items_per_s" -> median(ops.map(o => w.items / o.wallS).toSeq)
      metrics += "cpu_s_per_mitem" -> median(ops.map(o => o.cpuS / w.items * 1e6).toSeq)
    } else {
      spark.sparkContext.addSparkListener(rec)
      val ctx = LayerCtx(spark, rec, tracer, -1, nproc, check)
      metrics ++= opLayers(w, rec, tracer, ops.filter(_.traced).toSeq, nproc)
      metrics ++= w.layers(ctx)
      metrics += "sql.register_s" -> median(registerS.toSeq)
      if (planS.nonEmpty) {
        metrics += "sql.plan_s" -> median(planS.toSeq)
        metrics += "sql.fallback_exprs" -> fallback.toDouble
      }
      val (on, off) = ops.partition(_.traced)
      metrics += "bench.trace_overhead_frac" -> (median(on.map(_.wallS).toSeq) / median(off.map(_.wallS).toSeq) - 1)
    }

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    stop(spark)
    tracer.write(new File(out, s"traces/$workload-$seed.jsonl").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(workDir)

    errors.foreach(e => System.out.println(s"PERFBENCH_ERROR $e"))
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "nproc" -> nproc.toString,
      "seed" -> seed.toString,
      "ops" -> ops.size.toString,
      "items_per_op" -> w.items.toString,
      "setup_reps_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "op_wall_s" -> ops.map(o => Json.num(o.wallS)).mkString("[", ",", "]"),
      "op_cpu_s" -> ops.map(o => Json.num(o.cpuS)).mkString("[", ",", "]"),
      "input" -> Json.obj(w.describe.map { case (k, v) => k -> Json.str(v) }),
      "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .map(Json.str).mkString("[", ",", "]")))
    System.out.println(s"PERFBENCH_RESULT $result")
  }

  /** Per-layer metrics read from the listener over the traced operations:
    * engine totals for every workload, per-stage figures for the pipeline
    * and the join's own figures for pip_join. Medians over operations. */
  private def opLayers(w: Workload, rec: Recorder, tracer: Tracer, ops: Seq[Op],
      nproc: Int): Seq[(String, Double)] = {
    val perOp: Seq[Seq[(String, Double)]] = ops.map { op =>
      val i = op.span
      val ts = rec.tasksIn(op.fromMs, op.toMs)
      val out = ArrayBuffer[(String, Double)](
        "spark.tasks" -> ts.size.toDouble,
        "spark.failed_tasks" -> ts.count(_.failed).toDouble,
        "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble)
      def taskFigures(prefix: String, xs: Seq[TaskRec]): Unit = {
        val d = xs.map(_.durationMs.toDouble)
        out += s"$prefix.cpu_s" -> xs.map(_.cpuNs).sum / 1e9
        out += s"$prefix.gc_s" -> xs.map(_.gcMs).sum / 1e3
        out += s"$prefix.task_p95_ms" -> pct(d, 0.95)
        if (w.name == "pipeline") {
          out += s"$prefix.task_p50_ms" -> pct(d, 0.50)
          out += s"$prefix.task_max_ms" -> (if (d.isEmpty) 0.0 else d.max)
          out += s"$prefix.rows_out" -> xs.map(_.rowsOut).sum.toDouble
          out += s"$prefix.bytes_out" -> xs.map(_.bytesOut).sum.toDouble
        }
      }
      w.name match {
        case "pipeline" =>
          Seq("s2_entities", "s3_pip_join", "s4_tiles", "s5_raster").foreach { st =>
            val windows = rec.execWindows(st, op.fromMs, op.toMs)
            windows.foreach { case (s, e) =>
              tracer.add(i, op.span, s"pipeline.$st", s * 1000000L, math.max(s, e) * 1000000L)
            }
            out += s"pipeline.$st.wall_s" -> windows.map { case (s, e) => math.max(0L, e - s) }.sum / 1e3
            taskFigures(s"pipeline.$st", ts.filter(t => rec.labelOf(t) == st))
          }
          val wallMs = (op.toMs - op.fromMs).toDouble
          out += "pipeline.driver_idle_s" -> (wallMs - covered(ts, op.fromMs, op.toMs)) / 1e3
          out += "pipeline.slot_busy_frac" -> ts.map(_.durationMs).sum / (wallMs * nproc)
          out += "pipeline.bytes_written_per_page" -> ts.map(_.bytesOut).sum.toDouble / w.items
        case "pip_join" =>
          out += "operators.pip_join.wall_s" -> op.wallS
          taskFigures("operators.pip_join", ts)
        case _ =>
      }
      out.toSeq
    }
    if (perOp.isEmpty) Nil
    else perOp.head.map(_._1).map(k => k -> median(perOp.map(_.find(_._1 == k).get._2)))
  }

  /** Milliseconds of [from, to] during which at least one task ran. */
  private def covered(ts: Seq[TaskRec], from: Long, to: Long): Double = {
    var total = 0L
    var end = from
    ts.map(t => (math.max(t.launch, from), math.min(t.finish, to))).sortBy(_._1).foreach {
      case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
    }
    total.toDouble
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile; 0 for an empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def session(nproc: Int, workDir: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
