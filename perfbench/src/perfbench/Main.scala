package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

final case class Metric(value: Double, unit: String)

/** What one workload hands back: end-to-end metrics (untraced run) or
  * per-layer metrics (traced run).
  */
final case class Outcome(metrics: Seq[(String, Metric)])

/** Shared state of one benchmark run: the session, the listener, the
  * spans, the run-scoped directory, and the operation ledger behind
  * `attempted`, `failed` and `correct`.
  */
final class Ctx(val spark: SparkSession, val rec: Recorder,
    val spans: Spans, val runDir: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val cores: Int,
    val sessionStartS: Double) {
  var attempted = 0
  var failed = 0
  /** Spark-managed memory at its peak over the timed loop */
  var loopPeakManagedMb = 0.0
  private var checksOk = true

  def correct: Boolean = checksOk && failed == 0

  def dir(name: String): String = s"$runDir/$name"

  /** Records a correctness check; a failure is printed and makes the run
    * incorrect.
    */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      checksOk = false
      println(s"[perfbench] CHECK FAILED: $what")
    }
    ok
  }

  /** (traced, seconds) of each call of the traced run's loop */
  private val calls = mutable.ArrayBuffer.empty[(Boolean, Double)]

  /** Runs `op` in a closed loop, one call after another, until `seconds`
    * of wall time have passed (at least `minOps` calls). Each call is one
    * attempted operation; it fails if it throws or returns false. The
    * traced run leaves half the calls untraced, to measure the tracing
    * overhead, in the order traced, untraced, untraced, traced (at least
    * four calls), so the loop's warm-up trend cancels out of the
    * comparison instead of being charged to tracing.
    */
  def loop(seconds: Double, minOps: Int = 2)(op: Int => Boolean): Int = {
    val t0 = System.nanoTime()
    val atLeast = if (trace) math.max(minOps, 4) else minOps
    rec.resetMemory()
    var i = 0
    while (i < atLeast || (System.nanoTime() - t0) / 1e9 < seconds) {
      attempted += 1
      val traced = trace && (i % 4 == 0 || i % 4 == 3)
      setTracing(traced)
      spans.nextRun()
      val s0 = System.nanoTime()
      val ok = try op(i) catch {
        case e: Exception =>
          println(s"[perfbench] operation $i failed: $e")
          false
      }
      val s = (System.nanoTime() - s0) / 1e9
      if (trace) calls += traced -> s
      println(f"[perfbench] operation $i%d ${s}%.3f s${if (traced) " traced" else ""}%s")
      setTracing(trace)
      if (!ok) failed += 1
      i += 1
    }
    loopPeakManagedMb = rec.peakManagedMb(cores)
    println(f"[perfbench] mark loop ${(System.nanoTime() - t0) / 1e9}%.1f s")
    i
  }

  private def setTracing(on: Boolean): Unit = {
    rec.snapshot() // deliver pending events under the old setting
    rec.detailed = on
    spans.enabled = on
  }

  /** Traced over untraced call time, minus one, summed over the loop's
    * complete traced-untraced-untraced-traced blocks.
    */
  def overheadFrac: Double = {
    val blocks = calls.take(calls.size / 4 * 4)
    val (on, off) = blocks.partition(_._1)
    if (blocks.isEmpty) 0.0 else on.map(_._2).sum / off.map(_._2).sum - 1
  }

  /** Times one call; also returns the executor totals it consumed. */
  def timed[T](body: => T): (T, Double, Totals) = {
    val before = rec.snapshot()
    val t0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t0) / 1e9
    (r, s, rec.snapshot() - before)
  }

  /** Set-up time: the session start, plus the median of `reps`
    * repetitions of `prepare` (input generation), plus `warm`: the
    * operations, outside the timed loop, that let caches fill and code
    * compile.
    */
  def setupSeconds(reps: Int, warm: => Any)(prepare: Int => Unit): Double = {
    val ts = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      spans(s"setup.$i")(prepare(i))
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    spans("setup.warm")(warm)
    val warmS = (System.nanoTime() - t0) / 1e9
    println(f"[perfbench] mark setup ${ts.sum}%.1f s, warm $warmS%.1f s")
    sessionStartS + Stats.median(ts) + warmS
  }

  def deleteDir(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --run-dir <dir> --out <file>`. Prints each metric by name
  * and unit, and writes the result object to `--out`.
  */
object Main {
  val Workloads: Seq[String] = Seq("full_pass", "daily_resume", "corpus_funnel")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val runDir = opts("run-dir")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    val spans = new Spans(spark.sparkContext)
    val trace = opts("trace") == "1"
    rec.detailed = trace
    spans.enabled = trace

    val ctx = new Ctx(spark, rec, spans, runDir, opts("seed").toLong,
      opts("seconds").toDouble, trace, cores, (System.nanoTime() - t0) / 1e9)
    println(f"[perfbench] mark session ${ctx.sessionStartS}%.1f s")
    val out = workload match {
      case "full_pass" => FullPass.run(ctx)
      case "daily_resume" => DailyResume.run(ctx)
      case "corpus_funnel" => CorpusFunnel.run(ctx)
    }
    val metrics =
      if (!trace) out.metrics :+
        ("peak_spark_memory_mb" -> Metric(ctx.loopPeakManagedMb, "MB"))
      else {
        val (total, inSpan) = new Attribution(rec, spans).coverage
        out.metrics.map {
          case ("trace.attributed_task_frac", m) =>
            "trace.attributed_task_frac" -> m.copy(value = inSpan / total)
          case other => other
        }
      }
    println(f"[perfbench] mark done ${(System.nanoTime() - t0) / 1e9}%.1f s")
    if (trace) spans.toJsonLines.foreach(println)
    metrics.foreach { case (n, m) =>
      println(f"[perfbench] $workload%s $n%-42s ${m.value}%.6g ${m.unit}%s") }
    println(s"[perfbench] $workload attempted=${ctx.attempted} " +
      s"failed=${ctx.failed} correct=${ctx.correct}")

    val metricsJson = metrics.map { case (n, m) =>
      s"""${Json.str(n)}:{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)}}"""
    }.mkString(",")
    Files.writeString(Paths.get(opts("out")),
      s"""{"correct":${ctx.correct},"attempted":${ctx.attempted},""" +
        s""""failed":${ctx.failed},"metrics":{$metricsJson}}""")
    spark.stop()
  }
}

/** Names every per-layer metric, so that each traced run reports the full
  * list; a layer its workload does not run reports 0.
  */
object Layers {
  val Funnel: Seq[String] = Seq("url_dedup", "exact_dedup", "near_dup",
    "span_gate", "quality", "host_cap", "sample_shard")

  val names: Seq[(String, String)] = Seq(
    "host.capacity_probe_s" -> "s",
    "fs.leaked_paths" -> "count",
    "host.peak_rss_mb" -> "MB",
    "trace.overhead_frac" -> "ratio",
    "trace.attributed_task_frac" -> "ratio",
    "sources.decode_s" -> "s",
    "sources.decode_cpu_us_per_row" -> "us/row",
    "sources.write_s" -> "s",
    "sources.upsert_s" -> "s",
    "sources.files_written" -> "count",
    "engine.stage_write_s" -> "s",
    "engine.stage_bytes_per_row" -> "B/row",
    "engine.sink_phases_s" -> "s",
    "engine.verdicts_s" -> "s",
    "engine.run_to_sink.jobs" -> "count",
    "engine.run_to_sink.tasks" -> "count",
    "engine.run_to_sink.task_s" -> "s",
    "engine.run_to_sink.cpu_s" -> "s",
    "engine.run_to_sink.gc_s" -> "s",
    "engine.run_to_sink.scheduler_delay_s" -> "s",
    "engine.run_to_sink.shuffle_write_bytes" -> "B",
    "engine.run_to_sink.shuffle_fetch_wait_s" -> "s",
    "engine.run_to_sink.spill_bytes" -> "B",
    "engine.run_to_sink.failed_tasks" -> "count",
    "engine.run_to_sink.idle_core_frac" -> "ratio",
    "engine.cpu_over_decode" -> "ratio",
    "engine.row_pass_s" -> "s",
    "engine.row_pass_cpu_s" -> "s",
    "engine.violations_per_row" -> "ratio",
    "engine.uniqueness_s" -> "s",
    "engine.uniqueness_cpu_s" -> "s",
    "engine.uniqueness_shuffle_bytes" -> "B",
    "engine.uniqueness_shuffle_records_per_row" -> "ratio",
    "engine.stats_s" -> "s",
    "engine.stats_cpu_s" -> "s",
    "engine.stats_shuffle_bytes" -> "B",
    "engine.histogram_s" -> "s",
    "engine.drift_s" -> "s",
    "resume_append_s_p50" -> "s",
    "resume_noop_s_p50" -> "s",
    "resume_update_s_p50" -> "s",
    "audit.drift_scan_s" -> "s",
    "audit.append.drift_scan_s" -> "s",
    "audit.noop.drift_scan_s" -> "s",
    "audit.update.drift_scan_s" -> "s",
    "audit.rows_scanned_per_pending_row" -> "ratio",
    "audit.noop_rows_scanned" -> "rows",
    "audit.watermark_s" -> "s",
    "audit.row_pass_s" -> "s",
    "audit.uniqueness_s" -> "s",
    "audit.stats_s" -> "s",
    "audit.append_s" -> "s",
    "audit.supersede_s" -> "s",
    "audit.jobs_per_resume" -> "count",
    "audit.append.jobs" -> "count",
    "audit.noop.jobs" -> "count",
    "audit.update.jobs" -> "count",
    "audit.revalidated_per_changed_part" -> "ratio",
    "audit.bytes_per_resume" -> "B") ++
    Funnel.flatMap(s =>
      Seq(s"funnel.${s}_s" -> "s", s"funnel.${s}_survivor_frac" -> "ratio")) ++
    Seq(
      "funnel.jobs" -> "count",
      "funnel.stages_run" -> "count",
      "funnel.stages_skipped" -> "count",
      "funnel.task_s" -> "s",
      "funnel.shuffle_write_bytes" -> "B",
      "funnel.scheduler_delay_s" -> "s",
      "funnel.idle_core_frac" -> "ratio",
      "dedup.lsh_candidate_pairs" -> "count",
      "dedup.verified_pairs" -> "count",
      "dedup.verified_per_candidate" -> "ratio",
      "dedup.planted_recall" -> "ratio")

  /** The full per-layer list with the workload's own values filled in. */
  def complete(measured: mutable.LinkedHashMap[String, Double]): Outcome = {
    val unknown = measured.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    Outcome(names.map { case (n, u) =>
      n -> Metric(measured.getOrElse(n, 0.0), u) })
  }
}
