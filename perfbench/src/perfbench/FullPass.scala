package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine._
import graft.fixtures.{PagesGen, PagesRules}
import graft.rules.Unique

/** `full_pass`: the full rule pass (`ValidationEngine.runToSink`, then
  * `Drift.againstPrevious` on the text-length histograms) over narrow
  * PagesGen rows read from parquet.
  */
object FullPass {
  val Rows = 120000L
  val Days = 10
  val InputFiles = 8

  val cfg: EngineConfig = EngineConfig(keyExpr = "url",
    partExpr = "date_format(warc_ts, 'yyyy-MM-dd')",
    statsExprs = PagesRules.statsExprs,
    histograms = Seq(("text_len", "length(text)", 25.0)),
    quantilesFor = Seq("text_len"))

  /** Days whose text-length shift the generator makes visible to the
    * drift check. PagesGen lengthens the last day's word count by 60;
    * narrow rows (no padding) keep that shift in `length(text)`. Padded
    * rows fix the length at `padTo + h % 200`, which hides it, so the
    * benchmark only runs this workload unpadded.
    */
  def expectedDriftDays(nDays: Int): Set[String] = {
    val day = java.time.LocalDate.of(2024, 1, 1).plusDays(nDays - 1L)
    Set(day.toString)
  }

  /** Parts of the generated table: every crawl day plus the one off-window
    * day (2010-01-01) the generator plants for the timestamp rule.
    */
  val expectedParts: Int = Days + 1

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    val inputDir = ctx.dir("full_pass/pages")
    val hostsDir = ctx.dir("full_pass/hosts")
    val expectedDir = ctx.dir("full_pass/expected")
    val sink = ctx.dir("full_pass/sink")
    // re-read on every use: set-up rewrites the files
    def pages = spark.read.parquet(inputDir)
    def hosts = spark.read.parquet(hostsDir)
    def expected = spark.read.parquet(expectedDir)

    def op(): Seq[graft.model.DriftReport] = ctx.spans("full_pass.op") {
      ctx.spans("run_to_sink")(ValidationEngine.runToSink(pages,
        PagesRules.catalog, Map("hosts" -> hosts), cfg, sink))
      ctx.spans("drift")(Drift.againstPrevious(
        spark.read.parquet(s"$sink/hist_text_len")
          .where(col("part").startsWith("2024")), "text_len"))
    }

    val setupS = ctx.setupSeconds(3, { op(); op() }) { _ =>
      val data = PagesGen.generate(spark, Rows, nDays = Days, seed = ctx.seed)
      data.pages.repartition(InputFiles).write.mode("overwrite")
        .parquet(inputDir)
      data.hosts.write.mode("overwrite").parquet(hostsDir)
    }
    ctx.spans("oracle.expected")(PagesGen.generate(spark, Rows, nDays = Days,
      seed = ctx.seed).expected.write.mode("overwrite").parquet(expectedDir))

    val opS = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val bytes = mutable.ArrayBuffer.empty[Double]
    // calls still speed up through the loop; at least five of them keep
    // the median at the same place in that ramp when the host is slow
    ctx.loop(ctx.seconds, minOps = 5) { _ =>
      val (drift, s, used) = ctx.timed(op())
      opS += s; cpu += used.cpuNs / 1e3 / Rows
      bytes += used.outBytes.toDouble / Rows
      ctx.spans("check")(checkOutput(ctx, sink, drift))
    }
    println(f"[perfbench] full_pass validated_rows_per_s " +
      f"${Rows / Stats.median(opS.toSeq)}%.6g rows/s (n=${opS.size})")
    // every call computes the same answer; the last one's sink is compared
    // with the planted set in full
    ctx.spans("check")(checkViolations(ctx, sink, expected))

    // host stamp: beside every run, so a host stall reads as "probe and
    // floor moved too"
    val probeS = graft.Bench.capacityProbeSec()
    val (decodeS, decodeTot) = decode(ctx, pages)
    println(f"[perfbench] host stamp: host.capacity_probe_s=$probeS%.4f " +
      f"sources.decode_s=$decodeS%.4f sources.decode_cpu_us_per_row=" +
      f"${decodeTot.cpuNs / 1e3 / Rows}%.4f")

    if (!ctx.trace) Outcome(Seq(
      "rows_per_s" -> Metric(Rows / Stats.median(opS.toSeq), "rows/s"),
      "cpu_us_per_row" -> Metric(Stats.median(cpu.toSeq), "us/row"),
      "bytes_written_per_row" -> Metric(Stats.median(bytes.toSeq), "B/row"),
      "setup_s" -> Metric(setupS, "s")))
    else {
      val m = mutable.LinkedHashMap.empty[String, Double]
      m("host.capacity_probe_s") = probeS
      m("trace.overhead_frac") = ctx.overheadFrac
      m("sources.decode_s") = decodeS
      m("sources.decode_cpu_us_per_row") = decodeTot.cpuNs / 1e3 / Rows
      layerCalls(ctx, pages, hosts, m)
      runToSinkPhases(ctx, m, decodeTot)
      CorpusFunnel.layerSweep(ctx, m)
      Layers.complete(m)
    }
  }

  /** Bare decode of the input: every column read once, nothing else. */
  def decode(ctx: Ctx, pages: DataFrame): (Double, Totals) = {
    val (_, s, used) = ctx.timed(ctx.spans("sources.decode") {
      pages.select(count(lit(1)), sum(length(col("url")) +
        length(col("text")) + octet_length(col("html")) +
        length(col("lang")) + unix_timestamp(col("warc_ts")))).collect()
    })
    (s, used)
  }

  /** Per-call oracle: one verdict per (part, partition rule) plus one
    * `(global)` verdict per global rule, and drift flags exactly the
    * planted day.
    */
  def checkOutput(ctx: Ctx, sink: String,
      drift: Seq[graft.model.DriftReport]): Boolean = {
    val rules = PagesRules.catalog
    val globalRules = rules.count(_.isInstanceOf[Unique])
    val nVerdicts = ctx.spark.read.parquet(s"$sink/verdicts").count()
    val wantVerdicts = expectedParts * (rules.size - globalRules) + globalRules
    val flagged = drift.filterNot(_.pass).map(_.part).toSet
    val want = expectedDriftDays(Days)
    ctx.check(nVerdicts == wantVerdicts,
      s"verdict rows $nVerdicts, expected $wantVerdicts") &
      ctx.check(flagged == want && drift.exists(_.part == want.head),
        s"drift flagged $flagged, expected $want")
  }

  /** The violations, as distinct `(key, rule_id)`, equal the generator's
    * planted set.
    */
  def checkViolations(ctx: Ctx, sink: String, expected: DataFrame): Boolean = {
    val got = ctx.spark.read.parquet(s"$sink/violations")
      .select("key", "rule_id").distinct()
    val diff = got.join(expected, Seq("key", "rule_id"), "full_outer")
      .agg(coalesce(sum(when(got("key").isNull, 1L)), lit(0L)),
        coalesce(sum(when(expected("key").isNull, 1L)), lit(0L)))
      .collect().head
    val (missing, extra) = (diff.getLong(0), diff.getLong(1))
    if (!ctx.check(missing == 0 && extra == 0,
        s"violations differ from the planted set: $missing missing, $extra extra"))
      ctx.failed += 1
    missing == 0 && extra == 0
  }

  /** Each engine layer called on its own on the same input, forced by a
    * count.
    */
  private def layerCalls(ctx: Ctx, pages: DataFrame, hosts: DataFrame,
      m: mutable.LinkedHashMap[String, Double]): Unit = {
    ctx.spans.nextRun()
    val unique = PagesRules.catalog.collect { case u: Unique => u }.head
    def one(name: String)(body: => Long): (Long, Double, Agg) = {
      val from = System.currentTimeMillis()
      val (n, s, _) = ctx.timed(ctx.spans(name)(body))
      val att = new Attribution(ctx.rec, ctx.spans)
      (n, s, Agg.of(ctx.rec, att.jobsIn(_.name == name), from,
        System.currentTimeMillis(), ctx.cores))
    }
    val (vios, rowS, rowAgg) = one("engine.row_pass")(
      ValidationEngine.rowPass(pages, PagesRules.catalog,
        Map("hosts" -> hosts), cfg).count())
    m("engine.row_pass_s") = rowS
    m("engine.row_pass_cpu_s") = rowAgg.cpuS
    m("engine.violations_per_row") = vios.toDouble / Rows
    val (_, uS, uAgg) = one("engine.uniqueness")(
      Uniqueness.duplicateKeyViolations(pages, unique).count())
    m("engine.uniqueness_s") = uS
    m("engine.uniqueness_cpu_s") = uAgg.cpuS
    m("engine.uniqueness_shuffle_bytes") = uAgg.shuffleWriteBytes.toDouble
    m("engine.uniqueness_shuffle_records_per_row") =
      uAgg.shuffleWriteRecords.toDouble / Rows
    val (_, sS, sAgg) = one("engine.stats")(
      StatsPass.profile(pages, cfg).count())
    m("engine.stats_s") = sS
    m("engine.stats_cpu_s") = sAgg.cpuS
    m("engine.stats_shuffle_bytes") = sAgg.shuffleWriteBytes.toDouble
    var hist: DataFrame = null
    val (_, hS, _) = one("engine.histogram") {
      hist = StatsPass.histogram(pages, cfg, "length(text)", 25.0)
        .localCheckpoint(true)
      hist.count()
    }
    m("engine.histogram_s") = hS
    val (_, dS, _) = one("engine.drift")(Drift.againstPrevious(
      hist.where(col("part").startsWith("2024")), "text_len").size.toLong)
    m("engine.drift_s") = dS
  }

  /** Splits each traced `runToSink` call into its phases. A job belongs to
    * the phase named by the sink directory its SQL execution writes:
    * `_stage` (the single decode), `violations`, `profiles` and `hist_*`
    * (the concurrent sink phases), `verdicts`.
    */
  private def runToSinkPhases(ctx: Ctx,
      m: mutable.LinkedHashMap[String, Double], decode: Totals): Unit = {
    val att = new Attribution(ctx.rec, ctx.spans)
    val calls = ctx.spans.spans.filter(_.name == "run_to_sink")
    def phaseOf(job: Int): String =
      Attribution.writePath(att.site(job)._2).map(_.split('/').last) match {
          case Some("_stage") => "stage"
          case Some("verdicts") => "verdicts"
          case Some(d) if d == "violations" || d == "profiles" ||
            d.startsWith("hist_") => "sinks"
          case _ => "other"
        }
    val per = calls.map { c =>
      val jobs = att.jobsIn(_.id == c.id)
      val byPhase = jobs.groupBy(phaseOf)
      def wall(p: String): Double = Agg.unionMs(byPhase.getOrElse(p, Set.empty)
        .toSeq.map(j => (att.job(j).start, att.job(j).end))) / 1e3
      val stageAgg = Agg.of(ctx.rec, byPhase.getOrElse("stage", Set.empty),
        c.start, c.end, ctx.cores)
      (wall("stage"), wall("sinks"), wall("verdicts"),
        stageAgg.outBytes.toDouble / Rows,
        Agg.of(ctx.rec, jobs, c.start, c.end, ctx.cores))
    }
    def med(f: ((Double, Double, Double, Double, Agg)) => Double): Double =
      Stats.median(per.map(f))
    m("engine.stage_write_s") = med(_._1)
    m("engine.sink_phases_s") = med(_._2)
    m("engine.verdicts_s") = med(_._3)
    m("engine.stage_bytes_per_row") = med(_._4)
    val p = "engine.run_to_sink."
    m(p + "jobs") = med(_._5.jobs)
    m(p + "tasks") = med(_._5.tasks)
    m(p + "task_s") = med(_._5.taskS)
    m(p + "cpu_s") = med(_._5.cpuS)
    m(p + "gc_s") = med(_._5.gcS)
    m(p + "scheduler_delay_s") = med(_._5.schedDelayS)
    m(p + "shuffle_write_bytes") = med(_._5.shuffleWriteBytes)
    m(p + "shuffle_fetch_wait_s") = med(_._5.fetchWaitS)
    m(p + "spill_bytes") = med(_._5.spillBytes)
    m(p + "failed_tasks") = med(_._5.failedTasks)
    m(p + "idle_core_frac") = med(_._5.idleCoreFrac)
    m("engine.cpu_over_decode") = med(_._5.cpuS) / (decode.cpuNs / 1e9)
  }
}
