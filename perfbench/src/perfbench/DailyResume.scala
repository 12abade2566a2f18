package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.engine._
import graft.fixtures.{PagesGen, PagesRules}
import graft.rules.Unique
import graft.sources.PagesTable

/** `daily_resume`: the scheduler-driven resume over a day-partitioned
  * table of wide rows. Set-up writes and validates a multi-day history.
  * Each cycle then starts from that validated state and times three
  * operations in a fixed order:
  *  - append: `PagesTable.write` of the next day, then `runIncremental`;
  *  - noop: `runIncremental` with nothing changed;
  *  - update: `PagesTable.upsert` of a `PagesGen.mutateSnapshot` re-crawl
  *    of one validated day, then `runIncremental`.
  * The table and audit are restored between cycles (untimed), so every
  * cycle sees the same history length.
  */
object DailyResume {
  val HistoryDays = 3
  val RowsPerDay = 1000L
  val PadTo = 2048
  /** the validated day the update operation re-crawls */
  val UpdateDay = 1

  val cfg: EngineConfig = EngineConfig(keyExpr = "url",
    partExpr = "date_format(warc_ts, 'yyyy-MM-dd')",
    statsExprs = PagesRules.statsExprs)

  def day(i: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).toString

  private final case class CycleTimes(append: Double, noop: Double,
      update: Double, used: Totals)

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    val base = ctx.dir("daily_resume")
    val pristine = s"$base/pristine"
    val work = s"$base/work"
    val nextDir = s"$base/next"
    val updateDir = s"$base/update"
    val hostsDir = s"$base/hosts"
    def hosts = spark.read.parquet(hostsDir)
    def table(root: String): DataFrame =
      PagesTable.read(spark, s"$root/table").drop(PagesTable.PartitionCol)
    def resume(root: String, runId: String): Option[ValidationResult] =
      Audit.runIncremental(table(root), PagesRules.catalog,
        Map("hosts" -> hosts), cfg, s"$root/audit", runId)
    /** Data parts a resume appended verdicts for, read back from the audit
      * (the returned frames are lazy over a table the next step rewrites).
      */
    def parts(r: Option[ValidationResult], runId: String): Set[String] =
      if (r.isEmpty) Set.empty
      else new AuditLog(s"$work/audit", spark).verdicts()
        .where(col("run_id") === runId).select("part").distinct().collect()
        .map(_.getString(0)).toSet - ValidationEngine.GlobalPart

    // arriving and re-crawled rows, counted after set-up
    var nNext, nUpdate = 0L
    val filesWritten = mutable.ArrayBuffer.empty[Double]
    val changedParts = mutable.ArrayBuffer.empty[Double]
    val revalidated = mutable.ArrayBuffer.empty[Double]

    /** One cycle from the validated history; returns its timings and
      * whether every operation's output checked out.
      */
    def cycle(c: Int): (CycleTimes, Boolean) = {
      ctx.spans("reset") {
        ctx.deleteDir(work)
        copyTree(Paths.get(pristine), Paths.get(work))
      }
      val before = rowFiles(s"$work/table")
      val used0 = ctx.rec.snapshot()
      val (appended, appendS, _) = ctx.timed(ctx.spans("resume.append") {
        ctx.spans("sources.write")(PagesTable.write(
          spark.read.parquet(nextDir), s"$work/table", SaveMode.Append))
        ctx.spans("run_incremental")(resume(work, s"append-$c"))
      })
      val (noop, noopS, _) = ctx.timed(ctx.spans("resume.noop")(
        ctx.spans("run_incremental")(resume(work, s"noop-$c"))))
      val afterAppend = rowFiles(s"$work/table")
      val (updated, updateS, _) = ctx.timed(ctx.spans("resume.update") {
        ctx.spans("sources.upsert")(PagesTable.upsert(spark, s"$work/table",
          spark.read.parquet(updateDir)))
        ctx.spans("run_incremental")(resume(work, s"update-$c"))
      })
      val used = ctx.rec.snapshot() - used0
      // the checks read the audit back: benchmark work, outside the
      // timed operations and their executor totals
      val appendedParts = parts(appended, s"append-$c")
      val updatedParts = parts(updated, s"update-$c")
      val afterUpdate = rowFiles(s"$work/table")

      val newFiles = (afterAppend.values.flatten.toSet -- before.values.flatten) ++
        (afterUpdate.values.flatten.toSet -- afterAppend.values.flatten)
      filesWritten += newFiles.size
      val changed = afterUpdate.keySet.union(afterAppend.keySet)
        .count(d => afterUpdate.get(d) != afterAppend.get(d))
      changedParts += changed
      revalidated += updatedParts.size
      val ok = ctx.check(appendedParts == Set(day(HistoryDays)),
        s"append validated $appendedParts, expected ${day(HistoryDays)}") &
        ctx.check(noop.isEmpty, "noop resume validated something") &
        ctx.check(updatedParts.contains(day(UpdateDay)),
          s"update re-validated $updatedParts, missing ${day(UpdateDay)}")
      (CycleTimes(appendS, noopS, updateS, used), ok)
    }

    val setupS = ctx.setupSeconds(3, {
      nNext = spark.read.parquet(nextDir).count()
      nUpdate = spark.read.parquet(updateDir).count()
      resume(pristine, "history")
      cycle(-1)
    }) { _ =>
      ctx.deleteDir(pristine)
      val data = PagesGen.generate(spark, RowsPerDay * (HistoryDays + 1),
        nDays = HistoryDays + 1, seed = ctx.seed, padTextTo = PadTo)
      val d = date_format(col("warc_ts"), "yyyy-MM-dd")
      val pages = data.pages.where(year(col("warc_ts")) === 2024)
      data.hosts.write.mode("overwrite").parquet(hostsDir)
      PagesTable.write(pages.where(d < day(HistoryDays)), s"$pristine/table")
      pages.where(d === day(HistoryDays)).write.mode("overwrite").parquet(nextDir)
      // the re-crawl carries the day's rows whose url is unique in the
      // table, so the upsert rewrites that one day
      val uniqueUrls = pages.groupBy("url").count().where(col("count") === 1)
        .select("url")
      PagesGen.mutateSnapshot(pages.where(d === day(UpdateDay))
          .join(uniqueUrls, "url").select(pages.columns.map(col): _*),
          ctx.seed)._1
        .write.mode("overwrite").parquet(updateDir)
    }

    val cycles = mutable.ArrayBuffer.empty[CycleTimes]
    ctx.loop(ctx.seconds) { i =>
      ctx.attempted += 2 // a cycle is three operations
      val (ct, ok) = cycle(i)
      cycles += ct
      ok
    }
    // the resumed audit equals a from-scratch validation of the same table
    ctx.spans("check")(checkAgainstScratch(ctx, work, s"$base/scratch",
      hosts))

    val cyc = cycles.toSeq
    def med(f: CycleTimes => Double): Double = Stats.median(cyc.map(f))
    val summary = Seq(
      "resume_append_s_p50" -> med(_.append),
      "resume_noop_s_p50" -> med(_.noop),
      "resume_update_s_p50" -> med(_.update))
    summary.foreach { case (n, v) =>
      println(f"[perfbench] daily_resume $n%-42s $v%.6g s (n=${cyc.size})") }

    val rows = (nNext + nUpdate).toDouble
    if (!ctx.trace) Outcome(Seq(
      "rows_per_s" -> Metric(rows / med(c => c.append + c.noop + c.update),
        "rows/s"),
      "cpu_us_per_row" -> Metric(med(_.used.cpuNs / 1e3 / rows), "us/row"),
      "bytes_written_per_row" -> Metric(med(_.used.outBytes / rows), "B/row"),
      "setup_s" -> Metric(setupS, "s")))
    else {
      val m = mutable.LinkedHashMap.empty[String, Double]
      summary.foreach { case (n, v) => m(n) = v }
      m("host.capacity_probe_s") = graft.Bench.capacityProbeSec()
      m("trace.overhead_frac") = ctx.overheadFrac
      m("sources.files_written") = Stats.median(filesWritten.toSeq)
      m("audit.revalidated_per_changed_part") =
        Stats.median(revalidated.toSeq) / math.max(1.0, Stats.median(changedParts.toSeq))
      auditPhases(ctx, m, nNext)
      layerCalls(ctx, table(work), m)
      Layers.complete(m)
    }
  }

  /** Data files per day directory of a table. */
  private def rowFiles(dir: String): Map[String, Set[String]] = {
    val root = Paths.get(dir)
    Files.list(root).iterator().asScala.filter(Files.isDirectory(_))
      .map(d => d.getFileName.toString ->
        Files.list(d).iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet)
      .toMap
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Latest audit verdict per (part, rule) after the resumes equals a
    * validation of the same table from scratch.
    */
  private def checkAgainstScratch(ctx: Ctx, work: String, scratch: String,
      hosts: DataFrame): Boolean = {
    import ctx.spark
    ctx.deleteDir(scratch)
    val table = PagesTable.read(spark, s"$work/table")
      .drop(PagesTable.PartitionCol)
    Audit.runIncremental(table, PagesRules.catalog, Map("hosts" -> hosts),
      cfg, s"$scratch/audit", "scratch")
    def latest(dir: String): DataFrame = {
      val v = new AuditLog(dir, spark).verdicts()
      v.groupBy("part", "rule_id")
        .agg(max(struct(col("audit_ts"), col("checked"), col("violations")))
          .as("l"))
        .select(col("part"), col("rule_id"), col("l.checked").as("checked"),
          col("l.violations").as("violations"))
    }
    val resumed = latest(s"$work/audit")
    val fresh = latest(s"$scratch/audit")
    val nDiff = resumed.exceptAll(fresh).count() + fresh.exceptAll(resumed).count()
    val ok = ctx.check(nDiff == 0,
      s"resumed audit differs from a from-scratch run in $nDiff verdict rows")
    if (!ok) ctx.failed += 1
    ok
  }

  /** Which phase of `runIncremental` a job belongs to: the innermost
    * library method on its call site.
    */
  def auditPhase(site: String): String =
    site.linesIterator.find(_.startsWith("graft."))
      .map(_.takeWhile(_ != '(').split('.').last
        .stripPrefix("$anonfun$").takeWhile(_ != '$')) match {
      case Some("validatedParts") | Some("latestCheckedByPart") => "watermark"
      case Some("supersede") => "supersede"
      case Some("append") => "append"
      case Some("runIncremental") => "drift_scan"
      case _ => "other"
    }

  private def auditPhases(ctx: Ctx, m: mutable.LinkedHashMap[String, Double],
      pendingRows: Long): Unit = {
    val att = new Attribution(ctx.rec, ctx.spans)
    val all = ctx.spans.spans
    val byId = all.map(s => s.id -> s).toMap
    val resumes = all.filter(s => s.name == "run_incremental" &&
      byId.get(s.parent).exists(p => p.name.startsWith("resume.") &&
        p.parent == -1))
    def opOf(s: Span): String = byId(s.parent).name.stripPrefix("resume.")
    final case class R(op: String, phases: Map[String, Double], agg: Agg)
    val rs = resumes.map { s =>
      val jobs = att.jobsIn(_.id == s.id)
      val phases = jobs.groupBy(j => auditPhase(att.site(j)._1))
        .map { case (p, js) => p -> Agg.unionMs(js.toSeq.map(j =>
          (att.job(j).start, att.job(j).end))) / 1e3 }
      R(opOf(s), phases, Agg.of(ctx.rec, jobs, s.start, s.end, ctx.cores))
    }
    def mean(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Seq("drift_scan", "watermark", "append", "supersede").foreach { p =>
      m(s"audit.${p}_s") = mean(rs.map(_.phases.getOrElse(p, 0.0)))
    }
    Seq("append", "noop", "update").foreach { op =>
      val these = rs.filter(_.op == op)
      m(s"audit.$op.drift_scan_s") =
        Stats.median(these.map(_.phases.getOrElse("drift_scan", 0.0)))
      m(s"audit.$op.jobs") = Stats.median(these.map(_.agg.jobs.toDouble))
    }
    m("audit.jobs_per_resume") = mean(rs.map(_.agg.jobs.toDouble))
    m("audit.bytes_per_resume") = mean(rs.map(_.agg.outBytes.toDouble))
    m("audit.rows_scanned_per_pending_row") = Stats.median(
      rs.filter(_.op == "append").map(_.agg.recordsRead.toDouble / pendingRows))
    m("audit.noop_rows_scanned") =
      Stats.median(rs.filter(_.op == "noop").map(_.agg.recordsRead.toDouble))
    def spanS(name: String): Double =
      Stats.median(all.filter(_.name == name).map(s => (s.end - s.start) / 1e3))
    m("sources.write_s") = spanS("sources.write")
    m("sources.upsert_s") = spanS("sources.upsert")
  }

  /** The three passes `runIncremental` composes, called on their own on
    * the appended day (row pass, stats) and the full table (uniqueness).
    */
  private def layerCalls(ctx: Ctx, table: DataFrame,
      m: mutable.LinkedHashMap[String, Double]): Unit = {
    ctx.spans.nextRun()
    val pending = table.where(
      date_format(col("warc_ts"), "yyyy-MM-dd") === day(HistoryDays))
    val unique = PagesRules.catalog.collect { case u: Unique => u }.head
    val hosts = PagesGen.generate(ctx.spark, 1L).hosts
    def one(name: String)(body: => Long): Double =
      ctx.timed(ctx.spans(name)(body))._2
    m("audit.row_pass_s") = one("audit.row_pass")(ValidationEngine.rowPass(
      pending, PagesRules.catalog, Map("hosts" -> hosts), cfg).count())
    m("audit.uniqueness_s") = one("audit.uniqueness")(
      Uniqueness.duplicateKeyViolations(table, unique).count())
    m("audit.stats_s") = one("audit.stats")(
      StatsPass.profile(pending, cfg).count())
  }
}
