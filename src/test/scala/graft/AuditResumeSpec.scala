package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine._
import graft.fixtures.{PagesGen, PagesRules}

/** Resumability (north_rule: "resumable from checkpoint with per-partition
  * lineage + metrics"): a run validates only partitions absent from the
  * audit; re-running after success is a no-op; a later run picks up only
  * newly-arrived partitions.
  */
class AuditResumeSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = EngineConfig(
    keyExpr = "url", partExpr = "date_format(warc_ts, 'yyyy-MM-dd')")

  test("incremental run validates only new partitions, idempotently") {
    val dir = Files.createTempDirectory("audit").toString
    val data = PagesGen.generate(spark, nRows = 4000L, nDays = 4)
    val inWindow = data.pages.where(year($"warc_ts") === 2024)
    val parts = inWindow.select(date_format($"warc_ts", "yyyy-MM-dd"))
      .distinct().as[String].collect().sorted
    assert(parts.length === 4)

    // first run: only the first 2 days have "arrived"
    val firstTwo = inWindow
      .where(date_format($"warc_ts", "yyyy-MM-dd").isin(parts.take(2): _*))
    val r1 = Audit.runIncremental(firstTwo, PagesRules.catalog,
      Map("hosts" -> data.hosts), cfg, dir, "run1")
    assert(r1.isDefined)
    val audit = new AuditLog(dir, spark)
    assert(audit.validatedParts() === parts.take(2).toSet)

    // re-run on the same input: nothing to do
    val r2 = Audit.runIncremental(firstTwo, PagesRules.catalog,
      Map("hosts" -> data.hosts), cfg, dir, "run2")
    assert(r2.isEmpty)

    // full table arrives: only the 2 new partitions are validated
    val r3 = Audit.runIncremental(inWindow, PagesRules.catalog,
      Map("hosts" -> data.hosts), cfg, dir, "run3")
    assert(r3.isDefined)
    val newParts = r3.get.verdicts.select("part").distinct()
      .as[String].collect().toSet - graft.engine.ValidationEngine.GlobalPart
    assert(newParts === parts.drop(2).toSet)
    assert(audit.validatedParts() === parts.toSet)

    // lineage: every verdict row carries its run_id
    val runs = audit.verdicts().select("run_id").distinct()
      .as[String].collect().toSet
    assert(runs === Set("run1", "run3"))
  }

  test("audit existence check resolves through the Hadoop FileSystem (file:-scheme URI)") {
    // a qualified file: URI exercises Path.getFileSystem resolution — the
    // java.io.File check this replaced would also pass here, but fails on
    // hdfs://s3a://; this pins the API we rely on for those
    val dir = "file://" + Files.createTempDirectory("audit_fs").toString
    val audit = new AuditLog(dir, spark)
    assert(audit.validatedParts() === Set.empty)
    assert(audit.verdicts().isEmpty)
    val data = PagesGen.generate(spark, nRows = 500L, nDays = 1)
    val r = Audit.runIncremental(
      data.pages.where(year($"warc_ts") === 2024),
      Seq(graft.rules.Required("url_required", "url")),
      Map.empty, cfg, dir, "run1")
    assert(r.isDefined)
    assert(audit.validatedParts().nonEmpty)
    // and the resume no-op works through the same FS-resolved existence
    assert(Audit.runIncremental(
      data.pages.where(year($"warc_ts") === 2024),
      Seq(graft.rules.Required("url_required", "url")),
      Map.empty, cfg, dir, "run2").isEmpty)
  }

  test("null-part rows validate exactly once; resume isin is null-safe") {
    val dir = Files.createTempDirectory("audit_null").toString
    def page(url: String, ts: Option[String], lang: String) =
      (url, ts.orNull, "<html/>".getBytes, s"text of $url", lang)
    val day1 = Seq(
      page("https://h0.example.com/a", Some("2024-01-01 01:00:00"), "en"),
      page("https://h0.example.com/nullts", None, "en"))
      .toDF("url", "ts", "html", "text", "lang")
      .select($"url", $"ts".cast("timestamp").as("warc_ts"),
        $"html", $"text", $"lang")
    // rules subset: no window/referential so the null-ts row's only part
    // role is the "(null)" bucket
    val rules = Seq(graft.rules.Required("url_required", "url"),
      graft.rules.Unique("unique_url", Seq("url")))

    val r1 = Audit.runIncremental(day1, rules, Map.empty, cfg, dir, "run1")
    assert(r1.isDefined)
    val audit = new AuditLog(dir, spark)
    // the NULL-part row was validated and keyed "(null)"
    assert(audit.validatedParts() === Set("2024-01-01", "(null)"))

    // re-run: "(null)" in the done-set must not poison the isin — with a
    // bare NOT IN, the NULL row makes every comparison NULL and ALL new
    // partitions would be dropped silently
    assert(Audit.runIncremental(day1, rules, Map.empty, cfg, dir, "run2").isEmpty)

    // a new day arrives whose url duplicates an ALREADY-VALIDATED one:
    // uniqueness is global, so the incremental run must still flag it
    val day2 = Seq(
      page("https://h0.example.com/a", Some("2024-01-02 01:00:00"), "en"),
      page("https://h0.example.com/b", Some("2024-01-02 02:00:00"), "en"))
      .toDF("url", "ts", "html", "text", "lang")
      .select($"url", $"ts".cast("timestamp").as("warc_ts"),
        $"html", $"text", $"lang")
    val r3 = Audit.runIncremental(day1.unionByName(day2), rules,
      Map.empty, cfg, dir, "run3")
    assert(r3.isDefined)
    val dupKeys = r3.get.violations
      .where($"rule_id" === "unique_url").select("key").as[String].collect()
    assert(dupKeys.toSeq === Seq("https://h0.example.com/a"))
    // global verdict counts the FULL table as checked, not just pending
    val gv = r3.get.verdicts
      .where($"rule_id" === "unique_url").select("checked", "violations")
      .as[(Long, Long)].collect().head
    assert(gv === ((4L, 1L)))
  }

  test("partition drift (re-grown or deleted partition) is re-validated, stale audit rows superseded") {
    val dir = Files.createTempDirectory("audit_drift").toString
    def mk(rows: Seq[(String, String)]) = rows
      .map { case (url, ts) => (url, ts, "<html/>".getBytes, s"text of $url", "en") }
      .toDF("url", "ts", "html", "text", "lang")
      .select($"url", $"ts".cast("timestamp").as("warc_ts"),
        $"html", $"text", $"lang")
    val rules = Seq(graft.rules.Required("url_required", "url"),
      graft.rules.Unique("unique_url", Seq("url")))
    val day1 = mk(Seq(
      "https://h0.example.com/a" -> "2024-01-01 01:00:00",
      "https://h0.example.com/b" -> "2024-01-01 02:00:00"))
    val day2 = mk(Seq(
      "https://h0.example.com/c" -> "2024-01-02 01:00:00",
      "https://h0.example.com/d" -> "2024-01-02 02:00:00"))

    val r1 = Audit.runIncremental(day1.unionByName(day2), rules,
      Map.empty, cfg, dir, "run1")
    assert(r1.isDefined)
    val audit = new AuditLog(dir, spark)
    assert(audit.validatedParts() === Set("2024-01-01", "2024-01-02"))

    // day2 is COMPACTED/RE-GROWN: rewritten with a late row merged in —
    // "has verdict rows" is no longer proof those rows were validated
    val day2b = day2.unionByName(mk(Seq(
      "https://h0.example.com/e" -> "2024-01-02 03:00:00")))
    val r2 = Audit.runIncremental(day1.unionByName(day2b), rules,
      Map.empty, cfg, dir, "run2")
    assert(r2.isDefined)
    // exactly the drifted partition was re-validated
    val revalidated = r2.get.verdicts.select("part").distinct()
      .as[String].collect().toSet - ValidationEngine.GlobalPart
    assert(revalidated === Set("2024-01-02"))
    // the global uniqueness verdict counts the LIVE table (5 rows), not a
    // stale audit reconstruction (which would say 4)
    val gv = r2.get.verdicts
      .where($"rule_id" === "unique_url").select("checked")
      .as[Long].collect().head
    assert(gv === 5L)
    // the stale run1 rows for day2 are physically gone: its verdicts carry
    // run2 lineage only, one row per rule
    val day2Rows = audit.verdicts().where($"part" === "2024-01-02")
      .select("run_id", "rule_id").as[(String, String)].collect()
    assert(day2Rows.map(_._1).toSet === Set("run2"))
    // uniqueness verdicts live under the "(global)" scope row, so the
    // per-partition lineage carries the partition-scoped rules only
    assert(day2Rows.map(_._2).toSet === Set("url_required"))
    // re-running the identical input is a no-op again (counts now match)
    assert(Audit.runIncremental(day1.unionByName(day2b), rules,
      Map.empty, cfg, dir, "run3").isEmpty)

    // day1 is DELETED outright: no rows to re-validate, but the GLOBAL
    // uniqueness verdict must be refreshed over the shrunken table (a
    // duplicate whose twin vanished is a duplicate no more) and day1's
    // audit rows must not linger as a false resume watermark
    val r4 = Audit.runIncremental(day2b, rules, Map.empty, cfg, dir, "run4")
    assert(r4.isDefined)
    val g4 = r4.get.verdicts
      .where($"rule_id" === "unique_url").select("checked", "violations")
      .as[(Long, Long)].collect().head
    assert(g4 === ((3L, 0L))) // live table only; no stale duplicate claim
    assert(audit.validatedParts() === Set("2024-01-02"))
    // and with counts consistent again, the next run is a true no-op
    assert(Audit.runIncremental(day2b, rules,
      Map.empty, cfg, dir, "run5").isEmpty)
  }

  test("content drift: a same-cardinality in-place UPDATE is caught and re-validated") {
    // count-based detection alone is blind to this exact rewrite — same
    // row count, new bytes. The content fingerprint must flag it, the
    // partition must be superseded + re-validated, and the new verdict
    // must reflect the UPDATED content.
    val dir = Files.createTempDirectory("audit_fp").toString
    def mk(rows: Seq[(String, String, String)]) = rows
      .map { case (url, ts, lang) =>
        (url, ts, "<html/>".getBytes, s"text of $url", lang) }
      .toDF("url", "ts", "html", "text", "lang")
      .select($"url", $"ts".cast("timestamp").as("warc_ts"),
        $"html", $"text", $"lang")
    val rules = Seq(graft.rules.Required("url_required", "url"),
      graft.rules.Allowed("lang_allowed", "lang", Seq("en", "de")))
    val day1 = mk(Seq(
      ("https://h0.example.com/a", "2024-01-01 01:00:00", "en"),
      ("https://h0.example.com/b", "2024-01-01 02:00:00", "en")))
    assert(Audit.runIncremental(day1, rules, Map.empty, cfg, dir, "run1")
      .isDefined)
    val audit = new AuditLog(dir, spark)
    // the verdict rows carry the partition's content fingerprint
    val fp1 = audit.latestCheckedByPart()("2024-01-01")
    assert(fp1._1 === 2L && fp1._2.isDefined)

    // identical content → true no-op (the fingerprint is deterministic)
    assert(Audit.runIncremental(day1, rules, Map.empty, cfg, dir, "run2")
      .isEmpty)

    // in-place UPDATE: same two urls, same count, one lang rewritten to
    // an ILLEGAL value — only the content differs
    val day1b = mk(Seq(
      ("https://h0.example.com/a", "2024-01-01 01:00:00", "en"),
      ("https://h0.example.com/b", "2024-01-01 02:00:00", "xx")))
    val r3 = Audit.runIncremental(day1b, rules, Map.empty, cfg, dir, "run3")
    assert(r3.isDefined, "same-count content rewrite must be detected")
    // the re-validation SAW the new bytes: lang_allowed now fails
    val v3 = r3.get.verdicts.where($"rule_id" === "lang_allowed")
      .select("part", "violations").as[(String, Long)].collect().toSet
    assert(v3 === Set(("2024-01-01", 1L)))
    // stale run1 rows superseded; fingerprint advanced to the new content
    assert(audit.verdicts().where($"part" === "2024-01-01")
      .select("run_id").distinct().as[String].collect().toSeq === Seq("run3"))
    val fp3 = audit.latestCheckedByPart()("2024-01-01")
    assert(fp3._1 === 2L && fp3._2.isDefined && fp3._2 != fp1._2)
    // and the post-update state is stable
    assert(Audit.runIncremental(day1b, rules, Map.empty, cfg, dir, "run4")
      .isEmpty)

    // with contentDrift OFF the same rewrite is (documentedly) invisible
    assert(Audit.runIncremental(day1, rules, Map.empty, cfg, dir, "run5",
      contentDrift = false).isEmpty)
  }

  test("property: incremental state after random drift equals a clean from-scratch run") {
    // randomized drift scenarios (seeded): generate a multi-day table,
    // validate; then grow/shrink/delete random partitions and resume. The
    // audit's final verdict state (latest per partition + the fresh
    // run's global row) must equal ValidationEngine.run on the mutated
    // full table — drift handling may never change WHAT is true, only
    // how little work re-establishes it. Three catalogs: a small one; the
    // pages catalog with its hosts dim (row, referential and unique rules
    // together); and more than 64 row rules, so the resume's per-rule
    // counts read the projection's second bitmask word.
    val rnd = new scala.util.Random(4242)
    val small = Seq(graft.rules.Required("url_required", "url"),
      graft.rules.Allowed("lang_allowed", "lang",
        Seq("en", "de", "fr", "es", "zh")),
      graft.rules.Unique("unique_url", Seq("url")))
    val neverFires = "url_max_1m"
    val wide = graft.rules.Required("url_required", "url") +:
      (0 until 66).map(i => graft.rules.ExprRule(s"url_hash_mod_$i", "url",
        s"pmod(hash(url), ${i + 2}) <> 0")) :+
      graft.rules.MaxLength(neverFires, "url", 1 << 20)
    val catalogs = Seq(("small", small, false),
      ("pages", PagesRules.catalog, true), ("wide", wide, false))

    for (trial <- 1 to 3; (name, rules, withHosts) <- catalogs) {
      val dir = Files.createTempDirectory(s"audit_prop${trial}_$name").toString
      val data = PagesGen.generate(spark, nRows = 3000L, nDays = 3)
      val dims: Map[String, org.apache.spark.sql.DataFrame] =
        if (withHosts) Map("hosts" -> data.hosts) else Map.empty
      val base = data.pages.where(year($"warc_ts") === 2024)
        .localCheckpoint(true)
      assert(Audit.runIncremental(base, rules, dims, cfg, dir,
        s"t${trial}_run1").isDefined)

      val parts = base.select(date_format($"warc_ts", "yyyy-MM-dd"))
        .distinct().as[String].collect().sorted
      // mutate one random partition per shape: grow one, delete another
      val grow = parts(rnd.nextInt(parts.length))
      val others = parts.filterNot(_ == grow)
      val drop = others(rnd.nextInt(others.length))
      val extra = base.where(date_format($"warc_ts", "yyyy-MM-dd") === grow)
        .limit(5).withColumn("url", concat($"url", lit(s"?re$trial")))
      val mutated = base
        .where(date_format($"warc_ts", "yyyy-MM-dd") =!= drop)
        .unionByName(extra)
        .localCheckpoint(true)

      val r2 = Audit.runIncremental(mutated, rules, dims, cfg, dir,
        s"t${trial}_run2")
      assert(r2.isDefined, s"trial $trial $name: drift not detected")

      // ground truth: clean full run on the mutated table
      val clean = ValidationEngine.run(mutated, rules, dims, cfg)
      def canon(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Long)] =
        df.select($"part", $"rule_id", $"checked", $"violations")
          .as[(String, String, Long, Long)].collect().toSet
      val audit = new AuditLog(dir, spark)
      // audit state: latest verdict row per (part, rule) — per-partition
      // rows are superseded in place; the global row's latest run (by
      // audit_ts) is the resume's, which reflects live counts
      val latest = canonLatest(audit)
      assert(canon(clean.verdicts) === latest, s"trial $trial $name")
      if (name == "wide") {
        // a rule that never fires still gets one passing row per part
        val never = latest.filter(_._2 == neverFires)
        assert(never.map(_._1) === parts.toSet - drop, s"trial $trial")
        assert(never.forall(_._4 == 0L), s"trial $trial")
        assert(latest.exists(v => v._2 == "url_hash_mod_65" && v._4 > 0L))
      }
    }
  }

  test("no-op resume: one audit read and one drift scan, no pending scan") {
    import org.apache.spark.scheduler._
    val root = Files.createTempDirectory("audit_jobs").toString
    val data = PagesGen.generate(spark, nRows = 2000L, nDays = 2)
    data.pages.where(year($"warc_ts") === 2024)
      .write.parquet(s"$root/table")
    // resolved (schema read) before the listener starts counting
    val table = spark.read.parquet(s"$root/table")
    val tableRows = table.count()
    def resume(runId: String) = Audit.runIncremental(table,
      PagesRules.catalog, Map("hosts" -> data.hosts), cfg, s"$root/audit",
      runId)
    assert(resume("run1").isDefined)
    val auditRows = new AuditLog(s"$root/audit", spark).verdicts().count()

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val rowsRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics)
          .foreach(m => rowsRead.addAndGet(m.inputMetrics.recordsRead))
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      assert(resume("run2").isEmpty)
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    // the audit read (footer merge + scan) and the drift scan (map stage +
    // result stage)
    assert(jobs.get <= 4, s"no-op resume ran ${jobs.get} jobs")
    // the table is read once, by the drift scan: no emptiness probe and no
    // pending pass over it
    assert(rowsRead.get <= tableRows + auditRows,
      s"no-op resume read ${rowsRead.get} rows; table $tableRows, audit $auditRows")
  }

  private def canonLatest(audit: AuditLog): Set[(String, String, Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"part", $"rule_id").orderBy($"audit_ts".desc)
    audit.verdicts().withColumn("_rk", row_number().over(w))
      .where($"_rk" === 1)
      .select($"part", $"rule_id", $"checked", $"violations")
      .as[(String, String, Long, Long)].collect().toSet
  }
}
