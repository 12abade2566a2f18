package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.CorpusPipeline

/** Seeded web-document generator for the corpus funnel. Every document is
  * a pure function of `(id, seed)`, built as Catalyst expressions over
  * `spark.range`. Anchors (`id % 100 == 0`) stay clean; every other id
  * falls in at most one plant bucket, chosen by a hash in [0, 1000):
  *  - url variant of its anchor's url (case, tracking parameter, fragment,
  *    default port), own text: dropped by url dedup;
  *  - exact duplicate of its anchor's text up to case and whitespace:
  *    dropped by exact dedup;
  *  - near duplicate: its anchor's text with one word replaced;
  *  - boilerplate: a shared 45-word span followed by 55 own words, under
  *    the near-dup threshold but over the span gate's bound;
  *  - a 3-word document or a disallowed language: dropped by the quality
  *    rules.
  * 30% of documents live on one host, which the per-host cap trims.
  */
object DocsGen {
  val UrlHi = 20L        // [0, 20)   2.0% url variants
  val ExactHi = 40L      // [20, 40)  2.0% exact duplicates
  val NearHi = 60L       // [40, 60)  2.0% near duplicates
  val BoilerHi = 75L     // [60, 75)  1.5% boilerplate spans
  val ShortHi = 85L      // [75, 85)  1.0% too short
  val LangHi = 90L       // [85, 90)  0.5% disallowed language
  val BoilerWords = 45
  val NumHosts = 50

  private val syllables = Seq("ka", "lo", "mi", "ne", "ru", "ta", "vi", "so",
    "pe", "da", "fu", "ri", "go", "la", "me", "zu")

  private def h(id: Column, seed: Long, k: Int): Column =
    xxhash64(id, lit(seed), lit(k))

  /** Word `j` of the text whose content id is `cid`: three syllables
    * picked by a hash (4096 distinct words).
    */
  private def word(cid: Column, seed: Long, j: Column): Column = {
    val w = pmod(xxhash64(cid, lit(seed), lit(7), j), lit(4096L))
    val syl = array(syllables.map(lit): _*)
    def at(k: Column) = element_at(syl, (pmod(k, lit(16L)) + 1).cast("int"))
    concat(at(w), at(w / 16), at(w / 256))
  }

  private def words(cid: Column, seed: Long, n: Column): Column =
    transform(sequence(lit(0), n - 1), j => word(cid, seed, j))

  def bucket(id: Column, seed: Long): Column =
    when(id % 100 === 0, lit(-1L)).otherwise(pmod(h(id, seed, 0), lit(1000L)))

  def anchor(id: Column): Column = id - id % 100

  private def host(id: Column, seed: Long): Column = {
    val r = pmod(h(id, seed, 2), lit(100L))
    when(r < 30, lit(0L)).otherwise(pmod(r, lit(NumHosts - 1L)) + 1)
  }

  def generate(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    val b = bucket(id, seed)
    val a = anchor(id)
    val nWords = (pmod(h(id, seed, 3), lit(30L)) + 60).cast("int")
    val anchorWords = (pmod(h(a, seed, 3), lit(30L)) + 60).cast("int")
    val baseText = array_join(words(id, seed, nWords), " ")
    val anchorText = array_join(words(a, seed, anchorWords), " ")
    val swap = pmod(h(id, seed, 4), anchorWords.cast("long")).cast("int")
    val nearText = array_join(transform(sequence(lit(0), anchorWords - 1), j =>
      when(j === swap, concat(word(id, seed, j), lit("x")))
        .otherwise(word(a, seed, j))), " ")
    val boilerText = array_join(concat(
      words(lit(-7L), seed, lit(BoilerWords)),
      words(id, seed, lit(100 - BoilerWords))), " ")
    val text =
      when(b >= UrlHi && b < ExactHi,
        concat(lit("  "), upper(substring(anchorText, 1, 1)),
          regexp_replace(substring(anchorText, 2, 100000), " ", "  ")))
        .when(b >= ExactHi && b < NearHi, nearText)
        .when(b >= NearHi && b < BoilerHi, boilerText)
        .when(b >= BoilerHi && b < ShortHi, array_join(words(id, seed, lit(3)), " "))
        .otherwise(baseText)

    def urlOf(i: Column): Column = concat(lit("https://host"),
      host(i, seed).cast("string"), lit(".example.com/doc/"), i.cast("string"))
    val hostA = host(a, seed).cast("string")
    val variant = pmod(h(id, seed, 5), lit(3L))
    val url = when(b >= 0 && b < UrlHi,
        when(variant === 0, concat(lit("HTTPS://HOST"), hostA,
          lit(".EXAMPLE.COM/doc/"), a.cast("string"), lit("?utm_source=feed")))
          .when(variant === 1, concat(urlOf(a), lit("/#section")))
          .otherwise(concat(lit("https://host"), hostA,
            lit(".example.com:443/doc/"), a.cast("string"), lit("?gclid=x"))))
      .otherwise(urlOf(id))
    val langs = array(Seq("en", "de", "fr", "es").map(lit): _*)
    val lang = when(b >= ShortHi && b < LangHi, lit("xx"))
      .otherwise(element_at(langs, (pmod(h(id, seed, 6), lit(4L)) + 1).cast("int")))

    spark.range(n).select(id.as("doc_id"), url.as("url"), text.as("text"),
      lang.as("lang"), concat(lit("crawl-"), (id % 4).cast("string")).as("source"))
  }

  /** Planted counts per bucket kind, straight from the generator. */
  def planted(spark: SparkSession, n: Long, seed: Long): Map[String, Long] = {
    val b = bucket(col("id"), seed)
    val r = spark.range(n).agg(
      sum(when(b >= 0 && b < UrlHi, 1L).otherwise(0L)),
      sum(when(b >= UrlHi && b < ExactHi, 1L).otherwise(0L)),
      sum(when(b >= ExactHi && b < NearHi, 1L).otherwise(0L))).collect().head
    Map("url" -> r.getLong(0), "exact" -> r.getLong(1), "near" -> r.getLong(2))
  }
}

/** `corpus_funnel`: `CorpusPipeline.build` with every optional stage on,
  * its kept corpus written to parquet, over the [[DocsGen]] corpus.
  */
object CorpusFunnel {
  val Docs = 2000L
  val Threshold = 0.35
  val MaxSpanFraction = 0.25
  val MaxDocsPerHost = 50

  /** Funnel stages in the order `build` materializes them. */
  val Materialized: Seq[String] = Seq("url_dedup", "exact_dedup", "near_dup",
    "span_gate", "quality", "host_cap")

  /** The funnel over one generated corpus: its input, its sink, and a
    * handle on each stage of the last build for the oracle.
    */
  final class Funnel(ctx: Ctx) {
    import ctx.spark
    private val inputDir = ctx.dir("corpus_funnel/docs")
    private val sink = ctx.dir("corpus_funnel/kept")
    private val captured = mutable.ArrayBuffer.empty[DataFrame]
    lazy val planted: Map[String, Long] = DocsGen.planted(spark, Docs, ctx.seed)

    def generate(): Unit =
      DocsGen.generate(spark, Docs, ctx.seed).repartition(ctx.cores)
        .write.mode("overwrite").parquet(inputDir)

    /** `build`'s own default barrier, plus a span and a handle on the
      * stage.
      */
    private def materialize(df: DataFrame): DataFrame =
      ctx.spans(s"funnel.${Materialized(captured.size)}") {
        val m = df.localCheckpoint(false)
        captured += m
        m
      }

    /** One build, its kept corpus written; returns the stage report. */
    def op(): Map[String, Long] = ctx.spans("corpus_funnel.op") {
      captured.clear()
      val (kept, report) = ctx.spans("build")(CorpusPipeline.build(
        spark.read.parquet(inputDir), "doc_id", "text", "lang", "source",
        nearDupThreshold = Threshold,
        maxRepeatedSpanFraction = Some(MaxSpanFraction),
        canonicalizeUrlCol = Some("url"),
        maxDocsPerKey = Some(MaxDocsPerHost),
        materialize = materialize))
      ctx.spans("funnel.sample_shard") {
        kept.write.mode("overwrite").parquet(sink)
        report.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      }
    }

    def checkReport(r: Map[String, Long]): Boolean =
      ctx.spans("check")(CorpusFunnel.checkReport(ctx, r, planted))

    /** The last build's stages against the near-dup oracle. */
    def checkNearDrops(): Boolean = ctx.spans("check")(
      CorpusFunnel.checkNearDrops(ctx, Materialized.zip(captured).toMap, planted))

    /** Funnel and dedup per-layer metrics from the traced builds. */
    def layers(m: mutable.LinkedHashMap[String, Double],
        report: Map[String, Long]): Unit = {
      funnelLayers(ctx, m, report)
      dedupCalls(ctx, m, captured(Materialized.indexOf("exact_dedup")),
        planted("near"))
    }
  }

  def run(ctx: Ctx): Outcome = {
    val f = new Funnel(ctx)
    val setupS = ctx.setupSeconds(3, { f.op(); f.op() })(_ => f.generate())

    val opS = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val bytes = mutable.ArrayBuffer.empty[Double]
    var report = Map.empty[String, Long]
    ctx.loop(ctx.seconds) { _ =>
      val (r, s, used) = ctx.timed(f.op())
      report = r
      opS += s; cpu += used.cpuNs / 1e3 / Docs
      bytes += used.outBytes.toDouble / Docs
      f.checkReport(r)
    }
    if (!f.checkNearDrops()) ctx.failed += 1
    println(f"[perfbench] corpus_funnel funnel_docs_per_s " +
      f"${Docs / Stats.median(opS.toSeq)}%.6g docs/s (n=${opS.size})")

    if (!ctx.trace) Outcome(Seq(
      "rows_per_s" -> Metric(Docs / Stats.median(opS.toSeq), "rows/s"),
      "cpu_us_per_row" -> Metric(Stats.median(cpu.toSeq), "us/row"),
      "bytes_written_per_row" -> Metric(Stats.median(bytes.toSeq), "B/row"),
      "setup_s" -> Metric(setupS, "s")))
    else {
      val m = mutable.LinkedHashMap.empty[String, Double]
      m("host.capacity_probe_s") = graft.Bench.capacityProbeSec()
      m("trace.overhead_frac") = ctx.overheadFrac
      f.layers(m, report)
      Layers.complete(m)
    }
  }

  /** The funnel's per-layer metrics without its timed loop: one warm and
    * one traced build, both checked. The traced `full_pass` run calls this
    * so that the `text`/`dedup` layers are measured on a listed workload.
    */
  def layerSweep(ctx: Ctx, m: mutable.LinkedHashMap[String, Double]): Unit = {
    val f = new Funnel(ctx)
    ctx.spans("setup.funnel") { f.generate(); f.op() }
    ctx.spans.nextRun()
    val r = f.op()
    val ok = f.checkReport(r) & f.checkNearDrops()
    if (!ok) ctx.failed += 1
    ctx.attempted += 1
    f.layers(m, r)
  }

  /** Report counts: url and exact dedup remove exactly the planted
    * documents, and the funnel never grows.
    */
  def checkReport(ctx: Ctx, r: Map[String, Long],
      planted: Map[String, Long]): Boolean = {
    val order = Seq("input", "url_dedup", "exact_dedup", "near_dedup",
      "span_gate", "quality", "host_cap", "sample")
    val counts = order.map(r.getOrElse(_, -1L))
    ctx.check(r.get("input").contains(Docs), s"input count ${r.get("input")}") &
      ctx.check(r.get("url_dedup").contains(Docs - planted("url")),
        s"url dedup kept ${r.get("url_dedup")}, planted ${planted("url")} variants") &
      ctx.check(r.get("exact_dedup").contains(Docs - planted("url") - planted("exact")),
        s"exact dedup kept ${r.get("exact_dedup")}, planted ${planted("exact")} copies") &
      ctx.check(counts.forall(_ >= 0) && counts.zip(counts.tail).forall {
        case (a, b) => b <= a }, s"funnel counts not monotone: $counts")
  }

  /** Word 3-shingle set of a text, as the oracle computes it. */
  private def shingles(text: Column): Column = {
    val w = split(trim(lower(text)), "\\s+")
    array_distinct(transform(sequence(lit(1), greatest(size(w) - 2, lit(1))),
      i => concat_ws(" ", slice(w, i, lit(3)))))
  }

  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Every document the near-dup stage dropped has a partner in its input
    * with Jaccard at or above the threshold: its planted anchor, or else
    * the best match found by brute force.
    */
  def checkNearDrops(ctx: Ctx, stages: Map[String, DataFrame],
      planted: Map[String, Long]): Boolean = {
    val in = stages("exact_dedup").select(col("doc_id"),
      shingles(col("text")).as("sh")).localCheckpoint(true)
    val dropped = in.join(stages("near_dup").select("doc_id"), Seq("doc_id"),
      "left_anti")
    val b = DocsGen.bucket(col("doc_id"), ctx.seed)
    val isPlant = b >= DocsGen.ExactHi && b < DocsGen.NearHi
    val partners = in.select(col("doc_id").as("p_id"), col("sh").as("p_sh"))
    val plantedOk = dropped.where(isPlant)
      .join(partners, DocsGen.anchor(col("doc_id")) === col("p_id"), "left")
      .where(col("p_sh").isNull || jaccard(col("sh"), col("p_sh")) < Threshold)
      .count()
    val unplanted = dropped.where(!isPlant).collect()
    val others = if (unplanted.isEmpty) 0L else
      dropped.where(!isPlant).crossJoin(partners)
        .where(col("doc_id") =!= col("p_id"))
        .groupBy("doc_id").agg(max(jaccard(col("sh"), col("p_sh"))).as("best"))
        .where(col("best") < Threshold).count()
    ctx.check(plantedOk == 0 && others == 0,
      s"near-dup drops without a partner at >= $Threshold: " +
        s"$plantedOk planted, $others other")
  }

  private def funnelLayers(ctx: Ctx, m: mutable.LinkedHashMap[String, Double],
      report: Map[String, Long]): Unit = {
    val att = new Attribution(ctx.rec, ctx.spans)
    // the traced builds: top-level, outside set-up
    val ops = ctx.spans.spans.filter(s => s.name == "corpus_funnel.op" &&
      s.parent == -1)
    val names = ("input" +: Materialized.map {
      case "near_dup" => "near_dedup"
      case s => s
    }) :+ "sample"
    Layers.Funnel.zip(names.sliding(2).toSeq).foreach {
      case (stage, Seq(prev, cur)) =>
        val spansOf = ctx.spans.spans.filter(s => s.name == s"funnel.$stage" &&
          ops.exists(o => s.runId == o.runId))
        m(s"funnel.${stage}_s") =
          Stats.median(spansOf.map(s => (s.end - s.start) / 1e3))
        m(s"funnel.${stage}_survivor_frac") =
          report.getOrElse(cur, 0L).toDouble / math.max(1L, report.getOrElse(prev, 0L))
      case _ =>
    }
    val aggs = ops.map(o => Agg.of(ctx.rec, att.jobsIn(s => s.runId == o.runId &&
      s.start >= o.start && s.end <= o.end), o.start, o.end, ctx.cores))
    val stageCounts = ops.map { o =>
      val jobs = att.jobsIn(s => s.runId == o.runId && s.start >= o.start &&
        s.end <= o.end)
      val all = jobs.toSeq.flatMap(j => att.job(j).stageIds)
      val run = all.count(ctx.rec.submittedStages.contains)
      (run.toDouble, (all.size - run).toDouble)
    }
    m("funnel.jobs") = Stats.median(aggs.map(_.jobs.toDouble))
    m("funnel.stages_run") = Stats.median(stageCounts.map(_._1))
    m("funnel.stages_skipped") = Stats.median(stageCounts.map(_._2))
    m("funnel.task_s") = Stats.median(aggs.map(_.taskS))
    m("funnel.shuffle_write_bytes") = Stats.median(aggs.map(_.shuffleWriteBytes.toDouble))
    m("funnel.scheduler_delay_s") = Stats.median(aggs.map(_.schedDelayS))
    m("funnel.idle_core_frac") = Stats.median(aggs.map(_.idleCoreFrac))
  }

  /** The near-dup stage's building blocks called on their own, on the
    * frame `build` hands to them (the exact-dedup survivors).
    */
  private def dedupCalls(ctx: Ctx, m: mutable.LinkedHashMap[String, Double],
      exact: DataFrame, nPlanted: Long): Unit = {
    ctx.spans.nextRun()
    val (cands, verified) = ctx.spans("dedup.calls") {
      val withSig = Dedup.withMinHash(exact, "text", numHashes = 64, k = 3)
      val cands = Dedup.lshCandidates(withSig, "doc_id", bands = 21,
        maxBucketSize = 200).localCheckpoint(true)
      val verified = Dedup.jaccardVerify(exact, cands, "doc_id", "text", 3)
        .where(col("jaccard") >= Threshold).localCheckpoint(true)
      (cands, verified)
    }
    val b = DocsGen.bucket(col("b_id"), ctx.seed)
    val found = verified.where(b >= DocsGen.ExactHi && b < DocsGen.NearHi &&
      col("a_id") === DocsGen.anchor(col("b_id"))).count()
    val nCands = cands.count()
    val nVerified = verified.count()
    m("dedup.lsh_candidate_pairs") = nCands
    m("dedup.verified_pairs") = nVerified
    m("dedup.verified_per_candidate") = nVerified.toDouble / math.max(1L, nCands)
    m("dedup.planted_recall") = found.toDouble / math.max(1L, nPlanted)
  }
}
