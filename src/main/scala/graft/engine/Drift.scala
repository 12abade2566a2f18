package graft.engine

import org.apache.spark.sql.{DataFrame, Row}
import graft.model.DriftReport

/** Distribution-drift checks (north_star "distribution-drift via KS/PSI on
  * histograms per warc_ts partition"; scaled-up analog of the reference's
  * stored-copy-vs-recompute consistency checks, SURVEY.md §2.10 R14/R16).
  *
  * Executors compute per-partition histograms ([[StatsPass.histogram]]) —
  * that's the only big-data work. The histograms themselves are tiny
  * (partitions × bins), so PSI and the KS statistic are computed on the
  * driver, exactly like merging sketches from a stats pass.
  */
object Drift {

  /** hist: rows of (part, bin, n). Returns dense bin→count maps. */
  private def toMaps(hist: DataFrame): Map[String, Map[Long, Long]] = {
    hist.collect().foldLeft(Map.empty[String, Map[Long, Long]]) {
      case (acc, Row(part: String, bin: Long, n: Long)) =>
        acc.updated(part, acc.getOrElse(part, Map.empty).updated(bin, n))
      case (acc, _) => acc
    }
  }

  /** Population Stability Index between two binned distributions.
    * Standard eps-smoothing so empty bins don't yield infinities.
    */
  def psi(base: Map[Long, Long], cur: Map[Long, Long], eps: Double = 1e-6): Double = {
    val bins = (base.keySet ++ cur.keySet).toSeq.sorted
    val bTot = math.max(base.values.sum, 1L).toDouble
    val cTot = math.max(cur.values.sum, 1L).toDouble
    bins.map { b =>
      val p = math.max(base.getOrElse(b, 0L) / bTot, eps)
      val q = math.max(cur.getOrElse(b, 0L) / cTot, eps)
      (q - p) * math.log(q / p)
    }.sum
  }

  /** Two-sample KS statistic over binned CDFs (exact on the binned data). */
  def ks(base: Map[Long, Long], cur: Map[Long, Long]): Double = {
    val bins = (base.keySet ++ cur.keySet).toSeq.sorted
    val bTot = math.max(base.values.sum, 1L).toDouble
    val cTot = math.max(cur.values.sum, 1L).toDouble
    var cb = 0.0; var cc = 0.0; var d = 0.0
    bins.foreach { b =>
      cb += base.getOrElse(b, 0L) / bTot
      cc += cur.getOrElse(b, 0L) / cTot
      d = math.max(d, math.abs(cb - cc))
    }
    d
  }

  /** Compare each partition against the PREVIOUS partition (sorted order) —
    * the daily-crawl drift check. Emits one PSI and one KS report per
    * partition transition.
    */
  def againstPrevious(hist: DataFrame, column: String,
      psiThreshold: Double = 0.2, ksThreshold: Double = 0.2): Seq[DriftReport] = {
    val maps = toMaps(hist)
    val parts = maps.keys.toSeq.sorted
    parts.sliding(2).collect { case Seq(prev, curr) =>
      val p = psi(maps(prev), maps(curr))
      val k = ks(maps(prev), maps(curr))
      Seq(
        DriftReport(curr, prev, "psi", column, p, psiThreshold, p <= psiThreshold),
        DriftReport(curr, prev, "ks", column, k, ksThreshold, k <= ksThreshold))
    }.flatten.toSeq
  }

  /** Compare every partition against a pinned baseline partition. */
  def againstBaseline(hist: DataFrame, basePart: String, column: String,
      psiThreshold: Double = 0.2, ksThreshold: Double = 0.2): Seq[DriftReport] = {
    val maps = toMaps(hist)
    val base = maps.getOrElse(basePart,
      throw new IllegalArgumentException(s"baseline partition $basePart absent"))
    maps.keys.toSeq.sorted.filterNot(_ == basePart).flatMap { part =>
      val p = psi(base, maps(part))
      val k = ks(base, maps(part))
      Seq(
        DriftReport(part, basePart, "psi", column, p, psiThreshold, p <= psiThreshold),
        DriftReport(part, basePart, "ks", column, k, ksThreshold, k <= ksThreshold))
    }
  }
}
