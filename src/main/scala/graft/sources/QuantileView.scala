package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SnapshotStore.Gap

/** Incrementally-maintained APPROXIMATE-QUANTILE view — the maintained
  * counterpart of the a35 serving trick, closing the one documented IVM
  * decline (COVERAGE.md: KLL nondeterminism, GK merge order-sensitivity).
  *
  * Storage is the [[FixedBinHistogram]] keyed by metric: signed counts
  * per (metric, bucket, bin) with bucket = e div grainSec, under edges
  * frozen PER METRIC (observed range ± a margin, default 25%) in the
  * versioned `_edges/v<viewV>` sidecar. Counts are retractable, the
  * estimate is bit-reproducible arithmetic over (counts, edges), and
  * |est − exact| ≤ 2·w of the CURRENT freeze.
  *
  * The price of determinism is a FROZEN value envelope: a delta that
  * escapes it (or a brand new metric) takes ONE full rebuild that
  * refreezes, doubling the margins of the ESCAPING metrics only (capped
  * at [[MaxMargin]]) — one drifting counter never coarsens its
  * neighbors' bins, and a monotone-drifting metric pays O(log drift)
  * rebuilds. A bootstrap/compaction rebuild resets every margin to the
  * default; [[retighten]] does so on demand.
  *
  * What is this view's own: the grain stamp, the `_keymode` keying
  * marker, [[retighten]], the source diffs (manifest-diff appends, signed
  * partials from the row change feed for churn, rebuild across a
  * compaction; resume position = the source version stamped as the
  * view's epoch, so a replayed refresh is a true no-op) and the null-row
  * refusal: NULL metric/value rows are out of contract and a rebuild
  * refuses them.
  */
object QuantileView {

  val DefaultBins = FixedBinHistogram.DefaultBins
  val DefaultMargin = FixedBinHistogram.DefaultMargin
  val MaxMargin = FixedBinHistogram.MaxMargin

  private val hist = new FixedBinHistogram(Seq("metric"), "_edges")

  /** The count keys: the estimator partitions by (metric, bucket). */
  private val Keys = Seq("metric", "bucket")

  private def grouping(grainSec: Long): Seq[Column] =
    Seq(col("metric"), expr(s"e div $grainSec").as("bucket"))

  // ---- sidecar keying marker ------------------------------------------
  // Edges sidecars are keyed by VIEW version; an older generation keyed
  // them by SOURCE version. The two are indistinguishable from the
  // directory names alone, and mis-reading one as the other is silent
  // corruption in both directions: dropOrphanEdges would DELETE a legacy
  // freeze keyed above the view version (leaving the view unreadable),
  // and resolution would pair a STALE low-keyed freeze with rebuilt
  // counts (silently wrong quantiles). So every sidecar write stamps
  // `_edges/_keymode`, and a marker-less store is handled by
  // [[checkEdgesKeying]]: provably-safe configurations (every key ≤ the
  // view version — max-at-or-below resolution picks the same, newest,
  // freeze under EITHER keying, since both keyings grow monotonically)
  // are stamped in place; a key ABOVE the view version is ambiguous
  // (r-16 crash orphan vs legacy live freeze) and REFUSES loudly — the
  // agg-join views' spec-mismatch posture — with [[retighten]] as the documented
  // migration (its full refreeze obsoletes every older sidecar, and it
  // stamps the marker).

  private def keymodePath(viewRoot: String) =
    java.nio.file.Paths.get(viewRoot, "_edges", "_keymode")

  private def markViewKeyed(viewRoot: String): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(viewRoot, "_edges"))
    java.nio.file.Files.write(keymodePath(viewRoot), "view".getBytes("UTF-8"))
  }

  /** Marker-less-store gate (see the keying-marker comment): stamp the
    * provably-equivalent configurations, refuse the ambiguous one. */
  private def checkEdgesKeying(viewRoot: String): Unit = {
    if (java.nio.file.Files.exists(keymodePath(viewRoot))) return
    val keys = hist.edgeKeys(viewRoot)
    if (keys.isEmpty) return
    val cap = SnapshotStore.currentVersion(viewRoot)
    if (keys.exists(_ > cap))
      sys.error(
        s"edges sidecar v${keys.filter(_ > cap).max} at $viewRoot/_edges is " +
          s"keyed above the view's version v$cap with no keying marker — " +
          "either a legacy SOURCE-version-keyed freeze (treating it as a " +
          "crash orphan would destroy the view's only edges) or a crashed " +
          "rebuild's orphan (treating it as a freeze would pair stale " +
          "counts with it). Run QuantileView.retighten(src, view) to " +
          "refreeze under view-version keying, or delete the directory if " +
          "you know it is an orphan.")
    markViewKeyed(viewRoot)
  }

  // ---- grain stamp (the RollupView guard, for the raw-Long grain) ----
  // partials key on (metric, bucket, bin) with bucket = e div grainSec;
  // a refresh at a DIFFERENT grainSec than the bootstrap would silently
  // mix bucket widths in one store — stamp the first publish, refuse a
  // mismatched mutating/compensating call afterward. Pre-stamp stores
  // (older views) stamp on their next refresh.

  private def grainPath(viewRoot: String) =
    java.nio.file.Paths.get(viewRoot, "_grainsec")

  private def storedGrainSec(viewRoot: String): Option[Long] =
    if (java.nio.file.Files.exists(grainPath(viewRoot)))
      scala.util.Try(new String(
        java.nio.file.Files.readAllBytes(grainPath(viewRoot)), "UTF-8")
        .trim.toLong).toOption
    else None

  private def requireGrainSec(viewRoot: String, g: Long, op: String): Unit =
    storedGrainSec(viewRoot).foreach(stored => require(stored == g,
      s"$op at $viewRoot asked for grainSec $g but the view is " +
        s"maintained at $stored — pass the view's own grain (a " +
        "mismatched refresh would corrupt the store)"))

  /** Stamp after a publish so the guard bites from the second call on. */
  private def stampGrainSec(viewRoot: String, g: Long): Unit =
    if (storedGrainSec(viewRoot).isEmpty &&
        SnapshotStore.currentVersion(viewRoot) > 0)
      java.nio.file.Files.write(grainPath(viewRoot),
        g.toString.getBytes("UTF-8"))

  /** The newest frozen edges at or below the view's current VERSION —
    * (metric, lo, w, bins, margin). A reader during a rebuild —
    * including [[retighten]] on an ALREADY-FRESH view, where the source
    * stamp cannot advance — keeps pairing the old edges with the old
    * counts (the [[FixedBinHistogram]] sidecar protocol). */
  def edgesFor(spark: SparkSession, viewRoot: String): DataFrame = {
    checkEdgesKeying(viewRoot)
    hist.edgesFor(spark, viewRoot)
  }

  /** One full rebuild at source version `srcCur`: refreeze edges under
    * `margins`, re-bin, publish (bootstrap appends, anything later
    * compacts) — shared by [[refresh]]'s rebuild exits and
    * [[retighten]]. */
  private def rebuildAt(spark: SparkSession, srcRoot: String,
                        viewRoot: String, grainSec: Long, bins: Int,
                        srcCur: Int, margins: Map[Seq[Any], Double]): Int = {
    val full = SnapshotStore.read(spark, srcRoot, srcCur)
    val ed = hist.freezeEdges(full, "value", bins, margins).localCheckpoint(true)
    // the contract gate rides the freeze's own aggregate (model-sized,
    // driver-cheap here): NULL metric/value rows cannot bin — refuse
    // before anything publishes
    require(ed.where(col("metric").isNull || col("__nnull") > 0).isEmpty,
      s"null metric/value row(s) in source v$srcCur — out of the " +
        "quantile view contract (they cannot bin); filter them before " +
        "maintaining the view")
    // the keying marker lands before the sidecar, so even a crash
    // orphan of this freeze is marked
    markViewKeyed(viewRoot)
    hist.publishFreeze(ed, hist.binned(full, ed, grouping(grainSec), "value",
      lit(1L)), viewRoot, srcCur)
  }

  /** RE-TIGHTEN a drifted view: one explicit full rebuild that refreezes
    * EVERY metric at the default margin, restoring the ≤ 2·w accuracy a
    * drifting metric traded away through escape-doubled margins.
    * Escape refreezes only ever GROW margins (amortizing maintenance
    * during active drift); once the drift stabilizes, nothing shrinks
    * them back — this is the operator's deliberate accuracy reclaim,
    * priced honestly at one O(table) rebuild (the same price class as
    * the view's own compaction, whose stamp mechanics it shares). Also
    * brings a lagging view current as a side effect (the rebuild runs
    * at the source's CURRENT version). */
  def retighten(spark: SparkSession, srcRoot: String, viewRoot: String,
                grainSec: Long = 86400L, bins: Int = DefaultBins): Int = {
    val srcCur = SnapshotStore.currentVersion(srcRoot)
    require(srcCur > 0, s"no published source version at $srcRoot")
    require(SnapshotStore.lastEpoch(viewRoot).nonEmpty,
      s"no refreshed quantile view at $viewRoot — refresh() bootstraps")
    requireGrainSec(viewRoot, grainSec, "retighten")
    val v = rebuildAt(spark, srcRoot, viewRoot, grainSec, bins, srcCur, Map.empty)
    stampGrainSec(viewRoot, grainSec)
    SnapshotStore.recordViewBaseline(srcRoot, viewRoot, srcCur)
    v
  }

  /** The source gap's signed bin counts under the frozen edges `ed` —
    * an appended gap bins its rows at +1, a churned gap its row change
    * feed at ±1 — or, when a positive row escapes the envelope
    * (or carries a new/NULL metric or a NULL value), the escaping
    * metrics: [[refresh]] refreezes, [[compensatedQuantiles]] declines.
    * Delete-side NULL rows were never binned, so skipping them IS their
    * retraction. One definition for both, so compensated serving is
    * bit-equal to refresh-then-serve. */
  private def gapCounts(gap: Gap, ed: DataFrame,
                        grainSec: Long): Either[Set[Seq[Any]], DataFrame] = {
    val (rows, positive, sign) = gap match {
      case a: Gap.Appended =>
        val delta = a.rows()
        (delta, delta, lit(1L))
      case c: Gap.Churned =>
        val insert = col("_change_type") === "insert"
        (c.changes, c.changes.where(insert), when(insert, 1L).otherwise(-1L))
      case other => sys.error(s"no bin counts over a $other gap")
    }
    val esc = hist.escaping(positive, ed, "value")
    if (esc.nonEmpty) Left(esc)
    else Right(hist.binned(rows, ed, grouping(grainSec), "value", sign))
  }

  /** Bring the view up to the source's current version. The source is a
    * (metric, e, value) series store. Returns the view version. */
  def refresh(spark: SparkSession, srcRoot: String, viewRoot: String,
              grainSec: Long = 86400L, bins: Int = DefaultBins): Int = {
    val srcCur = SnapshotStore.currentVersion(srcRoot)
    require(srcCur > 0, s"no published source version at $srcRoot")
    requireGrainSec(viewRoot, grainSec, "refresh")
    val from = SnapshotStore.lastEpoch(viewRoot).map(_.toInt).getOrElse(0)
    if (srcCur <= from) return SnapshotStore.currentVersion(viewRoot)
    // clear crashed-rebuild sidecar orphans FIRST: the append/churn exits
    // below create the next view version without writing edges, which
    // must not resurrect a freeze whose counts never published. The
    // keying gate runs before the drop — a marker-less legacy sidecar
    // above the view version must refuse, not be deleted as an orphan.
    checkEdgesKeying(viewRoot)
    hist.dropOrphanEdges(viewRoot)
    // every exit below publishes the view at cursor srcCur — stamp the
    // grain and pin the source's vacuum afterward (viewrefs guard; a
    // crash leaves no false pin and no false stamp)
    def recorded(v: Int): Int = {
      stampGrainSec(viewRoot, grainSec)
      SnapshotStore.recordViewBaseline(srcRoot, viewRoot, srcCur)
      v
    }
    def rebuild(margins: Map[Seq[Any], Double]): Int =
      recorded(rebuildAt(spark, srcRoot, viewRoot, grainSec, bins, srcCur, margins))

    if (from == 0) return rebuild(Map.empty)
    SnapshotStore.gap(spark, srcRoot, from, srcCur) match {
      case g @ (_: Gap.Appended | _: Gap.Churned) =>
        val ed = edgesFor(spark, viewRoot).localCheckpoint(true)
        // an escape (a null row too — the rebuild's gate refuses it)
        // refreezes with the ESCAPING metrics' margins doubled
        gapCounts(g, ed, grainSec) match {
          case Left(esc) => rebuild(hist.grownMargins(ed, esc))
          case Right(counts) =>
            recorded(SnapshotStore.appendEpoch(counts, viewRoot, srcCur))
        }
      // a compaction or a vacuumed baseline broke the diff (a recorded
      // feed rebuilds too: only the rollup engine reads one)
      case _ => rebuild(Map.empty)
    }
  }

  /** Net bin counts per (metric, bucket, bin) — the fold read. */
  def read(spark: SparkSession, viewRoot: String): DataFrame =
    hist.merged(SnapshotStore.read(spark, viewRoot), Keys)

  /** Fold the partial history to one row per live (metric, bucket, bin)
    * — the view's own maintenance compaction (content and stamp
    * preserved; crashed-rebuild sidecar orphans cleared first). */
  def compact(spark: SparkSession, viewRoot: String, targetFiles: Int = 4): Int = {
    checkEdgesKeying(viewRoot)
    hist.compact(spark, viewRoot, Keys, targetFiles)
  }

  /** Served quantile ESTIMATES per (metric, bucket, phi) — the
    * [[FixedBinHistogram]] estimator: deterministic arithmetic over
    * integer counts and frozen edges, bit-reproducible in any engine that
    * replays the same expression (the oracle does). Accuracy:
    * |est − exact quantile| ≤ 2·w by construction. Cost: O(live bins),
    * never the source. */
  def quantiles(spark: SparkSession, viewRoot: String,
                phis: Seq[Double]): DataFrame =
    hist.estimates(read(spark, viewRoot), edgesFor(spark, viewRoot), Keys, phis)

  /** DELTA-COMPENSATED quantile estimates from a STALE view — and
    * because the partials are RETRACTABLE counts, compensation here is
    * sound over CHURN gaps too, not just appends (the one view engine
    * where the lambda read path covers deletes): the current estimates
    * are the stored bin counts merged with the gap's signed counts
    * folded on the fly under the SAME frozen edges — bit-equal to
    * refresh-then-serve, since [[refresh]]'s in-envelope paths publish
    * exactly those partials. Declines (None) when compensation would
    * change the freeze: a gap insert ESCAPES the envelope or carries a
    * new/null metric (refresh would refreeze the edges — different bins,
    * different estimates), a gap commit compacted the source, or the
    * baseline manifest was vacuumed (no diff). An already-fresh view
    * returns the plain estimates. `grainSec` must repeat the value the
    * view is maintained at (stamp-enforced, like every mutating call).
    * Cost: O(live bins + Δ). */
  def compensatedQuantiles(spark: SparkSession, srcRoot: String,
                           viewRoot: String, phis: Seq[Double],
                           grainSec: Long = 86400L): Option[DataFrame] = {
    requireGrainSec(viewRoot, grainSec, "compensatedQuantiles")
    val from = SnapshotStore.lastEpoch(viewRoot).map(_.toInt).getOrElse(return None)
    val srcCur = SnapshotStore.currentVersion(srcRoot)
    if (srcCur < from) return None
    SnapshotStore.gap(spark, srcRoot, from, srcCur) match {
      case Gap.Unmoved => Some(quantiles(spark, viewRoot, phis))
      case g @ (_: Gap.Appended | _: Gap.Churned) =>
        val ed = edgesFor(spark, viewRoot).localCheckpoint(true)
        gapCounts(g, ed, grainSec).toOption.map(counts =>
          hist.estimates(
            hist.merged(SnapshotStore.read(spark, viewRoot).unionByName(counts), Keys),
            ed, Keys, phis))
      case _ => None // a compaction or a vacuumed baseline
    }
  }
}
