package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained AGGREGATE over an N-WAY JOIN TREE — the
  * star- and snowflake-schema materialized view, from one fact × one dim
  * (N = 2, the one-edge tree [[AggJoinView]] forwards to) to a fact plus
  * any TREE of dims:
  *
  * {{{ SELECT g…, count(*), sum(m…) FROM T0 JOIN T1 ON … JOIN T2 ON … … GROUP BY g… }}}
  *
  * where every join is an INNER equi-join and the join GRAPH is a tree —
  * table `i` (i ≥ 1) attaches to exactly one earlier table through an
  * [[MultiAggJoinView.Edge]]. That covers both the star (every dim on
  * the fact: q5/q9-class dashboards) and the snowflake (a dim hanging
  * off another dim, e.g. nation via supplier). Storage stays O(groups):
  * one signed partial row per group, never O(join rows).
  *
  * Maintenance is ONE telescoping identity covering appends and churn.
  * For any per-table change from `old_i` to `new_i`,
  *
  *   J(new…) − J(old…) = Σᵢ [ J(new_<i, new_i, old_>i) − J(new_<i, old_i, old_>i) ]
  *
  * and the i-th difference only involves join rows whose table-i row
  * changed, so both of its legs restrict EXACTLY to table i's dirty key
  * tuples (unchanged rows inside the dirty set appear in both legs and
  * cancel arithmetically — count and decimal sums are retractable
  * monoids). Per moved table the refresh therefore folds:
  *
  *   - APPEND-ONLY gap: the single positive term `ΔTᵢ ⋈ (earlier tables
  *     at NEW, later at OLD)` — `new_i − old_i` IS the appended rows, so
  *     no negative leg is needed (for N = 2 this is the delta-join
  *     identity ΔL⋈R_new ∪ L_old⋈ΔR);
  *   - ROW-CHURN gap (delete/upsert): the dirty keys come from the
  *     table's O(churn) change feed; `old_i` restricted to them folds
  *     NEGATIVE, `new_i` restricted to them folds POSITIVE (retraction
  *     by arithmetic). No view rewrite, no dirty-group upsert.
  *
  * All terms land in ONE epoch-stamped append (crash-idempotent). The
  * terms, the semi-join cascade that restricts every standing side of a
  * term outward from the moved table, the refresh preamble and the
  * recorded spec are [[JoinTreeGap]]'s, shared with the ndv and quantile
  * tree views; this view supplies its folds.
  *
  * A compaction (or vacuumed baseline) on ANY source breaks the manifest
  * diff: one full rebuild. `extents = true` additionally stores min/max
  * partials: append legs stay on the O(Δ) telescoped
  * fold (min/max are insert-monotone), but churn pays the honest
  * dirty-GROUP recompute ([[JoinTreeGap.Gap.replaceDirtyGroups]]) —
  * dirty groups re-aggregate whole from the current tree and REPLACE by
  * group key beside any append-moved tables' delta terms in ONE atomic
  * publish; the count/sum-only default keeps churn pure arithmetic.
  *
  * Read merges partials per group, drops `cnt = 0` groups, and serves
  * each sum NULL while its merged non-null count `nn_<m>` is zero
  * (Spark's sum over an all-NULL group is NULL; signed partials that
  * retracted to zero would otherwise serve 0). Decimal
  * partials keep the merge exact in any order — the view is bit-equal
  * to a from-scratch GROUP BY over the N-way join, which is what the
  * oracle checks and [[graft.plans.MultiAggJoinRewriteRule]] serves.
  *
  * Contract: inner equi-joins only; the join graph is a TREE (table i
  * attaches to one earlier table); group and measure columns resolve on
  * exactly one table (child-side keys excluded — each is recoverable
  * from its paired parent key); an edge's parent keys must not be keys
  * the parent itself joined through as a child (they are dropped — name
  * the paired upstream column instead); measures are summed as
  * DECIMAL(30,2) with signed non-null counts.
  */
object MultiAggJoinView {

  /** Table `i`'s attachment (i = position in the edges list + 1):
    * `parent` is an earlier table index (0-based, < i), `parentKeys`
    * columns of that table, `childKeys` the paired columns of table i. */
  final case class Edge(parent: Int, parentKeys: Seq[String],
                        childKeys: Seq[String]) {
    require(parentKeys.nonEmpty && parentKeys.size == childKeys.size,
      s"edge keys must be non-empty and pair up: $parentKeys vs $childKeys")
  }

  private val SumType = "decimal(30,2)"
  private def sumCol(m: String): String = s"sum_$m"
  private def nnCol(m: String): String = s"nn_$m"
  private def minCol(m: String): String = s"min_$m"
  private def maxCol(m: String): String = s"max_$m"

  // ---- N-way cursor: packed fast path + variable-width sidecar ---------
  // The view's epoch stamp identifies ALL N source versions so a replayed
  // refresh is a true no-op and the serving rewrite's freshness probe is
  // one comparison. While every version fits the packed base (largest
  // power of two with base^n below 2^62 — 2 tables get ~2^31 versions
  // each, 5 tables 2^12, 8 tables 2^7) the stamp IS the packed vector —
  // zero extra I/O, and every pre-existing view keeps reading. A view
  // that OUTLIVES its base (per-trigger streaming maintenance burns 4096
  // versions in days at minute cadence for a 5-way tree) switches to the
  // VARIABLE-WIDTH cursor: the stamp becomes `WideBit | seq` (seq a
  // per-view monotone counter, so stamps stay strictly increasing across
  // the transition) and the actual version VECTOR persists in a sidecar
  // `_cursors/e<seq>` written BEFORE the publish — the QuantileView
  // edges-sidecar protocol: a crash between sidecar write and publish
  // leaves an orphan nothing reads (readers resolve exactly the sidecar
  // named by lastEpoch), and the re-run overwrites it. The view then
  // lives to Int.MaxValue versions PER SOURCE regardless of table count.

  private[graft] def packBase(n: Int): Long = 1L << (62 / n)

  /** Marks a wide (sidecar-backed) cursor stamp. Legacy packed stamps
    * are < 2^62, so the bit also keeps stamps monotone across the
    * packed→wide transition. */
  private[graft] val WideBit: Long = 1L << 62

  private[graft] def packAll(vs: Seq[Int]): Long = {
    val b = packBase(vs.size)
    vs.foldLeft(0L) { (acc, v) =>
      require(v >= 0 && v < b,
        s"source version $v beyond the ${vs.size}-way cursor base $b — " +
          "rebuild the view into a fresh store")
      acc * b + v
    }
  }

  private[graft] def unpackAll(e: Long, n: Int): Seq[Int] = {
    val b = packBase(n)
    (1 to n).foldLeft((List.empty[Int], e)) { case ((acc, rem), _) =>
      ((rem % b).toInt :: acc, rem / b)
    }._1
  }

  private def cursorVecPath(viewRoot: String, seq: Long): java.nio.file.Path =
    java.nio.file.Paths.get(viewRoot, "_cursors", s"e$seq")

  /** The version vector a stamp identifies: packed stamps decode
    * arithmetically, wide stamps read their sidecar (written before the
    * publish that created the stamp, so a committed stamp always finds
    * it — a missing sidecar is store surgery and refuses loudly). */
  private[graft] def vecOf(viewRoot: String, e: Long, n: Int): Seq[Int] =
    if ((e & WideBit) == 0) unpackAll(e, n)
    else {
      val p = cursorVecPath(viewRoot, e & ~WideBit)
      require(java.nio.file.Files.exists(p),
        s"wide cursor stamp e=${e & ~WideBit} at $viewRoot has no " +
          "_cursors sidecar — the store was surgically modified")
      val vs = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .trim.split(",").map(_.toInt).toSeq
      require(vs.size == n,
        s"cursor sidecar at $p holds ${vs.size} versions, expected $n")
      vs
    }

  /** The stamp for publishing at `vs` — the packed form while it fits
    * (backward-compatible, no I/O), else the next wide sequence id with
    * its vector sidecar written NOW (before the caller's publish).
    * Deterministic given the view's pre-publish state, so a crashed
    * refresh's re-run recomputes the same stamp and overwrites the same
    * sidecar — publish idempotence is preserved. */
  private[sources] def stampFor(viewRoot: String, vs: Seq[Int]): Long = {
    val b = packBase(vs.size)
    if (vs.forall(v => v >= 0 && v < b)) packAll(vs)
    else {
      val last = SnapshotStore.lastEpoch(viewRoot).getOrElse(0L)
      val seq = if ((last & WideBit) != 0) (last & ~WideBit) + 1 else 1L
      val p = cursorVecPath(viewRoot, seq)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, vs.mkString(",").getBytes("UTF-8"))
      WideBit | seq
    }
  }

  /** The view's per-source cursor vector (all zeros before bootstrap). */
  private[graft] def cursors(viewRoot: String, n: Int): Seq[Int] =
    SnapshotStore.lastEpoch(viewRoot).map(vecOf(viewRoot, _, n))
      .getOrElse(Seq.fill(n)(0))

  // ---- recorded spec ---------------------------------------------------

  private val SpecFile = "_maggspec"

  private def specOf(n: Int, edges: Seq[Edge], groups: Seq[String],
                     measures: Seq[String], extents: Boolean): JoinTreeGap.Spec =
    JoinTreeGap.spec(SpecFile, n, edges, groups,
      s"m=${measures.map(_.toLowerCase(java.util.Locale.ROOT)).sorted.mkString(",")}" +
        (if (extents) ";x=1" else ""))

  /** Does this view's recorded spec carry min/max partials? */
  private def recordedExtents(viewRoot: String): Boolean =
    JoinTreeGap.recordedField(viewRoot, SpecFile, "x").contains("1")

  // ---- partials --------------------------------------------------------

  /** Fold join rows to one signed partial per group. `extents = true`
    * adds min/max partials — insert-monotone only, so signed folding is
    * forbidden there (the churn path replaces dirty groups whole
    * instead). */
  private def fold(rows: DataFrame, groups: Seq[String],
                   measures: Seq[String], sign: Int,
                   extents: Boolean = false): DataFrame = {
    require(sign == 1 || !extents,
      "internal: min/max partials cannot fold signed")
    val aggs: Seq[Column] =
      (count(lit(1)) * lit(sign.toLong)).as("cnt") +:
        measures.flatMap(m =>
          Seq((sum(col(m).cast(SumType)) * lit(sign)).cast(SumType).as(sumCol(m)),
            (count(col(m)) * lit(sign.toLong)).as(nnCol(m))) ++
            (if (extents)
              Seq(min(col(m)).as(minCol(m)), max(col(m)).as(maxCol(m)))
            else Nil))
    rows.groupBy(groups.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The signed fold over a FUSED churn term (rows carry their leg's
    * sign in [[JoinTreeGap.SignCol]]): per group, `cnt = Σ sign`,
    * `sum_m = Σ m·sign` (decimal, exact — sign only flips magnitude),
    * `nn_m = Σ sign over non-null m`. One partial row per group equal to
    * the SUM of the separate ± fold rows — identical after the read's
    * merge, at half the execution. */
  private def foldSigned(rows: DataFrame, groups: Seq[String],
                         measures: Seq[String]): DataFrame = {
    val sign = col(JoinTreeGap.SignCol)
    val aggs: Seq[Column] = sum(sign).as("cnt") +:
      measures.flatMap(m => Seq(
        sum(col(m).cast(SumType) * sign).cast(SumType).as(sumCol(m)),
        sum(when(col(m).isNotNull, sign).otherwise(lit(0L))).as(nnCol(m))))
    rows.groupBy(groups.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Bring the view up to every source's current version. Returns the
    * view version (unchanged when all cursors already match). The spec
    * arguments must repeat the bootstrap's spec verbatim — including
    * `extents`: `extents = true` additionally stores min/max partials
    * per measure. Extents keep every APPEND leg on the O(Δ) telescoped
    * fold (min/max are insert-monotone), but CHURN can no longer retract
    * by arithmetic — it takes [[JoinTreeGap.Gap.replaceDirtyGroups]]
    * (dirty groups re-aggregate whole and replace by key beside the
    * append-moved tables' delta terms, in one atomic publish; emptied
    * groups tombstone). The count/sum-only default keeps pure-arithmetic
    * churn. */
  def refresh(spark: SparkSession, roots: Seq[String], viewRoot: String,
              edges: Seq[Edge], groupCols: Seq[String],
              measureCols: Seq[String], extents: Boolean = false): Int = {
    val reserved = "cnt" +: measureCols.flatMap(m =>
      Seq(sumCol(m), nnCol(m)) ++
        (if (extents) Seq(minCol(m), maxCol(m)) else Nil))
    JoinTreeGap.refresh(spark, roots, viewRoot, edges, groupCols, measureCols,
      reserved, specOf(roots.size, edges, groupCols, measureCols, extents)) { gap =>
      def phase[T](name: String)(body: => T): T =
        SnapshotStore.labeled(spark, s"magg $name")(body)
      def positive(rows: DataFrame): DataFrame =
        fold(rows, groupCols, measureCols, 1, extents)

      if (gap.bootstrap) phase("bootstrap") {
        gap.append(positive(gap.full))
      } else if (!gap.diffable) phase("rebuild") {
        // a compaction (or vacuumed baseline) somewhere broke the diff
        gap.rebuild(positive(gap.full))
      } else if (gap.allAppend || !extents)
        phase(if (gap.allAppend) "append-fold" else "signed-churn") {
        // THE TELESCOPING REFRESH: append-moved tables fold their
        // positive delta term (min/max too: insert-monotone), churned
        // tables their ± legs restricted to the dirty key tuples
        // (unchanged rows cancel arithmetically); all terms in ONE
        // stamped append (crash replays as an epoch no-op)
        gap.append(gap.terms { t =>
          t.sign match {
            case Some(s) => fold(t.rows, groupCols, measureCols, s, extents)
            case None    => foldSigned(t.rows, groupCols, measureCols)
          }
        }.reduce(_ unionByName _))
      } else phase("extents-churn") {
        // EXTENTS churn: min/max cannot retract
        gap.replaceDirtyGroups(positive, recomputed =>
          lit(0L).as("cnt") +: measureCols.flatMap { m =>
            val mt = recomputed.schema(recomputed.columns
              .find(_.equalsIgnoreCase(minCol(m))).get).dataType
            Seq(lit(0).cast(SumType).as(sumCol(m)), lit(0L).as(nnCol(m)),
              lit(null).cast(mt).as(minCol(m)), lit(null).cast(mt).as(maxCol(m)))
          })
      }
    }
  }

  /** Merge signed partials to the materialized aggregate (NULL-exact
    * sums via the nn counts; min/max skip null tombstones natively),
    * shared by [[read]] and [[compensatedRead]]. */
  private def merged(partials: DataFrame, groups: Seq[String],
                     measures: Seq[String],
                     extents: Boolean = false): DataFrame = {
    def resolve(nm: String): String =
      partials.columns.find(_.equalsIgnoreCase(nm)).getOrElse(nm)
    val aggs: Seq[Column] = sum(col("cnt")).as("cnt") +:
      measures.flatMap { m =>
        val s = resolve(sumCol(m)); val nn = resolve(nnCol(m))
        Seq(
          when(sum(col(nn)) > 0, sum(col(s)).cast(SumType))
            .otherwise(lit(null).cast(SumType)).as(s),
          sum(col(nn)).as(nn)) ++
          (if (extents) {
            val mn = resolve(minCol(m)); val mx = resolve(maxCol(m))
            Seq(min(col(mn)).as(mn), max(col(mx)).as(mx))
          } else Nil)
      }
    partials.groupBy(groups.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .where(col("cnt") > 0)
  }

  /** The materialized aggregate: groups…, `cnt`, `sum_<m>` (+ its
    * `nn_<m>` bookkeeping, kept so [[compact]]'s round-trip preserves
    * NULL-exactness). */
  def read(spark: SparkSession, viewRoot: String): DataFrame = {
    val partials = SnapshotStore.read(spark, viewRoot)
    val specMeasures: Seq[String] = JoinTreeGap.recorded(viewRoot, SpecFile) match {
      case Some(line) =>
        line.split(";").find(_.startsWith("m=")).map(_.drop(2)) match {
          case Some("") | None => Seq.empty[String]
          case Some(ms)        => ms.split(",").toSeq
        }
      case None =>
        partials.columns.filter(_.startsWith("sum_")).map(_.drop(4)).toSeq
    }
    val extents = recordedExtents(viewRoot)
    val aggNames = "cnt" +: specMeasures.flatMap(m =>
      Seq(sumCol(m), nnCol(m)) ++
        (if (extents) Seq(minCol(m), maxCol(m)) else Nil))
    val groups = partials.columns.filterNot(c =>
      aggNames.exists(_.equalsIgnoreCase(c))).toSeq
    merged(partials, groups, specMeasures, extents)
  }

  /** DELTA-COMPENSATED content of a STALE view: when every moved
    * source's gap is an APPEND, the current aggregate is the stored
    * partials merged with the telescoped delta terms folded on the fly
    * (count/decimal-sum and min/max are insert-monotone). None when
    * unsound — a churned/compacted gap, a vacuumed baseline, no cursor,
    * or a spec mismatch; an already-fresh view returns the plain read. */
  def compensatedRead(spark: SparkSession, roots: Seq[String],
                      viewRoot: String, edges: Seq[Edge],
                      groupCols: Seq[String],
                      measureCols: Seq[String]): Option[DataFrame] = {
    val extents = recordedExtents(viewRoot)
    JoinTreeGap.compensated(spark, roots, viewRoot, edges, groupCols,
      measureCols, specOf(roots.size, edges, groupCols, measureCols, extents))(
      read(spark, viewRoot)) { gap =>
      // min/max are insert-monotone, so the compensated fold stays sound
      // with extents over APPEND gaps; churn declines
      if (!gap.allAppend) None
      else Some(merged(SnapshotStore.read(spark, viewRoot).unionByName(
        gap.terms(t => fold(t.rows, groupCols, measureCols, 1, extents))
          .reduce(_ unionByName _)), groupCols, measureCols, extents))
    }
  }

  /** Fold accumulated partials to one row per group (drops retraction
    * residue physically); content and cursor stamp unchanged. */
  def compact(spark: SparkSession, viewRoot: String): Int =
    SnapshotStore.compactWith(read(spark, viewRoot), viewRoot)
}
