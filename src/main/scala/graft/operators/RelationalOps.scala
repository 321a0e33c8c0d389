package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Standard relational surface the reference lacks entirely (SURVEY §2.7) —
  * joins, set ops, rollup/cube, ranking windows, top-k — plus the natural
  * timeseries extension the reference almost implies: the as-of join.
  *
  * Everything here is plain `Dataset` algebra so Catalyst keeps full freedom
  * (broadcast vs shuffle join selection, pushdown, AQE skew handling).
  */
object RelationalOps {

  /** As-of join: for each left row, attach the *newest* right row with
    * `right ts <= left ts` within the same key (inclusive).
    *
    * Implementation is the union trick: tag both sides, union, then one
    * window pass per key ordered by (ts, side, tiebreak) carrying the last
    * non-null right payload. Exactly ONE shuffle (by key) + sort — no range
    * cross-join blowup, no per-row subquery; this is the 100 TB-safe shape.
    *
    * @param rightTieBreak deterministic ordering among right rows sharing
    *                      (key, ts) — the max wins, matching "newest".
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      rightTieBreak: String,
      toleranceSeconds: Option[Long] = None): DataFrame = {
    val rv = struct(right.columns.toIndexedSeq.map(col): _*)
    val r = right.select(
      col(key).as("__k"),
      col(rightTs).cast("long").as("__t"),
      lit(0).as("__side"),
      col(rightTieBreak).cast("long").as("__tb"),
      rv.as("__rv"))
    val l = left
      .withColumn("__k", col(key))
      .withColumn("__t", col(leftTs).cast("long"))
      .withColumn("__side", lit(1))
      .withColumn("__tb", lit(null).cast("long"))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window
      .partitionBy("__k")
      // right rows sort before the left row at the same ts (inclusive as-of);
      // among equal right ts the tiebreak max wins.
      .orderBy(col("__t"), col("__side"), col("__tb").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withAsof = u.withColumn("__asof", last(col("__rv"), ignoreNulls = true).over(w))
    // Tolerance (kdb/QuestDB-style ASOF ... TOLERANCE): a match older than
    // the bound is nulled AFTER the window pass — a mask, not a second
    // scan, so the plan shape is unchanged.
    val masked = toleranceSeconds.fold(withAsof)(tol =>
      withAsof.withColumn("__asof",
        when(col("__t") - col("__asof").getField(rightTs).cast("long") <= tol,
          col("__asof"))))
    masked
      .where(col("__side") === 1)
      .drop("__k", "__t", "__side", "__tb", "__rv")
  }

  /** Top-K by an ordering — Spark plans `orderBy.limit` as
    * TakeOrderedAndProject (per-partition heap + driver merge of K), which is
    * the right physical shape at any scale. */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Ranked top-N per group via row_number (deterministic tie-break must be
    * part of `order`). */
  def topNPerGroup(df: DataFrame, n: Int, partition: Seq[Column], order: Seq[Column]): DataFrame =
    df.withColumn("rk", row_number().over(
        Window.partitionBy(partition: _*).orderBy(order: _*)).cast("long"))
      .where(col("rk") <= n)

  /** `BloomFilterAggregate`'s analysis-time ceilings at Spark's default
    * session confs (`spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
    * `maxNumBits`): sizing requests are clamped here so a big build side
    * degrades to a coarser (higher-FP, still correct) filter instead of
    * throwing `AnalysisException` — the "dim too big to broadcast" regime
    * is exactly where the caller is. Callers needing a sharper filter over
    * >4M keys must raise those confs on the session first. */
  private val BLOOM_MAX_ITEMS = 4000000L
  private val BLOOM_MAX_BITS = 1L << 26

  /** Serialized Bloom filter over `key` of `dim`, built DISTRIBUTED by
    * Spark's own `BloomFilterAggregate` (the expression behind runtime
    * row-level filtering): partial filters are built map-side per partition
    * and OR-merged, so the only driver materialization is the final filter
    * itself — model-sized (numBits/8 bytes), the same posture as the IVF
    * centroid model. Returns null when `dim` is empty (no keys to admit).
    *
    * Keys are pre-hashed with xxhash64 (the aggregate's required input
    * form), so any key type works and build/probe agree by construction. */
  def buildKeyBloom(
      dim: DataFrame,
      key: Column,
      expectedItems: Long = 1000000L,
      numBits: Long = 8388608L): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val agg = new BloomFilterAggregate(
      ColumnBridge.eagerExpression(xxhash64(key)),
      Literal(math.min(expectedItems, BLOOM_MAX_ITEMS)),
      Literal(math.min(numBits, BLOOM_MAX_BITS))).toAggregateExpression()
    dim.select(ColumnBridge.column(agg).as("bf")).head.getAs[Array[Byte]](0)
  }

  /** Membership probe against a [[buildKeyBloom]] filter — Spark's codegen
    * `BloomFilterMightContain` over the same xxhash64 pre-hash. A null
    * filter (empty build side) admits nothing. */
  def mightContainKey(bloom: Array[Byte], key: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    if (bloom == null) lit(false)
    else ColumnBridge.column(new BloomFilterMightContain(
      Literal(bloom, BinaryType),
      ColumnBridge.eagerExpression(xxhash64(key))))
  }

  /** Bloom-pre-filtered equi-join: probe-side rows that cannot match any
    * build-side key are dropped AT THE SCAN, before the join's exchange.
    *
    * This is the manual form of runtime row-level filtering for the case
    * Spark's optimizer won't inject it (a shuffled join whose build side is
    * too big to broadcast but whose KEY SET still fits a bloom filter): at
    * 100 TB the win is not the join itself but the shuffle it avoids —
    * non-matching fact rows are never serialized into the exchange. False
    * positives only cost their shuffle bytes; the join that follows
    * re-verifies every key, so the result is exactly the plain inner join.
    *
    * SIZING IS THE WHOLE GAME for the probe side's per-row cost: each row
    * pays ~6 random bit-reads into the filter, so a filter that outgrows
    * cache turns the scan CPU-bound (measured: a 1 MB filter over a 767-key
    * dim cost more local wall than the 112 MB shuffle it saved; the 8 KB
    * right-sized filter beat the plain join on wall AND shuffle — see
    * BENCH_LOCAL.md). The filter build is one extra scan of `dim` — worth
    * it precisely when `fact` >> `dim`, the 100 TB shape. */
  def bloomFilteredJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      expectedItems: Long,
      numBits: Long): DataFrame = {
    val bf = buildKeyBloom(dim, col(dimKey), expectedItems, numBits)
    // Side-qualified keys: an unqualified col() is ambiguous the moment
    // both frames carry the key name (same-named natural keys are the
    // common case outside TPC-H).
    fact.where(mightContainKey(bf, fact.col(factKey)))
      .join(dim, fact.col(factKey) === dim.col(dimKey))
  }

  /** [[bloomFilteredJoin]] sized from the build side itself: one count of
    * `dim` (a tiny job on the SMALL side, or free when key stats are
    * already known) picks ~10 bits/key (≈1% FP) rounded up to a power of
    * two, floored at 8 Kbit so small dims stay cache-resident and capped
    * at 2^26 bits (8 MB, `BloomFilterAggregate`'s default analysis
    * ceiling) — past that the key set has outgrown what a per-row probe
    * should pay for and the caller should reconsider (or raise the
    * session's runtime-bloom confs and size explicitly). */
  def bloomFilteredJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String): DataFrame = {
    val bf = buildKeyBloomAuto(dim, col(dimKey))
    fact.where(mightContainKey(bf, fact.col(factKey)))
      .join(dim, fact.col(factKey) === dim.col(dimKey))
  }

  /** [[bloomFilteredJoin]] on a COMPOSITE key: the bloom hashes
    * xxhash64 over the key struct, so only possibly-matching fact rows
    * reach the equi-join. CALLER CONTRACT: paired key columns must share
    * a dataType — xxhash64 is type-sensitive (xxhash64(1) !=
    * xxhash64(1L)), and a mixed pair would hash differently on the two
    * sides and silently DROP matching rows (the one failure a bloom
    * prefilter must never have). JoinView enforces this per refresh;
    * other callers must too. */
  def bloomFilteredJoinKeys(
      fact: DataFrame,
      dim: DataFrame,
      keyPairs: Seq[(String, String)]): DataFrame = {
    val bf = buildKeyBloomAuto(dim,
      struct(keyPairs.map { case (_, d) => col(d) }: _*))
    val cond = keyPairs
      .map { case (f, d) => fact.col(f) === dim.col(d) }.reduce(_ && _)
    fact.where(mightContainKey(bf,
        struct(keyPairs.map { case (f, _) => fact.col(f) }: _*)))
      .join(dim, cond)
  }

  /** [[buildKeyBloom]] with the auto-sizing rule above (one count of the
    * build side → ~10 bits/key, 8 Kbit floor, clamped to the analysis
    * ceilings). */
  def buildKeyBloomAuto(dim: DataFrame, key: Column): Array[Byte] =
    buildKeyBloomSized(dim, key, math.max(1L, dim.count()))

  /** [[buildKeyBloomAuto]] when the build side's count is ALREADY known
    * (a caller that probed the key set pays no second count job). */
  def buildKeyBloomSized(dim: DataFrame, key: Column, count: Long): Array[Byte] = {
    val n = math.max(1L, count)
    val bits = {
      val want = math.min(BLOOM_MAX_BITS, math.max(8192L, 10L * n))
      if (java.lang.Long.bitCount(want) == 1) want
      else java.lang.Long.highestOneBit(want) << 1
    }
    buildKeyBloom(dim, key, math.min(n, BLOOM_MAX_ITEMS), bits)
  }

  /** ANALYZE-style column profile: per column, non-null count, exact
    * distinct count, and min/max (string-rendered so heterogeneous columns
    * stack into one long-format relation). These are the stats the
    * engine's own scale knobs eat — bloom filter sizing, broadcast
    * decisions, z-order plane scaling.
    *
    * Shape: one two-level aggregation PER COLUMN (groupBy the value →
    * count, then fold the groups), unioned. On columnar storage each leg's
    * scan prunes to ITS one column, so the union's total IO is one wide
    * scan's worth of bytes, and each exchange carries only that column's
    * distinct values after map-side partial aggregation. The tempting
    * alternative — one aggregate with k `countDistinct`s — plans as an
    * Expand that pushes k× the full row count through a single wide hash
    * aggregate, measured 14× slower at sf0.1 (BENCH_LOCAL.md); PlanAudit
    * asserts this stays Expand-free with per-leg single-column scans. At
    * 100 TB, `approx_count_distinct` in one pass is the sketch swap; exact
    * NDV here keeps the result SQL-oracle-comparable. */
  def tableProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "tableProfile needs at least one column")
    cols.map { c =>
      df.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__cnt"))
        .agg(
          coalesce(sum("__cnt"), lit(0L)).cast("long").as("n_rows"),
          coalesce(sum(when(col("__v").isNotNull, col("__cnt"))
            .otherwise(lit(0L))), lit(0L)).cast("long").as("n_nonnull"),
          count(col("__v")).as("n_distinct"),
          min(col("__v")).cast("string").as("min_repr"),
          max(col("__v")).cast("string").as("max_repr"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nonnull"),
          col("n_distinct"), col("min_repr"), col("max_repr"))
    }.reduce(_ unionByName _)
  }

  /** The 100 TB default profile: same long-format output contract as
    * [[tableProfile]] but ONE PASS over the table with
    * `approx_count_distinct` (HLL++) in place of exact NDV — the
    * documented sketch swap, shipped as code. All k columns' counts,
    * sketches, and min/max fold in a single Aggregate over a single scan
    * (HLL buffers are fixed-width, so no Expand and no per-column
    * re-scan), then a `stack` reshapes the 1×(4k+1) row into k rows —
    * driver-side-free and exchange-light: one partial/final agg pair,
    * nothing proportional to data size after the map side.
    *
    * `rsd` is HLL++'s target relative standard deviation (default 5%,
    * Spark's own default for `approx_count_distinct`); the error bound is
    * pinned by unit test. Registered rows-only: sketch estimates are
    * engine-specific, so the exact [[tableProfile]] keeps the SQL oracle
    * and this keeps the scale posture. */
  def tableProfileApprox(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "tableProfileApprox needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        approx_count_distinct(col(c), rsd).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stacked = s"stack(${cols.length}, " + cols.map(c =>
      s"'$c', __nn_$c, __nd_$c, __mn_$c, __mx_$c").mkString(", ") +
      ") AS (col_name, n_nonnull, n_distinct_approx, min_repr, max_repr)"
    one.select(expr(stacked), col("__n").as("n_rows"))
      .select("col_name", "n_rows", "n_nonnull", "n_distinct_approx",
        "min_repr", "max_repr")
  }

  /** Skew-salted equi-join: spread each hot key of the BIG side over
    * `salts` sub-keys (deterministic hash of the whole row, so replays are
    * stable) and replicate the SMALL side once per salt. Use when one join
    * key carries a disproportionate share of the big side and the small
    * side is too large to broadcast — the manual fallback where AQE's
    * skew-join split can't apply (e.g. non-shuffle-join strategies).
    * Result == plain inner equi-join, row for row. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0)
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(big.columns.toIndexedSeq.map(col): _*), lit(salts)).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** SCD2 temporal join: each fact row picks the dimension VERSION whose
    * validity interval `[validFrom, validTo)` contains the fact's event
    * time — the slowly-changing-dimension lookup every warehouse enrich
    * runs (half-open intervals, so a version change at t assigns t to the
    * NEW version and a key's versions tile time without overlap).
    *
    * Scale shape: an equi-join on the key with the interval predicate as
    * the residual — versioned dimensions carry a handful of rows per key,
    * so the join broadcasts when the dim does and degrades to a shuffled
    * equi-join (residual applied on the matched pairs, never a cross
    * product) when it doesn't. A dimension too big for either is the
    * as-of shape: sort the version boundaries into the fact stream with
    * [[asOfJoin]]'s union+window trick instead.
    *
    * `joinType` "left" keeps facts with NO valid version (null dim
    * columns) — the audit posture; "inner" drops them. */
  def temporalJoin(fact: DataFrame, dim: DataFrame,
                   factKey: String, dimKey: String, factTime: String,
                   validFrom: String = "valid_from",
                   validTo: String = "valid_to",
                   joinType: String = "inner"): DataFrame =
    fact.join(dim,
      fact.col(factKey) === dim.col(dimKey) &&
        fact.col(factTime) >= dim.col(validFrom) &&
        fact.col(factTime) < dim.col(validTo),
      joinType)
}
