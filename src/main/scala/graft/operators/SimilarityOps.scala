package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`): brute-force
  * cosine top-k as the exact baseline, and a random-hyperplane LSH-bucketed
  * variant as the 100 TB scale path (candidates come from bucket equi-joins,
  * exact rerank runs on candidates only — never a full cross join).
  */
object SimilarityOps {

  /** Promote float embedding to double (used only where a driver-side
    * collect needs concrete double arrays, e.g. IVF centroids — on the data
    * path [[dot]] reads float arrays directly instead: a `transform` HOF in
    * the plan blocks whole-stage codegen AND gets inlined by projection
    * collapse into every downstream reference, re-materializing a boxed
    * array per reference per row). */
  def vecD(v: Column): Column = transform(v, x => x.cast("double"))

  /** Native codegen'd dot product ([[graft.functions.VecDotProduct]]) over
    * array<float> or array<double> — float elements are widened exactly,
    * left-to-right accumulation, bit-identical to DuckDB's
    * `list_dot_product` on the cast-to-double lists. */
  def dot(a: Column, b: Column): Column = graft.functions.VecExpressions.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The shared rank/filter/round tail of every ANN variant — one place
    * for the tie-break and rounding contract (reuses
    * [[RelationalOps.topNPerGroup]]). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    RelationalOps.topNPerGroup(scored, k,
        Seq(col("q_id")), Seq(col("score").desc, col("c_id")))
      .select(col("q_id"), col("rk"), col("c_id"), col("score"))

  /** Exact brute-force cosine top-k: the given query vectors (a SMALL set —
    * broadcast) against every candidate row. Per-candidate work only; the
    * top-k per query is a bounded hash/sort on (query) — no all-pairs among
    * candidates. Norms are staged per ROW (not per pair): each pair costs
    * one dot product, not three. */
  def bruteTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .withColumn("qn", norm(col("qv"))))
    val c = candidates
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(q)
      .where(col("q_id") =!= col("c_id"))
      .withColumn("score", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    scored
      .transform(rankTopK(_, k))
  }

  /** Deterministic random hyperplanes: `tables × bitsPerTable` planes in
    * `dim` dimensions from a fixed seed (engine constant — reproducible
    * across runs and executors). */
  def hyperplanes(dim: Int, tables: Int, bitsPerTable: Int, seed: Long = 42L): Array[Array[Array[Double]]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(tables, bitsPerTable, dim)(rng.nextGaussian())
  }

  /** Stage a relation's vectors with their norms and per-table LSH buckets.
    * All per-table bucket ids come from ONE custom-expression loop
    * ([[graft.functions.HashExpressions.HyperplaneBuckets]]) — the unrolled
    * per-plane dot-product formulation generated a method too large for the
    * JIT (interpreted bytecode, seconds on thousands of rows). */
  private def withBuckets(df: DataFrame, idCol: String,
                          planes: Array[Array[Array[Double]]]): DataFrame =
    df.select(col("vec_id").as(idCol), col("embedding").as(s"${idCol}_v"))
      .withColumn(s"${idCol}_n", norm(col(s"${idCol}_v")))
      .select(col(idCol), col(s"${idCol}_v"), col(s"${idCol}_n"),
        posexplode(graft.functions.HashExpressions.hyperplaneBuckets(
          col(s"${idCol}_v"), planes)))
      .toDF(idCol, s"${idCol}_v", s"${idCol}_n", "tbl", "bkt")

  /** A fitted LSH index: the hyperplane parameters (planes are derived
    * deterministically from them, so they ARE the quantizer model) plus the
    * bucketed corpus `(c_id, c_id_v, c_id_n, tbl, bkt)` — the expensive
    * artifact a deployment persists. Build once, then each query batch is a
    * broadcast bucket equi-join against the stored relation; the plane
    * rebuild at query time is a few KB of deterministic arithmetic. */
  final case class LshIndex(dim: Int, tables: Int, bitsPerTable: Int,
                            seed: Long, buckets: DataFrame)

  def buildLshIndex(candidates: DataFrame, dim: Int = 64, tables: Int = 8,
                    bitsPerTable: Int = 8, seed: Long = 42L): LshIndex =
    LshIndex(dim, tables, bitsPerTable, seed,
      withBuckets(candidates, "c_id", hyperplanes(dim, tables, bitsPerTable, seed)))

  /** Query a fitted (possibly reloaded) LSH index: bucket the query batch
    * with the index's OWN plane parameters, broadcast it into the stored
    * bucket relation, rerank the collisions by exact cosine. */
  def queryLshIndex(index: LshIndex, queries: DataFrame, k: Int): DataFrame = {
    val planes = hyperplanes(index.dim, index.tables, index.bitsPerTable, index.seed)
    val qb = broadcast(withBuckets(queries, "q_id", planes))
    index.buckets.join(qb, Seq("tbl", "bkt"))
      .where(col("q_id") =!= col("c_id"))
      .select("q_id", "q_id_v", "q_id_n", "c_id", "c_id_v", "c_id_n")
      .distinct()
      .withColumn("score",
        dot(col("q_id_v"), col("c_id_v")) / (col("q_id_n") * col("c_id_n")))
      .transform(rankTopK(_, k))
  }

  /** Persist an LSH index: bucketed corpus as parquet plus a one-row
    * parameter table — everything a serving job needs to reproduce the
    * planes and probe identically. */
  def saveLshIndex(index: LshIndex, dir: String): Unit = {
    val spark = index.buckets.sparkSession
    import spark.implicits._
    index.buckets.write.mode("overwrite").parquet(s"$dir/buckets")
    Seq((index.dim, index.tables, index.bitsPerTable, index.seed))
      .toDF("dim", "tables", "bits_per_table", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
  }

  def loadLshIndex(spark: org.apache.spark.sql.SparkSession, dir: String): LshIndex = {
    val p = spark.read.parquet(s"$dir/params").collect()(0)
    LshIndex(p.getInt(0), p.getInt(1), p.getInt(2), p.getLong(3),
      spark.read.parquet(s"$dir/buckets"))
  }

  /** Append `newVectors` to a PERSISTED LSH index without a rebuild — the
    * streaming-ingest serving story: bucket the arrivals under the
    * index's OWN stored plane parameters and append-write them into the
    * bucket relation. Bucketing is per-row and model-frozen (the planes
    * derive from the stored params alone), so append→query is EXACTLY
    * rebuild→query over the grown corpus — the save/load equality
    * contract extended to incremental maintenance. Cost: one pass over
    * the delta, no touch of the existing bucket files. */
  def appendLshIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                     newVectors: DataFrame): Unit = {
    val idx = loadLshIndex(spark, dir) // one param-reading path, shared with serving
    val planes = hyperplanes(idx.dim, idx.tables, idx.bitsPerTable, idx.seed)
    withBuckets(newVectors, "c_id", planes)
      .write.mode("append").parquet(s"$dir/buckets")
  }

  /** Approximate cosine top-k via multi-table random-hyperplane LSH:
    * candidates = rows sharing a bucket with the query in ANY table
    * (union-distinct over tables), then exact cosine rerank of candidates.
    * The bucket join is an equi-join on (table, bucket) — the scale path:
    * candidate count per query ≈ n / 2^bits × tables, not n. */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              dim: Int = 64, tables: Int = 8, bitsPerTable: Int = 8,
              seed: Long = 42L): DataFrame =
    queryLshIndex(
      buildLshIndex(candidates, dim, tables, bitsPerTable, seed), queries, k)

  /** The (q_id, c_id) candidate list of [[lshTopK]]'s bucket stage, without
    * the rerank — the GENERATION half surfaced standalone so the exact
    * rerank ([[rerankTopK]]) can be oracle-checked over an exported
    * candidate set. Distinct by construction (the fused path dedups the
    * full tuple and ids determine vectors). */
  def lshCandidates(queries: DataFrame, candidates: DataFrame,
                    dim: Int = 64, tables: Int = 8, bitsPerTable: Int = 8,
                    seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, tables, bitsPerTable, seed)
    def buckets(df: DataFrame, idCol: String): DataFrame =
      df.select(col("vec_id").as(idCol),
          posexplode(graft.functions.HashExpressions.hyperplaneBuckets(
            col("embedding"), planes)))
        .toDF(idCol, "tbl", "bkt")
    broadcast(buckets(queries, "q_id"))
      .join(buckets(candidates, "c_id"), Seq("tbl", "bkt"))
      .where(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id")
      .distinct()
  }

  /** A fitted IVF index: the spherical centroid MODEL (model-sized — rows ~
    * nlist, lives on the driver like any quantizer model) plus the inverted
    * lists as a DataFrame `(cid, c_id, cv, cn)` — each vector staged with
    * its norm in exactly one list. The lists relation is what a deployment
    * persists (parquet partitioned by nothing special; the cid equi-join
    * key is in the data): build ONCE over the corpus, then every query
    * batch is a broadcast-probe equi-join against the stored lists with no
    * k-means work at all. [[saveIvfIndex]]/[[loadIvfIndex]] round-trip it. */
  final case class IvfIndex(centroids: Array[Array[Double]], lists: DataFrame)

  /** Fit the IVF index: quantizer centroids + one-list-per-vector
    * assignment. `refineIters=0` → lowest-vec_id seeds (kmeansCentroids
    * with zero update rounds IS the seed set), so both IVF flavors share
    * one path. Always spherical: IVF here retrieves by COSINE, so the
    * quantizer must assign by cosine too — unit centroids keep the
    * seeded/refined comparison apples-to-apples and the lists balanced. */
  def buildIvfIndex(candidates: DataFrame, nlist: Int = 32,
                    refineIters: Int = 0): IvfIndex = {
    val cents = kmeansCentroids(candidates, nlist, refineIters, spherical = true)
    IvfIndex(cents, assignLists(candidates, cents))
  }

  /** Stage vectors into inverted-list rows under a GIVEN centroid model —
    * the assignment half of [[buildIvfIndex]], shared with incremental
    * append (same expression ⇒ bit-identical list rows either way). */
  private[graft] def assignLists(vectors: DataFrame,
                                 cents: Array[Array[Double]]): DataFrame =
    vectors
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      .withColumn("cn", norm(col("cv")))
      .withColumn("cid",
        element_at(graft.functions.HashExpressions.topCentroids(col("cv"), cents, 1), 1))

  // ---- IVF index occupancy accounting ---------------------------------
  //
  // A persisted index carries two tiny sidecars next to lists/centroids:
  //   listmeta  — (cid, n) current per-list occupancy, updated O(delta)
  //               on every append (no full lists scan on the append path)
  //   trainmeta — (model_hash, train_skew) stamped at every (re)train:
  //               the skew BASELINE for the drift trigger (comparing to
  //               the immediately pre-append skew instead would let
  //               gradual drift ratchet the baseline up and never fire),
  //               and the model fingerprint loadIvfIndex verifies so an
  //               interrupted retrain swap fails loudly instead of
  //               serving new-model list assignments under old centroids.

  /** Occupancy skew from per-list counts: max over the all-lists mean
    * (total / nlist — empty lists count, they are the drift signal).
    * 1.0 = perfectly balanced. */
  private[graft] def skewOf(counts: Map[Int, Long], nlist: Int): Double =
    if (counts.isEmpty || nlist == 0) 0.0
    else counts.values.max.toDouble * nlist / counts.values.sum.toDouble

  /** Per-list occupancy of a lists relation — ≤ nlist rows collected,
    * model-sized. One full scan; the append path avoids it via listmeta. */
  private[graft] def listCounts(lists: DataFrame): Map[Int, Long] =
    lists.groupBy("cid").count().collect()
      .map(r => r.get(0).asInstanceOf[Number].intValue ->
        r.get(1).asInstanceOf[Number].longValue).toMap

  /** Order-independent fingerprint of a centroid model. */
  private def modelHash(cents: Array[Array[Double]]): Long =
    cents.zipWithIndex.foldLeft(17L) { case (h, (cv, i)) =>
      cv.foldLeft(h * 31 + i)((a, d) =>
        a * 1099511628211L + java.lang.Double.doubleToLongBits(d))
    }

  /** listmeta carries the model fingerprint its counts were taken under:
    * a crash can leave the sidecar one step behind an otherwise
    * consistent index, and stamping the hash turns that stale state into
    * a cheap self-heal (readListMeta discards a mismatched sidecar and
    * the caller re-derives) instead of silently wrong drift decisions. */
  private def writeListMeta(spark: org.apache.spark.sql.SparkSession,
                            dir: String, counts: Map[Int, Long],
                            hash: Long): Unit = {
    import spark.implicits._
    counts.toSeq.map { case (c, n) => (c, n, hash) }
      .toDF("cid", "n", "model_hash")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/listmeta")
  }

  /** Counts valid under `expectedHash` — None when absent OR stamped
    * under a different model (stale survivor of an interrupted swap). */
  private def readListMeta(spark: org.apache.spark.sql.SparkSession,
                           dir: String, expectedHash: Long): Option[Map[Int, Long]] =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "listmeta"))) None
    else scala.util.Try { // a crash mid-overwrite can leave the sidecar
      // directory file-less/unreadable — that too self-heals as "absent"
      // (re-derive) rather than bricking every subsequent append
      val rows = spark.read.parquet(s"$dir/listmeta").collect()
      val stamped = rows.headOption.forall { r =>
        !r.schema.fieldNames.contains("model_hash") ||
          r.getLong(r.fieldIndex("model_hash")) == expectedHash
      }
      if (!stamped) None
      else Some(rows.map(r => r.getInt(0) -> r.getLong(1)).toMap)
    }.toOption.flatten

  private def writeTrainMeta(spark: org.apache.spark.sql.SparkSession,
                             dir: String, hash: Long, trainSkew: Double,
                             at: String = "trainmeta"): Unit = {
    import spark.implicits._
    Seq((hash, trainSkew)).toDF("model_hash", "train_skew")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$at")
  }

  private def readTrainMeta(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Option[(Long, Double)] =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "trainmeta"))) None
    else scala.util.Try(spark.read.parquet(s"$dir/trainmeta").collect().headOption
      .map(r => (r.getLong(0), r.getDouble(1)))).toOption.flatten

  /** Append `newVectors` to a PERSISTED IVF index without a rebuild: the
    * arrivals are assigned under the index's FROZEN centroid model (the
    * standard IVF maintenance posture — a refit would shift every list
    * boundary and demand a full reassignment) and append-written into
    * the lists relation. Under that frozen model, append→query equals
    * assign-the-grown-corpus→query EXACTLY. The append path is O(delta):
    * occupancy updates merge the delta's per-list counts into listmeta,
    * never re-scanning the standing lists (one legacy re-derive if the
    * sidecar is absent).
    *
    * Recall drift as the corpus outgrows the quantizer is handled by the
    * built-in maintenance hook: when the post-append occupancy skew
    * exceeds `retrainSkewFactor ×` the skew recorded AT LAST TRAIN
    * (appends that follow the trained distribution leave skew flat;
    * drifted ones pile into few lists, exactly the shape that starves
    * recall at fixed nprobe — and a train-time baseline cannot be
    * ratcheted up by many small drifts the way a pre-append baseline
    * could), the quantizer is re-trained on the grown corpus
    * (`retrainRefineIters` k-means rounds) and the index rewritten via
    * staged files + ordered swap: stale staging survivors of a prior
    * interrupted retrain are cleared first (a refused move AFTER the
    * fingerprint swap would brick a consistent index), then trainmeta
    * (new fingerprint) swaps FIRST, so any interruption leaves a state
    * [[loadIvfIndex]] either serves correctly (all-old) or rejects
    * loudly (fingerprint mismatch), never a silent new-lists/
    * old-centroids mix; a listmeta left one step behind self-heals via
    * its own model stamp (discarded + re-derived on the next maintained
    * append); the old lists directory is removed only after the swap
    * completes. Returns
    * true when a re-train ran. Pass `retrainSkewFactor =
    * Double.PositiveInfinity` for the pure frozen append (no trigger;
    * occupancy still maintained O(delta)). Single-writer, like every
    * store-maintenance path here. */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                     newVectors: DataFrame,
                     retrainSkewFactor: Double = 4.0,
                     retrainRefineIters: Int = 2): Boolean = {
    import org.apache.spark.storage.StorageLevel
    val index = loadIvfIndex(spark, dir)
    val nlist = index.centroids.length
    val assigned = assignLists(newVectors, index.centroids)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val curHash = modelHash(index.centroids)
    try {
      assigned.write.mode("append").parquet(s"$dir/lists")
      // O(delta) occupancy bookkeeping: delta counts from the in-hand
      // (persisted) assignment, merged into the sidecar — the standing
      // lists are re-scanned only when the sidecar is missing (legacy)
      // or stamped under a different model (stale swap survivor)
      val deltaCounts = listCounts(assigned)
      val baseCounts = readListMeta(spark, dir, curHash)
        .getOrElse(listCounts(index.lists))
      val newCounts = (baseCounts.keySet ++ deltaCounts.keySet).map(k =>
        k -> (baseCounts.getOrElse(k, 0L) + deltaCounts.getOrElse(k, 0L))).toMap
      writeListMeta(spark, dir, newCounts, curHash)
      if (retrainSkewFactor == Double.PositiveInfinity) return false
      val baseline = readTrainMeta(spark, dir).map(_._2)
        .getOrElse(skewOf(baseCounts, nlist))
      val skewAfter = skewOf(newCounts, nlist)
      if (skewAfter <= retrainSkewFactor * math.max(baseline, 1.0)) false
      else {
        // drifted: refit on the grown corpus and rewrite the index.
        // Everything is staged beside the live files (Spark cannot
        // overwrite an input path of a live plan), then swapped in the
        // tear-detectable order documented above.
        val root = java.nio.file.Paths.get(dir)
        def clear(name: String): Unit = {
          val p = root.resolve(name)
          graft.sources.SnapshotStore.deleteTree(p.toString)
          // verified, not best-effort: a silently failed delete here
          // would surface AFTER the fingerprint swap (Files.move refuses
          // an existing target) and brick a currently-consistent index —
          // fail loudly now, while everything is still intact
          require(!java.nio.file.Files.exists(p),
            s"IVF retrain at $dir: could not clear stale '$name' from a " +
              "previously interrupted retrain — remove it and re-run")
        }
        // clear stale staging/backup survivors of an interrupted PRIOR
        // retrain first
        Seq("lists_old", "lists_retrain", "trainmeta_retrain",
          "centroids_retrain").foreach(clear)
        val grown = spark.read.parquet(s"$dir/lists")
        val refit = buildIvfIndex(
          grown.select(col("c_id").as("vec_id"), col("cv").as("embedding")),
          nlist, retrainRefineIters)
        refit.lists.write.mode("overwrite").parquet(s"$dir/lists_retrain")
        val refitCounts = listCounts(spark.read.parquet(s"$dir/lists_retrain"))
        val refitHash = modelHash(refit.centroids)
        writeTrainMeta(spark, dir, refitHash,
          skewOf(refitCounts, nlist), at = "trainmeta_retrain")
        saveCentroids(spark, refit.centroids, dir, at = "centroids_retrain")
        def swap(name: String): Unit = {
          graft.sources.SnapshotStore.deleteTree(root.resolve(name).toString)
          java.nio.file.Files.move(root.resolve(s"${name}_retrain"),
            root.resolve(name))
        }
        swap("trainmeta") // new fingerprint first: a tear now fails loudly
        java.nio.file.Files.move(root.resolve("lists"), root.resolve("lists_old"))
        java.nio.file.Files.move(root.resolve("lists_retrain"), root.resolve("lists"))
        swap("centroids")
        // hash-stamped: if we die before this write, the next maintained
        // append sees the old stamp, discards the sidecar and re-derives
        writeListMeta(spark, dir, refitCounts, refitHash)
        // old data last: no-loss swap (a failed delete here is retried by
        // the NEXT retrain's verified clear, never blocking this one)
        graft.sources.SnapshotStore.deleteTree(root.resolve("lists_old").toString)
        true
      }
    } finally assigned.unpersist()
  }

  /** Query a fitted (possibly reloaded) IVF index: probe `nprobe` lists per
    * query by centroid dot product, rerank probed candidates by exact
    * cosine. The query side is a BROADCAST probe into the stored lists —
    * no shuffle of the corpus, no quantizer refit; at scale this is the
    * serving path and [[buildIvfIndex]] is the (amortized) build path. */
  def queryIvfIndex(index: IvfIndex, queries: DataFrame, k: Int,
                    nprobe: Int = 4): DataFrame = {
    val probed = broadcast(
      queries
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
        .withColumn("qn", norm(col("qv")))
        .withColumn("cid",
          explode(graft.functions.HashExpressions.topCentroids(
            col("qv"), index.centroids, nprobe))))
    index.lists.join(probed, "cid")
      .where(col("q_id") =!= col("c_id"))
      .withColumn("score", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .transform(rankTopK(_, k))
  }

  /** Persist an IVF index: inverted lists as parquet, centroids as a tiny
    * (cid, cv) parquet alongside — everything a serving job needs. */
  def saveIvfIndex(index: IvfIndex, dir: String): Unit = {
    val spark = index.lists.sparkSession
    index.lists.write.mode("overwrite").parquet(s"$dir/lists")
    saveCentroids(spark, index.centroids, dir)
    // occupancy + train-skew baseline for the append-path drift trigger
    // (one read-back scan of what was just written — the save already
    // cost O(index); see the sidecar notes above appendIvfIndex)
    val counts = listCounts(spark.read.parquet(s"$dir/lists"))
    val hash = modelHash(index.centroids)
    writeListMeta(spark, dir, counts, hash)
    writeTrainMeta(spark, dir, hash, skewOf(counts, index.centroids.length))
  }

  private def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                            centroids: Array[Array[Double]], dir: String,
                            at: String = "centroids"): Unit = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (cv, cid) => (cid, cv.toSeq) }.toSeq
      .toDF("cid", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$at")
  }

  /** Reload a persisted IVF index. Centroid order (= cid) is restored from
    * the stored cid column, so probe assignment and its index tie-break
    * reproduce the original exactly. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex = {
    val cents = spark.read.parquet(s"$dir/centroids")
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    // tear detection: an interrupted retrain swap can leave lists
    // assigned under a model the centroids files don't hold — the stamp
    // written FIRST in the swap order makes that state loud here instead
    // of silently serving wrong probe targets (pre-meta legacy indexes
    // have no stamp and load as before)
    readTrainMeta(spark, dir).foreach { case (hash, _) =>
      require(hash == modelHash(cents),
        s"IVF index at $dir is torn: stored centroids do not match the " +
          "model stamped at the last (re)train — a retrain swap was " +
          "interrupted; re-run buildIvfIndex + saveIvfIndex to repair")
    }
    IvfIndex(cents, spark.read.parquet(s"$dir/lists"))
  }

  /** Approximate cosine top-k via IVF (inverted-file) coarse quantization:
    * `nlist` centroids — deterministic lowest-vec_id seeds, refined by
    * `refineIters` Lloyd's update rounds ([[kmeansCentroids]]) when
    * requested — every candidate assigned to its nearest centroid (one
    * codegen'd dot per centroid), queries probe their `nprobe` nearest
    * lists, exact rerank within probed lists only. Refinement changes ONLY
    * the centroid model (a tiny driver-side array); the plan shape — list
    * equi-join, broadcast probe side — is identical either way, so recall
    * improves with zero cost on the data path.
    *
    * Scale shape: the centroid table is a tiny broadcast dimension (collected
    * once — it is nlist×dim doubles, not a data path); candidate assignment
    * is per-row work; the probe is an equi-join on list id. Candidate count
    * per query ≈ n × nprobe / nlist.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nlist: Int = 32, nprobe: Int = 4, refineIters: Int = 0): DataFrame =
    queryIvfIndex(buildIvfIndex(candidates, nlist, refineIters), queries, k, nprobe)

  /** The (q_id, c_id) probed-list candidates of [[ivfTopK]], without the
    * rerank — the GENERATION half surfaced standalone for the export-oracle
    * rerank check. Structurally distinct: every candidate lives in exactly
    * one inverted list and a query probes `nprobe` distinct lists. */
  def ivfCandidates(queries: DataFrame, candidates: DataFrame,
                    nlist: Int = 32, nprobe: Int = 4,
                    refineIters: Int = 0): DataFrame = {
    val cents = kmeansCentroids(candidates, nlist, refineIters, spherical = true)
    val assigned = candidates.select(col("vec_id").as("c_id"),
      element_at(graft.functions.HashExpressions.topCentroids(
        col("embedding"), cents, 1), 1).as("cid"))
    val probed = broadcast(queries.select(col("vec_id").as("q_id"),
      explode(graft.functions.HashExpressions.topCentroids(
        col("embedding"), cents, nprobe)).as("cid")))
    assigned.join(probed, "cid")
      .where(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id")
  }

  /** Exact cosine rerank of an EXPLICIT (q_id, c_id) candidate list — the
    * VERIFY half every ANN variant shares, standalone so it can run over an
    * exported candidate set and face a SQL oracle (the fused paths carry
    * vectors through the bucket join instead and never re-join). Same
    * score / tie-break / rounding contract as [[rankTopK]]. The pair list
    * is queries×candidates-bounded — broadcastable — so both vector
    * attaches are map-side at scale. */
  def rerankTopK(pairs: DataFrame, vectors: DataFrame, k: Int): DataFrame = {
    val v = vectors.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("vn", norm(col("v")))
    pairs
      .join(v.select(col("vec_id").as("q_id"), col("v").as("qv"), col("vn").as("qn")), "q_id")
      .join(v.select(col("vec_id").as("c_id"), col("v").as("cv"), col("vn").as("cn")), "c_id")
      .withColumn("score", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .transform(rankTopK(_, k))
  }

  /** Embedding near-dup CANDIDATE pairs — the LSH-bucket generation half of
    * [[embeddingNearDupPairs]], surfaced standalone (with vectors and norms
    * attached) so the cosine VERIFY stage can run over an exported candidate
    * set and face a SQL oracle that recomputes the cosine from the vectors.
    * Pairs emitted once (vec_a < vec_b), distinct across tables.
    *
    * SCALE CONTRACT: all-pairs generation over a corpus of n is
    * O(n²/2^bitsPerTable) — bucket occupancy grows with n at fixed
    * granularity, pairs per bucket quadratically. `bitsPerTable` must grow
    * with the corpus (+2 bits per 4×, keeping occupancy constant) exactly
    * as IVF grows `nlist`. No ScaleGate row times it: ScaleUp keeps the
    * embeddings table fixed, so there is no corpus growth to measure. */
  def embeddingCandidatePairs(vectors: DataFrame,
                              dim: Int = 64, tables: Int = 8, bitsPerTable: Int = 8,
                              seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, tables, bitsPerTable, seed)
    // Same bucket shape as lshTopK: one custom-expression loop per row.
    val staged = vectors.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("vn", norm(col("v")))
    // SHUFFLE_HASH self-join on (tbl, bkt): identical shuffle subplans on
    // both sides → ReusedExchange computes the bucket stage once (the
    // default broadcast plan recomputes it per side, and broadcasting the
    // full bucketed corpus is not a cluster-scale option).
    val b = staged.select(col("vec_id"), col("v"), col("vn"),
      posexplode(graft.functions.HashExpressions.hyperplaneBuckets(col("v"), planes)))
      .toDF("vec_id", "v", "vn", "tbl", "bkt")
      .hint("SHUFFLE_HASH")
    val l = b.alias("l")
    val r = b.alias("r")
    l.join(r,
        col("l.tbl") === col("r.tbl") && col("l.bkt") === col("r.bkt") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"),
        col("l.v").as("va"), col("r.v").as("vb"),
        col("l.vn").as("na"), col("r.vn").as("nb"))
      .distinct()
  }

  /** Exact-cosine VERIFY over an explicit candidate pair list carrying
    * vectors and staged norms (`va/vb/na/nb` from
    * [[embeddingCandidatePairs]]) — per-pair work only, map-side at any
    * scale. Kept separate so an exported candidate set can be replayed
    * here while DuckDB recomputes the same cosine from `va`/`vb`. */
  def cosineVerifyPairs(pairs: DataFrame, minCosine: Double): DataFrame =
    pairs
      .withColumn("score", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("score") >= minCosine)
      .select(col("vec_a"), col("vec_b"), col("score"))

  /** Embedding near-duplicate pairs (cosine >= minCosine) via the same LSH
    * tables: bucket-join candidates among ALL rows (no query set), exact
    * verify. doc pairs emitted once (a < b). */
  def embeddingNearDupPairs(vectors: DataFrame, minCosine: Double,
                            dim: Int = 64, tables: Int = 8, bitsPerTable: Int = 8,
                            seed: Long = 42L): DataFrame =
    cosineVerifyPairs(
      embeddingCandidatePairs(vectors, dim, tables, bitsPerTable, seed), minCosine)

  /** Symmetric per-vector int8 quantization (the SQ8 scheme ANN systems
    * use for a 4× memory cut): scale = max|x|/127, q_i = ⌊x_i/scale + ½⌋.
    * The floor-plus-half form (not a round() builtin) pins the half-way
    * rounding mode to one IEEE expression both Spark and a SQL oracle
    * evaluate identically; max is exact (no accumulation), so the whole
    * encode is bit-reproducible. Zero vectors quantize to all-zero with
    * scale 0. Map-only at any scale.
    *
    * @return (vec_id, scale double, q array<long> of the int8 codes)
    */
  def quantizeInt8(vectors: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
      .select(col("vec_id"),
        (aggregate(col("v"), lit(0d), (a, x) => greatest(a, abs(x))) / 127d)
          .as("scale"),
        col("v"))
      .select(col("vec_id"), col("scale"),
        when(col("scale") === 0d, transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"),
            x => floor(x / col("scale") + lit(0.5d)).cast("long"))).as("q"))

  /** Dequantize [[quantizeInt8]] codes back to double vectors (q_i ·
    * scale) — the reconstruction a quantized index scores against. */
  def dequantizeInt8(quantized: DataFrame): DataFrame =
    quantized.select(col("vec_id"),
      transform(col("q"), j => j.cast("double") * col("scale")).as("embedding"))

  /** Nearest-centroid assignment against a driver-side centroid model —
    * map-only, one codegen'd dot per centroid, ties break by centroid
    * index ([[graft.functions.HashExpressions.TopCentroids]]). */
  def assignToCentroids(vectors: DataFrame, c: Array[Array[Double]]): DataFrame =
    vectors.select(col("vec_id"),
      element_at(graft.functions.HashExpressions.topCentroids(
        col("embedding"), c, 1), 1).as("cluster_id"),
      col("embedding"))

  /** Lloyd's centroid refinement shared by [[kmeansAssign]] and the
    * kmeans-refined [[ivfTopK]]: deterministic lowest-vec_id seeds, then
    * `updates` rounds of assign-to-nearest / recompute-means. With
    * `updates = 0` this is exactly the seed set.
    *
    * `spherical = true` renormalizes every centroid to unit length (seeds
    * AND each round's means) — spherical k-means, the quantizer that
    * matches COSINE retrieval: assignment by dot against unit centroids IS
    * cosine assignment, so no centroid "hoovers" vectors merely by having
    * a larger norm, and list sizes stay balanced. Plain means (`false`)
    * are the right update for dot-product/Euclidean objectives.
    *
    * Everything is deterministic: assignment ties break by centroid index,
    * and centroid means are exact decimal sums per (cluster, component)
    * divided once — independent of partitioning and shuffle order (the
    * final unit-scaling is one more deterministic scalar op per centroid).
    *
    * Scale shape per round: assignment is map-only; the update is ONE
    * aggregate shuffle keyed by (cluster, component) whose result is
    * nClusters × dim rows — a tiny driver collect of the MODEL, never the
    * data. */
  def kmeansCentroids(vectors: DataFrame, nClusters: Int, updates: Int,
                      spherical: Boolean = false): Array[Array[Double]] = {
    import org.apache.spark.sql.Row
    def unit(v: Array[Double]): Array[Double] = {
      if (!spherical) v
      else {
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0d) v else v.map(_ / n)
      }
    }
    var cents: Array[Array[Double]] = vectors
      .orderBy("vec_id").limit(nClusters)
      .select(vecD(col("embedding")).as("v"))
      .collect()
      .map { case r: Row => unit(r.getSeq[Double](0).toArray) }
    for (_ <- 1 to updates) {
      val updated = assignToCentroids(vectors, cents)
        .select(col("cluster_id"), posexplode(vecD(col("embedding"))))
        .toDF("cluster_id", "pos", "x")
        .groupBy("cluster_id", "pos")
        .agg((sum(col("x").cast("decimal(28,12)")).cast("double") /
          count(lit(1)).cast("double")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> unit(rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
        }
      // A cluster that lost every member keeps its previous centroid.
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i))).toArray
    }
    cents
  }

  /** Lloyd's k-means assignment over the embedding column. `rounds` counts
    * Lloyd ROUNDS, and the final round's assignment IS the returned frame
    * (fused): `rounds - 1` centroid-update rounds run in
    * [[kmeansCentroids]], then one assignment pass both closes the last
    * round and produces the output — one fewer pass over the data than the
    * assign/update/…/assign-again formulation (the BENCH_LOCAL headroom
    * note).
    *
    * Named `rounds`, not `iters` (round-6 ADVICE): the fused formulation
    * runs one FEWER centroid update than the pre-fuse `iters` semantics
    * did — `rounds = N` reproduces old `iters = N - 1` output. The rename
    * makes every call site face that change, and the registered query's
    * centroid-export oracle now pins the output bit-exactly anyway.
    *
    * @return (vec_id, cluster_id)
    */
  def kmeansAssign(vectors: DataFrame, nClusters: Int = 8, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    assignVectors(vectors, kmeansCentroids(vectors, nClusters, rounds - 1))
  }

  /** Assignment against an EXPLICIT centroid model in the output shape of
    * [[kmeansAssign]] — the stage the export-oracle replays: centroids are
    * exported, read back, and assigned with here, so DuckDB's argmax-dot
    * over the same parquet model must reproduce every label. */
  def assignVectors(vectors: DataFrame, cents: Array[Array[Double]]): DataFrame =
    assignToCentroids(vectors, cents)
      .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"))

  /** Recall@k of an approximate ANN result against the exact brute-force
    * ranking — the accuracy gate to run before switching an index variant
    * on. Both inputs are (q_id, c_id, ...) top-k frames; the overlap is a
    * join on the tiny result sets (never touches the vectors). Returns
    * (q_id, recall) with recall = |approx ∩ exact| / |exact| — the
    * PER-QUERY exact count, not the parameter k: when the candidate pool
    * has fewer than k members, dividing by k would cap a perfect index
    * below 1.0 and spuriously fail the gate. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("q_id"), col("c_id"))
      .join(approx.select(col("q_id"), col("c_id")).withColumn("__hit", lit(1)),
        Seq("q_id", "c_id"), "left")
      .groupBy("q_id")
      // left join (not semi) so a query whose approx set misses everything
      // still reports recall 0.0 rather than vanishing from the eval.
      .agg((sum(coalesce(col("__hit"), lit(0))).cast("double") /
        count(lit(1)).cast("double")).as("recall"))

  /** Per-label centroid-cohesion screen: each vector's cosine to its own
    * label's centroid, flagging vectors below `outlierBelow` — the
    * mislabeled/noisy-embedding audit a curation pipeline runs before
    * trusting group labels (and the cohesion eval for any clustering).
    *
    * Determinism scheme: components are quantized to integers
    * (`round(x·10⁶)`, scale-0 rounding — the proven portable op), so the
    * per-(label, dim) centroid sums are EXACT integer arithmetic in double
    * — order-independent under any shuffle/merge order below 2^53 (1e6 ×
    * 1e9 rows of |x| ≤ 10 stays clear). The quantization scale cancels in
    * the cosine, evaluated with the pinned left-to-right [[dot]] fold
    * (bit-identical to DuckDB `list_dot_product`). Scale shape: one
    * explode + (label, dim)-keyed aggregate (map-side combined), centroids
    * are label-count × dim rows collected to a label-keyed array relation
    * that BROADCASTS back; the fact table is never shuffled. */
  def labelDispersion(emb: DataFrame, outlierBelow: Double = 0.5,
                      quantScale: Double = 1000000.0): DataFrame = {
    val qv = transform(col("embedding"), x => round(x.cast("double") * quantScale))
    val q = emb.select(col("vec_id"), col("label"), qv.as("xv"))
    val cent = q
      .select(col("label"), posexplode(col("xv")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(sum(col("x")).as("s"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("s")))).as("ds"))
      .select(col("label"), transform(col("ds"), d => d.getField("s")).as("cv"))
    // A vector (or centroid) that quantizes to all zeros has no defined
    // cosine — and under ANSI mode the 0/0 double division THROWS rather
    // than yielding NaN, so the guard must come before the division (the
    // a25 pattern). Degenerate rows report a NULL cosine and flag as
    // outliers: a null/garbage embedding is precisely what this audit
    // exists to surface.
    val cos = when(col("__dxx") > 0 && col("__dcc") > 0,
      col("__dxc") / (sqrt(col("__dxx")) * sqrt(col("__dcc"))))
    q.join(broadcast(cent), Seq("label"))
      .withColumn("__dxx", dot(col("xv"), col("xv")))
      .withColumn("__dcc", dot(col("cv"), col("cv")))
      .withColumn("__dxc", dot(col("xv"), col("cv")))
      .select(col("vec_id"), col("label"), cos.as("cos_centroid"),
        coalesce(cos < outlierBelow, lit(true)).as("is_outlier"))
  }

  // ---- Product quantization (PQ) -------------------------------------------

  /** Product-quantization codebook model (Jégou et al., TPAMI 2011): the
    * `dim`-vector splits into `m` contiguous subspaces of `subDim`
    * components, each quantized independently against its own `k`-entry
    * codebook, so a vector stores as `m` small codes (m bytes at k ≤ 256)
    * instead of `dim` floats — the memory tier between SQ8
    * ([[quantizeInt8]], 4×) and raw floats that makes a 100 TB embedding
    * corpus servable from RAM-sized indexes.
    *
    * `codebooks(j)(c)` is the plain subspace centroid; `augmented(j)(c)`
    * is the SAME centroid with `−½‖c‖²` appended, which turns argmin-L2
    * encoding into argmax-dot over augmented vectors
    * (`‖x−c‖² = ‖x‖² − 2(x·c − ½‖c‖²)`, and `‖x‖²` is
    * code-independent) — so encode reuses the codegen'd
    * [[graft.functions.HashExpressions.TopCentroids]] loop with its
    * lower-index tie-break, and a SQL oracle replays the argmax with
    * `list_dot_product` over the EXPORTED augmented rows (the bias is
    * model data, never recomputed oracle-side). */
  final case class PqModel(subDim: Int,
                           codebooks: Array[Array[Array[Double]]],
                           augmented: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def dim: Int = m * subDim
  }

  object PqModel {
    /** `−½‖c‖²` with the pinned left-to-right fold (the same accumulation
      * order [[dot]] uses), so the bias is a deterministic function of the
      * centroid doubles and round-trips bit-exactly through the model
      * export. */
    def bias(cv: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < cv.length) { acc += cv(i) * cv(i); i += 1 }
      -0.5 * acc
    }

    def fromCodebooks(subDim: Int, books: Array[Array[Array[Double]]]): PqModel =
      PqModel(subDim, books, books.map(_.map(cv => cv :+ bias(cv))))
  }

  /** Subspace `j` of the embedding as array<double> (1-based slice). */
  private def subVecD(v: Column, j: Int, subDim: Int): Column =
    transform(slice(v, j * subDim + 1, subDim), x => x.cast("double"))

  /** The augmented subvector `[x_j ; 1.0]` that pairs with the augmented
    * codebook in the argmin-L2-as-argmax-dot encode. */
  private def augSubVec(v: Column, j: Int, subDim: Int): Column =
    concat(subVecD(v, j, subDim), array(lit(1.0d)))

  /** Train PQ codebooks with Lloyd rounds under the L2 objective —
    * deterministic end to end: seeds are the `k` lowest-vec_id vectors
    * sliced per subspace, assignment ties break to the lower code, and
    * centroid means are exact decimal sums per (subspace, code, component)
    * (partitioning- and shuffle-order-independent, the [[kmeansCentroids]]
    * contract).
    *
    * Scale shape per round: ONE pass over the data for ALL `m` subspaces —
    * the per-subspace argmin is `m` independent map-only [[graft.functions.HashExpressions.TopCentroids]]
    * expressions in a single projection, then one posexplode +
    * (subspace, code, component)-keyed aggregate (map-side combined) whose
    * result is the MODEL (m·k·subDim rows) collected to the driver — the
    * data never shuffles by itself, only its per-component partial sums do. */
  def pqTrain(vectors: DataFrame, m: Int = 8, k: Int = 16,
              updates: Int = 1): PqModel = {
    val dim = vectors.select(size(col("embedding")).as("d")).head.getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val seedRows = vectors.orderBy("vec_id").limit(k)
      .select(vecD(col("embedding")).as("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seedRows.length == k, s"need >= $k vectors to seed, got ${seedRows.length}")
    var model = PqModel.fromCodebooks(subDim,
      Array.tabulate(m)(j => seedRows.map(_.slice(j * subDim, (j + 1) * subDim))))
    for (_ <- 1 to updates) {
      val codeCols = array((0 until m).map(j =>
        element_at(graft.functions.HashExpressions.topCentroids(
          augSubVec(col("embedding"), j, subDim), model.augmented(j), 1), 1)): _*)
      val updated = vectors
        .select(vecD(col("embedding")).as("v"), posexplode(codeCols).as(Seq("j", "code")))
        .select(col("j"), col("code"),
          posexplode(slice(col("v"), col("j") * lit(subDim) + lit(1), lit(subDim))))
        .toDF("j", "code", "pos", "x")
        .groupBy("j", "code", "pos")
        .agg((sum(col("x").cast("decimal(28,12)")).cast("double") /
          count(lit(1)).cast("double")).as("mv"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (jc, rows) =>
          jc -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray }
      // A code that captured no vectors keeps its previous centroid.
      model = PqModel.fromCodebooks(subDim,
        Array.tabulate(m)(j => Array.tabulate(k)(c =>
          updated.getOrElse((j, c), model.codebooks(j)(c)))))
    }
    model
  }

  /** Encode each vector as its `m` PQ codes — map-only (one codegen'd
    * [[graft.functions.HashExpressions.TopCentroids]] per subspace, no
    * shuffle), the path that runs over the full corpus at scale.
    *
    * @return (vec_id, codes array<int> of length m)
    */
  def pqEncode(vectors: DataFrame, model: PqModel): DataFrame = {
    val codeCols = array((0 until model.m).map(j =>
      element_at(graft.functions.HashExpressions.topCentroids(
        augSubVec(col("embedding"), j, model.subDim), model.augmented(j), 1), 1)): _*)
    vectors.select(col("vec_id"), codeCols.as("codes"))
  }

  /** [[pqEncode]] in long format `(vec_id, sub_idx, code)` — the
    * export/oracle surface (one row per code keeps the compare away from
    * list-typed columns). */
  def pqEncodeLong(vectors: DataFrame, model: PqModel): DataFrame =
    pqEncode(vectors, model)
      .select(col("vec_id"), posexplode(col("codes")))
      .toDF("vec_id", "sub_idx", "code")

  /** Reconstruct the PQ approximation (the concatenation of each code's
    * plain centroid) — map-only via one literal `(subspace·k + code) →
    * centroid` map lookup per subspace (model-sized literal, never a
    * join).
    *
    * @return (vec_id, embedding array<double> of length dim)
    */
  def pqDecode(codes: DataFrame, model: PqModel): DataFrame = {
    val k = model.k
    val entries: Map[Int, Seq[Double]] = (for {
      j <- 0 until model.m; c <- 0 until k
    } yield (j * k + c) -> model.codebooks(j)(c).toSeq).toMap
    val cb = typedlit(entries)
    codes.select(col("vec_id"),
      flatten(transform(col("codes"),
        (code, j) => element_at(cb, j * lit(k) + code))).as("embedding"))
  }

  /** The PQ model as its export relation `(sub_idx, code, cv, cv_aug)` —
    * one row per codebook entry, both the plain and the augmented centroid
    * (the oracle consumes `cv_aug` for encode and `cv` for
    * reconstruction; shipping the bias as data means no engine ever
    * recomputes it). */
  def pqModelToDf(spark: org.apache.spark.sql.SparkSession, model: PqModel): DataFrame = {
    val rows = for { j <- 0 until model.m; c <- 0 until model.k } yield
      (j, c, model.codebooks(j)(c).toSeq, model.augmented(j)(c).toSeq)
    spark.createDataFrame(rows).toDF("sub_idx", "code", "cv", "cv_aug")
  }

  /** Rebuild a [[PqModel]] from collected [[pqModelToDf]] rows — the
    * read-back half of the model round-trip (the registered queries encode
    * with the PERSISTED doubles, the same contract as `kmeans_assign`). */
  def pqModelFromRows(rows: Array[org.apache.spark.sql.Row]): PqModel = {
    val parsed = rows.map(r => (r.getInt(0), r.getInt(1),
      r.getSeq[Double](2).toArray, r.getSeq[Double](3).toArray))
    val byJ = parsed.groupBy(_._1)
    val books = Array.tabulate(byJ.size)(j => byJ(j).sortBy(_._2).map(_._3))
    val augs = Array.tabulate(byJ.size)(j => byJ(j).sortBy(_._2).map(_._4))
    PqModel(books.head.head.length, books, augs)
  }

  /** Deterministic Johnson–Lindenstrauss projection matrix (`outDim` rows
    * of `dim` Gaussian doubles from a fixed seed — the [[hyperplanes]]
    * generator with one table), the standard dimensionality-reduction
    * front of an ANN stack: distances are preserved within (1±ε) for
    * outDim = O(log n / ε²) regardless of `dim`. */
  def projectionMatrix(dim: Int, outDim: Int, seed: Long = 7L): Array[Array[Double]] =
    hyperplanes(dim, 1, outDim, seed)(0)

  /** Project embeddings through an EXPLICIT matrix — map-only, one pinned
    * left-to-right [[dot]] per output component, so the projected values
    * are bit-reproducible from the exported matrix (`list_dot_product`
    * oracle form, the model-export contract). No JL scaling constant is
    * applied — cosine is scale-invariant and a norm gate can fold the
    * 1/√outDim into its threshold.
    *
    * @return (vec_id, proj array<double> of length outDim)
    */
  def projectEmbeddings(vectors: DataFrame, p: Array[Array[Double]]): DataFrame =
    vectors.select(col("vec_id"),
      array(p.indices.map(j =>
        dot(col("embedding"), typedlit(p(j).toSeq))): _*).as("proj"))

  /** IVF-PQ: coarse L2 quantizer + product-quantized RESIDUALS — the
    * composition serving billion-vector indexes (coarse list prunes the
    * search to `nprobe` partitions; the residual `x − c_list` has lower
    * variance than `x` — within-cluster instead of total — so the same PQ
    * budget reconstructs it more accurately). A candidate stores as one
    * small list id + `m` codes.
    *
    * The coarse quantizer IS a 1-subspace [[PqModel]] over the full
    * dimension: that gives argmin-L2 Lloyd training and assignment through
    * the exact augmented-argmax machinery (and its oracle form) that PQ
    * already pins — residual against the list MEAN is the L2-optimal
    * offset (a spherical/unit centroid would be WRONG here: subtracting a
    * unit-norm direction from a weakly-correlated vector adds variance —
    * measured on the gate fixture, the residual MSE exceeded raw PQ until
    * this was switched to means). */
  final case class IvfPqModel(coarse: PqModel, pq: PqModel) {
    require(coarse.m == 1, "coarse quantizer must be a single full-dim subspace")
  }

  private def coarseMapLit(coarse: Array[Array[Double]]): Column =
    typedlit(coarse.indices.map(i => i -> coarse(i).toSeq).toMap)

  /** Coarse assignment + residual per vector — the shared head of IVF-PQ
    * train and encode: `(vec_id, list_id, embedding = x − c_list)`,
    * map-only (augmented argmin-L2 assignment, model-literal centroid
    * lookup, element-wise subtract). */
  def residuals(vectors: DataFrame, coarse: PqModel): DataFrame =
    vectors.select(col("vec_id"),
        element_at(graft.functions.HashExpressions.topCentroids(
          augSubVec(col("embedding"), 0, coarse.subDim),
          coarse.augmented(0), 1), 1).as("list_id"),
        vecD(col("embedding")).as("v"))
      .withColumn("cv", element_at(coarseMapLit(coarse.codebooks(0)), col("list_id")))
      .select(col("vec_id"), col("list_id"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("embedding"))

  /** Train IVF-PQ: L2 coarse k-means (= [[pqTrain]] with one full-dim
    * subspace), then PQ codebooks over the residuals. Both stages are the
    * same deterministic trainer, so the whole model is reproducible and
    * export-oracle-able in one SQL form. */
  def ivfPqTrain(vectors: DataFrame, nlist: Int = 8, m: Int = 8, pqK: Int = 16,
                 coarseUpdates: Int = 2, pqUpdates: Int = 1): IvfPqModel = {
    val coarse = pqTrain(vectors, m = 1, k = nlist, updates = coarseUpdates)
    IvfPqModel(coarse, pqTrain(residuals(vectors, coarse), m, pqK, pqUpdates))
  }

  /** Encode to `(vec_id, list_id, codes)` — the IVF-PQ index row: at
    * k ≤ 256 that is 4 + m bytes per vector instead of 4·dim. Map-only. */
  def ivfPqEncode(vectors: DataFrame, model: IvfPqModel): DataFrame = {
    val r = residuals(vectors, model.coarse)
    val codeCols = array((0 until model.pq.m).map(j =>
      element_at(graft.functions.HashExpressions.topCentroids(
        augSubVec(col("embedding"), j, model.pq.subDim), model.pq.augmented(j), 1), 1)): _*)
    r.select(col("vec_id"), col("list_id"), codeCols.as("codes"))
  }

  /** Reconstruct `(vec_id, list_id, embedding ≈ x)` from IVF-PQ rows:
    * coarse centroid plus the decoded residual, element-wise — map-only
    * model-literal lookups, no join. */
  def ivfPqDecode(enc: DataFrame, model: IvfPqModel): DataFrame = {
    val k = model.pq.k
    val entries: Map[Int, Seq[Double]] = (for {
      j <- 0 until model.pq.m; c <- 0 until k
    } yield (j * k + c) -> model.pq.codebooks(j)(c).toSeq).toMap
    val cbMap = typedlit(entries)
    enc.select(col("vec_id"), col("list_id"),
      zip_with(
        element_at(coarseMapLit(model.coarse.codebooks(0)), col("list_id")),
        flatten(transform(col("codes"),
          (code, j) => element_at(cbMap, j * lit(k) + code))),
        (a, b) => a + b).as("embedding"))
  }

  /** IVF-PQ cosine top-k: queries probe their `nprobe` nearest coarse
    * lists (broadcast — query-set-sized), candidates in those lists score
    * against their IVF-PQ reconstruction, and the top `k·rerankFactor`
    * rerank with true vectors. At scale the index is partitioned by
    * `list_id`, so a query touches `nprobe/nlist` of the corpus reading
    * 4+m bytes per row — the memory/IO posture that serves billions of
    * vectors; only the rerank touches raw floats. */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, model: IvfPqModel,
                k: Int, nprobe: Int = 3, rerankFactor: Int = 3): DataFrame = {
    val recon = ivfPqDecode(ivfPqEncode(candidates, model), model)
    val probed = broadcast(queries
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .withColumn("qn", norm(col("qv")))
      .select(col("q_id"), col("qv"), col("qn"),
        explode(graft.functions.HashExpressions.topCentroids(
          augSubVec(col("qv"), 0, model.coarse.subDim),
          model.coarse.augmented(0), nprobe)).as("list_id")))
    val scored = recon.join(probed, "list_id")
      .where(col("q_id") =!= col("vec_id"))
      .withColumn("score",
        dot(col("qv"), col("embedding")) / (col("qn") * norm(col("embedding"))))
      .select(col("q_id"), col("vec_id").as("c_id"), col("score"))
    val cand = RelationalOps.topNPerGroup(scored, k * rerankFactor,
        Seq(col("q_id")), Seq(col("score").desc, col("c_id")))
      .select("q_id", "c_id")
    val vecs = candidates.select("vec_id", "embedding")
      .unionByName(queries.select("vec_id", "embedding"))
      .dropDuplicates("vec_id")
    rerankTopK(cand, vecs, k)
  }

  /** PQ-approximate cosine top-k with exact rerank: candidates score
    * against their PQ RECONSTRUCTION (encode → decode), the top
    * `k·rerankFactor` per query rerank with true vectors. Scoring against
    * the reconstruction is mathematically identical to the classic ADC
    * lookup-table sum (`q·x̂ = Σ_j q_j·c_{j,code_j}`, accumulated in the
    * same subspace order by the left-to-right [[dot]] fold) — the LUT is
    * a constant-factor optimization the plan can adopt without changing a
    * single emitted score. At scale the candidate stage reads m-byte codes
    * instead of dim-float vectors; only the rerank touches raw vectors,
    * for k·rerankFactor rows per query. */
  def pqTopK(queries: DataFrame, candidates: DataFrame, model: PqModel,
             k: Int, rerankFactor: Int = 3): DataFrame = {
    val recon = pqDecode(pqEncode(candidates, model), model)
    val cand = bruteTopK(queries, recon, k * rerankFactor).select("q_id", "c_id")
    // The rerank joins true vectors for BOTH pair sides; queries need not
    // be a subset of the candidate corpus, so attach the union (the
    // dedup shuffle is bounded by the tiny query set plus candidates).
    val vecs = candidates.select("vec_id", "embedding")
      .unionByName(queries.select("vec_id", "embedding"))
      .dropDuplicates("vec_id")
    rerankTopK(cand, vecs, k)
  }

  // ======================================================================
  // SemDeDup — semantic near-dedup over embeddings (Abbas et al. 2023,
  // "SemDeDup: Data-efficient learning at web-scale through semantic
  // deduplication", arXiv:2303.09540). Candidate generation is the kmeans
  // cluster itself: exact cosine runs only WITHIN a cluster (an equi-join
  // on cluster_id), never across the corpus — the published trade: work
  // drops from O(N^2) to O(Σ|c_i|^2), and cross-cluster near-dups are the
  // accepted miss surface. At 100 TB nClusters grows with the corpus so
  // per-cluster candidate blocks stay bounded (the paper uses 50k clusters
  // on LAION-440M — ~N/9k); the assignment stage is map-only against a
  // broadcast centroid model.
  // ======================================================================

  /** Within-cluster semantic duplicate pairs: assign every vector to its
    * nearest centroid (dot-argmax, ties to the lower centroid index —
    * [[assignToCentroids]]), then exact cosine over same-cluster (a < b)
    * pairs only. Output: (cluster_id, vec_a, vec_b, score) with
    * score >= tau.
    *
    * Norms are staged per ROW before the self-join (one dot per pair, not
    * three), and the join is an equi-join on cluster_id — no cartesian
    * reaches the plan. */
  def semanticDupPairs(vectors: DataFrame, cents: Array[Array[Double]],
                       tau: Double): DataFrame = {
    val assigned = assignToCentroids(vectors, cents)
      .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"),
        col("embedding").as("v"))
      .withColumn("n", norm(col("v")))
    val a = assigned.select(col("cluster_id"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("n").as("na"))
    val b = assigned.select(col("cluster_id"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("n").as("nb"))
    a.join(b, Seq("cluster_id"))
      .where(col("vec_a") < col("vec_b"))
      .withColumn("score", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("score") >= tau)
      .select(col("cluster_id"), col("vec_a"), col("vec_b"), col("score"))
  }

  /** SemDeDup keep set: a vector is DROPPED iff some lower-id vector in
    * its own cluster has cosine >= tau with it — deterministic and
    * order-independent ("dominated by any lower id"). The lowest id of
    * every within-cluster duplicate component always survives; a clique
    * of mutual near-dups keeps exactly that one representative (a
    * non-clique component can keep more — a member whose only tau-edges
    * point to HIGHER ids is itself undominated). Returns the surviving
    * (vec_id) rows. */
  def semanticKeep(vectors: DataFrame, cents: Array[Array[Double]],
                   tau: Double): DataFrame = {
    val dropped = semanticDupPairs(vectors, cents, tau)
      .select(col("vec_b").as("vec_id")).distinct()
    vectors.select("vec_id").join(dropped, Seq("vec_id"), "left_anti")
  }
}
