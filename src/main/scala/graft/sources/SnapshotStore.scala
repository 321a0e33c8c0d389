package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Manifest-based versioned table store — the batch-pipeline state layer a
  * continuously-curated corpus needs: append-only snapshot versions, time
  * travel, INCREMENTAL reads (process only what arrived since the last run,
  * the batch counterpart of a stream's offset tracking), and small-file
  * compaction that rewrites layout without changing logical content.
  *
  * Layout under `root/`:
  * {{{
  *   data/v1-ab12cd34/part-*.parquet       (a version's added files;
  *                                          suffix is writer-unique)
  *   data/compact3-9f0e1d2c/part-*.parquet (a compaction's rewrite)
  *   _manifests/v1.json … vN.json          (one manifest per version)
  * }}}
  *
  * A manifest lists the data DIRECTORIES whose union is the snapshot —
  * readers plan from the manifest, never by listing `data/` (stale or
  * in-flight directories are invisible until a manifest claims them). The
  * commit protocol is write-data-then-publish-manifest, with the publish
  * a CREATE-IF-ABSENT of `v{N}.json`: a torn write leaves the previous
  * version intact and readable, and two contending writers cannot both
  * claim a version — the loser gets FileAlreadyExistsException and
  * either RE-STACKS its (commutative) append on the winner's manifest or
  * (non-commutative compaction) fails loudly for the caller to re-run.
  * Data directories carry a writer-unique suffix so contending writers
  * never share one. That is the lakehouse pattern (Delta/Iceberg)
  * reduced to a filesystem with atomic link/create. VACUUM remains
  * owner-run: it deletes unreferenced directories, and an in-flight
  * append's directory is unreferenced until its manifest publishes — do
  * not run retention concurrently with writers.
  *
  * Scale shape: manifests are O(versions + directories) JSON, data moves
  * only through ordinary partitioned parquet writes, and an incremental
  * read plans exactly the added directories — no full-table diff, no
  * copy-on-write of untouched files.
  */
object SnapshotStore {

  private def manifestDir(root: String): Path = Paths.get(root, "_manifests")

  private def manifestPath(root: String, v: Int): Path =
    manifestDir(root).resolve(s"v$v.json")

  /** Highest published version, 0 if none. */
  def currentVersion(root: String): Int = {
    val dir = manifestDir(root)
    if (!Files.exists(dir)) 0
    else {
      val stream = Files.list(dir)
      try {
        val vs = stream.toArray.toSeq
          .map(_.asInstanceOf[Path].getFileName.toString)
          .filter(n => n.startsWith("v") && n.endsWith(".json"))
          .flatMap(n => scala.util.Try(
            n.stripPrefix("v").stripSuffix(".json").toInt).toOption)
        if (vs.isEmpty) 0 else vs.max
      } finally stream.close()
    }
  }

  /** Does version `v`'s manifest still exist (false once vacuumed)? */
  def hasManifest(root: String, v: Int): Boolean =
    Files.exists(manifestPath(root, v))

  // The manifest's minimal JSON is parsed by these shared regexes — ONE
  // definition per field, matched against one text read per version
  // (history() composes four fields from a single read).
  private val DirsRe = """"dirs"\s*:\s*\[([^\]]*)\]""".r
  private val ColsRe = """"cols"\s*:\s*\[([^\]]*)\]""".r
  private val OpRe = """"op"\s*:\s*"([a-z]+)"""".r
  private val TsRe = """"ts"\s*:\s*(\d+)""".r
  private val EpochRe = """"epoch"\s*:\s*(\d+)""".r

  private def manifestText(root: String, v: Int): Option[String] = {
    val p = manifestPath(root, v)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), "UTF-8"))
  }

  /** ONE parser for the quoted-list payload every manifest/sidecar field
    * shares (dirs, cols, rebase bases, merge anchors) — a quoting or
    * escaping change lands in one place or nowhere. */
  private def parseQuotedList(group: String): Seq[String] =
    group.split(',').toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty)

  private def dirsOf(root: String, v: Int, text: String): Seq[String] =
    parseQuotedList(DirsRe.findFirstMatchIn(text)
      .getOrElse(sys.error(s"malformed manifest v$v at $root")).group(1))

  /** Directories of version `v` (exactly as the manifest lists them). */
  def manifestDirs(root: String, v: Int): Seq[String] = {
    val text = new String(Files.readAllBytes(manifestPath(root, v)), "UTF-8")
    dirsOf(root, v, text)
  }

  /** Column names version `v`'s manifest records (the snapshot's full
    * evolved schema, in first-seen order) — None for manifests written
    * before schema tracking existed (their stores keep the old
    * anything-goes behavior until the next append starts recording). */
  def manifestCols(root: String, v: Int): Option[Seq[String]] = {
    val text = new String(Files.readAllBytes(manifestPath(root, v)), "UTF-8")
    ColsRe.findFirstMatchIn(text).map(m => parseQuotedList(m.group(1)))
  }

  /** The operation KIND version `v`'s manifest records — "append",
    * "compact", "delete" or "upsert" — None for pre-kind manifests (or a
    * vacuumed version). The signal a change consumer needs to tell ROW
    * CHURN (append/delete/upsert: the manifest's directory diff IS the
    * row diff) from a content-preserving COMPACTION (directories change,
    * rows don't — a directory diff across it double-counts). Consumers
    * treat None conservatively (unknown history: recompute, don't diff). */
  def manifestOp(root: String, v: Int): Option[String] =
    manifestText(root, v).flatMap(OpRe.findFirstMatchIn(_).map(_.group(1)))

  /** The manifest ops whose directory diff IS the row diff — [[gap]]'s
    * [[Gap.Churned]] rule. A compaction (or pre-kind legacy manifest) is
    * not in the set. */
  private val RowChurnOps: Set[String] = Set("append", "delete", "upsert")

  /** Commit wall-clock of version `v` (epoch millis), None for pre-stamp
    * or vacuumed manifests. Recorded at publish time by the committing
    * writer — monotone per writer, the VERSION CHAIN is the truth under
    * skew (see [[versionAsOf]]). */
  def manifestTs(root: String, v: Int): Option[Long] =
    manifestText(root, v).flatMap(TsRe.findFirstMatchIn(_).map(_.group(1).toLong))

  /** The newest version whose recorded commit stamp is ≤ `tsMillis` — the
    * TIMESTAMP AS OF half of time travel ([[read]]'s `version` argument
    * is the VERSION AS OF half). Pre-stamp legacy manifests count as
    * arbitrarily old (they ARE older commits). Commit stamps come from
    * contending writers' wall clocks, so under skew a later version can
    * carry an earlier stamp; the scan takes the max VERSION among
    * qualifying ones — the version chain, not the clock, orders history.
    * Fails loudly when every surviving version is newer than `tsMillis`
    * (asking for a state before the table existed, or below the vacuum
    * horizon — either way the state is not reconstructable). */
  def versionAsOf(root: String, tsMillis: Long): Int = {
    val qualifying = (1 to currentVersion(root)).filter { v =>
      hasManifest(root, v) && manifestTs(root, v).forall(_ <= tsMillis)
    }
    require(qualifying.nonEmpty,
      s"no version at $root committed at or before $tsMillis — the asked-for " +
        "state predates the table (or was vacuumed)")
    qualifying.max
  }

  /** [[read]] at the newest version committed at or before `tsMillis`. */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long,
               mergeSchema: Boolean = false): DataFrame =
    read(spark, root, versionAsOf(root, tsMillis), mergeSchema)

  /** Time-based retention — "keep N days" expressed directly: [[vacuum]]
    * below the AS-OF version of the horizon, so every [[readAsOf]] at or
    * after `tsMillis` keeps working and everything only older versions
    * needed is reclaimed. A horizon predating the whole table is a no-op
    * (nothing is old enough to drop). The natural call is
    * `vacuumOlderThan(root, now - 30 days)`; [[vacuum]]'s single-writer
    * caveat applies unchanged. Manifests WITHOUT a ts stamp (pre-stamp
    * legacy format) never qualify: their age is unknown, and treating
    * unknown as "arbitrarily old" would let a keep-30-days call
    * permanently destroy versions that are actually newer than the
    * horizon. NOTE the deliberate polarity split with [[versionAsOf]]:
    * READS stay permissive (versionAsOf counts stamp-less manifests as
    * arbitrarily old so legacy stores still resolve), DESTRUCTION is
    * conservative (unknown age never vacuums). Legacy stores therefore
    * retain everything until re-stamped (an explicit [[vacuum]] with
    * `keepFrom` remains available). */
  def vacuumOlderThan(root: String, tsMillis: Long): Unit = {
    val qualifying = (1 to currentVersion(root)).filter { v =>
      hasManifest(root, v) && manifestTs(root, v).exists(_ <= tsMillis)
    }
    if (qualifying.nonEmpty && qualifying.max > 1)
      vacuum(root, keepFrom = qualifying.max)
    else
      // say so rather than silently no-op: a horizon that qualifies only
      // v1 (or nothing) reclaims nothing — v1 is always the retention
      // floor (keepFrom starts at 1)
      println(s"[vacuum] nothing older than $tsMillis to reclaim at $root " +
        s"(qualifying: ${qualifying.mkString(",")})")
  }

  /** Commit history as a relation — `(version, op, ts_millis, epoch,
    * n_dirs, current)`, one row per SURVIVING manifest (vacuumed versions
    * have no manifest to describe). The DESCRIBE HISTORY surface:
    * driver-side O(versions) JSON reads, the same cost class as every
    * other manifest scan here. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val cur = currentVersion(root)
    (1 to cur).flatMap { v =>
      manifestText(root, v).map { text =>
        (v, OpRe.findFirstMatchIn(text).map(_.group(1)).getOrElse(""),
          TsRe.findFirstMatchIn(text).map(_.group(1).toLong),
          EpochRe.findFirstMatchIn(text).map(_.group(1).toLong),
          dirsOf(root, v, text).size, v == cur)
      }
    }.toDF("version", "op", "ts_millis", "epoch", "n_dirs", "current")
  }

  /** Publish `dirs` as version `v` — fully write a uniquely-named temp
    * file, then CREATE-IF-ABSENT it into place (hard link, atomic on the
    * local filesystems this store targets): readers either see the
    * complete manifest or none, and a CONTENDED commit — another writer
    * already published `v` — throws [[java.nio.file.FileAlreadyExistsException]]
    * instead of silently replacing the winner's manifest. That exception
    * is the arbitration signal [[commitAppend]] retries on and the
    * compactions fail loudly on. */
  private def publish(root: String, v: Int, dirs: Seq[String],
                      epoch: Option[Long] = None,
                      cols: Seq[String] = Nil,
                      op: String = ""): Unit = {
    // The manifest's arrays are parsed back with a naive split(',')
    // (manifestDirs/manifestCols above); a comma or quote inside a path
    // or column name would fragment every recorded entry and poison
    // vacuum's retained-set math — the same live-data-loss class canon()
    // guards against. Refuse the characters the format cannot represent,
    // loudly and at write time.
    (dirs ++ cols).find(d => d.contains(",") || d.contains("\"") ||
        d.contains("]")).foreach { bad =>
      sys.error(s"snapshot store path or column contains ',', '\"' or ']' — " +
        s"unsupported in the manifest format: $bad")
    }
    Files.createDirectories(manifestDir(root))
    val epochField = epoch.map(e => s""""epoch":$e,""").getOrElse("")
    val colsField =
      if (cols.isEmpty) ""
      else s""""cols":[${cols.map("\"" + _ + "\"").mkString(",")}],"""
    val opField = if (op.isEmpty) "" else s""""op":"$op","""
    val tsField = s""""ts":${System.currentTimeMillis()},"""
    val body = s"""{"version":$v,$opField$tsField$epochField$colsField""" +
      s""""dirs":[${dirs.map("\"" + _ + "\"").mkString(",")}]}"""
    // unique temp name: two contending writers must never share one
    // (leading '.' keeps it out of currentVersion's v*.json listing)
    val tmp = manifestDir(root).resolve(
      s".v$v-${java.util.UUID.randomUUID.toString.take(8)}.json.tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    try Files.createLink(manifestPath(root, v), tmp)
    catch {
      case _: UnsupportedOperationException =>
        // no-hard-link filesystem: CREATE_NEW is equally lose-proof
        // (atomic existence check); only the full-content-or-nothing
        // read guarantee weakens to small-single-write-in-practice
        Files.write(manifestPath(root, v), body.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
    } finally Files.deleteIfExists(tmp)
  }

  /** The snapshot schema after a batch with `dfCols` lands on a schema of
    * `parentCols` — additive growth, with the RENAME signature (omit a
    * recorded column AND introduce a new one) rejected: published as-is
    * both names would silently read half-null forever. Shared by the
    * append and upsert commit paths. Locale.ROOT casing: default-locale
    * lowercasing (tr_TR dotless-ı) would spuriously flag
    * case-insensitively-equal schemas as renames. */
  private def evolveSchema(root: String, parentCols: Seq[String],
                           dfCols: Seq[String]): Seq[String] = {
    def lc(s: String): String = s.toLowerCase(java.util.Locale.ROOT)
    val dfLower = dfCols.map(lc).toSet
    val parentLower = parentCols.map(lc).toSet
    val missing = parentCols.filterNot(c => dfLower.contains(lc(c)))
    val added = dfCols.filterNot(c => parentLower.contains(lc(c)))
    if (missing.nonEmpty && added.nonEmpty)
      sys.error(s"batch looks like a RENAME of ${missing.mkString(", ")} " +
        s"to ${added.mkString(", ")} at $root — published as-is both " +
        "names would silently read half-null forever; schema evolution " +
        "on append/upsert is additive-only. Either select the recorded " +
        "columns or migrate the snapshot with compactWith(renamedDf, ...)")
    parentCols ++ added
  }

  /** A fresh, writer-unique data directory for what will likely publish
    * as version `v` (the suffix keeps two contending writers from ever
    * sharing a directory — `mode("overwrite")` on a shared name would
    * clobber the other writer's files mid-write; the version prefix is
    * readability only, the manifest is the truth). */
  private def newDataDir(root: String, kind: String, v: Int): String =
    s"$root/data/$kind$v-${java.util.UUID.randomUUID.toString.take(8)}"

  /** Commit `dir` as the next version on top of whatever the CURRENT
    * version is at commit time, retrying on lost races: each attempt
    * re-reads the parent chain (so the loser stacks on the winner's
    * manifest, not its own stale view) and [[publish]]'s create-if-absent
    * either wins the version or throws. Append content is commutative —
    * the retry is sound; compactions are not and must NOT come here.
    *
    * Schema evolution is ADDITIVE-ONLY at append time. An append that
    * only OMITS recorded columns is fine (older-shaped data; the omitted
    * columns read null on its rows and the schema keeps them — a DROP is
    * therefore impossible via append, `compactWith` is the migration).
    * An append that omits recorded columns AND introduces new ones is
    * the RENAME signature: published as-is it would silently fragment
    * into add+null forever (old name null on new rows, new name null on
    * old), so it is REJECTED with the migration path named. Checked
    * inside the retry loop: a contender may have evolved the schema
    * between attempts. */
  private[graft] def commitAppend(root: String, dir: String,
                           epoch: Option[Long],
                           dfCols: Seq[String]): Int = {
    var attempt = 0
    while (true) {
      // A replayed epoch may have been committed by the CONTENDER we just
      // lost to — re-check on every attempt or the retry would re-stack a
      // duplicate of an already-ingested micro-batch (the exactly-once
      // contract appendEpoch advertises). The first iteration's check is
      // redundant with appendEpoch's but costs one manifest scan.
      epoch.foreach { e =>
        if (epochSeen(root, e)) return currentVersion(root)
      }
      val parent = currentVersion(root)
      val v = parent + 1
      val parentDirs = if (parent == 0) Seq.empty else manifestDirs(root, parent)
      val parentCols =
        if (parent == 0) Seq.empty
        else manifestCols(root, parent).getOrElse(Seq.empty)
      val cols = evolveSchema(root, parentCols, dfCols)
      try { publish(root, v, parentDirs :+ dir, epoch, cols, "append"); return v }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          attempt += 1
          require(attempt < 64,
            s"manifest commit lost $attempt straight races at $root — " +
              "writer storm; back off and retry the append")
      }
    }
    -1 // unreachable
  }

  /** Run `body` under a Spark job description so multi-job operators
    * read attributably in the UI / JobProfile (optimization guide §1.5).
    * Nested labels compose with " > "; the previous description is
    * restored on exit (descriptions are thread-local, so concurrent
    * driver threads stay independently labeled). */
  private[graft] def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(if (prev == null) desc else s"$prev > $desc")
    try body finally sc.setJobDescription(prev)
  }

  /** Append `df` as a new snapshot version (version 1 creates the table).
    * Data lands under its own writer-unique directory; the manifest
    * unions it with the parent's directories. Returns the new version.
    * Safe under concurrent appenders: data directories are never shared,
    * and the manifest commit is create-if-absent with a re-stack retry
    * (see [[commitAppend]]) — contended writers serialize into
    * sequential versions, neither losing files. A crashed append leaves
    * an unreferenced directory no reader ever plans; vacuum removes it. */
  def append(df: DataFrame, root: String): Int =
    labeled(df.sparkSession, "store append") {
      appendReturningDir(df, root)._1
    }

  private def appendReturningDir(df: DataFrame, root: String): (Int, String) = {
    val dir = newDataDir(root, "v", currentVersion(root) + 1)
    df.write.mode("overwrite").parquet(dir)
    enforceConstraints(df.sparkSession, root, dir)
    (commitAppend(root, dir, None, df.columns.toSeq), dir)
  }

  /** Sampled-footer schema per published (root, version) — a version's
    * file set is immutable once its manifest exists, so the plain read's
    * schema inference (a footer-sample job per call) is paid ONCE and
    * reused; lifecycles re-read the same version dozens of times.
    * mergeSchema reads never come here (their schema is the file-set
    * union, not the sample). Bounded LRU; [[deleteTree]] invalidates its
    * root (tests rebuild stores at a reused path). */
  private val schemaCache = versionCache[StructType]()

  /** Parquet bytes per published (root, version) — see [[versionBytes]]. */
  private val bytesCache = versionCache[java.lang.Long]()

  /** A bounded LRU keyed `root#version`, for facts about a published
    * version's immutable file set. */
  private def versionCache[V]() = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]) =
        size() > 256
    })

  /** On-disk bytes of the parquet files in data directory `d`. */
  private def dirBytes(d: String): Long =
    Option(new java.io.File(d).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum

  /** On-disk parquet bytes of version `v`: the file lengths of its
    * manifest directories, summed locally (no Spark job). Listed
    * once per (root, version) — the file set is immutable once published
    * — in the same bounded LRU as the schema samples. */
  private[graft] def versionBytes(root: String, v: Int): Long = {
    val key = root + "#" + v
    val cached = bytesCache.get(key)
    if (cached != null) cached
    else {
      val b = manifestDirs(root, v).map(dirBytes).sum
      bytesCache.put(key, b)
      b
    }
  }

  /** Read snapshot `version` (default: latest) — the union of exactly the
    * manifest's directories.
    *
    * `mergeSchema = true` reconciles versions whose appends EVOLVED the
    * schema (a column added later reads as null on older rows — the
    * additive half of lakehouse schema evolution; drops/renames are the
    * caller's migration, not a read option). It costs a footer read per
    * file at planning, which is why it is opt-in: the default read plans
    * from one footer, the right posture when the schema is stable. */
  def read(spark: SparkSession, root: String, version: Int = -1,
           mergeSchema: Boolean = false): DataFrame = {
    val v = if (version > 0) version else currentVersion(root)
    require(v > 0, s"no published version at $root")
    if (mergeSchema)
      spark.read.option("mergeSchema", "true").parquet(manifestDirs(root, v): _*)
    else {
      val key = root + "#" + v
      val cached = schemaCache.get(key)
      if (cached != null) spark.read.schema(cached).parquet(manifestDirs(root, v): _*)
      else {
        val df = spark.read.parquet(manifestDirs(root, v): _*)
        schemaCache.put(key, df.schema)
        df
      }
    }
  }

  /** [[read]] that pays mergeSchema ONLY when the store actually evolved:
    * the manifest records the full evolved column set, a plain read plans
    * from one sampled footer — when the two disagree (the sample was a
    * pre-evolution file, which would silently read the newer columns out
    * of existence) the read re-plans with mergeSchema. Uniform stores pay
    * nothing; evolved stores pay the per-file footer read until a
    * compaction re-unifies their files. */
  def readEvolved(spark: SparkSession, root: String,
                  version: Int = -1): DataFrame = {
    val v = if (version > 0) version else currentVersion(root)
    val plain = read(spark, root, v)
    val lc = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    if (manifestCols(root, v).exists(rc =>
        rc.map(lc).toSet != plain.columns.map(lc).toSet))
      read(spark, root, v, mergeSchema = true)
    else plain
  }

  /** Has `root`'s file set evolved past what a single sampled footer
    * describes? (True ⇒ plans that read file SUBSETS or sample one
    * footer are unsafe until a compaction re-unifies the files.) Costs
    * one read PLAN (a footer sample), no data scan. */
  private[sources] def schemaEvolved(spark: SparkSession, root: String,
                                     version: Int = -1): Boolean = {
    val v = if (version > 0) version else currentVersion(root)
    val lc = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    manifestCols(root, v).exists(rc =>
      rc.map(lc).toSet != read(spark, root, v).columns.map(lc).toSet)
  }

  /** Rows added AFTER `fromExclusive` up to `to` (default: latest) — plans
    * only the directories the newer manifests introduced. This is the
    * batch "what's new since my last run" read, and it is the gap's rows
    * only when no directory went missing: a consumer that must know
    * whether it is asks [[gap]] (its [[Gap.Appended]] case reads these
    * same directories). `schema` reads them under an explicit schema. */
  def incremental(spark: SparkSession, root: String,
                  fromExclusive: Int, to: Int = -1,
                  schema: Option[StructType] = None): DataFrame = {
    val v = if (to > 0) to else currentVersion(root)
    require(fromExclusive >= 0 && v >= fromExclusive,
      s"bad incremental range ($fromExclusive, $v]")
    require(fromExclusive == 0 || hasManifest(root, fromExclusive),
      s"incremental baseline v$fromExclusive was vacuumed at $root — " +
        "the manifest diff is undefined; re-read the full snapshot instead")
    val before =
      if (fromExclusive == 0) Set.empty[String]
      else manifestDirs(root, fromExclusive).toSet
    new Gap.Appended(spark, root, v, manifestDirs(root, v).filterNot(before))
      .rows(schema)
  }

  /** Net row-level CHANGE FEED between two snapshot versions — every row
    * of the snapshot schema plus `_change_type` ("insert" | "delete"; an
    * upsert's update is a delete of the old row plus an insert of the
    * new). This is what [[deleteWhere]]/[[upsert]] make necessary: a
    * consumer (a downstream view, a replication target) can no longer
    * treat [[incremental]] as "the delta", because a CoW rewrite removes
    * rows without adding directories full of them.
    *
    * Semantics: the NET multiset difference of content — a row inserted
    * and deleted inside the range reports nothing; identical rows
    * rewritten between directories (compaction, a CoW rewrite's carried
    * rows) cancel. Computed content-wise, so it is correct across ANY
    * commit sequence; computed from only the directories the manifests
    * DISAGREE on, so its cost is O(churn) — the removed + added
    * directories' rows, two `EXCEPT ALL` shuffles — not O(table), except
    * across a compaction (which replaces every directory). Maintained
    * consumers ask [[gap]] instead: it decides whether a gap needs this
    * diff at all, and hands it out as [[Gap.Churned]]'s `changes`. Both
    * sides read under one unified schema: schema-evolved columns compare
    * as null on pre-evolution rows, exactly as [[read]] serves them. */
  def changes(spark: SparkSession, root: String,
              fromExclusive: Int, to: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions._
    val v = if (to > 0) to else currentVersion(root)
    require(v > 0, s"no published version at $root")
    require(fromExclusive >= 0 && v >= fromExclusive,
      s"bad change range ($fromExclusive, $v]")
    require(fromExclusive == 0 || hasManifest(root, fromExclusive),
      s"change baseline v$fromExclusive was vacuumed at $root — " +
        "the content diff is undefined; re-seed the consumer from a full read")
    require(hasManifest(root, v),
      s"change endpoint v$v was vacuumed at $root — " +
        "the content diff is undefined; diff against a surviving version")
    val before =
      if (fromExclusive == 0) Seq.empty[String]
      else manifestDirs(root, fromExclusive)
    val after = manifestDirs(root, v)
    changesBetween(spark, before, after)
      .getOrElse(read(spark, root, v).limit(0)
        .withColumn("_change_type", lit("insert")))
  }

  /** [[changes]]' content engine over two explicit DIRECTORY sets —
    * factored out so [[rebaseBranch]]'s row-level reconcile can diff a
    * branch (or the parent) against an ANCHOR BASE that is a recorded
    * dir set rather than a surviving version of the same store. None
    * when the sets agree (the caller owns the empty-feed shape). */
  private def changesBetween(spark: SparkSession, before: Seq[String],
                             after: Seq[String]): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    val removed = before.filterNot(after.toSet)
    val added = after.filterNot(before.toSet)
    if (removed.isEmpty && added.isEmpty) return None
    // One unified schema for BOTH sides (a mergeSchema plan over every
    // involved directory): EXCEPT ALL needs identical shapes, and a
    // schema-enforced parquet read serves absent columns as null.
    val unified = spark.read.option("mergeSchema", "true")
      .parquet((removed ++ added): _*).schema
    def side(dirs: Seq[String]): DataFrame =
      if (dirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], unified)
      else spark.read.schema(unified).parquet(dirs: _*)
    val rem = side(removed)
    val add = side(added)
    Some(add.exceptAll(rem).withColumn("_change_type", lit("insert"))
      .unionByName(rem.exceptAll(add).withColumn("_change_type", lit("delete"))))
  }

  /** Epoch-idempotent append — the `foreachBatch` sink contract: Spark
    * replays a micro-batch after a failure/restart with the SAME epoch id,
    * so a version that already records this epoch makes the replay a
    * NO-OP (the TopicLog/Kafka-sink delivery posture, here giving
    * exactly-once stream→table ingestion on top of at-least-once batch
    * delivery). Epoch ids are stamped into the manifest; the scan for a
    * prior stamp is O(versions) driver-side JSON reads. */
  def appendEpoch(df: DataFrame, root: String, epochId: Long): Int =
    labeled(df.sparkSession, "store appendEpoch") {
    if (epochSeen(root, epochId)) currentVersion(root)
    else {
      val dir = newDataDir(root, "v", currentVersion(root) + 1)
      writeReadable(df, dir)
      enforceConstraints(df.sparkSession, root, dir)
      commitAppend(root, dir, Some(epochId), df.columns.toSeq)
    }
  }

  /** [[epochSeen]] for sibling ingest layers (SearchIndex) that guard a
    * multi-store trigger and want to skip the batch's recompute work
    * entirely when every store already carries the stamp. */
  private[sources] def epochStamped(root: String, epochId: Long): Boolean =
    epochSeen(root, epochId)

  /** Is `epochId` already stamped in any surviving manifest? Vacuumed
    * versions have no manifest — skip, don't crash (their epoch stamps
    * are below any epoch a live stream can replay: Spark epoch ids are
    * monotone and the retained tail carries the newest stamps). Re-run
    * by [[commitAppend]] on every contended retry: the winner of a lost
    * race may have published THIS epoch, and re-stacking on top would
    * double-ingest the micro-batch. */
  private def epochSeen(root: String, epochId: Long): Boolean =
    (1 to currentVersion(root)).exists { v =>
      val p = manifestPath(root, v)
      Files.exists(p) && {
        val text = new String(Files.readAllBytes(p), "UTF-8")
        s""""epoch":$epochId[,}]""".r.findFirstIn(text).isDefined
      }
    }

  /** Highest epoch stamp any manifest carries, if any — the "last
    * processed source position" a consumer that appends via
    * [[appendEpoch]] can resume from (driver-side O(versions) JSON
    * scan, same cost class as the idempotence check). */
  def lastEpoch(root: String): Option[Long] = {
    val cur = currentVersion(root)
    val stamps = (1 to cur).flatMap(v => // vacuumed manifests skip via None
      manifestText(root, v).flatMap(
        EpochRe.findFirstMatchIn(_).map(_.group(1).toLong)))
    if (stamps.isEmpty) None else Some(stamps.max)
  }

  // ---- recorded change feed (the view-composition sidecar) --------------
  // A maintained VIEW's store is itself a snapshot store, but its churn
  // publishes are full-content swaps (compactWith) whose manifest diff is
  // NOT the row diff — a downstream view over it (rollup-over-join-view)
  // could only rebuild. The publisher, however, had the O(Δ) before/after
  // rows in hand; recording them beside the publish makes tier-2 churn
  // O(Δ) too. One sidecar per version under `_vchanges/`: the feed's
  // parquet rows (store schema + `_change_type`) plus a `.epoch` file
  // carrying the publish's epoch stamp. The sidecar is written BEFORE the
  // publish, keyed by the version the publish creates (the QuantileView
  // edges protocol): a crash leaves an orphan nothing reads — readers
  // require the version to exist AND its manifest epoch to equal the
  // recorded one, so a later UNRELATED publish landing on the orphan's
  // version number (e.g. a content-preserving compact, which carries the
  // OLD epoch forward) can never pair with it — and every record call
  // first drops orphans above the current version. Recorded feeds MAY
  // carry cancelling delete+insert pairs for unchanged rows inside the
  // dirty set (the publisher does not net them); retraction-style
  // consumers recompute dirty groups whole, so the noise only widens the
  // dirty set, never the answer.

  private def feedDir(root: String, v: Int): String =
    s"$root/_vchanges/v$v"

  private def feedEpochPath(root: String, v: Int): java.nio.file.Path =
    Paths.get(root, "_vchanges", s"v$v.epoch")

  /** Epoch stamp version `v`'s manifest carries, if any. */
  def epochOf(root: String, v: Int): Option[Long] =
    manifestText(root, v).flatMap(
      EpochRe.findFirstMatchIn(_).map(_.group(1).toLong))

  /** Record `feed` (store schema + `_change_type`) as the row-level
    * change feed of the version the CALLER is about to publish with
    * epoch stamp `targetEpoch`. Call immediately before the publish. */
  def recordChangeFeed(feed: DataFrame, root: String,
                       targetEpoch: Long): Unit = {
    val nextV = currentVersion(root) + 1
    dropOrphanFeeds(root)
    feed.write.mode("overwrite").parquet(feedDir(root, nextV))
    Files.createDirectories(Paths.get(root, "_vchanges"))
    Files.write(feedEpochPath(root, nextV),
      targetEpoch.toString.getBytes("UTF-8"))
  }

  private def dropOrphanFeeds(root: String): Unit = {
    val cap = currentVersion(root)
    val d = Paths.get(root, "_vchanges")
    if (Files.isDirectory(d)) {
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.foreach { p =>
          val n = p.getFileName.toString
          scala.util.Try(n.stripPrefix("v").stripSuffix(".epoch").toInt)
            .toOption.filter(_ > cap).foreach(_ => deleteTree(p.toString))
        }
      } finally s.close()
    }
  }

  /** Does version `v` carry a recorded feed whose epoch matches the
    * committed manifest's stamp (see the orphan contract in the section
    * comment)? File reads only. */
  private def feedRecorded(root: String, v: Int): Boolean = {
    val ep = feedEpochPath(root, v)
    Files.exists(ep) && Files.isDirectory(Paths.get(root, "_vchanges", s"v$v")) &&
      scala.util.Try(new String(Files.readAllBytes(ep), "UTF-8").trim.toLong)
        .toOption.exists(rec => epochOf(root, v).contains(rec))
  }

  // ---- version gaps ------------------------------------------------------

  /** How a consumer reads a store's version gap (from, to] — see [[gap]]. */
  sealed trait Gap

  object Gap {
    /** `from == to`: nothing to read. */
    case object Unmoved extends Gap

    /** No directory of `from` is missing at `to`, so the added
      * directories are exactly the inserted rows, whatever the op kinds
      * (an append, an upsert that only inserted new keys, a merge that
      * only added directories). */
    final class Appended private[SnapshotStore] (spark: SparkSession,
        root: String, to: Int, added: Seq[String]) extends Gap {
      /** The inserted rows. `schema` reads them under an explicit schema
        * (columns a directory's files lack read as null): the evolved-store
        * posture for consumers that must see the full shape when the gap
        * mixes pre- and post-evolution appends. */
      def rows(schema: Option[StructType] = None): DataFrame =
        if (added.isEmpty) read(spark, root, to).limit(0)
        else schema.map(spark.read.schema(_)).getOrElse(spark.read).parquet(added: _*)
    }

    /** A gap with a signed row feed: `changes` is store schema plus
      * `_change_type` ("insert" | "delete"), built on first use. */
    sealed abstract class Fed(feed: => DataFrame) extends Gap {
      lazy val changes: DataFrame = feed
    }

    /** Directories went missing, and every gap commit is an append,
      * delete or upsert: the manifest diff is the row diff, and `changes`
      * is [[SnapshotStore.changes]] over the gap. */
    final class Churned private[SnapshotStore] (feed: => DataFrame) extends Fed(feed)

    /** Some gap commit is a content swap that RECORDED its row feed (a
      * maintained view's churn publish), every other one is row churn:
      * `changes` unions the recorded feeds with the manifest diffs of the
      * row-churn runs between them. The rollup engine absorbs it by
      * recomputing dirty groups whole (a recorded feed may carry
      * cancelling delete+insert pairs, which only widen the dirty set);
      * every other consumer rebuilds. */
    final class Recorded private[SnapshotStore] (feed: => DataFrame) extends Fed(feed)

    /** No sound diff: a vacuumed `from`, or a compaction, merge or rebase
      * that removed directories, or a manifest written before op kinds
      * were recorded. The consumer rebuilds. */
    case object Opaque extends Gap
  }

  /** THE version-gap reader every maintained view decides through: which
    * of the five [[Gap]] cases (from, to] is. Classification reads
    * manifests (and recorded-feed epoch files) only; each case builds its
    * DataFrame when a consumer asks for rows, so classifying launches no
    * Spark job. The cases are tried in order: [[Gap.Unmoved]],
    * [[Gap.Appended]] (the directory rule), [[Gap.Churned]],
    * [[Gap.Recorded]], else [[Gap.Opaque]]. */
  def gap(spark: SparkSession, root: String, from: Int, to: Int): Gap = {
    require(from >= 0 && to >= from, s"bad version gap ($from, $to] at $root")
    if (from == to) return Gap.Unmoved
    if (!hasManifest(root, to) || (from > 0 && !hasManifest(root, from)))
      return Gap.Opaque
    val before = if (from == 0) Set.empty[String] else manifestDirs(root, from).toSet
    val after = manifestDirs(root, to)
    if (before.subsetOf(after.toSet))
      return new Gap.Appended(spark, root, to, after.filterNot(before))
    // every commit that is not row churn must have recorded its feed
    val swaps = ((from + 1) to to)
      .filterNot(v => manifestOp(root, v).exists(RowChurnOps))
    if (!swaps.forall(feedRecorded(root, _))) return Gap.Opaque
    // each recorded version is its own leg; the row-churn runs between
    // them diff through their manifests
    def feed: DataFrame = {
      val legs = scala.collection.mutable.ListBuffer.empty[DataFrame]
      var start = from // baseline (exclusive) of the pending row-churn run
      swaps.foreach { v =>
        if (v - 1 > start) legs += changes(spark, root, start, v - 1)
        legs += spark.read.parquet(feedDir(root, v))
        start = v
      }
      if (to > start) legs += changes(spark, root, start, to)
      legs.reduce(_ unionByName _)
    }
    if (swaps.isEmpty) new Gap.Churned(feed) else new Gap.Recorded(feed)
  }

  /** Compaction that publishes `df`'s rows as the new version's SOLE
    * content (vs [[compact]], which rewrites the current content
    * verbatim) — the hook for stores whose logical content is a FOLD of
    * their rows (e.g. a partial-aggregate view: many delta rows per key
    * collapse to one). Carries the latest epoch stamp forward so an
    * [[appendEpoch]] consumer's resume position survives the rewrite. */
  def compactWith(df: DataFrame, root: String, targetFiles: Int = 4,
                  epochOverride: Option[Long] = None): Int =
    labeled(df.sparkSession, "store compactWith") {
    val parent = currentVersion(root)
    require(parent > 0, s"nothing to compact at $root")
    val epoch = epochOverride.orElse(lastEpoch(root))
    val dir = newDataDir(root, "compact", parent + 1)
    df.coalesce(targetFiles).write.mode("overwrite").parquet(dir)
    // compactWith publishes ARBITRARY rows as the snapshot (unlike
    // compact/compactZordered, which re-arrange already-validated
    // content) — the constraint gate applies like any other new batch
    enforceConstraints(df.sparkSession, root, dir)
    // a compaction is the sanctioned SCHEMA MIGRATION path: the rewrite's
    // own columns become the snapshot schema (rename/drop land here)
    commitCompaction(root, parent, dir, epoch, df.columns.toSeq)
  }

  /** Commit a compaction's rewrite directory as `parent + 1`. Unlike an
    * append, a compaction REPLACES the snapshot it read — if another
    * writer committed anything since `parent`, publishing the rewrite
    * would silently drop those rows, so a lost race here FAILS loudly
    * (the Delta/Iceberg concurrent-modification posture for
    * non-commutative commits) and the caller re-runs against the new
    * current version. The orphaned rewrite directory is unreferenced;
    * vacuum removes it. */
  private[graft] def commitCompaction(root: String, parent: Int, dir: String,
                               epoch: Option[Long],
                               cols: Seq[String] = Nil): Int =
    commitReplace(root, parent, Seq(dir), epoch, cols, "compact")

  /** Commit a REPLACING version (compaction, row-level delete, upsert) —
    * `dirs` becomes the snapshot, superseding `parent` wholesale. Any
    * concurrent commit since `parent` would be silently dropped by
    * publishing this rewrite, so a lost race fails loudly (the
    * Delta/Iceberg concurrent-modification posture for non-commutative
    * commits) and the caller re-runs against the new current version.
    * Orphaned rewrite directories are unreferenced; vacuum removes them. */
  private[graft] def commitReplace(root: String, parent: Int,
                                   dirs: Seq[String], epoch: Option[Long],
                                   cols: Seq[String] = Nil,
                                   op: String = "compact"): Int = {
    val v = parent + 1
    try { publish(root, v, dirs, epoch, cols, op); v }
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        sys.error(s"concurrent commit at $root: version $v was published " +
          s"while this rewrite was derived from v$parent — the rewrite is " +
          "stale; re-run it against the current version")
    }
  }

  /** Canonical local-path form shared by the CoW affected-file matching:
    * `input_file_name()` yields `file:` URIs, manifests record raw
    * interpolated strings — compare both as normalized absolute paths. */
  private def canonPath(p: String): String =
    Paths.get(p.replaceFirst("^file:/+", "/")).normalize().toAbsolutePath.toString

  /** The manifest directories (of `dirs`) that own at least one file in
    * `affFiles` — the blast radius of a row-level rewrite. */
  private def owningDirs(dirs: Seq[String], affFiles: Array[String]): Seq[String] =
    dirs.filter(d => affFiles.exists(_.startsWith(canonPath(d) + "/")))

  /** Row-level DELETE (the right-to-be-forgotten surface a curated-corpus
    * store legally needs) with DIRECTORY-level copy-on-write: one scan
    * finds the files holding matching rows (`cond` pushes down to that
    * scan, so a day-keyed or z-ordered layout prunes most of the store
    * before any row is read); only the OWNING directories are rewritten
    * minus the matches, untouched directories carry over by reference
    * into the new manifest. SQL DELETE semantics: rows where `cond`
    * evaluates NULL survive. Zero matches is a true no-op — no new
    * version. Publishes through the non-commutative commit ([[commitReplace]]):
    * a concurrent append since `parent` fails this rewrite loudly.
    *
    * Scale shape: the collect is the affected FILE list
    * (file-metadata-sized, bounded by the match's blast radius, not the
    * store); write amplification is directory-granular — the manifest's
    * unit of reference — so keep delete-heavy stores in many small
    * date-keyed appends or re-cluster with [[compactZordered]].
    * Time travel still reads deleted rows at older versions until
    * [[vacuum]]; a legal purge is delete + vacuum. */
  def deleteWhere(spark: SparkSession, root: String,
                  cond: org.apache.spark.sql.Column): Int =
    labeled(spark, "store deleteWhere") {
    import org.apache.spark.sql.functions._
    val parent = currentVersion(root)
    require(parent > 0, s"no published version at $root")
    val dirs = manifestDirs(root, parent)
    val snap = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    // Filter BEFORE projecting input_file_name(): the nondeterministic
    // projection blocks predicate pushdown if it comes first (verified:
    // PushedFilters goes empty), and post-shuffle contexts lose the file
    // name entirely — filter+project must sit in the scan's own stage.
    val affFiles = snap.where(cond)
      .select(input_file_name().as("__file")).distinct()
      .collect().map(r => canonPath(r.getString(0)))
    if (affFiles.isEmpty) return parent
    val affDirs = owningDirs(dirs, affFiles)
    val keep = dirs.filterNot(affDirs.toSet)
    val rw = newDataDir(root, "rw", parent + 1)
    // Rewrite under the FULL snapshot schema, not the affected dirs' own
    // (a cond referencing a schema-evolved column absent from these dirs
    // must see it as null, exactly as the detection scan did)
    spark.read.schema(snap.schema).parquet(affDirs: _*)
      .where(!coalesce(cond, lit(false))) // NULL-cond rows survive, like SQL
      .write.parquet(rw)
    val v = commitReplace(root, parent, keep :+ rw, lastEpoch(root),
      manifestCols(root, parent).getOrElse(Seq.empty), "delete")
    inheritStats(spark, root, parent, v, Seq(rw), snap.schema.fieldNames.toSeq)
    v
  }

  /** MERGE/upsert by key: rows of `df` REPLACE same-key rows in the
    * snapshot (whole-row semantics), new keys insert. Directory-level
    * copy-on-write like [[deleteWhere]]: a key-semi-join against one
    * scan finds the owning directories, those are rewritten with the
    * batch's keys anti-joined out, the batch lands as its own directory,
    * untouched directories carry over by reference. Schema evolution
    * follows the append contract (additive fine, rename-shaped batches
    * rejected). Non-commutative commit: a concurrent writer since
    * `parent` fails this rewrite loudly. */
  def upsert(spark: SparkSession, df: DataFrame, root: String,
             keyCols: Seq[String]): Int = {
    require(currentVersion(root) > 0,
      s"no published version at $root — use append to create")
    upsertCore(spark, df, root, keyCols, lastEpoch(root))
  }

  /** Epoch-idempotent upsert — the `foreachBatch` CDC-APPLY contract: a
    * stream of keyed change batches lands exactly-once even though Spark
    * replays micro-batches after a failure/restart (a replayed epoch is a
    * no-op, same as [[appendEpoch]]). A keyed upsert replay would be
    * CONTENT-idempotent anyway (replacing the same keys with the same
    * rows), but it would publish a spurious version and rewrite the
    * owning directories again — the stamp makes the replay free. The
    * first batch on an empty store bootstraps the table (CDC streams
    * start with inserts; there is no separate create step to order
    * against). */
  def upsertEpoch(spark: SparkSession, df: DataFrame, root: String,
                  keyCols: Seq[String], epochId: Long): Int =
    if (epochSeen(root, epochId)) currentVersion(root)
    else upsertCore(spark, df, root, keyCols, Some(epochId))

  /** ATOMIC keyed-replace + append under ONE manifest swap: `df`'s rows
    * replace same-key rows ([[upsert]] semantics) AND `appendDf`'s rows
    * land as a plain append, all visible at the same version with the
    * same epoch stamp. This closes the maintenance shape a retraction
    * refresh needs — dirty groups REPLACED next to insert-only delta
    * partials APPENDED — without the reader-visible window a
    * replace-then-append pair leaves between its two publishes (a reader
    * there saw recomputed groups beside a stale cursor). Epoch-idempotent
    * like [[upsertEpoch]]: a crashed re-run replays as a no-op; the
    * commit itself is the store's ordinary atomic manifest rename. */
  def upsertAndAppendEpoch(spark: SparkSession, df: DataFrame,
                           appendDf: DataFrame, root: String,
                           keyCols: Seq[String], epochId: Long): Int =
    if (epochSeen(root, epochId)) currentVersion(root)
    else upsertCore(spark, df, root, keyCols, Some(epochId),
      alsoAppend = Some(appendDf))

  private def upsertCore(spark: SparkSession, df: DataFrame, root: String,
                         keyCols: Seq[String], epoch: Option[Long],
                         alsoAppend: Option[DataFrame] = None): Int =
    labeled(spark, "store upsert") {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val parent = currentVersion(root)
    // Fail-fast order: the driver-side schema check costs nothing — run it
    // before any scan or write so a rename-shaped batch dies in
    // milliseconds instead of after a full rewrite (orphan dirs included)
    val cols =
      if (parent == 0) df.columns.toSeq
      else evolveSchema(root,
        manifestCols(root, parent).getOrElse(Seq.empty), df.columns.toSeq)
    alsoAppend.foreach(a => require(
      a.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet ==
        df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet,
      "the combined publish's append side must share the replace side's " +
        s"columns: ${a.columns.toSeq} vs ${df.columns.toSeq}"))
    if (parent == 0) {
      // bootstrap: every batch row is an insert; the commit is an
      // ordinary (commutative, retry-safe) append
      val dir = newDataDir(root, "v", 1)
      writeReadable(alsoAppend.map(df.unionByName(_)).getOrElse(df), dir)
      enforceConstraints(spark, root, dir)
      return commitAppend(root, dir, epoch, df.columns.toSeq)
    }
    // WRITE-FIRST, one execution of the batch plan: the replace batch at
    // the MV call sites is a dirty-group recompute — an N-way join plus
    // aggregation — and the probe-first shape executed that plan up to
    // FOUR times (dup-key check, affected-file semi-join, anti-join
    // rewrite, insert write). Writing the batch ONCE and deriving the
    // dup check and the key set from the written parquet makes every
    // later pass a cheap column-pruned scan of batch-sized files. A
    // validation failure after the write leaves an unreferenced
    // directory no reader ever plans (the crashed-append posture;
    // vacuum removes it) — nothing is published.
    val ins = newDataDir(root, "v", parent + 1)
    writeReadable(df, ins)
    val written = spark.read.parquet(ins)
    // Replace-by-key is only well-defined for unique batch keys — a
    // duplicate would silently publish two rows per key (the Delta/
    // Iceberg MERGE multiple-source-rows error, enforced here too)
    val keyCount = written.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(when(col("__n") > 1, 1L)), lit(0L)),
        count(lit(1))).head
    val (dupKeys, nKeys) = (keyCount.getLong(0), keyCount.getLong(1))
    require(dupKeys == 0L,
      s"upsert batch has $dupKeys duplicate key(s) on (${keyCols.mkString(", ")}) " +
        "— replace-by-key needs one source row per key; pre-aggregate the batch")
    // empty replace batch: a true no-op — unless a combined append still
    // has to publish (it owns the epoch stamp). The written directory
    // stays unreferenced (vacuumable).
    if (nKeys == 0L && alsoAppend.isEmpty) return parent
    val dirs = manifestDirs(root, parent)
    val keys = written.select(keyCols.map(col): _*).distinct()
    // input_file_name() is projected in the SCAN's own stage (before the
    // join): after a shuffle the file context is lost and the name reads
    // empty — the projection-then-join order here is load-bearing. The
    // scan prunes to keyCols; matching requires reading them regardless.
    val withFile = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
      .select((keyCols.map(col) :+ input_file_name().as("__file")): _*)
    val affFiles = withFile.join(keys, keyCols, "left_semi")
      .select("__file").distinct()
      .collect().map(r => canonPath(r.getString(0)))
    val affDirs = owningDirs(dirs, affFiles)
    val keep = dirs.filterNot(affDirs.toSet)
    val rewritten =
      if (affDirs.isEmpty) Seq.empty[String]
      else {
        val rw = newDataDir(root, "rw", parent + 1)
        spark.read.option("mergeSchema", "true").parquet(affDirs: _*)
          .join(keys, keyCols, "left_anti")
          .write.parquet(rw)
        Seq(rw)
      }
    // the batch is the NEW content; rewritten dirs only re-arrange rows
    // that passed enforcement when they first landed
    enforceConstraints(spark, root, ins)
    // the combined publish's append side lands as its own directory in
    // the SAME commit (schema-bearing even when empty)
    val ins2 = alsoAppend.map { a =>
      val d = newDataDir(root, "va", parent + 1)
      writeReadable(a, d)
      enforceConstraints(spark, root, d)
      d
    }
    val v = commitReplace(root, parent,
      keep ++ rewritten ++ Seq(ins) ++ ins2.toSeq, epoch, cols, "upsert")
    inheritStats(spark, root, parent, v, (rewritten :+ ins) ++ ins2.toSeq,
      df.columns.toSeq)
    v
  }

  /** Write `df` as the parquet directory `dir`, readable even when `df`
    * is empty: one write, and a schema-bearing rewrite only when that
    * write left no parquet file (an empty plan can write a FILELESS
    * directory, which does not read back; the rewrite is tiny — the
    * frame was empty). No emptiness probe runs before the write. */
  private def writeReadable(df: DataFrame, dir: String): Unit = {
    df.write.mode("overwrite").parquet(dir)
    if (!Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .exists(_.getName.endsWith(".parquet")))
      df.repartition(1).write.mode("overwrite").parquet(dir)
  }

  /** Carry file-skipping stats across a CoW rewrite: if the store tracks
    * per-file min/max sidecars, stamp the freshly written directories at
    * the new version for the SAME columns (those still present in the
    * written schema) — otherwise every delete/upsert would silently
    * convert pruned data back into always-scanned data. */
  private def inheritStats(spark: SparkSession, root: String, parent: Int,
                           v: Int, newDirs: Seq[String],
                           presentCols: Seq[String]): Unit = {
    val statPaths = (1 to parent).map(statsPath(root, _))
      .filter(Files.exists(_)).map(_.toString)
    if (statPaths.isEmpty || newDirs.isEmpty) return
    val present = presentCols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val tracked = spark.read.parquet(statPaths: _*)
      .select("col").distinct().collect().map(_.getString(0))
      .filter(c => present.contains(c.toLowerCase(java.util.Locale.ROOT)))
    if (tracked.nonEmpty) writeStats(spark, root, v, newDirs, tracked.toSeq)
  }

  // ---- branches --------------------------------------------------------
  //
  // Git-like BRANCHES on the snapshot store (the Iceberg/Nessie
  // experimentation surface a curated-corpus pipeline needs: fork the
  // 100 TB table, run a candidate curation pass against the fork, diff,
  // then keep or discard — without copying a byte). A branch is a FULL
  // snapshot store rooted at `root/_branches/<name>` whose version 1
  // manifest references the parent snapshot's data directories by path:
  // the fork is one manifest write + the constraint files. Every
  // existing operation (read, append, deleteWhere, upsert, changes,
  // compaction, time travel, its own vacuum, even sub-branches) works on
  // the branch root unchanged — branch writes land under the BRANCH's
  // own data directory, CoW rewrites copy only owning directories into
  // the branch, carried parent directories stay shared by reference.
  // Isolation is structural: the parent's manifests never mention branch
  // dirs and vice versa. A read-only fork (a TAG) is a branch nobody
  // writes to. Parent [[vacuum]] retains every directory any branch
  // still references (below) — deleting a fork's shared history out from
  // under it is the one way this layout could lose data.

  private def branchesDir(root: String): Path = Paths.get(root, "_branches")

  /** The branch's store root — pass it to any SnapshotStore operation. */
  def branchRoot(root: String, name: String): String = {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"branch name must be [A-Za-z0-9_-]+, got '$name'")
    s"$root/_branches/$name"
  }

  /** Live branch names (a deleted branch disappears). */
  def branches(root: String): Seq[String] = {
    val d = branchesDir(root)
    if (!Files.exists(d)) Seq.empty
    else {
      val stream = Files.list(d)
      try stream.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(Files.isDirectory(_)).map(_.getFileName.toString).sorted
      finally stream.close()
    }
  }

  /** Fork `name` from snapshot `fromVersion` (default: current). One
    * manifest write referencing the parent's directories — no data
    * copied (spec-pinned); the parent's CHECK constraints are copied so
    * the fork keeps the table's contract. The branch starts epoch-fresh
    * (a stream consuming into the branch owns its own resume chain). */
  def createBranch(root: String, name: String, fromVersion: Int = -1): String = {
    val v = if (fromVersion > 0) fromVersion else currentVersion(root)
    require(v > 0 && hasManifest(root, v),
      s"cannot branch from version $v at $root (missing or vacuumed)")
    val br = branchRoot(root, name)
    require(currentVersion(br) == 0, s"branch '$name' already exists at $root")
    publish(br, 1, manifestDirs(root, v), None,
      manifestCols(root, v).getOrElse(Nil), "branch")
    constraints(root).foreach { case (n, sql) =>
      Files.createDirectories(Paths.get(br, "_constraints"))
      Files.write(Paths.get(br, "_constraints", s"$n.sql"), sql.getBytes("UTF-8"))
    }
    br
  }

  /** FAST-FORWARD merge of a branch into its parent: when the parent has
    * not moved since the fork (its current directory set still equals
    * the branch's fork manifest), the branch's current content becomes
    * the parent's next version by REFERENCE — one manifest write, zero
    * bytes copied, exactly as cheap as the fork was. A diverged parent
    * refuses loudly (the Nessie posture: [[rebaseBranch]] replays the
    * branch onto the moved head where the edits are disjoint; otherwise
    * inspect [[diff]] and reconcile explicitly — an engine that
    * auto-merged overlapping edits would be inventing conflict
    * semantics). The merged manifest may reference
    * branch-owned directories; [[deleteBranch]] refuses while any live
    * parent manifest does (compact + vacuum the parent first to migrate
    * the content into parent-owned storage, then delete). Epoch resume
    * positions: the side that was stream-fed carries forward; if BOTH
    * sides carry stamps the merge refuses unless `keepEpochChain` names
    * the survivor (see the body comment — the other stream must restart
    * from a fresh checkpoint). */
  def mergeBranch(spark: SparkSession, root: String, name: String,
                  keepEpochChain: Option[String] = None): Int = {
    val br = branchRoot(root, name)
    val bv = currentVersion(br)
    require(bv > 0, s"no branch '$name' at $root")
    val parent = currentVersion(root)
    // fast-forward = the parent's current content is SOME surviving state
    // of the branch's own history (the fork point, a previous merge
    // point — so iterate-merge-iterate keeps working — or the BASE of a
    // rebase, so rebase → merge fast-forwards); only surviving manifests
    // are consulted, so a branch that vacuumed its history refuses with
    // this message instead of crashing on a missing file
    val parentDirs = manifestDirs(root, parent).toSet
    // a rebase BASE counts only when the manifest that took that version
    // really is the rebase (op-gated, like anchorOf): an orphan sidecar
    // from a crashed rebase must not attach to whatever commit later
    // takes the number — that would let a diverged branch merge and
    // silently drop the parent's post-fork data
    require((1 to bv).exists(v =>
        hasManifest(br, v) && (manifestDirs(br, v).toSet == parentDirs ||
          (manifestOp(br, v).contains("rebase") &&
            rebaseBase(br, v).contains(parentDirs)))),
      s"parent is not an ancestor state of branch '$name' — fast-forward " +
        "only; rebaseBranch() onto the moved parent (or diff() and " +
        "reconcile explicitly)")
    // a CHECK added to the parent AFTER the fork is not in the branch's
    // copied constraint set: validate the merged content against the
    // parent's CURRENT contract before it publishes, like every other
    // content-publishing path
    constraints(root).foreach { case (n, sql) =>
      val bad = firstViolation(read(spark, br, bv, mergeSchema = true), sql)
      require(bad.isEmpty,
        s"branch '$name' violates the parent's CHECK $n ($sql) — " +
          s"first: ${bad.get}")
    }
    // Resume-position semantics: the merged manifest carries ONE epoch
    // stamp, but parent and branch epoch chains come from INDEPENDENT
    // streams with independent counters — max() of two unrelated numbers
    // is not a resume position for either. When only one side was ever
    // stream-fed its chain carries forward intact; when BOTH carry
    // stamps, refuse unless the caller names the surviving chain via
    // `keepEpochChain` ("parent" | "branch"), acknowledging the OTHER
    // stream must restart from a fresh checkpoint (its old one would
    // replay a trigger the merge already carried and double-ingest).
    val (pe, be) = (lastEpoch(root), lastEpoch(br))
    val epoch = (pe, be) match {
      case (Some(_), Some(_)) => keepEpochChain match {
        case Some("parent") => pe
        case Some("branch") => be
        case _ => throw new IllegalArgumentException(
          s"both parent ($pe) and branch '$name' ($be) carry epoch stamps " +
            "from independent stream chains — one resume position cannot " +
            "represent both; pass keepEpochChain = Some(\"parent\"|\"branch\") " +
            "and restart the other side's stream from a fresh checkpoint")
      }
      case _ => (pe.toSeq ++ be.toSeq).maxOption
    }
    // .distinct: never PROPAGATE a duplicated dir reference (a store that
    // hit the pre-anchor rebase bug may carry one in a branch manifest —
    // listed twice in the parent its rows would read twice forever)
    val mergedDirs = manifestDirs(br, bv).distinct
    val mv = commitReplace(root, parent, mergedDirs, epoch,
      manifestCols(br, bv).getOrElse(Nil), "merge")
    // MERGE ANCHOR, written into the BRANCH after the parent commit: at
    // this instant the branch state IS the parent state, so the branch's
    // replayable history restarts here — without this record a later
    // rebase would measure the branch's post-merge edits against the
    // stale fork/rebase anchor, re-introduce the parent's merged-in copy
    // of a dir the branch since rewrote (duplicated rows), and undo the
    // branch's post-merge deletes. Written AFTER the commit so a failed
    // merge can never leave a FALSE anchor (which would corrupt the next
    // rebase the other way); the crash window between commit and anchor
    // is covered by rebaseBranch's anchor REPAIR (it re-derives the
    // anchor from the parent's surviving merge manifest), and that
    // manifest itself is vacuum-PINNED while any live branch still lacks
    // its anchor sidecar (unclearedMergePins — forcing requires
    // ignoreBranchAnchors = true).
    writeDirsSidecar(mergeAnchorPath(br, bv), mergedDirs)
    mv
  }

  // ---- diverged-branch reconciliation (rebase) ------------------------

  private def rebaseBasePath(root: String, v: Int): Path =
    manifestDir(root).resolve(s"rebase_base_v$v.json")

  // Highest PARENT version the merge-anchor repair sweep has already
  // cleared negative for this branch: the sweep is sound over a parent
  // SUFFIX because a merge manifest committed before a previous sweep
  // could only record branch states that existed then — all covered by
  // that sweep — and anything newer has a higher parent version. A torn
  // or missing marker just rescans from v1 (pure cost, never wrongness).
  private def mergeScanPath(root: String): Path =
    manifestDir(root).resolve("merge_scan.json")

  private val ScanRe = """\{"parent":\s*(\d+)\}""".r

  private def mergeScanCleared(root: String): Int =
    if (!Files.exists(mergeScanPath(root))) 0
    else ScanRe.findFirstMatchIn(
      new String(Files.readAllBytes(mergeScanPath(root)), "UTF-8"))
      .map(_.group(1).toInt).getOrElse(0)

  private def recordMergeScan(root: String, parent: Int): Unit =
    Files.write(mergeScanPath(root),
      s"""{"parent": $parent}""".getBytes("UTF-8"))

  private def mergeAnchorPath(root: String, v: Int): Path =
    manifestDir(root).resolve(s"merge_anchor_v$v.json")

  // ONE reader/writer pair for the dirs-list sidecar handshake (rebase
  // bases and merge anchors) — the format mirrors the manifest's own
  // "dirs" field so DirsRe parses both.
  private def writeDirsSidecar(p: Path, dirs: Seq[String]): Unit =
    Files.write(p, dirs.map(d => s""""$d"""")
      .mkString("{\"dirs\": [", ", ", "]}").getBytes("UTF-8"))

  private def readDirsSidecar(p: Path): Option[Set[String]] =
    if (!Files.exists(p)) None
    else {
      val text = new String(Files.readAllBytes(p), "UTF-8")
      DirsRe.findFirstMatchIn(text).map(m => parseQuotedList(m.group(1)).toSet)
    }

  /** The dir set recorded when branch version `v` was MERGED into the
    * parent (valid only while it equals the manifest's own dirs — an
    * anchor can never claim a state the manifest doesn't show). */
  private def mergeAnchor(root: String, v: Int): Option[Set[String]] =
    readDirsSidecar(mergeAnchorPath(root, v))
      .filter(_ == manifestDirs(root, v).toSet)

  /** The parent dir set a version-`v` rebase was computed against, if
    * version `v` is a rebase commit. (Written BEFORE the rebase manifest
    * commits; an orphan sidecar from a crashed rebase is ignored because
    * no manifest carries its version.) */
  private[graft] def rebaseBase(root: String, v: Int): Option[Set[String]] =
    readDirsSidecar(rebaseBasePath(root, v))

  /** The branch's latest ANCHOR — the newest surviving point where the
    * branch state coincided with a parent state: the fork itself (its
    * dirs ARE the parent-at-fork), a previous rebase (whose recorded
    * base is the parent-at-rebase), or a MERGE (at which instant the
    * parent became exactly the branch's dirs — recorded in the branch by
    * [[mergeBranch]]). Everything the branch did since is its own
    * replayable history. */
  private def anchorOf(br: String, bv: Int): Option[(Int, Set[String])] = {
    var v = bv
    while (v >= 1) {
      if (hasManifest(br, v)) {
        mergeAnchor(br, v).foreach(dirs => return Some((v, dirs)))
        manifestOp(br, v) match {
          case Some("branch") => return Some((v, manifestDirs(br, v).toSet))
          case Some("rebase") =>
            // a rebase whose base sidecar is gone must FAIL, not silently
            // fall through to an older anchor the current state no longer
            // builds on
            return Some((v, rebaseBase(br, v).getOrElse(sys.error(
              s"rebase manifest v$v at $br lost its base sidecar — " +
                "cannot re-anchor; reconcile via diff()"))))
          case _ => ()
        }
      }
      v -= 1
    }
    None
  }

  /** REBASE a diverged branch onto the parent's moved head — the
    * reconciliation [[mergeBranch]]'s fast-forward posture points at.
    * Pure MANIFEST SURGERY, zero bytes copied: the branch's own history
    * since its anchor (fork, previous rebase, or merge point — a merge
    * re-anchors the branch, see [[mergeBranch]]'s anchor record) is
    * replayed onto the parent's current state at DIRECTORY granularity —
    *
    *   rebased = (parent current dirs ∖ dirs the branch carried since
    *              the anchor but dropped/rewrote)
    *             ∪ dirs the branch added (appends and CoW rewrites),
    *   deduplicated (a dir can sit on both sides after a merge)
    *
    * Refuses on GENUINE OVERLAP, conservatively at the same granularity:
    * a base directory that BOTH sides dropped/rewrote means both sides
    * edited the same data (two curation passes touching one region) —
    * inspect [[diff]] and reconcile by hand, OR pass `keys` to attempt
    * KEY-GRANULAR reconciliation: both sides' row-level change sets
    * since the anchor are derived (content diffs against the anchor
    * base), and when they touch DISJOINT key sets the branch's net
    * changes replay onto the parent's current content — two curation
    * passes CoW-rewriting the same directory on different rows compose.
    * A genuine row conflict (both sides changed some key) still refuses.
    * Unlike the dir-granular path this MATERIALIZES the branch content
    * (one table-sized write, the compaction price class) and requires
    * the two sides' column sets to match (reconcile a schema evolution
    * before reconciling rows). Disjoint edits compose:
    * parent-only edits win for dirs the branch kept, branch-only edits
    * win for dirs the parent kept, appends from both sides union (dir
    * names are owner-unique, so add/add never collides physically;
    * appends commute by definition).
    *
    * The rebase commits as ONE non-commutative manifest (op "rebase",
    * the branch's own epoch stamp carried) with its base recorded in a
    * pre-written sidecar; [[mergeBranch]] accepts a parent that equals
    * the newest rebase's base, so rebase → (parent quiet) → merge
    * fast-forwards. Validation stays where it always was: the merge
    * gate checks the parent's CURRENT constraints before anything
    * publishes into the parent. Returns the branch's new version. */
  def rebaseBranch(spark: SparkSession, root: String, name: String,
                   keys: Seq[String] = Nil): Int = {
    val br = branchRoot(root, name)
    val bv = currentVersion(br)
    require(bv > 0, s"no branch '$name' at $root")
    val parent = currentVersion(root)
    val parentDirs = manifestDirs(root, parent)
    val (av0, base0) = anchorOf(br, bv).getOrElse(sys.error(
      s"branch '$name' has no surviving anchor manifest (vacuumed?) — " +
        "cannot establish what the branch changed; reconcile via diff()"))
    // ANCHOR REPAIR for the merge crash window (parent merge committed,
    // branch anchor never written — incl. merges from before anchors
    // existed): a surviving parent MERGE manifest whose dirs equal some
    // branch version's dirs above the anchor IS the missing anchor —
    // re-derive and persist it. The parent's vacuum PINS such
    // un-anchored merge manifests while the branch lives
    // (unclearedMergePins), so the manifest survives unless the vacuum
    // was explicitly forced past it (ignoreBranchAnchors = true — the
    // merge is then unknowable here; reconcile via diff()).
    // The scan must include av0 ITSELF when the anchor is a rebase whose
    // recorded base differs from the branch's dirs at av0: the canonical
    // rebase → merge flow anchors the merge AT the rebase version
    // (av0 == bv), so a lost anchor there would otherwise silently fall
    // back to the STALE rebase base and the next rebase would undo the
    // parent's edits to merged-in branch dirs (resurrection +
    // duplication). A fork/merge anchor already has base0 == dirs(av0),
    // where a found merge manifest could only re-derive the same pair —
    // skip av0 then so the common no-crash path stays scan-free.
    val scanLow = if (base0 == manifestDirs(br, av0).toSet) av0 + 1 else av0
    val (av, base) =
      if (scanLow > bv) (av0, base0)
      else {
        // one TEXT read per parent manifest (op + dirs extracted from the
        // same read), then O(1) membership per branch version — not
        // O(branch × parent) reads, and no double read per merge. The
        // sweep covers only the parent SUFFIX a previous sweep has not
        // cleared (see mergeScanPath): without the marker, EVERY rebase
        // whose anchor is a rebase (base != branch dirs, so scanLow
        // reaches av0) would re-read the parent's whole manifest history
        // on the perfectly healthy no-crash path.
        val cleared = mergeScanCleared(br)
        val parentMergeDirs: Set[Set[String]] =
          ((cleared + 1) to parent).flatMap { pv =>
            manifestText(root, pv)
              .filter(t => OpRe.findFirstMatchIn(t).exists(_.group(1) == "merge"))
              .map(t => dirsOf(root, pv, t).toSet)
          }.toSet
        if (parentMergeDirs.isEmpty) {
          // steady state (no merges since the last sweep): skip the
          // branch-manifest walk entirely, advance the marker only when
          // it actually moved
          if (parent > cleared) recordMergeScan(br, parent)
          (av0, base0)
        } else (bv to scanLow by -1).iterator.flatMap { v =>
          if (!hasManifest(br, v)) None
          else {
            val dv = manifestDirs(br, v).toSet
            if (parentMergeDirs.contains(dv)) {
              writeDirsSidecar(mergeAnchorPath(br, v), dv.toSeq.sorted)
              Some((v, dv))
            } else None
          }
        }.nextOption() match {
          case Some(found) => found
          case None =>
            // full negative sweep of the uncleared suffix: record it so
            // the next rebase scans only merges committed after this one
            recordMergeScan(br, parent)
            (av0, base0)
        }
      }
    val cur = manifestDirs(br, bv).toSet
    // dirs the branch EVER carried since the anchor but no longer does —
    // not just anchor-base drops: a dir the branch appended (or gained
    // via an unanchored merge crash window) and later CoW-rewrote must
    // also be filtered from the parent side, or a merged-by-reference
    // copy of it would ride back in (duplicated rows) and the rewrite
    // would silently lose its deletes. The anchor BASE itself is part of
    // "carried since": a rebase anchor's base holds parent dirs the
    // branch dropped BEFORE that rebase (never carried by any manifest
    // in av..bv), and without them here a later rebase resurrects the
    // deleted rows and duplicates the rewritten ones. Fork/merge anchors
    // have base ⊆ dirs(av), so this is a no-op for them.
    val droppedSince = (base ++ (av to bv)
      .filter(hasManifest(br, _)).flatMap(manifestDirs(br, _))) -- cur
    val branchOwn = cur -- base
    val parentDropped = base -- parentDirs.toSet
    // parent unmoved since the anchor: (parent ∖ dropped) ∪ own is
    // exactly the branch's current state — nothing to commit
    if (parentDirs.toSet == base) return bv
    val overlap = droppedSince.intersect(parentDropped)
    if (overlap.nonEmpty && keys.nonEmpty)
      return rebaseRows(spark, root, name, keys, base, parent, parentDirs)
    require(overlap.isEmpty,
      s"rebase conflict: both parent and branch '$name' rewrote/dropped " +
        s"${overlap.take(3).mkString(", ")} since the anchor — inspect " +
        "diff() and reconcile explicitly, or pass keys= to attempt " +
        "key-granular reconciliation")
    // .distinct: a dir can legitimately sit on BOTH sides (branch-own
    // AND merged into the parent by reference) — it must appear in the
    // rebased manifest exactly once or its rows read twice
    val rebased = (parentDirs.filterNot(droppedSince) ++
      manifestDirs(br, bv).filter(branchOwn)).distinct
    val cols = (manifestCols(root, parent).getOrElse(Nil) ++
      manifestCols(br, bv).getOrElse(Nil)).distinct
    // sidecar BEFORE the manifest: a crash leaves an orphan (ignored);
    // the re-run rewrites it for the new version number
    Files.createDirectories(manifestDir(br))
    writeDirsSidecar(rebaseBasePath(br, bv + 1), parentDirs)
    commitReplace(br, bv, rebased, lastEpoch(br), cols, "rebase")
  }

  /** KEY-GRANULAR rebase reconciliation — [[rebaseBranch]]'s escalation
    * when both sides rewrote the same base directory but (possibly) on
    * DISJOINT row sets. Both sides' net row changes since the anchor are
    * content-diffed against the anchor BASE dirs; if the two change sets
    * touch disjoint `keys` values, the branch's changes replay onto the
    * parent's current content:
    *
    *   rebased = (parent current ∖ branch deletes) ∪ branch inserts
    *
    * — exact under multiset semantics because the conflict gate proved
    * the parent never touched the branch-deleted rows' keys (so those
    * exact rows still exist in the parent) and never produced rows under
    * the branch-inserted keys. Publishes as a MATERIALIZING "rebase"
    * commit (fresh data dirs, base sidecar = the parent's current dirs),
    * so the anchor algebra downstream — merge fast-forward through the
    * rebase base, droppedSince covering every base dir — works unchanged.
    * Cost: one table write (the compaction price class), the honest
    * price of row-level surgery. */
  private def rebaseRows(spark: SparkSession, root: String, name: String,
                         keys: Seq[String], base: Set[String], parent: Int,
                         parentDirs: Seq[String]): Int = {
    import org.apache.spark.sql.functions.col
    val br = branchRoot(root, name)
    val bv = currentVersion(br)
    // the anchor-base DIRECTORIES must still exist: dirs both sides
    // dropped may have been vacuumed out from under the recorded base
    val gone = base.filterNot(d => Files.isDirectory(Paths.get(d)))
    require(gone.isEmpty,
      s"key-granular rebase of '$name' needs the anchor base content, " +
        s"but ${gone.take(3).mkString(", ")} was vacuumed — reconcile " +
        "via diff()")
    // MERGED-schema reads on both sides: a snapshot spanning a schema
    // evolution planned from one sampled footer would silently read the
    // newer columns out of existence — and this rewrite REPLACES the
    // branch's whole content, so the loss would be permanent and ride
    // the next merge into the parent
    val bCur0 = read(spark, br, bv, mergeSchema = true)
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val pCur0 = read(spark, root, parent, mergeSchema = true)
    // ONE-SIDED ADDITIVE evolution composes: when one side's column set
    // contains the other's, the narrow side null-fills the missing
    // columns (the store's own evolution contract — pre-evolution rows
    // read the added column as NULL) and the rebase proceeds under the
    // union schema. BOTH sides carrying exclusive columns is the RENAME
    // signature (or two diverging evolutions): null-filling would
    // silently split one logical column into two — refuse.
    val bOnly = bCur0.columns.map(lc).toSet -- pCur0.columns.map(lc).toSet
    val pOnly = pCur0.columns.map(lc).toSet -- bCur0.columns.map(lc).toSet
    require(bOnly.isEmpty || pOnly.isEmpty,
      "key-granular rebase cannot compose EXCLUSIVE columns on both " +
        s"sides (branch-only: $bOnly, parent-only: $pOnly) — this is the " +
        "rename/diverging-evolution signature; reconcile the schema first")
    val wide = if (pOnly.nonEmpty) pCur0 else bCur0
    def widen(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val have = df.columns.map(lc).toSet
      wide.schema.fields.filterNot(f => have.contains(lc(f.name)))
        .foldLeft(df)((d, f) =>
          d.withColumn(f.name,
            org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
        .select(wide.columns.map(col): _*)
    }
    val bCur = widen(bCur0)
    val pCur = widen(pCur0)
    // keys must be REAL columns on both sides: a key that exists only as
    // a null-fill would make every row of that side key-null and the
    // conflict gate blind
    keys.foreach(k => require(
      bCur0.columns.exists(_.equalsIgnoreCase(k)) &&
        pCur0.columns.exists(_.equalsIgnoreCase(k)),
      s"rebase key '$k' must be a column on BOTH sides (branch " +
        s"${bCur0.columns.toSeq} vs parent ${pCur0.columns.toSeq})"))
    // both sides MUST have moved relative to the anchor base here: the
    // caller established a dir overlap, and every overlap element is a
    // base dir absent from each side's current dirs — a None would mean
    // the algebra upstream broke, so fail loudly rather than no-op
    val bCh = changesBetween(spark, base.toSeq, manifestDirs(br, bv))
      .getOrElse(sys.error("unreachable: dir overlap implies the branch moved"))
    val pCh = changesBetween(spark, base.toSeq, parentDirs)
      .getOrElse(sys.error("unreachable: dir overlap implies parent moved"))
    // set-op INTERSECT is null-safe on keys, so null-keyed churn on both
    // sides conflicts (they would compose blind otherwise)
    val clash = bCh.select(keys.map(col): _*)
      .intersect(pCh.select(keys.map(col): _*)).limit(3).collect()
    require(clash.isEmpty,
      s"rebase row-conflict: both parent and branch '$name' changed rows " +
        s"under key(s) ${clash.mkString(", ")} since the anchor — inspect " +
        "diff() and reconcile explicitly")
    // the change legs widen to the same union schema (a diff over
    // pre-evolution dirs lacks the added columns; its rows' null-fill
    // matches pCur's own null-fill for those rows, so EXCEPT ALL pairs
    // them exactly)
    val bDel = widen(bCh.where(col("_change_type") === "delete"))
    val bIns = widen(bCh.where(col("_change_type") === "insert"))
    val rebased = pCur.exceptAll(bDel).unionByName(bIns)
    // sidecar BEFORE the manifest, exactly like the dir-granular path
    Files.createDirectories(manifestDir(br))
    writeDirsSidecar(rebaseBasePath(br, bv + 1), parentDirs)
    val dir = newDataDir(br, "rebase", bv + 1)
    rebased.write.mode("overwrite").parquet(dir)
    enforceConstraints(spark, br, dir)
    commitReplace(br, bv, Seq(dir), lastEpoch(br),
      pCur.columns.toSeq, "rebase")
  }

  /** Drop the branch: its manifests and its OWN data go; parent
    * directories it referenced are untouched (they belong to the
    * parent's retained-set math). REFUSES while any live parent manifest
    * still references a directory under the branch (a merged-by-reference
    * branch is parent data now — compact + vacuum the parent first). */
  def deleteBranch(root: String, name: String): Unit = {
    val br = branchRoot(root, name)
    // the FULL outside-the-subtree walk (ancestors at every level plus
    // the sibling subtrees forked after a merge) — checking only the
    // immediate parent's manifests would let the documented
    // compact+vacuum remediation delete data a post-merge sibling fork
    // still serves
    val refs = externallyReferencedDirs(br)
    require(refs.isEmpty,
      s"branch '$name' is referenced outside its own subtree (merged by " +
        s"reference; e.g. ${refs.head}) — compact and vacuum the " +
        "referencing stores before deleting it")
    deleteTree(br)
  }

  /** Net content DIFF of a branch against its parent (or any two
    * stores' current snapshots): the review step before keeping or
    * discarding a fork. Multiset semantics like [[changes]] — rows the
    * two sides share (by value) cancel, including everything still
    * carried by reference, so the diff's cost tracks the DIVERGENCE
    * (two EXCEPT ALLs over content; shared dirs read once per side),
    * not the table. `_diff_side` tags "left_only" / "right_only". */
  def diff(spark: SparkSession, leftRoot: String,
           rightRoot: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val l = read(spark, leftRoot)
    val r = read(spark, rightRoot)
    l.exceptAll(r).withColumn("_diff_side", lit("left_only"))
      .unionByName(r.exceptAll(l).withColumn("_diff_side", lit("right_only")))
  }

  /** Every directory any live branch (recursively) still references —
    * parent vacuum must retain these. */
  private def branchReferencedDirs(root: String): Set[String] =
    branches(root).flatMap { b =>
      val br = branchRoot(root, b)
      (1 to currentVersion(br)).filter(hasManifest(br, _))
        .flatMap(v => manifestDirs(br, v)) ++ branchReferencedDirs(br)
    }.toSet

  /** Directories recorded in live branches' ANCHOR sidecars (rebase
    * bases and merge anchors), recursively — the anchor BASE content a
    * later key-granular [[rebaseBranch]] diffs both sides against. A
    * rebase base can hold parent dirs NO surviving manifest references
    * (the branch dropped them before rebasing, the parent churned past
    * them), so without this retention a routine parent vacuum would
    * silently strip a live branch of its ability to reconcile rows —
    * vacuum keeps them while the branch lives; [[deleteBranch]] (or the
    * branch's own next rebase, which re-bases forward) releases them. */
  private def branchAnchorDirs(root: String): Set[String] =
    branches(root).flatMap { b =>
      val br = branchRoot(root, b)
      // bv + 1: a rebase-base sidecar is written for the NEXT version
      // before its manifest commits — an in-flight rebase's base is live
      (1 to currentVersion(br) + 1).flatMap { v =>
        readDirsSidecar(rebaseBasePath(br, v)).toSeq ++
          readDirsSidecar(mergeAnchorPath(br, v)).toSeq
      }.flatten ++ branchAnchorDirs(br)
    }.toSet

  /** Parent MERGE manifests below `below` the anchor-repair sweep still
    * needs: version v is pinned while some live branch carries a version
    * whose dirs equal the merge's dirs but has NO merge-anchor sidecar —
    * exactly the [[mergeBranch]] crash window whose repair
    * ([[rebaseBranch]]'s sweep) re-derives the anchor FROM this
    * manifest. Once the sidecar exists (normal merges write it
    * immediately; a repair writes it on the next rebase) or the branch
    * is deleted, the manifest is no longer needed and vacuum reclaims
    * it. */
  private def unclearedMergePins(root: String, below: Int): Seq[Int] = {
    val brs = branches(root)
    if (brs.isEmpty) return Nil
    // Per-branch REPAIR-SCAN range, mirroring rebaseBranch's sweep: only
    // versions ABOVE the branch's current anchor can need a re-derived
    // merge anchor (a fork or already-anchored merge IS its own anchor —
    // a sibling forked after someone else's merge must not pin it). A
    // branch whose anchor is unreadable (lost rebase sidecar) pins
    // conservatively over its whole history — the vacuum must never
    // crash or guess-reclaim on a damaged branch.
    val ranges = brs.flatMap { b =>
      val br = branchRoot(root, b)
      val bv = currentVersion(br)
      if (bv == 0) None
      else {
        val scanLow =
          try anchorOf(br, bv) match {
            case Some((av, base)) =>
              if (base == manifestDirs(br, av).toSet) av + 1 else av
            case None => 1
          } catch { case _: RuntimeException => 1 }
        if (scanLow > bv) None else Some((br, scanLow, bv))
      }
    }
    if (ranges.isEmpty) return Nil
    val merges = (1 until below).filter(manifestOp(root, _).contains("merge"))
    if (merges.isEmpty) return Nil
    // memoize per branch ONCE: the un-anchored versions' dir sets in its
    // repair-scan range, plus its cleared marker — without this a long
    // parent history pays O(merges × branches × scanRange) manifest
    // re-reads per vacuum
    val branchState = ranges.map { case (br, lo, hi) =>
      val unanchored = (lo to hi).flatMap { w =>
        if (hasManifest(br, w) && readDirsSidecar(mergeAnchorPath(br, w)).isEmpty)
          Some(manifestDirs(br, w).toSet)
        else None
      }.toSet
      (mergeScanCleared(br), unanchored)
    }
    merges.filter { v =>
      val dv = manifestDirs(root, v).toSet
      // a negative sweep already cleared parent versions ≤ marker for
      // that branch — those merges can never anchor it
      branchState.exists { case (cleared, unanchored) =>
        cleared < v && unanchored.contains(dv)
      }
    }
  }

  /** Directories under `root` that stores OUTSIDE its own subtree still
    * reference — possible once [[mergeBranch]] puts branch-owned dirs
    * into a parent manifest by reference. A BRANCH's own vacuum must
    * retain these or it deletes data its parent (or an aunt/sibling
    * subtree forked after the merge) is serving. Walks the ancestor
    * chain; at each level counts that ancestor's own live manifests plus
    * every branch subtree EXCEPT the one we came through (our own
    * subtree's references are the normal retained-set math). */
  private def externallyReferencedDirs(root: String): Set[String] = {
    def canon(p: String): String =
      Paths.get(p).normalize().toAbsolutePath.toString
    val rc = canon(root)
    def refsOf(store: String, excludeBranch: Option[String]): Seq[String] = {
      val own = (1 to currentVersion(store)).filter(hasManifest(store, _))
        .flatMap(v => manifestDirs(store, v))
      val branchRefs = branches(store).filterNot(excludeBranch.contains)
        .flatMap(b => refsOf(branchRoot(store, b), None))
      own ++ branchRefs
    }
    val marker = "/_branches/"
    var out = Set.empty[String]
    var cur = rc
    while (cur.contains(marker)) {
      val idx = cur.lastIndexOf(marker)
      val parent = cur.substring(0, idx)
      val cameThrough = cur.substring(idx + marker.length).split('/').head
      out ++= refsOf(parent, Some(cameThrough)).map(canon)
      cur = parent
    }
    out.filter(_.startsWith(rc + "/"))
  }

  // ---- view-baseline refs (vacuum guard) ------------------------------
  //
  // Every maintained view (rollup/NDV/join/quantile) records its refresh
  // CURSOR against each source it reads: `_viewrefs/<sha1(viewRoot)>.json`
  // holding {"view": path, "baseline": srcVersion}. Vacuuming the
  // baseline manifest away doesn't break the view — the documented
  // `baselineGone` fallback takes one full rebuild — but it silently
  // demotes an O(Δ) refresh to an O(table) surprise, so [[vacuum]]
  // consults these refs and RETAINS pinned manifests (loudly) unless
  // told otherwise. Refs are overwritten per refresh and pruned when the
  // view store itself is gone, so an abandoned view cannot pin history
  // forever once its directory is deleted.

  private def viewRefsDir(root: String): Path = Paths.get(root, "_viewrefs")

  private def viewRefPath(root: String, viewRoot: String): Path = {
    val canon = Paths.get(viewRoot).normalize().toAbsolutePath.toString
    val sha = java.security.MessageDigest.getInstance("SHA-1")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
    viewRefsDir(root).resolve(s"$sha.json")
  }

  private val ViewRefRe =
    """\{"view":\s*"([^"]*)",\s*"baseline":\s*(\d+)\}""".r

  /** Record (overwrite) a view's refresh baseline against this source —
    * called by every view refresh AFTER its publish (a crash between the
    * two leaves no ref; the fallback is the honest full rebuild). */
  private[sources] def recordViewBaseline(root: String, viewRoot: String,
                                          baseline: Int): Unit = {
    Files.createDirectories(viewRefsDir(root))
    val canon = Paths.get(viewRoot).normalize().toAbsolutePath.toString
    // same format limit publish() enforces for manifest paths: a quote
    // would break the ref's hand-rolled JSON and silently disable the
    // guard for this view (in practice unreachable — such a view's own
    // data-dir commits refuse first — but fail consistently and loudly)
    require(!canon.contains("\""),
      s"view path contains '\"' — unsupported in the viewrefs format: $canon")
    val body = s"""{"view": "$canon", "baseline": $baseline}"""
    val tmp = viewRefsDir(root).resolve(
      s".${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, viewRefPath(root, viewRoot),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Live (viewRoot, baseline) refs — refs whose view store no longer
    * exists (no manifest directory) are pruned on read. */
  private def viewBaselines(root: String): Seq[(String, Int)] = {
    val d = viewRefsDir(root)
    if (!Files.isDirectory(d)) return Nil
    val stream = Files.list(d)
    val files =
      try stream.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".json"))
      finally stream.close()
    files.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      ViewRefRe.findFirstMatchIn(text) match {
        case Some(m) =>
          val view = m.group(1)
          if (currentVersion(view) > 0) Some((view, m.group(2).toInt))
          else { Files.deleteIfExists(p); None } // view gone: ref dies
        case None => None
      }
    }
  }

  /** Retention: drop every version below `keepFrom` — delete their
    * manifests, then physically remove data directories no RETAINED
    * manifest references (a directory shared with a newer version
    * survives; only then is deletion safe). The policy half of
    * [[compact]]'s note that old versions stay readable until vacuumed.
    * Single-writer like the rest of the store: run it from the owner, not
    * concurrently with an append. */
  def vacuum(root: String, keepFrom: Int,
             ignoreViewBaselines: Boolean = false,
             ignoreBranchAnchors: Boolean = false): Unit = {
    val cur = currentVersion(root)
    require(keepFrom >= 1 && keepFrom <= cur,
      s"keepFrom must be in [1, $cur], got $keepFrom")
    // registered views pin their refresh baselines: vacuuming one away
    // demotes that view's next refresh to a full rebuild — retain the
    // pinned manifests (loudly) unless the caller explicitly overrides
    val keepFrom0 = keepFrom
    val keepEff =
      if (ignoreViewBaselines) keepFrom0
      else {
        val pins = viewBaselines(root).filter(p => p._2 >= 1 && p._2 < keepFrom0)
        if (pins.isEmpty) keepFrom0
        else {
          val b = pins.map(_._2).min
          println(s"[vacuum] retaining manifests from v$b (asked v$keepFrom0): " +
            s"refresh baseline(s) of ${pins.map(_._1).distinct.take(3).mkString(", ")} — " +
            "vacuuming past a view's cursor demotes its next refresh to a " +
            "full rebuild; refresh the view first, or pass " +
            "ignoreViewBaselines = true to force")
          b
        }
      }
    // live branches pin un-anchored MERGE manifests: a crashed merge's
    // anchor is only re-derivable from the parent's merge manifest
    // (rebaseBranch's repair sweep) — vacuuming it first would make the
    // merge unknowable and the branch's next rebase would replay against
    // a STALE anchor (resurrected deletes, duplicated rows). Retain
    // (loudly) unless forced; rebasing or deleting the branch clears
    // the pin.
    val keepEff2 =
      if (ignoreBranchAnchors) keepEff
      else unclearedMergePins(root, keepEff) match {
        case Nil => keepEff
        case pins =>
          val b = pins.min
          println(s"[vacuum] retaining manifests from v$b (asked v$keepEff): " +
            s"merge manifest(s) v${pins.take(3).mkString(", v")} anchor live " +
            "branch(es) whose merge-anchor sidecar was never written — " +
            "rebaseBranch() the branch (its repair sweep persists the " +
            "anchor and releases the pin), or pass ignoreBranchAnchors = " +
            "true to force (the branch's next rebase would then replay " +
            "against a stale anchor)")
          b
      }
    vacuumAt(root, keepEff2)
  }

  private def vacuumAt(root: String, keepFrom: Int): Unit = {
    val cur = currentVersion(root)
    // Manifests record raw interpolated strings ("$root/data/v1"); the
    // directory listing yields NORMALIZED paths. Compare canonical forms
    // on both sides, or a root spelled "/tmp/store/" (double slash after
    // interpolation) would make every retained dir "unreferenced" and
    // vacuum would delete LIVE data.
    def canon(p: String): String = Paths.get(p).normalize().toAbsolutePath.toString
    // every live branch's referenced dirs are retained too (a fork shares
    // the parent's history by reference), and so are OUR dirs that an
    // ancestor or sibling subtree references after a by-reference merge —
    // vacuuming either away would delete live data someone else serves
    val retained = ((keepFrom to cur).flatMap(v => manifestDirs(root, v)) ++
      branchReferencedDirs(root) ++ branchAnchorDirs(root)).map(canon).toSet ++
      externallyReferencedDirs(root)
    // A version's OWN data dirs, from its manifest diff against its
    // parent — computed BEFORE any manifest deletion. Name-pattern
    // matching is NOT sound here: after a lost-race re-stack, a dir's
    // name version can differ from its published version, and guessing
    // by basename deleted live sidecars. A version whose parent manifest
    // is already gone (earlier vacuum) keeps its sidecar — stale rows
    // never match a file and only cost metadata-scan time.
    val ownDirs: Map[Int, Set[String]] =
      (1 until keepFrom).flatMap { v =>
        if (!hasManifest(root, v) || (v > 1 && !hasManifest(root, v - 1))) None
        else {
          val prev = if (v == 1) Set.empty[String]
                     else manifestDirs(root, v - 1).map(canon).toSet
          Some(v -> (manifestDirs(root, v).map(canon).toSet -- prev))
        }
      }.toMap
    (1 until keepFrom).foreach { v =>
      Files.deleteIfExists(manifestPath(root, v))
      // drop a version's stats sidecar only when its DATA went too — a
      // directory still referenced by a retained manifest keeps its
      // skipping stats (stale path-keyed rows never match anything and
      // would only cost metadata-scan time)
      val versionOwned = ownDirs.get(v) match {
        case Some(dirs) => dirs.exists(retained.contains)
        case None       => true // unknown ownership: keep, never guess
      }
      if (!versionOwned) {
        if (Files.exists(statsPath(root, v)))
          deleteTree(statsPath(root, v).toString)
        // bloom sidecars follow the same ownership rule as stats: a
        // vacuumed version whose data went drops its bloom too, or a
        // year of retention leaves hundreds of dead sidecars that every
        // planFilesEq must open
        if (Files.exists(bloomPath(root, v)))
          deleteTree(bloomPath(root, v).toString)
      }
    }
    val dataDir = Paths.get(root, "data")
    if (Files.exists(dataDir)) {
      val stream = Files.list(dataDir)
      try stream.toArray.toSeq.map(_.asInstanceOf[Path]).foreach { p =>
        if (!retained.contains(canon(p.toString))) deleteTree(p.toString)
      } finally stream.close()
    }
  }

  // ---- file-level min/max data skipping -------------------------------
  //
  // The lakehouse stats-pruning core (Delta/Iceberg file skipping reduced
  // to its single-writer essence): an append can record per-FILE min/max
  // of chosen numeric columns in a parquet sidecar
  // (`_stats/v{N}.parquet`, rows `(path, col, lo, hi)`), and a
  // range-predicate read plans ONLY the files whose interval overlaps —
  // metadata-sized driver work, no listing, no data-file footer reads.
  // Files without stats (older versions, compactions) are conservatively
  // kept, so pruning is always sound; the predicate is re-applied to the
  // surviving files, so false candidates cost IO, never correctness.
  // At 100 TB this is the first gate IO passes: a day-keyed or z-ordered
  // layout turns a point/range query into a handful of file reads before
  // parquet's own row-group stats see anything.

  private def statsPath(root: String, v: Int): Path =
    Paths.get(root, "_stats", s"v$v.parquet")

  /** [[append]] + per-file min/max stats for `statsCols` (numeric,
    * compared as LONG). Costs one extra scan of the freshly written
    * delta — O(delta), the write-side price of read-side skipping. */
  def appendWithStats(df: DataFrame, root: String,
                      statsCols: Seq[String]): Int = {
    require(statsCols.nonEmpty, "statsCols must be non-empty")
    // check BEFORE the data publishes: a typo'd column must not become a
    // committed version whose sidecar write then fails (writeStats's
    // presence filter is for multi-dir rewrites, not for masking typos)
    val missing = statsCols.filterNot(c => df.columns.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"statsCols not in the batch schema: ${missing.mkString(", ")}")
    val (v, dir) = appendReturningDir(df, root)
    writeStats(df.sparkSession, root, v, Seq(dir), statsCols)
    v
  }

  /** One read-back scan of `dir` → the version's per-file min/max
    * sidecar (shared by stats-carrying appends and compactions). */
  private def writeStats(spark: SparkSession, root: String, v: Int,
                         dirs: Seq[String], statsCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    // mergeSchema + presence filter: the dirs may span schema evolution
    // (a bin-packed merge of old-shaped drips, an upsert's rewrite next
    // to its batch), and selecting a tracked column absent from the
    // sampled footer would throw AFTER the version already published —
    // a maintenance job reporting failure for a commit that succeeded.
    // A column absent from these dirs simply records no stats (readers
    // conservatively keep statless files).
    val written = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    val have = written.schema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val presentCols = statsCols.filter(c =>
      have.contains(c.toLowerCase(java.util.Locale.ROOT)))
    if (presentCols.isEmpty) return
    val perFile = presentCols.map { c =>
      written
        .select(input_file_name().as("path"), col(c).cast("long").as("x"))
        .groupBy("path")
        .agg(min("x").as("lo"), max("x").as("hi"))
        .select(col("path"), lit(c).as("col"), col("lo"), col("hi"))
    }.reduce(_ unionByName _)
    perFile.coalesce(1).write.mode("overwrite")
      .parquet(statsPath(root, v).toString)
  }

  /** Layout-aware compaction: rewrite the snapshot Z-ORDERED on two keys
    * ([[graft.operators.LayoutOps.zorderLayoutScaled]] — each output file
    * covers one contiguous stretch of the scaled Morton curve, so its
    * min/max stays tight in BOTH dimensions) and record fresh per-file
    * stats for `statsCols`. This is the maintenance step that makes
    * [[readWhere]] skipping effective on long-lived data: appends arrive
    * in arrival order (tight in nothing), a periodic z-compaction
    * re-clusters them so range reads on either key prune files again.
    * Epoch stamp carries forward like [[compactWith]]. */
  def compactZordered(spark: SparkSession, root: String,
                      xCol: String, yCol: String,
                      targetFiles: Int = 8,
                      statsCols: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions.col
    val parent = currentVersion(root)
    require(parent > 0, s"nothing to compact at $root")
    val epoch = lastEpoch(root)
    val dir = newDataDir(root, "compact", parent + 1)
    val merged = read(spark, root, parent, mergeSchema = true)
    graft.operators.LayoutOps
      .zorderLayoutScaled(merged, col(xCol), col(yCol), targetFiles)
      .write.mode("overwrite").parquet(dir)
    val v = commitCompaction(root, parent, dir, epoch, merged.columns.toSeq)
    if (statsCols.nonEmpty) writeStats(spark, root, v, Seq(dir), statsCols)
    v
  }

  /** Plan the file set for `lo <= col <= hi` on snapshot `version`:
    * (selected files, total files). Selected = overlapping-stats files
    * plus every file with no recorded stats (sound fallback). */
  private[graft] def planFiles(spark: SparkSession, root: String, ver: Int,
                               statsCol: String, lo: Long, hi: Long): (Seq[String], Int) = {
    import org.apache.spark.sql.functions._
    val v = if (ver > 0) ver else currentVersion(root)
    val dirs = manifestDirs(root, v)
    val all = dirs.flatMap { d =>
      Option(new java.io.File(d).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.toURI.toString)
    }
    // Selection is a JOIN against the stats RELATION, not a driver-side
    // min/max map: at a million-file/100 TB manifest the per-file stats
    // never materialize on the driver — only the SELECTED paths do (the
    // same driver footprint Spark's own FileSourceScanExec carries for
    // any scan it plans). One read spans every sidecar version ≤ v
    // (paths key them; files not in this snapshot's dirs simply never
    // match). Rows whose bounds are null (an all-null or non-castable
    // stats column slipped through the write) are treated as NO stats:
    // the file is conservatively kept rather than dropped.
    val statPaths = (1 to v).map(statsPath(root, _))
      .filter(Files.exists(_)).map(_.toString)
    val selected =
      if (statPaths.isEmpty) all
      else {
        import spark.implicits._
        // URI normalization: input_file_name() and File.toURI both yield
        // file: URIs but may differ in slash count — join on the bare path
        def norm(c: org.apache.spark.sql.Column) =
          regexp_replace(c, "^file:/+", "/")
        val stats = spark.read.parquet(statPaths: _*)
          .where(col("col") === statsCol &&
            col("lo").isNotNull && col("hi").isNotNull)
          // defensive collapse: should a path ever carry two stats rows,
          // the bounds union keeps pruning sound and the join 1:1 (a
          // duplicate match would make spark.read scan the file twice)
          .groupBy(norm(col("path")).as("p"))
          .agg(min("lo").as("lo"), max("hi").as("hi"))
        all.toDF("path")
          .withColumn("p", norm(col("path")))
          .join(stats, Seq("p"), "left")
          .where(col("lo").isNull || (col("hi") >= lo && col("lo") <= hi))
          .select("path")
          .collect().map(_.getString(0)).toSeq
      }
    (selected, all.size)
  }

  /** Range-predicate read with file skipping: plans the overlapping
    * files via [[planFiles]], re-applies the predicate (row-level
    * correctness), falls back to an empty frame of the snapshot's
    * schema when nothing can match. */
  def readWhere(spark: SparkSession, root: String, statsCol: String,
                lo: Long, hi: Long, version: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (files, _) = planFiles(spark, root, version, statsCol, lo, hi)
    val base =
      if (files.isEmpty)
        // schema-preserving EMPTY relation, not limit(0) over the full
        // scan: a fully-pruned read must leave NO file scan in the plan
        // (the delta-compensated serving path asserts it reads only the
        // view + delta-band files)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          read(spark, root, version).schema)
      else
        // the version's (cached) sampled schema — a file-subset read
        // must not pay its own footer inference, and readWhere callers
        // already exclude evolved stores (JoinView.standing falls back
        // to the merged read there)
        spark.read.schema(read(spark, root, version).schema)
          .parquet(files: _*)
    base.where(col(statsCol) >= lo && col(statsCol) <= hi)
  }

  // ---- per-file bloom point-lookup skipping ---------------------------
  //
  // The equality sibling of min/max skipping (Delta's bloom filter
  // index): hash-scattered high-cardinality keys (doc ids, user ids)
  // have useless min/max spans — every file covers the whole domain —
  // but a per-FILE bloom filter answers "can this file hold key K?"
  // with no false negatives. Sidecar `_bloom/v{N}.parquet`, rows
  // `(path, col, bloom)`; the bloom bytes are Spark's own
  // BloomFilterAggregate serialization over xxhash64(key), probed back
  // through the public util.sketch reader with the same hash — build
  // and probe agree by construction. Files without a bloom row are
  // conservatively kept (same soundness posture as [[planFiles]]), and
  // the predicate re-applies to surviving files, so a false positive
  // costs IO, never correctness.

  private def bloomPath(root: String, v: Int): Path =
    Paths.get(root, "_bloom", s"v$v.parquet")

  /** [[append]] + a per-file bloom over `bloomCol` (any key type —
    * xxhash64 canonicalizes). `numBits` sizes accuracy: ~10 bits/key for
    * ~1% false positives. One read-back scan of the delta, the same
    * write-side price class as [[appendWithStats]]. */
  def appendWithBloom(df: DataFrame, root: String, bloomCol: String,
                      numBits: Long = 1L << 20): Int = {
    // same fail-before-publish contract as appendWithStats
    require(df.columns.exists(_.equalsIgnoreCase(bloomCol)),
      s"bloom column '$bloomCol' not in the batch schema")
    val (v, dir) = appendReturningDir(df, root)
    writeBloom(df.sparkSession, root, v, Seq(dir), bloomCol, numBits)
    v
  }

  /** Min/max-stats sidecar for specific dirs of an ALREADY-committed
    * version — the stats counterpart of [[writeBloomSidecar]], for
    * commit paths (epoch appends, compaction publishes) that stamp
    * after the commit. Pure acceleration: a crash between commit and
    * sidecar leaves a correct, conservatively-read version
    * ([[planFiles]] selects statless files unconditionally). */
  private[sources] def writeStatsSidecar(spark: SparkSession, root: String,
                                         v: Int, dirs: Seq[String],
                                         statsCols: Seq[String]): Unit =
    if (dirs.nonEmpty && statsCols.nonEmpty)
      writeStats(spark, root, v, dirs, statsCols)

  /** Bloom sidecar for specific dirs of an ALREADY-committed version —
    * the hook for epoch-stamped ingest paths ([[appendEpoch]] callers
    * like SearchIndex.indexEpoch) that publish first and bloom after:
    * the sidecar is pure acceleration, so a crash between commit and
    * bloom leaves a correct, conservatively-read version. */
  private[sources] def writeBloomSidecar(spark: SparkSession, root: String,
                                         v: Int, dirs: Seq[String],
                                         bloomCol: String,
                                         numBits: Long = 1L << 20): Unit =
    if (dirs.nonEmpty) writeBloom(spark, root, v, dirs, bloomCol, numBits)

  private def writeBloom(spark: SparkSession, root: String, v: Int,
                         dirs: Seq[String], bloomCol: String,
                         numBits: Long): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val written = spark.read.parquet(dirs: _*)
    val agg = new BloomFilterAggregate(
      ColumnBridge.eagerExpression(xxhash64(col(bloomCol))),
      Literal(math.max(1L, numBits / 10)), // items estimate: ~10 bits/key
      Literal(numBits)).toAggregateExpression()
    written
      .select(input_file_name().as("path"), col(bloomCol))
      .groupBy("path")
      .agg(ColumnBridge.column(agg).as("bloom"))
      .select(col("path"), lit(bloomCol).as("col"), col("bloom"))
      .coalesce(1).write.mode("overwrite").parquet(bloomPath(root, v).toString)
  }

  /** Plan the file set for `bloomCol = value` on snapshot `version`:
    * (selected files, total files) — the equality counterpart of
    * [[planFiles]], same distributed selection posture (the sidecar
    * relation is probed where it lives; only selected paths reach the
    * driver). */
  private[graft] def planFilesEq(spark: SparkSession, root: String, ver: Int,
                                 bloomCol: String,
                                 value: Any): (Seq[String], Int) = {
    import org.apache.spark.sql.functions._
    val v = if (ver > 0) ver else currentVersion(root)
    val dirs = manifestDirs(root, v)
    val all = dirs.flatMap { d =>
      Option(new java.io.File(d).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.toURI.toString)
    }
    val sidecars = (1 to v).map(bloomPath(root, _))
      .filter(Files.exists(_)).map(_.toString)
    if (sidecars.isEmpty) return (all, all.size)
    import spark.implicits._
    def norm(c: org.apache.spark.sql.Column) = regexp_replace(c, "^file:/+", "/")
    val probe = udf { (bloom: Array[Byte], hash: Long) =>
      bloom == null ||
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bloom))
          .mightContainLong(hash)
    }
    val blooms = spark.read.parquet(sidecars: _*)
      .where(col("col") === bloomCol)
      .select(norm(col("path")).as("p"), col("bloom"))
    // xxhash64 is TYPE-sensitive: probing a bigint column with an Int
    // literal would hash differently and a bloom miss would silently
    // DROP the matching file (a false negative — the one failure bloom
    // skipping must never have). Cast the literal to the column's actual
    // snapshot type before hashing, exactly what the build side hashed.
    val colType = read(spark, root, v).schema.apply(bloomCol).dataType
    val selected = all.toDF("path")
      .withColumn("p", norm(col("path")))
      .withColumn("h", xxhash64(lit(value).cast(colType)))
      .join(blooms, Seq("p"), "left")
      .where(col("bloom").isNull || probe(col("bloom"), col("h")))
      .select("path")
      // defensive collapse, mirroring planFiles' per-path stats union:
      // should a path ever carry two bloom rows, keep it once if ANY row
      // might match (a duplicate match would make spark.read scan — and
      // readEq return — the file's rows twice)
      .distinct()
      .collect().map(_.getString(0)).toSeq
    (selected, all.size)
  }

  /** Point-lookup read with bloom skipping: plans the possibly-matching
    * files via [[planFilesEq]], re-applies the equality (row-level
    * correctness; bloom positives may be false), empty-schema fallback
    * when no file can match. */
  def readEq(spark: SparkSession, root: String, bloomCol: String,
             value: Any, version: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (files, _) = planFilesEq(spark, root, version, bloomCol, value)
    val base =
      if (files.isEmpty) read(spark, root, version).limit(0)
      else spark.read.parquet(files: _*)
    base.where(col(bloomCol) === lit(value))
  }

  // ---- table constraints ----------------------------------------------
  //
  // Delta-style CHECK constraints with SQL semantics: a row passes when
  // the expression is TRUE or NULL (unknown passes, the SQL-standard
  // CHECK rule — NOT NULL is spelled `col IS NOT NULL`, which is FALSE
  // on null). Stored one file per constraint under `_constraints/`
  // (raw expression text — no quoting/escaping to corrupt, unlike the
  // manifest's comma-split arrays), enforced on every batch of NEW rows
  // (append, epoch append, upsert) BEFORE its manifest publishes: a
  // violating batch fails loudly and leaves only an unreferenced
  // directory for vacuum. Existing data is validated when the
  // constraint is ADDED (the ALTER TABLE ADD CONSTRAINT scan), so
  // enforcement stays O(delta) afterwards — CoW rewrites re-arrange
  // already-validated rows and are not re-checked.

  private def constraintsDir(root: String): Path = Paths.get(root, "_constraints")

  /** Registered constraints, name → expression text. */
  def constraints(root: String): Map[String, String] = {
    val dir = constraintsDir(root)
    if (!Files.exists(dir)) Map.empty
    else {
      val stream = Files.list(dir)
      try stream.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".sql"))
        .map(p => p.getFileName.toString.stripSuffix(".sql") ->
          new String(Files.readAllBytes(p), "UTF-8"))
        .toMap
      finally stream.close()
    }
  }

  /** Register `name CHECK (exprSql)` — after validating the EXISTING
    * snapshot satisfies it (a constraint the standing data already
    * violates would make every future append fail for the wrong
    * commit). An empty store accepts any constraint. */
  def addConstraint(spark: SparkSession, root: String,
                    name: String, exprSql: String): Unit = {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"constraint name must be [A-Za-z0-9_-]+, got '$name'")
    if (currentVersion(root) > 0) {
      val bad = firstViolation(read(spark, root, mergeSchema = true), exprSql)
      require(bad.isEmpty,
        s"existing rows at $root violate CHECK ($exprSql) — first: ${bad.get}")
    }
    Files.createDirectories(constraintsDir(root))
    Files.write(constraintsDir(root).resolve(s"$name.sql"),
      exprSql.getBytes("UTF-8"))
  }

  def dropConstraint(root: String, name: String): Unit =
    Files.deleteIfExists(constraintsDir(root).resolve(s"$name.sql"))

  /** First violating row of `exprSql` in `df`, if any (TRUE/NULL pass —
    * SQL CHECK semantics). */
  private def firstViolation(df: DataFrame, exprSql: String) = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    df.where(not(coalesce(expr(exprSql), lit(true)))).limit(1)
      .collect().headOption
  }

  /** Enforce every registered constraint on the freshly-written batch
    * directory `dir` — called before the commit that would publish it,
    * so a violation never becomes a version. One scan of the delta per
    * registered constraint (the predicates could fold into one pass;
    * constraint counts are human-scale, the per-constraint error message
    * wins). A constraint referencing a column the batch omits fails the
    * batch loudly at resolution — carry the column or drop the
    * constraint. */
  private def enforceConstraints(spark: SparkSession, root: String,
                                 dir: String): Unit = {
    val cs = constraints(root)
    if (cs.isEmpty) return
    val batch = spark.read.parquet(dir)
    cs.foreach { case (name, exprSql) =>
      val bad = firstViolation(batch, exprSql)
      require(bad.isEmpty,
        s"batch violates constraint $name CHECK ($exprSql) at $root — " +
          s"first violating row: ${bad.get}; nothing was published")
    }
  }

  /** Recursive delete of a store root (harness/test cleanup). */
  def deleteTree(root: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(root))
    // a rebuilt store at the same path may publish the same version
    // numbers with a different schema and size — drop its cached facts
    Seq[java.util.Map[String, _]](schemaCache, bytesCache).foreach { cache =>
      cache.synchronized {
        val it = cache.keySet().iterator()
        while (it.hasNext) {
          val k = it.next() // the root itself, and any branch root under it
          if (k.startsWith(root + "#") || k.startsWith(root + "/")) it.remove()
        }
      }
    }
  }

  /** INCREMENTAL bin-packing compaction — the 100 TB shape of the
    * small-file maintenance job: only directories whose on-disk size is
    * below `smallBytes` are rewritten (merged into one directory),
    * everything already-compacted carries over BY REFERENCE. A steady
    * drip of small appends folds into the standing table at a cost
    * bounded by the drip, never an O(table) rewrite ([[compact]] stays
    * the full-rewrite / schema-migration tool). Content-preserving, so
    * it publishes with the compact kind; fewer than two small
    * directories means nothing to pack — a true no-op, no version.
    * File-skipping stats of the rewritten directories are re-derived for
    * the union of columns their sidecars tracked ([[inheritStats]]), so
    * packing never converts pruned data back into always-scanned data. */
  def compactSmall(spark: SparkSession, root: String,
                   smallBytes: Long = 32L * 1024 * 1024,
                   targetFiles: Int = 4): Int = {
    val parent = currentVersion(root)
    require(parent > 0, s"nothing to compact at $root")
    val dirs = manifestDirs(root, parent)
    val small = dirs.filter(dirBytes(_) < smallBytes)
    if (small.size < 2) return parent // nothing to pack
    val keep = dirs.filterNot(small.toSet)
    val dir = newDataDir(root, "compact", parent + 1)
    // mergeSchema across the packed directories only: they may span
    // schema evolution; the merged read plans their union shape and
    // missing columns fill as null, exactly as read() serves them
    spark.read.option("mergeSchema", "true").parquet(small: _*)
      .coalesce(targetFiles).write.mode("overwrite").parquet(dir)
    val v = commitReplace(root, parent, keep :+ dir, lastEpoch(root),
      manifestCols(root, parent).getOrElse(Seq.empty), "compact")
    inheritStats(spark, root, parent, v, Seq(dir),
      manifestCols(root, parent).getOrElse(
        spark.read.parquet(dir).columns.toSeq))
    v
  }

  /** Rewrite the CURRENT snapshot into `targetFiles` files under one new
    * directory and publish it as a new version with identical logical
    * content — the small-file maintenance job. Old directories stay on
    * disk serving older versions (time travel); physical vacuum of
    * unreferenced versions is a retention policy, not this call. */
  def compact(spark: SparkSession, root: String, targetFiles: Int = 4): Int = {
    val parent = currentVersion(root)
    require(parent > 0, s"nothing to compact at $root")
    val dir = newDataDir(root, "compact", parent + 1)
    // mergeSchema: a compaction REWRITES the snapshot and publishes only
    // its own directory — planning from one sampled footer on a
    // schema-evolved store would silently and permanently drop columns
    // later appends added. The footer-read cost is paid once, at
    // maintenance time, not on reads.
    val merged = read(spark, root, parent, mergeSchema = true)
    merged.coalesce(targetFiles)
      .write.mode("overwrite").parquet(dir)
    // Carry the newest epoch stamp forward (the compactWith contract):
    // without it, a compact-then-vacuum sequence would strip every stamp
    // from the RETAINED manifest tail, and a crash-replayed epoch whose
    // stamp lived only below the vacuum line would silently re-ingest.
    commitCompaction(root, parent, dir, lastEpoch(root), merged.columns.toSeq)
  }
}
