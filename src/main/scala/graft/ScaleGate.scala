package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{JoinView, QuantileView, SearchIndex, SnapshotStore}

/** On-disk FIXED-DELTA scale gate for the lifecycle families (round-15
  * VERDICT item 2): where [[ScaleProbe]] proves O(Δ) against in-memory
  * self-unions, this drives the SAME maintenance ops against real scaled
  * parquet (the /tmp/graft_sf1 and /tmp/graft_sf10 ScaleUp fixtures) with
  * deltas of FIXED ABSOLUTE SIZE (replica-0 key ranges, identical row
  * sets at every scale). Run at two scales, the maintenance timings must
  * stay ~flat while the bootstrap legs (honestly O(table)) grow with the
  * data — the per-family envelope each measurement is judged against:
  *
  *   - join-view outer/full delta refresh: O(Δ + matching) — flat (the
  *     match-arrival probes file-prune the view via the stamped key
  *     stats; the standing left side of the ΔR leg is the fixed dim).
  *   - branch rebase + merge: pure manifest surgery — flat (O(dirs)).
  *   - search-index reindex of a fixed doc batch: bounded by the CoW
  *     rewrite of posting dirs owning the touched docs — sub-linear,
  *     NOT constant (term-clustered dirs each own a slice of every doc).
  *   - index serve (replica-0-only term): O(postings of the term) rows
  *     through bloom-selected files — sub-linear (file count is fixed;
  *     selected-file bytes grow with the term's range neighborhood).
  *   - quantile-view delta/churn refresh: O(Δ) binning + escape probe,
  *     churn CoW bounded to the dirs owning the churned rows — flat.
  *
  * Usage: runMain graft.ScaleGate <sfDir> [families]
  * (families = comma list of jvouter,jvfull,rebase,search,quantile)
  */
object ScaleGate {

  private def time[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[gate10] $what%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    r
  }

  private def withRoot(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("gate10").toString
    try f(root) finally SnapshotStore.deleteTree(root)
  }

  /** Range-cluster at CONSTANT file size (~500k rows/file): a production
    * store's file size is fixed and its file COUNT grows with the data,
    * which is what makes a fixed key band's pruned read O(band), not
    * O(table/32). A fixed partition count (the repartitionByRange
    * default) would instead grow every file 10× per ScaleUp factor and
    * make the band-churn legs LOOK super-linear when the algorithm is
    * not — the round-16 dim-band 1.53× was exactly this fixture
    * artifact. */
  private def clustered(df: DataFrame, key: String): DataFrame = {
    val n = math.max(8, (df.count() / 500000L).toInt)
    df.repartitionByRange(n, col(key))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(sys.error("usage: ScaleGate <sfDir> [families]"))
    val fams = args.lift(1).map(_.split(',').toSet)
      .getOrElse(Set("jvouter", "jvfull", "aggjoin", "aggjoinx", "maggjoin",
        "maggjoinx", "mndvjoin", "qjoin", "mqjoin", "vovchurn", "rebase",
        "search", "quantile"))
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    println(s"[gate10] == $dir ==")

    val customer = Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    // FIXED absolute deltas: replica-0 key ranges — the same rows at
    // every ScaleUp factor. Synthetic "fresh band" offsets sit at 2e10+,
    // ABOVE every scale's real keys: ScaleUp offsets replica keys by 10M
    // each, so ×1000 (sf100) reaches ~1e10 — an offset inside that range
    // would silently turn the band legs into mass-churn of standing
    // replicas (a 2e9 offset cost the first sf100 maggjoin churn run
    // 1453s of honest 480M-row retraction; the algorithm was fine, the
    // fixture band was not a band)
    val dR = orders.where(col("o_orderkey") < 4096)
      .withColumn("o_orderkey", col("o_orderkey") + lit(20_000_000_000L))
      .localCheckpoint(true)
    val dL = customer.where(col("c_custkey") < 1024)
      .withColumn("c_custkey", col("c_custkey") + lit(20_000_000_000L))
      .localCheckpoint(true)

    if (fams("jvouter")) withRoot { root =>
      val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
      SnapshotStore.append(customer, l)
      SnapshotStore.append(orders, r)
      time("jv_outer bootstrap")(
        JoinView.refresh(spark, l, r, v, "c_custkey", "o_custkey", "left_outer"))
      SnapshotStore.append(dR, r) // matched keys: the non-converting path
      time("jv_outer deltaR refresh")(
        JoinView.refresh(spark, l, r, v, "c_custkey", "o_custkey", "left_outer"))
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"), "outer delta left the O(delta) append path")
    }

    if (fams("jvfull")) withRoot { root =>
      val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
      SnapshotStore.append(customer, l)
      SnapshotStore.append(orders, r)
      time("jv_full bootstrap")(
        JoinView.refresh(spark, l, r, v, "c_custkey", "o_custkey", "full_outer"))
      SnapshotStore.append(dL, l) // new keys: null-extend, no conversion
      SnapshotStore.append(dR, r) // matched keys: no conversion
      time("jv_full two-sided refresh")(
        JoinView.refresh(spark, l, r, v, "c_custkey", "o_custkey", "full_outer"))
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"), "full delta left the O(delta) append path")
    }

    if (fams("aggjoin")) withRoot { root =>
      import graft.sources.AggJoinView
      val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
      // range-clustered stats-carrying sources — the layout a 100 TB
      // deployment runs with, and what lets every maintenance leg
      // file-prune its standing/time-travel reads by the delta's or the
      // churn's key band
      SnapshotStore.appendWithStats(
        clustered(customer, "c_custkey"), l, Seq("c_custkey"))
      SnapshotStore.appendWithStats(
        clustered(orders, "o_custkey"), r, Seq("o_custkey"))
      def refresh(): Unit = AggJoinView.refresh(spark, l, r, v,
        "c_custkey", "o_custkey", Seq("c_mktsegment"), Seq("o_totalprice"))
      time("aggjoin bootstrap")(refresh())
      // monotone ingest: new dim keys land WITH the facts referencing
      // them — both delta terms' standing reads prune to the new band
      val dLn = dL // new custkeys (+2e9)
      val dRn = orders.where(col("o_orderkey") < 4096)
        .withColumn("o_custkey", (col("o_custkey") % 1024) + lit(20_000_000_000L))
        .localCheckpoint(true)
      SnapshotStore.appendWithStats(dLn, l, Seq("c_custkey"))
      SnapshotStore.appendWithStats(dRn, r, Seq("o_custkey"))
      time("aggjoin two-sided delta")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"), "aggjoin delta left the O(delta) append path")
      // churn of the new band: dirty keys = one narrow range → the ±
      // partial legs' four reads (old/new × L/R) all file-prune to it
      SnapshotStore.deleteWhere(spark, r, col("o_custkey") >= 20_000_000_000L)
      time("aggjoin churn (band)")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"),
        "aggjoin churn must stay an arithmetic signed-partial append")
      // churn of a LOW standing band on the dim side
      SnapshotStore.deleteWhere(spark, l, col("c_custkey") < 1024)
      time("aggjoin churn (dim band)")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"),
        "aggjoin dim-band churn must stay an arithmetic signed-partial append")
      time("aggjoin serve-read")(AggJoinView.read(spark, v).count())
    }

    // EXTENTS agg-join MV: min/max partials, whose churn is the honest
    // dirty-GROUP recompute (not signed arithmetic). Grouped on the
    // range-clustered key itself so the dirty groups ARE a key band —
    // the recompute's between-prefilter + semi prunes both sides to the
    // band's files, which is what keeps the leg flat across 10x standing
    // data (a coarse grouping would honestly pay O(dirty groups' rows)).
    if (fams("aggjoinx")) withRoot { root =>
      import graft.sources.AggJoinView
      val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
      SnapshotStore.appendWithStats(
        clustered(customer, "c_custkey"), l, Seq("c_custkey"))
      SnapshotStore.appendWithStats(
        clustered(orders, "o_custkey"), r, Seq("o_custkey"))
      def refresh(): Unit = AggJoinView.refreshKeys(spark, l, r, v,
        Seq("c_custkey"), Seq("o_custkey"),
        Seq("c_custkey"), Seq("o_totalprice"), extents = true)
      time("aggjoinx bootstrap")(refresh())
      val dLn = customer.where(col("c_custkey") < 1024)
        .withColumn("c_custkey", col("c_custkey") + lit(20_000_000_000L))
        .localCheckpoint(true)
      val dRn = orders.where(col("o_orderkey") < 4096)
        .withColumn("o_custkey", (col("o_custkey") % 1024) + lit(20_000_000_000L))
        .localCheckpoint(true)
      SnapshotStore.appendWithStats(dLn, l, Seq("c_custkey"))
      SnapshotStore.appendWithStats(dRn, r, Seq("o_custkey"))
      time("aggjoinx two-sided delta")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"),
        "aggjoinx delta left the O(delta) append path (min/max fold)")
      // EXTREMUM churn inside the new band: deletes remove per-group
      // maxima, forcing the dirty-group recompute + keyed replace
      SnapshotStore.deleteWhere(spark, r,
        col("o_custkey") >= 20_000_000_000L && col("o_totalprice") > 100000.0)
      time("aggjoinx churn (band, extremum)")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
          .contains("upsert"),
        "extents churn must replace dirty groups in one stamped upsert")
      time("aggjoinx serve-read")(AggJoinView.read(spark, v).count())
    }

    // MULTI-WAY (snowflake) agg-join MV: lineitem × orders × part ×
    // supplier × nation. Edge ORDER is load-bearing for churn pruning:
    // the FIRST edge's parent keys are the fact's churn-restriction key
    // (MultiAggJoinView picks table 0's dirty tuples from them), so the
    // orders edge — whose l_orderkey the fact is range-clustered on —
    // goes first and a band delete's ± legs file-prune to the band.
    // The fact also stamps l_suppkey stats: a snowflake-LEAF delta
    // (new nations + new suppliers + facts in a fresh key band) cascades
    // nation → supplier → fact, and the fact hop prunes files by the new
    // suppliers' band instead of re-scanning the corpus.
    if (fams("maggjoin")) withRoot { root =>
      import graft.sources.MultiAggJoinView
      import graft.sources.MultiAggJoinView.Edge
      val fr = s"$root/F"; val or_ = s"$root/O"; val pr = s"$root/P"
      val sr = s"$root/S"; val nr = s"$root/N"; val v = s"$root/V"
      val roots = Seq(fr, or_, pr, sr, nr)
      val edges = Seq(
        Edge(0, Seq("l_orderkey"), Seq("o_orderkey")),
        Edge(0, Seq("l_partkey"), Seq("p_partkey")),
        Edge(0, Seq("l_suppkey"), Seq("s_suppkey")),
        Edge(3, Seq("s_nationkey"), Seq("n_nationkey")))
      val groups = Seq("n_name", "o_orderpriority")
      val fact = Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
      val ords = Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderpriority")
      SnapshotStore.appendWithStats(
        clustered(fact, "l_orderkey"), fr,
        Seq("l_orderkey", "l_suppkey"))
      SnapshotStore.appendWithStats(
        clustered(ords, "o_orderkey"), or_, Seq("o_orderkey"))
      SnapshotStore.append(
        Tables.part(spark, dir).select("p_partkey", "p_brand"), pr)
      SnapshotStore.appendWithStats(
        Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey"), sr,
        Seq("s_suppkey"))
      SnapshotStore.append(
        Tables.nation(spark, dir).select("n_nationkey", "n_name"), nr)
      def refresh(): Unit = MultiAggJoinView.refresh(spark, roots, v,
        edges, groups, Seq("l_extendedprice"))
      time("maggjoin bootstrap")(refresh())
      // fixed-absolute two-sided delta: a fresh l_orderkey band with the
      // orders rows it references (monotone ingest)
      val dF = fact.where(col("l_orderkey") < 4096)
        .withColumn("l_orderkey", col("l_orderkey") + lit(20_000_000_000L))
        .localCheckpoint(true)
      val dO = ords.where(col("o_orderkey") < 4096)
        .withColumn("o_orderkey", col("o_orderkey") + lit(20_000_000_000L))
        .localCheckpoint(true)
      SnapshotStore.appendWithStats(dF, fr, Seq("l_orderkey", "l_suppkey"))
      SnapshotStore.appendWithStats(dO, or_, Seq("o_orderkey"))
      time("maggjoin fact+orders delta")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"), "maggjoin delta left the O(delta) append path")
      // snowflake-LEAF delta: new nations, new suppliers in a fresh band
      // referencing them, new facts referencing those suppliers — the
      // term cascades nation → supplier → fact with each hop pruned
      val dN = spark.range(500, 510)
        .selectExpr("CAST(id AS INT) AS n_nationkey",
          "concat('newnation', id) AS n_name").localCheckpoint(true)
      val dS = spark.range(0, 1024)
        .selectExpr("id + 2000000000L AS s_suppkey",
          "CAST(500 + id % 10 AS INT) AS s_nationkey").localCheckpoint(true)
      val dF2 = fact.where(col("l_orderkey") < 4096)
        .withColumn("l_orderkey", col("l_orderkey") + lit(30_000_000_000L))
        .withColumn("l_suppkey", (col("l_suppkey") % 1024) + lit(20_000_000_000L))
        .localCheckpoint(true)
      SnapshotStore.append(dN, nr)
      SnapshotStore.appendWithStats(dS, sr, Seq("s_suppkey"))
      SnapshotStore.appendWithStats(dF2, fr, Seq("l_orderkey", "l_suppkey"))
      time("maggjoin leaf+fact delta")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"),
        "maggjoin snowflake-leaf delta left the O(delta) append path")
      // band churn on fact AND orders: dirty l_orderkeys = one narrow
      // range — every ± leg's reads file-prune to the band
      SnapshotStore.deleteWhere(spark, fr, col("l_orderkey") >= 30_000_000_000L)
      SnapshotStore.deleteWhere(spark, or_, col("o_orderkey") >= 20_000_000_000L)
      time("maggjoin churn (band x2)")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"),
        "maggjoin churn must stay telescoped signed-partial appends")
      time("maggjoin serve-read")(MultiAggJoinView.read(spark, v).count())
    }

    // MULTI-WAY EXTENTS MV: min/max over the 5-way tree, whose churn is
    // the N-way dirty-GROUP recompute (owner-band + cascade restriction)
    // REPLACING beside any append-moved tables' delta terms in ONE atomic
    // publish (upsertAndAppendEpoch). Grouped on the fact's range-
    // clustered key (plus the snowflake leaf's name), so an extremum
    // delete inside a fresh key band makes the dirty groups A BAND — the
    // owner restriction file-prunes the fact recompute to it, and the
    // cascade prunes the rest of the tree outward, which is what must
    // keep the leg flat across 10x standing data.
    if (fams("maggjoinx")) withRoot { root =>
      import graft.sources.MultiAggJoinView
      import graft.sources.MultiAggJoinView.Edge
      val fr = s"$root/F"; val or_ = s"$root/O"; val pr = s"$root/P"
      val sr = s"$root/S"; val nr = s"$root/N"; val v = s"$root/V"
      val roots = Seq(fr, or_, pr, sr, nr)
      val edges = Seq(
        Edge(0, Seq("l_orderkey"), Seq("o_orderkey")),
        Edge(0, Seq("l_partkey"), Seq("p_partkey")),
        Edge(0, Seq("l_suppkey"), Seq("s_suppkey")),
        Edge(3, Seq("s_nationkey"), Seq("n_nationkey")))
      val groups = Seq("l_orderkey", "n_name")
      val fact = Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
      val ords = Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderpriority")
      SnapshotStore.appendWithStats(
        clustered(fact, "l_orderkey"), fr,
        Seq("l_orderkey", "l_suppkey"))
      SnapshotStore.appendWithStats(
        clustered(ords, "o_orderkey"), or_, Seq("o_orderkey"))
      SnapshotStore.append(
        Tables.part(spark, dir).select("p_partkey", "p_brand"), pr)
      SnapshotStore.appendWithStats(
        Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey"), sr,
        Seq("s_suppkey"))
      SnapshotStore.append(
        Tables.nation(spark, dir).select("n_nationkey", "n_name"), nr)
      def refresh(): Unit = MultiAggJoinView.refresh(spark, roots, v,
        edges, groups, Seq("l_extendedprice"), extents = true)
      time("maggjoinx bootstrap")(refresh())
      // fixed-absolute delta: a fresh l_orderkey band plus the orders it
      // references — extents keep the append legs on the O(delta) fold
      val dF = fact.where(col("l_orderkey") < 4096)
        .withColumn("l_orderkey", col("l_orderkey") + lit(20_000_000_000L))
        .localCheckpoint(true)
      val dO = ords.where(col("o_orderkey") < 4096)
        .withColumn("o_orderkey", col("o_orderkey") + lit(20_000_000_000L))
        .localCheckpoint(true)
      SnapshotStore.appendWithStats(dF, fr, Seq("l_orderkey", "l_suppkey"))
      SnapshotStore.appendWithStats(dO, or_, Seq("o_orderkey"))
      time("maggjoinx two-sided delta")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"),
        "maggjoinx delta left the O(delta) append path (min/max fold)")
      // the MIXED atomic gap: an EXTREMUM delete inside the fresh band
      // (per-group maxima vanish → dirty-group recompute) AND a
      // snowflake-leaf append land in ONE refresh — the replace and the
      // append terms must publish as ONE version (upsertAndAppendEpoch)
      SnapshotStore.deleteWhere(spark, fr,
        col("l_orderkey") >= 20_000_000_000L &&
          col("l_extendedprice") > 60000.0)
      SnapshotStore.append(spark.range(600, 610)
        .selectExpr("CAST(id AS INT) AS n_nationkey",
          "concat('xnation', id) AS n_name").localCheckpoint(true), nr)
      val vBefore = SnapshotStore.currentVersion(v)
      time("maggjoinx churn (band extremum + leaf)")(refresh())
      assert(SnapshotStore.currentVersion(v) == vBefore + 1,
        "the mixed gap must land in exactly ONE view version")
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("upsert"),
        "extents churn must replace dirty groups beside the append terms " +
          "in one atomic publish")
      time("maggjoinx serve-read")(MultiAggJoinView.read(spark, v).count())
    }

    // N-WAY NDV MV (this round's newest machinery): HLL sketch partials
    // over the orders ⋈ customer ⋈ nation chain. Appends fold the
    // telescoped delta-term sketches (register-max, O(delta)); churn
    // re-sketches dirty GROUPS whole. The churn-restriction key of the
    // FACT is its first edge's parent key (o_custkey) — so the fixture
    // clusters BOTH big tables on the custkey axis, buckets the group
    // column from it, and churns a custkey BAND: the dirty keys, the
    // dirty groups, and the cascade hop to customer all file-prune to
    // the band, which is what must keep the leg flat across 10x data.
    if (fams("mndvjoin")) withRoot { root =>
      import graft.sources.MultiNdvJoinView
      import graft.sources.MultiAggJoinView.Edge
      val or_ = s"$root/O"; val cr = s"$root/C"; val nr = s"$root/N"
      val v = s"$root/V"
      val roots = Seq(or_, cr, nr)
      val edges = Seq(
        Edge(0, Seq("o_custkey"), Seq("c_custkey")),
        Edge(1, Seq("c_nationkey"), Seq("n_nationkey")))
      val groups = Seq("o_cb", "o_orderstatus")
      def bucketed(df: DataFrame): DataFrame =
        df.withColumn("o_cb", expr("o_custkey div 1048576"))
      val ords = bucketed(Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus"))
      SnapshotStore.appendWithStats(
        clustered(ords, "o_custkey"), or_, Seq("o_custkey"))
      SnapshotStore.appendWithStats(
        clustered(Tables.customer(spark, dir)
          .select("c_custkey", "c_nationkey"), "c_custkey"),
        cr, Seq("c_custkey"))
      SnapshotStore.append(
        Tables.nation(spark, dir).select("n_nationkey", "n_name"), nr)
      def refresh(): Unit = MultiNdvJoinView.refresh(spark, roots, v,
        edges, groups, "o_custkey")
      time("mndvjoin bootstrap")(refresh())
      // fixed-absolute monotone ingest: a fresh CUSTKEY band lands with
      // the customers it references (the aggjoin posture) — both tables
      // append-moved, two telescoped sketch terms in one publish
      val dC = Tables.customer(spark, dir)
        .select("c_custkey", "c_nationkey")
        .where(col("c_custkey") < 1024)
        .withColumn("c_custkey", col("c_custkey") + lit(20_000_000_000L))
        .localCheckpoint(true)
      val dO = bucketed(Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .where(col("o_orderkey") < 4096)
        .withColumn("o_custkey", (col("o_custkey") % 1024) + lit(20_000_000_000L)))
        .localCheckpoint(true)
      SnapshotStore.appendWithStats(dC, cr, Seq("c_custkey"))
      SnapshotStore.appendWithStats(dO, or_, Seq("o_custkey"))
      time("mndvjoin fact+dim delta")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"),
        "mndvjoin delta left the O(delta) sketch-append path")
      // the MIXED atomic gap: a CUSTKEY-band delete (dirty keys, dirty
      // groups, and the customer cascade hop all prune to the band's
      // files) + a nation leaf append in ONE refresh — replace and
      // append terms land as one version
      SnapshotStore.deleteWhere(spark, or_,
        col("o_custkey") >= 20_000_000_000L && col("o_orderkey") % 3 === 0)
      SnapshotStore.append(spark.range(700, 705)
        .selectExpr("CAST(id AS INT) AS n_nationkey",
          "concat('ynation', id) AS n_name").localCheckpoint(true), nr)
      val vB = SnapshotStore.currentVersion(v)
      time("mndvjoin churn (band re-sketch + leaf)")(refresh())
      assert(SnapshotStore.currentVersion(v) == vB + 1,
        "the mixed gap must land in exactly ONE view version")
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("upsert"),
        "ndv churn must replace dirty groups beside the append terms " +
          "in one atomic publish")
      time("mndvjoin serve-read")(MultiNdvJoinView.read(spark, v).count())
    }

    // QUANTILE-over-JOIN MV: signed bin-count partials under global
    // frozen edges — churn (even a band delete of per-group extremes) is
    // PURE ARITHMETIC (± binned legs restricted to the dirty keys, one
    // stamped append, no dirty-group recompute), so both maintenance
    // legs must stay flat; only the bootstrap is O(table).
    if (fams("qjoin")) withRoot { root =>
      import graft.sources.MultiQuantileJoinView
      import graft.sources.MultiAggJoinView.Edge
      val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
      val edges = Seq(Edge(0, Seq("c_custkey"), Seq("o_custkey")))
      SnapshotStore.appendWithStats(
        clustered(customer, "c_custkey"), l, Seq("c_custkey"))
      SnapshotStore.appendWithStats(
        clustered(orders, "o_custkey"), r, Seq("o_custkey"))
      def refresh(): Unit = MultiQuantileJoinView.refresh(spark, Seq(l, r),
        v, edges, Seq("c_mktsegment"), "o_totalprice")
      time("qjoin bootstrap (freeze + bin)")(refresh())
      // monotone in-envelope ingest: a fresh custkey band with the
      // orders referencing it (values inside the frozen envelope)
      val dLn = customer.where(col("c_custkey") < 1024)
        .withColumn("c_custkey", col("c_custkey") + lit(20_000_000_000L))
        .localCheckpoint(true)
      val dRn = orders.where(col("o_orderkey") < 4096)
        .withColumn("o_custkey", (col("o_custkey") % 1024) + lit(20_000_000_000L))
        .localCheckpoint(true)
      SnapshotStore.appendWithStats(dLn, l, Seq("c_custkey"))
      SnapshotStore.appendWithStats(dRn, r, Seq("o_custkey"))
      time("qjoin two-sided delta")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"), "qjoin delta left the O(delta) binned append")
      // EXTREMUM band churn: deletes strip per-group maxima — fatal to
      // min/max and monotone sketches, pure arithmetic here (counts
      // retract); the ± legs' four reads all file-prune to the band
      SnapshotStore.deleteWhere(spark, r,
        col("o_custkey") >= 20_000_000_000L && col("o_totalprice") > 100000.0)
      time("qjoin churn (band, extremum)")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"),
        "quantile-join churn must stay a signed-count append")
      time("qjoin serve (p50/p99)")(
        MultiQuantileJoinView.quantiles(spark, v, Seq(0.5, 0.99)).count())
      // the CATALYST serve (r19): percentile_approx over the registered
      // join answers from O(live bins) — the structural win is serve
      // cost independent of fact size; the declined twin re-runs the
      // full join + GK aggregate
      graft.plans.MaterializedMultiJoins.enableQuantile(Seq(l, r), v, edges,
        Seq("c_mktsegment"), "o_totalprice")
      try {
        def userQ() = {
          val lf = SnapshotStore.read(spark, l)
          val rf = SnapshotStore.read(spark, r)
          lf.join(rf, lf("c_custkey") === rf("o_custkey"))
            .groupBy("c_mktsegment")
            .agg(percentile_approx(col("o_totalprice"), lit(0.9),
              lit(10000)).as("p90"))
        }
        val served = userQ()
        assert(graft.plans.PlanProbe.scansOnly(served, "/V"),
          "the qjoin catalyst serve did not fire at scale")
        time("qjoin catalyst serve p90")(served.count())
        graft.plans.MaterializedMultiJoins.disableView(v)
        time("qjoin DECLINED p90 (full join+GK)")(userQ().count())
      } finally graft.plans.MaterializedMultiJoins.disableView(v)
    }

    if (fams("mqjoin")) withRoot { root =>
      // QUANTILE over the N-way TREE at scale (r19): fact clustered on
      // its FIRST edge's parent keys (o_custkey — its churn-restriction
      // axis), dims stand; every maintenance leg is the telescoped
      // signed-bin arithmetic, so the fixed-absolute band legs must stay
      // flat while the tree's fact side grows 10×
      import graft.sources.MultiQuantileJoinView
      import graft.sources.MultiAggJoinView.Edge
      val or = s"$root/O"; val cr = s"$root/C"; val nr = s"$root/N"
      val v = s"$root/V"
      val roots = Seq(or, cr, nr)
      val cust3 = Tables.customer(spark, dir)
        .select("c_custkey", "c_nationkey")
      val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
      val edges = Seq(Edge(0, Seq("o_custkey"), Seq("c_custkey")),
        Edge(1, Seq("c_nationkey"), Seq("n_nationkey")))
      SnapshotStore.appendWithStats(
        clustered(orders, "o_custkey"), or, Seq("o_custkey"))
      SnapshotStore.appendWithStats(
        clustered(cust3, "c_custkey"), cr, Seq("c_custkey"))
      SnapshotStore.append(nat, nr)
      def refresh(): Unit = MultiQuantileJoinView.refresh(spark, roots, v,
        edges, Seq("n_name"), "o_totalprice")
      time("mqjoin bootstrap (freeze+bin tree)")(refresh())
      // fresh fact+mid-dim band (values repeat the observed set — in
      // envelope): two telescoped O(Δ) terms, cascade-pruned
      val dC = cust3.where(col("c_custkey") < 1024)
        .withColumn("c_custkey", col("c_custkey") + lit(20_000_000_000L))
        .localCheckpoint(true)
      val dO = orders.where(col("o_orderkey") < 4096)
        .withColumn("o_orderkey", col("o_orderkey") + lit(20_000_000_000L))
        .withColumn("o_custkey",
          (col("o_custkey") % 1024) + lit(20_000_000_000L))
        .localCheckpoint(true)
      SnapshotStore.appendWithStats(dC, cr, Seq("c_custkey"))
      SnapshotStore.appendWithStats(dO, or, Seq("o_custkey"))
      time("mqjoin two-table delta")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"),
        "mqjoin delta left the O(delta) telescoped binned append")
      // EXTREMUM band churn on the FACT: deletes strip high values —
      // fatal to min/max and monotone sketches, pure signed arithmetic
      // here; the ± legs file-prune to the custkey band
      SnapshotStore.deleteWhere(spark, or,
        col("o_custkey") >= 20_000_000_000L && col("o_totalprice") > 100000.0)
      time("mqjoin churn (band, extremum)")(refresh())
      assert(SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v))
        .contains("append"),
        "multiway quantile churn must stay a signed-count append")
      time("mqjoin serve (p50/p99)")(
        MultiQuantileJoinView.quantiles(spark, v, Seq(0.5, 0.99)).count())
      // the CATALYST serve: percentile_approx over the registered TREE
      // answers from O(live bins) — serve cost independent of fact
      // size; the declined twin re-runs the full 3-way join + GK
      graft.plans.MaterializedMultiJoins.enableQuantile(roots, v, edges,
        Seq("n_name"), "o_totalprice")
      try {
        def userQ() = {
          val of = SnapshotStore.read(spark, or)
          val cf = SnapshotStore.read(spark, cr)
          val nf = SnapshotStore.read(spark, nr)
          of.join(cf, of("o_custkey") === cf("c_custkey"))
            .join(nf, cf("c_nationkey") === nf("n_nationkey"))
            .groupBy("n_name")
            .agg(percentile_approx(col("o_totalprice"), lit(0.9),
              lit(10000)).as("p90"))
        }
        val served = userQ()
        assert(graft.plans.PlanProbe.scansOnly(served, "/V"),
          "the mqjoin catalyst serve did not fire at scale")
        time("mqjoin catalyst serve p90")(served.count())
        graft.plans.MaterializedMultiJoins.disable(v)
        time("mqjoin DECLINED p90 (tree+GK)")(userQ().count())
      } finally graft.plans.MaterializedMultiJoins.disable(v)
    }

    if (fams("vovchurn")) withRoot { root =>
      import graft.sources.RollupView
      // VIEW-OVER-VIEW churn at scale (r19): tier-1 join view (series ⋈
      // user dim on the high-cardinality user_id), tier-2 rollup over
      // the join view's store. A fixed user-band × ONE-day churn on the
      // base must absorb at tier-2 through the RECORDED feed +
      // retraction path (keyed replace, pinned) — the feed is O(Δ); the
      // dirty-group recompute reads the jv store under a pushed day-band
      // predicate (sub-linear in bytes on the key-clustered layout, one
      // column-pruned scan — the documented envelope, not claimed flat).
      val series = Tables.metricSeries(spark, dir)
        .select("user_id", "metric", "e", "value")
      val l = s"$root/L"; val r = s"$root/R"
      val jv = s"$root/JV"; val rv = s"$root/RV"
      SnapshotStore.appendWithStats(
        clustered(series, "user_id"), l, Seq("user_id"))
      SnapshotStore.append(
        series.select(col("user_id").as("u_id")).distinct(), r)
      def refreshBoth(): Unit = {
        JoinView.refreshKeys(spark, l, r, jv, Seq("user_id"), Seq("u_id"))
        RollupView.refresh(spark, jv, rv)
      }
      time("vov bootstrap (both tiers)")(refreshBoth())
      // fixed-band churn: replica-0 users, ONE day of their events
      val dayLo = series.agg(min(col("e"))).head().getLong(0) / 86400L
      SnapshotStore.deleteWhere(spark, l,
        col("user_id") < 1024 &&
          col("e") >= dayLo * 86400L && col("e") < (dayLo + 1) * 86400L)
      time("vov tier-1 churn (band)")(
        JoinView.refreshKeys(spark, l, r, jv, Seq("user_id"), Seq("u_id")))
      time("vov tier-2 churn absorb (feed)")(RollupView.refresh(spark, jv, rv))
      assert(SnapshotStore.manifestOp(rv, SnapshotStore.currentVersion(rv))
        .contains("upsert"),
        "tier-2 must absorb recorded upstream churn via the keyed replace")
    }

    if (fams("rebase")) withRoot { root =>
      val li = Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      val dB = li.where(col("l_orderkey") < 512)
        .withColumn("l_orderkey", col("l_orderkey") + lit(30_000_000_000L))
        .localCheckpoint(true)
      val dP = li.where(col("l_orderkey") < 512)
        .withColumn("l_orderkey", col("l_orderkey") + lit(40_000_000_000L))
        .localCheckpoint(true)
      time("rebase store bootstrap") {
        SnapshotStore.append(li.where(col("l_orderkey") % 2 === 0), root + "/t")
        SnapshotStore.append(li.where(col("l_orderkey") % 2 =!= 0), root + "/t")
      }
      SnapshotStore.createBranch(root + "/t", "work")
      SnapshotStore.append(dB, SnapshotStore.branchRoot(root + "/t", "work"))
      SnapshotStore.append(dP, root + "/t")
      time("rebase + ff merge") {
        SnapshotStore.rebaseBranch(spark, root + "/t", "work")
        SnapshotStore.mergeBranch(spark, root + "/t", "work")
      }
    }

    if (fams("search")) withRoot { root =>
      val docs = Tables.documents(spark, dir)
      val idx = s"$root/idx"
      time("index bootstrap")(SearchIndex.index(spark, docs, idx))
      val upd = docs.where(col("doc_id") < 200)
        .withColumn("text", concat(col("text"), lit(" spark")))
        .localCheckpoint(true)
      time("reindex 200 docs")(
        SearchIndex.reindexEpoch(spark, upd, idx, epochId = 1L))
      // replica-0-only terms: fixed posting sets at every scale
      time("bm25 serve")(
        SearchIndex.bm25(spark, idx, Seq("data", "vector"), k = 10).count())
    }

    if (fams("quantile")) withRoot { root =>
      val series = Tables.metricSeries(spark, dir)
      val sr = series.select("metric", "e", "value")
      val src = s"$root/src"; val v = s"$root/view"
      SnapshotStore.append(sr, src)
      time("qview bootstrap")(QuantileView.refresh(spark, src, v))
      // fixed in-envelope delta (replica-0 event_id range — the same
      // absolute row set at every scale, like the other families),
      // time-shifted out to its own bucket range so the churn leg below
      // CoW-rewrites ONLY the delta's directory
      val delta = series.where(col("event_id") < 20000)
        .select("metric", "e", "value")
        .withColumn("e", col("e") + lit(10_000_000_000L))
        .localCheckpoint(true)
      SnapshotStore.append(delta, src)
      time("qview delta refresh")(QuantileView.refresh(spark, src, v))
      SnapshotStore.deleteWhere(spark, src, col("e") >= 10_000_000_000L)
      time("qview churn refresh")(QuantileView.refresh(spark, src, v))
    }

    spark.stop()
  }
}
