package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Twenty-eighth extension batch — iterative graph analytics and
  * experiment readout:
  *
  *  - PageRank (x96): the canonical iterative-join graph workload,
  *    over the customer↔supplier purchase graph. Brin & Page 1998
  *    with fixed iterations and the engine's integer determinism
  *    discipline, so the whole power iteration replays in SQL.
  *  - CUPED experiment readout (x97): Deng et al. 2013 variance
  *    reduction — pre-period covariate adjustment for an A/B metric,
  *    computed ENTIRELY from exact integer sufficient statistics
  *    (the only scale-safe way: no per-user float aggregation
  *    anywhere, so no aggregation-order sensitivity).
  */
object Extensions28 {

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- x96: PageRank ---------------------------------------------------------

  /** Integer-deterministic PageRank: ranks live in micro-units (total
    * mass ≈ 1e6·1.0); each iteration sends halfAway(r/outdeg) along
    * every edge, damps the received sum by 85/100 (half-away), and adds
    * the uniform teleport base halfAway(0.15e6/N). Fixed `iters` power
    * steps — no convergence heuristics, so the run is a pure function
    * of the edge set (integer rounding loses O(1) micro per edge of
    * mass; documented, deterministic, identical in SQL).
    *
    * GENERAL directed-graph contract (round-6 ADVICE/VERDICT fix): the
    * node set is src ∪ dst and is carried through every round — a node
    * that receives no contribution in a round keeps the teleport base
    * instead of vanishing, and SINK nodes' mass (nodes with no
    * out-edges) is redistributed uniformly each round (the standard
    * dangling-node treatment), so chains/DAGs/stars rank correctly and
    * total mass is conserved up to integer rounding. On a sink-free
    * graph where every node has in-edges (e.g. x96's bidirectional
    * purchase graph) the dangling share and the keep-base fallback are
    * exact no-ops, so results are bit-identical to the pre-fix
    * operator and the generated oracle replays unchanged.
    *
    * Scale shape: the canonical iterative join. Edges (+ precomputed
    * out-degree) are materialized ONCE; each iteration is one
    * rank⋈edges equi-join on src, one hash-agg by dst, one O(1)-row
    * dangling-mass agg (broadcast back), and one nodes⋈contrib left
    * join — every per-round table except edges is O(nodes). The edge
    * table's partitioning is reused across iterations (AQE; on a real
    * cluster, pre-bucket edges by src — [[GraphStore]] — so every
    * iteration's join is co-located). `saltBuckets > 1` routes the
    * rank⋈edges join through [[Scale.saltedJoin]] for power-law hub
    * keys: the hot src key spreads over `saltBuckets` reducers while
    * the O(nodes) rank side replicates `saltBuckets`×. Lineage is cut
    * per round (materialized) — an unbounded iterative plan is the
    * classic driver OOM at scale.
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 8, saltBuckets: Int = 1): DataFrame = {
    val e = Extensions.materialized(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val ed = Extensions.materialized(e.join(deg, Seq("src")))
    pageRankLoop(ed, iters, saltBuckets)
  }

  /** The power iteration over a prepared (src, dst, d) edge relation —
    * shared by [[pageRank]] (in-memory, materialized) and
    * [[GraphStore.pageRankFromTable]] (bucketed scan — deliberately NOT
    * re-materialized here, so the co-located bucket layout survives
    * into every round's join).
    */
  private[ops] def pageRankLoop(
      ed: DataFrame, iters: Int, saltBuckets: Int = 1): DataFrame = {
    // r15: the node table carries its STATIC is_sink/no-inflow flags from
    // birth (one left-join pass at build time) — the general loop below
    // reads is_sink straight off the rank rows instead of re-broadcasting
    // a sink table and semi-joining it every round (guide §2.4: two fewer
    // per-round jobs/exchanges on sink-bearing graphs, e.g. x211's
    // directed customer→supplier flow where EVERY supplier is a sink).
    val outSrc0 = ed.select(col("src")).distinct()
    val inDst0 = ed.select(col("dst").as("node")).distinct()
    val nodes = Extensions.materialized(
      ed.select(col("src").as("node"))
        .union(ed.select(col("dst").as("node"))).distinct()
        .join(outSrc0.select(col("src").as("node"))
          .withColumn("__has_out", lit(1)), Seq("node"), "left_outer")
        .join(inDst0.withColumn("__has_in", lit(1)), Seq("node"), "left_outer")
        .select(col("node"), col("__has_out").isNull.as("is_sink"),
          col("__has_in").isNull.as("no_in")))
    def halfAway(num: String, den: String) = s"(($num) * 2 + ($den)) DIV (2 * ($den))"
    // the sink set and the no-inflow set are STATIC properties of the
    // edge relation — detect them ONCE, not per round. Graphs with
    // neither (every node has in- and out-edges, e.g. the symmetrized
    // x96/x100 graphs) take the cheap loop: the dangling share is
    // identically 0 and every node receives a contribution, so the
    // keep-base left join and the dangling agg are exact no-ops and the
    // cheap loop is bit-identical to the general one (asserted in
    // Extensions28Spec; measured: the general loop's 2 extra per-round
    // joins cost ~35% of x96's wall time).
    // ONE stats job over the checkpointed node set replaces the former
    // three setup actions (sinks materialize + limit-count, no-inflow
    // limit-count) — r15, guide §2.4: the sink/no-inflow flags and n are
    // all answerable from a single pass, and the sink TABLE is only
    // materialized when it is actually non-empty.
    val st = nodes
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(col("is_sink"), 1L).otherwise(0L)), lit(0L))
          .as("n_sinks"),
        coalesce(sum(when(col("no_in"), 1L).otherwise(0L)), lit(0L))
          .as("n_noin"))
      .collect()(0)
    val n = st.getLong(0)
    require(n > 0, "pageRank: empty graph")
    val base = (2L * 150000L + n) / (2L * n)   // halfAway(0.15e6, N)
    val r0 = (2L * 1000000L + n) / (2L * n)    // halfAway(1e6, N)
    val hasSinks = st.getLong(1) > 0
    val hasNoInflow = st.getLong(2) > 0
    // rank_0 is a lazy projection over the checkpointed node set (the
    // former eager copy bought nothing — round 1 reads it once); the
    // general path's rank rows carry the static is_sink flag so the
    // per-round dangling mass is a flat agg over the checkpointed ranks
    var ranks: DataFrame =
      if (!hasSinks && !hasNoInflow)
        nodes.select(col("node"), lit(r0).as("r"))
      else nodes.select(col("node"), col("is_sink"), lit(r0).as("r"))
    def round(rr: DataFrame): DataFrame = {
      val renamed = rr.withColumnRenamed("node", "src")
      val joined =
        if (saltBuckets > 1)
          Scale.saltedJoin(ed, renamed, "src", saltBuckets, col("dst"))
        else ed.join(renamed, Seq("src"))
      val contrib = joined
        .select(col("dst"), expr(halfAway("r", "d")).as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
      if (!hasSinks && !hasNoInflow)
        contrib.select(col("dst").as("node"),
          (lit(base) + expr(halfAway("85 * s", "100"))).as("r"))
      else {
        // sink mass this round: a flat conditional agg over the previous
        // round's (checkpointed) ranks — the is_sink flag rides the rank
        // rows, so no sink-table broadcast or semi-join per round
        val dangling = rr
          .agg(coalesce(sum(when(col("is_sink"), col("r"))), lit(0L)).as("dg"))
        nodes.join(contrib, col("node") === col("dst"), "left_outer")
          .crossJoin(broadcast(dangling))
          .select(col("node"), col("is_sink"),
            (lit(base) + expr(halfAway(
              s"85 * (coalesce(s, 0) + ${halfAway("dg", n.toString)})", "100")))
              .as("r"))
      }
    }
    if (!hasSinks && !hasNoInflow) {
      // cheap path: TWO power steps per checkpoint — each round is a
      // pure join+agg+project, so composing a pair inside one job halves
      // the per-round job barriers without recomputing anything (r15,
      // guide §2.4; the general path below keeps one checkpoint per
      // round because its dangling-mass agg re-reads the round's input)
      var done = 0
      while (done < iters) {
        val k = math.min(2, iters - done)
        var r2 = ranks
        (1 to k).foreach(_ => r2 = round(r2))
        ranks = Extensions.materialized(r2)
        done += k
      }
    } else {
      for (_ <- 1 to iters) ranks = Extensions.materialized(round(ranks))
    }
    ranks.select(col("node"), col("r").as("rank_micro"))
  }

  /** x96: PageRank over the bidirectional customer↔supplier purchase
    * graph (an edge per distinct (customer, supplier) pair observed in
    * orders⋈lineitem, both directions — suppliers offset by 10^7 into
    * the shared node-id space). The importance ordering a marketplace
    * actually wants: who anchors the purchase network.
    */
  def x96PageRank(s: SparkSession, dir: String): DataFrame = {
    // materialized: the union reads pairs twice — without the checkpoint
    // the orders⋈lineitem join would execute once per direction
    val pairs = Extensions.materialized(table(s, dir, "orders")
      .join(table(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"),
        (col("l_suppkey") + 10000000L).as("supp"))
      .distinct())
    val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
      .unionAll(pairs.select(col("supp").as("src"), col("cust").as("dst")))
    pageRank(edges, "src", "dst")
      .select(
        when(col("node") >= 10000000L, lit("supplier")).otherwise(lit("customer"))
          .as("node_type"),
        when(col("node") >= 10000000L, col("node") - 10000000L).otherwise(col("node"))
          .as("node_id"),
        col("rank_micro"))
  }

  private val x96OracleSql: String = {
    def halfAway(num: String, den: String) = s"(($num) * 2 + ($den)) // (2 * ($den))"
    val rounds = (1 to 8).map { t =>
      s"""
    r$t AS MATERIALIZED (
      SELECT ed.dst AS node,
             b.base + ${halfAway(s"85 * CAST(sum(${halfAway("r.r", "ed.d")}) AS BIGINT)", "100")} AS r
      FROM ed JOIN r${t - 1} r ON ed.src = r.node CROSS JOIN b
      GROUP BY ed.dst, b.base)"""
    }.mkString(",")
    s"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey AS cust, l_suppkey + 10000000 AS supp
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT cust AS src, supp AS dst FROM pairs
          UNION ALL SELECT supp AS src, cust AS dst FROM pairs),
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
    ed AS MATERIALIZED (SELECT e.src, e.dst, deg.d FROM e JOIN deg USING (src)),
    nn AS (SELECT count(DISTINCT src) AS n FROM ed),
    b AS (SELECT ${halfAway("150000", "n")} AS base FROM nn),
    r0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, ${halfAway("1000000", "n")} AS r FROM ed, nn),$rounds
    SELECT CASE WHEN node >= 10000000 THEN 'supplier' ELSE 'customer' END AS node_type,
           CASE WHEN node >= 10000000 THEN node - 10000000 ELSE node END AS node_id,
           CAST(r AS BIGINT) AS rank_micro
    FROM r8
    ORDER BY node_type, node_id"""
  }

  // ---- x97: CUPED experiment readout -----------------------------------------

  /** CUPED readout over an event log: users are assigned to arms by the
    * portable md5 permille of their id (a deterministic 50/50 "expose"),
    * the metric is each user's post-period value sum, the covariate the
    * pre-period sum — both as exact integer cents. θ = pooled
    * Cov(X,Y)/Var(X); the adjusted variance uses the algebraic identity
    * Var(Y−θX) = Var(Y) − 2θCov(X,Y) + θ²Var(X), so ALL float math
    * happens on a handful of exact integer sufficient statistics
    * (n, Σx, Σy, Σx², Σy², Σxy per arm) — never a per-user float
    * aggregation whose partial-sum order could move a result. θ rounds
    * to 4dp BEFORE use (the x93 round-before-use discipline); outputs
    * round to 4dp.
    *
    * Scale: one corpus scan → per-user integer sums (hash-agg), one
    * 2-row arm agg of the sufficient statistics, float math on those 2
    * rows. The readout of a 10^9-user experiment costs one aggregation
    * pass.
    */
  def cupedReadout(
      events: DataFrame, userCol: String, tsCol: String, valueCol: String,
      splitTs: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val perUser = events
      .select(col(userCol).as("user_id"),
        (col(tsCol) < to_timestamp(lit(splitTs))).as("is_pre"), cents.as("cents"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("is_pre"), col("cents")).otherwise(0L)).as("x"),
        sum(when(!col("is_pre"), col("cents")).otherwise(0L)).as("y"))
      .withColumn("arm",
        when(pmod(graft.functions.HashFunctions.md5_bucket60(
          col("user_id").cast("string")), lit(2L)) === 0L, lit("control"))
          .otherwise(lit("treatment")))
    val stats = Extensions.materialized(perUser.groupBy(col("arm")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy")))
    // pooled θ from the summed sufficient statistics (one tiny agg)
    val pooled = stats.agg(
      sum(col("n")).as("n"), sum(col("sx")).as("sx"), sum(col("sy")).as("sy"),
      sum(col("sxx")).as("sxx"), sum(col("sxy")).as("sxy"))
    // sample cov/var from the sufficient sums. The arm-level CROSS
    // products (sx·sy, sx², sy²) are formed in DOUBLE, not BIGINT: at
    // the docstring's 10^9-user scale the sums reach ~1e13 cents and a
    // long×long product would silently wrap in non-ANSI Spark,
    // corrupting θ and both variances (round-6 ADVICE). The oracle
    // casts the same factor, so both engines run the identical IEEE
    // double expression. (The sxx/syy/sxy ACCUMULATORS stay exact
    // longs — deterministic partial-sum order — with headroom
    // ~9e18/x̄² users per arm; beyond that, widen those three sums to
    // DecimalType(38,0), the embeddingHealth discipline.) θ rounds to
    // 4dp before use.
    val thetaC = round(
      (col("sxy") - col("sx").cast("double") * col("sy") / col("n")) /
        (col("sxx") - col("sx").cast("double") * col("sx") / col("n")), 4).as("theta")
    def variance(s2: String, s1: String) =
      (col(s2) - col(s1).cast("double") * col(s1) / col("n")) / (col("n") - 1)
    stats.crossJoin(broadcast(pooled.select(thetaC)))
      .select(col("arm"), col("n").as("n_users"),
        round(col("sx") / col("n") / 100.0d, 4).as("mean_pre"),
        round(col("sy") / col("n") / 100.0d, 4).as("mean_post"),
        round(variance("syy", "sy") / 10000.0d, 4).as("var_post"),
        round((variance("syy", "sy")
          - lit(2.0d) * col("theta") * ((col("sxy") - col("sx").cast("double") * col("sy") / col("n")) / (col("n") - 1))
          + col("theta") * col("theta") * variance("sxx", "sx")) / 10000.0d, 4)
          .as("var_adj"),
        col("theta"))
  }

  /** x97: [[cupedReadout]] on the events fixture — value cents, pre/post
    * split at mid-month.
    */
  def x97CupedReadout(s: SparkSession, dir: String): DataFrame =
    cupedReadout(table(s, dir, "events"), "user_id", "ts", "value",
        "2024-01-16 00:00:00")

  private val x97OracleSql: String = """
      WITH pu AS (
        SELECT user_id,
               CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                             THEN CAST(round(value * 100.0, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                             THEN CAST(round(value * 100.0, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
               CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS arm
        FROM events GROUP BY user_id),
      st AS (SELECT arm, count(*) AS n,
                    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(x * x) AS BIGINT) AS sxx,
                    CAST(sum(y * y) AS BIGINT) AS syy,
                    CAST(sum(x * y) AS BIGINT) AS sxy
             FROM pu GROUP BY arm),
      pl AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sx,
                    CAST(sum(sy) AS BIGINT) AS sy, CAST(sum(sxx) AS BIGINT) AS sxx,
                    CAST(sum(sxy) AS BIGINT) AS sxy
             FROM st),
      th AS (SELECT round((sxy - CAST(sx AS DOUBLE) * sy / n) / (sxx - CAST(sx AS DOUBLE) * sx / n), 4) AS theta FROM pl)
      SELECT arm, n AS n_users,
             round(sx / n / 100.0, 4) AS mean_pre,
             round(sy / n / 100.0, 4) AS mean_post,
             round((syy - CAST(sy AS DOUBLE) * sy / n) / (n - 1) / 10000.0, 4) AS var_post,
             round(((syy - CAST(sy AS DOUBLE) * sy / n) / (n - 1)
                    - 2.0 * theta * ((sxy - CAST(sx AS DOUBLE) * sy / n) / (n - 1))
                    + theta * theta * ((sxx - CAST(sx AS DOUBLE) * sx / n) / (n - 1))) / 10000.0, 4) AS var_adj,
             theta
      FROM st CROSS JOIN th
      ORDER BY arm"""

  val entries: Seq[Entry] = Seq(
    Entry("x96_pagerank", x96PageRank _, x96OracleSql),
    Entry("x97_cuped", x97CupedReadout _, x97OracleSql))
}
