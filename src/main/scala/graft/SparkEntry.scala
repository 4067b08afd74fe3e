package graft

import graft.core.{ConfScope, Scratch}
import graft.operators._
import graft.sources.EdgeListReader
import graft.streaming.Replay
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator from SURVEY.md §2 (or the
  * extended LLM-pipeline surface) exercised on the `/root/testdata`
  * tables; [[oracleSql]] holds the DuckDB-equivalent SQL for the driver's
  * hash-match gate. Column names and rounding are aligned pairwise —
  * every computed column is aliased identically in both dialects.
  *
  * The graph queries run on a graph derived deterministically from the
  * relational tables (customer→supplier edges via orders⋈lineitem,
  * EdgeListReader.fromOrders) so the DuckDB oracle can reproduce them.
  */
object SparkEntry {

  private val D = 0.85 // damping (PageRankDriver.java:67-70)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full pipeline — derive graph, run PageRank to convergence, top-50.
    */
  def entry(spark: SparkSession): DataFrame = {
    // cached variant: besides the shared-scan reuse, the materialized
    // cache carries EXACT size stats, so PageRank's stats-based edge
    // partition sizing sees the true row count instead of the join's
    // multiplicative size estimate
    val edges = EdgeListReader.fromOrdersCached(spark, "/root/testdata/sf0.001")
    val res = PageRank.run(spark, edges)
    PageRank.topK(res.ranks, 50)
  }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Shared e25/e26 oracle prefix — the Euclidean Lloyd loop unrolled:
    * stride seeds (c0), two assignment+mean passes (a0/m1/c1, a1/m2/c2;
    * empty clusters keep the previous centroid via the CASE), final
    * 9-dp assignment with lowest-c_id ties (a2). Every arithmetic
    * boundary matches the engine: `list_distance` = the left-to-right
    * squared-diff fold, means rounded to 9 dp before reuse.
    */
  private val kmeansCteSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |st AS (SELECT greatest(count(*) // 8, 1) AS s FROM e),
      |c0a AS (SELECT vec_id AS c_id, v AS c FROM e
      |        WHERE vec_id % (SELECT s FROM st) = 0
      |        ORDER BY vec_id LIMIT 8),
      |c0b AS (SELECT vec_id AS c_id, v AS c FROM e
      |        WHERE vec_id NOT IN (SELECT c_id FROM c0a)
      |        ORDER BY vec_id LIMIT 8 - (SELECT count(*) FROM c0a)),
      |c0 AS (SELECT * FROM c0a UNION ALL SELECT * FROM c0b),
      |a0 AS (SELECT vec_id, c_id, v FROM (
      |  SELECT e.vec_id, c0.c_id, e.v,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_distance(e.v, c0.c), 9), c0.c_id) AS rn
      |  FROM e, c0) WHERE rn = 1),
      |m1 AS (SELECT c_id, CAST(t.i AS INT) AS dim,
      |              round(avg(v[CAST(t.i AS INT) + 1]), 9) AS mx
      |       FROM a0, unnest(range(64)) AS t(i) GROUP BY c_id, dim),
      |c1 AS (SELECT c0.c_id,
      |              CASE WHEN count(m1.mx) = 0 THEN any_value(c0.c)
      |                   ELSE list(m1.mx ORDER BY m1.dim) END AS c
      |       FROM c0 LEFT JOIN m1 USING (c_id) GROUP BY c0.c_id),
      |a1 AS (SELECT vec_id, c_id, v FROM (
      |  SELECT e.vec_id, c1.c_id, e.v,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_distance(e.v, c1.c), 9), c1.c_id) AS rn
      |  FROM e, c1) WHERE rn = 1),
      |m2 AS (SELECT c_id, CAST(t.i AS INT) AS dim,
      |              round(avg(v[CAST(t.i AS INT) + 1]), 9) AS mx
      |       FROM a1, unnest(range(64)) AS t(i) GROUP BY c_id, dim),
      |c2 AS (SELECT c1.c_id,
      |              CASE WHEN count(m2.mx) = 0 THEN any_value(c1.c)
      |                   ELSE list(m2.mx ORDER BY m2.dim) END AS c
      |       FROM c1 LEFT JOIN m2 USING (c_id) GROUP BY c1.c_id),
      |a2 AS (SELECT vec_id, c_id, v, d FROM (
      |  SELECT e.vec_id, c2.c_id, e.v,
      |    round(list_distance(e.v, c2.c), 9) AS d,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_distance(e.v, c2.c), 9), c2.c_id) AS rn
      |  FROM e, c2) WHERE rn = 1)""".stripMargin

  /** Shared e23/e24 oracle — the exact NSW trajectory unrolled: graph
    * CTE (e22's all-pairs equivalent at the gate config), entry at
    * min(src), then per hop top-beam → expand through the adjacency →
    * rescore → dedup-max fold; the self row rides the walk and leaves
    * at the final cut. e24 runs the identical search against the disk
    * round-trip of the graph.
    */
  private val nswSearchOracleSql: String = {
      val hop = (h: Int) =>
        s"""t$h AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      row_number() OVER (PARTITION BY probe_id
           |                         ORDER BY cos_sim DESC, vec_id) AS rn
           |    FROM v${h - 1}) WHERE rn <= 8),
           |x$h AS (
           |  SELECT t.probe_id, g.nbr AS vec_id
           |  FROM t$h t JOIN g ON g.src = t.vec_id),
           |s$h AS (
           |  SELECT DISTINCT x.probe_id, x.vec_id,
           |    round(list_cosine_similarity(e.v, p.pv), 6) AS cos_sim
           |  FROM x$h x
           |  JOIN e ON e.vec_id = x.vec_id
           |  JOIN p ON p.probe_id = x.probe_id),
           |v$h AS (
           |  SELECT probe_id, vec_id, max(cos_sim) AS cos_sim FROM (
           |    SELECT * FROM v${h - 1} UNION ALL SELECT * FROM s$h)
           |  GROUP BY 1, 2)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ar AS (
         |  SELECT a.vec_id AS src, b.vec_id AS nbr,
         |    round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
         |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         |g AS (
         |  SELECT src, nbr FROM (
         |    SELECT src, nbr,
         |      row_number() OVER (PARTITION BY src
         |                         ORDER BY cos_sim DESC, nbr) AS rn
         |    FROM ar) WHERE rn <= 8),
         |p AS (SELECT vec_id AS probe_id, v AS pv FROM e
         |      WHERE vec_id IN (0, 1, 2, 3, 4)),
         |ent AS (SELECT min(src) AS eid FROM g),
         |v0 AS (
         |  SELECT p.probe_id, ent.eid AS vec_id,
         |    round(list_cosine_similarity(e.v, p.pv), 6) AS cos_sim
         |  FROM p, ent
         |  JOIN e ON e.vec_id = ent.eid),
         |${hop(1)},
         |${hop(2)},
         |${hop(3)}
         |SELECT probe_id, vec_id, cos_sim FROM (
         |  SELECT probe_id, vec_id, cos_sim,
         |    row_number() OVER (PARTITION BY probe_id
         |                       ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM v3 WHERE vec_id <> probe_id) WHERE rn <= 10""".stripMargin

  }

  /** The ONE oracle both q38 variants hash-lock to: skew handling is a
    * runtime re-plan and must never change the answer.
    */
  private val skewJoinOracleSql: String =
    """WITH l AS (
      |  SELECT CASE WHEN event_id % 2 = 0 THEN 0
      |           ELSE event_id % 997 END AS jk, value + i AS value
      |  FROM events, unnest(range(64)) AS rep(i)),
      |r AS (
      |  SELECT event_id % 997 AS jk, count(*) AS r_n
      |  FROM events GROUP BY 1)
      |SELECT jk % 16 AS bucket, count(*) AS n_rows,
      |  CAST(sum(r_n) AS BIGINT) AS sum_rn,
      |  round(sum(value), 2) AS sum_value
      |FROM l JOIN r USING (jk)
      |GROUP BY 1""".stripMargin

  /** q38: a deliberately hub-skewed fact-fact equi-join, run with AQE
    * skew handling ON vs OFF — the g18 salting experiment applied to
    * relational joins (the reference's own skew analysis,
    * README.md:410-416, is the anchor: a power-law key distribution
    * concentrates one reducer's work). Half the probe side's rows share
    * join key 0 (a 64× row-multiplied events copy, so the hub partition
    * dwarfs the median); the other side is one pre-aggregated row per
    * key, forced OFF the broadcast path (threshold −1) the way real
    * fact-fact sides are too big to broadcast. With skew handling ON,
    * AQE splits the oversized partition at runtime (thresholds tuned to
    * gate scale, the q34 size-tuning discipline; the spec asserts
    * `skew=true` in the final adaptive plan); OFF, one task drags the
    * stage — the bench carries the measured pair. Result is
    * OPTIMIZATION-INDEPENDENT and both rows hash-lock to the same
    * oracle: count + exact integer sum + one rounded float sum per
    * bucket.
    */
  private def skewJoin(
      s: SparkSession, dir: String, skewOn: Boolean): DataFrame = {
    // thresholds sized to the ×64 bench fixture (r11 rescale: at the
    // old ×16 both twins finished in ~1 s and the pair demonstrated
    // nothing — the g18 fixture-growth treatment applied here): the
    // hub partition carries ~32 MB at sf0.1, the 997 non-hub keys
    // ~100 KB each, so 1m splits exactly the hub and the measured
    // idle ratio is ≥ 2× (see BENCH_DETAIL skew_noaqe_sec /
    // skew_aqe_sec)
    ConfScope(s,
      "spark.sql.adaptive.skewJoin.enabled" -> skewOn.toString,
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> skewOn.toString,
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val ev = t(s, dir, "events")
      // probe side: ×64 row multiplier, half of all rows remapped to hub
      // key 0 — the deterministic power-law stand-in. Each replica gets
      // a DISTINCT value (value + rep): byte-identical replicas would
      // LZ4-compress ~256× in the shuffle and the "skewed" partition
      // would be tiny on disk — real skewed facts are not copies of one
      // row, and AQE's skew detection reads compressed bytes
      // repartition BEFORE the explode: the gate fixture is one small
      // parquet file = ONE map task, and AQE splits a skewed reducer
      // partition by MAP RANGES — with a single mapper there is nothing
      // to split. A 100 TB fact scan has thousands of mappers; 32 here
      // models that topology (and costs one exchange of the tiny
      // pre-explode frame).
      val left = ev.repartition(32).select(
          when(pmod(col("event_id"), lit(2)) === 0, lit(0L))
            .otherwise(pmod(col("event_id"), lit(997))).as("jk"),
          col("value"),
          explode(sequence(lit(0), lit(63))).as("rep"))
        .select(col("jk"), (col("value") + col("rep")).as("value"))
      // materialized: OptimizeSkewedJoin pattern-matches
      // SMJ(Sort(stage), Sort(stage)) — an aggregate living between the
      // join and its shuffle stage hides the stage from the rule; the
      // checkpoint (997 rows) makes the right child a clean scan →
      // exchange → sort
      val right = ev
        .groupBy(pmod(col("event_id"), lit(997)).as("jk"))
        .agg(count(lit(1)).as("r_n"))
        .localCheckpoint()
      // sealAfter materializes INSIDE the conf scope — a lazy return
      // would execute after the scope restored the session
      graft.operators.CacheScope.sealAfter(
        left.join(right, Seq("jk"))
          .groupBy(pmod(col("jk"), lit(16)).as("bucket"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("r_n")).as("sum_rn"),
            round(sum(col("value")), 2).as("sum_value")))
    }
  }

  /** Shared SQL prefix for the graph oracles (DuckDB CTEs mirroring
    * EdgeListReader.fromOrders + GraphBuilder).
    */
  // AS MATERIALIZED: each CTE is referenced several times per iteration;
  // without it DuckDB inlines the chain and the k-iteration PageRank
  // oracle blows up exponentially (2^k scans of the base tables)
  private val graphCtes: String =
    s"""edges AS MATERIALIZED (${EdgeListReader.fromOrdersSql}),
       |verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
       |deg AS MATERIALIZED (SELECT v.id, coalesce(d.outdeg, 0) AS outdeg FROM verts v LEFT JOIN (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY 1) d USING (id))""".stripMargin

  /** Unrolled fixed-k PageRank as pure ANSI SQL CTE chain (Q5 oracle):
    * r0 = 1/N init; each step applies the exact reference formula with
    * the lagged dangling sum (SURVEY.md §2.3).
    */
  private def pageRankSql(k: Int, select: String): String =
    pageRankSqlOver(graphCtes, k, select)

  /** [[pageRankSql]] over an arbitrary graph-CTE block defining
    * `edges/verts/nn/deg` — the same unrolled reference recurrence,
    * reusable for the portable fixtures (p3).
    */
  private def pageRankSqlOver(ctes: String, k: Int, select: String): String = {
    val sb = new StringBuilder
    sb.append("WITH ").append(ctes).append(",\n")
    sb.append(
      "r0 AS MATERIALIZED (SELECT id, outdeg, 1.0/(SELECT n FROM nn) AS rank FROM deg)")
    for (i <- 0 until k) {
      sb.append(s""",
        |d$i AS MATERIALIZED (SELECT coalesce(sum(rank), 0.0) AS ds FROM r$i WHERE outdeg = 0),
        |r${i + 1} AS MATERIALIZED (
        |  SELECT s.id, s.outdeg,
        |         (1 - $D)/(SELECT n FROM nn)
        |       + $D*(SELECT ds FROM d$i)/(SELECT n FROM nn)
        |       + $D*coalesce(c.contrib, 0.0) AS rank
        |  FROM r$i s
        |  LEFT JOIN (SELECT e.dst AS id, sum(r.rank/r.outdeg) AS contrib
        |             FROM edges e JOIN r$i r ON e.src = r.id GROUP BY 1) c
        |  USING (id))""".stripMargin)
    }
    sb.append(s"\n$select").toString
  }

  /** DuckDB's native ASOF LEFT JOIN is the semantic spec the engine's
    * union+window rewrite (q15) AND the streaming stateful form (st24)
    * must reproduce exactly (inclusive >=; min-event_id quote dedup).
    */
  private val asofOracleSql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts) AS p_us, event_id AS p_id
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, epoch_us(ts) AS c_us, min(event_id) AS c_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.user_id, p.p_us, p.p_id,
      |  coalesce(c.c_id, -1) AS c_id, coalesce(c.c_us, -1) AS c_us
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND p.p_us >= c.c_us""".stripMargin

  /** One unrolled reference-recurrence iteration (the [[pageRankSqlOver]]
    * body, factored so the warm-start oracle can run the SAME rule over
    * two graphs): reads `$p$i`, emits `${p}d$i` (lagged dangling) and
    * `$p${i + 1}`. `edges`/`nn` name the graph the iteration runs on.
    */
  private def prIterSql(p: String, edges: String, nn: String, i: Int): String =
    s""",
       |${p}d$i AS MATERIALIZED (SELECT coalesce(sum(rank), 0.0) AS ds FROM $p$i WHERE outdeg = 0),
       |$p${i + 1} AS MATERIALIZED (
       |  SELECT s.id, s.outdeg,
       |         (1 - $D)/(SELECT n FROM $nn)
       |       + $D*(SELECT ds FROM ${p}d$i)/(SELECT n FROM $nn)
       |       + $D*coalesce(c.contrib, 0.0) AS rank
       |  FROM $p$i s
       |  LEFT JOIN (SELECT e.dst AS id, sum(r.rank/r.outdeg) AS contrib
       |             FROM $edges e JOIN $p$i r ON e.src = r.id GROUP BY 1) c
       |  USING (id))""".stripMargin

  /** WARM-START PageRank oracle (g56): `kOld` cold iterations over the
    * OLD graph (the full orders graph minus the `deltaPred` edges), the
    * resulting ranks seeded onto the NEW (full) graph — absent vertices
    * at 1/N, the vector renormalized to mass 1 — then `kWarm` iterations
    * of the identical reference recurrence with the initial dangling
    * scan over the seeded state. Replays [[graft.operators.PageRank]]'s
    * warm path decision for decision.
    */
  private def pageRankWarmSql(
      kOld: Int, kWarm: Int, deltaPred: String, select: String): String = {
    val sb = new StringBuilder
    sb.append("WITH ").append(graphCtes).append(",\n")
    // the OLD graph: same vertex-closure/degree build over the retained
    // edge subset
    sb.append(
      s"""oedges AS MATERIALIZED (SELECT src, dst FROM edges WHERE $deltaPred),
         |overts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM oedges UNION ALL SELECT dst FROM oedges)),
         |onn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM overts),
         |odeg AS MATERIALIZED (SELECT v.id, coalesce(d.outdeg, 0) AS outdeg FROM overts v LEFT JOIN (SELECT src AS id, count(*) AS outdeg FROM oedges GROUP BY 1) d USING (id)),
         |o0 AS MATERIALIZED (SELECT id, outdeg, 1.0/(SELECT n FROM onn) AS rank FROM odeg)""".stripMargin)
    for (i <- 0 until kOld) sb.append(prIterSql("o", "oedges", "onn", i))
    // warm seed onto the NEW graph: absent ids at 1/N, renormalize to 1
    sb.append(
      s""",
         |s0 AS MATERIALIZED (
         |  SELECT d.id, d.outdeg,
         |         coalesce(o.rank, 1.0/(SELECT n FROM nn)) AS rank
         |  FROM deg d LEFT JOIN o$kOld o USING (id)),
         |sm AS MATERIALIZED (SELECT sum(rank) AS m FROM s0),
         |r0 AS MATERIALIZED (SELECT id, outdeg, rank/(SELECT m FROM sm) AS rank FROM s0)""".stripMargin)
    for (i <- 0 until kWarm) sb.append(prIterSql("r", "edges", "nn", i))
    sb.append(s"\n$select").toString
  }

  /** Unrolled fixed-k WEIGHTED PageRank (g21 oracle): identical chain to
    * [[pageRankSql]] with the weighted graph (lineitem co-occurrence
    * count), out-WEIGHT sums for outdeg, and contributions
    * `rank·w/outdeg` — the NetworkX weighted semantics the engine
    * implements.
    */
  private def weightedPageRankSql(k: Int, select: String): String =
    weightedPageRankSqlOver(EdgeListReader.fromOrdersWeightedSql, k, select)

  /** [[weightedPageRankSql]] over an arbitrary `(src, dst, w)` edges
    * SQL — the same unrolled weighted loop serves any weighted graph
    * (g21's relational co-occurrence, d58's TextRank word graph).
    */
  private def weightedPageRankSqlOver(
      edgesSql: String, k: Int, select: String): String = {
    val ctes =
      s"""edges AS MATERIALIZED ($edgesSql),
         |verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
         |deg AS MATERIALIZED (SELECT v.id, coalesce(d.outdeg, 0.0) AS outdeg FROM verts v LEFT JOIN (SELECT src AS id, sum(w) AS outdeg FROM edges GROUP BY 1) d USING (id))""".stripMargin
    val sb = new StringBuilder
    sb.append("WITH ").append(ctes).append(",\n")
    sb.append(
      "r0 AS MATERIALIZED (SELECT id, outdeg, 1.0/(SELECT n FROM nn) AS rank FROM deg)")
    for (i <- 0 until k) {
      sb.append(s""",
        |d$i AS MATERIALIZED (SELECT coalesce(sum(rank), 0.0) AS ds FROM r$i WHERE outdeg = 0),
        |r${i + 1} AS MATERIALIZED (
        |  SELECT s.id, s.outdeg,
        |         (1 - $D)/(SELECT n FROM nn)
        |       + $D*(SELECT ds FROM d$i)/(SELECT n FROM nn)
        |       + $D*coalesce(c.contrib, 0.0) AS rank
        |  FROM r$i s
        |  LEFT JOIN (SELECT e.dst AS id, sum(r.rank*e.w/r.outdeg) AS contrib
        |             FROM edges e JOIN r$i r ON e.src = r.id GROUP BY 1) c
        |  USING (id))""".stripMargin)
    }
    sb.append(s"\n$select").toString
  }

  /** Unrolled synchronous label propagation (g22 oracle): k fixed
    * iterations of most-frequent-neighbor-label with smallest-label
    * tie-break (row_number ORDER BY cnt DESC, lbl ASC ≡ the engine's
    * max_by((cnt, -lbl)) argmax), isolated vertices keep their label.
    */
  private def lpaSql(k: Int): String =
    lpaSqlOver(portableGraphSql(400, 1200, "g22"), k)

  /** Unrolled LPA over the PLANTED 2-block fixture (g22b oracle): the
    * converged run's result is a fixpoint of the deterministic
    * synchronous update, so unrolling any `k` ≥ the convergence depth
    * (10 on this fixture) reproduces it exactly — the oracle does not
    * need to know where the engine stopped.
    */
  private def lpaBlocksSql(k: Int): String =
    lpaSqlOver(portableBlocksSql(200, 600, "g22b"), k)

  private def lpaSqlOver(
      peCte: String, k: Int, finalSql: String = null): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH $peCte,
         |edges AS MATERIALIZED (SELECT src, dst FROM pe),
         |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM edges WHERE src <> dst),
         |und AS MATERIALIZED (SELECT u AS vtx, v AS nbr FROM ue UNION ALL SELECT v, u FROM ue),
         |verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
         |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM verts)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |c$i AS MATERIALIZED (
        |  SELECT d.vtx, l.lbl, count(*) AS cnt
        |  FROM und d JOIN l${i - 1} l ON d.nbr = l.id GROUP BY 1, 2),
        |a$i AS MATERIALIZED (
        |  SELECT vtx, lbl FROM (
        |    SELECT vtx, lbl, row_number() OVER (PARTITION BY vtx
        |      ORDER BY cnt DESC, lbl ASC) AS rn FROM c$i)
        |  WHERE rn = 1),
        |l$i AS MATERIALIZED (
        |  SELECT v.id, coalesce(a.lbl, v.id) AS lbl
        |  FROM verts v LEFT JOIN a$i a ON a.vtx = v.id)""".stripMargin)
    }
    sb.append(
      if (finalSql == null) s"\nSELECT id, lbl FROM l$k" else finalSql)
      .toString
  }

  /** Oracle for g35: the g22 LPA chain run to the same k, then Newman
    * modularity from EXACT integer sufficient sums (intra-edge count and
    * Σ_c D_c² — the g29 closed-form discipline; the one double division
    * happens once, rounded at 9).
    */
  private def modularitySql(k: Int): String =
    lpaSqlOver(
      portableGraphSql(400, 1200, "g22"), k,
      s""",
         |me AS MATERIALIZED (
         |  SELECT count(*) AS m_edges,
         |    CAST(sum(CASE WHEN a.lbl = b.lbl THEN 1 ELSE 0 END) AS BIGINT)
         |      AS intra_edges
         |  FROM ue e JOIN l$k a ON a.id = e.u JOIN l$k b ON b.id = e.v),
         |dc AS MATERIALIZED (
         |  SELECT l.lbl, count(*) AS dc
         |  FROM (SELECT u AS id FROM ue UNION ALL SELECT v FROM ue) x
         |  JOIN l$k l ON l.id = x.id GROUP BY 1),
         |ds AS (SELECT count(*) AS n_comms,
         |       CAST(sum(dc*dc) AS BIGINT) AS sum_deg_sq FROM dc)
         |SELECT ds.n_comms, me.m_edges, me.intra_edges, ds.sum_deg_sq,
         |  round(CAST(me.intra_edges AS DOUBLE)/me.m_edges
         |      - CAST(ds.sum_deg_sq AS DOUBLE)/(4.0*me.m_edges*me.m_edges), 9)
         |    AS q_r
         |FROM me, ds""".stripMargin)

  /** Unrolled synchronous LOUVAIN gain-move rounds (g52/g52b oracle) —
    * the [[graft.operators.Louvain]] trajectory replayed decision for
    * decision. Assumes a CTE `we$l(u, v, w)` (canonical weighted
    * undirected edges, `u = v` rows = self-loops) is already defined;
    * emits `kv$l/mm$l/adj$l/l${l}_0..l${l}_$k`. Every decision value is
    * the exact integer `2m·(k_vb − k_va) − k_v·(D_b − D_a + k_v)`;
    * round i activates `vtx % 2 = i % 2` (red-black alternation) and
    * applies the singleton-swap minimum-label guard — both mirrored
    * from the engine, so the argmax (`row_number` ORDER BY gain DESC,
    * clbl ASC ≡ the engine's max_by((gain, -clbl))) reproduces every
    * move.
    */
  /** 16-bit Morton interleave as engine-portable SQL — the exact
    * algebra of [[graft.operators.Layout.zValue16]] (bit i of x at
    * position 2i, of y at 2i+1), so DuckDB replays the io23 layout
    * decision term for term.
    */
  private def zMortonSql(x: String, y: String): String =
    (0 until 16).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + " +
        s"((($y >> $i) & 1) << ${2 * i + 1})").mkString(" + ")

  private def louvainRoundsSql(
      l: String, k: Int, init: Option[String] = None): String = {
    val sb = new StringBuilder
    sb.append(
      s"""kv$l AS MATERIALIZED (
         |  SELECT id, CAST(sum(kw) AS BIGINT) AS kv FROM (
         |    SELECT u AS id, CASE WHEN u = v THEN 2*w ELSE w END AS kw FROM we$l
         |    UNION ALL SELECT v, w FROM we$l WHERE u <> v)
         |  GROUP BY id),
         |mm$l AS MATERIALIZED (SELECT CAST(sum(w) AS BIGINT) AS m FROM we$l),
         |adj$l AS MATERIALIZED (
         |  SELECT u AS vtx, v AS nbr, w FROM we$l WHERE u <> v
         |  UNION ALL SELECT v, u, w FROM we$l WHERE u <> v),
         |l${l}_0 AS MATERIALIZED (${init.getOrElse(
        s"SELECT id, id AS lbl FROM kv$l")})""".stripMargin)
    for (i <- 1 to k) {
      val p = i % 2
      sb.append(s""",
        |dc${l}_$i AS MATERIALIZED (
        |  SELECT lbl, CAST(sum(kv) AS BIGINT) AS dc, count(*) AS csize
        |  FROM l${l}_${i - 1} JOIN kv$l USING (id) GROUP BY lbl),
        |cn${l}_$i AS MATERIALIZED (
        |  SELECT a.vtx, x.lbl AS clbl, CAST(sum(a.w) AS BIGINT) AS kvc
        |  FROM adj$l a JOIN l${l}_${i - 1} x ON x.id = a.nbr GROUP BY 1, 2),
        |own${l}_$i AS MATERIALIZED (
        |  SELECT t.id, t.lbl, coalesce(c.kvc, 0) AS kva
        |  FROM l${l}_${i - 1} t
        |  LEFT JOIN cn${l}_$i c ON c.vtx = t.id AND c.clbl = t.lbl),
        |mv${l}_$i AS MATERIALIZED (
        |  SELECT vtx, clbl FROM (
        |    SELECT c.vtx, c.clbl,
        |      2*(SELECT m FROM mm$l)*(c.kvc - o.kva)
        |        - k.kv*(db.dc - da.dc + k.kv) AS gain,
        |      row_number() OVER (PARTITION BY c.vtx
        |        ORDER BY 2*(SELECT m FROM mm$l)*(c.kvc - o.kva)
        |          - k.kv*(db.dc - da.dc + k.kv) DESC, c.clbl ASC) AS rn
        |    FROM cn${l}_$i c
        |    JOIN own${l}_$i o ON o.id = c.vtx
        |    JOIN kv$l k ON k.id = c.vtx
        |    JOIN dc${l}_$i db ON db.lbl = c.clbl
        |    JOIN dc${l}_$i da ON da.lbl = o.lbl
        |    WHERE c.clbl <> o.lbl AND c.vtx % 2 = $p
        |      AND NOT (da.csize = 1 AND db.csize = 1 AND c.clbl > o.lbl))
        |  WHERE rn = 1 AND gain > 0),
        |l${l}_$i AS MATERIALIZED (
        |  SELECT t.id, coalesce(m.clbl, t.lbl) AS lbl
        |  FROM l${l}_${i - 1} t LEFT JOIN mv${l}_$i m ON m.vtx = t.id)""".stripMargin)
    }
    sb.toString
  }

  /** Generic L-level fixed-unroll Louvain oracle (the g52c lock):
    * level i runs [[louvainRoundsSql]]'s `rounds` gain rounds on we{i},
    * we{i+1} contracts by level i's final labels, and the projection
    * chain folds every level's labels back to the original vertices.
    * Equals the engine's SELF-STOPPED [[graft.operators.Louvain
    * .multilevelConverged]] run at the same per-level budget for any
    * `levels` ≥ the observed stop level: capped levels run exactly
    * `rounds` in both, stabilized levels no-op their tail rounds
    * (fixpoint), post-stop levels replay identity (see the engine
    * Scaladoc's oracle contract). Caller supplies the graph CTEs
    * ending in `ue(u, v)`; the first weighted graph is all-1 weights.
    */
  private def louvainMultilevelSql(levels: Int, rounds: Int): String = {
    require(levels >= 1 && levels <= 26)
    val names = (0 until levels).map(i => ('A' + i).toChar.toString)
    val sb = new StringBuilder
    sb ++=
      s"""weA AS MATERIALIZED (
         |  SELECT u, v, CAST(1 AS BIGINT) AS w FROM ue),
         |""".stripMargin
    sb ++= louvainRoundsSql("A", rounds)
    for (i <- 1 until levels) {
      val p = names(i - 1)
      val c = names(i)
      sb ++= s""",
        |we$c AS MATERIALIZED (
        |  SELECT least(a.lbl, b.lbl) AS u, greatest(a.lbl, b.lbl) AS v,
        |    CAST(sum(w.w) AS BIGINT) AS w
        |  FROM we$p w JOIN l${p}_$rounds a ON a.id = w.u
        |  JOIN l${p}_$rounds b ON b.id = w.v
        |  GROUP BY 1, 2),
        |""".stripMargin
      sb ++= louvainRoundsSql(c, rounds)
    }
    // projection chain back to the fine vertices
    var mapping = s"lA_$rounds"
    for (i <- 1 until levels) {
      val c = names(i)
      val next = s"proj$c"
      sb ++= s""",
        |$next AS MATERIALIZED (
        |  SELECT p.id, c.lbl FROM $mapping p
        |  JOIN l${c}_$rounds c ON c.id = p.lbl)""".stripMargin
      mapping = next
    }
    sb ++= louvainFinalSql(mapping)
    sb.toString
  }

  /** WARM L-level fixed-unroll Louvain oracle (the g58c lock —
    * [[louvainMultilevelSql]] with level A seeded): level A runs
    * `rounds` gain rounds from `init` instead of singletons, the
    * contracted levels run cold, and the projection chain folds back.
    * Equals the engine's self-stopped `multilevelConvergedWarm` at the
    * same per-level budget for any `levels` ≥ the observed stop depth,
    * by the same no-op-tail argument as the cold ladder (stabilized
    * levels replay their tail rounds as fixpoints, post-stop levels
    * replay identity). Caller supplies CTEs ending in `ue(u, v)` and
    * the init SELECT (over `kvA` ∪ the prior labels).
    */
  private def louvainMultilevelWarmSql(
      levels: Int, rounds: Int, init: String): String = {
    require(levels >= 1 && levels <= 26)
    val names = (0 until levels).map(i => ('A' + i).toChar.toString)
    val sb = new StringBuilder
    sb ++=
      s"""weA AS MATERIALIZED (
         |  SELECT u, v, CAST(1 AS BIGINT) AS w FROM ue),
         |""".stripMargin
    sb ++= louvainRoundsSql("A", rounds, init = Some(init))
    for (i <- 1 until levels) {
      val p = names(i - 1)
      val c = names(i)
      sb ++= s""",
        |we$c AS MATERIALIZED (
        |  SELECT least(a.lbl, b.lbl) AS u, greatest(a.lbl, b.lbl) AS v,
        |    CAST(sum(w.w) AS BIGINT) AS w
        |  FROM we$p w JOIN l${p}_$rounds a ON a.id = w.u
        |  JOIN l${p}_$rounds b ON b.id = w.v
        |  GROUP BY 1, 2),
        |""".stripMargin
      sb ++= louvainRoundsSql(c, rounds)
    }
    var mapping = s"lA_$rounds"
    for (i <- 1 until levels) {
      val c = names(i)
      val next = s"proj$c"
      sb ++= s""",
        |$next AS MATERIALIZED (
        |  SELECT p.id, c.lbl FROM $mapping p
        |  JOIN l${c}_$rounds c ON c.id = p.lbl)""".stripMargin
      mapping = next
    }
    sb ++= louvainFinalSql(
      mapping, s", CAST($levels AS BIGINT) AS levels_run")
    sb.toString
  }

  /** Shared modularity tail for the Louvain oracles: Newman Q of the
    * labels in CTE `labCte` over the original graph's `ue`, emitted as
    * `n_comms, q_r` columns on every label row (mirrors the engine's
    * crossJoin of the 1-row modularity frame). `extraCols` appends
    * literal columns (e.g. the converged ladder's depth lock).
    */
  private def louvainFinalSql(
      labCte: String, extraCols: String = ""): String =
    s""",
       |qme AS MATERIALIZED (
       |  SELECT count(*) AS m_edges,
       |    CAST(sum(CASE WHEN a.lbl = b.lbl THEN 1 ELSE 0 END) AS BIGINT)
       |      AS intra_edges
       |  FROM ue e JOIN $labCte a ON a.id = e.u JOIN $labCte b ON b.id = e.v),
       |qdc AS MATERIALIZED (
       |  SELECT l.lbl, count(*) AS dcc
       |  FROM (SELECT u AS id FROM ue UNION ALL SELECT v FROM ue) x
       |  JOIN $labCte l ON l.id = x.id GROUP BY 1),
       |qds AS (SELECT count(*) AS n_comms,
       |        CAST(sum(dcc*dcc) AS BIGINT) AS sum_deg_sq FROM qdc)
       |SELECT t.id, t.lbl, qds.n_comms,
       |  round(CAST(qme.intra_edges AS DOUBLE)/qme.m_edges
       |      - CAST(qds.sum_deg_sq AS DOUBLE)/(4.0*qme.m_edges*qme.m_edges), 9)
       |    AS q_r$extraCols
       |FROM $labCte t, qme, qds""".stripMargin

  /** Unrolled CORENESS recurrence (g53 oracle): c_0 = degree, then k
    * rounds of the neighbor h-index — per round a per-vtx rank of
    * neighbor values (value desc) and `max(least(rank, value))`,
    * mirroring [[graft.operators.GraphBuilder.corenessRounds]]. The
    * converged engine run equals the unroll for any k ≥ the stop
    * depth (monotone non-increasing recurrence — the g22b argument).
    */
  private def corenessSql(
      nV: Long, nE: Long, salt: String, k: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${portableGraphSql(nV, nE, salt)},\n"
    sb ++=
      s"""ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM pe WHERE src <> dst),
         |adj AS MATERIALIZED (SELECT u AS vtx, v AS nbr FROM ue
         |  UNION ALL SELECT v, u FROM ue),
         |verts AS MATERIALIZED (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM pe UNION ALL SELECT dst FROM pe)),
         |c0 AS MATERIALIZED (
         |  SELECT v.id, CAST(coalesce(d.dd, 0) AS BIGINT) AS val
         |  FROM verts v LEFT JOIN
         |    (SELECT vtx, count(*) AS dd FROM adj GROUP BY 1) d
         |    ON d.vtx = v.id)""".stripMargin
    for (i <- 1 to k) {
      sb ++= s""",
        |h$i AS MATERIALIZED (
        |  SELECT vtx, max(least(rn, nval)) AS hval FROM (
        |    SELECT a.vtx, c.val AS nval,
        |      row_number() OVER (PARTITION BY a.vtx
        |        ORDER BY c.val DESC, a.nbr) AS rn
        |    FROM adj a JOIN c${i - 1} c ON c.id = a.nbr)
        |  GROUP BY vtx),
        |c$i AS MATERIALIZED (
        |  SELECT v.id, CAST(coalesce(h.hval, 0) AS BIGINT) AS val
        |  FROM verts v LEFT JOIN h$i h ON h.vtx = v.id)""".stripMargin
    }
    sb ++= s"\nSELECT id, val AS coreness FROM c$k"
    sb.toString
  }

  /** The d55 sentencize + structure-aware-chunk chain as a reusable
    * CTE block rooted at relation `from` (must expose `doc_id, text`),
    * ending in `ch(doc_id, chunk_id, n_segments, n_tokens, body,
    * last_seg)`; [[chunkFinalSql]] is the shared final projection with
    * the overlap prefix. Shared by the d55 oracle and the p9 journey
    * oracle so the two locks cannot drift (budget 48, the ':d55'
    * sentencizer salt — matching [[sentencized]] exactly).
    */
  private def sentencizeChunkCtes(from: String): String =
    s"""stk AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
       |  FROM $from WHERE length(trim(text)) > 0),
       |st AS (
       |  SELECT doc_id, array_to_string(list_transform(range(len(tk)), i ->
       |    concat(tk[i+1],
       |      CASE WHEN CAST(concat('0x', substr(md5(concat(
       |        CAST(doc_id AS VARCHAR), ':', CAST(i AS VARCHAR), ':d55')),
       |        1, 4)) AS BIGINT) % 4 = 0 THEN '.' ELSE '' END)), ' ')
       |    AS text
       |  FROM stk),
       |sa AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '[.!?]\\s+') AS sa
       |  FROM st),
       |sg0 AS (
       |  SELECT doc_id, sa, unnest(range(len(sa))) AS i FROM sa),
       |sg AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS seg_idx, trim(sa[i+1]) AS seg
       |  FROM sg0 WHERE length(trim(sa[i+1])) > 0),
       |sgt AS (
       |  SELECT doc_id, seg_idx, seg,
       |    CAST(len(regexp_split_to_array(seg, '\\s+')) AS BIGINT) AS t
       |  FROM sg),
       |asg AS (
       |  SELECT doc_id, seg_idx, seg, t,
       |    CAST(floor(coalesce(sum(t) OVER (PARTITION BY doc_id
       |      ORDER BY seg_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 48.0)
       |      AS BIGINT) AS chunk_id
       |  FROM sgt),
       |ch AS (
       |  SELECT doc_id, chunk_id,
       |    CAST(count(*) AS BIGINT) AS n_segments,
       |    CAST(sum(t) AS BIGINT) AS n_tokens,
       |    string_agg(seg, ' ' ORDER BY seg_idx) AS body,
       |    arg_max(seg, seg_idx) AS last_seg
       |  FROM asg GROUP BY 1, 2)""".stripMargin

  private val chunkFinalSql: String =
    // overlap by chunk ORDER (lag), not id−1: oversized segments make
    // chunk ids skip integers and the prefix must survive the gap —
    // mirrors the engine's lag window exactly. (No line here may start
    // with '|': p9 embeds this text inside a second stripMargin.)
    """
      |SELECT doc_id, chunk_id, n_segments, n_tokens,
      |  CASE WHEN lag(last_seg) OVER w IS NOT NULL
      |       THEN lag(last_seg) OVER w || ' ' || body
      |       ELSE body END AS chunk_text
      |FROM ch WINDOW w AS (PARTITION BY doc_id ORDER BY chunk_id)""".stripMargin

  /** The m5 perceptual-near-dup chain as a reusable CTE block ending in
    * `m5pairs(id_a, id_b, ham)` — shared by the m5 oracle and the p10
    * media-ingest journey oracle so the two locks cannot drift: every
    * signature bit regenerated from the text bytes (ASCII fixture:
    * codepoints ≡ payload bytes, the m2 caveat), the same 2×8-bit
    * banded candidate set, the same popcount-≤1 cut.
    */
  private val m5PairCtes: String =
    """cp AS (
      |  SELECT doc_id, length(text) AS n,
      |    list_transform(split(text, ''), x -> unicode(x)) AS cps
      |  FROM documents),
      |blocks AS (
      |  SELECT c.doc_id, CAST(t.i AS INT) AS i,
      |    CAST(t.i * c.n // 16 AS INT) AS lo,
      |    CAST((t.i + 1) * c.n // 16 AS INT) AS hi,
      |    c.n, c.cps
      |  FROM cp c, unnest(range(16)) AS t(i)
      |  WHERE c.n > 0),
      |bits AS (
      |  SELECT doc_id,
      |    CASE WHEN hi > lo AND
      |        list_sum(cps[lo+1:hi]) * n > list_sum(cps) * (hi - lo)
      |      THEN (1 << i) ELSE 0 END AS bit
      |  FROM blocks),
      |sg0 AS (SELECT doc_id, CAST(sum(bit) AS INT) AS sig
      |        FROM bits GROUP BY 1),
      |sg AS (
      |  SELECT c.doc_id, coalesce(s.sig, 0) AS sig
      |  FROM cp c LEFT JOIN sg0 s USING (doc_id)),
      |cand AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.sig AS sa, b.sig AS sb
      |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id
      |    AND ((a.sig % 256) = (b.sig % 256)
      |      OR (a.sig // 256) = (b.sig // 256))),
      |m5pairs AS (
      |  SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS ham
      |  FROM cand WHERE bit_count(xor(sa, sb)) <= 1)""".stripMargin

  /** The m6 interleaved-packing chain as a reusable CTE block rooted at
    * relation `from` (must expose `doc_id, source, text`), ending in
    * `packed(source, seq_id, n_docs, text_tokens, n_images,
    * total_tokens)` — shared by the m6 oracle and the p10 journey
    * oracle: the 20-bit md5(doc:salt) image-count draw mod 4, per-doc
    * cost text_tokens + 576·n_images, the per-source cumulative stride
    * cut at 2048.
    */
  private def interleavePackCtes(from: String, salt: String): String =
    s"""ipc AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
      |      AS text_tokens,
      |    CAST(concat('0x',
      |      substr(md5(concat(CAST(doc_id AS VARCHAR), ':$salt')), 1, 5))
      |      AS BIGINT) % 4 AS n_images
      |  FROM $from),
      |ipi AS (
      |  SELECT *, text_tokens + 576 * n_images AS item_tokens FROM ipc),
      |ipo AS (
      |  SELECT *,
      |    sum(item_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - item_tokens AS start_offset
      |  FROM ipi),
      |packed AS (
      |  SELECT source,
      |    CAST(floor(start_offset / 2048.0) AS BIGINT) AS seq_id,
      |    count(*) AS n_docs,
      |    CAST(sum(text_tokens) AS BIGINT) AS text_tokens,
      |    CAST(sum(n_images) AS BIGINT) AS n_images,
      |    CAST(sum(item_tokens) AS BIGINT) AS total_tokens
      |  FROM ipo GROUP BY 1, 2)""".stripMargin

  /** The deterministic SENTENCIZER fixture shared by d55 and p9 (the
    * synthetic corpus has no punctuation): a period lands after token
    * i whenever a 16-bit md5(doc:i:d55) digest ≡ 0 mod 4 — the d38
    * augmented-fixture discipline; both oracles regenerate the
    * identical text. Blank docs are dropped (nothing to sentencize).
    */
  private def sentencized(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tk = split(trim(col("text")), "\\s+")
    val flagged = transform(tk, (x, i) =>
      concat(x,
        when(
          pmod(
            conv(
              substring(
                md5(concat(
                  col("doc_id").cast("string"), lit(":"),
                  i.cast("string"), lit(":d55"))), 1, 4),
              16, 10).cast("long"),
            lit(4L)) === 0L,
          lit(".")).otherwise(lit(""))))
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), concat_ws(" ", flagged).as("text"))
  }

  /** Deterministic messy-URL fixture (d57 — documents carry no URL
    * column): every doc gets a raw URL whose scheme case, host case,
    * default port, trailing slash, tracking params, param order and
    * fragment vary by the bits of a 20-bit md5(doc:d57) draw — every
    * variant class the canonicalizer must fold. The d38
    * augmented-fixture discipline: both engines rebuild the identical
    * strings, so the oracle checks the real canonicalization work.
    * Path collides on doc_id mod 100 (and the id param on mod 50, which
    * mod 100 determines), so distinct documents genuinely alias to the
    * same canonical URL and the dedup stage has real duplicates to find.
    */
  private def withUrls(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val h = conv(
      substring(
        md5(concat(col("doc_id").cast("string"), lit(":d57"))), 1, 5),
      16, 10).cast("long")
    def b(i: Int) = shiftright(h, i).bitwiseAND(lit(1L)) === 1L
    val idp = concat(lit("id="), pmod(col("doc_id"), lit(50L)).cast("string"))
    val utm = when(b(4), lit("&utm_source=feed")).otherwise(lit(""))
    val ref = when(b(5), lit("&ref=home")).otherwise(lit(""))
    val utmF = when(b(4), lit("utm_source=feed&")).otherwise(lit(""))
    val refF = when(b(5), lit("ref=home&")).otherwise(lit(""))
    val query = when(b(6), concat(utmF, refF, idp))
      .otherwise(concat(idp, utm, ref))
    docs.select(
      col("doc_id"),
      concat(
        when(b(0), lit("HTTPS")).otherwise(lit("https")), lit("://"),
        when(b(1), upper(col("source"))).otherwise(col("source")),
        lit(".Example.COM"),
        when(b(2), lit(":443")).otherwise(lit("")),
        lit("/docs/"), pmod(col("doc_id"), lit(100L)).cast("string"),
        when(b(3), lit("/")).otherwise(lit("")),
        lit("?"), query,
        when(b(7), lit("#sec")).otherwise(lit(""))).as("url"))
  }

  /** Unrolled MAXIMAL-MATCHING trajectory (g54 oracle): per round the
    * per-endpoint rank minima, the both-endpoints dominance test, and
    * the matched-vertex removal — mirroring
    * [[graft.operators.Matching]] (converged ≡ fixed-k: matching
    * accumulation is monotone).
    */
  private def matchingSql(
      nV: Long, nE: Long, salt: String, k: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${portableGraphSql(nV, nE, salt)},\n"
    sb ++=
      s"""ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM pe WHERE src <> dst),
         |e0 AS MATERIALIZED (
         |  SELECT u, v, md5(concat(CAST(u AS VARCHAR), ':',
         |    CAST(v AS VARCHAR))) AS rk FROM ue)""".stripMargin
    for (i <- 1 to k) {
      sb ++= s""",
        |b$i AS MATERIALIZED (
        |  SELECT vtx, min(rk) AS mn FROM (
        |    SELECT u AS vtx, rk FROM e${i - 1}
        |    UNION ALL SELECT v, rk FROM e${i - 1}) GROUP BY vtx),
        |m$i AS MATERIALIZED (
        |  SELECT e.u, e.v, CAST($i AS BIGINT) AS round
        |  FROM e${i - 1} e
        |  JOIN b$i bu ON bu.vtx = e.u AND bu.mn = e.rk
        |  JOIN b$i bv ON bv.vtx = e.v AND bv.mn = e.rk),
        |mv$i AS MATERIALIZED (
        |  SELECT u AS vtx FROM m$i UNION SELECT v FROM m$i),
        |e$i AS MATERIALIZED (
        |  SELECT e.u, e.v, e.rk FROM e${i - 1} e
        |  LEFT JOIN mv$i a ON a.vtx = e.u
        |  LEFT JOIN mv$i b ON b.vtx = e.v
        |  WHERE a.vtx IS NULL AND b.vtx IS NULL)""".stripMargin
    }
    sb ++= "\nSELECT u, v, round FROM (" +
      (1 to k).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ") + ")"
    sb.toString
  }

  /** Oracle for g36: the walk recurrence unrolled — a row_numbered
    * deduped adjacency (neighbors ranked by dst ascending, exactly the
    * engine's array_sort order) and, per step, the SAME md5 draw
    * `H(walk_id:step:salt) mod outdeg` selecting rank H+1. Walks at
    * sinks simply drop out of later step CTEs (inner join), matching
    * the engine's early stop.
    */
  private def walksSql(
      nV: Long, nE: Long, salt: String, len: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${portableGraphSql(nV, nE, salt)},\n"
    sb ++=
      s"""e AS MATERIALIZED (SELECT DISTINCT src, dst FROM pe),
         |adj AS MATERIALIZED (
         |  SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
         |    count(*) OVER (PARTITION BY src) AS deg
         |  FROM e),
         |verts AS MATERIALIZED (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM pe UNION ALL SELECT dst FROM pe)),
         |w0 AS MATERIALIZED (SELECT id AS walk_id, id AS vtx FROM verts)""".stripMargin
    for (i <- 1 to len) {
      sb ++= s""",
         |w$i AS MATERIALIZED (
         |  SELECT w.walk_id, a.dst AS vtx
         |  FROM w${i - 1} w JOIN adj a ON a.src = w.vtx
         |    AND a.rn = CAST(concat('0x', substr(md5(concat(
         |          CAST(w.walk_id AS VARCHAR), ':', '$i', ':', '$salt')),
         |        1, 8)) AS BIGINT) % a.deg + 1)""".stripMargin
    }
    sb ++= (0 to len).map(i =>
      s"SELECT walk_id, $i AS step, vtx FROM w$i")
      .mkString("\n", "\nUNION ALL\n", "")
    sb.toString
  }

  /** Oracle for g38: [[walksSql]] with the integer inverse-CDF pick —
    * per-source cumulative weights by window, each step's neighbor is
    * the row whose `[cumw − w, cumw)` interval contains
    * `H(walk:step:salt) mod totw`. Weights are the same md5 draw the
    * engine derives from the edge endpoints.
    */
  private def weightedWalksSql(
      nV: Long, nE: Long, salt: String, wSalt: String, len: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${portableGraphSql(nV, nE, salt)},\n"
    sb ++=
      s"""ew AS MATERIALIZED (
         |  SELECT src, dst,
         |    1 + CAST(concat('0x', substr(md5(concat(
         |        CAST(src AS VARCHAR), ':', CAST(dst AS VARCHAR),
         |        ':', '$wSalt')), 1, 8)) AS BIGINT) % 5 AS w
         |  FROM (SELECT DISTINCT src, dst FROM pe)),
         |adj AS MATERIALIZED (
         |  SELECT src, dst, w,
         |    sum(w) OVER (PARTITION BY src ORDER BY dst
         |      ROWS UNBOUNDED PRECEDING) AS cumw,
         |    sum(w) OVER (PARTITION BY src) AS totw
         |  FROM ew),
         |verts AS MATERIALIZED (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM pe UNION ALL SELECT dst FROM pe)),
         |w0 AS MATERIALIZED (SELECT id AS walk_id, id AS vtx FROM verts)""".stripMargin
    for (i <- 1 to len) {
      val h = s"""CAST(concat('0x', substr(md5(concat(
         |          CAST(w.walk_id AS VARCHAR), ':', '$i', ':', '$salt')),
         |        1, 8)) AS BIGINT)""".stripMargin
      sb ++= s""",
         |w$i AS MATERIALIZED (
         |  SELECT w.walk_id, a.dst AS vtx
         |  FROM w${i - 1} w JOIN adj a ON a.src = w.vtx
         |    AND $h % a.totw >= a.cumw - a.w
         |    AND $h % a.totw < a.cumw)""".stripMargin
    }
    sb ++= (0 to len).map(i =>
      s"SELECT walk_id, $i AS step, vtx FROM w$i")
      .mkString("\n", "\nUNION ALL\n", "")
    sb.toString
  }

  /** Oracle for g41: unrolled node2vec — step 1 is walksSql's uniform
    * `H mod deg` pick; each later step enumerates cur's candidates with
    * the second-order integer weight (CASE in the SAME order as the
    * engine's when-chain: return, then distance-1 via an edge-existence
    * join on (prev, cand), then distance-2), cumulates per walk by a
    * window ordered by candidate, and keeps the row whose
    * `[cumw − wt, cumw)` interval contains `H mod totw`.
    */
  private def node2vecSql(
      nV: Long, nE: Long, salt: String, len: Int,
      retW: Long, inW: Long, outW: Long): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${portableGraphSql(nV, nE, salt)},\n"
    sb ++=
      s"""e AS MATERIALIZED (SELECT DISTINCT src, dst FROM pe),
         |adj AS MATERIALIZED (
         |  SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
         |    count(*) OVER (PARTITION BY src) AS deg
         |  FROM e),
         |verts AS MATERIALIZED (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM pe UNION ALL SELECT dst FROM pe)),
         |w0 AS MATERIALIZED (SELECT id AS walk_id, id AS vtx FROM verts),
         |w1 AS MATERIALIZED (
         |  SELECT w.walk_id, w.vtx AS prev, a.dst AS vtx
         |  FROM w0 w JOIN adj a ON a.src = w.vtx
         |    AND a.rn = CAST(concat('0x', substr(md5(concat(
         |          CAST(w.walk_id AS VARCHAR), ':', '1', ':', '$salt')),
         |        1, 8)) AS BIGINT) % a.deg + 1)""".stripMargin
    for (i <- 2 to len) {
      val h = s"""CAST(concat('0x', substr(md5(concat(
         |          CAST(walk_id AS VARCHAR), ':', '$i', ':', '$salt')),
         |        1, 8)) AS BIGINT)""".stripMargin
      sb ++= s""",
         |b$i AS MATERIALIZED (
         |  SELECT w.walk_id, w.vtx AS cur, a.dst,
         |    CASE WHEN a.dst = w.prev THEN $retW
         |         WHEN m.src IS NOT NULL THEN $inW
         |         ELSE $outW END AS wt
         |  FROM w${i - 1} w
         |  JOIN adj a ON a.src = w.vtx
         |  LEFT JOIN e m ON m.src = w.prev AND m.dst = a.dst),
         |c$i AS MATERIALIZED (
         |  SELECT walk_id, cur, dst, wt,
         |    sum(wt) OVER (PARTITION BY walk_id ORDER BY dst
         |      ROWS UNBOUNDED PRECEDING) AS cumw,
         |    sum(wt) OVER (PARTITION BY walk_id) AS totw
         |  FROM b$i),
         |w$i AS MATERIALIZED (
         |  SELECT walk_id, cur AS prev, dst AS vtx
         |  FROM c$i
         |  WHERE $h % totw >= cumw - wt
         |    AND $h % totw < cumw)""".stripMargin
    }
    sb ++= s"\nSELECT walk_id, 0 AS step, vtx FROM w0"
    sb ++= (1 to len).map(i =>
      s"SELECT walk_id, $i AS step, vtx FROM w$i")
      .mkString("\nUNION ALL\n", "\nUNION ALL\n", "")
    sb.toString
  }

  /** Oracle for g23: unrolled k-round Bellman–Ford over the SYMMETRIZED
    * weighted co-occurrence graph, seeded at the smallest vertex id.
    * Each round is the engine's exact recurrence (state ∪ relaxed edges,
    * min per id); `min` over doubles is order-insensitive, so every
    * distance hash-matches bit-for-bit after the shared 1e-9 rounding.
    */
  private def ssspSql(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH e0 AS MATERIALIZED (${EdgeListReader.fromOrdersWeightedSql}),
         |e AS MATERIALIZED (SELECT src, dst, w FROM e0
         |     UNION ALL SELECT dst, src, w FROM e0),
         |d0 AS MATERIALIZED (SELECT min(src) AS id, 0.0 AS dist FROM e)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |d$i AS MATERIALIZED (
        |  SELECT id, min(dist) AS dist FROM (
        |    SELECT id, dist FROM d${i - 1}
        |    UNION ALL
        |    SELECT e.dst AS id, d.dist + e.w AS dist
        |    FROM d${i - 1} d JOIN e ON d.id = e.src)
        |  GROUP BY 1)""".stripMargin)
    }
    sb.append(s"\nSELECT id, round(dist, 9) AS dist_r FROM d$k").toString
  }

  /** Oracle for g25: the same fixed-round peel, unrolled — each round
    * recomputes internal degrees over the surviving set and keeps
    * deg ≥ k; the final select reports survivors with their internal
    * degree. Integer arithmetic throughout ⇒ exact hash match.
    */
  private def kCoreSql(k: Int, rounds: Int, salt: String = "g25"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH ${portableGraphSql(400, 1200, salt)},
         |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM pe WHERE src <> dst),
         |und AS MATERIALIZED (SELECT u AS vtx, v AS nbr FROM ue UNION ALL SELECT v, u FROM ue),
         |s0 AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM pe UNION ALL SELECT dst FROM pe))""".stripMargin)
    for (i <- 1 to rounds) {
      sb.append(s""",
        |s$i AS MATERIALIZED (
        |  SELECT vtx AS id FROM (
        |    SELECT d.vtx, count(*) AS deg
        |    FROM und d
        |    JOIN s${i - 1} a ON d.vtx = a.id
        |    JOIN s${i - 1} b ON d.nbr = b.id
        |    GROUP BY 1)
        |  WHERE deg >= $k)""".stripMargin)
    }
    sb.append(s"""
      |SELECT d.vtx AS id, count(*) AS core_deg
      |FROM und d
      |JOIN s$rounds a ON d.vtx = a.id
      |JOIN s$rounds b ON d.nbr = b.id
      |GROUP BY 1""".stripMargin)
    sb.toString
  }

  /** Oracle for g24: the same deferred-normalization HITS recurrence,
    * unrolled. Every a{i}/h{i} value is an integer sum of integer
    * products (all-ones init), so the engines agree exactly until the
    * one final L1 division.
    */
  private def hitsCtes(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH edges AS MATERIALIZED (${EdgeListReader.fromOrdersSql}),
         |verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
         |h0 AS MATERIALIZED (SELECT id, 1.0 AS h FROM verts)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |a$i AS MATERIALIZED (
        |  SELECT e.dst AS id, sum(h.h) AS a
        |  FROM edges e JOIN h${i - 1} h ON e.src = h.id GROUP BY 1),
        |h$i AS MATERIALIZED (
        |  SELECT e.src AS id, sum(a.a) AS h
        |  FROM edges e JOIN a$i a ON e.dst = a.id GROUP BY 1)""".stripMargin)
    }
    sb.toString
  }

  private def hitsSql(k: Int): String =
    hitsCtes(k) + s""",
      |sa AS (SELECT sum(a) AS s FROM a$k),
      |sh AS (SELECT sum(h) AS s FROM h$k)
      |SELECT v.id,
      |  round(coalesce(a.a, 0) / (SELECT s FROM sa), 9) AS auth_r,
      |  round(coalesce(h.h, 0) / (SELECT s FROM sh), 9) AS hub_r
      |FROM verts v LEFT JOIN a$k a USING (id)
      |LEFT JOIN h$k h USING (id)""".stripMargin

  /** Oracle for g24b: [[hitsSql]]'s unroll to `maxK` plus a REPLAY of
    * the engine's stopping rule (the [[pageRankConvergedSql]]
    * discipline): per iteration the normalized-hub L1 delta
    * Σ|h_i/Σh_i − h_{i-1}/Σh_{i-1}| (ĥ_0 = 1/N uniform), chosen = the
    * first i ≥ minIter with delta ≤ tol (else maxK), output = the
    * normalized scores at the chosen iteration. The tol sits ≥3× away
    * from both neighbouring deltas on this fixture (measured 7.0e-7 at
    * i=4 vs 1.7e-8 at i=5 against tol 5e-8), so cross-engine
    * accumulation-order noise (~1e-15 relative) cannot flip the stop.
    */
  private def hitsConvergedSql(maxK: Int, tol: Double, minIter: Int): String = {
    val deltas = (1 to maxK).map { i =>
      s"""SELECT $i AS i,
         |  (SELECT sum(abs(
         |     coalesce(a.h, 0) / (SELECT sum(h) FROM h$i)
         |     - coalesce(b.h, 0) / (SELECT sum(h) FROM h${i - 1})))
         |   FROM h$i a FULL JOIN h${i - 1} b USING (id)) AS d""".stripMargin
    }.mkString("\nUNION ALL\n")
    val alla = (1 to maxK)
      .map(i => s"SELECT $i AS i, id, a FROM a$i").mkString("\nUNION ALL\n")
    val allh = (1 to maxK)
      .map(i => s"SELECT $i AS i, id, h FROM h$i").mkString("\nUNION ALL\n")
    hitsCtes(maxK) + s""",
      |deltas AS MATERIALIZED (
      |$deltas
      |), chosen AS (
      |  SELECT coalesce(min(i), $maxK) AS it FROM deltas
      |  WHERE i >= $minIter AND d <= $tol
      |), alla AS (
      |$alla
      |), allh AS (
      |$allh
      |), sca AS (SELECT sum(a) AS s FROM alla
      |           WHERE i = (SELECT it FROM chosen)),
      |sch AS (SELECT sum(h) AS s FROM allh
      |        WHERE i = (SELECT it FROM chosen))
      |SELECT v.id,
      |  round(coalesce(a.a, 0) / (SELECT s FROM sca), 9) AS auth_r,
      |  round(coalesce(h.h, 0) / (SELECT s FROM sch), 9) AS hub_r
      |FROM verts v
      |LEFT JOIN alla a ON a.id = v.id AND a.i = (SELECT it FROM chosen)
      |LEFT JOIN allh h ON h.id = v.id AND h.i = (SELECT it FROM chosen)""".stripMargin
  }

  /** Oracle for g26: unrolled batched multi-seed PPR — the seed rides
    * as a COLUMN through the whole chain, exactly like the engine's
    * (seed, id, rank) state. Per iteration: per-edge contributions
    * (rank·d/outdeg) plus the per-seed restart row carrying
    * (1-d) + d·danglingMass, summed per (seed, id).
    */
  private def multiPprSql(k: Int, nSeeds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH edges AS MATERIALIZED (${EdgeListReader.fromOrdersSql}),
         |od AS MATERIALIZED (
         |  SELECT src AS id, CAST(count(*) AS DOUBLE) AS outdeg
         |  FROM edges GROUP BY 1),
         |seeds AS MATERIALIZED (
         |  SELECT DISTINCT src AS seed FROM edges ORDER BY 1 LIMIT $nSeeds),
         |r0 AS MATERIALIZED (SELECT seed, seed AS id, 1.0 AS rank FROM seeds)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |r$i AS MATERIALIZED (
        |  SELECT seed, id, sum(c) AS rank FROM (
        |    SELECT r.seed, e.dst AS id, r.rank * 0.85 / o.outdeg AS c
        |    FROM r${i - 1} r JOIN od o ON r.id = o.id
        |    JOIN edges e ON e.src = r.id
        |    UNION ALL
        |    SELECT s.seed, s.seed AS id,
        |      0.15 + 0.85 * coalesce(dg.dmass, 0) AS c
        |    FROM seeds s LEFT JOIN (
        |      SELECT r.seed, sum(r.rank) AS dmass FROM r${i - 1} r
        |      LEFT JOIN od o ON r.id = o.id
        |      WHERE o.outdeg IS NULL GROUP BY 1) dg ON s.seed = dg.seed)
        |  GROUP BY 1, 2)""".stripMargin)
    }
    sb.append(s"\nSELECT seed, id, round(rank, 9) AS rank_r FROM r$k")
    sb.toString
  }

  /** Oracle for g27: unrolled weighted s-core peel — [[kCoreSql]] with
    * weighted strength sums over the symmetrized co-occurrence graph.
    * Integer-valued weights make every strength an exact double sum.
    */
  private def wCoreSql(minStrength: Double, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH e0 AS MATERIALIZED (${EdgeListReader.fromOrdersWeightedSql}),
         |und AS MATERIALIZED (
         |  SELECT src AS vtx, dst AS nbr, w FROM e0
         |  UNION ALL SELECT dst, src, w FROM e0),
         |s0 AS MATERIALIZED (
         |  SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0))""".stripMargin)
    for (i <- 1 to rounds) {
      sb.append(s""",
        |s$i AS MATERIALIZED (
        |  SELECT vtx AS id FROM (
        |    SELECT d.vtx, sum(d.w) AS st
        |    FROM und d
        |    JOIN s${i - 1} a ON d.vtx = a.id
        |    JOIN s${i - 1} b ON d.nbr = b.id
        |    GROUP BY 1)
        |  WHERE st >= $minStrength)""".stripMargin)
    }
    sb.append(s"""
      |SELECT d.vtx AS id, sum(d.w) AS core_strength
      |FROM und d
      |JOIN s$rounds a ON d.vtx = a.id
      |JOIN s$rounds b ON d.nbr = b.id
      |GROUP BY 1""".stripMargin)
    sb.toString
  }

  /** Oracle for g28: unrolled batched multi-source BFS — the seed rides
    * as a column through the min-hop recurrence, over the symmetrized
    * edge set, mirroring [[graft.operators.ShortestPaths.multiSourceHops]].
    */
  private def multiBfsSql(rounds: Int, nSeeds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH edges AS MATERIALIZED (${EdgeListReader.fromOrdersSql}),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM
         |  (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)),
         |seeds AS MATERIALIZED (
         |  SELECT DISTINCT src AS seed FROM edges ORDER BY 1 LIMIT $nSeeds),
         |d0 AS MATERIALIZED (SELECT seed, seed AS id, 0 AS hops FROM seeds)""".stripMargin)
    for (i <- 1 to rounds) {
      sb.append(s""",
        |d$i AS MATERIALIZED (
        |  SELECT seed, id, min(hops) AS hops FROM (
        |    SELECT seed, id, hops FROM d${i - 1}
        |    UNION ALL
        |    SELECT d.seed, e.dst AS id, d.hops + 1 AS hops
        |    FROM d${i - 1} d JOIN e ON d.id = e.src)
        |  GROUP BY 1, 2)""".stripMargin)
    }
    sb.append(
      s"\nSELECT seed, id, CAST(hops AS BIGINT) AS hops FROM d$rounds")
    sb.toString
  }

  /** Oracle for the run-to-convergence mode (Q6 / O16): unrolls maxIter
    * iterations, computes the per-iteration avgDiff trace in SQL, and
    * selects the ranks of the FIRST iteration satisfying the reference's
    * stopping rule (avgDiff ≤ tol AND iter ≥ minIter,
    * PageRankDriver.java:207-216), falling back to maxIter. This
    * reproduces the engine's early-stop decision inside DuckDB, so the
    * convergence semantics themselves are hash-checked.
    */
  private def pageRankConvergedSql(
      maxIter: Int, tol: Double, minIter: Int): String = {
    val diffs = (1 to maxIter).map { i =>
      s"""SELECT $i AS i,
         |  (SELECT sum(abs(a.rank - b.rank)) FROM r$i a JOIN r${i - 1} b USING (id))
         |    / (SELECT n FROM nn) AS ad""".stripMargin
    }.mkString("\nUNION ALL\n")
    val allr = (1 to maxIter)
      .map(i => s"SELECT $i AS i, id, rank FROM r$i")
      .mkString("\nUNION ALL\n")
    pageRankSql(
      maxIter,
      s""", diffs AS MATERIALIZED (
         |$diffs
         |), chosen AS (
         |  SELECT coalesce(min(i), $maxIter) AS it FROM diffs
         |  WHERE i >= $minIter AND ad <= $tol
         |), allr AS (
         |$allr
         |)
         |SELECT id, round(rank, 9) AS rank_r FROM allr
         |WHERE i = (SELECT it FROM chosen)""".stripMargin)
  }

  /** Gap-based (30 min) session oracle over `events` — shared by st1
    * (batch twin) and st6 (the real event-time streaming operator, fully
    * flushed): both must reproduce these rows exactly.
    */
  private val gapSessionSql: String =
    """WITH x AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |y AS (
      |  SELECT user_id, value,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      |  FROM x)
      |SELECT user_id, session_no, count(*) AS n_events,
      |  round(sum(value), 4) AS sum_value
      |FROM y GROUP BY 1, 2""".stripMargin

  /** DuckDB twin of SyntheticGraph.portable — regenerates the identical
    * md5-derived edge set from `range(nE)`.
    */
  private def portableGraphSql(nV: Long, nE: Long, salt: String): String = {
    def ep(tag: String) =
      s"CAST(concat('0x', substr(md5(concat(CAST(i AS VARCHAR), ':$tag:', '$salt')), 1, 8)) AS BIGINT) % $nV"
    s"""pe AS MATERIALIZED (
       |  SELECT ${ep("s")} AS src, ${ep("d")} AS dst
       |  FROM range($nE) t(i))""".stripMargin
  }

  /** Unrolled Monte-Carlo PPR oracle (g55): every walk's stop draw,
    * neighbor draw, sink-teleport and truncation cut replayed step
    * by step over the portable graph — the walks are deterministic
    * md5 algebra, so the ESTIMATE (not just its shape) hash-matches.
    */
  private def mcPprSql(
      nV: Long, nE: Long, graphSalt: String, walkSalt: String,
      seed: Long, walks: Int, alphaThresh: Long, maxSteps: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${portableGraphSql(nV, nE, graphSalt)},\n"
    sb ++=
      """adj AS MATERIALIZED (
        |  SELECT src, list_sort(list(dst)) AS nbrs
        |  FROM (SELECT DISTINCT src, dst FROM pe) GROUP BY src),""".stripMargin
    sb ++= s"\nl0 AS MATERIALIZED (SELECT i AS walk_id, " +
      s"CAST($seed AS BIGINT) AS cur FROM range($walks) t(i))"
    for (k <- 1 to maxSteps) {
      sb ++=
        s""",
           |s$k AS MATERIALIZED (
           |  SELECT walk_id, cur,
           |    CAST(concat('0x', substr(md5(concat(CAST(walk_id AS VARCHAR),
           |      ':$k:', '$walkSalt', ':stop')), 1, 5)) AS BIGINT)
           |      >= $alphaThresh AS stop
           |  FROM l${k - 1}),
           |m$k AS MATERIALIZED (
           |  SELECT t.walk_id, t.cur,
           |    a.nbrs[CAST(CAST(concat('0x', substr(md5(concat(
           |      CAST(t.walk_id AS VARCHAR), ':$k:', '$walkSalt')), 1, 8))
           |      AS BIGINT) % len(a.nbrs) AS INT) + 1] AS nxt
           |  FROM (SELECT walk_id, cur FROM s$k WHERE NOT stop) t
           |  LEFT JOIN adj a ON a.src = t.cur),
           |e$k AS MATERIALIZED (SELECT cur AS vtx FROM s$k WHERE stop),
           |l$k AS MATERIALIZED (
           |  SELECT walk_id, coalesce(nxt, CAST($seed AS BIGINT)) AS cur
           |  FROM m$k)""".stripMargin
    }
    val allEnds = (1 to maxSteps).map(k => s"SELECT vtx FROM e$k")
      .mkString(" UNION ALL ") + s" UNION ALL SELECT cur FROM l$maxSteps"
    sb ++=
      s""",
         |ends AS MATERIALIZED ($allEnds)
         |SELECT vtx, count(*) AS n_end,
         |  round(CAST(count(*) AS DOUBLE) / $walks, 9) AS est
         |FROM ends GROUP BY vtx""".stripMargin
    sb.toString
  }

  /** Unrolled k-truss oracle: `rounds` chained peel rounds, each
    * recomputing every surviving edge's triangle support as its
    * common-neighbour count (equal to the engine's triangle-explode
    * count on a simple graph), then the final survivors with their
    * in-truss support. Peeling is monotone, so the unroll equals the
    * converged truss for any rounds ≥ the cascade depth.
    */
  private def kTrussOracleSql(
      nV: Long, nE: Long, salt: String, k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${portableGraphSql(nV, nE, salt)},\n"
    // every round CTE is MATERIALIZED: inlining would re-expand each
    // round's chain into the next and blow up exponentially in `rounds`
    sb ++= "ue0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, " +
      "greatest(src, dst) AS v FROM pe WHERE src <> dst)"
    for (r <- 0 until rounds) {
      sb ++= s""",
         |adj$r AS MATERIALIZED (SELECT u AS a, v AS b FROM ue$r
         |          UNION ALL SELECT v, u FROM ue$r),
         |sup$r AS MATERIALIZED (
         |  SELECT e.u, e.v, count(*) AS sup
         |  FROM ue$r e
         |  JOIN adj$r x ON x.a = e.u
         |  JOIN adj$r y ON y.a = e.v AND y.b = x.b
         |  GROUP BY e.u, e.v),
         |ue${r + 1} AS MATERIALIZED (
         |  SELECT e.u, e.v FROM ue$r e
         |  LEFT JOIN sup$r s ON s.u = e.u AND s.v = e.v
         |  WHERE coalesce(s.sup, 0) >= ${k - 2})""".stripMargin
    }
    sb ++= s""",
       |adjF AS MATERIALIZED (SELECT u AS a, v AS b FROM ue$rounds
       |         UNION ALL SELECT v, u FROM ue$rounds),
       |supF AS MATERIALIZED (
       |  SELECT e.u, e.v, count(*) AS sup
       |  FROM ue$rounds e
       |  JOIN adjF x ON x.a = e.u
       |  JOIN adjF y ON y.a = e.v AND y.b = x.b
       |  GROUP BY e.u, e.v)
       |SELECT e.u, e.v, CAST(coalesce(s.sup, 0) AS BIGINT) AS support
       |FROM ue$rounds e
       |LEFT JOIN supF s ON s.u = e.u AND s.v = e.v""".stripMargin
    sb.toString
  }

  /** Shared d46b/d46c oracle — the full-matrix and banded engine forms
    * produce identical pairs on the src16 slice by construction (−1
    * beyond threshold ≡ filtered), so one SQL locks both.
    */
  private val levSrc0OracleSql: String =
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
      |FROM documents a JOIN documents b
      |  ON a.source = b.source AND a.doc_id < b.doc_id
      |  AND abs(len(a.text) - len(b.text)) <= 60
      |WHERE a.source = 'src16'
      |  AND levenshtein(a.text, b.text) <= 60""".stripMargin

  /** Unrolled Luby-MIS oracle: `rounds` chained symmetry-breaking
    * rounds over the portable graph, each recomputing the md5
    * (priority, id) race, the winners, and the shrunken active set.
    * A round past termination is a no-op (empty active ⇒ empty
    * winners), so the unroll equals the converged MIS for any
    * rounds ≥ the real depth (asserted with margin in MisSpec).
    */
  private def lubyMisOracleSql(
      nV: Long, nE: Long, graphSalt: String,
      salt: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${portableGraphSql(nV, nE, graphSalt)},\n"
    sb ++=
      """ed AS MATERIALIZED (
        |  SELECT src AS u, dst AS v FROM pe WHERE src <> dst
        |  UNION
        |  SELECT dst, src FROM pe WHERE src <> dst),
        |act0 AS MATERIALIZED (
        |  SELECT src AS id FROM pe UNION SELECT dst FROM pe)""".stripMargin
    for (r <- 0 until rounds) {
      sb ++= s""",
         |pr$r AS MATERIALIZED (
         |  SELECT id, CAST(concat('0x', substr(md5(concat(
         |    CAST(id AS VARCHAR), ':$r:', '$salt')), 1, 15)) AS BIGINT)
         |    AS p
         |  FROM act$r),
         |nm$r AS MATERIALIZED (
         |  SELECT id, p AS np, nid FROM (
         |    SELECT e.v AS id, a.p, a.id AS nid,
         |      row_number() OVER (PARTITION BY e.v
         |                         ORDER BY a.p, a.id) AS rn
         |    FROM ed e JOIN pr$r a ON a.id = e.u) WHERE rn = 1),
         |win$r AS MATERIALIZED (
         |  SELECT a.id FROM pr$r a LEFT JOIN nm$r n ON n.id = a.id
         |  WHERE n.id IS NULL OR (a.p, a.id) < (n.np, n.nid)),
         |act${r + 1} AS MATERIALIZED (
         |  SELECT id FROM act$r
         |  WHERE id NOT IN (SELECT id FROM win$r)
         |    AND id NOT IN (SELECT e.v FROM ed e
         |                   JOIN win$r w ON w.id = e.u))""".stripMargin
    }
    sb ++= s""",
       |misAll AS (${(0 until rounds)
        .map(r => s"SELECT id FROM win$r").mkString(" UNION ")})
       |SELECT v.id, (v.id IN (SELECT id FROM misAll)) AS in_mis
       |FROM act0 v""".stripMargin
    sb.toString
  }

  /** Unrolled Luby-matching oracle — [[lubyMisOracleSql]]'s edge-side
    * twin: per round the md5 edge priorities, the per-vertex minima,
    * the both-endpoint winners, and the shrunken active edge set.
    */
  private def lubyMatchingOracleSql(
      nV: Long, nE: Long, graphSalt: String,
      salt: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${portableGraphSql(nV, nE, graphSalt)},\n"
    sb ++=
      """ce AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM pe WHERE src <> dst),
        |ae0 AS MATERIALIZED (SELECT u, v FROM ce)""".stripMargin
    for (r <- 0 until rounds) {
      sb ++= s""",
         |ap$r AS MATERIALIZED (
         |  SELECT u, v, CAST(concat('0x', substr(md5(concat(
         |    CAST(u AS VARCHAR), ':', CAST(v AS VARCHAR),
         |    ':$r:', '$salt')), 1, 15)) AS BIGINT) AS p
         |  FROM ae$r),
         |vm$r AS MATERIALIZED (
         |  SELECT x, p AS mp, u AS mu, v AS mv FROM (
         |    SELECT x, p, u, v,
         |      row_number() OVER (PARTITION BY x
         |                         ORDER BY p, u, v) AS rn
         |    FROM (SELECT u AS x, p, u, v FROM ap$r
         |          UNION ALL SELECT v, p, u, v FROM ap$r))
         |  WHERE rn = 1),
         |wm$r AS MATERIALIZED (
         |  SELECT a.u, a.v FROM ap$r a
         |  JOIN vm$r m1 ON m1.x = a.u
         |    AND (m1.mp, m1.mu, m1.mv) = (a.p, a.u, a.v)
         |  JOIN vm$r m2 ON m2.x = a.v
         |    AND (m2.mp, m2.mu, m2.mv) = (a.p, a.u, a.v)),
         |mx$r AS MATERIALIZED (
         |  SELECT u AS x FROM wm$r UNION SELECT v FROM wm$r),
         |ae${r + 1} AS MATERIALIZED (
         |  SELECT u, v FROM ae$r
         |  WHERE u NOT IN (SELECT x FROM mx$r)
         |    AND v NOT IN (SELECT x FROM mx$r))""".stripMargin
    }
    sb ++= s""",
       |mAll AS (${(0 until rounds)
        .map(r => s"SELECT u, v FROM wm$r").mkString(" UNION ")})
       |SELECT c.u, c.v,
       |  ((c.u, c.v) IN (SELECT (u, v) FROM mAll)) AS in_matching
       |FROM ce c""".stripMargin
    sb.toString
  }

  /** Unrolled iterated-MIS coloring oracle — [[lubyMisOracleSql]]
    * nested: `colors` outer color classes, each an unrolled
    * `rounds`-deep MIS fixpoint over the residual vertex set under
    * salt `salt:k`. Both unrolls are generous upper bounds (no-ops
    * past termination); MisSpec asserts (4, 3) measured depth against
    * the (6, 6) unroll.
    */
  private def lubyColoringOracleSql(
      nV: Long, nE: Long, graphSalt: String,
      salt: String, colors: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${portableGraphSql(nV, nE, graphSalt)},\n"
    sb ++=
      """ed AS MATERIALIZED (
        |  SELECT src AS u, dst AS v FROM pe WHERE src <> dst
        |  UNION
        |  SELECT dst, src FROM pe WHERE src <> dst),
        |rem0 AS MATERIALIZED (
        |  SELECT src AS id FROM pe UNION SELECT dst FROM pe)""".stripMargin
    for (k <- 0 until colors) {
      sb ++= s""",
         |a${k}x0 AS MATERIALIZED (SELECT id FROM rem$k)""".stripMargin
      for (r <- 0 until rounds) {
        sb ++= s""",
           |p${k}x$r AS MATERIALIZED (
           |  SELECT id, CAST(concat('0x', substr(md5(concat(
           |    CAST(id AS VARCHAR), ':$r:', '$salt:$k')), 1, 15))
           |    AS BIGINT) AS p
           |  FROM a${k}x$r),
           |n${k}x$r AS MATERIALIZED (
           |  SELECT id, p AS np, nid FROM (
           |    SELECT e.v AS id, a.p, a.id AS nid,
           |      row_number() OVER (PARTITION BY e.v
           |                         ORDER BY a.p, a.id) AS rn
           |    FROM ed e JOIN p${k}x$r a ON a.id = e.u) WHERE rn = 1),
           |w${k}x$r AS MATERIALIZED (
           |  SELECT a.id FROM p${k}x$r a
           |  LEFT JOIN n${k}x$r n ON n.id = a.id
           |  WHERE n.id IS NULL OR (a.p, a.id) < (n.np, n.nid)),
           |a${k}x${r + 1} AS MATERIALIZED (
           |  SELECT id FROM a${k}x$r
           |  WHERE id NOT IN (SELECT id FROM w${k}x$r)
           |    AND id NOT IN (SELECT e.v FROM ed e
           |                   JOIN w${k}x$r w ON w.id = e.u))""".stripMargin
      }
      sb ++= s""",
         |m$k AS MATERIALIZED (${(0 until rounds)
          .map(r => s"SELECT id FROM w${k}x$r").mkString(" UNION ")}),
         |rem${k + 1} AS MATERIALIZED (
         |  SELECT id FROM rem$k
         |  WHERE id NOT IN (SELECT id FROM m$k))""".stripMargin
    }
    sb ++= s"""
       |${(0 until colors)
        .map(k => s"SELECT id, CAST($k AS BIGINT) AS color FROM m$k")
        .mkString(" UNION ALL ")}""".stripMargin
    sb.toString
  }

  /** DuckDB twin of [[graft.sources.SyntheticGraph.portableBlocks]]:
    * two disjoint md5-range blocks, the second shifted by nVBlock.
    */
  private def portableBlocksSql(
      nVBlock: Long, nEBlock: Long, salt: String): String = {
    def ep(tag: String, blockSalt: String) =
      s"CAST(concat('0x', substr(md5(concat(CAST(i AS VARCHAR), ':$tag:', '$blockSalt')), 1, 8)) AS BIGINT) % $nVBlock"
    s"""pe AS MATERIALIZED (
       |  SELECT ${ep("s", salt + "A")} AS src, ${ep("d", salt + "A")} AS dst
       |  FROM range($nEBlock) t(i)
       |  UNION ALL
       |  SELECT ${ep("s", salt + "B")} + $nVBlock AS src,
       |         ${ep("d", salt + "B")} + $nVBlock AS dst
       |  FROM range($nEBlock) t(i))""".stripMargin
  }

  /** Unrolled PERSONALIZED PageRank oracle (g14): teleport distribution
    * p = uniform over the `nSeeds` smallest vertex ids; both the restart
    * and dangling mass redistribute to p (NetworkX personalized
    * semantics), init stays uniform 1/N — mirrors
    * [[graft.operators.PageRank.run]] with `teleport` set.
    */
  private def personalizedPageRankSql(k: Int, nSeeds: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH ").append(graphCtes).append(",\n")
    sb.append(
      s"""seeds AS MATERIALIZED (SELECT id FROM verts ORDER BY id LIMIT $nSeeds),
         |ns AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS sk FROM seeds),
         |pv AS MATERIALIZED (
         |  SELECT d.id, d.outdeg,
         |    CASE WHEN s.id IS NOT NULL
         |         THEN CAST(1 AS DOUBLE) / (SELECT sk FROM ns)
         |         ELSE 0.0 END AS p
         |  FROM deg d LEFT JOIN seeds s USING (id)),
         |r0 AS MATERIALIZED (
         |  SELECT id, outdeg, p, 1.0/(SELECT n FROM nn) AS rank FROM pv)""".stripMargin)
    for (i <- 0 until k) {
      sb.append(s""",
        |d$i AS MATERIALIZED (SELECT coalesce(sum(rank), 0.0) AS ds FROM r$i WHERE outdeg = 0),
        |r${i + 1} AS MATERIALIZED (
        |  SELECT s.id, s.outdeg, s.p,
        |         (1 - $D + $D*(SELECT ds FROM d$i)) * s.p
        |       + $D*coalesce(c.contrib, 0.0) AS rank
        |  FROM r$i s
        |  LEFT JOIN (SELECT e.dst AS id, sum(r.rank/r.outdeg) AS contrib
        |             FROM edges e JOIN r$i r ON e.src = r.id GROUP BY 1) c
        |  USING (id))""".stripMargin)
    }
    sb.append(s"\nSELECT id, round(rank, 7) AS rank_r FROM r$k").toString
  }

  /** DuckDB twin of TextOps.languageGuess, generated from the same
    * stopword lists so the two can never drift: per-language hit counts,
    * argmax with first-in-order tie-break.
    */
  private def langIdSql: String = {
    val scores = TextOps.langStops.map { case (code, words) =>
      val in = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(tk, x -> x IN ($in))) AS s_$code"
    }.mkString(",\n    ")
    val codes = TextOps.langStops.map(_._1)
    val m = codes.map(c => s"s_$c").mkString("greatest(", ", ", ")")
    val cases = codes
      .map(c => s"WHEN s_$c = m THEN '$c'")
      .mkString(" ")
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id,
       |    $scores
       |  FROM tk),
       |mm AS (SELECT *, $m AS m FROM sc)
       |SELECT doc_id, CASE $cases END AS lang_guess FROM mm""".stripMargin
  }

  /** DuckDB twin of the p8 hygiene journey, generated from the SAME
    * stopword lists as [[langIdSql]] so the language gate can never
    * drift: language argmax gate → d24 rule chain → the d50b span
    * removal chain re-rooted on the gated subset → md5 min-id dedup of
    * the cleaned text.
    */
  /** The d50b span-removal chain as a reusable CTE block, rooted at
    * relation `from` (must expose `doc_id, text`): gram index →
    * duplicate set → canonical sites → gaps-and-islands runs →
    * non-canonical cut → token rebuild, ending in
    * `cleaned(doc_id, n_tokens, n_removed, text_clean)`. Shared by the
    * d50b oracle and the p8 journey oracle so the two locks can never
    * drift (k = 5, matching both registered queries).
    */
  private def spanRemovalCtes(from: String): String =
    s"""tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM $from),
       |g AS (
       |  SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
       |    md5(array_to_string(
       |      toks[CAST(t.i AS INT)+1 : CAST(t.i AS INT)+5], ' ')) AS gd
       |  FROM tok, unnest(range(len(toks) - 4)) AS t(i)
       |  WHERE len(toks) >= 5),
       |dup AS (SELECT gd FROM g GROUP BY gd HAVING count(*) >= 2),
       |d AS (SELECT g.doc_id, g.pos, g.gd FROM g JOIN dup USING (gd)),
       |canon AS (SELECT gd,
       |    min(struct_pack(d := doc_id, p := pos)) AS ms
       |  FROM d GROUP BY gd),
       |runs AS (
       |  SELECT doc_id, pos, gd,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
       |      AS grp
       |  FROM d),
       |spans AS (
       |  SELECT doc_id, min(pos) AS start_tok, max(pos) + 4 AS end_tok,
       |    min_by(gd, pos) AS lead_gd
       |  FROM runs GROUP BY doc_id, grp),
       |rm AS (
       |  SELECT s.doc_id, s.start_tok, s.end_tok
       |  FROM spans s JOIN canon c ON c.gd = s.lead_gd
       |  WHERE NOT (struct_extract(c.ms, 'd') = s.doc_id
       |         AND struct_extract(c.ms, 'p') = s.start_tok)),
       |rp AS (SELECT DISTINCT doc_id, CAST(t.p AS BIGINT) AS pos
       |  FROM rm, unnest(range(start_tok, end_tok + 1)) AS t(p)),
       |tp AS (SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
       |    toks[CAST(t.i AS INT)+1] AS tok
       |  FROM tok, unnest(range(len(toks))) AS t(i)),
       |kp AS (
       |  SELECT tp.doc_id, count(*) AS n_kept,
       |    string_agg(tp.tok, ' ' ORDER BY tp.pos) AS clean
       |  FROM tp LEFT JOIN rp
       |    ON rp.doc_id = tp.doc_id AND rp.pos = tp.pos
       |  WHERE rp.doc_id IS NULL GROUP BY tp.doc_id),
       |cleaned AS (
       |  SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |    CAST(len(t.toks) - coalesce(k.n_kept, 0) AS BIGINT)
       |      AS n_removed,
       |    coalesce(k.clean, '') AS text_clean
       |  FROM tok t LEFT JOIN kp k USING (doc_id))""".stripMargin

  private def p8OracleSql: String =
    p8Ctes +
      """
        |SELECT ne.doc_id, ne.n_tokens, ne.n_removed, ne.text_clean
        |FROM ne JOIN reps ON ne.dg = reps.dg AND ne.doc_id = reps.keep_id"""
      .stripMargin

  /** Oracle for p8b: the journey's DROP LEDGER — one row per corpus
    * doc with the FIRST stage that dropped it (or 'kept'). Shares
    * every CTE with the p8 oracle so the two locks cannot drift; CASE
    * order re-encodes the stage order (lang → quality → span-emptied →
    * exact dedup).
    */
  private def p8LedgerSql: String =
    p8Ctes +
      """
        |SELECT g.doc_id,
        |  CASE WHEN g.lang_guess <> 'en' THEN 'lang'
        |       WHEN qr.reason <> 'ok' THEN 'quality'
        |       WHEN ne.doc_id IS NULL THEN 'span_removal'
        |       WHEN g.doc_id = r.keep_id THEN 'kept'
        |       ELSE 'exact_dedup' END AS stage,
        |  CASE WHEN g.lang_guess <> 'en' THEN g.lang_guess
        |       WHEN qr.reason <> 'ok' THEN qr.reason
        |       WHEN ne.doc_id IS NULL THEN 'emptied'
        |       WHEN g.doc_id = r.keep_id THEN 'ok'
        |       ELSE CAST(r.keep_id AS VARCHAR) END AS detail
        |FROM lg g
        |LEFT JOIN qr USING (doc_id)
        |LEFT JOIN ne USING (doc_id)
        |LEFT JOIN reps r ON r.dg = ne.dg""".stripMargin

  /** Shared CTE chain of the p8 journey oracles: language scores and
    * guess (generated from the SAME stopword lists as the d8 twin),
    * the d24 rule chain, the gated base, the d50b span-removal block,
    * and the md5 min-id dedup frames (`ne`, `reps`); `lg` carries
    * every corpus doc with its language guess for the ledger.
    */
  private def p8Ctes: String = {
    val scores = TextOps.langStops.map { case (code, words) =>
      val in = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(lt, x -> x IN ($in))) AS s_$code"
    }.mkString(",\n    ")
    val codes = TextOps.langStops.map(_._1)
    val m = codes.map(c => s"s_$c").mkString("greatest(", ", ", ")")
    val cases = codes
      .map(c => s"WHEN s_$c = m THEN '$c'")
      .mkString(" ")
    s"""WITH lt AS (
       |  SELECT doc_id, text,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS lt
       |  FROM documents),
       |sc AS (SELECT doc_id, text, $scores FROM lt),
       |mm AS (SELECT *, $m AS m FROM sc),
       |lg AS (SELECT doc_id, CASE $cases END AS lang_guess FROM mm),
       |lang AS (
       |  SELECT mm.doc_id, mm.text FROM mm
       |  JOIN lg USING (doc_id) WHERE lg.lang_guess = 'en'),
       |qt AS (
       |  SELECT doc_id, text,
       |    regexp_split_to_array(trim(text), '\\s+') AS tk
       |  FROM lang),
       |qm AS (
       |  SELECT doc_id,
       |    len(tk) AS n_tokens,
       |    CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
       |      / len(tk) AS avg_len,
       |    CAST(len(list_filter(tk,
       |        x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
       |      / len(tk) AS stop_r,
       |    CAST(length(text)
       |         - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
       |         AS DOUBLE) / length(text) AS punct_r,
       |    1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS dup_r
       |  FROM qt),
       |qr AS (
       |  SELECT doc_id,
       |    CASE WHEN n_tokens < 5 THEN 'too_short'
       |         WHEN avg_len > 12.0 THEN 'long_tokens'
       |         WHEN stop_r < 0.01 THEN 'low_stopword'
       |         WHEN punct_r > 0.2 THEN 'high_punct'
       |         WHEN dup_r > 0.6 THEN 'repetitive'
       |         ELSE 'ok' END AS reason
       |  FROM qm),
       |base AS (
       |  SELECT l.doc_id, l.text FROM lang l
       |  JOIN qr USING (doc_id) WHERE qr.reason = 'ok'),
       |${spanRemovalCtes("base")},
       |ne AS (
       |  SELECT *, md5(text_clean) AS dg FROM cleaned
       |  WHERE length(text_clean) > 0),
       |reps AS (SELECT dg, min(doc_id) AS keep_id FROM ne GROUP BY dg)"""
      .stripMargin
  }

  /** DuckDB twin of Dedup.simhashNearDupPairs: recomputes the portable
    * 60-bit SimHash (same md5-derived token hashes, same sum>0 tie rule,
    * same bit packing) and takes ALL pairs with Hamming ≤ maxDist — the
    * engine's banded join is exact by pigeonhole, so the pair sets must
    * match bit-for-bit.
    */
  /** Shared CTE prefix recomputing the portable 60-bit SimHash table in
    * DuckDB (md5-derived token hashes, sum>0 tie rule, bit packing) —
    * consumed by both the d7 signature oracle and the d14 pair oracle.
    */
  private val simhashSigCtes: String = {
    val bits = 60
    val votes = (0 until bits)
      .map(b =>
        s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS c_$b")
      .mkString(",\n    ")
    val pack = (0 until bits)
      .map(b => s"CASE WHEN c_$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |  FROM documents),
       |hh AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
       |  FROM tok),
       |v AS (SELECT doc_id,
       |    $votes
       |  FROM hh GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($pack AS BIGINT) AS s FROM v)""".stripMargin
  }

  /** d7 oracle: the signature TABLE itself. The left join mirrors the
    * engine's explode_outer: a doc whose text is NULL tokenizes to no
    * rows in DuckDB (unnest of NULL) but must still carry signature 0.
    */
  private val simhashSigSql: String =
    s"""WITH $simhashSigCtes
       |SELECT d.doc_id, coalesce(sig.s, 0) AS simhash
       |FROM documents d LEFT JOIN sig ON d.doc_id = sig.doc_id""".stripMargin

  private def simhashNearDupSql(maxDist: Int): String =
    s"""WITH $simhashSigCtes
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.s, b.s)) <= $maxDist""".stripMargin

  /** SQL-entry gate queries: ONE dialect-neutral string each, run
    * verbatim by BOTH engines — Spark through [[GraftSql.sql]] (views +
    * Catalyst) and DuckDB directly — so the general SQL surface itself
    * is what the hash-match locks, not a hand-aligned translation pair.
    */
  private val sql1RevenueByNation: String =
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  private val sql2TopOrdersPerCustomer: String =
    """SELECT o_custkey, o_orderkey, rn FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(row_number() OVER (
      |      PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      |  FROM orders) t
      |WHERE rn <= 2""".stripMargin

  /** Exact batched-kNN oracle (probes 0–4, top-10, rounded-sim ranking):
    * shared by e5 (in-memory exact) and e7 (disk IVF at nProbe = nList,
    * which must reproduce the exact result through the round-trip).
    */
  private val knnBatchExactSql: String =
    """WITH p AS (
      |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
      |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
      |r AS (
      |  SELECT p.probe_id, e.vec_id,
      |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 6)
      |      AS cos_sim
      |  FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
      |rk AS (
      |  SELECT probe_id, vec_id, cos_sim,
      |    row_number() OVER (PARTITION BY probe_id
      |                       ORDER BY cos_sim DESC, vec_id) AS rn
      |  FROM r)
      |SELECT probe_id, vec_id, cos_sim FROM rk WHERE rn <= 10""".stripMargin

  /** Shared e14/e16 oracle — codebook → codes → per-subspace
    * reconstruction (ordered concatenation) → full-precision-probe
    * cosine → top-10 on (rounded sim, vec_id): the whole ADC chain
    * independently rebuilt. e16 routes the identical computation
    * through the IVF-PQ disk layout at nProbe = nList, so the same SQL
    * hash-locks the round-trip.
    */
  private val pqAdcExactSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |anch AS (
      |  SELECT v AS a,
      |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
      |      - 1 AS j
      |  FROM (SELECT vec_id, v FROM e
      |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
      |dists AS (
      |  SELECT e.vec_id, t.m, anch.j,
      |    round(list_distance(
      |      e.v[CAST(t.m * 8 + 1 AS INT):CAST(t.m * 8 + 8 AS INT)],
      |      anch.a[CAST(t.m * 8 + 1 AS INT):CAST(t.m * 8 + 8 AS INT)]),
      |      9) AS d
      |  FROM e, unnest(range(8)) AS t(m), anch),
      |codes AS (
      |  SELECT vec_id, m, j AS code FROM (
      |    SELECT vec_id, m, j,
      |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
      |    FROM dists) WHERE rn = 1),
      |recon AS (
      |  SELECT c.vec_id,
      |    flatten(list(
      |      anch.a[CAST(c.m * 8 + 1 AS INT):CAST(c.m * 8 + 8 AS INT)]
      |      ORDER BY c.m)) AS r
      |  FROM codes c JOIN anch ON anch.j = c.code
      |  GROUP BY c.vec_id),
      |p AS (SELECT vec_id AS probe_id, v AS q FROM e
      |      WHERE vec_id IN (0, 1, 2, 3, 4)),
      |sc AS (
      |  SELECT p.probe_id, recon.vec_id,
      |    round(list_cosine_similarity(recon.r, p.q), 6) AS adc_sim
      |  FROM recon, p WHERE recon.vec_id <> p.probe_id)
      |SELECT probe_id, vec_id, adc_sim FROM (
      |  SELECT probe_id, vec_id, adc_sim,
      |    row_number() OVER (PARTITION BY probe_id
      |                       ORDER BY adc_sim DESC, vec_id) AS rn
      |  FROM sc) WHERE rn <= 10""".stripMargin

  private val sql3BigSpenderExists: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)""".stripMargin

  /** Oracle for e20: the full MMR trajectory unrolled — e5's exact
    * top-`shortlist` chain, pairwise candidate sims, then k greedy CTEs
    * each recomputing every penalty, every score, and the
    * (score DESC, vec_id) pick. λ fixed at 0.5 matching the engine call.
    */
  private def mmrSql(shortlist: Int, k: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH p AS (
        |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
        |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
        |sc AS (
        |  SELECT p.probe_id, e.vec_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv),
        |      6) AS rel
        |  FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
        |cand AS (
        |  SELECT probe_id, vec_id, rel FROM (
        |    SELECT probe_id, vec_id, rel,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY rel DESC, vec_id) AS rn
        |    FROM sc) WHERE rn <= $shortlist),
        |cv AS (
        |  SELECT c.probe_id, c.vec_id, CAST(e.embedding AS DOUBLE[]) AS v
        |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id),
        |pairs AS (
        |  SELECT a.probe_id, a.vec_id AS cand_id, b.vec_id AS picked_id,
        |    round(list_cosine_similarity(a.v, b.v), 6) AS psim
        |  FROM cv a JOIN cv b
        |    ON a.probe_id = b.probe_id AND a.vec_id <> b.vec_id),
        |s1 AS (
        |  SELECT probe_id, vec_id, rel, 1 AS mmr_rank, rel AS score FROM (
        |    SELECT probe_id, vec_id, rel,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY rel DESC, vec_id) AS rn
        |    FROM cand) WHERE rn = 1),
        |sel1 AS (SELECT probe_id, vec_id FROM s1)""".stripMargin
    for (i <- 2 to k) {
      sb ++= s""",
        |pen$i AS (
        |  SELECT pr.probe_id, pr.cand_id, max(pr.psim) AS maxpen
        |  FROM pairs pr JOIN sel${i - 1} s
        |    ON s.probe_id = pr.probe_id AND s.vec_id = pr.picked_id
        |  GROUP BY 1, 2),
        |c$i AS (
        |  SELECT c.probe_id, c.vec_id, c.rel,
        |    round(0.5 * c.rel - 0.5 * n.maxpen, 6) AS score
        |  FROM cand c
        |  JOIN pen$i n ON n.probe_id = c.probe_id AND n.cand_id = c.vec_id
        |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
        |    WHERE s.probe_id = c.probe_id AND s.vec_id = c.vec_id)),
        |s$i AS (
        |  SELECT probe_id, vec_id, rel, $i AS mmr_rank, score FROM (
        |    SELECT probe_id, vec_id, rel, score,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY score DESC, vec_id) AS rn
        |    FROM c$i) WHERE rn = 1),
        |sel$i AS (SELECT probe_id, vec_id FROM sel${i - 1}
        |  UNION ALL SELECT probe_id, vec_id FROM s$i)""".stripMargin
    }
    sb ++= (1 to k).map(i => s"SELECT * FROM s$i")
      .mkString("\n", "\nUNION ALL\n", "")
    sb.toString
  }

  /** Shared CTE chain for the g30/g46 oracles: depth-bounded all-source
    * reachability on the g30 fixture, folded to the neighborhood
    * function `nf(h LONG, nf LONG)` for h ∈ [0, 4].
    */
  private val anfNfCtes: String =
    s"""${portableGraphSql(300, 1500, "g30")},
       |verts AS (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM pe UNION ALL SELECT dst FROM pe)),
       |reach(u, w, d) AS (
       |  SELECT id, id, 0 FROM verts
       |  UNION
       |  SELECT r.u, e.dst, r.d + 1
       |  FROM reach r JOIN pe e ON e.src = r.w WHERE r.d < 4),
       |md AS (SELECT u, w, min(d) AS d FROM reach GROUP BY u, w),
       |nf AS (
       |  SELECT CAST(t.h AS BIGINT) AS h,
       |    CAST(sum(CASE WHEN md.d <= t.h THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nf
       |  FROM md, unnest(range(5)) t(h) GROUP BY 1)""".stripMargin

  /** Oracle for g45: both Brandes passes unrolled — forward CTEs carry
    * (seed, id, σ) per level (σ an exact integer sum, visited set
    * materialized per level), backward CTEs replay the dependency
    * recurrence level by level; final betweenness rounded at 6 dp after
    * the undirected halving.
    */
  /** The shared forward-BFS CTE chain of the g45/g51 oracles: the
    * portable graph, its symmetric dedup'd edges, the nSeeds smallest
    * vertices as seeds, and per-level frontiers `f0..f$depth` carrying
    * exact σ path counts (level = shortest distance).
    */
  private def bfsForwardCtes(
      nV: Long, nE: Long, salt: String, nSeeds: Int, depth: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${portableGraphSql(nV, nE, salt)},\n"
    sb ++=
      s"""ue AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM pe WHERE src <> dst),
        |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM ue
        |  UNION ALL SELECT v, u FROM ue),
        |verts AS (SELECT DISTINCT id FROM
        |  (SELECT src AS id FROM pe UNION ALL SELECT dst FROM pe) t),
        |sd AS (SELECT id AS seed FROM verts ORDER BY id LIMIT $nSeeds),
        |f0 AS (SELECT seed, seed AS id, CAST(1 AS BIGINT) AS sig FROM sd),
        |vis0 AS (SELECT seed, id FROM f0)""".stripMargin
    for (l <- 1 to depth) {
      sb ++= s""",
        |f$l AS MATERIALIZED (
        |  SELECT a.seed, a.id, CAST(sum(a.sig) AS BIGINT) AS sig FROM (
        |    SELECT f.seed, s.dst AS id, f.sig
        |    FROM f${l - 1} f JOIN sym s ON s.src = f.id) a
        |  WHERE NOT EXISTS (SELECT 1 FROM vis${l - 1} v
        |    WHERE v.seed = a.seed AND v.id = a.id)
        |  GROUP BY 1, 2),
        |vis$l AS MATERIALIZED (SELECT seed, id FROM vis${l - 1}
        |  UNION ALL SELECT seed, id FROM f$l)""".stripMargin
    }
    sb.toString
  }

  /** Oracle for g51: the forward chain, then
    * `H(v) = Σ_{levels l ≥ 1} 1/l` per (seed, id) first-visit — the
    * level IS the shortest distance, so no extra recursion is needed.
    */
  private def harmonicSql(
      nV: Long, nE: Long, salt: String, nSeeds: Int, depth: Int): String =
    bfsForwardCtes(nV, nE, salt, nSeeds, depth) +
      "\nSELECT id, round(sum(1.0 / lvl), 6) AS harm_r FROM (" +
      (1 to depth).map(l =>
        s"SELECT seed, id, CAST($l AS DOUBLE) AS lvl FROM f$l")
        .mkString("\n", "\nUNION ALL\n", "\n") +
      ") GROUP BY 1"

  private def brandesSql(
      nV: Long, nE: Long, salt: String, nSeeds: Int, depth: Int): String = {
    val sb = new StringBuilder
    sb ++= bfsForwardCtes(nV, nE, salt, nSeeds, depth)
    sb ++= s""",
      |b$depth AS (SELECT seed, id, CAST(0 AS DOUBLE) AS delta
      |  FROM f$depth)""".stripMargin
    for (l <- (depth - 1) to 0 by -1) {
      sb ++= s""",
        |b$l AS MATERIALIZED (
        |  SELECT c.seed, c.id, coalesce(sc.delta, 0.0) AS delta
        |  FROM f$l c LEFT JOIN (
        |    SELECT x.seed, x.vid, sum(
        |      CAST(x.vsig AS DOUBLE) / x.wsig * (1.0 + x.wdelta)) AS delta
        |    FROM (
        |      SELECT f.seed, f.id AS vid, f.sig AS vsig,
        |        w.sig AS wsig, bw.delta AS wdelta
        |      FROM f$l f
        |      JOIN sym s ON s.src = f.id
        |      JOIN f${l + 1} w ON w.seed = f.seed AND w.id = s.dst
        |      JOIN b${l + 1} bw ON bw.seed = f.seed AND bw.id = s.dst
        |    ) x GROUP BY 1, 2) sc
        |  ON sc.seed = c.seed AND sc.vid = c.id)""".stripMargin
    }
    sb ++= "\nSELECT id, round(sum(delta) / 2.0, 6) AS bc_r FROM ("
    sb ++= (0 to depth).map(l => s"SELECT seed, id, delta FROM b$l")
      .mkString("\n", "\nUNION ALL\n", "\n")
    sb ++= ") WHERE delta > 0 AND id <> seed GROUP BY 1"
    sb.toString
  }

  /** Oracle for d35: the BPE merge loop unrolled — per round, every
    * adjacent pair count (overlapping positions all count), the
    * (count DESC, pair ASC) argmax, and the left-to-right
    * NON-overlapping re-tokenization replayed as a recursive
    * position-walk per word (state = (pos, acc); a match consumes two
    * positions, anything else one).
    */
  private def bpeSql(k: Int): String =
    bpeCtes(k) + "\n" + (1 to k).map(r =>
      s"SELECT $r AS m_rank, lft AS m_left, rgt AS m_right, " +
        s"CAST(pcnt AS BIGINT) AS pair_count FROM b$r")
      .mkString("\nUNION ALL\n")

  /** Oracle for d54: the SAME unrolled training chain, but the answer
    * is the final re-tokenized word table `s\$k` — corpus subword
    * frequency after applying all k merges.
    */
  private def bpeEncodeSql(k: Int): String =
    bpeCtes(k) +
      s"""
         |SELECT sym AS subword, CAST(sum(cnt) AS BIGINT) AS cnt
         |FROM (SELECT cnt, unnest(syms) AS sym FROM s$k) t
         |GROUP BY 1""".stripMargin

  private def bpeCtes(k: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH RECURSIVE w0 AS (
        |  SELECT w, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        |    FROM documents) t
        |  WHERE length(w) > 0 GROUP BY 1),
        |s0 AS (SELECT w, cnt, split(w, '') AS syms FROM w0)""".stripMargin
    for (r <- 1 to k) {
      sb ++= s""",
        |p$r AS (
        |  SELECT syms[CAST(t.i + 1 AS INT)] AS lft,
        |    syms[CAST(t.i + 2 AS INT)] AS rgt, sum(cnt) AS pcnt
        |  FROM s${r - 1}, unnest(range(len(syms) - 1)) AS t(i)
        |  GROUP BY 1, 2),
        |b$r AS MATERIALIZED (
        |  SELECT lft, rgt, pcnt FROM p$r
        |  ORDER BY pcnt DESC, lft, rgt LIMIT 1),
        |-- bb: b or a NULL sentinel when pairs are EXHAUSTED before
        |-- round k — the NULL never equals a symbol, so the walk passes
        |-- syms through unchanged (the engine's exhausted=true branch);
        |-- without it the cross join with an empty b would empty s$r
        |-- and the d54 encode oracle with it (d35 is unaffected: an
        |-- empty b contributes no merge row either way)
        |bb$r AS (
        |  SELECT lft, rgt FROM b$r
        |  UNION ALL SELECT NULL, NULL WHERE NOT EXISTS
        |    (SELECT 1 FROM b$r)),
        |rec$r AS (
        |  SELECT s.w, s.cnt, s.syms, CAST(1 AS BIGINT) AS pos,
        |    CAST([] AS VARCHAR[]) AS acc
        |  FROM s${r - 1} s
        |  UNION ALL
        |  SELECT rec.w, rec.cnt, rec.syms,
        |    CASE WHEN rec.pos < len(rec.syms)
        |        AND rec.syms[CAST(rec.pos AS INT)] = b.lft
        |        AND rec.syms[CAST(rec.pos + 1 AS INT)] = b.rgt
        |      THEN rec.pos + 2 ELSE rec.pos + 1 END,
        |    CASE WHEN rec.pos < len(rec.syms)
        |        AND rec.syms[CAST(rec.pos AS INT)] = b.lft
        |        AND rec.syms[CAST(rec.pos + 1 AS INT)] = b.rgt
        |      THEN list_append(rec.acc, b.lft || b.rgt)
        |      ELSE list_append(rec.acc, rec.syms[CAST(rec.pos AS INT)]) END
        |  FROM rec$r rec, bb$r b
        |  WHERE rec.pos <= len(rec.syms)),
        |s$r AS MATERIALIZED (
        |  SELECT w, cnt, acc AS syms FROM rec$r
        |  WHERE pos > len(syms))""".stripMargin
    }
    sb.toString
  }

  /** Shared d24-gate CTE block for the p1/p4 oracles: tokenization,
    * the five quality metrics, the fixed-order keep rule, and the kept
    * slice `k` (full document rows of the survivors).
    */
  private val gateCtes: String =
    """toks AS (
      |  SELECT doc_id, text,
      |    regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    len(tk) AS n_tokens,
      |    CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
      |      / len(tk) AS avg_len,
      |    CAST(len(list_filter(tk,
      |        x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
      |      / len(tk) AS stop_r,
      |    CAST(length(text)
      |         - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
      |         AS DOUBLE) / length(text) AS punct_r,
      |    1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS dup_r
      |  FROM toks),
      |keep_ids AS (
      |  SELECT doc_id FROM m
      |  WHERE NOT (n_tokens < 5) AND NOT (avg_len > 12.0)
      |    AND NOT (stop_r < 0.01) AND NOT (punct_r > 0.2)
      |    AND NOT (dup_r > 0.6)),
      |k AS (SELECT d.* FROM documents d JOIN keep_ids USING (doc_id))""".stripMargin

  /** Shared e19/e21 oracle: e5's exact-kNN chain with the corpus
    * predicate applied before any distance — probes come from the
    * unfiltered table. e21 routes the identical computation through the
    * disk IVF layout at nProbe = nList.
    */
  private val filteredKnnSql: String =
    """WITH p AS (
      |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
      |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
      |r AS (
      |  SELECT p.probe_id, e.vec_id,
      |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv),
      |      6) AS cos_sim
      |  FROM embeddings e, p
      |  WHERE e.vec_id <> p.probe_id AND e.label IN (2, 7)),
      |rk AS (
      |  SELECT probe_id, vec_id, cos_sim,
      |    row_number() OVER (PARTITION BY probe_id
      |                       ORDER BY cos_sim DESC, vec_id) AS rn
      |  FROM r)
      |SELECT probe_id, vec_id, cos_sim FROM rk WHERE rn <= 10""".stripMargin

  /** Shared hash-embedding CTE chain for the d34/p4 oracles: token
    * explode → md5 dimension + sign draws → integer component sums →
    * dense grid (zero-filled) → L2-normalize + 6-dp round. `src` is the
    * CTE the documents come from. Produces CTEs `he_tok … emb`
    * (`emb(doc_id, e)`); integer-valued doubles keep Σv² exact, so the
    * norm is order-independent cross-engine.
    */
  private def hashEmbedCtes(src: String, dim: Int): String =
    s"""he_tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |  FROM $src WHERE length(trim(text)) > 0),
       |he_h AS (
       |  SELECT doc_id,
       |    CAST(CAST(concat('0x', substr(md5(concat('he-v1', ':', t)), 1, 8))
       |      AS BIGINT) % $dim AS INT) AS d,
       |    (CAST(concat('0x', substr(md5(concat('he-v1', ':', t)), 9, 8))
       |      AS BIGINT) % 2) * 2 - 1 AS sgn
       |  FROM he_tok),
       |he_sums AS (SELECT doc_id, d, sum(sgn) AS v FROM he_h GROUP BY 1, 2),
       |he_grid AS (
       |  SELECT i.doc_id, CAST(gd.d AS INT) AS d
       |  FROM (SELECT DISTINCT doc_id FROM he_sums) i,
       |    unnest(range($dim)) AS gd(d)),
       |he_dense AS (
       |  SELECT g.doc_id, g.d, CAST(coalesce(s.v, 0) AS DOUBLE) AS v
       |  FROM he_grid g LEFT JOIN he_sums s
       |    ON s.doc_id = g.doc_id AND s.d = g.d),
       |he_vecs AS (
       |  SELECT doc_id, array_agg(v ORDER BY d) AS raw,
       |    sqrt(sum(v * v)) AS nrm
       |  FROM he_dense GROUP BY 1),
       |emb AS (
       |  SELECT doc_id, list_transform(raw, x -> round(x / nrm, 6)) AS e
       |  FROM he_vecs WHERE nrm > 0)""".stripMargin

  /** Shared banding CTE block (d5c's chain through the candidate set):
    * portable shingle digests `sh`, 16 md5 minhashes, 4 bands, distinct
    * candidate pairs `cand`. Consumed by [[entityGroupCtes]] and the
    * d37 containment oracle.
    */
  private val bandingCtes: String =
    """tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(greatest(len(tk) - 2, 1)),
      |      i -> CAST(concat('0x',
      |        substr(md5(array_to_string(tk[i+1:i+3], ' ')), 1, 15))
      |        AS BIGINT))) AS sh
      |  FROM tk),
      |sig AS (
      |  SELECT doc_id,
      |    list_transform(range(16), i ->
      |      list_min(list_transform(sh, s ->
      |        md5(concat(CAST(i AS VARCHAR), ':', CAST(s AS VARCHAR)))))) AS sig
      |  FROM sh),
      |band AS (
      |  SELECT doc_id, CAST(t.b AS INTEGER) AS band_no,
      |    array_to_string(sig[t.b*4+1 : t.b*4+4], '|') AS band_key
      |  FROM sig, unnest(range(4)) AS t(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM band a JOIN band b
      |    ON a.band_no = b.band_no AND a.band_key = b.band_key
      |   AND a.doc_id < b.doc_id)""".stripMargin

  /** Shared CTE block for the p2/d33 oracles: d5c's portable banding →
    * d5b's shingle-Jaccard verify at 0.8 → the HashMin recursion `r`
    * over verified pairs (consumers aggregate `min(m)` per id).
    */
  private val entityGroupCtes: String =
    s"""$bandingCtes,
      |ver AS (
      |  SELECT c.id_a, c.id_b FROM cand c
      |  JOIN sh a ON a.doc_id = c.id_a
      |  JOIN sh b ON b.doc_id = c.id_b
      |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.8),
      |ed AS (SELECT id_a AS u, id_b AS v FROM ver
      |       UNION SELECT id_b, id_a FROM ver),
      |nodes AS (SELECT DISTINCT u AS id FROM ed),
      |r(id, m) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.u, r.m FROM ed e JOIN r ON e.v = r.id)""".stripMargin

  /** sql5: LATERAL correlated subquery in FROM — the top-N-per-group
    * idiom in its SQL-standard form (each customer row drives a
    * correlated ordered-limit scan of its orders; Catalyst decorrelates
    * to a ranked window). ONE dialect-neutral string, run verbatim by
    * both engines; deterministic via the (price DESC, key) tie-break.
    */
  private val sql5LateralTopOrders: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice
      |  FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey
      |  LIMIT 2) t""".stripMargin

  /** sql4: RECURSIVE CTE (Spark 4's WITH RECURSIVE) — each customer's
    * orders as a linked list (lead() builds the next pointer), traversed
    * by the recursion with a per-hop depth and running spend. A
    * linked-list walk is the UNION-ALL-safe recursion shape: one
    * successor per row, so the working set never multiplies (Spark does
    * not yet allow UNION-distinct recursion). ONE dialect-neutral string
    * run verbatim by BOTH engines; the float accumulation is a single
    * chain per row — no engine-ordered sum anywhere.
    */
  private val sql4RecursiveChain: String =
    """WITH RECURSIVE nxt AS (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey)
      |      AS next_key,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey)
      |      AS rn
      |  FROM orders),
      |chain AS (
      |  SELECT o_custkey, o_orderkey, next_key,
      |    0 AS depth, o_totalprice AS cum
      |  FROM nxt WHERE rn = 1
      |  UNION ALL
      |  SELECT n.o_custkey, n.o_orderkey, n.next_key,
      |    c.depth + 1, c.cum + n.o_totalprice
      |  FROM chain c JOIN nxt n ON n.o_orderkey = c.next_key)
      |SELECT o_custkey, o_orderkey, CAST(depth AS INT) AS depth,
      |  round(cum, 4) AS cum_spend
      |FROM chain""".stripMargin

  /** Small shared summary for the g20 triangle-orientation bench pair:
    * both sides must produce the identical frame (total triangles,
    * vertices in ≥1 triangle, the hub's own count) so even the
    * rows-only driver check sees the twins agree.
    */
  private def triangleSummary(perVertex: DataFrame): DataFrame =
    perVertex.agg(
      (sum(col("n_triangles")) / 3).cast("long").as("total_triangles"),
      sum(when(col("n_triangles") > 0, 1L).otherwise(0L))
        .as("n_in_triangle"),
      max(col("n_triangles")).as("max_per_vertex"))

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- graph surface (SURVEY §2.1 O1-O19) ----
    "g1_edges" -> ((s, dir) => EdgeListReader.fromOrders(s, dir)),
    "g2_vertex_count" -> { (s, dir) =>
      GraphBuilder
        .vertices(EdgeListReader.fromOrders(s, dir))
        .agg(count("*").as("n_vertices"))
    },
    "g3_degrees" -> ((s, dir) =>
      GraphBuilder.degrees(EdgeListReader.fromOrders(s, dir))),
    "g4_dangling" -> { (s, dir) =>
      // single pass over the degree frame: no driver-side count round-trip
      GraphBuilder
        .outDegrees(EdgeListReader.fromOrders(s, dir))
        .agg(
          sum(when(col("outdeg") === 0, 1L).otherwise(0L)).as("n_dangling"),
          round(
            sum(when(col("outdeg") === 0, 1.0).otherwise(0.0)) / count("*"),
            9).as("init_dangling_mass"))
    },
    "g5_pagerank_k4" -> { (s, dir) =>
      val res =
        PageRank.runFixed(s, EdgeListReader.fromOrdersCached(s, dir), k = 4)
      res.ranks.select(col("id"), round(col("rank"), 9).as("rank_r"))
    },
    "g6_pagerank_converged" -> { (s, dir) =>
      // convergence-mode run at reference defaults; the oracle reproduces
      // the stopping rule in SQL (at the gate's sf the threshold is never
      // met, so this pins the maxIter-cap path; g6b pins the early stop)
      val res = PageRank.run(s, EdgeListReader.fromOrdersCached(s, dir))
      res.ranks.select(col("id"), round(col("rank"), 9).as("rank_r"))
    },
    "g6b_pagerank_earlystop" -> { (s, dir) =>
      // tolerance chosen so the run STOPS EARLY at the gate's sf0.01
      // (avgDiff crosses 2.2e-4 at iteration 8, margins ≥1.5e-5 on both
      // neighbours) — exercises the threshold+minIter branch of O16 that
      // the default-tolerance g6 never reaches
      val res = PageRank.run(
        s, EdgeListReader.fromOrdersCached(s, dir),
        PageRankConfig(tol = 2.2e-4))
      res.ranks.select(col("id"), round(col("rank"), 9).as("rank_r"))
    },
    "g7_top50" -> { (s, dir) =>
      val res =
        PageRank.runFixed(s, EdgeListReader.fromOrdersCached(s, dir), k = 4)
      res.ranks
        .select(col("id"), round(col("rank"), 9).as("rank_r"))
        .orderBy(desc("rank_r"), asc("id"))
        .limit(50)
    },
    "g8_degree_histogram" -> { (s, dir) =>
      GraphBuilder
        .degrees(EdgeListReader.fromOrders(s, dir))
        .groupBy(col("outdeg"))
        .agg(count("*").as("n_nodes"))
    },
    "g12_degree_skew" -> { (s, dir) =>
      // max/mean degree skew — the reference README's data-distribution
      // analysis (README.md:410-416)
      GraphBuilder
        .degrees(EdgeListReader.fromOrders(s, dir))
        .agg(
          max(col("indeg")).as("max_indeg"),
          round(avg(col("indeg")), 6).as("mean_indeg"),
          round(max(col("indeg")) / avg(col("indeg")), 6).as("in_skew"),
          max(col("outdeg")).as("max_outdeg"),
          round(avg(col("outdeg")), 6).as("mean_outdeg"),
          round(max(col("outdeg")) / avg(col("outdeg")), 6).as("out_skew"))
    },
    "g11_adjacency" -> { (s, dir) =>
      // adjacency build (O4) with canonical sort; outlinks emitted as a
      // comma string so the oracle compare is list-format-agnostic
      GraphBuilder
        .adjacency(EdgeListReader.fromOrders(s, dir))
        .select(
          col("id"),
          concat_ws(",", col("outlinks")).as("outlinks_str"))
    },
    "g5b_pagerank_k1" -> { (s, dir) =>
      val res =
        PageRank.runFixed(s, EdgeListReader.fromOrdersCached(s, dir), k = 1)
      res.ranks.select(col("id"), round(col("rank"), 9).as("rank_r"))
    },
    "g5c_pagerank_k10" -> { (s, dir) =>
      val res =
        PageRank.runFixed(s, EdgeListReader.fromOrdersCached(s, dir), k = 10)
      res.ranks.select(col("id"), round(col("rank"), 9).as("rank_r"))
    },
    "g56_pagerank_warm" -> { (s, dir) =>
      // INCREMENTAL (warm-start) PageRank — the capability a
      // daily-refreshed 100 TB graph needs most: yesterday's ranks (here
      // k=3 over the graph MINUS a deterministic ~20% edge delta) seed
      // today's loop over the full graph — new vertices at 1/N, the
      // vector renormalized to mass 1, the initial dangling scan over
      // the seeded state — and the O16 recurrence runs k=2 more rounds.
      // Fixed-k unroll on both phases keeps it hash-green (the g5
      // discipline applied twice); the converged-mode payoff (warm
      // reaches the g6 tolerance in strictly fewer iterations than
      // cold) is differential-locked in WarmStartSpec.
      val all = EdgeListReader.fromOrdersCached(s, dir)
      val old = all.filter((col("src") + col("dst")) % 5 =!= 0)
      val prior = PageRank.runFixed(s, old, k = 3).ranks
      val res = PageRank.runFixed(s, all, k = 2, initRanks = Some(prior))
      res.ranks.select(col("id"), round(col("rank"), 9).as("rank_r"))
    },
    "g10_trace_k4" -> { (s, dir) =>
      // per-iteration metric trace (Q9: danglingSum, avgDiff, ΣPR) —
      // the numeric core of the reference's report side channel
      val res =
        PageRank.runFixed(s, EdgeListReader.fromOrdersCached(s, dir), k = 4)
      val sp = s
      import sp.implicits._
      res.trace
        .map(st => (st.iteration, st.danglingSum, st.avgDiff, st.totalPR))
        .toDF("iteration", "dangling_sum", "avg_diff", "total_pr")
        // 7 digits, not 9: this graph's dangling mass lands within an ulp
        // of an exact 1e-9 half-boundary (0.8095703125), and DuckDB's
        // parallel sum ordering flips the 9th digit run-to-run
        .select(
          col("iteration"),
          round(col("dangling_sum"), 7).as("dangling_sum"),
          round(col("avg_diff"), 7).as("avg_diff"),
          round(col("total_pr"), 7).as("total_pr"))
    },
    "g9_powerlaw_pagerank" -> { (s, dir) =>
      // bench-scale fixture: web-Google-shaped seeded power-law graph
      // (875k v / 5.1M e at sf0.1 — BASELINE.md S1 target); rows-only
      // check at verify time, per-iteration cost is the bench signal.
      // Edge-set dedup happens inside PageRank, fused into the
      // src-repartition shuffle (the generator emits raw samples).
      val res = PageRank.run(
        s, graft.sources.SyntheticGraph.s1Shaped(s, dir),
        PageRankConfig(maxIter = 3, tol = -1.0, minIter = 3))
      res.ranks.select(col("id"), round(col("rank"), 9).as("rank_r"))
    },
    "g15_components" -> { (s, dir) =>
      // weakly-connected components (GraphX HashMin Pregel) on a
      // PORTABLE md5-derived random graph — sparse, so the component
      // structure is non-trivial and the recursive-CTE oracle can
      // recompute every label (the orders-derived graph is one dense
      // bipartite blob: correct but trivial)
      val e = graft.sources.SyntheticGraph.portable(s, 600, 250, "g15")
      Dedup
        .componentsFromPairs(
          e.select(col("src").as("id_a"), col("dst").as("id_b")))
        .select(col("doc_id").as("id"), col("group_id").as("component_id"))
    },
    "g57_cc_warm" -> { (s, dir) =>
      // WARM-START connected components (g56's incremental discipline
      // applied to the dedup pipeline's grouping primitive): prior
      // labels from the graph minus a deterministic ~20% GROW-ONLY
      // edge delta seed the HashMin diffusion over the full graph —
      // sound because additions only MERGE components, so the min of
      // warm labels over a new component is exactly its true min id;
      // the warm run pays only the merge structure's rounds, not the
      // diameter (differential + removal-failure pin in WarmCcSpec).
      // Converged labels are delta-independent, so the oracle is the
      // same recursive closure as g15's.
      val all = graft.sources.SyntheticGraph.portable(s, 600, 250, "g57")
      val old = all.filter((col("src") * 31 + col("dst")) % 5 =!= 0)
      val prior = GraphBuilder.connectedComponentsDF(old)._1
      GraphBuilder.connectedComponentsDF(all, initLabels = Some(prior))._1
    },
    "g16_triangles" -> { (s, dir) =>
      // exact per-vertex triangle counts on a denser portable graph
      // (bipartite orders graph has zero triangles by construction)
      GraphBuilder.triangleCounts(
        graft.sources.SyntheticGraph.portable(s, 300, 1500, "g16"))
    },
    "g19_bfs_hops" -> { (s, dir) =>
      // directed min-hop BFS from the smallest source vertex (GraphX
      // Pregel frontier traversal — one message per improved edge per
      // round). Completes the graph-traversal operator class next to
      // g15's undirected components; the oracle re-derives min(d) per
      // vertex with a depth-bounded recursive CTE on the regenerated
      // portable graph.
      val e = graft.sources.SyntheticGraph.portable(s, 300, 1500, "g19")
      val src = e.agg(min(col("src"))).first().getLong(0)
      GraphBuilder.bfsHops(e, src, maxHops = 12)
    },
    "g32_ktruss" -> ((s, dir) =>
      // k-truss (k=4, 6 fixed peel rounds — the fixture's cascade
      // converges in 6): edge-level cohesion one level above g25's
      // vertex core; per round a degree-ordered triangle listing on
      // the shrinking edge set recomputes every edge's support. 60
      // truss edges survive from 1520; every support recomputed by the
      // unrolled oracle.
      GraphBuilder.kTruss(
        graft.sources.SyntheticGraph.portable(s, 200, 1600, "g32"),
        k = 4, rounds = 6)),
    "g34_linkpred" -> ((s, dir) =>
      // link prediction: top-50 non-adjacent distance-2 pairs by
      // Adamic–Adar, with common-neighbor count and neighborhood
      // Jaccard riding the same wedge aggregate. cn/jac are exact
      // integers/rationals; aa is a float sum rounded at 6 (the d23
      // discipline) — the oracle recomputes every score.
      GraphBuilder.linkPrediction(
        graft.sources.SyntheticGraph.portable(s, 400, 1200, "g34"),
        topN = 50)),
    "g34b_linkpred_capped" -> ((s, dir) =>
      // the degree-CAPPED link-prediction twin (approximate Adamic–Adar):
      // wedge middles of degree > 6 are filtered BEFORE the self-join, so
      // the wedge stream is bounded |V|·C(maxDeg,2) regardless of hub
      // size — the scale knob for power-law graphs where the exact g34
      // wedge sum Σ C(deg w, 2) is the operator's real cost. Endpoint
      // degrees in the Jaccard denominator stay exact; the oracle applies
      // the SAME middle filter and recomputes every score.
      GraphBuilder.linkPrediction(
        graft.sources.SyntheticGraph.portable(s, 400, 1200, "g34"),
        topN = 50, maxDeg = Some(6))),
    "g35_modularity" -> { (s, dir) =>
      // Newman modularity of the g22 LPA partition on the SAME fixture —
      // the quality score that closes the community-detection loop
      // (detect with g22, judge with g35). Integer sufficient sums
      // (intra edges, Σ D_c²) + ONE closed-form division ⇒ hash-exact
      // (the g29 discipline); the oracle re-runs the LPA chain and the
      // same sums.
      val e = graft.sources.SyntheticGraph.portable(s, 400, 1200, "g22")
      GraphBuilder.modularity(e, GraphBuilder.labelPropagation(e, 3))
    },
    "g36_walks" -> ((s, dir) =>
      // deterministic random-walk corpus (DeepWalk/node2vec data prep):
      // one walk per vertex, 8 steps, every step drawn by the portable
      // md5 hash over the sorted neighbor list — the d12/d21 sampling
      // discipline applied to traversal, so the oracle regenerates
      // every step with a row_numbered adjacency join. Walks stop at
      // sinks; per-step cost is one |walks|-row exchange against the
      // once-partitioned adjacency.
      graft.operators.Walks.randomWalks(
        graft.sources.SyntheticGraph.portable(s, 300, 900, "g36"),
        len = 8, salt = "g36")),
    "g37_clustering" -> ((s, dir) =>
      // per-vertex local clustering coefficient: g16's degree-ordered
      // triangle census + one |V|-sized degree join; lcc = 2·tri/(d(d−1))
      // is a single exact integer division (round 9, no float sums)
      GraphBuilder.clusteringCoefficients(
        graft.sources.SyntheticGraph.portable(s, 300, 1500, "g37"))),
    "g38_weighted_walks" -> { (s, dir) =>
      // weighted random walks: transition ∝ integer md5-derived edge
      // weight via an integer inverse-CDF (hmod lands in a
      // cumulative-weight interval) — no float thresholds, every step
      // regenerated by the oracle's window-cumsum join
      val e = graft.sources.SyntheticGraph.portable(s, 300, 900, "g38")
        .distinct()
        .withColumn("w",
          lit(1L) + pmod(
            conv(substring(md5(concat_ws(":",
              col("src").cast("string"), col("dst").cast("string"),
              lit("g38w"))), 1, 8), 16, 10).cast("long"),
            lit(5L)))
      graft.operators.Walks.weightedRandomWalks(e, len = 8, salt = "g38")
    },
    "d29_collocations" -> ((s, dir) =>
      // Church–Hanks PMI collocations: top-20 adjacent token pairs by
      // pointwise mutual information with a min-count floor — the
      // vocabulary-analysis twin of d23's bigram LM on the same
      // one-explode pair stream; count tables join hint-free (d17
      // discipline), N and B ride as 1-row frames
      graft.operators.TextOps.collocations(
        t(s, dir, "documents"), minCount = 5, topN = 20)),
    "q27_window_stats" -> { (s, dir) =>
      // the distribution-window family completing q18's ranked family:
      // ntile (equal-height buckets), percent_rank, cume_dist — all
      // deterministic rationals once the ordering is total (price desc,
      // then key), rounded at 6 dp on both sides
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"))
    },
    "st12_windowed_approx" -> ((s, dir) =>
      // watermarked windowed APPROX distinct users (HLL++ sketch state
      // per group instead of user-cardinality-sized exact state — the
      // streaming-dashboard cardinality shape); batch twin IS the same
      // code path. Sketch estimates are engine-defined ⇒ rows-only;
      // the streaming≡batch and rsd contracts are unit-tested.
      graft.streaming.EventStreams.windowedApproxDistinct(
        graft.sources.Tables.events(s, dir))),
    "g33_harmonic" -> ((s, dir) =>
      // HyperBall's second output: depth-bounded harmonic centrality
      // from the same sketch recurrence as g30 — each newly-reached
      // vertex contributes 1/distance; top-20 by (rounded score, id).
      // Exact in the sketch's coupon regime, so the oracle recomputes
      // every score from exact distance counts.
      graft.operators.Anf.harmonicCentrality(
        graft.sources.SyntheticGraph.portable(s, 300, 1500, "g33"),
        maxH = 4, topN = 20)),
    "q28_gapfill" -> ((s, dir) =>
      // time-series GAP FILL / resample: an explicit hourly grid per
      // user (the observations a model trains on are regular; events
      // are not), last event value per (user, hour), forward-filled
      // with an ignore-nulls running last() — hours before a user's
      // first event stay NULL. Grid generated, never scanned; one
      // window per user serves the fill.
      graft.operators.TemporalJoins.gapFillHourly(
        graft.sources.Tables.events(s, dir))),
    "q29_funnel" -> { (s, dir) =>
      // ordered event funnel (view → click → purchase, strictly later
      // at each stage — the product-analytics sequential pattern):
      // each stage is one map-side-combined min(ts) aggregate keyed on
      // user, joined to the previous stage's |users|-sized frame; no
      // windows, no per-user sort, all-integer output
      val ev = graft.sources.Tables.events(s, dir)
      val v1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val v2 = ev.filter(col("event_type") === "click")
        .join(v1, Seq("user_id")).filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val v3 = ev.filter(col("event_type") === "purchase")
        .join(v2, Seq("user_id")).filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      ev.agg(countDistinct(col("user_id")).as("users"))
        .select(lit("0_all").as("stage"), col("users"))
        .union(v1.agg(count("*").as("users"))
          .select(lit("1_view").as("stage"), col("users")))
        .union(v2.agg(count("*").as("users"))
          .select(lit("2_click").as("stage"), col("users")))
        .union(v3.agg(count("*").as("users"))
          .select(lit("3_purchase").as("stage"), col("users")))
    },
    "q30_retention" -> { (s, dir) =>
      // cohort retention matrix (the activation dashboard): cohort =
      // ISO week of a user's first event, cell = distinct users from
      // that cohort active N weeks later. One first-event aggregate +
      // one |users|-sized join + one distinct-count aggregate — day
      // arithmetic on Monday-truncated dates is exactly divisible by 7,
      // so the offset is integer-exact cross-engine
      val ev = graft.sources.Tables.events(s, dir)
        .select(
          col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("wk"))
      val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      ev.join(first, Seq("user_id"))
        .groupBy(
          col("cohort"),
          (datediff(col("wk"), col("cohort")) / 7).cast("long")
            .as("week_offset"))
        .agg(countDistinct(col("user_id")).as("users"))
        .select(
          date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
          col("week_offset"), col("users"))
    },
    "q31_session_paths" -> { (s, dir) =>
      // session path analysis (the "what do users do next" product
      // question): top-20 consecutive event-type bigrams WITHIN a gap
      // session — st1's lag/cumsum session assignment, a lead() on the
      // same (ts, event_id)-total-ordered window, pairs crossing a
      // session boundary dropped, one map-side-combined pair count,
      // TakeOrdered cut on (count, pair)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gapMs = 30 * 60 * 1000L
      graft.sources.Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn(
          "new_session",
          when(
            col("prev_ts").isNull ||
              (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs,
            1L).otherwise(0L))
        .withColumn(
          "session_no",
          sum(col("new_session")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .withColumn("next_session", lead(col("session_no"), 1).over(w))
        .filter(
          col("next_type").isNotNull &&
            col("next_session") === col("session_no"))
        .groupBy(
          col("event_type").as("t1"), col("next_type").as("t2"))
        .agg(count("*").as("n"))
        .orderBy(desc("n"), asc("t1"), asc("t2"))
        .limit(20)
    },
    "p3_graph_features" -> { (s, dir) =>
      // graph FEATURE-ENGINEERING pipeline (the GraphML backfill shape:
      // one vertex feature table feeding a downstream model): PageRank
      // (4 reference iterations), in/out-degree, exact triangle count,
      // and 3-core membership composed into ONE per-vertex frame —
      // every feature column recomputed end to end by the oracle's
      // combined CTE chain. Joins are |V|-sized; each operator keeps
      // its own audited plan.
      // deduped ONCE up front so every feature sees set semantics
      // (PageRank dedups internally; degrees/triangles must agree)
      val e = graft.sources.SyntheticGraph.portable(s, 400, 1200, "p3")
        .distinct()
      val ranks = PageRank.runFixed(s, e, k = 4).ranks
        .select(col("id"), round(col("rank"), 9).as("rank_r"))
      val core = GraphBuilder.kCore(e, k = 3, rounds = 6)
        .select(col("id"), lit(1L).as("in_core"))
      ranks
        .join(GraphBuilder.degrees(e), Seq("id"))
        .join(GraphBuilder.triangleCounts(e), Seq("id"))
        .join(core, Seq("id"), "left_outer")
        .select(
          col("id"), col("rank_r"), col("outdeg"), col("indeg"),
          col("n_triangles"),
          coalesce(col("in_core"), lit(0L)).as("in_core"))
    },
    "g39_coarsen" -> { (s, dir) =>
      // community coarsening (Louvain's aggregation phase): contract
      // the g22 LPA communities to supervertices, aggregate inter- and
      // intra-community edge counts — the contraction the next
      // multilevel round recurses on; all-integer, |communities|-sized
      val e = graft.sources.SyntheticGraph.portable(s, 400, 1200, "g22")
      GraphBuilder.coarsen(e, GraphBuilder.labelPropagation(e, 3))
    },
    "g52_louvain" -> { (s, dir) =>
      // LOUVAIN proper — the modularity-gain local-move phase (Blondel
      // et al. 2008) in the deterministic red-black formulation
      // (operators/Louvain.scala): 6 synchronous gain rounds on the
      // g22 ER fixture, with the g35 Newman-Q of the result riding as
      // 1-row broadcast columns. Every move decision is an exact
      // integer (2m·Δk − k_v·ΔD term), so the oracle replays the whole
      // trajectory decision for decision. LPA on this fixture floods
      // to Q ≈ −0.004 (g35); the gain pass finds real structure
      // (Q ≈ 0.15 after one level, 0.33 multileveled — LouvainSpec
      // pins the ≥ differential).
      val e = graft.sources.SyntheticGraph.portable(s, 400, 1200, "g22")
      val lab = graft.operators.Louvain.moveRounds(e, 6)
      val qv = GraphBuilder.modularity(e, lab)
        .select(col("n_comms"), col("q_r"))
      lab.crossJoin(broadcast(qv))
    },
    "g52b_louvain_multilevel" -> { (s, dir) =>
      // MULTILEVEL Louvain — the complete algorithm: gain moves →
      // weighted contraction (self-loops carrying intra-weight) → gain
      // moves on the supergraph → labels projected back to the fine
      // vertices; 2 levels × 6 rounds on the planted 2-block fixture.
      // The second level runs the SAME weighted gain pass on the
      // contracted graph — at 100 TB that level is |communities| wide,
      // which is the entire point of contraction. At 5 levels this
      // recovers the planted 2-block partition exactly (Q ties LPA's
      // 0.499999639 — LouvainSpec); 2 levels keep the unrolled oracle
      // bounded while still hash-locking contraction + weighted moves.
      val e = graft.sources.SyntheticGraph.portableBlocks(s, 200, 600, "g22b")
      val lab = graft.operators.Louvain.multilevel(e, 6, 2)
      val qv = GraphBuilder.modularity(e, lab)
        .select(col("n_comms"), col("q_r"))
      lab.crossJoin(broadcast(qv))
    },
    "g58_louvain_warm" -> { (s, dir) =>
      // WARM-START Louvain (the g56/g57 incremental discipline applied
      // to community detection — verdict r14 #3): yesterday's labels
      // (4 gain rounds on the graph MINUS a deterministic ~20% edge
      // delta) seed today's level-0 assignment on the full graph — new
      // vertices as singletons — and the move phase re-enters for 4
      // more rounds. Fixed-budget unroll on both phases keeps the
      // whole trajectory hash-green (the g52 discipline applied
      // twice); the converged-mode payoff (strictly fewer rounds to
      // the fixpoint) is differential-locked in LouvainSpec. Unlike
      // warm CC there is NO grow-only restriction: gain moves always
      // escape a stale seed (see Louvain.moveRoundsWeightedWarm).
      val e = graft.sources.SyntheticGraph.portableBlocks(s, 200, 600, "g22b")
      val we = graft.operators.Louvain.fromEdges(e)
      val weOld = we.filter((col("u") + col("v")) % 5 =!= 0)
      val prior = graft.operators.Louvain.moveRoundsWeighted(weOld, 4)
      val lab = graft.operators.Louvain.moveRoundsWeightedWarm(we, 4, prior)
      val qv = GraphBuilder.modularity(e, lab)
        .select(col("n_comms"), col("q_r"))
      lab.crossJoin(broadcast(qv))
    },
    "g58b_louvain_warm_ladder" -> { (s, dir) =>
      // WARM MULTILEVEL ladder — g58's seed carried through the FULL
      // algorithm: level 0 re-enters warm from the prior labels (4
      // rounds), contraction, then a cold level on the supergraph (4
      // rounds), labels projected back. Fixed budgets on every phase
      // keep the three-chain trajectory (prior → warm level → cold
      // level) hash-green end to end, the g52b discipline seeded.
      val e = graft.sources.SyntheticGraph.portableBlocks(s, 200, 600, "g22b")
      val we = graft.operators.Louvain.fromEdges(e)
      val weOld = we.filter((col("u") + col("v")) % 5 =!= 0)
      val prior = graft.operators.Louvain.moveRoundsWeighted(weOld, 4)
      val lab = graft.operators.Louvain.multilevelWarm(e, prior, 4, 2)
      val qv = GraphBuilder.modularity(e, lab)
        .select(col("n_comms"), col("q_r"))
      lab.crossJoin(broadcast(qv))
    },
    "g58c_louvain_warm_converged" -> { (s, dir) =>
      // the WARM ladder run TO CONVERGENCE (r15 verdict #5 — the form
      // a daily community refresh actually runs: g58b's fixed unroll
      // proved the trajectory, this row pins the self-determined
      // depth): level 0 re-enters warm from the prior labels and stops
      // on its own stability, the contracted levels run the cold
      // ladder, and `levels_run` — the expensive dimension — rides the
      // hash. Oracle: the fixed 8-round unroll at the observed depth
      // (capped levels run exactly 8 in both, stabilized levels no-op
      // their tails, post-stop levels replay identity — the g52c
      // argument, warm-seeded).
      val e = graft.sources.SyntheticGraph.portableBlocks(s, 200, 600, "g22b")
      val we = graft.operators.Louvain.fromEdges(e)
      val weOld = we.filter((col("u") + col("v")) % 5 =!= 0)
      val prior = graft.operators.Louvain.moveRoundsWeighted(weOld, 4)
      val (lab, levels) = graft.operators.Louvain.multilevelConvergedWarm(
        e, prior, maxRoundsPerLevel = 8, maxLevels = 12)
      val qv = GraphBuilder.modularity(e, lab)
        .select(col("n_comms"), col("q_r"))
      lab.crossJoin(broadcast(qv))
        .withColumn("levels_run", lit(levels.toLong))
    },
    "g52c_louvain_converged" -> { (s, dir) =>
      // CONVERGED multilevel Louvain — the ladder depth is the
      // algorithm's own (stop when a level's move phase makes zero
      // moves ⇒ contraction would no-op); per-level rounds stay a
      // budget of 8 (synchronous sweeps can limit-cycle on noisy
      // levels — see the engine Scaladoc — so rounds are honestly a
      // cap, cut early when the level stabilizes). Self-stops at 6
      // levels on this fixture and recovers the planted 2-block
      // partition EXACTLY with no depth hint (Q = 0.499999639, the
      // LouvainSpec constant). Oracle: the fixed 8-round × 6-level
      // unroll — capped levels run exactly 8 in both, stabilized
      // levels no-op their tails, the final level replays identity.
      val e = graft.sources.SyntheticGraph.portableBlocks(s, 200, 600, "g22b")
      val lab = graft.operators.Louvain.multilevelConverged(
        e, maxRoundsPerLevel = 8, maxLevels = 12)._1
      val qv = GraphBuilder.modularity(e, lab)
        .select(col("n_comms"), col("q_r"))
      lab.crossJoin(broadcast(qv))
    },
    "g54_matching" -> { (s, dir) =>
      // MAXIMAL MATCHING by synchronous locally-dominant edges
      // (Preis/Manne–Bisseling family, md5 edge ranks): the pairing
      // primitive of METIS-style coarsening ladders; ≥ ½ maximum
      // cardinality by the local-dominance guarantee. Run to drain
      // (4 rounds on this fixture); monotone accumulation ⇒ the
      // 6-round unrolled oracle replays every dominance decision.
      graft.operators.Matching.maximalMatching(
        graft.sources.SyntheticGraph.portable(s, 300, 900, "g54"))._1
    },
    "g53_coreness" -> { (s, dir) =>
      // FULL core decomposition — every vertex's coreness number by
      // the iterated neighbor h-index (Montresor et al. 2013): one
      // loop prices the whole peel ladder instead of one kCore run
      // per k (differential-tested against kCoreConverged for
      // k = 1..3). Run TO STABILITY (7 rounds on this fixture);
      // monotone recurrence ⇒ the 9-round unrolled oracle replays it
      // exactly.
      GraphBuilder.corenessConverged(
        graft.sources.SyntheticGraph.portable(s, 300, 900, "g53"))._1
    },
    "g40_neighbor_agg" -> ((s, dir) =>
      // two-layer GNN-style neighbor aggregation (GraphSAGE prep):
      // per hop one |E|-row adjacency⋈features join + map-side-combined
      // sum; all-integer sums, the one mean a rounded exact ratio
      GraphBuilder.neighborAgg(
        graft.sources.SyntheticGraph.portable(s, 400, 1200, "g40")
          .distinct())),
    "g31_scc" -> ((s, dir) =>
      // STRONGLY connected components (g15 is the weak/undirected
      // form): iterated forward/backward min-label settling on a sparse
      // portable fixture whose SCC structure is rich — a 234-vertex
      // giant, small cycles, and singletons over 386 vertices, settled
      // in 9 outer rounds. Label = component's min vertex id (the
      // g15/d9 rule), so the exact reachability-closure oracle
      // recomputes every label.
      graft.operators.Scc.run(
        graft.sources.SyntheticGraph.portable(s, 400, 750, "g31"))._1),
    "g30_anf" -> ((s, dir) =>
      // HyperBall/ANF: the neighborhood function N(h) by iterated
      // per-vertex HLL sketches — |V|·O(2^lgK) state instead of the
      // Θ(|V|²)-bit exact reachability sets, the only tractable shape
      // for neighborhood growth / effective diameter at 100 TB. On this
      // fixture every reachable set stays in the sketch's exact
      // (coupon) regime, so the estimates are exact counts and the
      // recursive-CTE oracle hash-matches a SKETCH algorithm end to
      // end; accuracy beyond the exact regime is pinned by AnfSpec.
      graft.operators.Anf.neighborhoodFunction(
        graft.sources.SyntheticGraph.portable(s, 300, 1500, "g30"),
        maxH = 4)),
    "g14_personalized_k4" -> { (s, dir) =>
      // personalized PageRank: teleport restricted to the 3 smallest
      // vertex ids (uniform over the seed set) — "rank relative to this
      // seed set", the canonical recommendation/graph-proximity query
      val edges = EdgeListReader.fromOrdersCached(s, dir)
      val seeds = GraphBuilder.vertices(edges)
        .orderBy(col("id")).limit(3)
        .select(col("id"), lit(1.0).as("w"))
      val res = PageRank.run(
        s, edges, PageRankConfig(maxIter = 4, tol = -1.0, minIter = 4),
        teleport = Some(seeds))
      res.ranks.select(col("id"), round(col("rank"), 7).as("rank_r"))
    },
    "g13_s3_pagerank" -> { (s, dir) =>
      // LiveJournal-shaped fixture (4.85M v / 69M e at sf0.1 — BASELINE.md
      // S3, 13× the g9 shape) run with broadcastStateMaxBytes=0 so the
      // iteration joins take the co-partitioned SHUFFLE-FALLBACK path —
      // the plan a 1000-executor graph runs, measured every round instead
      // of only in ad-hoc README notes. FOUR iterations (k=2 could not
      // distinguish per-iteration cost growth from plateau), each row
      // carrying executor run/CPU seconds + shuffle bytes alongside wall
      // seconds, so a contended-host run is self-diagnosing: wall
      // inflates, cpu and shuffle don't. Rows-only check (timings are
      // nondeterministic); Bench lifts the per-iteration columns into
      // BENCH_r{N}.json for the BASELINE.md S3 comparison (Giraph:
      // ~17 s/superstep on 1+4 nodes).
      val sp = s
      import sp.implicits._
      val res = PageRank.run(
        s, graft.sources.SyntheticGraph.s3Shaped(s, dir),
        PageRankConfig(maxIter = 4, tol = -1.0, minIter = 4,
          broadcastStateMaxBytes = 0L, traceResources = true))
      res.trace
        .map(st => (st.iteration, st.millis / 1000.0,
          st.executorRunMs / 1000.0, st.executorCpuMs / 1000.0,
          st.shuffleReadMB + st.shuffleWriteMB))
        .toDF("iteration", "iter_sec", "exec_sec", "cpu_sec", "shuffle_mb")
    },
    "g17_graphx_s1" -> { (s, dir) =>
      // The GraphX/Pregel twin measured at bench scale on the S1 fixture
      // (web-Google shape, 875k v / 5.1M e — the graph Giraph's
      // 19.06 s setup + ~1.2 s/superstep baseline was published on), so
      // the BSP path the north star names is a per-round number, not a
      // tiny-fixture differential only. DELIBERATELY NOT the S3 shape:
      // at 69M edges GraphX's row-object EdgeRDD build needs several GB
      // where the DataFrame loop's columnar cache needs ~1.5 GB — it
      // OOMs the shared 8 GB bench JVM. That asymmetry IS the measured
      // decision that the DataFrame loop (g13) is the sole S3-scale
      // path; the GraphX twin exists for BSP-semantics differentials.
      // Rows-only check; Bench lifts iter_sec for the comparison.
      val sp = s
      import sp.implicits._
      val res = GraphXPageRank.run(
        s, graft.sources.SyntheticGraph.s1Shaped(s, dir),
        PageRankConfig(maxIter = 2, tol = -1.0, minIter = 2,
          traceResources = true))
      res.trace
        .map(st => (st.iteration, st.millis / 1000.0,
          st.executorRunMs / 1000.0, st.executorCpuMs / 1000.0))
        .toDF("iteration", "iter_sec", "exec_sec", "cpu_sec")
    },
    "g18_hub_salt0" -> { (s, dir) =>
      // single-hub skew fixture (SyntheticGraph.hubShaped: one dst key
      // holding ~27× a partition's average rows after dedup — scaled in
      // r6 until the hub reducer actually dominates the stage critical
      // path), UNSALTED: the straggler baseline the salted twin below
      // beats (~14.5 s vs ~10.7 s measured idle). Forced onto the
      // shuffle-fallback path — salting only applies there.
      val sp = s
      import sp.implicits._
      val res = PageRank.run(
        s, graft.sources.SyntheticGraph.hubShaped(s, dir),
        PageRankConfig(maxIter = 2, tol = -1.0, minIter = 2,
          broadcastStateMaxBytes = 0L, traceResources = true))
      res.trace
        .map(st => (st.iteration, st.millis / 1000.0,
          st.executorRunMs / 1000.0, st.executorCpuMs / 1000.0))
        .toDF("iteration", "iter_sec", "exec_sec", "cpu_sec")
    },
    "g20_tri_skew_id" -> ((s, dir) =>
      // triangle-orientation bench pair, NAIVE id-ordered side: on the
      // mid-id-hub fixture (SyntheticGraph.triSkewShaped, hub degree
      // ≈19.6k at sf0.1) the wedge join materializes ≈ d²/4 ≈ 9.6·10⁷
      // rows at the hub (measured ≈8.5–11 s vs the twin's ≈3.1–3.8 s).
      // Differential-tested equal to the degree-ordered twin; the bench
      // pair is the measured crossover evidence.
      triangleSummary(GraphBuilder.triangleCountsIdOrdered(
        graft.sources.SyntheticGraph.triSkewShaped(s, dir)))),
    "g20_tri_skew_deg" -> ((s, dir) =>
      // degree-ordered side (the default triangleCounts path): every
      // hub edge orients INTO the hub, so the hub contributes zero
      // wedges and the wedge count stays Σ C(outdeg⁺, 2) = O(m^1.5)
      // regardless of skew. Same summary schema as the id twin.
      triangleSummary(GraphBuilder.triangleCounts(
        graft.sources.SyntheticGraph.triSkewShaped(s, dir)))),
    "g22_lpa_k3" -> ((s, dir) =>
      // synchronous deterministic label propagation (community
      // detection): 3 fixed iterations, most-frequent neighbor label,
      // smallest-label ties — the formulation an oracle can re-derive
      // (async LPA is schedule-dependent). On a PORTABLE random graph
      // (avg degree 6, non-bipartite) so the label competition is
      // real; every final label hash-matches the unrolled SQL.
      GraphBuilder.labelPropagation(
        graft.sources.SyntheticGraph.portable(s, 400, 1200, "g22"),
        k = 3)),
    "g21_weighted_k4" -> { (s, dir) =>
      // WEIGHTED PageRank (NetworkX weight semantics: rank flows in
      // proportion w(u,v)/Σw(u,·)) on the relational graph with the
      // lineitem co-occurrence count as the edge weight — deterministic
      // and recomputable by the oracle, so every weighted rank
      // hash-matches the unrolled SQL. Same loop, same formula; only
      // the share expression and out-degree aggregation differ.
      val res = PageRank.run(
        s, EdgeListReader.fromOrdersWeighted(s, dir),
        PageRankConfig(maxIter = 4, tol = -1.0, minIter = 4),
        weightCol = Some("w"))
      res.ranks.select(col("id"), round(col("rank"), 9).as("rank_r"))
    },
    "g25_kcore" -> ((s, dir) =>
      // 4-core by fixed-round peeling (6 rounds; the fixture's peel
      // depth is 5, so the result IS the converged core — peeling is
      // monotone and extra rounds are no-ops). All-integer degrees:
      // every survivor and its core degree hash-match the unrolled SQL.
      GraphBuilder.kCore(
        graft.sources.SyntheticGraph.portable(s, 400, 1200, "g25"),
        k = 4, rounds = 6)),
    "g27_wcore" -> ((s, dir) =>
      // WEIGHTED s-core (strength peeling) on the co-occurrence graph:
      // threshold 61 drives a real 3-round cascade at the gate sf
      // (226 → 225 → 214 survivors); 5 rounds ≥ depth, so the result IS
      // the converged s-core. Integer-valued weights ⇒ exact double
      // sums ⇒ hash-exact without rounding.
      GraphBuilder.kCoreWeighted(
        EdgeListReader.fromOrdersWeighted(s, dir),
        minStrength = 61.0, rounds = 5)),
    "g28_multi_bfs" -> { (s, dir) =>
      // BATCHED multi-source BFS (landmark distances): 3 seeds, one
      // loop, sparse (seed, id, hops) state over the SYMMETRIZED graph
      // (the raw cust→supp digraph is depth-1); all-integer hops
      // hash-match the unrolled seed-as-a-column oracle
      val w = EdgeListReader.fromOrders(s, dir)
      val sym = w.union(
        w.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = w.select(col("src")).distinct()
        .orderBy(col("src")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      ShortestPaths.multiSourceHops(sym, seeds, rounds = 4)
    },
    "g55_mc_ppr" -> { (s, dir) =>
      // MONTE-CARLO personalized PageRank (walk-endpoint estimator,
      // Fogaras 2005) — the single-seed PPR that runs at 100 TB: 1000
      // deterministic α-geometric walks from seed 7, state is 1000
      // rows touching only the reachable neighborhood (the exact
      // g14/g26 loop carries |V| state). Every stop draw, neighbor
      // pick, sink teleport (the exact loop's dangling rule, so both
      // target the SAME quantity) and truncation is md5 algebra the
      // oracle replays — the ESTIMATE hash-matches; the differential
      // spec pins its fixed error against the exact loop.
      Walks.mcPersonalizedPageRank(
        graft.sources.SyntheticGraph.portable(s, 400, 1200, "g55"),
        seed = 7L, walks = 1000, alpha = 0.85, maxSteps = 20,
        salt = "g55w")
    },
    "g26_multi_ppr" -> { (s, dir) =>
      // BATCHED multi-seed personalized PageRank (the graph
      // feature-backfill shape): 3 seeds, one loop, sparse
      // (seed, id, rank) state — restart AND dangling mass return to
      // each row's own seed; every rank hash-matches the unrolled
      // seed-as-a-column oracle
      val e = EdgeListReader.fromOrdersCached(s, dir)
      val seeds = e.select(col("src")).distinct()
        .orderBy(col("src")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      MultiPpr.run(e, seeds, k = 4)
        .select(col("seed"), col("id"), round(col("rank"), 9).as("rank_r"))
    },
    "g25b_kcore_converged" -> ((s, dir) =>
      // k-core run TO FIXPOINT (the reference's early-stop discipline,
      // O14/O16): peel until the survivor count is stable — no
      // caller-guessed round count. Peeling is monotone, so the
      // converged set equals the fixed-round set for ANY rounds ≥ the
      // peel depth (4 on this fixture, detected by the engine itself);
      // the oracle unrolls 6 rounds and hash-matches without being told
      // where the engine stopped.
      GraphBuilder.kCoreConverged(
        graft.sources.SyntheticGraph.portable(s, 400, 1200, "g25b"),
        k = 3)._1),
    "g22b_lpa_converged" -> ((s, dir) =>
      // synchronous LPA run to LABEL STABILITY (early-stop twin of g22)
      // on a PLANTED 2-community graph — two disjoint 200-vertex random
      // blocks: the engine stops when no label changes (10 rounds here)
      // and recovers exactly the two planted communities. A stable
      // labelling is a fixpoint of the deterministic update, so the
      // 12-round unrolled oracle reproduces it without knowing the
      // engine's stopping depth. (A single connected random graph is
      // the wrong fixture for this: min-label floods it to ONE
      // community, which certifies nothing about community recovery.)
      GraphBuilder.labelPropagationConverged(
        graft.sources.SyntheticGraph.portableBlocks(s, 200, 600, "g22b"))
        ._1),
    "g24_hits_k4" -> ((s, dir) =>
      // HITS hubs/authorities, 4 power-iteration rounds, normalization
      // deferred to one final L1 division (linear recurrence — scaling
      // cancels); on the bipartite cust→supp graph supplier authority
      // is demand-weighted popularity. All-integer intermediate sums ⇒
      // both engines agree exactly until the final division.
      Hits.run(EdgeListReader.fromOrdersCached(s, dir), k = 4)
        .select(
          col("id"),
          round(col("auth"), 9).as("auth_r"),
          round(col("hub"), 9).as("hub_r"))),
    "g24b_hits_converged" -> ((s, dir) =>
      // g24's CONVERGED twin — normalized-hub L1 delta ≤ 5e-8 with the
      // g6 minIter guard; stops at iteration 5 of maxK=8 on this
      // fixture (deltas shrink ~23× per step: 7.0e-7 at 4, 1.7e-8 at
      // 5 — both ≥3× from the threshold, so accumulation-order noise
      // cannot flip the stop). The oracle unrolls to 8 and REPLAYS the
      // rule (the g6b discipline), selecting iteration 5's scores.
      Hits.runConverged(
        EdgeListReader.fromOrdersCached(s, dir),
        maxK = 8, tol = 5e-8, minIter = 2)._1
        .select(
          col("id"),
          round(col("auth"), 9).as("auth_r"),
          round(col("hub"), 9).as("hub_r"))),
    "g23_sssp_k4" -> { (s, dir) =>
      // weighted single-source shortest paths: 4 Bellman–Ford rounds on
      // the SYMMETRIZED co-occurrence graph (the raw cust→supp graph is
      // bipartite one-directional — every path would be one hop), seeded
      // at the smallest vertex id. The seed is a 1-row FRAME from a
      // scalar agg, not a collected literal, so the whole query stays
      // one lazy plan; every distance hash-matches the unrolled SQL.
      val w = EdgeListReader.fromOrdersWeighted(s, dir)
      val sym = w.union(
        w.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      val seed = sym.agg(min(col("src")).as("id"))
      ShortestPaths.run(sym, seed, rounds = 4)
        .select(col("id"), round(col("dist"), 9).as("dist_r"))
    },
    "g23b_sssp_converged" -> { (s, dir) =>
      // g23's CONVERGED twin — stop when a relaxation round improves
      // zero distances (the O14/O16 early-stop the fixed form lacks; a
      // user doesn't know the graph's hop diameter). Stops at round 4
      // on this fixture (round 4 is the proving no-op); distances are a
      // monotone fixpoint, so the 6-round unrolled oracle replays them
      // exactly (the g22b/g25b argument — Wave12 pins converged ≡ fixed
      // past the stop, and that maxRounds cuts honestly before it).
      val w = EdgeListReader.fromOrdersWeighted(s, dir)
      val sym = w.union(
        w.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      val seed = sym.agg(min(col("src")).as("id"))
      ShortestPaths.runConverged(sym, seed, maxRounds = 60)._1
        .select(col("id"), round(col("dist"), 9).as("dist_r"))
    },
    "g18_hub_salt32" -> { (s, dir) =>
      // same fixture with saltBuckets=32: the hot dst fans out over 32
      // reducer keys, then a second exchange re-aggregates the ≤32
      // partials per key. The differential test pins salted ≡ unsalted
      // to ≤1e-12; on the r6-scaled fixture this row is consistently
      // FASTER than g18_hub_salt0 — the measured crossover that closes
      // the salt decision (salting pays once the hub holds ≫ one task's
      // rows AND the hub task dominates the stage, not before).
      val sp = s
      import sp.implicits._
      val res = PageRank.run(
        s, graft.sources.SyntheticGraph.hubShaped(s, dir),
        PageRankConfig(maxIter = 2, tol = -1.0, minIter = 2,
          broadcastStateMaxBytes = 0L, saltBuckets = 32,
          traceResources = true))
      res.trace
        .map(st => (st.iteration, st.millis / 1000.0,
          st.executorRunMs / 1000.0, st.executorCpuMs / 1000.0))
        .toDF("iteration", "iter_sec", "exec_sec", "cpu_sec")
    },

    // ---- relational carriers (SURVEY §2.2 / Q10) ----
    "q1_pricing_summary" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(
            sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
            4).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          count("*").as("n_rows"))
    },
    "q2_top_customers" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val c = t(s, dir, "customer")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(
          round(
            sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
            4).as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(10)
    },
    "q3_order_ranks" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
    },
    "q4_setops" -> { (s, dir) =>
      val custN = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val suppN = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      val both = custN.intersect(suppN).agg(count("*").as("x"))
      val either = custN.union(suppN).distinct().agg(count("*").as("y"))
      val onlyCust = custN.distinct().except(suppN).agg(count("*").as("z"))
      both
        .crossJoin(either)
        .crossJoin(onlyCust)
        .select(
          col("y").as("n_union"),
          col("x").as("n_intersect"),
          col("z").as("n_cust_only"))
    },
    "q5_filter_project" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
            col("l_quantity") > 25)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          round(
            col("l_extendedprice") * (lit(1) - col("l_discount")),
            4).as("net_price"))
    },
    "q6_rollup" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count("*").as("n_rows"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    },
    "q7_events_hourly" -> { (s, dir) =>
      graft.sources.Tables.events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour_str"),
          col("event_type"))
        .agg(
          count("*").as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
    },
    "q8_customers_no_orders" -> { (s, dir) =>
      t(s, dir, "customer")
        .join(
          t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"),
          "left_anti")
        .select(col("c_custkey"))
    },

    "q10_date_agg" -> { (s, dir) =>
      // date part extraction + grouping over order dates
      t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"))
        .agg(
          count("*").as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
    },
    "q11_string_funcs" -> { (s, dir) =>
      // LIKE filter + substring/upper/concat projections
      t(s, dir, "part")
        .filter(col("p_name").like("%red%") || col("p_type") === "ECONOMY")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_brand"), 7, 10).as("brand_no"),
          concat_ws("/", col("p_type"), col("p_brand")).as("type_brand"),
          length(col("p_name")).cast("long").as("name_len"))
    },
    "q12_semi_join" -> { (s, dir) =>
      // EXISTS: customers having at least one order over 400k
      t(s, dir, "customer")
        .join(
          t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"),
          "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
    "q14_approx_distinct" -> { (s, dir) =>
      // HyperLogLog++ sketch — the constant-memory path for cardinality
      // at 100 TB (exact distinct shuffles every key; the sketch merges
      // 2^p registers). Approximate ⇒ rows-only check; the 3·rsd ≈ 6%
      // accuracy contract is locked by a unit test at dense-mode
      // cardinality (OperatorsSpec "hll approx distinct stays within
      // rsd bounds") — the sketch is exact below its sparse threshold,
      // so small fixtures alone would prove nothing.
      graft.sources.Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          approx_count_distinct(col("event_id"), 0.02).as("approx_events"))
    },
    "q13_percentiles" -> { (s, dir) =>
      // exact interpolated percentiles (ordered-set aggregate class);
      // ensure(): the ObjectHashAggregate partials run in the scan
      // stage, which on the small fixture has too few splits
      graft.core.Parallelism.ensure(t(s, dir, "lineitem"))
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4)
            .as("median_price"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4)
            .as("p90_price"),
          round(expr("percentile(l_quantity, 0.25)"), 4).as("q1_qty"))
    },
    "q9_json_extract" -> { (s, dir) =>
      // JSON scalar extraction from the events props column
      graft.sources.Tables.events(s, dir)
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .groupBy(col("event_type"))
        .agg(
          count("*").as("n"),
          sum(col("k_val")).as("sum_k"),
          max(col("k_val")).as("max_k"))
    },

    // ---- LLM-pipeline surface: text ----
    "d1_dedup_groups" -> ((s, dir) =>
      TextOps.exactDedupGroups(t(s, dir, "documents"))),
    "d2_token_stats" -> { (s, dir) =>
      graft.core.Parallelism.ensure(t(s, dir, "documents")).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.bpeTokenCount(col("text")).as("n_tokens_bpe"),
        col("n_chars"))
    },
    "d3_quality" -> ((s, dir) =>
      TextOps.qualityMetrics(t(s, dir, "documents"))),
    "d24_filter_gate" -> ((s, dir) =>
      // the composed C4/Gopher-style keep/drop gate with the first
      // failing rule as the reason — one zero-shuffle pass (d21-style
      // plan assert); every rule metric is an integer-ratio double so
      // both engines threshold identical values
      TextOps.filterPipeline(t(s, dir, "documents"))),
    "d4_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(t(s, dir, "documents"))),
    "d25_heavy_hitters" -> ((s, dir) =>
      // exact heavy hitters through a two-pass Misra-Gries sketch: the
      // capacity-bounded candidate pass can depend on partitioning, the
      // exact re-count + threshold cut cannot — the result provably
      // equals the full GROUP BY ... HAVING the oracle runs
      TextOps.heavyHitters(t(s, dir, "documents"), frac = 0.01)),
    "d26_char_entropy" -> ((s, dir) =>
      // per-document character-entropy quality signal (CCNet-class):
      // zero-shuffle per-row fold over the SORTED alphabet so both
      // engines sum in identical order
      TextOps.charEntropy(t(s, dir, "documents"))),
    "d27_vocab_coverage" -> ((s, dir) =>
      // top-100 vocabulary coverage curve (share + cumulative share of
      // the token stream) — the vocab-size/OOV decision statistic
      TextOps.vocabCoverage(t(s, dir, "documents"), topK = 100)),
    "d28_source_overlap" -> { (s, dir) =>
      // corpus-governance view: which source pairs share NEAR-duplicate
      // content — keyed on d4's min-shingle fingerprint (a 1-permutation
      // MinHash; exact doc hashes never collide across sources on this
      // corpus, near-dup fingerprints do) — and how many distinct
      // fingerprints overlap: the cross-source contamination matrix an
      // ingest review reads. One fingerprint aggregate + a source-list
      // self-pairing per fingerprint; no text leaves the scan.
      val docs = t(s, dir, "documents")
      TextOps.fingerprint(docs)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("min_shingle_hash"))
        .agg(sort_array(collect_set(col("source"))).as("srcs"))
        .select(explode(col("srcs")).as("src_a"), col("srcs"))
        .select(col("src_a"), explode(col("srcs")).as("src_b"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count("*").as("n_shared_fingerprints"))
    },
    "g29_assortativity" -> { (s, dir) =>
      // degree assortativity (Pearson r of endpoint degrees over
      // directed edges, out-degree of src vs in-degree of dst — the
      // Newman mixing statistic). Computed from SUFFICIENT SUMS of
      // integer degrees (Σx, Σy, Σxy, Σx², Σy² are exact integer sums
      // in doubles), then ONE closed-form division — so the only float
      // sensitivity is the final expression, rounded. No corr() builtin:
      // implementations differ (Welford vs naive) across engines; the
      // sufficient-sum algebra is portable.
      val e = EdgeListReader.fromOrders(s, dir)
      val out = GraphBuilder.outDegrees(e)
      val inn = e.groupBy(col("dst").as("id")).agg(count("*").as("indeg"))
      e.join(out.withColumnRenamed("id", "src"), Seq("src"))
        .join(inn.withColumnRenamed("id", "dst"), Seq("dst"))
        .agg(
          count("*").as("m"),
          sum(col("outdeg")).as("sx"),
          sum(col("indeg")).as("sy"),
          sum(col("outdeg") * col("indeg")).as("sxy"),
          sum(col("outdeg") * col("outdeg")).as("sxx"),
          sum(col("indeg") * col("indeg")).as("syy"))
        .select(
          col("m"),
          round(
            (col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (sqrt((col("m") * col("sxx") - col("sx") * col("sx"))
                .cast("double")) *
                sqrt((col("m") * col("syy") - col("sy") * col("sy"))
                  .cast("double"))),
            9).as("assortativity"))
    },
    "p2_entity_resolution" -> { (s, dir) =>
      // entity resolution end-to-end as one pipeline: portable LSH
      // banding proposes candidates (d5c), exact shingle-Jaccard
      // verifies at 0.8 (d5b), connected components merge verified
      // pairs into entities (d9/g15's HashMin Pregel) with the min id
      // as each entity's label. Every stage oracle-locked on its own;
      // this row locks the composed journey — candidate generation
      // never materializes an all-pairs stage, verification touches
      // only candidates, and the component step sees only verified
      // pairs.
      val docs = t(s, dir, "documents")
      val cands = Dedup.lshCandidatePairsPortable(docs, k = 16, bands = 4)
      Dedup.componentsFromPairs(
        Dedup.verifiedJaccardPairs(docs, cands, threshold = 0.8))
    },
    "m8_video_neardup" -> { (s, dir) =>
      // CLIP-LEVEL video near-dup via frame fingerprints (m5's video
      // twin — re-encoded/trimmed copies share frames, not file
      // hashes): the fixture gives every video clip 8 frame
      // fingerprints, 6 drawn from its GROUP (consecutive videos form
      // sequel groups of ~5 — the true near-dups) and 2 per-clip (the
      // d38 augmented-fixture discipline; 40-bit draws so cross-group
      // collisions are rare and deterministic in both engines).
      // clipNearDupPairs blocks on the fingerprint with a ubiquity cap
      // and keeps pairs sharing ≥ 5 — exactly the within-group pairs.
      val vids = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(3)) === 2)
        .select(col("doc_id").as("media_id"))
      val grp = col("media_id") - pmod(col("media_id"), lit(15L))
      val frames = vids
        .select(
          col("media_id"),
          explode(sequence(lit(0L), lit(7L))).as("frame_no"))
        .select(
          col("media_id"), col("frame_no"),
          substring(
            md5(concat(
              when(col("frame_no") < 6, grp).otherwise(col("media_id"))
                .cast("string"),
              lit(":"), col("frame_no").cast("string"), lit(":m8"))),
            1, 10).as("fp"))
      graft.operators.Multimodal
        .clipNearDupPairs(frames, minShared = 5, maxDf = 50)
    },
    "m9_audio_neardup" -> { (s, dir) =>
      // CLIP-LEVEL AUDIO near-dup (m8's time-based-media sibling,
      // completing the family: a trimmed/re-encoded track shares its
      // energy PROFILE with the original even when no file hash
      // matches): frames get the m7 energy seam (8-bit md5 draw — the
      // fixture derives shared-track frames from the GROUP id,
      // per-clip tail frames from the clip id, the d38 discipline),
      // 4-frame energy windows shingle into acoustic fingerprints
      // (one lead-window per clip — clips shingle in parallel), and
      // the SAME clipNearDupPairs blocks them with the df cap — no
      // new join shape. Groups of 5 share 6 windows; minShared = 5
      // keeps exactly the within-group pairs.
      import org.apache.spark.sql.expressions.Window
      val auds = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id").as("media_id"))
      val grp = col("media_id") - pmod(col("media_id"), lit(15L))
      val frames = auds
        .select(
          col("media_id"),
          explode(sequence(lit(0L), lit(11L))).as("frame"))
        .select(
          col("media_id"), col("frame"),
          conv(substring(md5(concat(
            when(col("frame") < 9, grp).otherwise(col("media_id"))
              .cast("string"),
            lit(":"), col("frame").cast("string"), lit(":m9"))), 1, 2),
            16, 10).cast("int").as("energy"))
      val w = Window.partitionBy(col("media_id")).orderBy(col("frame"))
      val fps = frames
        .withColumn("e1", lead(col("energy"), 1).over(w))
        .withColumn("e2", lead(col("energy"), 2).over(w))
        .withColumn("e3", lead(col("energy"), 3).over(w))
        .filter(col("e3").isNotNull)
        .select(
          col("media_id"), col("frame").as("frame_no"),
          substring(md5(concat_ws(",",
            col("energy").cast("string"), col("e1").cast("string"),
            col("e2").cast("string"), col("e3").cast("string"))),
            1, 10).as("fp"))
      graft.operators.Multimodal
        .clipNearDupPairs(fps, minShared = 5, maxDf = 50)
    },
    "m5_perceptual_neardup" -> ((s, dir) =>
      // multimodal near-dup: block-mean perceptual signatures from the
      // per-partition kernel (integer cross-multiply bits — exactly
      // recomputable from the payload bytes), candidates by the 2×8-bit
      // banded pigeonhole (Hamming ≤ 1 ⇒ a band matches, 100% recall,
      // no |D|² stage), exact popcount verify on candidates only — the
      // d14 discipline applied to the media lake
      graft.operators.Multimodal.perceptualNearDupPairs(
        graft.operators.Multimodal.syntheticMedia(s, dir))),
    "d35_bpe_merges" -> ((s, dir) =>
      // BPE tokenizer training: 3 merge rounds over the corpus
      // vocabulary — pair counts (overlapping), lexicographic-tie
      // argmax, left-to-right non-overlapping re-tokenize; the oracle
      // replays every round, so the merge table transitively
      // hash-checks every intermediate re-tokenization too
      TextOps.bpeMerges(t(s, dir, "documents"), k = 3)),
    "d54_bpe_encode" -> ((s, dir) =>
      // the tokenizer-APPLICATION half of d35: encode the corpus with
      // the 3 trained merges and emit the subword frequency table.
      // Encoding prices the distinct-WORD table weighted by counts
      // (each word encoded once — the memoization real tokenizers run
      // at corpus scale); same deterministic argmax + l2r fold, so the
      // oracle unrolls training AND application in one CTE chain.
      TextOps.bpeEncode(t(s, dir, "documents"), k = 3)),
    "d37_containment" -> { (s, dir) =>
      // CONTAINMENT scoring over the d5c candidates — the
      // superset-duplicate detector Jaccard misses (verbatim-embedded
      // content has high |A∩B|/|A|, low Jaccard); both directed
      // containments + Jaccard off ONE per-pair intersection, keep
      // pairs whose larger containment ≥ 0.5
      val docs = t(s, dir, "documents")
      Dedup.containmentPairs(
        docs, Dedup.lshCandidatePairsPortable(docs, k = 16, bands = 4),
        threshold = 0.5)
    },
    "d36_profile" -> ((s, dir) =>
      // dataset profiling (the deequ-shape quality pass a pipeline runs
      // at ingest): per column non-null / exact-distinct / min / max in
      // ONE scan (multi-distinct via Expand), melted to the long
      // governance form without recomputation
      graft.operators.Profiler.profile(
        t(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    "io7_compaction" -> { (s, dir) =>
      // SMALL-FILE COMPACTION (the lake-maintenance job the 100 TB
      // small-file problem demands): a 32-file fragmented copy of
      // events is rewritten through coalesce into 2 files — layout
      // changes, content must not: the aggregate over the compacted
      // copy hash-matches the plain table (the spec asserts the file
      // count actually shrank)
      val ev = graft.sources.Tables.events(s, dir)
      Scratch.sealedIn("graft_compact_io7") { case Seq(tmp) =>
        ev.select(col("event_id"), col("event_type"), col("value"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$tmp/small")
        s.read.parquet(s"$tmp/small")
          .coalesce(2)
          .write.mode("overwrite").parquet(s"$tmp/compact")
        s.read.parquet(s"$tmp/compact")
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("sum_value"))
      }
    },
    "io10_nested_pushdown" -> { (s, dir) =>
      // NESTED-column pushdown + schema pruning — the struct-shaped
      // table a real event lake keeps (props/meta/metrics as structs):
      // the predicate on meta.event_type must reach the parquet scan
      // as a nested PushedFilter, and the read schema must carry ONLY
      // the struct fields the query touches (metrics.ts_us is never
      // read — plan-asserted in PlanSpec). The aggregate over the
      // nested round-trip hash-matches the flat ground truth: pruning
      // must lose nothing.
      val ev = graft.sources.Tables.events(s, dir)
        .select(
          col("event_id"),
          struct(col("user_id"), col("event_type")).as("meta"),
          struct(
            col("value"), unix_micros(col("ts")).as("ts_us"))
            .as("metrics"))
      Scratch.sealedIn("graft_nested_io10") { case Seq(tmp) =>
        ev.write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("meta.event_type") === "purchase")
          .groupBy(col("meta.user_id").as("user_id"))
          .agg(
            count(lit(1)).as("n_events"),
            round(sum(col("metrics.value")), 2).as("sum_value"))
      }
    },
    "q44_transitions" -> { (s, dir) =>
      // first-order MARKOV transition matrix over per-user event
      // sequences (the session-path statistic q31 lists raw): lead()
      // per (user, time, id), pair counts map-side combined, row
      // probabilities normalized inside each source state's
      // |event_types|-bounded window
      import org.apache.spark.sql.expressions.Window
      val seq = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val norm = Window.partitionBy(col("event_type"))
      graft.sources.Tables.events(s, dir)
        .withColumn("next", lead(col("event_type"), 1).over(seq))
        .filter(col("next").isNotNull)
        .groupBy(col("event_type"), col("next"))
        .agg(count(lit(1)).as("n"))
        .withColumn(
          "p",
          round(col("n").cast("double") / sum(col("n")).over(norm), 6))
    },
    "q45_rfm" -> { (s, dir) =>
      // RFM SEGMENTATION (recency/frequency/monetary quartiles over
      // purchasers): one purchase-filtered aggregate per user, then
      // three RANK-based ntile(4) scores (the d40 no-float-edges
      // discipline, ties by user_id) — the classic CRM feature tuple.
      // The global ntiles sort the |purchasers| frame; q45b IS the
      // registered 100 TB twin (approx_percentile quartile edges +
      // stateless bucket projection), measured against this one.
      import org.apache.spark.sql.expressions.Window
      val base = graft.sources.Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(
          max(unix_micros(col("ts"))).as("r"),
          count(lit(1)).as("f"),
          round(sum(col("value")), 2).as("m"))
      base
        .withColumn(
          "r_score",
          ntile(4).over(
            Window.orderBy(col("r"), col("user_id"))).cast("long"))
        .withColumn(
          "f_score",
          ntile(4).over(
            Window.orderBy(col("f"), col("user_id"))).cast("long"))
        .withColumn(
          "m_score",
          ntile(4).over(
            Window.orderBy(col("m"), col("user_id"))).cast("long"))
        .select(
          col("user_id"), col("r"), col("f"), col("m"),
          col("r_score"), col("f_score"), col("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
            .as("segment"))
    },
    "q45b_rfm_approx" -> { (s, dir) =>
      // q45's 100 TB twin, REGISTERED: the three global ntile(4) sorts
      // replaced by ONE sketch aggregate (approx_percentile quartile
      // edges for r/f/m together) + a stateless broadcast-edge bucket
      // projection — zero sorts, zero windows. Rows-only: sketch edges
      // are engine-defined; the Wave8 accuracy spec pins per-score
      // agreement with the exact ntile twin.
      val qs = array(lit(0.25), lit(0.5), lit(0.75))
      val base = graft.sources.Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(
          max(unix_micros(col("ts"))).as("r"),
          count(lit(1)).as("f"),
          round(sum(col("value")), 2).as("m"))
      val edges = base.agg(
        percentile_approx(col("r"), qs, lit(10000)).as("re"),
        percentile_approx(col("f"), qs, lit(10000)).as("fe"),
        percentile_approx(col("m"), qs, lit(10000)).as("me"))
      def bucket(
          c: org.apache.spark.sql.Column,
          e: String): org.apache.spark.sql.Column =
        (1 to 3).foldLeft(lit(1L)) { (acc, i) =>
          acc + when(c > element_at(col(e), i), 1L).otherwise(0L)
        }
      base.crossJoin(broadcast(edges))
        .select(
          col("user_id"), col("r"), col("f"), col("m"),
          bucket(col("r"), "re").as("r_score"),
          bucket(col("f"), "fe").as("f_score"),
          bucket(col("m"), "me").as("m_score"))
        .withColumn(
          "segment",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
    },
    "q51_expectations" -> { (s, dir) =>
      // CONSTRAINT EXPECTATIONS (the deequ/dbt-test verification pass —
      // Profiler.profile's judging twin): five constraints over
      // lineitem in three cost classes — three row checks riding ONE
      // zero-shuffle scan (quantity ≤ 45 and discount ≤ 0.08 genuinely
      // FAIL on TPC-H data, shipdate-not-null passes), two uniqueness
      // aggregates ((orderkey, linenumber) is the real PK and passes;
      // orderkey alone fails by the lines-per-order surplus), and one
      // referential check against a deliberately RESTRICTED supplier
      // dim (s_suppkey % 7 ≠ 0) so orphans exist. A mix of passing and
      // failing rows keeps the gate non-degenerate in both directions.
      import graft.operators.Profiler
      val li = t(s, dir, "lineitem")
      Profiler.expectations(
        li,
        rowChecks = Seq(
          Profiler.RowCheck(
            "qty_range",
            col("l_quantity") < 1.0 || col("l_quantity") > 45.0),
          Profiler.RowCheck("discount_max", col("l_discount") > 0.08),
          Profiler.RowCheck("shipdate_notnull", col("l_shipdate").isNull)),
        uniqueKeys = Seq(
          ("pk_order_line", Seq("l_orderkey", "l_linenumber")),
          ("uk_orderkey", Seq("l_orderkey"))),
        foreignKeys = Seq(
          ("fk_supp_mod7", "l_suppkey",
            t(s, dir, "supplier").filter(pmod(col("s_suppkey"), lit(7L)) =!= 0L),
            "s_suppkey")))
    },
    "q51b_quarantine" -> { (s, dir) =>
      // the QUARANTINE split: rows failing any row check, labeled with
      // the FIRST failing constraint in declaration order (the d24
      // discipline) — the dead-letter frame; stateless zero-exchange
      // scan projection
      import graft.operators.Profiler
      Profiler.quarantineRows(
        t(s, dir, "lineitem"),
        Seq(
          Profiler.RowCheck(
            "qty_range",
            col("l_quantity") < 1.0 || col("l_quantity") > 45.0),
          Profiler.RowCheck("discount_max", col("l_discount") > 0.08)))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("quarantine_reason"))
    },
    "q51c_expectations_approx" -> { (s, dir) =>
      // APPROX-UNIQUENESS drift signal (q51's sketch twin — the escape
      // hatch the exact gate's Scaladoc documents, registered): two
      // uniqueness constraints re-priced as ONE zero-exchange HLL++
      // scan (constant sketch state per key vs the exact form's
      // key-tuple exchange — the daily 100 TB shape), on orders so the
      // gate fires in BOTH directions: o_orderkey is genuinely unique
      // (estimate inside the noise floor → passes) and o_custkey has a
      // ~10× surplus (~1000× any sketch noise → fails). The estimates
      // themselves are engine-sketch-defined (DuckDB's approx sketch
      // differs) → rows-only; the rsd-bounded differential vs the
      // exact form and the false-pass price are pinned in
      // ApproxUniqueSpec.
      import graft.operators.Profiler
      Profiler.expectationsApproxUnique(
        t(s, dir, "orders"),
        Seq(
          ("pk_orderkey", Seq("o_orderkey")),
          ("uk_custkey", Seq("o_custkey"))),
        rsd = 0.01)
    },
    "q46_anomaly" -> { (s, dir) =>
      // TRAILING-WINDOW z-score anomaly flag per user: value vs the
      // mean/stddev of the 5 preceding events (frame excludes the
      // current row — no self-leakage, the p5 discipline applied to
      // windows); per-user frames keep the sort distributed
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-5, -1)
      graft.sources.Tables.events(s, dir)
        .withColumn("n_prev", count(col("value")).over(w))
        .withColumn("mu", avg(col("value")).over(w))
        .withColumn("sd", stddev_samp(col("value")).over(w))
        .filter(col("n_prev") >= 3 && col("sd") > 0)
        .select(
          col("event_id"), col("user_id"),
          col("value"),
          round((col("value") - col("mu")) / col("sd"), 6).as("z"))
        .withColumn("anomaly", abs(col("z")) > 2)
    },
    "q43_histogram" -> ((s, dir) =>
      // EQUAL-WIDTH histogram (d40's rank-based binning is the
      // equal-frequency twin): fixed literal bin width so the layout
      // is one stateless floor projection + one map-side-combined
      // count — no percentile pass, no window; the per-bin sum rides
      // the same aggregate
      t(s, dir, "lineitem")
        .select(
          floor(col("l_extendedprice") / 10000).cast("long").as("bin"),
          col("l_extendedprice"))
        .groupBy(col("bin"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))),
    "io8_minmax_skip" -> { (s, dir) =>
      // MIN/MAX DATA SKIPPING on a SORT-ORDERED layout — the cheapest
      // and most common bytes-never-read trick at 100 TB (the fourth
      // member of the family after io3 bucketing, io4 partition dirs,
      // q33 DPP, q34 bloom): events rewritten range-partitioned + sorted
      // by event time, so every parquet file/row-group covers a disjoint
      // time slice and its footer min/max stats answer a selective
      // time-range predicate WITHOUT reading the pages — the scan prunes
      // row groups below the file listing (the spec asserts the sorted
      // scan emits a fraction of the unsorted scan's rows for the same
      // pushed predicate). Time is carried as exact epoch-micros LONGs
      // (the q24 integer-carrier discipline). The aggregate over the
      // pruned scan hash-matches the unsorted ground truth: skipping
      // must lose nothing.
      val ev = graft.sources.Tables.events(s, dir)
        .select(
          col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
      Scratch.sealedIn("graft_skip_io8") { case Seq(tmp) =>
        ev.repartitionByRange(8, col("ts_us"))
          .sortWithinPartitions(col("ts_us"))
          .write.mode("overwrite").parquet(tmp)
        // [2024-01-04, 2024-01-07): ~10% of the uniform 30-day span
        s.read.parquet(tmp)
          .filter(col("ts_us") >= 1704326400000000L &&
            col("ts_us") < 1704585600000000L)
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("sum_value"),
            min(col("ts_us")).as("min_ts_us"),
            max(col("ts_us")).as("max_ts_us"))
      }
    },
    "io9_zorder_skip" -> { (s, dir) =>
      // Z-ORDER clustering — io8's multi-column generalization (Delta
      // OPTIMIZE ZORDER / Iceberg rewrite): events rewritten sorted by
      // the Morton interleave of (user_id, day-of-month), so every file
      // covers a small RECTANGLE of that space and a predicate on
      // EITHER column prunes files via footer min/max — a plain
      // (user, day) lexicographic sort skips nothing for a day-only
      // predicate (the spec asserts both directions with scan metrics).
      // The z value orders the WRITE and is dropped before it; the
      // aggregate over the doubly-filtered scan hash-matches the
      // unclustered ground truth, certifying clustering lost nothing.
      val ev = graft.sources.Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        dayofmonth(col("ts")).as("d"), col("event_type"), col("value"))
      Scratch.sealedIn("graft_zorder_io9") { case Seq(tmp) =>
        ev.withColumn(
            "z",
            graft.operators.Layout.zValue16(col("user_id"), col("d")))
          .repartitionByRange(16, col("z"))
          .sortWithinPartitions(col("z"))
          .drop("z")
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("user_id").between(3, 7) && col("d").between(4, 9))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("sum_value"),
            min(col("user_id")).as("min_u"),
            max(col("user_id")).as("max_u"),
            min(col("d")).as("min_d"),
            max(col("d")).as("max_d"))
      }
    },
    "io11_deletion_vectors" -> { (s, dir) =>
      // DELETION-VECTOR merge-on-read — the NO-REWRITE delete (e27's
      // complement: e27 pays the write now, this pays a broadcast
      // anti-probe at read): documents land once as base files, two
      // delete batches (md5-drawn key sets, overlapping) append ONLY
      // keys to a tiny sidecar, and the read scans the untouched base
      // minus the unioned vectors — pushed filters and column pruning
      // survive on the base scan (spec-asserted). The oracle replays
      // both delete draws and the anti-join.
      val docs = t(s, dir, "documents")
      def draw(salt: String) = conv(
        substring(
          md5(concat(col("doc_id").cast("string"), lit(":" + salt))),
          1, 5),
        16, 10).cast("long")
      Scratch.sealedIn("graft_io11_base", "graft_io11_dv") { case Seq(baseTmp, dvTmp) =>
        docs.repartition(4).write.mode("overwrite").parquet(baseTmp)
        graft.sources.DeletionVectors.appendDeletes(
          docs.filter(pmod(draw("dv1"), lit(8L)) === 0L).select("doc_id"),
          dvTmp)
        graft.sources.DeletionVectors.appendDeletes(
          docs.filter(pmod(draw("dv2"), lit(11L)) === 0L).select("doc_id"),
          dvTmp)
        graft.sources.DeletionVectors
          .readMergeOnRead(s, baseTmp, dvTmp, "doc_id")
          .filter(col("lang") === "en")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
      }
    },
    "io13_dv_fold_compact" -> { (s, dir) =>
      // DELETION-VECTOR FOLDING COMPACTION — io11's lifecycle close:
      // the same fixture (base + two overlapping md5 delete draws) is
      // FOLDED (base-minus-vectors rewritten once, sidecar truncated),
      // and the result is the MoR read over the COMPACTED base — which
      // must equal the pre-fold view (the oracle replays the draws and
      // the anti-join), with the emptied sidecar's row count riding as
      // a hash-locked dv_rows=0 column. Idempotent refold + pushdown
      // survival on the compacted base are spec-locked (Wave12).
      val docs = t(s, dir, "documents")
      def draw(salt: String) = conv(
        substring(
          md5(concat(col("doc_id").cast("string"), lit(":" + salt))),
          1, 5),
        16, 10).cast("long")
      Scratch.sealedIn("graft_io13_base", "graft_io13_dv", "graft_io13_comp") {
        case Seq(baseTmp, dvTmp, compTmp) =>
          docs.repartition(4).write.mode("overwrite").parquet(baseTmp)
          graft.sources.DeletionVectors.appendDeletes(
            docs.filter(pmod(draw("dv1"), lit(8L)) === 0L).select("doc_id"),
            dvTmp)
          graft.sources.DeletionVectors.appendDeletes(
            docs.filter(pmod(draw("dv2"), lit(11L)) === 0L).select("doc_id"),
            dvTmp)
          graft.sources.DeletionVectors.foldCompact(
            s, baseTmp, dvTmp, "doc_id", compTmp)
          val dvRows = s.read.parquet(dvTmp)
            .agg(count(lit(1)).as("dv_rows"))
          graft.sources.DeletionVectors
            .readMergeOnRead(s, compTmp, dvTmp, "doc_id")
            .filter(col("lang") === "en")
            .groupBy(col("source"))
            .agg(
              count(lit(1)).as("n_docs"),
              sum(col("n_chars")).as("sum_chars"))
            .crossJoin(broadcast(dvRows))
      }
    },
    "io12_time_travel" -> { (s, dir) =>
      // SNAPSHOT / VERSION-AS-OF read (Delta time travel / Iceberg
      // snapshots; completes the lifecycle family with io7 compaction
      // and io11 deletion vectors): three deterministic batches commit
      // as versions 1..3 (data dirs first, then a manifest generation
      // and the pointer swap), the read plans VERSION AS OF 2 from the
      // live generation — version 3's rows must be invisible even
      // though its files sit in the same tree. The oracle replays the
      // batch rule at the cut.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_io12") { case Seq(root) =>
        (0 to 2).foreach { b =>
          graft.sources.Snapshots.commit(
            docs.filter(pmod(col("doc_id"), lit(3L)) === b),
            root, version = b + 1)
        }
        graft.sources.Snapshots.readVersion(s, root, asOf = 2)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
      }
    },
    "io12b_snapshot_expire" -> { (s, dir) =>
      // SNAPSHOT EXPIRATION / VACUUM — io12's lifecycle close: the
      // same three mod-3 batches commit as versions 1..3 plus a fake
      // ORPHAN dir (a crashed commit), then expire(cut=2) checkpoints
      // the as-of-2 state into one dir, publishes the generation
      // {(2, ckpt), (3, v3)} and sweeps expired + orphan dirs. The
      // result is the as-of-3 read AFTER expiry — byte-identical to
      // the full table (the oracle is the plain ground truth), with
      // the post-expiry manifest row count riding as a hash-locked
      // column. Expired-read-fails + orphan-swept + dirs-deleted are
      // spec-locked (SnapshotExpireSpec).
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_io12b") { case Seq(root) =>
        (0 to 2).foreach { b =>
          graft.sources.Snapshots.commit(
            docs.filter(pmod(col("doc_id"), lit(3L)) === b),
            root, version = b + 1)
        }
        // crashed commit: data landed, no generation published
        docs.limit(5).write.parquet(s"$root/data/v=9")
        // single-maintenance-writer collect-now (grace 0)
        graft.sources.Snapshots.expire(s, root, cut = 2, graceMs = 0L)
        val gen = graft.sources.Snapshots.currentGen(s, root).get
        val mrows = s.read.parquet(s"$root/manifest/g=$gen")
          .agg(count(lit(1)).as("manifest_rows"))
        graft.sources.Snapshots.readVersion(s, root, asOf = 3)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .crossJoin(broadcast(mrows))
      }
    },
    "io12c_atomic_expire" -> { (s, dir) =>
      // ATOMIC-POINTER snapshot lifecycle under crashes: manifests are
      // immutable GENERATIONS and the live one is a tiny `_current`
      // pointer updated by ONE atomic rename, so every crash state
      // reads consistently. After commits 1..3, a crashed COMMIT's
      // orphan data dir and a crashed EXPIRE's unswapped generation
      // are both planted (each invisible — the pointer never moved);
      // expire(2) then checkpoints, publishes
      // with one rename, and sweeps expired dirs + orphans + stale
      // generations. As-of-3 after expiry is byte-identical to the
      // full table; manifest_rows = 2 locks the published generation,
      // n_gens = 1 locks the sweep. Crash-window sequences (kill
      // between checkpoint/publish/swap/sweep) are spec-locked in
      // AtomicSnapshotSpec.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_io12c") { case Seq(root) =>
        (0 to 2).foreach { b =>
          graft.sources.Snapshots.commit(
            docs.filter(pmod(col("doc_id"), lit(3L)) === b),
            root, version = b + 1)
        }
        // crashed commit: data landed, no generation published
        docs.limit(5).write.parquet(s"$root/data/v=9")
        // crashed expire: generation written but the pointer never
        // swapped — must stay invisible and get swept
        graft.sources.Snapshots.writeManifestGen(
          s, root, 99L, Seq((1, s"$root/data/v=1")))
        // single-maintenance-writer collect-now (grace 0): this row
        // hash-locks n_gens = 1, the VACUUM-style immediate sweep
        graft.sources.Snapshots.expire(s, root, cut = 2, graceMs = 0L)
        val gen = graft.sources.Snapshots.currentGen(s, root).get
        val mrows = s.read.parquet(s"$root/manifest/g=$gen")
          .agg(count(lit(1)).as("manifest_rows"))
        val nGens = new java.io.File(s"$root/manifest").listFiles()
          .count(f => f.isDirectory && f.getName.startsWith("g="))
        graft.sources.Snapshots.readVersion(s, root, asOf = 3)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .crossJoin(broadcast(mrows))
          .withColumn("n_gens", lit(nGens.toLong))
      }
    },
    "io14_changes_since" -> { (s, dir) =>
      // INCREMENTAL CONSUMPTION (the change-data-feed / incremental-
      // scan primitive in the append-only model): three mod-3 batches
      // commit through the io12c atomic pointer lifecycle, then a
      // consumer polls versions (1, 3] and reads ONLY batches 2∪3 —
      // delta bytes, never the table (the property that lets a daily
      // 100 TB refresh read gigabytes). A second poll past the head
      // returns the documented EMPTY frame (schema intact, zero rows);
      // its count rides the output as a hash-locked column.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_io14") { case Seq(root) =>
        (0 to 2).foreach { b =>
          graft.sources.Snapshots.commit(
            docs.filter(pmod(col("doc_id"), lit(3L)) === b),
            root, version = b + 1)
        }
        val changes =
          graft.sources.Snapshots.changesSince(s, root, 1, 3)
        val emptyPoll =
          graft.sources.Snapshots.changesSince(s, root, 3, 9).count()
        changes
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn("empty_poll_rows", lit(emptyPoll))
      }
    },
    "io15_merge_upsert" -> { (s, dir) =>
      // COPY-ON-WRITE MERGE (Delta MERGE INTO / Iceberg CoW upsert —
      // the WRITE-path close of the lake family): documents keyed by
      // doc_id land as two range-split batches; the merge source
      // carries UPDATES confined to the low half (n_chars + 1000 for
      // doc_id%6=0) and INSERTS in brand-new key space (+1e9 — the
      // "today's ids are new" shape). Manifest key stats prove the
      // high batch can hold no match, so it is carried BY PATH —
      // untouched_batches = 1 rides the hash. The read-back state
      // hash-matches the SQL merge semantics: matched rows replaced,
      // unmatched kept, new keys inserted.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_io15") { case Seq(root) =>
        val thr = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
        val base = docs.filter(pmod(col("doc_id"), lit(3L)) < 2)
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") <= thr), root, "doc_id")
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") > thr), root, "doc_id")
        val updates = docs
          .filter(pmod(col("doc_id"), lit(6L)) === 0 &&
            col("doc_id") <= thr)
          .withColumn("n_chars", col("n_chars") + 1000L)
        val inserts = docs
          .filter(pmod(col("doc_id"), lit(3L)) === 2)
          .withColumn("doc_id", col("doc_id") + 1000000000L)
        val rep = graft.sources.LakeTable.merge(
          updates.unionByName(inserts), root, "doc_id")
        graft.sources.LakeTable.read(s, root)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn(
            "untouched_batches", lit(rep.untouched.size.toLong))
      }
    },
    "io16_stats_pruned_scan" -> { (s, dir) =>
      // MANIFEST-STATS FILE SKIPPING (Iceberg's planning trick, the
      // managed twin of io8's sorted-layout skipping): orders land as
      // 4 key-range batches whose min/max ride the manifest; a
      // `o_orderkey BETWEEN 1 AND max/4` scan is planned from those
      // stats alone — batches_read is computed by the SAME range
      // intersection in the ORACLE (b.kmax >= lo AND b.kmin <= hi), so
      // the pruning rule itself is hash-locked, not a brittle literal.
      val orders = t(s, dir, "orders")
      Scratch.sealedIn("graft_io16") { case Seq(root) =>
        val mx = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
        val batchCol =
          least(lit(3L), expr(s"o_orderkey * 4 div ${mx + 1}"))
        (0L to 3L).foreach { b =>
          graft.sources.LakeTable.append(
            orders.filter(batchCol === b), root, "o_orderkey")
        }
        val hi = mx / 4
        val kept = graft.sources.LakeTable.planPruned(
          graft.sources.LakeTable.currentRows(s, root), 1L, hi).size
        graft.sources.LakeTable
          .readPruned(s, root, "o_orderkey", 1L, hi)
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("batches_read", lit(kept.toLong))
      }
    },
    "st25_feed_consume" -> { (s, dir) =>
      // STREAMING CHANGE-FEED CONSUMPTION (the Delta streaming-source /
      // Kafka-consumer shape over the engine's own snapshot format): a
      // tick-driven Structured Streaming job polls the bronze feed,
      // lands each polled range under a range-keyed idempotent sink,
      // and commits its offset with one atomic rename AFTER the write.
      // Bronze grows BETWEEN ticks; the crash window (range processed,
      // offset never committed) is planted before tick 2, whose re-poll
      // REDELIVERS the same range and must overwrite, not duplicate; a
      // caught-up tick is a no-op. The read-back hash-matches the full
      // table: zero loss, zero duplication, offsets at head.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_st25b", "graft_st25c", "graft_st25o") {
        case Seq(bronze, consumer, out) =>
          val sp = s
          import sp.implicits._
          import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
          implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
          def sink(df: DataFrame, from: Int, to: Int): Unit =
            df.withColumn("feed_to", lit(to))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("feed_to")
              .parquet(out)
          graft.sources.Snapshots.commit(
            docs.filter(pmod(col("doc_id"), lit(3L)) === 0), bronze, 1)
          val ticks = MemoryStream[Int]
          val q = graft.streaming.ChangeFeed.streamingConsumer(
            ticks.toDS().toDF(), bronze, consumer)(sink)
          try {
            ticks.addData(1); q.processAllAvailable() // consumes (0, 1]
            graft.sources.Snapshots.commit(
              docs.filter(pmod(col("doc_id"), lit(3L)) === 1), bronze, 2)
            graft.sources.Snapshots.commit(
              docs.filter(pmod(col("doc_id"), lit(3L)) === 2), bronze, 3)
            // the crash: (1, 3] was processed but the offset commit died
            sink(graft.sources.Snapshots
              .changesSince(s, bronze, 1, 3), 1, 3)
            ticks.addData(2); q.processAllAvailable() // redelivers (1, 3]
            ticks.addData(3); q.processAllAvailable() // caught up: no-op
          } finally q.stop()
          val off = graft.streaming.ChangeFeed
            .committedOffset(s, consumer).toLong
          s.read.parquet(out)
            .groupBy(col("lang"))
            .agg(
              count(lit(1)).as("n_docs"),
              sum(col("n_chars")).as("sum_chars"))
            .withColumn("final_offset", lit(off))
      }
    },
    "st30_cdf_source" -> { (s, dir) =>
      // THE LAKE CDF AS A FIRST-CLASS STREAMING SOURCE (r16 verdict
      // #2 — st29's poll helper lifted into the engine:
      // `spark.readStream.format("graft-cdf")`): the offset IS a
      // manifest generation living in the streaming checkpoint's own
      // offset log, so recovery is the ENGINE's — this row runs st29's
      // exact wave scenario as four KILL-AND-RESTART legs, each a
      // fresh query resuming from the same checkpoint (replacing
      // st29's hand-planted crash): leg 1 bootstraps the head snapshot
      // (insert rows), the query DIES, a merge wave lands, leg 2
      // resumes from the checkpointed generation and reads exactly
      // (g2, g3], a CDC delete wave lands, leg 3 reads (g3, g4], leg 4
      // is caught up (no batch). The signed reconstruction must equal
      // the live table exactly, and final_gen is read from the
      // CHECKPOINT'S OWN offset log — the integration the bespoke
      // consumerDir could not give.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_st30l", "graft_st30k", "graft_st30o") {
        case Seq(lake, ckpt, out) =>
          val thr = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
          val base = docs.filter(pmod(col("doc_id"), lit(3L)) < 2)
          graft.sources.LakeTable.append(
            base.filter(col("doc_id") <= thr), lake, "doc_id") // g1
          graft.sources.LakeTable.append(
            base.filter(col("doc_id") > thr), lake, "doc_id") // g2
          // one kill-and-restart leg: a FRESH query on the SAME
          // checkpoint, drained and stopped (range-keyed idempotent
          // sink: a replayed batch re-plans the same (start, end] and
          // overwrites its own generation dir)
          def leg(): Unit = {
            val q = s.readStream.format("graft-cdf")
              .option("key", "doc_id").load(lake)
              .writeStream
              .option("checkpointLocation", ckpt)
              .foreachBatch { (df: DataFrame, _: Long) =>
                df.write.mode("overwrite")
                  .option("partitionOverwriteMode", "dynamic")
                  .partitionBy("_generation")
                  .parquet(out)
                ()
              }
              .start()
            try q.processAllAvailable()
            finally q.stop()
          }
          leg() // bootstrap at g2
          val updates = docs
            .filter(pmod(col("doc_id"), lit(6L)) === 0 &&
              col("doc_id") <= thr)
            .withColumn("n_chars", col("n_chars") + 1000L)
          val inserts = docs
            .filter(pmod(col("doc_id"), lit(3L)) === 2)
            .withColumn("doc_id", col("doc_id") + 1000000000L)
          graft.sources.LakeTable.merge(
            updates.unionByName(inserts), lake, "doc_id") // g3
          leg() // resumes from ckpt: (g2, g3]
          graft.sources.LakeTable.applyChanges(
            docs.filter(pmod(col("doc_id"), lit(12L)) === 3)
              .withColumn("op", lit("D")),
            lake, "doc_id") // g4
          leg() // (g3, g4]
          leg() // caught up: no batch
          // the committed offset from the CHECKPOINT's offset log: the
          // newest offsets file's last line is the generation name
          val offDir = java.nio.file.Paths.get(s"$ckpt/offsets")
          val last = java.nio.file.Files.list(offDir).iterator()
          val newest = {
            import scala.jdk.CollectionConverters._
            last.asScala.toSeq
              .filter(_.getFileName.toString.forall(_.isDigit))
              .maxBy(_.getFileName.toString.toLong)
          }
          val offOrd = graft.sources.LakeTable.ordinal(
            new String(java.nio.file.Files.readAllBytes(newest), "UTF-8")
              .split("\n").filter(_.startsWith("g=")).last.trim)
          s.read.parquet(out)
            .withColumn("sign",
              when(col("_change_type").isin("insert", "update_post"), 1L)
                .otherwise(-1L))
            .groupBy(col("lang"))
            .agg(
              sum(col("sign")).as("n_docs"),
              sum(col("sign") * col("n_chars")).as("sum_chars"))
            .withColumn("final_gen", lit(offOrd))
      }
    },
    "st29_lake_feed_stream" -> { (s, dir) =>
      // STREAMING CONSUMPTION of the ROW-LEVEL lake change feed (r15
      // verdict #1 — io22's feed driven by a real Structured Streaming
      // job, the production medallion hop p16 ran batch-style): a
      // tick-driven consumer keeps a committed GENERATION offset,
      // bootstraps from the head snapshot (readAt as one insert
      // batch), then per tick reads changesBetween(offset, head) —
      // delta bytes, never the table — into a range-keyed idempotent
      // sink (partitioned by target generation ordinal). A merge wave
      // and a CDC delete wave land BETWEEN ticks; the crash window
      // (range processed, offset never committed) is planted before
      // tick 2, whose re-poll REDELIVERS and overwrites; a caught-up
      // tick is a no-op. Downstream state is reconstructed from SIGNED
      // contributions (insert/update_post +, update_pre/delete −) — it
      // must equal the live table state exactly: zero loss, zero
      // duplication, offset at the head generation.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_st29l", "graft_st29c", "graft_st29o") {
        case Seq(lake, consumer, out) =>
          val sp = s
          import sp.implicits._
          import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
          implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
          def sink(df: DataFrame, from: Option[String], to: String): Unit =
            df.withColumn(
              "feed_to", lit(graft.sources.LakeTable.ordinal(to)))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("feed_to")
              .parquet(out)
          val thr = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
          val base = docs.filter(pmod(col("doc_id"), lit(3L)) < 2)
          graft.sources.LakeTable.append(
            base.filter(col("doc_id") <= thr), lake, "doc_id") // g1
          graft.sources.LakeTable.append(
            base.filter(col("doc_id") > thr), lake, "doc_id") // g2
          val ticks = MemoryStream[Int]
          val q = graft.streaming.LakeChangeFeed.streamingConsumer(
            ticks.toDS().toDF(), lake, "doc_id", consumer)(sink)
          try {
            ticks.addData(1); q.processAllAvailable() // bootstrap at g2
            // merge wave → g3 (the io22 shape: updates + inserts)
            val updates = docs
              .filter(pmod(col("doc_id"), lit(6L)) === 0 &&
                col("doc_id") <= thr)
              .withColumn("n_chars", col("n_chars") + 1000L)
            val inserts = docs
              .filter(pmod(col("doc_id"), lit(3L)) === 2)
              .withColumn("doc_id", col("doc_id") + 1000000000L)
            graft.sources.LakeTable.merge(
              updates.unionByName(inserts), lake, "doc_id")
            // the crash: (g2, g3] was processed but the offset commit died
            val from = graft.streaming.LakeChangeFeed
              .committedGen(s, consumer).get
            val head = graft.sources.LakeTable.currentName(s, lake).get
            sink(graft.sources.LakeTable
              .changesBetween(s, lake, "doc_id", from, head),
              Some(from), head)
            ticks.addData(2); q.processAllAvailable() // redelivers (g2, g3]
            // CDC delete wave → g4 (deletes are −rows in the feed)
            graft.sources.LakeTable.applyChanges(
              docs.filter(pmod(col("doc_id"), lit(12L)) === 3)
                .withColumn("op", lit("D")),
              lake, "doc_id")
            ticks.addData(3); q.processAllAvailable() // consumes (g3, g4]
            ticks.addData(4); q.processAllAvailable() // caught up: no-op
          } finally q.stop()
          val offOrd = graft.sources.LakeTable.ordinal(
            graft.streaming.LakeChangeFeed.committedGen(s, consumer).get)
          s.read.parquet(out)
            .withColumn("sign",
              when(col("_change_type").isin("insert", "update_post"), 1L)
                .otherwise(-1L))
            .groupBy(col("lang"))
            .agg(
              sum(col("sign")).as("n_docs"),
              sum(col("sign") * col("n_chars")).as("sum_chars"))
            .withColumn("final_gen", lit(offOrd))
      }
    },
    "p13_medallion_merge" -> { (s, dir) =>
      // MEDALLION bronze→silver journey — the lake write path composed
      // end to end: bronze takes three commits (full load, then two
      // revision waves restating n_chars for doc_id%2=0 and %4=0), a
      // change-feed consumer polls with committed offsets, and each
      // delta MERGEs into the keyed silver table. Poll 2 spans TWO
      // commits, so the delta is reduced to latest-per-key by
      // `_commit_version` (max_by) before the merge — the reduction
      // every CDF consumer must do, here hash-locked: v3's +100 must
      // beat v2's +10 for %4 keys, never stack. Silver's read-back
      // hash-matches the from-scratch latest-state SQL; silver_batches
      // = 1 locks the rewrite consolidation.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_p13b", "graft_p13c", "graft_p13s") {
        case Seq(bronze, consumer, silver) =>
          graft.sources.Snapshots.commit(docs, bronze, 1)
          var first = true
          def applyPoll(from: Int, to: Int): Unit = {
            val delta = graft.sources.Snapshots
              .changesSinceVersioned(s, bronze, from, to)
            val dataCols = delta.columns.filter(_ != "_commit_version")
            val latest = delta.groupBy(col("doc_id"))
              .agg(max_by(
                struct(dataCols.map(col).toIndexedSeq: _*),
                col("_commit_version")).as("r"))
              .select(col("r.*"))
            if (first) {
              graft.sources.LakeTable.append(latest, silver, "doc_id")
              first = false
            } else graft.sources.LakeTable.merge(latest, silver, "doc_id")
          }
          graft.streaming.ChangeFeed.poll(s, bronze, consumer) {
            (_, from, to) => applyPoll(from, to)
          }
          graft.sources.Snapshots.commit(
            docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
              .withColumn("n_chars", col("n_chars") + 10L), bronze, 2)
          graft.sources.Snapshots.commit(
            docs.filter(pmod(col("doc_id"), lit(4L)) === 0)
              .withColumn("n_chars", col("n_chars") + 100L), bronze, 3)
          graft.streaming.ChangeFeed.poll(s, bronze, consumer) {
            (_, from, to) => applyPoll(from, to)
          }
          val nBatches = graft.sources.LakeTable
            .currentRows(s, silver).size.toLong
          graft.sources.LakeTable.read(s, silver)
            .groupBy(col("lang"))
            .agg(
              count(lit(1)).as("n_docs"),
              sum(col("n_chars")).as("sum_chars"))
            .withColumn("silver_batches", lit(nBatches))
      }
    },
    "io17_compact_cluster" -> { (s, dir) =>
      // COMPACTION with RANGE CLUSTERING (Delta OPTIMIZE + the sort
      // that re-sharpens stats pruning): three mod-3 appends each span
      // the whole key space, so a range read must touch 3/3 batches;
      // compact() rewrites into tertile buckets in ONE partitioned
      // write and the same read prunes to 1/3. batches_before/after/
      // total are all REPLAYED by the oracle from the same split
      // arithmetic and intersection rule — the clustering benefit
      // itself is hash-locked, not asserted.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_io17") { case Seq(root) =>
        (0L to 2L).foreach { b =>
          graft.sources.LakeTable.append(
            docs.filter(pmod(col("doc_id"), lit(3L)) === b),
            root, "doc_id")
        }
        val mx = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
        val s1 = mx / 3
        val s2 = 2L * (mx / 3)
        val before = graft.sources.LakeTable.planPruned(
          graft.sources.LakeTable.currentRows(s, root), s1, s2 - 1).size
        graft.sources.LakeTable.compact(s, root, "doc_id", Seq(s1, s2))
        val rows = graft.sources.LakeTable.currentRows(s, root)
        val after = graft.sources.LakeTable.planPruned(rows, s1, s2 - 1).size
        graft.sources.LakeTable
          .readPruned(s, root, "doc_id", s1, s2 - 1)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn("batches_before", lit(before.toLong))
          .withColumn("batches_after", lit(after.toLong))
          .withColumn("batches_total", lit(rows.size.toLong))
      }
    },
    "io18_cdc_apply" -> { (s, dir) =>
      // CDC APPLY — merge generalized with DELETES (the Delta
      // `WHEN MATCHED ... THEN DELETE` form): one change set carries
      // deletes (doc_id%5=0, low half), updates (%7=0 minus the delete
      // keys, +55), and inserts (%9=0 at +1e9) with op ∈ {U,D}; the
      // high batch provably holds no change key, so it is carried by
      // path (untouched_batches = 1 rides the hash) and the rewrite
      // drops victims, restates matches, and inserts the rest in one
      // full-outer pass over touched ∪ changes.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_io18") { case Seq(root) =>
        val thr = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
        graft.sources.LakeTable.append(
          docs.filter(col("doc_id") <= thr), root, "doc_id")
        graft.sources.LakeTable.append(
          docs.filter(col("doc_id") > thr), root, "doc_id")
        val dels = docs
          .filter(pmod(col("doc_id"), lit(5L)) === 0 &&
            col("doc_id") <= thr)
          .withColumn("op", lit("D"))
        val upds = docs
          .filter(pmod(col("doc_id"), lit(7L)) === 0 &&
            pmod(col("doc_id"), lit(5L)) =!= 0 && col("doc_id") <= thr)
          .withColumn("n_chars", col("n_chars") + 55L)
          .withColumn("op", lit("U"))
        val ins = docs
          .filter(pmod(col("doc_id"), lit(9L)) === 0)
          .withColumn("doc_id", col("doc_id") + 1000000000L)
          .withColumn("op", lit("U"))
        val rep = graft.sources.LakeTable.applyChanges(
          dels.unionByName(upds).unionByName(ins), root, "doc_id")
        graft.sources.LakeTable.read(s, root)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn(
            "untouched_batches", lit(rep.untouched.size.toLong))
      }
    },
    "io19_occ_merge" -> { (s, dir) =>
      // OPTIMISTIC CONCURRENCY (the Delta commit protocol — closes the
      // family's "single writer assumed" contract for the keyed
      // table): writer A OBSERVES the live generation; writer B lands
      // a merge first; A's validate-and-swap is REFUSED — publishing
      // A's stale observation would have erased B's commit (the lost
      // update OCC exists to prevent); A REBASES (a plain merge
      // re-observes) and lands. Both updates survive, hash-locked;
      // conflicts_detected = 1 locks that the stale publish really was
      // refused, not silently applied. The free-running 4-writer race
      // is spec-locked (LakeTableSpec).
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_io19") { case Seq(root) =>
        graft.sources.LakeTable.append(docs, root, "doc_id")
        val (rowsA, obsA) = graft.sources.LakeTable.currentState(s, root)
        graft.sources.LakeTable.merge(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 2)
            .withColumn("n_chars", col("n_chars") + 3L), root, "doc_id")
        val refused = !graft.sources.LakeTable
          .publishIfCurrent(s, root, rowsA, obsA)
        graft.sources.LakeTable.merge(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 1)
            .withColumn("n_chars", col("n_chars") + 7L), root, "doc_id")
        graft.sources.LakeTable.read(s, root)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn(
            "conflicts_detected", lit(if (refused) 1L else 0L))
      }
    },
    "p14_table_maintenance" -> { (s, dir) =>
      // TABLE-MAINTENANCE journey — the keyed-lake write path composed
      // end to end, every hop through the OCC commit: three
      // INTERLEAVED ingest appends (each spans the whole key space —
      // worst case for pruning), one CDC wave (deletes %10=7, updates
      // %5=0 at +9 — disjoint by construction), a RETENTION delete of
      // [0, max/5], then range-clustering COMPACTION at max/2, and
      // finally a stats-pruned probe of the upper half. The oracle
      // replays the survivor set AND the post-compact bucket
      // intersection, so both the data and the restored pruning are
      // hash-locked through the full maintenance chain.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_p14") { case Seq(root) =>
        val mx = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
        (0L to 2L).foreach { b =>
          graft.sources.LakeTable.append(
            docs.filter(pmod(col("doc_id"), lit(3L)) === b),
            root, "doc_id")
        }
        val dels = docs
          .filter(pmod(col("doc_id"), lit(10L)) === 7)
          .withColumn("op", lit("D"))
        val upds = docs
          .filter(pmod(col("doc_id"), lit(5L)) === 0)
          .withColumn("n_chars", col("n_chars") + 9L)
          .withColumn("op", lit("U"))
        graft.sources.LakeTable.applyChanges(
          dels.unionByName(upds), root, "doc_id")
        graft.sources.LakeTable.deleteRange(s, root, "doc_id", 0L, mx / 5)
        graft.sources.LakeTable.compact(s, root, "doc_id", Seq(mx / 2))
        val rows = graft.sources.LakeTable.currentRows(s, root)
        val kept = graft.sources.LakeTable
          .planPruned(rows, mx / 2, mx).size
        graft.sources.LakeTable
          .readPruned(s, root, "doc_id", mx / 2, mx)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn("batches_read", lit(kept.toLong))
          .withColumn("batches_total", lit(rows.size.toLong))
      }
    },
    "io20_retention_delete" -> { (s, dir) =>
      // RETENTION DELETE with METADATA-ONLY drops (Delta DELETE WHERE /
      // Iceberg delete-by-predicate): documents land as 4 key-range
      // batches; deleting [0, cut] (cut mid-batch-1) drops batch 0 from
      // the MANIFEST without touching a data byte, rewrites only the
      // straddler, and carries batches 2-3 by path. All three class
      // counts are REPLAYED by the oracle from the same split and
      // classification arithmetic — the cost asymmetry (1 rewrite out
      // of 4 batches for a 37.5% delete) is itself hash-locked.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_io20") { case Seq(root) =>
        val mx = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
        val batchCol = least(lit(3L), expr(s"doc_id * 4 div ${mx + 1}"))
        (0L to 3L).foreach { b =>
          graft.sources.LakeTable.append(
            docs.filter(batchCol === b), root, "doc_id")
        }
        val cut = 3L * (mx + 1L) / 8L
        val rep = graft.sources.LakeTable
          .deleteRange(s, root, "doc_id", 0L, cut)
        graft.sources.LakeTable.read(s, root)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn(
            "dropped_metadata_only",
            lit(rep.droppedMetadataOnly.size.toLong))
          .withColumn(
            "rewritten_batches", lit(rep.rewritten.size.toLong))
          .withColumn(
            "untouched_batches", lit(rep.untouched.size.toLong))
      }
    },
    "io21_schema_evolution" -> { (s, dir) =>
      // SCHEMA-EVOLVING MERGE (Delta mergeSchema/autoMerge): the source
      // carries a NEW `quality` column; the rewritten batch takes the
      // union schema, the untouched high batch stays on the OLD schema
      // BY PATH (untouched_batches = 1), and the mergeSchema read
      // fills its quality with null — evolution costs exactly what the
      // merge already paid. sum/count of quality hash-lock both the
      // new values and the null-fill.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_io21") { case Seq(root) =>
        val thr = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
        graft.sources.LakeTable.append(
          docs.filter(col("doc_id") <= thr), root, "doc_id")
        graft.sources.LakeTable.append(
          docs.filter(col("doc_id") > thr), root, "doc_id")
        val updates = docs
          .filter(pmod(col("doc_id"), lit(4L)) === 0 &&
            col("doc_id") <= thr)
          .withColumn(
            "quality", round(col("n_chars") / lit(1000.0), 3))
        val inserts = docs
          .filter(pmod(col("doc_id"), lit(3L)) === 2)
          .withColumn("doc_id", col("doc_id") + 1000000000L)
          .withColumn("quality", lit(0.5))
        val rep = graft.sources.LakeTable.merge(
          updates.unionByName(inserts), root, "doc_id",
          mergeSchema = true)
        graft.sources.LakeTable.read(s, root)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            round(sum(col("quality")), 3).as("sum_quality"),
            count(col("quality")).as("n_quality"))
          .withColumn(
            "untouched_batches", lit(rep.untouched.size.toLong))
      }
    },
    "io22_row_change_feed" -> { (s, dir) =>
      // ROW-LEVEL CHANGE FEED between generations (Delta CDF / Iceberg
      // changelog, net form — the medallion hop downstream of a
      // MERGE): the io15 scenario's merge, then changesBetween(g2, g3)
      // read OUT of the table — updates surface as update_pre/
      // update_post pairs, new keys as inserts, and the BYTE-IDENTICAL
      // rewrites of untouched neighbors in the touched batch do NOT
      // appear (null-safe full-row equality). carried_batches = 1
      // locks the zero-work property: the untouched high batch is
      // carried by path and contributes nothing to the diff read.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_io22") { case Seq(root) =>
        val thr = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
        val base = docs.filter(pmod(col("doc_id"), lit(3L)) < 2)
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") <= thr), root, "doc_id")
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") > thr), root, "doc_id")
        val gFrom = graft.sources.LakeTable.currentName(s, root).get
        val updates = docs
          .filter(pmod(col("doc_id"), lit(6L)) === 0 &&
            col("doc_id") <= thr)
          .withColumn("n_chars", col("n_chars") + 1000L)
        val inserts = docs
          .filter(pmod(col("doc_id"), lit(3L)) === 2)
          .withColumn("doc_id", col("doc_id") + 1000000000L)
        graft.sources.LakeTable.merge(
          updates.unionByName(inserts), root, "doc_id")
        val gTo = graft.sources.LakeTable.currentName(s, root).get
        val carried = graft.sources.LakeTable.diffPlan(
          graft.sources.LakeTable.genRows(s, root, gFrom),
          graft.sources.LakeTable.genRows(s, root, gTo)).carried.size
        graft.sources.LakeTable
          .changesBetween(s, root, "doc_id", gFrom, gTo)
          .groupBy(col("_change_type"), col("lang"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn("carried_batches", lit(carried.toLong))
      }
    },
    "io24_multicol_stats" -> { (s, dir) =>
      // MULTI-COLUMN secondary stats (r16 verdict #6 — the Iceberg
      // per-column bounds map, one stat per tracked column instead of
      // io23's single col2): the event log keyed by event_id z-orders
      // on (event_id, user_id) for user probes, and ALSO tracks
      // ts_days — the business date, which correlates with the
      // append-ordered key (the exact production shape: time-pruning
      // pays off because the layout already clusters the correlated
      // key). A first-quarter date probe prunes on the THIRD (non-z)
      // column; a narrow-key merge wave then rewrites the touched
      // buckets and the bounds SURVIVE via the per-column union —
      // pre/post planning counts and the post-merge date-sliced
      // aggregate all ride the hash, each replayed by the oracle from
      // the z arithmetic.
      val ev = graft.sources.Tables.events(s, dir).withColumn(
        "ts_days",
        datediff(col("ts"), lit("1970-01-01")).cast("long"))
      Scratch.sealedIn("graft_io24") { case Seq(root) =>
        (0L to 3L).foreach { i =>
          graft.sources.LakeTable.append(
            ev.filter(pmod(col("event_id"), lit(4L)) === i),
            root, "event_id")
        }
        graft.sources.LakeTable.compactZ(
          s, root, "event_id", "user_id", buckets = 4,
          statCols = Seq("ts_days"))
        val b = ev.agg(
          min(col("ts_days")), max(col("ts_days")),
          min(col("event_id")), max(col("event_id"))).collect()(0)
        val (dmin, dmax) = (b.getLong(0), b.getLong(1))
        val (emin, emax) = (b.getLong(2), b.getLong(3))
        val (dlo, dhi) = (dmin, dmin + (dmax - dmin) / 4)
        val pre = graft.sources.LakeTable.currentRows(s, root)
        val preRead = graft.sources.LakeTable
          .planPrunedOn(pre, "ts_days", dlo, dhi).size
        val src = ev
          .filter(col("event_id") <= emin + (emax - emin) / 8 &&
            pmod(col("event_id"), lit(7L)) === 0)
          .withColumn("value", col("value") + 1.0)
        graft.sources.LakeTable.merge(src, root, "event_id")
        val post = graft.sources.LakeTable.currentRows(s, root)
        val postRead = graft.sources.LakeTable
          .planPrunedOn(post, "ts_days", dlo, dhi).size
        graft.sources.LakeTable
          .readPrunedOn(s, root, "ts_days", dlo, dhi)
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            round(sum(col("value")), 4).as("sum_value"))
          .withColumn("pre_batches_read", lit(preRead.toLong))
          .withColumn("pre_batches_total", lit(pre.size.toLong))
          .withColumn("post_batches_read", lit(postRead.toLong))
          .withColumn("post_batches_total", lit(post.size.toLong))
      }
    },
    "io23_zorder_compact" -> { (s, dir) =>
      // Z-ORDER COMPACTION (Delta OPTIMIZE ZORDER / Iceberg z-order
      // rewrite — io9's Morton algebra carried into the MANAGED
      // table): orders land as 4 interleaved batches, then compact two
      // ways — lexicographic on o_orderkey (io17) vs z-order on
      // (o_orderkey, o_custkey) with per-batch bounds for BOTH columns
      // riding the manifest. A selective o_custkey probe then prunes
      // on the SECOND dimension: the z layout reads a strict subset of
      // batches while the lex layout must read them all — both counts,
      // and the planning arithmetic that produced them, are replayed
      // by the oracle and ride the hash.
      val ord = t(s, dir, "orders")
      Scratch.sealedIn("graft_io23z", "graft_io23l") { case Seq(zroot, lexroot) =>
        (0L to 3L).foreach { i =>
          val part = ord.filter(pmod(col("o_orderkey"), lit(4L)) === i)
          graft.sources.LakeTable.append(part, zroot, "o_orderkey")
          graft.sources.LakeTable.append(part, lexroot, "o_orderkey")
        }
        val r = ord.agg(
          max(col("o_orderkey")), min(col("o_custkey")),
          max(col("o_custkey"))).collect()(0)
        val (mx, cmin, cmax) = (r.getLong(0), r.getLong(1), r.getLong(2))
        graft.sources.LakeTable.compactZ(
          s, zroot, "o_orderkey", "o_custkey", buckets = 4)
        graft.sources.LakeTable.compact(
          s, lexroot, "o_orderkey",
          Seq(mx / 4, mx / 2, 3 * mx / 4))
        val lo = cmin
        val hi = cmin + (cmax - cmin) / 4
        val zRows = graft.sources.LakeTable.currentRows(s, zroot)
        val lexRows = graft.sources.LakeTable.currentRows(s, lexroot)
        val zRead = graft.sources.LakeTable
          .planPrunedOn(zRows, "o_custkey", lo, hi).size
        val lexRead = graft.sources.LakeTable
          .planPrunedOn(lexRows, "o_custkey", lo, hi).size
        graft.sources.LakeTable
          .readPrunedOn(s, zroot, "o_custkey", lo, hi)
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("z_batches_read", lit(zRead.toLong))
          .withColumn("z_batches_total", lit(zRows.size.toLong))
          .withColumn("lex_batches_read", lit(lexRead.toLong))
          .withColumn("lex_batches_total", lit(lexRows.size.toLong))
      }
    },
    "st26_stream_cdc_lake" -> { (s, dir) =>
      // STREAMING CDC UPSERT SINK into the keyed lake table (Delta's
      // streaming-MERGE recipe: foreachBatch + upsert): three change
      // micro-batches — full load, then +10 restatements for %2 keys
      // and deletes for %10=3 keys, then +100 restatements for %4
      // keys — apply through LakeTable.applyChanges; then the NEWEST
      // batch is REPLAYED (the restart window between sink commit and
      // checkpoint commit) and must converge: re-upserts restate, re-
      // deletes find nothing. The read-back hash-matches the
      // latest-state-with-deletes SQL; silver_batches = 1 locks the
      // rewrite consolidation through every application.
      val sp = s
      import sp.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
      Scratch.sealedIn("graft_st26") { case Seq(root) =>
        val cols = Seq("doc_id", "text", "lang", "source", "n_chars", "op")
        val docs = t(s, dir, "documents")
          .select(
            col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"))
          .as[(Long, String, String, String, Long)]
          .collect()
        def asU(r: (Long, String, String, String, Long), d: Long) =
          (r._1, r._2, r._3, r._4, r._5 + d, "U")
        val b1 = docs.map(asU(_, 0L)).toIndexedSeq
        val b2 = (docs.filter(_._1 % 2 == 0).map(asU(_, 10L)) ++
          docs.filter(_._1 % 10 == 3)
            .map(r => (r._1, r._2, r._3, r._4, r._5, "D"))).toIndexedSeq
        val b3 = docs.filter(_._1 % 4 == 0).map(asU(_, 100L)).toIndexedSeq
        val ms = MemoryStream[(Long, String, String, String, Long, String)]
        val q = graft.streaming.ChangeFeed.cdcSink(
          ms.toDS().toDF(cols: _*), root, "doc_id")
        try {
          Seq(b1, b2, b3).foreach { b =>
            ms.addData(b); q.processAllAvailable()
          }
        } finally q.stop()
        // the replay: re-apply the newest batch (what a restarted query
        // redelivers when the sink committed but the checkpoint didn't)
        graft.streaming.ChangeFeed.applyCdcBatch(
          b3.toDF(cols: _*), root, "doc_id")
        val nBatches = graft.sources.LakeTable
          .currentRows(s, root).size.toLong
        graft.sources.LakeTable.read(s, root)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn("silver_batches", lit(nBatches))
      }
    },
    "d34_hash_embed" -> ((s, dir) =>
      // feature-hashing embedding (the hashing trick): signed token
      // counts per md5-drawn dimension, L2-normalized, rounded 6 —
      // emitted LONG-FORM (doc_id, d, v_r) so every component is
      // hash-checked, not just the frame shape
      TextOps.hashEmbed(t(s, dir, "documents"), dim = 16)
        .select(col("doc_id"), posexplode(col("embedding"))
          .as(Seq("d", "v_r")))),
    "p6_hybrid_rrf" -> { (s, dir) =>
      // HYBRID SEARCH journey: BM25 lexical top-50 (d41) + semantic
      // top-50 (the query text embedded through the SAME d34 hashing
      // chain as the corpus — it rides the union as pseudo-doc −1),
      // fused by reciprocal-rank fusion. Every stage ranks on
      // (rounded score, doc_id), so the oracle replays the full
      // lexical chain, the full embedding chain, both rank lists and
      // the fused cut. The rank windows run on k-bounded frames (50
      // rows), never the corpus.
      import org.apache.spark.sql.expressions.Window
      val sp = s
      import sp.implicits._
      val docs = t(s, dir, "documents")
      val lex = TextOps
        .bm25TopK(docs, Seq("hash", "join", "scan"), k = 50)
        .withColumn(
          "rank",
          row_number().over(Window.orderBy(desc("score"), asc("doc_id"))))
        .select(col("doc_id"), col("rank"))
      val withQ = docs.select(col("doc_id"), col("text"))
        .unionByName(Seq((-1L, "hash join scan")).toDF("doc_id", "text"))
      val embAll = TextOps.hashEmbed(withQ, dim = 16)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qv = broadcast(
        embAll.filter(col("doc_id") === -1)
          .select(col("embedding").as("qv")))
      val sem = embAll.filter(col("doc_id") >= 0)
        .crossJoin(qv)
        .select(
          col("doc_id"),
          round(
            graft.operators.Similarity
              .cosine(col("embedding"), col("qv")), 6).as("cos"))
        .orderBy(desc("cos"), asc("doc_id")).limit(50)
        .withColumn(
          "rank",
          row_number().over(Window.orderBy(desc("cos"), asc("doc_id"))))
        .select(col("doc_id"), col("rank"))
      graft.operators.CacheScope.sealAfter(
        graft.operators.Metrics.rrfFuse(Seq(lex, sem), k = 20), embAll)
    },
    "p7_multilevel_community" -> { (s, dir) =>
      // MULTILEVEL COMMUNITY DETECTION journey (the Louvain-shaped
      // loop real graph pipelines run): detect (g22 LPA) → contract
      // (g39 coarsen) → detect AGAIN on the |communities|-wide coarse
      // graph → map every fine vertex through both levels, with the
      // g35 modularity score of the fine partition AND of the
      // coarse-induced partition riding as 1-row broadcast columns —
      // the refinement check (did the second level improve Q on the
      // ORIGINAL graph?) that closes the multilevel loop. Every stage
      // is already oracle-locked alone (g22/g39/g35); this row locks
      // the composed trajectory. Scale: level 2 runs on a graph
      // |communities| wide — the whole point of coarsening — and the
      // two modularity frames are 1 row each.
      val e = graft.sources.SyntheticGraph.portable(s, 400, 1200, "g22")
      val l1 = GraphBuilder.labelPropagation(e, 3)
      val coarse = GraphBuilder.coarsen(e, l1)
      val l2 = GraphBuilder.labelPropagation(
        coarse.select(col("lu").as("src"), col("lv").as("dst")), 3)
      // left_outer + coalesce: total by construction (every community
      // label reaches the coarse graph — all fine vertices are edge
      // endpoints), kept defensive so a future edgeless-input change
      // degrades to identity instead of dropping vertices
      val mapped = l1
        .join(
          l2.select(col("id").as("lbl"), col("lbl").as("lbl2")),
          Seq("lbl"), "left_outer")
        .select(
          col("id"), col("lbl").as("lbl_fine"),
          coalesce(col("lbl2"), col("lbl")).as("lbl_coarse"))
      val qFine = GraphBuilder.modularity(e, l1)
        .select(col("q_r").as("q_fine_r"))
      val qMulti = GraphBuilder.modularity(
        e, mapped.select(col("id"), col("lbl_coarse").as("lbl")))
        .select(col("q_r").as("q_multi_r"))
      mapped.crossJoin(broadcast(qFine)).crossJoin(broadcast(qMulti))
    },
    "p10_media_ingest" -> { (s, dir) =>
      // MEDIA-LAKE INGEST journey (the multimodal p8/p9: the m-family
      // composed end to end, in cost order): m1 metadata stats (the
      // governance pass — payload never read, its corpus totals ride
      // the manifest as 1-row broadcast columns) → m5 perceptual
      // near-dup pairs (banded pigeonhole, no |D|² stage) with the
      // d1 min-id keep rule (every pair's LARGER id drops) → m6
      // interleaved packing of the SURVIVORS into 2048-token
      // image+text sequences. Every stage oracle-locked alone
      // (m1/m5/m6); this row locks the composition, sharing the m5
      // pair chain and the m6 packing chain with their own oracles so
      // the locks cannot drift. Scale: stats are metadata-only, dedup
      // is candidate-bounded, packing is one window per shard.
      val media = graft.operators.Multimodal.syntheticMedia(s, dir)
      val statsRow = graft.operators.Multimodal.metadataStats(media)
        .agg(
          sum(col("n_media")).as("n_media"),
          sum(col("total_bytes")).as("media_bytes"))
      val dups = graft.operators.Multimodal.perceptualNearDupPairs(media)
        .select(col("id_b").as("doc_id")).distinct()
      val nDrop = dups.agg(count(lit(1)).as("n_dropped"))
      val kept = t(s, dir, "documents")
        .join(broadcast(dups), Seq("doc_id"), "left_anti")
      val nImg = pmod(
        conv(
          substring(
            md5(concat(col("doc_id").cast("string"), lit(":m6"))), 1, 5),
          16, 10).cast("long"),
        lit(4L))
      graft.operators.Multimodal
        .interleavedPack(kept, nImg, budget = 2048, imageTokens = 576)
        .crossJoin(broadcast(statsRow))
        .crossJoin(broadcast(nDrop))
    },
    "p9_incremental_ingest" -> { (s, dir) =>
      // INCREMENTAL-INGEST journey (the ninth composed pipeline — what
      // a continuously-fed corpus runs on every batch, in cost order):
      // bloom-prefiltered history dedup (d56 — replays of known docs
      // never reach the gates) → quality gate (d24's rule chain on the
      // fresh survivors) → structure-aware chunking (d55's sentencize
      // + boundary-respecting packer) ready for the RAG/training
      // store. Every stage oracle-locked alone; this row locks the
      // composed trajectory byte for byte including every chunk
      // string. Scale: the bloom kills replays with zero shuffle, the
      // gate is a scan projection, the chunker one window per doc.
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
        .union(
          docs.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + lit(100000L)).as("doc_id"),
              col("text")))
      val fresh = batch.join(
        Dedup.bloomIngestGate(history, batch).select(col("doc_id")),
        Seq("doc_id"))
      val kept = fresh.join(
        TextOps.filterPipeline(fresh).filter(col("keep"))
          .select(col("doc_id")),
        Seq("doc_id"))
      TextOps.chunkStructured(sentencized(kept), budget = 48)
    },
    "p8_hygiene" -> { (s, dir) =>
      // CORPUS-HYGIENE journey (the eighth composed pipeline — the
      // ingest-cleaning chain an LLM corpus actually runs, in the
      // order that matters: cheap row-local gates first, the corpus-
      // wide index last so it only prices the survivors): language
      // gate (d8's stopword argmax, keep 'en') → quality gate (d24's
      // composed C4/Gopher rules) → EXACT substring span removal
      // (d50b, k=5) across the surviving corpus → exact dedup of the
      // CLEANED text (d1's min-id rule; docs cleaned to empty drop
      // out). Every stage is oracle-locked alone; this row locks the
      // composed trajectory byte-for-byte including the cleaned text.
      // Scale: the two gates are zero-exchange scan projections, the
      // span index shuffles 8-byte digests of the gated subset only,
      // and the final dedup keys on one md5 per survivor.
      val docs = t(s, dir, "documents")
      val lang = docs
        .withColumn("lang_guess", TextOps.languageGuess(col("text")))
        .filter(col("lang_guess") === "en")
      val keep = TextOps.filterPipeline(lang)
        .filter(col("keep")).select(col("doc_id"))
      val kept = lang.join(keep, Seq("doc_id"))
      val cleaned = Dedup.removeDuplicatedSpans(
        kept.select(col("doc_id"), col("text")), k = 5)
      val nonEmpty = cleaned
        .filter(length(col("text_clean")) > 0)
        .withColumn("dg", md5(col("text_clean")))
      val reps = nonEmpty
        .groupBy(col("dg")).agg(min(col("doc_id")).as("keep_id"))
      nonEmpty
        .join(reps, Seq("dg"))
        .filter(col("doc_id") === col("keep_id"))
        .select(
          col("doc_id"), col("n_tokens"), col("n_removed"),
          col("text_clean"))
    },
    "p8b_hygiene_ledger" -> { (s, dir) =>
      // the p8 journey's DROP LEDGER — provenance for every corpus doc
      // (the "why did my document disappear" answer a pipeline owner
      // actually asks): one row per doc with the FIRST stage that
      // dropped it ('lang' / 'quality' / 'span_removal' when cleaned
      // to empty / 'exact_dedup' with the kept twin's id as detail) or
      // 'kept'. Same stages, same rules, same canonical decisions as
      // p8 — the oracle shares every CTE with the p8 oracle so the two
      // locks cannot drift.
      val docs = t(s, dir, "documents")
      val lg = docs.select(
        col("doc_id"), TextOps.languageGuess(col("text")).as("lang_guess"))
      val lang = docs.join(
        lg.filter(col("lang_guess") === "en").select(col("doc_id")),
        Seq("doc_id"))
      val qr = TextOps.filterPipeline(lang)
        .select(col("doc_id"), col("reason"))
      val kept = lang.join(
        qr.filter(col("reason") === "ok").select(col("doc_id")),
        Seq("doc_id"))
      val cleaned = Dedup.removeDuplicatedSpans(
        kept.select(col("doc_id"), col("text")), k = 5)
      val ne = cleaned
        .filter(length(col("text_clean")) > 0)
        .select(col("doc_id"), md5(col("text_clean")).as("dg"))
      val reps = ne.groupBy(col("dg")).agg(min(col("doc_id")).as("keep_id"))
      lg
        .join(qr, Seq("doc_id"), "left_outer")
        .join(ne, Seq("doc_id"), "left_outer")
        .join(reps, Seq("dg"), "left_outer") // NULL dg matches nothing
        .select(
          col("doc_id"),
          when(col("lang_guess") =!= "en", lit("lang"))
            .when(col("reason") =!= "ok", lit("quality"))
            .when(col("dg").isNull, lit("span_removal"))
            .when(col("doc_id") === col("keep_id"), lit("kept"))
            .otherwise(lit("exact_dedup")).as("stage"),
          when(col("lang_guess") =!= "en", col("lang_guess"))
            .when(col("reason") =!= "ok", col("reason"))
            .when(col("dg").isNull, lit("emptied"))
            .when(col("doc_id") === col("keep_id"), lit("ok"))
            .otherwise(col("keep_id").cast("string")).as("detail"))
    },
    "p4_rag_index" -> { (s, dir) =>
      // the RAG-INDEX journey (the fourth composed pipeline next to
      // p1 text-prep / p2 entity-resolution / p3 graph-features):
      // quality gate (d24) → deterministic feature-hash embedding
      // (d34) → exact top-10 self-retrieval for the 3 smallest embedded
      // docs. A model-free index a pipeline can build at ingest — every
      // stage already oracle-locked alone; this row locks the composed
      // gate→embed→retrieve trajectory.
      val docs = t(s, dir, "documents")
      val keep = TextOps.filterPipeline(docs)
        .filter(col("keep")).select(col("doc_id"))
      val kept = docs.join(keep, Seq("doc_id"))
      val emb = TextOps.hashEmbed(kept, dim = 16)
        .select(col("doc_id").as("vec_id"), col("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // 3 smallest embedded ids as probes: a bounded driver action (3
      // longs), the same rule the oracle's ORDER BY … LIMIT 3 applies
      val probeIds = emb.select(col("vec_id")).orderBy(col("vec_id"))
        .limit(3).collect().map(_.getLong(0)).toSeq
      graft.operators.CacheScope.sealAfter(
        graft.operators.Similarity.knnBatch(emb, probeIds, k = 10), emb)
    },
    "d33_leak_safe_split" -> { (s, dir) =>
      // LEAKAGE-SAFE train/val/test split (the contamination rule a
      // training pipeline must enforce: near-duplicate documents must
      // never straddle a split — a test doc with a train-side near-dup
      // is leaked): p2's entity chain labels each near-dup component,
      // every doc keys its d12 md5 split draw on the GROUP label (its
      // own id when un-grouped), so a whole component lands in one
      // split. Cost over d12 is the dedup chain it composes; the split
      // itself stays a stateless projection on the group key.
      val docs = t(s, dir, "documents")
      val cands = Dedup.lshCandidatePairsPortable(docs, k = 16, bands = 4)
      val groups = Dedup.componentsFromPairs(
        Dedup.verifiedJaccardPairs(docs, cands, threshold = 0.8))
      val keyed = docs.select(col("doc_id"))
        .join(groups, Seq("doc_id"), "left_outer")
        .withColumn("group_id", coalesce(col("group_id"), col("doc_id")))
      Sampling.assignSplit(keyed, idCol = "group_id")
    },
    "p1_e2e_prep" -> { (s, dir) =>
      // the COMPLETE prep journey a pipeline user runs, as one composed
      // lazy plan: quality gate (d24) → exact dedup among survivors
      // (d1's min-id rule) → overlapping token chunking (d16) →
      // shard-packed sequence bookkeeping of the chunks (d19 at budget
      // 512, ordered by a per-chunk uid). Every stage is an
      // already-oracle-locked operator; this row locks their
      // COMPOSITION end-to-end (the oracle chains the same CTEs).
      // chunk_uid = doc_id·100000 + chunk_id is collision-free while
      // docs stay under 100000·stride = 1.6M tokens — far beyond the
      // corpus; the uid exists because packing orders by ONE key.
      val docs = t(s, dir, "documents")
      val kept = docs.join(
        TextOps.filterPipeline(docs)
          .filter(col("keep")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val deduped = TextOps.dedupExact(kept)
      val chunks = TextOps.chunkTokens(deduped)
      val packIn = chunks
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(
          (col("doc_id") * 100000 + col("chunk_id")).as("chunk_uid"),
          col("source"),
          col("chunk_text").as("text"))
      Sampling.packSequences(
        packIn, budget = 512, shardCol = "source", idCol = "chunk_uid")
    },

    "d5_minhash_neardup" -> ((s, dir) =>
      // full MinHash+LSH pipeline (shingle→sign→band→bucket-join→verify);
      // the CANDIDATE set is engine-hash-specific → rows-only check here,
      // but the verify stage it flows through is hash-certified by d5b
      Dedup.minhashDedupPairs(
        t(s, dir, "documents"), threshold = 0.3, k = 64, bands = 16)),
    "d5b_verified_jaccard" -> ((s, dir) =>
      // the dedup pipeline's VERIFY stage on an oracle-reproducible
      // candidate set (source-block pairs): DuckDB rebuilds the md5
      // 3-gram shingle sets and recomputes every decision value, so the
      // one stage where a bug would silently corrupt dedup decisions is
      // hash-checked — same code path d5's LSH survivors run through.
      // threshold 0.01 (not d5's 0.3) on purpose: at the gate's sf it
      // keeps ~180 pairs, so the check certifies hundreds of decision
      // values rather than the one pair that clears 0.3 within a block
      Dedup.verifiedJaccardPairs(
        t(s, dir, "documents"),
        Dedup.blockCandidatePairs(t(s, dir, "documents"), "source"),
        threshold = 0.01)),
    "d5c_lsh_portable" -> ((s, dir) =>
      // the LSH BANDING itself, oracle-checked: portable md5 minhash
      // signatures (d15's construction) banded with literal '|'-joined
      // band-slice keys — no engine-local hash anywhere, so DuckDB
      // regenerates the exact candidate set. Closes the last
      // unchecked stage of the dedup pipeline; d5 keeps the cheaper
      // xxhash64 form for engine-local runs.
      Dedup.lshCandidatePairsPortable(
        t(s, dir, "documents"), k = 16, bands = 4)),
    "d6_blocked_jaccard" -> ((s, dir) =>
      Dedup.blockedJaccardPairs(
        t(s, dir, "documents"), blockCol = "source", threshold = 0.8)),
    "d7_simhash" -> ((s, dir) =>
      // the PORTABLE 60-bit signature (md5-derived token hashes — the
      // same table d14's near-dup join consumes), so the signature TABLE
      // itself is hash-checked by the oracle, not just the pair set; the
      // xxhash64 64-bit variant remains as Dedup.simhashSignatures with
      // its own unit/property tests
      Dedup.simhashSignaturesPortable(t(s, dir, "documents"))),
    "d39_nfc_normalize" -> { (s, dir) =>
      // Unicode NFC normalization through the native codegen'd
      // graft_nfc expression (the 4th custom Catalyst Expression):
      // the ASCII corpus is augmented with DECOMPOSED sequences
      // (e+U+0301, u+U+0308, A+U+030A) both engines build identically,
      // then canonically composed — DuckDB's nfc_normalize implements
      // the same Unicode standard as java.text.Normalizer, so the gate
      // is byte-exact across engines. `changed` certifies the fixture
      // actually exercised composition on every row.
      val nfc = graft.functions.StringFunctions.nfc _
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          concat(
            col("text"),
            lit(" caf"), lit("e\u0301"),
            lit(" u"), lit("\u0308"), lit("ber"),
            lit(" A"), lit("\u030A"), lit(" fin")).as("t"))
        .select(
          col("doc_id"),
          nfc(col("t")).as("normalized"),
          (nfc(col("t")) =!= col("t")).as("changed"))
    },
    "d38_pii_redact" -> { (s, dir) =>
      // PII scrubbing gate: the synthetic corpus carries no PII, so the
      // fixture plants a deterministic contact line per doc (email from
      // doc_id, dotted-quad from doc_id mod 256, phone from doc_id mod
      // 100 — both engines build the IDENTICAL string), then redacts
      // and counts. Every redacted byte and every count is hash-checked
      // — a regex-dialect divergence between Java and RE2 would break
      // the hash, which is exactly what pins the portable-subset
      // contract.
      val aug = t(s, dir, "documents").select(
        col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or admin@test.org,"),
          lit(" host 10."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".0.1,"),
          lit(" call +1 555 01"), pmod(col("doc_id"), lit(100)).cast("string"),
          lit(" now")).as("text"))
      TextOps.redactPii(aug)
    },
    "d8_langid" -> { (s, dir) =>
      graft.core.Parallelism.ensure(t(s, dir, "documents")).select(
        col("doc_id"),
        TextOps.languageGuess(col("text")).as("lang_guess"))
    },
    "d9_neardup_groups" -> ((s, dir) =>
      // pairs → clusters: connected components over the oracle-checkable
      // blocked-Jaccard pair list, min doc_id as the keep representative
      Dedup.componentsFromPairs(
        Dedup.blockedJaccardPairs(
          t(s, dir, "documents"), blockCol = "source", threshold = 0.8))),
    "d10_vocabulary" -> ((s, dir) =>
      TextOps.vocabulary(t(s, dir, "documents"), topK = 1000)),
    "d11_tfidf" -> ((s, dir) =>
      TextOps.tfidfKeywords(t(s, dir, "documents"), k = 3)),

    // ---- LLM-pipeline surface: vectors ----
    "e1_knn_probe" -> ((s, dir) =>
      Similarity.knnToProbe(t(s, dir, "embeddings"), probeId = 0L, k = 10)),
    "e2_label_neardup" -> ((s, dir) =>
      // exact within-block near-dup (blocking key = label): oracle-checkable
      Similarity.blockedNearDupPairs(
        t(s, dir, "embeddings"), blockCol = "label", threshold = 0.3)),
    "e4_knn_ivf" -> ((s, dir) =>
      // IVF approximate kNN (scale path; recall tested vs e1 baseline)
      Similarity.knnIvf(
        t(s, dir, "embeddings"), probeId = 0L, k = 10,
        nList = 16, nProbe = 4)),
    "e3_lsh_neardup" -> ((s, dir) =>
      // hyperplane-LSH bucketed near-dup — scale path, rows-only check
      Similarity.nearDupPairs(
        t(s, dir, "embeddings"), threshold = 0.3, bits = 4)),
    "e5_knn_batch" -> ((s, dir) =>
      // batched exact kNN: top-10 per probe for a probe SET in one scan
      // + one ranking exchange (the feature-backfill shape); ranking
      // keys use the rounded similarity so float noise can't reorder
      // the top-k boundary cross-engine
      Similarity.knnBatch(
        t(s, dir, "embeddings"), probeIds = Seq(0L, 1L, 2L, 3L, 4L),
        k = 10)),
    "e6_knn_ivf_probe" -> ((s, dir) =>
      // the IVF build/probe split at the e5 batch shape: ONE prebuilt
      // index (assignment materialized once), 5 probes each touching
      // only their nProbe/nList of the lists. Approximate ⇒ rows-only
      // check; a differential test pins nProbe=nList ≡ exact knnBatch
      // and a recall test bounds the approximate path.
      Similarity.knnIvfBatch(
        t(s, dir, "embeddings"), probeIds = Seq(0L, 1L, 2L, 3L, 4L),
        k = 10, nList = 16, nProbe = 4)),
    "e7_knn_ivf_disk" -> { (s, dir) =>
      // the PERSISTENT index: build → write the c_id-partitioned layout
      // → reopen → statically-pruned batch probe. Run at nProbe = nList
      // so the result is EXACT and e5's oracle hash-checks the whole
      // disk round-trip (schema fidelity, partition-column typing, probe
      // ranking) — the approximate pruned path is locked by unit tests
      // + the PlanSpec PartitionFilters assert. Sealed eagerly so the
      // temp layout can be deleted before returning.
      // narrowed planning for the fixture-sized corpus (PlanScope): the
      // lifecycle's per-stage frames are |corpus|-sized and the kNN
      // ranking is a deterministic (sim, id) argmax — partition-count
      // independent; at scale the estimate keeps the session width
      graft.operators.PlanScope.narrowFor(t(s, dir, "embeddings")) {
      val idx = Similarity.buildIvfIndex(t(s, dir, "embeddings"), nList = 16)
      Scratch.sealedIn("graft_ivf_e7") { case Seq(tmp) =>
        Similarity.writeIvfIndex(idx, tmp)
        idx.release()
        val disk = Similarity.readIvfIndex(s, tmp)
        Similarity.probeIvfPruned(
          disk, Seq(0L, 1L, 2L, 3L, 4L), k = 10, nProbe = 16)
      }
      }
    },

    "e21_filtered_ivf" -> { (s, dir) =>
      // FILTERED search against the DISK index — the two prunings
      // compose: the probe reads nProbe/nList of the index FILES
      // (PartitionFilters) and only rows passing the metadata predicate
      // rank (the allowlist scan carries the pushed-down label filter —
      // both asserted in PlanSpec). Run at nProbe = nList so the result
      // is the EXACT filtered kNN and e19's oracle hash-checks the
      // whole filtered round-trip.
      val emb = t(s, dir, "embeddings")
      // narrowed planning for the fixture-sized corpus — see e7's note
      graft.operators.PlanScope.narrowFor(emb) {
      val idx = Similarity.buildIvfIndex(emb, nList = 16)
      Scratch.sealedIn("graft_ivf_e21") { case Seq(tmp) =>
        Similarity.writeIvfIndex(idx, tmp)
        idx.release()
        val disk = Similarity.readIvfIndex(s, tmp)
        val allowed = emb.filter(col("label").isin(2, 7))
          .select(col("vec_id"))
        Similarity.probeIvfPruned(
          disk, Seq(0L, 1L, 2L, 3L, 4L), k = 10, nProbe = 16,
          allowed = Some(allowed))
      }
      }
    },

    "e17_range_search" -> { (s, dir) =>
      // EXACT radius search with triangle-inequality list pruning: every
      // vector with rounded cos ≥ 0.25 to probe 0 — lists whose centroid
      // angle minus their max member angle exceeds acos(τ) provably hold
      // no match and are never scanned. The oracle brute-forces the
      // identical predicate, so the result is hash-locked, not
      // recall-tested. On THIS corpus (diffuse, list radii ≈ 1.4 rad)
      // the bound keeps every list — the query certifies exactness; the
      // prune's bite is asserted on a clustered fixture in the spec,
      // the regime a near-dup embedding index actually lives in.
      val idx = Similarity.buildIvfIndex(t(s, dir, "embeddings"), nList = 16)
      val out = graft.operators.CacheScope.sealAfter(
        Similarity.probeIvfRange(idx, probeId = 0L, minCos = 0.25))
      idx.release()
      out
    },
    "e18_knn_classify" -> ((s, dir) =>
      // kNN label classification (weak labeling): majority label of the
      // exact top-10 per probe, smallest label on vote ties — every
      // decision deterministic and recomputed by the oracle; the top-k
      // stage is the bounded aggregate (k rows per probe-partition)
      Similarity.knnClassify(
        t(s, dir, "embeddings"), probeIds = (0L until 10L).toSeq, k = 10)),
    "e8_quantize" -> ((s, dir) =>
      // per-dimension scalar int8 quantization (the ANN-corpus
      // compression step), exploded to scalar rows so every code is
      // hash-checked; floor bucketing for cross-engine portability
      Similarity.quantizeEmbeddings(t(s, dir, "embeddings"))),
    "e13_knn_ivf_append" -> { (s, dir) =>
      // index MAINTENANCE path: build on the even-id half, write, then
      // APPEND the odd-id half (assigned to the existing centroids, no
      // re-cluster), reopen, probe every list — at nProbe = nList the
      // result must be the exact kNN over the FULL corpus, so e5's
      // oracle hash-locks the append round-trip itself.
      val emb = t(s, dir, "embeddings")
      // narrowed planning for the fixture-sized corpus — see e7's note
      graft.operators.PlanScope.narrowFor(emb) {
      val idx = Similarity.buildIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0), nList = 16)
      Scratch.sealedIn("graft_ivf_e13") { case Seq(tmp) =>
        Similarity.writeIvfIndex(idx, tmp)
        idx.release()
        Similarity.appendToIvfIndex(
          s, tmp, emb.filter(pmod(col("vec_id"), lit(2)) === 1))
        val disk = Similarity.readIvfIndex(s, tmp)
        Similarity.probeIvfPruned(
          disk, Seq(0L, 1L, 2L, 3L, 4L), k = 10, nProbe = 16)
      }
      }
    },
    "e27_ivf_delete" -> { (s, dir) =>
      // index maintenance, the DELETE half (e13 is the append half —
      // dedup pipelines retract exactly like they ingest): build on the
      // full corpus, write, DELETE the odd ids by partition-pruned
      // rewrite (only list dirs holding a deleted id are read/rewritten
      // — the Delta-style partition-level delete), reopen, probe every
      // list. At nProbe = nList the result must be the exact kNN over
      // the SURVIVORS, so the oracle hash-locks the delete round-trip.
      val emb = t(s, dir, "embeddings")
      // narrowed planning for the fixture-sized corpus — see e7's note
      graft.operators.PlanScope.narrowFor(emb) {
      val idx = Similarity.buildIvfIndex(emb, nList = 16)
      Scratch.sealedIn("graft_ivf_e27") { case Seq(tmp) =>
        Similarity.writeIvfIndex(idx, tmp)
        idx.release()
        Similarity.deleteFromIvfIndex(
          s, tmp,
          emb.filter(pmod(col("vec_id"), lit(2)) === 1)
            .select(col("vec_id")))
        val disk = Similarity.readIvfIndex(s, tmp)
        Similarity.probeIvfPruned(
          disk, Seq(0L, 2L, 4L, 6L, 8L), k = 10, nProbe = 16)
      }
      }
    },
    "e28_ivf_rebalance" -> { (s, dir) =>
      // index maintenance, the REBALANCE/OPTIMIZE half completing the
      // lifecycle (e13 append / e27 delete): build, write, SPLIT every
      // list above the mean size by re-clustering only its own members
      // into 2 sub-lists (bounded blast radius — untouched dirs are
      // never read or rewritten), reopen, probe every list. At
      // nProbe = nList(after) the result must be the exact kNN over
      // the corpus — the oracle hash-locks the whole
      // split → rewrite → reopen → probe round-trip.
      val emb = t(s, dir, "embeddings")
      // narrowed planning for the fixture-sized corpus — see e7's note
      graft.operators.PlanScope.narrowFor(emb) {
      val idx = Similarity.buildIvfIndex(emb, nList = 16)
      Scratch.sealedIn("graft_ivf_e28") { case Seq(tmp) =>
        Similarity.writeIvfIndex(idx, tmp)
        idx.release()
        val meanSize = math.max(1L, emb.count() / 16)
        Similarity.rebalanceIvfIndex(s, tmp, maxListSize = meanSize)
        val disk = Similarity.readIvfIndex(s, tmp)
        Similarity.probeIvfPruned(
          disk, Seq(1L, 3L, 5L, 7L, 9L), k = 10, nProbe = disk.nList)
      }
      }
    },
    "p12_incremental_refresh" -> { (s, dir) =>
      // INCREMENTAL DAILY-REFRESH journey — the round's three
      // incremental pieces composed end to end: yesterday's graph
      // commits as snapshot v1 of an edge TABLE and today's delta as
      // v2 (io12c's atomic pointer lifecycle), the consumer reads
      // yesterday's edges and the delta through the CHANGES feed
      // (io14 — delta bytes, never a table re-scan), reconstructs
      // today's graph as their union, and WARM-STARTS the O16 loop
      // (g56) from yesterday's ranks. The oracle is g56's two-phase
      // warm SQL verbatim, so every step is hash-locked together: a
      // row lost or duplicated by commit/changes/union, or a seed the
      // warm path mis-normalizes, breaks the hash.
      val all = EdgeListReader.fromOrdersCached(s, dir)
      val pred = (col("src") + col("dst")) % 5 =!= 0
      Scratch.sealedIn("graft_p12") { case Seq(root) =>
        graft.sources.Snapshots.commit(all.filter(pred), root, 1)
        graft.sources.Snapshots.commit(all.filter(!pred), root, 2)
        val oldEdges =
          graft.sources.Snapshots.changesSince(s, root, 0, 1)
        val delta =
          graft.sources.Snapshots.changesSince(s, root, 1, 2)
        val prior = PageRank.runFixed(s, oldEdges, k = 3).ranks
        val res = PageRank.runFixed(
          s, oldEdges.union(delta), k = 2, initRanks = Some(prior))
        res.ranks.select(col("id"), round(col("rank"), 9).as("rank_r"))
      }
    },
    "p11_index_lifecycle" -> { (s, dir) =>
      // VECTOR-INDEX LIFECYCLE journey — the e-family composed end to
      // end the way p9/p10 compose text and media ingest: BUILD on the
      // even half (e4's k-means build) → WRITE the disk layout →
      // APPEND the odd half to the existing centroids (e13) → DELETE
      // every vec_id % 3 == 0 by partition-pruned rewrite (e27) →
      // REBALANCE oversized lists by local re-clustering (e28) →
      // reopen and PROBE at nProbe = nList(after). Each maintenance
      // step is oracle-locked alone; this row locks the composed
      // sequence: the final probe must be the exact kNN over the
      // SURVIVORS (vec_id % 3 ≠ 0), byte for byte — any step that
      // lost, duplicated, or misplaced a vector breaks the hash.
      val emb = t(s, dir, "embeddings")
      // narrowed planning for the fixture-sized corpus — see e7's note
      graft.operators.PlanScope.narrowFor(emb) {
      val idx = Similarity.buildIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0), nList = 16)
      Scratch.sealedIn("graft_ivf_p11") { case Seq(tmp) =>
        Similarity.writeIvfIndex(idx, tmp)
        idx.release()
        Similarity.appendToIvfIndex(
          s, tmp, emb.filter(pmod(col("vec_id"), lit(2)) === 1))
        Similarity.deleteFromIvfIndex(
          s, tmp,
          emb.filter(pmod(col("vec_id"), lit(3)) === 0)
            .select(col("vec_id")))
        val survivors = emb.filter(pmod(col("vec_id"), lit(3)) =!= 0)
        Similarity.rebalanceIvfIndex(
          s, tmp, maxListSize = math.max(1L, survivors.count() / 16))
        val disk = Similarity.readIvfIndex(s, tmp)
        Similarity.probeIvfPruned(
          disk, Seq(1L, 2L, 4L, 5L, 7L), k = 10, nProbe = disk.nList)
      }
      }
    },
    "p15_incremental_index" -> { (s, dir) =>
      // CHANGE-FEED → ANN-INDEX incremental maintenance journey (the
      // production loop of a living vector store at 100 TB, composing
      // ONLY existing operators): the corpus arrives as three
      // change-feed commits (day-0 load, an append delta, a delete
      // list); the index BUILDS from the feed's day-0 read, then each
      // refresh reads DELTA BYTES — never the corpus — and applies
      // them through the e13 append / e27 partition-pruned delete
      // paths. The final probe at nProbe = nList must be the exact
      // kNN over the survivors (the p11 lock applied incrementally):
      // any refresh that lost, duplicated, or misplaced a vector
      // breaks the hash.
      val emb = t(s, dir, "embeddings")
      // narrowed planning for the fixture-sized corpus — see e7's note
      graft.operators.PlanScope.narrowFor(emb) {
      Scratch.sealedIn("graft_p15_feed", "graft_p15_idx") { case Seq(feed, idxRoot) =>
        graft.sources.Snapshots.commit(
          emb.filter(pmod(col("vec_id"), lit(3)) < 2), feed, version = 1)
        graft.sources.Snapshots.commit(
          emb.filter(pmod(col("vec_id"), lit(3)) === 2), feed,
          version = 2)
        graft.sources.Snapshots.commit(
          emb.filter(pmod(col("vec_id"), lit(7)) === 0)
            .select(col("vec_id")), feed, version = 3)
        val day0 = graft.sources.Snapshots.changesSince(s, feed, 0, 1)
        val idx = Similarity.buildIvfIndex(day0, nList = 16)
        Similarity.writeIvfIndex(idx, idxRoot)
        idx.release()
        Similarity.appendToIvfIndex(
          s, idxRoot,
          graft.sources.Snapshots.changesSince(s, feed, 1, 2))
        Similarity.deleteFromIvfIndex(
          s, idxRoot,
          graft.sources.Snapshots.changesSince(s, feed, 2, 3))
        val disk = Similarity.readIvfIndex(s, idxRoot)
        Similarity.probeIvfPruned(
          disk, Seq(1L, 2L, 3L, 4L, 5L), k = 10,
          nProbe = disk.nList)
      }
      }
    },
    "p16_incremental_gold" -> { (s, dir) =>
      // SILVER→GOLD incremental hop via the ROW-LEVEL change feed (the
      // medallion stage p13 stops short of — io22 applied end to end):
      // gold bootstraps from the silver table AS OF the pre-merge
      // generation (readAt), a merge wave lands (io15 shape), and gold
      // then updates from the FEED ALONE — update_pre/delete rows
      // subtract, update_post/insert rows add — reading delta bytes,
      // never re-scanning silver. The feed is read through the SQL
      // surface (CHANGES FROM LAKE ... BETWEEN gens). Hash-locked to
      // the from-scratch recompute of the final state: incremental ≡
      // recompute, with feed_rows pinning the delta size.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_p16") { case Seq(root) =>
        val thr = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
        val base = docs.filter(pmod(col("doc_id"), lit(3L)) < 2)
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") <= thr), root, "doc_id")
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") > thr), root, "doc_id")
        val gFrom = graft.sources.LakeTable.currentName(s, root).get
        val updates = docs
          .filter(pmod(col("doc_id"), lit(6L)) === 0 &&
            col("doc_id") <= thr)
          .withColumn("n_chars", col("n_chars") + 1000L)
        val inserts = docs
          .filter(pmod(col("doc_id"), lit(3L)) === 2)
          .withColumn("doc_id", col("doc_id") + 1000000000L)
        graft.sources.LakeTable.merge(
          updates.unionByName(inserts), root, "doc_id")
        val gTo = graft.sources.LakeTable.currentName(s, root).get
        val gold0 = graft.sources.LakeTable.readAt(s, root, gFrom)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
        val feed = GraftSql.exec(s, dir,
          s"CHANGES FROM LAKE '$root' KEY doc_id " +
            s"BETWEEN '$gFrom' AND '$gTo'")
        val feedRows = feed.count()
        val sign = when(
          col("_change_type").isin("insert", "update_post"), 1L)
          .otherwise(-1L)
        val delta = feed.groupBy(col("lang")).agg(
          sum(sign).as("dn"),
          sum(sign * col("n_chars")).as("dchars"))
        gold0.join(delta, Seq("lang"), "full_outer")
          .select(
            col("lang"),
            (coalesce(col("n_docs"), lit(0L)) +
              coalesce(col("dn"), lit(0L))).as("n_docs"),
            (coalesce(col("sum_chars"), lit(0L)) +
              coalesce(col("dchars"), lit(0L))).as("sum_chars"))
          .filter(col("n_docs") > 0)
          .withColumn("feed_rows", lit(feedRows))
      }
    },
    "e22_knn_graph" -> ((s, dir) =>
      // the GRAPH-ANN family's build half (single-layer NSW adjacency):
      // per-vector top-8 neighbors with candidates from the IVF coarse
      // quantizer — bucket-join-shaped, never an all-pairs self-join.
      // Gate config nProbe = nList makes the graph EXACT, so an
      // all-pairs oracle recomputes every edge; nProbe < nList is the
      // 100 TB path (recall unit test, e6 discipline).
      graft.operators.Similarity.knnGraphIvf(
        t(s, dir, "embeddings"), m = 8, nList = 16, nProbe = 16)),
    "e23_nsw_search" -> { (s, dir) =>
      // the GRAPH-ANN family's search half: deterministic greedy beam
      // search over the e22 adjacency — all probes enter at the
      // graph's min vertex, 3 hops × beam 8, every boundary ranked on
      // (rounded cos, vec_id) so the oracle unrolls the exact
      // trajectory hop by hop. After the build, nothing corpus-sized
      // moves: each hop ships |probes|·beam frontier rows against the
      // m-bounded adjacency.
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.nswSearch(
        graft.operators.Similarity.knnGraphIvf(
          emb, m = 8, nList = 16, nProbe = 16),
        emb, probeIds = Seq(0L, 1L, 2L, 3L, 4L),
        k = 10, beamWidth = 8, hops = 3)
    },
    "e24_nsw_disk" -> { (s, dir) =>
      // the e7 discipline applied to the GRAPH index: build the e22
      // adjacency once, WRITE it as the src-bucketed parquet layout a
      // 100 TB deployment would keep, REOPEN, and run the e23 search
      // against the disk copy — schema fidelity, bucket typing, and the
      // search's determinism all ride the same oracle as e23 (the
      // trajectory is a function of the graph, and the round-trip must
      // not change the graph).
      val emb = t(s, dir, "embeddings")
      // NOT narrowed (unlike the IVF lifecycle rows): the e22 build's
      // per-row candidate scoring is cpu-bound (47 s executor-cpu at
      // sf0.1) — measured +1.3 s when narrowed to 9 partitions; this
      // operator needs the width
      val g = graft.operators.Similarity.knnGraphIvf(
        emb, m = 8, nList = 16, nProbe = 16)
      Scratch.sealedIn("graft_nsw_e24") { case Seq(tmp) =>
        g.withColumn("bucket", pmod(col("src"), lit(8)))
          .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        val disk = s.read.parquet(tmp)
          .select(col("src"), col("nbr"), col("cos_sim"))
        graft.operators.Similarity.nswSearch(
          disk, emb, probeIds = Seq(0L, 1L, 2L, 3L, 4L),
          k = 10, beamWidth = 8, hops = 3)
      }
    },
    "e25_kmeans" -> ((s, dir) =>
      // Euclidean Lloyd's k-means with the WHOLE training loop
      // deterministic and oracle-replayable: stride-sampled seeds,
      // fixed 2 iterations, 9-dp distances with lowest-c_id ties,
      // 9-dp per-dimension means, empty clusters keeping their seed.
      // Each pass is one broadcast-centroid scan + one k·dim mean agg —
      // nothing corpus-sized shuffles at any scale.
      Similarity.kmeansAssign(t(s, dir, "embeddings"), k = 8, iters = 2)),
    "e26_semdedup" -> ((s, dir) =>
      // SemDeDup (Abbas et al. 2023): embedding-space near-dup pruning —
      // cluster with e25's k-means, then mark every vector with a
      // lower-id cluster-mate at cosine ≥ τ. Pairs form only inside a
      // cluster (Σ|cluster|², never |corpus|²; k is the scale knob) on
      // one c_id-partitioned cached frame. The oracle recomputes the
      // entire chain: seeds → 2 Lloyd passes → assignment → every
      // intra-cluster cosine → the greedy lowest-id-kept verdict.
      Similarity.semDedup(
        t(s, dir, "embeddings"), k = 8, iters = 2, tau = 0.4)),
    "e12_knn_ivfsq" -> { (s, dir) =>
      // IVF-SQ: the e7 disk layout with e8's int8 codes in the
      // inverted lists (floats never stored), probed with asymmetric
      // distance — full-precision queries against mid-bucket
      // dequantized codes. Run at nProbe = nList so the result is the
      // exact ADC ranking over the whole corpus: DuckDB recomputes
      // stats, every code, every dequantized value and every cosine —
      // the full quantize→write→read→prune→dequantize→score round-trip
      // is hash-locked. The pruned (nProbe < nList) path and the
      // rerank tail are locked by unit tests + the PartitionFilters
      // plan assert.
      // narrowed planning for the fixture-sized corpus — see e7's note
      graft.operators.PlanScope.narrowFor(t(s, dir, "embeddings")) {
      val idx = Similarity.buildIvfIndex(t(s, dir, "embeddings"), nList = 16)
      Scratch.sealedIn("graft_ivfsq_e12") { case Seq(tmp) =>
        Similarity.writeIvfSqIndex(idx, tmp)
        idx.release()
        Similarity.probeIvfSqPruned(
          t(s, dir, "embeddings"), tmp,
          Seq(0L, 1L, 2L, 3L, 4L), k = 10, nProbe = 16)
      }
      }
    },
    "e10_knn_truncated" -> ((s, dir) =>
      // Matryoshka truncation retrieval: first-16-dim prefix,
      // L2-renormalized, top-k by dot (= cosine on the unit sphere) —
      // the MRL cost/quality dial, scored on 16 of 64 dims
      Similarity.knnTruncated(
        t(s, dir, "embeddings"), probeId = 0L, k = 10, m = 16)),
    "e11_knn_funnel" -> ((s, dir) =>
      // the MRL retrieval FUNNEL: truncated-space (16-dim) candidate
      // generation through the bounded top-k aggregate (top-50 per
      // probe), then exact full-dimension rerank of only the shortlist
      // — recall recovered at candidate cost. Both stage boundaries
      // rank on (rounded sim, vec_id), so DuckDB recomputes the whole
      // funnel and every final score hash-matches.
      Similarity.knnFunnel(
        t(s, dir, "embeddings"), probeIds = Seq(0L, 1L, 2L, 3L, 4L),
        k = 10, m = 16, rerankR = 50)),
    "e14_pq_codes" -> ((s, dir) =>
      // product quantization: 8 subspaces × 16-entry codebooks = 4
      // bytes/vector (64× vs float, 16× vs e8's int8). Codebook =
      // md5-ranked sample vectors (engine-reproducible), distances
      // rounded to 9 dp before the argmin, ties to the smallest code —
      // every code is recomputed by the oracle. Encoding is ONE
      // codegen'd scan projection (codebook rides as literals).
      Similarity.pqCodes(t(s, dir, "embeddings"), m = 8, k = 16)),
    "e14_pq_adc" -> ((s, dir) =>
      // ADC retrieval over the PQ codes: full-precision probes vs the
      // codebook-reconstructed corpus — the codes are the only
      // per-vector state read (4 bytes), reconstruction is a literal
      // lookup inside the scan. Top-10 per probe on (rounded sim,
      // vec_id); DuckDB recomputes codebook → codes → reconstruction →
      // every cosine, hash-locking the whole PQ chain.
      Similarity.pqAdcKnn(
        t(s, dir, "embeddings"), probeIds = Seq(0L, 1L, 2L, 3L, 4L),
        topK = 10, m = 8, k = 16)),
    "e14b_pq_trained" -> ((s, dir) =>
      // the QUALITY path: deterministic Lloyd-trained codebooks (the
      // IVF-quantizer discipline — engine-defined, so rows-only here;
      // recall tests pin trained ≥ sampled and the rerank floor) with
      // the exact-rerank tail over the ADC top-50 shortlist — the
      // funnel a PQ index actually serves
      Similarity.pqAdcReranked(
        t(s, dir, "embeddings"), probeIds = Seq(0L, 1L, 2L, 3L, 4L),
        topK = 10, candR = 50, m = 8, k = 16, trainIters = 3)),
    "e16_knn_ivfpq" -> { (s, dir) =>
      // IVF-PQ: the coarsest index composition (e7's file-pruned lists
      // + e14's 4-byte PQ codes — where even IVF-SQ's int8 lists are
      // too big). Probed at nProbe = nList the result is the exact ADC
      // ranking over the whole corpus with the same sampled codebook as
      // e14, so e14_pq_adc's oracle hash-locks the entire
      // write → read → prune → reconstruct → score round-trip; the
      // pruned path and the disk-size economics are spec-locked.
      // narrowed planning for the fixture-sized corpus — see e7's note
      graft.operators.PlanScope.narrowFor(t(s, dir, "embeddings")) {
      val idx = Similarity.buildIvfIndex(t(s, dir, "embeddings"), nList = 16)
      Scratch.sealedIn("graft_ivfpq_e16") { case Seq(tmp) =>
        Similarity.writeIvfPqIndex(idx, tmp, m = 8, k = 16)
        idx.release()
        Similarity.probeIvfPqPruned(
          t(s, dir, "embeddings"), tmp, Seq(0L, 1L, 2L, 3L, 4L),
          k = 10, nProbe = 16)
      }
      }
    },
    "e15_sign_knn" -> ((s, dir) =>
      // binary-quantization funnel: 1-bit sign codes packed into two
      // 32-bit words (8 bytes/vector), Hamming top-50 candidates by
      // integer xor+popcount (no floats in the scan), exact cosine
      // rerank of the shortlist only. Both boundaries deterministic
      // ((hamming, vec_id) then (rounded cos, vec_id)) — the full
      // pack → Hamming → rerank chain is oracle-recomputed.
      Similarity.knnBinaryFunnel(
        t(s, dir, "embeddings"), probeIds = Seq(0L, 1L, 2L, 3L, 4L),
        topK = 10, candR = 50)),

    "e9_knn_topk_agg" -> ((s, dir) =>
      // e5's batched kNN through the native BOUNDED top-k aggregate
      // instead of the window: partial state is a k-capped heap, so the
      // ranking exchange carries k rows per (probe, partition) instead
      // of every scored candidate. Same probes, same k, same oracle SQL
      // as e5 — the hash-match IS the window≡aggregate differential at
      // the gate, on top of the unit differential.
      Similarity.knnBatchAgg(
        t(s, dir, "embeddings"), probeIds = Seq(0L, 1L, 2L, 3L, 4L),
        k = 10)),
    "e9_batch1k_win" -> ((s, dir) =>
      // the ≥1000-probe shape, window form: every scored (probe,
      // candidate) pair ships through the ranking exchange. Bench-scale
      // experiment row (timings are the result — rows-only check); the
      // twin below runs the identical computation through the bounded
      // aggregate, so the bench carries the measured crossover every
      // round like g18/g20 do for salt/orientation.
      Similarity.knnBatch(
        t(s, dir, "embeddings"),
        probeIds = (0L until 1000L).toSeq, k = 10)
        .groupBy(col("probe_id")).agg(count("*").as("n"))
        .groupBy().agg(count("*").as("n_probes"), sum(col("n")).as("n_rows"))),
    "e9_batch1k_agg" -> ((s, dir) =>
      Similarity.knnBatchAgg(
        t(s, dir, "embeddings"),
        probeIds = (0L until 1000L).toSeq, k = 10)
        .groupBy(col("probe_id")).agg(count("*").as("n"))
        .groupBy().agg(count("*").as("n_probes"), sum(col("n")).as("n_rows"))),
    "e11_funnel500" -> ((s, dir) =>
      // the funnel's bench-scale half of the measured MRL pair: 500
      // probes, truncated 16-of-64-dim candidate stage + top-50 rerank —
      // vs e11_exact500's full-dim scan of the same probes. Rows-only
      // fixture (timings are the result), same summary schema as its
      // twin; the funnel SEMANTICS are hash-locked by e11.
      Similarity.knnFunnel(
        t(s, dir, "embeddings"),
        probeIds = (0L until 500L).toSeq, k = 10, m = 16, rerankR = 50)
        .groupBy(col("probe_id")).agg(count("*").as("n"))
        .groupBy().agg(count("*").as("n_probes"), sum(col("n")).as("n_rows"))),
    "e11_exact500" -> ((s, dir) =>
      Similarity.knnBatchAgg(
        t(s, dir, "embeddings"),
        probeIds = (0L until 500L).toSeq, k = 10)
        .groupBy(col("probe_id")).agg(count("*").as("n"))
        .groupBy().agg(count("*").as("n_probes"), sum(col("n")).as("n_rows"))),

    // ---- source/sink formats beyond parquet ----
    "io1_jsonl_roundtrip" -> { (s, dir) =>
      // JSON-lines sink → source round-trip of the documents table with
      // an EXPLICIT schema on re-read (inference would widen int32 and
      // reorder columns). The oracle is the identity query on the
      // original parquet — any serialization loss (escaping, nulls,
      // numeric width) breaks the hash. Sealed eagerly so the temp
      // layout can be deleted before returning.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_jsonl") { case Seq(tmp) =>
        docs.write.mode("overwrite").json(tmp)
        s.read.schema(docs.schema).json(tmp)
          .select(docs.columns.map(col): _*)
      }
    },
    "io3_bucketed_join" -> { (s, dir) =>
      // BUCKETED co-located join — the layout answer to a repeated big
      // join: both fact tables written bucketBy(8) + sortBy on the join
      // key (the shuffle paid ONCE, at write time), then the join runs
      // with ZERO exchanges on either side — the bucketed scans already
      // satisfy the join's distribution (plan-asserted in PlanSpec; the
      // in-join sort also disappears when each bucket lands in a single
      // file). At 100 TB this is the difference between paying the
      // fact-fact shuffle once per ingest and once per query. Unique
      // table names + drop in finally: the warehouse is left clean; the
      // result is sealed eagerly first.
      val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      val to = s"g_ord_$tag"
      val tl = s"g_li_$tag"
      try {
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(to)
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"))
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(tl)
        graft.operators.CacheScope.sealAfter(
          s.table(to)
            .join(s.table(tl), col("o_orderkey") === col("l_orderkey"))
            .groupBy(col("o_orderpriority"))
            .agg(
              count("*").as("n_items"),
              sum(col("l_quantity")).cast("long").as("sum_qty")))
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $to")
        s.sql(s"DROP TABLE IF EXISTS $tl")
      }
    },
    "io2_csv_roundtrip" -> { (s, dir) =>
      // CSV sink → source round-trip (header + explicit schema +
      // explicit quoting knobs left at Spark defaults, which quote on
      // demand); same identity oracle as io1
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_csv") { case Seq(tmp) =>
        docs.write.mode("overwrite").option("header", "true").csv(tmp)
        s.read.schema(docs.schema).option("header", "true").csv(tmp)
          .select(docs.columns.map(col): _*)
      }
    },

    // ---- multimodal plumbing ----
    "m1_media_meta" -> ((s, dir) =>
      Multimodal.metadataStats(Multimodal.syntheticMedia(s, dir))),
    "m2_media_features" -> { (s, dir) =>
      // f_mean rounded for cross-engine compare; the other features are
      // exact small integers in double carriers
      Multimodal
        .extractFeatures(Multimodal.syntheticMedia(s, dir))
        .select(
          col("media_id"), col("kind"), col("f_len"),
          round(col("f_mean"), 6).as("f_mean"),
          col("f_min"), col("f_max"))
    },
    "m3_video_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.syntheticMedia(s, dir))),
    "m4_image_resize" -> { (s, dir) =>
      // resize kernel plumbing; the oracle recomputes the aspect-fit
      // arithmetic and the stub thumbnail length from metadata — the
      // binary itself stays engine-side (deterministic payload prefix)
      Multimodal.resizeImages(Multimodal.syntheticMedia(s, dir))
        .select(
          col("media_id"), col("in_w"), col("in_h"),
          col("out_w"), col("out_h"),
          length(col("thumb")).cast("long").as("thumb_len"))
    },
    "m7_audio_segments" -> { (s, dir) =>
      // AUDIO VAD-style segmentation (silence removal before
      // transcription/packing): 1 s frames over each audio clip's
      // metadata duration, stub frame energies (8-bit md5 — the m2
      // decode-kernel seam), maximal voice-active runs by
      // gaps-and-islands — one window per clip, clips in parallel,
      // output segment-sized. The oracle regenerates every frame,
      // energy, island and segment boundary.
      Multimodal.audioSegments(
        Multimodal.syntheticMedia(s, dir), frameMs = 1000L,
        threshold = 128)
    },
    "m6_interleaved_pack" -> { (s, dir) =>
      // INTERLEAVED multimodal sequence packing (the LLaVA/Flamingo
      // data shape: each image placeholder costs a fixed 576-patch
      // token budget in the training sequence, text costs its token
      // count): per-doc image counts synthesized by a 20-bit
      // md5(doc:m6) draw mod 4 (the d38 augmented-fixture discipline),
      // packed into 2048-token sequences by the d19 fixed-stride rule
      // — ONE window per source shard, one hash aggregate, no serial
      // fold. The oracle replays draw, costs, offsets and every
      // per-sequence total.
      val nImg = pmod(
        conv(
          substring(
            md5(concat(col("doc_id").cast("string"), lit(":m6"))), 1, 5),
          16, 10).cast("long"),
        lit(4L))
      Multimodal.interleavedPack(
        t(s, dir, "documents"), nImg, budget = 2048, imageTokens = 576)
    },

    // ---- streaming operators (batch twins for the oracle gate; the
    // streaming forms themselves are locked by StreamingSpec) ----
    "st21_late_audit" -> { (s, dir) =>
      // LATE-EVENT WATERMARK AUDIT (the what-if table before choosing
      // a delay): the events log is perfectly time-ordered, so
      // arrival is simulated with a BOUNDED deterministic jitter
      // (±1 h, 8-hex md5(event_id:st21) — the d38 fixture
      // discipline), micro-batches are 1 h arrival windows (stateless
      // projection, no global sort), and the exact between-batch
      // watermark rule (prev-batch running max − 5 s, strict <,
      // first batch unbounded) flags every would-be-dropped event —
      // ~half the corpus at this jitter/delay, a non-degenerate gate.
      val jitterUs = (pmod(
        conv(
          substring(
            md5(concat(col("event_id").cast("string"), lit(":st21"))),
            1, 8),
          16, 10).cast("long"),
        lit(7200001L)) - 3600000L) * 1000L
      graft.streaming.EventStreams.lateEventAudit(
        graft.sources.Tables.events(s, dir), delayMs = 5000L,
        arrivalUs = unix_micros(col("ts")) + jitterUs)
    },
    "st1_sessions" -> ((s, dir) =>
      graft.streaming.EventStreams.sessionizeBatch(
        graft.sources.Tables.events(s, dir))),
    "st2_windowed_agg" -> ((s, dir) =>
      graft.streaming.EventStreams.windowedAggBatch(
        graft.sources.Tables.events(s, dir))),
    "st3_event_dedup" -> ((s, dir) =>
      graft.streaming.EventStreams.dedupEventsBatch(
        graft.sources.Tables.events(s, dir))),
    "st4_sliding_windows" -> ((s, dir) =>
      graft.streaming.EventStreams.slidingWindowAggBatch(
        graft.sources.Tables.events(s, dir))),
    "st5_attribution_join" -> ((s, dir) =>
      // stream-stream interval join, exercised on its batch twin (the
      // SAME code path — watermarks no-op on batch); the streaming form
      // with state expiry runs in StreamingSpec
      graft.streaming.EventStreams.attributionJoin(
        graft.sources.Tables.events(s, dir))),
    "st17_tws_ledger" -> { (s, dir) =>
      // per-user running ledger through Spark 4's transformWithState —
      // the NEW arbitrary-state API (typed ValueState, RocksDB-only),
      // driven here through the REAL streaming path: events replayed
      // out of order in micro-batches, Update-mode emissions collected,
      // each user's highest-count row IS the converged ledger (the
      // count is monotone) — hash-checked against the batch GROUP BY
      val sp = s
      import sp.implicits._
      ConfScope(s,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        val scrambled =
          Replay.scramble(Replay.events(s, dir), 17)(_.event_id)
        val (h1, h2) = scrambled.splitAt(scrambled.length / 2)
        Replay.toMemory(s, "st17", "update", Seq(h1.toSeq, h2.toSeq))(
          graft.streaming.EventStreams.spendLedger) {
          _.groupBy(col("user_id"))
            .agg(max_by(
              struct(col("n_events"), col("total_spend")),
              col("n_events")).as("b"))
            .select(
              col("user_id"), col("b.n_events").as("n_events"),
              round(col("b.total_spend"), 2).as("total_spend"))
        }
      }
    },
    "st15_stream_topk" -> ((s, dir) =>
      // streaming per-type top-10 by value through the engine's own
      // bounded aggregate: the k-capped graft_topk heap IS the
      // streaming state (k pairs per key forever, vs a row_number form
      // retaining every row). Batch twin IS the same code path; the
      // out-of-order MemoryStream replay in Complete mode runs in
      // OperatorsSpec and must converge to exactly this frame.
      graft.streaming.EventStreams.topValuesStream(
        graft.sources.Tables.events(s, dir), k = 10)),
    "st16_attribution_full" -> ((s, dir) =>
      // FULL OUTER stream-stream interval join (completing the family:
      // st5 inner, st11 left): both sides' unmatched rows surface with
      // NULLs, each flushed by its own watermark expiry in streaming
      // mode (replayed out of order in IoAndOuterJoinSpec); here the
      // batch twin — the SAME code path — is hash-checked
      graft.streaming.EventStreams.attributionJoinFull(
        graft.sources.Tables.events(s, dir))),
    "st23_gated_ingest" -> { (s, dir) =>
      // STREAMING INGEST GATE with dead-lettering (q51's expectations
      // at ingest time): every row tagged with its first-failing
      // constraint (error events quarantine first, then the value
      // tail), NULL ⇔ clean — the batch twin IS the streaming split
      // expression (gateSplit rides Profiler.quarantineReason; the
      // two-sink exactly-once replay path is locked in Wave12). Both
      // constraints genuinely fire on this data (~2k error events,
      // a >300 value tail), so the gate is non-degenerate.
      import graft.operators.Profiler
      graft.streaming.EventStreams.gateSplit(
        graft.sources.Tables.events(s, dir),
        Seq(
          Profiler.RowCheck("error_event", col("event_type") === "error"),
          Profiler.RowCheck("value_too_big", col("value") > 300.0)))
        .groupBy(
          coalesce(col("gate_reason"), lit("clean")).as("gate"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
    },
    "st22_attribution_right" -> ((s, dir) =>
      // RIGHT OUTER stream-stream interval join — the fourth SQL form,
      // completing the family (st5 inner, st11 left, st16 full): every
      // click survives, p_id NULL for clicks that never converted; in
      // streaming mode the null rows flush by the click side's
      // watermark expiry (out-of-order replay in IoAndOuterJoinSpec);
      // here the batch twin — the SAME code path — is hash-checked
      graft.streaming.EventStreams.attributionJoinRight(
        graft.sources.Tables.events(s, dir))),
    "st11_attribution_outer" -> ((s, dir) =>
      // the LEFT OUTER stream-stream interval join: unattributed
      // purchases surface with NULL c_id instead of vanishing. In
      // streaming mode the null rows are emitted by watermark expiry
      // (bounded state, runnable forever — StreamingSpec replays it out
      // of order with a sentinel flush); here the batch twin (the SAME
      // code path) is hash-checked against DuckDB's left interval join.
      graft.streaming.EventStreams.attributionJoinOuter(
        graft.sources.Tables.events(s, dir))),
    "io4_partitioned_prune" -> { (s, dir) =>
      // HIVE-PARTITIONED layout round-trip: events written
      // partitionBy(event_type), re-read with a partition filter — the
      // scan must touch only the 2 selected directories of 5
      // (PartitionFilters, plan-asserted in PlanSpec). At 100 TB
      // partition-dir pruning is the first and cheapest filter a query
      // gets: bytes never read beat bytes filtered. The aggregate over
      // the pruned scan is hash-checked against the unpartitioned
      // ground truth, certifying pruning lost no rows.
      val ev = graft.sources.Tables.events(s, dir)
      Scratch.sealedIn("graft_part_io4") { case Seq(tmp) =>
        ev.select(col("event_id"), col("user_id"), col("value"),
            col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy(col("event_type"))
          .agg(
            count("*").as("n_events"),
            round(sum(col("value")), 2).as("sum_value"))
      }
    },
    "st7_enrich" -> ((s, dir) =>
      // stream-static broadcast enrichment (the most common production
      // streaming shape), exercised on its batch twin — SAME code path,
      // the static side broadcasts in both forms; the streaming form
      // (MemoryStream micro-batches against the broadcast snapshot)
      // runs in OperatorsSpec
      graft.streaming.EventStreams.enrichEvents(
        graft.sources.Tables.events(s, dir), t(s, dir, "customer"))),
    "st9_native_session" -> ((s, dir) =>
      // gap sessionization through Spark's NATIVE session_window
      // aggregate (the built-in twin of st1's lag/cumsum form); its
      // half-open-window merge rule (new session at diff ≥ gap, not
      // > gap) is deliberately preserved and locked by its own oracle
      graft.streaming.EventStreams.sessionizeNative(
        graft.sources.Tables.events(s, dir))),
    "st10_watermark_dedup" -> { (s, dir) =>
      // the NATIVE bounded-state streaming dedup
      // (dropDuplicatesWithinWatermark): events replayed OUT OF ORDER
      // in micro-batches; keys projected before dedup so the emitted
      // set is survivor-independent — the summary hash-matches the
      // batch distinct ground truth no matter the arrival order. The
      // final count certifies no key was watermark-dropped on the
      // bounded stream.
      val sp = s
      import sp.implicits._
      val all = graft.sources.Tables.events(s, dir)
        .select(col("event_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
        .collect()
      val scrambled = Replay.scramble(all, 29)(_._1)
      // delay must exceed the fixture's 30-day event span: the scramble
      // sends old keys in late batches, and a tighter watermark would
      // drop them as late data before dedup ever saw them
      Replay.toMemory(s, "st10", "append", Replay.batches(scrambled, 4)) { ds =>
        graft.streaming.EventStreams
          .dedupWithinWatermark(ds.toDF("event_id", "ts"), delay = "45 days")
      } {
        _.agg(
          count("*").as("n_distinct"),
          count_distinct(col("event_id")).as("n_ids"),
          unix_micros(min(col("ts"))).as("min_ts_us"),
          unix_micros(max(col("ts"))).as("max_ts_us"))
      }
    },
    "st13_exactly_once_sink" -> { (s, dir) =>
      // EXACTLY-ONCE foreachBatch parquet sink: events replayed in 4
      // micro-batches, each landing idempotently under its batch_id
      // partition (dynamic overwrite); then batch 0 is deliberately
      // REPLAYED — the restart/retry path — and must overwrite, not
      // duplicate. The read-back aggregate hash-matches the plain batch
      // ground truth, certifying zero loss AND zero duplication through
      // the sink, retry included.
      val sp = s
      import sp.implicits._
      val all = Replay.events(s, dir)
      Scratch.sealedIn("graft_st13") { case Seq(tmp) =>
        val batches = Replay.batches(all, 4)
        Replay.drive(s, batches) { ds =>
          graft.streaming.EventStreams.sinkExactlyOnce(ds.toDF(), tmp)
        }
        // the retry: re-run batch 0's idempotent write (what a restarted
        // query does when the sink committed but the checkpoint didn't)
        graft.streaming.EventStreams.writeBatchIdempotent(
          batches.take(1).flatten.toDF(), batchId = 0L, tmp)
        s.read.parquet(tmp)
          .groupBy(col("event_type"))
          .agg(
            count("*").as("n_events"),
            round(sum(col("value")), 2).as("sum_value"))
      }
    },
    "st18_cdc_apply" -> { (s, dir) =>
      // STREAMING CDC APPLY — st13's idempotent-sink discipline and
      // q39's SCD2 merge composed in Structured Streaming (the
      // feature-store maintenance loop, run as a stream): the change
      // log arrives OUT OF ORDER in 4 micro-batches; each foreachBatch
      // merges its batch into the current table state (a checkpointed
      // frame standing in for the table read-back a production sink
      // does between micro-batches), and batch 0's rows are then
      // RE-DELIVERED as a 5th batch — the at-least-once path — which
      // the merge's replay guard must turn into a no-op. The final
      // table hash-matches the from-scratch q24 build: arrival order,
      // batching, and re-delivery all invisible in the result.
      val sp = s
      import sp.implicits._
      val all = graft.sources.Tables.events(s, dir)
        .select(
          col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("valid_from"))
        .as[(Long, Long, String, Long)]
        .collect()
      val scrambled = Replay.scramble(all, 31)(_._2)
      var table = Seq.empty[(Long, Long, String, Long)]
        .toDF("user_id", "event_id", "event_type", "valid_from")
        .withColumn("valid_to", lit(-1L))
        .withColumn("is_current", lit(true))
        .localCheckpoint()
      val batches = Replay.batches(scrambled, 4)
      // at-least-once re-delivery of the first batch's rows
      Replay.drive(s, batches, flush = batches.take(1)) {
        _.toDF("user_id", "event_id", "event_type", "valid_from")
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            val next = graft.operators.CacheScope.rotate(
              graft.operators.Cdc.scd2Merge(table, df)) // the "table write"
            table = next
          }
          .start()
      }
      table
    },
    "st8_stream_dedup" -> { (s, dir) =>
      // streaming ingest dedup through the REAL streaming-aggregation
      // path: documents replayed OUT OF ORDER in 5 micro-batches via
      // MemoryStream, digest-keyed stateful aggregation in Complete
      // mode — the converged registry must hash-match d1's batch oracle
      // (min/count are order-insensitive), certifying the streaming
      // state path itself, not just a batch twin.
      val sp = s
      import sp.implicits._
      val all = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .collect()
      Replay.toMemory(s, "st8", "complete",
          Replay.batches(Replay.scramble(all, 23)(_._1), 5)) { ds =>
        graft.streaming.EventStreams.dedupDocsStream(ds.toDF("doc_id", "text"))
      }(identity)
    },
    "st19_stream_cms" -> { (s, dir) =>
      // STREAMING sketch maintenance — d53's Count-Min sketch as live
      // streaming state (the shape a production ingest keeps: the
      // sketch IS the aggregation state, depth×width counters forever,
      // regardless of how much stream has flowed): documents replayed
      // OUT OF ORDER in 5 micro-batches, the (row, cell)-keyed count
      // folding incrementally in Complete mode. Counts are
      // order-insensitive, so the converged sketch must hash-match the
      // batch oracle cell for cell — certifying the streaming state
      // path itself (st8 discipline).
      val sp = s
      import sp.implicits._
      val all = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .collect()
      Replay.toMemory(s, "st19", "complete",
          Replay.batches(Replay.scramble(all, 29)(_._1), 5)) { ds =>
        val toks = ds.toDF("doc_id", "text")
          .filter(length(trim(col("text"))) > 0)
          .select(explode(TextOps.tokens(col("text"))).as("t"))
        graft.operators.CountMin.sketch(toks, depth = 3, width = 128)
      }(identity)
    },
    "st24_stream_asof" -> { (s, dir) =>
      // STREAM-STREAM AS-OF join through the REAL stateful operator
      // (flatMapGroupsWithState + EventTimeTimeout), replayed OUT OF
      // ORDER with the st14 sentinel-flush discipline: per user,
      // clicks and purchases buffer in state, each purchase resolves
      // to the latest click at or before it once the watermark passes
      // (ties to min event_id — the q15 dedup rule), and flushed
      // quotes COMPACT to the single latest per user (bounded state
      // forever — the eviction path Wave13 unit-locks). The fully
      // flushed result is a pure function of the event set, so it
      // hash-checks against the SAME DuckDB ASOF oracle as the batch
      // q15 — locking the streaming operator itself to the batch
      // contract, not just its twin.
      val sp = s
      import sp.implicits._
      val all = Replay.events(s, dir)
      // ONE batch for the whole scrambled history: the watermark only
      // advances BETWEEN micro-batches, so nothing is late within it
      // (splitting would drop the older half as late data); the
      // out-of-order fold is still fully exercised inside the batch
      Replay.toMemory(s, "st24", "append",
          Seq(Replay.scramble(all, 23)(_.event_id).toSeq),
          Replay.sentinels(all, 4, 8))(
          graft.streaming.EventStreams.asofEnrichStream(_)) {
        _.filter(col("user_id") >= 0) // drop the sentinel user
          .select(
            col("user_id"), col("p_us"), col("p_id"),
            col("c_id"), col("c_us"))
      }
    },
    "st27_stream_asof_fwd" -> { (s, dir) =>
      // STREAM-STREAM FORWARD AS-OF join with TOLERANCE (pandas
      // merge_asof direction='forward' — completing the streaming
      // family the way q53 completed the batch one): each purchase
      // resolves to the EARLIEST click in [p_us, p_us + 4h] (ties to
      // min id, the q53 rule), -1 past the horizon — the bounded-wait
      // contract that makes "the next event" answerable on a stream
      // and bounds state by construction. Replayed OUT OF ORDER with
      // the st24 sentinel-flush discipline; the fully flushed result
      // is a pure function of the event set, hash-checked against the
      // q53 window chain + the same tolerance CASE.
      val sp = s
      import sp.implicits._
      val all = Replay.events(s, dir)
      Replay.toMemory(s, "st27", "append",
          Seq(Replay.scramble(all, 29)(_.event_id).toSeq),
          Replay.sentinels(all, 8, 16)) {
        graft.streaming.EventStreams
          .asofEnrichStreamForward(_, 4L * 3600L * 1000000L)
      } {
        _.filter(col("user_id") >= 0) // drop the sentinel user
          .select(
            col("user_id"), col("p_us"), col("p_id"),
            col("c_id"), col("c_us"))
      }
    },
    "st28_stream_asof_near" -> { (s, dir) =>
      // STREAM-STREAM NEAREST AS-OF join with TOLERANCE — the third
      // and last direction (st24 backward, st27 forward): each
      // purchase resolves to the click with the SMALLEST distance in
      // [p_us - 4h, p_us + 4h], ties to the BACKWARD side (the batch
      // q49 rule: ≤ prefers the preceding quote) then min id, -1 when
      // the window is empty. Horizon-uniform resolution (wm past
      // p_us + H ⇒ both sides closed), eviction-front click state.
      // Same sentinel-flush replay; hash-checked against the explicit
      // horizon-argmin SQL.
      val sp = s
      import sp.implicits._
      val all = Replay.events(s, dir)
      Replay.toMemory(s, "st28", "append",
          Seq(Replay.scramble(all, 41)(_.event_id).toSeq),
          Replay.sentinels(all, 8, 16)) {
        graft.streaming.EventStreams
          .asofEnrichStreamNearest(_, 4L * 3600L * 1000000L)
      } {
        _.filter(col("user_id") >= 0) // drop the sentinel user
          .select(
            col("user_id"), col("p_us"), col("p_id"),
            col("c_id"), col("c_us"))
      }
    },
    "st14_stream_funnel" -> { (s, dir) =>
      // STREAMING funnel (q29's staged minima with 2h per-stage
      // conversion windows) through the real stateful operator,
      // replayed OUT OF ORDER with the st6 sentinel-flush discipline:
      // stage-1 min folds incrementally (order-insensitive), later
      // stages buffer candidates and resolve once at watermark flush —
      // the fully-flushed result is a pure function of the event set,
      // which is exactly what the oracle recomputes (millisecond
      // precision both sides: the state fold works in epoch millis).
      val sp = s
      import sp.implicits._
      val all = Replay.events(s, dir)
      Replay.toMemory(s, "st14", "append",
          Seq(Replay.scramble(all, 17)(_.event_id).toSeq),
          Replay.sentinels(all, 4, 8))(
          graft.streaming.EventStreams.funnelEventTime(_)) {
        _.filter(col("user_id") >= 0) // drop the sentinel user
          .select(col("user_id"), col("stage"))
      }
    },
    "st6_eventtime_sessions" -> { (s, dir) =>
      // EVENT-TIME sessionization through the REAL streaming operator
      // (flatMapGroupsWithState + EventTimeTimeout), replayed OUT OF
      // ORDER from the events table; sentinel batches then advance the
      // watermark past every session horizon so ALL sessions flush.
      // With the full history flushed, watermark-driven gap sessions
      // equal batch gap sessions — which is exactly what the DuckDB
      // oracle recomputes (same SQL as st1), so the streaming operator
      // itself is hash-checked, not just its batch twin.
      val sp = s
      import sp.implicits._
      val all = Replay.events(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("start_ts"))
      // two sentinel batches: the first advances the watermark past
      // every horizon; the second fires the (watermark-lagged) timeouts
      Replay.toMemory(s, "st6", "append",
          Seq(Replay.scramble(all, 17)(_.event_id).toSeq),
          Replay.sentinels(all, 4, 8))(
          graft.streaming.EventStreams.sessionizeEventTime(_)) {
        _.filter(col("user_id") >= 0) // drop the sentinel user
          .select(
            col("user_id"),
            row_number().over(w).cast("long").as("session_no"),
            col("n_events"),
            round(col("sum_value"), 4).as("sum_value"))
      }
    },

    "st20_stream_native_session" -> { (s, dir) =>
      // the NATIVE session_window operator under TRUE streaming replay
      // (st9 locks its batch path; this row locks the state-store
      // session-merge path): the events table scrambled determin-
      // istically, replayed through the watermarked streaming
      // aggregate, then a sentinel batch advances the watermark past
      // every horizon so ALL sessions flush — at which point
      // watermark-driven native sessions equal batch gap sessions,
      // which is what the shared gapSession oracle recomputes.
      val sp = s
      import sp.implicits._
      val all = Replay.events(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("start_ts"))
      // one sentinel: session_window emits as soon as the watermark
      // passes a session's end — no timeout lag to double-flush
      Replay.toMemory(s, "st20", "append",
          Seq(Replay.scramble(all, 17)(_.event_id).toSeq),
          Replay.sentinels(all, 4)) { ds =>
        graft.streaming.EventStreams.sessionizeNativeStream(ds.toDF())
      } {
        _.filter(col("user_id") >= 0) // drop the sentinel user
          .select(
            col("user_id"),
            row_number().over(w).cast("long").as("session_no"),
            col("n_events"), col("sum_value"))
      }
    },

    // ---- temporal joins (operators the reference lacks entirely) ----
    "q15_asof_join" -> { (s, dir) =>
      // "latest click at or before each purchase, per user" — the as-of
      // join every feature/label pipeline needs. Timestamps compared as
      // epoch MICROsecond longs in both engines (Tables.events normalizes
      // ts to microsecond TIMESTAMP whatever the parquet encoding, and
      // DuckDB's epoch_us agrees). The quote side is pre-deduplicated to one
      // row per (user, instant) so the as-of pick is deterministic.
      val ev = graft.sources.Tables.events(s, dir)
      val probes = ev
        .filter(col("event_type") === "purchase")
        .select(
          col("user_id"),
          unix_micros(col("ts")).as("p_us"),
          col("event_id").as("p_id"))
      val quotes = ev
        .filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
          col("event_id"))
        .groupBy(col("user_id"), col("c_us"))
        .agg(min(col("event_id")).as("c_id"))
      TemporalJoins
        .asofJoin(probes, quotes, "user_id", "p_us", "c_us",
          payload = Seq("c_id", "c_us"))
        .select(
          col("user_id"), col("p_us"), col("p_id"),
          coalesce(col("c_id"), lit(-1L)).as("c_id"),
          coalesce(col("c_us"), lit(-1L)).as("c_us"))
    },
    "q49_asof_nearest" -> { (s, dir) =>
      // NEAREST as-of join (pandas merge_asof direction='nearest', the
      // missing third direction next to q15's backward and p5's
      // strict-predecessor): same fixture as q15, but each purchase
      // attaches the click MINIMIZING |Δt|, ties backward. One
      // exchange, one sort, two frames in the same window pass.
      val ev = graft.sources.Tables.events(s, dir)
      val probes = ev
        .filter(col("event_type") === "purchase")
        .select(
          col("user_id"),
          unix_micros(col("ts")).as("p_us"),
          col("event_id").as("p_id"))
      val quotes = ev
        .filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
          col("event_id"))
        .groupBy(col("user_id"), col("c_us"))
        .agg(min(col("event_id")).as("c_id"))
      TemporalJoins
        .asofJoinNearest(probes, quotes, "user_id", "p_us", "c_us",
          payload = Seq("c_id", "c_us"))
        .select(
          col("user_id"), col("p_us"), col("p_id"),
          coalesce(col("c_id"), lit(-1L)).as("c_id"),
          coalesce(col("c_us"), lit(-1L)).as("c_us"))
    },
    "q53_asof_forward" -> { (s, dir) =>
      // FORWARD as-of join (pandas merge_asof direction='forward' —
      // completing the family: q15 backward, q49 nearest, p5 strict
      // predecessor): each purchase attaches the EARLIEST click at or
      // after it — the "next event after this instant" lookup. Same
      // fixture and cost class as its siblings: one exchange, one
      // sort, a first(ignoreNulls) window over the following frame.
      val ev = graft.sources.Tables.events(s, dir)
      val probes = ev
        .filter(col("event_type") === "purchase")
        .select(
          col("user_id"),
          unix_micros(col("ts")).as("p_us"),
          col("event_id").as("p_id"))
      val quotes = ev
        .filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
          col("event_id"))
        .groupBy(col("user_id"), col("c_us"))
        .agg(min(col("event_id")).as("c_id"))
      TemporalJoins
        .asofJoinForward(probes, quotes, "user_id", "p_us", "c_us",
          payload = Seq("c_id", "c_us"))
        .select(
          col("user_id"), col("p_us"), col("p_id"),
          coalesce(col("c_id"), lit(-1L)).as("c_id"),
          coalesce(col("c_us"), lit(-1L)).as("c_us"))
    },
    "q52_interval_overlap" -> { (s, dir) =>
      // INTERVAL-OVERLAP join (q16's two-interval-set generalization —
      // the ad-exposure × session shape): purchase windows [p, p+30min)
      // against click windows [c, c+20min) per user, every overlapping
      // pair. The bucketed rewrite (1h buckets, both widths ≤ bucket)
      // keeps this a plain shuffled equi-join — no theta join at any
      // scale; the canonical-bucket attribution drops the
      // shared-bucket double match without a distinct. Exact
      // epoch-micros carriers (q24 discipline).
      val ev = graft.sources.Tables.events(s, dir)
      val purch = ev.filter(col("event_type") === "purchase")
        .select(
          col("user_id"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_lo"),
          (unix_micros(col("ts")) + 1800L * 1000000L).as("p_hi"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(
          col("user_id"), col("event_id").as("c_id"),
          unix_micros(col("ts")).as("c_lo"),
          (unix_micros(col("ts")) + 1200L * 1000000L).as("c_hi"))
      TemporalJoins.bucketedIntervalJoin(
        purch, clicks, "user_id",
        "p_lo", "p_hi", "c_lo", "c_hi",
        bucketWidth = 3600L * 1000000L)
        .select(col("user_id"), col("p_id"), col("c_id"))
    },
    "q16_range_join" -> { (s, dir) =>
      // bounded-range join: clicks in the hour BEFORE each purchase by
      // the same user ([p-1h, p), half-open). The bucketed equi-join
      // rewrite keeps this a plain shuffled hash join at any scale; the
      // left_outer re-join keeps zero-click purchases in the result.
      val winUs = 3600L * 1000000L
      val ev = graft.sources.Tables.events(s, dir)
      val probes = ev
        .filter(col("event_type") === "purchase")
        .select(
          col("user_id"),
          col("event_id").as("p_id"),
          (unix_micros(col("ts")) - winUs).as("lo"),
          unix_micros(col("ts")).as("hi"))
      val clicks = ev
        .filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
          col("value"))
      val matched = TemporalJoins
        .bucketedRangeJoin(probes, clicks, "user_id", "lo", "hi", "c_us",
          bucketWidth = winUs)
        .groupBy(col("p_id"))
        .agg(
          count("*").as("n_clicks"),
          round(sum(col("value")), 2).as("sum_value"))
      probes
        .select(col("p_id"), col("user_id"))
        .join(matched, Seq("p_id"), "left_outer")
        .select(
          col("p_id"), col("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
    },

    // ---- deterministic sampling / split curation ----
    "d12_sample_split" -> { (s, dir) =>
      // split assignment + per-source cap in one result: both decisions
      // are md5-deterministic (reproducible in DuckDB and across any
      // cluster layout — rand()/sample would not be)
      Sampling
        .stratumCap(
          Sampling.assignSplit(
            t(s, dir, "documents").select(col("doc_id"), col("source"))),
          stratumCol = "source", cap = 10)
        .select(
          col("doc_id"), col("source"), col("split"),
          col("cap_rank"), col("kept"))
    },
    "d13_repeated_ngrams" -> ((s, dir) =>
      TextOps.repeatedNgramStats(t(s, dir, "documents"))),
    "d14_simhash_neardup" -> ((s, dir) =>
      // exact Hamming-≤3 pairs via banded self-join (pigeonhole: 4
      // disjoint 15-bit bands ⇒ any such pair shares a full band) over
      // the PORTABLE 60-bit SimHash — fully hash-checked: DuckDB
      // recomputes signatures, bands are only an execution strategy
      Dedup.simhashNearDupPairs(t(s, dir, "documents"), maxDist = 3)),
    "d15_minhash_estimate" -> ((s, dir) =>
      // MinHash Jaccard ESTIMATE vs exact per candidate pair over
      // PORTABLE md5 minhashes — DuckDB recomputes all 16 per-seed
      // minima and every estimate, so the sketch the LSH pipeline
      // trusts is itself hash-certified, not just recall-tested
      Dedup.minhashEstimatePairs(
        t(s, dir, "documents"),
        Dedup.blockCandidatePairs(t(s, dir, "documents"), "source"))),
    "d16_chunking" -> ((s, dir) =>
      // overlapping token-window chunking (RAG / training prep): a
      // stateless flatMap, no shuffle — the chunker parallelizes with
      // the input splits at any scale
      TextOps.chunkTokens(t(s, dir, "documents"), chunkSize = 32,
        stride = 16)),
    "d17_boilerplate" -> ((s, dir) =>
      // cross-document boilerplate 3-gram ratio (CCNet/C4-style corpus
      // repetition filter; df keyed on md5 digests so the oracle
      // recomputes every count)
      TextOps.boilerplateStats(t(s, dir, "documents"), n = 3, minDf = 5,
        maxRatio = 0.5)),
    "d18_decontaminate" -> ((s, dir) =>
      // benchmark decontamination: corpus docs sharing verbatim 4-grams
      // with the held-out "benchmark" slice (doc_id % 50 = 0) get
      // flagged; portable shingle digests make every overlap count
      // DuckDB-checkable
      Dedup.decontaminate(
        t(s, dir, "documents").filter(col("doc_id") % 50 =!= 0),
        t(s, dir, "documents").filter(col("doc_id") % 50 === 0))),
    "d31_contamination_report" -> ((s, dir) =>
      // per-ITEM contamination fraction (d18's flip side, the eval-set
      // audit metric): fraction of each benchmark item's distinct
      // 4-grams found anywhere in the training corpus; corpus gram
      // table join hint-free (it is the big side)
      Dedup.contaminationReport(
        t(s, dir, "documents").filter(col("doc_id") % 50 =!= 0),
        t(s, dir, "documents").filter(col("doc_id") % 50 === 0))),
    "d56_bloom_ingest" -> { (s, dir) =>
      // BLOOM-PREFILTERED ingest dedup: history = 2/3 of the corpus,
      // batch = the other third PLUS re-keyed replayed copies of every
      // 5th doc (the re-ingest scenario the gate exists for — replays
      // whose originals sit in history must be dropped, everything
      // else kept). Blooms have no false negatives, so bloom-miss ∪
      // verified-new ≡ the exact anti-join — which is exactly what the
      // oracle computes; fpp only moves the cost split (spec-measured).
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
        .union(
          docs.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + lit(100000L)).as("doc_id"),
              col("text")))
      Dedup.bloomIngestGate(history, batch)
    },
    "d55_chunk_structured" -> { (s, dir) =>
      // STRUCTURE-AWARE chunking (d16's boundary-respecting twin — the
      // chunker RAG pipelines deploy): the synthetic corpus carries no
      // punctuation, so the query first SENTENCIZES it
      // deterministically (a period after token i whenever a 16-bit
      // md5(doc:i) digest ≡ 0 mod 4 — the d38 augmented-fixture
      // discipline, both engines build the identical text), then runs
      // the real operator: split at sentence boundaries, pack segments
      // into ~48-token chunks cut only at boundaries, 1-segment
      // overlap prefix. The oracle regenerates fixture, segments, cut
      // points, and every chunk string byte for byte.
      TextOps.chunkStructured(
        sentencized(t(s, dir, "documents")), budget = 48)
    },
    "d57_url_dedup" -> { (s, dir) =>
      // URL CANONICALIZATION + URL-level exact dedup (the cheapest
      // dedup granularity a crawl pipeline runs — no content read):
      // the messy-URL fixture (withUrls — scheme/host case, :443,
      // trailing slash, utm_*/ref params in varying order, fragments)
      // is canonicalized by pure codegen'd string algebra, then ONE
      // hash aggregate on the canonical form finds the aliases. The
      // oracle rebuilds every raw URL bit for bit and replays the
      // whole canonicalizer in SQL.
      TextOps.urlDedup(withUrls(t(s, dir, "documents")))
    },
    "d58_textrank" -> { (s, dir) =>
      // TEXTRANK keyword scoring (Mihalcea & Tarau 2004): the
      // flagship weighted PageRank loop run on the word
      // CO-OCCURRENCE graph (window 2) — keyword extraction as graph
      // centrality, composing the engine's two surfaces. Pair
      // generation is a stateless projection (no positional
      // self-join); the graph is vocabulary-sized, so the loop's
      // state is tiny regardless of corpus size. 4 weighted
      // iterations; every word's rank hash-matches the unrolled SQL.
      val edges =
        TextOps.cooccurrenceEdges(t(s, dir, "documents"), window = 2)
      val res = PageRank.run(
        s, edges,
        PageRankConfig(maxIter = 4, tol = -1.0, minIter = 4),
        weightCol = Some("w"))
      res.ranks.select(
        col("id").as("word"), round(col("rank"), 9).as("rank_r"))
    },
    "d19_pack_sequences" -> ((s, dir) =>
      // per-shard sequence packing: cumulative token offsets cut into
      // 512-token training sequences; window partitioned by source so
      // shards pack in parallel (a global order would serialize)
      Sampling.packSequences(t(s, dir, "documents"), budget = 512)),
    "d20_pack_pieces" -> ((s, dir) =>
      // the MATERIALIZED packing: every doc exploded into per-sequence
      // pieces (budget 64 so plenty of docs straddle a boundary at this
      // sf); DuckDB regenerates every cut point and piece string, so
      // the piece boundaries — not just the bookkeeping — hash-match
      Sampling.packSequencePieces(t(s, dir, "documents"), budget = 64)),
    "d21_mixture" -> ((s, dir) =>
      // domain-mixture sampling (pretraining data-mixture weights):
      // per-source keep probabilities applied via a deterministic
      // 20-bit md5 draw — stateless projection, no shuffle, no RNG;
      // DuckDB recomputes every draw and keep decision
      Sampling.mixtureSample(
        t(s, dir, "documents"),
        ratios = Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.75))
        .select(col("doc_id"), col("source"), col("mix_bucket"),
          col("kept"))),
    "d22_training_order" -> ((s, dir) =>
      // deterministic corpus shuffle into loader shards: md5 shard draw
      // + md5-ordered position via ONE window partitioned by shard —
      // shards order in parallel, no global sort; the full permutation
      // is hash-checked
      Sampling.trainingOrder(t(s, dir, "documents"), numShards = 8)),
    "d30_token_budget" -> ((s, dir) =>
      // TOKEN-budget subsampling (mixtures are specified in tokens, not
      // docs): per source, docs taken in md5-hash order until the
      // source's cumulative token count crosses the budget — ONE window
      // per source, every cum/keep decision recomputed by DuckDB
      Sampling.tokenBudgetSample(t(s, dir, "documents"), budget = 500)),
    "d23_lm_score" -> ((s, dir) =>
      // model-based quality scoring: corpus-trained add-one-smoothed
      // bigram LM, each doc scored by mean conditional log-probability
      // (the KenLM-perplexity-filter shape, fully oracle-recomputable)
      TextOps.lmScore(t(s, dir, "documents"))),

    "q19_cube" -> { (s, dir) =>
      // CUBE: all 4 grouping combinations in one pass (completes the
      // grouping-sets family next to q6's ROLLUP). grouping_id
      // disambiguates real NULL keys from subtotal rows.
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count("*").as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"),
          // must live inside agg: grouping_id() is only defined under
          // the Cube/Rollup grouping it annotates
          grouping_id().cast("long").as("gid"))
    },
    "q25_grouping_sets" -> { (s, dir) =>
      // explicit GROUPING SETS — the general form q6's ROLLUP and q19's
      // CUBE are sugar for: an ASYMMETRIC set list ((status, priority),
      // (status), ()) that neither rollup nor cube expresses (cube would
      // add the (priority) set, paying an extra grouping no one asked
      // for). One pass, grouping_id disambiguates subtotal rows from
      // real NULL keys, same discipline as q19.
      t(s, dir, "orders").createOrReplaceTempView("orders_q25")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  count(*) AS n_orders,
          |  round(sum(o_totalprice), 2) AS sum_price,
          |  CAST(grouping_id() AS BIGINT) AS gid
          |FROM orders_q25
          |GROUP BY GROUPING SETS (
          |  (o_orderstatus, o_orderpriority), (o_orderstatus), ())""".stripMargin)
    },
    "q26_range_frame" -> { (s, dir) =>
      // RANGE-frame window: per-user rolling 1-hour event count + value
      // sum — the frame is defined by an EVENT-TIME distance, not a row
      // count (rows frames answer "last N events", range frames answer
      // "last hour"; only the latter is meaningful on irregular event
      // streams). Micros-epoch ordering key; identical-timestamp peers
      // are in-frame by definition, so the result is deterministic
      // under any partitioning. One exchange + one sort per user.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      graft.sources.Tables.events(s, dir)
        .select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .select(
          col("event_id"), col("user_id"),
          count("*").over(w).as("n_1h"),
          round(sum(col("value")).over(w), 2).as("sum_1h"))
    },
    "io5_orc_roundtrip" -> { (s, dir) =>
      // ORC sink → source round-trip (the second columnar format next
      // to parquet — same identity oracle as io1/io2: any type-mapping
      // or null-handling loss in the ORC writer/reader breaks the hash)
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_orc") { case Seq(tmp) =>
        docs.write.mode("overwrite").orc(tmp)
        s.read.schema(docs.schema).orc(tmp)
          .select(docs.columns.map(col): _*)
      }
    },
    "q20_approx_percentiles" -> { (s, dir) =>
      // sketch twin of q13: approx_percentile (KLL-style) — the
      // constant-memory path at 100 TB where exact percentile's
      // per-group sorted buffer is unpayable. Approximate ⇒ rows-only
      // check; the accuracy contract is pinned by a unit test and the
      // per-round bench error probe (q20_max_rel_err).
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 1000)")
            .as("median_price"),
          expr("approx_percentile(l_extendedprice, 0.9, 1000)")
            .as("p90_price"))
    },
    "q47_median" -> { (s, dir) =>
      // the EXACT twin of q20's sketch (the d40/q45b measured-pair
      // discipline, exactness side): per-group exact interpolated
      // median + p90. Exact percentile buffers each group's values —
      // group-bounded memory, so it holds while groups fit an executor
      // and q20's KLL sketch is the constant-memory 100 TB path; the
      // pair makes that trade measurable. round(6) pins IEEE
      // interpolation noise.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(median(col("l_extendedprice")), 6).as("median_price"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6)
            .as("p90_price"))
    },
    "q21_geomean" -> { (s, dir) =>
      // typed-Aggregator UDAF (the engine's user-defined-aggregate
      // extension point, planned as a regular partial+final aggregate);
      // the oracle runs the algebraic twin exp(avg(ln x)). round(2):
      // summation order differs across engines/partitionings.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(
            graft.functions.AggregatorFunctions
              .geomean(col("l_extendedprice")),
            2).as("geo_price"))
    },
    "q22_array_funcs" -> { (s, dir) =>
      // array/list function carrier: sort, distinct, slice, join,
      // negative element_at over whitespace tokens — cross-engine list
      // semantics (clamping slices, binary string sort) pinned by hash
      val toks = split(trim(col("text")), "\\s+")
      t(s, dir, "documents").select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        array_join(slice(array_sort(array_distinct(toks)), 1, 3), ",")
          .as("first3"),
        element_at(array_sort(toks), -1).as("top_token"))
    },
    "q23_correlated_subquery" -> { (s, dir) =>
      // correlated scalar subquery ("orders 1.5× above their customer's
      // average") through the SQL entry point — Catalyst decorrelates it
      // into an aggregate + join; the point is the subquery REWRITE, the
      // relational carrier underneath is already covered
      t(s, dir, "orders").createOrReplaceTempView("orders_q23")
      s.sql(
        """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
          |FROM orders_q23 o
          |WHERE o_totalprice > 1.5 * (
          |  SELECT avg(o2.o_totalprice) FROM orders_q23 o2
          |  WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
    },
    // ---- general SQL entry point (GraftSql: register once, run ANSI
    // SQL through Catalyst; the SAME string is the DuckDB oracle) ----
    "sql1_revenue_by_nation" -> ((s, dir) =>
      GraftSql.sql(s, dir, sql1RevenueByNation)),
    "sql2_top_orders_per_customer" -> ((s, dir) =>
      GraftSql.sql(s, dir, sql2TopOrdersPerCustomer)),
    "sql3_big_spender_exists" -> ((s, dir) =>
      GraftSql.sql(s, dir, sql3BigSpenderExists)),
    "sql5_lateral_topn" -> ((s, dir) =>
      // LATERAL correlated subquery (standard-SQL top-N-per-group):
      // Catalyst decorrelates the ordered-limit into a ranked window;
      // the same string runs verbatim in DuckDB
      GraftSql.sql(s, dir, sql5LateralTopOrders)),
    "sql4_recursive_chain" -> ((s, dir) =>
      // WITH RECURSIVE through the SQL entry point: per-customer order
      // chains walked by the recursion (linked-list shape — the
      // UNION-ALL-safe form), depth + running spend per hop; the same
      // string runs verbatim in DuckDB
      GraftSql.sql(s, dir, sql4RecursiveChain)),
    "sql6_merge_dml" -> { (s, dir) =>
      // MERGE INTO through the SQL ENTRY (the io15 semantics reached
      // from SQL TEXT — GraftSql.exec routes the statement to
      // LakeTable.merge, same candidate pruning, same OCC): the USING
      // body is ordinary SQL over the registered views; the read-back
      // state hash-matches io15's oracle exactly (same semantics, new
      // surface), untouched_batches riding from the DML report frame.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_sql6") { case Seq(root) =>
        val thr = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
        val base = docs.filter(pmod(col("doc_id"), lit(3L)) < 2)
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") <= thr), root, "doc_id")
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") > thr), root, "doc_id")
        val rep = GraftSql.exec(s, dir,
          s"""MERGE INTO LAKE '$root' KEY doc_id USING
             |SELECT doc_id, text, lang, source,
             |       n_chars + 1000 AS n_chars
             |FROM documents WHERE doc_id % 6 = 0 AND doc_id <= $thr
             |UNION ALL
             |SELECT doc_id + 1000000000 AS doc_id, text, lang, source,
             |       n_chars
             |FROM documents WHERE doc_id % 3 = 2""".stripMargin)
        val untouched =
          rep.select(col("untouched_batches")).collect()(0).getLong(0)
        graft.sources.LakeTable.read(s, root)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn("untouched_batches", lit(untouched))
      }
    },
    "sql7_delete_dml" -> { (s, dir) =>
      // DELETE WHERE ... BETWEEN through the SQL ENTRY (io20 semantics
      // from SQL TEXT): the range delete routes to
      // LakeTable.deleteRange, and the metadata-only economics —
      // dropped/rewritten/untouched batch counts — ride back in the
      // DML report frame and into the hash, same oracle as io20.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_sql7") { case Seq(root) =>
        val mx = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
        val batchCol = least(lit(3L), expr(s"doc_id * 4 div ${mx + 1}"))
        (0L to 3L).foreach { b =>
          graft.sources.LakeTable.append(
            docs.filter(batchCol === b), root, "doc_id")
        }
        val cut = 3L * (mx + 1L) / 8L
        val rep = GraftSql.exec(s, dir,
          s"DELETE FROM LAKE '$root' WHERE doc_id BETWEEN 0 AND $cut")
        val r = rep.collect()(0)
        graft.sources.LakeTable.read(s, root)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn("dropped_metadata_only", lit(r.getLong(0)))
          .withColumn("rewritten_batches", lit(r.getLong(1)))
          .withColumn("untouched_batches", lit(r.getLong(2)))
      }
    },
    "sql9_optimize" -> { (s, dir) =>
      // OPTIMIZE from SQL TEXT — the maintenance verb that completes
      // the lake lifecycle's SQL surface, and the first consumer of
      // the manifest-RECORDED key (the statement names no key; the
      // manifest vouches for it): orders land as 4 interleaved
      // appends (worst case for pruning), OPTIMIZE BUCKETS 4 derives
      // equal-width splits from the manifest bounds and rewrites into
      // disjoint ranges; the read-back state (via the LAKE table form)
      // is compaction-invariant and the batch counts ride the report
      // frame — the oracle replays the equal-width bucket arithmetic
      // to predict batches_after.
      val ord = t(s, dir, "orders")
      Scratch.sealedIn("graft_sql9") { case Seq(root) =>
        (0L to 3L).foreach { i =>
          graft.sources.LakeTable.append(
            ord.filter(pmod(col("o_orderkey"), lit(4L)) === i),
            root, "o_orderkey")
        }
        val rep = GraftSql.exec(s, dir,
          s"OPTIMIZE LAKE '$root' BUCKETS 4").collect()(0)
        GraftSql.exec(s, dir,
          s"""SELECT o_orderstatus, count(*) AS n_orders,
             |       round(sum(o_totalprice), 2) AS sum_price
             |FROM LAKE '$root' GROUP BY o_orderstatus""".stripMargin)
          .withColumn("batches_before", lit(rep.getLong(0)))
          .withColumn("batches_after", lit(rep.getLong(1)))
      }
    },
    "sql10_vacuum" -> { (s, dir) =>
      // VACUUM from SQL TEXT (Delta VACUUM, the grace-gated sweep):
      // after the io15-shape merge the default-grace sweep RETAINED
      // the superseded generations (time travel / CDF read them);
      // `VACUUM ... RETAIN 0 HOURS` is the explicit single-writer
      // collect-now — it sweeps exactly the 2 superseded generations
      // and the 1 replaced data dir (deterministic given the write
      // history, so both counts ride the hash), the live state reads
      // back unchanged, and time travel to the vacuumed generation now
      // fails loudly (asserted in the spec; the stated tradeoff).
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_sql10") { case Seq(root) =>
        val thr = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
        val base = docs.filter(pmod(col("doc_id"), lit(3L)) < 2)
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") <= thr), root, "doc_id")
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") > thr), root, "doc_id")
        graft.sources.LakeTable.merge(
          docs.filter(pmod(col("doc_id"), lit(6L)) === 0 &&
            col("doc_id") <= thr)
            .withColumn("n_chars", col("n_chars") + 1000L),
          root, "doc_id")
        val rep = GraftSql.exec(s, dir,
          s"VACUUM LAKE '$root' RETAIN 0 HOURS").collect()(0)
        GraftSql.exec(s, dir,
          s"""SELECT lang, count(*) AS n_docs,
             |       sum(n_chars) AS sum_chars
             |FROM LAKE '$root' GROUP BY lang""".stripMargin)
          .withColumn("gens_swept", lit(rep.getLong(0)))
          .withColumn("dirs_swept", lit(rep.getLong(1)))
          .withColumn("batches_live", lit(rep.getLong(2)))
      }
    },
    "sql8_time_travel" -> { (s, dir) =>
      // TIME TRAVEL from SQL TEXT (r15 verdict #2 — `VERSION AS OF`,
      // the query every auditor runs first): the io22 scenario's
      // table, then ONE SQL statement aggregates the PRE-MERGE state
      // (via the as-of generation captured around the write) next to
      // the LIVE state — GraftSql rewrites each LAKE reference to a
      // temp view over readAt/read, so the statement runs through
      // Catalyst with pushdown intact and both states ride one hash
      // (the as-of side must show the base, the live side the merged
      // updates and inserts).
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_sql8") { case Seq(root) =>
        val thr = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
        val base = docs.filter(pmod(col("doc_id"), lit(3L)) < 2)
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") <= thr), root, "doc_id")
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") > thr), root, "doc_id")
        val gAsof = graft.sources.LakeTable.currentName(s, root).get
        val updates = docs
          .filter(pmod(col("doc_id"), lit(6L)) === 0 &&
            col("doc_id") <= thr)
          .withColumn("n_chars", col("n_chars") + 1000L)
        val inserts = docs
          .filter(pmod(col("doc_id"), lit(3L)) === 2)
          .withColumn("doc_id", col("doc_id") + 1000000000L)
        graft.sources.LakeTable.merge(
          updates.unionByName(inserts), root, "doc_id")
        GraftSql.exec(s, dir,
          s"""SELECT 'asof' AS src, lang, count(*) AS n_docs,
             |       sum(n_chars) AS sum_chars
             |FROM LAKE '$root' VERSION AS OF '$gAsof'
             |GROUP BY lang
             |UNION ALL
             |SELECT 'live' AS src, lang, count(*) AS n_docs,
             |       sum(n_chars) AS sum_chars
             |FROM LAKE '$root'
             |GROUP BY lang""".stripMargin)
      }
    },
    "sql11_pagerank" -> { (s, dir) =>
      // PAGERANK from SQL TEXT (r16 verdict #1 — the engine's flagship
      // finally reachable at the SQL entry, the Neo4j GDS CALL shape):
      // one statement names the edge select (the g1 orders graph) and
      // the reference CLI's parameters, GraftSql routes it to the
      // AUDITED PageRank.run — same operator, same convergence rule,
      // same dangling redistribution — and the row hash-locks to the
      // SAME converged oracle as g6 (the whole point: the SQL verb is
      // plumbing, not a second implementation).
      GraftSql.exec(s, dir,
        "PAGERANK MAXITER 10 DAMPING 0.85 THRESHOLD 1e-6 MINITER 5 " +
          "USING " + graft.sources.EdgeListReader.fromOrdersSql)
        .select(col("id"), round(col("rank"), 9).as("rank_r"))
    },
    "sql12_components" -> { (s, dir) =>
      // COMPONENTS from SQL TEXT — the g15 HashMin path behind a SQL
      // verb; the edge select regenerates the g15 portable md5 graph
      // in Spark SQL (conv/md5/pmod are the same algebra
      // SyntheticGraph.portable uses), so the row hash-locks to the
      // SAME recursive-closure oracle as g15.
      def ep(tag: String) =
        "pmod(cast(conv(substr(md5(concat_ws(':', cast(id AS string), " +
          s"'$tag', 'g15')), 1, 8), 16, 10) AS bigint), 600)"
      GraftSql.exec(s, dir,
        s"COMPONENTS USING SELECT ${ep("s")} AS src, ${ep("d")} AS dst " +
          "FROM range(250)")
    },
    "sql13_changes_consumer" -> { (s, dir) =>
      // CHANGES … CONSUMER from SQL TEXT (r16 verdict #7 — the
      // offset-relative incremental read; p16's silver→gold hop in
      // pure SQL): hop 1 bootstraps gold from the full head snapshot
      // (no offset yet → insert rows) and commits the generation; a
      // merge wave lands; hop 2 reads EXACTLY the feed since the
      // committed offset — delta bytes, never the table — and the
      // signed-contribution update hash-locks to the from-scratch
      // recompute, with feed_rows pinning the delta the second hop
      // actually read.
      val docs = t(s, dir, "documents")
      Scratch.sealedIn("graft_sql13", "graft_sql13_consumer") { case Seq(root, cons) =>
        val thr = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
        val base = docs.filter(pmod(col("doc_id"), lit(3L)) < 2)
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") <= thr), root, "doc_id")
        graft.sources.LakeTable.append(
          base.filter(col("doc_id") > thr), root, "doc_id")
        val hop1 = GraftSql.exec(s, dir,
          s"CHANGES FROM LAKE '$root' KEY doc_id CONSUMER '$cons'")
        val gold0 = hop1.groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
        val updates = docs
          .filter(pmod(col("doc_id"), lit(6L)) === 0 &&
            col("doc_id") <= thr)
          .withColumn("n_chars", col("n_chars") + 1000L)
        val inserts = docs
          .filter(pmod(col("doc_id"), lit(3L)) === 2)
          .withColumn("doc_id", col("doc_id") + 1000000000L)
        graft.sources.LakeTable.merge(
          updates.unionByName(inserts), root, "doc_id")
        val feed = GraftSql.exec(s, dir,
          s"CHANGES FROM LAKE '$root' KEY doc_id CONSUMER '$cons'")
        val feedRows = feed.count()
        val sign = when(
          col("_change_type").isin("insert", "update_post"), 1L)
          .otherwise(-1L)
        val delta = feed.groupBy(col("lang")).agg(
          sum(sign).as("dn"),
          sum(sign * col("n_chars")).as("dchars"))
        gold0.join(delta, Seq("lang"), "full_outer")
          .select(
            col("lang"),
            (coalesce(col("n_docs"), lit(0L)) +
              coalesce(col("dn"), lit(0L))).as("n_docs"),
            (coalesce(col("sum_chars"), lit(0L)) +
              coalesce(col("dchars"), lit(0L))).as("sum_chars"))
          .filter(col("n_docs") > 0)
          .withColumn("feed_rows", lit(feedRows))
      }
    },

    "q17_pivot" -> { (s, dir) =>
      // PIVOT: hourly event matrix, one column per event type. Explicit
      // value list (not inferred) — inference costs an extra distinct
      // pass and breaks column-set determinism at scale. Pivot cells
      // with no rows are null in Spark but 0 under the oracle's
      // conditional aggregation: coalesce to align.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = graft.sources.Tables.events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour_str"))
        .pivot("event_type", types)
        .count()
      p.select(
        col("hour_str") +:
          types.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
    },
    "p5_point_in_time" -> ((s, dir) =>
      // POINT-IN-TIME feature join (the feature-store correctness
      // query): q24's SCD2 validity intervals joined to probe events so
      // each probe sees the state STRICTLY BEFORE its own timestamp —
      // never its own row, never the future: no feature leakage into
      // training labels
      graft.operators.TemporalJoins.pointInTimeState(
        graft.sources.Tables.events(s, dir), probeType = "purchase")),
    "q24_scd2" -> { (s, dir) =>
      // SCD2 history build (the CDC merge shape): each user's event
      // stream becomes validity intervals [valid_from, valid_to) via a
      // lead window — the newest row per user is current (valid_to
      // sentinel -1). One exchange + one sort per user partition;
      // microsecond epochs as exact integer carriers.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from"), col("event_id"))
      graft.sources.Tables.events(s, dir)
        .select(
          col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("valid_from"))
        .withColumn(
          "valid_to", coalesce(lead(col("valid_from"), 1).over(w), lit(-1L)))
        .withColumn("is_current", col("valid_to") === -1L)
    },
    "q39_scd2_merge" -> { (s, dir) =>
      // CDC MERGE/upsert — q24's WRITE-side maintenance twin: the change
      // log is split 3 ways by pmod(event_id, 3); the SCD2 history is
      // built from split 0 alone, then batch 1 and batch 2 are MERGED in
      // (close touched intervals, append new versions, re-split
      // out-of-order arrivals), and batch 1 is merged AGAIN — a full
      // replay that must be a no-op. The oracle is the from-scratch q24
      // build over ALL events: hash-match proves
      // build(all) ≡ merge(build(⅓), batch, batch, replayed-batch) —
      // the e13 append ≡ union invariance on the write path.
      import org.apache.spark.sql.expressions.Window
      val changes = graft.sources.Tables.events(s, dir)
        .select(
          col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("valid_from"))
      def part(i: Int) = changes.filter(pmod(col("event_id"), lit(3)) === i)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from"), col("event_id"))
      val initial = part(0)
        .withColumn(
          "valid_to", coalesce(lead(col("valid_from"), 1).over(w), lit(-1L)))
        .withColumn("is_current", col("valid_to") === -1L)
      Seq(part(1), part(2), part(1) /* replay */)
        .foldLeft(initial) { (table, b) =>
          // materialize between merges, as the nightly table write
          // would: scd2Merge reads its `existing` side four times
          // (replay guard, touched keys, both pass-through joins), so a
          // LAZY 3-merge chain re-evaluates the base 4³ times — in
          // production each merge lands in a table before the next
          // batch arrives, and the checkpoint stands in for that write
          graft.operators.CacheScope.rotate(
            graft.operators.Cdc.scd2Merge(table, b))
        }
    },
    "q18_window_funcs" -> { (s, dir) =>
      // the ranked-window family over one partition spec: rank /
      // dense_rank, lag / lead (exact int carriers), and a running sum —
      // one exchange + one sort serves all five functions
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"),
        col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        coalesce(lag(col("o_orderkey"), 1).over(w), lit(-1L)).as("prev_key"),
        coalesce(lead(col("o_orderkey"), 1).over(w), lit(-1L)).as("next_key"),
        round(
          sum(col("o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
          4).as("run_spend"))
    },
    "q38_skew_aqe" -> ((s, dir) => skewJoin(s, dir, skewOn = true)),
    "q38_skew_noaqe" -> ((s, dir) => skewJoin(s, dir, skewOn = false)),
    "q34_bloom_join" -> { (s, dir) =>
      // the runtime-bloom-filter join shape (the third member of the
      // bytes-never-shuffled family after io3 bucketing and q33 DPP):
      // a selective dim filter lets Spark inject bloom_filter_agg /
      // might_contain on the fact side BEFORE the shuffle, cutting the
      // exchanged rows to ~matching keys. Size thresholds gate the
      // injection (PlanSpec forces them low and asserts the filter
      // appears); the RESULT is injection-independent — this oracle row
      // pins that the optimization never changes the answer.
      t(s, dir, "lineitem")
        .join(
          t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
    },
    "q35_unpivot" -> { (s, dir) =>
      // UNPIVOT (melt) — the inverse reshape of q17's pivot: the hourly
      // event-type matrix back to long form, zero cells kept (an
      // unpivot that silently drops empty cells loses the grid). The
      // round-trip pins both reshape directions.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = graft.sources.Tables.events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour_str"))
        .pivot("event_type", types)
        .count()
      val filled = wide.select(
        col("hour_str") +:
          types.map(tp => coalesce(col(tp), lit(0L)).as(tp)): _*)
      filled.unpivot(
        Array(col("hour_str")), types.map(col).toArray, "event_type", "n")
    },
    "q41_window_dist" -> { (s, dir) =>
      // the DISTRIBUTION window family (completing q18's ranked set):
      // percent_rank / cume_dist — exact rational positions over the
      // same one-exchange-one-sort window — plus first_value and
      // nth_value frame accessors; rounded 9 (single divisions of
      // exact integers, the jac_r discipline)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        round(percent_rank().over(w), 9).as("pr"),
        round(cume_dist().over(w), 9).as("cd"),
        first_value(col("o_orderkey")).over(w).as("top_key"),
        coalesce(nth_value(col("o_orderkey"), 2).over(w), lit(-1L))
          .as("second_key"))
    },
    "q40_correlations" -> ((s, dir) =>
      // one-pass CORRELATION matrix over the lineitem numerics (the
      // feature-selection statistic): all three pairwise Pearson
      // correlations + the column means ride ONE map-side-combined
      // aggregate scan — at 100 TB the co-moment accumulators are a
      // constant per task, never a second pass. Rounded 6 (the
      // co-moment fold is float-order-exposed in the last ulps; a
      // correlation is in [-1,1], so 6 dp leaves ~9 orders of margin).
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"),
        round(corr(col("l_quantity"), col("l_discount")), 6)
          .as("corr_qty_disc"),
        round(corr(col("l_extendedprice"), col("l_discount")), 6)
          .as("corr_price_disc"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"))),
    "d40_feature_binning" -> { (s, dir) =>
      // EQUAL-FREQUENCY feature binning per group (the quantile
      // bucketizer every tabular-feature pipeline runs): ntile(4) over
      // (value, event_id) within each event_type — RANK-based, so there
      // are no float bin-edge boundaries to disagree on cross-engine
      // (the d12 integer-threshold discipline applied to binning); the
      // per-bin count/min/max summary is the fit artifact a trainer
      // consumes. Partitioned window: each group sorts independently —
      // the realistic per-feature-group shape (a GLOBAL rank at 100 TB
      // would be approx_percentile's job instead, q20's scale path).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      graft.sources.Tables.events(s, dir)
        .withColumn("bin", ntile(4).over(w).cast("long"))
        .groupBy(col("event_type"), col("bin"))
        .agg(
          count(lit(1)).as("n"),
          round(min(col("value")), 6).as("min_v"),
          round(max(col("value")), 6).as("max_v"))
    },
    "d45_weighted_sample" -> ((s, dir) =>
      // Efraimidis–Spirakis weighted sampling without replacement:
      // md5-deterministic exponential clocks, k smallest win —
      // inclusion probability ∝ n_chars, no corpus sort (the k-row
      // TakeOrderedAndProject heap), decision-for-decision replayable.
      Sampling.weightedSample(
        t(s, dir, "documents"),
        idCol = "doc_id", weightCol = "n_chars", k = 25)),
    "d46_editdist_neardup" -> ((s, dir) =>
      // character-level near-dup pairs: source-blocked equi-join with
      // the lossless |len(a)−len(b)| ≤ maxDist prune INSIDE the join
      // condition — the O(len²) Levenshtein only ever runs on
      // length-compatible same-block pairs.
      graft.operators.Dedup.editDistanceNearDup(
        t(s, dir, "documents"), blockCol = "source", maxDist = 60)),
    "d49_calibration" -> ((s, dir) =>
      // CALIBRATION bins for a scored binary label (the reliability
      // table ECE sums over, next to d42's AUC): d3's stopword ratio
      // as the [0,1] score against the lang='en' label, RANK-binned
      // (ntile over (score, id) — the d40 no-float-edges discipline).
      graft.operators.Metrics.calibrationBins(
        TextOps.qualityMetrics(t(s, dir, "documents"))
          .join(
            t(s, dir, "documents").select(col("doc_id"), col("lang")),
            Seq("doc_id")),
        score = col("stopword_ratio"),
        label = col("lang") === "en",
        id = col("doc_id"), bins = 10)),
    "d49b_calibration_approx" -> ((s, dir) =>
      // d49's 100 TB twin, REGISTERED (the documented swap made
      // executable): approx_percentile edge sketch + stateless bucket
      // projection — no global ntile sort. Rows-only: sketch edges are
      // engine-defined; the Wave8 accuracy spec pins near-equal bin
      // sizes and monotone mean scores against the exact twin.
      graft.operators.Metrics.calibrationBinsApprox(
        TextOps.qualityMetrics(t(s, dir, "documents"))
          .join(
            t(s, dir, "documents").select(col("doc_id"), col("lang")),
            Seq("doc_id")),
        score = col("stopword_ratio"),
        label = col("lang") === "en", bins = 10)),
    "d48_ppjoin" -> ((s, dir) =>
      // EXACT τ-Jaccard set-similarity join by PREFIX FILTERING (the
      // PPJoin lemma): rarest-first canonical order, |T|−⌈τ·|T|⌉+1
      // prefix, candidates = pairs sharing a prefix element + the
      // lossless size bound, exact verify on candidates only. 100%
      // recall is a theorem (spec-locked against brute force) — the
      // LOSSLESS member of the near-dup family next to d5's
      // probabilistic banding.
      graft.operators.Dedup.ppJoin(
        t(s, dir, "documents"), tau = 0.8, shingle = 3)),
    "d50_span_dedup" -> ((s, dir) =>
      // EXACT SUBSTRING-level dedup (Lee et al. 2022 ExactSubstr — the
      // dedup granularity d1/d5/d48 do not cover): maximal token spans
      // duplicated anywhere in the corpus, via the sorted-k-gram
      // relational re-expression of the paper's suffix array. Every
      // decision is md5-digest/integer-deterministic, so the oracle
      // replays gram index → dup set → gaps-and-islands runs exactly.
      graft.operators.Dedup.substringSpans(
        t(s, dir, "documents"), k = 5)),
    "d50b_span_removal" -> ((s, dir) =>
      // d50 APPLIED (Lee et al.'s actual dedup step): the corpus
      // rewritten with every non-canonical duplicated span cut —
      // canonical = the corpus-minimal (doc, pos) site of the span's
      // leading gram, a pure hash-aggregate decision, so the whole
      // rewrite (index → canon → cut → rebuild) replays in the oracle
      // byte-for-byte including the cleaned text.
      graft.operators.Dedup.removeDuplicatedSpans(
        t(s, dir, "documents"), k = 5)),
    "d51_winnow" -> ((s, dir) =>
      // WINNOWING fingerprints (Schleimer et al. 2003, MOSS): per-doc
      // bounded-window minimum of k-gram digests, rightmost-min ties —
      // the LOCAL fingerprint sketch with the ≥ w+k−1 match guarantee
      // (unit-locked). One posexplode + one doc-bounded window; the
      // whole selection is md5/integer arithmetic the oracle replays.
      graft.operators.Dedup.winnowFingerprints(
        t(s, dir, "documents"), k = 4, w = 4)),
    "d51b_winnow_pairs" -> ((s, dir) =>
      // d51 APPLIED (the MOSS score shape): doc pairs sharing ≥ 2
      // distinct fingerprints, bucketed per fingerprint (Σ|bucket|²,
      // never |D|²) with the deterministic stop-fingerprint df cut
      // mirrored in the oracle.
      graft.operators.Dedup.winnowPairs(
        t(s, dir, "documents"), k = 4, w = 4,
        minShared = 2, maxDf = 50)),
    "d53_cms" -> ((s, dir) =>
      // COUNT-MIN sketch (Cormode–Muthukrishnan) point-frequency audit:
      // 3×128 md5-hashed counters built in ONE map-side-combined agg
      // whose shuffle carries the SKETCH not the corpus; every distinct
      // token probed, est ≥ true by theorem (overest column). The
      // sketch family's point-query member next to q14 HLL + d25 MG.
      graft.operators.CountMin.pointEstimates(
        t(s, dir, "documents"), depth = 3, width = 128)),
    "d46b_lev_full" -> ((s, dir) =>
      // the DELIBERATE worse twin (g18/g20 discipline): full-matrix
      // O(len²) Levenshtein on the src16 slice — same output as d46c,
      // measured against it every round in the bench contract line
      graft.operators.Dedup.editDistanceNearDup(
        t(s, dir, "documents").filter(col("source") === "src16"),
        blockCol = "source", maxDist = 60, banded = false)),
    "d46c_lev_banded" -> ((s, dir) =>
      // the banded Ukkonen form on the same slice — the fast half of
      // the measured pair
      graft.operators.Dedup.editDistanceNearDup(
        t(s, dir, "documents").filter(col("source") === "src16"),
        blockCol = "source", maxDist = 60, banded = true)),
    "d47_inverted_index" -> ((s, dir) =>
      // the lexical index artifact BM25 serves from: token → sorted
      // posting list + df, one exploded distinct-(doc, token) pass,
      // df-gated (stop-word-grade tokens carry no selectivity and ARE
      // the posting-list skew risk at scale).
      TextOps.invertedIndex(
        t(s, dir, "documents"), minDf = 2, maxDfRatio = 0.9)),
    "d41_bm25" -> ((s, dir) =>
      // BM25 ranked retrieval for a fixed query — the lexical twin of
      // the embedding index (p4). The isin filter bounds the exploded
      // stream inside the scan projection; df/avgdl ride tiny
      // statistics-broadcast frames; per-term contributions round
      // BEFORE the per-doc sum (fold-order-proof); top-20 plans as
      // TakeOrderedAndProject.
      graft.operators.TextOps.bm25TopK(
        t(s, dir, "documents"),
        queryTerms = Seq("hash", "join", "scan"), k = 20)),
    "d42_auc" -> ((s, dir) =>
      // ROC-AUC by the Mann–Whitney rank statistic with average ranks
      // over ties — the classifier-evaluation gate a quality-scoring
      // pipeline ships against. NO global single-partition window: the
      // cumulative runs as a two-level prefix sum (range-repartitioned
      // per-partition cumsum + driver-collected offsets) over the
      // score-GROUPED frame.
      graft.operators.Metrics.rocAuc(
        graft.sources.Tables.events(s, dir),
        score = col("value"), label = col("event_type") === "error")),
    "d43_chi2" -> ((s, dir) =>
      // χ² feature selection: token presence vs the lang='en' label.
      // One distinct-(doc, token) aggregate + a 1-row totals frame;
      // pure integer contingency cells until the final division, so
      // both engines compute identical doubles.
      graft.operators.TextOps.chi2Terms(
        t(s, dir, "documents"), label = col("lang") === "en", k = 20)),
    "d44_winsorize" -> ((s, dir) =>
      // percentile-clipped (5%/95%) per-group feature summary — exact
      // linear-interpolated percentiles (DuckDB's quantile_cont
      // semantics), group-keyed join back, one clipped re-aggregation.
      graft.operators.Metrics.winsorize(
        graft.sources.Tables.events(s, dir),
        group = col("event_type"), value = col("value"))),
    "q42_regr" -> ((s, dir) =>
      // per-group ordinary least squares: the trend statistic
      // (slope/intercept/R²) as ONE map-side-combined co-moment
      // aggregate per group — never a second pass, never a collect;
      // rounded 6 (the q40 co-moment discipline).
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6)
            .as("slope"),
          round(
            regr_intercept(col("l_extendedprice"), col("l_quantity")), 6)
            .as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
            .as("r2"))),
    "q36_full_outer" -> { (s, dir) =>
      // FULL OUTER join carrier: per-user click activity vs purchase
      // activity — users present on only one side survive with the
      // other side's counts at 0 (coalesced), the key coalesced by the
      // USING-style join in both engines
      val ev = graft.sources.Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_clicks"))
      val buys = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_buys"))
      clicks.join(buys, Seq("user_id"), "full_outer")
        .select(
          col("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_buys"), lit(0L)).as("n_buys"))
    },
    "q37_set_ops" -> { (s, dir) =>
      // INTERSECT / EXCEPT carrier: distinct-user set algebra between
      // event types — the set operators plan as aggregates + joins, and
      // the summary keeps the row deterministic
      val ev = graft.sources.Tables.events(s, dir)
      def users(tp: String) = ev.filter(col("event_type") === tp)
        .select(col("user_id"))
      val both = users("click").intersect(users("purchase"))
        .agg(count(lit(1)).as("n")).withColumn("tag", lit("click_and_buy"))
      val only = users("click").distinct()
        .except(users("purchase"))
        .agg(count(lit(1)).as("n")).withColumn("tag", lit("click_no_buy"))
      both.union(only).select(col("tag"), col("n"))
    },
    "q48_set_ops_all" -> { (s, dir) =>
      // INTERSECT ALL / EXCEPT ALL — q37's MULTISET completions (the
      // SQL-standard bag semantics: a user with 5 clicks and 2
      // purchases contributes 2 copies to the intersection and 3 to
      // the difference). Output folds each side's result bag to
      // (tag, user_id, n_copies) so the duplicate counts themselves
      // are hash-checked; both operators plan as count-aggregates +
      // replication, no row-object comparison anywhere.
      val ev = graft.sources.Tables.events(s, dir)
      def bag(tp: String) = ev.filter(col("event_type") === tp)
        .select(col("user_id"))
      val interAll = bag("click").intersectAll(bag("purchase"))
        .withColumn("tag", lit("inter_all"))
      val exceptAll = bag("click").exceptAll(bag("purchase"))
        .withColumn("tag", lit("except_all"))
      interAll.union(exceptAll)
        .groupBy(col("tag"), col("user_id"))
        .agg(count(lit(1)).as("n_copies"))
    },
    "g46_effective_diameter" -> { (s, dir) =>
      // EFFECTIVE DIAMETER (the ANF/HyperBall headline statistic):
      // smallest h with N(h) ≥ 0.9·N(max) — read off g30's sketch-built
      // neighborhood function; the quantile cut is an integer
      // cross-multiply, so no float touches the boundary
      val nf = graft.operators.Anf.neighborhoodFunction(
        graft.sources.SyntheticGraph.portable(s, 300, 1500, "g30"),
        maxH = 4)
      nf.crossJoin(nf.agg(max(col("nf")).as("nf_max")))
        .filter(col("nf") * 10 >= col("nf_max") * 9)
        .agg(min(col("h")).as("eff_h"), max(col("nf_max")).as("nf_max"))
    },
    "g45_betweenness" -> { (s, dir) =>
      // sampled-source Brandes betweenness, depth-bounded: 4 seeds (the
      // 4 smallest vertices — a bounded driver collect, the oracle's
      // ORDER BY … LIMIT rule), forward σ-counting BFS + backward
      // dependency accumulation, both passes oracle-unrolled
      val e = graft.sources.SyntheticGraph.portable(s, 300, 600, "g45")
      val seeds = GraphBuilder.vertices(e)
        .orderBy(col("id")).limit(4).collect().map(_.getLong(0)).toSeq
      graft.operators.Brandes.sampledBetweenness(e, seeds, depth = 4)
    },
    "g45b_betweenness_conv" -> { (s, dir) =>
      // g45 run TO CONVERGENCE (frontier-empty, the O14/O16 early-stop
      // discipline): stops at depth 8 on this fixture — TRUE sampled
      // Brandes betweenness rather than the depth-bounded κ-path
      // variant. Levels past the stop are empty and contribute nothing,
      // so the fixed-depth unrolled oracle (depth 10 ≥ stop) replays it
      // exactly; the Wave8 differential spec pins converged ≡
      // fixed-depth on top.
      val e = graft.sources.SyntheticGraph.portable(s, 300, 600, "g45")
      val seeds = GraphBuilder.vertices(e)
        .orderBy(col("id")).limit(4).collect().map(_.getLong(0)).toSeq
      graft.operators.Brandes
        .sampledBetweennessConverged(e, seeds, maxDepth = 64)._1
    },
    "g51_harmonic" -> { (s, dir) =>
      // sampled-source HARMONIC centrality (Boldi–Vigna's closeness
      // variant that stays finite on disconnected graphs) run TO
      // CONVERGENCE: g45's batched forward BFS reused verbatim —
      // distance = first-visit level — plus ONE aggregate; fixture
      // stops well inside the depth-10 unrolled oracle (the g45b
      // fixed-depth-covers-converged argument), completing the
      // centrality family (degree/PageRank/HITS/betweenness/harmonic).
      val e = graft.sources.SyntheticGraph.portable(s, 300, 600, "g45")
      val seeds = GraphBuilder.vertices(e)
        .orderBy(col("id")).limit(4).collect().map(_.getLong(0)).toSeq
      graft.operators.Brandes.sampledHarmonic(e, seeds, maxDepth = 64)._1
    },
    "g44_components_df" -> ((s, dir) =>
      // DataFrame-native connected components (HashMin diffusion, early
      // stop) — the GraphX-free scale path for dedup grouping; the
      // differential spec pins it equal to the GraphX Pregel twin, the
      // oracle recomputes every label by reachability closure
      graft.operators.GraphBuilder.connectedComponentsDF(
        graft.sources.SyntheticGraph.portable(s, 600, 250, "g44"))._1),
    "g47_components_star" -> ((s, dir) =>
      // STAR-CONTRACTION components (large-star/small-star, the
      // O(log n)-round twin of g44's O(diameter) HashMin): same
      // labeling contract on its own fixture — the trade (mutated
      // re-shuffled edge set vs exponentially fewer rounds on
      // high-diameter graphs) is unit-locked on a 200-vertex path
      graft.operators.GraphBuilder.connectedComponentsStar(
        graft.sources.SyntheticGraph.portable(s, 600, 250, "g47"))._1),
    "g48_luby_mis" -> ((s, dir) =>
      // Luby's maximal independent set with md5 round-priorities — the
      // whole O(log n)-round fixpoint is a pure function of the edge
      // set, so the oracle unrolls the exact rounds (winner races,
      // neighborhood retirement) in SQL. Independence + maximality are
      // additionally property-locked in MisSpec.
      graft.operators.Mis.lubyMis(
        graft.sources.SyntheticGraph.portable(s, 300, 450, "g48"))),
    "g49_luby_matching" -> ((s, dir) =>
      // MAXIMAL MATCHING by the same symmetry-breaking recipe directly
      // on edges: an edge enters iff it is the (priority, u, v)-min at
      // BOTH endpoints; matched vertices retire their edges. The
      // global-min active edge always wins, so termination is proven,
      // and the oracle unrolls the exact rounds. Matching-validity +
      // maximality property-locked in MisSpec.
      graft.operators.Mis.lubyMatching(
        graft.sources.SyntheticGraph.portable(s, 300, 450, "g49"))),
    "g50_coloring" -> ((s, dir) =>
      // graph coloring by ITERATED MIS (the Luby route to a proper
      // Δ+1-bounded coloring): color k = g48's fixpoint on the
      // residual graph under salt color-v1:k. Properness and the
      // no-smaller-color witness property are unit-locked; the oracle
      // unrolls colors × rounds.
      graft.operators.Mis.lubyColoring(
        graft.sources.SyntheticGraph.portable(s, 120, 180, "g50"))),
    "g43_skipgram_pairs" -> { (s, dir) =>
      // SKIP-GRAM pair generation from the g36 walk corpus (the
      // word2vec/DeepWalk training-pair table — walks are sentences,
      // this is the (center, context) extraction with window 2):
      // self-join per walk on step distance, pair counts map-side
      // combined; per-walk cost is len·window, never corpus-sized
      val walks = graft.operators.Walks.randomWalks(
        graft.sources.SyntheticGraph.portable(s, 300, 900, "g36"),
        len = 8, salt = "g36")
      val a = walks.select(
        col("walk_id"), col("step").as("step_a"), col("vtx").as("center"))
      val b = walks.select(
        col("walk_id"), col("step").as("step_b"), col("vtx").as("context"))
      a.join(b, Seq("walk_id"))
        .filter(
          col("step_a") =!= col("step_b") &&
            abs(col("step_a") - col("step_b")) <= 2)
        .groupBy(col("center"), col("context"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    "io6_schema_evolution" -> { (s, dir) =>
      // SCHEMA EVOLUTION round-trip: two parquet batches with different
      // schemas (the late-added `value` column — how real lakes evolve)
      // land side by side, mergeSchema read unifies them, the missing
      // column surfaces as NULL (counted, not invented); the aggregate
      // over the merged scan is hash-checked against the split rule
      val ev = graft.sources.Tables.events(s, dir)
      Scratch.sealedIn("graft_evo_io6") { case Seq(tmp) =>
        ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select(col("event_id"), col("user_id"), col("event_type"))
          .write.mode("overwrite").parquet(s"$tmp/batch=a")
        ev.filter(pmod(col("event_id"), lit(2)) =!= 0)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
          .write.mode("overwrite").parquet(s"$tmp/batch=b")
        s.read.option("mergeSchema", "true").parquet(tmp)
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("value")).as("n_with_value"),
            round(sum(col("value")), 2).as("sum_value_odd"))
      }
    },
    "g41_node2vec" -> ((s, dir) =>
      // node2vec SECOND-ORDER biased walks: candidate weight depends on
      // the previous vertex (return / distance-1 / distance-2 — integer
      // 1/4/2, i.e. p=4, q=2 cleared to a common denominator), picked by
      // the integer inverse-CDF over the md5 draw; step 1 is the uniform
      // draw (no prev). The oracle replays every step as a candidate
      // join + window cumsum — the entire biased corpus hash-matches.
      graft.operators.Walks.node2vecWalks(
        graft.sources.SyntheticGraph.portable(s, 300, 900, "g41"),
        len = 4, salt = "g41", retW = 1L, inW = 4L, outW = 2L)),
    "d32_temperature_mix" -> ((s, dir) =>
      // temperature-scaled mixture sampling (the mBERT/XLM-R α-rule,
      // α = 0.5 so the numerator is IEEE sqrt): per-source keep
      // probability min(1, frac·N·√n_s/Σ√n_t/n_s) applied through the
      // d21 integer-threshold md5 draw; the denominator is an ORDERED
      // running sum, and the threshold floor sits after a ×2^20 exact
      // power-of-two scaling — no float on any keep/drop boundary
      Sampling.temperatureSample(t(s, dir, "documents"), targetFrac = 0.5)),
    "e20_mmr_rerank" -> ((s, dir) =>
      // MMR diversified rerank: exact top-20 shortlist per probe, then
      // 5 greedy picks maximizing 0.5·rel − 0.5·max-sim-to-picked —
      // every penalty, score, and tie-break deterministic, so the whole
      // greedy trajectory (not a property of it) is the oracle check
      graft.operators.Similarity.mmrRerank(
        t(s, dir, "embeddings"), probeIds = Seq(0L, 1L, 2L, 3L, 4L),
        shortlist = 20, k = 5)),
    "e19_filtered_knn" -> ((s, dir) =>
      // FILTERED vector search (metadata predicate + kNN): the corpus
      // side is cut by `label IN (2, 7)` BEFORE any distance — the
      // predicate pushes down to the parquet scan (PushedFilters,
      // plan-asserted), and the ranking runs through the bounded top-k
      // aggregate. Exact over the filtered candidate set: the
      // pre-filter form, immune to the post-filter starvation an ANN
      // shortlist suffers under selective predicates.
      graft.operators.Similarity.knnFiltered(
        t(s, dir, "embeddings"), probeIds = Seq(0L, 1L, 2L, 3L, 4L),
        k = 10, corpusPred = col("label").isin(2, 7))),
    "q32_json_props" -> { (s, dir) =>
      // schema-on-read over the semi-structured props column:
      // from_json with an EXPLICIT schema (inference would cost a pass
      // and drift with content) parses inside the scan projection —
      // codegen'd JsonToStructs, no shuffle before the aggregate;
      // malformed rows surface as NULL and are counted, not dropped
      import org.apache.spark.sql.types._
      graft.sources.Tables.events(s, dir)
        .withColumn(
          "k",
          from_json(col("props"),
            StructType(Seq(StructField("k", IntegerType))))
            .getField("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          count(col("k")).as("n_parsed"),
          sum(col("k")).cast("long").as("sum_k"),
          round(avg(col("k")), 6).as("avg_k"))
    },
    "q33_dpp_join" -> { (s, dir) =>
      // DYNAMIC partition pruning: the fact side lands hive-partitioned
      // by event_type (io4's layout), the dim side is a tiny aggregate
      // filtered on a NON-join column (share ≥ 0.2 — an exact-rational
      // compare, deterministic cross-engine), so static pruning cannot
      // apply and the fact scan's partition filter must come from the
      // dim at RUNTIME (dynamicpruning subquery, plan-asserted in
      // PlanSpec). At 100 TB this is the difference between scanning
      // 2 partitions and scanning all of them — bytes never read.
      import org.apache.spark.sql.expressions.Window
      val ev = graft.sources.Tables.events(s, dir)
      Scratch.sealedIn("graft_dpp_q33") { case Seq(tmp) =>
        ev.select(col("event_id"), col("user_id"), col("value"),
            col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
        val fact = s.read.parquet(tmp)
        val dim = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_type"))
          .withColumn(
            "frac",
            col("n_type") / sum(col("n_type")).over(Window.partitionBy()))
          .filter(col("frac") >= 0.2)
          .select(col("event_type"), col("n_type"))
        fact.join(dim, Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("sum_value"),
            max(col("n_type")).as("n_type"))
      }
    }
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted only for ops whose output is
    * engine-hash-, recall-, or sketch-defined (d5 LSH buckets, e3/e4
    * approximate neighbours, q14 HLL estimates, g9/g13 synthetic-graph
    * scale fixtures) → driver records a weaker rows-only check; each of
    * those carries a unit/property/recall test instead.
    */
  def oracleSql: Map[String, String] = Map(
    "g1_edges" -> EdgeListReader.fromOrdersSql,
    "g2_vertex_count" ->
      s"WITH $graphCtes SELECT count(*) AS n_vertices FROM verts",
    "g3_degrees" ->
      s"""WITH $graphCtes,
         |indeg AS (SELECT dst AS id, count(*) AS indeg FROM edges GROUP BY 1)
         |SELECT d.id, d.outdeg, coalesce(i.indeg, 0) AS indeg
         |FROM deg d LEFT JOIN indeg i USING (id)""".stripMargin,
    "g4_dangling" ->
      s"""WITH $graphCtes
         |SELECT count(*) AS n_dangling,
         |       round(count(*) / (SELECT n FROM nn), 9) AS init_dangling_mass
         |FROM deg WHERE outdeg = 0""".stripMargin,
    "g5_pagerank_k4" -> pageRankSql(
      4,
      "SELECT id, round(rank, 9) AS rank_r FROM r4"),
    "g56_pagerank_warm" -> pageRankWarmSql(
      kOld = 3, kWarm = 2,
      deltaPred = "(src + dst) % 5 <> 0",
      select = "SELECT id, round(rank, 9) AS rank_r FROM r2"),
    "g21_weighted_k4" -> weightedPageRankSql(
      4,
      "SELECT id, round(rank, 9) AS rank_r FROM r4"),
    "d58_textrank" ->
      // same co-occurrence construction (window-2 neighbor pairs from
      // the token array — index algebra, no positional join — self
      // pairs dropped, symmetrized, corpus-counted weights), then the
      // SAME unrolled weighted loop as g21's oracle
      weightedPageRankSqlOver(
        """WITH tkt AS (
          |  SELECT regexp_split_to_array(trim(text), '\s+') AS tk
          |  FROM documents),
          |p AS (
          |  SELECT unnest(list_concat(
          |    list_transform(range(greatest(len(tk) - 1, 0)),
          |      i -> struct_pack(u := tk[i+1], v := tk[i+2])),
          |    list_transform(range(greatest(len(tk) - 2, 0)),
          |      i -> struct_pack(u := tk[i+1], v := tk[i+3])))) AS p
          |  FROM tkt),
          |pf AS (SELECT p.u AS u, p.v AS v FROM p WHERE p.u <> p.v),
          |und AS (
          |  SELECT u AS src, v AS dst FROM pf
          |  UNION ALL SELECT v, u FROM pf)
          |SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
          |FROM und GROUP BY 1, 2""".stripMargin,
        4,
        "SELECT id AS word, round(rank, 9) AS rank_r FROM r4"),
    "g22_lpa_k3" -> lpaSql(3),
    "g23_sssp_k4" -> ssspSql(4),
    "g23b_sssp_converged" ->
      // converged ≡ fixed for any unroll ≥ the stop depth (4 on this
      // fixture): post-stop rounds are no-ops of the monotone fixpoint
      ssspSql(6),
    "g24_hits_k4" -> hitsSql(4),
    "g24b_hits_converged" -> hitsConvergedSql(maxK = 8, tol = 5e-8, minIter = 2),
    "g25_kcore" -> kCoreSql(k = 4, rounds = 6),
    // converged run: fixed-round unroll at ≥ the fixture's peel depth
    // (monotone peeling ⇒ identical result) — the oracle never learns
    // where the engine's early stop landed
    "g25b_kcore_converged" -> kCoreSql(k = 3, rounds = 6, salt = "g25b"),
    "g26_multi_ppr" -> multiPprSql(k = 4, nSeeds = 3),
    "g55_mc_ppr" -> mcPprSql(
      400, 1200, "g55", "g55w", seed = 7, walks = 1000,
      alphaThresh = 891289, maxSteps = 20),
    "g27_wcore" -> wCoreSql(minStrength = 61.0, rounds = 5),
    "g28_multi_bfs" -> multiBfsSql(rounds = 4, nSeeds = 3),
    // converged LPA: stable labelling is a fixpoint, so a 12-round
    // unroll (fixture converges in 10) reproduces the early-stopped run
    "g22b_lpa_converged" -> lpaBlocksSql(12),
    "g12_degree_skew" ->
      s"""WITH $graphCtes,
         |indeg AS (SELECT dst AS id, count(*) AS indeg FROM edges GROUP BY 1),
         |alldeg AS (
         |  SELECT d.outdeg, coalesce(i.indeg, 0) AS indeg
         |  FROM deg d LEFT JOIN indeg i USING (id))
         |SELECT max(indeg) AS max_indeg,
         |  round(avg(indeg), 6) AS mean_indeg,
         |  round(max(indeg) / avg(indeg), 6) AS in_skew,
         |  max(outdeg) AS max_outdeg,
         |  round(avg(outdeg), 6) AS mean_outdeg,
         |  round(max(outdeg) / avg(outdeg), 6) AS out_skew
         |FROM alldeg""".stripMargin,
    "g11_adjacency" ->
      s"""WITH $graphCtes,
         |adj AS (SELECT src AS id, array_to_string(list_sort(list(dst)), ',') AS outlinks_str
         |        FROM edges GROUP BY 1)
         |SELECT v.id, coalesce(a.outlinks_str, '') AS outlinks_str
         |FROM verts v LEFT JOIN adj a USING (id)""".stripMargin,
    "g6_pagerank_converged" -> pageRankConvergedSql(
      maxIter = 10, tol = 1e-6, minIter = 5),
    "g6b_pagerank_earlystop" -> pageRankConvergedSql(
      maxIter = 10, tol = 2.2e-4, minIter = 5),
    "g5b_pagerank_k1" -> pageRankSql(
      1,
      "SELECT id, round(rank, 9) AS rank_r FROM r1"),
    "g5c_pagerank_k10" -> pageRankSql(
      10,
      "SELECT id, round(rank, 9) AS rank_r FROM r10"),
    "g14_personalized_k4" -> personalizedPageRankSql(k = 4, nSeeds = 3),
    "g45_betweenness" ->
      brandesSql(300, 600, "g45", nSeeds = 4, depth = 4),
    "g45b_betweenness_conv" ->
      // converged ≡ fixed-depth for any unroll ≥ the stop depth (8 on
      // this fixture): the post-stop level CTEs are empty frames
      brandesSql(300, 600, "g45", nSeeds = 4, depth = 10),
    "g51_harmonic" ->
      harmonicSql(300, 600, "g45", nSeeds = 4, depth = 10),
    "g44_components_df" ->
      s"""WITH RECURSIVE ${portableGraphSql(600, 250, "g44")},
         |ed AS (SELECT src AS u, dst AS v FROM pe
         |       UNION SELECT dst, src FROM pe),
         |nodes AS (SELECT DISTINCT u AS id FROM ed),
         |r(id, m) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.m FROM ed e JOIN r ON e.v = r.id)
         |SELECT id, min(m) AS component_id FROM r GROUP BY 1""".stripMargin,
    "g47_components_star" ->
      s"""WITH RECURSIVE ${portableGraphSql(600, 250, "g47")},
         |ed AS (SELECT src AS u, dst AS v FROM pe
         |       UNION SELECT dst, src FROM pe),
         |nodes AS (SELECT DISTINCT u AS id FROM ed),
         |r(id, m) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.m FROM ed e JOIN r ON e.v = r.id)
         |SELECT id, min(m) AS component_id FROM r GROUP BY 1""".stripMargin,
    "g48_luby_mis" ->
      // 12 unrolled rounds ≥ the measured fixpoint depth (MisSpec
      // asserts depth ≤ 10 with margin; extra rounds are no-ops)
      lubyMisOracleSql(300, 450, "g48", "mis-v1", 12),
    "g49_luby_matching" ->
      lubyMatchingOracleSql(300, 450, "g49", "match-v1", 12),
    "g50_coloring" ->
      lubyColoringOracleSql(120, 180, "g50", "color-v1", 6, 6),
    "g15_components" ->
      s"""WITH RECURSIVE ${portableGraphSql(600, 250, "g15")},
         |ed AS (SELECT src AS u, dst AS v FROM pe
         |       UNION SELECT dst, src FROM pe),
         |nodes AS (SELECT DISTINCT u AS id FROM ed),
         |r(id, m) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.m FROM ed e JOIN r ON e.v = r.id)
         |SELECT id, min(m) AS component_id FROM r GROUP BY 1""".stripMargin,
    "g19_bfs_hops" ->
      s"""WITH RECURSIVE ${portableGraphSql(300, 1500, "g19")},
         |s AS (SELECT min(src) AS v FROM pe),
         |r AS (
         |  SELECT (SELECT v FROM s) AS id, 0 AS d
         |  UNION
         |  SELECT e.dst AS id, r.d + 1 AS d
         |  FROM r JOIN pe e ON e.src = r.id
         |  WHERE r.d < 12)
         |SELECT id, CAST(min(d) AS BIGINT) AS hops FROM r GROUP BY 1""".stripMargin,
    "g31_scc" ->
      // exact SCC labels from the full reachability closure: w is in
      // v's SCC iff v →* w and w →* v (self included via the closure's
      // base case); label = min such w. The unbounded recursion
      // terminates because UNION deduplicates the finite closure.
      s"""WITH RECURSIVE ${portableGraphSql(400, 750, "g31")},
         |verts AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM pe UNION ALL SELECT dst FROM pe)),
         |reach(u, w) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT r.u, e.dst FROM reach r JOIN pe e ON e.src = r.w)
         |SELECT r1.u AS id, CAST(min(r1.w) AS BIGINT) AS scc
         |FROM reach r1 JOIN reach r2 ON r1.w = r2.u AND r2.w = r1.u
         |GROUP BY r1.u""".stripMargin,
    "g32_ktruss" -> kTrussOracleSql(200, 1600, "g32", k = 4, rounds = 6),
    "g34_linkpred" ->
      s"""WITH ${portableGraphSql(400, 1200, "g34")},
         |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM pe WHERE src <> dst),
         |und AS MATERIALIZED (SELECT u AS vtx, v AS nbr FROM ue
         |  UNION ALL SELECT v, u FROM ue),
         |deg AS MATERIALIZED (SELECT vtx, count(*) AS d FROM und GROUP BY 1),
         |wd AS MATERIALIZED (
         |  SELECT und.vtx, und.nbr, deg.d FROM und JOIN deg USING (vtx)),
         |pairs AS MATERIALIZED (
         |  SELECT l.nbr AS a, r.nbr AS b, count(*) AS cn,
         |    sum(1.0/ln(l.d)) AS aa
         |  FROM wd l JOIN wd r ON l.vtx = r.vtx AND l.nbr < r.nbr
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT p.* FROM pairs p
         |  LEFT JOIN ue ON ue.u = p.a AND ue.v = p.b
         |  WHERE ue.u IS NULL)
         |SELECT a AS u, b AS v, cn,
         |  round(CAST(cn AS DOUBLE)/(da.d + db.d - cn), 9) AS jac_r,
         |  round(aa, 6) AS aa_r
         |FROM cand
         |JOIN deg da ON da.vtx = cand.a
         |JOIN deg db ON db.vtx = cand.b
         |ORDER BY aa_r DESC, u ASC, v ASC LIMIT 50""".stripMargin,
    "g34b_linkpred_capped" ->
      // the SAME pipeline with wedge middles capped at degree 6 (the
      // wd CTE filter is the only delta vs g34); endpoint degrees stay
      // exact — they come from the uncapped deg CTE
      s"""WITH ${portableGraphSql(400, 1200, "g34")},
         |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM pe WHERE src <> dst),
         |und AS MATERIALIZED (SELECT u AS vtx, v AS nbr FROM ue
         |  UNION ALL SELECT v, u FROM ue),
         |deg AS MATERIALIZED (SELECT vtx, count(*) AS d FROM und GROUP BY 1),
         |wd AS MATERIALIZED (
         |  SELECT und.vtx, und.nbr, deg.d FROM und JOIN deg USING (vtx)
         |  WHERE deg.d <= 6),
         |pairs AS MATERIALIZED (
         |  SELECT l.nbr AS a, r.nbr AS b, count(*) AS cn,
         |    sum(1.0/ln(l.d)) AS aa
         |  FROM wd l JOIN wd r ON l.vtx = r.vtx AND l.nbr < r.nbr
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT p.* FROM pairs p
         |  LEFT JOIN ue ON ue.u = p.a AND ue.v = p.b
         |  WHERE ue.u IS NULL)
         |SELECT a AS u, b AS v, cn,
         |  round(CAST(cn AS DOUBLE)/(da.d + db.d - cn), 9) AS jac_r,
         |  round(aa, 6) AS aa_r
         |FROM cand
         |JOIN deg da ON da.vtx = cand.a
         |JOIN deg db ON db.vtx = cand.b
         |ORDER BY aa_r DESC, u ASC, v ASC LIMIT 50""".stripMargin,
    "g35_modularity" -> modularitySql(3),
    "p8_hygiene" -> p8OracleSql,
    "p8b_hygiene_ledger" -> p8LedgerSql,
    "p7_multilevel_community" ->
      // the whole multilevel trajectory replayed: g22's LPA chain to
      // l3, the g39 contraction, a SECOND unrolled LPA over the coarse
      // graph (m0..m3 — self-loop communities enter verts2 and keep
      // their label, exactly the engine's vertices(coarse) rule), the
      // two-level mapping, and BOTH g35 modularity scores as scalar
      // columns
      lpaSqlOver(
        portableGraphSql(400, 1200, "g22"), 3,
        (1 to 3).foldLeft(
          """,
            |lab AS MATERIALIZED (
            |  SELECT e.u, e.v, a.lbl AS la, b.lbl AS lb
            |  FROM ue e JOIN l3 a ON a.id = e.u JOIN l3 b ON b.id = e.v),
            |ue2 AS MATERIALIZED (SELECT DISTINCT least(la, lb) AS u,
            |  greatest(la, lb) AS v FROM lab WHERE la <> lb),
            |und2 AS MATERIALIZED (SELECT u AS vtx, v AS nbr FROM ue2
            |  UNION ALL SELECT v, u FROM ue2),
            |verts2 AS MATERIALIZED (SELECT DISTINCT lbl AS id FROM l3),
            |m0 AS MATERIALIZED (SELECT id, id AS lbl FROM verts2)""".stripMargin
        ) { (acc, i) =>
          acc + s""",
            |mc$i AS MATERIALIZED (
            |  SELECT d.vtx, l.lbl, count(*) AS cnt
            |  FROM und2 d JOIN m${i - 1} l ON d.nbr = l.id GROUP BY 1, 2),
            |ma$i AS MATERIALIZED (
            |  SELECT vtx, lbl FROM (
            |    SELECT vtx, lbl, row_number() OVER (PARTITION BY vtx
            |      ORDER BY cnt DESC, lbl ASC) AS rn FROM mc$i)
            |  WHERE rn = 1),
            |m$i AS MATERIALIZED (
            |  SELECT v.id, coalesce(a.lbl, v.id) AS lbl
            |  FROM verts2 v LEFT JOIN ma$i a ON a.vtx = v.id)""".stripMargin
        } + """,
          |mp AS MATERIALIZED (
          |  SELECT l.id, l.lbl AS lbl_fine,
          |    coalesce(x.lbl, l.lbl) AS lbl_coarse
          |  FROM l3 l LEFT JOIN m3 x ON x.id = l.lbl),
          |me AS (SELECT count(*) AS m_edges,
          |    CAST(sum(CASE WHEN a.lbl = b.lbl THEN 1 ELSE 0 END) AS BIGINT)
          |      AS intra
          |  FROM ue e JOIN l3 a ON a.id = e.u JOIN l3 b ON b.id = e.v),
          |dc AS (SELECT l.lbl, count(*) AS dc
          |  FROM (SELECT u AS id FROM ue UNION ALL SELECT v FROM ue) x
          |  JOIN l3 l ON l.id = x.id GROUP BY 1),
          |ds AS (SELECT CAST(sum(dc*dc) AS BIGINT) AS sds FROM dc),
          |me2 AS (SELECT count(*) AS m_edges,
          |    CAST(sum(CASE WHEN a.lbl_coarse = b.lbl_coarse
          |      THEN 1 ELSE 0 END) AS BIGINT) AS intra
          |  FROM ue e JOIN mp a ON a.id = e.u JOIN mp b ON b.id = e.v),
          |dc2 AS (SELECT l.lbl_coarse, count(*) AS dc
          |  FROM (SELECT u AS id FROM ue UNION ALL SELECT v FROM ue) x
          |  JOIN mp l ON l.id = x.id GROUP BY 1),
          |ds2 AS (SELECT CAST(sum(dc*dc) AS BIGINT) AS sds FROM dc2)
          |SELECT mp.id, mp.lbl_fine, mp.lbl_coarse,
          |  round(CAST(me.intra AS DOUBLE)/me.m_edges
          |      - CAST(ds.sds AS DOUBLE)/(4.0*me.m_edges*me.m_edges), 9)
          |    AS q_fine_r,
          |  round(CAST(me2.intra AS DOUBLE)/me2.m_edges
          |      - CAST(ds2.sds AS DOUBLE)/(4.0*me2.m_edges*me2.m_edges), 9)
          |    AS q_multi_r
          |FROM mp, me, ds, me2, ds2""".stripMargin),
    "p3_graph_features" -> {
      // PR recurrence over the deduped portable graph, then the degree,
      // triangle and 3-core CTEs, all joined into the same one-row-per-
      // vertex feature frame the engine builds
      val ctes =
        s"""${portableGraphSql(400, 1200, "p3")},
           |edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM pe),
           |verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
           |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
           |deg AS MATERIALIZED (SELECT v.id, coalesce(d.outdeg, 0) AS outdeg FROM verts v LEFT JOIN (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY 1) d USING (id))""".stripMargin
      val tail = new StringBuilder
      tail ++=
        s""",
           |indeg AS MATERIALIZED (SELECT dst AS id, count(*) AS ind FROM edges GROUP BY 1),
           |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM edges WHERE src <> dst),
           |und AS MATERIALIZED (SELECT u AS vtx, v AS nbr FROM ue UNION ALL SELECT v, u FROM ue),
           |tri AS MATERIALIZED (
           |  SELECT w.vtx AS id, count(*) AS t
           |  FROM und w
           |  JOIN und x ON x.vtx = w.vtx AND w.nbr < x.nbr
           |  JOIN ue e2 ON e2.u = w.nbr AND e2.v = x.nbr
           |  GROUP BY 1),
           |s0 AS MATERIALIZED (SELECT id FROM verts)""".stripMargin
      for (i <- 1 to 6) {
        tail ++= s""",
           |s$i AS MATERIALIZED (
           |  SELECT vtx AS id FROM (
           |    SELECT d.vtx, count(*) AS dg
           |    FROM und d
           |    JOIN s${i - 1} a ON d.vtx = a.id
           |    JOIN s${i - 1} b ON d.nbr = b.id
           |    GROUP BY 1)
           |  WHERE dg >= 3)""".stripMargin
      }
      tail ++=
        """
          |SELECT v.id, round(r.rank, 9) AS rank_r, d.outdeg,
          |  coalesce(i.ind, 0) AS indeg,
          |  CAST(coalesce(t.t, 0) AS BIGINT) AS n_triangles,
          |  CAST(CASE WHEN c.id IS NULL THEN 0 ELSE 1 END AS BIGINT)
          |    AS in_core
          |FROM verts v
          |JOIN r4 r USING (id)
          |JOIN deg d USING (id)
          |LEFT JOIN indeg i ON i.id = v.id
          |LEFT JOIN tri t ON t.id = v.id
          |LEFT JOIN s6 c ON c.id = v.id""".stripMargin
      pageRankSqlOver(ctes, 4, tail.toString)
    },
    "g40_neighbor_agg" ->
      s"""WITH ${portableGraphSql(400, 1200, "g40")},
         |edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM pe),
         |verts AS MATERIALIZED (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
         |od AS (SELECT src AS id, count(*) AS odeg FROM edges GROUP BY 1),
         |idg AS (SELECT dst AS id, count(*) AS ideg FROM edges GROUP BY 1),
         |feat AS MATERIALIZED (
         |  SELECT v.id, coalesce(o.odeg, 0) AS outdeg,
         |    coalesce(i.ideg, 0) AS indeg
         |  FROM verts v LEFT JOIN od o USING (id) LEFT JOIN idg i USING (id)),
         |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM edges WHERE src <> dst),
         |und AS MATERIALIZED (SELECT u AS vtx, v AS nbr FROM ue
         |  UNION ALL SELECT v, u FROM ue),
         |h1 AS MATERIALIZED (
         |  SELECT d.vtx AS id, count(*) AS deg,
         |    CAST(sum(f.outdeg) AS BIGINT) AS s1_out,
         |    CAST(sum(f.indeg) AS BIGINT) AS s1_in
         |  FROM und d JOIN feat f ON f.id = d.nbr GROUP BY 1),
         |h2 AS MATERIALIZED (
         |  SELECT d.vtx AS id,
         |    CAST(sum(h.s1_out) AS BIGINT) AS s2_out,
         |    CAST(sum(h.s1_in) AS BIGINT) AS s2_in
         |  FROM und d JOIN h1 h ON h.id = d.nbr GROUP BY 1)
         |SELECT f.id, f.outdeg, f.indeg,
         |  coalesce(h1.deg, 0) AS deg,
         |  coalesce(h1.s1_out, 0) AS s1_out,
         |  coalesce(h1.s1_in, 0) AS s1_in,
         |  coalesce(h2.s2_out, 0) AS s2_out,
         |  coalesce(h2.s2_in, 0) AS s2_in,
         |  CASE WHEN coalesce(h1.deg, 0) > 0
         |    THEN round(CAST(h1.s1_out AS DOUBLE) / h1.deg, 9)
         |    ELSE 0.0 END AS avg1_out_r
         |FROM feat f
         |LEFT JOIN h1 ON h1.id = f.id
         |LEFT JOIN h2 ON h2.id = f.id""".stripMargin,
    "g39_coarsen" -> lpaSqlOver(
      portableGraphSql(400, 1200, "g22"), 3,
      """,
        |lab AS MATERIALIZED (
        |  SELECT e.u, e.v, a.lbl AS la, b.lbl AS lb
        |  FROM ue e JOIN l3 a ON a.id = e.u JOIN l3 b ON b.id = e.v)
        |SELECT least(la, lb) AS lu, greatest(la, lb) AS lv,
        |  count(*) AS n_edges
        |FROM lab GROUP BY 1, 2""".stripMargin),
    "g52_louvain" ->
      s"""WITH ${portableGraphSql(400, 1200, "g22")},
         |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM pe WHERE src <> dst),
         |weA AS MATERIALIZED (
         |  SELECT u, v, CAST(1 AS BIGINT) AS w FROM ue),
         |${louvainRoundsSql("A", 6)}${louvainFinalSql("lA_6")}""".stripMargin,
    "g52b_louvain_multilevel" ->
      s"""WITH ${portableBlocksSql(200, 600, "g22b")},
         |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM pe WHERE src <> dst),
         |weA AS MATERIALIZED (
         |  SELECT u, v, CAST(1 AS BIGINT) AS w FROM ue),
         |${louvainRoundsSql("A", 6)},
         |weB AS MATERIALIZED (
         |  SELECT least(a.lbl, b.lbl) AS u, greatest(a.lbl, b.lbl) AS v,
         |    CAST(sum(w.w) AS BIGINT) AS w
         |  FROM weA w JOIN lA_6 a ON a.id = w.u JOIN lA_6 b ON b.id = w.v
         |  GROUP BY 1, 2),
         |${louvainRoundsSql("B", 6)},
         |proj AS MATERIALIZED (
         |  SELECT a.id, b.lbl FROM lA_6 a JOIN lB_6 b ON b.id = a.lbl)
         |${louvainFinalSql("proj")}""".stripMargin,
    "g52c_louvain_converged" ->
      s"""WITH ${portableBlocksSql(200, 600, "g22b")},
         |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM pe WHERE src <> dst),
         |${louvainMultilevelSql(levels = 6, rounds = 8)}""".stripMargin,
    "g58_louvain_warm" ->
      // the warm trajectory replayed decision for decision: prior = 4
      // rounds on the (u+v)%5<>0 subgraph, seed = coalesce(prior, id)
      // over the FULL vertex universe, then 4 more rounds on the full
      // graph from that seed
      s"""WITH ${portableBlocksSql(200, 600, "g22b")},
         |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM pe WHERE src <> dst),
         |weP AS MATERIALIZED (
         |  SELECT u, v, CAST(1 AS BIGINT) AS w FROM ue
         |  WHERE (u + v) % 5 <> 0),
         |${louvainRoundsSql("P", 4)},
         |weA AS MATERIALIZED (
         |  SELECT u, v, CAST(1 AS BIGINT) AS w FROM ue),
         |${louvainRoundsSql("A", 4, init = Some(
        "SELECT k.id, coalesce(p.lbl, k.id) AS lbl FROM kvA k " +
          "LEFT JOIN lP_4 p ON p.id = k.id"))}${louvainFinalSql("lA_4")}""".stripMargin,
    "g58b_louvain_warm_ladder" ->
      // the warm ladder unrolled: prior chain on the subgraph, warm
      // level A from the coalesced seed, contraction by lA_4, cold
      // level B, projection — decision for decision in DuckDB
      s"""WITH ${portableBlocksSql(200, 600, "g22b")},
         |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM pe WHERE src <> dst),
         |weP AS MATERIALIZED (
         |  SELECT u, v, CAST(1 AS BIGINT) AS w FROM ue
         |  WHERE (u + v) % 5 <> 0),
         |${louvainRoundsSql("P", 4)},
         |weA AS MATERIALIZED (
         |  SELECT u, v, CAST(1 AS BIGINT) AS w FROM ue),
         |${louvainRoundsSql("A", 4, init = Some(
        "SELECT k.id, coalesce(p.lbl, k.id) AS lbl FROM kvA k " +
          "LEFT JOIN lP_4 p ON p.id = k.id"))},
         |weB AS MATERIALIZED (
         |  SELECT least(a.lbl, b.lbl) AS u, greatest(a.lbl, b.lbl) AS v,
         |    CAST(sum(w.w) AS BIGINT) AS w
         |  FROM weA w JOIN lA_4 a ON a.id = w.u JOIN lA_4 b ON b.id = w.v
         |  GROUP BY 1, 2),
         |${louvainRoundsSql("B", 4)},
         |proj AS MATERIALIZED (
         |  SELECT a.id, b.lbl FROM lA_4 a JOIN lB_4 b ON b.id = a.lbl)
         |${louvainFinalSql("proj")}""".stripMargin,
    "g58c_louvain_warm_converged" ->
      // the converged warm ladder's depth lock: prior chain on the
      // subgraph, then the fixed 8-round unroll at the self-determined
      // depth (6 on this fixture) with level A warm-seeded — the g52c
      // no-op-tail equivalence argument, warm; levels_run rides the hash
      s"""WITH ${portableBlocksSql(200, 600, "g22b")},
         |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM pe WHERE src <> dst),
         |weP AS MATERIALIZED (
         |  SELECT u, v, CAST(1 AS BIGINT) AS w FROM ue
         |  WHERE (u + v) % 5 <> 0),
         |${louvainRoundsSql("P", 4)},
         |${louvainMultilevelWarmSql(levels = 6, rounds = 8, init =
        "SELECT k.id, coalesce(p.lbl, k.id) AS lbl FROM kvA k " +
          "LEFT JOIN lP_4 p ON p.id = k.id")}""".stripMargin,
    "g53_coreness" -> corenessSql(300, 900, "g53", k = 9),
    "g54_matching" -> matchingSql(300, 900, "g54", k = 6),
    "g36_walks" -> walksSql(300, 900, "g36", len = 8),
    "g38_weighted_walks" ->
      weightedWalksSql(300, 900, "g38", "g38w", len = 8),
    "g37_clustering" ->
      s"""WITH ${portableGraphSql(300, 1500, "g37")},
         |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM pe WHERE src <> dst),
         |und AS MATERIALIZED (SELECT u AS vtx, v AS nbr FROM ue
         |  UNION ALL SELECT v, u FROM ue),
         |verts AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM pe UNION ALL SELECT dst FROM pe)),
         |deg AS MATERIALIZED (SELECT vtx AS id, count(*) AS deg
         |  FROM und GROUP BY 1),
         |tri AS MATERIALIZED (
         |  SELECT w.vtx AS id, count(*) AS t
         |  FROM und w
         |  JOIN und x ON x.vtx = w.vtx AND w.nbr < x.nbr
         |  JOIN ue e ON e.u = w.nbr AND e.v = x.nbr
         |  GROUP BY 1)
         |SELECT v.id,
         |  CAST(coalesce(t.t, 0) AS BIGINT) AS n_triangles,
         |  CAST(coalesce(d.deg, 0) AS BIGINT) AS deg,
         |  CASE WHEN coalesce(d.deg, 0) >= 2
         |    THEN round(2.0*coalesce(t.t, 0)/(d.deg*(d.deg - 1)), 9)
         |    ELSE 0.0 END AS lcc_r
         |FROM verts v
         |LEFT JOIN tri t ON t.id = v.id
         |LEFT JOIN deg d ON d.id = v.id""".stripMargin,
    "g33_harmonic" ->
      // exact depth-bounded harmonic centrality: per-source counts of
      // vertices at each exact distance (integers — order-free), then
      // the same left-associated chain c1/1 + c2/2 + c3/3 + c4/4 the
      // engine folds, rounded at 6 dp; top-20 on (score desc, id)
      s"""WITH RECURSIVE ${portableGraphSql(300, 1500, "g33")},
         |verts AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM pe UNION ALL SELECT dst FROM pe)),
         |reach(u, w, d) AS (
         |  SELECT id, id, 0 FROM verts
         |  UNION
         |  SELECT r.u, e.dst, r.d + 1
         |  FROM reach r JOIN pe e ON e.src = r.w WHERE r.d < 4),
         |md AS (SELECT u, w, min(d) AS d FROM reach GROUP BY u, w),
         |cnts AS (
         |  SELECT u,
         |    SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS c1,
         |    SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS c2,
         |    SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS c3,
         |    SUM(CASE WHEN d = 4 THEN 1 ELSE 0 END) AS c4
         |  FROM md GROUP BY u)
         |SELECT u AS id,
         |  round(CAST(c1 AS DOUBLE) / 1 + CAST(c2 AS DOUBLE) / 2
         |        + CAST(c3 AS DOUBLE) / 3 + CAST(c4 AS DOUBLE) / 4, 6)
         |    AS harmonic
         |FROM cnts ORDER BY harmonic DESC, id LIMIT 20""".stripMargin,
    "q28_gapfill" ->
      // identical grid, per-hour survivor rule (latest ts, then id) and
      // ignore-nulls running fill
      """WITH b AS (
        |  SELECT date_trunc('hour', min(ts)) AS mn,
        |         date_trunc('hour', max(ts)) AS mx FROM events),
        |u AS (SELECT DISTINCT user_id FROM events),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series((SELECT mn FROM b), (SELECT mx FROM b),
        |                           INTERVAL 1 HOUR)) AS h
        |  FROM u),
        |ev AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, value
        |  FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY user_id, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |f AS (
        |  SELECT g.user_id, g.h,
        |    last_value(ev.value IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
        |  FROM grid g
        |  LEFT JOIN ev ON ev.user_id = g.user_id AND ev.h = g.h)
        |SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_str,
        |  round(v, 2) AS filled_value
        |FROM f""".stripMargin,
    "q29_funnel" ->
      // same staged minima: each stage's min(ts) must be STRICTLY later
      // than the previous stage's
      """WITH v1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |v2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN v1 ON v1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v1.t1 GROUP BY 1),
        |v3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN v2 ON v2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > v2.t2 GROUP BY 1)
        |SELECT '0_all' AS stage, count(DISTINCT user_id) AS users FROM events
        |UNION ALL SELECT '1_view', count(*) FROM v1
        |UNION ALL SELECT '2_click', count(*) FROM v2
        |UNION ALL SELECT '3_purchase', count(*) FROM v3""".stripMargin,
    "q31_session_paths" ->
      // same session assignment as st1's oracle, same (ts, event_id)
      // total order for the lead, same boundary filter and top-20 cut
      """WITH x AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM x),
        |z AS (
        |  SELECT event_type AS t1,
        |    lead(event_type) OVER w AS t2,
        |    session_no,
        |    lead(session_no) OVER w AS next_session
        |  FROM y WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT t1, t2, count(*) AS n
        |FROM z
        |WHERE t2 IS NOT NULL AND next_session = session_no
        |GROUP BY 1, 2
        |ORDER BY n DESC, t1 ASC, t2 ASC LIMIT 20""".stripMargin,
    "q30_retention" ->
      // same Monday week-truncation; the day delta of Monday-aligned
      // dates is divisible by 7, so the integer offset is exact both sides
      """WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY 1)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
        |  CAST(datediff('day', cohort, wk) // 7 AS BIGINT) AS week_offset,
        |  count(DISTINCT user_id) AS users
        |FROM ev JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "d29_collocations" ->
      // same count tables, same PMI expression tree (cb/B)/((c1/N)(c2/N)),
      // same (rounded pmi, t1, t2) top-20 boundary
      """WITH tk AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |tok AS (SELECT unnest(tk) AS t FROM tk),
        |uni AS (SELECT t, count(*) AS cu FROM tok GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
        |ix AS (
        |  SELECT tk, unnest(range(len(tk) - 1)) AS i
        |  FROM tk WHERE len(tk) >= 2),
        |pr AS (
        |  SELECT tk[CAST(i AS INTEGER) + 1] AS t1,
        |         tk[CAST(i AS INTEGER) + 2] AS t2
        |  FROM ix),
        |bb AS (SELECT CAST(count(*) AS DOUBLE) AS b FROM pr),
        |bi AS (SELECT t1, t2, count(*) AS cb FROM pr GROUP BY 1, 2)
        |SELECT bi.t1, bi.t2, cb AS n_pair,
        |  round(ln((CAST(cb AS DOUBLE) / (SELECT b FROM bb)) /
        |        ((CAST(u1.cu AS DOUBLE) / (SELECT n FROM nn)) *
        |         (CAST(u2.cu AS DOUBLE) / (SELECT n FROM nn)))), 6) AS pmi
        |FROM bi
        |JOIN uni u1 ON u1.t = bi.t1
        |JOIN uni u2 ON u2.t = bi.t2
        |WHERE cb >= 5
        |ORDER BY pmi DESC, t1, t2 LIMIT 20""".stripMargin,
    "q27_window_stats" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,
    "g30_anf" ->
      // exact neighborhood function by depth-bounded all-sources
      // reachability — equals the engine's sketch-based N(h) because the
      // fixture keeps every per-vertex set in the sketch's exact regime
      s"""WITH RECURSIVE $anfNfCtes
         |SELECT h, nf FROM nf""".stripMargin,
    "g46_effective_diameter" ->
      // same exact N(h) chain; the 0.9-quantile cut is an INTEGER
      // cross-multiply (nf·10 ≥ nf_max·9) — no float on the boundary
      s"""WITH RECURSIVE $anfNfCtes,
         |mx AS (SELECT max(nf) AS nf_max FROM nf)
         |SELECT min(h) AS eff_h, max(mx.nf_max) AS nf_max
         |FROM nf, mx WHERE nf * 10 >= mx.nf_max * 9""".stripMargin,
    "q21_geomean" ->
      """SELECT l_returnflag,
        |  round(exp(avg(ln(l_extendedprice))), 2) AS geo_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q47_median" ->
      // both engines interpolate at (n-1)*p — Spark percentile ≡
      // DuckDB quantile_cont; round(6) absorbs the one IEEE division
      """SELECT l_returnflag,
        |  round(median(l_extendedprice), 6) AS median_price,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q23_correlated_subquery" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        |FROM orders o
        |WHERE o_totalprice > 1.5 * (
        |  SELECT avg(o2.o_totalprice) FROM orders o2
        |  WHERE o2.o_custkey = o.o_custkey)""".stripMargin,
    "d15_minhash_estimate" ->
      // same shingle/digest construction as d5b; per-seed minhash is the
      // lexicographic min of md5(i || ':' || digit-string) hex strings —
      // identical in both engines, so the ESTIMATES hash-match, not just
      // the exact values
      """WITH tk AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(greatest(len(tk) - 2, 1)),
        |      i -> CAST(concat('0x',
        |        substr(md5(array_to_string(tk[i+1:i+3], ' ')), 1, 15))
        |        AS BIGINT))) AS sh
        |  FROM tk),
        |sig AS (
        |  SELECT doc_id, source, sh,
        |    list_transform(range(16), i ->
        |      list_min(list_transform(sh, s ->
        |        md5(concat(CAST(i AS VARCHAR), ':', CAST(s AS VARCHAR)))))) AS sig
        |  FROM sh)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_filter(range(16), i -> a.sig[i+1] = b.sig[i+1]))
        |        AS DOUBLE) / 16, 6) AS est_jaccard,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS exact_jaccard
        |FROM sig a JOIN sig b ON a.source = b.source AND a.doc_id < b.doc_id""".stripMargin,
    "d5c_lsh_portable" ->
      // same shingle/digest/minhash construction as d15; band b of 4
      // covers sig[b*4+1 .. b*4+4] (1-based inclusive in both dialects);
      // the bucket key is the literal '|'-joined slice, so the banding
      // decision — not a proxy — is what hash-matches
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(greatest(len(tk) - 2, 1)),
        |      i -> CAST(concat('0x',
        |        substr(md5(array_to_string(tk[i+1:i+3], ' ')), 1, 15))
        |        AS BIGINT))) AS sh
        |  FROM tk),
        |sig AS (
        |  SELECT doc_id,
        |    list_transform(range(16), i ->
        |      list_min(list_transform(sh, s ->
        |        md5(concat(CAST(i AS VARCHAR), ':', CAST(s AS VARCHAR)))))) AS sig
        |  FROM sh),
        |band AS (
        |  SELECT doc_id, CAST(t.b AS INTEGER) AS band_no,
        |    array_to_string(sig[t.b*4+1 : t.b*4+4], '|') AS band_key
        |  FROM sig, unnest(range(4)) AS t(b))
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM band a JOIN band b
        |  ON a.band_no = b.band_no AND a.band_key = b.band_key
        | AND a.doc_id < b.doc_id""".stripMargin,
    "d16_chunking" ->
      // chunk c covers tokens [c·16+1, c·16+32] (1-based inclusive in
      // both dialects: Spark slice(tk, c*16+1, 32) ≡ DuckDB
      // tk[c*16+1 : c*16+32], both clamping at the end); chunk starts
      // are 0, 16, 32, ... while start < n_tokens
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (
        |  SELECT doc_id, tk,
        |    unnest(range(CAST(floor((len(tk) - 1) / 16.0) AS BIGINT) + 1)) AS c
        |  FROM tk)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk_id,
        |  array_to_string(tk[c*16+1 : c*16+32], ' ') AS chunk_text,
        |  CAST(len(tk[c*16+1 : c*16+32]) AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin,
    "p10_media_ingest" ->
      // the m5 pair chain and the m6 packing chain are the SAME CTE
      // blocks their own oracles use; dups = each pair's larger id,
      // survivors pack, the m1 corpus totals ride every row
      s"""WITH $m5PairCtes,
         |dups AS (SELECT DISTINCT id_b AS doc_id FROM m5pairs),
         |kept AS (
         |  SELECT d.* FROM documents d
         |  LEFT JOIN dups u ON u.doc_id = d.doc_id
         |  WHERE u.doc_id IS NULL),
         |jstats AS (
         |  SELECT (SELECT count(*) FROM documents) AS n_media,
         |    (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)
         |      AS media_bytes,
         |    (SELECT count(*) FROM dups) AS n_dropped),
         |${interleavePackCtes("kept", "m6")}
         |SELECT p.source, p.seq_id, p.n_docs, p.text_tokens, p.n_images,
         |  p.total_tokens, s.n_media, s.media_bytes, s.n_dropped
         |FROM packed p, jstats s""".stripMargin,
    "p9_incremental_ingest" ->
      // the journey end to end: d56's anti-join gate, d24's rule chain
      // on the fresh survivors, then the shared d55 sentencize+chunk
      // block rooted on the kept docs
      s"""WITH h AS (
         |  SELECT DISTINCT md5(text) AS dg FROM documents
         |  WHERE doc_id % 3 <> 0 AND text IS NOT NULL),
         |b AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents
         |  WHERE doc_id % 5 = 0),
         |fresh AS (
         |  SELECT b.doc_id, b.text FROM b
         |  LEFT JOIN h ON h.dg = md5(b.text) WHERE h.dg IS NULL),
         |ftk AS (
         |  SELECT doc_id, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS tk
         |  FROM fresh),
         |fm AS (
         |  SELECT doc_id,
         |    len(tk) AS n_tokens,
         |    CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
         |      / len(tk) AS avg_len,
         |    CAST(len(list_filter(tk,
         |        x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
         |      / len(tk) AS stop_r,
         |    CAST(length(text)
         |         - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
         |         AS DOUBLE) / length(text) AS punct_r,
         |    1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS dup_r
         |  FROM ftk),
         |fr AS (
         |  SELECT doc_id,
         |    CASE WHEN n_tokens < 5 THEN 'too_short'
         |         WHEN avg_len > 12.0 THEN 'long_tokens'
         |         WHEN stop_r < 0.01 THEN 'low_stopword'
         |         WHEN punct_r > 0.2 THEN 'high_punct'
         |         WHEN dup_r > 0.6 THEN 'repetitive'
         |         ELSE 'ok' END AS reason
         |  FROM fm),
         |kept AS (
         |  SELECT f.doc_id, f.text FROM fresh f
         |  JOIN fr ON fr.doc_id = f.doc_id WHERE fr.reason = 'ok'),
         |${sentencizeChunkCtes("kept")}$chunkFinalSql""".stripMargin,
    "d56_bloom_ingest" ->
      // the exact anti-join the bloom split must structurally equal
      """WITH h AS (
        |  SELECT DISTINCT md5(text) AS dg FROM documents
        |  WHERE doc_id % 3 <> 0 AND text IS NOT NULL),
        |b AS (
        |  SELECT doc_id, md5(text) AS dg FROM documents
        |  WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, md5(text) FROM documents
        |  WHERE doc_id % 5 = 0)
        |SELECT b.doc_id, b.dg FROM b
        |LEFT JOIN h ON h.dg = b.dg
        |WHERE h.dg IS NULL""".stripMargin,
    "d55_chunk_structured" ->
      // the sentencized fixture (16-bit md5(doc:i:d55) % 4 = 0 flags a
      // period), then the chunker replayed: segments, per-segment token
      // counts, the cumulative-offset budget cut at 48, and the
      // 1-segment overlap prefix — every chunk string regenerated.
      // Chain shared with the p9 journey oracle (sentencizeChunkCtes)
      // so the two locks cannot drift.
      ("WITH " + sentencizeChunkCtes("documents") + chunkFinalSql),
    "d57_url_dedup" ->
      // the messy-URL fixture rebuilt bit for bit from the same 20-bit
      // md5(doc:d57) draw, then the FULL canonicalizer replayed in SQL:
      // fragment strip, scheme/host lowercase, :443 default-port drop,
      // trailing-slash strip, tracking-param removal (starts_with, so
      // no LIKE-wildcard surprises), surviving params sorted and
      // rejoined — then the same dedup aggregate
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CAST(concat('0x',
        |      substr(md5(concat(CAST(doc_id AS VARCHAR), ':d57')), 1, 5))
        |      AS BIGINT) AS hv
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, concat(
        |    CASE WHEN (hv >> 0) & 1 = 1 THEN 'HTTPS' ELSE 'https' END,
        |    '://',
        |    CASE WHEN (hv >> 1) & 1 = 1 THEN upper(source) ELSE source END,
        |    '.Example.COM',
        |    CASE WHEN (hv >> 2) & 1 = 1 THEN ':443' ELSE '' END,
        |    '/docs/', CAST(doc_id % 100 AS VARCHAR),
        |    CASE WHEN (hv >> 3) & 1 = 1 THEN '/' ELSE '' END,
        |    '?',
        |    CASE WHEN (hv >> 6) & 1 = 1 THEN concat(
        |        CASE WHEN (hv >> 4) & 1 = 1 THEN 'utm_source=feed&' ELSE '' END,
        |        CASE WHEN (hv >> 5) & 1 = 1 THEN 'ref=home&' ELSE '' END,
        |        'id=', CAST(doc_id % 50 AS VARCHAR))
        |      ELSE concat('id=', CAST(doc_id % 50 AS VARCHAR),
        |        CASE WHEN (hv >> 4) & 1 = 1 THEN '&utm_source=feed' ELSE '' END,
        |        CASE WHEN (hv >> 5) & 1 = 1 THEN '&ref=home' ELSE '' END)
        |    END,
        |    CASE WHEN (hv >> 7) & 1 = 1 THEN '#sec' ELSE '' END) AS url
        |  FROM h),
        |p AS (
        |  SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u),
        |x AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(nf,
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(nf,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1)) AS hostport,
        |    regexp_extract(nf,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+([^?]*)', 1) AS rawpath,
        |    CASE WHEN contains(nf, '?')
        |      THEN regexp_extract(nf, '\?(.*)$', 1) ELSE '' END AS rawq
        |  FROM p),
        |n AS (
        |  SELECT doc_id, scheme,
        |    CASE
        |      WHEN scheme = 'https' AND suffix(hostport, ':443')
        |        THEN regexp_replace(hostport, ':443$', '')
        |      WHEN scheme = 'http' AND suffix(hostport, ':80')
        |        THEN regexp_replace(hostport, ':80$', '')
        |      ELSE hostport END AS host,
        |    CASE WHEN length(rawpath) > 1 AND suffix(rawpath, '/')
        |      THEN regexp_replace(rawpath, '/$', '') ELSE rawpath END AS path,
        |    array_to_string(list_sort(list_filter(str_split(rawq, '&'),
        |      q -> NOT (starts_with(q, 'utm_') OR starts_with(q, 'ref=')
        |        OR starts_with(q, 'fbclid=') OR starts_with(q, 'gclid=')
        |        OR q = ''))), '&') AS q
        |  FROM x),
        |canon AS (
        |  SELECT doc_id, concat(scheme, '://', host, path,
        |    CASE WHEN length(q) > 0 THEN concat('?', q) ELSE '' END)
        |    AS canonical_url
        |  FROM n)
        |SELECT canonical_url,
        |  regexp_extract(canonical_url,
        |    '^[a-z][a-z0-9+.-]*://([^/?]+)', 1) AS host,
        |  count(*) AS n_dups, min(doc_id) AS keep_doc_id
        |FROM canon GROUP BY 1, 2""".stripMargin,
    "d17_boilerplate" ->
      // same md5-digest 3-gram stream, df computed over distinct
      // (doc, gram) pairs, boilerplate = df >= 5; keep uses the
      // UNROUNDED ratio exactly as the Spark side does
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(
        |      range(greatest(len(tk) - 2, 1)),
        |      i -> md5(array_to_string(tk[i+1:i+3], ' '))))) AS g
        |  FROM tk),
        |boiler AS (SELECT g FROM pairs GROUP BY g HAVING count(*) >= 5),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN g IN (SELECT g FROM boiler) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_boiler
        |  FROM pairs GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_boiler,
        |  round(CAST(n_boiler AS DOUBLE) / n_grams, 6) AS boiler_ratio,
        |  CASE WHEN CAST(n_boiler AS DOUBLE) / n_grams <= 0.5
        |    THEN 1 ELSE 0 END AS keep
        |FROM agg""".stripMargin,
    "d18_decontaminate" ->
      // portable 60-bit 4-gram digests; benchmark slice = doc_id%50=0;
      // every per-doc overlap count recomputed from scratch
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(greatest(len(tk) - 3, 1)),
        |      i -> CAST(concat('0x',
        |        substr(md5(array_to_string(tk[i+1:i+4], ' ')), 1, 15))
        |        AS BIGINT))) AS sh
        |  FROM tk),
        |bench AS (
        |  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0),
        |corpus AS (
        |  SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 <> 0),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN g IN (SELECT g FROM bench) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_overlap
        |  FROM corpus GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_overlap,
        |  CASE WHEN n_overlap > 0 THEN 1 ELSE 0 END AS contaminated
        |FROM agg""".stripMargin,
    "d31_contamination_report" ->
      // d18's digest machinery with the roles flipped: per benchmark
      // item, hits against the CORPUS-side distinct gram set
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(greatest(len(tk) - 3, 1)),
        |      i -> CAST(concat('0x',
        |        substr(md5(array_to_string(tk[i+1:i+4], ' ')), 1, 15))
        |        AS BIGINT))) AS sh
        |  FROM tk),
        |corp AS (
        |  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 <> 0),
        |bench AS (
        |  SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN g IN (SELECT g FROM corp) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_hit
        |  FROM bench GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_hit,
        |  round(CAST(n_hit AS DOUBLE) / n_grams, 9) AS contam_frac_r
        |FROM agg""".stripMargin,
    "d19_pack_sequences" ->
      // per-source cumulative token offsets cut into 512-token
      // sequences; window frame and ordering identical to the Spark
      // window spec
      """WITH n AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
        |      AS start_offset
        |  FROM n)
        |SELECT doc_id, source, n_tokens,
        |  CAST(start_offset AS BIGINT) AS start_offset,
        |  CAST(floor(start_offset / 512.0) AS BIGINT) AS seq_id,
        |  CAST(start_offset % 512 AS BIGINT) AS seq_offset
        |FROM o""".stripMargin,
    "d20_pack_pieces" ->
      // same cumulative-offset window at budget 64, then every covered
      // sequence generates a piece: token range [piece_start+1,
      // piece_start+piece_len] of the doc (1-based inclusive in both
      // dialects), piece_text regenerated verbatim
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, tk,
        |    CAST(len(tk) AS BIGINT) AS n_tokens,
        |    CAST(sum(CAST(len(tk) AS BIGINT))
        |      OVER (PARTITION BY source ORDER BY doc_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - len(tk) AS BIGINT) AS start_offset
        |  FROM tk),
        |x AS (
        |  SELECT doc_id, source, tk, n_tokens, start_offset,
        |    CAST(floor(start_offset / 64.0) AS BIGINT) AS first_seq,
        |    CAST(floor((start_offset + n_tokens - 1) / 64.0) AS BIGINT)
        |      AS last_seq
        |  FROM o),
        |e AS (
        |  SELECT doc_id, source, tk, n_tokens, start_offset, first_seq,
        |    CAST(t.s AS BIGINT) AS seq_id
        |  FROM x, unnest(range(x.first_seq, x.last_seq + 1)) AS t(s)),
        |p AS (
        |  SELECT doc_id, source, seq_id,
        |    seq_id - first_seq AS piece_no,
        |    greatest(seq_id * 64 - start_offset, 0) AS piece_start,
        |    least((seq_id + 1) * 64 - start_offset, n_tokens)
        |      - greatest(seq_id * 64 - start_offset, 0) AS piece_len,
        |    greatest(start_offset - seq_id * 64, 0) AS seq_offset,
        |    tk
        |  FROM e)
        |SELECT doc_id, source, seq_id, piece_no, piece_start, piece_len,
        |  seq_offset,
        |  array_to_string(
        |    tk[CAST(piece_start + 1 AS INTEGER)
        |       : CAST(piece_start + piece_len AS INTEGER)], ' ')
        |    AS piece_text
        |FROM p""".stripMargin,
    // identity oracles: the round-trip must reproduce the table exactly
    "io1_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "io2_csv_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "io5_orc_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q25_grouping_sets" ->
      // same asymmetric set list; gid packed exactly like q19's cube
      // bitmask (status bit 1, priority bit 0)
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  CAST(2 * grouping(o_orderstatus) + grouping(o_orderpriority)
        |       AS BIGINT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS (
        |  (o_orderstatus, o_orderpriority), (o_orderstatus), ())""".stripMargin,
    "q26_range_frame" ->
      // identical micros-epoch RANGE frame; identical-ts peers in-frame
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_1h,
        |  round(sum(value) OVER w, 2) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    // the bucketed layout must reproduce the plain join-agg exactly —
    // the layout changes the PLAN (zero exchanges), never the answer
    "io3_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,
    "d21_mixture" ->
      // identical 20-bit md5 draw and CASE thresholds; kept compares the
      // draw against ratio·2^20 exactly as the Spark column does
      """SELECT doc_id, source,
        |  CAST(concat('0x',
        |    substr(md5(concat(CAST(doc_id AS VARCHAR), ':', 'mix-v1')), 1, 5))
        |    AS BIGINT) AS mix_bucket,
        |  CASE WHEN CAST(concat('0x',
        |      substr(md5(concat(CAST(doc_id AS VARCHAR), ':', 'mix-v1')), 1, 5))
        |      AS BIGINT)
        |    < (CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.5
        |        WHEN 'src2' THEN 0.75 ELSE 1.0 END) * 1048576
        |    THEN 1 ELSE 0 END AS kept
        |FROM documents""".stripMargin,
    "d22_training_order" ->
      // same md5 shard draw and (hash, id) in-shard order
      """WITH h AS (
        |  SELECT doc_id,
        |    md5(concat('order-v1', ':', CAST(doc_id AS VARCHAR))) AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, h,
        |    CAST(concat('0x', substr(h, 1, 8)) AS BIGINT) % 8 AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY h ASC, doc_id ASC) AS BIGINT) AS pos
        |FROM s""".stripMargin,
    "d30_token_budget" ->
      // same md5 within-source order, same inclusive cumulative token
      // sum and boundary-crossing keep rule (prev cum < budget)
      """WITH tb AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    md5(concat('tokbudget-v1', ':', CAST(doc_id AS VARCHAR))) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY h ASC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tb)
        |SELECT doc_id, source, n_tokens,
        |  CAST(cum AS BIGINT) AS cum_tokens,
        |  CASE WHEN cum - n_tokens < 500 THEN 1 ELSE 0 END AS kept
        |FROM c""".stripMargin,
    "d23_lm_score" ->
      // same corpus-trained add-one bigram LM: unigram/bigram counts and
      // V from the full token stream, pairs (tk[i], tk[i+1]), score =
      // mean ln((cb+1)/(cu+V)); docs with < 2 tokens have no bigrams
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |tok AS (SELECT unnest(tk) AS t FROM tk),
        |uni AS (SELECT t, count(*) AS cu FROM tok GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS v FROM tok),
        |ix AS (
        |  SELECT doc_id, tk, unnest(range(len(tk) - 1)) AS i
        |  FROM tk WHERE len(tk) >= 2),
        |pr AS (
        |  SELECT doc_id,
        |    tk[CAST(i AS INTEGER) + 1] AS t1,
        |    tk[CAST(i AS INTEGER) + 2] AS t2
        |  FROM ix),
        |bi AS (SELECT t1, t2, count(*) AS cb FROM pr GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(ln((cb + 1) / (cu + (SELECT v FROM vv)))), 6)
        |    AS lm_score
        |FROM pr JOIN bi USING (t1, t2) JOIN uni ON pr.t1 = uni.t
        |GROUP BY 1""".stripMargin,
    "e5_knn_batch" -> knnBatchExactSql,
    // e9 is e5's computation through the bounded top-k aggregate — same
    // oracle; a hash-match certifies window ≡ aggregate at the gate
    "e9_knn_topk_agg" -> knnBatchExactSql,
    "e8_quantize" ->
      // identical affine mapping and floor bucketing; (val-mn)/(mx-mn)*255
      // associates the same way in both engines, so codes match exactly
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (
        |  SELECT vec_id, CAST(t.i AS BIGINT) AS d,
        |         v[CAST(t.i AS INTEGER) + 1] AS val
        |  FROM e, unnest(range(len(v))) AS t(i)),
        |st AS (SELECT d, min(val) AS mn, max(val) AS mx FROM x GROUP BY d)
        |SELECT x.vec_id, x.d,
        |  CAST(CASE WHEN st.mx = st.mn THEN 0
        |       ELSE least(255.0, greatest(0.0,
        |              floor((x.val - st.mn) / (st.mx - st.mn) * 255)))
        |       END AS INTEGER) AS code
        |FROM x JOIN st USING (d)""".stripMargin,
    // e7 runs the disk-index probe at nProbe = nList, which is exactly
    // the e5 computation routed through write→read→pruned-probe — same
    // oracle, so the round-trip itself is hash-checked
    "e7_knn_ivf_disk" -> knnBatchExactSql,
    // e13 probes every list of the build-then-append layout — exact at
    // nProbe = nList, so the append path reproduces e5's ground truth
    "e13_knn_ivf_append" -> knnBatchExactSql,
    "e27_ivf_delete" ->
      // exact kNN over the SURVIVORS (odd ids deleted): the whole
      // delete → reopen → probe round-trip must reproduce it
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
        |p AS (
        |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
        |  FROM base WHERE vec_id IN (0, 2, 4, 6, 8)),
        |r AS (
        |  SELECT p.probe_id, e.vec_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 6)
        |      AS cos_sim
        |  FROM base e, p WHERE e.vec_id <> p.probe_id),
        |rk AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY probe_id
        |                       ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM r)
        |SELECT probe_id, vec_id, cos_sim FROM rk WHERE rn <= 10""".stripMargin,
    "p11_index_lifecycle" ->
      // exact kNN over the lifecycle's survivors (vec_id % 3 ≠ 0):
      // build → append → delete → rebalance → probe must reproduce it
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 <> 0),
        |p AS (
        |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
        |  FROM base WHERE vec_id IN (1, 2, 4, 5, 7)),
        |r AS (
        |  SELECT p.probe_id, e.vec_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 6)
        |      AS cos_sim
        |  FROM base e, p WHERE e.vec_id <> p.probe_id),
        |rk AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY probe_id
        |                       ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM r)
        |SELECT probe_id, vec_id, cos_sim FROM rk WHERE rn <= 10""".stripMargin,
    "p15_incremental_index" ->
      // exact kNN over the incremental journey's survivors (appends
      // landed, %7 deletes applied): the feed-driven refresh must
      // reproduce it byte for byte
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 0),
        |p AS (
        |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
        |  FROM base WHERE vec_id IN (1, 2, 3, 4, 5)),
        |r AS (
        |  SELECT p.probe_id, e.vec_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 6)
        |      AS cos_sim
        |  FROM base e, p WHERE e.vec_id <> p.probe_id),
        |rk AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY probe_id
        |                       ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM r)
        |SELECT probe_id, vec_id, cos_sim FROM rk WHERE rn <= 10""".stripMargin,
    "p16_incremental_gold" ->
      // incremental ≡ recompute: the from-scratch final state, with
      // feed_rows = 2·|updates| + |inserts| pinning the delta size the
      // incremental hop actually read
      """WITH thr AS (SELECT max(doc_id) // 2 AS t FROM documents),
        |final AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 6 = 0 AND doc_id <= t
        |         THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM documents, thr WHERE doc_id % 3 < 2
        |  UNION ALL
        |  SELECT doc_id + 1000000000, lang, n_chars
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT
        |    2 * (SELECT count(*) FROM documents, thr
        |         WHERE doc_id % 6 = 0 AND doc_id <= t)
        |    + (SELECT count(*) FROM documents WHERE doc_id % 3 = 2)
        |      AS n)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  (SELECT n FROM fr) AS feed_rows
        |FROM final GROUP BY lang""".stripMargin,
    "e28_ivf_rebalance" ->
      // exact kNN over the full corpus: the rebalance must be invisible
      // at nProbe = nList — same e5-shaped ground truth as e27's
      """WITH p AS (
        |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
        |  FROM embeddings WHERE vec_id IN (1, 3, 5, 7, 9)),
        |r AS (
        |  SELECT p.probe_id, e.vec_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 6)
        |      AS cos_sim
        |  FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
        |rk AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY probe_id
        |                       ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM r)
        |SELECT probe_id, vec_id, cos_sim FROM rk WHERE rn <= 10""".stripMargin,
    "q22_array_funcs" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(l) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct,
        |  array_to_string(list_sort(list_distinct(l))[1:3], ',') AS first3,
        |  list_sort(l)[-1] AS top_token
        |FROM t""".stripMargin,
    "g16_triangles" ->
      s"""WITH ${portableGraphSql(300, 1500, "g16")},
         |ue AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |       FROM pe WHERE src <> dst),
         |verts AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM pe UNION ALL SELECT dst FROM pe)),
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM ue e1
         |  JOIN ue e2 ON e1.v = e2.u
         |  JOIN ue e3 ON e3.u = e1.u AND e3.v = e2.v),
         |pv AS (SELECT id, count(*) AS n FROM
         |  (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
         |   UNION ALL SELECT c FROM tri) GROUP BY 1)
         |SELECT v.id, CAST(coalesce(pv.n, 0) AS BIGINT) AS n_triangles
         |FROM verts v LEFT JOIN pv USING (id)""".stripMargin,
    "g10_trace_k4" -> {
      val rows = (1 to 4).map { i =>
        s"""SELECT $i AS iteration,
           |  round((SELECT ds FROM d$i), 7) AS dangling_sum,
           |  round((SELECT sum(abs(a.rank - b.rank))
           |         FROM r$i a JOIN r${i - 1} b USING (id))
           |        / (SELECT n FROM nn), 7) AS avg_diff,
           |  round((SELECT sum(rank) FROM r$i), 7) AS total_pr""".stripMargin
      }.mkString("\nUNION ALL\n")
      // k=5 so the chain defines d4 (dangling of r4); the extra r5 CTE is
      // never referenced and is skipped by DuckDB's optimizer
      pageRankSql(5, rows)
    },
    "g7_top50" -> pageRankSql(
      4,
      "SELECT id, round(rank, 9) AS rank_r FROM r4 " +
        "ORDER BY rank_r DESC, id ASC LIMIT 50"),
    "g8_degree_histogram" ->
      s"WITH $graphCtes SELECT outdeg, count(*) AS n_nodes FROM deg GROUP BY 1",
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_top_customers" ->
      """SELECT c_custkey, c_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 10""".stripMargin,
    "q3_order_ranks" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "q4_setops" ->
      """SELECT
        |  (SELECT count(*) FROM (SELECT c_nationkey AS nk FROM customer
        |     UNION SELECT s_nationkey FROM supplier)) AS n_union,
        |  (SELECT count(*) FROM (SELECT DISTINCT c_nationkey AS nk FROM customer
        |     INTERSECT SELECT DISTINCT s_nationkey FROM supplier)) AS n_intersect,
        |  (SELECT count(*) FROM (SELECT DISTINCT c_nationkey AS nk FROM customer
        |     EXCEPT SELECT DISTINCT s_nationkey FROM supplier)) AS n_cust_only""".stripMargin,
    "q5_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice * (1 - l_discount), 4) AS net_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_quantity > 25""".stripMargin,
    "q6_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q7_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_str,
        |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q8_customers_no_orders" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,
    "q10_date_agg" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q11_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS uname,
        |  substring(p_brand, 7, 10) AS brand_no,
        |  concat_ws('/', p_type, p_brand) AS type_brand,
        |  length(p_name) AS name_len
        |FROM part
        |WHERE p_name LIKE '%red%' OR p_type = 'ECONOMY'""".stripMargin,
    "q12_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,
    "q13_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q9_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k,
        |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin,
    "d1_dedup_groups" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "d2_token_stats" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))
        |    AS n_tokens_bpe,
        |  n_chars
        |FROM documents""".stripMargin,
    "d3_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, n_chars, text,
        |    regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  len(tk) AS n_tokens,
        |  round(CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
        |        / len(tk), 6) AS avg_token_len,
        |  round(CAST(len(list_filter(tk,
        |      x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |        / len(tk), 6) AS stopword_ratio,
        |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |    AS n_punct
        |FROM toks""".stripMargin,
    "d24_filter_gate" ->
      // identical rule chain and thresholds; every metric is the same
      // integer-ratio double in both engines, so the CASE boundaries
      // cannot disagree
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(tk) AS n_tokens,
        |    CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
        |      / len(tk) AS avg_len,
        |    CAST(len(list_filter(tk,
        |        x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |      / len(tk) AS stop_r,
        |    CAST(length(text)
        |         - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |         AS DOUBLE) / length(text) AS punct_r,
        |    1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS dup_r
        |  FROM toks),
        |r AS (
        |  SELECT doc_id,
        |    CASE WHEN n_tokens < 5 THEN 'too_short'
        |         WHEN avg_len > 12.0 THEN 'long_tokens'
        |         WHEN stop_r < 0.01 THEN 'low_stopword'
        |         WHEN punct_r > 0.2 THEN 'high_punct'
        |         WHEN dup_r > 0.6 THEN 'repetitive'
        |         ELSE 'ok' END AS reason
        |  FROM m)
        |SELECT doc_id, reason = 'ok' AS keep, reason FROM r""".stripMargin,
    "d25_heavy_hitters" ->
      // the sketch-free ground truth: full token aggregate + HAVING at
      // the same ceil(frac·N) threshold — the two-pass MG result must
      // equal it exactly
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM tok)
        |SELECT token, count(*) AS cnt
        |FROM tok GROUP BY 1
        |HAVING count(*) >= CAST(ceil(0.01 * (SELECT n FROM n)) AS BIGINT)""".stripMargin,
    "d28_source_overlap" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |f AS (
        |  SELECT source,
        |    list_min(list_transform(range(greatest(len(tk) - 2, 1)),
        |      i -> md5(array_to_string(tk[i+1:i+3], ' ')))) AS fp
        |  FROM tk),
        |h AS (
        |  SELECT fp, list_sort(list_distinct(list(source))) AS srcs
        |  FROM f GROUP BY 1),
        |p AS (
        |  SELECT a.sa AS src_a, b.sb AS src_b FROM
        |    (SELECT fp, unnest(srcs) AS sa FROM h) a
        |  JOIN (SELECT fp, unnest(srcs) AS sb FROM h) b USING (fp)
        |  WHERE a.sa < b.sb)
        |SELECT src_a, src_b, count(*) AS n_shared_fingerprints
        |FROM p GROUP BY 1, 2""".stripMargin,
    "g29_assortativity" ->
      s"""WITH edges AS MATERIALIZED (${EdgeListReader.fromOrdersSql}),
         |od AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY 1),
         |id_ AS (SELECT dst AS id, count(*) AS indeg FROM edges GROUP BY 1),
         |j AS (
         |  SELECT o.outdeg AS x, i.indeg AS y
         |  FROM edges e JOIN od o ON e.src = o.id
         |  JOIN id_ i ON e.dst = i.id),
         |ss AS (
         |  SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
         |    sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
         |  FROM j)
         |SELECT m,
         |  round(CAST(m*sxy - sx*sy AS DOUBLE) /
         |        (sqrt(CAST(m*sxx - sx*sx AS DOUBLE)) *
         |         sqrt(CAST(m*syy - sy*sy AS DOUBLE))), 9) AS assortativity
         |FROM ss""".stripMargin,
    "p2_entity_resolution" ->
      // d5c's banding chain → d5b's shingle-Jaccard verify → d9's
      // recursive-CTE components, end to end
      s"""WITH RECURSIVE $entityGroupCtes
        |SELECT id AS doc_id, min(m) AS group_id FROM r GROUP BY 1""".stripMargin,
    "m8_video_neardup" ->
      // same fixture draws, same df cap, same blocked join and
      // shared-count cut
      """WITH v AS (
        |  SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 2),
        |fr AS (
        |  SELECT media_id, CAST(t.s AS BIGINT) AS frame_no,
        |    substr(md5(concat(
        |      CAST(CASE WHEN t.s < 6 THEN media_id - media_id % 15
        |                ELSE media_id END AS VARCHAR),
        |      ':', CAST(t.s AS VARCHAR), ':m8')), 1, 10) AS fp
        |  FROM v, unnest(range(8)) AS t(s)),
        |d AS (SELECT DISTINCT media_id, fp FROM fr),
        |keep AS (SELECT fp FROM d GROUP BY fp HAVING count(*) <= 50),
        |dk AS (SELECT d.media_id, d.fp FROM d JOIN keep USING (fp)),
        |p AS (
        |  SELECT a.media_id AS id_a, b.media_id AS id_b,
        |    count(*) AS n_shared
        |  FROM dk a JOIN dk b ON a.fp = b.fp AND a.media_id < b.media_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 5""".stripMargin,
    "m9_audio_neardup" ->
      // same energy draws (the m7 seam with group-shared track
      // frames), same 4-frame shingles, same df cap, same blocked
      // join and shared-count cut
      """WITH a AS (
        |  SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 1),
        |f AS (
        |  SELECT media_id, CAST(t.s AS BIGINT) AS frame
        |  FROM a, unnest(range(12)) AS t(s)),
        |e AS (
        |  SELECT media_id, frame,
        |    CAST(concat('0x', substr(md5(concat(
        |      CAST(CASE WHEN frame < 9 THEN media_id - media_id % 15
        |                ELSE media_id END AS VARCHAR),
        |      ':', CAST(frame AS VARCHAR), ':m9')), 1, 2)) AS BIGINT)
        |      AS energy
        |  FROM f),
        |s AS (
        |  SELECT media_id, frame,
        |    concat_ws(',', CAST(energy AS VARCHAR),
        |      CAST(lead(energy, 1) OVER w AS VARCHAR),
        |      CAST(lead(energy, 2) OVER w AS VARCHAR),
        |      CAST(lead(energy, 3) OVER w AS VARCHAR)) AS es,
        |    lead(energy, 3) OVER w AS e3
        |  FROM e WINDOW w AS (PARTITION BY media_id ORDER BY frame)),
        |fp AS (
        |  SELECT media_id, substr(md5(es), 1, 10) AS fp
        |  FROM s WHERE e3 IS NOT NULL),
        |d AS (SELECT DISTINCT media_id, fp FROM fp),
        |keep AS (SELECT fp FROM d GROUP BY fp HAVING count(*) <= 50),
        |dk AS (SELECT d.media_id, d.fp FROM d JOIN keep USING (fp)),
        |p AS (
        |  SELECT a.media_id AS id_a, b.media_id AS id_b,
        |    count(*) AS n_shared
        |  FROM dk a JOIN dk b ON a.fp = b.fp AND a.media_id < b.media_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 5""".stripMargin,
    "m5_perceptual_neardup" ->
      // every signature bit regenerated from the text bytes (ASCII
      // fixture: codepoints ≡ payload bytes, the m2 caveat), then the
      // same banded candidate set and popcount cut
      s"""WITH $m5PairCtes
        |SELECT id_a, id_b, ham FROM m5pairs""".stripMargin,
    "d35_bpe_merges" -> bpeSql(3),
    "d54_bpe_encode" -> bpeEncodeSql(3),
    "d37_containment" ->
      // the banding chain regenerates the candidates, then every
      // containment/Jaccard score recomputed off the same intersection
      s"""WITH $bandingCtes
        |SELECT c.id_a, c.id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(a.sh), 6) AS cont_a,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(b.sh), 6) AS cont_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        |FROM cand c
        |JOIN sh a ON a.doc_id = c.id_a
        |JOIN sh b ON b.doc_id = c.id_b
        |WHERE greatest(
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / len(a.sh), 6),
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / len(b.sh), 6)) >= 0.5""".stripMargin,
    "d36_profile" ->
      // same per-column metric family; string casts of integers render
      // identically cross-engine
      Seq("doc_id", "text", "lang", "source", "n_chars").map(c =>
        s"""SELECT '$c' AS col_name,
           |  (SELECT count(*) FROM documents) AS n_rows,
           |  count($c) AS n_nonnull,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_s,
           |  CAST(max($c) AS VARCHAR) AS max_s
           |FROM documents""".stripMargin)
        .mkString("\nUNION ALL\n"),
    "io7_compaction" ->
      // compaction changes the LAYOUT, never the content
      """SELECT event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "io9_zorder_skip" ->
      // unclustered ground truth with the same two predicates; min/max
      // of both filter columns pin the rectangle's edges exactly
      """SELECT event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value,
        |  min(user_id) AS min_u, max(user_id) AS max_u,
        |  CAST(min(day(ts)) AS INT) AS min_d,
        |  CAST(max(day(ts)) AS INT) AS max_d
        |FROM events
        |WHERE user_id BETWEEN 3 AND 7 AND day(ts) BETWEEN 4 AND 9
        |GROUP BY 1""".stripMargin,
    "io10_nested_pushdown" ->
      // the FLAT ground truth: the nested round-trip + pruned scan
      // must reproduce it exactly
      """SELECT user_id, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id""".stripMargin,
    "io11_deletion_vectors" ->
      // both 20-bit md5 delete draws replayed (mod 8 and mod 11,
      // overlapping — the union dedups), then the same filtered
      // aggregate over the anti-joined survivors
      """WITH del AS (
        |  SELECT doc_id FROM documents
        |  WHERE CAST(concat('0x',
        |    substr(md5(concat(CAST(doc_id AS VARCHAR), ':dv1')), 1, 5))
        |    AS BIGINT) % 8 = 0
        |  UNION
        |  SELECT doc_id FROM documents
        |  WHERE CAST(concat('0x',
        |    substr(md5(concat(CAST(doc_id AS VARCHAR), ':dv2')), 1, 5))
        |    AS BIGINT) % 11 = 0)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE lang = 'en' AND doc_id NOT IN (SELECT doc_id FROM del)
        |GROUP BY source""".stripMargin,
    "io13_dv_fold_compact" ->
      // the folded view must equal the pre-fold MoR view (same draws,
      // same anti-join); dv_rows = 0 hash-locks the emptied sidecar
      """WITH del AS (
        |  SELECT doc_id FROM documents
        |  WHERE CAST(concat('0x',
        |    substr(md5(concat(CAST(doc_id AS VARCHAR), ':dv1')), 1, 5))
        |    AS BIGINT) % 8 = 0
        |  UNION
        |  SELECT doc_id FROM documents
        |  WHERE CAST(concat('0x',
        |    substr(md5(concat(CAST(doc_id AS VARCHAR), ':dv2')), 1, 5))
        |    AS BIGINT) % 11 = 0)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(0 AS BIGINT) AS dv_rows
        |FROM documents
        |WHERE lang = 'en' AND doc_id NOT IN (SELECT doc_id FROM del)
        |GROUP BY source""".stripMargin,
    "io12_time_travel" ->
      // VERSION AS OF 2 = the first two mod-3 batches; version 3's
      // rows (doc_id % 3 = 2) must be invisible
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 3 <= 1
        |GROUP BY lang""".stripMargin,
    "q51_expectations" ->
      // the same six constraints replayed: conditional sums, surplus
      // rows vs distinct keys, and the anti-join orphan count
      """SELECT check_name, n_violations, n_violations = 0 AS pass
        |FROM (
        |SELECT 'qty_range' AS check_name,
        |  CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1
        |                  OR l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violations
        |FROM lineitem
        |UNION ALL
        |SELECT 'discount_max',
        |  CAST(sum(CASE WHEN l_discount IS NULL
        |                  OR l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'shipdate_notnull',
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'pk_order_line',
        |  count(*) - count(DISTINCT (l_orderkey, l_linenumber))
        |FROM lineitem
        |UNION ALL
        |SELECT 'uk_orderkey', count(*) - count(DISTINCT l_orderkey)
        |FROM lineitem
        |UNION ALL
        |SELECT 'fk_supp_mod7',
        |  (SELECT count(*) FROM lineitem l
        |   WHERE l.l_suppkey IS NOT NULL AND NOT EXISTS (
        |     SELECT 1 FROM supplier s
        |     WHERE s.s_suppkey = l.l_suppkey AND s.s_suppkey % 7 <> 0))
        |)""".stripMargin,
    "q51b_quarantine" ->
      // the first-failing-reason CASE chain on the two range checks
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
        |  CASE WHEN l_quantity IS NULL OR l_quantity < 1
        |         OR l_quantity > 45 THEN 'qty_range'
        |       WHEN l_discount IS NULL OR l_discount > 0.08
        |         THEN 'discount_max' END AS quarantine_reason
        |FROM lineitem
        |WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 45
        |   OR l_discount IS NULL OR l_discount > 0.08""".stripMargin,
    "io12b_snapshot_expire" ->
      // as-of-3 after expire(2) = checkpoint(v≤2) ∪ v3 = the full
      // table, byte-stable; manifest_rows = 2 locks the swap
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(2 AS BIGINT) AS manifest_rows
        |FROM documents GROUP BY lang""".stripMargin,
    "io12c_atomic_expire" ->
      // io12b through the atomic pointer: same byte-stable as-of-3
      // ground truth; manifest_rows = 2 locks the published
      // generation, n_gens = 1 locks the sweep of superseded and
      // crash-stranded generations
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(2 AS BIGINT) AS manifest_rows,
        |  CAST(1 AS BIGINT) AS n_gens
        |FROM documents GROUP BY lang""".stripMargin,
    "io14_changes_since" ->
      // versions (1, 3] = the doc_id%3 ∈ {1, 2} batches; the past-head
      // poll returns zero rows with the schema intact
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(0 AS BIGINT) AS empty_poll_rows
        |FROM documents WHERE doc_id % 3 IN (1, 2)
        |GROUP BY lang""".stripMargin,
    "io15_merge_upsert" ->
      // SQL MERGE semantics replayed from the base table: matched rows
      // (doc_id%6=0 in the low half) replaced with the +1000 version,
      // the rest kept, %3=2 keys inserted at +1e9; untouched_batches=1
      // is construction-guaranteed (no source key can land in the high
      // batch's [kmin,kmax]) and path-identity is spec-locked
      """WITH thr AS (SELECT max(doc_id) // 2 AS t FROM documents),
        |final AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 6 = 0 AND doc_id <= t
        |         THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM documents, thr WHERE doc_id % 3 < 2
        |  UNION ALL
        |  SELECT doc_id + 1000000000, lang, n_chars
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS untouched_batches
        |FROM final GROUP BY lang""".stripMargin,
    "io16_stats_pruned_scan" ->
      // the oracle REPLAYS the pruning rule: per-batch min/max from the
      // same quartile split, kept = range-intersection count — the
      // planning decision itself is hash-locked, not a literal
      """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
        |b AS (SELECT least(3, (o_orderkey * 4) // (mx + 1)) AS batch,
        |        min(o_orderkey) AS kmin, max(o_orderkey) AS kmax
        |      FROM orders, m GROUP BY 1),
        |kept AS (SELECT count(*) AS n FROM b, m
        |         WHERE kmax >= 1 AND kmin <= mx // 4)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  (SELECT n FROM kept) AS batches_read
        |FROM orders, m WHERE o_orderkey BETWEEN 1 AND mx // 4
        |GROUP BY o_orderstatus""".stripMargin,
    "io17_compact_cluster" ->
      // the oracle replays the tertile split and the intersection rule
      // on both the pre-compact (mod-3) and post-compact (range)
      // layouts — the pruning improvement 3 → 1 is itself hash-locked
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
        |pre AS (SELECT doc_id % 3 AS b, min(doc_id) AS kmin,
        |               max(doc_id) AS kmax
        |        FROM documents GROUP BY 1),
        |nb AS (SELECT count(*) AS n FROM pre, m
        |       WHERE kmax >= mx // 3 AND kmin <= 2 * (mx // 3) - 1),
        |post AS (SELECT (CASE WHEN doc_id >= 2 * (mx // 3) THEN 2
        |                      WHEN doc_id >= mx // 3 THEN 1
        |                      ELSE 0 END) AS b,
        |                min(doc_id) AS kmin, max(doc_id) AS kmax
        |         FROM documents, m GROUP BY 1),
        |na AS (SELECT count(*) AS n FROM post, m
        |       WHERE kmax >= mx // 3 AND kmin <= 2 * (mx // 3) - 1),
        |nt AS (SELECT count(*) AS n FROM post)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  (SELECT n FROM nb) AS batches_before,
        |  (SELECT n FROM na) AS batches_after,
        |  (SELECT n FROM nt) AS batches_total
        |FROM documents, m
        |WHERE doc_id BETWEEN mx // 3 AND 2 * (mx // 3) - 1
        |GROUP BY lang""".stripMargin,
    "io18_cdc_apply" ->
      // CDC semantics replayed: %5=0 low-half rows deleted, %7=0
      // survivors restated at +55, %9=0 keys inserted at +1e9; the
      // high batch is untouched by construction
      """WITH thr AS (SELECT max(doc_id) // 2 AS t FROM documents),
        |final AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 0 AND doc_id % 5 <> 0
        |              AND doc_id <= t
        |         THEN n_chars + 55 ELSE n_chars END AS n_chars
        |  FROM documents, thr
        |  WHERE NOT (doc_id % 5 = 0 AND doc_id <= t)
        |  UNION ALL
        |  SELECT doc_id + 1000000000, lang, n_chars
        |  FROM documents WHERE doc_id % 9 = 0)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS untouched_batches
        |FROM final GROUP BY lang""".stripMargin,
    "io19_occ_merge" ->
      // both writers' updates survive the race (disjoint key classes);
      // the refused stale publish is locked as a count — a silent
      // lost-update would zero it AND corrupt the %3=2 sums
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 3 = 1 THEN n_chars + 7
        |                WHEN doc_id % 3 = 2 THEN n_chars + 3
        |                ELSE n_chars END) AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS conflicts_detected
        |FROM documents GROUP BY lang""".stripMargin,
    "p14_table_maintenance" ->
      // the survivor set replayed (CDC deletes, updates, retention
      // cut), then the post-compact bucket layout and its probe
      // intersection — the restored 1-of-2 pruning rides the hash
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
        |surv AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 5 = 0 THEN n_chars + 9
        |         ELSE n_chars END AS n_chars
        |  FROM documents, m
        |  WHERE doc_id % 10 <> 7 AND doc_id > mx // 5),
        |b AS (SELECT (doc_id >= mx // 2) AS hi, min(doc_id) AS kmin,
        |             max(doc_id) AS kmax
        |      FROM surv, m GROUP BY 1),
        |na AS (SELECT count(*) AS n FROM b, m WHERE kmax >= mx // 2),
        |nt AS (SELECT count(*) AS n FROM b)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  (SELECT n FROM na) AS batches_read,
        |  (SELECT n FROM nt) AS batches_total
        |FROM surv, m WHERE doc_id >= mx // 2 GROUP BY lang""".stripMargin,
    "io20_retention_delete" ->
      // the oracle replays the quartile split, the cut, and the
      // three-way classification (inside/straddling/disjoint) — the
      // metadata-only economics are hash-locked, not asserted
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
        |c AS (SELECT (3 * (mx + 1)) // 8 AS cut FROM m),
        |b AS (SELECT least(3, (doc_id * 4) // (mx + 1)) AS b,
        |        min(doc_id) AS kmin, max(doc_id) AS kmax
        |      FROM documents, m GROUP BY 1),
        |cls AS (SELECT
        |    count(*) FILTER (WHERE 0 <= kmin AND kmax <= cut)
        |      AS dropped,
        |    count(*) FILTER (WHERE kmax < 0 OR kmin > cut)
        |      AS untouched,
        |    count(*) FILTER (WHERE NOT (0 <= kmin AND kmax <= cut)
        |      AND NOT (kmax < 0 OR kmin > cut)) AS rewritten
        |  FROM b, c)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  (SELECT dropped FROM cls) AS dropped_metadata_only,
        |  (SELECT rewritten FROM cls) AS rewritten_batches,
        |  (SELECT untouched FROM cls) AS untouched_batches
        |FROM documents, c WHERE doc_id > cut GROUP BY lang""".stripMargin,
    "io21_schema_evolution" ->
      // merge semantics plus the evolved column: quality exists for
      // updated low-half %4 keys and inserted %3=2 keys, NULL
      // everywhere else (the old-schema batches' null-fill)
      """WITH thr AS (SELECT max(doc_id) // 2 AS t FROM documents),
        |final AS (
        |  SELECT doc_id, lang, n_chars,
        |    CASE WHEN doc_id % 4 = 0 AND doc_id <= t
        |         THEN round(n_chars / 1000.0, 3) END AS quality
        |  FROM documents, thr
        |  UNION ALL
        |  SELECT doc_id + 1000000000, lang, n_chars, 0.5
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  round(sum(quality), 3) AS sum_quality,
        |  count(quality) AS n_quality,
        |  CAST(1 AS BIGINT) AS untouched_batches
        |FROM final GROUP BY lang""".stripMargin,
    "io22_row_change_feed" ->
      // the net row-level diff of the io15-shaped merge replayed from
      // the base table: %6=0 low-half keys appear as update_pre (old
      // n_chars) + update_post (+1000), %3=2 keys as inserts at +1e9;
      // identically-rewritten neighbors never appear; carried_batches
      // = 1 locks the zero-work plan for the untouched high batch
      """WITH thr AS (SELECT max(doc_id) // 2 AS t FROM documents),
        |ch AS (
        |  SELECT 'update_pre' AS _change_type, lang, n_chars
        |  FROM documents, thr WHERE doc_id % 6 = 0 AND doc_id <= t
        |  UNION ALL
        |  SELECT 'update_post', lang, n_chars + 1000
        |  FROM documents, thr WHERE doc_id % 6 = 0 AND doc_id <= t
        |  UNION ALL
        |  SELECT 'insert', lang, n_chars
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT _change_type, lang, count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS carried_batches
        |FROM ch GROUP BY _change_type, lang""".stripMargin,
    "io24_multicol_stats" ->
      // the oracle replays the whole lifecycle from scratch: the z
      // layout (scaling, Morton, equal-z buckets) with per-bucket
      // ts_days bounds, the date-probe intersection BEFORE the merge,
      // the merge's candidate selection (buckets whose key range holds
      // an actual source key collapse into ONE rewrite whose ts_days
      // bounds are the touched∪source union — exactly unionSecStat),
      // the intersection AFTER, and the value-bumped final aggregate
      s"""WITH m AS (SELECT min(event_id) AS emin, max(event_id) AS emax,
         |    min(user_id) AS umin, max(user_id) AS umax FROM events),
         |d AS (SELECT event_id, user_id, event_type, value,
         |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
         |      AS ts_days
         |  FROM events),
         |dm AS (SELECT min(ts_days) AS dmin, max(ts_days) AS dmax FROM d),
         |probe AS (SELECT dmin AS dlo, dmin + (dmax - dmin) // 4 AS dhi
         |  FROM dm),
         |sxy AS (SELECT d.*,
         |    (event_id - emin) * 65535 // (emax - emin) AS sx,
         |    (user_id - umin) * 65535 // (umax - umin) AS sy
         |  FROM d, m),
         |zb AS (SELECT ((${zMortonSql("sx", "sy")}) * 4) // 4294967296
         |      AS b,
         |    min(event_id) AS k1, max(event_id) AS k2,
         |    min(ts_days) AS d1, max(ts_days) AS d2
         |  FROM sxy GROUP BY 1),
         |pre_read AS (SELECT count(*) AS n FROM zb, probe
         |  WHERE d2 >= dlo AND d1 <= dhi),
         |pre_total AS (SELECT count(*) AS n FROM zb),
         |srck AS (SELECT event_id, ts_days FROM d, m
         |  WHERE event_id <= emin + (emax - emin) // 8
         |    AND event_id % 7 = 0),
         |touched AS (SELECT b, d1, d2 FROM zb
         |  WHERE EXISTS (SELECT 1 FROM srck
         |                WHERE event_id BETWEEN k1 AND k2)),
         |untouched AS (SELECT * FROM zb
         |  WHERE b NOT IN (SELECT b FROM touched)),
         |rew AS (SELECT least(min(d1), (SELECT min(ts_days) FROM srck))
         |      AS rd1,
         |    greatest(max(d2), (SELECT max(ts_days) FROM srck)) AS rd2
         |  FROM touched),
         |post_total AS (SELECT (SELECT count(*) FROM untouched)
         |  + (SELECT CASE WHEN count(*) > 0 THEN 1 ELSE 0 END
         |     FROM touched) AS n),
         |post_read AS (SELECT
         |    (SELECT count(*) FROM untouched, probe
         |     WHERE d2 >= dlo AND d1 <= dhi)
         |  + (SELECT CASE WHEN (SELECT count(*) FROM touched) > 0
         |       AND (SELECT rd2 FROM rew) >= (SELECT dlo FROM probe)
         |       AND (SELECT rd1 FROM rew) <= (SELECT dhi FROM probe)
         |       THEN 1 ELSE 0 END) AS n),
         |fin AS (SELECT event_type,
         |    CASE WHEN event_id IN (SELECT event_id FROM srck)
         |         THEN value + 1.0 ELSE value END AS value
         |  FROM d, probe WHERE ts_days BETWEEN dlo AND dhi)
         |SELECT event_type, count(*) AS n_events,
         |  round(sum(value), 4) AS sum_value,
         |  (SELECT n FROM pre_read) AS pre_batches_read,
         |  (SELECT n FROM pre_total) AS pre_batches_total,
         |  (SELECT n FROM post_read) AS post_batches_read,
         |  (SELECT n FROM post_total) AS post_batches_total
         |FROM fin GROUP BY event_type""".stripMargin,
    "io23_zorder_compact" ->
      // the oracle replays BOTH layout decisions from scratch: the
      // 16-bit scaling, the Morton interleave, the equal-z-range
      // bucketing and per-bucket custkey bounds for the z table; the
      // quartile split for the lex table; then the same intersection
      // rule on the same probe — z reads fewer batches on the second
      // dimension and that asymmetry rides the hash
      s"""WITH m AS (SELECT min(o_orderkey) AS omin,
         |    max(o_orderkey) AS omax, min(o_custkey) AS cmin,
         |    max(o_custkey) AS cmax FROM orders),
         |probe AS (SELECT cmin AS lo, cmin + (cmax - cmin) // 4 AS hi
         |  FROM m),
         |sxy AS (SELECT o_custkey,
         |    (o_orderkey - omin) * 65535 // (omax - omin) AS sx,
         |    (o_custkey - cmin) * 65535 // (cmax - cmin) AS sy
         |  FROM orders, m),
         |zb AS (SELECT ((${zMortonSql("sx", "sy")}) * 4) // 4294967296
         |      AS b,
         |    min(o_custkey) AS c1, max(o_custkey) AS c2
         |  FROM sxy GROUP BY 1),
         |zk AS (SELECT count(*) AS n FROM zb, probe
         |  WHERE c2 >= lo AND c1 <= hi),
         |zt AS (SELECT count(*) AS n FROM zb),
         |lexb AS (SELECT
         |    (CASE WHEN o_orderkey >= omax // 4 THEN 1 ELSE 0 END
         |     + CASE WHEN o_orderkey >= omax // 2 THEN 1 ELSE 0 END
         |     + CASE WHEN o_orderkey >= (3 * omax) // 4 THEN 1 ELSE 0
         |       END) AS b,
         |    min(o_custkey) AS c1, max(o_custkey) AS c2
         |  FROM orders, m GROUP BY 1),
         |lexk AS (SELECT count(*) AS n FROM lexb, probe
         |  WHERE c2 >= lo AND c1 <= hi),
         |lext AS (SELECT count(*) AS n FROM lexb)
         |SELECT o_orderstatus, count(*) AS n_orders,
         |  round(sum(o_totalprice), 2) AS sum_price,
         |  (SELECT n FROM zk) AS z_batches_read,
         |  (SELECT n FROM zt) AS z_batches_total,
         |  (SELECT n FROM lexk) AS lex_batches_read,
         |  (SELECT n FROM lext) AS lex_batches_total
         |FROM orders, probe WHERE o_custkey BETWEEN lo AND hi
         |GROUP BY o_orderstatus""".stripMargin,
    "st26_stream_cdc_lake" ->
      // latest-state-with-deletes: %10=3 keys gone, %4 keys at +100
      // (v3 replaces v2 — never stacks), remaining evens at +10; the
      // replayed newest batch must be invisible in the result
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 4 = 0 THEN n_chars + 100
        |                WHEN doc_id % 2 = 0 THEN n_chars + 10
        |                ELSE n_chars END) AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS silver_batches
        |FROM documents WHERE doc_id % 10 <> 3
        |GROUP BY lang""".stripMargin,
    "st27_stream_asof_fwd" ->
      // q53's forward window chain + the 4h tolerance CASE — one
      // contract, two execution paths (batch q53 unbounded, streaming
      // st27 horizon-bounded; the horizon is mirrored here exactly)
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS p_us, event_id AS p_id
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us, min(event_id) AS c_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |u AS (
        |  SELECT user_id, 1 AS tag, c_us AS t, c_id, c_us,
        |    NULL::BIGINT AS p_id
        |  FROM c
        |  UNION ALL
        |  SELECT user_id, 0, p_us, NULL, NULL, p_id FROM p),
        |w AS (
        |  SELECT *,
        |    first_value(c_id IGNORE NULLS) OVER wf AS f_id,
        |    first_value(c_us IGNORE NULLS) OVER wf AS f_us
        |  FROM u
        |  WINDOW wf AS (PARTITION BY user_id ORDER BY t, tag
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, t AS p_us, p_id,
        |  CASE WHEN f_us IS NOT NULL AND f_us - t <= 14400000000
        |       THEN f_id ELSE -1 END AS c_id,
        |  CASE WHEN f_us IS NOT NULL AND f_us - t <= 14400000000
        |       THEN f_us ELSE -1 END AS c_us
        |FROM w WHERE tag = 0""".stripMargin,
    "st28_stream_asof_near" ->
      // explicit horizon-argmin: candidates within ±4h, ranked by
      // (distance, c_us, c_id) — backward wins ties, the q49 rule;
      // purchases with an empty window emit the -1 sentinels
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS p_us, event_id AS p_id
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us, min(event_id) AS c_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |j AS (
        |  SELECT p.user_id, p.p_us, p.p_id, c.c_id, c.c_us,
        |    abs(c.c_us - p.p_us) AS d
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.c_us BETWEEN p.p_us - 14400000000
        |                   AND p.p_us + 14400000000),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, p_id
        |    ORDER BY d, c_us, c_id) AS rn FROM j)
        |SELECT user_id, p_us, p_id, c_id, c_us FROM r WHERE rn = 1
        |UNION ALL
        |SELECT p.user_id, p.p_us, p.p_id,
        |  CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
        |FROM p WHERE NOT EXISTS (
        |  SELECT 1 FROM c WHERE c.user_id = p.user_id
        |    AND c.c_us BETWEEN p.p_us - 14400000000
        |                   AND p.p_us + 14400000000)""".stripMargin,
    "st25_feed_consume" ->
      // ticks 1..3 drain every committed batch exactly once (the
      // planted crash redelivers (1,3], the range-keyed sink absorbs
      // it): the downstream table IS the documents table; the offset
      // sits at the head version
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(3 AS BIGINT) AS final_offset
        |FROM documents GROUP BY lang""".stripMargin,
    "st30_cdf_source" ->
      // identical telescoping contract to st29 — same waves, same
      // signed reconstruction, same final generation — delivered
      // through the checkpoint-integrated source instead of the poll
      // helper (the point: the engine's offset log replaces consumerDir
      // with zero semantic drift)
      """WITH thr AS (SELECT max(doc_id) // 2 AS t FROM documents),
        |cur AS (
        |  SELECT lang,
        |    CASE WHEN doc_id % 6 = 0 AND doc_id <= t
        |         THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM documents, thr
        |  WHERE doc_id % 3 < 2 AND doc_id % 12 <> 3
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 3 = 2)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(4 AS BIGINT) AS final_gen
        |FROM cur GROUP BY lang""".stripMargin,
    "st29_lake_feed_stream" ->
      // the signed feed contributions TELESCOPE to the live state:
      // bootstrap(+base) + redelivered-once merge diff (−old +new,
      // +inserts) + delete diff (−victims) ≡ base minus %12=3 victims,
      // %6=0 low-half keys at +1000, plus the %3=2 inserts; the offset
      // sits at generation 4 (two appends, one merge, one CDC apply)
      """WITH thr AS (SELECT max(doc_id) // 2 AS t FROM documents),
        |cur AS (
        |  SELECT lang,
        |    CASE WHEN doc_id % 6 = 0 AND doc_id <= t
        |         THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM documents, thr
        |  WHERE doc_id % 3 < 2 AND doc_id % 12 <> 3
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 3 = 2)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(4 AS BIGINT) AS final_gen
        |FROM cur GROUP BY lang""".stripMargin,
    "p13_medallion_merge" ->
      // latest-state semantics: v3's +100 replaces (never stacks on)
      // v2's +10 for %4 keys — the latest-per-key reduction before the
      // merge is what the CASE order expresses; silver consolidates to
      // one batch after the spanning merge
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 4 = 0 THEN n_chars + 100
        |                WHEN doc_id % 2 = 0 THEN n_chars + 10
        |                ELSE n_chars END) AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS silver_batches
        |FROM documents GROUP BY lang""".stripMargin,
    "g57_cc_warm" ->
      // converged components are warm-start-independent: the oracle is
      // the same recursive reachability closure as g15, on this
      // fixture's salt
      s"""WITH RECURSIVE ${portableGraphSql(600, 250, "g57")},
         |ed AS (SELECT src AS u, dst AS v FROM pe
         |       UNION SELECT dst, src FROM pe),
         |nodes AS (SELECT DISTINCT u AS id FROM ed),
         |r(id, m) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.m FROM ed e JOIN r ON e.v = r.id)
         |SELECT id, min(m) AS component_id FROM r GROUP BY 1""".stripMargin,
    "p12_incremental_refresh" ->
      // the journey is hash-locked by g56's two-phase warm chain: the
      // snapshot commit/changes/union plumbing must reconstruct
      // exactly the graphs the SQL derives from the base tables
      pageRankWarmSql(
        kOld = 3, kWarm = 2,
        deltaPred = "(src + dst) % 5 <> 0",
        select = "SELECT id, round(rank, 9) AS rank_r FROM r2"),
    "q43_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bin,
        |  count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q44_transitions" ->
      """WITH s AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS next
        |  FROM events),
        |c AS (SELECT event_type, next, count(*) AS n FROM s
        |      WHERE next IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, next, n,
        |  round(CAST(n AS DOUBLE)
        |        / sum(n) OVER (PARTITION BY event_type), 6) AS p
        |FROM c""".stripMargin,
    "q45_rfm" ->
      """WITH base AS (
        |  SELECT user_id, max(epoch_us(ts)) AS r, count(*) AS f,
        |         round(sum(value), 2) AS m
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |sc AS (
        |  SELECT user_id, r, f, m,
        |    CAST(ntile(4) OVER (ORDER BY r, user_id) AS BIGINT)
        |      AS r_score,
        |    CAST(ntile(4) OVER (ORDER BY f, user_id) AS BIGINT)
        |      AS f_score,
        |    CAST(ntile(4) OVER (ORDER BY m, user_id) AS BIGINT)
        |      AS m_score
        |  FROM base)
        |SELECT user_id, r, f, m, r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS segment
        |FROM sc""".stripMargin,
    "q46_anomaly" ->
      """WITH w AS (
        |  SELECT event_id, user_id, value,
        |    count(value) OVER fr AS n_prev,
        |    avg(value) OVER fr AS mu,
        |    stddev_samp(value) OVER fr AS sd
        |  FROM events
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, value,
        |  round((value - mu) / sd, 6) AS z,
        |  (abs(round((value - mu) / sd, 6)) > 2) AS anomaly
        |FROM w WHERE n_prev >= 3 AND sd > 0""".stripMargin,
    "io8_minmax_skip" ->
      // the unsorted ground truth over the SAME time window: a scan
      // whose stats-skipping dropped (or double-read) a row group
      // cannot reproduce these aggregates; min/max of the carried
      // epoch-micros pin the window edges exactly
      """SELECT event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value,
        |  min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us
        |FROM events
        |WHERE epoch_us(ts) >= 1704326400000000
        |  AND epoch_us(ts) < 1704585600000000
        |GROUP BY 1""".stripMargin,
    "d34_hash_embed" ->
      // every signed sum, zero fill, norm and rounded component
      // regenerated; long form so the hash covers each number
      s"""WITH ${hashEmbedCtes("documents", 16)}
        |SELECT e.doc_id, CAST(t.d AS INT) AS d,
        |  e.e[CAST(t.d AS INT) + 1] AS v_r
        |FROM emb e, unnest(range(16)) AS t(d)""".stripMargin,
    "p6_hybrid_rrf" ->
      // both retrieval chains replayed in full: the d41 BM25 stats and
      // the d34 hashing chain (query riding as pseudo-doc −1), both
      // 50-row rank lists, the fused Σ 1/(60+rank) cut
      s"""WITH hd AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT -1, 'hash join scan'),
        |${hashEmbedCtes("hd", 16)},
        |bb AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
        |      AS dl,
        |    regexp_split_to_array(trim(text), '\\s+') AS tk
        |  FROM documents),
        |bs AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |              avg(dl) AS avgdl FROM bb),
        |btf AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf,
        |         any_value(dl) AS dl
        |  FROM (SELECT doc_id, dl, unnest(tk) AS term FROM bb)
        |  WHERE term IN ('hash', 'join', 'scan') GROUP BY doc_id, term),
        |bdf AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
        |        FROM btf GROUP BY term),
        |bc AS (
        |  SELECT btf.doc_id,
        |    round(ln(1.0 + (s.n_docs - bdf.df + 0.5) / (bdf.df + 0.5))
        |      * btf.tf * (1.2 + 1.0)
        |      / (btf.tf + 1.2 * (1.0 - 0.75 + 0.75 * btf.dl / s.avgdl)),
        |      6) AS c
        |  FROM btf JOIN bdf USING (term), bs s),
        |bm AS (SELECT doc_id, round(sum(c), 6) AS score FROM bc
        |       GROUP BY doc_id),
        |lexr AS (SELECT doc_id, rank FROM (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |  FROM bm) WHERE rank <= 50),
        |qv AS (SELECT e AS qe FROM emb WHERE doc_id = -1),
        |semsc AS (
        |  SELECT e.doc_id,
        |    round(list_cosine_similarity(e.e, (SELECT qe FROM qv)), 6)
        |      AS cos
        |  FROM emb e WHERE e.doc_id >= 0),
        |semr AS (SELECT doc_id, rank FROM (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
        |  FROM semsc) WHERE rank <= 50),
        |u AS (SELECT doc_id, 1.0 / (60 + rank) AS contrib FROM lexr
        |      UNION ALL
        |      SELECT doc_id, 1.0 / (60 + rank) FROM semr)
        |SELECT doc_id, round(sum(contrib), 9) AS rrf,
        |       count(*) AS n_lists
        |FROM u GROUP BY doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    "p4_rag_index" ->
      // gate → embed → retrieve, end to end: d24's keep rule, the full
      // hashing-trick chain over the kept slice, then e5's exact-kNN
      // ranking for the 3 smallest embedded ids
      s"""WITH $gateCtes,
        |${hashEmbedCtes("k", 16)},
        |pr AS (SELECT doc_id FROM emb ORDER BY doc_id LIMIT 3),
        |p AS (SELECT e.doc_id AS probe_id, e.e AS pv
        |      FROM emb e JOIN pr ON pr.doc_id = e.doc_id),
        |r AS (
        |  SELECT p.probe_id, e.doc_id AS vec_id,
        |    round(list_cosine_similarity(e.e, p.pv), 6) AS cos_sim
        |  FROM emb e, p WHERE e.doc_id <> p.probe_id),
        |rk AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY probe_id
        |                       ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM r)
        |SELECT probe_id, vec_id, cos_sim FROM rk WHERE rn <= 10""".stripMargin,
    "d33_leak_safe_split" ->
      // p2's group chain, then the d12 md5 bucket applied to the GROUP
      // key — every member of a near-dup component draws the same split
      s"""WITH RECURSIVE $entityGroupCtes,
        |comp AS (SELECT id AS doc_id, min(m) AS group_id FROM r GROUP BY 1),
        |keyed AS (
        |  SELECT d.doc_id,
        |    coalesce(c.group_id, d.doc_id) AS group_id
        |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
        |b AS (
        |  SELECT doc_id, group_id,
        |    CAST(concat('0x', substr(md5(concat(CAST(group_id AS VARCHAR),
        |      ':', 'split-v1')), 1, 8)) AS BIGINT) % 100 AS bk
        |  FROM keyed)
        |SELECT doc_id, group_id,
        |  CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,
    "p1_e2e_prep" ->
      // the same four stages chained as CTEs: d24's gate → d1's min-id
      // dedup among survivors → d16's chunker → d19's per-shard
      // cumulative-offset packing ordered by the chunk uid
      s"""WITH $gateCtes,
        |dd AS (
        |  SELECT k.* FROM k
        |  JOIN (SELECT min(doc_id) AS doc_id FROM k GROUP BY md5(text))
        |  USING (doc_id)),
        |ctk AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(trim(text), '\\s+') AS tk
        |  FROM dd WHERE length(trim(text)) > 0),
        |ch AS (
        |  SELECT doc_id, source, tk,
        |    unnest(range(CAST(floor((len(tk) - 1) / 16.0) AS BIGINT) + 1))
        |      AS c
        |  FROM ctk),
        |ci AS (
        |  SELECT doc_id * 100000 + c AS chunk_uid, source,
        |    CAST(len(tk[c*16+1 : c*16+32]) AS BIGINT) AS n_tokens
        |  FROM ch),
        |o AS (
        |  SELECT chunk_uid, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY chunk_uid ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
        |      AS start_offset
        |  FROM ci)
        |SELECT chunk_uid, source, n_tokens,
        |  CAST(start_offset AS BIGINT) AS start_offset,
        |  CAST(floor(start_offset / 512.0) AS BIGINT) AS seq_id,
        |  CAST(start_offset % 512 AS BIGINT) AS seq_offset
        |FROM o""".stripMargin,
    "d26_char_entropy" ->
      // same sorted-alphabet fold; p is an integer-ratio double in both
      // engines and -p·ln(p) terms sum in the identical order, so the
      // 6 dp rounding fully absorbs libm ulp differences
      """WITH ch AS (
        |  SELECT doc_id, string_split(text, '') AS cs FROM documents),
        |m AS (
        |  SELECT doc_id, cs, CAST(len(cs) AS DOUBLE) AS n,
        |    list_sort(list_distinct(cs)) AS u
        |  FROM ch)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_chars_total,
        |  CAST(len(u) AS BIGINT) AS alphabet_size,
        |  round(list_sum(list_transform(u, d ->
        |    -(CAST(len(list_filter(cs, c -> c = d)) AS DOUBLE) / n
        |      * ln(CAST(len(list_filter(cs, c -> c = d)) AS DOUBLE) / n)))),
        |    6) AS char_entropy
        |FROM m""".stripMargin,
    "d27_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS n_occurrences FROM tok GROUP BY 1),
        |tt AS (SELECT sum(n_occurrences) AS total FROM c),
        |top AS (SELECT token, n_occurrences FROM c
        |        ORDER BY n_occurrences DESC, token LIMIT 100),
        |r AS (
        |  SELECT token, n_occurrences,
        |    row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank,
        |    sum(n_occurrences) OVER (ORDER BY n_occurrences DESC, token
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM top)
        |SELECT CAST(rank AS BIGINT) AS rank, token, n_occurrences,
        |  round(CAST(n_occurrences AS DOUBLE) / (SELECT total FROM tt), 9)
        |    AS share,
        |  round(CAST(cum AS DOUBLE) / (SELECT total FROM tt), 9) AS cum_share
        |FROM r""".stripMargin,
    "d4_fingerprint" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents)
        |SELECT doc_id,
        |  list_min(list_transform(range(greatest(len(tk) - 2, 1)),
        |    i -> md5(array_to_string(tk[i+1:i+3], ' ')))) AS min_shingle_hash,
        |  md5(array_to_string(tk, ' ')) AS doc_hash
        |FROM tk""".stripMargin,
    "d10_vocabulary" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS token
        |  FROM documents)
        |SELECT token, count(*) AS n_occurrences,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM tok GROUP BY 1
        |ORDER BY n_occurrences DESC, token ASC LIMIT 1000""".stripMargin,
    "d11_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs
        |       FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |    round(tf.tf * ln((SELECT n_docs FROM nd) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (token))
        |SELECT doc_id, token, tfidf, rn FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token ASC) AS INTEGER) AS rn
        |  FROM scored)
        |WHERE rn <= 3""".stripMargin,
    "d5b_verified_jaccard" ->
      // shingle construction mirrors d4_fingerprint (tk[i+1:i+3] over
      // range(greatest(len-2,1)) ≡ Spark slice(toks, i+1, 3)); the 60-bit
      // portable digest is CAST('0x'||substr(md5,1,15) AS BIGINT) ≡ Spark
      // conv(substring(md5,1,15),16,10); Jaccard on distinct digests ==
      // Jaccard on raw shingle sets
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(greatest(len(tk) - 2, 1)),
        |      i -> CAST(concat('0x',
        |        substr(md5(array_to_string(tk[i+1:i+3], ' ')), 1, 15))
        |        AS BIGINT))) AS sh
        |  FROM tk)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.01""".stripMargin,
    "d6_blocked_jaccard" ->
      """WITH ts AS (
        |  SELECT doc_id, source,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tk
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.tk, b.tk))), 6) AS jaccard
        |FROM ts a JOIN ts b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.tk, b.tk))), 6) >= 0.8""".stripMargin,
    "d8_langid" -> langIdSql,
    "d39_nfc_normalize" ->
      // chr(769/776/778) = U+0301/U+0308/U+030A — the same decomposed
      // fixture; nfc_normalize implements the same Unicode composition
      // tables as java.text.Normalizer, so equality is byte-exact
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' caf' || 'e' || chr(769) || ' u' || chr(776)
        |      || 'ber' || ' A' || chr(778) || ' fin' AS t
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(t) AS normalized,
        |  nfc_normalize(t) <> t AS changed
        |FROM aug""".stripMargin,
    "d38_pii_redact" ->
      // same augmented fixture, same patterns, same fixed replacement
      // order; counts on the ORIGINAL text — byte-for-byte redaction
      // equality across regex engines is the contract under test
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or admin@test.org,'
        |      || ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1,'
        |      || ' call +1 555 01' || CAST(doc_id % 100 AS VARCHAR)
        |      || ' now' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(t,
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(t,
        |    '\+[0-9][0-9 ]{5,14}[0-9]')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '\+[0-9][0-9 ]{5,14}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM aug""".stripMargin,
    "d9_neardup_groups" ->
      """WITH RECURSIVE ts AS (
        |  SELECT doc_id, source,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tk
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ts a JOIN ts b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.tk, b.tk))), 6) >= 0.8),
        |ed AS (SELECT id_a AS u, id_b AS v FROM pairs
        |       UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT u AS id FROM ed),
        |r(id, m) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.u, r.m FROM ed e JOIN r ON e.v = r.id)
        |SELECT id AS doc_id, min(m) AS group_id FROM r GROUP BY 1""".stripMargin,
    "e2_label_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3""".stripMargin,
    "m1_media_meta" ->
      """SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |  count(*) AS n_media, CAST(sum(n_chars) AS BIGINT) AS total_bytes,
        |  max(CAST((doc_id * 37) % 1920 + 1 AS INTEGER)) AS max_width
        |FROM documents GROUP BY 1""".stripMargin,
    "m2_media_features" ->
      // empty-text guard: DuckDB split('','') yields [''] (unicode -1),
      // while the engine's kernel returns all-zero features for an empty
      // payload — each stat falls back to 0.0 at length(text)=0.
      // ASCII assumption: the oracle folds unicode CODEPOINTS and
      // length(text) CHARACTERS while the engine kernel folds UTF-8
      // payload BYTES — identical only while the documents fixture is
      // pure ASCII (true for the driver-generated testdata; a non-ASCII
      // doc would turn this row red with a confusing value diff, not an
      // engine bug)
      """WITH cp AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |         ELSE 'video' END AS kind,
        |    length(text) AS n,
        |    list_transform(split(text, ''), x -> unicode(x)) AS cps
        |  FROM documents)
        |SELECT doc_id AS media_id, kind,
        |  CAST(n AS DOUBLE) AS f_len,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE round(CAST(list_sum(cps) AS DOUBLE) / n, 6) END AS f_mean,
        |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(list_min(cps) AS DOUBLE) END AS f_min,
        |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(list_max(cps) AS DOUBLE) END AS f_max
        |FROM cp""".stripMargin,
    "m3_video_frames" ->
      """SELECT doc_id AS media_id,
        |  unnest(generate_series(0, ((doc_id * 97) % 600000 + 1) // 10000))
        |    AS frame_no
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,
    "st1_sessions" -> gapSessionSql,
    "st21_late_audit" ->
      // same ±1 h md5 arrival jitter, same 1 h arrival batching, same
      // between-batch watermark rule (prev running max − 5 s), same
      // strict-< late gate
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us,
        |    (epoch_us(ts)
        |      + ((CAST(concat('0x', substr(md5(concat(
        |          CAST(event_id AS VARCHAR), ':st21')), 1, 8)) AS BIGINT)
        |          % 7200001) - 3600000) * 1000) // 3600000000 AS batch
        |  FROM events),
        |bm AS (SELECT batch, max(ts_us) AS bmax FROM ev GROUP BY 1),
        |wm AS (
        |  SELECT batch,
        |    max(bmax) OVER (ORDER BY batch
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      - 5000000 AS wm_us
        |  FROM bm)
        |SELECT e.event_id, e.batch,
        |  coalesce(w.wm_us, -1) AS wm_us,
        |  CASE WHEN w.wm_us IS NOT NULL AND e.ts_us < w.wm_us
        |    THEN 1 ELSE 0 END AS late
        |FROM ev e JOIN wm w USING (batch)""".stripMargin,
    "st7_enrich" ->
      // left-outer so unmatched events survive with NULL enrichment;
      // tier thresholds identical to EventStreams.enrichEvents
      """SELECT e.event_id, e.user_id, e.event_type, e.value,
        |  c.c_nationkey,
        |  CASE WHEN c.c_acctbal IS NULL THEN NULL
        |       WHEN c.c_acctbal >= 5000 THEN 'high'
        |       WHEN c.c_acctbal >= 0 THEN 'mid'
        |       ELSE 'neg' END AS acct_tier
        |FROM events e
        |LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,
    // the streaming event-time form, fully flushed, must equal the same
    // batch gap sessions — one oracle, two independent engine paths
    "st6_eventtime_sessions" -> gapSessionSql,
    "st14_stream_funnel" ->
      // staged minima with 2h windows, ALL comparisons in epoch millis
      // (the state fold's precision — micros truncate identically on
      // both sides)
      """WITH v1 AS (
        |  SELECT user_id, min(epoch_ms(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c2 AS (
        |  SELECT e.user_id, min(epoch_ms(e.ts)) AS t2 FROM events e
        |  JOIN v1 ON v1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND epoch_ms(e.ts) > v1.t1
        |    AND epoch_ms(e.ts) <= v1.t1 + 7200000 GROUP BY 1),
        |pp AS (
        |  SELECT DISTINCT e.user_id FROM events e
        |  JOIN c2 ON c2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > c2.t2
        |    AND epoch_ms(e.ts) <= c2.t2 + 7200000),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id,
        |  CAST(CASE WHEN pp.user_id IS NOT NULL THEN 3
        |            WHEN c2.user_id IS NOT NULL THEN 2
        |            WHEN v1.user_id IS NOT NULL THEN 1
        |            ELSE 0 END AS BIGINT) AS stage
        |FROM u
        |LEFT JOIN v1 ON v1.user_id = u.user_id
        |LEFT JOIN c2 ON c2.user_id = u.user_id
        |LEFT JOIN pp ON pp.user_id = u.user_id""".stripMargin,
    "st2_windowed_agg" ->
      """SELECT strftime(make_timestamp((epoch_ms(ts) // 300000) * 300000000),
        |                '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "st4_sliding_windows" ->
      // window=10min slide=5min ⇒ every event is in exactly 2 epoch-
      // aligned windows: starts floor(t/5min)·5min and one slide earlier
      """WITH w AS (
        |  SELECT event_type, value,
        |    make_timestamp(((epoch_ms(ts) // 300000) - k.k) * 300000000)
        |      AS ws
        |  FROM events, (SELECT unnest([0, 1]) AS k) k)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,
    // st9: Spark's session_window merges TOUCHING windows (verified by
    // an exact-boundary unit test: an event exactly `gap` after its
    // predecessor stays in the same session), so the gap rule is
    // identical to st1's lag form — same oracle
    "st9_native_session" -> gapSessionSql,
    // the streaming replay must converge to the identical batch result
    "st20_stream_native_session" -> gapSessionSql,
    // st10: the watermark-expiring dedup's emitted key set equals the
    // batch distinct, order-independent by construction
    "st10_watermark_dedup" ->
      """WITH d AS (SELECT DISTINCT event_id, ts FROM events)
        |SELECT count(*) AS n_distinct,
        |  count(DISTINCT event_id) AS n_ids,
        |  epoch_us(min(ts)) AS min_ts_us,
        |  epoch_us(max(ts)) AS max_ts_us
        |FROM d""".stripMargin,
    // st8 converges to the batch dedup registry regardless of chunking
    // or replay order — same ground truth as d1
    "st8_stream_dedup" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "st19_stream_cms" ->
      // the batch sketch cell for cell — streaming Complete-mode counts
      // are order-insensitive, so the converged state must equal it
      """WITH tk AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |cells AS (
        |  SELECT t, u.r,
        |    CAST('0x' || substr(md5('cms-v1:' || CAST(u.r AS VARCHAR)
        |      || ':' || t), 1, 15) AS BIGINT) % 128 AS cell
        |  FROM tk, unnest([0, 1, 2]) AS u(r))
        |SELECT r, cell, CAST(count(*) AS BIGINT) AS cnt
        |FROM cells GROUP BY r, cell""".stripMargin,
    "st3_event_dedup" ->
      """WITH d AS (
        |  SELECT event_id, ts,
        |    min(struct_pack(event_type := event_type, user_id := user_id)) AS m
        |  FROM events GROUP BY 1, 2)
        |SELECT m.event_type AS event_type, count(*) AS n_events,
        |  count(DISTINCT m.user_id) AS n_users
        |FROM d GROUP BY 1""".stripMargin,
    "e10_knn_truncated" ->
      // same truncate → renormalize → dot chain; on unit vectors the
      // rounded dot matches e1-style cosine rounding semantics
      """WITH tr AS (
        |  SELECT vec_id, list_transform(v, x -> x / nrm) AS tvec
        |  FROM (
        |    SELECT vec_id, v,
        |      sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[])[1:16] AS v
        |          FROM embeddings))
        |  WHERE nrm > 0),
        |probe AS (SELECT tvec AS p FROM tr WHERE vec_id = 0)
        |SELECT vec_id,
        |  round(list_dot_product(tvec, (SELECT p FROM probe)), 6) AS dot_sim
        |FROM tr WHERE vec_id <> 0
        |ORDER BY dot_sim DESC, vec_id ASC LIMIT 10""".stripMargin,
    "e22_knn_graph" ->
      // at nProbe = nList the IVF-bucketed candidate set is the full
      // corpus, so the all-pairs ranking recomputes every edge exactly
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |r AS (
        |  SELECT a.vec_id AS src, b.vec_id AS nbr,
        |    round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |rk AS (
        |  SELECT src, nbr, cos_sim,
        |    row_number() OVER (PARTITION BY src
        |                       ORDER BY cos_sim DESC, nbr) AS rn
        |  FROM r)
        |SELECT src, nbr, cos_sim FROM rk WHERE rn <= 8""".stripMargin,
    "e23_nsw_search" -> nswSearchOracleSql,
    // e24 routes the identical search through the src-bucketed disk
    // layout — the round-trip must not change the graph, so the same
    // trajectory oracle hash-locks it (the e7/e16 discipline)
    "e24_nsw_disk" -> nswSearchOracleSql,
    "e25_kmeans" ->
      // the full Lloyd loop replayed (seeds → 2 passes → assignment);
      // the 6-dp output round sits ON TOP of the 9-dp training round,
      // exactly as the engine emits it
      (kmeansCteSql +
        "\nSELECT vec_id, c_id, round(d, 6) AS dist FROM a2"),
    "e26_semdedup" ->
      // same chain, then every intra-cluster pair's cosine and the
      // greedy lowest-id-kept verdict
      (kmeansCteSql + """,
        |p AS (SELECT b.vec_id AS v FROM a2 a JOIN a2 b
        |      ON a.c_id = b.c_id AND a.vec_id < b.vec_id
        |      WHERE list_sum(list_transform(a.v, x -> x * x)) > 0
        |        AND list_sum(list_transform(b.v, x -> x * x)) > 0
        |        AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.4)
        |SELECT a.vec_id, a.c_id,
        |       (a.vec_id IN (SELECT v FROM p)) AS removed
        |FROM a2 a""".stripMargin),
        "e12_knn_ivfsq" ->
      // the full ADC chain recomputed: e8's stats + codes, mid-bucket
      // dequantization, full-precision-probe cosine, top-10 on (rounded
      // sim, vec_id) — independent of the coarse quantizer because
      // nProbe = nList probes every list
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (
        |  SELECT vec_id, CAST(t.i AS BIGINT) AS d,
        |         v[CAST(t.i AS INTEGER) + 1] AS val
        |  FROM e, unnest(range(len(v))) AS t(i)),
        |st AS (SELECT d, min(val) AS mn, max(val) AS mx FROM x GROUP BY d),
        |c AS (
        |  SELECT x.vec_id, x.d,
        |    CASE WHEN st.mx = st.mn THEN 0
        |         ELSE least(255.0, greatest(0.0,
        |                floor((x.val - st.mn) / (st.mx - st.mn) * 255)))
        |         END AS code
        |  FROM x JOIN st USING (d)),
        |dv AS (
        |  SELECT c.vec_id, c.d,
        |    st.mn + (c.code + 0.5) * (st.mx - st.mn) / 255 AS dx
        |  FROM c JOIN st USING (d)),
        |dva AS (SELECT vec_id, list(dx ORDER BY d) AS dvec FROM dv GROUP BY vec_id),
        |p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
        |      FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
        |r AS (
        |  SELECT p.probe_id, a.vec_id,
        |    round(list_cosine_similarity(a.dvec, p.pv), 6) AS cos_sim
        |  FROM dva a, p WHERE a.vec_id <> p.probe_id),
        |rk AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY probe_id
        |                       ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM r)
        |SELECT probe_id, vec_id, cos_sim FROM rk WHERE rn <= 10""".stripMargin,
    "e11_knn_funnel" ->
      // the full funnel recomputed: truncate+renorm (e10's chain), top-50
      // shortlist per probe in the truncated space, exact full-dim
      // cosine rerank of the shortlist, top-10 — every boundary ranked
      // on (rounded sim, vec_id) exactly like the engine
      """WITH tr AS (
        |  SELECT vec_id, list_transform(v, x -> x / nrm) AS tvec
        |  FROM (
        |    SELECT vec_id, v,
        |      sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[])[1:16] AS v
        |          FROM embeddings))
        |  WHERE nrm > 0),
        |pt AS (SELECT vec_id AS probe_id, tvec AS p FROM tr
        |       WHERE vec_id IN (0, 1, 2, 3, 4)),
        |cand AS (
        |  SELECT pt.probe_id, t.vec_id,
        |    round(list_dot_product(t.tvec, pt.p), 6) AS t_sim
        |  FROM tr t, pt WHERE t.vec_id <> pt.probe_id),
        |short AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      row_number() OVER (PARTITION BY probe_id
        |                         ORDER BY t_sim DESC, vec_id) AS rn
        |    FROM cand) WHERE rn <= 50),
        |pf AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
        |       FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
        |r AS (
        |  SELECT s.probe_id, s.vec_id,
        |    round(list_cosine_similarity(
        |      CAST(e.embedding AS DOUBLE[]), pf.pv), 6) AS cos_sim
        |  FROM short s
        |  JOIN embeddings e USING (vec_id)
        |  JOIN pf ON s.probe_id = pf.probe_id),
        |rk AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY probe_id
        |                       ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM r)
        |SELECT probe_id, vec_id, cos_sim FROM rk WHERE rn <= 10""".stripMargin,
    "e14_pq_codes" ->
      // the same deterministic codebook (md5-ranked sample, ties by id)
      // and the same argmin discipline: per-subspace L2 distance rounded
      // to 9 dp, ties to the smallest code index
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |anch AS (
        |  SELECT v AS a,
        |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        |      - 1 AS j
        |  FROM (SELECT vec_id, v FROM e
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
        |dists AS (
        |  SELECT e.vec_id, CAST(t.m AS BIGINT) AS m, anch.j,
        |    round(list_distance(
        |      e.v[CAST(t.m * 8 + 1 AS INT):CAST(t.m * 8 + 8 AS INT)],
        |      anch.a[CAST(t.m * 8 + 1 AS INT):CAST(t.m * 8 + 8 AS INT)]),
        |      9) AS d
        |  FROM e, unnest(range(8)) AS t(m), anch)
        |SELECT vec_id, m, CAST(j AS INT) AS code FROM (
        |  SELECT vec_id, m, j,
        |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
        |  FROM dists) WHERE rn = 1""".stripMargin,
    "e14_pq_adc" -> pqAdcExactSql,
    // e16 probes the IVF-PQ disk layout at nProbe = nList with the SAME
    // sampled codebook — exactly the pure ADC ranking, so e14's oracle
    // hash-locks the disk round-trip itself (the e7/e12/e13 discipline)
    "e16_knn_ivfpq" -> pqAdcExactSql,
    "e15_sign_knn" ->
      // sign-bit packing into two 32-bit words (exact integer sums —
      // order-free), integer Hamming candidates, exact cosine rerank of
      // the top-50 shortlist: the engine's funnel replayed end to end
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (
        |  SELECT vec_id, CAST(t.i AS INT) AS i,
        |         v[CAST(t.i AS INT) + 1] AS val
        |  FROM e, unnest(range(64)) AS t(i)),
        |packed AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN i < 32 AND val > 0
        |        THEN CAST(power(2, i) AS BIGINT) ELSE 0 END) AS lo,
        |    SUM(CASE WHEN i >= 32 AND val > 0
        |        THEN CAST(power(2, i - 32) AS BIGINT) ELSE 0 END) AS hi
        |  FROM x GROUP BY vec_id),
        |pp AS (SELECT vec_id AS probe_id, lo AS plo, hi AS phi
        |       FROM packed WHERE vec_id IN (0, 1, 2, 3, 4)),
        |ham AS (
        |  SELECT pp.probe_id, k.vec_id,
        |    CAST(bit_count(xor(k.lo, pp.plo))
        |         + bit_count(xor(k.hi, pp.phi)) AS BIGINT) AS hamming
        |  FROM packed k, pp WHERE k.vec_id <> pp.probe_id),
        |cand AS (
        |  SELECT probe_id, vec_id, hamming FROM (
        |    SELECT probe_id, vec_id, hamming,
        |      row_number() OVER (PARTITION BY probe_id
        |                         ORDER BY hamming, vec_id) AS rn
        |    FROM ham) WHERE rn <= 50),
        |pf AS (SELECT vec_id AS probe_id, v AS q FROM e
        |       WHERE vec_id IN (0, 1, 2, 3, 4)),
        |r AS (
        |  SELECT c.probe_id, c.vec_id, c.hamming,
        |    round(list_cosine_similarity(e.v, pf.q), 6) AS cos_sim
        |  FROM cand c
        |  JOIN e USING (vec_id)
        |  JOIN pf ON c.probe_id = pf.probe_id)
        |SELECT probe_id, vec_id, hamming, cos_sim FROM (
        |  SELECT probe_id, vec_id, hamming, cos_sim,
        |    row_number() OVER (PARTITION BY probe_id
        |                       ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM r) WHERE rn <= 10""".stripMargin,
    "e17_range_search" ->
      // brute force over the SAME predicate the pruned engine path
      // answers exactly: rounded cosine ≥ τ, probe excluded — the
      // triangle-inequality prune is provably lossless, so the hash gate
      // locks it (vs the recall-tested approximate probes)
      """WITH probe AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, cos_sim FROM (
        |  SELECT vec_id,
        |    round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |                                 (SELECT p FROM probe)), 6) AS cos_sim
        |  FROM embeddings WHERE vec_id <> 0)
        |WHERE cos_sim >= 0.25""".stripMargin,
    "e18_knn_classify" ->
      // same exact top-10 cut (rounded cos, vec_id) and the same
      // majority/smallest-label argmax, recomputed end to end
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings),
        |pf AS (SELECT vec_id AS probe_id, v AS q FROM e
        |       WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)),
        |sc AS (
        |  SELECT pf.probe_id, e.vec_id, e.label,
        |    round(list_cosine_similarity(e.v, pf.q), 6) AS c
        |  FROM e, pf WHERE e.vec_id <> pf.probe_id),
        |top AS (
        |  SELECT probe_id, label FROM (
        |    SELECT probe_id, label, row_number() OVER (
        |      PARTITION BY probe_id ORDER BY c DESC, vec_id ASC) AS rn
        |    FROM sc) WHERE rn <= 10),
        |v AS (SELECT probe_id, label, count(*) AS votes
        |      FROM top GROUP BY 1, 2)
        |SELECT probe_id, CAST(label AS INTEGER) AS pred_label, votes FROM (
        |  SELECT probe_id, label, votes, row_number() OVER (
        |    PARTITION BY probe_id ORDER BY votes DESC, label ASC) AS rn
        |  FROM v) WHERE rn = 1""".stripMargin,
    "e1_knn_probe" ->
      """WITH probe AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |                               (SELECT p FROM probe)), 6) AS cos_sim
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin,
    "q15_asof_join" -> asofOracleSql,
    "st24_stream_asof" ->
      // the STREAMING operator is held to the SAME ASOF spec as the
      // batch q15 — one contract, two execution paths
      asofOracleSql,
    "q53_asof_forward" ->
      // forward = the first quote at or after the probe: probe rows
      // (tag 0) sort before same-instant quotes (tag 1), so the
      // following frame is inclusive — mirroring the engine exactly
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS p_us, event_id AS p_id
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us, min(event_id) AS c_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |u AS (
        |  SELECT user_id, 1 AS tag, c_us AS t, c_id, c_us,
        |    NULL::BIGINT AS p_id
        |  FROM c
        |  UNION ALL
        |  SELECT user_id, 0, p_us, NULL, NULL, p_id FROM p),
        |w AS (
        |  SELECT *,
        |    first_value(c_id IGNORE NULLS) OVER wf AS f_id,
        |    first_value(c_us IGNORE NULLS) OVER wf AS f_us
        |  FROM u
        |  WINDOW wf AS (PARTITION BY user_id ORDER BY t, tag
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, t AS p_us, p_id,
        |  coalesce(f_id, -1) AS c_id, coalesce(f_us, -1) AS c_us
        |FROM w WHERE tag = 0""".stripMargin,
    "q49_asof_nearest" ->
      // nearest = min(|Δt|) of the backward and forward candidates,
      // ties backward; per-column IGNORE NULLS windows cannot tear the
      // candidate because quote rows carry c_id/c_us non-null TOGETHER
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS p_us, event_id AS p_id
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us, min(event_id) AS c_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |u AS (
        |  SELECT user_id, 0 AS tag, c_us AS t, c_id, c_us,
        |    NULL::BIGINT AS p_id
        |  FROM c
        |  UNION ALL
        |  SELECT user_id, 1, p_us, NULL, NULL, p_id FROM p),
        |w AS (
        |  SELECT *,
        |    last_value(c_id IGNORE NULLS) OVER wb AS b_id,
        |    last_value(c_us IGNORE NULLS) OVER wb AS b_us,
        |    first_value(c_id IGNORE NULLS) OVER wf AS f_id,
        |    first_value(c_us IGNORE NULLS) OVER wf AS f_us
        |  FROM u
        |  WINDOW
        |    wb AS (PARTITION BY user_id ORDER BY t, tag
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY t, tag
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, t AS p_us, p_id,
        |  coalesce(CASE WHEN b_us IS NULL THEN f_id
        |       WHEN f_us IS NULL THEN b_id
        |       WHEN t - b_us <= f_us - t THEN b_id ELSE f_id END, -1)
        |    AS c_id,
        |  coalesce(CASE WHEN b_us IS NULL THEN f_us
        |       WHEN f_us IS NULL THEN b_us
        |       WHEN t - b_us <= f_us - t THEN b_us ELSE f_us END, -1)
        |    AS c_us
        |FROM w WHERE tag = 1""".stripMargin,
    "q52_interval_overlap" ->
      // the ground truth is the plain theta join — the bucketed rewrite
      // must lose nothing and double-count nothing
      """WITH p AS (
        |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS lo,
        |    epoch_us(ts) + 1800000000 AS hi
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, event_id AS c_id, epoch_us(ts) AS lo,
        |    epoch_us(ts) + 1200000000 AS hi
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.p_id, c.c_id
        |FROM p JOIN c
        |  ON p.user_id = c.user_id
        |  AND p.lo < c.hi AND c.lo < p.hi""".stripMargin,
    "q16_range_join" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS hi
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us, value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.p_id, p.user_id,
        |  CAST(count(c.c_us) AS BIGINT) AS n_clicks,
        |  CASE WHEN count(c.c_us) = 0 THEN 0.0
        |       ELSE round(sum(c.value), 2) END AS sum_value
        |FROM p LEFT JOIN c
        |  ON p.user_id = c.user_id
        |  AND c.c_us >= p.hi - 3600000000 AND c.c_us < p.hi
        |GROUP BY 1, 2""".stripMargin,
    "d12_sample_split" ->
      // md5-bucket split + hash-ordered per-source cap, recomputed
      // decision-for-decision (Sampling.hashBucket/stratumCap twins)
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |      ':', 'split-v1')), 1, 8)) AS BIGINT) % 100 AS b,
        |    md5(concat(CAST(doc_id AS VARCHAR), ':', 'cap-v1')) AS ch
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY ch ASC, doc_id ASC) AS INTEGER) AS cap_rank
        |  FROM h)
        |SELECT doc_id, source, split, cap_rank,
        |  CASE WHEN cap_rank <= 10 THEN 1 ELSE 0 END AS kept
        |FROM r""".stripMargin,
    "d13_repeated_ngrams" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, len(tk) - 2 AS n_ngrams,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_transform(range(len(tk) - 2),
        |        i -> array_to_string(tk[i+1:i+3], ' '))
        |    ELSE [] END AS grams
        |  FROM tk)
        |SELECT doc_id,
        |  CAST(greatest(n_ngrams, 0) AS BIGINT) AS n_ngrams,
        |  CAST(CASE WHEN n_ngrams >= 1 THEN len(list_distinct(grams))
        |       ELSE 0 END AS BIGINT) AS n_distinct,
        |  CASE WHEN n_ngrams >= 1 THEN
        |    round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
        |          / n_ngrams, 6)
        |  ELSE 0.0 END AS rep_ratio
        |FROM g""".stripMargin,
    "sql1_revenue_by_nation" -> sql1RevenueByNation,
    "sql2_top_orders_per_customer" -> sql2TopOrdersPerCustomer,
    "sql3_big_spender_exists" -> sql3BigSpenderExists,
    "sql4_recursive_chain" -> sql4RecursiveChain,
    "sql5_lateral_topn" -> sql5LateralTopOrders,
    "sql6_merge_dml" ->
      // identical semantics to io15 (same merge, reached from SQL
      // text) — the oracle is io15's, verbatim
      """WITH thr AS (SELECT max(doc_id) // 2 AS t FROM documents),
        |final AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 6 = 0 AND doc_id <= t
        |         THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM documents, thr WHERE doc_id % 3 < 2
        |  UNION ALL
        |  SELECT doc_id + 1000000000, lang, n_chars
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS untouched_batches
        |FROM final GROUP BY lang""".stripMargin,
    "sql7_delete_dml" ->
      // identical semantics to io20 (same range delete, reached from
      // SQL text) — the oracle is io20's, verbatim
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
        |c AS (SELECT (3 * (mx + 1)) // 8 AS cut FROM m),
        |b AS (SELECT least(3, (doc_id * 4) // (mx + 1)) AS b,
        |        min(doc_id) AS kmin, max(doc_id) AS kmax
        |      FROM documents, m GROUP BY 1),
        |cls AS (SELECT
        |    count(*) FILTER (WHERE 0 <= kmin AND kmax <= cut)
        |      AS dropped,
        |    count(*) FILTER (WHERE kmax < 0 OR kmin > cut)
        |      AS untouched,
        |    count(*) FILTER (WHERE NOT (0 <= kmin AND kmax <= cut)
        |      AND NOT (kmax < 0 OR kmin > cut)) AS rewritten
        |  FROM b, c)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  (SELECT dropped FROM cls) AS dropped_metadata_only,
        |  (SELECT rewritten FROM cls) AS rewritten_batches,
        |  (SELECT untouched FROM cls) AS untouched_batches
        |FROM documents, c WHERE doc_id > cut GROUP BY lang""".stripMargin,
    "sql8_time_travel" ->
      // two states of one table through one statement: the as-of side
      // is the pre-merge base (%3<2), the live side carries the io15
      // merge (low-half %6=0 at +1000, %3=2 inserts at +1e9)
      """WITH thr AS (SELECT max(doc_id) // 2 AS t FROM documents),
        |base AS (
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 3 < 2),
        |live AS (
        |  SELECT lang,
        |    CASE WHEN doc_id % 6 = 0 AND doc_id <= t
        |         THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM documents, thr WHERE doc_id % 3 < 2
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 3 = 2)
        |SELECT 'asof' AS src, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM base GROUP BY lang
        |UNION ALL
        |SELECT 'live' AS src, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM live GROUP BY lang""".stripMargin,
    "sql9_optimize" ->
      // the oracle replays the OPTIMIZE planning itself: equal-width
      // splits from min/max, bucket = split-membership sum, and
      // batches_after = count of NONEMPTY buckets; the state is
      // compaction-invariant
      """WITH m AS (SELECT min(o_orderkey) AS lo,
        |    max(o_orderkey) - min(o_orderkey) + 1 AS span FROM orders),
        |b AS (SELECT count(DISTINCT
        |    (CASE WHEN o_orderkey >= lo + (span * 1) // 4
        |          THEN 1 ELSE 0 END
        |   + CASE WHEN o_orderkey >= lo + (span * 2) // 4
        |          THEN 1 ELSE 0 END
        |   + CASE WHEN o_orderkey >= lo + (span * 3) // 4
        |          THEN 1 ELSE 0 END)) AS n
        |  FROM orders, m)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  CAST(4 AS BIGINT) AS batches_before,
        |  (SELECT n FROM b) AS batches_after
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "sql10_vacuum" ->
      // collect-now sweeps exactly the 2 superseded generations and
      // the merge's 1 replaced data dir; the live state (base %3<2,
      // low-half %6=0 keys at +1000) reads back unchanged from the
      // 2 live batches
      """WITH thr AS (SELECT max(doc_id) // 2 AS t FROM documents),
        |final AS (
        |  SELECT lang,
        |    CASE WHEN doc_id % 6 = 0 AND doc_id <= t
        |         THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM documents, thr WHERE doc_id % 3 < 2)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(2 AS BIGINT) AS gens_swept,
        |  CAST(1 AS BIGINT) AS dirs_swept,
        |  CAST(2 AS BIGINT) AS batches_live
        |FROM final GROUP BY lang""".stripMargin,
    "sql11_pagerank" ->
      // the SQL verb is plumbing over the audited operator, so the
      // oracle IS g6's converged oracle — same graph, same stopping
      // rule, same ranks
      pageRankConvergedSql(maxIter = 10, tol = 1e-6, minIter = 5),
    "sql12_components" ->
      // g15's recursive-closure oracle verbatim: the SQL verb's edge
      // select regenerates the identical portable graph
      s"""WITH RECURSIVE ${portableGraphSql(600, 250, "g15")},
         |ed AS (SELECT src AS u, dst AS v FROM pe
         |       UNION SELECT dst, src FROM pe),
         |nodes AS (SELECT DISTINCT u AS id FROM ed),
         |r(id, m) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.m FROM ed e JOIN r ON e.v = r.id)
         |SELECT id, min(m) AS component_id FROM r GROUP BY 1""".stripMargin,
    "sql13_changes_consumer" ->
      // incremental ≡ recompute, p16's contract through the CONSUMER
      // verb: same final state, same feed_rows delta size
      """WITH thr AS (SELECT max(doc_id) // 2 AS t FROM documents),
        |final AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 6 = 0 AND doc_id <= t
        |         THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM documents, thr WHERE doc_id % 3 < 2
        |  UNION ALL
        |  SELECT doc_id + 1000000000, lang, n_chars
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT
        |    2 * (SELECT count(*) FROM documents, thr
        |         WHERE doc_id % 6 = 0 AND doc_id <= t)
        |    + (SELECT count(*) FROM documents WHERE doc_id % 3 = 2)
        |      AS n)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  (SELECT n FROM fr) AS feed_rows
        |FROM final GROUP BY lang""".stripMargin,
    "d7_simhash" -> simhashSigSql,
    "d14_simhash_neardup" -> simhashNearDupSql(maxDist = 3),
    "m7_audio_segments" ->
      // audio rows are doc_id % 3 = 1 with duration (doc_id·97 %
      // 600000)+1 (syntheticMedia); same 1 s framing, same 8-bit
      // md5(id:frame:m7) energies, same >= 128 gate, same
      // gaps-and-islands run grouping
      """WITH a AS (
        |  SELECT doc_id AS media_id, (doc_id * 97) % 600000 + 1 AS dur
        |  FROM documents WHERE doc_id % 3 = 1),
        |f AS (
        |  SELECT media_id, unnest(range((dur - 1) // 1000 + 1)) AS frame
        |  FROM a),
        |act AS (
        |  SELECT media_id, frame FROM f
        |  WHERE CAST(concat('0x', substr(md5(concat(
        |    CAST(media_id AS VARCHAR), ':', CAST(frame AS VARCHAR),
        |    ':m7')), 1, 2)) AS BIGINT) >= 128),
        |isl AS (
        |  SELECT media_id, frame,
        |    frame - row_number() OVER (PARTITION BY media_id
        |      ORDER BY frame) AS island
        |  FROM act)
        |SELECT media_id,
        |  CAST(min(frame) * 1000 AS BIGINT) AS start_ms,
        |  CAST(max(frame) * 1000 + 1000 AS BIGINT) AS end_ms,
        |  count(*) AS n_frames
        |FROM isl GROUP BY media_id, island""".stripMargin,
    "m6_interleaved_pack" ->
      // same 20-bit md5(doc:m6) image-count draw, same per-doc cost
      // (whitespace tokens + 576/image), same per-source cumulative
      // stride cut at 2048, same per-sequence totals
      s"""WITH ${interleavePackCtes("documents", "m6")}
        |SELECT source, seq_id, n_docs, text_tokens, n_images,
        |  total_tokens
        |FROM packed""".stripMargin,
    "m4_image_resize" ->
      // mirrors Multimodal.fitDims + the stub thumb sizing; images are
      // doc_id % 3 = 0, w/h derive from doc_id (syntheticMedia), payload
      // is the UTF-8 text (ASCII fixture ⇒ n_bytes = length(text))
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CAST((doc_id * 37) % 1920 + 1 AS INTEGER) AS w,
        |    CAST((doc_id * 53) % 1080 + 1 AS INTEGER) AS h,
        |    length(text) AS nb
        |  FROM documents WHERE doc_id % 3 = 0),
        |f AS (
        |  SELECT media_id, w, h, nb,
        |    CASE WHEN greatest(w, h) <= 256 THEN w
        |         WHEN w >= h THEN 256
        |         ELSE greatest(1, (w * 256) // h) END AS out_w,
        |    CASE WHEN greatest(w, h) <= 256 THEN h
        |         WHEN w >= h THEN greatest(1, (h * 256) // w)
        |         ELSE 256 END AS out_h
        |  FROM m)
        |SELECT media_id, w AS in_w, h AS in_h, out_w, out_h,
        |  CAST(least(nb, (out_w * out_h) // 8 + 1) AS BIGINT) AS thumb_len
        |FROM f""".stripMargin,
    "st5_attribution_join" ->
      """SELECT p.event_id AS p_id, p.user_id, c.event_id AS c_id
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND p.user_id = c.user_id
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        |  AND epoch_us(c.ts) < epoch_us(p.ts)""".stripMargin,
    "st17_tws_ledger" ->
      // the converged ledger equals the batch totals
      """SELECT user_id, count(*) AS n_events,
        |  round(sum(value), 2) AS total_spend
        |FROM events GROUP BY 1""".stripMargin,
    "st16_attribution_full" ->
      // the FULL interval join: unattributed purchases AND orphan
      // clicks both survive with the missing side NULL
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id, ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS c_id, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT p.p_id, coalesce(p.user_id, c.user_id) AS user_id, c.c_id
        |FROM p FULL OUTER JOIN c
        |  ON p.user_id = c.user_id
        |  AND epoch_us(c.c_ts) >= epoch_us(p.ts) - 3600000000
        |  AND epoch_us(c.c_ts) < epoch_us(p.ts)""".stripMargin,
    "st23_gated_ingest" ->
      // the same first-failing CASE chain + per-(gate, type) totals
      """SELECT
        |  CASE WHEN event_type = 'error' THEN 'error_event'
        |       WHEN value IS NULL OR value > 300.0 THEN 'value_too_big'
        |       ELSE 'clean' END AS gate,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "st22_attribution_right" ->
      // the right interval join: every click survives, p_id NULL for
      // the never-converted ones
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id, ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS c_id, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT p.p_id, c.user_id, c.c_id
        |FROM p RIGHT JOIN c
        |  ON p.user_id = c.user_id
        |  AND epoch_us(c.c_ts) >= epoch_us(p.ts) - 3600000000
        |  AND epoch_us(c.c_ts) < epoch_us(p.ts)""".stripMargin,
    "st11_attribution_outer" ->
      // the left interval join on pre-filtered sides — NULL c_id rows
      // are the unattributed purchases the outer form must keep
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id, ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS c_id, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT p.p_id, p.user_id, c.c_id
        |FROM p LEFT JOIN c
        |  ON p.user_id = c.user_id
        |  AND epoch_us(c.c_ts) >= epoch_us(p.ts) - 3600000000
        |  AND epoch_us(c.c_ts) < epoch_us(p.ts)""".stripMargin,
    "io4_partitioned_prune" ->
      // the unpartitioned ground truth: a pruned scan that lost (or
      // duplicated) rows cannot reproduce these aggregates
      """SELECT event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1""".stripMargin,
    "st13_exactly_once_sink" ->
      // plain batch ground truth over ALL events: the sink (retry
      // included) must lose nothing and duplicate nothing to match
      """SELECT event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "q19_cube" ->
      // DuckDB GROUPING() returns one flag per column; combine to match
      // Spark's packed grouping_id bitmask (status bit 1, priority bit 0)
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  CAST(2 * grouping(o_orderstatus) + grouping(o_orderpriority)
        |       AS BIGINT) AS gid
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q17_pivot" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour_str,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
        |    AS n_purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
        |FROM events GROUP BY 1""".stripMargin,
    "q24_scd2" ->
      """WITH b AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS valid_from
        |  FROM events)
        |SELECT user_id, event_id, event_type, valid_from,
        |  coalesce(lead(valid_from, 1) OVER (PARTITION BY user_id
        |    ORDER BY valid_from, event_id), -1) AS valid_to,
        |  coalesce(lead(valid_from, 1) OVER (PARTITION BY user_id
        |    ORDER BY valid_from, event_id), -1) = -1 AS is_current
        |FROM b""".stripMargin,
    "st18_cdc_apply" ->
      // the same from-scratch ground truth as q39: the STREAMED apply
      // (out-of-order batches + re-delivery) must converge to it
      """WITH b AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS valid_from
        |  FROM events)
        |SELECT user_id, event_id, event_type, valid_from,
        |  coalesce(lead(valid_from, 1) OVER (PARTITION BY user_id
        |    ORDER BY valid_from, event_id), -1) AS valid_to,
        |  coalesce(lead(valid_from, 1) OVER (PARTITION BY user_id
        |    ORDER BY valid_from, event_id), -1) = -1 AS is_current
        |FROM b""".stripMargin,
    "q39_scd2_merge" ->
      // the from-scratch build over ALL events IS the oracle: any lost
      // interval close, duplicated replay row, or unsplit out-of-order
      // arrival in the merge path breaks the hash
      """WITH b AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS valid_from
        |  FROM events)
        |SELECT user_id, event_id, event_type, valid_from,
        |  coalesce(lead(valid_from, 1) OVER (PARTITION BY user_id
        |    ORDER BY valid_from, event_id), -1) AS valid_to,
        |  coalesce(lead(valid_from, 1) OVER (PARTITION BY user_id
        |    ORDER BY valid_from, event_id), -1) = -1 AS is_current
        |FROM b""".stripMargin,
    "q18_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  coalesce(lag(o_orderkey, 1) OVER w, -1) AS prev_key,
        |  coalesce(lead(o_orderkey, 1) OVER w, -1) AS next_key,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC
        |    ROWS UNBOUNDED PRECEDING), 4) AS run_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,
    "g41_node2vec" ->
      node2vecSql(300, 900, "g41", len = 4, retW = 1L, inW = 4L, outW = 2L),
    "p5_point_in_time" ->
      // same lead-window SCD2 and strict-predecessor predicate
      """WITH scd AS (
        |  SELECT user_id, event_id AS state_event_id,
        |    event_type AS state_type, value AS state_value,
        |    epoch_us(ts) AS valid_from,
        |    coalesce(lead(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id), -1) AS valid_to
        |  FROM events),
        |pr AS (
        |  SELECT event_id AS probe_id, user_id, epoch_us(ts) AS pts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT pr.probe_id, pr.user_id, pr.pts,
        |  coalesce(s.state_event_id, -1) AS state_event_id,
        |  coalesce(s.state_type, 'none') AS state_type,
        |  round(coalesce(s.state_value, 0.0), 2) AS state_value
        |FROM pr LEFT JOIN scd s
        |  ON s.user_id = pr.user_id
        |  AND s.valid_from < pr.pts
        |  AND (s.valid_to = -1 OR s.valid_to >= pr.pts)""".stripMargin,
    "g43_skipgram_pairs" ->
      // the g36 walk chain re-generated, then the same windowed
      // self-join and (center, context) count
      s"""WITH w AS (
        |${walksSql(300, 900, "g36", len = 8)}
        |)
        |SELECT a.vtx AS center, b.vtx AS context, count(*) AS n_pairs
        |FROM w a JOIN w b ON a.walk_id = b.walk_id
        |  AND a.step <> b.step AND abs(a.step - b.step) <= 2
        |GROUP BY 1, 2""".stripMargin,
    "io6_schema_evolution" ->
      // the split rule replayed: even ids never had a value column ⇒
      // NULL under the merged schema
      """WITH m AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 2 = 1 THEN value ELSE NULL END AS v
        |  FROM events)
        |SELECT event_type, count(*) AS n_rows,
        |  count(v) AS n_with_value,
        |  round(sum(v), 2) AS sum_value_odd
        |FROM m GROUP BY 1""".stripMargin,
    "q34_bloom_join" ->
      """SELECT o_custkey, count(*) AS n_items,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000
        |GROUP BY 1""".stripMargin,
    "q38_skew_aqe" -> skewJoinOracleSql,
    "q38_skew_noaqe" -> skewJoinOracleSql,
    "q35_unpivot" ->
      // the long-form grid with zero cells kept: distinct hours × the
      // explicit type list, counts coalesced to 0
      """WITH h AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour_str, event_type
        |  FROM events),
        |g AS (SELECT DISTINCT hour_str FROM h),
        |t(event_type) AS (VALUES ('click'), ('error'), ('purchase'),
        |  ('signup'), ('view')),
        |c AS (SELECT hour_str, event_type, count(*) AS n
        |      FROM h GROUP BY 1, 2)
        |SELECT g.hour_str, t.event_type, coalesce(c.n, 0) AS n
        |FROM g CROSS JOIN t
        |LEFT JOIN c ON c.hour_str = g.hour_str
        |  AND c.event_type = t.event_type""".stripMargin,
    "q41_window_dist" ->
      // same window spec; nth_value needs the explicit full-partition
      // frame in DuckDB to match Spark's default for that function
      """SELECT o_custkey, o_orderkey,
        |  round(percent_rank() OVER w, 9) AS pr,
        |  round(cume_dist() OVER w, 9) AS cd,
        |  first_value(o_orderkey) OVER w AS top_key,
        |  coalesce(nth_value(o_orderkey, 2) OVER
        |    (PARTITION BY o_custkey
        |     ORDER BY o_totalprice DESC, o_orderkey ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
        |    AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,
    "q40_correlations" ->
      // DuckDB's corr is the same sample Pearson correlation; 6 dp
      // absorbs the co-moment fold's engine-order ulps
      """SELECT count(*) AS n_rows,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(corr(l_quantity, l_discount), 6) AS corr_qty_disc,
        |  round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price
        |FROM lineitem""".stripMargin,
    "d40_feature_binning" ->
      // the same rank-based ntile: no float bin edges anywhere
      """SELECT event_type, CAST(bin AS BIGINT) AS bin, count(*) AS n,
        |  round(min(value), 6) AS min_v, round(max(value), 6) AS max_v
        |FROM (
        |  SELECT event_type, value,
        |    ntile(4) OVER (PARTITION BY event_type
        |                   ORDER BY value, event_id) AS bin
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin,
    "d45_weighted_sample" ->
      // the same md5 draw ((v+1)/(2^60+1), strictly inside (0,1)), the
      // same log-domain clock ln(−ln u) − ln w, the same (key, id) race
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |    round(ln(-ln((CAST(concat('0x',
        |        substr(md5(concat(CAST(doc_id AS VARCHAR),
        |          ':', 'wsample-v1')), 1, 15)) AS BIGINT) + 1.0)
        |        / (power(2, 60) + 1.0)))
        |      - ln(CAST(n_chars AS DOUBLE)), 9) AS log_clock
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars, log_clock FROM h
        |ORDER BY log_clock, doc_id LIMIT 25""".stripMargin,
    "d46_editdist_neardup" ->
      // the same blocked join, the same lossless length prune, the
      // same classical Levenshtein
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
        |FROM documents a JOIN documents b
        |  ON a.source = b.source AND a.doc_id < b.doc_id
        |  AND abs(len(a.text) - len(b.text)) <= 60
        |WHERE levenshtein(a.text, b.text) <= 60""".stripMargin,
    "d49_calibration" ->
      // same d3 ratio, same ntile(10) over (score, id), same per-bin
      // aggregates
      """WITH q AS (
        |  SELECT doc_id, (lang = 'en') AS y,
        |    round(CAST(len(list_filter(
        |      regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is')))
        |      AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')), 6)
        |      AS s
        |  FROM documents),
        |b AS (SELECT s, y, doc_id,
        |        CAST(ntile(10) OVER (ORDER BY s, doc_id) AS BIGINT)
        |          AS bin
        |      FROM q)
        |SELECT bin, count(*) AS n, round(avg(s), 6) AS mean_score,
        |  round(avg(CAST(y AS DOUBLE)), 6) AS pos_rate,
        |  round(abs(round(avg(s), 6) - round(avg(CAST(y AS DOUBLE)), 6)),
        |        6) AS gap
        |FROM b GROUP BY bin""".stripMargin,
    "d50_span_dedup" ->
      // the k-gram index → duplicated-digest set → per-doc
      // gaps-and-islands runs, replayed with the same FULL 128-bit md5
      // digests (the destructive pair never truncates — collision
      // safety at 100 TB) and the same 0-based positions
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
        |    md5(array_to_string(
        |      toks[CAST(t.i AS INT)+1 : CAST(t.i AS INT)+5], ' ')) AS gd
        |  FROM tok, unnest(range(len(toks) - 4)) AS t(i)
        |  WHERE len(toks) >= 5),
        |dup AS (SELECT gd FROM g GROUP BY gd HAVING count(*) >= 2),
        |d AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gd)),
        |runs AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS grp
        |  FROM d)
        |SELECT doc_id, min(pos) AS start_tok, max(pos) + 4 AS end_tok,
        |  max(pos) + 4 - min(pos) + 1 AS span_tokens,
        |  count(*) AS n_dup_grams
        |FROM runs GROUP BY doc_id, grp""".stripMargin,
    "d50b_span_removal" ->
      // the full rewrite replayed: same gram index, canonical site per
      // gram by lexicographic struct min, non-canonical ranges cut,
      // text re-assembled token-ordered — the chain is the shared
      // spanRemovalCtes block (also the p8 journey's middle)
      ("WITH " + spanRemovalCtes("documents") +
        "\nSELECT doc_id, n_tokens, n_removed, text_clean FROM cleaned"),
    "d48_ppjoin" ->
      // the whole prefix-filter chain replayed: d5b's shingle digests,
      // df, the (df, t) canonical order, the prefix cut, the size
      // bound, the candidate join, the exact verify. τ rides as an
      // explicit DOUBLE so both engines ceil/floor the same IEEE value
      // (DuckDB would otherwise read 0.8 as DECIMAL)
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(greatest(len(tk) - 2, 1)),
        |      i -> CAST(concat('0x',
        |        substr(md5(array_to_string(tk[i+1:i+3], ' ')), 1, 15))
        |        AS BIGINT))) AS ts
        |  FROM tk),
        |tok AS (SELECT doc_id, unnest(ts) AS t FROM sh),
        |df AS (SELECT t, count(*) AS df FROM tok GROUP BY t),
        |rk AS (
        |  SELECT doc_id, t,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY df.df, t) AS rnk,
        |    count(*) OVER (PARTITION BY doc_id) AS sz
        |  FROM tok JOIN df USING (t)),
        |pf AS (SELECT doc_id, t, sz FROM rk
        |       WHERE rnk <= sz - ceil(CAST(0.8 AS DOUBLE) * sz) + 1),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pf a JOIN pf b ON a.t = b.t AND a.doc_id < b.doc_id
        |  AND b.sz >= ceil(CAST(0.8 AS DOUBLE) * a.sz)
        |  AND b.sz <= floor(a.sz / CAST(0.8 AS DOUBLE)))
        |SELECT c.id_a, c.id_b,
        |  round(CAST(len(list_intersect(sa.ts, sb.ts)) AS DOUBLE)
        |        / len(list_distinct(list_concat(sa.ts, sb.ts))), 6)
        |    AS jaccard
        |FROM cand c
        |JOIN sh sa ON sa.doc_id = c.id_a
        |JOIN sh sb ON sb.doc_id = c.id_b
        |WHERE round(CAST(len(list_intersect(sa.ts, sb.ts)) AS DOUBLE)
        |      / len(list_distinct(list_concat(sa.ts, sb.ts))), 6)
        |      >= CAST(0.8 AS DOUBLE)""".stripMargin,
    "d51_winnow" ->
      // the whole winnowing selection replayed: same 60-bit k-gram
      // digests, same bounded ROWS window, lexicographic struct min =
      // (min hash, rightmost tie), distinct
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(len(toks) - 3 AS BIGINT) AS n_grams,
        |    CAST(t.i AS BIGINT) AS pos,
        |    CAST('0x' || substr(md5(array_to_string(
        |      toks[CAST(t.i AS INT)+1 : CAST(t.i AS INT)+4], ' ')), 1, 15)
        |      AS BIGINT) AS gh
        |  FROM tok, unnest(range(len(toks) - 3)) AS t(i)
        |  WHERE len(toks) >= 7),
        |m AS (
        |  SELECT doc_id, n_grams, pos,
        |    min(struct_pack(g := gh, np := -pos)) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS ms
        |  FROM g)
        |SELECT DISTINCT doc_id,
        |  -struct_extract(ms, 'np') AS pos,
        |  struct_extract(ms, 'g') AS fp
        |FROM m WHERE pos <= n_grams - 4""".stripMargin,
    "d51b_winnow_pairs" ->
      // fingerprints → df cut (2 ≤ df ≤ 50) → within-bucket pairs →
      // shared-count threshold, all replayed on the same digests
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(len(toks) - 3 AS BIGINT) AS n_grams,
        |    CAST(t.i AS BIGINT) AS pos,
        |    CAST('0x' || substr(md5(array_to_string(
        |      toks[CAST(t.i AS INT)+1 : CAST(t.i AS INT)+4], ' ')), 1, 15)
        |      AS BIGINT) AS gh
        |  FROM tok, unnest(range(len(toks) - 3)) AS t(i)
        |  WHERE len(toks) >= 7),
        |m AS (
        |  SELECT doc_id, n_grams, pos,
        |    min(struct_pack(g := gh, np := -pos)) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS ms
        |  FROM g),
        |fps AS (
        |  SELECT DISTINCT doc_id, struct_extract(ms, 'g') AS fp
        |  FROM m WHERE pos <= n_grams - 4),
        |rare AS (SELECT fp FROM fps GROUP BY fp
        |         HAVING count(*) >= 2 AND count(*) <= 50),
        |cut AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM cut a JOIN cut b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "d53_cms" ->
      // the sketch rebuilt cell for cell from the same md5 row hashes,
      // then every distinct token probed with the same min-over-rows
      // rule
      """WITH tk AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |cells AS (
        |  SELECT t, u.r,
        |    CAST('0x' || substr(md5('cms-v1:' || CAST(u.r AS VARCHAR)
        |      || ':' || t), 1, 15) AS BIGINT) % 128 AS cell
        |  FROM tk, unnest([0, 1, 2]) AS u(r)),
        |sk AS (SELECT r, cell, count(*) AS cnt FROM cells
        |       GROUP BY r, cell),
        |probes AS (SELECT t, count(*) AS cnt_true FROM tk GROUP BY t),
        |pc AS (
        |  SELECT p.t, p.cnt_true, u.r,
        |    CAST('0x' || substr(md5('cms-v1:' || CAST(u.r AS VARCHAR)
        |      || ':' || p.t), 1, 15) AS BIGINT) % 128 AS cell
        |  FROM probes p, unnest([0, 1, 2]) AS u(r))
        |SELECT pc.t AS tok, CAST(pc.cnt_true AS BIGINT) AS cnt_true,
        |  CAST(min(sk.cnt) AS BIGINT) AS est,
        |  CAST(min(sk.cnt) - pc.cnt_true AS BIGINT) AS overest
        |FROM pc JOIN sk USING (r, cell)
        |GROUP BY pc.t, pc.cnt_true""".stripMargin,
    "d46b_lev_full" -> levSrc0OracleSql,
    "d46c_lev_banded" -> levSrc0OracleSql,
    "d47_inverted_index" ->
      // numeric-sorted postings joined with ',' — byte-identical to
      // the engine's sort_array + array_join encoding
      """WITH pres AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |      AS token
        |  FROM documents),
        |g AS (SELECT token, count(*) AS df,
        |        array_to_string(list_sort(list(doc_id)), ',') AS postings
        |      FROM pres GROUP BY token),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs
        |      FROM documents)
        |SELECT token, df, postings FROM g, n
        |WHERE df >= 2 AND CAST(df AS DOUBLE) <= n_docs * 0.9""".stripMargin,
    "d41_bm25" ->
      // identical tf/df/avgdl stats (exact integers as doubles), the
      // same Okapi formula with the +1-inside-ln idf, per-term
      // contributions rounded before the per-doc sum
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
        |      AS dl,
        |    regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                 avg(dl) AS avgdl FROM base),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf,
        |         any_value(dl) AS dl
        |  FROM (SELECT doc_id, dl, unnest(tk) AS term FROM base)
        |  WHERE term IN ('hash', 'join', 'scan') GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
        |       FROM tf GROUP BY term),
        |contrib AS (
        |  SELECT tf.doc_id,
        |    round(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
        |      * tf.tf * (1.2 + 1.0)
        |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl)),
        |      6) AS c
        |  FROM tf JOIN df USING (term), stats s)
        |SELECT doc_id, round(sum(c), 6) AS score FROM contrib
        |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "d42_auc" ->
      // the same rank statistic: per-score groups, cumulative count
      // below, average ranks over ties — every intermediate is an
      // exact .5-granular double
      """WITH s AS (SELECT value AS sc, (event_type = 'error') AS y
        |           FROM events),
        |g AS (SELECT sc, count(*) AS n, sum(CAST(y AS BIGINT)) AS np
        |      FROM s GROUP BY sc),
        |c AS (SELECT np, n, sum(n) OVER (ORDER BY sc) - n AS cb FROM g),
        |agg AS (SELECT sum(np * (cb + (n + 1) / 2.0)) AS sr,
        |               sum(np) AS p, sum(n - np) AS q FROM c)
        |SELECT round(
        |    (sr - CAST(p AS DOUBLE) * CAST(p + 1 AS DOUBLE) / 2.0)
        |    / (CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), 6) AS auc,
        |  CAST(p AS BIGINT) AS n_pos, CAST(q AS BIGINT) AS n_neg
        |FROM agg""".stripMargin,
    "d43_chi2" ->
      // same contingency cells from one distinct-(doc, token) pass;
      // doubles only at the final statistic
      """WITH pres AS (
        |  SELECT doc_id, (lang = 'en') AS y,
        |    unnest(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |      AS token
        |  FROM documents),
        |cells AS (SELECT token, sum(CAST(y AS BIGINT)) AS a,
        |                 sum(CAST(NOT y AS BIGINT)) AS b
        |          FROM pres GROUP BY token),
        |tot AS (SELECT sum(CAST(lang = 'en' AS BIGINT)) AS tp,
        |               sum(CAST(lang <> 'en' AS BIGINT)) AS tq
        |        FROM documents),
        |x AS (SELECT token, a, b, tp - a AS c, tq - b AS d,
        |             tp + tq AS n FROM cells, tot)
        |SELECT token,
        |  round(CAST(n AS DOUBLE)
        |    * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
        |       - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) ** 2
        |    / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
        |       * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)),
        |    6) AS chi2,
        |  CAST(a + b AS BIGINT) AS df
        |FROM x
        |WHERE a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0
        |ORDER BY chi2 DESC, token LIMIT 20""".stripMargin,
    "d44_winsorize" ->
      // quantile_cont is the same (n-1)·p linear interpolation the
      // engine's exact percentile computes
      """WITH b AS (
        |  SELECT event_type AS g,
        |    quantile_cont(value, 0.05) AS p_lo,
        |    quantile_cont(value, 0.95) AS p_hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type AS g, count(*) AS n,
        |  CAST(sum(CAST(e.value < b.p_lo AS BIGINT)) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CAST(e.value > b.p_hi AS BIGINT)) AS BIGINT)
        |    AS n_clip_hi,
        |  round(avg(greatest(least(e.value, b.p_hi), b.p_lo)), 6)
        |    AS mean_winsorized,
        |  round(min(b.p_lo), 6) AS p_lo, round(min(b.p_hi), 6) AS p_hi
        |FROM events e JOIN b ON e.event_type = b.g
        |GROUP BY e.event_type""".stripMargin,
    "q42_regr" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 6)
        |    AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q36_full_outer" ->
      """WITH cl AS (
        |  SELECT user_id, count(*) AS n_clicks FROM events
        |  WHERE event_type = 'click' GROUP BY 1),
        |bu AS (
        |  SELECT user_id, count(*) AS n_buys FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT coalesce(cl.user_id, bu.user_id) AS user_id,
        |  coalesce(cl.n_clicks, 0) AS n_clicks,
        |  coalesce(bu.n_buys, 0) AS n_buys
        |FROM cl FULL OUTER JOIN bu ON cl.user_id = bu.user_id""".stripMargin,
    "q37_set_ops" ->
      """SELECT 'click_and_buy' AS tag, count(*) AS n FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT 'click_no_buy', count(*) FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')""".stripMargin,
    "q48_set_ops_all" ->
      // identical bag algebra: min(c,p) copies in the intersection,
      // max(0, c-p) in the difference, folded to per-user copy counts
      """WITH ia AS (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT ALL
        |  SELECT user_id FROM events WHERE event_type = 'purchase'),
        |ea AS (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT ALL
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |SELECT 'inter_all' AS tag, user_id, count(*) AS n_copies
        |FROM ia GROUP BY 2
        |UNION ALL
        |SELECT 'except_all', user_id, count(*) FROM ea GROUP BY 2""".stripMargin,
    "d32_temperature_mix" ->
      // same √n temperature share, ORDERED running denominator (window
      // by source), 9-dp round, exact ×2^20 floor, and the d21 20-bit
      // md5 draw — every threshold and keep decision recomputed
      """WITH cnt AS (
        |  SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
        |run AS (
        |  SELECT source, n_source,
        |    sqrt(CAST(n_source AS DOUBLE)) AS sq,
        |    sum(sqrt(CAST(n_source AS DOUBLE))) OVER (ORDER BY source
        |      ROWS UNBOUNDED PRECEDING) AS cum_sq
        |  FROM cnt),
        |dn AS (SELECT max(cum_sq) AS denom FROM run),
        |tot AS (SELECT count(*) AS n_total FROM documents),
        |thr AS (
        |  SELECT source, n_source,
        |    CAST(floor(least(1.0,
        |      round(0.5 * n_total * sq / denom / n_source, 9)) * 1048576)
        |      AS BIGINT) AS keep_threshold
        |  FROM run, dn, tot),
        |drawn AS (
        |  SELECT d.doc_id, d.source, t.n_source, t.keep_threshold,
        |    CAST(concat('0x', substr(md5(concat(
        |      CAST(d.doc_id AS VARCHAR), ':', 'temp-v1')), 1, 5))
        |      AS BIGINT) AS mix_bucket
        |  FROM documents d JOIN thr t USING (source))
        |SELECT doc_id, source, n_source, keep_threshold, mix_bucket,
        |  CASE WHEN mix_bucket < keep_threshold THEN 1 ELSE 0 END AS kept
        |FROM drawn""".stripMargin,
    "e20_mmr_rerank" -> mmrSql(shortlist = 20, k = 5),
    "st15_stream_topk" ->
      // the heap's (value DESC, event_id ASC) boundary re-ranked exactly
      """WITH r AS (
        |  SELECT event_type, event_id, round(value, 6) AS val_r,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY round(value, 6) DESC, event_id) AS rn
        |  FROM events)
        |SELECT event_type, event_id, val_r FROM r WHERE rn <= 10""".stripMargin,
    "e19_filtered_knn" -> filteredKnnSql,
    "e21_filtered_ivf" ->
      // at nProbe = nList the filtered disk probe IS the exact filtered
      // kNN — e19's SQL hash-locks build → write → read → prune →
      // semi-filter → rank end to end
      filteredKnnSql,
    "q32_json_props" ->
      """WITH j AS (
        |  SELECT event_type,
        |    CAST(props->>'k' AS INT) AS k
        |  FROM events)
        |SELECT event_type,
        |  count(*) AS n_events,
        |  count(k) AS n_parsed,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  round(avg(k), 6) AS avg_k
        |FROM j GROUP BY 1""".stripMargin,
    "q33_dpp_join" ->
      // same dim derivation (share ≥ 0.2, an exact-rational compare)
      // over the unpartitioned table — pruning must lose nothing
      """WITH cnt AS (
        |  SELECT event_type, count(*) AS n_type FROM events GROUP BY 1),
        |tot AS (SELECT sum(n_type) AS n_all FROM cnt),
        |dim AS (
        |  SELECT event_type, n_type FROM cnt, tot
        |  WHERE CAST(n_type AS DOUBLE) / n_all >= 0.2)
        |SELECT e.event_type,
        |  count(*) AS n_events,
        |  round(sum(e.value), 2) AS sum_value,
        |  max(d.n_type) AS n_type
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY 1""".stripMargin
  )
}
