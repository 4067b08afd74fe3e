package graft

import graft.core.ConfScope
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the optimizations the engine's scale story rests
  * on must be visible in `explain` — filters reaching the parquet scan,
  * projection pruning the read schema, whole-stage codegen fusing the hot
  * paths, top-k planning as TakeOrderedAndProject.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q5 filter/project: predicates pushed to parquet, schema pruned") {
    val p = plan("q5_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_quantity"), p)
    // only the 5 needed columns are read, not the 11-column table
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_returnflag"), "unused column must be pruned")
  }

  test("q1 aggregation is a two-phase hash agg with map-side combine") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum"), "map-side partial aggregation missing")
    // exactly one exchange: the partial->final hash repartition
    assert("Exchange".r.findAllIn(p).length == 1, p)
  }

  test("g7 top-50 plans as TakeOrderedAndProject (bounded heap, no sort)") {
    val p = SparkEntry.queries("g7_top50")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q2 join broadcasts the customer dimension") {
    val p = plan("q2_top_customers")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("e1 knn probe: broadcast probe, no shuffle of the scan side") {
    val p = plan("e1_knn_probe")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // dot products run through the native codegen'd expression, not the
    // interpreted HOF fold
    assert(p.contains("graft_dot"), "native dot expression missing: " + p)
    assert(!p.contains("zip_with"), "interpreted HOF fold crept back in")
  }

  test("e3 signature pass runs the native graft_proj expression in codegen") {
    // the operator's own executed plan is opaque here (sealAfter returns
    // the materialized pair frame), so audit the signature stage itself:
    // it must plan as the native expression inside WholeStageCodegen,
    // with no interpreted HOF projection
    val p = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(
        graft.functions.VectorFunctions
          .hyperplaneSig(
            org.apache.spark.sql.functions.col("embedding")
              .cast("array<double>"),
            12, 42L).as("bucket"))
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_proj"), "native signature expression missing: " + p)
    // the "*(n)" operator prefix is the whole-stage-codegen marker in the
    // compact plan string; execution itself is covered by the
    // differential spec (a codegen compile failure would fall back to
    // interpreted eval at runtime, which those tests would still pass —
    // but this asserts the expression is codegen-SUPPORTED and fused)
    assert(
      p.contains("*(1) Project [graft_proj"),
      "signature stage fell out of codegen: " + p)
    assert(
      !p.contains("zip_with"),
      "interpreted HOF projection crept back into the signature pass")
  }

  test("SQL entry point: Catalyst optimizations reach parquet through views") {
    // sql1 (4-table join-agg): the dimension sides must broadcast — SQL
    // text through temp views gets the same join planning as DataFrames
    val p1 = plan("sql1_revenue_by_nation")
    assert(p1.contains("BroadcastHashJoin"), p1)
    // sql3 (EXISTS): decorrelates to a semi join, and the subquery's
    // o_totalprice predicate is pushed into the orders parquet scan
    val p3 = plan("sql3_big_spender_exists")
    assert(p3.contains("LeftSemi"), p3)
    assert(
      p3.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice") ||
        p3.contains("GreaterThan(o_totalprice"),
      "predicate did not reach the orders scan: " + p3)
  }

  test("d2 token stats: text scan reads only needed columns") {
    val p = plan("d2_token_stats")
    assert(!p.contains("lang"), "lang/source must be pruned from the scan")
  }

  test("d7 simhash is a codegen'd hash-agg, not an interpreted array fold") {
    // the portable 60-bit variant IS the shipped d7 (oracle-checked);
    // plan shape must match the xxhash64 form: explode → conditional sums
    val p = graft.operators.Dedup
      .simhashSignaturesPortable(spark.read.parquet(s"$dir/documents.parquet"))
      .queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum"), "map-side combine missing")
    // the 64 vote counters must be aggregate columns, not an aggregate()
    // lambda over a 64-wide accumulator array
    assert(!p.contains("aggregate(array"), "interpreted fold crept back in")
  }

  test("d5 minhash signatures: explode + 64 codegen'd min aggregates") {
    val p = graft.operators.Dedup
      .minhashSignatures(
        spark.read.parquet(s"$dir/documents.parquet"), k = 64)
      .queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_min"), "map-side combine missing")
    assert(p.contains("Generate explode"), p)
  }

  test("q15 as-of join plans as ONE window, zero joins") {
    // the whole point of the union+last() rewrite: no join operator of
    // any kind (a naive as-of is a range join that degenerates to
    // BroadcastNestedLoopJoin), one Window over the union
    val p = plan("q15_asof_join")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), "as-of rewrite must not contain a join: " + p)
  }

  test("q16/st5/d14: no nested-loop or cartesian join anywhere") {
    // the bucketed-range, interval and banded-Hamming joins exist
    // precisely to keep inequality predicates OUT of the join operator;
    // if one ever degenerates, it shows up here before it ships
    for (q <- Seq("q16_range_join", "st5_attribution_join",
        "d14_simhash_neardup", "p1_e2e_prep")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to nested-loop: " + p)
      assert(!p.contains("CartesianProduct"), s"$q has a cross product: " + p)
    }
  }

  test("d12 split assignment adds no exchange beyond the stratum window") {
    // assignSplit is a stateless projection; the only shuffle the whole
    // d12 result needs is stratumCap's window partitioning
    val p = plan("d12_sample_split")
    assert("Exchange".r.findAllIn(p).length <= 1, p)
  }

  test("d16 chunking is a stateless flatMap: no key shuffle, codegen'd") {
    // the chunker's scale story IS the absence of a keyed shuffle — it
    // must parallelize with the input splits. (A RoundRobin REPARTITION
    // exchange is allowed: that's Parallelism.ensure restoring width on
    // the tiny single-split test scan, not data movement the algorithm
    // needs — on a many-split 100 TB input it doesn't fire.)
    val p = plan("d16_chunking")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("d19 packing is ONE window exchange on the shard key") {
    val p = plan("d19_pack_sequences")
    assert("Exchange".r.findAllIn(p).length == 1, p)
    assert(p.contains("Window"), p)
  }

  test("d21 mixture sampling is a stateless projection: zero exchanges") {
    val p = plan("d21_mixture")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
  }

  test("d26 char entropy is a stateless projection: zero key exchanges, no join") {
    val p = plan("d26_char_entropy")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("d24 filter gate is a stateless projection: zero key exchanges, no join") {
    // the gate's scale story: one pass inside the scan projection (a
    // RoundRobin width-restoring repartition on the tiny test scan is
    // allowed, as in d16)
    val p = plan("d24_filter_gate")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("e14 PQ encoding is a stateless projection: no key exchange, no join") {
    // the codebook rides as literals — encoding must never join or
    // shuffle (a RoundRobin width-restoring repartition on the tiny
    // test scan is allowed, as in d16/d24)
    val p = plan("e14_pq_codes")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("d22 training order is ONE window exchange on the shard draw") {
    val p = plan("d22_training_order")
    assert("Exchange".r.findAllIn(p).length == 1, p)
    assert(p.contains("Window"), p)
  }

  test("e9 top-k agg: bounded partial aggregate, no window, no sort of all pairs") {
    // the whole point of the aggregate form: the k-capped heap is the
    // PARTIAL state (ObjectHashAggregate partial_graft_topk before the
    // exchange), and no Window/row_number ranks the full scored stream
    val p = plan("e9_knn_topk_agg")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_graft_topk"), "map-side bounded partial missing: " + p)
    assert(!p.contains("Window"), "window crept back into the agg form: " + p)
  }

  test("d17 boilerplate join is statistics-driven, never hinted broadcast") {
    // the boiler side (distinct 3-grams with df >= minDf) grows ~linearly
    // with corpus size — a hardcoded broadcast hint would OOM the driver
    // at 100 TB. The optimized logical plan must carry NO join hint; AQE
    // and size stats are free to broadcast at small scale.
    val (perDoc, pairs) = graft.operators.TextOps.boilerplateStages(
      spark.read.parquet(s"$dir/documents.parquet"),
      n = 3, minDf = 5, maxRatio = 0.5)
    try {
      val p = perDoc.queryExecution.optimizedPlan.toString
      assert(!p.contains("strategy=broadcast"),
        "boiler join must not be hint-broadcast: " + p)
    } finally pairs.unpersist()
  }

  test("d11 tf-idf document-frequency join is statistics-driven, never hinted") {
    // the DF table is vocabulary-sized — sublinear (Heaps' law) but tens
    // of GB at web scale; a hardcoded broadcast hint would OOM the
    // driver there. No join in the optimized plan may carry a hint; AQE
    // and size stats are free to broadcast at gate scale.
    val (keywords, tf) = graft.operators.TextOps.tfidfStages(
      spark.read.parquet(s"$dir/documents.parquet"), k = 3)
    try {
      val p = keywords.queryExecution.optimizedPlan.toString
      assert(!p.contains("strategy=broadcast"),
        "tf-idf joins must not be hint-broadcast: " + p)
    } finally tf.unpersist()
  }

  test("d18 decontamination broadcasts the benchmark gram table") {
    // the corpus stream must never shuffle against the benchmark side:
    // one broadcast join + the per-doc re-aggregation only
    val p = plan("d18_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  /** True iff some exchange in `p` re-shuffles cached (edge-sized) rows:
    * walking down from the exchange reaches an InMemoryTableScan without
    * passing a partial aggregate. An exchange above a partial aggregate
    * carries map-side-combined partials (bounded by the group-key
    * cardinality); an exchange straight over the cached scan would ship
    * the full edge set every iteration — the scale bug these audits
    * exist to catch.
    */
  private def reshufflesCachedRows(
      p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def reachesCacheUnaggregated(n: SparkPlan): Boolean = n match {
      case _: BaseAggregateExec => false
      case _: InMemoryTableScanExec => true
      case other => other.children.exists(reachesCacheUnaggregated)
    }
    p.collect {
      case e: ShuffleExchangeExec if reachesCacheUnaggregated(e.child) => e
    }.nonEmpty
  }

  /** Capture a concrete (non-adaptive) executed plan so the exchange
    * audit can walk the real operator tree.
    */
  private def concretePlan(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    ConfScope(spark, "spark.sql.adaptive.enabled" -> "false")(
      build.queryExecution.executedPlan)
  }

  test("g25 kCore peel round: cached adjacency never re-exchanges, count is map-side combined") {
    // the r7 shape joined the vtx-partitioned adjacency on vtx THEN on
    // nbr — the second join re-exchanged the edge-sized intermediate
    // every peel round. The fixed stage filters on the nbr-partitioned
    // cached copy first, aggregates per vtx (partial counts bound the
    // exchange at |V|), then semi-joins survivors — nothing edge-sized
    // ever moves.
    val edges = graft.sources.SyntheticGraph.portable(spark, 400, 1200, "g25")
    val (ue, und) = graft.operators.GraphBuilder.kCoreAdjacency(edges)
    try {
      und.count() // populate the cache the audit walks
      val s = graft.operators.GraphBuilder.vertices(edges)
      val p = concretePlan(graft.operators.GraphBuilder.kCoreInternalDeg(und, s))
      assert(!reshufflesCachedRows(p), p.toString)
      assert(p.toString.contains("partial_count"), p.toString)
      // both survivor joins are shuffled-hash (cached side streams, no
      // per-round re-sort of the adjacency)
      assert(!p.toString.contains("SortMergeJoin"), p.toString)
    } finally { ue.unpersist(); und.unpersist() }
  }

  test("io3 bucketed join: neither fact side exchanges") {
    // the write-time bucketBy(8) shuffle must be the ONLY shuffle these
    // tables ever pay for this join key: the read-side join plans with
    // zero Exchange operators on either input
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (to, tl) = (s"t_ord_$tag", s"t_li_$tag")
    try {
      spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(to)
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(tl)
      // disable auto-broadcast for the audit: at 100 TB neither fact
      // side fits a broadcast — the bucketed SMJ path is the one the
      // layout exists for (at gate scale the planner would broadcast
      // and skip bucketing entirely)
      val p =
        ConfScope(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          val j = spark.table(to)
            .join(spark.table(tl), col("o_orderkey") === col("l_orderkey"))
          concretePlan(j).toString
        }
      assert(!p.contains("Exchange"), p)
      assert(p.contains("Bucketed: true"), p)
      assert(p.contains("SortMergeJoin"), p)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $to")
      spark.sql(s"DROP TABLE IF EXISTS $tl")
    }
  }

  test("g27 weighted peel round: cached adjacency never re-exchanges") {
    val sp = spark
    import sp.implicits._
    val we = graft.sources.SyntheticGraph.portable(spark, 400, 1200, "g27t")
      .groupBy("src", "dst")
      .agg(org.apache.spark.sql.functions.count("*").cast("double").as("w"))
    val und = graft.operators.GraphBuilder.kCoreWeightedAdjacency(we)
    try {
      und.count()
      val s = graft.operators.GraphBuilder.vertices(we)
      val p = concretePlan(graft.operators.GraphBuilder.kCoreStrength(und, s))
      assert(!reshufflesCachedRows(p), p.toString)
      assert(p.toString.contains("partial_sum"), p.toString)
      assert(!p.toString.contains("SortMergeJoin"), p.toString)
    } finally und.unpersist()
  }

  test("g52 Louvain gain round: cached adjacency never re-exchanges, k_vc map-side combined") {
    // the labels ship TO the nbr-partitioned cached adjacency
    // (shuffle_hash pinned — no per-round re-sort of the big side);
    // the candidate sum combines map-side; the |C|-sized community
    // stats broadcast by statistics
    val edges = graft.sources.SyntheticGraph.portable(spark, 400, 1200, "g52t")
    val (we, und, kv, m) = graft.operators.Louvain.louvainFrames(
      graft.operators.Louvain.fromEdges(edges))
    try {
      und.count(); kv.count()
      // labels as the loop passes them: a checkpointed state frame,
      // not a projection of the kv cache (|V|-sized state frames are
      // EXPECTED to move — the audit targets the edge-sized adjacency)
      val labels = graft.operators.CacheScope.rotate(
        kv.select(col("id"), col("id").as("lbl")))
      // the |E|-SCALE stage of the round, mirroring louvainRound's
      // cand construction exactly: the k_vc aggregate must combine
      // map-side so the exchange carries (vtx, community) partials,
      // never raw adjacency rows, and the cached adjacency must
      // stream into the join (shuffle_hash — no per-round re-sort).
      // The later decision joins operate on the ≤|cand|-sized
      // candidate stream against |C|-sized stats (shuffling while |C|
      // is large, AQE-broadcast once communities merge) — candidate-
      // sized by construction, not audited here.
      val cand = und
        .join(
          labels.select(col("id").as("nbr"), col("lbl").as("clbl"))
            .hint("shuffle_hash"),
          Seq("nbr"))
        .groupBy(col("vtx"), col("clbl"))
        .agg(org.apache.spark.sql.functions.sum(col("w")).as("kvc"))
      val p = concretePlan(cand)
      assert(!reshufflesCachedRows(p), p.toString)
      assert(p.toString.contains("partial_sum"), p.toString)
      assert(p.toString.contains("ShuffledHashJoin"), p.toString)
    } finally { we.unpersist(); und.unpersist(); kv.unpersist() }
  }

  test("g53 coreness h-index round: adjacency streams into the join; one intrinsic exchange") {
    // the h-index needs ORDER STATISTICS of each vertex's neighbor
    // values, so ONE |E|-sized exchange per round (re-keying the
    // joined stream to vtx for the degree-bounded window) is intrinsic
    // — the same cost class as a PageRank iteration's contribution
    // shuffle. What must NOT happen: the cached adjacency re-exchanging
    // BEFORE its join (that would double the per-round exchanges), a
    // per-round re-sort of the cached side (ShuffledHashJoin, not
    // SMJ), or a global RangePartitioning sort.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val edges = graft.sources.SyntheticGraph.portable(spark, 400, 1200, "g53t")
    val (ue, und) = graft.operators.GraphBuilder.kCoreAdjacency(edges)
    try {
      und.count()
      val verts = graft.operators.GraphBuilder.vertices(edges)
      val c = graft.operators.CacheScope.rotate(
        verts.select(col("id"),
          org.apache.spark.sql.functions.lit(3L).as("val")))
      val p = concretePlan(
        graft.operators.GraphBuilder.corenessRound(und, verts, c))
      // no exchange between the cache scan and its join: a shuffle that
      // reaches the cache WITHOUT passing a join or aggregate re-keys
      // the adjacency itself
      def reachesCachePreJoin(n: SparkPlan): Boolean = n match {
        case _: BaseAggregateExec => false
        case _: BaseJoinExec => false
        case _: InMemoryTableScanExec => true
        case other => other.children.exists(reachesCachePreJoin)
      }
      val preJoin = p.collect {
        case e: ShuffleExchangeExec if reachesCachePreJoin(e.child) => e
      }
      assert(preJoin.isEmpty, p.toString)
      assert(p.toString.contains("ShuffledHashJoin"), p.toString)
      assert(p.toString.contains("partial_max"), p.toString)
      assert(!p.toString.toLowerCase.contains("rangepartitioning"),
        p.toString)
    } finally { ue.unpersist(); und.unpersist() }
  }

  test("g54 matching round: endpoint minima map-side combined, nothing edge-sized re-keyed") {
    val edges = graft.sources.SyntheticGraph.portable(spark, 400, 1200, "g54t")
    val e = graft.operators.Louvain.fromEdges(edges)
      .select(col("u"), col("v"),
        org.apache.spark.sql.functions
          .md5(org.apache.spark.sql.functions
            .concat_ws(":", col("u"), col("v"))).as("rk"))
      .persist()
    try {
      e.count()
      val (m, nextE) = graft.operators.Matching.matchingRound(e, round = 1)
      val p = concretePlan(nextE)
      assert(p.toString.contains("partial_min"), p.toString)
      assert(!p.toString.contains("CartesianProduct"), p.toString)
      assert(m.columns.toSeq == Seq("u", "v", "round"))
    } finally e.unpersist()
  }

  test("g26 PPR iteration: cached edges never re-exchange, recombine map-side combined") {
    val sp = spark
    import sp.implicits._
    val edges = graft.sources.SyntheticGraph.portable(spark, 400, 1200, "g26t")
    val e = edges.select(col("src"), col("dst")).dropDuplicates()
      .repartition(col("src")).persist()
    val outdeg = e.groupBy(col("src").as("id"))
      .agg(org.apache.spark.sql.functions.count("*").as("outdeg")).persist()
    try {
      e.count(); outdeg.count()
      val seedDf = Seq(0L, 1L).toDF("seed")
      val state = seedDf.select(
        col("seed"), col("seed").as("id"),
        org.apache.spark.sql.functions.lit(1.0).as("rank"))
      val p = concretePlan(
        graft.operators.MultiPpr.iterate(e, outdeg, seedDf, state, 0.85))
      assert(!reshufflesCachedRows(p), p.toString)
      assert(p.toString.contains("partial_sum"), p.toString)
    } finally { e.unpersist(); outdeg.unpersist() }
  }

  test("g28 BFS relax round: cached edges never re-exchange, min map-side combined") {
    val sp = spark
    import sp.implicits._
    val edges = graft.sources.SyntheticGraph.portable(spark, 400, 1200, "g28t")
    val e = edges.select(col("src").as("id"), col("dst")).dropDuplicates()
      .repartition(col("id")).persist()
    try {
      e.count()
      val dist = Seq(0L, 1L).toDF("seed").select(
        col("seed"), col("seed").as("id"),
        org.apache.spark.sql.functions.lit(0L).as("hops"))
      val p = concretePlan(
        graft.operators.ShortestPaths.multiRelaxOnce(e, dist))
      assert(!reshufflesCachedRows(p), p.toString)
      assert(p.toString.contains("partial_min"), p.toString)
    } finally e.unpersist()
  }

  test("g24 HITS gathers: cached edge copies never re-exchange, sums map-side combined") {
    val edges = SparkEntry.queries("g1_edges")(spark, dir)
    val (eSrc, eDst) = graft.operators.Hits.edgeCopies(edges)
    try {
      eSrc.count(); eDst.count()
      val verts = graft.operators.GraphBuilder.vertices(edges)
      val h0 = verts.select(
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.lit(1.0).as("h"))
      val pAuth = concretePlan(graft.operators.Hits.authGather(eSrc, h0))
      assert(!reshufflesCachedRows(pAuth), pAuth.toString)
      assert(pAuth.toString.contains("partial_sum"), pAuth.toString)
      val a1 = graft.operators.Hits.authGather(eSrc, h0)
      val pHub = concretePlan(graft.operators.Hits.hubGather(eDst, a1))
      assert(!reshufflesCachedRows(pHub), pHub.toString)
      assert(pHub.toString.contains("partial_sum"), pHub.toString)
    } finally { eSrc.unpersist(); eDst.unpersist() }
  }

  test("g36 walk step: cached adjacency never re-exchanges, only the state moves") {
    import org.apache.spark.sql.functions.{array, col}
    val edges = graft.sources.SyntheticGraph.portable(spark, 300, 900, "g36")
    val adj = edges.select(col("src"), col("dst")).distinct()
      .groupBy(col("src"))
      .agg(org.apache.spark.sql.functions.array_sort(
        org.apache.spark.sql.functions.collect_list(col("dst"))).as("nbrs"))
      .repartition(col("src"))
      .persist()
    try {
      adj.count() // populate the cache the audit walks
      val live = graft.operators.GraphBuilder.vertices(edges).select(
        col("id").as("walk_id"), col("id").as("cur"),
        array(col("id")).as("path"))
      val p = concretePlan(graft.operators.Walks.walkStep(adj, live, 1, "g36"))
      assert(!reshufflesCachedRows(p), p.toString)
    } finally adj.unpersist()
  }

  test("g38 weighted walk step: cached CDF adjacency never re-exchanges") {
    import org.apache.spark.sql.functions.{array, col, lit}
    val edges = graft.sources.SyntheticGraph.portable(spark, 300, 900, "g38")
      .distinct()
      .withColumn("w", lit(1L) + org.apache.spark.sql.functions.pmod(
        col("src") + col("dst"), lit(5L)))
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(col("src")).orderBy(col("dst"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val adj = edges
      .groupBy(col("src"), col("dst"))
      .agg(org.apache.spark.sql.functions.sum(col("w")).as("w"))
      .withColumn("cumw",
        org.apache.spark.sql.functions.sum(col("w")).over(wCum))
      .groupBy(col("src"))
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct(col("dst"), col("cumw"))))
        .as("dc"))
      .select(
        col("src"),
        org.apache.spark.sql.functions.transform(
          col("dc"), s => s.getField("dst")).as("nbrs"),
        org.apache.spark.sql.functions.transform(
          col("dc"), s => s.getField("cumw")).as("cums"))
      .withColumn("totw",
        org.apache.spark.sql.functions.element_at(col("cums"), -1))
      .repartition(col("src"))
      .persist()
    try {
      adj.count()
      val live = graft.operators.GraphBuilder.vertices(edges).select(
        col("id").as("walk_id"), col("id").as("cur"),
        array(col("id")).as("path"))
      val p = concretePlan(
        graft.operators.Walks.weightedWalkStep(adj, live, 1, "g38"))
      assert(!reshufflesCachedRows(p), p.toString)
    } finally adj.unpersist()
  }

  test("g41 node2vec step: cached adjacency never re-exchanges on either join") {
    // the biased step joins the partitioned adjacency TWICE (cur
    // co-partitioned, prev state-sized) — neither join may re-shuffle
    // the cached edge-sized rows; only the walk state moves
    import org.apache.spark.sql.functions.{array, col, lit}
    val edges = graft.sources.SyntheticGraph.portable(spark, 300, 900, "g41")
    val adj = edges.select(col("src"), col("dst")).distinct()
      .groupBy(col("src"))
      .agg(org.apache.spark.sql.functions.array_sort(
        org.apache.spark.sql.functions.collect_list(col("dst"))).as("nbrs"))
      .repartition(col("src"))
      .persist()
    try {
      adj.count()
      val live = graft.operators.GraphBuilder.vertices(edges).select(
        col("id").as("walk_id"), col("id").as("prev"), col("id").as("cur"),
        array(col("id")).as("path"))
      val p = concretePlan(
        graft.operators.Walks.node2vecStep(adj, live, 2, "g41", 1L, 4L, 2L))
      assert(!reshufflesCachedRows(p), p.toString)
    } finally adj.unpersist()
  }

  test("d30 token budget is ONE window exchange on the source key") {
    val p = plan("d30_token_budget")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("e19 filtered knn: the label predicate reaches the parquet scan") {
    // pre-filter semantics live or die on pushdown: the selectivity must
    // be taken in bytes-never-decoded, not filtered after the scan
    val p = plan("e19_filtered_knn")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("In(label"), "label predicate not pushed: " + p)
  }

  test("q33 fact scan is pruned by a DYNAMIC partition filter from the dim") {
    // the dim's filter is on a non-join column (share >= 0.2), so static
    // pruning cannot apply — the partition filter must be a runtime
    // dynamicpruning subquery fed by the dim
    import org.apache.spark.sql.expressions.Window
    val ev = graft.sources.Tables.events(spark, dir)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_dpp_spec").toString
    try {
      ev.select(col("event_id"), col("value"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      val fact = spark.read.parquet(tmp)
      val dim = ev.groupBy(col("event_type"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_type"))
        .withColumn(
          "frac",
          col("n_type") / org.apache.spark.sql.functions
            .sum(col("n_type")).over(Window.partitionBy()))
        .filter(col("frac") >= 0.2)
        .select(col("event_type"), col("n_type"))
      val p = fact.join(dim, Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_events"))
        .queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        "fact partition filter is not dynamic: " + p)
    } finally {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(pth => java.nio.file.Files.deleteIfExists(pth))
    }
  }

  test("q34 shape: a size-tuned session injects a runtime bloom filter") {
    // the mechanism behind q34's scale story: with the injection
    // thresholds representing a big fact (forced low here) and the
    // broadcast path off (a broadcast join needs no bloom), the
    // selective dim filter must materialize as bloom_filter_agg on the
    // dim and a might_contain pre-filter on the FACT side of the
    // shuffle — rows dropped before they are exchanged. Confs restored
    // by ConfScope; the q34 gate row runs under defaults and pins that
    // injection never changes the answer.
    ConfScope(spark,
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
        -> "100000000",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = spark.read.parquet(s"$dir/lineitem.parquet")
        .join(
          spark.read.parquet(s"$dir/orders.parquet")
            .filter(col("o_totalprice") > 400000),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter_agg"), "no bloom built on dim: " + p)
      assert(p.contains("might_contain"), "no fact-side pre-filter: " + p)
    }
  }

  test("d32 temperature thresholds join hint-free; draw stays a projection") {
    // the per-source threshold table is |sources|-bounded but the join
    // back to the corpus must stay statistics-driven (d17 discipline);
    // the md5 draw itself adds no exchange beyond that join
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.operators.Sampling
      .temperatureSample(docs, targetFrac = 0.5)
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("strategy=broadcast"),
      "threshold join must not be hint-broadcast: " + p)
  }

  test("d41 bm25: term filter inside the scan, df/stats joins hint-free, top-k as heap") {
    // audit the pre-seal stage (sealAfter's checkpoint hides the plan —
    // the tfidfStages discipline)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (ranked, base) = graft.operators.TextOps
      .bm25Stages(docs, Seq("hash", "join", "scan"), 20)
    try {
      val opt = ranked.queryExecution.optimizedPlan.toString
      assert(!opt.contains("strategy=broadcast"),
        "df/avgdl joins must stay statistics-driven: " + opt)
      val p = ranked.queryExecution.executedPlan.toString
      // the global top-20 cut must plan as a bounded heap, never a sort
      assert(p.contains("TakeOrderedAndProject"), p)
    } finally { base.unpersist(); () }
  }

  test("d41 bm25 leaves nothing persisted in the cache manager") {
    spark.sharedState.cacheManager.clearCache()
    graft.operators.TextOps
      .bm25TopK(
        spark.read.parquet(s"$dir/documents.parquet"),
        Seq("hash", "join"), k = 5)
      .count()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("d45 weighted sample plans as one projection + TakeOrderedAndProject") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.operators.Sampling
      .weightedSample(docs, "doc_id", "n_chars", k = 25)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    // no shuffle beyond the heap's single-partition merge: the clock is
    // a stateless scan projection
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("d48 ppJoin: prefix candidates are an equi-join on the element, never a cross product") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = concretePlan(graft.operators.Dedup.ppJoin(docs, tau = 0.8))
    assert(!p.toString.contains("CartesianProduct"), p.toString)
    assert(!p.toString.contains("BroadcastNestedLoopJoin"), p.toString)
  }

  test("d50/d50b span dedup: no cross join, no global sort anywhere") {
    // the gram index is a hash shuffle on the 8-byte digest and the
    // run detection a doc-partitioned window — a rangepartitioning
    // exchange (global sort) or a degenerate join would mean the
    // suffix-array re-expression stopped being linear
    for (q <- Seq("d50_span_dedup", "d50b_span_removal")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to nested-loop: " + p)
      assert(!p.contains("CartesianProduct"), s"$q has a cross product: " + p)
      assert(!p.contains("rangepartitioning"), s"$q global-sorts: " + p)
    }
  }

  test("d51/d51b winnowing: doc-bounded window, equi-join pair stage, no global sort") {
    val p = plan("d51_winnow")
    assert(!p.contains("CartesianProduct"), "d51 has a cross product: " + p)
    // the winnowing window partitions by doc_id — a rangepartitioning
    // exchange would mean the per-doc frame became a global sort
    assert(!p.contains("rangepartitioning"), "d51 global-sorts: " + p)
    // the pair stage (audited PRE-seal — the public result is a
    // checkpoint scan) is an equi-join keyed on the fingerprint, never
    // a cross product
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (out, fps) = graft.operators.Dedup.winnowPairsStage(
      docs, 4, 4, 2, 50)
    try {
      val pp = out.queryExecution.executedPlan.toString
      assert(!pp.contains("CartesianProduct"), pp)
      assert(!pp.contains("BroadcastNestedLoopJoin"), pp)
      assert(!pp.contains("rangepartitioning"), pp)
      assert(pp.contains("SortMergeJoin") || pp.contains("ShuffledHashJoin")
        || pp.contains("BroadcastHashJoin"), pp)
    } finally fps.unpersist(false)
  }

  test("d53 CMS: the probe joins the depth*width sketch BROADCAST, no sort") {
    // audited PRE-seal (the public result is a checkpoint scan)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (out, toks) = graft.operators.CountMin.pointEstimatesStage(
      docs, 3, 128)
    try {
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        "sketch side must broadcast (it is <= depth*width rows): " + p)
      assert(!p.contains("rangepartitioning"), "CMS never needs a sort: " + p)
      assert(p.contains("partial_count") || p.contains("partial_min"),
        "sketch build must map-side combine: " + p)
    } finally toks.unpersist(false)
  }

  test("g31 SCC HashMin round: cached edge copy never re-exchanges, min map-side combined") {
    // the inner fixpoint both FW and BW passes run — same discipline as
    // g28: the to-partitioned persisted edge copy streams, only the
    // |active|-row label frame ships to it
    val edges = graft.sources.SyntheticGraph.portable(spark, 400, 750, "g31")
    val e = graft.operators.Scc.minLabelEdges(edges, reverse = false)
    val eRev = graft.operators.Scc.minLabelEdges(edges, reverse = true)
    try {
      e.count(); eRev.count()
      val verts = graft.operators.GraphBuilder.vertices(edges)
      val labels = verts.select(col("id"), col("id").as("lbl"))
      for (cached <- Seq(e, eRev)) {
        val p = concretePlan(
          graft.operators.Scc.minLabelRound(cached, labels))
        assert(!reshufflesCachedRows(p), p.toString)
        assert(p.toString.contains("partial_min"), p.toString)
        assert(!p.toString.contains("SortMergeJoin"), p.toString)
      }
    } finally { e.unpersist(); eRev.unpersist() }
  }

  test("g44 CC diffusion round: cached symmetric adjacency never re-exchanges") {
    val edges = graft.sources.SyntheticGraph.portable(spark, 400, 1200, "g44")
    val (ue, sym) = graft.operators.GraphBuilder.ccAdjacency(edges)
    try {
      sym.count()
      val verts = graft.operators.GraphBuilder.vertices(edges)
      val labels = verts.select(col("id"), col("id").as("lbl"))
      val p = concretePlan(
        graft.operators.GraphBuilder.ccRound(sym, verts, labels))
      assert(!reshufflesCachedRows(p), p.toString)
      assert(p.toString.contains("partial_min"), p.toString)
      assert(!p.toString.contains("SortMergeJoin"), p.toString)
    } finally { ue.unpersist(); sym.unpersist() }
  }

  test("d38 pii redaction is a stateless projection: zero key exchanges, no join") {
    val p = graft.operators.TextOps
      .redactPii(spark.read.parquet(s"$dir/documents.parquet"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("e23 NSW hop: cached adjacency never re-exchanges, only the frontier moves") {
    val g = graft.operators.Similarity.knnGraphIvf(
      spark.read.parquet(s"$dir/embeddings.parquet"),
      m = 4, nList = 8, nProbe = 8)
    val adj = g.select(col("src"), col("nbr"))
      .repartition(col("src")).persist()
    try {
      adj.count()
      val sp = spark
      import sp.implicits._
      val frontier = Seq((0L, 1L), (1L, 2L)).toDF("probe_id", "src")
      val p = concretePlan(
        graft.operators.Similarity.nswExpand(adj, frontier))
      assert(!reshufflesCachedRows(p), p.toString)
      assert(!p.toString.contains("SortMergeJoin"), p.toString)
    } finally adj.unpersist()
  }

  test("g30 ANF sketch round: cached edges never re-exchange, union folds map-side") {
    val edges = graft.sources.SyntheticGraph.portable(spark, 300, 600, "g30")
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("dst")).persist()
    try {
      e.count()
      val state = graft.operators.GraphBuilder.vertices(edges)
        .groupBy(col("id"))
        .agg(org.apache.spark.sql.functions
          .hll_sketch_agg(col("id"), org.apache.spark.sql.functions.lit(12))
          .as("sk"))
      val p = concretePlan(graft.operators.Anf.sketchRound(e, state))
      assert(!reshufflesCachedRows(p), p.toString)
      // the neighbor-sketch merge must fold map-side (partial union
      // aggregate), and the cached side must not pay a per-round sort
      assert(p.toString.toLowerCase.contains("partial_hll"), p.toString)
      assert(!p.toString.contains("SortMergeJoin"), p.toString)
    } finally e.unpersist()
  }

  test("io10 nested pushdown: struct predicate reaches the scan, unused struct field pruned") {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(
        col("event_id"),
        org.apache.spark.sql.functions
          .struct(col("user_id"), col("event_type")).as("meta"),
        org.apache.spark.sql.functions
          .struct(col("value"),
            org.apache.spark.sql.functions.unix_micros(col("ts"))
              .as("ts_us")).as("metrics"))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_nested_plan").toString
    try {
      ev.write.mode("overwrite").parquet(tmp)
      val p = spark.read.parquet(tmp)
        .filter(col("meta.event_type") === "purchase")
        .groupBy(col("meta.user_id").as("user_id"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.sum(col("metrics.value"))
            .as("s"))
        .queryExecution.executedPlan.toString
      // the nested predicate must reach parquet as a pushed filter...
      assert(p.contains("PushedFilters: [IsNotNull(meta.event_type)"), p)
      // ...and nested schema pruning must drop the untouched
      // metrics.ts_us from the read schema entirely
      assert(p.contains("ReadSchema"), p)
      assert(!p.contains("ts_us"), "unused nested field must be pruned: " + p)
    } finally {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  test("g48 MIS round: cached adjacency never re-exchanges, min-neighbor folds map-side") {
    val edges = graft.sources.SyntheticGraph.portable(spark, 300, 450, "g48")
    val sym = edges.filter(col("src") =!= col("dst"))
    val und = sym.select(col("src"), col("dst"))
      .union(sym.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist()
    try {
      und.count()
      val ap = graft.operators.GraphBuilder.vertices(edges)
        .select(col("id"),
          org.apache.spark.sql.functions.xxhash64(col("id")).as("p"))
      val p = concretePlan(graft.operators.Mis.misNbrMin(und, ap))
      assert(!reshufflesCachedRows(p), p.toString)
      assert(p.toString.contains("partial_min"), p.toString)
      assert(!p.toString.contains("SortMergeJoin"), p.toString)
    } finally { und.unpersist(); () }
  }

  test("e25 Lloyd pass: centroids broadcast over the cached base, argmin folds map-side") {
    // the corpus side must NEVER shuffle raw: the only exchange carries
    // the min_by partials (k candidate rows already collapsed to 1 per
    // vector map-side), and the k-row centroid frame rides as a
    // broadcast — a shuffle-shaped centroid join would re-exchange the
    // corpus once per Lloyd iteration
    val base = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(
        col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .persist()
    try {
      base.count()
      val cents = org.apache.spark.sql.functions.broadcast(
        base.orderBy(col("vec_id")).limit(4)
          .select(col("vec_id").as("c_id"), col("e").as("c_emb")))
      val p = concretePlan(
        graft.operators.Similarity.assignEuclid(base, cents))
      assert(!reshufflesCachedRows(p), p.toString)
      assert(p.toString.contains("BroadcastNestedLoopJoin"), p.toString)
      assert(p.toString.contains("partial_min_by"), p.toString)
      assert(!p.toString.contains("SortMergeJoin"), p.toString)
    } finally base.unpersist()
  }

  test("d57 URL dedup: stateless canonicalization, one exchange, no join") {
    // the canonicalizer is pure string algebra inside the scan's
    // projection; the ONLY exchange is the dedup key — a join- or
    // window-shaped canonicalization would not survive 100 TB
    val p = plan("d57_url_dedup")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert("Exchange".r.findAllIn(p).length == 1, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("m6 interleaved pack: one shard exchange serves window AND aggregate") {
    // the per-source window partitioning (hash(source)) satisfies the
    // (source, seq_id) clustering of the final aggregate — rows with
    // equal keys are already co-located, so the aggregate must NOT
    // re-exchange; a second shuffle here doubles the pipeline's cost
    val p = plan("m6_interleaved_pack")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    assert("Exchange".r.findAllIn(p).length == 1, p)
  }

  test("d58 TextRank edges: pair generation is a projection, count map-side") {
    // no positional self-join: pairs come from indexed transform over
    // the token array; the edge count is hash-aggregated with a
    // partial (map-side) phase before its single exchange
    val p = graft.operators.TextOps
      .cooccurrenceEdges(
        spark.read.parquet(s"$dir/documents.parquet"), window = 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_count"), p)
    assert("Exchange".r.findAllIn(p).length == 1, p)
  }

  test("q52 interval overlap: shuffled equi-join, no nested-loop corner") {
    // the bucketed rewrite must plan as a plain equi-join on
    // (key, bucket) — a theta-shaped plan (BroadcastNestedLoopJoin /
    // CartesianProduct) means the rewrite silently degraded
    val p = plan("q52_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(
      p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"),
      p)
  }

  test("q51 row checks: all conditional sums ride ONE lineitem scan") {
    // the row-check subset of the expectations suite is a single
    // aggregate over a single scan — adding a check must add a column,
    // never a pass over the data
    import graft.operators.Profiler
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    // the pre-checkpoint wide aggregate (the summary melt reads its
    // 1-row checkpoint, so the shared scan is only visible here)
    val p = Profiler.rowCheckWide(
      li,
      Seq(
        Profiler.RowCheck("a", col("l_quantity") > 45.0),
        Profiler.RowCheck("b", col("l_discount") > 0.08),
        Profiler.RowCheck("c", col("l_shipdate").isNull)))
      .queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(p).length == 1,
      "three row checks must share one scan: " + p)
    assert(p.contains("partial_sum"), p)
  }
}
