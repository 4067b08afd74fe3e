package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{
  ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Vector-similarity operators over an `embeddings(vec_id, embedding
  * ARRAY<FLOAT>, label)` table.
  *
  * Dot products run through a native codegen'd Catalyst expression
  * ([[graft.functions.DotProductExpr]]) emitting a tight primitive loop —
  * the `zip_with` + `aggregate` composition it replaces evaluated its
  * lambdas interpreted, one call per element per pair, and dominated the
  * all-pairs profiles. The fold order is unchanged (sequential,
  * left-to-right), so results are bit-identical to the HOF form and to
  * the DuckDB oracle's fold modulo the final rounding; a differential
  * spec pins native ≡ HOF exactly.
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays (codegen'd). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotNative(a, b)

  /** The HOF composition [[dot]] replaced — kept as the differential
    * oracle for the native expression (DotProductSpec pins bit-equality).
    */
  private[graft] def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x * y),
      lit(0.0),
      (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine with PRE-materialized norms: `dot(a,b)/(na·nb)`. The
    * expression tree is identical to [[cosine]] (same fold, same
    * multiply/divide order), so results are bit-equal — but the two norm
    * folds are paid once per VECTOR instead of once per PAIR: even with
    * the codegen'd dot, an all-pairs stage does 1 loop per pair instead
    * of 3.
    */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Brute-force top-k nearest neighbours of one probe vector by cosine.
    * The probe is a one-row frame → broadcast join; the scan side streams
    * once with no shuffle; TakeOrderedAndProject bounds the result. This
    * is the exact-baseline path; [[knnLsh]] is the scale path.
    */
  def knnToProbe(embeddings: DataFrame, probeId: Long, k: Int): DataFrame = {
    val probe = broadcast(
      embeddings
        .filter(col("vec_id") === probeId)
        .select(asDouble(col("embedding")).as("probe_emb"))
        // probe norm computed once in the 1-row broadcast frame, not
        // re-folded per scanned row
        .withColumn("probe_nrm", norm(col("probe_emb"))))
    embeddings
      .filter(col("vec_id") =!= probeId)
      .crossJoin(probe)
      .select(
        col("vec_id"),
        round(
          cosinePre(
            asDouble(col("embedding")), col("probe_emb"),
            norm(asDouble(col("embedding"))), col("probe_nrm")),
          6).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  /** Matryoshka-style truncation: keep the first `m` dimensions and
    * L2-renormalize onto the unit sphere — the retrieval-cost/quality
    * dial MRL-trained embedding models expose (use a prefix of the
    * vector at a fraction of the index and scoring cost). A pure
    * projection inside the scan — no shuffle, no action: at 100 TB the
    * truncation parallelizes with the input splits and cuts every
    * downstream byte count by m/dim. Vectors whose first `m` dims are
    * all zero cannot be placed on the unit sphere and are dropped
    * (documented contract; dot-product retrieval over the output
    * assumes unit vectors). Output: `vec_id, label, tvec ARRAY<DOUBLE>`.
    */
  def truncateRenorm(embeddings: DataFrame, m: Int): DataFrame = {
    require(m >= 1, "m must be >= 1")
    val tv = slice(asDouble(col("embedding")), 1, m)
    val nrm = norm(tv)
    embeddings
      .select(col("vec_id"), col("label"), tv.as("tv"), nrm.as("nrm"))
      .filter(col("nrm") > 0.0)
      .select(
        col("vec_id"), col("label"),
        transform(col("tv"), x => x / col("nrm")).as("tvec"))
  }

  /** Top-k retrieval in the truncated space: dot product against a
    * one-row broadcast probe over [[truncateRenorm]] output — on unit
    * vectors the dot IS the cosine, paid on m dims instead of the full
    * dimension. Same exact-scan shape as [[knnToProbe]]
    * (broadcast probe, one streaming pass, TakeOrderedAndProject).
    */
  def knnTruncated(
      embeddings: DataFrame, probeId: Long, k: Int, m: Int): DataFrame = {
    val tr = truncateRenorm(embeddings, m)
    val probe = broadcast(
      tr.filter(col("vec_id") === probeId)
        .select(col("tvec").as("probe_vec")))
    tr.filter(col("vec_id") =!= probeId)
      .crossJoin(probe)
      .select(
        col("vec_id"),
        round(dot(col("tvec"), col("probe_vec")), 6).as("dot_sim"))
      .orderBy(desc("dot_sim"), asc("vec_id"))
      .limit(k)
  }

  /** Two-stage Matryoshka retrieval FUNNEL — the shape an MRL-trained
    * index actually runs: candidate generation in the TRUNCATED space
    * ([[truncateRenorm]], m dims — a fraction of the scan/score bytes),
    * then an exact FULL-dimension rerank of only the top-`rerankR`
    * shortlist per probe. Recovers most of the recall the truncation
    * loses (the true neighbour rarely falls out of a generous truncated
    * shortlist) at candidate-generation cost, not full-scan cost.
    *
    * Scale shape (100 TB): stage 1 is one streaming pass over the
    * truncated vectors with the k-capped heap as the aggregate's
    * PARTIAL state ([[knnBatchAgg]]'s machinery) — the exchange carries
    * ≤ rerankR rows per (probe, partition) regardless of corpus size.
    * Stage 2 broadcasts the (|probes|·rerankR)-row shortlist against
    * the full-vector scan — a column-pruned second pass that scores
    * only shortlist members, never a second all-pairs stage; the final
    * per-probe rank runs over |probes|·rerankR rows. Both stages rank
    * on (rounded sim, vec_id) so float noise cannot reorder either
    * boundary — which is also what lets a SQL oracle recompute the
    * funnel end-to-end.
    */
  def knnFunnel(
      embeddings: DataFrame,
      probeIds: Seq[Long],
      k: Int,
      m: Int,
      rerankR: Int): DataFrame = {
    require(rerankR >= k, "rerankR must be >= k")
    // the probe side re-derives its truncation from a PUSHED-DOWN id
    // filter scan (|probes| rows) instead of sharing a persisted
    // truncated-corpus frame: no cache, no eager materialization — the
    // whole funnel stays ONE lazy plan, and the corpus-side truncation
    // is computed exactly once inside the candidate scan
    val probesT = probeSide(
      embeddings, probeIds, Seq(col("tvec").as("pt")), truncateRenorm(_, m))
    val shortlist = truncateRenorm(embeddings, m)
      .crossJoin(probesT)
      .filter(col("vec_id") =!= col("probe_id"))
      .select(
        col("probe_id"), col("vec_id"),
        round(dot(col("tvec"), col("pt")), 6).as("t_sim"))
      .groupBy(col("probe_id"))
      .agg(graft.functions.VectorFunctions
        .topK(col("t_sim"), col("vec_id"), rerankR).as("topk"))
      .select(col("probe_id"), explode(col("topk")).as("t"))
      .select(col("probe_id"), col("t.vec_id").as("vec_id"))
    exactRerank(embeddings, probeIds, shortlist, k)
  }

  /** Exact all-pairs near-dup within a blocking key (e.g. `label`):
    * oracle-checkable baseline for the LSH scale path. Norms are
    * materialized once per vector (persisted) so each pair pays a single
    * interpreted dot-fold instead of dot + two norm folds.
    */
  def blockedNearDupPairs(
      embeddings: DataFrame,
      blockCol: String,
      threshold: Double): DataFrame = {
    val e = graft.core.Parallelism.ensure(embeddings)
      .select(
        col("vec_id"),
        col(blockCol).as("blk"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-pair dot products run inside the self-join's tasks; keep the
    // join at full width (AQE would coalesce the small-bytes inputs to
    // one partition — see Parallelism.spreadBy)
    val eW = graft.core.Parallelism.spreadBy(e, col("blk"))
    val pairs = eW.as("a")
      .join(eW.as("b"), Seq("blk"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("id_a"),
        col("b.vec_id").as("id_b"),
        round(
          cosinePre(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")),
          6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    CacheScope.sealAfter(pairs, e)
  }

  /** BATCHED exact kNN: top-k cosine neighbours for a SET of probe
    * vectors in one pass — the shape a feature-backfill or eval job
    * actually runs (thousands of probes), vs [[knnToProbe]]'s single
    * probe. The probe set broadcasts; the scan side streams once and
    * emits (probe, candidate, sim) tuples; one exchange on probe_id
    * ranks each probe's list. Ranking keys use the ROUNDED similarity
    * (then vec_id) so cross-engine float noise cannot reorder the
    * boundary of the top-k. This window form ships every scored pair
    * through the ranking exchange — fine at moderate probe counts; at
    * thousands of probes use [[knnBatchAgg]], whose k-bounded partial
    * aggregate reduces each (probe, partition) to k rows before the
    * shuffle.
    */
  def knnBatch(
      embeddings: DataFrame, probeIds: Seq[Long], k: Int): DataFrame =
    topBySim(scoreAgainstProbes(embeddings, probeIds), k)

  /** BATCHED exact kNN through the native bounded top-k AGGREGATE
    * ([[graft.functions.TopKAggExpr]]) instead of [[knnBatch]]'s window:
    * identical output (a differential spec pins set equality), different
    * exchange volume. The window must ship and sort EVERY scored
    * (probe, candidate) pair — |probes|·|corpus| rows through one
    * exchange; here the k-bounded heap is the aggregate's PARTIAL state,
    * so each (probe, input-partition) reduces to ≤ k pairs map-side and
    * the exchange carries k·|partitions| rows per probe no matter how
    * large the corpus. At ≥1000 probes this is the form that holds up
    * (benched every round as e9_batch1k_agg vs e9_batch1k_win); below
    * ~hundreds of probes the window's simpler plan is equally good.
    */
  def knnBatchAgg(
      embeddings: DataFrame, probeIds: Seq[Long], k: Int): DataFrame =
    rankTopK(scoreAgainstProbes(embeddings, probeIds), k)

  /** FILTERED vector search (the "WHERE clause + kNN" every retrieval
    * API exposes: restrict candidates by metadata, THEN take the top-k):
    * exact batched kNN where the CORPUS side is cut by `corpusPred`
    * before any distance is computed. The predicate is a plain Catalyst
    * filter on the scan, so it PUSHES DOWN to the parquet reader
    * (plan-asserted: `PushedFilters` carries it) — at 100 TB the
    * selectivity is taken in bytes-never-decoded, not post-hoc. Probes
    * are looked up in the UNFILTERED table (a probe need not satisfy its
    * own filter), and the ranking runs through the bounded top-k
    * aggregate, so the exchange stays k-bounded however large the
    * filtered corpus remains. Output: `probe_id, vec_id, cos_sim` —
    * exact over the filtered candidate set by construction (this is the
    * pre-filter form; post-filtering an ANN shortlist can starve below
    * k, which is why real systems pre-filter whenever the predicate is
    * indexable).
    */
  def knnFiltered(
      embeddings: DataFrame, probeIds: Seq[Long], k: Int,
      corpusPred: Column): DataFrame =
    rankTopK(
      scoreAgainstProbes(embeddings, probeIds, Some(corpusPred)), k)

  /** MMR DIVERSIFIED rerank (Carbonell & Goldstein's maximal marginal
    * relevance — the standard answer to "the top-k are all near-dups of
    * each other"): exact top-`shortlist` candidates per probe, then `k`
    * greedy picks maximizing `λ·rel − (1−λ)·max_sim_to_already_picked`.
    * Every decision is deterministic — similarities rounded at 6 dp,
    * score ties broken by the smaller vec_id — so the whole greedy
    * trajectory is oracle-recomputable, not just spot-checked.
    *
    * Scale shape: the candidate stage is [[knnBatchAgg]] (k-bounded
    * exchange at any corpus size). The greedy is sequential PER PROBE
    * but independent ACROSS probes, so it runs as ONE
    * `groupByKey(probe).flatMapGroups` — each probe's whole trajectory
    * executes inside a single task over its shortlist-bounded group
    * (R² in-task dot products, R = shortlist), one exchange total and
    * the corpus is never touched again. A DataFrame-loop formulation
    * (k rounds of join + agg + checkpoint) costs k scheduled jobs on
    * tiny frames — measured 9.4 s vs sub-second for this form at gate
    * scale. The in-task fold order and HALF_UP 6-dp rounding replicate
    * the column expressions exactly, so the unrolled SQL oracle still
    * reproduces every pick. Output: `probe_id, vec_id, rel, mmr_rank,
    * score` (rank 1's score is its relevance — nothing is picked yet
    * to penalize).
    */
  def mmrRerank(
      embeddings: DataFrame, probeIds: Seq[Long], shortlist: Int, k: Int,
      lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && shortlist >= k, "need shortlist >= k >= 1")
    val spark = embeddings.sparkSession
    import spark.implicits._
    // candidate stage: distributed, k-bounded exchange ([[knnBatchAgg]])
    val cand = knnBatchAgg(embeddings, probeIds, shortlist)
      .select(col("probe_id"), col("vec_id"), col("cos_sim").as("rel"))
    // greedy stage: MMR is SEQUENTIAL per probe but independent ACROSS
    // probes, so the right distributed shape is one flatMapGroups — the
    // whole trajectory for a probe runs inside one task over its
    // shortlist-bounded group (a DataFrame loop of k rounds costs k
    // scheduled jobs and re-broadcasts tiny picks; measured 9.4 s vs
    // sub-second for this form at gate scale). Pairwise sims are
    // recomputed in-task (R² dots), matching the column expression's
    // fold order and Spark's HALF_UP 6-dp rounding exactly so the
    // unrolled SQL oracle still reproduces every pick.
    val withVec = cand
      .join(
        embeddings.select(
          col("vec_id"), asDouble(col("embedding")).as("v")),
        Seq("vec_id"))
      .select(col("probe_id"), col("vec_id"), col("rel"), col("v"))
      .as[(Long, Long, Double, Seq[Double])]
    val lam = lambda
    val kk = k
    withVec
      .groupByKey(_._1)
      .flatMapGroups { (probe: Long, it: Iterator[(Long, Long, Double, Seq[Double])]) =>
        // ascending-id order makes the strict `>` replacement keep the
        // SMALLEST id on score ties — the (score DESC, vec_id ASC) rule.
        // NaN relevance (a zero-norm vector on either side of the
        // cosine) is dropped: rnd6's BigDecimal would throw on NaN, and
        // a no-signal candidate has no business in a diversity rerank
        val cands = it.map { case (_, id, rel, v) => (id, rel, v.toArray) }
          .filter(!_._2.isNaN)
          .toArray.sortBy(_._1)
        def dot(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }
          s
        }
        def rnd6(x: Double): Double =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val nrm = cands.map(c => math.sqrt(dot(c._3, c._3)))
        def psim(i: Int, j: Int): Double =
          rnd6(dot(cands(i)._3, cands(j)._3) / (nrm(i) * nrm(j)))
        val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Double, Int, Double)]
        val rounds = math.min(kk, cands.length)
        var rank = 1
        while (rank <= rounds) {
          var bestIdx = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < cands.length) {
            if (!picked.contains(i)) {
              val score =
                if (rank == 1) cands(i)._2
                else {
                  var pen = Double.NegativeInfinity
                  picked.foreach { j =>
                    val s = psim(i, j); if (s > pen) pen = s
                  }
                  rnd6(lam * cands(i)._2 - (1.0 - lam) * pen)
                }
              if (score > bestScore) { bestIdx = i; bestScore = score }
            }
            i += 1
          }
          picked += bestIdx
          out += ((probe, cands(bestIdx)._1, cands(bestIdx)._2, rank,
            bestScore))
          rank += 1
        }
        out.iterator
      }
      .toDF("probe_id", "vec_id", "rel", "mmr_rank", "score")
  }

  /** kNN LABEL CLASSIFICATION (the label-propagation / weak-labeling
    * step of a training-data pipeline: score unlabeled examples by their
    * nearest labeled neighbors): for each probe, the majority label of
    * its exact top-k by rounded cosine, ties broken by the SMALLEST
    * label — every decision deterministic, so the whole prediction is
    * oracle-checkable, not accuracy-tested. Built on [[knnBatchAgg]]
    * (bounded top-k aggregate — the exchange carries k rows per
    * (probe, partition) at any corpus size), one |k·probes|-sized label
    * join, and an argmax that folds inside the hash aggregate via
    * max_by (no window sort). Output: `probe_id, pred_label, votes`.
    */
  def knnClassify(
      embeddings: DataFrame, probeIds: Seq[Long], k: Int): DataFrame =
    knnBatchAgg(embeddings, probeIds, k)
      .join(embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
      .groupBy(col("probe_id"), col("label"))
      .agg(count("*").as("votes"))
      .groupBy(col("probe_id"))
      .agg(max_by(
        struct(col("label"), col("votes")),
        struct(col("votes"), -col("label"))).as("b"))
      .select(
        col("probe_id"), col("b.label").as("pred_label"),
        col("b.votes").as("votes"))

  /** Shared scoring stage of the batched-kNN forms: broadcast the probe
    * set, stream the corpus once, emit rounded (probe_id, vec_id,
    * cos_sim) tuples — norms materialized once per side, never per pair.
    */
  private def scoreAgainstProbes(
      embeddings: DataFrame, probeIds: Seq[Long],
      corpusPred: Option[Column] = None): DataFrame = {
    val probes = probeVectors(embeddings, probeIds)
    corpusPred.fold(embeddings)(embeddings.filter)
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))
      .crossJoin(probes)
      .filter(col("vec_id") =!= col("probe_id"))
      .select(
        col("probe_id"),
        col("vec_id"),
        probeSim(col("e"), col("nrm")).as("cos_sim"))
  }

  /** The broadcast probe side of every batched form: the rows of
    * `probeIds` in `vecs`, shaped by `pre` (which sees only those rows, so
    * the id filter stays below it), as `probe_id` plus `cols`.
    */
  private def probeSide(
      vecs: DataFrame, probeIds: Seq[Long], cols: Seq[Column],
      pre: DataFrame => DataFrame = identity): DataFrame = {
    require(probeIds.nonEmpty, "need at least one probe id")
    broadcast(
      pre(vecs.filter(col("vec_id").isin(probeIds: _*)))
        .select(col("vec_id").as("probe_id") +: cols: _*))
  }

  /** [[probeSide]]'s `(probe_id, p, p_nrm)` frame over an embeddings
    * table: the probe norm folds once per probe, never per scored row.
    */
  private def probeVectors(
      embeddings: DataFrame, probeIds: Seq[Long]): DataFrame =
    probeSide(embeddings, probeIds, Seq(asDouble(col("embedding")).as("p")))
      .withColumn("p_nrm", norm(col("p")))

  /** [[probeSide]]'s columns over a frame that already stores `e, nrm`
    * (an index's lists, [[nswSearch]]'s base).
    */
  private val storedProbe = Seq(col("e").as("p"), col("nrm").as("p_nrm"))

  /** Rounded cosine of a row's vector `v` (norm `vn`) to its probe's. */
  private def probeSim(v: Column, vn: Column): Column =
    round(cosinePre(v, col("p"), vn, col("p_nrm")), 6)

  /** The one windowed top-k cut: the first `k` rows of each window
    * partition of `w`, in `w`'s order.
    */
  private def topPerKey(df: DataFrame, w: WindowSpec, k: Int): DataFrame =
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")

  /** The top-k boundary of every windowed kNN form: per probe, rounded
    * `sim` DESC then vec_id ASC, so float noise cannot reorder it.
    */
  private def topBySim(
      df: DataFrame, k: Int, sim: String = "cos_sim"): DataFrame =
    topPerKey(
      df,
      Window.partitionBy(col("probe_id")).orderBy(desc(sim), asc("vec_id")),
      k)

  /** The list choice of every IVF probe: each `key`'s `nProbe` nearest
    * centroids to its `p` (norm `p_nrm`) by (c_sim DESC, c_id ASC), as
    * the probe frame's columns plus `c_id`.
    */
  private def nearestLists(
      probes: DataFrame, centroids: DataFrame, nProbe: Int,
      key: String = "probe_id"): DataFrame =
    topPerKey(
      probes.crossJoin(centroids).withColumn("c_sim",
        cosinePre(col("p"), col("c_emb"), col("p_nrm"), col("c_nrm"))),
      Window.partitionBy(col(key)).orderBy(desc("c_sim"), asc("c_id")),
      nProbe)
      .select((probes.columns.toSeq :+ "c_id").map(col): _*)

  /** The exact rerank tail of every funnel: a `(probe_id, vec_id,
    * carry…)` shortlist rescored by full-precision cosine against
    * `embeddings` — a broadcast shortlist and one column-pruned pass, so
    * only |probes|·R rows are scored — then cut to the top `k` per probe.
    */
  private def exactRerank(
      embeddings: DataFrame, probeIds: Seq[Long], shortlist: DataFrame,
      k: Int, carry: String*): DataFrame = {
    val out = Seq(col("probe_id"), col("vec_id")) ++ carry.map(col) :+
      probeSim(col("e"), norm(col("e"))).as("cos_sim")
    topBySim(
      embeddings
        .select(col("vec_id"), asDouble(col("embedding")).as("e"))
        .join(broadcast(shortlist), Seq("vec_id"))
        .join(probeVectors(embeddings, probeIds), Seq("probe_id"))
        .select(out: _*),
      k)
  }

  /** Bounded top-k ranking tail shared by [[knnBatchAgg]] and
    * [[knnFiltered]]: the k-capped heap aggregate + explode back to
    * rows — the single home of the (cos_sim DESC, vec_id) boundary.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("probe_id"))
      .agg(graft.functions.VectorFunctions
        .topK(col("cos_sim"), col("vec_id"), k).as("topk"))
      .select(col("probe_id"), explode(col("topk")).as("t"))
      .select(
        col("probe_id"),
        col("t.vec_id").as("vec_id"),
        col("t.cos_sim").as("cos_sim"))

  /** A prebuilt IVF (inverted-file) index: the expensive one-time pass —
    * deterministic centroid selection + nearest-centroid assignment of
    * every vector — separated from the cheap per-query probe, which is
    * how IVF is actually used at scale (build once over 100 TB, then
    * each query touches |D|·nProbe/nList of the data). `assigned` is a
    * persisted, already-materialized (vec_id, e, nrm, c_id) frame;
    * `centroids` is broadcast-small. Release with [[release]] when done
    * probing; results sealed before release stay valid.
    */
  final class IvfIndex private[operators] (
      private[operators] val assigned: DataFrame,
      private[operators] val centroids: DataFrame,
      val nList: Int) {
    def release(): Unit = { assigned.unpersist(false); () }

    /** Per-list bounding radius: the max ANGLE from a list's centroid to
      * any of its members. One scan of the assigned frame, collected to
      * ≤ nList doubles (driver-bounded like every centroid collect) and
      * memoized on the handle — the build-time statistic that makes
      * EXACT radius search prunable ([[Similarity.probeIvfRange]]).
      */
    private[operators] lazy val listMaxAngle: Map[Long, Double] =
      assigned
        .join(centroids, Seq("c_id"))
        .select(
          col("c_id"),
          acos(greatest(lit(-1.0), least(lit(1.0),
            Similarity.cosinePre(
              col("e"), col("c_emb"), col("nrm"), col("c_nrm")))))
            .as("ang"))
        .groupBy(col("c_id"))
        .agg(max(col("ang")).as("max_ang"))
        .collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
        .toMap
  }

  /** Build an [[IvfIndex]]: a deterministic coarse quantizer — stride
    * sampling seeds the centroids ([[strideSeeds]]: every ⌊n/nList⌋-th
    * vector by id, topped up when ids leave gaps), then `kmeansIter`
    * Lloyd iterations of spherical k-means refine them. Each Lloyd pass
    * is one assignment scan of the persisted base (broadcast centroids,
    * max cosine via max_by — the argmax folds inside the hash aggregate,
    * no window sort) plus one per-(list, dimension) mean
    * ([[lloydMeans]]). Everything about the refinement is pinned
    * deterministic: fixed init, FIXED iteration count, lowest-c_id
    * tie-breaks, and per-dimension means rounded to 9 dp so float
    * summation order cannot leak into the stored centroids. Empty
    * clusters keep their previous centroid, so the c_id set is stable —
    * those ids label the inverted lists and the disk layout's partition
    * directories. Centroid tables are collected between passes: nList
    * rows by construction, driver-bounded at any corpus size (the same
    * bound [[writeIvfIndex]]'s layout relies on). `kmeansIter = 0`
    * degrades to the raw stride sample. The final assignment is
    * materialized eagerly: "build" is the one pass a user pays up front
    * so probes don't. The handle's `nList` is the number of centroids
    * built: fewer than asked when the corpus has fewer vectors.
    */
  def buildIvfIndex(
      embeddings: DataFrame,
      nList: Int = 16,
      kmeansIter: Int = 3): IvfIndex = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val emb = asDouble(col("embedding"))
    val n = embeddings.count()
    // base projection persisted so each vector's norm folds ONCE, not
    // once per (vector, centroid) pair — and every Lloyd pass rescans
    // the SAME cached frame instead of re-reading the source
    val base = embeddings
      .select(col("vec_id"), emb.as("e"))
      .withColumn("nrm", norm(col("e")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents = strideSeeds(base, n, nList)
    def centroidFrame(cs: Seq[(Long, Seq[Double])]): DataFrame =
      broadcast(
        cs.toDF("c_id", "c_emb").withColumn("c_nrm", norm(col("c_emb"))))
    for (_ <- 1 to kmeansIter) {
      val updated = lloydMeans(
        assignNearest(base, centroidFrame(cents)), "c_id")(_.getLong(0))
      cents = cents.map { case (id, e) => id -> updated.getOrElse(id, e) }
    }
    val centroids = centroidFrame(cents)
    val assigned = assignNearest(base, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the build NOW (count touches every cached column's
    // batch via the InMemoryRelation), then the norm-carrying scratch
    // frame can go — probes must never re-trigger the assignment pass
    assigned.count()
    base.unpersist(false)
    new IvfIndex(assigned, centroids, cents.length)
  }

  /** Deterministic seeds of [[buildIvfIndex]] and [[kmeansAssign]]:
    * every ⌊n/k⌋-th vector by id (seeded sampling without randomness;
    * the seed's vec_id labels its cluster). Id-modulo striding assumes
    * ids roughly cover [0, n) — on, say, all-odd ids it selects nothing
    * — so the lowest-id vectors not already seeds fill the remaining
    * slots (a k-row TakeOrderedAndProject, never a global sort). On an
    * id-contiguous corpus the top-up is a no-op, so the oracle's modulo
    * replay stays exact there. `base` carries `vec_id, e`.
    */
  private def strideSeeds(
      base: DataFrame, n: Long, k: Int): Seq[(Long, Seq[Double])] = {
    // ordered before limit: an unordered limit picks whichever rows the
    // scan reaches first, breaking the determinism contract
    def lowest(df: DataFrame, m: Int): Seq[(Long, Seq[Double])] =
      df.orderBy(col("vec_id")).limit(m).select(col("vec_id"), col("e"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq
    val stride = math.max(n / k, 1L)
    val strided =
      lowest(base.filter(pmod(col("vec_id"), lit(stride)) === 0), k)
    if (strided.length >= k || n <= strided.length) strided
    else (strided ++ lowest(
      base.filter(!col("vec_id").isin(strided.map(_._1): _*)),
      k - strided.length)).sortBy(_._1)
  }

  /** One Lloyd mean update, shared by the trainers: per `keys` ×
    * dimension, the mean of the assigned `e` rounded to 9 dp (float
    * summation order cannot leak into the centroids), collected — k·dim
    * cells, driver-bounded at any corpus size. A key with no members is
    * absent, so its caller keeps the previous centroid.
    */
  private def lloydMeans[K](assigned: DataFrame, keys: String*)(
      key: Row => K): Map[K, Seq[Double]] = {
    val kc = keys.map(col)
    assigned
      .select(kc :+ posexplode(col("e")).as(Seq("d", "x")): _*)
      .groupBy(kc :+ col("d"): _*)
      .agg(round(avg(col("x")), 9).as("m"))
      .groupBy(kc: _*)
      .agg(sort_array(collect_list(struct(col("d"), col("m")))).as("dm"))
      .select(kc :+ transform(col("dm"), s => s.getField("m")).as("c_emb"): _*)
      .collect()
      .map(r => key(r) -> r.getSeq[Double](keys.length).toSeq)
      .toMap
  }

  /** Nearest-centroid assignment of every base vector in ONE
    * broadcast-join scan; deterministic argmax (highest sim, lowest c_id
    * on ties). Shared by the Lloyd passes and the final index build.
    */
  private def assignNearest(base: DataFrame, centroids: DataFrame): DataFrame =
    base
      .crossJoin(centroids)
      .withColumn(
        "sim",
        cosinePre(col("e"), col("c_emb"), col("nrm"), col("c_nrm")))
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("c_id"), col("e"), col("nrm")),
        struct(col("sim"), -col("c_id"))).as("best"))
      .select(
        col("vec_id"), col("best.e").as("e"),
        col("best.nrm").as("nrm"), col("best.c_id").as("c_id"))

  /** Probe a prebuilt [[IvfIndex]] for one query vector: rank the
    * centroids against the query (broadcast-small), keep the `nProbe`
    * nearest lists, score only their members. Lazy and cheap — the
    * expensive pass already happened in [[buildIvfIndex]].
    */
  def probeIvf(
      index: IvfIndex, probeId: Long, k: Int, nProbe: Int = 4): DataFrame = {
    val probeVec = index.assigned.filter(col("vec_id") === probeId)
      .select(col("e").as("probe_e"), col("nrm").as("probe_nrm"))
    val probeLists = probeVec
      .crossJoin(index.centroids)
      .select(
        col("c_id"),
        cosinePre(col("probe_e"), col("c_emb"), col("probe_nrm"), col("c_nrm"))
          .as("sim"))
      .orderBy(desc("sim"), asc("c_id"))
      .limit(nProbe)
      .select(col("c_id"))
    index.assigned
      .join(broadcast(probeLists), Seq("c_id"))
      .filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probeVec))
      .select(
        col("vec_id"),
        round(
          cosinePre(col("e"), col("probe_e"), col("nrm"), col("probe_nrm")),
          6).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  /** EXACT radius (range) search against a prebuilt [[IvfIndex]]: every
    * vector with `round(cos, 6) ≥ minCos` to the probe — with inverted
    * lists PRUNED by the spherical triangle inequality, so exactness
    * costs less than a full scan: a list whose centroid is at angle
    * `θ(q,c)` from the probe and whose members all lie within `maxAng(c)`
    * of the centroid can only contain matches if
    * `θ(q,c) − maxAng(c) ≤ acos(minCos)`; any list failing that bound
    * (with 1e-9 slack for the acos round-trip) provably holds no match
    * and is never scanned. The bound uses the build-time per-list radius
    * ([[IvfIndex.listMaxAngle]], nList doubles on the driver), the
    * decision is a literal `c_id IN (...)` — on the partitioned disk
    * layout that is partition-directory pruning, which is what makes
    * exact radius search affordable on a 100 TB index (clustered data ⇒
    * tight list radii ⇒ most lists skipped; worst case degrades to the
    * full scan, never below exactness). Unlike the kNN probes this is
    * NOT approximate: the oracle brute-forces the same predicate.
    * Output: `vec_id, cos_sim` for every match (probe excluded).
    */
  def probeIvfRange(
      index: IvfIndex, probeId: Long, minCos: Double): DataFrame = {
    val spark = index.assigned.sparkSession
    val probeVec = index.assigned.filter(col("vec_id") === probeId)
      .select(col("e").as("probe_e"), col("nrm").as("probe_nrm"))
    val keep = rangeLists(index, probeVec, probeId, minCos, "probeIvfRange")
    if (keep.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, Double)].toDF("vec_id", "cos_sim")
    } else
      index.assigned
        .filter(col("c_id").isin(keep: _*)) // literal IN → partition pruning
        .filter(col("vec_id") =!= probeId)
        .crossJoin(broadcast(probeVec))
        .select(
          col("vec_id"),
          round(
            cosinePre(col("e"), col("probe_e"), col("nrm"), col("probe_nrm")),
            6).as("cos_sim"))
        .filter(col("cos_sim") >= minCos)
        .orderBy(desc("cos_sim"), asc("vec_id"))
  }

  /** The number of inverted lists [[probeIvfRange]] would scan for this
    * probe/threshold — exposed so specs (and capacity planning) can
    * assert the prune actually bites without reaching into internals.
    */
  def rangeListsScanned(
      index: IvfIndex, probeId: Long, minCos: Double): Int =
    rangeLists(
      index,
      index.assigned.filter(col("vec_id") === probeId)
        .select(col("e").as("probe_e"), col("nrm").as("probe_nrm")),
      probeId, minCos, "rangeListsScanned").size

  /** The lists a radius search must scan: the centroid angles of the
    * one-row `probeVec` (nList rows, collected) against the build-time
    * radii, keeping every list the triangle-inequality bound cannot
    * exclude. Fails on a probe that is not in the index: an absent
    * probeId would otherwise read as "no vectors within radius". The
    * check is free — a missing probe row collects zero angle rows, and a
    * non-empty index always has centroids (listMaxAngle is empty only
    * when the index itself is).
    */
  private def rangeLists(
      index: IvfIndex, probeVec: DataFrame, probeId: Long, minCos: Double,
      caller: String): Seq[Long] = {
    // the output filter keeps ROUNDED cos >= minCos, so a true cosine as
    // low as minCos - 5e-7 can round into the result — the prune bound
    // covers that margin (plus acos round-trip slack) before it cuts
    val thetaTau = math.acos(math.max(-1.0, math.min(1.0, minCos - 1e-6)))
    val centAngles = probeVec
      .crossJoin(index.centroids)
      .select(
        col("c_id"),
        acos(greatest(lit(-1.0), least(lit(1.0),
          cosinePre(
            col("probe_e"), col("c_emb"), col("probe_nrm"), col("c_nrm")))))
          .as("ang"))
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    require(centAngles.nonEmpty || index.listMaxAngle.isEmpty,
      s"$caller: probe vec_id=$probeId is not in the index")
    centAngles.collect {
      case (cId, ang)
          if ang - index.listMaxAngle.getOrElse(cId, math.Pi) <=
            thetaTau + 1e-9 => cId
    }.toSeq
  }

  /** BATCHED probe of a prebuilt [[IvfIndex]]: top-k for a SET of query
    * vectors in one pass — [[knnBatch]]'s shape pointed at the index, so
    * the assignment cost is paid once across all probes (and once across
    * CALLS, via the index handle). Each probe ranks the centroids
    * (broadcast), keeps its own nProbe nearest lists, and scores only
    * their members; ranking keys use the rounded similarity + vec_id so
    * float noise cannot reorder the top-k boundary.
    */
  def probeIvfBatch(
      index: IvfIndex,
      probeIds: Seq[Long],
      k: Int,
      nProbe: Int = 4): DataFrame = {
    val probes = probeSide(index.assigned, probeIds, storedProbe)
    val probeLists = broadcast(
      nearestLists(probes, index.centroids, nProbe)
        .select(col("probe_id"), col("c_id")))
    topBySim(
      index.assigned
        .join(probeLists, Seq("c_id")) // broadcast: fans each member to its probing queries
        .join(probes, Seq("probe_id"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(
          col("probe_id"), col("vec_id"),
          probeSim(col("e"), col("nrm")).as("cos_sim")),
      k)
  }

  /** One-shot IVF approximate kNN: build, probe, seal. Kept as the
    * single-call convenience form; repeated probes should hold an
    * [[IvfIndex]] instead ([[buildIvfIndex]] + [[probeIvf]]/
    * [[probeIvfBatch]]) so the assignment pass is paid once.
    * Returns (vec_id, cos_sim) top-k among the probed lists. Recall < 1
    * by construction; [[knnToProbe]] is the exact baseline.
    */
  def knnIvf(
      embeddings: DataFrame,
      probeId: Long,
      k: Int,
      nList: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val index = buildIvfIndex(embeddings, nList)
    CacheScope.sealAfter(probeIvf(index, probeId, k, nProbe), index.assigned)
  }

  /** Persist an [[IvfIndex]] to disk: the inverted lists land as a
    * parquet layout PARTITIONED BY c_id (one directory per list), the
    * centroid table beside them. This is the cross-job form of "build
    * once": at 100 TB the assignment pass writes this layout once and
    * every later job opens it — and because a list IS a partition
    * directory, a pruned probe reads only its nProbe/nList of the data
    * at the FILE level (visible as `PartitionFilters` in the scan),
    * not just at the row filter level.
    */
  def writeIvfIndex(index: IvfIndex, path: String): Unit = {
    index.assigned.write
      .partitionBy("c_id").mode("overwrite").parquet(s"$path/lists")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Incrementally APPEND vectors to an existing disk IVF index: assign
    * the new batch to the EXISTING centroid table (no re-clustering —
    * the standard index-maintenance path; centroid drift is handled by
    * periodic rebuilds, not by every ingest batch) and append the
    * assigned rows into the c_id-partitioned lists layout. One
    * broadcast-join scan of the new batch; existing list files are
    * never rewritten, and file-level pruning keeps working because the
    * partition directories are stable. The assignment argmax is the
    * same deterministic rule as the build, so append(A)+append(B) ≡
    * append(A∪B) under any batch split.
    */
  def appendToIvfIndex(
      spark: SparkSession, path: String, newVectors: DataFrame): Unit = {
    val centroids = broadcast(spark.read.parquet(s"$path/centroids"))
    val base = newVectors
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))
    assignNearest(base, centroids)
      .write.partitionBy("c_id").mode("append").parquet(s"$path/lists")
  }

  /** DELETE vectors from an existing disk IVF index — the maintenance
    * path [[appendToIvfIndex]] is the other half of (dedup pipelines
    * retract exactly like they ingest: a SemDeDup/near-dup pass marks
    * ids, the index must forget them). PARTITION-PRUNED rewrite, the
    * Delta-style partition-level delete: only the list directories that
    * CONTAIN a deleted vector are read (literal `c_id IN (...)` →
    * `PartitionFilters`, so the scan never touches the other
    * nList − |affected| directories) and only those are rewritten
    * (dynamic partition overwrite). At 100 TB deleting a handful of
    * vectors prices a handful of list directories, not the index.
    *
    * The surviving rows are materialized (localCheckpoint) BEFORE the
    * overwrite — both to legalize the self-overwrite and so a write
    * failure cannot eat the data being moved. A list whose every
    * vector is deleted is NOT rewritten by dynamic overwrite (no rows
    * ⇒ partition absent from the write); its directory is removed
    * explicitly, keeping reopen-after-delete consistent.
    *
    * SINGLE-WRITER assumption (this applies to [[appendToIvfIndex]]
    * and [[rebalanceIvfIndex]] too): the layout has no transaction
    * log, so exactly one maintenance job may mutate an index at a
    * time, and a failure between the partition overwrite and the
    * emptied-directory cleanup can leave a fully-deleted list's stale
    * directory on disk — rerunning the same delete is the repair
    * (every step is idempotent). Concurrent writers need a
    * table-format layer (Delta/Iceberg) above this layout. The
    * overwrite mode is a PER-WRITE option, so no session-wide config
    * is ever mutated.
    *
    * Returns the affected c_ids — the rewrite's blast radius, which
    * the spec asserts is exactly the lists holding deleted ids.
    */
  def deleteFromIvfIndex(
      spark: SparkSession, path: String,
      deleteIds: DataFrame): Seq[Long] = {
    val del = deleteIds.select(col("vec_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // blast radius: which lists hold a deleted id (bounded by nList)
      val affected = readLists(spark, path)
        .join(broadcast(del), Seq("vec_id"))
        .select(col("c_id")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
      if (affected.nonEmpty) {
        val survivors = readLists(spark, path)
          .filter(col("c_id").isin(affected: _*))
          .join(broadcast(del), Seq("vec_id"), "left_anti")
          .localCheckpoint() // materialize BEFORE touching the files
        val survivorCids = survivors.select(col("c_id")).distinct()
          .collect().map(_.getLong(0)).toSet
        // per-write dynamic overwrite: only the partitions present in
        // `survivors` are replaced, and the session conf is untouched
        // (a session-wide flip would leak into concurrent writes)
        survivors.write
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("c_id").mode("overwrite").parquet(s"$path/lists")
        // fully-emptied lists: dynamic overwrite never saw them — drop
        // their directories so the reopen reads no ghost rows.
        // Filesystem resolved FROM the path (a hand-built file:// URI
        // would misparse relative paths as URI authorities).
        val listsRoot = new org.apache.hadoop.fs.Path(s"$path/lists")
        val fs =
          listsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
        for (c <- affected if !survivorCids.contains(c))
          fs.delete(
            new org.apache.hadoop.fs.Path(s"$path/lists/c_id=$c"), true)
      }
      affected
    } finally del.unpersist(false)
  }

  /** REBALANCE/OPTIMIZE a disk IVF index (the lifecycle op that
    * completes CRUD — [[appendToIvfIndex]] grows lists without
    * re-clustering, so repeated ingest drifts list balance: hot lists
    * grow unboundedly and every probe of a hot list prices its whole
    * directory). The Delta-OPTIMIZE-style maintenance pass: every list
    * larger than `maxListSize` is SPLIT by re-clustering ONLY its own
    * members against k'=2 sub-centroids — the e27 bounded-blast-radius
    * discipline (untouched list directories are never read, never
    * rewritten; the spec asserts them byte-stable).
    *
    * Deterministic like the build quantizer: sub-seeds are each list's
    * min- and max-vec_id members, `kmeansIter` fixed Lloyd passes with
    * 9-dp-rounded means refine them (ALL oversized lists train in the
    * same scans — one assignment pass + one mean pass per iteration
    * total, keyed (c_id, sub), never a per-list job), final assignment
    * by max-cosine with ties to sub 0. Sub 0 keeps the original c_id
    * (its directory is overwritten in place); sub 1 gets a fresh id
    * allocated past the current max, in oversized-c_id order. A list
    * whose re-clustering leaves either sub empty (e.g. all-identical
    * members) is left UNSPLIT — splitting it is geometrically
    * meaningless, and writing a one-sided split under dynamic
    * overwrite would leave the old directory's rows alive next to the
    * re-written copy. The centroid table is rewritten from
    * driver-collected rows (nList-bounded, like every centroid
    * collect). Probing the rebalanced index at nProbe = nList is
    * EXACT by construction — the e28 oracle hash-locks that
    * round-trip; single-writer caveat as on [[deleteFromIvfIndex]].
    *
    * Returns the splits as (original c_id, new c_id) pairs.
    */
  def rebalanceIvfIndex(
      spark: SparkSession, path: String,
      maxListSize: Long, kmeansIter: Int = 3): Seq[(Long, Long)] = {
    import spark.implicits._
    def lists = readLists(spark, path)
    // per-list sizes: c_id is the partition column and count needs no
    // data column, so this scan prices parquet footers, not pages
    val sizes = lists.groupBy(col("c_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oversized = sizes.filter(_._2 > maxListSize).keys.toSeq.sorted
    if (oversized.isEmpty) return Seq.empty
    val maxCid = sizes.keys.max
    val newIdOf: Map[Long, Long] =
      oversized.zipWithIndex.map { case (c, i) => c -> (maxCid + 1 + i) }.toMap

    // members of the oversized lists only — literal IN ⇒ the scan
    // touches exactly the affected directories (PartitionFilters)
    val members = lists.filter(col("c_id").isin(oversized: _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // deterministic per-list 2-seed init: the min- and max-vec_id
    // members (id order, no randomness — the build discipline)
    var cents: Seq[(Long, Int, Seq[Double])] = members
      .groupBy(col("c_id"))
      .agg(
        min_by(col("e"), col("vec_id")).as("s0"),
        max_by(col("e"), col("vec_id")).as("s1"))
      .collect()
      .flatMap(r => Seq(
        (r.getLong(0), 0, r.getSeq[Double](1).toSeq),
        (r.getLong(0), 1, r.getSeq[Double](2).toSeq)))
      .toSeq
    def centFrame(cs: Seq[(Long, Int, Seq[Double])]): DataFrame =
      broadcast(
        cs.toDF("c_id", "sub", "s_emb")
          .withColumn("s_nrm", norm(col("s_emb"))))
    def assign(cs: Seq[(Long, Int, Seq[Double])]): DataFrame = members
      .join(centFrame(cs), Seq("c_id"))
      .withColumn("sim",
        cosinePre(col("e"), col("s_emb"), col("nrm"), col("s_nrm")))
      .groupBy(col("c_id"), col("vec_id"))
      .agg(max_by(
        struct(col("sub"), col("e"), col("nrm")),
        struct(col("sim"), -col("sub"))).as("best"))
      .select(col("c_id"), col("vec_id"), col("best.e").as("e"),
        col("best.nrm").as("nrm"), col("best.sub").as("sub"))
    for (_ <- 1 to kmeansIter) {
      val updated = lloydMeans(assign(cents), "c_id", "sub")(r =>
        (r.getLong(0), r.getInt(1)))
      cents = cents.map { case (c, s, e) =>
        (c, s, updated.getOrElse((c, s), e))
      }
    }
    val assigned = assign(cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // lists where BOTH subs are populated actually split; one-sided
    // outcomes stay unsplit (see Scaladoc)
    val subCounts = assigned.groupBy(col("c_id"), col("sub")).count()
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val splitting = oversized
      .filter(c => subCounts.contains((c, 0)) && subCounts.contains((c, 1)))
    try {
      if (splitting.nonEmpty) {
        val newIdExpr = splitting.foldLeft(col("c_id")) { (acc, c) =>
          when(col("c_id") === c && col("sub") === 1, lit(newIdOf(c)))
            .otherwise(acc)
        }
        val rewritten = assigned
          .filter(col("c_id").isin(splitting: _*))
          .select(col("vec_id"), col("e"), col("nrm"),
            newIdExpr.as("c_id"))
          .localCheckpoint() // materialize BEFORE the self-overwrite
        rewritten.write
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("c_id").mode("overwrite").parquet(s"$path/lists")
        // centroid table: split lists take their sub-0 centroid on the
        // old id + the sub-1 centroid on the new id; everything else
        // keeps its row (all driver-side — the table is nList-bounded)
        val centMap = cents.map { case (c, s, e) => (c, s) -> e }.toMap
        val keep = spark.read.parquet(s"$path/centroids")
          .filter(!col("c_id").isin(splitting: _*))
          .select(col("c_id"), col("c_emb").cast("array<double>"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
        val merged = (keep.toSeq ++ splitting.flatMap(c => Seq(
          c -> centMap((c, 0)), newIdOf(c) -> centMap((c, 1)))))
          .sortBy(_._1)
        merged.toDF("c_id", "c_emb")
          .withColumn("c_nrm", norm(col("c_emb")))
          .write.mode("overwrite").parquet(s"$path/centroids")
      }
      splitting.map(c => c -> newIdOf(c))
    } finally {
      assigned.unpersist(false)
      members.unpersist(false)
    }
  }

  /** Reopen a disk [[IvfIndex]]. The explicit schema keeps the c_id
    * partition column LongType (partition-value inference would narrow
    * small ids to INT and break join/pruning key types). The lists frame
    * is deliberately NOT cached — pruned probes read only their
    * partitions, which is the point of the layout; `release()` on the
    * returned handle is a harmless no-op.
    */
  def readIvfIndex(spark: SparkSession, path: String): IvfIndex = {
    val centroids = broadcast(spark.read.parquet(s"$path/centroids"))
    new IvfIndex(readLists(spark, path), centroids, centroids.count().toInt)
  }

  /** The inverted lists of a disk index: `vec_id`, the stored vector
    * `vec`, its norm `nrm` and the `c_id` partition column — the float
    * layout by default. The explicit schema keeps c_id LongType.
    */
  private def readLists(
      spark: SparkSession, path: String,
      vec: StructField = StructField("e", ArrayType(DoubleType)),
      nrm: String = "nrm"): DataFrame =
    spark.read
      .schema(StructType(Seq(
        StructField("vec_id", LongType), vec,
        StructField(nrm, DoubleType), StructField("c_id", LongType))))
      .parquet(s"$path/lists")

  /** Batched probe with STATIC partition pruning — the disk-index twin
    * of [[probeIvfBatch]]. Which lists to probe is a tiny driver-side
    * decision (≤ |probes|·nProbe ids, ranked against the
    * broadcast-small centroid table), so it is collected and pushed as
    * a literal `c_id IN (...)` predicate: on a partitioned disk index
    * the scoring scan then touches ONLY the probed list directories
    * (`PartitionFilters`, plan-asserted), which is what makes a 100 TB
    * index probeable from a small job. The probe vectors are read once,
    * by a pushed-down `vec_id IN (...)`, in the collect that ranks the
    * lists. Ranking keys use the rounded similarity + vec_id as
    * everywhere else.
    */
  def probeIvfPruned(
      index: IvfIndex,
      probeIds: Seq[Long],
      k: Int,
      nProbe: Int = 4,
      // optional FILTERED-search allowlist: a (vec_id) frame (typically
      // a metadata scan with its predicate pushed down) semi-joined
      // BEFORE ranking, so the top-k come from filtered candidates —
      // the pre-filter form, composing with the file-level pruning: the
      // scan reads nProbe/nList of the index AND only allowed rows rank
      allowed: Option[DataFrame] = None): DataFrame =
    probePruned(
      index.assigned, col("e"), col("nrm"), index.centroids,
      probeSide(index.assigned, probeIds, storedProbe), k, nProbe,
      allowed = allowed)

  /** The one pruned-list probe behind the three disk layouts. The
    * (probe, list) pairs are a tiny driver-side decision — ≤ |probes| ×
    * nProbe rows of a broadcast × broadcast product — collected with
    * each probe's vector and pushed as a literal `c_id IN (...)`, so on a
    * partitioned layout the scoring pass reads only the probed list
    * directories (`PartitionFilters`, plan-asserted) and joins the
    * probes from those collected rows, never from another scan.
    * `lists` carries each row's decoded vector `vec` and its norm `nrm`;
    * `allowed`, when given, semi-joins the candidates before ranking; the
    * rounded score lands in column `sim`.
    */
  private def probePruned(
      lists: DataFrame, vec: Column, nrm: Column, centroids: DataFrame,
      probes: DataFrame, k: Int, nProbe: Int, sim: String = "cos_sim",
      allowed: Option[DataFrame] = None): DataFrame = {
    val spark = lists.sparkSession
    import spark.implicits._
    val pairs = nearestLists(probes, centroids, nProbe)
      .select(col("probe_id"), col("c_id"), col("p"), col("p_nrm"))
      .as[(Long, Long, Seq[Double], Double)]
      .collect()
    val pruned = lists // literal IN → partition pruning
      .filter(col("c_id").isin(pairs.map(_._2).distinct.toSeq: _*))
    val candidates = allowed.fold(pruned)(ok =>
      pruned.join(ok.select(col("vec_id")), Seq("vec_id"), "left_semi"))
    topBySim(
      candidates
        .join(
          broadcast(pairs.toSeq.toDF("probe_id", "c_id", "p", "p_nrm")),
          Seq("c_id"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), probeSim(vec, nrm).as(sim)),
      k, sim)
  }

  /** Persist an [[IvfIndex]] as an INT8-QUANTIZED disk layout (IVF-SQ —
    * the standard composition at 100 TB: inverted lists store codes, not
    * floats): each list row is `(vec_id, codes ARRAY<INT>, dnrm, c_id)`
    * partitioned by c_id, where `codes` is [[quantizeEmbeddings]]'s
    * affine per-dimension int8 coding and `dnrm` the L2 norm of the
    * mid-bucket dequantized vector (write-once, so probes never re-fold
    * it). The per-dimension stats table (`d, mn, rng` — dimensionality-
    * bounded) and the centroid table land beside the lists. Cuts the
    * index bytes a probe reads ~2× vs the float layout (int32-encoded
    * codes vs doubles; asserted on-disk in the spec) while keeping the
    * same file-level pruning.
    */
  def writeIvfSqIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val st = collectDimStats(index.assigned, col("e"))
    val stats = st.map { case (d, mn, mx) => (d.toLong, mn, mx - mn) }
      .toDF("d", "mn", "rng")
    val mnArr = array(st.map(s => lit(s._2)): _*)
    val rngArr = array(st.map(s => lit(s._3 - s._2)): _*)
    val codes = codesExpr(col("e"), st)
    index.assigned
      .select(col("vec_id"), codes.as("codes"), col("c_id"))
      .withColumn("dnrm", norm(dequantize(col("codes"), mnArr, rngArr)))
      .select(col("vec_id"), col("codes"), col("dnrm"), col("c_id"))
      .write.partitionBy("c_id").mode("overwrite").parquet(s"$path/lists")
    stats.write.mode("overwrite").parquet(s"$path/stats")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Batched, statically-pruned probe of an IVF-SQ disk index with
    * ASYMMETRIC distance (ADC): full-precision query vectors against
    * mid-bucket dequantized codes — the standard SQ scoring that loses
    * no query-side information. Same driver-bounded list ranking and
    * literal `c_id IN (...)` partition pruning as [[probeIvfPruned]];
    * the dequantization is a codegen'd projection (stats as literal
    * arrays) applied only to the probed lists' rows, and the stored
    * `dnrm` means no per-row norm re-fold. Probe vectors come from
    * `embeddings` (the SQ index deliberately does not store floats).
    * Fully deterministic: at nProbe = nList the result is the exact
    * ADC ranking over the whole corpus, which a SQL oracle recomputes
    * code-for-code.
    */
  def probeIvfSqPruned(
      embeddings: DataFrame,
      path: String,
      probeIds: Seq[Long],
      k: Int,
      nProbe: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    val probes = probeVectors(embeddings, probeIds)
    val st = spark.read.parquet(s"$path/stats")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val mnArr = array(st.map(s => lit(s._2)).toSeq: _*)
    val rngArr = array(st.map(s => lit(s._3)).toSeq: _*)
    // dequantize ONCE per stored row, before the probe fan-out
    val lists = readLists(
      spark, path, StructField("codes", ArrayType(IntegerType)), "dnrm")
      .withColumn("dv", dequantize(col("codes"), mnArr, rngArr))
    probePruned(
      lists, col("dv"), col("dnrm"),
      broadcast(spark.read.parquet(s"$path/centroids")), probes, k, nProbe)
  }

  /** IVF-SQ probe with a full-precision RERANK tail — the production
    * retrieval shape: ADC over the pruned quantized lists proposes the
    * top-`rerankR` per probe, then only that shortlist is scored with
    * exact float cosine against `embeddings` (broadcast-small join, one
    * column-pruned pass that touches |probes|·rerankR rows). For
    * rerankR ≥ k, every true neighbour the ADC stage surfaces is kept —
    * recall can only improve over ADC top-k (asserted in the spec).
    */
  def probeIvfSqReranked(
      embeddings: DataFrame,
      path: String,
      probeIds: Seq[Long],
      k: Int,
      nProbe: Int = 4,
      rerankR: Int = 50): DataFrame = {
    require(rerankR >= k, "rerankR must be >= k")
    val shortlist =
      probeIvfSqPruned(embeddings, path, probeIds, k = rerankR, nProbe)
        .select(col("probe_id"), col("vec_id"))
    exactRerank(embeddings, probeIds, shortlist, k)
  }

  /** Persist an [[IvfIndex]] as a PQ-CODED disk layout (IVF-PQ — the
    * coarsest index composition: where IVF-SQ's int8 codes are still
    * too big, the inverted lists store the m PQ codes, 4 bits each at
    * k = 16). Each list row is `(vec_id, codes ARRAY<INT> length m,
    * rnrm, c_id)` partitioned by c_id, with `rnrm` the reconstruction's
    * L2 norm (write-once, probes never re-fold it); the codebook table
    * `(m, j, c ARRAY<DOUBLE>)` — k·m rows, driver-bounded — lands
    * beside the lists. The codebook is the SAMPLED md5-ranked one
    * ([[pqAnchors]] over the index's own vectors), so at nProbe = nList
    * a probe reproduces [[pqAdcKnn]]'s exact ADC ranking and e14's
    * oracle hash-locks the whole write → read → prune → reconstruct →
    * score round-trip.
    */
  def writeIvfPqIndex(
      index: IvfIndex, path: String, m: Int, k: Int): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val emb = index.assigned.select(col("vec_id"), col("e").as("embedding"))
    val anchors = pqAnchors(emb, k)
    val sub = anchors.head.length / m
    val cbs = (0 until m).map(mi =>
      anchors.map(_.slice(mi * sub, mi * sub + sub)))
    val codes = pqCodesColumn(cbs, col("e"))
    index.assigned
      .select(col("vec_id"), codes.as("codes"), col("c_id"))
      .withColumn("rnrm", norm(pqReconColumn(cbs, col("codes"))))
      .select(col("vec_id"), col("codes"), col("rnrm"), col("c_id"))
      .write.partitionBy("c_id").mode("overwrite").parquet(s"$path/lists")
    cbs.zipWithIndex
      .flatMap { case (cb, mi) =>
        cb.zipWithIndex.map { case (c, j) => (mi.toLong, j.toLong, c) }
      }
      .toDF("m", "j", "c")
      .write.mode("overwrite").parquet(s"$path/codebook")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Batched, statically-pruned probe of an IVF-PQ disk index with ADC
    * scoring: full-precision queries against the PQ reconstruction — a
    * literal codebook lookup (the codebook is collected once, k·m·sub
    * doubles) applied only to the probed lists' rows. Same driver-
    * bounded list ranking and literal `c_id IN` partition pruning as
    * the flat/SQ probes; the stored `rnrm` means no per-row norm
    * re-fold. Probe vectors come from `embeddings` (the PQ index stores
    * only codes).
    */
  def probeIvfPqPruned(
      embeddings: DataFrame,
      path: String,
      probeIds: Seq[Long],
      k: Int,
      nProbe: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    val probes = probeVectors(embeddings, probeIds)
    val cbs: Seq[Seq[Seq[Double]]] = {
      val rows = spark.read.parquet(s"$path/codebook")
        .collect()
        .map(r => ((r.getLong(0).toInt, r.getLong(1).toInt),
          r.getSeq[Double](2).toSeq))
        .toMap
      val mMax = rows.keys.map(_._1).max + 1
      val kMax = rows.keys.map(_._2).max + 1
      (0 until mMax).map(mi => (0 until kMax).map(j => rows((mi, j))))
    }
    // reconstruct ONCE per stored row, before the probe fan-out
    val lists = readLists(
      spark, path, StructField("codes", ArrayType(IntegerType)), "rnrm")
      .withColumn("r", pqReconColumn(cbs, col("codes")))
    probePruned(
      lists, col("r"), col("rnrm"),
      broadcast(spark.read.parquet(s"$path/centroids")), probes, k, nProbe,
      sim = "adc_sim")
  }

  /** One-shot batched IVF kNN: build, batch-probe, seal — the assignment
    * pass is paid ONCE for the whole probe set (vs once per probe for
    * repeated [[knnIvf]] calls). Long-lived consumers should hold the
    * [[IvfIndex]] themselves.
    */
  def knnIvfBatch(
      embeddings: DataFrame,
      probeIds: Seq[Long],
      k: Int,
      nList: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val index = buildIvfIndex(embeddings, nList)
    CacheScope.sealAfter(
      probeIvfBatch(index, probeIds, k, nProbe), index.assigned)
  }

  /** Per-dimension scalar int8 quantization of the embedding column —
    * the standard compression step for a large ANN corpus (4× smaller
    * than float32, 8× smaller than the double compute form; at 100 TB
    * the index layout stores codes and dequantizes on the fly). Affine
    * per-dimension mapping `[mn_d, mx_d] → [0, 255]` with floor
    * bucketing (floor, not round: round-half ties break differently
    * across engines; floor is portable), clamped, zero-range dims
    * pinned to code 0.
    *
    * The per-dimension stats come from ONE narrow distributed aggregate
    * (posexplode → 64-row min/max) collected to the driver — bounded by
    * the DIMENSIONALITY, never the row count — and re-enter the plan as
    * literal arrays, so the quantization pass itself is a single
    * codegen'd projection with no join.
    *
    * Returns the EXPLODED (vec_id, d, code) form: scalar columns, which
    * is what the hash-match oracle certifies (DuckDB recomputes the
    * stats and every code bit-for-bit).
    */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame = {
    val emb = asDouble(col("embedding"))
    val st = collectDimStats(embeddings, emb)
    val codes = codesExpr(emb, st)
    graft.core.Parallelism.ensure(embeddings)
      .select(
        col("vec_id"),
        posexplode(codes).as(Seq("d", "code")))
      .select(col("vec_id"), col("d").cast("long").as("d"), col("code"))
  }

  /** Per-dimension (min, max) of a vector column — ONE narrow
    * distributed aggregate collected to the driver, bounded by the
    * DIMENSIONALITY, never the row count. Shared by the standalone
    * quantizer and the IVF-SQ index build.
    */
  private def collectDimStats(
      df: DataFrame, vec: Column): Seq[(Int, Double, Double)] =
    df.select(posexplode(vec).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .toSeq
      .sortBy(_._1)

  /** The affine int8 coding projection for a given stats table — the
    * stats re-enter the plan as literal arrays, so coding is a single
    * codegen'd projection with no join (see [[quantizeEmbeddings]]).
    */
  private def codesExpr(vec: Column, st: Seq[(Int, Double, Double)]): Column = {
    val mnArr = array(st.map(s => lit(s._2)): _*)
    val rngArr = array(st.map(s => lit(s._3 - s._2)): _*)
    transform(vec, (x, i) => {
      val mn = element_at(mnArr, i + 1)
      val rng = element_at(rngArr, i + 1)
      when(rng === 0, lit(0))
        .otherwise(
          least(lit(255.0), greatest(lit(0.0), floor((x - mn) / rng * 255))))
        .cast("int")
    })
  }

  /** Dequantize a codes array back to doubles given the same stats —
    * the probe-side companion of [[quantizeEmbeddings]] (codes store,
    * compute in doubles): `mn_d + (code_d + 0.5) · rng_d / 255`
    * (mid-bucket reconstruction minimizes expected error).
    */
  private[graft] def dequantize(
      codes: Column, mnArr: Column, rngArr: Column): Column =
    transform(
      codes,
      (c, i) =>
        element_at(mnArr, i + 1) +
          (c.cast("double") + lit(0.5)) * element_at(rngArr, i + 1) / 255)

  // ──────────────────── product quantization (PQ) ────────────────────

  /** Deterministic PQ anchor vectors: the `k` corpus vectors ranked
    * first by the portable md5 draw on `vec_id` (ties by id) — an
    * effectively-random but ENGINE-REPRODUCIBLE sample, the same
    * discipline as the d12/d21/d22 sampling draws. Collected to the
    * driver: k·dim doubles, bounded by the codebook size, never the
    * corpus. (The IVF family carries the trained-k-means quantizer; PQ
    * deliberately uses the sampled codebook so every code AND the ADC
    * ranking stay recomputable by a SQL oracle end to end.)
    */
  private[graft] def pqAnchors(
      embeddings: DataFrame, k: Int): Seq[Seq[Double]] =
    embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .collect()
      .map(_.getSeq[Double](1).toSeq)
      .toSeq

  /** Product-quantize every vector: split the dimension into `m`
    * subspaces and code each subvector as the index of its nearest
    * (squared-L2) codebook entry, ties to the smallest index. Codes are
    * m·log2(k) bits per vector — at m=8, k=16 that is 4 BYTES for a
    * 64-dim float vector, a 64× compression (vs int8 SQ's 4×): the
    * memory-resident index layer a 100 TB ANN corpus keeps when even
    * int8 codes don't fit.
    *
    * Plan shape: the codebook re-enters the plan as LITERAL arrays (the
    * e8 stats discipline), so encoding is ONE codegen'd scan projection
    * — no join, no shuffle; distances fold left-to-right and are
    * rounded to 9 dp before the argmin so the code choice is portable
    * across engines. Output: `vec_id, codes ARRAY<INT>` (length m).
    */
  def pqEncode(embeddings: DataFrame, m: Int, k: Int): DataFrame =
    pqEncodeWith(embeddings, pqAnchors(embeddings, k), m)

  private def pqEncodeWith(
      embeddings: DataFrame,
      anchors: Seq[Seq[Double]],
      m: Int): DataFrame = {
    val dim = anchors.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    pqEncodeCb(
      embeddings,
      (0 until m).map(mi => anchors.map(_.slice(mi * sub, mi * sub + sub))))
  }

  /** The PQ coding expression over explicit per-subspace codebooks
    * `cbs(m)(j)` for an arbitrary double-array vector column — the
    * codebook rides as literals, so coding is pure projection. L2 (not
    * squared) distance, rounded to 9 dp before the argmin — the exact
    * comparison key the oracle recomputes (sqrt is monotone, so the
    * code choice is the same either way; rounding first makes the
    * tie-break engine-portable).
    */
  private def pqCodesColumn(
      cbs: Seq[Seq[Seq[Double]]], v: Column): Column = {
    val sub = cbs.head.head.length
    def subDist(mi: Int, j: Int): Column = {
      val a = array(cbs(mi)(j).map(lit): _*)
      aggregate(
        zip_with(slice(v, mi * sub + 1, sub), a, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, t) => acc + t)
    }
    def codeAt(mi: Int): Column =
      array_min(array(cbs(mi).indices.map(j =>
        struct(round(sqrt(subDist(mi, j)), 9).as("d"), lit(j).as("j"))): _*))
        .getField("j")
    array(cbs.indices.map(codeAt): _*)
  }

  /** The PQ reconstruction expression: concatenate each subspace's
    * chosen codebook entry — a literal `element_at` lookup per
    * subspace, no arithmetic.
    */
  private def pqReconColumn(
      cbs: Seq[Seq[Seq[Double]]], codes: Column): Column = {
    val cbLit: Seq[Column] = cbs.map { cb =>
      array(cb.map(c => array(c.map(lit): _*)): _*)
    }
    flatten(array(cbs.indices.map(mi =>
      element_at(cbLit(mi), element_at(codes, mi + 1) + 1)): _*))
  }

  /** The shared encoding core over explicit per-subspace codebooks:
    * one codegen'd scan projection ([[pqCodesColumn]]).
    */
  private def pqEncodeCb(
      embeddings: DataFrame, cbs: Seq[Seq[Seq[Double]]]): DataFrame =
    graft.core.Parallelism.ensure(embeddings)
      .select(
        col("vec_id"),
        pqCodesColumn(cbs, asDouble(col("embedding"))).as("codes"))

  /** [[pqEncode]] exploded to scalar `(vec_id, m, code)` rows — the form
    * the hash-match oracle certifies code by code (the e8 shape).
    */
  def pqCodes(embeddings: DataFrame, m: Int, k: Int): DataFrame =
    pqEncode(embeddings, m, k)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
      .select(col("vec_id"), col("m").cast("long").as("m"), col("code"))

  /** Top-k retrieval by ADC (asymmetric distance): full-precision probes
    * scored against the PQ-RECONSTRUCTED corpus — cosine(q, recon(v))
    * where recon concatenates each subspace's chosen codebook entry.
    * The codebook lookup is an `element_at` into literal arrays, so
    * scoring is one codegen'd projection over the (vec_id, codes) frame;
    * at scale the scan reads m small ints per vector instead of the
    * dim floats — the bandwidth cut is the point of PQ. Ranking keys are
    * (rounded sim, vec_id), the engine-portable boundary discipline.
    * Output: `probe_id, vec_id, adc_sim` (top `topK` per probe, self
    * excluded).
    */
  def pqAdcKnn(
      embeddings: DataFrame,
      probeIds: Seq[Long],
      topK: Int,
      m: Int,
      k: Int): DataFrame = {
    val anchors = pqAnchors(embeddings, k)
    val sub = anchors.head.length / m
    pqAdcWith(
      embeddings,
      (0 until m).map(mi => anchors.map(_.slice(mi * sub, mi * sub + sub))),
      probeIds, topK)
  }

  /** The shared ADC scoring core over explicit codebooks: encode (one
    * scan projection), reconstruct by literal `element_at` lookup,
    * cosine against the broadcast full-precision probes, top-k per
    * probe on (rounded sim, vec_id).
    */
  private def pqAdcWith(
      embeddings: DataFrame,
      cbs: Seq[Seq[Seq[Double]]],
      probeIds: Seq[Long],
      topK: Int): DataFrame = {
    val probes = probeVectors(embeddings, probeIds)
    topBySim(
      pqEncodeCb(embeddings, cbs)
        .select(col("vec_id"), pqReconColumn(cbs, col("codes")).as("r"))
        .withColumn("r_nrm", norm(col("r")))
        .crossJoin(probes)
        .filter(col("vec_id") =!= col("probe_id"))
        .select(
          col("probe_id"), col("vec_id"),
          probeSim(col("r"), col("r_nrm")).as("adc_sim")),
      topK, "adc_sim")
  }

  /** Deterministic Lloyd-TRAINED PQ codebooks — the quality path the
    * sampled codebook ([[pqAnchors]]) trades away for oracle
    * recomputability (the same split the IVF family makes: e4's k-means
    * coarse quantizer is engine-defined + recall-tested, its exact
    * configurations oracle-locked). Same portability discipline as the
    * IVF quantizer: md5-sample init, `iters` fixed Lloyd rounds per
    * subspace, assignment argmin on the 9-dp-rounded distance with ties
    * to the smallest code, means rounded to 9 dp, empty clusters keep
    * their previous centroid — bit-reproducible under any partitioning.
    *
    * Scale shape: each round is one broadcast join of the (corpus × m)
    * subvector stream against the K·m-row codebook, a min_by hash
    * aggregate, and a dimension-bounded mean aggregate — the centroid
    * state collected per round is K·dim doubles, never corpus-sized.
    */
  private[graft] def pqTrainCodebooks(
      embeddings: DataFrame,
      m: Int,
      k: Int,
      iters: Int = 3): Seq[Seq[Seq[Double]]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val init = pqAnchors(embeddings, k)
    val dim = init.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    var cbs: Seq[Seq[Seq[Double]]] =
      (0 until m).map(mi => init.map(_.slice(mi * sub, mi * sub + sub)))
    val v = asDouble(col("embedding"))
    val subv = graft.core.Parallelism.ensure(embeddings)
      .select(
        col("vec_id"),
        posexplode(array((0 until m).map(mi =>
          slice(v, mi * sub + 1, sub)): _*)).as(Seq("m", "sv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      for (_ <- 1 to iters) {
        val cbDf = broadcast(
          cbs.zipWithIndex.flatMap { case (cb, mi) =>
            cb.zipWithIndex.map { case (c, j) => (mi, j, c) }
          }.toDF("m", "j", "c"))
        val d2 = aggregate(
          zip_with(col("sv"), col("c"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, t) => acc + t)
        // new centroid = 9-dp-rounded mean of the assigned subvectors;
        // the (m, j, i) mean aggregate is bounded by K·dim cells
        val means = subv
          .join(cbDf, Seq("m"))
          .groupBy(col("vec_id"), col("m"))
          .agg(min_by(
            struct(col("j"), col("sv")),
            struct(round(sqrt(d2), 9).as("d"), col("j"))).as("best"))
          .select(
            col("m"), col("best.j").as("j"),
            posexplode(col("best.sv")).as(Seq("i", "x")))
          .groupBy(col("m"), col("j"), col("i"))
          .agg(round(avg(col("x")), 9).as("mu"))
          .collect()
          .map(r => ((r.getInt(0), r.getInt(1)), (r.getInt(2), r.getDouble(3))))
          .groupBy(_._1)
          .map { case (key, rs) =>
            key -> rs.map(_._2).sortBy(_._1).map(_._2).toSeq
          }
        cbs = (0 until m).map(mi =>
          (0 until k).map(j => means.getOrElse((mi, j), cbs(mi)(j))))
      }
      cbs
    } finally { subv.unpersist(false); () }
  }

  /** PQ retrieval with an exact rerank tail — the shape a PQ index
    * actually serves: ADC candidate generation over the (optionally
    * Lloyd-trained) codes produces a top-`candR` shortlist per probe,
    * then only the shortlist is rescored with full-precision cosine
    * (the [[knnFunnel]]/[[probeIvfSqReranked]] discipline — recall can
    * only improve over the pure ADC cut). `trainIters = 0` uses the
    * oracle-checkable sampled codebook; > 0 the trained one.
    * Output: `probe_id, vec_id, cos_sim` (top `topK`, self excluded).
    */
  def pqAdcReranked(
      embeddings: DataFrame,
      probeIds: Seq[Long],
      topK: Int,
      candR: Int,
      m: Int,
      k: Int,
      trainIters: Int = 3): DataFrame = {
    require(candR >= topK, "candR must be >= topK")
    val cbs =
      if (trainIters > 0) pqTrainCodebooks(embeddings, m, k, trainIters)
      else {
        val a = pqAnchors(embeddings, k)
        val sub = a.head.length / m
        (0 until m).map(mi => a.map(_.slice(mi * sub, mi * sub + sub)))
      }
    val cands = pqAdcWith(embeddings, cbs, probeIds, candR)
      .select(col("probe_id"), col("vec_id"))
    exactRerank(embeddings, probeIds, cands, topK)
  }

  // ──────────────── binary (sign) quantization + Hamming ────────────────

  /** 1-bit sign quantization of a 64-dim vector, packed into two 32-bit
    * words carried as longs (`lo` = dims 0–31, `hi` = dims 32–63; bit d
    * set iff x_d > 0). 8 bytes per vector — the coarsest, cheapest
    * quantization layer (the "binary embedding" shape): candidate
    * generation is pure integer xor+popcount, no floats touched until
    * the rerank. A stateless scan projection with exact integer sums —
    * engine-portable with no rounding anywhere.
    */
  def signPack(embeddings: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    def word(off: Int): Column = {
      val weights = array((0 until 32).map(i => lit(1L << i)): _*)
      aggregate(
        zip_with(
          slice(v, off + 1, 32), weights,
          (x, wt) => when(x > 0.0, wt).otherwise(lit(0L))),
        lit(0L), (acc, t) => acc + t)
    }
    graft.core.Parallelism.ensure(embeddings)
      .select(col("vec_id"), word(0).as("lo"), word(32).as("hi"))
  }

  /** Binary-quantized retrieval funnel: Hamming-distance candidate
    * generation over the sign-packed corpus (integer xor + popcount per
    * pair — the cheapest possible scan at 100 TB, 8 bytes/vector), then
    * an exact full-precision cosine rerank of only the top-`candR`
    * shortlist per probe (the [[knnFunnel]] discipline: the second pass
    * scores shortlist members only, never the corpus). Both boundaries
    * are deterministic: the candidate cut ranks on (hamming, vec_id) —
    * all-integer, no float anywhere — and the final cut on (rounded
    * cosine, vec_id). Output: `probe_id, vec_id, hamming, cos_sim`
    * (top `topK` per probe, self excluded).
    */
  def knnBinaryFunnel(
      embeddings: DataFrame,
      probeIds: Seq[Long],
      topK: Int,
      candR: Int): DataFrame = {
    require(candR >= topK, "candR must be >= topK")
    val packed = signPack(embeddings)
    val probesP =
      probeSide(packed, probeIds, Seq(col("lo").as("plo"), col("hi").as("phi")))
    val cands = topPerKey(
      packed
        .crossJoin(probesP)
        .filter(col("vec_id") =!= col("probe_id"))
        .select(
          col("probe_id"), col("vec_id"),
          (bit_count(col("lo").bitwiseXOR(col("plo"))) +
            bit_count(col("hi").bitwiseXOR(col("phi")))).cast("long")
            .as("hamming")),
      Window.partitionBy(col("probe_id"))
        .orderBy(asc("hamming"), asc("vec_id")),
      candR)
    exactRerank(embeddings, probeIds, cands, topK, "hamming")
  }

  /** All-pairs near-duplicate candidates above a cosine threshold via
    * random-hyperplane LSH (SimHash for vectors): vectors agreeing on all
    * `bits` signs of seeded pseudo-random hyperplanes land in one bucket;
    * only within-bucket pairs are scored. The cross product never
    * materializes — the shuffle is by bucket key, so cost is Σ|bucket|²
    * instead of |V|². Hyperplanes are generated from a seeded xxhash64 of
    * (bit, dim) so the bucketing is deterministic across runs and engines.
    */
  /** The interpreted HOF signature the native [[graft.functions.HyperplaneSigExpr]]
    * replaced — kept as the differential oracle (HyperplaneSigSpec pins
    * native ≡ HOF bit-for-bit, nulls and empty vectors included).
    */
  private[graft] def hyperplaneSigFold(
      emb: Column, rawEmb: Column, bits: Int, seed: Long): Column =
    concat(
      (0 until bits).map { b =>
        val proj = aggregate(
          zip_with(
            emb,
            sequence(lit(0), size(rawEmb) - 1),
            (x, d) =>
              x * (when(
                pmod(xxhash64(lit(seed), lit(b), d), lit(2)) === 0,
                lit(1.0)).otherwise(lit(-1.0)))),
          lit(0.0),
          (acc, v) => acc + v)
        when(proj >= 0, lit("1")).otherwise(lit("0"))
      }: _*)

  def nearDupPairs(
      embeddings: DataFrame,
      threshold: Double,
      bits: Int = 12,
      seed: Long = 42L): DataFrame = {
    val emb = asDouble(col("embedding"))
    // sign bit b = sign(Σ_d h(b,d)·x_d) with h a deterministic ±1 hash —
    // ONE codegen'd pass per vector (the HOF form traversed the vector
    // `bits` times through interpreted lambdas; see HyperplaneSigExpr)
    val sig = graft.functions.VectorFunctions.hyperplaneSig(emb, bits, seed)
    // persist: the bucketed frame feeds both sides of the self-join;
    // without the barrier the hyperplane projection is recomputed per side
    val bucketed = graft.core.Parallelism.ensure(embeddings)
      .select(col("vec_id"), emb.as("e"), sig.as("bucket"))
      .withColumn("nrm", norm(col("e")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // same width-preservation as blockedNearDupPairs: the per-pair dot
    // products live in the join tasks
    val bucketedW = graft.core.Parallelism.spreadBy(bucketed, col("bucket"))
    val pairs = bucketedW
      .as("a")
      .join(bucketedW.as("b"), Seq("bucket"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("id_a"),
        col("b.vec_id").as("id_b"),
        round(
          cosinePre(col("a.e"), col("b.e"), col("a.nrm"), col("b.nrm")),
          6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    CacheScope.sealAfter(pairs, bucketed)
  }
  /** Approximate kNN GRAPH over the corpus — the adjacency a
    * graph-based ANN search (the NSW/HNSW family, Malkov & Yashunin,
    * "Efficient and robust approximate nearest neighbor search using
    * Hierarchical Navigable Small World graphs") walks at query time:
    * for every vector, its top-`m` neighbors by (rounded cosine desc,
    * vec_id). Candidates come from the IVF coarse quantizer — each
    * vector ranks the (broadcast) centroids, keeps its `nProbe` nearest
    * lists, and scores ONLY their members — so the build is
    * bucket-join-shaped, never an all-pairs self-join: the candidate
    * stream is |V| · nProbe/nList of the corpus in expectation, the
    * per-src cut is one window over candidates. At `nProbe = nList`
    * the candidate set is the full corpus and the graph is the EXACT
    * kNN graph — the oracle-gate configuration (an all-pairs oracle
    * recomputes every edge); `nProbe < nList` is the 100 TB path,
    * recall-tested like the other IVF probes (e6 discipline).
    *
    * Output: `src LONG, nbr LONG, cos_sim DOUBLE` — ≤ m rows per src,
    * deterministic under any partitioning (rounded sims + id
    * tie-breaks at every boundary).
    */
  def knnGraphIvf(
      embeddings: DataFrame,
      m: Int,
      nList: Int = 16,
      nProbe: Int = 16): DataFrame = {
    require(m >= 1 && nList >= 1 && nProbe >= 1 && nProbe <= nList,
      "need m >= 1 and 1 <= nProbe <= nList")
    val idx = buildIvfIndex(embeddings, nList)
    // each vector picks its nProbe nearest lists (the probeIvfBatch
    // ranking, applied to EVERY vector as a join, not a driver list)
    val probeLists = nearestLists(
      idx.assigned.select(col("vec_id") +: storedProbe: _*),
      idx.centroids, nProbe, key = "vec_id")
    // score only the probed lists' members; a pair met through several
    // lists dedups in the same aggregate that carries its (identical)
    // rounded score
    val cand = probeLists
      .join(
        idx.assigned.select(
          col("c_id"), col("vec_id").as("nbr"), col("e"), col("nrm")),
        Seq("c_id"))
      .filter(col("nbr") =!= col("vec_id"))
      .groupBy(col("vec_id").as("src"), col("nbr"))
      .agg(max(probeSim(col("e"), col("nrm"))).as("cos_sim"))
    // per-src cut through the BOUNDED top-k aggregate (the e9/rankTopK
    // discipline), not a window: the window form sorts the ENTIRE
    // candidate stream per partition, while the m-capped heap keeps
    // partial state at m pairs per (src, partition) and the exchange
    // m-bounded — on the graph build the candidate stream is the
    // dominant intermediate, exactly where the bound matters
    val out = cand
      .groupBy(col("src"))
      .agg(graft.functions.VectorFunctions
        .topK(col("cos_sim"), col("nbr"), m).as("topm"))
      .select(col("src"), explode(col("topm")).as("t"))
      .select(
        col("src"), col("t.vec_id").as("nbr"),
        col("t.cos_sim").as("cos_sim"))
    val sealed0 = CacheScope.sealAfter(out)
    idx.release()
    sealed0
  }

  /** Graph-ANN SEARCH over a [[knnGraphIvf]] adjacency — single-layer
    * navigable-small-world greedy beam search (the query-time half of
    * the NSW/HNSW family, flattened to one layer: the hierarchy is a
    * sequential-machine device for picking a good entry point, and a
    * DISTRIBUTED search batches probes instead of descending layers):
    * all probes enter at the graph's minimum vec_id; each hop expands
    * the current top-`beamWidth` visited vertices through the
    * adjacency, scores the new candidates against the probe, and folds
    * them into the visited set (dedup by max — the rounded score is a
    * function of the pair, so duplicates agree). After `hops` rounds
    * the result is the top-`k` visited per probe.
    *
    * Determinism: every boundary (beam cut, final top-k) ranks on
    * (rounded cos desc, vec_id), and the hop count is FIXED — so the
    * whole trajectory is engine-portable and an oracle can unroll it
    * hop by hop (the g5/e12 unrolling discipline). Scale shape: state
    * per probe is ≤ beam·m new rows per hop; each hop is one
    * |frontier|-row join against the m-bounded adjacency + one
    * broadcast-probe rescore + one dedup aggregate — nothing
    * corpus-sized moves after the graph is built, which is the entire
    * point of graph-based ANN at 100 TB. Recall vs exact kNN is
    * unit-tested; the oracle gate locks the trajectory itself.
    *
    * Output: `probe_id LONG, vec_id LONG, cos_sim DOUBLE` (≤ k rows per
    * probe; the probe's own vertex is excluded).
    */
  def nswSearch(
      graph: DataFrame,
      embeddings: DataFrame,
      probeIds: Seq[Long],
      k: Int,
      beamWidth: Int = 8,
      hops: Int = 3): DataFrame = {
    require(probeIds.nonEmpty && k >= 1 && beamWidth >= 1 && hops >= 0,
      "need probes, k >= 1, beamWidth >= 1, hops >= 0")
    val base = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = probeSide(base, probeIds, storedProbe)
    // fail fast on unknown probe ids: a missing probe would otherwise
    // walk nothing and silently emit zero rows for it — the
    // probeIvfRange discipline (the count is a bounded driver action on
    // the broadcast-small probe frame). Guards run inside a
    // release-on-throw block: a caller that catches the
    // IllegalArgumentException (both guard paths are exercised by
    // HardeningSpec) must not inherit leaked cache entries — the
    // success path's hygiene contract applies to failures too.
    val adj = graph.select(col("src"), col("nbr"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val entryId = CacheScope.releaseOnThrow(base, adj) {
      require(probes.count() == probeIds.distinct.size,
        s"nswSearch: some probe ids are not in the corpus " +
          s"(${probeIds.distinct.size} requested)")
      // fixed entry point: the graph's minimum vertex (1-row action)
      // — the NSW convention of a designated enter-point, made
      // deterministic. min over an empty adjacency is NULL (a
      // 1-vector corpus builds a zero-edge graph) — fail as loudly
      // as the unknown-probe require instead of an opaque NPE.
      val entryRow = adj.agg(min(col("src"))).first()
      require(!entryRow.isNullAt(0),
        "nswSearch: graph has no edges — cannot derive an entry " +
          "point (a corpus of fewer than 2 vectors builds an empty " +
          "kNN graph)")
      entryRow.getLong(0)
    }
    // the walk MAY pass through the probe's own vertex (it scores 1.0
    // and anchors the beam — the standard ANN convention); the self row
    // is excluded only from the FINAL top-k. Excluding it mid-walk
    // would empty the trajectory of a probe that IS the entry point.
    def score(cands: DataFrame): DataFrame = cands
      .join(base, Seq("vec_id"))
      .join(probes, Seq("probe_id"))
      .select(
        col("probe_id"), col("vec_id"),
        probeSim(col("e"), col("nrm")).as("cos_sim"))
    var visited = score(
      probes.select(col("probe_id")).withColumn("vec_id", lit(entryId)))
      .transform(CacheScope.rotate)
    for (_ <- 1 to hops) {
      val frontier = topBySim(visited, beamWidth)
        .select(col("probe_id"), col("vec_id").as("src"))
      val expanded = score(nswExpand(adj, frontier))
      visited = visited.unionByName(expanded)
        .groupBy(col("probe_id"), col("vec_id"))
        .agg(max(col("cos_sim")).as("cos_sim"))
        .transform(CacheScope.rotate) // eager: cuts the per-hop lineage
    }
    val out = topBySim(visited.filter(col("vec_id") =!= col("probe_id")), k)
    CacheScope.sealAfter(out, base, adj)
  }

  /** ONE frontier expansion of [[nswSearch]], exposed for the PlanSpec
    * exchange audit: the src-partitioned cached adjacency never
    * re-exchanges — only the |probes|·beam frontier ships to it
    * (shuffle_hash: the cached side streams, no per-hop re-sort).
    */
  private[graft] def nswExpand(
      adj: DataFrame, frontier: DataFrame): DataFrame =
    frontier
      .join(adj.hint("shuffle_hash"), Seq("src"))
      .select(col("probe_id"), col("nbr").as("vec_id"))

  /** Euclidean distance with the engine-portable float discipline:
    * left-to-right fold of the squared diffs (a [[dot]]-style
    * `aggregate`, codegen'd), then sqrt — the exact arithmetic DuckDB's
    * `list_distance` performs, so a 9-dp round on either side of the
    * boundary agrees (the e14 PQ discipline).
    */
  private def euclid(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, t) => acc + t))

  /** Euclidean Lloyd's k-means assignment — the clustering primitive
    * [[semDedup]] partitions the corpus with (and the Euclidean twin of
    * [[buildIvfIndex]]'s spherical trainer, which stays private to the
    * IVF layout). Everything is pinned deterministic so the WHOLE
    * training loop is oracle-replayable, not just the final scoring:
    * stride-sampled seeds (every ⌊n/k⌋-th vector by id — seeded
    * sampling without randomness; the seed's vec_id labels its
    * cluster), a FIXED iteration count, per-assignment distance rounded
    * to 9 dp with ties to the lowest c_id, per-dimension means rounded
    * to 9 dp so float summation order cannot leak into the centroids,
    * and empty clusters keeping their previous centroid.
    *
    * Plan shape per Lloyd pass: ONE broadcast-nested-loop scan of the
    * persisted base (k centroid rows ride as a broadcast frame; the
    * argmin folds inside a `min_by` hash aggregate — no window sort)
    * plus one per-(cluster, dimension) mean (posexplode → map-side
    * combined hash agg, k·dim rows out). Centroids collect between
    * passes: k rows by construction, driver-bounded at any corpus size.
    * Nothing corpus-sized ever moves except the per-pass hash
    * aggregates — the shape survives a 1000-executor 100 TB corpus
    * because the only cross-partition traffic is (vec_id-keyed argmin
    * partials, k·dim mean partials).
    *
    * Output: `vec_id LONG, c_id LONG, dist DOUBLE` — the assigned
    * cluster and the 6-dp distance to its trained centroid.
    */
  def kmeansAssign(
      embeddings: DataFrame,
      k: Int = 8,
      iters: Int = 2): DataFrame = {
    require(k >= 1 && iters >= 0, "need k >= 1, iters >= 0")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = base.count()
    var cents = strideSeeds(base, n, k)
    def centroidFrame(cs: Seq[(Long, Seq[Double])]): DataFrame =
      broadcast(cs.toDF("c_id", "c_emb"))
    def assign(centroids: DataFrame): DataFrame =
      assignEuclid(base, centroids)
    for (_ <- 1 to iters) {
      val updated =
        lloydMeans(assign(centroidFrame(cents)), "c_id")(_.getLong(0))
      cents = cents.map { case (id, e) => id -> updated.getOrElse(id, e) }
    }
    val out = assign(centroidFrame(cents))
      .select(col("vec_id"), col("c_id"), round(col("d"), 6).as("dist"))
    CacheScope.sealAfter(out, base)
  }

  /** ONE Lloyd assignment pass, exposed for the PlanSpec audit: the k
    * centroid rows ride as a broadcast frame over the cached base (a
    * broadcast nested-loop scan — never a shuffle of the corpus), and
    * the per-vector argmin folds inside a `min_by` hash aggregate whose
    * partials collapse the k candidate rows map-side.
    */
  private[graft] def assignEuclid(
      base: DataFrame, centroids: DataFrame): DataFrame = base
    .crossJoin(centroids)
    .withColumn("d", round(euclid(col("e"), col("c_emb")), 9))
    .groupBy(col("vec_id"))
    .agg(min_by(
      struct(col("c_id"), col("e"), col("d")),
      struct(col("d"), col("c_id"))).as("best"))
    .select(
      col("vec_id"), col("best.e").as("e"),
      col("best.c_id").as("c_id"), col("best.d").as("d"))

  /** SemDeDup (Abbas et al. 2023): SEMANTIC near-duplicate pruning by
    * clustering the corpus with k-means ([[kmeansAssign]]) and marking,
    * WITHIN each cluster only, every vector that has a lower-id
    * cluster-mate at cosine ≥ `tau`. The greedy lowest-id-kept rule is
    * deterministic and engine-replayable (no dependence on visit
    * order); under a non-transitive similarity chain a–b–c it removes
    * both b and c, the standard greedy behavior.
    *
    * This is the embedding-space member of the near-dup family (exact
    * d1 / MinHash d5 / SimHash d7 / perceptual m5): pairs are only ever
    * formed inside a cluster, so the quadratic term is Σ|cluster|²,
    * not |corpus|² — `k` IS the scale knob (the paper runs k ≈ √n;
    * clusters of ~n/k keep every per-cluster frame executor-sized).
    * The self-join runs on ONE c_id-partitioned persisted frame, so
    * both sides scan the same cache co-partitioned — no re-exchange.
    *
    * Output: `vec_id LONG, c_id LONG, removed BOOLEAN`.
    */
  def semDedup(
      embeddings: DataFrame,
      k: Int = 8,
      iters: Int = 2,
      tau: Double = 0.7): DataFrame = {
    val assigned = kmeansAssign(embeddings, k, iters) // sealed: self-contained
    val withE = assigned
      .join(
        embeddings.select(
          col("vec_id"), asDouble(col("embedding")).as("e")),
        Seq("vec_id"))
      .withColumn("nrm", norm(col("e")))
      .select(col("c_id"), col("vec_id"), col("e"), col("nrm"))
      .repartition(col("c_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = withE.select(
      col("c_id"), col("vec_id").as("u"),
      col("e").as("ue"), col("nrm").as("un"))
    val r = withE.select(
      col("c_id"), col("vec_id").as("v"),
      col("e").as("ve"), col("nrm").as("vn"))
    val removedIds = l.join(r, Seq("c_id"))
      .filter(col("u") < col("v"))
      // zero-norm guard: cosine is undefined (NaN) when either norm is
      // 0, and NaN comparison semantics diverge across engines (Spark:
      // NaN >= tau is false; DuckDB: NaN sorts above everything). A
      // zero vector can neither remove nor be removed — made explicit
      // here and mirrored in the e26 oracle, so the behavior is a
      // contract, not an engine accident.
      .filter(col("un") > 0 && col("vn") > 0)
      .filter(
        round(cosinePre(col("ue"), col("ve"), col("un"), col("vn")), 6)
          >= tau)
      .select(col("v").as("vec_id"))
      .distinct()
      .withColumn("removed", lit(true))
    val out = withE
      .select(col("vec_id"), col("c_id"))
      .join(removedIds, Seq("vec_id"), "left")
      .select(
        col("vec_id"), col("c_id"),
        coalesce(col("removed"), lit(false)).as("removed"))
    CacheScope.sealAfter(out, withE)
  }
}
