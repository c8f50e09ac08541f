package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Checkpoints.StageOps
import graft.Tables
import graft.functions.DedupFunctions._

/** Similarity search over the `embeddings` table (`Array[Float]` column):
  * exact brute-force cosine top-k as the baseline, random-hyperplane LSH
  * buckets as the scale path, and an IVF-style coarse quantizer
  * (centroids + nearest-centroid assignment).
  *
  * All vector math runs on quantized integers (floor(x*2^20+0.5)) so dot
  * products are exact and the derived doubles are engine-identical — the
  * DuckDB oracle replays the same formulas. The float-precision variants
  * live in DedupFunctions.cosineF for engine use.
  */
object SimilarityQueries {

  /** Exact-integer RRF(60) fusion of a dense top-20 (`qid, nid, rkd`)
    * and a sparse top-20 (`qid, nid, rks`), keeping the fused top-5 —
    * the fusion tail shared by every hybrid query path (s12, s15,
    * st15, st16's health probe): per-leg reciprocal ranks scaled to
    * exact integers, full-outer joined, re-ranked.
    */
  private def rrfTop5(dense: DataFrame, sparse: DataFrame): DataFrame = {
    val rrf =
      coalesce(floor(lit(1e9) / (lit(60) + col("rkd"))), lit(0L))
        .cast("long") +
        coalesce(floor(lit(1e9) / (lit(60) + col("rks"))), lit(0L))
          .cast("long")
    val fused = dense.join(sparse, Seq("qid", "nid"), "full_outer")
      .withColumn("rrf", rrf)
      .select(col("qid"), col("nid"), col("rrf"))
    graft.functions.RankFunctions
      .topKPerGroup(fused, "qid", "rrf", "nid", 5, asc = false)
      .select(col("qid"), col("rk"), col("nid"), col("rrf"))
  }

  /** One per-qid top-k LEG `(qid, nid, <rkName>)` of a hybrid query via
    * the bounded-heap aggregate — the scale-safe form of the rank-window
    * candidate cut: the probe fan (an IVF list ∝ corpus/nlists, or the
    * exact-baseline corpus scan) partial-aggregates map-side and the
    * exchange carries k rows per probe (see RankFunctions.topKPerGroup).
    */
  private def topKLeg(fan: DataFrame, score: String, rkName: String,
      k: Int, asc: Boolean): DataFrame =
    graft.functions.RankFunctions
      .topKPerGroup(fan, "qid", score, "nid", k, asc)
      .select(col("qid"), col("nid"), col("rk").as(rkName))

  private def quantized(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("v"))
      .withColumn("nn", normSqLong(col("v")))
  }

  /** Brute-force cosine top-5 for a probe set (vec_id < 25). The exact
    * baseline every ANN variant is judged against. At scale: broadcast the
    * probe set, stream the corpus — one pass over the big side, then a
    * per-query top-k via the bounded-heap aggregate, a tiny shuffle.
    */
  def s1KnnBrute(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val e = quantized(s, dir)
    val probes = e.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"))
    val cos = cosineQ(dotLong(col("qv"), col("v")), col("qn"), col("nn"))
    // per-probe top-5 via the bounded-heap aggregate, NOT a rank window:
    // the probes × corpus fan partial-aggregates map-side and the
    // exchange carries 5 rows per probe (see RankFunctions.topKPerGroup)
    val fan = broadcast(probes).crossJoin(e)
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos"))
    graft.functions.RankFunctions
      .topKPerGroup(fan, "qid", "cos", "nid", 5, asc = false)
      .select(col("qid"), col("rk"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  val s1Oracle: String =
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM q),
      |p AS (SELECT a.vec_id qid, b.vec_id nid,
      |    CAST(list_aggregate(list_transform(range(1, len(a.v) + 1),
      |        i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(b.nn AS DOUBLE))) AS cos
      |  FROM n a JOIN n b ON a.vec_id < 25 AND a.vec_id <> b.vec_id),
      |r AS (SELECT qid, nid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk FROM p)
      |SELECT qid, rk, nid, cos FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  /** Sign-bit bucket id from `planes` deterministic integer hyperplanes.
    * Hyperplane component (j,c) is an LCG value centered at 0
    * (1103515245·(j·dim+c)+12345 mod 2^31 − 2^30), so sign(dot) is exact
    * integer math in both engines. products stay < 2^57, safe in a long.
    * The hyperplanes are row-independent, so they fold to LITERAL arrays
    * at plan time and each row pays `planes` native dot kernels — the
    * HOF formulation re-derived all planes×dim LCG values per row inside
    * interpreted lambdas. Requires [[graft.expressions.LongArrayOps]]
    * registered (every caller's query entry registers).
    */
  def hyperplaneBucket(v: Column, planes: Int, dim: Int): Column = {
    val ws: Seq[Seq[Long]] = (0 until planes).map(j => (0 until dim).map(
      c => ((1103515245L * (j.toLong * dim + c) + 12345L)
        % 2147483648L) - 1073741824L))
    (0 until planes).map(j =>
      when(dotLong(v, typedLit(ws(j))) > 0L, lit(1L << j).cast("long"))
        .otherwise(0L))
      .reduce(_ + _)
  }

  /** LSH-bucketed ANN — the 100 TB path: candidates only meet inside a
    * bucket, so the probe×corpus pairing is an equi-join on bucket id
    * (shuffle linear in corpus size, prunable per bucket), not a cross
    * join. Top-3 per probe among same-bucket candidates.
    */
  def s2AnnLsh(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val e = quantized(s, dir)
      .withColumn("bucket", hyperplaneBucket(col("v"), 4, 64))
    val probes = e.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"),
        col("bucket"))
    val cos = cosineQ(dotLong(col("qv"), col("v")), col("qn"), col("nn"))
    // same-bucket fan cut by the bounded-heap top-k aggregate (map-side
    // partial merge; 3 rows per probe cross the exchange), not a window
    val fan = broadcast(probes).join(e, Seq("bucket"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos"))
    graft.functions.RankFunctions
      .topKPerGroup(fan, "qid", "cos", "nid", 3, asc = false)
      .select(col("qid"), col("rk"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  val s2Oracle: String =
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM q),
      |b AS (SELECT vec_id, v, nn,
      |    list_aggregate(list_transform(range(0, 4), j -> CASE WHEN
      |      list_aggregate(list_transform(range(1, len(v) + 1), i ->
      |        v[CAST(i AS INT)] * ((CAST(1103515245 AS BIGINT) * (j * 64 + i - 1) + 12345) % 2147483648 - 1073741824)),
      |        'sum') > 0
      |      THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END), 'sum') AS bucket
      |  FROM n),
      |p AS (SELECT a.vec_id qid, b2.vec_id nid,
      |    CAST(list_aggregate(list_transform(range(1, len(a.v) + 1),
      |        i -> a.v[CAST(i AS INT)] * b2.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(b2.nn AS DOUBLE))) AS cos
      |  FROM b a JOIN b b2 ON a.bucket = b2.bucket
      |    AND a.vec_id < 25 AND a.vec_id <> b2.vec_id),
      |r AS (SELECT qid, nid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk FROM p)
      |SELECT qid, rk, nid, cos FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** IVF-style coarse quantization: per-label centroids (exact integer
    * component sums → deterministic double means), then every vector is
    * assigned to its nearest centroid by L2. Output is the label×assigned
    * confusion matrix. At scale this is the IVF partitioner: centroids are
    * broadcast, assignment is a narrow map, and downstream ANN probes only
    * the matching inverted list.
    */
  /** Per-label centroids: exact integer component sums → deterministic
    * double means, one row per label with the mean vector. Shared by the
    * IVF assignment and probe queries so the quantizer can never diverge
    * between them. The component sums ride the fixed-width
    * [[graft.expressions.ElementwiseSum]] long-array aggregate — one
    * corpus pass with map-side partial merge, where the posexplode
    * formulation inflates the scan 64× and re-packs with a collect_list.
    */
  private def centroids(e: DataFrame): DataFrame = {
    graft.expressions.LongArrayOps.register(e.sparkSession)
    e.groupBy(col("label"))
      .agg(call_function("graft_elementwise_sum", col("v")).as("sv"),
        count(lit(1)).as("cnt"))
      .select(col("label").as("clabel"),
        transform(col("sv"),
          x => x.cast("double") / col("cnt").cast("double")).as("c"))
  }

  /** Every vector ranked against every centroid by exact L2 (rk=1 is the
    * nearest-centroid assignment; rk<=nprobe gives the probe lists).
    * Only the `maxRank` nearest survive — the truncation is an explicit
    * parameter so a caller raising nprobe must raise it here too instead
    * of silently reading an exhausted rank column.
    *
    * Deliberately NEITHER a rank window NOR a corpus-keyed aggregate:
    * the centroid table is k rows (k = coarse-quantizer fan-out, bounded
    * by construction), so it packs into ONE broadcast row and the whole
    * top-`maxRank` pick happens INSIDE each corpus row — score k
    * centroids with the native [[graft.expressions.SqDistLong]] kernel,
    * lexicographic-sort the (dist, clabel) structs (= the ROW_NUMBER
    * `ORDER BY dist, clabel` tie-break), slice. Zero shuffle, zero
    * aggregate on the corpus side. The earlier window form shuffled the
    * k×-replicated candidates; the earlier `collect_list` aggregate form
    * avoided that shuffle but rode `ObjectHashAggregateExec`, whose
    * sort-based fallback (guaranteed at corpus-cardinality grouping keys)
    * sorts variable-width buffers carrying the 64-long vector payload —
    * a spill cliff under memory pressure. A projection has no cliff.
    * Scoring, sort and slice are fused into one expression so
    * CollapseProject cannot duplicate the k-way scoring (the s10 lesson).
    */
  private def centroidRanked(e: DataFrame, cent: DataFrame,
      maxRank: Int = 2): DataFrame = {
    graft.expressions.LongArrayOps.register(e.sparkSession)
    val packed = cent.groupBy()
      .agg(collect_list(struct(col("clabel"), col("c"))).as("cents"))
    val top = slice(
      array_sort(transform(col("cents"), ct =>
        struct(sqDistLong(col("v"), ct.getField("c")).as("dist"),
          ct.getField("clabel").as("clabel")))),
      1, maxRank)
    e.crossJoin(broadcast(packed))
      .select(col("vec_id"), col("label"), col("v"), col("nn"),
        posexplode(top).as(Seq("rk0", "t")))
      .select(col("vec_id"), col("label"), col("v"), col("nn"),
        col("t.clabel").as("clabel"), col("t.dist").as("dist"),
        (col("rk0") + 1).cast("int").as("rk"))
  }

  /** Pack a (code, j, sc) sub-codebook table (bounded: m subspaces × k
    * codes) into ONE broadcast row — `byJ` ordered by subspace, each
    * subspace's candidates ordered by code — so PQ encode/decode can run
    * as per-row projections (the same no-corpus-side-aggregate shape as
    * [[centroidRanked]]): nothing vec-keyed ever aggregates or shuffles.
    */
  private def packCodebook(cj: DataFrame, codeCol: String): DataFrame =
    cj.groupBy(col("j"))
      .agg(array_sort(collect_list(struct(col(codeCol).as("code"),
        col("sc")))).as("cands"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("j"), col("cands"))))
        .as("byJ"))

  /** Nearest code of subspace `jc` for the slice of `v` it covers —
    * `struct(d, code, sc)` lexicographic min = the ROW_NUMBER
    * `ORDER BY d, code` pick (codes are unique, sc is never compared).
    * `width` is the subspace dimensionality (8 for the s6 layout).
    */
  private def nearestCode(v: Column, jc: Column,
      width: Int = 8): Column =
    array_min(transform(jc.getField("cands"), c =>
      struct(
        sqDistLong(slice(v, jc.getField("j") * width + 1, lit(width)),
          c.getField("sc")).as("d"),
        c.getField("code").as("code"),
        c.getField("sc").as("sc"))))

  def s3IvfAssign(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    centroidRanked(e, centroids(e), maxRank = 1)
      .filter(col("rk") === 1)
      .groupBy(col("label"), col("clabel").as("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("assigned"))
  }

  val s3Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT q.vec_id, q.label, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM q CROSS JOIN cent),
      |r AS (SELECT vec_id, label, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk FROM d)
      |SELECT label, clabel AS assigned, COUNT(*) n FROM r WHERE rk = 1
      |GROUP BY 1, 2 ORDER BY label, assigned""".stripMargin

  /** Full IVF ANN search: corpus vectors live in inverted lists keyed by
    * their nearest centroid ([[s3IvfAssign]]'s partitioner); each probe
    * scans only its `nprobe`=2 closest centroids' lists and takes top-3 by
    * cosine. This is the complete IVF read path: centroids broadcast, the
    * probe×corpus pairing an equi-join on list id — shuffle linear in
    * corpus size and prunable per list, never a cross join. Recall is
    * whatever the lists give (ANN semantics); the oracle replays the exact
    * same computation.
    */
  def s4IvfProbe(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val e = quantized(s, dir)
    // lists and probes share the assignment pass — stage it so the
    // centroid build + k-way scoring run once, not once per consumer
    val ranked = centroidRanked(e, centroids(e)).staged()
    // inverted lists: every vector filed under its nearest centroid
    val lists = ranked.filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("nn"), col("clabel").as("list"))
    // probes scan their nprobe=2 nearest lists
    val probes = ranked.filter(col("vec_id") < 25 && col("rk") <= 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"),
        col("clabel").as("list"))
    val cos = cosineQ(dotLong(col("qv"), col("v")), col("qn"), col("nn"))
    val fan = broadcast(probes).join(lists, Seq("list"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos"))
    graft.functions.RankFunctions
      .topKPerGroup(fan, "qid", "cos", "nid", 3, asc = false)
      .select(col("qid"), col("rk"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  val s4Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM q),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT n.vec_id, n.v, n.nn, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM n CROSS JOIN cent),
      |rk AS (SELECT vec_id, v, nn, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk FROM d),
      |lists AS (SELECT vec_id, v, nn, clabel AS list FROM rk WHERE rk = 1),
      |probes AS (SELECT vec_id qid, v qv, nn qn, clabel AS list FROM rk
      |  WHERE vec_id < 25 AND rk <= 2),
      |p AS (SELECT probes.qid, lists.vec_id nid,
      |    CAST(list_aggregate(list_transform(range(1, len(qv) + 1),
      |        i -> qv[CAST(i AS INT)] * lists.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(lists.nn AS DOUBLE))) AS cos
      |  FROM probes JOIN lists USING(list) WHERE probes.qid <> lists.vec_id),
      |r AS (SELECT qid, nid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk FROM p)
      |SELECT qid, rk, nid, cos FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** FILTERED vector search — the attribute-constrained ANN every
    * retrieval stack needs ("top-k neighbors WHERE lang = 'en'"), and
    * the composition with a correctness trap: filtering AFTER top-k
    * returns fewer than k results (or none) whenever the neighborhood
    * is dominated by non-matching vectors. The correct-and-scalable
    * order is PRE-FILTER: the attribute predicate lands on the corpus
    * side BEFORE the probe join, so the join input shrinks to the
    * matching subset and the top-k ranks only eligible vectors — this
    * gate proves the ordering in-plan; its STORED sibling
    * [[s19FilteredAnnStored]] proves the same composition against the
    * persisted codes layout, where an attribute-range predicate
    * reaches the parquet scan as a pushed filter and skip-stats prune
    * whole directories before Spark plans the scan (PlanSpec pins
    * both). Probes still search
    * their nprobe=2 nearest lists; the filter must not change WHERE a
    * probe looks (list selection is a property of the query vector),
    * only what competes inside the lists.
    */
  def s17FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val e = quantized(s, dir)
    val ranked = centroidRanked(e, centroids(e)).staged()
    // attribute pre-filter on the CORPUS side, before any scoring
    val lists = ranked.filter(col("rk") === 1 && col("vec_id") % 3 === 0)
      .select(col("vec_id"), col("v"), col("nn"), col("clabel").as("list"))
    val probes = ranked.filter(col("vec_id") < 25 && col("rk") <= 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nn").as("qn"), col("clabel").as("list"))
    val cos = cosineQ(dotLong(col("qv"), col("v")), col("qn"), col("nn"))
    val fan = broadcast(probes).join(lists, Seq("list"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos"))
    graft.functions.RankFunctions
      .topKPerGroup(fan, "qid", "cos", "nid", 3, asc = false)
      .select(col("qid"), col("rk"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  val s17Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM q),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT n.vec_id, n.v, n.nn, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM n CROSS JOIN cent),
      |rk AS (SELECT vec_id, v, nn, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk FROM d),
      |lists AS (SELECT vec_id, v, nn, clabel AS list FROM rk
      |  WHERE rk = 1 AND vec_id % 3 = 0),
      |probes AS (SELECT vec_id qid, v qv, nn qn, clabel AS list FROM rk
      |  WHERE vec_id < 25 AND rk <= 2),
      |p AS (SELECT probes.qid, lists.vec_id nid,
      |    CAST(list_aggregate(list_transform(range(1, len(qv) + 1),
      |        i -> qv[CAST(i AS INT)] * lists.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(lists.nn AS DOUBLE))) AS cos
      |  FROM probes JOIN lists USING(list) WHERE probes.qid <> lists.vec_id),
      |r AS (SELECT qid, nid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk FROM p)
      |SELECT qid, rk, nid, cos FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** FILTERED vector search on the STORED layout — [[s17FilteredAnn]]'s
    * pre-filter composition run the way a 100 TB deployment runs it:
    * the corpus codes live as a [[graft.io.Manifest]] table committed
    * in vec_id-RANGE blocks with skip-stats sidecars (s14's ingest
    * discipline), and the attribute predicate (here the realistic
    * range shape — "WHERE date/id/tenant in range" — rather than
    * s17's in-plan modulo demo) does its filtering at THREE levels
    * before a single distance is computed: (1)
    * [[graft.io.SkipStats.prunedDirs]] drops every non-overlapping
    * directory before Spark even plans the scan — the engine REQUIRES
    * a directory actually pruned; (2) the predicate reaches the
    * parquet reader as a pushed filter on the codes scan
    * (`PlanSpec` pins `PushedFilters`); (3) the row-level filter
    * keeps the scan exact at block boundaries. Probes still search
    * their nprobe=2 nearest lists — the filter changes what competes
    * inside a list, never where a probe looks. The oracle replays the
    * full build + the range predicate on the corpus, so the pruned
    * stored path must answer bit-identically to an unpruned
    * recomputation.
    */
  def s19FilteredAnnStored(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Manifest, SkipStats}
    graft.expressions.LongArrayOps.register(s)
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_s19_ivf"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val lRoot = idx + "/lists"
    val e = quantized(s, dir)
    val ranked = centroidRanked(e, centroids(e)).staged()
    val full = ranked.filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("nn"), col("clabel").as("list"))
    // the eligibility cut: the lower half of the id range (bounded
    // 1-row collect — the knob a real deployment gets from its
    // predicate, not its data)
    val cut = e.agg(max(col("vec_id"))).collect()(0).getLong(0) / 2
    // stored layout: two range blocks, skip-stats at commit
    full.filter(col("vec_id") <= cut).write.parquet(s"$idx/l_lo")
    Manifest.commitWithStats(s, lRoot, s"$idx/l_lo", Seq("vec_id"))
    full.filter(col("vec_id") > cut).write.parquet(s"$idx/l_hi")
    Manifest.commitWithStats(s, lRoot, s"$idx/l_hi", Seq("vec_id"))
    // level 1 — directory pruning must actually bite: the upper block
    // cannot overlap [0, cut]
    val (kept, skipped) =
      SkipStats.prunedDirs(s, lRoot, "vec_id", "0", cut.toString)
    require(skipped.contains(s"$idx/l_hi") && kept.contains(s"$idx/l_lo"),
      s"skip-stats must prune the non-overlapping block (kept=$kept " +
        s"skipped=$skipped)")
    // levels 2+3 — the pruned scan with the pushed row filter
    val lists = SkipStats.scan(s, lRoot, "vec_id", 0L, cut)
    val probes = ranked.filter(col("vec_id") < 25 && col("rk") <= 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nn").as("qn"), col("clabel").as("list"))
    val cos = cosineQ(dotLong(col("qv"), col("v")), col("qn"), col("nn"))
    val fan = broadcast(probes).join(lists, Seq("list"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos"))
    graft.functions.RankFunctions
      .topKPerGroup(fan, "qid", "cos", "nid", 3, asc = false)
      .select(col("qid"), col("rk"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  val s19Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM q),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT n.vec_id, n.v, n.nn, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM n CROSS JOIN cent),
      |rk AS (SELECT vec_id, v, nn, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk FROM d),
      |lists AS (SELECT vec_id, v, nn, clabel AS list FROM rk
      |  WHERE rk = 1 AND vec_id <= (SELECT MAX(vec_id) // 2 FROM embeddings)),
      |probes AS (SELECT vec_id qid, v qv, nn qn, clabel AS list FROM rk
      |  WHERE vec_id < 25 AND rk <= 2),
      |p AS (SELECT probes.qid, lists.vec_id nid,
      |    CAST(list_aggregate(list_transform(range(1, len(qv) + 1),
      |        i -> qv[CAST(i AS INT)] * lists.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(lists.nn AS DOUBLE))) AS cos
      |  FROM probes JOIN lists USING(list) WHERE probes.qid <> lists.vec_id),
      |r AS (SELECT qid, nid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk FROM p)
      |SELECT qid, rk, nid, cos FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** CONJUNCTION-predicate filtered search on the STORED layout —
    * [[s19FilteredAnnStored]] with the predicate shape production
    * actually sends: TWO attribute ranges ANDed ("tenant in range AND
    * date in range"), against a corpus stored in blocks laid out on
    * BOTH columns (vec_id half × label half — the 2-D block grid a
    * multi-tenant ingest produces). [[graft.io.SkipStats.prunedDirs]]'s
    * conjunction form must prune the UNION of what each conjunct
    * prunes alone — per-column min/max sidecars exactly (no
    * cross-column correlation, the Iceberg/Delta semantics) — so the
    * engine requires: the vec_id range alone skips exactly the two
    * hi-id blocks, the label range alone exactly the two hi-label
    * blocks, and the conjunction exactly their union (3 of 4 blocks,
    * strictly more than either conjunct alone achieves — the gap the
    * old single-range API left on the floor). The surviving block is
    * then scanned via [[graft.io.SkipStats.scanRanges]], whose
    * row-level conjunction keeps the answer exact at block boundaries
    * (both conjuncts pushed to parquet — PlanSpec pins it), and the
    * oracle replays the whole build + both predicates unpruned.
    */
  def s23ConjPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Manifest, SkipStats}
    import graft.io.SkipStats.ColRange
    graft.expressions.LongArrayOps.register(s)
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_s23_ivf"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val lRoot = idx + "/lists"
    val e = quantized(s, dir)
    val ranked = centroidRanked(e, centroids(e)).staged()
    val full = ranked.filter(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("v"), col("nn"),
        col("clabel").as("list"))
    val vcut = e.agg(max(col("vec_id"))).collect()(0).getLong(0) / 2
    val lcut = 4 // labels are 0..9: lo half [0,4], hi half [5,9]
    // 2-D block grid, stats on BOTH columns at commit
    for ((tag, vp, lp) <- Seq(
        ("ll", col("vec_id") <= vcut, col("label") <= lcut),
        ("lh", col("vec_id") <= vcut, col("label") > lcut),
        ("hl", col("vec_id") > vcut, col("label") <= lcut),
        ("hh", col("vec_id") > vcut, col("label") > lcut))) {
      full.filter(vp && lp).write.parquet(s"$idx/l_$tag")
      Manifest.commitWithStats(s, lRoot, s"$idx/l_$tag",
        Seq("vec_id", "label"))
    }
    val vidRange = ColRange("vec_id", "0", vcut.toString)
    val labRange = ColRange("label", "0", lcut.toString)
    def skippedTags(rs: Seq[ColRange]): Set[String] =
      SkipStats.prunedDirs(s, lRoot, rs, None)._2
        .map(_.split("/l_").last).toSet
    require(skippedTags(Seq(vidRange)) == Set("hl", "hh"),
      "the id range alone must skip exactly the two hi-id blocks")
    require(skippedTags(Seq(labRange)) == Set("lh", "hh"),
      "the label range alone must skip exactly the two hi-label blocks")
    require(skippedTags(Seq(vidRange, labRange)) ==
      Set("lh", "hl", "hh"),
      "the conjunction must skip the union — every block either " +
        "conjunct can rule out")
    val lists = SkipStats.scanRanges(s, lRoot, Seq(vidRange, labRange))
    val probes = ranked.filter(col("vec_id") < 25 && col("rk") <= 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nn").as("qn"), col("clabel").as("list"))
    val cos = cosineQ(dotLong(col("qv"), col("v")), col("qn"), col("nn"))
    val fan = broadcast(probes).join(lists, Seq("list"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos"))
    graft.functions.RankFunctions
      .topKPerGroup(fan, "qid", "cos", "nid", 3, asc = false)
      .select(col("qid"), col("rk"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  val s23Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, v,
      |  list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM q),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT n.vec_id, n.label, n.v, n.nn, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM n CROSS JOIN cent),
      |rk AS (SELECT vec_id, label, v, nn, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk FROM d),
      |lists AS (SELECT vec_id, v, nn, clabel AS list FROM rk
      |  WHERE rk = 1 AND vec_id <= (SELECT MAX(vec_id) // 2 FROM embeddings)
      |    AND label <= 4),
      |probes AS (SELECT vec_id qid, v qv, nn qn, clabel AS list FROM rk
      |  WHERE vec_id < 25 AND rk <= 2),
      |p AS (SELECT probes.qid, lists.vec_id nid,
      |    CAST(list_aggregate(list_transform(range(1, len(qv) + 1),
      |        i -> qv[CAST(i AS INT)] * lists.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(lists.nn AS DOUBLE))) AS cos
      |  FROM probes JOIN lists USING(list) WHERE probes.qid <> lists.vec_id),
      |r AS (SELECT qid, nid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk FROM p)
      |SELECT qid, rk, nid, cos FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** PCA / whitening SUFFICIENT STATISTICS — the distributed half of
    * training a linear transform (PCA projection, ZCA whitening, the
    * preprocessing that lifts SQ8/PQ recall): exact per-dimension sums
    * and the upper-triangle second-moment matrix Σxᵢxⱼ — ONE corpus
    * pass, map-side combined. Everything downstream (centering,
    * eigendecomposition, building the projection) is O(d²–d³) DRIVER
    * work on these statistics — the correct split at 100 TB, where the
    * corpus pass is the only thing that scales with data.
    *
    * ACCUMULATOR WIDTH (the scale hazard this design closes): per-row
    * products of 2²⁰-fixed-point components are bounded by 2⁴⁰, so a
    * single global int64 sum would wrap SILENTLY past ~2²³ rows — far
    * below a 100 TB corpus. The moments are therefore accumulated in
    * two exact levels: (1) per-BLOCK long partials, the block being
    * `vec_id DIV blockRows` with `blockRows ≤ 2²²` so each partial is
    * ≤ 2²²·2⁴⁰ = 2⁶² < 2⁶³ BY CONSTRUCTION (vec_id unique); (2) the
    * block partials — #blocks·(d(d+1)/2+d) longs, corpus-size
    * independent per block — re-reduced as `DECIMAL(38,0)`, which is
    * exact and overflow-CHECKED at any realistic corpus (10³⁸ headroom
    * ≈ 2·10¹⁹ blocks). The gate's BIGINT projection goes through a
    * `raise_error` guard, so a value past int64 fails LOUDLY instead
    * of wrapping. Boundary pinned by `WhitenSpec` ("exact past the
    * int64 accumulator boundary"): 2²³ max-magnitude rows, sum =
    * exactly 2⁶³, matched against a BigInt recomputation.
    * The oracle recomputes every sum exactly; the eigensolver /
    * whitening end is pinned by `WhitenSpec`.
    */
  def s18PcaMoments(s: SparkSession, dir: String): DataFrame =
    pcaMomentsChecked(s, quantized(s, dir), dim = 64,
      blockRows = 1L << 22)

  /** Exact moment core over (vec_id LONG unique, v ARRAY&lt;LONG&gt;):
    * per-block long partials re-reduced as DECIMAL(38,0). Output
    * columns (i, j, sxy, si, sj, n) with the sums as DECIMAL(38,0) —
    * the scale path keeps this width. Components must satisfy
    * |v| ≤ 2²⁰ (the corpus quantization bound) for the per-block
    * partial to stay within int64 at `blockRows = 2²²`; smaller
    * blockRows admits proportionally larger components (the boundary
    * spec uses both knobs).
    */
  private[graft] def pcaMomentsExact(s: SparkSession, e0: DataFrame,
      dim: Int, blockRows: Long): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val prodUdf = udf((v: Seq[Long]) => {
      val n = v.length
      val out = new Array[Long](n * (n + 1) / 2)
      var k = 0
      var i = 0
      while (i < n) {
        var j = i
        while (j < n) { out(k) = v(i) * v(j); k += 1; j += 1 }
        i += 1
      }
      out
    })
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val blocks = e0
      .withColumn("prod", prodUdf(col("v")))
      .withColumn("blk", expr(s"CAST(vec_id DIV $blockRows AS BIGINT)"))
      .groupBy(col("blk"))
      .agg(expr("graft_elementwise_sum(prod)").as("sxy"),
        expr("graft_elementwise_sum(v)").as("sx"),
        count(lit(1)).as("cnt"))
    val sxy = blocks.select(posexplode(col("sxy")).as(Seq("k", "p")))
      .groupBy(col("k")).agg(sum(col("p").cast(dec)).as("sxy"))
    val sx = blocks.select(posexplode(col("sx")).as(Seq("d", "p")))
      .groupBy(col("d")).agg(sum(col("p").cast(dec)).as("sx"))
    val nTot = blocks.agg(sum(col("cnt")).as("n"))
    // constant (k → (i, j)) triangular index map — dim²-sized driver
    // literals, not data
    val idx = {
      import s.implicits._
      (for (i <- 0 until dim; j <- i until dim)
        yield ((i * (2 * dim - i + 1)) / 2 + (j - i), i, j))
        .toDF("k", "i", "j")
    }
    sxy.join(broadcast(idx), Seq("k"))
      .join(broadcast(sx.select(col("d").as("i"), col("sx").as("si"))),
        Seq("i"))
      .join(broadcast(sx.select(col("d").as("j"), col("sx").as("sj"))),
        Seq("j"))
      .crossJoin(broadcast(nTot))
      .select(col("i"), col("j"), col("sxy"), col("si"), col("sj"),
        col("n"))
      .orderBy(col("i"), col("j"))
  }

  /** [[pcaMomentsExact]] projected to BIGINT behind a loud overflow
    * guard: a moment past int64 raises instead of wrapping (the old
    * single-long-accumulator path wrapped silently).
    */
  private[graft] def pcaMomentsChecked(s: SparkSession, e0: DataFrame,
      dim: Int, blockRows: Long): DataFrame = {
    def checked(c: Column): Column = {
      val lim = lit("9223372036854775807")
        .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0))
      when(abs(c) > lim,
        raise_error(concat(lit("graft s18: moment exceeds int64: "),
          c.cast("string"))).cast("long"))
        .otherwise(c.cast("long"))
    }
    pcaMomentsExact(s, e0, dim, blockRows)
      .select(col("i"), col("j"), checked(col("sxy")).as("sxy"),
        checked(col("si")).as("si"), checked(col("sj")).as("sj"),
        col("n"))
      .orderBy(col("i"), col("j"))
  }

  val s18Oracle: String =
    """WITH q AS (SELECT list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT COUNT(*) c FROM q),
      |dims AS (SELECT CAST(i AS INT) i, CAST(SUM(v[CAST(i AS INT)]) AS BIGINT) sx
      |  FROM q, range(1, 65) r(i) GROUP BY 1),
      |pairs AS (SELECT CAST(a.i AS INT) i, CAST(b.i AS INT) j
      |  FROM range(1, 65) a(i), range(1, 65) b(i) WHERE a.i <= b.i),
      |m AS (SELECT p.i, p.j,
      |    CAST(SUM(v[p.i] * v[p.j]) AS BIGINT) sxy
      |  FROM q CROSS JOIN pairs p GROUP BY 1, 2)
      |SELECT m.i - 1 AS i, m.j - 1 AS j, m.sxy,
      |  di.sx AS si, dj.sx AS sj, n.c AS n
      |FROM m JOIN dims di ON di.i = m.i JOIN dims dj ON dj.i = m.j
      |CROSS JOIN n ORDER BY i, j""".stripMargin

  /** IVF coarse-quantizer TRAINING: two unrolled Lloyd (k-means)
    * iterations with k=8, seeded by the first 8 vectors. Each iteration
    * is the canonical distributed shape — centroids broadcast, one
    * corpus scan for assignment, then a posexplode + two-level aggregate
    * (map-side combined, shuffle at k×dim rows) for the new means. Two
    * fixed iterations keep the oracle replayable; a production loop
    * iterates to movement-threshold with `localCheckpoint` per round
    * like [[graft.queries.DedupQueries.dCluster]]. Arithmetic stays
    * engine-exact: integer sums → one double division per component,
    * distances folded in index order.
    */
  def s5KmeansTrain(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val init = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("clabel"),
        transform(col("v"), _.cast("double")).as("c"))
    def assign(cent: DataFrame): DataFrame =
      centroidRanked(e, cent, maxRank = 1)
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("v"), col("clabel").as("cluster"))
    val a1 = assign(init)
    val cent2 = a1
      .groupBy(col("cluster"))
      .agg(call_function("graft_elementwise_sum", col("v")).as("sv"),
        count(lit(1)).as("cnt"))
      .select(col("cluster").as("clabel"),
        transform(col("sv"),
          x => x.cast("double") / col("cnt").cast("double")).as("c"))
    assign(cent2)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("checksum"))
      .orderBy(col("cluster"))
  }

  val s5Oracle: String =
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |init AS (SELECT CAST(vec_id AS INT) AS clabel,
      |    list_transform(v, x -> CAST(x AS DOUBLE)) AS c
      |  FROM q WHERE vec_id < 8),
      |d1 AS (SELECT q.vec_id, q.v, init.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) AS dist
      |  FROM q CROSS JOIN init),
      |a1 AS (SELECT vec_id, v, clabel AS cluster FROM (
      |    SELECT vec_id, v, clabel,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk
      |    FROM d1) WHERE rk = 1),
      |comp AS (SELECT cluster, CAST(i AS INT) AS i,
      |    SUM(v[CAST(i AS INT)]) AS sx, COUNT(*) AS cnt
      |  FROM a1, range(1, 65) r(i) GROUP BY 1, 2),
      |cent2 AS (SELECT cluster AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) AS c
      |  FROM comp GROUP BY cluster),
      |d2 AS (SELECT q.vec_id, cent2.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) AS dist
      |  FROM q CROSS JOIN cent2),
      |a2 AS (SELECT vec_id, clabel AS cluster FROM (
      |    SELECT vec_id, clabel,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk
      |    FROM d2) WHERE rk = 1)
      |SELECT cluster, COUNT(*) AS n, CAST(SUM(vec_id) AS BIGINT) AS checksum
      |FROM a2 GROUP BY cluster ORDER BY cluster""".stripMargin

  /** Product-quantization ANN with asymmetric distance (ADC) — the
    * memory-side scale play the IVF family doesn't cover: the corpus is
    * stored as m=8 sub-codes (here 8×~4 bits ≈ 4 bytes/vector vs 256
    * bytes of floats, a 64× squeeze), and probes score against the
    * RECONSTRUCTED vectors, never the originals. Sub-codebooks are the
    * per-label subspace means (10 codes × 8 subspaces) sliced out of the
    * same [[centroids]] the IVF queries use; real systems train them with
    * [[s5KmeansTrain]]'s loop per subspace.
    *
    * Scale shape: the codebook packs into ONE broadcast row and
    * encode+decode run inside each corpus row (per-subspace nearest-code
    * pick + slice concatenation, all native-kernel distance folds) — one
    * corpus scan, zero corpus-side shuffle or aggregate; scoring pairs a
    * broadcast bounded probe set against the code-compressed corpus
    * stream, exactly [[s1KnnBrute]]'s plan but over 64×-smaller corpus
    * state — which is the entire point of PQ. All distance folds run in
    * fixed index order, so the doubles are engine-exact and the oracle
    * replays them bit-for-bit.
    */
  def s6PqAdc(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val e = quantized(s, dir)
    val cent = centroids(e)
    // sub-codebook: (j, code=clabel, 8-dim centroid slice), packed into
    // one broadcast row so encode+decode run INSIDE each corpus row —
    // no 8× explode, no per-(vec,subspace) aggregate shuffling the
    // corpus, no vec-keyed collect_list reassembly (the
    // ObjectHashAggregate fallback shape the IVF assignment also shed)
    val cj = cent.select(col("clabel"),
        explode(sequence(lit(0), lit(7))).as("j"), col("c"))
      .select(col("clabel"), col("j"),
        slice(col("c"), col("j") * 8 + 1, lit(8)).as("sc"))
    val cjp = packCodebook(cj, "clabel")
    // encode+decode fused per row: nearest sub-code's slice per
    // subspace, concatenated in subspace order (byJ is j-ordered)
    val recon = flatten(transform(col("byJ"), jc =>
      nearestCode(col("v"), jc).getField("sc")))
    val rec = e.crossJoin(broadcast(cjp))
      .select(col("vec_id"), recon.as("r"))
    val probes = e.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val adist = sqDistLong(col("qv"), col("r"))
    // probes × corpus ADC fan cut by the bounded-heap aggregate
    // (map-side partial merge) — never a rank window over the fan
    val fan = broadcast(probes).crossJoin(rec)
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), adist.as("adist"))
    graft.functions.RankFunctions
      .topKPerGroup(fan, "qid", "adist", "nid", 3, asc = true)
      .select(col("qid"), col("rk"), col("nid"), col("adist"))
      .orderBy(col("qid"), col("rk"))
  }

  val s6Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |cj AS (SELECT clabel, CAST(j AS INT) j,
      |    list_slice(c, CAST(j*8+1 AS INT), CAST(j*8+8 AS INT)) sc
      |  FROM cent, range(0, 8) r(j)),
      |enc AS (SELECT q.vec_id, cj.j, cj.clabel,
      |    list_reduce(list_transform(range(1, 9), i ->
      |      (CAST(v[CAST(cj.j*8+i AS INT)] AS DOUBLE) - sc[CAST(i AS INT)])
      |      * (CAST(v[CAST(cj.j*8+i AS INT)] AS DOUBLE) - sc[CAST(i AS INT)])),
      |      (a, b) -> a + b) d
      |  FROM q CROSS JOIN cj),
      |code AS (SELECT vec_id, j, clabel FROM (
      |    SELECT vec_id, j, clabel,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, clabel) rk
      |    FROM enc) WHERE rk = 1),
      |recon AS (SELECT code.vec_id,
      |    flatten(list(cj.sc ORDER BY code.j)) r
      |  FROM code JOIN cj ON code.j = cj.j AND code.clabel = cj.clabel
      |  GROUP BY code.vec_id),
      |p AS (SELECT a.vec_id qid, b.vec_id nid,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(a.v[CAST(i AS INT)] AS DOUBLE) - b.r[CAST(i AS INT)])
      |      * (CAST(a.v[CAST(i AS INT)] AS DOUBLE) - b.r[CAST(i AS INT)])),
      |      (x, y) -> x + y) adist
      |  FROM q a CROSS JOIN recon b
      |  WHERE a.vec_id < 25 AND a.vec_id <> b.vec_id),
      |r AS (SELECT qid, nid, adist,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, nid) rk FROM p)
      |SELECT qid, rk, nid, adist FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** SemDeDup-style semantic dedup (Abbas et al., 2023): cluster the
    * embedding space with the coarse quantizer, then dedup ONLY within
    * clusters — the clustering is what bounds the quadratic term, turning
    * corpus² cosine comparisons into Σ cluster². Pairs with cos ≥ 0.4
    * mark the higher-id member dropped (keep-lowest-id policy); output is
    * the per-cluster removal census a curation pipeline acts on.
    *
    * Scale shape: assignment is [[s3IvfAssign]]'s broadcast-centroid
    * scan; the within-cluster self-join is an equi-join on cluster id
    * (shuffle linear in corpus, candidate volume bounded by the largest
    * cluster — skewed clusters call for finer centroids, the SemDeDup
    * paper's k ≈ 10% of corpus); the census is one map-side-combined
    * aggregate over k rows.
    */
  def d14SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val tau = 0.4
    val e = quantized(s, dir)
    val asg = centroidRanked(e, centroids(e), maxRank = 1)
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("nn"),
        col("clabel").as("cluster"))
    val cos = cosineQ(dotLong(col("a.v"), col("b.v")),
      col("a.nn"), col("b.nn"))
    val dropped = asg.as("a").join(asg.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cluster").as("cluster"),
        col("b.vec_id").as("vec_id"), cos.as("cos"))
      .filter(col("cos") >= tau)
      .select(col("cluster"), col("vec_id")).distinct()
      .withColumn("hit", lit(1L))
    asg.select(col("cluster"), col("vec_id"))
      .join(dropped, Seq("cluster", "vec_id"), "left")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce(col("hit"), lit(0L))).as("n_dropped"),
        sum(when(col("hit").isNotNull, col("vec_id")).otherwise(lit(0L)))
          .as("drop_checksum"))
      .orderBy(col("cluster"))
  }

  /** SEMANTIC decontamination (t34) — the leakage mode t17's n-gram
    * near-dup decontamination cannot see: a PARAPHRASED benchmark item
    * shares almost no trigrams with its source but sits at cosine ≈ 1
    * in embedding space. Composes [[d14SemanticDedup]]'s SemDeDup
    * machinery (per-label centroid clusters bound the pair search; the
    * cluster-local self-join is the scalable shape) across t9's hash
    * split labels with t17's reassignment rule: any val/test doc with a
    * same-cluster cosine ≥ 0.9 partner in a DIFFERENT split moves to
    * train; the census reports final sizes and movement. Planted
    * paraphrases: every ninth embedding gets a copy (id + 100000) with a
    * ±1 integer nudge per component at the quantized scale (≈ 1e-6
    * relative — cosine ≈ 1), built INSIDE the query so DuckDB replays
    * the construction exactly; the copy's id hashes to its own split,
    * so a deterministic subset genuinely leaks across the boundary.
    * Never corpus×corpus: clusters bound candidates, the label joins
    * are corpus-linear, the split is a stateless per-row hash.
    */
  def t34SemanticDecontam(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val base = quantized(s, dir).drop("nn")
    val para = base.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("label"),
        transform(col("v"),
          (x, i) => x + (col("vec_id") + i) % 3 - 1).as("v"))
    val corpus = base.unionByName(para)
      .withColumn("nn", normSqLong(col("v")))
      .staged()
    val asg = centroidRanked(corpus, centroids(corpus), maxRank = 1)
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("nn"),
        col("clabel").as("cluster"))
    val cos = cosineQ(dotLong(col("a.v"), col("b.v")),
      col("a.nn"), col("b.nn"))
    val pairs = asg.as("a").join(asg.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        cos.as("cos"))
      .filter(col("cos") >= 0.9)
      .select(col("ia"), col("ib"))
    val sym = pairs.unionByName(
      pairs.select(col("ib").as("ia"), col("ia").as("ib")))
    val bucket = (col("vec_id") * 2654435761L) % 4294967296L % 100
    val split = when(bucket < 90, "train")
      .when(bucket < 95, "val").otherwise("test")
    val spl = corpus.select(col("vec_id"), split.as("split"))
    val crossed = sym
      .join(spl.select(col("vec_id").as("ia"), col("split").as("sa")),
        Seq("ia"))
      .join(spl.select(col("vec_id").as("ib"), col("split").as("sb")),
        Seq("ib"))
      .filter(col("sa") =!= col("sb"))
      .select(col("ib").as("vec_id")).distinct()
      .withColumn("crossed", lit(true))
    spl.join(crossed, Seq("vec_id"), "left")
      .withColumn("final_split",
        when(coalesce(col("crossed"), lit(false)) &&
          col("split") =!= "train", "train").otherwise(col("split")))
      .groupBy(col("final_split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("final_split") =!= col("split"), 1L).otherwise(0L))
          .as("n_moved_in"),
        sum(col("vec_id")).as("checksum"))
      .orderBy(col("final_split"))
  }

  val t34Oracle: String =
    """WITH q0 AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |para AS (SELECT 100000 + vec_id AS vec_id, label,
      |    list_transform(range(1, 65), i ->
      |      v[CAST(i AS INT)] + (vec_id + i - 1) % 3 - 1) AS v
      |  FROM q0 WHERE vec_id % 9 = 0),
      |corpus AS (SELECT * FROM q0 UNION ALL SELECT * FROM para),
      |spl AS (SELECT vec_id,
      |    CASE WHEN (vec_id * 2654435761) % 4294967296 % 100 < 90 THEN 'train'
      |      WHEN (vec_id * 2654435761) % 4294967296 % 100 < 95 THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM corpus),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx,
      |    COUNT(*) cnt
      |  FROM corpus, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT corpus.vec_id, corpus.v, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM corpus CROSS JOIN cent),
      |asg AS (SELECT vec_id, v, clabel AS cluster FROM (
      |    SELECT vec_id, v, clabel,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk
      |    FROM d) WHERE rk = 1),
      |n AS (SELECT vec_id, v, cluster,
      |    list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM asg),
      |pr AS (SELECT a.vec_id ia, b.vec_id ib,
      |    CAST(list_aggregate(list_transform(range(1, 65),
      |        i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(b.nn AS DOUBLE))) cos
      |  FROM n a JOIN n b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
      |pairs AS (SELECT ia, ib FROM pr WHERE cos >= 0.9),
      |sym AS (SELECT ia, ib FROM pairs UNION ALL SELECT ib, ia FROM pairs),
      |crossed AS (SELECT DISTINCT sym.ib AS vec_id FROM sym
      |  JOIN spl ra ON ra.vec_id = sym.ia
      |  JOIN spl rb ON rb.vec_id = sym.ib
      |  WHERE ra.split <> rb.split),
      |fin AS (SELECT spl.vec_id, spl.split,
      |    CASE WHEN crossed.vec_id IS NOT NULL AND spl.split <> 'train'
      |      THEN 'train' ELSE spl.split END AS final_split
      |  FROM spl LEFT JOIN crossed ON crossed.vec_id = spl.vec_id)
      |SELECT final_split, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN final_split <> split THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_moved_in,
      |  CAST(SUM(vec_id) AS BIGINT) AS checksum
      |FROM fin GROUP BY final_split ORDER BY final_split""".stripMargin

  val d14Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT q.vec_id, q.v, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM q CROSS JOIN cent),
      |asg AS (SELECT vec_id, v, clabel AS cluster FROM (
      |    SELECT vec_id, v, clabel,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk
      |    FROM d) WHERE rk = 1),
      |n AS (SELECT vec_id, v, cluster,
      |    list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM asg),
      |pr AS (SELECT a.cluster, b.vec_id,
      |    CAST(list_aggregate(list_transform(range(1, 65),
      |        i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(b.nn AS DOUBLE))) cos
      |  FROM n a JOIN n b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
      |dr AS (SELECT DISTINCT cluster, vec_id FROM pr WHERE cos >= 0.4)
      |SELECT n.cluster, COUNT(*) AS n_members,
      |  CAST(SUM(CASE WHEN dr.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
      |    AS n_dropped,
      |  CAST(SUM(CASE WHEN dr.vec_id IS NULL THEN 0 ELSE n.vec_id END)
      |    AS BIGINT) AS drop_checksum
      |FROM n LEFT JOIN dr ON dr.cluster = n.cluster AND dr.vec_id = n.vec_id
      |GROUP BY n.cluster ORDER BY n.cluster""".stripMargin

  /** PQ codebook TRAINING — the missing third of the PQ story ([[s6PqAdc]]
    * encodes/scores, [[s5KmeansTrain]] proves the Lloyd loop; this runs
    * Lloyd PER SUBSPACE): initialize each subspace's codebook with the
    * per-label subvector means, assign every subvector to its nearest
    * code, recompute each code's centroid as the exact mean of its
    * assigned subvectors (empty codes keep their old centroid — standard
    * Lloyd), and re-assign. Output is the codebook-utilization histogram
    * — per (subspace, code) member count + id checksum — the diagnostic
    * a PQ build monitors for dead/engulfing codes.
    *
    * Scale shape: each step is the s5 shape sliced 8 ways — codebooks
    * broadcast, one corpus scan per assignment, mean recompute a
    * two-level (subspace, code, component) aggregate with map-side
    * combine; nothing is ever quadratic.
    */
  def s7PqTrain(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val e = quantized(s, dir)
    val cj0 = centroids(e).select(col("clabel"),
        explode(sequence(lit(0), lit(7))).as("j"), col("c"))
      .select(col("clabel"), col("j"),
        slice(col("c"), col("j") * 8 + 1, lit(8)).as("sc"))
      .staged()
    // nearest-code assignment as a per-row projection against the
    // packed 1-row codebook: each corpus row picks all 8 sub-codes
    // inside itself, THEN explodes to the per-(vec,subspace) rows the
    // mean recompute consumes — a narrow 8× generate, where the earlier
    // min_by aggregate shuffled corpus×8 keyed rows (and the rank
    // window before it shuffled corpus×8×k) every Lloyd round
    def assign(cj: DataFrame): DataFrame =
      e.crossJoin(broadcast(packCodebook(cj, "clabel")))
        .select(col("vec_id"), explode(transform(col("byJ"), jc =>
          struct(jc.getField("j").as("j"),
            nearestCode(col("v"), jc).getField("code").as("clabel"),
            slice(col("v"), jc.getField("j") * 8 + 1, lit(8)).as("sv"))))
          .as("t"))
        .select(col("vec_id"), col("t.j").as("j"),
          col("t.clabel").as("clabel"), col("t.sv").as("sv"))
    val a0 = assign(cj0)
    // exact-integer component sums (fixed-width ElementwiseSum buffers)
    // → one double division per component; empty codes fall back to
    // their initial centroid via the outer join
    val refined = a0
      .groupBy(col("j"), col("clabel"))
      .agg(call_function("graft_elementwise_sum", col("sv")).as("sx"),
        count(lit(1)).as("cnt"))
      .select(col("j"), col("clabel"),
        transform(col("sx"),
          x => x.cast("double") / col("cnt").cast("double")).as("scNew"))
    val cj1 = cj0.join(refined, Seq("j", "clabel"), "left")
      .select(col("j"), col("clabel"),
        coalesce(col("scNew"), col("sc")).as("sc"))
    assign(cj1)
      .groupBy(col("j"), col("clabel").as("code"))
      .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("checksum"))
      .orderBy(col("j"), col("code"))
  }

  val s7Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |cj0 AS (SELECT clabel, CAST(j AS INT) j,
      |    list_slice(c, CAST(j*8+1 AS INT), CAST(j*8+8 AS INT)) sc
      |  FROM cent, range(0, 8) r(j)),
      |vj AS (SELECT vec_id, CAST(j AS INT) j,
      |    list_slice(v, CAST(j*8+1 AS INT), CAST(j*8+8 AS INT)) sv
      |  FROM q, range(0, 8) r(j)),
      |d0 AS (SELECT vj.vec_id, vj.j, cj0.clabel, vj.sv,
      |    list_reduce(list_transform(range(1, 9), i ->
      |      (CAST(sv[CAST(i AS INT)] AS DOUBLE) - sc[CAST(i AS INT)])
      |      * (CAST(sv[CAST(i AS INT)] AS DOUBLE) - sc[CAST(i AS INT)])),
      |      (a, b) -> a + b) d
      |  FROM vj JOIN cj0 ON vj.j = cj0.j),
      |a0 AS (SELECT vec_id, j, clabel, sv FROM (
      |    SELECT vec_id, j, clabel, sv,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, clabel) rk
      |    FROM d0) WHERE rk = 1),
      |rcomp AS (SELECT j, clabel, CAST(i AS INT) i,
      |    SUM(sv[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM a0, range(1, 9) r(i) GROUP BY 1, 2, 3),
      |refined AS (SELECT j, clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) scNew
      |  FROM rcomp GROUP BY j, clabel),
      |cj1 AS (SELECT cj0.j, cj0.clabel,
      |    COALESCE(refined.scNew, cj0.sc) sc
      |  FROM cj0 LEFT JOIN refined
      |    ON cj0.j = refined.j AND cj0.clabel = refined.clabel),
      |d1 AS (SELECT vj.vec_id, vj.j, cj1.clabel,
      |    list_reduce(list_transform(range(1, 9), i ->
      |      (CAST(sv[CAST(i AS INT)] AS DOUBLE) - sc[CAST(i AS INT)])
      |      * (CAST(sv[CAST(i AS INT)] AS DOUBLE) - sc[CAST(i AS INT)])),
      |      (a, b) -> a + b) d
      |  FROM vj JOIN cj1 ON vj.j = cj1.j),
      |a1 AS (SELECT vec_id, j, clabel FROM (
      |    SELECT vec_id, j, clabel,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, clabel) rk
      |    FROM d1) WHERE rk = 1)
      |SELECT j, clabel AS code, COUNT(*) AS n,
      |  CAST(SUM(vec_id) AS BIGINT) AS checksum
      |FROM a1 GROUP BY j, clabel ORDER BY j, code""".stripMargin

  /** IVF-PQ with residual encoding — the composition production ANN
    * indexes (FAISS `IVFPQ`) actually ship, and the piece [[s4IvfProbe]]
    * (routing) and [[s6PqAdc]] (compression) each cover only half of:
    * vectors are filed under their nearest coarse centroid AND stored as
    * PQ codes of the RESIDUAL v − centroid. Residuals are what make PQ
    * codes sharp — they're centered near zero, so the same code budget
    * spends on local detail instead of re-describing cluster position.
    * A probe scans its nprobe=2 nearest lists and scores against
    * reconstructions (centroid + residual-code slices), never raw
    * vectors.
    *
    * Engine-exactness: residuals are re-quantized to integers
    * (floor(v−c+0.5) — one exact IEEE subtraction each), so codebook
    * means are integer sums with one division, immune to float-summation
    * order. Scale shape: centroids and the packed 1-row residual
    * codebook broadcast; assignment, residual, and fused encode+decode
    * are single corpus scans that run INSIDE each row (no
    * per-(vec,subspace) aggregate, no vec-keyed reassembly — the
    * [[centroidRanked]] projection shape); the only corpus-wide
    * aggregate is codebook training (map-side combined, k×m×8-row
    * shuffle); scoring is a broadcast-probe equi-join on list id over
    * the code-compressed corpus — linear shuffle, prunable per list,
    * and the corpus state it carries is the ~4 B/vector codes plus
    * shared codebooks, the IVF-PQ memory contract.
    */
  def s8IvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val cent = centroids(e)
    val centByCluster = cent.withColumnRenamed("clabel", "cluster")
    // shared by the inverted-list build (rk=1) and the probe routing
    // (rk<=2) — stage so the assignment pass runs once
    val ranked = centroidRanked(e, cent).staged()
    val asg = ranked.filter(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("v"),
        col("clabel").as("cluster"))
    // integer residuals: one exact IEEE subtraction per component, then
    // round-half-up — keeps every downstream mean exactly replayable
    val withRes = asg.join(broadcast(centByCluster), Seq("cluster"))
      .select(col("vec_id"), col("label"), col("cluster"),
        zip_with(col("v"), col("c"),
          (x, m) => floor(x.cast("double") - m + lit(0.5d)).cast("long"))
          .as("rq"))
    // residual sub-codebook TRAINING: per-label exact integer component
    // sums (fixed-width ElementwiseSum buffers, one corpus pass,
    // map-side partial merge) → per-subspace mean slices
    val cb = withRes
      .groupBy(col("label"))
      .agg(call_function("graft_elementwise_sum", col("rq")).as("sx"),
        count(lit(1)).as("cnt"))
      .select(col("label").as("code"),
        transform(col("sx"),
          x => x.cast("double") / col("cnt").cast("double")).as("m"))
      .select(col("code"), explode(sequence(lit(0), lit(7))).as("j"),
        slice(col("m"), col("j") * 8 + 1, lit(8)).as("sc"))
    // encode+decode fused per row against the packed 1-row codebook
    // (residual nearest-code pick per subspace, slices concatenated in
    // subspace order) — no per-(vec,subspace) aggregate, no vec-keyed
    // collect_list reassembly; reconstruction = coarse centroid +
    // residual code slices
    val resRecon = flatten(transform(col("byJ"), jc =>
      nearestCode(col("rq"), jc).getField("sc")))
    val recon = withRes.crossJoin(broadcast(packCodebook(cb, "code")))
      .select(col("vec_id"), col("cluster"), resRecon.as("res"))
      .join(broadcast(centByCluster), Seq("cluster"))
      .select(col("vec_id"), col("cluster").as("list"),
        zip_with(col("c"), col("res"), (m, r) => m + r).as("r"))
    val probes = ranked.filter(col("vec_id") < 25 && col("rk") <= 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("clabel").as("list"))
    val adist = sqDistLong(col("qv"), col("r"))
    val fan = broadcast(probes).join(recon, Seq("list"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), adist.as("adist"))
    graft.functions.RankFunctions
      .topKPerGroup(fan, "qid", "adist", "nid", 3, asc = true)
      .select(col("qid"), col("rk"), col("nid"), col("adist"))
      .orderBy(col("qid"), col("rk"))
  }

  val s8Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT q.vec_id, q.label, q.v, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM q CROSS JOIN cent),
      |rkall AS (SELECT vec_id, label, v, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk
      |  FROM d),
      |asg AS (SELECT vec_id, label, v, clabel AS cluster
      |  FROM rkall WHERE rk = 1),
      |res AS (SELECT asg.vec_id, asg.label, asg.cluster,
      |    list_transform(range(1, 65), i ->
      |      CAST(FLOOR(CAST(v[CAST(i AS INT)] AS DOUBLE)
      |        - c[CAST(i AS INT)] + 0.5) AS BIGINT)) rq
      |  FROM asg JOIN cent ON asg.cluster = cent.clabel),
      |rj AS (SELECT vec_id, label, cluster, CAST(j AS INT) j,
      |    list_slice(rq, CAST(j*8+1 AS INT), CAST(j*8+8 AS INT)) sv
      |  FROM res, range(0, 8) r(j)),
      |rcomp AS (SELECT label, j, CAST(i AS INT) i,
      |    SUM(sv[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM rj, range(1, 9) r(i) GROUP BY 1, 2, 3),
      |cb AS (SELECT label AS code, j,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) sc
      |  FROM rcomp GROUP BY label, j),
      |enc AS (SELECT rj.vec_id, rj.cluster, rj.j, cb.code,
      |    list_reduce(list_transform(range(1, 9), i ->
      |      (CAST(sv[CAST(i AS INT)] AS DOUBLE) - sc[CAST(i AS INT)])
      |      * (CAST(sv[CAST(i AS INT)] AS DOUBLE) - sc[CAST(i AS INT)])),
      |      (a, b) -> a + b) d
      |  FROM rj JOIN cb ON rj.j = cb.j),
      |code AS (SELECT vec_id, cluster, j, code FROM (
      |    SELECT vec_id, cluster, j, code,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) rk
      |    FROM enc) WHERE rk = 1),
      |rrec AS (SELECT code.vec_id, code.cluster,
      |    flatten(list(cb.sc ORDER BY code.j)) res
      |  FROM code JOIN cb ON code.j = cb.j AND code.code = cb.code
      |  GROUP BY code.vec_id, code.cluster),
      |recon AS (SELECT rrec.vec_id, rrec.cluster AS list,
      |    list_transform(range(1, 65), i ->
      |      c[CAST(i AS INT)] + res[CAST(i AS INT)]) r
      |  FROM rrec JOIN cent ON rrec.cluster = cent.clabel),
      |probes AS (SELECT vec_id qid, v qv, clabel AS list FROM rkall
      |  WHERE vec_id < 25 AND rk <= 2),
      |p AS (SELECT probes.qid, recon.vec_id nid,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(qv[CAST(i AS INT)] AS DOUBLE) - r[CAST(i AS INT)])
      |      * (CAST(qv[CAST(i AS INT)] AS DOUBLE) - r[CAST(i AS INT)])),
      |      (x, y) -> x + y) adist
      |  FROM probes JOIN recon USING(list)
      |  WHERE probes.qid <> recon.vec_id),
      |r AS (SELECT qid, nid, adist,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, nid) rk FROM p)
      |SELECT qid, rk, nid, adist FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** ANN recall@3 report — the quality number an index is judged by
    * before it replaces exact search: for every probe, intersect the
    * IVF-probe top-3 ([[s4IvfProbe]]'s plan) with the brute-force top-3
    * ([[s1KnnBrute]]'s plan) and histogram the per-probe hit counts.
    * Both sides are deterministic (cosine ties break by neighbor id), so
    * recall is engine-exact, and the oracle recomputes BOTH searches —
    * proving the recall measurement itself, not just the searches.
    *
    * Scale shape: the exact side is the one bounded-probe broadcast scan
    * you'd run on a SAMPLE at 100 TB (recall is estimated, never
    * computed corpus-wide); the ANN side reuses the inverted-list
    * equi-join; the intersection is a (qid, nid) equi-join of two top-3
    * sets — probe-count-sized, not corpus-sized.
    */
  def s9AnnRecall(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val e = quantized(s, dir)
    val cos = cosineQ(dotLong(col("qv"), col("v")), col("qn"), col("nn"))
    // exact top-3: bounded probes broadcast against the corpus stream
    val probes = e.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"))
    val exactFan = broadcast(probes).crossJoin(e)
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos"))
    val exact = graft.functions.RankFunctions
      .topKPerGroup(exactFan, "qid", "cos", "nid", 3, asc = false)
      .select(col("qid"), col("nid"))
    // ANN top-3 via the inverted lists (s4's plan, nprobe=2)
    val ranked = centroidRanked(e, centroids(e)).staged()
    val lists = ranked.filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("nn"), col("clabel").as("list"))
    val lprobes = ranked.filter(col("vec_id") < 25 && col("rk") <= 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"),
        col("clabel").as("list"))
    val annFan = broadcast(lprobes).join(lists, Seq("list"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos"))
    val ann = graft.functions.RankFunctions
      .topKPerGroup(annFan, "qid", "cos", "nid", 3, asc = false)
      .select(col("qid"), col("nid"))
    val hits = exact.join(ann, Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("h"))
    probes.select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("h"), lit(0L)).as("h"))
      .groupBy(col("h").as("hits"))
      .agg(count(lit(1)).as("n_probes"), sum(col("qid")).as("checksum"))
      .orderBy(col("hits"))
  }

  val s9Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM q),
      |exactp AS (SELECT a.vec_id qid, b.vec_id nid,
      |    CAST(list_aggregate(list_transform(range(1, len(a.v) + 1),
      |        i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(b.nn AS DOUBLE))) AS cos
      |  FROM n a JOIN n b ON a.vec_id < 25 AND a.vec_id <> b.vec_id),
      |exact3 AS (SELECT qid, nid FROM (SELECT qid, nid,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
      |  FROM exactp) WHERE rk <= 3),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT n.vec_id, n.v, n.nn, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM n CROSS JOIN cent),
      |rk AS (SELECT vec_id, v, nn, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk FROM d),
      |lists AS (SELECT vec_id, v, nn, clabel AS list FROM rk WHERE rk = 1),
      |probes AS (SELECT vec_id qid, v qv, nn qn, clabel AS list FROM rk
      |  WHERE vec_id < 25 AND rk <= 2),
      |annp AS (SELECT probes.qid, lists.vec_id nid,
      |    CAST(list_aggregate(list_transform(range(1, len(qv) + 1),
      |        i -> qv[CAST(i AS INT)] * lists.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(lists.nn AS DOUBLE))) AS cos
      |  FROM probes JOIN lists USING(list) WHERE probes.qid <> lists.vec_id),
      |ann3 AS (SELECT qid, nid FROM (SELECT qid, nid,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
      |  FROM annp) WHERE rk <= 3),
      |ph AS (SELECT p.qid, COALESCE(h.h, 0) AS h FROM
      |  (SELECT DISTINCT qid FROM exactp) p LEFT JOIN
      |  (SELECT exact3.qid, COUNT(*) h FROM exact3
      |    JOIN ann3 ON exact3.qid = ann3.qid AND exact3.nid = ann3.nid
      |    GROUP BY exact3.qid) h ON p.qid = h.qid)
      |SELECT CAST(h AS BIGINT) AS hits, COUNT(*) AS n_probes,
      |  CAST(SUM(qid) AS BIGINT) AS checksum
      |FROM ph GROUP BY h ORDER BY hits""".stripMargin

  /** SQ8 scalar quantization ANN — the OTHER standard vector-compression
    * scheme production indexes ship (FAISS `SQ8`), complementing
    * [[s6PqAdc]]'s product quantization: each DIMENSION is linearly
    * quantized to an 8-bit code against the corpus per-dimension
    * [min, max] range (4× smaller than PQ's subspace codebooks to
    * train — just 64 (min, max) pairs — at 64 B/vector instead of
    * PQ's 8 B, the classic recall-vs-memory trade). Probes score raw
    * query vectors against RECONSTRUCTED corpus vectors (asymmetric,
    * like ADC) by L2.
    *
    * Engine-exactness: quantization range, codes, and reconstructions
    * are all integer arithmetic (the only divisions are floor-divs of
    * nonneg longs, replayed with FLOOR(CAST/CAST) both engines);
    * distances are integer sums — the whole query hashes exactly.
    * Scale shape: the range table is ONE map-side-combined aggregate
    * collapsed to a 1-row broadcast (vs a 100 TB corpus it is
    * constant); encode/reconstruct are codegen'd per-row transforms;
    * scoring is [[s1KnnBrute]]'s broadcast-probes × streamed-corpus
    * scan over the code-compressed state.
    */
  def s10Sq8(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val e = quantized(s, dir)
    // per-dimension [min, max] over the corpus, one row of two arrays —
    // fixed-width elementwise reductions, one corpus pass
    val mm = e.groupBy()
      .agg(call_function("graft_elementwise_min", col("v")).as("mins"),
        call_function("graft_elementwise_max", col("v")).as("maxs"))
    val dims = sequence(lit(1), lit(64))
    // code_i = (v_i - min_i) * 255 DIV (max_i - min_i);
    // r_i    = min_i + code_i * (max_i - min_i) DIV 255.
    // Encode and decode are FUSED into one per-element expression on
    // purpose: a separate `codes` array column gets inlined by
    // CollapseProject into the reconstruction lambda, re-evaluating the
    // whole 64-element encode once PER reconstructed element — a silent
    // 64× blowup (measured 2×+ on the end-to-end query). A real index
    // would persist the codes column (64 B/vector) and only the decode
    // half would run at query time.
    val recon = transform(dims, i => {
      val mn = element_at(col("mins"), i)
      val span = element_at(col("maxs"), i) - mn
      val code = when(span > 0,
        floor(((element_at(col("v"), i) - mn) * 255).cast("double") /
          span.cast("double")).cast("long")).otherwise(0L)
      mn + floor((code * span).cast("double") / 255.0d).cast("long")
    })
    graft.expressions.LongArrayOps.register(s)
    val rec = e.crossJoin(broadcast(mm))
      .select(col("vec_id"), recon.as("r"))
      .withColumn("rn", normSqLong(col("r")))
    val probes = e.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nn").as("qn"))
    // ‖q−r‖² = ‖q‖² − 2·q·r + ‖r‖² — the hot per-pair fold runs on the
    // native codegen'd dot kernel instead of an interpreted HOF lambda
    val d2 = col("qn") - lit(2L) * dotLong(col("qv"), col("r")) + col("rn")
    // probes × corpus fan cut by the bounded-heap aggregate (map-side
    // partial merge; 3 rows per probe cross the exchange) — not a window
    val fan = broadcast(probes).crossJoin(rec)
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), d2.as("d2"))
    graft.functions.RankFunctions
      .topKPerGroup(fan, "qid", "d2", "nid", 3, asc = true)
      .select(col("qid"), col("rk"), col("nid"), col("d2"))
      .orderBy(col("qid"), col("rk"))
  }

  val s10Oracle: String =
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |mm AS (SELECT CAST(i AS INT) i, MIN(v[CAST(i AS INT)]) mn,
      |    MAX(v[CAST(i AS INT)]) mx
      |  FROM q, range(1, 65) r(i) GROUP BY 1),
      |mml AS (SELECT list(mn ORDER BY i) mins, list(mx ORDER BY i) maxs
      |  FROM mm),
      |enc AS (SELECT vec_id, v, list_transform(range(1, 65), i ->
      |    CASE WHEN maxs[CAST(i AS INT)] > mins[CAST(i AS INT)] THEN
      |      CAST(floor(CAST((v[CAST(i AS INT)] - mins[CAST(i AS INT)]) * 255
      |        AS DOUBLE) / CAST(maxs[CAST(i AS INT)] - mins[CAST(i AS INT)]
      |        AS DOUBLE)) AS BIGINT)
      |    ELSE 0 END) codes
      |  FROM q CROSS JOIN mml),
      |rec AS (SELECT vec_id, list_transform(range(1, 65), i ->
      |    mins[CAST(i AS INT)] + CAST(floor(CAST(codes[CAST(i AS INT)] *
      |      (maxs[CAST(i AS INT)] - mins[CAST(i AS INT)]) AS DOUBLE)
      |      / 255.0) AS BIGINT)) r
      |  FROM enc CROSS JOIN mml),
      |p AS (SELECT a.vec_id qid, b.vec_id nid,
      |    list_aggregate(list_transform(range(1, 65), i ->
      |      (a.v[CAST(i AS INT)] - b.r[CAST(i AS INT)])
      |      * (a.v[CAST(i AS INT)] - b.r[CAST(i AS INT)])), 'sum') d2
      |  FROM q a CROSS JOIN rec b
      |  WHERE a.vec_id < 25 AND a.vec_id <> b.vec_id),
      |r2 AS (SELECT qid, nid, d2,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nid) rk FROM p)
      |SELECT qid, rk, nid, CAST(d2 AS BIGINT) AS d2
      |FROM r2 WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** SQ8 with a PERSISTED codes column — the production read path the
    * [[s10Sq8]] fusion comment describes: the range table and the 8-bit
    * codes are trained/encoded ONCE and written to parquet (the index
    * build — 64 B/vector corpus state plus one 2×64-long range row), and
    * the query side reads the STORED codes back and runs decode-only
    * reconstruction + scoring. [[s10Sq8]] proves the arithmetic under the
    * oracle with an in-plan recompute; this proves the same result comes
    * off the materialized index, pinning that build/query split — at
    * 100 TB you never re-encode the corpus per probe batch.
    *
    * Scale shape of the query side: one scan of the codes parquet (the
    * 64×-smaller state), a broadcast 1-row range table, per-row decode,
    * then [[s1KnnBrute]]'s broadcast-probes × streamed-corpus scoring on
    * the native dot kernel.
    */
  def s11Sq8Stored(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_s11_sq8"
    val e = quantized(s, dir)
    val dims = sequence(lit(1), lit(64))
    // ---- index build: train the per-dimension range table (fixed-width
    // elementwise reductions, one corpus pass), encode the corpus once,
    // persist both (mode=overwrite keeps the gate re-runnable)
    val mm = e.groupBy()
      .agg(call_function("graft_elementwise_min", col("v")).as("mins"),
        call_function("graft_elementwise_max", col("v")).as("maxs"))
    val codeArr = transform(dims, i => {
      val mn = element_at(col("mins"), i)
      val span = element_at(col("maxs"), i) - mn
      when(span > 0,
        floor(((element_at(col("v"), i) - mn) * 255).cast("double") /
          span.cast("double")).cast("long")).otherwise(0L)
    })
    e.crossJoin(broadcast(mm))
      .select(col("vec_id"), codeArr.as("codes"))
      .write.mode("overwrite").parquet(idx + "/codes")
    mm.write.mode("overwrite").parquet(idx + "/ranges")
    // ---- query: decode-only reconstruction from the STORED codes
    val stored = graft.io.SchemaMemo.read(s, Seq(idx + "/codes"))
    val ranges = graft.io.SchemaMemo.read(s, Seq(idx + "/ranges"))
    val recon = transform(dims, i => {
      val mn = element_at(col("mins"), i)
      val span = element_at(col("maxs"), i) - mn
      mn + floor((element_at(col("codes"), i) * span).cast("double") /
        255.0d).cast("long")
    })
    val rec = stored.crossJoin(broadcast(ranges))
      .select(col("vec_id"), recon.as("r"))
      .withColumn("rn", normSqLong(col("r")))
    val probes = e.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nn").as("qn"))
    val d2 = col("qn") - lit(2L) * dotLong(col("qv"), col("r")) + col("rn")
    // probes × corpus fan cut by the bounded-heap aggregate (map-side
    // partial merge; 3 rows per probe cross the exchange) — not a window
    val fan = broadcast(probes).crossJoin(rec)
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), d2.as("d2"))
    graft.functions.RankFunctions
      .topKPerGroup(fan, "qid", "d2", "nid", 3, asc = true)
      .select(col("qid"), col("rk"), col("nid"), col("d2"))
      .orderBy(col("qid"), col("rk"))
  }

  /** PQ with a PERSISTED codes column — [[s11Sq8Stored]]'s build/query
    * split applied to product quantization, closing the pair the round-5
    * review asked for: the sub-codebook and the corpus's 8 sub-codes per
    * vector are trained/encoded ONCE and written to parquet (4 B-scale
    * state per vector vs 256 B of floats — the index build), and the
    * query side reads the STORED codes back, reconstructs by codebook
    * LOOKUP only (per-row `filter`+`element_at` against the one-row
    * broadcast codebook pack — no distance math on the corpus at query
    * time, which is precisely what distinguishes decode from re-encode),
    * then scores probes exactly like [[s6PqAdc]]. Same oracle as s6: the
    * materialized index must answer bit-identically to the in-plan
    * recompute.
    */
  def s13PqStored(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_s13_pq"
    val e = quantized(s, dir)
    val cj = centroids(e).select(col("clabel"),
        explode(sequence(lit(0), lit(7))).as("j"), col("c"))
      .select(col("clabel"), col("j"),
        slice(col("c"), col("j") * 8 + 1, lit(8)).as("sc"))
    // ---- index build: encode once, persist codes + codebook
    val cjp = packCodebook(cj, "clabel")
    val codes = transform(col("byJ"), jc =>
      nearestCode(col("v"), jc).getField("code"))
    e.crossJoin(broadcast(cjp))
      .select(col("vec_id"), codes.as("codes"))
      .write.mode("overwrite").parquet(idx + "/codes")
    cj.write.mode("overwrite").parquet(idx + "/codebook")
    // ---- query: lookup-only reconstruction from the stored codes
    val stored = graft.io.SchemaMemo.read(s, Seq(idx + "/codes"))
    val cjp2 = packCodebook(
      graft.io.SchemaMemo.read(s, Seq(idx + "/codebook")), "clabel")
    val recon = flatten(transform(col("byJ"), jc =>
      element_at(filter(jc.getField("cands"), c =>
        c.getField("code") ===
          element_at(col("codes"), jc.getField("j") + 1)), 1)
        .getField("sc")))
    val rec = stored.crossJoin(broadcast(cjp2))
      .select(col("vec_id"), recon.as("r"))
    val probes = e.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val adist = sqDistLong(col("qv"), col("r"))
    // probes × corpus ADC fan cut by the bounded-heap aggregate
    // (map-side partial merge) — never a rank window over the fan
    val fan = broadcast(probes).crossJoin(rec)
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), adist.as("adist"))
    graft.functions.RankFunctions
      .topKPerGroup(fan, "qid", "adist", "nid", 3, asc = true)
      .select(col("qid"), col("rk"), col("nid"), col("adist"))
      .orderBy(col("qid"), col("rk"))
  }

  /** IVF with INCREMENTAL list ingestion — [[graft.queries.TextQueries]]
    * t25's manifest-table discipline applied to the vector index, which
    * is how a production IVF index absorbs a growing corpus: the coarse
    * quantizer is trained ONCE on the first block and FROZEN to parquet
    * (retraining per arrival would re-shuffle every existing list);
    * each arriving block runs only its own nearest-centroid assignment
    * (the per-row projection — zero corpus-side shuffle) and appends
    * its list entries as a manifest commit. Nothing previously filed is
    * re-read or rewritten; readers snapshot the lists table. The oracle
    * replays the frozen-quantizer semantics exactly — centroids from
    * the first block, assignment over everything — so the census pins
    * both the incremental mechanics and the assignment arithmetic.
    *
    * The index is TWO tables that must move together — the lists AND
    * the frozen quantizer they were assigned against (lists read
    * against a retrained quantizer are silently mis-bucketed), so the
    * quantizer freezes as a manifest table, every ingest publishes
    * (lists, quantizer) with one atomic
    * [[graft.io.Catalog.pinLatest]] AFTER the table commits, and the
    * census resolves the lists through
    * [[graft.io.Catalog.snapshotOf]] (`io31_torn_index` gates the
    * crash-between-commit-and-pin window on the sparse sibling).
    */
  def s14IvfIncr(s: SparkSession, dir: String): DataFrame = {
    val (idx, lRoot, _, cRoot) = ivfIncrBuild(s, dir, "graft_s14_ivf")
    val _ = idx
    ivfAssignCensus(s, cRoot, lRoot)
  }

  /** The s14 incremental-IVF build (frozen quantizer + two appending
    * list commits, each published with an atomic catalog pin), shared
    * with [[s24IvfCompact]] so the compaction gate proves identity
    * against the SAME build, not a copy of it. Returns (idx, lists,
    * quantizer, catalog) roots.
    */
  private def ivfIncrBuild(s: SparkSession, dir: String,
      name: String): (String, String, String, String) = {
    import graft.io.{Catalog, Manifest}
    graft.expressions.LongArrayOps.register(s)
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/" + name
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val (lRoot, qRoot, cRoot) =
      (idx + "/lists", idx + "/quantizer", idx + "/catalog")
    val e = quantized(s, dir)
    // train on the first block only, then freeze the quantizer — as a
    // manifest table, so the catalog can pin it with the lists
    centroids(e.filter(col("vec_id") % 2 === 0))
      .write.parquet(idx + "/centroids")
    Manifest.commit(s, qRoot, idx + "/centroids")
    val cent = Manifest.snapshot(s, qRoot)
    def ingest(part: DataFrame, tag: String): Unit = {
      centroidRanked(part, cent, maxRank = 1)
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("label"), col("clabel"))
        .write.parquet(s"$idx/l_$tag")
      // vec_id skip-stats at commit: the lists table is range-prunable
      // from its first block
      Manifest.commitWithStats(s, lRoot, s"$idx/l_$tag", Seq("vec_id"))
      // atomic publish point: lists + the quantizer they assign against
      Catalog.pinLatest(s, cRoot, Seq(lRoot, qRoot))
    }
    ingest(e.filter(col("vec_id") % 2 === 0), "a")
    val pre = Manifest.entries(s, lRoot)
    ingest(e.filter(col("vec_id") % 2 === 1), "b")
    require(Manifest.entries(s, lRoot).startsWith(pre),
      "incremental ingest must append to the lists, never rewrite them")
    (idx, lRoot, qRoot, cRoot)
  }

  private def ivfAssignCensus(s: SparkSession, cRoot: String,
      lRoot: String): DataFrame =
    graft.io.Catalog.snapshotOf(s, cRoot, lRoot)
      .groupBy(col("label"), col("clabel").as("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("assigned"))

  /** IVF list COMPACTION — t26's maintenance discipline on the dense
    * side: a streamed/incremental IVF ([[s14IvfIncr]], st13) accretes
    * one committed directory per ingest, which is right at write time
    * and wrong after thousands of increments (per-file open overhead,
    * split enumeration over an ever-growing dir count). The remedy is
    * [[graft.io.IndexCompaction.compact]]: rewrite the current lists
    * snapshot into ~target-size files WITH a fresh vec_id skip-stats
    * sidecar, commit as a REPLACING manifest version, and republish
    * the catalog pin — readers mid-query keep their resolved version,
    * time travel keeps every pre-compact increment, and retention
    * reclaims the fragments later. The gate is identity: the census
    * through the compacted pin must hash-match s14's oracle exactly
    * (compaction that changes answers is corruption, not maintenance),
    * with structural requires pinning ≥2 dirs before and exactly 1
    * after.
    */
  def s24IvfCompact(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Catalog, IndexCompaction, Manifest}
    val (idx, lRoot, qRoot, cRoot) = ivfIncrBuild(s, dir, "graft_s24_ivf")
    val preDirs = Manifest.committed(s, lRoot)
    require(preDirs.size >= 2,
      s"compaction gate needs a fragmented table, got $preDirs")
    // maintenance as PLAIN SQL CALLs — s24's lifecycle with no Scala
    // API: compact the list fragments (sidecar recomputed over vec_id),
    // then re-publish the lists+quantizer pin vector atomically
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    s.conf.set("spark.sql.catalog.g24", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g24.root", base)
    s.sql("CALL g24.compact_index('graft_s24_ivf.lists', 'vec_id')")
    val postDirs = Manifest.committed(s, lRoot)
    require(postDirs.size == 1 && postDirs != preDirs,
      s"compact must land as ONE replacing directory, got $postDirs")
    s.sql("CALL g24.pin('graft_s24_ivf.catalog', " +
      "'graft_s24_ivf.lists,graft_s24_ivf.quantizer')")
    ivfAssignCensus(s, cRoot, lRoot)
  }

  val s14Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx,
      |    COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) WHERE vec_id % 2 = 0 GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT q.vec_id, q.label, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM q CROSS JOIN cent),
      |r AS (SELECT vec_id, label, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk
      |  FROM d)
      |SELECT label, clabel AS assigned, COUNT(*) n FROM r WHERE rk = 1
      |GROUP BY 1, 2 ORDER BY label, assigned""".stripMargin

  /** Vector TAKEDOWN propagated through the stored ANN index —
    * [[graft.queries.TextQueries]] t27's right-to-be-forgotten path on
    * the dense side: embeddings of deleted source documents must leave
    * the index with work ∝ takedown size, not an index rebuild. Build
    * is [[s14IvfIncr]]'s frozen-quantizer incremental ingestion; the
    * takedown is ONE appending [[graft.io.MergeOnRead]] tombstone
    * commit on the lists table (keys-only write IO), after which every
    * merged snapshot answers as if the victims were never filed —
    * probes can no longer surface them. [[graft.io.MergeOnRead.fold]]
    * then rewrites only victim-bearing list directories and the engine
    * requires the post-fold census row-identical to the deferred one.
    *
    * Deliberately retained: the FROZEN coarse quantizer, which was
    * trained while the victims were present. Takedown removes the
    * vectors from everything a query can touch; scrubbing their
    * statistical influence from the trained artifact is a retrain
    * ([[s14IvfIncr]]'s first step) — the two operations have different
    * costs and different triggers, and a production index schedules
    * them separately. The oracle pins exactly this semantics: centroids
    * from the original first block, census over survivors only.
    */
  def s16AnnTakedown(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Catalog, GraftPar, Manifest, MergeOnRead}
    graft.expressions.LongArrayOps.register(s)
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_s16_ivf"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val (lRoot, qRoot, cRoot) =
      (idx + "/lists", idx + "/quantizer", idx + "/catalog")
    val e = quantized(s, dir)
    // frozen quantizer as a manifest table, pinnable with the lists
    centroids(e.filter(col("vec_id") % 2 === 0))
      .write.parquet(idx + "/centroids")
    Manifest.commit(s, qRoot, idx + "/centroids")
    val cent = Manifest.snapshot(s, qRoot)
    def ingest(part: DataFrame, tag: String): Unit = {
      centroidRanked(part, cent, maxRank = 1)
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("label"), col("clabel"))
        .write.parquet(s"$idx/l_$tag")
      Manifest.commitWithStats(s, lRoot, s"$idx/l_$tag", Seq("vec_id"))
    }
    // concurrent loaders against one index — the manifest commit loop
    // absorbs the append race
    GraftPar.all(Seq(
      () => ingest(e.filter(col("vec_id") % 2 === 0), "a"),
      () => ingest(e.filter(col("vec_id") % 2 === 1), "b")))
    // concurrent loaders never pin mid-race; fan-in is the publish
    Catalog.pinLatest(s, cRoot, Seq(lRoot, qRoot))
    val pre = Manifest.entries(s, lRoot)
    MergeOnRead.deleteWhere(s, lRoot, "vec_id",
      col("vec_id") % 13 === 3, idx + "/stage")
    require(Manifest.entries(s, lRoot).startsWith(pre),
      "a takedown must append a tombstone, never rewrite the lists")
    // the takedown publish: probes stop surfacing victims atomically
    Catalog.pinLatest(s, cRoot, Seq(lRoot, qRoot))
    def census(): DataFrame = MergeOnRead.snapshot(s, lRoot, "vec_id",
        Some(Catalog.resolve(s, cRoot)(lRoot)))
      .groupBy(col("label"), col("clabel").as("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("assigned"))
    val deferred = census().collect().toSeq
    MergeOnRead.fold(s, lRoot, "vec_id", idx + "/stage")
    // the maintenance fold publishes as its own pin vector
    Catalog.pinLatest(s, cRoot, Seq(lRoot, qRoot))
    val folded = census()
    val foldedRows = folded.collect().toSeq
    require(foldedRows == deferred,
      "folding the tombstones must not change what probes see")
    // the parity require already ran both reads; return the verified
    // rows as a local relation rather than re-running the census
    s.createDataFrame(s.sparkContext.parallelize(foldedRows, 1),
      folded.schema)
  }

  /** [[s14Oracle]]'s frozen-quantizer assignment, censused over the
    * surviving vectors only — centroids still come from the full first
    * block (the trained artifact predates the takedown; see the
    * engine-side scaladoc).
    */
  val s16Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx,
      |    COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) WHERE vec_id % 2 = 0 GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT q.vec_id, q.label, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM q CROSS JOIN cent),
      |r AS (SELECT vec_id, label, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk
      |  FROM d)
      |SELECT label, clabel AS assigned, COUNT(*) n FROM r
      |WHERE rk = 1 AND vec_id % 13 <> 3
      |GROUP BY 1, 2 ORDER BY label, assigned""".stripMargin

  /** Hybrid retrieval via reciprocal-rank fusion — the full RAG stack's
    * retrieval layer in one query: the DENSE side is s1's brute cosine
    * kNN (probe vectors 0–4, top-20), the SPARSE side is BM25
    * more-like-this over `documents` (query q = document q's distinct
    * terms, t23's fixed-point scoring, top-20 — the two tables share the
    * 0..N id space by construction), fused with RRF(60):
    * score(d) = Σ_lists ⌊1e9/(60+rank)⌋ summed as LONGS (ranks are
    * exact integers, so fusion is float-free by construction). At
    * scale each side is its own already-bounded pipeline — the fusion
    * join touches only two top-20 lists per probe, and the final top-5
    * window partitions by the ≤5-key qid. Docs retrieved by only one
    * modality still surface (full-outer fusion) — the reason hybrid
    * beats either side alone.
    */
  def s12HybridRrf(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    import graft.functions.TextFunctions.tokens
    val e = quantized(s, dir)
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"))
    val cos = cosineQ(dotLong(col("qv"), col("v")), col("qn"), col("nn"))
    val denseFan = broadcast(probes).crossJoin(e)
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos"))
    val dense = graft.functions.RankFunctions
      .topKPerGroup(denseFan, "qid", "cos", "nid", 20, asc = false)
      .select(col("qid"), col("nid"), col("rk").as("rkd"))
    // single tokenize pass; dl is a projection, corpus stats one agg
    // (t23's shape — see tBm25)
    val withDl = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = withDl.agg(count(lit(1)), sum(col("dl"))).collect()(0)
    val (nDocs, totLen) = (stats.getLong(0), stats.getLong(1))
    val avgdl = totLen.toDouble / nDocs
    val toks = withDl.select(col("doc_id"),
      explode(col("toks")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = withDl.select(col("doc_id"), col("dl"))
    val qterms = tf.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("term"))
    val sparseScored = tf.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .join(dft, Seq("term")).join(dl, Seq("doc_id"))
      .withColumn("fp", graft.functions.TextFunctions.bm25Fp(
        col("tf"), col("df"), col("dl"), nDocs, avgdl))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("fp")).as("score_fp"))
      .select(col("qid"), col("doc_id").as("nid"), col("score_fp"))
    val sparse = graft.functions.RankFunctions
      .topKPerGroup(sparseScored, "qid", "score_fp", "nid", 20,
        asc = false)
      .select(col("qid"), col("nid"), col("rk").as("rks"))
    rrfTop5(dense, sparse).orderBy(col("qid"), col("rk"))
  }

  val s12Oracle: String =
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x),
      |    'sum') nn FROM q),
      |pd AS (SELECT a.vec_id qid, b.vec_id nid,
      |    CAST(list_aggregate(list_transform(range(1, len(a.v) + 1),
      |        i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(b.nn AS DOUBLE))) AS cos
      |  FROM n a JOIN n b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
      |d20 AS (SELECT qid, nid, rkd FROM (SELECT qid, nid, ROW_NUMBER()
      |    OVER (PARTITION BY qid ORDER BY cos DESC, nid) rkd FROM pd)
      |  WHERE rkd <= 20),
      |t AS (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
      |    THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)
      |    AS term FROM documents),
      |nn2 AS (SELECT (SELECT COUNT(*) FROM documents) AS nd,
      |    (SELECT COUNT(*) FROM t) AS tl),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
      |qt AS (SELECT DISTINCT doc_id AS qid, term FROM t WHERE doc_id < 5),
      |sc AS (SELECT qid, tf.doc_id AS nid,
      |    CAST(SUM(CAST(FLOOR(
      |      (CAST(nd AS DOUBLE) / df) * (tf * 2.2e0) /
      |        (tf + 1.2e0 * (0.25e0 +
      |          0.75e0 * (dl / (CAST(tl AS DOUBLE) / nd)))) * 1e7)
      |      AS BIGINT)) AS BIGINT) AS score_fp
      |  FROM tf JOIN qt USING (term) JOIN dft USING (term)
      |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN nn2
      |  WHERE tf.doc_id <> qt.qid
      |  GROUP BY 1, 2),
      |s20 AS (SELECT qid, nid, rks FROM (SELECT qid, nid, ROW_NUMBER()
      |    OVER (PARTITION BY qid ORDER BY score_fp DESC, nid) rks FROM sc)
      |  WHERE rks <= 20),
      |f AS (SELECT COALESCE(d20.qid, s20.qid) AS qid,
      |    COALESCE(d20.nid, s20.nid) AS nid,
      |    CAST(COALESCE(FLOOR(1e9 / (60 + rkd)), 0) AS BIGINT)
      |      + CAST(COALESCE(FLOOR(1e9 / (60 + rks)), 0) AS BIGINT) AS rrf
      |  FROM d20 FULL OUTER JOIN s20
      |    ON d20.qid = s20.qid AND d20.nid = s20.nid),
      |r AS (SELECT qid, nid, rrf, ROW_NUMBER() OVER
      |    (PARTITION BY qid ORDER BY rrf DESC, nid) rk FROM f)
      |SELECT qid, rk, nid, rrf FROM r WHERE rk <= 5 ORDER BY qid, rk"""
      .stripMargin

  /** Hybrid retrieval answered from the TWO STORED indexes — the
    * production composition of the retrieval stack. [[s12HybridRrf]]
    * proves the RRF fusion arithmetic against brute exact legs; THIS
    * gate runs retrieval the way a 100 TB deployment would: the dense
    * leg reads a persisted IVF-PQ index (coarse centroids, residual
    * sub-codebook, per-list PQ codes written `partitionBy(list)`) and
    * scores ONLY the nprobe=2 probed lists — the codes scan is
    * partition-pruned to the probed list ids, so no corpus-wide
    * distance scan exists anywhere in the plan (`PlanSpec` pins both
    * the partition filter and the list-keyed equi-join); the sparse
    * leg reads t24's persisted BM25 index, built by the SAME
    * [[TextQueries.buildBm25Index]] code t24 gates, so the two stored
    * sparse paths cannot drift; fusion is [[s12HybridRrf]]'s
    * exact-integer RRF(60). Probes are vec/doc ids < 5 (the two tables
    * share the 0..N id space by construction).
    *
    * Scale shape: both index builds are one-time corpus passes. A query
    * batch then costs probe routing INSIDE each probe row (k-centroid
    * scoring against the broadcast pack), a partition-pruned scan of
    * the ~4 B/vector codes of the probed lists only, per-row
    * lookup-decode against the one-row broadcast codebook pack, and
    * posting-list equi-joins on the sparse side — never a
    * probes × corpus product, never a re-encode. The probed-list set
    * is a ≤ probes×nprobe collect that becomes the pruning predicate,
    * the same bounded-collect discipline as the bm25 query-term
    * derivation.
    */
  def s15HybridStored(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_s15_hybrid"
    val idxP = new org.apache.hadoop.fs.Path(idx)
    idxP.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(idxP, true)
    // cached for the build's duration: the quantizer train, the list
    // assignment, and the probe routing all consume the quantized
    // corpus — uncached, each action re-reads + re-quantizes it
    val e = quantized(s, dir).cache()
    // ---- dense index build (once per corpus): coarse quantizer,
    // residual PQ codebook, per-list codes — s8's arithmetic, persisted
    centroids(e).write.parquet(idx + "/centroids")
    val cent = graft.io.SchemaMemo.read(s, Seq(idx + "/centroids"))
    val centByList = cent.withColumnRenamed("clabel", "list")
    val asg = centroidRanked(e, cent, maxRank = 1)
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("v"),
        col("clabel").as("list"))
    // staged: consumed by BOTH the codebook train and the codes write —
    // uncached, each write re-ran the full corpus assignment
    val withRes = asg.join(broadcast(centByList), Seq("list"))
      .select(col("vec_id"), col("label"), col("list"),
        zip_with(col("v"), col("c"),
          (x, m) => floor(x.cast("double") - m + lit(0.5d)).cast("long"))
          .as("rq"))
      .staged()
    val cb = withRes.groupBy(col("label"))
      .agg(call_function("graft_elementwise_sum", col("rq")).as("sx"),
        count(lit(1)).as("cnt"))
      .select(col("label").as("code"),
        transform(col("sx"),
          x => x.cast("double") / col("cnt").cast("double")).as("m"))
      .select(col("code"), explode(sequence(lit(0), lit(7))).as("j"),
        slice(col("m"), col("j") * 8 + 1, lit(8)).as("sc"))
    cb.write.parquet(idx + "/codebook")
    val cbStored = graft.io.SchemaMemo.read(s, Seq(idx + "/codebook"))
    val codes = transform(col("byJ"), jc =>
      nearestCode(col("rq"), jc).getField("code"))
    withRes.crossJoin(broadcast(packCodebook(cbStored, "code")))
      .select(col("vec_id"), codes.as("codes"), col("list"))
      .write.partitionBy("list").parquet(idx + "/codes")
    // ---- sparse index build: the t24 artifacts, same build code
    TextQueries.buildBm25Index(s, dir, idx + "/bm25")
    // ---- dense query: route probes, scan ONLY the probed partitions
    // probes are tiny (5 ids × nprobe) — materialize them eagerly so
    // the cached corpus can be released before the query side runs
    val probes = centroidRanked(e.filter(col("vec_id") < 5), cent,
        maxRank = 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("clabel").as("list"))
      .staged()
    val probedLists = probes.select(col("list")).distinct()
      .collect().map(_.get(0)).toSeq
    e.unpersist()
    val resRecon = flatten(transform(col("byJ"), jc =>
      element_at(filter(jc.getField("cands"), c =>
        c.getField("code") ===
          element_at(col("codes"), jc.getField("j") + 1)), 1)
        .getField("sc")))
    val rec = graft.io.SchemaMemo.read(s, Seq(idx + "/codes"))
      .filter(col("list").isInCollection(probedLists))
      .crossJoin(broadcast(packCodebook(cbStored, "code")))
      .select(col("vec_id"), col("list"), resRecon.as("res"))
      .join(broadcast(centByList), Seq("list"))
      .select(col("vec_id"), col("list"),
        zip_with(col("c"), col("res"), (m, r) => m + r).as("r"))
    val adist = sqDistLong(col("qv"), col("r"))
    val dense = topKLeg(broadcast(probes).join(rec, Seq("list"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), adist.as("adist")),
      "adist", "rkd", 20, asc = true)
    // ---- sparse query: the STORED BM25 index only
    val bi = TextQueries.readBm25Index(s, idx + "/bm25")
    val qterms = bi.tf.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("term"))
    val sparse = topKLeg(bi.tf.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .join(bi.dft, Seq("term")).join(bi.dl, Seq("doc_id"))
      .withColumn("fp", graft.functions.TextFunctions.bm25Fp(
        col("tf"), col("df"), col("dl"), bi.nDocs, bi.avgdl))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("fp")).as("score_fp"))
      .select(col("qid"), col("doc_id").as("nid"), col("score_fp")),
      "score_fp", "rks", 20, asc = false)
    // ---- exact-integer RRF fusion (s12's formula verbatim)
    rrfTop5(dense, sparse).orderBy(col("qid"), col("rk"))
  }

  /** The s8 dense-index machinery (centroids → assignment → residual
    * codebook → codes → probed-list ADC) at probes < 5 / top-20, the
    * s12 sparse leg and RRF fusion — recomputed end-to-end by DuckDB,
    * so the fusion of the two STORED indexes is what the hash pins.
    */
  val s15Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx,
      |    COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT q.vec_id, q.label, q.v, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM q CROSS JOIN cent),
      |rkall AS (SELECT vec_id, label, v, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk
      |  FROM d),
      |asg AS (SELECT vec_id, label, v, clabel AS cluster
      |  FROM rkall WHERE rk = 1),
      |res AS (SELECT asg.vec_id, asg.label, asg.cluster,
      |    list_transform(range(1, 65), i ->
      |      CAST(FLOOR(CAST(v[CAST(i AS INT)] AS DOUBLE)
      |        - c[CAST(i AS INT)] + 0.5) AS BIGINT)) rq
      |  FROM asg JOIN cent ON asg.cluster = cent.clabel),
      |rj AS (SELECT vec_id, label, cluster, CAST(j AS INT) j,
      |    list_slice(rq, CAST(j*8+1 AS INT), CAST(j*8+8 AS INT)) sv
      |  FROM res, range(0, 8) r(j)),
      |rcomp AS (SELECT label, j, CAST(i AS INT) i,
      |    SUM(sv[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM rj, range(1, 9) r(i) GROUP BY 1, 2, 3),
      |cb AS (SELECT label AS code, j,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) sc
      |  FROM rcomp GROUP BY label, j),
      |enc AS (SELECT rj.vec_id, rj.cluster, rj.j, cb.code,
      |    list_reduce(list_transform(range(1, 9), i ->
      |      (CAST(sv[CAST(i AS INT)] AS DOUBLE) - sc[CAST(i AS INT)])
      |      * (CAST(sv[CAST(i AS INT)] AS DOUBLE) - sc[CAST(i AS INT)])),
      |      (a, b) -> a + b) d
      |  FROM rj JOIN cb ON rj.j = cb.j),
      |code AS (SELECT vec_id, cluster, j, code FROM (
      |    SELECT vec_id, cluster, j, code,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) rk
      |    FROM enc) WHERE rk = 1),
      |rrec AS (SELECT code.vec_id, code.cluster,
      |    flatten(list(cb.sc ORDER BY code.j)) res
      |  FROM code JOIN cb ON code.j = cb.j AND code.code = cb.code
      |  GROUP BY code.vec_id, code.cluster),
      |recon AS (SELECT rrec.vec_id, rrec.cluster AS list,
      |    list_transform(range(1, 65), i ->
      |      c[CAST(i AS INT)] + res[CAST(i AS INT)]) r
      |  FROM rrec JOIN cent ON rrec.cluster = cent.clabel),
      |probes AS (SELECT vec_id qid, v qv, clabel AS list FROM rkall
      |  WHERE vec_id < 5 AND rk <= 2),
      |pd AS (SELECT probes.qid, recon.vec_id nid,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(qv[CAST(i AS INT)] AS DOUBLE) - r[CAST(i AS INT)])
      |      * (CAST(qv[CAST(i AS INT)] AS DOUBLE) - r[CAST(i AS INT)])),
      |      (x, y) -> x + y) adist
      |  FROM probes JOIN recon USING(list)
      |  WHERE probes.qid <> recon.vec_id),
      |d20 AS (SELECT qid, nid, rkd FROM (SELECT qid, nid, ROW_NUMBER()
      |    OVER (PARTITION BY qid ORDER BY adist, nid) rkd FROM pd)
      |  WHERE rkd <= 20),
      |t AS (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
      |    THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)
      |    AS term FROM documents),
      |nn2 AS (SELECT (SELECT COUNT(*) FROM documents) AS nd,
      |    (SELECT COUNT(*) FROM t) AS tl),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
      |qt AS (SELECT DISTINCT doc_id AS qid, term FROM t WHERE doc_id < 5),
      |sc2 AS (SELECT qt.qid, tf.doc_id AS nid,
      |    CAST(SUM(CAST(FLOOR(
      |      (CAST(nd AS DOUBLE) / df) * (tf * 2.2e0) /
      |        (tf + 1.2e0 * (0.25e0 +
      |          0.75e0 * (dl / (CAST(tl AS DOUBLE) / nd)))) * 1e7)
      |      AS BIGINT)) AS BIGINT) AS score_fp
      |  FROM tf JOIN qt USING (term) JOIN dft USING (term)
      |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN nn2
      |  WHERE tf.doc_id <> qt.qid
      |  GROUP BY 1, 2),
      |s20 AS (SELECT qid, nid, rks FROM (SELECT qid, nid, ROW_NUMBER()
      |    OVER (PARTITION BY qid ORDER BY score_fp DESC, nid) rks FROM sc2)
      |  WHERE rks <= 20),
      |f AS (SELECT COALESCE(d20.qid, s20.qid) AS qid,
      |    COALESCE(d20.nid, s20.nid) AS nid,
      |    CAST(COALESCE(FLOOR(1e9 / (60 + rkd)), 0) AS BIGINT)
      |      + CAST(COALESCE(FLOOR(1e9 / (60 + rks)), 0) AS BIGINT) AS rrf
      |  FROM d20 FULL OUTER JOIN s20
      |    ON d20.qid = s20.qid AND d20.nid = s20.nid),
      |rr AS (SELECT qid, nid, rrf, ROW_NUMBER() OVER
      |    (PARTITION BY qid ORDER BY rrf DESC, nid) rk FROM f)
      |SELECT qid, rk, nid, rrf FROM rr WHERE rk <= 5 ORDER BY qid, rk"""
      .stripMargin

  /** STREAM-maintained IVF index — [[s14IvfIncr]]'s manifest-commit
    * ingestion driven by a real Structured Streaming run, the dense
    * sibling of the t-family's `st11_stream_bm25`: the coarse quantizer
    * is trained once and FROZEN (the batch step a production index
    * schedules offline), then every arriving microbatch assigns ONLY
    * its own vectors (per-row fused projection against the broadcast
    * centroid pack — zero corpus-side shuffle) and lands as an
    * exactly-once manifest commit keyed by batchId
    * ([[graft.io.Manifest.commitIfAbsent]] absorbs replays), with
    * vec_id skip-stats at commit so the lists table is range-prunable
    * from its first streamed block. Each batch publishes (lists,
    * quantizer) with one atomic [[graft.io.Catalog.pinLatest]] AFTER
    * its table commit — a crash mid-batch leaves catalog readers on
    * the previous consistent pair, a replay re-pins idempotently —
    * and the census resolves through [[graft.io.Catalog.snapshotOf]].
    * The census must equal [[s14Oracle]]
    * — assignment is per-row, so HOW the stream batched the vectors
    * cannot move a single list entry.
    */
  def st13StreamIvf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.{Catalog, Manifest}
    graft.expressions.LongArrayOps.register(s)
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_st13_ivf"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val (lRoot, qRoot, cRoot) =
      (idx + "/lists", idx + "/quantizer", idx + "/catalog")
    // staged: consumed by the centroid training AND the source write
    val e = quantized(s, dir).staged()
    // offline batch step: train on the designated block, freeze — as a
    // manifest table so the catalog pins it with the lists
    centroids(e.filter(col("vec_id") % 2 === 0))
      .write.parquet(idx + "/centroids")
    Manifest.commit(s, qRoot, idx + "/centroids")
    e.repartition(4).write.parquet(idx + "/src")
    val schema = s.read.parquet(idx + "/src").schema
    val ingest = (batch: DataFrame, batchId: Long) => {
      if (!batch.isEmpty) {
        val ss = batch.sparkSession
        val bDir = s"$idx/l_$batchId"
        if (!Manifest.committed(ss, lRoot).contains(bDir)) {
          val cent = Manifest.snapshot(ss, qRoot)
          centroidRanked(batch, cent, maxRank = 1)
            .filter(col("rk") === 1)
            .select(col("vec_id"), col("label"), col("clabel"))
            .write.mode("overwrite").parquet(bDir)
          graft.io.SkipStats.write(ss, bDir, Seq("vec_id"))
          Manifest.commitIfAbsent(ss, lRoot, bDir)
        }
        // atomic publish LAST (idempotent under replay)
        Catalog.pinLatest(ss, cRoot, Seq(lRoot, qRoot))
      }
      ()
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(idx + "/src")
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", s"$idx/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    // ≥2 data-carrying microbatches pins that the build was really
    // incremental (4 source files under maxFilesPerTrigger=1)
    val nv = Manifest.versions(s, lRoot).size
    require(nv >= 2 && nv <= 4,
      s"expected one list commit per data-carrying microbatch, got $nv")
    Catalog.snapshotOf(s, cRoot, lRoot)
      .groupBy(col("label"), col("clabel").as("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("assigned"))
  }

  /** Shared corpus for the whitened-quantizer gates (s20/s21): the
    * embeddings with a PLANTED pairwise correlation (each even
    * position becomes 3× its pair partner plus itself — strong
    * anisotropy concentrated in 2×2 blocks), plus the PCA half of
    * whitening for exactly that structure, computed end-to-end in
    * fixed-point so the DuckDB oracle replays the TRANSFORM itself:
    *
    *  - block moments (Σy, Σyᵢyⱼ per pair) in one map-side-combined
    *    corpus pass — s18's split; at 100 TB the per-block/decimal
    *    promotion of [[pcaMomentsExact]] applies unchanged;
    *  - the per-pair EIGENBASIS in CLOSED FORM (for 2×2 symmetric
    *    [[a,b],[b,c]]: λ₊ = ((a+c) + √((a−c)²+4b²))/2, leading
    *    eigenvector ∝ (b, λ₊−a)) — each entry a short chain of IEEE
    *    ops over exactly-agreed inputs, so both engines compute
    *    bit-identical doubles where a d×d eigensolve could not be
    *    replayed in SQL (the full-matrix path stays driver-side on
    *    the same moments — `WhitenSpec` pins it against identity
    *    covariance). The planted shear makes every pair's
    *    off-diagonal moment strictly positive, so the eigenvector
    *    normalization never degenerates;
    *  - the rotation quantized to 12-bit fixed point as the integer
    *    CONFORMAL matrix [[p, q], [−q, p]] (quantize once, negate
    *    exactly), applied to 8-bit-truncated centered coordinates —
    *    integer matvec, exactly invertible up to the uniform scale
    *    p²+q² ≈ 4096², so every downstream quantizer/distance stays
    *    in exact int64.
    *
    * Output per corpus row: `u2` (centered truncated coordinates in
    * the sheared data space — the space both index variants are
    * judged in), `z` (the same point in the fixed-point eigenbasis),
    * and the broadcast rotation columns `pl`/`ql` for decode.
    */
  private def shearedRotated(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val e = quantized(s, dir)
    val sheared = e.select(col("vec_id"), col("label"),
      expr("""transform(sequence(1, 64), i ->
        CASE WHEN i % 2 = 0
          THEN 3L * element_at(v, i - 1) + element_at(v, i)
          ELSE element_at(v, i) END)""").as("sv"))
    val mom = sheared
      .select(col("sv"),
        expr("""flatten(transform(sequence(0, 31), k -> array(
          element_at(sv, 2*k+1) * element_at(sv, 2*k+1),
          element_at(sv, 2*k+1) * element_at(sv, 2*k+2),
          element_at(sv, 2*k+2) * element_at(sv, 2*k+2))))""").as("pr"))
      .agg(call_function("graft_elementwise_sum", col("pr")).as("sxy"),
        call_function("graft_elementwise_sum", col("sv")).as("sx"),
        count(lit(1)).as("n"))
    val wRow = pairRotation(mom).crossJoin(
      mom.select(expr("""transform(sx, x ->
        CAST(floor(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT))""")
        .as("mean")))
    sheared.crossJoin(broadcast(wRow))
      .withColumn("u2", expr("""transform(sequence(1, 64), i ->
        CAST(floor(CAST(element_at(sv, i) - element_at(mean, i) AS DOUBLE)
          / 256.0D) AS BIGINT))"""))
      .withColumn("z", expr("""flatten(transform(sequence(0, 31), k -> array(
        element_at(pl, k+1) * element_at(u2, 2*k+1)
          + element_at(ql, k+1) * element_at(u2, 2*k+2),
        -element_at(ql, k+1) * element_at(u2, 2*k+1)
          + element_at(pl, k+1) * element_at(u2, 2*k+2))))"""))
      .select(col("vec_id"), col("label"), col("u2"), col("z"),
        col("pl"), col("ql"))
  }

  /** recall@3 histogram helper: exact top-3 on `u2` (integer L2 in
    * the shared judged space) intersected with top-3 against a
    * reconstructed corpus (`rec`: vec_id, r — reconstruction in the
    * SAME space), per-probe hits histogrammed s9-style.
    */
  private def reconRecall(base: DataFrame, rec: DataFrame,
      variant: String): DataFrame = {
    val probes = base.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("y").as("qy"),
        col("yn").as("qn"))
    def top3(fan: DataFrame): DataFrame = graft.functions.RankFunctions
      .topKPerGroup(fan, "qid", "d2", "nid", 3, asc = true)
      .select(col("qid"), col("nid"))
    val exact = top3(broadcast(probes).crossJoin(base)
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"),
        (col("qn") - lit(2L) * dotLong(col("qy"), col("y")) + col("yn"))
          .as("d2")))
    val ann = top3(broadcast(probes)
      .crossJoin(rec.withColumn("rn", normSqLong(col("r"))))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"),
        (col("qn") - lit(2L) * dotLong(col("qy"), col("r")) + col("rn"))
          .as("d2")))
    val hits = exact.join(ann, Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("h"))
    probes.select(col("qid")).join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("h"), lit(0L)).as("h"))
      .groupBy(col("h").as("hits"))
      .agg(count(lit(1)).as("n_probes"), sum(col("qid")).as("checksum"))
      .withColumn("variant", lit(variant))
      .select(col("variant"), col("hits"), col("n_probes"),
        col("checksum"))
  }

  /** Per-dimension linear (SQ) reconstruction of `ycol` with a
    * per-dimension LEVEL budget (`levels(i)` quantization steps for
    * 1-based dimension i) — s10's scheme with the bit budget as a
    * knob. All integer arithmetic.
    */
  private def sqRecon(df: DataFrame, ycol: String,
      levels: Int => Int): DataFrame = {
    val lv = (1 to 64).map(levels).mkString("array(", "L, ", "L)")
    val base = df.select(col("vec_id"), col(ycol).as("y"))
    val mm = base.groupBy()
      .agg(call_function("graft_elementwise_min", col("y")).as("mins"),
        call_function("graft_elementwise_max", col("y")).as("maxs"))
    val recon = expr(s"""transform(sequence(1, 64), i ->
      element_at(mins, i) + CAST(floor(CAST(
        CASE WHEN element_at(maxs, i) > element_at(mins, i) THEN
          CAST(floor(CAST((element_at(y, i) - element_at(mins, i))
              * element_at($lv, i) AS DOUBLE)
            / CAST(element_at(maxs, i) - element_at(mins, i) AS DOUBLE))
            AS BIGINT)
        ELSE 0L END * (element_at(maxs, i) - element_at(mins, i))
        AS DOUBLE) / CAST(element_at($lv, i) AS DOUBLE)) AS BIGINT))""")
    base.crossJoin(broadcast(mm))
      .select(col("vec_id"), recon.as("r"))
  }

  val s20Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |sh AS (SELECT vec_id, label, list_transform(range(1, 65), i ->
      |    CASE WHEN i % 2 = 0 THEN 3 * v[CAST(i - 1 AS INT)] + v[CAST(i AS INT)]
      |    ELSE v[CAST(i AS INT)] END) sv FROM q),
      |sxyt AS (SELECT m,
      |    CAST(SUM(CASE WHEN m % 3 = 0
      |      THEN sv[CAST(2*(m//3)+1 AS INT)] * sv[CAST(2*(m//3)+1 AS INT)]
      |    WHEN m % 3 = 1
      |      THEN sv[CAST(2*(m//3)+1 AS INT)] * sv[CAST(2*(m//3)+2 AS INT)]
      |    ELSE sv[CAST(2*(m//3)+2 AS INT)] * sv[CAST(2*(m//3)+2 AS INT)] END)
      |      AS BIGINT) sm
      |  FROM sh, range(0, 96) r(m) GROUP BY m),
      |sxyl AS (SELECT list(sm ORDER BY m) sxy FROM sxyt),
      |sxt AS (SELECT i, CAST(SUM(sv[CAST(i AS INT)]) AS BIGINT) sm
      |  FROM sh, range(1, 65) r(i) GROUP BY i),
      |sxl AS (SELECT list(sm ORDER BY i) sx FROM sxt),
      |cnt AS (SELECT COUNT(*) n FROM sh),
      |w1 AS (SELECT sxy, sx, n,
      |    list_transform(range(0, 32), k ->
      |      CAST(n AS DOUBLE) * CAST(sxy[CAST(3*k+1 AS INT)] AS DOUBLE)
      |        - CAST(sx[CAST(2*k+1 AS INT)] AS DOUBLE)
      |        * CAST(sx[CAST(2*k+1 AS INT)] AS DOUBLE)) av,
      |    list_transform(range(0, 32), k ->
      |      CAST(n AS DOUBLE) * CAST(sxy[CAST(3*k+2 AS INT)] AS DOUBLE)
      |        - CAST(sx[CAST(2*k+1 AS INT)] AS DOUBLE)
      |        * CAST(sx[CAST(2*k+2 AS INT)] AS DOUBLE)) bv,
      |    list_transform(range(0, 32), k ->
      |      CAST(n AS DOUBLE) * CAST(sxy[CAST(3*k+3 AS INT)] AS DOUBLE)
      |        - CAST(sx[CAST(2*k+2 AS INT)] AS DOUBLE)
      |        * CAST(sx[CAST(2*k+2 AS INT)] AS DOUBLE)) cv
      |  FROM sxyl, sxl, cnt),
      |w2 AS (SELECT *, list_transform(range(1, 33), k ->
      |    ((av[CAST(k AS INT)] + cv[CAST(k AS INT)])
      |      + sqrt((av[CAST(k AS INT)] - cv[CAST(k AS INT)])
      |          * (av[CAST(k AS INT)] - cv[CAST(k AS INT)])
      |        + 4.0 * bv[CAST(k AS INT)] * bv[CAST(k AS INT)])) / 2.0) lam
      |  FROM w1),
      |w3 AS (SELECT *, list_transform(range(1, 33), k ->
      |    sqrt(bv[CAST(k AS INT)] * bv[CAST(k AS INT)]
      |      + (lam[CAST(k AS INT)] - av[CAST(k AS INT)])
      |      * (lam[CAST(k AS INT)] - av[CAST(k AS INT)]))) nrm
      |  FROM w2),
      |w4 AS (SELECT
      |    list_transform(range(1, 33), k -> CAST(floor(
      |      bv[CAST(k AS INT)] / nrm[CAST(k AS INT)] * 4096.0 + 0.5)
      |      AS BIGINT)) pl,
      |    list_transform(range(1, 33), k -> CAST(floor(
      |      (lam[CAST(k AS INT)] - av[CAST(k AS INT)]) / nrm[CAST(k AS INT)]
      |        * 4096.0 + 0.5) AS BIGINT)) ql,
      |    list_transform(sx, x -> CAST(floor(CAST(x AS DOUBLE)
      |      / CAST(n AS DOUBLE)) AS BIGINT)) mean
      |  FROM w3),
      |wh AS (SELECT sh.vec_id, sh.label,
      |    list_transform(range(1, 65), i -> CAST(floor(
      |      CAST(sv[CAST(i AS INT)] - mean[CAST(i AS INT)] AS DOUBLE) / 256.0)
      |      AS BIGINT)) u2
      |  FROM sh CROSS JOIN w4),
      |zt AS (SELECT vec_id, label, u2,
      |    flatten(list_transform(range(0, 32), k -> [
      |      pl[CAST(k+1 AS INT)] * u2[CAST(2*k+1 AS INT)]
      |        + ql[CAST(k+1 AS INT)] * u2[CAST(2*k+2 AS INT)],
      |      -ql[CAST(k+1 AS INT)] * u2[CAST(2*k+1 AS INT)]
      |        + pl[CAST(k+1 AS INT)] * u2[CAST(2*k+2 AS INT)]])) z
      |  FROM wh CROSS JOIN w4),
      |mmu AS (SELECT i, MIN(u2[CAST(i AS INT)]) mn, MAX(u2[CAST(i AS INT)]) mx
      |  FROM wh, range(1, 65) r(i) GROUP BY i),
      |mmul AS (SELECT list(mn ORDER BY i) umn, list(mx ORDER BY i) umx FROM mmu),
      |rraw AS (SELECT vec_id, list_transform(range(1, 65), i ->
      |    umn[CAST(i AS INT)] + CAST(floor(CAST(
      |      CASE WHEN umx[CAST(i AS INT)] > umn[CAST(i AS INT)] THEN
      |        CAST(floor(CAST((u2[CAST(i AS INT)] - umn[CAST(i AS INT)]) * 15
      |            AS DOUBLE)
      |          / CAST(umx[CAST(i AS INT)] - umn[CAST(i AS INT)] AS DOUBLE))
      |          AS BIGINT)
      |      ELSE 0 END * (umx[CAST(i AS INT)] - umn[CAST(i AS INT)])
      |      AS DOUBLE) / CAST(15 AS DOUBLE)) AS BIGINT)) rr
      |  FROM wh CROSS JOIN mmul),
      |mmz AS (SELECT i, MIN(z[CAST(i AS INT)]) mn, MAX(z[CAST(i AS INT)]) mx
      |  FROM zt, range(1, 65) r(i) GROUP BY i),
      |mmzl AS (SELECT list(mn ORDER BY i) zmn, list(mx ORDER BY i) zmx FROM mmz),
      |rz AS (SELECT vec_id, list_transform(range(1, 65), i ->
      |    zmn[CAST(i AS INT)] + CAST(floor(CAST(
      |      CASE WHEN zmx[CAST(i AS INT)] > zmn[CAST(i AS INT)] THEN
      |        CAST(floor(CAST((z[CAST(i AS INT)] - zmn[CAST(i AS INT)])
      |            * (CASE WHEN i % 2 = 1 THEN 63 ELSE 3 END) AS DOUBLE)
      |          / CAST(zmx[CAST(i AS INT)] - zmn[CAST(i AS INT)] AS DOUBLE))
      |          AS BIGINT)
      |      ELSE 0 END * (zmx[CAST(i AS INT)] - zmn[CAST(i AS INT)])
      |      AS DOUBLE) / CAST(CASE WHEN i % 2 = 1 THEN 63 ELSE 3 END AS DOUBLE))
      |      AS BIGINT)) zr
      |  FROM zt CROSS JOIN mmzl),
      |rwhite AS (SELECT vec_id, flatten(list_transform(range(0, 32), k -> [
      |    CAST(floor(CAST(pl[CAST(k+1 AS INT)] * zr[CAST(2*k+1 AS INT)]
      |        - ql[CAST(k+1 AS INT)] * zr[CAST(2*k+2 AS INT)] AS DOUBLE)
      |      / CAST(pl[CAST(k+1 AS INT)] * pl[CAST(k+1 AS INT)]
      |        + ql[CAST(k+1 AS INT)] * ql[CAST(k+1 AS INT)] AS DOUBLE))
      |      AS BIGINT),
      |    CAST(floor(CAST(ql[CAST(k+1 AS INT)] * zr[CAST(2*k+1 AS INT)]
      |        + pl[CAST(k+1 AS INT)] * zr[CAST(2*k+2 AS INT)] AS DOUBLE)
      |      / CAST(pl[CAST(k+1 AS INT)] * pl[CAST(k+1 AS INT)]
      |        + ql[CAST(k+1 AS INT)] * ql[CAST(k+1 AS INT)] AS DOUBLE))
      |      AS BIGINT)])) rr
      |  FROM rz CROSS JOIN w4),
      |bs AS (SELECT vec_id, u2,
      |    list_aggregate(list_transform(u2, x -> x * x), 'sum') un FROM wh),
      |pr AS (SELECT vec_id qid, u2 qy, un qn FROM bs WHERE vec_id < 25),
      |ex AS (SELECT pr.qid, bs.vec_id nid,
      |    pr.qn - 2 * list_aggregate(list_transform(range(1, 65), i ->
      |      qy[CAST(i AS INT)] * bs.u2[CAST(i AS INT)]), 'sum') + bs.un d2
      |  FROM pr CROSS JOIN bs WHERE pr.qid <> bs.vec_id),
      |ex3 AS (SELECT qid, nid FROM (SELECT qid, nid,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nid) rk FROM ex)
      |  WHERE rk <= 3),
      |araw AS (SELECT pr.qid, t.vec_id nid,
      |    pr.qn - 2 * list_aggregate(list_transform(range(1, 65), i ->
      |      qy[CAST(i AS INT)] * t.rr[CAST(i AS INT)]), 'sum')
      |      + list_aggregate(list_transform(t.rr, x -> x * x), 'sum') d2
      |  FROM pr CROSS JOIN rraw t WHERE pr.qid <> t.vec_id),
      |araw3 AS (SELECT qid, nid FROM (SELECT qid, nid,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nid) rk FROM araw)
      |  WHERE rk <= 3),
      |awhite AS (SELECT pr.qid, t.vec_id nid,
      |    pr.qn - 2 * list_aggregate(list_transform(range(1, 65), i ->
      |      qy[CAST(i AS INT)] * t.rr[CAST(i AS INT)]), 'sum')
      |      + list_aggregate(list_transform(t.rr, x -> x * x), 'sum') d2
      |  FROM pr CROSS JOIN rwhite t WHERE pr.qid <> t.vec_id),
      |awhite3 AS (SELECT qid, nid FROM (SELECT qid, nid,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nid) rk FROM awhite)
      |  WHERE rk <= 3),
      |hraw AS (SELECT p2.qid, COALESCE(h.h, 0) h FROM (SELECT qid FROM pr) p2
      |  LEFT JOIN (SELECT ex3.qid, COUNT(*) h FROM ex3 JOIN araw3
      |    ON ex3.qid = araw3.qid AND ex3.nid = araw3.nid GROUP BY ex3.qid) h
      |  ON p2.qid = h.qid),
      |hwhite AS (SELECT p2.qid, COALESCE(h.h, 0) h FROM (SELECT qid FROM pr) p2
      |  LEFT JOIN (SELECT ex3.qid, COUNT(*) h FROM ex3 JOIN awhite3
      |    ON ex3.qid = awhite3.qid AND ex3.nid = awhite3.nid GROUP BY ex3.qid) h
      |  ON p2.qid = h.qid),
      |hist AS (
      |  SELECT 'raw' variant, CAST(h AS BIGINT) hits, COUNT(*) n_probes,
      |    CAST(SUM(qid) AS BIGINT) checksum FROM hraw GROUP BY h
      |  UNION ALL
      |  SELECT 'white' variant, CAST(h AS BIGINT) hits, COUNT(*) n_probes,
      |    CAST(SUM(qid) AS BIGINT) checksum FROM hwhite GROUP BY h)
      |SELECT variant, hits, n_probes, checksum FROM hist
      |ORDER BY variant, hits""".stripMargin

  /** WHITENING APPLIED TO A QUANTIZER — the stated point of s18's
    * moments. A range-adaptive scalar quantizer is INVARIANT to
    * per-dimension scaling (each dimension's error is range/levels
    * regardless), so the scaling half of ZCA cannot move SQ recall;
    * what lifts it is the PCA half plus bit ALLOCATION — classic
    * transform coding: rotate each correlated pair to its eigenbasis
    * (trained from the s18-style moments) and give the
    * high-variance direction the bits the low-variance direction
    * wastes (6+2 vs 4+4 — the SAME total budget). On the planted
    * 3×-sheared corpus (λ₋/λ₊ ≈ 10⁻²) equal allocation spends half
    * its budget on a direction carrying 1% of the energy; the
    * eigen-allocated variant reconstructs in the ORIGINAL space (the
    * integer conformal back-rotation), so BOTH variants are judged
    * against the same exact top-3 in the same space — and the engine
    * REQUIRES the transformed index's total hits ≥ the raw one
    * before answering. The oracle replays the ENTIRE path — moments,
    * closed-form eigenbasis, fixed-point rotation, SQ
    * encode/decode at both allocations, back-rotation, both
    * searches, the histogram — bit-identically in DuckDB.
    */
  def s20WhitenedSqRecall(s: SparkSession, dir: String): DataFrame = {
    val out = s20Pipeline(s, dir)
    val rows = out.collect() // bounded: ≤ 8 histogram rows
    val tot = rows.groupBy(_.getString(0)).view
      .mapValues(_.map(r => r.getLong(1) * r.getLong(2)).sum).toMap
    require(tot("white") >= tot("raw"),
      s"the eigen-allocated quantizer must not lose recall: $tot")
    s.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** The distributed pipeline behind [[s20WhitenedSqRecall]], exposed
    * pre-collect so `PlanSpec` can pin its join shapes.
    */
  private[graft] def s20Pipeline(s: SparkSession, dir: String)
      : DataFrame = {
    val c = shearedRotated(s, dir).staged()
    val base = c.select(col("vec_id"), col("u2").as("y"))
      .withColumn("yn", normSqLong(col("y")))
    // raw: equal allocation, 15 levels (4 bits) per dimension
    val rawRec = sqRecon(c, "u2", _ => 15)
    // transformed: 63 levels on each pair's leading eigendirection,
    // 3 on the trailing one (6+2 bits — same budget), decoded back
    // to the judged space through the exact integer conformal inverse
    val zRec = sqRecon(c, "z", i => if (i % 2 == 1) 63 else 3)
    val whiteRec = zRec
      .join(c.select(col("vec_id"), col("pl"), col("ql")), Seq("vec_id"))
      .select(col("vec_id"),
        expr("""flatten(transform(sequence(0, 31), k -> array(
          CAST(floor(CAST(element_at(pl, k+1) * element_at(r, 2*k+1)
              - element_at(ql, k+1) * element_at(r, 2*k+2) AS DOUBLE)
            / CAST(element_at(pl, k+1) * element_at(pl, k+1)
              + element_at(ql, k+1) * element_at(ql, k+1) AS DOUBLE))
            AS BIGINT),
          CAST(floor(CAST(element_at(ql, k+1) * element_at(r, 2*k+1)
              + element_at(pl, k+1) * element_at(r, 2*k+2) AS DOUBLE)
            / CAST(element_at(pl, k+1) * element_at(pl, k+1)
              + element_at(ql, k+1) * element_at(ql, k+1) AS DOUBLE))
            AS BIGINT))))""").as("r"))
    reconRecall(base, rawRec, "raw")
      .unionAll(reconRecall(base, whiteRec, "white"))
      .orderBy(col("variant"), col("hits"))
  }

  /** The closed-form per-pair eigen rotation of [[shearedRotated]],
    * factored over arbitrary block moments: given a 1-row DF with
    * `sxy` (96 pair moments), `sx` (64 sums) and `n`, emit the 1-row
    * fixed-point conformal rotation (`pl`, `ql` — 32 each).
    */
  private def pairRotation(mom: DataFrame): DataFrame = mom
    .withColumn("av", expr("""transform(sequence(0, 31), k ->
      CAST(n AS DOUBLE) * CAST(element_at(sxy, 3*k+1) AS DOUBLE)
        - CAST(element_at(sx, 2*k+1) AS DOUBLE)
        * CAST(element_at(sx, 2*k+1) AS DOUBLE))"""))
    .withColumn("bv", expr("""transform(sequence(0, 31), k ->
      CAST(n AS DOUBLE) * CAST(element_at(sxy, 3*k+2) AS DOUBLE)
        - CAST(element_at(sx, 2*k+1) AS DOUBLE)
        * CAST(element_at(sx, 2*k+2) AS DOUBLE))"""))
    .withColumn("cv", expr("""transform(sequence(0, 31), k ->
      CAST(n AS DOUBLE) * CAST(element_at(sxy, 3*k+3) AS DOUBLE)
        - CAST(element_at(sx, 2*k+2) AS DOUBLE)
        * CAST(element_at(sx, 2*k+2) AS DOUBLE))"""))
    .withColumn("lam", expr("""transform(sequence(1, 32), k ->
      ((element_at(av, k) + element_at(cv, k))
        + sqrt((element_at(av, k) - element_at(cv, k))
            * (element_at(av, k) - element_at(cv, k))
          + 4.0D * element_at(bv, k) * element_at(bv, k))) / 2.0D)"""))
    .withColumn("nrm", expr("""transform(sequence(1, 32), k ->
      sqrt(element_at(bv, k) * element_at(bv, k)
        + (element_at(lam, k) - element_at(av, k))
        * (element_at(lam, k) - element_at(av, k))))"""))
    .withColumn("pl", expr("""transform(sequence(1, 32), k ->
      CAST(floor(element_at(bv, k) / element_at(nrm, k) * 4096.0D
        + 0.5D) AS BIGINT))"""))
    .withColumn("ql", expr("""transform(sequence(1, 32), k ->
      CAST(floor((element_at(lam, k) - element_at(av, k))
        / element_at(nrm, k) * 4096.0D + 0.5D) AS BIGINT))"""))
    .select(col("pl"), col("ql"))

  /** PQ WITH A WHITENED RESIDUAL STAGE — [[s20WhitenedSqRecall]]'s
    * sibling for the production IVF-PQ+refine composition, and the
    * honest finding about where whitening bites a vector quantizer:
    * a per-subspace PQ whose codebook ADAPTS (means, k-means) is
    * EQUIVARIANT to within-subspace conformal transforms — codebooks
    * rotate with the data, so rotation/regrouping provably cannot
    * move its recall (measured: ±1 hit, noise). What whitening DOES
    * lift is the separable refinement stage every production index
    * stacks on PQ (residual/additive quantization): both variants
    * share the identical first stage — s6's per-label-mean PQ over
    * 8-dim subspaces, reconstruction rounded to integers — and spend
    * the SAME residual bit budget (4 bits/dim); the raw variant
    * SQ-quantizes the residual per dimension, the whitened variant
    * rotates each residual pair to its eigenbasis (trained from the
    * RESIDUAL's own s18-style block moments — the planted 3× shear
    * survives the label-mean subtraction) and allocates 6+2 bits by
    * variance before decoding back through the exact integer
    * conformal inverse. Same judged space, same exact top-3 ground
    * truth; the engine REQUIRES whitened total hits ≥ raw
    * (prototyped margins: 54→69 and 58→71 of 75 at the two gate
    * scales). The oracle replays the ENTIRE path in DuckDB.
    */
  def s21WhitenedPqRecall(s: SparkSession, dir: String): DataFrame = {
    val out = s21Pipeline(s, dir)
    val rows = out.collect() // bounded: ≤ 8 histogram rows
    val tot = rows.groupBy(_.getString(0)).view
      .mapValues(_.map(r => r.getLong(1) * r.getLong(2)).sum).toMap
    require(tot("white") >= tot("raw"),
      s"the whitened residual stage must not lose recall: $tot")
    s.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** The distributed pipeline behind [[s21WhitenedPqRecall]], exposed
    * pre-collect so `PlanSpec` can pin its join shapes.
    */
  private[graft] def s21Pipeline(s: SparkSession, dir: String)
      : DataFrame = {
    val c0 = shearedRotated(s, dir)
    // ---- shared stage 1: s6's per-label-mean PQ, integer recon
    val means = c0.groupBy(col("label"))
      .agg(call_function("graft_elementwise_sum", col("u2")).as("sv"),
        count(lit(1)).as("cnt"))
      .select(col("label").as("clabel"),
        transform(col("sv"),
          x => x.cast("double") / col("cnt").cast("double")).as("c"))
    val cj = means.select(col("clabel"),
        explode(sequence(lit(0), lit(7))).as("j"), col("c"))
      .select(col("clabel"), col("j"),
        slice(col("c"), col("j") * 8 + 1, lit(8)).as("sc"))
    val cjp = packCodebook(cj, "clabel")
    val rqCol = transform(
      flatten(transform(col("byJ"), jc =>
        nearestCode(col("u2"), jc).getField("sc"))),
      m => floor(m + lit(0.5d)).cast("long"))
    val c = c0.crossJoin(broadcast(cjp))
      .select(col("vec_id"), col("u2"), rqCol.as("rq"))
      .withColumn("resid",
        zip_with(col("u2"), col("rq"), (a, b) => a - b))
      .staged()
    val base = c.select(col("vec_id"), col("u2").as("y"))
      .withColumn("yn", normSqLong(col("y")))
    // ---- raw: equal-allocation SQ15 on the residual
    val rawRec = sqRecon(c, "resid", _ => 15)
      .join(c.select(col("vec_id"), col("rq")), Seq("vec_id"))
      .select(col("vec_id"),
        zip_with(col("rq"), col("r"), (a, b) => a + b).as("r"))
    // ---- white: residual rotated to its per-pair eigenbasis
    // (moments of the RESIDUAL), 63/3 allocation, conformal decode
    val momR = c.select(col("resid"),
        expr("""flatten(transform(sequence(0, 31), k -> array(
          element_at(resid, 2*k+1) * element_at(resid, 2*k+1),
          element_at(resid, 2*k+1) * element_at(resid, 2*k+2),
          element_at(resid, 2*k+2) * element_at(resid, 2*k+2))))""")
          .as("pr"))
      .agg(call_function("graft_elementwise_sum", col("pr")).as("sxy"),
        call_function("graft_elementwise_sum", col("resid")).as("sx"),
        count(lit(1)).as("n"))
    val rot = pairRotation(momR)
    val cz = c.crossJoin(broadcast(rot))
      .withColumn("zr", expr("""flatten(transform(sequence(0, 31), k -> array(
        element_at(pl, k+1) * element_at(resid, 2*k+1)
          + element_at(ql, k+1) * element_at(resid, 2*k+2),
        -element_at(ql, k+1) * element_at(resid, 2*k+1)
          + element_at(pl, k+1) * element_at(resid, 2*k+2))))"""))
    val whiteRec = sqRecon(cz, "zr", i => if (i % 2 == 1) 63 else 3)
      .join(cz.select(col("vec_id"), col("rq"), col("pl"), col("ql")),
        Seq("vec_id"))
      .select(col("vec_id"), zip_with(col("rq"),
        expr("""flatten(transform(sequence(0, 31), k -> array(
          CAST(floor(CAST(element_at(pl, k+1) * element_at(r, 2*k+1)
              - element_at(ql, k+1) * element_at(r, 2*k+2) AS DOUBLE)
            / CAST(element_at(pl, k+1) * element_at(pl, k+1)
              + element_at(ql, k+1) * element_at(ql, k+1) AS DOUBLE))
            AS BIGINT),
          CAST(floor(CAST(element_at(ql, k+1) * element_at(r, 2*k+1)
              + element_at(pl, k+1) * element_at(r, 2*k+2) AS DOUBLE)
            / CAST(element_at(pl, k+1) * element_at(pl, k+1)
              + element_at(ql, k+1) * element_at(ql, k+1) AS DOUBLE))
            AS BIGINT))))"""),
        (a, b) => a + b).as("r"))
    reconRecall(base, rawRec, "raw")
      .unionAll(reconRecall(base, whiteRec, "white"))
      .orderBy(col("variant"), col("hits"))
  }

  val s21Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |sh AS (SELECT vec_id, label, list_transform(range(1, 65), i ->
      |    CASE WHEN i % 2 = 0 THEN 3 * v[CAST(i - 1 AS INT)] + v[CAST(i AS INT)]
      |    ELSE v[CAST(i AS INT)] END) sv FROM q),
      |sxyt AS (SELECT m,
      |    CAST(SUM(CASE WHEN m % 3 = 0
      |      THEN sv[CAST(2*(m//3)+1 AS INT)] * sv[CAST(2*(m//3)+1 AS INT)]
      |    WHEN m % 3 = 1
      |      THEN sv[CAST(2*(m//3)+1 AS INT)] * sv[CAST(2*(m//3)+2 AS INT)]
      |    ELSE sv[CAST(2*(m//3)+2 AS INT)] * sv[CAST(2*(m//3)+2 AS INT)] END)
      |      AS BIGINT) sm
      |  FROM sh, range(0, 96) r(m) GROUP BY m),
      |sxyl AS (SELECT list(sm ORDER BY m) sxy FROM sxyt),
      |sxt AS (SELECT i, CAST(SUM(sv[CAST(i AS INT)]) AS BIGINT) sm
      |  FROM sh, range(1, 65) r(i) GROUP BY i),
      |sxl AS (SELECT list(sm ORDER BY i) sx FROM sxt),
      |cnt AS (SELECT COUNT(*) n FROM sh),
      |w1 AS (SELECT sxy, sx, n,
      |    list_transform(range(0, 32), k ->
      |      CAST(n AS DOUBLE) * CAST(sxy[CAST(3*k+1 AS INT)] AS DOUBLE)
      |        - CAST(sx[CAST(2*k+1 AS INT)] AS DOUBLE)
      |        * CAST(sx[CAST(2*k+1 AS INT)] AS DOUBLE)) av,
      |    list_transform(range(0, 32), k ->
      |      CAST(n AS DOUBLE) * CAST(sxy[CAST(3*k+2 AS INT)] AS DOUBLE)
      |        - CAST(sx[CAST(2*k+1 AS INT)] AS DOUBLE)
      |        * CAST(sx[CAST(2*k+2 AS INT)] AS DOUBLE)) bv,
      |    list_transform(range(0, 32), k ->
      |      CAST(n AS DOUBLE) * CAST(sxy[CAST(3*k+3 AS INT)] AS DOUBLE)
      |        - CAST(sx[CAST(2*k+2 AS INT)] AS DOUBLE)
      |        * CAST(sx[CAST(2*k+2 AS INT)] AS DOUBLE)) cv
      |  FROM sxyl, sxl, cnt),
      |w2 AS (SELECT *, list_transform(range(1, 33), k ->
      |    ((av[CAST(k AS INT)] + cv[CAST(k AS INT)])
      |      + sqrt((av[CAST(k AS INT)] - cv[CAST(k AS INT)])
      |          * (av[CAST(k AS INT)] - cv[CAST(k AS INT)])
      |        + 4.0 * bv[CAST(k AS INT)] * bv[CAST(k AS INT)])) / 2.0) lam
      |  FROM w1),
      |w3 AS (SELECT *, list_transform(range(1, 33), k ->
      |    sqrt(bv[CAST(k AS INT)] * bv[CAST(k AS INT)]
      |      + (lam[CAST(k AS INT)] - av[CAST(k AS INT)])
      |      * (lam[CAST(k AS INT)] - av[CAST(k AS INT)]))) nrm
      |  FROM w2),
      |w4 AS (SELECT
      |    list_transform(range(1, 33), k -> CAST(floor(
      |      bv[CAST(k AS INT)] / nrm[CAST(k AS INT)] * 4096.0 + 0.5)
      |      AS BIGINT)) pl,
      |    list_transform(range(1, 33), k -> CAST(floor(
      |      (lam[CAST(k AS INT)] - av[CAST(k AS INT)]) / nrm[CAST(k AS INT)]
      |        * 4096.0 + 0.5) AS BIGINT)) ql,
      |    list_transform(sx, x -> CAST(floor(CAST(x AS DOUBLE)
      |      / CAST(n AS DOUBLE)) AS BIGINT)) mean
      |  FROM w3),
      |wh AS (SELECT sh.vec_id, sh.label,
      |    list_transform(range(1, 65), i -> CAST(floor(
      |      CAST(sv[CAST(i AS INT)] - mean[CAST(i AS INT)] AS DOUBLE) / 256.0)
      |      AS BIGINT)) u2
      |  FROM sh CROSS JOIN w4),
      |labm AS (SELECT label, i,
      |    CAST(CAST(SUM(u2[CAST(i AS INT)]) AS BIGINT) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) m
      |  FROM wh, range(1, 65) r(i) GROUP BY label, i),
      |labml AS (SELECT label clabel, list(m ORDER BY i) c FROM labm
      |  GROUP BY label),
      |cjq AS (SELECT clabel, CAST(j AS INT) j,
      |    list_slice(c, CAST(j*8+1 AS INT), CAST(j*8+8 AS INT)) sc
      |  FROM labml, range(0, 8) r(j)),
      |encq AS (SELECT wh.vec_id, cjq.j, cjq.clabel,
      |    list_reduce(list_transform(range(1, 9), i ->
      |      (CAST(u2[CAST(cjq.j*8+i AS INT)] AS DOUBLE) - sc[CAST(i AS INT)])
      |      * (CAST(u2[CAST(cjq.j*8+i AS INT)] AS DOUBLE)
      |        - sc[CAST(i AS INT)])), (a, b) -> a + b) d
      |  FROM wh CROSS JOIN cjq),
      |codeq AS (SELECT vec_id, j, clabel FROM (SELECT vec_id, j, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, clabel) rk
      |  FROM encq) WHERE rk = 1),
      |rqt AS (SELECT codeq.vec_id,
      |    flatten(list(list_transform(cjq.sc, m ->
      |      CAST(floor(m + 0.5) AS BIGINT)) ORDER BY codeq.j)) rq
      |  FROM codeq JOIN cjq ON codeq.j = cjq.j AND codeq.clabel = cjq.clabel
      |  GROUP BY codeq.vec_id),
      |res AS (SELECT wh.vec_id, u2, rq, list_transform(range(1, 65), i ->
      |    u2[CAST(i AS INT)] - rq[CAST(i AS INT)]) rs
      |  FROM wh JOIN rqt ON wh.vec_id = rqt.vec_id),
      |sxyrt AS (SELECT m, CAST(SUM(CASE WHEN m % 3 = 0
      |      THEN rs[CAST(2*(m//3)+1 AS INT)] * rs[CAST(2*(m//3)+1 AS INT)]
      |    WHEN m % 3 = 1
      |      THEN rs[CAST(2*(m//3)+1 AS INT)] * rs[CAST(2*(m//3)+2 AS INT)]
      |    ELSE rs[CAST(2*(m//3)+2 AS INT)] * rs[CAST(2*(m//3)+2 AS INT)] END)
      |      AS BIGINT) sm
      |  FROM res, range(0, 96) r(m) GROUP BY m),
      |sxyrl AS (SELECT list(sm ORDER BY m) sxy FROM sxyrt),
      |sxrt AS (SELECT i, CAST(SUM(rs[CAST(i AS INT)]) AS BIGINT) sm
      |  FROM res, range(1, 65) r(i) GROUP BY i),
      |sxrl AS (SELECT list(sm ORDER BY i) sx FROM sxrt),
      |r1 AS (SELECT sxy, sx, n,
      |    list_transform(range(0, 32), k ->
      |      CAST(n AS DOUBLE) * CAST(sxy[CAST(3*k+1 AS INT)] AS DOUBLE)
      |        - CAST(sx[CAST(2*k+1 AS INT)] AS DOUBLE)
      |        * CAST(sx[CAST(2*k+1 AS INT)] AS DOUBLE)) av,
      |    list_transform(range(0, 32), k ->
      |      CAST(n AS DOUBLE) * CAST(sxy[CAST(3*k+2 AS INT)] AS DOUBLE)
      |        - CAST(sx[CAST(2*k+1 AS INT)] AS DOUBLE)
      |        * CAST(sx[CAST(2*k+2 AS INT)] AS DOUBLE)) bv,
      |    list_transform(range(0, 32), k ->
      |      CAST(n AS DOUBLE) * CAST(sxy[CAST(3*k+3 AS INT)] AS DOUBLE)
      |        - CAST(sx[CAST(2*k+2 AS INT)] AS DOUBLE)
      |        * CAST(sx[CAST(2*k+2 AS INT)] AS DOUBLE)) cv
      |  FROM sxyrl, sxrl, cnt),
      |r2 AS (SELECT *, list_transform(range(1, 33), k ->
      |    ((av[CAST(k AS INT)] + cv[CAST(k AS INT)])
      |      + sqrt((av[CAST(k AS INT)] - cv[CAST(k AS INT)])
      |          * (av[CAST(k AS INT)] - cv[CAST(k AS INT)])
      |        + 4.0 * bv[CAST(k AS INT)] * bv[CAST(k AS INT)])) / 2.0) lam
      |  FROM r1),
      |r3 AS (SELECT *, list_transform(range(1, 33), k ->
      |    sqrt(bv[CAST(k AS INT)] * bv[CAST(k AS INT)]
      |      + (lam[CAST(k AS INT)] - av[CAST(k AS INT)])
      |      * (lam[CAST(k AS INT)] - av[CAST(k AS INT)]))) nrm
      |  FROM r2),
      |r4 AS (SELECT
      |    list_transform(range(1, 33), k -> CAST(floor(
      |      bv[CAST(k AS INT)] / nrm[CAST(k AS INT)] * 4096.0 + 0.5)
      |      AS BIGINT)) pl,
      |    list_transform(range(1, 33), k -> CAST(floor(
      |      (lam[CAST(k AS INT)] - av[CAST(k AS INT)]) / nrm[CAST(k AS INT)]
      |        * 4096.0 + 0.5) AS BIGINT)) ql
      |  FROM r3),
      |zrt AS (SELECT res.vec_id, u2, rq, rs,
      |    flatten(list_transform(range(0, 32), k -> [
      |      pl[CAST(k+1 AS INT)] * rs[CAST(2*k+1 AS INT)]
      |        + ql[CAST(k+1 AS INT)] * rs[CAST(2*k+2 AS INT)],
      |      -ql[CAST(k+1 AS INT)] * rs[CAST(2*k+1 AS INT)]
      |        + pl[CAST(k+1 AS INT)] * rs[CAST(2*k+2 AS INT)]])) zr
      |  FROM res CROSS JOIN r4),
      |mmr AS (SELECT i, MIN(rs[CAST(i AS INT)]) mn, MAX(rs[CAST(i AS INT)]) mx
      |  FROM res, range(1, 65) r(i) GROUP BY i),
      |mmrl AS (SELECT list(mn ORDER BY i) rmn, list(mx ORDER BY i) rmx FROM mmr),
      |rawrec AS (SELECT vec_id, list_transform(range(1, 65), i ->
      |    rq[CAST(i AS INT)] + rmn[CAST(i AS INT)] + CAST(floor(CAST(
      |      CASE WHEN rmx[CAST(i AS INT)] > rmn[CAST(i AS INT)] THEN
      |        CAST(floor(CAST((rs[CAST(i AS INT)] - rmn[CAST(i AS INT)]) * 15
      |            AS DOUBLE)
      |          / CAST(rmx[CAST(i AS INT)] - rmn[CAST(i AS INT)] AS DOUBLE))
      |          AS BIGINT)
      |      ELSE 0 END * (rmx[CAST(i AS INT)] - rmn[CAST(i AS INT)])
      |      AS DOUBLE) / CAST(15 AS DOUBLE)) AS BIGINT)) rr
      |  FROM res CROSS JOIN mmrl),
      |mmz AS (SELECT i, MIN(zr[CAST(i AS INT)]) mn, MAX(zr[CAST(i AS INT)]) mx
      |  FROM zrt, range(1, 65) r(i) GROUP BY i),
      |mmzl AS (SELECT list(mn ORDER BY i) zmn, list(mx ORDER BY i) zmx FROM mmz),
      |zrec AS (SELECT vec_id, rq, list_transform(range(1, 65), i ->
      |    zmn[CAST(i AS INT)] + CAST(floor(CAST(
      |      CASE WHEN zmx[CAST(i AS INT)] > zmn[CAST(i AS INT)] THEN
      |        CAST(floor(CAST((zr[CAST(i AS INT)] - zmn[CAST(i AS INT)])
      |            * (CASE WHEN i % 2 = 1 THEN 63 ELSE 3 END) AS DOUBLE)
      |          / CAST(zmx[CAST(i AS INT)] - zmn[CAST(i AS INT)] AS DOUBLE))
      |          AS BIGINT)
      |      ELSE 0 END * (zmx[CAST(i AS INT)] - zmn[CAST(i AS INT)])
      |      AS DOUBLE) / CAST(CASE WHEN i % 2 = 1 THEN 63 ELSE 3 END AS DOUBLE))
      |      AS BIGINT)) zs
      |  FROM zrt CROSS JOIN mmzl),
      |whiterec AS (SELECT vec_id, list_transform(range(1, 65), i ->
      |    rq[CAST(i AS INT)] + wb[CAST(i AS INT)]) rr
      |  FROM (SELECT vec_id, rq, flatten(list_transform(range(0, 32), k -> [
      |      CAST(floor(CAST(pl[CAST(k+1 AS INT)] * zs[CAST(2*k+1 AS INT)]
      |          - ql[CAST(k+1 AS INT)] * zs[CAST(2*k+2 AS INT)] AS DOUBLE)
      |        / CAST(pl[CAST(k+1 AS INT)] * pl[CAST(k+1 AS INT)]
      |          + ql[CAST(k+1 AS INT)] * ql[CAST(k+1 AS INT)] AS DOUBLE))
      |        AS BIGINT),
      |      CAST(floor(CAST(ql[CAST(k+1 AS INT)] * zs[CAST(2*k+1 AS INT)]
      |          + pl[CAST(k+1 AS INT)] * zs[CAST(2*k+2 AS INT)] AS DOUBLE)
      |        / CAST(pl[CAST(k+1 AS INT)] * pl[CAST(k+1 AS INT)]
      |          + ql[CAST(k+1 AS INT)] * ql[CAST(k+1 AS INT)] AS DOUBLE))
      |        AS BIGINT)])) wb
      |    FROM zrec CROSS JOIN r4)),
      |bs AS (SELECT vec_id, u2,
      |    list_aggregate(list_transform(u2, x -> x * x), 'sum') un FROM wh),
      |pr AS (SELECT vec_id qid, u2 qy, un qn FROM bs WHERE vec_id < 25),
      |ex AS (SELECT pr.qid, bs.vec_id nid,
      |    pr.qn - 2 * list_aggregate(list_transform(range(1, 65), i ->
      |      qy[CAST(i AS INT)] * bs.u2[CAST(i AS INT)]), 'sum') + bs.un d2
      |  FROM pr CROSS JOIN bs WHERE pr.qid <> bs.vec_id),
      |ex3 AS (SELECT qid, nid FROM (SELECT qid, nid,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nid) rk FROM ex)
      |  WHERE rk <= 3),
      |araw AS (SELECT pr.qid, t.vec_id nid,
      |    pr.qn - 2 * list_aggregate(list_transform(range(1, 65), i ->
      |      qy[CAST(i AS INT)] * t.rr[CAST(i AS INT)]), 'sum')
      |      + list_aggregate(list_transform(t.rr, x -> x * x), 'sum') d2
      |  FROM pr CROSS JOIN rawrec t WHERE pr.qid <> t.vec_id),
      |araw3 AS (SELECT qid, nid FROM (SELECT qid, nid,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nid) rk FROM araw)
      |  WHERE rk <= 3),
      |awhite AS (SELECT pr.qid, t.vec_id nid,
      |    pr.qn - 2 * list_aggregate(list_transform(range(1, 65), i ->
      |      qy[CAST(i AS INT)] * t.rr[CAST(i AS INT)]), 'sum')
      |      + list_aggregate(list_transform(t.rr, x -> x * x), 'sum') d2
      |  FROM pr CROSS JOIN whiterec t WHERE pr.qid <> t.vec_id),
      |awhite3 AS (SELECT qid, nid FROM (SELECT qid, nid,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nid) rk FROM awhite)
      |  WHERE rk <= 3),
      |hraw AS (SELECT p2.qid, COALESCE(h.h, 0) h FROM (SELECT qid FROM pr) p2
      |  LEFT JOIN (SELECT ex3.qid, COUNT(*) h FROM ex3 JOIN araw3
      |    ON ex3.qid = araw3.qid AND ex3.nid = araw3.nid GROUP BY ex3.qid) h
      |  ON p2.qid = h.qid),
      |hwhite AS (SELECT p2.qid, COALESCE(h.h, 0) h FROM (SELECT qid FROM pr) p2
      |  LEFT JOIN (SELECT ex3.qid, COUNT(*) h FROM ex3 JOIN awhite3
      |    ON ex3.qid = awhite3.qid AND ex3.nid = awhite3.nid GROUP BY ex3.qid) h
      |  ON p2.qid = h.qid),
      |hist AS (
      |  SELECT 'raw' variant, CAST(h AS BIGINT) hits, COUNT(*) n_probes,
      |    CAST(SUM(qid) AS BIGINT) checksum FROM hraw GROUP BY h
      |  UNION ALL
      |  SELECT 'white' variant, CAST(h AS BIGINT) hits, COUNT(*) n_probes,
      |    CAST(SUM(qid) AS BIGINT) checksum FROM hwhite GROUP BY h)
      |SELECT variant, hits, n_probes, checksum FROM hist
      |ORDER BY variant, hits""".stripMargin

  /** Retrieval QUALITY of the stored hybrid path — [[s15HybridStored]]
    * proves the stored-index plumbing answers consistently; nothing
    * yet measured what the compressed dense leg COSTS in result
    * quality. This gate is the s9-style recall@5 report: for each of
    * the bounded probe set, intersect s15's fused top-5 (IVF-PQ codes
    * + stored BM25, RRF(60)) with the brute fused baseline
    * ([[s12HybridRrf]]: both legs exact, same fusion), and histogram
    * the per-probe hit counts. Both sides are deterministic
    * (ties break by neighbor id), so the recall measurement is
    * engine-exact and the oracle recomputes BOTH retrieval stacks
    * end-to-end — the quality number itself is what hashes. At 100 TB
    * this is the always-on index-health probe: a bounded probe sample
    * against the exact answer on that sample, never a corpus-wide
    * exact search.
    */
  def s22HybridRecall(s: SparkSession, dir: String): DataFrame = {
    // staged: the exact fused baseline (a full two-leg retrieval stack)
    // is consumed TWICE in the final plan (the hit semi-join and the
    // probe base) — one materialization of ≤25 rows instead of two
    // end-to-end evaluations
    val exact = s12HybridRrf(s, dir).select(col("qid"), col("nid"))
      .staged()
    val ann = s15HybridStored(s, dir).select(col("qid"), col("nid"))
    val hits = exact.join(ann, Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("h"))
    exact.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("h"), lit(0L)).as("h"))
      .groupBy(col("h").as("hits"))
      .agg(count(lit(1)).as("n_probes"), sum(col("qid")).as("checksum"))
      .orderBy(col("hits"))
  }

  /** Both retrieval stacks recomputed in full (the s12 and s15 oracle
    * bodies as subqueries), intersected per probe.
    */
  lazy val s22Oracle: String =
    s"""WITH ex AS (SELECT qid, nid FROM ($s12Oracle)),
       |ann AS (SELECT qid, nid FROM ($s15Oracle)),
       |ph AS (SELECT p.qid, COALESCE(h.h, 0) h FROM
       |  (SELECT DISTINCT qid FROM ex) p LEFT JOIN
       |  (SELECT ex.qid, COUNT(*) h FROM ex JOIN ann
       |    ON ex.qid = ann.qid AND ex.nid = ann.nid GROUP BY ex.qid) h
       |  ON p.qid = h.qid)
       |SELECT CAST(h AS BIGINT) hits, COUNT(*) n_probes,
       |  CAST(SUM(qid) AS BIGINT) checksum
       |FROM ph GROUP BY h ORDER BY hits""".stripMargin

  /** ONE stream maintaining BOTH retrieval indexes under ONE atomic
    * publish — the production composition st11 (streamed BM25) and
    * st13 (streamed IVF) each proved half of: every microbatch
    * tokenizes/assigns ONLY itself, lands postings + stats increments
    * (sparse) and list entries (dense) as exactly-once manifest
    * commits keyed by batchId, and then publishes the FOUR-table
    * state (postings, stats, lists, frozen quantizer) with a single
    * [[graft.io.Catalog.pinLatest]] — so a hybrid query can never see
    * the sparse index ahead of the dense one or either ahead of its
    * own statistics, no matter where the stream crashes. The query
    * side is the hybrid RRF stack resolved entirely through the
    * catalog pin: BM25 more-like-this top-20 from the pinned
    * postings, dense cosine top-20 over the nprobe=2 probed pinned
    * lists, [[s12HybridRrf]]'s exact-integer RRF(60) fusion. The
    * oracle recomputes the whole composition — the streamed-in pair
    * of indexes must answer bit-identically to a batch build.
    *
    * Corpus note: documents and embeddings share the low id range by
    * construction; the source stream is documents LEFT JOIN
    * embeddings, so the sparse corpus is every document and the dense
    * corpus exactly the embedded subset — the oracle mirrors both.
    */
  def st15StreamHybrid(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.{Catalog, Manifest, SkipStats}
    import graft.functions.TextFunctions.tokens
    graft.expressions.LongArrayOps.register(s)
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_st15_hybrid"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val (pRoot, sRoot, lRoot, qRoot, cRoot) = (idx + "/postings",
      idx + "/stats", idx + "/lists", idx + "/quantizer",
      idx + "/catalog")
    // staged: consumed by the offline centroid train AND the final
    // hybrid query's probe routing — one corpus quantize pass, not two
    val e = quantized(s, dir).staged()
    // offline batch step: the coarse quantizer trains on the full
    // embedded corpus and freezes as a manifest table
    centroids(e).write.parquet(idx + "/centroids")
    Manifest.commit(s, qRoot, idx + "/centroids")
    // source: documents with their embedding when one exists
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .join(Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("label"),
          col("embedding")), Seq("doc_id"), "left")
      .repartition(4).write.mode("overwrite").parquet(s"$idx/src")
    val schema = s.read.parquet(s"$idx/src").schema
    val ingest = (batch: DataFrame, batchId: Long) => {
      if (!batch.isEmpty) {
        val ss = batch.sparkSession
        graft.expressions.LongArrayOps.register(ss)
        val withDl = batch
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .withColumn("dl", size(col("toks")))
        val pDir = s"$idx/p_$batchId"
        if (!Manifest.committed(ss, pRoot).contains(pDir)) {
          withDl.select(col("doc_id"), explode(col("toks")).as("term"))
            .groupBy(col("doc_id"), col("term"))
            .agg(count(lit(1)).as("tf"))
            .write.mode("overwrite").parquet(pDir)
          SkipStats.write(ss, pDir, Seq("doc_id"))
          Manifest.commitIfAbsent(ss, pRoot, pDir)
        }
        val sDir = s"$idx/s_$batchId"
        if (!Manifest.committed(ss, sRoot).contains(sDir)) {
          withDl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
            .write.mode("overwrite").parquet(sDir)
          Manifest.commitIfAbsent(ss, sRoot, sDir)
        }
        val lDir = s"$idx/l_$batchId"
        if (!Manifest.committed(ss, lRoot).contains(lDir)) {
          val eb = batch.filter(col("embedding").isNotNull)
            .select(col("doc_id").as("vec_id"), col("label"),
              quantize(col("embedding")).as("v"))
            .withColumn("nn", normSqLong(col("v")))
          val cent = Manifest.snapshot(ss, qRoot)
          centroidRanked(eb, cent, maxRank = 1)
            .filter(col("rk") === 1)
            .select(col("vec_id"), col("v"), col("nn"),
              col("clabel").as("list"))
            .write.mode("overwrite").parquet(lDir)
          SkipStats.write(ss, lDir, Seq("vec_id"))
          Manifest.commitIfAbsent(ss, lRoot, lDir)
        }
        // the SINGLE publish point for the whole hybrid index state
        Catalog.pinLatest(ss, cRoot,
          Seq(pRoot, sRoot, lRoot, qRoot))
      }
      ()
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$idx/src")
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", s"$idx/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    val nv = Manifest.versions(s, pRoot).size
    require(nv >= 2 && nv <= 4,
      s"expected one index commit per data-carrying microbatch, got $nv")
    // ---- hybrid query, resolved entirely through the catalog pin
    val pins = Catalog.resolve(s, cRoot)
    // sparse leg: t25's read path off the pinned postings
    val tf = Manifest.snapshot(s, pRoot, Some(pins(pRoot)))
    val st = Manifest.snapshot(s, sRoot, Some(pins(sRoot)))
      .agg(sum(col("nd")), sum(col("tl"))).collect()(0)
    val (nDocs, totLen) = (st.getLong(0), st.getLong(1))
    val avgdl = totLen.toDouble / nDocs
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val qterms = tf.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("term"))
    val sparse = topKLeg(tf.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .join(dft, Seq("term")).join(dl, Seq("doc_id"))
      .withColumn("fp", graft.functions.TextFunctions.bm25Fp(
        col("tf"), col("df"), col("dl"), nDocs, avgdl))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("fp")).as("score_fp"))
      .select(col("qid"), col("doc_id").as("nid"), col("score_fp")),
      "score_fp", "rks", 20, asc = false)
    // dense leg: probes route against the pinned quantizer, scoring
    // only the nprobe=2 probed pinned lists
    val cent = Manifest.snapshot(s, qRoot, Some(pins(qRoot)))
    val probes = centroidRanked(e.filter(col("vec_id") < 5), cent,
        maxRank = 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nn").as("qn"), col("clabel").as("list"))
    val lists = Manifest.snapshot(s, lRoot, Some(pins(lRoot)))
    val cos = cosineQ(dotLong(col("qv"), col("v")), col("qn"), col("nn"))
    val dense = topKLeg(broadcast(probes).join(lists, Seq("list"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos")),
      "cos", "rkd", 20, asc = false)
    rrfTop5(dense, sparse).orderBy(col("qid"), col("rk"))
  }

  val st15Oracle: String =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM q),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT n.vec_id, n.v, n.nn, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM n CROSS JOIN cent),
      |rk AS (SELECT vec_id, v, nn, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk FROM d),
      |lists AS (SELECT vec_id, v, nn, clabel AS list FROM rk WHERE rk = 1),
      |probes AS (SELECT vec_id qid, v qv, nn qn, clabel AS list FROM rk
      |  WHERE vec_id < 5 AND rk <= 2),
      |pd AS (SELECT probes.qid, lists.vec_id nid,
      |    CAST(list_aggregate(list_transform(range(1, len(qv) + 1),
      |        i -> qv[CAST(i AS INT)] * lists.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(lists.nn AS DOUBLE))) AS cos
      |  FROM probes JOIN lists USING(list) WHERE probes.qid <> lists.vec_id),
      |d20 AS (SELECT qid, nid, rkd FROM (SELECT qid, nid, ROW_NUMBER()
      |    OVER (PARTITION BY qid ORDER BY cos DESC, nid) rkd FROM pd)
      |  WHERE rkd <= 20),
      |t AS (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
      |    THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)
      |    AS term FROM documents),
      |nn2 AS (SELECT (SELECT COUNT(*) FROM documents) AS nd,
      |    (SELECT COUNT(*) FROM t) AS tl),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
      |qt AS (SELECT DISTINCT doc_id AS qid, term FROM t WHERE doc_id < 5),
      |sc AS (SELECT qid, tf.doc_id AS nid,
      |    CAST(SUM(CAST(FLOOR(
      |      (CAST(nd AS DOUBLE) / df) * (tf * 2.2e0) /
      |        (tf + 1.2e0 * (0.25e0 +
      |          0.75e0 * (dl / (CAST(tl AS DOUBLE) / nd)))) * 1e7)
      |      AS BIGINT)) AS BIGINT) AS score_fp
      |  FROM tf JOIN qt USING (term) JOIN dft USING (term)
      |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN nn2
      |  WHERE tf.doc_id <> qt.qid
      |  GROUP BY 1, 2),
      |s20 AS (SELECT qid, nid, rks FROM (SELECT qid, nid, ROW_NUMBER()
      |    OVER (PARTITION BY qid ORDER BY score_fp DESC, nid) rks FROM sc)
      |  WHERE rks <= 20),
      |f AS (SELECT COALESCE(d20.qid, s20.qid) AS qid,
      |    COALESCE(d20.nid, s20.nid) AS nid,
      |    CAST(COALESCE(FLOOR(1e9 / (60 + rkd)), 0) AS BIGINT)
      |      + CAST(COALESCE(FLOOR(1e9 / (60 + rks)), 0) AS BIGINT) AS rrf
      |  FROM d20 FULL OUTER JOIN s20
      |    ON d20.qid = s20.qid AND d20.nid = s20.nid),
      |r AS (SELECT qid, nid, rrf, ROW_NUMBER() OVER
      |    (PARTITION BY qid ORDER BY rrf DESC, nid) rk FROM f)
      |SELECT qid, rk, nid, rrf FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  /** STREAMING index-health probe — [[st15StreamHybrid]]'s maintained
    * hybrid index composed with [[s22HybridRecall]]'s quality
    * measurement, run the way production runs it: AFTER EVERY catalog
    * pin, a bounded-probe recall@5 census executes THROUGH the pins
    * just published (hybrid fused top-5 with the nprobe=2 probed
    * dense leg vs the exact fused baseline whose dense leg scores
    * every pinned vector — the dense-probing loss through the fused
    * rank) and appends one row, keyed by epoch = catalog version, to
    * a METRICS manifest table with the same exactly-once batchId
    * discipline as the index increments. The gate's output is the
    * whole per-epoch recall HISTORY of a real streamed run: the
    * always-on quality monitor, with each epoch's number computed on
    * exactly the consistent snapshot that epoch's readers saw. The
    * source is written as THREE doc_id-range files with forced
    * mtime order, so epoch k's corpus is a doc_id prefix the oracle
    * replays epoch by epoch — every census recomputed from scratch in
    * DuckDB, both retrieval stacks per epoch.
    */
  def st16StreamIndexHealth(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.hadoop.fs.Path
    import graft.io.{Catalog, Manifest}
    import graft.functions.TextFunctions.tokens
    graft.expressions.LongArrayOps.register(s)
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_st16_health"
    val fs = new Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(idx), true)
    val (pRoot, sRoot, lRoot, qRoot, cRoot, mRoot) = (idx + "/postings",
      idx + "/stats", idx + "/lists", idx + "/quantizer",
      idx + "/catalog", idx + "/metrics")
    val e = quantized(s, dir)
    centroids(e).write.parquet(idx + "/centroids")
    Manifest.commit(s, qRoot, idx + "/centroids")
    // the health probes are the CORPUS vec_id < 5 rows — identical for
    // every epoch, so quantize them once here instead of re-scanning
    // embeddings inside every epoch's census (2 evaluations × 3 epochs)
    val eProbes = quantized(s, dir).filter(col("vec_id") < 5).staged()
    // ordered prefix source: 3 doc_id-range files; FileStreamSource
    // schedules oldest-first, so force strictly increasing mtimes —
    // epoch k's corpus must be the doc_id < cut(k) prefix the oracle
    // can express
    val maxId = Tables.documents(s, dir)
      .agg(max(col("doc_id"))).collect()(0).getLong(0)
    val cuts = Seq((maxId + 1) / 4, (maxId + 1) / 2, maxId + 1)
    // staged: the 3-range source prep below filters this join three
    // times — one materialization instead of three evaluations
    val src = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .join(Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("label"),
          col("embedding")), Seq("doc_id"), "left").staged()
    fs.mkdirs(new Path(s"$idx/src"))
    for ((hi, k) <- cuts.zipWithIndex) {
      val lo = if (k == 0) 0L else cuts(k - 1)
      src.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.parquet(s"$idx/stage_$k")
      val part = fs.listStatus(new Path(s"$idx/stage_$k"))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val dst = new Path(s"$idx/src/b$k.parquet")
      require(fs.rename(part, dst), s"rename of range file $k failed")
      fs.setTimes(dst, 1600000000000L + k * 60000L, -1)
    }
    val schema = s.read.parquet(s"$idx/src").schema
    val ingest = (batch: DataFrame, batchId: Long) => {
      if (!batch.isEmpty) {
        val ss = batch.sparkSession
        graft.expressions.LongArrayOps.register(ss)
        val withDl = batch
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .withColumn("dl", size(col("toks")))
        val pDir = s"$idx/p_$batchId"
        if (!Manifest.committed(ss, pRoot).contains(pDir)) {
          withDl.select(col("doc_id"), explode(col("toks")).as("term"))
            .groupBy(col("doc_id"), col("term"))
            .agg(count(lit(1)).as("tf"))
            .write.mode("overwrite").parquet(pDir)
          Manifest.commitIfAbsent(ss, pRoot, pDir)
        }
        val sDir = s"$idx/s_$batchId"
        if (!Manifest.committed(ss, sRoot).contains(sDir)) {
          withDl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
            .write.mode("overwrite").parquet(sDir)
          Manifest.commitIfAbsent(ss, sRoot, sDir)
        }
        val lDir = s"$idx/l_$batchId"
        if (!Manifest.committed(ss, lRoot).contains(lDir)) {
          val eb = batch.filter(col("embedding").isNotNull)
            .select(col("doc_id").as("vec_id"), col("label"),
              quantize(col("embedding")).as("v"))
            .withColumn("nn", normSqLong(col("v")))
          val cent = Manifest.snapshot(ss, qRoot)
          centroidRanked(eb, cent, maxRank = 1)
            .filter(col("rk") === 1)
            .select(col("vec_id"), col("v"), col("nn"),
              col("clabel").as("list"))
            .write.mode("overwrite").parquet(lDir)
          Manifest.commitIfAbsent(ss, lRoot, lDir)
        }
        val epoch = Catalog.pinLatest(ss, cRoot,
          Seq(pRoot, sRoot, lRoot, qRoot))
        // the health probe: recall@5 through the pins JUST published,
        // appended to the metrics table with the same exactly-once key
        val mDir = s"$idx/m_$batchId"
        if (!Manifest.committed(ss, mRoot).contains(mDir)) {
          healthCensus(ss, dir, pRoot, sRoot, lRoot, qRoot,
            Catalog.resolve(ss, cRoot), epoch, eProbes)
            .write.mode("overwrite").parquet(mDir)
          Manifest.commitIfAbsent(ss, mRoot, mDir)
        }
      }
      ()
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$idx/src")
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", s"$idx/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    val out = Manifest.snapshot(s, mRoot)
      .select(col("epoch"), col("n_probes"), col("sum_hits"),
        col("min_hits"), col("max_hits"), col("checksum"))
      .orderBy(col("epoch"))
    val epochs = out.select(col("epoch")).collect().map(_.getLong(0)).toSeq
    require(epochs == Seq(1L, 2L, 3L),
      s"one census row per epoch in pin order, got $epochs")
    out
  }

  /** One bounded-probe recall@5 census row for the hybrid index state
    * `pins` publishes: the fused top-5 whose dense leg probes nprobe=2
    * pinned lists, intersected per probe with the exact fused baseline
    * whose dense leg scores EVERY pinned vector (same sparse leg, same
    * RRF) — everything resolved through the pinned versions only.
    */
  private def healthCensus(ss: SparkSession, dir: String, pRoot: String,
      sRoot: String, lRoot: String, qRoot: String,
      pins: Map[String, Int], epoch: Int,
      eProbes: DataFrame): DataFrame = {
    import graft.io.Manifest
    val tf = Manifest.snapshot(ss, pRoot, Some(pins(pRoot)))
    val st = Manifest.snapshot(ss, sRoot, Some(pins(sRoot)))
      .agg(sum(col("nd")), sum(col("tl"))).collect()(0)
    val (nDocs, totLen) = (st.getLong(0), st.getLong(1))
    val avgdl = totLen.toDouble / nDocs
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val qterms = tf.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("term"))
    val sparse = topKLeg(tf.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .join(dft, Seq("term")).join(dl, Seq("doc_id"))
      .withColumn("fp", graft.functions.TextFunctions.bm25Fp(
        col("tf"), col("df"), col("dl"), nDocs, avgdl))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("fp")).as("score_fp"))
      .select(col("qid"), col("doc_id").as("nid"), col("score_fp")),
      "score_fp", "rks", 20, asc = false).staged()
    val cent = Manifest.snapshot(ss, qRoot, Some(pins(qRoot)))
    val lists = Manifest.snapshot(ss, lRoot, Some(pins(lRoot)))
    val probed = centroidRanked(eProbes, cent, maxRank = 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nn").as("qn"), col("clabel").as("list"))
    val cos = cosineQ(dotLong(col("qv"), col("v")), col("qn"), col("nn"))
    def top20(cands: DataFrame): DataFrame = topKLeg(cands
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos")),
      "cos", "rkd", 20, asc = false)
    val dense = top20(broadcast(probed).join(lists, Seq("list")))
    val exactDense = top20(broadcast(eProbes
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nn").as("qn")))
      .crossJoin(lists.select(col("vec_id"), col("v"), col("nn"))))
    val hyb5 = rrfTop5(dense, sparse).select(col("qid"), col("nid"))
    // NOT staged: ex5 is consumed twice below, but within the single
    // metrics-write action ReuseExchange already dedups its identical
    // subtree — staging it was measured to ADD 4 jobs/epoch (r17)
    val ex5 = rrfTop5(exactDense, sparse).select(col("qid"), col("nid"))
    val hits = ex5.join(hyb5, Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("h"))
    ex5.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("h"), lit(0L)).as("h"))
      .agg(count(lit(1)).as("n_probes"), sum(col("h")).as("sum_hits"),
        min(col("h")).as("min_hits"), max(col("h")).as("max_hits"),
        sum(col("qid") * lit(10L) + col("h")).as("checksum"))
      .withColumn("epoch", lit(epoch.toLong))
  }

  /** Every epoch's census recomputed from scratch: epoch k's corpus is
    * the doc_id < cut(k) prefix, and both retrieval stacks (probed
    * hybrid AND exact fused baseline) are replayed per epoch via an
    * epochs-CTE cross join — the per-epoch snapshot semantics of the
    * catalog pins expressed as prefix filters.
    */
  val st16Oracle: String =
    """WITH cuts AS (SELECT (MAX(doc_id)+1)//4 c1, (MAX(doc_id)+1)//2 c2,
      |    MAX(doc_id)+1 c3 FROM documents),
      |epochs AS (SELECT 1 ep, c1 cut FROM cuts
      |  UNION ALL SELECT 2, c2 FROM cuts
      |  UNION ALL SELECT 3, c3 FROM cuts),
      |q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM q),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT n.vec_id, n.v, n.nn, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM n CROSS JOIN cent),
      |rk AS (SELECT vec_id, v, nn, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk FROM d),
      |lists AS (SELECT vec_id, v, nn, clabel AS list FROM rk WHERE rk = 1),
      |probes AS (SELECT vec_id qid, v qv, nn qn, clabel AS list FROM rk
      |  WHERE vec_id < 5 AND rk <= 2),
      |probe1 AS (SELECT vec_id qid, v qv, nn qn FROM rk
      |  WHERE vec_id < 5 AND rk = 1),
      |pd AS (SELECT ep.ep, probes.qid, lists.vec_id nid,
      |    CAST(list_aggregate(list_transform(range(1, len(qv) + 1),
      |        i -> qv[CAST(i AS INT)] * lists.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(lists.nn AS DOUBLE))) AS cos
      |  FROM probes JOIN lists USING(list) CROSS JOIN epochs ep
      |  WHERE probes.qid <> lists.vec_id AND lists.vec_id < ep.cut),
      |d20 AS (SELECT ep, qid, nid, rkd FROM (SELECT ep, qid, nid, ROW_NUMBER()
      |    OVER (PARTITION BY ep, qid ORDER BY cos DESC, nid) rkd FROM pd)
      |  WHERE rkd <= 20),
      |pe AS (SELECT ep.ep, probe1.qid, lists.vec_id nid,
      |    CAST(list_aggregate(list_transform(range(1, len(qv) + 1),
      |        i -> qv[CAST(i AS INT)] * lists.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(lists.nn AS DOUBLE))) AS cos
      |  FROM probe1 CROSS JOIN lists CROSS JOIN epochs ep
      |  WHERE probe1.qid <> lists.vec_id AND lists.vec_id < ep.cut),
      |e20 AS (SELECT ep, qid, nid, rkd FROM (SELECT ep, qid, nid, ROW_NUMBER()
      |    OVER (PARTITION BY ep, qid ORDER BY cos DESC, nid) rkd FROM pe)
      |  WHERE rkd <= 20),
      |t AS (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
      |    THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)
      |    AS term FROM documents),
      |tfq AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
      |nde AS (SELECT ep.ep, COUNT(*) nd FROM documents dd CROSS JOIN epochs ep
      |  WHERE dd.doc_id < ep.cut GROUP BY 1),
      |tle AS (SELECT ep.ep, COUNT(*) tl FROM t CROSS JOIN epochs ep
      |  WHERE t.doc_id < ep.cut GROUP BY 1),
      |dfte AS (SELECT ep.ep, term, COUNT(*) df FROM tfq CROSS JOIN epochs ep
      |  WHERE tfq.doc_id < ep.cut GROUP BY 1, 2),
      |dle AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
      |qt AS (SELECT DISTINCT doc_id AS qid, term FROM t WHERE doc_id < 5),
      |sc AS (SELECT ep.ep, qt.qid, tfq.doc_id AS nid,
      |    CAST(SUM(CAST(FLOOR(
      |      (CAST(nde.nd AS DOUBLE) / dfte.df) * (tfq.tf * 2.2e0) /
      |        (tfq.tf + 1.2e0 * (0.25e0 +
      |          0.75e0 * (dle.dl / (CAST(tle.tl AS DOUBLE) / nde.nd)))) * 1e7)
      |      AS BIGINT)) AS BIGINT) AS score_fp
      |  FROM tfq JOIN qt USING (term)
      |    CROSS JOIN epochs ep
      |    JOIN dfte ON dfte.ep = ep.ep AND dfte.term = tfq.term
      |    JOIN dle ON dle.doc_id = tfq.doc_id
      |    JOIN nde ON nde.ep = ep.ep
      |    JOIN tle ON tle.ep = ep.ep
      |  WHERE tfq.doc_id <> qt.qid AND tfq.doc_id < ep.cut
      |  GROUP BY 1, 2, 3),
      |s20 AS (SELECT ep, qid, nid, rks FROM (SELECT ep, qid, nid, ROW_NUMBER()
      |    OVER (PARTITION BY ep, qid ORDER BY score_fp DESC, nid) rks FROM sc)
      |  WHERE rks <= 20),
      |fh AS (SELECT COALESCE(d20.ep, s20.ep) ep, COALESCE(d20.qid, s20.qid) qid,
      |    COALESCE(d20.nid, s20.nid) nid,
      |    CAST(COALESCE(FLOOR(1e9 / (60 + rkd)), 0) AS BIGINT)
      |      + CAST(COALESCE(FLOOR(1e9 / (60 + rks)), 0) AS BIGINT) AS rrf
      |  FROM d20 FULL OUTER JOIN s20
      |    ON d20.ep = s20.ep AND d20.qid = s20.qid AND d20.nid = s20.nid),
      |h5 AS (SELECT ep, qid, nid FROM (SELECT ep, qid, nid, ROW_NUMBER()
      |    OVER (PARTITION BY ep, qid ORDER BY rrf DESC, nid) rk FROM fh)
      |  WHERE rk <= 5),
      |fx AS (SELECT COALESCE(e20.ep, s20.ep) ep, COALESCE(e20.qid, s20.qid) qid,
      |    COALESCE(e20.nid, s20.nid) nid,
      |    CAST(COALESCE(FLOOR(1e9 / (60 + rkd)), 0) AS BIGINT)
      |      + CAST(COALESCE(FLOOR(1e9 / (60 + rks)), 0) AS BIGINT) AS rrf
      |  FROM e20 FULL OUTER JOIN s20
      |    ON e20.ep = s20.ep AND e20.qid = s20.qid AND e20.nid = s20.nid),
      |x5 AS (SELECT ep, qid, nid FROM (SELECT ep, qid, nid, ROW_NUMBER()
      |    OVER (PARTITION BY ep, qid ORDER BY rrf DESC, nid) rk FROM fx)
      |  WHERE rk <= 5),
      |ph AS (SELECT p.ep, p.qid, COALESCE(h.h, 0) h
      |  FROM (SELECT DISTINCT ep, qid FROM x5) p
      |  LEFT JOIN (SELECT x5.ep, x5.qid, COUNT(*) h FROM x5 JOIN h5
      |    ON x5.ep = h5.ep AND x5.qid = h5.qid AND x5.nid = h5.nid
      |    GROUP BY 1, 2) h
      |  ON p.ep = h.ep AND p.qid = h.qid)
      |SELECT CAST(ep AS BIGINT) AS epoch, COUNT(*) AS n_probes,
      |  CAST(SUM(h) AS BIGINT) AS sum_hits,
      |  CAST(MIN(h) AS BIGINT) AS min_hits,
      |  CAST(MAX(h) AS BIGINT) AS max_hits,
      |  CAST(SUM(qid * 10 + h) AS BIGINT) AS checksum
      |FROM ph GROUP BY ep ORDER BY epoch""".stripMargin

  /** TAKEDOWN through the LIVE streamed hybrid index — the production
    * composition of [[st15StreamHybrid]] (stream maintains both
    * indexes, one pin per batch) with t27/s16's right-to-be-forgotten
    * propagation: a takedown request arriving MID-STREAM (after the
    * second microbatch) is applied to the live four-table state as
    * work ∝ takedown size — one appending [[graft.io.MergeOnRead]]
    * tombstone on the postings, one on the lists, one compensating
    * stats row — and published under the SAME single-pin discipline as
    * the ingest batches, so readers flip from victims-present to
    * victims-gone atomically and mid-crash leaves them on the previous
    * consistent state. Ingestion then CONTINUES into the
    * post-takedown index (batch 3's docs land on top of the
    * tombstones; its same-residue doc_ids are NOT victims — the
    * request named the docs that existed when it arrived). In-query
    * requires pin the four-epoch catalog history, victims present
    * through epoch 2's pins and absent from epoch 3's on, and the
    * takedown commits appending (never a rewrite). The final hybrid
    * query — both legs read through merged tombstone-aware snapshots
    * of the last pin — must answer bit-identically to a fresh build
    * over the survivors, which is exactly what the oracle computes.
    */
  def st17StreamTakedown(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.hadoop.fs.Path
    import graft.io.{Catalog, Manifest, MergeOnRead}
    import graft.functions.TextFunctions.tokens
    graft.expressions.LongArrayOps.register(s)
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_st17_takedown"
    val fs = new Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(idx), true)
    val (pRoot, sRoot, lRoot, qRoot, cRoot) = (idx + "/postings",
      idx + "/stats", idx + "/lists", idx + "/quantizer",
      idx + "/catalog")
    // staged: consumed by the offline centroid train AND the final
    // hybrid query's probe routing — one corpus quantize pass, not two
    val e = quantized(s, dir).staged()
    centroids(e).write.parquet(idx + "/centroids")
    Manifest.commit(s, qRoot, idx + "/centroids")
    val maxId = Tables.documents(s, dir)
      .agg(max(col("doc_id"))).collect()(0).getLong(0)
    val cuts = Seq((maxId + 1) / 4, (maxId + 1) / 2, maxId + 1)
    // staged: the 3-range source prep below filters this join three
    // times — one materialization instead of three evaluations
    val src = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .join(Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("label"),
          col("embedding")), Seq("doc_id"), "left").staged()
    fs.mkdirs(new Path(s"$idx/src"))
    for ((hi, k) <- cuts.zipWithIndex) {
      val lo = if (k == 0) 0L else cuts(k - 1)
      src.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.parquet(s"$idx/stage_$k")
      val part = fs.listStatus(new Path(s"$idx/stage_$k"))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val dst = new Path(s"$idx/src/b$k.parquet")
      require(fs.rename(part, dst), s"rename of range file $k failed")
      fs.setTimes(dst, 1600000000000L + k * 60000L, -1)
    }
    val schema = s.read.parquet(s"$idx/src").schema
    val ingest = (batch: DataFrame, batchId: Long) => {
      if (!batch.isEmpty) {
        val ss = batch.sparkSession
        graft.expressions.LongArrayOps.register(ss)
        val withDl = batch
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .withColumn("dl", size(col("toks")))
        val pDir = s"$idx/p_$batchId"
        if (!Manifest.committed(ss, pRoot).contains(pDir)) {
          withDl.select(col("doc_id"), explode(col("toks")).as("term"))
            .groupBy(col("doc_id"), col("term"))
            .agg(count(lit(1)).as("tf"))
            .write.mode("overwrite").parquet(pDir)
          Manifest.commitIfAbsent(ss, pRoot, pDir)
        }
        val sDir = s"$idx/s_$batchId"
        if (!Manifest.committed(ss, sRoot).contains(sDir)) {
          withDl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
            .write.mode("overwrite").parquet(sDir)
          Manifest.commitIfAbsent(ss, sRoot, sDir)
        }
        val lDir = s"$idx/l_$batchId"
        if (!Manifest.committed(ss, lRoot).contains(lDir)) {
          val eb = batch.filter(col("embedding").isNotNull)
            .select(col("doc_id").as("vec_id"), col("label"),
              quantize(col("embedding")).as("v"))
            .withColumn("nn", normSqLong(col("v")))
          val cent = Manifest.snapshot(ss, qRoot)
          centroidRanked(eb, cent, maxRank = 1)
            .filter(col("rk") === 1)
            .select(col("vec_id"), col("v"), col("nn"),
              col("clabel").as("list"))
            .write.mode("overwrite").parquet(lDir)
          Manifest.commitIfAbsent(ss, lRoot, lDir)
        }
        Catalog.pinLatest(ss, cRoot, Seq(pRoot, sRoot, lRoot, qRoot))
        if (batchId == 1L) {
          // the takedown request arrives NOW, naming the residue-13
          // docs that exist at this point — applied to the live index
          // as three ∝-takedown-size commits, each replay-guarded,
          // then ONE atomic publish
          if (!Manifest.entries(ss, pRoot).exists(MergeOnRead.isTombstone))
            MergeOnRead.deleteWhere(ss, pRoot, "doc_id",
              col("doc_id") % 13 === 3, s"$idx/td_p")
          if (!Manifest.entries(ss, lRoot).exists(MergeOnRead.isTombstone))
            MergeOnRead.deleteWhere(ss, lRoot, "vec_id",
              col("vec_id") % 13 === 3, s"$idx/td_l")
          val cDir = s"$idx/s_td"
          if (!Manifest.committed(ss, sRoot).contains(cDir)) {
            Tables.documents(ss, dir)
              .filter(col("doc_id") < cuts(1) &&
                col("doc_id") % 13 === 3)
              .select(col("doc_id"), tokens(col("text")).as("toks"))
              .agg((-count(lit(1))).as("nd"),
                (-sum(size(col("toks")))).as("tl"))
              .write.mode("overwrite").parquet(cDir)
            Manifest.commitIfAbsent(ss, sRoot, cDir)
          }
          Catalog.pinLatest(ss, cRoot, Seq(pRoot, sRoot, lRoot, qRoot))
        }
      }
      ()
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$idx/src")
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", s"$idx/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    // ---- the takedown is an EPOCH in the live index's history:
    // present at epoch 2, gone from epoch 3 on, ingest continued after
    val hist = Catalog.history(s, cRoot)
    require(hist.size == 4,
      s"expected pins b0, b1, takedown, b2 — got ${hist.size} epochs")
    def victimPostings(cv: Int): Long =
      MergeOnRead.snapshot(s, pRoot, "doc_id",
          Some(Catalog.resolve(s, cRoot, Some(cv))(pRoot)))
        .filter(col("doc_id") % 13 === 3 && col("doc_id") < cuts(1))
        .count()
    require(victimPostings(2) > 0,
      "victims must be live through the pre-takedown epoch")
    require(victimPostings(3) == 0 && victimPostings(4) == 0,
      "victims must be gone from every post-takedown epoch")
    require(Manifest.entries(s, pRoot).exists(MergeOnRead.isTombstone) &&
      Manifest.entries(s, lRoot).exists(MergeOnRead.isTombstone),
      "the takedown must be live appending tombstones, not a rewrite")
    // ---- hybrid query over the FINAL pin, tombstone-merged reads
    val pins = Catalog.resolve(s, cRoot)
    val tf = MergeOnRead.snapshot(s, pRoot, "doc_id", Some(pins(pRoot)))
    val st = Manifest.snapshot(s, sRoot, Some(pins(sRoot)))
      .agg(sum(col("nd")), sum(col("tl"))).collect()(0)
    val (nDocs, totLen) = (st.getLong(0), st.getLong(1))
    val avgdl = totLen.toDouble / nDocs
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val qterms = tf.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("term"))
    val sparse = topKLeg(tf.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .join(dft, Seq("term")).join(dl, Seq("doc_id"))
      .withColumn("fp", graft.functions.TextFunctions.bm25Fp(
        col("tf"), col("df"), col("dl"), nDocs, avgdl))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("fp")).as("score_fp"))
      .select(col("qid"), col("doc_id").as("nid"), col("score_fp")),
      "score_fp", "rks", 20, asc = false)
    val cent = Manifest.snapshot(s, qRoot, Some(pins(qRoot)))
    // surviving probes only — probe 3 was taken down with its document
    val probes = centroidRanked(
        e.filter(col("vec_id") < 5 && col("vec_id") % 13 =!= 3), cent,
        maxRank = 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nn").as("qn"), col("clabel").as("list"))
    val lists = MergeOnRead.snapshot(s, lRoot, "vec_id",
      Some(pins(lRoot)))
    val cos = cosineQ(dotLong(col("qv"), col("v")), col("qn"), col("nn"))
    val dense = topKLeg(broadcast(probes).join(lists, Seq("list"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos")),
      "cos", "rkd", 20, asc = false)
    rrfTop5(dense, sparse).orderBy(col("qid"), col("rk"))
  }

  /** [[st15Oracle]] over the SURVIVORS: the takedown set (residue-13
    * docs that existed when the mid-stream request arrived, id < cut2)
    * excluded from both legs' corpora and from the probes; the frozen
    * quantizer keeps its full-corpus training (the trained artifact
    * predates the takedown — s16's retained-quantizer semantics).
    */
  val st17Oracle: String =
    """WITH c2 AS (SELECT (MAX(doc_id)+1)//2 cut FROM documents),
      |q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM q),
      |comp AS (SELECT label, CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx, COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1, 2),
      |cent AS (SELECT label AS clabel,
      |    list(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) c
      |  FROM comp GROUP BY label),
      |d AS (SELECT n.vec_id, n.v, n.nn, cent.clabel,
      |    list_reduce(list_transform(range(1, 65), i ->
      |      (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
      |      * (CAST(v[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
      |      (a, b) -> a + b) dist
      |  FROM n CROSS JOIN cent),
      |rk AS (SELECT vec_id, v, nn, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) rk FROM d),
      |lists AS (SELECT vec_id, v, nn, clabel AS list FROM rk CROSS JOIN c2
      |  WHERE rk = 1 AND NOT (vec_id % 13 = 3 AND vec_id < cut)),
      |probes AS (SELECT vec_id qid, v qv, nn qn, clabel AS list FROM rk
      |  WHERE vec_id < 5 AND vec_id % 13 <> 3 AND rk <= 2),
      |pd AS (SELECT probes.qid, lists.vec_id nid,
      |    CAST(list_aggregate(list_transform(range(1, len(qv) + 1),
      |        i -> qv[CAST(i AS INT)] * lists.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(lists.nn AS DOUBLE))) AS cos
      |  FROM probes JOIN lists USING(list) WHERE probes.qid <> lists.vec_id),
      |d20 AS (SELECT qid, nid, rkd FROM (SELECT qid, nid, ROW_NUMBER()
      |    OVER (PARTITION BY qid ORDER BY cos DESC, nid) rkd FROM pd)
      |  WHERE rkd <= 20),
      |surv AS (SELECT dd.* FROM documents dd CROSS JOIN c2
      |  WHERE NOT (dd.doc_id % 13 = 3 AND dd.doc_id < cut)),
      |t AS (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
      |    THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)
      |    AS term FROM surv),
      |nn2 AS (SELECT (SELECT COUNT(*) FROM surv) AS nd,
      |    (SELECT COUNT(*) FROM t) AS tl),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
      |qt AS (SELECT DISTINCT doc_id AS qid, term FROM t WHERE doc_id < 5),
      |sc AS (SELECT qid, tf.doc_id AS nid,
      |    CAST(SUM(CAST(FLOOR(
      |      (CAST(nd AS DOUBLE) / df) * (tf * 2.2e0) /
      |        (tf + 1.2e0 * (0.25e0 +
      |          0.75e0 * (dl / (CAST(tl AS DOUBLE) / nd)))) * 1e7)
      |      AS BIGINT)) AS BIGINT) AS score_fp
      |  FROM tf JOIN qt USING (term) JOIN dft USING (term)
      |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN nn2
      |  WHERE tf.doc_id <> qt.qid
      |  GROUP BY 1, 2),
      |s20 AS (SELECT qid, nid, rks FROM (SELECT qid, nid, ROW_NUMBER()
      |    OVER (PARTITION BY qid ORDER BY score_fp DESC, nid) rks FROM sc)
      |  WHERE rks <= 20),
      |f AS (SELECT COALESCE(d20.qid, s20.qid) AS qid,
      |    COALESCE(d20.nid, s20.nid) AS nid,
      |    CAST(COALESCE(FLOOR(1e9 / (60 + rkd)), 0) AS BIGINT)
      |      + CAST(COALESCE(FLOOR(1e9 / (60 + rks)), 0) AS BIGINT) AS rrf
      |  FROM d20 FULL OUTER JOIN s20
      |    ON d20.qid = s20.qid AND d20.nid = s20.nid),
      |r AS (SELECT qid, nid, rrf, ROW_NUMBER() OVER
      |    (PARTITION BY qid ORDER BY rrf DESC, nid) rk FROM f)
      |SELECT qid, rk, nid, rrf FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  /** BINARY quantization ANN — the 1-bit-per-dimension compression
    * modern vector stores ship as the first coarse filter (256× smaller
    * than float32: a 64-dim vector becomes two 32-bit-packed longs):
    * bit i = sign of dimension i against the corpus per-dimension MEAN,
    * computed divisionless as vᵢ·n > Σᵢ so both engines compare exact
    * integers. Candidates per probe are the top-12 by hamming distance
    * — one xor+popcount per pair over 16 B of state, the cheapest scan
    * a vector index can run — then reranked EXACTLY on the raw
    * fixed-point vectors by integer L2 for the final top-3. The recall
    * claim is structural, not asserted: the gate's output is the full
    * candidate→rerank pipeline, and the oracle replays bit packing,
    * hamming, candidate ranking, and rerank from the same integers.
    * Scale: signatures broadcast at 16 B/vector (a billion vectors =
    * 16 GB, still map-side-joinable sharded); the rerank touches 12
    * rows per probe.
    */
  def s25BinaryQuant(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val stats = e.groupBy()
      .agg(call_function("graft_elementwise_sum", col("v")).as("sx"),
        count(lit(1)).as("cnt"))
    def pack(lo: Int): Column =
      aggregate(sequence(lit(lo), lit(lo + 31)),
        lit(0L),
        (acc, i) => acc + when(
          element_at(col("v"), i.cast("int")) * col("cnt") >
            element_at(col("sx"), i.cast("int")),
          call_function("shiftleft", lit(1L),
            (i - lo).cast("int"))).otherwise(0L))
    val sigs = e.crossJoin(broadcast(stats))
      .select(col("vec_id"), col("v"), col("nn"),
        pack(1).as("b_lo"), pack(33).as("b_hi"))
      .staged()
    // the candidate scan carries ONLY ids + 16 B of signature — the
    // 64-long vectors must never ride the probes × corpus fan (measured
    // 10× super-linear at the heaps octave when they did); they join
    // back onto the 12 survivors per probe for the exact rerank
    val probes = sigs.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("b_lo").as("q_lo"),
        col("b_hi").as("q_hi"))
    val hd = call_function("bit_count",
        expr("b_lo ^ q_lo")).cast("long") +
      call_function("bit_count", expr("b_hi ^ q_hi")).cast("long")
    // candidate cut via the bounded-heap top-k aggregate: the probes ×
    // corpus signature fan partial-aggregates map-side, so the exchange
    // carries 12 (hd, nid) pairs per probe instead of the whole fan
    // funneling into ≤ #probes rank-window reducers
    val candFan = broadcast(probes)
      .crossJoin(sigs.select(col("vec_id"), col("b_lo"), col("b_hi")))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), hd.as("hd"))
    val cands = graft.functions.RankFunctions
      .topKPerGroup(candFan, "qid", "hd", "nid", 12, asc = true)
    val qv = e.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nn").as("qn"))
    val reranked = cands
      .join(broadcast(qv), "qid")
      .join(e.select(col("vec_id").as("nid"), col("v"), col("nn")), "nid")
    val d2 = col("qn") - lit(2L) * dotLong(col("qv"), col("v")) + col("nn")
    val topW = Window.partitionBy(col("qid")).orderBy(col("d2"), col("nid"))
    reranked.select(col("qid"), col("nid"), col("hd"), d2.as("d2"))
      .withColumn("rk", row_number().over(topW))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("nid"), col("hd"), col("d2"))
      .orderBy(col("qid"), col("rk"))
  }

  val s25Oracle: String =
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_aggregate(list_transform(v,
      |    x -> x * x), 'sum') nn FROM q),
      |st AS (SELECT CAST(i AS INT) i, SUM(v[CAST(i AS INT)]) sx,
      |    COUNT(*) cnt
      |  FROM q, range(1, 65) r(i) GROUP BY 1),
      |stl AS (SELECT list(sx ORDER BY i) sx, MAX(cnt) cnt FROM st),
      |sig AS (SELECT vec_id, v, nn,
      |    list_aggregate(list_transform(range(1, 33), i ->
      |      CASE WHEN v[CAST(i AS INT)] * cnt > sx[CAST(i AS INT)]
      |        THEN CAST(1 AS BIGINT) << (CAST(i AS INT) - 1)
      |        ELSE 0 END), 'sum') b_lo,
      |    list_aggregate(list_transform(range(33, 65), i ->
      |      CASE WHEN v[CAST(i AS INT)] * cnt > sx[CAST(i AS INT)]
      |        THEN CAST(1 AS BIGINT) << (CAST(i AS INT) - 33)
      |        ELSE 0 END), 'sum') b_hi
      |  FROM n CROSS JOIN stl),
      |cand AS (SELECT a.vec_id qid, a.v qv, a.nn qn, b.vec_id nid,
      |    b.v, b.nn,
      |    bit_count(xor(a.b_lo, b.b_lo)) + bit_count(xor(a.b_hi, b.b_hi))
      |      AS hd
      |  FROM sig a JOIN sig b ON a.vec_id < 25 AND a.vec_id <> b.vec_id),
      |c12 AS (SELECT * FROM (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hd, nid) crk
      |  FROM cand) WHERE crk <= 12),
      |rr AS (SELECT qid, nid, hd,
      |    list_aggregate(list_transform(range(1, 65), i ->
      |      (qv[CAST(i AS INT)] - v[CAST(i AS INT)])
      |      * (qv[CAST(i AS INT)] - v[CAST(i AS INT)])), 'sum') d2
      |  FROM c12),
      |r3 AS (SELECT qid, nid, hd, d2,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nid) rk
      |  FROM rr)
      |SELECT qid, rk, nid, CAST(hd AS BIGINT) AS hd,
      |  CAST(d2 AS BIGINT) AS d2
      |FROM r3 WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** Matryoshka (progressive-dimension) rerank — the embedding-side
    * counterpart of s25's bit-side coarse filter, for models trained
    * with matryoshka representation learning where a PREFIX of the
    * vector is itself a usable embedding: the coarse scan scores only
    * the first 16 of 64 dimensions (at scale: a prefix-truncated
    * stored column — 4× less IO and arithmetic per corpus row), takes
    * the top-12 by integer L2 on the prefix, and reranks exactly on
    * the full vectors. The candidate fan stays skinny (qid, nid,
    * coarse distance) through the shuffle — the s25 lesson; the
    * 16-long prefix rides only the map-side scan. Oracle replays both
    * stages from the same integers.
    */
  def s26Matryoshka(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val pre = e.select(col("vec_id"), slice(col("v"), 1, 16).as("v16"))
      .withColumn("nn16", normSqLong(col("v16")))
      .staged()
    val probes = pre.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("v16").as("qv16"),
        col("nn16").as("qn16"))
    val d2c = col("qn16") - lit(2L) * dotLong(col("qv16"), col("v16")) +
      col("nn16")
    // prefix-scan candidate cut through the bounded-heap aggregate —
    // map-side partial merge, 12 rows per probe across the exchange
    val candFan = broadcast(probes).crossJoin(pre)
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), d2c.as("d2c"))
    val cands = graft.functions.RankFunctions
      .topKPerGroup(candFan, "qid", "d2c", "nid", 12, asc = true)
    val qv = e.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nn").as("qn"))
    val reranked = cands
      .join(broadcast(qv), "qid")
      .join(e.select(col("vec_id").as("nid"), col("v"), col("nn")), "nid")
    val d2 = col("qn") - lit(2L) * dotLong(col("qv"), col("v")) + col("nn")
    val topW = Window.partitionBy(col("qid")).orderBy(col("d2"), col("nid"))
    reranked.select(col("qid"), col("nid"), col("d2c"), d2.as("d2"))
      .withColumn("rk", row_number().over(topW))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("nid"), col("d2c"), col("d2"))
      .orderBy(col("qid"), col("rk"))
  }

  val s26Oracle: String =
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v,
      |    list_aggregate(list_transform(v, x -> x * x), 'sum') nn,
      |    list_aggregate(list_transform(v[1:16], x -> x * x), 'sum') nn16
      |  FROM q),
      |cand AS (SELECT a.vec_id qid, b.vec_id nid,
      |    a.nn16 - 2 * list_aggregate(list_transform(range(1, 17), i ->
      |      a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)]), 'sum') + b.nn16
      |      AS d2c
      |  FROM n a JOIN n b ON a.vec_id < 25 AND a.vec_id <> b.vec_id),
      |c12 AS (SELECT * FROM (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2c, nid) crk
      |  FROM cand) WHERE crk <= 12),
      |rr AS (SELECT c12.qid, c12.nid, c12.d2c,
      |    a.nn - 2 * list_aggregate(list_transform(range(1, 65), i ->
      |      a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)]), 'sum') + b.nn
      |      AS d2
      |  FROM c12 JOIN n a ON c12.qid = a.vec_id
      |  JOIN n b ON c12.nid = b.vec_id),
      |r3 AS (SELECT qid, nid, d2c, d2,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nid) rk
      |  FROM rr)
      |SELECT qid, rk, nid, CAST(d2c AS BIGINT) AS d2c,
      |  CAST(d2 AS BIGINT) AS d2
      |FROM r3 WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** TIME-SERIES subsequence similarity search (the EDBT streaming-
    * similarity family): "find the k windows most similar to this one"
    * over per-entity value series — anomaly matching / motif discovery
    * on metrics, the one similarity modality the s-family didn't cover
    * (text d-family, vectors s1–s26, media m5/m9, audio a7). Shape:
    *
    *  1. per-user time-ordered series: ONE groupBy collecting
    *     (event_id, cents) structs, sorted in-array — bounded by the
    *     per-entity series length, never a corpus-wide sort;
    *  2. sliding windows of length 8 by `slice` over a posexploded
    *     start index — windows ∝ events, built map-side;
    *  3. the probe window (first window of the smallest eligible user
    *     — a 1-row broadcast) scans all windows with the codegen'd
    *     integer L2 kernel, and the GLOBAL top-5 is one
    *     `graft_topk_by` over a constant group — the map-side bounded
    *     heap IS the distributed global-top-k shape (each partition
    *     ships 5 rows; no sort, no single-reducer window).
    *
    * All arithmetic exact fixed-point cents, so DuckDB replays the
    * distances bit-for-bit; window ids pack (user, start) into one
    * long for the heap's id slot.
    */
  def s27TsSubseq(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val w = 8
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    val series = ev.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("event_id"), col("cents"))))
        .as("sc"))
      .select(col("user_id"),
        transform(col("sc"), _.getField("cents")).as("v"))
      .filter(size(col("v")) >= w)
      .staged()
    val wins = series
      .select(col("user_id"), col("v"),
        posexplode(sequence(lit(0), size(col("v")) - w))
          .as(Seq("_i", "st")))
      .select(col("user_id"), col("st").cast("long").as("st"),
        slice(col("v"), col("st") + 1, lit(w)).as("win"))
      .withColumn("nn", normSqLong(col("win")))
    val qu = series.agg(min(col("user_id")).as("qu"))
    val probe = wins.join(broadcast(qu),
        col("user_id") === col("qu") && col("st") === 0)
      .select(col("user_id").as("qu"), col("win").as("qwin"),
        col("nn").as("qn"))
    // ‖w−q‖² = ‖w‖² − 2·w·q + ‖q‖² on the codegen'd integer dot kernel
    val fan = wins.crossJoin(broadcast(probe))
      .filter(!(col("user_id") === col("qu") && col("st") === 0))
      .select(lit(0L).as("g"),
        (col("user_id") * 1000000L + col("st")).as("wid"),
        (col("nn") - lit(2L) * dotLong(col("win"), col("qwin")) +
          col("qn")).as("d2"))
    graft.functions.RankFunctions
      .topKPerGroup(fan, "g", "d2", "wid", 5, asc = true)
      .select(col("rk"), col("wid"), col("d2"))
      .orderBy(col("rk"))
  }

  val s27Oracle: String =
    """WITH ev AS (SELECT user_id, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |ser AS (SELECT user_id, list(cents ORDER BY event_id) v
      |  FROM ev GROUP BY 1),
      |ok AS (SELECT * FROM ser WHERE len(v) >= 8),
      |qu AS (SELECT MIN(user_id) u FROM ok),
      |wins AS (SELECT user_id, CAST(st AS BIGINT) st,
      |    v[CAST(st + 1 AS INT):CAST(st + 8 AS INT)] AS win
      |  FROM ok, unnest(range(0, len(v) - 7)) r(st)),
      |probe AS (SELECT win AS qwin FROM wins, qu
      |  WHERE user_id = u AND st = 0),
      |d AS (SELECT user_id * 1000000 + st AS wid,
      |    CAST(list_aggregate(list_transform(range(1, 9),
      |      i -> (win[CAST(i AS INT)] - qwin[CAST(i AS INT)])
      |         * (win[CAST(i AS INT)] - qwin[CAST(i AS INT)])), 'sum')
      |      AS BIGINT) AS d2
      |  FROM wins, probe, qu WHERE NOT (user_id = u AND st = 0)),
      |r AS (SELECT wid, d2, ROW_NUMBER() OVER (ORDER BY d2, wid) rk
      |  FROM d)
      |SELECT rk, wid, d2 FROM r WHERE rk <= 5 ORDER BY rk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_knn_brute" -> (s1KnnBrute _),
    "s2_ann_lsh" -> (s2AnnLsh _),
    "s3_ivf_assign" -> (s3IvfAssign _),
    "s4_ivf_probe" -> (s4IvfProbe _),
    "s5_kmeans_train" -> (s5KmeansTrain _),
    "s6_pq_adc" -> (s6PqAdc _),
    "s7_pq_train" -> (s7PqTrain _),
    "s8_ivfpq" -> (s8IvfPq _),
    "s9_ann_recall" -> (s9AnnRecall _),
    "s10_sq8" -> (s10Sq8 _),
    "s11_sq8_stored" -> (s11Sq8Stored _),
    "s12_hybrid_rrf" -> (s12HybridRrf _),
    "s13_pq_stored" -> (s13PqStored _),
    "s14_ivf_incr" -> (s14IvfIncr _),
    "s24_ivf_compact" -> (s24IvfCompact _),
    "s25_binary_quant" -> (s25BinaryQuant _),
    "s26_matryoshka" -> (s26Matryoshka _),
    "s27_ts_subseq" -> (s27TsSubseq _),
    "s15_hybrid_stored" -> (s15HybridStored _),
    "s16_ann_takedown" -> (s16AnnTakedown _),
    "st13_stream_ivf" -> (st13StreamIvf _),
    "s17_filtered_ann" -> (s17FilteredAnn _),
    "s19_filtered_ann_stored" -> (s19FilteredAnnStored _),
    "s20_whitened_sq_recall" -> (s20WhitenedSqRecall _),
    "s21_whitened_pq_recall" -> (s21WhitenedPqRecall _),
    "s22_hybrid_recall" -> (s22HybridRecall _),
    "s23_conj_prune" -> (s23ConjPrune _),
    "st15_stream_hybrid" -> (st15StreamHybrid _),
    "st16_stream_health" -> (st16StreamIndexHealth _),
    "st17_stream_takedown" -> (st17StreamTakedown _),
    "s18_pca_moments" -> (s18PcaMoments _),
    "d14_semantic_dedup" -> (d14SemanticDedup _),
    "t34_semantic_decontam" -> (t34SemanticDecontam _))

  val oracle: Map[String, String] = Map(
    "s1_knn_brute" -> s1Oracle,
    "s2_ann_lsh" -> s2Oracle,
    "s3_ivf_assign" -> s3Oracle,
    "s4_ivf_probe" -> s4Oracle,
    "s5_kmeans_train" -> s5Oracle,
    "s6_pq_adc" -> s6Oracle,
    "s7_pq_train" -> s7Oracle,
    "s8_ivfpq" -> s8Oracle,
    "s9_ann_recall" -> s9Oracle,
    "s10_sq8" -> s10Oracle,
    // the stored-codes read path must reproduce s10's result exactly —
    // the oracle recomputes the same arithmetic DuckDB-side
    "s11_sq8_stored" -> s10Oracle,
    "s12_hybrid_rrf" -> s12Oracle,
    // the stored-codes PQ read path must reproduce s6's result exactly
    "s13_pq_stored" -> s6Oracle,
    "s14_ivf_incr" -> s14Oracle,
    // compaction is file-level maintenance: answers must be identical,
    // so the compacted pin is gated against s14's oracle verbatim
    "s24_ivf_compact" -> s14Oracle,
    "s25_binary_quant" -> s25Oracle,
    "s26_matryoshka" -> s26Oracle,
    "s27_ts_subseq" -> s27Oracle,
    "s15_hybrid_stored" -> s15Oracle,
    "s16_ann_takedown" -> s16Oracle,
    // batching cannot move a per-row assignment: the streamed-in lists
    // must census exactly like the batch incremental build
    "st13_stream_ivf" -> s14Oracle,
    "s17_filtered_ann" -> s17Oracle,
    "s19_filtered_ann_stored" -> s19Oracle,
    "s20_whitened_sq_recall" -> s20Oracle,
    "s21_whitened_pq_recall" -> s21Oracle,
    "s22_hybrid_recall" -> s22Oracle,
    "s23_conj_prune" -> s23Oracle,
    "st15_stream_hybrid" -> st15Oracle,
    "st16_stream_health" -> st16Oracle,
    "st17_stream_takedown" -> st17Oracle,
    "s18_pca_moments" -> s18Oracle,
    "d14_semantic_dedup" -> d14Oracle,
    "t34_semantic_decontam" -> t34Oracle)
}
