package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{QueryDef, Snapshots, Tables}
import graft.core.QueryDef.sql

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Cross-engine float discipline: dot products are sequential left folds in
  * index order on BOTH engines — Spark's native `dot_product` kernel
  * ([[graft.functions.DotProduct]]) and DuckDB
  * `list_reduce(list_transform(list_zip(a,b), *), +)` perform the identical
  * IEEE op sequence (fold of double products, ascending index), so cosines
  * are bit-identical and safe to sort on and round.
  *
  * Scale notes (100 TB): brute-force top-k is one broadcast of the query
  * vector + a map-side partial top-k (TakeOrderedAndProject — no full sort).
  * The scale path is IVF: assign every vector to its nearest coarse-centroid
  * cell (here the label-centroids double as the codebook), then restrict
  * search/near-dup joins to within-cell candidates, turning the O(n²) pair
  * space into per-bucket blocks exactly like MinHash-LSH does for text.
  */
object Similarity {

  /** dot(a,b) — Spark side of the index-order fold contract: the native
    * codegen'd `dot_product` kernel (graft.functions.DotProduct), the same
    * strict ascending-index double accumulation as the DuckDB fold below
    * (and bit-identical to it), compiled to a primitive loop. */
  private def dotCol(a: String, b: String) =
    graft.functions.DotProduct.dot_product(col(a), col(b))

  /** dot(a,b) — DuckDB side, same op order. */
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)"

  /** ‖a−b‖² — DuckDB side, ascending-index fold: the identical IEEE op
    * sequence as the native codegen'd `squared_distance`, so distances are
    * bit-identical across engines. */
  private def sqdistSql(a: String, b: String) =
    s"list_reduce(list_transform(list_zip($a, $b), x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (p, q) -> p + q)"

  /** SQL CTE chain ending in `dscore(vec_id, cos)` — the full-corpus
    * 4-dp cosine of every vector against the fixed query (vec_id 0): the
    * DENSE retrieval leg, shared by `sim_topk_cosine` and TextOps'
    * `rag_hybrid` fusion so the score cannot fork. */
  private[operators] val denseScoreSqlCte: String =
    s"""dqr AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |dscore AS (SELECT vec_id,
       |                  round(${dotSql("embedding", "qv")}
       |                        / (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |           FROM embeddings, dqr
       |           WHERE vec_id <> 0)""".stripMargin

  /** Spark side of `dscore`: one broadcast query row + a narrow map. */
  private[operators] def denseScores(s: org.apache.spark.sql.SparkSession,
      d: String) = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dotCol("embedding", "qv")
          / (sqrt(dotCol("embedding", "embedding")) * sqrt(dotCol("qv", "qv"))), 4).as("cos"))
  }

  /** Brute-force cosine top-k against a fixed query vector (vec_id = 0). */
  val simTopK = sql(
    "sim_topk_cosine",
    s"""WITH $denseScoreSqlCte
       |SELECT vec_id, cos FROM dscore
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    denseScores(s, d).orderBy(col("cos").desc, col("vec_id")).limit(10)
  }

  /** MRL ADAPTIVE RETRIEVAL — the serving shape `sim_trunc_recall`
    * prices: a CHEAP truncated-16-dim scan proposes the top-50
    * candidates (1/4 of the vector bytes over the corpus), then ONLY
    * those 50 are re-scored with the full-dim cosine and the top-10
    * emitted. When the true top-10 survive the truncated cut (what
    * `sim_trunc_recall` measures), the output EQUALS the brute-force
    * full-dim answer at a fraction of the scan cost — the funnel
    * economics of every coarse-to-fine retrieval stack. Both stages are
    * TakeOrdered over narrow maps; the rerank input is a 50-row
    * broadcast semi-join. */
  val simMrlAdaptive = sql(
    "sim_mrl_adaptive",
    s"""WITH mq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |cand AS (SELECT vec_id FROM (
       |  SELECT vec_id,
       |         round(${dotSql("embedding[1:16]", "qv[1:16]")}
       |               / (sqrt(${dotSql("embedding[1:16]", "embedding[1:16]")})
       |                  * sqrt(${dotSql("qv[1:16]", "qv[1:16]")})), 4) AS cos
       |  FROM embeddings, mq WHERE vec_id <> 0
       |  ORDER BY cos DESC, vec_id LIMIT 50) t)
       |SELECT e.vec_id,
       |       round(${dotSql("e.embedding", "qv")}
       |             / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |FROM embeddings e JOIN cand USING (vec_id), mq
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val dot = graft.functions.DotProduct.dot_product _
    val e16 = slice(col("embedding"), 1, 16)
    val q16 = slice(col("qv"), 1, 16)
    val cand = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(e16, q16) / (sqrt(dot(e16, e16)) * sqrt(dot(q16, q16))), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(50)
      .select("vec_id")
    emb.join(broadcast(cand), "vec_id").crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("embedding"), col("qv"))
          / (sqrt(dot(col("embedding"), col("embedding")))
            * sqrt(dot(col("qv"), col("qv")))), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(10)
  }

  /** FILTERED VECTOR SEARCH — the metadata-constrained top-k every vector
    * store ships (search within a tenant/language/label): brute-force
    * cosine over ONLY the vectors whose label matches the predicate. The
    * filter is a plain scan predicate, so Catalyst pushes it into the
    * parquet reader (`PushedFilters: [EqualTo(label,3)]` — PlanSpec
    * asserts it): at 100 TB with label-partitioned or z-ordered layout
    * (`layout_zorder`) the scan touches only matching files, which is the
    * entire economics of filtered search — pre-filtering beats
    * post-filtering an unfiltered ANN result both in recall (no k-starved
    * result sets) and in bytes read. Top-k is TakeOrderedAndProject. */
  val simFilteredTopk = sql(
    "sim_filtered_topk",
    s"""WITH fqr AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, label,
       |       round(${dotSql("embedding", "qv")}
       |             / (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |FROM embeddings, fqr
       |WHERE vec_id <> 0 AND label = 3
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    emb.filter(col("vec_id") =!= 0 && col("label") === 3)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(dotCol("embedding", "qv")
          / (sqrt(dotCol("embedding", "embedding")) * sqrt(dotCol("qv", "qv"))), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** SQL CTE chain ending in `assign(vec_id, cell)` — every vector's
    * nearest-centroid cell (shared by the assign and probe queries). */
  private val ivfAssignSqlCte: String =
    """ex AS (SELECT vec_id, unnest(embedding) AS x,
      |               generate_subscripts(embedding, 1) AS pos
      |        FROM embeddings),
      |cex AS (SELECT label, unnest(embedding) AS x,
      |               generate_subscripts(embedding, 1) AS pos
      |        FROM embeddings),
      |cent AS (SELECT label, pos, round(avg(CAST(x AS DOUBLE)), 4) AS c
      |         FROM cex GROUP BY label, pos),
      |dists AS (SELECT e.vec_id, ct.label,
      |                 sum((CAST(e.x AS DOUBLE) - ct.c) * (CAST(e.x AS DOUBLE) - ct.c)) AS dist
      |          FROM ex e JOIN cent ct ON e.pos = ct.pos
      |          GROUP BY e.vec_id, ct.label),
      |ranked AS (SELECT vec_id, label,
      |                  row_number() OVER (PARTITION BY vec_id ORDER BY dist, label) AS rn
      |           FROM dists),
      |assign AS (SELECT vec_id, label AS cell FROM ranked WHERE rn = 1)""".stripMargin

  /** IVF assignment: nearest label-centroid per vector by squared-L2.
    * Centroids are per-(label, dim) means rounded to 4 dp BEFORE the
    * distance step, so downstream arithmetic is identical on both engines
    * regardless of each engine's mean-accumulation order. */
  val simIvfAssign = sql(
    "sim_ivf_assign",
    s"""WITH $ivfAssignSqlCte
       |SELECT vec_id, cell FROM assign
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    ivfAssignDf(s, d).orderBy("vec_id")
  }

  /** Codebook fit: per-(label, dim) means rounded to 4 dp, then packed
    * into one ordered array per label (k rows — broadcastable model
    * state). */
  private def ivfCodebook(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "x")))
      .groupBy("label", "pos0")
      .agg(round(avg(col("x").cast("double")), 4).as("c"))
      .groupBy(col("label").as("clabel"))
      .agg(expr("transform(array_sort(collect_list(struct(pos0, c))), s -> s.c)")
        .as("cvec"))

  /** Spark side of `assign(vec_id, cell)`. */
  private[graft] def ivfAssignDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    val emb = Tables.embeddings(s, d)
    // Assignment is a broadcast cross join (n × k rows) with ONE
    // native squared-distance loop (graft.functions.SquaredDistance — same
    // ascending-index double accumulation as the declarative
    // aggregate(zip_with) fold and the oracle's unnest group-sum, so
    // distances are bit-identical, but codegen'd instead of 64 interpreted
    // lambda calls per candidate) — no giant literal expressions (codegen
    // stays tiny), no explode of the fact side, no window.
    // min(struct(dist, label)) is the deterministic tie-broken argmin.
    val cent = ivfCodebook(s, d)
    val dist = graft.functions.SquaredDistance.squared_distance(
      col("embedding"), col("cvec"))
    emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("clabel"), dist.as("dist"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("clabel"))).getField("clabel").as("cell"))
  }

  /** The query vector's `nProbe` nearest cells — a k-row argsort over the
    * broadcast codebook (deterministic: bit-identical distances, label
    * tie-break), itself broadcastable downstream. */
  private def ivfQueryCells(s: org.apache.spark.sql.SparkSession, d: String,
      nProbe: Int) = {
    val emb = Tables.embeddings(s, d)
    val dist = graft.functions.SquaredDistance.squared_distance(
      col("embedding"), col("cvec"))
    emb.filter(col("vec_id") === 0).select(col("embedding"))
      .crossJoin(broadcast(ivfCodebook(s, d)))
      .select(col("clabel"), dist.as("dist"))
      .orderBy(col("dist"), col("clabel"))
      .limit(nProbe)
      .select(col("clabel").as("cell"))
  }

  /** IVF PROBE — the actual ANN query path: assign the query vector to its
    * nearest cell, then brute-force cosine top-k WITHIN that cell only.
    * At 100 TB this is the whole point of IVF: the scan touches ~1/k of
    * the corpus (one cell), not all of it; the cell filter is a broadcast
    * 1-row semi-join, and the top-k is TakeOrderedAndProject (no global
    * sort). Same fold discipline as sim_topk_cosine → bit-identical
    * cosines. */
  val simIvfTopk = sql(
    "sim_ivf_topk",
    s"""WITH $ivfAssignSqlCte,
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qcell AS (SELECT cell FROM assign WHERE vec_id = 0)
       |SELECT e.vec_id,
       |       round(${dotSql("e.embedding", "qv")}
       |             / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |FROM embeddings e
       |JOIN assign a ON a.vec_id = e.vec_id
       |JOIN qcell ON a.cell = qcell.cell
       |CROSS JOIN q
       |WHERE e.vec_id <> 0
       |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val assign = ivfAssignDf(s, d)
    val qcell = assign.filter(col("vec_id") === 0).select(col("cell"))
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    emb.filter(col("vec_id") =!= 0)
      .join(assign, "vec_id")
      .join(broadcast(qcell), "cell") // 1-row cell filter
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dotCol("embedding", "qv")
          / (sqrt(dotCol("embedding", "embedding")) * sqrt(dotCol("qv", "qv"))), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** BATCHED IVF top-k — the shape an ANN service actually executes: a
    * BATCH of queries (vec_ids 0–9 here) probed in ONE pass instead of a
    * plan per query. The query set rides as a broadcast (query_id, qv,
    * cell) frame; the corpus joins it on the cell key, so each corpus
    * vector is scored only against the queries probing its cell — total
    * work Σ|probed cell| across queries, never |queries|×|corpus|. Per-
    * query top-3 runs as a bounded-heap CollectTopK aggregate (round 12
    * — a rank window would map-side sort each query's CELL-sized
    * candidate list; 4-dp cosine, candidate-id tie-break).
    * At 100 TB this is the micro-batch of `Jobs.embeddingRouter`'s ingest
    * side: the one scan amortizes across the whole query batch — the
    * entire point of batching an ANN service. */
  val simIvfBatchTopk = sql(
    "sim_ivf_batch_topk",
    s"""WITH $ivfAssignSqlCte,
       |qs AS (SELECT e.vec_id AS query_id, e.embedding AS qv, a.cell
       |       FROM embeddings e JOIN assign a USING (vec_id)
       |       WHERE e.vec_id < 10),
       |cand AS (SELECT q.query_id, e.vec_id,
       |                round(${dotSql("e.embedding", "q.qv")}
       |                      / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |                         * sqrt(${dotSql("q.qv", "q.qv")})), 4) AS cos
       |         FROM embeddings e
       |         JOIN assign a ON a.vec_id = e.vec_id
       |         JOIN qs q ON q.cell = a.cell
       |         WHERE e.vec_id >= 10),
       |rk AS (SELECT query_id, vec_id, cos,
       |              CAST(row_number() OVER (PARTITION BY query_id
       |                                      ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
       |       FROM cand)
       |SELECT query_id, vec_id, rnk, cos FROM rk WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val assign = ivfAssignDf(s, d)
    val qs = emb.filter(col("vec_id") < 10).join(assign, "vec_id")
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cell"))
    val cand = emb.filter(col("vec_id") >= 10)
      .join(assign, "vec_id")
      .join(broadcast(qs), "cell")
      .select(col("query_id"), col("vec_id"),
        round(dotCol("embedding", "qv")
          / (sqrt(dotCol("embedding", "embedding")) * sqrt(dotCol("qv", "qv"))), 4)
          .as("cos"))
    // bounded-heap top-3 per query (round 12): the rank window's
    // WindowGroupLimit map-side sorts the per-query candidate list —
    // which is CELL-sized and grows with the corpus in the overflow
    // regime — while CollectTopK keeps ≤3 rows of state per query and
    // shuffles only those (same key, bit-identical; the knnRankedDf
    // topK discipline)
    val key = struct((lit(0.0) - col("cos")).as("nc"), col("vec_id").as("vec_id"),
      col("cos").as("cos"))
    cand.groupBy("query_id")
      .agg(org.apache.spark.sql.GraftSqlBridge
        .collectTopK(key, 3, reverse = true).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.vec_id").as("vec_id"),
        (col("pos") + 1).cast("long").as("rnk"), col("col.cos").as("cos"))
      .orderBy("query_id", "rnk")
  }

  /** MMR DIVERSITY RE-RANKING (Carbonell & Goldstein 1998, λ = 0.5) — the
    * post-retrieval stage a RAG pipeline runs so the context window isn't
    * five copies of the same passage: from the dense top-20, greedily pick
    * 5 results maximizing `λ·cos(q,d) − (1−λ)·max_{s∈selected} cos(d,s)`.
    * The greedy loop is UNROLLED into 5 relational rounds: each round's
    * penalty is a max over the ≤4-row selected set, the winner an
    * ORDER BY/LIMIT 1 argmax on exact ×10⁴ integer scores (ci − pen with
    * vec_id tie-break — at λ = 0.5 the float λ-blend and the integer
    * difference rank identically, so no float compare exists in the
    * selection). Pairwise cosines use the same 4-dp rounding as the dense
    * leg.
    *
    * Scale shape: everything after the TakeOrdered top-20 cut runs on
    * bounded frames — the candidate×candidate join is 20×20 against a
    * broadcast list (the codebook-size exception, stated), the per-round
    * aggregates are ≤20 rows. The corpus is touched once by the dense
    * scan. */
  val simMmrRerank = sql(
    "sim_mmr_rerank", {
      val rounds = (2 to 5).map { k =>
        s"""rk$k AS (SELECT c.vec_id, c.ci, max(p.pij) AS pen
           |         FROM ci c
           |         JOIN pw p ON p.i = c.vec_id
           |         JOIN sel${k - 1} s ON p.j = s.vec_id
           |         WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
           |         GROUP BY c.vec_id, c.ci),
           |pick$k AS (SELECT vec_id, ci, pen, $k AS rnk FROM rk$k
           |           ORDER BY ci - pen DESC, vec_id LIMIT 1),
           |sel$k AS (SELECT vec_id FROM sel${k - 1}
           |          UNION ALL SELECT vec_id FROM pick$k)""".stripMargin
      }.mkString(",\n")
      val allPicks = (1 to 5).map(k => s"SELECT * FROM pick$k")
        .mkString("\n  UNION ALL ")
      s"""WITH $denseScoreSqlCte,
         |top AS (SELECT vec_id, cos FROM dscore ORDER BY cos DESC, vec_id LIMIT 20),
         |ci AS (SELECT vec_id, CAST(round(cos * 10000, 0) AS BIGINT) AS ci FROM top),
         |pe AS (SELECT c.vec_id, e.embedding,
         |              sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
         |       FROM ci c JOIN embeddings e USING (vec_id)),
         |pw AS (SELECT a.vec_id AS i, b.vec_id AS j,
         |              CAST(round(round(${dotSql("a.embedding", "b.embedding")}
         |                                / (a.nrm * b.nrm), 4) * 10000, 0) AS BIGINT) AS pij
         |       FROM pe a JOIN pe b ON a.vec_id <> b.vec_id),
         |pick1 AS (SELECT vec_id, ci, CAST(0 AS BIGINT) AS pen, 1 AS rnk
         |          FROM ci ORDER BY ci DESC, vec_id LIMIT 1),
         |sel1 AS (SELECT vec_id FROM pick1),
         |$rounds
         |SELECT CAST(rnk AS BIGINT) AS rnk, vec_id,
         |       round(ci / 10000.0, 4) AS cos,
         |       round(pen / 10000.0, 4) AS penalty,
         |       round((ci - pen) / 20000.0, 4) AS mmr
         |FROM ($allPicks)
         |ORDER BY rnk""".stripMargin
    }) { (s, d) =>
    val top = denseScores(s, d).orderBy(col("cos").desc, col("vec_id")).limit(20)
    val ci = top.select(col("vec_id"),
      round(col("cos") * 10000, 0).cast("long").as("ci")).cache()
    val pe = ci.join(Tables.embeddings(s, d), "vec_id")
      .select(col("vec_id"), col("embedding"),
        sqrt(dotCol("embedding", "embedding")).as("nrm"))
    val a = pe.select(col("vec_id").as("i"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = pe.select(col("vec_id").as("j"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    // 20x20 against a broadcast bounded list — the codebook-size exception
    val pw = a.crossJoin(broadcast(b)).filter(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        round(round(dotCol("ea", "eb") / (col("na") * col("nb")), 4) * 10000, 0)
          .cast("long").as("pij"))
      .cache()
    // each round's 1-row winner is read by EVERY later round's selected set
    // and by the final union — checkpoint it once (the per-round lineage
    // discipline; the frame is one row)
    val pick1 = ci.orderBy(col("ci").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), col("ci"), lit(0L).as("pen"), lit(1).as("rnk"))
      .localCheckpoint(true)
    var picks = Vector(pick1)
    var sel = pick1.select("vec_id")
    for (k <- 2 to 5) {
      val rk = ci.join(sel, Seq("vec_id"), "left_anti")
        .join(pw, col("vec_id") === col("i"))
        .join(broadcast(sel.select(col("vec_id").as("j"))), "j")
        .groupBy("vec_id", "ci").agg(max("pij").as("pen"))
      val pick = rk.orderBy((col("ci") - col("pen")).desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("ci"), col("pen"), lit(k).as("rnk"))
        .localCheckpoint(true)
      picks :+= pick
      sel = sel.unionAll(pick.select("vec_id"))
    }
    picks.reduce(_ unionAll _)
      .select(col("rnk").cast("long").as("rnk"), col("vec_id"),
        round(col("ci") / 10000.0, 4).as("cos"),
        round(col("pen") / 10000.0, 4).as("penalty"),
        round((col("ci") - col("pen")) / 20000.0, 4).as("mmr"))
      .orderBy("rnk")
  }

  /** MULTI-PROBE IVF top-k (nprobe = 3): search the union of the query's 3
    * nearest cells instead of 1 — the standard quality/cost lever of IVF at
    * scale (single-cell recall@10 is 0.3 on this corpus; see
    * `sim_ivf_recall` / `sim_ivf_recall_mp` for the measured lift). Still
    * touches only nprobe/k of the corpus; the probed-cell list is a tiny
    * broadcast, the top-k a TakeOrderedAndProject. */
  val simIvfTopkMp = sql(
    "sim_ivf_topk_mp",
    s"""WITH $ivfAssignSqlCte,
       |qr AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qcells AS (SELECT label AS cell FROM ranked WHERE vec_id = 0 AND rn <= 3)
       |SELECT e.vec_id,
       |       round(${dotSql("e.embedding", "qv")}
       |             / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |FROM embeddings e
       |JOIN assign a ON a.vec_id = e.vec_id
       |JOIN qcells qc ON a.cell = qc.cell
       |CROSS JOIN qr
       |WHERE e.vec_id <> 0
       |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val assign = ivfAssignDf(s, d)
    val qcells = ivfQueryCells(s, d, nProbe = 3)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    emb.filter(col("vec_id") =!= 0)
      .join(assign, "vec_id")
      .join(broadcast(qcells), "cell") // 3-row probed-cell filter
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dotCol("embedding", "qv")
          / (sqrt(dotCol("embedding", "embedding")) * sqrt(dotCol("qv", "qv"))), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** Recall@10 of the 3-cell multi-probe vs brute force — paired with
    * `sim_ivf_recall` this measures exactly what raising nprobe buys. */
  val simIvfRecallMp = sql(
    "sim_ivf_recall_mp",
    s"""WITH $ivfAssignSqlCte,
       |qr AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qcells AS (SELECT label AS cell FROM ranked WHERE vec_id = 0 AND rn <= 3),
       |bf AS (SELECT vec_id,
       |              round(${dotSql("embedding", "qv")}
       |                    / (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |       FROM embeddings, qr
       |       WHERE vec_id <> 0
       |       ORDER BY cos DESC, vec_id LIMIT 10),
       |ivf AS (SELECT e.vec_id,
       |               round(${dotSql("e.embedding", "qv")}
       |                     / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |        FROM embeddings e
       |        JOIN assign a ON a.vec_id = e.vec_id
       |        JOIN qcells qc ON a.cell = qc.cell
       |        CROSS JOIN qr
       |        WHERE e.vec_id <> 0
       |        ORDER BY cos DESC, e.vec_id LIMIT 10)
       |SELECT 10 AS k, 3 AS n_probe, count(*) AS n_probe_hits,
       |       round(count(*) / 10.0, 4) AS recall
       |FROM bf JOIN ivf USING (vec_id)""".stripMargin) { (s, d) =>
    val bf = simTopK.fn(s, d).select(col("vec_id"))
    val ivf = simIvfTopkMp.fn(s, d).select(col("vec_id"))
    bf.join(ivf, "vec_id")
      .agg(count(lit(1)).as("n_probe_hits"))
      .select(lit(10).as("k"), lit(3).as("n_probe"), col("n_probe_hits"),
        round(col("n_probe_hits") / 10.0, 4).as("recall"))
  }

  /** ANN quality measurement: recall@10 of the IVF probe against the
    * brute-force ground truth — the number that justifies probe-vs-scan at
    * 100 TB (a probe that touches 1/k of the corpus is only a win if its
    * recall holds). Both sides are deterministic (bit-identical cosines,
    * rounded 4 dp, unique vec_id tie-break), so the intersection is
    * oracle-checkable exactly. Cost: two TakeOrdered top-10s + a 10-row
    * join — the measurement never scans more than the queries it grades. */
  val simIvfRecall = sql(
    "sim_ivf_recall",
    s"""WITH $ivfAssignSqlCte,
       |qr AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qcell AS (SELECT cell FROM assign WHERE vec_id = 0),
       |bf AS (SELECT vec_id,
       |              round(${dotSql("embedding", "qv")}
       |                    / (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |       FROM embeddings, qr
       |       WHERE vec_id <> 0
       |       ORDER BY cos DESC, vec_id LIMIT 10),
       |ivf AS (SELECT e.vec_id,
       |               round(${dotSql("e.embedding", "qv")}
       |                     / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |        FROM embeddings e
       |        JOIN assign a ON a.vec_id = e.vec_id
       |        JOIN qcell ON a.cell = qcell.cell
       |        CROSS JOIN qr
       |        WHERE e.vec_id <> 0
       |        ORDER BY cos DESC, e.vec_id LIMIT 10)
       |SELECT 10 AS k, count(*) AS n_probe_hits,
       |       round(count(*) / 10.0, 4) AS recall
       |FROM bf JOIN ivf USING (vec_id)""".stripMargin) { (s, d) =>
    val bf = simTopK.fn(s, d).select(col("vec_id"))
    val ivf = simIvfTopk.fn(s, d).select(col("vec_id"))
    bf.join(ivf, "vec_id")
      .agg(count(lit(1)).as("n_probe_hits"))
      .select(lit(10).as("k"), col("n_probe_hits"),
        round(col("n_probe_hits") / 10.0, 4).as("recall"))
  }

  /** Near-dup cosine cutoff — single source for the pair query, its CTE,
    * and (via `simNearDup.fn`) the multi-signal cluster edges. */
  private[graft] val CosineNearDupThreshold = 0.35

  /** The deployable ANN corpus index: every corpus vector with its IVF
    * cell and norm — what a 100 TB deployment materializes once (parquet,
    * cell-partitioned) and every shard-ingest gate joins
    * ([[graft.streaming.Jobs.annGate]]). */
  private[graft] def ivfIndex(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.embeddings(s, d).join(ivfAssignDf(s, d), "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"),
        sqrt(dotCol("embedding", "embedding")).as("nrm"))

  /** Freeze the IVF codebook for plan-literal embedding: (labels, centroid
    * vectors), label-ascending so first-minimum argmin reproduces the
    * batch `min(struct(dist, clabel))` tie-break. k rows — this collect is
    * the MODEL, not the corpus. */
  private[graft] def frozenCodebook(s: org.apache.spark.sql.SparkSession,
      d: String): (Array[Int], Array[Array[Double]]) = {
    val rows = ivfCodebook(s, d).orderBy("clabel").collect()
    (rows.map(_.getInt(0)), rows.map(_.getSeq[Double](1).toArray))
  }

  /** CTE `cos_pairs(da, db, cosv)` — the embedding-cosine near-dup edge
    * set, the ONE definition of the label-block join + threshold (used by
    * `simNearDup`'s own oracle and by the multi-signal dedup cluster
    * oracle in TextOps — they cannot drift apart). */
  private[operators] val cosinePairsSqlCte: String =
    s"""cn AS (SELECT vec_id, label, embedding,
       |              sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |       FROM embeddings),
       |cos_pairs AS (SELECT a.vec_id AS da, b.vec_id AS db,
       |                     ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosv
       |              FROM cn a JOIN cn b
       |                ON a.label = b.label AND a.vec_id < b.vec_id
       |              WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $CosineNearDupThreshold)""".stripMargin

  /** Embedding-cosine near-dup pairs, bucket-bounded: candidate pairs only
    * within the same label cell (the IVF bucket). This is the
    * within-bucket block join — linear in Σ bucket², not corpus². */
  val simNearDup = sql(
    "sim_neardup_pairs",
    s"""WITH $cosinePairsSqlCte
       |SELECT da, db, round(cosv, 4) AS cos
       |FROM cos_pairs ORDER BY da, db""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val n = emb.select(col("vec_id"), col("label"), col("embedding"),
      sqrt(dotCol("embedding", "embedding")).as("nrm"))
    val a = n.select(col("vec_id").as("da"), col("label"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("db"), col("label"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val cos = dotCol("ea", "eb") / (col("na") * col("nb"))
    a.join(b, Seq("label")).filter(col("da") < col("db"))
      .filter(cos >= CosineNearDupThreshold)
      .select(col("da"), col("db"), round(cos, 4).as("cos"))
      .orderBy("da", "db")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC dedup over
    * embeddings: within each cluster (the label cell, standing in for the
    * paper's k-means cluster), evict every vector that has a SMALLER-id
    * neighbor at cosine ≥ the near-dup threshold, keeping exactly one
    * representative per tight semantic group. This is the embedding-space
    * counterpart of `dedup_clusters`' keep flag: MinHash catches lexical
    * copies, SemDeDup catches paraphrases and re-encodings that share no
    * n-grams. Emits the verdict per vector plus the evicting cosine
    * (NULL ⇔ kept), so the eviction is auditable.
    *
    * Determinism: the eviction rule is id-ordered (smaller id wins), not
    * similarity-ordered, so the output is independent of execution order;
    * cosines are the bit-identical fold both engines share, the threshold
    * compares UNROUNDED values identically, and the reported cosine
    * rounds 4 dp only at the edge.
    *
    * Scale shape: identical to `sim_neardup_pairs` — the candidate join is
    * block-diagonal within cells (Σ cell², never corpus²), the eviction
    * max is one partial-aggregable groupBy on the larger pair-id, and the
    * verdict join is per-vector. At 100 TB the cells come from a trained
    * k-means codebook and cell size is capped exactly like the LSH band
    * buckets. */
  val semDedup = sql(
    "sem_dedup",
    s"""WITH $cosinePairsSqlCte,
       |mx AS (SELECT db AS vec_id, max(cosv) AS mxc
       |       FROM cos_pairs GROUP BY db)
       |SELECT e.vec_id, e.label AS cell,
       |       mx.mxc IS NULL AS keep,
       |       round(mx.mxc, 4) AS evict_cos
       |FROM embeddings e LEFT JOIN mx ON mx.vec_id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val n = emb.select(col("vec_id"), col("label"), col("embedding"),
      sqrt(dotCol("embedding", "embedding")).as("nrm"))
    val a = n.select(col("vec_id").as("da"), col("label"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("db"), col("label"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val cos = dotCol("ea", "eb") / (col("na") * col("nb"))
    val mx = a.join(b, Seq("label")).filter(col("da") < col("db"))
      .filter(cos >= CosineNearDupThreshold)
      .groupBy(col("db").as("vec_id")).agg(max(cos).as("mxc"))
    emb.select(col("vec_id"), col("label").as("cell"))
      .join(mx, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("mxc").isNull.as("keep"),
        round(col("mxc"), 4).as("evict_cos"))
      .orderBy("vec_id")
  }

  /** Bounded-block cap for the kNN candidate join: a cell with more
    * members than this sub-shards into s = ⌈size/cap⌉ GEOMETRIC SLABS —
    * members ranked by their projection onto a fixed direction (the
    * first embedding component; raw float, identical ordering on both
    * engines, vec_id tie-break), slab = ⌊(rank−1)·s/size⌋ — and each
    * vector's candidates are its own slab plus the ADJACENT slabs: a
    * ±min(s−1, 3) multi-probe (round 12 — provably exact through s = 4,
    * ±3 beyond; round 11's ±2 cap existed only to protect the
    * since-removed rank-window sort), via an offset explode so the join
    * stays equi-key. With a fixed codebook, cell sizes grow linearly with the
    * corpus and the within-cell block join grows QUADRATICALLY — the
    * scale-probe measured graph_triangles' ×8→×32 segment at slope ~1.9
    * before this cap (BENCH_SCALE.json). Slab sharding bounds every
    * block at 7·cap² work, restoring linear total cost, and — unlike the
    * round-9 `vec_id % s` split, whose recall collapsed to the 1/s floor
    * it predicts (measured 0.16 at ×32) — keeps near neighbors
    * co-candidate: |proj(a) − proj(b)| ≤ ‖a−b‖ for any unit direction,
    * so close neighbors have close slab ranks and stay co-candidate
    * unless the slab population is thinner than the neighbor distance
    * (amplified ×32, s≈7: recall@3 = 191979/192000 = 0.99989 vs
    * modulo's 0.161 — BENCH_SCALE.json). A deployment with a trained
    * PCA would plug PC1 in as the direction (`emb_pca_power` computes
    * it); any fixed
    * direction carries the same Lipschitz bound. The balanced-rank split
    * keeps the ⌈size/s⌉ ≤ cap hard bound exactly. The cap sits far above
    * every driver-testdata cell size, so oracle results are
    * cap-invariant there; SimilaritySpec forces a low cap to prove the
    * sharded path's structure, and `sim_knn_shard_recall` prices the
    * residual trade. */
  private[graft] val CellShardCap = 1024L

  /** One within-cell top-k ranking CTE chain ending in `rk<sfx>(src, dst,
    * cos, rn)` — cap-parameterized so the shard-recall certificate can
    * instantiate a forced-low-cap chain and an effectively-uncapped chain
    * side by side in one WITH (suffix keeps the CTE names disjoint), and
    * table-parameterized so the int8 composition certificate can run the
    * same chain over the quantization codes.
    *
    * ADAPTIVE PROBE WIDTH (round 12 ladder): w(s) = min(s − 1, 3) — ±w
    * reaches every slab of a (w+1)-way split, so the sharded frame is
    * provably EXACT through s = 4, lifting the forced-cap organic
    * certificate (s≈7, ±3 live) to 0.8307 from round 11's 0.6967 at ±2
    * and round 10's 0.50 at fixed ±1, with the block bound ≤ 7·cap².
    * Round 11 REJECTED w = 3 because its (2w+1)/5-larger candidate list
    * pushed the rank window's map-side full-list sort past the ×32
    * shuffle-spill knee (graph_pagerank exponent 1.051) — but that sort
    * was then removed (CollectTopK / single-aggregate consumers), and
    * the round-12 re-priced ladder measured w = 3 sub-linear through
    * ×64 (BENCH_DEV_r12_probe_width.json); PC1-direction slabs buy
    * ~0.02-0.03 at every width but cost a power-iteration sub-chain in
    * every rk-consumer oracle (rejected in round 10, re-confirmed).
    * The offset list stays a static 7-row VALUES and the width
    * condition is a per-row predicate on the a-side's s, so the join
    * stays equi-key and a pair still matches at most once (its slab
    * delta picks the unique offset).
    * NULLS FIRST pins DuckDB's slab ordering to Spark's ascending
    * null-ordering default — a null/short embedding would otherwise
    * silently diverge slab assignment between engines. */
  private def knnRankedSqlCteFor(cap: Long, sfx: String,
      table: String = "embeddings"): String =
    s"""ksz$sfx AS (SELECT cell, count(*) AS cnt,
       |               (count(*) + ${cap - 1}) // $cap AS s
       |        FROM assign GROUP BY cell),
       |emb2$sfx AS (SELECT e.vec_id, e.embedding, a.cell, z.s,
       |                ((CAST(row_number() OVER (PARTITION BY a.cell ORDER BY e.embedding[1] NULLS FIRST, e.vec_id) AS BIGINT) - 1) * z.s) // z.cnt AS shard,
       |                sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
       |         FROM $table e JOIN assign a USING (vec_id)
       |         JOIN ksz$sfx z USING (cell)),
       |pr$sfx AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |              round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4) AS cos
       |       FROM emb2$sfx a
       |       CROSS JOIN (VALUES (-3), (-2), (-1), (0), (1), (2), (3)) AS po$sfx(o)
       |       JOIN emb2$sfx b ON a.cell = b.cell AND b.shard = a.shard + po$sfx.o
       |        AND a.vec_id <> b.vec_id
       |       WHERE abs(po$sfx.o) <= least(a.s - 1, 3)),
       |rk$sfx AS (SELECT src, dst, cos,
       |              CAST(row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS BIGINT) AS rn
       |       FROM pr$sfx)""".stripMargin

  /** SQL CTE chain ending in `rk(src, dst, cos, rn)` — the within-cell
    * top-k cosine ranking shared by `sim_knn_graph` (which emits it) and
    * `graph_pagerank` (which walks it as an edge list). Candidates join
    * on (cell, adjacent radial slab — ±min(s−1, 3)); s = 1
    * (single slab, exact within-cell kNN — only offset 0 matches)
    * whenever the cell is within [[CellShardCap]]. */
  private val knnRankedSqlCte: String =
    s"""$ivfAssignSqlCte,
       |${knnRankedSqlCteFor(CellShardCap, "")}""".stripMargin

  /** Spark side of `rk`: (src, dst, cos, rn), unfiltered. `cap` defaults
    * to [[CellShardCap]]; SimilaritySpec lowers it to prove the sharded
    * path's structure on the real corpus.
    *
    * Plan choice (round-10: the sharding machinery must not tax the
    * common case): ONE scalar probe — max cell size, a k-row aggregate,
    * the standard statistics pass before a physical-plan decision, never
    * corpus data — picks between
    *  - FAST PATH, every cell ≤ cap: s = 1 and shard = 0 everywhere, so
    *    the (cell, shard) join degenerates to a join on cell alone and
    *    the cell-size join + shard column are dropped from the plan
    *    entirely (they cost the three rk-chain consumers ~0.6 s flat at
    *    sf0.1 while buying nothing);
    *  - SHARDED PATH, any cell > cap: the (cell, adjacent radial slab)
    *    candidate join that bounds every block at (2w+1)·cap² work,
    *    w = min(s−1, 3) (exact through s = 4; see [[CellShardCap]])
    *    while keeping near neighbors co-candidate. The a-side
    *    explodes into 2w+1 probe rows so the join stays equi-key — a pair
    *    matches at most once (its slab delta picks the unique offset).
    * Both paths produce bit-identical frames when every cell ≤ cap (slab
    * is constant 0 there and only offset 0 matches), so the shared
    * oracle SQL — whose `ksz` CTE computes s = 1 in that regime —
    * covers whichever path runs. */
  private[graft] def knnRankedDf(s: org.apache.spark.sql.SparkSession,
      d: String, cap: Long = CellShardCap,
      sharedAssign: Option[org.apache.spark.sql.DataFrame] = None,
      embSource: Option[org.apache.spark.sql.DataFrame] = None,
      topK: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `embSource` swaps the (vec_id, embedding) frame the chain ranks —
    // the int8 composition certificate passes the quantization codes so
    // sharding loss and quantization loss are priced JOINTLY; cell
    // assignment (`assign`) always comes from the float corpus.
    //
    // `topK = Some(k)` (round 11): the consumer only reads rn ≤ k, so
    // the per-src ranking runs as a BOUNDED-HEAP AGGREGATE
    // (CollectTopK: partial state ≤k rows per src, ObjectHashAggregate,
    // map-side combine on the join's (cell[,slab]) partitioning) instead
    // of the rank window — whose WindowGroupLimit still SORTS the full
    // candidate pair list map-side before pruning, the measured
    // shuffle-spill knee of the ×32 amplified runs (the full list is
    // Σ(2w+1)·cap·cell rows; the aggregate never materializes or sorts
    // it, and the shuffle carries k rows per src instead). Emitted
    // (src, dst, cos, rn ≤ k) is bit-identical to the window path
    // filtered to rn ≤ k: the heap orders by the same 4-dp-rounded
    // (cos desc, dst asc) key (negated rounded cos is exact), and
    // SimilaritySpec pins the equality on both the fast and sharded
    // paths. `None` keeps the full ranked frame (consumers that read
    // unbounded ranks; since round 12 no registered query does —
    // sim_hard_negatives aggregates [[knnScoredDf]] directly).
    val scored = knnScoredDf(s, d, cap, sharedAssign, embSource)
    topK match {
      case Some(k) =>
        // heap key: ascending (−cos, dst) ≡ (cos desc, dst asc);
        // reverse = true keeps the k smallest and emits them ascending,
        // so array position IS the rank (`lit(0.0) - cos`, not unary
        // minus, so a −0.0 key can never order differently than the
        // window sort it replaced — the file-wide normalization rule)
        val key = struct((lit(0.0) - col("cos")).as("nc"), col("dst").as("dst"),
          col("cos").as("cos"))
        scored.groupBy("src")
          .agg(org.apache.spark.sql.GraftSqlBridge
            .collectTopK(key, k, reverse = true).as("tk"))
          .select(col("src"), posexplode(col("tk")))
          .select(col("src"), col("col.dst").as("dst"),
            col("col.cos").as("cos"), (col("pos") + 1).cast("long").as("rn"))
      case None =>
        val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
        scored.withColumn("rn", row_number().over(w).cast("long"))
    }
  }

  /** The UNRANKED scored candidate pairs `(src, dst, cos)` behind
    * [[knnRankedDf]] — same fast/sharded plan choice, no per-src ranking.
    * Consumers whose per-src answer is a bounded AGGREGATE of the
    * candidate list (a count, an arg-max — `sim_hard_negatives`) read
    * this directly and skip both the rank window and the top-k heap:
    * their state is then O(1) per src and the shuffle after the candidate
    * join carries partial aggregates, never the full pair list. */
  private[graft] def knnScoredDf(s: org.apache.spark.sql.SparkSession,
      d: String, cap: Long = CellShardCap,
      sharedAssign: Option[org.apache.spark.sql.DataFrame] = None,
      embSource: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `embSource` swaps the (vec_id, embedding) frame the chain scores —
    // the int8 composition certificate passes the quantization codes so
    // sharding loss and quantization loss are priced JOINTLY; cell
    // assignment (`assign`) always comes from the float corpus.
    def embs = embSource.getOrElse(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
    // assign is MATERIALIZED once (localCheckpoint, the ivfIndex/annGate
    // discipline): it feeds the scalar plan-choice probe, the cell-size
    // aggregate, and the candidate join — without the checkpoint each
    // consumer would recompute the codebook fit + assignment from scratch
    // (the probe alone made the r10 fast path a net LOSS in the A/B until
    // this landed). Linear state: one (vec_id, cell) row per vector.
    // `sharedAssign` lets a caller that builds TWO chains over the same
    // corpus (the shard-recall certificate and ScaleProbe's recall probe:
    // exact + sharded) pay the codebook fit + checkpoint once.
    val assign = sharedAssign.getOrElse(ivfAssignDf(s, d).localCheckpoint())
    val maxCellRow = assign.groupBy("cell").agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).first()
    val maxCell = if (maxCellRow.isNullAt(0)) 0L else maxCellRow.getLong(0)
    def score(joined: org.apache.spark.sql.DataFrame) =
      joined.filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          round(dotCol("ea", "eb") / (col("na") * col("nb")), 4).as("cos"))
    if (maxCell <= cap) {
      val withCell = embs
        .join(assign, "vec_id")
        .select(col("vec_id"), col("cell"), col("embedding"),
          sqrt(dotCol("embedding", "embedding")).as("nrm"))
      val a = withCell.select(col("cell"), col("vec_id").as("src"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val b = withCell.select(col("cell"), col("vec_id").as("dst"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      score(a.join(b, Seq("cell")))
    } else {
      val sizes = assign.groupBy("cell")
        .agg(count(lit(1)).as("cnt"))
        .select(col("cell"), col("cnt"),
          expr(s"(cnt + ${cap - 1}) div $cap").as("s"))
      // geometric slab: rank within the cell by the projection onto a
      // fixed direction — the first embedding component (raw float, so the
      // two engines order identical values; vec_id tie-break) — then the
      // balanced split ⌊(rank−1)·s/cnt⌋: slab sizes are ⌈cnt/s⌉ or
      // ⌊cnt/s⌋, so the ≤ cap hard bound is exact.
      val slabW = Window.partitionBy("cell")
        .orderBy(element_at(col("embedding"), 1), col("vec_id"))
      // materialized (same assign discipline): the a/b self-join below
      // would otherwise duplicate this subtree and run the per-cell slab
      // window — a shuffle + sort over every overflowing cell — twice
      // per consumer. Linear state: one slabbed row per vector.
      val withCell = embs.join(assign, "vec_id")
        .join(sizes, "cell")
        .withColumn("rnc", row_number().over(slabW).cast("long"))
        .select(col("vec_id"), col("cell"), col("s"),
          expr("((rnc - 1) * s) div cnt").as("shard"),
          col("embedding"), sqrt(dotCol("embedding", "embedding")).as("nrm"))
        .localCheckpoint()
      // adaptive probe width (round 12 ladder, mirrors the oracle CTE):
      // w(s) = min(s − 1, 3) — ±w reaches every slab of an (w+1)-way
      // split, so the sharded frame is provably EXACT through s = 4 and
      // probes ±3 beyond. Round 11 had capped the ladder at ±2 because
      // w = 3's larger candidate list pushed the rank window's map-side
      // full-list sort past the ×32 shuffle-spill knee — that sort no
      // longer exists (CollectTopK for the rn≤3 consumers, one hash
      // aggregate for sim_hard_negatives), and the re-priced ladder
      // measured w = 3 sub-linear (BENCH_DEV_r12_probe_width.json).
      // Per-row width via explode-then-filter keeps the equi-join shape;
      // a pair still matches at most once (its slab delta picks the
      // unique offset).
      def offs(w: Int) = array((-w to w).map(o => lit(o.toLong)): _*)
      val a = withCell.select(col("cell"), col("shard"), col("s"),
        col("vec_id").as("src"),
        col("embedding").as("ea"), col("nrm").as("na"))
        .withColumn("o", explode(offs(3)))
        .filter(abs(col("o")) <= least(col("s") - 1, lit(3L)))
        .select(col("cell"), (col("shard") + col("o")).as("pshard"),
          col("src"), col("ea"), col("na"))
      val b = withCell.select(col("cell"), col("shard").as("pshard"),
        col("vec_id").as("dst"), col("embedding").as("eb"), col("nrm").as("nb"))
      score(a.join(b, Seq("cell", "pshard")))
    }
  }

  /** k-NN GRAPH over the IVF cells: every vector's top-3 cosine neighbors
    * WITHIN its assigned cell — the building block of graph-based semantic
    * dedup and of IVF/HNSW-style index construction. Scale shape: the
    * candidate join is the within-cell block join (Σ cell², never corpus²),
    * ranking is a window partitioned by the source vector (one shuffle on
    * src, no global sort). Ranking happens on the 4-dp-rounded cosine with
    * a dst tie-break so both engines rank bit-identical values. */
  val simKnnGraph = sql(
    "sim_knn_graph",
    s"""WITH $knnRankedSqlCte
       |SELECT src, dst, cos, rn FROM rk WHERE rn <= 3
       |ORDER BY src, dst""".stripMargin) { (s, d) =>
    knnRankedDf(s, d, topK = Some(3)).orderBy("src", "dst")
  }

  /** Forced-low cap for the shard-recall certificate: driver cells run
    * ~50 vectors, so cap 8 shards every cell into s≈7 sub-shards — the
    * s>1 regime the production cap only enters at amplified scale. */
  private[graft] val ShardRecallCap = 8L
  /** "Uncapped" side of the certificate: far above any conceivable cell
    * size, so s = 1 everywhere and the chain is the exact within-cell
    * kNN. */
  private val NoShardCap = 1000000000L

  /** The exact FLOAT within-cell top-3 — the shard-recall certificates' ground
    * truth — as a shared snapshot ([[graft.core.Snapshots]]):
    * `sim_knn_shard_recall` and `sim_int8_shard_recall` grade against the SAME
    * uncapped exact frame, so the family pays the deliberately-quadratic
    * ground truth ONCE per run instead of once per certificate. Execution-only
    * sharing: both SQL oracles are unchanged and the driver's hash compare is
    * the bit-identity proof (the ranking is deterministic — 4-dp-rounded cos,
    * dst tie-break — so the frame is identical whichever certificate builds it,
    * and [[ivfAssignDf]] is a frozen-codebook deterministic assignment). */
  private def sharedExactKnnTop3(s: org.apache.spark.sql.SparkSession,
      d: String, assign: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    Snapshots.parquet(s, d, "knn-exact-top3")(
      knnRankedDf(s, d, cap = NoShardCap, sharedAssign = Some(assign),
          topK = Some(3))
        .select("src", "dst").repartition(col("src")))

  /** SUB-SHARD RECALL CERTIFICATE (round-9 VERDICT #1 — the one scale
    * trade that was asserted, not measured): above [[CellShardCap]] a
    * vector's true within-cell nearest neighbor can sit in a sibling
    * sub-shard and is silently not a candidate. This prices that trade
    * the same way `dedup_minhash_recall` prices the LSH band-bucket
    * trade: pair-level recall@3 of the SHARDED within-cell kNN versus the
    * UNSHARDED exact within-cell kNN, on the driver corpus with the cap
    * forced to [[ShardRecallCap]] so every cell genuinely splits (s≈7 —
    * the s>1 regime). `n_exact` counts the exact top-3 pairs, `n_hit`
    * those the sharded chain retains; both sides rank the 4-dp-rounded
    * cosine with dst tie-break, so the sets are bit-identical across
    * engines and recall is exact integer arithmetic until the final
    * division.
    *
    * READING THE NUMBER: geometric slab sharding (see [[CellShardCap]])
    * keeps a neighbor co-candidate whenever its slab is within the
    * adaptive probe width w(s) of the source's. This forced-cap run is
    * the deliberately HARD case — s≈7 slabs of ~7 organic vectors, so
    * slab width (~7 rows) is thinner than typical organic neighbor
    * distances: measured 1246/1500 = 0.8307 with the round-12
    * w(s) = min(s−1, 3) ladder (±3 live at s≈7), up from 0.6967 at
    * round 11's ±2 cap, 0.50 at the round-10 fixed ±1, and
    * 0.146 ≈ 1/s for the round-9 modulo split on the same data. ±3 had
    * been rejected in round 11 on the rank window's ×32 sort knee; the
    * knee's removal re-opened it (re-priced ladder:
    * BENCH_DEV_r12_probe_width.json). The number that reflects
    * production (near-dup-heavy corpora overflowing a real 1024-cap,
    * where neighbors ARE close on any fixed direction) is the amplified
    * twin at the REAL cap (ScaleProbe's shard-recall probe,
    * BENCH_SCALE.json): recall@3 = 1.0 at ×8 (s=2 — ±1 covers both
    * slabs by construction) and
    * ~1.0 at ×32 (s≈7, ±3 live). The operational conclusion stands in both regimes:
    * sub-sharding is the SAFETY VALVE that keeps the plan linear when
    * cells overflow the cap — at production scale the codebook should
    * still grow with the corpus (k ∝ n/cap) so s stays 1 — but with
    * slab+probe the valve now degrades like an ANN index (sub-unit
    * recall concentrated on genuinely-far pairs) instead of collapsing
    * to 1/s, and this certificate is the alarm that fires if either the
    * sizing discipline or the slab coordinate's usefulness slips. */
  val simKnnShardRecall = sql(
    "sim_knn_shard_recall",
    s"""WITH $ivfAssignSqlCte,
       |${knnRankedSqlCteFor(ShardRecallCap, "_s")},
       |${knnRankedSqlCteFor(NoShardCap, "_x")},
       |top_s AS (SELECT src, dst FROM rk_s WHERE rn <= 3),
       |top_x AS (SELECT src, dst FROM rk_x WHERE rn <= 3),
       |hit AS (SELECT count(*) AS n_hit
       |        FROM top_s JOIN top_x USING (src, dst)),
       |tot AS (SELECT count(*) AS n_exact FROM top_x)
       |SELECT n_exact, n_hit,
       |       round(CAST(n_hit AS DOUBLE) / n_exact, 4) AS recall_at3
       |FROM tot, hit""".stripMargin) { (s, d) =>
    val assign = ivfAssignDf(s, d).localCheckpoint()
    // the exact top-3 frame feeds BOTH the n_exact count and the hit
    // join — and the OTHER shard-recall certificate grades against the
    // same frame, so it is shared index state (one build per
    // application+corpus, parquet snapshot; see [[sharedExactKnnTop3]])
    val exact = sharedExactKnnTop3(s, d, assign)
    val sharded = knnRankedDf(s, d, cap = ShardRecallCap, sharedAssign = Some(assign),
        topK = Some(3))
      .select("src", "dst")
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    val hit = exact.join(sharded, Seq("src", "dst"))
      .agg(count(lit(1)).as("n_hit"))
    tot.crossJoin(hit).select(col("n_exact"), col("n_hit"),
      round(col("n_hit").cast("double") / col("n_exact"), 4).as("recall_at3"))
  }

  /** HARD-NEGATIVE MINING — the contrastive-training composition over the
    * shared within-cell ranking (`rk`, the same CTE `sim_knn_graph` and
    * `graph_pagerank` consume): per vector, the single most similar
    * neighbor that is NOT an embedding near-duplicate (cosine below the
    * `sim_neardup_pairs` threshold) — semantically close enough to be a
    * hard negative, far enough to not be a positive — plus the count of
    * too-close candidates the miner had to skip (those are the
    * positives/duplicates a contrastive batch must NOT sample as
    * negatives). A vector whose whole cell is near-duplicates (or that is
    * alone in its cell) emits NULLs rather than vanishing — the honest
    * "no negative available here" signal a batch builder needs.
    *
    * Scale shape (round 12 — the last full-candidate-list rank window in
    * the rk family, restructured): the oracle CTE phrases the miner as
    * "first-by-rank among cos < thr", but rank order within that filter
    * IS (cos desc, dst asc) — so the answer per src is one conditional
    * COUNT plus one conditional ARG-MAX, i.e. ONE hash aggregate over
    * [[knnScoredDf]] with O(1) state per src (`min(struct(-cos, dst))`
    * picks the identical row the window's hrn = 1 picked). No rank
    * window, no top-k heap: the shuffle after the candidate join carries
    * partial aggregates (2 tiny values per src per map partition), never
    * the Σ(2w+1)·cap·cell pair list the window map-side sorted — the
    * 130 s ×32 steady-state knee the round-11 RkCostProbe (since deleted;
    * its data is in BENCH_DEV_r11_probe_width.json) measured.
    * Arg-max key is the 4-dp-rounded cosine with dst tie-break (`-cos`
    * normalized `0.0 - cos` so a rounded −0.0 can't order against +0.0
    * differently than the window's sort did), so both engines pick
    * bit-identical negatives. */
  val simHardNegatives = sql(
    "sim_hard_negatives",
    s"""WITH $knnRankedSqlCte,
       |hn AS (SELECT src, dst, cos,
       |              row_number() OVER (PARTITION BY src ORDER BY rn) AS hrn
       |       FROM rk WHERE cos < $CosineNearDupThreshold),
       |pos AS (SELECT src, count(*) AS n_pos FROM rk
       |        WHERE cos >= $CosineNearDupThreshold GROUP BY src)
       |SELECT e.vec_id AS src,
       |       CAST(coalesce(p.n_pos, 0) AS BIGINT) AS n_positives,
       |       h.dst AS hard_neg, h.cos AS hard_neg_cos
       |FROM embeddings e
       |LEFT JOIN (SELECT src, dst, cos FROM hn WHERE hrn = 1) h
       |  ON h.src = e.vec_id
       |LEFT JOIN pos p ON p.src = e.vec_id
       |ORDER BY src""".stripMargin) { (s, d) =>
    // ONE aggregate over the unranked candidate pairs: conditional count
    // of positives + conditional arg-max hard negative (min over the
    // ascending (0.0 - cos, dst) struct ≡ the window's cos desc, dst asc;
    // `min` skips the NULLs the `when` leaves on positive rows)
    val best = struct((lit(0.0) - col("cos")).as("nc"), col("dst").as("dst"),
      col("cos").as("cos"))
    val agg = knnScoredDf(s, d).groupBy("src").agg(
      sum(when(col("cos") >= CosineNearDupThreshold, 1L).otherwise(0L))
        .as("n_pos"),
      min(when(col("cos") < CosineNearDupThreshold, best)).as("bst"))
    Tables.embeddings(s, d).select(col("vec_id").as("src"))
      .join(agg, Seq("src"), "left")
      .select(col("src"), coalesce(col("n_pos"), lit(0L)).as("n_positives"),
        col("bst.dst").as("hard_neg"), col("bst.cos").as("hard_neg_cos"))
      .orderBy("src")
  }

  /** MARGIN-BASED PAIR MINING — Artetxe & Schwenk's ratio-margin criterion
    * (ACL'19), the CCMatrix/NLLB recipe for mining aligned pairs (bitext,
    * near-duplicate captions, query-doc alignments) from two corpus sides:
    * raw cosine over-selects HUB vectors that are everyone's nearest
    * neighbor, so each candidate is scored by
    * `margin(x,y) = cos(x,y) / ((avgK_fwd(x) + avgK_bwd(y)) / 2)` — how
    * much MORE similar the pair is than each side's typical best match —
    * and only each source's best-by-margin partner with margin ≥ 1.05 is
    * emitted, flagged `mutual` when the two sides choose each other.
    *
    * Sides here are the even/odd `vec_id` shards (the demo stand-in for
    * corpus A/B); candidates are CROSS-SIDE pairs within an IVF cell with
    * POSITIVE cosine (negative-cosine candidates are not alignment
    * candidates and would break the ratio's sign).
    *
    * EXACT ARITHMETIC: the 4-dp cosine is lifted to integer
    * ten-thousandths, so top-4 fwd/bwd sums are exact BIGINTs, the margin
    * is ONE float division of two exact integers
    * (`2·cos·cf·cb / (fsum·cb + bsum·cf)` — identical IEEE op both
    * engines), and the 1.05 threshold is the cross-multiplied integer
    * predicate `200·cos·cf·cb ≥ 105·(fsum·cb + bsum·cf)` — no float
    * compare anywhere.
    *
    * Scale shape (round 12): the candidate join IS [[knnScoredDf]] with
    * a parity filter — so it inherits the slab-sharding safety valve
    * (blocks ≤ 7·cap² even when a cell overflows; this was the last
    * within-cell block join without the cap), the s=1 fast path, and
    * the materialized assignment. At 100 TB this is exactly the
    * FAISS-sharded mining loop, one shard pair per cell. fwd/bwd top-4
    * sums run as bounded-heap `CollectTopK` aggregates (≤4 longs of
    * state per side key) and the rs=1/rd=1 selections as per-key
    * arg-max aggregates — no window ever sorts the full pair list. No
    * broadcast beyond the codebook, no global sort. */
  val simMarginMine = sql(
    "sim_margin_mine",
    s"""WITH $ivfAssignSqlCte,
       |${knnRankedSqlCteFor(CellShardCap, "mm")},
       |xpp AS (SELECT src, dst,
       |               CAST(round(cos * 10000, 0) AS BIGINT) AS ci
       |        FROM prmm
       |        WHERE src % 2 = 0 AND dst % 2 = 1
       |          AND CAST(round(cos * 10000, 0) AS BIGINT) > 0),
       |fwd AS (SELECT src, sum(ci) AS fsum, count(*) AS fcnt FROM (
       |          SELECT src, ci, row_number() OVER (PARTITION BY src
       |                            ORDER BY ci DESC, dst) AS rn FROM xpp)
       |        WHERE rn <= 4 GROUP BY src),
       |bwd AS (SELECT dst, sum(ci) AS bsum, count(*) AS bcnt FROM (
       |          SELECT dst, ci, row_number() OVER (PARTITION BY dst
       |                            ORDER BY ci DESC, src) AS rn FROM xpp)
       |        WHERE rn <= 4 GROUP BY dst),
       |sc AS (SELECT x.src, x.dst, x.ci, f.fsum, f.fcnt, w.bsum, w.bcnt,
       |              CAST(2 * x.ci * f.fcnt * w.bcnt AS DOUBLE)
       |                / CAST(f.fsum * w.bcnt + w.bsum * f.fcnt AS DOUBLE) AS md
       |       FROM xpp x JOIN fwd f USING (src) JOIN bwd w USING (dst)),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY src ORDER BY md DESC, dst) AS rs,
       |               row_number() OVER (PARTITION BY dst ORDER BY md DESC, src) AS rd
       |       FROM sc)
       |SELECT src, dst, round(ci / 10000.0, 4) AS cos, round(md, 4) AS margin,
       |       (rd = 1) AS mutual
       |FROM rk
       |WHERE rs = 1 AND 200 * ci * fcnt * bcnt >= 105 * (fsum * bcnt + bsum * fcnt)
       |ORDER BY src""".stripMargin) { (s, d) =>
    // Candidate pairs come straight from [[knnScoredDf]] (round 12): the
    // mining `ci` is exactly round(cos·10⁴) of the scored pair, so the
    // cross-side join inherits the slab-sharding safety valve, the s=1
    // fast path, and the materialized assignment — this was the LAST
    // within-cell block join without the cap. Parity filters select the
    // cross-side direction; at s=1 the population is bit-identical to
    // the uncapped cell join (the oracle CTE mirrors via the same
    // shared `pr` chain).
    val xpp = knnScoredDf(s, d)
      .filter(col("src") % 2 === 0 && col("dst") % 2 === 1)
      .select(col("src"), col("dst"),
        round(col("cos") * 10000, 0).cast("long").as("ci"))
      .filter(col("ci") > 0)
    // BOUNDED-STATE ranking (round 12, the sim_hard_negatives discipline
    // applied to all four of this query's windows): the oracle phrases
    // fwd/bwd as rank-windows + rn<=4, but top-4-by-(ci desc, tie) is the
    // CollectTopK heap (<=4 longs of state per side key, no full-list
    // sort), and the avgK sums fall out of the kept array; rs=1 / rd=1
    // are per-key ARG-MAXES of the margin, i.e. one min(struct) aggregate
    // each (md > 0 always — ci > 0 and the denominators are positive
    // sums — so negating it cannot hit the ±0.0 total-order edge). The
    // shuffles after the candidate join now carry partial aggregates,
    // never the full cross-side pair list the windows map-side sorted.
    def topSums(keyCol: String, tieCol: String, sumName: String,
        cntName: String) = {
      val key = struct((-col("ci")).as("nc"), col(tieCol).as("tie"),
        col("ci").as("ci"))
      xpp.groupBy(keyCol)
        .agg(org.apache.spark.sql.GraftSqlBridge
          .collectTopK(key, 4, reverse = true).as("tk"))
        .select(col(keyCol),
          expr("aggregate(tk, CAST(0 AS BIGINT), (a, x) -> a + x.ci)")
            .as(sumName),
          size(col("tk")).cast("long").as(cntName))
    }
    val fwd = topSums("src", "dst", "fsum", "fcnt")
    val bwd = topSums("dst", "src", "bsum", "bcnt")
    val sc = xpp.join(fwd, "src").join(bwd, "dst")
      .withColumn("md", (lit(2) * col("ci") * col("fcnt") * col("bcnt")).cast("double")
        / (col("fsum") * col("bcnt") + col("bsum") * col("fcnt")).cast("double"))
    // per-dst best partner (the rd = 1 fact), as an argmax aggregate
    val dstBest = sc.groupBy("dst")
      .agg(min(struct((lit(0.0) - col("md")).as("nm"), col("src").as("src")))
        .as("db"))
      .select(col("dst"), col("db.src").as("best_src"))
    // per-src best row (the rs = 1 selection) carries the full pair
    val srcBest = sc.groupBy("src")
      .agg(min(struct((lit(0.0) - col("md")).as("nm"), col("dst").as("dst"),
        col("ci").as("ci"), col("fsum").as("fsum"), col("fcnt").as("fcnt"),
        col("bsum").as("bsum"), col("bcnt").as("bcnt"), col("md").as("md")))
        .as("sb"))
      .select(col("src"), col("sb.dst").as("dst"), col("sb.ci").as("ci"),
        col("sb.fsum").as("fsum"), col("sb.fcnt").as("fcnt"),
        col("sb.bsum").as("bsum"), col("sb.bcnt").as("bcnt"),
        col("sb.md").as("md"))
    srcBest
      .filter(lit(200) * col("ci") * col("fcnt") * col("bcnt")
        >= lit(105) * (col("fsum") * col("bcnt") + col("bsum") * col("fcnt")))
      .join(dstBest, Seq("dst"))
      .select(col("src"), col("dst"),
        round(col("ci") / lit(10000.0), 4).as("cos"),
        round(col("md"), 4).as("margin"),
        (col("best_src") === col("src")).as("mutual"))
      .orderBy("src")
  }

  /** PAGERANK over the k-NN graph — 3 unrolled power iterations with
    * damping 0.85 over the top-3-cosine-neighbor edge list: the
    * graph-centrality signal behind canonical-document selection and
    * data-valuation ("which docs anchor a semantic neighborhood"). The
    * non-normalized convention pr' = 0.15 + 0.85·Σ pr(u)/outdeg(u) is
    * used on both engines; dangling vectors (alone in their IVF cell, no
    * out-edges) leak their mass — the standard simplification, stated
    * rather than hidden, and irrelevant to the RANKING the scores feed.
    *
    * Scale shape: each iteration is one equi-join of the edge list
    * against the vertex-sized score frame plus a partial-aggregable
    * groupBy(dst) — out-degree ≤ 3 bounds fan-out, so an iteration is
    * linear in |V|. The weighted edge list is materialized once,
    * hash-partitioned by src, at every graph size, so the rounds move
    * only the vertex-sized score frames. The iteration count is FIXED
    * (unrolled, one static plan); an open-ended convergence loop would
    * instead checkpoint per round exactly like
    * `connectedComponentsDistributed`.
    *
    * EXACT ARITHMETIC: float power iteration hit a 4-dp rounding boundary
    * (0.74075) the moment partition count changed the accumulation order.
    * With outdeg ∈ {1,2,3} and damping 17/20, scaling scores by 120^k
    * keeps every intermediate an INTEGER: N_k = 0.15·120^k +
    * Σ (102/outdeg)·N_{k-1} (102 = 0.85·120 is divisible by 1, 2, 3), and
    * pagerank = N_3/120³ is the single float op — partition-order-proof
    * and engine-proof. Sums run as DECIMAL(38,0)/HUGEINT so a mega-in-
    * degree hub cannot overflow a 64-bit sum at corpus scale. */
  /** The top-3 kNN edge list `(src, dst)` as a shared snapshot
    * ([[graft.core.Snapshots]]): `graph_pagerank`, `graph_triangles` and
    * `graph_label_prop` all walk the SAME kNN graph, built once instead of once
    * per query. `sim_knn_graph` — the declared kNN-graph query itself —
    * deliberately keeps the full inline recompute, so the chain's from-parquet
    * cost stays separately measured within every run. Execution-only sharing:
    * the three graph oracles are unchanged and the edge list is deterministic
    * (4-dp cos desc, dst tie-break heap over the frozen-codebook assignment). */
  private def sharedKnnTop3Edges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Snapshots.parquet(s, d, "knn-top3-edges")(
      knnRankedDf(s, d, topK = Some(3)).select("src", "dst")
        .repartition(col("src")))

  val graphPagerank = sql(
    "graph_pagerank",
    s"""WITH $knnRankedSqlCte,
       |e AS (SELECT src, dst FROM rk WHERE rn <= 3),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |v AS (SELECT vec_id FROM embeddings),
       |p0 AS (SELECT vec_id, 1 AS n FROM v),
       |c1 AS (SELECT e.dst AS vec_id, sum((102 // d.outdeg) * p.n) AS c
       |       FROM e JOIN p0 p ON p.vec_id = e.src JOIN deg d ON d.src = e.src
       |       GROUP BY e.dst),
       |p1 AS (SELECT v.vec_id, 18 + coalesce(c.c, 0) AS n
       |       FROM v LEFT JOIN c1 c ON c.vec_id = v.vec_id),
       |c2 AS (SELECT e.dst AS vec_id, sum((102 // d.outdeg) * p.n) AS c
       |       FROM e JOIN p1 p ON p.vec_id = e.src JOIN deg d ON d.src = e.src
       |       GROUP BY e.dst),
       |p2 AS (SELECT v.vec_id, 2160 + coalesce(c.c, 0) AS n
       |       FROM v LEFT JOIN c2 c ON c.vec_id = v.vec_id),
       |c3 AS (SELECT e.dst AS vec_id, sum((102 // d.outdeg) * p.n) AS c
       |       FROM e JOIN p2 p ON p.vec_id = e.src JOIN deg d ON d.src = e.src
       |       GROUP BY e.dst),
       |p3 AS (SELECT v.vec_id, 259200 + coalesce(c.c, 0) AS n
       |       FROM v LEFT JOIN c3 c ON c.vec_id = v.vec_id)
       |SELECT p3.vec_id, round(CAST(p3.n AS DOUBLE) / 1728000.0, 4) AS pagerank,
       |       CAST(coalesce(d.outdeg, 0) AS BIGINT) AS outdeg
       |FROM p3 LEFT JOIN deg d ON d.src = p3.vec_id
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    // deg and every round's edge⋈score join reuse this src layout
    val e = sharedKnnTop3Edges(s, d).repartition(col("src"))
      .localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = e.join(deg, "src")
      .withColumn("w", expr("102 div outdeg")) // exact: outdeg | 102
      .localCheckpoint(true)
    val v = Tables.embeddings(s, d).select("vec_id")
    def step(prev: org.apache.spark.sql.DataFrame, base: Long) = {
      val contrib = withDeg
        .join(prev.withColumnRenamed("vec_id", "src"), "src")
        .groupBy(col("dst").as("vec_id"))
        .agg(sum((col("w") * col("n")).cast("decimal(38,0)")).as("c"))
      v.join(contrib, Seq("vec_id"), "left")
        .select(col("vec_id"),
          (lit(base) + coalesce(col("c"), lit(0))).cast("decimal(38,0)").as("n"))
    }
    val p0 = v.select(col("vec_id"), lit(1L).as("n"))
    val p3 = step(step(step(p0, 18L), 2160L), 259200L)
    p3.join(deg.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        round(col("n").cast("double") / lit(1728000.0), 4).as("pagerank"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"))
      .orderBy("vec_id")
  }

  /** TRIANGLE COUNT + GLOBAL CLUSTERING COEFFICIENT over the kNN graph —
    * the graph-cohesion certificate for a semantic neighborhood structure
    * (a near-random kNN graph has gcc ≈ 0; clustered corpora close their
    * wedges), computed with the DEGREE-ORDERED ORIENTATION trick that
    * makes distributed triangle counting scale-safe: symmetrized edges
    * are oriented from the (degree, id)-smaller endpoint to the larger,
    * which bounds every oriented out-degree by O(√E) on ANY graph — a
    * celebrity hub with 10⁸ followers contributes wedges only through its
    * few higher-degree peers, so the wedge self-join cannot explode on
    * skew (the graph counterpart of `j6_salted_join`'s fix, chosen
    * structurally instead of salted). One wedge equi-join + one edge
    * equi-join confirms each triangle EXACTLY once; wedge totals come
    * from the degree frame in closed form, never enumerated.
    *
    * Exactness: counts are exact integers; gcc = 3·T / Σ deg·(deg−1)/2
    * is one float division of exact integers, 4 dp. */
  val graphTriangles = sql(
    "graph_triangles",
    s"""WITH $knnRankedSqlCte,
       |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |      FROM rk WHERE rn <= 3),
       |deg AS (SELECT v, count(*) AS dg FROM (
       |          SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
       |        GROUP BY v),
       |f AS (SELECT CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.a ELSE e.b END AS u,
       |             CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.b ELSE e.a END AS w
       |      FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
       |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM (
       |          SELECT f1.u, f1.w, f2.w AS x
       |          FROM f f1 JOIN f f2 ON f2.u = f1.w) wedge
       |        JOIN f f3 ON f3.u = wedge.u AND f3.w = wedge.x),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices,
       |               CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges
       |        FROM deg),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
       |SELECT n_vertices, n_edges, n_wedges, n_triangles,
       |       round(3.0 * n_triangles / n_wedges, 4) AS gcc
       |FROM tot CROSS JOIN ne CROSS JOIN tri""".stripMargin) { (s, d) =>
    val e = sharedKnnTop3Edges(s, d)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct().cache()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    val flip = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val f = e.join(deg.toDF("a", "da"), "a").join(deg.toDF("b", "db"), "b")
      .select(when(flip, col("a")).otherwise(col("b")).as("u"),
        when(flip, col("b")).otherwise(col("a")).as("w"))
      .cache()
    val wedge = f.toDF("u", "w")
      .join(f.toDF("w", "x"), "w")
    val tri = wedge.join(f.toDF("u", "x"), Seq("u", "x"))
      .agg(count(lit(1)).cast("long").as("n_triangles"))
    val tot = deg.agg(count(lit(1)).cast("long").as("n_vertices"),
      sum(expr("dg * (dg - 1) div 2")).cast("long").as("n_wedges"))
    val ne = e.agg(count(lit(1)).cast("long").as("n_edges"))
    tot.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 4).as("gcc"))
  }

  /** LABEL PROPAGATION community detection over the kNN graph — the
    * semantic-neighborhood partitioner between connected components (too
    * coarse: one boilerplate bridge merges two topics) and k-means (needs
    * k): every vector starts labeled with its own id, and each synchronous
    * round adopts the MAJORITY label among its neighbors, ties broken by
    * the SMALLER label (the determinism LPA famously lacks — random
    * tie-breaks make the algorithm unreproducible across runs, which a
    * data pipeline cannot ship). Three unrolled rounds, the same fixed-
    * iteration discipline as `graph_pagerank`; isolated vertices keep
    * their own label. Output: per-vector community (always a member's
    * vec_id) plus the community size.
    *
    * Scale shape: one round = edge⋈label equi-join + a partial-aggregable
    * (vertex, label) vote count + a per-vertex window over the bounded
    * neighbor-label frame (≤ degree rows) — linear in |E| per round, no
    * global structure. The symmetrized edge list is materialized once,
    * hash-partitioned by the vote-join key, at every graph size, so the
    * rounds move only the vertex-sized label frames. Community sizes
    * come from a groupBy+join, not an unpartitioned window. All-integer
    * state: votes are exact counts, labels are ids — nothing to round,
    * bit-identical across engines. */
  val graphLabelProp = sql(
    "graph_label_prop", {
      val rounds = (1 to 3).map { k =>
        s"""v$k AS (SELECT ee.v, l.l, count(*) AS c
           |        FROM ee JOIN l${k - 1} l ON l.vec_id = ee.u GROUP BY ee.v, l.l),
           |p$k AS (SELECT v, l FROM (
           |          SELECT v, l, row_number() OVER (PARTITION BY v
           |                         ORDER BY c DESC, l) AS rn FROM v$k)
           |        WHERE rn = 1),
           |l$k AS (SELECT a.vec_id, coalesce(p.l, a.l) AS l
           |        FROM l${k - 1} a LEFT JOIN p$k p ON p.v = a.vec_id)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $knnRankedSqlCte,
         |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |      FROM rk WHERE rn <= 3),
         |ee AS (SELECT a AS v, b AS u FROM e UNION ALL SELECT b AS v, a AS u FROM e),
         |l0 AS (SELECT vec_id, vec_id AS l FROM embeddings),
         |$rounds,
         |cs AS (SELECT l AS community, CAST(count(*) AS BIGINT) AS community_size
         |       FROM l3 GROUP BY l)
         |SELECT f.vec_id, f.l AS community, cs.community_size
         |FROM l3 f JOIN cs ON cs.community = f.l
         |ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
    val e = sharedKnnTop3Edges(s, d)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
      .cache() // both union directions read it — one snapshot scan, not two
    // every round's edge⋈label join reuses this layout on the vote key u
    val ee = e.select(col("a").as("v"), col("b").as("u"))
      .unionAll(e.select(col("b").as("v"), col("a").as("u")))
      .repartition(col("u")).localCheckpoint(true)
    // each round reads the previous label frame TWICE (vote side +
    // join-back side), so un-truncated lineage doubles per round (2^k
    // subtree copies of the kNN chain) — localCheckpoint per round keeps
    // the state vertex-sized and the plan flat, the BPE/CC discipline.
    // The majority pick is an ARG-MAX aggregate (round 12): min over
    // the ascending (−votes, label) struct ≡ the ORDER BY c DESC, l
    // pick — one hash aggregate per round instead of a per-vertex rank
    // window's exchange + sort (exact long negation, O(1) state per v).
    def step(lab: org.apache.spark.sql.DataFrame) = {
      val pick = ee.join(lab.withColumnRenamed("vec_id", "u"), "u")
        .groupBy("v", "l").agg(count(lit(1)).as("c"))
        .groupBy("v")
        .agg(min(struct((-col("c")).as("nc"), col("l").as("l"))).as("m"))
        .select(col("v").as("vec_id"), col("m.l").as("nl"))
      lab.join(pick, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("nl"), col("l")).as("l"))
        .localCheckpoint(true)
    }
    val l0 = Tables.embeddings(s, d)
      .select(col("vec_id"), col("vec_id").as("l"))
      .localCheckpoint(true)
    val l3 = step(step(step(l0)))
    val cs = l3.groupBy(col("l").as("community"))
      .agg(count(lit(1)).as("community_size"))
    l3.select(col("vec_id"), col("l").as("community"))
      .join(cs, "community")
      .select(col("vec_id"), col("community"), col("community_size"))
      .orderBy("vec_id")
  }

  /** PER-DIMENSION EMBEDDING STATS — the drift/whitening monitor a vector
    * pipeline runs before trusting an index: n, mean, population std,
    * min, max for each of the 64 dimensions. A collapsed dimension
    * (std ≈ 0) or a shifted mean flags an encoder regression.
    *
    * Scale shape: posexplode + ONE partial-aggregable groupBy on the
    * 64-value dimension key — map-side combine collapses each partition
    * to 64 rows, no window, no join. Mean/std derive from exact-input
    * double sums (float32 values upcast losslessly); both computed
    * columns round 4 dp, min/max are passthrough picks of existing
    * values. */
  val embDimStats = sql(
    "emb_dim_stats",
    """WITH x AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
      |                  CAST(unnest(embedding) AS DOUBLE) AS val
      |           FROM embeddings)
      |SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |       round(sum(val) / count(*), 4) AS mean,
      |       round(sqrt((sum(val * val) - sum(val) * sum(val) / count(*)) / count(*)), 4) AS std,
      |       min(val) AS min_val, max(val) AS max_val
      |FROM x GROUP BY dim ORDER BY dim""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"), col("v").cast("double").as("val"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        round(sum("val") / count(lit(1)), 4).as("mean"),
        round(sqrt((sum(col("val") * col("val"))
          - sum("val") * sum("val") / count(lit(1))) / count(lit(1))), 4).as("std"),
        min("val").as("min_val"), max("val").as("max_val"))
      .orderBy("dim")
  }

  /** EMBEDDING-COHORT drift — `corpus_quality_drift`'s counterpart for the
    * vector modality: per label, the centroid of two hash cohorts compared
    * by L2 shift and cosine. An encoder regression or a corrupted shard
    * moves a cohort centroid; on a pure hash split the L2 shift stays at
    * sampling-noise magnitude (measured ~0.2–0.3 here vs unit-norm
    * vectors) — THAT is the null calibration. The cosine column is only
    * informative when centroids sit far from the origin: this corpus's
    * per-label means are near zero, so their directions are noise and the
    * cosine scatters — reported for the shifted-mean regime it serves
    * (e.g. un-centered sentence embeddings), not asserted on this data.
    *
    * Exactness: per-(label, dim) cohort means round to 4 dp (the IVF
    * centroid discipline — absorbs each engine's accumulation order), then
    * scale to ×10⁴ BIGINTs so the cross-dimension sums are EXACT integer
    * arithmetic — order-independent, bit-identical; the only floats are
    * the final sqrt/divide on identical integers. Scale shape: posexplode
    * + two partial-aggregable groupBys (label × 64 dims, then label), no
    * join wider than the label frame, no window. */
  val embCohortDrift = sql(
    "emb_cohort_drift",
    s"""WITH x AS (SELECT label, vec_id,
       |                  generate_subscripts(embedding, 1) AS pos,
       |                  CAST(unnest(embedding) AS DOUBLE) AS v
       |           FROM embeddings),
       |xs AS (SELECT label, pos, v,
       |              (${Keys.hexBucketSql("vec_id")}) < 32768 AS coh_a
       |       FROM x),
       |mm AS (SELECT label, pos,
       |              CAST(round(round(sum(CASE WHEN coh_a THEN v END)
       |                   / count(CASE WHEN coh_a THEN 1 END), 4) * 10000, 0) AS BIGINT) AS mia,
       |              CAST(round(round(sum(CASE WHEN NOT coh_a THEN v END)
       |                   / count(CASE WHEN NOT coh_a THEN 1 END), 4) * 10000, 0) AS BIGINT) AS mib
       |       FROM xs GROUP BY label, pos),
       |agg AS (SELECT label,
       |               CAST(sum((mia - mib) * (mia - mib)) AS BIGINT) AS d2,
       |               CAST(sum(mia * mib) AS BIGINT) AS dotab,
       |               CAST(sum(mia * mia) AS BIGINT) AS dotaa,
       |               CAST(sum(mib * mib) AS BIGINT) AS dotbb
       |        FROM mm GROUP BY label),
       |cnt AS (SELECT label,
       |               CAST(sum(CASE WHEN (${Keys.hexBucketSql("vec_id")}) < 32768
       |                        THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |               CAST(sum(CASE WHEN (${Keys.hexBucketSql("vec_id")}) < 32768
       |                        THEN 0 ELSE 1 END) AS BIGINT) AS n_b
       |        FROM embeddings GROUP BY label)
       |SELECT a.label, c.n_a, c.n_b,
       |       round(sqrt(d2) / 10000, 4) AS centroid_l2,
       |       round(dotab / (sqrt(dotaa) * sqrt(dotbb)), 4) AS centroid_cos
       |FROM agg a JOIN cnt c ON c.label = a.label
       |ORDER BY a.label""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val cohA = Keys.hexBucketCol(col("vec_id")) < 32768
    val xs = emb.select(col("label"), cohA.as("coh_a"),
        posexplode(col("embedding")).as(Seq("pos0", "vf")))
      .select(col("label"), col("coh_a"), col("pos0"),
        col("vf").cast("double").as("v"))
    def mi(a: Boolean) = round(round(
      sum(when(col("coh_a") === a, col("v"))) /
        count(when(col("coh_a") === a, 1)), 4) * 10000).cast("long")
    val mm = xs.groupBy("label", "pos0")
      .agg(mi(true).as("mia"), mi(false).as("mib"))
    val agg = mm.groupBy("label").agg(
      sum((col("mia") - col("mib")) * (col("mia") - col("mib"))).as("d2"),
      sum(col("mia") * col("mib")).as("dotab"),
      sum(col("mia") * col("mia")).as("dotaa"),
      sum(col("mib") * col("mib")).as("dotbb"))
    val cnt = emb.groupBy("label").agg(
      sum(when(cohA, 1L).otherwise(0L)).as("n_a"),
      sum(when(cohA, 0L).otherwise(1L)).as("n_b"))
    agg.join(broadcast(cnt), "label")
      .select(col("label"), col("n_a"), col("n_b"),
        round(sqrt(col("d2")) / 10000, 4).as("centroid_l2"),
        round(col("dotab") / (sqrt(col("dotaa")) * sqrt(col("dotbb"))), 4)
          .as("centroid_cos"))
      .orderBy("label")
  }

  /** Random-hyperplane (sign) LSH — the alternative scale path to IVF:
    * `nBits` deterministic pseudo-random planes (splitmix64-seeded), bucket
    * key = the sign-bit signature of the vector. Vectors in the same bucket
    * are candidate near-neighbors; Hamming-close buckets can be probed via
    * the same block-banding as SimHash. The planes are deterministic model
    * state, so the oracle embeds them as a VALUES-literal table (Scala
    * Double.toString is the shortest round-trip decimal — DuckDB parses it
    * back to the identical bits) and replays the same index-order fold. */
  def hyperplaneSignature(dim: Int = 64, nBits: Int = 16, seed: Long = 42L): Array[Array[Double]] = {
    var s = seed
    def next(): Double = { // splitmix64 → uniform in (-1, 1)
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      ((z ^ (z >>> 31)) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Array.fill(nBits)(Array.fill(dim)(next()))
  }

  /** Local signature (same math as the query's fold) for tests/tools. */
  def signatureOf(vec: Array[Float], planes: Array[Array[Double]]): Int =
    planes.zipWithIndex.foldLeft(0) { case (acc, (p, j)) =>
      var dot = 0.0
      var i = 0
      while (i < vec.length) { dot += vec(i).toDouble * p(i); i += 1 }
      if (dot > 0) acc | (1 << j) else acc
    }

  val simLshBuckets = sql(
    "sim_lsh_buckets", {
      val rows = hyperplaneSignature().zipWithIndex.map { case (p, j) =>
        s"($j, [${p.map(_.toString).mkString(", ")}])"
      }.mkString(",\n  ")
      s"""WITH planes(bit, plane) AS (VALUES
         |  $rows)
         |SELECT e.vec_id, e.label,
         |       CAST(sum(CASE WHEN ${dotSql("e.embedding", "p.plane")} > 0
         |                     THEN (1 << p.bit) ELSE 0 END) AS INT) AS bucket
         |FROM embeddings e CROSS JOIN planes p
         |GROUP BY e.vec_id, e.label
         |ORDER BY e.vec_id""".stripMargin
    }) { (s, d) =>
    import s.implicits._
    // planes as a broadcast 16-row DataFrame, not literal expressions —
    // keeps generated code tiny (see the IVF codegen lesson)
    val planes = hyperplaneSignature().zipWithIndex
      .map { case (p, j) => (j, p.toSeq) }.toSeq.toDF("bit", "plane")
    Tables.embeddings(s, d)
      .crossJoin(broadcast(planes))
      .select(col("vec_id"), col("label"), col("bit"),
        dotCol("embedding", "plane").as("dot"))
      .groupBy("vec_id")
      .agg(
        first("label").as("label"),
        sum(when(col("dot") > 0, expr("shiftleft(1, bit)")).otherwise(0))
          .cast("int").as("bucket"))
      .orderBy("vec_id")
  }

  /** Product quantization codes — the ANN memory-compression path at
    * 100 TB: each vector is split into `M = 4` contiguous 16-dim subvectors
    * and each subvector is assigned to its nearest sub-centroid
    * independently, so a 256-byte float vector becomes M small codes
    * (here one per label-codebook entry; a production codebook would be
    * k-means per subspace — the assignment plan is identical). Scale shape:
    * the codebook is k·M tiny rows (broadcast); assignment is one
    * broadcast join + native squared-distance per (vector, sub, centroid)
    * and one partial-aggregable argmin — no shuffle of the embedding table
    * beyond the final per-vector pivot.
    *
    * Float discipline: sub-centroids are rounded to 4 dp BEFORE distance
    * math (the IVF rule); distances are never output, only argmin labels,
    * and inter-label distance margins dwarf accumulation-order epsilon. */
  /** SQL CTE chain ending in `codes(vec_id, sub, label)` — each vector's
    * per-subspace PQ code. The ONE definition shared by the codes query,
    * the ADC search, and its recall certificate (they cannot drift). */
  private val pqCodesSqlCte: String =
    """cex AS (SELECT label, unnest(embedding) AS x,
      |               generate_subscripts(embedding, 1) AS pos
      |        FROM embeddings),
      |cent AS (SELECT label, pos, round(avg(CAST(x AS DOUBLE)), 4) AS c
      |         FROM cex GROUP BY label, pos),
      |ex AS (SELECT vec_id, unnest(embedding) AS x,
      |              generate_subscripts(embedding, 1) AS pos
      |       FROM embeddings),
      |dists AS (SELECT e.vec_id, ct.label,
      |                 CAST(floor((e.pos - 1) / 16) AS INT) AS sub,
      |                 sum((CAST(e.x AS DOUBLE) - ct.c) * (CAST(e.x AS DOUBLE) - ct.c)) AS dist
      |          FROM ex e JOIN cent ct ON e.pos = ct.pos
      |          GROUP BY e.vec_id, ct.label, 3),
      |ranked AS (SELECT vec_id, sub, label,
      |                  row_number() OVER (PARTITION BY vec_id, sub
      |                                     ORDER BY dist, label) AS rn
      |           FROM dists),
      |codes AS (SELECT vec_id, sub, label FROM ranked WHERE rn = 1)""".stripMargin

  /** PQ codebook: per-(label, sub) 16-dim sub-centroids, 4-dp rounded —
    * k·M tiny rows, broadcastable model state. */
  private def pqCodebook(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "x")))
      .groupBy("label", "pos0")
      .agg(round(avg(col("x").cast("double")), 4).as("c"))
      .groupBy(col("label").as("clabel"), (col("pos0") / 16).cast("int").as("sub"))
      .agg(expr("transform(array_sort(collect_list(struct(pos0, c))), s -> s.c)")
        .as("cvec"))

  /** Spark side of `codes(vec_id, sub, code)` — broadcast codebook join +
    * native squared-distance + partial-aggregable argmin. */
  private def pqCodesLong(s: org.apache.spark.sql.SparkSession, d: String) = {
    // facts: 4 subvector rows per vector (slice, not explode-per-dim)
    val sub = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(3))).as("sub"))
      .select(col("vec_id"), col("sub"),
        expr("slice(embedding, sub * 16 + 1, 16)").as("subvec"))
    val dist = graft.functions.SquaredDistance.squared_distance(
      col("subvec"), col("cvec"))
    sub.join(broadcast(pqCodebook(s, d)), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("clabel"), dist.as("dist"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dist"), col("clabel"))).getField("clabel").as("code"))
  }

  val simPqCodes = sql(
    "sim_pq_codes",
    s"""WITH $pqCodesSqlCte
       |SELECT vec_id,
       |       CAST(max(CASE WHEN sub = 0 THEN label END) AS INT) AS c0,
       |       CAST(max(CASE WHEN sub = 1 THEN label END) AS INT) AS c1,
       |       CAST(max(CASE WHEN sub = 2 THEN label END) AS INT) AS c2,
       |       CAST(max(CASE WHEN sub = 3 THEN label END) AS INT) AS c3
       |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, d) =>
    pqCodesLong(s, d)
      .groupBy("vec_id")
      .agg(
        max(when(col("sub") === 0, col("code"))).cast("int").as("c0"),
        max(when(col("sub") === 1, col("code"))).cast("int").as("c1"),
        max(when(col("sub") === 2, col("code"))).cast("int").as("c2"),
        max(when(col("sub") === 3, col("code"))).cast("int").as("c3"))
      .orderBy("vec_id")
  }

  /** SQL CTE chain `qx` + `lut(label, sub, lutd)` — the ADC lookup table:
    * the query vector's squared distance to every (sub, centroid) cell. */
  private val pqLutSqlCte: String =
    """qx AS (SELECT unnest(embedding) AS x,
      |              generate_subscripts(embedding, 1) AS pos
      |       FROM embeddings WHERE vec_id = 0),
      |lut AS (SELECT ct.label, CAST(floor((ct.pos - 1) / 16) AS INT) AS sub,
      |               sum((CAST(q.x AS DOUBLE) - ct.c) * (CAST(q.x AS DOUBLE) - ct.c)) AS lutd
      |        FROM qx q JOIN cent ct ON q.pos = ct.pos
      |        GROUP BY ct.label, 2)""".stripMargin

  /** Spark side of `lut(sub, code, lutd)` — k·M rows, broadcastable. */
  private def pqLut(s: org.apache.spark.sql.SparkSession, d: String) = {
    val qsub = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding"), explode(sequence(lit(0), lit(3))).as("sub"))
      .select(col("sub"), expr("slice(embedding, sub * 16 + 1, 16)").as("qsubvec"))
    qsub.join(pqCodebook(s, d), Seq("sub"))
      .select(col("sub"), col("clabel").as("code"),
        graft.functions.SquaredDistance.squared_distance(
          col("qsubvec"), col("cvec")).as("lutd"))
  }

  /** PQ ASYMMETRIC-DISTANCE search (ADC) — the actual serving path of a
    * product-quantized index: the query vector is NOT quantized; its
    * distance to each of the k·M sub-centroids is tabulated once (the
    * LUT), and a candidate's approximate distance is the sum of M table
    * lookups selected by its stored codes — no float math against the
    * original vectors at all, which is the whole point at 100 TB (the
    * scan touches M small ints per vector, the 64-dim floats stay cold).
    *
    * Scale shape: LUT = k·M tiny rows, broadcast; one narrow pass over
    * the codes; partial-aggregable per-vector sum; TakeOrdered top-10 —
    * no shuffle of anything vector-sized. Ranking is on the 4-dp-rounded
    * ADC distance with a vec_id tie-break (many vectors share codes, so
    * exact ADC ties are common and the tie-break is load-bearing). */
  val simPqAdc = sql(
    "sim_pq_adc",
    s"""WITH $pqCodesSqlCte,
       |$pqLutSqlCte
       |SELECT c.vec_id, round(sum(l.lutd), 4) AS adc
       |FROM codes c JOIN lut l ON l.sub = c.sub AND l.label = c.label
       |WHERE c.vec_id <> 0
       |GROUP BY c.vec_id
       |ORDER BY adc, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    pqCodesLong(s, d).filter(col("vec_id") =!= 0)
      .join(broadcast(pqLut(s, d)), Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(round(sum("lutd"), 4).as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(10)
  }

  /** Recall@10 of the PQ-ADC search against the EXACT squared-L2 top-10 —
    * the certificate that grades what M=4 sub-quantizers cost in answer
    * quality, completing the PQ story the way `sim_ivf_recall` grades the
    * IVF probe. Both sides are deterministic (bit-identical distances,
    * 4-dp rounding, vec_id tie-breaks), so the intersection is exactly
    * oracle-checkable; cost is two top-10s + a 10-row join. */
  val simPqRecall = sql(
    "sim_pq_recall",
    s"""WITH $pqCodesSqlCte,
       |$pqLutSqlCte,
       |adc10 AS (SELECT c.vec_id, round(sum(l.lutd), 4) AS adc
       |          FROM codes c JOIN lut l ON l.sub = c.sub AND l.label = c.label
       |          WHERE c.vec_id <> 0
       |          GROUP BY c.vec_id
       |          ORDER BY adc, vec_id LIMIT 10),
       |qr AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |exact10 AS (SELECT vec_id,
       |                   round(${sqdistSql("embedding", "qv")}, 4) AS dist
       |            FROM embeddings, qr
       |            WHERE vec_id <> 0
       |            ORDER BY dist, vec_id LIMIT 10)
       |SELECT 10 AS k, count(*) AS n_hits,
       |       round(count(*) / 10.0, 4) AS recall
       |FROM adc10 JOIN exact10 USING (vec_id)""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val exact = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.SquaredDistance.squared_distance(
          col("embedding"), col("qv")), 4).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10)
      .select("vec_id")
    simPqAdc.fn(s, d).select("vec_id")
      .join(exact, "vec_id")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(10).as("k"), col("n_hits"),
        round(col("n_hits") / 10.0, 4).as("recall"))
  }

  /** Shared IVFADC model state — ONE definition behind the single-probe
    * query, the multi-probe variant, and its recall certificate (the
    * repo's shared-CTE discipline, so the variants cannot fork):
    * `rcb`    residual sub-codebook (clabel, sub, rcvec), 4-dp means;
    * `rsub`   every vector's residual subvectors (vec_id, cell, sub, rsubvec);
    * `rcodes` candidate PQ codes on residuals (vec_id, cell, sub, code). */
  private def ivfPqModel(s: org.apache.spark.sql.SparkSession, d: String) = {
    val emb = Tables.embeddings(s, d)
    // The REDUCED index state is materialized ONCE (the ivfIndex/annGate
    // discipline): the coarse codebook (k tiny rows) and the assignment
    // (narrow (vec_id, cell)) — un-materialized, every consumer of the
    // residual frame re-ran the corpus-wide codebook fit + argmin assign
    // (3× in the single-probe ADC). The residual ARRAYS themselves stay
    // lazy: r13 cached them (corpus × 64 doubles) and that was a measured
    // regression (§5) — each consumer now re-runs only the linear
    // broadcast-join + zip_with map over the checkpointed index state.
    val cb = ivfCodebook(s, d).localCheckpoint(true)
    val assign = emb.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("clabel"),
        graft.functions.SquaredDistance.squared_distance(
          col("embedding"), col("cvec")).as("dist"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("clabel"))).getField("clabel").as("cell"))
      .localCheckpoint()
    // residual arrays w.r.t. the assigned coarse cell (broadcast codebook)
    val resid = emb.join(assign, "vec_id")
      .join(broadcast(cb), col("cell") === col("clabel"))
      .select(col("vec_id"), col("label"), col("cell"),
        expr("zip_with(embedding, cvec, (a, b) -> CAST(a AS DOUBLE) - b)")
          .as("rvec"))
    // (r13 cached `resid` here; measured regression — sim_ivfpq_*_mp
    // 1.7/2.3 → 2.3/3.1 s clean: materializing the corpus × 64-double
    // frame cost more than re-running the broadcast-join + zip_with per
    // consumer, and at 100 TB it is exactly the §5 eviction-thrash shape.
    // Removed in r14; the REDUCED model state `rcb` (k·M codebook rows)
    // is checkpointed below instead, so downstream consumers re-run only
    // the linear residual map, never the sub-codebook fit.)
    // residual sub-codebook: per-(label, sub) 16-dim means, 4 dp, packed
    val rcb = resid
      .select(col("label"), posexplode(col("rvec")).as(Seq("pos0", "r")))
      .groupBy("label", "pos0").agg(round(avg("r"), 4).as("rc"))
      .groupBy(col("label").as("clabel"),
        (col("pos0") / 16).cast("int").as("sub"))
      .agg(expr("transform(array_sort(collect_list(struct(pos0, rc))), s -> s.rc)")
        .as("rcvec"))
      .localCheckpoint(true)
    val rsub = resid
      .select(col("vec_id"), col("cell"), col("rvec"),
        explode(sequence(lit(0), lit(3))).as("sub"))
      .select(col("vec_id"), col("cell"), col("sub"),
        expr("slice(rvec, sub * 16 + 1, 16)").as("rsubvec"))
    val rcodes = rsub.join(broadcast(rcb), Seq("sub"))
      .select(col("vec_id"), col("cell"), col("sub"), col("clabel"),
        graft.functions.SquaredDistance.squared_distance(
          col("rsubvec"), col("rcvec")).as("dist"))
      .groupBy("vec_id", "cell", "sub")
      .agg(min(struct(col("dist"), col("clabel"))).getField("clabel").as("code"))
    (rcb, rsub, rcodes)
  }

  /** IVF-PQ RESIDUAL ADC — the full FAISS `IVFADC` serving structure
    * (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    * Search"): vectors are PQ-coded on their RESIDUAL x − c(cell) w.r.t.
    * their coarse IVF centroid (residuals are tighter than raw vectors,
    * so the same code budget buys less quantization error), and the query
    * probes ONE cell: its own residual q − c(probe_cell) is tabulated
    * against the residual sub-codebooks (the LUT), and every candidate IN
    * THE PROBE CELL is scored by M=4 table lookups — no float math
    * against stored vectors, and only ~1/k of the corpus touched: the
    * IVF restriction and the ADC trick composed, which is what actually
    * serves billion-vector indexes.
    *
    * Scale shape: residuals are a zip_with against the BROADCAST coarse
    * codebook (k rows); the residual sub-codebook is k·M tiny rows,
    * broadcast; codes are index state (computed corpus-wide here exactly
    * as an index build would); the query-side LUT is k·M rows; the
    * candidate restriction is a broadcast 1-row cell semi-filter and the
    * cut is TakeOrdered top-10. Determinism: the codebooks round 4 dp
    * before any distance, argmins tie-break on the code label, the final
    * ranking runs on the 4-dp-rounded ADC with a vec_id tie-break — the
    * `sim_pq_adc` discipline end-to-end. */
  /** DuckDB CTE chain ending in `rcodes(vec_id, sub, label)` — the shared
    * IVFADC model state (twin of `ivfPqModel`); also defines `assign`,
    * `dists`, `cent`, `rcent`. */
  private val ivfPqSqlCte: String =
    s"""$ivfAssignSqlCte,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |rx AS (SELECT e.vec_id, e.pos, CAST(e.x AS DOUBLE) - ct.c AS r
       |       FROM ex e JOIN assign a ON a.vec_id = e.vec_id
       |       JOIN cent ct ON ct.label = a.cell AND ct.pos = e.pos),
       |rcent AS (SELECT l.label, r.pos, round(avg(r.r), 4) AS rc
       |          FROM rx r JOIN lab l ON l.vec_id = r.vec_id
       |          GROUP BY l.label, r.pos),
       |rdists AS (SELECT r.vec_id, rc.label,
       |                  CAST(floor((r.pos - 1) / 16) AS INT) AS sub,
       |                  sum((r.r - rc.rc) * (r.r - rc.rc)) AS dist
       |           FROM rx r JOIN rcent rc ON rc.pos = r.pos
       |           GROUP BY r.vec_id, rc.label, 3),
       |rranked AS (SELECT vec_id, sub, label,
       |                   row_number() OVER (PARTITION BY vec_id, sub
       |                                      ORDER BY dist, label) AS rn
       |            FROM rdists),
       |rcodes AS (SELECT vec_id, sub, label FROM rranked WHERE rn = 1)""".stripMargin

  val simIvfPqAdc = sql(
    "sim_ivfpq_adc",
    s"""WITH $ivfPqSqlCte,
       |qcell AS (SELECT cell FROM assign WHERE vec_id = 0),
       |rlut AS (SELECT rc.label, CAST(floor((q.pos - 1) / 16) AS INT) AS sub,
       |                sum((q.r - rc.rc) * (q.r - rc.rc)) AS lutd
       |         FROM rx q JOIN rcent rc ON rc.pos = q.pos
       |         WHERE q.vec_id = 0
       |         GROUP BY rc.label, 2)
       |SELECT c.vec_id, round(sum(l.lutd), 4) AS adc
       |FROM rcodes c
       |JOIN rlut l ON l.sub = c.sub AND l.label = c.label
       |JOIN assign a ON a.vec_id = c.vec_id
       |CROSS JOIN qcell
       |WHERE a.cell = qcell.cell AND c.vec_id <> 0
       |GROUP BY c.vec_id
       |ORDER BY adc, c.vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val (rcb, rsub, rcodes) = ivfPqModel(s, d)
    val qlut = rsub.filter(col("vec_id") === 0)
      .join(broadcast(rcb), Seq("sub"))
      .select(col("sub"), col("clabel").as("code"),
        graft.functions.SquaredDistance.squared_distance(
          col("rsubvec"), col("rcvec")).as("lutd"))
    val qcell = rsub.filter(col("vec_id") === 0)
      .select(col("cell").as("qc")).limit(1)
    rcodes.filter(col("vec_id") =!= 0)
      .join(broadcast(qcell), col("cell") === col("qc"))
      .join(broadcast(qlut), Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(round(sum("lutd"), 4).as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(10)
  }

  /** MULTI-PROBE IVFADC — `sim_ivfpq_adc` with nprobe=3: the query visits
    * its three nearest coarse cells, carrying a SEPARATE residual LUT per
    * probed cell (each cell's candidates are coded on residuals w.r.t.
    * THAT cell's centroid, so one global LUT would be wrong — the
    * subtlety multi-probe adds over `sim_ivf_topk_mp`). nprobe is the
    * recall/cost dial: 3× the candidates and 3 tiny LUTs, still ~3/k of
    * the corpus touched and zero float math against stored vectors. */
  val simIvfPqAdcMp = sql(
    "sim_ivfpq_adc_mp",
    s"""WITH $ivfPqSqlCte,
       |qpc AS (SELECT label AS pcell FROM dists WHERE vec_id = 0
       |        ORDER BY dist, label LIMIT 3),
       |qrmp AS (SELECT p.pcell, e.pos, CAST(e.x AS DOUBLE) - ct.c AS r
       |         FROM ex e CROSS JOIN qpc p
       |         JOIN cent ct ON ct.label = p.pcell AND ct.pos = e.pos
       |         WHERE e.vec_id = 0),
       |rlutmp AS (SELECT q.pcell, rc.label AS code,
       |                  CAST(floor((q.pos - 1) / 16) AS INT) AS sub,
       |                  sum((q.r - rc.rc) * (q.r - rc.rc)) AS lutd
       |           FROM qrmp q JOIN rcent rc ON rc.pos = q.pos
       |           GROUP BY q.pcell, rc.label, 3)
       |SELECT c.vec_id, round(sum(l.lutd), 4) AS adc
       |FROM rcodes c
       |JOIN assign a ON a.vec_id = c.vec_id
       |JOIN rlutmp l ON l.pcell = a.cell AND l.sub = c.sub AND l.code = c.label
       |WHERE c.vec_id <> 0
       |GROUP BY c.vec_id
       |ORDER BY adc, c.vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val (rcb, _, rcodes) = ivfPqModel(s, d)
    val probes = ivfQueryCells(s, d, 3).select(col("cell").as("pcell"))
    val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    // per-probed-cell query residual subvectors → per-cell LUT
    val qlut = broadcast(probes).crossJoin(broadcast(q))
      .join(broadcast(ivfCodebook(s, d)), col("pcell") === col("clabel"))
      .select(col("pcell"),
        expr("zip_with(qv, cvec, (a, b) -> CAST(a AS DOUBLE) - b)").as("rvec"))
      .select(col("pcell"), explode(sequence(lit(0), lit(3))).as("sub"),
        col("rvec"))
      .select(col("pcell"), col("sub"),
        expr("slice(rvec, sub * 16 + 1, 16)").as("rsubvec"))
      .join(broadcast(rcb), Seq("sub"))
      .select(col("pcell"), col("sub").as("psub"), col("clabel").as("pcode"),
        graft.functions.SquaredDistance.squared_distance(
          col("rsubvec"), col("rcvec")).as("lutd"))
    rcodes.filter(col("vec_id") =!= 0)
      .join(broadcast(qlut), col("cell") === col("pcell") &&
        col("sub") === col("psub") && col("code") === col("pcode"))
      .groupBy("vec_id")
      .agg(round(sum("lutd"), 4).as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(10)
  }

  /** Recall@10 of multi-probe IVFADC vs the exact squared-L2 ground truth —
    * with `sim_pq_recall` (PQ, full scan) and `sim_ivf_recall(_mp)` (IVF,
    * exact within-cell) this completes the certificate grid: every
    * index-structure × quantization combination the engine serves is
    * priced against brute force, never trusted on faith. */
  val simIvfPqRecallMp = sql(
    "sim_ivfpq_recall_mp",
    s"""WITH $ivfPqSqlCte,
       |qpc AS (SELECT label AS pcell FROM dists WHERE vec_id = 0
       |        ORDER BY dist, label LIMIT 3),
       |qrmp AS (SELECT p.pcell, e.pos, CAST(e.x AS DOUBLE) - ct.c AS r
       |         FROM ex e CROSS JOIN qpc p
       |         JOIN cent ct ON ct.label = p.pcell AND ct.pos = e.pos
       |         WHERE e.vec_id = 0),
       |rlutmp AS (SELECT q.pcell, rc.label AS code,
       |                  CAST(floor((q.pos - 1) / 16) AS INT) AS sub,
       |                  sum((q.r - rc.rc) * (q.r - rc.rc)) AS lutd
       |           FROM qrmp q JOIN rcent rc ON rc.pos = q.pos
       |           GROUP BY q.pcell, rc.label, 3),
       |adc10 AS (SELECT c.vec_id, round(sum(l.lutd), 4) AS adc
       |          FROM rcodes c
       |          JOIN assign a ON a.vec_id = c.vec_id
       |          JOIN rlutmp l ON l.pcell = a.cell AND l.sub = c.sub
       |                       AND l.code = c.label
       |          WHERE c.vec_id <> 0
       |          GROUP BY c.vec_id
       |          ORDER BY adc, c.vec_id LIMIT 10),
       |qr AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |exact10 AS (SELECT vec_id,
       |                   round(${sqdistSql("embedding", "qv")}, 4) AS dist
       |            FROM embeddings, qr
       |            WHERE vec_id <> 0
       |            ORDER BY dist, vec_id LIMIT 10)
       |SELECT 10 AS k, count(*) AS n_hits,
       |       round(count(*) / 10.0, 4) AS recall
       |FROM adc10 JOIN exact10 USING (vec_id)""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val exact = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.SquaredDistance.squared_distance(
          col("embedding"), col("qv")), 4).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10)
      .select("vec_id")
    simIvfPqAdcMp.fn(s, d).select("vec_id")
      .join(exact, "vec_id")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(10).as("k"), col("n_hits"),
        round(col("n_hits") / 10.0, 4).as("recall"))
  }

  /** Symmetric int8 quantization per vector (max-abs scaling) — the other
    * half of the 100 TB ANN memory story: 4× smaller vectors, checkable
    * exactly. Code rule `floor(x·127/scale + 0.5)` is pure IEEE double ops
    * + an exact floor, identical on both engines (no round-half ambiguity);
    * `scale = max(|x|)` is exact float math, with scale = 0 (an all-zero
    * vector) guarded to all-zero codes on both engines — unguarded it is
    * 0/0 = NaN, a DuckDB cast error vs Spark nulls. The query emits the
    * exact integer summary (min/max/sum of codes, index-order irrelevant
    * for int sums) rather than 64 code columns. */
  val embInt8Quantize = sql(
    "emb_int8_quantize",
    """WITH s AS (SELECT vec_id, embedding,
      |                  list_max([abs(x) for x in embedding]) AS scale
      |           FROM embeddings),
      |q AS (SELECT vec_id, CAST(scale AS DOUBLE) AS scale,
      |             [CASE WHEN scale = 0 THEN 0
      |                   ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / CAST(scale AS DOUBLE) + 0.5) AS BIGINT) END
      |              for x in embedding] AS codes
      |      FROM s)
      |SELECT vec_id, scale,
      |       CAST(list_min(codes) AS BIGINT) AS qlo,
      |       CAST(list_max(codes) AS BIGINT) AS qhi,
      |       CAST(list_reduce(codes, (a, b) -> a + b) AS BIGINT) AS qsum
      |FROM q ORDER BY vec_id""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        col("embedding"),
        expr("array_max(transform(embedding, x -> abs(x)))").as("scalef"))
      .select(col("vec_id"),
        col("scalef").cast("double").as("scale"),
        expr("transform(embedding, x -> CASE WHEN scalef = 0 THEN 0L " +
          "ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0D / CAST(scalef AS DOUBLE) + 0.5D) AS BIGINT) END)")
          .as("codes"))
      .select(col("vec_id"), col("scale"),
        expr("array_min(codes)").as("qlo"),
        expr("array_max(codes)").as("qhi"),
        expr("aggregate(codes, 0L, (a, v) -> a + v)").as("qsum"))
      .orderBy("vec_id")
  }

  /** kNN LABEL-ACCURACY eval: leave-one-out 10-NN majority-vote
    * classification over a deterministic ~10% probe sample, reported per
    * label — the embedding-quality number (neighborhood label purity) a
    * training pipeline checks before trusting vectors for retrieval or
    * clustering.
    *
    * Scale shape: the probe set is a hash-gated BOUNDED eval sample (same
    * md5-bucket gate as `sample_hash` — reproducible, no rand()) and is
    * broadcast; the corpus side streams past it once. Per-probe top-10 is
    * a window over |corpus| rows per probe — eval-sized work (probes ×
    * corpus), the standard budgeted eval, not an all-pairs product.
    * Majority vote ties break to the smallest label; cosine rank ties to
    * the smallest vec_id; cosines are 4-dp rounded BEFORE ranking on both
    * engines so rank and vote are bit-identical. */
  val simKnnAccuracy = sql(
    "sim_knn_accuracy",
    s"""WITH probes AS (
       |  SELECT vec_id AS pid, embedding AS pv, label AS plabel
       |  FROM embeddings
       |  WHERE ${Sampling.hexBucketSql("vec_id")} < 6554),
       |pairs AS (
       |  SELECT p.pid, p.plabel, e.vec_id, e.label,
       |         round(${dotSql("e.embedding", "p.pv")}
       |               / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("p.pv", "p.pv")})), 4) AS cos
       |  FROM embeddings e, probes p
       |  WHERE e.vec_id <> p.pid),
       |top AS (
       |  SELECT pid, plabel, label FROM (
       |    SELECT pid, plabel, label,
       |           row_number() OVER (PARTITION BY pid ORDER BY cos DESC, vec_id) AS rn
       |    FROM pairs)
       |  WHERE rn <= 10),
       |votes AS (SELECT pid, plabel, label, count(*) AS c
       |          FROM top GROUP BY pid, plabel, label),
       |pred AS (
       |  SELECT pid, plabel, label AS plabel_pred FROM (
       |    SELECT pid, plabel, label,
       |           row_number() OVER (PARTITION BY pid ORDER BY c DESC, label) AS vr
       |    FROM votes)
       |  WHERE vr = 1)
       |SELECT plabel AS label,
       |       CAST(count(*) AS BIGINT) AS n_probes,
       |       CAST(sum(CASE WHEN plabel_pred = plabel THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       round(sum(CASE WHEN plabel_pred = plabel THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS accuracy
       |FROM pred GROUP BY plabel ORDER BY label""".stripMargin) { (s, d) =>
    // norms precomputed ONCE per side before the pairing (the
    // sim_neardup_pairs / sim_knn_graph discipline) — recomputing
    // sqrt(dot(e,e)) inside the pair projection would redo each corpus
    // vector's self-product once PER PROBE; the product keeps the
    // candidate-norm × probe-norm order so the cosine stays bit-identical
    // to the oracle's inline sqrt(dot)·sqrt(dot)
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(dotCol("embedding", "embedding")))
    val probes = emb
      .filter(Sampling.hexBucketCol(col("vec_id")) < 6554)
      .select(col("vec_id").as("pid"), col("embedding").as("pv"),
        col("nrm").as("pnrm"), col("label").as("plabel"))
    val pairs = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("plabel"), col("vec_id"), col("label"),
        round(dotCol("embedding", "pv") / (col("nrm") * col("pnrm")), 4)
          .as("cos"))
    // bounded state per probe (round 12): the top-10 rank window would
    // map-side sort each probe's CORPUS-sized candidate list — the
    // single worst window in the file at 100 TB — while CollectTopK
    // keeps ≤10 rows of state per pid; the majority vote is then an
    // arg-max aggregate over the ≤10 exploded neighbors (min over the
    // ascending (−votes, label) struct ≡ ORDER BY c DESC, label; the
    // heap key normalizes −0.0 via 0.0 − cos so a rounded negative zero
    // cannot order differently than the window's sort did)
    val key = struct((lit(0.0) - col("cos")).as("nc"),
      col("vec_id").as("vec_id"), col("label").as("label"))
    val votes = pairs.groupBy("pid", "plabel")
      .agg(org.apache.spark.sql.GraftSqlBridge
        .collectTopK(key, 10, reverse = true).as("tk"))
      .select(col("pid"), col("plabel"), explode(col("tk")).as("x"))
      .groupBy(col("pid"), col("plabel"), col("x.label").as("label"))
      .agg(count(lit(1)).as("c"))
    val pred = votes.groupBy("pid", "plabel")
      .agg(min(struct((-col("c")).as("nc"), col("label").as("label"))).as("m"))
      .select(col("pid"), col("plabel"),
        (col("m.label") === col("plabel")).cast("long").as("hit"))
    pred.groupBy(col("plabel").as("label"))
      .agg(count(lit(1)).as("n_probes"), sum("hit").as("n_correct"),
        round(sum("hit") * lit(1.0) / count(lit(1)), 4).as("accuracy"))
      .orderBy("label")
  }

  /** ONE SEEDED LLOYD ITERATION (k = 8) — the codebook-TRAINING step the
    * IVF/PQ family presupposes: seed centroids are the first 8 vectors
    * (deterministic, engine-independent init), every vector is assigned to
    * its nearest seed, and the per-cell means become the next codebook.
    * Emitted per cell: member count and centroid drift (squared L2 between
    * seed and updated centroid) — exactly the convergence signal a k-means
    * driver loop monitors. Iterating is this query applied to its own
    * output; one step is the oracle-checkable unit.
    *
    * Scale shape (mirrors `sim_ivf_assign`): k seed rows broadcast against
    * the corpus with the native codegen'd `squared_distance`; argmin is the
    * deterministic `min(struct(dist, cell))` — a partial-aggregable
    * aggregate, NO window over the corpus; the update is one explode +
    * partial-aggregable per-(cell, dim) mean; drift touches k·dim rows.
    * Means are 4-dp rounded BEFORE the drift arithmetic (same discipline
    * as the IVF codebook) so both engines square identical values. */
  val simKmeansStep = sql(
    "sim_kmeans_step",
    """WITH seeds AS (SELECT CAST(vec_id AS INT) AS cell, embedding AS cvec
      |               FROM embeddings WHERE vec_id < 8),
      |sx AS (SELECT cell, unnest(cvec) AS ox,
      |              generate_subscripts(cvec, 1) AS pos
      |       FROM seeds),
      |ex AS (SELECT vec_id, unnest(embedding) AS x,
      |              generate_subscripts(embedding, 1) AS pos
      |       FROM embeddings),
      |dists AS (SELECT e.vec_id, s.cell,
      |                 sum((CAST(e.x AS DOUBLE) - CAST(s.ox AS DOUBLE))
      |                     * (CAST(e.x AS DOUBLE) - CAST(s.ox AS DOUBLE))) AS dist
      |          FROM ex e JOIN sx s ON e.pos = s.pos
      |          GROUP BY e.vec_id, s.cell),
      |assign AS (SELECT vec_id, cell FROM (
      |             SELECT vec_id, cell,
      |                    row_number() OVER (PARTITION BY vec_id
      |                                       ORDER BY dist, cell) AS rn
      |             FROM dists)
      |           WHERE rn = 1),
      |newc AS (SELECT a.cell, e.pos, round(avg(CAST(e.x AS DOUBLE)), 4) AS nc
      |         FROM ex e JOIN assign a ON e.vec_id = a.vec_id
      |         GROUP BY a.cell, e.pos),
      |drift AS (SELECT n.cell,
      |                 round(sum((n.nc - CAST(s.ox AS DOUBLE))
      |                           * (n.nc - CAST(s.ox AS DOUBLE))), 4) AS drift
      |          FROM newc n JOIN sx s ON n.cell = s.cell AND n.pos = s.pos
      |          GROUP BY n.cell),
      |sz AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
      |       FROM assign GROUP BY cell)
      |SELECT sz.cell, sz.n, d.drift
      |FROM sz JOIN drift d ON sz.cell = d.cell
      |ORDER BY sz.cell""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("cvec"))
    val dist = graft.functions.SquaredDistance.squared_distance(
      col("embedding"), col("cvec"))
    val assign = emb.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("cell"), dist.as("dist"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cell"))).getField("cell").as("cell"))
    val newc = emb.join(assign, "vec_id")
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos0", "x")))
      .groupBy("cell", "pos0")
      .agg(round(avg(col("x").cast("double")), 4).as("nc"))
    val oldc = seeds.select(col("cell"),
      posexplode(col("cvec")).as(Seq("pos0", "ox")))
    val diff = col("nc") - col("ox").cast("double")
    val drift = newc.join(oldc, Seq("cell", "pos0"))
      .groupBy("cell")
      .agg(round(sum(diff * diff), 4).as("drift"))
    val sz = assign.groupBy("cell").agg(count(lit(1)).as("n"))
    sz.join(drift, "cell").orderBy("cell")
  }

  /** RANGE SEARCH — every vector within squared-L2 τ² of the query: the
    * threshold-semantics twin of `sim_topk_cosine` (radius dedup, "find
    * everything this close", recall-complete retrieval). τ² = 1.6 keeps
    * ~5% of this corpus.
    *
    * Scale shape: ONE corpus pass — the query vector is a broadcast 1-row
    * side, the distance is the native codegen'd `squared_distance`, the
    * threshold filter runs map-side, and nothing shuffles except the output
    * ordering (plan-guarded). This linearity is deliberate and measured,
    * not a missed optimization: on this corpus GEOMETRIC PRUNING IS
    * STRUCTURALLY DEAD — vectors are unit-norm (‖x‖ ∈ [1−1e-7, 1+1e-7], so
    * the Cauchy-Schwarz norm-band bound |‖x‖−‖q‖| > τ prunes nothing) and
    * cell radii exceed the query-to-centroid gap for every IVF cell (the
    * triangle-inequality bound d(q,c) − r(c) > τ admits all 10 cells).
    * When exactness is required on data like this, the honest 100 TB plan
    * is exactly this embarrassingly-parallel scan; the approximate
    * alternative is the IVF probe, whose quality cost is measured by
    * `sim_ivf_recall`. */
  val simRangeSearch = sql(
    "sim_range_search",
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, round(${sqdistSql("e.embedding", "qv")}, 4) AS d2
       |FROM embeddings e, q
       |WHERE e.vec_id <> 0 AND ${sqdistSql("e.embedding", "qv")} <= 1.6
       |ORDER BY e.vec_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val d2 = graft.functions.SquaredDistance.squared_distance(
      col("embedding"), col("qv"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), d2.as("d2"))
      .filter(col("d2") <= 1.6)
      .select(col("vec_id"), round(col("d2"), 4).as("d2"))
      .orderBy("vec_id")
  }

  /** IVF INDEX BUILD — the construction-side stats job the probe family
    * presupposes: per cell, the member count and the residual-distance
    * summary (Σ and max of ‖x − c(x)‖², carried as EXACT ×10⁴ integers so
    * no float accumulation order can flip an output digit). These are the
    * numbers an ANN planner reads to size nprobe and spot degenerate cells
    * (a cell whose max residual dwarfs the rest needs re-training — see
    * `sim_kmeans_step` for the training iteration itself).
    *
    * Scale shape: one assignment pass (broadcast codebook + native
    * squared-distance + partial-aggregable min(struct) argmin), then the
    * residual recompute joins the TINY codebook back by cell (broadcast)
    * and partial-aggregates — no window, no pair join, linear in the
    * corpus. */
  val simIvfBuild = sql(
    "sim_ivf_build",
    s"""WITH $ivfAssignSqlCte,
       |centlist AS (SELECT label, list(c ORDER BY pos) AS cvec
       |             FROM cent GROUP BY label),
       |res AS (SELECT a.cell,
       |               ${sqdistSql("e.embedding", "cl.cvec")} AS r2
       |        FROM embeddings e
       |        JOIN assign a ON e.vec_id = a.vec_id
       |        JOIN centlist cl ON cl.label = a.cell)
       |SELECT cell, count(*) AS n_members,
       |       CAST(sum(CAST(round(r2 * 10000, 0) AS BIGINT)) AS BIGINT) AS sum_r2_e4,
       |       CAST(max(CAST(round(r2 * 10000, 0) AS BIGINT)) AS BIGINT) AS max_r2_e4
       |FROM res GROUP BY cell ORDER BY cell""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val r2 = graft.functions.SquaredDistance.squared_distance(
      col("embedding"), col("cvec"))
    val r2e4 = round(r2 * 10000).cast("long")
    emb.join(ivfAssignDf(s, d), "vec_id")
      .join(broadcast(ivfCodebook(s, d)), col("cell") === col("clabel"))
      .select(col("cell"), r2e4.as("r2e4"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
        sum("r2e4").as("sum_r2_e4"), max("r2e4").as("max_r2_e4"))
      .orderBy("cell")
  }

  /** DIMENSION-TRUNCATION recall certificate — top-10 by cosine on the
    * FIRST 16 of 64 dims vs the full-dimension ground truth: what a
    * Matryoshka-style prefix truncation (4× cheaper scans, 4× smaller
    * index) costs in recall on THIS corpus, measured the same way
    * `sim_ivf_recall` prices the probe and `sim_pq_recall` prices PQ.
    * The three certificates together are the accuracy/cost frontier an
    * operator picks from at 100 TB. Slices are in-row (`slice`/list
    * ranges), cosines the usual bit-identical ascending fold, ranking on
    * the 4-dp round with vec_id tie-break. */
  val simTruncRecall = sql(
    "sim_trunc_recall",
    s"""WITH qr AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |bf AS (SELECT vec_id,
       |              round(${dotSql("embedding", "qv")}
       |                    / (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |       FROM embeddings, qr
       |       WHERE vec_id <> 0
       |       ORDER BY cos DESC, vec_id LIMIT 10),
       |tr AS (SELECT vec_id,
       |              round(${dotSql("embedding[1:16]", "qv[1:16]")}
       |                    / (sqrt(${dotSql("embedding[1:16]", "embedding[1:16]")})
       |                       * sqrt(${dotSql("qv[1:16]", "qv[1:16]")})), 4) AS cos
       |       FROM embeddings, qr
       |       WHERE vec_id <> 0
       |       ORDER BY cos DESC, vec_id LIMIT 10)
       |SELECT 10 AS k, count(*) AS n_trunc_hits,
       |       round(count(*) / 10.0, 4) AS recall
       |FROM bf JOIN tr USING (vec_id)""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    def dot16(a: String, b: String) =
      graft.functions.DotProduct.dot_product(
        slice(col(a), 1, 16), slice(col(b), 1, 16))
    val tr = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot16("embedding", "qv")
          / (sqrt(dot16("embedding", "embedding")) * sqrt(dot16("qv", "qv"))), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
    simTopK.fn(s, d).select(col("vec_id"))
      .join(tr.select(col("vec_id")), "vec_id")
      .agg(count(lit(1)).as("n_trunc_hits"))
      .select(lit(10).as("k"), col("n_trunc_hits"),
        round(col("n_trunc_hits") / 10.0, 4).as("recall"))
  }

  /** DuckDB CTE chain ending in `qz(vec_id, codes)` — the max-abs int8
    * quantization codes, the SAME scheme `emb_int8_quantize` certifies.
    * A scale of 0 (all-zero embedding — legal degenerate input) quantizes
    * to all-zero codes explicitly: without the guard 0/0 = NaN, which
    * DuckDB rejects at the BIGINT cast while Spark nulls — a
    * crash/divergence on a valid row. */
  private val int8CodesSqlCte: String =
    """s8 AS (SELECT vec_id, embedding,
      |               list_max([abs(x) for x in embedding]) AS scale
      |        FROM embeddings),
      |qz AS (SELECT vec_id,
      |              [CASE WHEN scale = 0 THEN 0
      |                    ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / CAST(scale AS DOUBLE) + 0.5) AS BIGINT) END
      |               for x in embedding] AS codes
      |       FROM s8)""".stripMargin

  /** Spark side of `qz`: per-vector max-abs int8 codes, carried as FLOAT
    * so the native codegen'd `dot_product` runs them. Codes are ≤127 and
    * 64-dim code dot products are ≤127²·64 ≈ 1.03M < 2²⁴, so every product
    * and partial sum is EXACT in float32/float64 — the "integer" dot is
    * bit-identical across engines with no integer fold needed. */
  private def int8Codes(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("array_max(transform(embedding, x -> abs(x)))").as("scalef"),
        col("embedding"))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CASE WHEN scalef = 0 THEN CAST(0 AS FLOAT) " +
          "ELSE CAST(CAST(floor(CAST(x AS DOUBLE) * 127.0D / CAST(scalef AS DOUBLE) + 0.5D) AS BIGINT) AS FLOAT) END)")
          .as("codes"))

  /** INT8 top-k — the quantized SERVING scan: cosine over the int8 codes.
    * The per-vector scales CANCEL out of cosine (cos₈ = dot₈(a,q) /
    * (√dot₈(a,a)·√dot₈(q,q))), so the ranking needs no dequantization and
    * every dot is an exact small-integer sum — 4× less memory bandwidth
    * than the float scan (the actual 100 TB win: an int8 corpus fits 4×
    * more vectors per node), with `sim_int8_recall` pricing the accuracy.
    * Scale shape: same one-pass broadcast-query scan as `sim_topk_cosine`;
    * ranking on the 4-dp-rounded score with vec_id tie-break. */
  val simInt8Topk = sql(
    "sim_int8_topk",
    s"""WITH $int8CodesSqlCte,
       |qr AS (SELECT codes AS qc FROM qz WHERE vec_id = 0)
       |SELECT vec_id,
       |       round(${dotSql("codes", "qc")}
       |             / (sqrt(${dotSql("codes", "codes")}) * sqrt(${dotSql("qc", "qc")})), 4) AS cos8
       |FROM qz, qr
       |WHERE vec_id <> 0
       |ORDER BY cos8 DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val codes = int8Codes(s, d)
    val q = codes.filter(col("vec_id") === 0).select(col("codes").as("qc"))
    def dot8(a: String, b: String) =
      graft.functions.DotProduct.dot_product(col(a), col(b))
    codes.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot8("codes", "qc")
          / (sqrt(dot8("codes", "codes")) * sqrt(dot8("qc", "qc"))), 4)
          .as("cos8"))
      .orderBy(col("cos8").desc, col("vec_id"))
      .limit(10)
  }

  /** INT8 RECALL certificate — recall@10 of the quantized scan vs the
    * float brute-force ground truth, completing the quantization frontier
    * next to `sim_trunc_recall` (fewer dims) and `sim_pq_recall` (fewer
    * bits per dim): an operator at 100 TB picks a point on this MEASURED
    * accuracy/cost curve, never an asserted one. */
  val simInt8Recall = sql(
    "sim_int8_recall",
    s"""WITH $int8CodesSqlCte,
       |qr AS (SELECT codes AS qc FROM qz WHERE vec_id = 0),
       |fqr AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |bf AS (SELECT vec_id,
       |              round(${dotSql("embedding", "qv")}
       |                    / (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |       FROM embeddings, fqr
       |       WHERE vec_id <> 0
       |       ORDER BY cos DESC, vec_id LIMIT 10),
       |i8 AS (SELECT vec_id,
       |              round(${dotSql("codes", "qc")}
       |                    / (sqrt(${dotSql("codes", "codes")}) * sqrt(${dotSql("qc", "qc")})), 4) AS cos8
       |       FROM qz, qr
       |       WHERE vec_id <> 0
       |       ORDER BY cos8 DESC, vec_id LIMIT 10)
       |SELECT 10 AS k, count(*) AS n_int8_hits,
       |       round(count(*) / 10.0, 4) AS recall
       |FROM bf JOIN i8 USING (vec_id)""".stripMargin) { (s, d) =>
    simTopK.fn(s, d).select(col("vec_id"))
      .join(simInt8Topk.fn(s, d).select(col("vec_id")), "vec_id")
      .agg(count(lit(1)).as("n_int8_hits"))
      .select(lit(10).as("k"), col("n_int8_hits"),
        round(col("n_int8_hits") / 10.0, 4).as("recall"))
  }

  /** INT8 × SUB-SHARDING JOINT CERTIFICATE (round-10 VERDICT #5):
    * `sim_int8_recall` prices quantization loss on the s=1 full-scan path
    * and `sim_knn_shard_recall` prices sharding loss on the float
    * representation — but a deployed quantized index runs BOTH at once,
    * and their losses need not compose independently (sharding slabs on
    * the STORED representation, so quantizing the slab coordinate can
    * move vectors across slab boundaries). This certificate runs the
    * within-cell kNN chain over the int8 CODES (the honest deployment
    * shape: the index ranks and slabs what it stores) at the forced
    * [[ShardRecallCap]], against the exact FLOAT within-cell top-3 ground
    * truth, reporting both the quantization-only recall (int8 codes,
    * uncapped) and the joint recall (int8 codes, sharded) side by side —
    * so independence is a column comparison, not an assumption:
    * recall_joint ≈ recall_int8 × (the float shard recall from
    * `sim_knn_shard_recall`) iff the losses are independent. Cell
    * assignment stays on the float corpus (IVF assigns before the index
    * quantizes). Exact small-integer dots (codes ≤ 127, 64-dim → every
    * product and partial sum < 2²⁴ is exact in double) keep both engines
    * bit-identical; ranking on the 4-dp-rounded cosine with dst
    * tie-break, recall in exact integer arithmetic until the final
    * division. */
  val simInt8ShardRecall = sql(
    "sim_int8_shard_recall",
    s"""WITH $ivfAssignSqlCte,
       |$int8CodesSqlCte,
       |qemb AS (SELECT vec_id, codes AS embedding FROM qz),
       |${knnRankedSqlCteFor(NoShardCap, "_x")},
       |${knnRankedSqlCteFor(NoShardCap, "_q", table = "qemb")},
       |${knnRankedSqlCteFor(ShardRecallCap, "_j", table = "qemb")},
       |top_x AS (SELECT src, dst FROM rk_x WHERE rn <= 3),
       |top_q AS (SELECT src, dst FROM rk_q WHERE rn <= 3),
       |top_j AS (SELECT src, dst FROM rk_j WHERE rn <= 3),
       |tot AS (SELECT count(*) AS n_exact FROM top_x),
       |hq AS (SELECT count(*) AS n_hit_int8
       |       FROM top_x JOIN top_q USING (src, dst)),
       |hj AS (SELECT count(*) AS n_hit_joint
       |       FROM top_x JOIN top_j USING (src, dst))
       |SELECT n_exact, n_hit_int8, n_hit_joint,
       |       round(CAST(n_hit_int8 AS DOUBLE) / n_exact, 4) AS recall_int8_at3,
       |       round(CAST(n_hit_joint AS DOUBLE) / n_exact, 4) AS recall_joint_at3
       |FROM tot, hq, hj""".stripMargin) { (s, d) =>
    val assign = ivfAssignDf(s, d).localCheckpoint()
    // codes are a narrow map over the scan — cheap enough to recompute
    // per consumer; the expensive frames below are the ones checkpointed
    val codes = int8Codes(s, d)
      .select(col("vec_id"), col("codes").as("embedding"))
    // float exact ground truth feeds n_exact + BOTH hit joins — and it
    // is the SAME frame sim_knn_shard_recall grades against, so it is
    // shared index state (one build per application+corpus, parquet
    // snapshot; see [[sharedExactKnnTop3]])
    val exact = sharedExactKnnTop3(s, d, assign)
    val q8 = knnRankedDf(s, d, cap = NoShardCap, sharedAssign = Some(assign),
        embSource = Some(codes), topK = Some(3))
      .select("src", "dst")
    val j8 = knnRankedDf(s, d, cap = ShardRecallCap, sharedAssign = Some(assign),
        embSource = Some(codes), topK = Some(3))
      .select("src", "dst")
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    val hq = exact.join(q8, Seq("src", "dst"))
      .agg(count(lit(1)).as("n_hit_int8"))
    val hj = exact.join(j8, Seq("src", "dst"))
      .agg(count(lit(1)).as("n_hit_joint"))
    tot.crossJoin(hq).crossJoin(hj)
      .select(col("n_exact"), col("n_hit_int8"), col("n_hit_joint"),
        round(col("n_hit_int8").cast("double") / col("n_exact"), 4).as("recall_int8_at3"),
        round(col("n_hit_joint").cast("double") / col("n_exact"), 4).as("recall_joint_at3"))
  }

  /** FIXED-POINT multi-iteration k-means (2 full Lloyd rounds) — the
    * codebook-training loop `sim_kmeans_step` takes one step of, made
    * BIT-REPRODUCIBLE: embeddings quantize once to 2⁻²⁰ fixed point
    * (float32 × 2²⁰ is an exact exponent shift, so the rounding is of an
    * exact value — no float-summation-order dependence anywhere), every
    * distance is an exact int64 sum of squares, and centroid updates are
    * floor(Σx/n) back in fixed point. Identical labels on every engine,
    * executor count, and partition order — the determinism a reproducible
    * 100 TB curation run (and its audit) actually requires, which a
    * float k-means cannot give (tie/boundary flips under reduction
    * reorder). Output: per-cell size, exact inertia, and the iter-1→2
    * centroid drift.
    *
    * Scale shape per round: one broadcast of the 8×16 codebook, one
    * partial-aggregable argmin pass, one partial-aggregable centroid
    * re-sum — no windows over the corpus, no pair joins; rounds compose
    * linearly. (A cell that loses all members drops out of the next
    * codebook on both engines identically.) */
  val simKmeansIter = sql(
    "sim_kmeans_iter",
    """WITH xi AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576)
      |                        AS BIGINT) AS xv
      |            FROM embeddings),
      |c1 AS (SELECT CAST(vec_id AS INT) AS cell, pos, xv AS cv
      |       FROM xi WHERE vec_id < 8),
      |d1 AS (SELECT x.vec_id, c.cell,
      |              sum((x.xv - c.cv) * (x.xv - c.cv)) AS dist
      |       FROM xi x JOIN c1 c ON x.pos = c.pos GROUP BY x.vec_id, c.cell),
      |a1 AS (SELECT vec_id, cell FROM
      |         (SELECT vec_id, cell,
      |                 row_number() OVER (PARTITION BY vec_id
      |                                    ORDER BY dist, cell) AS rn
      |          FROM d1) WHERE rn = 1),
      |c2 AS (SELECT a.cell, x.pos,
      |              CAST(floor(CAST(sum(x.xv) AS DOUBLE) / count(*)) AS BIGINT)
      |                AS cv
      |       FROM xi x JOIN a1 a ON x.vec_id = a.vec_id GROUP BY a.cell, x.pos),
      |d2 AS (SELECT x.vec_id, c.cell,
      |              sum((x.xv - c.cv) * (x.xv - c.cv)) AS dist
      |       FROM xi x JOIN c2 c ON x.pos = c.pos GROUP BY x.vec_id, c.cell),
      |a2 AS (SELECT vec_id, cell, dist FROM
      |         (SELECT vec_id, cell, dist,
      |                 row_number() OVER (PARTITION BY vec_id
      |                                    ORDER BY dist, cell) AS rn
      |          FROM d2) WHERE rn = 1),
      |n2 AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
      |              CAST(sum(dist) AS BIGINT) AS inertia
      |       FROM a2 GROUP BY cell),
      |dr AS (SELECT c2.cell, CAST(sum(abs(c2.cv - c1.cv)) AS BIGINT) AS drift
      |       FROM c2 JOIN c1 ON c2.cell = c1.cell AND c2.pos = c1.pos
      |       GROUP BY c2.cell)
      |SELECT n2.cell, n2.n, n2.inertia, dr.drift
      |FROM n2 JOIN dr ON n2.cell = dr.cell ORDER BY n2.cell""".stripMargin) { (s, d) =>
    val xq = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(expr(
        "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT))"))
        .as(Seq("pos", "xv")))
    val c1 = xq.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("pos"),
        col("xv").as("cv"))
    def assignTo(c: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val diff = col("xv") - col("cv")
      xq.join(broadcast(c), "pos")
        .groupBy(col("vec_id"), col("cell"))
        .agg(sum(diff * diff).as("dist"))
        .groupBy("vec_id")
        .agg(min(struct(col("dist"), col("cell"))).as("m"))
        .select(col("vec_id"), col("m.cell").as("cell"), col("m.dist").as("dist"))
    }
    val a1 = assignTo(c1)
    val c2 = xq.join(a1.select("vec_id", "cell"), "vec_id")
      .groupBy("cell", "pos")
      .agg(floor(sum("xv").cast("double") / count(lit(1))).cast("long").as("cv"))
    val a2 = assignTo(c2)
    val n2 = a2.groupBy("cell")
      .agg(count(lit(1)).as("n"), sum("dist").as("inertia"))
    val dr = c2.join(c1.select(col("cell"), col("pos"), col("cv").as("cv1")),
        Seq("cell", "pos"))
      .groupBy("cell")
      .agg(sum(abs(col("cv") - col("cv1"))).as("drift"))
    n2.join(dr, "cell")
      .select(col("cell"), col("n"), col("inertia"), col("drift"))
      .orderBy("cell")
  }

  /** FARTHEST-POINT (k-center greedy, Gonzalez 1985) codebook seeding —
    * the deterministic alternative to k-means++'s weighted sampling: seed
    * from vec 0, then 3× pick the vector farthest from its nearest
    * already-chosen center (min-id tie-break). 2-approximation for the
    * k-center radius, and — in the same 2⁻²⁰ fixed point as
    * `sim_kmeans_iter` — fully BIT-REPRODUCIBLE: no RNG, no float
    * reduction-order sensitivity, so the seed set (and thus the whole
    * training run) replays identically anywhere. Emits each selection
    * with its gap (the chosen vector's exact squared distance to the
    * nearest earlier center — the decreasing coverage-radius curve).
    *
    * Scale shape per round: one 16-row center broadcast + one
    * partial-aggregable distance pass + a 1-row max(struct) argmax —
    * k passes total, no window over the corpus, no pair join. */
  val simKcenterInit = sql(
    "sim_kcenter_init",
    """WITH xi AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576)
      |                        AS BIGINT) AS xv
      |            FROM embeddings),
      |cen0 AS (SELECT pos, xv AS cv FROM xi WHERE vec_id = 0),
      |e1 AS (SELECT x.vec_id, sum((x.xv - c.cv) * (x.xv - c.cv)) AS dist
      |       FROM xi x JOIN cen0 c ON x.pos = c.pos GROUP BY x.vec_id),
      |s1 AS (SELECT vec_id, dist FROM
      |         (SELECT vec_id, dist,
      |                 row_number() OVER (ORDER BY dist DESC, vec_id) AS rn
      |          FROM e1) WHERE rn = 1),
      |cen1 AS (SELECT x.pos, x.xv AS cv FROM xi x JOIN s1 ON x.vec_id = s1.vec_id),
      |n2 AS (SELECT x.vec_id, sum((x.xv - c.cv) * (x.xv - c.cv)) AS dist
      |       FROM xi x JOIN cen1 c ON x.pos = c.pos GROUP BY x.vec_id),
      |f2 AS (SELECT e1.vec_id, least(e1.dist, n2.dist) AS dist
      |       FROM e1 JOIN n2 ON e1.vec_id = n2.vec_id),
      |s2 AS (SELECT vec_id, dist FROM
      |         (SELECT vec_id, dist,
      |                 row_number() OVER (ORDER BY dist DESC, vec_id) AS rn
      |          FROM f2) WHERE rn = 1),
      |cen2 AS (SELECT x.pos, x.xv AS cv FROM xi x JOIN s2 ON x.vec_id = s2.vec_id),
      |n3 AS (SELECT x.vec_id, sum((x.xv - c.cv) * (x.xv - c.cv)) AS dist
      |       FROM xi x JOIN cen2 c ON x.pos = c.pos GROUP BY x.vec_id),
      |f3 AS (SELECT f2.vec_id, least(f2.dist, n3.dist) AS dist
      |       FROM f2 JOIN n3 ON f2.vec_id = n3.vec_id),
      |s3 AS (SELECT vec_id, dist FROM
      |         (SELECT vec_id, dist,
      |                 row_number() OVER (ORDER BY dist DESC, vec_id) AS rn
      |          FROM f3) WHERE rn = 1)
      |SELECT 0 AS step, CAST(0 AS BIGINT) AS vec_id, CAST(0 AS BIGINT) AS gap
      |UNION ALL SELECT 1, vec_id, CAST(dist AS BIGINT) FROM s1
      |UNION ALL SELECT 2, vec_id, CAST(dist AS BIGINT) FROM s2
      |UNION ALL SELECT 3, vec_id, CAST(dist AS BIGINT) FROM s3
      |ORDER BY step""".stripMargin) { (s, d) =>
    val xq = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(expr(
        "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT))"))
        .as(Seq("pos", "xv")))
    def distTo(center: org.apache.spark.sql.DataFrame) = {
      val diff = col("xv") - col("cv")
      xq.join(broadcast(center), "pos")
        .groupBy("vec_id").agg(sum(diff * diff).as("dist"))
    }
    // argmax with min-id tie-break as a 1-row aggregate (never a corpus
    // rank window): max(struct(dist, -id)) picks highest dist, then
    // highest -id = LOWEST id
    def argmax(dm: org.apache.spark.sql.DataFrame) =
      dm.agg(max(struct(col("dist").as("dv"), (-col("vec_id")).as("ni"))).as("m"))
        .select((-col("m.ni")).as("vec_id"), col("m.dv").as("gap"))
    def centerOf(sel: org.apache.spark.sql.DataFrame) =
      xq.join(broadcast(sel.select("vec_id")), "vec_id")
        .select(col("pos"), col("xv").as("cv"))
    val cen0 = xq.filter(col("vec_id") === 0)
      .select(col("pos"), col("xv").as("cv"))
    val e1 = distTo(cen0)
    val s1 = argmax(e1)
    val f2 = e1.join(distTo(centerOf(s1)).withColumnRenamed("dist", "d2"), "vec_id")
      .select(col("vec_id"), least(col("dist"), col("d2")).as("dist"))
    val s2 = argmax(f2)
    val f3 = f2.join(distTo(centerOf(s2)).withColumnRenamed("dist", "d3"), "vec_id")
      .select(col("vec_id"), least(col("dist"), col("d3")).as("dist"))
    val s3 = argmax(f3)
    def row(step: Int, sel: org.apache.spark.sql.DataFrame) =
      sel.select(lit(step).as("step"), col("vec_id").cast("long").as("vec_id"),
        col("gap").cast("long").as("gap"))
    s.range(1)
      .select(lit(0).as("step"), lit(0L).as("vec_id"), lit(0L).as("gap"))
      .unionByName(row(1, s1)).unionByName(row(2, s2)).unionByName(row(3, s3))
      .orderBy("step")
  }

  /** EMBEDDING OUTLIER flags — encoder QC per label cohort: a vector is
    * an outlier when its squared distance to its label's centroid sits
    * more than 2σ ABOVE the cohort mean (mislabeled/corrupted items,
    * encoder regressions on a slice). The z-test is the `events_anomaly`
    * exact-integer discipline applied to embeddings: centroids and
    * distances live in 2⁻²⁰ fixed point (the `sim_kmeans_iter`
    * quantization), and (n·d − S)² > 4·(n·Q − S²) ∧ n·d > S is evaluated
    * over exact integer sums in DECIMAL(38)/HUGEINT — no float mean or
    * variance ever exists, so the flag is bit-identical across engines
    * and reduction orders.
    *
    * Scale shape: per-(label, dim) centroid sums (partial-aggregable),
    * tiny centroid + stats frames broadcast back, one distance pass, one
    * per-label roll-up. No window, no pair join. */
  val embOutlier = sql(
    "emb_outlier",
    """WITH xi AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
      |                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576)
      |                        AS BIGINT) AS xv
      |            FROM embeddings),
      |cen AS (SELECT label, pos,
      |               CAST(floor(CAST(sum(xv) AS DOUBLE) / count(*)) AS BIGINT)
      |                 AS cv
      |        FROM xi GROUP BY label, pos),
      |d2 AS (SELECT x.vec_id, x.label,
      |              sum((x.xv - c.cv) * (x.xv - c.cv)) AS dd
      |       FROM xi x JOIN cen c ON x.label = c.label AND x.pos = c.pos
      |       GROUP BY x.vec_id, x.label),
      |st AS (SELECT label, count(*) AS n, sum(dd) AS s,
      |              sum(CAST(dd AS HUGEINT) * dd) AS q
      |       FROM d2 GROUP BY label)
      |SELECT st.label, CAST(st.n AS BIGINT) AS n,
      |       CAST(sum(CASE WHEN CAST(st.n AS HUGEINT) * d.dd > st.s
      |                      AND (CAST(st.n AS HUGEINT) * d.dd - st.s)
      |                          * (CAST(st.n AS HUGEINT) * d.dd - st.s)
      |                          > 4 * (st.n * st.q - CAST(st.s AS HUGEINT) * st.s)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       CAST(max(d.dd) AS BIGINT) AS max_d2
      |FROM d2 d JOIN st ON d.label = st.label
      |GROUP BY st.label, st.n ORDER BY st.label""".stripMargin) { (s, d) =>
    val xq = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(expr(
        "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT))"))
        .as(Seq("pos", "xv")))
    val cen = xq.groupBy("label", "pos")
      .agg(floor(sum("xv").cast("double") / count(lit(1))).cast("long").as("cv"))
    val diff = col("xv") - col("cv")
    val d2 = xq.join(broadcast(cen), Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(sum(diff * diff).as("dd"))
    val st = d2.groupBy("label").agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum("dd").cast("decimal(38,0)").as("s"),
      sum(col("dd").cast("decimal(19,0)") * col("dd")).as("q"))
    val dev = col("n") * col("dd") - col("s")
    val isOut = (col("n") * col("dd") > col("s")) &&
      (dev * dev > lit(4) * (col("n") * col("q") - col("s") * col("s")))
    d2.join(broadcast(st), "label")
      .groupBy("label")
      .agg(max(col("n").cast("long")).as("n"),
        sum(when(isOut, 1L).otherwise(0L)).as("n_outliers"),
        max("dd").as("max_d2"))
      .orderBy("label")
  }

  /** Power-iteration rounds. Six rounds of the dominant-eigenvector
    * recurrence; the SAME N generates the Spark driver loop and the
    * oracle CTE chain (the `text_bpe_train` one-N-generates-both
    * discipline). */
  val PcaRounds = 6

  /** Fixed-point scale for the PCA recurrence: ×2²⁰ (the `sim_kmeans_iter`
    * discipline). Every per-round quantity is an EXACT integer — the
    * matrix-vector products live in int128/DECIMAL(38,0) (score ≤ 2^50
    * per vector; the dim-sum ≤ 2^75 per row and ≤ 2^111 even at 10¹¹
    * rows, inside both engines' 38-digit headroom) — so eight orders of
    * float accumulation divergence CANNOT compound across rounds: both
    * engines hold bit-identical v after every round. */
  private val PcaFp = 1048576L

  /** One power-iteration round `pv${k-1} → pv$k` as oracle CTEs: score
    * s_i = cx·v (BIGINT), back-projection u_pos = Σ s_i·cx (HUGEINT),
    * then renormalize to max|v| = 2²⁰ via an exact max and one
    * floor(double) both engines compute identically. The chained CTEs are
    * MATERIALIZED: `pv$k` reads `pu$k` twice (directly and through
    * `pm$k`), so an engine that inlines CTEs evaluates round 1 2^k times
    * by round k (the [[CvOracle]] discipline). */
  private def pcaRoundSqlCte(k: Int): String =
    s"""ps$k AS MATERIALIZED (SELECT c.vec_id, sum(c.cx * v.vv) AS s
       |         FROM pcc c JOIN pv${k - 1} v ON v.pos = c.pos
       |         GROUP BY c.vec_id),
       |pu$k AS MATERIALIZED (SELECT c.pos, sum(CAST(s.s AS HUGEINT) * c.cx) AS u
       |         FROM pcc c JOIN ps$k s ON s.vec_id = c.vec_id
       |         GROUP BY c.pos),
       |pm$k AS (SELECT max(abs(u)) AS m FROM pu$k),
       |pv$k AS MATERIALIZED (SELECT u.pos,
       |                CAST(floor(CAST(u.u AS DOUBLE) * $PcaFp
       |                           / CAST(g.m AS DOUBLE)) AS BIGINT) AS vv
       |         FROM pu$k u CROSS JOIN pm$k g)""".stripMargin

  /** Base CTEs: ×2²⁰ fixed-point embeddings, exact integer centering,
    * and the all-ones start vector. */
  private val pcaBaseSqlCte: String =
    s"""pcx AS (SELECT vec_id,
       |               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
       |               CAST(round(CAST(unnest(embedding) AS DOUBLE) * $PcaFp)
       |                    AS BIGINT) AS xv
       |        FROM embeddings),
       |pcmu AS (SELECT pos, CAST(floor(CAST(sum(xv) AS DOUBLE) / count(*))
       |                          AS BIGINT) AS mu
       |         FROM pcx GROUP BY pos),
       |pcc AS MATERIALIZED (SELECT x.vec_id, x.pos, x.xv - m.mu AS cx
       |        FROM pcx x JOIN pcmu m ON m.pos = x.pos),
       |pv0 AS (SELECT DISTINCT pos, CAST($PcaFp AS BIGINT) AS vv FROM pcx)""".stripMargin

  /** Spark side: the centered fixed-point frame `cc(vec_id, pos, cx)` and
    * the converged direction `v(pos, vv)` after [[PcaRounds]] rounds. Each
    * round is two partial-aggregable aggregates over the exploded frame
    * (score per vector, back-projection per dimension) plus a 1-row max —
    * the MATRIX-FREE power method: the d×d covariance is never
    * materialized, so the shape survives d where an explicit covariance
    * (d² entries) would not. v is 64 rows and localCheckpoints per round
    * (lineage discipline). A zero-variance corpus would make the
    * normalizer 0 and surface as nulls — loud, not silent. */
  private def pcaFrames(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val x = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("pos"),
        round(col("xf").cast("double") * PcaFp, 0).cast("long").as("xv"))
    val mu = x.groupBy("pos")
      .agg(floor(sum("xv").cast("double") / count(lit(1))).cast("long").as("mu"))
    // cc is read TWICE PER ROUND (score + back-projection) plus by the
    // variance tail — un-materialized, each read re-scanned the corpus and
    // re-ran the mu aggregation (~13 corpus passes per query, measured
    // r13). One eager localCheckpoint makes every later read a block scan;
    // state is the exploded (n×d) frame — linear in the corpus, the same
    // shape the dedup/kNN chains already materialize (guide §5: cache what
    // is reused; §2.4: don't re-run passes the plan can keep).
    val cc = x.join(broadcast(mu), "pos")
      .select(col("vec_id"), col("pos"), (col("xv") - col("mu")).as("cx"))
      .localCheckpoint(true)
    var v = cc.select(col("pos")).distinct()
      .select(col("pos"), lit(PcaFp).as("vv")).localCheckpoint(true)
    for (_ <- 1 to PcaRounds) {
      val sc = cc.join(broadcast(v), "pos")
        .groupBy("vec_id").agg(sum(col("cx") * col("vv")).as("s"))
      val u = cc.join(sc, "vec_id")
        .groupBy("pos")
        .agg(sum(col("s").cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * col("cx")).as("u"))
      val m = u.agg(max(abs(col("u"))).as("m"))
      v = u.crossJoin(broadcast(m))
        .select(col("pos"),
          floor(col("u").cast("double") * PcaFp / col("m").cast("double"))
            .cast("long").as("vv"))
        .localCheckpoint(true)
    }
    (cc, v)
  }

  /** TOP PRINCIPAL COMPONENT by matrix-free power iteration — the
    * whitening/compression primitive of an embedding pipeline (what the
    * PQ codebooks and `emb_dim_stats` monitor feed on). Six rounds of
    * v ← C·v over the CENTERED fixed-point frame with exact-integer
    * renormalization to max|v| = 2²⁰; emits the per-dimension loading
    * both as the exact fixed-point certificate and as a readable double.
    *
    * Scale shape: per round two partial-aggregable aggregates over the
    * exploded (n×d) frame + a broadcast 64-row direction — 2·[[PcaRounds]]
    * linear passes, no pair joins, no windows, no d² covariance. Exact
    * integers end-to-end, so the oracle match is bit-for-bit, not
    * round-absorbed. */
  val embPcaPower = sql(
    "emb_pca_power",
    s"""WITH $pcaBaseSqlCte,
       |${(1 to PcaRounds).map(pcaRoundSqlCte).mkString(",\n")}
       |SELECT pos, vv AS loading_fp,
       |       round(vv / $PcaFp.0, 4) AS loading
       |FROM pv$PcaRounds ORDER BY pos""".stripMargin) { (s, d) =>
    pcaFrames(s, d)._2
      .select(col("pos"), col("vv").as("loading_fp"),
        round(col("vv") / lit(PcaFp.toDouble), 4).as("loading"))
      .orderBy("pos")
  }

  /** EXPLAINED-VARIANCE certificate for [[embPcaPower]] — the one-row
    * readout that says whether the component is worth using: the Rayleigh
    * quotient vᵀCv/vᵀv in original units, the total variance (covariance
    * trace), and the explained share. The iteration stays exact-integer;
    * only these three FINAL scalars are double sums (rounded 4 dp, the
    * `emb_dim_stats` float policy). */
  val embPcaVar = sql(
    "emb_pca_var",
    s"""WITH $pcaBaseSqlCte,
       |${(1 to PcaRounds).map(pcaRoundSqlCte).mkString(",\n")},
       |pn AS (SELECT count(DISTINCT vec_id) AS n FROM pcx),
       |psf AS (SELECT c.vec_id, sum(CAST(c.cx AS DOUBLE) * v.vv) AS s
       |        FROM pcc c JOIN pv$PcaRounds v ON v.pos = c.pos
       |        GROUP BY c.vec_id),
       |pvn AS (SELECT sum(CAST(vv AS DOUBLE) * vv) AS v2 FROM pv$PcaRounds),
       |ptr AS (SELECT sum(CAST(cx AS DOUBLE) * cx) AS t2 FROM pcc)
       |SELECT n,
       |       round(sum(s * s) / (n * v2) / $PcaFp / $PcaFp, 4)
       |         AS explained_var,
       |       round(t2 / n / $PcaFp / $PcaFp, 4) AS total_var,
       |       round(sum(s * s) / (n * v2) / t2 * n, 4) AS explained_share
       |FROM psf CROSS JOIN pn CROSS JOIN pvn CROSS JOIN ptr
       |GROUP BY n, v2, t2""".stripMargin) { (s, d) =>
    val (cc, v) = pcaFrames(s, d)
    val sc = cc.join(broadcast(v), "pos")
      .groupBy("vec_id")
      .agg(sum(col("cx").cast("double") * col("vv")).as("s"))
    val n = cc.agg(countDistinct("vec_id").as("n"))
    val v2 = v.agg(sum(col("vv").cast("double") * col("vv")).as("v2"))
    val tr = cc.agg(sum(col("cx").cast("double") * col("cx")).as("t2"))
    sc.crossJoin(broadcast(n)).crossJoin(broadcast(v2))
      .crossJoin(broadcast(tr))
      .groupBy("n", "v2", "t2")
      .agg(
        round(sum(col("s") * col("s")) / (col("n") * col("v2"))
          / PcaFp / PcaFp, 4).as("explained_var"),
        round(col("t2") / col("n") / PcaFp / PcaFp, 4).as("total_var"),
        round(sum(col("s") * col("s")) / (col("n") * col("v2"))
          / col("t2") * col("n"), 4).as("explained_share"))
      .select(col("n"), col("explained_var"), col("total_var"),
        col("explained_share"))
  }

  /** DuckDB CTE chain ending in `bcode(vec_id, lo, hi)` — the 1-bit
    * (binary) quantization codes: bit j is set iff dimension j sits ABOVE
    * the corpus mean of that dimension, packed into two 32-bit halves
    * carried as BIGINTs (one 64-dim vector = 8 bytes). The mean threshold
    * is computed in EXACT integer space: values quantize once to 4-dp ×10⁴
    * BIGINTs (each round() is of a single float32-exact double — no
    * accumulation anywhere), and "above mean" is the cross-multiplied
    * integer predicate vq·n > Σvq — order-independent, engine-proof, no
    * float boundary at all. Two halves rather than one 64-bit word keep
    * every packed code non-negative on both engines (bit 63 of a signed
    * BIGINT is a cross-engine overflow/sign hazard). */
  private val binaryCodesSqlCte: String =
    """bq AS (SELECT vec_id,
      |              [CAST(round(round(CAST(x AS DOUBLE), 4) * 10000, 0) AS BIGINT)
      |               for x in embedding] AS vq
      |       FROM embeddings),
      |bmu AS (SELECT dim, sum(CAST(vq[dim + 1] AS HUGEINT)) AS sq, count(*) AS n
      |        FROM bq, range(64) t(dim) GROUP BY dim),
      |bcode AS (SELECT b.vec_id,
      |                 CAST(sum(CASE WHEN m.dim < 32
      |                                AND CAST(b.vq[m.dim + 1] AS HUGEINT) * m.n > m.sq
      |                           THEN (1::BIGINT << m.dim) ELSE 0 END) AS BIGINT) AS lo,
      |                 CAST(sum(CASE WHEN m.dim >= 32
      |                                AND CAST(b.vq[m.dim + 1] AS HUGEINT) * m.n > m.sq
      |                           THEN (1::BIGINT << (m.dim - 32)) ELSE 0 END) AS BIGINT) AS hi
      |          FROM bq b, bmu m GROUP BY b.vec_id)""".stripMargin

  /** Spark side of `bcode`: same integer mean-threshold bits, but packed
    * WITHOUT shuffling the corpus — the 64-row (Σvq, n) threshold frame
    * reduces to one broadcast row carrying the per-dim sums as an array,
    * and each vector's two code words fold locally over sequence(0..31)/
    * (32..63) against that broadcast. The oracle's explode-and-regroup is
    * the same arithmetic in DuckDB's idiom; at corpus scale the Spark plan
    * is one partial-aggregable 64-key groupBy plus one narrow map. */
  private def binaryCodes(s: org.apache.spark.sql.SparkSession, d: String) = {
    val vqExpr =
      "transform(embedding, x -> CAST(round(round(CAST(x AS DOUBLE), 4) * 10000, 0) AS BIGINT))"
    val ex = Tables.embeddings(s, d).select(col("vec_id"), expr(vqExpr).as("vq"))
    val mu = ex.select(posexplode(col("vq")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(sum(col("v").cast("decimal(38,0)")).as("sq"), count(lit(1)).as("n"))
      .agg(expr("array_sort(collect_list(struct(dim, sq)))").as("ss"),
        max("n").as("n"))
      .select(expr("transform(ss, x -> x.sq)").as("sqs"), col("n"))
    def pack(lowIncl: Int, highIncl: Int, shiftBase: Int) =
      expr(s"""aggregate(sequence($lowIncl, $highIncl), CAST(0 AS BIGINT),
              |  (acc, j) -> acc + IF(CAST(vq[j] AS DECIMAL(38,0)) * n > sqs[j],
              |                       shiftleft(CAST(1 AS BIGINT), j - $shiftBase),
              |                       CAST(0 AS BIGINT)))""".stripMargin)
    ex.crossJoin(broadcast(mu))
      .select(col("vec_id"), pack(0, 31, 0).as("lo"), pack(32, 63, 32).as("hi"))
  }

  /** BINARY (1-bit) top-k — the extreme point of the quantization frontier
    * next to `sim_int8_topk` (8 bits/dim) and `sim_pq_adc` (codebooks): a
    * 64-dim float vector collapses to 8 BYTES, so a 100 TB float corpus
    * scans as ~3 TB of codes — the shape behind every modern
    * binary-embedding serving stack (rerank-after-Hamming). The scan ranks
    * by Hamming distance (two codegen'd bit_count(xor) words, no float
    * math), keeps the top-50 candidates via TakeOrderedAndProject
    * (map-side partial top-k, never a global sort), and REranks only those
    * 50 with the exact float cosine — the candidate set is 0.03% of a
    * billion-vector corpus while `sim_binary_recall` prices what the 1-bit
    * scan loses. Both rankings break ties on exact integers + vec_id, so
    * candidate sets are bit-identical across engines. */
  val simBinaryTopk = sql(
    "sim_binary_topk",
    s"""WITH $binaryCodesSqlCte,
       |bqr AS (SELECT lo AS qlo, hi AS qhi FROM bcode WHERE vec_id = 0),
       |bcand AS (SELECT vec_id,
       |                 CAST(bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS BIGINT) AS ham
       |          FROM bcode, bqr WHERE vec_id <> 0
       |          ORDER BY ham, vec_id LIMIT 50),
       |fqr AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT c.vec_id, c.ham,
       |       round(${dotSql("e.embedding", "qv")}
       |             / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |FROM bcand c JOIN embeddings e USING (vec_id), fqr
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val codes = binaryCodes(s, d)
    val q = codes.filter(col("vec_id") === 0)
      .select(col("lo").as("qlo"), col("hi").as("qhi"))
    val cand = codes.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        expr("CAST(bit_count(lo ^ qlo) + bit_count(hi ^ qhi) AS BIGINT)").as("ham"))
      .orderBy(col("ham"), col("vec_id"))
      .limit(50)
    val emb = Tables.embeddings(s, d)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    cand.join(emb, "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("ham"),
        round(dotCol("embedding", "qv")
          / (sqrt(dotCol("embedding", "embedding")) * sqrt(dotCol("qv", "qv"))), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** BINARY RECALL certificate — recall@10 of the Hamming-candidates-then-
    * exact-rerank path vs the float brute-force ground truth: the measured
    * price of the 32× bandwidth cut, completing the quantization frontier
    * (`sim_trunc_recall` fewer dims / `sim_int8_recall` fewer bits /
    * `sim_pq_recall` codebooks / THIS one bit). An operator sizes the
    * candidate budget from this number, never from the 50 asserted here. */
  val simBinaryRecall = sql(
    "sim_binary_recall",
    s"""WITH $binaryCodesSqlCte,
       |bqr AS (SELECT lo AS qlo, hi AS qhi FROM bcode WHERE vec_id = 0),
       |bcand AS (SELECT vec_id,
       |                 CAST(bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS BIGINT) AS ham
       |          FROM bcode, bqr WHERE vec_id <> 0
       |          ORDER BY ham, vec_id LIMIT 50),
       |fqr AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |bn AS (SELECT c.vec_id,
       |              round(${dotSql("e.embedding", "qv")}
       |                    / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |       FROM bcand c JOIN embeddings e USING (vec_id), fqr
       |       ORDER BY cos DESC, vec_id LIMIT 10),
       |bf AS (SELECT vec_id,
       |              round(${dotSql("embedding", "qv")}
       |                    / (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("qv", "qv")})), 4) AS cos
       |       FROM embeddings, fqr
       |       WHERE vec_id <> 0
       |       ORDER BY cos DESC, vec_id LIMIT 10)
       |SELECT 10 AS k, count(*) AS n_binary_hits,
       |       round(count(*) / 10.0, 4) AS recall
       |FROM bf JOIN bn USING (vec_id)""".stripMargin) { (s, d) =>
    simTopK.fn(s, d).select(col("vec_id"))
      .join(simBinaryTopk.fn(s, d).select(col("vec_id")), "vec_id")
      .agg(count(lit(1)).as("n_binary_hits"))
      .select(lit(10).as("k"), col("n_binary_hits"),
        round(col("n_binary_hits") / 10.0, 4).as("recall"))
  }

  val defs: Seq[QueryDef] = Seq(
    simTopK, simFilteredTopk, simIvfAssign, simIvfTopk, simIvfTopkMp, simIvfBatchTopk, simMmrRerank, simIvfRecall,
    simIvfRecallMp, simNearDup, simKnnGraph, simKnnShardRecall,
    simHardNegatives, simMarginMine,
    graphTriangles, simLshBuckets, simPqCodes,
    simPqAdc, simPqRecall, embInt8Quantize, simKnnAccuracy, simKmeansStep,
    simRangeSearch, simIvfBuild, simTruncRecall, simMrlAdaptive, graphPagerank, embDimStats,
    semDedup, simIvfPqAdc, simInt8Topk, simInt8Recall, simInt8ShardRecall,
    simIvfPqAdcMp, simIvfPqRecallMp, embCohortDrift, simKmeansIter,
    simKcenterInit, embOutlier, embPcaPower, embPcaVar,
    simBinaryTopk, simBinaryRecall, graphLabelProp)
}
