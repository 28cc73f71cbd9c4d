package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Tables.localSession("similarity-spec", cores = 8)
  val sf = "/root/testdata/sf0.001"

  test("hyperplane signatures deterministic; planes seeded and bounded") {
    val p1 = Similarity.hyperplaneSignature()
    val p2 = Similarity.hyperplaneSignature()
    assert(p1.map(_.toSeq).toSeq == p2.map(_.toSeq).toSeq)
    assert(p1.length == 16 && p1.forall(_.length == 64))
    assert(p1.flatten.forall(v => v > -1.0 && v < 1.0))
    assert(Similarity.hyperplaneSignature(seed = 7L).head.toSeq != p1.head.toSeq)
  }

  test("LSH bucket assignment deterministic and well-formed") {
    val a = Similarity.simLshBuckets.fn(spark, sf).collect()
    val b = Similarity.simLshBuckets.fn(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    assert(a.length == Tables.embeddings(spark, sf).count())
    a.foreach { r =>
      val bucket = r.getAs[Int]("bucket")
      assert(bucket >= 0 && bucket < (1 << 16))
    }
    // buckets actually partition the space (not all vectors in one bucket)
    assert(a.map(_.getAs[Int]("bucket")).distinct.length > 1)
  }

  test("sign LSH is scale-invariant: v and 2.5·v share a signature") {
    val planes = Similarity.hyperplaneSignature()
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val v = Array.fill(64)(rnd.nextFloat() * 2 - 1)
      val scaled = v.map(_ * 2.5f)
      assert(Similarity.signatureOf(v, planes) == Similarity.signatureOf(scaled, planes))
    }
  }

  /** Planted embeddings table: (vec_id, 64-dim float vector, label). */
  private def writeEmbeddings(rows: Seq[(Long, Array[Float], Int)]): String = {
    import spark.implicits._
    val dir = tempDir("sim-emb").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** One-hot 64-dim direction for label L (orthogonal across labels). */
  private def oneHot(dim: Int): Array[Float] = {
    val v = Array.fill(64)(0.0f); v(dim) = 1.0f; v
  }

  test("sim_knn_accuracy: orthogonal label clusters classify perfectly") {
    // 4 labels × 50 identical vectors; cross-label cosine is exactly 0, so
    // every probe's 10-NN are all same-label → every accuracy row is 1.0.
    val rows = for (l <- 0 until 4; i <- 0 until 50)
      yield ((l * 50 + i).toLong, oneHot(l), l)
    val dir = writeEmbeddings(rows)
    val got = Similarity.simKnnAccuracy.fn(spark, dir).collect()
    assert(got.nonEmpty, "the md5 probe gate must select some of 200 ids")
    got.foreach { r =>
      assert(r.getAs[Double]("accuracy") == 1.0,
        s"label ${r.get(0)}: ${r.getAs[Double]("accuracy")}")
      assert(r.getAs[Long]("n_correct") == r.getAs[Long]("n_probes"))
    }
  }

  test("sim_pq_adc + sim_pq_recall: orthogonal clusters give exact-code hits") {
    // 4 labels × 50 identical one-hot vectors. Per-label sub-centroids
    // equal the cluster vector, so every label-0 candidate shares the
    // query's codes: ADC distance 0 (4 exact LUT hits). Cross-label ADC is
    // 2.0 (one-hot vs one-hot in sub 0). The ADC top-10 and the exact-L2
    // top-10 are both vec_ids 1..10 → recall exactly 1.0.
    val rows = for (l <- 0 until 4; i <- 0 until 50)
      yield ((l * 50 + i).toLong, oneHot(l), l)
    val dir = writeEmbeddings(rows)
    val adc = Similarity.simPqAdc.fn(spark, dir).collect()
    assert(adc.length == 10)
    adc.foreach { r =>
      assert(r.getAs[Long]("vec_id") >= 1L && r.getAs[Long]("vec_id") <= 10L)
      assert(r.getAs[Double]("adc") == 0.0, s"ADC of a same-code candidate: $r")
    }
    val rec = Similarity.simPqRecall.fn(spark, dir).collect().head
    assert(rec.getAs[Long]("n_hits") == 10L)
    assert(rec.getAs[Double]("recall") == 1.0)
  }

  test("sim_kmeans_step: members glued to their seeds produce zero drift") {
    // seeds 0..7 are 8 orthogonal one-hot directions; 5 extra exact copies
    // of each seed. Every copy assigns to its seed's cell (distance 0) and
    // the per-cell mean equals the seed → drift exactly 0.0 for all cells.
    val seeds = (0 until 8).map(l => (l.toLong, oneHot(l), l))
    val copies = for (l <- 0 until 8; i <- 0 until 5)
      yield ((8 + l * 5 + i).toLong, oneHot(l), l)
    val dir = writeEmbeddings(seeds ++ copies)
    val got = Similarity.simKmeansStep.fn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getAs[Double]("drift")))
    assert(got.map(_._1).toSeq == (0 until 8).toSeq, "one row per cell, ordered")
    got.foreach { case (cell, n, drift) =>
      assert(n == 6L, s"cell $cell: expected seed + 5 copies, got $n")
      assert(drift == 0.0, s"cell $cell drifted: $drift")
    }
  }

  test("sim_filtered_topk: equals the brute-force scan restricted to the label") {
    val rows = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val q = rows.find(_._1 == 0L).get._2
    def cos(a: Array[Double], b: Array[Double]) = {
      var i = 0; var ab = 0.0; var aa = 0.0; var bb = 0.0
      while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      math.rint(ab / (math.sqrt(aa) * math.sqrt(bb)) * 1e4) / 1e4
    }
    val want = rows.filter(r => r._1 != 0L && r._3 == 3)
      .map(r => (r._1, cos(r._2, q)))
      .sortBy { case (v, c) => (-c, v) }.take(10).toSeq
    val got = SparkEntry.queries("sim_filtered_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("cos"))).toSeq
    assert(got == want, s"filtered scan forked: $got vs $want")
    SparkEntry.queries("sim_filtered_topk")(spark, sf).collect()
      .foreach(r => assert(r.getInt(1) == 3, "every hit must satisfy the filter"))
  }

  test("sim_mmr_rerank: equals a sequential greedy MMR replay; mmr is monotone") {
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cosI(a: Array[Double], b: Array[Double]): Long = {
      var i = 0; var ab = 0.0; var aa = 0.0; var bb = 0.0
      while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      math.rint(math.rint(ab / (math.sqrt(aa) * math.sqrt(bb)) * 1e4) / 1e4 * 1e4).toLong
    }
    val q = emb(0L)
    val top = emb.keys.filter(_ != 0L).toSeq
      .map(v => v -> cosI(emb(v), q))
      .sortBy { case (v, c) => (-c, v) }.take(20)
    val ciMap = top.toMap
    var selected = Vector.empty[Long]
    val replay = (1 to 5).map { k =>
      val cand = top.filterNot { case (v, _) => selected.contains(v) }
        .map { case (v, c) =>
          val pen = if (selected.isEmpty) 0L
            else selected.map(s => cosI(emb(v), emb(s))).max
          (v, c, pen)
        }
      val (wv, wc, wp) = cand.minBy { case (v, c, p) => (-(c - p), v) }
      selected :+= wv
      (k.toLong, wv, wc, wp)
    }
    val got = SparkEntry.queries("sim_mmr_rerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getAs[Double]("cos") * 1e4).toLong,
        math.rint(r.getAs[Double]("penalty") * 1e4).toLong))
    assert(got.toSeq == replay, s"MMR forked: ${got.toSeq} vs $replay")
    // ranks ≥ 2 optimize the same objective over a shrinking candidate set
    // with growing penalties → non-increasing; rank 1 ignores penalties
    // (which can be NEGATIVE for anti-correlated vectors), so it is excluded
    val mmrs = SparkEntry.queries("sim_mmr_rerank")(spark, sf).collect()
      .map(_.getAs[Double]("mmr")).drop(1)
    assert(mmrs.sameElements(mmrs.sorted.reverse),
      s"greedy MMR scores from rank 2 must be non-increasing: ${mmrs.toSeq}")
  }

  test("sim_ivf_batch_topk: batched results equal a per-query sequential replay") {
    val assign = SparkEntry.queries("sim_ivf_assign")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      var i = 0; var ab = 0.0; var aa = 0.0; var bb = 0.0
      while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      math.rint(ab / (math.sqrt(aa) * math.sqrt(bb)) * 1e4) / 1e4
    }
    val want = (0L until 10L).flatMap { q =>
      emb.keys.filter(v => v >= 10 && assign(v) == assign(q)).toSeq
        .map(v => (v, cos(emb(v), emb(q))))
        .sortBy { case (v, c) => (-c, v) }.take(3).zipWithIndex
        .map { case ((v, c), i) => (q, v, (i + 1).toLong, c) }
    }.toSet
    val got = SparkEntry.queries("sim_ivf_batch_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getAs[Double]("cos")))
      .toSet
    assert(got == want,
      s"batched probe forked: extra ${(got diff want).take(3)}, missing ${(want diff got).take(3)}")
    assert(got.map(_._1).size > 1, "fixture must exercise several queries")
  }

  test("graph_label_prop: communities never cross orthogonal label clusters") {
    // 4 labels × 50 identical one-hot vectors: within-label cosine is 1,
    // cross-label 0, so kNN edges never cross labels and no community may
    // span two labels
    val rows = for (l <- 0 until 4; i <- 0 until 50)
      yield ((l * 50 + i).toLong, oneHot(l), l)
    val dir = writeEmbeddings(rows)
    val got = Similarity.graphLabelProp.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 200)
    got.groupBy(_._2).foreach { case (comm, members) =>
      // community label is itself a member id, size column is consistent
      assert(members.exists(_._1 == comm), s"community $comm has no member $comm")
      assert(members.forall(_._3 == members.length))
      // label-pure: all members from one one-hot cluster
      assert(members.map(_._1 / 50).distinct.length == 1,
        s"community $comm spans labels: ${members.map(_._1).take(5).toSeq}")
    }
  }

  test("graph_label_prop: real-corpus labels are self-consistent and deterministic") {
    val a = SparkEntry.queries("graph_label_prop")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b = SparkEntry.queries("graph_label_prop")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.toSeq == b.toSeq, "label propagation must be deterministic")
    assert(a.length == 500)
    // the size column equals the actual community cardinality
    val sizes = a.groupBy(_._2).map { case (c, m) => c -> m.length.toLong }
    a.foreach(r => assert(r._3 == sizes(r._2), r.toString))
    // propagation actually coarsened: fewer communities than vertices
    assert(sizes.size < 500, "no vertex ever adopted a neighbor label")
  }

  test("graph_pagerank: teleport floor, mass conservation on the real corpus") {
    val rows = SparkEntry.queries("graph_pagerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(rows.length == 500)
    // every score ≥ the teleport floor; a vector with no in-edges sits AT it
    rows.foreach { case (id, pr, _) =>
      assert(pr >= 0.15, s"vec $id below teleport floor: $pr") }
    assert(rows.exists(_._2 > 0.15), "some vector must accumulate rank")
    // out-degree capped by k=3
    rows.foreach { case (id, _, deg) =>
      assert(deg <= 3, s"vec $id outdeg $deg > k") }
    // non-normalized convention: total mass ≤ |V|·1.0 (dangling mass leaks,
    // never appears) and ≥ |V|·0.15
    // 4-dp output rounding can add up to 5e-5 per vertex
    val total = rows.map(_._2).sum
    assert(total > 0.15 * 500 && total <= 500.0 + 0.03, s"total mass $total")
  }

  test("emb_dim_stats: 64 dims, exact n, std positive, min<=mean<=max") {
    val rows = SparkEntry.queries("emb_dim_stats")(spark, sf).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      val (n, mean, std) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      val (lo, hi) = (r.getDouble(4), r.getDouble(5))
      assert(n == 500L)
      assert(std > 0.0, s"dim ${r.getInt(0)} collapsed")
      assert(lo <= mean + 1e-4 && mean <= hi + 1e-4)
    }
  }

  test("sem_dedup: verdicts match a local within-cell smaller-id eviction") {
    val rows = SparkEntry.queries("sem_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Int]("cell"),
        r.getAs[Boolean]("keep"), Option(r.getAs[Any]("evict_cos"))))
    assert(rows.length == Tables.embeddings(spark, sf).count())
    // keep ⟺ no evicting cosine reported
    rows.foreach { case (id, _, keep, ev) =>
      assert(keep == ev.isEmpty, s"vec $id keep=$keep evict=$ev")
    }
    // local ground truth over the collected vectors
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
      val na = math.sqrt(a.indices.foldLeft(0.0)((s, i) => s + a(i) * a(i)))
      val nb = math.sqrt(b.indices.foldLeft(0.0)((s, i) => s + b(i) * b(i)))
      dot / (na * nb)
    }
    val evicted = (for {
      (ib, lb, vb) <- vecs
      (ia, la, va) <- vecs
      if la == lb && ia < ib && cos(va, vb) >= 0.35
    } yield ib).toSet
    rows.foreach { case (id, _, keep, _) =>
      assert(keep == !evicted.contains(id), s"vec $id verdict mismatch")
    }
    // at least one eviction and one survivor on the real corpus
    assert(rows.exists(!_._3) && rows.exists(_._3))
  }

  test("sim_ivfpq_adc: probe-cell-only candidates, ranked by nonneg ADC") {
    val rows = SparkEntry.queries("sim_ivfpq_adc")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("adc")))
    assert(rows.length == 10)
    assert(!rows.exists(_._1 == 0L), "query vector must not match itself")
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq, "ADC ascending")
    rows.foreach { case (id, adc) => assert(adc >= 0.0, s"vec $id adc $adc") }
    // every result lives in the query's probe cell
    val assign = SparkEntry.queries("sim_ivf_assign")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    val qc = assign(0L)
    rows.foreach { case (id, _) => assert(assign(id) == qc, s"vec $id off-cell") }
  }

  test("sim_ivfpq_adc_mp: candidates from ≤3 cells; scores dominate single-probe") {
    val assign = SparkEntry.queries("sim_ivf_assign")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    val mp = SparkEntry.queries("sim_ivfpq_adc_mp")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("adc")))
    assert(mp.length == 10)
    assert(mp.map(t => assign(t._1)).distinct.length <= 3,
      "multi-probe candidates must come from at most nprobe cells")
    // the probe superset can only improve each rank's ADC
    val sp = SparkEntry.queries("sim_ivfpq_adc")(spark, sf).collect()
      .map(_.getAs[Double]("adc"))
    mp.map(_._2).zip(sp).zipWithIndex.foreach { case ((m, s1), i) =>
      assert(m <= s1 + 1e-9, s"rank $i: mp adc $m worse than single-probe $s1")
    }
  }

  test("emb_cohort_drift: hash-split L2 stays at noise level; planted shift fires") {
    import spark.implicits._
    // null calibration on the real corpus: no label's centroid shift
    // should exceed the sampling-noise band for ~25-vector cohorts
    val real = SparkEntry.queries("emb_cohort_drift")(spark, sf).collect()
    assert(real.length == 10)
    real.foreach { r =>
      assert(r.getAs[Double]("centroid_l2") < 0.6,
        s"label ${r.get(0)}: hash cohorts should not drift: $r")
    }
    // planted shift: cohort B displaced by +1.0 in every dimension →
    // centroid L2 ≈ 8 (√64); build ids so the md5 gate splits them
    def bucket(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      Integer.parseInt(md.take(2).map(b => f"$b%02x").mkString, 16)
    }
    val rnd = new scala.util.Random(7)
    val rows = (1L to 200L).map { id =>
      val base = Array.fill(64)(rnd.nextFloat() * 0.1f)
      val v = if (bucket(id) < 32768) base else base.map(_ + 1.0f)
      (id, v.toSeq, (id % 10).toInt)
    }
    val dir = tempDir("embdrift").toString
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val planted = SparkEntry.queries("emb_cohort_drift")(spark, dir).collect()
    planted.foreach { r =>
      assert(r.getAs[Double]("centroid_l2") > 5.0,
        s"planted unit shift must register ~8: $r")
    }
  }

  test("sim_int8_topk: quantized cosine tracks float cosine; recall certified") {
    val i8 = SparkEntry.queries("sim_int8_topk")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("cos8")).toMap
    val fl = SparkEntry.queries("sim_topk_cosine")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("cos")).toMap
    assert(i8.size == 10 && !i8.contains(0L))
    // int8 max-abs quantization on 64 dims perturbs a cosine by well under
    // 2/127 ≈ 0.016 per unit norm; the overlapping ids must agree closely
    i8.keySet.intersect(fl.keySet).foreach { id =>
      assert(math.abs(i8(id) - fl(id)) < 0.02,
        s"vec $id: int8 ${i8(id)} vs float ${fl(id)}")
    }
    val rec = SparkEntry.queries("sim_int8_recall")(spark, sf).collect().head
    assert(rec.getAs[Long]("n_int8_hits") >= 8,
      "int8 top-10 must recover at least 8 of the float top-10 " +
        s"(got ${rec.getAs[Long]("n_int8_hits")})")
  }

  test("sim_binary_topk: 1-bit Hamming candidates rerank deterministically; recall beats random") {
    val bin = SparkEntry.queries("sim_binary_topk")(spark, sf).collect()
    assert(bin.length == 10 && !bin.exists(_.getLong(0) == 0L))
    // hamming over two packed 32-bit halves is bounded by the dimension
    bin.foreach { r =>
      val h = r.getAs[Long]("ham")
      assert(h >= 0 && h <= 64, s"hamming out of range: $r")
    }
    // the rerank column is the EXACT float cosine: every returned row must
    // agree with the brute-force scan's cosine for the same vec_id
    val bf = SparkEntry.queries("sim_topk_cosine")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("cos")).toMap
    bin.foreach { r =>
      bf.get(r.getLong(0)).foreach(c =>
        assert(c == r.getAs[Double]("cos"), s"rerank cosine forked: $r"))
    }
    // 50 candidates of ~199 vectors: a random candidate set expects ~2.5
    // of the float top-10; the 1-bit scan must do structurally better
    val rec = SparkEntry.queries("sim_binary_recall")(spark, sf).collect().head
    assert(rec.getAs[Long]("n_binary_hits") >= 4,
      "binary candidates-then-rerank must beat the random-candidate " +
        s"baseline (got ${rec.getAs[Long]("n_binary_hits")}/10)")
  }

  test("emb_pca_power: relational rounds equal a sequential fixed-point reference") {
    val sfv = "/root/testdata/sf0.01"
    val rows = Tables.embeddings(spark, sfv)
      .select("vec_id", "embedding").collect()
      .map(r => r.getSeq[Float](1).toArray)
    val n = rows.length
    val dim = rows.head.length
    val fp = 1048576L
    // identical recurrence, sequential: the relational rounds must not
    // fork from the plain loop on any of the 64 fixed-point loadings
    // Spark's ROUND(double) is BigDecimal HALF_UP (away from zero);
    // math.round is half-toward-+inf and forks on negative .5 ties
    val xv = rows.map(_.map(x => BigDecimal(x.toDouble * fp)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    val mu = Array.tabulate(dim)(p =>
      math.floor(xv.map(_(p)).sum.toDouble / n).toLong)
    val cx = xv.map(r => Array.tabulate(dim)(p => r(p) - mu(p)))
    var v = Array.fill(dim)(fp)
    for (_ <- 1 to Similarity.PcaRounds) {
      val s = cx.map(r => (0 until dim).map(p => r(p) * v(p)).sum)
      val u = Array.tabulate(dim)(p =>
        (0 until n).map(i => BigInt(s(i)) * cx(i)(p)).sum)
      val m = u.map(_.abs).max
      v = u.map(ui => math.floor(ui.toDouble * fp / m.toDouble).toLong)
    }
    val got = SparkEntry.queries("emb_pca_power")(spark, sfv)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert((0 until dim).forall(p => got(p) == v(p)),
      s"fixed-point loadings diverge: ${(0 until dim).filter(p => got(p) != v(p)).take(5).map(p => (p, got(p), v(p)))}")
    // and the certificate says the component explains more than an
    // average direction would (share > 1/dim)
    val cert = SparkEntry.queries("emb_pca_var")(spark, sfv).head
    assert(cert.getAs[Double]("explained_share") > 1.0 / dim,
      s"top component must beat the average-direction share, got $cert")
  }

  private def unit(parts: (Int, Float)*): Array[Float] = {
    val v = Array.fill(64)(0.0f); parts.foreach { case (i, x) => v(i) = x }; v
  }

  test("sim_margin_mine: aligned pairs mined as mutual across both clusters") {
    // two clusters; within each, a perfectly aligned even/odd pair plus a
    // weak shared-direction distractor that drags the fwd average down so
    // the aligned margin clears 1.05 (a lone candidate margins exactly 1.0)
    val dir = writeEmbeddings(Seq(
      (0L, unit(0 -> 1f), 0), (1L, unit(0 -> 1f), 0),
      (2L, unit(1 -> 1f), 0), (3L, unit(1 -> 1f), 0),
      (5L, unit(0 -> 0.3f, 1 -> 0.3f, 2 -> 0.9055f), 0),
      (6L, unit(10 -> 1f), 1), (7L, unit(10 -> 1f), 1),
      (11L, unit(10 -> 0.3f, 11 -> 0.954f), 1)))
    val got = SparkEntry.queries("sim_margin_mine")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((0L, 1L), (2L, 3L), (6L, 7L)),
      s"mined pairs: ${got.toSeq}")
    assert(got.forall(_._5), s"aligned pairs must be mutual: ${got.toSeq}")
    assert(got.forall(_._3 == 1.0), s"aligned cosines must be 1.0: ${got.toSeq}")
    // x0: fwd top-k {1.0, 0.3} avg 0.65, y1 bwd {1.0} → 1/0.825 = 1.2121
    assert(got.forall(t => math.abs(t._4 - 1.2121) < 1e-9),
      s"margins: ${got.toSeq}")
  }

  test("graph_triangles: count equals a brute-force enumeration over the " +
      "same kNN edges; gcc consistent") {
    val sfv = "/root/testdata/sf0.001"
    val edges = SparkEntry.queries("sim_knn_graph")(spark, sfv)
      .select("src", "dst").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      .withDefaultValue(Set.empty[Long])
    val verts = edges.flatMap(e => Seq(e._1, e._2))
    val bruteTri = edges.toSeq.map { case (a, b) =>
      verts.count(c => c != a && c != b &&
        edges(math.min(a, c) -> math.max(a, c)) &&
        edges(math.min(b, c) -> math.max(b, c)))
    }.sum / 3L
    val deg = verts.toSeq.map(v =>
      edges.count(e => e._1 == v || e._2 == v).toLong)
    val wedges = deg.map(d => d * (d - 1) / 2).sum
    val r = SparkEntry.queries("graph_triangles")(spark, sfv).collect().head
    assert(r.getAs[Long]("n_edges") == edges.size.toLong)
    assert(r.getAs[Long]("n_triangles") == bruteTri,
      s"triangles: got ${r.getAs[Long]("n_triangles")}, brute $bruteTri")
    assert(r.getAs[Long]("n_wedges") == wedges)
    assert(bruteTri > 0, "fixture corpus must close at least one wedge")
  }

  test("sim_margin_mine: the ratio margin demotes a hub the raw cosine " +
      "would have picked") {
    // hub y1 is x0's highest-cosine partner (0.6) but is ALSO the best
    // partner of x2 and x4 (0.8 each), inflating its backward average;
    // exclusive y3 (cosine only 0.58 to x0) wins on margin.
    val dir = writeEmbeddings(Seq(
      (0L, unit(0 -> 1f), 0),
      (2L, unit(1 -> 1f), 0), (4L, unit(1 -> 1f), 0),
      (1L, unit(0 -> 0.6f, 1 -> 0.8f), 0), // hub
      (3L, unit(0 -> 0.58f, 3 -> 0.8146f), 0), // exclusive partner
      (5L, unit(0 -> 0.1f, 4 -> 0.995f), 0), // weak distractors: drag
      (7L, unit(0 -> 0.1f, 5 -> 0.995f), 0))) //   x0's fwd avg to 0.345
    val got = SparkEntry.queries("sim_margin_mine")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4)))
    // x2/x4 margin vs the hub is 0.8/((0.8+0.7333)/2) = 1.0435 < 1.05: out
    assert(got.toSeq == Seq((0L, 3L, true)),
      s"margin must pick exclusive y3 over hub y1 (cos 0.58 < 0.6): ${got.toSeq}")
  }

  test("kNN cell sub-sharding: default cap is invariant on testdata; forced cap bounds blocks") {
    import org.apache.spark.sql.functions._
    // 1. cap-invariance: every testdata cell is far below CellShardCap, so
    //    the production frame must be IDENTICAL to the unsharded join —
    //    this is what keeps every kNN-family oracle valid under the cap
    val prod = Similarity.knnRankedDf(spark, sf)
    val unsharded = Similarity.knnRankedDf(spark, sf, cap = 1L << 40)
    assert(prod.exceptAll(unsharded).isEmpty && unsharded.exceptAll(prod).isEmpty)

    // 2. forced cap=2: candidates must pair only within (cell, adjacent
    //    slab) — the geometric slab split on the first embedding component
    //    plus the adaptive multi-probe: w(s) = min(s − 1, 3).
    //    At cap=2 every sf0.001 cell has s ≥ 4, so the live width is ±3.
    val capped = Similarity.knnRankedDf(spark, sf, cap = 2L)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.nonEmpty)
    // recompute cell + slab + probe width exactly as the operator does:
    // rank within the cell by (embedding[0], vec_id), slab =
    // (rank-1)*s div cnt, width = w(s)
    val cells = Similarity.ivfAssignDf(spark, sf)
    val cellMap = cells.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dim1 = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).head).toMap
    val slabOf: Map[Long, (Int, Long, Long)] = cellMap.groupBy(_._2).flatMap {
      case (c, members) =>
        val ordered = members.keys.toSeq.sortBy(v => (dim1(v), v))
        val cnt = ordered.size.toLong
        val s = (cnt + 1) / 2 // ceil(cnt/cap) for cap=2
        val w = math.min(s - 1, 3L)
        ordered.zipWithIndex.map { case (v, i) => v -> (c, i.toLong * s / cnt, w) }
    }
    capped.foreach { case (a, b) =>
      val (ca, sa, wa) = slabOf(a); val (cb, sb, _) = slabOf(b)
      assert(ca == cb && math.abs(sa - sb) <= wa,
        s"edge ($a,$b) outside cell/±$wa-slab: ($ca,$sa) vs ($cb,$sb)")
    }
    // and the width is genuinely adaptive: some retained pair sits at
    // slab delta exactly 3 (the round-11 ±2 ladder would have dropped it)
    assert(capped.exists { case (a, b) =>
      math.abs(slabOf(a)._2 - slabOf(b)._2) == 3
    }, "cap=2 (s≥4) must retain some |Δslab| = 3 pair via the ±3 probe")
    // 3. the forced cap genuinely shrinks candidate sets (it did shard)
    val full = unsharded.select("src", "dst").count()
    assert(capped.length < full, "cap=2 must prune cross-shard candidates")

    // 4. s = 2 completeness: the ±1 probe covers both slabs of a 2-way
    //    split, so the sharded frame must be EXACT there — the property
    //    that makes sub-sharding a gradual valve (first pruning at s=3,
    //    where the two endpoint slabs stop being adjacent) rather than a
    //    cliff. cap=32 puts every sf0.001 cell (max ~63 members) at
    //    s ∈ {1,2}.
    val s2 = Similarity.knnRankedDf(spark, sf, cap = 32L)
    assert(s2.exceptAll(unsharded).isEmpty && unsharded.exceptAll(s2).isEmpty,
      "s<=2 sharded frame must equal the exact within-cell kNN")
  }

  test("knnRankedDf topK path equals the rank-window path on both plan branches") {
    import org.apache.spark.sql.functions._
    // the bounded-heap CollectTopK aggregate (round 11) must emit the
    // bit-identical (src, dst, cos, rn<=3) frame as the rank window it
    // replaces for the top-k consumers — on the s=1 fast path AND the
    // forced sharded path (the heap orders by the same 4-dp (cos desc,
    // dst asc) key; negating the rounded cos is exact)
    val win3 = Similarity.knnRankedDf(spark, sf).filter(col("rn") <= 3)
    val agg3 = Similarity.knnRankedDf(spark, sf, topK = Some(3))
    assert(agg3.exceptAll(win3).isEmpty && win3.exceptAll(agg3).isEmpty,
      "fast-path topK aggregate forked from the window ranking")
    val winS = Similarity.knnRankedDf(spark, sf, cap = 2L).filter(col("rn") <= 3)
    val aggS = Similarity.knnRankedDf(spark, sf, cap = 2L, topK = Some(3))
    assert(aggS.exceptAll(winS).isEmpty && winS.exceptAll(aggS).isEmpty,
      "sharded-path topK aggregate forked from the window ranking")
  }

  test("sim_mrl_adaptive: funnel equals a driver-side replay; loss is the priced trade") {
    // internal correctness: the funnel output must equal rerank-by-full-cos
    // of the truncated-16 top-50, replayed driver-side from raw vectors
    val rows = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos4(a: Array[Float], b: Array[Float], d: Int): Double = {
      var i = 0; var ab = 0.0; var aa = 0.0; var bb = 0.0
      while (i < d) { ab += a(i).toDouble * b(i); aa += a(i).toDouble * a(i); bb += b(i).toDouble * b(i); i += 1 }
      math.rint(ab / (math.sqrt(aa) * math.sqrt(bb)) * 1e4) / 1e4
    }
    val q = rows(0L)
    val cand = rows.keys.filter(_ != 0L).toSeq
      .map(v => v -> cos4(rows(v), q, 16))
      .sortBy { case (v, c) => (-c, v) }.take(50).map(_._1)
    val want = cand.map(v => (v, cos4(rows(v), q, 64)))
      .sortBy { case (v, c) => (-c, v) }.take(10)
    val got = Similarity.simMrlAdaptive.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, s"funnel forked from the replay: $got vs $want")

    // the trade is real on NON-matryoshka synthetic vectors (the first 16
    // dims carry no privileged signal here): overlap with brute force is
    // partial — which is exactly what sim_trunc_recall exists to price
    val brute = Similarity.simTopK.fn(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val overlap = got.map(_._1).count(brute)
    assert(overlap >= 1 && overlap <= 10)
  }
}
