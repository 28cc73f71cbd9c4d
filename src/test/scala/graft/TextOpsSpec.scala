package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, md5}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.operators.TextOps

/** Hot-shingle document-frequency cap on the n-gram Jaccard near-dup join:
  * a boilerplate shingle shared by more documents than the cap would form a
  * single quadratic join bucket at 100 TB, so it is excluded from the
  * shingle universe BEFORE the self-join. */
class TextOpsSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Tables.localSession("textops-spec", cores = 8)

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("textops-docs").toString
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("shingles above the df cap are dropped before the pair join") {
    val boiler = (1 to 12).map(i => s"tok$i").mkString(" ") // 10 shingles
    val unique = (1 to 12).map(i => s"rare$i").mkString(" ")
    val dir = writeDocs(
      // df = 60 > ShingleDfCap for every boilerplate shingle → no signal
      (0L until 60L).map(i => i -> boiler) ++
        // genuine near-dup pair on low-df shingles → must survive the cap
        Seq(100L -> unique, 101L -> unique))
    assert(TextOps.ShingleDfCap < 60 && TextOps.ShingleDfCap > 2)
    val got = TextOps.dedupNgramJaccard.fn(spark, dir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    // without the cap this would be C(60,2)+1 = 1771 pairs; the 60-way
    // boilerplate clique carries no near-dup information
    assert(got.toSeq == Seq((100L, 101L)))
  }

  test("cap is applied as an anti-join on the hot-key list (plan shape)") {
    val dir = writeDocs(Seq(1L -> "a b c d", 2L -> "a b c e"))
    // r14: dedup_ngram_jaccard reads the shared capped-pairs snapshot, so
    // the anti-join lives in the snapshot BUILD; the plan-shape witness is
    // dedup_simhash_prec — the designated recompute anchor whose inline
    // chain still runs shingle→df-cap→self-join from raw parquet.
    val plan = TextOps.dedupSimhashPrec.fn(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected LeftAnti in:\n$plan")
  }

  test("oversized LSH buckets emit star edges, not quadratic pairs (skew cap)") {
    val mega = (1 to 12).map(i => s"mega$i").mkString(" ")
    val pairTxt = (1 to 12).map(i => s"pair$i").mkString(" ")
    val dir = writeDocs(
      // 120 identical docs: every band bucket holds 120 members (> cap 100)
      (0L until 120L).map(i => i -> mega) ++
        Seq(500L -> pairTxt, 501L -> pairTxt)) // small bucket → all-pairs
    assert(TextOps.BandBucketCap < 120)
    val pairs = TextOps.dedupMinhashPairs.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val megaPairs = pairs.filter(_._2 < 500L)
    // star: hub (min id 0) ↔ each of the other 119 — NOT C(120,2) = 7140
    assert(megaPairs.length == 119, s"got ${megaPairs.length} mega-bucket pairs")
    assert(megaPairs.forall(_._1 == 0L), "star edges must radiate from the min-id hub")
    assert(pairs.contains((500L, 501L)), "small buckets keep genuine all-pairs")
    // connectivity survives the cap: the whole mega group is ONE cluster
    val clusters = TextOps.dedupClusters.fn(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 120L).forall(clusters(_) == 0L))
    assert(clusters(501L) == 500L)
  }

  test("dedup_clusters: distributed rounds agree with the union-find fast path") {
    import spark.implicits._
    // a 6-chain (worst case for propagation), a triangle, and a singleton
    val mp = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("da", "db")
    val docs = (Seq(20L) ++ (1L to 6L) ++ (10L to 12L)).toDF("doc_id")
    val got = TextOps.connectedComponentsDistributed(docs, mp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 6L).forall(got(_) == 1L), s"chain must collapse to 1: $got")
    assert((10L to 12L).forall(got(_) == 10L))
    assert(got(20L) == 20L) // singleton attached without iterating
  }

  test("forced-threshold path equivalence on the REAL corpus: star-edge cap " +
    "and distributed CC produce the default path's cluster labels") {
    // At sf0.1 the corpus pair count sits under both scale thresholds, so
    // the at-scale paths (band-bucket star edges, distributed hash-min CC)
    // never fire in a normal sweep — this forces them over the same real
    // data and asserts label identity, proving the 100 TB code path is not
    // just unit-tested on synthetic graphs.
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, sf).select("doc_id")
    def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pairsDefault = TextOps.minhashBandPairs(spark, sf).cache()
    val baseline = labelMap(TextOps.labelsFromPairs(docs, pairsDefault))
    // (a) BandBucketCap forced to 2: every bucket >2 rewrites to star edges
    val pairsStar = TextOps.minhashBandPairs(spark, sf, cap = 2).cache()
    val defaultSet = pairsDefault.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val starSet = pairsStar.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(starSet != defaultSet,
      "cap=2 must actually rewrite some bucket (precondition — otherwise " +
        "this test is vacuous); regenerated testdata without any >2 bucket " +
        "needs a lower-granularity band")
    assert(labelMap(TextOps.labelsFromPairs(docs, pairsStar)) == baseline,
      "star-edge rewrite changed cluster labels — connectivity not preserved")
    // (b) the distributed CC path over the same real pair graph
    assert(labelMap(TextOps.connectedComponentsDistributed(docs, pairsDefault))
      == baseline,
      "distributed hash-min labels diverge from union-find on the corpus")
    pairsDefault.unpersist(); pairsStar.unpersist()
  }

  test("dedup_clusters: 64-chain converges well inside the round cap (no silent stop)") {
    import spark.implicits._
    // worst-case diameter graph: pointer jumping must contract it in
    // O(log n) rounds; a silent round-cap stop would leave non-min labels
    val n = 64L
    val mp = (1L until n).map(i => (i, i + 1)).toDF("da", "db")
    val docs = (1L to n).toDF("doc_id")
    val got = TextOps.connectedComponentsDistributed(docs, mp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to n).forall(got(_) == 1L), s"chain must collapse to 1: $got")
  }

  test("dedup_clusters: min-label propagation produces consistent components") {
    // three identical docs (one near-dup clique) + two other identical docs
    // + a singleton: clusters {0,1,2}, {10,11}, {20}
    val a = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 12).map(i => s"beta$i").mkString(" ")
    val c = (1 to 12).map(i => s"gamma$i").mkString(" ")
    val dir = writeDocs(Seq(0L -> a, 1L -> a, 2L -> a, 10L -> b, 11L -> b, 20L -> c))
    val got = TextOps.dedupClusters.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == Seq(
      (0L, 0L, true), (1L, 0L, false), (2L, 0L, false),
      (10L, 10L, true), (11L, 10L, false), (20L, 20L, true)))
  }

  test("text_tfidf: rare terms outrank common terms within a doc") {
    val common = "shared " * 5
    val dir = writeDocs(Seq(
      1L -> s"${common}unique1 unique1 unique1",
      2L -> s"${common}other2", 3L -> s"${common}third3"))
    val top = TextOps.textTfidf.fn(spark, dir)
      .filter("doc_id = 1 AND rn = 1").collect().head
    // 'shared' appears in every doc → idf = ln(1) = 0; the doc-specific
    // term must rank first despite lower tf
    assert(top.getAs[String]("tok") == "unique1")
    val sharedRows = TextOps.textTfidf.fn(spark, dir)
      .filter("tok = 'shared' AND tfidf > 0").count()
    assert(sharedRows == 0, "corpus-wide terms must have zero tf-idf")
  }

  test("dedup_containment: catches a short doc quoted inside a long one that Jaccard misses") {
    // doc 1 is fully contained in doc 2, which is 4x longer: every shingle
    // of doc 1 is common → containment = 1.0, but jaccard = |A|/|B| ≈ 0.25
    val short = (1 to 12).map(i => s"quoted$i").mkString(" ")
    val padding = (1 to 36).map(i => s"pad$i").mkString(" ")
    val dir = writeDocs(Seq(1L -> short, 2L -> s"$short $padding",
      3L -> (1 to 12).map(i => s"other$i").mkString(" ")))
    val cont = TextOps.dedupContainment.fn(spark, dir).collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)),
      "exactly the quoted-inside pair must be flagged")
    assert(cont.head.getAs[Double]("containment") == 1.0)
    val jac = TextOps.dedupNgramJaccard.fn(spark, dir).collect()
    assert(jac.isEmpty, "symmetric Jaccard at 0.8 must miss the quotation pair")
  }

  test("containment >= jaccard on every candidate pair (corpus invariant)") {
    // common/min(a,b) >= common/(a+b-common) always; check on real data by
    // joining the two outputs on the pair key
    val sf = "/root/testdata/sf0.01"
    val c = TextOps.dedupContainment.fn(spark, sf)
      .selectExpr("da", "db", "containment")
    val j = TextOps.dedupNgramJaccard.fn(spark, sf)
      .selectExpr("da", "db", "jaccard")
    val joined = c.join(j, Seq("da", "db")).collect()
    assert(joined.nonEmpty, "fixture corpus has near-dups in both outputs")
    joined.foreach { r =>
      assert(r.getAs[Double]("containment") >= r.getAs[Double]("jaccard") - 1e-9)
    }
  }

  test("text_pii_redact: planted email/id/phone are counted and redacted") {
    import spark.implicits._
    val dirty = "contact bob.smith+x@mail-site.co.uk or 555-12-3456 " +
      "or call +1 (415) 555-0100 now"
    val dir = writeDocs(Seq(0L -> dirty, 1L -> "no pii here at all"))
    val got = TextOps.textPiiRedact.fn(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(got(0L)._1 == 1 && got(0L)._2 == 1 && got(0L)._3 == 1, s"counts: ${got(0L)}")
    assert(got(1L) == ((0, 0, 0, got(1L)._4)))
    // the redacted text itself (not just its hash) must carry placeholders
    val red = Seq(dirty).toDF("text")
      .select(TextOps.redactPii(col("text")).as("r")).head().getString(0)
    assert(red == "contact <EMAIL> or <ID> or call <PHONE> now", red)
    // clean doc's hash is the hash of its unchanged text
    val cleanMd5 = Seq("no pii here at all").toDF("text")
      .select(md5(col("text"))).head().getString(0)
    assert(got(1L)._4 == cleanMd5)
  }

  test("dedup_span_stats: shared 8-token span flagged in both docs, unique doc clean") {
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    val dir = writeDocs(Seq(
      0L -> s"$span alpha beta gamma delta epsilon zeta eta theta",
      1L -> s"iota kappa lambda mu nu xi omicron pi $span",
      2L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))
    val got = TextOps.dedupSpanStats.fn(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 16-token docs → 9 spans each; exactly ONE span (the planted one) is shared
    assert(got(0L) == ((9L, 1L)), s"doc 0: ${got(0L)}")
    assert(got(1L) == ((9L, 1L)), s"doc 1: ${got(1L)}")
    assert(got(2L) == ((3L, 0L)), s"doc 2: ${got(2L)}")
  }

  test("text_novelty: a verbatim copy has zero novelty, the original full") {
    val dir = writeDocs(Seq(
      0L -> "a b c d e f",
      1L -> "a b c d e f", // exact copy → every trigram first seen in doc 0
      2L -> "a b c x y z")) // shares the 'a b c' trigram only
    val got = TextOps.textNovelty.fn(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(0L) == ((4L, 4L)), s"doc 0: ${got(0L)}")
    assert(got(1L) == ((4L, 0L)), s"doc 1: ${got(1L)}")
    assert(got(2L) == ((4L, 3L)), s"doc 2: ${got(2L)}")
  }

  test("text_paragraph_dedup: boilerplate paragraph survives only in its first doc") {
    val dir = writeDocs(Seq(
      0L -> "shared boilerplate intro. unique zero body. zero tail",
      1L -> "shared boilerplate intro. unique one body",
      2L -> "completely fresh document"))
    val got = TextOps.textParagraphDedup.fn(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getAs[Double]("dup_frac")))).toMap
    assert(got(0L) == ((3L, 3L, 0.0)), s"doc 0: ${got(0L)}") // all first
    // doc 1's intro already appeared in doc 0 → 1 of 2 survives
    assert(got(1L) == ((2L, 1L, 0.5)), s"doc 1: ${got(1L)}")
    assert(got(2L) == ((1L, 1L, 0.0)), s"doc 2: ${got(2L)}")
  }

  test("dedup_minhash_est: identical docs estimate exactly 1.0 with zero error") {
    val a = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val dir = writeDocs(Seq(0L -> a, 1L -> a,
      2L -> (1 to 12).map(i => s"other$i").mkString(" ")))
    val got = TextOps.dedupMinhashEst.fn(spark, dir).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
    val r = got.head
    assert(r.getAs[Double]("exact_j") == 1.0)
    assert(r.getAs[Double]("est_j") == 1.0) // identical shingle sets → all 8 windows match
    assert(r.getAs[Double]("abs_err") == 0.0)
  }

  test("dedup_minhash_est: estimate stays in [0,1] and err is |exact-est| on real data") {
    val rows = TextOps.dedupMinhashEst.fn(spark, "/root/testdata/sf0.001").collect()
    rows.foreach { r =>
      val (e, m, err) = (r.getAs[Double]("exact_j"), r.getAs[Double]("est_j"),
        r.getAs[Double]("abs_err"))
      assert(m >= 0.0 && m <= 1.0)
      assert(e >= 0.5, "gate must keep only the near-dup regime")
      assert(math.abs(err - math.abs(e - m)) <= 1e-3)
    }
  }

  test("text_winnowing: shared substring >= w+k-1 chars yields a shared fingerprint") {
    // k = 8, w = 4 → the guarantee threshold is 11 chars; the planted
    // common segment is 26 chars inside otherwise-disjoint text.
    val common = "abcdefghijklmnopqrstuvwxyz"
    val dir = writeDocs(Seq(
      0L -> s"1111111111 $common 2222222222",
      1L -> s"3333333333 $common 4444444444",
      2L -> "entirely different content with no overlap at all"))
    val fps = TextOps.textWinnowing.fn(spark, dir).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getAs[Long]("fphash")).toSet).toMap
    assert((fps(0L) & fps(1L)).nonEmpty,
      "docs sharing a 26-char substring must share a selected fingerprint")
    assert((fps(0L) & fps(2L)).isEmpty && (fps(1L) & fps(2L)).isEmpty,
      "no 8-gram is shared with the disjoint doc")
  }

  test("text_winnowing: selection is sparse but window-covering") {
    // Winnowing guarantee restated on positions: selected positions (the
    // window minima) must leave no gap of w = 4 or more consecutive
    // windows uncovered, and selection must be sparser than "all grams".
    val text = ('a' to 'z').mkString + "0123456789" + ('A' to 'Z').mkString
    val dir = writeDocs(Seq(0L -> text))
    val rows = TextOps.textWinnowing.fn(spark, dir).collect()
    val poss = rows.map(_.getAs[Long]("pos")).sorted
    val nGrams = text.length - 8 + 1
    assert(poss.length < nGrams, "winnowing must select a strict subset")
    // every window of 4 consecutive grams contains a selected position
    val sel = poss.toSet
    (0 until nGrams - 3).foreach { j =>
      assert((j until j + 4).exists(p => sel.contains(p.toLong)),
        s"window starting at gram $j has no selected fingerprint")
    }
  }

  test("dedup_winnow_pairs: long shared run detected; boilerplate df-capped away") {
    // Two docs share a 60-char run at DIFFERENT offsets: windows fully
    // inside the run select the same gram hash (position only breaks
    // ties between EQUAL hashes, and relative order is preserved), so
    // the pair shares many fingerprints and clears the >= 3 bar. The 60
    // identical boilerplate docs push every one of their fingerprints
    // past the df cap (60 > 50) → no boilerplate pairs survive.
    val run = "the shared copied passage that both documents embed verbatim"
    assert(run.length == 60)
    val boiler = "boilerplate navigation header text repeated everywhere"
    val dir = writeDocs(
      Seq(0L -> s"AAAA $run", 1L -> s"BBBBBBBBBB $run CCCC") ++
        (10L until 70L).map(i => i -> boiler))
    val got = TextOps.dedupWinnowPairs.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L)),
      s"expected exactly the planted pair, got ${got.toSeq}")
    assert(got.head._3 >= 3L, s"shared-fingerprint count: ${got.head._3}")
  }

  test("text_winnowing: sub-k docs emit nothing; equal hashes tie to the leftmost") {
    val dir = writeDocs(Seq(
      0L -> "short", // < 8 chars → no grams
      1L -> "aaaaaaaaaaaaaaaaaaaa")) // 20×'a': 13 equal-hash grams, 10 windows
    val rows = TextOps.textWinnowing.fn(spark, dir).collect()
    assert(!rows.exists(_.getLong(0) == 0L))
    val d1 = rows.filter(_.getLong(0) == 1L).map(_.getAs[Long]("pos")).sorted
    // every window's min is its leftmost member (same hash, smallest pos)
    assert(d1.toSeq == (0L until 10L),
      s"expected the leftmost gram of each of the 10 windows, got ${d1.toSeq}")
    // and all 10 share the one distinct gram hash
    assert(rows.filter(_.getLong(0) == 1L).map(_.getAs[Long]("fphash")).distinct.length == 1)
  }

  test("text_bigram_logprob: repeated phrasing scores lower than unique phrasing") {
    // ten docs share one fixed phrase; one doc uses the same words in a
    // never-seen order. The common-phrase docs' bigrams are corpus-frequent
    // (low surprisal); the shuffled doc's bigrams are singletons.
    val common = "the quick brown fox jumps over the lazy dog"
    val dir = writeDocs(
      (0L until 10L).map(i => i -> common) :+
        (10L -> "dog the over quick lazy jumps fox brown the") :+
        (11L -> "single")) // 1 token → no bigrams → absent from output
    val got = TextOps.textBigramLogprob.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getAs[Double]("avg_surprisal"))).toMap
    assert(!got.contains(11L), "a 1-token doc has no bigrams")
    assert(got.keySet == (0L until 11L).toSet)
    (0L until 10L).foreach(i => assert(got(i)._1 == 8L))
    val (commonS, shuffledS) = (got(0L)._2, got(10L)._2)
    assert(commonS < shuffledS,
      s"corpus-frequent phrasing must score lower: $commonS vs $shuffledS")
    got.values.foreach { case (_, sp) => assert(sp > 0.0) }
  }

  test("text_bm25: matches a local recomputation of the Okapi formula") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val terms = Seq("spark", "query", "join")
    val n = docs.size.toDouble
    val avgdl = docs.values.map(_.size).sum.toDouble / n
    val dfm = terms.map(t => t -> docs.values.count(_.contains(t)).toDouble).toMap
    def score(toks: Seq[String]): Double = {
      val dl = toks.size.toDouble
      val s = terms.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else math.log((n - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1.0) *
          ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
      }.sum
      math.rint(s * 1e4) / 1e4
    }
    val expectTop = docs.toSeq
      .map { case (id, toks) => (id, toks.size.toLong,
        terms.count(toks.contains).toLong, score(toks)) }
      .filter(_._4 > 0.0)
      .sortBy { case (id, _, _, sc) => (-sc, id) }
      .take(10)
    val got = TextOps.textBm25.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("dl"), r.getAs[Long]("n_terms"),
        r.getAs[Double]("bm25"))).toSeq
    assert(got == expectTop, s"\ngot:    $got\nexpect: $expectTop")
  }

  test("text_ppl_buckets: per-lang terciles are balanced and score-ordered") {
    val sf = "/root/testdata/sf0.001"
    val rows = TextOps.textPplBuckets.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Double]("avg_surprisal"),
        r.getAs[String]("ppl_bucket")))
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == rows.length)
    rows.groupBy(_._2).foreach { case (lang, g) =>
      val byBucket = g.groupBy(_._4).map { case (b, xs) => b -> xs.map(_._3) }
      assert(byBucket.keySet == Set("head", "middle", "tail"), s"$lang buckets")
      val sizes = byBucket.values.map(_.length)
      assert(sizes.max - sizes.min <= 1, s"$lang tercile sizes $sizes")
      // ntile on (score, doc_id): bucket boundaries respect score order
      assert(byBucket("head").max <= byBucket("middle").min + 1e-9, s"$lang head/middle")
      assert(byBucket("middle").max <= byBucket("tail").min + 1e-9, s"$lang middle/tail")
    }
  }

  test("dedup_labels_materialized: snapshot path row-identical to the recompute path") {
    val sf = "/root/testdata/sf0.01"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(_.toSeq.map(String.valueOf).mkString("")).sorted.toSeq
    assert(rows("dedup_labels_materialized") == rows("corpus_dup_stats"),
      "materialize-then-reuse must be bit-identical to per-query recompute")
  }

  test("corpus_quality_drift: planted cohort shift fires; identical cohorts don't") {
    import spark.implicits._
    def bucket(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      Integer.parseInt(md.take(2).map(b => f"$b%02x").mkString, 16)
    }
    val good = "the cat sat on the mat and it is warm out today here"
    val bad = "12345 67890 11111 22222 33333 44444 55555 66666"
    val rows = (1L to 400L).map { id =>
      val cohA = bucket(id) < 32768
      // 'drift': cohort A high-quality, cohort B digit salad; 'calm': same
      // text both cohorts — only 'drift' may fire
      val src = if (id % 2 == 0) "drift" else "calm"
      val text = if (src == "calm" || cohA) good else bad
      (id, text, "en", src, text.length.toLong)
    }
    val dir = tempDir("qdrift").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("corpus_quality_drift")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("chi2"), r.getAs[Boolean]("drifted")))
      .toMap
    assert(got("drift")._2, s"planted shift must fire: ${got("drift")}")
    assert(!got("calm")._2, s"identical cohorts must not fire: ${got("calm")}")
    assert(got("drift")._1 > got("calm")._1)
  }

  test("dedup_incremental: every verdict recomputable from the declared pair " +
      "graph and split assignment") {
    val sf = "/root/testdata/sf0.01"
    val splits = SparkEntry.queries("split_assign")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = SparkEntry.queries("dedup_minhash_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val partners = (pairs ++ pairs.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val verdicts = SparkEntry.queries("dedup_incremental")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // incoming = exactly the non-train docs
    assert(verdicts.keySet == splits.filter(_._2 != "train").keySet)
    verdicts.foreach { case (doc, got) =>
      val ps = partners.getOrElse(doc, Set.empty)
      val expected =
        if (ps.exists(splits(_) == "train")) "dup_of_corpus"
        else if (ps.exists(p => splits(p) != "train" && p < doc)) "dup_in_batch"
        else "unique"
      assert(got == expected, s"doc $doc: $got != recomputed $expected")
    }
    // the fixture exercises all three verdicts
    assert(verdicts.values.toSet == Set("dup_of_corpus", "dup_in_batch", "unique"))
  }

  test("text_bigram_kn: discounted smoothing scores seen text sharper than add-1") {
    val sf = "/root/testdata/sf0.01"
    import spark.implicits._
    val kn = TextOps.textBigramKn.fn(spark, sf)
      .select(col("doc_id"), col("kn_surprisal")).as[(Long, Double)].collect().toMap
    val add1 = TextOps.textBigramLogprob.fn(spark, sf)
      .select(col("doc_id"), col("avg_surprisal")).as[(Long, Double)].collect().toMap
    assert(kn.keySet == add1.keySet)
    // add-1 spreads V pseudo-counts across every context, inflating the
    // surprisal of SEEN bigrams; KN discounts only 0.75 per type — on text
    // scored by its own training corpus KN must be sharper in aggregate
    val meanKn = kn.values.sum / kn.size
    val meanAdd1 = add1.values.sum / add1.size
    assert(meanKn < meanAdd1,
      s"KN mean surprisal $meanKn not below add-1 $meanAdd1")
    // and every score is a valid finite positive surprisal
    assert(kn.values.forall(v => v > 0 && !v.isNaN && !v.isInfinite))
  }

  test("text_bpe_train: greedy leftmost pairing — repeated letters merge with correct parity") {
    // 'aaab' must segment [aa, a, b] after merging (a,a) — the WRONG parity
    // ([a, aa, b]) would surface as round-2 merge (a, aa) instead of (a, b),
    // and the whole downstream merge table would fork
    val dir = writeDocs(Seq(
      0L -> "aaab aaab aaab bb"))
    val got = TextOps.textBpeTrain.fn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(
      (1, "a", "a", "aa", 6L),    // aaab has 2 overlapping (a,a) x 3 copies
      (2, "a", "b", "ab", 3L),    // tie (aa,a)=3 vs (a,b)=3 → lexicographic
      (3, "aa", "ab", "aaab", 3L) // the word reassembles — parity held
    ), s"merge table: ${got.toSeq}")
  }

  test("text_bpe_train: relational rounds match an independent sequential BPE " +
      "on randomized corpora") {
    // reference implementation: the classic sequential fold (count all
    // adjacent pairs; merge greedy leftmost), written with none of the
    // islands/parity machinery under test
    def refBpe(words: Map[String, Long], rounds: Int): Seq[(String, String, Long)] = {
      var segs: Seq[(Vector[String], Long)] =
        words.toSeq.map { case (w, n) => w.toVector.map(_.toString) -> n }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      (1 to rounds).foreach { _ =>
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        segs.foreach { case (syms, n) =>
          syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + n)
        }
        val ((a, b), c) = counts.toSeq.minBy { case ((x, y), k) => (-k, x, y) }
        out += ((a, b, c))
        segs = segs.map { case (syms, n) =>
          val nb = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              nb += (a + b); i += 2
            } else { nb += syms(i); i += 1 }
          }
          nb.toVector -> n
        }
      }
      out.toSeq
    }
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // heavy repetition from a 3-letter alphabet so repeated-letter runs
      // (the parity-sensitive case) occur often
      val words = (1 to 10).map { _ =>
        (1 to (1 + rnd.nextInt(6))).map(_ => "abc" (rnd.nextInt(3))).mkString
      }
      val counts = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val text = words.mkString(" ")
      val dir = writeDocs(Seq(0L -> text))
      val got = TextOps.textBpeTrain.fn(spark, dir).collect()
        .sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
      val expect = refBpe(counts, 3)
      assert(got == expect, s"seed $seed: corpus '$text': $got != $expect")
      // and the N-parameterized twin stays glued to the same sequential
      // reference two rounds deeper (the driver loop + oracle generator
      // share one N, so this is the loop's correctness proof at N=5)
      val got5 = TextOps.textBpeTrainN5.fn(spark, dir).collect()
        .sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
      val expect5 = refBpe(counts, 5)
      assert(got5 == expect5, s"seed $seed N=5: corpus '$text': $got5 != $expect5")
    }
  }

  test("text_substring_dup: diagonal islands coalesce anchors into maximal runs") {
    val run1 = (1 to 12).map(i => s"r$i").mkString(" ") // 12-token shared run
    val run2 = (1 to 8).map(i => s"q$i").mkString(" ")  // exactly-8-token run
    val dir = writeDocs(Seq(
      0L -> s"$run1 a1 a2 a3 $run2",
      1L -> s"b1 b2 $run1 b3 b4 b5 b6 $run2",
      2L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))
    val got = TextOps.textSubstringDup.fn(spark, dir).collect()
    assert(got.length == 1, s"exactly one dup pair expected: ${got.toSeq}")
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) == ((0L, 1L)))
    // run1: 5 consecutive anchors on one diagonal → ONE run of 5+7=12
    // tokens (the island merge); run2: 1 anchor → one 8-token run
    assert(r.getLong(2) == 2L, s"n_runs: ${r.getLong(2)}")
    assert(r.getLong(3) == 12L, s"max_run_tokens: ${r.getLong(3)}")
    assert(r.getLong(4) == 20L, s"dup_tokens: ${r.getLong(4)}")
  }

  test("dedup_span_remove: later copies stripped, first kept, full containment → empty doc") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val run1 = (1 to 12).map(i => s"r$i").mkString(" ")
    val run2 = (1 to 8).map(i => s"q$i").mkString(" ")
    val d0 = s"$run1 a1 a2 a3 $run2"
    val d1 = s"b1 b2 $run1 b3 b4 b5 b6 $run2"
    val d3 = "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"
    val dir = writeDocs(Seq(
      0L -> d0,        // first copy of both runs → keeps everything
      1L -> d1,        // later copy → both runs stripped, filler kept
      2L -> run1,      // fully contained in doc 0 → empty after removal
      3L -> d3))       // no 8-gram overlap → untouched
    val got = TextOps.dedupSpanRemove.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 23L, 0L, 23L, md5hex(d0)),
      (1L, 26L, 20L, 6L, md5hex("b1 b2 b3 b4 b5 b6")),
      (2L, 12L, 12L, 0L, md5hex("")),
      (3L, 10L, 0L, 10L, md5hex(d3))), s"got: $got")
  }

  test("text_wordpiece_segment: the pointer-doubled walk equals a sequential greedy matcher") {
    val sf = "/root/testdata/sf0.01"
    // black-box sequential reference: greedy longest-match-first over the
    // SAME vocabulary the registered query emits — if the 5-round
    // reachability closure forks from true MaxMatch on any word, the
    // per-doc piece totals diverge
    val vocab = SparkEntry.queries("text_wordpiece_vocab")(spark, sf)
      .collect().map(_.getString(0)).toSet
    def pieces(w: String): Long =
      if (w.isEmpty) 0L
      else if (w.length > TextOps.WpMaxWord) 1L
      else {
        var i = 0; var n = 0L
        while (i < w.length) {
          var l = math.min(TextOps.WpMaxPiece, w.length - i)
          while (l > 1 && !vocab.contains(w.substring(i, i + l))) l -= 1
          i += l; n += 1
        }
        n
      }
    val expected = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map { r =>
        val ws = r.getString(1).split(" ", -1)
        r.getLong(0) -> ((ws.length.toLong, ws.map(pieces).sum))
      }.toMap
    val got = SparkEntry.queries("text_wordpiece_segment")(spark, sf)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected,
      s"diverging docs: ${(got.toSet diff expected.toSet).take(5)}")
  }

  /** Sequential references for the unigram segmenter: exact Viterbi DP
    * over the combined integer (cost·64 + pieces) and the cost of the
    * greedy MaxMatch path under the same piece surprisals. */
  private def liTable(dir: String): Map[String, Long] = {
    val vocab = SparkEntry.queries("text_wordpiece_vocab")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = vocab.values.sum
    vocab.map { case (p, c) =>
      p -> Math.round(-math.log(c.toDouble / tot) * 10000)
    }
  }

  private def viterbiRef(w: String, li: Map[String, Long]): (Long, Long) = {
    val inf = Long.MaxValue / 4
    val dp = Array.fill(w.length + 1)(inf); dp(0) = 0L
    for (j <- 1 to w.length; l <- 1 to math.min(4, j)) {
      li.get(w.substring(j - l, j)).foreach { c =>
        if (dp(j - l) != inf && dp(j - l) + c * 64 + 1 < dp(j))
          dp(j) = dp(j - l) + c * 64 + 1
      }
    }
    (dp(w.length) / 64, dp(w.length) % 64)
  }

  private def greedyRef(w: String, li: Map[String, Long]): Long = {
    var i = 0; var cost = 0L
    while (i < w.length) {
      var l = math.min(4, w.length - i)
      while (l > 1 && !li.contains(w.substring(i, i + l))) l -= 1
      cost += li(w.substring(i, i + l)); i += l
    }
    cost
  }

  test("text_unigram_viterbi: per-doc sums equal the sequential Viterbi DP " +
      "and lower-bound the greedy MaxMatch cost on the real corpus") {
    val sf = "/root/testdata/sf0.001"
    val li = liTable(sf)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val expected = docs.map { case (id, ws) =>
      val per = ws.map(w => viterbiRef(w, li))
      // greedy can never beat the global optimum under the same model
      ws.foreach(w => assert(viterbiRef(w, li)._1 <= greedyRef(w, li),
        s"Viterbi cost must lower-bound greedy for '$w'"))
      id -> ((ws.size.toLong, per.map(_._2).sum,
        BigDecimal(per.map(_._1).sum / 10000.0)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toMap
    val got = SparkEntry.queries("text_unigram_viterbi")(spark, sf)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(4)))).toMap
    assert(got == expected,
      s"diverging docs: ${(got.toSet diff expected.toSet).take(3)} vs " +
        s"${(expected.toSet diff got.toSet).take(3)}")
  }

  test("text_unigram_viterbi: finds the cheap split the greedy " +
      "longest-match segmenter walks past") {
    // 'ab' and 'cde' are frequent standalone words; 'abcd' exists only
    // inside the one 'abcde'. MaxMatch grabs the longest prefix 'abcd'
    // and pays the rare-piece surprisal; Viterbi takes ab+cde.
    val dir = writeDocs(
      (0L until 200L).map(i => i -> "ab cde") :+ (999L -> "abcde"))
    val li = liTable(dir)
    val greedy = greedyRef("abcde", li)
    val (vCost, vPieces) = viterbiRef("abcde", li)
    assert(vCost < greedy,
      s"fixture must make greedy strictly suboptimal: viterbi $vCost vs greedy $greedy")
    assert(vPieces == 2L)
    val row = SparkEntry.queries("text_unigram_viterbi")(spark, dir)
      .filter(col("doc_id") === 999L).collect().head
    assert(row.getLong(2) == 2L, s"query must pick ab+cde (2 pieces): $row")
    assert(math.abs(row.getDouble(4) - vCost / 10000.0) < 1e-3,
      s"query nll ${row.getDouble(4)} vs reference ${vCost / 10000.0}")
  }

  private def md5Bucket(key: String): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    ((h(0) & 0xff) << 8) | (h(1) & 0xff)
  }

  test("text_skipgram_pairs: sequential replay of freq -> threshold -> " +
      "gate -> compaction -> windows matches the query exactly") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val freq = docs.flatMap(_._2).groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val t = freq.values.sum.toDouble
    def thr(w: String): Long = {
      val f = freq(w) * 1.0 / t
      math.min(65536L,
        math.floor((math.sqrt(f / 0.001) + 1) * 0.001 / f * 65536).toLong)
    }
    val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
    var hotTotal = 0L; var hotKept = 0L
    val hot = freq.maxBy(_._2)._1
    docs.foreach { case (id, ws) =>
      val kept = ws.zipWithIndex.collect {
        case (w, i) if {
          val k = md5Bucket(s"$id:${i + 1}") < thr(w)
          if (w == hot) { hotTotal += 1; if (k) hotKept += 1 }
          k
        } => w
      }
      for (i <- kept.indices; dTo <- 1 to 2; if i + dTo < kept.size) {
        pairs((kept(i), kept(i + dTo))) = pairs.getOrElse((kept(i), kept(i + dTo)), 0L) + 1
        pairs((kept(i + dTo), kept(i))) = pairs.getOrElse((kept(i + dTo), kept(i)), 0L) + 1
      }
    }
    val got = SparkEntry.queries("text_skipgram_pairs")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == pairs.toMap,
      s"diverging pairs: ${(got.toSet diff pairs.toSet).take(3)} vs ${(pairs.toSet diff got.toSet).take(3)}")
    assert(hotKept < hotTotal,
      s"subsampling must engage on the hottest token ($hot): $hotKept/$hotTotal kept")
  }

  test("text_negative_table: slots sum exactly to the table size and are " +
      "monotone in count") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("text_negative_table")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._3).sum == 65536L,
      s"largest-remainder apportionment must hit the table size exactly: ${rows.map(_._3).sum}")
    // smoothing keeps order: a strictly more frequent word never gets
    // fewer slots (remainder top-up can add at most 1)
    for (Seq(x, y) <- rows.toSeq.sortBy(_._2).sliding(2) if x._2 < y._2)
      assert(x._3 <= y._3 + 1, s"slot monotonicity broken: $x vs $y")
    assert(rows.forall(_._3 > 0), "every observed word stays sampleable")
  }

  test("text_span_corruption: sequential replay matches; corruption rate " +
      "lands near the 15% budget") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1).length)
    val expected = docs.map { case (id, n) =>
      val masked = scala.collection.mutable.SortedSet.empty[Int]
      for (pos <- 1 to n if md5Bucket(s"$id:$pos") < TextOps.SpanStartThr) {
        val sl = 1 + md5Bucket(s"$id:$pos:L") % TextOps.SpanMaxLen
        (pos until math.min(pos + sl, n + 1)).foreach(masked += _)
      }
      val spans = masked.toSeq.foldLeft(List.empty[Int]) { (acc, p) =>
        if (acc.nonEmpty && masked.contains(p - 1)) acc else p :: acc
      }.size
      id -> ((n.toLong, masked.size.toLong, spans.toLong))
    }.toMap
    val got = SparkEntry.queries("text_span_corruption")(spark, sf)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected,
      s"diverging docs: ${(got.toSet diff expected.toSet).take(3)}")
    val rate = got.values.map(_._2).sum.toDouble / got.values.map(_._1).sum
    assert(rate > 0.08 && rate < 0.22,
      s"corpus corruption rate must track the 15% budget, got $rate")
  }

  /** Brute-force exact τ-Jaccard pairs over the FULL (uncapped) shingle
    * universe — the O(index²) ground truth dedup_allpairs' prefix filter
    * must reproduce losslessly. */
  private def bruteForcePairs(dir: String): Set[(Long, Long, Long, Double)] = {
    import org.apache.spark.sql.functions._
    val sh = Tables.documents(spark, dir).select(col("doc_id"),
      explode(graft.functions.ShingleMd5s.shingle_md5s(
        split(col("text"), " "), 3)).as("sh")).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.toDF("da", "sh"); val b = sh.toDF("db", "shb")
    a.join(b, col("sh") === col("shb") && col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("common"))
      .join(sizes.toDF("da", "na"), "da").join(sizes.toDF("db", "nb"), "db")
      .filter(lit(5) * col("common") >= lit(4) * (col("na") + col("nb") - col("common")))
      .select(col("da"), col("db"), col("common"),
        round(col("common") * lit(1.0) / (col("na") + col("nb") - col("common")), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
  }

  test("dedup_allpairs: prefix-filtered join equals the brute-force " +
      "full-universe pair join on the real corpus (losslessness)") {
    val sf = "/root/testdata/sf0.001"
    val got = TextOps.dedupAllpairs.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = bruteForcePairs(sf)
    assert(got == want, s"prefix filter forked from ground truth: " +
      s"missing ${(want diff got).take(3)}, extra ${(got diff want).take(3)}")
  }

  test("dedup_allpairs: recovers the all-boilerplate clique the df-capped " +
      "dedup_ngram_jaccard structurally drops") {
    // 12 identical docs: every shared shingle is above-cap boilerplate for
    // the capped chain IF df exceeded the cap; here df=12 < cap, so use 60
    val boiler = (1 to 20).map(i => s"tok$i").mkString(" ")
    val dir = writeDocs((0L until 60L).map(i => i -> boiler))
    // the capped chain excludes the shared shingles (df 60 > 50): no pairs
    assert(TextOps.dedupNgramJaccard.fn(spark, dir).count() == 0L)
    // the exact chain reports the full clique at Jaccard 1.0
    val got = TextOps.dedupAllpairs.fn(spark, dir).collect()
    assert(got.length == 60 * 59 / 2, s"expected C(60,2) pairs, got ${got.length}")
    assert(got.forall(_.getDouble(3) == 1.0))
  }

  /** doc_id → md5 hex bucket, the test-side mirror of Keys.hexBucketCol. */
  private def bucketOf(id: Long): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    Integer.parseInt(h.take(4), 16)
  }

  test("decontam_minhash: cross-split near-dup flagged; best-match ties on smaller eval id") {
    import graft.operators.Keys
    val ids = (0L to 2000L)
    val trainIds = ids.filter(bucketOf(_) < Keys.TrainThr)
    val testIds = ids.filter(bucketOf(_) >= Keys.ValThr)
    val leakTrain = trainIds.head // planted benchmark copy in the corpus
    val eval1 = testIds.head // two identical eval docs: tie on agreement
    val eval2 = testIds(1)
    val cleanTrain = trainIds(1) // unrelated text: must not band-match
    val bench = (1 to 16).map(i => s"bench$i").mkString(" ")
    val clean = (1 to 16).map(i => s"clean$i").mkString(" ")
    val dir = writeDocs(Seq(
      leakTrain -> bench, eval1 -> bench, eval2 -> bench, cleanTrain -> clean))
    val rows = TextOps.decontamMinhash.fn(spark, dir).collect()
    // only the leaked train doc shares a band with the eval side
    assert(rows.map(_.getLong(0)).toSeq == Seq(leakTrain), rows.mkString(";"))
    val r = rows.head
    // identical text → all 8 windows agree → flagged; tie between the two
    // identical eval docs resolves to the smaller eval id
    assert(r.getLong(1) == math.min(eval1, eval2), r.toString)
    assert(r.getLong(2) == 8L && r.getDouble(3) == 1.0 && r.getBoolean(4))
  }

  test("dedup_canonical_quality: keeps the best-quality member, id only on ties") {
    // A: fluent, NO stopwords -> quality 2; B = A + ' the' -> quality 3,
    // near-identical shingles so they band-cluster; C/D identical text:
    // quality ties -> min id keeps
    // disjoint vocabularies per group so only the intended pairs cluster
    val base = (1 to 40).map(i => f"word$i%02dx").mkString(" ")
    val tieTx = (1 to 40).map(i => f"tiew$i%02dy").mkString(" ")
    val solo = (1 to 40).map(i => f"alone$i%02dz").mkString(" ")
    val dir = writeDocs(Seq(
      10L -> base, 11L -> s"$base the",
      20L -> solo,
      30L -> tieTx, 31L -> tieTx))
    val rows = TextOps.dedupCanonicalQuality.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getBoolean(3))).toMap
    // the planted pair must cluster together (tripwire on band definitions)
    assert(rows(10L)._1 == rows(11L)._1, s"10/11 did not cluster: $rows")
    assert(rows(11L)._2 > rows(10L)._2, "the stopword copy must score higher")
    assert(rows(11L)._3 && !rows(10L)._3,
      "survivorship must keep the higher-quality LARGER id, not min-id")
    // quality tie: min id keeps
    assert(rows(30L)._1 == rows(31L)._1 && rows(30L)._3 && !rows(31L)._3)
    // singleton keeps itself
    assert(rows(20L)._3)
    // per-cluster: exactly one keeper
    rows.values.groupBy(_._1).foreach { case (c, ms) =>
      assert(ms.count(_._3) == 1, s"cluster $c keepers != 1") }
  }

  test("text_quality_ablation: reconciles with the per-doc quality scores") {
    val sf = "/root/testdata/sf0.01"
    val rows = TextOps.textQualityAblation.fn(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(rows.keySet == Set(1, 2, 3))
    val q = TextOps.textQuality.fn(spark, sf).collect()
    val n = q.length
    val allPass = q.count(_.getAs[Int]("quality") == 3).toLong
    rows.values.foreach { case (p, f, u, ap) =>
      assert(p + f == n, "pass + fail must cover the corpus")
      assert(u <= f, "unique failures are a subset of failures")
      assert(ap == allPass, "all-pass context must equal the quality-3 count")
    }
    // a doc failing exactly one gate has quality 2 — the unique-fail totals
    // must equal the quality-2 population
    assert(rows.values.map(_._3).sum == q.count(_.getAs[Int]("quality") == 2),
      "sum of unique failures must equal the quality-2 doc count")
  }

  test("text_nb_calibration: bins partition the corpus and bound their own confidences") {
    val sf = "/root/testdata/sf0.01"
    val rows = TextOps.textNbCalibration.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getAs[Double]("mean_conf"),
        r.getAs[Double]("accuracy"), r.getAs[Double]("gap")))
    assert(rows.map(_._2).sum == 500, "every doc lands in exactly one bin")
    rows.foreach { case (bin, n, conf, acc, gap) =>
      assert(bin >= 2 && bin <= 9, s"5-class posterior floor is 0.2: bin $bin")
      // a bin's mean confidence sits inside the bin (bin 9 includes 1.0)
      assert(conf >= bin / 10.0 - 1e-9 && conf < (bin + 1) / 10.0 + (if (bin == 9) 0.1 else 0.0),
        s"bin $bin mean_conf $conf outside bin")
      assert(acc >= 0.0 && acc <= 1.0 && n > 0)
      // gap rounds the UNROUNDED means, so recomputing from the rounded
      // columns can differ by up to 1.5e-4 (5e-5 per rounded input)
      assert(math.abs(gap - math.abs(conf - acc)) <= 2e-4,
        s"gap must be |conf−acc|: $bin $conf $acc $gap")
    }
  }

  test("text_paragraph_filter: drops the word-salad paragraph, keeps fluent and short ones") {
    val fluent = (1 to 11).map(_ => "the cat sat on the mat").mkString(" ")
    val salad = "zq xv qj vk jx kq wz zx" // bigrams unseen anywhere else
    // 20 fluent-only docs train the LM; doc 100 carries salad + a short tail
    val dir = writeDocs(
      (0L until 20L).map(i => i -> fluent) ++
        Seq(100L -> s"$fluent. $salad. ok"))
    val rows = TextOps.textParagraphFilter.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r = rows(100L)
    assert(r.getLong(1) == 3 && r.getLong(2) == 2,
      s"expected salad dropped of 3 paras: $r")
    // reconstruction: fluent + the short unscored tail, in order
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$fluent. ok".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getString(4) == md5, s"cleaned digest forked: $r")
    // the fluent-only docs survive whole
    (0L until 20L).foreach(i =>
      assert(rows(i).getLong(2) == rows(i).getLong(1), rows(i).toString))
  }

  test("dedup_minhash_recall: certificate counts reconcile with the queries it grades") {
    val sf = "/root/testdata/sf0.01"
    val r = TextOps.dedupMinhashRecall.fn(spark, sf).collect().head
    val (nTrue, nCand, nCaught, recall) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getAs[Double]("recall"))
    // the certificate's inputs ARE the graded queries' outputs
    assert(nTrue == TextOps.dedupAllpairs.fn(spark, sf).count(), "ground truth forked")
    assert(nCand == TextOps.dedupMinhashPairs.fn(spark, sf).count(), "candidate set forked")
    assert(nCaught <= math.min(nTrue, nCand) && nTrue > 0)
    assert(recall == math.rint(nCaught * 1.0 / nTrue * 1e4) / 1e4)
  }

  test("dedup_simhash_recall: reconciles with its chains and sits below the MinHash recall") {
    val sf = "/root/testdata/sf0.01"
    val r = TextOps.dedupSimhashRecall.fn(spark, sf).collect().head
    val (nTrue, nCand, nCaught) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nTrue == TextOps.dedupAllpairs.fn(spark, sf).count(), "ground truth forked")
    assert(nCand == TextOps.dedupSimhashPairs.fn(spark, sf).count(), "candidate set forked")
    assert(nCaught <= math.min(nTrue, nCand) && nTrue > 0)
    // the designed trade: <=1-Hamming on 60 bits is high-precision /
    // low-recall next to 4x2 banded MinHash — the grid must show it
    val mh = TextOps.dedupMinhashRecall.fn(spark, sf).collect().head
    assert(r.getAs[Double]("recall") <= mh.getAs[Double]("recall"),
      s"simhash@dist1 recall must not exceed banded-MinHash recall: $r vs $mh")
  }

  test("rag_hybrid: blend is bounded, ordered, and consistent with its legs") {
    val sf = "/root/testdata/sf0.01"
    val rows = TextOps.ragHybrid.fn(spark, sf).collect()
    assert(rows.length == 10)
    val hybrids = rows.map(_.getAs[Double]("hybrid"))
    assert(hybrids.sameElements(hybrids.sortBy(-_)), "must rank by hybrid desc")
    hybrids.foreach(h => assert(h >= 0.0 && h <= 1.0, s"blend out of [0,1]: $h"))
    // the lexical leg's winner normalizes to 1.0 there, so its hybrid is
    // ≥ 0.5 — the fused top-1 must therefore reach at least 0.5
    assert(hybrids.head >= 0.5,
      s"fused top-1 ${hybrids.head} below the leg-winner floor 0.5")
    // every candidate has a vector (ids ≠ 0), so the dense column is never
    // null; at least one fused row must carry a lexical score too
    rows.foreach(r => assert(!r.isNullAt(r.fieldIndex("cos")), r.toString))
    assert(rows.exists(!_.isNullAt(1)), "no fused row carries a bm25 score")
  }

  test("text_chunk: boundary arithmetic at the exact window edges") {
    def words(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val dir = writeDocs(Seq(
      1L -> words(3, "a"), // shorter than one window
      2L -> words(128, "b"), // exactly one window
      3L -> words(129, "c"), // one token spills into a second chunk
      4L -> words(320, "d"))) // 128 + 2×96 = 320: last chunk exactly full
    val got = TextOps.textChunk.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(got(1L).map(t => (t._2, t._3, t._4)).toSeq == Seq((0L, 0L, 3L)))
    assert(got(2L).map(t => (t._2, t._3, t._4)).toSeq == Seq((0L, 0L, 128L)))
    assert(got(3L).map(t => (t._2, t._3, t._4)).toSeq ==
      Seq((0L, 0L, 128L), (1L, 96L, 33L)))
    assert(got(4L).map(t => (t._2, t._3, t._4)).toSeq ==
      Seq((0L, 0L, 128L), (1L, 96L, 128L), (2L, 192L, 128L)))
  }

  test("text_chunk: real-corpus chunks tile every document completely") {
    val sf = "/root/testdata/sf0.001"
    val nTokens = Tables.documents(spark, sf)
      .selectExpr("doc_id", "size(split(text, ' ')) AS n").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = TextOps.textChunk.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(chunks.keySet == nTokens.keySet, "every document must chunk")
    chunks.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      // indices dense from 0, starts at stride multiples, tail reaches n
      sorted.zipWithIndex.foreach { case ((_, idx, start, len), i) =>
        assert(idx == i && start == i.toLong * TextOps.ChunkStride)
        assert(len >= 1 && len <= TextOps.ChunkTokens)
      }
      val (_, _, lastStart, lastLen) = sorted.last
      assert(lastStart + lastLen == nTokens(doc),
        s"doc $doc: coverage ends at ${lastStart + lastLen}, n=${nTokens(doc)}")
      // every non-final chunk is full-width
      sorted.init.foreach(c => assert(c._4 == TextOps.ChunkTokens.toLong))
    }
  }

  test("decontam_minhash_report: rollup reconciles with the per-doc query") {
    val sf = "/root/testdata/sf0.01"
    val flagged = TextOps.decontamMinhash.fn(spark, sf).collect()
      .filter(_.getBoolean(4)).map(_.getLong(0)).toSet
    val bySource = Tables.documents(spark, sf)
      .selectExpr("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val trains = bySource.keys.filter(id =>
      bucketOf(id) < graft.operators.Keys.TrainThr).toSeq
    val want = trains.groupBy(bySource).map { case (src, ids) =>
      src -> (ids.length.toLong, ids.count(flagged).toLong) }
    val got = TextOps.decontamMinhashReport.fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want, s"report forked: $got vs $want")
    assert(got.values.map(_._2).sum == flagged.size,
      "every flagged doc must appear in exactly one source row")
  }

  test("decontam_minhash: real-corpus rows are internally consistent") {
    val rows = TextOps.decontamMinhash.fn(spark, "/root/testdata/sf0.001").collect()
    rows.foreach { r =>
      val nw = r.getLong(2)
      // a candidate shares ≥1 band (2 consecutive agreeing windows)
      assert(nw >= 2 && nw <= 8, r.toString)
      assert(r.getDouble(3) == math.rint(nw / 8.0 * 1e4) / 1e4, r.toString)
      assert(r.getBoolean(4) == (nw >= 6), r.toString)
    }
    // train docs only, each at most once (best match kept)
    val docs = rows.map(_.getLong(0))
    assert(docs.distinct.length == docs.length)
    docs.foreach(id => assert(bucketOf(id) < graft.operators.Keys.TrainThr))
  }
}
