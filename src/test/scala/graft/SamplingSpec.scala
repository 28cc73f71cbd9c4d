package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

/** Determinism/stability properties of the hash-gated data-prep operators —
  * the whole point of hash gating over rand(): membership must not move
  * under re-partitioning, re-runs, or subsetting. */
class SamplingSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Tables.localSession("sampling-spec", cores = 8)
  val sf = "/root/testdata/sf0.01"

  test("sample_hash: membership invariant under repartitioning and re-runs") {
    val a = SparkEntry.queries("sample_hash")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val b = SparkEntry.queries("sample_hash")(spark, sf)
      .repartition(7).collect().map(_.getLong(0)).toSet
    assert(a == b, "hash-gated sample must not depend on physical layout")
    assert(a.nonEmpty && a.size < 500, s"~10% expected, got ${a.size}/500")
  }

  test("split_assign: rates near 8/1/1, membership keyed only on doc_id") {
    val splits = SparkEntry.queries("split_assign")(spark, sf)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet == Set("train", "val", "test"))
    assert(splits("train") > 350, s"train too small: $splits") // 80% of 500
    assert(splits("val") > 20 && splits("test") > 20, s"eval too small: $splits")
  }

  test("split_leakage_safe: every near-dup cluster lands in exactly one split") {
    val out = SparkEntry.queries("split_leakage_safe")(spark, sf).cache()
    val mixed = out.groupBy("cluster")
      .agg(countDistinct("split").as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(mixed.count() == 0, "near-dups must never straddle a split boundary")
    // and it actually differs from the doc-hash split for clustered docs
    assert(out.filter(col("cluster") =!= col("doc_id")).count() > 0,
      "fixture corpus should contain non-trivial clusters")
  }

  test("sample_stratified: overrepresented languages capped, small ones pass whole") {
    val docs = Tables.documents(spark, sf)
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = SparkEntry.queries("sample_stratified")(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en is ~44% of the corpus (218/500): must be downsampled toward ~100
    assert(after("en") < before("en"), s"en not downsampled: $after vs $before")
    assert(after("en") > 60 && after("en") < 140,
      s"en should land near the 100-doc cap, got ${after("en")}")
    // languages under the cap keep EVERY doc (threshold saturates at 65536)
    before.filter(_._2 <= 100).keys.foreach { l =>
      assert(after(l) == before(l), s"$l under the cap must pass whole")
    }
    // determinism: membership survives re-runs
    val a = SparkEntry.queries("sample_stratified")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val b = SparkEntry.queries("sample_stratified")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("decontam_ngram: planted 8-gram overlap across the split boundary is flagged") {
    import spark.implicits._
    // find one doc id the hash assigns to 'test' and one to 'train'
    // (thresholds from the single source: graft.operators.Sampling)
    def bucket(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(md.substring(0, 4), 16)
    }
    val trainId = (0L to 500L).find(bucket(_) < graft.operators.Sampling.TrainThr).get
    val testId = (0L to 500L).find(bucket(_) >= graft.operators.Sampling.ValThr).get
    val cleanId = (0L to 500L).filter(bucket(_) < graft.operators.Sampling.TrainThr).find(_ != trainId).get
    val overlap = (1 to 8).map(i => s"shared$i").mkString(" ") // one 8-gram
    val dir = tempDir("decontam-docs").toString
    Seq(
      trainId -> s"$overlap plus unrelated trailing text here",
      testId -> s"completely different prefix then $overlap",
      cleanId -> (1 to 12).map(i => s"clean$i").mkString(" "))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("decontam_ngram")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got(trainId), "train doc sharing an 8-gram with the eval split must be flagged")
    assert(!got(cleanId), "train doc with no eval overlap must stay clean")
    assert(!got.contains(testId), "eval docs are not part of the report")
  }

  test("decontam_bloom: bit-identical to the exact inverted-index check") {
    // bloom filters have no false negatives and the exact confirm join
    // removes false positives, so the prefiltered path must reproduce the
    // exact result row-for-row — this equality is the whole contract
    val exact = SparkEntry.queries("decontam_ngram")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val bloom = SparkEntry.queries("decontam_bloom")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(exact == bloom, "bloom prefilter changed the decontamination result")
    assert(exact.exists(_._3), "fixture corpus should contain contaminated docs")
  }

  test("pack_sequences: token budget holds — a sequence overflows only via its last doc") {
    import org.apache.spark.sql.expressions.Window
    val out = SparkEntry.queries("pack_sequences")(spark, sf).cache()
    // every doc STARTS inside its sequence's 4096-token window, so the sum
    // of all docs in a sequence except the last one must fit the budget
    val w = Window.partitionBy("shard", "seq_id").orderBy(col("doc_id").desc)
    val overflow = out
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1) // drop the last (possibly overflowing) doc
      .groupBy("shard", "seq_id")
      .agg(sum("n_tokens").as("packed"))
      .filter(col("packed") > 4096)
    assert(overflow.count() == 0, "sequence packed beyond the token budget")
    // seq ids are dense from 0 within each shard (no skipped bins)
    val perShard = out.groupBy("shard")
      .agg(min("seq_id").as("lo"), countDistinct("seq_id").as("n"),
        max("seq_id").as("hi"))
      .filter(col("lo") =!= 0 || col("hi") =!= col("n") - 1)
    assert(perShard.count() == 0, "seq_id must be dense per shard")
  }

  test("sample_weighted: max-length docs always kept, empty docs never, rate ∝ length") {
    val out = SparkEntry.queries("sample_weighted")(spark, sf)
      .select("doc_id", "n_chars", "bucket").collect()
    assert(out.nonEmpty)
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val maxChars = docs.values.max
    val kept = out.map(_.getLong(0)).toSet
    // every doc at the corpus max length passes the gate unconditionally
    // (bucket < 65536 always) — the weight ceiling is airtight
    docs.filter(_._2 == maxChars).keys.foreach(id =>
      assert(kept.contains(id), s"max-length doc $id must always be kept"))
    // the kept set satisfies the exact integer gate, and is repeatable
    out.foreach { r =>
      assert(r.getInt(2).toLong * maxChars < r.getLong(1) * 65536L)
    }
    val again = SparkEntry.queries("sample_weighted")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept, "hash-gated sample must be run-stable")
    // aggregate keep rate tracks E[n_chars/max] (loose band: fixture corpus)
    val expected = docs.values.map(_.toDouble / maxChars).sum / docs.size
    val got = kept.size.toDouble / docs.size
    assert(math.abs(got - expected) < 0.15, s"keep rate $got vs expected $expected")
  }

  test("corpus_reweight: budget binds on the scarcest language, gates are exact") {
    import spark.implicits._
    // en:200 zh:100 de:100 docs against targets en35/zh25/de20 (fr/es
    // absent → dropped by the inner join). budget = min(200·100÷35,
    // 100·100÷25, 100·100÷20) = min(571, 400, 500) = 400;
    // k_target = (35·400÷100, 25·400÷100, 20·400÷100) = (140, 100, 80).
    val rows =
      (0L until 200L).map(i => (i, s"en doc $i", "en")) ++
        (200L until 300L).map(i => (i, s"zh doc $i", "zh")) ++
        (300L until 400L).map(i => (i, s"de doc $i", "de"))
    val dir = tempDir("reweight-docs").toString
    rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'t' AS source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("corpus_reweight")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("en", "zh", "de"))
    assert(got("en").getAs[Long]("k_target") == 140L)
    assert(got("zh").getAs[Long]("k_target") == 100L)
    assert(got("de").getAs[Long]("k_target") == 80L)
    // the binding language keeps EVERY doc: bucket·100 < 100·65536 always
    assert(got("zh").getAs[Long]("n_kept") == 100L)
    got.values.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
    }
    // realized shares sum to 1 (4-dp rounding tolerance)
    val shareSum = got.values.map(_.getAs[Double]("realized_share")).sum
    assert(math.abs(shareSum - 1.0) < 5e-4, s"shares sum to $shareSum")
  }

  test("corpus_domain_cap: at most DomainCap kept per source, quality-first") {
    val out = SparkEntry.queries("corpus_domain_cap")(spark, sf).cache()
    val kept = out.filter(col("keep"))
    val perSource = kept.groupBy("source").count().collect()
    assert(perSource.nonEmpty)
    perSource.foreach(r =>
      assert(r.getLong(1) <= operators.Sampling.DomainCap,
        s"source ${r.getString(0)} kept ${r.getLong(1)} > cap"))
    // a kept doc never has lower quality than a dropped doc of its source
    val minKept = kept.groupBy("source").agg(min("quality").as("qk"))
    val maxDrop = out.filter(!col("keep"))
      .groupBy("source").agg(max("quality").as("qd"))
    minKept.join(maxDrop, "source").collect().foreach { r =>
      assert(r.getAs[Int]("qk") >= r.getAs[Int]("qd"),
        s"source ${r.getString(0)}: kept quality below dropped quality")
    }
    out.unpersist()
  }

  test("corpus_token_budget: two-phase cumsum equals the global-window semantics") {
    val out = SparkEntry.queries("corpus_token_budget")(spark, sf).cache()
    // reference: single global ordered cumsum computed on the driver
    val rows = out.select("doc_id", "quality", "n_tokens", "cum_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .sortBy { case (id, q, _, _) => (-q, id) }
    var cum = 0L
    rows.foreach { case (id, _, n, got) =>
      cum += n
      assert(got == cum, s"doc $id: two-phase cum $got != reference $cum")
    }
    // the budget boundary: selected docs fit entirely, and the frontier is
    // exactly the prefix of the quality-ordered corpus
    val sel = out.filter(col("selected")).agg(max("cum_tokens")).head.getLong(0)
    val unselMin = out.filter(!col("selected")).agg(min("cum_tokens")).head.getLong(0)
    assert(sel <= operators.Sampling.TokenBudget && unselMin > operators.Sampling.TokenBudget)
    out.unpersist()
  }

  test("docOrderedCumsum: randomized sparse ids equal the driver prefix sum " +
      "across both reduction levels") {
    // the shared budget-cumsum helper now backs corpus_curation_e2e AND
    // the streaming curation sink — prove the recursive reduction against
    // a trivial driver fold on ids sparse/clustered enough to leave range
    // buckets empty, span super-buckets (>256*256 ids), and collide
    // within one bucket
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val ids = scala.collection.mutable.SortedSet.empty[Long]
      var cur = 0L
      while (ids.size < 400) {
        // jumps up to ~2^18 cross BudgetRangeWidth^2 super-bucket borders
        cur += 1 + rnd.nextInt(1 << (3 + rnd.nextInt(16)))
        ids += cur
      }
      val data = ids.toSeq.map(id => (id, 1L + rnd.nextInt(5000)))
      val got = operators.Sampling
        .docOrderedCumsum(data.toDF("doc_id", "n_tokens"))
        .select("doc_id", "cum_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      var cum = 0L
      data.zip(got).foreach { case ((id, n), (gid, gcum)) =>
        cum += n
        assert(gid == id && gcum == cum,
          s"seed $seed doc $id: two-phase cum $gcum != reference $cum")
      }
    }
  }

  test("decontam_report: rates recompute exactly from the per-doc decontam query") {
    val perDoc = SparkEntry.queries("decontam_ngram")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("contaminated")).toMap
    val sources = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val report = SparkEntry.queries("decontam_report")(spark, sf).collect()
    assert(report.nonEmpty)
    report.foreach { r =>
      val src = r.getString(0)
      val docs = perDoc.keys.filter(sources(_) == src)
      assert(r.getAs[Long]("n_train") == docs.size, s"$src n_train")
      assert(r.getAs[Long]("n_contaminated") == docs.count(perDoc(_)), s"$src n_contam")
    }
    // every train doc is attributed to exactly one source row
    assert(report.map(_.getAs[Long]("n_train")).sum == perDoc.size)
  }

  test("corpus_curation_e2e: every emitted doc passes every upstream gate") {
    val out = SparkEntry.queries("corpus_curation_e2e")(spark, sf).cache()
    val ids = out.collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty, "pipeline selected nothing — budget or gates broken")

    // gate 1+2+dedup: emitted ⊆ the funnel's per-source unique survivors
    // is not directly comparable (funnel is corpus-wide), so re-check the
    // per-doc predicates against the standalone stage queries instead.
    // split: all emitted docs are train docs
    val splits = SparkEntry.queries("split_assign")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ids.forall(splits(_) == "train"), "a non-train doc was emitted")
    // quality: all emitted docs score 3/3 with ≥10 tokens
    val q = SparkEntry.queries("text_quality")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_tokens"), r.getAs[Int]("quality"))).toMap
    assert(ids.forall(id => q(id)._1 >= 10 && q(id)._2 == 3),
      "an emitted doc fails the quality gate")
    // dedup: no two emitted docs share a near-dup cluster
    val cl = SparkEntry.queries("dedup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusters = ids.toSeq.map(cl)
    assert(clusters.distinct.size == clusters.size,
      "two emitted docs share a near-dup cluster")
    // decontam: no emitted doc is flagged contaminated
    val dirty = SparkEntry.queries("decontam_ngram")(spark, sf)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSet
    assert(ids.intersect(dirty).isEmpty, "a contaminated doc was emitted")
    // budget: total selected tokens fit, and the stream is the doc-order
    // prefix (every survivor below the max emitted id is either emitted or
    // gate-excluded — checked implicitly by the cumsum being contiguous)
    val rows = out.orderBy("doc_id").collect()
    var cum = 0L
    rows.foreach { r =>
      cum += r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("cum_tokens") == cum, s"cumsum gap at ${r.getLong(0)}")
    }
    assert(cum <= operators.Sampling.E2eBudget, s"budget exceeded: $cum")
    // pack: within each shard, seq_id is nondecreasing and each sequence
    // holds ≤4096 tokens except when a single doc alone exceeds it
    rows.groupBy(_.getAs[Int]("shard")).foreach { case (_, rs) =>
      val perSeq = rs.groupBy(_.getAs[Long]("seq_id"))
        .view.mapValues(_.map(_.getAs[Long]("n_tokens")).sum)
      perSeq.foreach { case (seq, tot) =>
        val single = rs.filter(_.getAs[Long]("seq_id") == seq)
        assert(tot <= 4096 + single.map(_.getAs[Long]("n_tokens")).max,
          s"sequence $seq overfilled: $tot")
      }
    }
    out.unpersist()
  }

  test("corpus_dsir_weights: target-domain docs score higher than the corpus at large") {
    val w = SparkEntry.queries("corpus_dsir_weights")(spark, sf)
      .join(Tables.documents(spark, sf).select("doc_id", "source"), "doc_id")
      .cache()
    val tgtMean = w.filter(col("source") === operators.Sampling.DsirTarget)
      .agg(avg("logw")).head.getDouble(0)
    val restMean = w.filter(col("source") =!= operators.Sampling.DsirTarget)
      .agg(avg("logw")).head.getDouble(0)
    // the importance ratio is trained to discriminate target vs raw:
    // if the target's own docs don't score above the rest, the model
    // learned nothing and the selection is noise
    assert(tgtMean > restMean,
      s"target mean logw $tgtMean must exceed non-target $restMean")
    // determinism: the weight is a pure function of the corpus snapshot
    val a = w.select("doc_id", "logw").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = SparkEntry.queries("corpus_dsir_weights")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a == b, "re-run must reproduce identical weights")
    w.unpersist()
  }

  test("corpus_dsir_select: Gumbel top-k enriches the selection toward the target domain") {
    val docs = Tables.documents(spark, sf)
    val nDocs = docs.count().toDouble
    val nTgt = docs.filter(col("source") === operators.Sampling.DsirTarget)
      .count().toDouble
    val sel = SparkEntry.queries("corpus_dsir_select")(spark, sf)
      .join(docs.select("doc_id", "source"), "doc_id").cache()
    assert(sel.count() == 100, "selection must be exactly k = 100 docs")
    val selTgt = sel.filter(col("source") === operators.Sampling.DsirTarget)
      .count().toDouble
    // resampling on importance weights must over-represent the target
    // relative to its base rate (src0 is ~5% of the corpus)
    assert(selTgt / 100.0 > nTgt / nDocs,
      s"selection target share ${selTgt / 100.0} must beat base rate ${nTgt / nDocs}")
    sel.unpersist()
  }

  test("corpus_eval_sample: quotas replicate the sequential largest-remainder " +
      "apportionment and the batch hits the budget exactly") {
    import graft.operators.Sampling
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("corpus_eval_sample")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(got.length == Sampling.EvalSampleN,
      s"500-doc corpus must fill the ${Sampling.EvalSampleN}-doc budget, got ${got.length}")
    assert(got.map(_._1).distinct.length == got.length, "no doc drawn twice")
    // sequential apportionment over the same cells
    val cells = graft.operators.Quality.metrics(spark, sf)
      .select("doc_id", "quality")
      .join(Tables.documents(spark, sf).select("doc_id", "source"), "doc_id")
      .groupBy("source", "quality").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val t = cells.values.sum.toDouble
    val base = cells.map { case (c, cn) =>
      c -> math.floor(cn * Sampling.EvalSampleN.toDouble / t).toLong }
    val rem = cells.map { case (c, cn) =>
      val s0 = cn * Sampling.EvalSampleN.toDouble / t; c -> (s0 - math.floor(s0)) }
    val k = Sampling.EvalSampleN - base.values.sum
    val topUp = rem.toSeq.sortBy { case ((src, q), r) => (-r, src, q) }
      .take(k.toInt).map(_._1).toSet
    val quota = base.map { case (c, b) => c -> (b + (if (topUp(c)) 1L else 0L)) }
    val drawn = got.groupBy(r => (r._2, r._3))
      .map { case (c, rs) => c -> rs.length.toLong }
    assert(drawn == quota.filter(_._2 > 0),
      s"per-cell draws diverge: $drawn vs $quota")
  }

  test("corpus_temperature_mix: quotas apportion exactly; tail lifted, head flattened") {
    val sf = "/root/testdata/sf0.01"
    val rows = graft.operators.Sampling.corpusTemperatureMix.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Double]("raw_share"),
        r.getAs[Double]("target_share"), r.getLong(4),
        r.getAs[Double]("sample_factor")))
    assert(rows.map(_._5).sum == 200L, "largest remainder must sum exactly to the budget")
    // alpha = 0.5 flattening: the most-frequent language's target share drops
    // below raw, the least-frequent one's rises above
    val head = rows.maxBy(_._2); val tail = rows.minBy(_._2)
    assert(head._4 < head._3, s"head not flattened: $head")
    assert(tail._4 > tail._3, s"tail not lifted: $tail")
    assert(head._6 < 1.0 && tail._6 > 1.0, s"sample factors: $head / $tail")
    // exact integer replay of the apportionment
    val wq = rows.map { case (l, n, _, _, _, _) =>
      l -> BigInt(math.rint(math.sqrt(n.toDouble) * 10000).toLong) }.toMap
    val sw = wq.values.sum
    val base = wq.map { case (l, w) => l -> (BigInt(200) * w / sw) }
    val rem = wq.map { case (l, w) => l -> (BigInt(200) * w % sw) }
    val k = (200 - base.values.sum).toInt
    val topUp = rem.toSeq.sortBy { case (l, r) => (-r, l) }.take(k).map(_._1).toSet
    rows.foreach { case (l, _, _, _, q, _) =>
      assert(BigInt(q) == base(l) + (if (topUp(l)) 1 else 0), s"quota forked for $l") }
  }

  test("corpus_shard_manifest: checksum is order-free and flags a one-byte change") {
    val sf = "/root/testdata/sf0.001"
    val q = graft.operators.Sampling.corpusShardManifest
    val a = q.fn(spark, sf).collect().map(r =>
      r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // exact sequential replay from raw rows (any iteration order — the sum
    // is commutative, which IS the property under test)
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bucket(id: Long) = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(h.take(4), 16)
    }
    val replay = docs.reverse.groupBy { case (id, _) => bucket(id) % 16 }
      .map { case (sh, ds) =>
        val ck = ds.map { case (_, t) =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
          BigInt(h.take(12), 16)
        }.sum
        sh -> (ds.length.toLong, ck.toString)
      }
    assert(a.keySet == replay.keySet)
    replay.foreach { case (sh, (n, ck)) =>
      assert(a(sh)._1 == n && a(sh)._4 == ck, s"shard $sh manifest forked") }
  }

  test("split_kfold: folds follow the cluster hash; no near-dup pair straddles folds") {
    val sf = "/root/testdata/sf0.01"
    val rows = graft.operators.Sampling.splitKfold.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.length == 500)
    def bucket(id: Long) = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(h.take(4), 16)
    }
    rows.foreach { case (_, cluster, fold) =>
      assert(fold == bucket(cluster) % 5, s"fold must be the cluster hash: $cluster $fold") }
    // every member of a cluster lands in ONE fold (the leakage-safety claim)
    rows.groupBy(_._2).foreach { case (c, ms) =>
      assert(ms.map(_._3).distinct.length == 1, s"cluster $c straddles folds") }
    // all five folds populated on 500 docs
    assert(rows.map(_._3).distinct.sorted.toSeq == Seq(0, 1, 2, 3, 4))
  }
}
