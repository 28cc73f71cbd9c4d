package graft.dev

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe harness: measures a GROWTH EXPONENT for the headline
  * dedup/similarity/graph queries instead of asserting one.
  *
  * All driver-provided bench evidence stops at sf0.1 (~17 MB); the 100 TB
  * claims otherwise rest on plan shapes alone. This main derives amplified
  * corpora (×8, ×32) from the sf0.1 tables into a temp dir — never
  * touching /root/testdata — runs each probe query at the three sizes, and
  * fits the least-squares slope of ln(time) on ln(scale). A plan that is
  * secretly quadratic in corpus size (an uncapped bucket join, a
  * non-broadcast cartesian) shows up as an exponent ≥ ~2 immediately;
  * honest linear-with-overhead plans land well under 1.2.
  *
  * Amplification preserves the workload's SHAPE, not just its bytes:
  *  - documents: replica r offsets doc_id and tags every TOKEN with `_r`,
  *    so shingles never collide across replicas — per-replica dup
  *    structure (and thus near-dup pair count) is preserved exactly and
  *    total dups scale LINEARLY with the corpus, which is the regime the
  *    dedup chain claims linearity in. A verbatim copy would instead make
  *    every doc an 8-way near-dup clique (quadratic pair growth baked into
  *    the DATA, not the plan — measuring nothing about the plan).
  *  - embeddings: replica r offsets vec_id and jitters each component
  *    deterministically (`x + 0.01·sin(vec_id·31 + i·7 + r·13)`), so
  *    replicas scatter around the original manifold instead of stacking
  *    onto it (stacked copies would make every kNN list degenerate).
  *
  * Output: BENCH_SCALE.json — per query t×1/t×8/t×32[/t×64]
  * (steady-state min-of-[[Repeats]] seconds) and the fitted exponent.
  *
  * Usage: runMain graft.dev.ScaleProbe [baseSfDir]; it runs at
  * `SPARK_GRAFT_CPUS` cores (default: all the JVM sees), like Bench and
  * Verify, and writes that count into its JSON as `cpus`.
  */
object ScaleProbe {

  val Scales = Seq(1, 8, 32)
  /** Headliners of the three families whose linearity the repo claims,
    * plus the flagship 5-stage curation e2e and the BPE apply chain —
    * and (round 10) the iterative/driver-loop shapes where super-linear
    * cost hides: fixed-round graph iterations (pagerank, label-prop),
    * power iteration (PCA), the N-round BPE trainer's per-round corpus
    * passes, and the span-remove rewrite chain. */
  val Probes = Seq("dedup_clusters", "dedup_allpairs", "corpus_dup_stats",
    "sim_ivfpq_adc", "graph_triangles", "corpus_curation_e2e",
    "text_bpe_apply",
    "graph_pagerank", "graph_label_prop", "emb_pca_power",
    "text_bpe_train_n5", "dedup_span_remove")
  /** Round-10 VERDICT #4 (+ round-11 #6): the highest-exponent probes
    * (the shapes most likely to be pre-knee rather than genuinely
    * sub-linear) get a FOURTH size point at ×64 — one more doubling
    * decides whether the exponent holds or drifts up once shuffle sizes
    * cross memory thresholds. dedup_allpairs joined in round 12: its ×32
    * point (63.9 s from 6.9 at ×8) looked like a fresh knee crossing. */
  val X64Probes = Set("graph_pagerank", "graph_label_prop", "dedup_allpairs")

  /** Timed repeats per (query, scale); min is recorded. Round 11's
    * probe-width decision was only trustworthy because RkCostProbe (since
    * deleted; its data is in BENCH_DEV_r11_probe_width.json) ran
    * STEADY-STATE repeats (this host swings 2–4× between identical runs;
    * the first-in-session execution pays ~100 s of page-cache/JIT warmup
    * — one session measured 47.6/107/174.6 s for three repeats of ONE
    * query). Promoted here (round-11 VERDICT #8) so every exponent
    * recording inherits min-of-N instead of min-of-2. */
  val Repeats = 3

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = graft.core.Tables.envCores
    val spark = graft.core.Tables.localSession("scale-probe", cpus)
    // the amplified corpora (x8..x64 of the base) live only for this run
    val root = java.nio.file.Files.createTempDirectory("scaleprobe")
    try probe(spark, base, cpus, root.toString)
    finally {
      spark.stop()
      graft.core.NioCheckpointFileManager.deleteTree(root)
    }
  }

  private def probe(spark: SparkSession, base: String, cpus: Int,
      root: String): Unit = {
    // dev-only probe subset, the same filter Bench and Verify read (full
    // runs never set it)
    val onlyProbes = graft.core.Tables.envOnly
    val probes = Probes.filter(n => onlyProbes.forall(_.contains(n)))

    val allScales = Scales ++
      (if (probes.exists(X64Probes)) Seq(64) else Nil)
    val dirs: Map[Int, String] = allScales.map { k =>
      k -> (if (k == 1) base else amplify(spark, base, k, s"$root/x$k"))
    }.toMap

    def timeOnce(name: String, dir: String): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      org.apache.spark.sql.GraftSqlBridge
        .dropTopLevelSort(graft.SparkEntry.queries(name)(spark, dir))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    val rows = probes.map { name =>
      val scalesFor = if (X64Probes(name)) Scales :+ 64 else Scales
      val ts = scalesFor.map { k =>
        val t = (1 to Repeats).map(_ => timeOnce(name, dirs(k))).min
        println(f"[scaleprobe] $name x$k%-2d: $t%.3f s (min of $Repeats)")
        k -> t
      }
      // least-squares slope of ln t on ln k
      val pts = ts.map { case (k, t) => (math.log(k.toDouble), math.log(t)) }
      val n = pts.size
      val (mx, my) = (pts.map(_._1).sum / n, pts.map(_._2).sum / n)
      val slope = pts.map(p => (p._1 - mx) * (p._2 - my)).sum /
        pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      (name, scalesFor, ts.map(_._2), slope)
    }

    // SHARD-RECALL at the REAL cap (round-9 VERDICT #1, amplified twin of
    // the sim_knn_shard_recall certificate): the amplified corpora push
    // cells past CellShardCap naturally (×8: ~1600/cell → s=2; ×32:
    // ~6400/cell → s=7), so this measures what production sub-sharding
    // actually costs in pair-level recall@3. Under the round-10 slab±1
    // split the expectation is ~1.0 (jitter-twin neighbors project close
    // on any fixed direction; s=2 is exact by construction) — a reading
    // decaying back toward 1/s would mean the slab coordinate stopped
    // tracking neighbor structure (the round-9 modulo split measured
    // exactly that floor: 0.269/0.161).
    // The ×32 exact side is the deliberate one-off quadratic (Σ cell²
    // ground truth) the capped plan exists to avoid; it runs here, once,
    // off the sweep path, exactly like dedup's AllPairs ground truth.
    // dev-subset runs skip the recall twin unless explicitly requested —
    // its ×32 exact side is the deliberate one-off quadratic
    val runRecalls = onlyProbes.forall(_.contains("shard_recall"))
    val recalls = (if (runRecalls) Seq(8, 32) else Seq.empty[Int]).map { k =>
      val d = dirs(k)
      spark.catalog.clearCache()
      // one codebook fit + assignment checkpoint feeds both chains
      val assign = graft.operators.Similarity.ivfAssignDf(spark, d)
        .localCheckpoint()
      // the exact frame feeds both the count and the hit join — pay the
      // deliberate Σcell² ground-truth build once, not twice
      val exact = graft.operators.Similarity
        .knnRankedDf(spark, d, cap = 1000000000L, sharedAssign = Some(assign),
          topK = Some(3))
        .select("src", "dst").localCheckpoint()
      val sharded = graft.operators.Similarity
        .knnRankedDf(spark, d, sharedAssign = Some(assign), topK = Some(3))
        .select("src", "dst")
      val row = exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(exact.join(sharded, Seq("src", "dst"))
          .agg(count(lit(1)).as("n_hit")))
        .first()
      val (nx, nh) = (row.getLong(0), row.getLong(1))
      val rec = if (nx == 0) 1.0 else nh.toDouble / nx
      println(f"[scaleprobe] shard_recall x$k%-2d: $nh/$nx = $rec%.4f")
      k -> (nx, nh, rec)
    }

    def j(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    // recall gets 5 dp: at 3 dp a 191979/192000 run collapses to "1.0",
    // erasing the 21 missed pairs the certificate exists to count
    def jr(d: Double) = String.format(java.util.Locale.ROOT, "%.5f", Double.box(d))
    val recallJson = recalls.map { case (k, (nx, nh, rec)) =>
      s""""x$k":{"n_exact":$nx,"n_hit":$nh,"recall_at3":${jr(rec)}}"""
    }.mkString("{", ",", "}")
    val json = rows.map { case (name, scalesFor, ts, slope) =>
      s""""$name":{"scales":[${scalesFor.mkString(",")}],""" +
        s""""t":[${ts.map(j).mkString(",")}],"exponent":${j(slope)}}"""
    }.mkString(
      s"""{"base":"$base","cpus":$cpus,"scales":[${Scales.mkString(",")}],"shard_recall":$recallJson,"queries":{""",
      ",", "}}")
    // a dev-subset run must not clobber the committed full-probe artifact
    val outPath = if (onlyProbes.isEmpty) "BENCH_SCALE.json"
      else "BENCH_SCALE_DEV.json"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), json + "\n")
    println(json)
  }

  /** doc_id/vec_id replica offset — far above any real id in testdata.
    * ODD (a prime) on purpose: the round-9 kNN sub-sharding assigned
    * `vec_id % s`, and an even offset made every jitter-twin share its
    * original's parity — at s=2 the ×8 shard-recall measured 0.993 purely
    * from that id-layout accident (replica twins could never cross
    * shards). The round-10 GEOMETRIC slab split keys on the embedding
    * itself (vec_id only tie-breaks), so no id layout can flatter it —
    * the odd offset stays as cheap insurance against any future
    * id-keyed policy. */
  private val IdOffset = 100000007L

  private def amplify(spark: SparkSession, base: String, k: Int,
      out: String): String = {
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val amplDocs = (0 until k).map { r =>
      // tag every token so shingles never collide across replicas: the
      // per-replica near-dup structure (and df distribution) is preserved
      // exactly, total dups grow linearly with the corpus
      val tagged =
        if (r == 0) col("text")
        else array_join(
          transform(split(col("text"), " "), x => concat(x, lit(s"_$r"))),
          " ")
      docs.select(
        (col("doc_id") + lit(r * IdOffset)).as("doc_id"),
        tagged.as("text"), col("lang"), col("source"),
        length(tagged).as("n_chars"))
    }.reduce(_ unionAll _)
    amplDocs.write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val amplEmb = (0 until k).map { r =>
      val jittered =
        if (r == 0) col("embedding")
        else transform(col("embedding"), (x, i) =>
          (x + lit(0.01) * sin(col("vec_id") * 31 + i * 7 + lit(r * 13)))
            .cast("float"))
      emb.select(
        (col("vec_id") + lit(r * IdOffset)).as("vec_id"),
        jittered.as("embedding"), col("label"))
    }.reduce(_ unionAll _)
    amplEmb.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // Probes run arbitrary SparkEntry queries against the amplified dir;
    // a probe that touches any OTHER table must not die on path-not-found.
    // Those tables are carried over VERBATIM (1×) with a loud warning:
    // a probe whose cost is dominated by an unamplified table measures a
    // flat exponent, which is a statement about the probe choice, not the
    // plan — the warning is what keeps that from being misread.
    val amplified = Set("documents.parquet", "embeddings.parquet")
    val baseDir = new java.io.File(base)
    val others = Option(baseDir.list()).getOrElse(Array.empty[String])
      .filter(n => n.endsWith(".parquet") && !amplified(n)).sorted
    others.foreach { n =>
      spark.read.parquet(s"$base/$n").write.mode("overwrite").parquet(s"$out/$n")
    }
    if (others.nonEmpty)
      System.err.println(
        s"[scaleprobe] carried over UNAMPLIFIED (1x) into $out: " +
          others.mkString(", ") +
          " — probes dominated by these tables measure nothing about scale")
    out
  }
}
