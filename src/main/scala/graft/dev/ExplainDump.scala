package graft.dev

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev harness: the one plan dumper. Two modes:
  *
  *  - `ExplainDump [<sfDir>] [<outFile>]` dumps the formatted physical
  *    plans of the headline queries to a markdown artifact (`PLANS.md`) —
  *    the `.explain("formatted")` evidence behind every scale claim in
  *    COVERAGE.md, regenerable in one command;
  *  - `ExplainDump <sfDir> <outDir> <suffix> <name> [...]` writes each
  *    named query's plan to `<outDir>/<name>_<suffix>.txt` — the
  *    before/after plan evidence an optimization round commits next to its
  *    bench numbers.
  *
  * Each query is executed first with `collect()` on the dumped frame's
  * OWN QueryExecution, so the plan is the AQE-final one
  * (`isFinalPlan=true`); a noop write would run a different
  * QueryExecution and leave this one's plan initial. Queries that
  * materialize intermediates via localCheckpoint run those jobs as a side
  * effect, exactly as in Bench; their dumps show the post-checkpoint
  * consumer plan. The formatted plan prints each Window's partition spec;
  * PlanSpec's guards enforce the window rules.
  */
object ExplainDump {
  /** (query, the scale property the plan demonstrates). */
  val headliners: Seq[(String, String)] = Seq(
    "q1_agg" -> ("Scan-bound aggregate: shipdate predicate in PushedFilters, " +
      "pruned ReadSchema, partial+final HashAggregate pair inside one " +
      "WholeStageCodegen span."),
    "q5_region_revenue" -> ("Six-table star join: every dimension rides a " +
      "BroadcastHashJoin; the lineitem fact is read once and shuffles only " +
      "for the final aggregate."),
    "j6_salted_join" -> ("Skew-salted join: fact key composed with " +
      "pmod(xxhash64) salt, dimension replicated 8x; the hot key splits " +
      "across 40 composite keys in a ShuffledHashJoin."),
    "olap_asof_join" -> ("De-skewed as-of join: union + running max windowed " +
      "by the COMPOSED (k, day-bucket) key — sort parallelism |k|x|buckets| " +
      "— plus a tiny cross-bucket prefix pass."),
    "olap_merge_upsert" -> ("CDC MERGE apply: update LeftOuter + delete " +
      "LeftAnti both broadcast the change side; the base table never " +
      "sort-merge-shuffles."),
    "dedup_minhash_pairs" -> ("LSH banding: signatures -> band explode -> " +
      "per-bucket stats; oversized buckets emit star edges so no join key " +
      "goes quadratic."),
    "dedup_allpairs" -> ("AllPairs prefix filtering: the exact-Jaccard " +
      "self-join runs over only each doc's rarest n-ceil(0.8n)+1 shingles " +
      "(doc-partitioned ranking window), then the small candidate list is " +
      "verified against the full index — lossless, no df-cap."),
    "decontam_bloom" -> ("Bloom-prefiltered decontamination: the eval-shingle " +
      "bloom filter is broadcast and applied executor-side BEFORE the " +
      "confirm join — shuffle volume is true overlaps + fpp only."),
    "sim_ivf_topk" -> ("ANN probe: broadcast codebook assigns the query cell, " +
      "the scan touches ~1/k of the corpus, top-k is TakeOrderedAndProject " +
      "(per-partition top-k merge, no global sort)."),
    "corpus_token_budget" -> ("Recursive multi-phase global cumsum: " +
      "per-(quality, range-bucket) totals, bucket-the-buckets offset " +
      "reduction (width^levels total), terminal prefix as an EXPLICIT " +
      "repartition(1) running sum over the doubly-reduced frame — no " +
      "unpartitioned window anywhere in the plan."),
    "text_winnowing" -> ("Native winnowing selector: zero-shuffle narrow map " +
      "over the codegen'd winnow_fps loop — no Exchange anywhere in the " +
      "fingerprint extraction."),
    "layout_zorder" -> ("Z-order layout certificate: rank-normalize + Morton " +
      "interleave as flat codegen'd bit ops; the 8x8 file decomposition " +
      "bounds BOTH filter dimensions per file."),
    "corpus_curation_e2e" -> ("Five-stage curation pipeline composed as one " +
      "plan: gates are narrow filters, stages link by doc_id equi-joins, " +
      "the budget cumsum keeps its recursive reduction — chaining adds no " +
      "new shuffle shape."),
    "text_substring_dup" -> ("Exact-substring duplicate runs without a " +
      "suffix array: df-capped gram inverted index feeds the position " +
      "pair equi-join; the islands window is partitioned by (pair, " +
      "diagonal) — bounded by one pair's overlap, never corpus-sized."),
    "sim_kmeans_iter" -> ("Fixed-point 2-round Lloyd: per round one " +
      "broadcast of the 8x16 codebook, one partial-aggregable min(struct) " +
      "argmin, one partial-aggregable centroid re-sum — exact int64 " +
      "arithmetic, bit-reproducible labels, no corpus window."),
    "dedup_span_remove" -> ("Span removal over the shared maximal-run " +
      "scaffolding: covered positions explode linearly in duplicated " +
      "tokens, removal is one (doc_id, pos) LeftAnti equi-join, and the " +
      "cleaned-text reconstruction partial-aggregates per doc — no " +
      "cartesian, no unpartitioned window."),
    "sim_binary_topk" -> ("1-bit quantization serving: the 64-row mean " +
      "threshold reduces to one broadcast row, codes pack in a narrow map " +
      "(no corpus shuffle), the Hamming scan keeps 50 candidates via " +
      "TakeOrderedAndProject and only those are exact-reranked."),
    "decontam_minhash" -> ("Fuzzy decontamination: the eval band index and " +
      "eval signatures ride BroadcastHashJoins — the train side never " +
      "shuffles for candidate generation or verification."),
    "sim_ivf_batch_topk" -> ("Batched ANN serving: the 10-query (qv, cell) " +
      "set is broadcast and the corpus joins it on the cell key — one scan " +
      "amortizes across the whole query batch; per-query rank windows see " +
      "only bounded cell candidates."),
    "dedup_canonical_quality" -> ("Survivorship without a window: best-" +
      "member selection is two partial-aggregable aggregates (max quality, " +
      "min id among maximal) + an equi-join back — a mega-cluster never " +
      "funnels through one partition."),
    "sim_knn_graph" -> ("Within-cell kNN on the s=1 FAST PATH (round 10): " +
      "the scalar max-cell probe found every cell under CellShardCap, so " +
      "the candidate join keys on cell alone — no cell-size join, no shard " +
      "column — over the localCheckpointed assignment; the sharded " +
      "(cell, shard) plan only materializes when a cell overflows the cap."))

  /** The AQE-final formatted physical plan of query `name` on `sfDir`. */
  def formattedPlan(spark: SparkSession, sfDir: String, name: String): String = {
    spark.catalog.clearCache() // no cross-query cache, as in Bench
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.Tables.localSession("explain-dump", cores = 8)
    spark.conf.set("spark.sql.maxMetadataStringLength", 500)
    if (args.length > 3) {
      val Array(outDir, suffix) = args.slice(1, 3)
      Files.createDirectories(Paths.get(outDir))
      args.drop(3).foreach { name =>
        val out = s"$outDir/${name}_$suffix.txt"
        Files.writeString(Paths.get(out), formattedPlan(spark, sfDir, name))
        println(s"wrote $out")
      }
    } else {
      val out = args.lift(1).getOrElse("PLANS.md")
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
      sb.append(s"Regenerate: `sbt 'runMain graft.dev.ExplainDump $sfDir'`. ")
      sb.append("Plans are AQE-final (each query is executed first); ")
      sb.append("see COVERAGE.md for the full per-operator scale rationale " +
        "and PlanSpec for the assertions that keep these shapes from regressing.\n")
      headliners.foreach { case (name, why) =>
        val plan = formattedPlan(spark, sfDir, name)
        val capped = {
          val lines = plan.linesIterator.toSeq
          if (lines.length <= 160) plan
          else (lines.take(160) :+ s"... (${lines.length - 160} lines elided)")
            .mkString("\n")
        }
        sb.append(s"\n## $name\n\n$why\n\n```\n$capped\n```\n")
      }
      Files.writeString(Paths.get(out), sb.toString)
      println(s"wrote $out")
    }
    spark.stop()
  }
}
