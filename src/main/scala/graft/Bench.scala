package graft

import org.apache.spark.sql.SparkSession
import graft.core.Tables

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Timing discipline: results are written to the `noop` sink so the full
  * plan (projections included) executes — `count()` would let Catalyst
  * prune most of a map-only query. One untimed warmup executes the
  * flagship query to absorb JVM/codegen/session warmup.
  *
  * Noise robustness (this host has contended phases that once recorded a
  * 2.7× phantom "regression"): every raw timing is kept and reported in
  * `"raw"`, so a contended run is self-evident from the artifact alone —
  * per-query spread plus `"wall_sec"` (sweep wall-clock) vs `"value"`
  * (sum of best-of timings) expose environment noise without a re-run.
  * Every query runs THREE back-to-back passes and reports the min (one
  * GC/compile outlier can't masquerade as the query's cost, and round
  * artifacts stay comparable run-over-run; a block-interleaved pass
  * order was tried and measured as a regression — see the inline
  * note).
  *
  * Artifact capture: the driver keeps only the LAST ~2000 chars of stdout
  * and json-parses what it finds there — a line longer than the window is
  * truncated at the FRONT and can never parse (rounds 1–4 each lost their
  * artifact exactly this way: `"parsed": null`). So the stdout line is
  * built under a hard ~1500-char budget: headline fields always present,
  * and the `"queries"` map lists slowest-first only as far as the budget
  * allows (`"queries_omitted"` counts the rest). The complete JSON —
  * every query plus `"raw"` per-pass timings — is always written to
  * `BENCH_FULL.json` in the working directory.
  *
  * Failure honesty: a query that throws is recorded in `"failed"` with
  * its message, its timing is NOT reported, and the process exits
  * nonzero — a regression can't hide behind a fast-looking number.
  *
  * Self-describing noise fields: `"spread"` names the queries behind
  * `n_spread` (no more diffing raw arrays by hand), and
  * `"queries_clean"` re-times min-of-3 in a brand-new SparkContext AFTER
  * the sweep — the steady-state number to compare round-over-round, with
  * the sweep number quantifying accumulated-driver-state inflation. The
  * re-measure covers the 10 slowest queries PLUS every `"movers"` entry
  * (any query whose min moved >1.3× vs the previous committed
  * BENCH_FULL.json, either direction, capped at 20) so apparent
  * round-over-round deltas always ship with their own clean numbers;
  * a query whose clean re-measure fails all 3 passes lands in
  * `"queries_clean_failed"` instead of silently vanishing.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Tables.envCores
    var spark = Tables.localSession("bench", cpus)

    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () } // warmup only

    // One timed execution; Left(error) if the query throws.
    def timeOnce(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Either[String, Double] = {
      spark.catalog.clearCache() // no cross-query/cross-run cache interference
      val t0 = System.nanoTime()
      // gate-only ORDER BY stripped: time the operator, not hash plumbing
      try {
        org.apache.spark.sql.GraftSqlBridge.dropTopLevelSort(fn(spark, sfDir))
          .write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      }
    }

    val wall0 = System.nanoTime()
    // Best-of-N per query, passes BACK-TO-BACK. Round 11 TRIED the
    // round-10 VERDICT #7 suggestion (passes interleaved round-robin in
    // 6-query blocks so a contended window lands on one pass of six
    // queries instead of all passes of one) and MEASURED it as a
    // regression: one heavy block-mate (corpus_curation_e2e) pollutes
    // every pass of its five neighbors — GC/heap/broadcast garbage sits
    // between each of the light query's passes, so min-of-3 can't escape
    // it. The interleaved sweep recorded a1_median raw [3.5, 3.3, 1.9]
    // vs 0.14 clean and a 312 s total vs 204 s; back-to-back, a query's
    // only pollution is the previous query once, and passes 2-3 are
    // clean. (Internal block pollution measured >> the external
    // contention the interleave was meant to spread; the clean
    // re-measure + mover machinery below remains the contention answer.)
    // Back-to-back also keeps the 100-entry codegen cache warm between
    // a query's passes.
    val raw = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Subset filter (comma-separated names): times a query subset exactly
    // like the sweep while iterating, raw per-pass times in BENCH_DEV.json.
    // Full runs never set it, so round artifacts always cover the full
    // surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap { case (name, fn) =>
      // Inter-query GC (round-11 VERDICT #4): a heavy predecessor leaves
      // broadcast/shuffle blocks that ContextCleaner only frees after a
      // driver GC (weak-ref processing), so its garbage taxes EVERY pass
      // of the next queries — the measured 5–9× sweep-vs-clean swings
      // (corpus_curation_e2e raw [49.5, 37.1, 29.0] vs 5.57 clean). One
      // explicit GC per query (~250 × O(100 ms) ≈ tens of seconds of
      // wall, deliberately OUTSIDE the timed region) releases that state
      // so sweep totals stay comparable round-over-round; the clean
      // re-measure below remains the steady-state ground truth.
      System.gc()
      (timeOnce(fn), timeOnce(fn)) match {
        case (Right(a), Right(b)) =>
          // A third-pass throw degrades to min-of-two rather than failing
          // a query that already ran twice.
          val ts = timeOnce(fn).fold(_ => List(a, b), c => List(a, b, c))
          raw(name) = ts
          Some(name -> ts.min)
        case (ra, rb) =>
          val err = ra.left.toOption.orElse(rb.left.toOption).get
          System.err.println(s"[bench] $name FAILED: $err")
          failed(name) = err
          raw(name) = List(ra, rb).flatMap(_.toOption)
          None
      }
    }
    val wallSec = (System.nanoTime() - wall0) / 1e9

    // Locale.ROOT: a comma-decimal default locale would render 1.234 as
    // "1,234" and silently corrupt the JSON array
    def jarr(ts: List[Double]) = ts
      .map(t => String.format(java.util.Locale.ROOT, "%.3f", Double.box(t)))
      .mkString("[", ",", "]")
    def jstr(s: String) =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def jnum(t: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
    val qs = results.map { case (k, v) => jstr(k) + ":" + jnum(v) }
      .mkString("{", ",", "}")
    val rawJson = raw.map { case (k, ts) => jstr(k) + ":" + jarr(ts) }
      .mkString("{", ",", "}")
    val failedJson = failed.map { case (k, m) => jstr(k) + ":" + jstr(m) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum

    // Contention self-description (round-7 lesson: a 4.4× contended driver
    // run cost real adjudication time because nothing in the artifact said
    // "don't trust per-query deltas"). Two indicators, derivable from the
    // artifact alone but now first-class fields:
    //   contention   — wall_sec / Σ(recorded-passes × per-query min): the
    //                  wall covers every recorded pass, so an uncontended
    //                  run scores ~1.0–1.2 (non-min passes + session
    //                  overhead); ≥1.5 means other load stole the machine
    //                  and per-query deltas vs earlier rounds are suspect.
    //                  Counting each query's ACTUAL pass count (a
    //                  third-pass throw leaves 2) keeps the idle baseline
    //                  honest; a run with failures is already red via
    //                  n_failed and exits nonzero, so their unrecorded
    //                  passes deliberately don't enter the denominator.
    //   n_spread     — queries whose max/min ratio over the NON-FIRST
    //                  passes exceeds 2× (no clean pass can be assumed for
    //                  these individually). The first pass is excluded
    //                  because it legitimately carries Janino codegen
    //                  compile — on an idle host short queries still show
    //                  pass1 ≈ 2× pass2, which is measurement, not load.
    val passWeightedMin = raw.valuesIterator
      .map(ts => if (ts.isEmpty) 0.0 else ts.length * ts.min).sum
    val contention = if (passWeightedMin > 0) wallSec / passWeightedMin else 1.0
    // spread queries NAMED, not just counted (round-8 adjudication had to
    // diff raw arrays by hand to find which six were untrustworthy)
    val spreadNames = raw.iterator
      .filter { case (_, ts) =>
        val t = ts.drop(1); t.nonEmpty && t.max > 2.0 * t.min }
      .map(_._1).toList
    val nSpread = spreadNames.size

    // MOVER auto-flag (round-9 adjudication gap): the 10-slowest clean
    // re-measure missed mid-pack movers (mm_audio_vad, olap_bucket_join —
    // sub-2 s, probably noise, but unadjudicable without a manual A/B).
    // Any query whose min moved >1.3× in EITHER direction vs the previous
    // committed BENCH_FULL.json joins the fresh-context re-measure, so
    // every apparent round-over-round delta ships with its own clean
    // number. Previous sweep parsed from the committed artifact (entries
    // are flat "name":num pairs, no nesting); parse failure degrades to
    // no extra names, never to a sweep failure. The artifact's "sf" must
    // match this run's — comparing an sf0.01 sweep against a committed
    // sf0.1 artifact would flag essentially every query as a mover and
    // burn the re-measure budget on pure scale deltas.
    val prevQueries: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_FULL.json")), "UTF-8")
        val sfm = java.util.regex.Pattern.compile("\"sf\":\"([^\"]*)\"")
          .matcher(txt)
        val m = java.util.regex.Pattern.compile("\"queries\":\\{([^}]*)\\}")
          .matcher(txt)
        // canonicalize both spellings (trailing slash, relative path,
        // symlink) — a byte-compare would silently disable the mover
        // flag on a benign respelling of the same directory
        def canon(p: String) =
          try new java.io.File(p).getCanonicalPath
          catch { case _: Throwable => p }
        val hasSf = sfm.find()
        val sfMatch = hasSf && canon(sfm.group(1)) == canon(sfDir)
        if (!hasSf)
          System.err.println("[bench] BENCH_FULL.json carries no \"sf\" field " +
            "(pre-round-10 artifact) — mover auto-flag disabled")
        else if (!sfMatch)
          System.err.println(s"[bench] BENCH_FULL.json is for sf '${sfm.group(1)}', " +
            s"this run is '$sfDir' — mover auto-flag disabled")
        if (!sfMatch || !m.find()) Map.empty
        else m.group(1).split(',').iterator.flatMap { kv =>
          kv.split(':') match {
            case Array(k, v) =>
              try Some(k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toDouble)
              catch { case _: NumberFormatException => None }
            case _ => None
          }
        }.toMap
      } catch { case _: Throwable => Map.empty }
    val movers: Seq[String] = results.flatMap { case (name, cur) =>
      prevQueries.get(name).collect {
        case prev if prev > 0 && math.max(cur / prev, prev / cur) > 1.3 =>
          name -> math.max(cur / prev, prev / cur)
      }
    }.sortBy(-_._2).map(_._1)
    // cap keeps the re-measure bounded on a globally contended sweep,
    // slowest-moving first so the biggest deltas always get clean numbers
    val extraCleanNames: Seq[String] = movers.take(20)

    // End-of-sweep CLEAN re-measure (full runs only): the 10 slowest
    // queries PLUS every flagged mover re-timed min-of-3 in a brand-new
    // SparkContext, quantifying sweep-state inflation per query so
    // round-over-round comparisons can use steady-state numbers instead
    // of position-in-sweep artifacts.
    // (The round-8 "dedup chain regression" was exactly this: code
    // identical r7→r8, but 50 more queries of accumulated driver state in
    // front of the family.)
    // A query whose three fresh-context passes ALL throw must not vanish
    // silently (ml_rf_score's cached PipelineModel under a stopped
    // SparkContext is the plausible case): its name is logged to stderr
    // and carried in queries_clean_failed so round-over-round comparisons
    // can't misread the absence.
    val cleanFailed = scala.collection.mutable.ListBuffer[String]()
    val cleanResults: Seq[(String, Double)] =
      if (only.nonEmpty || results.isEmpty) Seq.empty
      else {
        val top = results.sortBy(-_._2).take(10).map(_._1) ++ extraCleanNames
        // a genuinely FRESH SparkContext: the sweep-state inflation this
        // quantifies lives in ContextCleaner/status-store state that
        // `clearCache()` cannot reset
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = Tables.localSession("bench", cpus)
        try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () } // warmup the fresh context
        top.distinct.flatMap { name =>
          val fn = SparkEntry.queries(name)
          val ts = List(timeOnce(fn), timeOnce(fn), timeOnce(fn)).flatMap(_.toOption)
          if (ts.isEmpty) {
            System.err.println(s"[bench] clean re-measure of $name failed on all 3 passes")
            cleanFailed += name
            None
          } else Some(name -> ts.min)
        }
      }

    // ---- compact stdout line, hard budget ≤ LineBudget chars ----
    // Failed entries first (a regression must survive the cut), messages
    // truncated; then queries slowest-first until the budget is spent.
    val LineBudget = 1500
    val failedShort = failed.take(5)
      .map { case (k, m) => jstr(k) + ":" + jstr(m.take(60)) }
      .mkString("{", ",", "}")
    // spread names capped at 8 in the stdout line (budget); full list in
    // BENCH_FULL.json
    val spreadShort = spreadNames.take(8).map(jstr).mkString("[", ",", "]")
    val spreadFull = spreadNames.map(jstr).mkString("[", ",", "]")
    val cleanJson = cleanResults
      .map { case (k, v) => jstr(k) + ":" + jnum(v) }.mkString("{", ",", "}")
    val cleanFailedJson = cleanFailed.map(jstr).mkString("[", ",", "]")
    val moversJson = movers.map(jstr).mkString("[", ",", "]")
    // clean-failed names only enter the budgeted stdout line when nonempty
    // (they are the anomaly that must survive the cut); the full list and
    // the movers list always live in BENCH_FULL.json
    val cleanFailedHead =
      if (cleanFailed.isEmpty) "" else s""""queries_clean_failed":$cleanFailedJson,"""
    // r13 verdict #4: echo the core count the run actually used (and the
    // master it derived) so the driver's scaling probe can verify
    // SPARK_GRAFT_CPUS was honored from the artifact alone.
    val cpusJson = s""""cpus":$cpus,"""
    val head = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","sf":"$sfDir",$cpusJson"master":${jstr(s"local[$cpus]")},"n_queries":${results.size},"wall_sec":${jnum(wallSec)},"contention":${jnum(contention)},"n_spread":$nSpread,"spread":$spreadShort,"queries_clean":$cleanJson,$cleanFailedHead"n_failed":${failed.size},"failed":$failedShort,"""
    val bySlow = results.sortBy(-_._2).map { case (k, v) => jstr(k) + ":" + jnum(v) }
    // room for: "queries":{…},"queries_omitted":NNN}
    val fixed = head.length + """"queries":{},"queries_omitted":000}""".length
    var used = 0; var kept = 0; var stop = false
    bySlow.foreach { e =>
      val add = e.length + (if (kept > 0) 1 else 0)
      if (!stop && fixed + used + add <= LineBudget) { used += add; kept += 1 }
      else stop = true // strict prefix: take(kept) below must match what fit
    }
    val line = head + "\"queries\":{" + bySlow.take(kept).mkString(",") +
      s"""},"queries_omitted":${bySlow.size - kept}}"""

    val full = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","sf":"$sfDir",$cpusJson"master":${jstr(s"local[$cpus]")},"wall_sec":${jnum(wallSec)},"contention":${jnum(contention)},"n_spread":$nSpread,"spread":$spreadFull,"queries_clean":$cleanJson,"queries_clean_failed":$cleanFailedJson,"movers":$moversJson,"n_failed":${failed.size},"failed":$failedJson,"queries":$qs,"raw":$rawJson}"""
    // a dev-subset run must not clobber the committed full-sweep artifact
    val fullPath = if (only.isEmpty) "BENCH_FULL.json" else "BENCH_DEV.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(fullPath), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] $fullPath write failed: ${e.getMessage}")
    }
    println(line)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
