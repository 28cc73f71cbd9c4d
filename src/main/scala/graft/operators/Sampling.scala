package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.core.QueryDef.sql

/** Training-data preparation operators: deterministic sampling, train/val/
  * test split assignment, and sequence packing — the steps between "deduped
  * corpus" and "training shards" in an LLM data pipeline.
  *
  * Everything is keyed on md5 arithmetic (bit-identical in Spark and
  * DuckDB, per the repo hash discipline): sampling and splits must be
  * REPRODUCIBLE and JOIN-FREE at 100 TB — a `rand()` sample changes under
  * retries/re-partitioning, a driver-side shuffle of ids doesn't scale, and
  * both are impossible to oracle-check. Hash gates are narrow maps: no
  * shuffle, fully pushdown-friendly, stable across engines and runs.
  */
object Sampling {

  /** Hash-gate primitives + split thresholds live in the dependency-free
    * [[Keys]] (TextOps' incremental dedup shares them; a direct
    * TextOps→Sampling reference would cycle object init). These forwards
    * keep Sampling's call sites unchanged. */
  private[operators] def hexBucketSql(key: String): String = Keys.hexBucketSql(key)
  private[operators] def hexBucketCol(key: org.apache.spark.sql.Column) =
    Keys.hexBucketCol(key)
  val TrainThr: Int = Keys.TrainThr
  val ValThr: Int = Keys.ValThr

  /** Deterministic ~10% Bernoulli sample: keep iff hash-bucket < 6554
    * (6554/65536 ≈ 0.1). Reproducible under retries, re-partitioning and
    * engine swaps; no shuffle (narrow filter). */
  val sampleHash = sql(
    "sample_hash",
    s"""SELECT doc_id, lang,
       |       ${hexBucketSql("doc_id")} AS bucket
       |FROM documents
       |WHERE ${hexBucketSql("doc_id")} < 6554
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val b = hexBucketCol(col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), b.as("bucket"))
      .filter(col("bucket") < 6554)
      .orderBy("doc_id")
  }

  /** STRATIFIED downsampling to a per-language cap (~100 docs expected per
    * lang): overrepresented languages are hash-gated down to the cap's
    * rate, underrepresented ones pass whole — the balanced-corpus
    * construction step of a multilingual pipeline. The per-lang threshold
    * is exact integer arithmetic (`cap·65536 div cnt`, identical on both
    * engines); membership stays a function of the doc key alone, so the
    * sample is reproducible under retries and engine swaps. Scale shape:
    * one tiny lang-count aggregate broadcast back onto the corpus, then a
    * narrow filter — the 100 TB fact side is never shuffled. */
  val sampleStratified = sql(
    "sample_stratified",
    s"""WITH lc AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
       |thr AS (SELECT lang, least(65536, 6553600 // cnt) AS keep_thr FROM lc)
       |SELECT d.doc_id, d.lang,
       |       ${hexBucketSql("d.doc_id")} AS bucket, t.keep_thr
       |FROM documents d JOIN thr t ON d.lang = t.lang
       |WHERE ${hexBucketSql("d.doc_id")} < t.keep_thr
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val thr = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      .select(col("lang"),
        least(lit(65536L), expr("6553600 div cnt")).as("keep_thr"))
    val b = hexBucketCol(col("doc_id"))
    docs.select(col("doc_id"), col("lang"), b.as("bucket"))
      .join(broadcast(thr), "lang")
      .filter(col("bucket") < col("keep_thr"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("keep_thr"))
      .orderBy("doc_id")
  }

  /** Train/val/test assignment by hash range (8/1/1): the standard
    * leakage-resistant split — membership depends only on the KEY, so
    * re-runs, late-arriving rows, and other engines agree row-by-row.
    * (For near-dup-safe splits, hash the dedup_clusters cluster id instead
    * of the doc id — same formula, one join.) */
  val splitAssign = sql(
    "split_assign",
    s"""SELECT doc_id,
       |       CASE WHEN ${hexBucketSql("doc_id")} < $TrainThr THEN 'train'
       |            WHEN ${hexBucketSql("doc_id")} < $ValThr THEN 'val'
       |            ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val b = hexBucketCol(col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(b < TrainThr, "train").when(b < ValThr, "val").otherwise("test")
          .as("split"))
      .orderBy("doc_id")
  }

  /** Shared oracle CTE chain `${p}t → ${p}c → ${p}k(doc_id, shard,
    * n_tokens, seq_id)` — the `pack_sequences` assignment (16-way hash
    * shard, per-shard running-sum cumsum, 4096-token sequence id). ONE
    * prefix-parameterized definition consumed by the `pack_sequences`,
    * `pack_padding_waste` and `corpus_model_card` oracles, so the packing
    * rule cannot fork between its consumers (prefixing avoids CTE-name
    * collisions when composed with the Quality chain, which owns `t`). */
  private def packAssignSqlCte(p: String): String =
    s"""${p}t AS (SELECT doc_id,
       |              (${hexBucketSql("doc_id")}) % 16 AS shard,
       |              len(string_split(text, ' ')) AS n_tokens
       |       FROM documents),
       |${p}c AS (SELECT doc_id, shard, n_tokens,
       |             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |                                 ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM ${p}t),
       |${p}k AS (SELECT doc_id, shard, n_tokens,
       |              CAST(floor((cum - n_tokens) / 4096) AS BIGINT) AS seq_id
       |       FROM ${p}c)""".stripMargin

  /** Sequence packing: assign documents to fixed-budget training sequences
    * (4096 whitespace tokens) by running token count. The cumulative sum
    * runs WITHIN a 16-way hash shard, not globally — a global cumsum is a
    * single-partition window (the classic scale killer); per-shard packing
    * is exactly how production packers parallelize, and shard count scales
    * with the cluster. Output: (doc, shard, seq_id-within-shard). */
  val packSequences = sql(
    "pack_sequences",
    s"""WITH ${packAssignSqlCte("")}
       |SELECT doc_id, shard, n_tokens, seq_id
       |FROM k ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d).select(
      col("doc_id"),
      (hexBucketCol(col("doc_id")) % 16).as("shard"),
      size(split(col("text"), " ")).as("n_tokens"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / 4096).cast("long").as("seq_id"))
      .orderBy("doc_id")
  }

  /** Shared oracle CTE chain `dt → dsp → … → dhits(doc_id)` — the split
    * tagging plus df-capped 8-token-shingle contamination hits of the
    * train split against the test split. ONE definition consumed by the
    * `corpus_curation_e2e` and `corpus_model_card` oracles (the SQL twin
    * of [[decontamShingleIndex]]), so the contamination rule cannot fork
    * between its consumers. No trailing comma — splice as
    * `$decontamChainSqlCte,` inside a WITH. */
  private val decontamChainSqlCte: String =
    s"""dt AS (SELECT doc_id, string_split(text, ' ') AS t2,
       |              ${hexBucketSql("doc_id")} AS b
       |       FROM documents),
       |dsp AS (SELECT doc_id, t2,
       |               CASE WHEN b < $TrainThr THEN 'train'
       |                    WHEN b < $ValThr THEN 'val'
       |                    ELSE 'test' END AS split
       |        FROM dt),
       |dsh AS (SELECT DISTINCT doc_id, split,
       |               unnest([md5(array_to_string(t2[i:i+7], ' '))
       |                       for i in range(1, len(t2) - 6)]) AS shk
       |        FROM dsp WHERE len(t2) >= 8),
       |ddf AS (SELECT shk, count(*) AS df FROM dsh GROUP BY shk),
       |dshc AS (SELECT s.doc_id, s.split, s.shk FROM dsh s JOIN ddf USING (shk)
       |         WHERE ddf.df <= 50),
       |dev AS (SELECT DISTINCT shk FROM dshc WHERE split = 'test'),
       |dhits AS (SELECT s.doc_id FROM dshc s JOIN dev USING (shk)
       |          WHERE s.split = 'train' GROUP BY s.doc_id)""".stripMargin

  /** PACKING-EFFICIENCY report — what `pack_sequences`' assignment costs
    * in padding: per shard, documents, sequences opened, token volume,
    * nominal capacity (sequences × 4096) and utilization. A doc larger
    * than the budget straddles sequences (the packer's documented
    * greedy-running-sum semantics), so utilization can exceed 1 on a
    * pathological shard — the report surfaces exactly that. This is the
    * readout that decides sequence-length and shard-count knobs before a
    * training run burns compute on pad tokens.
    *
    * Scale shape: consumes the `pack_sequences` frame (same builder — the
    * report cannot fork from the packer) and adds one partial-aggregable
    * per-shard rollup; the only windows are the packer's own per-shard
    * cumsums. */
  val packPaddingWaste = sql(
    "pack_padding_waste",
    s"""WITH ${packAssignSqlCte("")}
       |SELECT shard,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(max(seq_id) + 1 AS BIGINT) AS n_seqs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |       CAST((max(seq_id) + 1) * 4096 AS BIGINT) AS capacity,
       |       round(sum(n_tokens) * 1.0 / ((max(seq_id) + 1) * 4096), 4)
       |         AS utilization
       |FROM k GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    packSequences.fn(s, d)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        (max("seq_id") + 1).as("n_seqs"),
        sum("n_tokens").cast("long").as("total_tokens"),
        ((max("seq_id") + 1) * 4096).as("capacity"),
        round(sum("n_tokens") * lit(1.0) / ((max("seq_id") + 1) * 4096), 4)
          .as("utilization"))
      .orderBy("shard")
  }

  /** CORPUS MODEL CARD — the one-row report card a dataset ships with,
    * composing SIX shared subsystems into a single oracle-checked
    * artifact: corpus size (docs/tokens/langs/sources), near-dup rate
    * (the `clusterLabels` chain), mean quality (the shared [[Quality]]
    * score), benchmark contamination (the decontam shingle index over the
    * train/test split), tokenizer coverage (corpus OOV rate vs the
    * top-1000 vocabulary — `text_oov_rate`'s vocab rule), and packing
    * utilization (`pack_sequences`' shard rollup). Every metric reuses
    * the SAME definition as its standalone query, so the card cannot
    * drift from the queries it summarizes — and the driver's hash compare
    * proves the composition forks nothing.
    *
    * Scale shape: each sub-metric keeps its standalone plan (the chains
    * are documented there); the final assembly is a cross join of 1-row
    * aggregates — broadcast singletons, the one legal cross-join shape. */
  val corpusModelCard = sql(
    "corpus_model_card",
    s"""WITH RECURSIVE ${TextOps.clusterLabelsSqlCte},
       |${Quality.metricsSqlCte},
       |base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |                CAST(count(DISTINCT source) AS BIGINT) AS n_sources
       |         FROM documents),
       |dup AS (SELECT round(sum(CASE WHEN root <> doc_id THEN 1 ELSE 0 END)
       |                      * 1.0 / count(*), 4) AS dup_rate
       |        FROM cc),
       |qv AS (SELECT round(avg(${Quality.scoreSql}), 4) AS mean_quality FROM m),
       |$decontamChainSqlCte,
       |cont AS (SELECT CAST(count(*) AS BIGINT) AS contaminated_train_docs
       |         FROM dhits),
       |vt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |       FROM documents),
       |vv AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM vt
       |                        GROUP BY tok ORDER BY n DESC, tok LIMIT 1000) x),
       |oov AS (SELECT round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
       |                      * 1.0 / count(*), 4) AS oov_rate_1000
       |        FROM vt LEFT JOIN vv v ON v.tok = vt.tok),
       |${packAssignSqlCte("p")},
       |psh AS (SELECT shard, max(seq_id) + 1 AS n_seqs,
       |               sum(n_tokens) AS tok
       |        FROM pk GROUP BY shard),
       |util AS (SELECT round(sum(tok) * 1.0 / (sum(n_seqs) * 4096), 4)
       |                 AS pack_utilization
       |         FROM psh)
       |SELECT base.n_docs, base.n_tokens, base.n_langs, base.n_sources,
       |       dup.dup_rate, qv.mean_quality, cont.contaminated_train_docs,
       |       oov.oov_rate_1000, util.pack_utilization
       |FROM base, dup, qv, cont, oov, util""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
      countDistinct("lang").as("n_langs"),
      countDistinct("source").as("n_sources"))
    val dup = TextOps.clusterLabels(s, d)
      .agg(round(sum(when(col("cluster") =!= col("doc_id"), 1).otherwise(0))
        * lit(1.0) / count(lit(1)), 4).as("dup_rate"))
    val qv = Quality.metrics(s, d)
      .agg(round(avg("quality"), 4).as("mean_quality"))
    val (_, shc) = decontamShingleIndex(s, d)
    val ev = shc.filter(col("split") === "test").select("sh").distinct()
    val cont = shc.filter(col("split") === "train")
      .join(ev, "sh").select("doc_id").distinct()
      .agg(count(lit(1)).as("contaminated_train_docs"))
    val vt = docs.select(explode(split(col("text"), " ")).as("tok"))
    val vocab = vt.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(1000)
      .select(col("tok"), lit(1).as("in_vocab"))
    val oov = vt.join(broadcast(vocab), Seq("tok"), "left")
      .agg(round(sum(when(col("in_vocab").isNull, 1).otherwise(0))
        * lit(1.0) / count(lit(1)), 4).as("oov_rate_1000"))
    val util = packSequences.fn(s, d)
      .groupBy("shard")
      .agg((max("seq_id") + 1).as("n_seqs"),
        sum("n_tokens").as("tok"))
      .agg(round(sum("tok") * lit(1.0) / (sum("n_seqs") * 4096), 4)
        .as("pack_utilization"))
    base.crossJoin(dup).crossJoin(qv).crossJoin(cont).crossJoin(oov)
      .crossJoin(util)
  }

  /** Shared decontamination plumbing: split-tagged tokenized docs (`sp`)
    * and the df-capped split-tagged 8-token shingle index (`shc`, 16-byte
    * binary md5 keys). `shc`'s upstream is cached — it is read three ways
    * (df cap, eval side, train side) by each consumer. */
  private def decontamShingleIndex(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val b = hexBucketCol(col("doc_id"))
    val sp = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"),
        when(b < TrainThr, "train").when(b < ValThr, "val").otherwise("test")
          .as("split"))
    // tokenize once, slide an 8-token window, hash each shingle; the hash
    // is ONLY an equality key (never output), so carry the 16-byte binary
    // digest through the joins — computed by the native shingle_md5s loop
    // (no interpreted per-window lambda, no intermediate window strings)
    val sh = sp
      .select(col("doc_id"), col("split"),
        explode(graft.functions.ShingleMd5s.shingle_md5s(col("t"), 8)).as("sh"))
      .cache()
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > 50).select("sh")
    (sp, sh.join(hot, Seq("sh"), "left_anti"))
  }

  /** DuckDB CTE chain ending in `hits(doc_id, n_hits)` + `sp(doc_id, t,
    * split)` — shared by the per-doc decontamination oracle and the
    * per-source report so the chain cannot fork. */
  private val decontamSqlCte =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS t,
       |             ${hexBucketSql("doc_id")} AS b
       |      FROM documents),
       |sp AS (SELECT doc_id, t,
       |              CASE WHEN b < $TrainThr THEN 'train'
       |                   WHEN b < $ValThr THEN 'val'
       |                   ELSE 'test' END AS split
       |       FROM t),
       |sh AS (SELECT DISTINCT doc_id, split,
       |              unnest([md5(array_to_string(t[i:i+7], ' '))
       |                      for i in range(1, len(t) - 6)]) AS sh
       |       FROM sp WHERE len(t) >= 8),
       |df AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
       |shc AS (SELECT s.doc_id, s.split, s.sh FROM sh s JOIN df USING (sh)
       |        WHERE df.df <= 50),
       |ev AS (SELECT DISTINCT sh FROM shc WHERE split = 'test'),
       |hits AS (SELECT s.doc_id, count(*) AS n_hits
       |         FROM shc s JOIN ev USING (sh)
       |         WHERE s.split = 'train'
       |         GROUP BY s.doc_id)""".stripMargin

  /** The one decontamination oracle: both the exact inverted-index query and
    * the bloom-prefiltered variant must produce exactly these rows. */
  private val decontamOracleSql =
    s"""WITH $decontamSqlCte
       |SELECT p.doc_id, coalesce(h.n_hits, 0) AS n_hits,
       |       coalesce(h.n_hits, 0) > 0 AS contaminated
       |FROM sp p LEFT JOIN hits h ON p.doc_id = h.doc_id
       |WHERE p.split = 'train'
       |ORDER BY p.doc_id""".stripMargin

  /** Per-SOURCE contamination report — the rollup a pipeline actually
    * reviews before a run: which crawls carry benchmark overlap and how
    * concentrated it is (a source with 30% contaminated docs is a scraped
    * benchmark mirror; 0.1% is incidental). Shares the decontamination
    * chain with `decontam_ngram` (one definition), adds one broadcast-size
    * source join and a tiny per-source conditional aggregate. */
  val decontamReport = sql(
    "decontam_report",
    s"""WITH $decontamSqlCte
       |SELECT d.source,
       |       CAST(count(*) AS BIGINT) AS n_train,
       |       CAST(sum(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_contaminated,
       |       round(sum(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END) * 1.0
       |             / count(*), 4) AS rate
       |FROM sp p
       |JOIN documents d ON d.doc_id = p.doc_id
       |LEFT JOIN hits h ON h.doc_id = p.doc_id
       |WHERE p.split = 'train'
       |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, d) =>
    val (sp, shc) = decontamShingleIndex(s, d)
    val ev = shc.filter(col("split") === "test").select("sh").distinct()
    val hits = shc.filter(col("split") === "train")
      .join(ev, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("h"))
    val dirty = (coalesce(col("h"), lit(0L)) > 0).cast("long")
    sp.filter(col("split") === "train").select("doc_id")
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
      .join(hits, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_train"),
        sum(dirty).as("n_contaminated"),
        round(sum(dirty) * lit(1.0) / count(lit(1)), 4).as("rate"))
      .orderBy("source")
  }

  /** N-GRAM DECONTAMINATION — the benchmark-overlap check run before
    * training: flag every TRAIN document that shares an 8-token shingle
    * with ANY eval (test-split) document. This is the long-n-gram overlap
    * test of GPT-3-style decontamination, expressed as an inverted-index
    * semi-join: train shingles ⋈ distinct eval shingles on the md5 key —
    * never a doc×doc product. Shingles with document frequency above 50
    * are boilerplate and excluded BEFORE the join on both engines (no hot
    * join key; standard practice — too-common n-grams carry no
    * contamination signal). Output is every train doc with its matched-
    * shingle count and a contaminated flag. */
  val decontamNgram = sql("decontam_ngram", decontamOracleSql) { (s, d) =>
    val (sp, shc) = decontamShingleIndex(s, d)
    val ev = shc.filter(col("split") === "test").select("sh").distinct()
    val hits = shc.filter(col("split") === "train")
      .join(ev, "sh") // inverted-index semi-shape: key is the shingle hash
      .groupBy("doc_id").agg(count(lit(1)).as("h"))
    sp.filter(col("split") === "train")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        (coalesce(col("h"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** BLOOM-PREFILTERED decontamination — the 100 TB shape of the same
    * check. The exact query shuffles EVERY capped train shingle into the
    * equi-join with the eval set, but almost none of them match: eval
    * benchmark suites are tiny relative to a web-scale train corpus. Here
    * a bloom filter is built over the eval shingles (distributed aggregate
    * via `stat.bloomFilter`, ~1.2 MB at fpp 1%) and broadcast; train
    * shingles are filtered executor-side BEFORE the join, so the shuffle
    * carries only true overlaps plus the fpp fraction — a ~100× volume cut
    * when overlap is rare. Bloom filters have no false negatives and the
    * exact join still runs behind the prefilter, so the result is
    * bit-identical to `decontam_ngram` (the oracle is the SAME SQL — that
    * equality IS the test). The bloom keys are xxhash64 of the shingle
    * digest (Spark-internal only, never output, so the md5-only oracle
    * hash discipline is untouched). */
  val decontamBloom = sql("decontam_bloom", decontamOracleSql) { (s, d) =>
    val (sp, shc) = decontamShingleIndex(s, d)
    val ev = shc.filter(col("split") === "test").select("sh").distinct()
    val bloom = ev.select(xxhash64(col("sh")).as("k"))
      .stat.bloomFilter("k", 1000000L, 0.01)
    val bloomB = s.sparkContext.broadcast(bloom)
    val evMightContain = udf((k: Long) => bloomB.value.mightContainLong(k))
    val hits = shc.filter(col("split") === "train")
      .filter(evMightContain(xxhash64(col("sh")))) // no false negatives
      .join(ev, "sh") // exact confirm: false positives die here
      .groupBy("doc_id").agg(count(lit(1)).as("h"))
    sp.filter(col("split") === "train")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        (coalesce(col("h"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** LEAKAGE-SAFE split: membership is decided by the hash of the near-dup
    * CLUSTER id, not the doc id — every member of a duplicate cluster lands
    * in the same split, so paraphrases/near-copies of training documents
    * can never contaminate the eval sets. This is the dedup-aware split an
    * LLM pipeline actually needs (hash-of-doc splits leak near-dups across
    * the boundary). One extra join against the cluster labels; same 8/1/1
    * hash ranges as `split_assign`. */
  val splitLeakageSafe = sql(
    "split_leakage_safe",
    s"""WITH RECURSIVE ${TextOps.clusterLabelsSqlCte}
       |SELECT doc_id, root AS cluster,
       |       CASE WHEN ${hexBucketSql("root")} < $TrainThr THEN 'train'
       |            WHEN ${hexBucketSql("root")} < $ValThr THEN 'val'
       |            ELSE 'test' END AS split
       |FROM cc ORDER BY doc_id""".stripMargin) { (s, d) =>
    val b = hexBucketCol(col("cluster"))
    TextOps.clusterLabels(s, d)
      .select(col("doc_id"), col("cluster"),
        when(b < TrainThr, "train").when(b < ValThr, "val").otherwise("test")
          .as("split"))
      .orderBy("doc_id")
  }

  /** LEAKAGE-SAFE K-FOLD assignment (k = 5) — the cross-validation twin of
    * `split_leakage_safe`: fold membership is the md5 bucket of the
    * near-dup CLUSTER id mod 5, so a paraphrase pair can never straddle a
    * train fold and its held-out fold (the leak that inflates every CV
    * score on un-deduplicated text). Same shared cluster-label CTE; the
    * fold of a document is decided by ONE narrow expression over the
    * label — no shuffle beyond the label chain itself. The md5-bucket
    * mod keeps folds balanced in expectation and exactly reproducible. */
  val splitKfold = sql(
    "split_kfold",
    s"""WITH RECURSIVE ${TextOps.clusterLabelsSqlCte}
       |SELECT doc_id, root AS cluster,
       |       CAST((${hexBucketSql("root")}) % 5 AS INT) AS fold
       |FROM cc ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextOps.clusterLabels(s, d)
      .select(col("doc_id"), col("cluster"),
        (hexBucketCol(col("cluster")) % 5).cast("int").as("fold"))
      .orderBy("doc_id")
  }

  /** LENGTH-WEIGHTED deterministic sampling: a doc is kept with probability
    * proportional to its character count — the sampling you want when the
    * budget is TOKENS, not documents (a uniform doc sample over-represents
    * short docs in the token stream). The keep test is the exact integer
    * cross-multiplication `bucket · max_chars < n_chars · 65536` against
    * the shared md5 bucket — reproducible, join-free on the fact side, and
    * the corpus max arrives as a broadcast 1-row aggregate (no driver
    * collect, no global window). */
  val sampleWeighted = sql(
    "sample_weighted",
    s"""WITH mx AS (SELECT max(n_chars) AS max_chars FROM documents)
       |SELECT doc_id, lang, n_chars,
       |       ${hexBucketSql("doc_id")} AS bucket
       |FROM documents CROSS JOIN mx
       |WHERE (${hexBucketSql("doc_id")}) * max_chars < n_chars * 65536
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val mx = docs.agg(max("n_chars").as("max_chars"))
    docs.crossJoin(broadcast(mx))
      .withColumn("bucket", hexBucketCol(col("doc_id")))
      .filter(col("bucket") * col("max_chars") < col("n_chars") * 65536)
      .select("doc_id", "lang", "n_chars", "bucket")
      .orderBy("doc_id")
  }

  /** Target language mixture in integer percents — the knob a pipeline
    * owner turns; summing to 100 keeps every rate exact. */
  private val MixTargets = Seq(
    ("en", 35), ("zh", 25), ("de", 20), ("fr", 15), ("es", 5))

  /** MIXTURE REWEIGHTING — resample the corpus to a TARGET language mix
    * (the DoReMi / Pile-style domain-weighting step): given integer-percent
    * targets, find the largest total budget the corpus can serve without
    * up-sampling any language (`budget = min over langs of
    * n_docs·100 div target`), derive each language's keep count
    * `k = target·budget div 100`, and keep documents via the shared
    * deterministic md5 gate at exactly that rate
    * (`bucket·n_docs < k·65536`). All arithmetic is exact integers — the
    * binding language passes (almost) whole, every other language is
    * down-sampled toward its target share.
    *
    * Scale shape: one tiny per-lang count aggregate joins the literal
    * target table, the per-lang thresholds broadcast back onto the corpus,
    * and the keep decision is a narrow hash-gate filter — the 100 TB fact
    * side is never shuffled; the report aggregates per lang with the
    * realized share against a broadcast 1-row total. */
  /** SHARD MANIFEST — the per-shard validation record a dataset publisher
    * ships next to the data (WebDataset/HF dataset-card discipline): for
    * each of 16 deterministic md5-bucket shards, document/token/byte
    * volumes plus an ORDER-FREE content checksum — the sum of each
    * document's first-48-bits-of-md5 as an exact integer (commutative, so
    * the checksum is independent of row order, partitioning and engine;
    * HUGEINT/DECIMAL(38) sums survive 10¹¹-doc shards). A re-export whose
    * manifest matches shard-for-shard is bit-identically the same corpus
    * with probability 1 − 2⁻⁴⁸ per changed doc; a single flipped byte
    * moves exactly one shard's checksum. One narrow map + one
    * partial-aggregable 16-key groupBy — no join, no window. */
  val corpusShardManifest = sql(
    "corpus_shard_manifest",
    s"""WITH s AS (SELECT (${hexBucketSql("doc_id")}) % 16 AS shard,
       |                  len(string_split(text, ' ')) AS toks,
       |                  strlen(text) AS nbytes,
       |                  CAST(concat('0x', substr(md5(text), 1, 12)) AS BIGINT) AS ck
       |           FROM documents)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(toks) AS BIGINT) AS n_tokens,
       |       CAST(sum(nbytes) AS BIGINT) AS n_bytes,
       |       CAST(sum(CAST(ck AS HUGEINT)) AS VARCHAR) AS checksum
       |FROM s GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select((hexBucketCol(col("doc_id")) % 16).as("shard"),
        size(split(col("text"), " ")).as("toks"),
        length(col("text")).as("nbytes"),
        conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long").as("ck"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").cast("long").as("n_tokens"),
        sum("nbytes").cast("long").as("n_bytes"),
        sum(col("ck").cast("decimal(38,0)")).cast("string").as("checksum"))
      .orderBy("shard")
  }

  /** TEMPERATURE-SCALED mixture plan (α = 0.5) — the multilingual sampling
    * rule mT5/XLM-R popularized: a language's sample share ∝ n^α flattens
    * the head and lifts the tail so low-resource languages are seen at all.
    * α = 0.5 is chosen because n^0.5 = sqrt(n) is an IEEE-EXACT operation
    * (a libm pow(x, 0.7) has no cross-engine bit guarantee — the
    * `text_negative_table` ^0.75-as-nested-sqrt lesson); the weight then
    * lifts to a ×10⁴ BIGINT so every downstream share/floor/remainder is
    * exact integer arithmetic. A 200-doc sample budget is apportioned by
    * LARGEST REMAINDER (quotas sum EXACTLY to the budget), and each
    * language reports its raw vs target share and the realized
    * up/down-sampling factor — the table a training-mixture review reads.
    *
    * Scale shape: one partial-aggregable language count; everything after
    * runs on the ≤|langs| model-sized frame (its remainder rank is a
    * pinned legal unpartitioned window over an aggregate); scalars
    * broadcast. */
  val corpusTemperatureMix = sql(
    "corpus_temperature_mix",
    """WITH lc AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |nn AS (SELECT sum(n) AS nd FROM lc),
      |wq AS (SELECT lang, n,
      |              CAST(round(sqrt(n) * 10000, 0) AS BIGINT) AS w FROM lc),
      |sw AS (SELECT sum(w) AS s FROM wq),
      |ap AS (SELECT lang, n, w,
      |              (200 * w) // s AS base, (200 * w) % s AS rem
      |       FROM wq, sw),
      |lv AS (SELECT 200 - sum(base) AS leftover FROM ap),
      |rk AS (SELECT lang, n, w, base, rem,
      |              row_number() OVER (ORDER BY rem DESC, lang) AS r FROM ap),
      |q AS (SELECT lang, n, w,
      |             base + CASE WHEN r <= leftover THEN 1 ELSE 0 END AS quota
      |      FROM rk, lv)
      |SELECT q.lang, CAST(q.n AS BIGINT) AS n_docs,
      |       round(q.n * 1.0 / nn.nd, 4) AS raw_share,
      |       round(q.w * 1.0 / sw.s, 4) AS target_share,
      |       CAST(q.quota AS BIGINT) AS quota,
      |       round(q.quota * nn.nd * 1.0 / (200.0 * q.n), 4) AS sample_factor
      |FROM q, sw, nn ORDER BY q.lang""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val lc = Tables.documents(s, d).groupBy("lang").agg(count(lit(1)).as("n"))
    val nn = lc.agg(sum("n").as("nd"))
    val wq = lc.select(col("lang"), col("n"),
      round(sqrt(col("n")) * 10000, 0).cast("long").as("w"))
    val sw = wq.agg(sum("w").as("s"))
    val ap = wq.crossJoin(broadcast(sw))
      .select(col("lang"), col("n"), col("w"), col("s"),
        expr("(200 * w) div s").as("base"), expr("(200 * w) % s").as("rem"))
    val lv = ap.agg((lit(200) - sum("base")).as("leftover"))
    val q = ap
      .withColumn("r", row_number().over(
        Window.orderBy(col("rem").desc, col("lang"))))
      .crossJoin(broadcast(lv))
      .select(col("lang"), col("n"), col("w"), col("s"),
        (col("base") + when(col("r") <= col("leftover"), 1).otherwise(0))
          .as("quota"))
    q.crossJoin(broadcast(nn))
      .select(col("lang"), col("n").as("n_docs"),
        round(col("n") * lit(1.0) / col("nd"), 4).as("raw_share"),
        round(col("w") * lit(1.0) / col("s"), 4).as("target_share"),
        col("quota"),
        round(col("quota") * col("nd") * lit(1.0) / (lit(200.0) * col("n")), 4)
          .as("sample_factor"))
      .orderBy("lang")
  }

  val corpusReweight = sql(
    "corpus_reweight", {
      val values = MixTargets.map { case (l, p) => s"('$l', $p)" }.mkString(", ")
      s"""WITH tw(lang, target_pct) AS (VALUES $values),
         |lc AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         |j AS (SELECT l.lang, l.n_docs, t.target_pct
         |      FROM lc l JOIN tw t ON l.lang = t.lang),
         |b AS (SELECT min(n_docs * 100 // target_pct) AS budget FROM j),
         |tk AS (SELECT lang, n_docs, target_pct,
         |              (target_pct * budget) // 100 AS k_target
         |       FROM j CROSS JOIN b),
         |kept AS (SELECT d.lang, count(*) AS n_kept
         |         FROM documents d JOIN tk t ON d.lang = t.lang
         |         WHERE (${hexBucketSql("d.doc_id")}) * t.n_docs < t.k_target * 65536
         |         GROUP BY d.lang),
         |tot AS (SELECT sum(n_kept) AS total_kept FROM kept)
         |SELECT t.lang, t.n_docs, t.target_pct, t.k_target,
         |       coalesce(k.n_kept, 0) AS n_kept,
         |       round(coalesce(k.n_kept, 0) * 1.0 / total_kept, 4) AS realized_share
         |FROM tk t LEFT JOIN kept k ON t.lang = k.lang CROSS JOIN tot
         |ORDER BY t.lang""".stripMargin
    }) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val tw = MixTargets.toDF("lang", "target_pct")
    val j = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .join(tw, "lang")
    val b = j.agg(min(expr("n_docs * 100 div target_pct")).as("budget"))
    val tk = j.crossJoin(broadcast(b))
      .withColumn("k_target", expr("(target_pct * budget) div 100"))
      .select("lang", "n_docs", "target_pct", "k_target")
    val kept = docs
      .join(broadcast(tk), "lang")
      .filter(hexBucketCol(col("doc_id")).cast("long") * col("n_docs")
        < col("k_target") * 65536L)
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    val tot = kept.agg(sum("n_kept").as("total_kept"))
    tk.join(kept, Seq("lang"), "left")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("target_pct"), col("k_target"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(coalesce(col("n_kept"), lit(0L)) * lit(1.0) / col("total_kept"), 4)
          .as("realized_share"))
      .orderBy("lang")
  }

  val DomainCap = 20

  val TokenBudget = 15000L

  /** Range-bucket width for the two-phase cumsum: consecutive-doc_id
    * ranges this wide collapse to one row in the offsets frame. */
  val BudgetRangeWidth = 256

  /** Reduction levels applied before the terminal single-partition prefix
    * window: the terminal frame is corpus / width^levels rows. Two levels
    * of 256 bound 10^11 docs to ~1.5M three-long rows (~40 MB) in one
    * task — safely executor-sized; a bigger corpus raises this (each
    * level multiplies the reduction by [[BudgetRangeWidth]] at the cost
    * of one extra tiny shuffle+window). */
  val BudgetReduceLevels = 2

  /** Recursive prefix-offset reduction — the scale core of the token-budget
    * cumsum. Input `grp` holds one row per (majorCols..., rb) range bucket
    * with a long total `gsum`; the result carries `offset` = sum of `gsum`
    * over every bucket strictly BEFORE this one in (majorOrder..., rb asc)
    * order. At `levels == 0` the frame is corpus / width^levels rows by
    * construction, and the prefix runs as an EXPLICIT single-partition
    * running sum (repartition(1) + sortWithinPartitions + mapPartitions) —
    * the one task is a declared design fact with a provable row bound, not
    * a WindowExec no-partition fallback. Above level 0, buckets are
    * themselves range-bucketed (rb2 = rb / width), the recursion yields
    * SUPER-bucket offsets, and a window PARTITIONED by the super-bucket
    * extends them to bucket offsets. All arithmetic is exact longs, so any
    * depth is hash-identical to the flat global window the oracle
    * states. */
  private[operators] def bucketOffsets(
      grp: DataFrame, majorCols: Seq[String], majorOrder: Seq[Column],
      levels: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val outCols = (majorCols :+ "rb" :+ "offset").map(col)
    if (levels <= 0) {
      val ordered = grp.select((majorCols :+ "rb" :+ "gsum").map(col): _*)
        .repartition(1)
        .sortWithinPartitions(majorOrder :+ col("rb"): _*)
      val enc = org.apache.spark.sql.Encoders.row(
        ordered.schema.add("offset", org.apache.spark.sql.types.LongType,
          nullable = false))
      val gsumIdx = ordered.schema.fieldIndex("gsum")
      ordered.mapPartitions { it =>
        var acc = 0L
        it.map { r =>
          val out = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ acc)
          acc += r.getLong(gsumIdx)
          out
        }
      }(enc).select(outCols: _*)
    } else {
      val withSuper = grp.withColumn("rb2", floor(col("rb") / BudgetRangeWidth))
      val grp2 = withSuper
        .groupBy((majorCols :+ "rb2").map(col): _*)
        .agg(sum("gsum").as("gsum"))
        .withColumnRenamed("rb2", "rb")
      val off2 = bucketOffsets(grp2, majorCols, majorOrder, levels - 1)
        .withColumnRenamed("rb", "rb2")
        .withColumnRenamed("offset", "offset2")
      val wIn = Window.partitionBy((majorCols :+ "rb2").map(col): _*)
        .orderBy("rb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withSuper.join(off2, majorCols :+ "rb2")
        .withColumn("offset",
          col("offset2") + sum("gsum").over(wIn) - col("gsum"))
        .select(outCols: _*)
    }
  }

  /** Doc-id-ordered token cumsum in the two-phase budget shape — expects
    * (doc_id, n_tokens), adds `cum_tokens`. The ONE definition of the
    * budget-stage running total of `corpus_token_budget`'s e2e sibling.
    * The streaming curation twin (`Jobs.curationSink`) runs the same
    * exact-long arithmetic over the same doc_id order on each collected
    * micro-batch, and StreamingSpec's curation parity test checks the
    * streamed selection against this function's. Never a
    * corpus-wide single-partition window: range-bucket totals →
    * [[bucketOffsets]] recursive reduction → within-bucket windows. */
  private[graft] def docOrderedCumsum(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q2 = df.withColumn("rb", floor(col("doc_id") / BudgetRangeWidth))
    val grp = q2.groupBy("rb").agg(sum("n_tokens").as("gsum"))
    val off = bucketOffsets(grp, Nil, Nil, BudgetReduceLevels)
    val wIn = Window.partitionBy("rb").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q2.join(off, "rb")
      .withColumn("cum_tokens",
        (col("offset") + sum("n_tokens").over(wIn)).cast("long"))
      .drop("rb", "offset")
  }

  /** PER-SOURCE CAP — the Common-Crawl-style curation rule "keep at most
    * N documents per domain, preferring quality": rank each source's docs
    * by (quality desc, n_tokens desc, doc_id) and flag the top
    * [[DomainCap]]. Prevents one mega-crawl from dominating the training
    * mixture; the complement of `corpus_mix`'s measurement.
    *
    * Scale shape: quality is the shared one-pass metric frame
    * ([[Quality.metrics]]); the rank is ONE window partitioned by
    * source — per-domain state, never a global sort. A pathologically hot
    * domain bounds a single partition; its rows spill rather than skewing
    * a shuffle key used by anyone else, and a pre-filter on quality==3
    * would shrink it further before ranking at real scale. */
  val domainCap = sql(
    "corpus_domain_cap",
    s"""WITH ${Quality.metricsSqlCte},
       |q AS (SELECT doc_id, n_tokens,
       |             ${Quality.scoreSql} AS quality
       |      FROM m),
       |r AS (SELECT d.doc_id, d.source, q.quality, q.n_tokens,
       |             row_number() OVER (PARTITION BY d.source
       |                                ORDER BY q.quality DESC, q.n_tokens DESC,
       |                                         d.doc_id) AS rnk
       |      FROM documents d JOIN q ON q.doc_id = d.doc_id)
       |SELECT doc_id, source, quality, n_tokens,
       |       CAST(rnk AS BIGINT) AS rnk, rnk <= $DomainCap AS keep
       |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("n_tokens").desc, col("doc_id"))
    Quality.metrics(s, d)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("source"), col("quality"), col("n_tokens"),
        col("rnk"), (col("rnk") <= DomainCap).as("keep"))
      .orderBy("doc_id")
  }

  /** TOKEN-BUDGET SELECTION — greedy corpus selection to a fixed training
    * budget: take documents in (quality desc, doc_id) order until
    * [[TokenBudget]] whitespace tokens are reached (a doc is selected iff
    * its cumulative token count fits entirely). The "fill the mixture from
    * the best docs down" step between scoring and shard-writing.
    *
    * Scale shape: the global ordered cumsum is the classic single-partition
    * window killer, so it runs MULTI-PHASE — (1) per-(quality, range-bucket)
    * token totals, with range buckets of [[BudgetRangeWidth]] consecutive
    * doc_ids so bucket order IS doc order; (2) bucket offsets via
    * [[bucketOffsets]], which applies [[BudgetReduceLevels]] recursive
    * levels of the same reduction (bucket the buckets) so the sole
    * single-partition frame is corpus / width^levels rows; (3) the
    * within-bucket cumsum windows on (quality, bucket) — per-bucket state
    * only. The oracle states the SEMANTICS as the single global window
    * the multi-phase plan refuses to run. */
  val tokenBudget = sql(
    "corpus_token_budget",
    s"""WITH ${Quality.metricsSqlCte},
       |q AS (SELECT doc_id, n_tokens,
       |             ${Quality.scoreSql} AS quality
       |      FROM m),
       |c AS (SELECT doc_id, quality, n_tokens,
       |             sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
       |      FROM q)
       |SELECT doc_id, quality, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       |       cum_tokens <= $TokenBudget AS selected
       |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val q = Quality.metrics(s, d)
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        floor(col("doc_id") / BudgetRangeWidth).as("rb"))
    // (1) per-(quality, range-bucket) totals — partial-aggregable
    val grp = q.groupBy("quality", "rb").agg(sum("n_tokens").as("gsum"))
    // (2) bucket offsets via [[BudgetReduceLevels]] recursive reductions —
    // the only single-partition frame is corpus / width^levels rows
    val off = bucketOffsets(grp, Seq("quality"), Seq(col("quality").desc),
      BudgetReduceLevels)
    // (3) within-bucket cumsum — per-(quality, bucket) state only
    val wIn = Window.partitionBy("quality", "rb").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q.join(off, Seq("quality", "rb"))
      .withColumn("cum_tokens", (col("offset") + sum("n_tokens").over(wIn)).cast("long"))
      .select(col("doc_id"), col("quality"), col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= TokenBudget).as("selected"))
      .orderBy("doc_id")
  }

  /** Token budget for the END-TO-END pipeline below — smaller than
    * [[TokenBudget]] so the selection stage genuinely truncates the
    * post-gate survivor stream (the gates already shrink the corpus). */
  val E2eBudget = 5000L

  /** END-TO-END CURATION PIPELINE — the composition a real 100 TB run
    * executes as ONE job, chaining the already-oracle-checked stages in
    * pipeline order over the train split:
    *
    *   1. quality gate   — length floor (≥10 tokens) + 3/3 Gopher score
    *                       ([[Quality]], the `corpus_curation_funnel` gates);
    *   2. dedup keep     — canonical member (min doc_id among gate-surviving
    *                       train docs) per MinHash-LSH near-dup cluster
    *                       (`TextOps.clusterLabels`, funnel semantics);
    *   3. decontam       — drop docs sharing a df-capped 8-token shingle
    *                       with any test-split doc (`decontam_ngram`);
    *   4. token budget   — greedy selection in doc order until [[E2eBudget]]
    *                       tokens, via the `corpus_token_budget` two-phase
    *                       cumsum (never a corpus-wide single partition);
    *   5. pack           — `pack_sequences` 16-shard / 4096-token packing
    *                       of the selected stream.
    *
    * The point of declaring the composition as its own oracle-checked query:
    * the stage DEFINITIONS are the shared ones (`Quality.metricsSqlCte`,
    * `TextOps.clusterLabelsSqlCte`, the decontamination shingle index, the
    * split thresholds), so if chaining them forked any stage's semantics,
    * this query's hash would diverge from DuckDB running the same chain.
    * Scale shape: every stage keeps its standalone query's plan — the only
    * cross-stage links are equi-joins on doc_id and the gates are narrow
    * filters, so the composition adds no shuffle beyond its stages'. */
  val curationE2e = sql(
    "corpus_curation_e2e",
    s"""WITH RECURSIVE ${TextOps.clusterLabelsSqlCte},
       |${Quality.metricsSqlCte},
       |q AS (SELECT doc_id, n_tokens, ${Quality.scoreSql} AS quality FROM m),
       |$decontamChainSqlCte,
       |g AS (SELECT d.doc_id, q.n_tokens, c.root,
       |             (q.n_tokens >= 10 AND q.quality = 3) AS qual_ok
       |      FROM documents d
       |      JOIN q ON q.doc_id = d.doc_id
       |      JOIN cc c ON c.doc_id = d.doc_id
       |      JOIN dsp p ON p.doc_id = d.doc_id
       |      WHERE p.split = 'train'),
       |canon AS (SELECT root, min(doc_id) AS canon_id FROM g
       |          WHERE qual_ok GROUP BY root),
       |surv AS (SELECT g.doc_id, g.n_tokens FROM g
       |         JOIN canon ON g.root = canon.root AND g.doc_id = canon.canon_id
       |         WHERE g.qual_ok
       |           AND g.doc_id NOT IN (SELECT doc_id FROM dhits)),
       |c2 AS (SELECT doc_id, n_tokens,
       |              sum(n_tokens) OVER (ORDER BY doc_id
       |                                  ROWS UNBOUNDED PRECEDING) AS cum
       |       FROM surv),
       |sel AS (SELECT doc_id, n_tokens, cum FROM c2 WHERE cum <= $E2eBudget),
       |pk AS (SELECT doc_id, n_tokens, cum,
       |              (${hexBucketSql("doc_id")}) % 16 AS shard
       |       FROM sel),
       |pc AS (SELECT doc_id, n_tokens, cum, shard,
       |              sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |                                  ROWS UNBOUNDED PRECEDING) AS pcum
       |       FROM pk)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(cum AS BIGINT) AS cum_tokens, shard,
       |       CAST(floor((pcum - n_tokens) / 4096) AS BIGINT) AS seq_id
       |FROM pc ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // stages 1-3: gate frame over the train split (funnel semantics)
    val (sp, shc) = decontamShingleIndex(s, d)
    val ev = shc.filter(col("split") === "test").select("sh").distinct()
    val contaminated = shc.filter(col("split") === "train")
      .join(ev, "sh").select("doc_id").distinct()
    val g = sp.select("doc_id", "split").filter(col("split") === "train")
      .join(Quality.metrics(s, d).select("doc_id", "n_tokens", "quality"), "doc_id")
      .join(TextOps.clusterLabels(s, d), "doc_id")
      .withColumn("qual_ok", col("n_tokens") >= 10 && col("quality") === 3)
    val wCluster = Window.partitionBy("cluster")
    val surv = g
      .withColumn("canon_id",
        min(when(col("qual_ok"), col("doc_id"))).over(wCluster))
      .filter(col("qual_ok") && col("doc_id") === col("canon_id"))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
    // stage 4: two-phase budget cumsum (the corpus_token_budget plan; the
    // offsets window runs on the range-bucket-reduced frame only); the
    // streaming curation twin's per-batch arithmetic is checked against it
    val sel = docOrderedCumsum(surv).filter(col("cum_tokens") <= E2eBudget)
    // stage 5: per-shard packing of the selected stream (pack_sequences)
    val wPack = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sel.withColumn("shard", hexBucketCol(col("doc_id")) % 16)
      .withColumn("pcum", sum("n_tokens").over(wPack))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"), col("shard"),
        floor((col("pcum") - col("n_tokens")) / 4096).cast("long").as("seq_id"))
      .orderBy("doc_id")
  }

  /** CURRICULUM assignment — the deterministic map a staged training run
    * consumes: each document gets a PHASE (1 = cleanest, by the shared
    * [[Quality]] score, so training starts on the best text), a SHARD
    * (md5-bucket mod 8 — uniform, engine/retry-stable), and its
    * within-shard SORT KEY (the raw bucket; writers emit
    * `repartition(shard).sortWithinPartitions(phase, sort_bucket)`).
    *
    * Deliberately NO ranking window: a per-doc global curriculum index
    * would put n_docs/n_shards rows through each window partition —
    * linear in the corpus, the exact hazard the token-budget pair had to
    * engineer around. The (phase, shard, sort_bucket, doc_id) tuple IS a
    * total order, so ranks exist implicitly without any stateful pass;
    * the whole query is one narrow projection over the shared quality
    * frame. */
  val corpusCurriculum = sql(
    "corpus_curriculum",
    s"""WITH ${Quality.metricsSqlCte},
       |q AS (SELECT doc_id, n_tokens, ${Quality.scoreSql} AS quality,
       |             ${hexBucketSql("doc_id")} AS bucket
       |      FROM m)
       |SELECT doc_id, CAST(4 - quality AS INT) AS phase,
       |       CAST(bucket % 8 AS INT) AS shard,
       |       CAST(bucket AS INT) AS sort_bucket,
       |       CAST(n_tokens AS BIGINT) AS n_tokens
       |FROM q ORDER BY doc_id""".stripMargin) { (s, d) =>
    Quality.metrics(s, d)
      .withColumn("bucket", hexBucketCol(col("doc_id")))
      .select(col("doc_id"),
        (lit(4) - col("quality")).cast("int").as("phase"),
        (col("bucket") % 8).cast("int").as("shard"),
        col("bucket").as("sort_bucket"),
        col("n_tokens").cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** DSIR feature-bucket count. 1024 hashed-n-gram buckets is the scale
    * LEVER of the family: the learned model is exactly 2·B counters, so at
    * 100 TB the "classifier" stays a broadcastable kilobyte-scale table no
    * matter how large the corpus or its vocabulary grows. */
  val DsirBuckets = 1024

  /** The target domain whose hashed-n-gram profile DSIR steers toward. */
  val DsirTarget = "src0"

  /** Shared oracle CTE chain ending in `w(doc_id, n_feats, logw)` — the
    * DSIR importance weight per document, consumed by both
    * `corpus_dsir_weights` (which emits it) and `corpus_dsir_select`
    * (which resamples on it), so the weight model cannot fork between
    * the report and the selection it justifies. */
  private val dsirWeightSqlCte: String =
    s"""dtk AS (SELECT doc_id, source, string_split(text, ' ') AS t
       |        FROM documents),
       |dgr AS (SELECT doc_id, source,
       |               unnest(list_concat(t,
       |                 [t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS g
       |        FROM dtk),
       |dfb AS (SELECT doc_id, source,
       |               (${hexBucketSql("g")}) % $DsirBuckets AS b
       |        FROM dgr),
       |drc AS (SELECT b, count(*) AS rc FROM dfb GROUP BY b),
       |dtc AS (SELECT b, count(*) AS tc FROM dfb
       |        WHERE source = '$DsirTarget' GROUP BY b),
       |drt AS (SELECT sum(rc) AS rtot FROM drc),
       |dtt AS (SELECT sum(tc) AS ttot FROM dtc),
       |dlam AS (SELECT drc.b,
       |                ln((coalesce(dtc.tc, 0) + 1) * 1.0
       |                   / (dtt.ttot + $DsirBuckets))
       |              - ln((drc.rc + 1) * 1.0 / (drt.rtot + $DsirBuckets))
       |                AS lam
       |         FROM drc LEFT JOIN dtc USING (b)
       |         CROSS JOIN drt CROSS JOIN dtt),
       |w AS (SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |             round(sum(l.lam), 4) AS logw
       |      FROM dfb f JOIN dlam l ON l.b = f.b
       |      GROUP BY f.doc_id)""".stripMargin

  /** Spark side of `w`: (doc_id, n_feats, logw) per document. The λ table
    * is ≤ [[DsirBuckets]] rows by construction, so the per-occurrence
    * weight lookup is a broadcast equi-join (no shuffle on the corpus
    * side) and the per-doc sum partial-aggregates map-side — exploded
    * n-grams of one document stay in one input partition. */
  /** The trained DSIR bucket-weight table `(b, lam)` — ≤ [[DsirBuckets]]
    * rows by construction. Exposed (package-wide) because this IS the
    * deployable model: the streaming ingest gate broadcasts a frozen copy
    * of exactly this frame ([[graft.streaming.Jobs.dsirGate]]). */
  private[graft] def dsirLambda(s: SparkSession, d: String): DataFrame =
    dsirLambdaOver(dsirFeatures(s, d))

  /** λ table from an existing feature frame. ONE aggregation pass computes
    * both the raw and target bucket counts (r13, guide §2.3: the separate
    * rc/tc aggregates each re-ran the n-gram explode — the chain's
    * dominant CPU — and their left join re-assembled what one conditional
    * count produces directly; `tc = 0` for target-absent buckets ≡ the old
    * `coalesce(tc, 0)`, so λ is value-identical). */
  private def dsirLambdaOver(feats: DataFrame): DataFrame = {
    val counts = feats.groupBy("b").agg(count(lit(1)).as("rc"),
      sum(when(col("source") === DsirTarget, 1L).otherwise(0L)).as("tc"))
    val tots = counts.agg(sum("rc").as("rtot"), sum("tc").as("ttot"))
    counts.crossJoin(broadcast(tots))
      .select(col("b"),
        (log((col("tc") + 1) * lit(1.0)
          / (col("ttot") + DsirBuckets))
          - log((col("rc") + 1) * lit(1.0) / (col("rtot") + DsirBuckets)))
          .as("lam"))
  }

  private def dsirFeatures(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      // sequence(0, size-2) is DESCENDING for 1-token docs (Spark infers
      // step -1), so the bigram arm must be explicitly emptied there
      .select(col("doc_id"), col("source"), explode(concat(col("t"), expr(
        """if(size(t) >= 2,
          |   transform(sequence(0, size(t) - 2),
          |             i -> concat_ws(' ', t[i], t[i + 1])),
          |   array())""".stripMargin))).as("g"))
      .select(col("doc_id"), col("source"),
        (hexBucketCol(col("g")) % DsirBuckets).as("b"))

  private def dsirWeights(s: SparkSession, d: String): DataFrame = {
    // cached: the λ fit and the broadcast-join probe side both read the
    // exploded feature stream — un-cached, each re-ran the per-gram md5
    // explode (r13; the frame is (long, short string, int) — narrow)
    val feats = dsirFeatures(s, d).cache()
    feats.join(broadcast(dsirLambdaOver(feats)), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_feats"),
        round(sum("lam"), 4).as("logw"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): featurize every document
    * as hashed uni+bigram counts over [[DsirBuckets]] buckets, fit add-1-
    * smoothed bag-of-buckets models on the TARGET domain (`src0`) and on
    * the RAW corpus, and score each doc with the log importance ratio
    * log w(x) = Σ_b c_b(x)·(ln p_b − ln q_b). High logw = "reads like the
    * target domain" — the standard cheap steer toward a wanted
    * distribution before training.
    *
    * Scale shape: tokenize once, one explode (≈2·n_tokens rows/doc), two
    * partial-aggregable bucket counts collapsing to ≤ B rows, two scalar
    * totals, then ONE broadcast join of the λ table back onto the feature
    * stream with a map-side-combining per-doc sum. Nothing but the
    * exploded narrow stream ever shuffles, and it shuffles pre-aggregated
    * per doc. Float policy: both engines ln identical smoothed rationals
    * (the `text_tfidf` agreement discipline); the per-doc sum is rounded
    * 4 dp to absorb accumulation order. */
  val corpusDsirWeights = sql(
    "corpus_dsir_weights",
    s"""WITH $dsirWeightSqlCte
       |SELECT doc_id, n_feats, logw FROM w ORDER BY doc_id""".stripMargin) {
    (s, d) => dsirWeights(s, d).orderBy("doc_id")
  }

  /** DSIR SELECTION — sampling-without-replacement via the Gumbel-top-k
    * trick on the importance weights: key = logw + Gumbel(0,1), take the
    * top 100 keys. The Gumbel noise is DERANDOMIZED the repo way — u is
    * the md5 bucket of the doc id mapped to (0,1), g = −ln(−ln(u)) — so
    * the draw is reproducible under retries, partitioning, and engine
    * swaps (a `rand()` draw is neither reproducible nor oracle-checkable).
    * Ranking runs on the 4-dp-ROUNDED key with a doc_id tie-break (the
    * `text_nb_langid` discipline), so the selected SET is bit-stable
    * across engines.
    *
    * Scale shape: the weight chain (see [[corpusDsirWeights]]) plus a
    * narrow key projection and a top-k — TakeOrderedAndProject, the
    * per-partition-heap + driver-merge top-k that never sorts the corpus
    * (PlanSpec-guarded). */
  val corpusDsirSelect = sql(
    "corpus_dsir_select",
    s"""WITH $dsirWeightSqlCte,
       |ky AS (SELECT doc_id, n_feats, logw,
       |              round(logw - ln(-ln((${hexBucketSql("doc_id")} + 0.5)
       |                                  / 65536.0)), 4) AS gkey
       |       FROM w)
       |SELECT doc_id, n_feats, logw, gkey
       |FROM ky ORDER BY gkey DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
    dsirWeights(s, d)
      .withColumn("gkey", round(col("logw")
        - log(-log((hexBucketCol(col("doc_id")) + 0.5) / 65536.0)), 4))
      .orderBy(col("gkey").desc, col("doc_id"))
      .limit(100)
  }

  /** Human-eval batch size — the annotation budget `corpus_eval_sample`
    * apportions. */
  val EvalSampleN = 200

  /** STRATIFIED EVAL-SAMPLE construction — the annotation batch a data
    * team sends to human raters: [[EvalSampleN]] docs apportioned across
    * (source, quality) cells PROPORTIONALLY by largest remainder (quotas
    * sum exactly to the budget — the `text_negative_table` apportionment
    * applied to strata), then drawn within each cell by the deterministic
    * md5 rank (reproducible across engines and retries; a re-run
    * annotates the SAME docs). Proportional strata keep the batch an
    * unbiased corpus mirror while guaranteeing every populated
    * (source, quality) cell is inspected — the report that catches "our
    * lowest-quality crawl never gets human eyes".
    *
    * Scale shape: the cell frame is ≤ |sources|·4 rows (model-sized — its
    * remainder rank is a pinned legal global window); the corpus-side
    * work is one partial-aggregable cell count plus a cell-partitioned
    * rank window, and the quota join broadcasts the tiny quota frame. */
  val evalSample = sql(
    "corpus_eval_sample",
    s"""WITH ${Quality.metricsSqlCte},
       |q AS (SELECT doc_id, ${Quality.scoreSql} AS quality FROM m),
       |g AS (SELECT d.doc_id, d.source, q.quality
       |      FROM documents d JOIN q USING (doc_id)),
       |cells AS (SELECT source, quality, count(*) AS cn FROM g GROUP BY 1, 2),
       |tot AS (SELECT sum(cn) AS t FROM cells),
       |fl AS (SELECT source, quality, cn,
       |              CAST(floor(cn * $EvalSampleN.0 / tot.t) AS BIGINT) AS base,
       |              cn * $EvalSampleN.0 / tot.t
       |                - floor(cn * $EvalSampleN.0 / tot.t) AS rem
       |       FROM cells CROSS JOIN tot),
       |need AS (SELECT $EvalSampleN - sum(base) AS k FROM fl),
       |qt AS (SELECT source, quality,
       |              base + CASE WHEN row_number()
       |                       OVER (ORDER BY rem DESC, source, quality) <= need.k
       |                     THEN 1 ELSE 0 END AS quota
       |       FROM fl CROSS JOIN need),
       |rkd AS (SELECT g.doc_id, g.source, g.quality,
       |               row_number() OVER (PARTITION BY g.source, g.quality
       |                 ORDER BY (${Keys.hexBucketSql("g.doc_id")}), g.doc_id) AS rk
       |        FROM g)
       |SELECT r.doc_id, r.source, r.quality, CAST(r.rk AS BIGINT) AS cell_rank
       |FROM rkd r JOIN qt ON qt.source = r.source AND qt.quality = r.quality
       |WHERE r.rk <= qt.quota
       |ORDER BY r.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val g = Tables.documents(s, d).select("doc_id", "source")
      .join(Quality.metrics(s, d).select("doc_id", "quality"), "doc_id")
    val cells = g.groupBy("source", "quality").agg(count(lit(1)).as("cn"))
    val tot = cells.agg(sum("cn").as("t"))
    val sf = col("cn") * lit(EvalSampleN.toDouble) / col("t")
    val fl = cells.crossJoin(broadcast(tot))
      .select(col("source"), col("quality"), col("cn"),
        floor(sf).cast("long").as("base"), (sf - floor(sf)).as("rem"))
    val need = fl.agg((lit(EvalSampleN.toLong) - sum("base")).as("k"))
    val qt = fl.crossJoin(broadcast(need))
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem").desc, col("source"), col("quality"))))
      .select(col("source"), col("quality"),
        (col("base") + when(col("rr") <= col("k"), 1L).otherwise(0L)).as("quota"))
    val rkd = g.withColumn("rk",
      row_number().over(Window.partitionBy("source", "quality")
        .orderBy(hexBucketCol(col("doc_id")), col("doc_id"))))
    rkd.join(broadcast(qt), Seq("source", "quality"))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("source"), col("quality"),
        col("rk").cast("long").as("cell_rank"))
      .orderBy("doc_id")
  }

  val defs: Seq[QueryDef] = Seq(
    evalSample,
    sampleHash, sampleStratified, splitAssign, splitLeakageSafe, splitKfold,
    decontamNgram, decontamBloom, packSequences, sampleWeighted,
    corpusReweight, corpusTemperatureMix, corpusShardManifest, domainCap, tokenBudget, curationE2e, decontamReport,
    packPaddingWaste, corpusModelCard,
    corpusCurriculum, corpusDsirWeights, corpusDsirSelect)
}

