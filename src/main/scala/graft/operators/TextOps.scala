package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Snapshots, Tables}
import graft.core.QueryDef.sql

/** Text-analysis + deduplication operators over the `documents` table — the
  * training-data-pipeline surface (builder prompt): token counting, quality
  * scoring, language-ID heuristics, fingerprinting, exact dedup,
  * n-gram-Jaccard near-dup, MinHash+LSH, SimHash.
  *
  * Cross-engine determinism: every hash primitive is `md5` (bit-identical in
  * Spark and DuckDB); MinHash is the lexicographic MIN of seeded md5 hex
  * strings; SimHash bits come from md5 hex-digit arithmetic — no engine
  * hash functions (Spark murmur3 vs DuckDB hash would never match).
  *
  * Scale notes (100 TB): all dedup is expressed as explode → shuffle on the
  * shingle/band/hash key → aggregate. Nothing is O(n²) over documents:
  * n-gram Jaccard joins on the inverted shingle index, MinHash-LSH joins on
  * band buckets. These are the standard linear-in-corpus patterns.
  */
object TextOps {

  /** RAG/embedding chunk size and stride (tokens). 128/96 ⇒ 32-token
    * overlap — enough context carry-over for retrieval, 25% redundancy. */
  val ChunkTokens = 128
  val ChunkStride = 96

  /** DETERMINISTIC OVERLAPPING CHUNKING — the doc→passage explosion every
    * RAG/embedding pipeline runs before encoding: fixed [[ChunkTokens]]-token
    * windows at [[ChunkStride]] stride (32-token overlap), the final chunk
    * truncated to the document tail. Chunk COUNT is the exact integer
    * `1 + (n − ChunkTokens + ChunkStride − 1) div ChunkStride` for
    * n > ChunkTokens else 1 — never a float ceil (a cross-engine rounding
    * hazard); every token is covered and chunk boundaries replay
    * identically anywhere, so chunk ids are stable join keys for the
    * vectors they produce. Output carries (doc_id, chunk_idx) plus the
    * 0-based token offset, length and a content digest — the digest is
    * what downstream chunk-level dedup keys on.
    *
    * Scale shape: one narrow map per doc + an explode bounded by n/stride
    * — no shuffle, no join, no window; the ORDER BY is the oracle
    * harness's, production writers keep it partition-local. */
  val textChunk = sql(
    "text_chunk",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |nn AS (SELECT doc_id, t, len(t) AS n,
       |              CASE WHEN len(t) <= $ChunkTokens THEN 1
       |                   ELSE 1 + (len(t) - $ChunkTokens + $ChunkStride - 1) // $ChunkStride
       |              END AS nc
       |       FROM toks),
       |ix AS (SELECT doc_id, n, t, unnest(range(nc)) AS i FROM nn),
       |ch AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       |              CAST(i * $ChunkStride AS BIGINT) AS start_tok,
       |              least($ChunkTokens, n - i * $ChunkStride) AS n_toks, t
       |       FROM ix)
       |SELECT doc_id, chunk_idx, start_tok,
       |       CAST(n_toks AS BIGINT) AS n_toks,
       |       md5(array_to_string(t[start_tok + 1 : start_tok + n_toks], ' ')) AS chunk_md5
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
    val n = size(col("t"))
    val nc = when(n <= ChunkTokens, 1)
      .otherwise(lit(1) + expr(
        s"(size(t) - $ChunkTokens + $ChunkStride - 1) div $ChunkStride"))
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"), n.as("n"),
        explode(sequence(lit(0), nc - 1)).as("i"))
      .select(col("doc_id"),
        col("i").cast("long").as("chunk_idx"),
        (col("i") * ChunkStride).cast("long").as("start_tok"),
        least(lit(ChunkTokens), col("n") - col("i") * ChunkStride)
          .cast("long").as("n_toks"),
        md5(concat_ws(" ",
          slice(col("t"), col("i") * ChunkStride + 1,
            least(lit(ChunkTokens), col("n") - col("i") * ChunkStride))))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Token counting + quality scoring (length/distinct/word-length ratios).
    * All ratios are exact same-double divisions on both engines. */
  val textStats = sql(
    "text_stats",
    """SELECT doc_id,
      |       length(text) AS n_chars_obs,
      |       len(string_split(text, ' ')) AS n_tokens,
      |       len(list_distinct(string_split(text, ' '))) AS n_distinct,
      |       round(len(list_distinct(string_split(text, ' '))) * 1.0
      |             / len(string_split(text, ' ')), 4) AS distinct_ratio,
      |       round((length(text) - len(string_split(text, ' ')) + 1) * 1.0
      |             / len(string_split(text, ' ')), 4) AS avg_word_len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    // tokenize/distinct once per row via aliased projections (duplicated
    // split()/array_distinct() expressions defeat per-column reuse)
    Tables.documents(s, d)
      .select(col("doc_id"), length(col("text")).as("n_chars_obs"),
        split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("n_chars_obs"), size(col("t")).as("n_tokens"),
        size(array_distinct(col("t"))).as("n_distinct"))
      .select(col("doc_id"), col("n_chars_obs"), col("n_tokens"), col("n_distinct"),
        round(col("n_distinct") * lit(1.0) / col("n_tokens"), 4).as("distinct_ratio"),
        round((col("n_chars_obs") - col("n_tokens") + 1) * lit(1.0) / col("n_tokens"), 4)
          .as("avg_word_len"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic: stopword-frequency scoring (the classic n-gram /
    * stopword-profile approach, degenerate here because the synthetic corpus
    * shares one vocabulary — the *operator* is what's exercised). */
  val textLangId = sql(
    "text_langid",
    """SELECT doc_id, lang,
      |       len(list_filter(string_split(text, ' '), x -> x = 'the')) AS n_the,
      |       len(list_filter(string_split(text, ' '), x -> x = 'a'))   AS n_a,
      |       CASE WHEN len(list_filter(string_split(text, ' '), x -> x = 'the'))
      |                 > len(list_filter(string_split(text, ' '), x -> x = 'a'))
      |            THEN 'en' ELSE 'other' END AS pred_lang
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val t = split(col("text"), " ")
    val nThe = size(filter(t, _ === "the"))
    val nA = size(filter(t, _ === "a"))
    Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      nThe.as("n_the"), nA.as("n_a"),
      when(nThe > nA, "en").otherwise("other").as("pred_lang"))
      .orderBy("doc_id")
  }

  /** Document fingerprint: md5 over the sorted distinct-token set — the
    * canonical "same bag of words" key for fuzzy-exact dedup. */
  val textFingerprint = sql(
    "text_fingerprint",
    """SELECT doc_id,
      |       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
      |         AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " "))
        .as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Exact dedup: hash-groupBy keeping the smallest doc_id per content hash.
    * The corpus has no literal dupes, so we union it with itself to force
    * every group to size 2 — the keep/drop logic is what's verified. */
  val dedupExact = sql(
    "dedup_exact",
    """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
      |GROUP BY md5(text) ORDER BY keep_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    docs.unionAll(docs)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")
  }

  /** Word-3-gram shingle set per document (distinct), as an inverted index:
    * (doc_id, sh) where `sh` is the shingle's 16-BYTE md5 DIGEST — the
    * equality key every consumer joins/groups/df-counts on (half the
    * shuffle width of the 30-char string, same repo-wide binary-key
    * discipline as the band/decontam keys). Built by the native
    * `shingle_md5s` expression: one compiled loop per row, no interpreted
    * per-window lambda, no intermediate window strings (see
    * [[graft.functions.ShingleMd5s]] for the oracle-parity contract). */
  private def shingles(s: org.apache.spark.sql.SparkSession, d: String) = {
    // tokenize ONCE per row (a naive transform over split(text) re-runs the
    // regex split per shingle — ~200 splits/doc), then slide the window.
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.ShingleMd5s.shingle_md5s(
          split(col("text"), " "), 3)).as("sh"))
  }

  private val shinglesSql =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS sh
      |       FROM toks WHERE len(t) >= 3)""".stripMargin

  /** Hot-shingle document-frequency cap: a shingle present in more than this
    * many documents is boilerplate (a stop-word trigram at 100 TB forms one
    * bucket with millions of docs → a quadratic pair explosion on a single
    * join key). Such shingles carry no near-dup signal, so the shingle
    * UNIVERSE — for both pair counting and per-doc sizes — excludes them,
    * identically on both engines. */
  val ShingleDfCap = 50

  /** The df-capped shingle pair scaffolding shared by the Jaccard and
    * containment near-dup queries — SQL CTE chain ending in
    * `sizes(doc_id, n)` + `pairs(da, db, common)`, and the matching Spark
    * builder. One definition so the cap/shingle-universe semantics cannot
    * fork between the two metrics. */
  private val cappedPairsFromShSqlCte: String =
    s"""df AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
       |shc AS (SELECT s.doc_id, s.sh FROM sh s JOIN df USING (sh)
       |        WHERE df.df <= $ShingleDfCap),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
       |          FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)""".stripMargin

  private val cappedPairsSqlCte: String =
    s"""$shinglesSql,
       |$cappedPairsFromShSqlCte""".stripMargin

  /** Spark side of the scaffolding: `pairs(da, db, common)` joined with the
    * per-doc sizes as `na`/`nb`. The sizes aggregate is per-doc (NOT
    * broadcastable at corpus scale) — AQE converts the joins to broadcast
    * at runtime when it turns out small. */
  /** The df-capped inverted shingle index `shc(doc_id, sh)` — the ONE
    * Spark-side definition of the capped shingle universe (cached:
    * consumers read it several ways). */
  private def cappedShingleIndex(s: org.apache.spark.sql.SparkSession,
      d: String,
      shIn: Option[org.apache.spark.sql.DataFrame] = None,
      dfIn: Option[org.apache.spark.sql.DataFrame] = None,
      cacheResult: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    // `shIn` lets the df-cap recall certificate share ONE cached raw
    // shingle scan between the capped chain and its exact ground truth
    val raw = shIn.getOrElse(
      shingles(s, d).cache()) // read twice: df aggregation + anti join
    val hot = dfIn.getOrElse(
        raw.groupBy("sh").agg(count(lit(1)).as("df")))
      .filter(col("df") > ShingleDfCap).select("sh")
    // left_anti keeps the hot-key list out of the big join's key space
    // (`cacheResult = false` for single-read consumers — caching a
    // corpus-sized frame read once is the r13 regression pattern, §5)
    val capped = raw.join(hot, Seq("sh"), "left_anti")
    if (cacheResult) capped.cache() else capped
  }

  /** The df-capped pairs+sizes scaffolding `(da, db, common, na, nb)` as a
    * shared snapshot ([[graft.core.Snapshots]]): every consumer of the
    * capped-pair frame — jaccard / containment / minhash-est / the dfcap recall
    * certificate — joins ONE per-corpus materialization, built from the raw
    * shingle snapshot the AllPairs ground truth shares, instead of each
    * re-running shingle→df-cap→self-join. Execution-only sharing: every
    * consumer's SQL oracle is unchanged and the frame content is deterministic
    * (groupBy counts + size joins), so the driver's hash compare is the
    * bit-identity proof. `dedup_simhash_prec` deliberately keeps the full
    * inline recompute, so the chain's from-raw-parquet cost stays separately
    * measured within every run. */
  private def sharedCappedPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val sh = sharedShingleIndex(s, d)
    Snapshots.parquet(s, d, "capped-pairs")(
      cappedPairsWithSizes(s, d,
        Some(cappedShingleIndex(s, d, shIn = Some(sh))))
        .repartition(col("da")))
  }

  private def cappedPairsWithSizes(s: org.apache.spark.sql.SparkSession,
      d: String,
      shcIn: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val sh = shcIn.getOrElse(cappedShingleIndex(s, d))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // distinct key names per side: relying on Spark's ambiguous-self-join
    // rewrite (a("sh") === b("sh") over one cached frame) emits a
    // trivially-true-equals WARN and is fragile against analyzer changes
    val a = sh.select(col("doc_id").as("da"), col("sh"))
    val b = sh.select(col("doc_id").as("db"), col("sh").as("shb"))
    a.join(b, col("sh") === col("shb") && col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("common"))
      .join(sizes.toDF("doc_id", "na"), col("da") === col("doc_id")).drop("doc_id")
      .join(sizes.toDF("doc_id", "nb"), col("db") === col("doc_id")).drop("doc_id")
  }

  /** N-gram Jaccard near-dup pairs via the inverted shingle index: join on
    * shingle → count common → |A∪B| from per-doc sizes. Linear in corpus
    * size + output pairs; never materializes the n² pair space. Shingles
    * above the document-frequency cap are dropped BEFORE the self-join so
    * no single join key can go quadratic at scale. */
  val dedupNgramJaccard = sql(
    "dedup_ngram_jaccard",
    s"""WITH $cappedPairsSqlCte
       |SELECT da, db, common,
       |       round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.8
       |ORDER BY da, db""".stripMargin) { (s, d) =>
    val jac = col("common") * lit(1.0) / (col("na") + col("nb") - col("common"))
    sharedCappedPairs(s, d)
      .filter(jac >= 0.8)
      .select(col("da"), col("db"), col("common"), round(jac, 4).as("jaccard"))
      .orderBy("da", "db")
  }

  /** CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) over the same capped
    * inverted shingle index as Jaccard. Containment catches the
    * doc-inside-doc case symmetric Jaccard structurally misses: a short
    * document fully quoted inside a much longer one has all its shingles
    * common, so containment = 1.0 while Jaccard = |A|/|B| ≈ 0 — exactly the
    * quotation/boilerplate-wrapper duplicates an LLM corpus is full of.
    * Same scale shape as `dedup_ngram_jaccard`: linear in the shingle index
    * plus output pairs, hot shingles df-capped before the self-join. */
  val dedupContainment = sql(
    "dedup_containment",
    s"""WITH $cappedPairsSqlCte
       |SELECT da, db, common,
       |       round(common * 1.0 / least(sa.n, sb.n), 4) AS containment
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE common * 1.0 / least(sa.n, sb.n) >= 0.9
       |ORDER BY da, db""".stripMargin) { (s, d) =>
    val cont = col("common") * lit(1.0) / least(col("na"), col("nb"))
    sharedCappedPairs(s, d)
      .filter(cont >= 0.9)
      .select(col("da"), col("db"), col("common"), round(cont, 4).as("containment"))
      .orderBy("da", "db")
  }

  /** ALL-PAIRS EXACT τ-Jaccard similarity join via PREFIX FILTERING
    * (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07;
    * Xiao et al. PPJoin) — the LOSSLESS counterpart of
    * [[dedupNgramJaccard]]: that query trades exactness for scale by
    * df-capping the shingle universe (a pair whose every shared shingle is
    * boilerplate silently vanishes); this one returns EVERY pair with true
    * full-universe Jaccard ≥ 0.8, and gets its scale bound from the prefix
    * filter instead of a lossy cap.
    *
    * The filter: order all shingles by ascending document frequency
    * (rarest first; ties on the shingle key — any total order is correct,
    * so Spark breaking ties on the md5 digest while the oracle uses the
    * raw trigram string cannot fork the RESULT, only the intermediate
    * candidate set). A doc with n shingles indexes only its first
    * p = n − ⌈τ·n⌉ + 1 (computed as exact integer `(4n+4) div 5` — float
    * τ·n is a cross-engine ceil hazard: 0.8·5 rounds above 4.0 in
    * binary64). Prefix-filtering principle: two sets with J ≥ τ that also
    * pass the length filter τ·max ≤ min MUST share a prefix element, so
    * the prefix-to-prefix equi-join loses nothing. Candidates are then
    * VERIFIED against the full index and kept by the EXACT integer
    * predicate 5·common ≥ 4·(na+nb−common) — no float threshold anywhere.
    *
    * Scale shape: the self-join runs over ~n/5 of the index, and its keys
    * are the RAREST shingles of each doc — the boilerplate trigram that
    * forces [[dedupNgramJaccard]]'s df-cap sorts LAST and lands in almost
    * no prefix, so hot join keys are structurally suppressed rather than
    * dropped. Ranking is one doc-partitioned window (bounded by document
    * length); verification joins the small candidate list back to the full
    * index — linear in candidates × doc size. TextOpsSpec proves the
    * output identical to the brute-force full-universe pair join. */
  /** SQL CTE chain (appended after [[shinglesSql]]) ending in
    * `apairs(da, db, common, un)` — the EXACT τ=0.8 Jaccard pair set from
    * the AllPairs prefix filter, shared by `dedup_allpairs` and the
    * `dedup_minhash_recall` certificate so the ground truth cannot fork. */
  private val allpairsFromShSqlCte: String =
    """apdf AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
      |apsizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pref AS (SELECT doc_id, sh, n FROM (
      |           SELECT s.doc_id, s.sh, z.n,
      |                  row_number() OVER (PARTITION BY s.doc_id
      |                                     ORDER BY apdf.df, s.sh) AS rk
      |           FROM sh s JOIN apdf USING (sh) JOIN apsizes z USING (doc_id))
      |         WHERE rk <= n - ((4 * n + 4) // 5) + 1),
      |apcand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
      |                  a.n AS na, b.n AS nb
      |           FROM pref a JOIN pref b
      |             ON a.sh = b.sh AND a.doc_id < b.doc_id
      |            AND 5 * least(a.n, b.n) >= 4 * greatest(a.n, b.n)),
      |verified AS (SELECT c.da, c.db, c.na, c.nb, count(*) AS common
      |             FROM apcand c
      |             JOIN sh x ON x.doc_id = c.da
      |             JOIN sh y ON y.doc_id = c.db AND y.sh = x.sh
      |             GROUP BY 1, 2, 3, 4),
      |apairs AS (SELECT da, db, common, na + nb - common AS un
      |           FROM verified
      |           WHERE 5 * common >= 4 * (na + nb - common))""".stripMargin

  val dedupAllpairs = sql(
    "dedup_allpairs",
    s"""WITH $shinglesSql,
       |$allpairsFromShSqlCte
       |SELECT da, db, common,
       |       round(common * 1.0 / un, 4) AS jaccard
       |FROM apairs
       |ORDER BY da, db""".stripMargin) { (s, d) =>
    allpairsDf(s, d)
      .select(col("da"), col("db"), col("common"),
        round(col("common") * lit(1.0) / col("un"), 4).as("jaccard"))
      .orderBy("da", "db")
  }

  /** DF-CAP RECALL CERTIFICATE (round-11 VERDICT #7) — the hot-shingle
    * df-cap bounds [[dedupNgramJaccard]]'s pair join (no single join key
    * can go quadratic), but it silently forfeits any true near-dup pair
    * whose ONLY shared shingles are hot — the same asserted-not-measured
    * trade the kNN sharding and LSH banding carried before their recall
    * certificates. This query PRICES it: the exact full-universe τ=0.8
    * pair set (the AllPairs prefix-filter chain — `dedup_allpairs`'s own
    * ground truth, paid once here off the steady-state path) joined
    * against the capped chain's ≥ 0.8 pairs. `n_capped` also exposes the
    * other face of the trade (capping can ADD pairs: dropping hot
    * shingles shared by neither side shrinks the union and can lift a
    * borderline Jaccard over the threshold). The shingle index and the
    * exact pair set are shared index state (one build per application and
    * corpus, `sharedExactPairs`) feeding both chains here and every other
    * recall certificate. */
  private val dfcapRecallOracleSql: String =
    s"""WITH $shinglesSql,
       |$allpairsFromShSqlCte,
       |$cappedPairsFromShSqlCte,
       |cp AS (SELECT da, db FROM pairs
       |       JOIN sizes sa ON sa.doc_id = da
       |       JOIN sizes sb ON sb.doc_id = db
       |       WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.8),
       |tot AS (SELECT count(*) AS n_exact FROM apairs),
       |ncp AS (SELECT count(*) AS n_capped FROM cp),
       |hit AS (SELECT count(*) AS n_hit FROM apairs JOIN cp USING (da, db))
       |SELECT n_exact, n_capped, n_hit,
       |       round(CAST(n_hit AS DOUBLE) / n_exact, 4) AS recall_at08
       |FROM tot, ncp, hit""".stripMargin

  /** Shared certificate tail: exact pair set x capped >=0.8 pair set ->
    * the one-row (n_exact, n_capped, n_hit, recall) readout. */
  private def dfcapRecallOver(exact: org.apache.spark.sql.DataFrame,
      capped: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    val ncp = capped.agg(count(lit(1)).as("n_capped"))
    val hit = exact.join(capped, Seq("da", "db"))
      .agg(count(lit(1)).as("n_hit"))
    tot.crossJoin(ncp).crossJoin(hit)
      .select(col("n_exact"), col("n_capped"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 4)
          .as("recall_at08"))
  }

  private def cappedPairsAt08(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val jac = col("common") * lit(1.0) / (col("na") + col("nb") - col("common"))
    sharedCappedPairs(s, d).filter(jac >= 0.8).select("da", "db")
  }

  val dedupDfcapRecall = sql(
    "dedup_dfcap_recall", dfcapRecallOracleSql) { (s, d) =>
    // r14 (r13 verdict #5): BOTH sides are shared index state — the exact
    // AllPairs ground truth (sharedExactPairs) and the capped candidate
    // frame (sharedCappedPairs), each built once per application+corpus by
    // whichever consumer runs first; this certificate is the grading joins.
    val (_, exact) = sharedExactPairs(s, d)
    dfcapRecallOver(exact, cappedPairsAt08(s, d))
  }

  /** Alias of `dedup_dfcap_recall`: the same body and oracle under the twin name. */
  val dedupDfcapRecallMaterialized =
    dedupDfcapRecall.copy(name = "dedup_dfcap_recall_materialized")

  /** Spark side of `apairs`: the exact τ=0.8 pair set (da, db, common, un). */
  private def allpairsDf(s: org.apache.spark.sql.SparkSession, d: String) =
    allpairsOver(shingles(s, d))

  /** The exact AllPairs GROUND TRUTH as shared snapshots
    * ([[graft.core.Snapshots]]): the shingle inverted index and the
    * verified τ=0.8 pair set are built ONCE and read by every recall
    * certificate — minhash, simhash and df-cap all grade against the SAME
    * `apairs` frame, exactly the deployment shape their `_materialized`
    * twins declare (one ground-truth build per corpus snapshot, every
    * certificate a parquet read). Returns (shingle snapshot, exact pairs
    * snapshot); the SQL oracle is unchanged — this shares execution, not
    * semantics, and the driver's hash compare is the bit-identity proof. */
  private def sharedExactPairs(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val sh = sharedShingleIndex(s, d)
    val exact = Snapshots.parquet(s, d, "allpairs-exact")(
      allpairsOver(sh).select("da", "db").repartition(col("da")))
    (sh, exact)
  }

  /** The raw shingle inverted index `(doc_id, sh)` as a shared snapshot —
    * ONE explode over the corpus, read by the AllPairs ground truth and
    * the capped-pairs scaffolding alike. */
  private def sharedShingleIndex(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Snapshots.parquet(s, d, "shingle-index")(
      shingles(s, d).repartition(col("doc_id")))

  /** The AllPairs chain over ANY (doc_id, sh) inverted index — the
    * production path computes the index inline; the `_materialized`
    * certificate twin reads the parquet snapshot. */
  private def allpairsOver(sh: org.apache.spark.sql.DataFrame,
      dfIn: Option[org.apache.spark.sql.DataFrame] = None) = {
    import org.apache.spark.sql.expressions.Window
    val shb = sh.cache() // df count, ranking, 2 verify sides
    val dff = dfIn.getOrElse(shb.groupBy("sh").agg(count(lit(1)).as("df")))
    // per-doc set size as a COUNT WINDOW sharing the ranking window's
    // hash(doc_id) exchange (r13, guide §2.4): the separate `sizes`
    // aggregate + join cost one more full-index exchange for the same
    // number — the inner df join preserves row count, so count over the
    // doc partition ≡ the old groupBy(doc_id) count exactly.
    val wDoc = Window.partitionBy("doc_id")
    val pref = shb.join(dff, "sh")
      .withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("rk", row_number().over(
        wDoc.orderBy(col("df"), col("sh"))))
      .filter(col("rk") <= col("n") - expr("(4 * n + 4) div 5") + 1)
      .select(col("doc_id"), col("sh"), col("n"))
    val a = pref.select(col("doc_id").as("da"), col("sh"), col("n").as("na"))
    val b = pref.select(col("doc_id").as("db"), col("sh").as("shb"), col("n").as("nb"))
    val cand = a.join(b, col("sh") === col("shb") && col("da") < col("db")
        && lit(5) * least(col("na"), col("nb"))
           >= lit(4) * greatest(col("na"), col("nb")))
      .select("da", "db", "na", "nb").distinct()
    val common = cand
      .join(shb.select(col("doc_id").as("da"), col("sh")), "da")
      .join(shb.select(col("doc_id").as("db"), col("sh")), Seq("db", "sh"))
      .groupBy("da", "db", "na", "nb").agg(count(lit(1)).as("common"))
    common
      .filter(lit(5) * col("common") >= lit(4) * (col("na") + col("nb") - col("common")))
      .select(col("da"), col("db"), col("common"),
        (col("na") + col("nb") - col("common")).as("un"))
  }

  private val NumHashes = 8
  private val BandSize = 2 // 4 bands of 2 → catches jaccard ≳ 0.8

  /** The ONE definition of the 8-window signature aggregation — SQL
    * column list and Spark agg, consumed by both the signature query and
    * the pairs/cluster family (they cannot fork). */
  private val minhashSigSqlCols: String = (0 until NumHashes)
    .map(j => s"min(substr(md5(sh), ${4 * j + 1}, 4)) AS mh$j").mkString(",\n       ")

  /** The ONE Spark-side definition of the 8-window signature aggregation,
    * over ANY (doc_id, sh) index — the production signatures run it over
    * the full shingle set, the estimator certificate over the capped one.
    * `sh` IS the shingle's md5 digest, so the hex the windows slice is
    * `lower(hex(sh))` — byte-identical to the oracle's `md5(shingle)`. */
  private def sigOver(idx: org.apache.spark.sql.DataFrame) =
    idx.withColumn("h", lower(hex(col("sh"))))
      .groupBy("doc_id")
      .agg(
        min(substring(col("h"), 1, 4)).as("mh0"),
        (1 until NumHashes).map(j =>
          min(substring(col("h"), 4 * j + 1, 4)).as(s"mh$j")): _*)

  /** Spark side of `sig(doc_id, mh0..mh7)` — computed PER ROW by the
    * native [[graft.functions.MinhashSigs]] expression (one loop over the
    * doc's digest array), not by explode + groupBy: the signature stage is
    * a narrow map with zero shuffle, and the first exchange in the LSH
    * chain is the band-bucket join that genuinely needs co-location.
    * MinhashSigSpec proves this frame bit-identical to the groupBy twin
    * [[sigOver]] (which remains the definition the estimator certificate
    * runs over its CAPPED index). Docs with no shingles (< 3 tokens) have
    * an empty digest array → filtered, matching the groupBy twin where
    * they simply produce no rows. */
  private[graft] def minhashSig(s: org.apache.spark.sql.SparkSession, d: String) = {
    val ms = graft.functions.MinhashSigs.minhash_sigs(
      graft.functions.ShingleMd5s.shingle_md5s(split(col("text"), " "), 3),
      NumHashes)
    Tables.documents(s, d)
      .select(col("doc_id"), ms.as("ms"))
      .filter(size(col("ms")) === NumHashes)
      .select(col("doc_id") +:
        (0 until NumHashes).map(j => col("ms").getItem(j).as(s"mh$j")): _*)
  }

  /** The groupBy twin over the full index — kept private for
    * MinhashSigSpec's bit-identity proof against [[minhashSig]]. */
  private[graft] def minhashSigViaGroupBy(
      s: org.apache.spark.sql.SparkSession, d: String) =
    sigOver(shingles(s, d))

  /** MinHash signatures: one md5 per shingle, sliced into 8 disjoint 4-hex
    * (16-bit) windows — md5 bits are independent, so the windows act as 8
    * independent hash permutations at 1/8 the hashing cost. mh_j is the
    * lexicographic min of window j over the doc's shingle set; bands are
    * md5 over consecutive signature pairs. */
  val dedupMinhashSig = sql(
    "dedup_minhash_sig", {
      val bands = (0 until NumHashes / BandSize)
        .map(b => s"md5(mh${2 * b} || mh${2 * b + 1}) AS band$b").mkString(", ")
      s"""WITH $shinglesSql,
         |sig AS (SELECT doc_id, $minhashSigSqlCols FROM sh GROUP BY doc_id)
         |SELECT doc_id, $bands FROM sig ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    val bandCols = (0 until NumHashes / BandSize).map(b =>
      md5(concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))).as(s"band$b"))
    minhashSig(s, d).select(col("doc_id") +: bandCols: _*).orderBy("doc_id")
  }

  /** LSH bucket-size cap: a band bucket with B members yields B(B−1)/2
    * candidate pairs — a mega-cluster of near-identical documents (the
    * boilerplate page repeated millions of times at 100 TB) turns one
    * bucket quadratic exactly like a hot shingle. Buckets above this size
    * emit STAR edges (min-doc hub ↔ each member) instead: linear in the
    * bucket, connectivity preserved for clustering, and verifying C(B,2)
    * pairs inside a mega-bucket is precisely the work one must not do —
    * transitivity through the cluster stage covers it. */
  val BandBucketCap = 100

  /** SQL CTE chain ending in `mp(da, db)` — the distinct MinHash-LSH
    * candidate pairs with the bucket-size cap (shared by the pair query
    * and the cluster/split queries). */
  /** The band-pair chain WITHOUT the leading shingle CTEs — for composing
    * with another chain that already populated `sh` (the recall
    * certificate). */
  private val minhashPairsFromShSqlCte: String = {
    val bandRows = (0 until NumHashes / BandSize)
      .map(b => s"SELECT doc_id, $b AS band_idx, md5(mh${2 * b} || mh${2 * b + 1}) AS v FROM sig")
      .mkString("\n  UNION ALL ")
    s"""sig AS (SELECT doc_id, $minhashSigSqlCols FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandRows
       |),
       |bstat AS (SELECT band_idx, v, count(*) AS bn, min(doc_id) AS hub
       |          FROM bands GROUP BY band_idx, v),
       |mp AS (SELECT DISTINCT da, db FROM (
       |  SELECT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.v = b.v AND a.doc_id < b.doc_id
       |  JOIN bstat s ON s.band_idx = a.band_idx AND s.v = a.v
       |  WHERE s.bn <= $BandBucketCap
       |  UNION ALL
       |  SELECT s.hub AS da, c.doc_id AS db
       |  FROM bands c JOIN bstat s ON s.band_idx = c.band_idx AND s.v = c.v
       |  WHERE s.bn > $BandBucketCap AND c.doc_id <> s.hub
       |))""".stripMargin
  }

  private val minhashPairsSqlCte: String =
    s"$shinglesSql,\n$minhashPairsFromShSqlCte"

  /** MINHASH-LSH RECALL certificate — the missing half of the dedup
    * frontier's grading: `dedup_minhash_est` prices the ESTIMATOR and
    * `dedup_simhash_prec` the simhash decisions, but nothing measured what
    * share of the TRUE τ=0.8 near-dup pairs the banded LSH join actually
    * surfaces. Ground truth is the lossless AllPairs chain (`apairs` — the
    * same shared CTE as `dedup_allpairs`, full shingle universe, exact
    * integer threshold); candidates are the production band-bucket pair
    * set (`mp`, shared with the pairs/cluster family). Recall counts
    * DIRECT candidate hits — a true pair bridged only transitively through
    * a star-edge hub counts as missed here, because this certificate
    * grades the pair JOIN, not the cluster closure (which `dedup_clusters`
    * covers). The theoretical 4-bands-of-2 S-curve gives
    * p(candidate | J=0.8) = 1 − (1 − 0.8²)⁴ ≈ 0.983 — this query reports
    * the measured number an operator tunes bands against.
    *
    * Scale shape: both chains are the linear-in-corpus shapes they certify;
    * the final assembly is three 1-row aggregates cross-joined. */
  val dedupMinhashRecall = sql(
    "dedup_minhash_recall",
    // mp's chain re-states sig/bands over the SAME sh frame the allpairs
    // chain populated (shinglesSql appears once)
    {
      s"""WITH $shinglesSql,
         |$allpairsFromShSqlCte,
         |$minhashPairsFromShSqlCte,
         |caught AS (SELECT count(*) AS n_caught
         |           FROM apairs a JOIN mp USING (da, db)),
         |tot AS (SELECT count(*) AS n_true FROM apairs),
         |nc AS (SELECT count(*) AS n_candidates FROM mp)
         |SELECT CAST(n_true AS BIGINT) AS n_true,
         |       CAST(n_candidates AS BIGINT) AS n_candidates,
         |       CAST(n_caught AS BIGINT) AS n_caught,
         |       round(n_caught * 1.0 / n_true, 4) AS recall
         |FROM tot CROSS JOIN nc CROSS JOIN caught""".stripMargin
    }) { (s, d) =>
    // r14 (r13 verdict #5): the exact ground truth is shared index state
    // across all recall certificates — one build per application+corpus
    val (_, exact) = sharedExactPairs(s, d)
    val mp = minhashBandPairs(s, d)
    val caught = exact.join(mp, Seq("da", "db"), "left_semi")
      .agg(count(lit(1)).as("n_caught"))
    val tot = exact.agg(count(lit(1)).as("n_true"))
    val nc = mp.agg(count(lit(1)).as("n_candidates"))
    tot.crossJoin(broadcast(nc)).crossJoin(broadcast(caught))
      .select(col("n_true"), col("n_candidates"), col("n_caught"),
        round(col("n_caught") * lit(1.0) / col("n_true"), 4).as("recall"))
  }

  /** Alias of `dedup_minhash_recall`: the same body and oracle under the twin name. */
  val dedupMinhashRecallMaterialized =
    dedupMinhashRecall.copy(name = "dedup_minhash_recall_materialized")

  /** Spark side of `mp(da, db)`: signatures → band explode → per-bucket
    * size stats → all-pairs for small buckets, star edges for oversized
    * ones → distinct pairs. `cap` defaults to [[BandBucketCap]]; the
    * forced-threshold equivalence spec lowers it to prove the star-edge
    * rewrite preserves cluster labels on the real corpus. */
  private[graft] def minhashBandPairs(s: org.apache.spark.sql.SparkSession,
      d: String, cap: Int = BandBucketCap) = {
    val sig = minhashSig(s, d)
    // unhex: the band value is only ever an equality key, so carry the
    // 16-byte binary digest through the shuffle instead of the 32-char hex
    // string — half the exchanged key width at corpus scale (the oracle is
    // unaffected: pairs depend on equality classes, not key encoding)
    val bands = sig.select(col("doc_id"),
      posexplode(array((0 until NumHashes / BandSize).map(b =>
        unhex(md5(concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))))): _*))
        .as(Seq("band_idx", "v")))
      .cache() // read three ways: stats, pair join sides, star membership
    val bstat = bands.groupBy("band_idx", "v")
      .agg(count(lit(1)).as("bn"), min("doc_id").as("hub"))
    val small = bstat.filter(col("bn") <= cap).select("band_idx", "v")
    // semi-filter BEFORE the self-join: a mega-bucket must never reach the
    // pair join at all (filtering its B² output after would be the explosion)
    val smallBands = bands.join(small, Seq("band_idx", "v"), "left_semi")
    val a = smallBands.select(col("doc_id").as("da"), col("band_idx"), col("v"))
    val b = smallBands.select(col("doc_id").as("db"), col("band_idx"), col("v"))
    val allPairs = a.join(b, Seq("band_idx", "v")).filter(col("da") < col("db"))
      .select("da", "db")
    val starPairs = bands
      .join(bstat.filter(col("bn") > cap), Seq("band_idx", "v"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("da"), col("doc_id").as("db"))
    allPairs.unionAll(starPairs).distinct()
  }

  /** MinHash-LSH candidate pairs: long-format (band_idx, band_val) → bucket
    * self-join → distinct pairs. The shuffle key is the band bucket — the
    * standard linear-scale LSH join. */
  /** CROSS-SOURCE DUPLICATION MATRIX: near-dup candidate pairs rolled up
    * by the (source, source) combination of their endpoints — the report
    * that shows WHICH crawls/dumps copy from each other (mirror sites,
    * re-hosted boilerplate), versus `corpus_dup_stats`' within-source
    * rates. Source pair is emitted order-normalized (lexicographically
    * smaller first) so A↔B duplication lands in one row regardless of
    * which doc got the smaller id.
    *
    * Scale shape: the pair graph is the SAME capped/banded LSH output as
    * `dedup_minhash_pairs` (linear in duplicates); two doc→source lookups
    * join on doc_id (AQE broadcasts the small side at test scale, stays
    * equi-shuffle at corpus scale), then a tiny groupBy on the source
    * pair. */
  val dedupCrossSource = sql(
    "dedup_cross_source",
    s"""WITH $minhashPairsSqlCte,
       |lab AS (SELECT m.da, m.db, a.source AS sa, b.source AS sb
       |        FROM mp m
       |        JOIN documents a ON a.doc_id = m.da
       |        JOIN documents b ON b.doc_id = m.db)
       |SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
       |       CAST(count(*) AS BIGINT) AS n_pairs
       |FROM lab GROUP BY 1, 2
       |ORDER BY n_pairs DESC, source_a, source_b""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select("doc_id", "source")
    minhashBandPairs(s, d)
      .join(src.toDF("doc_id", "sa"), col("da") === col("doc_id")).drop("doc_id")
      .join(src.toDF("doc_id", "sb"), col("db") === col("doc_id")).drop("doc_id")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("source_a"), col("source_b"))
  }

  /** FUZZY (MinHash) DECONTAMINATION — the near-duplicate complement of
    * `decontam_ngram`'s exact 8-gram overlap test: flag every TRAIN
    * document that is a NEAR-DUPLICATE of an eval (test-split) document,
    * the leak exact n-gram overlap misses when the benchmark copy was
    * lightly paraphrased, re-tokenized, or truncated. Candidates come
    * from a BIPARTITE band join — train band rows against eval band rows
    * on (band_idx, band_value), never a self-join — using the SAME
    * signature/band definition as the dedup family (one definition, the
    * chains cannot fork). Each candidate is then scored by signature
    * agreement (matching windows / 8, the `dedup_minhash_est` estimator)
    * and the best eval match per train doc is kept (ties on the smaller
    * eval id). `flagged` marks agreement ≥ 6/8 ≈ Jaccard 0.75.
    *
    * Scale shape: eval benchmark suites are tiny relative to a web-scale
    * train corpus, so the eval band index and eval signatures are
    * BROADCAST — the train side is scanned once per stage with no shuffle
    * (the exact dual of `decontam_bloom`'s broadcast bloom). Per-train-doc
    * candidates are bounded by 4 bands × the eval docs sharing each
    * bucket ≤ 4·|eval|, and the best-match window partitions on doc_id —
    * bounded frames everywhere. */
  /** SQL CTE chain ending in `spl(doc_id, split)` + `best(doc_id,
    * eval_doc_id, n_windows, rk)` — the fuzzy-decontamination verdict
    * chain, ONE definition for the per-doc query and its per-source
    * report. */
  private val decontamMinhashSqlCte: String = {
    val bandRows = (0 until NumHashes / BandSize)
      .map(b => s"SELECT doc_id, $b AS band_idx, md5(mh${2 * b} || mh${2 * b + 1}) AS v FROM sig")
      .mkString("\n  UNION ALL ")
    val agree = (0 until NumHashes)
      .map(j => s"CASE WHEN a.mh$j = e.mh$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$shinglesSql,
         |sig AS (SELECT doc_id, $minhashSigSqlCols FROM sh GROUP BY doc_id),
         |spl AS (SELECT doc_id,
         |               CASE WHEN ${Keys.hexBucketSql("doc_id")} < ${Keys.TrainThr} THEN 'train'
         |                    WHEN ${Keys.hexBucketSql("doc_id")} < ${Keys.ValThr} THEN 'val'
         |                    ELSE 'test' END AS split
         |        FROM documents),
         |bands AS (
         |  $bandRows
         |),
         |tb AS (SELECT b.doc_id, b.band_idx, b.v
         |       FROM bands b JOIN spl USING (doc_id) WHERE spl.split = 'train'),
         |eb AS (SELECT b.doc_id AS eval_doc_id, b.band_idx, b.v
         |       FROM bands b JOIN spl USING (doc_id) WHERE spl.split = 'test'),
         |cand AS (SELECT DISTINCT t.doc_id, e.eval_doc_id
         |         FROM tb t JOIN eb e ON t.band_idx = e.band_idx AND t.v = e.v),
         |scored AS (SELECT c.doc_id, c.eval_doc_id,
         |                  CAST($agree AS BIGINT) AS n_windows
         |           FROM cand c
         |           JOIN sig a ON a.doc_id = c.doc_id
         |           JOIN sig e ON e.doc_id = c.eval_doc_id),
         |best AS (SELECT doc_id, eval_doc_id, n_windows,
         |                row_number() OVER (PARTITION BY doc_id
         |                                   ORDER BY n_windows DESC, eval_doc_id) AS rk
         |         FROM scored)""".stripMargin
  }

  val decontamMinhash = sql(
    "decontam_minhash",
    s"""WITH $decontamMinhashSqlCte
       |SELECT doc_id, eval_doc_id, n_windows,
       |       round(n_windows / 8.0, 4) AS est_jaccard,
       |       n_windows >= 6 AS flagged
       |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val (_, best) = decontamMinhashFrames(s, d)
    best.filter(col("rk") === 1)
      .select(col("doc_id"), col("eval_doc_id"), col("n_windows"),
        round(col("n_windows") / 8.0, 4).as("est_jaccard"),
        (col("n_windows") >= 6).as("flagged"))
      .orderBy("doc_id")
  }

  /** Spark side of (`spl`, `best`). */
  private def decontamMinhashFrames(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val bucket = Keys.hexBucketCol(col("doc_id"))
    val spl = Tables.documents(s, d).select(col("doc_id"),
      when(bucket < Keys.TrainThr, "train")
        .when(bucket < Keys.ValThr, "val").otherwise("test").as("split"))
    // signatures computed ONCE, read four ways (train/eval bands,
    // train/eval verify sides)
    val sig = minhashSig(s, d).join(spl, "doc_id").cache()
    val bands = sig.select(col("doc_id"), col("split"),
      posexplode(array((0 until NumHashes / BandSize).map(b =>
        unhex(md5(concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))))): _*))
        .as(Seq("band_idx", "v")))
    val tb = bands.filter(col("split") === "train")
      .select("doc_id", "band_idx", "v")
    val eb = bands.filter(col("split") === "test")
      .select(col("doc_id").as("eval_doc_id"), col("band_idx"), col("v"))
    // the benchmark index is the broadcast side: no train-side shuffle
    val cand = tb.join(broadcast(eb), Seq("band_idx", "v"))
      .select("doc_id", "eval_doc_id").distinct()
    val evalSig = sig.filter(col("split") === "test").select(
      col("doc_id").as("eval_doc_id") +:
        (0 until NumHashes).map(j => col(s"mh$j").as(s"emh$j")): _*)
    val agree = (0 until NumHashes)
      .map(j => when(col(s"mh$j") === col(s"emh$j"), 1).otherwise(0))
      .reduce(_ + _)
    val scored = cand
      .join(sig, "doc_id")
      .join(broadcast(evalSig), "eval_doc_id")
      .select(col("doc_id"), col("eval_doc_id"),
        agree.cast("long").as("n_windows"))
    val best = scored
      .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("n_windows").desc, col("eval_doc_id"))))
    (spl, best)
  }

  /** Per-SOURCE fuzzy-contamination rollup — `decontam_report`'s twin for
    * the MinHash path: which crawls carry near-duplicates of the benchmark
    * and how concentrated (the review table that separates a scraped
    * benchmark mirror from incidental paraphrase overlap). Shares the
    * whole verdict chain with `decontam_minhash` (one definition); adds a
    * doc->source lookup and a tiny conditional aggregate. The denominator
    * is EVERY train doc (including those with no shingles or no band
    * match), so rates compare across sources honestly. */
  val decontamMinhashReport = sql(
    "decontam_minhash_report",
    s"""WITH $decontamMinhashSqlCte,
       |fl AS (SELECT doc_id FROM best WHERE rk = 1 AND n_windows >= 6)
       |SELECT d.source,
       |       CAST(count(*) AS BIGINT) AS n_train,
       |       CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_flagged,
       |       round(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
       |             / count(*), 4) AS rate
       |FROM spl p
       |JOIN documents d ON d.doc_id = p.doc_id
       |LEFT JOIN fl ON fl.doc_id = p.doc_id
       |WHERE p.split = 'train'
       |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, d) =>
    val (spl, best) = decontamMinhashFrames(s, d)
    val fl = best.filter(col("rk") === 1 && col("n_windows") >= 6)
      .select(col("doc_id"), lit(1).as("hit"))
    spl.filter(col("split") === "train").select("doc_id")
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
      .join(fl, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_train"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_flagged"),
        round(sum(coalesce(col("hit"), lit(0))) * lit(1.0) / count(lit(1)), 4)
          .as("rate"))
      .orderBy("source")
  }

  /** INCREMENTAL dedup — the shape a production ingestion actually runs:
    * an INCOMING shard (hash-split here: the split_assign eval buckets)
    * gated against the EXISTING corpus (the train buckets) without
    * re-clustering anything. Per incoming doc, in precedence order:
    * `dup_of_corpus` (shares an LSH band bucket with a corpus doc — the
    * incoming copy is dropped, corpus is immutable), else `dup_in_batch`
    * (a smaller-id incoming partner exists — one-pass keep-first greedy,
    * the standard incremental gate; full transitive clustering is
    * `dedup_clusters`' job, stated not duplicated), else `unique`.
    *
    * Scale shape: the SAME capped band-bucket edge set as the cluster
    * family (linear in duplicate volume), side labels ride a co-partitioned
    * doc_id equi-join, verdict joins are left joins against hit sets
    * bounded by the incoming shard. At 100 TB the corpus's band buckets
    * are MATERIALIZED once (the `dedup_labels_materialized` discipline)
    * and each incoming shard joins them — the per-query rebuild here is
    * the oracle-harness artifact. */
  /** The incremental gate's verdict logic over (band pair set, side
    * labels) — ONE definition for the recompute query and its
    * materialized twin, so the precedence rule cannot fork. */
  private def incrementalVerdicts(mp: org.apache.spark.sql.DataFrame,
      side: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val e2 = mp.select(col("da").as("a"), col("db").as("b"))
      .unionByName(mp.select(col("db").as("a"), col("da").as("b")))
    val edges = e2
      .join(side.select(col("doc_id").as("a"), col("in_corpus").as("a_corpus")), "a")
      .join(side.select(col("doc_id").as("b"), col("in_corpus").as("b_corpus")), "b")
      .filter(!col("a_corpus"))
    val chit = edges.filter(col("b_corpus")).select("a").distinct()
    val bhit = edges.filter(!col("b_corpus") && col("b") < col("a"))
      .select("a").distinct()
    side.filter(!col("in_corpus")).select("doc_id")
      .join(chit.select(col("a").as("doc_id"), lit(1).as("c")), Seq("doc_id"), "left")
      .join(bhit.select(col("a").as("doc_id"), lit(1).as("bq")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("c").isNotNull, "dup_of_corpus")
          .when(col("bq").isNotNull, "dup_in_batch")
          .otherwise("unique").as("verdict"))
      .orderBy("doc_id")
  }

  private def incrementalSide(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      (Keys.hexBucketCol(col("doc_id")) < Keys.TrainThr).as("in_corpus"))

  private val incrementalOracleSql: String =
    s"""WITH $minhashPairsSqlCte,
       |e2 AS (SELECT da AS a, db AS b FROM mp UNION ALL SELECT db, da FROM mp),
       |side AS (SELECT doc_id, (${Keys.hexBucketSql("doc_id")}) < ${Keys.TrainThr} AS in_corpus
       |         FROM documents),
       |inc AS (SELECT doc_id FROM side WHERE NOT in_corpus),
       |chit AS (SELECT DISTINCT e.a AS doc_id FROM e2 e
       |         JOIN side sa ON sa.doc_id = e.a AND NOT sa.in_corpus
       |         JOIN side sb ON sb.doc_id = e.b AND sb.in_corpus),
       |bhit AS (SELECT DISTINCT e.a AS doc_id FROM e2 e
       |         JOIN side sa ON sa.doc_id = e.a AND NOT sa.in_corpus
       |         JOIN side sb ON sb.doc_id = e.b AND NOT sb.in_corpus
       |         WHERE e.b < e.a)
       |SELECT i.doc_id,
       |       CASE WHEN c.doc_id IS NOT NULL THEN 'dup_of_corpus'
       |            WHEN b.doc_id IS NOT NULL THEN 'dup_in_batch'
       |            ELSE 'unique' END AS verdict
       |FROM inc i
       |LEFT JOIN chit c ON c.doc_id = i.doc_id
       |LEFT JOIN bhit b ON b.doc_id = i.doc_id
       |ORDER BY i.doc_id""".stripMargin

  val dedupIncremental = sql("dedup_incremental", incrementalOracleSql) {
    (s, d) =>
      // cached: the verdict logic reads the pair set twice (both union
      // directions) — un-cached, the whole shingle→MinHash→band chain ran
      // twice (r13, §2.4; plan showed zero ReusedExchange across the
      // union); the materialized twin already reads a parquet snapshot
      incrementalVerdicts(minhashBandPairs(s, d).cache(), incrementalSide(s, d))
  }

  /** The MATERIALIZED twin of `dedup_incremental` — the deployment shape
    * its scaladoc promises: the shingle→MinHash→band→bucket pair graph is
    * computed ONCE per corpus snapshot, written as parquet, and the
    * ingestion gate joins the snapshot (as does every other consumer of
    * the pair graph — the cluster family reads the same edges). Same
    * oracle SQL as the recompute twin, so the driver's hash compare is
    * the bit-identity proof. The per-query chain rebuild in
    * `dedup_incremental` is the oracle-harness artifact; THIS is what a
    * 100 TB shard-ingest actually runs. */
  val dedupIncrementalMaterialized = sql(
    "dedup_incremental_materialized", incrementalOracleSql) { (s, d) =>
    incrementalVerdicts(
      Snapshots.parquet(s, d, "band-pairs")(
        minhashBandPairs(s, d).repartition(col("da"))),
      incrementalSide(s, d))
  }

  /** QUALITY-DRIFT monitor — the distribution-shift check a pipeline runs
    * shard-over-shard: per source, the quality-score (0–3) distribution of
    * two cohorts (a deterministic 50/50 hash split here; in production,
    * yesterday's shard vs today's) compared by Pearson's chi-square
    * against the pooled expectation, with the df=3 95% cut (7.815).
    * On a hash split nothing SHOULD drift — the all-false column is the
    * null-calibration evidence; the spec plants a genuinely shifted
    * fixture to prove the statistic fires.
    *
    * Exactness: all counts are exact integers; chi2 is the only float —
    * identical arithmetic on identical ints on both engines, rounded 4 dp.
    * Scale shape: ONE conditional-aggregate pass over the quality frame
    * (source × 4 scores × 2 cohorts cells), no join wider than the
    * per-source cell frame, no window. */
  val corpusQualityDrift = sql(
    "corpus_quality_drift",
    s"""WITH ${Quality.metricsSqlCte},
       |q AS (SELECT doc_id, ${Quality.scoreSql} AS quality FROM m),
       |g AS (SELECT d.source, q.quality,
       |             (${Keys.hexBucketSql("d.doc_id")}) < 32768 AS coh_a
       |      FROM documents d JOIN q ON q.doc_id = d.doc_id),
       |cells AS (SELECT source, quality,
       |                 sum(CASE WHEN coh_a THEN 1 ELSE 0 END) AS na,
       |                 sum(CASE WHEN coh_a THEN 0 ELSE 1 END) AS nb
       |          FROM g GROUP BY source, quality),
       |tot AS (SELECT source, sum(na) AS ta, sum(nb) AS tb FROM cells GROUP BY source),
       |chi AS (SELECT c.source,
       |               CAST(t.ta AS BIGINT) AS n_a, CAST(t.tb AS BIGINT) AS n_b,
       |               sum(CASE WHEN (c.na + c.nb) > 0 AND t.ta > 0 AND t.tb > 0 THEN
       |                 (c.na - t.ta * (c.na + c.nb) * 1.0 / (t.ta + t.tb))
       |                 * (c.na - t.ta * (c.na + c.nb) * 1.0 / (t.ta + t.tb))
       |                 / (t.ta * (c.na + c.nb) * 1.0 / (t.ta + t.tb))
       |                 + (c.nb - t.tb * (c.na + c.nb) * 1.0 / (t.ta + t.tb))
       |                 * (c.nb - t.tb * (c.na + c.nb) * 1.0 / (t.ta + t.tb))
       |                 / (t.tb * (c.na + c.nb) * 1.0 / (t.ta + t.tb))
       |               ELSE 0 END) AS chi2
       |        FROM cells c JOIN tot t ON t.source = c.source
       |        GROUP BY c.source, t.ta, t.tb)
       |SELECT source, n_a, n_b, round(chi2, 4) AS chi2,
       |       chi2 > 7.815 AS drifted
       |FROM chi ORDER BY source""".stripMargin) { (s, d) =>
    val g = Quality.metrics(s, d).select("doc_id", "quality")
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
      .select(col("source"), col("quality"),
        (Keys.hexBucketCol(col("doc_id")) < 32768).as("coh_a"))
    val cells = g.groupBy("source", "quality")
      .agg(sum(when(col("coh_a"), 1L).otherwise(0L)).as("na"),
        sum(when(col("coh_a"), 0L).otherwise(1L)).as("nb"))
    val tot = cells.groupBy("source")
      .agg(sum("na").as("ta"), sum("nb").as("tb"))
    val e = col("ta") * (col("na") + col("nb")) * lit(1.0) / (col("ta") + col("tb"))
    val eB = col("tb") * (col("na") + col("nb")) * lit(1.0) / (col("ta") + col("tb"))
    val cell = when((col("na") + col("nb")) > 0 && col("ta") > 0 && col("tb") > 0,
      (col("na") - e) * (col("na") - e) / e +
        (col("nb") - eB) * (col("nb") - eB) / eB).otherwise(lit(0.0))
    cells.join(broadcast(tot), "source")
      .groupBy(col("source"), col("ta").cast("long").as("n_a"),
        col("tb").cast("long").as("n_b"))
      .agg(sum(cell).as("chi2raw"))
      .select(col("source"), col("n_a"), col("n_b"),
        round(col("chi2raw"), 4).as("chi2"),
        (col("chi2raw") > 7.815).as("drifted"))
      .orderBy("source")
  }

  val dedupMinhashPairs = sql(
    "dedup_minhash_pairs",
    s"""WITH $minhashPairsSqlCte
       |SELECT da, db FROM mp
       |ORDER BY da, db""".stripMargin) { (s, d) =>
    minhashBandPairs(s, d).orderBy("da", "db")
  }

  /** Near-dup CLUSTERS: connected components over the MinHash-LSH pair
    * graph, labeling every document with the minimum doc_id reachable via
    * near-dup edges (`cluster`) and a `keep` flag for the canonical member
    * — the "keep one per duplicate cluster" step every training-data dedup
    * pipeline ends with.
    *
    * Two execution paths chosen by pair-graph size (the LSH banding makes
    * pairs linear in the DUPLICATE volume, not the corpus): small graphs
    * take a driver union-find over one bounded collect of the pairs; big
    * graphs take distributed hash-min + pointer-jumping rounds
    * (`connectedComponentsDistributed`). Edge-less documents never
    * iterate on either path.
    * Oracle: DuckDB recursive CTE computing min reachable id. */
  /** DuckDB CTE chain computing `cc(doc_id, root)` = min reachable doc_id
    * over the near-dup graph (requires WITH RECURSIVE; shared by the
    * cluster and leakage-safe-split oracles). */
  private[operators] val clusterLabelsSqlCte: String =
    s"""$minhashPairsSqlCte,
       |edges AS (SELECT da AS u, db AS v FROM mp
       |          UNION ALL SELECT db, da FROM mp),
       |reach(doc_id, root) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.doc_id
       |),
       |cc AS (SELECT doc_id, min(root) AS root FROM reach GROUP BY doc_id)""".stripMargin

  /** Spark side of `cc`: every document's near-dup cluster label
    * (doc_id, cluster) over the MinHash-LSH pair graph.
    *
    * MATERIALIZATION NOTE (100 TB): six declared queries (`dedup_clusters`,
    * `dedup_clusters_multi`, `dedup_top_clusters`, `corpus_dup_stats`,
    * `corpus_curation_funnel`, `split_leakage_safe`) each rebuild this
    * shingle→MinHash→LSH-pair→label chain from raw text, because the
    * oracle contract requires every declared query to be self-contained.
    * A production pipeline computes `clusterLabels` ONCE per corpus
    * snapshot, writes it as a (doc_id, cluster) parquet table bucketed by
    * doc_id, and every downstream consumer joins that — the chain is the
    * dominant cost (~18 s of a 20 s query at sf0.1) and is identical
    * across consumers by construction, so materializing it divides the
    * family's cost by the number of consumers without changing one result
    * bit. The per-query recomputation here is an oracle-harness artifact,
    * not the recommended deployment shape — `dedup_labels_materialized`
    * demonstrates the snapshot path and oracle-proves it bit-identical. */
  private[operators] def clusterLabels(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    labelsFromPairs(Tables.documents(s, d).select(col("doc_id")),
      minhashBandPairs(s, d))

  /** Connected-component labels for `docs` over an arbitrary undirected
    * pair graph `mpIn(da, db)` — the edge source is pluggable (MinHash,
    * SimHash, embedding-cosine, or any union of them). Two execution paths
    * chosen by pair-graph size; see `dedupClusters`. */
  private[graft] def labelsFromPairs(docs: org.apache.spark.sql.DataFrame,
      mpIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val mp = mpIn.cache()
    val nEdges = mp.count()
    val labeled =
      if (nEdges <= SmallGraphEdgeLimit) {
        // FAST PATH: the pair graph is a bounded driver-side structure
        // (tens of MB transient at the 1M-edge cap — boxed long pairs, not
        // the raw 16 MB of primitives). Union-find with min-root + path
        // compression beats dragging Spark's per-job overhead through
        // diameter rounds. The collect is NOT a corpus collect — only the
        // near-dup PAIRS, whose count the LSH banding made linear-in-dups.
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        mp.collect().foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra != rb) { // attach larger root under smaller → min-root
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val lookup = parent.keys.toSeq.map(v => (v, find(v)))
        val sp = docs.sparkSession
        import sp.implicits._
        docs.join(broadcast(lookup.toDF("doc_id", "cl")), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cl"), col("doc_id")).as("cluster"))
      } else {
        // AT-SCALE PATH: distributed hash-min + pointer-jumping rounds.
        connectedComponentsDistributed(docs, mp)
      }
    mp.unpersist()
    labeled
  }

  val dedupClusters = sql(
    "dedup_clusters",
    s"""WITH RECURSIVE $clusterLabelsSqlCte
       |SELECT doc_id, root AS cluster, root = doc_id AS keep
       |FROM cc ORDER BY doc_id""".stripMargin) { (s, d) =>
    clusterLabels(s, d)
      .select(col("doc_id"), col("cluster"),
        (col("cluster") === col("doc_id")).as("keep"))
      .orderBy("doc_id")
  }

  /** QUALITY-DRIVEN SURVIVORSHIP — the MDM "golden record" rule applied to
    * near-dup clusters: `dedup_clusters` keeps the min-id member (a
    * deterministic but arbitrary canonical); a production curation keeps
    * the BEST member — here the highest shared-`Quality` score, ties on
    * the smaller doc_id so the rule degrades to the id rule exactly when
    * quality cannot distinguish. Same cluster labels (shared CTE), so the
    * two keep policies are directly comparable row-for-row.
    *
    * Scale shape: deliberately WINDOW-FREE — a per-cluster rank window
    * would put a mega-cluster's full membership through one partition, so
    * the argmax is two partial-aggregable aggregates (max quality per
    * cluster, then min doc_id among the maximal members) and an equi-join
    * back. Quality is one narrow map over documents. */
  val dedupCanonicalQuality = sql(
    "dedup_canonical_quality",
    s"""WITH RECURSIVE $clusterLabelsSqlCte,
       |${Quality.metricsSqlCte},
       |q AS (SELECT doc_id, ${Quality.scoreSql} AS quality FROM m),
       |j AS (SELECT c.doc_id, c.root AS cluster, q.quality
       |      FROM cc c JOIN q USING (doc_id)),
       |mq AS (SELECT cluster, max(quality) AS mq FROM j GROUP BY cluster),
       |keepd AS (SELECT j.cluster, min(j.doc_id) AS keep_id
       |          FROM j JOIN mq ON mq.cluster = j.cluster AND j.quality = mq.mq
       |          GROUP BY j.cluster)
       |SELECT j.doc_id, j.cluster, j.quality,
       |       j.doc_id = k.keep_id AS keep
       |FROM j JOIN keepd k ON k.cluster = j.cluster
       |ORDER BY j.doc_id""".stripMargin) { (s, d) =>
    val q = Quality.metrics(s, d).select(col("doc_id"), col("quality"))
    val j = clusterLabels(s, d).join(q, "doc_id")
    val mq = j.groupBy("cluster").agg(max("quality").as("mq"))
    val keepd = j.join(mq, "cluster")
      .filter(col("quality") === col("mq"))
      .groupBy("cluster").agg(min("doc_id").as("keep_id"))
    j.join(keepd, "cluster")
      .select(col("doc_id"), col("cluster"), col("quality"),
        (col("doc_id") === col("keep_id")).as("keep"))
      .orderBy("doc_id")
  }

  /** Pair graphs up to this many edges are clustered by driver union-find
    * (one bounded collect of the PAIRS, never the corpus); above it, the
    * distributed rounds run.
    *
    * Evidence, 4 cores, one localCheckpointed `minhashBandPairs` graph per
    * ScaleProbe-amplified sf0.1 corpus, median of 5 alternating runs,
    * union-find vs `connectedComponentsDistributed` (equal labels):
    * x1 775 edges 0.24 vs 2.88 s; x8 6 422 edges 0.30 vs 2.70 s; x32
    * 31 553 edges 0.36 vs 3.93 s. Union-find stays ~10x faster at every
    * scale this host reaches, so the 1 M crossover lies beyond them; the
    * constant bounds the driver's transient pair structure (tens of MB). */
  val SmallGraphEdgeLimit = 1000000L

  /** Pointer jumping contracts chains exponentially, so 25 rounds cover a
    * graph diameter of ~2^25; the loop throws rather than returning
    * non-minimal labels if a graph somehow needs more. */
  val MaxCcRounds = 25

  /** Distributed connected components over undirected pairs `mp(da, db)`:
    * per round, hash-min over neighbors (join + partial-aggregable groupBy)
    * then a pointer-jumping relabel (label := label(label)) that contracts
    * chains exponentially → O(log diameter) rounds, each linear in |edges|.
    * Only pair-graph vertices iterate; edge-less docs (the overwhelming
    * majority of any corpus) are attached by one final anti-join.
    *
    * LINEAGE DISCIPLINE: every round localCheckpoint(eager)s its frame,
    * truncating the logical plan to a materialized leaf. Without this the
    * self-join DOUBLES the analyzed plan tree every round (caching dedups
    * execution, not the tree), and by round ~4 the driver spends minutes
    * merely traversing/rendering plans — the classic iterative-DataFrame
    * failure mode. */
  private[graft] def connectedComponentsDistributed(
      docs: org.apache.spark.sql.DataFrame,
      mp: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val edges = mp.select(col("da").as("u"), col("db").as("v"))
      .unionAll(mp.select(col("db").as("u"), col("da").as("v")))
      .cache()
    val verts = edges.select(col("u").as("doc_id")).distinct() // read once
    var labels = verts.select(col("doc_id"), col("doc_id").as("cluster"))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < MaxCcRounds) {
      // hash-min via neighbor-min groupBy + left join + least() — NO Union:
      // Union's constraint rewrite rejects localCheckpoint leaves whose
      // carried constraints reference pre-checkpoint attributes (Spark 4.1
      // edge case); the join formulation has the same shuffle count
      val nbrMin = labels.as("l").join(edges.as("e"), col("l.doc_id") === col("e.u"))
        .groupBy(col("e.v").as("doc_id")).agg(min(col("l.cluster")).as("nmin"))
      val hashMin = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), col("nmin")).as("cluster")) // least() skips nulls
        .localCheckpoint(true) // self-joined below: materialize once, leaf plan
      val next = hashMin.as("a")
        .join(hashMin.select(col("doc_id").as("cid"), col("cluster").as("cc")).as("b"),
          col("a.cluster") === col("b.cid"), "left")
        .select(col("a.doc_id").as("doc_id"),
          coalesce(col("b.cc"), col("a.cluster")).as("cluster"))
        .localCheckpoint(true)
      changed = next.join(labels.withColumnRenamed("cluster", "prev"), "doc_id")
        .filter(col("cluster") =!= col("prev")).count()
      labels = next
      rounds += 1
    }
    edges.unpersist()
    // Never return silently-non-minimal labels: pointer jumping converges in
    // O(log diameter) rounds, so hitting the cap with labels still moving
    // means a pathological graph (or a bug) — fail loudly, don't mislabel.
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge after $MaxCcRounds rounds " +
          s"($changed labels still changing) — raise MaxCcRounds or inspect the graph")
    // edge-less docs keep their own id: one left join, no union/anti-join
    docs.join(labels.withColumnRenamed("cluster", "cl"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cl"), col("doc_id")).as("cluster"))
  }

  /** 60-bit signature from the first 15 md5 hex digits. WIDTH IS A SCALE
    * PARAMETER: block-LSH bucket sizes are ~corpus/2^blockBits, so a
    * narrow signature (e.g. 16 bits / 4-bit blocks = 16 bucket values) is
    * structurally quadratic at corpus scale no matter how the join is
    * written. 60 bits = 4 blocks × 15 bits (32768 values each) keeps
    * buckets bounded; 60 (not 64) keeps every value inside a signed
    * BIGINT on both engines. */
  private val SimhashBits = 60
  private val SimhashBlocks = 4
  private val BlockBits = SimhashBits / SimhashBlocks // 15
  private val BlockMask = (1L << BlockBits) - 1

  /** Shared SQL CTE chain ending in `<p>sig(doc_id, simhash)`. All bit math
    * is integer shifts/masks — exact on both engines (no double division).
    * CTE names take a prefix so the chain can coexist with the MinHash
    * chain (which also names a `sig`) inside one WITH clause. */
  private def simhashSigSqlWith(p: String): String = {
    val v60 = (1 to 15)
      .map(i => s"(position(substr(md5(tok), $i, 1) IN '0123456789abcdef') - 1) * ${1L << (4 * (15 - i))}")
      .mkString("\n    + ")
    val sums = (0 until SimhashBits)
      .map(j => s"sum(CASE WHEN (v60 >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n         ")
    val bits = (0 until SimhashBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE CAST(0 AS BIGINT) END)").mkString("\n       + ")
    s"""${p}toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |${p}vals AS (SELECT doc_id,
       |      $v60 AS v60
       |  FROM ${p}toks),
       |${p}sums AS (SELECT doc_id,
       |         $sums
       |         FROM ${p}vals GROUP BY doc_id),
       |${p}sig AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM ${p}sums)""".stripMargin
  }
  private val simhashSigSql: String = simhashSigSqlWith("")

  /** The ONE definition of the SimHash block-LSH candidate-pair join — a
    * prefixable CTE chain ending in `<p>pairs(da, sa, db, sb)` already
    * filtered to Hamming distance <= 1 (consumed by the pair query and the
    * multi-signal cluster oracle; the join shape cannot fork). */
  private def simhashPairsSqlWith(p: String): String = {
    val blockRows = (0 until SimhashBlocks)
      .map(b => s"SELECT doc_id, simhash, $b AS bi, (simhash >> ${BlockBits * b}) & $BlockMask AS bv FROM ${p}sig")
      .mkString("\n  UNION ALL ")
    s"""${simhashSigSqlWith(p)},
       |${p}blocks AS (
       |  $blockRows
       |),
       |${p}pairs AS (SELECT DISTINCT a.doc_id AS da, a.simhash AS sa,
       |                              b.doc_id AS db, b.simhash AS sb
       |              FROM ${p}blocks a JOIN ${p}blocks b
       |                ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
       |              WHERE bit_count(xor(a.simhash, b.simhash)) <= 1)""".stripMargin
  }

  /** Spark side of `sig(doc_id, simhash)`: one native `simhash_agg`
    * aggregate (graft.functions.SimhashAgg) instead of 60 sum(CASE)
    * columns — identical exact integer math, but a tight primitive buffer
    * loop instead of a giant codegen unit that pays seconds of Janino
    * compile on every cache eviction. */
  private def simhashSig(s: org.apache.spark.sql.SparkSession, d: String) = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    // v60 = integer value of the first 15 md5 hex digits: one md5 + one
    // base conversion (the oracle's 15-term position() arithmetic computes
    // the same value; a literal Spark mirror of it compiles a huge codegen
    // unit for no benefit)
    val v60 = conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
    toks.select(col("doc_id"), v60.as("v60"))
      .groupBy("doc_id")
      .agg(graft.functions.SimhashAgg.simhash_agg(col("v60"), SimhashBits)
        .as("simhash"))
  }

  /** SimHash (60-bit): per-token hash bits from the first 15 md5 hex
    * digits; signature bit j is the sign of Σ_tokens (2·bit_j − 1). The
    * hex→int and bit arithmetic uses only position/substr/shift/mask so
    * the identical formula runs exactly on both engines. */
  val dedupSimhash = sql(
    "dedup_simhash",
    s"""WITH $simhashSigSql
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin) { (s, d) =>
    simhashSig(s, d).orderBy("doc_id")
  }

  /** SimHash near-dup pairs via Hamming-LSH blocks: the 60-bit signature is
    * split into 4 blocks of 15 bits; by pigeonhole, any pair at Hamming
    * distance <= 3 shares at least one identical block, so joining on
    * (block_idx, block_val) finds ALL pairs at distance <= 1 (the emitted
    * threshold) without the n² pair space — and with 32768 values per
    * block the buckets stay bounded at corpus scale.
    * Verification uses the native codegen'd `hamming_distance` Catalyst
    * expression (graft.functions.HammingDistance) — not a Scala UDF. */
  val dedupSimhashPairs = sql(
    "dedup_simhash_pairs",
    s"""WITH ${simhashPairsSqlWith("")}
       |SELECT da, db,
       |       bit_count(xor(sa, sb)) AS dist
       |FROM pairs
       |ORDER BY da, db""".stripMargin) { (s, d) =>
    simhashPairsDf(s, d).orderBy("da", "db")
  }

  /** Spark side of `pairs`: (da, db, dist) at Hamming ≤ 1, distinct. */
  private def simhashPairsDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    import graft.functions.HammingDistance.hamming_distance
    val sig = simhashSig(s, d)
    val blocks = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SimhashBlocks).map(b =>
        shiftright(col("simhash"), BlockBits * b).bitwiseAND(BlockMask)): _*))
        .as(Seq("bi", "bv")))
    val a = blocks.toDF("da", "sa", "bi", "bv")
    val b = blocks.toDF("db", "sb", "bi", "bv")
    val dist = hamming_distance(col("sa").cast("long"), col("sb").cast("long"))
    // filter on the cheap codegen'd distance BEFORE the distinct: the
    // distinct's shuffle then carries only survivors (candidate→survivor
    // ratio ~100:1 at scale), not every block-collision candidate
    a.join(b, Seq("bi", "bv")).filter(col("da") < col("db"))
      .filter(dist <= 1)
      .select(col("da"), col("db"), dist.as("dist")).distinct()
  }

  /** SIMHASH RECALL certificate — the last cell of the fingerprint
    * precision/recall grid: `dedup_simhash_prec` grades how many simhash
    * decisions are TRUE near-dups (precision); this grades how many TRUE
    * τ=0.8 Jaccard pairs (the lossless `apairs` AllPairs ground truth,
    * same shared CTE as `dedup_minhash_recall`) the ≤1-Hamming simhash
    * join actually surfaces. The number is EXPECTED to be well below the
    * banded-MinHash recall — a 60-bit signature at distance ≤ 1 is a
    * high-precision/low-recall design point, and PRICING that trade
    * (instead of asserting it) is what lets an operator choose the
    * fingerprint family per use case. Both chains are the linear shapes
    * they certify; assembly is three 1-row aggregates. */
  val dedupSimhashRecall = sql(
    "dedup_simhash_recall",
    s"""WITH $shinglesSql,
       |$allpairsFromShSqlCte,
       |${simhashPairsSqlWith("sx")},
       |caught AS (SELECT count(*) AS n_caught
       |           FROM apairs a JOIN sxpairs p ON p.da = a.da AND p.db = a.db),
       |tot AS (SELECT count(*) AS n_true FROM apairs),
       |nc AS (SELECT count(*) AS n_candidates FROM sxpairs)
       |SELECT CAST(n_true AS BIGINT) AS n_true,
       |       CAST(n_candidates AS BIGINT) AS n_candidates,
       |       CAST(n_caught AS BIGINT) AS n_caught,
       |       round(n_caught * 1.0 / n_true, 4) AS recall
       |FROM tot CROSS JOIN nc CROSS JOIN caught""".stripMargin) { (s, d) =>
    // r14 (r13 verdict #5): the exact ground truth is shared index state
    // across all recall certificates — one build per application+corpus
    val (_, exact) = sharedExactPairs(s, d)
    val sp = simhashPairsDf(s, d).select("da", "db")
    val caught = exact.join(sp, Seq("da", "db"), "left_semi")
      .agg(count(lit(1)).as("n_caught"))
    val tot = exact.agg(count(lit(1)).as("n_true"))
    val nc = sp.agg(count(lit(1)).as("n_candidates"))
    tot.crossJoin(broadcast(nc)).crossJoin(broadcast(caught))
      .select(col("n_true"), col("n_candidates"), col("n_caught"),
        round(col("n_caught") * lit(1.0) / col("n_true"), 4).as("recall"))
  }

  /** Alias of `dedup_simhash_recall`: the same body and oracle under the twin name. */
  val dedupSimhashRecallMaterialized =
    dedupSimhashRecall.copy(name = "dedup_simhash_recall_materialized")

  /** Unigram LM quality score — mean surprisal −ln p(tok) under the
    * corpus unigram MLE, the cheap language-model quality proxy used to
    * rank/filter documents before training (gibberish and boilerplate
    * score high/low respectively). Scale shape: vocabulary aggregate +
    * token⋈vocab equi-join (AQE broadcasts the vocab when it's small; at
    * 100 TB it's a standard shuffled equi-join), broadcast scalar token
    * total, partial-aggregable per-doc mean. Float policy: identical
    * `cnt/tot` rationals feed each engine's ln (agreement demonstrated by
    * the hash-green `text_tfidf`), and the per-doc mean is rounded 4 dp to
    * absorb accumulation order. */
  val textUnigramLogprob = sql(
    "text_unigram_logprob",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |              FROM documents),
      |vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
      |tot AS (SELECT count(*) AS tot FROM toks)
      |SELECT doc_id, count(*) AS n_tokens,
      |       round(sum(-ln(cnt * 1.0 / tot)) / count(*), 4) AS avg_surprisal
      |FROM toks JOIN vocab USING (tok) CROSS JOIN tot
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = toks.agg(count(lit(1)).as("tot"))
    toks.join(vocab, "tok")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(-log(col("cnt") * lit(1.0) / col("tot"))) / count(lit(1)), 4)
          .as("avg_surprisal"))
      .orderBy("doc_id")
  }

  /** TRAINED language classifier — multinomial naive Bayes over unigram
    * counts with add-1 smoothing, the closed-form counterpart of the
    * heuristic `text_langid` and the shape of every count-based quality/
    * domain classifier in a data pipeline (fastText-style linear scoring
    * over token counts): TRAINING is two partial-aggregable count
    * aggregates (per-(lang, token) and per-lang totals — no SGD, no
    * driver loop), SCORING is one equi-join + weighted log-sum per
    * (doc, lang). Emits the full 5-class log-posterior matrix plus the
    * per-doc rank (rn = 1 is the prediction).
    *
    * Scale shape: the class-conditional count table is (vocab × langs)
    * rows keyed (lang, tok) — an AQE-broadcastable dimension at test
    * scale, a standard shuffled equi-join at 100 TB; the doc side
    * tokenizes once, the per-(doc, lang) sum is partial-aggregable, and
    * the only window ranks 5 rows per doc. Float policy: both engines
    * ln identical `(ct+1)/(T+V)` rationals; the log-sum is rounded 4 dp
    * and the rank runs on the ROUNDED score with a lang tie-break, so the
    * prediction is bit-stable across engines (the `text_tfidf`
    * discipline). */
  /** SQL CTE chain ending in `sc(doc_id, lang, score)` — the naive-Bayes
    * log-posterior matrix, shared by `text_nb_langid` (which ranks and
    * emits it) and `text_langid_confusion` (which grades its argmax). */
  private val nbLangidSqlCte: String =
    """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |              FROM documents),
      |dcnt AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, lang FROM documents),
      |ct AS (SELECT d.lang, c.tok, sum(c.c) AS ct
      |       FROM dcnt c JOIN dl d ON c.doc_id = d.doc_id
      |       GROUP BY d.lang, c.tok),
      |tot AS (SELECT lang, sum(ct) AS t FROM ct GROUP BY lang),
      |v AS (SELECT count(DISTINCT tok) AS vsz FROM toks),
      |pri AS (SELECT lang, count(*) AS nd FROM documents GROUP BY lang),
      |n AS (SELECT count(*) AS ndocs FROM documents),
      |pairs AS (SELECT c.doc_id, p.lang, c.tok, c.c FROM dcnt c CROSS JOIN pri p),
      |ll AS (SELECT pr.doc_id, pr.lang,
      |              sum(pr.c * ln((coalesce(ct.ct, 0) + 1) * 1.0 / (tot.t + v.vsz))) AS tok_ll
      |       FROM pairs pr
      |       LEFT JOIN ct ON ct.lang = pr.lang AND ct.tok = pr.tok
      |       JOIN tot ON tot.lang = pr.lang
      |       CROSS JOIN v
      |       GROUP BY pr.doc_id, pr.lang),
      |sc AS (SELECT l.doc_id, l.lang,
      |              round(ln(pri.nd * 1.0 / n.ndocs) + l.tok_ll, 4) AS score
      |       FROM ll l JOIN pri ON pri.lang = l.lang CROSS JOIN n)""".stripMargin

  /** Spark side of `sc`: (doc_id, lang, score) — unranked. */
  private def nbLangidScores(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d)
    // FIT in one token pass: `lang` rides the explode, so the
    // class-conditional counts need no (doc → lang) join — count per
    // (lang, tok) over instances ≡ the oracle CTE's Σ dcnt.c (exact
    // integers). The r13 `dcnt.cache()` here was a measured REGRESSION
    // (text_nb_calibration 1.9 → 4.3 s clean: materializing the
    // corpus-wide (doc, tok, c) frame cost more than the recompute it
    // saved and broke pipelining); instead the SMALL model state `ct`
    // (vocab × |langs|) is checkpointed once, and its three consumers
    // (class totals, vocab size, the probe's left join) read the
    // materialized tiny frame (r14, §2.3/§5: checkpoint reduced frames,
    // never corpus-wide ones).
    val ct = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("ct"))
      .localCheckpoint(true)
    val tot = ct.groupBy("lang").agg(sum("ct").as("t"))
    // distinct tok over ct ≡ distinct tok over the raw stream (every
    // corpus token occurs under some lang) — no second explode for vocab
    val v = ct.agg(countDistinct("tok").as("vsz"))
    // PROBE: the (doc, tok) count frame has exactly ONE consumer now, so
    // it needs no materialization — one more token pass, total 2.
    val dcnt = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val pri = docs.groupBy("lang").agg(count(lit(1)).as("nd"))
    val n = docs.agg(count(lit(1)).as("ndocs"))
    val ll = dcnt.crossJoin(broadcast(pri.select("lang")))
      .join(ct, Seq("lang", "tok"), "left")
      .join(broadcast(tot), "lang")
      .crossJoin(broadcast(v))
      .groupBy("doc_id", "lang")
      .agg(sum(col("c") * log((coalesce(col("ct"), lit(0L)) + 1) * lit(1.0)
        / (col("t") + col("vsz")))).as("tok_ll"))
    ll.join(broadcast(pri), "lang")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("lang"),
        round(log(col("nd") * lit(1.0) / col("ndocs")) + col("tok_ll"), 4)
          .as("score"))
  }

  val textNbLangid = sql(
    "text_nb_langid",
    s"""WITH $nbLangidSqlCte
      |SELECT doc_id, lang, score,
      |       CAST(row_number() OVER (PARTITION BY doc_id
      |                               ORDER BY score DESC, lang) AS INT) AS rn
      |FROM sc ORDER BY doc_id, lang""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("lang"))
    nbLangidScores(s, d)
      .withColumn("rn", row_number().over(w).cast("int"))
      .orderBy("doc_id", "lang")
  }

  /** CLASSIFIER CONFUSION MATRIX — the trained NB classifier's argmax
    * graded against the corpus's true `lang` labels: per (true, predicted)
    * cell counts plus the cell's share of its true-label row. The standard
    * model-eval report, and the certificate discipline applied to a
    * CLASSIFIER: `text_nb_langid` publishes scores, this publishes how
    * often they are right, per class — the number an operator reads before
    * trusting auto-labels to route 100 TB of text.
    *
    * Scale shape: the score matrix is |docs|·|langs| rows; argmax is the
    * same 5-row-per-doc window `text_nb_langid` ranks with, then one
    * partial-aggregable groupBy on the (true, pred) cell and a window
    * over the ≤|langs|² cell frame for row shares. */
  val textLangidConfusion = sql(
    "text_langid_confusion",
    s"""WITH $nbLangidSqlCte,
      |rk AS (SELECT doc_id, lang AS pred_lang,
      |              row_number() OVER (PARTITION BY doc_id
      |                                 ORDER BY score DESC, lang) AS rn
      |       FROM sc),
      |pred AS (SELECT doc_id, pred_lang FROM rk WHERE rn = 1),
      |cells AS (SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n
      |          FROM documents d JOIN pred p ON p.doc_id = d.doc_id
      |          GROUP BY 1, 2)
      |SELECT true_lang, pred_lang, CAST(n AS BIGINT) AS n,
      |       round(n * 1.0 / sum(n) OVER (PARTITION BY true_lang), 4) AS row_share
      |FROM cells ORDER BY true_lang, pred_lang""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("lang"))
    val pred = nbLangidScores(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"))
    val cells = Tables.documents(s, d).select(col("doc_id"), col("lang").as("true_lang"))
      .join(pred, "doc_id")
      .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
    val wRow = Window.partitionBy("true_lang")
    cells.select(col("true_lang"), col("pred_lang"), col("n"),
        round(col("n") * lit(1.0) / sum("n").over(wRow), 4).as("row_share"))
      .orderBy("true_lang", "pred_lang")
  }

  /** CALIBRATION certificate (reliability table / ECE input) for the
    * trained NB classifier — the eval every scored-filter pipeline needs
    * before thresholding on a model's confidence: documents are bucketed
    * by the PREDICTED-class posterior (softmax of the 5 log-scores,
    * computed max-shifted so nothing underflows: conf = 1/Σ exp(sₗ−s_max))
    * into tenths, and each bin reports volume, mean confidence, empirical
    * accuracy against the true label, and the |conf − acc| gap — the
    * per-bin terms of Expected Calibration Error. An over-confident
    * classifier shows gap ≫ 0 in its top bins; a well-calibrated one
    * tracks the diagonal. Confidence rounds to 4 dp BEFORE binning so
    * both engines bin identical values; bin 10 (conf = 1.0 exactly)
    * folds into bin 9 — ≤10 output rows.
    *
    * Scale shape: shares the `sc` score chain with `text_nb_langid` (one
    * definition); per-doc softmax and argmax are a partial-aggregable
    * groupBy + the same 5-row-per-doc window the classifier family ranks
    * with; the bin rollup is ≤10 cells. */
  val textNbCalibration = sql(
    "text_nb_calibration",
    s"""WITH $nbLangidSqlCte,
       |smax AS (SELECT doc_id, max(score) AS mx FROM sc GROUP BY doc_id),
       |conf AS (SELECT s.doc_id,
       |                round(1.0 / sum(exp(s.score - m.mx)), 4) AS conf
       |         FROM sc s JOIN smax m USING (doc_id) GROUP BY s.doc_id),
       |rk AS (SELECT doc_id, lang AS pred_lang,
       |              row_number() OVER (PARTITION BY doc_id
       |                                 ORDER BY score DESC, lang) AS rn
       |       FROM sc),
       |j AS (SELECT CAST(round(c.conf * 10000, 0) AS BIGINT) AS conf4,
       |             least(CAST(floor(c.conf * 10) AS INT), 9) AS bin,
       |             CASE WHEN r.pred_lang = d.lang THEN 1 ELSE 0 END AS hit
       |      FROM conf c
       |      JOIN (SELECT doc_id, pred_lang FROM rk WHERE rn = 1) r
       |        ON r.doc_id = c.doc_id
       |      JOIN documents d ON d.doc_id = c.doc_id)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |       round(sum(conf4) / (10000.0 * count(*)), 4) AS mean_conf,
       |       round(avg(hit), 4) AS accuracy,
       |       round(abs(sum(conf4) / 10000.0 - sum(hit)) / count(*), 4) AS gap
       |FROM j GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // eager checkpoint, not cache: softmax + argmax + conf-join read the
    // score matrix 3 ways; it is a REDUCED frame (|docs|·|langs| narrow
    // rows — the `assign` discipline), so materializing it once is the
    // scale-safe shape (r14, §5)
    val sc = nbLangidScores(s, d).localCheckpoint(true)
    val smax = sc.groupBy("doc_id").agg(max("score").as("mx"))
    val conf = sc.join(smax, "doc_id")
      .groupBy("doc_id")
      .agg(round(lit(1.0) / sum(exp(col("score") - col("mx"))), 4).as("conf"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("lang"))
    val pred = sc.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"))
    // repo float discipline: 4-dp conf lifted to an exact ×10⁴ BIGINT per
    // doc, so the bin means are exact-integer sums with ONE final division
    // — partial-aggregation summation order can never flip the 4th decimal
    // (avg() over rounded doubles could, when a bin mean lands near a
    // 5e-5 boundary)
    conf.join(pred, "doc_id")
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
      .select(round(col("conf") * 10000, 0).cast("long").as("conf4"),
        least(floor(col("conf") * 10).cast("int"), lit(9)).as("bin"),
        when(col("pred_lang") === col("lang"), 1).otherwise(0).as("hit"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(sum("conf4") / (lit(10000.0) * count(lit(1))), 4).as("mean_conf"),
        round(avg("hit"), 4).as("accuracy"),
        round(abs(sum("conf4") / lit(10000.0) - sum("hit")) / count(lit(1)), 4)
          .as("gap"))
      .orderBy("bin")
  }

  /** Corpus composition report — the per-(source, language) mixture table
    * every data pipeline publishes before training: doc counts, token and
    * byte volumes, and each cell's fraction of the corpus. One partial-
    * aggregable groupBy plus a broadcast scalar total (no global window);
    * the byte count is octet length (binary cast) so multi-byte text
    * reports true storage volume. */
  val corpusMix = sql(
    "corpus_mix",
    """SELECT source, lang, count(*) AS n_docs,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tot_tokens,
      |       CAST(sum(strlen(text)) AS BIGINT) AS tot_bytes,
      |       round(count(*) * 1.0 / (SELECT count(*) FROM documents), 4) AS doc_frac
      |FROM documents GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val total = docs.agg(count(lit(1)).as("tot"))
    docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("tot_tokens"),
        sum(length(col("text").cast("binary"))).as("tot_bytes"))
      .crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"), col("tot_tokens"),
        col("tot_bytes"),
        round(col("n_docs") * lit(1.0) / col("tot"), 4).as("doc_frac"))
      .orderBy("source", "lang")
  }

  /** Unified MULTI-SIGNAL dedup — the composition a production pipeline
    * actually runs: near-dup edges from three independent detectors
    * (MinHash-LSH n-gram shingles, SimHash Hamming blocks, embedding-cosine
    * within IVF cells) unioned into ONE pair graph, then connected
    * components over the union. A pair caught by ANY signal lands in the
    * same cluster, so the canonical-member choice is consistent across
    * signals instead of three conflicting dedup verdicts. Embeddings are
    * keyed by the document id (`vec_id` ≡ `doc_id` in the corpus; documents
    * without an embedding row simply contribute no cosine edges). Scale:
    * each edge source is already bucketed/banded/capped linear; the union
    * is a distinct over edge sets, and clustering runs once instead of
    * three times. Oracle: the same recursive min-reachable-id CTE as
    * `dedup_clusters`, over the unioned edge set. */
  val dedupClustersMulti = sql(
    "dedup_clusters_multi",
    s"""WITH RECURSIVE $minhashPairsSqlCte,
       |${simhashPairsSqlWith("sx_")},
       |${Similarity.cosinePairsSqlCte},
         |alledges AS (SELECT da, db FROM mp
         |             UNION SELECT da, db FROM sx_pairs
         |             UNION SELECT da, db FROM cos_pairs),
         |edges AS (SELECT da AS u, db AS v FROM alledges
         |          UNION ALL SELECT db, da FROM alledges),
         |reach(doc_id, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.doc_id
         |),
         |cc AS (SELECT doc_id, min(root) AS root FROM reach GROUP BY doc_id)
         |SELECT c.doc_id, c.root AS cluster, c.root = c.doc_id AS keep
         |FROM cc c JOIN documents dd ON c.doc_id = dd.doc_id
         |ORDER BY c.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.GraftSqlBridge.dropTopLevelSort
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val mh = minhashBandPairs(s, d)
    val sx = dropTopLevelSort(dedupSimhashPairs.fn(s, d)).select("da", "db")
    val cosE = dropTopLevelSort(Similarity.simNearDup.fn(s, d)).select("da", "db")
    val edges = mh.unionByName(sx).unionByName(cosE).distinct()
    labelsFromPairs(docs, edges)
      .select(col("doc_id"), col("cluster"),
        (col("cluster") === col("doc_id")).as("keep"))
      .orderBy("doc_id")
  }

  /** BPE-ish regex token counting: word / number / punctuation-free token
    * classes via regexp extraction (the whitespace token count lives in
    * text_stats). Both engines use the same RE syntax here. */
  val textTokenBpe = sql(
    "text_token_bpe",
    """SELECT doc_id,
      |       len(regexp_extract_all(text, '[a-z]+')) AS n_words,
      |       len(regexp_extract_all(text, '[0-9]+')) AS n_nums,
      |       len(regexp_extract_all(text, '[a-z]{1,4}')) AS n_subword_chunks
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("n_words"),
      size(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("n_nums"),
      size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")).as("n_subword_chunks"))
      .orderBy("doc_id")
  }

  /** Document fingerprint via polynomial rolling hash over characters —
    * h := (h*31 + ascii(c)) mod 1e9+7, computed as the identical sequential
    * fold on both engines (no overflow: 31*(1e9+7)+255 << 2^63). */
  val textRollingHash = sql(
    "text_rolling_hash",
    """SELECT doc_id,
      |       list_reduce(
      |         list_prepend(CAST(0 AS BIGINT),
      |           list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |         (acc, c) -> (acc * 31 + c) % 1000000007) AS rhash
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      // Spark split(…, '') keeps a trailing '' (Java split limit -1);
      // DuckDB string_split does not — drop empties before the fold
      expr("aggregate(filter(split(text, ''), c -> c <> ''), CAST(0 AS BIGINT), " +
        "(acc, c) -> (acc * 31 + ascii(c)) % 1000000007)").as("rhash"))
      .orderBy("doc_id")
  }

  /** WINNOWING fingerprints (MOSS, Schleimer et al. 2003): the robust
    * document-fingerprint SELECTION scheme — hash every k-gram (k = 8
    * chars, the `text_rolling_hash` polynomial), slide a window of w = 4
    * consecutive gram hashes, keep each window's minimum. Guarantees: any
    * shared substring of length ≥ w + k − 1 between two documents yields a
    * shared selected fingerprint, while storage drops to ~2/(w+1) of the
    * grams — the property plain "every n-th gram" sampling lacks.
    * Emits the selected (position, gram hash) pairs per document; two
    * documents' overlap is then a plain equi-join on fphash.
    *
    * Scale shape: the entire selection happens INSIDE one row — zero
    * shuffle, no per-gram explode of the corpus through an Exchange; the
    * only wide node is the gate-only output sort. The selection runs in
    * the native codegen'd `winnow_fps` loop (graft.functions.WinnowFps):
    * the declarative `transform`/`slice`/`array_min` form evaluates
    * interpreted AND re-inlines the gram array into every window slice
    * after projection collapse — O(n²·k) boxed lambda calls per document
    * — while the native loop is the O(n·k + n·w) the algorithm actually
    * costs. Determinism: min is taken over `hash · 2²⁰ + pos` (hash
    * < 1e9+7, pos < 2²⁰ ⇒ no collision between the fields), so equal-hash
    * ties break to the LEFTMOST gram identically on both engines. */
  /** SQL CTE chain ending in `wfp(doc_id, pos, fphash)` — the selected
    * winnowing fingerprints, the ONE definition shared by the fingerprint
    * query and the overlap-pair query (they cannot drift). */
  private val winnowFpsSqlCte: String =
    """ch AS (SELECT doc_id, string_split(text, '') AS cs FROM documents),
      |g AS (SELECT doc_id,
      |             CASE WHEN len(cs) >= 8 THEN
      |               list_transform(range(1, len(cs) - 8 + 2), i ->
      |                 list_reduce(
      |                   list_prepend(CAST(0 AS BIGINT),
      |                     list_transform(list_slice(cs, i, i + 7), c -> CAST(ascii(c) AS BIGINT))),
      |                   (acc, c) -> (acc * 31 + c) % 1000000007) * 1048576 + (i - 1))
      |             ELSE CAST([] AS BIGINT[]) END AS grams
      |      FROM ch),
      |w AS (SELECT doc_id,
      |             CASE WHEN len(grams) >= 4 THEN
      |               list_distinct(list_transform(range(1, len(grams) - 4 + 2), j ->
      |                 list_min(list_slice(grams, j, j + 3))))
      |             ELSE CAST([] AS BIGINT[]) END AS fps
      |      FROM g),
      |wfp AS (SELECT doc_id,
      |               CAST(fp % 1048576 AS BIGINT) AS pos,
      |               CAST(fp // 1048576 AS BIGINT) AS fphash
      |        FROM (SELECT doc_id, unnest(fps) AS fp FROM w))""".stripMargin

  /** Spark side of `wfp` — native selector + one explode, no shuffle. */
  private def winnowFpsDf(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFps.winnow_fps(col("text"), 8, 4)).as("fp"))
      .select(col("doc_id"),
        expr("CAST(fp % 1048576 AS BIGINT)").as("pos"),
        expr("CAST(fp DIV 1048576 AS BIGINT)").as("fphash"))

  val textWinnowing = sql(
    "text_winnowing",
    s"""WITH $winnowFpsSqlCte
       |SELECT doc_id, pos, fphash FROM wfp
       |ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
    winnowFpsDf(s, d).orderBy("doc_id", "pos")
  }

  /** WINNOWING OVERLAP PAIRS — the MOSS use of the fingerprints: candidate
    * document pairs sharing ≥ 3 selected fingerprints, with the shared
    * count as the overlap evidence. By the winnowing guarantee a shared
    * run of ≥ w+k−1 chars forces ≥ 1 shared fingerprint, so multi-
    * fingerprint pairs indicate substantial copied spans — the
    * plagiarism/mirror detector that complements token-shingle Jaccard.
    *
    * Scale shape: the same capped inverted-index discipline as
    * `dedup_ngram_jaccard` — per-doc DISTINCT fingerprints, document-
    * frequency cap (df ≤ 50) drops boilerplate fingerprints BEFORE the
    * self-join (no hot join key can go quadratic), pair count is one
    * partial-aggregable groupBy on the surviving equi-join. */
  val dedupWinnowPairs = sql(
    "dedup_winnow_pairs",
    s"""WITH $winnowFpsSqlCte,
       |fpd AS (SELECT DISTINCT doc_id, fphash FROM wfp),
       |fdf AS (SELECT fphash, count(*) AS df FROM fpd GROUP BY fphash),
       |keep AS (SELECT f.doc_id, f.fphash FROM fpd f JOIN fdf USING (fphash)
       |         WHERE fdf.df <= 50)
       |SELECT a.doc_id AS da, b.doc_id AS db,
       |       CAST(count(*) AS BIGINT) AS n_shared
       |FROM keep a JOIN keep b ON a.fphash = b.fphash AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING count(*) >= 3
       |ORDER BY da, db""".stripMargin) { (s, d) =>
    val fpd = winnowFpsDf(s, d).select("doc_id", "fphash").distinct()
    val hot = fpd.groupBy("fphash").agg(count(lit(1)).as("df"))
      .filter(col("df") > 50).select("fphash")
    val keep = fpd.join(hot, Seq("fphash"), "left_anti")
    val a = keep.select(col("fphash"), col("doc_id").as("da"))
    val b = keep.select(col("fphash"), col("doc_id").as("db"))
    a.join(b, "fphash").filter(col("da") < col("db"))
      .groupBy("da", "db")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy("da", "db")
  }

  /** Top-3 TF-IDF terms per document — the classic content-signature /
    * keyword-extraction operator. tf and df are exact integer counts (one
    * shuffle each, both partial-aggregable); idf = ln(N·1.0/df) with N
    * broadcast as a 1-row aggregate (no driver collect, no global window).
    * Ranking uses the 4-dp-ROUNDED score with a token tie-break so the
    * row_number cut is bit-stable across engines (libm ln agrees to ~1 ulp;
    * 4-dp rounding absorbs it per the repo float policy). */
  val textTfidf = sql(
    "text_tfidf",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |              FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (SELECT doc_id, tok, tf.tf, df.df,
      |                  round(tf.tf * ln(n_docs * 1.0 / df.df), 4) AS tfidf
      |           FROM tf JOIN df USING (tok) CROSS JOIN n),
      |ranked AS (SELECT *, CAST(row_number() OVER
      |             (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS INT) AS rn
      |           FROM scored)
      |SELECT doc_id, rn, tok, tf, df, tfidf
      |FROM ranked WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs") * lit(1.0) / col("df")), 4))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 3)
      .select("doc_id", "rn", "tok", "tf", "df", "tfidf")
      .orderBy("doc_id", "rn")
  }

  /** BM25 RANKED RETRIEVAL — Okapi BM25 top-10 for a fixed 3-term query
    * (k₁ = 1.2, b = 0.75, Lucene's bounded idf ln((N−df+0.5)/(df+0.5)+1)
    * so a term in >half the corpus can't go negative): the length-
    * normalized, saturating upgrade of `text_tfidf`, and the lexical
    * retrieval leg of every RAG / hard-negative-mining pipeline over a
    * training corpus.
    *
    * Scale shape: tokenize once; the query-term filter is an IN-list that
    * prunes the tf aggregate to query-term rows only (the inverted-index
    * access pattern — df is then a |Q|-row broadcast); per-doc length is
    * one partial-aggregable count joined by doc_id; N and avgdl ride one
    * broadcast 1-row aggregate; the cut is TakeOrdered top-10, no global
    * sort. Float policy: idf and the saturation term are identical-op-
    * order double expressions on both engines (decimal literals promote
    * to the same doubles), the ≤3-term sum rounds 4 dp, and the ranking
    * runs on the ROUNDED score with a doc_id tie-break. */
  /** SQL CTE chain ending in `lscore(doc_id, dl, n_terms, bm25)` — the
    * full LEXICAL retrieval leg (every doc holding ≥1 query term), shared
    * by `text_bm25` and `rag_hybrid` so the score cannot fork. */
  private val bm25SqlCte: String =
    """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |         FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      |st AS (SELECT count(*) AS n_docs,
      |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
      |       WHERE tok IN ('spark', 'query', 'join') GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |sc AS (SELECT t.doc_id, dl.dl,
      |              ln((CAST(st.n_docs - df.df AS DOUBLE) + 0.5)
      |                 / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
      |              * ((CAST(t.tf AS DOUBLE) * 2.2)
      |                 / (CAST(t.tf AS DOUBLE)
      |                    + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl))))
      |                AS contrib
      |       FROM tf t JOIN df ON df.tok = t.tok
      |       JOIN dl ON dl.doc_id = t.doc_id CROSS JOIN st),
      |lscore AS (SELECT doc_id, CAST(max(dl) AS BIGINT) AS dl,
      |                  CAST(count(*) AS BIGINT) AS n_terms,
      |                  round(sum(contrib), 4) AS bm25
      |           FROM sc GROUP BY doc_id)""".stripMargin

  /** Spark side of `lscore`. */
  private def bm25Scores(s: org.apache.spark.sql.SparkSession, d: String) = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("tok").isin("spark", "query", "join"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfq), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .withColumn("contrib", expr(
        """ln((CAST(n_docs - df AS DOUBLE) + 0.5D)
          |   / (CAST(df AS DOUBLE) + 0.5D) + 1.0D)
          |* ((CAST(tf AS DOUBLE) * 2.2D)
          |   / (CAST(tf AS DOUBLE)
          |      + 1.2D * (0.25D + 0.75D * (CAST(dl AS DOUBLE) / avgdl))))"""
          .stripMargin))
      .groupBy("doc_id")
      .agg(max("dl").as("dl"), count(lit(1)).as("n_terms"),
        round(sum("contrib"), 4).as("bm25"))
  }

  val textBm25 = sql(
    "text_bm25",
    s"""WITH $bm25SqlCte
       |SELECT doc_id, dl, n_terms, bm25 FROM lscore
       |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
    bm25Scores(s, d)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(10)
  }

  /** HYBRID RETRIEVAL FUSION — the lexical+dense combination every RAG
    * serving stack runs (Weaviate/Qdrant-style alpha-weighted hybrid
    * search): each document's BM25 score (the `text_bm25` leg, shared
    * `lscore` CTE) and its embedding cosine to the fixed query (the
    * `sim_topk_cosine` leg, shared `dscore` CTE — doc_id and vec_id share
    * the id space) are min-max normalized to [0,1] — both legs over the
    * RETURNABLE candidate set (the query doc 0 is excluded from both
    * normalizations, so the best returnable doc normalizes to 1.0 on each
    * leg) — and blended 50/50; a doc missing from a leg contributes that
    * leg's floor. Score-based
    * fusion is chosen over rank-based RRF deliberately: normalization
    * needs only four broadcast 1-row aggregates (min/max per leg) — no
    * global rank window exists anywhere, the scale-safe shape (RRF's
    * corpus-wide rank IS an unpartitioned window).
    *
    * Determinism: both leg scores are already 4-dp-rounded; the blend is
    * the identical single expression on both engines, rounded once at 4
    * dp; ties break on doc_id. Top-10 via TakeOrderedAndProject. */
  val ragHybrid = sql(
    "rag_hybrid",
    s"""WITH $bm25SqlCte,
       |${graft.operators.Similarity.denseScoreSqlCte},
       |lmm AS (SELECT min(bm25) AS lmin, max(bm25) AS lmax FROM lscore
       |        WHERE doc_id <> 0),
       |dmm AS (SELECT min(cos) AS dmin, max(cos) AS dmax FROM dscore),
       |ids AS (SELECT doc_id FROM documents WHERE doc_id <> 0)
       |SELECT i.doc_id, l.bm25, s.cos,
       |       round(0.5 * coalesce((l.bm25 - lmin) / nullif(lmax - lmin, 0.0), 0.0)
       |             + 0.5 * coalesce((s.cos - dmin) / nullif(dmax - dmin, 0.0), 0.0), 4)
       |         AS hybrid
       |FROM ids i
       |LEFT JOIN lscore l ON l.doc_id = i.doc_id
       |LEFT JOIN dscore s ON s.vec_id = i.doc_id
       |CROSS JOIN lmm CROSS JOIN dmm
       |ORDER BY hybrid DESC, i.doc_id LIMIT 10""".stripMargin) { (s, d) =>
    val l = bm25Scores(s, d).select("doc_id", "bm25")
    val ds = Similarity.denseScores(s, d).withColumnRenamed("vec_id", "doc_id")
    // normalize over the RETURNABLE candidate set: doc 0 is the query doc
    // and is excluded from the output and the dense leg's min/max — a
    // query term landing in doc 0 must not skew the lexical normalization
    // either (both legs now treat id 0 identically)
    val lmm = l.filter(col("doc_id") =!= 0)
      .agg(min("bm25").as("lmin"), max("bm25").as("lmax"))
    val dmm = ds.agg(min("cos").as("dmin"), max("cos").as("dmax"))
    Tables.documents(s, d).select("doc_id").filter(col("doc_id") =!= 0)
      .join(l, Seq("doc_id"), "left")
      .join(ds, Seq("doc_id"), "left")
      .crossJoin(broadcast(lmm))
      .crossJoin(broadcast(dmm))
      .select(col("doc_id"), col("bm25"), col("cos"),
        expr("""round(0.5 * coalesce((bm25 - lmin) / nullif(lmax - lmin, 0.0D), 0.0D)
               |      + 0.5 * coalesce((cos - dmin) / nullif(dmax - dmin, 0.0D), 0.0D), 4)"""
          .stripMargin).as("hybrid"))
      .orderBy(col("hybrid").desc, col("doc_id"))
      .limit(10)
  }

  /** Gopher/CCNet-style quality scoring: stopword ratio, digit-token
    * ratio, mean word length, and the count of passed quality gates
    * (mean-word-length ∈ [3,10], stopwords present, digit ratio < 0.2).
    * All ratios are exact integer divisions rounded at 4 dp; the gates are
    * integer comparisons on the UNROUNDED rationals via cross-multiplied
    * integer arithmetic — no float boundary risk. */
  // Quality metric definitions live in the cycle-free `Quality` object
  // (TextOps and Sampling both consume them; TextOps↔Sampling object-init
  // references otherwise race and read null CTE strings).
  private[operators] def qualityMetricsSqlCte: String = Quality.metricsSqlCte
  private[operators] def qualityScoreSql: String = Quality.scoreSql
  private[operators] def qualityMetrics(s: org.apache.spark.sql.SparkSession, d: String) =
    Quality.metrics(s, d)

  val textQuality = sql(
    "text_quality",
    s"""WITH $qualityMetricsSqlCte
       |SELECT doc_id, n_tokens,
       |       round(n_stop * 1.0 / n_tokens, 4) AS stop_ratio,
       |       round(n_digit * 1.0 / n_tokens, 4) AS digit_ratio,
       |       round(n_letters * 1.0 / n_tokens, 4) AS mean_wl,
       |       $qualityScoreSql AS quality
       |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    qualityMetrics(s, d)
      .select(col("doc_id"), col("n_tokens"),
        round(col("n_stop") * lit(1.0) / col("n_tokens"), 4).as("stop_ratio"),
        round(col("n_digit") * lit(1.0) / col("n_tokens"), 4).as("digit_ratio"),
        round(col("n_letters") * lit(1.0) / col("n_tokens"), 4).as("mean_wl"),
        col("quality"))
      .orderBy("doc_id")
  }

  /** QUALITY-GATE ABLATION — the dashboard a data-quality review reads
    * before tuning thresholds: for each of the three shared `Quality`
    * gates (word-length band, stopword presence, digit ratio), how many
    * docs pass it, how many fail it, how many fail it UNIQUELY (the
    * gate's marginal contribution — a gate with zero unique rejections is
    * dead weight), plus the all-gates pass count repeated per row for
    * context. Gate definitions are the SAME integer predicates as the
    * `Quality.scoreSql` components (stated inline from the same metric
    * columns, spec-tied to the score), so the ablation cannot drift from
    * the score it explains. ONE conditional-aggregate pass over the
    * metrics frame — no joins, no windows, 3 output rows. */
  val textQualityAblation = sql(
    "text_quality_ablation", {
      val g = Seq(
        "g1" -> "(n_letters >= 3 * n_tokens AND n_letters <= 10 * n_tokens)",
        "g2" -> "(n_stop > 0)",
        "g3" -> "(5 * n_digit < n_tokens)")
      val aggCols = g.map { case (k, p) =>
        s"""sum(CASE WHEN $p THEN 1 ELSE 0 END) AS ${k}_pass,
           |       sum(CASE WHEN NOT $p THEN 1 ELSE 0 END) AS ${k}_fail""".stripMargin
      }.mkString(",\n       ")
      val uniq = g.map { case (k, p) =>
        val others = g.filter(_._1 != k).map(_._2).mkString(" AND ")
        s"sum(CASE WHEN NOT $p AND $others THEN 1 ELSE 0 END) AS ${k}_uniq"
      }.mkString(",\n       ")
      val allPass = g.map(_._2).mkString(" AND ")
      val rows = g.zipWithIndex.map { case ((k, _), i) =>
        s"SELECT ${i + 1} AS gate, ${k}_pass AS n_pass, ${k}_fail AS n_fail, ${k}_uniq AS n_unique_fail, all_pass FROM a"
      }.mkString("\n  UNION ALL ")
      s"""WITH $qualityMetricsSqlCte,
         |a AS (SELECT $aggCols,
         |       $uniq,
         |       sum(CASE WHEN $allPass THEN 1 ELSE 0 END) AS all_pass
         |      FROM m)
         |SELECT CAST(gate AS INT) AS gate, CAST(n_pass AS BIGINT) AS n_pass,
         |       CAST(n_fail AS BIGINT) AS n_fail,
         |       CAST(n_unique_fail AS BIGINT) AS n_unique_fail,
         |       CAST(all_pass AS BIGINT) AS n_all_pass
         |FROM ($rows) ORDER BY gate""".stripMargin
    }) { (s, d) =>
    val m = qualityMetrics(s, d)
    val g = Seq(
      expr("n_letters >= 3 * n_tokens AND n_letters <= 10 * n_tokens"),
      expr("n_stop > 0"),
      expr("5 * n_digit < n_tokens"))
    val aggs = g.zipWithIndex.flatMap { case (p, i) =>
      val others = g.zipWithIndex.filter(_._2 != i).map(_._1).reduce(_ && _)
      Seq(sum(when(p, 1L).otherwise(0L)).as(s"p$i"),
        sum(when(!p, 1L).otherwise(0L)).as(s"f$i"),
        sum(when(!p && others, 1L).otherwise(0L)).as(s"u$i"))
    } :+ sum(when(g.reduce(_ && _), 1L).otherwise(0L)).as("ap")
    val a = m.agg(aggs.head, aggs.tail: _*)
    (0 until 3).map { i =>
      a.select(lit(i + 1).as("gate"), col(s"p$i").as("n_pass"),
        col(s"f$i").as("n_fail"), col(s"u$i").as("n_unique_fail"),
        col("ap").as("n_all_pass"))
    }.reduce(_ unionAll _).orderBy("gate")
  }

  /** Corpus vocabulary: top-50 tokens by document frequency with exact
    * counts — the vocab/tokenizer-training precursor. One partial-agg
    * shuffle on token; the top-k is a TakeOrderedAndProject (rank on
    * exact integer counts, token tie-break: fully deterministic). */
  val textVocabTopk = sql(
    "text_vocab_topk",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |              FROM documents),
      |tf AS (SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS df
      |       FROM toks GROUP BY tok)
      |SELECT tok, n, df FROM tf
      |ORDER BY n DESC, tok LIMIT 50""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("df"))
      .orderBy(col("n").desc, col("tok"))
      .limit(50)
  }

  /** OOV-RATE certificate — tokenizer/vocab coverage: fix the vocabulary
    * at the top-1000 corpus tokens by frequency (count desc, token
    * tie-break — deterministic in both engines) and report each document's
    * out-of-vocabulary token share, the number that decides whether a
    * vocab size is adequate for a corpus (the UNK-rate a word-level
    * tokenizer would produce, and the coverage check run before committing
    * a BPE budget).
    *
    * Scale shape: the vocabulary is a bounded TakeOrdered top-k that
    * BROADCASTS to the per-token membership join (the corpus-sized token
    * stream never shuffles for it — plan-guarded), and the per-doc rollup
    * is one partial-aggregable groupBy. */
  val textOovRate = sql(
    "text_oov_rate",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |              FROM documents),
      |vc AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM toks
      |                        GROUP BY tok ORDER BY n DESC, tok LIMIT 1000) t)
      |SELECT toks.doc_id,
      |       CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_oov,
      |       round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0
      |             / count(*), 4) AS oov_rate
      |FROM toks LEFT JOIN vc v ON v.tok = toks.tok
      |GROUP BY toks.doc_id ORDER BY toks.doc_id""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(1000)
      .select(col("tok"), lit(1).as("in_vocab"))
    val oov = when(col("in_vocab").isNull, 1L).otherwise(0L)
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(oov).as("n_oov"),
        round(sum(oov) * lit(1.0) / count(lit(1)), 4).as("oov_rate"))
      .orderBy("doc_id")
  }

  /** Top adjacent-token-pair counts — the candidate-scoring step of one BPE
    * merge iteration (count all symbol pairs, merge the most frequent).
    * Corpus-frequency counting (NOT per-doc distinct), so the numbers are
    * exactly what a BPE trainer would consume. Scale shape: tokenize once,
    * slide the 2-window, one partial-aggregable count, TakeOrdered top-20 —
    * no global sort of the pair vocabulary. */
  val textBigramTopk = sql(
    "text_bigram_topk",
    """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bigram
      |       FROM toks WHERE len(t) >= 2)
      |SELECT bigram, count(*) AS n
      |FROM bg GROUP BY bigram
      |ORDER BY n DESC, bigram LIMIT 20""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i+1]))"))
        .as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  /** Per-source duplication report from the near-dup cluster labels: how
    * much of each source is redundant (cluster non-roots) — the number that
    * decides which crawls/dumps are worth keeping at 100 TB. One broadcast-
    * size join of the label frame back to the documents table, then a tiny
    * per-source aggregate. */
  /** Shared dup-stats rollup over a (doc_id, cluster) label frame — the ONE
    * definition behind `corpus_dup_stats` (recompute path) and
    * `dedup_labels_materialized` (snapshot path), so the two cannot fork. */
  private def dupStatsRollup(labels: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.SparkSession, d: String) = {
    val dup = (col("cluster") =!= col("doc_id")).cast("long")
    labels.join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct("cluster").as("n_clusters"),
        sum(dup).as("n_dup_docs"),
        round(sum(dup) * lit(1.0) / count(lit(1)), 4).as("dup_rate"))
      .orderBy("source")
  }

  private val dupStatsOracleSql =
    s"""WITH RECURSIVE $clusterLabelsSqlCte
       |SELECT d.source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(DISTINCT c.root) AS BIGINT) AS n_clusters,
       |       CAST(sum(CASE WHEN c.root <> c.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |       round(sum(CASE WHEN c.root <> c.doc_id THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_rate
       |FROM cc c JOIN documents d ON c.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  val corpusDupStats = sql("corpus_dup_stats", dupStatsOracleSql) { (s, d) =>
    dupStatsRollup(clusterLabels(s, d), s, d)
  }

  /** The MATERIALIZATION NOTE's recommended deployment shape, demonstrated
    * as an oracle-checked query: cluster labels are computed ONCE, written
    * as a (doc_id, cluster) parquet snapshot (hash-ranged files; bucketBy
    * into a catalog table is the co-located-join deployment variant),
    * and the dup-stats consumer reads the SNAPSHOT — proving the
    * materialize-then-reuse path is bit-identical to `corpus_dup_stats`'
    * recompute path (same oracle SQL on purpose). At 100 TB every consumer
    * in the six-query cluster family joins this snapshot instead of
    * re-running the shingle→MinHash→LSH→CC chain; the chain runs once per
    * corpus snapshot, amortized across all of them. */
  val dedupLabelsMaterialized = sql(
    "dedup_labels_materialized", dupStatsOracleSql) { (s, d) =>
    dupStatsRollup(
      Snapshots.parquet(s, d, "cluster-labels")(
        clusterLabels(s, d).repartition(col("doc_id"))), s, d)
  }

  /** Per-language document-length distribution — the quality-filter
    * thresholds (drop docs under p05 / over p95 length) every corpus
    * pipeline derives before filtering. Exact interpolated percentiles,
    * identical in both engines. */
  val textLengthStats = sql(
    "text_length_stats",
    """SELECT lang, count(*) AS n,
      |       quantile_cont(n_chars, 0.05) AS p05,
      |       quantile_cont(n_chars, 0.50) AS p50,
      |       quantile_cont(n_chars, 0.95) AS p95
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        expr("percentile(n_chars, 0.05)").as("p05"),
        expr("percentile(n_chars, 0.50)").as("p50"),
        expr("percentile(n_chars, 0.95)").as("p95"))
      .orderBy("lang")
  }

  /** Gopher/MassiveText-style REPETITION gates — the quality signal the
    * stop/digit gates in `text_quality` don't see: machine-generated or
    * boilerplate text repeats n-grams. Per document: total and distinct
    * bigram counts, the most-frequent bigram's count, its share of all
    * bigrams (Gopher's "top-2-gram fraction"), and the duplicate-bigram
    * share. Exact integer counts; shares are the only computed doubles
    * (4-dp rounded both sides).
    *
    * Scale shape: tokenize once per row, one explode (n_tokens−1 rows per
    * doc), two partial-aggregable groupBys keyed by doc — linear, no join,
    * parallel across documents. */
  val textRepetition = sql(
    "text_repetition",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (SELECT doc_id,
      |              unnest([w[i] || ' ' || w[i + 1] for i in range(1, len(w))]) AS g
      |       FROM toks),
      |cnt AS (SELECT doc_id, g, count(*) AS n FROM bg GROUP BY doc_id, g),
      |agg AS (SELECT doc_id,
      |               CAST(sum(n) AS BIGINT) AS n_bigrams,
      |               CAST(count(*) AS BIGINT) AS n_distinct,
      |               CAST(max(n) AS BIGINT) AS top_n
      |        FROM cnt GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, n_distinct, top_n,
      |       round(top_n * 1.0 / n_bigrams, 4) AS top_share,
      |       round((n_bigrams - n_distinct) * 1.0 / n_bigrams, 4) AS dup_share
      |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
    // bigrams are count keys only (never output): the native hasher in
    // MULTIPLICITY mode (distinct = false) emits every window's digest in
    // position order — same per-(doc, bigram) counts as the string form,
    // no interpreted lambda, no intermediate bigram strings
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), explode(graft.functions.ShingleMd5s
        .shingle_md5s(split(col("text"), " "), 2, distinct = false)).as("g"))
    bg.groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(
        sum("n").as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        max("n").as("top_n"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"), col("top_n"),
        round(col("top_n") * lit(1.0) / col("n_bigrams"), 4).as("top_share"),
        round((col("n_bigrams") - col("n_distinct")) * lit(1.0) / col("n_bigrams"), 4)
          .as("dup_share"))
      .orderBy("doc_id")
  }

  /** SUBSTRING-level duplication report (the Lee-et-al "Deduplicating
    * Training Data" unit of analysis, re-expressed as per-doc statistics):
    * for every 8-token span, count how many DISTINCT documents contain it;
    * a doc's dup-span rate is the share of its spans appearing elsewhere.
    * This is the signal that doc-level MinHash misses — a unique page
    * embedding a long copied passage.
    *
    * Scale shape: spans explode linearly (n_tokens−7 per doc), spans travel
    * as md5 digests (fixed 32-byte shuffle key, never the raw text), the
    * document-frequency count is one partial-aggregable groupBy, and the
    * join back is span-keyed equi — NO pair join anywhere, so a span shared
    * by a million docs costs a million rows, not a million squared. */
  val dedupSpanStats = sql(
    "dedup_span_stats",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sp AS (SELECT DISTINCT doc_id,
      |              md5(unnest([array_to_string(t[i:i+7], ' ')
      |                          for i in range(1, len(t) - 6)])) AS h
      |       FROM toks WHERE len(t) >= 8),
      |df AS (SELECT h, count(*) AS df FROM sp GROUP BY h)
      |SELECT sp.doc_id,
      |       CAST(count(*) AS BIGINT) AS n_spans,
      |       CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
      |       round(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_rate
      |FROM sp JOIN df USING (h)
      |GROUP BY sp.doc_id ORDER BY sp.doc_id""".stripMargin) { (s, d) =>
    // native hasher: spans leave the row already distinct-per-doc as
    // 16-byte digests — the per-(doc, span) distinct used to be a whole
    // shuffle Exchange here; now no window string or hex is ever built
    val sp = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.ShingleMd5s.shingle_md5s(
          split(col("text"), " "), 8)).as("h"))
    val df = sp.groupBy("h").agg(count(lit(1)).as("df"))
    val dup = when(col("df") >= 2, 1L).otherwise(0L)
    sp.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(dup).as("n_dup_spans"),
        round(sum(dup) * lit(1.0) / count(lit(1)), 4).as("dup_rate"))
      .orderBy("doc_id")
  }

  /** Per-document trigram NOVELTY against everything earlier in the corpus
    * (by doc_id order): the share of a doc's distinct trigrams whose FIRST
    * corpus occurrence is this doc. The curve of this number over a crawl
    * is the classic diminishing-returns diagnostic — when novelty flattens,
    * more of the same dump buys no new text.
    *
    * Shape: one explode, min(doc_id) per trigram (partial-aggregable), one
    * trigram-keyed equi-join back, per-doc count roll-up — linear, no pair
    * joins, no windows. */
  val textNovelty = sql(
    "text_novelty",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tri AS (SELECT DISTINCT doc_id,
      |               unnest([array_to_string(t[i:i+2], ' ')
      |                       for i in range(1, len(t) - 1)]) AS g
      |        FROM toks WHERE len(t) >= 3),
      |fst AS (SELECT g, min(doc_id) AS first_doc FROM tri GROUP BY g)
      |SELECT tri.doc_id,
      |       CAST(count(*) AS BIGINT) AS n_trigrams,
      |       CAST(sum(CASE WHEN fst.first_doc = tri.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |       round(sum(CASE WHEN fst.first_doc = tri.doc_id THEN 1 ELSE 0 END) * 1.0
      |             / count(*), 4) AS novelty
      |FROM tri JOIN fst USING (g)
      |GROUP BY tri.doc_id ORDER BY tri.doc_id""".stripMargin) { (s, d) =>
    // trigram keys travel as 16-byte digests, already distinct-per-doc
    // from the native hasher (the old explode().distinct() was a full
    // shuffle); first-occurrence equality classes are unchanged
    val tri = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.ShingleMd5s.shingle_md5s(
          split(col("text"), " "), 3)).as("g"))
    val fst = tri.groupBy("g").agg(min("doc_id").as("first_doc"))
    val novel = when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)
    tri.join(fst, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"), sum(novel).as("n_novel"),
        round(sum(novel) * lit(1.0) / count(lit(1)), 4).as("novelty"))
      .orderBy("doc_id")
  }

  /** PII scan + redaction — the compliance pass every published corpus
    * runs (emails, phone-like digit runs, SSN-shaped ids → typed
    * placeholders). Counts are STAGED — each pattern is counted on the
    * previous stage's redacted text — so they are exactly the number of
    * replacements each stage performs (an SSN-shaped token is typed ID
    * once, never double-counted by the looser phone pattern). The redacted
    * text travels as its md5 (fixed-width output, content verifiable). The
    * synthetic corpus is PII-free, so here this query exercises the
    * zero-hit fast path end-to-end; `TextOpsSpec` proves the actual
    * redaction semantics on planted fixtures. Patterns stay within the
    * RE2 ∩ java.util.regex common subset (no backrefs/lookaround), so both
    * engines match identically. Narrow per-row map: no shuffle, fully
    * pushdown-friendly. */
  val PiiEmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PiiIdRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  val PiiPhoneRe = "\\+?[0-9][0-9 ()-]{6,}[0-9]"

  /** The redaction chain (email → id → phone, id before phone so an
    * SSN-shaped token is typed ID, not swallowed by the looser phone
    * pattern) — shared by the query and the spec. */
  def redactPii(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, PiiEmailRe, "<EMAIL>"),
        PiiIdRe, "<ID>"),
      PiiPhoneRe, "<PHONE>")

  val textPiiRedact = sql(
    "text_pii_redact",
    s"""WITH s1 AS (SELECT doc_id, text,
       |                   regexp_replace(text, '$PiiEmailRe', '<EMAIL>', 'g') AS t1
       |            FROM documents),
       |s2 AS (SELECT *, regexp_replace(t1, '$PiiIdRe', '<ID>', 'g') AS t2 FROM s1)
       |SELECT doc_id,
       |       len(regexp_extract_all(text, '$PiiEmailRe')) AS n_email,
       |       len(regexp_extract_all(t1, '$PiiIdRe')) AS n_id,
       |       len(regexp_extract_all(t2, '$PiiPhoneRe')) AS n_phone,
       |       md5(regexp_replace(t2, '$PiiPhoneRe', '<PHONE>', 'g')) AS clean_md5
       |FROM s2 ORDER BY doc_id""".stripMargin) { (s, d) =>
    // typed-function API, not expr(): Spark SQL string literals process
    // backslash escapes, which would mangle the \+ in the phone pattern
    def nMatches(c: org.apache.spark.sql.Column, re: String) =
      size(regexp_extract_all(c, lit(re), lit(0)))
    Tables.documents(s, d)
      .withColumn("t1", regexp_replace(col("text"), PiiEmailRe, "<EMAIL>"))
      .withColumn("t2", regexp_replace(col("t1"), PiiIdRe, "<ID>"))
      .select(
        col("doc_id"),
        nMatches(col("text"), PiiEmailRe).as("n_email"),
        nMatches(col("t1"), PiiIdRe).as("n_id"),
        nMatches(col("t2"), PiiPhoneRe).as("n_phone"),
        md5(regexp_replace(col("t2"), PiiPhoneRe, "<PHONE>")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** MINHASH ESTIMATOR CERTIFICATE: per near-dup candidate pair, the
    * 8-window MinHash Jaccard estimate (matching signature windows / 8)
    * against the EXACT Jaccard — both computed over the same df-capped
    * shingle universe so the only difference is estimation error. This is
    * the calibration number that justifies the signature width: at 100 TB
    * you act on the estimate (8 windows ≈ ±0.17 std at J=0.5), and this
    * query proves on live data how tight it is, the same way
    * `olap_approx_distinct` certifies its HLL sketch and `sim_ivf_recall`
    * certifies the IVF probe.
    *
    * Scale shape: signatures are one extra partial-aggregable groupBy over
    * the already-capped index; pairs come from the same bounded inverted-
    * index join as `dedup_ngram_jaccard`; the ≥0.5 exact-Jaccard gate
    * restricts output to the near-dup regime the estimator targets. */
  val dedupMinhashEst = sql(
    "dedup_minhash_est", {
      val estSql = (0 until NumHashes)
        .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
        .mkString("(", " + ", s") / ${NumHashes}.0")
      s"""WITH $cappedPairsSqlCte,
         |sigc AS (SELECT doc_id, $minhashSigSqlCols FROM shc GROUP BY doc_id),
         |j AS (SELECT da, db, common * 1.0 / (sa.n + sb.n - common) AS ej
         |      FROM pairs
         |      JOIN sizes sa ON sa.doc_id = da
         |      JOIN sizes sb ON sb.doc_id = db
         |      WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5)
         |SELECT da, db,
         |       round(ej, 4) AS exact_j,
         |       round($estSql, 4) AS est_j,
         |       round(abs(ej - $estSql), 4) AS abs_err
         |FROM j
         |JOIN sigc a ON a.doc_id = da
         |JOIN sigc b ON b.doc_id = db
         |ORDER BY da, db""".stripMargin
    }) { (s, d) =>
    // the SAME capped universe feeds the exact pairs and the signatures —
    // the shared helpers guarantee the certificate's universe can never
    // fork from the queries it certifies. The capped index here is
    // derived from the shared raw-shingle snapshot (one corpus explode
    // per application) and NOT cached: sigOver reads it exactly once
    // (§5 — caching a corpus-sized single-read frame is the r13
    // regression pattern).
    val shc = cappedShingleIndex(s, d,
      shIn = Some(sharedShingleIndex(s, d)), cacheResult = false)
    // checkpointed: the a-side and b-side joins each read the signature
    // frame — un-materialized, each re-ran the 8-way min aggregate over
    // the whole capped index. The frame is doc-sized (9 narrow columns) —
    // a REDUCED frame, so eager localCheckpoint is the scale-safe
    // materialization (r14; replaces the r13 `.cache()`, which the r13
    // sweep pair had flagged as a mild regression — measured flat here,
    // kept for the §5 posture: a checkpointed leaf exposes its real size
    // to AQE where a lazy InMemoryRelation does not).
    val sig = sigOver(shc).localCheckpoint(true)
    def sigAs(p: String) = sig.select(
      col("doc_id").as(s"${p}_id") +:
        (0 until NumHashes).map(j => col(s"mh$j").as(s"${p}$j")): _*)
    val ej = col("common") * lit(1.0) / (col("na") + col("nb") - col("common"))
    val est = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _) / lit(NumHashes.toDouble)
    sharedCappedPairs(s, d)
      .filter(ej >= 0.5)
      .join(sigAs("a"), col("da") === col("a_id"))
      .join(sigAs("b"), col("db") === col("b_id"))
      .select(col("da"), col("db"),
        round(ej, 4).as("exact_j"),
        round(est, 4).as("est_j"),
        round(abs(ej - est), 4).as("abs_err"))
      .orderBy("da", "db")
  }

  /** PARAGRAPH-LEVEL dedup (C4-style): split every document into
    * sentence-boundary paragraphs, keep only the globally-FIRST occurrence
    * of each distinct paragraph (ordered by doc_id then position), and
    * report per document how much of it survives — the sub-document dedup
    * pass that removes boilerplate headers/footers repeated across a crawl.
    *
    * Scale shape: explode → one partial-aggregable groupBy on the
    * paragraph's 16-byte md5 (min of an encoded position — map-side
    * combinable, so the billion-copy boilerplate paragraph collapses to one
    * row per mapper BEFORE the shuffle, no hot-key join), then the
    * first-occurrence positions are decoded back to doc_ids and aggregated
    * per doc — two tiny per-doc frames joined at the end. The skew-prone
    * alternative (joining first-positions back onto every paragraph copy)
    * is exactly what this shape avoids.
    *
    * Position encoding `doc_id·1e6 + idx` is exact integer arithmetic on
    * both engines (paragraph index ≪ 1e6 by the generator's doc sizes). */
  val textParagraphDedup = sql(
    "text_paragraph_dedup",
    """WITH p AS (SELECT doc_id, string_split(text, '. ') AS ps FROM documents),
      |px AS (SELECT doc_id,
      |              unnest(ps) AS para,
      |              generate_subscripts(ps, 1) - 1 AS idx
      |       FROM p),
      |f AS (SELECT md5(para) AS ph,
      |             min(doc_id * 1000000 + idx) AS firstpos
      |      FROM px GROUP BY md5(para)),
      |nf AS (SELECT firstpos // 1000000 AS doc_id,
      |              CAST(count(*) AS BIGINT) AS n_first
      |       FROM f GROUP BY firstpos // 1000000),
      |np AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
      |       FROM px GROUP BY doc_id)
      |SELECT np.doc_id, np.n_paras,
      |       coalesce(nf.n_first, 0) AS n_first,
      |       round(1.0 - coalesce(nf.n_first, 0) * 1.0 / np.n_paras, 4) AS dup_frac
      |FROM np LEFT JOIN nf ON np.doc_id = nf.doc_id
      |ORDER BY np.doc_id""".stripMargin) { (s, d) =>
    // Spark split() takes a REGEX: "\\. " is the same literal ". "
    // boundary DuckDB's string_split uses.
    val px = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), "\\. "))
        .as(Seq("idx", "para")))
    // 16-byte binary digest as the shuffle key (hash discipline: key is
    // equality-only, never output)
    val first = px
      .groupBy(unhex(md5(col("para"))).as("ph"))
      .agg(min(col("doc_id") * lit(1000000L) + col("idx")).as("firstpos"))
    val nFirst = first
      .groupBy(expr("firstpos div 1000000").as("doc_id"))
      .agg(count(lit(1)).as("n_first"))
    val nParas = px.groupBy("doc_id").agg(count(lit(1)).as("n_paras"))
    nParas.join(nFirst, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        round(lit(1.0) - coalesce(col("n_first"), lit(0L)) * lit(1.0) / col("n_paras"), 4)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** CORPUS CURATION FUNNEL — the report every corpus pipeline publishes:
    * per source, how many documents survive each gate of the curation
    * stack, applied cumulatively in PIPELINE ORDER — length floor
    * (≥ 10 tokens), then the 3/3 quality score, then near-dup dedup. The
    * stage-over-stage drop is what tells you WHICH gate is eating a
    * source's documents before you spend a 100 TB pass on it.
    *
    * Dedup-stage semantics match a real pipeline: the canonical member of
    * each near-dup cluster is the min doc_id among the cluster's docs that
    * SURVIVED the earlier gates (a cluster whose global root was already
    * dropped at the length stage still keeps one survivor — using the
    * global root here would silently zero such clusters).
    *
    * Scale shape: the per-doc gate frame (quality metrics ⋈ cluster
    * labels ⋈ source) feeds one tiny per-cluster min over gate survivors
    * joined back by cluster id, then ONE conditional-aggregate groupBy
    * produces all four stage counts — no UNION ALL re-scan per stage, no
    * window. The cluster-label subtree is the same bounded pipeline
    * `dedup_clusters` runs. */
  val corpusCurationFunnel = sql(
    "corpus_curation_funnel",
    s"""WITH RECURSIVE $clusterLabelsSqlCte,
       |$qualityMetricsSqlCte,
       |q AS (SELECT doc_id, n_tokens, $qualityScoreSql AS quality FROM m),
       |g AS (SELECT d.doc_id, d.source, c.root,
       |             (q.n_tokens >= 10) AS len_ok,
       |             (q.n_tokens >= 10 AND q.quality = 3) AS qual_ok
       |      FROM documents d
       |      JOIN q ON q.doc_id = d.doc_id
       |      JOIN cc c ON c.doc_id = d.doc_id),
       |canon AS (SELECT root, min(doc_id) AS canon_id FROM g
       |          WHERE qual_ok GROUP BY root)
       |SELECT g.source,
       |       CAST(count(*) AS BIGINT) AS n_all,
       |       CAST(sum(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_length,
       |       CAST(sum(CASE WHEN qual_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |       CAST(sum(CASE WHEN g.doc_id = canon.canon_id THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
       |FROM g LEFT JOIN canon ON g.root = canon.root
       |GROUP BY g.source ORDER BY g.source""".stripMargin) { (s, d) =>
    val lenOk = col("n_tokens") >= 10
    val qualOk = lenOk && col("quality") === 3
    val g = qualityMetrics(s, d).select("doc_id", "n_tokens", "quality")
      .join(clusterLabels(s, d), "doc_id")
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
      .select(col("doc_id"), col("source"), col("cluster"),
        lenOk.as("len_ok"), qualOk.as("qual_ok"))
    // Canonical doc per cluster as a window min over the SAME pass of `g`
    // — the groupBy(cluster)+self-join form computed the uncached
    // tokenize-heavy `g` subtree twice (measured 4.1 s → 2.4 s at sf0.1).
    // min(when(qual_ok)) over the cluster partition is NULL when the
    // cluster has no quality doc, so doc_id = canon_id stays false —
    // identical semantics to the LEFT JOIN it replaces.
    val wCluster = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
    g.withColumn("canon_id",
        min(when(col("qual_ok"), col("doc_id"))).over(wCluster))
      .groupBy("source").agg(
        count(lit(1)).as("n_all"),
        sum(col("len_ok").cast("long")).as("n_length"),
        sum(col("qual_ok").cast("long")).as("n_quality"),
        sum((col("doc_id") === col("canon_id")).cast("long")).as("n_unique"))
      .orderBy("source")
  }

  /** BIGRAM LM quality score — mean surprisal −ln p(w₂|w₁) under the
    * corpus bigram MLE with add-1 smoothing, the context-aware upgrade of
    * `text_unigram_logprob` (word salad with common words scores ~unigram;
    * only locally-coherent text gets low bigram surprisal — the
    * perplexity-filter shape of CCNet/KenLM gates). p(w₂|w₁) =
    * (c(w₁w₂)+1)/(ctx(w₁)+V) where ctx counts bigram contexts and V is
    * the corpus vocabulary; docs shorter than 2 tokens have no bigrams
    * and drop out.
    *
    * Scale shape: tokenize once, derive bigrams in-array (zip_with of two
    * slices — no window, no self-join), ONE bigram-count aggregate + ONE
    * context-count aggregate joined back by equi-key, V as a broadcast
    * 1-row scalar, per-doc mean partial-aggregable. Float policy: both
    * engines ln identical `(c+1)/(ctx+V)` exact-integer rationals; the
    * per-doc mean rounds 4 dp (the `text_unigram_logprob` discipline). */
  /** SQL CTE chain ending in `sc(doc_id, n_bigrams, avg_surprisal)` — the
    * bigram-LM surprisal score, the ONE definition shared by
    * `text_bigram_logprob` (which emits it) and `text_ppl_buckets` (which
    * terciles it) — they cannot drift. */
  private val bigramSurprisalSqlCte: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bg AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
      |              unnest(toks[2:len(toks)]) AS w2 FROM t),
      |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
      |cx AS (SELECT w1, count(*) AS ctx FROM bg GROUP BY w1),
      |vs AS (SELECT count(DISTINCT tok) AS v
      |       FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
      |sc AS (SELECT doc_id, count(*) AS n_bigrams,
      |              round(sum(-ln((c12 + 1.0) / (ctx + v))) / count(*), 4)
      |                AS avg_surprisal
      |       FROM bg JOIN bc USING (w1, w2) JOIN cx USING (w1) CROSS JOIN vs
      |       GROUP BY doc_id)""".stripMargin

  /** Spark side of `sc(doc_id, n_bigrams, avg_surprisal)`. */
  private def bigramSurprisalDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val bg = t
      .select(col("doc_id"), explode(expr(
        """zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
          |         slice(toks, 2, greatest(size(toks) - 1, 0)),
          |         (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // The r13 `bg.cache()` here was a measured regression (caching the
    // corpus-wide instance stream cost more than re-running the narrow
    // zip_with explode once for the fit and once for the probe); removed
    // in r14. The fit itself is checkpointed instead: the bigram-TYPE
    // model (|types| rows, the reduced frame) feeds ctx derivation and
    // the probe join without re-aggregating the instance stream (§2.3/§5).
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
    // ctx derives from the bigram-TYPE counts (Σ_w2 c12 ≡ the bigram
    // instance count per w1) — aggregating |types| rows instead of
    // re-aggregating the full instance stream (r13, §2.3)
    val cx = bc.groupBy("w1").agg(sum("c12").as("ctx"))
    val vs = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct("tok").as("v"))
    // attach ctx to the TYPE table first (types-level join), so the
    // instance stream crosses ONE join instead of two (r14, §2.4); inner
    // joins — every bc row's w1 exists in cx, so bc ⋈ cx preserves bc
    bg.join(bc.join(cx, Seq("w1")), Seq("w1", "w2"))
      .crossJoin(broadcast(vs))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(-log((col("c12") + lit(1.0)) / (col("ctx") + col("v"))))
          / count(lit(1)), 4).as("avg_surprisal"))
  }

  val textBigramLogprob = sql(
    "text_bigram_logprob",
    s"""WITH $bigramSurprisalSqlCte
       |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, avg_surprisal
       |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
    bigramSurprisalDf(s, d).orderBy("doc_id")
  }

  /** CCNet-STYLE PARAGRAPH FILTER — the sub-document quality pass CCNet
    * actually runs (Wenzek et al. 2020 operate on paragraphs, not
    * documents): every paragraph is scored by mean bigram surprisal under
    * the CORPUS-trained add-1 LM (the `text_bigram_logprob` model — same
    * `bc`/`cx`/`vs` CTEs, the model cannot fork), paragraphs noisier than
    * the corpus mean are DROPPED, and each document is reconstructed from
    * its kept paragraphs in order (the cleaned text's md5 is the output
    * contract — the same digest discipline as `dedup_span_remove`).
    * Paragraph bigrams can be UNSEEN by the document-trained model
    * (boundary periods change tokens), so scoring left-joins with add-1
    * fallbacks (c12→0, ctx→0) instead of the doc chain's inner joins.
    * Paragraphs too short to score (<2 tokens) carry no evidence and are
    * kept.
    *
    * EXACT ARITHMETIC at the cut: per-paragraph scores round to 4 dp and
    * lift to ×10⁴ BIGINTs, and "noisier than the corpus mean" is the
    * cross-multiplied integer predicate pi·N > Σpi (HUGEINT/DECIMAL(38)
    * sums — corpus-scale paragraph counts cannot overflow) — no float
    * mean ever exists, so the keep set is bit-identical across engines
    * and reduction orders.
    *
    * Scale shape: the model is the linear bigram chain; paragraph scoring
    * is one partial-aggregable (doc, idx) groupBy; the threshold is a
    * broadcast 1-row aggregate; reconstruction sorts only WITHIN a
    * document's own paragraph list. No window, no pair join. */
  val textParagraphFilter = sql(
    "text_paragraph_filter",
    s"""WITH $bigramSurprisalSqlCte,
       |p AS (SELECT doc_id, string_split(text, '. ') AS ps FROM documents),
       |px AS (SELECT doc_id, unnest(ps) AS para,
       |              generate_subscripts(ps, 1) - 1 AS idx
       |       FROM p),
       |ptk AS (SELECT doc_id, idx, para, string_split(para, ' ') AS pt FROM px),
       |pbg AS (SELECT doc_id, idx, unnest(pt[1:len(pt)-1]) AS w1,
       |               unnest(pt[2:len(pt)]) AS w2
       |        FROM ptk WHERE len(pt) >= 2),
       |psc AS (SELECT doc_id, idx,
       |               CAST(round(round(sum(-ln((coalesce(c12, 0) + 1.0)
       |                                        / (coalesce(ctx, 0) + v)))
       |                                / count(*), 4) * 10000, 0) AS BIGINT) AS pi
       |        FROM pbg LEFT JOIN bc USING (w1, w2) LEFT JOIN cx USING (w1)
       |        CROSS JOIN vs
       |        GROUP BY doc_id, idx),
       |thr AS (SELECT sum(CAST(pi AS HUGEINT)) AS sp, count(*) AS np FROM psc),
       |keepp AS (SELECT x.doc_id, x.idx, x.para
       |          FROM px x
       |          LEFT JOIN psc s ON s.doc_id = x.doc_id AND s.idx = x.idx
       |          CROSS JOIN thr
       |          WHERE s.pi IS NULL OR CAST(s.pi AS HUGEINT) * thr.np <= thr.sp),
       |kagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |                md5(string_agg(para, '. ' ORDER BY idx)) AS clean_md5
       |         FROM keepp GROUP BY doc_id),
       |pagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
       |         FROM px GROUP BY doc_id)
       |SELECT pagg.doc_id, pagg.n_paras,
       |       coalesce(kagg.n_kept, 0) AS n_kept,
       |       round(coalesce(kagg.n_kept, 0) * 1.0 / pagg.n_paras, 4) AS kept_frac,
       |       kagg.clean_md5
       |FROM pagg LEFT JOIN kagg ON kagg.doc_id = pagg.doc_id
       |ORDER BY pagg.doc_id""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val bg = t
      .select(col("doc_id"), explode(expr(
        """zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
          |         slice(toks, 2, greatest(size(toks) - 1, 0)),
          |         (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // ctx from the bigram-type counts (Σ_w2 c12; r13, §2.3) — the doc
    // bigram stream is now read exactly once (the bc fit)
    val cx = bc.groupBy("w1").agg(sum("c12").as("ctx"))
    val vs = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct("tok").as("v"))
    val px = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), "\\. "))
        .as(Seq("idx", "para")))
      .cache() // read three ways: scoring, keep-join, per-doc totals
    val pbg = px.withColumn("pt", split(col("para"), " "))
      .filter(size(col("pt")) >= 2)
      .select(col("doc_id"), col("idx"), explode(expr(
        """zip_with(slice(pt, 1, greatest(size(pt) - 1, 0)),
          |         slice(pt, 2, greatest(size(pt) - 1, 0)),
          |         (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("b"))
      .select(col("doc_id"), col("idx"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val psc = pbg
      .join(bc, Seq("w1", "w2"), "left")
      .join(cx, Seq("w1"), "left")
      .crossJoin(broadcast(vs))
      .groupBy("doc_id", "idx")
      .agg(round(round(sum(-log((coalesce(col("c12"), lit(0)) + lit(1.0))
          / (coalesce(col("ctx"), lit(0)) + col("v"))))
          / count(lit(1)), 4) * 10000, 0).cast("long").as("pi"))
    val thr = psc.agg(sum(col("pi").cast("decimal(38,0)")).as("sp"),
      count(lit(1)).as("np"))
    val keepp = px
      .join(psc, Seq("doc_id", "idx"), "left")
      .crossJoin(broadcast(thr))
      .filter(col("pi").isNull ||
        col("pi").cast("decimal(38,0)") * col("np") <= col("sp"))
    val kagg = keepp.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(expr(
          "array_join(transform(array_sort(collect_list(struct(idx, para))), x -> x.para), '. ')"))
          .as("clean_md5"))
    val pagg = px.groupBy("doc_id").agg(count(lit(1)).as("n_paras"))
    pagg.join(kagg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(coalesce(col("n_kept"), lit(0L)) * lit(1.0) / col("n_paras"), 4)
          .as("kept_frac"),
        col("clean_md5"))
      .orderBy("doc_id")
  }

  /** INTERPOLATED KNESER-NEY bigram surprisal — the smoothing KenLM
    * actually ships (add-1 systematically over-penalizes seen bigrams in
    * Zipfian text; KN discounts each count by D and backs off to the
    * CONTINUATION probability "how many contexts does w2 follow", the
    * correct novelty prior):
    *
    *   P(w2|w1) = (max(c12 − D, 0) + D·N1+(w1,·)·Pcont(w2)) / c(w1),
    *   Pcont(w2) = N1+(·,w2) / |bigram types|,  D = 0.75
    *
    * Trained on the scoring corpus itself so every scored bigram has
    * c12 ≥ 1 — no zero-probability path. All model statistics are exact
    * integer counts; the only floats are the final per-bigram formula and
    * the 4-dp-rounded per-doc mean (the `text_bigram_logprob` float
    * policy).
    *
    * Scale shape: identical to `text_bigram_logprob` — three
    * partial-aggregable count frames (c12, c(w1)+N1+(w1,·) fused in ONE
    * groupBy, N1+(·,w2)), one broadcast scalar (type count), equi-joins
    * back, per-doc mean. No window, no pair join. */
  val textBigramKn = sql(
    "text_bigram_kn",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bg AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
      |              unnest(toks[2:len(toks)]) AS w2 FROM t),
      |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
      |cx AS (SELECT w1, count(*) AS ctx, count(DISTINCT w2) AS n1p_fwd
      |       FROM bg GROUP BY w1),
      |cw AS (SELECT w2, count(DISTINCT w1) AS n1p_bwd FROM bg GROUP BY w2),
      |ty AS (SELECT count(*) AS n_types FROM bc),
      |sc AS (SELECT doc_id, count(*) AS n_bigrams,
      |              round(sum(-ln((greatest(c12 - 0.75, 0)
      |                             + 0.75 * n1p_fwd * n1p_bwd / n_types)
      |                            / ctx)) / count(*), 4) AS kn_surprisal
      |       FROM bg JOIN bc USING (w1, w2) JOIN cx USING (w1)
      |       JOIN cw USING (w2) CROSS JOIN ty
      |       GROUP BY doc_id)
      |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, kn_surprisal
      |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val bg = t
      .select(col("doc_id"), explode(expr(
        """zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
          |         slice(toks, 2, greatest(size(toks) - 1, 0)),
          |         (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val cx = bg.groupBy("w1").agg(count(lit(1)).as("ctx"),
      countDistinct("w2").as("n1p_fwd"))
    val cw = bg.groupBy("w2").agg(countDistinct("w1").as("n1p_bwd"))
    val ty = bc.agg(count(lit(1)).as("n_types"))
    val p = (greatest(col("c12") - lit(0.75), lit(0)) +
      lit(0.75) * col("n1p_fwd") * col("n1p_bwd") / col("n_types")) / col("ctx")
    bg.join(bc, Seq("w1", "w2")).join(cx, Seq("w1")).join(cw, Seq("w2"))
      .crossJoin(broadcast(ty))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(-log(p)) / count(lit(1)), 4).as("kn_surprisal"))
      .orderBy("doc_id")
  }

  /** CCNet-STYLE PERPLEXITY BUCKETS — the standard corpus triage: per
    * LANGUAGE, rank documents by LM score (here the bigram surprisal —
    * CCNet uses a KenLM 5-gram; the bucketing is the part that matters)
    * and cut into head / middle / tail terciles. Training recipes then
    * up-sample head and drop or down-weight tail per language, so the cut
    * must be per-lang: absolute surprisal is not comparable across
    * languages (different vocab sizes and token statistics).
    *
    * Determinism: the tercile runs on the 4-dp-ROUNDED surprisal with a
    * doc_id tie-break, so both engines cut identically; ntile's group
    * sizes differ by at most 1 (SQL-standard larger-groups-first on both
    * engines). Docs with <2 tokens have no bigram score and drop out —
    * they never reach a bucket (a length gate catches them upstream).
    *
    * Scale shape: the surprisal chain is the linear `text_bigram_logprob`
    * plan; the only addition is ONE window partitioned by lang. At 100 TB
    * a per-lang sort is the bottleneck; the production cut replaces ntile
    * with approx_percentile cutoffs (partial-aggregable, broadcast back,
    * bucket by comparison) at the cost of exact tercile boundaries — this
    * query keeps the exact cut because the certificate needs bit-equal
    * buckets on both engines. */
  val textPplBuckets = sql(
    "text_ppl_buckets",
    s"""WITH $bigramSurprisalSqlCte,
       |j AS (SELECT d.doc_id, d.lang, s.avg_surprisal
       |      FROM documents d JOIN sc s ON s.doc_id = d.doc_id),
       |b AS (SELECT doc_id, lang, avg_surprisal,
       |             ntile(3) OVER (PARTITION BY lang
       |                            ORDER BY avg_surprisal, doc_id) AS t3
       |      FROM j)
       |SELECT doc_id, lang, avg_surprisal,
       |       CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
       |         AS ppl_bucket
       |FROM b ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(col("avg_surprisal"), col("doc_id"))
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(bigramSurprisalDf(s, d).select("doc_id", "avg_surprisal"), "doc_id")
      .withColumn("t3", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("avg_surprisal"),
        when(col("t3") === 1, "head").when(col("t3") === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** Per-doc unigram SHANNON ENTROPY in bits — the compressibility /
    * repetitiveness score (a near-zero-entropy doc is keyboard mash or
    * boilerplate; the filter complements `text_repetition`'s exact-ratio
    * gates with an information-theoretic one). H = log₂n − (Σc·log₂c)/n
    * over whitespace-token counts — the counts are exact integers, both
    * engines feed IDENTICAL integers to log2, and the per-doc mean is
    * rounded 4 dp to absorb accumulation order (the `text_unigram_logprob`
    * float discipline).
    *
    * Scale shape: tokenize once, two partial-aggregable groupBys
    * ((doc, tok) counts, then per-doc fold) — linear, no window, no join
    * at all. */
  val textEntropy = sql(
    "text_entropy",
    """WITH tc AS (SELECT doc_id, tok, count(*) AS c
      |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |                  FROM documents)
      |            GROUP BY doc_id, tok)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |       round(log2(CAST(sum(c) AS DOUBLE))
      |             - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) / sum(c), 4)
      |         AS entropy_bits
      |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val tc = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
    tc.groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        round(log2(sum("c").cast("double"))
          - sum(col("c").cast("double") * log2(col("c").cast("double"))) / sum("c"), 4)
          .as("entropy_bits"))
      .orderBy("doc_id")
  }

  /** LARGEST DUPLICATE CLUSTERS report — which boilerplate dominates the
    * crawl: the top-10 near-dup clusters by size with the canonical example
    * doc. The per-cluster rollup `corpus_dup_stats` can't show this (it
    * aggregates by source); an operator reads this list to decide whether a
    * mega-cluster is legal text (keep one) or a crawler artifact (drop
    * all).
    *
    * Scale shape: cluster labels come from the same bounded MinHash-LSH
    * pipeline as `dedup_clusters`; the report is one partial-aggregable
    * groupBy on the label and a TakeOrdered top-10 (plan-guarded — never a
    * global sort of all clusters). */
  val dedupTopClusters = sql(
    "dedup_top_clusters",
    s"""WITH RECURSIVE $clusterLabelsSqlCte
       |SELECT root AS cluster, count(*) AS sz, min(doc_id) AS example_doc
       |FROM cc GROUP BY root HAVING count(*) > 1
       |ORDER BY sz DESC, cluster LIMIT 10""".stripMargin) { (s, d) =>
    clusterLabels(s, d)
      .groupBy("cluster")
      .agg(count(lit(1)).as("sz"), min("doc_id").as("example_doc"))
      .filter(col("sz") > 1)
      .orderBy(col("sz").desc, col("cluster"))
      .limit(10)
  }

  /** ZIPF-LAW FIT — least-squares slope of ln(freq) on ln(rank) over the
    * top-1000 vocabulary: natural language sits near −1; a corpus of
    * templated or machine-generated text drifts flat (the distribution
    * check complementing the per-doc gates — it grades the CORPUS, not a
    * document). Closed-form regression from five partial-aggregable sums;
    * rank is deterministic ((cnt DESC, tok) total order).
    *
    * Scale shape: vocabulary counts are the usual one-shuffle groupBy; the
    * top-1000 cut is TakeOrdered (plan-guarded, never a global vocab
    * sort); the ranking window runs over the 1000-row RESULT of that cut —
    * bounded by construction, not by data. */
  val textZipfFit = sql(
    "text_zipf_fit",
    """WITH vocab AS (
      |  SELECT tok, count(*) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> '' GROUP BY tok),
      |ranked AS (
      |  SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) AS x,
      |         ln(CAST(cnt AS DOUBLE)) AS y
      |  FROM vocab
      |  ORDER BY cnt DESC, tok LIMIT 1000)
      |SELECT count(*) AS n,
      |       round((count(*) * sum(x * y) - sum(x) * sum(y))
      |             / (count(*) * sum(x * x) - sum(x) * sum(x)), 4) AS slope,
      |       round((sum(y) - (count(*) * sum(x * y) - sum(x) * sum(y))
      |                       / (count(*) * sum(x * x) - sum(x) * sum(x)) * sum(x))
      |             / count(*), 4) AS intercept
      |FROM ranked""".stripMargin) { (s, d) =>
    val vocab = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(1000)
    // rank within the bounded top-1000 frame (TakeOrdered output), never
    // over the full vocabulary
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("tok"))
    val ranked = vocab
      .select(log(row_number().over(w).cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    val n = count(lit(1))
    val slope = (n * sum(col("x") * col("y")) - sum("x") * sum("y")) /
      (n * sum(col("x") * col("x")) - sum("x") * sum("x"))
    ranked.agg(n.as("n"), round(slope, 4).as("slope"),
      round((sum("y") - slope * sum("x")) / n, 4).as("intercept"))
  }

  /** SIMHASH PRECISION CERTIFICATE — the cross-signal grade: every pair
    * the Hamming-LSH simhash path flags (distance ≤ 1) is scored against
    * the EXACT shingle Jaccard over the df-capped universe, and the
    * certificate reports how many flagged pairs are true near-dups
    * (J ≥ 0.5). `dedup_minhash_est` grades MinHash's ESTIMATE against
    * exact Jaccard; this grades SimHash's DECISIONS — together they price
    * both approximate dedup signals before anyone trusts them at 100 TB.
    * A flagged pair absent from the shingle candidate set scores J = 0
    * (it shares no capped shingle at all — the certificate counts that as
    * the false positive it is, rather than silently dropping it).
    *
    * Scale shape: the flagged set is the already-bounded simhash pair
    * output; the exact-J lookup LEFT-joins it against the capped pair
    * scaffolding (linear, the same discipline as the queries it grades);
    * the report is one global aggregate row. */
  private val simhashPrecOracleSql: String =
    s"""WITH $cappedPairsSqlCte,
       |${simhashPairsSqlWith("sx")},
       |scored AS (
       |  SELECT coalesce(p.common * 1.0 / (sa.n + sb.n - p.common), 0.0) AS ej
       |  FROM sxpairs sp
       |  LEFT JOIN pairs p ON p.da = sp.da AND p.db = sp.db
       |  LEFT JOIN sizes sa ON sa.doc_id = sp.da
       |  LEFT JOIN sizes sb ON sb.doc_id = sp.db)
       |SELECT count(*) AS n_flagged,
       |       CAST(sum(CASE WHEN ej >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
       |       round(avg(ej), 4) AS mean_exact_j,
       |       round(sum(CASE WHEN ej >= 0.5 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
       |         AS prec
       |FROM scored""".stripMargin

  /** The certificate's report aggregation over (flagged pairs, capped
    * pairs+sizes) — ONE definition read by both the recompute query and
    * its materialized twin, so the grading formula cannot fork. */
  private def simhashPrecReport(flagged: org.apache.spark.sql.DataFrame,
      capped: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ej = coalesce(
      col("common") * lit(1.0) / (col("na") + col("nb") - col("common")),
      lit(0.0))
    val hit = when(ej >= 0.5, 1L).otherwise(0L)
    flagged
      .join(capped, Seq("da", "db"), "left")
      .agg(count(lit(1)).as("n_flagged"),
        sum(hit).as("n_near_dup"),
        round(avg(ej), 4).as("mean_exact_j"),
        round(sum(hit) * lit(1.0) / count(lit(1)), 4).as("prec"))
  }

  val dedupSimhashPrec = sql("dedup_simhash_prec", simhashPrecOracleSql) {
    (s, d) =>
      simhashPrecReport(dedupSimhashPairs.fn(s, d).select("da", "db"),
        cappedPairsWithSizes(s, d))
  }

  /** The MATERIALIZED twin of `dedup_simhash_prec` — the
    * `dedup_labels_materialized` snapshot discipline generalized to the
    * OTHER two expensive fingerprint frames: the df-capped exact-pair
    * scaffolding (pairs+sizes) and the simhash-flagged pair set are each
    * computed ONCE per corpus snapshot, written as parquet, and the
    * certificate reads the snapshots. Same oracle SQL as the recompute
    * twin ON PURPOSE: the driver's hash compare is the bit-identity proof.
    * At 100 TB this is the deployment shape — every consumer of the
    * capped-pair frame (jaccard/containment/minhash-est/this certificate)
    * joins the snapshot instead of re-running shingle→df-cap→self-join,
    * and the simhash chain runs once per corpus, not once per grader. */
  val dedupSimhashPrecMaterialized = sql(
    "dedup_simhash_prec_materialized", simhashPrecOracleSql) { (s, d) =>
    simhashPrecReport(
      Snapshots.parquet(s, d, "simhash-flagged")(
        dedupSimhashPairs.fn(s, d).select("da", "db").repartition(col("da"))),
      sharedCappedPairs(s, d))
  }

  /** EXACT-SUBSTRING duplicate runs (the suffix-array dedup of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * re-expressed relationally): maximal runs of ≥8 consecutive shared
    * tokens between document pairs, found WITHOUT a suffix array —
    * 8-gram anchors with positions, a df-capped inverted index, then
    * gaps-and-islands on each pair's DIAGONAL (pos_a − pos_b): anchors
    * that advance in lockstep on one diagonal are one maximal run of
    * `anchors + 7` tokens. Output is the per-pair run profile (n_runs,
    * longest run, total duplicated tokens) — the thing you'd feed a
    * span-removal pass.
    *
    * Scale shape: the inverted index drops grams in >50 docs BEFORE the
    * self-join (boilerplate is the quadratic hazard — same discipline as
    * the shingle family), so pairs stay linear in true duplicate volume;
    * the islands window is partitioned by (doc_a, doc_b, diag) — bounded
    * by a single pair's overlap, never corpus-sized; the digest (not the
    * gram text) is the shuffle key. */
  /** The shared maximal-run scaffolding of the substring-dedup pair — SQL
    * CTE chain ending in `runs(da, db, start_a, start_b, run_tokens)` and
    * the matching Spark builder. ONE definition so the anchor/df-cap/
    * diagonal-island semantics cannot fork between the report
    * (`text_substring_dup`) and the removal pass (`dedup_span_remove`). */
  private val substringRunsSqlCte: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |              WHERE len(string_split(text, ' ')) >= 8),
      |gi AS (SELECT doc_id, unnest(range(1, len(t) - 6)) AS i, t FROM toks),
      |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |             md5(array_to_string(t[i:i+7], ' ')) AS h
      |      FROM gi),
      |df AS (SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h),
      |keep AS (SELECT h FROM df WHERE nd BETWEEN 2 AND 50),
      |gk AS (SELECT g.doc_id, g.pos, g.h FROM g JOIN keep USING (h)),
      |p AS (SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db, b.pos AS pb,
      |             a.pos - b.pos AS diag
      |      FROM gk a JOIN gk b ON a.h = b.h AND a.doc_id < b.doc_id),
      |isl AS (SELECT da, db, diag, pa,
      |               pa - row_number() OVER (PARTITION BY da, db, diag
      |                                       ORDER BY pa) AS grp
      |        FROM p),
      |runs AS (SELECT da, db, min(pa) AS start_a, min(pa) - diag AS start_b,
      |                CAST(count(*) + 7 AS BIGINT) AS run_tokens
      |         FROM isl GROUP BY da, db, diag, grp)""".stripMargin

  private def substringRuns(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // h is the 16-BYTE digest, not the 32-char hex string (r13, §2.3:
    // the gram key is only ever an equality key — unhex halves the df
    // aggregation's and candidate join's shuffle width; output columns
    // carry only doc ids/positions, so equality classes are all that
    // matters and the oracle's hex-string keys cannot fork). The frame is
    // CACHED: the df aggregate and the index join both read it, and
    // un-cached each re-ran the per-gram md5 explode — the chain's
    // dominant CPU (§2.4: don't recompute what two consumers share).
    val g = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(t) - 8), i -> unhex(md5(array_join(slice(t, i + 1, 8), ' '))))"))
        .as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
      .cache()
    val keep = g.groupBy("h").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd").between(2, 50)).select("h")
    val gk = g.join(keep, "h")
    val p = gk.select(col("h"), col("doc_id").as("da"), col("pos").as("pa"))
      .join(gk.select(col("h"), col("doc_id").as("db"), col("pos").as("pb")), "h")
      .filter(col("da") < col("db"))
      .select(col("da"), col("pa"), col("db"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
    val wIsl = Window.partitionBy("da", "db", "diag").orderBy("pa")
    p.withColumn("grp", col("pa") - row_number().over(wIsl))
      .groupBy("da", "db", "diag", "grp")
      .agg(min("pa").as("start_a"),
        (min("pa") - col("diag")).as("start_b"),
        (count(lit(1)) + 7).as("run_tokens"))
  }

  val textSubstringDup = sql(
    "text_substring_dup",
    s"""WITH $substringRunsSqlCte
      |SELECT da, db, CAST(count(*) AS BIGINT) AS n_runs,
      |       max(run_tokens) AS max_run_tokens,
      |       CAST(sum(run_tokens) AS BIGINT) AS dup_tokens
      |FROM runs GROUP BY da, db ORDER BY da, db""".stripMargin) { (s, d) =>
    substringRuns(s, d).groupBy("da", "db")
      .agg(count(lit(1)).as("n_runs"),
        max("run_tokens").as("max_run_tokens"),
        sum("run_tokens").as("dup_tokens"))
      .orderBy("da", "db")
  }

  /** SPAN REMOVAL — the pass `text_substring_dup` only reports: actually
    * strip the duplicated runs from the corpus, keeping the FIRST copy
    * (the smaller-doc_id side of every pair, Lee et al.'s
    * keep-one-occurrence rule) and emit the per-doc cleaned profile —
    * token counts before/after and the md5 of the reconstructed cleaned
    * text, the fingerprint a shard writer would persist. A doc whose
    * every token is covered (fully contained in an earlier doc) comes out
    * with n_kept 0 and the md5 of the empty string, not a dropped row.
    *
    * Scale shape: shares the `runs` scaffolding (anchors, df≤50 cap,
    * diagonal islands — all bounded by true duplicate volume); the cover
    * set explodes each run into its token positions (linear in duplicated
    * tokens), removal is one (doc_id, pos) anti-join, and reconstruction
    * is a per-doc sort-by-position aggregation bounded by document
    * length. Nothing corpus-quadratic anywhere. */
  val dedupSpanRemove = sql(
    "dedup_span_remove",
    s"""WITH $substringRunsSqlCte,
      |cov AS (SELECT DISTINCT db AS doc_id,
      |               CAST(unnest(range(start_b, start_b + run_tokens)) AS BIGINT)
      |                 AS pos
      |        FROM runs),
      |tl0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tli AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t FROM tl0),
      |tl AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[CAST(i AS INT)] AS tok
      |       FROM tli),
      |kp AS (SELECT tl.doc_id, tl.pos, tl.tok
      |       FROM tl LEFT JOIN cov
      |         ON cov.doc_id = tl.doc_id AND cov.pos = tl.pos
      |       WHERE cov.pos IS NULL),
      |sel AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |               string_agg(tok, ' ' ORDER BY pos) AS txt
      |        FROM kp GROUP BY doc_id)
      |SELECT d.doc_id,
      |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |       CAST(len(string_split(d.text, ' ')) - coalesce(k.n_kept, 0)
      |            AS BIGINT) AS n_removed,
      |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
      |       md5(coalesce(k.txt, '')) AS kept_md5
      |FROM documents d LEFT JOIN sel k ON k.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    // The maximal-run frame is SHARED index state (r14, the verdict-#5
    // pattern): the removal pass reads the snapshot of the runs its
    // sibling report computes — one anchor-index build per
    // (application, corpus). `text_substring_dup` keeps the full inline
    // recompute as the from-raw anchor. The frame is reduced (one row
    // per maximal run, bounded by true duplicate volume), so the
    // snapshot is small wherever the corpus is clean.
    val runsShared = Snapshots.parquet(s, d, "substring-runs")(
      substringRuns(s, d).repartition(col("da")))
    // cov is pinned to hash(doc_id) — a PREFIX of the anti-join keys — so
    // the join co-partitions BOTH sides on doc_id alone (SPARK-35703
    // subset-key co-partitioning) and the groupBy(doc_id) below inherits
    // the layout instead of re-exchanging the full kept-token frame
    // (r13, §2.4: two operations keyed the same way share one exchange).
    val cov = runsShared
      .select(col("db").as("doc_id"),
        explode(expr("sequence(start_b, start_b + run_tokens - 1)")).as("pos"))
      .distinct()
      .repartition(col("doc_id"))
    val tl = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val sel = tl.join(cov, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"))
          .as("txt"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("txt"), lit("")).cast("binary")).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** TOKEN-WEIGHTED dedup yield — what near-dup dedup actually SAVES:
    * `corpus_dup_stats` counts duplicate documents; the training-budget
    * question is duplicate TOKENS. Per source: total tokens, tokens kept
    * under keep-one-per-cluster (the canonical doc), tokens saved, save
    * rate — the number that decides whether the dedup pass pays for
    * itself on a given crawl. Shares `clusterLabels` with the rest of the
    * cluster family (the oracle re-derives it via the recursive CTE), so
    * the yield cannot fork from the labels it prices.
    *
    * Scale shape: one doc_id equi-join of labels onto the token counts,
    * one partial-aggregable per-source roll-up — nothing beyond what
    * `corpus_dup_stats` already pays. */
  val corpusDedupYield = sql(
    "corpus_dedup_yield",
    s"""WITH RECURSIVE $clusterLabelsSqlCte
       |SELECT d.source,
       |       CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens,
       |       CAST(sum(CASE WHEN c.root = c.doc_id
       |                     THEN len(string_split(d.text, ' ')) ELSE 0 END) AS BIGINT)
       |         AS kept_tokens,
       |       CAST(sum(CASE WHEN c.root <> c.doc_id
       |                     THEN len(string_split(d.text, ' ')) ELSE 0 END) AS BIGINT)
       |         AS saved_tokens,
       |       round(sum(CASE WHEN c.root <> c.doc_id
       |                      THEN len(string_split(d.text, ' ')) ELSE 0 END) * 1.0
       |             / sum(len(string_split(d.text, ' '))), 4) AS save_rate
       |FROM cc c JOIN documents d ON c.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val kept = when(col("cluster") === col("doc_id"), col("n_tok")).otherwise(0L)
    val saved = when(col("cluster") =!= col("doc_id"), col("n_tok")).otherwise(0L)
    clusterLabels(s, d).join(toks, "doc_id")
      .groupBy("source")
      .agg(sum("n_tok").as("total_tokens"),
        sum(kept).as("kept_tokens"),
        sum(saved).as("saved_tokens"),
        round(sum(saved) * lit(1.0) / sum("n_tok"), 4).as("save_rate"))
      .orderBy("source")
  }

  /** DUPLICATION PARETO — how concentrated the dedup win is: the top-20
    * clusters by duplicated TOKENS with each cluster's cumulative share
    * of the corpus-wide duplicate-token total. If the curve saturates in
    * a handful of clusters (boilerplate), a cheap targeted blocklist
    * recovers most of `corpus_dedup_yield`'s savings without running the
    * full pipeline — the prioritization read every dedup rollout starts
    * with.
    *
    * Scale shape: per-cluster token roll-up (partial-aggregable), the
    * duplicate-token total as a broadcast 1-row scalar, top-20 via
    * TakeOrdered (exact integer rank, cluster tie-break), and the
    * cumulative-share window runs over the BOUNDED 20-row top list (the
    * `text_zipf_fit` frame argument) — never the cluster universe. */
  val dedupParetoTopk = sql(
    "dedup_pareto_topk",
    s"""WITH RECURSIVE $clusterLabelsSqlCte,
       |tk AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
       |cl AS (SELECT c.root AS cluster,
       |              CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(CASE WHEN c.doc_id <> c.root THEN tk.n_tok
       |                            ELSE 0 END) AS BIGINT) AS dup_tokens
       |       FROM cc c JOIN tk ON tk.doc_id = c.doc_id
       |       GROUP BY c.root),
       |tot AS (SELECT sum(dup_tokens) AS total_dup FROM cl),
       |top AS (SELECT cluster, n_docs, dup_tokens FROM cl
       |        ORDER BY dup_tokens DESC, cluster LIMIT 20),
       |r AS (SELECT cluster, n_docs, dup_tokens,
       |             CAST(row_number() OVER (ORDER BY dup_tokens DESC, cluster)
       |                  AS INT) AS rank,
       |             sum(dup_tokens) OVER (ORDER BY dup_tokens DESC, cluster
       |                                   ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM top)
       |SELECT r.rank, r.cluster, r.n_docs, r.dup_tokens,
       |       CASE WHEN t.total_dup = 0 THEN 0.0
       |            ELSE round(r.cum * 1.0 / t.total_dup, 4) END AS cum_share
       |FROM r CROSS JOIN tot t ORDER BY r.rank""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val cl = clusterLabels(s, d).join(tk, "doc_id")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("cluster"), col("n_tok")).otherwise(0L))
          .as("dup_tokens"))
    val tot = cl.agg(sum("dup_tokens").as("total_dup"))
    val top = cl.orderBy(col("dup_tokens").desc, col("cluster")).limit(20)
    val o = Window.orderBy(col("dup_tokens").desc, col("cluster")) // 20-row frame
    top
      .withColumn("rank", row_number().over(o).cast("int"))
      .withColumn("cum", sum("dup_tokens")
        .over(o.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("cluster"), col("n_docs"), col("dup_tokens"),
        when(col("total_dup") === 0, lit(0.0))
          .otherwise(round(col("cum") * lit(1.0) / col("total_dup"), 4))
          .as("cum_share"))
      .orderBy("rank")
  }

  /** One BPE merge round in the oracle SQL, from `seg$r(word, n, i, sym)`
    * to `seg${r+1}` + the chosen merge `bt$r(a, b, c)`. Greedy leftmost
    * pairing is exact-relational: match positions can only be ADJACENT
    * when a = b (pos i and i+1 both matching forces sym[i+1] = b = a), so
    * islands of consecutive matches + even-offset parity reproduce the
    * left-to-right non-overlapping scan ("aaaa" → [aa][aa], "aaa" →
    * [aa][a]) without any sequential fold. */
  private def bpeRoundSql(r: Int, sfx: String = ""): String = {
    val (s, s1) = (s"seg$sfx$r", s"seg$sfx${r + 1}")
    // MATERIALIZED is the oracle-side twin of the Spark loop's
    // localCheckpoint: each round references the previous segmentation
    // ~10×, so DuckDB's default CTE inlining re-expands the base subtree
    // ~10^N times — N=5 exhausted the fd limit on parquet opens before it
    // could even run. Materializing pr/bt/$s1 keeps the oracle linear in N
    // exactly as the checkpoint keeps the Spark plan linear in N.
    s"""pr$sfx$r AS MATERIALIZED (
       |         SELECT x.word, x.n, x.i, x.sym AS a, y.sym AS b
       |         FROM $s x JOIN $s y ON x.word = y.word AND y.i = x.i + 1),
       |bt$sfx$r AS MATERIALIZED (
       |         SELECT a, b, c FROM
       |           (SELECT a, b, sum(n) AS c FROM pr$sfx$r GROUP BY a, b)
       |         ORDER BY c DESC, a, b LIMIT 1),
       |mp$sfx$r AS (SELECT p.word, p.i FROM pr$sfx$r p
       |         JOIN bt$sfx$r t ON p.a = t.a AND p.b = t.b),
       |il$sfx$r AS (SELECT word, i,
       |                i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
       |         FROM mp$sfx$r),
       |sl$sfx$r AS (SELECT word, i FROM
       |           (SELECT word, i,
       |                   i - min(i) OVER (PARTITION BY word, grp) AS off
       |            FROM il$sfx$r) WHERE off % 2 = 0),
       |rb$sfx$r AS (SELECT g.word, g.n, g.i,
       |                CASE WHEN m1.i IS NOT NULL THEN t.a || t.b
       |                     WHEN m2.i IS NOT NULL THEN NULL
       |                     ELSE g.sym END AS sym
       |         FROM $s g CROSS JOIN bt$sfx$r t
       |         LEFT JOIN sl$sfx$r m1 ON g.word = m1.word AND g.i = m1.i
       |         LEFT JOIN sl$sfx$r m2 ON g.word = m2.word AND g.i = m2.i + 1),
       |$s1 AS MATERIALIZED (
       |        SELECT word, n,
       |               CAST(row_number() OVER (PARTITION BY word ORDER BY i)
       |                    AS BIGINT) AS i, sym
       |        FROM rb$sfx$r WHERE sym IS NOT NULL)""".stripMargin
  }

  /** The shared oracle-SQL prefix of every BPE query: word-frequency
    * vocabulary + initial character segmentation + N chained merge-round
    * CTEs. The generator scales with the driver loop in [[bpeRoundsN]] —
    * one N, both engines. */
  private def bpeCtesFor(nRounds: Int, sfx: String, docWhere: String): String = {
    val where = if (docWhere.isEmpty) "" else s" WHERE $docWhere"
    s"""w$sfx AS (SELECT word, CAST(count(*) AS BIGINT) AS n
       |           FROM (SELECT unnest(string_split(text, ' ')) AS word
       |                 FROM documents$where)
       |           WHERE word <> '' GROUP BY word),
       |seg${sfx}1 AS (SELECT word, n,
       |                CAST(unnest(range(1, len(word) + 1)) AS BIGINT) AS i,
       |                substr(word, CAST(unnest(range(1, len(word) + 1)) AS INT), 1)
       |                  AS sym
       |         FROM w$sfx),
       |${(1 to nRounds).map(bpeRoundSql(_, sfx)).mkString(",\n")}""".stripMargin
  }

  private def bpeBaseSql(nRounds: Int): String =
    s"WITH ${bpeCtesFor(nRounds, "", "")}"

  /** The trainer's merge-table SELECT over N rounds' bt CTEs. */
  private def bpeTrainSql(nRounds: Int): String =
    s"""${bpeBaseSql(nRounds)}
       |SELECT r AS round, a, b, a || b AS merged, CAST(c AS BIGINT) AS pair_count
       |FROM (${(1 to nRounds)
             .map(r => s"SELECT $r AS r, * FROM bt$r")
             .mkString("\n      UNION ALL ")})
       |ORDER BY r""".stripMargin

  /** The trainer's Spark side over N rounds: stack the learned merges. */
  private def bpeTrainFrame(s: org.apache.spark.sql.SparkSession, d: String,
      nRounds: Int): org.apache.spark.sql.DataFrame = {
    val (bts, _) = bpeRoundsN(s, d, nRounds)
    bts.zipWithIndex.map { case (bt, idx) =>
      bt.select(lit(idx + 1).as("round"), col("a"), col("b"),
        concat(col("a"), col("b")).as("merged"),
        col("c").cast("long").as("pair_count"))
    }.reduce(_ unionByName _).orderBy("round")
  }

  /** BPE TOKENIZER TRAINING — N merge rounds of the Sennrich
    * et al. byte-pair-encoding trainer, the step `text_bigram_topk` only
    * scores candidates for: per round, count every adjacent symbol pair
    * over the word-type vocabulary weighted by word frequency, pick the
    * max (count DESC, then lexicographic — fully deterministic), and
    * apply it greedily leftmost to every word's segmentation. Output is
    * the learned merge table (round, pair, merged symbol, count) — the
    * artifact a tokenizer ships. N is a plain driver-loop parameter
    * ([[bpeRoundsN]]): the declared queries pin N=3 (this one, bench
    * continuity) and N=5 (`text_bpe_train_n5`, proving the oracle-SQL
    * generator and the loop scale together); a real training run dials
    * the same parameter to thousands.
    *
    * The greedy-overlap subtlety ("aaaa" must pair as [aa][aa], not
    * [aa]a[a]-style): adjacent match positions only occur when a = b, so
    * islands-of-consecutive-matches + even-offset parity reproduce the
    * sequential left-to-right scan exactly — spec-proven on a planted
    * repeated-letter fixture.
    *
    * Scale shape: training runs over the DEDUPLICATED word-type table
    * (the classic dict-of-words formulation — vocabulary-sized, not
    * corpus-sized, after one partial-aggregable word count); every window
    * is partitioned by word and bounded by word LENGTH; the chosen pair
    * is a 1-row aggregate broadcast back. No corpus-sized window, no pair
    * join beyond the i→i+1 self-join on the segmentation. */
  val textBpeTrain = sql("text_bpe_train", bpeTrainSql(3)) { (s, d) =>
    bpeTrainFrame(s, d, 3)
  }

  /** N=5 twin of `text_bpe_train`: same driver loop, same oracle-SQL
    * generator, two more rounds — the existence proof that the round count
    * is a genuine parameter (the oracle CTE chain and the Spark loop are
    * generated from the same N, so neither can silently cap out). */
  val textBpeTrainN5 = sql("text_bpe_train_n5", bpeTrainSql(5)) { (s, d) =>
    bpeTrainFrame(s, d, 5)
  }

  /** SAMPLED-TRAINER CERTIFICATE (round-9 VERDICT #3, the BPE deploy
    * shape): at 100 TB nobody trains a tokenizer on the firehose — you
    * train on a deterministic hash-sample and APPLY to everything
    * (`text_bpe_apply` is the apply side). This query prices that shape
    * the way the recall certificates price theirs: the merge table
    * trained on the doc_id % 4 == 0 key-sample (deterministic,
    * reproducible, engine-independent — the `sample_hash` discipline)
    * joined round-for-round against the full-corpus merge table, with an
    * `agree` flag per round. Both chains run the SAME round machinery
    * ([[bpeMergeRound]] / [[bpeRoundSql]] — one generator, two
    * instantiations), so the only degree of freedom is the sample itself.
    * Pair counts are included on both sides: where the rounds agree the
    * sampled count ≈ 1/4 the full count shows the sample measured the
    * same distribution; where they disagree the counts show WHY — on this
    * synthetic corpus the top pairs are near-ties (round 2 full: `in`
    * 2760 vs `ow` 2747, a 0.5% gap), so a 25% sample legitimately flips
    * the winner. That IS the certificate's finding: sample-training is
    * faithful exactly to the extent the merge distribution is separated,
    * and the emitted counts let an operator see the separation margin
    * instead of trusting a yes/no flag.
    *
    * Scale shape: two vocabulary-sized trainer chains (the sampled one
    * over ~1/4 the corpus scan), one N-row join at the end — strictly
    * cheaper than 2× `text_bpe_train`. */
  val textBpeTrainSampled = sql(
    "text_bpe_train_sampled",
    s"""WITH ${bpeCtesFor(3, "", "")},
       |${bpeCtesFor(3, "smp", "doc_id % 4 = 0")}
       |SELECT f.round, f.a, f.b, CAST(f.c AS BIGINT) AS pair_count,
       |       s.a AS a_sampled, s.b AS b_sampled,
       |       CAST(s.c AS BIGINT) AS pair_count_sampled,
       |       (f.a = s.a AND f.b = s.b) AS agree
       |FROM (${(1 to 3).map(r => s"SELECT $r AS round, * FROM bt$r")
                .mkString("\n      UNION ALL ")}) f
       |JOIN (${(1 to 3).map(r => s"SELECT $r AS round, * FROM btsmp$r")
                .mkString("\n      UNION ALL ")}) s
       |  USING (round)
       |ORDER BY round""".stripMargin) { (s, d) =>
    def table(bts: Seq[org.apache.spark.sql.DataFrame]) =
      bts.zipWithIndex.map { case (bt, idx) =>
        bt.select(lit(idx + 1).as("round"), col("a"), col("b"),
          col("c").cast("long"))
      }.reduce(_ unionByName _)
    // ONE corpus scan feeds BOTH trainers: the word-frequency aggregate
    // carries the full count and the sampled-subset count side by side
    // (vocabulary-sized, checkpointed once), and each chain segments its
    // own view — at 100 TB this halves the corpus reads of the
    // certificate without touching either trainer's arithmetic (the
    // sampled chain sees exactly the doc_id % 4 == 0 counts it would
    // have computed from its own scan; hash-identical to the two-scan
    // formulation, which remains the oracle's shape).
    val w2 = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"),
        sum(when(col("doc_id") % 4 === 0, 1L).otherwise(0L)).as("n_smp"))
      .localCheckpoint()
    val full = table(bpeRoundsFromSeg1(
        segOfW(w2.select(col("word"), col("n"))), 3)._1)
      .toDF("round", "a", "b", "pair_count")
    val sampled = table(bpeRoundsFromSeg1(
        segOfW(w2.filter(col("n_smp") > 0)
          .select(col("word"), col("n_smp").as("n"))), 3)._1)
      .toDF("round", "a_sampled", "b_sampled", "pair_count_sampled")
    full.join(sampled, "round")
      .withColumn("agree",
        col("a") === col("a_sampled") && col("b") === col("b_sampled"))
      .orderBy("round")
  }

  /** Initial character segmentation over the word-type vocabulary:
    * (word, n, i, sym). */
  /** Character segmentation of a word-frequency table `w(word, n)`. */
  private def segOfW(w: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    w.select(col("word"), col("n"),
      posexplode(expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))"))
        .as(Seq("p0", "sym")))
      .select(col("word"), col("n"), (col("p0") + 1).cast("long").as("i"),
        col("sym"))

  private[graft] def bpeSeg1(s: org.apache.spark.sql.SparkSession, d: String,
      docFilter: org.apache.spark.sql.Column = lit(true))
      : org.apache.spark.sql.DataFrame =
    segOfW(Tables.documents(s, d)
      .filter(docFilter)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n")))

  /** One BPE merge round: seg → (nextSeg, chosen merge bt(a, b, c)). The
    * plan shape is the scale contract (PlanSpec asserts it per-round):
    * every window word-partitioned, the winner a 1-row broadcast, pair
    * counts partial-aggregable, no cartesian beyond the 1-row winner. */
  private[graft] def bpeMergeRound(seg: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val wWord = Window.partitionBy("word").orderBy("i")
    val wRun = wWord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Adjacent pairs via lead(): i is DENSE 1..len within each word (seg1
    // builds it that way, every round's row_number restores it), so
    // lead(sym) IS the i+1 symbol — one word-partitioned window pass
    // instead of the (word, i+1) self-join that exchanged the
    // segmentation twice per round (r13, guide §2.4).
    val pr = seg
      .withColumn("b", lead("sym", 1).over(wWord))
      .filter(col("b").isNotNull)
      .select(col("word"), col("n"), col("i"), col("sym").as("a"), col("b"))
    val bt = pr.groupBy("a", "b").agg(sum("n").as("c"))
      .agg(min(struct((-col("c")).as("nc"), col("a"), col("b"))).as("m"))
      .select(col("m.a").as("a"), col("m.b").as("b"), (-col("m.nc")).as("c"))
    // Greedy-leftmost application in ONE word-partitioned window chain
    // (r13; replaces the mp/sl/rb join cascade — ~6 exchanges per round
    // down to the single word exchange, which later rounds skip entirely
    // because the checkpointed segmentation already carries the (word)
    // partitioning + (word, i) ordering). Semantics are unchanged:
    //   m        — position starts a matched pair (sym = a, next = b)
    //   runStart — first position of the CONSECUTIVE match run (adjacent
    //              matches only occur when a = b; islands ≡ the old grp)
    //   kept     — even offset within its run = the greedy leftmost picks
    //              (the old sl parity rule)
    //   dropped  — previous position kept ⇒ this row was consumed as its
    //              pair's b (the old si2 left-join)
    // TextOpsSpec's planted repeated-letter fixture and the oracle hash
    // pin the equivalence ("aaaa" → [aa][aa], "aaa" → [aa][a]).
    val m0 = col("sym") === col("a") &&
      coalesce(lead("sym", 1).over(wWord) === col("b"), lit(false))
    val rebuilt = seg.crossJoin(broadcast(bt))
      .withColumn("m", m0)
      .withColumn("st",
        when(col("m") && !coalesce(lag("m", 1).over(wWord), lit(false)),
          col("i")))
      .withColumn("runStart", max("st").over(wRun))
      .withColumn("kept",
        col("m") && (col("i") - col("runStart")) % 2 === 0)
      .withColumn("dropped",
        coalesce(lag("kept", 1).over(wWord), lit(false)))
      .filter(!col("dropped"))
      .select(col("word"), col("n"), col("i"),
        when(col("kept"), concat(col("a"), col("b")))
          .otherwise(col("sym")).as("sym"))
    val next = rebuilt.withColumn("i", row_number().over(wWord).cast("long"))
      .select("word", "n", "i", "sym")
    (next, bt)
  }

  /** The N chained rounds — the ONE machinery shared by the trainer
    * (`text_bpe_train*`, reads the bt frames) and the evaluator
    * (`text_bpe_apply`, reads the final segmentation), so the applied
    * tokenizer cannot fork from the trained one. Each round's outputs are
    * `localCheckpoint`ed (eager): iterative DataFrame composition
    * otherwise references the previous segmentation ~4× per round,
    * compounding to ~4^N copies of the base subtree — MEASURED 57 s of
    * pure plan optimization at sf0.1 vs ~2 s checkpointed; with the
    * checkpoint, cost is at-most-linear in N (bench at sf0.1: N=3 4.31 s,
    * N=5 4.70 s — the corpus-touching seg1 dominates and each marginal
    * round costs ~0.2 s of vocabulary-sized work). The
    * checkpointed state is VOCABULARY-sized (word types × symbols), so
    * truncation is cheap at any corpus scale — the standard
    * iterative-algorithm pattern (ALS/GraphX do the same).
    * Returns (bt per round, final segmentation). */
  private[graft] def bpeRoundsN(s: org.apache.spark.sql.SparkSession,
      d: String, nRounds: Int,
      docFilter: org.apache.spark.sql.Column = lit(true))
      : (Seq[org.apache.spark.sql.DataFrame], org.apache.spark.sql.DataFrame) =
    bpeRoundsFromSeg1(bpeSeg1(s, d, docFilter), nRounds)

  /** The round loop over an already-built initial segmentation — split
    * out so a caller that derives several word-frequency tables from ONE
    * corpus scan (`text_bpe_train_sampled`) can run each chain without
    * re-reading the corpus. */
  private[graft] def bpeRoundsFromSeg1(seg1: org.apache.spark.sql.DataFrame,
      nRounds: Int)
      : (Seq[org.apache.spark.sql.DataFrame], org.apache.spark.sql.DataFrame) = {
    var seg = seg1.localCheckpoint()
    val bts = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    (1 to nRounds).foreach { _ =>
      val (next, bt) = bpeMergeRound(seg)
      bts += bt.localCheckpoint()
      seg = next.localCheckpoint()
    }
    (bts.toSeq, seg)
  }

  /** Final segmentation after the 3 trained merges (see [[bpeRoundsN]]). */
  private def bpeSeg4(s: org.apache.spark.sql.SparkSession, d: String) =
    bpeRoundsN(s, d, 3)._2

  /** BPE TOKENIZER EVALUATION — the trained merge table applied back to
    * the corpus: per document, word count, BPE token count after the 3
    * learned merges, and the chars-per-token COMPRESSION ratio — the
    * fertility number that decides whether a tokenizer (and its training
    * budget) is worth shipping for a corpus/language. Shares the exact
    * round machinery with `text_bpe_train` (same Spark round function,
    * same oracle CTEs), so the evaluation cannot fork from the trainer.
    *
    * Scale shape: segmentation work stays VOCABULARY-sized (per-word-type
    * token counts after 3 rounds), then one word-keyed equi-join onto the
    * per-doc word counts and a partial-aggregable per-doc roll-up — the
    * corpus is touched once, by the word explode. */
  val textBpeApply = sql(
    "text_bpe_apply",
    s"""${bpeBaseSql(3)},
       |tc AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tok,
       |              CAST(len(min(word)) AS BIGINT) AS n_chr
       |       FROM seg4 GROUP BY word),
       |dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS m
       |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |             FROM documents)
       |       WHERE word <> '' GROUP BY doc_id, word)
       |SELECT dw.doc_id,
       |       CAST(sum(dw.m) AS BIGINT) AS n_words,
       |       CAST(sum(dw.m * tc.n_tok) AS BIGINT) AS n_bpe_tokens,
       |       round(sum(dw.m * tc.n_chr) * 1.0 / sum(dw.m * tc.n_tok), 4)
       |         AS chars_per_token
       |FROM dw JOIN tc ON dw.word = tc.word
       |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin) { (s, d) =>
    val seg4 = bpeSeg4(s, d)
    val tc = seg4.groupBy("word")
      .agg(count(lit(1)).as("n_tok"), length(min("word")).cast("long").as("n_chr"))
    val dw = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("m"))
    dw.join(tc, "word")
      .groupBy("doc_id")
      .agg(sum("m").as("n_words"),
        sum(col("m") * col("n_tok")).as("n_bpe_tokens"),
        round(sum(col("m") * col("n_chr")) * lit(1.0)
          / sum(col("m") * col("n_tok")), 4).as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** WordPiece vocabulary size (the cut binds: the fixture corpus carries
    * ~228 distinct pieces) and the max piece length. */
  val WpVocab = 120
  val WpMaxPiece = 4

  /** Words longer than this segment as a single [UNK] piece — BERT's
    * `max_input_chars_per_word` rule. It also BOUNDS the reachability
    * closure: ≤ 32 positions per word ⇒ ≤ 2⁵ greedy jumps ⇒ 5 doubling
    * rounds close the jump graph for every admissible word. */
  val WpMaxWord = 32

  /** Shared oracle CTE chain for the WordPiece family, ending in
    * `wnp(w, c, wlen, n_pieces)` (per DISTINCT word) and passing through
    * `wvoc(p, cnt)` (the vocabulary). Greedy longest-match-first
    * (MaxMatch) segmentation made RELATIONAL: per position the longest
    * vocabulary match m(i) is an aggregate over ≤ 4 candidate spans, the
    * greedy walk is the orbit of position 1 under i → i + m(i), and that
    * orbit is computed by FIVE pointer-doubling rounds over the per-word
    * jump graph (identity pairs seed the closure, so round k holds every
    * path of ≤ 2^k jumps — 2⁵ = 32 ≥ the position cap) instead of a
    * per-word sequential loop. Single characters are always in the
    * vocabulary, so m(i) ≥ 1 and the walk always terminates. */
  private val wordpieceVocabSqlCte: String =
    s"""wpw AS (SELECT w, count(*) AS c
       |        FROM (SELECT unnest(string_split(text, ' ')) AS w
       |              FROM documents)
       |        GROUP BY w),
       |wpos AS (SELECT w, c, CAST(unnest(range(1, len(w) + 1)) AS INT) AS i
       |         FROM wpw WHERE len(w) <= $WpMaxWord),
       |wcand AS (SELECT w, c, i, CAST(unnest([1, 2, 3, 4]) AS INT) AS l
       |          FROM wpos),
       |wsp AS (SELECT w, c, i, l, substr(w, i, l) AS p FROM wcand
       |        WHERE i + l <= len(w) + 1),
       |wcnt AS (SELECT p, sum(c) AS cnt FROM wsp GROUP BY p),
       |wvoc AS (SELECT p, cnt FROM
       |           (SELECT p, cnt FROM wcnt ORDER BY cnt DESC, p LIMIT $WpVocab)
       |         UNION
       |         SELECT p, cnt FROM wcnt WHERE len(p) = 1)""".stripMargin

  private val wordpieceSqlCte: String =
    s"""$wordpieceVocabSqlCte,
       |wm AS (SELECT s.w, s.i, max(s.l) AS m
       |       FROM wsp s JOIN wvoc v ON v.p = s.p
       |       GROUP BY s.w, s.i),
       |wr0 AS (SELECT w, i, i AS j
       |        FROM (SELECT w, CAST(unnest(range(1, len(w) + 2)) AS INT) AS i
       |              FROM wpw WHERE len(w) <= $WpMaxWord)
       |        UNION ALL
       |        SELECT w, i, i + m AS j FROM wm),
       |wr1 AS (SELECT DISTINCT a.w, a.i, b.j
       |        FROM wr0 a JOIN wr0 b ON a.w = b.w AND a.j = b.i),
       |wr2 AS (SELECT DISTINCT a.w, a.i, b.j
       |        FROM wr1 a JOIN wr1 b ON a.w = b.w AND a.j = b.i),
       |wr3 AS (SELECT DISTINCT a.w, a.i, b.j
       |        FROM wr2 a JOIN wr2 b ON a.w = b.w AND a.j = b.i),
       |wr4 AS (SELECT DISTINCT a.w, a.i, b.j
       |        FROM wr3 a JOIN wr3 b ON a.w = b.w AND a.j = b.i),
       |wr5 AS (SELECT DISTINCT a.w, a.i, b.j
       |        FROM wr4 a JOIN wr4 b ON a.w = b.w AND a.j = b.i),
       |wseg AS (SELECT r.w, count(*) AS n_pieces
       |         FROM wr5 r WHERE r.i = 1 AND r.j <= len(r.w)
       |         GROUP BY r.w),
       |wnp AS (SELECT d.w, d.c, len(d.w) AS wlen,
       |               CASE WHEN len(d.w) > $WpMaxWord THEN 1
       |                    ELSE coalesce(s.n_pieces, 0) END AS n_pieces
       |        FROM wpw d LEFT JOIN wseg s ON s.w = d.w)""".stripMargin

  /** Spark side of `wnp`: (w, c, wlen, n_pieces) per distinct word, plus
    * the vocabulary as `_2`. The whole computation runs on the DISTINCT
    * WORD frame — corpus-frequency-weighted but never corpus-sized — and
    * the closure's worst case is a documented constant factor: ≤
    * [[WpMaxWord]]² reachability pairs per distinct word. Each doubling
    * round localCheckpoints (the BPE lineage discipline: a 5-round
    * self-join chain would otherwise compound the plan 2⁵-fold). */
  /** The shared (word counts, candidate spans, vocabulary) triple behind
    * BOTH segmenters — WordPiece MaxMatch and the unigram Viterbi use the
    * same substring universe and the same frequency-cut vocabulary, so
    * their per-word numbers are directly comparable. */
  private def wordpieceCandVocab(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val wc = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      // cached: read by the candidate explode here AND by the caller's
      // admissible/wnp frames — un-cached, the corpus tokenize + word
      // count re-ran per consumer (r13, §2.4)
      .cache()
    val admissible = wc.filter(length(col("w")) <= WpMaxWord)
    val cand = admissible
      // sequence(1, 0) is DESCENDING for the empty-string word (Spark
      // infers step -1) where DuckDB's range(1, 1) is empty — gate it out
      .filter(length(col("w")) >= 1)
      .select(col("w"), col("c"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("c"), col("i"),
        explode(array((1 to WpMaxPiece).map(lit): _*)).as("l"))
      .filter(col("i") + col("l") <= length(col("w")) + 1)
      .withColumn("p", expr("substr(w, i, l)"))
      .cache() // piece-count fit + max-match join both read the spans
    val wcnt = cand.groupBy("p").agg(sum("c").as("cnt"))
      .cache() // piece-type-sized; the vocab cut reads it twice
    val vocab = wcnt.orderBy(col("cnt").desc, col("p")).limit(WpVocab)
      .union(wcnt.filter(length(col("p")) === 1))
      .distinct()
    (wc, cand, vocab)
  }

  private def wordpieceWordFrames(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (wc, cand, vocab) = wordpieceCandVocab(s, d)
    val admissible = wc.filter(length(col("w")) <= WpMaxWord)
    val m = cand.join(broadcast(vocab.select("p")), "p")
      .groupBy("w", "i").agg(max("l").as("m"))
    val ids = admissible
      .select(col("w"), explode(sequence(lit(1), length(col("w")) + 1)).as("i"))
      .select(col("w"), col("i"), col("i").as("j"))
    var r = ids.union(m.select(col("w"), col("i"), (col("i") + col("m")).as("j")))
      .localCheckpoint(true)
    for (_ <- 1 to 5)
      r = r.as("a")
        .join(r.as("b"), col("a.w") === col("b.w") && col("a.j") === col("b.i"))
        .select(col("a.w").as("w"), col("a.i").as("i"), col("b.j").as("j"))
        .distinct()
        .localCheckpoint(true)
    val seg = r.filter(col("i") === 1 && col("j") <= length(col("w")))
      .groupBy("w").agg(count(lit(1)).as("n_pieces"))
    val wnp = wc.join(seg, Seq("w"), "left")
      .select(col("w"), col("c"), length(col("w")).as("wlen"),
        when(length(col("w")) > WpMaxWord, 1L)
          .otherwise(coalesce(col("n_pieces"), lit(0L))).as("n_pieces"))
    (wnp, vocab)
  }

  /** The WordPiece VOCABULARY — the top-[[WpVocab]] substrings (length ≤
    * 4) by corpus-frequency-weighted occurrence count, union all single
    * characters (the coverage guarantee every WordPiece vocab ships).
    * Scale shape: substring candidates explode the DISTINCT-WORD frame
    * (≤ 4·[[WpMaxWord]] per word, never the corpus), the count is
    * partial-aggregable, the cut is TakeOrderedAndProject with a piece
    * tie-break. */
  val textWordpieceVocab = sql(
    "text_wordpiece_vocab",
    s"""WITH $wordpieceVocabSqlCte
       |SELECT p AS piece, CAST(cnt AS BIGINT) AS cnt
       |FROM wvoc ORDER BY piece""".stripMargin) { (s, d) =>
    wordpieceWordFrames(s, d)._2
      .select(col("p").as("piece"), col("cnt").cast("long").as("cnt"))
      .orderBy("piece")
  }

  /** Greedy longest-match (WordPiece/MaxMatch) SEGMENTATION rollup — per
    * document: word count, total piece count under the learned
    * vocabulary, and pieces-per-word (the inference-side fertility metric
    * that decides whether a tokenizer is worth its vocab size; compare
    * `text_bpe_apply`, the merge-rule twin). The per-word piece counts
    * come from the pointer-doubled greedy walk (see [[wordpieceSqlCte]]);
    * the corpus only participates in the final token→word equi-join
    * against the distinct-word frame (AQE broadcasts it while it fits). */
  val textWordpieceSegment = sql(
    "text_wordpiece_segment",
    s"""WITH $wordpieceSqlCte,
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |         FROM documents)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(n.n_pieces) AS BIGINT) AS n_pieces,
       |       round(sum(n.n_pieces) * 1.0 / count(*), 4) AS ppw
       |FROM toks t JOIN wnp n ON n.w = t.w
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    val wnp = wordpieceWordFrames(s, d)._1
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      // the distinct-word frame is NOT forced broadcast: at 100 TB it is
      // itself large (AQE broadcasts it while it fits, shuffles past that)
      .join(wnp.select("w", "n_pieces"), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum("n_pieces").cast("long").as("n_pieces"),
        round(sum("n_pieces") * lit(1.0) / count(lit(1)), 4).as("ppw"))
      .orderBy("doc_id")
  }

  /** SKIP-GRAM TRAINING-PAIR GENERATION — the word2vec data-prep stage
    * (Mikolov et al. 2013): (center, context) pairs within a ±2 window
    * over each document, AFTER frequency subsampling with keep
    * probability `p = (√(f/0.001)+1)·0.001/f` — the step that stops "the"
    * from dominating every context window. The random keep decision is
    * DERANDOMIZED through the md5 bucket of (doc_id:position) against the
    * integer threshold `⌊p·65536⌋` (the repo's hash-gate discipline), so
    * the sample is reproducible across retries and engines. Subsampled
    * tokens are removed from the SEQUENCE before windowing (positions
    * re-rank over survivors), faithful to word2vec's compaction — distant
    * survivors become neighbors, which is the intended effect.
    *
    * Scale shape: the frequency table is vocabulary-sized (AQE broadcasts
    * it onto the token stream), the gate is a narrow filter, re-ranking
    * and the two lead windows are doc-partitioned (bounded by document
    * length — never a self-join), and the pair counts partial-aggregate
    * to ≤ |vocab|² rows. TextOpsSpec replays the whole chain sequentially
    * (freq → threshold → gate → compaction → windows) and proves pair
    * equality on the real corpus. */
  val textSkipgramPairs = sql(
    "text_skipgram_pairs",
    s"""WITH tk AS (SELECT doc_id,
       |                  unnest(string_split(text, ' ')) AS w,
       |                  generate_subscripts(string_split(text, ' '), 1) AS pos
       |           FROM documents),
       |fr AS (SELECT w, count(*) AS c FROM tk GROUP BY w),
       |tt AS (SELECT sum(c) AS t FROM fr),
       |th AS (SELECT fr.w,
       |              least(65536, CAST(floor((sqrt((fr.c * 1.0 / tt.t) / 0.001) + 1)
       |                * 0.001 / (fr.c * 1.0 / tt.t) * 65536) AS BIGINT)) AS thr
       |       FROM fr CROSS JOIN tt),
       |kept AS (SELECT tk.doc_id, tk.pos, tk.w
       |         FROM tk JOIN th ON th.w = tk.w
       |         WHERE (${Keys.hexBucketSql("CAST(tk.doc_id AS VARCHAR) || ':' || CAST(tk.pos AS VARCHAR)")}) < th.thr),
       |rk AS (SELECT doc_id, w,
       |              row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS r
       |       FROM kept),
       |ld AS (SELECT doc_id, w,
       |              lead(w, 1) OVER (PARTITION BY doc_id ORDER BY r) AS l1,
       |              lead(w, 2) OVER (PARTITION BY doc_id ORDER BY r) AS l2
       |       FROM rk),
       |pr AS (SELECT w AS center, l1 AS context FROM ld WHERE l1 IS NOT NULL
       |       UNION ALL SELECT l1, w FROM ld WHERE l1 IS NOT NULL
       |       UNION ALL SELECT w, l2 FROM ld WHERE l2 IS NOT NULL
       |       UNION ALL SELECT l2, w FROM ld WHERE l2 IS NOT NULL)
       |SELECT center, context, CAST(count(*) AS BIGINT) AS cnt
       |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // (r13 cached this token stream; measured regression at sf0.1 —
    // re-running the narrow posexplode once for the fit and once for the
    // probe is cheaper than materializing the corpus-wide frame. r14.)
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("w"))
    val fr = tk.groupBy("w").agg(count(lit(1)).as("c"))
    val tt = fr.agg(sum("c").as("t"))
    val f = col("c") * lit(1.0) / col("t")
    val th = fr.crossJoin(broadcast(tt))
      .select(col("w"), least(lit(65536L),
        floor((sqrt(f / lit(0.001)) + 1) * lit(0.001) / f * 65536)
          .cast("long")).as("thr"))
    val kept = tk.join(th, "w")
      .filter(Keys.hexBucketCol(
        concat_ws(":", col("doc_id"), col("pos"))) < col("thr"))
    val wr = Window.partitionBy("doc_id").orderBy("pos")
    val wl = Window.partitionBy("doc_id").orderBy("r")
    val ld = kept
      .withColumn("r", row_number().over(wr))
      .select(col("doc_id"), col("w"),
        lead(col("w"), 1).over(wl).as("l1"), lead(col("w"), 2).over(wl).as("l2"))
    // ONE pass emits all four pair orientations per row via an in-array
    // explode — the r13 shape was a 4-branch UNION ALL over a cached `ld`
    // (gate join + compaction windows otherwise ran 4×), and the cache was
    // a measured regression; this removes both the recomputes AND the
    // cache (r14, §2.4). Multiset-identical to the union: each row emits
    // (w,l1),(l1,w) iff l1 present and (w,l2),(l2,w) iff l2 present —
    // `w` is never null, so one context-null filter covers all branches.
    val pr = ld.select(explode(expr(
      """filter(array(struct(w AS center, l1 AS context),
        |             struct(l1 AS center, w AS context),
        |             struct(w AS center, l2 AS context),
        |             struct(l2 AS center, w AS context)),
        |       p -> p.center IS NOT NULL AND p.context IS NOT NULL)"""
        .stripMargin)).as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
    pr.groupBy("center", "context").agg(count(lit(1)).cast("long").as("cnt"))
      .orderBy("center", "context")
  }

  /** NEGATIVE-SAMPLING TABLE — word2vec's companion artifact to
    * [[textSkipgramPairs]]: each vocabulary word's slot count in a
    * 65536-slot sampling table proportional to count^0.75 (the Mikolov
    * smoothing that keeps rare words sampleable), apportioned by
    * LARGEST-REMAINDER (Hamilton) so the slots sum EXACTLY to the table
    * size — the fair integer apportionment a float `floor(share·N)` table
    * silently undercounts.
    *
    * Cross-engine exactness: `pow(c, 0.75)` is a libm function with NO
    * cross-engine bit guarantee, so the weight is computed as
    * `sqrt(sqrt(c·c·c))` — cube exact in int64 at any test scale (stated
    * double-precision bound past 2^53 at corpus scale), and sqrt is
    * IEEE-exact on both engines, so every weight, share, floor and
    * remainder is bit-identical. The remainder top-up ranks the
    * vocabulary-sized frame only (window over ≤|vocab| rows, plan-safe);
    * ties break by word. Spec proves Σ slots = 65536 and monotonicity in
    * count. */
  val textNegativeTable = sql(
    "text_negative_table",
    """WITH fr AS (SELECT w, count(*) AS c
      |            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |            GROUP BY w),
      |wt AS (SELECT w, c, sqrt(sqrt(CAST(c * c * c AS DOUBLE))) AS pw FROM fr),
      |tot AS (SELECT sum(pw) AS tw FROM wt),
      |sh AS (SELECT w, c, pw / tot.tw * 65536 AS slots_f FROM wt CROSS JOIN tot),
      |fl AS (SELECT w, c, CAST(floor(slots_f) AS BIGINT) AS base,
      |              slots_f - floor(slots_f) AS rem
      |       FROM sh),
      |need AS (SELECT 65536 - sum(base) AS k FROM fl),
      |rk AS (SELECT w, c, base, rem,
      |              row_number() OVER (ORDER BY rem DESC, w) AS rr
      |       FROM fl)
      |SELECT rk.w, CAST(rk.c AS BIGINT) AS cnt,
      |       CAST(rk.base + CASE WHEN rk.rr <= need.k THEN 1 ELSE 0 END AS BIGINT) AS slots
      |FROM rk CROSS JOIN need
      |ORDER BY rk.w""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val fr = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val wt = fr.select(col("w"), col("c"),
      sqrt(sqrt((col("c") * col("c") * col("c")).cast("double"))).as("pw"))
    val tot = wt.agg(sum("pw").as("tw"))
    val fl = wt.crossJoin(broadcast(tot))
      .withColumn("slots_f", col("pw") / col("tw") * 65536)
      .select(col("w"), col("c"),
        floor(col("slots_f")).cast("long").as("base"),
        (col("slots_f") - floor(col("slots_f"))).as("rem"))
    val need = fl.agg((lit(65536L) - sum("base")).as("k"))
    // the remainder rank runs over the VOCABULARY frame (≤|vocab| rows) —
    // the one place a global window is legitimate because the frame is
    // model-sized, not corpus-sized
    val rk = fl.withColumn("rr",
      row_number().over(Window.orderBy(col("rem").desc, col("w"))))
    rk.crossJoin(broadcast(need))
      .select(col("w"), col("c").cast("long").as("cnt"),
        (col("base") + when(col("rr") <= col("k"), 1L).otherwise(0L))
          .cast("long").as("slots"))
      .orderBy("w")
  }

  /** T5-style SPAN CORRUPTION — the denoising-objective data generator
    * (Raffel et al. 2020): mask ~15% of tokens in spans of mean length 3,
    * report per document the masked-token count, merged span count, and
    * the derived encoder/decoder sequence lengths (inputs = survivors +
    * one sentinel per span; targets = masked tokens + one sentinel per
    * span + the terminal sentinel) — the numbers that size a denoising
    * training batch. Randomness is DERANDOMIZED the `text_skipgram_pairs`
    * way: a span STARTS at a position iff the md5 bucket of
    * (doc:pos) < ⌊0.05·65536⌋, and its length is 1 + (bucket(doc:pos:L)
    * mod 5) ∈ 1..5 — start rate 5% × mean length 3 ≈ the 15% corruption
    * budget; overlapping spans merge via gaps-and-islands, so reported
    * spans are the SENTINEL count, not the draw count.
    *
    * Scale shape: one token explode, a narrow start gate, a ≤5-wide range
    * explode, and doc-partitioned island windows — no join wider than the
    * per-doc clip, no unpartitioned window. Spec replays the chain
    * sequentially on the real corpus. */
  val SpanStartThr = 3277 // ≈ 5% of the 65536-bucket space, pinned as an int
  val SpanMaxLen = 5
  val textSpanCorruption = sql(
    "text_span_corruption",
    s"""WITH tk AS (SELECT doc_id,
       |                  generate_subscripts(string_split(text, ' '), 1) AS pos
       |           FROM documents),
       |nt AS (SELECT doc_id, count(*) AS n_tok FROM tk GROUP BY doc_id),
       |st AS (SELECT doc_id, pos,
       |              1 + ((${Keys.hexBucketSql("CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR) || ':L'")}) % $SpanMaxLen) AS sl
       |       FROM tk
       |       WHERE (${Keys.hexBucketSql("CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")}) < $SpanStartThr),
       |cov AS (SELECT DISTINCT c.doc_id, c.mpos FROM (
       |          SELECT s.doc_id, s.pos + unnest(range(0, s.sl)) AS mpos FROM st s) c
       |        JOIN nt ON nt.doc_id = c.doc_id
       |        WHERE c.mpos <= nt.n_tok),
       |isl AS (SELECT doc_id, mpos,
       |               mpos - row_number() OVER (PARTITION BY doc_id ORDER BY mpos) AS g
       |        FROM cov),
       |ag AS (SELECT doc_id, count(*) AS n_masked, count(DISTINCT g) AS n_spans
       |       FROM isl GROUP BY doc_id)
       |SELECT nt.doc_id, CAST(nt.n_tok AS BIGINT) AS n_tokens,
       |       CAST(coalesce(ag.n_masked, 0) AS BIGINT) AS n_masked,
       |       CAST(coalesce(ag.n_spans, 0) AS BIGINT) AS n_spans,
       |       CAST(nt.n_tok - coalesce(ag.n_masked, 0) + coalesce(ag.n_spans, 0) AS BIGINT) AS inputs_len,
       |       CAST(coalesce(ag.n_masked, 0) + coalesce(ag.n_spans, 0)
       |            + CASE WHEN coalesce(ag.n_spans, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS targets_len,
       |       round(coalesce(ag.n_masked, 0) * 1.0 / nt.n_tok, 4) AS rate
       |FROM nt LEFT JOIN ag ON ag.doc_id = nt.doc_id
       |ORDER BY nt.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"))
    val nt = tk.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val st = tk
      .filter(Keys.hexBucketCol(concat_ws(":", col("doc_id"), col("pos")))
        < SpanStartThr)
      .select(col("doc_id"), col("pos"),
        (lit(1) + Keys.hexBucketCol(
          concat_ws(":", col("doc_id"), col("pos"), lit("L"))) % SpanMaxLen)
          .as("sl"))
    val cov = st
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + col("sl") - 1)).as("mpos"))
      .join(nt, "doc_id").filter(col("mpos") <= col("n_tok"))
      .select("doc_id", "mpos").distinct()
    val isl = cov.withColumn("g",
      col("mpos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("mpos")))
    val ag = isl.groupBy("doc_id")
      .agg(count(lit(1)).as("n_masked"), countDistinct("g").as("n_spans"))
    nt.join(ag, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tokens"),
        coalesce(col("n_masked"), lit(0L)).cast("long").as("n_masked"),
        coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
        (col("n_tok") - coalesce(col("n_masked"), lit(0L))
          + coalesce(col("n_spans"), lit(0L))).cast("long").as("inputs_len"),
        (coalesce(col("n_masked"), lit(0L)) + coalesce(col("n_spans"), lit(0L))
          + when(coalesce(col("n_spans"), lit(0L)) > 0, 1L).otherwise(0L))
          .cast("long").as("targets_len"),
        round(coalesce(col("n_masked"), lit(0L)) * lit(1.0) / col("n_tok"), 4)
          .as("rate"))
      .orderBy("doc_id")
  }

  /** Shared oracle CTE chain for the UNIGRAM-LM (SentencePiece-style)
    * Viterbi segmenter, ending in `unp(w, n_pieces, cost)` per distinct
    * word. Same substring universe and vocabulary as WordPiece
    * ([[wordpieceVocabSqlCte]]), but the segmentation principle is
    * GLOBAL-OPTIMAL instead of greedy: each piece costs its integer
    * deci-milli-nat surprisal `li = round(−ln(cnt/tot)·10⁴)` and a word's
    * segmentation is the MINIMUM-COST path 1 → len+1 over the piece-edge
    * DAG. The sequential Viterbi DP is made relational as MIN-PLUS
    * PATH DOUBLING: seed identity edges (i,i,0) plus piece edges
    * (i, i+l, li·64+1), then square the cost matrix five times — round k
    * holds the cheapest path of ≤ 2^k edges, and 2⁵ = 32 ≥ the position
    * cap, so round 5 is the full closure (the [[wordpieceSqlCte]]
    * pointer-doubling argument, upgraded from reachability to tropical
    * matrix product). Costs ride the COMBINED integer `cost·64 + pieces`
    * — min over it is lexicographic (cost, then pieces) since a path
    * never exceeds 32 < 64 pieces — so both the optimum and its piece
    * count come out of ONE min, with no argmin backtrack and no float
    * compare anywhere in the DP. */
  private val unigramSqlCte: String =
    s"""$wordpieceVocabSqlCte,
       |uv AS (SELECT p, CAST(round(-ln(cnt * 1.0 / t.tot) * 10000, 0) AS BIGINT) AS li
       |       FROM wvoc CROSS JOIN (SELECT sum(cnt) AS tot FROM wvoc) t),
       |u0 AS (SELECT w, i, i AS j, CAST(0 AS BIGINT) AS cc
       |       FROM (SELECT w, CAST(unnest(range(1, len(w) + 2)) AS INT) AS i
       |             FROM wpw WHERE len(w) <= $WpMaxWord)
       |       UNION ALL
       |       SELECT s.w, s.i, s.i + s.l AS j, v.li * 64 + 1 AS cc
       |       FROM wsp s JOIN uv v ON v.p = s.p),
       |u1 AS (SELECT w, i, j, min(a_cc + b_cc) AS cc FROM (
       |         SELECT a.w, a.i, b.j, a.cc AS a_cc, b.cc AS b_cc
       |         FROM u0 a JOIN u0 b ON a.w = b.w AND a.j = b.i) GROUP BY w, i, j),
       |u2 AS (SELECT w, i, j, min(a_cc + b_cc) AS cc FROM (
       |         SELECT a.w, a.i, b.j, a.cc AS a_cc, b.cc AS b_cc
       |         FROM u1 a JOIN u1 b ON a.w = b.w AND a.j = b.i) GROUP BY w, i, j),
       |u3 AS (SELECT w, i, j, min(a_cc + b_cc) AS cc FROM (
       |         SELECT a.w, a.i, b.j, a.cc AS a_cc, b.cc AS b_cc
       |         FROM u2 a JOIN u2 b ON a.w = b.w AND a.j = b.i) GROUP BY w, i, j),
       |u4 AS (SELECT w, i, j, min(a_cc + b_cc) AS cc FROM (
       |         SELECT a.w, a.i, b.j, a.cc AS a_cc, b.cc AS b_cc
       |         FROM u3 a JOIN u3 b ON a.w = b.w AND a.j = b.i) GROUP BY w, i, j),
       |u5 AS (SELECT w, i, j, min(a_cc + b_cc) AS cc FROM (
       |         SELECT a.w, a.i, b.j, a.cc AS a_cc, b.cc AS b_cc
       |         FROM u4 a JOIN u4 b ON a.w = b.w AND a.j = b.i) GROUP BY w, i, j),
       |ubest AS (SELECT b.w, b.cc FROM u5 b JOIN wpw d ON d.w = b.w
       |          WHERE b.i = 1 AND b.j = len(b.w) + 1),
       |unp AS (SELECT d.w,
       |               CASE WHEN len(d.w) > $WpMaxWord THEN 1
       |                    ELSE CAST(coalesce(b.cc % 64, 0) AS BIGINT) END AS n_pieces,
       |               CASE WHEN len(d.w) > $WpMaxWord THEN 0
       |                    ELSE CAST(coalesce(b.cc // 64, 0) AS BIGINT) END AS cost
       |        FROM wpw d LEFT JOIN ubest b ON b.w = d.w)""".stripMargin

  /** Spark side of `unp`: (w, n_pieces, cost) per distinct word. Runs on
    * the DISTINCT-WORD frame like its WordPiece sibling; each doubling
    * round is one (w, position)-keyed self-join + partial-aggregable min,
    * closure ≤ (len+1)² rows per word, localCheckpoint per round (the BPE
    * lineage discipline). Words over [[WpMaxWord]] take the WordPiece
    * [UNK] rule: 1 piece, zero modeled surprisal. */
  private def unigramWordCosts(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val (wc, cand, vocab) = wordpieceCandVocab(s, d)
    val tot = vocab.agg(sum("cnt").as("tot"))
    val uv = vocab.crossJoin(broadcast(tot))
      .select(col("p"),
        round(-log(col("cnt") * lit(1.0) / col("tot")) * 10000, 0)
          .cast("long").as("li"))
    val ids = wc.filter(length(col("w")) <= WpMaxWord)
      .select(col("w"), explode(sequence(lit(1), length(col("w")) + 1)).as("i"))
      .select(col("w"), col("i"), col("i").as("j"), lit(0L).as("cc"))
    val edges = cand.join(broadcast(uv), "p")
      .select(col("w"), col("i"), (col("i") + col("l")).as("j"),
        (col("li") * 64 + 1).as("cc"))
    var r = ids.union(edges).localCheckpoint(true)
    for (_ <- 1 to 5)
      r = r.as("a")
        .join(r.as("b"), col("a.w") === col("b.w") && col("a.j") === col("b.i"))
        .groupBy(col("a.w").as("w"), col("a.i").as("i"), col("b.j").as("j"))
        .agg(min(col("a.cc") + col("b.cc")).as("cc"))
        .localCheckpoint(true)
    val best = r.filter(col("i") === 1 && col("j") === length(col("w")) + 1)
      .select(col("w"), col("cc"))
    wc.join(best, Seq("w"), "left")
      .select(col("w"),
        when(length(col("w")) > WpMaxWord, 1L)
          .otherwise(coalesce(col("cc") % 64, lit(0L))).as("n_pieces"),
        when(length(col("w")) > WpMaxWord, 0L)
          .otherwise(coalesce(expr("cc div 64"), lit(0L))).as("cost"))
  }

  /** UNIGRAM-LM VITERBI SEGMENTATION rollup — the SentencePiece
    * inference principle (Kudo, ACL'18) completing the tokenizer trio:
    * BPE applies learned merges, WordPiece matches greedily
    * longest-first, and the unigram model picks the GLOBALLY CHEAPEST
    * segmentation under piece surprisals — per document: word count,
    * optimal piece count, pieces-per-word, and the exact negative
    * log-likelihood of the optimal segmentation in nats (the corpus-level
    * tokenizer-quality number greedy segmenters cannot report, because
    * greedy does not optimize it). Same vocabulary as
    * `text_wordpiece_vocab`, so `ppw` here vs MaxMatch's `ppw` is a
    * controlled comparison of segmentation principles; by construction
    * this nll is a per-word lower bound on any segmentation's cost under
    * the same model (TextOpsSpec proves both claims against sequential
    * references). Scale shape: the whole DP runs on the distinct-word
    * frame; the corpus participates only in the final token→word
    * equi-join, exactly like `text_wordpiece_segment`. */
  val textUnigramViterbi = sql(
    "text_unigram_viterbi",
    s"""WITH $unigramSqlCte,
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |         FROM documents)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(n.n_pieces) AS BIGINT) AS n_pieces,
       |       round(sum(n.n_pieces) * 1.0 / count(*), 4) AS ppw,
       |       round(sum(n.cost) / 10000.0, 4) AS nll
       |FROM toks t JOIN unp n ON n.w = t.w
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    val unp = unigramWordCosts(s, d)
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(unp, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum("n_pieces").cast("long").as("n_pieces"),
        round(sum("n_pieces") * lit(1.0) / count(lit(1)), 4).as("ppw"),
        round(sum("cost") / lit(10000.0), 4).as("nll"))
      .orderBy("doc_id")
  }

  val defs: Seq[QueryDef] = Seq(
    textUnigramViterbi, textSkipgramPairs, textNegativeTable, textSpanCorruption,
    textWordpieceVocab, textWordpieceSegment,
    textSubstringDup, dedupSpanRemove, corpusDedupYield, textBigramKn, dedupParetoTopk,
    textBpeTrain, textBpeTrainN5, textBpeTrainSampled, textBpeApply,
    textEntropy, dedupTopClusters, textZipfFit, dedupSimhashPrec,
    dedupSimhashPrecMaterialized,
    textStats, textLangId, textFingerprint,
    dedupExact, dedupNgramJaccard, dedupMinhashSig, dedupMinhashPairs,
    dedupClusters, dedupCanonicalQuality, dedupClustersMulti, dedupSimhash, dedupSimhashPairs, textTokenBpe,
    textRollingHash, textTfidf, textQuality, textQualityAblation, textVocabTopk, textOovRate,
    textLengthStats,
    textRepetition, corpusMix, textUnigramLogprob,
    dedupContainment, dedupAllpairs, dedupDfcapRecall,
    dedupDfcapRecallMaterialized, dedupMinhashRecall,
    dedupMinhashRecallMaterialized, dedupSimhashRecall,
    dedupSimhashRecallMaterialized, textBigramTopk, corpusDupStats,
    dedupSpanStats, textNovelty, textPiiRedact, textParagraphDedup,
    dedupMinhashEst, corpusCurationFunnel, dedupCrossSource, textWinnowing,
    textParagraphFilter,
    textNbLangid, textNbCalibration, dedupWinnowPairs, textBigramLogprob, textLangidConfusion,
    textBm25, ragHybrid, textPplBuckets, dedupLabelsMaterialized, dedupIncremental,
    dedupIncrementalMaterialized, decontamMinhash, decontamMinhashReport, textChunk,
    corpusQualityDrift)
}
