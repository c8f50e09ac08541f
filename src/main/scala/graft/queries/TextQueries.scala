package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpoints.StageOps
import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis queries over the `documents` table — the training-data
  * pipeline surface (language-ID, quality scoring, token counting, document
  * fingerprinting). All are narrow per-row transforms: no shuffle except the
  * final order/agg, so they scale linearly with input splits at 100 TB.
  */
object TextQueries {

  /** Token statistics per document. avg_token_len is derived from two
    * exact integers so the double division is engine-identical.
    */
  def tTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        typeCount(col("text")).as("n_types"),
        subwordCount(col("text")).as("n_subwords"),
        (tokenCharCount(col("text")).cast("double") /
          tokenCount(col("text")).cast("double")).as("avg_token_len"))
      .orderBy(col("doc_id"))

  val tTokensOracle: String =
    """WITH t AS (SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END AS toks,
      |  regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS sub
      |FROM documents)
      |SELECT doc_id,
      |  len(toks) AS n_tokens,
      |  len(list_distinct(toks)) AS n_types,
      |  len(sub) AS n_subwords,
      |  CAST(list_aggregate(list_transform(toks, x -> CAST(length(x) AS BIGINT)), 'sum') AS DOUBLE)
      |    / CAST(len(toks) AS DOUBLE) AS avg_token_len
      |FROM t ORDER BY doc_id""".stripMargin

  /** Quality scoring: type/token ratio (repetitiveness), stopword density,
    * length band — composed into a single score. Components come from exact
    * integers; the score arithmetic is the same IEEE expression both sides.
    */
  def tQuality(s: SparkSession, dir: String): DataFrame = {
    val nTok = tokenCount(col("text")).cast("double")
    val ttr = typeCount(col("text")).cast("double") / nTok
    val stopRatio = stopwordCount(col("text"), StopEn).cast("double") / nTok
    val lenOk = when(tokenCount(col("text")).between(20, 2000), 1.0)
      .otherwise(0.0)
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        ttr.as("ttr"),
        stopRatio.as("stop_ratio"),
        (ttr * 0.4 + least(stopRatio * 5.0, lit(1.0)) * 0.3 + lenOk * 0.3)
          .as("quality_score"))
      .orderBy(col("doc_id"))
  }

  val tQualityOracle: String =
    """WITH t AS (SELECT doc_id, length(text) AS n_chars,
      |  CASE WHEN length(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |FROM documents),
      |m AS (SELECT doc_id, n_chars,
      |  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr,
      |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in','that','it','on'))) AS DOUBLE)
      |    / CAST(len(toks) AS DOUBLE) AS stop_ratio,
      |  CASE WHEN len(toks) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.0 END AS len_ok
      |FROM t)
      |SELECT doc_id, n_chars, ttr, stop_ratio,
      |  ttr * 0.4 + least(stop_ratio * 5.0, 1.0) * 0.3 + len_ok * 0.3 AS quality_score
      |FROM m ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic vs the labelled lang column → confusion counts.
    * (The synthetic corpus shares one vocabulary across langs, so the
    * heuristic's output is dominated by 'en'/'und' — the query demonstrates
    * the operator and its evaluation shape, not corpus accuracy.)
    */
  def tLangId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), langId(col("text")).as("pred"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred"))

  val langCase: String = {
    def inList(words: Seq[String]) = words.map("'" + _ + "'").mkString(", ")
    s"""len(list_filter(toks, x -> x IN (${inList(StopEn)}))) AS c_en,
       |  len(list_filter(toks, x -> x IN (${inList(StopDe)}))) AS c_de,
       |  len(list_filter(toks, x -> x IN (${inList(StopFr)}))) AS c_fr,
       |  len(list_filter(toks, x -> x IN (${inList(StopEs)}))) AS c_es""".stripMargin
  }

  val tLangIdOracle: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |  CASE WHEN length(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
       |FROM documents),
       |c AS (SELECT doc_id, lang, $langCase
       |FROM t),
       |p AS (SELECT lang, CASE
       |  WHEN c_en = 0 AND c_de = 0 AND c_fr = 0 AND c_es = 0 THEN 'und'
       |  WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
       |  WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
       |  WHEN c_fr >= c_es THEN 'fr'
       |  ELSE 'es' END AS pred FROM c)
       |SELECT lang, pred, COUNT(*) AS n FROM p
       |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin

  /** Document fingerprint: polynomial rolling hash over all characters —
    * the primitive under shift-resistant winnowing fingerprints.
    */
  def tFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), rollingHash(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val tFingerprintOracle: String =
    """SELECT doc_id,
      |  list_reduce(list_transform(regexp_extract_all(text, '.'), c -> CAST(ascii(c) AS BIGINT)),
      |              (a, b) -> (a * 31 + b) % 1000000007) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus-level top word-bigrams: flatMap/explode parity (multi-yield
    * DoFns in the reference) + the n-gram LM frequency primitive. explode →
    * partial agg keeps the shuffle at distinct-bigram, not token, volume.
    */
  def tBigrams(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(wordBigrams(col("text"))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  val tBigramsOracle: String =
    """WITH t AS (SELECT CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks FROM documents),
      |b AS (SELECT unnest(list_transform(list_zip(toks, toks[2:]), z -> z[1] || ' ' || z[2])) AS bigram FROM t)
      |SELECT bigram, COUNT(*) AS n FROM b WHERE bigram IS NOT NULL
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  /** TF-IDF term scoring, float-free ranking: score = tf · N / df where
    * tf, N, df are exact integers — the single double division is
    * IEEE-exact-rounded, so ranks are engine-identical (a log-based idf
    * would hang cross-engine determinism on libm). Top-3 terms per doc for
    * the first 20 docs. Two shuffles at scale: token→df aggregate
    * (distinct-term volume, map-side combined) and the per-doc window.
    */
  def tTfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val nDocs = docs.count()
    val terms = docs.select(col("doc_id"), explode(tokens(col("text")))
      .as("term"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tf = terms.filter(col("doc_id") < 20)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .withColumn("score",
        (col("tf") * lit(nDocs)).cast("double") / col("df").cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val tTfidfOracle: String =
    """WITH t AS (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
      |    THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END) AS term
      |  FROM documents),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
      |idf AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
      |  WHERE doc_id < 20 GROUP BY 1, 2),
      |sc AS (SELECT doc_id, tf.term,
      |    CAST(tf * nd AS DOUBLE) / CAST(df AS DOUBLE) AS score
      |  FROM tf JOIN idf ON tf.term = idf.term CROSS JOIN n),
      |r AS (SELECT doc_id, term, score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term)
      |      AS rk FROM sc)
      |SELECT doc_id, rk, term, score FROM r WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  /** Per-document repetition metrics (the Gopher/C4 quality-rule
    * family): duplicate-word fraction, top-word fraction (most frequent
    * token's share), duplicate-bigram fraction — the signals repetitive
    * machine-generated text trips. All from exact integers; each double
    * is one IEEE division. The top-word count is an explode → two-level
    * aggregate (map-side combined, shuffle at distinct-(doc,term)
    * volume); the bigram stats are per-row higher-order functions —
    * nothing here shuffles corpus text.
    */
  def tRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 100)
    val top = docs.select(col("doc_id"), explode(tokens(col("text")))
        .as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id")).agg(max(col("tf")).as("top_tf"))
    val bg = filter(wordBigrams(col("text")), _.isNotNull)
    val base = docs.select(col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      typeCount(col("text")).as("n_types"),
      size(array_distinct(bg)).as("n_dbg"), size(bg).as("n_bg"))
    base.join(top, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        ((col("n_tokens") - col("n_types")).cast("double") /
          col("n_tokens").cast("double")).as("dup_word_frac"),
        (col("top_tf").cast("double") / col("n_tokens").cast("double"))
          .as("top_word_frac"),
        ((col("n_bg") - col("n_dbg")).cast("double") /
          col("n_bg").cast("double")).as("dup_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  val tRepetitionOracle: String =
    """WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents WHERE doc_id < 100),
      |u AS (SELECT doc_id, tok FROM t, unnest(toks) AS s(tok)),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM u GROUP BY 1, 2),
      |top AS (SELECT doc_id, MAX(c) AS top_tf FROM tf GROUP BY 1),
      |b AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
      |    list_filter(list_transform(list_zip(toks, toks[2:]),
      |      z -> z[1] || ' ' || z[2]), x -> x IS NOT NULL) AS bg
      |  FROM t)
      |SELECT b.doc_id, n AS n_tokens,
      |  CAST(n - nd AS DOUBLE) / CAST(n AS DOUBLE) AS dup_word_frac,
      |  CAST(top_tf AS DOUBLE) / CAST(n AS DOUBLE) AS top_word_frac,
      |  CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)
      |    / CAST(len(bg) AS DOUBLE) AS dup_bigram_frac
      |FROM b JOIN top ON b.doc_id = top.doc_id ORDER BY b.doc_id""".stripMargin

  /** Corpus quality FILTER (the C4/Gopher keep/drop decision): each doc
    * gets the first matching drop reason — too short, repetitive
    * (duplicate-word fraction), low diversity (top-word share) — or
    * `keep`; output is the per-reason census. The decision is a narrow
    * per-row expression over exact-integer-derived doubles (identical
    * IEEE comparisons both engines), so at 100 TB this is a single scan
    * plus a 4-group aggregate.
    */
  def tQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val top = docs.select(col("doc_id"), explode(tokens(col("text")))
        .as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id")).agg(max(col("tf")).as("top_tf"))
    val n = tokenCount(col("text"))
    val dupFrac = (n - typeCount(col("text"))).cast("double") /
      n.cast("double")
    val topFrac = col("top_tf").cast("double") / n.cast("double")
    val reason = when(n < 20, "too_short")
      .when(dupFrac > 0.6, "repetitive")
      .when(topFrac > 0.15, "low_diversity")
      .otherwise("keep")
    docs.join(top, Seq("doc_id"))
      .select(col("doc_id"), reason.as("reason"))
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("checksum"))
      .orderBy(col("reason"))
  }

  val tQualityFilterOracle: String =
    """WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents),
      |u AS (SELECT doc_id, tok FROM t, unnest(toks) AS s(tok)),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM u GROUP BY 1, 2),
      |top AS (SELECT doc_id, MAX(c) AS top_tf FROM tf GROUP BY 1),
      |m AS (SELECT t.doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
      |    top_tf FROM t JOIN top ON t.doc_id = top.doc_id),
      |r AS (SELECT doc_id, CASE
      |    WHEN n < 20 THEN 'too_short'
      |    WHEN CAST(n - nd AS DOUBLE) / CAST(n AS DOUBLE) > 0.6
      |      THEN 'repetitive'
      |    WHEN CAST(top_tf AS DOUBLE) / CAST(n AS DOUBLE) > 0.15
      |      THEN 'low_diversity'
      |    ELSE 'keep' END AS reason FROM m)
      |SELECT reason, COUNT(*) AS n_docs,
      |  CAST(SUM(doc_id) AS BIGINT) AS checksum
      |FROM r GROUP BY reason ORDER BY reason""".stripMargin

  /** Deterministic train/val/test split (90/5/5): Knuth multiplicative
    * hash of the doc id into 100 buckets. `df.sample`/TABLESAMPLE are
    * engine- and partitioning-dependent; a pure hash split is
    * reproducible anywhere, stable under corpus growth (a doc's split
    * never changes when new docs arrive), and needs no shuffle — the
    * assignment is a per-row expression, the census one aggregate. All
    * arithmetic in exact BIGINTs both engines.
    */
  def tSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = (col("doc_id") * 2654435761L) % 4294967296L % 100
    val split = when(bucket < 90, "train")
      .when(bucket < 95, "val").otherwise("test")
    Tables.documents(s, dir)
      .select(col("doc_id"), split.as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("checksum"))
      .orderBy(col("split"))
  }

  val tSplitOracle: String =
    """WITH b AS (SELECT doc_id,
      |    (doc_id * 2654435761) % 4294967296 % 100 AS bucket
      |  FROM documents),
      |r AS (SELECT doc_id, CASE WHEN bucket < 90 THEN 'train'
      |    WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split FROM b)
      |SELECT split, COUNT(*) AS n_docs,
      |  CAST(SUM(doc_id) AS BIGINT) AS checksum
      |FROM r GROUP BY split ORDER BY split""".stripMargin

  /** Token-aware SEQUENCE PACKING census — the concat-and-chunk packing
    * every LLM training pipeline runs before batching: documents stream in
    * a deterministic order, concatenate, and split at fixed token-budget
    * boundaries (docs crossing a boundary straddle two sequences). The
    * cumulative sum is NOT one per-language window — `lang` is skewed
    * (en ≈ 43%), so a `partitionBy(lang)` running sum over the corpus
    * sorts ~43 TB in one reducer at 100 TB. Instead it is computed
    * exactly in three parallel steps: (1) sub-shard each language by a
    * bounded doc_id range (`doc_id DIV shardSpan` — monotone in doc_id,
    * so (shard, doc_id) order IS doc_id order), local running sum per
    * (lang, shard) — a full-corpus shuffle but on the fine-grained
    * unskewed compound key; (2) prefix-sum the per-shard totals into
    * exclusive shard offsets (a window over the AGGREGATED #shards-row
    * table, corpus-size independent); (3) offset-join on (lang, shard) —
    * the same key as the local window, so no extra exchange. `shardSpan`
    * tunes shard count: at 100 TB pick ~10⁶ ids per shard so the offset
    * table stays small. Reported per language: sequences produced,
    * capacity used, boundary-straddling docs, and a placement checksum
    * (sum of each doc's first sequence index) so the oracle pins every
    * doc's packed position, not just totals.
    */
  /** Per-language running token sum ordered by doc_id WITHOUT a skewed
    * per-language window: shard-local cumsums on the (lang, doc_id DIV
    * shardSpan) compound key + prefix-summed shard offsets joined back
    * on the same key — see [[tPacking]] for the full rationale. Input
    * needs (doc_id, lang, tok); output adds `cum`. Shared with
    * `StratifiedDrawScaleSpec` so the spec pins the PRODUCTION
    * arithmetic against the naive window form, not a copy of it.
    */
  private[graft] def packedCum(toks: DataFrame,
      shardSpan: Long): DataFrame = {
    val sharded = toks.withColumn("shard", expr(s"doc_id DIV $shardSpan"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("shard"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val offsets = sharded.groupBy(col("lang"), col("shard"))
      .agg(sum(col("tok")).as("stot"))
      .withColumn("off", sum(col("stot")).over(wOff) - col("stot"))
      .select(col("lang"), col("shard"), col("off"))
    sharded
      .withColumn("local_cum", sum(col("tok")).over(wLocal))
      .join(offsets, Seq("lang", "shard"))
      .withColumn("cum", col("local_cum") + col("off"))
  }

  def tPacking(s: SparkSession, dir: String): DataFrame = {
    val budget = 256L
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), tokenCount(col("text")).as("tok"))
      .filter(col("tok") > 0)
    packedCum(toks, shardSpan = 128L)
      .select(col("doc_id"), col("lang"), col("tok"),
        ((col("cum") - col("tok")) / budget).cast("long").as("first_seq"),
        ((col("cum") - 1) / budget).cast("long").as("last_seq"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        (max(col("last_seq")) + 1).as("n_seqs"),
        sum(when(col("first_seq") =!= col("last_seq"), 1L).otherwise(0L))
          .as("n_straddlers"),
        sum(col("first_seq")).as("placement_checksum"))
      .orderBy(col("lang"))
  }

  val tPackingOracle: String =
    """WITH t AS (SELECT doc_id, lang,
      |    len(CASE WHEN length(trim(text)) = 0 THEN []
      |      ELSE regexp_split_to_array(trim(text), '\s+') END) AS tok
      |  FROM documents),
      |f AS (SELECT * FROM t WHERE tok > 0),
      |c AS (SELECT doc_id, lang, tok,
      |    SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum FROM f),
      |p AS (SELECT doc_id, lang, tok,
      |    (cum - tok) // 256 AS first_seq, (cum - 1) // 256 AS last_seq
      |  FROM c)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(tok) AS BIGINT) AS total_tokens,
      |  CAST(MAX(last_seq) + 1 AS BIGINT) AS n_seqs,
      |  CAST(SUM(CASE WHEN first_seq <> last_seq THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_straddlers,
      |  CAST(SUM(first_seq) AS BIGINT) AS placement_checksum
      |FROM p GROUP BY lang ORDER BY lang""".stripMargin

  /** Deterministic per-stratum draw WITHOUT a full-corpus rank window.
    * The naive draw — `row_number over (partition by lang order by h)`,
    * keep rn ≤ quota — shuffles the whole corpus on `lang`, a skewed key
    * (en ≈ 43% of documents): at 100 TB one reducer sort-spills ~43 TB.
    * A quota draw doesn't need a total order, only the quota-th smallest
    * h per stratum. So: bucket h into 4096 equal ranges (`h >> 19`,
    * h ∈ [0, 2³¹)), histogram per (lang, bucket) — one map-side-combined
    * aggregate, ≤ #langs×4096 rows — then fold each language's sorted
    * bucket counts with an `aggregate` HOF (no window anywhere in the
    * threshold computation) to find the boundary bucket where the
    * cumulative count first reaches the quota. Rows strictly below the
    * boundary are kept outright with ZERO shuffle (broadcast the
    * #langs-row threshold table, filter); only boundary-bucket rows —
    * ~1/4096 of the stratum — are ranked, partitioned by (lang, bucket).
    * Bucketing by h preserves the (h, doc_id) order across buckets, so
    * the result is bit-identical to the naive rank-and-keep draw.
    *
    * Deliberate trade: the corpus is SCANNED three times (histogram,
    * keep-outright, boundary branch) instead of shuffled once — each
    * scan is a 2-column column-pruned parquet read, which at 100 TB is
    * far cheaper than sort-spilling a 43%-skewed shuffle partition; a
    * single-pass variant would window over partitionBy(lang, bucket) on
    * the full corpus, trading the two extra scans for one full
    * (unskewed) shuffle.
    *
    * `quotas` is (lang, quota), #langs rows. Languages smaller than
    * their quota keep everything (fold ends with bb = -1); quota 0 keeps
    * nothing. Returns the kept (doc_id, lang, h).
    */
  private[graft] def stratifiedDraw(docs: DataFrame,
      quotas: DataFrame): DataFrame = {
    val h = (col("doc_id") * 1103515245L + 12345L) % 2147483648L
    val base = docs.select(col("doc_id"), col("lang"), h.as("h"))
      .withColumn("b", shiftright(col("h"), 19))
    val hist = base.groupBy(col("lang"), col("b"))
      .agg(count(lit(1)).as("cnt"))
    // fold sorted (bucket, count) pairs to the first bucket whose
    // cumulative count reaches the quota; `below` = count before it
    val bounds = hist.groupBy(col("lang"))
      .agg(sort_array(collect_list(struct(col("b"), col("cnt")))).as("bl"))
      .join(quotas, "lang")
      .select(col("lang"), col("quota"),
        expr("""aggregate(bl,
          named_struct('bb', CAST(-1 AS BIGINT), 'below', CAST(0 AS BIGINT),
                       'cum', CAST(0 AS BIGINT)),
          (acc, x) -> IF(acc.bb >= 0, acc,
            IF(acc.cum + x.cnt >= quota,
              named_struct('bb', x.b, 'below', acc.cum,
                           'cum', acc.cum + x.cnt),
              named_struct('bb', acc.bb, 'below', acc.below,
                           'cum', acc.cum + x.cnt))))""").as("st"))
      .select(col("lang"), col("st.bb").as("bb"),
        (col("quota") - col("st.below")).as("need"))
    val joined = base.join(broadcast(bounds), "lang")
    val keepOutright = joined.filter(col("bb") < 0 || col("b") < col("bb"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("b")).orderBy(col("h"), col("doc_id"))
    val boundaryRanked = joined.filter(col("b") === col("bb"))
      .withColumn("rnb", row_number().over(wb))
      .filter(col("rnb") <= col("need"))
    keepOutright.select(col("doc_id"), col("lang"), col("h"))
      .union(boundaryRanked.select(col("doc_id"), col("lang"), col("h")))
  }

  /** STRATIFIED (per-language quota) sampling, fully deterministic: keep
    * the `quota` docs with the smallest arithmetic hash of the id inside
    * each language. Unlike `df.sample`, the selection is reproducible
    * across engines and runs and per-stratum sized (the training-mix
    * contract: N docs per language, not N% of whatever arrived). The
    * selection runs through [[stratifiedDraw]]'s bucket-histogram
    * threshold — no full-corpus window on the skewed `lang` key.
    */
  def tStratified(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val quotas = docs.select(col("lang")).distinct()
      .withColumn("quota", lit(25L))
    stratifiedDraw(docs, quotas)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("checksum"),
        min(col("h")).as("min_h"), max(col("h")).as("max_h"))
      .orderBy(col("lang"))
  }

  val tStratifiedOracle: String =
    """WITH h AS (SELECT doc_id, lang,
      |    (doc_id * 1103515245 + 12345) % 2147483648 AS h FROM documents),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
      |    ORDER BY h, doc_id) AS rn FROM h)
      |SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT)
      |    AS checksum,
      |  CAST(MIN(h) AS BIGINT) AS min_h, CAST(MAX(h) AS BIGINT) AS max_h
      |FROM r WHERE rn <= 25 GROUP BY lang ORDER BY lang""".stripMargin

  /** PII scrub census — the privacy-filter stage of a training-data
    * pipeline: detect emails / IPv4s / phone numbers
    * ([[graft.functions.TextFunctions.piiCounts]]), redact them
    * ([[graft.functions.TextFunctions.redactPii]]), and report per-segment
    * how much text the scrub touched. The synthetic tables carry no real
    * PII, so the query plants it deterministically from `customer` keys
    * (the oracle constructs the identical text): every class of match and
    * non-match is exercised, including rows with several classes and rows
    * with none.
    *
    * Scale shape: construction + regex + length are one narrow projection
    * (whole-stage codegen'd, zero shuffle); the census is a single
    * map-side-combined groupBy on the 5-value segment key.
    */
  def tPii(s: SparkSession, dir: String): DataFrame = {
    val key = col("c_custkey")
    val txt = concat(
      lit("contact "), col("c_name"),
      when(key % 3 === 0,
        concat(lit(" user"), key.cast("string"), lit("@mail.example.com")))
        .otherwise(lit("")),
      when(key % 4 === 0,
        concat(lit(" from 192.168."), (key % 256).cast("string"),
          lit("."), (key % 100).cast("string"))).otherwise(lit("")),
      when(key % 5 === 0,
        concat(lit(" call +1-555-"),
          lpad((key % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((key % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), txt.as("txt"))
      .select(col("c_mktsegment"), col("txt"),
        piiCounts(col("txt")).as("pii"),
        redactPii(col("txt")).as("red"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(col("pii.emails")).as("n_emails"),
        sum(col("pii.ips")).as("n_ips"),
        sum(col("pii.phones")).as("n_phones"),
        sum(length(col("txt")).cast("long")).as("raw_chars"),
        sum(length(col("red")).cast("long")).as("redacted_chars"))
      .orderBy(col("c_mktsegment"))
  }

  val tPiiOracle: String =
    """WITH base AS (SELECT c_mktsegment,
      |    concat('contact ', c_name,
      |      CASE WHEN c_custkey % 3 = 0 THEN concat(' user',
      |        CAST(c_custkey AS VARCHAR), '@mail.example.com') ELSE '' END,
      |      CASE WHEN c_custkey % 4 = 0 THEN concat(' from 192.168.',
      |        CAST(c_custkey % 256 AS VARCHAR), '.',
      |        CAST(c_custkey % 100 AS VARCHAR)) ELSE '' END,
      |      CASE WHEN c_custkey % 5 = 0 THEN concat(' call +1-555-',
      |        lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0'), '-',
      |        lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0'))
      |        ELSE '' END) AS txt
      |  FROM customer),
      |scrub AS (SELECT c_mktsegment, txt,
      |    regexp_replace(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |      '<EMAIL>', 'g') AS after_email,
      |    len(regexp_extract_all(txt,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS emails
      |  FROM base),
      |scrub2 AS (SELECT c_mktsegment, txt, emails,
      |    regexp_replace(after_email, '\b(?:\d{1,3}\.){3}\d{1,3}\b',
      |      '<IP>', 'g') AS after_ip,
      |    len(regexp_extract_all(after_email,
      |      '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS ips
      |  FROM scrub),
      |scrub3 AS (SELECT c_mktsegment, txt, emails, ips,
      |    regexp_replace(after_ip,
      |      '\+?\d{1,3}[- .]?\(?\d{3}\)?[- .]?\d{3}[- .]?\d{4}',
      |      '<PHONE>', 'g') AS red,
      |    len(regexp_extract_all(after_ip,
      |      '\+?\d{1,3}[- .]?\(?\d{3}\)?[- .]?\d{3}[- .]?\d{4}')) AS phones
      |  FROM scrub2)
      |SELECT c_mktsegment,
      |  CAST(SUM(emails) AS BIGINT) AS n_emails,
      |  CAST(SUM(ips) AS BIGINT) AS n_ips,
      |  CAST(SUM(phones) AS BIGINT) AS n_phones,
      |  CAST(SUM(length(txt)) AS BIGINT) AS raw_chars,
      |  CAST(SUM(length(red)) AS BIGINT) AS redacted_chars
      |FROM scrub3 GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  /** Fluency scoring by corpus-bigram rarity — the log-free stand-in for
    * a KenLM-style perplexity filter (logprobs would hang cross-engine
    * determinism on libm; rank-by-rarity keeps every number an exact
    * integer plus one IEEE division, like [[tTfidf]]): a document's
    * rare_frac is the fraction of its word-bigram OCCURRENCES whose
    * corpus document-frequency is below the threshold — high means
    * disfluent/unusual text, the same signal a perplexity gate thresholds
    * on. Two shuffles at scale: the bigram→df aggregate (map-side
    * combined, distinct-bigram volume) and the doc re-aggregation; the df
    * side joins in broadcast-shaped (bounded vocabulary) or shuffles by
    * bigram (Zipfian natural text) — either way linear.
    */
  def tRareBigrams(s: SparkSession, dir: String): DataFrame = {
    val occ = Tables.documents(s, dir)
      .select(col("doc_id"), explode(wordBigrams(col("text"))).as("bigram"))
    val df = occ.select(col("bigram"), col("doc_id")).distinct()
      .groupBy(col("bigram")).agg(count(lit(1)).as("df"))
    occ.join(df, "bigram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("df") <= 2, lit(1)).otherwise(lit(0))).as("n_rare"))
      .withColumn("rare_frac",
        col("n_rare").cast("double") / col("n_bigrams").cast("double"))
      .filter(col("doc_id") < 100)
      .orderBy(col("doc_id"))
  }

  val tRareBigramsOracle: String =
    """WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents),
      |b AS (SELECT doc_id, unnest(list_transform(list_zip(toks, toks[2:]),
      |    z -> z[1] || ' ' || z[2])) AS bigram FROM t),
      |occ AS (SELECT doc_id, bigram FROM b WHERE bigram IS NOT NULL),
      |df AS (SELECT bigram, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY 1),
      |agg AS (SELECT occ.doc_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CASE WHEN df.df <= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_rare
      |  FROM occ JOIN df USING (bigram) GROUP BY 1)
      |SELECT doc_id, n_bigrams, n_rare,
      |  CAST(n_rare AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS rare_frac
      |FROM agg WHERE doc_id < 100 ORDER BY doc_id""".stripMargin

  /** Temperature-rebalanced training mix — the multilingual sampling rule
    * (mBERT/XLM-R style, T=2): domain d gets quota ∝ n_d^(1/2), pulling
    * the head language down and the tail languages up relative to
    * proportional sampling, then members are drawn by t11's
    * deterministic hash rank so the draw is reproducible and resumable.
    *
    * Engine-exactness across Spark and DuckDB is by construction:
    * weights are floor(sqrt(n·10^6)) — one correctly-rounded IEEE sqrt
    * each, then INTEGER sum and integer-division quotas, so no
    * float-summation order can flip a boundary. Scale shape: the count
    * pass is a map-side-combined aggregate over domains (rows:
    * #domains), the quota table broadcasts, and the draw runs through
    * [[stratifiedDraw]]'s bucket-histogram threshold — no full-corpus
    * window on the skewed `lang` key. Quotas are floor allocations; a
    * domain smaller than its quota contributes all its members
    * (keep-at-most semantics).
    */
  def tDomainMix(s: SparkSession, dir: String): DataFrame = {
    val target = 150
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val weights = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("wt",
        floor(sqrt(col("n_docs") * lit(1000000.0d))).cast("long"))
    val tot = weights.agg(sum(col("wt")).as("tot_wt"))
    val quotas = weights.crossJoin(broadcast(tot))
      .withColumn("quota", expr(s"($target * wt) DIV tot_wt"))
    stratifiedDraw(docs, quotas.select(col("lang"), col("quota")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("checksum"))
      .join(broadcast(quotas), "lang")
      .select(col("lang"), col("n_docs"), col("wt"), col("quota"),
        col("n_kept"), col("checksum"))
      .orderBy(col("lang"))
  }

  val tDomainMixOracle: String =
    """WITH c AS (SELECT lang, COUNT(*) AS n_docs,
      |    CAST(FLOOR(SQRT(COUNT(*) * 1000000.0)) AS BIGINT) AS wt
      |  FROM documents GROUP BY lang),
      |q AS (SELECT lang, n_docs, wt,
      |    (150 * wt) // (SELECT SUM(wt) FROM c) AS quota FROM c),
      |r AS (SELECT doc_id, lang,
      |    (doc_id * 1103515245 + 12345) % 2147483648 AS h,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY (doc_id * 1103515245 + 12345) % 2147483648, doc_id)
      |      AS rn
      |  FROM documents)
      |SELECT q.lang, q.n_docs, q.wt, CAST(q.quota AS BIGINT) AS quota,
      |  COUNT(*) AS n_kept, CAST(SUM(r.doc_id) AS BIGINT) AS checksum
      |FROM r JOIN q ON r.lang = q.lang WHERE r.rn <= q.quota
      |GROUP BY q.lang, q.n_docs, q.wt, q.quota ORDER BY q.lang""".stripMargin

  /** BPE tokenizer training, the distributed half: 3 merge rounds over
    * the corpus word-frequency table. Each round is the canonical
    * two-step — (1) count adjacent symbol pairs weighted by word
    * frequency (one map-side-combined shuffle over the VOCABULARY, not
    * the corpus: the corpus collapses to (word, freq) once, which is the
    * property that makes BPE trainable on 100 TB — the iteration state
    * is vocabulary-sized), (2) pick the argmax pair (1 collected row,
    * the merge-table entry) and apply it everywhere with a literal
    * `replace`. Symbols are double-space-delimited inside single-space
    * sentinels, so left-to-right non-overlapping string replacement —
    * identical semantics in Spark, DuckDB, and every stdlib — IS the BPE
    * leftmost-first merge rule ("a a a" → "aa a"), no regex lookarounds
    * needed. Ties break by pair string, so the merge table is fully
    * deterministic. Output is the trained artifact: the merge list with
    * its support counts.
    */
  /** The shared 3-round BPE training loop: returns the merge table and
    * the post-merge vocabulary ([[tBpeTrain]] reports the former,
    * [[tBpeApply]] censuses the latter — one definition so train and
    * apply can never drift).
    */
  private def bpeRounds(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)],
        org.apache.spark.sql.DataFrame) = {
    val words = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(concat(lit(" "), array_join(split(col("word"), ""), "  "),
        lit(" ")).as("sym"), col("freq"))
      .staged()
    var cur = words
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    for (it <- 1 to 3) {
      val syms = split(trim(col("sym")), "  ")
      val top = cur
        .filter(size(syms) >= 2)
        .select(col("freq"), explode(
          zip_with(slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1),
            (a, b) => concat(a, lit(" "), b))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .collect()(0)
      val (pair, cnt) = (top.getString(0), top.getLong(1))
      val Array(a, b) = pair.split(" ")
      merges += ((it, pair, a + b, cnt))
      cur = cur.select(
        call_function("replace", col("sym"), lit(s" $a  $b "), lit(s" $a$b "))
          .as("sym"), col("freq"))
        .staged()
    }
    (merges.toSeq, cur)
  }

  /** The training artifact, derived ONCE per (session, corpus, graft
    * conf): t15 reports the merge table, t19 censuses the post-merge
    * vocabulary — both consume THIS staged result, so apply no longer
    * re-pays the three training rounds it shares with train (pure
    * re-compute, the r6 bench's only real regression) and the
    * can't-drift property strengthens from same-code to same-execution.
    * The conf dirs are part of the key because the checkpoint-dir
    * invariance spec re-points `spark.graft.checkpointDir` and asserts
    * fresh checkpoint files land — a conf-blind cache would silently
    * satisfy it from the old directory.
    */
  private val bpeCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(Int, String, String, Long)],
      org.apache.spark.sql.DataFrame)]()

  private def bpeRoundsMemo(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)],
        org.apache.spark.sql.DataFrame) = {
    val key = Seq(System.identityHashCode(s).toString, dir,
      s.conf.getOption("spark.graft.checkpointDir").getOrElse(""),
      s.conf.getOption("spark.graft.tmpDir").getOrElse(""))
      .mkString("|")
    bpeCache.computeIfAbsent(key, _ => bpeRounds(s, dir))
  }

  def tBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeRoundsMemo(s, dir)._1.toDF("it", "pair", "merged", "cnt")
  }

  /** BPE ENCODE — the other half of the tokenizer story: apply the
    * learned merge table to the vocabulary and report the compression it
    * buys (frequency-weighted token counts before/after — "before" is
    * character-level, recovered from the symbol string itself so the two
    * sides can't disagree about tokenization). At scale this is the
    * per-document encode pass: vocabulary-sized replace chain, broadcast
    * merge table, corpus touched once.
    */
  def tBpeApply(s: SparkSession, dir: String): DataFrame = {
    val cur = bpeRoundsMemo(s, dir)._2
    val after = size(split(trim(col("sym")), "  ")).cast("long")
    val before = length(call_function("replace", col("sym"), lit(" "),
      lit(""))).cast("long")
    cur.agg(count(lit(1)).as("n_words"),
      sum(col("freq")).as("n_tokens_ws"),
      sum(col("freq") * before).as("chars_before"),
      sum(col("freq") * after).as("tokens_after"))
  }

  val tBpeApplyOracle: String =
    """WITH wr AS (SELECT word, COUNT(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0 GROUP BY word),
      |w0 AS (SELECT ' ' || array_to_string(string_split(word, ''), '  ')
      |    || ' ' AS sym, freq FROM wr),
      |p1 AS (SELECT pair, SUM(freq) AS cnt FROM (
      |    SELECT unnest(list_transform(
      |        range(1, len(string_split(trim(sym), '  '))),
      |        i -> string_split(trim(sym), '  ')[CAST(i AS INT)] || ' '
      |          || string_split(trim(sym), '  ')[CAST(i+1 AS INT)])) AS pair,
      |      freq FROM w0) GROUP BY pair),
      |t1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
      |w1 AS (SELECT replace(sym,
      |    ' ' || replace((SELECT pair FROM t1), ' ', '  ') || ' ',
      |    ' ' || replace((SELECT pair FROM t1), ' ', '') || ' ') AS sym,
      |    freq FROM w0),
      |p2 AS (SELECT pair, SUM(freq) AS cnt FROM (
      |    SELECT unnest(list_transform(
      |        range(1, len(string_split(trim(sym), '  '))),
      |        i -> string_split(trim(sym), '  ')[CAST(i AS INT)] || ' '
      |          || string_split(trim(sym), '  ')[CAST(i+1 AS INT)])) AS pair,
      |      freq FROM w1) GROUP BY pair),
      |t2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
      |w2 AS (SELECT replace(sym,
      |    ' ' || replace((SELECT pair FROM t2), ' ', '  ') || ' ',
      |    ' ' || replace((SELECT pair FROM t2), ' ', '') || ' ') AS sym,
      |    freq FROM w1),
      |p3 AS (SELECT pair, SUM(freq) AS cnt FROM (
      |    SELECT unnest(list_transform(
      |        range(1, len(string_split(trim(sym), '  '))),
      |        i -> string_split(trim(sym), '  ')[CAST(i AS INT)] || ' '
      |          || string_split(trim(sym), '  ')[CAST(i+1 AS INT)])) AS pair,
      |      freq FROM w2) GROUP BY pair),
      |t3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
      |w3 AS (SELECT replace(sym,
      |    ' ' || replace((SELECT pair FROM t3), ' ', '  ') || ' ',
      |    ' ' || replace((SELECT pair FROM t3), ' ', '') || ' ') AS sym,
      |    freq FROM w2)
      |SELECT COUNT(*) AS n_words, CAST(SUM(freq) AS BIGINT) AS n_tokens_ws,
      |  CAST(SUM(freq * length(replace(sym, ' ', ''))) AS BIGINT)
      |    AS chars_before,
      |  CAST(SUM(freq * len(string_split(trim(sym), '  '))) AS BIGINT)
      |    AS tokens_after
      |FROM w3""".stripMargin

  val tBpeTrainOracle: String =
    """WITH wr AS (SELECT word, COUNT(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0 GROUP BY word),
      |w0 AS (SELECT ' ' || array_to_string(string_split(word, ''), '  ')
      |    || ' ' AS sym, freq FROM wr),
      |p1 AS (SELECT pair, SUM(freq) AS cnt FROM (
      |    SELECT unnest(list_transform(
      |        range(1, len(string_split(trim(sym), '  '))),
      |        i -> string_split(trim(sym), '  ')[CAST(i AS INT)] || ' '
      |          || string_split(trim(sym), '  ')[CAST(i+1 AS INT)])) AS pair,
      |      freq FROM w0) GROUP BY pair),
      |t1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
      |w1 AS (SELECT replace(sym,
      |    ' ' || replace((SELECT pair FROM t1), ' ', '  ') || ' ',
      |    ' ' || replace((SELECT pair FROM t1), ' ', '') || ' ') AS sym,
      |    freq FROM w0),
      |p2 AS (SELECT pair, SUM(freq) AS cnt FROM (
      |    SELECT unnest(list_transform(
      |        range(1, len(string_split(trim(sym), '  '))),
      |        i -> string_split(trim(sym), '  ')[CAST(i AS INT)] || ' '
      |          || string_split(trim(sym), '  ')[CAST(i+1 AS INT)])) AS pair,
      |      freq FROM w1) GROUP BY pair),
      |t2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
      |w2 AS (SELECT replace(sym,
      |    ' ' || replace((SELECT pair FROM t2), ' ', '  ') || ' ',
      |    ' ' || replace((SELECT pair FROM t2), ' ', '') || ' ') AS sym,
      |    freq FROM w1),
      |p3 AS (SELECT pair, SUM(freq) AS cnt FROM (
      |    SELECT unnest(list_transform(
      |        range(1, len(string_split(trim(sym), '  '))),
      |        i -> string_split(trim(sym), '  ')[CAST(i AS INT)] || ' '
      |          || string_split(trim(sym), '  ')[CAST(i+1 AS INT)])) AS pair,
      |      freq FROM w2) GROUP BY pair),
      |t3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1)
      |SELECT 1 AS it, pair, replace(pair, ' ', '') AS merged,
      |  CAST(cnt AS BIGINT) AS cnt FROM t1
      |UNION ALL SELECT 2, pair, replace(pair, ' ', ''),
      |  CAST(cnt AS BIGINT) FROM t2
      |UNION ALL SELECT 3, pair, replace(pair, ' ', ''),
      |  CAST(cnt AS BIGINT) FROM t3
      |ORDER BY it""".stripMargin

  /** Fuzzy word matching (entity-resolution's core primitive): all
    * vocabulary pairs within edit distance 2, found by FastSS deletion
    * neighborhoods (Bocek et al.) — two words are within ED k iff some
    * ≤k-deletion variant of one equals a ≤k-deletion variant of the
    * other, so candidates come from an EQUI-join on shared variants and
    * only candidates pay the exact Levenshtein check (codegen'd
    * built-in). Never an all-pairs scan: variant generation is
    * VOCABULARY-sized work (the corpus collapsed to distinct words
    * first), ≤ 1+L+L²/2 variants per word, and the join shuffles
    * variants, not word pairs. The variant generator is a UDF by choice:
    * it runs once per vocabulary entry, not per corpus row, so codegen
    * is irrelevant while the nested-loop HOF equivalent would be
    * unreadable.
    */
  def tFuzzyWords(s: SparkSession, dir: String): DataFrame = {
    val del2 = udf((w: String) => {
      def del1(x: String): Seq[String] =
        x.indices.map(i => x.substring(0, i) + x.substring(i + 1))
      (Seq(w) ++ del1(w) ++ del1(w).flatMap(del1)).distinct
    })
    // length cap: the ≤2-deletion neighborhood is O(L²) variants per
    // word, so a pathological unbroken "word" (a URL, a base64 blob)
    // must not explode the index — production FastSS bounds the key
    // length and routes longer strings to a different matcher
    val vocab = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= 24).distinct()
    val variants = vocab
      .select(col("w"), explode(del2(col("w"))).as("variant"))
    variants.as("a").join(variants.as("b"),
        col("a.variant") === col("b.variant") && col("a.w") < col("b.w"))
      .select(col("a.w").as("wa"), col("b.w").as("wb")).distinct()
      .withColumn("ed", levenshtein(col("wa"), col("wb")).cast("long"))
      .filter(col("ed") <= 2)
      .orderBy(col("wa"), col("wb"))
  }

  val tFuzzyWordsOracle: String =
    """WITH w AS (SELECT DISTINCT word AS w FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0 AND length(word) <= 24)
      |SELECT a.w AS wa, b.w AS wb,
      |  CAST(levenshtein(a.w, b.w) AS BIGINT) AS ed
      |FROM w a JOIN w b ON a.w < b.w AND levenshtein(a.w, b.w) <= 2
      |ORDER BY wa, wb""".stripMargin

  /** Leakage-proof train/val/test split — t9's hash split plus the
    * eval-hygiene step most pipelines skip and then regret: a val/test
    * document with a NEAR-DUPLICATE partner in any other split leaks its
    * content across the boundary (the model effectively trains on the
    * eval set), so every such document is reassigned to train. Pairs are
    * the same jaccard ≥ 0.8 set the dedup family verifies; the census
    * reports per-final-split sizes and how many documents moved.
    *
    * Scale shape: the split is a stateless hash; the pair set is the
    * LSH-scale near-dup output (corpus-small); flagging is two
    * label-joins of the pair list against the split table — never a
    * corpus×corpus operation.
    */
  def tSplitDecontam(s: SparkSession, dir: String): DataFrame = {
    val bucket = (col("doc_id") * 2654435761L) % 4294967296L % 100
    val split = when(bucket < 90, "train")
      .when(bucket < 95, "val").otherwise("test")
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split.as("split"))
    val pairs = DedupQueries.jaccardPairs(s, dir, 0.8)
      .select(col("ia"), col("ib"))
    val sym = pairs.unionByName(
      pairs.select(col("ib").as("ia"), col("ia").as("ib")))
    // docs (ib side) having a partner in a different split
    val crossed = sym
      .join(docs.select(col("doc_id").as("ia"), col("split").as("sa")),
        Seq("ia"))
      .join(docs.select(col("doc_id").as("ib"), col("split").as("sb")),
        Seq("ib"))
      .filter(col("sa") =!= col("sb"))
      .select(col("ib").as("doc_id")).distinct()
      .withColumn("crossed", lit(true))
    docs.join(crossed, Seq("doc_id"), "left")
      .withColumn("final_split",
        when(coalesce(col("crossed"), lit(false)) &&
          col("split") =!= "train", "train").otherwise(col("split")))
      .groupBy(col("final_split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("final_split") =!= col("split"), 1L).otherwise(0L))
          .as("n_moved_in"),
        sum(col("doc_id")).as("checksum"))
      .orderBy(col("final_split"))
  }

  val tSplitDecontamOracle: String =
    """WITH b AS (SELECT doc_id,
      |    (doc_id * 2654435761) % 4294967296 % 100 AS bucket
      |  FROM documents),
      |r AS (SELECT doc_id, CASE WHEN bucket < 90 THEN 'train'
      |    WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split FROM b),
      |s0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g FROM documents),
      |sgl AS (SELECT DISTINCT doc_id, g FROM s0),
      |sz AS (SELECT doc_id, COUNT(*) n FROM sgl GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |  FROM sgl a JOIN sgl b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (SELECT ia, ib FROM inter
      |  JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      |  WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= 0.8),
      |sym AS (SELECT ia, ib FROM pairs
      |  UNION ALL SELECT ib, ia FROM pairs),
      |crossed AS (SELECT DISTINCT sym.ib AS doc_id FROM sym
      |  JOIN r ra ON ra.doc_id = sym.ia
      |  JOIN r rb ON rb.doc_id = sym.ib
      |  WHERE ra.split <> rb.split),
      |fin AS (SELECT r.doc_id, r.split,
      |    CASE WHEN crossed.doc_id IS NOT NULL AND r.split <> 'train'
      |      THEN 'train' ELSE r.split END AS final_split
      |  FROM r LEFT JOIN crossed ON crossed.doc_id = r.doc_id)
      |SELECT final_split, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN final_split <> split THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_moved_in,
      |  CAST(SUM(doc_id) AS BIGINT) AS checksum
      |FROM fin GROUP BY final_split ORDER BY final_split""".stripMargin

  /** The Gopher document-quality rule table (Rae et al. 2021, Table A1's
    * document-level rules applicable to this corpus's text shape) as a
    * per-rule violation census plus the all-rules keep count — the form
    * a curation run reports before applying t8's keep/drop. Every rule
    * evaluates in EXACT integer arithmetic (ratio bounds as
    * cross-multiplications: mean word length in [3,10] ⟺ 3n ≤ Σlen ≤
    * 10n; alpha-word fraction ≥ 0.8 ⟺ 5·n_alpha ≥ 4·n), so no division
    * can drift the census. One corpus scan, all counters codegen'd HOFs,
    * one map-side-combined aggregate per rule row.
    */
  def tGopherRules(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with",
      "a")
    val toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n"),
        aggregate(transform(col("t"), w => length(w).cast("long")),
          lit(0L), (a, x) => a + x).as("total_len"),
        size(filter(col("t"), w => w.rlike("[a-zA-Z]"))).cast("long")
          .as("n_alpha"),
        size(array_intersect(array_distinct(col("t")),
          array(stop.map(lit): _*))).cast("long").as("n_stop"))
    val rules = Seq(
      ("word_count", col("n") < 40 || col("n") > 100000),
      ("mean_word_len", col("total_len") < col("n") * 3 ||
        col("total_len") > col("n") * 10),
      ("alpha_words", col("n_alpha") * 5 < col("n") * 4),
      ("stopwords", col("n_stop") < 2)) :+
      ("zz_keep_all", Seq(
        col("n") < 40 || col("n") > 100000,
        col("total_len") < col("n") * 3 || col("total_len") > col("n") * 10,
        col("n_alpha") * 5 < col("n") * 4,
        col("n_stop") < 2).map(!_).reduce(_ && _))
    // ONE aggregate computes every rule's (count, checksum) pair in a
    // single corpus pass; the 1×2k row then unpivots to rule rows
    val flat = base.agg(
      rules.flatMap { case (name, p) => Seq(
        sum(when(p, 1L).otherwise(0L)).as(s"n_$name"),
        sum(when(p, col("doc_id")).otherwise(0L)).as(s"c_$name"))
      }.head, rules.flatMap { case (name, p) => Seq(
        sum(when(p, 1L).otherwise(0L)).as(s"n_$name"),
        sum(when(p, col("doc_id")).otherwise(0L)).as(s"c_$name"))
      }.tail: _*)
    flat.select(explode(array(rules.map { case (name, _) =>
        struct(lit(name).as("rule"), col(s"n_$name").as("n_docs"),
          col(s"c_$name").as("checksum"))
      }: _*)).as("r"))
      .select(col("r.rule"), col("r.n_docs"), col("r.checksum"))
      .orderBy(col("rule"))
  }

  val tGopherRulesOracle: String =
    """WITH b AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)
      |      AS t FROM documents),
      |m AS (SELECT doc_id, len(t) AS n,
      |    list_aggregate(list_transform(t, x -> len(x)), 'sum') AS total_len,
      |    len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
      |    len(list_intersect(list_distinct(t),
      |      ['the','be','to','of','and','that','have','with','a']))
      |      AS n_stop
      |  FROM b),
      |r AS (
      |  SELECT 'word_count' AS rule, COUNT(*) AS n_docs,
      |    CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS checksum FROM m
      |    WHERE n < 40 OR n > 100000
      |  UNION ALL SELECT 'mean_word_len', COUNT(*),
      |    CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM m
      |    WHERE total_len < n * 3 OR total_len > n * 10
      |  UNION ALL SELECT 'alpha_words', COUNT(*),
      |    CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM m
      |    WHERE n_alpha * 5 < n * 4
      |  UNION ALL SELECT 'stopwords', COUNT(*),
      |    CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM m
      |    WHERE n_stop < 2
      |  UNION ALL SELECT 'zz_keep_all', COUNT(*),
      |    CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM m
      |    WHERE NOT (n < 40 OR n > 100000)
      |      AND NOT (total_len < n * 3 OR total_len > n * 10)
      |      AND NOT (n_alpha * 5 < n * 4) AND NOT (n_stop < 2))
      |SELECT rule, n_docs, checksum FROM r ORDER BY rule""".stripMargin

  /** URL canonicalization + dedup census — the fetch-frontier hygiene
    * step of a web-scale corpus pipeline (CommonCrawl-style): the same
    * page arrives under case-varied schemes/hosts, explicit default
    * ports, utm_* tracking parameters, and fragments; deduplication must
    * run on the CANONICAL url. Rules (each exercised by the planted
    * construction, which the oracle replays byte-for-byte): lowercase
    * scheme and host; strip :80/:443 iff it is the scheme's default
    * (a non-default :8080 survives); drop utm_* query params while
    * preserving the rest (`?utm_source=x&ref=7` → `?ref=7`) and any
    * then-empty `?`; drop fragments.
    *
    * Scale shape: construction + canonicalization are one codegen'd
    * narrow projection (regex chain, zero shuffle); the census is a
    * two-level aggregate — (scheme, canon) groups then per-scheme stats
    * — both map-side combined, shuffle volume = distinct canonical urls.
    */
  def tUrlCanon(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    // ports: :443 on https keys and :80 on http keys are scheme-default
    // (stripped); :8080 is non-default (kept). k%4==1 is odd, so the
    // :80 branch really lands on http URLs — every strip rule is
    // reachable. k%3==2 plants an xutm_source param: NOT a utm_* param,
    // must survive canonicalization whole (the embedded-substring trap).
    val url = concat(
      when(k % 2 === 0, "HtTpS").otherwise("hTtP"), lit("://"),
      lit("ShOp"), (k % 50).cast("string"), lit(".ExAmPle.CoM"),
      when(k % 4 === 0, ":443").when(k % 4 === 1, ":80")
        .when(k % 4 === 2, ":8080").otherwise(""),
      lit("/p/"), (k % 50).cast("string"),
      when(k % 3 === 0,
        concat(lit("?utm_source=news&utm_id="), k.cast("string")))
        .when(k % 3 === 1,
          concat(lit("?utm_source=news&ref="), (k % 50).cast("string")))
        .otherwise(concat(lit("?xutm_source="), (k % 50).cast("string"))),
      when(k % 5 === 0, concat(lit("#sec"), k.cast("string")))
        .otherwise(""))
    // utm stripping removes WHOLE parameters only: unify '?' to '&',
    // drop '&utm_<name>=<value>' (anchored at the separator, so an
    // xutm_source param is untouched), then turn the first surviving
    // separator back into '?' — RE2 has no lookbehind, and this
    // normalize-strip-restore sequence needs none.
    Tables.customer(s, dir)
      .select(k.as("k"), url.as("url"))
      .select(col("k"),
        lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1))
          .as("scheme"),
        lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/]+)", 1))
          .as("hostport"),
        regexp_replace(col("url"), "^[A-Za-z]+://[^/]+", "").as("tail0"))
      .select(col("k"), col("scheme"),
        when(col("scheme") === "http",
          regexp_replace(col("hostport"), ":80$", ""))
          .otherwise(regexp_replace(col("hostport"), ":443$", ""))
          .as("hp"),
        regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(col("tail0"), "#.*$", ""),
          "[?]", "&"),
          "&utm_[a-z]+=[^&]*", ""),
          "^([^&]*)&", "$1?").as("tail"))
      .groupBy(col("scheme"),
        concat(col("scheme"), lit("://"), col("hp"), col("tail"))
          .as("canon"))
      .agg(count(lit(1)).as("k_cnt"), min(col("k")).as("rep"))
      .groupBy(col("scheme"))
      .agg(sum(col("k_cnt")).as("n_raw"), count(lit(1)).as("n_canon"),
        max(col("k_cnt")).as("max_group"),
        sum(col("rep")).as("rep_checksum"))
      .orderBy(col("scheme"))
  }

  val tUrlCanonOracle: String =
    """WITH u AS (SELECT c_custkey AS k,
      |    concat(
      |      CASE WHEN c_custkey % 2 = 0 THEN 'HtTpS' ELSE 'hTtP' END,
      |      '://', 'ShOp', CAST(c_custkey % 50 AS VARCHAR), '.ExAmPle.CoM',
      |      CASE WHEN c_custkey % 4 = 0 THEN ':443'
      |        WHEN c_custkey % 4 = 1 THEN ':80'
      |        WHEN c_custkey % 4 = 2 THEN ':8080' ELSE '' END,
      |      '/p/', CAST(c_custkey % 50 AS VARCHAR),
      |      CASE WHEN c_custkey % 3 = 0 THEN
      |        concat('?utm_source=news&utm_id=', CAST(c_custkey AS VARCHAR))
      |        WHEN c_custkey % 3 = 1 THEN
      |        concat('?utm_source=news&ref=', CAST(c_custkey % 50 AS VARCHAR))
      |        ELSE concat('?xutm_source=', CAST(c_custkey % 50 AS VARCHAR))
      |        END,
      |      CASE WHEN c_custkey % 5 = 0 THEN
      |        concat('#sec', CAST(c_custkey AS VARCHAR)) ELSE '' END) AS url
      |  FROM customer),
      |c0 AS (SELECT k, url,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
      |    lower(regexp_extract(url, '^[A-Za-z]+://([^/]+)', 1)) AS hostport,
      |    regexp_replace(url, '^[A-Za-z]+://[^/]+', '') AS tail0
      |  FROM u),
      |c1 AS (SELECT k, scheme,
      |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |         ELSE regexp_replace(hostport, ':443$', '') END AS hp,
      |    regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(tail0, '#.*$', ''),
      |      '[?]', '&', 'g'),
      |      '&utm_[a-z]+=[^&]*', '', 'g'),
      |      '^([^&]*)&', '\1?') AS tail
      |  FROM c0),
      |g AS (SELECT scheme, concat(scheme, '://', hp, tail) AS canon,
      |    COUNT(*) AS k_cnt, MIN(k) AS rep
      |  FROM c1 GROUP BY 1, 2)
      |SELECT scheme, CAST(SUM(k_cnt) AS BIGINT) AS n_raw,
      |  COUNT(*) AS n_canon, CAST(MAX(k_cnt) AS BIGINT) AS max_group,
      |  CAST(SUM(rep) AS BIGINT) AS rep_checksum
      |FROM g GROUP BY scheme ORDER BY scheme""".stripMargin

  /** Keyed PSEUDONYMIZATION with referential integrity — the
    * privacy-governance sibling of [[tPii]]'s redaction: direct
    * identifiers are replaced by a keyed one-way token
    * (`sha256(salt ‖ id)` truncated to 16 hex chars) so the data stays
    * JOINABLE — the same id under the same salt maps to the same token
    * in every table, while the raw id never leaves the pipeline. The
    * query pseudonymizes customer keys in BOTH `customer` and `orders`,
    * joins the tables ON THE TOKEN, and emits a per-segment census plus
    * injectivity evidence (distinct tokens == distinct source keys —
    * a truncation collision would break referential integrity, so the
    * gate pins its absence at this scale).
    *
    * Scale shape: tokenization is a codegen'd per-row hash (zero
    * shuffle, no lookup table to leak or replicate — the salt is the
    * only secret); the join shuffles on the token exactly as it would
    * have on the raw key.
    */
  def tPseudonymize(s: SparkSession, dir: String): DataFrame = {
    val salt = "graft-round5"
    def token(c: org.apache.spark.sql.Column) =
      substring(sha2(concat(lit(salt), c.cast("string")), 256), 1, 16)
    val cust = Tables.customer(s, dir)
      .select(token(col("c_custkey")).as("tok"), col("c_mktsegment"),
        col("c_custkey"))
    val ords = Tables.orders(s, dir)
      .select(token(col("o_custkey")).as("tok"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    cust.join(ords, Seq("tok"))
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("tok")).as("n_tokens"),
        countDistinct(col("c_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("c_mktsegment"))
  }

  val tPseudonymizeOracle: String =
    """WITH c AS (SELECT substr(sha256(concat('graft-round5',
      |      CAST(c_custkey AS VARCHAR))), 1, 16) AS tok,
      |    c_mktsegment, c_custkey FROM customer),
      |o AS (SELECT substr(sha256(concat('graft-round5',
      |      CAST(o_custkey AS VARCHAR))), 1, 16) AS tok,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents FROM orders)
      |SELECT c_mktsegment, COUNT(DISTINCT c.tok) AS n_tokens,
      |  COUNT(DISTINCT c_custkey) AS n_customers,
      |  COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM c JOIN o ON c.tok = o.tok
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Sliding-window chunking — the context-window preprocessor every
    * training/RAG pipeline runs before embedding or packing: each
    * document splits into fixed-size token windows (W=32 words) with a
    * fixed stride (S=24, i.e. 8 words of overlap so no boundary context
    * is lost), and the last window starts at the first stride multiple
    * that reaches the document end (no fully-contained redundant tail).
    * W/S are sized to this corpus's ≤100-word documents; a production
    * run uses the model's context budget (e.g. 512/448) — the shape is
    * identical. Output is the per-language chunk census (docs, chunks,
    * words covered incl. overlap, and a position checksum) rather than
    * the chunks themselves, so the gate hashes the full boundary math.
    *
    * Scale shape: chunk boundaries are computed INSIDE each row
    * (sequence + transform over the word count) and exploded narrowly —
    * no shuffle until the census aggregate (map-side combined, one row
    * per lang). n_docs counts windows at position 0 instead of
    * count-distinct doc_id, keeping the aggregate fixed-width.
    */
  def tChunking(s: SparkSession, dir: String): DataFrame = {
    val W = 32
    val S = 24
    val n = size(split(col("text"), " "))
    val kmax = when(n <= W, lit(0))
      .otherwise(((n - W + (S - 1)).cast("double") / S).cast("int"))
    val chunks = transform(sequence(lit(0), kmax), k =>
      struct((k * S).cast("long").as("st"),
        least(n - k * S, lit(W)).cast("long").as("ln")))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(chunks).as("c"))
      .groupBy(col("lang"))
      .agg(
        sum(when(col("c.st") === 0, 1L).otherwise(0L)).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("c.ln")).as("words_covered"),
        sum(col("doc_id") * 7919 + col("c.st")).as("checksum"))
      .orderBy(col("lang"))
  }

  /** The oracle generates window indexes from an uncorrelated range
    * (DuckDB's `range` cannot take a lateral bound) — 32 covers documents
    * up to ~770 words, far past this corpus's 100-word max; a longer doc
    * would surface as a loud row/hash mismatch, never a silent pass.
    */
  val tChunkingOracle: String =
    """WITH d AS (SELECT doc_id, lang,
      |    len(string_split(text, ' ')) n FROM documents),
      |k AS (SELECT doc_id, lang, n,
      |    CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 23) // 24 END kmax
      |  FROM d),
      |c AS (SELECT doc_id, lang, CAST((i-1)*24 AS BIGINT) st,
      |    LEAST(n - (i-1)*24, 32) ln
      |  FROM k, range(1, 32) r(i) WHERE i <= kmax + 1)
      |SELECT lang,
      |  CAST(SUM(CASE WHEN st = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_chunks,
      |  CAST(SUM(ln) AS BIGINT) AS words_covered,
      |  CAST(SUM(doc_id * 7919 + st) AS BIGINT) AS checksum
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  /** BM25 top-k retrieval over the corpus — the lexical-retrieval
    * primitive beside the ANN family's dense one (RAG pipelines run
    * both). Okapi BM25 with k1=1.2, b=0.75: per-term contribution =
    * idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), idf kept RATIONAL
    * (N/df, the same float-free idf t6 uses) so every factor is an
    * IEEE-exact combination of integers — no libm call whose last ulp
    * could differ across engines. Per-term contributions are floored
    * onto a 1e-7 fixed-point grid and summed as LONGS, making the
    * per-doc score independent of Spark's partial-aggregation order —
    * the float-sum determinism rule this suite follows everywhere.
    *
    * Queries are self-derived: terms ranked 6–15 by (corpus count
    * desc, term) — the band is a knob; on a natural corpus it sits at
    * mid-frequency where posting lists are selective (this synthetic
    * soup has a 31-word vocabulary, so every list is dense) — paired
    * into five 2-term queries. The rank probe is
    * `TakeOrderedAndProject` + a 15-row driver collect (bounded), the
    * scoring joins are posting-list equi-joins (shuffle ∝ candidate
    * postings, map-side combined), and the final top-5 window
    * partitions by `qid` (≤5 keys over candidate docs only — the
    * bounded-key window shape the s-family probes use).
    */
  /** The ONE query side of the BM25 family: query-term selection (the
    * rank band, from the postings' term totals — a 15-row bounded
    * collect), posting-list join-scoring through
    * [[graft.functions.TextFunctions.bm25Fp]], and the top-5-per-query
    * bounded-qid window. t23/t24/t25 differ ONLY in where the index
    * tables come from (in-plan, stored parquet, manifest snapshot);
    * they rank through this single definition so the bit-identical
    * answer contract between them cannot drift on a one-sided edit.
    */
  private def bm25TopK(s: SparkSession, tf: DataFrame, dft: DataFrame,
      dl: DataFrame, nDocs: Long, avgdl: Double,
      termTotals: Option[DataFrame] = None): DataFrame = {
    // callers that DERIVE dft from tf can hand in a fused (term, c)
    // aggregate computed alongside df — one posting scan, not two
    val totals = termTotals.getOrElse(
      tf.groupBy(col("term")).agg(sum(col("tf")).as("c")))
    val top = totals
      .orderBy(col("c").desc, col("term")).limit(15).collect()
    val qterms = s.createDataFrame(
      top.slice(5, 15).toSeq.zipWithIndex
        .map { case (r, i) => (i.toLong / 2, r.getString(0)) })
      .toDF("qid", "term")
    // per-query top-5 via the bounded-heap aggregate: the scored
    // (qid, doc_id) fan partial-aggregates map-side and the final
    // exchange carries 5 rows per query — no rank window sorting each
    // query's full posting fan in one reducer
    graft.expressions.LongArrayOps.register(s)
    val scored = tf.join(broadcast(qterms), Seq("term"))
      .join(dft, Seq("term")).join(dl, Seq("doc_id"))
      .withColumn("fp",
        bm25Fp(col("tf"), col("df"), col("dl"), nDocs, avgdl))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("fp")).as("score_fp"))
    graft.functions.RankFunctions
      .topKPerGroup(scored, "qid", "score_fp", "doc_id", 5, asc = false)
      .select(col("qid"), col("rk"), col("doc_id"), col("score_fp"))
      .orderBy(col("qid"), col("rk"))
  }

  def tBm25(s: SparkSession, dir: String): DataFrame = {
    // doc length is a per-row projection (size of the token array) and
    // the corpus stats one aggregate — tokenizing once and never
    // shuffling exploded tokens just to count them per doc
    val withDl = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = withDl.agg(count(lit(1)), sum(col("dl"))).collect()(0)
    val (nDocs, totLen) = (stats.getLong(0), stats.getLong(1))
    val tf = withDl
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = withDl.select(col("doc_id"), col("dl"))
    bm25TopK(s, tf, dft, dl, nDocs, totLen.toDouble / nDocs)
  }

  val tBm25Oracle: String =
    """WITH t AS (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
      |    THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)
      |    AS term FROM documents),
      |n AS (SELECT (SELECT COUNT(*) FROM documents) AS nd,
      |    (SELECT COUNT(*) FROM t) AS tl),
      |qt AS (SELECT term, (rn - 6) // 2 AS qid FROM (
      |    SELECT term, ROW_NUMBER() OVER
      |        (ORDER BY COUNT(*) DESC, term) AS rn
      |    FROM t GROUP BY term) WHERE rn BETWEEN 6 AND 15),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
      |sc AS (SELECT qid, tf.doc_id,
      |    CAST(SUM(CAST(FLOOR(
      |      (CAST(nd AS DOUBLE) / df) * (tf * 2.2e0) /
      |        (tf + 1.2e0 * (0.25e0 +
      |          0.75e0 * (dl / (CAST(tl AS DOUBLE) / nd)))) * 1e7)
      |      AS BIGINT)) AS BIGINT) AS score_fp
      |  FROM tf JOIN qt USING (term) JOIN dft USING (term)
      |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
      |  GROUP BY 1, 2),
      |r AS (SELECT qid, doc_id, score_fp, ROW_NUMBER() OVER
      |    (PARTITION BY qid ORDER BY score_fp DESC, doc_id) AS rk
      |  FROM sc)
      |SELECT qid, rk, doc_id, score_fp FROM r WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin

  /** BM25 answered from a PERSISTED inverted index — the build/query
    * split ([[graft.queries.SimilarityQueries]]'s s11/s13 discipline
    * applied to lexical retrieval): tokenization runs ONCE and the
    * postings (doc, term, tf), document-frequency table, doc lengths
    * and the corpus stats row are written to parquet; the query side
    * never touches `documents` — query-term selection, scoring, and
    * ranking all read the STORED index. At 100 TB you tokenize the
    * corpus at build time, not per query batch; the postings are the
    * scan, and a query's cost is posting-list-proportional. Same oracle
    * as [[tBm25]]: the materialized index must answer bit-identically
    * to the in-plan recompute.
    */
  def tBm25Stored(s: SparkSession, dir: String): DataFrame = {
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_t24_bm25"
    buildBm25Index(s, dir, idx)
    // ---- query: STORED index only — documents is never re-read
    val bi = readBm25Index(s, idx)
    bm25TopK(s, bi.tf, bi.dft, bi.dl, bi.nDocs, bi.avgdl)
  }

  /** The persisted BM25 index artifacts, read back: postings (doc, term,
    * tf), document frequencies, doc lengths, and the corpus stats pair.
    * Shared by t24 and the stored-index hybrid-retrieval gate (s15) so
    * the sparse leg both answer from is ONE artifact set.
    */
  private[queries] case class Bm25Index(tf: DataFrame, dft: DataFrame,
      dl: DataFrame, nDocs: Long, avgdl: Double)

  /** t24's index build: one tokenize pass over `documents`, four parquet
    * artifacts under `idx` (postings / df / doclen / stats). mode
    * overwrite keeps every calling gate re-runnable.
    */
  private[queries] def buildBm25Index(s: SparkSession, dir: String,
      idx: String): Unit = {
    // cached for the build's duration: three of the four artifacts
    // derive from the tokenized corpus, and without the cache each
    // write re-runs the tokenizer scan
    val withDl = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")))
      .cache()
    try {
      withDl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
        .write.mode("overwrite").parquet(idx + "/stats")
      withDl.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(idx + "/postings")
      s.read.parquet(idx + "/postings")
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(idx + "/df")
      withDl.select(col("doc_id"), col("dl"))
        .write.mode("overwrite").parquet(idx + "/doclen")
    } finally withDl.unpersist()
  }

  private[queries] def readBm25Index(s: SparkSession,
      idx: String): Bm25Index = {
    val stats = s.read.parquet(idx + "/stats").collect()(0)
    val (nDocs, totLen) = (stats.getLong(0), stats.getLong(1))
    Bm25Index(s.read.parquet(idx + "/postings"),
      s.read.parquet(idx + "/df"), s.read.parquet(idx + "/doclen"),
      nDocs, totLen.toDouble / nDocs)
  }

  /** BM25 over an INCREMENTALLY-built index — the inverted index as a
    * [[graft.io.Manifest]] table, which is how a 100 TB corpus actually
    * maintains one: each arriving document batch tokenizes ONLY itself
    * and lands as an appending commit (postings + a per-increment
    * (n_docs, total_len) stats row — both distributive, so query-time
    * aggregation over increments reconstructs the exact global stats);
    * nothing previously ingested is ever re-read or rewritten at build
    * time. The query side reads the postings snapshot and derives
    * df / doc-length / corpus stats from the STORED index (vocabulary-
    * and doc-sized aggregates of the postings — never a corpus
    * re-tokenize). Same oracle as [[tBm25]]: two increments must answer
    * bit-identically to the one-shot build.
    *
    * The index is TWO tables that must move together (postings +
    * stats: new postings against old stats is a silently-wrong BM25
    * normalizer), so every ingest commits both tables FIRST and
    * publishes them with one atomic [[graft.io.Catalog.pinLatest]]
    * LAST, and the query side resolves both through
    * [[graft.io.Catalog.snapshotOf]] — a crash between the table
    * commits and the pin leaves catalog readers on the previous
    * consistent pair (`io31_torn_index` gates exactly that).
    */
  def tBm25Incr(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Catalog, Manifest}
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_t25_bm25"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val (pRoot, sRoot) = (idx + "/postings", idx + "/stats")
    val cRoot = idx + "/catalog"
    // `part` arrives pre-tokenized: each ingest's two artifact writes
    // consumed the tokenizer twice, × increments — the staged corpus
    // tokenize below pays that scan ONCE for the whole fixture while
    // every write/commit/pin keeps its per-increment shape
    def ingest(part: DataFrame, tag: String): Unit = {
      val withDl = part
      withDl.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .write.parquet(s"$idx/p_$tag")
      // commit carries doc_id skip-stats: the postings table is
      // range-prunable from its first increment
      Manifest.commitWithStats(s, pRoot, s"$idx/p_$tag", Seq("doc_id"))
      withDl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
        .write.parquet(s"$idx/s_$tag")
      Manifest.commit(s, sRoot, s"$idx/s_$tag")
      // the atomic publish point: both tables committed, one pin
      Catalog.pinLatest(s, cRoot, Seq(pRoot, sRoot))
    }
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks"))).staged()
    ingest(docs.filter(col("doc_id") % 2 === 0), "a")
    val pre = Manifest.entries(s, pRoot)
    ingest(docs.filter(col("doc_id") % 2 === 1), "b")
    require(Manifest.entries(s, pRoot).startsWith(pre),
      "incremental ingest must append to the index, never rewrite it")
    // ---- query: the stored postings are the only corpus state
    // touched, resolved through the catalog's consistent pin vector
    val tf = Catalog.snapshotOf(s, cRoot, pRoot)
    val st = Catalog.snapshotOf(s, cRoot, sRoot)
      .agg(sum(col("nd")), sum(col("tl"))).collect()(0)
    val (nDocs, totLen) = (st.getLong(0), st.getLong(1))
    // one term-keyed scan of the postings feeds BOTH the query-term
    // pick (sum tf) and the df normalizer (row count) — the posting
    // table is the biggest input of this query; don't scan it twice
    val termAgg = tf.groupBy(col("term"))
      .agg(sum(col("tf")).as("c"), count(lit(1)).as("df"))
      .staged()
    val dft = termAgg.select(col("term"), col("df"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    bm25TopK(s, tf, dft, dl, nDocs, totLen.toDouble / nDocs,
      Some(termAgg.select(col("term"), col("c"))))
  }

  /** BM25 over an incrementally-built index AFTER COMPACTION — the
    * maintenance pass [[tBm25Incr]] defers: three ingest commits land
    * append-only (t25's discipline), then
    * [[graft.io.IndexCompaction.compact]] rewrites the postings
    * snapshot into target-sized files as a REPLACING manifest commit
    * (skip-stats sidecar over doc_id recomputed from the rewritten
    * rows) and [[graft.io.IndexCompaction.compactStats]] folds the
    * three per-increment stats rows into one. Same oracle as
    * [[tBm25]]: increments + compact must answer bit-identically to
    * the one-shot build — compaction is an IO layout change, never a
    * semantic one (BM25's fixed-point LONG scores make that provable:
    * aggregation order can't move them). The engine itself asserts the
    * file count dropped, so the gate fails loudly if compaction
    * silently becomes a no-op; `LayoutSpec` pins the census/pruning
    * mechanics on the generic helper.
    *
    * At 100 TB this is the index lifecycle: ingest cost stays ∝ new
    * documents (t25), query cost stays ∝ posting lists (t24), and a
    * periodic compact keeps the file count — the term that otherwise
    * grows without bound — at snapshot size.
    */
  def tBm25Compact(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Catalog, IndexCompaction, Manifest}
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_t26_bm25"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val (pRoot, sRoot) = (idx + "/postings", idx + "/stats")
    val cRoot = idx + "/catalog"
    // pre-tokenized slices (see tBm25Incr): one staged corpus tokenize
    // feeds all three increments' writes; commits/pins keep their shape
    def ingest(part: DataFrame, tag: String): Unit = {
      val withDl = part
      withDl.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .write.parquet(s"$idx/p_$tag")
      // the t25 ingest discipline: sidecar at commit, so pruning works
      // before AND after the compaction this gate exercises
      Manifest.commitWithStats(s, pRoot, s"$idx/p_$tag", Seq("doc_id"))
      withDl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
        .write.parquet(s"$idx/s_$tag")
      Manifest.commit(s, sRoot, s"$idx/s_$tag")
      Catalog.pinLatest(s, cRoot, Seq(pRoot, sRoot))
    }
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks"))).staged()
    ingest(docs.filter(col("doc_id") % 3 === 0), "a")
    ingest(docs.filter(col("doc_id") % 3 === 1), "b")
    ingest(docs.filter(col("doc_id") % 3 === 2), "c")
    val preFiles = Manifest.snapshot(s, pRoot).inputFiles.length
    // the maintenance pass runs as PLAIN SQL CALLs (the t26 lifecycle
    // with no Scala API in sight): compact the postings fragments,
    // fold the per-increment stats rows, re-publish the pin vector
    // atomically — same oracle, the layout is all that may change
    s.conf.set("spark.sql.catalog.g26", "graft.io.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.g26.root", base)
    s.sql("CALL g26.compact_index('graft_t26_bm25.postings', 'doc_id')")
    val folded = s.sql("CALL g26.compact_stats('graft_t26_bm25.stats')")
      .collect()(0)
    require(folded.getLong(2) == 1L,
      s"compact_stats must fold the increments to one row, got $folded")
    val postFiles = Manifest.snapshot(s, pRoot).inputFiles.length
    require(postFiles < preFiles,
      s"compaction must reduce the postings file count " +
        s"($preFiles -> $postFiles)")
    // the maintenance pair is itself one atomic publish
    s.sql("CALL g26.pin('graft_t26_bm25.catalog', " +
      "'graft_t26_bm25.postings,graft_t26_bm25.stats')")
    // ---- query: t25's read path, unchanged — the layout is the only
    // thing compaction may touch; resolution through the catalog pin
    val tf = Catalog.snapshotOf(s, cRoot, pRoot)
    val st = Catalog.snapshotOf(s, cRoot, sRoot)
      .agg(sum(col("nd")), sum(col("tl"))).collect()(0)
    val (nDocs, totLen) = (st.getLong(0), st.getLong(1))
    // one term-keyed scan of the postings feeds BOTH the query-term
    // pick (sum tf) and the df normalizer (row count) — the posting
    // table is the biggest input of this query; don't scan it twice
    val termAgg = tf.groupBy(col("term"))
      .agg(sum(col("tf")).as("c"), count(lit(1)).as("df"))
      .staged()
    val dft = termAgg.select(col("term"), col("df"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    bm25TopK(s, tf, dft, dl, nDocs, totLen.toDouble / nDocs,
      Some(termAgg.select(col("term"), col("c"))))
  }

  /** Document TAKEDOWN propagated through the stored retrieval index —
    * the right-to-be-forgotten path a 100 TB deployment actually needs:
    * when a takedown request arrives, re-tokenizing the corpus or
    * rebuilding the index per request is off the table; the index must
    * absorb the deletion with work ∝ takedown size and keep answering.
    *
    * Build is [[tBm25Incr]]'s incremental discipline, extended with a
    * doclen manifest table ((doc_id, dl) per increment — doc-count-sized
    * state a production BM25 index stores anyway; it is ALSO what makes
    * the takedown self-contained, since token-less victims have no
    * postings rows to learn their existence from). The takedown itself
    * is three appending-size writes, never a data rewrite:
    *  1. a COMPENSATING stats increment — (−victims, −Σ victim dl)
    *     computed from the STORED doclen rows (distributive, so the
    *     query-time stats fold stays exact — nd/tl are integer sums);
    *  2. a [[graft.io.MergeOnRead]] tombstone on the postings table;
    *  3. the same tombstone on the doclen table.
    * The query side reads merged snapshots (tombstones applied) and
    * derives df from the surviving postings — so term statistics,
    * document frequencies, doc lengths, corpus stats, and even the
    * self-derived query-term band all behave as if the victims were
    * never ingested, which is exactly what the oracle demands (the same
    * BM25 SQL over `documents` minus the victims). [[graft.io
    * .MergeOnRead.fold]] then rewrites only victim-bearing directories
    * and the engine requires the post-fold answer row-identical — the
    * deferral-never-changes-what-readers-see contract, now across a
    * three-table index.
    */
  def tBm25Takedown(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Catalog, GraftPar, Manifest, MergeOnRead}
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_t27_bm25"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val (pRoot, dRoot, sRoot) =
      (idx + "/postings", idx + "/doclen", idx + "/stats")
    val cRoot = idx + "/catalog"
    // pre-tokenized slices (see tBm25Incr): each ingest's THREE
    // artifact writes re-ran the tokenizer; one staged corpus pass
    // feeds both concurrent increments
    def ingest(part: DataFrame, tag: String): Unit = {
      val withDl = part
      withDl.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .write.parquet(s"$idx/p_$tag")
      Manifest.commitWithStats(s, pRoot, s"$idx/p_$tag", Seq("doc_id"))
      // plain commit for the registry: ingest-time sidecars are t25/t26's
      // pinned discipline; this gate exercises the takedown protocol
      withDl.select(col("doc_id"), col("dl"))
        .write.parquet(s"$idx/d_$tag")
      Manifest.commit(s, dRoot, s"$idx/d_$tag")
      withDl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
        .write.parquet(s"$idx/s_$tag")
      Manifest.commit(s, sRoot, s"$idx/s_$tag")
    }
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks"))).staged()
    // the two increments land concurrently — appending commits from
    // racing writers are exactly what Manifest's commit loop absorbs
    // (each re-reads and retries on a lost create race), and a real
    // ingest tier runs many loaders against the same index
    GraftPar.all(Seq(
      () => ingest(docs.filter(col("doc_id") % 2 === 0), "a"),
      () => ingest(docs.filter(col("doc_id") % 2 === 1), "b")))
    // concurrent loaders never pin mid-race (a pin taken while a peer
    // sits between its table commits would capture a torn vector); the
    // fan-in point is the publish point
    Catalog.pinLatest(s, cRoot, Seq(pRoot, dRoot, sRoot))
    // ---- the takedown: victims derived ONCE from the doc registry
    // (the doclen table — doc-count-sized, never the postings), then
    // applied everywhere: a compensating stats increment computed from
    // the victims' stored dl rows, and the SAME key frame tombstoned
    // onto both derived tables via [[graft.io.MergeOnRead.deleteKeys]]
    // (the explicit-key-list shape takedown requests arrive in).
    val pred = col("doc_id") % 13 === 3
    val preP = Manifest.entries(s, pRoot)
    // takedown-sized, read three times (compensation + two tombstones)
    // — cache so the doclen snapshot is scanned once
    val victims = MergeOnRead.snapshot(s, dRoot, "doc_id").filter(pred)
      .cache()
    victims
      .agg((-count(lit(1))).as("nd"),
        (-coalesce(sum(col("dl")), lit(0)).cast("long")).as("tl"))
      .coalesce(1).write.parquet(s"$idx/s_takedown")
    Manifest.commit(s, sRoot, s"$idx/s_takedown")
    // the two derived tables are independent manifest roots: tombstone
    // (and later fold) them concurrently
    GraftPar.all(Seq(
      () => MergeOnRead.deleteKeys(s, pRoot, "doc_id", victims,
        idx + "/stage-p"),
      () => MergeOnRead.deleteKeys(s, dRoot, "doc_id", victims,
        idx + "/stage-d")))
    victims.unpersist()
    require(Manifest.entries(s, pRoot).startsWith(preP),
      "a takedown must append tombstones, never rewrite the index")
    // the takedown transaction (compensating stats + two tombstones)
    // publishes atomically — no reader may see new postings against
    // the old normalizer
    Catalog.pinLatest(s, cRoot, Seq(pRoot, dRoot, sRoot))
    // fold-parity at ROW level — stronger than comparing the 25-row
    // answer (any divergence in any posting or registry row trips it,
    // not only divergence that survives top-5 ranking) and far cheaper:
    // one fixed-width aggregate per table per side, no joins/windows
    def tableCensus(): Seq[org.apache.spark.sql.Row] =
      MergeOnRead.snapshot(s, pRoot, "doc_id")
        .agg(count(lit(1)).as("pn"), sum(pmod(
          xxhash64(col("doc_id"), col("term"), col("tf")), lit(HashMod)))
          .as("ph"))
        .crossJoin(MergeOnRead.snapshot(s, dRoot, "doc_id")
          .agg(count(lit(1)).as("dn"), sum(pmod(
            xxhash64(col("doc_id"), col("dl")), lit(HashMod))).as("dh")))
        .collect().toSeq
    val deferred = tableCensus()
    GraftPar.all(Seq(
      () => MergeOnRead.fold(s, pRoot, "doc_id", idx + "/stage-p"),
      () => MergeOnRead.fold(s, dRoot, "doc_id", idx + "/stage-d")))
    require(tableCensus() == deferred,
      "folding the tombstones must not change what readers see")
    // the maintenance fold is the third atomic publish
    Catalog.pinLatest(s, cRoot, Seq(pRoot, dRoot, sRoot))
    // ---- the post-takedown answer, off the folded index, resolved
    // through the catalog's pin vector
    val pins = Catalog.resolve(s, cRoot)
    val st = Manifest.snapshot(s, sRoot, Some(pins(sRoot)))
      .agg(sum(col("nd")), sum(col("tl"))).collect()(0)
    val (nDocs, totLen) = (st.getLong(0), st.getLong(1))
    val tf = MergeOnRead.snapshot(s, pRoot, "doc_id", Some(pins(pRoot)))
    val dl = MergeOnRead.snapshot(s, dRoot, "doc_id", Some(pins(dRoot)))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val ans = bm25TopK(s, tf, dft, dl, nDocs, totLen.toDouble / nDocs)
    // the gate's caller only counts/writes the 25-row answer — hand it
    // back materialized rather than making every downstream action
    // re-run the snapshot + join + window pipeline
    s.createDataFrame(
      s.sparkContext.parallelize(ans.collect().toSeq, 1), ans.schema)
  }

  /** [[tBm25Oracle]] over the surviving documents — the takedown
    * contract in one line: the index must answer as if the victims were
    * never ingested.
    */
  val tBm25TakedownOracle: String =
    """WITH docs AS (SELECT * FROM documents WHERE doc_id % 13 <> 3),
      |t AS (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
      |    THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)
      |    AS term FROM docs),
      |n AS (SELECT (SELECT COUNT(*) FROM docs) AS nd,
      |    (SELECT COUNT(*) FROM t) AS tl),
      |qt AS (SELECT term, (rn - 6) // 2 AS qid FROM (
      |    SELECT term, ROW_NUMBER() OVER
      |        (ORDER BY COUNT(*) DESC, term) AS rn
      |    FROM t GROUP BY term) WHERE rn BETWEEN 6 AND 15),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
      |sc AS (SELECT qid, tf.doc_id,
      |    CAST(SUM(CAST(FLOOR(
      |      (CAST(nd AS DOUBLE) / df) * (tf * 2.2e0) /
      |        (tf + 1.2e0 * (0.25e0 +
      |          0.75e0 * (dl / (CAST(tl AS DOUBLE) / nd)))) * 1e7)
      |      AS BIGINT)) AS BIGINT) AS score_fp
      |  FROM tf JOIN qt USING (term) JOIN dft USING (term)
      |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
      |  GROUP BY 1, 2),
      |r AS (SELECT qid, doc_id, score_fp, ROW_NUMBER() OVER
      |    (PARTITION BY qid ORDER BY score_fp DESC, doc_id) AS rk
      |  FROM sc)
      |SELECT qid, rk, doc_id, score_fp FROM r WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin

  /** The BM25 index maintained BY A STREAM — [[tBm25Incr]]'s ingest
    * discipline driven from Structured Streaming, which is how a live
    * corpus keeps its retrieval index fresh: documents arrive as
    * microbatches, each `foreachBatch` tokenizes ONLY its batch and
    * lands postings + a distributive stats increment as manifest
    * commits. Exactly-once by construction, st8's recipe composed with
    * the index tables: the batch directory is keyed by `batchId`, a
    * replayed batch overwrites its own (possibly half-written) orphan
    * and [[graft.io.Manifest.commitIfAbsent]] makes the re-commit a
    * no-op — at-least-once delivery from the engine becomes an
    * exactly-once index, with the skip-stats sidecar emitted at commit
    * so the streamed-in postings are doc_id-prunable from the first
    * batch. Each batch publishes its (postings, stats) pair with one
    * atomic [[graft.io.Catalog.pinLatest]] AFTER both table commits —
    * a replayed batch re-pins idempotently, a crash mid-batch leaves
    * catalog readers on the previous consistent pair. The query side
    * is [[tBm25Incr]]'s read path unchanged (catalog-resolved), and
    * the oracle is [[tBm25Oracle]] — the streamed-in index must answer
    * bit-identically to a one-shot batch build over the same corpus.
    */
  def stBm25Stream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.{Catalog, Manifest, SkipStats}
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val root = base + "/graft_st11_bm25"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val srcDir = s"$root/src"
    val (pRoot, sRoot) = (s"$root/postings", s"$root/stats")
    val cRoot = s"$root/catalog"
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = s.read.parquet(srcDir).schema
    val ingest = (batch: DataFrame, batchId: Long) => {
      if (!batch.isEmpty) {
        val ss = batch.sparkSession
        val withDl = batch
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .withColumn("dl", size(col("toks")))
        val pDir = s"$root/p_$batchId"
        if (!Manifest.committed(ss, pRoot).contains(pDir)) {
          withDl.select(col("doc_id"), explode(col("toks")).as("term"))
            .groupBy(col("doc_id"), col("term"))
            .agg(count(lit(1)).as("tf"))
            .write.mode("overwrite").parquet(pDir)
          SkipStats.write(ss, pDir, Seq("doc_id"))
          Manifest.commitIfAbsent(ss, pRoot, pDir)
        }
        val sDir = s"$root/s_$batchId"
        if (!Manifest.committed(ss, sRoot).contains(sDir)) {
          withDl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
            .write.mode("overwrite").parquet(sDir)
          Manifest.commitIfAbsent(ss, sRoot, sDir)
        }
        // atomic publish LAST: a replayed batch whose pin already
        // landed re-resolves to the same vector and burns nothing;
        // a crash before this line leaves catalog readers on the
        // previous consistent (postings, stats) pair
        Catalog.pinLatest(ss, cRoot, Seq(pRoot, sRoot))
      }
      ()
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    // 4 source files under maxFilesPerTrigger=1 ⇒ one commit per
    // data-carrying microbatch; ≥2 pins that the build was really
    // incremental (a range so an engine-scheduled empty batch can't
    // flake it)
    val nv = Manifest.versions(s, pRoot).size
    require(nv >= 2 && nv <= 4,
      s"expected one index commit per data-carrying microbatch, got $nv")
    // ---- t25's read path, unchanged: the stream fed the same tables,
    // resolved through the catalog's last atomic pin
    val tf = Catalog.snapshotOf(s, cRoot, pRoot)
    val st = Catalog.snapshotOf(s, cRoot, sRoot)
      .agg(sum(col("nd")), sum(col("tl"))).collect()(0)
    val (nDocs, totLen) = (st.getLong(0), st.getLong(1))
    // one term-keyed scan of the postings feeds BOTH the query-term
    // pick (sum tf) and the df normalizer (row count) — the posting
    // table is the biggest input of this query; don't scan it twice
    val termAgg = tf.groupBy(col("term"))
      .agg(sum(col("tf")).as("c"), count(lit(1)).as("df"))
      .staged()
    val dft = termAgg.select(col("term"), col("df"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    bm25TopK(s, tf, dft, dl, nDocs, totLen.toDouble / nDocs,
      Some(termAgg.select(col("term"), col("c"))))
  }

  /** The TORN-INDEX window, closed on the real index path — the gate
    * for the commit-tables-first / pin-last discipline [[tBm25Incr]],
    * `st11`, `s14`, and `st13` now ship (the io29 transaction
    * protocol on a shipping index, not a demo pair): a writer crashes
    * AFTER landing a new postings commit but BEFORE the stats commit
    * and the catalog pin. At the TABLE level the tear is live and
    * visible — the postings table's latest version is past the pinned
    * one, and reading latest would score BM25 with inflated tf/df
    * against stale corpus stats, a silently-wrong normalizer. Through
    * the CATALOG the reader still resolves the last atomically
    * published (postings, stats) pair, and the engine REQUIRES both
    * facts before answering: the torn version is live table state,
    * and the catalog vector did not move. The answer must be
    * bit-identical to [[tBm25Oracle]] over the full corpus — the
    * half-landed version is an ordinary superseded table version that
    * retention ([[graft.io.Manifest.expire]]) later reclaims.
    */
  def ioTornIndexRead(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{Catalog, Manifest}
    val base = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir"))
    val idx = base + "/graft_io31_bm25"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val (pRoot, sRoot, cRoot) =
      (idx + "/postings", idx + "/stats", idx + "/catalog")
    def tokenized(part: DataFrame): DataFrame = part
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")))
    def postingsOf(withDl: DataFrame): DataFrame = withDl
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // `part` arrives pre-tokenized (see tBm25Incr): one staged corpus
    // tokenize feeds both increments' two writes AND the torn third —
    // this was five tokenizer scans; commits/pins keep their shape
    def ingest(part: DataFrame, tag: String): Unit = {
      val withDl = part
      postingsOf(withDl).write.parquet(s"$idx/p_$tag")
      Manifest.commitWithStats(s, pRoot, s"$idx/p_$tag", Seq("doc_id"))
      withDl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
        .write.parquet(s"$idx/s_$tag")
      Manifest.commit(s, sRoot, s"$idx/s_$tag")
      Catalog.pinLatest(s, cRoot, Seq(pRoot, sRoot))
    }
    val docs = tokenized(Tables.documents(s, dir)).staged()
    ingest(docs.filter(col("doc_id") % 2 === 0), "a")
    ingest(docs.filter(col("doc_id") % 2 === 1), "b")
    val pinned = Catalog.resolve(s, cRoot)
    // ---- the crash: a third increment's postings land, then the
    // writer dies — no stats commit, no catalog pin
    postingsOf(docs.filter(col("doc_id") % 7 === 0))
      .write.parquet(s"$idx/p_torn")
    Manifest.commitWithStats(s, pRoot, s"$idx/p_torn", Seq("doc_id"))
    // the tear IS live, visible table state...
    require(Manifest.versions(s, pRoot).last > pinned(pRoot),
      "the torn commit must land as a live postings version")
    require(Manifest.snapshot(s, pRoot).count() >
      Manifest.snapshot(s, pRoot, Some(pinned(pRoot))).count(),
      "table-level latest must expose the inflated postings")
    // ...and invisible through the catalog, which never moved
    require(Catalog.resolve(s, cRoot) == pinned,
      "a crashed writer must not move the catalog")
    val tf = Catalog.snapshotOf(s, cRoot, pRoot)
    val st = Catalog.snapshotOf(s, cRoot, sRoot)
      .agg(sum(col("nd")), sum(col("tl"))).collect()(0)
    val (nDocs, totLen) = (st.getLong(0), st.getLong(1))
    // one term-keyed scan of the postings feeds BOTH the query-term
    // pick (sum tf) and the df normalizer (row count) — the posting
    // table is the biggest input of this query; don't scan it twice
    val termAgg = tf.groupBy(col("term"))
      .agg(sum(col("tf")).as("c"), count(lit(1)).as("df"))
      .staged()
    val dft = termAgg.select(col("term"), col("df"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    bm25TopK(s, tf, dft, dl, nDocs, totLen.toDouble / nDocs,
      Some(termAgg.select(col("term"), col("c"))))
  }

  /** Reproducible epoch shuffle + sharding — the "global shuffle" every
    * training run needs before writing shard files. `df.sample`/`rand()`
    * are partitioning-dependent; instead each doc's position comes from
    * a two-round LCG of its id (seeded, so epoch 2 is a different but
    * equally deterministic permutation), the shard from the hash's
    * residue. At 100 TB the shard count is the parallelism knob: one
    * window partition per shard, each sized to one training file
    * (~1 GB), so the per-reducer sort is bounded by construction — the
    * within-shard sequence has to be materialized in shard order anyway
    * to write the file. The doc id is reduced mod 2^31 before the
    * multiply so the arithmetic stays inside 63 bits (DuckDB BIGINT
    * overflow is an error, not a wrap). The order-sensitive checksum
    * Σ pos·doc_id pins the exact within-shard sequence cross-engine.
    */
  def tShard(s: SparkSession, dir: String): DataFrame = {
    val seed = 7L
    val h1 = ((col("doc_id") % 2147483648L) * 1103515245L + lit(seed)) %
      2147483648L
    val h2 = (h1 * 1103515245L + 12345L) % 2147483648L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), h2.as("h"))
      .withColumn("shard", col("h") % 64)
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pos") * col("doc_id")).as("order_checksum"))
      .orderBy(col("shard"))
  }

  val tShardOracle: String =
    """WITH h AS (SELECT doc_id,
      |    (((doc_id % 2147483648) * 1103515245 + 7) % 2147483648
      |      * 1103515245 + 12345) % 2147483648 AS h
      |  FROM documents),
      |p AS (SELECT doc_id, h % 64 AS shard,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY h % 64 ORDER BY h, doc_id)
      |      AS BIGINT) AS pos FROM h)
      |SELECT shard, COUNT(*) AS n_docs,
      |  CAST(SUM(pos * doc_id) AS BIGINT) AS order_checksum
      |FROM p GROUP BY shard ORDER BY shard""".stripMargin

  /** Bigram-LM document scoring — the CCNet-style "train a small LM on
    * clean text, rank documents by likelihood" quality signal. The LM is
    * add-one-smoothed bigram conditional probability trained on the
    * t9 train split; each document's score is its mean per-bigram
    * conditional likelihood. All arithmetic is fixed-point: the
    * conditional probability is `(1e6·(c12+1)) div (c1+V)` — exact
    * BIGINT ops both engines (a log-prob formulation would hang
    * cross-engine determinism on libm; production would swap in log-odds
    * here, the train/score plumbing is identical). Scale shape: one
    * explode → map-side-combined aggregate per n-gram order (shuffle at
    * distinct-bigram volume), then two equi-joins at token volume — no
    * broadcast of the (large) bigram table, so the plan is the same
    * sort-merge shape at 100 TB. Lowest-scoring docs (≥5 bigrams so a
    * two-word doc can't win on variance) are the junk candidates.
    */
  def tLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bucket = (col("doc_id") * 2654435761L) % 4294967296L % 100
    val train = docs.filter(bucket < 90)
    // staged: consumed twice (vocabulary count + the score-side join)
    val uni = train
      .select(explode(tokens(col("text"))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      .staged()
    val vocab = uni.count()
    val bi = train
      .select(explode(wordBigrams(col("text"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    val docBi = docs
      .select(col("doc_id"), explode(wordBigrams(col("text"))).as("bigram"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    docBi
      .join(bi, Seq("bigram"), "left")
      .join(uni, Seq("w1"), "left")
      .withColumn("p_fx", expr(
        s"(1000000 * (coalesce(c12, 0) + 1)) div (coalesce(c1, 0) + $vocab)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), expr("sum(p_fx) div count(1)")
        .as("lm_fx"))
      .filter(col("n_bigrams") >= 5)
      .orderBy(col("lm_fx"), col("doc_id"))
      .limit(15)
  }

  val tLmScoreOracle: String =
    """WITH tr AS (SELECT * FROM documents
      |    WHERE (doc_id * 2654435761) % 4294967296 % 100 < 90),
      |toks AS (SELECT CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS t FROM tr),
      |uni AS (SELECT unnest(t) AS w1 FROM toks),
      |uc AS (SELECT w1, COUNT(*) AS c1 FROM uni GROUP BY 1),
      |v AS (SELECT COUNT(*) AS vocab FROM uc),
      |bit AS (SELECT unnest(list_transform(list_zip(t, t[2:]),
      |    z -> z[1] || ' ' || z[2])) AS bigram FROM toks),
      |bc AS (SELECT bigram, COUNT(*) AS c12 FROM bit
      |  WHERE bigram IS NOT NULL GROUP BY 1),
      |dt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      |  FROM documents),
      |db AS (SELECT doc_id, unnest(list_transform(list_zip(t, t[2:]),
      |    z -> z[1] || ' ' || z[2])) AS bigram FROM dt),
      |j AS (SELECT d.doc_id,
      |    (1000000 * (COALESCE(bc.c12, 0) + 1))
      |      // (COALESCE(uc.c1, 0) + v.vocab) AS p_fx
      |  FROM db d
      |  LEFT JOIN bc ON d.bigram = bc.bigram
      |  LEFT JOIN uc ON split_part(d.bigram, ' ', 1) = uc.w1
      |  CROSS JOIN v
      |  WHERE d.bigram IS NOT NULL),
      |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
      |    CAST(SUM(p_fx) // COUNT(*) AS BIGINT) AS lm_fx FROM j GROUP BY 1)
      |SELECT doc_id, n_bigrams, lm_fx FROM sc WHERE n_bigrams >= 5
      |ORDER BY lm_fx, doc_id LIMIT 15""".stripMargin

  /** Supervised language classifier: train token/class counts on the t9
    * train split (labels come free from `lang`), predict the test
    * split, report the confusion matrix. The scorer is the additive
    * fixed-point form of multinomial Naive Bayes: per class,
    * Σ_t tf_t · fx_c(c_t+1) with fx_c(x) = (1e6·x) div (N_c+V) — the
    * add-one-smoothed class-conditional likelihood on an exact integer
    * grid (sum instead of log-product so the oracle is bit-exact;
    * production swaps in log-space weights, same train/score shape).
    * Unseen (term, class) pairs are handled WITHOUT densifying the
    * token × class space: score_c = matched_sum + (ntok − matched_tf) ·
    * fx_c(1), so the only per-token work is one equi-join against the
    * count table; the class constants (4 rows) broadcast. At 100 TB the
    * count table is distinct-(term,class) volume, map-side combined,
    * and the argmax window partitions by doc_id — unskewed by
    * construction.
    */
  def tNbLangId(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bucket = (col("doc_id") * 2654435761L) % 4294967296L % 100
    val train = docs.filter(bucket < 90)
    val test = docs.filter(bucket >= 95)
    // staged: consumed three times (class totals, vocabulary, weights)
    val cnt = train
      .select(col("lang"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c"))
      .staged()
    val classTot = cnt.groupBy(col("lang")).agg(sum(col("c")).as("nc"))
    val vocab = cnt.select(col("term")).distinct().count()
    val cntW = cnt.join(broadcast(classTot), Seq("lang"))
      .withColumn("w", expr(s"(1000000 * (c + 1)) div (nc + $vocab)"))
      .select(col("lang"), col("term"), col("w"))
    val base = classTot
      .withColumn("w1", expr(s"1000000 div (nc + $vocab)"))
      .select(col("lang"), col("w1"))
    val testTf = test
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val matched = testTf.join(cntW, Seq("term"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf") * col("w")).as("msum"), sum(col("tf")).as("mtf"))
    val docLen = test.select(col("doc_id"), col("lang").as("true_lang"),
      tokenCount(col("text")).cast("long").as("ntok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang"))
    docLen.crossJoin(broadcast(base))
      .join(matched, Seq("doc_id", "lang"), "left")
      .withColumn("score", coalesce(col("msum"), lit(0L)) +
        (col("ntok") - coalesce(col("mtf"), lit(0L))) * col("w1"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("true_lang"), col("lang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("checksum"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  val tNbLangIdOracle: String =
    """WITH b AS (SELECT *, (doc_id * 2654435761) % 4294967296 % 100
      |    AS bucket FROM documents),
      |tr AS (SELECT * FROM b WHERE bucket < 90),
      |te AS (SELECT * FROM b WHERE bucket >= 95),
      |trt AS (SELECT lang, unnest(CASE WHEN length(trim(text)) = 0
      |    THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)
      |    AS term FROM tr),
      |cnt AS (SELECT lang, term, COUNT(*) AS c FROM trt GROUP BY 1, 2),
      |ct AS (SELECT lang, SUM(c) AS nc FROM cnt GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT term) AS vocab FROM cnt),
      |cw AS (SELECT cnt.lang, term,
      |    (1000000 * (c + 1)) // (nc + vocab) AS w
      |  FROM cnt JOIN ct ON cnt.lang = ct.lang CROSS JOIN v),
      |base AS (SELECT lang, 1000000 // (nc + vocab) AS w1
      |  FROM ct CROSS JOIN v),
      |tet AS (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
      |    THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)
      |    AS term FROM te),
      |ttf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tet GROUP BY 1, 2),
      |m AS (SELECT doc_id, cw.lang, SUM(tf * w) AS msum, SUM(tf) AS mtf
      |  FROM ttf JOIN cw ON ttf.term = cw.term GROUP BY 1, 2),
      |dl AS (SELECT doc_id, lang AS true_lang,
      |    CAST(len(CASE WHEN length(trim(text)) = 0 THEN []
      |      ELSE regexp_split_to_array(trim(text), '\s+') END) AS BIGINT)
      |      AS ntok FROM te),
      |sc AS (SELECT dl.doc_id, dl.true_lang, base.lang,
      |    COALESCE(m.msum, 0) + (dl.ntok - COALESCE(m.mtf, 0)) * base.w1
      |      AS score
      |  FROM dl CROSS JOIN base
      |  LEFT JOIN m ON m.doc_id = dl.doc_id AND m.lang = base.lang),
      |p AS (SELECT doc_id, true_lang, lang AS pred_lang,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, lang) AS rk FROM sc)
      |SELECT true_lang, pred_lang, COUNT(*) AS n_docs,
      |  CAST(SUM(doc_id) AS BIGINT) AS checksum
      |FROM p WHERE rk = 1
      |GROUP BY 1, 2 ORDER BY true_lang, pred_lang""".stripMargin

  /** Dataset card — the datasheet census every released training corpus
    * publishes: per (lang, source) stratum, document count, token and
    * character totals, length bounds, and mean document length (one
    * IEEE division of two exact integers). The grand-total and
    * per-lang margins come from ROLLUP in the same pass, so the card is
    * one map-side-combined aggregate over one corpus scan — the shape
    * that holds at 100 TB (the output is strata-count-sized, never
    * corpus-sized).
    */
  def tDatasetCard(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        tokenCount(col("text")).cast("long").as("ntok"), col("n_chars"))
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("sum_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        (sum(col("ntok")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_tokens"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)

  val tDatasetCardOracle: String =
    """WITH t AS (SELECT lang, source,
      |    CAST(len(CASE WHEN length(trim(text)) = 0 THEN []
      |      ELSE regexp_split_to_array(trim(text), '\s+') END) AS BIGINT)
      |      AS ntok, n_chars FROM documents)
      |SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
      |  CAST(SUM(ntok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS mean_tokens
      |FROM t GROUP BY ROLLUP (lang, source)
      |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin

  /** The WHOLE curation pipeline as one run — exact dedup → quality
    * gate → split assignment → per-split token budget, each stage on
    * the previous stage's survivors, ending in the census a training
    * run starts from. This is the composition gate: every stage is
    * individually oracle-proved elsewhere (d1, t8/t18, t9, t31); this
    * one proves the handoffs. Shapes are the scale-safe ones
    * throughout: dedup's keeper election is a window over the
    * fingerprint key (dup groups are small — unskewed by nature),
    * quality is per-row integer cross-multiplication, the split is a
    * per-row hash, and every census is map-side combined. Intermediate
    * survivors are staged once and feed both their census and the next
    * stage, so the corpus is scanned once per stage, not once per
    * consumer.
    */
  def tCurationE2e(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(substring(col("text"), 1, 40)))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        tokenCount(col("text")).cast("long").as("ntok"),
        typeCount(col("text")).cast("long").as("ntyp"))
    val deduped = docs
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keeper"))
      .drop("keeper")
      .staged()
    val quality = deduped
      .filter(col("ntok").between(20, 2000) &&
        col("ntyp") * 10 >= col("ntok") * 3)
      .staged()
    val bucket = (col("doc_id") * 2654435761L) % 4294967296L % 100
    val split = quality.withColumn("split",
      when(bucket < 90, "train").when(bucket < 95, "val")
        .otherwise("test"))
    def census(df: DataFrame, phase: String,
        key: org.apache.spark.sql.Column) = df
      .groupBy(key.as("key"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("sum_tokens"))
      .withColumn("phase", lit(phase))
    census(docs, "p0_raw", lit("all"))
      .unionByName(census(deduped, "p1_dedup", lit("all")))
      .unionByName(census(quality, "p2_quality", lit("all")))
      .unionByName(census(split, "p3_split", col("split")))
      .select(col("phase"), col("key"), col("n_docs"), col("sum_tokens"))
      .orderBy(col("phase"), col("key"))
  }

  val tCurationE2eOracle: String =
    """WITH d AS (SELECT doc_id, text,
      |    CAST(len(CASE WHEN length(trim(text)) = 0 THEN []
      |      ELSE regexp_split_to_array(trim(text), '\s+') END) AS BIGINT)
      |      AS ntok,
      |    CAST(len(list_distinct(CASE WHEN length(trim(text)) = 0 THEN []
      |      ELSE regexp_split_to_array(trim(text), '\s+') END)) AS BIGINT)
      |      AS ntyp FROM documents),
      |dd AS (SELECT * FROM (SELECT *, MIN(doc_id)
      |      OVER (PARTITION BY md5(substr(text, 1, 40))) AS keeper
      |    FROM d) WHERE doc_id = keeper),
      |q AS (SELECT * FROM dd
      |  WHERE ntok BETWEEN 20 AND 2000 AND ntyp * 10 >= ntok * 3),
      |sp AS (SELECT *, CASE
      |    WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'train'
      |    WHEN (doc_id * 2654435761) % 4294967296 % 100 < 95 THEN 'val'
      |    ELSE 'test' END AS split FROM q),
      |u AS (
      |  SELECT 'p0_raw' AS phase, 'all' AS key, COUNT(*) AS n_docs,
      |    CAST(SUM(ntok) AS BIGINT) AS sum_tokens FROM d
      |  UNION ALL SELECT 'p1_dedup', 'all', COUNT(*),
      |    CAST(SUM(ntok) AS BIGINT) FROM dd
      |  UNION ALL SELECT 'p2_quality', 'all', COUNT(*),
      |    CAST(SUM(ntok) AS BIGINT) FROM q
      |  UNION ALL SELECT 'p3_split', split, COUNT(*),
      |    CAST(SUM(ntok) AS BIGINT) FROM sp GROUP BY split)
      |SELECT phase, key, n_docs, sum_tokens FROM u
      |ORDER BY phase, key""".stripMargin

  /** Epoch / repeat PLAN under a data-constrained token budget — the
    * planning step between the dataset card (t31) and the mixture draw
    * (t14): given a token budget and per-domain token counts, assign
    * each domain a √-temperature quota, cap repetition at 4 epochs (the
    * data-constrained-scaling rule: tokens repeated past a few epochs
    * stop helping), and report the per-domain effective tokens, epoch
    * fraction, and the budget deficit the caps leave unassigned. One
    * aggregate over one corpus scan; the plan itself is domains-sized.
    * All arithmetic exact: the integer square root is Newton-adjusted
    * from the float sqrt (`s ± 1` correction), so both engines agree on
    * every weight even at perfect-square boundaries.
    */
  def tEpochPlan(s: SparkSession, dir: String): DataFrame = {
    val isqrtAdj = (c: String) => s"""(CAST(floor(sqrt($c)) AS BIGINT)
      | - CAST(CAST(floor(sqrt($c)) AS BIGINT) * CAST(floor(sqrt($c)) AS BIGINT) > $c AS INT)
      | + CAST((CAST(floor(sqrt($c)) AS BIGINT) + 1) * (CAST(floor(sqrt($c)) AS BIGINT) + 1) <= $c AS INT))"""
      .stripMargin.replace("\n", " ")
    val dom = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(sum(tokenCount(col("text")).cast("long")).as("tokens"))
      .withColumn("w", expr(isqrtAdj("tokens")))
    val tot = dom.agg(sum(col("tokens")).as("total"), sum(col("w"))
      .as("sumw"))
    dom.crossJoin(broadcast(tot))
      .withColumn("budget", expr("total div 2"))
      .withColumn("quota", expr("(budget * w) div sumw"))
      .withColumn("effective", least(col("quota"), col("tokens") * 4))
      .withColumn("epochs_bp", expr("(10000 * effective) div tokens"))
      .select(col("source"), col("tokens"), col("quota"),
        col("effective"), col("epochs_bp"))
      .orderBy(col("source"))
  }

  val tEpochPlanOracle: String =
    """WITH t AS (SELECT source,
      |    CAST(SUM(len(CASE WHEN length(trim(text)) = 0 THEN []
      |      ELSE regexp_split_to_array(trim(text), '\s+') END)) AS BIGINT)
      |      AS tokens
      |  FROM documents GROUP BY 1),
      |w AS (SELECT source, tokens,
      |    (CAST(floor(sqrt(tokens)) AS BIGINT)
      |      - CAST(CAST(floor(sqrt(tokens)) AS BIGINT)
      |          * CAST(floor(sqrt(tokens)) AS BIGINT) > tokens AS INT)
      |      + CAST((CAST(floor(sqrt(tokens)) AS BIGINT) + 1)
      |          * (CAST(floor(sqrt(tokens)) AS BIGINT) + 1)
      |            <= tokens AS INT)) AS w
      |  FROM t),
      |g AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total,
      |    CAST(SUM(w) AS BIGINT) AS sumw FROM w),
      |p AS (SELECT source, tokens,
      |    ((total // 2) * w) // sumw AS quota FROM w CROSS JOIN g)
      |SELECT source, tokens, CAST(quota AS BIGINT) AS quota,
      |  CAST(LEAST(quota, tokens * 4) AS BIGINT) AS effective,
      |  CAST((10000 * LEAST(quota, tokens * 4)) // tokens AS BIGINT)
      |    AS epochs_bp
      |FROM p ORDER BY source""".stripMargin

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — pick the raw-
    * corpus documents most like a TARGET domain by hashed n-gram
    * likelihood ratios. Features are char-trigrams hashed to 1024
    * buckets by the same polynomial the minhash family packs with;
    * the target here is the `lang = 'en'` slice. Two engine-exactness
    * substitutions vs the paper, both documented: the bucket weight is
    * a RATIONAL fixed-point ratio `((tc+1)·10⁶) div (rc+1)` instead of
    * a log-likelihood ratio (no libm `ln` whose last ulp differs
    * across engines — same reason BM25's idf stays rational), and the
    * resample is the deterministic top-m by (score, doc_id) instead of
    * Gumbel-perturbed sampling (reproducible, resumable). Scale shape:
    * the weight table is ≤1024 rows and BROADCASTS; scoring is one
    * occurrence scan joined map-side; the top-m is Spark's
    * TakeOrdered (per-partition heads, driver merge) — no global sort,
    * no skewed window, no corpus shuffle beyond the per-doc score
    * aggregate.
    */
  def tDsirSelect(s: SparkSession, dir: String): DataFrame = {
    val tri = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.TextFunctions.dsirBuckets(col("text")))
          .as("b"))
      .cache()
    try {
      val rc = tri.groupBy(col("b")).agg(count(lit(1)).as("rc"))
      val tc = tri.filter(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("tc"))
      val w = rc.join(tc, Seq("b"), "left")
        .select(col("b"),
          expr("((coalesce(tc, 0) + 1) * 1000000) DIV (rc + 1)").as("w"))
      tri.join(broadcast(w), Seq("b"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("w")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(100)
    } finally tri.unpersist()
  }

  val tDsirSelectOracle: String =
    """WITH tri AS (SELECT doc_id, lang,
      |    unnest(list_transform(range(1, greatest(length(text) - 1, 1)),
      |      i -> ((ascii(substr(text, CAST(i AS INT), 1)) * 31
      |           + ascii(substr(text, CAST(i AS INT) + 1, 1))) * 31
      |           + ascii(substr(text, CAST(i AS INT) + 2, 1))) % 1024))
      |      AS b
      |  FROM documents),
      |rc AS (SELECT b, COUNT(*) AS rc FROM tri GROUP BY 1),
      |tc AS (SELECT b, COUNT(*) AS tc FROM tri WHERE lang = 'en'
      |  GROUP BY 1),
      |w AS (SELECT rc.b, ((COALESCE(tc, 0) + 1) * 1000000) // (rc + 1)
      |    AS w FROM rc LEFT JOIN tc ON rc.b = tc.b),
      |sc AS (SELECT doc_id, lang, CAST(SUM(w) AS BIGINT) AS score
      |  FROM tri JOIN w USING (b) GROUP BY 1, 2)
      |SELECT doc_id, lang, score FROM sc
      |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin

  /** Heavy-hitters census via the mergeable Misra–Gries sketch
    * ([[graft.expressions.MisraGriesTopK]]) — "what dominates this
    * corpus" without shuffling every distinct key: a plain
    * `groupBy(key).count.orderBy(desc).limit(k)` shuffles the FULL
    * distinct-key set (billions of rows at web scale) to answer a
    * k-row question, while the sketch keeps ≤ k counters per partial,
    * merges map-side under ordinary partial aggregation, and ships
    * partitions × k entries however large the corpus. The gate runs it
    * over the bounded (lang, source) categorical key, where distinct ≤ k
    * by construction and MG is provably EXACT — so DuckDB replays it as
    * a plain group-count in the sketch's own (est desc, key asc) output
    * order. `SketchSpec` covers the eviction regime the oracle can't
    * reach: est ≤ true, true − est ≤ N/(k+1), the presence guarantee
    * for keys above the threshold, and exactness under repartitioning.
    */
  def tHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    Tables.documents(s, dir)
      .select(concat(col("lang"), lit(":"), col("source")).as("key"))
      .agg(expr("graft_topk_mg(key, 256)").as("sk"))
      .select(posexplode(col("sk")).as(Seq("rank", "e")))
      .select(col("rank"), col("e.key").as("key"), col("e.est").as("est"))
      .orderBy(col("rank"))
  }

  val tHeavyHittersOracle: String =
    """SELECT ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, key) - 1 AS rank,
      |  key, COUNT(*) AS est
      |FROM (SELECT lang || ':' || source AS key FROM documents)
      |GROUP BY key ORDER BY rank""".stripMargin

  /** Unicode normalization census ([[graft.functions.TextFunctions
    * .nfcClean]]) — the ingest-time cleanup pass that makes exact/near
    * dedup and tokenization see ONE byte form of equal text: NFC
    * composition, zero-width-format stripping (ZWSP/ZWNJ/ZWJ/BOM — the
    * classic invisible dedup poison), whitespace-run collapse, trim.
    * Four planted variants exercise each rule (a whitespace mess, a
    * decomposed acute that NFC merges, a decomposed diaeresis, a
    * zero-width space), appended to REAL corpus text so the base text
    * rides through the same pipeline. JDK `Normalizer` and DuckDB
    * `nfc_normalize` implement the same Unicode tables (probed equal),
    * so the oracle replays the whole pipeline step for step. Pure
    * per-row projection — no shuffle beyond the 4-group census.
    */
  def tNormalize(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val aug = Tables.documents(s, dir).filter(col("doc_id") < 200)
      .select((col("doc_id") % 4).as("variant"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit("  x \n\ty "))
            .when(col("doc_id") % 4 === 1, lit(" cafe\u0301"))
            .when(col("doc_id") % 4 === 2, lit(" o\u0308ffnen"))
            .otherwise(lit(" x\u200By"))).as("raw"))
    aug.withColumn("clean", TextFunctions.nfcClean(col("raw")))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("raw"))).as("raw_cp"),
        sum(length(col("clean"))).as("norm_cp"),
        sum(when(col("raw") =!= col("clean"), 1L).otherwise(0L))
          .as("n_changed"))
      .orderBy(col("variant"))
  }

  val tNormalizeOracle: String =
    """WITH aug AS (SELECT doc_id % 4 AS variant,
      |    text || CASE doc_id % 4
      |      WHEN 0 THEN '  x ' || chr(10) || chr(9) || 'y '
      |      WHEN 1 THEN ' cafe' || chr(769)
      |      WHEN 2 THEN ' o' || chr(776) || 'ffnen'
      |      ELSE ' x' || chr(8203) || 'y' END AS raw
      |  FROM documents WHERE doc_id < 200),
      |norm AS (SELECT variant, raw,
      |    trim(regexp_replace(
      |      replace(replace(replace(replace(nfc_normalize(raw),
      |        chr(8203), ''), chr(8204), ''), chr(8205), ''),
      |        chr(65279), ''),
      |      '[ \t\n\r]+', ' ', 'g')) AS clean
      |  FROM aug)
      |SELECT variant, COUNT(*) AS n,
      |  CAST(SUM(length(raw)) AS BIGINT) AS raw_cp,
      |  CAST(SUM(length(clean)) AS BIGINT) AS norm_cp,
      |  CAST(SUM(CASE WHEN raw != clean THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_changed
      |FROM norm GROUP BY 1 ORDER BY variant""".stripMargin

  /** Script census ([[graft.functions.TextFunctions.scriptCounts]]) —
    * the multilingual signal language-ID alone misses: per-document
    * codepoint counts by Unicode script class (Latin, Cyrillic, Greek,
    * CJK, digits, other), the mixed-script / mojibake / wrong-corpus
    * detector. Planted suffixes put real Cyrillic/Greek/CJK text on
    * top of the corpus docs; classification is pure range checks, so
    * DuckDB replays it per codepoint. One per-row projection + a
    * 4-group census.
    */
  def tScriptCensus(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val aug = Tables.documents(s, dir).filter(col("doc_id") < 200)
      .select((col("doc_id") % 4).as("variant"),
        concat(col("text"),
          when(col("doc_id") % 4 === 1,
            lit(" \u043f\u0440\u0438\u0432\u0435\u0442"))
          .when(col("doc_id") % 4 === 2,
            lit(" \u03bb\u03bf\u03b3\u03bf\u03c2"))
          .when(col("doc_id") % 4 === 3,
            lit(" \u4e2d\u6587\u6570\u636e"))
          .otherwise(lit(""))).as("raw"))
    aug.select(col("variant"),
        TextFunctions.scriptCounts(col("raw")).as("sc"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"),
        sum(col("sc._1")).as("latin"), sum(col("sc._2")).as("cyrillic"),
        sum(col("sc._3")).as("greek"), sum(col("sc._4")).as("cjk"),
        sum(col("sc._5")).as("digits"), sum(col("sc._6")).as("other"))
      .orderBy(col("variant"))
  }

  val tScriptCensusOracle: String =
    """WITH aug AS (SELECT doc_id % 4 AS variant,
      |    text || CASE doc_id % 4
      |      WHEN 1 THEN ' ' || chr(1087) || chr(1088) || chr(1080)
      |        || chr(1074) || chr(1077) || chr(1090)
      |      WHEN 2 THEN ' ' || chr(955) || chr(959) || chr(947)
      |        || chr(959) || chr(962)
      |      WHEN 3 THEN ' ' || chr(20013) || chr(25991) || chr(25968)
      |        || chr(25454)
      |      ELSE '' END AS raw
      |  FROM documents WHERE doc_id < 200),
      |cp AS (SELECT variant, ascii(c) AS cp
      |  FROM aug, unnest(regexp_extract_all(raw, '[\s\S]')) AS t(c)),
      |cls AS (SELECT variant,
      |    CASE WHEN (cp BETWEEN 65 AND 90) OR (cp BETWEEN 97 AND 122)
      |        THEN 'latin'
      |      WHEN cp BETWEEN 1024 AND 1279 THEN 'cyr'
      |      WHEN cp BETWEEN 880 AND 1023 THEN 'greek'
      |      WHEN cp BETWEEN 19968 AND 40959 THEN 'cjk'
      |      WHEN cp BETWEEN 48 AND 57 THEN 'digit'
      |      ELSE 'other' END AS k
      |  FROM cp),
      |nd AS (SELECT variant, COUNT(*) AS n FROM aug GROUP BY 1)
      |SELECT cls.variant, MAX(nd.n) AS n,
      |  COUNT(*) FILTER (k = 'latin') AS latin,
      |  COUNT(*) FILTER (k = 'cyr') AS cyrillic,
      |  COUNT(*) FILTER (k = 'greek') AS greek,
      |  COUNT(*) FILTER (k = 'cjk') AS cjk,
      |  COUNT(*) FILTER (k = 'digit') AS digits,
      |  COUNT(*) FILTER (k = 'other') AS other
      |FROM cls JOIN nd USING (variant)
      |GROUP BY 1 ORDER BY variant""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_tokens" -> (tTokens _),
    "t2_quality" -> (tQuality _),
    "t3_langid" -> (tLangId _),
    "t4_fingerprint" -> (tFingerprint _),
    "t5_bigrams" -> (tBigrams _),
    "t6_tfidf" -> (tTfidf _),
    "t7_repetition" -> (tRepetition _),
    "t8_quality_filter" -> (tQualityFilter _),
    "t9_split" -> (tSplit _),
    "t10_packing" -> (tPacking _),
    "t11_stratified" -> (tStratified _),
    "t12_pii" -> (tPii _),
    "t13_rare_bigrams" -> (tRareBigrams _),
    "t14_domain_mix" -> (tDomainMix _),
    "t15_bpe_train" -> (tBpeTrain _),
    "t16_fuzzy_words" -> (tFuzzyWords _),
    "t17_split_decontam" -> (tSplitDecontam _),
    "t18_gopher_rules" -> (tGopherRules _),
    "t19_bpe_apply" -> (tBpeApply _),
    "t20_url_canon" -> (tUrlCanon _),
    "t21_pseudonymize" -> (tPseudonymize _),
    "t22_chunking" -> (tChunking _),
    "t23_bm25" -> (tBm25 _),
    "t24_bm25_stored" -> (tBm25Stored _),
    "t25_bm25_incr" -> (tBm25Incr _),
    "t26_bm25_compact" -> (tBm25Compact _),
    "t27_bm25_takedown" -> (tBm25Takedown _),
    "t28_shard" -> (tShard _),
    "t29_lm_score" -> (tLmScore _),
    "t30_nb_langid" -> (tNbLangId _),
    "t31_dataset_card" -> (tDatasetCard _),
    "t32_curation_e2e" -> (tCurationE2e _),
    "t33_epoch_plan" -> (tEpochPlan _),
    "t35_dsir_select" -> (tDsirSelect _),
    "t36_heavy_hitters" -> (tHeavyHitters _),
    "t37_normalize" -> (tNormalize _),
    "t38_script_census" -> (tScriptCensus _),
    "st11_stream_bm25" -> (stBm25Stream _),
    "io31_torn_index" -> (ioTornIndexRead _))

  val oracle: Map[String, String] = Map(
    "t1_tokens" -> tTokensOracle,
    "t2_quality" -> tQualityOracle,
    "t3_langid" -> tLangIdOracle,
    "t4_fingerprint" -> tFingerprintOracle,
    "t5_bigrams" -> tBigramsOracle,
    "t6_tfidf" -> tTfidfOracle,
    "t7_repetition" -> tRepetitionOracle,
    "t8_quality_filter" -> tQualityFilterOracle,
    "t9_split" -> tSplitOracle,
    "t10_packing" -> tPackingOracle,
    "t11_stratified" -> tStratifiedOracle,
    "t12_pii" -> tPiiOracle,
    "t13_rare_bigrams" -> tRareBigramsOracle,
    "t14_domain_mix" -> tDomainMixOracle,
    "t15_bpe_train" -> tBpeTrainOracle,
    "t16_fuzzy_words" -> tFuzzyWordsOracle,
    "t17_split_decontam" -> tSplitDecontamOracle,
    "t18_gopher_rules" -> tGopherRulesOracle,
    "t19_bpe_apply" -> tBpeApplyOracle,
    "t20_url_canon" -> tUrlCanonOracle,
    "t21_pseudonymize" -> tPseudonymizeOracle,
    "t22_chunking" -> tChunkingOracle,
    "t23_bm25" -> tBm25Oracle,
    // the stored-index read path must reproduce t23's result exactly
    "t24_bm25_stored" -> tBm25Oracle,
    // the two-increment index must answer identically to one-shot t23
    "t25_bm25_incr" -> tBm25Oracle,
    // increments + compact must answer bit-identically to the one-shot
    // build — the same oracle pins it
    "t26_bm25_compact" -> tBm25Oracle,
    "t27_bm25_takedown" -> tBm25TakedownOracle,
    "t28_shard" -> tShardOracle,
    "t29_lm_score" -> tLmScoreOracle,
    "t30_nb_langid" -> tNbLangIdOracle,
    "t31_dataset_card" -> tDatasetCardOracle,
    "t32_curation_e2e" -> tCurationE2eOracle,
    "t33_epoch_plan" -> tEpochPlanOracle,
    "t35_dsir_select" -> tDsirSelectOracle,
    "t36_heavy_hitters" -> tHeavyHittersOracle,
    "t37_normalize" -> tNormalizeOracle,
    "t38_script_census" -> tScriptCensusOracle,
    // the streamed-in index must answer bit-identically to a one-shot
    // batch build over the same corpus
    "st11_stream_bm25" -> tBm25Oracle,
    "io31_torn_index" -> tBm25Oracle)
}
