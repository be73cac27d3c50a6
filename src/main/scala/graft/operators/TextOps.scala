package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.Relational.{sqlRound, stableRound}
import graft.sources.Tables
import graft.util.Blocks

import graft.syntax._

/** Text-analysis and deduplication operators over the `documents` table —
  * the LLM-training-data-pipeline extension surface (BASELINE.json
  * north_star): token/quality stats, language ID, fingerprinting, exact
  * dedup, MinHash+LSH near-dup candidate generation, shingle Jaccard.
  *
  * Every query below has an exact DuckDB oracle. The Spark side and the
  * SQL are generated from the same constants (stopword lists, marker
  * words, hash counts) so they cannot drift.
  *
  * Scale shape: everything is a single groupBy/window pipeline over
  * per-document rows — shuffles are on doc_id (uniform) or
  * (band_id, band_key) (near-uniform by construction of minhash), so the
  * plan survives a 100× corpus without skew. The LSH band join replaces
  * the O(n²) all-pairs comparison with O(collisions).
  */
object TextOps {

  private val MinhashK = 8  // minhash functions
  private val BandWidth = 2 // minhashes per LSH band → 4 bands

  /** LSH bucket cap: a degenerate band key (mass-duplicated or
    * near-empty docs all sharing one signature band) would otherwise
    * collect an unbounded array into one row and emit O(|bucket|²)
    * pairs from one task. Buckets are truncated to the first
    * [[MaxBucket]] doc ids BEFORE the array aggregation (row_number
    * over the bucket — deterministic, bounded buffers); the cap is
    * mirrored in the DuckDB oracle SQL so Spark and oracle agree at
    * every scale, and [[q46LshAudit]] reports over-cap buckets as a
    * driver-oracled audit channel (no silent truncation). Pairs lost to
    * the cap are pairs of *mass-duplicated* docs — exact dedup (q22/q25)
    * already catches those. */
  private[graft] val MaxBucket = 64

  /** Constants the staged dedup relations depend on — part of the stage
    * path, so changing any of them invalidates the staged tables. */
  private def stageConsts = s"k${MinhashK}w${BandWidth}cap${MaxBucket}j$ClusterJaccard"

  /** The LSH band relation, staged: computed once per corpus
    * (shingles → md5 → minhash signatures → band keys), materialized,
    * and read by every consumer (q23, q24's candidate side, q46, and
    * transitively q50/q52) — the pipeline-staging shape of running the
    * dedup stack at scale. */
  /** Token of the band derivation — also spliced into every DOWNSTREAM
    * stage's token: a parquet scan's canonicalized plan names only the
    * format, not the path, so a stage reading staged bands would not
    * see a bands-logic change through its own plan hash alone. */
  private def bandsToken(s: SparkSession, d: String): String =
    Staged.planHash(bands(Tables.documents(s, d)))

  def bandsStaged(s: SparkSession, d: String): DataFrame = {
    val df = bands(Tables.documents(s, d))
    Staged.orCompute(s, d, stageConsts, "lsh_bands", Staged.planHash(df))(df)
  }

  /** The verified near-dup pair relation (LSH candidates + true
    * Jaccard), staged: candidates derive from the staged band relation,
    * the shingle sets from one fresh pass over the corpus. Read by q24,
    * q50 and (transitively) q52. */
  /** Pairs-stage token: own plan hash COMBINED with the bands token
    * (the plan itself cannot see which staged band path it reads). */
  private def pairsToken(s: SparkSession, d: String): String =
    Staged.combine(
      Staged.planHash(lshPairsFrom(bandsStaged(s, d), Tables.documents(s, d))),
      bandsToken(s, d))

  def pairsStaged(s: SparkSession, d: String): DataFrame = {
    val df = lshPairsFrom(bandsStaged(s, d), Tables.documents(s, d))
    Staged.orCompute(s, d, stageConsts, "lsh_pairs", pairsToken(s, d))(df)
  }

  // ---------------------------------------------------------------
  // q20: per-document token/quality statistics
  // ---------------------------------------------------------------

  def q20TextStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        $"doc_id",
        // cast to long: DuckDB's length()/len() yield BIGINT — keep the
        // dumped parquet schema type-identical to the oracle's
        Text.tokenCount($"text").cast("long").as("n_tokens"),
        Text.bpeIshTokenCount($"text").cast("long").as("n_bpe_tokens"),
        stableRound(Text.avgTokenLen($"text"), 4).as("avg_token_len"),
        stableRound(Text.punctRatio($"text"), 4).as("punct_ratio"),
        stableRound(Text.stopwordRatio($"text"), 4).as("stopword_ratio"),
        stableRound(Text.qualityScore($"text"), 4).as("quality"))
      .orderBy($"doc_id")

  // SQL mirrors of the Text builders (same constants, same arithmetic —
  // including tokenCount's empty-string guard)
  private val tcSql =
    "(CASE WHEN length(text) = 0 THEN 0 ELSE length(text) - length(replace(text, ' ', '')) + 1 END)"
  private def swCountSql(txt: String): String = Text.stopwords.map { w =>
    val p = s"(' ' || $txt || ' ')"
    s"((length($p) - length(replace($p, ' $w ', ''))) / ${w.length + 2})"
  }.mkString("(", " + ", ")")
  private val punctSql =
    s"(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0))"
  private val swRatioSql =
    s"(CAST(${swCountSql("text")} AS DOUBLE) / greatest(CAST($tcSql AS DOUBLE), 1.0))"
  private val avgTokSql =
    s"(CAST(length(replace(text, ' ', '')) AS DOUBLE) / greatest(CAST($tcSql AS DOUBLE), 1.0))"
  private val qualitySql =
    s"((least(CAST($tcSql AS DOUBLE) / 50.0, 1.0) + least($swRatioSql * 4.0, 1.0) + greatest(1.0 - $punctSql * 5.0, 0.0)) / 3.0)"

  val q20TextStatsSql: String =
    s"""SELECT doc_id,
       |  $tcSql AS n_tokens,
       |  len(regexp_extract_all(text, '${Text.bpeIshPattern}')) AS n_bpe_tokens,
       |  ${sqlRound(avgTokSql, 4)} AS avg_token_len,
       |  ${sqlRound(punctSql, 4)} AS punct_ratio,
       |  ${sqlRound(swRatioSql, 4)} AS stopword_ratio,
       |  ${sqlRound(qualitySql, 4)} AS quality
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q21: n-gram-marker language ID (argmax over per-language scores)
  // ---------------------------------------------------------------

  /** Per-language marker-score columns (shared by q21 and q52). */
  private def langScoreCols: Seq[Column] =
    Text.langMarkers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      Text.langScore($"text", ws).cast("int").as(s"score_$lang")
    }

  /** Argmax over the score columns via ordered CASE chain (first max
    * wins — deterministic, mirrored exactly in the oracle SQL). */
  private def langPred: Column = {
    val langs = Text.langMarkers.toSeq.sortBy(_._1)
    langs.map(_._1).foldRight(lit(langs.last._1)) { case (lang, rest) =>
      val ge = langs.map(_._1).filter(_ != lang)
        .map(o => col(s"score_$lang") >= col(s"score_$o"))
        .reduce(_ && _)
      when(ge, lit(lang)).otherwise(rest)
    }
  }

  def q21LangId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(($"doc_id" +: langScoreCols): _*)
      .withColumn("pred_lang", langPred)
      .orderBy($"doc_id")

  // lang-ID SQL pieces, shared by q21 and the q52 selection pipeline
  private lazy val langsSorted = Text.langMarkers.toSeq.sortBy(_._1)
  private def langScoreSql(ws: Seq[String]): String = ws.map { w =>
    val p = "(' ' || lower(text) || ' ')"
    s"((length($p) - length(replace($p, ' $w ', ''))) / ${w.length + 2})"
  }.mkString("CAST((", " + ", ") AS INT)")
  private lazy val langScoreSelect: String = langsSorted
    .map { case (l, ws) => s"${langScoreSql(ws)} AS score_$l" }.mkString(", ")
  private lazy val langCaseChain: String = {
    val chain = langsSorted.map(_._1).init.map { l =>
      val conds = langsSorted.map(_._1).filter(_ != l)
        .map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"CASE $chain ELSE '${langsSorted.last._1}' END"
  }

  val q21LangIdSql: String =
    s"""SELECT doc_id, ${langsSorted.map(l => s"score_${l._1}").mkString(", ")},
       |  $langCaseChain AS pred_lang
       |FROM (SELECT doc_id, $langScoreSelect FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q22: fingerprints + per-fingerprint duplicate count
  // ---------------------------------------------------------------

  def q22Fingerprint(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy($"fp")
    Tables.documents(s, d)
      .select(
        $"doc_id",
        Text.fingerprintMd5($"text").as("fp"),
        Text.fingerprintNormalized($"text").as("fp_norm"))
      .withColumn("dup_count", count(lit(1)).over(w))
      .orderBy($"doc_id")
  }

  val q22FingerprintSql: String =
    """SELECT doc_id, md5(text) AS fp,
      |  md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp_norm,
      |  count(*) OVER (PARTITION BY md5(text)) AS dup_count
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q23/q24: MinHash signatures → LSH bands → candidate pairs → Jaccard
  // ---------------------------------------------------------------

  /** n-word-gram stream (duplicates included): posexplode the words,
    * n−1 `lead`s over (doc_id, pos) — one Window node computes them
    * all — concat. Every expression here is codegen'd: the higher-order
    * `transform`+`array_distinct` formulation benchmarked 4-5× slower
    * (HOFs evaluate interpreted, per-element, with per-gram
    * allocations). One exchange total (the window's hash partition by
    * doc_id), which downstream doc_id aggregations reuse. */
  private def ngramRows(docs: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val exploded =
      docs.select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
    val withLeads = (1 until n).foldLeft(exploded) { (df, i) =>
      df.withColumn(s"w$i", lead($"w", i).over(w))
    }
    val parts = $"w" +: (1 until n).map(i => col(s"w$i"))
    withLeads
      .filter(col(s"w${n - 1}").isNotNull)
      .select($"doc_id", concat_ws(" ", parts: _*).as("sh"))
  }

  /** The dedup family's 3-word shingle stream. */
  private def shingleRows(docs: DataFrame): DataFrame = ngramRows(docs, 3)

  /** Distinct shingle SET per doc (array column) — `collect_set` dedups
    * inside the aggregation, reusing the shingle stream's partitioning
    * (no extra exchange). */
  private def shingleArrays(docs: DataFrame): DataFrame =
    shingleRows(docs).groupBy($"doc_id").agg(collect_set($"sh").as("shs"))

  /** MinHash signature matrix: ONE md5 per shingle, sliced into K
    * disjoint 4-hex-char (16-bit) segments — K independent hash views at
    * 1/K the hashing cost of K salted md5s (the dominant cost at
    * 260k shingles × sf0.1). Fixed-width hex means lexicographic min ==
    * numeric min. 16-bit slices keep the minhash collision estimate
    * P(min=min) ≈ J + 2^-16 — negligible bias, and band keys pair two
    * slices (32 bits) so chance collisions stay ~n²/2^32. Min taken per
    * doc in ONE aggregation pass (K min() columns — no K-way re-scan).
    * Slices are parsed to LONG before the min: numeric aggregation
    * buffers keep the whole aggregate in HashAggregate — string mins
    * would demote the plan to SortAggregate (two extra sorts of the
    * full shingle relation). Runs on the raw shingle stream: min() is
    * duplicate-insensitive, so no dedup pass is needed at all. */
  private def signatures(docs: DataFrame): DataFrame =
    shingleRows(docs)
      .withColumn("h", md5($"sh"))
      .groupBy($"doc_id")
      .agg(
        min(conv(substring($"h", 1, 4), 16, 10).cast("long")).as("mh0"),
        (1 until MinhashK).map(i =>
          min(conv(substring($"h", 4 * i + 1, 4), 16, 10).cast("long")).as(s"mh$i")): _*)

  private def bands(docs: DataFrame): DataFrame =
    bandsFrom(signatures(docs))

  private def bandsFrom(sigs: DataFrame): DataFrame = {
    val nBands = MinhashK / BandWidth
    val stackArgs = (0 until nBands).map { b =>
      s"$b, md5(concat(mh${BandWidth * b}, ',', mh${BandWidth * b + 1}))"
    }.mkString(", ")
    sigs
      .select($"doc_id", expr(s"stack($nBands, $stackArgs) AS (band_id, band_key)"))
  }

  def q23Minhash(s: SparkSession, d: String): DataFrame =
    bandsStaged(s, d).orderBy($"doc_id", $"band_id")

  private def shinglesCte: String =
    """ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |       WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
      |       FROM ws, UNNEST(range(0, len(w) - 2)) AS t(i)),
      |sigs AS (SELECT doc_id, """.stripMargin +
      (0 until MinhashK).map(i =>
        s"min(CAST('0x' || substring(md5(sh), ${4 * i + 1}, 4) AS BIGINT)) AS mh$i").mkString(", ") +
      " FROM sh GROUP BY doc_id)"

  private def bandsCte: String = {
    val nBands = MinhashK / BandWidth
    "bands AS (" + (0 until nBands).map { b =>
      s"SELECT doc_id, $b AS band_id, md5(mh${BandWidth * b} || ',' || mh${BandWidth * b + 1}) AS band_key FROM sigs"
    }.mkString(" UNION ALL ") + ")"
  }

  val q23MinhashSql: String =
    s"""WITH $shinglesCte,
       |$bandsCte
       |SELECT doc_id, band_id, band_key FROM bands
       |ORDER BY doc_id, band_id""".stripMargin

  /** Candidate pairs from banded keys: bucket per (band_id, band_key),
    * keep each bucket's first [[MaxBucket]] keys, emit i&lt;j
    * combinations — ONE pass over the upstream pipeline (a band
    * self-join would compute the signature subtree twice).
    *
    * The cap is applied BEFORE the array aggregation (row_number over
    * the bucket, ≤ MaxBucket survive), so a degenerate band key can
    * never materialize an unbounded array in one aggregation buffer —
    * both the per-row memory AND the O(bucket²) pair expansion are
    * bounded. A bucket's keys are unique (one row per doc per band), so
    * "first MaxBucket by key order" is exactly the old
    * slice(array_sort(collect_set), 1, MaxBucket) — the oracle SQL's
    * capped sorted list is unchanged. The window's (band_id, band_key)
    * exchange is the same one the aggregation needed; only a per-bucket
    * sort is added. */
  private def bucketPairs(banded: DataFrame, key: Column): DataFrame = {
    val w = Window.partitionBy($"band_id", $"band_key").orderBy(key.asc)
    banded
      .withColumn("__rn", row_number().over(w))
      .filter($"__rn" <= MaxBucket)
      .groupBy($"band_id", $"band_key")
      .agg(array_sort(collect_list(key)).as("ds"))
      .filter(size($"ds") > 1)
      .select($"ds", posexplode($"ds").as(Seq("i", "a")))
      .select($"a", explode(slice($"ds", $"i" + 2, size($"ds"))).as("b"))
  }

  /** LSH candidate pairs + true shingle-set Jaccard — the near-dup
    * verifier. The band bucketing is the scale trick: only hash-equal
    * bands meet, never all pairs. Shingle SETS are joined back to the
    * pairs with sort-merge joins on doc id — docsets is O(corpus) and is
    * NEVER broadcast (it comes pre-hash-partitioned by doc_id from its
    * own aggregation, so each merge join adds no exchange on that side;
    * only the provably-small candidate side shuffles). The intersection
    * is then per-pair local work (`array_intersect`). */
  def q24LshPairs(s: SparkSession, d: String): DataFrame =
    pairsStaged(s, d).orderBy($"d1", $"d2")

  private[graft] def lshPairs(docs: DataFrame): DataFrame =
    lshPairsFrom(bands(docs), docs)

  private def lshPairsFrom(banded: DataFrame, docs: DataFrame): DataFrame =
    verifyCands(
      bucketPairs(banded, $"doc_id")
        .select($"a".as("d1"), $"b".as("d2"))
        .distinct(),
      docs)

  /** The Jaccard verification stage over a given candidate relation —
    * the ONE copy shared by the full build ([[lshPairsFrom]]) and the
    * incremental append (q275), so the verifier cannot drift between
    * the rebuild and the maintenance path. */
  private def verifyCands(cands: DataFrame, docs: DataFrame): DataFrame = {
    val docsets = shingleArrays(docs)
      .select($"doc_id", $"shs", size($"shs").cast("long").as("n"))
    cands
      .join(docsets.select($"doc_id".as("d1"), $"shs".as("shs1"), $"n".as("n1")).hint("merge"), "d1")
      .join(docsets.select($"doc_id".as("d2"), $"shs".as("shs2"), $"n".as("n2")).hint("merge"), "d2")
      .select($"d1", $"d2",
        size(array_intersect($"shs1", $"shs2")).cast("long").as("n_common"),
        $"n1", $"n2")
      .select($"d1", $"d2", $"n_common", $"n1", $"n2",
        stableRound($"n_common" / ($"n1" + $"n2" - $"n_common"), 6).as("jaccard"))
      .orderBy($"d1", $"d2")
  }

  /** The `buckets → cands → counts → inter` candidate chain, shared
    * by q24's and q245's mirrors (one definition — q194 discipline). */
  private def lshCandCtes: String =
    s"""buckets AS (SELECT band_id, band_key,
       |              list_sort(list(DISTINCT doc_id))[1:$MaxBucket] AS ds
       |            FROM bands GROUP BY band_id, band_key),
       |cands AS (SELECT DISTINCT ds[i] AS d1, ds[j] AS d2
       |          FROM (SELECT ds FROM buckets WHERE len(ds) > 1) b,
       |          UNNEST(range(1, len(ds)+1)) AS t1(i),
       |          UNNEST(range(1, len(ds)+1)) AS t2(j)
       |          WHERE i < j),
       |counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.d1, c.d2, count(*) AS n_common
       |          FROM cands c
       |          JOIN sh s1 ON s1.doc_id = c.d1
       |          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.sh = s1.sh
       |          GROUP BY c.d1, c.d2)""".stripMargin

  val q24LshPairsSql: String =
    s"""WITH $shinglesCte,
       |$bandsCte,
       |$lshCandCtes
       |SELECT c.d1, c.d2, coalesce(i.n_common, 0) AS n_common,
       |  c1.n AS n1, c2.n AS n2,
       |  ${sqlRound("coalesce(i.n_common, 0) / (c1.n + c2.n - coalesce(i.n_common, 0))", 6)} AS jaccard
       |FROM cands c
       |LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
       |JOIN counts c1 ON c1.doc_id = c.d1
       |JOIN counts c2 ON c2.doc_id = c.d2
       |ORDER BY c.d1, c.d2""".stripMargin

  // ---------------------------------------------------------------
  // SimHash-band near-dup pairs (hamming LSH)
  // ---------------------------------------------------------------

  /** SimHash near-dup CANDIDATES via hamming LSH: split each 64-bit
    * simhash into four 16-bit bands; any pair differing in ≤ 3 bits must
    * share at least one band (pigeonhole) — recall is COMPLETE for
    * hamming ≤ 3 and probabilistic (like any LSH) for larger distances;
    * the ≤ 12 output filter bounds the emitted candidates, it does NOT
    * promise every ≤ 12 pair. Band collisions are verified by exact
    * hamming via the native [[graft.functions.Hamming64]] expression.
    * Oracled: the DuckDB mirror recomputes FNV-1a SimHash in HUGEINT
    * arithmetic from the same constants
    * ([[graft.functions.SimHash.duckdbSigsCte]]). Buckets are capped at
    * [[MaxBucket]] like q24 (cap mirrored in the SQL). */
  def q44SimhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairs(Tables.documents(s, d))

  private[graft] def simhashPairs(docs: DataFrame): DataFrame = {
    import graft.functions.SimHash._
    // NULL texts hash to NULL and can't band meaningfully — drop them
    // (mirrored by the oracle's `simhash IS NOT NULL` band filter)
    val hashes = docs.select($"doc_id", simhash64($"text").as("sh"))
      .filter($"sh".isNotNull)
    hammingBandPairs(hashes, maxHamming = 12)
  }

  /** 64-bit-hash near-dup pair generation by 16-bit hamming bands —
    * shared by the SimHash (q44) and perceptual-image-hash (q141)
    * dedup paths. Input: (doc_id, sh). Candidates are band-equal pairs
    * (pigeonhole-complete for hamming ≤ 3; higher-distance pairs
    * surface only when a band survives — the deterministic, oracle-
    * mirrored banding contract), buckets capped at [[MaxBucket]]. */
  private[graft] def hammingBandPairs(
      hashes: DataFrame, maxHamming: Int): DataFrame = {
    import graft.functions.SimHash._
    val banded = hashes.select($"doc_id", $"sh", explode(array(
      (0 until 4).map(b =>
        struct(lit(b).as("band_id"),
          shiftright($"sh", b * 16).bitwiseAND(lit(0xffffL)).as("band_key"))): _*))
      .as("band"))
      .select($"doc_id", $"sh", $"band.band_id", $"band.band_key")
    // struct sort orders by doc_id (unique) — the cap keeps the same
    // doc-id prefix the oracle's capped doc-id list keeps
    bucketPairs(banded, struct($"doc_id", $"sh"))
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
        hamming64($"a.sh", $"b.sh").as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
      .orderBy($"d1", $"d2")
  }

  /** DuckDB mirror of q44: SimHash recomputed in SQL (FNV-1a per token,
    * HUGEINT mod-2^64 arithmetic), 16-bit bands off the unsigned view,
    * capped buckets, exact hamming via `bit_count(xor(...))`. */
  val q44SimhashPairsSql: String = {
    val u = "(CASE WHEN simhash < 0 THEN CAST(simhash AS HUGEINT) + " +
      "CAST('18446744073709551616' AS HUGEINT) ELSE CAST(simhash AS HUGEINT) END)"
    val bandSelects = (0 until 4).map { b =>
      val div = java.lang.Long.toUnsignedString(1L << (16 * b))
      s"SELECT doc_id, simhash, $b AS band_id, " +
        s"CAST(($u // CAST('$div' AS HUGEINT)) % 65536 AS BIGINT) AS band_key " +
        s"FROM sim WHERE simhash IS NOT NULL"
    }.mkString(" UNION ALL ")
    s"""WITH ${graft.functions.SimHash.duckdbSigsCte("documents")},
       |bands AS ($bandSelects),
       |buckets AS (SELECT band_id, band_key,
       |              list_sort(list(DISTINCT doc_id))[1:$MaxBucket] AS ds
       |            FROM bands GROUP BY band_id, band_key),
       |cands AS (SELECT DISTINCT ds[i] AS d1, ds[j] AS d2
       |          FROM (SELECT ds FROM buckets WHERE len(ds) > 1) b,
       |          UNNEST(range(1, len(ds)+1)) AS t1(i),
       |          UNNEST(range(1, len(ds)+1)) AS t2(j)
       |          WHERE i < j)
       |SELECT c.d1, c.d2,
       |  CAST(bit_count(xor(s1.simhash, s2.simhash)) AS BIGINT) AS hamming
       |FROM cands c
       |JOIN sim s1 ON s1.doc_id = c.d1
       |JOIN sim s2 ON s2.doc_id = c.d2
       |WHERE bit_count(xor(s1.simhash, s2.simhash)) <= 12
       |ORDER BY c.d1, c.d2""".stripMargin
  }

  // ---------------------------------------------------------------
  // q46: LSH bucket audit — the no-silent-caps channel for MaxBucket
  // ---------------------------------------------------------------

  /** Per-band bucket-size audit for the MinHash LSH: bucket counts,
    * colliding buckets, the largest bucket, and how many buckets exceed
    * [[MaxBucket]] (i.e. were truncated by q24's cap). Driver-oracled,
    * so a cap ever biting at some scale shows up as a non-zero
    * `n_over_cap` in a green CORRECTNESS row — audited, not silent. */
  def q46LshAudit(s: SparkSession, d: String): DataFrame =
    bandsStaged(s, d)
      .groupBy($"band_id", $"band_key")
      .agg(count(lit(1)).as("sz"))
      .groupBy($"band_id")
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when($"sz" > 1, 1L).otherwise(0L)).as("n_colliding"),
        max($"sz").as("max_bucket"),
        sum(when($"sz" > MaxBucket, 1L).otherwise(0L)).as("n_over_cap"))
      .orderBy($"band_id")

  val q46LshAuditSql: String =
    s"""WITH $shinglesCte,
       |$bandsCte,
       |sizes AS (SELECT band_id, band_key, count(*) AS sz
       |          FROM bands GROUP BY band_id, band_key)
       |SELECT band_id, count(*) AS n_buckets,
       |  CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_colliding,
       |  max(sz) AS max_bucket,
       |  CAST(sum(CASE WHEN sz > $MaxBucket THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap
       |FROM sizes GROUP BY band_id ORDER BY band_id""".stripMargin

  // ---------------------------------------------------------------
  // q50: near-dup clusters (connected components over LSH pairs)
  // ---------------------------------------------------------------

  private val ClusterJaccard = 0.8

  /** The dedup DECISION step: verified near-dup pairs (q24, Jaccard ≥
    * 0.8) form an undirected graph; each document maps to the minimum
    * doc id reachable from it (its canonical representative), plus the
    * cluster size — exactly what a training-data pipeline keeps one copy
    * per cluster from.
    *
    * Spark side: iterative min-label propagation to a fixpoint — each
    * round one shuffle join edges⋈labels + one min-aggregate, converging
    * in O(component diameter) rounds (near-dup clusters are shallow;
    * the loop is also hard-capped). The driver-side loop only checks a
    * per-round convergence COUNT — label state never leaves executors.
    * Oracle side: the same components via a DuckDB recursive CTE
    * (transitive closure → min reachable id), a fully independent
    * formulation. */
  def q50DedupClusters(s: SparkSession, d: String): DataFrame = {
    // token = edge-input plan hash ⊕ pairs token (the edge plan can't
    // see which staged pair path it scans); the propagation loop itself
    // is imperative — its logic changes ride Staged.Version
    val edges = pairsStaged(s, d)
      .filter($"jaccard" >= ClusterJaccard)
      .select($"d1", $"d2")
    val token = Staged.combine(Staged.planHash(edges), pairsToken(s, d),
      ClusterLoopTag)
    Staged.orCompute(s, d, stageConsts, "dedup_clusters", token)(
      dedupClusters(edges))
      .orderBy($"doc_id")
  }

  /** Invalidation tag for the IMPERATIVE propagation loop below — the
    * stage token hashes only the loop's input plan, which cannot see
    * algorithm edits here. The tag is spliced into q50's stage token
    * and interpolates every loop-affecting choice (round cap, seeding
    * strategy, convergence signal), so changing a constant invalidates
    * the stage without remembering to bump Staged.Version; renaming a
    * strategy means renaming its tag segment here. */
  private[graft] val ClusterMaxRounds = 20 // >= diameter of any plausible near-dup cluster
  private[graft] def ClusterLoopTag =
    s"cc-minlabel.rounds$ClusterMaxRounds.seed1hop.chgcol"

  private[graft] def dedupClusters(edges0: DataFrame): DataFrame =
    Blocks.generations { gens =>
      // a checkpoint, not a cache: the caller may hand in a DEEP edge
      // derivation (q221's ε-pairing subtree); a cache would re-analyze
      // that whole logical tree in every round's plan, a per-round
      // optimizer tax that dwarfs the actual joins on small core graphs
      val edges = gens.pin(gens.checkpoint(
        edges0.select($"d1".as("a"), $"d2".as("b"))
          .unionByName(edges0.select($"d2".as("a"), $"d1".as("b")))
          .distinct()))
      // seed labels with the 1-hop minimum (least of self and all direct
      // neighbors) instead of self: cliques — the common near-dup cluster
      // shape — converge immediately, saving a full propagation round
      var labels = edges
        .groupBy($"a".as("id"))
        .agg(min($"b").as("nmin"))
        .select($"id", least($"id", $"nmin").as("label"))
      var converged = false
      var rounds = 0
      val MaxRounds = ClusterMaxRounds
      while (!converged && rounds < MaxRounds) {
        val neighborMin = edges
          .join(labels, $"b" === $"id")
          .groupBy($"a")
          .agg(min($"label").as("nmin"))
        // the convergence signal rides ALONG with the label recompute (a
        // label changes iff a neighbor's label undercuts it). Each
        // round's relation is a checkpoint, not a cache: a cache keeps
        // the LOGICAL tree, which references the previous round twice —
        // the plan (and its per-action explain string) doubles per
        // round, and a deep-lineage caller (q221) OOMs the driver
        // building a multi-GB plan string before any data moves (the
        // GraphX iteration rule)
        val next = gens.checkpoint(labels
          .join(neighborMin, $"id" === $"a", "left")
          .select($"id",
            least($"label", coalesce($"nmin", $"label")).as("label"),
            (coalesce($"nmin", $"label") < $"label").cast("long").as("chg")))
        val changed = gens.fill(s"dedupClusters round ${rounds + 1}")(
          next.agg(coalesce(sum($"chg"), lit(0L))).head().getLong(0))
        labels = next.select($"id", $"label")
        converged = changed == 0
        rounds += 1
      }
      System.err.println(s"[dedupClusters] converged in $rounds rounds")
      // a silent partial propagation would emit canonical ids that are
      // not the component minimum — fail loudly instead (a graph needing
      // more rounds than this means the "near-dup" threshold is not
      // selecting near-dups)
      if (!converged)
        throw new IllegalStateException(
          s"dedupClusters did not converge in $MaxRounds rounds - component diameter exceeds the cap")
      val sizes = labels.groupBy($"label").agg(count(lit(1)).as("cluster_size"))
      // the result: materialized before the loop frees the rounds it
      // reads, and owned by the caller
      labels.join(sizes, "label")
        .select($"id".as("doc_id"), $"label".as("canonical_id"), $"cluster_size")
        .orderBy($"doc_id")
        .localCheckpoint(true)
    }

  /** Component CTE chain (shingles → … → comp/sizes), shared by the q50
    * oracle and the q52 selection oracle. Must follow `WITH RECURSIVE`. */
  /** CTE chain up to the thresholded near-dup pair relation `near` —
    * shared by the clustering mirror (q50/q52) and the incremental
    * ingest gate (q124). */
  private lazy val nearPairCtes: String =
    s"""$shinglesCte,
       |$bandsCte,
       |buckets AS (SELECT band_id, band_key,
       |              list_sort(list(DISTINCT doc_id))[1:$MaxBucket] AS ds
       |            FROM bands GROUP BY band_id, band_key),
       |cands AS (SELECT DISTINCT ds[i] AS d1, ds[j] AS d2
       |          FROM (SELECT ds FROM buckets WHERE len(ds) > 1) b,
       |          UNNEST(range(1, len(ds)+1)) AS t1(i),
       |          UNNEST(range(1, len(ds)+1)) AS t2(j)
       |          WHERE i < j),
       |counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.d1, c.d2, count(*) AS n_common
       |          FROM cands c
       |          JOIN sh s1 ON s1.doc_id = c.d1
       |          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.sh = s1.sh
       |          GROUP BY c.d1, c.d2),
       |near AS (SELECT c.d1, c.d2
       |         FROM cands c
       |         JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
       |         JOIN counts c1 ON c1.doc_id = c.d1
       |         JOIN counts c2 ON c2.doc_id = c.d2
       |         WHERE ${sqlRound("i.n_common / (c1.n + c2.n - i.n_common)", 6)}
       |               >= $ClusterJaccard)""".stripMargin

  private lazy val clusterCtes: String =
    s"""$nearPairCtes,
       |sym AS (SELECT d1 AS a, d2 AS b FROM near
       |        UNION SELECT d2, d1 FROM near),
       |reach AS (
       |  SELECT a AS id, a AS r FROM sym
       |  UNION
       |  SELECT s.id, e.b FROM reach s JOIN sym e ON e.a = s.r),
       |comp AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id),
       |sizes AS (SELECT canonical_id, count(*) AS cluster_size
       |          FROM comp GROUP BY canonical_id)""".stripMargin

  val q50DedupClustersSql: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT c.id AS doc_id, c.canonical_id, s.cluster_size
       |FROM comp c JOIN sizes s USING (canonical_id)
       |ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the q260 streaming dedup front door
    * ([[graft.streaming.EventStream.q260StreamDedupLookup]]): the q50
    * cluster CTEs left-joined under every document — a doc outside
    * every cluster is its own canonical, size 1, keep. Lives here
    * (not EventStream) because it composes the private cluster CTE
    * chain. */
  val q260StreamDedupLookupSql: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT d.doc_id, d.lang, d.source, d.n_chars,
       |  coalesce(c.canonical_id, d.doc_id) AS canonical_id,
       |  coalesce(s.cluster_size, 1) AS cluster_size,
       |  CASE WHEN coalesce(c.canonical_id, d.doc_id) = d.doc_id
       |    THEN 'keep' ELSE 'drop' END AS action
       |FROM documents d
       |LEFT JOIN comp c ON c.id = d.doc_id
       |LEFT JOIN sizes s ON s.canonical_id = c.canonical_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q52: end-to-end corpus selection (quality ∧ language ∧ dedup)
  // ---------------------------------------------------------------

  private val QualityMin = 0.5

  /** The keep-list a training-data pipeline materializes: documents
    * whose quality score (q20 formula) clears the bar AND that are
    * either un-duplicated or their near-dup cluster's canonical
    * representative (q50 components) — one declarative plan chaining
    * the analysis + dedup operators end to end. Emits the kept docs
    * with quality, predicted language, and cluster size.
    *
    * Quality and language are PER-DOC projections, so they are computed
    * in ONE scan of the corpus (column-parallel), not via self-joins of
    * separately-scanned q20/q21 results; the cluster side is a read of
    * the staged q50 relation. One scan + one small left join — the
    * whole selection is two passes over nothing bigger than the corpus. */
  def q52SelectCorpus(s: SparkSession, d: String): DataFrame = {
    val docStats = Tables.documents(s, d)
      .select(($"doc_id" +:
        stableRound(Text.qualityScore($"text"), 4).as("quality") +:
        langScoreCols): _*)
      .withColumn("pred_lang", langPred)
    val clusters = q50DedupClusters(s, d)
      .select($"doc_id", $"canonical_id", $"cluster_size")
    docStats
      .join(clusters, Seq("doc_id"), "left")
      .filter($"quality" >= QualityMin &&
        ($"canonical_id".isNull || $"canonical_id" === $"doc_id"))
      .select($"doc_id", $"quality", $"pred_lang",
        coalesce($"cluster_size", lit(1L)).as("cluster_size"))
      .orderBy($"doc_id")
  }

  val q52SelectCorpusSql: String =
    s"""WITH RECURSIVE $clusterCtes,
       |q AS (SELECT doc_id, ${sqlRound(qualitySql, 4)} AS quality FROM documents),
       |l AS (SELECT doc_id, $langCaseChain AS pred_lang
       |      FROM (SELECT doc_id, $langScoreSelect FROM documents)),
       |cl AS (SELECT c.id AS doc_id, c.canonical_id, s.cluster_size
       |       FROM comp c JOIN sizes s USING (canonical_id))
       |SELECT d.doc_id, q.quality, l.pred_lang,
       |  coalesce(cl.cluster_size, 1) AS cluster_size
       |FROM documents d
       |JOIN q USING (doc_id)
       |JOIN l USING (doc_id)
       |LEFT JOIN cl USING (doc_id)
       |WHERE q.quality >= $QualityMin
       |  AND (cl.canonical_id IS NULL OR cl.canonical_id = d.doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // constants shared with the native expression and the DuckDB mirror
  private val KgramLen = graft.functions.WinnowImpl.KgramLen
  private val WinnowWindow = graft.functions.WinnowImpl.WinnowWindow
  private val RollBase = graft.functions.WinnowImpl.RollBase
  private val RollMod = graft.functions.WinnowImpl.RollMod

  /** Polynomial hash of the k-gram starting at each char position — the
    * VALUE a Rabin-Karp rolling hash computes, but evaluated per-gram so
    * there is no sequential dependency: every position hashes
    * independently inside whole-stage codegen (the fold below unrolls to
    * k multiply-add-mod steps; the 2^31-1 modulus keeps every
    * intermediate in a long). */
  private def kgramHash(gram: Column): Column =
    (1 to KgramLen).foldLeft(lit(0L)) { (acc, i) =>
      (acc * RollBase + ascii(substring(gram, i, 1))) % RollMod
    }

  /** Document fingerprinting by winnowing (Schleimer/Wilkerson/Aiken
    * MOSS scheme): hash every k-char gram, slide a w-hash window, keep
    * each window's minimum — the selected set is a position-robust
    * fingerprint (any shared substring of length ≥ k+w−1 guarantees a
    * shared fingerprint). Emitted per doc: gram/fingerprint counts and
    * fingerprint extrema — all integer, mirrored exactly in DuckDB.
    *
    * Scale shape: the whole per-document computation runs inside the
    * native [[graft.functions.WinnowStats]] expression — ONE codegen'd
    * O(len) pass per document, no explode, no window exchange, no
    * distinct expansion; the only shuffle is the final ORDER BY. The
    * declarative explode→window formulation ([[winnowSelections]])
    * stays as the reference implementation, asserted equal in
    * EngineSpec and sharing this query's DuckDB oracle. */
  def q49WinnowFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(length($"text") >= KgramLen)
      .select($"doc_id", graft.functions.Winnow.winnowStats($"text").as("ws"))
      .select($"doc_id", $"ws.n_kgrams", $"ws.n_fps", $"ws.min_fp", $"ws.max_fp")
      .orderBy($"doc_id")

  /** Per-position window-min selections (doc_id, pos, sel) — the raw
    * winnowing stream the per-doc rollup and the guarantee property
    * test both consume. */
  private[graft] def winnowSelections(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.currentRow, WinnowWindow - 1)
    docs
      .filter(length($"text") >= KgramLen)
      .select($"doc_id",
        explode(sequence(lit(1), length($"text") - (KgramLen - 1))).as("pos"),
        $"text")
      .select($"doc_id", $"pos",
        kgramHash(expr(s"substring(text, pos, $KgramLen)")).as("h"))
      .withColumn("sel", min($"h").over(w))
  }

  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame =
    winnowSelections(docs)
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_kgrams"),
        countDistinct($"sel").as("n_fps"),
        min($"sel").as("min_fp"),
        max($"sel").as("max_fp"))
      .orderBy($"doc_id")

  /** DuckDB mirror of the winnowing selection stream (`grams → hs →
    * sels`), shared by q49's and q162's oracle SQL — one definition of
    * the hash/window arithmetic on the oracle side, like the Scala
    * side's [[graft.functions.WinnowImpl]]. */
  private def winnowCtes: String = {
    // CAST seed: DuckDB types bare literals INT32 and errors on overflow
    val hash = (1 to KgramLen).foldLeft("CAST(0 AS BIGINT)") { (acc, i) =>
      s"(($acc * $RollBase + ascii(substring(g, $i, 1))) % $RollMod)"
    }
    s"""grams AS (
       |  SELECT doc_id, i AS pos, substring(text, i, $KgramLen) AS g
       |  FROM documents, UNNEST(range(1, length(text) - ${KgramLen - 2})) AS t(i)
       |  WHERE length(text) >= $KgramLen),
       |hs AS (SELECT doc_id, pos, $hash AS h FROM grams),
       |sels AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN CURRENT ROW AND ${WinnowWindow - 1} FOLLOWING) AS sel
       |         FROM hs)""".stripMargin
  }

  val q49WinnowFingerprintSql: String =
    s"""WITH $winnowCtes
       |SELECT doc_id, count(*) AS n_kgrams, count(DISTINCT sel) AS n_fps,
       |  min(sel) AS min_fp, max(sel) AS max_fp
       |FROM sels GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q162: cross-document repeated-passage census (shared fingerprints)
  // ---------------------------------------------------------------

  /** The cross-document layer of winnowing — the index MOSS builds and
    * the candidate generator for exact-substring dedup (Lee et al.
    * 2022, arXiv:2107.06499, found license blocks / boilerplate
    * repeated verbatim across training corpora): every fingerprint
    * selected in ≥ 2 distinct documents, with its document count and
    * id extrema. The winnowing guarantee makes the census sound as a
    * candidate set: any verbatim passage of length ≥ k+w−1 shared by
    * two docs MUST surface as at least one shared fingerprint here.
    *
    * Scale shape: each document's distinct fingerprint set comes out
    * of the native single-pass [[graft.functions.WinnowFps]] expression
    * (no char-grain explode, no window exchange — the explode is over
    * the ~len/w selected prints only), and the census is one
    * map-side-combinable aggregation keyed by the entropy-rich
    * fingerprint value. Corpus-size-linear rows in, census rows out —
    * nothing pairwise, no skew key. */
  def q162SharedPassages(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(length($"text") >= KgramLen)
      .select($"doc_id",
        explode(graft.functions.Winnow.winnowFps($"text")).as("fingerprint"))
      .groupBy($"fingerprint")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .filter($"n_docs" >= 2)
      .orderBy($"fingerprint")

  val q162SharedPassagesSql: String =
    s"""WITH $winnowCtes,
       |dfp AS (SELECT DISTINCT doc_id, sel FROM sels)
       |SELECT sel AS fingerprint, count(*) AS n_docs,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM dfp GROUP BY sel HAVING count(*) >= 2
       |ORDER BY fingerprint""".stripMargin

  // ---------------------------------------------------------------
  // q55: deterministic hash-sampled corpus mix (data weighting)
  // ---------------------------------------------------------------

  /** Per-language sampling fractions — a data-mixing policy (upsample
    * the target language, downsample the rest). Shared with the oracle
    * SQL generator. */
  private val MixByLang: Seq[(String, Double)] =
    Seq("en" -> 1.0, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5, "zh" -> 0.25)
  private val MixDefault = 0.1

  /** Reproducible corpus mixing by DETERMINISTIC hash sampling: a doc is
    * kept iff the first 32 bits of md5(doc_id) — a uniform value in
    * [0, 1) — fall under its language's fraction. No RNG, no seed state:
    * the sample is a pure function of the key, so it is identical across
    * engines, runs, partitionings, and cluster sizes (the property that
    * makes training mixes reproducible), and membership of any doc can
    * be re-derived in O(1). Embarrassingly parallel: a filter on a
    * per-row hash, no shuffle before the output sort. */
  def q55MixCorpus(s: SparkSession, d: String): DataFrame = {
    val u = conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
      .cast("long") / 4294967296.0
    val frac = MixByLang.foldRight(lit(MixDefault): Column) {
      case ((l, f), rest) => when($"lang" === l, lit(f)).otherwise(rest)
    }
    Tables.documents(s, d)
      .select($"doc_id", $"lang", $"source", u.as("u"), frac.as("frac"))
      .filter($"u" < $"frac")
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  val q55MixCorpusSql: String = {
    val u = "(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) / 4294967296.0)"
    val frac = MixByLang.map { case (l, f) => s"WHEN lang = '$l' THEN $f" }
      .mkString("CASE ", " ", s" ELSE $MixDefault END")
    s"""SELECT doc_id, lang, source
       |FROM documents
       |WHERE $u < ($frac)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q59: sequence packing (token-budget bin assignment)
  // ---------------------------------------------------------------

  private val PackBudget = 512L
  private val PackShards = 8

  /** Training-sequence packing: concatenate documents per
    * (language, shard) in doc-id order and split at a fixed token
    * budget — each doc gets the pack (training sequence) it STARTS in
    * plus its offset there, the assignment step of the packing every
    * LLM data loader performs. Deterministic: the shard is the first
    * 32 bits of md5(doc_id) mod [[PackShards]] (the q55 hash-sampling
    * trick), so the whole assignment is a pure function of (lang,
    * shard, doc_id order, token counts) — no RNG, identical across
    * engines and partitionings.
    *
    * Scale shape: the running total is windowed per (lang, shard) —
    * language alone is a HANDFUL of values (a 5-language corpus would
    * pack on 5 tasks no matter the cluster), so the hash shard key is
    * what actually spreads the cumsum across executors; at 100 TB you
    * raise PackShards to O(cores) and every shard packs independently,
    * exactly how production loaders pack per input shard/file. */
  def q59PackSequences(s: SparkSession, d: String): DataFrame =
    packSequences(Tables.documents(s, d))

  private[graft] def packSequences(docs: DataFrame,
      budget: Long = PackBudget, nShards: Int = PackShards): DataFrame = {
    val w = Window.partitionBy($"lang", $"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .filter($"text".isNotNull)
      .select($"doc_id", $"lang",
        (conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
          .cast("long") % nShards).as("shard"),
        Text.tokenCount($"text").cast("long").as("n_tokens"))
      .withColumn("start_tok", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .select($"doc_id", $"lang", $"shard", $"n_tokens",
        expr(s"start_tok div $budget").as("pack_id"),
        ($"start_tok" % budget).as("pack_offset"))
      .orderBy($"doc_id")
  }

  /** Shared packing CTE body (t = sharded token counts, c = running
    * start offsets) — q59 reads the per-doc assignment off it, q229 the
    * fragmentation census, from ONE template so they cannot drift (the
    * q194 shared-mirror discipline). */
  private val packCteSql: String =
    s"""t AS (SELECT doc_id, lang,
       |        (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
       |          AS BIGINT) % $PackShards) AS shard,
       |        $tcSql AS n_tokens
       |      FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT doc_id, lang, shard, n_tokens,
       |        CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard
       |          ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS BIGINT) AS start_tok
       |      FROM t)""".stripMargin

  val q59PackSequencesSql: String =
    s"""WITH $packCteSql
       |SELECT doc_id, lang, shard, n_tokens,
       |  start_tok // $PackBudget AS pack_id,
       |  start_tok % $PackBudget AS pack_offset
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q60: benchmark decontamination (n-gram overlap with an eval set)
  // ---------------------------------------------------------------

  /** Decontamination — the training-data hygiene step: flag corpus
    * documents sharing any 3-word shingle with a benchmark/eval set
    * (here a deterministic tenth of the corpus, doc_id % 10 == 7; a
    * real pipeline plugs in its eval suites). Emits each contaminated
    * doc with its count of distinct shared shingles.
    *
    * Scale shape: one equi-join on the shingle string — shuffles
    * hash-partition by shingle (near-uniform), never all-pairs; the
    * benchmark side is deduped to distinct shingles first so each
    * doc-shingle matches at most once (no hot-key amplification). A
    * real eval set is tiny relative to the corpus — at scale it would
    * be `broadcast()` and the corpus side never shuffles at all. */
  def q60Decontaminate(s: SparkSession, d: String): DataFrame =
    decontaminate(Tables.documents(s, d), $"doc_id" % 10 === 7)

  private[graft] def decontaminate(docs: DataFrame, isBench: Column): DataFrame = {
    val sh = shingleRows(docs).distinct()
    val bench = sh.filter(isBench).select($"sh").distinct()
    sh.filter(!isBench)
      .join(bench, "sh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
      .orderBy($"doc_id")
  }

  val q60DecontaminateSql: String =
    s"""WITH $shinglesCte,
       |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 7)
       |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
       |FROM sh s JOIN bench b ON s.sh = b.sh
       |WHERE s.doc_id % 10 <> 7
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q61: intra-document repetition ratio (quality signal)
  // ---------------------------------------------------------------

  /** Repetition scoring — the "fraction of duplicated n-grams" quality
    * signal (high repetition marks boilerplate/spam for filtering):
    * per document, total vs distinct 3-word shingles and the duplicate
    * fraction. One aggregation over the shingle stream, shuffle keyed
    * by doc_id — the same partitioning every other per-doc text
    * operator uses. */
  def q61Repetition(s: SparkSession, d: String): DataFrame =
    repetitionStats(Tables.documents(s, d))

  private[graft] def repetitionStats(docs: DataFrame): DataFrame =
    shingleRows(docs)
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        countDistinct($"sh").as("n_distinct"))
      .select($"doc_id", $"n_shingles", $"n_distinct",
        stableRound(lit(1.0) - $"n_distinct" / $"n_shingles", 6).as("rep_ratio"))
      .orderBy($"doc_id")

  val q61RepetitionSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |            WHERE len(string_split(text, ' ')) >= 3),
       |shd AS (SELECT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
       |        FROM ws, UNNEST(range(0, len(w) - 2)) AS t(i))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(count(DISTINCT sh) AS BIGINT) AS n_distinct,
       |  ${sqlRound("1.0 - count(DISTINCT sh) / count(*)", 6)} AS rep_ratio
       |FROM shd GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q62: bigram vocabulary induction (the BPE counting step)
  // ---------------------------------------------------------------

  private val VocabTopK = 100

  /** Corpus-wide top-k adjacent-pair counts — the counting step a BPE /
    * WordPiece vocabulary induction loop runs each merge round, here at
    * word granularity. Deterministic: ties broken by the bigram string.
    *
    * Scale shape: one explode → window(lead) per doc → hash aggregate
    * (map-side partial combine collapses the heavy hitters before the
    * shuffle) → global top-k, which Spark plans as
    * TakeOrderedAndProject: each partition keeps only its local top-k
    * before the single-row-ish final merge — no global sort of the
    * vocabulary ever happens. */
  def q62BigramVocab(s: SparkSession, d: String): DataFrame =
    ngramRows(Tables.documents(s, d), 2)
      .select($"sh".as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"bigram")
      .limit(VocabTopK)

  val q62BigramVocabSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |            WHERE len(string_split(text, ' ')) >= 2),
       |bg AS (SELECT w[i+1] || ' ' || w[i+2] AS bigram
       |       FROM ws, UNNEST(range(0, len(w) - 1)) AS t(i))
       |SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
       |FROM bg GROUP BY bigram
       |ORDER BY cnt DESC, bigram LIMIT $VocabTopK""".stripMargin

  // ---------------------------------------------------------------
  // q163: character-grain BPE merge candidates over the vocabulary
  // ---------------------------------------------------------------

  private val BpeTopN = 50

  /** The CHARACTER-grain BPE counting step (Sennrich et al. 2016,
    * arXiv:1508.07909) — what one merge iteration of a real BPE
    * trainer counts: adjacent symbol-pair frequencies, weighted by
    * word occurrence. This is q62's complement one level down: q62
    * counts word pairs over the token stream; this counts char pairs
    * over the VOCABULARY — the trainer's trick, because pair counts
    * factor as Σ_words occ(pair, word)·freq(word), so the quadratic
    * char-grain explode runs over the Zipf-bounded unique-word
    * relation, never the corpus. Output: top [[BpeTopN]] pairs with
    * their corpus frequency and supporting-word count, ties broken by
    * the pair strings.
    *
    * Scale shape: the word-frequency aggregation is the only
    * corpus-grain pass (map-side combinable, entropy-rich key); the
    * pair explode inflates ONLY unique words (vocabulary ≪ corpus, and
    * growing sublinearly — Heaps' law); the final top-N plans as
    * TakeOrderedAndProject (per-partition bounded heaps, no global
    * sort). */
  def q163BpeMerges(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
    words
      .select($"w", $"cnt",
        explode(sequence(lit(1), length($"w") - 1)).as("i"))
      .select($"w", $"cnt",
        $"w".substr($"i", lit(1)).as("l"),
        $"w".substr($"i" + 1, lit(1)).as("r"))
      .groupBy($"l", $"r", $"w", $"cnt")
      .agg(count(lit(1)).as("occ"))
      .groupBy($"l", $"r")
      .agg(sum($"occ" * $"cnt").as("total_freq"),
        count(lit(1)).as("n_words"))
      .orderBy($"total_freq".desc, $"l", $"r")
      .limit(BpeTopN)
  }

  /** Shared q163/q184 vocabulary CTEs (word frequencies + adjacent
    * symbol-pair occurrences) — one definition so q184's winner pick
    * can never diverge from the q163 counting it applies. */
  private val bpeWordsCtes: String =
    s"""words AS (
       |  SELECT w, count(*) AS cnt
       |  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 2 GROUP BY w),
       |po AS (SELECT substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r,
       |         w, cnt, count(*) AS occ
       |       FROM words, UNNEST(range(1, length(w))) AS t(i)
       |       GROUP BY 1, 2, 3, 4)""".stripMargin

  val q163BpeMergesSql: String =
    s"""WITH $bpeWordsCtes
       |SELECT l, r, CAST(sum(occ * cnt) AS BIGINT) AS total_freq,
       |  CAST(count(*) AS BIGINT) AS n_words
       |FROM po GROUP BY l, r
       |ORDER BY total_freq DESC, l, r LIMIT $BpeTopN""".stripMargin

  // ---------------------------------------------------------------
  // q184: BPE merge APPLICATION (one trainer iteration end to end)
  // ---------------------------------------------------------------

  /** One full BPE trainer iteration (Sennrich et al. 2016,
    * arXiv:1508.07909): q163 counts the merge candidates; this picks
    * the winner and APPLIES it to the corpus — the step that actually
    * changes the symbol stream. The winning pair (max corpus
    * frequency, pair-string tie-break) merges left-to-right
    * non-overlapping — exactly `replace`'s contract in both engines —
    * and the output is the per-source symbol accounting: documents
    * touched, merges applied, symbol mass before/after. The vocabulary
    * side's predicted frequency (`total_freq`, Σ occ·cnt over unique
    * words — the trainer's OVERLAPPING adjacent-position count, per
    * Sennrich's reference implementation) and the corpus side's
    * applied count (`occ_merged`, counted independently on the raw
    * text) are BOTH emitted. When the winner has distinct symbols
    * (l ≠ r — a 2-char pair of distinct chars cannot overlap itself)
    * the two are provably equal and the green hash proves the
    * factored counting against the corpus truth; a doubled-letter
    * winner ("aa" in "aaa": counted 2, merged once) makes total_freq
    * a documented overcount — still oracled, just not claimed equal.
    *
    * Determinism: pure integer length arithmetic (a merge removes
    * exactly one symbol per application); the winner pick is an
    * integer-ordered LIMIT 1.
    *
    * Scale: the candidate count runs at vocabulary grain (q163's
    * shape); the winner is a 1-row broadcast onto one corpus-grain
    * map pass (replace + length — no explode, no extra shuffle);
    * the census is map-side combinable on the bounded source axis. */
  def q184BpeApply(s: SparkSession, d: String): DataFrame = {
    val top1 = q163BpeMerges(s, d)
      .orderBy($"total_freq".desc, $"l", $"r").limit(1)
      .select(concat($"l", $"r").as("pair"), $"total_freq")
    Tables.documents(s, d).filter($"text".isNotNull)
      .crossJoin(broadcast(top1))
      .select($"source", $"pair", $"total_freq",
        expr("CAST(length(text) - length(replace(text, pair, '')) AS BIGINT)" +
          " div 2").as("occ"),
        length(regexp_replace($"text", " ", "")).cast("long").as("sb"))
      .groupBy($"source", $"pair", $"total_freq")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"occ" > 0L, 1L).otherwise(0L)).as("n_docs_touched"),
        sum($"occ").as("occ_merged"),
        sum($"sb").as("symbols_before"),
        sum($"sb" - $"occ").as("symbols_after"))
      .orderBy($"source")
  }

  val q184BpeApplySql: String =
    s"""WITH $bpeWordsCtes,
       |top1 AS (SELECT l || r AS pair,
       |    CAST(sum(occ * cnt) AS BIGINT) AS total_freq
       |  FROM po GROUP BY l, r
       |  ORDER BY total_freq DESC, l, r LIMIT 1),
       |ap AS (SELECT d.source, t.pair, t.total_freq,
       |    CAST(length(d.text) - length(replace(d.text, t.pair, ''))
       |      AS BIGINT) // 2 AS occ,
       |    CAST(length(replace(d.text, ' ', '')) AS BIGINT) AS sb
       |  FROM documents d CROSS JOIN top1 t WHERE d.text IS NOT NULL)
       |SELECT source, pair, total_freq,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_touched,
       |  CAST(sum(occ) AS BIGINT) AS occ_merged,
       |  CAST(sum(sb) AS BIGINT) AS symbols_before,
       |  CAST(sum(sb - occ) AS BIGINT) AS symbols_after
       |FROM ap GROUP BY 1, 2, 3 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q191: multi-iteration BPE trainer (3 unrolled merge iterations)
  // ---------------------------------------------------------------

  private val BpeTrainIters = 3

  /** The BPE trainer LOOP (Sennrich et al. 2016, arXiv:1508.07909) —
    * q163 counts one iteration's candidates and q184 applies one
    * merge; this composes the full step sequence: [[BpeTrainIters]]
    * unrolled iterations of count → pick winner → apply → recount,
    * where iteration i+1's counts run over the symbol stream iteration
    * i produced (so a pair involving a MERGED symbol can win — the
    * semantics single steps cannot exhibit; the q110 fixed-iteration
    * unroll pattern).
    *
    * Representation: the vocabulary as (word, pos, symbol) rows —
    * multi-char symbols stay atomic, unlike q184's raw-text `replace`
    * which can only merge character pairs. A merge rewrites the
    * symbol rows relationally: adjacent (l, r) matches found by lead,
    * greedy left-to-right semantics via run parity (for l = r a run of
    * consecutive matches keeps every second one — [a,a,a,a] merges to
    * [aa,aa], [a,a,a] to [aa,a], the reference implementation's
    * behavior; for l ≠ r matches are provably never adjacent so the
    * parity rule is the identity), matched rows concatenated, their
    * successors dropped, positions renumbered.
    *
    * Determinism: all counts are exact integers at vocabulary grain;
    * each winner is an integer-ordered LIMIT 1 with (l, r) string
    * tie-breaks; window orders ride the unique (word, pos) key
    * (rule 3); run parity is integer arithmetic on non-negative
    * offsets.
    *
    * Scale: the corpus is touched ONCE (the word-frequency aggregate —
    * map-side combinable, entropy-rich key); every iteration runs at
    * symbol-row grain over the Zipf-bounded unique-word relation
    * (Heaps' law: vocabulary ≪ corpus, and symbol rows only SHRINK as
    * merges apply); each winner is a 1-row broadcast; all windows
    * partition by word. At 100 TB the per-iteration cost is the
    * vocabulary shuffle, not a corpus pass — exactly how production
    * BPE trainers bound the loop. */
  def q191BpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrainFromWords(Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("cnt")))

  /** The trainer loop over an arbitrary (w, cnt) vocabulary — split
    * from [[q191BpeTrain]] so the property suite can drive it with
    * random corpora against a list-based reference implementation. */
  private[graft] def bpeTrainFromWords(words: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy($"w").orderBy($"pos")
    var syms = words
      .select($"w", $"cnt", posexplode(split($"w", "")))
      .select($"w", $"cnt", ($"pos" + 1).as("pos"), $"col".as("sym"))
    syms = syms.persist()
    val rows = (1 to BpeTrainIters).map { it =>
      val pairs = syms
        .withColumn("nsym", lead($"sym", 1).over(wOrd))
        .filter($"nsym".isNotNull)
        .groupBy($"sym", $"nsym")
        .agg(sum($"cnt").as("total_freq"), countDistinct($"w").as("n_words"))
      val winner = pairs
        .orderBy($"total_freq".desc, $"sym", $"nsym").limit(1)
        .select($"sym".as("wl"), $"nsym".as("wr"),
          $"total_freq", $"n_words")
      val applied = syms
        .crossJoin(broadcast(winner.select($"wl", $"wr")))
        .withColumn("nsym", lead($"sym", 1).over(wOrd))
        .withColumn("mraw",
          $"nsym".isNotNull && $"sym" === $"wl" && $"nsym" === $"wr")
        .withColumn("grp",
          sum(when($"mraw", 0L).otherwise(1L)).over(wOrd))
        .withColumn("fm",
          min(when($"mraw", $"pos")).over(Window.partitionBy($"w", $"grp")))
        .withColumn("keep", $"mraw" && (($"pos" - $"fm") % 2 === 0))
        .withColumn("pk", coalesce(lag($"keep", 1).over(wOrd), lit(false)))
        .filter(!$"pk")
        .select($"w", $"cnt",
          row_number().over(wOrd).as("pos"),
          when($"keep", concat($"sym", $"nsym")).otherwise($"sym").as("sym"))
      // persist each iteration's symbol stream (the q197 discipline):
      // it feeds the next iteration's pair counts AND winner AND apply
      // pass AND its own mass row — without the cache those subtrees
      // re-evaluate the whole chain per reference
      syms = applied.persist()
      val after = syms.agg(sum($"cnt").as("corpus_syms_after"))
      winner
        .select(lit(it.toLong).as("it"), concat($"wl", $"wr").as("pair"),
          $"total_freq", $"n_words")
        .crossJoin(broadcast(after))
    }
    rows.reduce(_.unionByName(_)).orderBy($"it")
  }

  /** One unrolled trainer iteration's CTE block for the mirror —
    * generated per iteration index so the 3 blocks cannot drift from
    * each other or from the Spark loop body. */
  private def bpeTrainIterSql(i: Int, prev: String): String =
    s"""pairs$i AS (
       |  SELECT sym AS l, nsym AS r, CAST(sum(cnt) AS BIGINT) AS total_freq,
       |    CAST(count(DISTINCT w) AS BIGINT) AS n_words
       |  FROM (SELECT w, cnt, sym,
       |          lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nsym
       |        FROM $prev)
       |  WHERE nsym IS NOT NULL GROUP BY 1, 2),
       |win$i AS (SELECT l, r, total_freq, n_words FROM pairs$i
       |          ORDER BY total_freq DESC, l, r LIMIT 1),
       |m$i AS (SELECT s.w, s.cnt, s.pos, s.sym, t.l, t.r,
       |    lead(s.sym) OVER (PARTITION BY s.w ORDER BY s.pos) AS nsym
       |  FROM $prev s CROSS JOIN win$i t),
       |mm$i AS (SELECT *,
       |    (nsym IS NOT NULL AND sym = l AND nsym = r) AS mraw FROM m$i),
       |mg$i AS (SELECT *,
       |    sum(CASE WHEN mraw THEN 0 ELSE 1 END)
       |      OVER (PARTITION BY w ORDER BY pos) AS grp FROM mm$i),
       |mf$i AS (SELECT *,
       |    min(CASE WHEN mraw THEN pos END)
       |      OVER (PARTITION BY w, grp) AS fm FROM mg$i),
       |mk$i AS (SELECT *,
       |    (mraw AND (pos - fm) % 2 = 0) AS keep FROM mf$i),
       |mp$i AS (SELECT *,
       |    coalesce(lag(keep) OVER (PARTITION BY w ORDER BY pos), false)
       |      AS pk FROM mk$i),
       |syms$i AS (SELECT w, cnt,
       |    row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
       |    CASE WHEN keep THEN sym || nsym ELSE sym END AS sym
       |  FROM mp$i WHERE NOT pk)""".stripMargin

  val q191BpeTrainSql: String = {
    val iters = (1 to BpeTrainIters)
      .map(i => bpeTrainIterSql(i, if (i == 1) "syms0" else s"syms${i - 1}"))
      .mkString(",\n")
    val out = (1 to BpeTrainIters).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS it, l || r AS pair, total_freq,
         |  n_words, (SELECT CAST(sum(cnt) AS BIGINT) FROM syms$i)
         |    AS corpus_syms_after
         |FROM win$i""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH words AS (
       |  SELECT w, count(*) AS cnt
       |  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 2 GROUP BY w),
       |syms0 AS (SELECT w, cnt, i AS pos, substring(w, i, 1) AS sym
       |  FROM words, UNNEST(range(1, length(w) + 1)) AS t(i)),
       |$iters
       |SELECT * FROM (
       |$out
       |) ORDER BY it""".stripMargin
  }

  // ---------------------------------------------------------------
  // q188: tokenizer vocabulary coverage / OOV-rate census
  // ---------------------------------------------------------------

  private val CoverageVocabK = 256

  /** Vocabulary-coverage report — the third leg of the tokenizer story
    * (q163 counts merges, q184 applies one, this measures how well the
    * resulting vocabulary covers the corpus): the top-[[CoverageVocabK]]
    * words by corpus frequency are the "vocabulary"; every token
    * outside it is out-of-vocabulary, and the per-source census
    * (token mass, OOV mass, OOV ppm, distinct OOV types) is the
    * number that decides whether the vocab ships or retrains.
    *
    * Determinism: the vocabulary cutoff is an integer (count, word)
    * order — a frequency tie at rank [[CoverageVocabK]] resolves by
    * word string identically in both engines; all census arithmetic is
    * exact integers end to end — the ppm is an integer floor division
    * (`oov·10⁶ div n`, both operands non-negative so Spark's
    * truncation and DuckDB's `//` floor agree; rule 13).
    *
    * Scale: word frequencies are one map-side-combinable aggregate;
    * the top-K plans as TakeOrderedAndProject (bounded per-partition
    * heaps); the vocabulary is BROADCAST — justified by construction,
    * |vocab| = [[CoverageVocabK]] at any corpus size (unlike q67's
    * unbounded df relation, which deliberately stays unhinted); the
    * census is one aggregate on the bounded source axis. */
  def q188VocabCoverage(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).filter($"text".isNotNull)
      .select($"source", explode(Text.tokens($"text")).as("w"))
    val vocab = toks.groupBy($"w").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"w").limit(CoverageVocabK)
      .select($"w".as("vw"))
    toks.join(broadcast(vocab), $"w" === $"vw", "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"vw".isNull, 1L).otherwise(0L)).as("oov_tokens"),
        countDistinct(when($"vw".isNull, $"w")).as("oov_types"))
      .select($"source", $"n_tokens", $"oov_tokens", $"oov_types",
        expr("(oov_tokens * 1000000) div n_tokens").as("oov_ppm"))
      .orderBy($"source")
  }

  val q188VocabCoverageSql: String =
    s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
       |              FROM documents WHERE text IS NOT NULL),
       |vocab AS (SELECT w AS vw FROM (
       |    SELECT w, count(*) AS cnt FROM toks GROUP BY w
       |    ORDER BY cnt DESC, w LIMIT $CoverageVocabK)),
       |j AS (SELECT t.source, t.w, v.vw
       |      FROM toks t LEFT JOIN vocab v ON t.w = v.vw)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN vw IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS oov_tokens,
       |  CAST(count(DISTINCT CASE WHEN vw IS NULL THEN w END) AS BIGINT)
       |    AS oov_types,
       |  (CAST(sum(CASE WHEN vw IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000000) // count(*) AS oov_ppm
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q63: per-source corpus report (the "corpus card" rollup)
  // ---------------------------------------------------------------

  /** Per-source corpus accounting — the dataset-card numbers a corpus
    * release ships: document and token counts, exact-duplicate rate,
    * and mean quality per source. Single hash aggregation keyed by
    * source (map-side combinable); the quality mean uses the engine's
    * integer-grid trick (per-doc floor to 1e-4, exact order-independent
    * sums) so the float mean is bit-identical across engines. */
  def q63CorpusReport(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(Text.tokenCount($"text").cast("long")).as("n_tokens"),
        countDistinct(Text.fingerprintMd5($"text")).as("n_distinct"),
        (floor(sum(floor(Text.qualityScore($"text") * 1e4 + 0.5)) /
          count($"text") + 0.5) / 1e4).as("avg_quality"))
      .select($"source", $"n_docs", $"n_tokens", $"n_distinct",
        stableRound(lit(1.0) - $"n_distinct" / $"n_docs", 6).as("dup_rate"),
        $"avg_quality")
      .orderBy($"source")

  val q63CorpusReportSql: String =
    s"""SELECT source, count(*) AS n_docs,
       |  CAST(sum($tcSql) AS BIGINT) AS n_tokens,
       |  count(DISTINCT md5(text)) AS n_distinct,
       |  ${sqlRound("1.0 - count(DISTINCT md5(text)) / count(*)", 6)} AS dup_rate,
       |  floor(sum(floor(($qualitySql) * 1e4 + 0.5)) / count(text) + 0.5) / 1e4
       |    AS avg_quality
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q25: corpus-level dedup summary (exact + normalized)
  // ---------------------------------------------------------------

  def q25DedupSummary(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .agg(
        count(lit(1)).as("n_docs"),
        // distinct over the 32-byte md5, not the full text: same count
        // (md5 collision-free at any realistic corpus), a fraction of
        // the distinct-expand shuffle width
        countDistinct(Text.fingerprintMd5($"text")).as("n_distinct_md5"),
        countDistinct(Text.fingerprintNormalized($"text")).as("n_distinct_norm"),
        countDistinct($"lang").as("n_langs"),
        countDistinct($"source").as("n_sources"))

  val q25DedupSummarySql: String =
    """SELECT count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_distinct_md5,
      |  count(DISTINCT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))) AS n_distinct_norm,
      |  count(DISTINCT lang) AS n_langs,
      |  count(DISTINCT source) AS n_sources
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------
  // q66: blocklist term redaction (PII/unsafe-term scrubbing shape)
  // ---------------------------------------------------------------

  /** Terms to scrub. A production pipeline loads thousands of these
    * (PII patterns, unsafe terms, licensed strings); the mechanism is
    * identical — one compiled alternation applied in a single codegen'd
    * projection, no join, no shuffle. */
  private[graft] val Blocklist = Seq("hash", "key", "value")

  /** Word-boundary alternation — restricted to constructs with
    * identical Java-regex / RE2 semantics so the oracle matches. */
  private val blPattern = "\\b(" + Blocklist.mkString("|") + ")\\b"

  /** Blocklist redaction over the corpus: per-doc match count plus the
    * md5 of the redacted text, so the oracle proves the rewritten
    * string EXACTLY (not just the count). Pure narrow projection —
    * at 100 TB this runs scan-speed with zero exchanges. */
  def q66Redact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select($"doc_id",
        size(regexp_extract_all($"text", lit(blPattern), lit(0)))
          .cast("long").as("n_redacted"),
        md5(regexp_replace($"text", blPattern, "[REDACTED]")).as("redacted_fp"))
      .orderBy($"doc_id")

  val q66RedactSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$blPattern')) AS BIGINT) AS n_redacted,
       |  md5(regexp_replace(text, '$blPattern', '[REDACTED]', 'g')) AS redacted_fp
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q67: per-document top-k TF-IDF terms
  // ---------------------------------------------------------------

  private val TfidfTopK = 3

  /** Top-[[TfidfTopK]] TF-IDF terms per document. Scores are gridded to
    * 1e-6 integers BEFORE ranking so cross-engine FP noise in ln cannot
    * reorder near-ties; the (score_grid, term) ordering is total.
    *
    * Scale shape: tf is one hash aggregate on (doc_id, term); df is a
    * second aggregate of tf on term (vocabulary-sized — AQE broadcasts
    * it when small, shuffles on term when not; no hand-forced broadcast
    * because a 100 TB web corpus's vocabulary is NOT broadcastable);
    * the per-doc top-k runs through the bounded-heap TopKPerKey plan —
    * at most k rows per doc cross the final exchange, never the full
    * posting list. */
  /** The (doc_id, term, tf, df, n_docs) relation behind q67 plus the
    * raw pre-floor grid value `score_y` = tf·ln(n_docs/df)·1e6 + 0.5 —
    * shared by the query (which floors it) and the boundary-hazard
    * guard (which measures its distance to the floor boundary). */
  private def tfidfTerms(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select($"doc_id", explode(Text.tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val nRel = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term").crossJoin(broadcast(nRel))
      .select($"doc_id", $"term", $"tf", $"df",
        ($"tf" * log($"n_docs".cast("double") / $"df") * 1e6 + 0.5)
          .as("score_y"))
  }

  def q67Tfidf(s: SparkSession, d: String): DataFrame = {
    val scored = tfidfTerms(s, d)
      .select($"doc_id", $"term", $"tf", $"df",
        floor($"score_y").cast("long").as("score_grid"))
    graft.plans.TopK.perKey(
        scored, Seq($"doc_id"), Seq($"score_grid".desc, $"term"), TfidfTopK)
      .select($"doc_id", $"term", $"tf", $"df",
        ($"score_grid" / 1e6).as("tfidf"))
      .orderBy($"doc_id", $"tfidf".desc, $"term")
  }

  val q67TfidfSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |              FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY doc_id, term),
       |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |        FROM tf GROUP BY term),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |scored AS (SELECT t.doc_id, t.term, t.tf, f.df,
       |    CAST(floor(t.tf * ln(CAST(n.n_docs AS DOUBLE) / f.df) * 1e6 + 0.5)
       |         AS BIGINT) AS sg
       |  FROM tf t JOIN dfr f USING (term) CROSS JOIN n),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |         ORDER BY sg DESC, term) AS rn FROM scored)
       |SELECT doc_id, term, tf, df, sg / 1e6 AS tfidf
       |FROM rk WHERE rn <= $TfidfTopK
       |ORDER BY doc_id, tfidf DESC, term""".stripMargin

  // ---------------------------------------------------------------
  // q68: per-document token entropy (repetitiveness quality signal)
  // ---------------------------------------------------------------

  /** Shannon entropy (nats) of each document's unigram distribution —
    * low entropy flags boilerplate/spam the same way q61's shingle
    * ratio does, from a different angle. H = ln(n) − (Σ c·ln c)/n;
    * each c·ln c term is gridded to a 1e-6 integer before the sum, so
    * the aggregation is order-independent and bit-identical across
    * engines regardless of partitioning. Two hash aggregates, both
    * map-side combinable. */
  /** Per-(doc, term) token counts — shared by q68 and its hazard guard. */
  private def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select($"doc_id", explode(Text.tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))

  def q68TokenEntropy(s: SparkSession, d: String): DataFrame =
    tokenCounts(s, d)
      .groupBy($"doc_id")
      .agg(
        sum($"c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(floor($"c" * log($"c".cast("double")) * 1e6 + 0.5).cast("long"))
          .as("sgrid"))
      .select($"doc_id", $"n_tokens", $"n_distinct",
        stableRound(
          log($"n_tokens".cast("double")) - ($"sgrid" / 1e6) / $"n_tokens", 6)
          .as("entropy_nats"))
      .orderBy($"doc_id")

  val q68TokenEntropySql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |              FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS c FROM toks
       |       GROUP BY doc_id, term),
       |agg AS (SELECT doc_id,
       |    CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_distinct,
       |    CAST(sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1e6 + 0.5)
       |                  AS BIGINT)) AS BIGINT) AS sgrid
       |  FROM tf GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_distinct,
       |  ${sqlRound("ln(CAST(n_tokens AS DOUBLE)) - (sgrid / 1e6) / n_tokens", 6)}
       |    AS entropy_nats
       |FROM agg ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // ln-grid boundary guard: the q67/q68 transcendental hazard monitor
  // ---------------------------------------------------------------

  /** Distance from `y` to its nearest floor(·) flip point (the
    * integers), and the tolerated margin: 8 ulp of `y` plus a tiny
    * absolute floor for y near 0. */
  private def boundaryDist(y: Column): Column = {
    val f = y - floor(y)
    least(f, lit(1.0) - f)
  }
  private val UlpScale = 8 * math.pow(2, -52)
  private def boundaryMargin(y: Column): Column =
    abs(y) * UlpScale + 1e-12

  /** Cross-engine hazard monitor for the repo's only transcendental
    * oracles (q67 TF-IDF, q68 entropy). Spark's `Math.log` (HotSpot
    * intrinsic) and DuckDB's libm `ln` are each faithful (≤1 ulp) but
    * NOT correctly rounded, so on rare arguments they disagree in the
    * last ulp. The floor(x·1e6 + 0.5) grid absorbs that everywhere
    * EXCEPT when the pre-floor value sits within the disagreement
    * window of an integer flip point — there the two engines can land
    * in different grid cells, changing q67's top-k membership or q68's
    * entropy by one grid unit: a sub-1% mismatch that appears only at
    * the scale factor whose data hits the boundary. Every other oracled
    * query uses only IEEE-exact +,-,*,/,sqrt and has no such window.
    *
    * This returns every gridded ln term (all three rounding sites:
    * q67 scores, q68 c·ln c terms, and q68's final entropy round,
    * which embeds ln n) whose boundary distance is ≤ 8 ulp
    * of the term — the 2-ulp ln disagreement amplified through one
    * multiply chain stays well inside that, while 8 ulp of a typical
    * 1e6-scale term is ~1e-9, so spurious trips are vanishingly rare.
    * Verify runs it per scale factor and FAILS LOUDLY on any row,
    * turning the silent flip into a diagnosed one. */
  def lnBoundaryHazards(s: SparkSession, d: String): DataFrame =
    lnBoundaryTerms(s, d)
      .filter(boundaryDist($"y") <= boundaryMargin($"y"))
      .select($"site", $"key", $"y", boundaryDist($"y").as("dist"),
        boundaryMargin($"y").as("margin"))

  /** Boundary-margin telemetry (VERDICT r5 #8): per rounding site, the
    * MINIMUM observed distance to a floor flip point and its headroom
    * as a multiple of the tolerated 8-ulp margin. The binary hazard
    * guard only fires once a term is INSIDE the margin; this surfaces
    * drift TOWARD it across rounds/scale factors (headroom shrinking
    * toward 1 means the next SF may flip). Verify dumps it per run as
    * `ln_boundary_margin.json` next to the query outputs. */
  def lnBoundaryMargins(s: SparkSession, d: String): DataFrame =
    lnBoundaryTerms(s, d)
      .select($"site", boundaryDist($"y").as("dist"),
        (boundaryDist($"y") / boundaryMargin($"y")).as("headroom"))
      .groupBy($"site")
      .agg(count(lit(1)).as("n_terms"), min($"dist").as("min_dist"),
        min($"headroom").as("min_headroom"))
      .orderBy($"site")

  /** All gridded ln terms across the engine's transcendental rounding
    * sites, pre-filter: (site, key, y) where y is the pre-floor
    * value. Every new ln-grid site MUST register here (README rule
    * 8). */
  private def lnBoundaryTerms(s: SparkSession, d: String): DataFrame = {
    val scoreHaz = tfidfTerms(s, d)
      .select(lit("q67_score").as("site"),
        concat($"doc_id", lit(":"), $"term").as("key"), $"score_y".as("y"))
    val counts = tokenCounts(s, d)
    val termHaz = counts
      .select(lit("q68_term").as("site"),
        concat($"doc_id", lit(":"), $"term").as("key"),
        ($"c" * log($"c".cast("double")) * 1e6 + 0.5).as("y"))
    val entropyHaz = counts
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        sum(floor($"c" * log($"c".cast("double")) * 1e6 + 0.5).cast("long"))
          .as("sgrid"))
      .select(lit("q68_entropy").as("site"), $"doc_id".cast("string").as("key"),
        ((log($"n_tokens".cast("double")) - ($"sgrid" / 1e6) / $"n_tokens")
          * 1e6 + 0.5).as("y"))
    // q102's two grid sites: ln(cf) per distinct term and the single
    // ln(N) — vocabulary-grain, so the guard scan is vocab-sized
    val cfRel = counts.groupBy($"term").agg(sum($"c").as("cf"))
    val cfHaz = cfRel
      .select(lit("q102_cf").as("site"), $"term".as("key"),
        (log($"cf".cast("double")) * 1e6 + 0.5).as("y"))
    val lnNHaz = cfRel.agg(sum($"cf").as("nn"))
      .select(lit("q102_lnN").as("site"), lit("N").as("key"),
        (log($"nn".cast("double")) * 1e6 + 0.5).as("y"))
    // q105's grid site: ln(u) of the md5-derived uniform, one per doc
    val lnuHaz = {
      val u = (conv(substring(md5(concat(lit("ws:"), $"doc_id".cast("string"))),
        1, 8), 16, 10).cast("long") + 0.5) / 4294967296.0
      Tables.documents(s, d)
        .select(lit("q105_lnu").as("site"), $"doc_id".cast("string").as("key"),
          (log(u) * 1e6 + 0.5).as("y"))
    }
    // q166's two grid sites: the per-(doc, bucket) likelihood-ratio
    // term and the per-doc smoothing-denominator constant
    val dsirDb = dsirDocBuckets(s, d)
    val dsirTermHaz = dsirDb
      .join(broadcast(dsirBucketStats(dsirDb)), "b")
      .select(lit("q166_term").as("site"),
        concat($"doc_id", lit(":"), $"b").as("key"),
        ($"c" * (log($"tn".cast("double")) - log($"rn".cast("double")))
          * 1e6 + 0.5).as("y"))
    val dsirConstHaz = dsirDb
      .groupBy($"doc_id").agg(sum($"c").as("n_feat"))
      .crossJoin(broadcast(dsirTotals(dsirDb)))
      .select(lit("q166_const").as("site"), $"doc_id".cast("string").as("key"),
        ($"n_feat" * (log($"rd".cast("double")) - log($"td".cast("double")))
          * 1e6 + 0.5).as("y"))
    // q180's grid site: the per-term Okapi idf — six query terms, so
    // the guard scan is six rows
    val bm25Haz = bm25Terms(s, d)
      .select($"term", $"df", $"n_docs").distinct()
      .select(lit("q180_idf").as("site"), $"term".as("key"),
        (log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) * 1e6 + 0.5)
          .as("y"))
    // q258's four grid sites: the two smoothed-LM numerators per
    // vocab term (cf+1 general, cfi+1 in-domain) and the two 1-row
    // denominators — vocabulary-grain scans, q102's cost shape
    val mlCf = Tables.documents(s, d)
      .select($"lang", explode(Text.tokens($"text")).as("term"))
      .groupBy($"term").agg(
        count(lit(1)).as("cf"),
        sum(when($"lang" === MlInLang, 1L).otherwise(0L)).as("cfi"))
    val mlAgenHaz = mlCf.select(lit("q258_agen").as("site"),
      $"term".as("key"),
      (log(($"cf" + lit(1L)).cast("double")) * 1e6 + 0.5).as("y"))
    val mlAinHaz = mlCf.select(lit("q258_ain").as("site"),
      $"term".as("key"),
      (log(($"cfi" + lit(1L)).cast("double")) * 1e6 + 0.5).as("y"))
    val mlDenHaz = mlCf.agg(sum($"cf").as("n"), sum($"cfi").as("ni"),
        count(lit(1)).as("v"))
      .select(explode(array(
        struct(lit("d_in").as("key"),
          (log(($"ni" + $"v").cast("double")) * 1e6 + 0.5).as("y")),
        struct(lit("d_gen").as("key"),
          (log(($"n" + $"v").cast("double")) * 1e6 + 0.5).as("y")))).as("kv"))
      .select(lit("q258_den").as("site"), $"kv.key".as("key"), $"kv.y".as("y"))
    // q259's three grid sites: ln(2p), ln(2q), ln(p+q) over the
    // source-keyed vocabulary relation (gridded-ppb integer args)
    val jsdTf = Tables.documents(s, d)
      .select($"source", explode(Text.tokens($"text")).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("c"))
    val jsdCt = jsdTf.groupBy($"term").agg(sum($"c").as("ctot"))
    val jsdNs = jsdTf.groupBy($"source").agg(sum($"c").as("n_s"))
    val jsdTot = jsdNs.agg(sum($"n_s").as("n_all"))
    val jsdPairs = jsdTf.join(jsdCt, "term")
      .join(broadcast(jsdNs.crossJoin(broadcast(jsdTot))
        .select($"source", $"n_s", ($"n_all" - $"n_s").as("n_rest"))),
        "source")
      .select($"source", $"term",
        expr(s"(c * $JsdPpb) div n_s").as("pg"),
        when($"n_rest" > 0L, expr(s"((ctot - c) * $JsdPpb) div n_rest"))
          .as("qg"))
    val jsdKey = concat($"source", lit(":"), $"term")
    val jsdP2Haz = jsdPairs.filter($"pg" > 0L)
      .select(lit("q259_p2").as("site"), jsdKey.as("key"),
        (log((lit(2L) * $"pg").cast("double")) * 1e6 + 0.5).as("y"))
    val jsdQ2Haz = jsdPairs.filter($"qg" > 0L)
      .select(lit("q259_q2").as("site"), jsdKey.as("key"),
        (log((lit(2L) * $"qg").cast("double")) * 1e6 + 0.5).as("y"))
    val jsdPqHaz = jsdPairs
      .filter(($"pg" + coalesce($"qg", lit(0L))) > 0L)
      .select(lit("q259_pq").as("site"), jsdKey.as("key"),
        (log(($"pg" + coalesce($"qg", lit(0L))).cast("double")) * 1e6 + 0.5)
          .as("y"))
    // q283's four grid sites: per-(lang, term) smoothed numerator
    // ln(c+1), per-lang denominator ln(cl+V), per-lang prior ln(nl),
    // and the 1-row ln(N) — (langs x vocab)-grain scan at worst
    val nbTrain = Tables.documents(s, d).filter($"doc_id" % 10 < NbTrainMod)
    val nbClt = nbTrain
      .select($"lang", explode(Text.tokens($"text")).as("term"))
      .groupBy($"lang", $"term").agg(count(lit(1)).as("c"))
    val nbLnc1Haz = nbClt.select(lit("q283_lnc1").as("site"),
      concat($"lang", lit(":"), $"term").as("key"),
      (log(($"c" + lit(1L)).cast("double")) * 1e6 + 0.5).as("y"))
    val nbV = nbClt.select($"term").distinct().agg(count(lit(1)).as("v"))
    // lang axis from the per-lang DOC counts (the query's own langs
    // derivation), not nbClt's groupBy: a lang whose training docs
    // tokenize to zero tokens has no (lang, term) row but DOES score
    // via the query's coalesce(cl, 0) + V arm — that ln site must be
    // hazard-checked too (round-12 advice)
    val nbDenHaz = nbTrain.groupBy($"lang").agg(count(lit(1)).as("nd"))
      .join(nbClt.groupBy($"lang").agg(sum($"c").as("cl")),
        Seq("lang"), "left")
      .crossJoin(broadcast(nbV))
      .select(lit("q283_lnden").as("site"), $"lang".as("key"),
        (log((coalesce($"cl", lit(0L)) + $"v").cast("double")) * 1e6 + 0.5)
          .as("y"))
    val nbPriorHaz = nbTrain.groupBy($"lang").agg(count(lit(1)).as("nl"))
      .select(lit("q283_lnprior").as("site"), $"lang".as("key"),
        (log($"nl".cast("double")) * 1e6 + 0.5).as("y"))
    val nbNHaz = nbTrain.agg(count(lit(1)).as("n"))
      .select(lit("q283_lnN").as("site"), lit("N").as("key"),
        (log($"n".cast("double")) * 1e6 + 0.5).as("y"))
    // q286's two grid sites: ln c(s,t) per transition pair and
    // ln c(s) per state — the |types|²-bounded transition grain
    val erEdges = {
      val w = Window.partitionBy($"user_id").orderBy($"tsec", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"event_id", $"event_type",
          $"ts".cast("long").as("tsec"))
        .select($"event_type".as("src"),
          lead($"event_type", 1).over(w).as("dst"))
        .filter($"dst".isNotNull)
        .groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
    }
    val erCtHaz = erEdges.select(lit("q286_lnct").as("site"),
      concat($"src", lit(">"), $"dst").as("key"),
      (log($"n".cast("double")) * 1e6 + 0.5).as("y"))
    val erCsHaz = erEdges.groupBy($"src").agg(sum($"n").as("cs"))
      .select(lit("q286_lncs").as("site"), $"src".as("key"),
        (log($"cs".cast("double")) * 1e6 + 0.5).as("y"))
    scoreHaz.unionAll(termHaz).unionAll(entropyHaz)
      .unionAll(cfHaz).unionAll(lnNHaz).unionAll(lnuHaz)
      .unionAll(dsirTermHaz).unionAll(dsirConstHaz).unionAll(bm25Haz)
      .unionAll(mlAgenHaz).unionAll(mlAinHaz).unionAll(mlDenHaz)
      .unionAll(jsdP2Haz).unionAll(jsdQ2Haz).unionAll(jsdPqHaz)
      .unionAll(nbLnc1Haz).unionAll(nbDenHaz).unionAll(nbPriorHaz)
      .unionAll(nbNHaz).unionAll(erCtHaz).unionAll(erCsHaz)
  }

  // ---------------------------------------------------------------
  // q69: exact quality-quantile binning (histogram method, no global sort)
  // ---------------------------------------------------------------

  private val QualityBins = 10

  /** Exact value-based decile binning of the corpus by quality score,
    * computed the scale-correct way: the quality score lives on a 1e-4
    * grid, so its full distribution is a ≤10⁴-row histogram — aggregate
    * the histogram (one shuffle of ≤10⁴ rows), assign each grid value a
    * decile from the cumulative count, and broadcast the tiny bucket map
    * back onto the corpus. No global row sort, no single-partition
    * window over the data — the window runs over the HISTOGRAM. Equal
    * quality values always land in the same bucket (value-based
    * quantiles), which is what makes the binning deterministic and
    * partition-invariant. The 100 TB contrast: q39/q54 sketch these
    * quantiles approximately in one pass; this is the exact two-pass
    * version a curriculum-ordering pipeline runs when bucket boundaries
    * must be reproducible. */
  def q69QualityBins(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      $"doc_id",
      floor(Text.qualityScore($"text") * 1e4 + 0.5).cast("long").as("qg"),
      Text.tokenCount($"text").cast("long").as("n_tokens"))
    val hist = docs.groupBy($"qg").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy($"qg").rowsBetween(Window.unboundedPreceding, 0)
    val buckets = hist
      .select($"qg", sum($"cnt").over(w).as("cum"),
        sum($"cnt").over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("n"))
      .select($"qg",
        least(floor(($"cum" * 10.0 + $"n" - 1) / $"n"), lit(QualityBins.toDouble))
          .cast("long").as("bucket"))
    docs.join(broadcast(buckets), "qg")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        (min($"qg") / 1e4).as("min_q"), (max($"qg") / 1e4).as("max_q"),
        stableRound(sum($"n_tokens") / count(lit(1)), 4).as("avg_tokens"))
      .orderBy($"bucket")
  }

  val q69QualityBinsSql: String =
    s"""WITH docs AS (SELECT doc_id,
       |    CAST(floor(($qualitySql) * 1e4 + 0.5) AS BIGINT) AS qg,
       |    CAST($tcSql AS BIGINT) AS n_tokens FROM documents),
       |hist AS (SELECT qg, CAST(count(*) AS BIGINT) AS cnt FROM docs
       |         GROUP BY qg),
       |buckets AS (SELECT qg,
       |    CAST(least(floor((sum(cnt) OVER (ORDER BY qg ROWS BETWEEN
       |        UNBOUNDED PRECEDING AND CURRENT ROW) * 10.0
       |        + sum(cnt) OVER () - 1) / sum(cnt) OVER ()),
       |      ${QualityBins}.0) AS BIGINT) AS bucket
       |  FROM hist)
       |SELECT b.bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |  min(d.qg) / 1e4 AS min_q, max(d.qg) / 1e4 AS max_q,
       |  ${sqlRound("CAST(sum(d.n_tokens) AS BIGINT) / count(*)", 4)} AS avg_tokens
       |FROM docs d JOIN buckets b ON d.qg = b.qg
       |GROUP BY b.bucket ORDER BY b.bucket""".stripMargin

  // ---------------------------------------------------------------
  // q72: deterministic per-source quota sampling
  // ---------------------------------------------------------------

  private val QuotaPerSource = 10

  /** Exact-quota stratified sample: the [[QuotaPerSource]] docs per
    * source with the smallest md5-derived sample keys. Membership is a
    * pure function of (doc_id, source) — partition-invariant, stable
    * across runs, and re-runnable incrementally (a new doc displaces at
    * most one old member per source). Runs through the bounded-heap
    * TopKPerKey plan: each partition keeps ≤ quota rows per source
    * before the exchange — no global window sort of the corpus. */
  def q72QuotaSample(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.documents(s, d).select(
      $"doc_id", $"source",
      md5(concat(lit("smp:"), $"doc_id".cast("string"))).as("skey"))
    graft.plans.TopK.perKey(
        keyed, Seq($"source"), Seq($"skey", $"doc_id"), QuotaPerSource)
      .orderBy($"source", $"skey")
  }

  val q72QuotaSampleSql: String =
    s"""WITH keyed AS (SELECT doc_id, source,
       |    md5('smp:' || CAST(doc_id AS VARCHAR)) AS skey FROM documents),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY source
       |         ORDER BY skey, doc_id) AS rn FROM keyed)
       |SELECT doc_id, source, skey FROM rk WHERE rn <= $QuotaPerSource
       |ORDER BY source, skey""".stripMargin

  // ---------------------------------------------------------------
  // q167: exact stratified train/val/test split assignment
  // ---------------------------------------------------------------

  private val TrainPct = 80L
  private val TrainValPct = 90L

  /** Deterministic stratified holdout split — every document gets a
    * train/val/test label with EXACT per-stratum proportions (the
    * property hash-thresholding can't give: a threshold yields
    * binomial-noisy counts, a RANK yields floor(0.8·n)/floor(0.9·n)
    * cuts exactly). Within each source stratum, docs rank by an
    * md5-derived key (its own salt — reusing q72's would correlate
    * sample membership with split membership), so the assignment is a
    * pure function of (doc_id, stratum census): reproducible across
    * runs, partitionings, and engines, and any doc's split is
    * re-derivable without the corpus. All cut arithmetic is integer
    * (`n·80 div 100`).
    *
    * Scale shape: one window exchange keyed by source (the stratum
    * axis), the stratum size via the same partition's unbounded frame
    * — no second pass, no broadcast, nothing driver-side. */
  def q167SplitAssign(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.documents(s, d).select(
      $"doc_id", $"source",
      md5(concat(lit("spl:"), $"doc_id".cast("string"))).as("skey"))
    val w = Window.partitionBy($"source").orderBy($"skey", $"doc_id")
    val wAll = Window.partitionBy($"source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    keyed
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("nsrc", count(lit(1)).over(wAll))
      .select($"doc_id", $"source",
        when($"rn" <= expr(s"nsrc * $TrainPct div 100"), lit("train"))
          .when($"rn" <= expr(s"nsrc * $TrainValPct div 100"), lit("val"))
          .otherwise(lit("test")).as("split"))
      .orderBy($"doc_id")
  }

  val q167SplitAssignSql: String =
    s"""WITH keyed AS (SELECT doc_id, source,
       |    md5('spl:' || CAST(doc_id AS VARCHAR)) AS skey FROM documents),
       |rk AS (SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY skey, doc_id)
       |      AS BIGINT) AS rn,
       |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS nsrc
       |  FROM keyed)
       |SELECT doc_id, source,
       |  CASE WHEN rn <= nsrc * $TrainPct // 100 THEN 'train'
       |       WHEN rn <= nsrc * $TrainValPct // 100 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM rk ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q78: shingle containment (near-superset / quote detection)
  // ---------------------------------------------------------------

  private val ContainThresh = 0.8

  /** Directional containment over the LSH candidate pairs:
    * cont1 = |A∩B| / |A| (how much of doc1 lives inside doc2) and the
    * symmetric cont2 — the signal Jaccard misses when a small document
    * is quoted whole inside a large one (intersection/union stays low
    * while containment hits 1.0). Flags pairs where either direction
    * crosses [[ContainThresh]].
    *
    * Scale shape: reads the STAGED verified-pairs relation (which
    * already carries n_common/n1/n2 from q24's banded candidate
    * generation) — a pure narrow projection on top of the shared dedup
    * pipeline, no recomputation of shingles or buckets. */
  def q78Containment(s: SparkSession, d: String): DataFrame =
    pairsStaged(s, d)
      .select($"d1", $"d2", $"n_common", $"n1", $"n2",
        stableRound($"n_common" / $"n1", 6).as("cont1"),
        stableRound($"n_common" / $"n2", 6).as("cont2"),
        (greatest($"n_common" / $"n1", $"n_common" / $"n2") >= ContainThresh)
          .as("near_superset"))
      .orderBy($"d1", $"d2")

  val q78ContainmentSql: String =
    s"""WITH $shinglesCte,
       |$bandsCte,
       |buckets AS (SELECT band_id, band_key,
       |              list_sort(list(DISTINCT doc_id))[1:$MaxBucket] AS ds
       |            FROM bands GROUP BY band_id, band_key),
       |cands AS (SELECT DISTINCT ds[i] AS d1, ds[j] AS d2
       |          FROM (SELECT ds FROM buckets WHERE len(ds) > 1) b,
       |          UNNEST(range(1, len(ds)+1)) AS t1(i),
       |          UNNEST(range(1, len(ds)+1)) AS t2(j)
       |          WHERE i < j),
       |counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.d1, c.d2, count(*) AS n_common
       |          FROM cands c
       |          JOIN sh s1 ON s1.doc_id = c.d1
       |          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.sh = s1.sh
       |          GROUP BY c.d1, c.d2)
       |SELECT c.d1, c.d2, coalesce(i.n_common, 0) AS n_common,
       |  c1.n AS n1, c2.n AS n2,
       |  ${sqlRound("coalesce(i.n_common, 0) / c1.n", 6)} AS cont1,
       |  ${sqlRound("coalesce(i.n_common, 0) / c2.n", 6)} AS cont2,
       |  greatest(coalesce(i.n_common, 0) / c1.n,
       |           coalesce(i.n_common, 0) / c2.n) >= $ContainThresh
       |    AS near_superset
       |FROM cands c
       |LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
       |JOIN counts c1 ON c1.doc_id = c.d1
       |JOIN counts c2 ON c2.doc_id = c.d2
       |ORDER BY c.d1, c.d2""".stripMargin

  // ---------------------------------------------------------------
  // q74: overlapping-chunk splitting (RAG / context-window prep)
  // ---------------------------------------------------------------

  private val ChunkSize = 32
  private val ChunkOverlap = 8
  private val ChunkStride = ChunkSize - ChunkOverlap

  /** Split every document into [[ChunkSize]]-token chunks overlapping
    * by [[ChunkOverlap]] tokens — the standard RAG-indexing /
    * context-window preparation step. Chunk count is arithmetic on the
    * token count (never a loop); each chunk is proven EXACTLY via the
    * md5 of its re-joined text. A short tail (< stride leftover) folds
    * into the last full chunk's overlap rule: the final chunk may be
    * shorter, never empty, and every token is covered at least once.
    *
    * Scale shape: one Generate (explode of the per-doc chunk-id range)
    * over a narrow projection — output is ~n_tokens/stride rows per
    * doc, no shuffle before the output sort. */
  def q74Chunk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select($"doc_id", Text.tokens($"text").as("toks"))
      .withColumn("n", size($"toks"))
      .withColumn("n_chunks",
        when($"n" <= ChunkSize, lit(1L))
          .otherwise(lit(1L) +
            ceil(($"n" - ChunkSize) / ChunkStride.toDouble).cast("long")))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0L), $"n_chunks" - 1)).as("chunk_id"))
      .select($"doc_id", $"chunk_id",
        slice($"toks", ($"chunk_id" * ChunkStride + 1).cast("int"),
          lit(ChunkSize)).as("chunk"))
      .select($"doc_id", $"chunk_id",
        size($"chunk").cast("long").as("n_chunk_tokens"),
        md5(array_join($"chunk", " ")).as("chunk_fp"))
      .orderBy($"doc_id", $"chunk_id")

  val q74ChunkSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w,
       |    len(string_split(text, ' ')) AS n FROM documents),
       |nc AS (SELECT doc_id, w, n,
       |    CASE WHEN n <= $ChunkSize THEN 1
       |         ELSE 1 + CAST(ceil((n - $ChunkSize) / ${ChunkStride}.0) AS BIGINT)
       |    END AS n_chunks FROM ws),
       |ch AS (SELECT doc_id, ck AS chunk_id,
       |    w[ck * $ChunkStride + 1 : ck * $ChunkStride + $ChunkSize] AS chunk
       |  FROM nc, UNNEST(range(0, n_chunks)) AS t(ck))
       |SELECT doc_id, chunk_id,
       |  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       |  md5(array_to_string(chunk, ' ')) AS chunk_fp
       |FROM ch ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------
  // q86: edit-distance verification of near-dup candidates
  // ---------------------------------------------------------------

  private val EditPrefix = 256

  /** Character-level Levenshtein distance over the STAGED verified-pair
    * relation — the character-grain check beside q24's token-shingle
    * Jaccard (catches intra-token edits shingles are blind to, e.g.
    * OCR noise). Distance runs on the first [[EditPrefix]] chars of
    * each side: the DP is O(|a|·|b|) per pair, so the prefix cap is
    * what keeps per-pair cost constant at 100 TB — uncapped documents
    * would make a single skewed pair a straggler. Both engines compute
    * the same exact integer DP (Spark `levenshtein`, DuckDB
    * `levenshtein`); the similarity ratio is an integer-derived IEEE
    * division. Pair generation is the staged LSH pipeline — this query
    * adds one narrow doc-text join per side (sort-merge on doc id,
    * corpus never broadcast) and per-pair local DP work. */
  def q86EditDistance(s: SparkSession, d: String): DataFrame = {
    val txt = Tables.documents(s, d)
      .select($"doc_id", substring($"text", 1, EditPrefix).as("pfx"))
    val pairs = pairsStaged(s, d).select($"d1", $"d2", $"jaccard")
    pairs
      .join(txt.select($"doc_id".as("d1"), $"pfx".as("t1")).hint("merge"), "d1")
      .join(txt.select($"doc_id".as("d2"), $"pfx".as("t2")).hint("merge"), "d2")
      .select($"d1", $"d2", $"jaccard",
        levenshtein($"t1", $"t2").cast("long").as("edit_dist"),
        greatest(length($"t1"), length($"t2")).cast("long").as("max_len"))
      .select($"d1", $"d2", $"jaccard", $"edit_dist", $"max_len",
        stableRound(lit(1.0) - $"edit_dist" / $"max_len", 6).as("edit_sim"))
      .orderBy($"d1", $"d2")
  }

  val q86EditDistanceSql: String =
    s"""WITH $shinglesCte,
       |$bandsCte,
       |buckets AS (SELECT band_id, band_key,
       |              list_sort(list(DISTINCT doc_id))[1:$MaxBucket] AS ds
       |            FROM bands GROUP BY band_id, band_key),
       |cands AS (SELECT DISTINCT ds[i] AS d1, ds[j] AS d2
       |          FROM (SELECT ds FROM buckets WHERE len(ds) > 1) b,
       |          UNNEST(range(1, len(ds)+1)) AS t1(i),
       |          UNNEST(range(1, len(ds)+1)) AS t2(j)
       |          WHERE i < j),
       |counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.d1, c.d2, count(*) AS n_common
       |          FROM cands c
       |          JOIN sh s1 ON s1.doc_id = c.d1
       |          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.sh = s1.sh
       |          GROUP BY c.d1, c.d2),
       |pj AS (SELECT c.d1, c.d2,
       |    ${sqlRound(
           "coalesce(i.n_common, 0) / (c1.n + c2.n - coalesce(i.n_common, 0))",
           6)} AS jaccard
       |  FROM cands c
       |  LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
       |  JOIN counts c1 ON c1.doc_id = c.d1
       |  JOIN counts c2 ON c2.doc_id = c.d2),
       |txt AS (SELECT doc_id, substring(text, 1, $EditPrefix) AS pfx
       |        FROM documents)
       |SELECT p.d1, p.d2, p.jaccard,
       |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist,
       |  CAST(greatest(length(a.pfx), length(b.pfx)) AS BIGINT) AS max_len,
       |  ${sqlRound(
           "1.0 - levenshtein(a.pfx, b.pfx) / greatest(length(a.pfx), length(b.pfx))",
           6)} AS edit_sim
       |FROM pj p
       |JOIN txt a ON a.doc_id = p.d1
       |JOIN txt b ON b.doc_id = p.d2
       |ORDER BY p.d1, p.d2""".stripMargin

  // ---------------------------------------------------------------
  // q87: markup stripping + link density (web-corpus extraction)
  // ---------------------------------------------------------------

  /** Markup stripping with a built-in PROOF of recovery. The synthetic
    * corpus is plain text, so the query first wraps each document in
    * deterministic markup (a div/p envelope + an anchor around every
    * standalone "the" — the q45-normalizer trick of deriving the messy
    * input from the clean table) and then runs the real extraction the
    * wrapper pipeline needs at 100 TB: strip tags, count links, measure
    * markup overhead (link/boilerplate density is a standard web-corpus
    * quality gate). `recovered_ok` proves strip(mark(text)) == text
    * per row, so the tag regex is oracle-verified end-to-end, not just
    * counted. One narrow codegen'd projection, no shuffle before the
    * output sort. */
  def q87MarkupStrip(s: SparkSession, d: String): DataFrame = {
    val anchored = regexp_replace($"text", lit("\\bthe\\b"),
      concat(lit("<a href=\"/w/"), $"doc_id", lit("\">the</a>")))
    val marked = concat(lit("<div id=\"d"), $"doc_id", lit("\"><p>"),
      anchored, lit("</p></div>"))
    Tables.documents(s, d)
      .select($"doc_id", $"text", marked.as("marked"))
      .select($"doc_id",
        size(regexp_extract_all($"marked", lit("<a [^>]*>"), lit(0)))
          .cast("long").as("n_links"),
        length($"marked").cast("long").as("marked_len"),
        regexp_replace($"marked", "<[^>]*>", "").as("stripped"),
        $"text")
      .select($"doc_id", $"n_links", $"marked_len",
        stableRound(lit(1.0) - length($"stripped") / $"marked_len", 6)
          .as("markup_ratio"),
        md5($"stripped").as("stripped_fp"),
        ($"stripped" === $"text").as("recovered_ok"))
      .orderBy($"doc_id")
  }

  val q87MarkupStripSql: String =
    s"""WITH mk AS (SELECT doc_id, text,
       |    '<div id="d' || doc_id || '"><p>' ||
       |    regexp_replace(text, '\\bthe\\b',
       |      '<a href="/w/' || doc_id || '">the</a>', 'g') ||
       |    '</p></div>' AS marked
       |  FROM documents),
       |st AS (SELECT doc_id, text, marked,
       |    CAST(len(regexp_extract_all(marked, '<a [^>]*>')) AS BIGINT)
       |      AS n_links,
       |    CAST(length(marked) AS BIGINT) AS marked_len,
       |    regexp_replace(marked, '<[^>]*>', '', 'g') AS stripped
       |  FROM mk)
       |SELECT doc_id, n_links, marked_len,
       |  ${sqlRound("1.0 - length(stripped) / marked_len", 6)} AS markup_ratio,
       |  md5(stripped) AS stripped_fp,
       |  stripped = text AS recovered_ok
       |FROM st ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q88: deterministic train/val/test split
  // ---------------------------------------------------------------

  private val SplitTrain = 0.8
  private val SplitVal = 0.9 // train < 0.8 <= val < 0.9 <= test

  /** Three-way train/val/test split as a pure function of the document
    * key (the q55 md5-uniform: first 32 bits of md5 → [0,1)) with
    * per-(split, lang) census — membership is reproducible across
    * engines, partitionings, and reruns, and never needs a shuffle of
    * its own (the census aggregation is the only exchange, bounded by
    * |splits|×|langs|). The split column is exactly what a 100 TB
    * pipeline would partition-write by. */
  /** The 3-way hash-split assignment, factored so q88's census and
    * q266's leakage audit run the IDENTICAL function (one generator,
    * both engines — the q194 shared-template discipline). */
  private def splitCol: Column = {
    val u = conv(substring(md5(concat(lit("split:"),
      $"doc_id".cast("string"))), 1, 8), 16, 10).cast("long") / 4294967296.0
    when(u < SplitTrain, "train").when(u < SplitVal, "val").otherwise("test")
  }
  private def splitSqlExpr: String = {
    val u = "(CAST('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) / 4294967296.0)"
    s"""CASE WHEN $u < $SplitTrain THEN 'train'
       |            WHEN $u < $SplitVal THEN 'val' ELSE 'test' END""".stripMargin
  }

  def q88Split(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(splitCol.as("split"), $"lang", Text.tokenCount($"text").as("tk"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"tk").cast("long").as("n_tokens"))
      .orderBy($"split", $"lang")

  val q88SplitSql: String =
    s"""SELECT $splitSqlExpr AS split,
       |  lang, count(*) AS n_docs, CAST(sum($tcSql) AS BIGINT) AS n_tokens
       |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q266: split-leakage audit — near-dup clusters spanning splits
  // ---------------------------------------------------------------

  /** Cross-split near-duplicate leakage audit — the eval-hygiene
    * check every benchmark-grade corpus needs (the GPT-3 appendix-C
    * lesson, Brown et al. 2020, public: held-out metrics are inflated
    * when test documents have near-duplicates in train): compose the
    * q88 hash-split assignment with the STAGED q50 near-dup clusters
    * and report, per unordered split pair, how many clusters span
    * both sides and how many documents sit on each — a val/test doc
    * inside a train-spanning cluster is a leaked evaluation item.
    * The split function is the SAME generator q88 censuses (one
    * definition, both engines), so the audit can never drift from
    * the split it audits; the clusters are the same staged relation
    * q52's keep-list consumes.
    *
    * Determinism: pure integer counts over exact md5 splits and the
    * oracled cluster relation; pair order fixed by string comparison.
    *
    * Scale: one doc-keyed sort-merge join (split is a scan-level
    * expression, clusters come pre-partitioned from the stage), one
    * (cluster, split) aggregate, and a cluster-keyed self-join whose
    * per-cluster fan-out is at most |splits|² = 9 rows — bounded
    * by construction, then a 3-row census. */
  def q266SplitLeakage(s: SparkSession, d: String): DataFrame =
    splitLeakage(q50DedupClusters(s, d).select($"doc_id", $"canonical_id"),
      Tables.documents(s, d).select($"doc_id", splitCol.as("split")))

  /** The audit layer over any (doc→cluster, doc→split) relations —
    * the spec replays it on crafted clusters; q266 feeds it the live
    * staged clusters and the q88 split. */
  private[graft] def splitLeakage(clusters: DataFrame,
      splits: DataFrame): DataFrame = {
    val mem = clusters.join(splits, Seq("doc_id"))
      .groupBy($"canonical_id", $"split")
      .agg(count(lit(1)).as("n"))
    val a = mem.select($"canonical_id", $"split".as("split_a"), $"n".as("na"))
    val b = mem.select($"canonical_id", $"split".as("split_b"), $"n".as("nb"))
    a.join(b, Seq("canonical_id"))
      .filter($"split_a" < $"split_b")
      .groupBy($"split_a", $"split_b")
      .agg(count(lit(1)).as("n_clusters_spanning"),
        sum($"na").as("n_docs_a"), sum($"nb").as("n_docs_b"))
      .orderBy($"split_a", $"split_b")
  }

  val q266SplitLeakageSql: String =
    s"""WITH RECURSIVE $clusterCtes,
       |sp AS (SELECT doc_id, $splitSqlExpr AS split FROM documents),
       |mem AS (SELECT c.canonical_id, s.split,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM comp c JOIN sp s ON s.doc_id = c.id
       |  GROUP BY 1, 2)
       |SELECT a.split AS split_a, b.split AS split_b,
       |  CAST(count(*) AS BIGINT) AS n_clusters_spanning,
       |  CAST(sum(a.n) AS BIGINT) AS n_docs_a,
       |  CAST(sum(b.n) AS BIGINT) AS n_docs_b
       |FROM mem a JOIN mem b ON a.canonical_id = b.canonical_id
       |  AND a.split < b.split
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // shared word-trigram stream (q262 HLL, q276 count-min)
  // ---------------------------------------------------------------

  /** Per-document word trigrams as (doc_id, source, term) — the shared
    * sketch-calibration grain (the q251 lesson: unigram vocabulary is
    * bounded in the driver corpus, trigram cardinality grows with it,
    * keeping every sketch's interesting branch live at all SFs).
    * One projection + one per-doc window; shuffle key doc_id. */
  private[graft] def docTrigrams(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    Tables.documents(s, d)
      .select($"doc_id", $"source",
        posexplode(split($"text", " ")).as(Seq("pos", "w")))
      .withColumn("w1", lead($"w", 1).over(w))
      .withColumn("w2", lead($"w", 2).over(w))
      .filter($"w2".isNotNull)
      .select($"doc_id", $"source",
        concat_ws(" ", $"w", $"w1", $"w2").as("term"))
  }

  /** DuckDB mirror of [[docTrigrams]] — `ws`/`toks` CTE pair kept
    * verbatim-shared by every consumer so the grains cannot drift. */
  private[graft] val TrigramCteSql: String =
    """ws AS (SELECT doc_id, source, string_split(text, ' ') AS w
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |toks AS (SELECT doc_id, source,
      |    w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS term
      |  FROM ws, UNNEST(range(0, len(w) - 2)) AS t(i))""".stripMargin

  // ---------------------------------------------------------------
  // q262: deterministic HyperLogLog distinct-count sketch
  // ---------------------------------------------------------------

  /** Register count (2^8 buckets — ±6.5% standard error, the classic
    * small-sketch point on the HLL curve). */
  private[graft] val HllM = 256
  /** Power-of-two scaling that keeps Σ 2^(HllExp − M_j) an exact
    * BIGINT: M_j ≤ 33 ⇒ smallest term 2^7; S ≤ 256·2^40 = 2^48 < 2^53
    * so the cast to double before the one IEEE division is exact. */
  private val HllExp = 40
  /** α_m·m²·2^[[HllExp]] as ONE Scala-computed double, spliced as the
    * same decimal literal into both engines (java round-trip string;
    * DuckDB's strtod is correctly rounded) — neither engine ever
    * evaluates a transcendental. */
  private val HllAlphaL: Double =
    0.7213 / (1 + 1.079 / HllM) * HllM * HllM * math.pow(2.0, HllExp)
  /** Linear-counting estimates m·ln(m/zeros), PRE-EVALUATED in Scala
    * per possible zero-register count and spliced as integer literals
    * (the q242 inverse-CDF-table discipline) — the ln never runs in
    * either engine, so there is no boundary hazard to register. */
  private val HllLcTable: Seq[(Int, Long)] = (1 to HllM - 1).map(z =>
    z -> math.floor(HllM * math.log(HllM.toDouble / z) + 0.5).toLong)

  /** ρ(v) = leading-zero count of the 32-bit hash word + 1 — a pure
    * integer CASE cascade generated from one Seq for both engines. */
  private def hllRhoCase(v: String): String =
    (1 to 32).map(r => s"WHEN $v >= ${1L << (32 - r)} THEN $r")
      .mkString("CASE ", " ", " ELSE 33 END")
  /** 2^([[HllExp]] − m) for m in 1..33, as literals (no engine pow). */
  private def hllPowCase(m: String): String =
    (1 to 33).map(k => s"WHEN $m = $k THEN ${1L << (HllExp - k)}")
      .mkString("CASE ", " ", " ELSE 0 END")
  private def hllLcCase(z: String): String =
    HllLcTable.map { case (k, e) => s"WHEN $z = $k THEN $e" }
      .mkString("CASE ", " ", " ELSE 0 END")

  /** HyperLogLog distinct count (Flajolet–Fusy–Gandouet–Meunier 2007,
    * public), DETERMINISTIC and bit-exact across engines — the
    * upgrade over q19's engine-native HLL++ (whose sketch differs per
    * engine, so q19 can only assert an error-bound flag): per source,
    * the estimated vocabulary size beside the exact one. Every step
    * is cross-engine-exact: md5 → 8-bit bucket + 32-bit word; ρ a
    * 32-arm integer CASE; registers an integer max; the register sum
    * Σ 2^(40−M_j) an exact BIGINT; the raw estimate ONE IEEE division
    * of two identical doubles (α_m·m²·2^40 a spliced literal; S <
    * 2^53 so its double cast is exact) then floor; the small-range
    * linear-counting branch (raw ≤ 2.5m, empty registers exist) reads
    * m·ln(m/zeros) from a Scala-precomputed 255-entry literal table —
    * no transcendental ever evaluates in either engine.
    *
    * Scale: the sketch arm never builds the distinct set — max(ρ) is
    * duplicate-insensitive, so it is ONE map-side-combinable
    * aggregate onto the bounded |sources|×256 register axis (at
    * 100 TB this is THE way to count distincts; the exact arm here
    * exists only as the oracle's ground truth and is itself one
    * vocabulary-grain aggregate, the same cost class as q256).
    *
    * Trigram grain (the q251 lesson): the driver corpus's unigram
    * vocabulary is bounded (~31/source — the linear-counting branch
    * would be the only live path), while per-source distinct TRIGRAMS
    * number in the thousands, so the raw-estimate branch is live at
    * every SF; the LC branch is spec-proven on a crafted corpus. */
  def q262HllDistinct(s: SparkSession, d: String): DataFrame =
    hllDistinct(docTrigrams(s, d).select($"source", $"term"))

  private[graft] def hllDistinct(toks: DataFrame): DataFrame = {
    val hv = toks.select($"source", md5($"term").as("h"))
      .select($"source",
        conv(substring($"h", 1, 2), 16, 10).cast("long").as("bucket"),
        conv(substring($"h", 3, 8), 16, 10).cast("long").as("v"))
      .select($"source", $"bucket", expr(hllRhoCase("v")).as("rho"))
    val sketch = hv.groupBy($"source", $"bucket").agg(max($"rho").as("m"))
      .groupBy($"source").agg(
        count(lit(1)).as("n_buckets_hit"),
        sum(expr(hllPowCase("m"))).as("spart"))
      .select($"source", $"n_buckets_hit",
        ($"spart" + (lit(HllM.toLong) - $"n_buckets_hit")
          * lit(1L << HllExp)).as("s"),
        (lit(HllM.toLong) - $"n_buckets_hit").as("zeros"))
      .select($"source", $"n_buckets_hit", $"zeros",
        floor(lit(HllAlphaL) / $"s".cast("double")).cast("long").as("raw"))
      .select($"source", $"n_buckets_hit",
        when($"raw" <= lit(5L * HllM / 2) && $"zeros" > 0L,
          expr(hllLcCase("zeros"))).otherwise($"raw").as("est_hll"))
    val exact = toks.groupBy($"source")
      .agg(countDistinct($"term").as("n_exact"))
    exact.join(sketch, Seq("source"))
      .select($"source", $"n_exact", $"n_buckets_hit", $"est_hll",
        expr("(abs(est_hll - n_exact) * 1000000) div n_exact")
          .as("err_ppm"))
      .orderBy($"source")
  }

  val q262HllDistinctSql: String = {
    // java round-trip literal: DuckDB's strtod parses it to the SAME
    // double the Spark side uses via lit(HllAlphaL)
    val lLit = java.lang.Double.toString(HllAlphaL)
    s"""WITH $TrigramCteSql,
       |hv AS (SELECT source,
       |    CAST('0x' || substring(md5(term), 1, 2) AS BIGINT) AS bucket,
       |    CAST('0x' || substring(md5(term), 3, 8) AS BIGINT) AS v
       |  FROM toks),
       |rh AS (SELECT source, bucket, ${hllRhoCase("v")} AS rho FROM hv),
       |regs AS (SELECT source, bucket, max(rho) AS m
       |  FROM rh GROUP BY 1, 2),
       |sk AS (SELECT source, CAST(count(*) AS BIGINT) AS n_buckets_hit,
       |    CAST(sum(${hllPowCase("m")}) AS BIGINT) AS spart
       |  FROM regs GROUP BY 1),
       |er AS (SELECT source, n_buckets_hit,
       |    $HllM - n_buckets_hit AS zeros,
       |    CAST(floor($lLit / CAST(spart
       |      + ($HllM - n_buckets_hit) * ${1L << HllExp} AS DOUBLE))
       |      AS BIGINT) AS raw
       |  FROM sk),
       |es AS (SELECT source, n_buckets_hit,
       |    CASE WHEN raw <= ${5L * HllM / 2} AND zeros > 0
       |      THEN ${hllLcCase("zeros")} ELSE raw END AS est_hll
       |  FROM er),
       |ex AS (SELECT source, CAST(count(DISTINCT term) AS BIGINT)
       |    AS n_exact FROM toks GROUP BY 1)
       |SELECT x.source, x.n_exact, e.n_buckets_hit, e.est_hll,
       |  (abs(e.est_hll - x.n_exact) * 1000000) // x.n_exact AS err_ppm
       |FROM ex x JOIN es e USING (source)
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------
  // q276: deterministic count-min sketch frequency calibration
  // ---------------------------------------------------------------

  /** Count-min depth — independent hash rows, each a disjoint 8-hex-char
    * (32-bit) slice of ONE md5 per term: slices of a single digest are
    * the engine's cross-engine-exact stand-in for an independent hash
    * family (the q262 bucket/word split, widened to 4 slices). */
  private[graft] val CmsD = 4
  /** Count-min width (buckets per row). 512 keeps the sketch at
    * [[CmsD]]·512 = 2048 cells — bounded forever — while the driver
    * corpus's thousands of distinct trigrams guarantee live collisions
    * (nonzero overestimates) at every SF. */
  private[graft] val CmsW = 512
  /** Heavy keys probed: the exact top-[[CmsTopK]] terms. */
  private[graft] val CmsTopK = 20

  /** Bucket of hash row j: md5 hex chars [8j−7, 8j−1+1) as a 32-bit
    * integer, mod [[CmsW]] — generated from the same constants for
    * both engines. */
  private def cmsBucketCol(j: Int): Column =
    pmod(conv(substring(md5($"term"), 8 * j - 7, 8), 16, 10).cast("long"),
      lit(CmsW.toLong))
  private def cmsBucketSql(col: String, j: Int): String =
    s"CAST('0x' || substring(md5($col), ${8 * j - 7}, 8) AS BIGINT) % $CmsW"

  /** stack() generator unpivoting b1..b[[CmsD]] to (hrow, bucket). */
  private def cmsStackExpr: String =
    (1 to CmsD).map(j => s"$j, b$j")
      .mkString(s"stack($CmsD, ", ", ", ") as (hrow, bucket)")

  /** Count-min sketch (Cormode–Muthukrishnan 2005, public) frequency
    * calibration, DETERMINISTIC and bit-exact across engines: build a
    * [[CmsD]]×[[CmsW]] sketch over the trigram occurrence stream, then
    * for the exact top-[[CmsTopK]] terms report the sketch estimate
    * (min over rows of the probed cell) beside the exact count and the
    * signed overestimate in ppm. The CMS one-sided guarantee —
    * estimate ≥ exact, always — is asserted by the spec's independent
    * replay and visible in the oracle rows (`over_ppm ≥ 0`).
    *
    * Scale: the sketch build never aggregates at term grain — each
    * occurrence maps onto the bounded (hrow, bucket) axis, ONE
    * map-side-combinable count onto ≤2048 keys (at 100 TB this is THE
    * bounded-memory frequency sketch; the exact arm exists only as the
    * oracle's ground truth, one vocabulary-grain aggregate, the q262
    * cost class). Top-k is a TakeOrdered (no global sort materialized);
    * the probe join is a broadcast of ≤[[CmsTopK]]·[[CmsD]] rows. */
  private[graft] def countMinCalibrate(occ: DataFrame): DataFrame = {
    val hashed = occ.select(($"term" +:
      (1 to CmsD).map(j => cmsBucketCol(j).as(s"b$j"))): _*)
    val cells = hashed.select(expr(cmsStackExpr))
      .groupBy($"hrow", $"bucket").agg(count(lit(1)).as("cell"))
    val top = hashed
      .groupBy(($"term" +: (1 to CmsD).map(j => col(s"b$j"))): _*)
      .agg(count(lit(1)).as("n_exact"))
      .orderBy($"n_exact".desc, $"term").limit(CmsTopK)
    val probes = top.select($"term", $"n_exact", expr(cmsStackExpr))
    cells.join(broadcast(probes), Seq("hrow", "bucket"))
      .groupBy($"term", $"n_exact").agg(min($"cell").as("est_cms"))
      .select($"term", $"n_exact", $"est_cms",
        expr("((est_cms - n_exact) * 1000000) div n_exact").as("over_ppm"))
      .orderBy($"n_exact".desc, $"term")
  }

  def q276CountMin(s: SparkSession, d: String): DataFrame =
    countMinCalibrate(docTrigrams(s, d).select($"term"))

  val q276CountMinSql: String = {
    val rowsVals = (1 to CmsD).map(j => s"($j)").mkString(", ")
    def caseB(col: String): String =
      (1 to CmsD).map(j => s"WHEN r.hrow = $j THEN ${cmsBucketSql(col, j)}")
        .mkString("CASE ", " ", " END")
    s"""WITH $TrigramCteSql,
       |hrows AS (SELECT * FROM (VALUES $rowsVals) AS r(hrow)),
       |cells AS (SELECT r.hrow, ${caseB("term")} AS bucket,
       |    CAST(count(*) AS BIGINT) AS cell
       |  FROM toks, hrows r GROUP BY 1, 2),
       |ex AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM toks GROUP BY 1 ORDER BY n_exact DESC, term LIMIT $CmsTopK),
       |probes AS (SELECT e.term, e.n_exact, r.hrow,
       |    ${caseB("e.term")} AS bucket
       |  FROM ex e, hrows r),
       |est AS (SELECT p.term, p.n_exact,
       |    CAST(min(c.cell) AS BIGINT) AS est_cms
       |  FROM probes p JOIN cells c
       |    ON c.hrow = p.hrow AND c.bucket = p.bucket
       |  GROUP BY 1, 2)
       |SELECT term, n_exact, est_cms,
       |  ((est_cms - n_exact) * 1000000) // n_exact AS over_ppm
       |FROM est ORDER BY n_exact DESC, term""".stripMargin
  }

  /** MW margin D (nano-nats of per-token surprisal — the q173 grid
    * is micro-nats × the ·1000 mean scaling): the update factor is
    * D + excess, i.e. the LINEARIZED multiplicative-weights rule with
    * η = 1/D — exact rational arithmetic where the exponentiated rule
    * would drag a cross-engine exp() hazard into the oracle. The live
    * per-source excess spread is ±4.4e6 nano-nats across SFs, so
    * D = 2e7 leaves ~4.5× headroom while keeping the reweighting
    * visibly non-uniform (±22%% weight swing). |excess| < D is
    * raise_error-guarded (a source that extreme needs a wider margin,
    * not a silent negative weight). */
  private[graft] val MwMargin = 20000000L

  /** One domain-reweighting step over per-source excess LM loss — the
    * mixture-update read of DoReMi (Xie et al. 2023, public), with
    * the exponentiated-gradient update replaced by its linearization
    * (multiplicative weights, Freund–Schapire 1997): starting from
    * uniform domain weights, upweight each source proportionally to
    * D + (its mean token surprisal − the corpus mean) — domains the
    * reference LM models WORST gain weight, the worst-case-loss
    * optimization DoReMi runs iteratively. Surprisal is q102/q173's
    * integer micro-nat unigram-LM grid (the grid sites are the SAME
    * ln(cf)/ln(N) values q102 registers in [[lnBoundaryHazards]] —
    * the battery already covers them); the per-source mean is q173's
    * identical-IEEE floor(·1000/n) milli-nat expression at source
    * grain; excess, factors, and the final ppm weights are exact
    * integer arithmetic (rule 13).
    *
    * Scale: one corpus scan to the (source, term) tf aggregate, the
    * tf-vocab join NOT hand-broadcast (q67 df discipline), a
    * |sources|-row reduction, and two 1-row broadcasts (ln N; the
    * corpus mean + factor normalizer) — no pairwise work, no sort. */
  def q263DomainReweight(s: SparkSession, d: String): DataFrame =
    domainReweight(Tables.documents(s, d)
      .select($"source", explode(Text.tokens($"text")).as("term")))

  private[graft] def domainReweight(toks: DataFrame): DataFrame = {
    val tf = toks.groupBy($"source", $"term").agg(count(lit(1)).as("c"))
    val cf = tf.groupBy($"term").agg(sum($"c").as("cf"))
    val lnN = cf.agg(sum($"cf").as("nn"))
      .select(floor(log($"nn".cast("double")) * 1e6 + 0.5).cast("long")
        .as("ln_n_grid"))
    val g = cf.select($"term",
      floor(log($"cf".cast("double")) * 1e6 + 0.5).cast("long")
        .as("ln_cf_grid"))
    val perSrc = tf.join(g, "term")
      .groupBy($"source")
      .agg(sum($"c").as("n_tokens"), sum($"c" * $"ln_cf_grid").as("slncf"))
      .crossJoin(broadcast(lnN))
      .select($"source", $"n_tokens",
        floor(($"n_tokens" * $"ln_n_grid" - $"slncf") * lit(1000.0)
          / $"n_tokens").cast("long").as("msurp"))
    // corpus mean from the SAME per-source sums (the q253 subtraction
    // algebra): one K-row aggregate carries the mean, the source
    // count, and the factor normalizer Σ(D + msurp_i − mean)
    val tot = perSrc
      .agg(sum($"n_tokens").as("nn"), sum($"msurp").as("sm"),
        count(lit(1)).as("k"),
        sum($"n_tokens" * $"msurp").as("wsum"))
      .select($"k", $"sm", expr("wsum div nn").as("mean_all"))
      .select($"k", $"mean_all",
        ($"k" * lit(MwMargin) + $"sm" - $"k" * $"mean_all").as("fsum"))
    perSrc.crossJoin(broadcast(tot))
      .select($"source", $"n_tokens", $"msurp",
        ($"msurp" - $"mean_all").as("excess"), $"k", $"fsum")
      .select($"source", $"n_tokens", $"msurp".as("msurp_nano"),
        when(abs($"excess") >= lit(MwMargin), raise_error(concat(
          lit(s"q263: |excess| exceeds the MW margin $MwMargin at "),
          $"source"))).otherwise($"excess").as("excess_nano"),
        expr("1000000 div k").as("w_before_ppm"),
        expr(s"(($MwMargin + excess) * 1000000) div fsum").as("w_after_ppm"))
      .withColumn("delta_ppm", $"w_after_ppm" - $"w_before_ppm")
      .orderBy($"source")
  }

  val q263DomainReweightSql: String =
    s"""WITH toks AS (SELECT source, unnest(string_split(text, ' '))
       |    AS term FROM documents),
       |tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
       |  FROM toks GROUP BY 1, 2),
       |cf AS (SELECT term, CAST(sum(c) AS BIGINT) AS cf
       |  FROM tf GROUP BY term),
       |lnn AS (SELECT CAST(floor(ln(CAST(sum(cf) AS DOUBLE)) * 1e6 + 0.5)
       |    AS BIGINT) AS ln_n_grid FROM cf),
       |g AS (SELECT term, CAST(floor(ln(CAST(cf AS DOUBLE)) * 1e6 + 0.5)
       |    AS BIGINT) AS ln_cf_grid FROM cf),
       |ps AS (SELECT t.source, CAST(sum(t.c) AS BIGINT) AS n_tokens,
       |    CAST(sum(t.c * g.ln_cf_grid) AS BIGINT) AS slncf
       |  FROM tf t JOIN g USING (term) GROUP BY 1),
       |ms AS (SELECT source, n_tokens,
       |    CAST(floor((n_tokens * l.ln_n_grid - slncf) * 1000.0
       |      / n_tokens) AS BIGINT) AS msurp
       |  FROM ps, lnn l),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(msurp) AS BIGINT) AS sm,
       |    CAST(sum(n_tokens * msurp) AS BIGINT)
       |      // CAST(sum(n_tokens) AS BIGINT) AS mean_all
       |  FROM ms),
       |tf2 AS (SELECT k, mean_all,
       |    k * $MwMargin + sm - k * mean_all AS fsum FROM tot)
       |SELECT m.source, m.n_tokens, m.msurp AS msurp_nano,
       |  m.msurp - t.mean_all AS excess_nano,
       |  1000000 // t.k AS w_before_ppm,
       |  (($MwMargin + m.msurp - t.mean_all) * 1000000) // t.fsum
       |    AS w_after_ppm,
       |  (($MwMargin + m.msurp - t.mean_all) * 1000000) // t.fsum
       |    - 1000000 // t.k AS delta_ppm
       |FROM ms m, tf2 t
       |ORDER BY m.source""".stripMargin

  // ---------------------------------------------------------------
  // q89: count-min sketch of term frequencies
  // ---------------------------------------------------------------

  private val CmDepth = 4
  private val CmWidth = 1024
  private val CmTopK = 20

  /** Count-min sketch beside ground truth: [[CmDepth]] md5-derived hash
    * rows × [[CmWidth]] buckets summarize the FULL term-frequency
    * distribution in a fixed 4096-cell table — the bounded-memory
    * frequency oracle for vocabularies too big to materialize (the HLL/
    * KLL companion for point frequency queries). Estimates for the
    * exact top-[[CmTopK]] terms come back by joining their buckets and
    * taking the min over rows; `overest_ok` asserts the sketch's
    * one-sided error guarantee (est ≥ exact, always). Everything is
    * integer arithmetic on md5-derived buckets — deterministic in both
    * engines. Scale shape: one token aggregation (vocabulary-sized,
    * AQE-planned), one bounded 4096-group aggregation, one broadcast
    * join of a 20-row relation; the raw stream is touched once. */
  def q89CountMin(s: SparkSession, d: String): DataFrame = {
    val terms = Tables.documents(s, d)
      .select(explode(Text.tokens($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("c"))
    def bucket(j: Int): Column =
      pmod(conv(substring(md5(concat(lit(s"cm:$j:"), $"term")), 1, 8), 16, 10)
        .cast("long"), lit(CmWidth))
    // ONE derivation of the vocabulary feeds both the sketch and the
    // ground-truth probes (a per-row union / per-j filtered join would
    // re-run the corpus aggregation 4+ times): each term explodes into
    // its CmDepth (row, bucket) cells, the sketch aggregates those into
    // ≤ CmDepth×CmWidth cells, and the 20 probe terms join the sketch
    // ONCE on (j, bucket) before a min-reduce over rows.
    val cells = terms.select($"term", $"c",
        posexplode(array((0 until CmDepth).map(bucket): _*))
          .as(Seq("j", "bucket")))
    val sketch = cells.groupBy($"j", $"bucket").agg(sum($"c").as("cell"))
    // global top-k: orderBy.limit → TakeOrderedAndProject (per-partition
    // heaps, no global sort — the q62 idiom)
    val top = terms.orderBy($"c".desc, $"term").limit(CmTopK)
    val probes = top.select($"term", $"c",
      posexplode(array((0 until CmDepth).map(bucket): _*))
        .as(Seq("j", "bucket")))
    probes.join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy($"term")
      .agg(max($"c").as("exact"), min($"cell").as("estimate"))
      .select($"term", $"exact", $"estimate",
        ($"estimate" >= $"exact").as("overest_ok"))
      .orderBy($"exact".desc, $"term")
  }

  val q89CountMinSql: String = {
    def bucketSql(j: Int, t: String): String =
      s"(CAST('0x' || substring(md5('cm:$j:' || $t), 1, 8) AS BIGINT) % $CmWidth)"
    val rowsSql = (0 until CmDepth).map(j =>
      s"SELECT $j AS j, ${bucketSql(j, "term")} AS bucket, c FROM terms")
      .mkString(" UNION ALL ")
    val estSql = (0 until CmDepth).map(j =>
      s"(SELECT cell FROM sketch s WHERE s.j = $j AND s.bucket = ${bucketSql(j, "t.term")})")
      .mkString("least(", ", ", ")")
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
       |              FROM documents),
       |terms AS (SELECT term, CAST(count(*) AS BIGINT) AS c
       |          FROM toks GROUP BY term),
       |cmrows AS ($rowsSql),
       |sketch AS (SELECT j, bucket, CAST(sum(c) AS BIGINT) AS cell
       |           FROM cmrows GROUP BY j, bucket),
       |top AS (SELECT term, c FROM terms
       |        ORDER BY c DESC, term LIMIT $CmTopK)
       |SELECT t.term, t.c AS exact, $estSql AS estimate,
       |  $estSql >= t.c AS overest_ok
       |FROM top t ORDER BY exact DESC, term""".stripMargin
  }

  // ---------------------------------------------------------------
  // q92: source-overlap matrix via bottom-k minhash sketches
  // ---------------------------------------------------------------

  private val SketchK = 64

  /** Pairwise dataset-overlap estimation — "how much of source A is
    * also in source B" across the whole corpus, the question behind
    * cross-dataset contamination audits. Each source is summarized by
    * its [[SketchK]] smallest distinct shingle hashes (a bottom-k
    * minhash sketch, built with the bounded-heap TopKPerKey — at most k
    * rows per source cross the exchange, never a source's shingle set);
    * the pairwise estimate Ĵ = |bottom-k(A∪B) ∩ A ∩ B| / k then runs
    * entirely on the |sources|²·k sketch relation — the corpus itself
    * is read exactly once regardless of how many source pairs exist.
    * All arithmetic is integer/md5 — bit-identical across engines. */
  def q92SourceOverlap(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val hashes = shingleRows(docs)
      // fresh scan for the source lookup — same table, separate plan
      // subtree (no self-join attribute ambiguity)
      .join(Tables.documents(s, d).select($"doc_id", $"source"), "doc_id")
      .select($"source",
        conv(substring(md5($"sh"), 1, 12), 16, 10).cast("long").as("h"))
      .distinct()
    val sketch = graft.plans.TopK.perKey(
        hashes, Seq($"source"), Seq($"h"), SketchK)
      .groupBy($"source").agg(array_sort(collect_list($"h")).as("sk"))
    // broadcast the right sketch copy: |sources|×k rows — the pairwise
    // expansion is over the bounded source catalog, never the corpus
    // (BroadcastNestedLoopJoin, not a partitioned CartesianProduct)
    val pairs = sketch.select($"source".as("s1"), $"sk".as("k1"))
      .crossJoin(broadcast(
        sketch.select($"source".as("s2"), $"sk".as("k2"))))
      .filter($"s1" < $"s2")
    pairs
      .select($"s1", $"s2",
        slice(array_sort(array_union($"k1", $"k2")), 1, SketchK).as("merged"),
        $"k1", $"k2")
      .select($"s1", $"s2",
        size(array_intersect(array_intersect($"merged", $"k1"), $"k2"))
          .cast("long").as("n_shared"))
      .select($"s1", $"s2", $"n_shared",
        stableRound($"n_shared" / SketchK.toDouble, 6).as("est_jaccard"))
      .orderBy($"s1", $"s2")
  }

  val q92SourceOverlapSql: String =
    s"""WITH $shinglesCte,
       |hs AS (SELECT DISTINCT d.source,
       |    CAST('0x' || substring(md5(s.sh), 1, 12) AS BIGINT) AS h
       |  FROM sh s JOIN documents d USING (doc_id)),
       |rk AS (SELECT source, h, row_number() OVER (PARTITION BY source
       |         ORDER BY h) AS rn FROM hs),
       |sk AS (SELECT source, list_sort(list(h)) AS sk FROM rk
       |       WHERE rn <= $SketchK GROUP BY source),
       |pr AS (SELECT a.source AS s1, a.sk AS k1, b.source AS s2, b.sk AS k2
       |       FROM sk a, sk b WHERE a.source < b.source),
       |mg AS (SELECT s1, s2, k1, k2,
       |    list_sort(list_distinct(list_concat(k1, k2)))[1:$SketchK] AS merged
       |  FROM pr)
       |SELECT s1, s2,
       |  CAST(len(list_intersect(list_intersect(merged, k1), k2)) AS BIGINT)
       |    AS n_shared,
       |  ${sqlRound(s"len(list_intersect(list_intersect(merged, k1), k2)) / ${SketchK}.0", 6)}
       |    AS est_jaccard
       |FROM mg ORDER BY s1, s2""".stripMargin

  // ---------------------------------------------------------------
  // q93: per-document novelty (first-occurrence shingle fraction)
  // ---------------------------------------------------------------

  /** Novelty = the fraction of a document's distinct shingles it is the
    * FIRST (lowest doc id) to contribute to the corpus — the
    * contribution-ordering view of duplication: later copies of shared
    * text score low while the canonical first copy keeps scoring high
    * (complementary to q61's intra-doc repetition and q50's cluster
    * decision). Shape: one min-aggregation on the shingle key plus one
    * shuffle join back on the same key — both bounded per shingle, no
    * per-shingle doc-list is ever collected (a common shingle appears
    * in billions of documents at 100 TB; `collect_list` per shingle
    * would be an unbounded buffer, the join is not). */
  def q93Novelty(s: SparkSession, d: String): DataFrame = {
    val shd = shingleRows(Tables.documents(s, d)).distinct()
    val firsts = shd.groupBy($"sh").agg(min($"doc_id").as("first_doc"))
    // merge hint: firsts is SHINGLE-keyed — corpus-sized at 100 TB, the
    // one relation that must never be broadcast (AQE would happily
    // broadcast it at test SF and OOM at scale — the q24-docsets class
    // of hazard). Both sides arrive hash-partitioned by sh from their
    // own aggregations, so the merge join adds no exchange.
    shd.join(firsts.hint("merge"), "sh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .select($"doc_id", $"n_shingles", $"n_novel",
        stableRound($"n_novel" / $"n_shingles", 6).as("novelty"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------
  // q97: token-weighted quality quantiles (curation cutoffs)
  // ---------------------------------------------------------------

  /** Token-weighted quality quantiles per language: the quality value
    * at which the TOKEN-weighted CDF crosses 50% / 90% — the cutoff a
    * curation pipeline actually needs ("keep the best X% of TOKENS",
    * not of documents: one long high-quality document outweighs many
    * snippets). Same exact-histogram algorithm as q69/q85 generalized
    * to weighted order statistics: quality lives on the 1e-4 grid, the
    * (lang, grid) histogram aggregates token weights, and the cutoff is
    * the smallest grid value whose running weight reaches the target —
    * deterministic integer arithmetic end to end, never a corpus sort.
    */
  def q97WeightedQuality(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      $"lang",
      floor(Text.qualityScore($"text") * 1e4 + 0.5).cast("long").as("qg"),
      Text.tokenCount($"text").cast("long").as("tk"))
    val hist = docs.groupBy($"lang", $"qg").agg(sum($"tk").as("w"))
    val byLang = Window.partitionBy($"lang")
    val scored = hist.select($"lang", $"qg", $"w",
      sum($"w").over(byLang.orderBy($"qg")).as("cum"),
      sum($"w").over(byLang).as("wtot"))
    // p-th weighted quantile = smallest qg with cum*100 >= p*wtot
    scored.groupBy($"lang")
      .agg(max($"wtot").as("total_tokens"),
        (min(when($"cum" * 100 >= $"wtot" * 50, $"qg")) / 1e4).as("q50"),
        (min(when($"cum" * 100 >= $"wtot" * 90, $"qg")) / 1e4).as("q90"))
      .orderBy($"lang")
  }

  val q97WeightedQualitySql: String =
    s"""WITH docs AS (SELECT lang,
       |    CAST(floor(($qualitySql) * 1e4 + 0.5) AS BIGINT) AS qg,
       |    CAST($tcSql AS BIGINT) AS tk FROM documents),
       |hist AS (SELECT lang, qg, CAST(sum(tk) AS BIGINT) AS w
       |         FROM docs GROUP BY lang, qg),
       |scored AS (SELECT lang, qg, w,
       |    CAST(sum(w) OVER (PARTITION BY lang ORDER BY qg) AS BIGINT) AS cum,
       |    CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT) AS wtot
       |  FROM hist)
       |SELECT lang, CAST(max(wtot) AS BIGINT) AS total_tokens,
       |  min(CASE WHEN cum * 100 >= 50 * wtot THEN qg END) / 1e4 AS q50,
       |  min(CASE WHEN cum * 100 >= 90 * wtot THEN qg END) / 1e4 AS q90
       |FROM scored GROUP BY lang ORDER BY lang""".stripMargin

  val q93NoveltySql: String =
    s"""WITH $shinglesCte,
       |firsts AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh),
       |agg AS (SELECT s.doc_id, count(*) AS n_shingles,
       |    CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_novel
       |  FROM sh s JOIN firsts f USING (sh) GROUP BY s.doc_id)
       |SELECT doc_id, n_shingles, n_novel,
       |  ${sqlRound("n_novel / n_shingles", 6)} AS novelty
       |FROM agg ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q99: segment-level exact dedup (C4-style span removal)
  // ---------------------------------------------------------------

  private val SegLen = 8
  /** Unique occurrence key: doc_id·10⁵ + seg_idx. Valid while every
    * document has < 10⁵ segments (800k tokens here — far above any
    * corpus doc); the q50 clusters use the same doc_id-arithmetic
    * trick. */
  private val SegIdxSpan = 100000L

  /** Segment-grain exact deduplication — the C4/RefinedWeb "repeated
    * span removal" pass, one grain finer than q22's whole-doc dedup:
    * split each document into non-overlapping [[SegLen]]-token
    * segments, keep only the globally-FIRST occurrence of each
    * distinct segment (total order = (doc_id, seg_idx), encoded as one
    * integer key so min() resolves the winner in a single aggregation),
    * and report the per-document kept/dropped token census a trimming
    * pass would apply. Boilerplate (headers, footers, licence blocks)
    * repeats across billions of pages at 100 TB; dedup at DOCUMENT
    * grain never sees it. Shape: ONE Generate per doc → min window over
    * the segment fingerprint (one exchange on fp; beats the agg+join
    * alternative, which explodes the corpus twice and adds a
    * sort-merge join) → per-doc aggregate. */
  def q99SegmentDedup(s: SparkSession, d: String): DataFrame = {
    val occ = Tables.documents(s, d)
      .select($"doc_id", Text.tokens($"text").as("toks"))
      .withColumn("n", size($"toks"))
      .filter($"n" > 0)
      .select($"doc_id", $"toks",
        explode(sequence(lit(0L),
          ceil($"n" / SegLen.toDouble).cast("long") - 1)).as("seg_idx"))
      .select($"doc_id", $"seg_idx",
        slice($"toks", ($"seg_idx" * SegLen + 1).cast("int"), lit(SegLen))
          .as("seg"))
      .select($"doc_id", $"seg_idx",
        size($"seg").cast("long").as("seg_len"),
        md5(array_join($"seg", " ")).as("fp"),
        ($"doc_id" * SegIdxSpan + $"seg_idx").as("okey"))
    occ
      .withColumn("wkey", min($"okey").over(Window.partitionBy($"fp")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when($"okey" === $"wkey", 1L).otherwise(0L)).as("n_kept"),
        sum($"seg_len").as("n_tokens"),
        sum(when($"okey" === $"wkey", $"seg_len").otherwise(0L))
          .as("kept_tokens"))
      .select($"doc_id", $"n_segs", $"n_kept", $"n_tokens", $"kept_tokens",
        stableRound($"kept_tokens" / $"n_tokens", 6).as("kept_ratio"))
      .orderBy($"doc_id")
  }

  val q99SegmentDedupSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w,
       |    len(string_split(text, ' ')) AS n FROM documents
       |  WHERE len(string_split(text, ' ')) > 0),
       |segs AS (SELECT doc_id, sg AS seg_idx,
       |    w[sg * $SegLen + 1 : sg * $SegLen + $SegLen] AS seg
       |  FROM ws, UNNEST(range(0, CAST(ceil(n / ${SegLen}.0) AS BIGINT)))
       |    AS t(sg)),
       |occ AS (SELECT doc_id, seg_idx, CAST(len(seg) AS BIGINT) AS seg_len,
       |    md5(array_to_string(seg, ' ')) AS fp,
       |    doc_id * $SegIdxSpan + seg_idx AS okey FROM segs),
       |wocc AS (SELECT doc_id, seg_len, okey,
       |    min(okey) OVER (PARTITION BY fp) AS wkey FROM occ),
       |agg AS (SELECT doc_id, count(*) AS n_segs,
       |    CAST(sum(CASE WHEN okey = wkey THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_kept,
       |    CAST(sum(seg_len) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN okey = wkey THEN seg_len ELSE 0 END)
       |      AS BIGINT) AS kept_tokens
       |  FROM wocc GROUP BY doc_id)
       |SELECT doc_id, n_segs, n_kept, n_tokens, kept_tokens,
       |  ${sqlRound("kept_tokens / n_tokens", 6)} AS kept_ratio
       |FROM agg ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q102: unigram-LM surprisal scoring (perplexity-filter shape)
  // ---------------------------------------------------------------

  /** Corpus-unigram-LM quality scoring — the CCNet/Gopher
    * "perplexity filter" shape with the LM reduced to the corpus's own
    * unigram distribution (no external model ships with the engine):
    * each document scores its mean token surprisal −⟨ln p(t)⟩ =
    * ln N − ⟨ln cf(t)⟩ in nats; outlier-high docs are gibberish/noise,
    * outlier-low docs are boilerplate. Transcendental discipline
    * (README rule 8): every ln is gridded to integer micro-nats AT THE
    * VOCABULARY GRAIN — per distinct term, not per token — so the
    * per-doc sums are exact integer arithmetic and order-independent;
    * both grid sites are registered in [[lnBoundaryHazards]]. Scale
    * shape: term frequencies aggregate from the per-doc tf relation
    * (two map-side-combinable hash aggs), the tf⋈cf join is
    * vocabulary-keyed and NOT hand-broadcast (a web-corpus vocabulary
    * isn't broadcastable — q67's df discipline; AQE decides locally),
    * and ln N joins as a 1-row broadcast. */
  def q102UnigramLm(s: SparkSession, d: String): DataFrame = {
    val tf = tokenCounts(s, d)
    val cf = tf.groupBy($"term").agg(sum($"c").as("cf"))
    val lnN = cf.agg(sum($"cf").as("nn"))
      .select(floor(log($"nn".cast("double")) * 1e6 + 0.5).cast("long")
        .as("ln_n_grid"))
    val g = cf.select($"term",
      floor(log($"cf".cast("double")) * 1e6 + 0.5).cast("long")
        .as("ln_cf_grid"))
    tf.join(g, "term")
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        sum($"c" * $"ln_cf_grid").as("sum_lncf"))
      .crossJoin(broadcast(lnN))
      .select($"doc_id", $"n_tokens",
        stableRound((($"n_tokens" * $"ln_n_grid" - $"sum_lncf") / 1e6)
          / $"n_tokens", 6).as("surprisal_nats"))
      .orderBy($"doc_id")
  }

  val q102UnigramLmSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |              FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS c FROM toks
       |       GROUP BY doc_id, term),
       |cf AS (SELECT term, CAST(sum(c) AS BIGINT) AS cf FROM tf GROUP BY term),
       |lnn AS (SELECT CAST(floor(ln(CAST(sum(cf) AS DOUBLE)) * 1e6 + 0.5)
       |                    AS BIGINT) AS ln_n_grid FROM cf),
       |g AS (SELECT term, CAST(floor(ln(CAST(cf AS DOUBLE)) * 1e6 + 0.5)
       |                        AS BIGINT) AS ln_cf_grid FROM cf),
       |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(sum(c * ln_cf_grid) AS BIGINT) AS sum_lncf
       |  FROM tf JOIN g USING (term) GROUP BY doc_id)
       |SELECT doc_id, n_tokens,
       |  ${sqlRound("((n_tokens * ln_n_grid - sum_lncf) / 1e6) / n_tokens", 6)}
       |    AS surprisal_nats
       |FROM agg, lnn ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q173: CCNet-style perplexity tertiles (head / middle / tail)
  // ---------------------------------------------------------------

  /** CCNet's head/middle/tail corpus split (Wenzek et al. 2020,
    * public) on q102's unigram-LM surprisal: documents are ranked by
    * mean token surprisal and cut into exact tertiles — head = most
    * fluent under the LM, tail = highest-perplexity noise — with
    * per-bucket document counts, token mass, and mean surprisal, the
    * numbers a curation pipeline uses to pick its training mix.
    *
    * Determinism: the per-doc score is an exact-integer nano-nat grid
    * (`msurp = floor((A − B) * 1000.0 / n)` with A/B the q102 integer
    * micro-nat sums — one multiply + one divide in the same order both
    * engines); the tertile cuts come from the exact interpolated
    * `percentile` over those integers (the q39 cross-engine pattern:
    * Spark `percentile` ≡ DuckDB `quantile_cont` on identical exact
    * values), and bucket membership compares the SAME integer against
    * the SAME double cut in both engines, so a document can never
    * straddle buckets across engines (gridded-threshold rule).
    *
    * Scale: two map-side-combinable hash aggs (tf → cf → per-doc), the
    * vocabulary join NOT hand-broadcast (q67's df discipline), ln N and
    * the 2-value cut relation broadcast back as 1-row frames. The
    * global exact percentile is the one sort-heavy step — the same
    * honest price q39 pays, and at 100 TB the sketch alternative (q54's
    * approx_percentile) swaps in without changing the bucket shape. */
  def q173CcnetBuckets(s: SparkSession, d: String): DataFrame = {
    val tf = tokenCounts(s, d)
    val cf = tf.groupBy($"term").agg(sum($"c").as("cf"))
    val lnN = cf.agg(sum($"cf").as("nn"))
      .select(floor(log($"nn".cast("double")) * 1e6 + 0.5).cast("long")
        .as("ln_n_grid"))
    val g = cf.select($"term",
      floor(log($"cf".cast("double")) * 1e6 + 0.5).cast("long")
        .as("ln_cf_grid"))
    val doc = tf.join(g, "term")
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        sum($"c" * $"ln_cf_grid").as("sum_lncf"))
      .crossJoin(broadcast(lnN))
      .select($"doc_id", $"n_tokens",
        floor(($"n_tokens" * $"ln_n_grid" - $"sum_lncf") * lit(1000.0)
          / $"n_tokens").cast("long").as("msurp"))
    val cuts = doc
      .agg(expr(
        "percentile(msurp, array(cast(1 as double)/3, cast(2 as double)/3))")
        .as("pc"))
      .select($"pc".getItem(0).as("c1"), $"pc".getItem(1).as("c2"))
    doc.crossJoin(broadcast(cuts))
      .select($"n_tokens", $"msurp",
        when($"msurp" <= $"c1", "head")
          .when($"msurp" <= $"c2", "middle")
          .otherwise("tail").as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"),
        sum($"msurp").as("sum_msurp"))
      .select($"bucket", $"n_docs", $"n_tokens",
        stableRound($"sum_msurp" / $"n_docs" / lit(1e9), 6)
          .as("mean_surprisal_nats"))
      .orderBy($"bucket")
  }

  val q173CcnetBucketsSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |              FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS c FROM toks
       |       GROUP BY doc_id, term),
       |cf AS (SELECT term, CAST(sum(c) AS BIGINT) AS cf FROM tf GROUP BY term),
       |lnn AS (SELECT CAST(floor(ln(CAST(sum(cf) AS DOUBLE)) * 1e6 + 0.5)
       |                    AS BIGINT) AS ln_n_grid FROM cf),
       |g AS (SELECT term, CAST(floor(ln(CAST(cf AS DOUBLE)) * 1e6 + 0.5)
       |                        AS BIGINT) AS ln_cf_grid FROM cf),
       |doc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(sum(c * ln_cf_grid) AS BIGINT) AS sum_lncf
       |  FROM tf JOIN g USING (term) GROUP BY doc_id),
       |ms AS (SELECT doc_id, n_tokens,
       |    CAST(floor((n_tokens * ln_n_grid - sum_lncf) * 1000.0 / n_tokens)
       |         AS BIGINT) AS msurp
       |  FROM doc, lnn),
       |cuts AS (SELECT quantile_cont(msurp, CAST(1 AS DOUBLE)/3) AS c1,
       |                quantile_cont(msurp, CAST(2 AS DOUBLE)/3) AS c2
       |         FROM ms),
       |b AS (SELECT CASE WHEN msurp <= c1 THEN 'head'
       |               WHEN msurp <= c2 THEN 'middle'
       |               ELSE 'tail' END AS bucket, n_tokens, msurp
       |      FROM ms, cuts)
       |SELECT bucket, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  ${sqlRound("(CAST(sum(msurp) AS BIGINT) / count(*)) / 1e9", 6)}
       |    AS mean_surprisal_nats
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------
  // q175: Gopher-style rule-based quality audit
  // ---------------------------------------------------------------

  // ONE definition of the gridded feature projection, the micro-logit
  // polynomial, and the rule-violation predicates — Scala and SQL —
  // shared by q175 (rule battery), q178 (model inference) and q185
  // (calibration of one against the other). q185 is only a valid
  // calibration while all three run bit-identical feature/weight
  // arithmetic, so none of it may be re-derived per query.

  /** The 1e-4 gridded q20 feature set (exact integers). */
  private def featureGrid(docs: DataFrame, extra: Column*): DataFrame =
    docs.select((extra ++ Seq(
      Text.tokenCount($"text").cast("long").as("nt"),
      floor(Text.avgTokenLen($"text") * 1e4 + 0.5).cast("long").as("atl_g"),
      floor(Text.punctRatio($"text") * 1e4 + 0.5).cast("long").as("pr_g"),
      floor(Text.stopwordRatio($"text") * 1e4 + 0.5).cast("long")
        .as("swr_g"))): _*)

  private def featureGridSql(extra: String): String =
    s"""$extra
       |    CAST($tcSql AS BIGINT) AS nt,
       |    CAST(floor(($avgTokSql) * 1e4 + 0.5) AS BIGINT) AS atl_g,
       |    CAST(floor(($punctSql) * 1e4 + 0.5) AS BIGINT) AS pr_g,
       |    CAST(floor(($swRatioSql) * 1e4 + 0.5) AS BIGINT) AS swr_g""".stripMargin

  /** q178's fixed pretrained weights: exact micro-logit integers. */
  private def logitCol: Column =
    lit(-30000L) + lit(600L) * $"nt" + lit(40L) * $"swr_g" -
      lit(60L) * $"pr_g" - lit(2L) * abs($"atl_g" - 45000L)
  private val logitSql =
    "-30000 + 600 * nt + 40 * swr_g - 60 * pr_g - 2 * abs(atl_g - 45000)"

  /** q175's rule battery: violation predicates v1..v5 over the grid. */
  private def ruleViolCols: Seq[Column] = Seq(
    $"nt" < 20, $"nt" > 90, $"atl_g" < 40000 || $"atl_g" > 50000,
    $"pr_g" > 500, $"swr_g" < 150)
  private val ruleViolSql: Seq[String] = Seq(
    "nt < 20", "nt > 90", "(atl_g < 40000 OR atl_g > 50000)",
    "pr_g > 500", "swr_g < 150")

  /** The Gopher/MassiveText rule-filter census (Rae et al. 2021,
    * public): each document is tested against a battery of named
    * heuristic rules — token-count band, mean-token-length band,
    * symbol ratio, stopword floor — and the output is the per-rule
    * flag census plus the pass-all row, the report a curation run
    * reads before choosing which rules to enforce.
    *
    * Determinism: every ratio rule compares an INTEGER 1e-4 grid of
    * the q20-proven metric mirrors against an integer threshold
    * (gridded-threshold rule — no raw-double comparison can flip a
    * doc across engines); the token-count rules are exact integers.
    *
    * Scale: one corpus scan computes all five flags, the rule axis
    * explodes to 6 bounded rows per doc, and one map-side-combinable
    * hash aggregate reduces on the 6-value rule key. `n_docs` arrives
    * per group for free (every doc emits every rule), so the pct needs
    * no 1-row total broadcast. */
  def q175GopherRules(s: SparkSession, d: String): DataFrame = {
    val m = featureGrid(Tables.documents(s, d))
    val vs = ruleViolCols
    val f = m.select(
      vs(0).as("v1"), vs(1).as("v2"), vs(2).as("v3"),
      vs(3).as("v4"), vs(4).as("v5"))
      .withColumn("v0", !($"v1" || $"v2" || $"v3" || $"v4" || $"v5"))
    f.select(explode(array(
        struct(lit("gopher_pass_all").as("rule"), $"v0".as("viol")),
        struct(lit("r1_too_short").as("rule"), $"v1".as("viol")),
        struct(lit("r2_too_long").as("rule"), $"v2".as("viol")),
        struct(lit("r3_token_len").as("rule"), $"v3".as("viol")),
        struct(lit("r4_symbol_heavy").as("rule"), $"v4".as("viol")),
        struct(lit("r5_low_stopword").as("rule"), $"v5".as("viol")))).as("x"))
      .groupBy($"x.rule".as("rule"))
      .agg(sum(when($"x.viol", 1L).otherwise(0L)).as("n_flagged"),
        count(lit(1)).as("n_docs"))
      .select($"rule", $"n_flagged",
        stableRound($"n_flagged" / $"n_docs", 6).as("flag_pct"))
      .orderBy($"rule")
  }

  val q175GopherRulesSql: String =
    s"""WITH m AS (SELECT ${featureGridSql("")}
       |  FROM documents),
       |f AS (SELECT (${ruleViolSql(0)}) AS v1, (${ruleViolSql(1)}) AS v2,
       |    ${ruleViolSql(2)} AS v3,
       |    (${ruleViolSql(3)}) AS v4, (${ruleViolSql(4)}) AS v5
       |  FROM m),
       |f2 AS (SELECT *, NOT (v1 OR v2 OR v3 OR v4 OR v5) AS v0 FROM f),
       |u AS (
       |  SELECT 'gopher_pass_all' AS rule, v0 AS viol FROM f2 UNION ALL
       |  SELECT 'r1_too_short', v1 FROM f2 UNION ALL
       |  SELECT 'r2_too_long', v2 FROM f2 UNION ALL
       |  SELECT 'r3_token_len', v3 FROM f2 UNION ALL
       |  SELECT 'r4_symbol_heavy', v4 FROM f2 UNION ALL
       |  SELECT 'r5_low_stopword', v5 FROM f2)
       |SELECT rule,
       |  CAST(sum(CASE WHEN viol THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  ${sqlRound(
            "(CAST(sum(CASE WHEN viol THEN 1 ELSE 0 END) AS BIGINT) / count(*))",
            6)} AS flag_pct
       |FROM u GROUP BY rule ORDER BY rule""".stripMargin

  // ---------------------------------------------------------------
  // q105: deterministic weighted sampling (Efraimidis–Spirakis top-k)
  // ---------------------------------------------------------------

  private val WsK = 100

  /** Weighted sampling without replacement, Efraimidis–Spirakis style:
    * each document draws a deterministic uniform u from md5(doc_id)
    * (the q55/q72 derandomization — membership is a pure function of
    * the key, so the sample is partition-invariant and reproducible at
    * any cluster size) and ranks by ln(u)/w with w = token count; the
    * top [[WsK]] by that key ARE a weighted sample without replacement
    * (Efraimidis & Spirakis 2006, IPL — public result). The +0.5
    * offset keeps u strictly inside (0,1) so ln is finite; ln(u) is
    * gridded to integer micro-units (README rule 8, registered in
    * [[lnBoundaryHazards]]) and the priority is the exact-integer
    * division lnu_grid/w — identical IEEE division both engines. The
    * top-k runs as TakeOrdered (per-partition bounded heaps, k rows to
    * the final merge), never a global sort — the same 100 TB shape as
    * q16. */
  def q105WeightedSample(s: SparkSession, d: String): DataFrame = {
    val u = (conv(substring(md5(concat(lit("ws:"), $"doc_id".cast("string"))),
      1, 8), 16, 10).cast("long") + 0.5) / 4294967296.0
    Tables.documents(s, d)
      .select($"doc_id",
        Text.tokenCount($"text").cast("long").as("n_tokens"),
        floor(log(u) * 1e6 + 0.5).cast("long").as("lnu_grid"))
      .filter($"n_tokens" > 0)
      .select($"doc_id", $"n_tokens",
        ($"lnu_grid" / $"n_tokens").as("priority"))
      .orderBy($"priority".desc, $"doc_id")
      .limit(WsK)
  }

  private val wsUSql =
    "((CAST('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8) " +
      "AS BIGINT) + 0.5) / 4294967296.0)"

  val q105WeightedSampleSql: String =
    s"""WITH w AS (SELECT doc_id, CAST($tcSql AS BIGINT) AS n_tokens,
       |    CAST(floor(ln($wsUSql) * 1e6 + 0.5) AS BIGINT) AS lnu_grid
       |  FROM documents)
       |SELECT doc_id, n_tokens, lnu_grid / n_tokens AS priority
       |FROM w WHERE n_tokens > 0
       |ORDER BY priority DESC, doc_id LIMIT $WsK""".stripMargin

  // ---------------------------------------------------------------
  // q124: incremental ingest dedup (delta batch vs the staged index)
  // ---------------------------------------------------------------

  /** The ingest gate of a continuously-growing corpus: an incoming
    * batch (an md5-chosen 10% of documents plays the delta) is checked
    * against the ALREADY-INDEXED corpus — exact duplicates by staged
    * fingerprint, near-duplicates through the STAGED verified-pair
    * relation — and each incoming doc gets a decision:
    * `exact_dup` / `near_dup` / `unique`. Nothing is re-derived: the
    * band/pair pipeline ran once when the corpus was staged
    * ([[pairsStaged]]), and the delta pass reads it plus one narrow
    * fingerprint scan. That asymmetry IS the operator: at 100 TB the
    * index is petabytes and the delta is gigabytes, so re-deriving the
    * index per batch (what q24 alone would do) is the difference
    * between minutes and days. Exact-dup wins over near-dup; census is
    * bounded (3 rows). */
  def q124IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val isNew =
      conv(substring(md5(concat(lit("inc:"), $"doc_id".cast("string"))),
        1, 8), 16, 10).cast("long") % 10 === 3
    val fp = Tables.documents(s, d).filter($"text".isNotNull)
      .select($"doc_id", md5($"text").as("fp"), isNew.as("is_new"))
    val newDocs = fp.filter($"is_new").select($"doc_id", $"fp")
    val oldFps = fp.filter(!$"is_new").select($"fp").distinct()
    val exactDup = newDocs.join(oldFps, Seq("fp"), "left_semi")
      .select($"doc_id".as("ed"))
    val pairs = pairsStaged(s, d).filter($"jaccard" >= ClusterJaccard)
    val nearDup = pairs.select($"d1".as("nid"), $"d2".as("oid"))
      .union(pairs.select($"d2".as("nid"), $"d1".as("oid")))
      .join(newDocs.select($"doc_id".as("nid")), "nid")
      .join(fp.filter(!$"is_new").select($"doc_id".as("oid")), "oid")
      .select($"nid").distinct()
    newDocs
      .join(exactDup, $"doc_id" === $"ed", "left")
      .join(nearDup, $"doc_id" === $"nid", "left")
      .select(
        when($"ed".isNotNull, lit("exact_dup"))
          .when($"nid".isNotNull, lit("near_dup"))
          .otherwise(lit("unique")).as("decision"))
      .groupBy($"decision").agg(count(lit(1)).as("n_docs"))
      .orderBy($"decision")
  }

  val q124IncrementalDedupSql: String =
    s"""WITH $nearPairCtes,
       |fp AS (SELECT doc_id, md5(text) AS fp,
       |    (CAST('0x' || substring(md5('inc:' || CAST(doc_id AS VARCHAR)),
       |      1, 8) AS BIGINT) % 10 = 3) AS is_new
       |  FROM documents WHERE text IS NOT NULL),
       |ex AS (SELECT DISTINCT n.doc_id FROM fp n
       |  WHERE n.is_new AND EXISTS (SELECT 1 FROM fp o
       |    WHERE o.fp = n.fp AND NOT o.is_new)),
       |nd AS (SELECT DISTINCT p.nid AS doc_id
       |  FROM (SELECT d1 AS nid, d2 AS oid FROM near
       |        UNION ALL SELECT d2, d1 FROM near) p
       |  JOIN fp nn ON nn.doc_id = p.nid AND nn.is_new
       |  JOIN fp oo ON oo.doc_id = p.oid AND NOT oo.is_new),
       |dec AS (SELECT CASE
       |    WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
       |    WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
       |    ELSE 'unique' END AS decision
       |  FROM fp f
       |  LEFT JOIN ex e USING (doc_id)
       |  LEFT JOIN nd nr USING (doc_id)
       |  WHERE f.is_new)
       |SELECT decision, count(*) AS n_docs FROM dec
       |GROUP BY decision ORDER BY decision""".stripMargin

  // ---------------------------------------------------------------
  // q275: incremental LSH stage maintenance (append, no rebuild)
  // ---------------------------------------------------------------

  /** The ingest cut: the newest tenth of the id space plays the delta
    * batch ((max·9) div 10 — exact integer both engines). Monotone ids
    * are the PRECONDITION of the append lemma below; the streaming
    * wrapper guards it loudly per batch. */
  private[graft] def incCutDf(docs: DataFrame): DataFrame =
    docs.agg(max($"doc_id").as("mx")).select(expr("(mx * 9) div 10").as("cut"))

  private def incOldDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.join(broadcast(incCutDf(docs)), $"doc_id" < $"cut").drop("cut")
  }

  /** The already-indexed corpus's band relation, staged (the
    * pre-existing index a production ingest extends). */
  private[graft] def incBandsStaged(s: SparkSession, d: String): DataFrame = {
    val df = bands(incOldDocs(s, d))
    Staged.orCompute(s, d, stageConsts + "inc90", "inc_bands_old",
      Staged.planHash(df))(df)
  }

  private def incBandsToken(s: SparkSession, d: String): String =
    Staged.planHash(bands(incOldDocs(s, d)))

  /** The already-indexed corpus's verified pair relation, staged. */
  private[graft] def incPairsStaged(s: SparkSession, d: String): DataFrame = {
    val df = lshPairsFrom(incBandsStaged(s, d), incOldDocs(s, d))
    Staged.orCompute(s, d, stageConsts + "inc90", "inc_pairs_old",
      Staged.combine(Staged.planHash(df), incBandsToken(s, d)))(df)
  }

  /** ONE incremental append step: given the indexed corpus's band/pair
    * stages and a monotone delta batch, extend the pair relation
    * WITHOUT a rebuild — and end up EXACTLY where the full rebuild
    * would. The lemma: the bucket cap keeps the FIRST [[MaxBucket]]
    * members by ascending doc id, and delta ids exceed every indexed
    * id, so (a) a bucket's indexed-member prefix is IDENTICAL before
    * and after the delta — every indexed-indexed pair of the full
    * rebuild is already in the staged pair relation, with the same
    * Jaccard; (b) every pair the full rebuild adds involves a delta
    * doc, i.e. its LARGER element is a delta doc; (c) those pairs live
    * only in buckets the delta touches, whose full membership is
    * (staged bands ∩ touched keys) ∪ delta bands — so recomputing the
    * capped pairing there and keeping pairs whose d2 is a delta doc,
    * then unioning the staged pairs, reproduces the rebuild EXACTLY
    * (the oracle and the crafted over-cap spec both pin this).
    *
    * Scale: THE asymmetry a 100 TB ingest needs — the index is read,
    * never re-derived; the delta pass costs bands(delta) + a semi-join
    * of the staged bands against the touched keys + capped pairing in
    * touched buckets + shingle sets for INVOLVED docs only (semi-join
    * pushdown into the docsets aggregate). Re-running the full
    * pipeline per batch (q24's shape) is the difference between
    * minutes and days at index ≫ delta. */
  private[graft] def incAppend(oldBands: DataFrame, oldPairs: DataFrame,
      newDocs: DataFrame, docs: DataFrame): DataFrame =
    oldPairs.unionByName(incNewPairs(oldBands, newDocs, docs))

  /** The delta-only half of [[incAppend]] — what a streaming ingest
    * APPENDS per monotone batch (the batch twin unions it with the
    * staged pairs; the stream writes it to the pair store). */
  private[graft] def incNewPairs(oldBands: DataFrame, newDocs: DataFrame,
      docs: DataFrame): DataFrame = {
    val deltaBands = bands(newDocs)
    val touched = deltaBands.select($"band_id", $"band_key").distinct()
    val members = oldBands
      .join(touched, Seq("band_id", "band_key"), "left_semi")
      .unionByName(deltaBands)
    val newIds = newDocs.select($"doc_id").distinct()
    val newCands = bucketPairs(members, $"doc_id")
      .select($"a".as("d1"), $"b".as("d2"))
      .distinct()
      .join(newIds.select($"doc_id".as("d2")), Seq("d2"), "left_semi")
      .select($"d1", $"d2")
    val involved = newCands
      .select(explode(array($"d1", $"d2")).as("doc_id")).distinct()
    verifyCands(newCands, docs.join(involved, Seq("doc_id"), "left_semi"))
  }

  /** The band relation of a document set (stage-append accessor for
    * the streaming front door). */
  private[graft] def bandsOf(docs: DataFrame): DataFrame = bands(docs)

  /** Stage-free twin for the crafted spec: split at the same 9/10 cut,
    * build the old index, append the delta — must equal
    * [[lshPairs]](docs) row-for-row (EngineSpec drives an over-cap
    * bucket through both). */
  private[graft] def incrementalPairs(docs: DataFrame): DataFrame = {
    val cutDf = incCutDf(docs)
    val oldDocs = docs.join(broadcast(cutDf), $"doc_id" < $"cut").drop("cut")
    val newDocs = docs.join(broadcast(cutDf), $"doc_id" >= $"cut").drop("cut")
    incAppend(bands(oldDocs), lshPairsFrom(bands(oldDocs), oldDocs),
      newDocs, docs)
  }

  /** q275: the maintained (staged-index + delta-append) pair relation,
    * censused — n_pairs / n_new_pairs (pairs the delta added) /
    * sum_jacc_ppm (exact ppm grid) / n_dup_pairs (≥ [[ClusterJaccard]]).
    * ORACLED AS AN INVISIBLE REWRITE: the mirror computes the census
    * from the FULL-REBUILD pair derivation (the q24 CTE chain) — a
    * green row means the append path is indistinguishable from
    * rebuilding the index from scratch. */
  def q275IncrementalLsh(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val cutDf = incCutDf(docs)
    val newDocs = docs.join(broadcast(cutDf), $"doc_id" >= $"cut").drop("cut")
    val appended =
      incAppend(incBandsStaged(s, d), incPairsStaged(s, d), newDocs, docs)
    appended.crossJoin(broadcast(cutDf)).agg(
      count(lit(1)).as("n_pairs"),
      coalesce(sum(($"d2" >= $"cut").cast("long")), lit(0L)).as("n_new_pairs"),
      coalesce(sum(floor($"n_common" / ($"n1" + $"n2" - $"n_common") * 1e6
        + 0.5).cast("long")), lit(0L)).as("sum_jacc_ppm"),
      coalesce(sum(($"jaccard" >= ClusterJaccard).cast("long")), lit(0L))
        .as("n_dup_pairs"))
  }

  val q275IncrementalLshSql: String =
    s"""WITH $shinglesCte,
       |$bandsCte,
       |$lshCandCtes,
       |pairs AS (SELECT c.d1, c.d2, coalesce(i.n_common, 0) AS n_common,
       |    c1.n AS n1, c2.n AS n2,
       |    ${sqlRound("coalesce(i.n_common, 0) / (c1.n + c2.n - coalesce(i.n_common, 0))", 6)} AS jaccard
       |  FROM cands c
       |  LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
       |  JOIN counts c1 ON c1.doc_id = c.d1
       |  JOIN counts c2 ON c2.doc_id = c.d2),
       |cut AS (SELECT (max(doc_id) * 9) // 10 AS cut FROM documents)
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(coalesce(sum(CASE WHEN d2 >= cut THEN 1 ELSE 0 END), 0)
       |    AS BIGINT) AS n_new_pairs,
       |  CAST(coalesce(sum(CAST(floor(n_common / (n1 + n2 - n_common)
       |    * 1e6 + 0.5) AS BIGINT)), 0) AS BIGINT) AS sum_jacc_ppm,
       |  CAST(coalesce(sum(CASE WHEN jaccard >= $ClusterJaccard THEN 1
       |    ELSE 0 END), 0) AS BIGINT) AS n_dup_pairs
       |FROM pairs, cut""".stripMargin

  // ---------------------------------------------------------------
  // q142: vocabulary growth curve (heaps-law census)
  // ---------------------------------------------------------------

  private val VgBucket = 50L  // docs per ingest bucket
  private val VgSuper = 1024L // buckets per phase-1 superbucket

  /** Vocabulary growth — "how fast does new vocabulary appear as the
    * corpus grows" (the Heaps-law curve corpus reports plot, and the
    * signal that tells a tokenizer-training run when to stop
    * collecting): tokens attribute to the bucket of the FIRST document
    * (by ingest order = doc_id) that contains them — one min-
    * aggregation on the token key, exactly q112's first-seen shape at
    * vocabulary grain — then new-token counts and the running total
    * accumulate over the bucket axis. The bucket axis is |corpus|/50 —
    * tens of millions of rows at scale, so the cumulative sum runs
    * two-phase (q111/q137 discipline): superbuckets of $VgSuper
    * buckets give a bounded carry-in relation, and the within-
    * superbucket cumulative window partitions by superbucket. The
    * oracle is the single-phase global window — the decomposition is
    * what the hash proves. Token mass per bucket comes from the same
    * scan. */
  def q142VocabGrowth(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d).filter($"text".isNotNull)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
    val firstSeen = toks.groupBy($"w").agg(min($"doc_id").as("first_doc"))
      .select(expr(s"first_doc div $VgBucket").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_new_tokens"))
    val mass = toks.select(expr(s"doc_id div $VgBucket").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_tokens"))
    val buckets = mass.join(firstSeen, Seq("bucket"), "left")
      .select($"bucket", $"n_tokens",
        coalesce($"n_new_tokens", lit(0L)).as("n_new_tokens"),
        expr(s"bucket div $VgSuper").as("sb"))
    val wSb = Window.orderBy($"sb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = buckets.groupBy($"sb").agg(sum($"n_new_tokens").as("snew"))
      .select($"sb",
        coalesce(sum($"snew").over(wSb), lit(0L)).as("carry_in"))
    val wIn = Window.partitionBy($"sb").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets
      .join(broadcast(carry), "sb")
      .select($"bucket", $"n_tokens", $"n_new_tokens",
        ($"carry_in" + sum($"n_new_tokens").over(wIn))
          .as("vocab_to_date"))
      .orderBy($"bucket")
  }

  val q142VocabGrowthSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents WHERE text IS NOT NULL),
       |fs AS (SELECT first_doc // $VgBucket AS bucket,
       |    count(*) AS cnt FROM (SELECT w, min(doc_id) AS first_doc
       |      FROM toks GROUP BY w) GROUP BY 1),
       |ms AS (SELECT doc_id // $VgBucket AS bucket, count(*) AS n_tokens
       |  FROM toks GROUP BY 1)
       |SELECT m.bucket, CAST(m.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(coalesce(f.cnt, 0) AS BIGINT) AS n_new_tokens,
       |  CAST(sum(coalesce(f.cnt, 0)) OVER (ORDER BY m.bucket
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_to_date
       |FROM ms m LEFT JOIN fs f USING (bucket)
       |ORDER BY m.bucket""".stripMargin

  // ---------------------------------------------------------------
  // q143: token normalization pipeline (lower/strip/stop/stem-lite)
  // ---------------------------------------------------------------

  /** The token-normalization pass search indexes and bag-of-words
    * models run before counting anything: lowercase, strip
    * non-alphanumerics, drop stopwords, and a deliberately-crude
    * suffix stem (trailing `ing`/`s` — real stemmers are lookup-table
    * beasts; the PIPELINE SHAPE is what this operator owns). Census:
    * raw/kept token mass, distinct vocabulary before and after (the
    * normalization's compression ratio), and an order-free fingerprint
    * over the surviving normalized stream — the exact output tokens
    * are proven, not just counted. Pure narrow string work + bounded
    * aggregations. */
  def q143TokenNormalize(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).filter($"text".isNotNull)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
    val lowered = lower(regexp_replace($"w", "[^a-zA-Z0-9]", ""))
    val stemmed = when(lowered.rlike("ing$") && length(lowered) > 5,
        expr("substring(lower(regexp_replace(w, '[^a-zA-Z0-9]', '')), 1, " +
          "length(lower(regexp_replace(w, '[^a-zA-Z0-9]', ''))) - 3)"))
      .when(lowered.rlike("s$") && length(lowered) > 3,
        expr("substring(lower(regexp_replace(w, '[^a-zA-Z0-9]', '')), 1, " +
          "length(lower(regexp_replace(w, '[^a-zA-Z0-9]', ''))) - 1)"))
      .otherwise(lowered)
    val normed = toks.select($"doc_id", $"pos", $"w", stemmed.as("nw"))
      .withColumn("kept",
        length($"nw") > 0 && !$"nw".isin(graft.functions.Text.stopwords: _*))
    normed.agg(
      count(lit(1)).as("n_raw_tokens"),
      sum(when($"kept", 1L).otherwise(0L)).as("n_kept_tokens"),
      countDistinct($"w").as("vocab_raw"),
      countDistinct(when($"kept", $"nw")).as("vocab_normed"),
      expr("bit_xor(CASE WHEN kept THEN " +
        "cast(conv(substring(md5(concat(cast(doc_id as string), '|', " +
        "cast(pos as string), '|', nw)), 1, 15), 16, 10) as long) " +
        "ELSE 0 END)").as("stream_fingerprint"))
  }

  val q143TokenNormalizeSql: String = {
    val sw = graft.functions.Text.stopwords
      .map(w => s"'$w'").mkString(", ")
    s"""WITH toks AS (SELECT doc_id, i - 1 AS pos, w[CAST(i AS INT)] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |        WHERE text IS NOT NULL),
       |  UNNEST(range(1, len(w) + 1)) AS t(i)),
       |lo AS (SELECT doc_id, pos, w,
       |    lower(regexp_replace(w, '[^a-zA-Z0-9]', '', 'g')) AS lw
       |  FROM toks),
       |st AS (SELECT doc_id, pos, w,
       |    CASE WHEN regexp_matches(lw, 'ing$$') AND length(lw) > 5
       |           THEN substring(lw, 1, length(lw) - 3)
       |         WHEN regexp_matches(lw, 's$$') AND length(lw) > 3
       |           THEN substring(lw, 1, length(lw) - 1)
       |         ELSE lw END AS nw
       |  FROM lo),
       |k AS (SELECT doc_id, pos, w, nw,
       |    (length(nw) > 0 AND nw NOT IN ($sw)) AS kept
       |  FROM st)
       |SELECT count(*) AS n_raw_tokens,
       |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept_tokens,
       |  CAST(count(DISTINCT w) AS BIGINT) AS vocab_raw,
       |  CAST(count(DISTINCT CASE WHEN kept THEN nw END) AS BIGINT)
       |    AS vocab_normed,
       |  bit_xor(CASE WHEN kept THEN
       |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' ||
       |      CAST(pos AS VARCHAR) || '|' || nw), 1, 15) AS BIGINT)
       |    ELSE 0 END) AS stream_fingerprint
       |FROM k""".stripMargin
  }

  // ---------------------------------------------------------------
  // q146: cluster survivor selection (keep the best-quality member)
  // ---------------------------------------------------------------

  /** The survivor POLICY layer of dedup: q50/q52 keep each cluster's
    * min-id member (arbitrary but deterministic); a curation pipeline
    * keeps the BEST one. Per near-dup cluster: the argmax-quality
    * member (q20's score on the established 1e-4 integer grid, doc_id
    * tie-break — grid first, THEN argmax, rule 5), what the min-id
    * policy would have kept, and the quality gained by choosing. Runs
    * entirely at cluster grain over the STAGED q50 relation — the
    * corpus contributes one narrow quality projection; the window
    * partitions by cluster (bounded by the capped bucket machinery
    * upstream), never a global axis. */
  def q146CanonicalPick(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qg = Tables.documents(s, d).select($"doc_id",
      floor(Text.qualityScore($"text") * 1e4 + 0.5).cast("long")
        .as("q_grid"))
    val w = Window.partitionBy($"canonical_id")
      .orderBy($"q_grid".desc, $"doc_id")
    val best = q50DedupClusters(s, d).join(qg, "doc_id")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    best.join(qg.select($"doc_id".as("canonical_id"),
        $"q_grid".as("canonical_q")), "canonical_id")
      .select($"canonical_id", $"cluster_size",
        $"doc_id".as("best_doc_id"), $"q_grid".as("best_q"),
        $"canonical_q", ($"q_grid" - $"canonical_q").as("q_gain"))
      .orderBy($"canonical_id")
  }

  val q146CanonicalPickSql: String =
    s"""WITH RECURSIVE $clusterCtes,
       |qg AS (SELECT doc_id, CAST(floor(($qualitySql) * 1e4 + 0.5)
       |    AS BIGINT) AS q_grid FROM documents),
       |m AS (SELECT c.id AS doc_id, c.canonical_id, s.cluster_size,
       |    qg.q_grid, row_number() OVER (PARTITION BY c.canonical_id
       |      ORDER BY qg.q_grid DESC, c.id) AS rn
       |  FROM comp c JOIN sizes s USING (canonical_id)
       |  JOIN qg ON qg.doc_id = c.id)
       |SELECT b.canonical_id, b.cluster_size, b.doc_id AS best_doc_id,
       |  b.q_grid AS best_q, mq.q_grid AS canonical_q,
       |  b.q_grid - mq.q_grid AS q_gain
       |FROM (SELECT * FROM m WHERE rn = 1) b
       |JOIN qg mq ON mq.doc_id = b.canonical_id
       |ORDER BY b.canonical_id""".stripMargin

  // ---------------------------------------------------------------
  // q160: cross-modal dedup capstone (exact ∘ text-LSH ∘ embedding)
  // ---------------------------------------------------------------

  private val EmbedDupCos = 0.9

  /** The cross-modal dedup CAPSTONE: one per-document disposition
    * census composing the three dedup modalities in precedence order —
    * (1) EXACT: a doc that is not the min-id of its md5-fingerprint
    * group defers to that min (q22's survivor policy); (2) TEXT
    * NEAR-DUP: a still-standing doc in a staged q50 LSH cluster that is
    * not the cluster's q146 argmax-quality pick defers to that pick
    * (the pick is itself always an exact-survivor: identical text ⇒
    * identical quality grid ⇒ the min-id tie-break lands on the
    * fingerprint minimum); (3) EMBEDDING NEAR-DUP: a doc still standing
    * after (1)+(2) whose vector has an exact-cosine ≥ [[EmbedDupCos]]
    * partner with a smaller id among the standing set defers to the
    * smallest such partner (pairwise policy — candidates from the
    * hyperplane-LSH multiprobe, i.e. bucket hamming ≤ 1, which the
    * oracle mirrors bit-exactly via the md5-derived planes). On the
    * driver's isotropic synthetic embeddings arm (3) is PROVABLY empty
    * (max pairwise cosine ≈ 0.48) — like q46's over-cap audit, the
    * green oracle row keeps that zero AUDITED rather than assumed, and
    * the arm goes live unchanged on a corpus with real duplicates.
    *
    * Scale shape: arm (1) is one md5-key aggregate; arm (2) reads the
    * STAGED cluster/pick relations (built once per corpus); arm (3)
    * semi-joins the standing set BEFORE bucketing, so only survivors
    * pay the LSH; every join key (fp, canonical_id, bucket) is
    * entropy-rich. Nothing here re-derives the shingle→signature
    * subtree. */
  def q160CrossModalDedup(s: SparkSession, d: String): DataFrame = {
    val fp = Tables.documents(s, d)
      .select($"doc_id", Text.fingerprintMd5($"text").as("fp"))
    val fpSurv = fp.groupBy($"fp").agg(min($"doc_id").as("fp_survivor"))
    val exact = fp.join(fpSurv, "fp").select($"doc_id", $"fp_survivor")

    val clusters = q50DedupClusters(s, d).select($"doc_id", $"canonical_id")
    val best = q146CanonicalPick(s, d).select($"canonical_id", $"best_doc_id")
    val textArm = clusters.join(best, "canonical_id")
      .select($"doc_id", $"best_doc_id")

    val arm12 = exact.join(textArm, Seq("doc_id"), "left")
      .select($"doc_id",
        when($"doc_id" =!= $"fp_survivor", lit("exact_dup"))
          .when($"best_doc_id".isNotNull && $"doc_id" =!= $"best_doc_id",
            lit("text_neardup"))
          .otherwise(lit("kept")).as("status12"),
        when($"doc_id" =!= $"fp_survivor", $"fp_survivor")
          .when($"best_doc_id".isNotNull && $"doc_id" =!= $"best_doc_id",
            $"best_doc_id")
          .otherwise($"doc_id").as("canon12"))

    // round 15: arm12 (doc-grain, 3 cols) feeds the standing filter
    // AND the final join — lazily its lineage (fingerprint scan +
    // both text-arm reads) re-evaluated per reference; adjacent A/B
    // at sf0.1 reps-3: 5.47 -> 5.13 s. Eager cut pins it once.
    val arm12c = arm12.localCheckpoint(true)
    val standing = arm12c.filter($"status12" === "kept").select($"doc_id")
    val embStanding = Tables.embeddings(s, d)
      .filter($"embedding".isNotNull)
      .join(standing, $"vec_id" === $"doc_id")
      .select($"doc_id", $"embedding")
    val embArm = VectorOps
      .cosineNearDupPairs(embStanding, "doc_id", "embedding", EmbedDupCos)
      .groupBy($"id2".as("doc_id")).agg(min($"id").as("emb_canonical"))

    arm12c.join(embArm, Seq("doc_id"), "left")
      .select($"doc_id",
        when($"status12" =!= "kept", $"status12")
          .when($"emb_canonical".isNotNull, lit("embed_neardup"))
          .otherwise(lit("kept")).as("status"),
        when($"status12" =!= "kept", $"canon12")
          .when($"emb_canonical".isNotNull, $"emb_canonical")
          .otherwise($"doc_id").as("canonical_id"))
      .orderBy($"doc_id")
  }

  val q160CrossModalDedupSql: String = {
    val cos = VectorOps.cosSql("a.embedding", "b.embedding")
    s"""WITH RECURSIVE $clusterCtes,
       |qg AS (SELECT doc_id, CAST(floor(($qualitySql) * 1e4 + 0.5)
       |    AS BIGINT) AS q_grid FROM documents),
       |m AS (SELECT c.id AS doc_id, c.canonical_id,
       |    row_number() OVER (PARTITION BY c.canonical_id
       |      ORDER BY qg.q_grid DESC, c.id) AS rn
       |  FROM comp c JOIN qg ON qg.doc_id = c.id),
       |bestpick AS (SELECT canonical_id, doc_id AS best_doc_id
       |             FROM m WHERE rn = 1),
       |fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
       |fps AS (SELECT fp, min(doc_id) AS fp_survivor FROM fp GROUP BY fp),
       |arm12 AS (
       |  SELECT f.doc_id,
       |    CASE WHEN f.doc_id <> s.fp_survivor THEN 'exact_dup'
       |         WHEN bp.best_doc_id IS NOT NULL
       |           AND f.doc_id <> bp.best_doc_id THEN 'text_neardup'
       |         ELSE 'kept' END AS status12,
       |    CASE WHEN f.doc_id <> s.fp_survivor THEN s.fp_survivor
       |         WHEN bp.best_doc_id IS NOT NULL
       |           AND f.doc_id <> bp.best_doc_id THEN bp.best_doc_id
       |         ELSE f.doc_id END AS canon12
       |  FROM fp f JOIN fps s USING (fp)
       |  LEFT JOIN comp c ON c.id = f.doc_id
       |  LEFT JOIN bestpick bp ON bp.canonical_id = c.canonical_id),
       |bkt AS (SELECT e.vec_id AS doc_id, e.embedding,
       |    ${graft.functions.Vectors.lshBucketSql(VectorOps.NumPlanes)} AS bucket
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE embedding IS NOT NULL) e
       |  JOIN arm12 a ON a.doc_id = e.vec_id AND a.status12 = 'kept'),
       |epairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bkt a JOIN bkt b ON a.doc_id < b.doc_id
       |    AND bit_count(xor(a.bucket, b.bucket)) <= 1
       |  WHERE $cos >= $EmbedDupCos),
       |earm AS (SELECT d2 AS doc_id, min(d1) AS emb_canonical
       |         FROM epairs GROUP BY d2)
       |SELECT a.doc_id,
       |  CASE WHEN a.status12 <> 'kept' THEN a.status12
       |       WHEN e.emb_canonical IS NOT NULL THEN 'embed_neardup'
       |       ELSE 'kept' END AS status,
       |  CASE WHEN a.status12 <> 'kept' THEN a.canon12
       |       WHEN e.emb_canonical IS NOT NULL THEN e.emb_canonical
       |       ELSE a.doc_id END AS canonical_id
       |FROM arm12 a LEFT JOIN earm e USING (doc_id)
       |ORDER BY a.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q144: temperature-based source mixing (n^alpha reweighting)
  // ---------------------------------------------------------------

  /** Sampling-temperature source reweighting — the multilingual /
    * multi-source mixing rule (weight source s proportional to
    * n_s^alpha, alpha = 0.5): flattens the natural distribution so
    * head sources stop drowning tail ones. alpha = 1/2 makes the
    * power a SQUARE ROOT, which IEEE 754 requires to be correctly
    * rounded — unlike ln (rule 8), sqrt crosses engines bit-exactly,
    * so the weights grid with no boundary hazard. All arithmetic
    * after the grid is integer: weight_ppm by integer division, the
    * target doc count via the ppm weight (never total*g directly —
    * that product overflows BIGINT once per-source token mass passes
    * ~10^13 at fleet scale). Shape: one map-side-combined aggregation
    * to source grain (|sources| rows), a 1-row total broadcast back —
    * the corpus is scanned exactly once. */
  def q144TemperatureMix(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d).filter($"text".isNotNull)
      .groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum(Text.tokenCount($"text").cast("long")).as("n_tokens"))
      .withColumn("g",
        floor(sqrt($"n_tokens".cast("double")) * 1e6 + 0.5).cast("long"))
    val tot = per.agg(sum($"g").as("sum_g"),
      sum($"n_docs").as("total_docs"))
    per.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"n_tokens",
        expr("g * 1000000 div sum_g").as("weight_ppm"),
        expr("total_docs * (g * 1000000 div sum_g) div 1000000")
          .as("target_docs"))
      .orderBy($"source")
  }

  val q144TemperatureMixSql: String =
    s"""WITH per AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum($tcSql) AS BIGINT) AS n_tokens
       |  FROM documents WHERE text IS NOT NULL GROUP BY source),
       |g AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6
       |    + 0.5) AS BIGINT) AS g FROM per),
       |t AS (SELECT CAST(sum(g) AS BIGINT) AS sum_g,
       |    CAST(sum(n_docs) AS BIGINT) AS total_docs FROM g)
       |SELECT source, n_docs, n_tokens,
       |  g * 1000000 // sum_g AS weight_ppm,
       |  total_docs * (g * 1000000 // sum_g) // 1000000 AS target_docs
       |FROM g, t ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q164: water-filling token-budget allocation across sources
  // ---------------------------------------------------------------

  /** Proportional-fair token budgeting — the CONSTRAINED complement of
    * q144's free-form temperature weights: given a token budget (here
    * half the corpus), find the unique water level L such that paying
    * each source min(tokens, L) exhausts the budget exactly — small
    * sources keep everything, large sources are capped at L. This is
    * the classic water-filling allocation; exact in integers: sources
    * sort ascending by (tokens, source), one cumulative-sum window
    * gives every candidate segment's level (B − prefix)/remaining by
    * integer division, the first feasible segment is the level, and
    * the division remainder goes to the first r capped sources (+1
    * token each) so Σ alloc == B with no rounding drift. Every
    * division is guarded non-negative — Spark's `div` truncates toward
    * zero while DuckDB's `//` floors, so a negative intermediate would
    * silently diverge the engines (rule-class: CLAUDE.md determinism).
    *
    * Scale shape: ONE corpus-grain pass (the map-side-combined
    * per-source aggregation); everything after runs at source grain —
    * the global window rides the bounded |sources| axis, and the
    * chosen level is a 1-row broadcast back. */
  def q164WaterFill(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.documents(s, d).filter($"text".isNotNull)
      .groupBy($"source")
      .agg(sum(Text.tokenCount($"text").cast("long")).as("n_tokens"))
    val tot = per.agg(sum($"n_tokens").as("total_tokens"),
      count(lit(1)).as("n_src"))
    // bounded-axis window: |sources| rows (rule: global windows only
    // over bounded axes)
    val w = Window.orderBy($"n_tokens", $"source")
    val ranked = per.crossJoin(broadcast(tot))
      .withColumn("budget", expr("total_tokens div 2"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("prefix", sum($"n_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_t",
        coalesce(lag($"n_tokens", 1).over(w), lit(0L)))
    val cand = ranked
      .withColumn("lcand",
        expr("greatest(budget - (prefix - n_tokens), 0) div (n_src - rn + 1)"))
      .withColumn("feasible",
        $"lcand" < $"n_tokens" && ($"rn" === 1L || $"lcand" >= $"prev_t"))
    val chosen = cand.filter($"feasible")
      .agg(min($"rn").as("jstar")).select(coalesce($"jstar", lit(1L)).as("jstar"))
    val level = cand.join(broadcast(chosen), $"rn" === $"jstar")
      .select($"jstar", $"lcand".as("level"),
        expr("greatest(budget - (prefix - n_tokens), 0) - lcand * (n_src - rn + 1)")
          .as("rem"))
    cand.crossJoin(broadcast(level))
      .select($"source", $"n_tokens",
        when($"rn" < $"jstar", $"n_tokens")
          .otherwise($"level" +
            when($"rn" - $"jstar" < $"rem", lit(1L)).otherwise(lit(0L)))
          .as("alloc_tokens"),
        when($"rn" < $"jstar", lit("full")).otherwise(lit("capped"))
          .as("status"),
        $"level".as("fill_level"))
      .orderBy($"source")
  }

  val q164WaterFillSql: String =
    s"""WITH per AS (SELECT source, CAST(sum($tcSql) AS BIGINT) AS n_tokens
       |  FROM documents WHERE text IS NOT NULL GROUP BY source),
       |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(count(*) AS BIGINT) AS n_src FROM per),
       |ranked AS (SELECT per.*, t.n_src, t.total_tokens // 2 AS budget,
       |    CAST(row_number() OVER w AS BIGINT) AS rn,
       |    CAST(sum(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS BIGINT) AS prefix,
       |    coalesce(lag(n_tokens, 1) OVER w, CAST(0 AS BIGINT)) AS prev_t
       |  FROM per, t
       |  WINDOW w AS (ORDER BY n_tokens, source)),
       |cand AS (SELECT *,
       |    greatest(budget - (prefix - n_tokens), 0) // (n_src - rn + 1)
       |      AS lcand,
       |    (greatest(budget - (prefix - n_tokens), 0) // (n_src - rn + 1)
       |       < n_tokens)
       |     AND (rn = 1 OR greatest(budget - (prefix - n_tokens), 0)
       |       // (n_src - rn + 1) >= prev_t) AS feasible
       |  FROM ranked),
       |chosen AS (SELECT coalesce(min(rn) FILTER (feasible), 1) AS jstar
       |           FROM cand),
       |level AS (SELECT c.jstar, k.lcand AS level,
       |    greatest(k.budget - (k.prefix - k.n_tokens), 0)
       |      - k.lcand * (k.n_src - k.rn + 1) AS rem
       |  FROM chosen c JOIN cand k ON k.rn = c.jstar)
       |SELECT c.source, c.n_tokens,
       |  CAST(CASE WHEN c.rn < l.jstar THEN c.n_tokens
       |       ELSE l.level + CASE WHEN c.rn - l.jstar < l.rem
       |                           THEN 1 ELSE 0 END END AS BIGINT)
       |    AS alloc_tokens,
       |  CASE WHEN c.rn < l.jstar THEN 'full' ELSE 'capped' END AS status,
       |  CAST(l.level AS BIGINT) AS fill_level
       |FROM cand c, level l
       |ORDER BY c.source""".stripMargin

  // ---------------------------------------------------------------
  // q168: exact substring-level dedup (span-grain removal census)
  // ---------------------------------------------------------------

  /** Span width for exact substring dedup, in TOKENS (canonical
    * constant lives with the native expression). Production ExactSubstr
    * (Lee et al. 2021, arXiv:2107.06499) uses 50-token spans over a
    * suffix array; the driver's synthetic docs repeat shorter passages,
    * so 8 keeps the removal logic exercised (both zero-removal and
    * partial-removal docs appear at every SF). */
  private val SubstrW = graft.functions.SubstrGramImpl.GramW
  /** Bits reserved for the token position in the packed occurrence key
    * `doc_id << 21 | pos` — a single BIGINT min() gives the lexical
    * (doc_id, pos) first occurrence in BOTH engines with no struct
    * ordering semantics to align. Bounds tokens/doc at 2^21 (~2M);
    * the documents corpus chunks well below that at any SF. */
  private val SubstrPosShift = 1L << 21

  /** Exact substring-level dedup — the span-grain modality the doc-grain
    * family (q22 exact, q23/q24 near-dup, q161 semantic) cannot see: a
    * document that is 40% copied boilerplate plus 60% fresh prose is
    * kept whole by every doc-grain policy, yet its copied SPANS still
    * duplicate training data. ExactSubstr semantics re-expressed
    * relationally: every [[SubstrW]]-token window that occurs more than
    * once in the corpus is a duplicated span; the lexically-first
    * occurrence (min packed (doc_id, pos)) survives, every later one is
    * marked removed, and a document's removed-token count is the UNION
    * length of its removed spans — fixed-width intervals sorted by
    * start have monotone ends, so the union collapses to
    * Σ min(W, pos − lag(pos)), exact integer arithmetic on both
    * engines (no interval-merge state machine). Output: per-doc token
    * count, duplicated-gram count, removed/kept token counts.
    *
    * Scale shape: the gram stream rides the native single-pass
    * [[graft.functions.SubstrGrams.substrGramHashes]] expression — the
    * scan stays embarrassingly parallel and the corpus is NEVER
    * shuffled at token grain (the declarative lead-window shape pushed
    * every token through a doc_id exchange first); the census is a
    * map-side-combined md5-key aggregation exactly like q22's
    * fingerprint grain (its h exchange is the query's one corpus-scale
    * shuffle — inherent to an exact global census); the removal join
    * keys on the hash with the n_occ>1 filter keeping the census side
    * at duplicated-vocabulary grain (broadcastable in practice, AQE's
    * call); the interval union windows only the REMOVED subset. No
    * pairwise product anywhere: cost is O(token positions), the same
    * bound the shingle pipeline already pays. A true 50-token
    * production run changes only [[SubstrW]]. */
  /** The [[SubstrW]]-token gram stream with positions and packed
    * occurrence keys — the shared front of the span-grain family
    * (q168 self-dedup, q169 decontamination). Rides the native
    * single-pass [[graft.functions.SubstrGrams.substrGramHashes]]
    * expression: ONE posexplode of the per-doc gram-hash array and NO
    * window — the declarative lead-window formulation (kept below as
    * [[substrGramRowsDeclarative]], equality asserted in EngineSpec)
    * shuffles the whole token-grain corpus just to line tokens up with
    * their successors, work that never crosses document boundaries. */
  private[graft] def substrGramRows(docs: DataFrame): DataFrame =
    docs.select($"doc_id",
        posexplode(graft.functions.SubstrGrams.substrGramHashes($"text"))
          .as(Seq("pos", "h")))
      .select($"doc_id", $"pos", $"h",
        ($"doc_id" * lit(SubstrPosShift) + $"pos").as("occ"))

  /** The declarative reference formulation of [[substrGramRows]] —
    * posexplode the tokens, W−1 `lead`s over a doc window, md5 the
    * concat. Retained ONLY as the cross-check subject for the native
    * expression (EngineSpec equality test), never on a query path. */
  private[graft] def substrGramRowsDeclarative(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val toks = docs.select($"doc_id",
      posexplode(split($"text", " ")).as(Seq("pos", "w")))
    val withLeads = (1 until SubstrW).foldLeft(toks) { (df, i) =>
      df.withColumn(s"w$i", lead($"w", i).over(w))
    }
    val parts = $"w" +: (1 until SubstrW).map(i => col(s"w$i"))
    withLeads
      .filter(col(s"w${SubstrW - 1}").isNotNull)
      .select($"doc_id", $"pos",
        md5(concat_ws(" ", parts: _*)).as("h"),
        ($"doc_id" * lit(SubstrPosShift) + $"pos").as("occ"))
  }

  /** Per-doc interval-union length of removed [[SubstrW]]-wide spans:
    * fixed-width intervals sorted by start have monotone ends, so the
    * union collapses to Σ min(W, pos − lag(pos)) — exact integers.
    * (doc_id, pos) is unique in the gram stream, so the lag order is a
    * total order — no tie-break needed (README window rule). */
  private def spanUnionStats(removed: DataFrame, nCol: String): DataFrame = {
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    removed
      .withColumn("gap", $"pos" - lag($"pos", 1).over(w))
      .select($"doc_id",
        least(lit(SubstrW.toLong), coalesce($"gap".cast("long"),
          lit(SubstrW.toLong))).as("covered"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as(nCol),
        sum($"covered").as("n_removed_tokens"))
  }

  def q168SubstrDedup(s: SparkSession, d: String): DataFrame =
    substrDedupStats(Tables.documents(s, d)
      .filter($"text".isNotNull && $"doc_id".isNotNull))

  /** The removal relation of exact substring dedup: one (doc_id, pos)
    * row per duplicated-gram occurrence that is NOT the corpus-first
    * one — the shared input of the q168 census and the q170 remover. */
  private[graft] def substrRemovedSpans(docs: DataFrame): DataFrame = {
    val grams = substrGramRows(docs)
    val census = grams.groupBy($"h")
      .agg(count(lit(1)).as("n_occ"), min($"occ").as("first_occ"))
      .filter($"n_occ" > 1)
    grams.join(census, Seq("h"))
      .filter($"occ" > $"first_occ")
      .select($"doc_id", $"pos")
  }

  private[graft] def substrDedupStats(docs: DataFrame): DataFrame = {
    val removed = substrRemovedSpans(docs)
    val spans = spanUnionStats(removed, "n_dup_grams")
    docs.select($"doc_id", Text.tokenCount($"text").cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"n_dup_grams", lit(0L)).as("n_dup_grams"),
        coalesce($"n_removed_tokens", lit(0L)).as("n_removed_tokens"),
        ($"n_tokens" - coalesce($"n_removed_tokens", lit(0L)))
          .as("n_kept_tokens"))
      .orderBy($"doc_id")
  }

  val q168SubstrDedupSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
       |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    md5(list_aggregate(w[i+1:i+$SubstrW], 'string_agg', ' ')) AS h,
       |    doc_id * $SubstrPosShift + i AS occ
       |  FROM ws, UNNEST(range(0, greatest(len(w) - ${SubstrW - 1}, 0)))
       |    AS t(i)),
       |c AS (SELECT h, min(occ) AS first_occ FROM g
       |      GROUP BY h HAVING count(*) > 1),
       |r AS (SELECT g.doc_id, g.pos FROM g JOIN c ON c.h = g.h
       |      WHERE g.occ > c.first_occ),
       |r2 AS (SELECT doc_id, coalesce(least($SubstrW, pos -
       |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)), $SubstrW)
       |    AS covered FROM r),
       |sp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams,
       |    CAST(sum(covered) AS BIGINT) AS n_removed_tokens
       |  FROM r2 GROUP BY doc_id)
       |SELECT d.doc_id, CAST($tcSql AS BIGINT) AS n_tokens,
       |  coalesce(sp.n_dup_grams, CAST(0 AS BIGINT)) AS n_dup_grams,
       |  coalesce(sp.n_removed_tokens, CAST(0 AS BIGINT))
       |    AS n_removed_tokens,
       |  CAST($tcSql AS BIGINT) - coalesce(sp.n_removed_tokens,
       |    CAST(0 AS BIGINT)) AS n_kept_tokens
       |FROM documents d LEFT JOIN sp ON sp.doc_id = d.doc_id
       |WHERE d.text IS NOT NULL AND d.doc_id IS NOT NULL
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q192: arbitrary-length repeated-region detection (maximal runs)
  // ---------------------------------------------------------------

  /** Minimum reported region length in tokens — the "any length ≥ L"
    * knob of the maximal-repeat census (strictly above [[SubstrW]], so
    * single isolated duplicated grams never report and the filter is
    * exercised at every SF). */
  private val MinRepeatTokens = 12L

  /** Arbitrary-length repeated-region detection — the maximal-repeat
    * census the fixed-W family (q168/q169/q170) cannot express: Lee et
    * al.'s suffix-array formulation (arXiv:2107.06499 §4.1) finds
    * duplicated substrings of ANY length ≥ L, not just W-token
    * windows. Re-expressed relationally by sorted-gram run extension:
    * a repeated region of t ≥ W tokens makes all t−W+1 of its
    * [[SubstrW]]-gram windows corpus-duplicated, so maximal runs of
    * CONSECUTIVE duplicated gram positions (gaps-and-islands on the
    * unique (doc, pos) order) recover the region boundaries — each
    * island of c grams is a candidate region of c+W−1 tokens, reported
    * when ≥ [[MinRepeatTokens]]. Unlike q168 this looks at ALL
    * occurrences (first included): detection is symmetric; removal
    * policy is q168/q170's job. One documented approximation vs a true
    * suffix array: a run whose consecutive grams are duplicated
    * AGAINST DIFFERENT partners reports as one region (an
    * upper-bound-length "chimera") — for contiguous copy-paste
    * duplication, the overwhelmingly dominant real-world case, run
    * extension is exact.
    *
    * Determinism: pure integer position arithmetic end to end; the
    * island key pos − row_number rides the unique (doc_id, pos) order
    * (rule 3).
    *
    * Scale shape: the gram stream is the native shuffle-free
    * single-pass expression (q168's front); the duplicated-hash census
    * is one map-side-combined md5-grain aggregate; the semi join keeps
    * the stream at occurrence grain; the island window partitions by
    * doc_id over only the DUPLICATED subset. No pairwise product, no
    * suffix sort — O(token positions) like the rest of the span
    * family, and the output is region-grain (bounded by real
    * duplication, the artifact a curation team reads). */
  def q192MaxRepeats(s: SparkSession, d: String): DataFrame =
    maxRepeatsFrom(Tables.documents(s, d)
      .filter($"text".isNotNull && $"doc_id".isNotNull))

  /** The region census over an arbitrary (doc_id, text) relation —
    * split from [[q192MaxRepeats]] for the property suite's random
    * corpora. */
  private[graft] def maxRepeatsFrom(docs: DataFrame): DataFrame = {
    val grams = substrGramRows(docs)
    val dupHashes = grams.groupBy($"h")
      .agg(count(lit(1)).as("n_occ")).filter($"n_occ" > 1).select($"h")
    val dup = grams.join(dupHashes, Seq("h"), "leftsemi")
      .select($"doc_id", $"pos")
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    dup.withColumn("grp", $"pos" - row_number().over(w))
      .groupBy($"doc_id", $"grp")
      .agg(min($"pos").cast("long").as("start_pos"),
        count(lit(1)).as("n_grams"))
      .select($"doc_id", $"start_pos", $"n_grams",
        ($"n_grams" + lit(SubstrW - 1L)).as("region_tokens"))
      .filter($"region_tokens" >= MinRepeatTokens)
      .orderBy($"doc_id", $"start_pos")
  }

  val q192MaxRepeatsSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
       |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    md5(list_aggregate(w[i+1:i+$SubstrW], 'string_agg', ' ')) AS h
       |  FROM ws, UNNEST(range(0, greatest(len(w) - ${SubstrW - 1}, 0)))
       |    AS t(i)),
       |c AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
       |dup AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (h)),
       |r AS (SELECT doc_id, pos, pos - row_number()
       |    OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dup),
       |runs AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_pos,
       |    CAST(count(*) AS BIGINT) AS n_grams
       |  FROM r GROUP BY doc_id, grp)
       |SELECT doc_id, start_pos, n_grams,
       |  n_grams + ${SubstrW - 1} AS region_tokens
       |FROM runs WHERE n_grams + ${SubstrW - 1} >= $MinRepeatTokens
       |ORDER BY doc_id, start_pos""".stripMargin

  // ---------------------------------------------------------------
  // q169: span-grain benchmark decontamination (overlap removal plan)
  // ---------------------------------------------------------------

  /** Span-grain decontamination — the REMOVAL step q60's doc-grain
    * flag cannot express: GPT-3's appendix-C hygiene (Brown et al.
    * 2020, arXiv:2005.14165) deletes the colliding WINDOW around each
    * benchmark n-gram hit and keeps the rest of the document, because
    * dropping every flagged doc at corpus scale throws away orders of
    * magnitude more tokens than actually overlap. Here: any
    * [[SubstrW]]-token training-doc window whose md5 also occurs in
    * the benchmark slice (q60's deterministic tenth, doc_id % 10 = 7)
    * is a contaminated span; per training doc the removed-token count
    * is the exact interval union of those spans ([[spanUnionStats]],
    * the q168 Σ min(W, gap) collapse). Benchmark docs themselves are
    * not output rows — they are the reference set, not the corpus.
    *
    * Scale shape: the gram stream rides the native shuffle-free
    * [[graft.functions.SubstrGrams.substrGramHashes]] expression; the
    * benchmark gram set dedups to distinct hashes BEFORE the join (no
    * hot-key amplification — the q60 argument). The join strategy is
    * deliberately LEFT TO AQE: a real eval suite is tiny, qualifies
    * for broadcast, and then the training stream never shuffles at
    * all — but this oracle's synthetic slice is a TENTH of the corpus,
    * so a forced broadcast() hint would ship a corpus-proportional
    * build side and die at scale; size-based planning picks the
    * hash-partitioned semi join there instead (left-semi keeps the
    * stream at occurrence grain either way, no duplication). The
    * interval union windows only the contaminated subset. */
  def q169DecontamSpans(s: SparkSession, d: String): DataFrame =
    decontamSpanStats(Tables.documents(s, d)
      .filter($"text".isNotNull && $"doc_id".isNotNull),
      $"doc_id" % 10 === 7)

  private[graft] def decontamSpanStats(docs: DataFrame,
      isBench: Column): DataFrame = {
    val grams = substrGramRows(docs)
    val bench = grams.filter(isBench).select($"h").distinct()
    // no broadcast() hint: a REAL eval suite is tiny and AQE will pick
    // the broadcast itself, but THIS slice definition (a tenth of the
    // corpus) grows linearly with it — forcing the hint would ship a
    // corpus-proportional build side to every executor and die at
    // scale. Size-based planning is the correct owner of that call.
    val contam = grams.filter(!isBench)
      .join(bench, Seq("h"), "leftsemi")
      .select($"doc_id", $"pos")
    val spans = spanUnionStats(contam, "n_contam_grams")
    docs.filter(!isBench)
      .select($"doc_id", Text.tokenCount($"text").cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"n_contam_grams", lit(0L)).as("n_contam_grams"),
        coalesce($"n_removed_tokens", lit(0L)).as("n_removed_tokens"),
        ($"n_tokens" - coalesce($"n_removed_tokens", lit(0L)))
          .as("n_kept_tokens"))
      .orderBy($"doc_id")
  }

  val q169DecontamSpansSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
       |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    md5(list_aggregate(w[i+1:i+$SubstrW], 'string_agg', ' ')) AS h
       |  FROM ws, UNNEST(range(0, greatest(len(w) - ${SubstrW - 1}, 0)))
       |    AS t(i)),
       |bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 10 = 7),
       |r AS (SELECT g.doc_id, g.pos FROM g JOIN bench b ON b.h = g.h
       |      WHERE g.doc_id % 10 <> 7),
       |r2 AS (SELECT doc_id, coalesce(least($SubstrW, pos -
       |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)), $SubstrW)
       |    AS covered FROM r),
       |sp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contam_grams,
       |    CAST(sum(covered) AS BIGINT) AS n_removed_tokens
       |  FROM r2 GROUP BY doc_id)
       |SELECT d.doc_id, CAST($tcSql AS BIGINT) AS n_tokens,
       |  coalesce(sp.n_contam_grams, CAST(0 AS BIGINT)) AS n_contam_grams,
       |  coalesce(sp.n_removed_tokens, CAST(0 AS BIGINT))
       |    AS n_removed_tokens,
       |  CAST($tcSql AS BIGINT) - coalesce(sp.n_removed_tokens,
       |    CAST(0 AS BIGINT)) AS n_kept_tokens
       |FROM documents d LEFT JOIN sp ON sp.doc_id = d.doc_id
       |WHERE d.text IS NOT NULL AND d.doc_id IS NOT NULL
       |  AND d.doc_id % 10 <> 7
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q170: exact substring dedup as a REMOVER (redacted corpus)
  // ---------------------------------------------------------------

  /** The remover q168's census plans for: each document's text with
    * every duplicated span EXCISED — the lexically-first occurrence
    * keeps its bytes, every later occurrence of a [[SubstrW]]-token
    * window loses the covered tokens, and survivors rejoin with single
    * spaces. This is the output a training run actually consumes
    * (ExactSubstr's "remove the repeated sequence", Lee et al. 2021);
    * the green hash proves the interval arithmetic END TO END on the
    * corpus bytes, not just on the counts: n_kept_tokens here is
    * derived from the redacted STRING (token count of kept_text) and
    * must equal q168's count-side n_kept_tokens (EngineSpec invariant).
    *
    * Scale shape: the removal relation ([[substrRemovedSpans]] —
    * shuffle-free gram stream, map-side census) aggregates to ONE row
    * per affected doc (sorted span-start array; bounded by the doc's
    * own gram count, the shingleArrays class), doc-grain joins back to
    * the corpus, and the native `redact_spans` expression rebuilds the
    * kept text in a single two-pointer byte pass inside codegen — the
    * corpus is never exploded to token rows, never shuffled. The
    * declarative token-grain anti-join formulation lives only in the
    * DuckDB mirror (and EngineSpec's equality case). */
  def q170SubstrRedact(s: SparkSession, d: String): DataFrame =
    substrRedact(Tables.documents(s, d)
      .filter($"text".isNotNull && $"doc_id".isNotNull))

  private[graft] def substrRedact(docs: DataFrame): DataFrame = {
    val spans = substrRemovedSpans(docs)
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"pos".cast("long"))).as("starts"))
    // n_kept_tokens comes from the POSITION algebra (the same
    // Σ min(W, gap) union as q168, here folded over the sorted starts
    // array — the -W sentinel makes the first span contribute exactly
    // W), NOT from re-tokenizing kept_text: a string round-trip cannot
    // represent a surviving EMPTY token (trailing/double space), so a
    // doc whose only survivor is one empty token has kept_text = ""
    // yet n_kept_tokens = 1 — counts stay q168-consistent (EngineSpec
    // pins both the invariant and this edge), text stays byte-exact
    val unionLen = expr(
      s"""aggregate(starts,
         |  named_struct('prev', CAST(-$SubstrW AS BIGINT),
         |               'acc', CAST(0 AS BIGINT)),
         |  (st, x) -> named_struct('prev', x,
         |    'acc', st.acc + least(CAST($SubstrW AS BIGINT), x - st.prev)),
         |  st -> st.acc)""".stripMargin)
    docs.join(spans, Seq("doc_id"), "left")
      .select($"doc_id",
        Text.tokenCount($"text").cast("long").as("n_tokens"),
        coalesce(unionLen, lit(0L)).as("n_removed"),
        graft.functions.SubstrGrams.redactSpans($"text",
          coalesce($"starts", array().cast("array<bigint>")))
          .as("kept_text"))
      .select($"doc_id", $"n_tokens",
        ($"n_tokens" - $"n_removed").as("n_kept_tokens"),
        $"kept_text")
      .orderBy($"doc_id")
  }

  val q170SubstrRedactSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
       |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    md5(list_aggregate(w[i+1:i+$SubstrW], 'string_agg', ' ')) AS h,
       |    doc_id * $SubstrPosShift + i AS occ
       |  FROM ws, UNNEST(range(0, greatest(len(w) - ${SubstrW - 1}, 0)))
       |    AS t(i)),
       |c AS (SELECT h, min(occ) AS first_occ FROM g
       |      GROUP BY h HAVING count(*) > 1),
       |r AS (SELECT g.doc_id, g.pos FROM g JOIN c ON c.h = g.h
       |      WHERE g.occ > c.first_occ),
       |cov AS (SELECT DISTINCT r.doc_id, r.pos + u.j AS t
       |        FROM r, UNNEST(range(0, $SubstrW)) AS u(j)),
       |toks AS (SELECT doc_id, CAST(i AS BIGINT) AS t, w[i+1] AS tok
       |         FROM ws, UNNEST(range(0, len(w))) AS tt(i)),
       |kept AS (SELECT tk.doc_id,
       |    string_agg(tk.tok, ' ' ORDER BY tk.t) AS kept_text
       |  FROM toks tk LEFT JOIN cov
       |    ON cov.doc_id = tk.doc_id AND cov.t = tk.t
       |  WHERE cov.t IS NULL GROUP BY tk.doc_id),
       |r2 AS (SELECT doc_id, coalesce(least($SubstrW, pos -
       |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)), $SubstrW)
       |    AS covered FROM r),
       |sp AS (SELECT doc_id, CAST(sum(covered) AS BIGINT) AS n_removed
       |       FROM r2 GROUP BY doc_id)
       |SELECT d.doc_id, CAST($tcSql AS BIGINT) AS n_tokens,
       |  CAST($tcSql AS BIGINT) - coalesce(sp.n_removed, CAST(0 AS BIGINT))
       |    AS n_kept_tokens,
       |  coalesce(k.kept_text, '') AS kept_text
       |FROM documents d
       |LEFT JOIN kept k ON k.doc_id = d.doc_id
       |LEFT JOIN sp ON sp.doc_id = d.doc_id
       |WHERE d.text IS NOT NULL AND d.doc_id IS NOT NULL
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q145: boilerplate n-gram census (cross-document repetition)
  // ---------------------------------------------------------------

  /** Boilerplate detection — the C4-style "same line in many pages"
    * filter re-expressed on the word stream: a 5-gram appearing in at
    * least max(3, 1% of documents) DISTINCT documents is boilerplate
    * (headers, footers, navigation chrome), and every document reports
    * how much of its gram stream that set covers. Cross-document
    * repetition — the complement of q61 (within-doc) and q93
    * (across-time novelty). The threshold is corpus-RELATIVE: an
    * absolute cutoff silently degrades into "everything matches" as
    * the corpus grows past it. Scale shape: the gram census runs at
    * vocabulary grain (map-side combined), the boilerplate set is
    * mass-bounded (sum of doc-counts = |doc-gram pairs|, so at most
    * 100 x avg grams/doc survive a 1%-of-docs cutoff — broadcastable
    * by construction, AQE left to pick it), and the corpus stream is
    * scanned once per side of the flagging join. */
  def q145Boilerplate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter($"text".isNotNull)
    val grams = ngramRows(docs, 5)
    val tot = docs.agg(count(lit(1)).as("total_docs"))
    val bp = grams.distinct()
      .groupBy($"sh").agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(tot))
      .filter($"nd" >= greatest(lit(3L), expr("total_docs div 100")))
      .select($"sh", lit(1L).as("is_bp"))
    val perDoc = grams.join(bp, Seq("sh"), "left")
      .groupBy($"doc_id").agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce($"is_bp", lit(0L))).as("n_bp_grams"))
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_bp_grams", lit(0L)).as("n_bp_grams"),
        when(coalesce($"n_grams", lit(0L)) === 0L, lit(0L))
          .otherwise(expr("n_bp_grams * 1000000 div n_grams"))
          .as("bp_ppm"))
      .orderBy($"doc_id")
  }

  val q145BoilerplateSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE text IS NOT NULL),
       |gr AS (SELECT doc_id, w[CAST(i+1 AS INT)] || ' ' ||
       |    w[CAST(i+2 AS INT)] || ' ' || w[CAST(i+3 AS INT)] || ' ' ||
       |    w[CAST(i+4 AS INT)] || ' ' || w[CAST(i+5 AS INT)] AS sh
       |  FROM ws, UNNEST(range(0, len(w) - 4)) AS t(i)),
       |tt AS (SELECT count(*) AS total_docs FROM documents
       |  WHERE text IS NOT NULL),
       |bp AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS nd
       |    FROM gr GROUP BY sh), tt
       |  WHERE nd >= greatest(3, total_docs // 100)),
       |pd AS (SELECT gr.doc_id, count(*) AS n_grams,
       |    CAST(sum(CASE WHEN bp.sh IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_bp
       |  FROM gr LEFT JOIN bp ON gr.sh = bp.sh GROUP BY gr.doc_id)
       |SELECT d.doc_id, CAST(coalesce(pd.n_grams, 0) AS BIGINT)
       |    AS n_grams,
       |  coalesce(pd.n_bp, 0) AS n_bp_grams,
       |  CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 0
       |    ELSE coalesce(pd.n_bp, 0) * 1000000 // pd.n_grams END
       |    AS bp_ppm
       |FROM documents d LEFT JOIN pd USING (doc_id)
       |WHERE d.text IS NOT NULL ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q138: diversified top-k (per-source quota then global rank)
  // ---------------------------------------------------------------

  private val DivPerSource = 2
  private val DivTopK = 10

  /** Diversified ranking — search/recommendation's "best results, but
    * not all from one site": global top-10 documents by quality
    * subject to ≤2 per source. Two bounded stages: per-source top-2 by
    * (quality grid desc, doc_id) through TopKPerKey (≤2 rows per
    * source per partition cross the exchange), then a global
    * TakeOrdered over the |sources|·2 survivors — no global sort of
    * the corpus at any point. Quality on the 1e-4 grid makes every
    * comparison integer, so the selected SET is cross-engine
    * deterministic, not just the scores. */
  def q138DiversifiedTopK(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter($"text".isNotNull)
      .select($"doc_id", $"source",
        floor(Text.qualityScore($"text") * 1e4 + 0.5).cast("long").as("q4"))
    val perSource = graft.plans.TopK.perKey(
      docs, Seq($"source"), Seq($"q4".desc, $"doc_id"), DivPerSource)
    perSource
      .orderBy($"q4".desc, $"doc_id")
      .limit(DivTopK)
      .select($"doc_id", $"source", ($"q4" / 1e4).as("quality"))
  }

  val q138DiversifiedTopKSql: String =
    s"""WITH dq AS (SELECT doc_id, source,
       |    CAST(floor(($qualitySql) * 1e4 + 0.5) AS BIGINT) AS q4
       |  FROM documents WHERE text IS NOT NULL),
       |ps AS (SELECT doc_id, source, q4,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY q4 DESC, doc_id) AS rn
       |  FROM dq)
       |SELECT doc_id, source, q4 / 1e4 AS quality
       |FROM ps WHERE rn <= $DivPerSource
       |ORDER BY q4 DESC, doc_id LIMIT $DivTopK""".stripMargin

  // ---------------------------------------------------------------
  // q132: feature hashing (the hashing-trick featurizer)
  // ---------------------------------------------------------------

  private val FhBuckets = 1024L
  private val FhTopK = 30

  /** The hashing trick — fixed-width token featurization with no
    * vocabulary to fit, ship, or broadcast (the property that makes it
    * THE featurizer for streaming/distributed training): token →
    * md5-derived bucket in [0, 1024) with an md5-derived ±1 sign (the
    * signed variant that keeps collision noise zero-mean). Emitted:
    * the top-30 buckets by document frequency with their signed weight
    * sums and collision census (distinct tokens per bucket) — the
    * numbers a feature-quality audit reads. Everything is exact
    * integers; the per-bucket relation is bounded by construction. */
  def q132FeatureHash(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).filter($"text".isNotNull)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
    val hashed = toks.select($"doc_id", $"w",
      (conv(substring(md5(concat(lit("fh:"), $"w")), 1, 8), 16, 10)
        .cast("long") % FhBuckets).as("bucket"),
      when(conv(substring(md5(concat(lit("fs:"), $"w")), 1, 8), 16, 10)
        .cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L)).as("sign"))
    hashed
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum($"sign").as("signed_weight"),
        countDistinct($"w").as("n_distinct_tokens"))
      .orderBy($"n_tokens".desc, $"bucket")
      .limit(FhTopK)
  }

  val q132FeatureHashSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents WHERE text IS NOT NULL),
       |h AS (SELECT w,
       |    CAST('0x' || substring(md5('fh:' || w), 1, 8) AS BIGINT)
       |      % $FhBuckets AS bucket,
       |    CASE WHEN CAST('0x' || substring(md5('fs:' || w), 1, 8) AS BIGINT)
       |      % 2 = 0 THEN 1 ELSE -1 END AS sign
       |  FROM toks)
       |SELECT bucket, count(*) AS n_tokens,
       |  CAST(sum(sign) AS BIGINT) AS signed_weight,
       |  CAST(count(DISTINCT w) AS BIGINT) AS n_distinct_tokens
       |FROM h GROUP BY bucket
       |ORDER BY n_tokens DESC, bucket LIMIT $FhTopK""".stripMargin

  // ---------------------------------------------------------------
  // q166: DSIR importance weights (hashed n-gram likelihood ratios)
  // ---------------------------------------------------------------

  private val DsirBuckets = 64L
  private val DsirTarget = "src0"

  /** Per-(doc, hashed-feature-bucket) counts — the DSIR feature space:
    * word tokens hashed to [[DsirBuckets]] buckets by md5 (the q132
    * hashing trick, its own salt). Carries `source` for the target/raw
    * split. */
  private def dsirDocBuckets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter($"text".isNotNull)
      .select($"doc_id", $"source", explode(split($"text", " ")).as("w"))
      .select($"doc_id", $"source",
        (conv(substring(md5(concat(lit("ds:"), $"w")), 1, 8), 16, 10)
          .cast("long") % DsirBuckets).as("b"))
      .groupBy($"doc_id", $"source", $"b").agg(count(lit(1)).as("c"))

  /** Laplace-smoothed bucket numerators (+1) for the target and raw
    * unigram models — a ≤[[DsirBuckets]]-row relation. */
  private def dsirBucketStats(db: DataFrame): DataFrame =
    db.groupBy($"b").agg(
      (sum($"c") + 1L).as("rn"),
      (sum(when($"source" === DsirTarget, $"c").otherwise(0L)) + 1L).as("tn"))

  /** The smoothing denominators (1 row): total tokens + B per model. */
  private def dsirTotals(db: DataFrame): DataFrame =
    db.agg(
      (sum($"c") + DsirBuckets).as("rd"),
      (sum(when($"source" === DsirTarget, $"c").otherwise(0L)) + DsirBuckets)
        .as("td"))

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every document by the log likelihood
    * ratio of a TARGET-domain hashed-n-gram model over the RAW-corpus
    * model; high-weight docs "look like the target" and get sampled
    * into the training mix. Target here: the `src0` source slice —
    * deterministic, and exactly the estimator shape (two smoothed
    * multinomials over [[DsirBuckets]] md5-hashed word buckets).
    * lw(doc) = Σ_b c_b·(ln tn_b − ln rn_b) + n·(ln rd − ln td), with
    * every ln term gridded to a 1e-6 integer BEFORE the sum (rule 2:
    * order-free exact aggregation — the q68 entropy shape) and both
    * grid sites registered in [[lnBoundaryHazards]] (rule 8: ln is the
    * repo's only non-correctly-rounded primitive).
    *
    * Scale shape: one corpus-grain token pass into a map-side-combined
    * (doc, bucket) aggregate (≤ B rows per doc); the bucket models are
    * a broadcast ≤B-row relation and a 1-row total — nothing about the
    * "model" is fitted state, so executors need no side channel at any
    * cluster size. */
  def q166DsirWeights(s: SparkSession, d: String): DataFrame = {
    val db = dsirDocBuckets(s, d)
    val terms = db
      .join(broadcast(dsirBucketStats(db)), "b")
      .groupBy($"doc_id").agg(
        sum($"c").as("n_feat"),
        sum(floor($"c" * (log($"tn".cast("double")) -
          log($"rn".cast("double"))) * 1e6 + 0.5).cast("long")).as("sgrid"))
    terms.crossJoin(broadcast(dsirTotals(db)))
      .select($"doc_id", $"n_feat",
        (($"sgrid" + floor($"n_feat" * (log($"rd".cast("double")) -
          log($"td".cast("double"))) * 1e6 + 0.5).cast("long")) / 1e6)
          .as("lw"))
      .orderBy($"doc_id")
  }

  val q166DsirWeightsSql: String =
    s"""WITH toks AS (SELECT doc_id, source,
       |    unnest(string_split(text, ' ')) AS w
       |  FROM documents WHERE text IS NOT NULL),
       |db AS (SELECT doc_id, source,
       |    CAST('0x' || substring(md5('ds:' || w), 1, 8) AS BIGINT)
       |      % $DsirBuckets AS b, count(*) AS c
       |  FROM toks GROUP BY 1, 2, 3),
       |bs AS (SELECT b, sum(c) + 1 AS rn,
       |    sum(CASE WHEN source = '$DsirTarget' THEN c ELSE 0 END) + 1 AS tn
       |  FROM db GROUP BY b),
       |tot AS (SELECT sum(c) + $DsirBuckets AS rd,
       |    sum(CASE WHEN source = '$DsirTarget' THEN c ELSE 0 END)
       |      + $DsirBuckets AS td
       |  FROM db),
       |terms AS (SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_feat,
       |    sum(CAST(floor(d.c * (ln(CAST(bs.tn AS DOUBLE))
       |      - ln(CAST(bs.rn AS DOUBLE))) * 1e6 + 0.5) AS BIGINT)) AS sgrid
       |  FROM db d JOIN bs USING (b) GROUP BY d.doc_id)
       |SELECT t.doc_id, t.n_feat,
       |  (t.sgrid + CAST(floor(t.n_feat * (ln(CAST(tot.rd AS DOUBLE))
       |    - ln(CAST(tot.td AS DOUBLE))) * 1e6 + 0.5) AS BIGINT)) / 1e6 AS lw
       |FROM terms t, tot ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q129: token-budget curation (best docs under a budget)
  // ---------------------------------------------------------------

  private val CurationBudget = 100000L // tokens

  /** Budgeted curation — "fill a 100k-token training budget with the
    * highest-quality documents": the greedy quality-descending take,
    * computed WITHOUT ever sorting documents. Quality lives on the 1e-4
    * grid (q69), so the budget cut happens on the bounded quality-level
    * histogram: per-level token sums, a running sum in quality-DESC
    * order over the ≤10⁴-row histogram, and the cutoff = the lowest
    * level that still fits entirely. Docs strictly above the cutoff are
    * selected via one broadcast-scalar filter pass; a partially-
    * affordable boundary level is EXCLUDED whole, never silently
    * half-taken — doc-grain tie-breaking inside one level is a
    * quota-sample (q72) composition, not hidden inside this operator.
    * Census per source over selected docs. */
  def q129BudgetCuration(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).filter($"text".isNotNull)
      .select($"doc_id", $"source",
        Text.tokenCount($"text").cast("long").as("n_tokens"),
        floor(Text.qualityScore($"text") * 1e4 + 0.5).cast("long").as("q4"))
    val wDesc = Window.orderBy($"q4".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val levels = docs.groupBy($"q4")
      .agg(sum($"n_tokens").as("ltok"))
      .select($"q4", $"ltok",
        coalesce(sum($"ltok").over(wDesc), lit(0L)).as("above"))
    // cutoff: lowest level whose ENTIRE mass (plus everything better)
    // fits the budget
    val cut = levels.filter($"above" + $"ltok" <= CurationBudget)
      .agg(coalesce(min($"q4"), lit(Long.MaxValue)).as("cut_q4"))
    docs.crossJoin(broadcast(cut))
      .filter($"q4" >= $"cut_q4")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"),
        min($"q4").as("min_q4"))
      .select($"source", $"n_docs", $"n_tokens", ($"min_q4" / 1e4).as("min_quality"))
      .orderBy($"source")
  }

  val q129BudgetCurationSql: String =
    s"""WITH dq AS (SELECT doc_id, source,
       |    CAST($tcSql AS BIGINT) AS n_tokens,
       |    CAST(floor(($qualitySql) * 1e4 + 0.5) AS BIGINT) AS q4
       |  FROM documents WHERE text IS NOT NULL),
       |lv AS (SELECT q4, sum(n_tokens) AS ltok FROM dq GROUP BY q4),
       |ab AS (SELECT q4, ltok,
       |    coalesce(sum(ltok) OVER (ORDER BY q4 DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
       |  FROM lv),
       |ct AS (SELECT coalesce(min(q4), 9223372036854775807) AS cut_q4
       |  FROM ab WHERE above + ltok <= $CurationBudget)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  min(q4) / 1e4 AS min_quality
       |FROM dq, ct WHERE q4 >= cut_q4
       |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q126: small-file compaction planning (bin packing by running sum)
  // ---------------------------------------------------------------

  private val CompactTarget = 65536L // bytes per output group
  private val CompactBucket = 4096L  // manifest rows per phase-1 bucket

  /** Compaction planning — the lakehouse maintenance job that rolls
    * thousands of small files into target-sized outputs: files (played
    * by the documents manifest, size = n_chars) are packed in key order
    * into groups by EXCLUSIVE-running-sum div target — deterministic,
    * single-pass, and every group except possibly the last is
    * guaranteed to reach the target (a group closes only once its
    * cumulative bytes pass it). A manifest is one row PER FILE — at
    * corpus scale that is still billions of rows, so the running sum is
    * the q111/q137 problem and runs two-phase: coarse doc_id-range
    * buckets give a bounded carry-in relation (exclusive prefix over
    * the bucket axis), and the per-file window partitions by bucket —
    * no corpus-grain single-partition exchange anywhere. The oracle is
    * the SINGLE-phase global window — the decomposition is what the
    * hash proves (q111 discipline). Census: per-group file count and
    * byte totals, proving pack boundaries exactly. */
  def q126CompactionPlan(s: SparkSession, d: String): DataFrame = {
    val files = Tables.documents(s, d)
      .select($"doc_id", $"n_chars",
        expr(s"doc_id div $CompactBucket").as("bkt"))
    val wBkts = Window.orderBy($"bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = files.groupBy($"bkt").agg(sum($"n_chars").as("bchars"))
      .select($"bkt",
        coalesce(sum($"bchars").over(wBkts), lit(0L)).as("carry_in"))
    val wIn = Window.partitionBy($"bkt").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .join(broadcast(carry), "bkt")
      .select($"doc_id", $"n_chars",
        ($"carry_in" + coalesce(sum($"n_chars").over(wIn), lit(0L)))
          .as("cum"))
      .select($"doc_id", $"n_chars",
        expr(s"cum div $CompactTarget").as("grp"))
      .groupBy($"grp")
      .agg(count(lit(1)).as("n_files"), sum($"n_chars").as("n_bytes"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"grp")
  }

  val q126CompactionPlanSql: String =
    s"""WITH c AS (SELECT doc_id, n_chars,
       |    CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      // $CompactTarget AS BIGINT) AS grp
       |  FROM documents)
       |SELECT grp, count(*) AS n_files,
       |  CAST(sum(n_chars) AS BIGINT) AS n_bytes,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY grp ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------
  // q119: collocation detection (bigram lift, transcendental-free PMI)
  // ---------------------------------------------------------------

  private val LiftMinSupport = 5L
  private val LiftTopK = 50

  /** Collocation mining — which word pairs co-occur far beyond chance —
    * the phrase-detection pass (word2vec-style phrase merging, index
    * phrase dictionaries) of a text pipeline. Scored by LIFT,
    * P(ab) / (P(a)·P(b)), which ranks identically to PMI (its log)
    * without the cross-engine transcendental hazard (README rule 8) —
    * the engine's deliberate alternative to an ln-based PMI. All counts
    * are exact integers; the score is division/multiplication of
    * < 2^53 exacts (correctly rounded, identical op order both
    * engines), so even the RANKING is deterministic. Shape: bigram
    * pairs are built POSITIONALLY in one projection — the split array
    * zipped with its own tail (`zip_with` over two slices) before the
    * explode — so adjacency never needs a window: zero token-grain
    * exchange, the pairing stays inside whole-stage codegen, and the
    * only shuffles are the bigram/unigram aggregations themselves.
    * Vocabulary-sized joins are NOT hand-broadcast (q67 df discipline
    * — a web-corpus vocabulary isn't broadcastable); totals are 1-row
    * broadcasts; top-k is a bounded TakeOrdered, never a global
    * sort. */
  def q119BigramLift(s: SparkSession, d: String): DataFrame = {
    val ws = Tables.documents(s, d).filter($"text".isNotNull)
      .select(split($"text", " ").as("w"))
    val bi = ws
      .select(explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), " +
          "(a, b) -> named_struct('w1', a, 'w2', b))")).as("p"))
      .groupBy($"p.w1".as("w1"), $"p.w2".as("w2"))
      .agg(count(lit(1)).as("n_ab"))
    val uni = ws.select(explode($"w").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("n_w"))
    val totals = uni.agg(sum($"n_w").as("n_tok"))
      .crossJoin(broadcast(bi.agg(sum($"n_ab").as("n_bi"))))
    val lift = ($"n_ab" / $"n_bi") /
      (($"n_a" / $"n_tok") * ($"n_b" / $"n_tok"))
    bi.filter($"n_ab" >= LiftMinSupport)
      .join(uni.select($"w".as("w1"), $"n_w".as("n_a")), "w1")
      .join(uni.select($"w".as("w2"), $"n_w".as("n_b")), "w2")
      .crossJoin(broadcast(totals))
      .select(concat_ws(" ", $"w1", $"w2").as("bigram"),
        $"n_ab", $"n_a", $"n_b", lift.as("lift_raw"))
      .orderBy($"lift_raw".desc, $"bigram")
      .limit(LiftTopK)
      .select($"bigram", $"n_ab", $"n_a", $"n_b",
        Relational.stableRound($"lift_raw", 4).as("lift"))
  }

  val q119BigramLiftSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE text IS NOT NULL),
       |toks AS (SELECT w[CAST(i + 1 AS INT)] AS w
       |  FROM ws, UNNEST(range(0, len(w))) AS t(i)),
       |bi AS (SELECT w[CAST(i + 1 AS INT)] AS w1,
       |    w[CAST(i + 2 AS INT)] AS w2, count(*) AS n_ab
       |  FROM ws, UNNEST(range(0, len(w) - 1)) AS t(i)
       |  WHERE len(w) >= 2 GROUP BY 1, 2),
       |uni AS (SELECT w, count(*) AS n_w FROM toks GROUP BY 1),
       |tot AS (SELECT (SELECT sum(n_w) FROM uni) AS n_tok,
       |    (SELECT sum(n_ab) FROM bi) AS n_bi),
       |sc AS (SELECT b.w1 || ' ' || b.w2 AS bigram, b.n_ab,
       |    ua.n_w AS n_a, ub.n_w AS n_b,
       |    (CAST(b.n_ab AS DOUBLE) / t.n_bi) /
       |      ((CAST(ua.n_w AS DOUBLE) / t.n_tok) *
       |       (CAST(ub.n_w AS DOUBLE) / t.n_tok)) AS lift_raw
       |  FROM bi b
       |  JOIN uni ua ON ua.w = b.w1
       |  JOIN uni ub ON ub.w = b.w2
       |  CROSS JOIN tot t
       |  WHERE b.n_ab >= $LiftMinSupport)
       |SELECT bigram, CAST(n_ab AS BIGINT) AS n_ab,
       |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  ${Relational.sqlRound("lift_raw", 4)} AS lift
       |FROM sc ORDER BY lift_raw DESC, bigram LIMIT $LiftTopK""".stripMargin

  // ---------------------------------------------------------------
  // q118: URL canonicalization (web-corpus key normalization)
  // ---------------------------------------------------------------

  /** URL canonicalization — the key-normalization step every web-corpus
    * dedup runs before grouping by URL (rescrapes of one page differ in
    * host case, explicit default ports, query-param order, and
    * fragments). Messy URLs are rendered deterministically from the
    * documents table (the q45/q101 derive-messy-from-clean trick:
    * md5-chosen case-mangled hosts, md5-chosen explicit `:80`,
    * params deliberately unsorted, a fragment on every URL), then
    * canonicalized by actually PARSING them back — regex host/path/
    * query extraction in the Java∩RE2-identical subset, lowercase
    * host, strip the default port, split + SORT + rejoin the params,
    * drop the fragment. The per-source bit_xor fingerprint of every
    * canonical string (q109's order-free checksum) proves the exact
    * output strings against DuckDB's independent parse. Pure narrow
    * per-row work + a bounded census. */
  def q118UrlCanon(s: SparkSession, d: String): DataFrame = {
    def mdFlag(salt: String, m: Int): Column =
      conv(substring(md5(concat(lit(salt), $"doc_id".cast("string"))),
        1, 8), 16, 10).cast("long") % m === 0
    val lang = coalesce($"lang", lit("und"))
    val host = when(mdFlag("uh:", 2),
      concat(lit("WWW."), upper($"source"), lit(".EXAMPLE.COM")))
      .otherwise(concat(lit("www."), $"source", lit(".example.com")))
    val url = concat(
      lit("http://"), host,
      when(mdFlag("up:", 3), lit(":80")).otherwise(lit("")),
      lit("/docs/"), $"doc_id".cast("string"),
      lit("?z="), lang, lit("&a="), ($"doc_id" % 7).cast("string"),
      lit("#sec"), ($"doc_id" % 5).cast("string"))
    // the real operator: parse the messy URL back into components
    val hostP = lower(regexp_extract($"url", "^http://([^/:?#]+)", 1))
    val pathP = regexp_extract($"url", "^http://[^/?#]+(/[^?#]*)", 1)
    val queryP = regexp_extract($"url", "\\?([^#]*)", 1)
    val canon = concat(lit("http://"), hostP, pathP, lit("?"),
      array_join(sort_array(split(queryP, "&")), "&"))
    Tables.documents(s, d)
      .select($"doc_id", $"source", url.as("url"))
      // repair census derives from the URL STRING (what a real
      // normalizer sees), not from the render-side flags
      .select($"source", $"url",
        canon.as("canon"),
        $"url".startsWith("http://WWW.").as("case_fixed"),
        $"url".contains(":80/").as("port_stripped"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_urls"),
        sum(when($"case_fixed", 1L).otherwise(0L)).as("n_case_fixed"),
        sum(when($"port_stripped", 1L).otherwise(0L)).as("n_port_stripped"),
        sum(when($"canon" =!= $"url", 1L).otherwise(0L)).as("n_changed"),
        expr("bit_xor(cast(conv(substring(md5(canon), 1, 15), 16, 10) " +
          "as long))").as("fingerprint"))
      .orderBy($"source")
  }

  val q118UrlCanonSql: String =
    """WITH u AS (SELECT doc_id, source,
      |    'http://' ||
      |    (CASE WHEN (CAST('0x' || substring(md5('uh:' ||
      |         CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0)
      |      THEN 'WWW.' || upper(source) || '.EXAMPLE.COM'
      |      ELSE 'www.' || source || '.example.com' END) ||
      |    (CASE WHEN (CAST('0x' || substring(md5('up:' ||
      |         CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 3 = 0)
      |      THEN ':80' ELSE '' END) ||
      |    '/docs/' || CAST(doc_id AS VARCHAR) ||
      |    '?z=' || coalesce(lang, 'und') ||
      |    '&a=' || CAST(doc_id % 7 AS VARCHAR) ||
      |    '#sec' || CAST(doc_id % 5 AS VARCHAR) AS url
      |  FROM documents),
      |p AS (SELECT source, url,
      |    'http://' ||
      |    lower(regexp_extract(url, '^http://([^/:?#]+)', 1)) ||
      |    regexp_extract(url, '^http://[^/?#]+(/[^?#]*)', 1) || '?' ||
      |    array_to_string(list_sort(string_split(
      |      regexp_extract(url, '\?([^#]*)', 1), '&')), '&') AS canon,
      |    (url LIKE 'http://WWW.%') AS case_fixed,
      |    (url LIKE '%:80/%') AS port_stripped
      |  FROM u)
      |SELECT source, count(*) AS n_urls,
      |  CAST(sum(CASE WHEN case_fixed THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_case_fixed,
      |  CAST(sum(CASE WHEN port_stripped THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_port_stripped,
      |  CAST(sum(CASE WHEN canon <> url THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_changed,
      |  bit_xor(CAST('0x' || substring(md5(canon), 1, 15) AS BIGINT))
      |    AS fingerprint
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q153: epoch shuffle plan (deterministic per-epoch reshuffling)
  // ---------------------------------------------------------------

  private val ShuffleEpochs = 3
  private val ShuffleShards = 16L

  /** Multi-epoch training shuffle plan — the op that gives a training
    * run a DIFFERENT, REPRODUCIBLE document order every epoch without
    * ever materializing a permutation: each (epoch, doc) gets an
    * md5-derived 60-bit sort/shard key, shard = key mod S. A loader
    * reads shard files in key order; reshuffling between epochs is free
    * (the key changes with the epoch seed) and any shard is
    * reconstructible from (epoch, S) alone — the property that matters
    * when a 1000-node training job restarts mid-epoch. Census per
    * (epoch, shard): docs, token mass (loader balance), key range, and
    * the order-free key fingerprint proving exact membership. One
    * narrow projection per epoch, one aggregation — no window, no
    * join. */
  def q153EpochShuffle(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter($"text".isNotNull)
      .select($"doc_id", Text.tokenCount($"text").cast("long").as("n_tokens"),
        explode(expr(s"sequence(1, $ShuffleEpochs)")).as("epoch"))
      .select($"epoch", $"n_tokens",
        expr("cast(conv(substring(md5(concat('ep', cast(epoch as string), " +
          "':', cast(doc_id as string))), 1, 15), 16, 10) as long)").as("h"))
      .select($"epoch", $"n_tokens", $"h", ($"h" % ShuffleShards).as("shard"))
      .groupBy($"epoch", $"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"),
        min($"h").as("min_key"), max($"h").as("max_key"),
        expr("bit_xor(h)").as("member_fp"))
      .orderBy($"epoch", $"shard")

  val q153EpochShuffleSql: String =
    s"""WITH h AS (SELECT epoch, CAST($tcSql AS BIGINT) AS n_tokens,
       |    CAST('0x' || substring(md5('ep' || CAST(epoch AS VARCHAR) || ':'
       |      || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |  FROM documents, UNNEST(range(1, ${ShuffleEpochs + 1})) AS t(epoch)
       |  WHERE text IS NOT NULL)
       |SELECT CAST(epoch AS INT) AS epoch, h % $ShuffleShards AS shard,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  min(h) AS min_key, max(h) AS max_key, bit_xor(h) AS member_fp
       |FROM h GROUP BY 1, 2 ORDER BY epoch, shard""".stripMargin

  // ---------------------------------------------------------------
  // q154: deletion propagation (right-to-be-forgotten fan-out)
  // ---------------------------------------------------------------

  private val TombMod = 20L // md5-chosen 5% of docs play the tombstones

  /** Right-to-be-forgotten propagation — given a tombstone list (an
    * md5-chosen 5% of docs plays it), the deletion CENSUS across every
    * derived relation a corpus pipeline maintains: the corpus itself,
    * the q74 chunk relation, the staged near-dup pair relation (a pair
    * dies when EITHER endpoint does), and the q99 segment-dedup groups
    * (a multi-occurrence segment-fingerprint group "dies" when deletion
    * leaves it single-occurrence — the canonical-election impact on the
    * dedup index). This is the compliance pass every 100 TB corpus must
    * run cheaply: chunk impact is arithmetic on token counts (no chunk
    * rescan), pair impact is a pure md5 predicate on the pair endpoints
    * (no join — tombstone membership is a function of the key), group
    * impact one fingerprint aggregate at segment grain. Census rows:
    * (relation, rows_before, rows_removed, rows_after). */
  def q154DeletePropagation(s: SparkSession, d: String): DataFrame = {
    def tombOf(c: Column): Column =
      conv(substring(md5(concat(lit("del:"), c.cast("string"))), 1, 8),
        16, 10).cast("long") % TombMod === 7
    val docs = Tables.documents(s, d).filter($"text".isNotNull)
      .select($"doc_id", $"text", tombOf($"doc_id").as("tomb"))
    def census(rel: String, before: Column, removed: Column)(df: DataFrame) =
      df.agg(before.as("rows_before"), removed.as("rows_removed"))
        .select(lit(rel).as("relation"), $"rows_before", $"rows_removed")
    val dC = census("documents", count(lit(1)),
      coalesce(sum(when($"tomb", 1L).otherwise(0L)), lit(0L)))(docs)
    // chunk impact: q74's chunk-count arithmetic — no explode, no
    // rescan of the chunk relation
    val n = size(split($"text", " "))
    val nChunks = when(n <= ChunkSize, lit(1L))
      .otherwise(lit(1L) + ceil((n - ChunkSize) / ChunkStride.toDouble).cast("long"))
    val cC = census("chunks", coalesce(sum($"nc"), lit(0L)),
      coalesce(sum(when($"tomb", $"nc").otherwise(0L)), lit(0L)))(
      docs.select($"tomb", nChunks.as("nc")))
    // pair impact: tombstone membership is a FUNCTION of the endpoint
    // id, so no join against the tombstone list at all
    val pC = census("near_dup_pairs", count(lit(1)),
      coalesce(sum(when(tombOf($"d1") || tombOf($"d2"), 1L).otherwise(0L)),
        lit(0L)))(
      pairsStaged(s, d).filter($"jaccard" >= ClusterJaccard)
        .select($"d1", $"d2"))
    // dup-group impact at q99's segment grain: a multi-occurrence
    // segment group that deletion reduces below 2 occurrences stops
    // being a dedup decision at all
    val segs = docs
      .select($"doc_id", $"tomb", split($"text", " ").as("toks"))
      .withColumn("n", size($"toks"))
      .filter($"n" > 0)
      .select($"tomb", $"toks",
        explode(sequence(lit(0L),
          ceil($"n" / SegLen.toDouble).cast("long") - 1)).as("seg_idx"))
      .select($"tomb",
        md5(array_join(
          slice($"toks", ($"seg_idx" * SegLen + 1).cast("int"), lit(SegLen)),
          " ")).as("fp"))
    val gC = census("dup_groups",
      coalesce(sum(when($"n" >= 2, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when($"n" >= 2 && ($"n" - $"nt") < 2, 1L).otherwise(0L)),
        lit(0L)))(
      segs.groupBy($"fp")
        .agg(count(lit(1)).as("n"),
          sum(when($"tomb", 1L).otherwise(0L)).as("nt")))
    dC.unionByName(cC).unionByName(pC).unionByName(gC)
      .select($"relation", $"rows_before", $"rows_removed",
        ($"rows_before" - $"rows_removed").as("rows_after"))
      .orderBy($"relation")
  }

  val q154DeletePropagationSql: String = {
    def tombSql(c: String): String =
      s"(CAST('0x' || substring(md5('del:' || CAST($c AS VARCHAR)), 1, 8) " +
        s"AS BIGINT) % $TombMod = 7)"
    s"""WITH $nearPairCtes,
       |d AS (SELECT doc_id, text, ${tombSql("doc_id")} AS tomb
       |  FROM documents WHERE text IS NOT NULL),
       |doc_c AS (SELECT 'documents' AS relation, count(*) AS rows_before,
       |    CAST(coalesce(sum(CASE WHEN tomb THEN 1 ELSE 0 END), 0) AS BIGINT)
       |      AS rows_removed
       |  FROM d),
       |ch AS (SELECT tomb, CASE
       |    WHEN len(string_split(text, ' ')) <= $ChunkSize THEN 1
       |    ELSE 1 + CAST(ceil((len(string_split(text, ' ')) - $ChunkSize)
       |      / ${ChunkStride}.0) AS BIGINT) END AS nc
       |  FROM d),
       |chunk_c AS (SELECT 'chunks' AS relation,
       |    CAST(coalesce(sum(nc), 0) AS BIGINT) AS rows_before,
       |    CAST(coalesce(sum(CASE WHEN tomb THEN nc ELSE 0 END), 0) AS BIGINT)
       |      AS rows_removed
       |  FROM ch),
       |pair_c AS (SELECT 'near_dup_pairs' AS relation,
       |    count(*) AS rows_before,
       |    CAST(coalesce(sum(CASE WHEN ${tombSql("d1")} OR ${tombSql("d2")}
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS rows_removed
       |  FROM near),
       |sws AS (SELECT tomb, string_split(text, ' ') AS w,
       |    len(string_split(text, ' ')) AS n FROM d
       |  WHERE len(string_split(text, ' ')) > 0),
       |sgs AS (SELECT tomb,
       |    md5(array_to_string(w[sg * $SegLen + 1 : sg * $SegLen + $SegLen],
       |      ' ')) AS fp
       |  FROM sws, UNNEST(range(0, CAST(ceil(n / ${SegLen}.0) AS BIGINT)))
       |    AS t(sg)),
       |g AS (SELECT fp, count(*) AS n,
       |    sum(CASE WHEN tomb THEN 1 ELSE 0 END) AS nt
       |  FROM sgs GROUP BY 1),
       |grp_c AS (SELECT 'dup_groups' AS relation,
       |    CAST(coalesce(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS rows_before,
       |    CAST(coalesce(sum(CASE WHEN n >= 2 AND n - nt < 2 THEN 1 ELSE 0
       |      END), 0) AS BIGINT) AS rows_removed
       |  FROM g)
       |SELECT relation, rows_before, rows_removed,
       |  rows_before - rows_removed AS rows_after
       |FROM (SELECT * FROM doc_c UNION ALL SELECT * FROM chunk_c
       |      UNION ALL SELECT * FROM pair_c UNION ALL SELECT * FROM grp_c)
       |ORDER BY relation""".stripMargin
  }

  // ---------------------------------------------------------------
  // q155: padding-waste plan (pow2 length bucketing for batching)
  // ---------------------------------------------------------------

  /** Dynamic-batching padding plan — the batch-shaping decision every
    * training/inference loader makes: documents grouped into
    * power-of-two length buckets (pad-to-bucket), per bucket the doc
    * count, real token mass, padded mass (bucket x docs) and the
    * padding waste in ppm — the number that says whether bucketed
    * batching is worth it vs pad-to-global-max. The bucket is computed
    * with INTEGER BIT ARITHMETIC (binary-representation length via
    * `bin`, exact power-of-two test via n AND n-1), never log2 — the
    * README rule-8 transcendental hazard does not exist here, and both
    * engines agree bit-for-bit. One narrow projection + one bounded
    * aggregation (<= 64 bucket rows at ANY corpus scale); the waste
    * ratio runs in double only after the exact integer sums (rule
    * 7). */
  def q155PaddingPlan(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter($"text".isNotNull)
      .select(Text.tokenCount($"text").cast("long").as("n"))
      .filter($"n" > 0)
      .select($"n",
        when(($"n".bitwiseAND($"n" - 1)) === 0, $"n")
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), " +
            "cast(length(bin(n)) as int))")).as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"n").as("token_mass"))
      .select($"bucket", $"n_docs", $"token_mass",
        ($"bucket" * $"n_docs").as("padded_mass"),
        floor(($"bucket" * $"n_docs" - $"token_mass") * 1000000.0 /
          ($"bucket" * $"n_docs")).cast("long").as("waste_ppm"))
      .orderBy($"bucket")

  val q155PaddingPlanSql: String =
    s"""WITH t AS (SELECT CAST($tcSql AS BIGINT) AS n
       |  FROM documents WHERE text IS NOT NULL AND $tcSql > 0),
       |b AS (SELECT n, CASE WHEN (n & (n - 1)) = 0 THEN n
       |    ELSE (CAST(1 AS BIGINT) << length(bin(n))) END AS bucket
       |  FROM t),
       |agg AS (SELECT bucket, count(*) AS n_docs,
       |    CAST(sum(n) AS BIGINT) AS token_mass
       |  FROM b GROUP BY bucket)
       |SELECT bucket, n_docs, token_mass,
       |  bucket * n_docs AS padded_mass,
       |  CAST(floor((bucket * n_docs - token_mass) * 1000000.0 /
       |    (bucket * n_docs)) AS BIGINT) AS waste_ppm
       |FROM agg ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------
  // q178: model-based quality filter (fixed-weight linear inference)
  // ---------------------------------------------------------------

  /** Model-based quality filtering — the classifier arm of the curation
    * stack (CCNet / GPT-3-style "trained filter" inference, vs q175's
    * hand rules): each document is scored by a FIXED pretrained linear
    * model over the q20 feature set and labeled keep/drop by the
    * decision boundary. Inference only — training a model is not a
    * query; shipping fixed weights and running the affine score at
    * corpus scale is.
    *
    * Determinism: every feature is an exact-integer grid (token count;
    * 1e-4 grids of avg-token-length, punctuation and stopword ratios —
    * the q175 grids), the weights are integers in micro-logit units,
    * and the score is a pure integer dot product — no doubles anywhere
    * until display, no transcendental sigmoid (monotone in the logit,
    * so the boundary decision needs only the integer sign).
    *
    * Scale: one narrow projection computes all features in a single
    * scan; no shuffle at all until the final ORDER BY (display
    * convention). At 100 TB this is the cheapest possible shape: a
    * map-only scoring pass. */
  def q178QualityLogit(s: SparkSession, d: String): DataFrame =
    featureGrid(Tables.documents(s, d).filter($"text".isNotNull), $"doc_id")
      .select($"doc_id", logitCol.as("logit_micro"))
      .select($"doc_id", $"logit_micro",
        when($"logit_micro" >= 0L, "keep").otherwise("drop").as("label"))
      .orderBy($"doc_id")

  val q178QualityLogitSql: String =
    s"""WITH f AS (SELECT ${featureGridSql("doc_id,")}
       |  FROM documents WHERE text IS NOT NULL),
       |sc AS (SELECT doc_id, $logitSql AS logit_micro FROM f)
       |SELECT doc_id, CAST(logit_micro AS BIGINT) AS logit_micro,
       |  CASE WHEN logit_micro >= 0 THEN 'keep' ELSE 'drop' END AS label
       |FROM sc ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q185: classifier calibration vs the rule-based reference
  // ---------------------------------------------------------------

  private val CalibBucket = 20000.0

  /** Classifier EVALUATION — the calibration table a curation team
    * reads before trusting q178's model over q175's rules: documents
    * bucketed by model logit, and per bucket the rate at which the
    * independent Gopher rule battery passes them. A well-calibrated
    * filter shows the rule-pass rate rising monotonically with the
    * logit; a flat curve means the model learned nothing the rules
    * measure. Both classifiers run in the SAME single scan.
    *
    * Determinism: the bucket is floor(logit/20000) on an exact-integer
    * logit — a one-ulp-safe floor (quotients at bucket boundaries are
    * exact, elsewhere ≥ 5e-5 from the flip point; Spark's `div`
    * truncation would disagree with DuckDB's `//` floor on negative
    * logits, so both sides use the explicit double floor); the rule
    * flags are q175's gridded-integer decisions.
    *
    * Scale: one corpus scan, one map-side-combinable aggregate onto
    * the bounded logit-bucket axis. */
  def q185Calibration(s: SparkSession, d: String): DataFrame = {
    val f = featureGrid(Tables.documents(s, d).filter($"text".isNotNull))
      .select(logitCol.as("logit_micro"),
        (!ruleViolCols.reduce(_ || _)).as("rules_pass"))
    f.select(floor($"logit_micro" / CalibBucket).cast("long").as("bucket"),
        $"rules_pass")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"rules_pass", 1L).otherwise(0L)).as("n_rules_pass"))
      .select($"bucket",
        when($"bucket" >= 0L, "keep").otherwise("drop").as("model_label"),
        $"n_docs", $"n_rules_pass",
        stableRound($"n_rules_pass" / $"n_docs", 6).as("rules_pass_rate"))
      .orderBy($"bucket")
  }

  val q185CalibrationSql: String =
    s"""WITH f AS (SELECT ${featureGridSql("")}
       |  FROM documents WHERE text IS NOT NULL),
       |sc AS (SELECT
       |    $logitSql AS logit_micro,
       |    NOT (${ruleViolSql.mkString(" OR ")}) AS rules_pass
       |  FROM f),
       |b AS (SELECT CAST(floor(logit_micro / $CalibBucket) AS BIGINT)
       |    AS bucket, rules_pass FROM sc)
       |SELECT bucket,
       |  CASE WHEN bucket >= 0 THEN 'keep' ELSE 'drop' END AS model_label,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN rules_pass THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_rules_pass,
       |  ${sqlRound(
          "CAST(sum(CASE WHEN rules_pass THEN 1 ELSE 0 END) AS BIGINT)" +
            " / count(*)", 6)} AS rules_pass_rate
       |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------
  // q179: k-anonymity census over quasi-identifiers (governance)
  // ---------------------------------------------------------------

  private val KAnonK = 5L

  /** k-anonymity audit — the release-governance check run before a
    * corpus (or its metadata) ships: group documents by the
    * quasi-identifier tuple (lang, source, length band) and report
    * each equivalence class's size k plus whether it falls below the
    * [[KAnonK]] re-identification floor (Sweeney 2002, public). A
    * class of size < k means its members are re-identifiable from the
    * quasi-identifiers alone and must be suppressed or generalized
    * before release; the census IS the suppression work-list.
    *
    * Scale: the quasi-identifier axes are bounded (|langs| × |sources|
    * × length bands), so this is one map-side-combinable hash
    * aggregate to a metadata-sized result at any corpus size. */
  def q179KAnonymity(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter($"text".isNotNull)
      .select($"lang", $"source",
        expr("CAST(n_chars AS BIGINT) div 50").as("len_band"))
      .groupBy($"lang", $"source", $"len_band")
      .agg(count(lit(1)).as("k"))
      .select($"lang", $"source", $"len_band", $"k",
        ($"k" < KAnonK).as("at_risk"))
      .orderBy($"lang", $"source", $"len_band")

  val q179KAnonymitySql: String =
    s"""SELECT lang, source, CAST(n_chars AS BIGINT) // 50 AS len_band,
       |  CAST(count(*) AS BIGINT) AS k,
       |  (count(*) < $KAnonK) AS at_risk
       |FROM documents WHERE text IS NOT NULL
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------
  // q199: content-defined chunking + chunk-grain dedup census
  // ---------------------------------------------------------------

  /** Boundary keep-prefix: md5(bigram) < "08" ⇔ first byte < 0x08 —
    * an exact p = 1/32, mean chunk ≈ 32 tokens. */
  private val CdcHexCut = "08"

  /** Content-defined chunking (the LBFS/FastCDC recipe, public —
    * Muthitacharoen et al. SOSP 2001) + chunk-grain dedup census —
    * the INSERTION-RESISTANT dedup grain the fixed-boundary family
    * cannot reach: q99's fixed 8-token segments all shift after a
    * one-token insertion (zero segments still match), while CDC cuts
    * where the CONTENT says to (boundary after position i iff the
    * md5 of the (tokᵢ, tokᵢ₊₁) bigram falls under [[CdcHexCut]]), so
    * boundaries re-synchronize immediately after an edit and every
    * untouched chunk still dedups. Census: per doc the chunk count,
    * token mass, and how many chunks (and tokens) duplicate a
    * corpus-earlier chunk (first occurrence by the q99 packed
    * (doc, chunk) integer key).
    *
    * Determinism: boundary decisions are md5-prefix string compares
    * (identical lowercase hex both engines); chunk fingerprints are
    * md5 over the pos-ordered token join (the q182 ordered-string
    * discipline); first-occurrence picks ride one packed BIGINT min
    * (rule 9, [[SegIdxSpan]] bound documented at the constant).
    *
    * Scale: one Generate per doc; boundary flags are a single lead
    * over the doc-partitioned token window; the chunk aggregate's
    * collect_list is bounded by the chunk size (geometric, mean 1/p =
    * 32 — content-keyed, the ratchet-registered argument); the dedup
    * census is one map-side-combined fingerprint aggregate (q22's
    * grain). No pairwise work. */
  def q199CdcChunks(s: SparkSession, d: String): DataFrame =
    cdcChunkStats(Tables.documents(s, d)
      .filter($"text".isNotNull && $"doc_id".isNotNull))

  private[graft] def cdcChunkStats(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val toks = docs.select($"doc_id",
      posexplode(split($"text", " ")).as(Seq("pos", "tok")))
    val flagged = toks.withColumn("bf",
      coalesce(md5(concat($"tok", lit(" "), lead($"tok", 1).over(w),
        lit(":cdc"))) < CdcHexCut, lit(false)))
    val chunks = flagged
      .withColumn("chunk_id", coalesce(
        sum(when($"bf", 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy($"doc_id", $"chunk_id")
      .agg(md5(array_join(transform(
          array_sort(collect_list(struct($"pos", $"tok"))),
          x => x.getField("tok")), " ")).as("fp"),
        count(lit(1)).as("clen"))
    val census = chunks.groupBy($"fp")
      .agg(count(lit(1)).as("n_occ"),
        min($"doc_id" * SegIdxSpan + $"chunk_id").as("first_occ"))
      .filter($"n_occ" > 1)
    val dups = chunks.join(census, Seq("fp"))
      .filter($"doc_id" * SegIdxSpan + $"chunk_id" > $"first_occ")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_dup_chunks"), sum($"clen").as("dup_tokens"))
    chunks.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum($"clen").as("n_tokens"))
      .join(dups, Seq("doc_id"), "left")
      .select($"doc_id", $"n_chunks", $"n_tokens",
        coalesce($"n_dup_chunks", lit(0L)).as("n_dup_chunks"),
        coalesce($"dup_tokens", lit(0L)).as("dup_tokens"))
      .orderBy($"doc_id")
  }

  val q199CdcChunksSql: String =
    s"""WITH toks AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS tok
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |        WHERE text IS NOT NULL AND doc_id IS NOT NULL),
       |    UNNEST(range(1, len(w) + 1)) AS t(i)),
       |b AS (SELECT doc_id, pos, tok,
       |    coalesce(md5(tok || ' ' ||
       |      lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
       |      || ':cdc') < '$CdcHexCut', false) AS bf
       |  FROM toks),
       |c AS (SELECT doc_id, pos, tok,
       |    coalesce(sum(CASE WHEN bf THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS chunk_id
       |  FROM b),
       |ch AS (SELECT doc_id, chunk_id,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS fp,
       |    CAST(count(*) AS BIGINT) AS clen
       |  FROM c GROUP BY 1, 2),
       |cen AS (SELECT fp, min(doc_id * $SegIdxSpan + chunk_id) AS first_occ
       |  FROM ch GROUP BY fp HAVING count(*) > 1),
       |dups AS (SELECT ch.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_dup_chunks,
       |    CAST(sum(ch.clen) AS BIGINT) AS dup_tokens
       |  FROM ch JOIN cen ON cen.fp = ch.fp
       |  WHERE ch.doc_id * $SegIdxSpan + ch.chunk_id > cen.first_occ
       |  GROUP BY 1),
       |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |    CAST(sum(clen) AS BIGINT) AS n_tokens
       |  FROM ch GROUP BY doc_id)
       |SELECT p.doc_id, p.n_chunks, p.n_tokens,
       |  coalesce(d.n_dup_chunks, CAST(0 AS BIGINT)) AS n_dup_chunks,
       |  coalesce(d.dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens
       |FROM perdoc p LEFT JOIN dups d ON d.doc_id = p.doc_id
       |ORDER BY p.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q195: l-diversity census (governance, next to q179's k-anonymity)
  // ---------------------------------------------------------------

  private val LDivL = 3L

  /** l-diversity audit (Machanavajjhala et al., TKDD 2007, public) —
    * the governance check k-anonymity alone cannot make: a
    * quasi-identifier class can be large (k-anonymous) yet carry only
    * ONE sensitive value, so membership still discloses it (the
    * homogeneity attack). Quasi-identifiers here are (source, length
    * band) — q179's axes MINUS the sensitive attribute — and `lang`
    * plays the sensitive role: per class, size k and the count of
    * distinct sensitive values l, flagged when l < [[LDivL]].
    * Together with q179 this is the release work-list pair: suppress
    * small classes (k) AND homogeneous ones (l).
    *
    * Scale: same bounded-axes shape as q179 — one map-side-combinable
    * aggregate (count-distinct over the bounded lang set) to
    * metadata-sized output at any corpus size. */
  def q195LDiversity(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter($"text".isNotNull)
      .select($"source",
        expr("CAST(n_chars AS BIGINT) div 50").as("len_band"), $"lang")
      .groupBy($"source", $"len_band")
      .agg(count(lit(1)).as("k"), countDistinct($"lang").as("l_distinct"))
      .select($"source", $"len_band", $"k", $"l_distinct",
        ($"l_distinct" < LDivL).as("at_risk"))
      .orderBy($"source", $"len_band")

  val q195LDiversitySql: String =
    s"""SELECT source, CAST(n_chars AS BIGINT) // 50 AS len_band,
       |  CAST(count(*) AS BIGINT) AS k,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS l_distinct,
       |  (count(DISTINCT lang) < $LDivL) AS at_risk
       |FROM documents WHERE text IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q180: BM25 top-k retrieval (Okapi weighting, bounded-heap top-k)
  // ---------------------------------------------------------------

  private val Bm25TopK = 10
  // k1 = 1.2, b = 0.75 — the standard Okapi constants, carried below
  // as EXACT integer multiples of 1/20: k1·(1−b) = 6/20, k1·b = 18/20,
  // (k1+1) = 44/20, so the saturation denominator clears to integers.
  private[graft] val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "spark", 0L -> "hash",
    1L -> "window", 1L -> "merge",
    2L -> "table", 2L -> "scan")

  /** The (query_id, doc_id, term, tf, df, dl, n_docs, a_sum) relation
    * behind q180 — shared by the query and the idf boundary-hazard
    * guard. `a_sum` is the exact corpus token total, so avgdl = a/N
    * stays a rational and the BM25 saturation denominator
    * tf + k1·(1−b) + k1·b·dl/avgdl clears to the all-integer form
    * (20·a·tf + 6·a + 18·dl·N) / (20·a). */
  private def bm25Terms(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter($"text".isNotNull)
    val qt = broadcast(
      s.createDataFrame(Bm25Queries).toDF("query_id", "term"))
    val tf = docs
      .select($"doc_id", explode(Text.tokens($"text")).as("term"))
      .join(qt, "term")
      .groupBy($"query_id", $"term", $"doc_id").agg(count(lit(1)).as("tf"))
    val dfr = tf.select($"term", $"doc_id").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val dl = docs.select($"doc_id", Text.tokenCount($"text").cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("a_sum"))
    tf.join(dfr, "term").join(dl, "doc_id").crossJoin(broadcast(stats))
  }

  /** BM25 top-[[Bm25TopK]] retrieval for a fixed query batch — the
    * lexical-retrieval operator a dedup/decontamination/RAG pipeline
    * runs next to the embedding ANN arm (q27/q28): Okapi BM25
    * (Robertson et al., TREC-3, public) with k1 = 1.2, b = 0.75.
    *
    * Determinism: idf = ln((N − df + ½)/(df + ½) + 1) is the repo's
    * rule-8 transcendental — gridded to a 1e-6 integer per TERM (six
    * terms, so the hazard surface is six values, registered in
    * [[lnBoundaryHazards]] as `q180_idf`). The per-(term, doc) score
    * then runs in doubles built from EXACT integers only, with
    * identical association both engines, and is gridded before the
    * per-query integer sum — order-independent across partitions.
    *
    * Scale: candidate generation is a broadcast semi-join of the token
    * stream against the query-term list (never a vocabulary shuffle);
    * df aggregates only over matched postings; the global (N, Σdl)
    * pair is a 1-row broadcast; and the final top-k runs through the
    * bounded-heap TopKPerKey plan — k rows per (query, partition)
    * cross the exchange, never the full posting lists. */
  def q180Bm25(s: SparkSession, d: String): DataFrame = {
    val scored = bm25Terms(s, d)
      .select($"query_id", $"doc_id",
        floor(log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0)
          * 1e6 + 0.5).cast("long").as("idf_grid"),
        $"tf", $"dl", $"n_docs", $"a_sum")
      .select($"query_id", $"doc_id",
        floor($"idf_grid".cast("double") * ($"tf" * 44.0 * $"a_sum")
          / (lit(20.0) * $"a_sum" * $"tf" + lit(6.0) * $"a_sum"
            + lit(18.0) * $"dl" * $"n_docs") + 0.5)
          .cast("long").as("term_grid"))
    val perDoc = scored.groupBy($"query_id", $"doc_id")
      .agg(sum($"term_grid").as("sg"), count(lit(1)).as("n_terms_hit"))
    val top = graft.plans.TopK.perKey(
      perDoc, Seq($"query_id"), Seq($"sg".desc, $"doc_id"), Bm25TopK)
    val w = Window.partitionBy($"query_id").orderBy($"sg".desc, $"doc_id")
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select($"query_id", $"rank", $"doc_id", $"n_terms_hit",
        ($"sg" / 1e6).as("score"))
      .orderBy($"query_id", $"rank")
  }

  private def bm25QtSql: String =
    Bm25Queries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  val q180Bm25Sql: String =
    s"""WITH qt AS (SELECT CAST(q AS BIGINT) AS query_id, t AS term
       |            FROM (VALUES $bm25QtSql) v(q, t)),
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |         FROM documents WHERE text IS NOT NULL),
       |tf AS (SELECT q.query_id, t.term, t.doc_id,
       |         CAST(count(*) AS BIGINT) AS tf
       |       FROM toks t JOIN qt q USING (term) GROUP BY 1, 2, 3),
       |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |        FROM (SELECT DISTINCT term, doc_id FROM tf) GROUP BY term),
       |dl AS (SELECT doc_id, CAST($tcSql AS BIGINT) AS dl
       |       FROM documents WHERE text IS NOT NULL),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(dl) AS BIGINT) AS a_sum FROM dl),
       |terms AS (SELECT t.query_id, t.doc_id,
       |    CAST(floor(CAST(floor(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5)
       |          + 1.0) * 1e6 + 0.5) AS BIGINT)
       |      * (t.tf * 44.0 * s.a_sum)
       |      / (20.0 * s.a_sum * t.tf + 6.0 * s.a_sum
       |         + 18.0 * l.dl * s.n_docs) + 0.5) AS BIGINT) AS term_grid
       |  FROM tf t JOIN dfr f USING (term) JOIN dl l USING (doc_id)
       |  CROSS JOIN st s),
       |perdoc AS (SELECT query_id, doc_id,
       |    CAST(sum(term_grid) AS BIGINT) AS sg,
       |    CAST(count(*) AS BIGINT) AS n_terms_hit
       |  FROM terms GROUP BY 1, 2),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |         ORDER BY sg DESC, doc_id) AS rn FROM perdoc)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, doc_id, n_terms_hit,
       |  sg / 1e6 AS score
       |FROM rk WHERE rn <= $Bm25TopK
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // q182: inverted-index build (per-term stats + capped posting sample)
  // ---------------------------------------------------------------

  private val PostingsSample = 5

  /** Inverted-index construction — the artifact behind q180's
    * retrieval and every decontamination lookup: per term, the
    * document frequency, collection frequency, and a deterministic
    * [[PostingsSample]]-document posting sample (highest-tf docs,
    * doc_id tie-break) rendered as a comma-joined string.
    *
    * Determinism: the sample membership is an integer (tf, doc_id)
    * rank; the rendered order inside the string is the rank itself, so
    * both engines emit byte-identical postings (the q40 ordered
    * string-agg discipline, but rank-ordered).
    *
    * Scale: tf is one (doc, term) hash aggregate; the per-term rank
    * window partitions BY TERM (per-key, never global); the
    * collect_list aggregates at most [[PostingsSample]] pre-capped
    * rows per term (registered bound in the ScaleSpec ratchet); output
    * is vocabulary-grain — exactly what an index build emits. */
  def q182Postings(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d).filter($"text".isNotNull)
      .select($"doc_id", explode(Text.tokens($"text")).as("term"))
      .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy($"term")
      .agg(count(lit(1)).as("df"), sum($"tf").as("cf"))
    val w = Window.partitionBy($"term").orderBy($"tf".desc, $"doc_id")
    val sample = tf
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= PostingsSample)
      .groupBy($"term")
      .agg(array_join(
        transform(array_sort(collect_list(struct($"rn", $"doc_id"))),
          x => x.getField("doc_id").cast("string")), ",").as("top_docs"))
    stats.join(sample, "term")
      .select($"term", $"df", $"cf", $"top_docs")
      .orderBy($"term")
  }

  val q182PostingsSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |              FROM documents WHERE text IS NOT NULL),
       |tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY 1, 2),
       |stats AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
       |            CAST(sum(tf) AS BIGINT) AS cf
       |          FROM tf GROUP BY term),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY term
       |         ORDER BY tf DESC, doc_id) AS rn FROM tf),
       |smp AS (SELECT term,
       |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS top_docs
       |  FROM rk WHERE rn <= $PostingsSample GROUP BY term)
       |SELECT s.term, s.df, s.cf, m.top_docs
       |FROM stats s JOIN smp m USING (term)
       |ORDER BY s.term""".stripMargin

  // ---------------------------------------------------------------
  // q190: hybrid retrieval fusion (reciprocal-rank fusion of the
  // lexical BM25 arm and the semantic IVF-ANN arm)
  // ---------------------------------------------------------------

  private val RrfC = 60L       // the standard RRF damping constant
  private[graft] val RrfNumQueries = 3L // query ids shared by BOTH arms (0..2)
  private val RrfTopK = 10

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009,
    * public) of the engine's two retrieval arms — how production
    * retrieval for data curation actually consumes them: per query,
    * q180's BM25 lexical top-k and q48's IVF-ANN semantic top-k are
    * interleaved by `score = Σ_arms 1/(C + rank)`, so a document
    * ranked by both arms beats a document ranked high by one. The
    * query identity is shared across arms by the corpus convention
    * doc_id ≡ vec_id (the same alignment q160's cross-modal capstone
    * rides); both arms are restricted to the [[RrfNumQueries]] ids
    * they have in common.
    *
    * Determinism: each reciprocal is the INTEGER 10⁶ div (C + rank)
    * (rank ≤ 10, so the 11 possible values are distinct and exact;
    * both operands non-negative, so Spark's `div` truncation and
    * DuckDB's `//` floor agree — rule 13) and the fused score is an
    * exact integer sum of ≤ 2 terms; the fused rank carries a doc_id
    * tie-break (rule 3).
    *
    * Scale: both arms end in bounded TopKPerKey plans (k rows per
    * query cross their exchanges, never posting lists or inverted
    * lists), so fusion aggregates ≤ 2·k·|Q| rows — metadata-sized at
    * any corpus size; the expensive work is the arms, already proven
    * scale-safe, and fusion adds no corpus-grain pass at all. */
  def q190RrfFusion(s: SparkSession, d: String): DataFrame =
    rrfFusionFrom(
      q180Bm25(s, d).filter($"query_id" < RrfNumQueries)
        .select($"query_id", $"doc_id", $"rank"),
      graft.operators.VectorOps.q48IvfAnn(s, d)
        .filter($"query_id" < RrfNumQueries)
        .select($"query_id", $"neighbor_id".as("doc_id"), $"rank"))

  /** The fusion layer over pre-filtered (query_id, doc_id, rank) arm
    * lists — split from [[q190RrfFusion]] (round 15) so q261 can fuse
    * its ALREADY-CHECKPOINTED arm relations instead of re-embedding
    * the full q180/q48 plans a second time. Same operations, same
    * rows. */
  private[graft] def rrfFusionFrom(lexR: DataFrame,
      semR: DataFrame): DataFrame = {
    val rrf = expr(s"1000000 div ($RrfC + rank)")
    val lex = lexR
      .select($"query_id", $"doc_id", rrf.as("c"),
        $"rank".as("lex_rank"), lit(null).cast("long").as("sem_rank"))
    val sem = semR
      .select($"query_id", $"doc_id", rrf.as("c"),
        lit(null).cast("long").as("lex_rank"), $"rank".as("sem_rank"))
    val fused = lex.unionByName(sem)
      .groupBy($"query_id", $"doc_id")
      .agg(sum($"c").as("rrf_micro"), count(lit(1)).as("n_arms"),
        max($"lex_rank").as("lex_rank"), max($"sem_rank").as("sem_rank"))
    val top = graft.plans.TopK.perKey(
      fused, Seq($"query_id"), Seq($"rrf_micro".desc, $"doc_id"), RrfTopK)
    val w = Window.partitionBy($"query_id")
      .orderBy($"rrf_micro".desc, $"doc_id")
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select($"query_id", $"rank", $"doc_id", $"rrf_micro", $"n_arms",
        $"lex_rank", $"sem_rank")
      .orderBy($"query_id", $"rank")
  }

  /** The mirror COMPOSES the two arms' existing full oracle texts as
    * parenthesized subqueries (nested WITH is legal in DuckDB), so the
    * fused oracle can never drift from the arm oracles it consumes. */
  val q190RrfFusionSql: String =
    s"""WITH lex AS (${q180Bm25Sql}),
       |sem AS (${graft.operators.VectorOps.q48IvfAnnSql}),
       |contrib AS (
       |  SELECT query_id, doc_id, 1000000 // ($RrfC + rank) AS c,
       |    rank AS lex_rank, CAST(NULL AS BIGINT) AS sem_rank
       |  FROM lex WHERE query_id < $RrfNumQueries
       |  UNION ALL
       |  SELECT query_id, neighbor_id AS doc_id, 1000000 // ($RrfC + rank),
       |    CAST(NULL AS BIGINT), rank
       |  FROM sem WHERE query_id < $RrfNumQueries),
       |fused AS (SELECT query_id, doc_id,
       |    CAST(sum(c) AS BIGINT) AS rrf_micro,
       |    CAST(count(*) AS BIGINT) AS n_arms,
       |    max(lex_rank) AS lex_rank, max(sem_rank) AS sem_rank
       |  FROM contrib GROUP BY 1, 2),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |         ORDER BY rrf_micro DESC, doc_id) AS rn FROM fused)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, doc_id, rrf_micro,
       |  n_arms, lex_rank, sem_rank
       |FROM rk WHERE rn <= $RrfTopK
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // q261: hybrid-retrieval robustness eval — RRF vs each single arm
  // ---------------------------------------------------------------

  /** Fused-vs-single-arm evaluation of the q190 hybrid — the
    * MODALITY-ROBUSTNESS reading of reciprocal-rank fusion (Cormack,
    * Clarke &amp; Buettcher, SIGIR 2009, public: RRF's documented win
    * is robustness across query types, not beating the best arm on
    * its home turf). Per query, two modality anchors: the exact
    * lexical #1 (BM25 rank 1 — q180 IS the exact lexical ranking)
    * and the exact semantic #1 (q27 brute-force cosine rank 1 —
    * EXTERNAL to the approximate IVF arm, so IVF error is charged
    * honestly). Each ranked list — lexical arm, semantic arm, fused —
    * scores the micro-scaled reciprocal rank (1e6 div rank, 0 if
    * absent) of BOTH anchors; the robust score is the WORSE of the
    * two (least). A single arm ranks its own anchor first but
    * typically misses the other modality's anchor entirely
    * (robust = 0); the fused list carries each arm's head near its
    * own head — an arm's rank-1 doc contributes floor(1e6/61) =
    * 16393 micro, the maximum any single-arm doc can score, so only
    * both-arms docs (&gt;= 2*floor(1e6/70) = 28570) can outrank it —
    * so fused holds BOTH anchors in its top 10 and its robust score
    * is live at every SF. EngineSpec asserts fused_robust &gt;=
    * max(arm robusts) per query on the live corpus plus a crafted
    * strict-win trace.
    *
    * Determinism: ranks are the arms' proven unique-tie-break ranks;
    * reciprocal ranks are rule-13 integer floor divisions; an anchor
    * absent from a list scores 0 on both engines (coalesced max over
    * an empty CASE set).
    *
    * Scale: the arms (and the fused list nesting them) are exactly
    * q180/q48/q27/q190's plans; the eval layer joins
    * |queries|x10-row relations — metadata-sized at any corpus. */
  def q261HybridEval(s: SparkSession, d: String): DataFrame = {
    // round 15: each input below is a |queries|×10-row (or 1-row-per-
    // query) relation whose LINEAGE is a full corpus-grain arm plan
    // (q180 / q48 / q27, and fused nests q180+q48 AGAIN); the eval
    // layer scores two anchors per list, so lazily every arm plan was
    // re-embedded (and partially re-evaluated) per scoring branch.
    // Eager checkpoints pin every arm to exactly one evaluation.
    val lex = q180Bm25(s, d).filter($"query_id" < RrfNumQueries)
      .select($"query_id", $"doc_id", $"rank")
      .localCheckpoint(true)
    val sem = graft.operators.VectorOps.q48IvfAnn(s, d)
      .filter($"query_id" < RrfNumQueries)
      .select($"query_id", $"neighbor_id".as("doc_id"), $"rank")
      .localCheckpoint(true)
    // fused is BUILT FROM the checkpointed arms (rrfFusionFrom is the
    // same fusion layer q190 runs) — the arm plans evaluate exactly
    // once across the whole eval
    val fused = rrfFusionFrom(lex, sem)
      .select($"query_id", $"doc_id", $"rank")
      .localCheckpoint(true)
    val lexTop = lex.filter($"rank" === 1L)
      .select($"query_id", $"doc_id".as("t_lex"))
    val semTop = graft.operators.VectorOps.q27KnnCosine(s, d)
      .filter($"query_id" < RrfNumQueries && $"rank" === 1L)
      .select($"query_id", $"neighbor_id".as("t_sem"))
      .localCheckpoint(true)
    hybridEval(lex, sem, fused, lexTop, semTop)
  }

  /** The eval layer over any (lex, sem, fused) rank lists and
    * (query, anchor) pairs — the spec replays it on crafted lists;
    * q261 feeds it the live arms. */
  private[graft] def hybridEval(lex: DataFrame, sem: DataFrame,
      fused: DataFrame, lexTop: DataFrame, semTop: DataFrame): DataFrame = {
    def rr(list: DataFrame, tag: String): DataFrame = list
      .join(lexTop, Seq("query_id"), "left")
      .join(semTop, Seq("query_id"), "left")
      .groupBy($"query_id")
      .agg(
        coalesce(max(when($"doc_id" === $"t_lex",
          expr("1000000 div rank"))), lit(0L)).as(s"${tag}_rr_lex"),
        coalesce(max(when($"doc_id" === $"t_sem",
          expr("1000000 div rank"))), lit(0L)).as(s"${tag}_rr_sem"))
      .withColumn(s"${tag}_robust",
        least(col(s"${tag}_rr_lex"), col(s"${tag}_rr_sem")))
    fused.select($"query_id").distinct()
      .join(rr(lex, "lex"), Seq("query_id"), "left")
      .join(rr(sem, "sem"), Seq("query_id"), "left")
      .join(rr(fused, "fused"), Seq("query_id"), "left")
      .select(($"query_id" +:
        Seq("lex", "sem", "fused").flatMap(t => Seq(
          coalesce(col(s"${t}_rr_lex"), lit(0L)).as(s"${t}_rr_lex"),
          coalesce(col(s"${t}_rr_sem"), lit(0L)).as(s"${t}_rr_sem"),
          coalesce(col(s"${t}_robust"), lit(0L)).as(s"${t}_robust")))): _*)
      .orderBy($"query_id")
  }

  /** Mirror: composes the two arm oracles, the exact-kNN oracle, and
    * the q190 fusion oracle as nested subqueries (the q190 discipline
    * — the eval can never drift from the lists it evaluates). */
  val q261HybridEvalSql: String = {
    def rrCte(name: String, listCte: String): String =
      s"""$name AS (SELECT l.query_id,
         |    coalesce(max(CASE WHEN l.doc_id = t.t_lex
         |      THEN 1000000 // l.rank END), 0) AS rr_lex,
         |    coalesce(max(CASE WHEN l.doc_id = u.t_sem
         |      THEN 1000000 // l.rank END), 0) AS rr_sem
         |  FROM $listCte l
         |  LEFT JOIN ltop t USING (query_id)
         |  LEFT JOIN stop u USING (query_id)
         |  GROUP BY 1)""".stripMargin
    s"""WITH lexq AS (SELECT query_id, doc_id, rank FROM ($q180Bm25Sql)
       |              WHERE query_id < $RrfNumQueries),
       |semq AS (SELECT query_id, neighbor_id AS doc_id, rank
       |         FROM (${graft.operators.VectorOps.q48IvfAnnSql})
       |         WHERE query_id < $RrfNumQueries),
       |fusedq AS (SELECT query_id, doc_id, rank FROM ($q190RrfFusionSql)),
       |ltop AS (SELECT query_id, doc_id AS t_lex FROM lexq WHERE rank = 1),
       |stop AS (SELECT query_id, neighbor_id AS t_sem
       |         FROM (${graft.operators.VectorOps.q27KnnCosineSql})
       |         WHERE query_id < $RrfNumQueries AND rank = 1),
       |${rrCte("lr", "lexq")},
       |${rrCte("sr", "semq")},
       |${rrCte("fr", "fusedq")}
       |SELECT q.query_id,
       |  coalesce(lr.rr_lex, 0) AS lex_rr_lex,
       |  coalesce(lr.rr_sem, 0) AS lex_rr_sem,
       |  coalesce(least(lr.rr_lex, lr.rr_sem), 0) AS lex_robust,
       |  coalesce(sr.rr_lex, 0) AS sem_rr_lex,
       |  coalesce(sr.rr_sem, 0) AS sem_rr_sem,
       |  coalesce(least(sr.rr_lex, sr.rr_sem), 0) AS sem_robust,
       |  coalesce(fr.rr_lex, 0) AS fused_rr_lex,
       |  coalesce(fr.rr_sem, 0) AS fused_rr_sem,
       |  coalesce(least(fr.rr_lex, fr.rr_sem), 0) AS fused_robust
       |FROM (SELECT DISTINCT query_id FROM fusedq) q
       |LEFT JOIN lr USING (query_id)
       |LEFT JOIN sr USING (query_id)
       |LEFT JOIN fr USING (query_id)
       |ORDER BY q.query_id""".stripMargin
  }


  // ---------------------------------------------------------------
  // q205: exact set-similarity join via prefix filtering (AllPairs)
  // ---------------------------------------------------------------

  /** Jaccard threshold for the exact similarity join, as an exact
    * rational TauNum/TauDen (shared by the prefix length and the keep
    * test, so no double ever decides membership). 0.8 matches q50's
    * near-dup cut — the exact join and the MinHash pipeline answer
    * the same question at the same threshold, over the SAME 3-word
    * shingle sets. */
  private val TauNum = 4L
  private val TauDen = 5L

  /** EXACT set-similarity self-join over the dedup family's 3-shingle
    * sets via prefix filtering (Chaudhuri et al. ICDE 2006; Bayardo
    * et al. WWW 2007 "AllPairs"; Xiao et al. WWW 2008 PPJoin) — the
    * deterministic complement of the MinHash pipeline (q23/q24): zero
    * false negatives BY CONSTRUCTION, no bands, no signatures, no
    * bucket caps. Each doc's distinct shingles are ordered by
    * ascending document frequency (rarest first, ties on the shingle
    * — a strict global total order); a pair with Jaccard ≥ τ MUST
    * share a shingle within each side's first m − ⌈τ·m⌉ + 1 shingles
    * of that order, so only prefix shingles generate candidates —
    * and prefix shingles are each doc's RAREST, which is what bounds
    * the candidate buckets at corpus scale (a shingle shared by many
    * docs is frequent, hence pushed out of prefixes). Verification
    * counts the exact intersection and keeps pairs by the
    * pure-integer cross-multiplied test
    * (TauNum+TauDen)·|A∩B| ≥ TauNum·(|A|+|B|) — no doubles anywhere;
    * the reported similarity is an integer-ppm floor division.
    * Scale shape: one shingle-grain distinct + one
    * shingle-vocabulary-grain df join (not hand-broadcast — q67
    * discipline); the self-join runs on the ~20%-of-shingles prefix
    * relation keyed by rare shingles; verification joins carry only
    * candidate docs' shingle sets. */
  private[graft] def prefixSimPairs(docs: DataFrame): DataFrame = {
    val tok = shingleRows(docs).distinct().localCheckpoint(true)
    val dfr = tok.groupBy($"sh").agg(count(lit(1)).as("df"))
    val rk = tok.join(dfr, "sh")
      .select($"doc_id", $"sh",
        row_number().over(Window.partitionBy($"doc_id")
          .orderBy($"df", $"sh")).as("rn"),
        count(lit(1)).over(Window.partitionBy($"doc_id")).as("m"))
    val pfx = rk
      // integer `div`, not Column./ (which is double division): the
      // prefix length must be the exact ceil via floor-division
      .filter($"rn" <=
        expr(s"m - (m * $TauNum + $TauDen - 1) div $TauDen + 1"))
      .select($"doc_id", $"sh")
    val cand = pfx.select($"sh", $"doc_id".as("da"))
      .join(pfx.select($"sh", $"doc_id".as("db")), "sh")
      .filter($"da" < $"db")
      .select($"da", $"db").distinct()
    val msz = tok.groupBy($"doc_id").agg(count(lit(1)).as("m"))
    val inter = cand
      .join(tok.select($"doc_id".as("da"), $"sh"), "da")
      .join(tok.select($"doc_id".as("db"), $"sh"), Seq("db", "sh"))
      .groupBy($"da", $"db").agg(count(lit(1)).as("inter"))
    inter
      .join(msz.select($"doc_id".as("da"), $"m".as("ma")), "da")
      .join(msz.select($"doc_id".as("db"), $"m".as("mb")), "db")
      .filter(lit(TauNum + TauDen) * $"inter" >=
        lit(TauNum) * ($"ma" + $"mb"))
      .select($"da", $"db", $"ma", $"mb", $"inter",
        expr("(inter * 1000000) div (ma + mb - inter)").as("jacc_ppm"))
      .orderBy($"da", $"db")
  }

  def q205PrefixSimJoin(s: SparkSession, d: String): DataFrame =
    prefixSimPairs(Tables.documents(s, d))

  val q205PrefixSimJoinSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |       WHERE len(string_split(text, ' ')) >= 3),
       |tok AS (SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
       |       FROM ws, UNNEST(range(0, len(w) - 2)) AS t(i)),
       |dfr AS (SELECT sh, count(*) AS df FROM tok GROUP BY sh),
       |rk AS (SELECT t.doc_id, t.sh,
       |    row_number() OVER (PARTITION BY t.doc_id
       |      ORDER BY d.df, t.sh) AS rn,
       |    count(*) OVER (PARTITION BY t.doc_id) AS m
       |  FROM tok t JOIN dfr d USING (sh)),
       |pfx AS (SELECT doc_id, sh FROM rk
       |  WHERE rn <= m - (m * $TauNum + $TauDen - 1) // $TauDen + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM pfx a JOIN pfx b
       |    ON a.sh = b.sh AND a.doc_id < b.doc_id),
       |msz AS (SELECT doc_id, count(*) AS m FROM tok GROUP BY doc_id),
       |iv AS (SELECT c.da, c.db, count(*) AS inter
       |  FROM cand c
       |  JOIN tok t1 ON t1.doc_id = c.da
       |  JOIN tok t2 ON t2.doc_id = c.db AND t2.sh = t1.sh
       |  GROUP BY c.da, c.db)
       |SELECT i.da, i.db, m1.m AS ma, m2.m AS mb, i.inter,
       |  (i.inter * 1000000) // (m1.m + m2.m - i.inter) AS jacc_ppm
       |FROM iv i
       |JOIN msz m1 ON m1.doc_id = i.da
       |JOIN msz m2 ON m2.doc_id = i.db
       |WHERE ${TauNum + TauDen} * i.inter >= $TauNum * (m1.m + m2.m)
       |ORDER BY i.da, i.db""".stripMargin



  // ---------------------------------------------------------------
  // q208: 2-D skyline (Pareto frontier) over quality × length
  // ---------------------------------------------------------------

  /** Skyline query (Börzsönyi et al. ICDE 2001) over the corpus's two
    * curation axes: gridded quality (the 1e-4 integer grid every
    * quality operator shares) and token count. A document is on the
    * frontier iff NO other document is ≥ in both dimensions and > in
    * one — the "longest high-quality documents" set a curation run
    * actually inspects. Computed scale-correctly on the BOUNDED
    * quality-grid histogram, never by pairwise dominance: per-bucket
    * max length, a strictly-higher-quality running max over the ≤10⁴
    * bucket axis (the q69 bounded-grid window class), then one
    * broadcast join back; a doc survives iff it attains its bucket
    * max AND beats every higher bucket's max (ties inside a bucket
    * all survive — equal points do not dominate each other).
    * Scale shape: one corpus scan to the grid, O(grid) window work,
    * one broadcast join — dominance never touches doc pairs. */
  def q208SkylineFrontier(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      $"doc_id",
      floor(Text.qualityScore($"text") * 1e4 + 0.5).cast("long").as("qg"),
      Text.tokenCount($"text").cast("long").as("n_tokens"))
    val buckets = docs.groupBy($"qg").agg(max($"n_tokens").as("bmax"))
    val wDesc = Window.orderBy($"qg".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val front = buckets
      .select($"qg", $"bmax", max($"bmax").over(wDesc).as("mhi"))
      .filter($"mhi".isNull || $"bmax" > $"mhi")
      .select($"qg", $"bmax")
    docs.join(broadcast(front), "qg")
      .filter($"n_tokens" === $"bmax")
      .select($"doc_id", $"qg", $"n_tokens")
      .orderBy($"doc_id")
  }

  val q208SkylineFrontierSql: String =
    s"""WITH docs AS (SELECT doc_id,
       |    CAST(floor(($qualitySql) * 1e4 + 0.5) AS BIGINT) AS qg,
       |    CAST($tcSql AS BIGINT) AS n_tokens FROM documents),
       |b AS (SELECT qg, max(n_tokens) AS bmax FROM docs GROUP BY qg),
       |f AS (SELECT qg, bmax,
       |    max(bmax) OVER (ORDER BY qg DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mhi
       |  FROM b)
       |SELECT d.doc_id, d.qg, d.n_tokens
       |FROM docs d JOIN (SELECT qg, bmax FROM f
       |    WHERE mhi IS NULL OR bmax > mhi) ff
       |  ON d.qg = ff.qg AND d.n_tokens = ff.bmax
       |ORDER BY d.doc_id""".stripMargin


  // ---------------------------------------------------------------
  // q210: t-closeness (variational distance to the global prior)
  // ---------------------------------------------------------------

  /** t-closeness threshold in ppm of total-variation distance (0.3 —
    * the value the original paper uses in its running examples). */
  private val TCloseT = 300000L

  /** t-closeness audit (Li, Li & Venkatasubramanian ICDE 2007) — the
    * third leg of the privacy-release trilogy (q179 k-anonymity: class
    * SIZE; q195 l-diversity: distinct sensitive VALUES; this: the
    * sensitive-value DISTRIBUTION must stay close to the global
    * prior, closing the skewness attack l-diversity misses). Same
    * quasi-identifier classes as q195 (source × 50-char length band),
    * sensitive attribute `lang`; distance is total-variation
    * ½·Σ|p−q| — the standard t-closeness metric for an unordered
    * attribute — computed as the EXACT integer numerator
    * Σ|kl·g − gl·k| (kl, k class counts; gl, g global counts), then
    * ONE rule-7 double scale to ppm (the cross products overflow
    * BIGINT when multiplied again by 10⁶ at corpus scale); the
    * at-risk decision compares the gridded integer (rule 10). A lang
    * absent from a class still contributes its full prior mass via
    * the class × lang spine. Scale shape: one corpus scan to the
    * class-lang grain; the spine is bounded (classes × |langs|), the
    * global relations are 1-row / |langs|-row broadcasts. */
  def q210TCloseness(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).filter($"text".isNotNull)
      .select($"source",
        expr("CAST(n_chars AS BIGINT) div 50").as("len_band"), $"lang")
    val cls = base.groupBy($"source", $"len_band", $"lang")
      .agg(count(lit(1)).as("kl"))
    val classes = base.groupBy($"source", $"len_band")
      .agg(count(lit(1)).as("k"))
    val glang = base.groupBy($"lang").agg(count(lit(1)).as("gl"))
    val gtot = base.agg(count(lit(1)).as("g"))
    classes.crossJoin(broadcast(glang))
      .join(cls, Seq("source", "len_band", "lang"), "left")
      .select($"source", $"len_band", $"k", $"gl",
        coalesce($"kl", lit(0L)).as("kl"))
      .crossJoin(broadcast(gtot))
      .groupBy($"source", $"len_band")
      .agg(max($"k").as("k"),
        sum(abs($"kl" * $"g" - $"gl" * $"k")).as("num"),
        max($"g").as("g"))
      .select($"source", $"len_band", $"k",
        floor($"num".cast("double") * 500000.0 /
          ($"k".cast("double") * $"g") + 0.5).cast("long").as("tvd_ppm"))
      .select($"source", $"len_band", $"k", $"tvd_ppm",
        ($"tvd_ppm" > TCloseT).as("at_risk"))
      .orderBy($"source", $"len_band")
  }

  val q210TClosenessSql: String =
    s"""WITH base AS (SELECT source, CAST(n_chars AS BIGINT) // 50
       |      AS len_band, lang
       |  FROM documents WHERE text IS NOT NULL),
       |cls AS (SELECT source, len_band, lang, count(*) AS kl
       |  FROM base GROUP BY 1, 2, 3),
       |classes AS (SELECT source, len_band, count(*) AS k
       |  FROM base GROUP BY 1, 2),
       |glang AS (SELECT lang, count(*) AS gl FROM base GROUP BY 1),
       |gtot AS (SELECT count(*) AS g FROM base),
       |sp AS (SELECT c.source, c.len_band, c.k, l.gl,
       |    coalesce(x.kl, 0) AS kl
       |  FROM classes c CROSS JOIN glang l
       |  LEFT JOIN cls x ON x.source = c.source
       |    AND x.len_band = c.len_band AND x.lang = l.lang),
       |ag AS (SELECT source, len_band, max(k) AS k,
       |    CAST(sum(abs(kl * t.g - gl * k)) AS BIGINT) AS num,
       |    max(t.g) AS g
       |  FROM sp CROSS JOIN gtot t GROUP BY 1, 2)
       |SELECT source, len_band, k,
       |  CAST(floor(CAST(num AS DOUBLE) * 500000.0 /
       |    (CAST(k AS DOUBLE) * g) + 0.5) AS BIGINT) AS tvd_ppm,
       |  (CAST(floor(CAST(num AS DOUBLE) * 500000.0 /
       |    (CAST(k AS DOUBLE) * g) + 0.5) AS BIGINT) > $TCloseT)
       |    AS at_risk
       |FROM ag ORDER BY source, len_band""".stripMargin


  // ---------------------------------------------------------------
  // q214: isotonic calibration of the classifier (PAVA via minimax)
  // ---------------------------------------------------------------

  /** Isotonic (monotone) calibration of q185's classifier reliability
    * curve — the standard post-hoc calibrator (Zadrozny & Elkan KDD
    * 2002; sklearn's `IsotonicRegression`): the empirical
    * rules-pass rate per logit bucket, replaced by the closest
    * NON-DECREASING curve in weighted least squares. Computed not by
    * the sequential pool-adjacent-violators sweep (order-dependent,
    * hostile to both engines) but by its closed-form minimax identity
    * ĝ(i) = max_{j≤i} min_{k≥i} avg(y[j..k]) — every interval average
    * is ONE exact integer floor-division of prefix-sum differences
    * (ppm grain), so the whole fit is integer min/max arithmetic,
    * bit-identical across engines with no FP anywhere. Scale shape:
    * the corpus is touched once (q185's feature grid aggregation);
    * the fit runs entirely on the bounded logit-bucket axis — the
    * interval relation is B² rows (B = |buckets|, tens), the
    * suffix-min windows are per-j partitions, the final argmax a
    * bounded aggregation. */
  def q214IsotonicCalibration(s: SparkSession, d: String): DataFrame = {
    val f = featureGrid(Tables.documents(s, d).filter($"text".isNotNull))
      .select(logitCol.as("logit_micro"),
        (!ruleViolCols.reduce(_ || _)).as("rules_pass"))
    val b = f
      .select(floor($"logit_micro" / CalibBucket).cast("long").as("bucket"),
        $"rules_pass")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("w"),
        sum(when($"rules_pass", 1L).otherwise(0L)).as("y"))
    // exclusive/inclusive prefix sums over the bounded bucket axis
    val wAxis = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val pre = b.select($"bucket", $"w", $"y",
      sum($"w").over(wAxis).as("cw"), sum($"y").over(wAxis).as("cy"))
      .select($"bucket", $"w", $"y", $"cw", $"cy",
        ($"cw" - $"w").as("pw"), ($"cy" - $"y").as("py"))
    // all intervals [j..k]: r = floor(1e6 · Σy / Σw) — exact integers
    val iv = pre.select($"bucket".as("j"), $"pw", $"py")
      .join(pre.select($"bucket".as("k"), $"cw", $"cy"), $"j" <= $"k")
      .select($"j", $"k",
        expr("((cy - py) * 1000000) div (cw - pw)").as("r"))
    // suffix min over k per j, then max over j ≤ i
    val sm = iv.select($"j", $"k".as("i"),
      min($"r").over(Window.partitionBy($"j").orderBy($"k".desc)
        .rowsBetween(Window.unboundedPreceding, 0)).as("m"))
    val fit = sm.filter($"j" <= $"i")
      .groupBy($"i").agg(max($"m").as("iso_rate_ppm"))
    b.join(fit, $"bucket" === $"i")
      .select($"bucket",
        when($"bucket" >= 0L, "keep").otherwise("drop").as("model_label"),
        $"w".as("n_docs"),
        expr("(y * 1000000) div w").as("raw_rate_ppm"),
        $"iso_rate_ppm")
      .orderBy($"bucket")
  }

  val q214IsotonicCalibrationSql: String =
    s"""WITH f AS (SELECT ${featureGridSql("")}
       |  FROM documents WHERE text IS NOT NULL),
       |sc AS (SELECT
       |    $logitSql AS logit_micro,
       |    NOT (${ruleViolSql.mkString(" OR ")}) AS rules_pass
       |  FROM f),
       |b AS (SELECT CAST(floor(logit_micro / $CalibBucket) AS BIGINT)
       |      AS bucket,
       |    count(*) AS w,
       |    CAST(sum(CASE WHEN rules_pass THEN 1 ELSE 0 END) AS BIGINT)
       |      AS y
       |  FROM sc GROUP BY 1),
       |pre AS (SELECT bucket, w, y,
       |    CAST(sum(w) OVER (ORDER BY bucket
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
       |    CAST(sum(y) OVER (ORDER BY bucket
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cy
       |  FROM b),
       |pre2 AS (SELECT bucket, w, y, cw, cy,
       |    cw - w AS pw, cy - y AS py FROM pre),
       |iv AS (SELECT a.bucket AS j, c.bucket AS k,
       |    ((c.cy - a.py) * 1000000) // (c.cw - a.pw) AS r
       |  FROM pre2 a JOIN pre2 c ON a.bucket <= c.bucket),
       |sm AS (SELECT j, k AS i,
       |    min(r) OVER (PARTITION BY j ORDER BY k DESC
       |      ROWS UNBOUNDED PRECEDING) AS m
       |  FROM iv),
       |fit AS (SELECT i, max(m) AS iso_rate_ppm
       |  FROM sm WHERE j <= i GROUP BY i)
       |SELECT b.bucket,
       |  CASE WHEN b.bucket >= 0 THEN 'keep' ELSE 'drop' END
       |    AS model_label,
       |  b.w AS n_docs,
       |  (b.y * 1000000) // b.w AS raw_rate_ppm,
       |  f2.iso_rate_ppm
       |FROM b JOIN fit f2 ON b.bucket = f2.i
       |ORDER BY b.bucket""".stripMargin


  // ---------------------------------------------------------------
  // q222: set-containment join (near-superset detection)
  // ---------------------------------------------------------------

  /** Containment numerator threshold |A∩B| ≥ (ContNum/ContDen)·|A| as
    * an exact rational — 0.9: B holds at least 90% of A's shingles. */
  private val ContNum = 9L
  private val ContDen = 10L

  /** Set-CONTAINMENT self-join over the dedup family's shingle sets
    * (Chaudhuri et al. ICDE 2006's asymmetric variant; the relation
    * behind quote/excerpt detection): find (contained, container)
    * pairs with |A∩B| ⁄ |A| ≥ 0.9 — near-supersets that symmetric
    * Jaccard (q205) structurally misses (a 20-shingle note inside a
    * 500-shingle report has Jaccard ≈ 0.04 but containment 1.0).
    * Candidates come from the CONTAINED side's prefix only (the
    * asymmetric prefix principle: overlap ≥ ⌈τ·|A|⌉ forces a hit in
    * A's m − ⌈τ·m⌉ + 1 rarest shingles), probed against the FULL
    * shingle relation — the container side cannot be pruned and is
    * not. Verification is the exact intersection count with the
    * pure-integer cross-multiplied test; self-pairs and the
    * symmetric duplicate-direction are excluded by requiring a ≠ b
    * (both directions are emitted when two docs contain each other —
    * that asymmetry is the point). Scale shape: one shingle-grain
    * distinct + df join (q205's relations verbatim); candidate
    * buckets are bounded by rare-shingle df exactly as q205 argues —
    * the probe side is keyed by the SAME rare shingles. */
  private[graft] def containmentPairs(docs: DataFrame): DataFrame = {
    val tok = shingleRows(docs).distinct().localCheckpoint(true)
    val dfr = tok.groupBy($"sh").agg(count(lit(1)).as("df"))
    val rk = tok.join(dfr, "sh")
      .select($"doc_id", $"sh",
        row_number().over(Window.partitionBy($"doc_id")
          .orderBy($"df", $"sh")).as("rn"),
        count(lit(1)).over(Window.partitionBy($"doc_id")).as("m"))
    val pfx = rk
      .filter($"rn" <=
        expr(s"m - (m * $ContNum + $ContDen - 1) div $ContDen + 1"))
      .select($"doc_id", $"sh")
    val cand = pfx.select($"sh", $"doc_id".as("a"))
      .join(tok.select($"sh", $"doc_id".as("b")), "sh")
      .filter($"a" =!= $"b")
      .select($"a", $"b").distinct()
    val msz = tok.groupBy($"doc_id").agg(count(lit(1)).as("m"))
    val inter = cand
      .join(tok.select($"doc_id".as("a"), $"sh"), "a")
      .join(tok.select($"doc_id".as("b"), $"sh"), Seq("b", "sh"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("inter"))
    inter
      .join(msz.select($"doc_id".as("a"), $"m".as("ma")), "a")
      .join(msz.select($"doc_id".as("b"), $"m".as("mb")), "b")
      .filter(lit(ContDen) * $"inter" >= lit(ContNum) * $"ma")
      .select($"a".as("contained"), $"b".as("container"),
        $"ma", $"mb", $"inter",
        expr("(inter * 1000000) div ma").as("containment_ppm"))
      .orderBy($"contained", $"container")
  }

  def q222ContainmentJoin(s: SparkSession, d: String): DataFrame =
    containmentPairs(Tables.documents(s, d))

  val q222ContainmentJoinSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |       WHERE len(string_split(text, ' ')) >= 3),
       |tok AS (SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
       |       FROM ws, UNNEST(range(0, len(w) - 2)) AS t(i)),
       |dfr AS (SELECT sh, count(*) AS df FROM tok GROUP BY sh),
       |rk AS (SELECT t.doc_id, t.sh,
       |    row_number() OVER (PARTITION BY t.doc_id
       |      ORDER BY d.df, t.sh) AS rn,
       |    count(*) OVER (PARTITION BY t.doc_id) AS m
       |  FROM tok t JOIN dfr d USING (sh)),
       |pfx AS (SELECT doc_id, sh FROM rk
       |  WHERE rn <= m - (m * $ContNum + $ContDen - 1) // $ContDen + 1),
       |cand AS (SELECT DISTINCT p.doc_id AS a, f.doc_id AS b
       |  FROM pfx p JOIN tok f
       |    ON p.sh = f.sh AND p.doc_id <> f.doc_id),
       |msz AS (SELECT doc_id, count(*) AS m FROM tok GROUP BY doc_id),
       |iv AS (SELECT c.a, c.b, count(*) AS inter
       |  FROM cand c
       |  JOIN tok t1 ON t1.doc_id = c.a
       |  JOIN tok t2 ON t2.doc_id = c.b AND t2.sh = t1.sh
       |  GROUP BY c.a, c.b)
       |SELECT i.a AS contained, i.b AS container, m1.m AS ma,
       |  m2.m AS mb, i.inter,
       |  (i.inter * 1000000) // m1.m AS containment_ppm
       |FROM iv i
       |JOIN msz m1 ON m1.doc_id = i.a
       |JOIN msz m2 ON m2.doc_id = i.b
       |WHERE $ContDen * i.inter >= $ContNum * m1.m
       |ORDER BY contained, container""".stripMargin

  // ---------------------------------------------------------------
  // q227: vocabulary-growth census (Heaps' law over nested samples)
  // ---------------------------------------------------------------

  /** Nested md5-prefix cuts defining the ~10% / 25% / 50% corpus
    * samples (tier 4 = the full corpus). Lexicographic compare of the
    * 32-hex digest against a short prefix is the q194 hex-cut trick;
    * the cuts only need to be NESTED and deterministic, not exact
    * percentages. */
  private val VocabTierCuts = Seq("1a", "40", "80")

  /** Vocabulary-growth census (Heaps' law: V(n) ~ K·n^β, Heaps 1978,
    * public) — the tokenizer-budget planning view beside the BPE
    * trainer (q163/q184/q191) and the coverage census (q188): how fast
    * does the DISTINCT-word vocabulary (and its fragile hapax tail)
    * grow as the corpus grows? Measured on four NESTED deterministic
    * samples (md5-prefix cuts at ~10/25/50/100% — the hash-nested
    * subsampling a 100 TB corpus uses, since a "first n documents"
    * prefix would need a global total order): per tier, the cumulative
    * doc count, token mass, distinct vocabulary, and hapax count
    * (words seen exactly once — the Zipf tail that decides vocab-size
    * budgets).
    *
    * Determinism: md5 tier assignment, exact integer counts.
    *
    * Scale: one corpus scan to the (term, tier) grain with the tier
    * rollup folded into FOUR conditional aggregates per term (the
    * cumulative-over-a-4-row-axis window this avoids would be
    * harmless, but the conditional sums keep it one map-side-
    * combinable pass); the per-tier doc/token masses are a second
    * one-pass conditional aggregate at doc grain; both collapse to
    * single rows exploded onto the bounded 4-row tier axis and joined
    * broadcast-small. Vocabulary grain is Zipf-bounded exactly like
    * q163. */
  def q227VocabGrowth(s: SparkSession, d: String): DataFrame = {
    val tier = {
      val h = md5($"doc_id".cast("string"))
      when(h < VocabTierCuts(0), 1)
        .when(h < VocabTierCuts(1), 2)
        .when(h < VocabTierCuts(2), 3)
        .otherwise(4)
    }
    val docs = Tables.documents(s, d).filter($"text".isNotNull)
      .select($"text", tier.as("tier"))
    def cum(t: Int, v: Column): Column =
      sum(when($"tier" <= t, v).otherwise(lit(0L)))
    val dAggs = (1 to 4).flatMap(t => Seq(
      cum(t, lit(1L)).as(s"d$t"), cum(t, $"nt").as(s"t$t")))
    val dstats = docs
      .select($"tier", Text.tokenCount($"text").cast("long").as("nt"))
      .agg(dAggs.head, dAggs.tail: _*)
      .select(explode(array((1 to 4).map(t => struct(
        lit(t).as("tier"),
        col(s"d$t").as("n_docs"), col(s"t$t").as("n_tokens"))): _*))
        .as("x"))
      .select($"x.tier", $"x.n_docs", $"x.n_tokens")
    val cAggs = (1 to 4).map(t => cum(t, lit(1L)).as(s"c$t"))
    val tf = docs
      .select($"tier", explode(Text.tokens($"text")).as("term"))
      .groupBy($"term")
      .agg(cAggs.head, cAggs.tail: _*)
    val vAggs = (1 to 4).flatMap(t => Seq(
      sum(when(col(s"c$t") > 0L, 1L).otherwise(0L)).as(s"v$t"),
      sum(when(col(s"c$t") === 1L, 1L).otherwise(0L)).as(s"h$t")))
    val vstats = tf
      .agg(vAggs.head, vAggs.tail: _*)
      .select(explode(array((1 to 4).map(t => struct(
        lit(t).as("tier"),
        col(s"v$t").as("vocab"), col(s"h$t").as("hapax"))): _*))
        .as("x"))
      .select($"x.tier", $"x.vocab", $"x.hapax")
    dstats.join(vstats, "tier")
      .select($"tier", $"n_docs", $"n_tokens", $"vocab", $"hapax")
      .orderBy($"tier")
  }

  val q227VocabGrowthSql: String = {
    val tierSql =
      s"""CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '${VocabTierCuts(0)}' THEN 1
         |     WHEN md5(CAST(doc_id AS VARCHAR)) < '${VocabTierCuts(1)}' THEN 2
         |     WHEN md5(CAST(doc_id AS VARCHAR)) < '${VocabTierCuts(2)}' THEN 3
         |     ELSE 4 END""".stripMargin
    def cum(t: Int, v: String) =
      s"CAST(sum(CASE WHEN tier <= $t THEN $v ELSE 0 END) AS BIGINT)"
    val dcols = (1 to 4).map(t =>
      s"${cum(t, "1")} AS d$t, ${cum(t, "nt")} AS t$t").mkString(", ")
    val ccols = (1 to 4).map(t => s"${cum(t, "1")} AS c$t").mkString(", ")
    val vcols = (1 to 4).map(t =>
      s"CAST(sum(CASE WHEN c$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS v$t, " +
        s"CAST(sum(CASE WHEN c$t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h$t")
      .mkString(", ")
    val dRows = (1 to 4).map(t =>
      s"SELECT $t AS tier, d$t AS n_docs, t$t AS n_tokens FROM ds")
      .mkString("\n  UNION ALL ")
    val vRows = (1 to 4).map(t =>
      s"SELECT $t AS tier, v$t AS vocab, h$t AS hapax FROM vs")
      .mkString("\n  UNION ALL ")
    s"""WITH docs AS MATERIALIZED (
       |  SELECT text, $tierSql AS tier
       |  FROM documents WHERE text IS NOT NULL),
       |ds AS (SELECT $dcols FROM (
       |  SELECT tier, CAST($tcSql AS BIGINT) AS nt FROM docs)),
       |tf AS (SELECT term, $ccols FROM (
       |  SELECT tier, unnest(string_split(text, ' ')) AS term FROM docs)
       |  GROUP BY term),
       |vs AS (SELECT $vcols FROM tf)
       |SELECT tier, n_docs, n_tokens, vocab, hapax
       |FROM ($dRows) d JOIN ($vRows) v USING (tier)
       |ORDER BY tier""".stripMargin
  }

  // ---------------------------------------------------------------
  // q229: chunk-packing fragmentation census
  // ---------------------------------------------------------------

  /** Concat-and-chunk fragmentation census — the loss accounting for
    * q59's packing plan: when documents are concatenated per
    * (lang, shard) and cut at the fixed [[PackBudget]]-token context
    * boundary, how many documents get SPLIT across contexts (their
    * attention span truncated mid-document), how many extra fragments
    * does the cut create, and how full is the trailing chunk? This is
    * the census an LLM data loader runs before choosing budget/shard
    * parameters — q59 assigns, q155 plans padding, this prices the
    * boundary damage. Derived entirely from q59's assignment (shared
    * Scala helper AND shared mirror CTE, the q194 discipline): a doc
    * spanning [start, start+n) crosses
    * `(start+n-1) div B - start div B` boundaries, each crossing one
    * extra fragment.
    *
    * Determinism: pure integer arithmetic on exact token counts; the
    * ppm shares are floor divisions of non-negative integers (rule 13).
    *
    * Scale: rides q59's per-(lang, shard) cumsum (the shard key is
    * what spreads the running totals at cluster scale), then ONE
    * map-side-combinable aggregate onto the bounded lang × shard axis
    * (≤ |langs|·[[PackShards]] rows). */
  def q229ChunkCensus(s: SparkSession, d: String): DataFrame =
    chunkCensus(Tables.documents(s, d))

  private[graft] def chunkCensus(docs: DataFrame,
      budget: Long = PackBudget, nShards: Int = PackShards): DataFrame = {
    val p = packSequences(docs, budget, nShards)
      .select($"lang", $"shard", $"n_tokens",
        ($"pack_id" * budget + $"pack_offset").as("start_tok"))
      // greatest(n,1): a zero-token doc occupies no span and crosses
      // nothing — and keeps the dividend NON-NEGATIVE (rule 13: Spark
      // div truncates toward zero, DuckDB // floors; they disagree on
      // every negative non-multiple)
      .select($"lang", $"shard", $"n_tokens",
        (expr(s"(start_tok + greatest(n_tokens, 1) - 1) div $budget") -
          expr(s"start_tok div $budget")).as("crossings"))
    p.groupBy($"lang", $"shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        sum(when($"crossings" > 0, 1L).otherwise(0L)).as("split_docs"),
        sum($"crossings").as("extra_fragments"))
      .select($"lang", $"shard", $"n_docs", $"n_tokens",
        expr(s"(n_tokens + ${budget - 1}) div $budget").as("n_chunks"),
        $"split_docs", $"extra_fragments",
        expr("((n_docs - split_docs) * 1000000) div n_docs").as("intact_ppm"),
        // all-empty group: 0 tokens → no trailing chunk (and the
        // n_tokens - 1 dividend would go negative — rule 13 again)
        when($"n_tokens" === 0L, 0L)
          .otherwise(expr(
            s"(((n_tokens - 1) % $budget + 1) * 1000000) div $budget"))
          .as("last_fill_ppm"))
      .orderBy($"lang", $"shard")
  }

  val q229ChunkCensusSql: String =
    s"""WITH $packCteSql,
       |p AS (SELECT lang, shard, n_tokens,
       |        (start_tok + greatest(n_tokens, 1) - 1) // $PackBudget
       |          - start_tok // $PackBudget AS crossings
       |      FROM c)
       |SELECT lang, shard,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  (CAST(sum(n_tokens) AS BIGINT) + ${PackBudget - 1}) // $PackBudget
       |    AS n_chunks,
       |  CAST(sum(CASE WHEN crossings > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS split_docs,
       |  CAST(sum(crossings) AS BIGINT) AS extra_fragments,
       |  ((CAST(count(*) AS BIGINT)
       |      - CAST(sum(CASE WHEN crossings > 0 THEN 1 ELSE 0 END) AS BIGINT))
       |    * 1000000) // CAST(count(*) AS BIGINT) AS intact_ppm,
       |  CASE WHEN CAST(sum(n_tokens) AS BIGINT) = 0 THEN 0
       |    ELSE (((CAST(sum(n_tokens) AS BIGINT) - 1) % $PackBudget + 1)
       |      * 1000000) // $PackBudget END AS last_fill_ppm
       |FROM p GROUP BY lang, shard ORDER BY lang, shard""".stripMargin

  // ---------------------------------------------------------------
  // q230: cross-source quantile alignment (quantile normalization)
  // ---------------------------------------------------------------

  /** Clamp grid for the length value axis: the pooled CDF runs a
    * partition-less window over DISTINCT clamped lengths, so the axis
    * must be bounded BY CONSTRUCTION (the q208 quality-grid rule) —
    * documents longer than this share the tail cell. At the driver SFs
    * max(n_chars) = 577, so the clamp is semantically invisible there. */
  private val AlignClamp = 10000L

  /** Exact-arithmetic bound for the target-rank decomposition: the tie
    * term is < ni², so ni must stay ≤ 3e9 for BIGINT (9e18 < 2^63).
    * Enforced LOUDLY per row (the packedTickKey philosophy). */
  private val AlignMaxSource = 3000000000L

  /** Cross-source quantile alignment (quantile normalization, Bolstad
    * et al. Bioinformatics 2003, public) — make every source's length
    * distribution comparable by mapping each document's WITHIN-SOURCE
    * rank onto the POOLED distribution's order statistic at the same
    * quantile: rank r of nᵢ maps to pooled rank
    * 1 + (r−1)(N−1)/(nᵢ−1), the value there is the aligned length.
    * This is the drift-robust normalization a multi-source curation
    * pipeline applies before comparing length/quality cuts across
    * crawls with different length profiles.
    *
    * Determinism: ranks are total orders (value, doc_id tie-break);
    * the target rank is EXACT integer arithmetic via the decomposition
    * (r−1)·q + ((r−1)·s) div (nᵢ−1) where q, s are the quotient and
    * remainder of (N−1) div (nᵢ−1) — an identity, and every
    * intermediate < max(N, nᵢ²), guarded by [[AlignMaxSource]].
    *
    * Scale: NO corpus-grain global window — per-source ranks decompose
    * into a (source, value)-histogram CDF (windows run on the
    * metadata-sized histogram, ≤ |sources|·1e4 rows) plus a tie rank
    * partitioned by the entropy-rich (source, value) pair; the pooled
    * lookup is a ≤1e4-row CDF broadcast and range-probed map-side
    * (BroadcastNestedLoop against a bounded build side — never a
    * shuffle, never an N-row rank relation). */
  def q230QuantileAlign(s: SparkSession, d: String): DataFrame =
    quantileAlign(Tables.documents(s, d))

  private[graft] def quantileAlign(docsIn: DataFrame): DataFrame = {
    val docs = docsIn.filter($"n_chars".isNotNull)
      .select($"doc_id", $"source",
        least($"n_chars", lit(AlignClamp)).as("len"))
    val hist = docs.groupBy($"source", $"len").agg(count(lit(1)).as("cnt"))
    val wSrc = Window.partitionBy($"source").orderBy($"len")
      .rowsBetween(Window.unboundedPreceding, -1)
    val srcCdf = hist.select($"source", $"len",
      coalesce(sum($"cnt").over(wSrc), lit(0L)).as("scb"))
    val srcSize = hist.groupBy($"source").agg(sum($"cnt").as("ni"))
    val totals = srcSize.agg(sum($"ni").as("n_total"))
    // 1-row pooled total onto the |sources|-row size relation
    val sized = srcSize.crossJoin(broadcast(totals))
    val pooledHist = docs.groupBy($"len").agg(count(lit(1)).as("pcnt"))
    // partition-less window: bounded by construction (clamped length
    // grid ≤ 1e4 values) — registered in ScaleSpec's allowlist
    val wPool = Window.orderBy($"len")
      .rowsBetween(Window.unboundedPreceding, -1)
    val poolCdf = pooledHist.select($"len".as("aligned_len"), $"pcnt",
      coalesce(sum($"pcnt").over(wPool), lit(0L)).as("pcb"))
    val wTie = Window.partitionBy($"source", $"len").orderBy($"doc_id")
    val nig = when($"ni" > AlignMaxSource,
      raise_error(concat(
        lit("quantileAlign: source size exceeds the exact-arithmetic "),
        lit("bound 3e9: "), $"ni"))).otherwise($"ni")
    val ranked = docs
      .join(srcCdf, Seq("source", "len"))
      .select($"doc_id", $"source", $"len",
        ($"scb" + row_number().over(wTie)).as("src_rank"))
      .join(broadcast(sized), Seq("source"))
      .select($"doc_id", $"source", $"len", $"src_rank",
        when(nig === 1L, expr("(n_total + 1) div 2"))
          .otherwise(
            lit(1L) + ($"src_rank" - 1) * expr("(n_total - 1) div (ni - 1)")
              + expr("((src_rank - 1) * ((n_total - 1) % (ni - 1))) " +
                "div (ni - 1)")).as("target_rn"))
    ranked
      .join(broadcast(poolCdf),
        $"target_rn" > $"pcb" && $"target_rn" <= $"pcb" + $"pcnt")
      .select($"doc_id", $"source", $"len", $"src_rank", $"target_rn",
        $"aligned_len")
      .orderBy($"doc_id")
  }

  val q230QuantileAlignSql: String =
    s"""WITH docs AS (SELECT doc_id, source,
       |    least(n_chars, $AlignClamp) AS len
       |  FROM documents WHERE n_chars IS NOT NULL),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS ni
       |  FROM docs GROUP BY source),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM docs),
       |r AS (SELECT doc_id, source, len,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY len, doc_id) AS BIGINT) AS src_rank
       |  FROM docs),
       |p AS (SELECT len AS aligned_len,
       |    CAST(row_number() OVER (ORDER BY len, doc_id) AS BIGINT) AS rn
       |  FROM docs),
       |t AS (SELECT r.doc_id, r.source, r.len, r.src_rank,
       |    CASE WHEN s.ni = 1 THEN (n.n_total + 1) // 2
       |    ELSE 1 + (r.src_rank - 1) * ((n.n_total - 1) // (s.ni - 1))
       |      + ((r.src_rank - 1) * ((n.n_total - 1) % (s.ni - 1)))
       |        // (s.ni - 1) END AS target_rn
       |  FROM r JOIN sz s USING (source) CROSS JOIN nt n)
       |SELECT t.doc_id, t.source, t.len, t.src_rank, t.target_rn,
       |  p.aligned_len
       |FROM t JOIN p ON p.rn = t.target_rn
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q236: ROC-AUC + operating-point sweep (classifier discrimination)
  // ---------------------------------------------------------------

  /** Score-axis clamp for the binned ROC: buckets outside
    * [[AucBucketLo]], [[AucBucketHi]] collapse into the end buckets, so
    * the rank axis is ≤ 301 values by construction regardless of
    * corpus size (the q230 clamp discipline). At q178's weights the
    * clamp is inactive for any plausible document (bucket 200 needs a
    * 4e6-micro logit ≈ 6,700 tokens); pathological outliers land in an
    * end bucket instead of unbounding the axis. */
  private val AucBucketLo = -100L
  private val AucBucketHi = 200L

  /** Operating-point sweep: thresholds k·[[CalibBucket]] micro-logits
    * for k ∈ [[AucThreshLo]]..[[AucThreshHi]] — brackets q178's
    * deployed boundary (k = 0) on both sides. */
  private val AucThreshLo = -6L
  private val AucThreshHi = 12L

  /** ROC-AUC and the operating-point table for q178's quality
    * classifier against q175's independent rule battery — the
    * DISCRIMINATION half of the evaluation q185's calibration table
    * starts (Hanley–McNeil 1982: AUC ≡ the Mann–Whitney U probability
    * a random rules-pass doc outscores a random rules-fail doc, ties
    * at half credit). A curation team reads this before picking the
    * filter threshold: the sweep says what precision/recall each
    * boundary buys, the AUC says whether the model ranks at all.
    *
    * The AUC is computed on the [[CalibBucket]]-binned score axis
    * (binned AUC — the standard large-scale formulation; an exact
    * per-score AUC would rank the corpus globally, this ranks ≤ 301
    * histogram buckets): u2 = Σ_b np_b·(2·cumneg_below + nn_b) is the
    * doubled U with in-bucket ties at half credit, all exact integers.
    *
    * Determinism: scores and labels are q175/q178's shared integer
    * grid; the bucket is an explicit double floor then integer clamp
    * (identical IEEE both sides, q185's discipline); u2/tp/fp are
    * exact integer sums (every DuckDB sum CAST BIGINT, rule 11);
    * precision/recall/F1 are non-negative floor divisions (rule 13;
    * F1 = 2tp/(2tp+fp+fn) simplifies to the shared integer form
    * 2tp·1e6 div (tp+fp+npos)); only the final AUC ratio runs rule-7
    * doubles on the exact sums, gridded to ppm with the shared
    * floor(x+0.5) (u2 exact under 2^53 up to ~1.3e8 eval docs per
    * side product — an evaluation-slice bound, documented not
    * guarded).
    *
    * Scale: one corpus scan computes both classifiers (the q185
    * single-scan shape), one map-side-combinable aggregate onto the
    * bounded bucket axis; everything after is metadata-sized — the
    * sweep is a broadcast of the ≤301-row histogram against 19
    * threshold rows, the AUC a 1-row broadcast. */
  def q236RocAuc(s: SparkSession, d: String): DataFrame =
    rocAuc(featureGrid(Tables.documents(s, d).filter($"text".isNotNull))
      .select(logitCol.as("logit_micro"),
        (!ruleViolCols.reduce(_ || _)).as("pos")))

  private[graft] def rocAuc(scored: DataFrame): DataFrame = {
    val bucket = least(greatest(
      floor($"logit_micro" / CalibBucket).cast("long"),
      lit(AucBucketLo)), lit(AucBucketHi))
    val hist = scored.select(bucket.as("bucket"), $"pos")
      .groupBy($"bucket")
      .agg(sum(when($"pos", 1L).otherwise(0L)).as("np"),
        sum(when($"pos", 0L).otherwise(1L)).as("nn"))
    // partition-less window: bounded by construction (clamped ≤301-
    // value bucket axis) — registered in ScaleSpec's allowlist
    val wAsc = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.select($"bucket", $"np", $"nn",
      coalesce(sum($"nn").over(wAsc), lit(0L)).as("cnb"))
    val tot = cum.agg(sum($"np").as("npos"), sum($"nn").as("nneg"),
        sum($"np" * $"nn" + lit(2L) * $"np" * $"cnb").as("u2"))
      .select($"npos", $"nneg",
        when($"npos" > 0L && $"nneg" > 0L,
          floor($"u2".cast("double") * 1000000.0 /
            (lit(2.0) * $"npos" * $"nneg") + 0.5).cast("long")).as("auc_ppm"))
    val sweep = scored.sparkSession.range(AucThreshLo, AucThreshHi + 1)
      .select($"id".as("k"))
      .crossJoin(broadcast(hist))
      .groupBy($"k")
      .agg(sum(when($"bucket" >= $"k", $"np").otherwise(0L)).as("tp"),
        sum(when($"bucket" >= $"k", $"nn").otherwise(0L)).as("fp"))
    sweep.crossJoin(broadcast(tot))
      .select(($"k" * lit(CalibBucket.toLong)).as("thresh_micro"),
        $"tp", $"fp", ($"npos" - $"tp").as("fn"),
        ($"nneg" - $"fp").as("tn"),
        when($"tp" + $"fp" > 0L,
          expr("(tp * 1000000) div (tp + fp)")).as("precision_ppm"),
        when($"npos" > 0L, expr("(tp * 1000000) div npos")).as("recall_ppm"),
        when($"tp" + $"fp" + $"npos" > 0L,
          expr("(2 * tp * 1000000) div (tp + fp + npos)")).as("f1_ppm"),
        $"auc_ppm")
      .orderBy($"thresh_micro")
  }

  val q236RocAucSql: String =
    s"""WITH f AS (SELECT ${featureGridSql("")}
       |  FROM documents WHERE text IS NOT NULL),
       |sc AS (SELECT $logitSql AS logit_micro,
       |    NOT (${ruleViolSql.mkString(" OR ")}) AS pos
       |  FROM f),
       |h AS (SELECT least(greatest(
       |      CAST(floor(logit_micro / $CalibBucket) AS BIGINT),
       |      $AucBucketLo), $AucBucketHi) AS bucket,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |  FROM sc GROUP BY 1),
       |c AS (SELECT bucket, np, nn,
       |    CAST(coalesce(sum(nn) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cnb
       |  FROM h),
       |tot AS (SELECT CAST(sum(np) AS BIGINT) AS npos,
       |    CAST(sum(nn) AS BIGINT) AS nneg,
       |    CAST(sum(np * nn + 2 * np * cnb) AS BIGINT) AS u2 FROM c),
       |sw AS (SELECT k,
       |    CAST(coalesce(sum(CASE WHEN bucket >= k THEN np END), 0)
       |      AS BIGINT) AS tp,
       |    CAST(coalesce(sum(CASE WHEN bucket >= k THEN nn END), 0)
       |      AS BIGINT) AS fp
       |  FROM generate_series($AucThreshLo, $AucThreshHi) AS t(k), h
       |  GROUP BY k)
       |SELECT k * ${CalibBucket.toLong} AS thresh_micro, tp, fp,
       |  npos - tp AS fn, nneg - fp AS tn,
       |  CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) END
       |    AS precision_ppm,
       |  CASE WHEN npos > 0 THEN (tp * 1000000) // npos END AS recall_ppm,
       |  CASE WHEN tp + fp + npos > 0
       |    THEN (2 * tp * 1000000) // (tp + fp + npos) END AS f1_ppm,
       |  CASE WHEN npos > 0 AND nneg > 0 THEN CAST(floor(CAST(u2 AS DOUBLE)
       |    * 1000000.0 / (2.0 * npos * nneg) + 0.5) AS BIGINT) END
       |    AS auc_ppm
       |FROM sw, tot ORDER BY thresh_micro""".stripMargin

  // ---------------------------------------------------------------
  // q240: decision-stump training (best Gini split, CART family)
  // ---------------------------------------------------------------

  /** Per-feature binning axis: (fid, column, offset, step) — bin =
    * least(greatest(v − offset, 0) div step, [[StumpBins]]−1), a
    * bounded 64-value grid per feature (the tails collapse into the
    * end bins; both subtraction guards keep every floor-division
    * dividend non-negative, rule 13). ONE Seq generates the Spark
    * explode AND the mirror UNION ALL so the axes cannot drift. */
  private val StumpBins = 64L
  private val StumpFeats: Seq[(Long, String, Long, Long)] = Seq(
    (0L, "nt", 0L, 4L), (1L, "atl_g", 30000L, 500L),
    (2L, "pr_g", 0L, 20L), (3L, "swr_g", 0L, 100L))

  /** Decision-stump TRAINING (the CART split search, Breiman et al.
    * 1984, public) — one real trainer step beyond q178's fixed-weight
    * inference: over the shared q175/q178 feature grid, find the
    * single (feature, threshold) split that best separates English
    * documents (label = lang 'en') by weighted Gini impurity. This is
    * the inner loop of every tree/forest/GBDT data-quality classifier,
    * and its scale shape is exactly the classic distributed algorithm
    * (e.g. PLANET, Panda et al. VLDB 2009): quantize features onto
    * bounded per-feature histograms, aggregate (bin → class counts)
    * once over the corpus, then score every candidate threshold from
    * cumulative histogram sums — the corpus is scanned ONCE, the split
    * search runs on a 4×64 metadata relation.
    *
    * Determinism: class counts are exact integers; left/right sums
    * come from fid-partitioned cumulative windows (bin is unique in
    * partition); the weighted-Gini score runs ONE identical-IEEE
    * rule-7 double expression over the exact counts, ppm-gridded
    * (rule 10) BEFORE the argmin; the argmin is a single packed-BIGINT
    * min (rule 9: score·2⁸ + fid·2⁶ + bin, each component bounded by
    * construction — score ≤ 5e5 < 2²³, fid < 4, bin < 64), never a
    * multi-column min-by. Degenerate splits (empty side) are filtered
    * before scoring. */
  def q240DecisionStump(s: SparkSession, d: String): DataFrame =
    decisionStump(featureGrid(
      Tables.documents(s, d).filter($"text".isNotNull), $"lang")
      .select(($"lang" === "en").as("pos"),
        $"nt", $"atl_g", $"pr_g", $"swr_g"))

  private[graft] def decisionStump(f: DataFrame): DataFrame = {
    val x = f.select($"pos", explode(array(StumpFeats.map {
        case (fid, c, off, step) =>
          struct(lit(fid).as("fid"),
            least(expr(s"greatest($c - $off, 0) div $step"),
              lit(StumpBins - 1)).as("bin"))
      }: _*)).as("e"))
      .select($"e.fid".as("fid"), $"e.bin".as("bin"), $"pos")
    val h = x.groupBy($"fid", $"bin")
      .agg(sum(when($"pos", 1L).otherwise(0L)).as("np"),
        sum(when($"pos", 0L).otherwise(1L)).as("nn"))
    val wCum = Window.partitionBy($"fid").orderBy($"bin")
    val wAll = Window.partitionBy($"fid")
    val c = h.select($"fid", $"bin",
      sum($"np").over(wCum).as("lp"), sum($"nn").over(wCum).as("ln"),
      sum($"np").over(wAll).as("npos"), sum($"nn").over(wAll).as("nneg"))
    val s0 = c.select($"fid", $"bin", $"lp", $"ln",
      ($"npos" - $"lp").as("rp"), ($"nneg" - $"ln").as("rn"),
      $"npos", $"nneg")
    val sc = s0.filter($"lp" + $"ln" > 0L && $"rp" + $"rn" > 0L)
      .select($"fid", $"bin", $"lp", $"ln", $"rp", $"rn",
        $"npos", $"nneg",
        floor((lit(2.0) * $"lp" * $"ln" / ($"lp" + $"ln") +
          lit(2.0) * $"rp" * $"rn" / ($"rp" + $"rn")) /
          ($"npos" + $"nneg") * 1000000.0 + 0.5).cast("long")
          .as("gini_ppm"))
      .withColumn("pack",
        $"gini_ppm" * 256L + $"fid" * 64L + $"bin")
    val best = sc.agg(min($"pack").as("mp"))
    val featName = StumpFeats.foldRight(lit(null: String)) {
      case ((fid, c, _, _), e) => when($"fid" === fid, c).otherwise(e)
    }
    val threshold = StumpFeats.foldRight(lit(null: String).cast("long")) {
      case ((fid, _, off, step), e) =>
        when($"fid" === fid, lit(off) + ($"bin" + 1L) * step).otherwise(e)
    }
    val parent = floor(lit(2.0) * $"npos" * $"nneg" /
      ($"npos" + $"nneg") / ($"npos" + $"nneg") * 1000000.0 + 0.5)
      .cast("long")
    sc.join(broadcast(best), $"pack" === $"mp")
      .select(featName.as("feature"), threshold.as("threshold"),
        $"lp".as("left_pos"), $"ln".as("left_neg"),
        $"rp".as("right_pos"), $"rn".as("right_neg"),
        $"gini_ppm", parent.as("parent_gini_ppm"),
        (parent - $"gini_ppm").as("gain_ppm"))
  }

  val q240DecisionStumpSql: String = {
    val axes = StumpFeats.map { case (fid, c, off, step) =>
      s"  SELECT CAST($fid AS BIGINT) AS fid, " +
        s"least(greatest($c - $off, 0) // $step, ${StumpBins - 1}) " +
        "AS bin, pos FROM f"
    }.mkString("\n  UNION ALL\n")
    val featCase = StumpFeats.map { case (fid, c, _, _) =>
      s"WHEN $fid THEN '$c'"
    }.mkString("CASE fid ", " ", " END")
    val threshCase = StumpFeats.map { case (fid, _, off, step) =>
      s"WHEN $fid THEN $off + (bin + 1) * $step"
    }.mkString("CASE fid ", " ", " END")
    s"""WITH f AS (SELECT ${featureGridSql("lang = 'en' AS pos,")}
       |  FROM documents WHERE text IS NOT NULL),
       |x AS (
       |$axes),
       |h AS (SELECT fid, bin,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |  FROM x GROUP BY 1, 2),
       |c AS (SELECT fid, bin,
       |    CAST(sum(np) OVER (PARTITION BY fid ORDER BY bin) AS BIGINT)
       |      AS lp,
       |    CAST(sum(nn) OVER (PARTITION BY fid ORDER BY bin) AS BIGINT)
       |      AS ln,
       |    CAST(sum(np) OVER (PARTITION BY fid) AS BIGINT) AS npos,
       |    CAST(sum(nn) OVER (PARTITION BY fid) AS BIGINT) AS nneg
       |  FROM h),
       |s0 AS (SELECT fid, bin, lp, ln, npos - lp AS rp, nneg - ln AS rn,
       |    npos, nneg FROM c),
       |sc AS (SELECT fid, bin, lp, ln, rp, rn, npos, nneg,
       |    CAST(floor((2.0 * lp * ln / (lp + ln) +
       |      2.0 * rp * rn / (rp + rn)) / (npos + nneg) * 1000000.0
       |      + 0.5) AS BIGINT) AS gini_ppm
       |  FROM s0 WHERE lp + ln > 0 AND rp + rn > 0),
       |p AS (SELECT *, gini_ppm * 256 + fid * 64 + bin AS pack FROM sc),
       |b AS (SELECT min(pack) AS mp FROM p)
       |SELECT $featCase AS feature,
       |  $threshCase AS threshold,
       |  lp AS left_pos, ln AS left_neg, rp AS right_pos, rn AS right_neg,
       |  gini_ppm,
       |  CAST(floor(2.0 * npos * nneg / (npos + nneg) / (npos + nneg)
       |    * 1000000.0 + 0.5) AS BIGINT) AS parent_gini_ppm,
       |  CAST(floor(2.0 * npos * nneg / (npos + nneg) / (npos + nneg)
       |    * 1000000.0 + 0.5) AS BIGINT) - gini_ppm AS gain_ppm
       |FROM p JOIN b ON p.pack = b.mp""".stripMargin
  }

  // ---------------------------------------------------------------
  // q242: differentially-private count release (discrete Laplace)
  // ---------------------------------------------------------------

  /** Noise support clamp: z ∈ [−[[DpNoiseMax]], [[DpNoiseMax]]] (tail
    * mass beyond ±8 is 2⁻⁷/3 ≈ 2.6e-3 per side, folded into the end
    * values by the inverse-CDF table). */
  private val DpNoiseMax = 8

  /** Inverse-CDF thresholds for the two-sided geometric (discrete
    * Laplace) with α = 1/2 ⇔ ε = ln 2: P(z) = (1−α)/(1+α)·α^|z|, so
    * F(z) = 2^(1−|z|)/3 for z < 0 and 1 − 2^(−z)/3 for z ≥ 0 — exact
    * dyadic-over-3 rationals, floored onto the 2²⁴ draw grid with
    * BigInt arithmetic (entry k is the threshold for z = k −
    * [[DpNoiseMax]]; a draw u maps to the first z with u < t_z, else
    * +[[DpNoiseMax]]). ONE Seq generates the Spark CASE and the
    * mirror CASE so the tables cannot drift. */
  private[graft] val DpThresh: Seq[Long] =
    ((-DpNoiseMax to -1).map { z =>
      ((BigInt(1) << (24 + 1 + z)) / 3).toLong
    } ++ (0 until DpNoiseMax).map { z =>
      (((BigInt(3) << 24) - (BigInt(1) << (24 - z))) / 3).toLong
    })

  /** Differentially-private release of the (lang, source) count table
    * (Dwork et al. 2006; the discrete/geometric mechanism of Ghosh–
    * Roughgarden–Sundararajan 2009, public) — the governance operator
    * after q179/q195/q210's k-anonymity/l-diversity/t-closeness
    * audits: counting-query release with two-sided-geometric noise at
    * ε = ln 2 per cell, negatives clamped to 0 (post-processing —
    * DP-safe). Noise draws are md5-derived 24-bit integers against
    * the exact dyadic [[DpThresh]] inverse-CDF literals (the q233
    * PoisThresh discipline): deterministic ⇒ ORACLE-ABLE — a
    * production deployment swaps the md5 draw for a crypto RNG and
    * the plan is unchanged; the 2⁻²⁴ CDF discretization and the ±8
    * truncation perturb the mechanism by ≲3e-3 total mass
    * (documented, not hidden). The audit shape (true, noise,
    * released side by side) is the internal utility-calibration
    * table; the PUBLISHED artifact is the released column only.
    *
    * Scale: one corpus scan onto the bounded |langs|×|sources| axis;
    * the noise CASE is per-cell metadata arithmetic. */
  def q242DpRelease(s: SparkSession, d: String): DataFrame = {
    val u = conv(substring(md5(concat(lit("dp:"), $"lang", lit(":"),
      $"source")), 1, 6), 16, 10).cast("long")
    val noise = DpThresh.zipWithIndex
      .foldRight(lit(DpNoiseMax.toLong): Column) {
        case ((t, k), e) =>
          when($"u" < t, lit((k - DpNoiseMax).toLong)).otherwise(e)
      }
    Tables.documents(s, d).filter($"text".isNotNull)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n_true"))
      .select($"lang", $"source", $"n_true", u.as("u"))
      .select($"lang", $"source", $"n_true", noise.as("noise"))
      .select($"lang", $"source", $"n_true", $"noise",
        greatest($"n_true" + $"noise", lit(0L)).as("released"))
      .orderBy($"lang", $"source")
  }

  val q242DpReleaseSql: String = {
    val u = "CAST('0x' || substring(md5('dp:' || lang || ':' || source)," +
      " 1, 6) AS BIGINT)"
    val noise = DpThresh.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN ${k - DpNoiseMax}" }
      .mkString("CASE ", " ", s" ELSE $DpNoiseMax END")
    s"""WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_true
       |  FROM documents WHERE text IS NOT NULL GROUP BY 1, 2),
       |n AS (SELECT lang, source, n_true, $u AS u FROM g),
       |r AS (SELECT lang, source, n_true,
       |    CAST($noise AS BIGINT) AS noise FROM n)
       |SELECT lang, source, n_true, noise,
       |  greatest(n_true + noise, 0) AS released
       |FROM r ORDER BY lang, source""".stripMargin
  }

  // ---------------------------------------------------------------
  // q245: dedup-pipeline evaluation (LSH precision + seed recall)
  // ---------------------------------------------------------------

  /** Recall ground truth runs brute-force over the first
    * [[DedupEvalSeedMax]] doc ids — an ABSOLUTE cap (the q47 seeded-
    * centroid discipline), so the all-pairs reference is ≤ ~131k
    * pairs at any corpus size (and far fewer materialize: the truth
    * search equi-joins on shingles, so 0-overlap pairs never appear);
    * a fraction-based sample would grow quadratically. 512 is sized
    * so the driver corpus has live true-dup pairs inside the seed
    * range at every SF. */
  private val DedupEvalSeedMax = 512L

  /** Evaluation of the MinHash-LSH near-dup pipeline against exact
    * shingle Jaccard — the measurement a team runs before trusting
    * q23/q24/q50's candidates (Broder 1997's estimator has known
    * band/bucket recall curves; this measures the DEPLOYED
    * configuration on the actual corpus, the q136/q200 ANN-recall
    * discipline applied to dedup):
    *
    *  - PRECISION over every LSH candidate pair: fraction whose exact
    *    Jaccard reaches the 0.8 cluster threshold — decided by the
    *    EXACT integer cross-multiplication n_common·10 ≥ (n1+n2−
    *    n_common)·8, no double compare anywhere (sharper than rule
    *    10: the grid is exact rational).
    *  - RECALL against brute-force truth on the seed subset: all
    *    true ≥0.8 pairs among the first [[DedupEvalSeedMax]] docs
    *    (found via the shingle equi-join — a 0-common pair cannot be
    *    a dup, so no quadratic materializes), intersected with the
    *    candidate set.
    *
    * One tagged union feeds ONE aggregate computing all four counts —
    * no 1-row cross-join assembly; ppm ratios are rule-13 floor
    * divisions, CASE-guarded for empty denominators. */
  def q245DedupEval(s: SparkSession, d: String): DataFrame =
    // round 15: the evaluated pipeline IS the staged q24 pair relation
    // (identical rows, oracle-green) — read it instead of recomputing
    // the full LSH build inside the eval.
    dedupEvalFrom(pairsStaged(s, d), Tables.documents(s, d))

  private[graft] def dedupEval(docs: DataFrame): DataFrame =
    dedupEvalFrom(lshPairs(docs), docs)

  private def dedupEvalFrom(pairs: DataFrame, docs: DataFrame): DataFrame = {
    // eager cut: candT is referenced by BOTH tagged arms (the cand
    // rows and the seed-recall left join) — lazily the whole pair
    // pipeline re-evaluated per arm
    val candT = pairs.select($"d1", $"d2",
      ($"n_common" * 10L >= ($"n1" + $"n2" - $"n_common") * 8L).as("dup"))
      .localCheckpoint(true)
    val seedsh = shingleRows(docs.filter($"doc_id" < DedupEvalSeedMax))
      .distinct()
    val scnt = seedsh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val struth = seedsh.select($"doc_id".as("d1"), $"sh")
      .join(seedsh.select($"doc_id".as("d2"), $"sh"), Seq("sh"))
      .filter($"d1" < $"d2")
      .groupBy($"d1", $"d2").agg(count(lit(1)).as("n_common"))
      .join(scnt.select($"doc_id".as("d1"), $"n".as("sn1")), Seq("d1"))
      .join(scnt.select($"doc_id".as("d2"), $"n".as("sn2")), Seq("d2"))
      .filter($"n_common" * 10L >= ($"sn1" + $"sn2" - $"n_common") * 8L)
      .select($"d1", $"d2")
    val tagged = candT.select(lit("cand").as("tag"), $"dup")
      .unionByName(struth
        .join(candT.select($"d1", $"d2", lit(true).as("c")),
          Seq("d1", "d2"), "left")
        .select(lit("seed").as("tag"), coalesce($"c", lit(false)).as("dup")))
    tagged.agg(
        sum(when($"tag" === "cand", 1L).otherwise(0L)).as("n_candidates"),
        sum(when($"tag" === "cand" && $"dup", 1L).otherwise(0L))
          .as("n_cand_dups"),
        sum(when($"tag" === "seed", 1L).otherwise(0L)).as("n_seed_true"),
        sum(when($"tag" === "seed" && $"dup", 1L).otherwise(0L))
          .as("n_seed_caught"))
      .select($"n_candidates", $"n_cand_dups",
        when($"n_candidates" > 0L,
          expr("(n_cand_dups * 1000000) div n_candidates"))
          .as("precision_ppm"),
        $"n_seed_true", $"n_seed_caught",
        when($"n_seed_true" > 0L,
          expr("(n_seed_caught * 1000000) div n_seed_true"))
          .as("recall_ppm"))
  }

  val q245DedupEvalSql: String =
    s"""WITH $shinglesCte,
       |$bandsCte,
       |$lshCandCtes,
       |candt AS (SELECT c.d1, c.d2,
       |    (coalesce(i.n_common, 0) * 10 >=
       |     (c1.n + c2.n - coalesce(i.n_common, 0)) * 8) AS dup
       |  FROM cands c
       |  LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
       |  JOIN counts c1 ON c1.doc_id = c.d1
       |  JOIN counts c2 ON c2.doc_id = c.d2),
       |ssh AS (SELECT doc_id, sh FROM sh
       |  WHERE doc_id < $DedupEvalSeedMax),
       |scnt AS (SELECT doc_id, count(*) AS n FROM ssh GROUP BY doc_id),
       |sint AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    count(*) AS n_common
       |  FROM ssh a JOIN ssh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |struth AS (SELECT s.d1, s.d2 FROM sint s
       |  JOIN scnt c1 ON c1.doc_id = s.d1
       |  JOIN scnt c2 ON c2.doc_id = s.d2
       |  WHERE s.n_common * 10 >= (c1.n + c2.n - s.n_common) * 8),
       |tagged AS (SELECT 'cand' AS tag, dup FROM candt
       |  UNION ALL SELECT 'seed', (ct.d1 IS NOT NULL) FROM struth st
       |    LEFT JOIN (SELECT d1, d2 FROM candt) ct
       |    ON ct.d1 = st.d1 AND ct.d2 = st.d2),
       |a AS (SELECT
       |    CAST(sum(CASE WHEN tag = 'cand' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_candidates,
       |    CAST(sum(CASE WHEN tag = 'cand' AND dup THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_cand_dups,
       |    CAST(sum(CASE WHEN tag = 'seed' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_seed_true,
       |    CAST(sum(CASE WHEN tag = 'seed' AND dup THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_seed_caught
       |  FROM tagged)
       |SELECT n_candidates, n_cand_dups,
       |  CASE WHEN n_candidates > 0
       |    THEN (n_cand_dups * 1000000) // n_candidates END
       |    AS precision_ppm,
       |  n_seed_true, n_seed_caught,
       |  CASE WHEN n_seed_true > 0
       |    THEN (n_seed_caught * 1000000) // n_seed_true END
       |    AS recall_ppm
       |FROM a""".stripMargin

  // ---------------------------------------------------------------
  // q246: permutation feature importance for the quality classifier
  // ---------------------------------------------------------------

  /** q178's per-feature micro-logit CONTRIBUTIONS, factored so the
    * permuted score is base − own + partner per term. The EngineSpec
    * consistency test pins Σ contribs − 30000 ≡ logitCol on real
    * corpus rows, so these cannot drift from the deployed model. */
  private def contribCols: Seq[(String, Column)] = Seq(
    ("nt", lit(600L) * $"nt"),
    ("atl_g", lit(-2L) * abs($"atl_g" - 45000L)),
    ("pr_g", lit(-60L) * $"pr_g"),
    ("swr_g", lit(40L) * $"swr_g"))
  private val contribSql: Seq[(String, String)] = Seq(
    ("nt", "600 * %s"), ("atl_g", "-2 * abs(%s - 45000)"),
    ("pr_g", "-60 * %s"), ("swr_g", "40 * %s"))

  /** Permutation feature importance (Breiman 2001's forest-OOB
    * measure, model-agnostic form) for q178's quality classifier:
    * break each feature's association with the document by swapping
    * in ANOTHER document's value and count how often the keep/drop
    * decision flips — the importance ranking a team reads before
    * pruning the feature set or debugging a dominant feature.
    *
    * The "permutation" is deterministic and SCALABLE: docs are
    * md5-bucketed (256 buckets), ranked inside their bucket
    * (PARTITIONED window — never a global rank), and each doc swaps
    * with the next rank cyclically — a derangement within buckets
    * (singleton buckets degenerate to self-swap = zero delta,
    * counted honestly as no-flip). Because the model is an affine
    * score over per-feature terms, the permuted logit is EXACTLY
    * base − contrib_f(own) + contrib_f(partner) — one equi-join
    * fetches the partner's grid, all four permuted scores come from
    * the same row, all arithmetic exact integers.
    *
    * Output per feature: docs, decision flips, flip ppm, and the
    * mean absolute logit shift (floor division, micro units). */
  def q246PermImportance(s: SparkSession, d: String): DataFrame =
    permImportance(featureGrid(
      Tables.documents(s, d).filter($"text".isNotNull), $"doc_id"))

  private[graft] def permImportance(grid: DataFrame): DataFrame = {
    val wB = Window.partitionBy($"bkt").orderBy($"doc_id")
    val ranked = grid
      .withColumn("bkt", substring(md5(concat(lit("pi:"),
        $"doc_id".cast("string"))), 1, 2))
      .withColumn("rn", row_number().over(wB).cast("long"))
      .withColumn("nb", count(lit(1)).over(Window.partitionBy($"bkt"))
        .cast("long"))
    val own = ranked.select(($"doc_id" +: $"bkt" +: $"rn" +: $"nb" +:
      contribCols.map { case (n, c) => c.as(s"c_$n") }): _*)
      .withColumn("base",
        lit(-30000L) + contribCols.map(n => col(s"c_${n._1}"))
          .reduce(_ + _))
    val partner = own.select(($"bkt".as("pbkt") +: $"rn".as("prn") +:
      contribCols.map { case (n, _) => col(s"c_$n").as(s"p_$n") }): _*)
    val joined = own.join(partner,
      $"bkt" === $"pbkt" && ($"rn" % $"nb" + 1L) === $"prn")
    val x = joined.select($"base", explode(array(contribCols.map {
        case (n, _) => struct(lit(n).as("feature"),
          (col(s"p_$n") - col(s"c_$n")).as("delta"))
      }: _*)).as("e"))
      .select($"e.feature".as("feature"), $"base", $"e.delta".as("delta"))
    x.groupBy($"feature")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(($"base" >= 0L) =!= ($"base" + $"delta" >= 0L), 1L)
          .otherwise(0L)).as("n_flips"),
        sum(abs($"delta")).as("sad"))
      .select($"feature", $"n_docs", $"n_flips",
        expr("(n_flips * 1000000) div n_docs").as("flip_ppm"),
        expr("sad div n_docs").as("mean_abs_delta_micro"))
      .orderBy($"feature")
  }

  val q246PermImportanceSql: String = {
    val ownC = contribSql.map { case (n, f) =>
      s"${f.format(n)} AS c_$n" }.mkString(", ")
    val baseExpr = "-30000 + " + contribSql.map { case (n, _) =>
      s"c_$n" }.mkString(" + ")
    val deltas = contribSql.map { case (n, _) =>
      s"SELECT feature, base, delta FROM (SELECT '$n' AS feature, " +
        s"o.base, p.c_$n - o.c_$n AS delta FROM own o JOIN own p ON " +
        "p.bkt = o.bkt AND p.rn = o.rn % o.nb + 1)"
    }.mkString("\n  UNION ALL ")
    s"""WITH f AS (SELECT ${featureGridSql("doc_id,")}
       |  FROM documents WHERE text IS NOT NULL),
       |rk AS (SELECT doc_id, nt, atl_g, pr_g, swr_g,
       |    substring(md5('pi:' || CAST(doc_id AS VARCHAR)), 1, 2)
       |      AS bkt
       |  FROM f),
       |rn AS (SELECT *,
       |    CAST(row_number() OVER (PARTITION BY bkt ORDER BY doc_id)
       |      AS BIGINT) AS rn,
       |    CAST(count(*) OVER (PARTITION BY bkt) AS BIGINT) AS nb
       |  FROM rk),
       |c AS (SELECT doc_id, bkt, rn, nb, $ownC FROM rn),
       |own AS MATERIALIZED (SELECT *, $baseExpr AS base FROM c),
       |x AS ($deltas)
       |SELECT feature, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN (base >= 0) <> (base + delta >= 0)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flips,
       |  (CAST(sum(CASE WHEN (base >= 0) <> (base + delta >= 0)
       |    THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*)
       |    AS flip_ppm,
       |  CAST(sum(abs(delta)) AS BIGINT) // count(*)
       |    AS mean_abs_delta_micro
       |FROM x GROUP BY feature ORDER BY feature""".stripMargin
  }

  // ---------------------------------------------------------------
  // q247: k-fold cross-validated stump (model selection, CV eval)
  // ---------------------------------------------------------------

  private val CvFolds = 4L

  /** K-fold cross-validation of the q240 decision stump — the model-
    * selection loop around the trainer step: docs are dealt into
    * [[CvFolds]] md5 folds, a stump is trained on each fold's
    * COMPLEMENT and scored on the held-out fold; the per-fold test
    * accuracies (and their spread) are what a team reads before
    * trusting q240's single split.
    *
    * The scale trick is histogram SUBTRACTION: the corpus is scanned
    * ONCE into per-(fold, feature, bin) class counts; each fold's
    * training histogram is the global histogram minus its own — never
    * k re-scans (the same algebra distributed GBDT uses for feature
    * subsampling). All [[CvFolds]]×4×64 candidates score in one
    * bounded relation; per-fold argmin is the q240 rule-9 pack
    * grouped by fold. Held-out predictions ride the SAME exploded
    * doc×feature relation joined to the 4-row winner table
    * (broadcast): each doc's bin for the winning feature picks a
    * leaf, the leaf predicts its training majority (lp ≥ ln → pos,
    * ties to pos — documented), and the fold accuracy is an exact
    * integer census.
    *
    * Determinism: folds are exact md5 mod [[CvFolds]]; the weighted
    * Gini is q240's identical-IEEE rule-7 expression ppm-gridded
    * before the argmin; everything else integer. */
  def q247CvStump(s: SparkSession, d: String): DataFrame =
    cvStump(featureGrid(
      Tables.documents(s, d).filter($"text".isNotNull),
      $"doc_id", ($"lang" === "en").as("pos")))

  private[graft] def cvStump(f: DataFrame): DataFrame = {
    val fold = conv(substring(md5(concat(lit("cv:"),
      $"doc_id".cast("string"))), 1, 2), 16, 10).cast("long") % CvFolds
    val x = f.select($"doc_id", fold.as("fold"), $"pos",
        explode(array(StumpFeats.map { case (fid, c, off, step) =>
          struct(lit(fid).as("fid"),
            least(expr(s"greatest($c - $off, 0) div $step"),
              lit(StumpBins - 1)).as("bin"))
        }: _*)).as("e"))
      .select($"doc_id", $"fold", $"e.fid".as("fid"),
        $"e.bin".as("bin"), $"pos")
    val histAll = x.groupBy($"fid", $"bin")
      .agg(sum(when($"pos", 1L).otherwise(0L)).as("anp"),
        sum(when($"pos", 0L).otherwise(1L)).as("ann"))
    val histFold = x.groupBy($"fold", $"fid", $"bin")
      .agg(sum(when($"pos", 1L).otherwise(0L)).as("fnp"),
        sum(when($"pos", 0L).otherwise(1L)).as("fnn"))
    val folds = f.sparkSession.range(CvFolds).select($"id".as("fold"))
    val train = folds.crossJoin(broadcast(histAll))
      .join(histFold, Seq("fold", "fid", "bin"), "left")
      .select($"fold", $"fid", $"bin",
        ($"anp" - coalesce($"fnp", lit(0L))).as("np"),
        ($"ann" - coalesce($"fnn", lit(0L))).as("nn"))
    val wCum = Window.partitionBy($"fold", $"fid").orderBy($"bin")
    val wAll = Window.partitionBy($"fold", $"fid")
    val sc = train.select($"fold", $"fid", $"bin",
        sum($"np").over(wCum).as("lp"), sum($"nn").over(wCum).as("ln"),
        sum($"np").over(wAll).as("npos"),
        sum($"nn").over(wAll).as("nneg"))
      .select($"fold", $"fid", $"bin", $"lp", $"ln",
        ($"npos" - $"lp").as("rp"), ($"nneg" - $"ln").as("rn"))
      .filter($"lp" + $"ln" > 0L && $"rp" + $"rn" > 0L)
      .select($"fold", $"fid", $"bin", $"lp", $"ln", $"rp", $"rn",
        floor((lit(2.0) * $"lp" * $"ln" / ($"lp" + $"ln") +
          lit(2.0) * $"rp" * $"rn" / ($"rp" + $"rn")) /
          ($"lp" + $"ln" + $"rp" + $"rn") * 1000000.0 + 0.5)
          .cast("long").as("gini_ppm"))
      .withColumn("pack", $"gini_ppm" * 256L + $"fid" * 64L + $"bin")
    val best = sc.groupBy($"fold").agg(min($"pack").as("mp"))
      .select($"fold".as("bfold"), $"mp")
    val winners = sc.join(best,
        $"fold" === $"bfold" && $"pack" === $"mp")
      .select($"fold".as("wfold"), $"fid".as("wfid"),
        $"bin".as("wbin"), $"gini_ppm",
        ($"lp" >= $"ln").as("leftpos"), ($"rp" >= $"rn").as("rightpos"))
    val evals = x.join(broadcast(winners),
        $"fold" === $"wfold" && $"fid" === $"wfid")
      .select($"fold", $"gini_ppm", $"wfid", $"wbin", $"pos",
        when($"bin" <= $"wbin", $"leftpos").otherwise($"rightpos")
          .as("pred"))
      .groupBy($"fold", $"wfid", $"wbin", $"gini_ppm")
      .agg(count(lit(1)).as("n_test"),
        sum(when($"pos" === $"pred", 1L).otherwise(0L)).as("n_correct"))
    val featName = StumpFeats.foldRight(lit(null: String)) {
      case ((fid, c, _, _), e) => when($"wfid" === fid, c).otherwise(e)
    }
    val threshold = StumpFeats.foldRight(lit(null: String).cast("long")) {
      case ((fid, _, off, step), e) =>
        when($"wfid" === fid, lit(off) + ($"wbin" + 1L) * step)
          .otherwise(e)
    }
    evals.select($"fold", featName.as("feature"),
        threshold.as("threshold"), $"gini_ppm".as("train_gini_ppm"),
        $"n_test", $"n_correct",
        expr("(n_correct * 1000000) div n_test").as("acc_ppm"))
      .orderBy($"fold")
  }

  val q247CvStumpSql: String = {
    val axes = StumpFeats.map { case (fid, c, off, step) =>
      s"  SELECT doc_id, fold, pos, CAST($fid AS BIGINT) AS fid, " +
        s"least(greatest($c - $off, 0) // $step, ${StumpBins - 1}) " +
        "AS bin FROM f0"
    }.mkString("\n  UNION ALL\n")
    val featCase = StumpFeats.map { case (fid, c, _, _) =>
      s"WHEN $fid THEN '$c'"
    }.mkString("CASE wfid ", " ", " END")
    val threshCase = StumpFeats.map { case (fid, _, off, step) =>
      s"WHEN $fid THEN $off + (wbin + 1) * $step"
    }.mkString("CASE wfid ", " ", " END")
    s"""WITH f1 AS (SELECT ${featureGridSql(
          "doc_id, lang = 'en' AS pos,")}
       |  FROM documents WHERE text IS NOT NULL),
       |f0 AS (SELECT *,
       |    CAST('0x' || substring(md5('cv:' || CAST(doc_id AS VARCHAR)),
       |      1, 2) AS BIGINT) % $CvFolds AS fold
       |  FROM f1),
       |x AS (
       |$axes),
       |ha AS (SELECT fid, bin,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS anp,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS ann
       |  FROM x GROUP BY 1, 2),
       |hf AS (SELECT fold, fid, bin,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS fnp,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS fnn
       |  FROM x GROUP BY 1, 2, 3),
       |fl AS (SELECT fold FROM generate_series(0, ${CvFolds - 1})
       |  AS t(fold)),
       |tb AS (SELECT fl.fold, ha.fid, ha.bin, ha.anp, ha.ann
       |  FROM fl CROSS JOIN ha),
       |tr AS (SELECT tb.fold, tb.fid, tb.bin,
       |    tb.anp - coalesce(hf.fnp, 0) AS np,
       |    tb.ann - coalesce(hf.fnn, 0) AS nn
       |  FROM tb LEFT JOIN hf ON hf.fold = tb.fold AND hf.fid = tb.fid
       |    AND hf.bin = tb.bin),
       |c AS (SELECT fold, fid, bin,
       |    CAST(sum(np) OVER (PARTITION BY fold, fid ORDER BY bin)
       |      AS BIGINT) AS lp,
       |    CAST(sum(nn) OVER (PARTITION BY fold, fid ORDER BY bin)
       |      AS BIGINT) AS ln,
       |    CAST(sum(np) OVER (PARTITION BY fold, fid) AS BIGINT)
       |      AS npos,
       |    CAST(sum(nn) OVER (PARTITION BY fold, fid) AS BIGINT)
       |      AS nneg
       |  FROM tr),
       |s0 AS (SELECT fold, fid, bin, lp, ln, npos - lp AS rp,
       |    nneg - ln AS rn FROM c),
       |sc AS (SELECT fold, fid, bin, lp, ln, rp, rn,
       |    CAST(floor((2.0 * lp * ln / (lp + ln) +
       |      2.0 * rp * rn / (rp + rn)) / (lp + ln + rp + rn)
       |      * 1000000.0 + 0.5) AS BIGINT) AS gini_ppm
       |  FROM s0 WHERE lp + ln > 0 AND rp + rn > 0),
       |p AS (SELECT *, gini_ppm * 256 + fid * 64 + bin AS pack FROM sc),
       |b AS (SELECT fold, min(pack) AS mp FROM p GROUP BY fold),
       |w AS (SELECT p.fold AS wfold, p.fid AS wfid, p.bin AS wbin,
       |    p.gini_ppm, p.lp >= p.ln AS leftpos, p.rp >= p.rn AS rightpos
       |  FROM p JOIN b ON b.fold = p.fold AND p.pack = b.mp),
       |ev AS (SELECT x.fold, w.wfid, w.wbin, w.gini_ppm,
       |    CAST(count(*) AS BIGINT) AS n_test,
       |    CAST(sum(CASE WHEN x.pos = (CASE WHEN x.bin <= w.wbin
       |      THEN w.leftpos ELSE w.rightpos END) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_correct
       |  FROM x JOIN w ON w.wfold = x.fold AND w.wfid = x.fid
       |  GROUP BY 1, 2, 3, 4)
       |SELECT fold, $featCase AS feature, $threshCase AS threshold,
       |  gini_ppm AS train_gini_ppm, n_test, n_correct,
       |  (n_correct * 1000000) // n_test AS acc_ppm
       |FROM ev ORDER BY fold""".stripMargin
  }

  // ---------------------------------------------------------------
  // q251: Good–Turing count-of-counts census (LM smoothing prep)
  // ---------------------------------------------------------------

  /** Output clamp: rows for observed frequencies r ≤ [[GtMaxR]] (the
    * region Good–Turing smoothing actually adjusts; higher counts use
    * raw MLE). */
  private val GtMaxR = 20L

  /** Good–Turing count-of-counts census over TRIGRAM frequencies
    * (Good 1953; the frequency-of-frequencies table every GT /
    * Katz-backoff / SGT smoother is built from — and n-gram counts
    * are exactly where Katz applies it: unigram counts saturate
    * while the trigram spectrum is hapax-rich): for each observed
    * corpus frequency r ≤ [[GtMaxR]], the number of distinct
    * trigrams N_r occurring exactly r times and the GT-adjusted
    * count r* = (r+1)·N_{r+1}/N_r (milli-units) — with N_1/N (the
    * unseen-mass estimate) readable off the r = 1 row. The LM-
    * smoothing companion to q102's unigram LM and q119's bigram
    * statistics. (Trigram grain also keeps the census LIVE on any
    * corpus — a bounded-vocabulary stream saturates every unigram
    * past the clamp, which is precisely why Katz smooths n-grams.)
    *
    * Determinism: pure integer arithmetic — corpus frequencies are
    * exact counts, the adjusted count a rule-13 floor division, rows
    * with no N_{r+1} (a gap in the frequency spectrum) NULL via the
    * left join identically both sides.
    *
    * Scale: one corpus scan through the codegen'd trigram stream
    * (q23's shingle machinery) to the trigram-grain frequency
    * relation — the standard LM aggregation; the count-of-counts
    * result has at most O(√tokens) distinct frequencies (Σ r·N_r =
    * corpus trigrams bounds the distinct-r count); the adjacent-
    * frequency join is metadata. */
  def q251GoodTuring(s: SparkSession, d: String): DataFrame =
    goodTuring(shingleRows(Tables.documents(s, d))
      .groupBy($"sh").agg(count(lit(1)).as("r")))

  private[graft] def goodTuring(termFreq: DataFrame): DataFrame = {
    val cc = termFreq
      .groupBy($"r").agg(count(lit(1)).as("n_r"))
    cc.filter($"r" <= GtMaxR)
      .join(cc.select(($"r" - 1L).as("r"), $"n_r".as("n_r1")),
        Seq("r"), "left")
      .select($"r", $"n_r",
        when($"n_r1".isNotNull,
          expr("((r + 1) * n_r1 * 1000) div n_r")).as("gt_star_milli"))
      .orderBy($"r")
  }

  val q251GoodTuringSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |tg AS (SELECT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
       |    AS sh
       |  FROM ws, UNNEST(range(0, len(w) - 2)) AS t(i)),
       |cf AS (SELECT sh, CAST(count(*) AS BIGINT) AS r FROM tg
       |  GROUP BY sh),
       |cc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM cf
       |  GROUP BY r),
       |nx AS (SELECT r - 1 AS r, n_r AS n_r1 FROM cc)
       |SELECT cc.r, cc.n_r,
       |  CASE WHEN nx.n_r1 IS NOT NULL
       |    THEN ((cc.r + 1) * nx.n_r1 * 1000) // cc.n_r END
       |    AS gt_star_milli
       |FROM cc LEFT JOIN nx USING (r)
       |WHERE cc.r <= $GtMaxR ORDER BY cc.r""".stripMargin

  // ---------------------------------------------------------------
  // q252: Cohen's kappa between the rule and model classifiers
  // ---------------------------------------------------------------

  /** Cohen's kappa (Cohen 1960) between q175's rule battery and
    * q178's model classifier — the CHANCE-CORRECTED agreement the
    * q185/q236 pair still lacks (raw agreement is inflated when both
    * classifiers mostly say "keep"; kappa subtracts the agreement two
    * independent raters with these marginals would reach by luck).
    * The number a team quotes when deciding whether the model can
    * REPLACE the rules rather than merely correlate with them.
    *
    * Determinism: the 2×2 confusion counts are exact integers from
    * the shared single-scan grid; the expected-agreement product
    * p_x = (a+b)(a+c)+(c+d)(b+d) stays exact BIGINT (≤ n², exact
    * under BIGINT for n ≤ 3e9 — an eval-slice bound, documented);
    * p_o is a rule-13 integer division; p_e and kappa run rule-7
    * doubles on the exact counts with identical trees, ppm-gridded,
    * and the degenerate kappa denominator (p_e = 1: a single-cell
    * marginal) CASEs to NULL both sides. */
  def q252CohenKappa(s: SparkSession, d: String): DataFrame =
    cohenKappa(featureGrid(
      Tables.documents(s, d).filter($"text".isNotNull))
      .select((!ruleViolCols.reduce(_ || _)).as("rules"),
        (logitCol >= 0L).as("model")))

  private[graft] def cohenKappa(rated: DataFrame): DataFrame =
    rated.agg(count(lit(1)).as("n"),
        sum(when($"model" && $"rules", 1L).otherwise(0L)).as("a"),
        sum(when($"model" && !$"rules", 1L).otherwise(0L)).as("b"),
        sum(when(!$"model" && $"rules", 1L).otherwise(0L)).as("c"),
        sum(when(!$"model" && !$"rules", 1L).otherwise(0L)).as("d"))
      .select($"n", $"a", $"b", $"c", $"d",
        (($"a" + $"b") * ($"a" + $"c") +
          ($"c" + $"d") * ($"b" + $"d")).as("px"))
      .select($"n", $"a", $"b", $"c", $"d",
        expr("((a + d) * 1000000) div n").as("po_ppm"),
        floor($"px".cast("double") / ($"n".cast("double") * $"n") *
          1000000.0 + 0.5).cast("long").as("pe_ppm"),
        when($"n".cast("double") * $"n" - $"px" =!= 0.0,
          floor(($"n".cast("double") * ($"a" + $"d") - $"px") /
            ($"n".cast("double") * $"n" - $"px") * 1000000.0 + 0.5)
            .cast("long")).as("kappa_ppm"))

  val q252CohenKappaSql: String =
    s"""WITH f AS (SELECT ${featureGridSql("")}
       |  FROM documents WHERE text IS NOT NULL),
       |sc AS (SELECT NOT (${ruleViolSql.mkString(" OR ")}) AS rules,
       |    ($logitSql) >= 0 AS model
       |  FROM f),
       |cm AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN model AND rules THEN 1 ELSE 0 END)
       |      AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN model AND NOT rules THEN 1 ELSE 0 END)
       |      AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN NOT model AND rules THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN NOT model AND NOT rules THEN 1 ELSE 0 END)
       |      AS BIGINT) AS d
       |  FROM sc),
       |px AS (SELECT *, (a + b) * (a + c) + (c + d) * (b + d) AS px
       |  FROM cm)
       |SELECT n, a, b, c, d,
       |  ((a + d) * 1000000) // n AS po_ppm,
       |  CAST(floor(CAST(px AS DOUBLE) / (CAST(n AS DOUBLE) * n)
       |    * 1000000.0 + 0.5) AS BIGINT) AS pe_ppm,
       |  CASE WHEN CAST(n AS DOUBLE) * n - px <> 0.0
       |    THEN CAST(floor((CAST(n AS DOUBLE) * (a + d) - px) /
       |      (CAST(n AS DOUBLE) * n - px) * 1000000.0 + 0.5) AS BIGINT)
       |    END AS kappa_ppm
       |FROM px""".stripMargin

  // ---------------------------------------------------------------
  // q253: leave-one-source-out ablation (mixture accounting)
  // ---------------------------------------------------------------

  /** Leave-one-source-out corpus ablation — the mixture-accounting
    * question behind every curation decision ("which source is
    * dragging quality?"): for each source, the corpus-level metrics
    * WITH THAT SOURCE REMOVED (doc count, mean token length, Gopher-
    * pass rate) and the pass-rate delta vs the full corpus. A
    * positive delta says removing the source IMPROVES the corpus —
    * the ranked removal work-list.
    *
    * Scale: the q247 subtraction algebra at source grain — ONE corpus
    * scan into per-source sums, the global totals a 1-row broadcast,
    * every ablation a pure subtraction — never |sources| re-scans.
    *
    * Determinism: exact integer sums; ratios rule-13 floor divisions;
    * the single-source corpus (empty remainder) CASEs to NULL both
    * sides. */
  def q253SourceAblation(s: SparkSession, d: String): DataFrame =
    sourceAblation(featureGrid(
        Tables.documents(s, d).filter($"text".isNotNull), $"source")
      .select($"source", $"nt",
        (!ruleViolCols.reduce(_ || _)).as("pass")))

  private[graft] def sourceAblation(docs: DataFrame): DataFrame = {
    val per = docs
      .groupBy($"source")
      .agg(count(lit(1)).as("sn"), sum($"nt").as("st"),
        sum(when($"pass", 1L).otherwise(0L)).as("sp"))
    val tot = per.agg(sum($"sn").as("gn"), sum($"st").as("gt"),
      sum($"sp").as("gp"))
    per.crossJoin(broadcast(tot))
      .select($"source", ($"gn" - $"sn").as("n_rest"),
        when($"gn" - $"sn" > 0L,
          expr("((gt - st) * 1000) div (gn - sn)"))
          .as("mean_tokens_milli_rest"),
        when($"gn" - $"sn" > 0L,
          expr("((gp - sp) * 1000000) div (gn - sn)"))
          .as("pass_ppm_rest"),
        when($"gn" - $"sn" > 0L,
          expr("((gp - sp) * 1000000) div (gn - sn)") -
            expr("(gp * 1000000) div gn")).as("delta_pass_ppm"))
      .orderBy($"source")
  }

  val q253SourceAblationSql: String =
    s"""WITH f AS (SELECT ${featureGridSql("source,")}
       |  FROM documents WHERE text IS NOT NULL),
       |sc AS (SELECT source, nt,
       |    NOT (${ruleViolSql.mkString(" OR ")}) AS pass
       |  FROM f),
       |per AS (SELECT source, CAST(count(*) AS BIGINT) AS sn,
       |    CAST(sum(nt) AS BIGINT) AS st,
       |    CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS sp
       |  FROM sc GROUP BY source),
       |tot AS (SELECT CAST(sum(sn) AS BIGINT) AS gn,
       |    CAST(sum(st) AS BIGINT) AS gt,
       |    CAST(sum(sp) AS BIGINT) AS gp FROM per)
       |SELECT source, gn - sn AS n_rest,
       |  CASE WHEN gn - sn > 0
       |    THEN ((gt - st) * 1000) // (gn - sn) END
       |    AS mean_tokens_milli_rest,
       |  CASE WHEN gn - sn > 0
       |    THEN ((gp - sp) * 1000000) // (gn - sn) END AS pass_ppm_rest,
       |  CASE WHEN gn - sn > 0
       |    THEN ((gp - sp) * 1000000) // (gn - sn)
       |      - (gp * 1000000) // gn END AS delta_pass_ppm
       |FROM per, tot ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q255: duplicate-aware loss weighting (soft dedup)
  // ---------------------------------------------------------------

  /** Cluster sizes above this collapse into the end band. */
  private val DupWeightBandCap = 64L

  /** Duplicate-aware loss weighting — the SOFT alternative to q52's
    * hard keep-list (the option discussed alongside SemDeDup/D4:
    * instead of dropping near-dups, keep every copy but weight each
    * document 1/cluster_size so a cluster contributes one document's
    * worth of gradient). Output is the weight-mass census per
    * cluster-size band: how many docs sit in each size class and the
    * effective (weighted) document mass they retain — the table that
    * says what soft dedup actually changes about the training mix.
    *
    * Composes q50's staged cluster relation exactly as q52 does (left
    * join; absent docs are singletons, weight 1e6). Pure integers:
    * weight = rule-13 floor division 1e6 div size; the band axis is
    * clamped to [[DupWeightBandCap]] values.
    *
    * Scale: one documents scan left-joined to the staged cluster
    * relation (doc-keyed sort-merge), one map-side-combinable
    * aggregate onto the bounded band axis. */
  def q255DupWeights(s: SparkSession, d: String): DataFrame =
    dupWeights(Tables.documents(s, d).select($"doc_id"),
      q50DedupClusters(s, d).select($"doc_id", $"cluster_size"))

  private[graft] def dupWeights(docs: DataFrame,
      clusters: DataFrame): DataFrame =
    docs
      .join(clusters, Seq("doc_id"), "left")
      .select(coalesce($"cluster_size", lit(1L)).as("sz"))
      .select(least($"sz", lit(DupWeightBandCap)).as("size_band"), $"sz")
      .groupBy($"size_band")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("1000000 div sz")).as("sum_weight_ppm"))
      .orderBy($"size_band")

  val q255DupWeightsSql: String =
    s"""WITH cl AS (SELECT doc_id, cluster_size
       |  FROM ($q50DedupClustersSql)),
       |w AS (SELECT coalesce(cl.cluster_size, 1) AS sz
       |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)
       |SELECT least(sz, $DupWeightBandCap) AS size_band,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(1000000 // sz) AS BIGINT) AS sum_weight_ppm
       |FROM w GROUP BY 1 ORDER BY size_band""".stripMargin

  // ---------------------------------------------------------------
  // q256: Simpson lexical diversity per source (repetition index)
  // ---------------------------------------------------------------

  /** Per-source lexical diversity by the unbiased Simpson index
    * (Simpson 1948, public): the probability two tokens drawn WITHOUT
    * replacement from a source are the same type — Σ c(c−1)/(N(N−1)),
    * an EXACT rational on integer counts (unlike Shannon entropy, no
    * transcendental and no ln-hazard battery); reported with token
    * count, vocabulary, and type-token ratio. High Simpson = a
    * repetitive/templated source — the lexical-health screen beside
    * q61's within-doc repetition and q68's per-doc entropy.
    *
    * Determinism: collision mass Σ c(c−1) and N are exact BIGINT sums
    * (c(c−1) ≤ N² keeps the per-source mass exact for N ≤ 3e9 — a
    * per-source bound, documented); both ratios rule-13 floor
    * divisions; sources with N < 2 CASE to NULL both sides.
    *
    * Scale: one scan to the (source × term) frequency aggregate (the
    * vocabulary-sized LM aggregation, source-keyed), then one
    * map-side-combinable reduction onto the |sources| axis. */
  def q256SimpsonDiversity(s: SparkSession, d: String): DataFrame =
    simpsonDiversity(Tables.documents(s, d)
      .select($"source", explode(Text.tokens($"text")).as("term")))

  private[graft] def simpsonDiversity(toks: DataFrame): DataFrame =
    toks.groupBy($"source", $"term").agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum($"c" * ($"c" - 1L)).as("coll"))
      .select($"source", $"n_tokens", $"vocab",
        expr("(vocab * 1000000) div n_tokens").as("ttr_ppm"),
        when($"n_tokens" >= 2L,
          expr("(coll * 1000000) div (n_tokens * (n_tokens - 1))"))
          .as("simpson_ppm"))
      .orderBy($"source")

  val q256SimpsonDiversitySql: String =
    s"""WITH toks AS (SELECT source, unnest(string_split(text, ' '))
       |    AS term FROM documents),
       |tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
       |  FROM toks GROUP BY 1, 2),
       |agg AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS vocab,
       |    CAST(sum(c * (c - 1)) AS BIGINT) AS coll
       |  FROM tf GROUP BY source)
       |SELECT source, n_tokens, vocab,
       |  (vocab * 1000000) // n_tokens AS ttr_ppm,
       |  CASE WHEN n_tokens >= 2
       |    THEN (coll * 1000000) // (n_tokens * (n_tokens - 1)) END
       |    AS simpson_ppm
       |FROM agg ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q257: MinHash estimator calibration (signature vs exact Jaccard)
  // ---------------------------------------------------------------

  /** Calibration of the MinHash Jaccard ESTIMATOR against exact
    * shingle Jaccard (Broder 1997: per-slice match probability ≈ J) —
    * q245 evaluated the LSH candidate PIPELINE; this evaluates the
    * SKETCH itself: over every candidate pair, the 0..8 signature-
    * agreement count vs the mean exact Jaccard at that agreement
    * level. A well-behaved sketch shows mean Jaccard rising with the
    * match count toward matches/K; the table is how a team picks K
    * and the band threshold.
    *
    * Determinism: agreement counts are exact integer equality sums on
    * the LONG minhash slices; per-pair exact Jaccard rides the
    * integer ppm grid (n_common·1e6 div union, rule 13); bin means
    * are floor divisions.
    *
    * Scale: the pair relation is the LSH-bounded candidate set;
    * signatures join back doc-keyed (sort-merge, never broadcast —
    * the q24 docsets discipline); the census axis is 9 values. */
  def q257MinhashCalibration(s: SparkSession, d: String): DataFrame =
    // round 15: read the STAGED verified pair relation (the q24/q50
    // materialize-once discipline) instead of recomputing the full
    // LSH pipeline, and compute the signature matrix ONCE (eagerly
    // checkpointed — it is joined on both pair sides; lazily it was
    // re-evaluated per reference, four shingle-corpus scans in one
    // plan). Rows are identical: q24 IS pairsStaged, oracle-green.
    calibrationFrom(pairsStaged(s, d),
      signatures(Tables.documents(s, d)).localCheckpoint(true))

  private[graft] def minhashCalibration(docs: DataFrame): DataFrame = {
    val sigs = signatures(docs).localCheckpoint(true)
    calibrationFrom(lshPairsFrom(bandsFrom(sigs), docs), sigs)
  }

  private def calibrationFrom(pairs: DataFrame, sigs: DataFrame): DataFrame = {
    val matchCnt = (0 until MinhashK).map(i =>
      when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .select($"d1", $"d2",
        expr("(n_common * 1000000) div (n1 + n2 - n_common)")
          .as("jacc_ppm"))
      .join(sigs.select(($"doc_id".as("d1") +:
        (0 until MinhashK).map(i => col(s"mh$i").as(s"a_mh$i"))): _*)
        .hint("merge"), "d1")
      .join(sigs.select(($"doc_id".as("d2") +:
        (0 until MinhashK).map(i => col(s"mh$i").as(s"b_mh$i"))): _*)
        .hint("merge"), "d2")
      .select(matchCnt.as("matches"), $"jacc_ppm")
      .groupBy($"matches")
      .agg(count(lit(1)).as("n_pairs"), sum($"jacc_ppm").as("sj"))
      .select($"matches",
        expr(s"(matches * 1000000) div $MinhashK").as("est_jaccard_ppm"),
        $"n_pairs", expr("sj div n_pairs").as("mean_exact_jaccard_ppm"))
      .orderBy($"matches")
  }

  val q257MinhashCalibrationSql: String = {
    val matchSum = (0 until MinhashK).map(i =>
      s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $shinglesCte,
       |$bandsCte,
       |$lshCandCtes,
       |jp AS (SELECT c.d1, c.d2,
       |    (coalesce(i.n_common, 0) * 1000000)
       |      // (c1.n + c2.n - coalesce(i.n_common, 0)) AS jacc_ppm
       |  FROM cands c
       |  LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
       |  JOIN counts c1 ON c1.doc_id = c.d1
       |  JOIN counts c2 ON c2.doc_id = c.d2),
       |mt AS (SELECT CAST($matchSum AS BIGINT) AS matches, jp.jacc_ppm
       |  FROM jp
       |  JOIN sigs sa ON sa.doc_id = jp.d1
       |  JOIN sigs sb ON sb.doc_id = jp.d2)
       |SELECT matches,
       |  (matches * 1000000) // $MinhashK AS est_jaccard_ppm,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(jacc_ppm) AS BIGINT) // count(*)
       |    AS mean_exact_jaccard_ppm
       |FROM mt GROUP BY matches ORDER BY matches""".stripMargin
  }

  // ---------------------------------------------------------------
  // q258: Moore-Lewis cross-entropy-difference data selection
  // ---------------------------------------------------------------

  /** In-domain language for the Moore-Lewis selector: the corpus's
    * majority language plays the "in-domain seed corpus" role. */
  private[graft] val MlInLang = "en"
  /** Selection-score band width (milli-nats) and clamp (bands beyond
    * +/-12 fold into the edge bands; 25-value axis). */
  private[graft] val MlBandMilli = 250.0
  private[graft] val MlBandClamp = 12L

  /** Moore-Lewis cross-entropy-difference data selection (Moore &
    * Lewis, ACL 2010, public): score every document by
    * H_in(d) - H_gen(d) under two add-one-smoothed unigram LMs — one
    * trained on the in-domain stratum (lang = [[MlInLang]]), one on
    * the whole corpus — and report the banded score census a
    * curation pipeline reads its selection threshold off. Documents
    * the in-domain LM models BETTER (negative difference) are the
    * classic "intelligently selected" training set; DSIR (q166) is
    * the hashed-feature descendant of exactly this scorer.
    *
    * Determinism: both LMs share the corpus vocabulary V;
    * ln p(t) = ln(cf+1) - ln(N+V) with every ln gridded to integer
    * micro-nats AT THE VOCABULARY GRAIN (q102's discipline; all four
    * grid sites registered in [[lnBoundaryHazards]]), so per-doc
    * sums are exact order-independent BIGINT arithmetic. The per-doc
    * mean and the band cut run the identical IEEE double divide +
    * floor on both engines (negative-safe, README rule 13; |sum| <=
    * n_tok * 2.2e7 keeps the dividend double-exact for docs under
    * ~4e8 tokens). Band census means are floor(double) on exact sums.
    *
    * Scale: one corpus scan to the (doc, term) tf relation, two
    * map-side-combinable vocabulary aggregates, the tf-vocab join
    * NOT hand-broadcast (q67's df discipline — a web-corpus
    * vocabulary isn't broadcastable; AQE decides locally), the two
    * LM denominators a 1-row broadcast, and the output a bounded
    * <=25-band census. No global sort, no pairwise work. */
  def q258MooreLewis(s: SparkSession, d: String): DataFrame =
    mooreLewis(Tables.documents(s, d)
      .select($"doc_id", $"lang", explode(Text.tokens($"text")).as("term")))

  private[graft] def mooreLewis(toks: DataFrame): DataFrame = {
    val tf = toks.groupBy($"doc_id", $"lang", $"term")
      .agg(count(lit(1)).as("c"))
    val cf = tf.groupBy($"term").agg(
      sum($"c").as("cf"),
      sum(when($"lang" === MlInLang, $"c").otherwise(0L)).as("cfi"))
    // 1-row relation: the two smoothed-LM denominators, gridded
    val denoms = cf.agg(sum($"cf").as("n"), sum($"cfi").as("ni"),
        count(lit(1)).as("v"))
      .select(
        floor(log(($"ni" + $"v").cast("double")) * 1e6 + 0.5).cast("long")
          .as("d_in"),
        floor(log(($"n" + $"v").cast("double")) * 1e6 + 0.5).cast("long")
          .as("d_gen"))
    val g = cf.select($"term",
      floor(log(($"cf" + lit(1L)).cast("double")) * 1e6 + 0.5).cast("long")
        .as("a_gen"),
      floor(log(($"cfi" + lit(1L)).cast("double")) * 1e6 + 0.5).cast("long")
        .as("a_in"))
    val perDoc = tf.join(g, "term")
      .groupBy($"doc_id", $"lang")
      .agg(sum($"c").as("n_tok"),
        sum($"c" * ($"a_gen" - $"a_in")).as("s_diff"))
      .crossJoin(broadcast(denoms))
      .select($"lang", $"n_tok",
        floor(($"s_diff" + $"n_tok" * ($"d_in" - $"d_gen")) /
          ($"n_tok" * 1000.0)).cast("long").as("ce_milli"))
    perDoc
      .select($"lang", $"n_tok", $"ce_milli",
        greatest(lit(-MlBandClamp), least(lit(MlBandClamp),
          floor($"ce_milli" / MlBandMilli).cast("long"))).as("band"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"lang" === MlInLang, 1L).otherwise(0L)).as("n_docs_in"),
        sum($"n_tok").as("n_tokens"),
        sum($"ce_milli").as("sum_ce"))
      .select($"band", $"n_docs", $"n_docs_in", $"n_tokens",
        floor($"sum_ce".cast("double") / $"n_docs").cast("long")
          .as("mean_ce_milli"))
      .orderBy($"band")
  }

  val q258MooreLewisSql: String =
    s"""WITH toks AS (SELECT doc_id, lang,
       |    unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS c
       |  FROM toks GROUP BY 1, 2, 3),
       |cf AS (SELECT term, CAST(sum(c) AS BIGINT) AS cf,
       |    CAST(sum(CASE WHEN lang = '$MlInLang' THEN c ELSE 0 END)
       |      AS BIGINT) AS cfi
       |  FROM tf GROUP BY term),
       |denoms AS (SELECT
       |    CAST(floor(ln(CAST(sum(cfi) + count(*) AS DOUBLE)) * 1e6 + 0.5)
       |      AS BIGINT) AS d_in,
       |    CAST(floor(ln(CAST(sum(cf) + count(*) AS DOUBLE)) * 1e6 + 0.5)
       |      AS BIGINT) AS d_gen FROM cf),
       |g AS (SELECT term,
       |    CAST(floor(ln(CAST(cf + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |      AS a_gen,
       |    CAST(floor(ln(CAST(cfi + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |      AS a_in
       |  FROM cf),
       |pd AS (SELECT t.doc_id, t.lang, CAST(sum(c) AS BIGINT) AS n_tok,
       |    CAST(sum(c * (a_gen - a_in)) AS BIGINT) AS s_diff
       |  FROM tf t JOIN g USING (term) GROUP BY 1, 2),
       |sc AS (SELECT lang, n_tok,
       |    CAST(floor((s_diff + n_tok * (d_in - d_gen)) / (n_tok * 1000.0))
       |      AS BIGINT) AS ce_milli
       |  FROM pd, denoms),
       |bd AS (SELECT lang, n_tok, ce_milli,
       |    greatest(CAST(-$MlBandClamp AS BIGINT), least(
       |      CAST($MlBandClamp AS BIGINT),
       |      CAST(floor(ce_milli / $MlBandMilli) AS BIGINT))) AS band
       |  FROM sc)
       |SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN lang = '$MlInLang' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_docs_in,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(floor(CAST(sum(ce_milli) AS DOUBLE) / count(*)) AS BIGINT)
       |    AS mean_ce_milli
       |FROM bd GROUP BY band ORDER BY band""".stripMargin

  // ---------------------------------------------------------------
  // q259: Jensen-Shannon divergence, each source vs rest
  // ---------------------------------------------------------------

  /** Probability grid for q259 (parts-per-billion). */
  private[graft] val JsdPpb = 1000000000L
  /** floor(ln 2 * 1e6 + 0.5) — a compile-time literal on BOTH engines
    * (never an engine-evaluated transcendental), used for the
    * closed-form out-of-vocabulary remainder. */
  private[graft] val Ln2Micro = 693147L
  /** Exact-arithmetic bound: corpus tokens <= 9e9 keeps c * [[JsdPpb]]
    * inside BIGINT (9e18 < 2^63). Guarded loudly. */
  private[graft] val JsdMaxTokens = 9000000000L

  /** Jensen-Shannon divergence of each source's unigram distribution
    * vs the REST of the corpus (Lin 1991, public) — the bounded
    * symmetric distributional distance a mixture designer reads
    * before weighting sources (q140's KS and q234's rank drift test
    * LENGTH distributions; this measures the CONTENT distribution).
    * JSD = [Sum_t p ln(2p/(p+q)) + q ln(2q/(p+q))] / 2 over the union
    * support, in [0, ln 2].
    *
    * Determinism: p and q are gridded to exact ppb integers (rule-13
    * floor divisions; corpus bound [[JsdMaxTokens]] raise_error-
    * guarded), so every ln argument is an exact integer — each ln is
    * gridded to micro-nats and registered in [[lnBoundaryHazards]]
    * (three sites). Zero-count sides CASE to 0 (lim x ln x = 0) both
    * engines. The out-of-source-vocabulary remainder needs no
    * per-term rows: terms with p = 0 contribute q ln 2 in closed
    * form, so one residual-mass grid x the [[Ln2Micro]] LITERAL
    * covers the whole complement — the |sources| x |vocab| explosion
    * never materializes. Per-source sums are exact BIGINT
    * (|term| <= 1e9 * 2.2e7 = 2.2e16 < 2^63).
    *
    * Scale: one scan to the source-keyed vocabulary relation, one
    * term-keyed equi-join to corpus counts (NOT hand-broadcast —
    * q67's df discipline), the |sources|-row totals broadcast back,
    * one map-side-combinable reduction to the |sources| axis.
    * Single-source corpora (n_rest = 0) NULL both sides. */
  def q259JsdSources(s: SparkSession, d: String): DataFrame =
    jsdSources(Tables.documents(s, d)
      .select($"source", explode(Text.tokens($"text")).as("term")))

  private[graft] def jsdSources(toks: DataFrame): DataFrame = {
    val tf = toks.groupBy($"source", $"term").agg(count(lit(1)).as("c"))
    val ct = tf.groupBy($"term").agg(sum($"c").as("ctot"))
    val ns = tf.groupBy($"source")
      .agg(sum($"c").as("n_s"), count(lit(1)).as("vocab_s"))
    val totG = ns.agg(sum($"n_s").as("n_all"))
      .select(when($"n_all" > JsdMaxTokens, raise_error(concat(
        lit(s"jsdSources: corpus exceeds the exact-arithmetic bound " +
          s"$JsdMaxTokens tokens: "), $"n_all"))).otherwise($"n_all")
        .as("n_all"))
    val nsb = ns.crossJoin(broadcast(totG))
      .select($"source", $"n_s", $"vocab_s", ($"n_all" - $"n_s").as("n_rest"))
    val lnG: Column => Column =
      x => floor(log(x.cast("double")) * 1e6 + 0.5).cast("long")
    val pairs = tf.join(ct, "term").join(broadcast(nsb), "source")
      .select($"source", $"n_s", $"vocab_s", $"n_rest",
        expr(s"(c * $JsdPpb) div n_s").as("pg"),
        when($"n_rest" > 0L, expr(s"((ctot - c) * $JsdPpb) div n_rest"))
          .otherwise(lit(null)).as("qg"),
        ($"ctot" - $"c").as("crest"))
    val terms = pairs.select($"source", $"n_s", $"vocab_s", $"n_rest",
      $"crest",
      when($"pg" > 0L,
        $"pg" * (lnG(lit(2L) * $"pg") - lnG($"pg" + coalesce($"qg", lit(0L)))))
        .otherwise(0L).as("pterm"),
      when($"qg" > 0L,
        $"qg" * (lnG(lit(2L) * $"qg") - lnG($"pg" + $"qg")))
        .otherwise(0L).as("qterm"))
    // n_s / vocab_s / n_rest are constant per source — carried through
    // the aggregate (max) instead of re-joining nsb (no diamond join)
    terms.groupBy($"source")
      .agg(sum($"pterm").as("sp"), sum($"qterm").as("sq"),
        sum($"crest").as("rest_in_vs"),
        sum(when($"crest" === 0L, 1L).otherwise(0L)).as("excl_vocab"),
        max($"n_s").as("n_s"), max($"vocab_s").as("vocab_s"),
        max($"n_rest").as("n_rest"))
      .select($"source", $"n_s".as("n_tokens"), $"vocab_s", $"excl_vocab",
        when($"n_rest" > 0L,
          expr(s"((n_rest - rest_in_vs) * $JsdPpb) div n_rest"))
          .as("resid_ppb"), $"sp", $"sq")
      .select($"source", $"n_tokens", $"vocab_s", $"excl_vocab", $"resid_ppb",
        when($"resid_ppb".isNotNull, stableRound(
          ($"sp" + $"sq" + $"resid_ppb" * lit(Ln2Micro)) /
            (2.0 * JsdPpb * 1e6), 6)).as("jsd_nats"))
      .orderBy($"source")
  }

  val q259JsdSourcesSql: String =
    s"""WITH toks AS (SELECT source, unnest(string_split(text, ' '))
       |    AS term FROM documents),
       |tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
       |  FROM toks GROUP BY 1, 2),
       |ct AS (SELECT term, CAST(sum(c) AS BIGINT) AS ctot
       |  FROM tf GROUP BY term),
       |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s,
       |    CAST(count(*) AS BIGINT) AS vocab_s FROM tf GROUP BY source),
       |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_all FROM ns),
       |nsb AS (SELECT source, n_s, vocab_s, n_all - n_s AS n_rest
       |  FROM ns, tot),
       |pairs AS (SELECT t.source,
       |    (c * $JsdPpb) // n_s AS pg,
       |    CASE WHEN n_rest > 0
       |      THEN ((ctot - c) * $JsdPpb) // n_rest END AS qg,
       |    ctot - c AS crest
       |  FROM tf t JOIN ct USING (term) JOIN nsb USING (source)),
       |terms AS (SELECT source, crest,
       |    CASE WHEN pg > 0 THEN pg *
       |      (CAST(floor(ln(CAST(2 * pg AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |       - CAST(floor(ln(CAST(pg + coalesce(qg, 0) AS DOUBLE)) * 1e6
       |           + 0.5) AS BIGINT))
       |      ELSE 0 END AS pterm,
       |    CASE WHEN qg > 0 THEN qg *
       |      (CAST(floor(ln(CAST(2 * qg AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |       - CAST(floor(ln(CAST(pg + qg AS DOUBLE)) * 1e6 + 0.5)
       |           AS BIGINT))
       |      ELSE 0 END AS qterm
       |  FROM pairs),
       |agg AS (SELECT source, CAST(sum(pterm) AS BIGINT) AS sp,
       |    CAST(sum(qterm) AS BIGINT) AS sq,
       |    CAST(sum(crest) AS BIGINT) AS rest_in_vs,
       |    CAST(sum(CASE WHEN crest = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS excl_vocab
       |  FROM terms GROUP BY source)
       |SELECT a.source, n_s AS n_tokens, vocab_s, excl_vocab,
       |  CASE WHEN n_rest > 0
       |    THEN ((n_rest - rest_in_vs) * $JsdPpb) // n_rest END AS resid_ppb,
       |  CASE WHEN n_rest > 0 THEN ${sqlRound(
             s"(sp + sq + ((n_rest - rest_in_vs) * $JsdPpb) // n_rest" +
             s" * $Ln2Micro) / (2.0 * $JsdPpb * 1e6)", 6)} END AS jsd_nats
       |FROM agg a JOIN nsb USING (source) ORDER BY a.source""".stripMargin

  // ---------------------------------------------------------------
  // q278: interpolated Kneser-Ney bigram smoothing (calibration table)
  // ---------------------------------------------------------------

  private val KnTopK = 20

  /** Interpolated Kneser-Ney bigram probabilities (Kneser & Ney, ICASSP
    * 1995; Chen & Goodman 1998 — THE n-gram smoothing that held SOTA
    * until neural LMs): the smoothing layer q102's unigram surprisal
    * and q251's Good-Turing spectrum lack. Each seen bigram's
    * probability is the discounted MLE plus the backoff mass routed
    * through the CONTINUATION distribution — P(w) proportional to how
    * many distinct contexts w follows, not how often it occurs (the
    * insight that separates KN from Katz: "Francisco" is frequent but
    * follows only "San", so it gets almost no backoff mass):
    *
    *   P_KN(w|v) = (c(vw) − d)/c(v) + d·N1+(v·)/c(v) · N1+(·w)/B,
    *
    * discount d = 3/4 (Chen–Goodman's fixed-discount baseline), N1+ the
    * distinct-neighbor counts, B the bigram-type total. Output: the
    * top-[[KnTopK]] bigrams by raw count, each carrying its exact count
    * scaffolding, the unsmoothed MLE, and the KN probability (both on
    * the ppm grid) — the calibration table q276 builds for the CMS
    * sketch, here for the smoother: discounting must always pull the
    * estimate BELOW the MLE by exactly the (d − backoff·c_v/1)-shaped
    * gap the spec replays.
    *
    * Determinism: all counts exact integers off the shared q62 bigram
    * grain; d = 3/4 makes the discounted numerator the exact integer
    * 4c−3 over 4c_v, so the MLE column is a pure integer floor division
    * and the KN probability ONE rule-7 double expression over exact
    * integers, ppm-gridded (no transcendental anywhere); ties on the
    * count break by the bigram strings.
    *
    * Scale shape: one corpus scan to the bigram-type aggregate
    * (map-side combinable, entropy-rich key); every relation after —
    * context totals, continuation counts, the type total — lives at
    * vocabulary/bigram-type grain (Heaps-law sublinear); the 1-row
    * type total is a broadcast; the top-k plans as
    * TakeOrderedAndProject (bounded per-partition heaps, no global
    * sort). */
  def q278KneserNey(s: SparkSession, d: String): DataFrame =
    kneserNey(Tables.documents(s, d))

  private[graft] def kneserNey(docs: DataFrame): DataFrame = {
    val cvw = ngramRows(docs, 2)
      .select(split($"sh", " ").getItem(0).as("v"),
        split($"sh", " ").getItem(1).as("w"))
      .groupBy($"v", $"w").agg(count(lit(1)).as("c_vw"))
    val cv = cvw.groupBy($"v").agg(sum($"c_vw").as("c_v"),
      count(lit(1)).as("n1_fwd"))
    val cw = cvw.groupBy($"w").agg(count(lit(1)).as("n1_back"))
    val tot = cvw.agg(count(lit(1)).as("n_bigram_types"))
    cvw.join(cv, Seq("v")).join(cw, Seq("w"))
      .crossJoin(broadcast(tot))
      .select($"v", $"w", $"c_vw", $"c_v", $"n1_fwd", $"n1_back",
        $"n_bigram_types",
        expr("(c_vw * 1000000) div c_v").as("mle_ppm"),
        expr("CAST(floor((4*c_vw - 3) * 250000.0 / c_v + " +
          "750000.0 * n1_fwd / c_v * n1_back / n_bigram_types + 0.5) " +
          "AS BIGINT)").as("pkn_ppm"))
      .orderBy($"c_vw".desc, $"v", $"w")
      .limit(KnTopK)
  }

  val q278KneserNeySql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
       |bg AS (SELECT w[i+1] AS v, w[i+2] AS wd
       |       FROM ws, UNNEST(range(0, len(w) - 1)) AS t(i)),
       |cvw AS (SELECT v, wd, CAST(count(*) AS BIGINT) AS c_vw
       |  FROM bg GROUP BY 1, 2),
       |cv AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v,
       |    CAST(count(*) AS BIGINT) AS n1_fwd
       |  FROM cvw GROUP BY v),
       |cw AS (SELECT wd, CAST(count(*) AS BIGINT) AS n1_back
       |  FROM cvw GROUP BY wd),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_bigram_types
       |  FROM cvw)
       |SELECT cvw.v, cvw.wd AS w, c_vw, c_v, n1_fwd, n1_back,
       |  n_bigram_types,
       |  (c_vw * 1000000) // c_v AS mle_ppm,
       |  CAST(floor((4*c_vw - 3) * 250000.0 / c_v +
       |    750000.0 * n1_fwd / c_v * n1_back / n_bigram_types + 0.5)
       |    AS BIGINT) AS pkn_ppm
       |FROM cvw JOIN cv USING (v) JOIN cw USING (wd) CROSS JOIN tot
       |ORDER BY c_vw DESC, cvw.v, cvw.wd LIMIT $KnTopK""".stripMargin

  // ---------------------------------------------------------------
  // q281: TextRank keyword extraction (power iteration at vocab grain)
  // ---------------------------------------------------------------

  private val TrIters = 3
  private val TrTopK = 20

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) — the
    * graph-based keyword ranker beside the frequency rankers (q62 raw
    * counts, q67 TF-IDF): words are nodes, adjacent co-occurrence the
    * (symmetrized, count-weighted, self-loop-free) edges, and salience
    * is stationary mass under the damped random walk — a word ranks
    * high when it co-occurs with other high-ranking words, not merely
    * when it is frequent. Exactly q110's weighted-PageRank power
    * iteration (same damping 0.85, same integer ppb grid, same
    * floor-of-identical-IEEE-divide contribution arithmetic), run at
    * VOCABULARY grain over the co-occurrence graph; output the
    * top-[[TrTopK]] keywords with deterministic (rank desc, word)
    * tie-breaks.
    *
    * Scale shape: one corpus scan to the bigram aggregate (the shared
    * q62/q278 grain); symmetrization and all [[TrIters]] iterations
    * run at vocabulary/bigram-type grain (Heaps-law sublinear — the
    * corpus is never touched again); each iteration is one
    * |E|-bounded equi-join plus a map-side-combinable aggregate (the
    * declarative Pregel step, q110's argument verbatim); the 1-row
    * node count is a broadcast; the top-k plans as TakeOrdered. The
    * symmetric graph has no sink nodes by construction (every node
    * has out-weight), so no dangling-mass correction is needed —
    * total mass only leaks through per-contribution floors, identically
    * in both engines. */
  def q281TextRank(s: SparkSession, d: String): DataFrame =
    textRank(Tables.documents(s, d))

  private[graft] def textRank(docs: DataFrame): DataFrame = {
    val bg = ngramRows(docs, 2)
      .select(split($"sh", " ").getItem(0).as("v"),
        split($"sh", " ").getItem(1).as("w"))
      .filter($"v" =!= $"w")
      .groupBy($"v", $"w").agg(count(lit(1)).as("n"))
    val edges = bg.select($"v".as("src"), $"w".as("dst"), $"n")
      .unionByName(bg.select($"w".as("src"), $"v".as("dst"), $"n"))
      .groupBy($"src", $"dst").agg(sum($"n").as("n"))
    EventOps.pagerank(edges, edges.select($"src".as("node")).distinct(),
        TrIters, None)
      .select($"node".as("word"), $"r".as("rank_ppb"))
      .orderBy($"rank_ppb".desc, $"word").limit(TrTopK)
  }

  val q281TextRankSql: String = {
    val iters = (1 to TrIters).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
         |    CAST(sum(CAST(floor(CAST(r.r * e.n AS DOUBLE) / o.wout)
         |                  AS BIGINT)) AS BIGINT) AS s
         |  FROM r${i - 1} r JOIN edges e ON r.node = e.src
         |  JOIN outw o ON e.src = o.src GROUP BY e.dst),
         |r$i AS (SELECT n.node,
         |    CAST(floor(150000000.0 / nn.c) AS BIGINT) +
         |    CAST(floor(coalesce(c.s, 0) * 85.0 / 100.0) AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN c$i c ON n.node = c.node, nn)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
       |bgr AS (SELECT w[i+1] AS v, w[i+2] AS wd
       |       FROM ws, UNNEST(range(0, len(w) - 1)) AS t(i)),
       |bg AS (SELECT v, wd, CAST(count(*) AS BIGINT) AS n
       |  FROM bgr WHERE v <> wd GROUP BY 1, 2),
       |edges AS (SELECT src, dst, CAST(sum(n) AS BIGINT) AS n FROM (
       |    SELECT v AS src, wd AS dst, n FROM bg
       |    UNION ALL SELECT wd, v, n FROM bg)
       |  GROUP BY 1, 2),
       |outw AS (SELECT src, CAST(sum(n) AS BIGINT) AS wout
       |  FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |nn AS (SELECT count(*) AS c FROM nodes),
       |r0 AS (SELECT node, CAST(floor(1000000000.0 / c) AS BIGINT) AS r
       |  FROM nodes, nn),
       |$iters
       |SELECT node AS word, r AS rank_ppb FROM r$TrIters
       |ORDER BY rank_ppb DESC, word LIMIT $TrTopK""".stripMargin
  }

  // ---------------------------------------------------------------
  // q283: multinomial Naive Bayes language classifier (train + eval)
  // ---------------------------------------------------------------

  /** doc_id % 10 below this trains; the rest evaluates (deterministic
    * q88-style split, behavior-independent). */
  private[graft] val NbTrainMod = 8L

  /** Multinomial Naive Bayes with Laplace smoothing (the textbook
    * McCallum–Nigam 1998 event model), TRAINED on the labeled corpus
    * and evaluated on a held-out split — the supervised-classifier
    * training surface beside the fixed-weight inference of q178 and
    * the heuristic lang-ID of q21: per-language token likelihoods
    * P(t|l) = (c(l,t)+1)/(c(l)+V) and document priors are FIT from the
    * deterministic 80% train split, every held-out doc is scored
    * argmax_l [ln P(l) + Σ ln P(t|l)], and the output is the
    * |langs|² confusion matrix a curation pipeline reads before
    * trusting the classifier.
    *
    * Determinism: every ln lands on the micro-nat grid separately
    * (numerator per seen (lang, term), denominator/prior per lang, one
    * ln N — all four sites registered in [[lnBoundaryHazards]], rule
    * 8), so scores are exact BIGINT sums of gridded integers; the key
    * algebraic move is that an UNSEEN token contributes ln 1 = 0
    * numerator exactly, so score = prior + Σ_matched ln(c+1)grid
    * − n_tok·lnden(l) and the unmatched tokens never need a join arm.
    * Argmax = integer max + min(lang) tie-break (two aggregates + one
    * equi-join back — never max_by/struct-min, rule 9's caveat).
    *
    * Scale shape: training is one corpus scan to the (lang, term)
    * aggregate (map-side combinable; Heaps-bounded grain); the model
    * relations are vocabulary-grain; scoring joins the test token
    * stream to the likelihood table on the term key — each occurrence
    * matches at most |langs| rows (the bounded class axis), the only
    * fan-out; the |langs|-row model spine rides a broadcast cross-join
    * onto the test-doc relation; the readout is |langs|² rows. */
  def q283NaiveBayes(s: SparkSession, d: String): DataFrame =
    naiveBayes(Tables.documents(s, d))

  private[graft] def naiveBayes(docs: DataFrame): DataFrame = {
    val train = docs.filter($"doc_id" % 10 < NbTrainMod)
    val test = docs.filter($"doc_id" % 10 >= NbTrainMod)
    val clt = train
      .select($"lang", explode(Text.tokens($"text")).as("term"))
      .groupBy($"lang", $"term").agg(count(lit(1)).as("c"))
    val vocab = clt.select($"term").distinct().agg(count(lit(1)).as("v"))
    val cl = clt.groupBy($"lang").agg(sum($"c").as("cl"))
    val nTrain = train.agg(count(lit(1)).as("n"))
    val langs = train.groupBy($"lang").agg(count(lit(1)).as("nl"))
      .join(cl, Seq("lang"), "left")
      .crossJoin(broadcast(vocab))
      .crossJoin(broadcast(nTrain))
      .select($"lang",
        (floor(log($"nl".cast("double")) * 1e6 + 0.5).cast("long") -
          floor(log($"n".cast("double")) * 1e6 + 0.5).cast("long"))
          .as("prior_g"),
        floor(log((coalesce($"cl", lit(0L)) + $"v").cast("double"))
          * 1e6 + 0.5).cast("long").as("lnden_g"))
    val ll = clt.select($"lang", $"term",
      floor(log(($"c" + lit(1L)).cast("double")) * 1e6 + 0.5).cast("long")
        .as("lnc1_g"))
    val tdocs = test.select($"doc_id", $"lang".as("lang_true"),
      size(Text.tokens($"text")).cast("long").as("n_tok"))
    val matched = test
      .select($"doc_id", explode(Text.tokens($"text")).as("term"))
      .join(ll, Seq("term"))
      .groupBy($"doc_id", $"lang").agg(sum($"lnc1_g").as("s_match"))
    val scored = tdocs.crossJoin(broadcast(langs))
      .join(matched, Seq("doc_id", "lang"), "left")
      .select($"doc_id", $"lang_true", $"lang",
        ($"prior_g" + coalesce($"s_match", lit(0L)) -
          $"n_tok" * $"lnden_g").as("score"))
    val best = scored.groupBy($"doc_id").agg(max($"score").as("score"))
    val pred = scored.join(best, Seq("doc_id", "score"))
      .groupBy($"doc_id").agg(min($"lang").as("lang_pred"))
    tdocs.select($"doc_id", $"lang_true")
      .join(pred, Seq("doc_id"))
      .groupBy($"lang_true", $"lang_pred").agg(count(lit(1)).as("n"))
      .orderBy($"lang_true", $"lang_pred")
  }

  // ---------------------------------------------------------------
  // q284: greedy set cover (eval-suite selection, 5 unrolled picks)
  // ---------------------------------------------------------------

  private val ScRounds = 5

  /** Greedy set cover (Chvátal 1979 — the (1−1/e)-approximation that
    * is provably near-best-possible) over the doc→distinct-shingle
    * incidence: pick, [[ScRounds]] times, the document covering the
    * most still-uncovered shingles — the coverage-maximal eval-suite /
    * few-shot-pool selection beside q248's k-center (geometric
    * diversity) and q138's MMR (relevance-diversity): here the
    * objective is literal corpus coverage. Census per round: the
    * picked doc, its marginal gain, and cumulative universe coverage
    * in ppm.
    *
    * Determinism: the pick is ONE packed-integer max (rule 9:
    * gain·2³² + (2³²−1−doc_id), so gain desc then doc_id asc — loud
    * per-row pack guard), with ADAPTIVE width: a 1-row bound scan
    * picks the BIGINT pack when doc ids fit 32 bits, the
    * DECIMAL(38,0) pack (ids/gains to 2⁶³, structurally unboundable)
    * beyond — the q282 recipe; an exhausted universe yields a NULL pick
    * that the census reports as doc −1 / gain 0 identically in both
    * engines (max over empty is NULL, the semi-join matches nothing).
    *
    * Scale shape: greedy set cover is inherently round-sequential —
    * each round is one anti-join of the (persisted) incidence against
    * the covered set plus one map-side-combinable gain aggregate (the
    * distributed-greedy shape; lazy-greedy/stochastic-greedy variants
    * cut constant factors, same round structure); the covered set
    * grows only by picked docs' shingles (≤ rounds × doc size — tiny)
    * and is a checkpointed generation per round (the q282 lineage
    * cut), its size the round's census; the pick is read back as one
    * row and filters the incidence by its doc id. */
  def q284SetCover(s: SparkSession, d: String): DataFrame =
    setCoverTrace(Tables.documents(s, d))

  private[graft] def setCoverTrace(docs: DataFrame): DataFrame = {
    val census = Blocks.generations { gens =>
      val ds = gens.pin(shingleRows(docs).distinct())
      // one scan fills the incidence and reads both bounds: the
      // universe total and the max doc id. ADAPTIVE argmax key width
      // (the q282 Borůvka recipe, round-13 pack audit): the narrow
      // 31/32-bit BIGINT pack whenever every doc id fits 32 bits — the
      // common case, measurably cheaper — and the DECIMAL(38,0) pack
      // (gain·2⁶³ + (2⁶³−1−doc), both fields structurally
      // BIGINT-bounded, so no guard can trip) beyond. Both packs induce
      // the same (gain desc, doc_id asc) order, so the choice is
      // output-invisible; the DuckDB mirror packs HUGEINT always.
      val bounds = gens.fill("setCoverTrace incidence")(
        ds.agg(countDistinct($"sh"), max($"doc_id")).head())
      val u = bounds.getLong(0)
      val wideIds = !bounds.isNullAt(1) && bounds.getLong(1) >= (1L << 32)
      val two63 = new java.math.BigDecimal("9223372036854775808")
      var covered: DataFrame = null
      val rows = scala.collection.mutable.ArrayBuffer(("r0_universe", u))
      for (r <- 1 to ScRounds) {
        val uncovered = if (covered == null) ds
          else ds.join(covered, Seq("sh"), "left_anti")
        val guarded = when(
          $"doc_id" >= lit(1L << 32) || $"gain" >= lit(1L << 31),
          raise_error(concat(
            lit("setCoverTrace: (gain, doc) exceeds the 31/32-bit pack " +
              "bound: gain="), $"gain", lit(" doc="), $"doc_id")))
          .otherwise($"gain")
        val gains = uncovered.groupBy($"doc_id").agg(count(lit(1)).as("gain"))
        val pick = (if (wideIds)
          gains.agg(max($"gain".cast("decimal(38,0)") * lit(two63) +
              (lit(Long.MaxValue) - $"doc_id")).as("pk"))
            .select(
              (lit(Long.MaxValue) -
                expr("CAST(pk % 9223372036854775808 AS BIGINT)"))
                .as("doc_id"),
              expr("pk div 9223372036854775808").as("gain"))
        else
          gains.select($"doc_id", guarded.as("gain"))
            .agg(max($"gain" * lit(1L << 32) +
              (lit((1L << 32) - 1) - $"doc_id")).as("pk"))
            .select((lit((1L << 32) - 1) - $"pk" % lit(1L << 32)).as("doc_id"),
              expr(s"pk div ${1L << 32}").as("gain")))
          .head()
        // an exhausted universe picks NULL, which filters no shingle in
        val pickedSh = ds.filter($"doc_id" === pick.get(0)).select($"sh")
        covered = gens.checkpoint((if (covered == null) pickedSh
          else covered.unionByName(pickedSh)).distinct())
        val c = gens.fill(s"setCoverTrace round $r")(covered.count())
        rows += ((s"r${r}_doc", if (pick.isNullAt(0)) -1L else pick.getLong(0)))
        rows += ((s"r${r}_gain", if (pick.isNullAt(1)) 0L else pick.getLong(1)))
        rows += ((s"r${r}_covered_ppm", c * 1000000L / u))
      }
      rows.toSeq
    }
    Relational.censusFrame(docs.sparkSession, census)
  }

  val q284SetCoverSql: String = {
    def roundCtes(r: Int): String = {
      val unc = if (r == 1) "ds"
        else s"(SELECT d.* FROM ds d WHERE NOT EXISTS " +
          s"(SELECT 1 FROM cov${r - 1} c WHERE c.sh = d.sh))"
      val covDef = if (r == 1) s"psh$r" else
        s"(SELECT sh FROM cov${r - 1} UNION SELECT sh FROM psh$r)"
      s"""p$r AS MATERIALIZED (
         |  SELECT 4294967295 - (pk % 4294967296) AS doc_id,
         |    pk // 4294967296 AS gain
         |  FROM (SELECT max(gain * 4294967296 + (4294967295 - doc_id))
         |      AS pk
         |    FROM (SELECT doc_id, count(*) AS gain FROM $unc
         |          GROUP BY doc_id))),
         |psh$r AS (SELECT DISTINCT sh FROM ds
         |  WHERE doc_id IN (SELECT doc_id FROM p$r)),
         |cov$r AS MATERIALIZED (SELECT DISTINCT sh FROM $covDef)"""
        .stripMargin
    }
    val rounds = (1 to ScRounds).map(roundCtes).mkString(",\n")
    val rows = (1 to ScRounds).map { r =>
      s"""SELECT 'r${r}_doc' AS metric, coalesce(doc_id, -1) AS value
         |    FROM p$r
         |  UNION ALL SELECT 'r${r}_gain', coalesce(gain, 0) FROM p$r
         |  UNION ALL SELECT 'r${r}_covered_ppm',
         |    ((SELECT count(*) FROM cov$r) * 1000000)
         |      // (SELECT u FROM ut) FROM (VALUES (1)) t(x)""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |ds AS MATERIALIZED (SELECT DISTINCT doc_id,
       |    w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
       |  FROM ws, UNNEST(range(0, len(w) - 2)) AS t(i)),
       |ut AS (SELECT CAST(count(DISTINCT sh) AS BIGINT) AS u FROM ds),
       |$rounds
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  SELECT 'r0_universe' AS metric, (SELECT u FROM ut) AS value
       |    FROM (VALUES (1)) t0(x)
       |  UNION ALL $rows)
       |ORDER BY metric""".stripMargin
  }

  val q283NaiveBayesSql: String =
    s"""WITH train AS (SELECT * FROM documents
       |  WHERE doc_id % 10 < $NbTrainMod),
       |test AS (SELECT * FROM documents WHERE doc_id % 10 >= $NbTrainMod),
       |clt AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT lang, unnest(string_split(text, ' ')) AS term
       |    FROM train)
       |  GROUP BY 1, 2),
       |voc AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM clt),
       |cl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cl
       |  FROM clt GROUP BY 1),
       |ntr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM train),
       |langs AS (SELECT nl.lang,
       |    CAST(floor(ln(CAST(nl.nl AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |      - CAST(floor(ln(CAST(ntr.n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |      AS prior_g,
       |    CAST(floor(ln(CAST(coalesce(cl.cl, 0) + voc.v AS DOUBLE))
       |      * 1e6 + 0.5) AS BIGINT) AS lnden_g
       |  FROM (SELECT lang, CAST(count(*) AS BIGINT) AS nl
       |        FROM train GROUP BY 1) nl
       |  LEFT JOIN cl ON cl.lang = nl.lang, voc, ntr),
       |ll AS (SELECT lang, term,
       |    CAST(floor(ln(CAST(c + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |      AS lnc1_g
       |  FROM clt),
       |tdocs AS (SELECT doc_id, lang AS lang_true,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM test),
       |matched AS (SELECT t.doc_id, l.lang,
       |    CAST(sum(l.lnc1_g) AS BIGINT) AS s_match
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM test) t
       |  JOIN ll l ON l.term = t.term GROUP BY 1, 2),
       |scored AS (SELECT d.doc_id, d.lang_true, lg.lang,
       |    lg.prior_g + coalesce(m.s_match, 0) - d.n_tok * lg.lnden_g
       |      AS score
       |  FROM tdocs d CROSS JOIN langs lg
       |  LEFT JOIN matched m ON m.doc_id = d.doc_id AND m.lang = lg.lang),
       |best AS (SELECT doc_id, max(score) AS score FROM scored GROUP BY 1),
       |pred AS (SELECT s.doc_id, min(s.lang) AS lang_pred
       |  FROM scored s JOIN best b ON b.doc_id = s.doc_id
       |    AND b.score = s.score
       |  GROUP BY 1)
       |SELECT d.lang_true, p.lang_pred, CAST(count(*) AS BIGINT) AS n
       |FROM tdocs d JOIN pred p ON p.doc_id = d.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

}
