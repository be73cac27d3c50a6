package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors
import graft.operators.Relational.{sqlRound, stableRound}
import graft.sources.Tables
import graft.util.Blocks

import graft.syntax._

/** Similarity-search operators over the `embeddings` table
  * (`Array[Float]` column): brute-force cosine top-k as the exact
  * baseline, LSH-bucketed ANN as the scale path, per-label embedding
  * statistics.
  *
  * Scale shape: the query set is tiny and `broadcast()` — the corpus is
  * never shuffled for the brute-force scan (one narrow pass, partial
  * top-k would bound the sort at extreme k×q). The LSH variant buckets
  * the corpus by deterministic hyperplane signs so candidate generation
  * is a hash join on bucket id — O(collisions), not O(n²), and the
  * "model" is a pure expression (no fitted state to ship to executors).
  */
object VectorOps {

  /** DuckDB-side cosine between two FLOAT[64] list columns, mirroring
    * [[Vectors.cosine]] exactly: per-element cast to double, left-to-right
    * sum, zero-norm guard. */
  private[operators] def cosSql(a: String, b: String): String = {
    // range derived from the list length — a hardcoded dim would silently
    // corrupt the oracle if the embedding table were regenerated wider
    val dot = s"list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    val na = s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    val nb = s"sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"(CASE WHEN $na * $nb = 0.0 THEN 0.0 ELSE $dot / ($na * $nb) END)"
  }

  // ---------------------------------------------------------------
  // q26: per-label embedding statistics
  // ---------------------------------------------------------------

  def q26EmbedStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select($"label", Vectors.norm($"embedding").as("nrm"))
      .groupBy($"label")
      .agg(
        count(lit(1)).as("n_vecs"),
        // grid-floor each norm to 1e-6 before summing: order-independent
        // integer sums → identical in both engines
        (floor(sum(floor($"nrm" * 1e6 + 0.5)) / count(lit(1)) + 0.5) / 1e6).as("avg_norm"))
      .orderBy($"label")

  val q26EmbedStatsSql: String = {
    val nrm = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"""SELECT label, count(*) AS n_vecs,
       |  floor(sum(floor($nrm * 1e6 + 0.5)) / count(*) + 0.5) / 1e6 AS avg_norm
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------
  // q147: per-label embedding-space health (centroid alignment)
  // ---------------------------------------------------------------

  /** Embedding-space health check — "is this label's embedding cloud
    * coherent or collapsing": each vector's cosine to its label
    * CENTROID, censused per label (mean and worst alignment). The
    * centroid is represented as the per-dimension GRIDDED SUM (each
    * element floored to the 1e-6 grid, summed as integers — exact and
    * order-free in both engines, sidestepping float-sum order entirely);
    * cosine is scale-invariant, so aligning to the gridded sum IS
    * aligning to the gridded mean — no division by n ever happens on
    * the vector. Per-row cosines grid at 1e-6 before the mean (rule 5).
    * Scale shape: the per-dim sums are one exchange at |labels|x|dims|
    * grain, the centroid relation is tiny and broadcast back, and the
    * corpus is scanned exactly twice — the canonical two-pass mean;
    * the native VecDot/VecNormSq folds keep scoring in whole-stage
    * codegen. */
  def q147EmbedHealth(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val gs = e.select($"label", posexplode($"embedding").as(Seq("dim", "x")))
      .groupBy($"label", $"dim")
      .agg(sum(floor($"x".cast("double") * 1e6 + 0.5).cast("long"))
        .as("gsum"))
    val cent = gs.groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"dim", $"gsum"))),
        c => c("gsum").cast("double")).as("cvec"))
    val scored = e.join(broadcast(cent), "label")
      .select($"label",
        floor(Vectors.cosine($"embedding", $"cvec") * 1e6 + 0.5)
          .cast("long").as("cg"))
    scored.groupBy($"label").agg(
      count(lit(1)).as("n_vecs"),
      (floor(sum($"cg") / count(lit(1)) + 0.5) / 1e6).as("mean_alignment"),
      (min($"cg").cast("double") / 1e6).as("min_alignment"))
      .orderBy($"label")
  }

  val q147EmbedHealthSql: String = {
    val dotVC =
      "list_sum(list_transform(range(1, len(embedding) + 1), " +
        "i -> CAST(embedding[i] AS DOUBLE) * cvec[i]))"
    val nV =
      "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    val nC = "sqrt(list_sum(list_transform(cvec, x -> x * x)))"
    s"""WITH gs AS (SELECT label, i AS dim,
       |    CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS gsum
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
       |  GROUP BY label, i),
       |c AS (SELECT label, list(CAST(gsum AS DOUBLE) ORDER BY dim)
       |    AS cvec FROM gs GROUP BY label),
       |sc AS (SELECT e.label,
       |    CAST(floor((CASE WHEN $nV * $nC = 0.0 THEN 0.0
       |      ELSE $dotVC / ($nV * $nC) END) * 1e6 + 0.5) AS BIGINT) AS cg
       |  FROM embeddings e JOIN c USING (label))
       |SELECT label, count(*) AS n_vecs,
       |  floor(sum(cg) / count(*) + 0.5) / 1e6 AS mean_alignment,
       |  CAST(min(cg) AS DOUBLE) / 1e6 AS min_alignment
       |FROM sc GROUP BY label ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------
  // q27: brute-force cosine top-k (exact ANN baseline)
  // ---------------------------------------------------------------

  private val NumQueries = 5
  private val TopK = 10

  def q27KnnCosine(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        Vectors.cosine($"qvec", $"embedding").as("cos"))
    // the engine's custom two-phase TopKPerKey operator: bounded heaps
    // before AND after the key exchange — at most k rows per (query,
    // partition) ever shuffle, vs the window formulation's full sort of
    // every scored pair. The rank window afterwards touches only k rows
    // per query.
    val top = graft.plans.TopK.perKey(
      scored, Seq($"query_id"), Seq($"cos".desc, $"vec_id"), TopK)
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"),
        stableRound($"cos", 6).as("score"))
      .orderBy($"query_id", $"rank")
  }

  val q27KnnCosineSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
       |           WHERE vec_id < $NumQueries),
       |scored AS (SELECT q.query_id, e.vec_id, ${cosSql("q.qvec", "e.embedding")} AS cos
       |           FROM embeddings e CROSS JOIN q
       |           WHERE e.vec_id <> q.query_id),
       |ranked AS (SELECT query_id, vec_id, cos,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, rank, vec_id AS neighbor_id, ${sqlRound("cos", 6)} AS score
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // q28: LSH-bucketed ANN (scale path; md5-derived planes → oracled)
  // ---------------------------------------------------------------

  private[operators] val NumPlanes = 8

  /** Bucket census of the random-hyperplane LSH index: how the corpus
    * distributes over 2^8 sign-pattern buckets. Oracled: the hyperplane
    * coefficients are md5-derived ([[Vectors.lshBucket]]), so DuckDB
    * recomputes the exact same buckets; the ScalaTest suite additionally
    * asserts recall against q27. */
  def q28AnnLshBuckets(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select($"vec_id", Vectors.lshBucket($"embedding", NumPlanes).as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_vecs"), min($"vec_id").as("min_vec_id"))
      .orderBy($"bucket")

  val q28AnnLshBucketsSql: String =
    s"""WITH b AS (SELECT vec_id, ${Vectors.lshBucketSql(NumPlanes)} AS bucket
       |           FROM embeddings)
       |SELECT bucket, count(*) AS n_vecs, min(vec_id) AS min_vec_id
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** ANN query through the LSH index with MULTI-PROBE: each query scans
    * its own bucket plus every 1-bit-flipped neighbor bucket (the
    * vectors most likely to sit just across one hyperplane), then exact
    * cosine re-ranks the candidates. nPlanes+1 of 2^nPlanes buckets per
    * query — recall climbs steeply while the candidate fraction stays
    * (nPlanes+1)/2^nPlanes. `nPlanes` trades recall for candidate-set
    * size. Library API (used by tests); not a driver query because
    * buckets depend on xxhash64. */
  def annQuery(s: SparkSession, d: String, queryIds: Seq[Long], k: Int,
      nPlanes: Int = NumPlanes): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding",
        Vectors.lshBucket($"embedding", nPlanes).as("bucket"))
    val probes = array(($"bucket" +:
      (0 until nPlanes).map(p => $"bucket".bitwiseXOR(lit(1L << p)))): _*)
    val queries = emb.filter($"vec_id".isin(queryIds: _*))
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"),
        explode(probes).as("bucket"))
    val scored = emb.join(broadcast(queries), Seq("bucket"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        Vectors.cosine($"qvec", $"embedding").as("cos"))
    val top = graft.plans.TopK.perKey(
      scored, Seq($"query_id"), Seq($"cos".desc, $"vec_id"), k)
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"),
        stableRound($"cos", 6).as("score"))
      .orderBy($"query_id", $"rank")
  }

  // ---------------------------------------------------------------
  // q47/q48: IVF (inverted-file) ANN — the centroid-partitioned scale
  // path beside the LSH one, fully DuckDB-oracle-able (no hashing)
  // ---------------------------------------------------------------

  private val NumCells = 16
  private val NumProbe = 2

  /** Cell assignment: every vector joins the ONE centroid it is closest
    * to (max cosine, centroid id as the unique tie-break). Centroids are
    * the first [[NumCells]] vectors by id — deterministic "seeded"
    * centroids so the assignment is oracle-able; a production deployment
    * swaps in a k-means table and the operator shape (broadcast
    * centroids → narrow scan → per-vector arg-max via the two-phase
    * TopKPerKey, at most one row per vector per partition shuffles) is
    * identical. The corpus is scanned once and never self-joined. */
  private def ivfAssignments(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = emb.filter($"vec_id" < NumCells)
      .select($"vec_id".as("cell_id"), $"embedding".as("cvec"))
    val scored = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"embedding", $"cell_id",
        Vectors.cosine($"embedding", $"cvec").as("ccos"))
    graft.plans.TopK.perKey(
      scored, Seq($"vec_id"), Seq($"ccos".desc, $"cell_id"), 1)
  }

  /** IVF cell census: corpus distribution over the inverted lists —
    * the partition-balance view an operator at 100 TB is sized by. */
  def q47IvfCells(s: SparkSession, d: String): DataFrame =
    ivfAssignments(s, d)
      .groupBy($"cell_id")
      .agg(count(lit(1)).as("n_vecs"), min($"vec_id").as("min_vec_id"))
      .orderBy($"cell_id")

  private def ivfAssignSql: String =
    s"""cents AS (SELECT vec_id AS cell_id, embedding AS cvec FROM embeddings
       |          WHERE vec_id < $NumCells),
       |assign AS (SELECT vec_id, embedding, cell_id FROM (
       |             SELECT e.vec_id, e.embedding, c.cell_id,
       |               row_number() OVER (PARTITION BY e.vec_id
       |                 ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cell_id) AS rn
       |             FROM embeddings e CROSS JOIN cents c)
       |           WHERE rn = 1)""".stripMargin

  val q47IvfCellsSql: String =
    s"""WITH $ivfAssignSql
       |SELECT cell_id, count(*) AS n_vecs, min(vec_id) AS min_vec_id
       |FROM assign GROUP BY cell_id ORDER BY cell_id""".stripMargin

  /** IVF ANN query: each query ranks the centroids, probes its top
    * [[NumProbe]] inverted lists, and exact-cosine re-ranks only those
    * candidates — candidate fraction ≈ NumProbe/NumCells of the corpus,
    * never an all-pairs scan. Joins are equi-joins on cell_id; top-k via
    * the bounded-heap TopKPerKey. Unlike the hyperplane-LSH path (q28,
    * xxhash64), every step is plain arithmetic, so the whole ANN query
    * is hash-checked against DuckDB. */
  def q48IvfAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = emb.filter($"vec_id" < NumCells)
      .select($"vec_id".as("cell_id"), $"embedding".as("cvec"))
    val queries = emb.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val probeScored = queries.crossJoin(broadcast(cents))
      .select($"query_id", $"qvec", $"cell_id",
        Vectors.cosine($"qvec", $"cvec").as("pcos"))
    val probes = graft.plans.TopK.perKey(
      probeScored, Seq($"query_id"), Seq($"pcos".desc, $"cell_id"), NumProbe)
      .select($"query_id", $"qvec", $"cell_id")
    val cands = ivfAssignments(s, d)
      .select($"vec_id", $"embedding", $"cell_id")
      .join(broadcast(probes), Seq("cell_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        Vectors.cosine($"qvec", $"embedding").as("cos"))
    val top = graft.plans.TopK.perKey(
      cands, Seq($"query_id"), Seq($"cos".desc, $"vec_id"), TopK)
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"),
        stableRound($"cos", 6).as("score"))
      .orderBy($"query_id", $"rank")
  }

  val q48IvfAnnSql: String =
    s"""WITH $ivfAssignSql,
       |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
       |      WHERE vec_id < $NumQueries),
       |probes AS (SELECT query_id, qvec, cell_id FROM (
       |             SELECT q.query_id, q.qvec, c.cell_id,
       |               row_number() OVER (PARTITION BY q.query_id
       |                 ORDER BY ${cosSql("q.qvec", "c.cvec")} DESC, c.cell_id) AS rn
       |             FROM q CROSS JOIN cents c)
       |           WHERE rn <= $NumProbe),
       |cands AS (SELECT p.query_id, a.vec_id,
       |            ${cosSql("p.qvec", "a.embedding")} AS cos
       |          FROM assign a JOIN probes p ON a.cell_id = p.cell_id
       |          WHERE a.vec_id <> p.query_id),
       |ranked AS (SELECT query_id, vec_id, cos,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY cos DESC, vec_id) AS rank
       |           FROM cands)
       |SELECT query_id, rank, vec_id AS neighbor_id, ${sqlRound("cos", 6)} AS score
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // q51: scalar quantization (int8 codes) of the embedding corpus
  // ---------------------------------------------------------------

  /** Per-dimension min-max scalar quantization to 8-bit codes — the
    * standard 4× memory/IO reduction that makes a 100 TB ANN index fit
    * its executors. Shape: ONE aggregation pass builds the per-dim
    * (min, max) arrays (plus a dim-uniformity check) in a single
    * metadata-sized row that is collected once and folded into the
    * second pass as LITERALS — the corpus is never exploded (64× row
    * inflation avoided) and the narrow pass needs no join at all.
    * Emitted: boundary codes, the integer code checksum, and the
    * per-vector reconstruction MSE — all mirrored exactly in DuckDB
    * (same element-order arithmetic, floor-based rounding).
    *
    * The code array is computed ONCE per vector in its own projection
    * and every output derives from it via `element_at` — the projection
    * boundary stops CollapseProject from re-inlining the (expensive)
    * array per consumer, so the expression forest is O(dim), not
    * O(dim × outputs). */
  def q51Quantize(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter($"embedding".isNotNull)
    // dim probe: ONE row fetched (LocalLimit scan — a metadata lookup,
    // not an aggregation pass); the full-table work below is a single
    // fused aggregation
    val firstDim = emb.select(size($"embedding")).take(1)
    if (firstDim.isEmpty) {
      // empty corpus: the oracle returns zero rows; match its schema
      import org.apache.spark.sql.types._
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("vec_id", LongType), StructField("n_dims", LongType),
          StructField("code_first", LongType), StructField("code_last", LongType),
          StructField("code_sum", LongType), StructField("mse", DoubleType))))
    }
    val dim = firstDim.head.getInt(0)
    // one fused metadata pass: per-dim (min,max) arrays AND the
    // dim-uniformity probe in the same aggregation — no second scan.
    // try_element_at (NULL out-of-bounds instead of the ANSI throw)
    // lets the pass COMPLETE on a ragged corpus so the require below
    // can fail with its diagnostic rather than a cryptic index error
    val params = emb.agg(
      min(size($"embedding")).as("mnsz"),
      max(size($"embedding")).as("mxsz"),
      array((1 to dim).map(i =>
        min(try_element_at($"embedding", lit(i))).cast("double")): _*).as("mns"),
      array((1 to dim).map(i =>
        max(try_element_at($"embedding", lit(i))).cast("double")): _*).as("mxs")).head()
    // a ragged corpus would silently skew codes vs the per-row-length
    // oracle — refuse loudly instead
    require(params.getInt(0) == dim && params.getInt(1) == dim,
      s"q51Quantize: ragged embedding dims (${params.getInt(0)}..${params.getInt(1)})")
    val mns = params.getSeq[Double](2)
    val mxs = params.getSeq[Double](3)
    def v(i: Int): Column = element_at($"embedding", i).cast("double")
    // per-dim (min,max) are plan-time constants, so the mx==mn guard
    // resolves at build time and each code is a pure codegen'd
    // multiply-floor over the vector element
    def code(i: Int): Column =
      if (mxs(i - 1) == mns(i - 1)) lit(0L)
      else floor((v(i) - lit(mns(i - 1))) / lit(mxs(i - 1) - mns(i - 1)) * 255.0 + 0.5)
    def dequant(i: Int): Column =
      lit(mns(i - 1)) + element_at($"codes", i).cast("double") / 255.0 *
        lit(mxs(i - 1) - mns(i - 1))
    emb
      .select($"vec_id", $"embedding", array((1 to dim).map(code): _*).as("codes"))
      .select($"vec_id", $"codes",
        array((1 to dim).map { i =>
          val e = v(i) - dequant(i); e * e
        }: _*).as("sqerrs"))
      .select(
        $"vec_id",
        lit(dim.toLong).as("n_dims"),
        element_at($"codes", 1).as("code_first"),
        element_at($"codes", dim).as("code_last"),
        (1 to dim).map(i => element_at($"codes", i)).reduce(_ + _).as("code_sum"),
        stableRound(
          (1 to dim).map(i => element_at($"sqerrs", i)).reduce(_ + _) / dim.toDouble,
          8).as("mse"))
      .orderBy($"vec_id")
  }

  val q51QuantizeSql: String = {
    val v = "CAST(e.embedding[i] AS DOUBLE)"
    val code =
      s"(CASE WHEN p.mxs[i] = p.mns[i] THEN 0 ELSE floor(($v - p.mns[i]) / (p.mxs[i] - p.mns[i]) * 255.0 + 0.5) END)"
    val dq = s"(p.mns[i] + $code / 255.0 * (p.mxs[i] - p.mns[i]))"
    s"""WITH stats AS (
       |  SELECT i AS dim, min(CAST(embedding[i] AS DOUBLE)) AS mn,
       |         max(CAST(embedding[i] AS DOUBLE)) AS mx
       |  FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i)
       |  GROUP BY i),
       |p AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs,
       |        count(*) AS n_dims
       |      FROM stats)
       |SELECT e.vec_id, p.n_dims,
       |  CAST(list_transform([1], i -> $code)[1] AS BIGINT) AS code_first,
       |  CAST(list_transform([CAST(p.n_dims AS INT)], i -> $code)[1] AS BIGINT) AS code_last,
       |  CAST(list_sum(list_transform(range(1, CAST(p.n_dims AS INT) + 1),
       |    i -> $code)) AS BIGINT) AS code_sum,
       |  ${sqlRound(s"list_sum(list_transform(range(1, CAST(p.n_dims AS INT) + 1), i -> ($v - $dq) * ($v - $dq))) / p.n_dims", 8)} AS mse
       |FROM embeddings e CROSS JOIN p
       |WHERE e.embedding IS NOT NULL
       |ORDER BY e.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q65: one Lloyd (k-means) refinement step over the IVF centroids
  // ---------------------------------------------------------------

  /** One deterministic Lloyd iteration over the seeded IVF centroids
    * (q47): assign → per-cell per-dimension mean → re-assign, reported
    * as a per-cell before/after census with the centroid shift
    * (1 − cos(seed, refined)) and the mean within-cell cosine. This is
    * the "training" step a production IVF index runs a handful of
    * times; a FIXED single iteration keeps the whole computation a pure
    * function of the corpus, so DuckDB recomputes it bit-exactly — no
    * fitted state, nothing to ship.
    *
    * Determinism: per-dim means go through the 1e-6 grid (floor each
    * element to an integer, sum integers — order-independent in both
    * engines; Spark sums LONGs, DuckDB integer-valued doubles, exact
    * below 2^53), so the refined centroids are identical doubles and
    * every downstream cosine is identical arithmetic. Mean cosines use
    * the same grid.
    *
    * Scale shape: two narrow corpus scans (assign, re-assign), each an
    * arg-max against a BROADCAST [[NumCells]]-row centroid relation via
    * the bounded TopKPerKey (at most one row per vector crosses the
    * exchange), plus one metadata-sized aggregation for the means — the
    * corpus is never self-joined, and another Lloyd round is the same
    * two-scan shape again. */
  /** The shared one-Lloyd-step machinery (q65's arithmetic, verbatim):
    * seed centroids, pass-1 aggregation (count / grid cosine sum /
    * per-dim grid sums), refined centroids, and the re-assignment of
    * the whole corpus to them. Returned as (cents0, cents1, a1) so q65
    * (the refinement CENSUS) and q161 (SemDeDup over the refined
    * cells) derive from one definition — a drifted copy would silently
    * decouple their cluster structures. */
  private def lloydOneStep(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d).filter($"embedding".isNotNull)
    val firstDim = emb.select(size($"embedding")).take(1)
    require(firstDim.nonEmpty, "lloydOneStep: empty embeddings corpus")
    val dim = firstDim.head.getInt(0)

    val cents0 = emb.filter($"vec_id" < NumCells)
      .select($"vec_id".as("cell_id"), $"embedding".as("cvec0"))
    def assignTo(cents: DataFrame, centVec: Column): DataFrame = {
      val scored = emb.crossJoin(broadcast(cents))
        .select($"vec_id", $"embedding", $"cell_id",
          Vectors.cosine($"embedding", centVec).as("ccos"))
      graft.plans.TopK.perKey(
        scored, Seq($"vec_id"), Seq($"ccos".desc, $"cell_id"), 1)
    }

    // pass 1: assign to seeds; per-cell count, grid-summed cosine, and
    // per-dim grid sums in ONE aggregation
    val sums = assignTo(cents0, $"cvec0").groupBy($"cell_id").agg(
      count(lit(1)).as("n0"),
      sum(floor($"ccos" * 1e6 + 0.5)).as("cos0grid"),
      array((1 to dim).map(i =>
        sum(floor(element_at($"embedding", i).cast("double") * 1e6 + 0.5))): _*)
        .as("sgrid"))
    // refined centroid = per-dim grid mean (16 rows — the HOF here is
    // interpreted but runs on a metadata-sized relation)
    val cents1 = sums.select($"cell_id", $"n0", $"cos0grid",
      transform($"sgrid", x => x / ($"n0" * 1e6)).as("cvec1"))

    // pass 2: re-assign the corpus to the refined centroids
    val a1 = assignTo(cents1.select($"cell_id", $"cvec1"), $"cvec1")
    (cents0, cents1, a1)
  }

  def q65KmeansRefine(s: SparkSession, d: String): DataFrame = {
    val (cents0, cents1, a1) = lloydOneStep(s, d)
    val census1 = a1
      .groupBy($"cell_id").agg(
        count(lit(1)).as("n1"),
        sum(floor($"ccos" * 1e6 + 0.5)).as("cos1grid"))
      .withColumnRenamed("cell_id", "c1")

    cents1
      .join(cents0, "cell_id")
      .join(census1, $"cell_id" === $"c1", "left")
      .select(
        $"cell_id", $"n0",
        coalesce($"n1", lit(0L)).as("n1"),
        stableRound(lit(1.0) - Vectors.cosine($"cvec0", $"cvec1"), 6).as("shift"),
        (floor($"cos0grid" / $"n0" + 0.5) / 1e6).as("avg_cos0"),
        (floor($"cos1grid" / $"n1" + 0.5) / 1e6).as("avg_cos1"))
      .orderBy($"cell_id")
  }

  /** DuckDB mirror of [[lloydOneStep]]: the CTE chain `emb → cents0 →
    * a0 → sums/dsums/slists → cents1 → a1`, shared by q65's and q161's
    * oracle SQL (one definition — same reasoning as the Scala side). */
  private def lloydCtes: String = {
    def argmax(centsRel: String, vecCol: String, outCos: String): String =
      s"""SELECT vec_id, embedding, cell_id, $outCos FROM (
         |  SELECT e.vec_id, e.embedding, c.cell_id,
         |    ${cosSql("e.embedding", s"c.$vecCol")} AS $outCos,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", s"c.$vecCol")} DESC, c.cell_id) AS rn
         |  FROM emb e CROSS JOIN $centsRel c) WHERE rn = 1""".stripMargin
    s"""emb AS (SELECT vec_id, embedding FROM embeddings
       |            WHERE embedding IS NOT NULL),
       |cents0 AS (SELECT vec_id AS cell_id, embedding AS cvec0 FROM emb
       |           WHERE vec_id < $NumCells),
       |a0 AS (${argmax("cents0", "cvec0", "ccos")}),
       |sums AS (SELECT cell_id, count(*) AS n0,
       |           sum(floor(ccos * 1e6 + 0.5)) AS cos0grid
       |         FROM a0 GROUP BY cell_id),
       |dsums AS (SELECT cell_id, i,
       |            sum(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5)) AS sg
       |          FROM a0, UNNEST(range(1, len(embedding) + 1)) AS t(i)
       |          GROUP BY cell_id, i),
       |slists AS (SELECT cell_id, list(sg ORDER BY i) AS slist FROM dsums
       |           GROUP BY cell_id),
       |cents1 AS (SELECT s.cell_id, s.n0, s.cos0grid,
       |             list_transform(l.slist, x -> x / (s.n0 * 1e6)) AS cvec1
       |           FROM sums s JOIN slists l ON s.cell_id = l.cell_id),
       |a1 AS (${argmax("cents1", "cvec1", "ccos1")})""".stripMargin
  }

  val q65KmeansRefineSql: String = {
    s"""WITH $lloydCtes,
       |census1 AS (SELECT cell_id AS c1, count(*) AS n1,
       |              sum(floor(ccos1 * 1e6 + 0.5)) AS cos1grid
       |            FROM a1 GROUP BY cell_id)
       |SELECT v.cell_id, v.n0, coalesce(x.n1, CAST(0 AS BIGINT)) AS n1,
       |  ${sqlRound(s"1.0 - ${cosSql("c0.cvec0", "v.cvec1")}", 6)} AS shift,
       |  floor(v.cos0grid / v.n0 + 0.5) / 1e6 AS avg_cos0,
       |  floor(x.cos1grid / x.n1 + 0.5) / 1e6 AS avg_cos1
       |FROM cents1 v
       |JOIN cents0 c0 ON v.cell_id = c0.cell_id
       |LEFT JOIN census1 x ON v.cell_id = x.c1
       |ORDER BY v.cell_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q161: SemDeDup — within-cluster semantic (embedding) dedup
  // ---------------------------------------------------------------

  /** Drop threshold: a doc whose cosine to an earlier cluster member
    * reaches this defers to that member. The driver's isotropic
    * synthetic embeddings top out near 0.48 pairwise, so 0.45 keeps the
    * decision boundary EXERCISED (both statuses appear) rather than
    * vacuously all-kept; a production run would use ~0.95+. */
  private val SemDupCos = 0.45
  /** [[SemDupCos]] on the 1e-6 grid — the status comparison runs on
    * gridded integers in BOTH engines so a max-cosine within 1 ulp of
    * the threshold can't round differently across Spark and DuckDB. */
  private val SemDupCosGrid: Long = math.round(SemDupCos * 1e6)
  /** Per-cluster candidate cap: only each cell's first [[SemDedupMaxCell]]
    * members (by vec_id) serve as dedup candidates, bounding the
    * within-cell comparison fan-out at cell×cap even if k is sized too
    * small for the corpus and a cell degenerates — same loud-bound
    * philosophy as the LSH [[graft.operators.TextOps.MaxBucket]];
    * members past the cap still get compared TO the capped prefix, so
    * nothing is silently exempted from dedup. */
  private[graft] val SemDedupMaxCell = 512

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
    * the embedding corpus, then deduplicate only WITHIN each cluster —
    * the clustering turns an O(n²) semantic-dedup into k independent
    * O((n/k)²) problems that never exchange data with each other.
    * Clusters here are the one-Lloyd-step-refined cells shared with
    * q65 ([[lloydOneStep]]); within a cell, members are ranked by
    * vec_id and each doc defers to the first earlier member with
    * cosine ≥ [[SemDupCos]] (first-wins, the q160 arm-3 policy —
    * deterministic, no iteration). Output: one disposition row per
    * vector — cell, within-cell rank, max cosine to any earlier
    * candidate (−1 sentinel for each cell's first member), status.
    *
    * Scale shape: the cell assignment is q65's broadcast-argmax (one
    * narrow pass, bounded TopKPerKey); the ranking window and the
    * candidate join both key on cell_id, so the window's exchange is
    * the ONLY shuffle and the join reuses its partitioning; the
    * quadratic stays inside each cell and is capped by
    * [[SemDedupMaxCell]]. k ([[NumCells]]) is the scale knob: sized so
    * n/k vectors fit one task, the shape survives any corpus size. */
  def q161Semdedup(s: SparkSession, d: String): DataFrame = {
    val (_, _, a1) = lloydOneStep(s, d)
    val w = Window.partitionBy($"cell_id").orderBy($"vec_id")
    val ranked = a1.select($"vec_id", $"embedding", $"cell_id")
      .withColumn("rn", row_number().over(w))
    // true self-join of ONE ranked definition, all candidate-side
    // filters in the join condition — both sides are the identical
    // Window subtree, so the second side's scan+assignment+exchange
    // is a ReusedExchange (plan-shape-locked in ScaleSpec), not a
    // recompute of the corpus assignment
    val cands = ranked
      .select($"cell_id".as("ccell"), $"rn".as("crn"), $"embedding".as("cvec"))
    val maxPrev = ranked.join(cands,
        $"ccell" === $"cell_id" && $"crn" < $"rn" &&
          $"crn" <= SemDedupMaxCell)
      .select($"vec_id",
        Vectors.cosine($"embedding", $"cvec").as("pcos"))
      .groupBy($"vec_id").agg(max($"pcos").as("mx"))
    // threshold decided on the SAME 1e-6 grid emitted as max_prev_cos
    // (never the raw double): a cosine 1 ulp either side of 0.45 must
    // not flip status on one engine only (CLAUDE.md determinism rules)
    ranked.join(maxPrev, Seq("vec_id"), "left")
      .select($"vec_id", $"cell_id", $"rn".cast("long").as("cell_rank"),
        stableRound(coalesce($"mx", lit(-1.0)), 6).as("max_prev_cos"),
        when(floor($"mx" * lit(1e6) + lit(0.5)) >= lit(SemDupCosGrid),
          lit("dropped")).otherwise(lit("kept")).as("status"))
      .orderBy($"vec_id")
  }

  val q161SemdedupSql: String = {
    val cos = cosSql("r.embedding", "p.embedding")
    s"""WITH $lloydCtes,
       |ranked AS (SELECT vec_id, embedding, cell_id,
       |    row_number() OVER (PARTITION BY cell_id ORDER BY vec_id) AS rn
       |  FROM a1),
       |mx AS (SELECT r.vec_id, max($cos) AS mx
       |       FROM ranked r JOIN ranked p ON p.cell_id = r.cell_id
       |         AND p.rn < r.rn AND p.rn <= $SemDedupMaxCell
       |       GROUP BY r.vec_id)
       |SELECT r.vec_id, r.cell_id, r.rn AS cell_rank,
       |  ${sqlRound("coalesce(mx.mx, -1.0)", 6)} AS max_prev_cos,
       |  CASE WHEN floor(mx.mx * 1e6 + 0.5) >= $SemDupCosGrid
       |       THEN 'dropped' ELSE 'kept' END AS status
       |FROM ranked r LEFT JOIN mx ON mx.vec_id = r.vec_id
       |ORDER BY r.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q183: contrastive triplet mining (cell-bounded anchor/pos/neg)
  // ---------------------------------------------------------------

  /** Contrastive-training triplet mining (FaceNet's semi-hard recipe,
    * Schroff et al. 2015, arXiv:1503.03832 — public): for every anchor
    * vector, the hardest POSITIVE (most-similar same-label neighbor)
    * and hardest NEGATIVE (most-similar cross-label neighbor) plus the
    * training margin between them — the relation an embedding fine-tune
    * consumes batch after batch.
    *
    * Scale shape: all pairing happens WITHIN the one-Lloyd-step k-means
    * cells shared with q65/q161 ([[lloydOneStep]]) — the q161
    * discipline exactly: one ranked definition self-joined on cell_id
    * (ReusedExchange, never a second corpus assignment), candidate side
    * capped at [[SemDedupMaxCell]] per cell, and each arm's top-1 runs
    * through the bounded-heap TopKPerKey plan. Semi-hard mining inside
    * a coarse quantizer cell is how production miners bound the
    * quadratic at corpus scale; anchors whose cell lacks a same- or
    * cross-label neighbor drop out (inner join) — honest, since no
    * triplet exists for them locally.
    *
    * Determinism: similarities are gridded to 1e-6 integers BEFORE the
    * per-anchor argmax (rule 10) with cand-id tie-breaks; the margin is
    * exact integer subtraction displayed once. */
  def q183ContrastiveTriplets(s: SparkSession, d: String): DataFrame = {
    val (_, _, a1) = lloydOneStep(s, d)
    val lbl = Tables.embeddings(s, d).select($"vec_id", $"label")
    val w = Window.partitionBy($"cell_id").orderBy($"vec_id")
    val ranked = a1.select($"vec_id", $"embedding", $"cell_id")
      .join(lbl, "vec_id")
      .withColumn("rn", row_number().over(w))
    val cands = ranked.select($"cell_id".as("ccell"), $"rn".as("crn"),
      $"vec_id".as("cand_id"), $"embedding".as("cvec"),
      $"label".as("cand_label"))
    val pairs = ranked.join(cands,
        $"ccell" === $"cell_id" && $"cand_id" =!= $"vec_id" &&
          $"crn" <= SemDedupMaxCell)
      .select($"vec_id", $"cell_id", $"label", $"cand_id", $"cand_label",
        floor(Vectors.cosine($"embedding", $"cvec") * 1e6 + 0.5)
          .cast("long").as("cg"))
    val pos = graft.plans.TopK.perKey(
        pairs.filter($"label" === $"cand_label"),
        Seq($"vec_id"), Seq($"cg".desc, $"cand_id"), 1)
      .select($"vec_id", $"cell_id", $"cand_id".as("positive_id"),
        $"cg".as("pos_cg"))
    val neg = graft.plans.TopK.perKey(
        pairs.filter($"label" =!= $"cand_label"),
        Seq($"vec_id"), Seq($"cg".desc, $"cand_id"), 1)
      .select($"vec_id".as("nv"), $"cand_id".as("negative_id"),
        $"cg".as("neg_cg"))
    pos.join(neg, $"vec_id" === $"nv")
      .select($"vec_id".as("anchor_id"), $"cell_id",
        $"positive_id", ($"pos_cg" / 1e6).as("pos_cos"),
        $"negative_id", ($"neg_cg" / 1e6).as("neg_cos"),
        (($"pos_cg" - $"neg_cg") / 1e6).as("margin"))
      .orderBy($"anchor_id")
  }

  val q183ContrastiveTripletsSql: String = {
    val cos = cosSql("r.embedding", "p.embedding")
    s"""WITH $lloydCtes,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |ranked AS (SELECT a.vec_id, a.embedding, a.cell_id, b.label,
       |    row_number() OVER (PARTITION BY a.cell_id ORDER BY a.vec_id)
       |      AS rn
       |  FROM a1 a JOIN lab b USING (vec_id)),
       |pairs AS (SELECT r.vec_id, r.cell_id, r.label,
       |    p.vec_id AS cand_id, p.label AS cand_label,
       |    CAST(floor($cos * 1e6 + 0.5) AS BIGINT) AS cg
       |  FROM ranked r JOIN ranked p ON p.cell_id = r.cell_id
       |    AND p.vec_id <> r.vec_id AND p.rn <= $SemDedupMaxCell),
       |pos AS (SELECT vec_id, cell_id, cand_id AS positive_id,
       |    cg AS pos_cg,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cg DESC, cand_id) AS rn
       |  FROM pairs WHERE label = cand_label),
       |neg AS (SELECT vec_id, cand_id AS negative_id, cg AS neg_cg,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cg DESC, cand_id) AS rn
       |  FROM pairs WHERE label <> cand_label)
       |SELECT p.vec_id AS anchor_id, p.cell_id,
       |  p.positive_id, p.pos_cg / 1e6 AS pos_cos,
       |  n.negative_id, n.neg_cg / 1e6 AS neg_cos,
       |  (p.pos_cg - n.neg_cg) / 1e6 AS margin
       |FROM pos p JOIN neg n ON n.vec_id = p.vec_id
       |  AND p.rn = 1 AND n.rn = 1
       |ORDER BY anchor_id""".stripMargin
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucket the corpus
    * (random hyperplane signs), generate candidates inside each bucket
    * AND each 1-bit-neighbor probe pairing (multi-probe recall), verify
    * with exact cosine ≥ threshold. O(collisions) — never all pairs.
    *
    * The driver's synthetic embeddings are isotropic random (within-label
    * cosine ≡ cross-label, max ≈ 0.48), so a thresholded query over them
    * is provably empty — this operator is exercised by the test suite on
    * crafted near-dup vectors instead of a driver query. */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = NumPlanes): DataFrame = {
    // Round 16 (guide §1.2 step 2, §2.3): the candidate-verify stage
    // was 2.8× super-linear at the 10× decade (the r15 sweep's one
    // failure). Two per-pair costs removed, output bit-identical:
    //  - each vector's norm is computed ONCE here (50k rows) instead
    //    of TWICE PER CANDIDATE PAIR (norm(a)·norm(b) inside
    //    Vectors.cosine — 3× the fold work on the ~44M-pair stream at
    //    10×); den = nrm·nrm2 is the same double product in the same
    //    order, so the 0-guard and the quotient are IEEE-identical;
    //  - the post-join `.distinct()` was a 44M-row exchange + hash
    //    aggregate that dedups NOTHING: an id < id2 pair with buckets
    //    Ba, Bb matches exactly ONE probe of id2 — hamming 0 matches
    //    only the own-bucket probe (every flip is at hamming 1 from
    //    Bb), hamming 1 matches only the probe flipping the one
    //    differing bit, hamming ≥ 2 matches none — so every candidate
    //    pair is generated exactly once and the verify filter runs in
    //    the join stage with NO post-join shuffle (the crafted
    //    near-dup spec and the q160 oracle row pin the output).
    val withBucket = emb.select(
      col(idCol).as("id"), col(vecCol).as("vec"),
      Vectors.lshBucket(col(vecCol), nPlanes).as("bucket"),
      Vectors.norm(col(vecCol)).as("nrm"))
    // probe buckets: own + each 1-bit flip — pairs split by one
    // hyperplane still meet
    val probed = withBucket.select($"id", $"vec", $"nrm", explode(array(
      ($"bucket" +: (0 until nPlanes).map(p => $"bucket".bitwiseXOR(lit(1L << p)))): _*))
      .as("probe"))
    val den = $"nrm" * $"nrm2"
    withBucket
      .join(probed.select($"id".as("id2"), $"vec".as("vec2"),
          $"nrm".as("nrm2"), $"probe"),
        $"bucket" === $"probe" && $"id" < $"id2")
      .select($"id", $"id2",
        when(den === 0.0, lit(0.0))
          .otherwise(Vectors.dot($"vec", $"vec2") / den).as("cos"))
      .filter($"cos" >= threshold)
      .orderBy($"id", $"id2")
  }

  // ---------------------------------------------------------------
  // q77: product quantization (per-subspace codebook assignment)
  // ---------------------------------------------------------------

  private val PqM = 4  // subspaces
  private val PqK = 16 // codes per subspace

  /** Product quantization census: split each vector into [[PqM]]
    * subvectors, assign every subvector to its nearest code in a
    * [[PqK]]-entry per-subspace codebook (deterministically seeded from
    * the first [[PqK]] corpus vectors, like q47's IVF centroids — no
    * fitted state to ship), and report each (subspace, code) cell's
    * population and grid-mean similarity. PQ is the memory-side
    * complement of q51's scalar quantization: M log₂K bits per vector
    * (here 16 bits vs the original 256 bytes) is what makes a
    * billion-vector ANN index RAM-resident.
    *
    * Scale shape: the codebook is PqM × PqK = 64 rows — broadcast by
    * construction; assignment is one narrow pass through the bounded
    * TopKPerKey (one row per (vector, subspace) crosses the exchange);
    * the census is a ≤64-group aggregate. Another Lloyd round over the
    * codebook would be q65's two-scan shape per subspace. */
  def q77Pq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter($"embedding".isNotNull)
    val firstDim = emb.select(size($"embedding")).take(1)
    require(firstDim.nonEmpty, "q77Pq: empty embeddings corpus")
    val dim = firstDim.head.getInt(0)
    require(dim % PqM == 0, s"q77Pq: dim $dim not divisible by $PqM")
    val subLen = dim / PqM
    def subs(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.select($"vec_id", explode(array((0 until PqM).map(m =>
          struct(lit(m.toLong).as("m"),
            slice($"embedding", m * subLen + 1, subLen).as(vecAs))): _*)).as("s"))
        .select($"vec_id".as(idAs), $"s.m".as("m"), col(s"s.$vecAs"))
    val corpus = subs(emb, "vec_id", "sub")
    val codebook = subs(emb.filter($"vec_id" < PqK), "code", "csub")
    val scored = corpus.join(broadcast(codebook), "m")
      .select($"vec_id", $"m", $"code",
        Vectors.cosine($"sub", $"csub").as("ccos"))
    graft.plans.TopK.perKey(
        scored, Seq($"vec_id", $"m"), Seq($"ccos".desc, $"code"), 1)
      .groupBy($"m", $"code")
      .agg(count(lit(1)).as("n_vecs"),
        (floor(sum(floor($"ccos" * 1e6 + 0.5)) / count(lit(1)) + 0.5) / 1e6)
          .as("avg_cos"))
      .orderBy($"m", $"code")
  }

  val q77PqSql: String =
    s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings
       |            WHERE embedding IS NOT NULL),
       |par AS (SELECT len(embedding) // $PqM AS sl FROM emb LIMIT 1),
       |corpus AS (SELECT e.vec_id, t.m,
       |    e.embedding[t.m * p.sl + 1 : (t.m + 1) * p.sl] AS sub
       |  FROM emb e CROSS JOIN par p, UNNEST(range(0, $PqM)) AS t(m)),
       |cb AS (SELECT vec_id AS code, m, sub AS csub FROM corpus
       |       WHERE vec_id < $PqK),
       |scored AS (SELECT c.vec_id, c.m, b.code,
       |    ${cosSql("c.sub", "b.csub")} AS ccos
       |  FROM corpus c JOIN cb b ON c.m = b.m),
       |best AS (SELECT vec_id, m, code, ccos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY ccos DESC, code) AS rn FROM scored) WHERE rn = 1)
       |SELECT m, code, count(*) AS n_vecs,
       |  floor(sum(floor(ccos * 1e6 + 0.5)) / count(*) + 0.5) / 1e6 AS avg_cos
       |FROM best GROUP BY m, code ORDER BY m, code""".stripMargin

  // ---------------------------------------------------------------
  // q79: Johnson-Lindenstrauss random projection (dim reduction)
  // ---------------------------------------------------------------

  private val RpK = 16 // target dimensions

  /** Deterministic sign for random-projection cell (j, i): +1 when the
    * first hex digit of md5("rp:j:i") is 0-7. Computed HERE with the
    * same MessageDigest the oracle's `md5()` uses, then baked into the
    * plan as ±1 literals — executors carry no projection matrix at all,
    * and DuckDB re-derives the identical signs from its own md5. */
  private[graft] def rpSign(j: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"rp:$j:$i".getBytes("UTF-8"))
    if (((hex(0) >> 4) & 0xf) < 8) 1.0 else -1.0
  }

  /** Johnson-Lindenstrauss projection audit: project every embedding to
    * [[RpK]] dimensions with a deterministic ±1 sign matrix (scaled by
    * 1/√k) and report per-vector norm preservation — the contract a
    * JL sketch must honor before replacing full vectors in distance
    * computations. Each projected coordinate is a fixed-order signed
    * sum (bit-identical to the oracle's sequential list_sum); the 16
    * squared coordinates are gridded to integers before the cross-
    * coordinate sum, so no FP reordering can perturb the result.
    *
    * Scale shape: one narrow codegen'd projection over the corpus —
    * no joins, no shuffle before the output sort, and the "matrix" is
    * plan literals (zero executor state, any cluster size). */
  def q79RandomProjection(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter($"embedding".isNotNull)
    val firstDim = emb.select(size($"embedding")).take(1)
    require(firstDim.nonEmpty, "q79RandomProjection: empty embeddings corpus")
    val dim = firstDim.head.getInt(0)
    // proj_j = Σ_i sign(j,i)·x_i, left-assoc in index order
    def proj(j: Int): Column =
      (1 to dim).map(i =>
        element_at($"embedding", i).cast("double") * lit(rpSign(j, i)))
        .reduce(_ + _)
    // Materialize the 16 projected coordinates ONCE in their own select:
    // squaring below references each twice (p·p), and at the Column layer
    // there is no CSE guarantee — inlining would double a dim-term chain
    // per coordinate, and for wide embeddings the generated method can
    // blow past the JVM's 64KB limit and silently fall back to
    // interpreted evaluation. CollapseProject keeps the two projections
    // separate (it never inlines a non-cheap expression that is consumed
    // more than once), so each codegen'd function stays small.
    val projected = emb.select(
      $"vec_id" +: $"embedding" +:
        (0 until RpK).map(j => proj(j).as(s"proj_$j")): _*)
    // (p·p)/k is one IEEE multiply + an EXACT divide (k = 16 = 2⁴), so
    // both engines compute the identical double — no pow() involved
    val projN2Grid = (0 until RpK).map { j =>
      val p = col(s"proj_$j")
      floor(p * p / RpK.toDouble * 1e6 + 0.5).cast("long")
    }.reduce(_ + _)
    projected.select($"vec_id",
        (floor(Vectors.normSq($"embedding") * 1e6 + 0.5) / 1e6).as("orig_n2"),
        (projN2Grid / 1e6).as("proj_n2"))
      .select($"vec_id", $"orig_n2", $"proj_n2",
        when($"orig_n2" === 0.0, lit(0.0))
          .otherwise(stableRound($"proj_n2" / $"orig_n2", 6)).as("norm_ratio"))
      .orderBy($"vec_id")
  }

  val q79RandomProjectionSql: String = {
    val sign = "CASE WHEN substring(md5('rp:' || j || ':' || i), 1, 1) " +
      "IN ('0','1','2','3','4','5','6','7') THEN 1.0 ELSE -1.0 END"
    s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings
       |            WHERE embedding IS NOT NULL),
       |pj AS (SELECT vec_id, j,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> ($sign) * CAST(embedding[i] AS DOUBLE))) AS p
       |  FROM emb, UNNEST(range(0, $RpK)) AS t(j)),
       |pn AS (SELECT vec_id,
       |    CAST(sum(CAST(floor(p * p / ${RpK}.0 * 1e6 + 0.5)
       |                  AS BIGINT)) AS BIGINT) AS png
       |  FROM pj GROUP BY vec_id),
       |onr AS (SELECT vec_id,
       |    floor(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * 1e6 + 0.5) / 1e6
       |      AS orig_n2
       |  FROM emb)
       |SELECT o.vec_id, o.orig_n2, p.png / 1e6 AS proj_n2,
       |  CASE WHEN o.orig_n2 = 0.0 THEN 0.0
       |       ELSE ${sqlRound("(p.png / 1e6) / o.orig_n2", 6)} END AS norm_ratio
       |FROM onr o JOIN pn p USING (vec_id)
       |ORDER BY o.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q94: label-centroid distance outliers (mislabel detection)
  // ---------------------------------------------------------------

  /** Per-label embedding quality audit: squared distance of every
    * vector to its OWN label's centroid, flagging vectors beyond 2× the
    * label's mean — the standard first pass for mislabeled or corrupted
    * embeddings before a training run. Centroids are per-label per-dim
    * grid means (the q65 arithmetic: exact integer grid sums, one IEEE
    * division — bit-identical in both engines); each squared-diff term
    * is gridded to an integer before the cross-dim sum (the q79
    * discipline), so distances are order-free. Shape: one map-side-
    * combinable centroid aggregation (|labels| rows, broadcast back),
    * then two narrow passes over the corpus (mean, then flags) — the
    * per-label stats relation is metadata-sized at any scale. */
  def q94LabelOutliers(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .filter($"embedding".isNotNull && $"label".isNotNull)
    val firstDim = emb.select(size($"embedding")).take(1)
    require(firstDim.nonEmpty, "q94LabelOutliers: empty embeddings corpus")
    val dim = firstDim.head.getInt(0)
    val cents = emb.groupBy($"label").agg(
        count(lit(1)).as("cn"),
        array((1 to dim).map(i =>
          sum(floor(element_at($"embedding", i).cast("double") * 1e6 + 0.5))): _*)
          .as("sgrid"))
      .select($"label",
        transform($"sgrid", x => x / ($"cn" * 1e6)).as("cvec"))
    val d2grid = Vectors.dist2Grid($"embedding", $"cvec", 1e6)
    val scored = emb.join(broadcast(cents), "label")
      .select($"vec_id", $"label", d2grid.as("d2g"))
    val stats = scored.groupBy($"label").agg(
      count(lit(1)).as("n"),
      (floor(sum($"d2g") / count(lit(1)) + 0.5) / 1e6).as("mean_d2"),
      (max($"d2g") / 1e6).as("max_d2"))
    val far = scored
      .join(broadcast(stats.select($"label", $"mean_d2")), "label")
      .filter($"d2g" / 1e6 > $"mean_d2" * 2.0)
      .groupBy($"label").agg(count(lit(1)).as("n_far"))
    stats.join(far, Seq("label"), "left")
      .select($"label", $"n", $"mean_d2", $"max_d2",
        coalesce($"n_far", lit(0L)).as("n_far"))
      .orderBy($"label")
  }

  val q94LabelOutliersSql: String =
    """WITH emb AS (SELECT vec_id, embedding, label FROM embeddings
      |            WHERE embedding IS NOT NULL AND label IS NOT NULL),
      |cd AS (SELECT label, i,
      |    CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5)
      |                  AS BIGINT)) AS BIGINT) AS sg
      |  FROM emb, UNNEST(range(1, len(embedding) + 1)) AS t(i)
      |  GROUP BY label, i),
      |cn AS (SELECT label, count(*) AS cn FROM emb GROUP BY label),
      |cent AS (SELECT c.label, list(c.sg / (n.cn * 1e6) ORDER BY c.i) AS cvec
      |         FROM cd c JOIN cn n USING (label) GROUP BY c.label),
      |sc AS (SELECT e.vec_id, e.label,
      |    CAST(list_sum(list_transform(range(1, len(e.embedding) + 1), i ->
      |      CAST(floor((CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) *
      |                 (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * 1e6
      |                 + 0.5) AS BIGINT))) AS BIGINT) AS d2g
      |  FROM emb e JOIN cent c USING (label)),
      |st AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
      |    floor(CAST(sum(d2g) AS BIGINT) / count(*) + 0.5) / 1e6 AS mean_d2,
      |    max(d2g) / 1e6 AS max_d2
      |  FROM sc GROUP BY label),
      |fr AS (SELECT sc.label, CAST(count(*) AS BIGINT) AS n_far
      |       FROM sc JOIN st USING (label)
      |       WHERE sc.d2g / 1e6 > st.mean_d2 * 2.0 GROUP BY sc.label)
      |SELECT s.label, s.n, s.mean_d2, s.max_d2,
      |  CAST(coalesce(f.n_far, 0) AS BIGINT) AS n_far
      |FROM st s LEFT JOIN fr f USING (label)
      |ORDER BY s.label""".stripMargin

  // ---------------------------------------------------------------
  // q136: ANN recall evaluation (index quality as a query)
  // ---------------------------------------------------------------

  /** Recall@k of the IVF index (q48) against the exact brute-force
    * baseline (q27) — the metric every ANN deployment monitors, run as
    * a first-class query instead of an offline notebook: per query
    * vector, |approx ∩ exact| over the exact top-k, in integer ppm.
    * Both arms are the engine's own oracled operators, so the oracle
    * reuses their SQL mirrors verbatim as subqueries — the recall
    * computation is proven end to end through BOTH index paths. A
    * production run would point the exact arm at a held-out sample
    * (recall estimation), which is this same plan over q55's hash
    * sample. */
  def q136AnnRecall(s: SparkSession, d: String): DataFrame = {
    val exact = q27KnnCosine(s, d).select($"query_id", $"neighbor_id")
    val approx = q48IvfAnn(s, d).select($"query_id", $"neighbor_id")
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"),
        "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("n_hit"))
    exact.groupBy($"query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select($"query_id", $"k",
        coalesce($"n_hit", lit(0L)).as("n_hit"),
        floor(coalesce($"n_hit", lit(0L)) * 1000000.0 / $"k").cast("long")
          .as("recall_ppm"))
      .orderBy($"query_id")
  }

  val q136AnnRecallSql: String =
    s"""WITH ex AS (SELECT query_id, neighbor_id FROM ($q27KnnCosineSql)),
       |ap AS (SELECT query_id, neighbor_id FROM ($q48IvfAnnSql)),
       |hit AS (SELECT e.query_id, count(*) AS n_hit
       |  FROM ex e JOIN ap a USING (query_id, neighbor_id) GROUP BY 1),
       |kk AS (SELECT query_id, count(*) AS k FROM ex GROUP BY 1)
       |SELECT kk.query_id, CAST(kk.k AS BIGINT) AS k,
       |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  CAST(floor(coalesce(h.n_hit, 0) * 1000000.0 / kk.k) AS BIGINT)
       |    AS recall_ppm
       |FROM kk LEFT JOIN hit h USING (query_id)
       |ORDER BY kk.query_id""".stripMargin

  // ---------------------------------------------------------------
  // q249: graded retrieval gain (rank-discounted ANN quality)
  // ---------------------------------------------------------------

  /** Ideal harmonic-discounted gain at k = [[TopK]]: Σ (11−r)·(1e6
    * div r) — the score a system earns by reproducing the exact
    * ranking perfectly. A compile-time integer constant shared by
    * both mirrors. */
  private val GainIdeal: Long =
    (1 to TopK).map(r => (11 - r).toLong * (1000000L / r)).sum

  /** Graded rank-discounted retrieval gain — the ORDER-sensitive
    * refinement of q136's set recall (recall treats rank 1 and rank
    * 10 alike; a curation pipeline consuming top-k cares where the
    * good neighbors land): each ANN result earns graded relevance
    * (11 − exact_rank, 0 if outside the exact top-10) discounted by
    * its ANN rank with the HARMONIC weight 1e6 div r — the DCG family
    * with a 1/r discount, chosen over log₂ because it keeps the whole
    * metric in EXACT integer arithmetic (no transcendental, no
    * ln-boundary hazard battery needed). Ratio vs [[GainIdeal]] is
    * the per-query quality in ppm (1e6 = the ANN arm reproduced the
    * exact ranking).
    *
    * Scale: composes the two already-bounded arms (q27 exact, q48
    * IVF) exactly as q136 does — the join is top-k×top-k per query;
    * everything is |queries|×k rows of metadata. */
  def q249RetrievalGain(s: SparkSession, d: String): DataFrame =
    retrievalGain(
      q27KnnCosine(s, d)
        .select($"query_id", $"neighbor_id", $"rank".as("erank")),
      q48IvfAnn(s, d)
        .select($"query_id", $"neighbor_id", $"rank".as("arank")))

  /** The gain computation over prepared (query, neighbor, rank) arms —
    * split from [[q249RetrievalGain]] for the crafted-ranking spec. */
  private[graft] def retrievalGain(exact: DataFrame,
      approx: DataFrame): DataFrame = {
    val gains = approx
      .join(exact, Seq("query_id", "neighbor_id"), "left")
      .select($"query_id",
        (coalesce(lit(11L) - $"erank", lit(0L)) *
          expr("1000000 div arank")).as("g"))
      .groupBy($"query_id").agg(sum($"g").as("gain"))
    exact.select($"query_id").distinct()
      .join(gains, Seq("query_id"), "left")
      .select($"query_id", coalesce($"gain", lit(0L)).as("gain"),
        lit(GainIdeal).as("ideal_gain"),
        expr(s"(coalesce(gain, 0) * 1000000) div $GainIdeal")
          .as("gain_ratio_ppm"))
      .orderBy($"query_id")
  }

  val q249RetrievalGainSql: String =
    s"""WITH ex AS (SELECT query_id, neighbor_id, rank AS erank
       |  FROM ($q27KnnCosineSql)),
       |ap AS (SELECT query_id, neighbor_id, rank AS arank
       |  FROM ($q48IvfAnnSql)),
       |g AS (SELECT a.query_id,
       |    CAST(sum(coalesce(11 - e.erank, 0) * (1000000 // a.arank))
       |      AS BIGINT) AS gain
       |  FROM ap a LEFT JOIN ex e
       |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |  GROUP BY a.query_id),
       |sp AS (SELECT DISTINCT query_id FROM ex)
       |SELECT sp.query_id, CAST(coalesce(g.gain, 0) AS BIGINT) AS gain,
       |  CAST($GainIdeal AS BIGINT) AS ideal_gain,
       |  (coalesce(g.gain, 0) * 1000000) // $GainIdeal
       |    AS gain_ratio_ppm
       |FROM sp LEFT JOIN g USING (query_id)
       |ORDER BY sp.query_id""".stripMargin

  // ---------------------------------------------------------------
  // q152: hard-negative mining (contrastive-training pair selection)
  // ---------------------------------------------------------------

  private val HnK = 5

  /** Hard-negative mining — for each query vector, the top-k most
    * similar vectors with a DIFFERENT label: the pairs that teach a
    * contrastive/embedding model the most (easy random negatives are
    * already far away; training signal lives near the boundary). The
    * retrieval shape is q27's brute-force kNN with a label predicate
    * pushed BEFORE the heap: the cross-label filter runs map-side on
    * the scored stream, so the bounded TopKPerKey heaps only ever hold
    * negatives — at corpus scale nothing label-matched survives to the
    * exchange. Ties broken by vec_id (README rule 3). */
  def q152HardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"label".as("qlabel"),
        $"embedding".as("qvec"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter($"label" =!= $"qlabel")
      .select($"query_id", $"qlabel", $"vec_id", $"label",
        Vectors.cosine($"qvec", $"embedding").as("cos"))
    val top = graft.plans.TopK.perKey(
      scored, Seq($"query_id"), Seq($"cos".desc, $"vec_id"), HnK)
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .select($"query_id", $"qlabel".cast("long").as("query_label"),
        $"rank", $"vec_id".as("negative_id"),
        $"label".cast("long").as("negative_label"),
        stableRound($"cos", 6).as("score"))
      .orderBy($"query_id", $"rank")
  }

  val q152HardNegativesSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
       |             embedding AS qvec
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (SELECT q.query_id, q.qlabel, e.vec_id, e.label,
       |             ${cosSql("q.qvec", "e.embedding")} AS cos
       |           FROM embeddings e CROSS JOIN q
       |           WHERE e.label <> q.qlabel),
       |ranked AS (SELECT query_id, qlabel, vec_id, label, cos,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, CAST(qlabel AS BIGINT) AS query_label, rank,
       |  vec_id AS negative_id, CAST(label AS BIGINT) AS negative_label,
       |  ${sqlRound("cos", 6)} AS score
       |FROM ranked WHERE rank <= $HnK
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // q196: binary sign quantization + Hamming ANN with cosine rerank
  // ---------------------------------------------------------------

  private val HamCand = 32

  /** Binary (1-bit) embedding quantization with Hamming-distance
    * candidate generation — the third leg of the quantization family
    * (q51 int8 scalar, q77 product codes, this 1-bit signs): each
    * vector's per-dimension SIGN BITS pack into ⌈dim/32⌉ BIGINT words
    * (64× memory reduction — the representation a 100 TB ANN index
    * actually keeps hot), candidates rank by popcount Hamming distance
    * (`bit_count(xor)` — codegen'd integer ops, no FP work per
    * candidate), and only the [[HamCand]] nearest-by-Hamming survivors
    * pay the exact cosine rerank (the standard binary-retrieval
    * recipe; sign-random-projection LSH theory per Charikar 2002,
    * public). The driver hash proves the packed-popcount arithmetic
    * EQUALS per-dimension sign-disagreement counting — the mirror
    * recomputes Hamming directly from the float signs without ever
    * packing a bit.
    *
    * Determinism: sign bits are exact float comparisons (≥ 0) on
    * identical parquet floats; Hamming is pure integer; the candidate
    * cut ties by vec_id (rule 3); the rerank reuses q48's raw-cosine
    * ordering discipline (identical association both engines).
    *
    * Scale: the pack is a one-pass projection; queries broadcast; the
    * scan stays map-only integer work per (query, vector); both the
    * candidate cut and the final top-k run through bounded-heap
    * TopKPerKey — [[HamCand]] rows per query per partition cross the
    * exchange, never the corpus. */
  def q196BinaryAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter($"embedding".isNotNull)
    val dimProbe = emb.select(size($"embedding")).take(1)
    require(dimProbe.nonEmpty, "q196BinaryAnn: empty embedding corpus")
    val dim = dimProbe.head.getInt(0)
    val nWords = (dim + 31) / 32
    def packW(w: Int): Column =
      (0 until math.min(32, dim - w * 32)).map { b =>
        when(element_at($"embedding", w * 32 + b + 1) >= 0f,
          lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    val packed = emb.select(
      $"vec_id" +: $"embedding" +:
        (0 until nWords).map(w => packW(w).as(s"w$w")): _*)
    val queries = packed.filter($"vec_id" < NumQueries)
      .select(
        $"vec_id".as("query_id") +: $"embedding".as("qvec") +:
          (0 until nWords).map(w => col(s"w$w").as(s"qw$w")): _*)
    val hamming = (0 until nWords)
      .map(w => bit_count(col(s"w$w").bitwiseXOR(col(s"qw$w"))))
      .reduce(_ + _).cast("long")
    val scored = packed.join(broadcast(queries),
        $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", hamming.as("hamming"),
        Vectors.cosine($"qvec", $"embedding").as("cos"))
    val cand = graft.plans.TopK.perKey(
      scored, Seq($"query_id"), Seq($"hamming", $"vec_id"), HamCand)
    val top = graft.plans.TopK.perKey(
      cand, Seq($"query_id"), Seq($"cos".desc, $"vec_id"), TopK)
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"),
        $"hamming", stableRound($"cos", 6).as("score"))
      .orderBy($"query_id", $"rank")
  }

  /** Hamming as per-dimension sign disagreement — the mirror never
    * packs a bit, so the green hash proves the packed popcount. */
  private def hammingSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, len($a) + 1), " +
      s"i -> CASE WHEN ($a[i] >= 0) <> ($b[i] >= 0) THEN 1 ELSE 0 END)) " +
      "AS BIGINT)"

  // ---------------------------------------------------------------
  // q200: multi-arm ANN evaluation leaderboard (recall@10 vs exact)
  // ---------------------------------------------------------------

  /** The retrieval-evaluation artifact a deployment reads before
    * picking its ANN arm: per (arm, query), recall@[[TopK]] of the
    * IVF arm (q48) and the binary-sign arm (q196) against the exact
    * brute-force top-k (q27) — q136 evaluates the IVF arm alone; this
    * puts every approximate arm on ONE integer-exact leaderboard so
    * the speed/recall trade is a single artifact. Composition like
    * q190: the arms are the oracled queries themselves, and the
    * mirror nests their oracle texts verbatim, so the evaluation can
    * never drift from what it evaluates.
    *
    * Determinism: recall is exact integer arithmetic — hits counted
    * by equi-join against the exact set, recall_micro = hits·10⁶/k
    * with k = [[TopK]] a constant (exact integer division by 10).
    *
    * Scale: all three arms end in bounded TopKPerKey plans; the
    * leaderboard joins and aggregates ≤ 3·k·|Q| metadata-sized rows —
    * like q190, no corpus-grain pass beyond the arms themselves. */
  def q200AnnLeaderboard(s: SparkSession, d: String): DataFrame = {
    def arm(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("arm"), $"query_id", $"neighbor_id")
    val exact = q27KnnCosine(s, d)
      .select($"query_id".as("e_query"), $"neighbor_id".as("e_id"))
    arm("ivf", q48IvfAnn(s, d))
      .unionByName(arm("binary", q196BinaryAnn(s, d)
        .select($"query_id", $"neighbor_id")))
      .join(exact,
        $"query_id" === $"e_query" && $"neighbor_id" === $"e_id", "left")
      .groupBy($"arm", $"query_id")
      .agg(sum(when($"e_id".isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .select($"arm", $"query_id", $"n_hits",
        ($"n_hits" * lit(1000000L / TopK)).as("recall_micro"))
      .orderBy($"arm", $"query_id")
  }

  // lazy: q196BinaryAnnSql is declared BELOW (object vals initialize
  // in declaration order — a strict val here would interpolate null)
  lazy val q200AnnLeaderboardSql: String =
    s"""WITH exact AS ($q27KnnCosineSql),
       |ivf AS ($q48IvfAnnSql),
       |bin AS ($q196BinaryAnnSql),
       |arms AS (
       |  SELECT 'ivf' AS arm, query_id, neighbor_id FROM ivf
       |  UNION ALL
       |  SELECT 'binary', query_id, neighbor_id FROM bin)
       |SELECT a.arm, a.query_id,
       |  CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) * ${1000000L / TopK} AS recall_micro
       |FROM arms a LEFT JOIN exact e
       |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY 1, 2 ORDER BY a.arm, a.query_id""".stripMargin

  val q196BinaryAnnSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (SELECT q.query_id, e.vec_id,
       |             ${hammingSql("e.embedding", "q.qvec")} AS hamming,
       |             ${cosSql("q.qvec", "e.embedding")} AS cos
       |           FROM embeddings e CROSS JOIN q
       |           WHERE e.vec_id <> q.query_id),
       |cand AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |           ORDER BY hamming, vec_id) AS crn FROM scored),
       |rk AS (SELECT query_id, vec_id, hamming, cos,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, vec_id) AS rank
       |       FROM cand WHERE crn <= $HamCand)
       |SELECT query_id, rank, vec_id AS neighbor_id, hamming,
       |  ${sqlRound("cos", 6)} AS score
       |FROM rk WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin


  // ---------------------------------------------------------------
  // q213: embedding gram matrix (PCA / whitening preparation)
  // ---------------------------------------------------------------

  private val GramDims = 16

  /** Upper-triangular gram matrix G[i,j] = Σ xᵢ·xⱼ over the first
    * [[GramDims]] embedding dimensions — the aggregation a PCA /
    * whitening / ZCA preprocessing step runs over the corpus before
    * eigendecomposition (the decomposition itself is a
    * metadata-sized dense solve on the driver of whatever consumes
    * this; producing G at corpus scale is the distributed part).
    * Each per-row product is gridded to an integer micro the moment
    * it is born (identical float→double cast and IEEE multiply in
    * both engines, rule 10), so the aggregation is an exact
    * order-free BIGINT sum — no FP summation-order hazard at any
    * parallelism. Scale shape: one corpus scan exploding each vector
    * to its 136 bounded cells (map-side-combinable straight onto the
    * 136-cell axis); no joins, no windows. */
  def q213GramMatrix(s: SparkSession, d: String): DataFrame = {
    val cells = for { i <- 0 until GramDims; j <- i until GramDims }
      yield (i, j)
    // one cell index per generated row, its (i, j) looked up in two
    // literal arrays: an explode of the 136 cell structs themselves
    // generated a method too large for Janino, and the stage ran
    // interpreted
    def axis(f: ((Int, Int)) => Int) =
      element_at(typedLit(cells.map(f).toArray), $"k" + 1)
    def x(dim: String) =
      element_at($"embedding", col(dim) + 1).cast("double")
    Tables.embeddings(s, d).filter($"embedding".isNotNull)
      .select($"embedding",
        explode(typedLit(cells.indices.toArray)).as("k"))
      .select($"embedding", axis(_._1).as("i"), axis(_._2).as("j"))
      .select($"i", $"j",
        floor(x("i") * x("j") * 1000000.0 + 0.5).cast("long").as("xy"))
      .groupBy($"i", $"j")
      .agg(count(lit(1)).as("n"), sum($"xy").as("gram_micro"))
      .orderBy($"i", $"j")
  }

  /** The gram-accumulation CTE chain `dims → cells → gram`, shared by
    * q213's and q244's mirrors (one definition — q194 discipline). */
  private def gramCtesSql: String = {
    val vals = (for { i <- 0 until GramDims; j <- i until GramDims }
      yield s"($i,$j)").mkString(", ")
    s"""dims AS (SELECT i, j FROM (VALUES $vals) AS t(i, j)),
       |cells AS (SELECT d.i, d.j,
       |    CAST(floor(CAST(e.embedding[d.i + 1] AS DOUBLE) *
       |      CAST(e.embedding[d.j + 1] AS DOUBLE) *
       |      1000000.0 + 0.5) AS BIGINT) AS xy
       |  FROM embeddings e CROSS JOIN dims d
       |  WHERE e.embedding IS NOT NULL),
       |gram AS MATERIALIZED (SELECT i, j, count(*) AS n,
       |    CAST(sum(xy) AS BIGINT) AS gram_micro
       |  FROM cells GROUP BY 1, 2)""".stripMargin
  }

  val q213GramMatrixSql: String =
    s"""WITH $gramCtesSql
       |SELECT i, j, n, gram_micro FROM gram ORDER BY 1, 2""".stripMargin


  // ---------------------------------------------------------------
  // q215: Fisher/LDA scatter decomposition (between-class structure)
  // ---------------------------------------------------------------

  /** Between-class scatter matrix over the first [[GramDims]]
    * embedding dimensions — the other half of the discriminant-
    * analysis preparation q213 starts (Fisher LDA: S_total =
    * S_within + S_between; eigenvectors of S_within⁻¹·S_between are
    * the class-separating directions, solved driver-side by whatever
    * consumes these 136-row matrices). Per-label element sums are
    * gridded to integer millis at birth (so their cross products are
    * exactly micro-scaled), summed exactly, and the per-label
    * product/count terms combine through ONE rule-7 double pass
    * (sx·sy overflows BIGINT at corpus scale); within = total gram
    * minus between, in integer micros. Scale shape: one corpus scan
    * to (label × dim) sums — a bounded |labels|×16 relation — then
    * all matrix assembly is metadata-sized; the gram arm reuses
    * q213's one-scan shape. */
  def q215FisherScatter(s: SparkSession, d: String): DataFrame = {
    val dimCol = explode(array((0 until GramDims).map { i =>
      struct(lit(i).as("dim"),
        floor(element_at($"embedding", i + 1).cast("double") *
          1000.0 + 0.5).cast("long").as("xm"))
    }: _*)).as("c")
    val sums = Tables.embeddings(s, d).filter($"embedding".isNotNull)
      .select($"label", dimCol)
      .select($"label", $"c.dim".as("dim"), $"c.xm".as("xm"))
      .groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n"), sum($"xm").as("sx"))
    val between = sums.select($"label", $"dim".as("i"),
        $"sx".as("sxi"), $"n")
      .join(sums.select($"label", $"dim".as("j"), $"sx".as("sxj")),
        "label")
      .filter($"i" <= $"j")
      .groupBy($"i", $"j")
      // each label's sx·sy/n term is gridded to an integer micro
      // BEFORE the sum — a double sum over labels would be
      // summation-order-dependent (rule 2); the products run in
      // double per rule 7
      .agg(sum(floor($"sxi".cast("double") * $"sxj" / $"n" + 0.5)
        .cast("long")).as("between_micro"))
    q213GramMatrix(s, d)
      .join(between, Seq("i", "j"))
      .select($"i", $"j", $"n", $"gram_micro", $"between_micro",
        ($"gram_micro" - $"between_micro").as("within_micro"))
      .orderBy($"i", $"j")
  }

  val q215FisherScatterSql: String = {
    val dvals = (0 until GramDims).map(i => s"($i)").mkString(", ")
    s"""WITH dims1 AS (SELECT d FROM (VALUES $dvals) AS t(d)),
       |el AS (SELECT e.label, d.d AS dim,
       |    CAST(floor(CAST(e.embedding[d.d + 1] AS DOUBLE) *
       |      1000.0 + 0.5) AS BIGINT) AS xm
       |  FROM embeddings e CROSS JOIN dims1 d
       |  WHERE e.embedding IS NOT NULL),
       |sums AS (SELECT label, dim, count(*) AS n,
       |    CAST(sum(xm) AS BIGINT) AS sx
       |  FROM el GROUP BY 1, 2),
       |bw AS (SELECT a.dim AS i, c.dim AS j,
       |    CAST(sum(CAST(floor(CAST(a.sx AS DOUBLE) * c.sx / a.n + 0.5)
       |      AS BIGINT)) AS BIGINT) AS between_micro
       |  FROM sums a JOIN sums c
       |    ON a.label = c.label AND a.dim <= c.dim
       |  GROUP BY 1, 2),
       |gram AS (${q213GramMatrixSql.replace("ORDER BY 1, 2", "")})
       |SELECT g.i, g.j, g.n, g.gram_micro, b.between_micro,
       |  g.gram_micro - b.between_micro AS within_micro
       |FROM gram g JOIN bw b ON g.i = b.i AND g.j = b.j
       |ORDER BY g.i, g.j""".stripMargin
  }


  // ---------------------------------------------------------------
  // q220: simplified silhouette (clustering-quality evaluation)
  // ---------------------------------------------------------------

  /** Simplified silhouette (Hruschka et al.'s centroid variant of
    * Rousseeuw 1987) over the q65 Lloyd-refined cells — the
    * clustering-quality score an embedding-curation pipeline checks
    * before trusting cell-scoped dedup (q161) or cell-scoped mining
    * (q183): per vector, a = cosine distance to its OWN refined
    * centroid, b = distance to the closest OTHER centroid,
    * s = (b − a) / max(a, b) ∈ [−1, 1]. Both distances are gridded to
    * integer micros the moment they are born (rule 10), the per-vector
    * score is one identical-IEEE floor expression, and the per-cell
    * mean is a floor of exact integer sums — order-free end to end.
    * Scale shape: one corpus pass against the broadcast
    * [[NumCells]]-row centroid relation (the q27 discipline), one
    * map-side-combinable per-cell aggregation; the assignment subtree
    * is shared with q65/q161 (one lloydOneStep definition). */
  def q220Silhouette(s: SparkSession, d: String): DataFrame = {
    val (_, cents1, a1) = lloydOneStep(s, d)
    val others = a1.select($"vec_id", $"cell_id".as("own"), $"embedding")
      .crossJoin(broadcast(cents1.select($"cell_id", $"cvec1")))
      .filter($"cell_id" =!= $"own")
      .groupBy($"vec_id")
      .agg(max(Vectors.cosine($"embedding", $"cvec1")).as("bcos"))
    a1.select($"vec_id", $"cell_id", $"ccos")
      .join(others, "vec_id")
      .select($"vec_id", $"cell_id",
        floor((lit(1.0) - $"ccos") * 1e6 + 0.5).cast("long").as("ga"),
        floor((lit(1.0) - $"bcos") * 1e6 + 0.5).cast("long").as("gb"))
      .select($"cell_id",
        when(greatest($"ga", $"gb") > 0L,
          floor(($"gb" - $"ga").cast("double") * 1000000.0 /
            greatest($"ga", $"gb") + 0.5).cast("long"))
          .otherwise(0L).as("sil_micro"))
      .groupBy($"cell_id")
      .agg(count(lit(1)).as("n"), sum($"sil_micro").as("ssum"),
        min($"sil_micro").as("min_sil_micro"),
        max($"sil_micro").as("max_sil_micro"))
      .select($"cell_id", $"n",
        floor($"ssum".cast("double") / $"n" + 0.5).cast("long")
          .as("mean_sil_micro"),
        $"min_sil_micro", $"max_sil_micro")
      .orderBy($"cell_id")
  }

  val q220SilhouetteSql: String =
    s"""WITH $lloydCtes,
       |oth AS (SELECT a.vec_id,
       |    max(${cosSql("a.embedding", "c.cvec1")}) AS bcos
       |  FROM a1 a CROSS JOIN cents1 c
       |  WHERE c.cell_id <> a.cell_id GROUP BY a.vec_id),
       |g AS (SELECT a.vec_id, a.cell_id,
       |    CAST(floor((1.0 - a.ccos1) * 1e6 + 0.5) AS BIGINT) AS ga,
       |    CAST(floor((1.0 - o.bcos) * 1e6 + 0.5) AS BIGINT) AS gb
       |  FROM a1 a JOIN oth o ON o.vec_id = a.vec_id),
       |si AS (SELECT cell_id,
       |    CASE WHEN greatest(ga, gb) > 0
       |         THEN CAST(floor(CAST(gb - ga AS DOUBLE) * 1000000.0 /
       |           greatest(ga, gb) + 0.5) AS BIGINT)
       |         ELSE 0 END AS sil_micro
       |  FROM g),
       |ag AS (SELECT cell_id, count(*) AS n,
       |    CAST(sum(sil_micro) AS BIGINT) AS ssum,
       |    min(sil_micro) AS min_sil_micro,
       |    max(sil_micro) AS max_sil_micro
       |  FROM si GROUP BY cell_id)
       |SELECT cell_id, n,
       |  CAST(floor(CAST(ssum AS DOUBLE) / n + 0.5) AS BIGINT)
       |    AS mean_sil_micro,
       |  min_sil_micro, max_sil_micro
       |FROM ag ORDER BY cell_id""".stripMargin

  // ---------------------------------------------------------------
  // q221: density clustering census (DBSCAN from existing parts)
  // ---------------------------------------------------------------

  private val DbMinPts = 2L
  /** Density radius as a gridded cosine — deliberately LOOSER than
    * the 0.45 dedup cut ([[SemDupCos]]): dedup wants near-identity,
    * density clustering wants neighborhoods. 0.40 is calibrated so
    * the driver corpus genuinely produces cores, borders, components
    * and isolated cores at every scale factor (an all-zero census
    * would leave the component machinery driver-unexercised). */
  private val DbEpsGrid = 400000L

  /** DBSCAN (Ester et al. KDD 1996) composed entirely from already-
    * oracled machinery — the density-clustering decision a curation
    * pipeline runs where k-means' spherical cells mislead: ε-neighbor
    * pairs are the q161 cell-bounded cosine pairs at a looser
    * [[DbEpsGrid]] radius decided on the same 1e-6 grid; core
    * points have ≥ [[DbMinPts]] neighbors; clusters are connected
    * components of the core-core graph via the q50 min-label
    * propagation (one `dedupClusters` definition, recursive-CTE
    * closure in the oracle); border points are non-cores adjacent to
    * a core; everything else is noise. Output is a 7-row integer
    * census (never empty — a density-free corpus audits its zeros,
    * the q46 pattern). The cell discipline bounds the quadratic
    * exactly as q161 documents: pairing never leaves a ≤512-member
    * cell. */
  def q221DensityClusters(s: SparkSession, d: String): DataFrame = {
    val (_, _, a1) = lloydOneStep(s, d)
    val w = Window.partitionBy($"cell_id").orderBy($"vec_id")
    // the census below re-references every stage (degrees, core/border
    // splits, components, and the seven rows) — without these caches
    // the cell-bounded cosine quadratic re-evaluates once PER ROW, the
    // iterative-plan cliff (measured: 44 s → in-band at sf0.1). rk is
    // eager: the pair self-join would read an unfilled cache twice
    val rk = a1.select($"vec_id", $"embedding", $"cell_id")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= SemDedupMaxCell)
      .localCheckpoint(true)
    val cand = rk.select($"cell_id".as("ccell"), $"vec_id".as("v2"),
      $"embedding".as("e2"), $"rn".as("rn2"))
    // round 15: EAGER localCheckpoint on the two relations every
    // census branch re-embeds (the q243 lesson, measured there:
    // 21 s → 14 s one-shot with ~0.7 MB of data — the cost was
    // Catalyst re-optimizing the cell-bounded pair quadratic once per
    // branch, not execution). pairs is the quadratic itself; cores is
    // referenced by four branches (pc twice, noise, isoCores).
    val pairs = rk.join(cand, $"ccell" === $"cell_id" && $"rn" < $"rn2")
      .filter(floor(Vectors.cosine($"embedding", $"e2") * lit(1e6) +
        lit(0.5)) >= lit(DbEpsGrid))
      .select($"vec_id".as("a"), $"v2".as("b"))
      .localCheckpoint(true)
    val deg = pairs.select($"a".as("v")).unionAll(pairs.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
    val cores = deg.filter($"deg" >= DbMinPts).select($"v")
      .localCheckpoint(true)
    val pc = pairs
      .join(cores.select($"v".as("a"), lit(true).as("ca")), Seq("a"), "left")
      .join(cores.select($"v".as("b"), lit(true).as("cb")), Seq("b"), "left")
      .select($"a", $"b",
        coalesce($"ca", lit(false)).as("ca"),
        coalesce($"cb", lit(false)).as("cb"))
    val coreEdges = pc.filter($"ca" && $"cb").select($"a", $"b")
      .localCheckpoint(true)
    val borderV = pc.filter($"ca" =!= $"cb")
      .select(when($"ca", $"b").otherwise($"a").as("v")).distinct()
      .localCheckpoint(true)
    // an eager checkpoint already: two census branches read it
    val comps = TextOps.dedupClusters(
      coreEdges.select($"a".as("d1"), $"b".as("d2")))
    val edgeVerts = coreEdges.select($"a".as("v"))
      .unionAll(coreEdges.select($"b".as("v"))).distinct()
    val isoCores = cores.join(edgeVerts, Seq("v"), "left_anti")
      .localCheckpoint(true)
    def row(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("metric"), $"value")
    row("n_points", rk.agg(count(lit(1)).as("value")))
      .unionAll(row("n_eps_pairs", pairs.agg(count(lit(1)).as("value"))))
      .unionAll(row("n_core", cores.agg(count(lit(1)).as("value"))))
      .unionAll(row("n_border", borderV.agg(count(lit(1)).as("value"))))
      .unionAll(row("n_noise",
        rk.join(cores.select($"v".as("vec_id")), Seq("vec_id"), "left_anti")
          .join(borderV.select($"v".as("vec_id")), Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("value"))))
      .unionAll(row("n_clusters",
        comps.select($"canonical_id".as("v")).distinct()
          .unionAll(isoCores).agg(count(lit(1)).as("value"))))
      .unionAll(row("max_cluster_size",
        comps.select($"cluster_size".as("sz"))
          .unionAll(isoCores.select(lit(1L).as("sz")))
          .agg(coalesce(max($"sz"), lit(0L)).as("value"))))
      .orderBy($"metric")
  }

  val q221DensityClustersSql: String = {
    val cos = cosSql("r.embedding", "p.embedding")
    s"""WITH RECURSIVE $lloydCtes,
       |rk AS (SELECT vec_id, embedding, cell_id,
       |    row_number() OVER (PARTITION BY cell_id ORDER BY vec_id)
       |      AS rn
       |  FROM a1),
       |rkc AS (SELECT * FROM rk WHERE rn <= $SemDedupMaxCell),
       |prs AS (SELECT r.vec_id AS a, p.vec_id AS b
       |  FROM rkc r JOIN rkc p
       |    ON p.cell_id = r.cell_id AND r.rn < p.rn
       |  WHERE CAST(floor($cos * 1e6 + 0.5) AS BIGINT)
       |    >= $DbEpsGrid),
       |deg AS (SELECT v, count(*) AS deg FROM
       |    (SELECT a AS v FROM prs UNION ALL SELECT b FROM prs)
       |  GROUP BY v),
       |cores AS (SELECT v FROM deg WHERE deg >= $DbMinPts),
       |ce AS (SELECT a, b FROM prs
       |  WHERE a IN (SELECT v FROM cores)
       |    AND b IN (SELECT v FROM cores)),
       |bord AS (SELECT DISTINCT
       |    CASE WHEN a IN (SELECT v FROM cores) THEN b ELSE a END AS v
       |  FROM prs
       |  WHERE (a IN (SELECT v FROM cores))
       |    <> (b IN (SELECT v FROM cores))),
       |sym AS (SELECT a, b FROM ce UNION SELECT b, a FROM ce),
       |reach AS (SELECT a AS id, a AS r FROM sym
       |  UNION SELECT s2.id, e.b FROM reach s2 JOIN sym e
       |    ON e.a = s2.r),
       |comp AS (SELECT id, min(r) AS canonical_id FROM reach
       |  GROUP BY id),
       |sizes AS (SELECT canonical_id, count(*) AS csize FROM comp
       |  GROUP BY canonical_id),
       |ev AS (SELECT a AS v FROM ce UNION SELECT b FROM ce),
       |iso AS (SELECT count(*) AS n FROM cores
       |  WHERE v NOT IN (SELECT v FROM ev))
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  SELECT 'n_points' AS metric, count(*) AS value FROM rkc
       |  UNION ALL SELECT 'n_eps_pairs', count(*) FROM prs
       |  UNION ALL SELECT 'n_core', count(*) FROM cores
       |  UNION ALL SELECT 'n_border', count(*) FROM bord
       |  UNION ALL SELECT 'n_noise',
       |    (SELECT count(*) FROM rkc) - (SELECT count(*) FROM cores)
       |      - (SELECT count(*) FROM bord)
       |  UNION ALL SELECT 'n_clusters',
       |    (SELECT count(DISTINCT canonical_id) FROM comp)
       |      + (SELECT n FROM iso)
       |  UNION ALL SELECT 'max_cluster_size',
       |    greatest(coalesce((SELECT max(csize) FROM sizes), 0),
       |      CASE WHEN (SELECT n FROM iso) > 0 THEN 1 ELSE 0 END))
       |ORDER BY metric""".stripMargin
  }

  // ---------------------------------------------------------------
  // q241: cluster purity vs ground-truth labels (external validation)
  // ---------------------------------------------------------------

  /** Majority pack base: labels must sit in [0, [[PurityPackBase]])
    * for the rule-9 single-BIGINT argmax — enforced LOUDLY per row
    * (the q189 guard philosophy), so a wider label space fails
    * instead of silently corrupting the majority pick. */
  private val PurityPackBase = 1024L

  /** Cluster purity against ground-truth labels — the EXTERNAL
    * clustering validation beside q220's internal silhouette: per IVF
    * cell (q47's assignment, shared machinery), the majority label,
    * its count, and purity = majority/n. Purity is what a curation
    * team checks before trusting cells as semantic strata (q161's
    * SemDeDup, q183's triplet mining both key on these cells): low
    * purity means the cells don't capture the label structure and
    * cell-local decisions leak across classes.
    *
    * Determinism: the majority pick is ONE packed-BIGINT min per cell
    * (rule 9): (n_cell − cnt)·1024 + label — count desc then label
    * asc, never min_by/struct-min; counts and the purity ppm floor
    * division are exact integers (rule 13, n_cell ≥ 1).
    *
    * Scale: the corpus never self-joins — one broadcast-centroid
    * assignment scan (q47's shape), one (cell × label) hash aggregate
    * (bounded: 16 cells × |labels|), everything after metadata-sized. */
  def q241ClusterPurity(s: SparkSession, d: String): DataFrame = {
    val lab = Tables.embeddings(s, d).select($"vec_id", $"label")
    clusterPurity(ivfAssignments(s, d)
      .select($"vec_id", $"cell_id")
      .join(lab, Seq("vec_id"))
      .select($"cell_id", $"label".cast("long").as("label")))
  }

  private[graft] def clusterPurity(assigned: DataFrame): DataFrame = {
    val guarded = when(
      $"label" < 0L || $"label" >= PurityPackBase,
      raise_error(concat(
        lit("clusterPurity: label outside the pack base [0, 1024): "),
        $"label"))).otherwise($"label")
    val cl = assigned.select($"cell_id", guarded.as("label"))
      .groupBy($"cell_id", $"label").agg(count(lit(1)).as("cnt"))
    val wCell = Window.partitionBy($"cell_id")
    val packed = cl.select($"cell_id", $"label", $"cnt",
      sum($"cnt").over(wCell).as("n_vecs"))
      .select($"cell_id", $"n_vecs",
        (($"n_vecs" - $"cnt") * PurityPackBase + $"label").as("pack"))
    packed.groupBy($"cell_id")
      .agg(max($"n_vecs").as("n_vecs"), min($"pack").as("mp"))
      .select($"cell_id", $"n_vecs",
        ($"mp" % PurityPackBase).as("majority_label"),
        ($"n_vecs" - expr(s"mp div $PurityPackBase")).as("majority_cnt"))
      .select($"cell_id", $"n_vecs", $"majority_label", $"majority_cnt",
        expr("(majority_cnt * 1000000) div n_vecs").as("purity_ppm"))
      .orderBy($"cell_id")
  }

  val q241ClusterPuritySql: String =
    s"""WITH $ivfAssignSql,
       |al AS (SELECT a.cell_id, CAST(e.label AS BIGINT) AS label
       |  FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id),
       |cl AS (SELECT cell_id, label, CAST(count(*) AS BIGINT) AS cnt
       |  FROM al GROUP BY 1, 2),
       |n AS (SELECT cell_id, label, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY cell_id) AS BIGINT) AS n_vecs
       |  FROM cl),
       |p AS (SELECT cell_id, n_vecs,
       |    (n_vecs - cnt) * $PurityPackBase + label AS pack FROM n),
       |m AS (SELECT cell_id, max(n_vecs) AS n_vecs,
       |    min(pack) AS mp FROM p GROUP BY cell_id),
       |u AS (SELECT cell_id, n_vecs, mp % $PurityPackBase
       |    AS majority_label,
       |    n_vecs - mp // $PurityPackBase AS majority_cnt FROM m)
       |SELECT cell_id, n_vecs, majority_label, majority_cnt,
       |  (majority_cnt * 1000000) // n_vecs AS purity_ppm
       |FROM u ORDER BY cell_id""".stripMargin

  // ---------------------------------------------------------------
  // q243: semi-supervised label propagation (seed-clamped, 2 rounds)
  // ---------------------------------------------------------------

  /** Seed coin: md5("lp:"+vec_id) first hex < '8' — an exact 1/2
    * labeled seed set (q167/q194 idiom). */
  private val LpSeedHexCut = "8"
  private val LpRounds = 2

  /** Semi-supervised label propagation (Zhu–Ghahramani 2002 family,
    * hard-label majority variant with clamped seeds) — the label-
    * bootstrap step a curation pipeline runs to extend a small
    * labeled set over an unlabeled corpus: half the vectors keep
    * their ground-truth label (the md5 seed coin), the rest adopt,
    * round by round, the majority label among their already-labeled
    * ε-neighbors ([[LpRounds]] unrolled rounds, the q110/q191
    * fixed-iteration pattern; once labeled, a node is clamped). The
    * similarity graph is q221's cell-bounded gridded-cosine ε-pair
    * relation — the quadratic never leaves a ≤512-member k-means
    * cell. BECAUSE the full ground truth exists here, the census
    * doubles as the held-out evaluation: each round reports adopted
    * labels AND how many match the hidden truth — the accuracy a
    * team reads before trusting bootstrapped labels for training.
    *
    * Determinism: votes are exact integer counts; the per-node
    * majority is ONE rule-9 packed min ((512−cnt)·1024 + label —
    * count desc, label asc; cnt ≤ 511 by the cell cap, labels
    * raise_error-guarded into [0, 1024)); the census is 7 integer
    * rows. Scale: adjacency is |pairs|-bounded, each round one
    * equi-join + bounded aggregate (the Pregel round), label
    * relations are one row per node, each round's a
    * [[Blocks.generations]] generation filled by its census. */
  def q243LabelProp(s: SparkSession, d: String): DataFrame = {
    val (_, _, a1) = lloydOneStep(s, d)
    val w = Window.partitionBy($"cell_id").orderBy($"vec_id")
    // persisted: the truth join and both sides of the pair self-join
    // read it (the q221 iterative-plan cliff)
    val rk = a1.select($"vec_id", $"embedding", $"cell_id")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= SemDedupMaxCell)
      .persist()
    val cand = rk.select($"cell_id".as("ccell"), $"vec_id".as("v2"),
      $"embedding".as("e2"), $"rn".as("rn2"))
    // the truth checkpoint fills rk through one scan, before the pair
    // self-join reads it twice
    val truth = rk.select($"vec_id")
      .join(Tables.embeddings(s, d)
        .select($"vec_id", $"label".cast("long").as("tl")), Seq("vec_id"))
      .localCheckpoint(true)
    val pairs = rk.join(cand, $"ccell" === $"cell_id" && $"rn" < $"rn2")
      .filter(floor(Vectors.cosine($"embedding", $"e2") * lit(1e6) +
        lit(0.5)) >= lit(DbEpsGrid))
      .select($"vec_id".as("a"), $"v2".as("b"))
    // round 15: EAGER localCheckpoint, not lazy persist — the census
    // is one action whose 7 branches each embed this subtree; lazily
    // persisted, the cell-bounded pair quadratic was re-analyzed (and
    // under AQE partially re-evaluated) once per branch before the
    // cache filled, and Catalyst re-optimized the full pair-build
    // lineage in every branch (Probe: 21 s at sf0.1 with 0.7 MB
    // cached — all driver/plan overhead). The checkpoint cuts the
    // plan to a LogicalRDD leaf (the q282 lineage-cut discipline);
    // the blocks stored are the same ones persist() kept.
    val adj = pairs.select($"a".as("v"), $"b".as("n"))
      .unionAll(pairs.select($"b".as("v"), $"a".as("n")))
      .localCheckpoint(true)
    val guardedTl = when($"tl" < 0L || $"tl" >= lit(1024L),
      raise_error(concat(
        lit("labelProp: label outside the pack base [0, 1024): "),
        $"tl"))).otherwise($"tl")
    val l0 = truth
      .filter(md5(concat(lit("lp:"), $"vec_id".cast("string")))
        < LpSeedHexCut)
      .select($"vec_id", guardedTl.as("lab"))
    labelPropRounds(adj, truth, l0)
  }

  /** The propagation core over a prepared symmetric adjacency (v, n),
    * ground truth (vec_id, tl), and clamped seeds (vec_id, lab) —
    * split from [[q243LabelProp]] for the crafted-graph spec. */
  private[graft] def labelPropRounds(adj: DataFrame, truth: DataFrame,
      l0: DataFrame): DataFrame = {
    val census = Blocks.generations { gens =>
      // (vec_id, lab, round, ok): each labeled node, its round, and
      // whether it matches its truth — one aggregate is the census
      var lbl = gens.keep(l0.select($"vec_id", $"lab", lit(0).as("round"),
        lit(false).as("ok")))
      def take(r: Int) = gens.fill(s"labelprop round $r: census") {
        lbl.agg(count(lit(1)), count(when($"round" === r, lit(1))),
          count(when($"round" === r && $"ok", lit(1)))).head()
      }
      ("r0_labeled" -> take(0).getLong(0)) +: (1 to LpRounds).flatMap { r =>
        val votes = adj
          .join(lbl.select($"vec_id".as("v")), Seq("v"), "left_anti")
          .join(lbl.select($"vec_id".as("n"), $"lab"), Seq("n"))
          .groupBy($"v", $"lab").agg(count(lit(1)).as("cnt"))
        val adopted = votes
          .select($"v", ((lit(512L) - $"cnt") * 1024L + $"lab").as("pack"))
          .groupBy($"v").agg(min($"pack").as("mp"))
          .select($"v".as("vec_id"), ($"mp" % 1024L).as("lab"))
        lbl = gens.keep(lbl.unionByName(adopted
          .join(truth, Seq("vec_id"), "left")
          .select($"vec_id", $"lab", lit(r).as("round"),
            coalesce($"lab" === $"tl", lit(false)).as("ok"))))
        val row = take(r)
        Seq(s"r${r}_labeled" -> row.getLong(0),
          s"r${r}_adopted" -> row.getLong(1),
          s"r${r}_correct" -> row.getLong(2))
      }
    }
    Relational.censusFrame(adj.sparkSession, census)
  }

  val q243LabelPropSql: String = {
    val cos = cosSql("r.embedding", "p.embedding")
    val rounds = (1 to LpRounds).map { r =>
      s"""v$r AS (SELECT a.v, l.lab, CAST(count(*) AS BIGINT) AS cnt
         |  FROM adj a JOIN l${r - 1} l ON l.vec_id = a.n
         |  WHERE a.v NOT IN (SELECT vec_id FROM l${r - 1})
         |  GROUP BY 1, 2),
         |ad$r AS (SELECT v AS vec_id,
         |    min((512 - cnt) * 1024 + lab) % 1024 AS lab
         |  FROM v$r GROUP BY v),
         |l$r AS (SELECT vec_id, lab FROM l${r - 1}
         |  UNION ALL SELECT vec_id, lab FROM ad$r)""".stripMargin
    }.mkString(",\n")
    val censusRows = (1 to LpRounds).map { r =>
      s"""  UNION ALL SELECT 'r${r}_adopted',
         |    (SELECT count(*) FROM ad$r)
         |  UNION ALL SELECT 'r${r}_correct',
         |    (SELECT count(*) FROM ad$r a JOIN truth t
         |     ON t.vec_id = a.vec_id AND t.tl = a.lab)
         |  UNION ALL SELECT 'r${r}_labeled',
         |    (SELECT count(*) FROM l$r)""".stripMargin
    }.mkString("\n")
    s"""WITH $lloydCtes,
       |rk AS (SELECT vec_id, embedding, cell_id,
       |    row_number() OVER (PARTITION BY cell_id ORDER BY vec_id)
       |      AS rn
       |  FROM a1),
       |rkc AS (SELECT * FROM rk WHERE rn <= $SemDedupMaxCell),
       |prs AS (SELECT r.vec_id AS a, p.vec_id AS b
       |  FROM rkc r JOIN rkc p
       |    ON p.cell_id = r.cell_id AND r.rn < p.rn
       |  WHERE CAST(floor($cos * 1e6 + 0.5) AS BIGINT)
       |    >= $DbEpsGrid),
       |adj AS MATERIALIZED (SELECT a AS v, b AS n FROM prs
       |  UNION ALL SELECT b, a FROM prs),
       |truth AS MATERIALIZED (SELECT r.vec_id,
       |    CAST(e.label AS BIGINT) AS tl
       |  FROM rkc r JOIN embeddings e ON e.vec_id = r.vec_id),
       |l0 AS MATERIALIZED (SELECT vec_id, tl AS lab FROM truth
       |  WHERE md5('lp:' || CAST(vec_id AS VARCHAR)) < '$LpSeedHexCut'),
       |$rounds
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  SELECT 'r0_labeled' AS metric,
       |    (SELECT count(*) FROM l0) AS value
       |$censusRows)
       |ORDER BY metric""".stripMargin
  }

  // ---------------------------------------------------------------
  // q244: top principal component by power iteration (PCA at scale)
  // ---------------------------------------------------------------

  private val PowerIters = 3

  /** Top principal direction of the embedding corpus by [[PowerIters]]
    * unrolled power iterations over q213's gram matrix — the canonical
    * distributed-PCA shape (e.g. Halko et al. 2011's randomized
    * sketches start exactly here): ONE corpus scan accumulates the
    * d×d gram (q213's map-side-combinable cell aggregate), and every
    * iteration after is arithmetic on the [[GramDims]]²-cell metadata
    * relation — at 100 TB the corpus is touched once, the iteration
    * cost is nil. The dominant eigenvector is the direction a curation
    * team inspects for corpus-level anisotropy (the "rogue dimension"
    * phenomenon) and the first step of spectral whitening.
    *
    * Determinism: the gram is q213's exact micro-grid integers; each
    * matvec entry is floor(identical-IEEE double product)/1e6 summed
    * exactly (≤ [[GramDims]] BIGINT terms, order-free); each iterate
    * renormalizes onto the ppm grid by its L∞ norm (max-abs — no
    * sqrt), zero-matrix guarded by greatest(m, 1). Output: the 16
    * component rows of v₃ plus the dim = −1 row carrying the final
    * pre-normalization L∞ norm — the dominant-eigenvalue estimate in
    * gram-micro units (v₂ is ppm-normalized, so ‖G·v₂‖∞/1e6·1e6
    * collapses to ‖raw‖∞). */
  def q244PowerIteration(s: SparkSession, d: String): DataFrame =
    powerIteration(q213GramMatrix(s, d)
      .select($"i", $"j", $"gram_micro"))

  private[graft] def powerIteration(gram: DataFrame): DataFrame = {
    val rows = Blocks.generations { gens =>
      // round 15: ONE eager checkpoint of the gram pins the corpus scan
      // to exactly one evaluation — the gram is a ≤ GramDims² = 256-row
      // relation, but its LINEAGE is the full corpus scan (Probe showed
      // ~10 broadcast jobs of 0.9–1.6 s all recomputing it when the
      // iterations read it lazily; a persisted gram measured q244
      // 3.40 → 4.66 s at sf0.1). Each iterate's raw matvec (16 rows) is
      // a checkpointed generation whose L∞ norm is its census, so every
      // iteration reads metadata-grain blocks and the norm divides as a
      // literal — matching the operator's own 100 TB claim (corpus
      // touched once, iterations are metadata arithmetic).
      val g = gens.pin(gens.checkpoint(gram))
      val gF = g.unionByName(g.filter($"i" =!= $"j")
        .select($"j".as("i"), $"i".as("j"), $"gram_micro"))
      var v = g.select($"i").distinct()
        .select($"i", lit(1000000L).as("v"))
      var m = 0L
      for (k <- 1 to PowerIters) {
        val raw = gens.checkpoint(
          gF.join(v.select($"i".as("j"), $"v"), Seq("j"))
            .select($"i",
              floor($"gram_micro".cast("double") * $"v" / 1000000.0)
                .cast("long").as("c"))
            .groupBy($"i").agg(sum($"c").as("r")))
        m = gens.fill(s"powerIteration iterate $k")(
          raw.agg(max(abs($"r"))).head().getLong(0))
        v = raw.select($"i",
          floor($"r".cast("double") * 1000000.0 / math.max(m, 1L))
            .cast("long").as("v"))
      }
      // one row per gram dimension: a metadata-sized read
      val dims = v.select($"i".cast("long"), $"v").take(GramDims + 1)
      require(dims.length <= GramDims,
        s"powerIteration: the gram has more than $GramDims dimensions")
      dims.map(r => (r.getLong(0), r.getLong(1))) :+ ((-1L, m))
    }
    gram.sparkSession.createDataFrame(rows.sortBy(_._1).toSeq)
      .toDF("dim", "value")
  }

  val q244PowerIterationSql: String = {
    val iters = (1 to PowerIters).map { k =>
      s"""r$k AS (SELECT g.i,
         |    CAST(sum(CAST(floor(CAST(g.gram_micro AS DOUBLE) * v.v
         |      / 1000000.0) AS BIGINT)) AS BIGINT) AS r
         |  FROM gf g JOIN v${k - 1} v ON v.i = g.j GROUP BY g.i),
         |m$k AS (SELECT CAST(max(abs(r)) AS BIGINT) AS m FROM r$k),
         |v$k AS (SELECT i, CAST(floor(CAST(r AS DOUBLE) * 1000000.0
         |    / greatest(m, 1)) AS BIGINT) AS v FROM r$k, m$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $gramCtesSql,
       |gf AS (SELECT i, j, gram_micro FROM gram
       |  UNION ALL SELECT j, i, gram_micro FROM gram WHERE i <> j),
       |v0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS v
       |  FROM gram),
       |$iters
       |SELECT CAST(i AS BIGINT) AS dim, v AS value FROM v$PowerIters
       |UNION ALL SELECT CAST(-1 AS BIGINT), m FROM m$PowerIters
       |ORDER BY dim""".stripMargin
  }

  // ---------------------------------------------------------------
  // q248: greedy k-center coreset selection (Gonzalez 1985)
  // ---------------------------------------------------------------

  private val KCenterK = 4
  /** Sentinel min-distance above any gridded cosine distance
    * (dist = 1e6 − cos_grid ∈ [0, 2e6]); with every mind equal to it,
    * round 1's farthest-point argmax tie-breaks to the MIN vec_id —
    * the deterministic seed, no special-cased first round. */
  private val KCenterInf = 2000000L
  /** Rule-9 pack shift for ((sentinel − mind), vec_id) on the NARROW
    * argmax arm: vec ids under 2⁴⁰ (guarded loudly per row — q189
    * philosophy, unreachable once the adaptive bound scan routes wider
    * ids to the DECIMAL arm). */
  private val KCenterIdShift = 1L << 40

  /** Greedy k-center coreset selection (Gonzalez 1985, public — the
    * 2-approximation every coreset / active-learning / diverse-
    * sampling pipeline starts from): repeatedly add the point
    * FARTHEST from the chosen set, [[KCenterK]] unrolled rounds. The
    * selected ids are the diversity sample; the final cover radius
    * (max over the corpus of distance-to-nearest-center) is the
    * k-center objective — the number a team reads to size how many
    * exemplars a corpus needs.
    *
    * Scale: the classic distributed formulation — the min-distance
    * relation updates INCREMENTALLY (least(mind, dist-to-new-center)
    * against a 1-row broadcast center; one map-only corpus pass per
    * round, never a pairwise matrix), and the argmax is ONE packed
    * min ((sentinel − mind)·shift + vec_id — farthest first, ties to
    * the smaller id), never a global sort. The pack width is ADAPTIVE
    * (the q282/q284 recipe): a 1-row bound scan picks the rule-9
    * BIGINT pack (shift 2⁴⁰) when every vec id fits 40 bits — the
    * common case, measurably cheaper — and the DECIMAL(38,0) pack
    * ((sentinel − mind)·2⁶³ + vec_id, ids to 2⁶³, structurally
    * unboundable) beyond. Both arms induce the same (mind desc,
    * vec_id asc) order, so the choice is output-invisible; the DuckDB
    * mirror keeps the BIGINT pack (generator ids are bounded). Each
    * round's min-distance relation is a [[Blocks.generations]]
    * generation, filled by ONE aggregate: the round's census AND the
    * next argmax, whose center is then a filter on the collected id.
    *
    * Determinism: distances are the gridded cosine (1e6 − cos_grid,
    * exact integers after the q161-style floor); every selection and
    * the cover radius are integer min/max aggregates. */
  def q248KCenter(s: SparkSession, d: String): DataFrame =
    kCenter(Tables.embeddings(s, d).filter($"embedding".isNotNull)
      .select($"vec_id", $"embedding"))

  private[graft] def kCenter(emb: DataFrame): DataFrame = {
    val guardedId = when($"vec_id" >= KCenterIdShift,
      raise_error(concat(
        lit("kCenter: vec_id exceeds the 2^40 pack bound: "),
        $"vec_id"))).otherwise($"vec_id")
    // ADAPTIVE argmax key width: one 1-row bound scan (a pruned
    // vec_id-only parquet pass) routes ids ≥ 2⁴⁰ to the DECIMAL(38,0)
    // arm; (sentinel − mind) ≤ 2e6, so 2e6·2⁶³ + (2⁶³−1) ≈ 1.8e25
    // sits far under DECIMAL(38,0)'s 1e38 ceiling — no guard can trip.
    // The same scan's min id is round 1's pick: every mind starts at
    // the sentinel, so the argmax tie-breaks to the smallest id.
    val bounds = emb.agg(min($"vec_id"), max($"vec_id")).head()
    val wideIds = !bounds.isNullAt(1) && bounds.getLong(1) >= KCenterIdShift
    val two63 = new java.math.BigDecimal("9223372036854775808")
    val (pack, unpack) = if (wideIds)
      ((lit(KCenterInf) - $"mind").cast("decimal(38,0)") * lit(two63) +
        $"vec_id", expr("CAST(mp % 9223372036854775808 AS BIGINT)"))
    else ((lit(KCenterInf) - $"mind") * KCenterIdShift + guardedId,
      $"mp" % KCenterIdShift)
    val rows = Blocks.generations { gens =>
      var state = emb.select($"vec_id", $"embedding",
        lit(KCenterInf).as("mind"))
      var cid = bounds.get(0).asInstanceOf[java.lang.Long]
      (1 to KCenterK).map { k =>
        val cEmb = emb.filter($"vec_id" === lit(cid))
          .select($"embedding".as("cvec"))
        state = gens.keep(state.crossJoin(broadcast(cEmb))
          .select($"vec_id", $"embedding",
            least($"mind", lit(1000000L) -
              floor(Vectors.cosine($"embedding", $"cvec") * lit(1e6) +
                lit(0.5)).cast("long")).as("mind")))
        // one aggregate: this round's cover radius and the next
        // round's packed farthest-point argmax
        val row = gens.fill(s"kcenter round $k: census (cover, argmax)") {
          state.agg(max($"mind").as("cover"), min(pack).as("mp"))
            .select($"cover", unpack).head()
        }
        val step = (k.toLong, Option(cid).map(_.longValue),
          Option(row.get(0)).map(_.asInstanceOf[Long]))
        cid = row.get(1).asInstanceOf[java.lang.Long]
        step
      }
    }
    emb.sparkSession.createDataFrame(rows)
      .toDF("step", "center_id", "cover_radius_micro")
  }

  val q248KCenterSql: String = {
    val rounds = (1 to KCenterK).map { k =>
      val cos = cosSql("s.embedding", "e.cvec")
      s"""p$k AS (SELECT min(($KCenterInf - mind) * $KCenterIdShift
         |    + vec_id) AS mp FROM s${k - 1}),
         |c$k AS (SELECT mp % $KCenterIdShift AS cid FROM p$k),
         |e$k AS (SELECT c.cid, m.embedding AS cvec
         |  FROM c$k c JOIN emb m ON m.vec_id = c.cid),
         |s$k AS (SELECT s.vec_id, s.embedding, e.cid,
         |    least(s.mind, 1000000 -
         |      CAST(floor($cos * 1e6 + 0.5) AS BIGINT)) AS mind
         |  FROM s${k - 1} s, e$k e),
         |r$k AS (SELECT CAST($k AS BIGINT) AS step,
         |    CAST(max(cid) AS BIGINT) AS center_id,
         |    CAST(max(mind) AS BIGINT) AS cover_radius_micro
         |  FROM s$k)""".stripMargin
    }.mkString(",\n")
    val union = (1 to KCenterK).map(k => s"SELECT * FROM r$k")
      .mkString("\nUNION ALL ")
    s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |s0 AS (SELECT vec_id, embedding,
       |    CAST($KCenterInf AS BIGINT) AS mind FROM emb),
       |$rounds
       |$union
       |ORDER BY step""".stripMargin
  }

  // ---------------------------------------------------------------
  // q269: int8 scalar quantization — compression-error audit
  // ---------------------------------------------------------------

  /** Int8 scalar quantization error audit (the FAISS SQ8 recipe,
    * public — Jégou et al.'s scalar baseline beside the q77 PQ
    * codebooks): per dimension, the corpus min/max train the affine
    * code grid (code = round((v−min)·255/(max−min)), 0..255), every
    * value is quantized and reconstructed, and the census reports the
    * per-dimension max/mean relative reconstruction error — the table
    * read before shipping an index at 4 bytes→1 byte per dimension.
    * The theoretical bound is half a quantization step: rel err ≤
    * 1/510 ≈ 1.96e6 ppb (EngineSpec asserts the live max under it).
    *
    * Determinism: float32 inputs cast to double exactly; min/max/
    * scale/code/reconstruction are the identical IEEE expression on
    * both engines (rule 7), the per-value relative error floor-
    * gridded to integer ppb (rule 10) BEFORE the max/mean, the mean
    * a rule-13 integer division; a zero-range dimension CASEs to
    * code 0 / error 0 both sides.
    *
    * Scale: two map-side-combinable aggregates over the exploded
    * (dim, value) stream onto the |dims| axis, with the 16-row
    * per-dim stats relation broadcast back — no shuffle of the
    * corpus beyond the explode's narrow dependency, no pairwise
    * work. */
  def q269Sq8Quant(s: SparkSession, d: String): DataFrame =
    sq8Quant(Tables.embeddings(s, d)
      .select($"vec_id", posexplode($"embedding").as(Seq("dim", "vf")))
      .select($"dim".cast("long").as("dim"), $"vf".cast("double").as("v")))

  private[graft] def sq8Quant(vals: DataFrame): DataFrame = {
    val stats = vals.groupBy($"dim")
      .agg(min($"v").as("vmin"), max($"v").as("vmax"))
    val coded = vals.join(broadcast(stats), Seq("dim"))
      .select($"dim", $"v", $"vmin", $"vmax",
        when($"vmax" === $"vmin", lit(0L))
          .otherwise(floor(($"v" - $"vmin") * 255.0 / ($"vmax" - $"vmin")
            + 0.5).cast("long")).as("code"))
      .select($"dim", $"code",
        when($"vmax" === $"vmin", lit(0L))
          .otherwise(floor(abs($"v" - ($"vmin" + $"code"
              * (($"vmax" - $"vmin") / 255.0)))
            / ($"vmax" - $"vmin") * 1e9 + 0.5).cast("long"))
          .as("err_ppb"))
    coded.groupBy($"dim")
      .agg(count(lit(1)).as("n_vals"),
        min($"code").as("code_min"), max($"code").as("code_max"),
        max($"err_ppb").as("max_err_ppb"),
        sum($"err_ppb").as("se"))
      .select($"dim", $"n_vals", $"code_min", $"code_max",
        $"max_err_ppb", expr("se div n_vals").as("mean_err_ppb"))
      .orderBy($"dim")
  }

  val q269Sq8QuantSql: String =
    s"""WITH vals AS (SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
       |st AS (SELECT dim, min(v) AS vmin, max(v) AS vmax
       |  FROM vals GROUP BY dim),
       |cd AS (SELECT v.dim,
       |    CASE WHEN st.vmax = st.vmin THEN 0 ELSE
       |      CAST(floor((v.v - st.vmin) * 255.0 / (st.vmax - st.vmin)
       |        + 0.5) AS BIGINT) END AS code,
       |    v.v, st.vmin, st.vmax
       |  FROM vals v JOIN st USING (dim)),
       |er AS (SELECT dim, code,
       |    CASE WHEN vmax = vmin THEN 0 ELSE
       |      CAST(floor(abs(v - (vmin + code * ((vmax - vmin) / 255.0)))
       |        / (vmax - vmin) * 1e9 + 0.5) AS BIGINT) END AS err_ppb
       |  FROM cd)
       |SELECT CAST(dim AS BIGINT) AS dim,
       |  CAST(count(*) AS BIGINT) AS n_vals,
       |  CAST(min(code) AS BIGINT) AS code_min,
       |  CAST(max(code) AS BIGINT) AS code_max,
       |  CAST(max(err_ppb) AS BIGINT) AS max_err_ppb,
       |  CAST(sum(err_ppb) AS BIGINT) // count(*) AS mean_err_ppb
       |FROM er GROUP BY 1 ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------
  // q265: BM25 hard-negative mining for contrastive training
  // ---------------------------------------------------------------

  /** Hard-negative mining for embedding-model training (the DPR
    * recipe, Karpukhin et al. EMNLP 2020, public: the best negatives
    * for contrastive training are BM25-retrieved passages that are
    * NOT semantically relevant — lexically plausible, semantically
    * wrong): for each query, every lexical-arm candidate (q180 top-10,
    * the query's own document excluded — it is the positive, not a
    * negative) is scored with its EXACT gridded cosine to the query
    * embedding and labeled: in the exact semantic top-10 (q27) → not
    * a negative; outside it → hard negative, with the cosine as the
    * hardness curriculum key. Candidates without an embedding row
    * cannot be judged — cosine and label NULL on both engines (the
    * honest unknown, never a silent 0).
    *
    * Determinism: the cosine is the q27 identical-IEEE expression
    * stableRounded to the 1e-6 grid; membership joins are exact.
    *
    * Scale: |queries|×10 candidate rows; the 3-row query-embedding
    * relation broadcasts; the candidate→embedding join is key-grain
    * (AQE picks the strategy — the corpus-grain embedding side is
    * never hand-broadcast); the q27 baseline is the one corpus-scan
    * arm. */
  def q265HardNegatives(s: SparkSession, d: String): DataFrame = {
    val nq = graft.operators.TextOps.RrfNumQueries
    val cands = graft.operators.TextOps.q180Bm25(s, d)
      .filter($"query_id" < nq && $"doc_id" =!= $"query_id")
      .select($"query_id", $"rank".as("lex_rank"), $"doc_id")
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter($"vec_id" < nq)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val semTop = q27KnnCosine(s, d)
      .filter($"query_id" < nq)
      .select($"query_id", $"neighbor_id".as("doc_id"), lit(1L).as("in_sem"))
    cands
      .join(broadcast(queries), Seq("query_id"))
      .join(emb.select($"vec_id".as("doc_id"), $"embedding".as("dvec")),
        Seq("doc_id"), "left")
      .join(semTop, Seq("query_id", "doc_id"), "left")
      .select($"query_id", $"lex_rank", $"doc_id",
        when($"dvec".isNotNull,
          stableRound(Vectors.cosine($"qvec", $"dvec"), 6)).as("cos_sem"),
        coalesce($"in_sem", lit(0L)).as("in_sem_topk"),
        when($"dvec".isNull, lit(null).cast("long"))
          .otherwise(when($"in_sem".isNull, 1L).otherwise(0L))
          .as("is_hard_negative"))
      .orderBy($"query_id", $"lex_rank")
  }

  // lazy: TextOps's own init references VectorOps (q190's mirror), so
  // an eager val here would capture TextOps.q180Bm25Sql as null when
  // TextOps is the object that loads first (circular-init order)
  lazy val q265HardNegativesSql: String = {
    val nq = graft.operators.TextOps.RrfNumQueries
    s"""WITH lexq AS (SELECT query_id, rank AS lex_rank, doc_id
       |  FROM (${graft.operators.TextOps.q180Bm25Sql})
       |  WHERE query_id < $nq AND doc_id <> query_id),
       |semt AS (SELECT query_id, neighbor_id AS doc_id
       |  FROM ($q27KnnCosineSql) WHERE query_id < $nq),
       |qv AS (SELECT vec_id AS query_id, embedding AS qvec
       |  FROM embeddings WHERE vec_id < $nq),
       |j AS (SELECT l.query_id, l.lex_rank, l.doc_id,
       |    q.qvec, e.embedding AS dvec,
       |    CASE WHEN s.doc_id IS NOT NULL THEN CAST(1 AS BIGINT)
       |      ELSE CAST(0 AS BIGINT) END AS in_sem_topk,
       |    CASE WHEN e.vec_id IS NULL THEN CAST(NULL AS BIGINT)
       |      WHEN s.doc_id IS NULL THEN CAST(1 AS BIGINT)
       |      ELSE CAST(0 AS BIGINT) END AS is_hard_negative
       |  FROM lexq l
       |  JOIN qv q USING (query_id)
       |  LEFT JOIN embeddings e ON e.vec_id = l.doc_id
       |  LEFT JOIN semt s ON s.query_id = l.query_id
       |    AND s.doc_id = l.doc_id)
       |SELECT query_id, lex_rank, doc_id,
       |  CASE WHEN dvec IS NOT NULL
       |    THEN ${sqlRound(cosSql("qvec", "dvec"), 6)} END AS cos_sem,
       |  in_sem_topk, is_hard_negative
       |FROM j ORDER BY query_id, lex_rank""".stripMargin
  }

}
