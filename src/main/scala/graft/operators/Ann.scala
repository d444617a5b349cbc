package graft.operators

import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, FloatType, StructType}
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over an embedding column — the Spark
 * replacement for the reference's FAISS flat-IP index
 * (reference: ea/sim/main/methods/index/faiss.py:10-83): a broadcast
 * brute-force exact baseline and an LSH-bucketed scale path.
 */
object Ann {

  /**
   * Exact cosine top-k: the query side is broadcast (queries are the small
   * dimension by design — reference anchors per event), the corpus streams;
   * per-query top-k via window rank. One shuffle (the rank).
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    topK(c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("item_id"))
      .withColumn("cosine", cosine_sim(col("qv"), col("cv"))), "cosine", k)
  }

  /** (query_id, item_id, `score`, rank): the per-query top-k every search
    * here ends in — [[Ranking.topKItems]]' rank, ties on item_id. */
  private def topK(scored: DataFrame, score: String, k: Int): DataFrame =
    Ranking.topKItems(scored, k, score).select("query_id", "item_id", score, "rank")

  /**
   * IVF (inverted-file) top-k — the FAISS `IndexIVFFlat` shape
   * (reference: ea/sim/main/methods/index/faiss.py:10-83) as a declarative
   * plan: the corpus is coarsely quantized into `nlist` cells around sampled
   * centroids; each query scores only its `nProbe` most-similar cells, so
   * scored-candidate volume is ~ corpus * nProbe / nlist per query instead of
   * the full corpus.
   *
   * Centroids are a deterministic hash-order sample of the corpus
   * ([[sampleCentroids]]); [[kmeansCentroids]] refines them for the
   * operators that take a centroid table. The nlist-row centroid table is
   * collected into one driver-held [[CentroidBook]], so cell assignment
   * ([[ivf_assign]]) and probe selection ([[ivf_probe]]) are NARROW per-row
   * kernels (whole-stage codegen, zero shuffle) at any nlist; the only
   * shuffles are the cell equi-join and the final rank.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 64, nProbe: Int = 8): DataFrame = {
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val (_, cents) = localizeCentroids(sampleCentroids(c, nlist))
    val cand = probeCells(q, cents, nProbe)
      .join(c.withColumn("cell", ivf_assign(cents, col("cv"))), "cell")
      .where(col("query_id") =!= col("item_id"))
    topK(cand.withColumn("cosine", cosine_sim(col("qv"), col("cv"))), "cosine", k)
  }

  /**
   * Distributed Lloyd refinement of the IVF coarse quantizer: E-step is the
   * same [[ivf_assign]] kernel the search uses; M-step recomputes each
   * cell's mean via posexplode + groupBy(cell, dim). Two shuffles per
   * iteration; centroids (k * dim floats — tiny by construction) round-trip
   * through the driver each iteration, which truncates lineage and is exactly
   * how you'd persist the quantizer artifact between corpus snapshots. The
   * returned frame is a local relation over those driver rows, so collecting
   * it runs no job.
   * Init and tie-breaks are deterministic; the M-step's floating-point avg()
   * merges partials in shuffle arrival order, so exact bit-reproducibility
   * across DIFFERENT cluster topologies is not guaranteed (last-ulp drift) —
   * persist the trained centroids when runs must agree.
   */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3): DataFrame = {
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("cv"))
    val init = localizeCentroids(sampleCentroids(c, nlist))
    (0 until iters).foldLeft(init) { case ((_, book), _) =>
      // driver round-trip: k rows, truncates the per-iteration lineage
      localizeCentroids(meanVectors(
        c.select(ivf_assign(book, col("cv")).as("cent_id"), col("cv")), Seq("cent_id"), "cv"))
    }._1
  }

  /** The Lloyd M-step both quantizers share: (keys..., centv ARRAY<FLOAT>),
    * the mean of `vec` per `keys` group — posexplode, avg per (keys, pos),
    * the means re-assembled in position order. Two shuffles. */
  private def meanVectors(df: DataFrame, keys: Seq[String], vec: String): DataFrame =
    df.select(keys.map(col) :+ posexplode(col(vec)): _*)
      .groupBy((keys :+ "pos").map(col): _*).agg(avg("col").as("m"))
      .groupBy(keys.map(col): _*)
      .agg(collect_list(struct(col("pos"), col("m"))).as("dims"))
      .select(keys.map(col) :+
        transform(array_sort(col("dims")), s => s("m").cast("float")).as("centv"): _*)

  /** A local relation over driver-held artifact rows: scans and collects of
    * it run no Spark job. */
  private def localFrame(spark: org.apache.spark.sql.SparkSession,
      rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Deterministic hash-order sample of nlist corpus vectors as initial
    * centroids: TakeOrderedAndProject (per-partition top-nlist + driver
    * merge), no full sort shuffle; content-derived order, so re-runs pick
    * identical centroids. */
  private def sampleCentroids(c: DataFrame, nlist: Int): DataFrame =
    c.orderBy(xxhash64(col("item_id")), col("item_id")).limit(nlist)
      .select(col("item_id").as("cent_id"), col("cv").as("centv"))

  /**
   * Public surface of the coarse quantizer: ONE corpus pass of
   * nearest-centroid assignment, returning (id, cell). The building block
   * for cluster-restricted operators — e.g. SemDeDup-style semantic dedup
   * ([[Dedup.semanticDedupGroups]]) buckets the corpus by cell and only
   * scores within-cell pairs — and for maintaining a persisted assignment
   * table alongside the centroid artifact between corpus snapshots. Every
   * row keeps its own cell from the search's own [[ivf_assign]] kernel, so
   * this table is exactly the one [[ivfPqResidualTopK]] would recompute.
   */
  def cellAssignments(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val (_, cents) = localizeCentroids(centroids)
    corpus.select(col(idCol).as("id"), ivf_assign(cents, col(vecCol)).as("cell"))
  }

  /** Per-query probe cells (query_id, qv, cell), exploded from one
    * [[ivf_probe]] per query row (no window, no shuffle). Its tie-break is
    * [[ivf_assign]]'s, so an item's cell is always reachable by a query with
    * the same vector. */
  private def probeCells(q: DataFrame, cents: CentroidBook, nProbe: Int): DataFrame =
    q.select(col("query_id"), col("qv"),
      explode(ivf_probe(cents, col("qv"), nProbe)).as("cell"))

  // --- product quantization (PQ / ADC) ---------------------------------

  /**
   * Train product-quantization codebooks — the FAISS `IndexPQ`/`IndexIVFPQ`
   * compression half (the reference stops at flat IP, faiss.py:10-83; PQ is
   * the standard next step at 10^9-10^12 vectors, where full float vectors
   * no longer fit executor memory or the candidate shuffle): each vector is
   * split into `m` contiguous subvector slices and every slice is quantized
   * against a per-subspace codebook of <= `k` centroids trained by a fused
   * variant of the IVF quantizer's distributed Lloyd. An item is then stored
   * as m small codes instead of dim floats — e.g. a 64-dim vector at m = 4,
   * k = 256 scores from 4 byte-sized codes, a 64x drop in scoring traffic.
   *
   * Training is a FUSED squared-L2 Lloyd: one exploded (sub, slice) frame
   * feeds all m subspaces per iteration (`iters` corpus scans total, not
   * m * iters), and the assignment measure is the same L2-via-dot identity
   * the encoder and the ADC lookup use — argmin ||x - c||^2 == argmax
   * (x.c - ||c||^2/2) — so the trained partition IS the partition items are
   * encoded into (a cosine-trained book would mis-partition slices, whose
   * norms vary even when the full vector is normalized).
   *
   * @return (sub INT, code INT, centv ARRAY<FLOAT>) — at most m*k rows, the
   *         compressed-index artifact (persist it alongside the IVF
   *         centroids), as a local relation over the driver's rows, so
   *         collecting it runs no job. Codes are DENSE 0..k'-1 per subspace
   *         (the ADC lookup layout is positional — [[collectBooks]] enforces
   *         density) and content-deterministic: books are value-sorted, so a
   *         retrained book with identical centroids yields identical codes.
   *         Subspaces whose cells die during Lloyd yield fewer than k codes.
   *         Like [[kmeansCentroids]], the M-step's avg() merges partials in
   *         shuffle arrival order — persist the trained book when runs must
   *         agree to the last ulp.
   */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int = 16, iters: Int = 2): DataFrame = {
    require(m >= 1 && k >= 2 && k <= 256 && m.toLong * k <= 1024,
      s"m($m), k($k) must stay small: k <= 256, m*k <= 1024" +
        " (every query row carries an m*k-double lookup table)")
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("cv"))
    // deterministic hash-order init sample (one TakeOrdered job, same trick
    // as sampleCentroids); also pins the vector dim every row is checked
    // against in the slices frame below
    val initRows = c.orderBy(xxhash64(col("item_id")), col("item_id")).limit(k)
      .select("cv").collect().map(_.getSeq[Float](0).toArray)
    require(initRows.nonEmpty, "pqCodebooks: empty corpus")
    val dim = initRows.head.length
    require(dim % m == 0, s"vector dim($dim) must be divisible by m($m)")
    val subDim = dim / m
    var books: Array[Array[Array[Float]]] = Array.tabulate(m) { sub =>
      initRows.map(_.slice(sub * subDim, (sub + 1) * subDim).toSeq)
        .distinct.map(_.toArray)
    }
    // one exploded (sub, slice) frame drives every iteration — slices carry
    // dim/m floats each, so the shuffle bytes match a single full-vector pass
    val slices = c.select(dimChecked(col("cv"), dim, "corpus").as("cv"))
      .select(explode(array((0 until m).map(sub =>
        struct(lit(sub).as("sub"),
          slice(col("cv"), sub * subDim + 1, subDim).as("sv"))): _*)).as("e"))
      .select(col("e.sub").as("sub"), col("e.sv").as("sv"))
    for (_ <- 0 until iters) {
      val means = meanVectors(
        slices.withColumn("code", pq_assign(new PqBook(books), col("sub"), col("sv"))),
        Seq("sub", "code"), "sv")
        .collect() // <= m*k rows — the artifact, not data
      books = Array.tabulate(m) { sub =>
        means.filter(_.getInt(0) == sub)
          .map(r => (r.getInt(1), r.getSeq[Float](2).toArray))
          .sortBy(_._1).map(_._2)
      }
    }
    import scala.math.Ordering.Implicits._
    val rows = books.zipWithIndex.flatMap { case (cents, sub) =>
      cents.sortBy(_.toIndexedSeq).zipWithIndex
        .map { case (v, code) => Row(sub, code, v.toSeq) }
    }
    localFrame(spark, rows, BookSchema)
  }

  /** [[pqCodebooks]]' artifact schema. */
  private val BookSchema = new StructType()
    .add("sub", "int", nullable = false)
    .add("code", "int", nullable = false)
    .add("centv", ArrayType(FloatType, containsNull = false))

  /** Collected codebook: books(sub)(code) = centroid floats. Bounded by
    * construction (<= 1024 rows — the index artifact, not data; a
    * [[pqCodebooks]] frame collects without a job). Rejects non-dense codes:
    * the ADC lookup layout is positional, so a pruned/relabeled book would
    * silently score against the wrong centroids. */
  private def collectBooks(codebooks: DataFrame): PqBook =
    new PqBook(codebooks.select("sub", "code", "centv").collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map { case (sub, rs) =>
        val sorted = rs.sortBy(_.getInt(1))
        require(sorted.map(_.getInt(1)).toSeq == (0 until sorted.length),
          s"codebook sub=$sub: codes must be dense 0..${sorted.length - 1} " +
            "(pqCodebooks output satisfies this)")
        sorted.map(_.getSeq[Float](2).toArray)
      })

  /** `v` checked against the codebook dim on every row: a vector of any
    * other length fails its task with "<side> vector dim n != codebook dim
    * d" — the kernels' min-length dot would otherwise truncate it silently.
    * A null vector passes through. A codegen'd expression: it runs no job. */
  private def dimChecked(v: Column, dim: Int, side: String): Column =
    when(v.isNotNull && size(v) =!= dim, raise_error(concat(lit(s"$side vector dim "),
      size(v).cast("string"), lit(s" != codebook dim $dim")))).otherwise(v)

  /** The corpus (item_id, cv) and query (query_id, qv) sides of a PQ
    * operator, each vector checked against the codebook dim. */
  private def pqSides(corpus: DataFrame, queries: DataFrame, book: PqBook,
      idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val dim = book.m * book.subDim
    (corpus.select(col(idCol).as("item_id"), dimChecked(col(vecCol), dim, "corpus").as("cv")),
      queries.select(col(idCol).as("query_id"), dimChecked(col(vecCol), dim, "query").as("qv")))
  }

  /** Sum of m LUT lookups per candidate — the codegen'd [[adc_lookup]]
    * kernel over the [[pq_lut]] table (the per-query m*k scores
    * q_sub.c - ||c||^2/2, subspace-major: descending total == ascending
    * squared L2, which on L2-normalized corpus vectors ranks identically to
    * cosine), with the per-subspace offsets baked in. Each candidate costs
    * m array lookups + adds instead of a dim-length float dot (the
    * zip_with/aggregate HOF formulation evaluates its lambdas interpreted,
    * outside whole-stage codegen — measured ~10x slower on the q50
    * cross-score). */
  private def adcScore(book: PqBook): Column =
    adc_lookup(col("codes"), col("lut"), book.offsets.toSeq)

  /**
   * ADC top-k over a PQ-compressed corpus. Pairs are generated id-only and
   * the codes/lookup tables attach via equi-joins whose BUILD sides
   * materialize the encode/LUT projections once per row ([[pqScorePairs]]).
   * The "obvious" formulation — encoded corpus crossJoin
   * broadcast(queries-with-lut) — looks equivalent but is a performance
   * trap: whole-stage codegen DEFERS the stream side's projection into the
   * nested-loop's inner loop, so the m*k-dot-product encode expression
   * re-evaluates per PAIR (measured 107 s vs 1.8 s on a 2000 x 2000 cross
   * score at m = 4, k = 16). [[ivfPqResidualTopK]] is the cell-restricted
   * IVFADC; this flat variant is the `IndexPQ` shape.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val allPairs = corpus.select(col(idCol).as("item_id"))
      .crossJoin(broadcast(queries.select(col(idCol).as("query_id"))))
      .where(col("query_id") =!= col("item_id"))
    topK(pqScorePairs(allPairs, corpus, queries, codebooks, idCol, vecCol), "adc", k)
  }

  /**
   * ADC scores for an explicit (query_id, item_id) candidate-pair set — the
   * scoring primitive a cell-restricted IVFPQ composes with: candidates come
   * from a coarse-cell equi-join, scores from the compressed codes, and only
   * the final top-k ever touches full vectors (if at all). The encoded
   * corpus and the per-query LUTs ride the joined (build/shuffled) sides, so
   * their projections evaluate once per row, never per pair.
   */
  def pqScorePairs(pairs: DataFrame, corpus: DataFrame, queries: DataFrame,
      codebooks: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val book = collectBooks(codebooks)
    val (c, q) = pqSides(corpus, queries, book, idCol, vecCol)
    pairs.select("query_id", "item_id")
      .join(c.select(col("item_id"), pq_codes(book, col("cv")).as("codes")), "item_id")
      .join(q.select(col("query_id"), pq_lut(book, col("qv")).as("lut")), "query_id")
      .withColumn("adc", adcScore(book))
      .select("query_id", "item_id", "adc")
  }

  // --- residual IVFPQ (IVFADC with residual encoding) --------------------

  /** (item_id, cell, rv = cv - centroid(cell)) for every corpus row — the
    * residual domain FAISS's `IndexIVFPQ` quantizes. One broadcast equi-join
    * on the nlist-row centroid table; the subtraction is the codegen'd
    * [[graft.functions.vec_sub]] kernel. */
  private def residualFrame(c: DataFrame, localCents: DataFrame,
      cents: CentroidBook): DataFrame =
    c.withColumn("cell", ivf_assign(cents, col("cv")))
      .join(broadcast(localCents.select(col("cent_id").as("cell"), col("centv"))),
        "cell")
      .select(col("item_id"), col("cell"),
        vec_sub(col("cv"), col("centv")).as("rv"))

  /** Collect a centroid table (nlist rows) ONCE: its PLAN may be a corpus-wide
    * [[sampleCentroids]]. Returns the rows as a local relation, which the
    * residual joins read and which re-localizes without a job, and as the
    * [[CentroidBook]] the IVF kernels read. */
  private def localizeCentroids(centroids: DataFrame): (DataFrame, CentroidBook) = {
    val proj = centroids.select("cent_id", "centv")
    val rows = proj.collect()
    (localFrame(centroids.sparkSession, rows, proj.schema),
      CentroidBook(proj.schema("cent_id").dataType, rows.toSeq))
  }

  /**
   * Train PQ codebooks on coarse-cell RESIDUALS r = x - centroid(cell(x)) —
   * FAISS `IndexIVFPQ`'s encoding domain. Residuals concentrate near the
   * origin regardless of which cell a vector lives in, so the m codebooks
   * spend their k codewords on local displacement instead of global
   * position — at equal (m, k) the quantization error drops vs flat-vector
   * PQ on clustered data. Same artifact contract as [[pqCodebooks]]
   * (value-sorted dense codes); persist it together with the centroids —
   * codes are meaningless without the exact centroid table they offset.
   */
  def pqResidualCodebooks(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, m: Int, k: Int = 16,
      iters: Int = 2): DataFrame = {
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("cv"))
    val (localCents, cents) = localizeCentroids(centroids)
    pqCodebooks(residualFrame(c, localCents, cents), "item_id", "rv", m, k, iters)
  }

  /**
   * ADC scores for explicit (query_id, item_id) pairs in the RESIDUAL
   * domain: each pair scores against the ITEM's cell — the lookup table is
   * built from q - centroid(cell) once per (query, cell) actually present,
   * codes from x - centroid(cell) once per item. The returned score is
   * -(estimated squared L2)/2 = adc_sum - ||q - centroid||^2/2: by the
   * shift identity ||q - x|| = ||(q-c) - (x-c)|| it is comparable ACROSS
   * cells, which the raw adc sum alone is not (its implicit ||q-c||^2 bias
   * differs per cell — subtracting it is what makes cross-cell top-k
   * well-defined).
   */
  def pqResidualScorePairs(pairs: DataFrame, corpus: DataFrame,
      queries: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val book = collectBooks(codebooks)
    // checked before residualFrame's vec_sub, which truncates to the shorter input
    val (c, q) = pqSides(corpus, queries, book, idCol, vecCol)
    val (localCents, cents) = localizeCentroids(centroids)
    val codes = residualFrame(c, localCents, cents)
      .select(col("item_id"), col("cell"), pq_codes(book, col("rv")).as("codes"))
    val withCells = pairs.select("query_id", "item_id").join(codes, "item_id")
    residualAdc(withCells,
      withCells.select("query_id", "cell").distinct().join(q, "query_id"),
      localCents, book)
      .select("query_id", "item_id", "adc")
  }

  /** `cand` (query_id, cell, codes, ...) scored against the per-(query, cell)
    * residual LUT built from `qCells` (query_id, cell, qv), minus the
    * ||q - c||^2/2 bias that makes the score comparable across cells (the
    * shift identity, see [[pqResidualScorePairs]]). */
  private def residualAdc(cand: DataFrame, qCells: DataFrame,
      localCents: DataFrame, book: PqBook): DataFrame = {
    val luts = qCells
      .join(broadcast(localCents.select(col("cent_id").as("cell"), col("centv"))),
        "cell")
      .select(col("query_id"), col("cell"),
        vec_sub(col("qv"), col("centv")).as("qv"))
      .select(col("query_id"), col("cell"),
        pq_lut(book, col("qv")).as("lut"),
        (dot_product(col("qv"), col("qv")) / 2).as("qn"))
    cand.join(luts, Seq("query_id", "cell"))
      .withColumn("adc", adcScore(book) - col("qn"))
  }

  /**
   * Residual IVFADC top-k — the FAISS `IndexIVFPQ` default. The corpus is
   * touched exactly ONCE per search: the same nearest-centroid pass yields
   * the cell (the candidate join key) AND the residual codes, and the
   * candidate join ships the m small codes directly — scoring cell-restricted
   * candidate pairs with [[pqResidualScorePairs]] would run the nlist-way
   * assignment scan over the full corpus twice. Scores match that
   * composition exactly (same pairs, same per-(query, cell) LUT, same
   * cross-cell bias subtraction). Sandbox note: this still derives
   * (item_id, cell, codes) inside the plan; a production run persists that
   * table once and joins it instead.
   */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val book = collectBooks(codebooks)
    // checked before residualFrame's vec_sub, which truncates to the shorter input
    val (c, q) = pqSides(corpus, queries, book, idCol, vecCol)
    val (localCents, cents) = localizeCentroids(centroids)
    // the single corpus pass: cell assignment + residual encode, fused
    val codes = residualFrame(c, localCents, cents)
      .select(col("item_id"), col("cell"), pq_codes(book, col("rv")).as("codes"))
    val probes = probeCells(q, cents, nProbe)
    val cand = probes.select("query_id", "cell").join(codes, "cell")
      .where(col("query_id") =!= col("item_id"))
    // LUTs per (query, probed cell)
    topK(residualAdc(cand, probes, localCents, book), "adc", k)
  }

  /**
   * LSH-bucketed top-k: multi-table sign-random-projection buckets restrict
   * the scored candidates to colliding (query, item) pairs — candidate count
   * scales with bucket occupancy, not corpus size. Recall is tunable via
   * (srpBits down, tables up).
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      srpBits: Int = 10, tables: Int = 8, seed: Long = 42L): DataFrame = {
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // bucket rows carry ONLY (id, key): the multi-table explode and the
    // distinct over colliding pairs shuffle ids, never the vectors; key
    // scheme shared with the embedding near-dup path via CandidateGen
    def buckets(df: DataFrame, idc: String, vc: String): DataFrame =
      CandidateGen.srpBuckets(df, idc, vc, srpBits, tables, seed)
        .withColumnRenamed("id", idc)
    val candIds = buckets(c, "item_id", "cv").join(buckets(q, "query_id", "qv"), "key")
      .where(col("query_id") =!= col("item_id"))
      .select("query_id", "item_id")
      .distinct() // a pair may collide in several tables
    // vectors join back exactly once per distinct candidate pair
    val cand = candIds.join(q, "query_id").join(c, "item_id")
    topK(cand.withColumn("cosine", cosine_sim(col("qv"), col("cv"))), "cosine", k)
  }
}
