package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Stage

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the query vector and
  * one `TakeOrderedAndProject` pass over the corpus (no shuffle of the
  * corpus at all). Scale path: random-hyperplane LSH buckets the corpus once
  * (a narrow column of (bucket, id)), so a query probes only its own and
  * adjacent buckets — candidates shrink by ~2^planes while the final exact
  * re-rank stays tiny.
  */
object Similarity {

  /** Fused dot product — the native codegen expression
    * [[graft.functions.DotProduct]]: a primitive loop over the two
    * ArrayDatas, zero allocation, fused into whole-stage codegen.
    * Deterministic left-to-right double fold, bit-compatible with DuckDB
    * `list_dot_product(a::DOUBLE[], b::DOUBLE[])`. Replaced both a boxing
    * Scala UDF (Seq[Float] conversion per call) and `zip_with`+`aggregate`
    * chains (two interpreted lambdas per element). */
  private def dotU(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  /** sqrt(v·v) — precompute ONCE per vector before any pairwise op. */
  def norm(v: Column): Column = sqrt(dotU(v, v))

  /** Cosine similarity of two `array<float>` columns — the FUSED native
    * expression [[graft.functions.CosineSim]]: one primitive loop
    * accumulating a·b, a·a, b·b together, bit-identical to
    * `dot/(norm·norm)` by construction (same per-accumulator fold order,
    * same final combine), so every DuckDB oracle keeps its decomposed
    * `list_dot_product` form. */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim.cos(a, b)

  /** Fused cosine rounded for hash-stable ordering/output — the exact
    * re-rank expression every ANN probe shares.
    *
    * Degenerate rows sort LAST, not first (ADVICE r11): a zero-norm or
    * empty embedding makes the fused [[cosine]] yield IEEE NaN, and Spark
    * orders NaN ABOVE every double — so a corrupt all-zero row would
    * silently head EVERY descending re-rank in the ANN family. The shared
    * `nanvl(·, null)` guard maps NaN → null instead; both `orderBy(desc)`
    * and the bounded-heap [[graft.plans.GroupedTopK]] comparator default
    * descending nulls LAST, so degenerate rows rank behind every real
    * score (SimilaritySpec pins this). Oracles are unaffected: the
    * fixtures contain no zero-norm embeddings, and a NaN-free input takes
    * the guard's identity path bit-for-bit. */
  def cosRound(a: Column, b: Column, scale: Int): Column =
    nanvl(round(cosine(a, b), scale), lit(null).cast("double"))

  /** Brute-force cosine top-k neighbours of `queryId`. Ordering and
    * selection use the rounded score (+ id tie-break) so the output is
    * totally ordered and hash-stable. */
  def bruteForceTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = emb.where(col("vec_id") === queryId)
      .select(col("embedding").as("qv"))
    emb.join(broadcast(q))
      .where(col("vec_id") =!= queryId)
      .select(col("vec_id"),
        cosRound(col("embedding"), col("qv"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Batched exact cosine top-k: every query answered from the SAME single
    * corpus pass (the tiny query frame broadcasts against the scan), with
    * the per-query cut done by the bounded-heap
    * [[graft.plans.GroupedTopK]] (O(n log k) per partition, k·|queries|
    * shuffle). This is the exact-truth side for recall/eval harnesses
    * ([[RetrievalEval]], GraphAnnRecallSpec) — deliberately linear in the
    * corpus, amortized across the whole query panel. */
  def bruteForceTopKBatch(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("query_id"), col("embedding").as("qv"))
    val scored = emb.join(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosRound(col("embedding"), col("qv"), 4).as("cos"))
    graft.plans.GroupedTopK.topK(scored, Seq("query_id"),
      Seq("cos" -> true, "vec_id" -> false), k)
  }

  /** Deterministic pseudo-random unit-ish hyperplanes (fixed seed). The
    * constants are seed-reproducible, so the DuckDB oracles embed them as
    * literal `DOUBLE[]` VALUES ([[planesSqlValues]]) and replay the exact
    * bucketing — LSH queries get hash-match verification, not rows-only. */
  private[graft] def planes(nPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Corpus-scaled band width for the all-pairs banded LSH self-join: the
    * smallest `b` with `targetBucket · 2^b ≥ n`, floored at `floor`.
    *
    * WHY (round-11 scale probe): with a FIXED `b`, per-bucket occupancy
    * grows linearly with the corpus and the candidate self-join is
    * quadratic PER BUCKET — a 10× corpus ran the near-dup pair query 39×
    * slower (2^6 buckets × 312 members each vs 31). Text MinHash banding
    * does not have this problem because its band keys are unbounded content
    * hashes; sign-bit keys live in a fixed 2^b space, so `b` must grow
    * with log(n) to hold expected occupancy at `targetBucket`. Derived
    * with pure integer arithmetic so the DuckDB oracle replays the
    * identical `b` (the semantic-dedup sub-block precedent).
    *
    * Recall trade, explicit: per-table true-pair collision is `p^b`
    * (p = 1 − θ/π), so growing `b` at FIXED table count L lowers recall
    * `1 − (1 − p^b)^L`; the production knob is raising L alongside b
    * (L ∝ p^−b restores recall at ~linear extra index cost). The floor
    * keeps every committed fixture scale at the historical b = 6. */
  def scaledBandBits(n: Long, targetBucket: Long = 32L, floor: Int = 6): Int =
    math.max(floor, (0 to 32).find(i => (targetBucket << i) >= n).getOrElse(32))

  /** `(VALUES (0, [..]::DOUBLE[]), ...) planes(j, p)` — the identical plane
    * constants for a DuckDB oracle. Scala's `Double.toString` is
    * round-trip-exact, so both engines see bit-identical planes. */
  def planesSqlValues(nPlanes: Int, dim: Int, seed: Long): String =
    planes(nPlanes, dim, seed).zipWithIndex.map { case (p, j) =>
      p.mkString(s"($j, [", ", ", "]::DOUBLE[])")
    }.mkString("(VALUES ", ", ", ") planes(j, p)")

  /** Sign-bit bucket from an explicit plane subset: bit j set iff v·pⱼ > 0.
    * Each dot is the native [[graft.functions.DotProduct]] loop — a
    * sequential left-to-right fold matching DuckDB `list_dot_product` term
    * order — so bucketing a vector against b·L planes stays inside one
    * codegen stage with no per-plane array allocation. */
  private[ops] def bucketFromPlanes(vd: Column, ps: Seq[Array[Double]]): Column =
    ps.zipWithIndex.map { case (p, j) =>
      when(dotU(vd, typedlit(p.toSeq)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Sign-bit LSH bucket id for an embedding column. */
  def lshBucket(v: Column, nPlanes: Int, dim: Int, seed: Long = 42L): Column =
    bucketFromPlanes(v, planes(nPlanes, dim, seed))

  /** ANN top-k via banded hyperplane LSH: `lTables` independent tables of
    * `bBits` sign bits; a vector is a candidate iff it shares at least one
    * table bucket with the query, then candidates are exact-re-ranked.
    *
    * Scale shape: the corpus-side bucketing is a narrow (vec_id, table, key)
    * projection that at scale is precomputed and bucket-partitioned on
    * write; the query probes `lTables` buckets via a broadcast of its own
    * keys — no corpus shuffle, no full scan. Recall for a neighbour at
    * angle θ (p = 1 − θ/π) is 1 − (1 − p^bBits)^lTables — (bBits, lTables)
    * trade candidate volume against recall, and bBits is the knob that
    * grows with corpus size (derive it with [[scaledBandBits]] to hold
    * per-bucket occupancy — hence per-probe candidate volume — constant
    * as the corpus grows, raising lTables alongside when the recall
    * target must hold; the registered near-dup self-join does exactly
    * this). The fixture corpus is near-uniform (true
    * top-10 sit at cos ≈ 0.3, p ≈ 0.6), the adversarial case for sign-LSH,
    * so defaults favour recall; on a real near-dup corpus (cos ≥ 0.8) the
    * identical machinery prunes ~40× harder. */
  def lshTopK(emb: DataFrame, queryId: Long, k: Int, bBits: Int = 4,
              lTables: Int = 16, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val ps = planes(bBits * lTables, dim, seed)
    val vd = col("embedding") // raw floats: DotProduct widens each element exactly
    val tables = (0 until lTables).map { t =>
      struct(lit(t).as("t"),
        bucketFromPlanes(vd, ps.slice(t * bBits, (t + 1) * bBits)).as("key"))
    }
    val bk = emb.select(col("vec_id"), explode(array(tables: _*)).as("b"))
      .select(col("vec_id"), col("b.t").as("t"), col("b.key").as("key"))
    val qKeys = bk.where(col("vec_id") === queryId).select(col("t"), col("key"))
    val candIds = bk.join(broadcast(qKeys), Seq("t", "key"), "left_semi")
      .where(col("vec_id") =!= queryId)
      .select(col("vec_id")).distinct()
    val q = emb.where(col("vec_id") === queryId)
      .select(col("embedding").as("qv"))
    emb.join(candIds, Seq("vec_id"), "left_semi")
      .join(broadcast(q))
      .select(col("vec_id"),
        cosRound(col("embedding"), col("qv"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Seeded Lloyd's k-means — the offline trainer for [[ivfTopK]]'s coarse
    * quantizer. Spherical variant: assignment by max cosine (matching the
    * probe-side cell assignment exactly), update by per-dimension mean.
    *
    * Scale shape — the model is small, the data is big, so the model lives
    * on the driver (the classic distributed k-means split, same as Spark
    * MLlib's `KMeans`):
    *  - init: the `k` seed vectors are chosen by `xxhash64(vec_id, seed)`
    *    order — a deterministic pseudo-random sample with no RNG state, so
    *    retraining on the same data reproduces the same model;
    *  - assignment is a pure narrow map: the k centroids are embedded as
    *    literals, so each vector evaluates k codegen'd [[DotProduct]] loops
    *    and an `array_max` argmax — NO join, NO shuffle;
    *  - update: per-dimension `avg(embedding[i])` aggregates DIRECTLY on
    *    the assigned cell ([[lloydMeansFrame]] — the [[kmeansStep]] shape:
    *    partial aggregation collapses each partition to ≤ k rows map-side,
    *    so the one exchange carries k·(dim+1) partial sums per partition,
    *    independent of corpus size). Deliberately NOT `posexplode` +
    *    (cell, dim) aggregation: ColumnPruning hoists the assignment
    *    expression ABOVE the Generate and re-evaluates the k dot products
    *    once per exploded ELEMENT — measured 2× slower at sf0.1 (the
    *    round-6 `kmeansStep` finding; the trainers carried the same trap
    *    for one more round — fixed round 7, plan-asserted in
    *    PlanAuditSpec);
    *  - per-iteration the k·dim doubles are collected to the driver (the
    *    only collect — the model, not the data) and re-embedded as literals
    *    for the next round. Empty cells keep their previous centroid.
    * Training cost is `iters` scans; in production this runs as an offline
    * job on a corpus sample (see tools.TrainIvfCentroids, whose output is
    * the committed `fixtures/ivf_centroids.parquet`).
    *
    * Returns (cell: int, centroid: array<double>), `cell` = 0..k-1. */
  def kMeansCentroids(emb: DataFrame, k: Int = 16, iters: Int = 10,
                      seed: Long = 42L): DataFrame = {
    val spark = emb.sparkSession
    val e = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm")).persist()
    try {
      var cent: Array[Array[Double]] = e
        .orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id")).limit(k)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      require(cent.length == k, s"corpus has fewer than k=$k vectors")
      // dimensionality comes from the data (the seed vectors are already on
      // the driver) — fixed-dim corpus contract, same as every ANN path
      val dim = cent.head.length
      for (_ <- 0 until iters) {
        val means = lloydMeans(e.select(
          assignCell(col("embedding"), col("nrm"), cent).as("cell"),
          col("embedding")), "embedding", dim)
        cent = cent.indices.map(j => means.getOrElse(j, cent(j))).toArray
      }
      import spark.implicits._
      cent.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
    } finally e.unpersist()
  }

  /** One Lloyd update over an assignment frame (cell, vector): per-dimension
    * means aggregated directly on the cell — the [[kmeansStep]] physical
    * shape shared by both offline trainers, exposed for the plan audit
    * (PlanAuditSpec asserts NO Generate anywhere in it: the posexplode
    * variant pays the ColumnPruning assignment-hoist 2× tax).
    *
    * Determinism note: the per-partition partial (sum, count) for dimension
    * i folds the same values in the same row order as the old exploded
    * shape did for group (cell, pos=i), and partials merge in the same
    * map-output order — so the re-shape reproduces the committed fixture
    * models bit-for-bit (verified on retrain against both committed
    * parquets). */
  private[graft] def lloydMeansFrame(assigned: DataFrame, vecCol: String,
                                     dim: Int): DataFrame = {
    val avgs = (0 until dim).map(i => avg(col(vecCol).getItem(i)).as(s"d$i"))
    assigned.groupBy(col("cell")).agg(avgs.head, avgs.tail: _*)
  }

  private def lloydMeans(assigned: DataFrame, vecCol: String,
                         dim: Int): Map[Int, Array[Double]] =
    lloydMeansFrame(assigned, vecCol, dim).collect()
      .map(r => r.getAs[Number]("cell").intValue() ->
        Array.tabulate(dim)(i => r.getDouble(i + 1))).toMap

  // ---- product quantization (PQ) -------------------------------------------

  /** PQ codebooks: the embedding space splits into `nSub` contiguous
    * subspaces of dim/nSub dimensions, and each subspace gets its own
    * seeded Lloyd's k-means codebook of `k` codes (L2 objective — the
    * standard PQ formulation). Output (m, code, centroid: array<double>),
    * trained OFFLINE and committed (tools.TrainPqCodebooks →
    * `fixtures/pq_codebooks.parquet`) for the same bit-stability reason as
    * the IVF model ([[kMeansCentroids]] scaladoc).
    *
    * Compression story at scale: a dim-64 float vector (256 B) becomes
    * nSub=8 4-bit-addressable codes (8 B) — 32× — and the asymmetric
    * distance computation ([[pqTopK]]) scores candidates from a 128-entry
    * lookup table without touching raw vectors. */
  def pqCodebooks(emb: DataFrame, nSub: Int = 8, k: Int = 16, dim: Int = 64,
                  iters: Int = 10, seed: Long = 42L): DataFrame = {
    val spark = emb.sparkSession
    val subDim = dim / nSub
    require(subDim * nSub == dim, s"dim $dim must split evenly into $nSub subspaces")
    val rows = (0 until nSub).flatMap { m =>
      val sub = emb.select(col("vec_id"),
        slice(col("embedding"), m * subDim + 1, subDim).as("sv")).persist()
      try {
        var cent: Array[Array[Double]] = sub
          .orderBy(xxhash64(col("vec_id"), lit(seed + m)), col("vec_id")).limit(k)
          .select(col("sv")).collect()
          .map(_.getSeq[Float](0).toArray.map(_.toDouble))
        require(cent.length == k, s"corpus has fewer than k=$k vectors")
        for (_ <- 0 until iters) {
          // same [[lloydMeansFrame]] shape as the IVF trainer: per-dim avg
          // on the assigned code, no Generate (assignment-hoist trap)
          val means = lloydMeans(sub.select(
            pqCodeExpr(col("sv"), cent).as("cell"), col("sv")), "sv", subDim)
          cent = cent.indices.map(j => means.getOrElse(j, cent(j))).toArray
        }
        cent.zipWithIndex.map { case (c, j) => (m, j, c.toSeq) }
      } finally sub.unpersist()
    }
    import spark.implicits._
    rows.toDF("m", "code", "centroid")
  }

  /** Argmin-L2 code for one subvector over driver-held subcentroids as ONE
    * codegen'd expression. argmin |v−c|² == argmax (2·v·c − c²) (v² is
    * constant per row); ties break to the smallest code via the (score,
    * −code) struct max — the identical convention as [[assignCell]] and the
    * oracle's `ORDER BY score DESC, code ASC`. c² is a driver-side
    * left-to-right fold — the same IEEE order as DuckDB's
    * `list_dot_product(centroid, centroid)`. */
  private[graft] def pqCodeExpr(sv: Column, cent: Array[Array[Double]]): Column = {
    val scored = cent.zipWithIndex.map { case (c, j) =>
      val c2 = c.foldLeft(0.0)((s, x) => s + x * x)
      struct((lit(2.0) * dotU(sv, typedlit(c.toSeq)) - lit(c2)).as("s"),
        lit(-j).as("nc"))
    }
    (-array_max(array(scored.toIndexedSeq: _*)).getField("nc")).cast("int")
  }

  /** PQ asymmetric-distance top-k: every corpus vector is scored from its
    * per-subspace codes against the QUERY's 128-entry dot-product table —
    * est(v) = Σₘ q_m · c_{m,code_m(v)} ≈ q·v — entirely as codegen'd
    * expressions (no raw-vector pairwise math), then the best `rerank`
    * candidates get an exact cosine re-rank. The estimate's additions run
    * in ascending-m order (left-associated), matching the oracle's
    * `sum(t ORDER BY m)` ordered aggregate bit-for-bit, so the candidate
    * cut is deterministic across engines. */
  /** Collect a (m, code, centroid) codebook frame to the driver as
    * m → code-ordered centroid arrays — the ONE implementation shared by
    * [[pqTopK]] and the indexed path ([[Indexes.ensurePqIndex]] /
    * [[Indexes.pqTopKIndexed]]). */
  private[graft] def collectCodebooks(codebooks: DataFrame): Map[Int, Array[Array[Double]]] =
    codebooks
      .select(col("m").cast("int"), col("code").cast("int"), col("centroid"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (m, rs) =>
        m -> rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }

  def pqTopK(emb: DataFrame, codebooks: DataFrame, queryId: Long, k: Int,
             rerank: Int = 50, nSub: Int = 8, dim: Int = 64): DataFrame = {
    val subDim = dim / nSub
    val cbs = collectCodebooks(codebooks)
    val q = emb.where(col("vec_id") === queryId)
      .select(col("embedding").as("qv"))
    // per-subspace estimate: element_at over the 16 query-side dot exprs,
    // indexed by this vector's code for subspace m
    val est = (0 until nSub).map { m =>
      val sv = slice(col("embedding"), m * subDim + 1, subDim)
      val qsv = slice(col("qv"), m * subDim + 1, subDim)
      val table = array(cbs(m).toIndexedSeq.map(c => dotU(qsv, typedlit(c.toSeq))): _*)
      element_at(table, pqCodeExpr(sv, cbs(m)) + 1)
    }.reduceLeft(_ + _)
    val cand = emb.where(col("vec_id") =!= queryId)
      .join(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("qv"), est.as("est"))
      .orderBy(col("est").desc, col("vec_id").asc)
      .limit(rerank)
    cand.select(col("vec_id"),
        cosRound(col("embedding"), col("qv"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Argmax cell over driver-held centroids as ONE codegen'd expression:
    * k fused dot products + `array_max` over (ccos, -cell) structs — ties
    * break to the smallest cell, identical to [[ivfTopK]]'s `max_by` and
    * the oracle's `row_number() ... ORDER BY ccos DESC, cell ASC`. */
  private[graft] def assignCell(v: Column, nrm: Column, cent: Array[Array[Double]]): Column = {
    val scored = cent.zipWithIndex.map { case (c, j) =>
      val cn = math.sqrt(c.foldLeft(0.0)((s, x) => s + x * x))
      struct((dotU(v, typedlit(c.toSeq)) / (nrm * lit(cn))).as("ccos"),
        lit(-j).as("nc"))
    }
    (-array_max(array(scored.toIndexedSeq: _*)).getField("nc")).cast("int")
  }

  /** FULL Lloyd training loop — `iters` distributed assign+mean rounds
    * from an explicit initial centroid table, auditing the whole
    * trajectory: one output row per (iter, cell, dim) with the cell's
    * member count and the post-iteration centroid component.
    *
    * Determinism contract (what makes a multi-round float loop
    * oracle-verifiable at all): each round's means are quantized to 6
    * decimals BEFORE becoming the next round's centroids, so the values
    * the next assignment sees are engine-identical — without the
    * quantization, a last-ulp difference in Spark's merge-order-dependent
    * `avg` would flip a boundary assignment in round 2 and diverge the
    * engines arbitrarily. Assignment is cosine-argmax with the fixed
    * smallest-cell tie-break ([[assignCell]]); an EMPTIED cell carries
    * its previous centroid forward (n_members 0) — the standard Lloyd
    * convention, mirrored exactly by the oracle's unrolled iterations.
    *
    * Scale shape: per round, ONE distributed job — the k·dim plane
    * literals ride the task closure, the aggregate is map-side combined
    * (k·dim running sums per task), and only the k×(dim+2) model rows
    * come back to the driver (the bounded-model-collect contract every
    * trainer here follows). Rounds are inherently sequential (Lloyd);
    * driver state between rounds is the k×dim centroid array. */
  def kmeansTrain(emb: DataFrame, centroids: DataFrame, iters: Int,
                  dim: Int = 64): DataFrame = {
    require(iters >= 1 && iters <= 16, s"1 <= iters <= 16, got $iters")
    val spark = emb.sparkSession
    val byCell = centroids.select(col("cell").cast("int"), col("centroid"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    require(byCell.nonEmpty && (0 until byCell.size).forall(byCell.contains),
      s"centroid cells must be contiguous 0..k-1, got ${byCell.keys.toSeq.sorted}")
    var cents = Array.tabulate(byCell.size)(byCell)
    val k = cents.length
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Int, Double)]
    val base = emb.select(col("embedding"), norm(col("embedding")).as("nrm"))
    val avgs = (0 until dim).map(i =>
      round(avg(col("embedding").getItem(i)), 6).as(s"d$i"))
    for (it <- 1 to iters) {
      val rows = base
        .select(assignCell(col("embedding"), col("nrm"), cents).as("cell"),
          col("embedding"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"), avgs: _*)
        .collect()
      val got = rows.map(r => r.getInt(0) ->
        (r.getLong(1), Array.tabulate(dim)(i => r.getDouble(2 + i)))).toMap
      cents = Array.tabulate(k)(c => got.get(c).map(_._2).getOrElse(cents(c)))
      for (c <- 0 until k; i <- 0 until dim)
        out += ((it, c, got.get(c).map(_._1).getOrElse(0L), i, cents(c)(i)))
    }
    import spark.implicits._
    out.toSeq.toDF("iter", "cell", "n_members", "dim", "val")
  }

  /** First-n untrained quantizer — the bootstrap [[ivfTopK]] ran on before
    * training existed; kept as the comparison baseline for k-means recall
    * (SimilaritySpec) and as a zero-cost init when no trained model is at
    * hand. `centroid` stays `array<float>` — [[graft.functions.DotProduct]]
    * widens each element exactly, so float/double centroids mix freely. */
  def firstNCentroids(emb: DataFrame, n: Int): DataFrame =
    emb.where(col("vec_id") < n)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))

  /** IVF-style ANN top-k: a coarse quantizer partitions the corpus into
    * inverted lists (one per `centroids` row); a query probes only the
    * `nProbe` cells whose centroids are nearest, then exact-re-ranks their
    * members.
    *
    * The centroids come from an offline [[kMeansCentroids]] training job
    * (the registered query reads the committed, seed-reproducible
    * `fixtures/ivf_centroids.parquet`), so the DuckDB oracle replays cell
    * assignment exactly from the same parquet. Scale shape:
    *  - assignment is one broadcast of the tiny centroid table against the
    *    corpus, reduced map-side via `max_by` partial aggregation — the only
    *    shuffle carries (vec_id, cell), two longs per vector, and at scale
    *    the inverted lists are precomputed and written bucketed by cell;
    *  - a query touches ~`nProbe/nCells` of the corpus instead of all of it,
    *    and the exact re-rank touches only those members.
    * Unlike sign-LSH (whose recall collapses on near-uniform corpora), IVF
    * recall depends on how well cells approximate the data's clustering —
    * the two are complementary, which is why both are first-class here. */
  def ivfTopK(emb: DataFrame, centroids: DataFrame, queryId: Long, k: Int,
              nProbe: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val cent = centroids.select(col("cell"), col("centroid").as("cv"),
      norm(col("centroid")).as("cn"))
    val scored = e.join(broadcast(cent))
      .select(col("vec_id"), col("cell"),
        (dotU(col("embedding"), col("cv")) / (col("nrm") * col("cn"))).as("ccos"))
    // argmax per vector WITHOUT a window (no full sort): max_by over the
    // (ccos, -cell) struct — partial-aggregated map-side, ties to min cell.
    val cells = scored.groupBy(col("vec_id"))
      .agg(max_by(col("cell"), struct(col("ccos"), -col("cell"))).as("cell"))
    val probes = scored.where(col("vec_id") === queryId)
      .orderBy(col("ccos").desc, col("cell").asc).limit(nProbe)
      .select(col("cell"))
    val candIds = cells.join(broadcast(probes), Seq("cell"), "left_semi")
      .where(col("vec_id") =!= queryId)
      .select(col("vec_id"))
    val q = e.where(col("vec_id") === queryId)
      .select(col("embedding").as("qv"))
    e.join(candIds, Seq("vec_id"), "left_semi")
      .join(broadcast(q))
      .select(col("vec_id"),
        cosRound(col("embedding"), col("qv"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Embedding-space near-duplicate pairs above a cosine threshold —
    * exact all-pairs BASELINE. Quadratic by construction; kept only as the
    * verification yardstick for [[bandedNearDupPairs]] in SimilaritySpec.
    * Never register this at scale. */
  def embeddingNearDupPairs(emb: DataFrame, threshold: Double, maxId: Long): DataFrame = {
    val e = emb.where(col("vec_id") < maxId)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosRound(col("emb_a"), col("emb_b"), 6).as("cos"))
      .where(col("cos") > threshold)
  }

  /** Production embedding near-dup pairs: banded hyperplane LSH (OR of
    * `lTables` independent tables of `bBits` sign bits) + exact cosine
    * re-rank of candidates only — the structural twin of
    * [[Dedup.nearDupPairs]]'s MinHash banding.
    *
    * Scale shape: the bucketing pass is one narrow projection
    * (vec_id, table, key) — `lTables` rows per vector; the candidate join is
    * an equi-join on (table, key) that hash-partitions by bucket, so vectors
    * in different buckets NEVER meet (vs the O(n²) theta join this replaces).
    * Exact cosines touch only candidates. Recall for a pair at angle θ with
    * p = 1 − θ/π is 1 − (1 − p^bBits)^lTables: with b=6, L=8 that is ≈0.90
    * at cos 0.8 and ≈0.98 at cos 0.9 — real near-dup territory — while
    * random pairs (p≈0.5) collide with prob 1−(1−2⁻⁶)⁸ ≈ 0.12, an ~8×
    * candidate cut. bBits is the knob that grows with corpus size
    * (b ≈ log₂(n / bucket-target)); the fixture corpus is near-uniform
    * (its 0.4-threshold pairs sit at cos 0.40–0.51), the adversarial case
    * where any sign-LSH recalls less — the oracle replays the identical
    * bucketing, so verification is exact either way. */
  def bandedNearDupPairs(emb: DataFrame, threshold: Double, bBits: Int = 6,
                         lTables: Int = 8, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val ps = planes(bBits * lTables, dim, seed)
    val e = emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val vd = col("embedding") // raw floats: DotProduct widens each element exactly
    val tables = (0 until lTables).map { t =>
      struct(lit(t).as("t"),
        bucketFromPlanes(vd, ps.slice(t * bBits, (t + 1) * bBits)).as("key"))
    }
    val bk = emb.select(col("vec_id"), explode(array(tables: _*)).as("b"))
      .select(col("vec_id"), col("b.t").as("t"), col("b.key").as("key"))
      .persist() // computed once; both sides of the self-join reuse it
    // The bucket frame is persisted for this call only: cut, then release
    // (graft.engine.Stage).
    val pairs = bk.select(col("t"), col("key"), col("vec_id").as("vec_a"))
      .join(bk.select(col("t"), col("key"), col("vec_id").as("vec_b")), Seq("t", "key"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosRound(col("emb_a"), col("emb_b"), 6).as("cos"))
      .where(col("cos") > threshold)
    Stage.cut(pairs, release = bk.unpersist())
  }

  /** One distributed Lloyd (k-means) refinement step over the embeddings —
    * the incremental-retraining primitive of the IVF model. Differs from
    * [[kMeansCentroids]] (the from-scratch OFFLINE trainer) on purpose:
    * that loop embeds the evolving model as literals and iterates on the
    * driver; this step takes the model as a committed centroid FRAME (the
    * serving-path representation `ensureIvfIndex`/`ivfTopK` consume), so a
    * pipeline can refresh a deployed model against a drifted corpus without
    * retraining from scratch — and because one step is a plain
    * assign-then-aggregate rather than driver-iterated, it is
    * DuckDB-oracle-verified end to end (q_kmeans_step), which the
    * iterative trainer cannot be.
    *
    * Execution shape: the tiny model is collected once and embedded as
    * literals, so assignment is k codegen'd [[assignCell]] dot products
    * per row — NO join, NO row fan-out, NO corpus shuffle — with the
    * IDENTICAL argmax tie-break the index build and the oracle use (ties
    * to the smallest cell). The means aggregate directly on the assigned
    * cell with one `avg` per dimension, so the partial aggregate collapses
    * to ≤ k rows per partition map-side and the ONLY exchange carries
    * k·(dim+1) partial sums per partition — independent of corpus size.
    * (Deliberately NOT `posexplode` + (cell, dim) aggregation: ColumnPruning
    * hoists the assignment expression ABOVE a Generate, re-evaluating the
    * k dot products once per exploded ELEMENT — measured 2× slower at
    * sf0.1, the [[graft.engine.Sessions]] InferFiltersFromGenerate trap's
    * sibling. The per-dim fan-out here touches only the k aggregated
    * rows.)
    *
    * Output is LONG form, one row per (cell, dim) — (cell, n_members, dim,
    * val) with `val` the mean rounded to 6 — so the DuckDB oracle compares
    * scalars, never array encodings. Means over raw doubles inherit the
    * documented partial-aggregation round-half risk (CoreQueries note);
    * never observed at round(6). */
  def kmeansStep(emb: DataFrame, centroids: DataFrame, dim: Int = 64): DataFrame = {
    val byCell = centroids.select(col("cell").cast("int"), col("centroid"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    require(byCell.nonEmpty && (0 until byCell.size).forall(byCell.contains),
      s"centroid cells must be contiguous 0..k-1, got ${byCell.keys.toSeq.sorted}")
    val cents = Array.tabulate(byCell.size)(byCell)
    val avgs = (0 until dim).map(i => avg(col("embedding").getItem(i)).as(s"d$i"))
    emb.select(col("embedding"), norm(col("embedding")).as("nrm"))
      .select(assignCell(col("embedding"), col("nrm"), cents).as("cell"),
        col("embedding"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), avgs: _*)
      .select(col("cell"), col("n_members"),
        posexplode(array((0 until dim).map(i => round(col(s"d$i"), 6)): _*))
          .as(Seq("dim", "val")))
  }
}
