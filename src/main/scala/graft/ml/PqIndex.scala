package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Pin

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search"): split each d-dim vector into `m`
  * subvectors, train an independent k-centroid quantizer per
  * subspace, and encode every vector as m small codes. Asymmetric
  * distance (ADC) then scores a query against a CODE, not a vector:
  * dist²(q, x) ≈ Σ_m ‖q_m − c_{m,code_m(x)}‖² — at serving time a
  * per-query m×k lookup table makes each candidate cost m table
  * reads instead of d multiplies, and the corpus itself is stored in
  * m bytes per vector instead of 4d. This is the memory-side
  * complement of [[IvfIndex]] (IVF prunes WHICH vectors to score;
  * PQ compresses HOW each one is scored) — composed, they are the
  * standard IVF-PQ layout for billion-vector serving.
  *
  * Determinism contract (the IvfIndex conventions, L2 edition):
  * subspace assignment compares ROUND(‖·‖²·1e6) BIGINT distances
  * with cid tie-break (a min_by aggregate here ≡ the oracle's
  * ROW_NUMBER ASC); recentering is the exact integer 2^24-scale mean;
  * every trained centroid table is 8×16 rows and pinned driver-local
  * between iterations (the k-means shape: centroids on the driver,
  * vectors distributed).
  */
object PqIndex {

  /** Exact squared L2 over two float arrays as an ordered left fold
    * (both engines fold in index order — the cosSql contract). */
  private[graft] def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val dd = x.cast("double") - y.cast("double"); dd * dd
      }),
      lit(0.0), (acc, v) => acc + v)

  /** Quantized BIGINT distance — the ranking/assignment currency. */
  private[graft] def l2q(a: Column, b: Column): Column =
    round(l2sq(a, b) * 1e6, 0).cast("long")

  /** (vec_id, m, sub): the m `dsub`-wide subvectors of each vector. */
  private[graft] def subvectors(emb: DataFrame, m: Int, dsub: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("m"))
      .select(col("vec_id"), col("m"),
        slice(col("embedding"), col("m") * dsub + 1, lit(dsub)).as("sub"))

  /** The (m, cid, ce) codebook as ONE literal array column indexed by
    * subspace: element m+1 holds that subspace's centroid structs.
    * Codebooks are m·k rows by contract (driver-pinned between Lloyd
    * steps; store-loaded ones are m·k parquet rows), so the collect
    * costs at most one trivial job. */
  private def centLit(cents: DataFrame,
      rows: Array[org.apache.spark.sql.Row]): Column = {
    // subvector element type follows the input embeddings (float for
    // raw corpus vectors, double after an OPQ rotation)
    val isFloat = cents.schema("ce").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.FloatType
    def ce(r: org.apache.spark.sql.Row): Column =
      if (isFloat) lit(r.getSeq[Float](2).toArray)
      else lit(r.getSeq[Double](2).toArray)
    val byM = rows.groupBy(_.getInt(0))
    array((0 to rows.map(_.getInt(0)).max).map { m =>
      array(byM.getOrElse(m, Array.empty[org.apache.spark.sql.Row])
        .map { r => struct(lit(r.get(1)).as("cid"), ce(r).as("ce")) }
        .toIndexedSeq: _*)
    }: _*)
  }

  /** Nearest-centroid assignment per (vector, subspace), ROW-LOCAL:
    * array_min over (dq, cid) against the literal codebook picks the
    * (quantized-L2 ASC, cid ASC) winner with no corpus-sized
    * exchange. */
  private[graft] def assign(sub: DataFrame, cents: DataFrame): DataFrame = {
    val rows = cents.select(col("m").cast("int"), col("cid"), col("ce"))
      .collect()
    // empty codebook (degenerate input): zero rows
    if (rows.isEmpty)
      return sub.select(col("vec_id"), col("m"),
        lit(null).cast(cents.schema("cid").dataType).as("cell"),
        col("sub")).filter(lit(false))
    val cl = centLit(cents, rows)
    sub.select(col("vec_id"), col("m"),
      array_min(transform(element_at(cl, col("m") + 1), c => struct(
        l2q(col("sub"), c.getField("ce")).as("dq"),
        c.getField("cid").as("cid")))).getField("cid").as("cell"),
      col("sub"))
  }

  /** Per-(subspace, cell) exact integer-mean recentering — one
    * map-side-combinable groupBy(m, cell) with dsub sum columns. */
  private[graft] def recenter(assigned: DataFrame, dsub: Int): DataFrame = {
    val sums = (0 until dsub).map(p =>
      sum(floor(element_at(col("sub"), p + 1).cast("double")
        * (1 << 24))).as(s"sv$p"))
    assigned
      .groupBy(col("m"), col("cell"))
      .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
      .select(col("m"), col("cell").as("cid"),
        array((0 until dsub).map(p =>
          (col(s"sv$p").cast("double")
            / (col("n").cast("double") * (1 << 24))).cast("float")): _*)
          .as("ce"))
  }

  /** Train the codebook: per subspace, seed from the k lowest-id
    * vectors' subvectors and run `iters` Lloyd steps. Returns the
    * pinned (m, cid, ce) table — m·k rows, corpus-size-free. */
  def trainCodebook(emb: DataFrame, m: Int = 8, dsub: Int = 8,
      k: Int = 16, iters: Int = 2): DataFrame = {
    val sub = subvectors(emb, m, dsub)
    val seed = Pin(sub.filter(col("vec_id") < k)
      .select(col("m"), col("vec_id").cast("int").as("cid"),
        col("sub").as("ce")))
    (0 until iters).foldLeft(seed)((c, _) => Pin(recenter(assign(sub, c), dsub)))
  }

  /** Encode the corpus: (vec_id, m, code) — m small integers per
    * vector, the compressed representation ADC scores against. */
  def encode(emb: DataFrame, cents: DataFrame, m: Int = 8,
      dsub: Int = 8): DataFrame =
    assign(subvectors(emb, m, dsub), cents)
      .select(col("vec_id"), col("m"), col("cell").as("code"))
}
