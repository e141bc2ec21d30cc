package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pin
import graft.functions.VectorExpressions.{cosineSim, dec24, enc24}

/** Reusable IVF (inverted-file) ANN index: TRAIN ONCE, QUERY MANY —
  * the production split the fused x13 query can't express. `build`
  * seeds nCells centroids from the lowest vector ids and refines them
  * with deterministic Lloyd iterations; the result holds both the
  * centroid table and the cell assignment (the inverted file).
  * `query` probes the nprobe nearest cells per query vector and runs
  * exact cosine only inside them.
  *
  * Persistence at scale: write `index.cells` partitioned (or
  * bucketed) by `cell` — each query then opens only its probed
  * cells' files, which is the IVF promise at 100 TB. Centroids are
  * nCells rows — always broadcastable.
  *
  * Determinism contract (shared with the x13 DuckDB oracle): cell
  * argmax on 6dp-rounded cosine with cid tie-break; centroid means
  * as order-free integer sums quantized to float
  * ([[graft.queries.TrainingData]] uses the same building blocks).
  */
object IvfIndex {

  final case class Index(centroids: DataFrame, cells: DataFrame)

  /** The centroid table as ONE literal array-of-structs column.
    * Centroids are nCells rows by contract (driver-pinned between
    * Lloyd steps; a store-loaded table is nCells parquet rows), so
    * collecting them costs at most one trivial job and lets every
    * assignment run row-locally against the literal. */
  private def centLit(rows: Array[org.apache.spark.sql.Row]): Column =
    array(rows.map { r =>
      struct(lit(r.get(0)).as("cid"),
        lit(r.getSeq[Float](1).toArray).as("ce"))
    }.toIndexedSeq: _*)

  /** Nearest-centroid assignment, ROW-LOCAL: the argmax over the
    * nCells literal centroids runs inside each row — array_max over
    * (sim, −cid) picks the (6dp-rounded sim DESC, cid ASC) winner with
    * no corpus-sized exchange. */
  private[graft] def assign(emb: DataFrame, cents: DataFrame): DataFrame = {
    val rows = cents.select(col("cid"), col("ce")).collect()
    // empty centroid table (degenerate input): zero rows
    if (rows.isEmpty)
      return emb.select(col("vec_id"), col("embedding"),
        lit(null).cast(cents.schema("cid").dataType).as("cell"))
        .filter(lit(false))
    emb.select(col("vec_id"), col("embedding"),
      array_max(transform(centLit(rows), c => struct(
        round(cosineSim(col("embedding"), c.getField("ce")), 6).as("sim"),
        (-c.getField("cid")).as("tb"),
        c.getField("cid").as("cell")))).getField("cell").as("cell"))
  }

  /** One Lloyd step: row-local assign, then [[recenter]] per cell. */
  private[graft] def lloydStep(emb: DataFrame, cents: DataFrame): DataFrame = {
    val ceRows = cents.select(col("ce")).head(1)
    if (ceRows.isEmpty)
      return cents.select(col("cid"), col("ce")).limit(0)
    recenter(assign(emb, cents), Nil, "embedding",
      ceRows.head.getSeq[Float](0).length)
  }

  /** The Lloyd centroid step of both quantizers (this one, and
    * [[PqIndex]] per subspace): per (`keys`, cell) of `assigned`, the
    * element-wise mean of its `dim`-wide array column `vec` over the
    * exact 2^24-scaled integer sums (`enc24`/`dec24`: order-free,
    * engine-exact), quantized back to float, as (`keys`, cid, ce). The
    * per-component sums ride ONE map-side-combinable groupBy with `dim`
    * sum columns. */
  private[graft] def recenter(assigned: DataFrame, keys: Seq[String],
      vec: String, dim: Int): DataFrame = {
    val sums = (0 until dim).map(p =>
      sum(enc24(element_at(col(vec), p + 1))).as(s"sv$p"))
    assigned
      .groupBy((keys :+ "cell").map(col): _*)
      .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
      .select(keys.map(col) :+ col("cell").as("cid") :+
        array((0 until dim).map(p =>
          dec24(col(s"sv$p"), col("n")).cast("float")): _*).as("ce"): _*)
  }

  /** Build the index over `emb` (columns `vec_id`, `embedding`).
    * Seeds from the nCells LOWEST vec_ids (TakeOrdered, not a full
    * sort) — id spaces that are sparse or offset (e.g. post-dedup)
    * still yield a full quantizer; on a dense-from-0 corpus this is
    * identical to `vec_id < nCells` (the x13 oracle replays that).
    * Eager: each Lloyd step runs exactly once at build time and its
    * 16-row output is pinned driver-local ([[graft.core.Pin]]; the
    * standard k-means shape: centroids live on the driver, vectors
    * stay distributed). Without the pin, every downstream reference
    * to the lazy plan (each Lloyd step's broadcast, the cell
    * assignment, the query-probe broadcast) re-executes the whole
    * training chain per action. Only the cell assignment (the
    * corpus-sized inverted file) stays lazy. */
  def build(emb: DataFrame, nCells: Int, lloydIters: Int): Index = {
    val seed = Pin(emb.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("ce")))
    val cents = (0 until lloydIters).foldLeft(seed)((c, _) => Pin(lloydStep(emb, c)))
    Index(cents, assign(emb, cents))
  }

  /** Persist the index: centroids as one tiny parquet, cells
    * PARTITIONED BY cell — the on-disk inverted file. Each query then
    * opens only its probed cells' files via dynamic partition pruning
    * (see [[load]] / MlSpec's plan assertion), which is the IVF
    * promise at 100 TB: probe cost scales with nprobe/nCells of the
    * corpus, not the corpus. */
  def save(index: Index, path: String): Unit = {
    index.centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/centroids")
    index.cells.repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$path/cells")
  }

  /** Reload a persisted index. The cells scan carries `cell` as a
    * partition column, so [[query]]'s join against the probed cells
    * triggers dynamic partition pruning — non-probed cells' files are
    * never opened. Partition-column inference appends `cell` last and
    * may narrow it (directory names infer as INT); select it back
    * into build-time order and re-align its type to the centroids'
    * `cid` so a loaded index is schema-identical to a built one. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val cents = spark.read.parquet(s"$path/centroids")
    val cidType = cents.schema("cid").dataType
    Index(
      cents,
      spark.read.parquet(s"$path/cells")
        .select(col("vec_id"), col("embedding"),
          col("cell").cast(cidType).as("cell")))
  }

  // Memoized loaded indexes per (session, path): every `load` builds a
  // fresh InMemoryFileIndex — a full recursive listing of all cell
  // directories — before a single byte of data is read. In a long
  // bench pass x31/x35 would pay that listing on every call; a
  // production query service loads the index handle ONCE and probes
  // many times (the build-once/query-many API this object exists for).
  // Plan-level memoization only (same contract as core.Tables.loaded):
  // a cached path is immutable for its session's lifetime; callers
  // that rewrite an index under the same path must use `load`.
  private val loadedIdx = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), Index]

  /** [[load]] with a per-(session, path) cache of the Index handle. */
  def loadCached(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    loadedIdx.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    loadedIdx.getOrElseUpdate((spark, path), load(spark, path))
  }

  /** Incremental index maintenance — the production path for a
    * growing corpus: assign a NEW batch of vectors to the EXISTING
    * (pinned) centroids and append them to the persisted inverted
    * file, without retraining. This is how IVF indexes are actually
    * operated at 100 TB (FAISS `add` after `train`): the quantizer is
    * frozen, so old cell assignments never change, queries see old
    * and new vectors identically, and the append writes only the new
    * batch's cells (dynamic partition overwrite is NOT needed —
    * parquet append into the partitioned layout). Quantizer drift
    * under distribution shift is the operator's documented trade-off;
    * the rebuild threshold is an ops decision, not an engine one.
    * Determinism contract identical to [[build]]'s assignment. */
  def append(spark: org.apache.spark.sql.SparkSession, path: String,
      newEmb: DataFrame): Unit = {
    val cents = spark.read.parquet(s"$path/centroids")
    assign(newEmb, cents)
      .repartition(col("cell")).write.mode("append")
      .partitionBy("cell").parquet(s"$path/cells")
    // drop any memoized handle for this path: its file listing is stale
    loadedIdx.filterInPlace { case ((_, p), _) => p != path }
  }

  /** Top-k neighbors for each query vector (columns `vec_id`,
    * `embedding`): probe the nprobe nearest cells, exact cosine only
    * there, scores rounded to 4dp for stable cross-engine ranking. */
  def query(index: Index, queries: DataFrame, nprobe: Int, topK: Int): DataFrame = {
    def cos(a: Column, b: Column): Column = cosineSim(a, b)
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cid"))
    val probes = queries
      .crossJoin(broadcast(index.centroids))
      .withColumn("sim", round(cos(col("embedding"), col("ce")), 6))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("cid").as("cell"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
    index.cells
      .select(col("vec_id").as("nid"), col("embedding").as("ne"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("score", round(cos(col("qe"), col("ne")), 4))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= topK)
      .select(col("qid"), col("nid"), col("score"), col("rk"))
  }
}
