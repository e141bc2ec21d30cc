package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Optimized Product Quantization, parametric solution (Ge et al.
  * 2013, "Optimized Product Quantization for Approximate Nearest
  * Neighbor Search"; also Jégou et al. 2011 §V "structured vector
  * quantization"): learn an orthogonal-by-construction rotation
  * R = P·Uᵀ — the full eigenbasis U of the data covariance, with a
  * balanced permutation P that allocates eigendirections to the m
  * subspaces so the per-subspace eigenvalue PRODUCTS equalize (the
  * paper's eigenvalue-allocation criterion, optimal under the
  * Gaussian independence bound). Rotating before [[PqIndex]] coding
  * decorrelates the subspaces and balances their information load,
  * which is exactly where plain PQ loses accuracy on correlated
  * data.
  *
  * Scale contract: the covariance collapses to a d(d+1)/2-cell
  * driver relation (the x46/x65 exact-integer Gram recipe — corpus
  * scanned once for moments); the d-deep eigensolve and the greedy
  * allocation are d×d driver arithmetic, corpus-size-free; the
  * rotation itself is a row-local fold against broadcast-literal
  * eigenvectors — no join, no shuffle, composes onto any scan.
  *
  * Determinism contract: every double op (matvec fold, max-abs
  * normalize, Rayleigh quotient, deflation, product comparison,
  * rotation dot) is written in the same left-to-right order as the
  * oracle's list-land SQL, so driver and oracle agree bit-for-bit
  * (the x65 precedent, extended from 2 to d eigenpairs — judged
  * bit-exact over all d·(d+1) values in prototype). Power iteration
  * on a clustered spectrum converges slowly, so U is only
  * approximately orthogonal — both engines compute the SAME
  * approximation, and the serving geometry (exact ranks AND ADC) is
  * defined consistently in the rotated space.
  */
object Opq {

  /** Exact-integer covariance of the embedding column — x65's
    * recipe: 1e6-quantized coordinates, Gram cells summed in a
    * 128-bit accumulator (per-row products fit a Long, but the corpus
    * SUM grows as n·1e12 and would overflow Int64 past a few thousand
    * rows), half-away integer
    * rounding of the n·p − sᵢsⱼ rational in BigInt at 1e8 scale, so
    * the "corpus scanned once, exact integer" contract holds at any
    * corpus size. Returns (matrix, per-dim 1e6-scale sums, rows). */
  def covariance(emb: DataFrame): (Array[Array[Double]], Array[Long], Long) = {
    // quantize each coordinate ONCE per vector — Catalyst's own
    // round() does the HALF_UP, so the integers are definitionally
    // the engine's — then fold n, the per-dim sums AND the
    // upper-triangular Gram TASK-SIDE in one RDD aggregate that
    // returns (n, d sums, d(d+1)/2 Gram cells) to the driver: no
    // explosion, no exchange, one job. Gram cells accumulate in exact
    // signed 128-bit (two-long limbs); integer addition is
    // order-free, so the totals do not depend on partitioning.
    val q = emb.select(
      transform(col("embedding"),
        x => round(x.cast("double") * 1e6, 0).cast("long")).as("q"))
    // acc layout: [n | sums(d) | gram hi/lo pairs (d(d+1)/2 each)]
    class Acc(var n: Long, var sums: Array[Long],
        var hi: Array[Long], var lo: Array[Long]) extends Serializable {
      def addRow(qs: Array[Long]): Acc = {
        val d = qs.length
        if (sums == null) {
          sums = new Array[Long](d)
          hi = new Array[Long](d * (d + 1) / 2)
          lo = new Array[Long](d * (d + 1) / 2)
        }
        // the triangular cell layout is positional — a ragged corpus
        // must fail loudly, not misalign (the ADVICE-r11 rule)
        require(d == sums.length,
          s"ragged embedding: $d dims vs ${sums.length}")
        n += 1L
        var i = 0
        var c = 0
        while (i < d) {
          val qi = qs(i)
          sums(i) += qi
          var j = i
          while (j < d) {
            val qj = qs(j)
            val pl = qi * qj
            val ph = java.lang.Math.multiplyHigh(qi, qj)
            val ol = lo(c)
            val nl = ol + pl
            // unsigned carry out of the low limb
            val carry = ((ol & pl) | ((ol | pl) & ~nl)) >>> 63
            lo(c) = nl
            hi(c) = hi(c) + ph + carry
            c += 1; j += 1
          }
          i += 1
        }
        this
      }
      def merge(o: Acc): Acc = {
        if (o.sums == null) return this
        if (sums == null) { n = o.n; sums = o.sums; hi = o.hi; lo = o.lo; return this }
        require(o.sums.length == sums.length,
          s"ragged embedding: ${o.sums.length} dims vs ${sums.length}")
        n += o.n
        var i = 0
        while (i < sums.length) { sums(i) += o.sums(i); i += 1 }
        var c = 0
        while (c < lo.length) {
          val ol = lo(c); val pl = o.lo(c)
          val nl = ol + pl
          val carry = ((ol & pl) | ((ol | pl) & ~nl)) >>> 63
          lo(c) = nl
          hi(c) = hi(c) + o.hi(c) + carry
          c += 1
        }
        this
      }
    }
    val acc = q.queryExecution.toRdd
      .map(r => r.getArray(0).toLongArray())
      .aggregate(new Acc(0L, null, null, null))(_.addRow(_), _.merge(_))
    val n = acc.n
    val sums = if (acc.sums == null) Array.empty[Long] else acc.sums
    val dims = sums.length
    def cell128(c: Int): BigInt =
      (BigInt(acc.hi(c)) << 64) +
        BigInt(new java.math.BigInteger(java.lang.Long.toUnsignedString(acc.lo(c))))
    def intRound(sv: BigInt, nv: BigInt): BigInt = {
      val sign = if (sv < 0) BigInt(-1) else BigInt(1)
      sign * ((2 * sv.abs + nv) / (2 * nv))
    }
    val m = Array.ofDim[Double](dims, dims)
    var c = 0
    var i = 0
    while (i < dims) {
      var j = i
      while (j < dims) {
        val p = cell128(c)
        val cv = intRound(BigInt(n) * p - BigInt(sums(i)) * BigInt(sums(j)),
          BigInt(n) * BigInt(n) * 10000).toDouble / 1e8
        m(i)(j) = cv; m(j)(i) = cv
        c += 1; j += 1
      }
      i += 1
    }
    (m, sums, n)
  }

  /** x49/x65's 50-round max-abs power iteration + Rayleigh quotient
    * (all folds left-to-right — the oracle's list_sum order). */
  def topEig(mm: Array[Array[Double]]): (Array[Double], Double) = {
    val dims = mm.length
    // hot loops as allocation-free while folds; each accumulates left
    // to right, the oracle's list_sum order, so every double matches
    // the oracle bit for bit.
    def matvec(x: Array[Double]): Array[Double] = {
      val w = new Array[Double](dims)
      var i = 0
      while (i < dims) {
        val row = mm(i); var s = 0.0; var j = 0
        while (j < dims) { s += row(j) * x(j); j += 1 }
        w(i) = s; i += 1
      }
      w
    }
    var v = Array.fill(dims)(1.0)
    var it = 0
    while (it < 50) {
      val w = matvec(v)
      var mx = w(0).abs
      var i = 1
      while (i < dims) { val a = w(i).abs; if (a > mx) mx = a; i += 1 }
      val vn = new Array[Double](dims)
      i = 0
      while (i < dims) { vn(i) = w(i) / mx; i += 1 }
      v = vn; it += 1
    }
    var s2 = 0.0
    locally { var i = 0; while (i < dims) { s2 += v(i) * v(i); i += 1 } }
    val nrm = math.sqrt(s2)
    val u = new Array[Double](dims)
    locally { var i = 0; while (i < dims) { u(i) = v(i) / nrm; i += 1 } }
    val w = matvec(u)
    var lam = 0.0
    locally { var i = 0; while (i < dims) { lam += u(i) * w(i); i += 1 } }
    (u, lam)
  }

  /** Hotelling deflation M' = M − λuuᵀ. */
  def deflate(mm: Array[Array[Double]], u: Array[Double], lam: Double): Array[Array[Double]] =
    Array.tabulate(mm.length, mm.length)((i, j) => mm(i)(j) - lam * u(i) * u(j))

  /** All `nEig` eigenpairs by repeated power iteration + deflation,
    * in extraction order (NOT sorted — clustered eigenvalues come out
    * unordered; [[allocate]] sorts). */
  def eigensolve(m0: Array[Array[Double]], nEig: Int): Seq[(Array[Double], Double)] = {
    var mm = m0
    (0 until nEig).map { _ =>
      val (u, lam) = topEig(mm)
      mm = deflate(mm, u, lam)
      (u, lam)
    }
  }

  /** Eigenvalue allocation (Ge et al. §4.1): visit eigenpairs by
    * (λ DESC, extraction index ASC); greedily place each into the
    * non-full bucket with the smallest running eigenvalue product,
    * lowest bucket id on ties. Returns the rotation's output-dim-
    * ordered eigenvector rows: buckets-major, within a bucket in
    * allocation order — output dims [g·dsub, (g+1)·dsub) form
    * subspace g. */
  def rotationRows(eigs: Seq[(Array[Double], Double)], m: Int, dsub: Int): Seq[Array[Double]] = {
    val order = eigs.indices.sortWith { (a, b) =>
      eigs(a)._2 > eigs(b)._2 || (eigs(a)._2 == eigs(b)._2 && a < b)
    }
    val prods = Array.fill(m)(1.0)
    val cnts = Array.fill(m)(0)
    val bucketOf = order.map { c =>
      val elig = (0 until m).filter(cnts(_) < dsub)
      val minp = elig.map(prods).min
      val g = elig.find(prods(_) == minp).get
      prods(g) *= eigs(c)._2
      cnts(g) += 1
      g
    }
    order.indices
      .sortBy(ri => (bucketOf(ri), ri))
      .map(ri => eigs(order(ri))._1)
  }

  /** Row-local rotation: output coordinate o = ⟨x, row_o⟩ as the
    * cosSql-order fold against broadcast-literal eigenvector rows. */
  def rotateCol(emb: Column, rows: Seq[Array[Double]]): Column =
    array(rows.map { row =>
      aggregate(
        zip_with(emb, array(row.toSeq.map(lit): _*),
          (x, y) => x.cast("double") * y),
        lit(0.0), (acc, x) => acc + x)
    }: _*)
}
