package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed k-means training to CONVERGENCE — the loop around q92's
  * single Lloyd's step, and the training pass that turns q37's IVF index
  * from "seeded buckets" into a learned quantizer (the ANN
  * training→serving loop of a real vector pipeline).
  *
  * Scale shape per iteration (identical to q92's step, which stays as the
  * auditable oracled single step):
  *  - centroids broadcast (k×dim doubles — driver-sized state, like q106's
  *    merge table or q92's centroid table);
  *  - assignment is map-side scoring under the broadcast, the per-vector
  *    argmin is a partial-aggregable `min(struct(d2, cid))`;
  *  - ONE corpus-wide aggregation per iteration: posexplode after
  *    assignment, partial-aggregated map-side down to k×dim cells (cell
  *    sums + member counts + d2 sums ride the same exchange — pos 0 carries
  *    the per-cluster scalars, so no second corpus pass for stats);
  *  - the k×dim cell table collects to the coordinator (512 rows at k=8,
  *    dim=64), which updates centroids and checks the shift fixpoint —
  *    inherent driver coordination, same as q60's convergence detector and
  *    q106's argmax, never a corpus collect.
  *
  * Determinism: init is the first k vectors by vec_id (q92's seed), ties on
  * d2 break on centroid id, empty clusters keep their previous centroid.
  * Distributed mean summation order differs from the local reference at
  * ulp level — parity (KMeansTrainSpec) compares centroids under a 1e-8
  * tolerance and demands identical iteration counts and final assignments;
  * query output (q108) rounds to 4dp like every float aggregate.
  */
object KMeansTrainer {

  /** Converged model: final centroids, per-cluster stats of the LAST
    * assignment (vs the pre-update centroids, like q92 reports), and the
    * number of Lloyd steps executed. */
  final case class Trained(
      centroids: IndexedSeq[Array[Double]],
      nMembers: IndexedSeq[Long],
      sumD2: IndexedSeq[Double],
      iters: Int)

  /** Squared L2 in a FIXED fold order (position ascending) — the same
    * numeric contract as q92's zip_with fold, shared by the local
    * reference so assignment tie behavior cannot drift. */
  def d2(v: Array[Double], c: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { val d = v(i) - c(i); s += d * d; i += 1 }
    s
  }

  /** Single-node reference trainer — the parity oracle for [[train]]
    * (KMeansTrainSpec) over an explicitly collected vector table. */
  def trainLocal(
      vecs: Seq[(Long, Array[Double])], k: Int, maxIters: Int, tol: Double): Trained = {
    val dim = vecs.head._2.length
    var cents: IndexedSeq[Array[Double]] =
      vecs.sortBy(_._1).take(k).map(_._2.clone()).toIndexedSeq
    var iters = 0
    var shift = Double.MaxValue
    var members = IndexedSeq.fill(k)(0L)
    var sumD2 = IndexedSeq.fill(k)(0.0)
    while (iters < maxIters && shift >= tol) {
      val asg = vecs.map { case (_, v) =>
        var best = 0; var bd = d2(v, cents(0))
        var c = 1
        while (c < k) {
          val d = d2(v, cents(c)); if (d < bd) { bd = d; best = c }; c += 1
        }
        (best, v, bd)
      }
      members = (0 until k).map(c => asg.count(_._1 == c).toLong)
      sumD2 = (0 until k).map(c => asg.filter(_._1 == c).map(_._3).sum)
      val next = (0 until k).map { c =>
        val m = asg.filter(_._1 == c)
        if (m.isEmpty) cents(c).clone()
        else {
          val s = new Array[Double](dim)
          m.foreach { case (_, v, _) =>
            var i = 0; while (i < dim) { s(i) += v(i); i += 1 }
          }
          var i = 0; while (i < dim) { s(i) /= m.size; i += 1 }
          s
        }
      }
      shift = math.sqrt((0 until k).map(c => d2(next(c), cents(c))).max)
      cents = next
      iters += 1
    }
    Trained(cents, members, sumD2, iters)
  }

  /** Distributed Lloyd's loop over a (vec_id, embedding) DataFrame.
    *
    * The loop runs on the RDD API deliberately (the [[BpeTrainer.train]]
    * rationale): a Lloyd superstep is per-partition imperative state — one
    * local k×dim accumulator folded over the partition's vectors — and its
    * kernel ([[d2]] + argmin) is opaque to Catalyst anyway. Expressed
    * declaratively, each of the ≤maxIters supersteps paid fixed SQL
    * planning/scheduling costs (3 jobs + a 2-stage shuffle per iteration —
    * measured ~0.35 s/iter of pure overhead vs ~50 ms of work); here a
    * superstep is ONE job, NO shuffle: every task folds its partition into
    * k×dim cell sums and the driver merges #partitions × k×dim cells — the
    * MLlib KMeans aggregation shape. Model state stays driver-sized
    * (k×dim), vectors are read from the source parquet exactly once and
    * served from the block store for the remaining supersteps.
    *
    * Determinism: per-vector assignment uses [[d2]] (the serving fold
    * order) with strict `<` — first minimum wins, the assignLocal /
    * array_min tie rule; partition order and within-partition order are
    * fixed by the cached blocks, so the driver-side merge folds cells in
    * the same order every run. */
  def train(emb: DataFrame, k: Int, maxIters: Int, tol: Double): Trained = {
    val spark = emb.sparkSession
    import spark.implicits._
    // Persist the projected input ONCE for the whole Lloyd's run — at
    // 100 TB re-scanning the corpus maxIters times is the difference
    // between one parquet read and twenty. The seed job below materializes
    // the cache (its filter runs above the cache layer, so every partition
    // is computed and retained).
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .rdd
      .map { case (id, v) => (id, v.toArray) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Seed = the k smallest vec_ids (q92's deterministic first-k-by-id
    // init, same rule as trainLocal's sortBy(_._1).take(k)). takeOrdered
    // collects exactly k (id, vector) pairs — driver-sized regardless of
    // corpus size — and reduces to the old `vec_id < k` seed whenever ids
    // 0..k-1 exist (the embeddings-table case), so q108 parity holds.
    val seed = vecs.takeOrdered(k)(Ordering.by(_._1)).sortBy(_._1)
    require(seed.length == k, s"need at least $k vectors to seed, got ${seed.length}")
    val dim = seed.head._2.length
    var cents: IndexedSeq[Array[Double]] =
      seed.map(_._2.map(_.toDouble).toArray).toIndexedSeq
    var iters = 0
    var shift = Double.MaxValue
    var members = IndexedSeq.fill(k)(0L)
    var sumD2 = IndexedSeq.fill(k)(0.0)
    while (iters < maxIters && shift >= tol) {
      val bc = spark.sparkContext.broadcast(cents)
      // One job: per-partition k×dim accumulation, no shuffle. Emitted
      // cells: (cid, dim-sums, member count, Σd2) per non-empty cluster
      // per partition — #partitions × k rows to the driver, independent
      // of corpus size.
      val cells = vecs.mapPartitions { it =>
        val c = bc.value
        val kk = c.length
        val d = c.head.length
        val sums = Array.fill(kk)(new Array[Double](d))
        val ns = new Array[Long](kk)
        val sd2 = new Array[Double](kk)
        val v = new Array[Double](d)
        it.foreach { case (_, vf) =>
          var j = 0
          while (j < d) { v(j) = vf(j).toDouble; j += 1 }
          var best = 0
          var bd = d2(v, c(0))
          var ci = 1
          while (ci < kk) {
            val dd = d2(v, c(ci))
            if (dd < bd) { bd = dd; best = ci }
            ci += 1
          }
          ns(best) += 1
          sd2(best) += bd
          val s = sums(best)
          j = 0
          while (j < d) { s(j) += v(j); j += 1 }
        }
        (0 until kk).iterator
          .filter(ci => ns(ci) > 0)
          .map(ci => (ci, sums(ci), ns(ci), sd2(ci)))
      }.collect()
      bc.destroy()
      val byCid = cells.groupBy(_._1)
      members = (0 until k).map(c =>
        byCid.get(c).map(_.map(_._3).sum).getOrElse(0L))
      sumD2 = (0 until k).map(c =>
        byCid.get(c).map(_.map(_._4).sum).getOrElse(0.0))
      val next = (0 until k).map { c =>
        byCid.get(c) match {
          case None => cents(c) // empty cluster: keep previous centroid
          case Some(rows) =>
            val n = rows.map(_._3).sum
            val s = new Array[Double](dim)
            rows.foreach { case (_, sx, _, _) =>
              var j = 0
              while (j < dim) { s(j) += sx(j); j += 1 }
            }
            var j = 0
            while (j < dim) { s(j) /= n; j += 1 }
            s
        }
      }
      shift = math.sqrt((0 until k).map(c => d2(next(c), cents(c))).max)
      cents = next
      iters += 1
    }
    vecs.unpersist(blocking = false)
    Trained(cents, members, sumD2, iters)
  }

  /** Nearest-centroid id — the vector's home IVF bucket, map-only. Ties
    * break on the LOWEST centroid id, matching the trainer's
    * min(struct(d2, cid)) contract: [[probeBuckets]] at nprobe = 1, so
    * assignments are bit-identical to [[assignLocal]] (same fold order,
    * strict-`<` first-minimum rule). */
  def coarseBucket(emb: org.apache.spark.sql.Column, m: Trained): org.apache.spark.sql.Column =
    probeBuckets(emb, m, 1).getItem(0)

  /** The `nprobe` nearest centroid ids ascending by (d2, cid) — the
    * multi-probe bucket list for query-side fan-out, map-only. One fused
    * codegen loop over the flat model as a one-cell two-level model
    * ([[graft.functions.NearestCentroids]]). */
  def probeBuckets(emb: org.apache.spark.sql.Column, m: Trained, nprobe: Int): org.apache.spark.sql.Column =
    graft.functions.NearestCentroids(
      emb, m.centroids.flatMap(_.toIndexedSeq), m.centroids.head.length, nprobe)

  /** `emb − centroid(bucket)` as array<double> — the residual a FAISS-style
    * IVF-PQ index quantizes instead of the raw vector (coarse structure is
    * already explained by the bucket; the codebooks only need to cover the
    * within-cell offsets, which is where PQ accuracy comes from). One fused
    * codegen loop ([[graft.functions.ResidualTo]]): the previous
    * zip_with-over-literal-table form ran interpreted per corpus row in
    * every residual encode build. Same arithmetic element-for-element. */
  def residualTo(emb: org.apache.spark.sql.Column, bucket: org.apache.spark.sql.Column,
      m: Trained): org.apache.spark.sql.Column =
    graft.functions.ResidualTo(
      emb, bucket, m.centroids.flatMap(_.toIndexedSeq), m.centroids.head.length)

  /** Local nearest-centroid assignment (parity twin of [[coarseBucket]]):
    * lowest d2, ties on the lowest centroid id. */
  def assignLocal(v: Array[Double], m: Trained): Int = {
    var best = 0
    var bd = d2(v, m.centroids(0))
    var c = 1
    while (c < m.centroids.length) {
      val d = d2(v, m.centroids(c)); if (d < bd) { bd = d; best = c }; c += 1
    }
    best
  }

  /** Two-level coarse model: an L1 quantizer of k1 cells plus one L2
    * sub-quantizer per L1 cell (≤ k2 centroids each, fewer when a cell has
    * fewer members) — the k ∝ N blocking the cross-modal family's N^1.5
    * term needs (PLANS round 14): F = k1·k2 FINE cells of bounded expected
    * size with assignment cost k1 + k2 distance evals per vector instead
    * of F (flat k ∝ N assignment would be O(N²·dim); flat TRAINING would
    * be worse still — this trainer's supersteps cost sample × k2 per
    * vector because each vector only scores its own cell's children).
    * Fine cell ids are `l1·k2 + l2` (a fixed stride; cells whose
    * sub-model trained fewer than k2 centroids simply leave high slots
    * unused). */
  final case class Trained2(
      l1: Trained,
      sub: IndexedSeq[Trained],
      k2: Int,
      iters: Int) {
    def fineCentroid(f: Int): Array[Double] = sub(f / k2).centroids(f % k2)
  }

  /** Local two-level assignment (parity contract for the serving side):
    * nearest L1 cell by [[d2]] (lowest id on ties), then nearest of THAT
    * cell's sub-centroids. */
  def assignLocal2(v: Array[Double], m: Trained2): Int = {
    val c1 = assignLocal(v, m.l1)
    c1 * m.k2 + assignLocal(v, m.sub(c1))
  }

  /** Local parity twin of [[graft.functions.NearestCentroids]] over a
    * two-level model: the `nprobe` nearest FINE cells through `p1`-probe
    * L1 fan-out — top-p1 NON-EMPTY L1 cells by (d2, cid) ascending, then
    * their children ranked by (d2, fineId) ascending (stride-k2 global
    * ids). With p1 = nprobe = 1 this is single fine assignment to the
    * nearest non-empty cell (= [[assignLocal2]] whenever the nearest L1
    * cell is non-empty — empty cells index nothing, so serving skips
    * them). */
  def probeLocal2(v: Array[Double], m: Trained2, p1: Int, nprobe: Int): IndexedSeq[Int] = {
    val cells = m.l1.centroids.indices
      .filter(c => m.sub(c).centroids.nonEmpty)
      .sortBy(c => (d2(v, m.l1.centroids(c)), c))
      .take(p1)
    cells.flatMap { c =>
      m.sub(c).centroids.indices.map(j =>
        (d2(v, m.sub(c).centroids(j)), c * m.k2 + j))
    }.sortBy(identity).take(nprobe).map(_._2)
  }

  /** The query-side multi-probe FINE bucket list of a two-level model —
    * the k ∝ N twin of [[probeBuckets]], one fused codegen loop of
    * k1 + p1·k2 distance evals per row. */
  def fineProbeBuckets(
      emb: org.apache.spark.sql.Column, m: Trained2,
      p1: Int, nprobe: Int): org.apache.spark.sql.Column =
    graft.functions.NearestCentroids(emb, m, p1, nprobe)

  /** Single FINE bucket assignment under a two-level model — the k ∝ N
    * twin of [[coarseBucket]] (nearest non-empty L1 cell's nearest child,
    * k1 + k2 evals per row instead of F). */
  def fineBucket(
      emb: org.apache.spark.sql.Column, m: Trained2): org.apache.spark.sql.Column =
    fineProbeBuckets(emb, m, 1, 1).getItem(0)

  /** Single-node reference for [[trainTwoLevel]] — the SAME lockstep
    * semantics (one global Lloyd loop over all sub-models, one global
    * shift fixpoint), so distributed/local parity is exact up to
    * summation order, the [[trainLocal]]/[[train]] discipline. Per-cell
    * seeds are the cell's k2 smallest vec_ids; empty sub-cells keep their
    * previous centroid; a cell with fewer than k2 members trains that many
    * sub-centroids. */
  def trainTwoLevelLocal(
      vecs: Seq[(Long, Array[Double])], k1: Int, k2: Int,
      maxIters: Int, tol: Double): Trained2 = {
    val l1 = trainLocal(vecs, k1, maxIters, tol)
    val byCell = vecs.groupBy { case (_, v) => assignLocal(v, l1) }
    val dim = vecs.head._2.length
    var subCents: IndexedSeq[IndexedSeq[Array[Double]]] =
      (0 until k1).map { c =>
        byCell.getOrElse(c, Seq.empty).sortBy(_._1).take(k2)
          .map(_._2.clone()).toIndexedSeq
      }
    var iters = 0
    var shift = Double.MaxValue
    var members = IndexedSeq.fill(k1)(IndexedSeq.empty[Long])
    var sumD2 = IndexedSeq.fill(k1)(IndexedSeq.empty[Double])
    while (iters < maxIters && shift >= tol) {
      val asg = (0 until k1).map { c =>
        val cents = subCents(c)
        byCell.getOrElse(c, Seq.empty).map { case (_, v) =>
          var best = 0; var bd = if (cents.isEmpty) 0.0 else d2(v, cents(0))
          var j = 1
          while (j < cents.length) {
            val d = d2(v, cents(j)); if (d < bd) { bd = d; best = j }; j += 1
          }
          (best, v, bd)
        }
      }
      members = (0 until k1).map(c =>
        subCents(c).indices.map(j => asg(c).count(_._1 == j).toLong))
      sumD2 = (0 until k1).map(c =>
        subCents(c).indices.map(j => asg(c).filter(_._1 == j).map(_._3).sum))
      val next = (0 until k1).map { c =>
        subCents(c).indices.map { j =>
          val m = asg(c).filter(_._1 == j)
          if (m.isEmpty) subCents(c)(j).clone()
          else {
            val s = new Array[Double](dim)
            m.foreach { case (_, v, _) =>
              var i = 0; while (i < dim) { s(i) += v(i); i += 1 }
            }
            var i = 0; while (i < dim) { s(i) /= m.size; i += 1 }
            s
          }
        }
      }
      shift = math.sqrt((0 until k1).flatMap(c =>
        subCents(c).indices.map(j => d2(next(c)(j), subCents(c)(j))))
        .foldLeft(0.0)(math.max))
      subCents = next
      iters += 1
    }
    Trained2(l1,
      (0 until k1).map(c => Trained(subCents(c), members(c), sumD2(c), iters)),
      k2, iters)
  }

  /** Distributed GROUPED Lloyd's loop: train ALL k1 sub-models in ONE
    * superstep loop over the corpus — the r13-advice "own trained
    * cross-modal model with k ∝ N" made affordable. Shape per superstep
    * (the [[train]] rationale, grouped): sub-centroids broadcast
    * (F×dim ≈ 10 MB at F = N/256 on the sf100x decade — still
    * driver-sized); each task folds its partition into per-FINE-cell
    * sums — every vector scores ONLY its own L1 cell's ≤ k2 children, so
    * a superstep is sample × (k1 + k2) distance evals, not sample × F;
    * one job, NO shuffle; the driver merges #partitions × F cells. A
    * per-cell SEQUENTIAL alternative (k1 separate Lloyd loops) would pay
    * k1 × iters job-scheduling overheads (~0.1 s each — minutes of dead
    * time at k1 ≈ 140) for identical arithmetic. L1 cells are assigned
    * once, before the loop, and ride the persisted RDD. */
  def trainTwoLevel(
      emb: DataFrame, k1: Int, k2: Int, maxIters: Int, tol: Double): Trained2 = {
    val spark = emb.sparkSession
    import spark.implicits._
    val l1 = train(emb, k1, maxIters, tol)
    val bcL1 = spark.sparkContext.broadcast(l1)
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .rdd
      .map { case (id, vf) =>
        val v = new Array[Double](vf.length)
        var i = 0; while (i < v.length) { v(i) = vf(i).toDouble; i += 1 }
        (assignLocal(v, bcL1.value), id, v)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dim = l1.centroids.head.length
    // Per-cell seeds: the cell's k2 smallest ids — a bounded per-key
    // insertion (each state holds ≤ k2 (id, vector) pairs), collected as
    // k1 rows ≈ F×dim doubles on the driver.
    def insertSeed(acc: List[(Long, Array[Double])], x: (Long, Array[Double])) = {
      val merged = (x :: acc).sortBy(_._1).take(k2)
      merged
    }
    val seeds = vecs.map { case (c, id, v) => (c, (id, v)) }
      .aggregateByKey(List.empty[(Long, Array[Double])])(
        insertSeed, (a, b) => (a ++ b).sortBy(_._1).take(k2))
      .collect().toMap
    var subCents: IndexedSeq[IndexedSeq[Array[Double]]] =
      (0 until k1).map(c =>
        seeds.getOrElse(c, Nil).map(_._2.clone()).toIndexedSeq)
    var iters = 0
    var shift = Double.MaxValue
    var members: IndexedSeq[IndexedSeq[Long]] =
      (0 until k1).map(c => IndexedSeq.fill(subCents(c).length)(0L))
    var sumD2: IndexedSeq[IndexedSeq[Double]] =
      (0 until k1).map(c => IndexedSeq.fill(subCents(c).length)(0.0))
    val offsets = subCents.scanLeft(0)(_ + _.length)
    while (iters < maxIters && shift >= tol) {
      val bc = spark.sparkContext.broadcast(subCents)
      val bcOff = spark.sparkContext.broadcast(offsets)
      val totalFine = offsets(k1)
      val cells = vecs.mapPartitions { it =>
        val sc = bc.value; val off = bcOff.value
        val sums = Array.fill(totalFine)(null: Array[Double])
        val ns = new Array[Long](totalFine)
        val sd2 = new Array[Double](totalFine)
        it.foreach { case (c, _, v) =>
          val cents = sc(c)
          if (cents.nonEmpty) {
            var best = 0; var bd = d2(v, cents(0))
            var j = 1
            while (j < cents.length) {
              val d = d2(v, cents(j)); if (d < bd) { bd = d; best = j }; j += 1
            }
            val f = off(c) + best
            if (sums(f) == null) sums(f) = new Array[Double](v.length)
            ns(f) += 1; sd2(f) += bd
            val s = sums(f)
            var i = 0; while (i < v.length) { s(i) += v(i); i += 1 }
          }
        }
        (0 until totalFine).iterator
          .filter(f => ns(f) > 0)
          .map(f => (f, sums(f), ns(f), sd2(f)))
      }.collect()
      bc.destroy(); bcOff.destroy()
      val byFine = cells.groupBy(_._1)
      members = (0 until k1).map(c => subCents(c).indices.map { j =>
        byFine.get(offsets(c) + j).map(_.map(_._3).sum).getOrElse(0L) })
      sumD2 = (0 until k1).map(c => subCents(c).indices.map { j =>
        byFine.get(offsets(c) + j).map(_.map(_._4).sum).getOrElse(0.0) })
      var maxShift = 0.0
      val next = (0 until k1).map { c =>
        subCents(c).indices.map { j =>
          byFine.get(offsets(c) + j) match {
            case None => subCents(c)(j)
            case Some(rows) =>
              val n = rows.map(_._3).sum
              val s = new Array[Double](dim)
              rows.foreach { case (_, sx, _, _) =>
                var i = 0; while (i < dim) { s(i) += sx(i); i += 1 }
              }
              var i = 0; while (i < dim) { s(i) /= n; i += 1 }
              maxShift = math.max(maxShift, d2(s, subCents(c)(j)))
              s
          }
        }
      }
      shift = math.sqrt(maxShift)
      subCents = next
      iters += 1
    }
    vecs.unpersist(blocking = false)
    bcL1.destroy()
    Trained2(l1,
      (0 until k1).map(c => Trained(subCents(c), members(c), sumD2(c), iters)),
      k2, iters)
  }

  val K = 8
  val MaxIters = 20
  val Tol = 1e-3

  /** Converged model for a data dir's `embeddings` table, memoized per
    * (session, dir) — training is the expensive upstream; q108 reports it
    * and q37's IVF serves from it (train once, derive everywhere — the
    * q60-labels / q94-layout amortization pattern). */
  def trainedModel(t: graft.Tables): Trained =
    graft.Artifacts.get(t, s"kmeans$K")(
      train(t.embeddings, K, MaxIters, Tol))
}
