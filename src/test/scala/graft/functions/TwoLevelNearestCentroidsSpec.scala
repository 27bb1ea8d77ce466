package graft.functions

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** [[NearestCentroids]] over two-level models (q220/q231's k ∝ N
  * blocking) must equal its local parity twin [[KMeansTrainer.probeLocal2]]
  * on randomized two-level models (including EMPTY and under-filled cells)
  * across a (p1, nprobe) grid, with interpreted eval == codegen; at
  * p1 = nprobe = 1 it must reduce to [[KMeansTrainer.assignLocal2]]
  * whenever the nearest L1 cell is non-empty, and tie distances must keep
  * the LOWER fine id regardless of which probed L1 cell contributed the
  * entry. Over FLAT models (the one-cell lift behind coarseBucket and
  * probeBuckets) it must equal [[KMeansTrainer.assignLocal]] at nprobe = 1
  * and probeLocal2 on the lift, ties and nprobe > k included. */
class TwoLevelNearestCentroidsSpec extends SharedSparkSpec {
  import KMeansTrainer.{Trained, Trained2}

  private val Dim = 4

  private def mkModel(rng: scala.util.Random, k1: Int, k2: Int,
      allowEmpty: Boolean): Trained2 = {
    def vec(): Array[Double] = Array.fill(Dim)(rng.nextDouble() * 2 - 1)
    val l1 = Trained(IndexedSeq.fill(k1)(vec()), IndexedSeq.fill(k1)(1L),
      IndexedSeq.fill(k1)(0.0), 1)
    val sub = (0 until k1).map { c =>
      val cnt =
        if (allowEmpty) rng.nextInt(k2 + 1)
        else 1 + rng.nextInt(k2)
      Trained(IndexedSeq.fill(cnt)(vec()), IndexedSeq.fill(cnt)(1L),
        IndexedSeq.fill(cnt)(0.0), 1)
    }
    // Keep at least one non-empty cell so every vector is probeable.
    if (sub.forall(_.centroids.isEmpty))
      mkModel(rng, k1, k2, allowEmpty = false)
    else Trained2(l1, sub, k2, 1)
  }

  private def run(m: Trained2, v: Seq[Float], p1: Int, nprobe: Int): Seq[Int] = {
    import spark.implicits._
    Seq(Tuple1(v)).toDF("embedding")
      .select(NearestCentroids(col("embedding"), m, p1, nprobe).as("p"))
      .collect().head.getSeq[Int](0)
  }

  test("randomized models: codegen == probeLocal2 across the (p1, nprobe) grid") {
    val rng = new scala.util.Random(41L)
    for (trial <- 1 to 20) {
      val k1 = 2 + rng.nextInt(5)
      val k2 = 1 + rng.nextInt(4)
      val m = mkModel(rng, k1, k2, allowEmpty = true)
      val v = Array.fill(Dim)(rng.nextDouble() * 2 - 1)
      val vf = v.map(_.toFloat).toSeq
      for (p1 <- Seq(1, 2, 4); nprobe <- Seq(1, 2, 8)) {
        val expect = KMeansTrainer.probeLocal2(v, m, p1, nprobe)
        val got = run(m, vf, p1, nprobe)
        assert(got == expect,
          s"trial $trial p1=$p1 nprobe=$nprobe: got=$got expect=$expect")
      }
    }
  }

  test("p1 = nprobe = 1 is assignLocal2 when the nearest L1 cell is non-empty") {
    val rng = new scala.util.Random(43L)
    for (trial <- 1 to 10) {
      val m = mkModel(rng, 3 + rng.nextInt(3), 1 + rng.nextInt(3),
        allowEmpty = false)
      val v = Array.fill(Dim)(rng.nextDouble() * 2 - 1)
      assert(run(m, v.map(_.toFloat).toSeq, 1, 1) ==
        Seq(KMeansTrainer.assignLocal2(v, m)), s"trial $trial")
    }
  }

  test("empty cells are skipped: assignment falls to the nearest NON-EMPTY cell") {
    // Cell 0 is nearest to the query but empty; cell 1 holds the children.
    val l1 = Trained(IndexedSeq(
      Array(0.0, 0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0, 1.0)),
      IndexedSeq(0L, 2L), IndexedSeq(0.0, 0.0), 1)
    val sub = IndexedSeq(
      Trained(IndexedSeq.empty, IndexedSeq.empty, IndexedSeq.empty, 1),
      Trained(IndexedSeq(Array(1.0, 1.0, 1.0, 1.0), Array(2.0, 2.0, 2.0, 2.0)),
        IndexedSeq(1L, 1L), IndexedSeq(0.0, 0.0), 1))
    val m = Trained2(l1, sub, 2, 1)
    val q = Seq(0.1f, 0.1f, 0.1f, 0.1f)
    // fine ids are stride-2: cell 1's children are 2 and 3.
    assert(run(m, q, 1, 1) == Seq(2))
    assert(run(m, q, 2, 8) == Seq(2, 3))
  }

  test("distance ties keep the lower fine id across probed cells") {
    // Two cells symmetric about the query; each holds one child AT the
    // query (d2 = 0 twice) plus one farther child. Tie must resolve to the
    // lower fine id (cell 0's child) however stage 1 ordered the cells.
    val at = Array(0.5, 0.5, 0.5, 0.5)
    val l1 = Trained(IndexedSeq(
      Array(0.0, 0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0, 1.0)),
      IndexedSeq(1L, 1L), IndexedSeq(0.0, 0.0), 1)
    val sub = IndexedSeq(
      Trained(IndexedSeq(at.clone(), Array(-1.0, 0.0, 0.0, 0.0)),
        IndexedSeq(1L, 1L), IndexedSeq(0.0, 0.0), 1),
      Trained(IndexedSeq(at.clone()), IndexedSeq(1L), IndexedSeq(0.0), 1))
    val m = Trained2(l1, sub, 2, 1)
    val q = at.map(_.toFloat).toSeq
    assert(run(m, q, 2, 2) == Seq(0, 2))
    assert(run(m, q, 2, 1) == Seq(0))
  }

  test("interpreted eval matches the DataFrame (codegen) path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val rng = new scala.util.Random(47L)
    val m = mkModel(rng, 4, 3, allowEmpty = true)
    val v = Array.fill(Dim)(rng.nextDouble() * 2 - 1)
    val vf = v.map(_.toFloat)
    val interp = NearestCentroids(
      Literal.create(vf, ArrayType(FloatType)),
      m.l1.centroids.flatMap(_.toIndexedSeq),
      m.sub.flatMap(_.centroids.flatMap(_.toIndexedSeq)),
      m.sub.scanLeft(0)(_ + _.centroids.length),
      m.k2, Dim, 2, 3).eval(null).asInstanceOf[ArrayData].toIntArray().toSeq
    assert(interp == run(m, vf.toSeq, 2, 3))
    assert(interp == KMeansTrainer.probeLocal2(v, m, 2, 3))
  }

  /** A flat model's one-cell lift, the form probeLocal2 reads. */
  private def lift(m: Trained): Trained2 =
    Trained2(Trained(IndexedSeq(new Array[Double](Dim)), IndexedSeq(1L), IndexedSeq(0.0), 1),
      IndexedSeq(m), m.centroids.length, 1)

  /** Flat kernel output: (codegen via a DataFrame, interpreted eval). */
  private def runFlat(m: Trained, v: Array[Float], nprobe: Int): (Seq[Int], Seq[Int]) = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import spark.implicits._
    val cents = m.centroids.flatMap(_.toIndexedSeq)
    val gen = Seq(Tuple1(v.toSeq)).toDF("embedding")
      .select(NearestCentroids(col("embedding"), cents, Dim, nprobe).as("p"))
      .collect().head.getSeq[Int](0)
    val interp = NearestCentroids.flat(Literal.create(v, ArrayType(FloatType)), cents, Dim, nprobe)
      .eval(null).asInstanceOf[ArrayData].toIntArray().toSeq
    (gen, interp)
  }

  private def checkFlat(m: Trained, v: Array[Double], what: String): Unit = {
    val k = m.centroids.length
    for (nprobe <- Seq(1, 2, k, k + 3).distinct) {
      val (gen, interp) = runFlat(m, v.map(_.toFloat), nprobe)
      val expect = KMeansTrainer.probeLocal2(v, lift(m), 1, nprobe)
      assert(gen == interp, s"$what nprobe=$nprobe: codegen=$gen interpreted=$interp")
      assert(gen == expect, s"$what nprobe=$nprobe: got=$gen probeLocal2=$expect")
      assert(gen.length == math.min(nprobe, k), s"$what nprobe=$nprobe: $gen")
      if (nprobe == 1) assert(gen == Seq(KMeansTrainer.assignLocal(v, m)), s"$what")
    }
  }

  test("flat models: codegen == interpreted == assignLocal (nprobe 1) == probeLocal2 on the lift") {
    val rng = new scala.util.Random(53L)
    for (trial <- 1 to 20) {
      val k = 1 + rng.nextInt(6)
      val m = Trained(IndexedSeq.fill(k)(Array.fill(Dim)(rng.nextDouble() * 2 - 1)),
        IndexedSeq.fill(k)(1L), IndexedSeq.fill(k)(0.0), 1)
      // Float-exact query so the kernel's float input is the reference's.
      val v = Array.fill(Dim)((rng.nextDouble() * 2 - 1).toFloat.toDouble)
      checkFlat(m, v, s"trial $trial k=$k")
    }
  }

  test("flat models: equal distances keep the lower centroid id; NaN rows get the lowest ids") {
    // Centroids 1 and 3 are copies of each other, 0 and 2 mirror them about
    // the query: every distance ties pairwise.
    val a = Array(1.0, 0.0, 0.0, 0.0); val b = Array(0.0, 1.0, 0.0, 0.0)
    val m = Trained(IndexedSeq(a.map(-_), a, b.map(-_), a.clone()),
      IndexedSeq.fill(4)(1L), IndexedSeq.fill(4)(0.0), 1)
    checkFlat(m, Array(0.0, 0.0, 0.0, 0.0), "all-tie")
    checkFlat(m, Array(0.5, 0.0, 0.0, 0.0), "pair-tie")
    assert(runFlat(m, Array(0.5f, 0f, 0f, 0f), 3)._1 == Seq(1, 3, 2))
    checkFlat(m, Array(Double.NaN, 0.0, 0.0, 0.0), "NaN")
  }
}
