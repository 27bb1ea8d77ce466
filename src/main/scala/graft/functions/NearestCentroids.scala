package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** The `nprobe` nearest FINE cells of a k-means model, as ONE fused codegen
  * loop — the one nearest-centroid kernel behind every bucket assignment
  * and multi-probe list ([[KMeansTrainer.coarseBucket]],
  * [[KMeansTrainer.probeBuckets]], [[KMeansTrainer.fineBucket]],
  * [[KMeansTrainer.fineProbeBuckets]]). It replaces the litD2s → zip_with
  * → array_sort → slice pipeline, which Spark evaluates interpreted end to
  * end (higher-order functions are CodegenFallback) at k×dim lambda steps
  * plus a k-struct sort PER ROW.
  *
  * The model is two-level ([[KMeansTrainer.Trained2]]): k1 L1 cells
  * (`l1`, k1 × dim), cell c owning the rows `cellStart(c) until
  * cellStart(c + 1)` of `sub`, fine id `c·k2 + child`. A flat k-centroid
  * model is the ONE-cell case: `cellStart = [0, k]`, `k2 = k`, fine id =
  * centroid id, and `l1` empty. At k ∝ N the two-level form costs
  * k1 + p1·k2 distance evals per row instead of F = k1·k2.
  *
  * Contract:
  *  - stage 1: squared L2 to every L1 centroid in ascending-id order
  *    ([[KMeansTrainer.d2]]'s fold order), top `p1` cells by (d2, cid)
  *    ascending — SKIPPING cells whose sub-model is empty (an empty cell
  *    indexes nothing; probing it wastes a slot, and at p1 = 1 it would
  *    leave serving vectors bucketless). A one-cell model has nothing to
  *    select, so its generated code has no stage 1 at all;
  *  - stage 2: the selected cells are visited in ascending CELL id order,
  *    so stage 3's insertion order is ascending fine id and ties on d2
  *    keep the LOWER fine id — one global (d2, fineId)-ascending rule,
  *    independent of the stage-1 selection order;
  *  - stage 3: squared L2 to each selected cell's sub-centroids; top
  *    `nprobe` fine ids by (d2, fineId) ascending.
  *
  * Both selections are strict-`<` insertions into small registers; an
  * unfilled slot admits any candidate, so a row whose distances are all NaN
  * or infinite still gets the lowest ids in scan order, as the local twins
  * do. Returns min(nprobe, reachable fine cells) entries. Parity twins:
  * [[KMeansTrainer.assignLocal]] (flat, nprobe = 1) and
  * [[KMeansTrainer.probeLocal2]] (TwoLevelNearestCentroidsSpec pins
  * interpreted == codegen == local for both model shapes). */
case class NearestCentroids(
    child: Expression,
    l1: IndexedSeq[Double],
    sub: IndexedSeq[Double],
    cellStart: IndexedSeq[Int],
    k2: Int,
    dim: Int,
    p1: Int,
    nprobe: Int)
    extends UnaryExpression with ExpectsInputTypes {

  private def k1: Int = cellStart.length - 1
  private def rows: Int = sub.length / dim

  require(dim > 0 && sub.nonEmpty && sub.length % dim == 0,
    "sub must be rows x dim, row-major, with at least one row")
  require(k1 >= 1 && cellStart.head == 0 && cellStart.last == rows,
    "cellStart must be k1+1 offsets into sub's rows")
  require(k1 == 1 || l1.length == k1 * dim, "l1 must be k1 x dim, row-major")
  require(p1 > 0 && nprobe > 0, "p1 and nprobe must be positive")

  /** Register widths: no selection can hold more than its candidates. */
  private def q1: Int = math.min(p1, k1)
  private def q: Int = math.min(nprobe, rows)

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_centroids"

  @transient private lazy val l1Flat: Array[Double] = l1.toArray
  @transient private lazy val subFlat: Array[Double] = sub.toArray
  @transient private lazy val startFlat: Array[Int] = cellStart.toArray

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), dim)
    def d2(m: Array[Double], row: Int): Double = {
      var d = 0.0; var i = 0; val off = row * dim
      while (i < n) { val t = x.getFloat(i).toDouble - m(off + i); d += t * t; i += 1 }
      d
    }
    val cells =
      if (k1 == 1) Array(0)
      else {
        val top = new NearestCentroids.TopP(q1)
        (0 until k1).foreach { c =>
          if (startFlat(c + 1) > startFlat(c)) top.insert(d2(l1Flat, c), c)
        }
        top.ids.sorted
      }
    val top = new NearestCentroids.TopP(q)
    cells.foreach { c =>
      (startFlat(c) until startFlat(c + 1)).foreach { r =>
        top.insert(d2(subFlat, r), c * k2 + r - startFlat(c))
      }
    }
    new GenericArrayData(top.ids.map(Int.box))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val subRef = ctx.addReferenceObj("sub", subFlat, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val d = ctx.freshName("d")
      val bd = ctx.freshName("bd"); val bi = ctx.freshName("bi")
      val cnt = ctx.freshName("cnt")
      def d2(ref: String, row: String): String = {
        val i = ctx.freshName("i"); val t = ctx.freshName("t")
        val off = ctx.freshName("off")
        s"""double $d = 0.0; int $off = $row * $dim;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $t = ((double) $a.getFloat($i)) - $ref[$off + $i];
           |  $d += $t * $t;
           |}""".stripMargin
      }
      // Strict-`<` insertion of ($d, id) into the ascending registers
      // (dist, ids) of width w, `filled` slots in use.
      def insert(id: String, dist: String, ids: String, filled: String, w: Int): String = {
        val j = ctx.freshName("j")
        s"""if ($filled < $w || $d < $dist[${w - 1}]) {
           |  int $j = $filled < $w ? $filled++ : ${w - 1};
           |  while ($j > 0 && $d < $dist[$j - 1]) {
           |    $dist[$j] = $dist[$j - 1]; $ids[$j] = $ids[$j - 1]; $j--;
           |  }
           |  $dist[$j] = $d; $ids[$j] = $id;
           |}""".stripMargin
      }
      val r = ctx.freshName("r")
      val scan =
        if (k1 == 1) {
          // One cell: fine id = row id, no stage 1.
          s"""for (int $r = 0; $r < $rows; $r++) {
             |  ${d2(subRef, r)}
             |  ${insert(r, bd, bi, cnt, q)}
             |}""".stripMargin
        } else {
          val l1Ref = ctx.addReferenceObj("l1", l1Flat, "double[]")
          val startRef = ctx.addReferenceObj("cellStart", startFlat, "int[]")
          val c = ctx.freshName("c"); val cd = ctx.freshName("cd")
          val ci = ctx.freshName("ci"); val ccnt = ctx.freshName("ccnt")
          val s = ctx.freshName("s")
          s"""double[] $cd = new double[$q1];
             |int[] $ci = new int[$q1];
             |int $ccnt = 0;
             |for (int $c = 0; $c < $k1; $c++) {
             |  if ($startRef[$c + 1] > $startRef[$c]) {
             |    ${d2(l1Ref, c)}
             |    ${insert(c, cd, ci, ccnt, q1)}
             |  }
             |}
             |java.util.Arrays.sort($ci, 0, $ccnt);
             |for (int $s = 0; $s < $ccnt; $s++) {
             |  int $c = $ci[$s];
             |  for (int $r = $startRef[$c]; $r < $startRef[$c + 1]; $r++) {
             |    ${d2(subRef, r)}
             |    ${insert(s"$c * $k2 + $r - $startRef[$c]", bd, bi, cnt, q)}
             |  }
             |}""".stripMargin
        }
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $dim);
         |double[] $bd = new double[$q];
         |int[] $bi = new int[$q];
         |int $cnt = 0;
         |$scan
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
         |  $cnt == $q ? $bi : java.util.Arrays.copyOf($bi, $cnt));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroids {
  /** A flat row-major k × dim centroid matrix as the one-cell model:
    * fine id = centroid id. */
  def flat(child: Expression, cents: IndexedSeq[Double], dim: Int, nprobe: Int): NearestCentroids = {
    val k = cents.length / dim
    NearestCentroids(child, IndexedSeq.empty, cents, IndexedSeq(0, k), k, dim, 1, nprobe)
  }

  /** Column-API entry point over a flat row-major centroid matrix. */
  def apply(emb: Column, cents: IndexedSeq[Double], dim: Int, nprobe: Int): Column =
    GraftShims.column(flat(GraftShims.expression(emb), cents, dim, nprobe))

  /** Column-API entry point over a trained two-level model. */
  def apply(emb: Column, m: KMeansTrainer.Trained2, p1: Int, nprobe: Int): Column = {
    val dim = m.l1.centroids.head.length
    GraftShims.column(NearestCentroids(
      GraftShims.expression(emb),
      m.l1.centroids.flatMap(_.toIndexedSeq),
      m.sub.flatMap(_.centroids.flatMap(_.toIndexedSeq)),
      m.sub.scanLeft(0)(_ + _.centroids.length),
      m.k2, dim, p1, nprobe))
  }

  /** Ascending top-`w` (distance, id) registers with strict-`<` insertion:
    * equal distances keep the earlier-inserted id first, and an unfilled
    * slot admits any candidate. */
  private final class TopP(w: Int) {
    private val dist = new Array[Double](w)
    private val id = new Array[Int](w)
    private var filled = 0

    def insert(d: Double, i: Int): Unit =
      if (filled < w || d < dist(w - 1)) {
        var j = if (filled < w) { filled += 1; filled - 1 } else w - 1
        while (j > 0 && d < dist(j - 1)) { dist(j) = dist(j - 1); id(j) = id(j - 1); j -= 1 }
        dist(j) = d; id(j) = i
      }

    def ids: Array[Int] = id.take(filled)
  }
}
