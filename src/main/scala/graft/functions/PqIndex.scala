package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-scale path for ANN past IVF
  * (q37): each 64-dim float vector (256 B) is compressed to M=4 codebook
  * indices (4 B) by quantizing each 16-dim subspace against its own
  * K=16-codeword codebook, and queries scan the COMPRESSED codes with
  * per-query lookup tables (asymmetric distance computation, ADC). At
  * 10⁹ vectors the codes table is ~4 GB where the raw embeddings are
  * ~256 GB — the difference between "fits in executor memory" and "pages
  * through the corpus per query batch".
  *
  * Scale shape:
  *  - TRAIN on a driver-sized deterministic sample (vec_id < 256 — PQ
  *    codebooks are classically trained on a corpus sample): M independent
  *    runs of [[KMeansTrainer.trainLocal]], one per subspace. Codebook
  *    state is M×K×16 doubles — driver-sized like q106's merge table;
  *    memoized per (session, dir), the q94/q108 train-once amortization.
  *  - ENCODE map-only: codebooks ride the projection as one flat reference
  *    object and the per-subspace argmin is a fused codegen loop
  *    ([[PqEncode]]) — the corpus never shuffles to be encoded.
  *  - SEARCH map-only: each query precomputes its M×K distance LUT (also a
  *    fused codebook expression, [[PqLut]]), broadcasts, and the ADC score
  *    is M array lookups + adds per (vector, query) in generated Java
  *    ([[PqAdc]]) — no shuffle until the per-query top-R reduction, which
  *    carries ids and scores only.
  *
  * Determinism: sample and seeds are vec_id-ordered, k-means ties break on
  * centroid id ([[KMeansTrainer]]'s contract), argmin ties break on the
  * lowest codeword index on both the distributed and local paths.
  */
object PqIndex {

  val M = 4        // subspaces
  val SubDim = 16  // dims per subspace (4 × 16 = 64)
  val K = 16       // codewords per subspace
  val SampleN = 256
  val MaxIters = 15
  val Tol = 1e-4

  /** codebooks(s)(j) = the j-th codeword of subspace s (length SubDim). */
  final case class Model(codebooks: IndexedSeq[IndexedSeq[Array[Double]]])

  /** Train the M subspace codebooks on the deterministic sample, memoized
    * per (session, dir). */
  def trainedModel(t: graft.Tables): Model =
    graft.Artifacts.get(t, s"pq$M-$K")({
      val spark = t.spark
      import spark.implicits._
      val sample = t.embeddings
        .filter(col("vec_id") < SampleN)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().sortBy(_._1)
      // trainLocal seeds with the first k sample vectors and indexes all k
      // centroids in its assignment loop — an undersized sample would fail
      // deep inside with an IndexOutOfBounds (KMeansTrainer.train guards
      // the same precondition); fail here with the actual contract instead.
      require(sample.length >= K,
        s"PQ training needs >= $K sample vectors (vec_id < $SampleN), got ${sample.length}")
      require(sample.forall(_._2.length == M * SubDim),
        s"PQ expects ${M * SubDim}-dim embeddings")
      val books = (0 until M).map { s =>
        val sub = sample.toIndexedSeq.map { case (id, v) =>
          (id, v.slice(s * SubDim, (s + 1) * SubDim).map(_.toDouble).toArray)
        }
        KMeansTrainer.trainLocal(sub, K, MaxIters, Tol).centroids
      }
      Model(books)
    })

  /** The model's codebooks as one flat (s, j, i)-major array — the
    * reference-object form the fused [[PqCodec]] expressions carry instead
    * of M×K inlined codeword literals (IndexedSeq so the expressions
    * compare structurally; plan canonicalization / reuse keep working). */
  private def flatBooks(m: Model): IndexedSeq[Double] =
    m.codebooks.flatMap(_.flatMap(_.toIndexedSeq))

  /** Map-only PQ encoding: array<int> of M codeword indices per vector.
    * One fused codegen loop ([[PqEncode]]) — d2 in [[KMeansTrainer.d2]]'s
    * fold order, ties take the lowest codeword index (strict `<` argmin,
    * same as array_position's FIRST minimum). PqSpec pins parity against
    * [[encodeLocal]] on every vector. */
  def encodeExpr(emb: Column, m: Model): Column =
    PqCodec.encode(emb, flatBooks(m), M, K, SubDim)

  /** Per-query ADC lookup table: array (size M) of array (size K) of the
    * squared L2 between the query's subvector and each codeword — one fused
    * codegen loop ([[PqLut]]), same d2 fold order as [[encodeExpr]]. */
  def lutExpr(emb: Column, m: Model): Column =
    PqCodec.lut(emb, flatBooks(m), M, K, SubDim)

  /** ADC score: approx squared L2 = Σ_s lut(s)(code(s)) — M lookups+adds
    * per candidate pair, fused and codegen'd ([[PqAdc]]; ascending-s sum
    * from 0.0, the foldSum order). */
  def adcScore(lut: Column, codes: Column): Column =
    PqCodec.adc(lut, codes)

  /** Symmetric-distance (SDC) pair score: approx squared L2 between two
    * CODED vectors = Σ_s sdc(s)(codeA(s))(codeB(s)), where sdc is the
    * M×K×K codeword-to-codeword distance table riding the plan as an ~8 KB
    * LITERAL. This is the pair-enumeration counterpart of [[adcScore]]:
    * ADC needs one side's raw vector (a per-row M×K LUT — 512 B, BIGGER
    * than the 256 B raw vector, wrong for pair joins); SDC lets a
    * near-dup candidate join carry nothing but the 4-int codes per side —
    * at 10⁹ vectors the Σn_c² candidate stream shuffles 8 B/side instead
    * of 256 B/side. Precision is code-level (both sides quantized), so
    * callers filter LOOSELY here and verify exactly on fetched vectors. */
  def sdcScore(codesA: Column, codesB: Column, m: Model): Column = {
    val table: Seq[Seq[Seq[Double]]] = (0 until M).map { s =>
      (0 until K).map { i =>
        (0 until K).map(j =>
          KMeansTrainer.d2(m.codebooks(s)(i), m.codebooks(s)(j))).toSeq
      }.toSeq
    }
    (0 until M).map { s =>
      element_at(element_at(element_at(typedLit(table), s + 1),
        element_at(codesA, s + 1) + 1), element_at(codesB, s + 1) + 1)
    }.reduce(_ + _)
  }

  /** Local encoder (parity oracle for [[encodeExpr]] in PqSpec). */
  def encodeLocal(v: Array[Double], m: Model): Array[Int] =
    (0 until M).map { s =>
      val sub = v.slice(s * SubDim, (s + 1) * SubDim)
      val d = m.codebooks(s).map(cw => KMeansTrainer.d2(sub, cw))
      d.indexOf(d.min)
    }.toArray

  /** RESIDUAL codebooks — trained on (vector − its assigned coarse
    * centroid), the FAISS IVFPQ default: the coarse quantizer already
    * explains the between-cell structure, so spending the 4-byte code
    * budget on the raw vector re-encodes what the bucket id carries for
    * free. Residuals concentrate near the origin with most of the coarse
    * variance removed, so the same M×K codebooks quantize them with less
    * error — recall at the same nprobe/R strictly improves (PqSpec pins
    * it). Same driver-sized sample, same training contract; memoized
    * under its own key. */
  def trainedResidualModel(t: graft.Tables): Model =
    graft.Artifacts.get(t, s"pqres$M-$K")({
      val spark = t.spark
      import spark.implicits._
      val km = KMeansTrainer.trainedModel(t)
      val sample = t.embeddings
        .filter(col("vec_id") < SampleN)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().sortBy(_._1)
      require(sample.length >= K,
        s"PQ training needs >= $K sample vectors (vec_id < $SampleN), got ${sample.length}")
      require(sample.forall(_._2.length == M * SubDim),
        s"PQ expects ${M * SubDim}-dim embeddings")
      val residuals = sample.toIndexedSeq.map { case (id, v) =>
        val vd = v.map(_.toDouble).toArray
        val c = km.centroids(KMeansTrainer.assignLocal(vd, km))
        (id, Array.tabulate(vd.length)(i => vd(i) - c(i)))
      }
      val books = (0 until M).map { s =>
        val sub = residuals.map { case (id, r) =>
          (id, r.slice(s * SubDim, (s + 1) * SubDim))
        }
        KMeansTrainer.trainLocal(sub, K, MaxIters, Tol).centroids
      }
      Model(books)
    })

  /** Local residual encoder (parity oracle for the distributed residual
    * path in PqSpec): assign → subtract → encode. */
  def encodeResidualLocal(v: Array[Double], km: KMeansTrainer.Trained, m: Model): Array[Int] = {
    val c = km.centroids(KMeansTrainer.assignLocal(v, km))
    encodeLocal(Array.tabulate(v.length)(i => v(i) - c(i)), m)
  }

  /** The corpus as (vec_id, embedding, codes) — encoding is a projection. */
  def encoded(t: graft.Tables): DataFrame = {
    val m = trainedModel(t)
    t.embeddings.select(col("vec_id"), col("embedding"),
      encodeExpr(col("embedding"), m).as("codes"))
  }
}
