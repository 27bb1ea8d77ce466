package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Every custom expression's generated Java must actually COMPILE under
  * janino — a typo inside the codegen string is invisible to scalac and to
  * every value-parity spec, because Spark catches the janino error at
  * runtime and silently falls back to interpreted evaluation (the results
  * stay correct; only the whole stage quietly loses codegen). This suite
  * closes that hole: `GenerateUnsafeProjection.generate` has NO fallback
  * path, so a janino failure fails the test, and the compiled projection's
  * UnsafeRow must equal the interpreted projection's byte-for-byte.
  *
  * (Found the hard way: NearestCentroids referenced UnsafeArrayData under
  * `catalyst.util` — the Spark 3 location — instead of
  * `catalyst.expressions`; every suite passed while q220's "fused codegen"
  * hot loop ran interpreted.)
  */
class CodegenCompileSpec extends AnyFunSuite {

  // Build the shared session before any codegen, as every engine JVM does:
  // the session's extensions size Spark's codegen class cache, which is
  // fixed by the JVM's first use of codegen.
  graft.SharedSparkSpec.session

  private val floatArr = ArrayType(FloatType)
  private val strArr = ArrayType(StringType)

  private def fa(vs: Float*): GenericArrayData =
    new GenericArrayData(vs.map(v => v: Any).toArray)
  private def sa(vs: String*): GenericArrayData =
    new GenericArrayData(vs.map(v => UTF8String.fromString(v): Any).toArray)
  private def row(vs: Any*) = new GenericInternalRow(vs.toArray)

  private def cmsBytes: Array[Byte] = {
    val sk = org.apache.spark.util.sketch.CountMinSketch.create(0.01, 0.95, 42)
    Seq("alpha", "beta", "alpha", "gamma").foreach(sk.add)
    val bos = new java.io.ByteArrayOutputStream()
    sk.writeTo(bos)
    bos.toByteArray
  }

  private val cents: IndexedSeq[Double] =
    IndexedSeq(0.0, 0.0, 1.0, 1.0, -1.0, 0.5, 0.25, -0.75, 2.0, -2.0, 0.0, 1.0)
  private val planes: IndexedSeq[Double] =
    IndexedSeq(1.0, -1.0, 0.5, 0.0, -0.25, 0.75, -1.5, 2.0)

  private def in(i: Int, dt: DataType) = BoundReference(i, dt, nullable = true)

  // (name, expression bound over its input row, the input row)
  private val cases: Seq[(String, Expression, GenericInternalRow)] = Seq(
    ("MinHashSignature", MinHashSignature(in(0, strArr)),
      row(sa("the", "quick", "brown", "fox"))),
    ("SimHashSignature", SimHashSignature(in(0, strArr)),
      row(sa("jumps", "over", "the", "lazy", "dog"))),
    ("CmsEstimateCount", CmsEstimateCount(in(0, BinaryType), in(1, StringType)),
      row(cmsBytes, UTF8String.fromString("alpha"))),
    ("GreedyBpeTokens", GreedyBpeTokens(in(0, strArr)),
      row(sa("internationalization", "spark"))),
    ("NearestCentroids", NearestCentroids.flat(in(0, floatArr), cents, 4, 2),
      row(fa(0.5f, -0.25f, 1.5f, 0.75f))),
    ("CosineSimilarity", CosineSimilarity(in(0, floatArr), in(1, floatArr)),
      row(fa(1.0f, 2.0f, 3.0f), fa(-2.0f, 0.5f, 4.0f))),
    ("CdcChunks", CdcChunks(in(0, StringType), 8, 4, 64),
      row(UTF8String.fromString("a" * 40 + "the quick brown fox jumps over the lazy dog" * 4))),
    ("MortonCode", MortonCode(in(0, LongType), in(1, LongType)),
      row(123456789L, 987654321L)),
    ("HyperplaneSignature", HyperplaneSignature(in(0, floatArr), planes, 4),
      row(fa(0.5f, -0.25f, 1.5f, 0.75f))),
    ("NearestCentroids/two-level", NearestCentroids(in(0, floatArr),
      // l1 = 2 cells x dim 4; sub = 3 children (2 in cell 0, 1 in cell 1)
      IndexedSeq(0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0),
      IndexedSeq(0.1, 0.0, 0.0, 0.0, -0.1, 0.0, 0.2, 0.0, 1.0, 1.1, 0.9, 1.0),
      IndexedSeq(0, 2, 3), 2, 4, 2, 2),
      row(fa(0.5f, -0.25f, 1.5f, 0.75f))),
    // PQ codec family: m=2 subspaces x k=3 codewords x subDim=2; books flat
    // (s, j, i)-major. Float input (raw embeddings), double input
    // (residuals), and the lut×codes ADC fold.
    ("PqEncode/float", PqEncode(in(0, floatArr),
      IndexedSeq(0.0, 0.0, 1.0, 1.0, -1.0, 0.5, 2.0, -2.0, 0.0, 1.0, 0.5, 0.5), 2, 3, 2),
      row(fa(0.5f, -0.25f, 1.5f, 0.75f))),
    ("PqEncode/double", PqEncode(in(0, ArrayType(DoubleType)),
      IndexedSeq(0.0, 0.0, 1.0, 1.0, -1.0, 0.5, 2.0, -2.0, 0.0, 1.0, 0.5, 0.5), 2, 3, 2),
      row(new GenericArrayData(Array[Any](0.5, -0.25, 1.5, 0.75)))),
    ("PqLut", PqLut(in(0, floatArr),
      IndexedSeq(0.0, 0.0, 1.0, 1.0, -1.0, 0.5, 2.0, -2.0, 0.0, 1.0, 0.5, 0.5), 2, 3, 2),
      row(fa(0.5f, -0.25f, 1.5f, 0.75f))),
    ("PqAdc", PqAdc(
      in(0, ArrayType(ArrayType(DoubleType))), in(1, ArrayType(IntegerType))),
      row(new GenericArrayData(Array[Any](
        new GenericArrayData(Array(0.25, 1.5, 2.0)),
        new GenericArrayData(Array(3.0, 0.75, 0.1)))),
        new GenericArrayData(Array[Any](1, 2)))),
    ("ResidualTo", ResidualTo(in(0, floatArr), in(1, IntegerType), cents, 4),
      row(fa(0.5f, -0.25f, 1.5f, 0.75f), 2)),
    ("ShingleJoin", ShingleJoin(in(0, strArr), 3),
      row(sa("the", "quick", "brown", "fox", "the", "quick", "brown"))),
    ("ShingleJoin/short-input", ShingleJoin(in(0, strArr), 5),
      row(sa("too", "short"))),
    ("HammingCosineTop1", HammingCosineTop1(
      in(0, ArrayType(LongType)), in(1, ArrayType(LongType)), in(2, floatArr),
      in(3, ArrayType(LongType)), in(4, floatArr), 1, 40, 4),
      row(new GenericArrayData(Array[Any](7L, 9L)),
        new GenericArrayData(Array[Any](3L, -1L)),
        fa(0.5f, -0.25f, 1.5f, 0.75f, 1.0f, 2.0f, -0.5f, 0.25f),
        new GenericArrayData(Array[Any](5L)),
        fa(0.4f, -0.3f, 1.4f, 0.8f))),
    ("HammingCosineReject", HammingCosineReject(
      in(0, ArrayType(LongType)), in(1, ArrayType(LongType)), in(2, floatArr),
      in(3, ArrayType(LongType)), in(4, floatArr), in(5, LongType), 1, 40, 4, 0.9),
      row(new GenericArrayData(Array[Any](7L, 9L)),
        new GenericArrayData(Array[Any](3L, -1L)),
        fa(0.5f, -0.25f, 1.5f, 0.75f, 1.0f, 2.0f, -0.5f, 0.25f),
        new GenericArrayData(Array[Any](5L)),
        fa(0.4f, -0.3f, 1.4f, 0.8f), 9L)))

  for ((name, expr, input) <- cases) {
    test(s"$name: generated code compiles and matches interpreted eval") {
      // Throws (no interpreted fallback at this layer) if the generated
      // Java fails to compile — the assertion this suite exists for.
      val gen =
        try GenerateUnsafeProjection.generate(Seq(expr), subexpressionEliminationEnabled = false)
        catch {
          case e: Throwable =>
            fail(s"$name generated code failed to compile: ${e.getMessage}", e)
        }
      val interp = InterpretedUnsafeProjection.createProjection(Seq(expr))
      assert(gen(input).copy() == interp(input).copy(),
        s"$name codegen result differs from interpreted eval")
    }
  }

  test("null inputs stay null through the compiled path") {
    val exprs = Seq[(String, Expression)](
      ("MinHashSignature", MinHashSignature(in(0, strArr))),
      ("CosineSimilarity", CosineSimilarity(in(0, floatArr), in(1, floatArr))),
      ("NearestCentroids", NearestCentroids.flat(in(0, floatArr), cents, 4, 2)))
    val nullRow = row(null, null)
    for ((name, e) <- exprs) {
      val gen = GenerateUnsafeProjection.generate(Seq(e), subexpressionEliminationEnabled = false)
      assert(gen(nullRow).isNullAt(0), s"$name: null in must be null out")
    }
  }

  test("length mismatches are errors on both paths, never a truncated result") {
    val mismatched = Seq[(String, Expression, GenericInternalRow)](
      ("PqAdc", PqAdc(
        in(0, ArrayType(ArrayType(DoubleType))), in(1, ArrayType(IntegerType))),
        row(new GenericArrayData(Array[Any](
          new GenericArrayData(Array(0.25, 1.5, 2.0)),
          new GenericArrayData(Array(3.0, 0.75, 0.1)))),
          new GenericArrayData(Array[Any](1)))),
      ("ResidualTo", ResidualTo(in(0, floatArr), in(1, IntegerType), cents, 4),
        row(fa(0.5f, -0.25f, 1.5f), 2)))
    for ((name, e, input) <- mismatched) {
      val gen = GenerateUnsafeProjection.generate(Seq(e), subexpressionEliminationEnabled = false)
      val interp = InterpretedUnsafeProjection.createProjection(Seq(e))
      for ((path, p) <- Seq("codegen" -> gen, "interpreted" -> interp)) {
        val err = intercept[IllegalArgumentException](p(input))
        assert(err.getMessage.contains(e.prettyName), s"$name $path: ${err.getMessage}")
      }
    }
  }
}
