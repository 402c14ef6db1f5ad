package org.apache.spark.sql.graftx

import graft.functions.Impl
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the dedup engine. All but the stateful
  * [[exprs.ChainHead]] filter are:
  *   - deterministic, null-intolerant, foldable-aware;
  *   - codegen'd as a single static call into [[Impl]] so they stay inside
  *     WholeStageCodegen (no UDF serialization, no interpreter fallback).
  *
  * The reference's equivalents are Kokkos kernels (SURVEY.md §2.2): P2
  * murmur3_x64_128 (kokkos_murmur3.hpp:213-292), shingling ↦ P1 chunking
  * (basic_approach.cpp:29-33), MinHash/SimHash are the north_star's replacements
  * for content-digest equality probes.
  */
object exprs {

  private def text2bytes(child: Expression, v: Any): Array[Byte] =
    child.dataType match {
      case StringType => v.asInstanceOf[UTF8String].getBytes
      case BinaryType => v.asInstanceOf[Array[Byte]]
      case dt => throw new IllegalStateException(s"unsupported input $dt")
    }

  private def bytesCode(child: Expression, c: String): String =
    child.dataType match {
      case StringType => s"($c).getBytes()"
      case BinaryType => c
      case dt => throw new IllegalStateException(s"unsupported input $dt")
    }

  abstract class GraftUnary extends UnaryExpression {
    override def nullIntolerant: Boolean = true
  }

  abstract class GraftBinary extends BinaryExpression {
    override def nullIntolerant: Boolean = true
  }

  /** 128-bit MurmurHash3_x64 content digest (seed 0) → 16-byte binary. */
  case class Murmur128Digest(child: Expression) extends GraftUnary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(TypeCollection(StringType, BinaryType))
    override def dataType: DataType = BinaryType
    override def nullSafeEval(v: Any): Any = Impl.murmur128Digest(text2bytes(child, v))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Impl.murmur128Digest(${bytesCode(child, c)})")
    override protected def withNewChildInternal(c: Expression): Murmur128Digest = copy(c)
  }

  /** 64-bit content hash: h1 of murmur3_x64_128, seed 0. */
  case class Hash64(child: Expression) extends GraftUnary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(TypeCollection(StringType, BinaryType))
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = {
      val b = text2bytes(child, v); Impl.hash64(b, 0, b.length)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => {
        val b = ctx.freshName("b")
        s"graft.functions.Impl.hash64(${bytesCode(child, c)}, 0, ${bytesCode(child, c)}.length)"
      })
    override protected def withNewChildInternal(c: Expression): Hash64 = copy(c)
  }

  /** Whole-document normalized content key (case/whitespace-insensitive). */
  case class ContentKey64(child: Expression) extends GraftUnary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = Impl.contentKey64(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Impl.contentKey64($c)")
    override protected def withNewChildInternal(c: Expression): ContentKey64 = copy(c)
  }

  /** Distinct sorted 64-bit k-word-shingle hashes. */
  case class Shingles(child: Expression, k: Int) extends GraftUnary with ExpectsInputTypes {
    require(k >= 1, "shingle size k must be >= 1")
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any): Any = Impl.shingles(v.asInstanceOf[UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Impl.shingles($c, $k)")
    override protected def withNewChildInternal(c: Expression): Shingles = copy(child = c)
  }

  /** Batched MinHash signature (numPerm permutations, deterministic seed). */
  case class MinHashSig(child: Expression, numPerm: Int, seed: Long)
      extends GraftUnary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(IntegerType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      Impl.minhash(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], numPerm, seed)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Impl.minhash($c, $numPerm, ${seed}L)")
    override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  }

  /** LSH band hashes of a MinHash signature. */
  case class BandHashes(child: Expression, numBands: Int)
      extends GraftUnary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      Impl.bandHashes(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], numBands)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Impl.bandHashes($c, $numBands)")
    override protected def withNewChildInternal(c: Expression): BandHashes = copy(child = c)
  }

  /** SimHash-64 fingerprint of text (TF-weighted word hashes). */
  case class SimHash64(child: Expression) extends GraftUnary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = Impl.simhash64(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Impl.simhash64($c)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  }

  /** Fused feature kernel: struct(sh: array<int>, sig: array<long>,
    * sim64: long) from one tokenization pass (see Impl.featureStruct).
    */
  case class FeatureStruct(child: Expression, k: Int, numPerm: Int, seed: Long)
      extends GraftUnary with ExpectsInputTypes {
    require(k >= 1 && numPerm >= 1)
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = StructType(Seq(
      StructField("sh", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("sim64", LongType, nullable = false)))
    override def nullSafeEval(v: Any): Any =
      Impl.featureStruct(v.asInstanceOf[UTF8String], k, numPerm, seed)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.Impl.featureStruct($c, $k, $numPerm, ${seed}L)")
    override protected def withNewChildInternal(c: Expression): FeatureStruct = copy(child = c)
  }

  /** Multi-block Hamming probe keys for a simhash (array<long>). */
  case class SimHashKeys(child: Expression, k: Int, d: Int)
      extends GraftUnary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      Impl.simhashKeys(v.asInstanceOf[Long], k, d)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Impl.simhashKeys($c, $k, $d)")
    override protected def withNewChildInternal(c: Expression): SimHashKeys = copy(child = c)
  }

  /** Hamming distance between two 64-bit fingerprints. */
  case class HammingDist(left: Expression, right: Expression)
      extends GraftBinary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
    override def dataType: DataType = IntegerType
    override def nullSafeEval(a: Any, b: Any): Any =
      Impl.hamming(a.asInstanceOf[Long], b.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingDist =
      copy(l, r)
  }

  /** |A ∩ B| of two sorted distinct long arrays. */
  case class IntersectSize(left: Expression, right: Expression)
      extends GraftBinary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(IntegerType), ArrayType(IntegerType))
    override def dataType: DataType = IntegerType
    override def nullSafeEval(a: Any, b: Any): Any =
      Impl.intersectSize(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Impl.intersectSize($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): IntersectSize =
      copy(l, r)
  }

  /** Jaccard similarity of two sorted distinct shingle sets. */
  case class JaccardSim(left: Expression, right: Expression)
      extends GraftBinary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(IntegerType), ArrayType(IntegerType))
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      Impl.jaccard(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Impl.jaccard($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSim =
      copy(l, r)
  }

  /** Whole-document 64-bit rolling fingerprint. */
  case class Fingerprint64(child: Expression) extends GraftUnary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = Impl.fingerprint64(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Impl.fingerprint64($c)")
    override protected def withNewChildInternal(c: Expression): Fingerprint64 = copy(c)
  }

  /** Winnowing fingerprints: array<struct<pos:int, hash:long>>. */
  case class Winnow(child: Expression, gram: Int, window: Int)
      extends GraftUnary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("pos", IntegerType, false), StructField("hash", LongType, false))),
      containsNull = false)
    override def nullSafeEval(v: Any): Any =
      Impl.winnow(v.asInstanceOf[UTF8String], gram, window)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Impl.winnow($c, $gram, $window)")
    override protected def withNewChildInternal(c: Expression): Winnow = copy(child = c)
  }

  /** Verify + maximally extend a candidate repeat anchor:
    * (textA, textB, posA, posB) → struct(a_start, b_start, len) | null.
    */
  case class ExtendMatch(first: Expression, second: Expression,
                         third: Expression, fourth: Expression, gram: Int)
      extends QuaternaryExpression with ExpectsInputTypes {
    override def nullIntolerant: Boolean = true
    override def inputTypes: Seq[AbstractDataType] =
      Seq(StringType, StringType, IntegerType, IntegerType)
    override def dataType: DataType = StructType(Seq(
      StructField("a_start", IntegerType, false),
      StructField("b_start", IntegerType, false),
      StructField("len", IntegerType, false)))
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any, pa: Any, pb: Any): Any =
      Impl.extendMatch(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String],
        pa.asInstanceOf[Int], pb.asInstanceOf[Int], gram)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b, pa, pb) => {
        s"""${ev.value} = graft.functions.Impl.extendMatch($a, $b, $pa, $pb, $gram);
           |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin
      })
    override protected def withNewChildrenInternal(
        a: Expression, b: Expression, c: Expression, d: Expression): ExtendMatch =
      copy(a, b, c, d)
  }

  /** Streaming chain-head test over rows sorted by (a, b, pa − pb, pa) within
    * each partition: true for the first row of each (a, b, pa − pb) group
    * and for a row whose pa lies ≥ gram past the previous row's pa in that
    * group. It keeps the previous row as per-partition state, so it is
    * Nondeterministic: the optimizer never moves it below the sort it must
    * sit directly above.
    */
  case class ChainHead(a: Expression, b: Expression, pa: Expression, pb: Expression,
                       gram: Int)
      extends Expression with Nondeterministic with CodegenFallback with ExpectsInputTypes {
    override def children: Seq[Expression] = Seq(a, b, pa, pb)
    override def inputTypes: Seq[AbstractDataType] =
      Seq(LongType, LongType, IntegerType, IntegerType)
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = false
    @transient private[this] var started = false
    @transient private[this] var prevA = 0L
    @transient private[this] var prevB = 0L
    @transient private[this] var prevDiag = 0
    @transient private[this] var prevPa = 0
    override protected def initializeInternal(partitionIndex: Int): Unit = started = false
    override protected def evalInternal(row: InternalRow): Any = {
      val va = a.eval(row).asInstanceOf[Long]
      val vb = b.eval(row).asInstanceOf[Long]
      val vpa = pa.eval(row).asInstanceOf[Int]
      val diag = vpa - pb.eval(row).asInstanceOf[Int]
      val head = !started || va != prevA || vb != prevB || diag != prevDiag ||
        vpa - prevPa >= gram
      started = true; prevA = va; prevB = vb; prevDiag = diag; prevPa = vpa
      head
    }
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): ChainHead = copy(c(0), c(1), c(2), c(3))
  }

  /** Cosine similarity of two float vectors (deterministic double accumulation). */
  case class CosineSim(left: Expression, right: Expression)
      extends GraftBinary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      Impl.cosineF(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Impl.cosineF($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
      copy(l, r)
  }

  /** Signed-random-projection LSH bucket for cosine ANN. */
  case class SrpBucket(child: Expression, bits: Int, seed: Long)
      extends GraftUnary with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      Impl.srpBucket(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bits, seed)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Impl.srpBucket($c, $bits, ${seed}L)")
    override protected def withNewChildInternal(c: Expression): SrpBucket = copy(child = c)
  }
}

/** Registers graft_* SQL functions via the public SparkSessionExtensions API:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import exprs._

  private def litInt(e: Expression): Int =
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"expected int literal, got $other")
    }
  private def litLong(e: Expression): Long =
    e.eval(null) match {
      case i: Int => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(s"expected long literal, got $other")
    }

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft.functions.exprs", name)

  override def apply(e: SparkSessionExtensions): Unit = {
    def reg(name: String)(builder: Seq[Expression] => Expression): Unit =
      e.injectFunction((FunctionIdentifier(name), info(name), (args: Seq[Expression]) => builder(args)))

    reg("graft_murmur128") { a => Murmur128Digest(a.head) }
    reg("graft_hash64") { a => Hash64(a.head) }
    reg("graft_content_key64") { a => ContentKey64(a.head) }
    reg("graft_shingles") { a => Shingles(a(0), litInt(a(1))) }
    reg("graft_minhash") { a => MinHashSig(a(0), litInt(a(1)), litLong(a(2))) }
    reg("graft_bands") { a => BandHashes(a(0), litInt(a(1))) }
    reg("graft_simhash64") { a => SimHash64(a.head) }
    reg("graft_simhash_keys") { a => SimHashKeys(a(0), litInt(a(1)), litInt(a(2))) }
    reg("graft_hamming") { a => HammingDist(a(0), a(1)) }
    reg("graft_intersect_size") { a => IntersectSize(a(0), a(1)) }
    reg("graft_jaccard") { a => JaccardSim(a(0), a(1)) }
    reg("graft_fingerprint64") { a => Fingerprint64(a.head) }
    reg("graft_winnow") { a => Winnow(a(0), litInt(a(1)), litInt(a(2))) }
    reg("graft_extend_match") { a => ExtendMatch(a(0), a(1), a(2), a(3), litInt(a(4))) }
    reg("graft_cosine") { a => CosineSim(a(0), a(1)) }
    reg("graft_srp_bucket") { a => SrpBucket(a(0), litInt(a(1)), litLong(a(2))) }
  }
}
