package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.GraftInterop
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Decodes an HBase `Bytes.toBytes`-encoded binary value into `typeName`
  * (one of int/long/short/float/double/boolean/string/bigdecimal).
  * Malformed input yields NULL — mirroring the reference's drop-not-fail
  * decode semantics (/root/reference .../ByteArrayValueMappers.java:154-164).
  *
  * Codegen emits a single static call into [[HBaseCodecs]], so the decode
  * stays inside whole-stage codegen.
  */
case class HBaseDecode(child: Expression, typeName: String) extends UnaryExpression {

  override def dataType: DataType = typeName match {
    case "int"        => IntegerType
    case "long"       => LongType
    case "short"      => ShortType
    case "float"      => FloatType
    case "double"     => DoubleType
    case "boolean"    => BooleanType
    case "string"     => StringType
    case "bigdecimal" => DecimalType(38, 18)
    case other => throw new IllegalArgumentException(s"unknown hbase type: $other")
  }

  // decode can return null for malformed input even when the input is non-null
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    typeName match {
      case "int"     => HBaseCodecs.bytesToInt(b)
      case "long"    => HBaseCodecs.bytesToLong(b)
      case "short"   => HBaseCodecs.bytesToShort(b)
      case "float"   => HBaseCodecs.bytesToFloat(b)
      case "double"  => HBaseCodecs.bytesToDouble(b)
      case "boolean" => HBaseCodecs.bytesToBoolean(b)
      case "string"  => UTF8String.fromBytes(b)
      case "bigdecimal" =>
        val jbd = HBaseCodecs.bytesToBigDecimal(b)
        if (jbd == null) null
        else {
          val d = Decimal(jbd)
          if (d.changePrecision(38, 18)) d else null
        }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = "graft.expr.HBaseCodecs"
    val (boxed, unbox) = typeName match {
      case "int"     => (s"$helper.bytesToInt",     ".intValue()")
      case "long"    => (s"$helper.bytesToLong",    ".longValue()")
      case "short"   => (s"$helper.bytesToShort",   ".shortValue()")
      case "float"   => (s"$helper.bytesToFloat",   ".floatValue()")
      case "double"  => (s"$helper.bytesToDouble",  ".doubleValue()")
      case "boolean" => (s"$helper.bytesToBoolean", ".booleanValue()")
      case "string"  => ("org.apache.spark.unsafe.types.UTF8String.fromBytes", "")
      case "bigdecimal" => ("", "")
    }
    val tmp = ctx.freshName("decoded")
    nullSafeCodeGen(ctx, ev, c => typeName match {
      case "string" =>
        s"${ev.value} = $boxed($c);"
      case "bigdecimal" =>
        s"""
        java.math.BigDecimal $tmp = $helper.bytesToBigDecimal($c);
        if ($tmp == null) { ${ev.isNull} = true; }
        else {
          org.apache.spark.sql.types.Decimal ${tmp}d = org.apache.spark.sql.types.Decimal.apply($tmp);
          if (${tmp}d.changePrecision(38, 18)) { ${ev.value} = ${tmp}d; } else { ${ev.isNull} = true; }
        }
        """
      case t =>
        s"""
        ${boxedJavaType(t)} $tmp = (${boxedJavaType(t)}) $boxed($c);
        if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp$unbox; }
        """
    })
  }

  private def boxedJavaType(t: String): String = t match {
    case "int"    => "java.lang.Integer"
    case "long"   => "java.lang.Long"
    case "short"  => "java.lang.Short"
    case "float"   => "java.lang.Float"
    case "double"  => "java.lang.Double"
    case "boolean" => "java.lang.Boolean"
    case _         => "java.lang.Object"
  }

  override protected def withNewChildInternal(newChild: Expression): HBaseDecode =
    copy(child = newChild)

  override def prettyName: String = s"hbase_to_$typeName"
}

/** Encodes a typed value into HBase `Bytes.toBytes` binary form — the
  * inverse of [[HBaseDecode]], used for round-trip tests and for writing
  * cell fixtures. */
case class HBaseEncode(child: Expression, typeName: String) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val expected: DataType = typeName match {
      case "int" => IntegerType
      case "long" => LongType
      case "short" => ShortType
      case "float" => FloatType
      case "double" => DoubleType
      case "boolean" => BooleanType
      case "string" => StringType
      case "bigdecimal" => DecimalType(38, 18)
      case _ => NullType
    }
    if (child.dataType == expected)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hbase_from_$typeName expects $expected, got ${child.dataType}")
  }

  override def nullSafeEval(input: Any): Any = typeName match {
    case "int"     => HBaseCodecs.intToBytes(input.asInstanceOf[Int])
    case "long"    => HBaseCodecs.longToBytes(input.asInstanceOf[Long])
    case "short"   => HBaseCodecs.shortToBytes(input.asInstanceOf[Short])
    case "float"   => HBaseCodecs.floatToBytes(input.asInstanceOf[Float])
    case "double"  => HBaseCodecs.doubleToBytes(input.asInstanceOf[Double])
    case "boolean" => HBaseCodecs.booleanToBytes(input.asInstanceOf[Boolean])
    case "string"  => input.asInstanceOf[UTF8String].getBytes
    case "bigdecimal" =>
      HBaseCodecs.bigDecimalToBytes(input.asInstanceOf[Decimal].toJavaBigDecimal)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = "graft.expr.HBaseCodecs"
    val call = typeName match {
      case "int"     => (c: String) => s"$helper.intToBytes($c)"
      case "long"    => (c: String) => s"$helper.longToBytes($c)"
      case "short"   => (c: String) => s"$helper.shortToBytes($c)"
      case "float"   => (c: String) => s"$helper.floatToBytes($c)"
      case "double"  => (c: String) => s"$helper.doubleToBytes($c)"
      case "boolean" => (c: String) => s"$helper.booleanToBytes($c)"
      case "string"  => (c: String) => s"$c.getBytes()"
      case "bigdecimal" => (c: String) => s"$helper.bigDecimalToBytes($c.toJavaBigDecimal())"
    }
    defineCodeGen(ctx, ev, call)
  }

  override protected def withNewChildInternal(newChild: Expression): HBaseEncode =
    copy(child = newChild)

  override def prettyName: String = s"hbase_from_$typeName"
}

/** All SRP band codes of a quantized vector in ONE compiled pass: band b
  * is `planesPerBand` sign bits of integer dot products with rows
  * b*planesPerBand+j of the coefficient matrix. One expression node means
  * the (possibly expensive) child — e.g. the quantize `transform` — is
  * evaluated ONCE per row; the naive per-plane formulation re-inlines the
  * child into every dot product after projection collapse (the d08 plan
  * showed 64 copies of the quantize lambda). */
case class SrpCodes(child: Expression, coefs: Array[Array[Long]], planesPerBand: Int)
    extends UnaryExpression {

  require(coefs.nonEmpty && coefs.length % planesPerBand == 0,
    s"coefs rows (${coefs.length}) must be a multiple of planesPerBand ($planesPerBand)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"srp_codes expects array<bigint>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    SrpCodes.compute(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      coefs, planesPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("coefs", coefs, "long[][]")
    nullSafeCodeGen(ctx, ev, q =>
      s"${ev.value} = graft.expr.SrpCodes.compute($q, $ref, $planesPerBand);")
  }

  override protected def withNewChildInternal(newChild: Expression): SrpCodes =
    copy(child = newChild)

  override def prettyName: String = "srp_codes"
}

/** Nearest-centroid ARGMAX in one compiled pass: the winning centroid id
  * by exact-integer-dot cosine against a literal codebook, ties toward
  * the smaller id (ids iterate ascending; only a strictly greater sim
  * displaces the winner). Value-identical to `greatest` over the
  * (sim, −c_id) ranking structs — but one helper call instead of a
  * k-way inlined struct comparison, so the generated code stays small
  * (the struct formulation's janino compile time dominated the tiny-SF
  * bench for every ANN query) and the per-row loop is branch-light.
  * A zero norm on either side scores 0.0, the centroidEntries rule. */
case class BestCentroid(left: Expression, right: Expression,
                        ids: Array[Long], vecs: Array[Array[Long]],
                        norms: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  require(ids.length == vecs.length && ids.length == norms.length && ids.nonEmpty)
  // ids must ascend so "strictly greater displaces" == "ties pick smaller id"
  require(ids.zip(ids.tail).forall { case (a, b) => a < b },
    "BestCentroid requires ascending centroid ids")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"best_centroid expects (array<bigint>, bigint), got $other")
    }

  override def nullSafeEval(q: Any, nq: Any): Any =
    BestCentroid.compute(q.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      nq.asInstanceOf[Long], ids, vecs, norms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("ids", ids, "long[]")
    val vecsRef = ctx.addReferenceObj("vecs", vecs, "long[][]")
    val normsRef = ctx.addReferenceObj("norms", norms, "long[]")
    nullSafeCodeGen(ctx, ev, (q, nq) =>
      s"${ev.value} = graft.expr.BestCentroid.compute($q, $nq, $idsRef, $vecsRef, $normsRef);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): BestCentroid =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "best_centroid"
}

object BestCentroid {
  def compute(q: org.apache.spark.sql.catalyst.util.ArrayData, nq: Long,
              ids: Array[Long], vecs: Array[Array[Long]],
              norms: Array[Long]): Long = {
    var bestSim = Double.NegativeInfinity
    var bestId = 0L
    val sq = if (nq == 0L) 0.0 else math.sqrt(nq.toDouble)
    var c = 0
    while (c < ids.length) {
      val sim =
        if (norms(c) == 0L || nq == 0L) 0.0
        else {
          val v = vecs(c)
          // the long_dot convention: iterate min(len) — a mismatched
          // vector scores like a truncated one, identical to the
          // literal-array formulation this replaces
          val n = math.min(q.numElements(), v.length)
          var dot = 0L
          var i = 0
          while (i < n) { dot += q.getLong(i) * v(i); i += 1 }
          dot.toDouble / (sq * math.sqrt(norms(c).toDouble))
        }
      if (sim > bestSim) { bestSim = sim; bestId = ids(c) }
      c += 1
    }
    bestId
  }
}

/** Full random-projection of a quantized vector in ONE compiled pass:
  * output element p (p < rows) is the exact integer dot with coefficient
  * row p; the LAST element is the reduced vector's norm Σ r_p². One
  * expression node means the (possibly expensive) child — the quantize
  * `transform` — is evaluated ONCE per row; the per-output-dim `long_dot`
  * formulation re-inlines the child into every dot AND into the norm
  * after projection collapse (measured: ~34 interpreted quantize evals
  * per row on the a15 plan), and the interpreted lambda blocks
  * whole-stage codegen for the entire projection. */
case class RpProject(child: Expression, coefs: Array[Array[Long]])
    extends UnaryExpression {

  require(coefs.nonEmpty)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rp_project expects array<bigint>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    RpProject.compute(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], coefs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("coefs", coefs, "long[][]")
    nullSafeCodeGen(ctx, ev, q =>
      s"${ev.value} = graft.expr.RpProject.compute($q, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): RpProject =
    copy(child = newChild)

  override def prettyName: String = "rp_project"
}

object RpProject {
  def compute(q: org.apache.spark.sql.catalyst.util.ArrayData,
              coefs: Array[Array[Long]]):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val rows = coefs.length
    val dim = q.numElements()
    // same loud-failure contract as srp_codes: a mismatched vector would
    // silently truncate/zero-pad the projection
    if (dim != coefs(0).length)
      throw new IllegalArgumentException(
        s"rp_project: vector has $dim dims but the projection matrix was " +
          s"built for ${coefs(0).length} — pass the actual embedding dimension as `dim`")
    val out = new Array[Long](rows + 1)
    var norm = 0L
    var p = 0
    while (p < rows) {
      val c = coefs(p)
      var dot = 0L
      var d = 0
      while (d < dim) { dot += q.getLong(d) * c(d); d += 1 }
      out(p) = dot
      norm += dot * dot
      p += 1
    }
    out(rows) = norm
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

object SrpCodes {
  def compute(q: org.apache.spark.sql.catalyst.util.ArrayData,
              coefs: Array[Array[Long]], planesPerBand: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val bands = coefs.length / planesPerBand
    val out = new Array[Long](bands)
    val dim = q.numElements()
    // the hyperplane rows were materialized for a declared dimension at
    // plan time; a vector of any other length would silently truncate or
    // zero-pad the dot products — buckets would diverge from the
    // dim-agnostic srpBucket with recall quietly degrading, so fail loudly
    if (dim != coefs(0).length)
      throw new IllegalArgumentException(
        s"srp_codes: vector has $dim dims but hyperplanes were built for " +
          s"${coefs(0).length} — pass the actual embedding dimension as `dim`")
    var b = 0
    while (b < bands) {
      var code = 0L
      var j = 0
      while (j < planesPerBand) {
        val c = coefs(b * planesPerBand + j)
        val n = c.length
        var dot = 0L
        var d = 0
        while (d < n) { dot += q.getLong(d) * c(d); d += 1 }
        if (dot > 0) code |= (1L << j)
        j += 1
      }
      out(b) = code
      b += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** Pack an `array<long>` of small codes into one long, `bitsPerElem`
  * bits per element (element i at bits [i·b, (i+1)·b)). With 32 SRP
  * bands × 2 planes the whole band-code vector is 64 bits — one word
  * carried through a join instead of a ~270-byte array. */
case class LongArrayPack(child: Expression, bitsPerElem: Int) extends UnaryExpression {
  require(bitsPerElem > 0 && bitsPerElem <= 63)

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pack expects array<bigint>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    var out = 0L
    var i = 0
    val n = a.numElements()
    while (i < n) { out |= a.getLong(i) << (i * bitsPerElem); i += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      s"""
      ${ev.value} = 0L;
      for (int $i = 0; $i < $a.numElements(); $i++) {
        ${ev.value} |= $a.getLong($i) << ($i * $bitsPerElem);
      }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): LongArrayPack =
    copy(child = newChild)

  override def prettyName: String = "pack_codes"
}

/** Index of the first `bitsPerElem`-bit group where two packed code
  * words agree — an early-exit scan over bit groups. Groups
  * beyond the real band count are zero in both words and thus "equal",
  * but a joined candidate always agrees at its real join band first, so
  * the spurious tail can never be the minimum. */
case class PackedFirstEq(left: Expression, right: Expression, bitsPerElem: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(bitsPerElem > 0 && bitsPerElem <= 63)

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"packed_first_eq expects (bigint, bigint), got (${left.dataType}, ${right.dataType})")

  override def nullSafeEval(a: Any, b: Any): Any =
    PackedFirstEq.firstEq(a.asInstanceOf[Long], b.asInstanceOf[Long], bitsPerElem)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.PackedFirstEq.firstEq($a, $b, $bitsPerElem);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PackedFirstEq =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "packed_first_eq"
}

object PackedFirstEq {
  def firstEq(a: Long, b: Long, bits: Int): Int = {
    val mask = (1L << bits) - 1
    val groups = 64 / bits
    var g = 0
    var diff = a ^ b
    while (g < groups) {
      if ((diff & mask) == 0L) return g
      diff >>>= bits
      g += 1
    }
    -1
  }
}

/** Exact dot product of two `array<long>` columns as a single codegen'd
  * loop over the unsafe array data — no per-pair array allocation, unlike
  * the `aggregate(zip_with(...))` formulation, which builds an
  * intermediate array per evaluation. This is the hot inner loop of the
  * similarity operators (embedding near-dup is O(pairs × dim)).
  * Arrays are assumed element-non-null (quantized vectors); if lengths
  * differ the shorter prefix is used. */
case class LongDotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"long_dot expects (array<bigint>, array<bigint>), got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
      int $n = java.lang.Math.min($a.numElements(), $b.numElements());
      long ${ev.value}_acc = 0L;
      for (int $i = 0; $i < $n; $i++) {
        ${ev.value}_acc += $a.getLong($i) * $b.getLong($i);
      }
      ${ev.value} = ${ev.value}_acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "long_dot"
}

/** Distinct 60-bit md5 hashes of all k-character substrings, one
  * compiled pass — the char-shingle analog of [[ShingleHashes60]] for
  * edit-level similarity banding. */
case class CharShingles60(child: Expression, k: Int, sampleMod: Int = 1)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      TextHash.charShingles60(input.asInstanceOf[UTF8String], k, sampleMod))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         .fromPrimitiveArray(graft.expr.TextHash.charShingles60($c, $k, $sampleMod));""")

  override protected def withNewChildInternal(newChild: Expression): CharShingles60 =
    copy(child = newChild)
  override def prettyName: String = "char_shingles60"
}

/** Threshold-bounded Levenshtein distance as a compiled kernel —
  * value-identical to `levenshtein(a, b, maxDist)` (exact distance when
  * ≤ maxDist, else −1). The built-in's interpreted path measured ~5 ms
  * per ~300-char pair on the d21 verification set (it walks UTF8 bytes
  * per character access); [[TextHash.boundedLevenshtein]] decodes once
  * and runs the Ukkonen band with early exit. */
case class BoundedLevenshtein(left: Expression, right: Expression, maxDist: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bounded_levenshtein expects (string, string), got (${left.dataType}, ${right.dataType})")

  override def nullSafeEval(a: Any, b: Any): Any =
    TextHash.boundedLevenshtein(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], maxDist)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.TextHash.boundedLevenshtein($a, $b, $maxDist);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BoundedLevenshtein =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "bounded_levenshtein"
}

/** Distinct 60-bit md5 hashes of the word n-gram shingles of a text
  * column, as one compiled pass per document (tokenize → n-grams → md5 →
  * dedup). Replaces an interpreted `transform`/`array_distinct` chain —
  * higher-order functions don't codegen, and their per-element
  * interpretation dominated the dedup operators' runtime. Value-identical
  * to `array_distinct(transform(shingles, conv(substring(md5(s),1,15),16,10)))`. */
case class ShingleHashes60(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      TextHash.shingleHashes60(input.asInstanceOf[UTF8String], n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         .fromPrimitiveArray(graft.expr.TextHash.shingleHashes60($c, $n));""")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes60 =
    copy(child = newChild)
  override def prettyName: String = "shingle_hashes60"
}

/** MinHash signature (length k) of a shingle-hash array via the affine
  * permutations in [[TextHash]] — one compiled pass instead of k
  * interpreted `array_min(transform(...))` scans. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      TextHash.minhashSig(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray(), k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         .fromPrimitiveArray(graft.expr.TextHash.minhashSig($c.toLongArray(), $k));""")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

/** SimHash fingerprint of a text column (compiled tokenize+vote pass).
  * Null for null/empty documents. */
case class SimHash(child: Expression, bits: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    TextHash.simhash(input.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tmp = ctx.freshName("sh")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
      java.lang.Long $tmp = graft.expr.TextHash.simhash($c, $bits);
      if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
  override def prettyName: String = "simhash"
}

/** Winnowing fingerprint selection (distinct window-min k-gram hashes,
  * compiled pass — see [[TextHash.winnow]]). */
case class WinnowHashes(child: Expression, k: Int, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      TextHash.winnow(input.asInstanceOf[UTF8String], k, w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         .fromPrimitiveArray(graft.expr.TextHash.winnow($c, $k, $w));""")

  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)
  override def prettyName: String = "winnow_hashes"
}

/** Positional token n-grams of a text column as (w1..wn: string)
  * structs — [[TextHash.tokenNgrams]] as one compiled pass, replacing
  * the interpreted `transform(sequence(1, size-n+1), i ->
  * struct(element_at(_tk, i), ...))` HOF chain in the LM/census gram
  * builders. Tokenization ≡ `split(trim(text), "\s+")`; fewer than n
  * tokens (including empty/whitespace-only text) yields an empty
  * array, so `explode` downstream drops the document without a
  * `size()` guard. */
case class TokenNgrams(child: Expression, n: Int) extends UnaryExpression {
  // construction-time guard (the sibling kernels' require(k >= 2)
  // discipline): n = 0 would emit tokens+1 empty structs and n < 0 a
  // nonsensical dataType, surfacing only as a runtime failure downstream
  require(n >= 1, s"n must be at least 1, got $n")
  override def dataType: DataType = ArrayType(
    StructType((1 to n).map(i => StructField(s"w$i", StringType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextHash.tokenNgrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.TextHash.tokenNgrams($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): TokenNgrams =
    copy(child = newChild)
  override def prettyName: String = "token_ngrams"
}

/** Positional (non-distinct) 60-bit k-gram hashes of a text column —
  * [[TextHash.kgramHashes60]] as one compiled pass. Element i hashes
  * tokens i..i+n-1; `posexplode` downstream recovers (position, hash)
  * for span-level exact-substring dedup. */
case class KgramHashes60(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      TextHash.kgramHashes60(input.asInstanceOf[UTF8String], n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         .fromPrimitiveArray(graft.expr.TextHash.kgramHashes60($c, $n));""")

  override protected def withNewChildInternal(newChild: Expression): KgramHashes60 =
    copy(child = newChild)
  override def prettyName: String = "kgram_hashes60"
}

/** Positional (non-distinct) 60-bit CHAR k-gram hashes of a text column
  * over its whitespace-normalized form — [[TextHash.charKgramHashes60]]
  * as one compiled pass; the character-granular twin of
  * [[KgramHashes60]] for ExactSubstr dedup where duplication ignores
  * token boundaries. */
case class CharKgramHashes60(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      TextHash.charKgramHashes60(input.asInstanceOf[UTF8String], k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         .fromPrimitiveArray(graft.expr.TextHash.charKgramHashes60($c, $k));""")

  override protected def withNewChildInternal(newChild: Expression): CharKgramHashes60 =
    copy(child = newChild)
  override def prettyName: String = "char_kgram_hashes60"
}

/** [[CharKgramHashes60]] with the O(len) rolling-polynomial kernel
  * ([[TextHash.charKgramHashesRolling]]) — the opt-in scale path when
  * the per-window digest, not the shuffle, is the bill; cut decisions
  * are equality-class-based, so the swap is behavior-preserving
  * (DedupSpec pins md5≡rolling outputs). */
case class CharKgramHashesRolling(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      TextHash.charKgramHashesRolling(input.asInstanceOf[UTF8String], k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         .fromPrimitiveArray(graft.expr.TextHash.charKgramHashesRolling($c, $k));""")

  override protected def withNewChildInternal(newChild: Expression): CharKgramHashesRolling =
    copy(child = newChild)
  override def prettyName: String = "char_kgram_hashes_rolling"
}

/** Char-granular span removal: drop every character of the normalized
  * text covered by a k-char window starting at any 1-based position in
  * `starts`; survivors concatenate directly —
  * [[TextHash.removeCharSpans]] as one compiled pass. */
case class RemoveCharSpans(left: Expression, right: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"remove_char_spans expects (string, array<bigint>), got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    TextHash.removeCharSpans(a.asInstanceOf[UTF8String],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.TextHash.removeCharSpans($a, $b, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RemoveCharSpans =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "remove_char_spans"
}

/** Maximal duplicated-run merge for variable-length exact-substring
  * reporting: fuse 1-based k-token window starts (array<bigint>) whose
  * covers overlap or touch into array<struct<start, end>> — the
  * seed-and-extend step that turns fixed-k duplicate windows into true
  * duplicated-span extents. [[TextHash.mergeWindowRuns]] as one compiled
  * pass per document (no window functions, no extra shuffle). */
case class MergeWindowRuns(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    new StructType()
      .add("start", LongType, nullable = false)
      .add("end", LongType, nullable = false),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"merge_window_runs expects array<bigint>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    TextHash.mergeWindowRuns(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.TextHash.mergeWindowRuns($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): MergeWindowRuns =
    copy(child = newChild)
  override def prettyName: String = "merge_window_runs"
}

/** Span removal for exact-substring dedup: drop every token of `text`
  * covered by a k-token window starting at any 1-based position in
  * `starts` (array<bigint>), survivors re-joined by single spaces —
  * [[TextHash.removeTokenSpans]] as one compiled pass instead of an
  * interpreted boolean-mask `aggregate`/`transform` chain. */
case class RemoveTokenSpans(left: Expression, right: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"remove_token_spans expects (string, array<bigint>), got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    TextHash.removeTokenSpans(a.asInstanceOf[UTF8String],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.TextHash.removeTokenSpans($a, $b, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RemoveTokenSpans =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "remove_token_spans"
}

/** Column-level API for the codec expressions plus the key-formatter and
  * sharding helpers (built from codegen'd built-ins where possible). */
object hfunctions {
  import org.apache.spark.sql.functions._

  private def col2expr(c: Column): Expression = GraftInterop.expression(c)
  private def expr2col(e: Expression): Column = GraftInterop.column(e)

  def hbase_decode(c: Column, typ: String): Column = expr2col(HBaseDecode(col2expr(c), typ))
  def hbase_encode(c: Column, typ: String): Column = expr2col(HBaseEncode(col2expr(c), typ))

  /** exact dot product of two `array<long>` columns (codegen'd loop) */
  def long_dot(a: Column, b: Column): Column = expr2col(LongDotProduct(col2expr(a), col2expr(b)))

  /** pack an array of small codes into one long, `bits` bits each */
  def pack_codes(a: Column, bits: Int): Column = expr2col(LongArrayPack(col2expr(a), bits))

  /** first `bits`-bit group where two packed words agree */
  def packed_first_eq(a: Column, b: Column, bits: Int): Column =
    expr2col(PackedFirstEq(col2expr(a), col2expr(b), bits))

  /** all SRP band codes of a quantized vector in one compiled pass */
  def srp_codes(q: Column, coefs: Array[Array[Long]], planesPerBand: Int): Column =
    expr2col(SrpCodes(col2expr(q), coefs, planesPerBand))

  /** random-projection dots + reduced norm in one compiled pass */
  def rp_project(q: Column, coefs: Array[Array[Long]]): Column =
    expr2col(RpProject(col2expr(q), coefs))

  /** nearest-centroid argmax (ascending ids; ties toward the smaller) */
  def best_centroid(q: Column, nq: Column, ids: Array[Long],
                    vecs: Array[Array[Long]], norms: Array[Long]): Column =
    expr2col(BestCentroid(col2expr(q), col2expr(nq), ids, vecs, norms))

  /** all per-document text statistics in one compiled pass */
  def text_stats(text: Column, wordLists: Seq[Seq[String]]): Column =
    expr2col(TextStats(col2expr(text), wordLists))

  /** distinct 60-bit md5 shingle hashes of a text column (compiled pass) */
  def shingle_hashes60(text: Column, n: Int): Column = expr2col(ShingleHashes60(col2expr(text), n))
  def bounded_levenshtein(a: Column, b: Column, maxDist: Int): Column =
    expr2col(BoundedLevenshtein(col2expr(a), col2expr(b), maxDist))
  def char_shingles60(text: Column, k: Int): Column =
    expr2col(CharShingles60(col2expr(text), k))
  def char_shingles60(text: Column, k: Int, sampleMod: Int): Column =
    expr2col(CharShingles60(col2expr(text), k, sampleMod))

  /** minhash signature of a shingle-hash array (compiled pass) */
  def minhash_sig(hs: Column, k: Int): Column = expr2col(MinHashSig(col2expr(hs), k))

  /** positional 60-bit k-gram hashes of a text column (compiled pass) */
  def kgram_hashes60(text: Column, n: Int): Column =
    expr2col(KgramHashes60(col2expr(text), n))

  /** positional token n-grams as (w1..wn) structs (compiled pass) */
  def token_ngrams(text: Column, n: Int): Column =
    expr2col(TokenNgrams(col2expr(text), n))

  /** Positional char k-gram hashes over whitespace-normalized text. */
  def char_kgram_hashes60(text: Column, k: Int): Column =
    expr2col(CharKgramHashes60(col2expr(text), k))

  /** O(len) rolling-hash twin of [[char_kgram_hashes60]]. */
  def char_kgram_hashes_rolling(text: Column, k: Int): Column =
    expr2col(CharKgramHashesRolling(col2expr(text), k))

  /** Char-granular cover-mask span removal over normalized text. */
  def remove_char_spans(text: Column, starts: Column, k: Int): Column =
    expr2col(RemoveCharSpans(col2expr(text), col2expr(starts), k))

  /** drop tokens covered by k-token windows at the given 1-based starts */
  def remove_token_spans(text: Column, starts: Column, k: Int): Column =
    expr2col(RemoveTokenSpans(col2expr(text), col2expr(starts), k))

  /** merge k-token window starts into maximal (start, end) runs */
  def merge_window_runs(starts: Column, k: Int): Column =
    expr2col(MergeWindowRuns(col2expr(starts), k))

  /** merges-table BPE subword token count (compiled merge loop) */
  def bpe_count(text: Column, encoder: BpeEncoder): Column =
    expr2col(BpeCount(col2expr(text), encoder))

  /** fold a LongType hash column into ONE fixed-size Bloom-filter blob
    * (Spark's own runtime-filter aggregate — `numBits` bounds the blob
    * regardless of input cardinality; empty input folds to NULL) */
  def bloom_filter_agg(h: Column, estItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    expr2col(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(col2expr(h), Literal(estItems), Literal(numBits))
      .toAggregateExpression())
  }

  /** membership probe of a long hash against a Bloom blob (one-sided:
    * false positives possible, false negatives never; NULL blob → NULL) */
  def might_contain(bf: Column, h: Column): Column =
    expr2col(org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(col2expr(bf), col2expr(h)))

  /** simhash fingerprint of a text column (compiled pass) */
  def simhash_c(text: Column, bits: Int): Column = expr2col(SimHash(col2expr(text), bits))

  /** winnowing fingerprint hashes of a text column (compiled pass) */
  def winnow_hashes(text: Column, k: Int, w: Int): Column = expr2col(WinnowHashes(col2expr(text), k, w))

  /** bounded-heap top-k aggregate: array<struct<n_id,sim,rk>> of the k
    * highest-scoring (score,id) pairs per group, partial-aggregated
    * map-side so the shuffle carries ≤ groups×k rows */
  def topk_by(score: Column, id: Column, k: Int): Column =
    expr2col(TopKByScore(col2expr(score), col2expr(id), k).toAggregateExpression())

  /** string-keyed bounded-heap top-k aggregate: array<struct<id,vals,rk>>
    * of the k best (long score desc, string key asc) entries per group
    * with `payload` long columns riding along — the no-join-back variant
    * for rankings whose key is a string that must surface in the output */
  def topk_by_str(score: Column, key: Column, payload: Seq[Column], k: Int): Column =
    expr2col(TopKByScoreStr(col2expr(score), col2expr(key),
      payload.map(col2expr), k).toAggregateExpression())

  /** compiled BM25 scoring pass: every positive (q_id, score_q) of the
    * plan-frozen query set for one document ([[Bm25Scores]]) — one
    * tokenize + hash-count pass instead of an interpreted array-filter
    * scan per (query, term) */
  def bm25_scores(text: Column, scorer: Bm25Scorer): Column =
    expr2col(Bm25Scores(col2expr(text), scorer))

  /** K-minimum-values distinct-count synopsis: ascending array of the
    * ≤ k smallest DISTINCT hashes of the group ([[KmvSketch]]); dedup
    * happens inside the bounded buffer, so the exchange carries
    * ≤ groups×k longs instead of a (group, hash) distinct shuffle */
  def kmv_sketch(h: Column, k: Int): Column =
    expr2col(KmvSketch(col2expr(h), k).toAggregateExpression())

  /** bounded (id, n) collection with an exact group count: the memory-safe
    * aggregate behind df-capped pair generation ([[CollectCapped]]) */
  def collect_capped(id: Column, n: Column, limit: Int): Column =
    expr2col(CollectCapped(col2expr(id), col2expr(n), limit).toAggregateExpression())

  // ---- the compiled mapping kernels over a `cells` array ([[CellKernel]]) ----

  /** the document map of an indexer's field table */
  def cell_doc_map(cells: Column, fields: Seq[CellField]): Column =
    expr2col(CellDocMap(col2expr(cells), fields))

  /** one field's values, in extraction order */
  def cell_field_values(cells: Column, field: CellField): Column =
    expr2col(CellFieldValues(col2expr(cells), field))

  /** some cell is a delete or matches a field */
  def cells_relevant(cells: Column, fields: Seq[CellField]): Column =
    expr2col(CellsRelevant(col2expr(cells), fields))

  /** a single cell, of any type, matches some field */
  def cell_matches(cell: Column, fields: Seq[CellField]): Column =
    expr2col(CellMatches(col2expr(cell), fields))

  /** every (exact) field matches some put-cell */
  def cells_complete(cells: Column, fields: Seq[CellField]): Column =
    expr2col(CellsComplete(col2expr(cells), fields))

  /** the put-cells, stably sorted by (family, qualifier) */
  def sorted_put_cells(cells: Column): Column = expr2col(SortedPutCells(col2expr(cells)))

  def hbase_to_int(c: Column): Column = hbase_decode(c, "int")
  def hbase_to_long(c: Column): Column = hbase_decode(c, "long")
  def hbase_to_short(c: Column): Column = hbase_decode(c, "short")
  def hbase_to_float(c: Column): Column = hbase_decode(c, "float")
  def hbase_to_double(c: Column): Column = hbase_decode(c, "double")
  def hbase_to_boolean(c: Column): Column = hbase_decode(c, "boolean")
  def hbase_to_string(c: Column): Column = hbase_decode(c, "string")
  def hbase_to_bigdecimal(c: Column): Column = hbase_decode(c, "bigdecimal")

  def hbase_from_int(c: Column): Column = hbase_encode(c, "int")
  def hbase_from_long(c: Column): Column = hbase_encode(c, "long")
  def hbase_from_short(c: Column): Column = hbase_encode(c, "short")
  def hbase_from_float(c: Column): Column = hbase_encode(c, "float")
  def hbase_from_double(c: Column): Column = hbase_encode(c, "double")
  def hbase_from_boolean(c: Column): Column = hbase_encode(c, "boolean")
  def hbase_from_string(c: Column): Column = hbase_encode(c, "string")
  def hbase_from_bigdecimal(c: Column): Column = hbase_encode(c, "bigdecimal")

  // ---- unique-key formatting (reference StringUniqueKeyFormatter.java:24-67,
  //      BaseUniqueKeyFormatter.java:51-90, HexUniqueKeyFormatter.java:21-35) ----

  /** Escape one id component: a literal '-' becomes "\-" so the joined id
    * can be split again on unescaped hyphens. */
  def key_escape(c: Column): Column = regexp_replace(c, "-", "\\\\-")

  def key_unescape(c: Column): Column = regexp_replace(c, "\\\\-", "-")

  /** `string` formatter: join non-null components with '-' after escaping. */
  def format_key(components: Column*): Column =
    concat_ws("-", components.map(key_escape): _*)

  /** Inverse of [[format_key]]: split on unescaped '-' then unescape. */
  def unformat_key(id: Column): Column =
    transform(split(id, "(?<!\\\\)-"), key_unescape(_))

  /** `hex` formatter: lowercase hex of the raw bytes (binary-safe). */
  def format_key_hex(c: Column): Column = lower(hex(c))

  def unformat_key_hex(c: Column): Column = unhex(c)

  /** MD5 sharder: first 2 bytes of md5(id) mod numShards — bit-for-bit the
    * reference routing (/root/reference .../HashSharder.java:38-48). Built
    * from codegen'd built-ins: md5 → first 4 hex chars → int → mod. */
  def md5_shard(id: Column, numShards: Int): Column =
    pmod(conv(substring(md5(id.cast("binary")), 1, 4), 16, 10).cast("int"), lit(numShards))

  /** SolrCloud-compatible shard route: murmur3_x86_32 compositeId hash
    * into even 32-bit ranges ([[graft.expr.SolrRouteHash]]) — offline
    * shards match live NRT routing bit-for-bit. */
  def solr_shard(id: Column, numShards: Int): Column =
    expr2col(SolrShard(col2expr(id), numShards))
}
