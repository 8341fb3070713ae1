package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Product-quantization codec expressions with the trained codebooks
  * BAKED IN as literal state — the piece that makes PQ encode a pure
  * map over the corpus instead of an explode→broadcast-join→groupBy→
  * join-back dataflow (measured: the DataFrame form cost ~14 tiny
  * shuffle stages on the a6 path; this is zero).
  *
  * A codebook is m·ksub·dsub doubles (the a6 gate config: 16·64·4 =
  * 4 K doubles, 32 KB) — driver state in every real PQ system (FAISS
  * holds codebooks in RAM and ships them to the scan); collecting it
  * once at plan build is a bounded metadata collect, same class as
  * the sizing pre-flights. Layout: `books(code·dsub + d)` with
  * GLOBAL codes (`sub·ksub + c`), matching [[PqAdc]]'s lut indexing.
  *
  * Both expressions are one fused loop inside whole-stage codegen
  * (m·ksub·dsub ≈ 4 K multiplies per row), deterministic
  * (index-order accumulation, ties to the lowest code), and degrade
  * on bad input instead of aborting (all-NaN subvector → the slot's
  * lowest code; the [[PqAdc]]/multi-probe NaN lesson).
  */
object PqCodec {

  /** Per-code squared norms, precomputed once at construction. Public
    * because the saved-index serving path reconstructs candidate
    * norms from these (`‖recon(x)‖² = Σ_sub ‖cent(code_sub)‖²` — an
    * ADC pass with this array as the lut), so the stored codes table
    * needs NO norm column at all.
    */
  def codeNorms(books: Array[Double], dsub: Int): Array[Double] = {
    val n = books.length / dsub
    val out = new Array[Double](n)
    var c = 0
    while (c < n) {
      var s = 0.0; var d = 0
      while (d < dsub) { s += books(c * dsub + d) * books(c * dsub + d); d += 1 }
      out(c) = s; c += 1
    }
    out
  }

  /** Bits per packed code: ⌈log₂ ksub⌉ (6 at the gate config's
    * ksub=64 — 16 codes pack into 12 bytes, the true entropy the
    * unpacked `array<int>` storage paid 72 B for).
    */
  def bitsPerCode(ksub: Int): Int =
    math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, ksub - 1)))
}

/** `pq_assign(vec)` → array<int> of m GLOBAL codes: per subspace the
  * L2-argmin codebook entry, via the `2·x·c − ‖c‖²` ordering (‖x‖²
  * is constant within a subspace) — ties to the lowest code. A hole
  * code (dead entry, all-zero row in `present=false`) never wins
  * because it is excluded by the `present` mask.
  */
case class PqAssign(child: Expression, books: Array[Double],
                    present: Array[Boolean], m: Int, ksub: Int, dsub: Int)
    extends UnaryExpression {

  private val cn2 = PqCodec.codeNorms(books, dsub)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_assign expects array<float|double>, got ${t.simpleString}")
  }

  // hoisted out of the per-element loops: a def here would pattern-
  // match dataType m·ksub·dsub times per row on the interpreted path
  @transient private lazy val childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val isFloat = childIsFloat
    val n = v.numElements()
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      var best = -1; var bestScore = Double.NegativeInfinity
      var c = sub * ksub
      val end = (sub + 1) * ksub
      while (c < end) {
        if (present(c)) {
          var s = 0.0; var d = 0
          while (d < dsub) {
            // short or null-holed vectors contribute 0 for the missing
            // elements — degrade like the other kernels (PqAdc,
            // HyperplaneProbeSketches), never read past the array or abort
            val i = sub * dsub + d
            if (i < n && !v.isNullAt(i)) {
              val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
              s += x * books(c * dsub + d)
            }
            d += 1
          }
          val score = 2.0 * s - cn2(c)
          // strict > keeps the LOWEST code on ties; NaN compares
          // false, so a degenerate subvector keeps the first present
          // code — degrade, don't abort
          if (best < 0 || score > bestScore) { best = c; bestScore = score }
        }
        c += 1
      }
      out(sub) = best
      sub += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "double[]")
    val cn2Ref   = ctx.addReferenceObj("pqCn2", cn2, "double[]")
    val presRef  = ctx.addReferenceObj("pqPresent", present, "boolean[]")
    val get = if (childIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val sub = ctx.freshName("sub"); val c = ctx.freshName("c")
      val d = ctx.freshName("d"); val s = ctx.freshName("s")
      val best = ctx.freshName("best"); val bestScore = ctx.freshName("bestScore")
      val score = ctx.freshName("score")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      s"""
         |int $n = $v.numElements();
         |int[] $out = new int[$m];
         |for (int $sub = 0; $sub < $m; $sub++) {
         |  int $best = -1; double $bestScore = Double.NEGATIVE_INFINITY;
         |  for (int $c = $sub * $ksub; $c < ($sub + 1) * $ksub; $c++) {
         |    if (!$presRef[$c]) continue;
         |    double $s = 0.0;
         |    for (int $d = 0; $d < $dsub; $d++) {
         |      int $i = $sub * $dsub + $d;
         |      if ($i < $n && !$v.isNullAt($i)) {
         |        $s += ((double) $v.$get($i)) * $booksRef[$c * $dsub + $d];
         |      }
         |    }
         |    double $score = 2.0 * $s - $cn2Ref[$c];
         |    if ($best < 0 || $score > $bestScore) { $best = $c; $bestScore = $score; }
         |  }
         |  $out[$sub] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  // Content-based equality: the case-class default compares the
  // Array params by REFERENCE, so two semantically identical kernels
  // built from separate collectBooks calls never compare equal —
  // defeating expression canonicalization, common-subexpression
  // elimination, and ReusedExchange matching across plan branches.
  override def equals(o: Any): Boolean = o match {
    case p: PqAssign =>
      p.m == m && p.ksub == ksub && p.dsub == dsub &&
        java.util.Arrays.equals(p.books, books) &&
        java.util.Arrays.equals(p.present, present) &&
        p.child == child
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(getClass, child, Int.box(m), Int.box(ksub),
      Int.box(dsub), Int.box(java.util.Arrays.hashCode(books)),
      Int.box(java.util.Arrays.hashCode(present)))

  override protected def withNewChildInternal(newChild: Expression): PqAssign =
    copy(child = newChild)
}

object PqAssign {
  def apply(vec: Column, books: Array[Double], present: Array[Boolean],
            m: Int, ksub: Int, dsub: Int): Column =
    Bridge.column(PqAssign(Bridge.expression(vec), books, present, m, ksub, dsub))
}

/** `pq_lut(qvec)` → array<double> of m·ksub ADC lookup values:
  * `lut(code) = dot(q_sub, cent(code))`, hole codes 0.0 (never read —
  * [[PqAssign]] cannot emit them). The per-query half of the ADC
  * identity, one fused loop, map-side.
  */
case class PqLut(child: Expression, books: Array[Double],
                 present: Array[Boolean], m: Int, ksub: Int, dsub: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_lut expects array<float|double>, got ${t.simpleString}")
  }

  // hoisted — see PqAssign's note
  @transient private lazy val childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val isFloat = childIsFloat
    val n = v.numElements()
    val out = new Array[Double](m * ksub)
    var c = 0
    while (c < m * ksub) {
      if (present(c)) {
        val sub = c / ksub
        var s = 0.0; var d = 0
        while (d < dsub) {
          // missing/null elements contribute 0 — degrade, don't abort
          // (PqAssign's guard, same rationale)
          val i = sub * dsub + d
          if (i < n && !v.isNullAt(i)) {
            val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
            s += x * books(c * dsub + d)
          }
          d += 1
        }
        out(c) = s
      }
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "double[]")
    val presRef  = ctx.addReferenceObj("pqPresent", present, "boolean[]")
    val get = if (childIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val c = ctx.freshName("c"); val d = ctx.freshName("d")
      val s = ctx.freshName("s"); val sub = ctx.freshName("sub")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      s"""
         |int $n = $v.numElements();
         |double[] $out = new double[${m * ksub}];
         |for (int $c = 0; $c < ${m * ksub}; $c++) {
         |  if (!$presRef[$c]) continue;
         |  int $sub = $c / $ksub;
         |  double $s = 0.0;
         |  for (int $d = 0; $d < $dsub; $d++) {
         |    int $i = $sub * $dsub + $d;
         |    if ($i < $n && !$v.isNullAt($i)) {
         |      $s += ((double) $v.$get($i)) * $booksRef[$c * $dsub + $d];
         |    }
         |  }
         |  $out[$c] = $s;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  // content-based equality — see PqAssign's note
  override def equals(o: Any): Boolean = o match {
    case p: PqLut =>
      p.m == m && p.ksub == ksub && p.dsub == dsub &&
        java.util.Arrays.equals(p.books, books) &&
        java.util.Arrays.equals(p.present, present) &&
        p.child == child
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(getClass, child, Int.box(m), Int.box(ksub),
      Int.box(dsub), Int.box(java.util.Arrays.hashCode(books)),
      Int.box(java.util.Arrays.hashCode(present)))

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

object PqLut {
  def apply(vec: Column, books: Array[Double], present: Array[Boolean],
            m: Int, ksub: Int, dsub: Int): Column =
    Bridge.column(PqLut(Bridge.expression(vec), books, present, m, ksub, dsub))
}

/** `pq_pack(codes)` → binary: the m GLOBAL codes of [[PqAssign]]
  * bit-packed at their true entropy — each code stores its LOCAL
  * value (`code − sub·ksub`, in [0, ksub)) in ⌈log₂ ksub⌉ bits,
  * MSB-first in a big-endian bitstream, zero-padded to the byte.
  * At the gate config (m=16, ksub=64) that is 12 bytes standing in
  * for the 72 B unpacked int array — the layout FAISS `IndexIVFPQ`
  * stores (packed uint codes), realized as the `<prefix>_codes`
  * storage format so the claimed compression is ON DISK, not a
  * scaladoc hypothetical.
  *
  * Degrade, don't abort (the kernel family's malformed-input rule):
  * a missing/null/out-of-slot-range element packs as local 0 — the
  * same "lowest present code" stance [[PqAssign]] takes on a
  * degenerate subvector.
  */
case class PqPack(child: Expression, m: Int, ksub: Int)
    extends UnaryExpression {

  private val bits = PqCodec.bitsPerCode(ksub)
  private val nBytes = (m * bits + 7) / 8

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_pack expects array<int> codes, got ${t.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Byte](nBytes)
    var i = 0
    while (i < m) {
      var local = 0
      if (i < n && !v.isNullAt(i)) {
        val g = v.getInt(i) - i * ksub
        if (g >= 0 && g < ksub) local = g
      }
      var b = 0
      while (b < bits) {
        if (((local >> (bits - 1 - b)) & 1) != 0) {
          val bit = i * bits + b
          out(bit >> 3) = (out(bit >> 3) | (1 << (7 - (bit & 7)))).toByte
        }
        b += 1
      }
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val i = ctx.freshName("i"); val b = ctx.freshName("b")
      val n = ctx.freshName("n"); val local = ctx.freshName("local")
      val g = ctx.freshName("g"); val bit = ctx.freshName("bit")
      s"""
         |int $n = $v.numElements();
         |byte[] $out = new byte[$nBytes];
         |for (int $i = 0; $i < $m; $i++) {
         |  int $local = 0;
         |  if ($i < $n && !$v.isNullAt($i)) {
         |    int $g = $v.getInt($i) - $i * $ksub;
         |    if ($g >= 0 && $g < $ksub) $local = $g;
         |  }
         |  for (int $b = 0; $b < $bits; $b++) {
         |    if ((($local >> ($bits - 1 - $b)) & 1) != 0) {
         |      int $bit = $i * $bits + $b;
         |      $out[$bit >> 3] |= (byte) (1 << (7 - ($bit & 7)));
         |    }
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqPack =
    copy(child = newChild)
}

object PqPack {
  def apply(codes: Column, m: Int, ksub: Int): Column =
    Bridge.column(PqPack(Bridge.expression(codes), m, ksub))
}
