package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Sketching expressions for the dedup family.
  *
  * Spark's higher-order functions (`transform`/`aggregate`) evaluate
  * their lambdas interpreted, per element — a MinHash signature via
  * `k × array_min(transform(...))` costs k·n interpreted calls per
  * row. These expressions do the same math in one tight JVM loop per
  * row (CodegenFallback: row-level interpretation, compiled inner
  * loop — the per-element lambda overhead is what dominated).
  */

/** k min-hashes over a token array: h_i(t) = xxh64(xxh64(t, SEED), i),
  * minimized per i in a single pass over the tokens.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  private val Seed = 42L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash expects array<string>, got ${t.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr  = input.asInstanceOf[ArrayData]
    val n    = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val s    = arr.getUTF8String(j)
        val base = hashUtf8(s, Seed)
        var i = 0
        while (i < numHashes) {
          val h = XXH64.hashLong(base, i.toLong)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  private def hashUtf8(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  def apply(tokens: Column, numHashes: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(tokens), numHashes))
}

/** 64-bit SimHash over a token array: bit i of the result is the
  * sign of Σ_tokens (bit i of hash(token) ? +1 : -1). One pass,
  * 64 counters. The per-token hash is the [[Md5Long]] MD5 prefix, so
  * fingerprints (and the hamming pairs built from them) are
  * recomputable by any engine — the DuckDB oracle gates the d4 query
  * exactly.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash expects array<string>, got ${t.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr    = input.asInstanceOf[ArrayData]
    val n      = arr.numElements()
    val counts = new Array[Int](64)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val h = Md5Long.hash(arr.getUTF8String(j))
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
          i += 1
        }
      }
      j += 1
    }
    var fp = 0L
    var i  = 0
    while (i < 64) {
      if (counts(i) > 0) fp |= (1L << i)
      i += 1
    }
    fp
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def apply(tokens: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(tokens)))
}

/** Pigeonhole blocking keys for hamming-distance pairing over a
  * 64-bit fingerprint: the fingerprint splits into `maxDist +
  * matchChunks` disjoint chunks (all 64 bits spread; the first
  * 64 % chunks get one extra bit), and the result is one packed key
  * per `matchChunks`-subset of chunks — a pair within `maxDist`
  * dirties at most `maxDist` chunks, so at least `matchChunks` of
  * its chunks are identical and the two rows share at least one
  * whole subset key. A single expression node so the C(chunks, m)
  * keys stay out of the logical plan: materializing them as an
  * array-of-455-expressions projection measured a 66 MiB task
  * binary after CollapseProject inlined the shared chunk array into
  * every combination (72 s for the d4 query at sf0.1, vs ~3 s
  * total for this form); a `transform` over a literal combo array
  * kept the plan small but higher-order functions interpret their
  * lambda per element. Here the whole fan-out is one tight loop
  * over precomputed (shift, mask, pack-offset) tables.
  */
case class SimHashComboKeys(child: Expression, maxDist: Int, matchChunks: Int)
    extends UnaryExpression with CodegenFallback {

  require(maxDist >= 1, "maxDist must be >= 1")
  require(matchChunks >= 1, "matchChunks must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash combo keys expect bigint, got ${t.simpleString}")
  }

  @transient private lazy val (chunkOffs, chunkMasks, packWidth, combos) = {
    val chunks = maxDist + matchChunks
    val base   = 64 / chunks
    val extra  = 64 % chunks
    val widths = Seq.fill(extra)(base + 1) ++ Seq.fill(chunks - extra)(base)
    val offs   = widths.scanLeft(0)(_ + _).init
    val w      = widths.max
    require(matchChunks * w <= 63, s"$matchChunks chunks × $w bits " +
      "overflow a long key; increase maxDist splits or lower matchChunks")
    (offs.toArray, widths.map(b => (1L << b) - 1).toArray, w,
      (0 until chunks).combinations(matchChunks).map(_.toArray).toArray)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val fp  = input.asInstanceOf[Long]
    val n   = combos.length
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val combo = combos(i)
      var key   = 0L
      var j     = 0
      while (j < combo.length) {
        val c = combo(j)
        key = (key << packWidth) | ((fp >>> chunkOffs(c)) & chunkMasks(c))
        j += 1
      }
      out(i) = key
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashComboKeys =
    copy(child = newChild)
}

object SimHashComboKeys {
  def apply(fp: Column, maxDist: Int, matchChunks: Int): Column =
    Bridge.column(SimHashComboKeys(Bridge.expression(fp), maxDist, matchChunks))
}

/** Word n-gram shingles of a token array, in one pass — distinct
  * (set semantics, first-seen order: the similarity-join input) or
  * with duplicates kept in window order (the repetition-statistics
  * input). Equivalent to `[array_distinct(]transform(sequence(...),
  * i => concat_ws(" ", slice(tokens, i, n)))[)]` but without n·len
  * interpreted lambda evaluations and intermediate allocations.
  *
  * Windows containing a null token are skipped — the declared
  * element type is non-null, and a null must never leak into it via
  * `UTF8String.concat` (downstream codegen trusts containsNull).
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingles expects array<string>, got ${t.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val len = arr.numElements()
    val out = new java.util.ArrayList[UTF8String]()
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    if (len >= n) {
      val space = UTF8String.fromString(" ")
      var i = 0
      while (i <= len - n) {
        var nullInWindow = false
        var j = 0
        while (j < n && !nullInWindow) {
          nullInWindow = arr.isNullAt(i + j)
          j += 1
        }
        if (!nullInWindow) {
          var s = arr.getUTF8String(i)
          j = 1
          while (j < n) {
            s = UTF8String.concat(s, space, arr.getUTF8String(i + j))
            j += 1
          }
          if (seen == null || seen.add(s)) out.add(s)
        }
        i += 1
      }
    }
    val res = new Array[Any](out.size)
    var k = 0
    while (k < res.length) { res(k) = out.get(k); k += 1 }
    new GenericArrayData(res)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  def apply(tokens: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(tokens), n))

  /** All window shingles with duplicates kept, in window order. */
  def all(tokens: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(tokens), n, distinct = false))
}

/** Margin-guided multi-probe hyperplane sketches (Lv et al., VLDB'07
  * adapted to the signed-hyperplane family): per table, the base
  * sketch PLUS `probes` one-bit-flipped sketches at the planes with
  * the smallest |projection| — the planes this vector most nearly
  * straddles, which are exactly the bits a near neighbor is most
  * likely to disagree on. Probing buys catch probability per table,
  * so a recall budget needs FEWER tables: the sketch pass, the
  * bucket-shuffle volume, and the index size all shrink by the table
  * ratio, which is what matters at 100 TB where the emission volume
  * (tables × width × n rows) IS the near-dup join's dominant cost at
  * a selective τ (SPOTCHECK_tau: candidates track true pairs there,
  * so the linear terms dominate).
  *
  * Output layout (contract, relied on by `Ann` probe joins): length
  * `tables × (probes+1)`; entry `t·(probes+1)` is table t's base
  * sketch (the same at every `probes`: table t's planes are `planes ×
  * dim` Gaussians drawn from `Random(seed + t)` in plane-major order,
  * bit p of the sketch is the sign of plane p's projection), followed
  * by its `probes` flips ordered by ascending |projection|, ties to
  * the lower plane index. A vector emits at
  * most ONE entry per (table, bucket): distinct single-bit flips are
  * distinct buckets, so self-collisions across a table's entries are
  * impossible — the pair-join relies on this to subtract self-matches
  * exactly.
  */
case class HyperplaneProbeSketches(child: Expression, dim: Int, planes: Int,
                                   tables: Int, seed: Long, probes: Int)
    extends UnaryExpression with CodegenFallback {

  require(planes >= 1 && planes <= 63, "planes must be in [1, 63]")
  require(tables >= 1, "tables must be >= 1")
  require(probes >= 0 && probes < planes, "probes must be in [0, planes)")

  private val width = probes + 1

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane probe sketches expect array<float>, got ${t.simpleString}")
  }

  // plane matrix per table, plane-major — the draw order is part of
  // the contract: tuned (planes, tables, seed) configurations depend
  // on it, and base buckets must match across `probes` so an index
  // and a batch sketched at different widths still collide
  @transient private lazy val planeMats: Array[Array[Double]] =
    Array.tabulate(tables) { t =>
      val rnd = new scala.util.Random(seed + t)
      Array.fill(planes * dim)(rnd.nextGaussian())
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n   = math.min(arr.numElements(), dim)
    val out = new Array[Long](tables * width)
    val absDot = new Array[Double](planes)
    val taken  = new Array[Boolean](planes)
    var t = 0
    while (t < tables) {
      val mat  = planeMats(t)
      var bits = 0L
      var p    = 0
      while (p < planes) {
        val off = p * dim
        var dot = 0.0
        var k   = 0
        while (k < n) {
          if (!arr.isNullAt(k)) dot += arr.getFloat(k).toDouble * mat(off + k)
          k += 1
        }
        if (dot >= 0) bits |= (1L << p)
        absDot(p) = math.abs(dot)
        taken(p) = false
        p += 1
      }
      val base = t * width
      out(base) = bits
      // q-smallest |dot| by selection (planes <= 63, probes small):
      // deterministic — ascending |dot|, ties to the lower plane index
      var s = 0
      while (s < probes) {
        var best = -1
        var bestV = Double.MaxValue
        p = 0
        while (p < planes) {
          if (!taken(p) && absDot(p) < bestV) { best = p; bestV = absDot(p) }
          p += 1
        }
        // NaN components make every |dot| NaN and every `<` false, so
        // `best` stays -1; fall through to the lowest untaken plane so
        // a degenerate vector degrades (arbitrary-but-deterministic
        // probes, exact sim filter still decides) like the base
        // sketch treats NaN (dot >= 0 is just false) —
        // instead of aborting the whole job on taken(-1)
        if (best < 0) {
          p = 0
          while (best < 0) { if (!taken(p)) best = p; p += 1 }
        }
        taken(best) = true
        out(base + 1 + s) = bits ^ (1L << best)
        s += 1
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneProbeSketches =
    copy(child = newChild)
}

object HyperplaneProbeSketches {
  def apply(vec: Column, dim: Int, planes: Int, tables: Int, seed: Long,
            probes: Int): Column =
    Bridge.column(HyperplaneProbeSketches(
      Bridge.expression(vec), dim, planes, tables, seed, probes))
}
