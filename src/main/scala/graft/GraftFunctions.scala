package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, ExpressionInfo, Literal, Multiply, RLike, RegExpExtract, Sqrt}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Glob
import graft.functions._

/** SQL-surface registration for the engine's custom expressions, so
  * `spark.sql("SELECT dot_product(a, b) ...")` works everywhere the
  * Scala column API does.
  *
  * Two entry points:
  *   - [[GraftFunctions.register]] — imperative, per-session;
  *   - [[GraftExtensions]] — `SparkSessionExtensions` injection for
  *     `spark.sql.extensions=graft.GraftExtensions` (cluster-wide,
  *     works with spark-submit without touching application code).
  */
object GraftFunctions {

  /** (name, arity-checked builder) for every SQL-exposed function. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_product" -> { exprs =>
      require(exprs.length == 2, "dot_product(a, b)")
      DotProduct(exprs(0), exprs(1))
    },
    "int_dot_product" -> { exprs =>
      require(exprs.length == 2, "int_dot_product(a, b)")
      IntDotProduct(exprs(0), exprs(1))
    },
    "cosine_sim" -> { exprs =>
      require(exprs.length == 2, "cosine_sim(a, b)")
      val (a, b) = (exprs(0), exprs(1))
      Divide(DotProduct(a, b),
        Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b))))
    },
    "minhash" -> { exprs =>
      require(exprs.length == 2, "minhash(tokens, numHashes)")
      MinHashSignature(exprs(0), foldableInt(exprs(1), "numHashes"))
    },
    "simhash" -> { exprs =>
      require(exprs.length == 1, "simhash(tokens)")
      SimHash64(exprs(0))
    },
    "shingles" -> { exprs =>
      require(exprs.length == 2, "shingles(tokens, n)")
      WordShingles(exprs(0), foldableInt(exprs(1), "n"))
    },
    "content_fingerprint" -> { exprs =>
      require(exprs.length == 1, "content_fingerprint(tokens)")
      ContentFingerprint64(exprs(0))
    },
    "hll_distinct" -> { exprs =>
      require(exprs.length == 1, "hll_distinct(key)")
      HllDistinct(exprs(0))
    },
    "byte_entropy" -> { exprs =>
      require(exprs.length == 1, "byte_entropy(payload)")
      ByteEntropy(exprs(0))
    },
    "kmv_quantiles" -> { exprs =>
      require(exprs.length >= 4, "kmv_quantiles(key, value, k, q1[, q2, ...])")
      KmvQuantiles(exprs(0), exprs(1), foldableInt(exprs(2), "k"),
        exprs.drop(3).map(foldableDouble(_, "q")))
    },
    "hyperplane_sketches" -> { exprs =>
      require(exprs.length == 5, "hyperplane_sketches(vec, dim, planes, tables, seed)")
      HyperplaneProbeSketches(exprs(0), foldableInt(exprs(1), "dim"),
        foldableInt(exprs(2), "planes"), foldableInt(exprs(3), "tables"),
        foldableInt(exprs(4), "seed").toLong, probes = 0)
    },
    // Glob semantics (reference Glob.scala) as SQL predicates: the
    // glob compiles to the shared regex and evaluates as codegen'd
    // RLike / RegExpExtract.
    "glob_match" -> { exprs =>
      require(exprs.length == 2, "glob_match(str, glob)")
      RLike(exprs(0), Literal(UTF8String.fromString(
        Glob(foldableString(exprs(1), "glob")).fullRegex), org.apache.spark.sql.types.StringType))
    },
    "glob_extract" -> { exprs =>
      require(exprs.length == 3, "glob_extract(str, glob, idx)")
      RegExpExtract(exprs(0), Literal(UTF8String.fromString(
        Glob(foldableString(exprs(1), "glob")).fullRegex), org.apache.spark.sql.types.StringType),
        exprs(2))
    }
  )

  private def foldableInt(e: Expression, name: String): Int = {
    require(e.foldable, s"$name must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  private def foldableDouble(e: Expression, name: String): Double = {
    require(e.foldable, s"$name must be a literal")
    e.eval().asInstanceOf[Number].doubleValue()
  }

  private def foldableString(e: Expression, name: String): String = {
    require(e.foldable, s"$name must be a literal")
    e.eval().toString
  }

  /** Register everything on an existing session (temp functions),
    * plus the weighted-mean UDAF.
    */
  def register(spark: SparkSession): Unit = {
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    spark.udf.register("weighted_mean", WeightedMean.asUdaf)
  }
}

/** `spark.sql.extensions` entry point: custom functions + the
  * planner strategy for the native AS-OF operator.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder
      ))
    }
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}
