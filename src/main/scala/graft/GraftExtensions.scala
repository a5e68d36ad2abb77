package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSim, HyperplaneSig, MinHashSig, SimHash64}

/** `SparkSessionExtensions` hook exposing graft's native expressions to
  * SQL users:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   -- or --
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * then `SELECT simhash64(split(text, ' ')), cosine_sim(a, b),
  * minhash_sig(toks, 16, 3) FROM ...` work in plain SQL.
  *
  * Functions only: parity with the reference needs no optimizer rule or
  * planner `Strategy` (SURVEY.md §4). The `row_number() = 1` dedup idiom
  * is left to Spark's own `InferWindowGroupLimit`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
          "", "", "", "", "", "", "scala_udf"),
        builder))
    }
}

object GraftExtensions {

  private type Builder = Seq[Expression] => Expression

  /** Every SQL function graft exposes, as (name, usage, builder): the one
    * list both [[GraftExtensions.apply]] (build-time injection) and
    * [[register]] (an already-built session) install. */
  private def functions: Seq[(String, String, Builder)] = Seq(
    ("simhash64", "simhash64(array<string>) - 64-bit SimHash",
      args => SimHash64(args.head)),
    ("cosine_sim", "cosine_sim(array<double>, array<double>) - cosine similarity",
      args => CosineSim(args(0), args(1))),
    ("minhash_sig", "minhash_sig(array<string>, k, n) - MinHash signature over word n-shingles",
      args => MinHashSig(args(0), literalInt(args(1), "minhash_sig", "k"),
        literalInt(args(2), "minhash_sig", "shingleSize"))),
    ("hyperplane_sig", "hyperplane_sig(array, nBits, dim) - seeded random-hyperplane LSH signature; raises on dim mismatch",
      hyperplaneSigBuilder),
    // Spark ships these two for AQE runtime filters but does NOT register
    // them in the SQL registry — expose them so SQL users get the explicit
    // bloom build/probe path (see Sketches.bloomAgg/mightContain)
    ("bloom_filter_agg", "bloom_filter_agg(xxhash64(key), estItems, numBits) - mergeable bloom filter binary",
      bloomAggBuilder),
    ("might_contain", "might_contain(bloom, xxhash64(key)) - bloom membership probe; bloom must be constant or scalar subquery",
      mightContainBuilder),
    ("word_shingles", "word_shingles(array<string>, n) - word n-gram shingles (whole doc when shorter)",
      args => graft.functions.WordShingles(args(0),
        literalInt(args(1), "word_shingles", "n"))),
    ("repetition_stats", "repetition_stats(array<string>) - struct(top_uni, top_bi, dup_tri) repetition counts",
      args => graft.functions.RepetitionStats(args.head)),
    ("char_entropy", "char_entropy(string) - Shannon entropy (nats) of the code-point distribution",
      args => graft.functions.CharEntropy(args.head)),
    ("int8_scale", "int8_scale(array<double>) - round(max|x|/127, 6) symmetric quantization scale",
      args => graft.functions.Int8Scale(args.head)),
    ("int8_quant", "int8_quant(array<double>, scale) - clamp(round(x/scale), +-127) int array",
      args => graft.functions.Int8Quant(args(0), args(1))),
    ("int8_max_err", "int8_max_err(array<double>, scale) - round-6 max reconstruction error",
      args => graft.functions.Int8MaxErr(args(0), args(1))),
    ("int8_dot", "int8_dot(array<int>, array<int>) - exact integer dot product",
      args => graft.functions.Int8Dot(args(0), args(1))),
    ("jaro_winkler", "jaro_winkler(string, string) - byte-level Jaro-Winkler similarity (DuckDB parity)",
      args => graft.functions.JaroWinkler(args(0), args(1))))

  /** SQL builder for hyperplane_sig — applies the same array<double> cast
    * and wrong-dim fail-fast as the Scala API
    * ([[graft.ops.Similarity.lshSignature]]), rebuilt here as raw Catalyst
    * nodes (a builder can't round-trip through the Column API: the
    * wrapping ColumnNodeExpression never resolves inside a SQL plan).
    * Without the guard, a wrong-dim vector silently yields an all-zero
    * signature, collapsing the corpus into one LSH bucket (the O(N²) skew
    * bomb the signature docs warn about). */
  private def hyperplaneSigBuilder: Seq[Expression] => Expression =
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
      val nBits = literalInt(args(1), "hyperplane_sig", "nBits")
      val dim = literalInt(args(2), "hyperplane_sig", "dim")
      val v0 = Cast(args(0), ArrayType(DoubleType))
      val raise = new RaiseError(Concat(Seq(
        Literal(s"lshSignature: expected dim $dim, got vector of size "),
        Coalesce(Seq(Cast(Size(v0), StringType), Literal("null"))))))
      val guarded = CaseWhen(Seq(
        (IsNull(v0), v0),
        (EqualTo(Size(v0), Literal(dim)), v0)), Some(raise))
      HyperplaneSig(guarded,
        graft.ops.Similarity.hyperplanes(nBits, dim)
          .map(_.toIndexedSeq).toIndexedSeq)
    }

  private def bloomAggBuilder: Seq[Expression] => Expression =
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Cast
      import org.apache.spark.sql.types.LongType
      // est/bits literals arrive as INT from SQL; the aggregate wants BIGINT
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        args(0), Cast(args(1), LongType), Cast(args(2), LongType))
    }

  private def mightContainBuilder: Seq[Expression] => Expression =
    (args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        args(0), args(1))

  private[graft] def literalInt(e: Expression, fn: String, arg: String): Int = {
    require(e.foldable,
      s"$fn: $arg must be a literal integer, got non-foldable: $e")
    e.eval().asInstanceOf[Number].intValue()
  }

  /** Register the same functions on an already-built session (extensions
    * normally apply at build time; this covers driver-owned sessions). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
