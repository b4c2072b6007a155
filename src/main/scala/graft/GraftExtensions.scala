package graft

import graft.canon.CanonicalJsonExpr
import graft.functions.{DotProduct, MinHashSignature, NgramShingles, SimHash64}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions at session build time. [[GraftSession]]
  * installs it on every session; an outside session can take it with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  *
  * After that, plain SQL can use `canonical_json`, `simhash64`,
  * `minhash_signature`, `ngram_shingles`, and `dot_product` — the same
  * expressions the DataFrame API wires in, no UDF wrappers anywhere.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  /** Evaluates a parameter expression to an Int with a clear analysis-time
    * error. Raw `eval().asInstanceOf[Int]` fails opaquely (ClassCast/NPE)
    * on a BIGINT literal like `top_k(s, 3L)` or a non-foldable argument;
    * this names the function and the offending argument instead. Values
    * outside Int range (e.g. a 2^31 numBits typed as BIGINT) are rejected
    * rather than silently truncated. */
  private def intArg(fn: String, pos: Int, e: Expression): Int = {
    require(e.foldable,
      s"$fn: argument ${pos + 1} must be a constant integer literal, " +
        s"got non-foldable ${e.sql}")
    e.eval() match {
      // integral literal types only — a fractional Double/Decimal must NOT
      // silently truncate (top_k(s, 2.9) is a caller bug, not k=2)
      case n @ (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
          _: java.lang.Byte) =>
        val v = n.asInstanceOf[Number].longValue()
        require(v == v.toInt,
          s"$fn: argument ${pos + 1} is out of INT range: $v")
        v.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be an integer literal, got $other")
    }
  }

  /** Evaluates a parameter expression to a constant String, by the same
    * clear-error discipline as [[intArg]]. */
  private def strArg(fn: String, pos: Int, e: Expression): String = {
    require(e.foldable,
      s"$fn: argument ${pos + 1} must be a constant string literal, " +
        s"got non-foldable ${e.sql}")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be a string literal, got $other")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: answer registered base-table aggregates from their
    // maintained Incremental state table (see MaterializedAggRewrite)
    ext.injectOptimizerRule(spark => new graft.plans.MaterializedAggRewrite(spark))
    // round 9: COUNT(DISTINCT) over a registered base table answered from
    // maintained block bitmaps (see BitmapDistinctRewrite)
    ext.injectOptimizerRule(spark => new graft.plans.BitmapDistinctRewrite(spark))
    ext.injectFunction((FunctionIdentifier("canonical_json"),
      info("canonical_json", "canonical_json(expr) - key-sorted canonical JSON of any value"),
      (exprs: Seq[Expression]) => CanonicalJsonExpr(exprs.head)))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(array<string>) - 64-bit SimHash fingerprint"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    ext.injectFunction((FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "minhash_signature(array<string>, h) - MinHash signature of h mins"),
      (exprs: Seq[Expression]) => MinHashSignature(exprs.head,
        intArg("minhash_signature", 1, exprs(1)))))
    ext.injectFunction((FunctionIdentifier("ngram_shingles"),
      info("ngram_shingles", "ngram_shingles(array<string>, n) - distinct word n-grams"),
      (exprs: Seq[Expression]) => new graft.functions.NgramShingles(exprs.head,
        intArg("ngram_shingles", 1, exprs(1)))))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(array<double>, array<double>) - native dot product"),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("rolling_fingerprints"),
      info("rolling_fingerprints", "rolling_fingerprints(str, k, w) - winnowing fingerprint set"),
      (exprs: Seq[Expression]) => graft.functions.RollingFingerprints(exprs.head,
        intArg("rolling_fingerprints", 1, exprs(1)), intArg("rolling_fingerprints", 2, exprs(2)))))
    // sketch aggregates: the analyzer wraps a returned AggregateFunction in
    // an AggregateExpression, so these work as plain SQL aggregates
    ext.injectFunction((FunctionIdentifier("bloom_filter_agg"),
      info("bloom_filter_agg", "bloom_filter_agg(hash, numBits, k) - Bloom bitset over 64-bit hashes"),
      (exprs: Seq[Expression]) => graft.functions.BloomFilterAgg(exprs.head,
        intArg("bloom_filter_agg", 1, exprs(1)), intArg("bloom_filter_agg", 2, exprs(2)))))
    ext.injectFunction((FunctionIdentifier("bloom_might_contain"),
      info("bloom_might_contain", "bloom_might_contain(bloom, hash, k) - membership probe"),
      (exprs: Seq[Expression]) => graft.functions.BloomMightContain(exprs.head,
        exprs(1), intArg("bloom_might_contain", 2, exprs(2)))))
    ext.injectFunction((FunctionIdentifier("count_min_sketch_agg"),
      info("count_min_sketch_agg", "count_min_sketch_agg(hash, depth, width) - CMS counter grid"),
      (exprs: Seq[Expression]) => graft.functions.CountMinSketchAgg(exprs.head,
        intArg("count_min_sketch_agg", 1, exprs(1)), intArg("count_min_sketch_agg", 2, exprs(2)))))
    ext.injectFunction((FunctionIdentifier("top_k"),
      info("top_k", "top_k(struct, k) - k largest structs by struct order, largest first"),
      (exprs: Seq[Expression]) => graft.functions.TopKAgg(exprs.head,
        intArg("top_k", 1, exprs(1)))))
    ext.injectFunction((FunctionIdentifier("cms_estimate"),
      info("cms_estimate", "cms_estimate(grid, hash, width) - min-over-rows count estimate"),
      (exprs: Seq[Expression]) => graft.functions.CmsEstimate(exprs.head,
        exprs(1), intArg("cms_estimate", 2, exprs(2)))))
    ext.injectFunction((FunctionIdentifier("unicode_normalize"),
      info("unicode_normalize",
        "unicode_normalize(str, 'NFC'|'NFD'|'NFKC'|'NFKD') - Unicode canonicalization"),
      (exprs: Seq[Expression]) => graft.functions.UnicodeNormalize(exprs.head,
        strArg("unicode_normalize", 1, exprs(1)))))
    ext.injectFunction((FunctionIdentifier("strip_accents"),
      info("strip_accents", "strip_accents(str) - NFD-decompose, drop combining marks"),
      (exprs: Seq[Expression]) => graft.functions.StripAccents(exprs.head)))
    ext.injectFunction((FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity (boost 0.7, prefix cap 4)"),
      (exprs: Seq[Expression]) => graft.functions.JaroWinkler(exprs.head,
        exprs(1))))
    // round 9: bitmap set algebra + KMV distinct sketches as SQL aggregates
    ext.injectFunction((FunctionIdentifier("bitmap_or_agg"),
      info("bitmap_or_agg", "bitmap_or_agg(offset, numBits) - block bitset of observed offsets"),
      (exprs: Seq[Expression]) => graft.functions.BitmapOrAgg(exprs.head,
        intArg("bitmap_or_agg", 1, exprs(1)))))
    ext.injectFunction((FunctionIdentifier("bitmap_merge_agg"),
      info("bitmap_merge_agg", "bitmap_merge_agg(bits) - word-wise OR of equal-width bitmaps"),
      (exprs: Seq[Expression]) => graft.functions.BitmapOrMergeAgg(exprs.head)))
    ext.injectFunction((FunctionIdentifier("bitmap_bit_count"),
      info("bitmap_bit_count", "bitmap_bit_count(bits) - popcount"),
      (exprs: Seq[Expression]) => graft.functions.BitmapBitCount(exprs.head)))
    ext.injectFunction((FunctionIdentifier("bitmap_and_count"),
      info("bitmap_and_count", "bitmap_and_count(a, b) - popcount of the word-wise AND"),
      (exprs: Seq[Expression]) => graft.functions.BitmapAndCount(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("kmv_agg"),
      info("kmv_agg", "kmv_agg(hash, k) - k unsigned-smallest distinct sign-flipped hashes"),
      (exprs: Seq[Expression]) => graft.functions.MinKHashAgg(exprs.head,
        intArg("kmv_agg", 1, exprs(1)))))
  }
}
