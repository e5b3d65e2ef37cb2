package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` injection point: registers the native
  * expressions as SQL functions, so `spark.sql` text can call them
  * directly — `graft_minhash_sig(hs)`, `graft_simhash(hs)`,
  * `graft_dot(a, b)`, `graft_lsh_sign(v)`. The parameterized families
  * bind the library's frozen constants ([[graft.pipeline.NearDup]]'s
  * hash family, [[graft.pipeline.Similarity]]'s hyperplanes) — the same
  * constants the DuckDB oracles replay.
  *
  * Wire up with `withExtensions(new GraftExtensions)` on a session
  * builder or `--conf spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  private def one(name: String)(f: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(c) => f(c)
    case other => throw new IllegalArgumentException(
      s"$name expects 1 argument, got ${other.length}")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer: fuse interpreted aggregate∘zip_with dot folds into
    // DotProductExpr (see FuseDotRule)
    ext.injectOptimizerRule(_ => new FuseDotRule)
    ext.injectFunction((FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig",
        "graft_minhash_sig(array<bigint>) - 16-way MinHash signature (library hash family)"),
      // normalize = true: SQL text feeds arbitrary bigints; fold them
      // into the hash family's [0, P) domain so an out-of-domain element
      // can't overflow x·a into a silently wrong signature
      one("graft_minhash_sig")(c => MinHashSigExpr(c,
        graft.pipeline.NearDup.hashParams.map(_._1),
        graft.pipeline.NearDup.hashParams.map(_._2),
        graft.pipeline.NearDup.P, normalize = true))))
    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      info("graft_simhash",
        "graft_simhash(array<bigint>) - 32-bit SimHash of a hash set"),
      one("graft_simhash")(SimHashSigExpr)))
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot",
        "graft_dot(array<numeric>, array<numeric>) - sequential-order double dot product"),
      {
        case Seq(a, b) => DotProductExpr(a, b)
        case other => throw new IllegalArgumentException(
          s"graft_dot expects 2 arguments, got ${other.length}")
      }))
    ext.injectFunction((FunctionIdentifier("graft_lsh_sign"),
      info("graft_lsh_sign",
        "graft_lsh_sign(array<bigint>) - 16-plane LSH sign signature (library hyperplanes)"),
      one("graft_lsh_sign")(c => LshSignExpr(c,
        graft.pipeline.Similarity.planes.map(_.map(_.toLong))))))
    ext.injectFunction((FunctionIdentifier("graft_shingle_set"),
      info("graft_shingle_set",
        "graft_shingle_set(string) - distinct word-3-gram md5-prefix60 hashes (library shingle domain)"),
      one("graft_shingle_set")(c => ShingleSetExpr(c,
        graft.pipeline.NearDup.ShingleN, graft.pipeline.NearDup.X))))
    ext.injectFunction((FunctionIdentifier("graft_nfc_clean"),
      info("graft_nfc_clean",
        "graft_nfc_clean(string) - NFC + zero-width strip + whitespace collapse + trim"),
      one("graft_nfc_clean")(NfcCleanExpr)))
    ext.injectFunction((FunctionIdentifier("graft_heavy_hitters"),
      info("graft_heavy_hitters",
        "graft_heavy_hitters(string, k) - Misra-Gries top-k counter sketch (aggregate; counts short by at most N/(k+1))"),
      {
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(k, _)) =>
          MisraGriesAgg(c, k.toString.toInt).toAggregateExpression()
        case other => throw new IllegalArgumentException(
          s"graft_heavy_hitters expects (column, int literal), got ${other.length} args")
      }))
    ext.injectFunction((FunctionIdentifier("graft_quantile_sketch"),
      info("graft_quantile_sketch",
        "graft_quantile_sketch(double, k) - mergeable quantile sketch binary (aggregate; exact while the group holds <= k values)"),
      {
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(k, _)) =>
          QuantileSketchAgg(c, k.toString.toInt).toAggregateExpression()
        case other => throw new IllegalArgumentException(
          s"graft_quantile_sketch expects (column, int literal), got ${other.length} args")
      }))
    ext.injectFunction((FunctionIdentifier("graft_quantile_merge"),
      info("graft_quantile_merge",
        "graft_quantile_merge(binary) - union stored quantile-sketch binaries (aggregate)"),
      one("graft_quantile_merge")(c =>
        QuantileMergeAgg(c).toAggregateExpression())))
    ext.injectFunction((FunctionIdentifier("graft_sketch_quantiles"),
      info("graft_sketch_quantiles",
        "graft_sketch_quantiles(binary, array<double>) - read quantiles out of a sketch binary"),
      {
        case Seq(s, qs) => SketchQuantilesExpr(s, qs)
        case other => throw new IllegalArgumentException(
          s"graft_sketch_quantiles expects 2 arguments, got ${other.length}")
      }))
  }
}
