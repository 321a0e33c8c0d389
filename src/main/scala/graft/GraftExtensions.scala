package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.IntegerType

import graft.functions.{HashExpressions, NgramRepetition, VecDotProduct, WordShingles}
import graft.operators.TextOps

/** SparkSessionExtensions entry point: registers the engine's native
  * functions so SQL users get them too (`SELECT vec_dot(a, b)`,
  * `simhash64(tokens)`, `minhash_sig(tokens, 64)`,
  * `word_shingles(tokens, 3)`, `quality_score(text)`, ...). The text layer
  * is registered by composing the same Column expressions the Scala API
  * uses — one definition, both surfaces. Enable with
  * `spark.sql.extensions=graft.GraftExtensions` (GraftSession does this).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other =>
      throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** Register a 1-arg SQL function built from a Column-level combinator —
    * the SQL expression tree IS the Scala API's tree (no parallel
    * definition to drift). */
  private def injectColumnFn(ext: SparkSessionExtensions, name: String)
                            (f: Column => Column): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(TextOps.getClass.getName, name),
      (children: Seq[Expression]) => {
        require(children.size == 1, s"$name takes exactly 1 argument")
        ColumnBridge.eagerExpression(f(ColumnBridge.column(children.head)))
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL DDL for materialized views — CREATE/REFRESH/DROP MATERIALIZED
    // VIEW registering through the same facades the Scala API uses, into
    // the one MaterializedViews registry the four rules below read; every
    // other statement delegates to Spark's parser untouched.
    ext.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
    // Materialized-view rewrite for registered RollupView pairs — a
    // post-hoc resolution rule so it sees the stable analyzed aggregate
    // shape (see RollupRewriteRule's doc for the exactness conditions).
    ext.injectPostHocResolutionRule(session =>
      new graft.plans.RollupRewriteRule(session))
    // Aggregate-over-join MV rewrite for inner-join trees of N ≥ 2
    // tables (two tables are the one-edge tree) — BEFORE the plain join
    // rewrite: both match a two-table Join node, and serving the
    // aggregate from O(groups) partials beats serving the join view then
    // re-aggregating O(join rows). When this one declines, the join
    // rewrite still may serve the inner join (re-aggregation over the
    // served view is value-identical).
    ext.injectPostHocResolutionRule(session =>
      new graft.plans.MultiAggJoinRewriteRule(session))
    // Quantile-serving rewrite (percentile_approx → the maintained
    // quantile view's O(bins) read, per-view explicit opt-in; arms for
    // one table and for inner-join trees of N ≥ 2 tables) — BEFORE the
    // plain join rewrite: a percentile over a registered join should
    // serve from O(bins) quantile partials, not from the join view
    // followed by a full GK re-aggregation.
    ext.injectPostHocResolutionRule(session =>
      new graft.plans.QuantileRewriteRule(session))
    // Materialized JOIN-view rewrite for registered JoinView triples —
    // same post-hoc resolution slot, same exactness posture.
    ext.injectPostHocResolutionRule(session =>
      new graft.plans.JoinRewriteRule(session))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "vec_dot takes exactly 2 arguments")
        VecDotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[HashExpressions.SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "simhash64 takes exactly 1 argument")
        HashExpressions.SimHash64(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[HashExpressions.MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "minhash_sig takes (tokens, k)")
        HashExpressions.MinHashSig(children.head, litInt(children(1), "minhash_sig k"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "word_shingles takes (tokens, k)")
        WordShingles(children.head, litInt(children(1), "word_shingles k"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[VecDotProduct].getName, "vec_cosine"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "vec_cosine takes exactly 2 arguments")
        val (a, b) = (ColumnBridge.column(children.head), ColumnBridge.column(children(1)))
        ColumnBridge.eagerExpression(graft.operators.SimilarityOps.cosine(a, b))
      }))
    ext.injectFunction((
      new FunctionIdentifier("ngram_repetition"),
      new ExpressionInfo(classOf[NgramRepetition].getName, "ngram_repetition"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "ngram_repetition takes (tokens, n)")
        NgramRepetition(children.head, litInt(children(1), "ngram_repetition n"))
      }))
    injectColumnFn(ext, "quality_score")(TextOps.qualityScore)
    injectColumnFn(ext, "lang_guess")(TextOps.langGuess)
    injectColumnFn(ext, "redact_pii")(TextOps.redactPii)
    injectColumnFn(ext, "token_count")(TextOps.tokenCount(_).cast("int"))
    injectColumnFn(ext, "bpeish_token_count")(TextOps.bpeishTokenCount(_).cast("int"))
    injectColumnFn(ext, "doc_split")(TextOps.splitTag(_))
  }
}
