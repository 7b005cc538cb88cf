package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: registers the engine's native
  * functions with the session's FunctionRegistry so SQL text can call
  * them (`SELECT cosine_sim(a, b)`), exactly like a built-in.
  *
  * Activate with:
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  */
/** Session-local fallback registration: declared queries call this (via
  * [[graft.Tables]]) so the engine's native functions and SQL surface
  * work on ANY SparkSession, not only ones built with
  * `spark.sql.extensions=GraftExtensions` — a vanilla session would
  * otherwise fail UNRESOLVED_ROUTINE on `graft_tokens(...)` in
  * `tokensExpr`. Idempotent per session. The planner strategy is also
  * injected at runtime (experimental.extraStrategies) for the same
  * reason. */
object GraftExtensions {
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.graftshims.GraftShims
    GraftShims.registerFunction(spark, "cosine_sim", { children =>
      require(children.size == 2, "cosine_sim takes exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    })
    GraftShims.registerFunction(spark, "plane_dot", PlaneDot.fromSql)
    GraftShims.registerFunction(spark, "sq_dist", { children =>
      require(children.size == 2, "sq_dist takes exactly 2 arguments")
      SqDist(children.head, children(1))
    })
    GraftShims.registerFunction(spark, "graft_tokens", { children =>
      require(children.size == 1, "graft_tokens takes exactly 1 argument")
      GraftTokens(children.head)
    })
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(graft.plans.TopKPerGroupStrategy))
      spark.experimental.extraStrategies =
        strategies :+ graft.plans.TopKPerGroupStrategy
    val optimizations = spark.experimental.extraOptimizations
    if (!optimizations.contains(graft.plans.PushThroughTopKPerGroup))
      spark.experimental.extraOptimizations =
        optimizations :+ graft.plans.PushThroughTopKPerGroup
    // MV auto-rewrite and view RESOLUTION intentionally do NOT ride
    // this runtime seam: extraOptimizations run in the User Provided
    // Optimizers batch, AFTER V2ScanRelationPushDown has replaced
    // DataSourceV2Relation with its scan relation, so MvRewrite's
    // match would never fire there (ADVICE r13 — the registration was
    // dead code); and analysis is already over, so view expansion is
    // impossible. Both require the
    // spark.sql.extensions=GraftExtensions config (as every
    // graft.GraftSession sets) — on a vanilla session the MV rewrite
    // simply never applies (correctness never depends on it) and
    // reading `cat.ns.view` fails loudly with TABLE_OR_VIEW_NOT_FOUND,
    // never silently wrong.
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // whole-operator extension: per-group top-k with map-side partial
    // reduction (logical node + two-phase physical plan)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // projection/filter pushdown through the custom node (runs inside the
    // operator-optimization fixed point)
    e.injectOptimizerRule(_ => graft.plans.PushThroughTopKPerGroup)
    // materialized-view auto-rewrite: matching aggregates over a base
    // table transparently serve from its registered, FRESH incremental
    // MV (graft.plans.MvRewrite — the q229 machinery's query half)
    e.injectOptimizerRule(_ => graft.plans.MvRewrite)
    // statistics-driven skew salting: an inner equi-join on a graft
    // column whose fresh MCV shows a hot key is rewritten to q47's
    // salted shape automatically (graft.plans.SaltSkewJoin)
    e.injectOptimizerRule(_ => graft.plans.SaltSkewJoin)
    // read-side resolution of the catalog's persistent SQL views
    // (Spark doesn't route view SQL to DSv2 catalogs — see
    // graft.plans.ResolveGraftViews)
    e.injectResolutionRule(s => graft.plans.ResolveGraftViews(s))
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "cosine_sim takes exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("plane_dot"),
      new ExpressionInfo(classOf[PlaneDot].getName, "plane_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        PlaneDot.fromSql(children)))
    e.injectFunction((
      new FunctionIdentifier("sq_dist"),
      new ExpressionInfo(classOf[SqDist].getName, "sq_dist"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "sq_dist takes exactly 2 arguments")
        SqDist(children.head, children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_tokens"),
      new ExpressionInfo(classOf[GraftTokens].getName, "graft_tokens"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "graft_tokens takes exactly 1 argument")
        GraftTokens(children.head)
      }))
  }
}
