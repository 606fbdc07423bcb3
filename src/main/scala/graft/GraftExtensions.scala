package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.expr.{JsonChildStep, JsonDescStep, TryExcept, VariantChildStep, VariantDescStep, VariantRenderSeq}

/** Session extension registering the engine's custom expressions as
  * SQL functions (set `spark.sql.extensions=graft.GraftExtensions`):
  *
  *   json_child_path(array<string>, key)     — `./` step (string route)
  *   json_desc_path(array<string>, key)      — `.//` step (string route)
  *   variant_child_path(array<variant>, key) — `./` step (single-parse)
  *   variant_desc_path(array<variant>, key)  — `.//` step (single-parse)
  *   variant_render_seq(array<variant>)      — terminal rendering
  *   try_except(e, fallback)                 — general try-except
  *
  * so SQL users get the operators too, not just the Column API.
  *
  * It also registers two plan rules:
  *
  *   [[graft.rules.NestAggRewrite]] (optimizer) — collect-then-reduce
  *     → native partial+final aggregates
  *   [[graft.rules.SmallGlobalSort]] (AQE query-stage preparation) —
  *     a global sort whose input provably runs as one partition (a
  *     one-file scan, a one-partition checkpoint, or a stage AQE has
  *     measured as small enough to read as one partition) sorts in one
  *     task instead of through a sampled range exchange. The input
  *     already ran as one task and is now computed once instead of
  *     twice; the sort, and any operator above it up to the next
  *     exchange, give up the exchange's parallelism.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("json_child_path"),
      info("json_child_path", "_FUNC_(seq, key) - pythonql `./` child step"),
      (args: Seq[Expression]) => JsonChildStep(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("json_desc_path"),
      info("json_desc_path", "_FUNC_(seq, key) - pythonql `.//` descendant step"),
      (args: Seq[Expression]) => JsonDescStep(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("variant_child_path"),
      info("variant_child_path",
        "_FUNC_(seq, key) - pythonql `./` child step over variants"),
      (args: Seq[Expression]) => VariantChildStep(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("variant_desc_path"),
      info("variant_desc_path",
        "_FUNC_(seq, key) - pythonql `.//` descendant step over variants"),
      (args: Seq[Expression]) => VariantDescStep(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("variant_render_seq"),
      info("variant_render_seq",
        "_FUNC_(seq) - render a variant path sequence to strings"),
      (args: Seq[Expression]) => VariantRenderSeq(args(0))))
    ext.injectFunction((
      FunctionIdentifier("try_except"),
      info("try_except", "_FUNC_(e, fallback) - pythonql `try e1 except e2`"),
      (args: Seq[Expression]) => TryExcept(args(0), args(1))))
    // collect-then-reduce → native partial+final aggregates
    ext.injectOptimizerRule(_ => graft.rules.NestAggRewrite)
    // one-partition sort input → no range exchange, no sampling job
    ext.injectQueryStagePrepRule(graft.rules.SmallGlobalSort)
  }
}
