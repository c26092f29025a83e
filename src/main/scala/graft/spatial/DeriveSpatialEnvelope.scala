package graft.spatial

import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule: DERIVE the pushable envelope predicate from the exact
  * spatial kernels (the prune `Geo.pointRelShapeCol`/`boxRelShapeCol`
  * AND in front of their kernel, promoted to a Catalyst rule so the SQL
  * surface gets it for free).
  *
  * A user writing `WHERE point_in_polygon(lon, lat, <literal ring>)`
  * through the registered function gets a codegen'd exact test — but a
  * custom expression is opaque to the parquet source, so nothing prunes:
  * at 100 TB that's the difference between scanning every row group and
  * skipping whole files on column min/max stats. The kernel's shape is a
  * plan-time constant, so its envelope is too. For every relation of
  * both coordinate kernels ([[PointRelShape]], [[BoxRelShape]]) the rule
  * ANDs the range predicates [[Geo.envelopePrune]] gives — plain
  * comparisons on the kernel's own child expressions, exactly what the
  * scan CAN push — in front of the untouched kernel. The builders use
  * the same function, so the rule and the builders cannot disagree.
  *
  * Conservative by construction: only TOP-LEVEL CONJUNCTS are inspected
  * (a kernel under OR/NOT contributes nothing — deriving there would be
  * wrong), only deterministic double-typed children are constrained
  * (anything else resolves but could not have come from the builders,
  * and a non-deterministic child would be re-evaluated to a different
  * value), an empty literal shape derives nothing, and derivation is
  * idempotent — conjuncts semantically equal to an already-present
  * predicate are not re-added, so the rule is a no-op at fixed point and
  * on the builder paths that already carry their envelope.
  *
  * Registered via `GraftExtensions` (injectOptimizerRule) and
  * `GraftFunctions.register` (experimental.extraOptimizations).
  */
object DeriveSpatialEnvelope extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** The envelope conjuncts a single top-level conjunct implies. */
  private def derived(e: Expression): Seq[Expression] = {
    val prune = e match {
      case PointRelShape(lon, lat, shape, rel) => Geo.envelopePrune(Seq(lon, lat), shape, rel)
      case BoxRelShape(xmin, ymin, xmax, ymax, shape, rel) =>
        Geo.envelopePrune(Seq(xmin, ymin, xmax, ymax), shape, rel)
      case _ => Seq.empty
    }
    prune.filter(c => c.left.dataType == DoubleType && c.left.deterministic)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) =>
      val existing = conjuncts(cond)
      val extra = existing.flatMap(derived)
        .filterNot(d => existing.exists(_.semanticEquals(d)))
      val distinctExtra = extra.foldLeft(Seq.empty[Expression]) { (acc, d) =>
        if (acc.exists(_.semanticEquals(d))) acc else acc :+ d
      }
      if (distinctExtra.isEmpty) f
      else Filter(And(distinctExtra.reduce(And), cond), child)
  }
}
