package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Planner strategy: TopKPerKeyPlan → partial exec → (exchange inserted
  * by required distribution) → final exec. `GraftSession.build` adds it
  * to `spark.experimental.extraStrategies` (with graft's functions and
  * rules, see GraftExtensions) on every session it builds.
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child) =>
      val partialExec = TopKPerKeyExec(keys, order, k, partial = true, planLater(child))
      TopKPerKeyExec(keys, order, k, partial = false, partialExec) :: Nil
    case _ => Nil
  }
}

/** User-facing builder. */
object TopKPerKey {

  /** Top `k` rows per `keyCols` group, ranked by `sorts` (field →
    * ascending?). Pass a key-complete sort so ties can't make the kept
    * set nondeterministic. Emits the selected rows with the child's
    * schema (no rank column — compose `row_number` downstream if needed;
    * the heavy lifting, pruning before the shuffle, has already happened).
    */
  def topKPerKey(df: DataFrame, keyCols: Seq[String],
                 sorts: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(name: String) = analyzed.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"topKPerKey: no column '$name' in ${analyzed.output.map(_.name).mkString(", ")}"))
    val order = sorts.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    org.apache.spark.sql.graft.GraftPlanShim.ofRows(spark,
      TopKPerKeyPlan(keyCols.map(attr), order, k, analyzed))
  }
}
