package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: the way a cluster deploys this engine
  * without touching application code —
  * `spark.sql.extensions=graft.GraftSessionExtensions` injects every
  * graft SQL function (native expressions + the UDTF generator) into
  * each new session's registry at build time. This is the
  * `SparkSessionExtensions` integration seam (the same plug point used
  * for custom rules/strategies). Besides the functions it injects the
  * planner strategies of the custom operators (`graft.plans`); their
  * DataFrame APIs also register them on first use.
  */
class GraftSessionExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftSessionExtensions].getName, null, name,
      usage, "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, usage: String)(b: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), b))

    // custom-operator strategies (group-wise top-k, graft.plans.GroupTopK;
    // binary-key prefix sort, graft.plans.PrefixSort)
    ext.injectPlannerStrategy(_ => graft.plans.GroupTopKStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.PrefixSortStrategy)

    inject("graft_cosine", "cosine similarity of two numeric arrays") {
      e => graft.expressions.CosineSimilarity(e(0), e(1))
    }
    inject("graft_dot", "dot product of two numeric arrays") {
      e => graft.expressions.DotProduct(e(0), e(1))
    }
    inject("graft_simhash64", "64-bit SimHash of a string") {
      e => graft.expressions.SimHash64(e.head)
    }
    inject("graft_shingles", "distinct word 3-gram shingles of a string") {
      e => graft.expressions.WordShingles(e.head, 3)
    }
    inject("graft_posexplode_shingles",
      "table function: (pos, shingle) rows per distinct word n-gram") {
      e => graft.expressions.PosExplodeShingles(e(0),
        if (e.length > 1)
          e(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty) match {
            case i: Int => i
            case l: Long => l.toInt
          }
        else 3)
    }
  }
}
