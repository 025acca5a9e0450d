package perfbench

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** What the benchmark reads from an executed plan. */
object Plans {

  /** Exchanges in the final (post-AQE) plan, subqueries included.
    * A reused exchange is not counted again. */
  def exchanges(p: SparkPlan): Int = {
    val own = p match {
      case a: AdaptiveSparkPlanExec => return exchanges(a.executedPlan)
      case s: QueryStageExec        => return exchanges(s.plan)
      case _: Exchange              => 1
      case _                        => 0
    }
    own + p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }

  private val volatileParts = Seq(
    "#\\d+L?" -> "#",                 // expression ids
    "\\[id=#?\\d+\\]" -> "[id=]",     // exchange / subquery ids
    "plan_id=\\d+" -> "plan_id=",
    "RDD\\[\\d+\\]" -> "RDD[]",       // checkpointed RDD ids
    "(QueryStage|Subquery|Reused\\w*) \\d+" -> "$1",
    "file:[^,\\]\\s)]*" -> "file:",   // input paths hold the seed
    "\\d+ paths" -> "paths")

  /** Plan text with run-specific ids and paths stripped. */
  def stripped(qe: QueryExecution): String =
    volatileParts.foldLeft(qe.executedPlan.toString) {
      case (s, (re, rep)) => s.replaceAll(re, rep)
    }

  /** A 48-bit hash of the stripped plan: exact in a double, so it can
    * travel as a JSON number. */
  def fingerprint(qe: QueryExecution): Long = {
    val text = scala.util.Try(stripped(qe)).getOrElse("unplannable")
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
    d.take(6).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xff))
  }
}
