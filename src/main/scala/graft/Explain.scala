package graft
import java.util.concurrent.ConcurrentLinkedQueue
import scala.util.control.NonFatal
import org.apache.spark.sql.execution.{ExplainMode, ExplainUtils, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-capture main (optimization rounds): writes `.explain("formatted")`
  * for each registry query to <outDir>/<name>.txt. Same session config as
  * Bench so the captured plans are the plans the bench runs (AQE initial
  * plans — the SQL-tab final plan needs execution, which explain skips).
  *
  * Building a query's DataFrame executes its eager prefix (localCheckpoints,
  * one-row argmax collects, artifact deploys); <name>.txt is the FINAL
  * frame's plan, the fragment the noop sink drives, and <name>.prefix.txt
  * holds the executed plan of every action the build ran (an adaptive
  * plan's initial plan), one block per action headed `>>> action <name>`,
  * in completion order (Par lanes finish in any order — tools/plan_diff.py
  * compares the blocks as a set).
  *
  * Usage: SPARK_GRAFT_ONLY=a,b SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Explain /tmp/plans"
  */
object Explain {
  private val Formatted = ExplainMode.fromString("formatted")

  /** Every successful action's executed plan as planned, until drained:
    * an adaptive plan is written as its initial plan, since run-time
    * re-planning follows the order in which stages finish and so differs
    * between runs of the same code. */
  private final class Actions extends QueryExecutionListener {
    private val plans = new ConcurrentLinkedQueue[String]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val txt = new StringBuilder(s">>> action $funcName\n")
      ExplainUtils.processPlan[SparkPlan](
        qe.executedPlan.transform { case a: AdaptiveSparkPlanExec => a.initialPlan },
        s => txt.append(s))
      plans.add(txt.toString)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    def drain(): Seq[String] = Iterator.continually(plans.poll()).takeWhile(_ != null).toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outDir = new java.io.File(args.headOption.getOrElse("/tmp/graft_plans"))
    outDir.mkdirs()
    // Shared builder with Bench (ADVICE r13): the captured plans stay the
    // plans the bench runs by construction, not by byte-identical copies.
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val actions = new Actions
    spark.listenerManager.register(actions)
    def write(file: String, txt: String): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(outDir, file), "UTF-8")
      try w.println(txt) finally w.close()
    }
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        write(s"$name.txt", df.queryExecution.explainString(Formatted))
        GraftSqlBridge.drainListeners(spark.sparkContext)
        write(s"$name.prefix.txt", actions.drain().mkString("\n"))
        println(s"[explain] wrote $name")
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[explain] $name failed: ${e.toString.linesIterator.next()}")
      }
      // a failed key's actions must not land in the next key's prefix
      GraftSqlBridge.drainListeners(spark.sparkContext)
      actions.drain()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
