package graft
import org.apache.spark.sql.SparkSession

/** Plan dumper: `tools/run.sh graft.Explain q5_region_revenue [q1_pricing ...]`
  * prints the AQE-final formatted plan for each named [[SparkEntry.queries]]
  * entry against `SPARK_GRAFT_SF_DIR`, in run order ([[Battery.select]]).
  * The query is EXECUTED first so the printed plan is the adaptive final
  * plan, not the static guess.
  */
object Explain {
  private val LogLevel = "ERROR"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    require(args.nonEmpty, "usage: graft.Explain <queryName>...")
    try run(Battery.session(LogLevel), sfDir, args.toSeq)
    finally Battery.stop()
  }

  /** Execute and print the final plan of each of `names` in `spark`, which
    * stays running.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    Battery.each(spark, Battery.select(names), "explain", LogLevel) { (spark, name, fn) =>
      val df = fn(spark, sfDir)
      // execute through df's OWN QueryExecution: a write/save (or even
      // Dataset.foreachPartition, which goes through the separate
      // rddQueryExecution) builds a different QE and leaves this one's
      // adaptive plan unexecuted (isFinalPlan=false — the static guess).
      // toRdd IS this QE's executedPlan; foreach keeps rows distributed
      df.queryExecution.toRdd.foreach(_ => ())
      println(s"==== $name (executed; AQE final plan) ====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
}
