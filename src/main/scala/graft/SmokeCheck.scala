package graft

/** Session + registry smoke test: builds the entry frame and counts the
  * registered queries and oracles.
  *
  * Usage: tools/run.sh graft.SmokeCheck
  */
object SmokeCheck {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)
    val n = SparkEntry.entry(spark).count()
    println(s"SMOKE entry rows=$n queries=${SparkEntry.queries.size} oracles=${SparkEntry.oracleSql.size}")
    spark.stop()
  }
}
