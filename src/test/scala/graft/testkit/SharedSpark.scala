package graft.testkit

import org.apache.spark.sql.SparkSession

/** The session every suite runs on, built once from [[graft.GraftSession]]:
  * all suites share one forked JVM, so a per-suite builder could only
  * re-tune the session whichever suite ran first had created. */
trait SharedSpark {
  protected lazy val spark: SparkSession = SharedSpark.session
}

object SharedSpark {
  lazy val session: SparkSession = graft.GraftSession.builder().getOrCreate()
}
