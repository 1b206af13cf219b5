package graft

import org.apache.spark.sql.SparkSession

/** The spec session: [[GraftSession.builder]] at 4 cores plus the
  * suite's own runtime overrides, with the graft SQL functions set up.
  *
  * All suites run in one JVM and share one session through
  * `getOrCreate`, which re-applies only the keys the builder names. The
  * builder names the whole base conf, so each suite starts from it plus
  * its own overrides, whatever ran before.
  */
trait GraftSpark {

  /** Runtime SQL conf this suite needs on top of the base conf. */
  protected def sparkOverrides: Map[String, String] = Map.empty

  lazy val spark: SparkSession = GraftSpark.session(sparkOverrides)
}

object GraftSpark {
  def session(overrides: Map[String, String] = Map.empty): SparkSession = {
    val s = overrides.foldLeft(GraftSession.builder("4")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    GraftSession.setup(s)
    s
  }
}
