package graft

import org.apache.spark.sql.SparkSession

/** The specs' session: the factory's, at 4 slots. Suites run one after
  * another in one forked JVM and share it; the first suite to touch
  * `spark` creates it. */
trait SparkSuite {
  lazy val spark: SparkSession = Session.builder(4).getOrCreate()
}
