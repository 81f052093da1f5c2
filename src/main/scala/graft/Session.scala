package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is configured. Every main and every
  * spec takes its builder from here, so these settings hold in all of
  * them:
  *
  *  - `local[cpus]`: the engine runs in one JVM; `cpus` task slots.
  *  - `spark.sql.shuffle.partitions = cpus`: one reduce task per slot.
  *    Spark's default of 200 splits every shuffle at this data size into
  *    tasks whose scheduling costs more than their work.
  *  - `spark.ui.enabled = false`: the mains and specs are batch runs
  *    nobody watches; the UI would only bind a port and keep state.
  *  - `spark.sql.session.timeZone = UTC`: timestamp literals, casts and
  *    date functions would otherwise follow the host's zone, and the
  *    oracle SQL and the FHIR goldens assume UTC.
  *  - the RocksDB state-store provider: q6d's `transformWithState` needs
  *    it, even in batch. Setting it before the first query gives the
  *    session one provider, so no result depends on which query ran
  *    first; q6d checks it instead of setting it. */
object Session {
  val StateStoreProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  val CpusVar = "SPARK_GRAFT_CPUS"

  /** Task slots for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = cpusFrom(sys.env.get(CpusVar))

  private[graft] def cpusFrom(value: Option[String]): Int = value match {
    case None => 4
    case Some(v) =>
      val n = v.toIntOption.filter(_ > 0)
      require(n.isDefined, s"$CpusVar must be a positive integer, got '$v'")
      n.get
  }

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        StateStoreProvider)
}
