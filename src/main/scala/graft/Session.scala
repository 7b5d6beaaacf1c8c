package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe every main and the test suite
  * share, so a plan dumped, a gate verified and a row benched all run
  * under the same settings:
  *
  *  - `local[cpus]` with shuffle partitions = cpus;
  *  - UTC session time zone;
  *  - [[graft.plans.GraftExtensions]] (the `graft_*` SQL functions);
  *  - FAIR scheduling: per-fit pools share cores fairly
  *    (`PricePipeline.metricsTable`); single-pool queries behave as FIFO;
  *  - ANSI off: the reference's dirty-CSV semantics, bad casts -> null
  *    (SURVEY 1.2/7.3);
  *  - no UI.
  *
  * Returns the builder so a caller can add settings of its own before
  * `getOrCreate()`.
  */
object Session {

  def local(cpus: Int): SparkSession.Builder = {
    require(cpus >= 1, s"cpus must be >= 1, got $cpus")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
  }

  /** `SPARK_GRAFT_CPUS`, parsed once; `None` when unset. A value that is
    * not a positive integer fails here, before any session starts.
    */
  lazy val envCpus: Option[Int] = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Option[Int] =
    raw.map { s =>
      s.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
    }
}
