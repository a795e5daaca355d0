package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Every main and the test base build
  * their session here, so the shared conf is written once: `local[cpus]`
  * unless a master is given, `cpus` shuffle partitions, a UTC session
  * zone, no UI, and the driver log level. Callers pass only what
  * differs (`conf`). */
object Session {
  def apply(cpus: String, master: Option[String] = None,
            logLevel: String = "ERROR",
            conf: Map[String, String] = Map.empty): SparkSession = {
    val m = master.getOrElse(s"local[$cpus]")
    val b = SparkSession.builder().master(m)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    // local-cluster forks real executor JVMs; with no spark-submit to
    // assemble their classpath they need this driver's (sbt classes dir
    // + the Spark jars)
    if (m.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", sys.props("java.class.path"))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** The admin CLIs' session: `SPARK_GRAFT_MASTER` (default `local[4]`)
    * with `SPARK_GRAFT_CPUS` (default 4) shuffle partitions. */
  def cli(): SparkSession =
    apply(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      Some(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]")))
}
