package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftglue.Bridge

import graft.plans.GraftExtensions
import graft.tools.CodegenGuard

/** The one place graft builds a SparkSession. Bench, Verify, the
  * tools and the test suite all get their session here, so the oracle
  * gate certifies the same engine configuration the bench times.
  *
  * {{{
  * val spark = graft.GraftSession.local()   // local[SPARK_GRAFT_CPUS]
  * }}}
  *
  * A session built elsewhere takes [[conf]] on its builder, or calls
  * [[setup]] once it exists (idempotent, like a strategy injection).
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else every
    * available processor. Also the shuffle partition count. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** Engine configuration of every graft session. AQE needs no entry:
    * it is on by default in Spark 4. */
  val conf: Map[String, String] = Map(
    // one shuffle partition per core, so local runs take the same
    // parallel plan shapes a cluster would
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // Without this a persisted frame compiles WITHOUT AQE and its
    // exchanges pin at spark.sql.shuffle.partitions, so every consumer
    // stage of every PersistSlots frame pays that many micro-tasks
    // however tiny the cached data (dedup_containment: 21.8 -> 6.8
    // process-CPU-s with AQE-sized caches). A cluster pins the same
    // way at e.g. 2000 partitions. Spark leaves it off only because a
    // consumer could rely on a cached plan's output partitioning; no
    // graft result does (the fan-out invariant, oracle-verified).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.extensions" -> classOf[GraftExtensions].getName)

  private val LogLevel = "WARN"

  // static conf: only the session that first builds the context uses
  // it; Spark deletes the directory when the JVM exits
  private lazy val warehouse: String =
    Bridge.tempDir("graft-warehouse").getAbsolutePath

  /** The JVM's local session: built with [[conf]] on the first call,
    * the same session on every later call. Managed tables land in a
    * fresh temporary warehouse, never in the working directory. */
  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config(conf)
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel(LogLevel)
    setup(spark)
  }

  /** Make graft's SQL functions resolvable and arm the codegen
    * fallback guard; a no-op on a session that already has both. */
  def setup(spark: SparkSession): SparkSession = {
    val registry = spark.sessionState.functionRegistry
    if (!GraftExtensions.functions.forall { case (id, _, _) =>
          registry.functionExists(id) })
      GraftExtensions.register(spark)
    CodegenGuard.install()
    spark
  }
}
