package graft

import org.apache.spark.sql.SparkSession

/** The engine's session posture, in ONE place. Every entry point (Bench,
  * Verify, Soak, Prof, DumpPlans, LogAnalysisApp) builds here, so a
  * parity-critical conf — UTC timezone, GraftExtensions, UI off — cannot
  * drift between the shipped engine and the harness that grades it.
  *
  * `spark.sql.artifact.isolation.enabled=false` keeps every session on
  * one executor class loader. Spark's generated-code cache is keyed by
  * (context class loader, source), and with isolation on (the Spark 4
  * default) each session — including the clone a streaming query runs
  * on at every start, and the source clone of
  * `ColumnBridge.withSourceConfs` — gets a loader of its own, and every
  * query start would compile the same generated classes again. Off, a
  * restarted query or a second query over the same plan shape reuses
  * the compiled code. It is safe because graft adds no session
  * artifacts (no `addArtifact`/`addJar`), so there is nothing per
  * session to isolate. Revisit it if graft ever serves Spark Connect
  * clients or adds per-session artifacts. The conf is read only when a
  * session is created, so [[build]] is the one place to set it.
  */
object GraftSession {

  /** `aqe = None` leaves Spark's default (enabled in Spark 4). */
  def build(master: String, shufflePartitions: String,
      aqe: Option[Boolean] = None, logLevel: String = "WARN",
      appName: String = "graft"): SparkSession = {
    var b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
    aqe.foreach(v => b = b.config("spark.sql.adaptive.enabled", v.toString))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** local[cores] with one shuffle partition per core — the right
    * local-mode sizing (the global 200 default is a cluster number).
    */
  def local(cores: String, aqe: Option[Boolean] = None,
      logLevel: String = "WARN"): SparkSession =
    build(s"local[$cores]", cores, aqe, logLevel)
}
