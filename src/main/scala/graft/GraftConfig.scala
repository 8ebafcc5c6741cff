package graft

/** Externalized endpoint/config surface.
  *
  * The reference ships `src/main/resources/param.conf` (Typesafe config
  * with Kafka + MySQL endpoints) but never loads it — every endpoint is
  * hard-coded (SURVEY.md §2.1 config note, reference
  * `LogAnalysis.java:54-63,108-113`). This rebuild actually externalizes:
  * every setting reads `GRAFT_<KEY>` from the environment, then the
  * `graft.<key>` JVM system property, then the reference's documented
  * default.
  *
  * `shufflePartitions` sizes the session's shuffles. The streaming
  * pipeline ([[LogAnalysisApp.start]]) gives a new checkpoint
  * `min(shufflePartitions, defaultParallelism)` state partitions, so the
  * default of 32 only reaches the state stores on a cluster with at
  * least 32 cores. A checkpoint keeps the count it started with: a
  * restart with a different setting or more cores does not change it.
  */
final case class GraftConfig(
    kafkaBrokers: String,
    kafkaTopic: String,
    kafkaGroupId: String,
    kafkaStartingOffsets: String,
    jdbcUrl: String,
    jdbcUser: String,
    jdbcPassword: String,
    checkpointDir: String,
    shufflePartitions: Int)

object GraftConfig {

  def get(key: String, default: String): String =
    sys.env.getOrElse(s"GRAFT_${key.toUpperCase.replace('.', '_')}",
      sys.props.getOrElse(s"graft.$key", default))

  /** Defaults mirror the reference deployment (`LogAnalysis.java:56,62,
    * 66,108-113`, checkpoint at `:43`): kms-2/3/4 brokers, topic
    * `user_access_logs`, group `log_consumer`, MySQL on kms-4.
    */
  def load(): GraftConfig = GraftConfig(
    kafkaBrokers = get("kafka.brokers", "kms-2:9092,kms-3:9092,kms-4:9092"),
    kafkaTopic = get("kafka.topic", "user_access_logs"),
    kafkaGroupId = get("kafka.group.id", "log_consumer"),
    kafkaStartingOffsets = get("kafka.starting.offsets", "earliest"),
    jdbcUrl = get("jdbc.url", "jdbc:mysql://kms-4:3306/mydb"),
    jdbcUser = get("jdbc.user", "root"),
    jdbcPassword = get("jdbc.password", ""),
    checkpointDir = get("checkpoint.dir", "/tmp/graft-checkpoints"),
    shufflePartitions = get("shuffle.partitions", "32").toInt)
}
