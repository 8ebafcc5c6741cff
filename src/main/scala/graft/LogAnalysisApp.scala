package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import org.apache.spark.sql.graft.ColumnBridge

import graft.streaming.{LogStream, UpsertSink}

/** The product pipeline — the rebuild of the reference's
  * `LogAnalysis.main` (`LogAnalysis.java:34-94`): one parsed-stream
  * definition feeding the three continuous analytics, each attached to a
  * PK-upsert sink.
  *
  * Like the reference (its B4 quirk: three INDEPENDENT jobs, each
  * re-consuming the Kafka topic, `LogAnalysis.java:131,187,258`), each
  * query here is its own streaming query: the parse is defined once, but
  * every query reads the source and parses every line itself.
  *
  * Top-N sinks run in COMPLETE mode (per-key aggregate state is small —
  * one row per section/article) and rank inside foreachBatch — Spark's
  * equivalent of Blink's streaming Top-N rewrite (SURVEY.md §2.1 Q4).
  */
object LogAnalysisApp {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val ListingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
  private val StateStoreProvider = "spark.sql.streaming.stateStore.providerClass"

  /** Runs `starts` over `lines` with the start-time confs set on `spark`,
    * then restores the caller's values: each query snapshots the session
    * conf at `start()`. A new checkpoint records its snapshot's
    * `spark.sql.shuffle.partitions` as its state partition count, and
    * here that is `min(spark.sql.shuffle.partitions, defaultParallelism)`;
    * a restart restores the recorded count instead. In local mode the
    * file source also lists each batch's files on the driver: with more
    * files than the parallel-listing threshold, the listing is otherwise
    * a Spark job with one task per file at every batch. The source reads
    * that threshold live from its own session, so it gets a session clone
    * (see `ColumnBridge.withSourceConfs`) rather than a start-time conf.
    */
  private def startQueries[T](spark: SparkSession, lines: DataFrame,
      extra: (String, String)*)(starts: DataFrame => T): T = {
    val sc = spark.sparkContext
    val source =
      if (sc.isLocal) ColumnBridge.withSourceConfs(lines, Map(ListingThreshold -> Int.MaxValue.toString))
      else lines
    val confs = (ShufflePartitions ->
      math.min(spark.conf.get(ShufflePartitions).toInt, sc.defaultParallelism).toString) +: extra
    val prior = spark.conf.getAll
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try starts(source)
    finally confs.foreach { case (k, _) => prior.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  final case class Pipelines(
      hotSection: StreamingQuery,
      hotArticle: StreamingQuery,
      clientIp: StreamingQuery,
      hotSectionIncr: StreamingQuery,
      sectionSink: UpsertSink,
      articleSink: UpsertSink,
      clientSink: UpsertSink,
      sectionTopSink: UpsertSink)

  /** Wire the three analytics onto an unbounded `line` stream. Dims are
    * static snapshots (broadcast per micro-batch — the lookup-join
    * analog). Sinks are in-memory upsert tables; swap the merge lambda
    * for graft.sources.JdbcUpsert#write against MySQL in production.
    *
    * The four queries run on the RocksDB state store (transformWithState,
    * under the incremental top-N, requires it). A new checkpoint gets
    * `min(spark.sql.shuffle.partitions, defaultParallelism)` state
    * partitions: the state is small (one row per section, article or
    * client) and every partition pays an open and a commit per batch.
    * The count is fixed for the checkpoint's lifetime: a restart on more
    * cores, or with a higher setting, keeps it. On a cluster,
    * `defaultParallelism` counts the executor cores registered when the
    * checkpoint's first batch starts. `spark`'s own confs are left as
    * they were.
    */
  def start(spark: SparkSession, lines: DataFrame,
      sectionDim: DataFrame, articleDim: DataFrame,
      checkpointRoot: String): Pipelines = startQueries(spark, lines,
      StateStoreProvider -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") { lines =>
    val parsed = LogStream.parsedTuples(lines)

    val sectionSink = new UpsertSink(Seq("section_id"))
    val articleSink = new UpsertSink(Seq("article_id"))
    val clientSink = new UpsertSink(Seq("client_ip"))

    def top10(df: DataFrame, orderCol: String, idCol: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      // complete-mode batch = the aggregate state table (group-count-
      // bounded), so one partition is CORRECT — but key the window
      // (GraftFunctions.singleton_key) rather than leave the spec
      // empty: same execution, no "No Partition Defined" WARN
      df.withColumn("_rn", row_number().over(
          Window.partitionBy(graft.functions.GraftFunctions.singleton_key(col(idCol)))
            .orderBy(col(orderCol).desc, col(idCol))))
        .filter(col("_rn") <= 10).drop("_rn")
    }

    val hotSection = LogStream.sectionCounts(parsed, sectionDim)
      .writeStream.outputMode("complete")
      .option("checkpointLocation", s"$checkpointRoot/hot_section")
      .foreachBatch { (df: DataFrame, id: Long) =>
        // complete-mode top-N: batch is the whole table; replace() swaps
        // atomically enough that readers never see it empty/partial.
        sectionSink.replace(top10(df, "section_pv", "section_id"), id)
      }.start()

    val hotArticle = LogStream.articleCounts(parsed, articleDim)
      .writeStream.outputMode("complete")
      .option("checkpointLocation", s"$checkpointRoot/hot_article")
      .foreachBatch { (df: DataFrame, id: Long) =>
        articleSink.replace(top10(df, "article_pv", "article_id"), id)
      }.start()

    val clientIp = LogStream.clientCounts(parsed)
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$checkpointRoot/client_ip")
      .foreachBatch { (df: DataFrame, id: Long) => clientSink.merge(df, id) }
      .start()

    // Incremental Blink-parity top-N off the same parse definition: the
    // keyed rank operator (graft.streaming.TopNStream) instead of the
    // complete-mode sort — per-batch work is O(touched sections + k),
    // state never replays the whole aggregate table. Sink upserts by
    // rank, exactly the reference's MySQL top-10 table contract.
    val sectionTopSink = new UpsertSink(Seq("rank"))
    val hotSectionIncr = graft.streaming.TopNStream(
        parsed.filter(col("section_id") =!= 0)
          .select(lit("section").as("ctx"),
            col("section_id").cast("string").as("item"),
            lit(1L).as("delta")), 10)
      .toDF("ctx", "rank", "item", "cnt")
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$checkpointRoot/hot_section_incr")
      .foreachBatch { (df: DataFrame, id: Long) =>
        sectionTopSink.merge(df.drop("ctx"), id)
      }.start()

    Pipelines(hotSection, hotArticle, clientIp, hotSectionIncr,
      sectionSink, articleSink, clientSink, sectionTopSink)
  }

  final case class Monitors(
      volumeAlarm: StreamingQuery,
      funnel: StreamingQuery,
      alarms: scala.collection.concurrent.TrieMap[Long, (Long, Option[Long], Boolean)],
      funnelSink: UpsertSink)

  /** The extension sinks, two more streaming queries over the same parse
    * definition as the three product analytics (each reads and parses
    * every line itself, as each product query does):
    *
    *   - **volume alarm**: each micro-batch's row count robust-z'd
    *     against `refVolumes` (historical per-period volumes, an `x:
    *     long` column) via [[graft.streaming.AnomalyStream]] — the
    *     ingest-side pager that fires BEFORE a surge reaches the
    *     aggregates. Alarms land in `Monitors.alarms` keyed by batch id.
    *   - **browse→read funnel**: the stream-stream interval join
    *     ([[graft.streaming.EventJoinStream]]) between section browses
    *     (fid hits) and article reads (tid hits) by the SAME client
    *     within `maxGapSec` — both sides derive from the one parsed
    *     stream, watermarked on the log's event time, so the symmetric
    *     join state stays O(rate × window) forever.
    *
    * Scale note: everything here is per-micro-batch narrow work plus one
    * watermark-bounded join keyed on client_ip; no unbounded state. Both
    * queries start as [[start]]'s do (state partitions sized to the cores,
    * batch files listed on the driver in local mode) but keep the
    * session's state-store provider.
    */
  def startMonitors(spark: SparkSession, lines: DataFrame,
      refVolumes: DataFrame, checkpointRoot: String,
      maxGapSec: Int = 600, watermarkSec: Int = 300): Monitors = startQueries(spark, lines) { lines =>
    val parsed = LogStream.parsedTuples(lines)
      .withColumn("ts", to_timestamp(col("access_date")))

    val alarms = scala.collection.concurrent.TrieMap[Long, (Long, Option[Long], Boolean)]()
    val volumeAlarm = graft.streaming.AnomalyStream.volumeMonitor(
        parsed, refVolumes, Some(s"$checkpointRoot/volume_alarm")) { (id, df) =>
      val r = df.collect().head
      alarms.put(id, (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
    }

    val views = parsed.filter(col("section_id") =!= 0)
      .select(col("client_ip").as("user_id"), col("ts"))
    val reads = parsed.filter(col("article_id") =!= 0)
      .select(col("client_ip").as("user_id"), col("ts"),
        col("article_id").as("value"))
    val funnelSink = new UpsertSink(Seq("user_id", "view_ts", "purchase_ts"))
    val funnel = graft.streaming.EventJoinStream
      .viewToPurchase(views, reads, maxGapSec, watermarkSec)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$checkpointRoot/funnel")
      .foreachBatch { (df: DataFrame, id: Long) => funnelSink.merge(df, id) }
      .start()

    Monitors(volumeAlarm, funnel, alarms, funnelSink)
  }

  /** CLI: `LogAnalysisApp <logDir> <sfDir>` — file-arrival stream over
    * logDir (Kafka in production: graft.sources.LogSources.kafkaLines),
    * dims from the sfDir testdata.
    */
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: LogAnalysisApp <logDir> <sfDir>")
      sys.exit(2)
    }
    val Array(logDir, sfDir) = args.take(2)
    val cfg = GraftConfig.load()
    val spark = GraftSession.build(
      sys.env.getOrElse("SPARK_MASTER", "local[4]"), cfg.shufflePartitions.toString)
    val p = start(spark,
      graft.sources.LogSources.textStreamLines(spark, logDir),
      graft.analytics.ForumAnalytics.sections(spark, sfDir),
      graft.analytics.ForumAnalytics.articles(spark, sfDir),
      cfg.checkpointDir)
    p.clientIp.awaitTermination()
  }
}
