package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.{GraftConfig, GraftSession, LogAnalysisApp}
import graft.analytics.ForumAnalytics
import graft.logs.LogParser
import graft.sources.LogSources

/** stream-catchup: a seeded backlog of chunk files sits in the source
  * directory before `LogAnalysisApp.start`, as after a restart from the
  * earliest offsets. The timed unit runs from `start` until each of the
  * four queries has finished the micro-batch that read the last chunk.
  * Set-up drains a smaller backlog of other lines first, so the timed
  * drain runs on compiled code rather than racing the JIT compiler. That
  * drain runs on one shuffle partition per core: a new checkpoint's
  * first batch pays per-partition state-store costs that would triple
  * set-up without warming any more code.
  */
object CatchUp {

  val Chunks = 100
  val LinesPerChunk = 1000
  /** Chunks of the set-up drain: the stream's next ones after the backlog. */
  val WarmChunks = 20

  /** The checkpoint sub-directory `LogAnalysisApp.start` gives each query. */
  val QueryDirs = Seq("hot_section", "hot_article", "client_ip", "hot_section_incr")

  /** Fails a drain that has not finished by then. */
  val DrainTimeoutS = 150

  private final case class Progress(p: StreamingQueryProgress, receivedNs: Long)

  /** Collects every query's progress as the listener bus delivers it. */
  private final class ProgressLog extends StreamingQueryListener {
    val byBatch = new ConcurrentHashMap[(String, Long), Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      byBatch.put((e.progress.id.toString, e.progress.batchId), Progress(e.progress, System.nanoTime()))
    def of(queryId: String): Seq[StreamingQueryProgress] =
      byBatch.asScala.toSeq.collect { case ((q, _), p) if q == queryId => p.p }.sortBy(_.batchId)
  }

  def run(a: Main.Args, tracer: Option[Tracer]): Outcome = {
    val logDir = Files.createDirectories(a.work.resolve("logs"))
    val warmDir = Files.createDirectories(a.work.resolve("warm-logs"))
    // Pre-rendered before set-up and not timed.
    (0 until Chunks).foreach(i => LineGen.publish(logDir, i, LineGen.chunk(a.seed, i, LinesPerChunk)))
    (Chunks until Chunks + WarmChunks).foreach(i =>
      LineGen.publish(warmDir, i, LineGen.chunk(a.seed, i, LinesPerChunk)))
    val lines = Chunks * LinesPerChunk
    val chunkNames = (0 until Chunks).map(LineGen.chunkName).toSet
    val progress = new ProgressLog
    // The session posture of LogAnalysisApp.main.
    val shufflePartitions = GraftConfig.load().shufflePartitions.toString
    val (spark, (sectionDim, articleDim), setupS) =
      Main.setUp(a, () => GraftSession.build(s"local[${Main.Cores}]", shufflePartitions)) { s =>
        s.streams.addListener(progress)
        val (sections, articles) = (ForumAnalytics.sections(s, a.data), ForumAnalytics.articles(s, a.data))
        val ckpt = a.work.resolve("checkpoint-warm")
        s.conf.set("spark.sql.shuffle.partitions", Main.Cores.toString)
        val p = LogAnalysisApp.start(s, LogSources.textStreamLines(s, warmDir.toString), sections, articles,
          ckpt.toString)
        val warm = awaitDrain(queriesOf(p), ckpt, (Chunks until Chunks + WarmChunks).map(LineGen.chunkName).toSet,
          progress, System.nanoTime() + DrainTimeoutS * 1000000000L)
        stopAll(p)
        s.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
        warm.left.foreach(why => throw new IllegalStateException("set-up drain failed: " + why.mkString("; ")))
        (sections, articles)
      }
    tracer.foreach(spark.sparkContext.addSparkListener)
    val workloadSpan = tracer.map(_.newId()).getOrElse(0L)
    val runStart = System.currentTimeMillis()

    val walls = mutable.ArrayBuffer[Double]()
    val errors = mutable.ArrayBuffer[String]()
    val chunkDone = mutable.ArrayBuffer[Double]()
    var buildS = 0.0
    var referenceS = 0.0
    var failedChunks = 0
    var last: (LogAnalysisApp.Pipelines, Path) = null
    var unitSpan = 0L
    // Drains repeat, each on a fresh checkpoint, until --seconds of
    // drains are measured; the first always runs.
    while (errors.isEmpty && (walls.isEmpty || walls.sum < a.seconds)) {
      if (last != null) stopAll(last._1)
      val ckpt = a.work.resolve(s"checkpoint-${walls.size + 1}")
      unitSpan = tracer.map(_.newId()).getOrElse(0L)
      val unitStart = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val p = LogAnalysisApp.start(spark, LogSources.textStreamLines(spark, logDir.toString),
        sectionDim, articleDim, ckpt.toString)
      buildS = (System.nanoTime() - t0) / 1e9
      last = (p, ckpt)
      val queries = queriesOf(p)
      awaitDrain(queries, ckpt, chunkNames, progress, t0 + DrainTimeoutS * 1000000000L) match {
        case Left(why) =>
          errors ++= why
          failedChunks = Chunks
        case Right(done) =>
          val endNs = done.values.map(_._2).max
          walls += (endNs - t0) / 1e9
          // Per chunk: when the last of the four batches that read it ended.
          val batchEnd = queries.map { case (dir, q) =>
            dir -> progress.of(q.id.toString).map(pr => pr.batchId -> progress.byBatch.get((q.id.toString, pr.batchId)).receivedNs).toMap
          }.toMap
          chunkDone.clear()
          chunkNames.foreach { c =>
            chunkDone += QueryDirs.map(d => batchEnd(d)(done(d)._1(c))).max.toDouble / 1e6 - t0 / 1e6
          }
      }
      tracer.foreach { t =>
        t.record(Span(unitSpan, workloadSpan, "", s"drain ${walls.size}", "unit", unitStart,
          System.currentTimeMillis()))
      }
    }
    val runEnd = System.currentTimeMillis()
    val (p, ckpt) = last
    val queries = queriesOf(p)
    if (errors.isEmpty) {
      // Let in-flight no-data batches finish before the sinks are read.
      stopAll(p)
      val (mismatches, seconds) = check(spark, p, logDir, sectionDim, articleDim)
      errors ++= mismatches
      referenceS = seconds
      queries.foreach { case (dir, q) =>
        val read = progress.of(q.id.toString).map(_.numInputRows).sum
        if (read != lines) errors += s"$dir read $read rows of $lines lines"
      }
      if (errors.nonEmpty) failedChunks = Chunks
    } else stopAll(p)

    val (layers, trace) = tracer match {
      case None => (Map.empty[String, Double], Map.empty[String, Any])
      case Some(t) =>
        t.settle()
        val (unitFrom, unitTo) = t.driverSpans.filter(_.layer == "unit").map(s => (s.start, s.end)).last
        t.record(Span(workloadSpan, 0L, "", "workload", "workload", runStart, runEnd))
        // One span per micro-batch of the last drain.
        val batchSpans = mutable.Map[(String, Long), Long]()
        queries.foreach { case (dir, q) =>
          progress.of(q.id.toString).filter(_.numInputRows > 0).foreach { pr =>
            val start = java.time.Instant.parse(pr.timestamp).toEpochMilli
            val id = t.newId()
            batchSpans((q.id.toString, pr.batchId)) = id
            t.record(Span(id, unitSpan, dir, s"$dir batch ${pr.batchId}", "micro-batch", start,
              start + pr.durationMs.getOrDefault("triggerExecution", 0L)))
          }
        }
        val spans = t.driverSpans ++ t.sparkSpans((q, b) => batchSpans.get((q, b)))
        val specific = mutable.LinkedHashMap[String, Double]()
        queries.foreach { case (dir, q) =>
          val ps = progress.of(q.id.toString).filter(_.numInputRows > 0)
          def med(f: StreamingQueryProgress => Double) = if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
          def d(pr: StreamingQueryProgress, k: String) = pr.durationMs.getOrDefault(k, 0L).toDouble
          val state = ps.lastOption.flatMap(_.stateOperators.headOption)
          specific ++= Seq(
            s"streaming.$dir.batches" -> ps.size.toDouble,
            s"streaming.$dir.trigger_ms_p50" -> med(d(_, "triggerExecution")),
            s"streaming.$dir.add_batch_ms_p50" -> med(d(_, "addBatch")),
            s"streaming.$dir.planning_ms_p50" -> med(d(_, "queryPlanning")),
            s"streaming.$dir.wal_ms_p50" -> med(pr => d(pr, "walCommit") + d(pr, "commitOffsets")),
            s"streaming.$dir.list_ms_p50" -> med(pr => d(pr, "latestOffset") + d(pr, "getBatch")),
            s"streaming.$dir.state_commit_ms_p50" ->
              med(pr => pr.stateOperators.map(_.commitTimeMs.toDouble).sum),
            s"streaming.$dir.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
            s"streaming.$dir.state_mem_mb" -> state.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0))
        }
        specific("streaming.rows_read_per_line") =
          queries.map { case (_, q) => progress.of(q.id.toString).map(_.numInputRows).sum }.sum.toDouble / lines
        if (chunkDone.nonEmpty) {
          specific("streaming.chunk_done_ms_p50") = Stats.percentile(chunkDone.toSeq, 50)
          Stats.supportedPercentile(chunkDone.size).foreach { pct =>
            specific(s"streaming.chunk_done_ms_p$pct") = Stats.percentile(chunkDone.toSeq, pct)
          }
        }
        specific("logs.parse_lines_per_s") = parseRate(spark, logDir, lines)
        specific("analytics.reference_s") = referenceS
        val generic = t.totals(unitFrom, unitTo).metrics ++ Seq(
          "build_s" -> buildS,
          "exec_s" -> (walls.last - buildS),
          "trace.wall_s" -> Stats.median(walls.toSeq))
        (generic.toMap, Main.traceFile(spans, Map(
          "layers" -> (generic ++ specific).toMap,
          "chunk_batches" -> queries.map { case (dir, _) =>
            dir -> SourceLog.fileBatches(ckpt.resolve(dir)) }.toMap)))
    }
    spark.stop()
    Outcome(setupS, walls.toSeq, Chunks, failedChunks, errors.toSeq, layers = layers, trace = trace)
  }

  /** Waits until every query has finished the micro-batch that read the
    * last of `names`: its source log lists every one, and that batch has
    * reported its progress. Returns per query each chunk's batch id and
    * when the last batch ended, or why a query did not get there.
    */
  private def awaitDrain(queries: Seq[(String, StreamingQuery)], ckpt: Path, names: Set[String],
      progress: ProgressLog, deadlineNs: Long): Either[Seq[String], Map[String, (Map[String, Long], Long)]] = {
    def finished(q: StreamingQuery, dir: String): Option[(Map[String, Long], Long)] = {
      val files = SourceLog.fileBatches(ckpt.resolve(dir)).filter { case (f, _) => names(f) }
      if (files.size < names.size) None
      else Option(progress.byBatch.get((q.id.toString, files.values.max))).map(pr => (files, pr.receivedNs))
    }
    var done = Map.empty[String, (Map[String, Long], Long)]
    while (done.size < queries.size && System.nanoTime() < deadlineNs && queries.forall(_._2.isActive)) {
      queries.foreach { case (dir, q) => if (!done.contains(dir)) finished(q, dir).foreach(d => done += dir -> d) }
      if (done.size < queries.size) Thread.sleep(50)
    }
    if (done.size == queries.size) Right(done)
    else Left(queries.collect { case (dir, q) if !done.contains(dir) =>
      s"$dir: " + q.exception.map(_.getMessage.take(300)).getOrElse(
        if (q.isActive) s"not drained within $DrainTimeoutS s" else "stopped")
    })
  }

  private def queriesOf(p: LogAnalysisApp.Pipelines): Seq[(String, StreamingQuery)] =
    QueryDirs.zip(Seq(p.hotSection, p.hotArticle, p.clientIp, p.hotSectionIncr))

  private def stopAll(p: LogAnalysisApp.Pipelines): Unit =
    queriesOf(p).foreach(_._2.stop())

  /** `LogParser.accessTuples` over the backlog, forced with a noop write. */
  private def parseRate(spark: SparkSession, logDir: Path, lines: Int): Double = {
    val t0 = System.nanoTime()
    LogParser.accessTuples(LogSources.textLines(spark, logDir.toString))
      .write.format("noop").mode("overwrite").save()
    lines / ((System.nanoTime() - t0) / 1e9)
  }

  private def rowKey(r: Row): Seq[String] = r.toSeq.map(String.valueOf)

  /** The final sink snapshots against `ForumAnalytics` over the same
    * lines, and the incremental top-10 against the top 10 of the
    * complete-mode counts (count descending, then id as a string, the
    * rank operator's order). Returns one message per mismatch and the
    * seconds the three `ForumAnalytics` results took.
    */
  private def check(spark: SparkSession, p: LogAnalysisApp.Pipelines, logDir: Path,
      sectionDim: DataFrame, articleDim: DataFrame): (Seq[String], Double) = {
    val logs = LogParser.accessTuples(LogSources.textLines(spark, logDir.toString)).cache()
    val t0 = System.nanoTime()
    val sections = ForumAnalytics.hotSections(logs, sectionDim).collect()
    val articles = ForumAnalytics.hotArticles(logs, articleDim).collect()
    val clients = ForumAnalytics.clientIpAccess(logs).collect()
    val referenceS = (System.nanoTime() - t0) / 1e9
    val sectionCounts = logs.filter(col("section_id") =!= 0).groupBy("section_id").count().collect()
      .map(r => (r.get(0).toString, r.getLong(1)))
    val top = sectionCounts.sortBy { case (id, n) => (-n, id) }.take(10)
      .zipWithIndex.map { case ((id, n), i) => Seq((i + 1).toString, id, n.toString) }

    def same(name: String, got: Iterable[Seq[Any]], want: Iterable[Seq[String]]): Option[String] = {
      val g = got.map(_.map(String.valueOf)).toSet
      val w = want.toSet
      def show(rows: Set[Seq[String]]) = rows.take(3).map(_.mkString("(", ", ", ")")).mkString(" ")
      if (g == w) None
      else Some(s"$name: sink has ${g.size} rows, reference ${w.size}; " +
        s"missing ${show(w -- g)}; extra ${show(g -- w)}")
    }
    val mismatches = Seq(
      same("hot_section", p.sectionSink.snapshot.values, sections.map(rowKey)),
      same("hot_article", p.articleSink.snapshot.values, articles.map(rowKey)),
      same("client_ip", p.clientSink.snapshot.values, clients.map(rowKey)),
      same("hot_section_incr", p.sectionTopSink.snapshot.values, top.toSeq)).flatten
    logs.unpersist()
    (mismatches, referenceS)
  }
}
