package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end product pipeline: files arriving in a directory → shared
  * parse → three continuous analytics → upsert sinks (the full reference
  * `LogAnalysis.main` shape, driven by the file source stand-in).
  */
class LogAnalysisAppSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  def line(ip: String, uri: String): String =
    s"""$ip - - [27/Aug/2020:10:20:53 +0800] "GET $uri HTTP/1.1" 200 1024 "-" "Mozilla/5.0""""

  test("file-stream end to end: three sinks fill and upsert across batches") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-logs").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    val sectionDim = Seq((3L, "tech"), (5L, "life")).toDF("fid", "name")
    val articleDim = Seq((9L, "post nine"), (7L, "post seven")).toDF("tid", "subject")

    Files.writeString(new java.io.File(logDir, "b1.log").toPath, Seq(
      line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
      line("10.0.0.1", "/forum.php?mod=viewthread&tid=9"),
      line("10.0.0.2", "/forum.php?mod=forumdisplay&fid=5"),
      "### not a log line ###").mkString("\n"))

    val p = LogAnalysisApp.start(spark,
      graft.sources.LogSources.textStreamLines(spark, logDir.toString),
      sectionDim, articleDim, ckpt)
    // incremental top-N parity oracle: rank rows must equal the top-10
    // of the running section counts (count desc, item asc) after EVERY
    // batch — the insert/retract contract of the Blink rank operator
    def topRanks(): Seq[(Int, String, Long)] =
      p.sectionTopSink.snapshot.toSeq
        .map { case (k, v) => (k.head.asInstanceOf[Int], v(1).asInstanceOf[String], v(2).asInstanceOf[Long]) }
        .sortBy(_._1)
    try {
      p.hotSection.processAllAvailable()
      p.hotArticle.processAllAvailable()
      p.clientIp.processAllAvailable()
      p.hotSectionIncr.processAllAvailable()
      assert(p.sectionSink.snapshot.size == 2)
      assert(p.articleSink.snapshot.keySet == Set(Seq(9L)))
      assert(p.clientSink.snapshot(Seq("10.0.0.1")).last == 2L)
      // b1: fid3=1, fid5=1 — tie broken by item asc
      assert(topRanks() == Seq((1, "3", 1L), (2, "5", 1L)))

      Files.writeString(new java.io.File(logDir, "b2.log").toPath, Seq(
        line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
        line("10.0.0.3", "/forum.php?mod=viewthread&tid=7")).mkString("\n"))
      p.hotSection.processAllAvailable()
      p.hotArticle.processAllAvailable()
      p.clientIp.processAllAvailable()
      p.hotSectionIncr.processAllAvailable()

      val sec3 = p.sectionSink.snapshot(Seq(3L))
      assert(sec3.contains("tech") && sec3.last == 2L) // upserted count grew
      assert(p.articleSink.snapshot.keySet == Set(Seq(9L), Seq(7L)))
      assert(p.clientSink.snapshot(Seq("10.0.0.3")).last == 1L)
      // b2: fid3=2, fid5=1
      assert(topRanks() == Seq((1, "3", 2L), (2, "5", 1L)))

      // b3: two more fid5 hits flip the ranking — the retract+insert
      // the complete-mode path replays and the incremental path upserts
      Files.writeString(new java.io.File(logDir, "b3.log").toPath, Seq(
        line("10.0.0.4", "/forum.php?mod=forumdisplay&fid=5"),
        line("10.0.0.5", "/forum.php?mod=forumdisplay&fid=5")).mkString("\n"))
      p.hotSection.processAllAvailable()
      p.hotSectionIncr.processAllAvailable()
      // fid5=3 overtakes fid3=2 (rank flip across batch 3)
      assert(topRanks() == Seq((1, "5", 3L), (2, "3", 2L)))
      // and the complete-mode sink agrees on the counts
      assert(p.sectionSink.snapshot(Seq(5L)).last == 3L)
    } finally {
      p.hotSection.stop(); p.hotArticle.stop(); p.clientIp.stop()
      p.hotSectionIncr.stop()
    }
  }

  test("checkpoint recovery: restart resumes aggregate state, no double counting") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-logs-r").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-r").toString
    val sectionDim = Seq((3L, "tech")).toDF("fid", "name")
    val articleDim = Seq((9L, "post nine")).toDF("tid", "subject")

    Files.writeString(new java.io.File(logDir, "b1.log").toPath,
      Seq(line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
        line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3")).mkString("\n"))
    val p1 = LogAnalysisApp.start(spark,
      graft.sources.LogSources.textStreamLines(spark, logDir.toString),
      sectionDim, articleDim, ckpt)
    p1.hotSection.processAllAvailable()
    assert(p1.sectionSink.snapshot(Seq(3L)).last == 2L)
    p1.hotSection.stop(); p1.hotArticle.stop(); p1.clientIp.stop()
    p1.hotSectionIncr.stop()

    // restart from the same checkpoint with fresh sinks; add one more hit
    Files.writeString(new java.io.File(logDir, "b2.log").toPath,
      line("10.0.0.2", "/forum.php?mod=forumdisplay&fid=3"))
    val p2 = LogAnalysisApp.start(spark,
      graft.sources.LogSources.textStreamLines(spark, logDir.toString),
      sectionDim, articleDim, ckpt)
    try {
      p2.hotSection.processAllAvailable()
      // 2 (restored from StateStore) + 1 (new file); b1 not re-consumed
      assert(p2.sectionSink.snapshot(Seq(3L)).last == 3L)
      // the incremental top-N restores its count map + buffer too
      p2.hotSectionIncr.processAllAvailable()
      assert(p2.sectionTopSink.snapshot(Seq(1))(2) == 3L)
    } finally {
      p2.hotSection.stop(); p2.hotArticle.stop(); p2.clientIp.stop()
      p2.hotSectionIncr.stop()
    }
  }

  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val StartConfs = Seq(ShufflePartitions,
    "spark.sql.sources.parallelPartitionDiscovery.threshold",
    "spark.sql.streaming.stateStore.providerClass")

  /** Runs `body` with `key` set on the session, then restores it. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Starts the pipeline over `logDir`, drains it, runs `check` and stops it. */
  def drain[T](logDir: java.io.File, ckpt: String)(check: LogAnalysisApp.Pipelines => T): T = {
    import spark.implicits._
    val p = LogAnalysisApp.start(spark,
      graft.sources.LogSources.textStreamLines(spark, logDir.toString),
      Seq((3L, "tech"), (5L, "life")).toDF("fid", "name"),
      Seq((9L, "post nine")).toDF("tid", "subject"), ckpt)
    val queries = Seq(p.hotSection, p.hotArticle, p.clientIp, p.hotSectionIncr)
    try {
      queries.foreach(_.processAllAvailable())
      check(p)
    } finally queries.foreach(_.stop())
  }

  /** The state partitions a query's first stateful operator keeps. */
  def statePartitions(ckpt: String, query: String): Int =
    new java.io.File(ckpt, s"$query/state/0").listFiles()
      .count(f => f.isDirectory && f.getName.forall(_.isDigit))

  test("a fresh checkpoint gets one state partition per core, not spark.sql.shuffle.partitions") {
    val cores = spark.sparkContext.defaultParallelism
    val logDir = Files.createTempDirectory("graft-logs-sp").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-sp").toString
    Files.writeString(new java.io.File(logDir, "b1.log").toPath,
      line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"))
    withConf(ShufflePartitions, (cores * 8).toString) {
      drain(logDir, ckpt)(p => assert(p.sectionSink.snapshot(Seq(3L)).last == 1L))
    }
    assert(statePartitions(ckpt, "hot_section") == cores)
  }

  test("restart keeps the checkpoint's state partition count and does not double count") {
    val logDir = Files.createTempDirectory("graft-logs-sp2").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-sp2").toString
    Files.writeString(new java.io.File(logDir, "b1.log").toPath, Seq(
      line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
      line("10.0.0.2", "/forum.php?mod=forumdisplay&fid=3")).mkString("\n"))
    withConf(ShufflePartitions, "2") {
      drain(logDir, ckpt)(p => assert(p.sectionSink.snapshot(Seq(3L)).last == 2L))
    }
    assert(statePartitions(ckpt, "hot_section") == 2)

    Files.writeString(new java.io.File(logDir, "b2.log").toPath,
      line("10.0.0.3", "/forum.php?mod=forumdisplay&fid=3"))
    withConf(ShufflePartitions, "32") {
      drain(logDir, ckpt) { p =>
        assert(p.sectionSink.snapshot(Seq(3L)).last == 3L)
        assert(p.sectionTopSink.snapshot(Seq(1))(2) == 3L)
      }
    }
    assert(statePartitions(ckpt, "hot_section") == 2)
  }

  test("start leaves the caller's start-time confs as they were") {
    val logDir = Files.createTempDirectory("graft-logs-cf").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-cf").toString
    Files.writeString(new java.io.File(logDir, "b1.log").toPath,
      line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"))
    def confs() = StartConfs.map(k => (spark.conf.getAll.get(k), spark.conf.getOption(k)))
    withConf(ShufflePartitions, "16") {
      val before = confs()
      drain(logDir, ckpt)(_ => assert(confs() == before))
      assert(confs() == before)
    }
  }

  test("a batch of more files than the parallel-listing threshold runs no listing job") {
    val logDir = Files.createTempDirectory("graft-logs-ls").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-ls").toString
    val files = 40
    assert(files > spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
    (0 until files).foreach { i =>
      Files.writeString(new java.io.File(logDir, f"b$i%02d.log").toPath,
        line(s"10.0.1.$i", "/forum.php?mod=forumdisplay&fid=3"))
    }
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      drain(logDir, ckpt)(p => assert(p.sectionSink.snapshot(Seq(3L)).last == files.toLong))
      // The listener bus delivers in order: once this job is seen, so are the pipeline's.
      sc.setJobDescription("listing-spec marker")
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!descriptions.contains("listing-spec marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(descriptions.contains("listing-spec marker"))
      val listings = descriptions.asScala.filter(_.startsWith("Listing leaf files"))
      assert(listings.isEmpty, s"listing jobs ran: ${listings.mkString("; ")}")
    } finally sc.removeSparkListener(listener)
  }

  test("a second start over the same files, on a fresh checkpoint, compiles no generated class") {
    val logDir = Files.createTempDirectory("graft-logs-cg").toFile
    Files.writeString(new java.io.File(logDir, "b1.log").toPath, Seq(
      line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
      line("10.0.0.2", "/forum.php?mod=viewthread&tid=9"),
      "### not a log line ###").mkString("\n"))
    def compiles(): Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(): Unit = drain(logDir, Files.createTempDirectory("graft-ckpt-cg").toString) { p =>
      assert(p.sectionSink.snapshot(Seq(3L)).last == 1L)
      assert(p.clientSink.snapshot.size == 2)
    }
    run()
    val before = compiles()
    run()
    // each query runs on a clone of the session; with one class loader for
    // every session the clones share Spark's generated-code cache
    assert(compiles() == before, s"${compiles() - before} classes compiled on the second start")
  }

  test("monitors: robust-z volume alarm + browse→read interval join off one shared parse") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-logs-m").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-m").toString
    def tline(ip: String, time: String, uri: String): String =
      s"""$ip - - [27/Aug/2020:$time +0800] "GET $uri HTTP/1.1" 200 1024 "-" "Mozilla/5.0""""
    // historical per-period volumes: med=14 → m2=28, mad4=8
    val ref = Seq(10L, 12L, 14L, 16L, 18L).toDF("x")

    Files.writeString(new java.io.File(logDir, "b1.log").toPath, Seq(
      tline("10.0.0.1", "10:20:00", "/forum.php?mod=forumdisplay&fid=3"),
      tline("10.0.0.1", "10:25:00", "/forum.php?mod=viewthread&tid=9"), // 300 s after the browse → match
      tline("10.0.0.2", "10:20:30", "/forum.php?mod=viewthread&tid=7"), // read with no prior browse → drop
      tline("10.0.0.1", "10:40:00", "/forum.php?mod=viewthread&tid=7")  // 1200 s > maxGap → drop
    ).mkString("\n"))

    val m = LogAnalysisApp.startMonitors(spark,
      graft.sources.LogSources.textStreamLines(spark, logDir.toString), ref, ckpt)
    try {
      m.volumeAlarm.processAllAvailable()
      m.funnel.processAllAvailable()
      // batch 0: 4 parsed rows → z = 1349·|8−28|·1000/8 = 3372500 (< 3.5) — quiet
      assert(m.alarms(0L) == ((4L, Some(3372500L), false)))
      val rows = m.funnelSink.snapshot.values.toSeq
      assert(rows.size == 1, s"expected exactly one funnel match, got $rows")
      assert(rows.head.head == "10.0.0.1" && rows.head.last == 9L)

      // batch 1: ONE row — 1349·|2−28| = 35074 > 3500·8 → the alarm fires
      Files.writeString(new java.io.File(logDir, "b2.log").toPath,
        tline("10.0.0.9", "11:00:00", "/forum.php?mod=forumdisplay&fid=5"))
      m.volumeAlarm.processAllAvailable()
      val (x, z, fired) = m.alarms(1L)
      assert(x == 1L && z == Some(4384250L) && fired)
    } finally { m.volumeAlarm.stop(); m.funnel.stop() }
  }

  test("jdbc upsert SQL is the MySQL ON DUPLICATE KEY UPDATE form") {
    val u = new graft.sources.JdbcUpsert(
      "hot_section", Seq("section_id", "name", "section_pv"), Seq("section_id"),
      () => throw new UnsupportedOperationException("no db in tests"))
    assert(u.upsertSql ==
      "INSERT INTO hot_section (section_id, name, section_pv) VALUES (?, ?, ?) " +
        "ON DUPLICATE KEY UPDATE name = VALUES(name), section_pv = VALUES(section_pv)")
  }

  test("config precedence: env > sysprop > reference default") {
    assert(GraftConfig.load().kafkaTopic == "user_access_logs")
    sys.props.put("graft.kafka.topic", "override_topic")
    try assert(GraftConfig.load().kafkaTopic == "override_topic")
    finally sys.props.remove("graft.kafka.topic")
  }
}
