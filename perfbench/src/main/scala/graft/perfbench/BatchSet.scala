package graft.perfbench

import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry}
import graft.sources.SessionMemo

/** One execution of one query: `build_s` is the time inside the query
  * function, `exec_s` the `collect()` of the DataFrame it returned.
  * A query that throws has status "error" and no timing.
  */
final case class QueryRun(rep: Int, name: String, status: String, build_s: Double, exec_s: Double,
    memo_s: Double, memo_builds: Int, rows: Long, digest: String, error: String)

/** The batch workload: a fixed query set run through
  * `SparkEntry.queries(name)(spark, dataDir)`, in an order the seed
  * permutes, with memos released before every pass.
  */
object BatchSet {

  val Passes = 2

  /** Iterative queries: a graph operator (ops/Graph) and a Queries
    * driver loop. Their wall is mostly DataFrame construction, driver
    * loops and memo builds.
    */
  val Loops: Seq[String] = Seq("q_hits", "q_scc")

  /** Single-plan queries, where stage execution dominates: a product
    * analytic, a training-data fuzzy join and a TPC-H join.
    */
  val OneShot: Seq[String] = Seq("q_hot_section", "q_fuzzy_join", "q_tpch21")

  def run(a: Main.Args, tracer: Option[Tracer]): Outcome = {
    val names = Loops ++ OneShot
    val (spark, _, setupS) = Main.setUp(a, () => GraftSession.local(Main.Cores.toString))(_ => ())
    tracer.foreach(spark.sparkContext.addSparkListener)
    SessionMemo.record(true)
    val rng = new scala.util.Random(a.seed)
    val runs = mutable.ArrayBuffer[QueryRun]()
    val walls = mutable.ArrayBuffer[Double]()
    val windows = mutable.ArrayBuffer[(Long, Long)]()
    val firstResult = mutable.LinkedHashMap[String, (String, Array[Row], StructType)]()
    val errors = mutable.ArrayBuffer[String]()
    val workloadSpan = tracer.map(_.newId()).getOrElse(0L)
    val runStart = System.currentTimeMillis()
    // At least `Passes` passes, more while less than --seconds is
    // measured; wall_s is their median. The first pass of a fresh JVM
    // also pays JIT and codegen for every plan. A pass's wall is the
    // summed time of its queries that ran correctly: a failed query is
    // never timed.
    while (walls.size < Passes || walls.sum < a.seconds) {
      val rep = walls.size + 1
      val order = rng.shuffle(names)
      releaseMemos(spark)
      val passStart = System.currentTimeMillis()
      val pass = spanned(tracer, workloadSpan, "", s"pass $rep", "unit") { unitSpan =>
        order.map(name => runQuery(spark, a, tracer, unitSpan, rep, name))
      }
      windows += ((passStart, System.currentTimeMillis()))
      val checked = pass.map { case (r, result) =>
        if (r.status != "ok") { errors += s"${r.name}: ${r.error}"; r }
        else firstResult.get(r.name) match {
          case None => firstResult(r.name) = (r.digest, result.get._1, result.get._2); r
          case Some((d, _, _)) if d != r.digest =>
            errors += s"${r.name}: pass $rep result differs from pass 1"
            r.copy(status = "mismatch")
          case _ => r
        }
      }
      runs ++= checked
      walls += checked.filter(_.status == "ok").map(r => r.build_s + r.exec_s).sum
    }
    val runEnd = System.currentTimeMillis()
    // Results are written after the timed passes, for run.py's oracle check.
    firstResult.foreach { case (name, (_, rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(a.work.resolve("results").resolve(name).toString)
    }
    val okRuns = runs.filter(_.status == "ok").toSeq
    val (layers, trace) = tracer match {
      case None => (Map.empty[String, Double], Map.empty[String, Any])
      case Some(t) =>
        t.settle()
        t.record(Span(workloadSpan, 0L, "", "workload", "workload", runStart, runEnd))
        // Per pass, as wall_s is: the median over passes of each metric.
        def perPass(f: Int => Double) = Stats.median(walls.indices.map(f))
        def passSum(f: QueryRun => Double, in: Seq[String] = names) =
          perPass(i => okRuns.filter(r => r.rep == i + 1 && in.contains(r.name)).map(f).sum)
        val spans = t.driverSpans ++ t.sparkSpans((_, _) => None)
        def jobsIn(layer: String) = t.driverSpans.filter(_.layer == layer).map(s => t.jobsOf(s.id).size).sum
        val specific = Seq(
            "queries.loops.wall_s" -> passSum(r => r.build_s + r.exec_s, Loops),
            "queries.oneshot.wall_s" -> passSum(r => r.build_s + r.exec_s, OneShot)) ++
          okRuns.groupBy(_.name).toSeq.flatMap { case (n, rs) =>
          Seq(s"queries.$n.build_s" -> Stats.median(rs.map(_.build_s)),
            s"queries.$n.exec_s" -> Stats.median(rs.map(_.exec_s)))
        } ++ Seq(
          "queries.build_jobs" -> jobsIn("build").toDouble / walls.size,
          "queries.exec_jobs" -> jobsIn("exec").toDouble / walls.size,
          "sources.memo_build_s" -> passSum(_.memo_s),
          "sources.memo_builds" -> passSum(_.memo_builds.toDouble))
        val passMetrics = windows.toSeq.map { case (from, to) => t.totals(from, to).metrics.toMap }
        val generic = passMetrics.head.keys.toSeq.sorted.map(k => k -> perPass(i => passMetrics(i)(k))) ++ Seq(
          "build_s" -> passSum(_.build_s),
          "exec_s" -> passSum(_.exec_s),
          "trace.wall_s" -> Stats.median(walls.toSeq))
        (generic.toMap, Main.traceFile(spans, Map("layers" -> (generic ++ specific).toMap)))
    }
    spark.stop()
    Outcome(setupS, walls.toSeq, runs.size, runs.count(_.status != "ok"), errors.toSeq, runs.toSeq,
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }, layers, trace)
  }

  /** Memos are per session and shared between queries; every pass
    * starts without them, so each pass builds what it uses.
    */
  private def releaseMemos(spark: SparkSession): Unit = {
    SessionMemo.release(spark)
    spark.catalog.clearCache()
    SessionMemo.drainBuildLog()
  }

  private def spanned[T](tracer: Option[Tracer], parent: Long, trace: String, name: String,
      layer: String)(body: Long => T): T = tracer match {
    case Some(t) => t.within(parent, trace, name, layer)(body)
    case None => body(0L)
  }

  private def runQuery(spark: SparkSession, a: Main.Args, tracer: Option[Tracer], parent: Long,
      rep: Int, name: String): (QueryRun, Option[(Array[Row], StructType)]) = {
    val fn = SparkEntry.queries(name)
    val traceId = s"$name#$rep"
    spanned(tracer, parent, traceId, name, "query") { qSpan =>
      try {
        val t0 = System.nanoTime()
        val df = spanned(tracer, qSpan, traceId, "build", "build")(_ => fn(spark, a.data))
        val t1 = System.nanoTime()
        val rows = spanned(tracer, qSpan, traceId, "exec", "exec")(_ => df.collect())
        val t2 = System.nanoTime()
        val memo = SessionMemo.drainBuildLog()
        (QueryRun(rep, name, "ok", (t1 - t0) / 1e9, (t2 - t1) / 1e9, memo.map(_._2).sum, memo.size,
          rows.length.toLong, digest(rows), ""), Some((rows, df.schema)))
      } catch {
        case e: Exception =>
          SessionMemo.drainBuildLog()
          (QueryRun(rep, name, "error", 0, 0, 0, 0, 0, "", e.toString.take(500)), None)
      }
    }
  }

  /** Order-insensitive digest of a result, to compare passes of one run. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
