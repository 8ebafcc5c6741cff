package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one run measured, handed to `run.py` as JSON. */
final case class Outcome(
    setupS: Double,
    wallS: Seq[Double],
    attempted: Int,
    failed: Int,
    errors: Seq[String],
    queries: Seq[QueryRun] = Nil,
    oracleSql: Map[String, String] = Map.empty,
    layers: Map[String, Double] = Map.empty,
    trace: Map[String, Any] = Map.empty)

/** Benchmark JVM: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --data <tables dir> --work <scratch dir> --out <file>`.
  * `run.py` builds it, starts it and checks what it writes.
  */
object Main {

  /** local[4], as `LogAnalysisApp.main`, `Bench` and `Verify` default to. */
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: Path, out: Path)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(arg("workload"), arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1",
      arg("data"), Paths.get(arg("work")), Paths.get(arg("out")))
    val tracer = if (a.trace) Some(new Tracer(Cores)) else None
    val outcome = a.workload match {
      case "stream-catchup" => CatchUp.run(a, tracer)
      case "batch-queries" => BatchSet.run(a, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload,
      "setup_s" -> outcome.setupS,
      "wall_s" -> outcome.wallS,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "errors" -> outcome.errors,
      "peak_rss_mb" -> peakRssMb(),
      "queries" -> outcome.queries,
      "oracle_sql" -> outcome.oracleSql,
      "layers" -> outcome.layers,
      "trace" -> outcome.trace)
    Files.write(a.out, new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(result).getBytes(UTF_8))
  }

  /** This JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Build the session once, as the program does, then run the shared
    * warm-up and the workload's own preparation. Returns the session,
    * what `prepare` made and the seconds all of it took: the JVM's cold
    * start of Spark included.
    */
  def setUp[P](a: Args, build: () => SparkSession)(prepare: SparkSession => P): (SparkSession, P, Double) = {
    val t0 = System.nanoTime()
    val spark = build()
    warmUp(spark, a.data)
    val prepared = prepare(spark)
    (spark, prepared, (System.nanoTime() - t0) / 1e9)
  }

  /** Warms JIT, codegen, the parquet reader and the shuffle and
    * broadcast machinery before anything is timed, as `Bench` intends.
    */
  def warmUp(spark: SparkSession, data: String): Unit = {
    spark.range(1 << 20).selectExpr("sum(id * 2)").collect()
    val nation = spark.read.parquet(s"$data/nation.parquet")
    nation.join(nation.limit(5).select("n_nationkey"), "n_nationkey")
      .groupBy("n_regionkey").count().collect()
  }

  def traceFile(spans: Seq[Span], extra: Map[String, Any]): Map[String, Any] =
    extra ++ Map(
      "self_s" -> Tracer.selfTimes(spans),
      "spans" -> spans.sortBy(s => (s.start, s.id)))
}
