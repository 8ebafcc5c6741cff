package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite {

  test("the same seed renders byte-identical chunks; another seed or index does not") {
    val a = LineGen.chunk(7L, 3, 500)
    assert(java.util.Arrays.equals(a, LineGen.chunk(7L, 3, 500)))
    assert(!java.util.Arrays.equals(a, LineGen.chunk(8L, 3, 500)))
    assert(!java.util.Arrays.equals(a, LineGen.chunk(7L, 4, 500)))
    val lines = new String(a, UTF_8).split("\n", -1)
    assert(lines.length == 501 && lines.last.isEmpty)
  }

  test("generated traffic keeps its ids inside the dimensions and its shares") {
    val lines = (0 until 20).flatMap(i => new String(LineGen.chunk(1L, i, 1000), UTF_8).split("\n"))
    val fid = "fid=(\\d+)".r
    val tid = "tid=(\\d+)".r
    val sections = lines.flatMap(l => fid.findFirstMatchIn(l)).map(_.group(1).toInt)
    val articles = lines.flatMap(l => tid.findFirstMatchIn(l)).map(_.group(1).toInt)
    assert(sections.forall(s => s >= 1 && s <= LineGen.Sections))
    assert(articles.forall(a => a >= 1 && a <= LineGen.Articles))
    // Zipf: id 1 is the most frequent section
    assert(sections.groupBy(identity).maxBy(_._2.size)._1 == 1)
    // LogGen's shares: 1 in 97 malformed; of the rest, 408, 404 or 500
    // by the line number's residues (~24% not 200).
    val (malformed, parsed) = lines.partition(_.startsWith("###"))
    assert(malformed.size == (lines.size + 96) / 97)
    val non200 = parsed.count(l => !l.contains("\" 200 ")).toDouble / parsed.size
    assert(non200 > 0.22 && non200 < 0.26, s"non-200 share $non200")
    val clients = parsed.map(_.takeWhile(_ != ' ')).toSet
    assert(clients.size > 15000, s"${clients.size} distinct clients")
  }

  test("the reported percentile leaves at least ten samples beyond it") {
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.supportedPercentile(20).contains(50))
    assert(Stats.supportedPercentile(100).contains(90))
    assert(Stats.supportedPercentile(1000).contains(99))
    (1 to 3000).foreach { n =>
      Stats.supportedPercentile(n).foreach { p =>
        val xs = (1 to n).map(_.toDouble)
        assert(xs.count(_ > Stats.percentile(xs, p)) >= 10, s"n=$n p=$p")
        if (p < 99) assert(xs.count(_ > Stats.percentile(xs, p + 1)) < 10, s"n=$n p=${p + 1}")
      }
    }
  }

  test("nearest-rank percentile and median") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("chunks map to the batch that read them, from a hand-written source log") {
    val ckpt = Files.createTempDirectory("perfbench-sourcelog")
    val dir = Files.createDirectories(ckpt.resolve("sources").resolve("0"))
    def entry(chunk: Int, batch: Int) =
      s"""{"path":"file:///data/logs/${LineGen.chunkName(chunk)}","timestamp":1700000000000,"batchId":$batch}"""
    Files.write(dir.resolve("0"), ("v1\n" + entry(0, 0) + "\n" + entry(1, 0)).getBytes(UTF_8))
    Files.write(dir.resolve("1"), ("v1\n" + entry(2, 1)).getBytes(UTF_8))
    // a compacted log repeats earlier batches' entries
    Files.write(dir.resolve("9.compact"),
      ("v1\n" + Seq(entry(0, 0), entry(1, 0), entry(2, 1), entry(3, 9)).mkString("\n")).getBytes(UTF_8))
    Files.write(dir.resolve(".9.compact.crc"), Array[Byte](1, 2, 3))
    assert(SourceLog.fileBatches(ckpt) == Map(
      LineGen.chunkName(0) -> 0L, LineGen.chunkName(1) -> 0L,
      LineGen.chunkName(2) -> 1L, LineGen.chunkName(3) -> 9L))
    assert(SourceLog.fileBatches(ckpt.resolve("missing")).isEmpty)
  }

  test("interval union: overlap, nesting, adjacency, gaps and empty intervals") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Seq((0L, 5L), (5L, 10L))) == 10L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 5L))) == 15L)
    assert(Stats.unionLength(Seq((4L, 4L), (9L, 3L))) == 0L)
    assert(Stats.clip(Seq((0L, 10L), (20L, 30L)), 5L, 25L) == Seq((5L, 10L), (20L, 25L)))
  }

  test("self time is a span's duration minus what its children cover") {
    val spans = Seq(
      Span(1, 0, "q", "query", "query", 0, 100),
      Span(2, 1, "q", "build", "build", 10, 30),
      Span(3, 1, "q", "exec", "exec", 20, 50),
      Span(4, 3, "q", "job 0", "job", 25, 60))
    val self = Tracer.selfTimes(spans)
    assert(self("query") == 0.060)
    assert(self("build") == 0.020)
    assert(self("exec") == 0.005)
    assert(self("job") == 0.035)
  }
}
