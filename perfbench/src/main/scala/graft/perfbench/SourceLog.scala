package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Reads a streaming query's file-source log,
  * `<checkpoint>/sources/0/<batchId>[.compact]`: a `v1` header, then one
  * JSON entry per file with its `path` and `batchId`. Compacted files
  * repeat the entries of earlier batches, so a file may be listed twice
  * with the same batch id.
  */
object SourceLog {

  private val PathField = "\"path\":\"([^\"]*)\"".r
  private val BatchField = "\"batchId\":(\\d+)".r

  /** File name (last path segment) → the batch that read it. */
  def fileBatches(queryCheckpoint: Path): Map[String, Long] = {
    val dir = queryCheckpoint.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Map.empty
    val logs = scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toList)
      .filter(p => p.getFileName.toString.matches("\\d+(\\.compact)?"))
    logs.flatMap { p =>
      Files.readAllLines(p, UTF_8).asScala.drop(1).flatMap { line =>
        for {
          path <- PathField.findFirstMatchIn(line)
          batch <- BatchField.findFirstMatchIn(line)
        } yield path.group(1).split('/').last -> batch.group(1).toLong
      }
    }.groupBy(_._1).map { case (f, bs) => f -> bs.map(_._2).min }
  }
}
