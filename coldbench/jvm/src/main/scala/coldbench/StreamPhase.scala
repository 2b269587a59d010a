package coldbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.Concepts
import graft.streaming.DocStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The streaming layer: a file-source stream over
  * `Concepts.recognizeTokens(DocStreams.streamTokens(_))` with a
  * benchmark-side `foreachBatch` sink.
  *
  * `gen.py` writes the small doc files under `src`. The first `warm` files
  * are dropped at once and processed before the schedule starts, so the
  * stream's own first-batch costs stay out of the latencies. The rest are
  * moved into the watched directory one every `intervalMs`, each by an
  * atomic rename at its due time. The sink writes each batch's annotations
  * to `out/batch-<id>` and stamps the time its write finished. After the
  * stream stops, batch `Concepts.recognize` over the same files is written
  * for the check that the union of the emitted annotations equals it. */
final class StreamPhase(spark: SparkSession, src: Path, dir: Path, warm: Int, intervalMs: Long) {

  private val docSchema =
    StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  def run(): Seq[(String, Any)] = {
    val watch = Files.createDirectories(dir.resolve("in"))
    val out = dir.resolve("out")
    val files = Files.list(src).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    require(files.size > warm, s"stream: ${files.size} files, $warm warm-up")
    def drop(f: Path): Long = {
      Files.move(f, watch.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }

    val commits = new ConcurrentLinkedQueue[(Long, Long)]()
    val sink: (DataFrame, Long) => Unit = (batch, id) => {
      batch.write.parquet(out.resolve(s"batch-$id").toString)
      commits.add((id, System.currentTimeMillis()))
    }
    val q = Concepts.recognizeTokens(DocStreams.streamTokens(
        spark.readStream.schema(docSchema).parquet(watch.toString)))
      .writeStream.option("checkpointLocation", dir.resolve("checkpoint").toString)
      .foreachBatch(sink).start()
    var warmLast = -1L
    val (due, dropped) = try {
      files.take(warm).foreach(drop)
      q.processAllAvailable()
      warmLast = commits.asScala.map(_._1).max
      val t0 = System.currentTimeMillis() + intervalMs
      val sched = files.drop(warm).zipWithIndex.map { case (f, k) =>
        val at = t0 + k * intervalMs
        val wait = at - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        (at, drop(f))
      }
      q.processAllAvailable()
      sched.unzip
    } finally q.stop()

    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      def ms(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      Seq(p.batchId, ms("triggerExecution"), ms("addBatch"), p.numInputRows)
    }
    val recognized = dir.resolve("recognize").toString
    Concepts.recognize(spark.read.schema(docSchema).parquet(watch.toString)).write.parquet(recognized)
    Seq("warm_last_batch" -> warmLast, "due_ms" -> due, "dropped_ms" -> dropped,
      "commits" -> commits.asScala.toSeq.map { case (id, t) => Seq(id, t) },
      "batches" -> batches, "out" -> out.toString, "recognize" -> recognized)
  }
}
