package graft.cli

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession

/** Interactive prediction loop — the reference's stdin mode
  * (`predict_enhanced.py:219-242`): sentences are typed one per line, a
  * blank line predicts the collected batch, `exit` quits (immediately
  * when nothing is pending, after a final prediction otherwise). Unlike
  * the reference (one round, then the process ends) this REPLs: after a
  * batch's results print, the loop collects the next batch.
  *
  * Output is BYTE-COMPATIBLE with the file mode by construction: each
  * batch is staged to a temp file and run through the identical S2 scan →
  * detector → sink path the `--predict <fmt> --docs <file>` mode uses.
  */
object Interactive {

  private val banner =
    "graft-predict interactive: one sentence per line; a blank line predicts the batch; 'exit' quits"

  def repl(
      spark: SparkSession,
      in: java.io.BufferedReader,
      out: java.io.PrintStream,
      formats: Seq[String]): Unit = {
    require(formats.nonEmpty && formats.forall(Set("json", "markup", "bio")),
      s"formats must be json|markup|bio, got $formats")
    import spark.implicits._
    val gazetteer = graft.data.DocsGen.vocabEntries.toDS()
    out.println(banner)
    var quit = false
    while (!quit) {
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      var collecting = true
      while (collecting) {
        out.print(">>> "); out.flush()
        val line = in.readLine()
        if (line == null) { quit = true; collecting = false } // EOF = exit
        else {
          val t = line.replaceAll("(?U)^\\s+|(?U)\\s+$", "")
          if (t.equalsIgnoreCase("exit")) { quit = true; collecting = false }
          else if (t.isEmpty) { if (texts.nonEmpty) collecting = false }
          else texts += t
        }
      }
      if (texts.nonEmpty) predictBatch(spark, texts.toSeq, out, formats, gazetteer)
    }
    out.println("bye")
  }

  /** One batch through the file-mode pipeline; results to `out`. */
  private def predictBatch(
      spark: SparkSession,
      texts: Seq[String],
      out: java.io.PrintStream,
      formats: Seq[String],
      gazetteer: org.apache.spark.sql.Dataset[(String, String)]): Unit = {
    val tmp = java.nio.file.Files.createTempFile("graft_interactive", ".txt")
    try {
      java.nio.file.Files.write(tmp, texts.mkString("\n").getBytes(UTF_8))
      val sentences = graft.data.BioCorpus.readRawText(spark, tmp.toString)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mentions = graft.detect.Detector.detect(sentences, gazetteer)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      formats.foreach { fmt =>
        val (df, column) = fmt match {
          case "json" => (graft.sinks.Formats.jsonRecords(sentences, mentions), "json")
          case "markup" => (graft.sinks.Formats.markupText(sentences, mentions), "marked")
          case "bio" => (graft.sinks.Formats.bioText(sentences, mentions), "bio")
        }
        out.println(s"-- $fmt --")
        df.orderBy("doc_id").select(column).collect()
          .foreach(r => out.println(r.getString(0)))
      }
      // entity-type distribution, like the file mode's stdout summary
      val dist = graft.metrics.LabelStats.entityTypeDistribution(mentions).collect()
      out.println(s"-- ${texts.size} sentence(s), ${mentions.count()} entities --")
      dist.foreach(r => out.println(f"  ${r.getString(0)}%-12s ${r.getLong(1)}%d"))
      sentences.unpersist(); mentions.unpersist()
    } finally java.nio.file.Files.delete(tmp)
  }
}
