package graft.data

import graft.core.{Doc, Span, TaggedSentence}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Distributed reader for the reference's BIO corpus format
  * (`/root/reference/utils.py:27-49`): one `char<ws>tag` pair per line,
  * blank line between sentences, malformed lines (≠2 fields) silently
  * skipped (`utils.py:41-42`).
  *
  * Scale design: instead of whole-file reads (the reference slurps the file,
  * `train_enhanced.py:206-207`), both readers go through the DSv2 `bio`
  * source ([[graft.sources.BioDataSource]]), which frames each SENTENCE as
  * one record with a blank-line delimiter — the file splits across tasks at
  * sentence boundaries and a 100 TB corpus parallelizes like any other text
  * source. Record ids derive from the stable byte offset, so ids are
  * deterministic and partition-order-independent.
  */
object BioCorpus {

  /** Read a BIO file (or a directory of them) into gold-tagged sentences.
    * `doc_id` is `"<prefix>-%012d" format byteOffset` — stable across
    * runs/partitions.
    */
  def read(spark: SparkSession, path: String, idPrefix: String = "bio"): Dataset[TaggedSentence] = {
    import spark.implicits._
    spark.read.format("bio").option("idPrefix", idPrefix).load(path)
      .select(col("doc_id"), lit(0).as("span_idx"), col("chars"), col("tags"))
      .as[TaggedSentence]
  }

  /** Parse one blank-line-delimited sentence block with the reference's
    * exact line semantics: python-style strip+split on unicode whitespace,
    * keep only 2-field lines.
    */
  def parseBlock(block: String): (Seq[String], Seq[String]) = {
    val chars = Seq.newBuilder[String]
    val tags = Seq.newBuilder[String]
    block.split("\n").foreach { line =>
      val t = line.replaceAll("(?U)^\\s+|(?U)\\s+$", "")
      if (t.nonEmpty) {
        val splits = t.split("(?U)\\s+")
        if (splits.length == 2) {
          chars += splits(0)
          tags += splits(1)
        } // malformed lines silently skipped (utils.py:41-42)
      }
    }
    (chars.result(), tags.result())
  }

  /** Raw-text scan (S2, `predict_enhanced.py:213-217`): one sentence per
    * non-blank line; ids by line position.
    */
  def readRawText(spark: SparkSession, path: String): Dataset[graft.core.Sentence] = {
    import spark.implicits._
    val rdd = spark.sparkContext.textFile(path)
      .map(_.replaceAll("(?U)^\\s+|(?U)\\s+$", ""))
      .filter(_.nonEmpty)
      .zipWithIndex()
    spark.createDataset(rdd.map { case (line, idx) =>
      graft.core.Sentence(f"s$idx%09d", 0, line)
    })
  }

  /** Like `read`, but doc ids are the sentence's 0-based POSITION in the
    * file ("s%09d") — the key for positional alignment with another dump
    * of the same corpus (the reference zips gold/pred lists by position,
    * `evaluate.py:295-302`). Byte offsets are already monotone with
    * position, so a sort + zipWithIndex is exact and deterministic.
    */
  def readIndexed(spark: SparkSession, path: String): Dataset[TaggedSentence] = {
    import spark.implicits._
    val rdd = read(spark, path).rdd
      // the byte offset is the numeric tail of the id; a string sort
      // would misorder offsets past 12 digits
      .sortBy(ts => ts.doc_id.substring(ts.doc_id.lastIndexOf('-') + 1).toLong)
      .zipWithIndex()
    spark.createDataset(rdd.map { case (ts, idx) => ts.copy(doc_id = f"s$idx%09d") })
  }

  /** Pack gold sentences into the authoritative docs-table shape (one text
    * span per sentence) — the converter in FIXTURES.md §2.
    */
  def toDocs(tagged: Dataset[TaggedSentence]): Dataset[Doc] = {
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged.map { ts =>
      Doc(ts.doc_id, Seq(Span("text", ts.chars.mkString, "", 0)))
    }
  }

  /** Label-vocabulary induction over one or more corpora
    * (`utils.py:87-98`): distinct tags, sorted. Distributed distinct, tiny
    * result collected (13 labels).
    */
  def labelList(corpora: Dataset[TaggedSentence]*): Seq[String] = {
    val spark = corpora.head.sparkSession
    import spark.implicits._
    corpora
      .map(_.flatMap(_.tags))
      .reduce(_ union _)
      .distinct()
      .collect()
      .sorted
      .toSeq
  }
}
