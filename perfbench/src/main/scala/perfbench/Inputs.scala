package perfbench

import java.io.File
import java.nio.file.Files
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TranscriptGen

/** Seeded benchmark inputs. Every table is a pure function of the seed and
  * its size, generated with Spark column expressions and written to parquet
  * under the run's work directory, so the operations read files the way
  * Main does.
  */
object Inputs {

  /** Transcript table + conversations dimension, as Main's audit mode reads
    * them: default plants and the generator's ~1 % hot conversation.
    */
  def transcripts(spark: SparkSession, seed: Long, nConvs: Long,
      dir: File): (String, String) = {
    val cfg = TranscriptGen.Config(nConvs = nConvs, seed = seed)
    val t = new File(dir, "turns").getPath
    val c = new File(dir, "conversations").getPath
    TranscriptGen.transcripts(spark, cfg).write.mode("overwrite").parquet(t)
    TranscriptGen.conversations(spark, cfg).write.mode("overwrite").parquet(c)
    (t, c)
  }

  /** Stage a turn table as `files` parquet files for a file-stream source,
    * as an append log would hold it: each conversation's turns sit in one
    * file, files hold conversations in start-time order, and modification
    * times follow that order so micro-batches replay it deterministically.
    */
  def stage(spark: SparkSession, turns: String, files: Int,
      dir: File): String = {
    val out = new File(dir, "staged")
    val t = spark.read.parquet(turns)
    val start = t.groupBy("conv_id").agg(min("ts").as("__start"))
    t.join(start, Seq("conv_id"))
      .repartitionByRange(files, col("__start"), col("conv_id"))
      .drop("__start")
      .write.mode("overwrite").parquet(out.getPath)
    val parts = out.listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 1000L
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f.toPath, FileTime.fromMillis(base + i * 1000L))
    }
    out.getPath
  }

  private val syllables: Seq[String] = Seq(
    "ka", "lo", "mi", "ren", "tu", "sa", "vel", "di", "no", "pra", "ge", "bor",
    "an", "cel", "fi", "mo", "ta", "ri", "ul", "zen", "ha", "pe", "qui", "dor",
    "lin", "mar", "os", "te", "vu", "ex")

  private val boilerplate: String =
    ("all rights reserved terms of use privacy policy cookie settings " +
      "subscribe to the newsletter share this page follow us on the web " +
      "contact the editors report an error")

  /** Documents table `(doc_id, text, lang, source, n_chars)`: `baseDocs`
    * seeded documents replicated `k` times. Each replica is an exact copy, a
    * near duplicate (one word changed) or a fresh document; 6 % of the
    * originals are German (dropped by the language gate), 1 % digit dumps
    * (quality gate) and 1 % boilerplate pages. Returns the documents path
    * and the decontamination set path (1 in 50 documents, picked by the
    * seed).
    */
  def corpus(spark: SparkSession, seed: Long, baseDocs: Long, k: Int,
      dir: File): (String, String) = {
    def h(tag: String, cs: Column*): Column =
      xxhash64((lit(seed) +: lit(tag) +: cs): _*)
    val syl = array(syllables.map(lit): _*)
    def word(cs: Column*): Column = concat(
      element_at(syl, (pmod(h("s1", cs: _*), lit(syllables.size)) + 1).cast("int")),
      element_at(syl, (pmod(h("s2", cs: _*), lit(syllables.size)) + 1).cast("int")),
      element_at(syl, (pmod(h("s3", cs: _*), lit(syllables.size)) + 1).cast("int")))
    def stop(lang: String): Column =
      array(graft.ops.TextOps.stopwords(lang).map(lit): _*)
    def words(doc: Column, lang: Column): Column = {
      val n = (pmod(h("nw", doc), lit(60)) + 20).cast("int")
      transform(sequence(lit(1), n), i =>
        when(pmod(h("sw", doc, i), lit(5)) === 0,
          element_at(when(lang === "de", stop("de")).otherwise(stop("en")),
            (pmod(h("st", doc, i), lit(4)) + 1).cast("int")))
          .otherwise(word(doc, i)))
    }
    // document kinds and replica variants cycle over the ids rather than
    // being drawn from the hash, so every seed yields the same mix (and the
    // same amount of work); the seed changes only the texts
    val kind = pmod(col("base"), lit(100))
    val lang = when(kind < 6, lit("de")).otherwise(lit("en"))
    val base = spark.range(0L, baseDocs).toDF("base")
      .withColumn("lang", lang)
      .withColumn("w", words(col("base"), col("lang")))
      .withColumn("text",
        when(kind === 6, concat(lit("the "),
            repeat(lit("31415926535897932384 "), 500)))
          .when(kind === 7, concat_ws(" ",
            slice(col("w"), 1, 6), lit(boilerplate), lit(boilerplate)))
          .otherwise(concat_ws(" ", col("w"))))
    val rep = spark.range(0L, k.toLong).toDF("r")
    val variant = pmod(col("base") + col("r"), lit(10))
    val pos = (pmod(h("pos", col("base"), col("r")), size(col("w"))) + 1)
      .cast("int")
    val edited = concat_ws(" ", transform(col("w"), (x, i) =>
      when(i + 1 === pos, word(col("base"), col("r"), lit(-1))).otherwise(x)))
    val fresh = concat_ws(" ",
      words(col("base") + col("r") * lit(baseDocs), col("lang")))
    val docs = base.crossJoin(rep)
      .select(
        (col("r") * lit(baseDocs) + col("base")).as("doc_id"),
        when(col("r") === 0 || kind < 8 || variant < 3, col("text"))
          .when(variant < 7, edited)
          .otherwise(fresh).as("text"),
        col("lang"),
        concat(lit("src"), pmod(h("src", col("base")), lit(20)).cast("string"))
          .as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val docsPath = new File(dir, "documents").getPath
    val benchPath = new File(dir, "bench").getPath
    docs.write.mode("overwrite").parquet(docsPath)
    spark.read.parquet(docsPath)
      .filter(pmod(xxhash64(lit(seed), lit("bench"), col("doc_id")), lit(50)) === 0)
      .write.mode("overwrite").parquet(benchPath)
    (docsPath, benchPath)
  }
}
