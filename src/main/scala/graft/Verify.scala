package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}
import graft.pipeline.{Corpus, DocRed, Kg}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Also dumps the ORACLE INPUT tables under the SIBLING directory
  * `<outDir>__inputs/` — the kernel-computed intermediates (gold
  * triples, full triple table, mention rows, alias sets, docred corpus,
  * KB labels, decoded image metadata, page timestamps) that the kg_*
  * oracles re-derive their answers from. A sibling, not a child: the
  * driver's comparator enumerates every child of outDir as a query
  * output, and the array-typed input dumps made its pandas compare err
  * (CORRECTNESS_r02 `_inputs` row). Oracle SQL references them via the
  * `{OUT}` placeholder ("{OUT}__inputs/..."), substituted here with the
  * ABSOLUTE output path so DuckDB resolves them regardless of its
  * working directory. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir0) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir0).mkdirs()
    val outDir = Paths.get(outDir0).toAbsolutePath.toString

    dumpInputs(spark, sfDir, outDir)

    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{OUT}", outDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Deterministic oracle inputs (pure functions of the sf scale). */
  def dumpInputs(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val n = SparkEntry.pagesFor(sfDir)
    // by-name, so an input whose source is missing (say, an absent
    // fixture) fails its own dump instead of aborting the whole run
    def w(df: => DataFrame, name: String): Unit =
      try df.write.mode("overwrite").parquet(s"${outDir}__inputs/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] input dump $name failed: ${e.getMessage}")
      }
    import spark.implicits._
    w(Corpus.gold(spark, n).toDF, "gold")
    // reuse the same per-JVM checkpoints the queries read (extract once)
    w(SparkEntry.triplesFor(spark, sfDir), "triples")
    val resolved = SparkEntry.resolvedFor(spark, sfDir).as[graft.pipeline.ResolvedRow]
    w(Kg.mentions(resolved).toDF, "mentions")
    w(Kg.aliasTable(resolved), "aliases")
    w(SparkEntry.pagesTsFor(spark, sfDir), "pages_ts")
    // url + directly-generated text: the kg_warc_ingest oracle's ground
    // truth for the warc serialize→gzip→parse→extract round-trip
    w(Corpus.pages(spark, n).toDF.select(col("url"), col("text")), "pages_text")
    w(Corpus.kb(spark).toDF, "kb")
    w(DocRed.corpus(spark, n / 10).toDF, "docred")
    w(sources.DocRedJson.docs(spark), "docred_real")
    w(ops.Multimodal.decodeVideo(
      ops.Multimodal.videos(spark, SparkEntry.imagesFor(sfDir) / 5)).toDF, "videos_meta")
    // BMP corpus ids only — the oracle re-derives w/h and pixel means
    // from the id formula, independently of the encoded bytes
    w(ops.Multimodal.bmpImages(spark, SparkEntry.imagesFor(sfDir) / 5)
      .select("img_id"), "bmp_ids")
    // trained IVF codebook: the same memoized fit q_knn_ivf_trained
    // uses, persisted so the oracle re-derives from identical doubles
    w(ops.Similarity.centroidsToDF(spark,
      SparkEntry.ivfCentroidsFor(spark, sfDir)), "ivf_centroids")
    // trained PQ codebooks (same memoized-fit rationale) for q_knn_pq
    w(ops.Similarity.pqCodebooksToDF(spark,
      SparkEntry.pqCodebooksFor(spark, sfDir)), "pq_codebooks")
    lazy val webnlg = sources.WebNlg.entries(spark, SparkEntry.webnlgPath)
    w(webnlg.toDF, "webnlg")
    w(sources.WebNlg.predicted(webnlg), "webnlg_pred")
    w(sources.WebNlg.normalizedGold(webnlg), "webnlg_gold")
  }
}
