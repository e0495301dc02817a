package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel._
import graft.pipeline._
import graft.streaming.StreamIngest

/** One benchmark run of one workload in one JVM. Called by run.py with
  * `key=value` arguments; writes the raw record (op times, samples,
  * counters, checks, spans, stage records) as JSON to `out`. run.py
  * turns the record into the printed metrics and the exit code.
  *
  * Every input is made from the page-id `base` and the other seeded
  * arguments run.py derives from `--seed`; the engine only ever sees the
  * parquet tables written here. */
object BenchMain {

  final class Record {
    val setupS = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val values = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val hashes = mutable.LinkedHashMap.empty[String, String]

    def sample(k: String, v: Double): Unit =
      samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
      checks += ((name, ok, if (ok) "" else detail)); ok
    }
  }

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = conf("work")
    // Each workload runs with the session settings of the engine's own
    // entry point for it: graft.Main's for the batch builds, graft.Bench's
    // (one shuffle partition per core) for streaming and graph queries.
    val batch = Set("full_build", "resume_build")(conf("workload"))
    val spark = SparkSession.builder()
      .master(s"local[${conf("cores")}]")
      .appName(s"graftbench-${conf("workload")}")
      .config("spark.sql.shuffle.partitions", if (batch) "128" else conf("cores"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Record
    val tracer = new Tracer(spark.sparkContext, conf("trace") == "1")
    val bench = new Bench(spark, conf, rec, tracer)
    try bench.run()
    catch {
      case e: Throwable =>
        rec.check("run_completed", ok = false,
          (e.toString +: e.getStackTrace.take(8).map(_.toString)).mkString(" | "))
    } finally {
      Json.write(Paths.get(conf("out")), bench.toJson)
      bench.note("record written")
      spark.stop()
      bench.note("spark stopped")
    }
  }
}

final class Bench(spark: SparkSession, conf: Map[String, String],
    rec: BenchMain.Record, tracer: Tracer) {
  import spark.implicits._

  private val workload = conf("workload")
  private val work = conf("work")
  private val seconds = conf("seconds").toDouble
  private val base = conf("base").toLong
  private val nPages = conf("pages").toLong
  private val files = conf("files").toInt
  private val minOps = conf.getOrElse("min_ops", "1").toInt
  private val opMultiple = conf.getOrElse("op_multiple", "1").toInt
  private val setupRounds = 3
  private val nBuckets = 64
  private val kb = Corpus.kb(spark)
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val born = System.nanoTime()

  /** Progress line on stderr: where a run's wall time goes. */
  def note(phase: String): Unit =
    System.err.println(f"[graftbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $phase")

  // ---------------------------------------------------------------- io

  private def path(parts: String*): String = Paths.get(work, parts: _*).toString

  private def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from); val dst = Paths.get(to)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** (files, bytes) of the parquet data files under `d`. */
  private def dataFiles(d: String): (Long, Long) = {
    val p = Paths.get(d)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }
  }

  private def writePages(dir: String, from: Long, n: Long, parts: Int): Unit =
    spark.range(from, from + n, 1, parts).map(id => Corpus.genPage(id)._1)
      .write.mode("overwrite").parquet(dir)

  private def readPages(dir: String): Dataset[Page] = spark.read.parquet(dir).as[Page]

  /** The data files of a parquet table directory, in name order. */
  private def parquetFiles(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  private def gold(from: Long, n: Long): Dataset[GoldTriple] =
    spark.range(from, from + n, 1, 8).flatMap(id => Corpus.genPage(id)._2)

  /** Order-independent content hash of a table: row count plus the sum
    * of per-row xxhash64 over the columns in name order. Partition
    * columns (`pk`, `batch`) are layout, not content, and are left out. */
  private def tableHash(df: DataFrame): String = {
    val cols = df.columns.filterNot(Set("pk", "batch")).sorted
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).collect()(0)
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  private def graphHash(dir: String): (String, String) =
    (tableHash(spark.read.parquet(s"$dir/nodes")), tableHash(spark.read.parquet(s"$dir/edges")))

  /** Stored size per input page, and triple precision / recall against
    * the corpus gold, both outside the timed span. */
  private def quality(triplesDir: String, storedDirs: Seq[String]): Unit = {
    rec.values("pages") = nPages.toDouble
    rec.values("stored_bytes") = storedDirs.map(d => dataFiles(d)._2).sum.toDouble
    val prf = Eval.prfDf(spark.read.parquet(triplesDir), gold(base, nPages).toDF).collect()(0)
    val (precision, recall) = (prf.getAs[Double]("precision"), prf.getAs[Double]("recall"))
    rec.values("triple_precision") = precision
    rec.values("triple_recall") = recall
    rec.check("triple_precision_at_least_0.95", precision >= 0.95, s"$precision")
    rec.check("triple_recall_at_least_0.95", recall >= 0.95, s"$recall")
    note("quality checked")
  }

  private def timeMs(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6
  }

  /** Run ops until `seconds` have passed, at least `minOps` ran and the
    * op count is a multiple of `opMultiple` (whole query-mix blocks). With
    * tracing, the first op settles the JVM further and the next ones run
    * untraced, traced, traced, untraced (listener detached / attached;
    * the symmetric order cancels the remaining warm-up drift), so the run
    * also measures the tracing overhead. */
  private def measure(kind: String, prep: Int => Unit = _ => ())
      (op: (Int, Boolean) => Unit): Unit = {
    // flush the set-up's and warm-up's writes so their write-back does
    // not land inside the timed span
    new ProcessBuilder("sync").inheritIO().start().waitFor()
    note("warm-up done")
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || i % opMultiple != 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      prep(i)
      val traced = tracer.enabled && i > 0 && ((i - 1) % 4 == 1 || (i - 1) % 4 == 2)
      if (tracer.enabled) { if (traced) tracer.attach() else tracer.detach() }
      tracer.runId = i
      var ok = true
      val ms = timeMs {
        try tracer.span(workload)(op(i, traced))
        catch { case e: Exception =>
          ok = false
          rec.check(s"${kind}_$i", ok = false, e.toString)
        }
      }
      rec.ops += ((kind, ms, ok))
      if (tracer.enabled && i > 0) rec.sample(if (traced) "traced_ms" else "untraced_ms", ms)
      i += 1
    }
    note(s"measured $i ops")
    // the checks after the timed span are small jobs: one task per core
    spark.conf.set("spark.sql.shuffle.partitions", conf("cores"))
    tracer.attach()
  }

  // ------------------------------------------------------------ layers

  /** The single-thread kernel loop over a page sample: the steps of
    * Kg.extractPage called one by one, each timed, with the counts of
    * what each step produced. Its output must equal extractPage's. */
  private def kernelSample(pagesDir: String, n: Int): Unit = tracer.span("kernel.sample") {
    val sample = readPages(pagesDir).limit(n).collect()
    var passes = 0
    val t = new Array[Long](5)
    var chunks, emitted, rejected, deduped, kept, en = 0L
    var mismatch = 0
    val t0 = System.nanoTime()
    while (passes < 3 || (passes < 20 && System.nanoTime() - t0 < 1500000000L)) {
      java.util.Arrays.fill(t, 0L)
      chunks = 0; emitted = 0; rejected = 0; deduped = 0; kept = 0; en = 0
      sample.foreach { p =>
        if (p.lang == "en") {
          en += 1
          var s = System.nanoTime()
          val text = HtmlText.extract(p.html)
          var e = System.nanoTime(); t(0) += e - s; s = e
          val cs =
            if (Chunker.estimateTokens(text) < Chunker.chunkThresholdTokens)
              Vector(Chunk(0, text, 0L, text.length.toLong))
            else Chunker.default.chunk(text)
          e = System.nanoTime(); t(1) += e - s
          chunks += cs.length
          val seen = mutable.HashSet.empty[(String, String, String)]
          var pageKept = 0
          cs.foreach { c =>
            s = System.nanoTime()
            val resolved = Coref.resolve(c.text).resolvedText
            e = System.nanoTime(); t(2) += e - s; s = e
            val rels = Relations.extract(resolved)
            e = System.nanoTime(); t(3) += e - s; s = e
            rels.foreach { rel =>
              emitted += 1
              val pred = PredDict.canonical(rel.pred)
              if (Relations.likelyIncorrect(pred)) rejected += 1
              else if (!seen.add((Slug.slug(rel.subj), pred, rel.obj))) deduped += 1
              else {
                if (rel.objIsEntity) Slug.slug(rel.obj) // extractPage's obj_slug
                pageKept += 1
              }
            }
            e = System.nanoTime(); t(4) += e - s
          }
          kept += pageKept
          if (pageKept != Kg.extractPage(p).size) mismatch += 1
        }
      }
      passes += 1
    }
    rec.check("kernel_sample_matches_extractPage", mismatch == 0,
      s"$mismatch page passes differ")
    val per = math.max(en, 1L) * 1000.0
    Seq("html_extract", "chunk", "coref", "relations", "normalize").zipWithIndex.foreach {
      case (k, i) => counters(s"kernel.${k}_us_per_page") = t(i) / per
    }
    counters("kernel.chunks_per_page") = chunks.toDouble / math.max(en, 1L)
    counters("kernel.triples_emitted") = emitted.toDouble
    counters("kernel.triples_rejected") = rejected.toDouble
    counters("kernel.triples_deduped") = deduped.toDouble
    counters("kernel.useful_ratio") = if (emitted == 0) 0.0 else kept.toDouble / emitted
  }

  /** The graph build of Checkpointed.runAll / the stream sink, one
    * public layer call at a time, each materialized to parquet so its
    * span holds exactly its own jobs. `prevNodes` is the node table an
    * incremental build merges into. */
  private def layers(pages: Dataset[Page], dir: String, prevNodes: Option[DataFrame]): Unit =
    tracer.span("layers") {
      def save(df: DataFrame, name: String): DataFrame = {
        df.write.mode("overwrite").parquet(s"$dir/$name")
        spark.read.parquet(s"$dir/$name")
      }
      val trip = tracer.span("kg.pagesToTriples")(save(Kg.pagesToTriples(pages).toDF, "triples"))
      val vocab = tracer.span("pipeline.surfaceRollup")(save(Pipeline.surfaceRollup(trip), "vocab"))
      val links = tracer.span("pipeline.linkSurfaces")(save(
        Pipeline.linkSurfaces(vocab.select(col("surface")), kb), "links"))
      val iri = tracer.span("pipeline.mintIris")(save(
        Pipeline.mintIris(vocab, links, useBroadcast = true), "surface_iri"))
      val fresh = iri.select(col("iri"), col("entity_type"), col("surface").as("name"), col("slug"))
      tracer.span("pipeline.reduceNodes")(save(
        Pipeline.reduceNodes(prevNodes.fold(fresh)(_.unionByName(fresh))), "nodes"))
      val edges = tracer.span("pipeline.edgesFromVocab")(save(
        Pipeline.edgesFromVocab(trip, iri, useBroadcast = true), "edges"))
      val vocabN = vocab.count()
      val exact = links.filter(col("link_confidence") === Linking.exactConfidence).count()
      val fuzzy = links.count() - exact
      counters("pipeline.vocab_rows") = vocabN.toDouble
      counters("pipeline.links_exact") = exact.toDouble
      counters("pipeline.links_fuzzy") = fuzzy.toDouble
      counters("pipeline.unlinked") = (vocabN - exact - fuzzy).toDouble
      counters("pipeline.fuzzy_hit_ratio") =
        if (vocabN == exact) 0.0 else fuzzy.toDouble / (vocabN - exact)
      counters("pipeline.edges_rows") = edges.count().toDouble
    }

  /** runAll split at its public seam: runTriples first, then runAll
    * finds every bucket's triples done and runs only the graph stage. */
  private def checkpointedRun(pages: Dataset[Page], dir: String, runId: Long, traced: Boolean): Unit =
    if (!traced) Checkpointed.runAll(pages, kb, dir, nBuckets, runId)
    else {
      val before = Checkpointed.doneBuckets(dir).size
      val fresh = tracer.span("checkpointed.runTriples")(
        Checkpointed.runTriples(pages, dir, nBuckets, runId))
      tracer.span("checkpointed.runAll")(Checkpointed.runAll(pages, kb, dir, nBuckets, runId))
      val (nf, nb) = Seq("triples", "nodes", "edges").map(s => dataFiles(s"$dir/$s"))
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      counters("checkpointed.buckets_processed") = fresh.size.toDouble
      counters("checkpointed.buckets_skipped") = before.toDouble
      counters("checkpointed.files_written") = nf.toDouble
      counters("checkpointed.bytes_written") = nb.toDouble
    }

  /** Set-up: the pages table is written `setupRounds` times (the last
    * copy is used), then the workload's own state is built once by
    * `prep`. run.py reports the median write plus the prep time. */
  private def setup(name: String)(prep: String => Unit): String = {
    (0 until setupRounds).foreach { r =>
      val t = System.nanoTime()
      writePages(path(s"$name$r"), base, nPages, files)
      rec.setupS += (System.nanoTime() - t) / 1e9
    }
    val dir = path(s"$name${setupRounds - 1}")
    note("pages written")
    val t = System.nanoTime()
    prep(dir)
    rec.values("prep_s") = (System.nanoTime() - t) / 1e9
    note("set-up done")
    dir
  }

  /** Content hashes of the graph built directly from the pages with the
    * engine's one-shot graph build: the reference the incremental and
    * streaming builds must reproduce. */
  private def referenceGraph(pages: Dataset[Page]): (String, String) = {
    val (nodes, edges, release) =
      Pipeline.graphFromTriplesReleasable(Kg.pagesToTriples(pages), kb)
    try (tableHash(nodes), tableHash(edges)) finally release()
  }

  // --------------------------------------------------------- workloads

  def run(): Unit = workload match {
    case "full_build" => fullBuild()
    case "resume_build" => resumeBuild()
    case "stream_drain" => streamDrain()
    case "graph_query" => graphQuery()
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def fullBuild(): Unit = {
    val pagesDir = setup("pages")(_ => ())
    val pages = readPages(pagesDir)
    // warm-up: the same build once, untimed; its graph is the reference
    checkpointedRun(pages, path("warm"), 1L, traced = false)
    var last = path("warm")
    measure("build") { (i, traced) =>
      val dir = path(s"op$i")
      checkpointedRun(pages, dir, 1L, traced)
      last = dir
    }
    val (ref, got) = (graphHash(path("warm")), graphHash(last))
    rec.check("full_build_repeats_reference_graph", got == ref, s"$got vs $ref")
    quality(s"$last/triples", Seq("triples", "nodes", "edges").map(t => s"$last/$t"))
    if (tracer.enabled) {
      kernelSample(pagesDir, 400)
      tracer.runId = -1
      layers(pages, path("layers"), None)
      // one pass of the graph-query mix over the graph just built
      val q = new Queries(spark.read.parquet(s"$last/edges"))
      q.plan.map(_._1).distinct.foreach(k => q.run(k, q.plan.find(_._1 == k).get._2))
    }
  }

  private def resumeBuild(): Unit = {
    val fresh = conf("fresh").split(",").map(_.toInt).toSeq
    def inFresh(p: Dataset[Page]) = Checkpointed.bucketOf(col("url"), nBuckets).isin(fresh: _*)
    val pagesDir = setup("pages") { d =>
      val p = readPages(d)
      Checkpointed.runAll(p.filter(!inFresh(p)), kb, path("prebuilt"), nBuckets, 1L)
    }
    val pages = readPages(pagesDir)
    // warm-up: one resume, untimed
    copyDir(path("prebuilt"), path("warm"))
    Checkpointed.runAll(pages, kb, path("warm"), nBuckets, 2L)
    var last = path("warm")
    measure("resume", i => copyDir(path("prebuilt"), path(s"op$i"))) { (i, traced) =>
      val dir = path(s"op$i")
      checkpointedRun(pages, dir, 2L, traced)
      last = dir
    }
    val (ref, got) = (referenceGraph(pages), graphHash(last))
    rec.check("resume_graph_equals_full_build", got == ref, s"$got vs $ref")
    val graphDone = Checkpointed.graphDoneBuckets(last)
    val tripleDone = Checkpointed.doneBuckets(last)
    rec.check("resume_commits_every_bucket",
      graphDone == tripleDone && fresh.forall(graphDone.contains),
      s"${graphDone.size} graph markers for ${tripleDone.size} buckets")
    quality(s"$last/triples", Seq("triples", "nodes", "edges").map(t => s"$last/$t"))
    if (tracer.enabled) {
      kernelSample(pagesDir, 400)
      tracer.runId = -1
      layers(pages.filter(inFresh(pages)), path("layers"),
        Some(spark.read.parquet(path("prebuilt", "nodes"))))
    }
  }

  private def streamDrain(): Unit = {
    // the backlog: `files` parquet files, one per micro-batch; the
    // warm-up drains a copy of its first two files
    val backlog = setup("backlog") { d =>
      Files.createDirectories(Paths.get(path("warm_backlog")))
      parquetFiles(d).take(2).foreach(f =>
        Files.copy(Paths.get(f), Paths.get(path("warm_backlog"), Paths.get(f).getFileName.toString)))
    }
    val pages = readPages(backlog)
    def drain(from: String, dir: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      val q = StreamIngest.runLinked(spark, from, s"$dir/out", s"$dir/ckpt", kb,
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      note("drained, batch ms: " + progress.map(_.batchDuration).mkString(" "))
      progress
    }
    drain(path("warm_backlog"), path("warm"))
    var last = path("warm")
    measure("drain") { (i, _) =>
      val dir = path(s"op$i")
      val progress = drain(backlog, dir)
      val rows = progress.map(_.numInputRows).sum
      rec.check(s"drain_${i}_reads_every_page", rows == nPages && progress.size == files,
        s"$rows rows in ${progress.size} batches")
      progress.foreach { p =>
        rec.sample("batch_ms", p.batchDuration.toDouble)
        p.durationMs.asScala.foreach { case (k, v) => rec.sample(s"stream.$k", v.toDouble) }
      }
      last = dir
    }
    val (refNodes, refEdges) = referenceGraph(pages)
    val nodes = tableHash(StreamIngest.streamedNodes(spark, s"$last/out"))
    val edges = tableHash(spark.read.parquet(s"$last/out/edges"))
    rec.check("streamed_nodes_equal_batch", nodes == refNodes, s"$nodes vs $refNodes")
    rec.check("streamed_edges_equal_batch", edges == refEdges, s"$edges vs $refEdges")
    // the stream sink stores no triple table: quality is measured on the
    // batch extraction of the same pages, size on what the stream stored
    Kg.pagesToTriples(pages).write.parquet(path("batch_triples"))
    quality(path("batch_triples"), Seq(s"$last/out/nodes", s"$last/out/edges"))
    if (tracer.enabled) {
      kernelSample(backlog, 400)
      tracer.runId = -1
      // one micro-batch's worth of pages through the sink's layers
      layers(readPages(parquetFiles(backlog).head), path("layers"), None)
    }
  }

  /** The seeded graph-query mix over one edge table. Start nodes are
    * indexes into the entity nodes ranked by out-degree; bgp's second
    * predicate indexes the sorted entity predicates. */
  private final class Queries(edges: DataFrame) {
    val plan: Seq[(String, Int)] = conf("queries").split(",").toSeq.map { q =>
      val Array(k, n) = q.split(":"); (k, n.toInt)
    }
    private val starts = Graph.degrees(edges).orderBy(col("out_deg").desc, col("iri"))
      .select("iri").limit(64).as[String].collect().toVector
    private val preds = edges.filter(!col("is_literal")).select("pred").distinct()
      .orderBy("pred").as[String].collect().toVector
    rec.check("graph_has_start_nodes", starts.nonEmpty && preds.nonEmpty,
      s"${starts.size} starts, ${preds.size} preds")

    private def query(kind: String, n: Int): DataFrame = kind match {
      case "degrees" => Graph.degrees(edges)
      case "twohop" => Graph.twoHopNeighbors(edges, Seq(starts(n % starts.size)).toDF("iri"))
      case "bgp" => Graph.bgp(edges, Seq((starts(n % starts.size), "?p", "?x"),
        ("?x", preds((n / starts.size) % preds.size), "?y")))
      case "pagerank" => Graph.pageRank(edges)
      case "components" => Graph.components(edges)
      case "triangles" => Graph.triangleCounts(edges)
    }

    /** Run one query to a collected result; its hash must equal every
      * earlier result of the same query. */
    def run(kind: String, n: Int): Unit = {
      val t = System.nanoTime()
      val rows = tracer.span(s"graph.$kind")(query(kind, n).collect())
      rec.sample(s"graph.$kind", (System.nanoTime() - t) / 1e6)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map(_.toSeq.mkString("\u0001")).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      val h = md.digest().take(8).map(b => f"$b%02x").mkString + s"/${rows.length}"
      val key = s"$kind:$n"
      rec.hashes.get(key) match {
        case Some(prev) => rec.check(s"query_repeats_$key", prev == h, s"$h vs $prev")
        case None => rec.hashes(key) = h
      }
    }
  }

  private def graphQuery(): Unit = {
    val pagesDir = setup("pages") { d =>
      Checkpointed.runAll(readPages(d), kb, path("graph"), nBuckets, 1L)
    }
    val q = new Queries(spark.read.parquet(path("graph", "edges")))
    // warm-up: three passes over every query kind, on the plan's params
    val kinds = q.plan.map(_._1).distinct
    (0 until 3).foreach { pass =>
      val ms = timeMs(kinds.foreach(k => q.run(k, q.plan.find(_._1 == k).get._2)))
      note(f"warm-up pass $pass: $ms%.0f ms")
    }
    rec.samples.keys.filter(_.startsWith("graph.")).toSeq.foreach(rec.samples.remove)
    measure("query") { (i, _) =>
      val (k, n) = q.plan(i % q.plan.size)
      q.run(k, n)
    }
    quality(path("graph", "triples"), Seq("triples", "nodes", "edges").map(t => path("graph", t)))
    if (tracer.enabled) kernelSample(pagesDir, 400)
  }

  // -------------------------------------------------------------- json

  def toJson: Json.Obj = {
    val spans = tracer.spanRecords
    val stages = if (tracer.enabled) tracer.stageRecords else Seq.empty
    Json.Obj(
      "workload" -> Json.Str(workload),
      "setup_s" -> Json.Arr(rec.setupS.map(Json.Num(_)).toSeq),
      "ops" -> Json.Arr(rec.ops.toSeq.map { case (k, ms, ok) =>
        Json.Obj("kind" -> Json.Str(k), "ms" -> Json.Num(ms), "ok" -> Json.Bool(ok)) }),
      "samples" -> Json.Obj(rec.samples.toSeq.map { case (k, v) =>
        k -> Json.Arr(v.toSeq.map(Json.Num(_))) }: _*),
      "values" -> Json.Obj(rec.values.toSeq.map { case (k, v) => k -> Json.Num(v) }: _*),
      "counters" -> Json.Obj(counters.toSeq.map { case (k, v) => k -> Json.Num(v) }: _*),
      "hashes" -> Json.Obj(rec.hashes.toSeq.map { case (k, v) => k -> Json.Str(v) }: _*),
      "checks" -> Json.Arr(rec.checks.toSeq.map { case (n, ok, d) =>
        Json.Obj("name" -> Json.Str(n), "ok" -> Json.Bool(ok), "detail" -> Json.Str(d)) }),
      "spans" -> Json.Arr(spans.map(s => Json.Obj("id" -> Json.Num(s.id.toDouble),
        "parent" -> Json.Num(s.parent.toDouble), "name" -> Json.Str(s.name),
        "run" -> Json.Num(s.run.toDouble), "start_ms" -> Json.Num(s.startMs),
        "end_ms" -> Json.Num(s.endMs)))),
      "jobs_by_span" -> Json.Obj(tracer.jobsBySpan.toSeq.map { case (k, v) =>
        k.toString -> Json.Num(v.toDouble) }: _*),
      "stages" -> Json.Arr(stages.map(s => Json.Obj(
        "span" -> Json.Num(s.span.toDouble), "tasks" -> Json.Num(s.tasks),
        "run_ms" -> Json.Num(s.runMs.toDouble), "cpu_ms" -> Json.Num(s.cpuMs.toDouble),
        "gc_ms" -> Json.Num(s.gcMs.toDouble),
        "shuffle_write" -> Json.Num(s.shuffleWrite.toDouble),
        "shuffle_read" -> Json.Num(s.shuffleRead.toDouble),
        "spill" -> Json.Num(s.spill.toDouble),
        "task_max_ms" -> Json.Num(s.taskMaxMs.toDouble),
        "task_median_ms" -> Json.Num(s.taskMedianMs.toDouble)))))
  }
}
