package perfbench

import graft.core.{PageDoc, PromptMode}
import graft.kernel._
import graft.ops.{DedupOps, LinkOps}
import graft.pipeline.ExtractPipeline
import graft.scale.{HostStats, Lineage}
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.control.NonFatal

/** Per-layer probes of the traced run. Every probe times calls into one
  * module's public functions from here, as spans; nothing inside the
  * program is instrumented. Repeated Spark probes report the median of
  * `Reps` calls. */
final class Layers(spark: SparkSession, tracer: Tracer, work: Path) {
  import Common.{median, noop}
  val Reps = 3
  val out = mutable.LinkedHashMap.empty[String, Double]

  private def rep(name: String)(body: => Unit): Double = {
    for (_ <- 1 to Reps) tracer.span(name)(body)
    median(tracer.durations(name))
  }

  /** Parquet read plus `asPageDocs`, noop sink. */
  def scan(input: String): Double = {
    val s = rep("scan")(noop(ExtractPipeline.asPageDocs(spark.read.parquet(input))))
    out("scan.s") = s
    out("scan.input_bytes") = Common.dirBytes(java.nio.file.Paths.get(input)).toDouble
    s
  }

  /** Cumulative prefixes of the extraction job: scan, + `parsePages`,
    * + `run` (assembly). `pure4t` is the pure-thread kernel wall over the
    * same docs at the same thread count. */
  def pipeline(input: String, scanS: Double, pure4t: Double, docs: Long): Unit = {
    val parse = rep("pipeline.parse_pages")(
      noop(ExtractPipeline.parsePages(ExtractPipeline.asPageDocs(spark.read.parquet(input))).toDF()))
    val run = rep("pipeline.run")(noop(ExtractPipeline.run(spark.read.parquet(input))))
    val pages = ExtractPipeline.parsePages(ExtractPipeline.asPageDocs(spark.read.parquet(input))).count()
    out("pipeline.kernel_stage.s") = parse - scanS
    out("pipeline.encode_overhead.s") = parse - scanS - pure4t
    out("pipeline.assembly.s") = run - parse
    out("pipeline.pages_per_doc") = pages.toDouble / docs
  }

  /** Parquet sink cost: the job written to parquet minus the job to noop. */
  def sink(job: () => DataFrame): Unit = {
    val dir = work.resolve("sink-probe")
    val toNoop = rep("sink.noop")(noop(job()))
    val toParquet = rep("sink.parquet")(job().write.mode("overwrite").parquet(dir.toString))
    out("sink.s") = toParquet - toNoop
    out("sink.output_bytes") = Common.dirBytes(dir).toDouble
  }

  /** Branch the kernel takes for a doc, from `fanOut`'s payload kind. */
  def branch(d: PageDoc): String = ExtractKernel.fanOut(d).head.payload_kind match {
    case "pdf" =>
      val bytes = ExtractKernel.decodePayload(d.html).getOrElse(d.html)
      if (ExtractKernel.isRealPdf(bytes)) "pdf_real" else "pdf_lite"
    case k => k
  }
  val Branches = Seq("html", "pdf_lite", "pdf_real", "image", "garbled", "error")
  val Phases = Seq("decode", "dom_parse", "html_layout", "pdf_parse", "pdf_layout", "image_probe",
    "cells", "bbox", "repair", "md_render", "json_dumps")

  /** Pure-thread kernel: `parseDoc` per doc on one thread (timed per
    * branch, with the thread's allocated bytes), the same flow replayed
    * phase by phase through the kernel's public functions, and a
    * `threads`-thread wall over the same docs. Returns that wall. */
  def kernel(docs: Array[PageDoc], threads: Int): Double = {
    val kinds = docs.map(branch)
    docs.foreach(d => ExtractKernel.parseDoc(d, PromptMode.LayoutAll)) // warm-up
    val a0 = Common.threadAllocated()
    tracer.span("kernel.parse_doc") {
      var i = 0
      while (i < docs.length) {
        tracer.span(s"kernel.${kinds(i)}")(ExtractKernel.parseDoc(docs(i), PromptMode.LayoutAll))
        i += 1
      }
    }
    val alloc = Common.threadAllocated() - a0
    val parseS = tracer.total("kernel.parse_doc")
    out("kernel.parse_doc.s") = parseS
    out("kernel.docs_per_sec_1t") = docs.length / parseS
    out("kernel.alloc_mb_per_kdoc") = alloc / 1048576.0 / (docs.length / 1000.0)
    for (b <- Branches) {
      out(s"kernel.$b.s") = tracer.total(s"kernel.$b")
      out(s"kernel.$b.docs") = kinds.count(_ == b).toDouble
    }
    docs.foreach(replay)
    for (ph <- Phases) out(s"kernel.$ph.s") = tracer.total(s"kernel.$ph")
    val pure = math.min(Common.parseSweep(docs, threads), Common.parseSweep(docs, threads))
    out("kernel.parse_doc_4t.s") = pure
    pure
  }

  private def ph[A](name: String)(body: => A): A = tracer.span(s"kernel.$name")(body)

  /** `parseDoc`'s flow (LayoutAll) through the public kernel functions. */
  private def replay(d: PageDoc): Unit = try {
    val bytes = ph("decode")(ExtractKernel.decodePayload(d.html)) match {
      case Right(b) if b != null && b.nonEmpty => b
      case _ => return
    }
    if (ExtractKernel.isRealPdf(bytes) || PdfLite.isPdfLite(bytes)) {
      val pdf = ph("pdf_parse")(if (ExtractKernel.isRealPdf(bytes)) PdfReal.parse(bytes) else PdfLite.parse(bytes))
      pdf.pages.foreach(pg => layoutTail(ph("pdf_layout")(PdfLite.pageToLayout(pg))))
    } else if (ExtractKernel.isImage(bytes)) {
      layoutTail(ph("image_probe")(ExtractKernel.imageToLayout(bytes)))
    } else if (ExtractKernel.looksLikeHtml(bytes)) {
      val root = ph("dom_parse")(HtmlDom.parse(HtmlDom.decodeBytes(bytes)))
      layoutTail(ph("html_layout")(HtmlExtract.extractFromDom(root)))
    } else {
      val response = new String(bytes, StandardCharsets.UTF_8)
      ph("repair")(OutputRepair.postProcessOutput(response, 1280, 960, 1280, 960)) match {
        case OutputRepair.ParsedCells(cells) => render(cells, None)
        case OutputRepair.Filtered(_) => ph("json_dumps")(PyJson.dumps(JString(response)))
      }
    }
  } catch { case NonFatal(_) => () } // error rows: the kernel turns these into typed errors

  private def layoutTail(layout: HtmlExtract.PageLayout): Unit = {
    val (srcH, srcW) = layout.renderDims.getOrElse((layout.height, layout.width))
    val (ih, iw) = Geometry.smartResize(srcH, srcW)
    val cells = ph("cells")(ExtractKernel.classifierCells(layout, PromptMode.LayoutAll, iw, ih))
    render(ph("bbox")(BboxScale.postProcessCells(layout.width, layout.height, cells, iw, ih)), layout.raster)
  }

  private def render(cells: Vector[JValue], raster: Option[scala.collection.immutable.ArraySeq[Byte]]): Unit = {
    ph("json_dumps")(PyJson.dumps(JArray(cells)))
    ph("md_render") {
      val segs = MdRender.renderSegments(cells, raster = raster)
      MdRender.segmentsToMd(segs, noPageHf = false)
      MdRender.segmentsToMd(segs, noPageHf = true)
    }
  }

  /** SnapshotRunner steps on a fresh directory: the bucketing shuffle,
    * one commit batch per `run(maxBatches = 1)`, lineage over the
    * committed output, and `run` on the fully committed directory. */
  def scale(input: String, buckets: Int, perCommit: Int): Unit = {
    val r = new graft.scale.SnapshotRunner(work.resolve("scale-probe").toString, buckets, perCommit)
    val df = spark.read.parquet(input)
    tracer.span("scale.prepare_input")(r.prepareInput(spark, df))
    for (_ <- 0 until buckets / perCommit) tracer.span("scale.commit")(r.run(spark, df, maxBatches = 1))
    val lineage = rep("scale.lineage")(noop(Lineage.fromOutput(r.output(spark).drop("bucket"), buckets)))
    val skip = rep("scale.resume_skip")(r.run(spark, df))
    val commits = tracer.durations("scale.commit")
    out("scale.prepare_input.s") = tracer.total("scale.prepare_input")
    out("scale.commit.p50_s") = median(commits)
    out("scale.commit.max_s") = commits.max
    out("scale.lineage.s") = lineage
    out("scale.resume_skip.s") = skip
    out("scale.commits") = r.commits().length.toDouble
  }

  def hostStats(df: () => DataFrame): Unit = {
    out("scale.host_stats_salted.s") = rep("scale.host_stats_salted")(noop(HostStats.salted(df())))
    out("scale.host_stats_plain.s") = rep("scale.host_stats_plain")(noop(HostStats.plain(df())))
  }

  /** Incremental re-extraction steps: digests of B, the bucketed commit of
    * A (its extraction materialized first, untimed), and the counts and
    * exchanges of the timed job's output and plan. */
  def incremental(a: String, b: String, job: () => DataFrame, output: String): Unit = {
    out("incr.digest.s") = rep("incr.digest")(noop(ExtractPipeline.snapshotDigests(spark.read.parquet(b))))
    val outA = work.resolve("incr-output-a").toString
    ExtractPipeline.run(spark.read.parquet(a)).write.mode("overwrite").parquet(outA)
    out("incr.commit_bucketed.s") = rep("incr.commit_bucketed")(ExtractPipeline.commitSnapshotBucketed(
      spark.read.parquet(a), spark.read.parquet(outA), "digest_probe", "output_probe"))
    val bySource = spark.read.parquet(output).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = bySource.values.sum.toDouble
    out("incr.changed_docs") = bySource.getOrElse("extracted", 0L).toDouble
    out("incr.reused_docs") = bySource.getOrElse("reused", 0L).toDouble
    out("incr.reuse_ratio") = bySource.getOrElse("reused", 0L) / total
    val df = job()
    noop(df)
    out("incr.exchanges") = Layers.shuffleExchanges(df).toDouble
  }

  /** Dedup and link-graph operators, each materialized before the next. */
  def ops(texts: () => DataFrame, links: () => DataFrame, twinsFrom: Long): Unit = {
    val sigs = tracer.span("ops.simhash_sigs")(
      DedupOps.simhashSignatures(texts(), "id", "text").localCheckpoint(true))
    val pairs = tracer.span("ops.simhash_pairs")(DedupOps.simhashPairsFromSigs(sigs).localCheckpoint(true))
    val cc = tracer.span("ops.components")(
      DedupOps.connectedComponents(sigs, "id", pairs).localCheckpoint(true))
    val hg = tracer.span("ops.host_graph")(LinkOps.hostGraph(links()).localCheckpoint(true))
    tracer.span("ops.pagerank")(noop(LinkOps.pageRank(hg)))
    for (n <- Seq("simhash_sigs", "simhash_pairs", "components", "host_graph", "pagerank"))
      out(s"ops.$n.s") = tracer.total(s"ops.$n")
    out("ops.pairs") = pairs.count().toDouble
    out("ops.clusters") = cc.groupBy("cluster_id").count().filter(col("count") > 1).count().toDouble
    // planted near-duplicate (id >= twinsFrom) clustered with its original
    val twins = cc.filter(col("id") >= twinsFrom)
    val found = twins.as("t").join(cc.as("o"), col("o.id") === col("t.id") - twinsFrom)
      .filter(col("o.cluster_id") === col("t.cluster_id")).count()
    out("ops.dup_recall") = found.toDouble / math.max(1L, twins.count())
  }
}

object Layers {
  /** Shuffle exchanges in a DataFrame's executed plan. */
  def shuffleExchanges(df: DataFrame): Int =
    "(?<!Broadcast)Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)".r
      .findAllIn(df.queryExecution.executedPlan.toString()).length

  /** Statistics of the tasks of `passes` timed jobs at `threads` cores.
    * Waves count the tasks of the stage that took the most task time (a
    * job's small side stages, e.g. parquet schema reads, do not count). */
  def sparkStats(tasks: Seq[TaskRec], passes: Int, threads: Int): Map[String, Double] = {
    val walls = tasks.map(_.seconds)
    val p50 = Common.median(walls)
    val run = tasks.map(_.runMs).sum
    def perPass(x: Long): Double = x.toDouble / passes
    val mainStage = tasks.groupBy(_.stage).values.maxBy(_.map(_.runMs).sum)
    Map(
      "spark.tasks" -> perPass(tasks.length),
      "spark.waves" -> mainStage.length.toDouble / threads,
      "spark.task_p50_s" -> p50,
      "spark.task_max_s" -> walls.max,
      "spark.task_skew" -> walls.max / p50,
      "spark.sched_delay_s" -> perPass(tasks.map(_.schedDelayMs).sum) / 1e3,
      "spark.deser_s" -> perPass(tasks.map(_.deserMs).sum) / 1e3,
      "spark.gc_s" -> perPass(tasks.map(_.gcMs).sum) / 1e3,
      "spark.executor_cpu_frac" -> (if (run == 0) 0.0 else tasks.map(_.cpuNs).sum / 1e6 / run),
      "spark.shuffle_read_bytes" -> perPass(tasks.map(_.shuffleRead).sum),
      "spark.shuffle_write_bytes" -> perPass(tasks.map(_.shuffleWrite).sum),
      "spark.spill_bytes" -> perPass(tasks.map(_.spill).sum))
  }
}
