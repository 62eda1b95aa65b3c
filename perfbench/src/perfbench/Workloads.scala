package perfbench

import graft.core.{PageDoc, PromptMode}
import graft.gen.{InputGen, InputTable}
import graft.kernel.{ExtractKernel, MdRender}
import graft.pipeline.ExtractPipeline
import graft.scale.{HostStats, Lineage, SnapshotRunner}
import graft.ops.{DedupOps, LinkOps}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.chaining._

/** Outcome of a worker's output checks: `failures` counts docs (or keys)
  * per failed check, out of `attempted`. */
final case class Checks(attempted: Long, failures: Map[String, Long])

/** One benchmark workload. The program only ever sees rows that
  * [[generate]] derived from the seed through `InputGen`. */
abstract class Workload(val name: String) {
  /** [[generate]] writes each input as this many parquet files, so
    * local[1] and local[4] read the same layout and, as in a crawl table,
    * every core gets several scan tasks. */
  val InputFiles = 16

  def generate(spark: SparkSession, in: Path, n: Long, seed: Long): Unit
  /** Per-worker state the timed job needs (counted in set-up). */
  def prepare(spark: SparkSession, in: Path, work: Path): Unit = ()
  /** Input documents one pass processes. */
  def docs(spark: SparkSession, in: Path): Long
  def pass(spark: SparkSession, in: Path, work: Path, k: Int): Unit
  /** The parquet input whose kernel work dominates the timed job, if any:
    * the worker warms the kernel on it before the first pass. */
  def kernelInput(in: Path): Option[String] = None
  def check(spark: SparkSession, in: Path, work: Path, seed: Long, hashes: Path): Checks
}

object Workloads {
  val all: Map[String, Workload] =
    Seq(ExtractMix, SnapshotResume, RecrawlIncremental, CorpusOps).map(w => w.name -> w).toMap

  private def p(path: Path, name: String): String = path.resolve(name).toString

  /** What every extraction row must show for the payload kind its url
    * names: a truncated PDF gives a typed error row, garbled model output
    * a filtered row (its repaired text may be empty), and every other kind
    * an error-free, unfiltered row with markdown. */
  def contentOk: org.apache.spark.sql.Column = {
    val kind = regexp_extract(col("url"), "^https?://[^/]+/([a-z]+)/", 1)
    when(kind === "truncated", col("error") =!= "")
      .when(kind === "garbled", col("filtered") && col("error") === "")
      .otherwise(col("error") === "" && !col("filtered") && col("md") =!= "" && col("n_pages") >= 1)
  }

  /** Checks an extraction output against its input from one extraction of
    * `out` and one scan of `input`: exactly one row per input url, the
    * content rules, and a seeded ~1% sample of urls re-extracted through
    * the kernel alone, pages joined by the reference `\n\n---\n\n` rule.
    * Writes url → row hash to `hashes`. */
  def extractionChecks(spark: SparkSession, input: DataFrame, out: DataFrame, seed: Long,
      hashes: Path): Checks = {
    val pick = pmod(xxhash64(col("url"), lit(seed)), lit(100)) === 0
    val rowHash = xxhash64(out.columns.filter(_ != "url").map(col): _*)
    val rows = out.select(col("url"), rowHash, contentOk, col("n_pages"),
      when(pick, col("md")), when(pick, col("md_nohf"))).collect()
    val docs = input.select(col("url"), when(pick, col("html")), col("lang")).collect()
    val expected = docs.map(_.getString(0)).toSet
    val perUrl = rows.groupBy(_.getString(0))
    Common.writeLines(hashes, rows.map(r => s"${r.getString(0)}\t${r.getLong(1)}"))
    val sampled = docs.filter(!_.isNullAt(1)).map(r => PageDoc(r.getString(0), null, r.getAs[Array[Byte]](1), "", r.getString(2)))
    val sampleFail = sampled.count { d =>
      val pages = ExtractKernel.parseDoc(d, PromptMode.LayoutAll)
      val want = (pages.length.toLong,
        MdRender.combinePages(pages.map(pg => pg.page_no -> pg.md)),
        MdRender.combinePages(pages.map(pg => pg.page_no -> pg.md_nohf)))
      !perUrl.get(d.url).exists(_.map(r => (r.getLong(3), r.getString(4), r.getString(5))).toSeq == Seq(want))
    }
    Checks(expected.size.toLong, Map(
      "missing" -> expected.count(u => !perUrl.contains(u)).toLong,
      "duplicated" -> perUrl.count(_._2.length > 1).toLong,
      "unexpected" -> perUrl.keys.count(u => !expected.contains(u)).toLong,
      "content" -> rows.count(r => !r.getBoolean(2)).toLong,
      "sample" -> sampleFail.toLong))
  }

  /** Read → extract → noop sink, every output column materialized. */
  object ExtractMix extends Workload("extract-mix") {
    def generate(spark: SparkSession, in: Path, n: Long, seed: Long): Unit =
      InputTable.generate(spark, n, seed, InputFiles).write.mode("overwrite").parquet(p(in, "corpus"))
    def docs(spark: SparkSession, in: Path): Long = spark.read.parquet(p(in, "corpus")).count()
    override def kernelInput(in: Path): Option[String] = Some(p(in, "corpus"))
    def job(spark: SparkSession, in: Path): DataFrame = ExtractPipeline.run(spark.read.parquet(p(in, "corpus")))
    def pass(spark: SparkSession, in: Path, work: Path, k: Int): Unit = Common.noop(job(spark, in))
    def check(spark: SparkSession, in: Path, work: Path, seed: Long, hashes: Path): Checks =
      extractionChecks(spark, spark.read.parquet(p(in, "corpus")), job(spark, in), seed, hashes)
  }

  /** SnapshotRunner over a fresh directory each pass: bucketing shuffle,
    * half the commit batches, then a new runner resumes to completion. */
  object SnapshotResume extends Workload("snapshot-resume") {
    val Buckets = 8
    val PerCommit = 4
    val HalfBatches = Buckets / PerCommit / 2
    def generate(spark: SparkSession, in: Path, n: Long, seed: Long): Unit = ExtractMix.generate(spark, in, n, seed)
    def docs(spark: SparkSession, in: Path): Long = ExtractMix.docs(spark, in)
    override def kernelInput(in: Path): Option[String] = ExtractMix.kernelInput(in)
    def runner(dir: Path) = new SnapshotRunner(dir.toString, Buckets, PerCommit)
    def passDir(work: Path, k: Int): Path = work.resolve(s"snapshot-$k")
    private val PassDir = "snapshot-([0-9]+)".r
    def pass(spark: SparkSession, in: Path, work: Path, k: Int): Unit = {
      val dir = passDir(work, k)
      val input = spark.read.parquet(p(in, "corpus"))
      val first = runner(dir)
      first.prepareInput(spark, input)
      first.run(spark, input, maxBatches = HalfBatches)
      runner(dir).run(spark, input)
    }

    /** Commits half the batches, stops the session, and resumes in a fresh
      * one. Returns the fresh session, the resumed invocation's wall, and
      * the docs of already committed buckets that were extracted again. */
    def resume(spark0: SparkSession, in: Path, work: Path, threads: Int): (SparkSession, Double, Long) = {
      val dir = work.resolve("snapshot-resume")
      val input0 = spark0.read.parquet(p(in, "corpus"))
      val r0 = runner(dir)
      r0.prepareInput(spark0, input0)
      r0.run(spark0, input0, maxBatches = HalfBatches)
      val before = r0.commits()
      val doneBuckets = before.flatMap(_.buckets).toSet
      def files(): Map[String, Long] = doneBuckets.toSeq.flatMap { b =>
        val d = dir.resolve("data").resolve(s"bucket=$b")
        if (!Files.isDirectory(d)) Nil
        else Files.list(d).iterator().asScala.map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toSeq
      }.toMap
      val filesBefore = files()
      spark0.stop()
      val spark = Common.session(threads, work)
      val input = spark.read.parquet(p(in, "corpus"))
      val (_, wall) = Common.timed(runner(dir).run(spark, input))
      val after = runner(dir).commits()
      val rerun = after.filter(c => !before.exists(_.id == c.id)).flatMap(_.buckets).toSet & doneBuckets
      val rewritten = if (files() == filesBefore) Set.empty[Int] else doneBuckets
      val redoBuckets = rerun ++ rewritten
      val redo = if (redoBuckets.isEmpty) 0L else input
        .filter(Lineage.bucketOf(col("url"), Buckets).isin(redoBuckets.toSeq.map(Integer.valueOf): _*)).count()
      (spark, wall, redo)
    }

    /** Checks the resumed snapshot if this worker made one, else the last pass's. */
    def check(spark: SparkSession, in: Path, work: Path, seed: Long, hashes: Path): Checks = {
      val resumed = work.resolve("snapshot-resume")
      val r = runner(if (Files.isDirectory(resumed)) resumed else Files.list(work).iterator().asScala
        .map(_.getFileName.toString).collect { case PassDir(k) => k.toInt }.toSeq.max.pipe(passDir(work, _)))
      val out = r.output(spark).drop("bucket")
      val input = spark.read.parquet(p(in, "corpus"))
      val base = extractionChecks(spark, input, out, seed, hashes)
      val lineageDocs = r.lineage(spark).agg(sum("n_docs")).first().getLong(0)
      base.copy(failures = base.failures ++ Map(
        "lineage_docs" -> math.abs(lineageDocs - base.attempted),
        "commits" -> (if (r.committedBuckets() == (0 until Buckets).toSet) 0L else base.attempted)))
    }
  }

  /** Snapshot A committed bucketed in set-up; the timed job re-extracts
    * snapshot B incrementally and writes parquet. */
  object RecrawlIncremental extends Workload("recrawl-incremental") {
    import InputGen.mix
    def deleted(seed: Long, id: Long): Boolean = math.floorMod(mix(seed ^ mix(id ^ 0xde1e7edL)), 100L) < 2
    /** ~5% of all docs: html pages whose content changed between crawls. */
    def changed(seed: Long, id: Long): Boolean = !deleted(seed, id) &&
      InputGen.kindOf(seed, id) == "html" && math.floorMod(mix(seed ^ mix(id ^ 0xc4a96edL)), 1000L) < 91
    def fresh(n: Long): Long = n / 50

    def snapshotB(spark: SparkSession, n: Long, seed: Long): DataFrame = {
      import spark.implicits._
      spark.range(0, n + fresh(n), 1, InputFiles).flatMap { boxed =>
        val id = boxed.longValue
        if (id >= n) Some(InputGen.generate(seed, id))
        else if (deleted(seed, id)) None
        else if (changed(seed, id)) {
          val r = InputGen.generate(seed, id)
          val (html, text) = InputGen.htmlPayload(new InputGen.Rng(seed, id, 2L), r.lang, id)
          Some(r.copy(html = html, text = text))
        } else Some(InputGen.generate(seed, id))
      }.toDF()
    }

    def generate(spark: SparkSession, in: Path, n: Long, seed: Long): Unit = {
      InputTable.generate(spark, n, seed, InputFiles).write.mode("overwrite").parquet(p(in, "a"))
      snapshotB(spark, n, seed).write.mode("overwrite").parquet(p(in, "b"))
    }
    override def prepare(spark: SparkSession, in: Path, work: Path): Unit = {
      val a = spark.read.parquet(p(in, "a"))
      ExtractPipeline.commitSnapshotBucketed(a, ExtractPipeline.run(a), "digest_a", "output_a")
    }
    def docs(spark: SparkSession, in: Path): Long = spark.read.parquet(p(in, "b")).count()
    override def kernelInput(in: Path): Option[String] = Some(p(in, "b"))
    def job(spark: SparkSession, in: Path): DataFrame =
      ExtractPipeline.runIncremental(spark.table("digest_a"), spark.table("output_a"),
        spark.read.parquet(p(in, "b")))
    def out(work: Path): String = p(work, "recrawl-out")
    def pass(spark: SparkSession, in: Path, work: Path, k: Int): Unit =
      job(spark, in).write.mode("overwrite").parquet(out(work))

    def check(spark: SparkSession, in: Path, work: Path, seed: Long, hashes: Path): Checks = {
      val b = spark.read.parquet(p(in, "b"))
      val got = spark.read.parquet(out(work))
      val base = extractionChecks(spark, b, got.drop("source"), seed, hashes)
      // reused + extracted must equal a full re-extraction of B, row for row
      val full = ExtractPipeline.run(b)
      val cols = full.columns.map(col)
      val h = (df: DataFrame, name: String) => df.select(col("url"), xxhash64(cols: _*).as(name))
      val differ = h(got.drop("source"), "h_got").join(h(full, "h_full"), Seq("url"), "full_outer")
        .filter(not(col("h_got") <=> col("h_full"))).count()
      // exactly the changed and new urls go through the kernel
      val n = spark.read.parquet(p(in, "a")).count()
      val extracted = got.filter(col("source") === "extracted").select("url")
      val id = regexp_extract(col("url"), "/doc([0-9]+)$", 1).cast("long")
      val mustExtract = b.select("url").filter(id >= n || udfChanged(seed)(id))
      val wrongSource = extracted.join(mustExtract, Seq("url"), "left_anti").count() +
        mustExtract.join(extracted, Seq("url"), "left_anti").count()
      base.copy(failures = base.failures ++ Map("vs_full_extraction" -> differ, "source" -> wrongSource))
    }

    private def udfChanged(seed: Long) = udf((id: Long) => changed(seed, id))
  }

  /** Kernel-free ops over the generator's text sidecar, planted near-dups,
    * its cross-host link graph and the hot-host table. */
  object CorpusOps extends Workload("corpus-ops") {
    import InputGen.mix
    def twin(seed: Long, id: Long): Boolean = math.floorMod(mix(seed ^ mix(id ^ 0x7717L)), 100L) < 10

    /** One word of the text replaced: a planted near-duplicate. */
    def oneWordEdit(seed: Long, id: Long, text: String): String = {
      val words = text.split(" ")
      val i = math.floorMod(mix(seed ^ id), words.length.toLong).toInt
      words.updated(i, "edited").mkString(" ")
    }

    def generate(spark: SparkSession, in: Path, n: Long, seed: Long): Unit = {
      import spark.implicits._
      spark.range(0, n, 1, InputFiles).flatMap { boxed =>
        val id = boxed.longValue
        val r = InputGen.generate(seed, id)
        val doc = (id, r.url, r.html, r.text)
        if (r.text.nonEmpty && twin(seed, id))
          Seq(doc, (n + id, r.url.replaceFirst("/doc", "/dup"), r.html, oneWordEdit(seed, id, r.text)))
        else Seq(doc)
      }.toDF("id", "url", "html", "text").write.mode("overwrite").parquet(p(in, "docs"))
      spark.range(0, n, 1, InputFiles).flatMap { boxed =>
        val id = boxed.longValue
        if (InputGen.kindOf(seed, id) != "html") Nil
        else {
          val src = s"https://${InputGen.hostOf(seed, id)}.example/html/doc$id"
          InputGen.outlinks(id).map(dst => (src, dst))
        }
      }.toDF("src", "dst").write.mode("overwrite").parquet(p(in, "links"))
    }
    def docs(spark: SparkSession, in: Path): Long = spark.read.parquet(p(in, "docs")).count()

    def texts(spark: SparkSession, in: Path): DataFrame =
      spark.read.parquet(p(in, "docs")).filter(length(col("text")) > 0)
    def components(spark: SparkSession, in: Path): DataFrame = {
      val sigs = DedupOps.simhashSignatures(texts(spark, in), "id", "text")
      DedupOps.connectedComponents(sigs, "id", DedupOps.simhashPairsFromSigs(sigs))
    }
    def ranks(spark: SparkSession, in: Path): DataFrame =
      LinkOps.pageRank(LinkOps.hostGraph(spark.read.parquet(p(in, "links"))))
    def hostStats(spark: SparkSession, in: Path): DataFrame = HostStats.salted(spark.read.parquet(p(in, "docs")))

    def pass(spark: SparkSession, in: Path, work: Path, k: Int): Unit = {
      Common.noop(components(spark, in))
      Common.noop(ranks(spark, in))
      Common.noop(hostStats(spark, in))
    }

    def check(spark: SparkSession, in: Path, work: Path, seed: Long, hashes: Path): Checks = {
      val cc = components(spark, in).localCheckpoint(true).select(concat(lit("cc:"), col("id")).as("k"), col("cluster_id"))
      val pr = ranks(spark, in).select(concat(lit("pr:"), col("node")).as("k"), col("rank"))
      val hs = hostStats(spark, in)
      val hsKeyed = hs.select(concat(lit("hs:"), col("host")).as("k"), col("n_docs"), col("payload_bytes"))
      val all = cc.select(col("k"), xxhash64(col("cluster_id")).as("h"))
        .union(pr.select(col("k"), xxhash64(col("rank")).as("h")))
        .union(hsKeyed.select(col("k"), xxhash64(col("n_docs"), col("payload_bytes")).as("h")))
      Common.writeHashes(all, "k", hashes)
      val nTexts = texts(spark, in).count()
      val docs = spark.read.parquet(p(in, "docs"))
      val plain = HostStats.plain(docs)
      val saltedVsPlain = hs.exceptAll(plain).count() + plain.exceptAll(hs).count()
      val clustered = cc.count()
      val hosts = docs.select(HostStats.hostOf(col("url")).as("host")).distinct().count()
      Checks(nTexts + hosts, Map(
        "cluster_rows" -> math.abs(clustered - nTexts),
        "salted_vs_plain" -> saltedVsPlain,
        "host_rows" -> math.abs(hs.count() - hosts)))
    }
  }
}
