package perfbench

import graft.core.PageDoc
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One fresh-JVM measurement: a workload at local[threads].
  *
  * {{{
  * perfbench.Worker workload=<name> seed=<n> threads=<k> docs=<n> seconds=<s>
  *                  input=<dir> work=<dir> out=<file> trace=<0|1> run=<id>
  * }}}
  *
  * The first worker of a run generates and materializes the inputs under
  * `input`; later workers reuse them. Optional `signal=<file>` is created
  * once the session is up, and optional `await=<file>` then blocks the
  * worker until that file exists: a run starts its second JVM while the
  * first sets up, and no two workers ever do more than start a session at
  * once. Untraced, the worker warms the job
  * until two passes agree, times passes for `seconds`, checks the outputs
  * and writes a JSON result to `out`. Traced, it also times the same job
  * with spans and task statistics on, then runs the per-layer probes of the
  * workload. */
object Worker {
  import Common._

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val wl = Workloads.all(a("workload"))
    val seed = a("seed").toLong
    val threads = a("threads").toInt
    val budget = a("seconds").toDouble
    val in = path(a("input"))
    val work = path(a("work")).resolve(s"local$threads")
    val traced = a("trace") == "1"
    val res = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    var spark = session(threads, work)
    res("session_ready_ms") = System.currentTimeMillis()
    a.get("signal").foreach(f => Files.createFile(path(f)))
    a.get("await").foreach(f => res("waited_s") = timed(while (!Files.exists(path(f))) Thread.sleep(20))._2)
    val done = in.resolve("_GENERATED")
    if (!Files.exists(done)) {
      val (_, genS) = timed(wl.generate(spark, in, a("docs").toLong, seed))
      Files.writeString(done, genS.toString)
      res("gen_s") = genS
    }
    wl.prepare(spark, in, work)
    val docs = wl.docs(spark, in)
    res("docs") = docs

    // the kernel dominates the extraction passes; sweeping it on every core
    // first brings a local[1] worker to steady state in a few seconds
    // instead of many single-core passes
    wl.kernelInput(in).foreach(dir => res("kernel_warm_sweeps") = warmKernel(corpusDocs(spark, dir)))

    val heap = new HeapSampler
    val tracer = new Tracer(a("run"), traced)
    val untraced = measure(if (traced) budget / 2 else budget, onTimedStart = () => {
      res("timed_start_ms") = System.currentTimeMillis()
      heap.start()
    })(k => wl.pass(spark, in, work, k))
    res("peak_heap_mb") = heap.stopAndPeakMb()
    res("warm_walls") = untraced.warm
    res("timed_walls") = untraced.timed
    res("docs_per_sec") = docs / untraced.wall

    if (traced) {
      // traced passes (spans and the task listener on) alternate with
      // untraced ones, so JIT drift falls on both sides of the overhead
      val stats = new TaskStats
      val plain = scala.collection.mutable.ArrayBuffer.empty[Double]
      var tasks = Vector.empty[TaskRec]
      for (k <- 1 to 3) {
        System.gc()
        plain += timed(wl.pass(spark, in, work, 100 + 2 * k))._2
        spark.sparkContext.addSparkListener(stats)
        System.gc()
        tracer.span("job")(wl.pass(spark, in, work, 101 + 2 * k))
        tasks ++= stats.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(stats)
      }
      // task times are epoch millis; job spans are nanoTime: align the clocks
      val offsetNs = System.currentTimeMillis() * 1000000 - System.nanoTime()
      val jobs = tracer.all.filter(_.name == "job")
      for (t <- tasks) {
        val (s, e) = (t.launchMs * 1000000 - offsetNs, t.finishMs * 1000000 - offsetNs)
        val parent = jobs.find(j => j.startNs - 2000000 <= s && s <= j.endNs).map(_.id).getOrElse(0)
        tracer.record(s"spark.task.stage${t.stage}", parent, s, e)
      }
      val tracedWall = median(tracer.durations("job"))
      val layers = new Layers(spark, tracer, work)
      layers.out ++= Layers.sparkStats(tasks, 3, threads)
      layers.out("trace.docs_per_sec_n4_untraced") = docs / median(plain.toSeq)
      layers.out("trace.docs_per_sec_n4_traced") = docs / tracedWall
      layers.out("trace.overhead") = tracedWall / median(plain.toSeq) - 1
      val (s, probeFailures) = probe(wl, spark, layers, in, work, threads, seed, a("docs").toLong, docs)
      spark = s
      res("probe_failures") = probeFailures
      layers.out("trace.spans") = tracer.all.length.toDouble
      res("layers") = layers.out
      tracer.write(path(a("out")).resolveSibling(s"trace-${a("run")}.jsonl"))
    } else if (wl == Workloads.SnapshotResume && threads > 1) {
      val (s, resumeS, redo) = Workloads.SnapshotResume.resume(spark, in, work, threads)
      spark = s
      res("resume_s") = resumeS
      res("redo_docs") = redo
    }

    val (checks, checkS) = timed(wl.check(spark, in, work, seed, path(a("out")).resolveSibling(s"hashes-$threads.tsv")))
    res("check_s") = checkS
    res("attempted") = checks.attempted
    res("failures") = checks.failures
    spark.stop()
    Files.write(path(a("out")), json(res).getBytes(StandardCharsets.UTF_8))
  }

  /** Pure-thread `parseDoc` sweeps over `docs` on every core until two
    * sweeps agree within 10% (at most 3). Returns the sweep walls. */
  private def warmKernel(docs: Array[PageDoc]): Vector[Double] = {
    def sweep(): Double = parseSweep(docs, Runtime.getRuntime.availableProcessors)
    val walls = scala.collection.mutable.ArrayBuffer(sweep(), sweep())
    while (walls.length < 3 && math.abs(walls.last - walls(walls.length - 2)) > 0.1 * walls.last) walls += sweep()
    walls.toVector
  }

  private def corpusDocs(spark: SparkSession, dir: String): Array[PageDoc] =
    pageDocs(spark.read.parquet(dir))

  private def pageDocs(df: org.apache.spark.sql.DataFrame): Array[PageDoc] =
    df.select("url", "html", "lang").collect()
      .map(r => PageDoc(r.getString(0), null, r.getAs[Array[Byte]](1), "", r.getString(2)))

  /** Layer probes for the layers the workload's job calls; the two
    * measured workloads also probe the layers of the two workloads that
    * are runnable by hand only (see METRICS.md), on inputs generated from
    * the same seed. Returns the session in use afterwards (the resume
    * probe restarts it) and the failures of the probes' own checks. */
  private def probe(wl: Workload, spark: SparkSession, layers: Layers, in: Path, work: Path,
      threads: Int, seed: Long, n: Long, docs: Long): (SparkSession, Map[String, Long]) = {
    def p(name: String) = in.resolve(name).toString
    def ops(dir: Path): Map[String, Long] = {
      val w = Workloads.CorpusOps
      if (dir != in) w.generate(spark, dir, n, seed)
      layers.ops(() => w.texts(spark, dir), () => spark.read.parquet(dir.resolve("links").toString), n)
      layers.hostStats(() => spark.read.parquet(dir.resolve("docs").toString))
      val checks = w.check(spark, dir, work, seed, work.resolve("hashes-ops.tsv"))
      checks.failures.map { case (k, v) => s"ops.$k" -> v }
    }
    def incr(dir: Path): Map[String, Long] = {
      val w = Workloads.RecrawlIncremental
      if (dir != in) {
        w.generate(spark, dir, n, seed)
        w.prepare(spark, dir, work)
        w.pass(spark, dir, work, 0)
      }
      layers.incremental(dir.resolve("a").toString, dir.resolve("b").toString,
        () => w.job(spark, dir), w.out(work))
      val checks = w.check(spark, dir, work, seed, work.resolve("hashes-recrawl.tsv"))
      checks.failures.map { case (k, v) => s"recrawl.$k" -> v }
    }
    wl match {
      case Workloads.ExtractMix =>
        val scanS = layers.scan(p("corpus"))
        val pure = layers.kernel(corpusDocs(spark, p("corpus")), threads)
        layers.pipeline(p("corpus"), scanS, pure, docs)
        (spark, ops(in.resolve("ops")))
      case Workloads.SnapshotResume =>
        layers.scan(p("corpus"))
        layers.kernel(corpusDocs(spark, p("corpus")), threads)
        layers.sink(() => graft.pipeline.ExtractPipeline.run(spark.read.parquet(p("corpus"))))
        layers.scale(p("corpus"), Workloads.SnapshotResume.Buckets, Workloads.SnapshotResume.PerCommit)
        val recrawl = incr(in.resolve("recrawl"))
        val (s, resumeS, redo) = Workloads.SnapshotResume.resume(spark, in, work, threads)
        layers.out("scale.resume_s") = resumeS
        layers.out("scale.redo_docs") = redo.toDouble
        (s, recrawl + ("redo_docs" -> redo))
      case Workloads.RecrawlIncremental =>
        val w = Workloads.RecrawlIncremental
        layers.scan(p("b"))
        val extracted = spark.read.parquet(w.out(work)).filter(col("source") === "extracted").select("url")
        val todo = spark.read.parquet(p("b")).join(extracted, Seq("url"), "left_semi")
        layers.kernel(pageDocs(todo), threads)
        layers.sink(() => w.job(spark, in))
        (spark, incr(in))
      case Workloads.CorpusOps =>
        (spark, ops(in))
    }
  }
}
