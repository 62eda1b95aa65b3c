package graft.scale

import graft.SparkTestBase
import graft.gen.InputTable
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SnapshotResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("kill after K commits, resume processes only the rest, output identical") {
    val input = InputTable.generate(spark, 120L, seed = 7L).cache()
    val dirA = Files.createTempDirectory("snap-a").toString
    val dirB = Files.createTempDirectory("snap-b").toString

    // uninterrupted reference run
    val full = new SnapshotRunner(dirA, nBuckets = 8, bucketsPerCommit = 2)
    assert(full.run(spark, input) == 4)

    // interrupted run: 2 of 4 batches, then "crash"
    val part = new SnapshotRunner(dirB, nBuckets = 8, bucketsPerCommit = 2)
    assert(part.run(spark, input, maxBatches = 2) == 2)
    assert(part.committedBuckets().size == 4)

    // resume: a NEW runner instance (fresh process) picks up the manifest
    val resumed = new SnapshotRunner(dirB, nBuckets = 8, bucketsPerCommit = 2)
    assert(resumed.run(spark, input) == 2) // exactly the remaining batches
    assert(resumed.committedBuckets().size == 8)

    // idempotence: nothing left to do
    assert(new SnapshotRunner(dirB, nBuckets = 8, bucketsPerCommit = 2)
      .run(spark, input) == 0)

    // byte-identical final output
    val a = full.output(spark).select("url", "md", "cells_json", "error")
    val b = resumed.output(spark).select("url", "md", "cells_json", "error")
    assert(a.count() == 120 && b.count() == 120)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)

    // lineage table covers both run segments and matches the output
    val lin = resumed.lineage(spark)
    assert(lin.count() > 0)
    assert(lin.select(countDistinct("commit_id")).head().getLong(0) == 4)
    assert(lin.agg(sum("n_docs")).head().getLong(0) == 120L)

    // manifest lineage ≡ lineage recomputed from the committed output, row
    // for row; each manifest's rows = its batch's committed row count; no
    // lineage table is written beside the data
    val cols = Lineage.Columns.map(col)
    val out = resumed.output(spark)
    val fromManifest = lin.select(cols: _*).orderBy("bucket").collect().toSeq
    val recomputed = Lineage.fromOutput(out.drop("bucket"), 8)
      .select(cols: _*).orderBy("bucket").collect().toSeq
    assert(fromManifest == recomputed)
    resumed.commits().foreach { c =>
      assert(c.rows == out.filter(col("bucket").isin(c.buckets.map(Integer.valueOf): _*)).count(),
        s"commit ${c.id}")
    }
    assert(!Files.exists(java.nio.file.Paths.get(dirB, "lineage")))
  }

  test("a commit batch on a prepared runner submits at most 3 Spark jobs") {
    val input = InputTable.generate(spark, 120L, seed = 7L).cache()
    val r = new SnapshotRunner(Files.createTempDirectory("snap-jobs").toString,
      nBuckets = 8, bucketsPerCommit = 2)
    r.prepareInput(spark, input)
    val sc = spark.sparkContext
    val group = "snapshot-job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "one commit batch")
    try assert(r.run(spark, input, maxBatches = 1) == 1)
    finally {
      sc.clearJobGroup()
      ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    // extract-and-write + the lineage aggregate's two AQE stages; no
    // schema inference, count or lineage-table write
    assert(jobs.get() > 0 && jobs.get() <= 3, s"${jobs.get()} jobs")
  }

  test("bucketized input: batch scans read ONLY their buckets' files; output identical; resume green") {
    val input = InputTable.generate(spark, 120L, seed = 7L).cache()
    val dir = Files.createTempDirectory("snap-d").toString
    val refDir = Files.createTempDirectory("snap-ref").toString

    val r = new SnapshotRunner(dir, nBuckets = 8, bucketsPerCommit = 2)
    assert(r.batchScan(spark, Seq(0, 1), input.schema).isEmpty, "no bucketized layout before prepareInput")
    r.prepareInput(spark, input)
    r.prepareInput(spark, input) // idempotent no-op (marker present)

    // partition pruning, proved at EXECUTION level: every file the batch
    // scan actually reads lives under its own buckets' partition dirs
    val scan = r.batchScan(spark, Seq(0, 1), input.schema).get
    assert(scan.queryExecution.executedPlan.toString().contains("PartitionFilters"),
      "bucket filter must prune partitions, not post-filter rows")
    val filesRead = scan.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(filesRead.nonEmpty)
    assert(filesRead.forall(f => f.contains("bucket=0/") || f.contains("bucket=1/")),
      s"scan read outside its buckets: ${filesRead.filterNot(f => f.contains("bucket=0/") || f.contains("bucket=1/")).take(3).mkString(", ")}")
    // ...and the layout does contain other buckets it did NOT read
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$dir/input_bucketed/bucket=5")))

    // interrupted bucketized run + resume; output ≡ unbucketized reference
    assert(r.run(spark, input, maxBatches = 2) == 2)
    val resumed = new SnapshotRunner(dir, nBuckets = 8, bucketsPerCommit = 2)
    assert(resumed.run(spark, input) == 2)
    val ref = new SnapshotRunner(refDir, nBuckets = 8, bucketsPerCommit = 2)
    assert(ref.run(spark, input) == 4)
    val a = ref.output(spark).select("url", "md", "cells_json", "error")
    val b = resumed.output(spark).select("url", "md", "cells_json", "error")
    assert(b.count() == 120)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("crash AFTER data write but BEFORE manifest commit is invisible and idempotent") {
    val input = InputTable.generate(spark, 120L, seed = 7L).cache()
    val dir = Files.createTempDirectory("snap-c").toString
    val r1 = new SnapshotRunner(dir, nBuckets = 8, bucketsPerCommit = 2)
    assert(r1.run(spark, input, maxBatches = 1) == 1)

    // simulate the torn state: write the NEXT batch's data by hand (what a
    // crash between parquet write and manifest rename leaves behind)
    val committed = r1.committedBuckets()
    val orphanBuckets = (0 until 8).filterNot(committed.contains).take(2)
    val bucketCol = Lineage.bucketOf(col("url"), 8)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    graft.pipeline.ExtractPipeline
      .run(input.filter(bucketCol.isin(orphanBuckets.map(Integer.valueOf): _*)))
      .withColumn("bucket", bucketCol)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/data")

    // snapshot read sees ONLY the committed buckets — orphans invisible
    val visible = r1.output(spark)
    assert(visible.select(countDistinct("bucket")).head().getLong(0) == committed.size.toLong)

    // resume after the "crash": reruns the orphan batch idempotently
    val r2 = new SnapshotRunner(dir, nBuckets = 8, bucketsPerCommit = 2)
    assert(r2.run(spark, input) == 3)
    val out = r2.output(spark)
    assert(out.count() == 120)
    assert(out.select("url").distinct().count() == 120) // no duplicate appends
  }
}
