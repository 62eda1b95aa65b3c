package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

object Common {

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secs(t0))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** A local[threads] session with the program's own defaults
    * (`ExtractPipeline.newSession`), whose warehouse and scratch space are
    * kept under `work`: the first builder fixes the static settings, the
    * program's builder then finds that session and applies its runtime
    * settings on top. */
  def session(threads: Int, work: Path): SparkSession = {
    SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.warehouse.dir", work.resolve(s"warehouse-$threads").toAbsolutePath.toString)
      .config("spark.local.dir", work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    val spark = graft.pipeline.ExtractPipeline.newSession(s"local[$threads]", threads * 2)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def noop(df: org.apache.spark.sql.Dataset[_]): Unit = df.write.format("noop").mode("overwrite").save()

  /** Steady-state timing of a closed-loop job: `warm` warm-up passes,
    * then timed passes until `budgetS` seconds are spent, at least
    * `minTimed` of them. Each pass starts from a collected heap so one
    * pass's garbage does not slow the next. */
  final case class Passes(warm: Vector[Double], timed: Vector[Double]) {
    def wall: Double = median(timed)
  }

  def measure(budgetS: Double, warm: Int = 3, minTimed: Int = 3,
      onTimedStart: () => Unit = () => ())(pass: Int => Unit): Passes = {
    var k = 0
    def one(): Double = {
      System.gc()
      val t0 = System.nanoTime()
      pass(k)
      k += 1
      secs(t0)
    }
    val warmWalls = Vector.fill(warm)(one())
    onTimedStart()
    val timed = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (timed.length < minTimed || secs(t0) + median(timed.toSeq) <= budgetS) timed += one()
    Passes(warmWalls, timed.toVector)
  }

  /** Samples used heap while running; `peakMb` is the largest sample. */
  final class HeapSampler extends Thread("heap-sampler") {
    setDaemon(true)
    @volatile private var running = true
    @volatile private var peak = 0L
    private val mem = ManagementFactory.getMemoryMXBean
    override def run(): Unit =
      while (running) {
        peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
        Thread.sleep(2)
      }
    def stopAndPeakMb(): Double = { running = false; join(); peak / 1048576.0 }
  }

  /** Wall of one `parseDoc` sweep over `docs` on `threads` pure threads. */
  def parseSweep(docs: Array[graft.core.PageDoc], threads: Int): Double = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => {
      var i = next.getAndIncrement()
      while (i < docs.length) {
        graft.kernel.ExtractKernel.parseDoc(docs(i), graft.core.PromptMode.LayoutAll)
        i = next.getAndIncrement()
      }
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    secs(t0)
  }

  /** Allocated bytes of the calling thread (HotSpot). */
  def threadAllocated(): Long =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
      .getThreadAllocatedBytes(Thread.currentThread().getId)

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum

  /** key → xxhash64 over every other column, as a sorted tab-separated
    * listing. Two runs agree on a key exactly when its row is identical. */
  def writeHashes(df: DataFrame, key: String, path: Path): Unit = {
    val others = df.columns.filter(_ != key).map(col)
    writeLines(path, df.select(col(key).cast("string"), xxhash64(others: _*)).collect()
      .map(r => s"${r.getString(0)}\t${r.getLong(1)}"))
  }

  def writeLines(path: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, lines.sorted.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Minimal JSON writer for the worker's result file. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def parseArgs(args: Array[String]): Map[String, String] =
    args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap

  def path(s: String): Path = Paths.get(s).toAbsolutePath
}
