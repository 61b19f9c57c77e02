package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one run was asked to do. `dataDir` holds the fixed operator inputs,
  * `tmp` is the run's scratch directory (run.py removes it on every exit
  * path) and `record` is where the run's JSON record goes. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, dataDir: String, pinsFile: String, tmp: String,
    record: String)

/** Everything a run measured and checked. `metrics` carries end-to-end and
  * per-layer values by their BENCHMARK.json names; `info` carries the
  * facts that identify the inputs. */
final class Record {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** Counts one operation; a thrown exception or a false check fails it. */
  def attempt(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val before = problems.size
    val ok = try body catch {
      case e: Throwable =>
        problems += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
    }
    if (!ok) {
      failed += 1
      if (problems.size == before) problems += s"$what failed its output check"
    }
  }

  def check(what: String, ok: Boolean, detail: => String): Boolean = {
    if (!ok) problems += s"$what: $detail"
    ok
  }

  def toJson: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else d.toString
    val m = metrics.map { case (k, v) => s"${q(k)}:${num(v)}" }
    val i = info.map { case (k, v) => s"${q(k)}:${q(v)}" }
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${m.mkString(",")}},"info":{${i.mkString(",")}},""" +
      s""""problems":[${problems.map(q).mkString(",")}]}"""
  }
}

object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors

  /** One local[nproc] session, configured like graft.Bench, with every
    * file Spark writes kept under the run's scratch directory. */
  def session(name: String, tmp: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-key median over the units of work that report the key. */
  def medians(units: Seq[Map[String, Double]]): Map[String, Double] =
    units.flatMap(_.keys).distinct
      .map(k => k -> median(units.flatMap(_.get(k)))).toMap

  /** Collects garbage and waits (at most `maxMs`) until the JIT compiler
    * has been idle for a moment, so neither a heap filled by set-up nor
    * background compilation is charged to the next measured unit. */
  def quiesce(maxMs: Long = 3000): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    var now = jit.getTotalCompilationTime
    while (now != last && System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
      last = now
      now = jit.getTotalCompilationTime
    }
  }

  /** Runs units of work for about `seconds`, each after `quiesce`: the
    * next unit starts only while the last unit's duration says it ends
    * inside the window, and at least `min` units run. Returns the number
    * of units run. */
  def loop(seconds: Int, min: Int)(unit: Int => Unit): Int = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    var last = 0L
    while (i < min || System.nanoTime() + last <= deadline) {
      quiesce()
      val t0 = System.nanoTime()
      unit(i)
      last = System.nanoTime() - t0
      i += 1
    }
    i
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Row count and an order-independent content hash: the exact sum of
    * the per-row xxhash64 over every column. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0),
      Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def parse(argv: Seq[String]): Map[String, String] =
    argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap

  def main(argv: Array[String]): Unit = argv.headOption match {
    case Some("run") =>
      val o = parse(argv.toSeq.tail)
      val a = Args(o("workload"), o("seed").toLong, o("seconds").toInt,
        o("trace") == "1", o("data"), o("pins"), o("tmp"), o("record"))
      val rec = new Record
      rec.info ++= Seq("workload" -> a.workload, "seed" -> a.seed.toString,
        "cores" -> Cores.toString,
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "jvm_max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)
      a.workload match {
        case "kg_bulk" => Kg.run(a, rec)
        case "ops_loops" | "ops_scan" => Ops.run(a, rec)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      SparkSession.getDefaultSession.foreach(stop)
      rec.metrics("peak_rss_mb") = peakRssMb()
      rec.metrics("fail_ratio") = rec.failed.toDouble / rec.attempted
      Files.write(Paths.get(a.record),
        rec.toJson.getBytes(StandardCharsets.UTF_8))
    case Some("pin") if argv.length == 4 =>
      Ops.pin(argv(1), argv(2), argv(3))
    case _ =>
      throw new IllegalArgumentException(
        "usage: run --workload W --seed N --seconds S --trace 0|1 " +
          "--data DIR --pins FILE --tmp DIR --record FILE | " +
          "pin <verifyOutDir> <pinsFile> <tmpDir>")
  }
}
