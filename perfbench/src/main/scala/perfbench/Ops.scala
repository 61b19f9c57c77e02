package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.DataFrame

/** The operator workloads: named `SparkEntry.queries` leaves over the fixed
  * testdata copy in perfbench/data, each timed through a noop sink as
  * graft.Bench does, one query at a time. */
object Ops {
  /** Driver-loop operators: many small Spark jobs per query. */
  val Loops: Seq[String] = Seq("q63", "q88", "q109", "q110", "q111", "q113",
    "q114", "q115", "q118")
  /** Single-pass corpus and relational operators. */
  val Scan: Seq[String] = Seq("q02", "q05", "q42", "q44", "q45", "q59",
    "q91", "q99", "q100", "q102", "q103", "q104", "q106", "q107")
  /** The tables the two lists read; set-up touches each once. */
  val Tables: Seq[String] = Seq("customer", "documents", "lineitem", "orders")
  /** Untraced passes a run measures at least; `ops_wall_s` is their median.
    * An `ops_loops` pass is long and steady enough alone; a shorter
    * `ops_scan` pass is repeated so its median absorbs pass-to-pass noise. */
  val MeasuredPasses: Map[String, Int] = Map("ops_loops" -> 1, "ops_scan" -> 3)

  /** (short id, SparkEntry name) in graft.Bench's sorted-name order. */
  def queries(ids: Seq[String]): Seq[(String, String)] = {
    val names = SparkEntry.queries.keys.toSeq
    ids.map { id =>
      names.filter(_.startsWith(id + "_")) match {
        case Seq(n) => id -> n
        case other => throw new IllegalStateException(
          s"query id $id matches ${other.size} SparkEntry names")
      }
    }.sortBy(_._2)
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** name → (rows, hash), one `name<TAB>rows<TAB>hash` line each. */
  def readPins(file: String): Map[String, (Long, BigDecimal)] =
    Files.readAllLines(Paths.get(file), StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, hash) = l.split('\t')
        n -> (rows.toLong, BigDecimal(hash))
      }.toMap

  /** Pins every listed query's row count and hash from a graft.Verify
    * output directory (one parquet result directory per query). */
  def pin(verifyOut: String, pinsFile: String, tmp: String): Unit = {
    val spark = Main.session("pin", tmp)
    try {
      val lines = queries(Loops ++ Scan).map { case (_, n) =>
        val (rows, hash) = Main.digest(spark.read.parquet(s"$verifyOut/$n"))
        s"$n\t$rows\t$hash"
      }
      Files.write(Paths.get(pinsFile), (lines.mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8))
    } finally Main.stop(spark)
  }

  def run(a: Args, rec: Record): Unit = {
    val qs = queries(if (a.workload == "ops_loops") Loops else Scan)
    val pins = readPins(a.pinsFile)
    rec.info("inputs") = "fixed testdata copy (perfbench/data/sf0.01); " +
      "the seed does not change it"
    rec.info("queries") = qs.map(_._2).mkString(" ")

    // set-up: the cold session start plus a first read of every input
    // table, then one pass, in the measured order and one query at a time,
    // that checks every query's output against its pin
    val (spark, startS) = Main.time {
      val s = Main.session(a.workload, a.tmp)
      Tables.foreach(t => s.read.parquet(s"${a.dataDir}/$t.parquet").count())
      s
    }
    val (_, warmS) = Main.time(qs.foreach { case (_, n) =>
      rec.attempt(s"$n output") {
        val (rows, hash) = Main.digest(SparkEntry.queries(n)(spark, a.dataDir))
        val (pRows, pHash) = pins(n)
        rec.check(n, rows == pRows && hash == pHash,
          s"rows=$rows hash=$hash, pinned rows=$pRows hash=$pHash")
      }
    })
    rec.metrics("setup_s") = startS + warmS
    rec.info("session_start_s") = f"$startS%.3f"
    rec.info("warmup_s") = f"$warmS%.3f"

    val untraced = Seq.newBuilder[Map[String, Double]]
    val traced = Seq.newBuilder[Map[String, Double]]
    def untracedPass(): Unit = untraced += qs.flatMap { case (id, n) =>
      var wall: Option[Double] = None
      rec.attempt(n) {
        wall = Some(Main.time(noop(SparkEntry.queries(n)(spark, a.dataDir)))._2)
        true
      }
      wall.map(id -> _)
    }.toMap
    def tracedPass(): Unit = {
      val tracer = new Tracer(spark)
      val ops = try qs.flatMap { case (id, n) =>
        var op: Option[OpTrace] = None
        rec.attempt(n) {
          op = Some(tracer.op(id)(
            noop(SparkEntry.queries(n)(spark, a.dataDir)))._2)
          true
        }
        op
      } finally tracer.close()
      traced += (Tracer.engineMetrics(ops, Main.Cores) ++ ops.flatMap { o =>
        Seq(s"q.${o.name}.wall_s" -> o.wallS,
          s"q.${o.name}.jobs" -> o.jobs.toDouble,
          s"q.${o.name}.driver_only_s" -> o.driverOnlyS)
      } + ("ops_wall_s" -> ops.map(_.wallS).sum))
    }
    // a traced run alternates untraced and traced passes, so the overhead
    // ratio compares passes made under the same conditions
    val units = Main.loop(a.seconds,
        if (a.trace) 2 else MeasuredPasses(a.workload)) { i =>
      if (a.trace && i % 2 == 1) tracedPass() else untracedPass()
    }

    rec.info("measured_units") = units.toString
    val passes = untraced.result()
    val wall = Main.median(passes.map(_.values.sum))
    rec.metrics("ops_wall_s") = wall
    rec.info("pass_wall_s") =
      passes.map(p => f"${p.values.sum}%.3f").mkString(" ")
    // untraced per-query walls (medians over the passes), for diagnosis
    rec.info("query_wall_s") = Main.medians(passes).toSeq.sortBy(_._1)
      .map { case (id, w) => f"$id=$w%.3f" }.mkString(" ")
    val layers = Main.medians(traced.result())
    if (layers.nonEmpty) {
      rec.metrics ++= layers - "ops_wall_s"
      rec.metrics("trace_overhead_ratio") = layers("ops_wall_s") / wall
    }
  }
}
