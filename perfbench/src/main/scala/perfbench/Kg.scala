package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.core.{Fs, FixtureGen}
import graft.pipeline.{FixtureSpark, Icebergish, KgPipeline, Page}
import org.apache.spark.sql.{Encoders, SparkSession}

/** The KG-job workload. Each timed operation is one
  * `Icebergish.runResumable` call made exactly as graft.pipeline.KgMain
  * makes it (fixture entities and aliases, `prepared = None`) over
  * generated uniform pages in 256 url-hash buckets. */
object Kg {
  /** Pages per run. The seed selects the page-id range
    * [seed × Pages, (seed + 1) × Pages) passed to FixtureGen.page. */
  val Pages = 65536L
  val GenPartitions = 16
  val Buckets: Int = Icebergish.DefaultBuckets
  /** Pages in the single-thread graft.core pass of a traced run. */
  val CoreSample = 2048

  /** The ingest step of graft.pipeline.PagesIngest over this seed's ids. */
  def writePages(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val lo = seed * Pages
    val pages = spark.range(lo, lo + Pages, 1L, GenPartitions).mapPartitions {
      it => it.map { id =>
        val p = FixtureGen.page(id)
        Page(p.url, new Timestamp(p.warcTsMicros / 1000L), p.html, null,
          p.lang)
      }
    }
    Icebergish.write(Icebergish.withBucket(pages.toDF(), Buckets), dir)
  }

  /** (files, bytes) of the parquet data files under `dir`. */
  def parquetFiles(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.iterator().asScala.filter(p =>
          p.getFileName.toString.endsWith(".parquet")).toVector
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
  }

  def run(a: Args, rec: Record): Unit = {
    val pagesDir = s"${a.tmp}/pages"
    rec.info("inputs") = s"$Pages generated uniform pages, ids " +
      s"[${a.seed * Pages}, ${(a.seed + 1) * Pages}), $Buckets url-hash buckets"

    // set-up: the cold session start, page generation and the reference
    // call below, once each
    val (spark, startS) = Main.time(Main.session(a.workload, a.tmp))
    val (_, genS) = Main.time(writePages(spark, a.seed, pagesDir))
    val entities = FixtureSpark.entities(spark)
    val aliases = FixtureSpark.aliases(spark)
    // the pages every call processes, as runResumable reads them (its
    // resume filter finds no manifest in a fresh output directory)
    val pages = Icebergish.read(spark, pagesDir)
      .select("url", "warc_ts", "html", "text", "lang")
      .as(Encoders.product[Page])

    val refDir = s"${a.tmp}/reference"
    var ref: (Long, BigDecimal) = (0L, BigDecimal(0))
    val layers = Seq.newBuilder[Map[String, Double]]
    def outDigest(dir: String) = Main.digest(spark.read.parquet(s"$dir/triples"))
    def manifestOk(dir: String): Boolean = {
      val m = spark.read.parquet(Icebergish.manifestDir(dir))
      val rows = m.count()
      val buckets = m.select("bucket").distinct().count()
      rec.check(s"$dir manifest", rows == Buckets && buckets == Buckets,
        s"$rows manifest rows over $buckets buckets, expected one row " +
          s"for each of $Buckets buckets")
    }

    /** One measured call on a fresh output directory. Returns its wall time
      * in seconds. */
    def timedCall(i: Int, traced: Option[Tracer]): Option[Double] = {
      val out = s"${a.tmp}/out$i"
      var wall: Option[Double] = None
      rec.attempt(s"call $i") {
        val call = () => Icebergish.runResumable(spark, pagesDir, out,
          entities, aliases, s"bench-$i")
        val n = traced match {
          case None =>
            val (n, w) = Main.time(call())
            wall = Some(w)
            n
          case Some(t) => tracedCall(t, out, call, w => wall = Some(w))
        }
        val got = outDigest(out)
        rec.check(s"call $i pages", n == Pages,
          s"processed $n pages, generated $Pages") &&
          rec.check(s"call $i triples", got == ref,
            s"output (rows, hash) $got differs from the reference $ref") &&
          manifestOk(out)
      }
      Fs.deleteRecursively(new java.io.File(out))
      wall
    }

    /** The traced form of a call: prepare and the narrow stage are first
      * timed on their own, then the call itself runs under the listener. */
    def tracedCall(t: Tracer, out: String, call: () => Long,
        setWall: Double => Unit): Long = {
      val (prepared, prep) = t.op("prepare")(KgPipeline.prepare(spark,
        entities, aliases))
      val (_, narrow) = t.op("narrow")(KgPipeline.run(spark, pages, prepared)
        .write.mode("overwrite").format("noop").save())
      val (n, op) = t.op("runResumable")(call())
      setWall(op.wallS)
      val (files, bytes) = parquetFiles(s"$out/triples")
      val rows = spark.read.parquet(s"$out/triples").count()
      layers += (Tracer.engineMetrics(Seq(op), Main.Cores) ++ Map(
        "pipeline.prepare_s" -> prep.wallS,
        "pipeline.prepare_jobs" -> prep.jobs.toDouble,
        "pipeline.narrow_s" -> narrow.wallS,
        "pipeline.commit_s" -> (op.wallS - prep.wallS - narrow.wallS),
        "pipeline.pages" -> n.toDouble,
        "pipeline.output_files" -> files.toDouble,
        "pipeline.bytes_per_triple" ->
          (if (rows > 0) bytes.toDouble / rows else 0.0),
        "pipeline.manifest_rows" ->
          spark.read.parquet(Icebergish.manifestDir(out)).count().toDouble,
        // the traced call's wall, for trace_overhead_ratio; not printed
        "wall_s" -> op.wallS))
      n
    }

    // warm-up: the reference call, whose output every later call must
    // reproduce
    val (_, warmS) = Main.time {
      rec.attempt("reference call") {
        val n = Icebergish.runResumable(spark, pagesDir, refDir, entities,
          aliases, "reference")
        ref = outDigest(refDir)
        rec.check("reference call", n == Pages,
          s"processed $n pages, generated $Pages") && manifestOk(refDir)
      }
    }
    rec.metrics("setup_s") = startS + genS + warmS
    rec.info("session_start_s") = f"$startS%.3f"
    rec.info("generate_s") = f"$genS%.3f"
    rec.info("warmup_s") = f"$warmS%.3f"
    rec.info("triples") = ref._1.toString
    rec.info("triples_hash") = ref._2.toString

    val untraced = Seq.newBuilder[Double]
    // a traced run alternates untraced and traced calls, so the overhead
    // ratio compares calls made under the same conditions
    val units = Main.loop(a.seconds, if (a.trace) 2 else 1) { i =>
      if (a.trace && i % 2 == 1) {
        val t = new Tracer(spark)
        try timedCall(i, Some(t)) finally t.close()
      } else untraced ++= timedCall(i, None)
    }
    rec.info("measured_units") = units.toString
    val wall = Main.median(untraced.result())
    rec.metrics("ops_wall_s") = wall
    rec.metrics("kg_pages_per_s") = Pages / wall

    val traced = Main.medians(layers.result())
    if (traced.nonEmpty) {
      rec.metrics ++= traced - "wall_s"
      rec.metrics("trace_overhead_ratio") = traced("wall_s") / wall
      rec.metrics ++= CoreTrace.run(
        (0 until CoreSample).map(i => FixtureGen.page(a.seed * Pages + i).html),
        rec)
    }
  }
}
