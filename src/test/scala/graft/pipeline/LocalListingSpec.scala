package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.JobsStarted
import org.apache.spark.sql.AnalysisException

/** Icebergish lists a table on the local file system on the driver: a
  * read of a bucketed table starts no listing job, and the session's
  * discovery threshold is the caller's again once the read returns. */
class LocalListingSpec extends SparkTestBase {

  private val Key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
  private val Buckets = 40 // past Spark's default threshold of 32 dirs

  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("listing").toString
    val rows = (0 until 400).map(i => (s"https://h.example/$i", i.toLong))
      .toDF("url", "n")
    Icebergish.write(Icebergish.withBucket(rows, Buckets), s"$d/t")
    s"$d/t"
  }

  private def listingJobs(read: => Unit): Int =
    JobsStarted.during(spark.sparkContext)(read)._2
      .count(j => JobsStarted.description(j)
        .startsWith("Listing leaf files and directories"))

  private def threshold: Option[String] = spark.conf.getAll.get(Key)

  test("the listing mode follows the file system's scheme") {
    assert(Icebergish.listsOnDriver("file"))
    // the scheme of a remote path, taken without opening its file system
    val remote = new org.apache.hadoop.fs.Path("s3a://bucket/pages").toUri
    assert(!Icebergish.listsOnDriver(remote.getScheme))
    assert(!Icebergish.listsOnDriver("hdfs"))
  }

  test("a local bucketed table is read without a listing job") {
    spark.conf.unset(Key)
    val dirs = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("bucket="))
    assert(dirs == Buckets)
    // control: a plain read of the same table does start one
    assert(listingJobs(spark.read.parquet(dir)) >= 1)
    assert(listingJobs(Icebergish.read(spark, dir)) == 0)
    assert(Icebergish.read(spark, dir).count() == 400L)
    assert(threshold.isEmpty, s"threshold left set: $threshold")
  }

  test("the caller's threshold is restored after a read, and after a " +
      "read that throws") {
    try {
      spark.conf.set(Key, "17")
      assert(listingJobs(Icebergish.read(spark, dir)) == 0)
      assert(threshold.contains("17"))
      intercept[AnalysisException](Icebergish.read(spark, s"$dir-missing"))
      assert(threshold.contains("17"))
      spark.conf.unset(Key)
      intercept[AnalysisException](Icebergish.read(spark, s"$dir-missing"))
      assert(threshold.isEmpty, s"threshold left set: $threshold")
    } finally spark.conf.unset(Key)
  }
}
