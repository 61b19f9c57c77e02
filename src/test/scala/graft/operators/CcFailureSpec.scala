package graft.operators

import graft.SparkTestBase
import org.apache.spark.JobsStarted

/** A CC fixpoint whose round throws must free every block it made: the
  * input and edge caches, the round's own caches, the store's staged
  * checkpoint and the previous round's checkpoint. */
class CcFailureSpec extends SparkTestBase {

  test("a cancelled CC round leaves no persisted RDD behind") {
    import spark.implicits._
    val sc = spark.sparkContext
    // a 30-node chain: several rounds after the init round
    val edges = (1L until 30L).map(i => (i, i + 1)).toDF("src", "dst")

    // a clean run, to learn the SQL executions' order: the edge count,
    // the init round's checkpoint, then the rounds
    val (clean, cleanJobs) = JobsStarted.during(sc) {
      val h = ConnectedComponents.runManaged(spark, edges)
      try h.rounds finally h.close()
    }
    val executions = cleanJobs.flatMap(JobsStarted.executionId).distinct
    assert(clean.fold(throw _, identity) >= 2 && executions.size >= 4,
      s"${clean} rounds over executions $executions")

    // cancel every job from the first round after init on
    val before = sc.getPersistentRDDs.keySet
    val seen = collection.mutable.LinkedHashSet.empty[String]
    val (failed, jobs) = JobsStarted.during(sc, onStart = j =>
      seen.synchronized {
        JobsStarted.executionId(j).foreach(seen += _)
        if (seen.size > 2) sc.cancelJob(j.jobId)
      })(ConnectedComponents.runManaged(spark, edges))
    assert(failed.isLeft, "the fixpoint survived the cancelled round")
    assert(jobs.flatMap(JobsStarted.executionId).distinct.size > 2)
    val left = sc.getPersistentRDDs.keySet.diff(before)
    assert(left.isEmpty, s"RDDs still persisted: ${left.toSeq.sorted}")
  }
}
