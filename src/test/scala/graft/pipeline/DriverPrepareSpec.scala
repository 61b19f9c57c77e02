package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.JobsStarted
import org.apache.spark.sql.DataFrame

/** `prepare` builds the canonical map on the driver (`canonicalOf`); the
  * distributed `canonicalMap` stays for entity tables too big to collect.
  * The two must agree entry for entry, with Spark SQL's semantics for the
  * alias-table edge cases. */
class DriverPrepareSpec extends SparkTestBase {

  private def distributed(entities: DataFrame,
      aliases: DataFrame): Map[Long, String] =
    KgPipeline.canonicalMap(spark, entities, aliases)
      .select("entity_id", "comp_canonical").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** The driver map, after asserting it equals the distributed one. */
  private def agreed(entities: DataFrame,
      aliases: DataFrame): Map[Long, String] = {
    val driver = KgPipeline.prepare(spark, entities, aliases).canon
    assert(driver == distributed(entities, aliases))
    driver
  }

  private def entities(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"E$i", "org")).toDF("entity_id", "canonical", "cls")
  }

  test("prepare over the fixture tables equals canonicalMap and starts " +
      "no Spark job") {
    val ents = FixtureSpark.entities(spark)
    val als = FixtureSpark.aliases(spark)
    val (prepared, jobs) = JobsStarted.during(spark.sparkContext)(
      KgPipeline.prepare(spark, ents, als))
    // the fixture tables are local relations: their collects run on the
    // driver, and no CC round (or any other job) may start
    assert(jobs.isEmpty, s"prepare started ${jobs.size} jobs")
    val canon = prepared.fold(throw _, _.canon)
    assert(canon == distributed(ents, als))
    // the fixture does merge entities, so the map is not the identity
    val names = FixtureSpark.entities(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(canon.keySet == names.keySet)
    assert(canon.exists { case (id, c) => names(id) != c })
  }

  test("a dangling alias entity id links entities but represents none") {
    import spark.implicits._
    // 3 and 9 share an alias; 3 is not in the entity table, 11 reaches 9
    // only through 3
    val als = Seq(("acme", 3L, 0.9), ("acme", 9L, 0.8), ("acme co", 3L, 0.9),
      ("acme co", 11L, 0.95), ("seven", 7L, 1.0))
      .toDF("alias", "entity_id", "prior")
    val m = agreed(entities(7L, 9L, 11L), als)
    assert(m == Map(7L -> "E7", 9L -> "E9", 11L -> "E9"))
  }

  test("a surface shared by three entities merges all three") {
    import spark.implicits._
    val als = Seq(("x", 12L, 0.9), ("x", 10L, 0.95), ("x", 11L, 1.0),
      ("y", 12L, 0.9), ("y", 13L, 0.9), ("z", 14L, 0.9))
      .toDF("alias", "entity_id", "prior")
    val m = agreed(entities(14L, 13L, 12L, 11L, 10L), als)
    assert(m == Map(10L -> "E10", 11L -> "E10", 12L -> "E10", 13L -> "E10",
      14L -> "E14"))
  }

  test("priors of exactly 0.8 and NaN link, 0.79999 does not; duplicate " +
      "alias rows change nothing") {
    import spark.implicits._
    val als = Seq(("a", 1L, 0.8), ("a", 2L, 0.8), ("a", 1L, 0.8),
      ("b", 3L, 0.79999), ("b", 4L, 0.9), ("b", 4L, 0.9),
      ("c", 6L, 0.85), ("c", 5L, Double.NaN))
      .toDF("alias", "entity_id", "prior")
    val m = agreed(entities(1L, 2L, 3L, 4L, 5L, 6L), als)
    assert(m == Map(1L -> "E1", 2L -> "E1", 3L -> "E3", 4L -> "E4",
      5L -> "E5", 6L -> "E5"))
  }
}
