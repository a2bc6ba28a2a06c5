package graft

/** One session factory: every src/main entry point builds its session
  * through [[graft.GraftSession]], so the oracle gate, the bench and the
  * production task all plan queries under the same settings.
  *
  * Like [[FsDisciplineSpec]], this greps the source tree at test time: a
  * new `SparkSession.builder` outside the factory fails CI.
  */
class SessionDisciplineSpec extends SparkSuite {

  import FsDisciplineSpec.{code, mainSources}

  test("SparkSession.builder appears in src/main only in GraftSession") {
    val sites = mainSources.filter(code(_).contains("SparkSession.builder"))
      .map(_.getPath.replace("src/main/scala/graft/", ""))
    assert(sites == Seq("GraftSession.scala"),
      s"sessions built outside GraftSession: ${sites.mkString(", ")}")
  }

  test("a GraftSession session carries every shared setting") {
    val core = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(core.get("spark.ui.enabled") == "false")
    assert(core.get("spark.network.timeout") == "600s")
    assert(core.get("spark.executor.heartbeatInterval") == "60s")
    val sql = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k",
      "spark.sql.autoBroadcastJoinThreshold" -> "64MB")
    sql.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }
}
