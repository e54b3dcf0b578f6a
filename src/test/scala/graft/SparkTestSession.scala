package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole ScalaTest run (the reference uses
  * a session-scoped pytest fixture, `/root/reference/test/conftest.py:7-11`). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(LocalSession.fileSystemConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** JSON string → DataFrame with inferred schema; like the reference's
    * `to_df` (`conftest.py:14-19`), root/struct fields come out
    * alphabetically sorted by JSON inference. */
  def jsonDf(json: String): DataFrame = {
    val s = spark
    import s.implicits._
    s.read.json(s.createDataset(Seq(json)))
  }
}
