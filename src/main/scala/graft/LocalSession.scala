package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** The driver-tool SparkSession — ONE definition of the local-mode
  * settings (`local[cpus]`, matching shuffle partitions, AQE, UTC,
  * UI off, the local file system below) shared by `Bench`, `Verify`,
  * `RunOne`, the scale probes and perfbench, so the tools can't
  * silently drift onto different configurations. The test session
  * takes [[fileSystemConf]] from here too. `SPARK_GRAFT_CPUS`
  * overrides the parallelism. */
object LocalSession {
  /** Routes `file://` through [[graft.sources.NioLocalFileSystem]]
    * (FileSystem API) and [[graft.sources.NioLocalFs]] (FileContext,
    * which the streaming checkpoint manager uses). Without libhadoop
    * the stock local file system starts a `chmod` process for every
    * file and directory it creates and a `readlink` process per link
    * lookup; these set the same modes and `.crc` files through NIO.
    * Hadoop caches one FileSystem per scheme, authority and user, not
    * per class: a stock instance something in the JVM resolved before
    * the session existed would still be the one served. */
  val fileSystemConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[NioLocalFs].getName)

  def apply(defaultCpus: String = "32"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(fileSystemConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
