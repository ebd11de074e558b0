package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (lazy, created on first use). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftfs.impl", classOf[GraftFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.Er.register(s)
    s
  }
}
