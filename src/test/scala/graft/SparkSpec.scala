package graft

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One shared local session for all suites (sbt runs suites in one JVM;
  * SparkSession.builder.getOrCreate reuses it). Streaming checkpoints go
  * through the product's checkpoint file manager, so every streaming spec
  * exercises it.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"/tmp/graft-test-warehouse-${java.util.UUID.randomUUID()}")
      .config("spark.ui.enabled", "false")
      .config(Map(GraftSession.CheckpointFileManagerConf))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
