package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with scale-aware defaults.
  *
  * Runs `local[n]` with `n` = `SPARK_GRAFT_CPUS`, else the host's processor
  * count; the same settings are what we would ship on a 1000-executor
  * cluster: AQE on (runtime re-planning, skew-join splitting, partition
  * coalescing), shuffle partitions sized to the environment instead of the
  * 200 default, UTC session time for deterministic date semantics, and
  * streaming checkpoints on local paths written without forking a process
  * ([[LocalCheckpointFileManager]]).
  */
object GraftSession {

  /** Registers [[LocalCheckpointFileManager]] for every streaming checkpoint
    * file. Only `file:` paths change behaviour; the tests' session uses the
    * same setting.
    */
  val CheckpointFileManagerConf: (String, String) =
    LocalCheckpointFileManager.ConfKey -> classOf[LocalCheckpointFileManager].getName

  def builder(master: Option[String] = None, shufflePartitions: Option[Int] = None): SparkSession.Builder =
    SparkSession.builder().config(settings(sys.env.get("SPARK_GRAFT_CPUS"), master, shufflePartitions))

  /** The builder's settings, with `SPARK_GRAFT_CPUS` passed in as `cpus`. */
  private[core] def settings(
      cpus: Option[String],
      master: Option[String] = None,
      shufflePartitions: Option[Int] = None): Map[String, String] = {
    val n = cpus.getOrElse(Runtime.getRuntime.availableProcessors.toString)
    Map(
      "spark.master" -> master.getOrElse(s"local[$n]"),
      "spark.app.name" -> "graft",
      "spark.sql.shuffle.partitions" -> shufflePartitions.map(_.toString).getOrElse(n),
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.shuffle.spill.compress" -> "true",
      // runtime bloom-filter semi-join pruning: a selective filter on the
      // dim side of a shuffle join builds a bloom filter that prunes the
      // fact-side SCAN before the shuffle — at 100 TB this turns "shuffle
      // everything, drop 99% at the join" into "drop 99% at the reader".
      // (Spark only injects it past size thresholds, so small local runs
      // keep their plans; PlanShapeSpec pins the injection behavior.)
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      CheckpointFileManagerConf)
  }

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
