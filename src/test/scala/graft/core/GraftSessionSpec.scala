package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The product session's settings: the checkpoint file manager is always
  * registered, and parallelism follows `SPARK_GRAFT_CPUS`, else the host.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("the builder registers the local checkpoint file manager") {
    val (key, cls) = GraftSession.CheckpointFileManagerConf
    assert(key == "spark.sql.streaming.checkpointFileManagerClass")
    assert(cls == classOf[LocalCheckpointFileManager].getName)
    assert(GraftSession.settings(sys.env.get("SPARK_GRAFT_CPUS")).get(key).contains(cls))
  }

  test("master and shuffle partitions follow SPARK_GRAFT_CPUS, else the processor count") {
    val cores = Runtime.getRuntime.availableProcessors
    val unset = GraftSession.settings(cpus = None)
    assert(unset("spark.master") == s"local[$cores]")
    assert(unset("spark.sql.shuffle.partitions") == cores.toString)

    val set = GraftSession.settings(cpus = Some("3"))
    assert(set("spark.master") == "local[3]")
    assert(set("spark.sql.shuffle.partitions") == "3")

    // explicit arguments win over both
    val explicit = GraftSession.settings(Some("3"), master = Some("local[1]"), shufflePartitions = Some(7))
    assert(explicit("spark.master") == "local[1]")
    assert(explicit("spark.sql.shuffle.partitions") == "7")
  }
}
