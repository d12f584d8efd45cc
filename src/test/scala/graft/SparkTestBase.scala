package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession(cores = 4, shuffle = 4)
    graft.functions.registerAll(s)
    s
  }
  /** The reference workload's inputs (employee.csv, usernames.csv), rebuilt
    * from fixtures/match_golden.csv by tools/gen_reference_inputs.py. */
  val ReferenceDir: String =
    new java.io.File(getClass.getResource("/reference").toURI).getPath
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
  val Sf01 = "/root/testdata/sf0.1"

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with streaming state on the RocksDB provider — the
    * off-heap store a 100 TB deployment runs (heap-backed HDFS state is
    * the executor-OOM path at high key cardinality). The provider is
    * captured per streaming-query START, so queries launched inside
    * `body` use RocksDB and everything else keeps the default. */
  def withRocksDbState[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, RocksDbProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
