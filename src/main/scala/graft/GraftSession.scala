package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built. Every entry point and the
  * test base share this config; only the core count, the shuffle partition
  * count and (for [[graft.app.MatchCli]]) the master address differ.
  *
  *  - `local[cores]`, shuffle partitions = cores unless overridden;
  *  - `spark.shuffle.sort.bypassMergeThreshold=0`: the SORT-based shuffle
  *    writer for ALL shuffles (r20, guide §2.2 "many small files"). With
  *    reduce counts at/below the 200-partition bypass threshold, Spark's
  *    BypassMergeSortShuffleWriter opens one TEMP FILE PER (map task x
  *    reduce partition) and then merges — on this suite's many small
  *    exchanges that is thousands of ext4 create/write/delete rounds per
  *    query, and thread-dump sampling showed 60-87% of RUNNABLE executor
  *    samples inside file syscalls (open0/unmap0/getBooleanAttributes0).
  *    The sort writer emits ONE data+index file per map task regardless of
  *    reduce count: measured r20, mm_image_neardup 6.4 -> 2.6 CPU-s,
  *    mm_media_dedup ~20 -> 11.2, kernel-bound queries unchanged. NOT
  *    scale-dependent tuning: with production reduce counts (>200) the
  *    bypass writer never engages, so this is a no-op on a real cluster
  *    and strictly removes a small-R pathology everywhere else;
  *  - session time zone UTC, UI off, log level WARN.
  */
object GraftSession {

  /** A session with exactly `cores` local task threads and `shuffle`
    * shuffle partitions; `master` replaces `local[cores]` when given. */
  def apply(cores: Int, shuffle: Int, master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cores from `SPARK_GRAFT_CPUS`, else `defaultCores`; shuffle partitions
    * from `SPARK_GRAFT_SHUFFLE`, else `defaultShuffle`, else the cores. */
  def fromEnv(defaultCores: Int, defaultShuffle: Option[Int] = None,
              master: Option[String] = None): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCores)(_.trim.toInt)
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE")
      .fold(defaultShuffle.getOrElse(cores))(_.trim.toInt)
    apply(cores, shuffle, master)
  }
}
