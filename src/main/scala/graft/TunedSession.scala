package graft

import org.apache.spark.sql.SparkSession

/** The session the driver mains (Verify, Bench, the decade benches,
  * PlanPeek) run in: the GraftConfig layered builder (master/partitions/
  * UTC/nanos/UI) plus three profiled single-JVM host confs — small page
  * size, non-blocking ref cleaner, tmpfs scratch. One copy, so a fix
  * reaches every main. Kept out of `GraftConfig.sessionBuilder`, which
  * streaming jobs and perfbench build from unchanged. */
object TunedSession {

  def apply(appName: String, cfg: GraftConfig = GraftConfig.load(Array.empty,
      defaults = GraftConfig.Default.copy(parallelism = 32))): SparkSession = {
    val s = cfg.sessionBuilder(appName)
      // local[32] single-JVM: default page size scales with heap and makes
      // every sort/agg task zero out ~64MB pages — GC storms that tax
      // random later queries (profiled). Rows here are small; 2m is ample.
      .config("spark.buffer.pageSize", "2m")
      // async ref cleanup: the cleaner's blocking removeBroadcast/removeRDD
      // RPCs serialize through the BlockManagerMaster endpoint and stall
      // task-side block ops for seconds after GC bursts
      .config("spark.cleaner.referenceTracking.blocking", "false")
      // shuffle/broadcast scratch on tmpfs: a VM disk with multi-second
      // write-burst stalls surfaces them as random query spikes
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/spark-graft"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
