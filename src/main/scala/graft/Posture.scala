package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built: [[base]] plus the caller's
  * entries. The lazy per-session setup stays with the engine
  * ([[Tables.configure]] on the first fixture read, `Sinks.sinkTo` on
  * the first sink), so a session built elsewhere still works. */
object Posture {
  /** The confs every session starts with. */
  val base: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // tz-naive fixture timestamps read as LTZ (UTC session), matching
    // the DuckDB oracle's epoch values
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse",
    "spark.ui.enabled" -> "false",
    "spark.checkpoint.compress" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")

  /** Bench's entries on top of [[base]]. Shuffles START wide and AQE
    * coalesces them down to the advisory target: with shuffle.partitions
    * pinned to the core count, a 100×-scale input hands each task a
    * partition too big for its 1/32 share of execution memory (the sf10
    * ladder OOM'd the triangle agg exactly this way); 256 initial
    * partitions give AQE room in both directions — small stages coalesce
    * to the same few tasks as before, big stages keep per-task state
    * inside its memory share. This is the multi-executor posture: a real
    * cluster never runs one-partition-per-core shuffles. */
  def bench(cpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256")

  /** The RocksDB state store (the at-scale provider), and `Sinks.sinkTo`'s
    * defaults set up front, so every query's offset, commit and state
    * files go through `graft.io`, not just a sink's. */
  val stream: Seq[(String, String)] =
    ("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") +:
      graft.stream.Sinks.sessionDefaults

  /** Executors of a `local-cluster` master are separate JVMs on this
    * host: give them the compiled classes (`GRAFT_CLASSES`, by default
    * the directory this class was loaded from) and the module opens Spark 4's
    * launcher doesn't add itself. Run with SPARK_HOME and
    * SPARK_SCALA_VERSION=2.13 set: the worker's launcher reads both to
    * build the executor command ("Cannot find any build directories"
    * without the second). */
  def localCluster: Seq[(String, String)] = Seq(
    "spark.executor.extraClassPath" ->
      sys.env.getOrElse("GRAFT_CLASSES",
        new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getPath),
    "spark.executor.extraJavaOptions" ->
      Seq("java.nio", "sun.nio.ch", "java.util", "java.lang", "java.lang.invoke")
        .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED").mkString(" "))

  /** ClusterProof's entries on top of [[base]]. */
  def cluster(shufflePartitions: Int): Seq[(String, String)] = Seq(
    // heavy/full modes run sf1-sized inputs: 8 reduce partitions hands
    // a 4 GiB executor ~5M-row hash-agg states (BytesToBytesMap OOM,
    // observed round 10 once AQE-coalesced artifacts narrowed the map
    // side too); the protocol sizes shuffles to the data like the
    // engine's own loops do
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    // local-cluster's memoryPerWorker only sizes the WORKER's offer —
    // executor heaps come from spark.executor.memory (default 1g,
    // silently starving the heavy rungs); GRAFT_EXECUTOR_MEM pins it
    "spark.executor.memory" -> sys.env.getOrElse("GRAFT_EXECUTOR_MEM", "2048m"),
    // executor-loss resilience, the posture a real cluster runs with:
    // a SIGKILLed executor can linger through its shutdown long enough
    // to reject several rescheduled task attempts
    // (RejectedExecutionException), and the default 4 maxFailures all
    // land on the dying JVM before it leaves the pool — observed at
    // the sf10 kill rung. Exclusion pulls the sick executor out of
    // scheduling after 2 failed attempts; the raised budget absorbs
    // the window in between.
    "spark.task.maxFailures" -> "8",
    "spark.excludeOnFailure.enabled" -> "true",
    "spark.excludeOnFailure.task.maxTaskAttemptsPerExecutor" -> "2",
    "spark.excludeOnFailure.stage.maxFailedTasksPerExecutor" -> "2",
    // Bench's wide initial shuffles (see [[bench]]): without them
    // q_graph_triangles' sf10 hash-agg states overflow the 32-way width
    // this proof otherwise pins
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256",
    // the sf100 rung protocol's storage/execution split: heavy keys'
    // hash-agg states need the execution share; block-cached frames
    // spill to executor-local disk instead of squeezing it
    "spark.memory.storageFraction" -> "0.2",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions") ++ stream ++ localCluster

  /** `SPARK_GRAFT_CPUS`, or the caller's default. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** The conf list [[session]] builds; a later entry wins. */
  def conf(master: String, extra: Seq[(String, String)]): Seq[(String, String)] =
    ("spark.master" -> master) +: (base ++ extra)

  def session(master: String, extra: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
    conf(master, extra).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Ladder-protocol hook (local iteration only): SPARK_GRAFT_EXTRA_CONF
    * ="k=v;k=v" sets graft.* session confs before any query builds, so
    * forced-path rungs are timed and dumped like the defaults. */
  def applyExtraConf(s: SparkSession, tag: String): Unit =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      s.conf.set(k, v)
      System.err.println(s"[$tag] extra conf: $k=$v")
    })
}
