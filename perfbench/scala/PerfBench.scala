package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness for the graft engine. It drives the engine only
  * through its public entry points (`SparkEntry.queries`, `StreamOps`,
  * `Sinks.sinkTo`, `BatchSink`) and writes raw records (walls, checks,
  * spans) as JSON lines; `perfbench/run.py` turns them into metrics.
  *
  * Usage:
  *   PerfBench batch  <out.jsonl> <sfDir> <trace 0|1> <key,key,...>
  *   PerfBench stream <out.jsonl> <seed> <seconds> <trace 0|1>
  *   PerfBench digest <out.jsonl> <parquetDir> <key,key,...>
  *   PerfBench oracle <out.jsonl> <key,key,...>
  *   PerfBench selftest <out.jsonl>
  */
object PerfBench {
  def main(args: Array[String]): Unit = {
    val rec = new Records(args(1))
    try args(0) match {
      case "batch" =>
        BatchLoad.run(rec, args(2), args(3) == "1", args(4).split(",").toSeq)
      case "stream" =>
        StreamLoad.run(rec, args(2).toLong, args(3).toDouble, args(4) == "1")
      case "digest" => Digest.ofParquetDir(rec, args(2), args(3).split(",").toSeq)
      case "oracle" => args(2).split(",").foreach { k =>
        rec.add("t" -> "oracle", "key" -> k, "sql" -> graft.SparkEntry.oracleSql.get(k))
      }
      case "selftest" => Digest.selfTest(rec)
    } finally rec.flush()
  }
}

/** Records stay in memory and are written out once, at exit. */
final class Records(path: String) {
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def add(kv: (String, Any)*): Unit = buf.add(json.writeValueAsString(kv.toMap))
  def flush(): Unit = {
    val sb = new StringBuilder
    buf.forEach(l => sb.append(l).append('\n'))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Work {
  /** Every file the harness and the engine write lives under here. */
  val dir: String = sys.props.getOrElse("perfbench.work", sys.error("-Dperfbench.work is required"))
}

object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock Spark's listener events use. */
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** The session posture of `graft.Bench` at this box's core count. The
  * benchmark pins these values and checks them on every timed session,
  * so its walls are Bench walls. */
object Posture {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def pinned: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.checkpoint.compress" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")

  /** Bench's warehouse lives in /tmp; the benchmark keeps every file it
    * writes inside its own work directory instead. */
  def session(work: String, extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    (pinned ++ Seq(
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.local.dir" -> s"$work/local") ++ extra)
      .foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Effective value of every pinned conf in `s`. */
  def effective(s: SparkSession): Seq[(String, String)] = pinned.map { case (k, _) =>
    k -> (if (k == "spark.master") s.sparkContext.master
          else s.conf.getOption(k).getOrElse(s.sparkContext.getConf.get(k, "<unset>")))
  }

  def check(rec: Records, s: SparkSession): Unit = {
    val eff = effective(s)
    rec.add("t" -> "posture", "confs" -> eff.toMap)
    val bad = eff.zip(pinned).collect { case ((k, got), (_, want)) if got != want =>
      s"$k=$got (want $want)" }
    require(bad.isEmpty, s"session posture drifted from Bench: ${bad.mkString(", ")}")
  }
}

/** Peak memory: the JVM's high-water RSS plus the peak bytes under the
  * engine's scratch root (checkpoints and sink round-trips), which the
  * engine places on tmpfs by default and so are memory too. */
final class MemorySampler(scratchParent: String) {
  @volatile private var peakBytes = 0L
  @volatile private var peakCkptBytes = 0L
  @volatile private var running = true
  private val t = new Thread(() => {
    while (running) {
      val dirs = Option(new java.io.File(scratchParent).listFiles()).getOrElse(Array.empty)
      val sizes = dirs.map(d => d.getName -> dirBytes(d))
      peakBytes = math.max(peakBytes, sizes.map(_._2).sum)
      peakCkptBytes = math.max(peakCkptBytes, sizes.collect { case (n, b) if n.startsWith("graft_ckpt") => b }.sum)
      Thread.sleep(100)
    }
  }, "perfbench-mem")
  t.setDaemon(true)
  t.start()

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def stop(rec: Records): Unit = {
    running = false
    t.join()
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    rec.add("t" -> "memory", "vmhwm_kb" -> hwmKb, "scratch_peak_bytes" -> peakBytes,
      "checkpoint_peak_bytes" -> peakCkptBytes)
  }
}
