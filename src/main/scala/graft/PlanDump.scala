package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-evidence dump (optimization-round deliverable): writes
  * `.explain("formatted")` for the requested `SparkEntry.queries` keys
  * to `<outDir>/<key>.txt`. Same session posture as Bench so the plans
  * are the ones the bench actually runs (AQE initial plan; the noop
  * sink is irrelevant to plan shape).
  *
  * Usage: PlanDump <sfDir> <outDir> [k1,k2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = Posture.cpus("8")
    val spark = Posture.session(s"local[$cpus]", Posture.bench(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    // pseudo-keys for the session-shared checkpointed frames: their
    // build plans execute eagerly during query construction and are
    // therefore INVISIBLE in every consumer's explain (which shows a
    // scan of the checkpointed RDD) — dump them explicitly so the
    // window-removal evidence is checkable
    val frames: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "frame_doc_grams8" -> ((sp: SparkSession, d: String) =>
        graft.ops.TextDedup.docGrams8Plan(sp, d))
    )
    (SparkEntry.queries ++ frames).toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val txt = fn(spark, sfDir).queryExecution.explainString(mode)
          Files.write(Paths.get(outDir, s"$name.txt"),
                      txt.getBytes(StandardCharsets.UTF_8))
          System.err.println(s"[plandump] $name ok")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
