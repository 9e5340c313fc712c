package perfbench

import graft.SparkEntry

/** Closed loop, one client: each key is built through
  * `SparkEntry.queries` and fully materialised to the `noop` sink, one
  * key after another, in the order the seed chose.
  *
  * An untimed check pass comes first. It computes every key's row count
  * and digest (the output check) and warms the JIT, so it is part of
  * set-up, as is the timed session's first query. The one timed pass then runs in a fresh session, whose
  * session-keyed shared-frame caches start empty, so it pays every
  * shared build once, whichever key meets it first. */
object BatchLoad {
  def run(rec: Records, sf: String, trace: Boolean, keys: Seq[String]): Unit = {
    val mem = new MemorySampler(s"${Work.dir}/scratch")
    val spark = Posture.session(Work.dir)
    val sc = spark.sparkContext
    Posture.check(rec, spark)
    val tracer = if (trace) Some(Tracer.install(spark, rec)) else None
    tracer.foreach(spark.listenerManager.register)
    rec.add("t" -> "mark", "name" -> "session_ready", "at" -> Clock.ms())

    sc.setLocalProperty("perfbench.phase", "check")
    keys.foreach { k =>
      sc.setLocalProperty("perfbench.key", k)
      val t0 = Clock.ms()
      try {
        val (n, d) = Digest.of(SparkEntry.queries(k)(spark, sf))
        rec.add("t" -> "check", "key" -> k, "rows" -> n, "digest" -> d, "wall_ms" -> (Clock.ms() - t0))
      } catch { case e: Throwable =>
        rec.add("t" -> "check", "key" -> k, "error" -> String.valueOf(e))
      }
    }

    // the timed pass gets a session no earlier work used
    System.gc()
    val s = spark.newSession()
    require(s ne spark, "timed pass reuses the check pass's session")
    Posture.check(rec, s)
    tracer.foreach(s.listenerManager.register)
    // A new session builds its own analyzer, function registry and
    // planner on its first query. A long-lived session pays that once, so
    // it is set-up here, not the cost of whichever key the seed puts
    // first. The query reads no table: shared-frame caches stay empty.
    s.range(1).write.format("noop").mode("overwrite").save()
    rec.add("t" -> "mark", "name" -> "setup_done", "at" -> Clock.ms())
    val p0 = Clock.ms()
    keys.foreach { k =>
      sc.setLocalProperty("perfbench.key", k)
      sc.setLocalProperty("perfbench.phase", "build")
      val k0 = Clock.ms()
      try {
        val df = SparkEntry.queries(k)(s, sf)
        val k1 = Clock.ms()
        sc.setLocalProperty("perfbench.phase", "write")
        df.write.format("noop").mode("overwrite").save()
        rec.add("t" -> "key", "key" -> k, "start" -> k0, "built" -> k1, "end" -> Clock.ms())
      } catch { case e: Throwable =>
        rec.add("t" -> "key", "key" -> k, "start" -> k0, "end" -> Clock.ms(), "error" -> String.valueOf(e))
      }
    }
    rec.add("t" -> "pass", "start" -> p0, "end" -> Clock.ms())
    Seq("perfbench.key", "perfbench.phase").foreach(sc.setLocalProperty(_, null))
    if (trace) org.apache.spark.perfbench.BusDrain(sc)
    mem.stop(rec)
    spark.stop()
  }
}
