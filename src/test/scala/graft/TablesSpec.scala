package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftspec.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** The fixture-table layer: schema inferred once per (session, path),
  * and `events.ts` read as TIMESTAMP whatever the file or the session's
  * NTZ inference. */
class TablesSpec extends SparkSpec {

  /** Jobs that `body` starts whose result stage name starts with
    * `prefix` — schema-inference jobs are `parquet at Tables.scala:…`. */
  private def jobsNamed(prefix: String)(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.maxBy(_.stageId).name.startsWith(prefix)) n.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerDrain(sc)
    sc.addSparkListener(l)
    try { body; ListenerDrain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  private def schemaJobs(body: => Unit): Int = jobsNamed("parquet at Tables.scala")(body)

  private def deleteTree(dir: java.nio.file.Path): Unit =
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))

  test("schema inferred once per session: two events reads run one inference job, a new session one more") {
    val s1 = spark.newSession()
    val first = schemaJobs {
      Tables.events(s1, sf).count()
      Tables.events(s1, sf).where(col("value") > 0).count()
      assert(Tables.rowCount(s1, sf, "events") == 1000L)
    }
    assert(first == 1, s"two reads in one session ran $first schema jobs")
    val s2 = spark.newSession()
    val second = schemaJobs { Tables.events(s2, sf).count() }
    assert(second == 1, s"a new session ran $second schema jobs")
  }

  test("rowCount sums the parquet footers with no job: equal to count() on every sf0.001 fixture and a multi-file directory") {
    val dir = Files.createTempDirectory("graft-rows")
    try {
      spark.range(0, 1234, 1, 5).toDF("id").write.parquet(s"$dir/multi.parquet")
      val files = Files.list(java.nio.file.Paths.get(s"$dir/multi.parquet")).toArray
        .count(_.toString.endsWith(".parquet"))
      assert(files == 5, s"the directory must hold several part files, holds $files")
      val fixtures = Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
                         "region", "events", "documents", "embeddings").map(sf -> _)
      for ((sfDir, name) <- fixtures :+ (dir.toString -> "multi")) {
        val s = spark.newSession()
        val df = Tables.table(s, sfDir, name) // the schema job runs here
        var rows = -1L
        val jobs = jobsNamed("") { rows = Tables.rowCount(s, sfDir, name) }
        assert(jobs == 0, s"$name: rowCount ran $jobs jobs")
        assert(rows == df.count(), s"$sfDir/$name: footers say $rows rows")
      }
    } finally deleteTree(dir)
  }

  test("events.ts keeps the parent's µs values at sf0.001 (pinned against DuckDB)") {
    // DuckDB over the same file: count(*), sum/min/max(epoch_us(ts)),
    // sum((epoch_us(ts) % 1000003) * event_id)
    val us = unix_micros(col("ts"))
    val r = Tables.events(spark.newSession(), sf)
      .agg(count(lit(1)), sum(us), min(us), max(us),
           sum((us % 1000003L) * col("event_id"))).head()
    assert(r.toSeq == Seq(1000L, 1705320648565608007L, 1704067798778549L,
                          1706657176220708L, 244301039385L))
  }

  test("events.ts is a TIMESTAMP whatever the session's NTZ inference") {
    val dir = Files.createTempDirectory("graft-ntz")
    try {
      val micros = (0 until 50).map(i => 1704067200000000L + i * 3600000001L)
      spark.createDataFrame(micros.zipWithIndex.map { case (m, i) => (i.toLong, m) })
        .toDF("event_id", "us")
        .select(col("event_id"), timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
        .coalesce(1).write.parquet(s"$dir/events.parquet")
      for (fixture <- Seq(dir.toString, sf)) {
        def read(ntz: Boolean) = {
          val s = spark.newSession()
          s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz.toString)
          Tables.events(s, fixture)
        }
        val (on, off) = (read(true), read(false))
        assert(on.schema("ts").dataType == TimestampType && off.schema("ts").dataType == TimestampType,
               s"$fixture: ts read as ${on.schema("ts").dataType} / ${off.schema("ts").dataType}")
        val rows = (df: org.apache.spark.sql.DataFrame) =>
          df.select(col("event_id"), col("ts"), unix_micros(col("ts"))).orderBy("event_id").collect().toSeq
        assert(rows(on) == rows(off), s"$fixture: NTZ inference changed the rows")
        if (fixture == dir.toString)
          assert(rows(on).map(_.getLong(2)) == micros, "the micros must be the written ones")
      }
    } finally deleteTree(dir)
  }

  test("events.ts stored as TIMESTAMP(NANOS) truncates to µs by integer division") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-nanos")
    try {
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
      val nanos = Seq(1704067200123456789L, 1704067200123456001L, 1704067200000000999L, 1706657176220708000L)
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
        .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
      val groups = new SimpleGroupFactory(schema)
      try nanos.zipWithIndex.foreach { case (ns, i) =>
        w.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns))
      } finally w.close()
      val got = Tables.events(spark.newSession(), dir.toString)
        .orderBy("event_id").select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      assert(got == nanos.map(_ / 1000))
    } finally deleteTree(dir)
  }
}
