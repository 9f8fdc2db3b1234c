package graft

import java.sql.{DriverManager, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.model.Tables
import graft.sources.GeoJsonGen
import graft.ops.Windows
import graft.streaming.StreamingJobs._
import graft.streaming.UpsertSink

/** The EXECUTING JDBC sink path (X1/X2 made real): streaming upserts
  * through addBatch/executeBatch into embedded Derby — the same
  * write-side semantics as the reference's Data-API sink
  * (sink/SinkDataApiBatch.java:61–78) against an actual database.
  * Derby ships on Spark's classpath, so this runs hermetically; `key`
  * is a Derby reserved word, hence column `k` in the DDL.
  */
class JdbcUpsertSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def ts(s: String) = Timestamp.valueOf(s)

  private val windowColumns =
    """k VARCHAR(64) NOT NULL,
      |cnt BIGINT,
      |window_start TIMESTAMP NOT NULL,
      |window_end TIMESTAMP NOT NULL,
      |PRIMARY KEY (k, window_start, window_end)""".stripMargin

  private def withTable(name: String, columns: String = windowColumns)(body: => Unit): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(s"DROP TABLE $name") catch { case _: java.sql.SQLException => () }
      st.execute(s"CREATE TABLE $name ($columns)")
      st.close()
    } finally conn.close()
    body
  }

  private def tableRows(name: String): Set[(String, Long, Timestamp)] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT k, cnt, window_start FROM $name")
      val out = Iterator.continually(rs)
        .takeWhile(_.next())
        .map(r => (r.getString(1), r.getLong(2), r.getTimestamp(3)))
        .toSet
      out
    } finally conn.close()
  }

  private def renamed(df: DataFrame): DataFrame = df.withColumnRenamed("key", "k")

  test("streaming tumbling counts upsert into Derby and converge to the batch result") {
    withTable("t_stream") {
      implicit val sql = spark.sqlContext
      val in = MemoryStream[(String, Timestamp)]
      val q = tumblingCounts(in.toDF().toDF("kk", "t"), "t", "kk", "1 minute")
        .writeStream.outputMode("update")
        .foreachBatch { (df: DataFrame, epochId: Long) =>
          UpsertSink.jdbcForeachBatchUpsert(url, "t_stream",
            Seq("k", "window_start", "window_end"))(renamed(df), epochId)
        }
        .start()
      try {
        in.addData(("a", ts("2024-01-01 00:00:10"))); q.processAllAvailable()
        in.addData(("a", ts("2024-01-01 00:00:20")), ("b", ts("2024-01-01 00:00:30")))
        q.processAllAvailable() // window 00:00 re-emitted with updated counts
        in.addData(("a", ts("2024-01-01 00:01:10"))); q.processAllAvailable()
        assert(tableRows("t_stream") == Set(
          ("a", 2L, ts("2024-01-01 00:00:00")),
          ("b", 1L, ts("2024-01-01 00:00:00")),
          ("a", 1L, ts("2024-01-01 00:01:00"))))
      } finally q.stop()
    }
  }

  test("JDBC upsert is idempotent under epoch replay") {
    withTable("t_replay") {
      val tumbled = renamed(Windows.tumblingCount(
        Tables.load(spark, sf0001, "events"), $"ts", $"event_type", "1 minute"))
      val sink = UpsertSink.jdbcForeachBatchUpsert(url, "t_replay",
        Seq("k", "window_start", "window_end")) _
      sink(tumbled, 0L)
      val afterFirst = tableRows("t_replay")
      sink(tumbled, 0L) // replayed epoch: same data, same epoch id
      assert(tableRows("t_replay") == afterFirst)
      assert(afterFirst.size == tumbled.count())
    }
  }

  test("restart from checkpoint resumes into Derby without duplicate rows (F1+X3)") {
    withTable("t_ckpt") {
      implicit val sql = spark.sqlContext
      val ckpt = java.nio.file.Files.createTempDirectory("graft_jdbc_ckpt").toString
      val in = MemoryStream[(String, Timestamp)]
      def startQuery() = tumblingCounts(in.toDF().toDF("kk", "t"), "t", "kk", "1 minute")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, epochId: Long) =>
          UpsertSink.jdbcForeachBatchUpsert(url, "t_ckpt",
            Seq("k", "window_start", "window_end"))(renamed(df), epochId)
        }
        .start()
      val q1 = startQuery()
      in.addData(("a", ts("2024-01-01 00:00:10")), ("a", ts("2024-01-01 00:00:20")))
      q1.processAllAvailable()
      in.addData(("a", ts("2024-01-01 00:02:00"))) // closes window 00:00
      q1.processAllAvailable()
      q1.stop()
      val q2 = startQuery() // recovers offsets from the checkpoint
      in.addData(("a", ts("2024-01-01 00:05:00"))) // closes window 00:02
      q2.processAllAvailable()
      q2.stop()
      assert(tableRows("t_ckpt") == Set(
        ("a", 2L, ts("2024-01-01 00:00:00")),
        ("a", 1L, ts("2024-01-01 00:02:00"))))
    }
  }

  test("sliding job over tied timestamps upserts one row per (key, ts) into Derby") {
    // the sliding OVER job emits one row per tied peer, so two events of
    // one class at one instant reach the sink as two rows with the same
    // (key, ts) key and the same count
    withTable("t_tied",
        "k VARCHAR(64) NOT NULL, ts TIMESTAMP NOT NULL, trailing_cnt BIGINT, PRIMARY KEY (k, ts)") {
      implicit val sql = spark.sqlContext
      val feed = GeoJsonGen.features(seed = 3L, count = 3,
        startEpochMs = Timestamp.valueOf("2024-01-01 00:00:00").getTime, stepMs = 1000L)
      val lines = feed :+ feed.head // a second event of the same class at the same ts
      val in = MemoryStream[String]
      val q = StarterDemo.buildJob("StreamJobSqlSliding", in.toDF(), "30 seconds")
        .writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, epochId: Long) =>
          UpsertSink.jdbcForeachBatchUpsert(url, "t_tied", Seq("k", "ts"))(renamed(df), epochId)
        }
        .start()
      try {
        in.addData(lines: _*)
        q.processAllAvailable()
      } finally q.stop()

      val (cls, t0) = Ingest.parseGeoJson(Seq(feed.head).toDF("value"))
        .as[(String, Timestamp)].head()
      val conn = DriverManager.getConnection(url)
      val rows = try {
        val rs = conn.createStatement().executeQuery("SELECT k, ts, trailing_cnt FROM t_tied")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getString(1), r.getTimestamp(2), r.getLong(3))).toList
      } finally conn.close()
      assert(rows.size == 3, s"one row per distinct (key, ts): $rows")
      assert(rows.contains((cls, t0, 2L)), s"tied peers count each other: $rows")
    }
  }

  test("Postgres-dialect golden text locks the reference tumbling_pkey shape") {
    // reference README.MD:88 — tumbling(railway_class, railway_class_count,
    // window_start, window_end, PRIMARY KEY(railway_class, window_start,
    // window_end)); SinkDataApiTumblingBatch.java:153–155 upserts on that
    // constraint updating only the count. No Postgres binary exists in
    // this sandbox, so the generated dialect text itself is the pinned
    // swap surface.
    val sql = UpsertSink.upsertSql(
      "tumbling",
      Seq("railway_class", "railway_class_count", "window_start", "window_end"),
      Seq("railway_class", "window_start", "window_end"))
    assert(sql ==
      "INSERT INTO tumbling (railway_class, railway_class_count, window_start, window_end) " +
        "VALUES (?, ?, ?, ?) " +
        "ON CONFLICT (railway_class, window_start, window_end) " +
        "DO UPDATE SET railway_class_count = EXCLUDED.railway_class_count")
    // all-key table degenerates to DO NOTHING, never an empty SET list
    assert(UpsertSink.upsertSql("t", Seq("k"), Seq("k")) ==
      "INSERT INTO t (k) VALUES (?) ON CONFLICT (k) DO NOTHING")
  }

  test("SQL identifiers are validated, not spliced") {
    intercept[IllegalArgumentException] {
      UpsertSink.upsertSql("t; DROP TABLE x", Seq("a"), Seq("a"))
    }
    intercept[IllegalArgumentException] {
      UpsertSink.upsertSql("t", Seq("a\"b"), Seq("a"))
    }
    intercept[IllegalArgumentException] {
      UpsertSink.jdbcForeachBatchUpsert(url, "t", Seq("bad col"))(
        spark.range(1).toDF("bad col"), 0L)
    }
  }
}
