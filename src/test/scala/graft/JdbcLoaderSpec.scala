package graft

import java.sql.DriverManager
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.JdbcLoader

/** Upsert + save-mode semantics against embedded Derby (the JVM stand-in for
  * the reference's SQLite; `tests/test_upsert.py:25-130`).
  */
class JdbcLoaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private var n = 0
  private def freshDb(): String = { n += 1; s"jdbc:derby:memory:graftdb$n;create=true" }

  /** quoted=true for Spark-created tables (quoted lowercase columns);
    * false for upsert-created tables (unquoted DDL → Derby uppercase).
    */
  private def queryAll(url: String, table: String, quoted: Boolean = true): Seq[(Long, String)] = {
    val conn = DriverManager.getConnection(url)
    try {
      val (idc, vc) = if (quoted) ("\"id\"", "\"v\"") else ("id", "v")
      val rs = conn.createStatement().executeQuery(s"SELECT $idc, $vc FROM $table ORDER BY $idc")
      val buf = scala.collection.mutable.Buffer.empty[(Long, String)]
      while (rs.next()) buf += ((rs.getLong(1), rs.getString(2)))
      buf.toSeq
    } finally conn.close()
  }

  test("append-mode load of an empty frame succeeds as a no-op") {
    // test_sqlalchemy_loader.py::test_empty_dataframe parity: loading zero
    // rows must neither fail nor disturb existing data
    val url = freshDb()
    val df = Seq((1L, "a")).toDF("id", "v")
    new JdbcLoader(Map("connection_string" -> url, "table" -> "t0")).load(df)
    new JdbcLoader(Map("connection_string" -> url, "table" -> "t0"))
      .load(Seq.empty[(Long, String)].toDF("id", "v"))
    assert(queryAll(url, "t0") == Seq((1L, "a")))
  }

  test("append then replace then fail modes") {
    val url = freshDb()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    new JdbcLoader(Map("connection_string" -> url, "table" -> "t1")).load(df)
    new JdbcLoader(Map("connection_string" -> url, "table" -> "t1")).load(df) // append default
    assert(queryAll(url, "t1").size == 4)
    new JdbcLoader(Map("connection_string" -> url, "table" -> "t1", "if_exists" -> "replace")).load(df)
    assert(queryAll(url, "t1").size == 2)
    intercept[Exception] {
      new JdbcLoader(Map("connection_string" -> url, "table" -> "t1", "if_exists" -> "fail")).load(df)
    }
  }

  test("upsert inserts, then updates on conflict") {
    val url = freshDb()
    val loader = new JdbcLoader(Map(
      "connection_string" -> url, "table" -> "t2",
      "if_exists" -> "upsert", "primary_keys" -> Seq("id")))
    loader.load(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(queryAll(url, "t2") == Seq((1L, "a"), (2L, "b")))
    loader.load(Seq((2L, "B2"), (3L, "c")).toDF("id", "v"))
    assert(queryAll(url, "t2") == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
  }

  test("upsert supports composite keys") {
    val url = freshDb()
    val loader = new JdbcLoader(Map(
      "connection_string" -> url, "table" -> "t3",
      "if_exists" -> "upsert", "primary_keys" -> Seq("a", "b")))
    loader.load(Seq((1L, 1L, "x"), (1L, 2L, "y")).toDF("a", "b", "v"))
    loader.load(Seq((1L, 2L, "Y2"), (2L, 1L, "z")).toDF("a", "b", "v"))
    val conn = DriverManager.getConnection(url)
    val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM t3")
    rs.next(); assert(rs.getLong(1) == 3)
    val rs2 = conn.createStatement().executeQuery("SELECT \"v\" FROM t3 WHERE \"a\"=1 AND \"b\"=2")
    rs2.next(); assert(rs2.getString(1) == "Y2")
    conn.close()
  }

  private def upsertLoader(url: String, table: String) = new JdbcLoader(Map(
    "connection_string" -> url, "table" -> table,
    "if_exists" -> "upsert", "primary_keys" -> Seq("id")))

  private def tableNames(url: String, pattern: String): Seq[String] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, pattern, Array("TABLE"))
      val buf = scala.collection.mutable.Buffer.empty[String]
      while (rs.next()) buf += rs.getString("TABLE_NAME")
      buf.toSeq
    } finally conn.close()
  }

  test("upsert evaluates its input plan exactly once") {
    // the input shape of the finance pipeline: a per-row step (validation)
    // feeding a shuffle (the per-symbol indicator window). An emptiness
    // probe ahead of the write re-ran the whole chain up to the shuffle.
    import org.apache.spark.sql.functions.{col, udf}
    val seen = spark.sparkContext.longAccumulator("jdbc-upsert-rows")
    val bump = udf { (id: Long) => seen.add(1); id >= 0 }
    val n = 200
    val df = (0L until n).map(i => (i, s"v$i")).toDF("id", "v")
      .filter(bump(col("id")))
      .repartition(3, col("v"))
    val url = freshDb()
    upsertLoader(url, "t_once").load(df)
    assert(queryAll(url, "t_once").size == n)
    assert(seen.value == n, s"input rows evaluated ${seen.value} times for $n rows")
  }

  test("upsert keeps the last row of duplicate keys inside one frame") {
    // ten keys, each delivered ten times across the frame's partitions;
    // the row delivered last (largest i) must win, as in the reference's
    // sequential row-wise upsert
    val url = freshDb()
    val rows = (0 until 100).map(i => ((i % 10).toLong, s"v$i"))
    upsertLoader(url, "t_last").load(rows.toDF("id", "v"))
    assert(queryAll(url, "t_last") == (0 until 10).map(k => (k.toLong, s"v${90 + k}")))
    upsertLoader(url, "t_last").load(rows.reverse.toDF("id", "v"))
    assert(queryAll(url, "t_last") == (0 until 10).map(k => (k.toLong, s"v$k")))
  }

  test("a load that fails part-way leaves the target unchanged and no staging table") {
    val url = freshDb()
    val loader = upsertLoader(url, "t_fail")
    val before = (0L until 100L).map(i => (i, "old"))
    loader.load(before.toDF("id", "v"))
    // every row is an update; one value is longer than the VARCHAR(4096)
    // column, so its partition's INSERT throws inside the Spark action
    // while the other partitions succeed. AQE would coalesce this small
    // shuffle into one partition, so it is kept from doing so here.
    val bad = (0L until 100L).map(i => (i, if (i == 57L) "x" * 5000 else "new"))
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try intercept[Exception](loader.load(bad.toDF("id", "v")))
    finally spark.conf.set(coalesceKey, prev)
    assert(queryAll(url, "t_fail") == before)
    assert(tableNames(url, "STAGE_%").isEmpty, "staging table leaked")
  }

  test("upsert without primary_keys raises; empty frame is a no-op creating nothing") {
    val url = freshDb()
    intercept[IllegalArgumentException] {
      new JdbcLoader(Map("connection_string" -> url, "table" -> "t4", "if_exists" -> "upsert"))
        .load(Seq((1L, "a")).toDF("id", "v"))
    }
    new JdbcLoader(Map(
      "connection_string" -> url, "table" -> "t5",
      "if_exists" -> "upsert", "primary_keys" -> Seq("id")))
      .load(Seq.empty[(Long, String)].toDF("id", "v"))
    val conn = DriverManager.getConnection(url)
    val rs = conn.getMetaData.getTables(null, null, "T5", null)
    assert(!rs.next()) // table not created
    conn.close()
    assert(tableNames(url, "STAGE_%").isEmpty, "empty frame left a staging table")
  }

  test("events-derived timestamp frame survives L2 append and L3 upsert round-trips") {
    // the st6 failure mode: a data regeneration that shifts events.ts to a
    // different surfaced type (TIMESTAMP_NTZ in r5 — Derby rejected the
    // java.time.LocalDateTime it maps to) must be caught at spec time, not
    // driver time. Tables.events normalizes every physical layout to
    // TimestampType; this pins that a frame derived from the REAL events
    // table writes through both JDBC paths and reads back the same micros.
    val spark0 = spark
    import org.apache.spark.sql.functions.{col, max => smax, min => smin, unix_micros}
    val ev = graft.Tables.events(spark0, "/root/testdata/sf0.001")
      .groupBy(col("event_type"))
      .agg(smin(col("ts")).as("first_ts"), smax(col("ts")).as("last_ts"))
    assert(ev.schema("first_ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // round-trip through Spark's own JDBC reader: symmetric timezone
    // handling, so the comparison is exact micros regardless of the JVM
    // default zone
    def micros(df: org.apache.spark.sql.DataFrame, tsCols: (String, String)) = df
      .select(col("event_type"), unix_micros(col(tsCols._1)), unix_micros(col(tsCols._2)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val expected = micros(ev, ("first_ts", "last_ts"))

    val url = freshDb()
    // L2 append (Spark JDBC write path — quoted lowercase columns)
    new JdbcLoader(Map("connection_string" -> url, "table" -> "ev_append")).load(ev)
    val backAppend = spark0.read.jdbc(url, "ev_append", new java.util.Properties())
    assert(backAppend.schema("first_ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(micros(backAppend, ("first_ts", "last_ts")) == expected)
    // L3 upsert (engine DDL + MERGE path — unquoted, Derby-uppercased);
    // a second load exercises the UPDATE branch with the timestamp params
    val up = new JdbcLoader(Map("connection_string" -> url, "table" -> "ev_upsert",
      "if_exists" -> "upsert", "primary_keys" -> Seq("event_type")))
    up.load(ev)
    up.load(ev)
    val backUpsert = spark0.read.jdbc(url, "ev_upsert", new java.util.Properties())
      .withColumnRenamed("EVENT_TYPE", "event_type")
    assert(micros(backUpsert, ("FIRST_TS", "LAST_TS")) == expected)
  }

  /** Jobs run, and the executed plans of the SQL actions, during `body`. */
  private def traced(body: => Unit): (Int, Seq[String]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // registered inside, after the meter's drain, so no earlier action's plan is seen
    val jobs =
      try TestSpark.jobsDuring { spark.listenerManager.register(ql); body }
      finally spark.listenerManager.unregister(ql)
    import scala.jdk.CollectionConverters._
    (jobs, plans.asScala.toSeq)
  }

  private def queryRows(url: String, table: String): Seq[Seq[Any]] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT * FROM $table")
      val n = rs.getMetaData.getColumnCount
      val buf = scala.collection.mutable.Buffer.empty[Seq[Any]]
      while (rs.next()) buf += (1 to n).map(rs.getObject)
      buf.toSeq.sortBy(_.mkString("|"))
    } finally conn.close()
  }

  test("a frame sorted on its primary keys loads in 2 jobs, without a range exchange") {
    // the shape the finance pipeline hands the sink: hash-partitioned by
    // symbol (the indicator windows), then ordered by (symbol, date)
    import org.apache.spark.sql.functions.col
    val rows = for (s <- 0 until 4; d <- 0 until 50) yield (s"S$s", f"2020-01-${d % 28 + 1}%02d-$d", s * 100.0 + d)
    val unsorted = rows.toDF("symbol", "date", "close").repartition(4, col("symbol"))
    val sorted = unsorted.orderBy("symbol", "date")
    def loader(url: String) = new JdbcLoader(Map("connection_string" -> url, "table" -> "t_sorted",
      "if_exists" -> "upsert", "primary_keys" -> Seq("symbol", "date")))
    val (urlA, urlB) = (freshDb(), freshDb())
    loader(urlA).load(unsorted)
    val (jobs, plans) = traced(loader(urlB).load(sorted))
    assert(queryRows(urlB, "t_sorted") == queryRows(urlA, "t_sorted"))
    assert(queryRows(urlB, "t_sorted").size == rows.size)
    assert(jobs == 2, s"key-sorted upsert ran $jobs jobs:\n${plans.mkString("\n")}")
    assert(plans.nonEmpty && !plans.exists(_.toLowerCase.contains("rangepartitioning")),
      s"key-order sort survived into the load:\n${plans.mkString("\n")}")
  }

  test("a sort on a non-key column still decides which duplicate key is kept") {
    // ten keys, ten rows each; `ord` runs against the row index, so the
    // LAST row of each key in `ord` order is its FIRST in delivery order
    val rows = (0 until 100).map(i => ((i % 10).toLong, s"v$i", -i))
    val df = rows.toDF("id", "v", "ord")
    val url = freshDb()
    upsertLoader(url, "t_ord").load(df.orderBy("ord"))
    assert(queryAll(url, "t_ord") == (0 until 10).map(k => (k.toLong, s"v$k")))
    // a sort whose keys include a non-key column is kept as well
    upsertLoader(url, "t_ord2").load(df.orderBy("id", "ord"))
    assert(queryAll(url, "t_ord2") == (0 until 10).map(k => (k.toLong, s"v$k")))
  }

  test("upsert creates the unique index uq_<table>_<pks>") {
    val url = freshDb()
    new JdbcLoader(Map(
      "connection_string" -> url, "table" -> "t6",
      "if_exists" -> "upsert", "primary_keys" -> Seq("id")))
      .load(Seq((1L, "a")).toDF("id", "v"))
    val conn = DriverManager.getConnection(url)
    val rs = conn.getMetaData.getIndexInfo(null, null, "T6", true, false)
    var names = Set.empty[String]
    while (rs.next()) Option(rs.getString("INDEX_NAME")).foreach(names += _)
    conn.close()
    assert(names.exists(_.equalsIgnoreCase("uq_t6_id")))
  }
}
