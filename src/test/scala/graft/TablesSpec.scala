package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Tables.events must read BOTH on-disk generations of the events
  * corpus (TESTDATA.md): the current writer's native TIMESTAMP(MICROS)
  * column and the earlier INT64-nanos shape. At cluster scale a
  * long-lived table spans writer generations, so the reader dispatches
  * on the scanned schema rather than assuming one representation.
  *
  * [[Tables.parquet]] must be indistinguishable from `s.read.parquet`:
  * same schema (nullability and field metadata included), same rows,
  * same error class, and no schema-inference Spark job. */
class TablesSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private val tableNames = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Spark jobs `body` launches, counted by a private job group. */
  private def jobsIn(group: String)(body: => Unit): Int = {
    val sc = s.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    org.apache.spark.graftbridge.GraftScheduler.drainListenerBus(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private def assertParity(path: String): Unit = {
    val helper = Tables.parquet(s, path)
    val spark = s.read.parquet(path)
    assert(helper.schema == spark.schema, s"schema differs for $path")
    assert(rows(helper) == rows(spark), s"rows differ for $path")
  }

  private def errorOf(read: => DataFrame): AnalysisException =
    intercept[AnalysisException](read)

  private def assertSameError(path: String, condition: String): Unit = {
    val helper = errorOf(Tables.parquet(s, path))
    val spark = errorOf(s.read.parquet(path))
    assert(spark.getCondition == condition)
    assert(helper.getCondition == condition)
    assert(helper.getMessage == spark.getMessage)
  }

  private def sample(): DataFrame =
    Tables.orders(s, TestSpark.SfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  test("parquet matches spark.read.parquet on every sf0.001 table") {
    for (t <- tableNames) assertParity(s"${TestSpark.SfDir}/$t.parquet")
  }

  test("parquet resolves every sf0.001 table without a Spark job") {
    val helperJobs = jobsIn("tables-parquet-helper") {
      for (t <- tableNames) Tables.parquet(s, s"${TestSpark.SfDir}/$t.parquet")
    }
    assert(helperJobs == 0)
    // the counter sees the inference job a bare read launches
    val sparkJobs = jobsIn("tables-parquet-spark") {
      s.read.parquet(s"${TestSpark.SfDir}/region.parquet")
    }
    assert(sparkJobs >= 1)
  }

  test("parquet matches spark.read.parquet on a Spark-written directory with _SUCCESS") {
    val dir = Files.createTempDirectory("graft-parquet-success").toString + "/t"
    sample().repartition(3).write.parquet(dir)
    assert(new java.io.File(dir, "_SUCCESS").exists)
    assertParity(dir)
    assert(jobsIn("tables-parquet-success")(Tables.parquet(s, dir)) == 0)
  }

  test("parquet matches spark.read.parquet on a partitionBy directory") {
    val dir = Files.createTempDirectory("graft-parquet-partitioned").toString + "/t"
    sample().write.partitionBy("o_orderstatus").parquet(dir)
    assertParity(dir)
    assert(Tables.parquet(s, dir).columns.last == "o_orderstatus")
  }

  test("parquet matches spark.read.parquet on legacy int64-nanos events, nanosAsLong on and off") {
    val dir = Files.createTempDirectory("graft-parquet-legacy").toString
    Tables.events(s, TestSpark.SfDir)
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = s.conf.get(key)
    try {
      for (flag <- Seq("true", "false")) {
        s.conf.set(key, flag)
        assertParity(s"$dir/events.parquet")
        assertParity(s"${TestSpark.SfDir}/events.parquet")
      }
    } finally s.conf.set(key, before)
  }

  test("parquet honours nanosAsLong on a footer without Spark's schema") {
    // INT64 TIMESTAMP(NANOS) written by plain parquet-mr: no Spark row
    // metadata, so the type comes from the footer conversion flags
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val path = Files.createTempDirectory("graft-parquet-nanos").toString + "/e.parquet"
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message e { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      for (i <- 1L to 3L)
        writer.write(groups.newGroup().append("event_id", i)
          .append("ts", 1700000000000000000L + i))
    } finally writer.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = s.conf.get(key)
    try {
      s.conf.set(key, "true")
      assertParity(path)
      assert(Tables.parquet(s, path).schema("ts").dataType == LongType)
      s.conf.set(key, "false")
      val helper = errorOf(Tables.parquet(s, path))
      val spark = errorOf(s.read.parquet(path))
      assert(helper.getCondition == "PARQUET_TYPE_ILLEGAL")
      assert(helper.getMessage == spark.getMessage)
    } finally s.conf.set(key, before)
  }

  test("parquet raises Spark's error classes: missing path, empty dir, _SUCCESS only") {
    val root = Files.createTempDirectory("graft-parquet-errors")
    assertSameError(root.resolve("missing").toString, "PATH_NOT_FOUND")
    val empty = Files.createDirectory(root.resolve("empty"))
    assertSameError(empty.toString, "UNABLE_TO_INFER_SCHEMA")
    val successOnly = Files.createDirectory(root.resolve("success-only"))
    Files.createFile(successOnly.resolve("_SUCCESS"))
    assertSameError(successOnly.toString, "UNABLE_TO_INFER_SCHEMA")
  }

  test("current corpus generation: naive-UTC NTZ scan normalizes to TimestampType") {
    val ev = Tables.events(s, TestSpark.SfDir)
    assert(ev.schema("ts").dataType == TimestampType)
    // the scan itself is TIMESTAMP_NTZ — the cast is reinterpretation only
    assert(Tables.eventsRaw(s, TestSpark.SfDir).schema("ts").dataType == TimestampNTZType)
    assert(ev.agg(count(lit(1))).head.getLong(0) > 0)
  }

  test("legacy int64-nanos generation: ts converts to the same micros timestamps") {
    val dir = Files.createTempDirectory("graft-legacy-events").toString
    // Stage a legacy-shaped corpus: same rows, ts re-encoded as int64
    // nanoseconds (the shape the original writer produced).
    Tables.events(s, TestSpark.SfDir)
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val legacyRaw = Tables.eventsRaw(s, dir)
    assert(legacyRaw.schema("ts").dataType == LongType)
    val legacy = Tables.events(s, dir)
    assert(legacy.schema("ts").dataType == TimestampType)

    // Both generations must yield identical (event_id, micros) pairs.
    val native = Tables.events(s, TestSpark.SfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("tus"))
    val converted = legacy
      .select(col("event_id"), unix_micros(col("ts")).as("tus"))
    assert(native.exceptAll(converted).isEmpty && converted.exceptAll(native).isEmpty)
  }

  test("q17 filters the same trailing day on either generation") {
    val dir = Files.createTempDirectory("graft-legacy-q17").toString
    Tables.events(s, TestSpark.SfDir)
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val native = operators.Relational.q17TimeRangeFilter(s, TestSpark.SfDir).collect()
    val legacy = operators.Relational.q17TimeRangeFilter(s, dir).collect()
    assert(native.nonEmpty && native.sameElements(legacy))
  }
}
