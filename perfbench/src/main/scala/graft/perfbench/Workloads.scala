package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.pipeline.{Pipeline, Task, TextReportTask}
import graft.sources.Sources

/** One benchmark operation: a named call into graft that returns the
  * frame whose materialization completes it. `build` receives the pass's
  * corpus directory and the pass's private scratch root. */
final case class Query(name: String,
                       build: (SparkSession, String, String) => DataFrame)

/** A workload: a fixed query list (the same in every run, so every run
  * measures the same work) and whether each measured pass gets a freshly
  * written corpus (cold fingerprint-keyed artifacts and fresh tables) or
  * reuses the stable one staged during set-up. Why each list is what it is:
  * perfbench/README.md. */
final case class Workload(name: String, queries: Seq[Query],
                          freshCorpusPerPass: Boolean)

object Workloads {
  private def registry(names: String*): Seq[Query] = names.map { n =>
    val fn = SparkEntry.queries(n)
    Query(n, (s, dir, _) => fn(s, dir))
  }

  val analytics = Workload("analytics", registry(
    "q1_multi_agg", "q10_star_join", "q17_time_range_filter", "q33_quantiles",
    "q21_asof_attribution", "q23_bucketed_join", "q25_salted_join",
    "q30_dpp_join", "st1_stream_wordcount"),
    freshCorpusPerPass = false)

  val curation = Workload("curation", registry(
    "c26_table_stats", "c29_analyze", "d2_dedup_minhash", "d3_dedup_simhash",
    "t6_pii_redact", "q46_fuzzy_join"),
    freshCorpusPerPass = true)

  val lakeWrites = Workload("lake_writes", registry(
    "c19_time_travel", "st10_stream_cdc") ++ EtlDag.queries,
    freshCorpusPerPass = true)

  val all: Map[String, Workload] =
    Seq(analytics, curation, lakeWrites).map(w => w.name -> w).toMap
}

/** The Luigi/Airflow-style ETL of the reference course as one
  * `graft.pipeline` DAG over the seed-generated raw CSV and JSONL under
  * `<corpus>/raw` (written by the harness script): typed CSV
  * ingest with coercion, a JSONL ingest, an enrichment join published as
  * a parquet `Task`, an idempotent `Sources.appendOnce` into a lake table,
  * and a popular-links `TextReportTask`. `etl_dag` builds it once per
  * pass; `etl_rerun` re-runs it, which must be a no-op. */
object EtlDag {
  private val tweetSchema = StructType(Seq(
    StructField("id", LongType), StructField("user", StringType),
    StructField("lang", StringType), StructField("text", StringType),
    StructField("urls", ArrayType(StringType))))
  private val vendorSchema = StructType(Seq(
    StructField("vendor_id", StringType), StructField("vendor_name", StringType)))

  final class Dag(raw: String, out: String) {
    val ingestTrips: Task = new Task {
      val name = "ingest_trips"
      val output = s"$out/trips_typed"
      def build(s: SparkSession): DataFrame =
        Sources.csv(s, s"$raw/trips", Sources.taxiSchema)
          .where(col("_corrupt_record").isNull)
          .select(col("trip_id"), col("vendor_id"),
            to_date(col("pickup_datetime")).as("pickup_date"),
            (unix_timestamp(col("dropoff_datetime")) -
              unix_timestamp(col("pickup_datetime"))).as("duration_s"),
            coalesce(col("passenger_count"), lit(1)).as("passenger_count"),
            col("payment_type"), col("fare_amount"), col("tip_amount"))
    }
    val enrich: Task = new Task {
      val name = "enrich_trips"
      override val requires = Seq(ingestTrips)
      val output = s"$out/trips_enriched"
      def build(s: SparkSession): DataFrame =
        ingestTrips.read(s).join(
          broadcast(Sources.jsonl(s, s"$raw/vendors.jsonl", vendorSchema)),
          Seq("vendor_id"))
    }
    val ingestTweets: Task = new Task {
      val name = "ingest_tweets"
      val output = s"$out/tweet_links"
      def build(s: SparkSession): DataFrame =
        Sources.jsonl(s, s"$raw/tweets.jsonl", tweetSchema)
          .select(col("id"), col("user"), explode(col("urls")).as("url"))
    }
    val report: TextReportTask = new TextReportTask {
      val name = "popular_links_report"
      override val requires = Seq(ingestTweets)
      val output = s"$out/popular_links"
      def render(s: SparkSession): String =
        ingestTweets.read(s).groupBy("url").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("url")).limit(5).collect()
          .zipWithIndex.map { case (r, i) =>
            s"${i + 1}. ${r.getString(0)} (${r.getLong(1)})" }.mkString("\n")
    }
    val lake = s"$out/lake/trips"
    val targets: Seq[Task] = Seq(enrich, report)

    /** Run every target; returns the names of the tasks that ran. The
      * tasks run one `runReport` at a time in dependency order, so the
      * benchmark can time each task. */
    def run(s: SparkSession, onTask: (String, () => Unit) => Unit): Seq[String] = {
      val ran = Seq.newBuilder[String]
      Pipeline.topoSort(targets).foreach { t =>
        onTask(t.name, () => {
          val r = Pipeline.runReport(s, Seq(t))
          if (!r.ok) throw new IllegalStateException(
            s"pipeline task ${t.name} failed: ${r.failed.values.headOption.map(_.getMessage)}")
          ran ++= r.ran
        })
      }
      ran.result()
    }

    def appendLake(s: SparkSession): Long =
      Sources.appendOnce(s, enrich.read(s), lake, "trip_id")
  }

  /** Task-level timing hook, installed by the traced run. */
  @volatile var onTask: (String, () => Unit) => Unit = (_, body) => body()

  private val dags = new java.util.concurrent.ConcurrentHashMap[String, Dag]()
  private def dag(raw: String, scratch: String): Dag =
    dags.computeIfAbsent(scratch, _ => new Dag(raw, s"$scratch/etl"))

  val queries: Seq[Query] = Seq(
    Query("etl_dag", (s, dir, scratch) => {
      val d = dag(s"$dir/raw", scratch)
      val ran = d.run(s, onTask)
      require(ran.size == 4, s"first build ran ${ran.mkString(",")}")
      d.appendLake(s)
      s.read.parquet(d.lake).orderBy("trip_id")
    }),
    Query("etl_rerun", (s, dir, scratch) => {
      val d = dag(s"$dir/raw", scratch)
      val ran = d.run(s, onTask)
      require(ran.isEmpty, s"idempotent re-run ran ${ran.mkString(",")}")
      require(d.appendLake(s) == 0, "appendOnce re-appended rows")
      import s.implicits._
      TextReportTask.readBody(s, d.report.output).split("\n", -1).toSeq
        .toDF("line")
    }))

  /** DuckDB SQL for the two DAG outputs over the same raw files. */
  def oracleSql(raw: String): Map[String, String] = {
    val trips = s"read_csv('$raw/trips/*.csv', header = true, columns = {" +
      "'trip_id': 'BIGINT', 'vendor_id': 'VARCHAR', " +
      "'pickup_datetime': 'TIMESTAMP', 'dropoff_datetime': 'TIMESTAMP', " +
      "'passenger_count': 'INTEGER', 'trip_distance': 'DOUBLE', " +
      "'pickup_longitude': 'DOUBLE', 'pickup_latitude': 'DOUBLE', " +
      "'dropoff_longitude': 'DOUBLE', 'dropoff_latitude': 'DOUBLE', " +
      "'payment_type': 'VARCHAR', 'fare_amount': 'DOUBLE', " +
      "'tip_amount': 'DOUBLE', 'total_amount': 'DOUBLE'})"
    val vendors = s"read_json('$raw/vendors.jsonl', format = 'newline_delimited', " +
      "columns = {'vendor_id': 'VARCHAR', 'vendor_name': 'VARCHAR'})"
    val tweets = s"read_json('$raw/tweets.jsonl', format = 'newline_delimited', " +
      "columns = {'id': 'BIGINT', 'user': 'VARCHAR', 'lang': 'VARCHAR', " +
      "'text': 'VARCHAR', 'urls': 'VARCHAR[]'})"
    Map(
      "etl_dag" ->
        s"""SELECT t.vendor_id, t.trip_id, CAST(t.pickup_datetime AS DATE) AS pickup_date,
           |  date_diff('second', t.pickup_datetime, t.dropoff_datetime) AS duration_s,
           |  coalesce(t.passenger_count, 1) AS passenger_count, t.payment_type,
           |  t.fare_amount, t.tip_amount, v.vendor_name
           |FROM (SELECT DISTINCT * FROM $trips) t JOIN $vendors v USING (vendor_id)
           |ORDER BY t.trip_id""".stripMargin,
      "etl_rerun" ->
        s"""SELECT concat(CAST(row_number() OVER (ORDER BY n DESC, url) AS VARCHAR),
           |  '. ', url, ' (', CAST(n AS VARCHAR), ')') AS line
           |FROM (SELECT url, count(*) AS n
           |      FROM (SELECT unnest(urls) AS url FROM $tweets) GROUP BY url
           |      ORDER BY n DESC, url LIMIT 5)
           |ORDER BY n DESC, url""".stripMargin)
  }
}
