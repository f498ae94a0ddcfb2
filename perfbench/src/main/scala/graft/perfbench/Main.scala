package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.operators.{Bpe, Classifier, Dedup, Similarity, TextAnalysis}

/** One benchmark run of one workload, in the private working directory it
  * is started in (cwd-relative artifacts, `java.io.tmpdir` and the Spark
  * local dirs all live there).
  *
  *  1. Set-up: start the session and run every query once on the seed's
  *     corpus (the workloads with a fresh corpus per pass: on a copy of its
  *     own). That pass warms the JVM and writes each output, with its row
  *     count and digest, for the oracle check.
  *  2. Measured passes: one client thread in a closed loop runs the whole
  *     query list per pass, until at least `--seconds` and at least two
  *     passes have been measured. Each operation is the call into graft (the frame it
  *     returns) plus the frame's materialization through the `noop` sink,
  *     with the row count and an order-insensitive digest taken by
  *     `Dataset.observe` inside that same action.
  *  3. With `--trace 1`, passes are untraced and traced in turn; the traced
  *     ones record spans and listener counts, and the difference between
  *     the two kinds of pass is the tracing overhead.
  *
  * Writes `result.json` (and `trace.json` when traced) for the harness
  * script, which checks outputs against the oracle and prints metrics. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, corpus: String, oracleSql: Boolean)

  final case class Digest(rows: Long, sum: Long, xor: Long) {
    override def toString: String = s"$rows:$sum:$xor"
  }

  final case class OpRec(id: Int, query: String, pass: Int, traced: Boolean,
                         startUs: Long, builtUs: Long, endUs: Long,
                         digest: Option[Digest], error: Option[String]) {
    def latS: Double = (endUs - startUs) / 1e6
    def buildS: Double = (builtUs - startUs) / 1e6
  }

  final case class PassRec(index: Int, traced: Boolean, startUs: Long,
                           endUs: Long, inputBytes: Long) {
    def wallS: Double = (endUs - startUs) / 1e6
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--corpus"),
      kv.get("--oracle-sql").contains("1"))
  }

  /** Row count, and sum (mod a prime) and xor of a 64-bit hash of every
    * row: independent of row order and of partitioning. Map-typed values
    * have no hash in Spark, so they are hashed through their JSON form. */
  def digestColumns(df: DataFrame): Seq[Column] = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = xxhash64(cols: _*)
    Seq(count(lit(1)).as("rows"), sum(pmod(h, lit(4294967311L))).as("sum"),
      bit_xor(h).as("xor"))
  }

  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val cs = digestColumns(df)
    df.observe(obs, cs.head, cs.tail: _*)
  }

  def digestOf(obs: Observation): Digest = {
    val m = obs.get
    def l(k: String) = Option(m(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    Digest(l("rows"), l("sum"), l("xor"))
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private def writeJson(path: String, v: Any): Unit =
    Files.write(Paths.get(path), json.writeValueAsBytes(v))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** The fingerprint-keyed artifact builds graft counts. */
  def artifactBuilds(): Long = Seq(Dedup.confirmedBuildCount,
    Dedup.clusterBuildCount, Dedup.d9InvBuildCount,
    Similarity.kmeansTrainCount, Similarity.pqTrainCount,
    TextAnalysis.t8TrainCount, TextAnalysis.t11BuildCount,
    TextAnalysis.t17TrainCount, Bpe.trainCount, Classifier.trainCount)
    .map(_.get.toLong).sum

  /** Heap used after forced GCs, repeated until it settles: Spark's
    * context cleaner frees blocks of collected frames only after a GC has
    * found them unreachable, so a single GC reads high by a varying
    * amount. */
  def settledHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var (prev, used, i) = (-1L, 0L, 0)
    while (i < 6 && (prev < 0 || math.abs(used - prev) > used / 200)) {
      prev = used
      System.gc()
      Thread.sleep(200)
      used = mem.getHeapMemoryUsage.getUsed
      i += 1
    }
    used / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.all.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val cwd = Paths.get("").toAbsolutePath.toString
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (Clock.nowUs / 1000 - jvmStartMs) / 1e3

    // -- set-up ------------------------------------------------------------
    // The stable workload warms up on the corpus it measures; the fresh
    // ones on a copy of their own, so the measured passes start cold.
    val warmDir =
      if (w.freshCorpusPerPass) { Corpus.freshCopy(a.corpus, s"$cwd/warm"); s"$cwd/warm" }
      else a.corpus
    val corpusBytes = Corpus.treeBytes(a.corpus)
    val warmStart = System.nanoTime()
    val reference = w.queries.map { q =>
      val out = s"$cwd/check/${q.name}"
      q.name -> (try {
        val obs = Observation(s"check_${q.name}")
        val df = q.build(spark, warmDir, s"$cwd/scratch-warm")
        observed(df, obs).coalesce(1)
          .write.mode("overwrite").parquet(out)
        Right(digestOf(obs))
      } catch { case e: Throwable => Left(errorText(e)) })
    }
    val warmupS = (System.nanoTime() - warmStart) / 1e9

    // -- measured passes ---------------------------------------------------
    val recorder = if (a.trace) {
      val r = new Recorder
      spark.sparkContext.addSparkListener(r)
      Some(r)
    } else None
    val taskSpans = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
    var currentOp = -1
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val buildsBefore = artifactBuilds()
    val jvmSetupS = (Clock.nowUs / 1000 - jvmStartMs) / 1e3
    var measuredS = 0.0
    // at least two passes of each kind measured, and at least --seconds
    def done = measuredS >= a.seconds &&
      passes.count(!_.traced) >= 2 && (!a.trace || passes.count(_.traced) >= 2)
    while (!done) {
      val p = passes.size
      // untraced and traced passes in the order U T T U U T T U ..., so a
      // drift over the run biases neither kind
      val traced = a.trace && (p % 4 == 1 || p % 4 == 2)
      val (dir, inBytes) =
        if (w.freshCorpusPerPass) {
          val d = s"$cwd/pass-$p"
          (d, Corpus.freshCopy(a.corpus, d))
        } else (warmDir, corpusBytes)
      EtlDag.onTask =
        if (!traced) (_, body) => body()
        else (name, body) => {
          val t0 = Clock.nowUs
          try body() finally taskSpans += ((currentOp, name, t0, Clock.nowUs))
        }
      val sc = spark.sparkContext
      val passStart = Clock.nowUs
      w.queries.foreach { q =>
        val id = ops.size
        currentOp = id
        if (traced) sc.setJobGroup(s"op-$id", q.name, interruptOnCancel = false)
        val t0 = Clock.nowUs
        var t1 = -1L
        val (digest, error) = try {
          val df = q.build(spark, dir, s"$cwd/scratch-$p")
          t1 = Clock.nowUs
          val obs = Observation(s"op_$id")
          observed(df, obs).write.format("noop").mode("overwrite").save()
          (Some(digestOf(obs)), None)
        } catch { case e: Throwable => (None, Some(errorText(e))) }
        finally if (traced) sc.clearJobGroup()
        val t2 = Clock.nowUs
        ops += OpRec(id, q.name, p, traced, t0, if (t1 < 0) t2 else t1, t2,
          digest, error)
      }
      val pass = PassRec(p, traced, passStart, Clock.nowUs, inBytes)
      passes += pass
      measuredS += pass.wallS
    }
    val buildsAfter = artifactBuilds()

    // -- after the passes: memory, held blocks, oracle SQL -----------------
    recorder.foreach(_ => org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext))
    val heapMb = settledHeapMb()
    val held = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    // the oracle SQL of some queries embeds artifacts trained on the
    // corpus; it is generated only when the harness has no cached verdict
    if (a.oracleSql) {
      val names = w.queries.map(_.name).toSet
      val oracle = (SparkEntry.oracleSqlFor(spark, warmDir) ++
        EtlDag.oracleSql(s"$warmDir/raw")).filter(kv => names(kv._1))
      writeJson(s"$cwd/check/oracle_sql.json", oracle)
    }

    val trace = recorder.map(r => Trace.build(r, ops.toSeq, passes.toSeq,
      taskSpans.toSeq, a.workload, a.seed, buildsAfter - buildsBefore,
      held.length, held.map(i => i.memSize + i.diskSize).sum / 1048576.0,
      sessionStartS))
    trace.foreach(writeJson(s"$cwd/trace.json", _))

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "session_start_s" -> sessionStartS, "warmup_s" -> warmupS,
      "jvm_setup_s" -> jvmSetupS, "corpus_bytes" -> corpusBytes,
      "retained_heap_mb" -> heapMb,
      "check_dir" -> s"$cwd/check", "check_corpus" -> warmDir,
      "reference" -> reference.map { case (n, r) => n -> (r match {
        case Right(d) => Map("digest" -> d.toString)
        case Left(e) => Map("error" -> e)
      }) }.toMap,
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallS, "input_bytes" -> p.inputBytes)),
      "ops" -> ops.map(o => mutable.LinkedHashMap("query" -> o.query,
        "pass" -> o.pass, "traced" -> o.traced, "lat_s" -> o.latS,
        "build_s" -> o.buildS, "digest" -> o.digest.map(_.toString),
        "error" -> o.error)))
    writeJson(s"$cwd/result.json", result)
    spark.stop()
  }
}
