package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Benchmark harness main. run.py starts it once per run:
  *
  *   Harness <workload> <seed> <seconds> <trace 0|1> <fixtureDir>
  *           <workDir> <outJson> <smoke 0|1> <inputDir>
  *
  * `workDir` holds temporary files, deleted when the JVM exits; generated inputs
  * that run.py verifies results against go to `inputDir`, which run.py
  * deletes once it has.
  *
  * It sets up the workload, runs one untimed cold pass where the
  * workload reports it, then timed passes until `seconds` of pass time
  * have accumulated, and writes every raw timing, digest and model check
  * to `outJson`; run.py checks the digests against DuckDB and turns the
  * records into metrics. With trace=1 the timed passes alternate between
  * untraced and traced (listener attached, spans recorded), so the run
  * reports per-layer numbers and its own tracing overhead. */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, fixture: String, work: Path, out: Path, smoke: Boolean,
      inputs: Path)

  /** Everything one run reports; serialized as JSON for run.py. */
  final class Report {
    val setup = mutable.LinkedHashMap[String, Any]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    val extra = mutable.LinkedHashMap[String, Any]()

    /** Ends a traced pass: attaches each op's job totals, by span name, to
      * its record, and keeps the pass's spans. */
    def closeTrace(tracer: Tracer, recs: Seq[mutable.Map[String, Any]]): Unit = {
      tracer.detach()
      val byId = tracer.attribute()
      val all = tracer.allSpans
      recs.foreach(r => r("jobs") = all.filter(_.op == r("op")).map(s =>
        s.name -> byId.getOrElse(s.id, new JobStats).toMap).toMap)
      spans ++= all.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "dur_ms" -> s.durNs / 1e6,
        "jobs" -> byId.get(s.id).map(_.toMap).getOrElse(Map.empty)))
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      argv(4), Paths.get(argv(5)), Paths.get(argv(6)), argv(7) == "1",
      Paths.get(argv(8)))
    Files.createDirectories(a.work)
    // the run's lake copies, corpora and shuffle files go when the JVM does
    sys.addShutdownHook(deleteTree(a.work))
    val report = new Report
    val spark = session(a.work)
    report.setup("session_ready_ms") = System.currentTimeMillis()
    val tracer = new Tracer(spark.sparkContext)
    try {
      a.workload match {
        case "olap" => new QuerySuite(spark, a, report, tracer).runOlap()
        case "pipeline" => new QuerySuite(spark, a, report, tracer).runPipeline()
        case "lake_txn" => new LakeTxn(spark, a, report, tracer).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      report.extra("env") = env(spark)
      report.extra("peak_rss_mb") = peakRssMb
    } finally {
      Files.writeString(a.out, Serialization.write(Map(
        "setup" -> report.setup, "passes" -> report.passes,
        "ops" -> report.ops, "checks" -> report.checks,
        "spans" -> report.spans, "extra" -> report.extra))(DefaultFormats))
      spark.stop()
    }
  }

  /** The session a user of the engine would open on one machine: every core,
    * the gate harness's confs, and no graft tuning knobs. */
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Between timed operations, outside every timed window: drop the
    * relation pins and broadcasts the engine keeps for one query, so
    * each operation measures identical work. */
  def releaseCaches(spark: SparkSession): Unit = {
    graft.ops.BigWindow.releaseCaches()
    graft.ops.Dedup.releaseCaches()
    graft.plans.ProbeAgg.releaseBroadcasts()
    spark.catalog.clearCache()
  }

  def probeCacheOn: Boolean =
    !sys.props.get("spark.graft.probe.cache")
      .orElse(sys.env.get("SPARK_GRAFT_PROBE_CACHE")).contains("0")

  private def env(spark: SparkSession): Map[String, Any] = Map(
    "cores" -> Runtime.getRuntime.availableProcessors,
    "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
    "spark" -> spark.version,
    "probe_cache" -> (if (probeCacheOn) "on" else "off"),
    "probe_cache_hits" -> graft.plans.ProbeAgg.probeCacheHits.get,
    "probe_cache_misses" -> graft.plans.ProbeAgg.probeCacheMisses.get)

  /** The JVM's peak resident set (VmHWM), in MiB. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(-1.0)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => try Files.deleteIfExists(f) catch { case _: Exception => })
    finally s.close()
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Runs whole passes while the projected total stays within 5/4 of the
    * time budget (at least one). With tracing, passes alternate untraced
    * and traced, starting and ending untraced (at least three), so linear
    * warm-up drift cancels out of the traced-minus-untraced overhead.
    * `pass(i, traced)` returns the pass's time in ms. */
  def timedPasses(a: Args)(pass: (Int, Boolean) => Double): Unit = {
    var total = 0.0
    var i = 0
    while (i == 0 || total + total / i <= a.seconds * 1250.0 ||
        (a.trace && (i < 3 || i % 2 == 0))) {
      total += pass(i, a.trace && i % 2 == 1)
      i += 1
    }
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** The olap and pipeline workloads: a fixed list of SparkEntry queries,
  * each pass running every one once in a seeded order. */
final class QuerySuite(spark: SparkSession, a: Harness.Args,
    report: Harness.Report, tracer: Tracer) {
  import Harness._

  /** The SQL-shaped headline queries: TPC-H/DS shapes, window, rollup,
    * CTE, sessionize and geo. */
  val olapQueries: Seq[String] = Seq(
    "q1_agg", "q3_shipping", "q5_local_supplier", "q6_forecast_revenue",
    "q10_returned_items", "q_join_inner", "q_agg_stats", "q_rollup",
    "q_win_rank", "q_win_frame_rows", "q_cte",
    "qds_channel_rollup", "qds_yoy", "qds_top_per_group",
    "q_sessionize", "q_geo_zones")

  /** The pipeline operators, by their SparkEntry names, so the declared
    * oracle applies. */
  val pipelineOps: Seq[String] = Seq("q_dedup_exact", "q_dedup_exact_fast",
    "q_dedup_minhash", "q_sim_cosine", "q_text_stats")

  private var opId = 0

  def runOlap(): Unit = {
    // olap's input is the fixture itself: set-up is opening its tables
    val prep = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      graft.Tables.names.foreach(n =>
        spark.read.parquet(s"${a.fixture}/$n.parquet").schema)
      ms(t0)
    }
    report.setup("prep_ms") = prep
    run(olapQueries, a.fixture)
  }

  def runPipeline(): Unit = {
    val k = if (a.smoke) 1 else Pipeline.Replicas
    val prep = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      Pipeline.buildCorpus(spark, a.fixture,
        a.inputs.resolve(s"corpus-$i").toString, k)
      ms(t0)
    }
    val dir = a.inputs.resolve("corpus-3").toString
    (1 to 2).foreach(i => deleteTree(a.inputs.resolve(s"corpus-$i")))
    report.setup("prep_ms") = prep
    report.extra("replicas") = k
    report.extra("corpus_docs") =
      spark.read.parquet(s"$dir/documents.parquet").count()
    run(pipelineOps, dir)
  }

  private def run(names: Seq[String], dir: String): Unit = {
    val rng = new scala.util.Random(a.seed)
    report.extra("data_dir") = dir
    report.extra("oracle_sql") = names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
    val first = names.map(q => runOne(q, dir, -1, traced = false))
    report.ops ++= first.map(_.toMap)
    report.setup("first_pass_ms") = first.map(_("ms").asInstanceOf[Double]).sum
    timedPasses(a) { (p, traced) =>
      if (traced) { tracer.reset(); tracer.attach() }
      val recs = rng.shuffle(names).map(q => runOne(q, dir, p, traced))
      if (traced) report.closeTrace(tracer, recs)
      report.ops ++= recs.map(_.toMap)
      val t = recs.map(_("ms").asInstanceOf[Double]).sum
      report.passes += Map("pass" -> p, "traced" -> traced, "ms" -> t)
      t
    }
  }

  /** One query: construct the DataFrame, force its physical plan, then run
    * it while digesting its rows. */
  private def runOne(q: String, dir: String, pass: Int,
      traced: Boolean): mutable.Map[String, Any] = {
    val op = opId
    opId += 1
    def phase[T](name: String)(body: => T): T =
      if (traced) tracer.span(name, op)(body) else body
    val t0 = System.nanoTime()
    var tc, tp = 0.0
    val rec = mutable.LinkedHashMap[String, Any]("op" -> op, "pass" -> pass, "q" -> q)
    try {
      val df: DataFrame = phase("queries.construct") {
        graft.SparkEntry.queries(q)(spark, dir)
      }
      tc = ms(t0)
      phase("plans.plan")(df.queryExecution.executedPlan)
      tp = ms(t0) - tc
      val d = phase("exec.run")(Digest.of(df))
      rec ++= Seq("rows" -> d.rows, "hash" -> d.hashString)
    } catch { case e: Throwable => rec("error") = errorText(e) }
    val total = ms(t0)
    rec ++= Seq("ms" -> total, "construct_ms" -> tc, "plan_ms" -> tp,
      "exec_ms" -> (total - tc - tp))
    releaseCaches(spark)
    rec
  }
}

object Pipeline {
  /** Corpus size: the fixture's documents and embeddings ×2 (minhash,
    * which dominates the pass, takes 3-4 s warm on 4 cores). */
  val Replicas = 2

  /** Replicates documents/embeddings `k`× as GenScale does: replica 0
    * keeps the text, and in every other replica each word becomes a
    * 6-hex-char token keyed by (word, replica). Inside a replica the
    * substitution is a bijection on words, so the fixture's near-duplicate
    * structure survives; across replicas the shingle sets are disjoint, so
    * replicas do not become near-duplicates of each other. (A shared
    * suffix salt would plant k-way duplicate clusters and a quadratically
    * larger minhash verify: a different workload, not a bigger one.)
    * The corpus does not depend on the seed, which only orders the
    * operators: seeded tokens, and even seeded document ids, moved the
    * minhash time by a fifth to a third from one seed to the next. */
  def buildCorpus(spark: SparkSession, fixture: String, out: String,
      k: Int): Unit = {
    import org.apache.spark.sql.functions._
    val ks = explode(array((0 until k).map(lit): _*))
    val docs = spark.read.parquet(s"$fixture/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0)
    val cores = spark.sparkContext.defaultParallelism
    docs.withColumn("_k", ks)
      .withColumn("text", when(col("_k") === 0, col("text")).otherwise(
        array_join(transform(split(col("text"), " "), w =>
          lower(substring(hex(xxhash64(w, col("_k"))), 1, 6))), " ")))
      .select((col("doc_id") + col("_k") * (maxDoc + 1)).as("doc_id"),
        col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .repartition(cores)
      .write.parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$fixture/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0)
    emb.withColumn("_k", ks)
      .select((col("vec_id") + col("_k") * (maxVec + 1)).as("vec_id"),
        col("embedding"), col("label"))
      .repartition(cores)
      .write.parquet(s"$out/embeddings.parquet")
  }
}
