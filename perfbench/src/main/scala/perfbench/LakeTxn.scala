package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{LakeTable, MetadataIO}
import graft.engine.Engine

/** The lake_txn workload: one writer and reader on a lake table built from
  * the fixture's lineitem (64 files, written sorted on l_orderkey). Each
  * pass starts from a fresh copy of that table and runs two cycles
  * of a seeded mix (append, point and range scans, a SQL aggregate over
  * the pruned view, COW and MOR deletes, update, upsert), then compacts
  * and expires snapshots. A plain-DataFrame model replays every change;
  * each read's rows and the table's content at the end of every pass are
  * checked against it. Model upkeep runs outside the timed calls. */
final class LakeTxn(spark: SparkSession, a: Harness.Args,
    report: Harness.Report, tracer: Tracer) {
  import Harness._

  private val nFiles = if (a.smoke) 4 else 64
  private val lineitem = spark.read.parquet(s"${a.fixture}/lineitem.parquet")
  private val nRows = lineitem.count()
  private val batchRows = math.max(8, (nRows / 300).toInt) // ~2k at sf0.1
  // new rows draw their keys and dates from the fixture's own ranges
  private val (maxKey, maxPart, maxSupp, day0, nDays) = {
    val ship = col("l_shipdate").cast("timestamp").cast("long")
    val r = lineitem.agg(max("l_orderkey"), max("l_partkey"), max("l_suppkey"),
      min(ship), max(ship)).head()
    (r.getLong(0) + 1, r.getLong(1) + 1, r.getLong(2) + 1,
      r.getLong(3) * 1000, ((r.getLong(4) - r.getLong(3)) / 86400 + 1).toInt)
  }
  private val rng = new scala.util.Random(a.seed)
  private var nextFresh = 0L
  private var opId = 0

  // row ids lead with l_orderkey (id = key << 40 | position), so the keys
  // an upsert replaces sit in the same few files as their order keys, as
  // in a table clustered on its key. Base rows take positions below 2^39
  // (fewer than 64 input partitions), new rows the ones above.
  require(lineitem.rdd.getNumPartitions < 64, "lineitem too large for row ids")
  private val base: DataFrame = lineitem.select(
    (shiftleft(col("l_orderkey"), 40) + monotonically_increasing_id())
      .as("row_id"), col("l_orderkey"),
    col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
    col("l_quantity"), col("l_extendedprice"), col("l_discount"),
    col("l_tax"), col("l_returnflag"), col("l_linestatus"),
    col("l_shipdate").cast("timestamp").as("l_shipdate"))
  private val schema = base.schema

  /** The expected table content: every change replayed as a DataFrame
    * transformation over the base rows, which are checkpointed in memory
    * once (outside the catalog cache, which the per-operation cache
    * release clears). Reads of the model evaluate the composed plan. */
  private object Model {
    lazy val baseRows: DataFrame = base.localCheckpoint(eager = true)
    var df: DataFrame = _
    def reset(): Unit = df = baseRows
    def count(pred: Column): Long = df.filter(pred).count()
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    Model.baseRows
    report.setup("once_ms") = ms(t0)
    val prep = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      buildBase(a.work.resolve(s"base-$i").toString)
      ms(t0)
    }
    (1 to 2).foreach(i => deleteTree(a.work.resolve(s"base-$i")))
    report.setup("prep_ms") = prep
    val baseDir = a.work.resolve("base-3").toString
    val baseFiles = LakeTable.load(spark, baseDir).liveFiles
    val rowBytes = baseFiles.map(_.sizeBytes).sum.toDouble / nRows
    // the first pass in the fresh JVM: one cycle and the maintenance
    // calls, reported on its own and unchecked
    report.setup("first_pass_ms") =
      runPass(-1, 1, baseDir, rowBytes, traced = false)
    timedPasses(a) { (p, traced) =>
      runPass(p, LakeTxn.CyclesPerPass, baseDir, rowBytes, traced)
    }
  }

  private def buildBase(dir: String): Unit = {
    val tbl = Engine.create(spark, dir, schema.toDDL)
    // AQE would merge the small range partitions into a handful of files;
    // the workload's table is many small files, as streaming appends leave
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try Engine.insertSorted(tbl, Model.baseRows, Seq("l_orderkey"), nFiles)
    finally spark.conf.unset(key)
  }

  /** A fresh table for one pass: the base's data files copied and listed
    * in a new single-snapshot metadata chain. */
  private def copyTable(from: String, to: String): LakeTable = {
    val meta = MetadataIO.readMetadata(from)
    val snap = meta.currentSnapshot.get
    val dataDir = MetadataIO.dataDir(to)
    Files.createDirectories(dataDir)
    val files = MetadataIO.liveFiles(from, snap).map { f =>
      val src = Paths.get(f.path.stripPrefix("file:"))
      val dst = dataDir.resolve(src.getFileName)
      Files.copy(src, dst)
      f.copy(path = dst.toString)
    }
    val manifest = MetadataIO.writeManifest(to, files)
    MetadataIO.commitMetadata(to, meta.copy(
      snapshots = List(snap.copy(manifests = List(manifest)))))
    LakeTable.load(spark, to)
  }

  /** One pass on a fresh table copy; pass -1 is the unchecked first pass. */
  private def runPass(p: Int, nCycles: Int, baseDir: String,
      rowBytes: Double, traced: Boolean): Double = {
    val dir = a.work.resolve(s"pass-$p").toString
    val tbl = copyTable(baseDir, dir)
    Model.reset()
    if (traced) { tracer.reset(); tracer.attach() }
    val recs = mutable.ArrayBuffer[mutable.Map[String, Any]]()
    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    var logicalRows = 0L
    val kinds = Seq("append", "point_scan", "range_scan", "sql_agg",
      "delete_cow", "delete_mor", "update", "upsert")
    for (_ <- 0 until nCycles) {
      rng.shuffle(kinds).foreach { k =>
        val r = op(tbl, dir, p, k, traced)
        logicalRows += r.getOrElse("changed_rows", 0L).asInstanceOf[Long]
        recs += r
      }
      val meta = tbl.meta
      samples += Map("live_files" -> tbl.liveFiles.size,
        "manifests" -> meta.currentSnapshot.map(_.manifests.size).getOrElse(0),
        "metadata_bytes" -> treeBytes(MetadataIO.metaDir(dir)).values.sum)
    }
    recs += op(tbl, dir, p, "compact", traced)
    recs += op(tbl, dir, p, "expire", traced)
    if (traced) report.closeTrace(tracer, recs.toSeq)
    if (p >= 0)
      check(s"pass $p table", Digest.of(tbl.toDF), Digest.of(Model.df))
    val live = tbl.liveFiles.filterNot(_.isAnyDelete).map(_.sizeBytes).sum
    val t = recs.map(_("ms").asInstanceOf[Double]).sum
    report.ops ++= recs.map(_.toMap)
    report.passes += Map("pass" -> p, "traced" -> traced, "ms" -> t,
      "dir_bytes" -> treeBytes(Paths.get(dir)).values.sum, "live_bytes" -> live,
      "bytes_added" -> recs.map(_.getOrElse("bytes_added", 0L).asInstanceOf[Long]).sum,
      "logical_bytes" -> logicalRows * rowBytes, "samples" -> samples.toList)
    deleteTree(Paths.get(dir))
    t
  }

  private def check(what: String, got: Digest.Result,
      want: Digest.Result): Unit =
    report.checks += Map("check" -> what, "ok" -> (got == want),
      "rows" -> got.rows, "expected_rows" -> want.rows)

  private def keyRange(width: Long): Column = {
    val lo = rng.nextLong(math.max(1L, maxKey - width))
    col("l_orderkey").between(lo, lo + width - 1)
  }

  /** A row id for a new row under order key `key`. */
  private def freshId(key: Long): Long = {
    nextFresh += 1
    (key << 40) | (1L << 39) | nextFresh
  }

  /** New order keys inside one seeded window of `width` keys. */
  private def keysIn(n: Int, width: Long): Seq[Long] = {
    val lo = rng.nextLong(math.max(1L, maxKey - width))
    Seq.fill(n)(lo + rng.nextLong(width))
  }

  /** Lineitem-shaped rows with seeded values for the given (id, key)s. */
  private def batch(idKeys: Seq[(Long, Long)]): DataFrame = {
    val rows = idKeys.map { case (id, k) =>
      Row(id, k, rng.nextLong(maxPart), rng.nextLong(maxSupp),
        1 + rng.nextInt(7), (1 + rng.nextInt(50)).toDouble,
        math.round(rng.nextDouble() * 10410000) / 100.0 + 900.0,
        rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
        Seq("A", "N", "R")(rng.nextInt(3)), Seq("F", "O")(rng.nextInt(2)),
        new java.sql.Timestamp(day0 + rng.nextInt(nDays) * 86400000L))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** One timed operation plus its model upkeep and checks. */
  private def op(tbl: LakeTable, dir: String, p: Int, kind: String,
      traced: Boolean): mutable.Map[String, Any] = {
    val id = opId
    opId += 1
    def layer[T](name: String)(body: => T): T =
      if (traced) tracer.span(name, id)(body) else body
    val rec = mutable.LinkedHashMap[String, Any]("op" -> id, "pass" -> p,
      "kind" -> kind)
    val isRead = Set("point_scan", "range_scan", "sql_agg")(kind)
    rec("class") = if (isRead) "read" else "write"
    val before = if (isRead) Map.empty[Path, Long] else treeBytes(Paths.get(dir))
    // start() restarts the clock at the timed call; an op that fails
    // before it is timed from its entry
    var t0 = System.nanoTime()
    def start(): Unit = t0 = System.nanoTime()
    val verify = p >= 0
    def expectRows(got: Long, model: => Long): Unit = if (verify) {
      val want = model
      rec ++= Seq("rows" -> got, "expected_rows" -> want)
      if (got != want) rec("error") = s"$kind returned $got rows, model $want"
    }
    try kind match {
      case "append" =>
        val b = batch(keysIn(batchRows, math.max(1L, maxKey / 50))
          .map(k => (freshId(k), k)))
        val n = b.count()
        start(); layer("engine.append")(Engine.insert(tbl, b)); rec("ms") = ms(t0)
        if (verify) Model.df = Model.df.unionByName(b)
        rec("changed_rows") = n
      case "point_scan" | "range_scan" =>
        val pred =
          if (kind == "point_scan") col("l_orderkey") === rng.nextLong(maxKey)
          else keyRange(math.max(1L, maxKey / 50))
        start()
        val (df, st) = layer("core.scan")(tbl.scan(pred))
        rec("scan_plan_ms") = ms(t0)
        val n = layer("exec.run")(df.count())
        rec("ms") = ms(t0)
        rec ++= Seq("files_scanned" -> st.scanned, "files_skipped" -> st.skipped)
        expectRows(n, Model.count(pred))
      case "sql_agg" =>
        val width = math.max(1L, maxKey / 20)
        val lo = rng.nextLong(math.max(1L, maxKey - width))
        val pred = col("l_orderkey").between(lo, lo + width - 1)
        start()
        val idx = layer("core.register")(Engine.registerTable(tbl, "lake_lineitem"))
        val got = layer("exec.run")(Digest.of(Engine.sql(spark, Map.empty,
          s"""SELECT l_returnflag, count(*) AS n, max(l_quantity) AS q
             |FROM lake_lineitem WHERE l_orderkey BETWEEN $lo AND ${lo + width - 1}
             |GROUP BY l_returnflag""".stripMargin)))
        rec("ms") = ms(t0)
        val st = idx.lastScan.get
        rec ++= Seq("files_scanned" -> st.scanned, "files_skipped" -> st.skipped)
        if (verify) {
          val want = Digest.of(Model.df.filter(pred).groupBy("l_returnflag")
            .agg(count(lit(1)).as("n"), max("l_quantity").as("q")))
          expectRows(got.rows, want.rows)
          if (got != want) rec("error") = "sql_agg result differs from the model"
        }
      case "delete_cow" | "delete_mor" =>
        val pred = keyRange(math.max(1L, maxKey / 1000))
        start()
        val r = layer(s"engine.$kind")(
          if (kind == "delete_cow") Engine.delete(tbl, pred)
          else Engine.deleteMor(tbl, pred))
        rec("ms") = ms(t0)
        rec ++= Seq("rewritten" -> r.rewrittenFiles, "dropped" -> r.droppedFiles)
        if (verify) {
          rec("changed_rows") = Model.count(pred)
          Model.df = Model.df.filter(!pred)
        }
      case "update" =>
        val pred = keyRange(math.max(1L, maxKey / 1000))
        start()
        val r = layer("engine.update")(Engine.update(tbl, pred,
          Map("l_quantity" -> (col("l_quantity") + 1))))
        rec("ms") = ms(t0)
        rec ++= Seq("rewritten" -> r.rewrittenFiles, "dropped" -> r.droppedFiles)
        if (verify) {
          rec("changed_rows") = Model.count(pred)
          Model.df = Model.df.withColumn("l_quantity",
            when(pred, col("l_quantity") + 1).otherwise(col("l_quantity")))
        }
      case "upsert" =>
        // half the batch replaces rows of one narrow order-key window, half
        // is new rows in the same window
        val m = math.max(2, batchRows / 4)
        val width = math.max(1L, maxKey / 1000)
        val lo = rng.nextLong(math.max(1L, maxKey - width))
        val present = Model.df.filter(col("l_orderkey").between(lo, lo + width - 1))
          .select("row_id", "l_orderkey").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted
        val old = rng.shuffle(present.toSeq).take(m / 2)
        val b = batch(old ++ Seq.fill(m - old.size) {
          val k = lo + rng.nextLong(width)
          (freshId(k), k)
        })
        start()
        layer("engine.upsert")(Engine.upsertByKey(tbl, Seq("row_id"), b))
        rec("ms") = ms(t0)
        if (verify)
          Model.df = Model.df.join(b.select("row_id"), Seq("row_id"), "left_anti")
            .unionByName(b)
        rec("changed_rows") = m.toLong
      case "compact" =>
        start(); layer("engine.compact")(Engine.compact(tbl)); rec("ms") = ms(t0)
      case "expire" =>
        start(); layer("engine.expire")(Engine.expireSnapshots(tbl)); rec("ms") = ms(t0)
    } catch { case e: Throwable =>
      rec("error") = errorText(e)
      if (!rec.contains("ms")) rec("ms") = ms(t0)
    }
    if (!isRead) {
      val after = treeBytes(Paths.get(dir))
      rec("bytes_added") =
        after.collect { case (f, n) if !before.get(f).contains(n) => n }.sum
    }
    releaseCaches(spark)
    rec
  }

  /** Regular files under `root` with their sizes. */
  private def treeBytes(root: Path): Map[Path, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f -> Files.size(f)).toMap
      finally s.close()
    }
}

object LakeTxn {
  /** Cycles per pass; each pass closes with compaction and expiry. */
  val CyclesPerPass = 2
}
