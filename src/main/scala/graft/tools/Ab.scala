package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Interleaved A/B of gate queries under named session-conf arms — the
  * one harness behind the measured choices cited in BASELINE.md.
  *
  * Usage: Ab <sfDir> <query>[,<query>...] <reps> <arm> [<arm> ...]
  * An arm is `name` (session defaults) or `name:k=v[,k=v...]`, e.g.
  * `group join:spark.graft.minhash.candPath=join`. Arm confs are set on
  * the session before the query's DataFrame is built and restored after
  * it runs, so only runtime (SQL) confs can vary per arm.
  *
  * One untimed warm round, then `reps` rounds; a round runs every
  * (query, arm) pair once, and every other round reverses the arm order
  * so drift and neighbour effects land on each arm alike. Each run
  * writes to the noop sink and then releases the engine's per-query
  * caches, as Bench does, so every rep recomputes the same work. Prints,
  * per query and arm, the median and quartiles of the wall seconds and
  * of the task CPU ms (executorCpuTime summed over the run's tasks,
  * eager construction-time jobs included).
  */
object Ab {
  final case class Arm(name: String, confs: Seq[(String, String)])

  def parseArm(s: String): Arm = s.split(":", 2) match {
    case Array(name) => Arm(name, Nil)
    case Array(name, kvs) => Arm(name, kvs.split(",").toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => (k, v)
        case _ => throw new IllegalArgumentException(
          s"arm $name: '$kv' is not k=v")
      }
    })
  }

  /** Linear-interpolated quantile of a non-empty sample. */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.size) s(lo)
    else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }

  /** "median (q1-q3)" of a sample, formatted with `fmt`. */
  private def summary(xs: Seq[Double], fmt: String): String =
    s"${fmt.format(quantile(xs, 0.5))} (${fmt.format(quantile(xs, 0.25))}" +
      s"-${fmt.format(quantile(xs, 0.75))})"

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: Ab <sfDir> <query>[,<query>...] <reps> <arm> [<arm> ...]")
    graft.plans.ProbeAgg.pinColdUnlessRequested()
    val sfDir = args(0)
    val queries = args(1).split(",").toSeq
    val reps = args(2).toInt
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val arms = args.drop(3).toSeq.map(parseArm)
    require(arms.map(_.name).distinct.size == arms.size,
      s"arm names must differ: ${arms.map(_.name).mkString(" ")}")
    queries.foreach(q => require(graft.SparkEntry.queries.contains(q),
      s"unknown query $q"))

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpuNs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
    })

    /** One run: (wall seconds, task CPU ms). */
    def run(q: String, arm: Arm): (Double, Double) = {
      val prior = arm.confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      arm.confs.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.catalog.clearCache()
      GraftBridge.awaitListeners(spark.sparkContext)
      val c0 = cpuNs.get
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(q)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      GraftBridge.awaitListeners(spark.sparkContext)
      val cpuMs = (cpuNs.get - c0) / 1e6
      graft.ops.BigWindow.releaseCaches()
      graft.ops.Dedup.releaseCaches()
      graft.plans.ProbeAgg.releaseBroadcasts()
      (wall, cpuMs)
    }

    val acc = scala.collection.mutable.Map
      .empty[(String, String), List[(Double, Double)]].withDefaultValue(Nil)
    (0 to reps).foreach { round =>
      val order = if (round % 2 == 0) arms else arms.reverse
      for (q <- queries; arm <- order) {
        val r = run(q, arm)
        if (round > 0) acc((q, arm.name)) = r :: acc((q, arm.name))
      }
    }
    for (q <- queries; arm <- arms) {
      val rs = acc((q, arm.name))
      println(f"[ab] $q%-24s ${arm.name}%-12s " +
        s"wall_s ${summary(rs.map(_._1), "%.3f")}  " +
        s"cpu_ms ${summary(rs.map(_._2), "%.0f")}  (${rs.size} reps)")
    }
    spark.stop()
  }
}
