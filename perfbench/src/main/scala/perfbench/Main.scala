package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Runs one workload and writes its run record as JSON.
  *
  * A run: the workload's inputs, made once from the seed and not timed;
  * the set-up step `setupReps` times, each on a fresh session made by
  * `GraftSession.local` (the last session is kept); a calibration
  * probe; the timed closed loop for `seconds` (whole attempts, at least
  * one, the first on a cold JVM); the gates; a second calibration probe.
  * A traced run then repeats the loop for `seconds` under the probe and
  * tracer. The record holds raw observations only; run.py turns them into
  * metrics.
  *
  * Usage: perfbench.Main key=value ... (see run.py for the keys)
  */
object Main {

  /** Fixed host probe: a pure-JVM integer loop and one trivial Spark job.
    * Recorded beside the metrics to identify a contended run, never used to
    * drop, rescale or retry one.
    */
  def calibrate(spark: SparkSession): Map[String, Double] = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val t1 = System.nanoTime()
    spark.sparkContext.parallelize(1 to 1000, 4).map(_ * 2).count()
    val t2 = System.nanoTime()
    Map("cpu_loop_s" -> (t1 - t0) / 1e9, "spark_job_s" -> (t2 - t1) / 1e9,
      "checksum" -> (x & 0xff).toDouble)
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Largest heap occupancy right after a collection, over the whole run:
    * a memory figure that GC timing and heap sizing barely move, unlike RSS.
    */
  private val peakHeap = new AtomicLong(0L)
  private def watchGc(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(new NotificationListener {
        override def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peakHeap.accumulateAndGet(used, math.max)
          }
      }, null, null)
      case _ =>
    }
  }

  /** Scala maps, sequences, options and case classes as JSON. */
  def json(v: Any): String =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    watchGc()
    val kv = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val p = Params(
      workload = kv("workload"), seed = kv("seed").toLong, seconds = kv("seconds").toDouble,
      trace = kv("trace") == "1", work = kv("work"), factRows = kv("fact_rows").toLong,
      setupReps = kv("setup_reps").toInt, tablesDir = kv("tables_dir"),
      expectedHashes = kv("expected_hashes"))
    val w = Workload(p)
    w.prepare()

    // set-up, repeated on fresh sessions; the last session stays up
    var spark: SparkSession = null
    val setups = (1 to p.setupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(s"perfbench-${p.workload}")
      w.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val calBefore = calibrate(spark)

    val nanos = (p.seconds * 1e9).toLong
    val attempts = w.loop(spark, System.nanoTime() + nanos)
    val gates = w.gates(spark)

    // traced run: the loop again, warm, under the probe and tracer
    val traced: Map[String, Any] =
      if (!p.trace) Map.empty
      else {
        val probe = new Probe(spark, factTable = "raw_data_janjune_15")
        probe.attach()
        val epoch = System.nanoTime()
        val tracer = new Tracer(probe, () => (System.nanoTime() - epoch) / 1e9)
        val t = try tracer.span("traced")(w.traced(spark, tracer, System.nanoTime() + nanos))
          finally probe.detach()
        Map("attempts" -> t.attempts, "other" -> t.other,
          "job_checks" -> t.jobChecks, "gates" -> t.gates,
          "cores" -> spark.sparkContext.defaultParallelism, "spans" -> tracer.spans)
      }

    val calAfter = calibrate(spark)
    val record = Map(
      "workload" -> p.workload, "seed" -> p.seed, "trace" -> p.trace,
      "setup_s" -> setups, "attempts" -> attempts, "gates" -> gates,
      "calibration" -> Seq(calBefore, calAfter), "facts" -> w.facts,
      "peak_rss_mb" -> peakRssMb(), "peak_heap_mb" -> peakHeap.get / 1048576.0,
      "traced" -> traced)
    spark.stop()
    Files.writeString(Paths.get(kv("out")), json(record))
  }
}
