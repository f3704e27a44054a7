package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.uber.{Incremental, Ingest, Models, Runner, Schemas}

/** One timed attempt: a name, its wall time and the error that ended it,
  * if any. Every attempt is recorded; none is retried or dropped.
  */
final case class Attempt(name: String, wall_s: Double, error: Option[String])

/** A correctness gate: what was expected, what the program produced. */
final case class Gate(name: String, expected: String, actual: String)

/** A job-total cross-check between an entry point and the public calls it
  * is made of, both run under the probe.
  */
final case class JobCheck(name: String, entry_jobs: Double, parts_jobs: Double)

/** A traced loop's result: attempts comparable to the untraced loop's, other
  * traced attempts (the increments), job cross-checks and gates.
  */
final case class Traced(attempts: Seq[Attempt], other: Seq[Attempt], jobChecks: Seq[JobCheck],
    gates: Seq[Gate])

final case class Params(
    workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
    factRows: Long, setupReps: Int, tablesDir: String, expectedHashes: String)

/** The workload interface the runner drives: inputs made once, a set-up
  * step it repeats and times, a timed closed loop, gates, and a traced
  * variant that times the layer calls from outside.
  */
trait Workload {
  /** Makes the inputs from the seed; not timed. */
  def prepare(): Unit = ()
  /** What the program does on a fresh session before its first operation,
    * beyond creating the session.
    */
  def setup(spark: SparkSession): Unit = ()
  /** Timed closed loop until `deadline` (nanoTime); at least one attempt. */
  def loop(spark: SparkSession, deadline: Long): Seq[Attempt]
  /** Gates over what the loops produced since the last call. */
  def gates(spark: SparkSession): Seq[Gate]
  def traced(spark: SparkSession, tracer: Tracer, deadline: Long): Traced
  /** Sizes the per-layer analysis needs. */
  def facts: Map[String, Double]
}

object Workload {
  def timed(name: String)(body: => Unit): Attempt = {
    val t0 = System.nanoTime()
    val err = try { body; None } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    Attempt(name, (System.nanoTime() - t0) / 1e9, err)
  }

  /** Closed loop: attempts `op(i)` for i = 0, 1, ... until the deadline. */
  def closedLoop(deadline: Long)(op: Int => Attempt): Seq[Attempt] = {
    val out = ArrayBuffer.empty[Attempt]
    var i = 0
    while (out.isEmpty || System.nanoTime() < deadline) { out += op(i); i += 1 }
    out.toSeq
  }

  private def walk[T](path: String)(f: Iterator[java.nio.file.Path] => T): Option[T] = {
    val root = new File(path).toPath
    if (!Files.exists(root)) None
    else {
      val s = Files.walk(root)
      try Some(f(s.iterator().asScala)) finally s.close()
    }
  }

  /** Data files under `path` with their modification times. */
  def dataFiles(path: String): Map[String, Long] =
    walk(path)(_.filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap).getOrElse(Map.empty)

  def deleteTree(path: String): Unit =
    walk(path)(_.toSeq.reverse.foreach(Files.delete))

  def fingerprintGate(name: String, expected: => DataFrame, actual: => DataFrame): Gate = {
    def fp(df: => DataFrame): String =
      try HashSink.fingerprint(df, name).toString
      catch { case e: Throwable => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    Gate(name, fp(expected), fp(actual))
  }

  def apply(p: Params): Workload = p.workload match {
    case "uber_build" => new UberBuild(p)
    case "operator_mix" => new OperatorMix(p)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

import Workload._

/** The reference's daily full build: `Runner.runAll` then `Runner.runChecks`
  * over seeded CSVs. Its traced run also times the incremental path the
  * scheduler's drop-folder tick takes: `Incremental.fullBuild`, then
  * `Runner.runIncrement` calls that each restate one or two months.
  */
final class UberBuild(p: Params) extends Workload {
  private val csv = s"${p.work}/uber_csv"
  private val drops = s"${p.work}/uber_drops"
  private val wh = s"${p.work}/uber_wh"
  private val out = s"${p.work}/uber_out"
  private val inc = s"${p.work}/uber_inc"
  private val increments = 2
  private var incPaths: Seq[String] = Nil
  private var csvBytes = 0.0
  private var lastChecks: Seq[graft.uber.Checks.CheckResult] = Nil
  private val incFacts = ArrayBuffer.empty[(Double, Double)] // (csv bytes, files written)

  override def prepare(): Unit = {
    Seq(csv, drops, wh, out, inc).foreach(deleteTree)
    csvBytes = UberData.sources(csv, p.factRows, p.seed).toDouble
    if (p.trace)
      incPaths = (0 until increments).map(i => UberData.increment(drops, i, p.factRows, p.seed))
  }

  private def build(spark: SparkSession): Unit = {
    Runner.runAll(spark, csv, wh, out)
    lastChecks = Runner.runChecks(spark)
    val failed = lastChecks.filterNot(_.passed)
    if (failed.nonEmpty) throw new IllegalStateException(
      "source checks failed: " + failed.map(c => s"${c.table}.${c.column} ${c.check}").mkString(", "))
  }

  override def loop(spark: SparkSession, deadline: Long): Seq[Attempt] =
    closedLoop(deadline)(i => timed(s"build_$i")(build(spark)))

  /** The 8 source checks of the last build, and every written model against
    * its `Runner.FrameForm` twin recomputed from the same sources.
    */
  override def gates(spark: SparkSession): Seq[Gate] = {
    val checks = lastChecks.map(c =>
      Gate(s"check.${c.table}.${c.column}.${c.check}", "0", c.failures.toString))
    val models = Models.all.flatMap { m =>
      val twin = Runner.runModel(spark, m, Runner.FrameForm)
      val written = spark.read.parquet(s"$out/${m.name}")
      if (m.name != "pickup_percentile_by_base_per_month")
        Seq(fingerprintGate(s"model.${m.name}", twin, written))
      else
        // UberSpec's twin contract for this model: on NULL-month groups the
        // literal correlated subquery gives a NULL share where the window
        // form sums the group, so the twins agree on the non-null months
        // and on the row count
        Seq(fingerprintGate(s"model.${m.name}",
            twin.filter(col("month").isNotNull), written.filter(col("month").isNotNull)),
          Gate(s"model.${m.name}.rows", twin.count().toString, written.count().toString))
    }
    Gate("check.count", "8", lastChecks.size.toString) +: (checks ++ models)
  }

  override def traced(spark: SparkSession, tracer: Tracer, deadline: Long): Traced = {
    val attempts = ArrayBuffer.empty[Attempt]
    val jobChecks = ArrayBuffer.empty[JobCheck]
    def last(name: String) = tracer.spans.filter(_.name == name).last
    var i = 0
    while (attempts.isEmpty || System.nanoTime() < deadline) {
      // the entry points, as the untraced loop calls them
      attempts += timed(s"build_$i")(tracer.span("build") {
        tracer.span("runAll")(Runner.runAll(spark, csv, wh, out))
        lastChecks = tracer.span("runChecks")(Runner.runChecks(spark))
      })
      // the public calls runAll is made of, in its order
      tracer.span("build.parts") {
        tracer.span("ingest")(Ingest.ingestAll(spark, csv, wh))
        Models.all.foreach { m =>
          tracer.span(s"models.${m.name}") {
            Runner.runModel(spark, m).write.mode("overwrite").parquet(s"$out/${m.name}")
          }
        }
        tracer.span("readback")(Models.all.foreach(m =>
          spark.read.parquet(s"$out/${m.name}").count()))
        lastChecks = tracer.span("checks")(Runner.runChecks(spark))
      }
      val parts = ("ingest" +: Models.all.map(m => s"models.${m.name}") :+ "readback").map(last)
      jobChecks += JobCheck(s"runAll_$i", last("runAll").counters("jobs"),
        parts.map(_.counters("jobs")).sum)
      i += 1
    }
    val gates = this.gates(spark)

    // the incremental path on the same sources
    tracer.span("fullbuild")(Incremental.fullBuild(spark, inc))
    val incAttempts = incPaths.zipWithIndex.map { case (path, j) =>
      val a = timed(s"increment_$j")(tracer.span("increment") {
        Runner.runIncrement(spark, path, wh, inc)
      })
      // the same increment again through the calls runIncrement is made
      // of (a restatement is idempotent, so the state is unchanged)
      tracer.span("increment.parts") {
        val df = tracer.span("read_csv")(Ingest.readCsv(spark, path, Schemas.rawDataJanjune15))
        val months = tracer.span("affected_months")(Incremental.affectedMonths(df))
        tracer.span("ingest_increment")(Ingest.ingestFactIncrement(spark, path, wh))
        val before = dataFiles(inc)
        tracer.span("apply")(Incremental.applyIncrement(spark, inc, months))
        val written = dataFiles(inc).count { case (f, t) => !before.get(f).contains(t) }
        incFacts += ((new File(path).length().toDouble, written.toDouble))
      }
      jobChecks += JobCheck(s"runIncrement_$j", last("increment").counters("jobs"),
        last("increment.parts").counters("jobs"))
      a
    }
    // IncrementalSpec's property: every maintained model equals a full
    // recompute over the restated sources
    val incGates = Models.all.map(m => fingerprintGate(s"incremental.${m.name}",
      Runner.runModel(spark, m, Runner.FrameForm), Incremental.readModel(spark, inc, m.name)))
    Traced(attempts.toSeq, incAttempts, jobChecks.toSeq, gates ++ incGates)
  }

  override def facts: Map[String, Double] = {
    val median = (xs: Seq[Double]) => if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    Map("pass_size" -> 1.0, "csv_bytes" -> csvBytes, "fact_rows" -> p.factRows.toDouble,
      "increment_csv_bytes" -> median(incFacts.map(_._1).toSeq),
      "files_written_per_increment" -> median(incFacts.map(_._2).toSeq))
  }
}

/** The operator library: 24 registry queries from every family over the
  * repository's sf0.01 test tables, one pass in seeded order. Each query is forced through the hash sink, which runs the
  * `noop` sink's write path and fingerprints the rows on the way, so every
  * timed attempt is also gated against the recorded oracle-checked result.
  */
final class OperatorMix(p: Params) extends Workload {
  import OperatorMix._

  private val order: Seq[String] = new scala.util.Random(p.seed).shuffle(Queries)
  private val checked = ArrayBuffer.empty[Gate]

  /** Load the ten tables the queries read into the session's plan cache. */
  override def setup(spark: SparkSession): Unit =
    Tables.names.foreach(Tables.load(spark, p.tablesDir, _))

  private lazy val expected: Map[String, String] = {
    val src = scala.io.Source.fromFile(p.expectedHashes)
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap
    finally src.close()
  }

  /** One query through the hash sink; its fingerprint is gated. */
  private def run(spark: SparkSession, q: String): Attempt = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var fp = ""
    val a = timed(q) {
      fp = HashSink.fingerprint(SparkEntry.queries(q)(spark, p.tablesDir), q).toString
    }
    checked += Gate(s"query.$q", expected.getOrElse(q, "missing"),
      a.error.map("error: " + _).getOrElse(fp))
    // drop the query's checkpoint blocks outside the timed window (Bench's idiom)
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
    a
  }

  /** Whole passes until the deadline; at least one. */
  override def loop(spark: SparkSession, deadline: Long): Seq[Attempt] = {
    val out = ArrayBuffer.empty[Attempt]
    while (out.isEmpty || System.nanoTime() < deadline) out ++= order.map(run(spark, _))
    out.toSeq
  }

  override def gates(spark: SparkSession): Seq[Gate] = {
    val g = checked.toSeq
    checked.clear()
    g
  }

  override def traced(spark: SparkSession, tracer: Tracer, deadline: Long): Traced = {
    val out = ArrayBuffer.empty[Attempt]
    while (out.isEmpty || System.nanoTime() < deadline)
      tracer.span("pass") {
        out ++= order.map(q => tracer.span(s"query.${familyOf(q)}.$q")(run(spark, q)))
      }
    Traced(out.toSeq, Nil, Nil, gates(spark))
  }

  override def facts: Map[String, Double] = Map("pass_size" -> Queries.size.toDouble)
}

object OperatorMix {
  /** Every family, and the shared primitives the library leans on:
    * Materialize (iterative graph and dedup queries), KeyedRank (v22, v24),
    * JoinOps.rareKeyPairs (d9, mm11) and Par branches (v14, v22, v24, d19).
    */
  val Queries: Seq[String] = Seq(
    "q1_agg", "q5_join_broadcast", "q9_window_avg_case", "q23_asof_join",
    "q72_incremental_models",
    "t1_text_stats", "t10_tfidf", "t21_bpe_merges", "t46_classifier_train",
    "d1_exact_dedup", "d3_minhash_lsh", "d9_containment", "d19_oph_minhash",
    "v1_knn_brute", "v14_ivfpq", "v22_hybrid_eval", "v24_ann_hybrid",
    "g1_pagerank", "g5_kcore", "g15_cc_star",
    "mm4_phash", "mm11_video_neardup",
    "p1_corpus_pipeline", "p2_training_prep")

  def familyOf(q: String): String = q.takeWhile(_.isLetter) match {
    case "q" => "relational"
    case "t" => "text"
    case "d" => "dedup"
    case "v" => "similarity"
    case "g" => "graph"
    case "mm" => "multimodal"
    case "p" => "pipeline"
  }
}
