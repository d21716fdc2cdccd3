package kmbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkInternals
import org.apache.spark.sql.SparkSession

import graft.eval.Silhouette
import graft.kmeans.{Assign, KMeansRunner, Points, Sinks}

/** Benchmark driver for one workload of the K-Means pipeline. It calls the
  * public `graft.kmeans` / `graft.eval` API on generated CSV files and
  * writes one JSON document with set-up times, per-repetition wall times
  * and outputs, and, on a traced run, spans plus Spark job/stage counters.
  * `kmbench/run.py` turns that document into checked metrics.
  *
  * Arguments are `key=value`:
  *   kind=lloyd|silhouette  inputs=<dir>  k=<int>  r=<int>
  *   cores=<int>  partitions=<int>
  *   setups=<int>  seconds=<double>  min_reps=<int>  max_reps=<int>
  *   trace=0|1  work=<dir>  out=<json>
  *
  * Repetition i (set-ups included) reads `<inputs>/points-<i>.csv` and
  * `<inputs>/seeds-<i>.csv`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val work = Paths.get(opt("work"))
    val trace = opt("trace") == "1"

    val setupS = mutable.ArrayBuffer.empty[Double]
    val reps = mutable.ArrayBuffer.empty[Map[String, Any]]
    var session: Bench = null
    // Each set-up starts a fresh session and runs one untimed repetition;
    // the last one's session is kept for the timed repetitions.
    for (i <- 0 until opt("setups").toInt) {
      if (session != null) session.spark.stop()
      val t0 = System.nanoTime()
      session = new Bench(opt, work, reps)
      session.repetition("warmup", traced = false)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val b = session

    val seconds = opt("seconds").toDouble
    val (minReps, maxReps) = (opt("min_reps").toInt, opt("max_reps").toInt)
    val t0 = System.nanoTime()
    var n = 0
    // one data set per repetition: `max_reps` counts set-ups and timed ones
    while (reps.size < maxReps && (n < minReps || (System.nanoTime() - t0) / 1e9 < seconds)) {
      // a traced run alternates untraced and traced repetitions, so the
      // tracing overhead is measured inside one process
      b.repetition("timed", traced = trace && n % 2 == 1)
      n += 1
    }
    val (validRows, probeSpan) = b.countValidRows(traced = trace)
    val initRepeat = b.repeatInit()
    b.spark.stop()

    val doc = Map(
      "setup_s" -> setupS.toSeq,
      "vmhwm_kb" -> vmHwmKb,
      "valid_rows" -> validRows,
      "probe_span" -> probeSpan,
      "init_repeat" -> initRepeat,
      "reps" -> reps.toSeq,
      "spans" -> b.tracer.spans.toSeq.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> b.toEpochMs(s.startNs), "end_ms" -> b.toEpochMs(s.endNs),
        "compiles" -> s.compiles))) ++ b.ledger.toJson
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(doc))
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in KiB. */
  def vmHwmKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

/** One Spark session and the workload's repetitions on it. */
final class Bench(opt: Map[String, String], work: Path,
                  reps: mutable.ArrayBuffer[Map[String, Any]]) {
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[${opt("cores")}]")
    .appName("kmbench")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.sql.shuffle.partitions", opt("partitions"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  private val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  val ledger = new Ledger

  // span stamps are System.nanoTime, listener events System.currentTimeMillis
  private val nanoBase = System.nanoTime()
  private val epochBaseMs = System.currentTimeMillis().toDouble
  def toEpochMs(ns: Long): Double = epochBaseMs + (ns - nanoBase) / 1e6

  private val kind = opt("kind")
  private val k = opt("k").toInt
  private def input(name: String, rep: Int) = s"${opt("inputs")}/$name-$rep.csv"

  /** Runs the workload once from the CSV paths to driver-side results. */
  def repetition(label: String, traced: Boolean): Unit = {
    val id = reps.size
    tracer.traced = traced
    if (traced) sc.addSparkListener(ledger)
    val rec = mutable.LinkedHashMap[String, Any]("label" -> label, "traced" -> traced)
    val root = tracer.open("rep")
    try {
      kind match {
        case "lloyd" => lloyd(id, traced, rec)
        case "silhouette" => silhouette(id, rec)
      }
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        rec("error") = s"${e.getClass.getName}: ${e.getMessage}"
    } finally {
      while (tracer.close() ne root) {}
    }
    rec("span") = root.id
    rec("wall_s") = (root.endNs - root.startNs) / 1e9
    if (traced) {
      SparkInternals.drainListenerBus(sc)
      sc.removeSparkListener(ledger)
      tracer.traced = false
      sc.clearJobGroup()
    }
    // release every cache the repetition left behind, counting them first
    rec("leaked_frames") = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    reps += rec.toMap
  }

  /** Rows `Points.readCsv` yields from the first data set, counted outside
    * the timed window. */
  def countValidRows(traced: Boolean): (Long, Int) = {
    tracer.traced = traced
    if (traced) sc.addSparkListener(ledger)
    val span = tracer.open("kmeans.Points.readCsv")
    val n = try Points.readCsv(spark, input("points", 0)).count() finally tracer.close()
    if (traced) {
      SparkInternals.drainListenerBus(sc)
      sc.removeSparkListener(ledger)
      tracer.traced = false
    }
    (n, span.id)
  }

  /** scalableInit again on the first data set, outside the timed window,
    * so its determinism is checked within every run. */
  def repeatInit(): Option[Seq[Seq[Double]]] =
    if (kind != "lloyd") None
    else Some(KMeansRunner.scalableInit(Points.readCsv(spark, input("points", 0)), k)
      .map(p => Seq(p.x, p.y, p.z)))

  private def lloyd(id: Int, traced: Boolean, rec: mutable.Map[String, Any]): Unit = {
    val pts = tracer("kmeans.Points.readCsv") { Points.readCsv(spark, input("points", id)) }
    val seeds = tracer("kmeans.KMeansRunner.scalableInit") { KMeansRunner.scalableInit(pts, k) }
    rec("seeds") = seeds.map(p => Seq(p.x, p.y, p.z))
    // the hook closes iteration i's span and opens the next one, so jobs
    // submitted by the following step land in the right job group; the
    // span left open after the last hook covers the loop's tail
    val hook: KMeansRunner.IterationHook =
      if (!traced) KMeansRunner.noHook
      else (_, _, _) => { tracer.close(); tracer.open("kmeans.KMeansRunner.iteration") }
    val loop = tracer.open("kmeans.KMeansRunner.fixedIterations")
    if (traced) tracer.open("kmeans.KMeansRunner.iteration")
    val res = KMeansRunner.fixedIterations(pts, seeds, opt("r").toInt, hook)
    if (traced) tracer.close()
    tracer.close()
    rec("loop_s") = (loop.endNs - loop.startNs) / 1e9
    rec("iterations") = res.iterations
    rec("centers") = res.centers.map { case (c, p) => Seq(c.toDouble, p.x, p.y, p.z) }
    val dir = work.resolve(s"sink-$id")
    tracer("kmeans.Sinks.finalAssignmentLines") {
      Sinks.finalAssignmentLines(pts, res.centers.map(_._2)).write.text(dir.toString)
    }
    rec("sink_dir") = dir.toString
  }

  private def silhouette(id: Int, rec: mutable.Map[String, Any]): Unit = {
    val pts = tracer("kmeans.Points.readCsv") { Points.readCsv(spark, input("points", id)) }
    val seeds = tracer("kmeans.Points.readSeeds") { Points.readSeeds(input("seeds", id)) }
    val assigned = Assign.assign(pts, seeds)
    val call = tracer.open("eval.Silhouette.metrics")
    val m = try Silhouette.collectMetrics(assigned) finally tracer.close()
    rec("eval_s") = (call.endNs - call.startNs) / 1e9
    rec("silhouette") = m.map { case (c, intra, inter, s) => Seq(c.toDouble, intra, inter, s) }
  }
}
