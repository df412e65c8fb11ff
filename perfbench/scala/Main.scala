package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark JVM: sets a workload up (several times, to time set-up),
  * runs its closed loop for exactly the workload's `opsPerRun` operations,
  * checks the outputs, and writes every raw sample as one JSON object. `run.py` drives it and
  * turns the samples into the reported metrics. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val trace = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath.toString
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try Files.writeString(Paths.get(args("out")), Json.render(run(spark, workload, seed,
      trace, work, args("data"))))
    finally spark.stop()
  }

  def seedRows(spark: SparkSession, path: String): IndexedSeq[Inputs.SeedRow] =
    spark.read.parquet(path).select("doc_id", "text", "lang", "source").collect()
      .map(r => Inputs.SeedRow(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_.docId).toIndexedSeq

  def make(name: String, spark: SparkSession, seed: Long,
           rows: IndexedSeq[Inputs.SeedRow]): Workload = name match {
    case "ingest_resume" => new IngestResume(spark, seed, rows)
    case "curate_corpus" => new CurateCorpus(spark, seed, rows)
    case "curate_stream" => new CurateStream(spark, seed, rows)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def run(spark: SparkSession, name: String, seed: Long, trace: Boolean,
          work: String, data: String): Map[String, Any] = {
    val w = make(name, spark, seed, seedRows(spark, data))
    val setupS = (0 until w.setupRepeats).map { k =>
      val t0 = System.nanoTime()
      w.setup(s"$work/setup-$k", k)
      (System.nanoTime() - t0) / 1e9
    }
    val ops = mutable.ArrayBuffer.empty[Op]
    val errors = mutable.ArrayBuffer.empty[String]
    val layers = new Layers
    val tr = new Tracer(spark.sparkContext, trace)
    if (trace) w.traceOnce(layers)
    val cpu0 = cpuNs(); val wall0 = System.nanoTime()
    for (i <- 0 until w.opsPerRun) {
      val t0 = System.nanoTime()
      ops += (try w.op(i, tr, layers)
      catch {
        case e: Exception =>
          errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          Op((System.nanoTime() - t0) / 1e9, 0L, failed = true)
      })
    }
    val loopCpuS = (cpuNs() - cpu0) / 1e9
    val loopWallS = (System.nanoTime() - wall0) / 1e9
    tr.close()
    val verdict =
      try w.verify(ops.toSeq)
      catch {
        case e: Exception =>
          errors += s"verify: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          Verdict(Seq("verify" -> false), Seq.empty)
      }
    Map(
      "workload" -> name, "seed" -> seed,
      "setup_s" -> setupS,
      "ops" -> ops.map(o => Map("wall_s" -> o.wallS, "docs" -> o.docs, "failed" -> o.failed)),
      "checks" -> verdict.checks.toMap,
      "fingerprints" -> verdict.fingerprints,
      "layers" -> layers.samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "extra" -> w.extraReport(ops.toSeq),
      "errors" -> errors.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "loop_cpu_s" -> loopCpuS, "loop_wall_s" -> loopWallS,
      "cores" -> spark.sparkContext.defaultParallelism)
  }
}

/** Minimal JSON rendering for the result object. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
