package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --artifact FILE`: one benchmark run. Prints the result object as the
  * last line of standard output and writes the full artifact (box state,
  * phase walls, sample counts, failures and, when traced, the per-layer
  * metrics and spans) to FILE. */
object Main {

  /** Units of the end-to-end metrics, in reporting order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "recall_at_10" -> "ratio",
    "ingest_docs_per_s" -> "docs/s", "stored_bytes_per_user_byte" -> "ratio",
    "invert_s" -> "s", "invert_best_cosine" -> "ratio")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = args.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    if (!Side.Workloads.contains(workload))
      usage(s"unknown workload $workload; known: ${Side.Workloads.mkString(", ")}")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = need("work")
    val artifact = need("artifact")

    val box0 = Box.sample()
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("graft.panel.dfFloor", Run.DispatchFloor.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkStart = (System.nanoTime() - t0) / 1e9

    val clock = if (trace) new Tracer(spark) else new Clock
    val run = new Run(spark, new Gen(seed), workload, clock, work, seconds)
    run.all()
    val box1 = Box.sample()

    val out = mutable.LinkedHashMap.empty[String, Any]
    out("workload") = workload
    out("seed") = seed
    out("seconds") = seconds
    out("trace") = trace
    out("box") = Box.describe(box0, box1, cores)
    out("spark_start_s") = sparkStart
    out("phase_wall_s") = run.phaseWall
    out("samples") = run.samples.map { case (k, v) =>
      k -> Map("n" -> v.length, "highest_tail" -> Stats.highestTail(v.length))
    }
    out("attempted") = run.attempted
    out("failed") = run.failed
    out("failures") = run.failures
    out("run_metrics") = run.metrics

    val reported: Seq[(String, Double, String)] = clock match {
      case t: Tracer =>
        t.drain()
        val (layers, perCall) = Layers(t, run)
        out("per_call") = perCall
        out("harness_self_ms") = Layers.selfTimes(t)
        writeSpans(s"$artifact.spans.jsonl", t)
        layers
      case _ =>
        run.metrics("peak_rss_mb") = Box.peakRssMb()
        EndToEnd.map { case (n, u) => (n, run.metrics(n), u) }
    }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (run.failed == 0),
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> mutable.LinkedHashMap(reported.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))
    out("result") = result
    val f = new java.io.File(artifact)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, Json.render(out) + "\n")
    spark.stop()
    run.failures.foreach(m => System.err.println(s"[perfbench] failed: $m"))
    println(Json.render(result))
  }

  private def writeSpans(path: String, t: Tracer): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try t.allSpans.foreach { s =>
      w.println(Json.render(mutable.LinkedHashMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.opId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_ms" -> s.wallMs)))
    } finally w.close()
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }
}

/** The machine's state around a run, so a contended run can be recognised:
  * load averages, and the busy and steal shares of all CPUs between the
  * two samples (from /proc/stat). */
object Box {
  final case class Sample(load: Seq[Double], cpu: Seq[Long])

  private def read(p: String): List[String] =
    scala.util.Using(scala.io.Source.fromFile(p))(_.getLines().toList).getOrElse(Nil)

  def sample(): Sample = {
    val load = read("/proc/loadavg").headOption.toSeq.flatMap(_.split(' ').take(3).map(_.toDouble))
    val cpu = read("/proc/stat").find(_.startsWith("cpu ")).toSeq
      .flatMap(_.split("\\s+").drop(1).map(_.toLong))
    Sample(load, cpu)
  }

  def describe(a: Sample, b: Sample, sparkCores: Int): Map[String, Any] = {
    val d = a.cpu.zipAll(b.cpu, 0L, 0L).map { case (x, y) => y - x }
    val total = d.sum.toDouble
    // /proc/stat: user nice system idle iowait irq softirq steal ...
    def share(f: Long) = if (total > 0) f / total else 0.0
    val idle = d.lift(3).getOrElse(0L) + d.lift(4).getOrElse(0L)
    Map("nproc" -> Runtime.getRuntime.availableProcessors(), "spark_cores" -> sparkCores,
      "loadavg_start" -> a.load, "loadavg_end" -> b.load,
      "cpu_busy_share" -> share(d.sum - idle - d.lift(7).getOrElse(0L)),
      "cpu_steal_share" -> share(d.lift(7).getOrElse(0L)))
  }

  /** The JVM's peak resident set (VmHWM) in MiB. */
  def peakRssMb(): Double =
    read("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
