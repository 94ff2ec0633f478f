package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run. Counters are inclusive (a span's
  * own jobs plus its children's) and averaged per call. The printed
  * metrics use the workload-neutral operation spans (`serve.query`,
  * `ingest.append`, ...), so both workloads report the same names; the
  * artifact's `per_call` section also breaks them down by the engine
  * function each operation called (`serve.Collection.query`,
  * `serve.EncryptedStore.queryIndexed`, ...). README.md maps each group to
  * the end-to-end metric it should move. */
object Layers {
  private val Reads = Seq("wall_ms", "driver_ms", "jobs", "tasks", "plan_ms", "exec_cpu_ms",
    "gc_ms", "rows_read", "bytes_read", "files_read", "hot_ratio")
  private val Bulk = Seq("wall_ms", "driver_ms", "jobs", "tasks", "exec_cpu_ms", "gc_ms",
    "shuffle_bytes", "rows_read", "bytes_read")
  private val Writes = Seq("wall_ms", "driver_ms", "jobs", "exec_cpu_ms", "shuffle_bytes",
    "bytes_written", "files_written")
  private val All = (Reads ++ Bulk ++ Writes :+ "actions").distinct

  /** Operation span -> counters printed for it. */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "setup.store" -> Writes,
    "setup.first_query" -> Seq("wall_ms", "jobs"),
    "serve.query" -> Reads,
    "batch.panel" -> Bulk,
    "batch.frame" -> Bulk,
    "ingest.embed" -> Seq("wall_ms", "exec_cpu_ms"),
    "ingest.append" -> Writes,
    "ingest.delete" -> Writes,
    "ingest.compact" -> Writes,
    "ingest.query" -> Reads,
    "invert.Inversion.invert" -> Seq("wall_ms", "driver_ms", "actions", "jobs", "plan_ms", "exec_cpu_ms"))

  def unit(counter: String): String = counter match {
    case c if c.endsWith("_ms") => "ms"
    case c if c.contains("bytes") => "bytes"
    case "hot_ratio" => "ratio"
    case _ => "count"
  }

  /** One call's counter values. */
  def values(s: Span, c: Counters, jobIntervals: Seq[(Long, Long)]): Map[String, Double] = Map(
    "wall_ms" -> s.wallMs,
    "driver_ms" -> Stats.driverTime(s.wallMs, s.startMs, s.endMs, jobIntervals),
    "jobs" -> c.jobs.toDouble, "tasks" -> c.tasks.toDouble, "actions" -> c.actions.toDouble,
    "plan_ms" -> c.planMs, "exec_cpu_ms" -> c.cpuMs, "gc_ms" -> c.gcMs,
    "rows_read" -> c.rowsRead.toDouble, "bytes_read" -> c.bytesRead.toDouble,
    "files_read" -> c.filesRead.toDouble, "shuffle_bytes" -> c.shuffleBytes.toDouble,
    "bytes_written" -> c.bytesWritten.toDouble, "files_written" -> c.filesWritten.toDouble,
    "hot_ratio" -> (if (c.jobs == 0) 1.0 else 0.0))

  /** Run-level per-layer metrics the run computes itself. */
  val RunLevel: Seq[(String, String)] = Seq(
    "serve.query.p50_ms" -> "ms",
    "batch.panel.probes_per_s" -> "probes/s", "batch.frame.probes_per_s" -> "probes/s",
    "ingest.query.after_write_p50_ms" -> "ms")

  /** Per-call counter values of every span, grouped by full name: an
    * engine-call span is named after its phase (`serve.Collection.query`). */
  private def calls(t: Tracer, own: Map[Int, Counters],
                    ownJobs: Map[Int, Seq[(Long, Long)]]): Map[String, Seq[Map[String, Double]]] = {
    val spans = t.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    val kids = spans.groupBy(_.parent)
    val inclusive = mutable.Map.empty[Int, (Counters, Seq[(Long, Long)])]
    def incl(s: Span): (Counters, Seq[(Long, Long)]) = inclusive.getOrElseUpdate(s.id, {
      kids.getOrElse(s.id, Nil).map(incl).foldLeft(
        (own.getOrElse(s.id, Counters()), ownJobs.getOrElse(s.id, Nil))) {
        case ((c, j), (kc, kj)) => (c + kc, j ++ kj)
      }
    })
    def root(s: Span): Span = if (s.parent < 0) s else root(byId(s.parent))
    def fullName(s: Span): String =
      if (s.parent < 0 || s.name.contains('.') && s.name.startsWith(root(s).name + ".")) s.name
      else s"${root(s).name}.${s.name}"
    spans.groupBy(fullName).map { case (n, ss) =>
      n -> ss.map { s => val (c, j) = incl(s); values(s, c, j) }
    }
  }

  private def mean(xs: Seq[Map[String, Double]], c: String): Double =
    if (xs.isEmpty) 0.0 else xs.map(_(c)).sum / xs.length

  /** The printed per-layer metrics, and the artifact's per-call table. */
  def apply(t: Tracer, run: Run): (Seq[(String, Double, String)], Map[String, Map[String, Double]]) = {
    val (own, ownJobs) = t.report()
    val byName = calls(t, own, ownJobs)
    val un = own.getOrElse(Tracer.Unattributed, Counters())
    val printed = Groups.flatMap { case (g, cs) =>
      cs.map(c => (s"$g.$c", mean(byName.getOrElse(g, Nil), c), unit(c)))
    } ++ RunLevel.map { case (n, u) => (n, run.metrics(n), u) } ++ Seq(
      ("ingest.store.files", run.storeFiles.toDouble, "count"),
      ("ingest.store.bytes", run.storeBytes.toDouble, "bytes"),
      ("unattributed.jobs", un.jobs.toDouble, "count"),
      ("unattributed.exec_cpu_ms", un.cpuMs, "ms"))
    // every span group's call count and per-call counters, for the artifact
    val perCall = byName.map { case (n, xs) =>
      n -> (All.map(c => c -> mean(xs, c)).toMap + ("calls" -> xs.length.toDouble))
    }
    (printed, perCall)
  }

  /** Self time of each phase span (ms): the harness's own work between
    * the operations it times — checks, exact neighbours, input making. */
  def selfTimes(t: Tracer): Map[String, Double] = {
    val spans = t.allSpans
    spans.filter(_.parent == -1).map { p =>
      val kids = spans.filter(_.parent == p.id).map(s => (s.startMs, s.endMs))
      p.name -> Stats.selfTime(p.startMs, p.endMs, kids).toDouble
    }.toMap
  }
}
