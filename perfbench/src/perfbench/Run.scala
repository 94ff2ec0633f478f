package perfbench

import scala.collection.mutable

import graft.attack.Inversion
import graft.functions.HashEmbedder
import graft.store.{EncryptedStore, VectorStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.typedLit
import org.apache.spark.sql.types.ArrayType

/** One benchmark run: set-up, then the four phases every user of the
  * engine goes through — `serve` (online k-NN), `batch` (bulk retrieval),
  * `ingest` (writes beside reads) and `invert` (the inversion attack, and
  * the encrypted extraction that defeats it) — against the workload's
  * store. Every call is made from this one client thread in a closed loop,
  * and every answer is checked against the harness's own copy of the
  * inputs; a wrong answer counts as a failed operation. */
final class Run(spark: SparkSession, gen: Gen, workload: String, clock: Clock,
                work: String, seconds: Int) {
  import Gen.{Dim, K, N}
  import Run._
  import spark.implicits._

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Latency samples (ms) by name. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Run-level metric values by name: the end-to-end metrics and the
    * run-level per-layer ones (latency percentiles, lane throughputs). */
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Wall seconds of each phase. */
  val phaseWall = mutable.LinkedHashMap.empty[String, Double]
  /** Files and bytes the store holds after compaction. */
  var storeFiles = 0L
  var storeBytes = 0L

  private val side = Side(workload, spark, clock, work, gen.key)
  private val embedder = HashEmbedder(Dim)
  /** What the store should hold right now: id -> (vector, doc). */
  private val live = mutable.LinkedHashMap.empty[String, (Array[Float], String)]
  private var deleted = Set.empty[String]

  def all(): Unit = {
    phase("setup")(setup())
    phase("serve")(serve())
    phase("batch")(batch())
    phase("ingest")(ingest())
    phase("invert")(invert())
  }

  private def phase(name: String)(body: => Unit): Unit =
    phaseWall(name) = clock.timed(name)(body)._2 / 1000.0

  private def sample(name: String, ms: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms

  /** Counts one operation; `problems` lists what was wrong with its answer. */
  private def op(what: String)(problems: => Seq[String]): Unit = {
    attempted += 1
    val ps = try problems catch { case e: Exception => Seq(s"threw $e") }
    if (ps.nonEmpty) {
      failed += 1
      if (failures.length < 20) failures += s"$what: ${ps.take(3).mkString("; ")}"
    }
  }

  /** Checks one k-NN answer (id, doc, distance) for `q` against the live
    * set: k rows, sorted, no duplicates, no deleted id, and every distance
    * and document equal to the harness's own. A null doc is not compared. */
  private def checkAnswer(q: Array[Float], rows: Seq[(String, String, Double)]): Seq[String] = {
    val ps = mutable.ArrayBuffer.empty[String]
    val want = math.min(K, live.size)
    if (rows.length != want) ps += s"${rows.length} rows, expected $want"
    if (rows.map(_._1).distinct.length != rows.length) ps += "duplicate ids"
    if (rows.zip(rows.drop(1)).exists { case (a, b) => a._3 > b._3 }) ps += "not sorted by distance"
    rows.foreach { case (id, doc, d) =>
      live.get(id) match {
        case None => ps += (if (deleted(id)) s"deleted id $id served" else s"unknown id $id")
        case Some((v, text)) =>
          val mine = Stats.l2sq(q, v)
          if (!Stats.sameDistance(d, mine)) ps += s"$id distance $d, harness $mine"
          if (doc != null && doc != text) ps += s"$id doc mismatch"
      }
    }
    ps.toSeq
  }

  private def exact(q: Array[Float]): Seq[String] =
    Stats.exactTopK(q, live.iterator.map { case (id, (v, _)) => (id, v) }.toSeq, K).map(_._1)

  private def triples(rows: Array[Row], idCol: String = "id"): Seq[(String, String, Double)] =
    rows.toSeq.map(r => (r.getAs[String](idCol),
      if (r.schema.fieldNames.contains("doc")) r.getAs[String]("doc") else null,
      r.getAs[Double]("distance")))

  /** One timed, checked query; returns its answer. */
  private def query(span: String, what: String, q: Array[Float], samplesName: String, tag: Long)
                   (extra: Seq[(String, String, Double)] => Seq[String] = _ => Nil)
      : Seq[(String, String, Double)] = {
    val (rows, ms) = clock.timed(span, tag)(side.query(q))
    sample(samplesName, ms)
    val ans = triples(rows)
    op(what)(checkAnswer(q, ans) ++ extra(ans))
    ans
  }

  // ------------------------------------------------------------- set-up

  /** Loads the corpus into the workload's store, builds its index and
    * makes the first query (the plaintext hot tier loads there). `setup_s`
    * covers those engine calls, not the making of the input frame. */
  private def setup(): Unit = {
    (0 until N).foreach(i => live(gen.ids(i)) = (gen.corpus(i), gen.docs(i)))
    val input = (0 until N).map(i =>
      (gen.ids(i), gen.docs(i), Map("topic" -> (i % Gen.Clusters).toString), gen.corpus(i)))
      .toDF("id", "doc", "meta", "emb")
    val store = clock.timed("setup.store")(side.setup(input))._2
    val first = clock.timed("setup.first_query")(
      query("setup.query", "first query", gen.probe(9, 0), "warm", 0)())._2
    metrics("setup_s") = (store + first) / 1000.0
    // JIT warm-up of the query path, not counted: serving is measured warm
    clock.span("setup.warm") {
      val t0 = System.nanoTime()
      var j = 1
      while (System.nanoTime() - t0 < WarmupNanos) {
        query("setup.query", "warm-up query", gen.probe(9, j), "warm", j)()
        j += 1
      }
    }
  }

  // -------------------------------------------------------------- serve

  /** Online serving: queries, each a noisy copy of a corpus vector, for
    * `seconds` and until the median has enough samples. */
  private def serve(): Unit = {
    val need = Stats.minSamples(0.5)
    val recalls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var j = 0
    while ((elapsed < seconds || j < need) && elapsed < MaxServeSeconds) {
      val q = gen.probe(1, j)
      val ans = query("serve.query", "query", q, "query", j)()
      recalls += Stats.recall(ans.map(_._1), exact(q))
      j += 1
    }
    metrics("recall_at_10") = recalls.sum / recalls.length
    metrics("serve.query.p50_ms") = Stats.median(samples("query").toSeq)
  }

  // -------------------------------------------------------------- batch

  private def panel(stream: Int, n: Int): (Seq[(Long, Array[Float])], DataFrame) = {
    val ps = (0 until n).map(i => (i.toLong, gen.probe(stream, i)))
    (ps, ps.toDF("probe_id", "qe"))
  }

  /** Checks a batch answer: every probe answered, ranks 1..k, and each
    * probe's rows a correct k-NN answer. */
  private def checkBatch(probes: Seq[(Long, Array[Float])], rows: Array[Row]): Seq[String] = {
    val byProbe = rows.groupBy(_.getAs[Long]("probe_id"))
    val ps = mutable.ArrayBuffer.empty[String]
    val missing = probes.count { case (p, _) => !byProbe.contains(p) }
    if (missing > 0) ps += s"$missing probes unanswered"
    probes.foreach { case (p, q) =>
      byProbe.get(p).foreach { rs =>
        val sorted = rs.sortBy(_.getAs[Int]("rn"))
        if (sorted.map(_.getAs[Int]("rn")).toSeq != (1 to sorted.length))
          ps += s"probe $p ranks not 1..${sorted.length}"
        ps ++= checkAnswer(q, triples(sorted, side.batchId)).map(s"probe $p: " + _)
      }
    }
    ps.toSeq
  }

  /** Bulk retrieval on both sides of the engine's panel dispatch: panels
    * of at most the dispatch floor take the driver lane, panels well above
    * it the frame lane. Each lane repeats on fresh panels until it has run
    * for its minimum time, so a fast lane is measured over several calls. */
  private def batch(): Unit = {
    metrics("batch.panel.probes_per_s") = lane("batch.panel", SmallPanel, PanelSeconds, 20)
    metrics("batch.frame.probes_per_s") = lane("batch.frame", LargePanel, FrameSeconds, 40)
  }

  /** Runs `size`-probe panels until `minSeconds` have passed; returns the
    * median over calls of probes/s, so one call slowed by a busy box does
    * not move the result. */
  private def lane(span: String, size: Int, minSeconds: Double, stream0: Int): Double = {
    val rates = mutable.ArrayBuffer.empty[Double]
    var ms = 0.0
    while (rates.isEmpty || ms < minSeconds * 1000) {
      val (ps, df) = panel(stream0 + rates.length, size)
      val (rows, wall) = clock.timed(span, rates.length)(side.batch(df))
      op(s"$span batch")(checkBatch(ps, rows))
      rates += size / (wall / 1000.0)
      ms += wall
    }
    Stats.median(rates.toSeq)
  }

  // ------------------------------------------------------------- ingest

  // `churn` samples the first read after each write; the other reads only
  // check (on the plaintext store the first read reloads the hot tier)
  private def readYourWrite(id: String, tag: Long, samplesName: String): Unit =
    query("ingest.query", s"read-your-write $id", live(id)._1, samplesName, tag) { ans =>
      if (ans.headOption.exists(a => a._1 == id && a._3 == 0.0)) Nil
      else Seq(s"just-appended $id not first at distance 0")
    }

  private def notServed(id: String, q: Array[Float], tag: Long, samplesName: String): Unit =
    query("ingest.query", s"deleted $id", q, samplesName, tag) { ans =>
      ans.filter(_._1 == id).map(_ => s"deleted $id served")
    }

  /** Writes beside reads: batches of generated text, embedded by the
    * engine's embedder and appended, each followed by a read of a
    * just-appended doc and a corpus read; then deletes, reads that must
    * not see them, a compaction, a live-count check and another read of a
    * recent write. */
  private def ingest(): Unit = {
    var writeMs = 0.0
    var appended = 0
    val batches = (1 to IngestBatches).map(gen.ingestDocs)
    batches.zipWithIndex.foreach { case (docs, i) =>
      val b = i + 1
      val embedded = embedder.embed(docs.toDF("id", "doc"), "doc", "emb")
      // the traced run materializes the embedding as its own span; the
      // timed run lets the append consume it, as a user's pipeline would
      val rows =
        if (!clock.traced) embedded
        else {
          val (m, ms) = clock.timed("ingest.embed", b)(embedded.localCheckpoint())
          writeMs += ms
          m
        }
      writeMs += clock.timed("ingest.append", b)(side.append(rows, b))._2
      appended += docs.length
      docs.foreach { case (id, text) => live(id) = (embedder.embedOne(text), text) }
      readYourWrite(docs((b * 7) % docs.length)._1, b, "churn")
      query("ingest.query", "corpus read after append", gen.probe(6, b), "check", b)()
    }
    val gone = Seq(batches.head.head._1, gen.ids(11), gen.ids(N / 2))
    val goneVecs = gone.map(id => id -> live(id)._1).toMap
    writeMs += clock.timed("ingest.delete")(side.delete(gone))._2
    gone.foreach(live.remove)
    deleted ++= gone
    notServed(gone(0), goneVecs(gone(0)), 10, "churn")
    notServed(gone(2), goneVecs(gone(2)), 11, "check")
    writeMs += clock.timed("ingest.compact")(side.compact())._2
    op("live count after compact") {
      val n = clock.span("ingest.count")(side.liveCount())
      if (n == live.size) Nil else Seq(s"$n live rows, expected ${live.size}")
    }
    notServed(gone(1), goneVecs(gone(1)), 12, "churn")
    readYourWrite(batches.last(1)._1, 13, "check")
    metrics("ingest_docs_per_s") = appended / (writeMs / 1000.0)
    metrics("ingest.query.after_write_p50_ms") = Stats.median(samples("churn").toSeq)
    val sizes = side.dirs.map(d => Run.du(new java.io.File(d)))
    storeFiles = sizes.map(_._1).sum
    storeBytes = sizes.map(_._2).sum
    val userBytes = live.values.map { case (_, d) => Dim * 4L + d.getBytes("UTF-8").length }.sum
    metrics("stored_bytes_per_user_byte") = storeBytes.toDouble / userBytes
  }

  // ------------------------------------------------------------- invert

  /** The attack and the defense, the same in both workloads: sensitive
    * records kept in a plaintext collection leak their embeddings through
    * a full `get()`, and one is inverted; the same records in an encrypted
    * store extract as ciphertext only. */
  private def invert(): Unit = {
    val sens = gen.sensitiveDocs
    val rows = embedder.embed(sens.toDF("id", "doc"), "doc", "emb")
      .withColumn("meta", typedLit(Map.empty[String, String]))
    val leaked = clock.span("invert.leak") {
      val patients = new VectorStore(spark, s"$work/leak").createOrGet("patients")
      patients.add(rows)
      patients.get().collect()
    }.map(r => r.getAs[String]("id") -> r.getAs[scala.collection.Seq[Float]]("emb").toArray).toMap
    op("leak extraction")(if (leaked.size == sens.size) Nil else Seq(s"${leaked.size} rows leaked"))
    val target = leaked(sens.head._1)
    val (found, ms) = clock.timed("invert.Inversion.invert")(
      Inversion.invert(spark, target, AttackParams).collect())
    op("inversion") {
      val scored = found.toSeq.map(r =>
        (r.getAs[Int]("rank"), r.getAs[Double]("score"), r.getAs[String]("text")))
      val ps = mutable.ArrayBuffer.empty[String]
      if (scored.isEmpty) ps += "no candidates"
      if (scored.map(_._1) != (1 to scored.length)) ps += "ranks not 1..n"
      if (scored.zip(scored.drop(1)).exists { case (a, b) => a._2 < b._2 }) ps += "not sorted by score"
      scored.foreach { case (_, s, text) =>
        val mine = Inversion.cosine(Inversion.embedText(text, Dim), target)
        if (math.abs(mine - s) > 1e-6) ps += s"score $s, harness $mine for '$text'"
      }
      ps.toSeq
    }
    metrics("invert_s") = ms / 1000.0
    metrics("invert_best_cosine") = found.headOption.map(_.getAs[Double]("score")).getOrElse(0.0)

    val extracted = clock.span("invert.seal") {
      val sealedStore = new EncryptedStore(spark, s"$work/sealed", gen.key)
      sealedStore.store(rows.select("id", "doc", "emb"), "patients")
      sealedStore.extractSecure("patients")
    }
    op("secure extraction") {
      val ps = mutable.ArrayBuffer.empty[String]
      if (extracted.schema.fields.exists(_.dataType.isInstanceOf[ArrayType]))
        ps += "a vector column is extractable"
      val got = extracted.collect()
      if (got.length != sens.size) ps += s"${got.length} rows extracted"
      // every word of 4+ letters and each vector's first nonzero coordinate
      val secrets = sens.flatMap { case (id, text) =>
        text.split(' ').filter(_.length >= 4) ++ leaked(id).find(_ != 0f).map(_.toString)
      }
      got.foreach { r =>
        r.schema.fieldNames.filter(_ != "id").foreach { f =>
          val text = r.getAs[Any](f) match {
            case b: Array[Byte] => new String(b, "ISO-8859-1")
            case other => String.valueOf(other)
          }
          secrets.filter(text.contains(_)).foreach(s => ps += s"plaintext '$s' in $f")
        }
      }
      ps.toSeq
    }
  }
}

object Run {
  val WarmupNanos = 500000000L
  /** The reference's attack parameters at the MiniLM width. */
  val AttackParams: Inversion.Params = Inversion.Params(dim = Gen.Dim)
  val MaxServeSeconds = 60
  /** The panel-dispatch floor the benchmark's session sets, and probe
    * counts on each side of it. */
  val DispatchFloor = 128
  val SmallPanel = 32
  val LargePanel = 256
  /** Minimum time each batch lane runs for. */
  val PanelSeconds = 1.0
  val FrameSeconds = 2.0
  val IngestBatches = 2

  /** (files, bytes) under a directory. */
  def du(f: java.io.File): (Long, Long) =
    if (f.isFile) (1L, f.length)
    else Option(f.listFiles()).getOrElse(Array.empty).map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}
