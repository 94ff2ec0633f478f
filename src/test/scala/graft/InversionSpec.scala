package graft

import graft.attack.Inversion
import graft.attack.Inversion.Params
import graft.functions.BatchedModelEmbedder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class InversionSpec extends AnyFunSuite with SparkTest {

  private val small = Params(
    popSize = 16, generations = 5, eliteFrac = 0.25,
    restarts = 2, iters = 25, topK = 8, dim = 64, seed = 7L)

  /** Spark jobs `body` launches from this thread, counted by job group.
    * Listener events arrive in order, so once a later job in a second
    * group is seen, every job `body` launched has been counted. */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"inversion-jobs-${System.nanoTime()}"
    val flush = s"$group-flush"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(): Unit
          case Some(`flush`) => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(flush, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the flush job's start event never arrived")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  test("mutations are pure functions of (text, seed)") {
    assert(Inversion.mutateChar("spark query", 99L) == Inversion.mutateChar("spark query", 99L))
    assert(Inversion.mutateWord("spark query", 99L) == Inversion.mutateWord("spark query", 99L))
    assert(Inversion.crossover("aaaa", "bbbb", 5L) == Inversion.crossover("aaaa", "bbbb", 5L))
    // alphabet closure for char mutation of alphabet-only input
    val m = Inversion.mutateChar("spark and 42 queries", 3L)
    assert(m.forall(c => c.isLower || c.isDigit || c == ' '))
  }

  test("embedText matches the Spark-side hashEmbed column exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    val texts = Seq("Spark, the query engine!", "vector 42 search", "")
    val fromCol = texts.toDF("t")
      .select(TF.hashEmbed(TF.tokens(col("t")), 64).as("e"))
      .collect().map(_.getSeq[Float](0).toArray)
    texts.zip(fromCol).foreach { case (t, e) =>
      assert(Inversion.embedText(t, 64).toSeq == e.toSeq, s"mismatch for '$t'")
    }
  }

  test("evolutionary best-score trajectory is monotone non-decreasing") {
    val target = Inversion.embedText("spark query vector table join filter", 64)
    val (_, traj) = Inversion.evolutionarySearch(spark, target, small)
    assert(traj.nonEmpty)
    assert(traj.zip(traj.tail).forall { case (a, b) => b >= a }, s"trajectory $traj")
  }

  test("early stop cuts the loop once the threshold is crossed") {
    val target = Inversion.embedText("spark join batch query", 64)
    // Unreachable threshold -> all generations run.
    val full = small.copy(generations = 8, earlyStop = 2.0)
    val (_, trajFull) = Inversion.evolutionarySearch(spark, target, full)
    assert(trajFull.length == 8)
    // Threshold below what generation 0 already achieves -> stop immediately.
    val quick = small.copy(generations = 8, earlyStop = trajFull.head - 1e-9)
    val (cands, trajQuick) = Inversion.evolutionarySearch(spark, target, quick)
    assert(trajQuick.length == 1, s"expected immediate stop, got $trajQuick")
    assert(cands.head.score > quick.earlyStop)
  }

  test("frame-native evolutionary loop == driver loop generation for generation") {
    // the driver loop scores in the JVM, the frame loop through Spark's
    // codegen plan — equality pins the JVM scoring to Spark's, bit for bit,
    // at the fixture width and at the reference's MiniLM width
    Seq(64, 384).foreach { dim =>
      val p = small.copy(dim = dim)
      val target = Inversion.embedText("spark query vector table join filter", dim)
      val (cd, td) = Inversion.evolutionarySearch(spark, target, p)
      val (cf, tf) = Inversion.evolutionarySearchDF(spark, target, p)
      assert(tf == td, s"dim $dim: the frame loop's best-score trajectory " +
        "must match the driver loop per generation")
      assert(cf == cd, s"dim $dim: the deduped per-generation bests must be identical")
      // early stop fires at the same generation on both loops
      val quick = p.copy(generations = 8, earlyStop = td.head - 1e-9)
      assert(Inversion.evolutionarySearchDF(spark, target, quick)._2.length ==
        Inversion.evolutionarySearch(spark, target, quick)._2.length, s"dim $dim")
    }
  }

  test("the driver loop launches no Spark job; invert only the greedy restarts' jobs") {
    val target = Inversion.embedText("spark query vector table join filter", 64)
    val evo = jobsLaunchedBy(Inversion.evolutionarySearch(spark, target, small): Unit)
    assert(evo == 0, s"evolutionarySearch launched $evo Spark jobs")
    val inv = jobsLaunchedBy(Inversion.invert(spark, target, small).collect(): Unit)
    assert(inv >= 1 && inv <= 2, s"invert launched $inv Spark jobs")
  }

  test("JVM elite cut orders exactly like Spark's orderBy(desc score, asc text) + limit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // equal scores tie-break on text: String.compareTo (UTF-16 units) puts
    // the emoji (U+D83D...) before fullwidth A (U+FF21); UTF-8 bytes
    // (F0.. vs EF..) — Spark's order — put it after. A NaN vector scores
    // NaN, which Spark sorts above every number.
    val vecs = Map(
      "\uFF21" -> Array(1f, 0f), "\uD83D\uDE00" -> Array(1f, 0f),
      "b" -> Array(1f, 0f), "a" -> Array(0f, 1f), "z" -> Array(1f, 1f),
      "nan" -> Array(Float.NaN, 1f), "zero" -> Array(0f, 0f))
    val emb = new BatchedModelEmbedder[Unit]("inversion-spec-table", 2, () => (),
      (_, ts) => ts.map(vecs), batchSize = 3)
    val target = Array(1f, 0.5f)
    val texts = vecs.keys.toSeq.sorted
    val spark6 = emb.embed(texts.toDF("text"), "text", "emb")
      .withColumn("score", graft.functions.VectorFunctions.cosine(col("emb"), typedlit(target)))
      .orderBy(desc("score"), asc("text")).limit(6).select("text", "score")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val jvm6 = Inversion.eliteCut(texts, target, emb, 6).map(c => (c.text, c.score))
    assert(jvm6.map(_._1) == spark6.map(_._1), s"jvm $jvm6 vs spark $spark6")
    assert(jvm6.map(_._2).zip(spark6.map(_._2)).forall { case (a, b) =>
      java.lang.Double.compare(a, b) == 0 })
    assert(jvm6.head._1 == "nan")
    assert(jvm6.map(_._1).indexOf("\uFF21") < jvm6.map(_._1).indexOf("\uD83D\uDE00"))
  }

  test("BatchedModelEmbedder.embedBatch encodes in batchSize groups, in order") {
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    val emb = new BatchedModelEmbedder[Unit]("inversion-spec-batches", 1, () => (),
      (_, ts) => { sizes += ts.length; ts.map(t => Array(t.length.toFloat)) },
      batchSize = 4)
    val texts = (1 to 10).map("x" * _)
    val out = emb.embedBatch(texts)
    assert(sizes.toSeq == Seq(4, 4, 2))
    assert(out.map(_.toSeq) == texts.map(t => Seq(t.length.toFloat)))
  }

  test("full invert is reproducible and ranked") {
    val target = Inversion.embedText("spark query vector table", 64)
    val r1 = Inversion.invert(spark, target, small).collect().map(_.toSeq)
    val r2 = Inversion.invert(spark, target, small).collect().map(_.toSeq)
    assert(r1.toSeq == r2.toSeq, "seeded attack must be bit-reproducible")
    assert(r1.length <= small.topK && r1.nonEmpty)
    val scores = r1.map(_(1).asInstanceOf[Double]).toSeq
    assert(scores == scores.sorted.reverse, "ranked by descending score")
    val texts = r1.map(_(2).asInstanceOf[String]).toSeq
    assert(texts.distinct.length == texts.length, "dedup-keep-max leaves no dup texts")
  }

  test("q_attack_invert's fixture output is PINNED row for row — RNG-schedule drift must fail loudly") {
    // The one registered query with no DuckDB oracle: the driver can only
    // check its row count, so a seeded-RNG change that shifts the output
    // (r14 inherited exactly that — the keyed breedPlan rewrite silently
    // moved the sf-fixture answer from 8 to 7 rows with both loops
    // spec-equal to EACH OTHER) is invisible unless the expected output is
    // COMMITTED. These literals are the sf0.001 fixture answer of the
    // registered query verbatim (same target doc, same Params incl. seed
    // 42); any change here is a semantic change to the attack query and
    // must be made CONSCIOUSLY by re-pinning, never discovered by the
    // driver's row-count drift.
    val out = graft.queries.Registry.queries("q_attack_invert")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2))).toSeq
    val expected = Seq(
      (1, 0.571429, "scmn"),
      (2, 0.505076, "window merge window merge"),
      (3, 0.466569, "uove1pt nbkp3xikn m7rgej aeo"),
      (4, 0.428571, "filte"),
      (5, 0.428571, "scanescoan"),
      (6, 0.428571, "thb09bqupq8amysf"),
      (7, 0.412393, "scan batch fillwkrwsca0n"),
      (8, 0.329914, "arkf jtlch srrtljoiz1sdplrjlswh"))
    assert(out == expected,
      s"q_attack_invert's seeded fixture output drifted:\n got $out")
  }
}
