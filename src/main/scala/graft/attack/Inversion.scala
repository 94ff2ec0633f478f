package graft.attack

import graft.functions.{Embedder, HashEmbedder, TextHashOps, VectorFunctions => VF}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Embedding-inversion attack as a dataflow — Spark-native rebuild of the
 * reference's search-based inversion (/root/reference/src/app.py):
 * evolutionary search (app.py:100-171) and greedy hill-climb
 * (app.py:174-202), merged + dedup-keep-max + global top-k (app.py:234-255).
 *
 * Determinism contract: ALL randomness is a pure function of
 * (seed, generation/iteration, candidate index) via SplitMix64 — task
 * retries and re-execution cannot change results (the reference's
 * `random.random()` calls, app.py:62-97, are deliberately NOT reproduced:
 * nondeterministic UDFs are a correctness bug under Spark's execution
 * model, SURVEY.md §4.3.2).
 *
 * Scale shape: the default loop ([[evolutionarySearch]]) keeps the
 * O(pop_size) population on the driver (the reference's pop=60 operating
 * point) and scores each generation in the JVM — one
 * [[graft.functions.Embedder.embedBatch]] call, the same cosine as the
 * codegen column, a (score desc, text asc) cut to the elite set — so the
 * loop launches no Spark job at all: a generation of 60 short strings is
 * far below any job's driver constant. The FRAME loop
 * ([[evolutionarySearchDF]]) keeps the population as a per-generation
 * checkpointed DataFrame scored by the codegen plan and breeds from a
 * keyed per-offspring plan ([[breedPlan]]) — identical answers
 * (spec-pinned), pop_size past driver memory. Greedy restarts are
 * embarrassingly parallel: one executor-local hill-climb per restart
 * inside mapPartitions, one collect for all restarts.
 */
object Inversion {

  /** Attack hyperparameters — defaults mirror the reference's operating
    * point (app.py:102-104, 175-176, 163, 145-147, 254). */
  case class Params(
      popSize: Int = 60,
      generations: Int = 120,
      eliteFrac: Double = 0.2,
      crossoverP: Double = 0.12,
      earlyStop: Double = 0.995,
      restarts: Int = 12,
      iters: Int = 200,
      jumpP: Double = 0.01,
      topK: Int = 30,
      dim: Int = 64,
      seed: Long = 42L)

  /** Result row: candidate text and its cosine similarity to the target. */
  case class Candidate(text: String, score: Double)

  // ---- deterministic RNG ----------------------------------------------

  /** SplitMix64 — stateless, splittable: one draw per (key) mix. */
  private[attack] def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4ecb9aef74ed5L
    z ^ (z >>> 31)
  }

  private[attack] final class Rng(seed: Long) {
    private var state = mix(seed)
    def nextLong(): Long = { state = mix(state); state }
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    def nextInt(n: Int): Int = (nextDouble() * n).toInt min (n - 1)
  }

  // ---- pure text ops (reference app.py:62-97, seeded) ------------------

  /** 67-char alphabet: lowercase + digits + space (app.py:62). */
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "

  /** Seed lexicon for word mutations — the engine vocabulary of the test
    * corpus (reference uses a 14-word lexicon, app.py:63). */
  val Lexicon: IndexedSeq[String] = IndexedSeq(
    "spark", "query", "vector", "table", "join", "filter", "scan", "agg",
    "window", "stream", "batch", "hash", "sort", "merge")

  /** Character-level mutation: insert p=.12 / delete p=.08 / substitute
    * p=.18 per position (app.py:65-79). */
  def mutateChar(text: String, seed: Long): String = {
    val rng = new Rng(seed)
    val sb = new StringBuilder
    var i = 0
    while (i < text.length) {
      val r = rng.nextDouble()
      if (r < 0.12) { // insert before
        sb.append(Alphabet(rng.nextInt(Alphabet.length)))
        sb.append(text(i))
      } else if (r < 0.20) {
        // delete
      } else if (r < 0.38) { // substitute
        sb.append(Alphabet(rng.nextInt(Alphabet.length)))
      } else sb.append(text(i))
      i += 1
    }
    if (sb.isEmpty) text else sb.toString
  }

  /** Word-level mutation: replace / insert / delete one word with equal
    * probability; capped at 40 words (app.py:81-97). */
  def mutateWord(text: String, seed: Long): String = {
    val rng = new Rng(seed)
    val words = text.split("\\s+").filter(_.nonEmpty).toBuffer
    if (words.isEmpty) return Lexicon(rng.nextInt(Lexicon.length))
    rng.nextInt(3) match {
      case 0 => words(rng.nextInt(words.length)) = Lexicon(rng.nextInt(Lexicon.length))
      case 1 => if (words.length < 40)
        words.insert(rng.nextInt(words.length + 1), Lexicon(rng.nextInt(Lexicon.length)))
      case _ => if (words.length > 1) words.remove(rng.nextInt(words.length)): Unit
    }
    words.mkString(" ")
  }

  /** One-point string crossover (app.py:163-166). */
  def crossover(a: String, b: String, seed: Long): String = {
    val rng = new Rng(seed)
    if (a.isEmpty || b.isEmpty) a
    else a.substring(0, rng.nextInt(a.length) + 1) +
      b.substring((rng.nextInt(b.length) + 1) min b.length)
  }

  /** Mutation pipeline for one offspring: word-level then char-level with
    * independent sub-seeds (app.py:150-168 applies both families). */
  def mutate(text: String, seed: Long): String =
    mutateChar(mutateWord(text, mix(seed)), mix(seed + 1))

  // ---- plain-Scala embed/score (identical math to the Spark columns) ---

  /** Tokenize by delegating to THE kernel ([[TextHashOps.tokenize]]) rather
    * than reimplementing the lowering: a driver-side Locale.ROOT
    * `toLowerCase` is still not the same function as
    * `UTF8String.toLowerCase` for every non-ASCII input (Spark's fallback
    * path uses the default locale), and the only way driver-side hashes
    * can never desync from the codegen Tokenize kernel is to run the same
    * code on both sides. */
  def tokenize(s: String): Array[String] =
    tokenizeU(s).map(_.toString)

  private def tokenizeU(s: String): Array[UTF8String] =
    TextHashOps.tokenize(UTF8String.fromString(s))
      .toArray[UTF8String](org.apache.spark.sql.types.StringType)

  def embedText(s: String, dim: Int): Array[Float] =
    TextHashOps.hashEmbed(tokenizeU(s), dim)

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) -1.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // ---- evolutionary search (app.py:100-171) ----------------------------

  /** Member `i` of the seed population — a PURE function of (params, i),
    * so the driver loop and the frame loop seed the identical population
    * without a driver-side Seq (app.py:106-128's lexicon phrases with 1-4
    * mutations each). */
  private[attack] def seedOne(p: Params, i: Int): String = {
    val seeds = (0 until 8).map { s =>
      (0 until 4).map(j => Lexicon((s * 3 + j * 5) % Lexicon.length)).mkString(" ")
    }
    var t = seeds(i % seeds.length)
    val nMut = 1 + (i % 4)
    (0 until nMut).foreach(m => t = mutate(t, mix(p.seed * 7919 + i * 31 + m)))
    t
  }

  /** Initial population: lexicon-seeded phrases, 1-4 mutations each, grown
    * to popSize (app.py:106-128). */
  private def seedPopulation(p: Params): Seq[String] =
    (0 until p.popSize).map(seedOne(p, _))

  /** Offspring `i`'s breeding plan in generation `gen` — parent elite
    * index, crossover partner index (−1 for none), and the crossover /
    * mutation sub-seeds — as a PURE function of (seed, gen, i) on
    * independent SplitMix64 streams. The pre-r14 driver loop drew these
    * from ONE sequential per-generation RNG whose consumed-draw count
    * depended on each crossover branch, so offspring `i`'s draws depended
    * on every earlier offspring's branch — unreplayable anywhere but the
    * driver; keyed streams make the plan computable per offspring on any
    * executor (the frame loop's parallelism contract) while keeping the
    * determinism pin (same seeds → same attack, bit for bit). */
  private[attack] def breedPlan(seed: Long, gen: Int, i: Int, nElite: Int,
                                crossoverP: Double): (Int, Int, Long, Long) = {
    def draw(stream: Long): Double =
      (mix(mix(seed + stream) + gen.toLong * 1000003L + i.toLong) >>> 11).toDouble /
        (1L << 53).toDouble
    val aIdx = math.min((draw(101L) * nElite).toInt, nElite - 1)
    val bIdx =
      if (draw(102L) < crossoverP) math.min((draw(103L) * nElite).toInt, nElite - 1)
      else -1
    (aIdx, bIdx, mix(seed + gen * 131L + i), mix(seed * 13L + gen * 1031L + i))
  }

  /** Breed one offspring from its plan (crossover when a partner was
    * drawn, then the mutation pipeline) — shared by both loops. */
  private[attack] def breedOne(a: String, b: Option[String],
                               crossSeed: Long, mutSeed: Long): String =
    mutate(b.fold(a)(bb => crossover(a, bb, crossSeed)), mutSeed)

  /** A population frame scored: (text, score). The embed stage goes
    * through the pluggable [[graft.functions.Embedder]] seam (hash kernel
    * by default; a real model via BatchedModelEmbedder — either way the
    * scoring plan is the same narrow map + cosine). */
  private def scoreFrame(cands: DataFrame, target: Array[Float],
                         embedder: Embedder): DataFrame =
    embedder.embed(cands, "text", "emb")
      .withColumn("score", VF.cosine(col("emb"), typedlit(target)))
      .select("text", "score")

  /** Spark's `orderBy(desc("score"), asc("text"))` order: scores compare
    * under SQL semantics (-0.0 == 0.0, NaN == NaN and above every number),
    * texts by their UTF-8 bytes — `String.compareTo` orders UTF-16 code
    * units, which differs for supplementary and some BMP characters. */
  private val EliteOrder: Ordering[(UTF8String, Double)] = (x, y) => {
    val c = SQLOrderingUtil.compareDoubles(y._2, x._2)
    if (c != 0) c else x._1.binaryCompare(y._1)
  }

  /** One generation scored in the JVM: the first `nElite` candidates by
    * (score desc, text asc) — the rows [[scoreFrame]] + orderBy + limit
    * would collect, bit for bit ([[cosine]] is the codegen column's
    * arithmetic; the embedder's driver path is its column's kernel). */
  private[graft] def eliteCut(cands: Seq[String], target: Array[Float],
                               embedder: Embedder, nElite: Int): Seq[Candidate] = {
    val vecs = embedder.embedBatch(cands)
    require(vecs.length == cands.length, "embedBatch must return one vector per text")
    cands.lazyZip(vecs).map { (t, v) =>
      // the codegen cosine refuses mismatched widths the same way
      require(v.length == target.length,
        s"cosine_sim: vector dims differ (${v.length} vs ${target.length})")
      (UTF8String.fromString(t), cosine(v, target))
    }.sorted(EliteOrder).take(nElite)
      .map { case (t, s) => Candidate(t.toString, s) }
  }

  /** Evolutionary attack loop. Returns (deduped per-generation bests,
    * best-score trajectory). Elitism makes the trajectory monotone
    * non-decreasing — the property the reference only eyeballs in its
    * progress prints (app.py:140-141). Runs entirely on the driver and
    * launches no Spark job (`spark` is kept for the API's shape):
    * each generation is scored by [[eliteCut]]. */
  def evolutionarySearch(spark: SparkSession, target: Array[Float], p: Params,
                         embedder: Option[Embedder] = None): (Seq[Candidate], Seq[Double]) = {
    val emb = embedder.getOrElse(HashEmbedder(p.dim))
    val nElite = math.ceil(p.popSize * p.eliteFrac).toInt
    var population = seedPopulation(p)
    val bests = scala.collection.mutable.ArrayBuffer.empty[Candidate]
    var gen = 0
    var stop = false
    while (gen < p.generations && !stop) {
      val elites = eliteCut(population, target, emb, nElite)
      bests += elites.head
      if (elites.head.score > p.earlyStop) stop = true
      else {
        // offspring: crossover pairs of elites (p=.12) then mutate, until
        // pop is refilled (app.py:150-168), each offspring from its KEYED
        // [[breedPlan]] — the same plan the frame loop computes per
        // executor, so the two loops breed identically. Breeding and
        // scoring are both O(popSize) JVM work on the driver.
        population = elites.map(_.text) ++ (nElite until p.popSize).map { i =>
          val (ai, bi, cs, ms) = breedPlan(p.seed, gen, i, nElite, p.crossoverP)
          breedOne(elites(ai).text,
            if (bi >= 0) Some(elites(bi).text) else None, cs, ms)
        }
      }
      gen += 1
    }
    (dedupMax(bests.toSeq), bests.map(_.score).toSeq)
  }

  /** [[evolutionarySearch]] with the POPULATION as a FRAME — the scale
    * lane for pop sizes past driver memory (the one remaining
    * driver-bounded loop until r14): per generation the population never
    * collects; only the 1-row generation best does (the trajectory).
    *
    *  - scoring is the same [[scoreFrame]] plan over the population frame;
    *  - the elite cut is a global (score desc, text asc) sort + limit —
    *    the funnel task sees ≤ nElite ANSWER rows, never the population —
    *    ranked by a window whose input is the already-cut elite frame,
    *    and checkpointed per generation (the lineage-cut cadence, SURVEY
    *    §4.3.3: constant-depth plans across arbitrarily many generations);
    *  - breeding fans the KEYED [[breedPlan]] over `spark.range(nElite,
    *    popSize)` (pure per-index draws — zero driver state), equi-joins
    *    the parent and optional partner TEXT from the checkpointed elite
    *    frame by elite index, and breeds in a typed map running the SAME
    *    [[breedOne]] the driver loop calls.
    *
    * Same keyed schedule + same kernels ⇒ trajectories and candidates are
    * IDENTICAL to [[evolutionarySearch]] generation for generation at
    * fixed seeds (spec-pinned, InversionSpec). */
  def evolutionarySearchDF(spark: SparkSession, target: Array[Float], p: Params,
                           embedder: Option[Embedder] = None): (Seq[Candidate], Seq[Double]) = {
    import spark.implicits._
    val emb = embedder.getOrElse(HashEmbedder(p.dim))
    val nElite = math.ceil(p.popSize * p.eliteFrac).toInt
    val pp = p
    var population: DataFrame =
      spark.range(p.popSize.toLong).as[Long].map(i => seedOne(pp, i.toInt)).toDF("text")
    val bests = scala.collection.mutable.ArrayBuffer.empty[Candidate]
    var gen = 0
    var stop = false
    while (gen < p.generations && !stop) {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("score"), asc("text"))
      val elites = scoreFrame(population, target, emb)
        .orderBy(desc("score"), asc("text")).limit(nElite)
        .withColumn("eidx", row_number().over(w).cast("long") - 1L)
        .localCheckpoint()
      val bestRow = elites.filter(col("eidx") === 0L)
        .select("text", "score").head()
      bests += Candidate(bestRow.getString(0), bestRow.getDouble(1))
      if (bestRow.getDouble(1) > p.earlyStop) stop = true
      else {
        val g = gen
        val plans = spark.range(nElite.toLong, p.popSize.toLong).as[Long]
          .map { iL =>
            val (ai, bi, cs, ms) =
              breedPlan(pp.seed, g, iL.toInt, nElite, pp.crossoverP)
            (iL, ai.toLong, bi.toLong, cs, ms)
          }.toDF("i", "aidx", "bidx", "cseed", "mseed")
        val offspring = plans
          .join(elites.select(col("eidx").as("aidx"), col("text").as("ta")),
            Seq("aidx"))
          .join(elites.select(col("eidx").as("bidx"), col("text").as("tb")),
            Seq("bidx"), "left_outer")
          .select(col("ta"), col("tb"), col("cseed"), col("mseed"))
          .as[(String, Option[String], Long, Long)]
          .map { case (a, b, cs, ms) => breedOne(a, b, cs, ms) }
          .toDF("text")
        population = elites.select("text").unionByName(offspring)
      }
      gen += 1
    }
    (dedupMax(bests.toSeq), bests.map(_.score).toSeq)
  }

  // ---- greedy hill-climb (app.py:174-202) ------------------------------

  /** Greedy restarts, each an executor-local loop (no Spark job per step —
    * the reference's one-embed-per-iteration shape, app.py:192, is pure
    * compute and belongs inside the executor). */
  def greedySearch(spark: SparkSession, target: Array[Float], p: Params,
                   embedder: Option[Embedder] = None): Seq[Candidate] = {
    import spark.implicits._
    val emb = embedder.getOrElse(HashEmbedder(p.dim))
    val bcTarget = spark.sparkContext.broadcast(target)
    val iters = p.iters; val jumpP = p.jumpP; val seed = p.seed
    val lex = Lexicon
    val out = (0 until p.restarts).toDS()
      .repartition(math.min(p.restarts, spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        val tgt = bcTarget.value
        it.map { restart =>
          val rng = new Rng(mix(seed + 5000 + restart))
          var cur = (0 until 4).map(_ => lex(rng.nextInt(lex.length))).mkString(" ")
          var curScore = cosine(emb.embedOne(cur), tgt)
          var iter = 0
          while (iter < iters) {
            val cand =
              if (rng.nextDouble() < jumpP)
                (0 until 4).map(_ => lex(rng.nextInt(lex.length))).mkString(" ")
              else mutate(cur, mix(seed + restart * 100003 + iter))
            val s = cosine(emb.embedOne(cand), tgt)
            if (s > curScore) { cur = cand; curScore = s }
            iter += 1
          }
          (cur, curScore)
        }
      }.collect().map { case (t, s) => Candidate(t, s) }.toSeq
    dedupMax(out)
  }

  // ---- merge + dedup (app.py:234-255) ----------------------------------

  def dedupMax(cs: Seq[Candidate]): Seq[Candidate] =
    cs.groupBy(_.text).map { case (_, g) => g.maxBy(_.score) }.toSeq
      .sortBy(c => (-c.score, c.text))

  /** Full attack: evolutionary + greedy, union, dedup-keep-max, top-k.
    * Returns a DataFrame (rank, score, text) for the driver contract.
    * `embedder` defaults to the hermetic hash kernel; a model-backed
    * [[graft.functions.BatchedModelEmbedder]] drops in unchanged. */
  def invert(spark: SparkSession, target: Array[Float], p: Params = Params(),
             embedder: Option[Embedder] = None): DataFrame = {
    import spark.implicits._
    val merged = dedupMax(
      evolutionarySearch(spark, target, p, embedder)._1 ++
        greedySearch(spark, target, p, embedder))
      .take(p.topK)
    merged.zipWithIndex
      .map { case (c, i) => (i + 1, BigDecimal(c.score).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, c.text) }
      .toDF("rank", "score", "text")
  }
}
