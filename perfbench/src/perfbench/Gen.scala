package perfbench

import java.util.Random

/** Every input the benchmark feeds the engine, derived from the run seed
  * alone. Each input family draws from its own stream, so a change to one
  * family never shifts another. */
final class Gen(val seed: Long) {
  import Gen._

  private def rng(stream: Long, i: Long = 0L): Random =
    new Random(mix(mix(seed ^ (stream * 0x632be59bd9b4e019L)) + i))

  val centers: Array[Array[Float]] = {
    val r = rng(1)
    Array.fill(Clusters)(Array.fill(Dim)(r.nextGaussian().toFloat))
  }

  val ids: Array[String] = Array.tabulate(N)(i => f"v$i%05d")

  val corpus: Array[Array[Float]] = {
    val r = rng(2)
    Array.tabulate(N)(i => noisy(centers(i % Clusters), Spread, r))
  }

  val docs: Array[String] = {
    val r = rng(3)
    Array.tabulate(N)(i => s"record $i topic ${i % Clusters} ${words(r, 4)}")
  }

  /** Probe `j` of probe stream `s`: a noisy copy of a random corpus vector. */
  def probe(s: Int, j: Int): Array[Float] = {
    val r = rng(100L + s, j.toLong)
    noisy(corpus(r.nextInt(N)), ProbeNoise, r)
  }

  /** Ingest batch `b`: (id, text) pairs that the engine embeds itself. */
  def ingestDocs(b: Int): Seq[(String, String)] = {
    val r = rng(200L + b)
    (0 until IngestBatch).map(i => (f"n$b%02d-$i%03d", s"note $b $i ${words(r, 6)}"))
  }

  /** Sensitive records: the first is the inversion attack's target and
    * the same in every run, so the attack does identical work and its
    * result compares across runs; the others vary with the seed. */
  val sensitiveDocs: Seq[(String, String)] = {
    val r = rng(300)
    AttackTarget +: (1 until Sensitive).map { i =>
      def pick(xs: IndexedSeq[String]) = xs(r.nextInt(xs.length))
      val ssn = f"${r.nextInt(900) + 100}%03d ${r.nextInt(90) + 10}%02d ${r.nextInt(9000) + 1000}%04d"
      (s"p$i", s"patient ${pick(First)} ${pick(Last)} ssn $ssn diagnosis ${pick(Conditions)}")
    }
  }

  /** The AES key the encrypted stores use. */
  val key: String = f"${mix(seed ^ 0x5eedL)}%016x".takeRight(16)

  /** One number summarising every generated input (determinism checks). */
  def fingerprint: Long = {
    var h = mix(seed)
    def addF(a: Array[Float]): Unit = a.foreach(x => h = mix(h ^ java.lang.Float.floatToIntBits(x)))
    def addS(s: String): Unit = h = mix(h ^ s.hashCode.toLong)
    corpus.foreach(addF); docs.foreach(addS)
    (0 until 4).foreach(j => addF(probe(0, j)))
    (1 to 2).flatMap(ingestDocs).foreach { case (i, t) => addS(i); addS(t) }
    sensitiveDocs.foreach { case (i, t) => addS(i); addS(t) }
    addS(key)
    h
  }
}

object Gen {
  val N = 1200
  val NumCells = 8
  val NProbe = 2
  val Dim = 384
  val Clusters = 32
  val Spread = 1.0f
  val ProbeNoise = 0.1f
  val K = 10
  val IngestBatch = 40
  val Sensitive = 6
  val AttackTarget: (String, String) = ("p0", "patient john smith ssn 123 45 6789 diagnosis diabetes")

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4ecb9aef74ed5L
    z ^ (z >>> 31)
  }

  def noisy(c: Array[Float], sd: Float, r: Random): Array[Float] =
    Array.tabulate(c.length)(d => c(d) + sd * r.nextGaussian().toFloat)

  private val Words = IndexedSeq(
    "amber", "basil", "cedar", "delta", "ember", "fjord", "garnet", "harbor",
    "iris", "juniper", "kelp", "lumen", "maple", "nectar", "onyx", "pebble",
    "quartz", "raven", "sable", "tundra", "umber", "velvet", "willow", "xenon",
    "yarrow", "zephyr", "anchor", "beacon", "canyon", "dune", "estuary", "fern",
    "glacier", "heath", "inlet", "jetty", "knoll", "lagoon", "mesa", "nook",
    "orchard", "prairie", "quarry", "ridge", "summit", "thicket", "upland", "vale",
    "wharf", "yard", "arbor", "bluff", "cove", "dell", "fen", "grove",
    "hollow", "isle", "kettle", "ledge", "moor", "notch", "oasis", "pond")

  def words(r: Random, n: Int): String = Seq.fill(n)(Words(r.nextInt(Words.length))).mkString(" ")

  private val First = IndexedSeq("john", "mary", "ahmed", "li", "sofia", "omar", "elena", "raj")
  private val Last = IndexedSeq("smith", "jones", "khan", "wang", "garcia", "haddad", "novak", "patel")
  private val Conditions = IndexedSeq("diabetes", "asthma", "melanoma", "hepatitis",
    "arrhythmia", "epilepsy", "anemia", "glaucoma")
}
