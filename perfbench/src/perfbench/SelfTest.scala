package perfbench

/** Checks of the benchmark's own logic (no Spark needed). Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on any failure. */
object SelfTest {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // inputs come from the seed alone
    val a = new Gen(7)
    val b = new Gen(7)
    val c = new Gen(8)
    check("same seed, same inputs", a.fingerprint == b.fingerprint)
    check("same seed, same probes", a.probe(1, 5).sameElements(b.probe(1, 5)))
    check("same seed, same sensitive docs", a.sensitiveDocs == b.sensitiveDocs)
    check("different seed, different inputs", a.fingerprint != c.fingerprint)
    check("different seed, different corpus", !a.corpus(0).sameElements(c.corpus(0)))
    check("different seed, different key", a.key != c.key)
    check("different seed, different sensitive records", a.sensitiveDocs.tail != c.sensitiveDocs.tail)
    check("the attack target is fixed", a.sensitiveDocs.head == c.sensitiveDocs.head)
    check("probe streams differ", !a.probe(0, 3).sameElements(a.probe(1, 3)))
    check("key is an AES-128 key", a.key.length == 16)

    // the tail rule: the highest percentile with >= 10 samples beyond it
    check("p95 needs 200 samples", Stats.minSamples(0.95) == 200)
    check("p75 needs 40 samples", Stats.minSamples(0.75) == 40)
    check("199 samples cannot report p95", !Stats.tailOk(199, 0.95))
    check("200 samples report p95", Stats.tailOk(200, 0.95))
    check("39 samples reach only p50", Stats.highestTail(39) == Some(0.5))
    check("19 samples reach no tail", Stats.highestTail(19).isEmpty)
    check("1000 samples reach p99", Stats.highestTail(1000) == Some(0.99))
    check("10000 samples reach p99.9", Stats.highestTail(10000) == Some(0.999))

    // quantiles interpolate like numpy
    check("median of an even count", near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5))
    check("median of an odd count", near(Stats.median(Seq(5.0, 1.0, 3.0)), 3.0))
    check("interpolated p95", near(Stats.quantile(Seq(0.0, 10.0), 0.95), 9.5))

    // driver time and self time
    val jobs = Seq((10L, 20L), (15L, 30L), (50L, 60L), (90L, 120L), (-5L, 2L))
    check("coverage merges overlaps and clips to the span", Stats.covered(0, 100, jobs) == 42)
    check("coverage of nothing", Stats.covered(0, 100, Nil) == 0)
    check("coverage of a job outside the span", Stats.covered(0, 100, Seq((200L, 300L))) == 0)
    check("driver time is wall minus job cover", near(Stats.driverTime(100.0, 0, 100, jobs), 58.0))
    check("driver time never negative", near(Stats.driverTime(5.0, 0, 100, Seq((0L, 100L))), 0.0))
    check("self time subtracts nested children once",
      Stats.selfTime(0, 100, Seq((0L, 50L), (40L, 70L), (60L, 65L))) == 30)

    // recall and exact neighbours
    check("recall counts exact ids found", near(Stats.recall(Seq("a", "b", "c"), Seq("a", "c", "d", "e")), 0.5))
    check("recall of a perfect answer", near(Stats.recall(Seq("x", "y"), Seq("y", "x")), 1.0))
    val vs = Seq("b" -> Array(1f, 0f), "a" -> Array(1f, 0f), "c" -> Array(0f, 0f), "d" -> Array(3f, 0f))
    check("exact top-k sorts by distance, then id",
      Stats.exactTopK(Array(0f, 0f), vs, 3).map(_._1) == Seq("c", "a", "b"))
    check("squared L2", near(Stats.l2sq(Array(1f, 2f), Array(4f, 6f)), 25.0))
    check("distance tolerance", Stats.sameDistance(1000.0, 1000.0000001) && !Stats.sameDistance(1.0, 1.001))

    check("json rendering", Json.render(Map("a" -> Seq[Any](1, 2.5, true), "b\"" -> null)) == """{"a":[1,2.5,true],"b\"":null}""")

    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
