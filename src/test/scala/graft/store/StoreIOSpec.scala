package graft.store

import graft.SparkTest
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/**
 * Crash matrix for the [[StoreIO.commitStaged]] publish protocol: a
 * multi-output commit interrupted at ANY point must leave readers with
 * all-old or all-new after the next [[StoreIO.recover]] — never a mix.
 * Each test constructs the exact on-disk state a crash at that point
 * leaves behind, then recovers and asserts atomicity.
 */
class StoreIOSpec extends AnyFunSuite with SparkTest {

  private def tmp(): String =
    graft.store.Scratch.dir("graft_sio")

  private def write(n: Int, dest: String): Unit = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(dest)
  }

  private def rows(path: String): Long = spark.read.parquet(path).count()

  /** Live state: destA=1 row, destB=2 rows. New state: 3 and 4 rows. */
  private def fixture(): (String, String, String, String) = {
    val base = tmp()
    val (a, b) = (s"$base/a", s"$base/b")
    write(1, a); write(2, b)
    (base, a, b, s"$base/_commit")
  }

  test("crash BEFORE the marker: live state untouched, stale stages inert") {
    val (base, a, b, marker) = fixture()
    // both stages written (one even complete) but no marker — the commit
    // never happened; recover must not publish anything
    write(3, s"$base/stage_a")
    write(4, s"$base/stage_b")
    StoreIO.recover(marker)
    assert(rows(a) == 1 && rows(b) == 2, "pre-marker crash must keep old state")
  }

  test("crash AFTER the marker, before any rename: recover publishes both") {
    val (base, a, b, marker) = fixture()
    write(3, s"$base/stage_a")
    write(4, s"$base/stage_b")
    java.nio.file.Files.write(java.nio.file.Paths.get(marker),
      s"$base/stage_a\t$a\n$base/stage_b\t$b".getBytes("UTF-8"))
    StoreIO.recover(marker)
    assert(rows(a) == 3 && rows(b) == 4, "post-marker crash must roll forward")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(marker)))
  }

  test("crash BETWEEN the renames: recover finishes the remaining swap") {
    val (base, a, b, marker) = fixture()
    write(4, s"$base/stage_b")
    // dest a already swapped (stage gone, new data live), b still staged
    write(3, a)
    java.nio.file.Files.write(java.nio.file.Paths.get(marker),
      s"$base/stage_a\t$a\n$base/stage_b\t$b".getBytes("UTF-8"))
    StoreIO.recover(marker)
    assert(rows(a) == 3 && rows(b) == 4, "mid-rename crash must roll forward")
  }

  test("crash after all renames, before marker delete: recover is a no-op clear") {
    val (base, a, b, marker) = fixture()
    write(3, a); write(4, b)
    java.nio.file.Files.write(java.nio.file.Paths.get(marker),
      s"$base/stage_a\t$a\n$base/stage_b\t$b".getBytes("UTF-8"))
    StoreIO.recover(marker)
    assert(rows(a) == 3 && rows(b) == 4)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(marker)))
  }

  test("a parked __old copy from a crashed legacy swap is cleaned up") {
    val (base, a, _, marker) = fixture()
    // legacy (dest-only) marker line: live parked at __old, stage complete
    require(new java.io.File(a).renameTo(new java.io.File(s"${a}__old")))
    write(3, s"${a}__stage")
    java.nio.file.Files.write(java.nio.file.Paths.get(marker), a.getBytes("UTF-8"))
    StoreIO.recover(marker)
    assert(rows(a) == 3)
    assert(!new java.io.File(s"${a}__old").exists(), "parked copy must clear")
    assert(!new java.io.File(s"${a}__stage").exists())
  }

  test("two concurrent recovers of the same crashed commit both succeed") {
    val (base, a, b, marker) = fixture()
    write(3, s"$base/stage_a")
    write(4, s"$base/stage_b")
    java.nio.file.Files.write(java.nio.file.Paths.get(marker),
      s"$base/stage_a\t$a\n$base/stage_b\t$b".getBytes("UTF-8"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      new Thread(() =>
        try StoreIO.recover(marker)
        catch { case t: Throwable => errs.add(t): Unit })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent recover threw: ${errs.toArray.mkString(", ")}")
    assert(rows(a) == 3 && rows(b) == 4)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(marker)))
  }

  test("dedupById keeps one deterministic row per id under shuffled input") {
    import spark.implicits._
    def run(df: DataFrame) =
      StoreIO.dedupById(df, Seq("v")).orderBy("id").collect().map(_.toSeq).toSeq
    val rowsIn = Seq((1L, "b"), (1L, "a"), (2L, "z"), (2L, "z"), (3L, "m"))
    val r1 = run(rowsIn.toDF("id", "v").repartition(4))
    val r2 = run(scala.util.Random.shuffle(rowsIn).toDF("id", "v").repartition(2))
    assert(r1 == r2, "the surviving row must not depend on shuffle layout")
    assert(r1.map(_.head) == Seq(1L, 2L, 3L))
    assert(r1.head(1) == "a", "ties order by the payload JSON — lowest wins")
  }

  test("commitStagedParallel awaits every stage writer when the caller is interrupted") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val base = tmp()
    val started = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    val finished = new AtomicInteger()
    val outs = Seq("a", "b").map { n =>
      StoreIO.Staged(s"$base/${n}__stage", s"$base/$n", { _ =>
        started.countDown()
        release.await()
        finished.incrementAndGet(): Unit
      })
    }
    @volatile var thrown: Throwable = null
    @volatile var finishedAtReturn = -1
    val caller = new Thread(() =>
      try StoreIO.commitStagedParallel(outs, s"$base/_commit")
      catch { case e: Throwable => finishedAtReturn = finished.get(); thrown = e })
    caller.start()
    assert(started.await(30, TimeUnit.SECONDS), "stage writers never started")
    caller.interrupt()
    caller.join(500)
    assert(caller.isAlive, "the interrupted commit returned while its writers still ran")
    release.countDown()
    caller.join(30000)
    assert(!caller.isAlive)
    assert(thrown.isInstanceOf[InterruptedException], s"got $thrown")
    assert(finishedAtReturn == 2, "every stage writer must finish before the error surfaces")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/_commit")),
      "an interrupted commit must not publish")
  }
}
