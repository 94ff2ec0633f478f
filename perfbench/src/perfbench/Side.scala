package perfbench

import graft.store.{EncryptedStore, IvfIndex, VectorStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The store a workload drives, reduced to the user operations every phase
  * needs. Each method is one user operation; the engine calls it makes are
  * timed as child spans named after the engine function, so a traced run
  * attributes work to `Collection.query` or `EncryptedStore.queryIndexed`
  * while the phase code stays the same for both workloads. */
sealed trait Side {
  /** Loads `input` (id, doc, meta, emb) and builds the index over it. */
  def setup(input: DataFrame): Unit
  /** k-NN answer rows with `id`, `doc` and `distance`. */
  def query(q: Array[Float]): Array[Row]
  /** Batch answer rows with `probe_id`, `rn`, `distance` and [[batchId]]. */
  def batch(probes: DataFrame): Array[Row]
  def batchId: String
  /** Appends embedded rows (id, doc, emb) as write batch `b`. */
  def append(rows: DataFrame, b: Int): Unit
  def delete(ids: Seq[String]): Unit
  def compact(): Unit
  def liveCount(): Long
  /** Directories holding the stored data. */
  def dirs: Seq[String]
}

/** The workloads: which store the user keeps. `plain` is the reference's
  * unprotected setup — a collection with an attached IVF index, served
  * from the JVM hot tier; `encrypted` is the same user operations on the
  * encrypted indexed store, where every read decrypts cells from parquet.
  * Both run the same phases on the same generated inputs. */
object Side {
  val Workloads: Seq[String] = Seq("plain", "encrypted")

  def apply(workload: String, spark: SparkSession, clock: Clock, work: String, key: String): Side =
    workload match {
      case "plain" => new Plain(spark, clock, work)
      case "encrypted" => new Encrypted(spark, clock, work, key)
    }

  val Store = "corpus"
}

/** A plaintext collection with an attached IVF index. */
final class Plain(spark: SparkSession, clock: Clock, work: String) extends Side {
  import Gen.{K, NProbe, NumCells}

  private val vs = new VectorStore(spark, s"$work/plain")
  private var coll: VectorStore#Collection = _
  private var index: IvfIndex = _

  def setup(input: DataFrame): Unit = {
    coll = clock.span("VectorStore.createOrGet")(vs.createOrGet(Side.Store))
    clock.span("Collection.add")(coll.add(input))
    index = clock.span("Collection.attachIvfIndex")(
      coll.attachIvfIndex(s"$work/plain_ivf", NumCells, NProbe))
  }

  def query(q: Array[Float]): Array[Row] =
    clock.span("Collection.query")(coll.query(q, K).collect())

  def batch(probes: DataFrame): Array[Row] =
    clock.span("IvfIndex.queryBatchDF")(
      index.queryBatchDF(probes, K, NProbe, include = Seq("cid")).collect())

  val batchId = "cid"

  def append(rows: DataFrame, b: Int): Unit =
    clock.span("Collection.add")(coll.add(
      rows.withColumn("meta", org.apache.spark.sql.functions.typedLit(Map("batch" -> b.toString)))))

  def delete(ids: Seq[String]): Unit = clock.span("Collection.delete")(coll.delete(ids))

  def compact(): Unit = {
    clock.span("Collection.compact")(coll.compact(spark.sparkContext.defaultParallelism))
    clock.span("IvfIndex.compact")(index.compact())
  }

  def liveCount(): Long = clock.span("Collection.count")(coll.count())

  def dirs: Seq[String] = Seq(s"$work/plain", s"$work/plain_ivf")
}

/** The encrypted indexed store: AES-GCM rows in cell-partitioned parquet. */
final class Encrypted(spark: SparkSession, clock: Clock, work: String, key: String) extends Side {
  import Gen.{K, NProbe, NumCells}
  import Side.Store

  private val enc = new EncryptedStore(spark, s"$work/enc", key)

  def setup(input: DataFrame): Unit =
    clock.span("EncryptedStore.storeIndexed")(
      enc.storeIndexed(input.select("id", "doc", "emb"), Store, NumCells))

  def query(q: Array[Float]): Array[Row] =
    clock.span("EncryptedStore.queryIndexed")(enc.queryIndexed(Store, q, K, NProbe).collect())

  def batch(probes: DataFrame): Array[Row] =
    clock.span("EncryptedStore.queryIndexedBatchDF")(
      enc.queryIndexedBatchDF(Store, probes, K, NProbe).collect())

  val batchId = "id"

  def append(rows: DataFrame, b: Int): Unit =
    clock.span("EncryptedStore.appendIndexedBatch")(enc.appendIndexedBatch(rows, Store, b.toLong))

  def delete(ids: Seq[String]): Unit = clock.span("EncryptedStore.delete")(enc.delete(Store, ids))

  def compact(): Unit = clock.span("EncryptedStore.compact")(enc.compact(Store))

  def liveCount(): Long = clock.span("EncryptedStore.extractSecure")(enc.extractSecure(Store).count())

  def dirs: Seq[String] = Seq(s"$work/enc")
}
