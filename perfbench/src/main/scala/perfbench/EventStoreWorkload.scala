package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{EventStoreOps, IndexOps}
import graft.sources.Storage

/** `eventstore_ops`: the paper's own surface. Setup bulk-ingests the seeded
  * log through the write path; the ops are point loads, keyset pages,
  * one-type-one-day replays and append batches, each checked against the
  * answer the generator's arithmetic predicts (ops.tsv). */
final class EventStoreWorkload(spark: SparkSession, inputs: String) {
  import EventStoreWorkload._

  /** One store root: the events table and the by-event-type index. */
  final class Store(val root: String) {
    val events: String = Storage.tablePath(root, Tenant, Keyspace, "events")
    val index: String = Storage.tablePath(root, Tenant, Keyspace, "index_by_eventtype")
  }

  /** The write path every commit batch takes: commits to rows, the bucketed
    * event append, then the (et, pid) index append. The event type is the
    * contract name embedded in the JSON payload. */
  def ingest(commits: DataFrame, store: Store): Unit = {
    val rows = Storage.commitToRows(commits)
    Storage.appendEvents(rows, store.events)
    val withEt = rows.withColumn("et", get_json_object(col("data").cast("string"), "$.t"))
    Storage.appendIndex(IndexOps.buildIndex(withEt), store.index)
  }

  /** Creates a store and bulk-loads the seeded log into it. */
  def setup(root: String): Store = {
    implicit val s: SparkSession = spark
    Storage.createStorage(root, Tenant, Keyspace)
    val store = new Store(root)
    ingest(spark.read.parquet(s"$inputs/bulk.parquet"), store)
    store
  }

  val ops: Seq[Op] = {
    val src = scala.io.Source.fromFile(s"$inputs/ops.tsv")
    try src.getLines().map(l => Op(l.split("\t").toIndexedSeq)).toVector finally src.close()
  }

  /** Runs one op and checks its output; `Left(reason)` on a wrong output, a
    * thrown exception propagates. */
  def run(op: Op, store: Store): Either[String, Unit] = op.kind match {
    case "load" =>
      val id = unhex(op(1))
      val rows = Storage.readAggregate(spark, store.events, id).select("rev", "pos", "data").collect()
      checkEvents(rows, op(2).toInt, op(3))
    case "page" =>
      val id = unhex(op(1))
      val key = if (op(2) == "-") None else { val Array(r, p) = op(2).split(":"); Some((r.toInt, p.toInt)) }
      val events = spark.read.parquet(store.events).filter(col("bucket") === Storage.bucketOf(id))
      val rows = EventStoreOps.loadWithPaging(events, lit(id), key, op(3).toInt)
        .select("rev", "pos", "data").collect()
      val after = key.forall { k => rows.forall(r => ordering.gt((r.getInt(0), r.getInt(1)), k)) }
      if (!after) Left(s"page holds a key not after ${op(2)}") else checkEvents(rows, op(4).toInt, op(5))
    case "replay" =>
      val (et, lo, hi) = (op(1), op(2).toLong, op(3).toLong)
      val rows = EventStoreOps.enumerateEventStore(spark.read.parquet(store.events),
          spark.read.parquet(store.index), Some(et), lo, hi)
        .select("ts", "data").collect()
      val marker = "\"t\":\"" + et + "\""
      if (rows.length != op(4).toInt) Left(s"replay returned ${rows.length} events, want ${op(4)}")
      else rows.find(r => r.getLong(0) < lo || r.getLong(0) > hi || !payload(r, 1).contains(marker))
        .map(r => Left(s"replay returned a foreign event: ${payload(r, 1).take(60)}"))
        .getOrElse(Right(()))
    case "append" =>
      ingest(spark.read.parquet(s"$inputs/${op(1)}"), store)
      Right(())
  }

  /** Count, (rev, pos) order, sequence digest and payload/key agreement of
    * one aggregate's events. */
  private def checkEvents(rows: Array[Row], want: Int, digest: String): Either[String, Unit] = {
    val keys = rows.map(r => (r.getInt(0), r.getInt(1)))
    if (rows.length != want) Left(s"${rows.length} events, want $want")
    else if (keys.toSeq.sliding(2).exists(w => w.size == 2 && !ordering.lt(w(0), w(1))))
      Left("events not in strictly increasing (rev, pos) order")
    else if (sha1(keys.map { case (r, p) => s"$r:$p" }.mkString(",")) != digest)
      Left("(rev, pos) sequence differs from the generated log")
    else rows.find(r => !payload(r, 2).contains(s"\"rev\":${r.getInt(0)},\"pos\":${r.getInt(1)},"))
      .map(r => Left(s"payload does not match its key (${r.getInt(0)}, ${r.getInt(1)})"))
      .getOrElse(Right(()))
  }
}

object EventStoreWorkload {
  val Tenant = "bench"
  val Keyspace = "es"

  /** One line of ops.tsv: the kind, then the kind's arguments and answer. */
  final case class Op(fields: IndexedSeq[String]) {
    def kind: String = fields(0)
    def apply(i: Int): String = fields(i)
    /** Generated user bytes an append adds. */
    def userBytes: Long = if (kind == "append") fields(2).toLong else 0L
  }

  private val ordering = Ordering.Tuple2[Int, Int]

  private def payload(r: Row, i: Int): String = new String(r.getAs[Array[Byte]](i), "UTF-8")

  def unhex(s: String): Array[Byte] = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  def sha1(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
}
