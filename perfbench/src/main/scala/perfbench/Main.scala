package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side. `run.py` generates the inputs, then calls
  *
  * {{{
  * perfbench.Main eventstore_ops <inputs> <work> <trace>
  * perfbench.Main rows <inputs> <work> <trace> <warmups> <passes> <seconds> <row,row,...>
  * }}}
  *
  * The second form runs a list of registry rows in the given order. Each
  * sets up three times, timed. Untraced, it then runs the workload's op
  * list: `eventstore_ops` exactly once; registry rows `warmups` untimed
  * passes, then at least `passes` timed passes and until `seconds` have gone
  * by. Traced (`trace = 1`), the op list runs once with the recorder
  * attached and once more without (after the warm-up passes, for rows). It
  * writes `<work>/result.json`; with tracing also
  * `<work>/trace.jsonl` (one span per line). Event-store ops are checked
  * here; registry-row outputs are written under `<work>/out/<pass>/<row>`
  * for `run.py` to check. */
object Main {
  val Cores = 4
  val SetupRepeats = 3

  type Obj = ListMap[String, Any]
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.prepare(spark)
  }

  def main(args: Array[String]): Unit = {
    args.head match {
      case "oracle-sql" => // oracle-sql <out.json> <row,row,...>
        Files.writeString(Paths.get(args(1)), oracleSql(args(2).split(",").toSeq))
        return
      case "row-names" => // row-names <out.txt>
        Files.writeString(Paths.get(args(1)), SparkEntry.queries.keys.toSeq.sorted.mkString("\n"))
        return
      case _ =>
    }
    val work = args(2)
    val result = args.toSeq match {
      case Seq("eventstore_ops", inputs, _, trace) => eventStore(inputs, work, trace == "1")
      case Seq("rows", inputs, _, trace, warmups, passes, seconds, rows) =>
        registryRows(rows.split(",").toSeq.filter(_.nonEmpty), inputs, work, trace == "1",
          warmups.toInt, passes.toInt, seconds.toDouble)
      case _ => sys.error(s"bad arguments: ${args.mkString(" ")}")
    }
    json.writeValue(new File(s"$work/result.json"), result + ("peak_rss_mb" -> peakRssMb()))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  private val born = System.nanoTime()
  /** Progress line in the JVM log: seconds since start and the phase reached. */
  def phase(what: String): Unit = println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2fs] $what")

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One op as it ran: its pass (`warmup0`, ..., `0`, `1`, ..., `traced`
    * or `untraced`), kind, name, milliseconds and outcome. */
  final case class Timed(pass: String, kind: String, name: String, ms: Double, error: Option[String]) {
    def ok: Boolean = error.isEmpty
    def obj: Obj = ListMap("pass" -> pass, "kind" -> kind, "name" -> name, "ms" -> ms, "ok" -> ok,
      "error" -> error)
  }

  private def timed(pass: String, kind: String, name: String)(body: => Either[String, Unit]): Timed = {
    val t0 = System.nanoTime()
    val outcome = try body catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    Timed(pass, kind, name, (System.nanoTime() - t0) / 1e6, outcome.left.toOption)
  }

  /** Runs the op list once with the recorder attached (`pass`, which gets
    * the recorder and the name of the pass) and once more without, so both
    * passes start equally warm; the difference is the tracing overhead.
    * Returns every op's record, the untraced pass's seconds as the run's
    * only pass, the counters and the per-op records; writes the spans. */
  private def traced(spark: SparkSession, work: String, extra: () => Obj)(
      pass: (Option[Recorder], String) => Seq[Timed]): Obj = {
    val rec = new Recorder(spark)
    rec.attach()
    val (tracedOps, s) = secondsOf(pass(Some(rec), "traced"))
    rec.detach()
    phase("traced pass done")
    val (untracedOps, u) = secondsOf(pass(None, "untraced"))
    phase("untraced pass done")
    val w = Files.newBufferedWriter(Paths.get(s"$work/trace.jsonl"))
    try rec.spans.foreach(sp => { w.write(json.writeValueAsString(sp)); w.newLine() }) finally w.close()
    ListMap("pass_s" -> Seq(u), "ops" -> (tracedOps ++ untracedOps).map(_.obj),
      "trace" -> (ListMap("traced_run_s" -> s, "untraced_run_s" -> u,
        "driver.threads.max" -> rec.driverThreadsMax) ++ rec.counters() ++ extra()),
      "trace_ops" -> rec.opRecords)
  }

  /** One op, inside the recorder's span when there is one; an output that
    * fails its check marks the span failed. */
  private def recorded(rec: Option[Recorder], pass: String, kind: String, name: String)(
      body: => Either[String, Unit]): Timed = rec match {
    case None => timed(pass, kind, name)(body)
    case Some(r) =>
      val t = timed(pass, kind, name)(r.op(kind, name)(body))
      if (t.error.isDefined) r.markFailed()
      t
  }

  /** Regular files under `path` and their total bytes. */
  private def diskUsage(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).filter(f => Files.isRegularFile(f)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      (files.length.toLong, files.map(f => Files.size(f)).sum)
    }
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // -- eventstore_ops ------------------------------------------------------

  def eventStore(inputs: String, work: String, trace: Boolean): Obj = {
    val spark = session(work)
    phase("session up")
    val w = new EventStoreWorkload(spark, inputs)
    // three identical stores: untraced, the op list runs once, on the first;
    // traced, it runs with the recorder on the second and without on the
    // third, both from the bulk-loaded state
    val setups = (0 until SetupRepeats).map { i =>
      val r = secondsOf(w.setup(s"$work/store$i"))
      phase(s"store $i loaded")
      r
    }
    val stores = setups.map(_._1)
    val setupS = setups.map(_._2)
    phase("set-up done")
    val meta = json.readTree(new File(s"$inputs/meta.json"))
    val bulkUserBytes = meta.get("bulk_user_bytes").asLong

    def pass(rec: Option[Recorder], name: String, store: w.Store): Seq[Timed] = {
      val out = w.ops.map(op => recorded(rec, name, op.kind, op.kind)(w.run(op, store)))
      phase(s"pass $name done")
      out
    }
    if (!trace) {
      val (bulkFiles, bulkBytes) = diskUsage(stores(0).root)
      val (ops, s) = secondsOf(pass(None, "0", stores(0)))
      val (files, bytes) = diskUsage(stores(0).root)
      ListMap("setup_s" -> setupS, "pass_s" -> Seq(s), "ops" -> ops.map(_.obj),
        "space" -> ListMap("bulk_files" -> bulkFiles, "bulk_bytes" -> bulkBytes,
          "bulk_user_bytes" -> bulkUserBytes, "files" -> files, "bytes" -> bytes,
          "user_bytes" -> (bulkUserBytes + w.ops.map(_.userBytes).sum)))
    } else {
      def store(): Obj = {
        val (f, b) = diskUsage(stores(1).root)
        ListMap("store.files_on_disk" -> f, "store.bytes_on_disk" -> b,
          "ingest.events_per_s" -> meta.get("bulk_events").asLong / median(setupS))
      }
      ListMap("setup_s" -> setupS) ++ traced(spark, work, store _) { (rec, name) =>
        pass(rec, name, if (rec.isDefined) stores(1) else stores(2))
      }
    }
  }

  // -- registry rows -------------------------------------------------------

  def oracleSql(rows: Seq[String]): String =
    json.writeValueAsString(ListMap(rows.map(r => r -> SparkEntry.oracleSql.getOrElse(r, null)): _*))

  def registryRows(rows: Seq[String], inputs: String, work: String, trace: Boolean,
      warmups: Int, minPasses: Int, seconds: Double): Obj = {
    val unknown = rows.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown registry rows: ${unknown.mkString(",")}")
    Files.writeString(Paths.get(s"$work/oracle_sql.json"), oracleSql(rows))
    val tables = Seq("documents", "embeddings", "events")
    // set-up: a fresh local session, prepared, with every input table opened
    // and counted; the last one stays up for the run
    val setupS = (0 until SetupRepeats).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      secondsOf {
        val s = session(work)
        tables.foreach(t => s.read.parquet(s"$inputs/$t.parquet").count())
      }._2
    }
    val spark = SparkSession.active
    phase("set-up done")

    // every execution writes its output (all columns computed, as with a
    // noop sink) to its own directory, and run.py checks every one of them
    def pass(rec: Option[Recorder], name: String): Seq[Timed] = rows.map { row =>
      val r = recorded(rec, name, "row", row) {
        SparkEntry.queries(row)(spark, inputs).write.mode("overwrite").parquet(s"$work/out/$name/$row")
        Right(())
      }
      spark.catalog.clearCache()
      System.gc()
      phase(s"pass $name: $row")
      r
    }
    // the warm-up passes fill the JIT and Spark's caches; their outputs are
    // checked but their times are not samples
    val warmup = (0 until warmups).flatMap(i => pass(None, s"warmup$i"))
    val base = ListMap("setup_s" -> setupS)
    if (!trace) {
      val passes = mutable.ArrayBuffer.empty[Seq[Timed]]
      val t0 = System.nanoTime()
      while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds)
        passes += pass(None, passes.size.toString)
      base ++ ListMap("pass_s" -> passes.map(_.map(_.ms).sum / 1e3),
        "ops" -> (warmup ++ passes.flatten).map(_.obj))
    } else {
      // what the traced pass leaves in java.io.tmpdir: the engine's stream
      // checkpoints, generations and level stores; no events are ingested
      val tmp = System.getProperty("java.io.tmpdir")
      val before = diskUsage(tmp)
      var after = before
      def store(): Obj = ListMap("store.files_on_disk" -> (after._1 - before._1),
        "store.bytes_on_disk" -> (after._2 - before._2), "ingest.events_per_s" -> 0.0)
      val t = traced(spark, work, store _) { (rec, name) =>
        val out = pass(rec, name)
        if (rec.isDefined) after = diskUsage(tmp)
        out
      }
      base ++ t + ("ops" -> (warmup.map(_.obj) ++ t("ops").asInstanceOf[Seq[Obj]]))
    }
  }
}
