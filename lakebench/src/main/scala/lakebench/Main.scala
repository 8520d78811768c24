package lakebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM. `run.py` launches it, and reads the
  * JSON file it writes (`out=`): raw samples, spans and counters, from which
  * run.py derives the reported metrics.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0/1), data
  * (the table directory the gates read), work (a fresh directory this run
  * may use), out, input (lake_ingest: the generator's output), and for the
  * self-tests gates (a comma-separated subset) and inject (`drop_lake_file`). */
object Main {

  /** The two compute-bound silver gates, whose results run to ~586k rows
    * each, and two gold gates bound by shuffle and decimal-exact aggregation
    * over sf0.1 `lineitem`, each with a small result. */
  val Medallion: Seq[String] = Seq(
    "silver_inventory_items", "silver_order_items",
    "gold_q1_pricing_summary", "gold_top_parts_by_revenue")

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a =>
      val Array(k, v) = a.split("=", 2); k -> v
    }.toMap
    val workload = args("workload")
    val work = Paths.get(args("work"))
    val trace = args.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Sessions.instrument(spark)
    val out = new Result
    out.num("session_ready_ms", System.currentTimeMillis())
    out.num("cores", cores)
    val spans = new Spans(spark.sparkContext)
    val code =
      try {
        workload match {
          case "medallion" => Gates.run(spark, Medallion, args, trace, spans, out)
          case "lake_ingest" => Ingest.run(spark, args, trace, spans, out)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        0
      } catch {
        case e: UnknownGate =>
          System.err.println(s"[lakebench] ${e.getMessage}")
          2
      }
    if (code == 0) {
      out.num("peak_rss_mb", Host.vmHwmKb() / 1024.0)
      out.num("host.cal_s", Host.calibrate())
      out.spans(spans.all)
      Files.writeString(Paths.get(args("out")), out.json)
    }
    spark.stop()
    sys.exit(code)
  }
}

final class UnknownGate(msg: String) extends Exception(msg)

/** Host context for a run: steal time and a fixed CPU calibration loop.
  * Context only; no sample is ever dropped because of them. */
object Host {
  def stealJiffies(): Long = {
    val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
    line.trim.split("\\s+").lift(8).map(_.toLong).getOrElse(0L)
  }

  def vmHwmKb(): Long = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }

  /** Seconds a fixed single-threaded integer-hash loop takes. */
  def calibrate(): Double = {
    var acc = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0L
    while (i < 50000000L) {
      acc ^= i; acc *= 0xff51afd7ed558ccdL; acc ^= (acc >>> 33); i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("unreachable")
    dt
  }
}

/** The run's raw output: named numbers, sample lists, records and spans,
  * serialized as one JSON object. */
final class Result {
  private val fields = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val lists = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[String]]

  def num(k: String, v: Double): Unit = fields(k) = Result.n(v)
  def str(k: String, v: String): Unit = fields(k) = Result.q(v)
  def counters(key: String, m: Map[String, Double]): Unit =
    fields(key) = m.toSeq.sortBy(_._1).map { case (k, v) => s"${Result.q(k)}:${Result.n(v)}" }
      .mkString("{", ",", "}")
  /** Append one record (field -> already-encoded JSON value) to list `k`. */
  def record(k: String, kv: (String, String)*): Unit =
    lists.getOrElseUpdate(k, ArrayBuffer.empty) +=
      kv.map { case (a, b) => s"${Result.q(a)}:$b" }.mkString("{", ",", "}")
  def spans(all: Seq[Span]): Unit =
    lists("spans") = ArrayBuffer.from(all.map(s =>
      s"""[${s.id},${s.parent},${Result.q(s.name)},${s.start},${s.end}]"""))

  def json: String =
    (fields.toSeq.map { case (k, v) => s"${Result.q(k)}:$v" } ++
      lists.toSeq.map { case (k, v) => s"${Result.q(k)}:${v.mkString("[", ",", "]")}" })
      .mkString("{", ",\n", "}\n")
}

object Result {
  def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** The client loop shared by the workloads: one thread, one op at a time. A
  * failed op is counted, logged with its name and message, and the run goes
  * on. */
final class Ops(out: Result, spans: Spans) {
  var attempted = 0
  var failed = 0
  /** Phase the next ops belong to: "timed" or "traced". */
  var phase = "timed"

  /** Run `body` as one timed op; returns its result, or None if it threw. */
  def timed[T](kind: String, name: String, round: Int)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Some(spans.span("op")(body))
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[lakebench] op $kind $name failed: ${e.getMessage}")
          None
      }
    val s = (System.nanoTime() - t0) / 1e9
    out.record("ops", "kind" -> Result.q(kind), "name" -> Result.q(name),
      "phase" -> Result.q(phase), "round" -> round.toString, "ok" -> r.isDefined.toString, "s" -> Result.n(s))
    r
  }

  def finish(): Unit = {
    out.num("attempted", attempted)
    out.num("failed", failed)
  }
}
