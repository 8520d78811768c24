package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.lake.{AutoSkip, PartitionedTable, TableFormat}
import graft.pipeline.{FilePipeline, Ledger}

/** [[TableFormat]] that times every call into the table it wraps. Passed as
  * `FilePipeline.processFile`'s `lake`, it measures the lake's share of a
  * file load from outside the program; every verb delegates unchanged. */
final class TimedTable(inner: TableFormat, spans: Spans) extends TableFormat {
  def create(df: DataFrame, t: String): Unit = spans.span("lake.append")(inner.create(df, t))
  def append(df: DataFrame, t: String): Unit = spans.span("lake.append")(inner.append(df, t))
  def overwrite(df: DataFrame, t: String): Unit = spans.span("lake.overwrite")(inner.overwrite(df, t))
  def upsert(df: DataFrame, t: String, keys: Seq[String]): Unit =
    spans.span("lake.upsert")(inner.upsert(df, t, keys))
  def read(spark: SparkSession, t: String): DataFrame = spans.span("lake.read")(inner.read(spark, t))
  def exists(t: String): Boolean = inner.exists(t)
  override def deleteWhere(spark: SparkSession, t: String, pred: Column): Long =
    spans.span("lake.delete")(inner.deleteWhere(spark, t, pred))
  override def deleteMatching(keyRows: DataFrame, t: String, keys: Seq[String]): Unit =
    spans.span("lake.delete")(inner.deleteMatching(keyRows, t, keys))
  override def applyCdc(changes: DataFrame, t: String, keys: Seq[String],
                        opCol: String, orderCol: String): Unit =
    spans.span("lake.upsert")(inner.applyCdc(changes, t, keys, opCol, orderCol))
  override def upsertVersioned(df: DataFrame, t: String, keys: Seq[String],
                               orderCol: String): Unit =
    spans.span("lake.upsert")(inner.upsertVersioned(df, t, keys, orderCol))
}

/** The `lake_ingest` workload: executes the generator's plan (`plan.tsv`)
  * op by op against a fresh lake. Round 0 is set-up: it loads the lake and
  * warms the JVM. Timed rounds follow while the time lasts, each closed by
  * compaction and expiry. What the lake holds afterwards is dumped outside
  * the timer for run.py to compare with the generator's truth. */
object Ingest {
  val Accounts = "accounts"
  val AccountKeys = Seq("c_custkey")
  val ZoneCols = Seq("o_orderkey", "o_totalprice")
  val BloomCols = Seq("o_custkey")

  /** Files under a lake root, each as (path, size, mtime): a file written by
    * an op shows up as a tuple the previous listing did not have. */
  private def listing(root: Path): Set[(String, Long, Long)] =
    if (!Files.exists(root)) Set.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSet

  private final class Lake(spark: SparkSession, val root: Path, val spans: Spans, val ops: Ops) {
    /** Nanoseconds spent in [[outside]] so far. */
    var outsideNs = 0L
    /** Run work that is no part of the measured round: the checks and the
      * lake listings. Its time is taken off the round's, and a tracer does
      * not count its jobs. */
    def outside[T](body: => T): T = {
      val t0 = System.nanoTime()
      try Tracer.unCounted(spark.sparkContext)(body)
      finally outsideNs += System.nanoTime() - t0
    }
    val ledgerPath = root.resolveSibling(root.getFileName.toString + ".ledger")
    val ledger = new Ledger(ledgerPath.toString)
    private val tables = scala.collection.mutable.Map.empty[String, PartitionedTable]
    def table(t: String, part: String): PartitionedTable =
      tables.getOrElseUpdate(t, new PartitionedTable(root.toString, Seq(part)))
    def timed(t: String, part: String) = new TimedTable(table(t, part), spans)
    /** Every table on disk, quarantine tables included. */
    def onDisk: Seq[(String, PartitionedTable)] =
      if (!Files.exists(root)) Seq.empty
      else Files.list(root).iterator().asScala.toSeq
        .filter(d => Files.exists(d.resolve("PARTITION"))).map(_.getFileName.toString).sorted
        .map(t => t -> PartitionedTable.open(root.toString, t))
    /** Commits so far, summed over every table. */
    def commits: Int = onDisk.map { case (t, table) => table.version(t).getOrElse(-1) + 1 }.sum
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }

  private def predicate(op: Array[String]): Column = op(0) match {
    case "point" => col(op(1)) === lit(op(2).toLong)
    case "range" => col(op(1)).between(op(2).toLong, op(3).toLong)
  }

  /** A frame's rows, collected through an RDD action, which no query
    * listener sees. */
  private def sortedRows(df: DataFrame): Seq[String] =
    df.rdd.collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted

  def run(spark: SparkSession, args: Map[String, String], trace: Boolean,
          spans: Spans, out: Result): Unit = {
    val input = Paths.get(args("input"))
    val work = Paths.get(args("work"))
    val seconds = args("seconds").toDouble
    val rounds: Seq[(Int, Seq[Array[String]])] = {
      val lines = Files.readAllLines(input.resolve("plan.tsv")).asScala.map(_.split("\t", -1)).toSeq
      val starts = lines.zipWithIndex.filter(_._1(0) == "round").map(_._2)
      starts.map { s =>
        val end = lines.indexWhere(_(0) == "endround", s)
        lines(s)(1).toInt -> lines.slice(s + 1, end)
      }
    }

    /** Run one plan op against `lake`; `rec` records its outcome. */
    def execute(lake: Lake, op: Array[String], round: Int,
                rec: (String, Seq[(String, String)]) => Unit): Unit = op(0) match {
      case "file" | "replay" =>
        val Array(kind, rel, t, part) = op
        def count() = lake.outside(lake.table(t, part).read(spark, t).rdd.count())
        val before = if (kind == "replay") count() else -1L
        lake.ops.timed(kind, rel, round) {
          lake.spans.span("pipeline.process_file") {
            FilePipeline.processFile(spark, input.resolve(rel).toString, t, lake.timed(t, part), lake.ledger)
          }
        }.foreach { r =>
          val after = if (kind == "replay") count() else -1L
          rec("files", Seq("kind" -> Result.q(kind), "file" -> Result.q(Paths.get(rel).getFileName.toString),
            "table" -> Result.q(t), "hash" -> Result.q(r.fileHash), "rows" -> r.rows.toString,
            "quarantined" -> r.quarantinedRows.toString, "skipped" -> r.skipped.toString,
            "count_before" -> before.toString, "count_after" -> after.toString, "round" -> round.toString))
        }
      case "upsert" =>
        lake.ops.timed("upsert", op(1), round) {
          val batch = spark.read.parquet(input.resolve(op(1)).toString)
          lake.timed(Accounts, "c_mktsegment").upsert(batch, Accounts, AccountKeys)
        }
      case "index" =>
        lake.ops.timed("index", "orders", round) {
          lake.spans.span("lake.index")(AutoSkip.index(spark, lake.root.toString, "orders", ZoneCols, BloomCols))
        }
      case "point" | "range" =>
        val pred = predicate(op)
        lake.ops.timed(op(0), op.drop(1).mkString(" "), round) {
          lake.spans.span("lake.read") {
            val df = AutoSkip.read(spark, lake.root.toString, "orders").filter(pred)
            (df, df.collect())
          }
        }.foreach { case (df, rows) => lake.outside {
          val scanned = Tracer.planCounts(df.queryExecution.executedPlan).getOrElse("scan.files_read", 0L)
          val table = PartitionedTable.open(lake.root.toString, "orders")
          val total = table.dataFileStatuses("orders").size
          val plain = sortedRows(table.read(spark, "orders").filter(pred))
          val skipping = rows.map(_.toSeq.mkString("\u0001")).toSeq.sorted
          rec("reads", Seq("op" -> Result.q(op.mkString(" ")), "rows" -> rows.length.toString,
            "plain_rows" -> plain.length.toString, "equal" -> (plain == skipping).toString,
            "files_scanned" -> scanned.toString, "files_total" -> total.toString,
            "round" -> round.toString))
        }}
      case "maintain" =>
        lake.ops.timed("maintain", "all", round) {
          lake.onDisk.foreach { case (t, table) =>
            lake.spans.span("lake.compact")(table.compact(spark, t))
            lake.spans.span("lake.expire")(table.expireUnreferenced(t))
          }
        }
    }

    // Set-up: round 0 loads the lake every phase starts from. Its outcomes
    // are checked with the rest; its ops are not timed or counted.
    val setupSpans = new Spans(spark.sparkContext)
    val base = new Lake(spark, work.resolve("lake-base"), setupSpans, new Ops(new Result, setupSpans))
    rounds.head._2.foreach(op =>
      execute(base, op, 0, (k, kv) => out.record(k, kv :+ ("phase" -> Result.q("setup")): _*)))

    // Each phase replays the same plan rounds into its own copy of the
    // set-up lake, so the traced rounds do exactly the work the untraced ones did.
    val ops = new Ops(out, spans)
    def phase(name: String, count: Option[Int]): (Lake, Int, Long, Long) = {
      val lake = new Lake(spark, work.resolve(s"lake-$name"), spans, ops)
      copyTree(base.root, lake.root)
      Files.copy(base.ledgerPath, lake.ledgerPath)
      if (name == "timed") out.num("setup_end_ms", System.currentTimeMillis())
      ops.phase = name
      var seen = listing(lake.root)
      var bytesWritten = 0L
      var filesWritten = 0L
      val t0 = System.nanoTime()
      var next = 1
      var last = 0.0
      // whole rounds only, as in the gate workloads
      while (next < rounds.length && count.fold(next == 1 ||
          (System.nanoTime() - t0) / 1e9 + last <= seconds)(next <= _)) {
        val (r, plan) = rounds(next)
        val steal0 = Host.stealJiffies()
        val outside0 = lake.outsideNs
        val r0 = System.nanoTime()
        plan.foreach { op =>
          execute(lake, op, r, (k, kv) => out.record(k, kv :+ ("phase" -> Result.q(name)): _*))
          // files the op wrote
          lake.outside {
            val now = listing(lake.root)
            val fresh = now -- seen
            bytesWritten += fresh.toSeq.map(_._2).sum
            filesWritten += fresh.count(_._1.endsWith(".parquet"))
            seen = now
          }
        }
        last = (System.nanoTime() - r0 - (lake.outsideNs - outside0)) / 1e9
        out.record("rounds", "phase" -> Result.q(name), "round" -> r.toString,
          "s" -> Result.n(last), "steal_jiffies" -> (Host.stealJiffies() - steal0).toString)
        next += 1
      }
      (lake, next - 1, bytesWritten, filesWritten)
    }
    val (lake, timed, bytesWritten, filesWritten) = phase("timed", None)
    out.num("lake.bytes_written", bytesWritten)
    out.num("lake.files_written", filesWritten)
    out.num("lake.live_bytes", listing(lake.root).toSeq.map(_._2).sum)
    out.num("lake.commits", lake.commits - base.commits)
    if (trace) {
      // as many traced rounds as timed ones (see Gates)
      val tracer = new Tracer(spark, spans)
      tracer.start()
      spans.enabled = true
      phase("traced", Some(timed))
      spans.enabled = false
      tracer.stop()
      out.counters("counters", tracer.counters)
    }
    ops.finish()

    // What the lake holds, read outside the timer for the truth compare.
    if (args.get("inject").contains("drop_lake_file")) {
      val victim = PartitionedTable.open(lake.root.toString, "orders").dataFileStatuses("orders").head._2
      Files.delete(Paths.get(victim.getPath.toUri))
      System.err.println(s"[lakebench] injected fault: dropped ${victim.getPath}")
    }
    lake.onDisk.foreach { case (t, table) =>
      val df = table.read(spark, t)
      val hashes =
        if (df.columns.contains("_source_file_hash"))
          df.select("_source_file_hash").distinct().collect().map(_.getString(0)).toSeq.sorted
        else Seq.empty
      out.record("tables", "table" -> Result.q(t), "count" -> df.count().toString,
        "hashes" -> hashes.map(Result.q).mkString("[", ",", "]"))
    }
    if (lake.onDisk.exists(_._1 == Accounts)) {
      val rows = lake.table(Accounts, "c_mktsegment").read(spark, Accounts)
        .select("c_custkey", "version", "bal_cents").collect()
      Files.write(work.resolve("accounts.tsv"),
        rows.map(r => s"${r.getLong(0)}\t${r.getInt(1)}\t${r.getLong(2)}").toSeq.asJava)
    }
  }
}
