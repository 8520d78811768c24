package lakebench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The gate workload (`medallion`): closed-loop rounds over a
  * fixed gate list, each round in an order drawn from the seed. One op is one
  * gate: building its frame through `SparkEntry.queries` (including any jobs
  * the build runs eagerly) and executing it into the `noop` sink. */
object Gates {

  def run(spark: SparkSession, workloadGates: Seq[String], args: Map[String, String],
          trace: Boolean, spans: Spans, out: Result): Unit = {
    val queries = graft.SparkEntry.queries
    // `gates=a,b` narrows the run to named gates (the self-tests use it); as
    // with SPARK_GRAFT_ONLY, a name SparkEntry does not know is an error
    val gates = args.get("gates").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(workloadGates)
    val unknown = gates.filterNot(queries.contains)
    if (unknown.nonEmpty)
      throw new UnknownGate(s"unknown gates: ${unknown.mkString(", ")}")
    val dir = args("data")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val ops = new Ops(out, spans)

    def execute(name: String): Unit = {
      val df = spans.span("queries.build")(queries(name)(spark, dir))
      spans.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
    }
    // every gate persists its own intermediates; drop them outside the timer
    // and block until they are gone, so no release bleeds into the next op
    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    // Set-up: one warm op per gate (codegen, JIT, and each gate's per-directory
    // lake layouts) before anything is timed.
    gates.foreach { g =>
      try execute(g)
      catch { case e: Exception => System.err.println(s"[lakebench] warm $g failed: ${e.getMessage}") }
      release()
    }
    out.num("setup_end_ms", System.currentTimeMillis())

    // Whole rounds only: another round starts while it is expected to end
    // inside the time; a fixed count is used for the traced rounds.
    def rounds(phase: String, first: Int, count: Option[Int]): Int = {
      ops.phase = phase
      val t0 = System.nanoTime()
      var r = first
      var last = 0.0
      while (count.fold(r == first || (System.nanoTime() - t0) / 1e9 + last <= seconds)(r < first + _)) {
        val order = new scala.util.Random(seed * 1000003L + r).shuffle(gates)
        val steal0 = Host.stealJiffies()
        val r0 = System.nanoTime()
        order.foreach { g =>
          ops.timed("gate", g, r)(execute(g))
          release()
        }
        last = (System.nanoTime() - r0) / 1e9
        out.record("rounds", "phase" -> Result.q(phase), "round" -> r.toString,
          "s" -> Result.n(last),
          "steal_jiffies" -> (Host.stealJiffies() - steal0).toString)
        r += 1
      }
      r - first
    }

    val timed = rounds("timed", 0, None)
    if (trace) {
      // as many traced rounds as timed ones; a third, untraced set would
      // net the JIT's warm-up out of trace.overhead_s, but it made a traced
      // run on a contended 4-core host take up to 135 s of its 180
      val tracer = new Tracer(spark, spans)
      tracer.start()
      spans.enabled = true
      rounds("traced", timed, Some(timed))
      spans.enabled = false
      tracer.stop()
      out.counters("counters", tracer.counters)
    }
    ops.finish()

    // Correctness: each gate's result, dumped outside the timer, for the
    // DuckDB oracle compare run.py makes.
    val dump = Paths.get(args("work"), "dump")
    Files.createDirectories(dump)
    gates.foreach { g =>
      try queries(g)(spark, dir).write.mode("overwrite").parquet(dump.resolve(g).toString)
      catch { case e: Exception => System.err.println(s"[lakebench] dump $g failed: ${e.getMessage}") }
      release()
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(dump.resolve("oracle_sql.json"),
      gates.filter(oracle.contains).map(g => s"${Result.q(g)}:${Result.q(oracle(g))}")
        .mkString("{", ",\n", "}\n"))
    out.str("dump", dump.toString)
  }
}
