package lakebench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.lake.{PartitionedTable, TableFormat}
import graft.pipeline.{FilePipeline, Ledger}

/** Self-test: the [[TimedTable]] decorator changes no result. The same verbs
  * and the same file load run against a plain [[PartitionedTable]] and a
  * wrapped one; table contents, commit counts and load results must match.
  * Usage: `SelfTest <work dir>`; exits 1 on a difference. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val spark = SparkSession.builder().master("local[2]").appName("lakebench-selftest")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val csv = work.resolve("in.csv")
    Files.writeString(csv, "Id,Name ,Score,P\n1, alice ,3.5,a\n2,N/A,4,b\n3,carol,x,a\n")

    def rows(df: DataFrame): Seq[String] =
      df.drop("processed_at").collect().map(_.toSeq.mkString("|")).toSeq.sorted

    def scenario(lake: TableFormat, root: String): Seq[String] = {
      lake.create(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"), "t")
      lake.append(Seq((3L, "a", 30)).toDF("k", "p", "v"), "t")
      lake.upsert(Seq((1L, "a", 11), (4L, "c", 40)).toDF("k", "p", "v"), "t", Seq("k"))
      val deleted = lake.deleteWhere(spark, "t", col("k") === 2L)
      lake.overwrite(lake.read(spark, "t").filter(col("k") =!= 4L), "t2")
      val ledger = new Ledger(s"$root.ledger")
      val loads = Seq(
        FilePipeline.processFile(spark, csv.toString, "f", lake, ledger),
        FilePipeline.processFile(spark, csv.toString, "f", lake, ledger))
      Seq(s"deleted=$deleted", s"version=${PartitionedTable.open(root, "t").version("t")}",
        s"loads=${loads.mkString(";")}") ++
        rows(lake.read(spark, "t")) ++ rows(lake.read(spark, "t2")) ++ rows(lake.read(spark, "f"))
    }

    val plainRoot = work.resolve("plain").toString
    val timedRoot = work.resolve("timed").toString
    val spans = new Spans(spark.sparkContext)
    spans.enabled = true
    val plain = scenario(new PartitionedTable(plainRoot, Seq("p")), plainRoot)
    val timed = scenario(new TimedTable(new PartitionedTable(timedRoot, Seq("p")), spans), timedRoot)
    val timedVerbs = spans.all.map(_.name).toSet
    spark.stop()
    if (plain != timed) {
      System.err.println(s"decorator changed results:\n  plain: $plain\n  timed: $timed")
      sys.exit(1)
    }
    if (!Set("lake.append", "lake.upsert", "lake.read", "lake.delete").subsetOf(timedVerbs)) {
      System.err.println(s"decorator did not time every verb: $timedVerbs")
      sys.exit(1)
    }
    println(s"decorator: ${plain.size} identical result lines")
  }
}
