package graft.tools

import org.apache.spark.sql.SparkSession

/** Measures the per-call cost of [[graft.sources.Tables.load]] — every
  * bench entry re-reads its tables through it (eager parquet schema
  * inference + file listing per call, ~1000 calls per full-suite pass),
  * so any fixed per-call cost is a suite-wide tax. Prints the median
  * per-call milliseconds for a small and a large table, plus the cost
  * of the first call (cold).
  *
  * Usage: sbt "runMain graft.tools.LoadCostProbe <sfDir> [reps]"
  */
object LoadCostProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 50
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The spark.read timers below are a deliberate baseline, exempt from
    // the Tables.load-only rule: set its TIMESTAMP(NANOS) handling here.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def timeIt(label: String, t: String)(f: String => Any): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f(t)
        (System.nanoTime() - t0) / 1e6
      }
      val med = ts.sorted.apply(ts.size / 2)
      println(f"[loadcost] $label%-22s $t%-10s first=${ts.head}%7.1f ms  median=$med%6.1f ms  (n=$reps)")
    }
    Seq("nation", "lineitem", "events", "documents").foreach { t =>
      // analyzed forces the full load path (schema inference + the
      // timestamp-normalization fold) without running a job
      timeIt("load+analyzed", t)(n =>
        graft.sources.Tables.load(spark, sfDir, n).queryExecution.analyzed)
      timeIt("read.parquet only", t)(n =>
        spark.read.parquet(graft.sources.Tables.path(sfDir, n)))
      timeIt("load only (lazy)", t)(n => graft.sources.Tables.load(spark, sfDir, n))
      val schema = spark.read.parquet(graft.sources.Tables.path(sfDir, t)).schema
      timeIt("read with schema", t)(n =>
        spark.read.schema(schema).parquet(graft.sources.Tables.path(sfDir, n)))
    }
    spark.stop()
  }
}
