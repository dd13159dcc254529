package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --cpus C --nproc P [--data DIR]`.
  *
  * Runs one workload against the system under test in this JVM and
  * prints one line, `PERFBENCH_RESULT {json}`, with the run's counts,
  * its end-to-end metrics and (traced) its per-layer metrics.
  * `perfbench/run.py` builds, launches and checks it. */
object Main {
  /** Load-generator threads (main included) and connections per workload. */
  val Budget: Map[String, (Int, Int)] = Map(
    "steady_fanout" -> (3, 2), "many_groups" -> (4, 3), "backfill" -> (2, 1), "query_mix" -> (1, 0))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val cpus = arg("cpus").toInt
    val work = arg("work")
    val trace = arg("trace") == "1"
    // the load generator's own threads (main + one reader per h2c
    // connection) and connections must fit the box, or it measures itself
    val (threads, conns) = Budget.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val nproc = arg("nproc").toInt
    require(threads <= nproc && conns <= nproc,
      s"$workload needs $threads load-generator threads and $conns connections; nproc is $nproc")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val run = new Run(spark, arg("seed").toLong, arg("seconds").toInt, work, tracer, sessionS)
    val o = workload match {
      case "steady_fanout" => SteadyFanout.run(run)
      case "many_groups" => ManyGroups.run(run)
      case "backfill" => Backfill.run(run)
      case "query_mix" => QueryMix.run(run, arg("data"))
      case other => throw new IllegalArgumentException(s"no runner for $other")
    }
    tracer.foreach { t =>
      // the traced run's own end-to-end figures: against the untraced
      // runs they give the tracing overhead
      o.layers ++= o.endToEnd.map { case (k, v) => s"traced.$k" -> v }
      t.writeSpans(s"$work/spans.jsonl")
      t.detach()
    }

    def num(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) 0.0 else v}""" }.mkString("{", ",", "}")
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    println(s"""PERFBENCH_RESULT {"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""end_to_end":${num(o.endToEnd)},"per_layer":${num(o.layers)},""" +
      s""""problems":${o.problems.map(str).mkString("[", ",", "]")}}""")
    System.out.flush()
    spark.stop()
  }
}
