package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkEntry
import graft.sources.Tables

/** One closed-loop client running a fixed sample of `SparkEntry.queries`
  * over seeded sf0.01-sized tables, in a seeded order, after one untimed
  * warm pass that also writes each result for the DuckDB check that
  * runs after this JVM exits. It measures the operator surface,
  * `sources.Tables` and Spark planning and scheduling, and is the
  * control that changes to the streaming layers must leave flat. */
object QueryMix {
  /** A cross-section of the operator modules (relational, TPC-H,
    * scalars, windows, the subject fan-out as a batch query, text, dedup,
    * vectors, reshape, sketches, retrieval, temporal, graph, layout),
    * each under a second cold on these tables. The same sample runs on
    * every seed; the seed draws the tables and the order. The timed loop
    * runs whole passes over it, so every query is timed equally often. */
  val Sample: Seq[String] = Seq(
    "q10_agg_tpch_q1", "q115_tpch_q3", "q140_tpch_q6", "q16_window_rank",
    "q26_scalar_datetime", "q33_window_sliding", "q36_subject_fanout", "q37_text_stats",
    "q44_dedup_minhash_lsh", "q46_vector_topk", "q59_pivot", "q79_heavy_hitters",
    "q85_bm25", "q96_sessionize", "q156_power_iteration", "q180_zorder_prune_eval")

  def run(r: Run, data: String): Outcome = {
    val o = new Outcome
    val spark = r.spark
    val out = r.dir("out")
    val names = Sample
    val fns = SparkEntry.queries

    val loads = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      Tables.all.foreach(Tables.load(spark, data, _))
      Tables.load(spark, data, "region").count()
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = r.sessionSeconds + Stats.median(loads)

    // warm pass, untimed: each result is written for the oracle check
    val rows = mutable.LinkedHashMap.empty[String, Long]
    val warmMs = mutable.LinkedHashMap.empty[String, Double]
    for (n <- names) {
      val t0 = System.nanoTime()
      try {
        fns(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
        rows(n) = spark.read.parquet(s"$out/$n").count()
      } catch {
        case e: Throwable => o.fail(1, s"query $n failed: ${e.getMessage}")
      } finally spark.catalog.clearCache()
      warmMs(n) = Stats.ms(System.nanoTime() - t0)
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => rows.contains(k) }
    val json = oracle.map { case (k, v) => s"${quote(k)}:${quote(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
    System.err.println("[query_mix] warm ms: " +
      warmMs.map { case (k, v) => f"$k=$v%.0f" }.mkString(" "))

    val order = new Random(r.seed).shuffle(rows.keys.toSeq)
    val lat = mutable.ArrayBuffer.empty[Double]
    val calls = mutable.ArrayBuffer.empty[(Double, Long, Long, Set[Long])]
    val seenQe = mutable.HashSet.empty[Long]
    val t0 = System.nanoTime()
    val fromMs = System.currentTimeMillis()
    val limit = t0 + r.seconds * 1000000000L
    var k = 0
    while (order.nonEmpty && (k % order.size != 0 || k == 0 || System.nanoTime() < limit)) {
      val n = order(k % order.size)
      val s = System.nanoTime()
      val sMs = System.currentTimeMillis()
      val got = try fns(n)(spark, data).collect().length.toLong catch { case _: Throwable => -1L }
      val e = System.nanoTime()
      val eMs = System.currentTimeMillis()
      lat += Stats.ms(e - s)
      if (got != rows(n)) o.fail(1, s"query $n returned $got rows, the warm pass ${rows(n)}")
      spark.catalog.clearCache()
      r.tracer.foreach { t =>
        t.drain()
        val ids = t.qes.asScala.map(_.id).filterNot(seenQe.contains).toSet
        seenQe ++= ids
        calls += ((Stats.ms(e - s), sMs, eMs, ids))
        t.span("query", s"q$k-$n", s, e)
      }
      k += 1
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    val toMs = System.currentTimeMillis()
    val heapMb = Stats.liveHeapMb()
    o.attempted = names.size.toLong + k
    val xs = lat.toArray
    o.endToEnd ++= Seq("latency_p50_ms" -> Stats.pct(xs, 50), "latency_tail_ms" -> Stats.pct(xs, 90),
      "throughput_per_s" -> k / elapsedS, "setup_s" -> setupS, "heap_live_mb" -> heapMb)
    r.tracer.foreach { t =>
      o.layers ++= t.schedulerMetrics(fromMs, toMs, 0, 0) ++ t.queryMetrics(fromMs, toMs, calls.toSeq)
    }
    o
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
