package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The `query_suite` workload: a fixed set of `SparkEntry.queries`,
  * one at a time, over the seeded tables in `data` (perfbench/datagen.py).
  *
  *  1. one untimed pass writes every query's output as parquet for the
  *     DuckDB oracle compare (and warms the JIT and codegen caches);
  *  2. timed passes, memos dropped before each (`SparkEntry.clearMemos`,
  *     so every pass pays the shared artifact builds), consume every
  *     output column through the `noop` writer, as many as fit in the
  *     run's seconds at the last pass's pace (at least one pass);
  *  3. traced runs add one traced pass (spans per query, parented by
  *     the query's family) and a short traced run of the `cdc` stream
  *     (four bulk shards, three seconds of trickle), so the stream
  *     layers are measured on this workload too. */
class Suite(spark: SparkSession, work: Path, data: Path, seed: Long, seconds: Double,
    trace: Boolean, report: mutable.Map[String, Any]) {
  import Harness._

  def family(q: String): String = {
    val p = q.takeWhile(_ != '_')
    if (p.matches("q\\d+")) "q" else p
  }

  def run(): Unit = {
    val dir = data.toString
    val oracleDir = work.resolve("oracle")
    deleteTree(oracleDir)
    val untimed = mutable.LinkedHashMap[String, Any]()
    val (_, warmS) = time {
      Suite.Queries.foreach { q =>
        spark.sparkContext.setJobDescription(s"perfbench:$q")
        val (err, s) = time(try {
          SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
            .parquet(oracleDir.resolve(q).toString)
          null
        } catch { case e: Throwable => errMsg(e) })
        untimed(q) = Map("seconds" -> s, "error" -> err)
      }
    }
    writeJson(oracleDir.resolve("oracle_sql.json"),
      Suite.Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    report("untimed_pass") = untimed
    report("warmup_s") = warmS
    report("setup_s") = report("gen_s").asInstanceOf[Double] +
      report("session_s").asInstanceOf[Double] + warmS

    def pass(tracer: Option[Tracer]): Map[String, Any] = {
      SparkEntry.clearMemos()
      spark.catalog.clearCache()
      Suite.Queries.map { q =>
        spark.sparkContext.setJobDescription(s"perfbench:$q")
        var construct = 0.0
        val run = () => {
          val (df, c) = time(SparkEntry.queries(q)(spark, dir))
          construct = c
          Layers.consume(df)
        }
        val (err, s) = time(try {
          tracer match {
            case Some(t) => t.span(q, family(q))(run())
            case None => run()
          }
          null
        } catch { case e: Throwable => errMsg(e) })
        q -> Map("seconds" -> s, "construct_s" -> construct, "error" -> err)
      }.toMap
    }
    // shuffle bytes the timed passes write to local disk: the one task
    // metric the end-to-end numbers need, summed by a minimal listener
    val shuffle = new java.util.concurrent.atomic.AtomicLong()
    val bytes = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    spark.sparkContext.addSparkListener(bytes)
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    // a pass starts only if, at the pace of the last one, it ends
    // within the run's seconds, so the run's length does not jump by a
    // whole pass with the host's speed
    val t0 = System.nanoTime()
    var last = 0L
    while (passes.isEmpty || System.nanoTime() - t0 + last <= (seconds * 1e9).toLong) {
      val p0 = System.nanoTime()
      passes += pass(None)
      last = System.nanoTime() - p0
    }
    Tracer.drain(spark)
    spark.sparkContext.removeSparkListener(bytes)
    report("passes") = passes.toSeq
    report("shuffle_bytes") = shuffle.get()
    report("timed_queries") = passes.size * Suite.Queries.size
    if (trace) {
      val t = Tracer.install(spark)
      report("traced_pass") = pass(Some(t))
      report("trace") = t.snapshot()
      t.remove()
      val cdc = new Cdc(spark, work, seed, seconds, trace = true, mutable.Map())
      val shards = cdc.plan(12)
      val t2 = Tracer.install(spark)
      val s = new cdc.Stream("mini", cdc.regenerate(shards, "mini"), shards, Some(t2))
      s.warmUp()
      s.bulk()
      s.trickle(0)
      report("stream") = s.finish()
      report("layers") = Layers.measure(spark, work.resolve("mini"), work.resolve("layers"), t2)
      t2.remove()
    }
  }
}

object Suite {
  /** One typical member of each query-name family — the member with
    * the median time in the library's committed sf0.1 bench results
    * (TPC-H `qN` queries form one family) — plus all nine `pipe_*`
    * queries, which share the stream's decode and rules layers. */
  val Queries: Seq[String] = Seq(
    "agg_percentiles_approx", "corpus_tombstone_active", "cube_status_priority",
    "dedup_simhash", "diag_key_skew", "embed_ivf_topk", "events_asof_broadcast",
    "layout_zorder", "mm_frames_mjpeg", "orders_basket", "pivot_status",
    "q7_nation_trade", "rollup_revenue", "sample_splits", "setop_segments",
    "sketch_kmv_overlap", "sql_dsir", "text_length_histogram", "window_range_frame",
    "pipe_actions", "pipe_batch_failures", "pipe_decode_attrs", "pipe_email_jobs",
    "pipe_metrics", "pipe_sqs_attrs", "pipe_status_updates", "pipe_tombstones",
    "pipe_top_matches")
}
