package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.metrics.Observability
import graft.model.Model
import graft.pipeline.MatchPipeline
import graft.sink.StatusStore
import graft.sources.ShardStreamSource
import graft.streaming.{StreamOutcome, StreamPipeline}

/** The `cdc` workload: shard source → `from_json` →
  * `StreamPipeline.outcomesWithTtl` → `StreamPipeline.casSinkTo`, the
  * deployed CDC path, as one query that catches up and then serves live
  * traffic:
  *
  *  - warm-up (untimed, part of set-up): a 2,500-record shard is in
  *    place when the query starts — the empty-start defect otherwise
  *    kills the query, see [[emptyStartProbe]];
  *  - bulk (closed loop, backlog of one shard): four 10,000-record
  *    shards, each micro-batch takes exactly one; the batches of the
  *    last three give records/s (the first runs a third slower, on code
  *    the JIT is still compiling, by a margin that varies with the
  *    host);
  *  - trickle (open loop): 100-record shards published every 250 ms by
  *    the harness thread, whatever the query is doing — 400 records/s
  *    of live traffic, well below what the query sustains, so latency
  *    shows the per-batch cost rather than a growing queue. The first
  *    [[TrickleWarmupMs]] of it are untimed (the small-batch code paths
  *    are still being compiled: batch times fall by a quarter over them),
  *    the run's seconds after that give per-record latency.
  *
  * Afterwards the sink is checked against the batch twin while the
  * empty-start probe runs. */
class Cdc(spark: SparkSession, work: Path, seed: Long, seconds: Double,
    trace: Boolean, report: mutable.Map[String, Any]) {
  import Harness._
  import spark.implicits._

  val BulkShard = 10000
  val BulkWarmup = 2500
  val BulkShards = 3
  val TrickleShard = 100
  val TrickleEveryMs = 250L
  val TrickleWarmupMs = 3000L
  val TtlMs = 10000000000L
  val Stage = "."
  val CounterName = "perfbench_counters"

  val trickleWarmup: Int = (TrickleWarmupMs / TrickleEveryMs).toInt

  /** The generation the run uses: the last of the three. */
  private def fixture: Path = work.resolve("gen-2")

  /** Shards of a stream: the warm-up shard, the bulk segment's
    * shards (one untimed, then [[BulkShards]]) and `trickle` trickle
    * shards. */
  def plan(trickle: Int): Seq[Fixtures.Shard] =
    Fixtures.plan("shard", Fixtures.keyBase(seed),
      Seq(BulkWarmup) ++ Seq.fill(1 + BulkShards)(BulkShard) ++ Seq.fill(trickle)(TrickleShard))

  def plan(): Seq[Fixtures.Shard] =
    plan(trickleWarmup + math.max(8, math.ceil(seconds * 1000 / TrickleEveryMs).toInt))

  def run(): Unit = {
    val shards = plan()
    val probe = Fixtures.plan("probe", shards.last.firstKey + shards.last.records,
      Seq(TrickleShard))
    // set-up: fixture generation three times (the median counts), then
    // the query starts on its warm-up shard
    val gens = (0 until 3).map { r =>
      val d = work.resolve(s"gen-$r")
      deleteTree(d)
      time {
        Fixtures.write(spark, shards ++ probe, d.resolve("stream"), Stage)
        Files.createDirectories(d.resolve("probe"))
        Files.move(d.resolve("stream").resolve(Stage + probe.head.name),
          d.resolve("probe").resolve(Stage + probe.head.name))
      }._2
    }
    val fix = fixture
    report("fixture_gen_s") = gens
    val tracer = if (trace) Some(Tracer.install(spark)) else None
    val (s, warmS) = time {
      val s = new Stream("stream", fix.resolve("stream"), shards, tracer)
      s.warmUp()
      s
    }
    report("warmup_s") = warmS
    report("setup_s") = report("session_s").asInstanceOf[Double] + median(gens) + warmS
    s.bulk()
    s.trickle(trickleWarmup)
    // untimed from here: the sink check and the probe run concurrently
    import scala.concurrent.{Await, Future, duration}
    import scala.concurrent.ExecutionContext.Implicits.global
    val untimed = Seq(Future(s.finish()),
      Future(emptyStartProbe(fix.resolve("probe"), probe.head)))
    val Seq(streamOut, probeOut) = untimed.map(Await.result(_, duration.Duration.Inf))
    report("stream") = streamOut
    report("probe") = probeOut
    tracer.foreach { tr =>
      report("layers") = Layers.measure(spark, fix.resolve("stream"), work.resolve("layers"), tr)
      tr.remove()
    }
  }

  /** Hides every published shard of `dir` again, so a fresh query can
    * replay the same shard set from its start. */
  def restage(dir: Path): Path = {
    Option(dir.toFile.listFiles()).toSeq.flatten
      .filter(f => !f.getName.startsWith(Stage))
      .foreach(f => Files.move(f.toPath, dir.resolve(Stage + f.getName)))
    dir
  }

  /** The single-thread baseline: the bulk segment again, traced, in a
    * fresh `local[1]` session. Stops this instance's session. */
  def singleThreadBulk(): Map[String, Any] = {
    spark.stop()
    val one = Harness.session(work, 1)
    try {
      val c = new Cdc(one, work, seed, seconds, trace, mutable.Map())
      val s = new c.Stream("local1", restage(fixture.resolve("stream")), plan(),
        Some(Tracer.install(one)))
      s.warmUp()
      s.bulk()
      s.finish(checked = false)
    } finally one.stop()
  }

  def regenerate(shards: Seq[Fixtures.Shard], name: String): Path = {
    val d = work.resolve(name)
    deleteTree(d)
    Fixtures.write(spark, shards, d, Stage)
    d
  }

  def envelopeOf(df: DataFrame): DataFrame =
    df.select(from_json(col("value"), Model.envelopeSchema).as("r")).select("r.*")

  def startQuery(shardDir: Path, sink: Path): (StreamingQuery, Double) = {
    val raw = spark.readStream.format(classOf[ShardStreamSource].getName)
      .option("path", shardDir.toString).load()
    val (out, construct) = time(StreamPipeline.outcomesWithTtl(envelopeOf(raw), TtlMs))
    (StreamPipeline.casSinkTo(
      Observability.observed(out.toDF(), CounterName).as[StreamOutcome],
      sink.resolve("ck").toString, sink.resolve("jobs").toString,
      sink.resolve("status").toString), construct)
  }

  /** One stream query over `dir` (shards staged there under [[Stage]],
    * published in plan order) with its own sink and checkpoint.
    * Construction publishes the first shard and starts the query. A
    * failure of the query is recorded, never thrown: the run then
    * reports what it has, and the check counts the missing records. */
  final class Stream(name: String, dir: Path, shards: Seq[Fixtures.Shard],
      tracer: Option[Tracer]) {
    private val sink = work.resolve(s"sink-$name")
    deleteTree(sink)
    private val published = mutable.ArrayBuffer[Map[String, Any]]()
    private var next = 0
    private def pub(due: Long, segment: String): Unit = {
      val sh = shards(next)
      Fixtures.publish(dir, Stage, sh)
      next += 1
      // offsets count visible shard files, so a shard's offset is its
      // position among the published ones
      published += Map("name" -> sh.name, "offset" -> (published.size + 1),
        "records" -> sh.records,
        "due_ms" -> due, "published_ms" -> nowMs, "segment" -> segment)
    }
    pub(nowMs, "warmup")
    private val (q, constructS) = startQuery(dir, sink)
    private var failure: Option[String] = None
    private val segments = mutable.LinkedHashMap[String, Map[String, Any]]()

    private def guard(f: => Unit): Unit =
      if (failure.isEmpty) try f catch { case e: Throwable => failure = Some(errMsg(e)) }

    def warmUp(): Unit = guard(awaitCommitted(1))

    private def segment(label: String)(f: => Unit): Unit = {
      tracer.foreach(_.reset())
      val t0 = nowMs
      guard(f)
      segments(label) = Map("start_ms" -> t0, "end_ms" -> nowMs,
        "trace" -> tracer.map(_.snapshot()).orNull)
    }

    /** Source offset of the newest micro-batch the query has planned
      * (the last line of its newest offset-log entry). */
    private def plannedOffset(): Long = {
      val log = Option(sink.resolve("ck").resolve("offsets").toFile.listFiles()).toSeq.flatten
        .filter(f => f.getName.nonEmpty && f.getName.forall(_.isDigit))
      if (log.isEmpty) 0L
      else {
        val src = scala.io.Source.fromFile(log.maxBy(_.getName.toLong))
        try src.getLines().toSeq.lastOption.flatMap(l => l.trim.toLongOption).getOrElse(0L)
        finally src.close()
      }
    }

    /** Waits until a finished micro-batch covers source offset `n` (or
      * the query dies); idle batches that may follow are not waited for. */
    private def awaitCommitted(n: Long): Unit =
      while (q.isActive && !q.recentProgress.exists(p =>
        p.sources.headOption.flatMap(s => Option(s.endOffset)).exists(_.trim.toLong >= n)))
        Thread.sleep(5)

    /** Closed loop with a backlog of one shard: the next bulk shard is
      * published as soon as the query has planned the micro-batch that
      * takes the previous one, so every batch holds exactly one shard
      * and the query never idles — catch-up after an outage. The
      * first shard (`bulk_warmup`) is untimed: records/s runs from the
      * end of its batch. */
    def bulk(): Unit = segment("bulk") {
      for (k <- 0 to BulkShards) {
        pub(nowMs, if (k == 0) "bulk_warmup" else "bulk")
        while (q.isActive && plannedOffset() < next) Thread.sleep(2)
      }
      awaitCommitted(published.size)
      bulkDiskBytes = sinkBytes()
    }

    private var bulkDiskBytes: Map[String, Long] = Map.empty
    private def sinkBytes(): Map[String, Long] = Map(
      "jobs" -> dirBytes(sink.resolve("jobs")),
      "status" -> dirBytes(sink.resolve("status")),
      "checkpoint" -> dirBytes(sink.resolve("ck")))

    /** Open loop: trickle shard i is due at start + i * period whatever
      * the query is doing; the publisher's lateness shows in each
      * shard's published_ms - due_ms. The first `warm` shards form the
      * untimed `trickle_warmup` segment; the schedule runs on through
      * the timed `trickle` segment without a break. */
    def trickle(warm: Int): Unit = {
      val t0 = nowMs
      var i = 0
      def until(stop: Int, label: String): Unit =
        while (next < stop) {
          val due = t0 + i * TrickleEveryMs
          val wait = due - nowMs
          if (wait > 0) Thread.sleep(wait)
          pub(due, label)
          i += 1
        }
      segment("trickle_warmup")(until(next + warm, "trickle_warmup"))
      segment("trickle") {
        until(shards.size, "trickle")
        awaitCommitted(published.size)
      }
    }

    def finish(checked: Boolean = true): Map[String, Any] = {
      val progress = q.recentProgress.toSeq.map(progressRow)
      q.stop()
      val base = Map(
        "segments" -> segments.toMap,
        "construct_ms" -> constructS * 1000,
        "shards" -> published.toSeq,
        "progress" -> progress,
        "failure" -> failure.orNull,
        "disk_bytes" -> sinkBytes(),
        "disk_bytes_after_bulk" -> bulkDiskBytes,
        "status_snapshots" -> Option(sink.resolve("status").toFile.list())
          .map(_.count(_.startsWith("snap-"))).getOrElse(0))
      if (!checked) base
      else {
        val (c, s) = time(check(dir, sink, progress))
        base ++ Map("check" -> c, "check_s" -> s)
      }
    }
  }

  private def progressRow(p: StreamingQueryProgress): Map[String, Any] = {
    val om = Option(p.observedMetrics).flatMap(m => Option(m.get(CounterName)))
    Map(
      "batch_id" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "end_offset" -> p.sources.headOption.map(_.endOffset).orNull,
      "num_input_rows" -> p.numInputRows,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
      "state_update_ms" -> p.stateOperators.map(_.allUpdatesTimeMs).sum,
      "counters" -> om.map(r => r.schema.fieldNames.map(f =>
        f -> Option(r.getAs[Any](f)).map(_.toString.toLong).getOrElse(0L)).toMap).orNull)
  }

  /** The sink against the batch twin (the same records through
    * `StreamPipeline.outcomes` in batch mode):
    *  - jobs: exactly the triggered dedup_ids, one row each;
    *  - status: exactly one row per (event_id, guest_id) over the
    *    triggered ∪ duplicate keys;
    *  - the six counters observed on the stream equal
    *    `MatchPipeline.metrics` on the same input.
    * Returns counts of records implicated by each failed check. */
  def check(dir: Path, sink: Path, progress: Seq[Map[String, Any]]): Map[String, Any] =
    try {
      val env = envelopeOf(spark.read.format(classOf[ShardStreamSource].getName)
        .option("path", dir.toString).load()).cache()
      val twin = StreamPipeline.outcomes(env).toDF().cache()
      val records = twin.count()
      val expJobs = twin.filter(col("action") === "email_triggered")
        .select(concat(col("eventId"), lit("-"),
          substring_index(col("emailKey"), "|", -1)).as("dedup_id"))
      val jobsDir = sink.resolve("jobs").toString
      val gotJobs =
        if (Files.exists(sink.resolve("jobs"))) spark.read.parquet(jobsDir).select("dedup_id")
        else expJobs.limit(0)
      val jobCmp = expJobs.groupBy("dedup_id").agg(count(lit(1)).as("e"))
        .join(gotJobs.groupBy("dedup_id").agg(count(lit(1)).as("g")), Seq("dedup_id"), "full")
      val badJobs = jobCmp.filter(coalesce(col("e"), lit(0L)) =!= 1L ||
        coalesce(col("g"), lit(0L)) =!= 1L)
      val badJobRows = badJobs.select(greatest(coalesce(col("e"), lit(0L)),
        coalesce(col("g"), lit(0L)))).as[Long].collect().sum

      val keyed = twin.filter(col("action").isin("email_triggered", "duplicate_prevented"))
        .select(col("eventId").as("event_id"), col("guestId").as("guest_id"))
      val statusRows = StatusStore.read(spark, sink.resolve("status").toString)
      val gotStatus = statusRows.getOrElse(keyed.limit(0))
        .groupBy("event_id", "guest_id").agg(count(lit(1)).as("g"))
      val statusCmp = keyed.groupBy("event_id", "guest_id").agg(count(lit(1)).as("e"))
        .join(gotStatus, Seq("event_id", "guest_id"), "full")
        .filter(coalesce(col("g"), lit(0L)) =!= 1L || col("e").isNull)
        .cache()
      val badKeys = statusCmp.count()
      val badBlank = statusCmp.filter(col("guest_id") === "").count()
      val badStatusRecs = statusCmp.select(coalesce(col("e"), lit(1L))).as[Long].collect().sum
      val blankRecs = statusCmp.filter(col("guest_id") === "")
        .select(coalesce(col("e"), lit(1L))).as[Long].collect().sum
      val example = statusCmp.orderBy(col("g").desc_nulls_last).limit(3).collect()
        .map(r => r.toSeq.mkString("(", ", ", ")")).mkString(" ")
      val statusTotal = statusRows.map(_.count()).getOrElse(0L)
      val statusKeys = statusRows.map(_.select("event_id", "guest_id").distinct().count())
        .getOrElse(0L)
      statusCmp.unpersist()

      val names = Seq("total_records", "processed_records", "emails_triggered",
        "skipped_records", "duplicates_prevented", "error_records")
      val batch = MatchPipeline.metrics(MatchPipeline.decide(env)).collect().head
      val expected = names.map(n => n -> Option(batch.getAs[Any](n))
        .map(_.toString.toLong).getOrElse(0L)).toMap
      val observed = names.map { n =>
        n -> progress.flatMap(p => Option(p("counters").asInstanceOf[Map[String, Long]]))
          .map(_.getOrElse(n, 0L)).sum
      }.toMap
      // every record lands in exactly one action counter, so half the
      // summed gap over them is the fewest records whose action differs
      def gap(n: String) = math.abs(expected(n) - observed(n))
      val counterRecords = Seq("emails_triggered", "skipped_records",
        "duplicates_prevented", "error_records").map(gap).sum / 2 + gap("total_records")
      twin.unpersist(); env.unpersist()
      Map(
        "records" -> records,
        "bad_job_rows" -> badJobRows,
        "bad_status_keys" -> badKeys,
        "bad_status_keys_blank_guest" -> badBlank,
        "bad_status_records" -> badStatusRecs,
        "bad_status_records_blank_guest" -> blankRecs,
        "bad_status_example" -> example,
        "status_rows" -> statusTotal,
        "status_keys" -> statusKeys,
        "counters_expected" -> expected,
        "counters_observed" -> observed,
        "counter_mismatch_records" -> counterRecords,
        "error" -> null)
    } catch {
      case e: Throwable => Map("error" -> errMsg(e))
    }

  /** One operation: start the CAS sink on an EMPTY shard dir, let the
    * empty batch 0 commit, then add one shard. */
  def emptyStartProbe(dir: Path, shard: Fixtures.Shard): Map[String, Any] = {
    val sink = work.resolve("sink-probe")
    deleteTree(sink)
    val t0 = System.nanoTime()
    val (q, _) = startQuery(dir, sink)
    try {
      q.processAllAvailable()
      Fixtures.publish(dir, Stage, shard)
      q.processAllAvailable()
      Map("ok" -> true, "error" -> null, "seconds" -> secs(t0))
    } catch {
      case e: Throwable => Map("ok" -> false, "error" -> errMsg(e), "seconds" -> secs(t0))
    } finally q.stop()
  }
}
