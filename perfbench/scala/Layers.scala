package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Model
import graft.pipeline.MatchPipeline
import graft.rules.Rules
import graft.sink.{EmailJobSink, StatusStore}
import graft.sources.ShardStreamSource
import graft.streaming.StreamPipeline

/** Batch-mode timings of each stream layer's public functions on one
  * shard directory (traced runs only). Every frame is consumed through
  * the `noop` writer so no projected column can be pruned; each stage
  * adds one layer to the one before, so a layer's self time is its
  * stage minus the previous stage:
  *
  *   sources.read   shard files → raw rows (`ShardStreamSource`)
  *   decode         + `from_json` + `MatchPipeline.decoded`
  *   rules          + the `Rules.decisionStruct` decision column
  *   streaming      `StreamPipeline.outcomes` (batch mode, keyed state)
  *
  * The sink functions then run once each, on fresh tables, over the
  * batch twin's outcomes — `StatusStore.casMerge` of the triggered keys
  * ('pending' → 'processing'), `EmailJobSink.appendJobs` of the CAS
  * winners, `casMerge` of the duplicate keys ('delivered') — for the
  * compare-and-set counts the stream does not expose. */
object Layers {
  import Harness._

  val Reps = 3

  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def measure(spark: SparkSession, shardDir: Path, work: Path, t: Tracer): Map[String, Any] = {
    deleteTree(work)
    val raw = spark.read.format(classOf[ShardStreamSource].getName)
      .option("path", shardDir.toString).load()
    val env = raw.select(from_json(col("value"), Model.envelopeSchema).as("r")).select("r.*")
    val dec = MatchPipeline.decoded(env)
    val ruled = dec.withColumn("decision", Rules.decisionStruct(
      eventName = col("event_name"), hasNewImage = col("has_new_image"),
      parseError = col("parse_error"), eventId = col("event_id"),
      guestId = col("guest_id"), guestName = col("guest_name"),
      guestEmail = col("guest_email"), emailStatus = col("email_status"),
      emailSent = col("email_sent"), deliveryStatus = col("delivery_status"),
      totalMatches = col("total_matches"), newMatches = col("new_matches"),
      oldEmailStatus = col("old_email_status"), oldEmailSent = col("old_email_sent"),
      oldDeliveryStatus = col("old_delivery_status"),
      oldTotalMatches = col("old_total_matches"), dupHit = lit(false)))
    val out = StreamPipeline.outcomes(env).toDF()

    val stages = Seq("sources.read" -> raw, "decode" -> dec, "rules" -> ruled,
      "streaming.outcomes" -> out)
    stages.foreach { case (_, df) => consume(df) } // untimed: compiles each stage
    // rounds interleave the stages so JIT warm-up favours none of them
    val rounds = (1 to Reps).map(_ => stages.map { case (name, df) =>
      t.span(s"layer:$name", "layers")(time(consume(df))._2)
    })
    val Seq(src, decS, rulesS, outS) = stages.indices.map(i => median(rounds.map(_(i))))
    val records = raw.count()

    val twin = out.cache()
    val triggered = twin.filter(col("action") === "email_triggered")
      .select(col("recordId").as("record_id"), col("eventId").as("event_id"),
        col("guestId").as("guest_id"),
        concat(col("eventId"), lit("-"), substring_index(col("emailKey"), "|", -1))
          .as("dedup_id"))
    val dups = twin.filter(col("action") === "duplicate_prevented")
      .select(col("eventId").as("event_id"), col("guestId").as("guest_id"))
    val status = work.resolve("status").toString
    val jobs = work.resolve("jobs").toString
    val cas = t.span("layer:sink.cas_merge", "layers")(
      StatusStore.casMerge(StatusStore.markProcessing(
        triggered.select("event_id", "guest_id")), status))
    val winners = triggered.join(cas.appliedKeys, Seq("event_id", "guest_id"), "left_semi")
    t.span("layer:sink.append_jobs", "layers")(EmailJobSink.appendJobs(winners, jobs))
    val delivered = t.span("layer:sink.mark_delivered", "layers")(
      StatusStore.casMerge(StatusStore.markDelivered(dups), status))
    twin.unpersist()
    Map(
      "records" -> records,
      "sources_read_s" -> src,
      "decode_s" -> decS,
      "rules_s" -> rulesS,
      "outcomes_s" -> outS,
      "cas_applied" -> (cas.applied + delivered.applied),
      "cas_rejected" -> (cas.rejected + delivered.rejected))
  }
}
