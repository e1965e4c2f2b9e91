package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.MatchFixture

/** Shard files for the stream workloads, built from
  * `MatchFixture.envelope` over a synthetic `customer` range.
  *
  * The seed only moves the `c_custkey` range. Every outcome rule of the
  * fixture is a residue of `c_custkey` (mod 2^2, 3^2, 5^2, 7, 11, 13,
  * 17, 19, 23 and a few larger primes), and the shift is a multiple of
  * the product of all the small moduli, so every seed sees the same
  * duplicate-key structure and, up to the rare large-prime residues, the
  * same outcome mix. The range stays below 2^43 so the record sequence,
  * used as event seconds by the TTL state machine, remains a valid
  * timestamp. */
object Fixtures {

  /** 2^2 * 3^2 * 5^2 * 7 * 11 * 13 * 17 * 19 * 23 */
  val KeyShift: Long = 6692786100L

  def keyBase(seed: Long): Long = Math.floorMod(seed, 1000L) * KeyShift + 1L

  /** One planned shard: the file name it is published under (shard
    * files sort by name, which is the source's offset order), its first
    * key and record count. */
  final case class Shard(name: String, firstKey: Long, records: Int)

  def plan(prefix: String, firstKey: Long, sizes: Seq[Int]): Vector[Shard] = {
    var k = firstKey
    sizes.zipWithIndex.map { case (n, i) =>
      val s = Shard(f"$prefix-$i%05d.json", k, n)
      k += n
      s
    }.toVector
  }

  /** Writes each shard's JSON lines (one envelope per line, ascending
    * key) to `dir/<stage><name>`; a "." stage prefix keeps the file
    * invisible to the shard source until it is renamed. */
  def write(spark: SparkSession, shards: Seq[Shard], dir: Path, stage: String): Unit = {
    if (shards.isEmpty) return
    Files.createDirectories(dir)
    val lo = shards.head.firstKey
    val hi = shards.last.firstKey + shards.last.records
    val starts = shards.map(_.firstKey).toArray
    val names = shards.map(s => dir.resolve(stage + s.name).toString).toArray
    val cust = spark.range(lo, hi, 1, Harness.Cores).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"))
    val lines = MatchFixture.envelope(cust).select(
      col("dynamodb.SequenceNumber").cast("long").as("k"),
      to_json(struct(col("*"))).as("j"))
    lines.rdd
      .map { r =>
        val k = r.getLong(0)
        val i = java.util.Arrays.binarySearch(starts, k)
        (if (i >= 0) i else -i - 2, (k, r.getString(1)))
      }
      .partitionBy(new HashPartitioner(names.length))
      .foreachPartition { it =>
        it.toSeq.groupBy(_._1).foreach { case (i, rows) =>
          val body = rows.map(_._2).sortBy(_._1).map(_._2).mkString("\n")
          Files.write(Paths.get(names(i)), body.getBytes(StandardCharsets.UTF_8))
        }
      }
  }

  /** Makes a staged (invisible) shard visible to the source. */
  def publish(dir: Path, stage: String, s: Shard): Unit =
    Files.move(dir.resolve(stage + s.name), dir.resolve(s.name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

  /** The determinism self-test's input: for each seed in `seeds`, a
    * warm-up shard and three data shards written visible under
    * `work/shards-<i>`, and the batch twin's action counts over them in
    * `work/mix-<i>.json`. */
  def writeShardSets(work: Path, seeds: Seq[Long]): Unit = {
    val spark = Harness.session(work, 2)
    try seeds.zipWithIndex.foreach { case (seed, i) =>
      val dir = work.resolve(s"shards-$i")
      Harness.deleteTree(dir)
      write(spark, plan("shard", keyBase(seed), Seq(250, 1000, 1000, 1000)), dir, "")
      val raw = spark.read.format(classOf[graft.sources.ShardStreamSource].getName)
        .option("path", dir.toString).load()
      val env = raw.select(from_json(col("value"), graft.model.Model.envelopeSchema).as("r"))
        .select("r.*")
      val mix = graft.streaming.StreamPipeline.outcomes(env).toDF()
        .groupBy("action").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Harness.writeJson(work.resolve(s"mix-$i.json"), mix)
    } finally spark.stop()
  }
}
