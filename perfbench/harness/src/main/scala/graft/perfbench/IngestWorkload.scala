package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.Tables
import graft.operators.TextOps
import graft.streaming.StreamingOps

/** index_ingest: the documents the base postings index leaves out
  * (doc_id % 10 = 0) streamed in `Batches` seeded micro-batches through
  * `StreamingOps.compactingIndexStream`. Closed loop: the harness hands
  * one micro-batch to the stream and waits for it to finish before it
  * issues the next. Each batch appends postings to the bucketed index,
  * every `CompactEvery`-th batch compacts it, and each batch refreshes
  * the standing keyword queries. A pass is one compaction cycle: plain
  * appends (`append`) and then the append that compacts
  * (`append_compact`), so every pass does the same kind of work on a
  * slightly larger index. Pass 0 is the cold pass. After the last pass,
  * the standing reads run `ProbeRounds` times over the grown index.
  *
  * The untimed check compares the stream's final refresh with its batch
  * truth, `TextOps.text_search_index_delta` — the ≡-batch theorem
  * StreamingSpec proves. */
final class IngestWorkload(r: Run) {
  import IngestWorkload._

  require(r.o.queries == Seq(Stream), s"index_ingest runs the stream $Stream only")
  private val data = r.o.data
  private def spark = r.spark

  private var delta: Seq[(Long, String)] = Nil
  private var base: String = _
  private var baseN = 0L
  private val outputs = ArrayBuffer.empty[Seq[String]]

  /** Set-up: the delta documents and the base index (generation 0). */
  def setUp(): Unit = {
    val s = spark
    import s.implicits._
    delta = Tables.documents(s, data).filter($"doc_id" % 10 === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1).toSeq
    val (b, n) = TextOps.searchCompactStreamTable(s, data, "pb")
    base = b
    baseN = n
  }

  /** Seeded split of the delta into `Batches` batches of near-equal size:
    * the seed decides which documents go together and in which order. */
  private def split(): Seq[Seq[(Long, String)]] = {
    require(delta.size >= Batches, s"need at least $Batches delta documents, have ${delta.size}")
    val shuffled = new scala.util.Random(r.o.seed * 1000003L + 1).shuffle(delta)
    (0 until Batches).map(i =>
      shuffled.slice(i * delta.size / Batches, (i + 1) * delta.size / Batches))
  }

  /** The live generation of the index: the highest `<base>_g<n>`. */
  private def liveTable: String =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(s"${base}_g"))
      .maxBy(_.stripPrefix(s"${base}_g").toLong)

  def run(): Unit = {
    val batches = split()
    // a stream plans its micro-batches in a clone of the session made when
    // it starts, so the Catalyst listener must be registered before that
    r.setTracing(r.o.trace)
    val stream = MemoryStream[(Long, String)](Encoders.product[(Long, String)], spark.sqlContext)
    val query = StreamingOps.compactingIndexStream(stream.toDF().toDF("doc_id", "text"),
      base, baseN, CompactEvery, df => outputs.synchronized { outputs += render(df) })
    try {
      for (p <- 0 until Passes) {
        r.pass(p, traced = r.o.trace, settled = true) {
          for (b <- p * CompactEvery until (p + 1) * CompactEvery) {
            val name = if ((b + 1) % CompactEvery == 0) "append_compact" else "append"
            r.op(name, p, "batch", unit = Stream) {
              stream.addData(batches(b))
              () => query.processAllAvailable()
            }
          }
        }
      }
    } finally query.stop()

    // the probes repeat identical work, so a traced run alternates
    // traced and untraced probe rounds to measure the tracing overhead
    val table = liveTable
    for (p <- Passes until Passes + ProbeRounds) {
      r.pass(p, traced = r.o.trace && (p - Passes) % 2 == 0) {
        r.op(Stream, p, "probe") {
          val df = TextOps.searchIndexQueryOver(spark, table, baseN + delta.size)
          () => df.write.format("noop").mode("overwrite").save()
        }
      }
    }

    r.setTracing(false)
    val got = outputs.lastOption.getOrElse(Nil)
    val want = render(TextOps.text_search_index_delta(spark, data))
    val verdict = if (got == want) null
      else s"final output differs from the batch truth: ${got.size} vs ${want.size} rows, " +
        s"first difference ${got.diff(want).headOption.orElse(want.diff(got).headOption).getOrElse("")}"
    r.extra("ingest") = Map(
      "verdicts" -> Map(Stream -> verdict),
      "batches" -> Batches, "compact_every" -> CompactEvery,
      "units" -> delta.size,
      "ingested_bytes" -> delta.map { case (_, t) => 8L + t.getBytes("UTF-8").length }.sum,
      "files_per_bucket" -> filesPerBucket(table))
  }

  /** Data files per bucket of a bucketed table, from its directory:
    * bucketed files carry their bucket id as the `_NNNNN` suffix. */
  private def filesPerBucket(tbl: String): Double = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
      .find(_.getString(0) == "Location").map(_.getString(1))
      .getOrElse(sys.error(s"no location for $tbl"))
    val dir = new java.io.File(new java.net.URI(loc))
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(n => n.startsWith("part-"))
    val buckets = files.flatMap(n => BucketId.findFirstMatchIn(n).map(_.group(1))).distinct
    if (buckets.isEmpty) files.length.toDouble else files.length.toDouble / buckets.length
  }
}

object IngestWorkload {
  val Stream = "compacting_index"
  val Batches = 8
  val CompactEvery = 2
  val Passes = Batches / CompactEvery
  val ProbeRounds = 4
  private val BucketId = "_(\\d{5})\\.c\\d{3}".r

  /** A result as sorted rendered rows, for exact comparison. */
  def render(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
}
