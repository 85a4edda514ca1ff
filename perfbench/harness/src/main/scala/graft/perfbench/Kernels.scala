package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ExprKernels, ReedSolomon}

/** Microbenchmark of the public `ExprKernels` and `ReedSolomon` kernels
  * on fixed inputs: 64 documents and 64 embeddings the seed draws from
  * the tables. Each kernel is warmed up, then called over the inputs
  * until ~150 ms have passed; the result is nanoseconds per input row
  * (per payload byte for the Reed–Solomon encoder). */
object Kernels {
  private val Sample = 64
  private val BudgetNs = 150L * 1000 * 1000

  def run(spark: SparkSession, data: String, seed: Long): Map[String, Double] = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val texts = rnd.shuffle(graft.Tables.documents(spark, data)
      .select($"text").as[String].collect().toSeq).take(Sample)
    val vecs = rnd.shuffle(graft.Tables.embeddings(spark, data)
      .select($"embedding").as[Seq[Float]].collect().toSeq).take(Sample)
    val dim = vecs.head.size

    val utf = texts.map(UTF8String.fromString).toArray
    val grams = utf.map(t => ExprKernels.wordNgramHashes(t, 3))
    val sortedSets = grams.map { g =>
      UnsafeArrayData.fromPrimitiveArray(g.toLongArray().distinct.sorted)
    }
    val floats: Array[ArrayData] = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v.toArray)).toArray
    val doubles: Array[ArrayData] =
      vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v.map(_.toDouble).toArray)).toArray
    val cents = Array.fill(32, dim)(rnd.nextGaussian())
    val planes = Array.fill(64, dim)(rnd.nextGaussian())
    val m = 8
    val ds = dim / m
    val books = Array.fill(m, 16, ds)(rnd.nextGaussian())
    val sumsq = books.map(_.map(c => c.map(x => x * x).sum))
    val payloads = texts.map(_.getBytes("UTF-8")).toArray

    var sink = 0L
    def time(rows: Int)(body: Int => Long): Double = {
      var i = 0
      while (i < rows * 20) { sink += body(i % rows); i += 1 }
      var n = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < BudgetNs) {
        var j = 0
        while (j < rows) { sink += body(j); j += 1 }
        n += rows
        t = System.nanoTime()
      }
      (t - t0).toDouble / n
    }

    val res = Map(
      "minhashSig.ns_per_row" -> time(Sample)(i => ExprKernels.minhashSig(grams(i), 32).getLong(0)),
      "simhash64.ns_per_row" -> time(Sample)(i => ExprKernels.simhash64(grams(i))),
      "wordNgramHashes.ns_per_row" -> time(Sample)(i => ExprKernels.wordNgramHashes(utf(i), 3).numElements()),
      "winnowStats.ns_per_row" -> time(Sample)(i => ExprKernels.winnowStats(utf(i), 5, 4)(2)),
      "cdcChunks.ns_per_row" -> time(Sample)(i => ExprKernels.cdcChunks(utf(i)).length),
      "jaccardSorted.ns_per_row" -> time(Sample)(i =>
        java.lang.Double.doubleToLongBits(ExprKernels.jaccardSorted(sortedSets(i), sortedSets((i + 1) % Sample)))),
      "cosineFF.ns_per_row" -> time(Sample)(i =>
        java.lang.Double.doubleToLongBits(ExprKernels.cosineFF(floats(i), floats((i + 1) % Sample)))),
      "bestCentroid.ns_per_row" -> time(Sample)(i => ExprKernels.bestCentroid(doubles(i), cents).getInt(1)),
      "pqCodes.ns_per_row" -> time(Sample)(i => ExprKernels.pqCodes(doubles(i), books, sumsq).getInt(0)),
      "hyperplaneSigF.ns_per_row" -> time(Sample)(i => ExprKernels.hyperplaneSigF(floats(i), planes)),
      "rs_encode.ns_per_byte" -> time(Sample)(i =>
        ReedSolomon.encode(ReedSolomon.stripe(payloads(i), 4), 2)(0).length) * Sample / payloads.map(_.length).sum)
    if (sink == 42) System.err.println("") // keeps the results live
    res
  }
}
