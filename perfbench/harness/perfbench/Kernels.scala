package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Tables
import graft.functions.Geo
import graft.plans._

/** Direct timings of the public `*Kernel` entry points in `graft.plans`,
  * fed the `documents` text and `embeddings` vectors of the run's data.
  * Each entry is called over every input row until ~`budgetMs` has
  * passed; the median of five such rounds is its ns per row.
  */
object Kernels {

  def run(spark: SparkSession, data: String, budgetMs: Double = 40.0): Map[String, Double] = {
    val texts: Array[UTF8String] = Tables.documents(spark, data)
      .select("text").collect().map(r => UTF8String.fromString(r.getString(0)))
    val vecs: Array[Array[Float]] = Tables.embeddings(spark, data)
      .select("embedding").collect()
      .map(r => r.getSeq[Float](0).toArray)
    val dims = vecs.head.length
    val arrays: Array[ArrayData] = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v))
    val tokens: Array[ArrayData] = texts.map(t =>
      new GenericArrayData(t.toString.split(" ").map(UTF8String.fromString(_): Any)))
    val rnd = new scala.util.Random(7L)
    val cells = 16
    val cellIds = Array.tabulate(cells)(_.toLong)
    val centroids = Array.tabulate(cells * dims)(_ => rnd.nextGaussian() * 0.1)
    val (tables, bits) = (4, 8)
    val planes = Array.tabulate(tables * bits * dims)(_ => rnd.nextGaussian())
    val (pqM, pqK) = (8, 16)
    val codebook = Array.tabulate(pqM * pqK * (dims / pqM))(_ => rnd.nextGaussian() * 0.1)
    val mixes = Array.tabulate(64)(_ => rnd.nextLong())
    val trie = PieceTrie.build(texts.iterator.flatMap(_.toString.split(" "))
      .flatMap(w => Seq(w, w.take(2))).toSeq.distinct)
    val polys = (for (i <- 0 until 4; j <- 0 until 4) yield {
      val (x0, y0) = (-0.4 + 0.2 * i, -0.4 + 0.2 * j)
      Geo.Poly(i * 4 + j, Array(x0, x0 + 0.2, x0 + 0.2, x0), Array(y0, y0, y0 + 0.2, y0 + 0.2))
    }).toArray
    val nT = texts.length
    val nV = arrays.length
    var sink = 0L // consumed so the JIT cannot drop a call

    val entries: Seq[(String, Int, () => Unit)] = Seq(
      ("JaroWinklerKernel.score", nT, () => {
        var i = 0
        while (i < nT) { sink += JaroWinklerKernel.score(texts(i), texts((i + 1) % nT)).toLong; i += 1 }
      }),
      ("SketchKernel.sketch", nT, () => {
        var i = 0
        while (i < nT) { sink += SketchKernel.sketch(texts(i), 3, mixes).numFields; i += 1 }
      }),
      ("ShingleKernel.hashedShingles", nT, () => {
        var i = 0
        while (i < nT) { sink += ShingleKernel.hashedShingles(texts(i), 3).numElements(); i += 1 }
      }),
      ("ShingleKernel.hashedWindows", nT, () => {
        var i = 0
        while (i < nT) { sink += ShingleKernel.hashedWindows(texts(i), 5).numElements(); i += 1 }
      }),
      ("WinnowingKernel.select", nT, () => {
        var i = 0
        while (i < nT) { sink += WinnowingKernel.select(texts(i), 5, 4).numElements(); i += 1 }
      }),
      ("NfcKernel.nfc", nT, () => {
        var i = 0
        while (i < nT) { sink += NfcKernel.nfc(texts(i)).numBytes(); i += 1 }
      }),
      ("LcsTokensKernel.lcs", nT, () => {
        var i = 0
        while (i < nT) { sink += LcsTokensKernel.lcs(tokens(i), tokens((i + 1) % nT)); i += 1 }
      }),
      ("PieceTrie.encode", nT, () => {
        var i = 0
        while (i < nT) { sink += PieceTrie.encode(texts(i), trie).numBytes(); i += 1 }
      }),
      ("VectorKernel.dot", nV, () => {
        var i = 0
        while (i < nV) {
          sink += VectorKernel.dot(arrays(i), arrays((i + 1) % nV), true, true).longValue; i += 1
        }
      }),
      ("VectorKernel.nearestCell", nV, () => {
        var i = 0
        while (i < nV) {
          sink += VectorKernel.nearestCell(arrays(i), cellIds, centroids, dims, true).longValue; i += 1
        }
      }),
      ("VectorKernel.hyperplaneBuckets", nV, () => {
        var i = 0
        while (i < nV) {
          sink += VectorKernel.hyperplaneBuckets(arrays(i), planes, tables, bits, dims, true)
            .numElements(); i += 1
        }
      }),
      ("VectorKernel.pqEncode", nV, () => {
        var i = 0
        while (i < nV) {
          sink += VectorKernel.pqEncode(arrays(i), codebook, pqM, dims / pqM, pqK, true)
            .numElements(); i += 1
        }
      }),
      ("PointInPolygonKernel.firstContaining", nV, () => {
        var i = 0
        while (i < nV) {
          val v = vecs(i)
          val hit = PointInPolygonKernel.firstContaining(polys, v(0).toDouble, v(1).toDouble)
          if (hit != null) sink += hit.intValue
          i += 1
        }
      }))

    val out = entries.map { case (name, n, body) =>
      body() // warm the JIT
      val rounds = (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        var calls = 0L
        while ((System.nanoTime() - t0) / 1e6 < budgetMs) { body(); calls += n }
        (System.nanoTime() - t0).toDouble / calls
      }.sorted
      name -> rounds(2)
    }.toMap
    if (sink == 42L) println("") // keeps `sink` live
    out
  }
}
