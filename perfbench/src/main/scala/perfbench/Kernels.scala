package perfbench

import graft.functions.{PolyHash, TextKernels}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Microbench of the `graft.functions` kernels through the sorted-merge
  * entry points, on seeded samples of the generated documents. Reports
  * the median of several timed rounds after one warm-up round. */
object Kernels {

  private val rounds = 5

  private def timeNs(work: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val acc = work
    ((System.nanoTime() - t0).toDouble, acc)
  }

  private def perUnit(units: Long)(work: => Long): Double = {
    timeNs(work) // warm-up
    Stats.median((1 to rounds).map(_ => timeNs(work)._1 / units))
  }

  def run(spark: SparkSession, docsDir: String, seed: Long): Map[String, Double] = {
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val rng = new scala.util.Random(seed)
    def sample(n: Int) = rng.shuffle(docs.toSeq).take(n)

    // Jaccard: all pairs of one 128-doc chunk (the d6 chunk cap), char
    // 5-gram shingle hashes, sorted-merge intersection.
    val jac = sample(128).map { case (id, t) =>
      (id, TextKernels.charShingleHashes(t, 5).toSeq) }
    val jacPairs = jac.size.toLong * (jac.size - 1) / 2
    val jaccardNs = perUnit(jacPairs) {
      TextKernels.chunkPairJaccardsSorted(jac, null, 0.5).size.toLong
    }

    // Edit distance: all pairs of 256 document prefixes, bound 60.
    val ed = sample(256).map { case (id, t) => (id, t.take(120)) }
    val edPairs = ed.size.toLong * (ed.size - 1) / 2
    val editNs = perUnit(edPairs) {
      TextKernels.chunkPairEdits(ed, null, 60).size.toLong
    }

    // Polynomial hash over every document.
    val utf = docs.map(d => UTF8String.fromString(d._2))
    val polyNs = perUnit(utf.length.toLong * 20) {
      var acc = 0L
      var k = 0
      while (k < 20) {
        var i = 0
        while (i < utf.length) { acc += PolyHash.compute(utf(i)); i += 1 }
        k += 1
      }
      acc
    }
    Map("TextKernels.jaccard_ns_per_pair" -> jaccardNs,
      "TextKernels.edit_ns_per_pair" -> editNs,
      "PolyHash.ns_per_row" -> polyNs)
  }
}
