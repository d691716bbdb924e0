package perfbench

import graft.expressions.TextKernels
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side timings of the `TextKernels` kernels behind the cleaning and
  * search functions, on generated inputs of fixed size. Each figure is the
  * mean over a time-boxed loop that follows one untimed warm-up call. */
object Kernels {

  /** Keeps each call's result live, so the JIT cannot drop the call. */
  @volatile private var sink: Any = null

  private def nsPerCall(minCalls: Int)(call: => Any): Double = {
    sink = call
    var calls = 0
    val t0 = System.nanoTime
    var t = t0
    while (calls < minCalls || t - t0 < 300000000L) {
      sink = call
      calls += 1
      t = System.nanoTime
    }
    (t - t0).toDouble / calls
  }

  def measure(): Map[String, Double] = {
    val rnd = new scala.util.Random(7)
    def text(n: Int) = UTF8String.fromString(TextGen.prose(rnd, n))
    val s500 = text(500)
    val s16k = text(16000)
    val ref = new java.util.HashSet[UTF8String]()
    (0 until 2000).foreach(_ => ref.add(UTF8String.fromString(TextGen.prose(rnd, 16))))
    val hashes = TextKernels.hashedShingles(s16k, 4)
    val a = ArrayData.toArrayData(Array.fill(64)(rnd.nextFloat()))
    val b = ArrayData.toArrayData(Array.fill(64)(rnd.nextFloat()))
    Map(
      "expressions.shingles_ns_per_char.500" ->
        nsPerCall(20)(TextKernels.hashedShingles(s500, 4)) / s500.numChars,
      "expressions.shingles_ns_per_char.16000" ->
        nsPerCall(1)(TextKernels.hashedShingles(s16k, 4)) / s16k.numChars,
      "expressions.coverage_ns_per_char.16000" ->
        nsPerCall(1)(TextKernels.coverageCounts(s16k, 16, ref)) / s16k.numChars,
      "expressions.minhash_ns_per_shingle" ->
        nsPerCall(20)(TextKernels.minhashSig(hashes, 128)) / hashes.numElements,
      "expressions.dot_ns_per_dim" ->
        nsPerCall(100000)(TextKernels.dotSeq(a, b, true, true)) / 64)
  }
}
