package perfbench

import graft.core.DocBuilder
import graft.engine.Pipeline
import graft.html.Lineizer
import graft.synth.PageRow

/** Single-threaded pass over a workload's own pages through the four public
  * kernel functions. Each layer is timed per doc and its allocation read
  * from the thread's `ThreadMXBean` counter; `extractDoc` is timed on its
  * own so the layers' sum can be set against the whole.
  */
object KernelTracer {

  final case class Result(
      docs: Int,
      lineizeUs: Double, lineizeKb: Double,
      buildUs: Double, buildKb: Double,
      decodeUs: Double, decodeKb: Double,
      kernelUs: Double, kernelP99Us: Double
  ) {
    def unattributedUs: Double = kernelUs - lineizeUs - buildUs - decodeUs
  }

  private val bean = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private def timeKernel(p: PageRow, buckets: Int): Long = {
    val t = System.nanoTime()
    Pipeline.extractDoc(p.url, p.html, p.lang, buckets)
    System.nanoTime() - t
  }

  def run(pages: Array[PageRow], buckets: Int, warmDocs: Int): Result = {
    val tid = Thread.currentThread().getId
    var w = 0
    while (w < warmDocs) {
      val p = pages(w % pages.length)
      Pipeline.extractDoc(p.url, p.html, p.lang, buckets)
      w += 1
    }
    val n = pages.length
    val kernelNs = new Array[Long](n)
    var lNs, bNs, dNs, lB, bB, dB = 0L
    var i = 0
    while (i < n) {
      val p = pages(i)
      // alternate which pass reads the page first, so neither gets the
      // other's warm caches on every doc
      if (i % 2 == 1) kernelNs(i) = timeKernel(p, buckets)
      val a0 = bean.getThreadAllocatedBytes(tid)
      val t0 = System.nanoTime()
      val ann = Lineizer.lineizeStreamBytes(p.html, p.url)
      val t1 = System.nanoTime()
      val a1 = bean.getThreadAllocatedBytes(tid)
      val sample = DocBuilder.build(ann)
      val t2 = System.nanoTime()
      val a2 = bean.getThreadAllocatedBytes(tid)
      DocBuilder.decodeSampleFast(sample)
      val t3 = System.nanoTime()
      val a3 = bean.getThreadAllocatedBytes(tid)
      if (i % 2 == 0) kernelNs(i) = timeKernel(p, buckets)
      lNs += t1 - t0; bNs += t2 - t1; dNs += t3 - t2
      lB += a1 - a0; bB += a2 - a1; dB += a3 - a2
      i += 1
    }
    val sorted = kernelNs.sorted
    val p99 = sorted(math.min(n - 1, math.ceil(n * 0.99).toInt - 1))
    def us(ns: Long) = ns / 1e3 / n
    def kb(b: Long) = b / 1024.0 / n
    Result(n, us(lNs), kb(lB), us(bNs), kb(bB), us(dNs), kb(dB),
      kernelNs.sum / 1e3 / n, p99 / 1e3)
  }
}
