package perfbench

import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicLong

import graft.core.{Dispatcher, Doc}
import graft.gen.Synth

/** The graft.core layer on its own: `Dispatcher.extract` over a workload's
  * own generated docs, with no Spark in the way. Every figure is a time
  * quota (work done in a fixed wall time), so each sample sees the same
  * exposure to host throttling.
  */
object Kernel {
  val Categories: Seq[String] = Seq("txt", "ocr", "xml", "xml_elsevier", "teixml", "html", "pdf", "mega")

  def category(id: Long, mega: Boolean): String =
    if (mega) "mega"
    else Synth.fmtCode(id) match {
      case 0 | 1 => "txt"
      case 2 => "ocr"
      case 3 | 4 => "xml"
      case 5 => "xml_elsevier"
      case 6 => "teixml"
      case 7 => "html"
      case _ => "pdf"
    }

  /** Docs extracted per second on `threads` threads over `docs` in order. */
  private def rate(docs: IndexedSeq[Doc], threads: Int, quotaS: Double): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val next = new AtomicLong
      val t0 = System.nanoTime()
      val deadline = t0 + (quotaS * 1e9).toLong
      val fs = (1 to threads).map(_ => pool.submit(new Callable[Long] {
        def call(): Long = {
          var n = 0L
          while (System.nanoTime() < deadline) {
            Dispatcher.extract(docs((next.getAndIncrement() % docs.size).toInt))
            n += 1
          }
          n
        }
      }))
      fs.map(_.get()).sum / ((System.nanoTime() - t0) / 1e9)
    } finally pool.shutdown()
  }

  /** Per-layer metrics of graft.core for `docs` (id, doc, is-mega). A
    * category with no docs in the workload reports 0 µs/doc.
    */
  def probe(c: Ctx, docs: IndexedSeq[(Long, Doc, Boolean)]): Seq[Metric] = {
    val all = docs.map(_._2)
    val left = c.tracer("core", "Dispatcher.extract[all]") {
      all.count(d => Dispatcher.extract(d).isLeft)
    }
    rate(all, c.cores, 0.5) // JIT warm-up of every format path
    val perCat = docs.groupBy(d => category(d._1, d._3)).view.mapValues(_.map(_._2)).toMap
    val us = Categories.map { cat =>
      val r = perCat.get(cat).map(ds => c.tracer("core", s"Dispatcher.extract[$cat]")(rate(ds, 1, 0.2)))
      Metric(s"core.${cat}_us_per_doc", r.map(1e6 / _).getOrElse(0.0), "us")
    }
    val one = c.tracer("core", "Dispatcher.extract[1t]")(rate(all, 1, 0.5))
    val many = c.tracer("core", "Dispatcher.extract[nt]")(rate(all, c.cores, 0.5))
    us ++ Seq(
      Metric("core.docs_per_s_1t", one, "docs/s"),
      Metric("core.docs_per_s_nt", many, "docs/s"),
      Metric("core.left_docs", left.toDouble, "count"))
  }
}
