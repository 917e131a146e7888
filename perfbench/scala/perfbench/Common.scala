package perfbench

import scala.collection.parallel.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.SparkSession

import graft.core.{Dispatcher, Doc, Span => DocSpan}
import graft.gen.Synth

/** Minimal JSON writer for the result and trace files. */
object Json {
  /** Already-encoded JSON, nested as is. */
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(json) => json
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Seq[_] => arr(xs)
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
  def arr(xs: Seq[Any]): String = xs.map(value).mkString("[", ", ", "]")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run hands back to [[Main]]. `failed` counts error-channel
  * rows, thrown runs and thrown queries; `attempted` counts docs submitted
  * plus runs, or queries run.
  */
final case class Outcome(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    metrics: Seq[Metric],
    inputs: Map[String, Any])

/** Everything a workload needs from the run: session, cores, seed, time
  * budget, tracing, and the work directory inside the checkout.
  */
final class Ctx(val cores: Int, val seed: Long, val seconds: Double, val traced: Boolean,
    val work: String, startMs: Long) {
  /** The session of the last [[setUp]]. */
  var spark: SparkSession = _
  val tracer = new Tracer(s"seed$seed")
  lazy val footprint = new Footprint(spark.sparkContext)
  /** Seconds and host steal share of each [[setUp]] round, the first from process start. */
  var setupRounds: Seq[Double] = Nil
  var setupSteal: Seq[Double] = Nil
  private val cpuAtStart = HostCpu.ticks
  /** JIT seconds spent before the first timed operation. */
  var jitBeforeTimed = 0.0

  def dir(sub: String): String = s"$work/$sub"

  /** Progress line on stderr, seconds since the benchmark process started. */
  def mark(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - startMs) / 1e3}%.1fs $msg")

  /** Median set-up round: `setup_s`. The first round, with JVM start, is the
    * longest, so the median is that of the later rounds, in a JVM that has
    * run the workload before.
    */
  def setupSeconds: Double = Stats.median(setupRounds)

  /** Sets the workload up `rounds` times and keeps the last session. A
    * round starts a fresh Spark session, then runs `body`, which writes the
    * inputs and runs one cold operation. The first round counts from the
    * benchmark process's start (after the build), so it includes JVM start;
    * each later round first stops the previous session.
    */
  def setUp(rounds: Int)(body: => Unit): Unit = {
    val secs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val steal = scala.collection.mutable.ArrayBuffer.empty[Double]
    var t0 = startMs
    var c0 = cpuAtStart
    for (r <- 0 until rounds) {
      if (spark != null) {
        t0 = System.currentTimeMillis()
        c0 = HostCpu.ticks
        graft.SparkEntry.unpersistSubtrees()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = Main.session(cores, work)
      body
      secs += (System.currentTimeMillis() - t0) / 1e3
      steal += HostCpu.stealShare(c0, HostCpu.ticks)
      mark(f"set-up round ${r + 1} done: ${secs.last}%.2f s, steal ${steal.last}%.3f")
    }
    setupRounds = secs.toSeq
    setupSteal = steal.toSeq
  }

  /** Untimed warm-up: `ops` operations, outside set-up and the timed loop. */
  def warmUp(ops: Int)(op: => Unit): Unit = {
    val secs = (1 to ops).map { _ =>
      val s = System.nanoTime()
      op
      (System.nanoTime() - s) / 1e9
    }
    mark(s"warm-up done: ${secs.map(x => f"$x%.2f").mkString(" ")} s")
  }

  /** Closed loop, one client: runs `op(i)` back to back and returns each
    * op's wall seconds and the share of host CPU time stolen from the VM
    * during it; `check(i)` runs after each op, outside its timing. An op
    * during which the hypervisor stole more than [[TimedLoop.MaxSteal]] of
    * the CPU time is disturbed: it is kept in the output but not in the
    * figures. The loop runs until its ops have taken `seconds` together, and
    * for at least `minOps` ops, so a busy host does not lengthen it. In a
    * traced run with `alternate`, odd-numbered ops run with spans and even
    * ones without, so the tracing overhead is measured inside the same run;
    * without it, `op` switches spans itself. Spans stay on afterwards for the
    * layer probes.
    */
  def timedLoop(minOps: Int = 1, alternate: Boolean = true)(op: Int => Unit)(check: Int => Unit): TimedLoop = {
    mark("timed loop")
    jitBeforeTimed = Jvm.jitSeconds
    val gc0 = Jvm.gcSeconds
    val secs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val steal = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (secs.size < minOps || secs.sum < seconds) {
      val i = secs.size
      if (alternate) tracer.enabled = traced && i % 2 == 1
      val c0 = HostCpu.ticks
      val s = System.nanoTime()
      op(i)
      secs += (System.nanoTime() - s) / 1e9
      steal += HostCpu.stealShare(c0, HostCpu.ticks)
      check(i)
    }
    tracer.enabled = traced
    mark(s"timed loop done: ${secs.size} ops, steal ${steal.map(x => f"$x%.3f").mkString(" ")}")
    TimedLoop(secs.toSeq, steal.toSeq, Jvm.gcSeconds - gc0)
  }

  /** Wall seconds of `body`, recorded as a span when tracing is on. */
  def timed(layer: String, name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    tracer(layer, name)(body)
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `body`; while spans are on, also appends its scheduler footprint. */
  def counted[T](into: scala.collection.mutable.Buffer[Footprint.Counts])(body: => T): T =
    if (!tracer.enabled) body
    else {
      footprint.reset()
      val r = body
      into += footprint.read()
      r
    }

  /** Scheduler, JVM and tracing-overhead metrics. `counts` is the scheduler
    * footprint of each traced operation and `tracedS` its wall seconds.
    */
  def commonLayers(loop: TimedLoop, counts: Seq[Footprint.Counts], tracedS: Seq[Double],
      traceOverhead: Double): Seq[Metric] = {
    def med(f: Footprint.Counts => Double): Double =
      if (counts.isEmpty) 0.0 else Stats.median(counts.map(f))
    Seq(
      Metric("spark.jobs", med(_.jobs.toDouble), "count"),
      Metric("spark.stages", med(_.stages.toDouble), "count"),
      Metric("spark.tasks", med(_.tasks.toDouble), "count"),
      Metric("spark.shuffle_write_bytes", med(_.shuffleWriteBytes.toDouble), "bytes"),
      Metric("spark.task_run_s", med(_.taskRunS), "s"),
      Metric("spark.codegen_compiles", med(_.codegenCompiles.toDouble), "count"),
      Metric("spark.core_util",
        if (tracedS.isEmpty) 0.0 else counts.map(_.taskRunS).sum / (tracedS.sum * cores), "share"),
      Metric("jvm.gc_s", loop.gcS / loop.secs.size, "s"),
      Metric("jvm.jit_s", jitBeforeTimed, "s"),
      Metric("jvm.live_heap_mb", Jvm.liveHeapMb, "MB"),
      Metric("trace.overhead_share", traceOverhead, "share"))
  }
}

final case class TimedLoop(secs: Seq[Double], steal: Seq[Double], gcS: Double) {
  /** Indices of the undisturbed ops, or of all ops when every one was disturbed. */
  val kept: Seq[Int] = {
    val calm = secs.indices.filter(i => steal(i) <= TimedLoop.MaxSteal)
    if (calm.nonEmpty) calm else secs.indices
  }
  def median: Double = Stats.median(kept.map(secs))
  /** Seconds of the kept traced (odd) ops of an alternating loop. */
  def tracedSecs: Seq[Double] = kept.filter(_ % 2 == 1).map(secs)
  /** Median kept traced (odd) op over the median kept untraced (even) op, minus one. */
  def traceOverhead: Double = {
    val off = kept.filter(_ % 2 == 0).map(secs)
    require(tracedSecs.nonEmpty && off.nonEmpty, "too few ops to measure the tracing overhead")
    Stats.median(tracedSecs) / Stats.median(off) - 1
  }
}

object TimedLoop {
  /** Host steal share above which an op counts as disturbed. On an idle
    * host it stays below 0.005; the hypervisor's busy periods reach 0.05 to
    * 0.17, and slow every op they overlap by more than that.
    */
  val MaxSteal = 0.02
}

/** Host CPU time counters from /proc/stat, for the steal share of an op. */
object HostCpu {
  /** (steal ticks, all ticks) over every CPU, or None where there is no /proc/stat. */
  def ticks: Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
      if (f.length > 7) Some((f(7), f.take(8).sum)) else None
    } catch { case _: java.io.IOException => None }

  /** Share of the CPU time between two readings that was stolen; 0 without readings. */
  def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double = (a, b) match {
    case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
    case _ => 0.0
  }
}

/** The seed-driven document generator of every workload. [[words]] draws a
  * text like those of the sf0.1 `documents` table: 10 to 100 words, uniform,
  * from its 31-word vocabulary. For extract_batch, doc `i` of `n` gets a
  * permuted id in a seed-chosen range and about one doc in 997 is a mega doc
  * (its text repeated 100 times); the doc itself is [[Synth.checkerDoc]]
  * (all 7 format codes, planted null and zero-byte sources) and the previous
  * state is [[Synth.prevState]] (all 7 update reasons). Deterministic in
  * (seed, i), so executors and the driver regenerate the same doc.
  */
final case class Corpus(seed: Long, n: Long) {
  private val base = 1000L + math.floorMod(seed * 7919L, 100000L) * 1000L
  // an odd stride coprime with n permutes 0 until n
  private val stride = {
    var a = 1 + 2 * math.floorMod(seed * 104729L, n.max(2))
    while (BigInt(a).gcd(BigInt(n)) != 1) a += 2
    a
  }

  def id(i: Long): Long = base + math.floorMod(i * stride + seed, n)

  def isMega(id: Long): Boolean = math.floorMod(id * 31L + seed, 997L) == 0L

  def words(id: Long): String = {
    val rnd = new scala.util.Random(id * 1000003L ^ seed)
    Array.fill(10 + rnd.nextInt(91))(Corpus.Words(rnd.nextInt(Corpus.Words.length))).mkString(" ")
  }

  def text(id: Long): String =
    if (isMega(id)) Array.fill(100)(words(id)).mkString(" ") else words(id)

  def doc(i: Long): Doc = {
    val k = id(i)
    Synth.checkerDoc(k, text(k), s"src${k % 20}")
  }

  def prev(i: Long): Option[Synth.PrevState] = Synth.prevState(id(i))
}

object Corpus {
  /** The vocabulary of the sf0.1 `documents` texts (all 31 words it uses). */
  val Words: Array[String] = ("a agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value vector " +
    "window").split(" ")

  val IndexDate: java.sql.Timestamp = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  /** Expected checker reason for a generated doc (None = not extracted),
    * written from the reference rules (checker.py:123-248) independently of
    * graft.spark.Checker, which is what it checks.
    */
  def expectedReason(id: Long, d: Doc): Option[String] =
    if (d.spans == null) None
    else if (d.spans.map(s => if (s.text == null) 0L else s.text.length.toLong).sum == 0L) None
    else Option(d.update_flag).orElse(Synth.prevState(id) match {
      case None => Some("NOT_EXTRACTED_BEFORE")
      case Some(p) =>
        if (p.prev_malformed) Some("STALE_META")
        else if (p.prev_ft_source == null) Some("MISSING_FULL_TEXT")
        else if (p.prev_ft_source != d.source_path) Some("DIFFERING_FULL_TEXT")
        else if (d.src_mtime.after(p.meta_mtime)) Some("STALE_CONTENT")
        else if (p.meta_mtime.after(p.fulltext_mtime)) Some("STALE_CONTENT")
        else None
    })
}

/** Order-insensitive digests of extraction output: a 64-bit hash per row of
  * (doc_id, update_reason, span sequence), summed over rows.
  */
object Digest {
  def row(docId: String, reason: String, spans: Seq[DocSpan]): Long = {
    val sb = new StringBuilder
    sb.append(docId).append('\u0001').append(reason)
    if (spans != null) spans.foreach { s =>
      sb.append('\u0002').append(s.kind).append('\u0003').append(s.text)
        .append('\u0003').append(s.media_ref).append('\u0003').append(s.offset)
    }
    val str = sb.toString
    (MurmurHash3.stringHash(str, 0x9747b28c).toLong << 32) |
      (MurmurHash3.stringHash(str, 0x5bd1e995).toLong & 0xffffffffL)
  }

  /** (digest sum, error rows, rows) of the extraction output each generated
    * doc in `ids` should produce, computed with the Spark-free kernel.
    */
  def expected(corpus: Corpus, is: Seq[Long]): (Long, Long, Long) = {
    val parts = is.par.map { i =>
      val k = corpus.id(i)
      val d = corpus.doc(i)
      Corpus.expectedReason(k, d) match {
        case None => (0L, 0L, 0L)
        case Some(r) => Dispatcher.extract(d) match {
          case Right(x) => (row(d.doc_id, r, x.spans), 0L, 1L)
          case Left(_) => (row(d.doc_id, r, Nil), 1L, 1L)
        }
      }
    }
    parts.fold((0L, 0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
  }

  /** The same triple over a written extraction table. */
  def actual(spark: SparkSession, df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    import spark.implicits._
    val rows = df.select("doc_id", "update_reason", "spans", "error")
      .as[(String, String, Seq[DocSpan], String)]
      .map(r => (row(r._1, r._2, r._3), if (r._4 == null) 0L else 1L, 1L))
    if (rows.isEmpty) (0L, 0L, 0L)
    else rows.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
  }
}
