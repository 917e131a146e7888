package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.gen.Synth

/** query_profile: passes over a fixed list of `SparkEntry.queries`, in sorted
  * order, with `.count()` on each, over a seed-generated `documents` table
  * with the columns and texts of the sf0.1 one ([[Corpus.words]]) and the
  * size of the sf0.01 one. The profile time is the sum over queries of each
  * one's median undisturbed run: a pass, with each query's slow outliers
  * and host-steal spikes left out.
  * Memoized subtrees are released before every pass, so each pass pays their
  * build like a fresh driver run.
  *
  * The list is three of the roadmap's four multimodal candidates and the
  * two round-6 regressions: what fits a run. Per-job scheduling dominates these queries
  * at any corpus size, and at local[4] with the library's own settings a
  * pass over all 116 takes ~70 s warm and ~110 s cold; q114 alone takes
  * 8.8 s warm and 15.3 s cold.
  */
object QueryProfile {
  val Tracked: Seq[String] = Seq(
    // roadmap item 5: multimodal row plumbing, less q91_caption_negatives,
    // the slowest of the four (18 jobs, ~2.2 s warm), which does not fit a run
    "q90_dedup_media", "q100_frame_sample", "q101_resize_plan",
    // round-6 regressions
    "q08_spans_xml", "q70_media_integrity").sorted
  /** Rows of the generated `documents` table, as in sf0.01. */
  val Docs = 500
  /** Set-up rounds, whose median is `setup_s`. */
  val SetupRounds = 3
  /** Untimed passes after the dump pass. */
  val WarmUpPasses = 2
  /** Passes of the timed loop, at least; a traced run has every query run
    * twice with spans and twice without.
    */
  val Passes = 4

  def run(c: Ctx): Outcome = {
    val (corpusDir, outDir) = (c.dir("query/corpus"), c.dir("query/out"))
    val corpus = Corpus(c.seed, Docs)
    var thrown = 0L
    def attempt[T](what: String)(body: => T): Option[T] =
      try Some(body)
      catch { case e: Exception => thrown += 1; System.err.println(s"[query_profile] $what failed: $e"); None }

    // a set-up round writes the corpus and runs the first query cold
    c.setUp(SetupRounds) {
      val spark = c.spark
      import spark.implicits._
      spark.range(0, Docs, 1, 1).map(i => (i, corpus.words(i), s"src${i % 20}"))
        .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
      attempt(Tracked.head)(SparkEntry.queries(Tracked.head)(spark, corpusDir).count())
    }
    val spark = c.spark
    // untimed, and the warm-up: a pass that dumps every result, which run.py
    // checks against the DuckDB oracle
    val rows: Map[String, Long] = Tracked.flatMap { n =>
      attempt(n) {
        SparkEntry.queries(n)(spark, corpusDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
        n -> spark.read.parquet(s"$outDir/$n").count()
      }
    }.toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(Tracked.map(n => n -> SparkEntry.oracleSql(n)): _*))
    // passes keep getting faster while the JIT compiles what the first ones
    // ran, by ~30% from the second pass to the fourth
    c.warmUp(WarmUpPasses) {
      SparkEntry.unpersistSubtrees()
      Tracked.foreach(n => attempt(n)(SparkEntry.queries(n)(spark, corpusDir).count()))
    }

    // every timed run of each query, and the footprints of the traced ones
    val runs = mutable.Map.empty[String, mutable.ArrayBuffer[QueryRun]]
    val qCounts = mutable.Map.empty[String, mutable.ArrayBuffer[Footprint.Counts]]
    var countMismatch = 0
    /** Timed pass `p`; in a traced run query `j` runs with spans when p + j is odd. */
    def pass(p: Int): Unit = {
      SparkEntry.unpersistSubtrees()
      Tracked.zipWithIndex.foreach { case (n, j) =>
        c.tracer.enabled = c.traced && (p + j) % 2 == 1
        val fp = mutable.ArrayBuffer.empty[Footprint.Counts]
        val c0 = HostCpu.ticks
        val t0 = System.nanoTime()
        attempt(n)(c.counted(fp)(c.tracer("ops", n)(SparkEntry.queries(n)(spark, corpusDir).count())))
          .filter(got => !rows.get(n).contains(got))
          .foreach { got =>
            countMismatch += 1
            System.err.println(s"[query_profile] $n: $got rows, dump pass had ${rows.get(n)}")
          }
        runs.getOrElseUpdate(n, mutable.ArrayBuffer.empty) +=
          QueryRun((System.nanoTime() - t0) / 1e9, HostCpu.stealShare(c0, HostCpu.ticks), c.tracer.enabled)
        fp.foreach(qCounts.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += _)
      }
    }
    val loop = c.timedLoop(minOps = Passes, alternate = false)(pass)(_ => ())
    /** Median undisturbed seconds of query `n` (see [[TimedLoop]]), over its traced or untraced runs. */
    def median(n: String, traced: Boolean): Double = {
      val rs = runs(n).filter(_.traced == traced)
      val calm = rs.filter(_.steal <= TimedLoop.MaxSteal)
      Stats.median((if (calm.nonEmpty) calm else rs).map(_.seconds).toSeq)
    }
    val profileS = Tracked.map(n => median(n, traced = false)).sum

    val layers = if (!c.traced) Nil else {
      val kernel = Kernel.probe(c, (0L until Docs).map { i =>
        (i, Synth.doc(i, corpus.words(i), s"src${i % 20}"), false)
      })
      // per query, median traced over median untraced; their geometric mean
      val overhead = math.exp(Tracked.map(n => math.log(median(n, true) / median(n, false))).sum / Tracked.size) - 1
      // a pass's footprint: the sum over queries of each one's median
      val perQuery = Tracked.map(n => qCounts(n).toSeq)
      def sumMed(f: Footprint.Counts => Double) = perQuery.map(cs => Stats.median(cs.map(f))).sum
      val passCounts = Footprint.Counts(sumMed(_.jobs.toDouble).toLong, sumMed(_.stages.toDouble).toLong,
        sumMed(_.tasks.toDouble).toLong, sumMed(_.shuffleWriteBytes.toDouble).toLong, sumMed(_.taskRunS),
        sumMed(_.codegenCompiles.toDouble).toLong)
      kernel ++ Tracked.flatMap { n =>
        val cs = qCounts(n).toSeq
        Seq(
          Metric(s"query.${n}_s", median(n, true), "s"),
          Metric(s"query.$n.jobs", Stats.median(cs.map(_.jobs.toDouble)), "count"),
          Metric(s"query.$n.tasks", Stats.median(cs.map(_.tasks.toDouble)), "count"))
      } ++ c.commonLayers(loop, Seq(passCounts), Seq(Tracked.map(n => median(n, true)).sum), overhead)
    }

    Outcome(
      correct = thrown == 0 && countMismatch == 0 && rows.size == Tracked.size,
      attempted = SetupRounds + Tracked.size.toLong * (1 + WarmUpPasses + loop.secs.size),
      failed = thrown,
      metrics = Seq(
        Metric("setup_s", c.setupSeconds, "s"),
        Metric("op_p50_s", profileS, "s")) ++ layers,
      inputs = Map("queries" -> Tracked.size, "documents" -> Docs, "passes" -> loop.secs.size,
        "pass_s" -> loop.secs, "pass_steal" -> loop.steal, "rows" -> rows,
        "query_s" -> Tracked.map(n => n -> runs(n).map(_.seconds).toSeq).toMap,
        "query_steal" -> Tracked.map(n => n -> runs(n).map(_.steal).toSeq).toMap))
  }
}

/** One timed run of a query: wall seconds, host steal share, traced or not. */
final case class QueryRun(seconds: Double, steal: Double, traced: Boolean)
