package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.spark.{Checker, Pipeline}

/** extract_batch: the headline batch path. A seed-generated plain-parquet
  * corpus and its previous-state table go through `Pipeline.run` into a
  * parquet sink, one repetition at a time. Kernel, checker, extract stage and
  * sink all sit on the blocking path of each repetition. The traced run also
  * probes the snapshot-table layer ([[IngestProbe]]).
  */
object ExtractBatch {
  /** Input docs per repetition. */
  val Docs = 20000L
  /** Set-up rounds, whose median is `setup_s`. */
  val SetupRounds = 3
  /** Untimed repetitions between set-up and the timed loop. */
  val WarmUpReps = 2

  def run(c: Ctx): Outcome = {
    val corpus = Corpus(c.seed, Docs)
    val (inDir, prevDir, outDir) = (c.dir("extract/input"), c.dir("extract/prev"), c.dir("extract/out"))
    def input: DataFrame = c.spark.read.parquet(inDir)
    def prev: DataFrame = c.spark.read.parquet(prevDir)
    def pipeline: DataFrame =
      Pipeline.run(c.spark, input, prev, None, Corpus.IndexDate, "perfbench", c.cores).toDF()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    var thrown = 0L
    var errorRows = 0L
    val counts = scala.collection.mutable.ArrayBuffer.empty[Footprint.Counts]
    def rep(): Unit = c.tracer("workload", "extract_batch.rep") {
      c.counted(counts) {
        c.tracer("sink", "Pipeline.run->parquet")(pipeline.write.mode("overwrite").parquet(outDir))
      }
    }

    c.setUp(SetupRounds) {
      val spark = c.spark
      import spark.implicits._
      spark.range(0, Docs, 1, c.cores * 4).map(i => corpus.doc(i)).write.mode("overwrite").parquet(inDir)
      spark.range(0, Docs, 1, c.cores * 4).flatMap(i => corpus.prev(i).toSeq)
        .write.mode("overwrite").parquet(prevDir)
      rep()
    }
    val spark = c.spark
    c.warmUp(WarmUpReps)(rep())
    val loop = c.timedLoop() { _ =>
      try rep()
      catch { case e: Exception => thrown += 1; System.err.println(s"[extract_batch] rep failed: $e") }
    } { _ => errorRows += spark.read.parquet(outDir).filter(col("error").isNotNull).count() }

    val expected = Digest.expected(corpus, 0L until Docs)
    val actual = Digest.actual(spark, spark.read.parquet(outDir))
    if (actual != expected)
      System.err.println(s"[extract_batch] MISMATCH (digest, error rows, rows): expected $expected, got $actual")

    val e2e = Seq(
      Metric("setup_s", c.setupSeconds, "s"),
      Metric("op_p50_s", loop.median, "s"))

    val (layers, ingestOk) = if (!c.traced) (Nil, true) else {
      val reps = 3
      val checkerS = (1 to reps).map(_ => c.timed("checker", "Checker.filterNeedsUpdate->noop") {
        noop(Checker.filterNeedsUpdate(Checker.classify(input, prev)))
      })
      val rowsOut = Checker.filterNeedsUpdate(Checker.classify(input, prev)).count()
      val noopS = (1 to reps).map(_ => c.timed("stage", "Pipeline.run->noop")(noop(pipeline)))
      val files = Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      val kernel = Kernel.probe(c, (0L until Docs).map(i => (corpus.id(i), corpus.doc(i), corpus.isMega(corpus.id(i)))))
      val kernelNt = kernel.find(_.name == "core.docs_per_s_nt").get.value
      val (checkerMed, noopMed) = (Stats.median(checkerS), Stats.median(noopS))
      val (ingest, ok) = IngestProbe.run(c)
      // counts(k) is the footprint of traced run 2k + 1
      val keptCounts = counts.toSeq.zipWithIndex.collect { case (x, k) if loop.kept.contains(2 * k + 1) => x }
      (kernel ++ ingest ++ Seq(
        Metric("checker.s", checkerMed, "s"),
        Metric("checker.rows_out", rowsOut.toDouble, "rows"),
        Metric("stage.extract_noop_s", noopMed, "s"),
        Metric("stage.extract_self_s", noopMed - checkerMed, "s"),
        Metric("stage.pipeline_vs_kernel", Docs / loop.median / kernelNt, "ratio"),
        Metric("sink.parquet_s", loop.median - noopMed, "s"),
        Metric("sink.bytes_written", files.map(_.length).sum.toDouble, "bytes"),
        Metric("sink.files_written", files.length.toDouble, "count")) ++
        c.commonLayers(loop, keptCounts, loop.tracedSecs, loop.traceOverhead), ok)
    }

    Outcome(
      correct = actual == expected && ingestOk,
      attempted = (Docs + 1) * loop.secs.size,
      failed = errorRows + thrown,
      metrics = e2e ++ layers,
      inputs = Map("docs" -> Docs, "needs_update_docs" -> expected._3,
        "mega_docs" -> (0L until Docs).count(i => corpus.isMega(corpus.id(i))),
        "reps" -> loop.secs.size, "rep_s" -> loop.secs, "rep_steal" -> loop.steal))
  }
}
