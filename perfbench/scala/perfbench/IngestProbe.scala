package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.spark.{Pipeline, SnapshotTable}

/** The graft.spark.SnapshotTable / `Pipeline.runCommitted` layer, probed in
  * extract_batch's traced run. A snapshot table gets a first batch through
  * `runCommitted`, then [[Replays]] batches as the public calls
  * `runCommitted` makes, each under a span. Batch b sends the fresh docs of
  * slot b plus the already committed docs of slot b-1, so resume skips half
  * of it. After each commit the live view is counted, and the table is
  * maintained at the end. The table is then checked like extract_batch's
  * output.
  */
object IngestProbe {
  /** Fresh docs per batch; each batch after the first sends twice this many. */
  val Fresh = 1000L
  val Replays = 2

  /** (metrics, table correct) */
  def run(c: Ctx): (Seq[Metric], Boolean) = {
    val spark = c.spark
    import spark.implicits._
    val slots = Replays + 1
    val corpus = Corpus(c.seed + 1, Fresh * slots)
    val (inDir, prevDir, table) = (c.dir("ingest/input"), c.dir("ingest/prev"), c.dir("ingest/table"))
    // one range partition per slot, so each slot directory holds one file
    spark.range(0, Fresh * slots, 1, slots).map(i => (corpus.doc(i), i / Fresh))
      .select($"_1.*", $"_2".as("slot"))
      .write.mode("overwrite").partitionBy("slot").parquet(inDir)
    spark.range(0, Fresh * slots, 1, c.cores).flatMap(i => corpus.prev(i).toSeq)
      .write.mode("overwrite").parquet(prevDir)
    val prev = spark.read.parquet(prevDir)
    def input(b: Int): DataFrame =
      spark.read.parquet((math.max(0, b - 1) to b).map(s => s"$inDir/slot=$s"): _*)

    // committed docs expected after batch b: needs-update docs of slots 0..b
    val newPerSlot = (0 until slots).map { s =>
      (s * Fresh until (s + 1) * Fresh).count(i => Corpus.expectedReason(corpus.id(i), corpus.doc(i)).isDefined).toLong
    }
    var liveOk = true
    def countLive(b: Int): Unit = {
      val live = c.tracer("snapshot", "SnapshotTable.readCurrent.count") {
        SnapshotTable.readCurrent(spark, table).get.count()
      }
      if (live != newPerSlot.take(b + 1).sum) {
        liveOk = false
        System.err.println(s"[ingest] batch $b: live rows $live, expected ${newPerSlot.take(b + 1).sum}")
      }
    }

    c.tracer("ingest", "Pipeline.runCommitted") {
      Pipeline.runCommitted(spark, input(0), prev, None, Corpus.IndexDate, "batch0", table, c.cores)
    }
    countLive(0)
    val spans = (1 to Replays).map { b =>
      val s = replay(c, b, input(b), prev, table)
      countLive(b)
      s
    }
    c.tracer("snapshot", "Pipeline.maintain")(Pipeline.maintain(spark, table))

    val expected = Digest.expected(corpus, 0L until Fresh * slots)
    val actual = Digest.actual(spark, SnapshotTable.readCurrent(spark, table).get)
    if (actual != expected)
      System.err.println(s"[ingest] MISMATCH (digest, error rows, rows): expected $expected, got $actual")
    def med(i: Int) = Stats.median(spans.map(_(i)))
    val metrics = Seq(
      Metric("ingest.read_snapshot_s", med(0), "s"),
      Metric("ingest.resume_s", med(1), "s"),
      Metric("ingest.extract_s", med(2), "s"),
      Metric("ingest.commit_s", med(3), "s"),
      Metric("ingest.metrics_sidecar_s", med(4), "s"),
      Metric("snapshot.read_current_s", Stats.median(c.tracer.seconds("SnapshotTable.readCurrent.count")), "s"),
      Metric("snapshot.maintain_s", Stats.median(c.tracer.seconds("Pipeline.maintain")), "s"),
      Metric("snapshot.data_files", SnapshotTable.lineage(spark, table).size.toDouble, "count"),
      Metric("snapshot.manifests", SnapshotTable.history(spark, table).size.toDouble, "count"))
    (metrics, liveOk && actual == expected)
  }

  /** `Pipeline.runCommitted` for batch `b`, as its public calls, each under
    * a span; returns their seconds (read, resume, extract, commit, sidecar).
    * Extract runs the batch's `Pipeline.run` plan to a noop sink; the commit
    * then runs the same plan again while writing, so commit_s includes one
    * more execution of it.
    */
  private def replay(c: Ctx, b: Int, input: DataFrame, prev: DataFrame, table: String): Seq[Double] = {
    val spark = c.spark
    val runId = s"batch$b"
    c.tracer("workload", "ingest.replay") {
      var committed: Option[DataFrame] = None
      val readS = c.timed("ingest", "SnapshotTable.read") { committed = SnapshotTable.read(spark, table) }
      var todo = input
      val resumeS = c.timed("ingest", "Pipeline.resume") {
        committed.foreach(t => todo = Pipeline.resume(input, t.filter(col("error").isNull)))
        require(!todo.isEmpty, s"replayed batch $b has nothing to extract")
      }
      var out: DataFrame = null
      val extractS = c.timed("ingest", "Pipeline.run") {
        out = Pipeline.run(spark, todo, prev, None, Corpus.IndexDate, runId, c.cores).toDF()
        out.write.format("noop").mode("overwrite").save()
      }
      val (observed, obs) = Pipeline.observeMetrics(out)
      var snapshot = -1L
      val commitS = c.timed("ingest", "SnapshotTable.commit") { snapshot = SnapshotTable.commit(observed, table) }
      val sidecarS = c.timed("ingest", "Pipeline.metricsFrame.write") {
        Pipeline.metricsFrame(spark, obs.get)
          .withColumn("snapshot_id", lit(snapshot)).withColumn("run_id", lit(runId))
          .write.mode("append").parquet(s"$table/metrics")
      }
      Seq(readS, resumeS, extractS, commitS, sidecarS)
    }
  }
}
