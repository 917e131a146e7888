package perfbench

import org.apache.spark.sql.SparkSession

/** One workload run in a fresh JVM at local[nproc / 2], driven by run.py:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <result.json> --start-ms <epoch ms>
  *
  * Writes the outcome (correctness, counts, metrics, inputs, and in a traced
  * run the spans and the per-layer self-time table) to `--out`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val nproc = Runtime.getRuntime.availableProcessors()
    // Spark task threads: half the vCPUs, the rest left to the JIT, GC and
    // driver threads. On a shared host the vCPUs are not free cores: at
    // local[nproc] the hypervisor took 5-20% of the CPU time and op times
    // swung by 25%; at half, it took ~0 and ops were as fast.
    val cores = math.max(1, nproc / 2)
    val c = new Ctx(cores, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("work"), opt("start-ms").toLong)
    val status =
      try {
        val o = opt("workload") match {
          case "extract_batch" => ExtractBatch.run(c)
          case "query_profile" => QueryProfile.run(c)
          case other => sys.error(s"unknown workload $other")
        }
        val layers = c.tracer.layerTable.map { case (layer, n, total, self) =>
          Json.Raw(Json.obj("layer" -> layer, "spans" -> n, "total_s" -> total, "self_s" -> self))
        }
        java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), Json.obj(
          "correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
          "metrics" -> o.metrics.map(m => Json.Raw(Json.obj("name" -> m.name, "value" -> m.value, "unit" -> m.unit))),
          "cpus" -> nproc, "spark_cores" -> cores, "setup_rounds_s" -> c.setupRounds,
          "setup_steal" -> c.setupSteal, "inputs" -> o.inputs,
          "layers" -> layers, "spans" -> Json.Raw(c.tracer.toJson)))
        c.mark("done")
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally if (c.spark != null) c.spark.stop()
    sys.exit(status)
  }

  /** Host settings only: no tuning configs, so tuning that moves into the
    * library shows up in the numbers.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
