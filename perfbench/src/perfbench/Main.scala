package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: an IVM epoch or a registry query. `readNs` is the part
  * spent reading results; `rows` is rows inserted (IVM) or rows returned
  * (registry). A failed operation is recorded with `ok = false` and is never
  * part of a latency sample.
  */
final case class OpRec(
    op: Int,
    name: String,
    start: Long,
    end: Long,
    readNs: Long,
    rows: Long,
    ok: Boolean,
    storageMb: Double) {
  def seconds: Double = (end - start) / 1e9
}

/** What a workload hands back: its timed operations, set-up samples, the
  * outcome of its correctness checks, and workload-specific record fields.
  */
final case class Outcome(
    ops: Seq[OpRec],
    setupS: Seq[Double],
    checksFailed: Int,
    checksRun: Int,
    extra: Map[String, Any],
    perLayer: Map[String, Double])

/** Everything a workload needs from the harness. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val dataDir: String,
    val benchDir: String,
    val seed: Long,
    val seconds: Int,
    val cores: Int) {

  private val storagePeak = Array(0.0, 0.0)

  /** Block-manager storage (memory + disk) held by cached and checkpointed
    * RDDs, in MB, and the number of cached RDD blocks. Every sample also
    * updates the run's peaks.
    */
  def storage(): (Double, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    val mb = infos.map(i => i.memSize + i.diskSize).sum / 1e6
    val blocks = infos.map(_.numCachedPartitions).sum
    storagePeak(0) = math.max(storagePeak(0), mb)
    storagePeak(1) = math.max(storagePeak(1), blocks.toDouble)
    (mb, blocks)
  }
  def storageMbPeak: Double = storagePeak(0)
  def rddBlocksPeak: Double = storagePeak(1)

  /** Run a DataFrame as written (no column pruning from the consumer) and
    * return its row count; the plan's Catalyst phases go to the trace.
    */
  def consume(df: DataFrame): Long = {
    val n = tracer.span("consume")(df.queryExecution.toRdd.count())
    tracer.planned(df.queryExecution)
    n
  }
}

object Main {

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println(
      "usage: perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> " +
        "--data <dir> --bench <dir> --work <dir> --record <file>")
    sys.exit(2)
  }

  val Workloads: Seq[String] = Seq("ivm_trickle", "ivm_bulk", "registry_mix")

  /** Set-ups per run; the reported set-up time is their median. */
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def arg(k: String): String = kv.getOrElse(k, usage(s"missing --$k"))
    val workload = arg("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val dataDir = arg("data")
    val benchDir = arg("bench")
    val workDir = arg("work")
    val recordPath = arg("record")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .withExtensions(new graft.functions.GraftFunctions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val calibration = calibrate(spark, cores)
      val tracer = new Tracer(spark, trace)
      val ctx = new Ctx(spark, tracer, dataDir, benchDir, seed, seconds, cores)
      val out = workload match {
        case "ivm_trickle" => Ivm.trickle(ctx)
        case "ivm_bulk" => Ivm.bulk(ctx)
        case "registry_mix" => Registry.mix(ctx)
      }
      tracer.finish()
      val e2e = endToEnd(out, ctx)
      val layers = if (trace) Layers.metrics(ctx, out) else Map.empty[String, Double]
      val failedOps = out.ops.count(!_.ok)
      val attempted = out.ops.size + out.checksRun
      val failed = failedOps + out.checksFailed
      val env = Map[String, Any](
        "nproc" -> cores,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "source" -> sys.env.getOrElse("PERFBENCH_SOURCE", "unknown"),
        "calibration_s" -> calibration)
      val record = mutable.LinkedHashMap[String, Any](
        "workload" -> workload,
        "seed" -> seed,
        "seconds" -> seconds,
        "trace" -> trace,
        "env" -> env,
        "attempted" -> attempted,
        "failed" -> failed,
        "failed_frac" -> failed.toDouble / attempted,
        "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "setup_samples_s" -> out.setupS,
        "ops" -> out.ops.map(o =>
          Map(
            "op" -> o.op, "name" -> o.name, "s" -> o.seconds, "read_s" -> o.readNs / 1e9,
            "rows" -> o.rows, "ok" -> o.ok, "storage_mb" -> o.storageMb))) ++ out.extra
      if (trace) {
        record("per_layer") = layers
        record("self_s_by_span") = Layers.selfTime(tracer.allSpans)
        record("spans") = tracer.allSpans.map(s =>
          Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
            "start_s" -> (s.start - tracer.originNs) / 1e9, "end_s" -> (s.end - tracer.originNs) / 1e9))
      }
      Files.createDirectories(Paths.get(recordPath).getParent)
      Files.write(Paths.get(recordPath), Json.render(record).getBytes(StandardCharsets.UTF_8))
      val metrics = if (trace) layers.map { case (k, v) => k -> (v, Layers.unit(k)) } else e2e
      val correct = failed == 0
      println(Json.render(mutable.LinkedHashMap[String, Any](
        "correct" -> correct,
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u)
        }.to(mutable.LinkedHashMap))))
    } finally spark.stop()
  }

  /** The registry-independent CPU probe the repo's own bench uses: a
    * `spark.range(2e8)` sum, timed once after one untimed pass. It is
    * context for reading records across machines, not a metric.
    */
  private def calibrate(spark: SparkSession, cores: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, cores).selectExpr("sum(id % 7 + id / 3)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }

  private def endToEnd(out: Outcome, ctx: Ctx): Map[String, (Double, String)] = {
    val ok = out.ops.filter(_.ok)
    val secs = ok.map(_.seconds)
    val total = secs.sum
    // Geometric means rather than medians: every operation counts, so a
    // latency that moves on a few of them shows, and the figure does not jump
    // between neighbouring operations of a heterogeneous mix the way a rank
    // statistic does.
    Map(
      "setup_s" -> (Stats.median(out.setupS), "s"),
      "op_gmean_s" -> (Stats.gmean(secs), "s"),
      "read_gmean_s" -> (Stats.gmean(ok.map(_.readNs / 1e9)), "s"),
      "ops_per_min" -> (if (total > 0) 60.0 * ok.size / total else 0.0, "1/min"),
      "rows_per_s" -> (if (total > 0) ok.map(_.rows).sum / total else 0.0, "1/s"),
      "storage_mb_peak" -> (ctx.storageMbPeak, "MB"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

/** Minimal JSON writer for the record and the result line. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
