package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.operators.RelationalQueries
import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `perfbench/run.py` builds the classpath and
  * launches it. One run = set-up, then timed passes over the workload's
  * operations for at least `--seconds`, then one JSON result line.
  *
  * With `--trace 1` the run makes exactly four passes: traced, untraced,
  * traced, untraced. The first gives the per-layer table (it is the same
  * cold pass an untraced run measures); the overhead of tracing compares
  * the third with the mean of the second and fourth, so a steady warming
  * trend cancels.
  */
object Main {

  val Workloads = Seq("forward", "stream_gates", "batch_queries")

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  val Layers: Seq[(String, String)] = Seq(
    "compendium.xml_s" -> "s", "compendium.tags_s" -> "s",
    "compendium.runs_s" -> "s", "compendium.forward_s" -> "s",
    "compendium.asvs_s" -> "s", "compendium.reports_s" -> "s",
    "compendium.forward_cycles" -> "count", "compendium.forward_failed" -> "count",
    "compendium.projects_done" -> "count", "compendium.projects_failed" -> "count",
    "compendium.projects_stuck" -> "count", "compendium.projects_per_min" -> "1/min",
    "compendium.Warehouse.bytes_live" -> "bytes", "compendium.Warehouse.files_live" -> "count",
    "compendium.Warehouse.write_amp" -> "ratio",
    "compendium.RegionInference.task_skew" -> "ratio",
    "functions.SmithWaterman.cells" -> "count", "functions.SmithWaterman.cells_per_s" -> "1/s",
    "compendium.EUtils.requests" -> "count", "compendium.EUtils.fetch_s" -> "s",
    "compendium.LocalWorkspace.probes" -> "count", "compendium.LocalWorkspace.archive_s" -> "s",
    "compendium.PipelineLauncher.launches" -> "count",
    "streaming.epochs" -> "count", "streaming.epoch_p50_s" -> "s",
    "streaming.epoch_max_s" -> "s", "streaming.addBatch_s" -> "s",
    "streaming.walCommit_s" -> "s", "streaming.state_commit_s" -> "s",
    "streaming.state_rows" -> "count", "streaming.jobs_per_epoch" -> "ratio",
    "operators.RelationalQueries.wall_s" -> "s", "operators.Dedup.wall_s" -> "s",
    "operators.Similarity.wall_s" -> "s", "operators.TextAnalysis.wall_s" -> "s",
    "operators.Multimodal.wall_s" -> "s", "operators.CompendiumQueries.wall_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.failed_tasks" -> "count", "spark.driver_gap_s" -> "s",
    "spark.planning_s" -> "s", "spark.codegen_compiles" -> "count",
    "spark.task_wait_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.files_read" -> "count", "spark.spill_bytes" -> "bytes",
    "core.session_s" -> "s", "core.Tables.warm_s" -> "s", "core.fixtures_s" -> "s",
    "bench.generate_s" -> "s", "bench.failed_frac" -> "ratio",
    "bench.trace_overhead_frac" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, data: String, expected: Path,
      record: Option[Path], list: Boolean)

  def parse(a: Seq[String]): Args = {
    val m = a.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = m.getOrElse("workload", "")
    require(m.contains("record") || m.contains("list") || Workloads.contains(w),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "1").toDouble,
      m.getOrElse("trace", "0") == "1", Path.of(get("work")), get("data"),
      Path.of(get("expected")), m.get("record").map(Path.of(_)), m.contains("list"))
  }

  /** Wall seconds of `body`. */
  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    if (args.list) return println(Registry.recorded.mkString(","))
    val cpus = Runtime.getRuntime.availableProcessors
    Files.createDirectories(args.work)
    var spark: SparkSession = null
    val sessionS = secs {
      spark = graft.core.LocalFs(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", args.work.resolve("spark-warehouse").toString)
        .config("spark.local.dir", args.work.resolve("spark-local").toString))
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    try args.record match {
      case Some(out) => Files.writeString(out.resolve("fingerprints.json"), Registry.record(spark, out))
      case None => run(spark, args, cpus, sessionS)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, args: Args, cpus: Int, sessionS: Double): Unit = {
    val registry = args.workload != "forward"
    // first-use costs every workload pays once per JVM: classes and JIT
    // for the engine paths the ops share, so the op that happens to run
    // first is not charged for them
    val warmS = secs(warmEngine(spark, args))
    // the gates' seeded stores and event slices, built once per JVM
    val fixturesS = secs {
      if (args.workload == "stream_gates") RelationalQueries.warmSeeds(spark, args.data)
    }

    val rnd = new Random(args.seed)
    var plan: Forward.Plan = null
    val xml = args.work.resolve("biosamples.xml")
    val generateS = secs {
      if (!registry) {
        plan = Forward.generate(args.seed)
        Files.writeString(xml, Forward.biosampleXml(plan))
      }
    }
    val expected = if (registry) Registry.loadExpected(args.expected) else Map.empty[String, Fingerprint]
    val list = if (registry) Registry.ops(args.workload) else Nil

    /** One pass: its ops, its failed output checks, and (forward) the
      * flow's own layer counts.
      */
    def pass(i: Int): (Seq[Op], Seq[String], Map[String, Double]) =
      if (registry) {
        val (ops, problems) = Registry.pass(spark, args.data, rnd.shuffle(list), expected)
        (ops, problems, Map.empty)
      } else {
        val dir = args.work.resolve(s"forward-$i")
        val out = Forward.pass(spark, plan, xml.toString, dir)
        deleteTree(dir)
        (out.ops, out.problems, out.layers)
      }
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage
    val t0 = System.nanoTime()
    val passes = Seq.newBuilder[(Seq[Op], Seq[String], Map[String, Double])]
    var traced: Option[(Seq[Op], Tracer)] = None
    if (!args.trace) {
      var n = 0
      while (n == 0 || (System.nanoTime() - t0) / 1e9 < args.seconds) {
        passes += pass(n)
        n += 1
      }
    } else {
      (0 until 4).foreach { i =>
        val tracer = if (i % 2 == 0) Some(new Tracer(spark)) else None
        tracer.foreach(_.start())
        val p = pass(i)
        tracer.foreach(_.stop())
        if (i == 0) traced = Some((p._1, tracer.get))
        passes += p
      }
    }
    val loadAfter = os.getSystemLoadAverage
    val all = passes.result()
    val ops = all.flatMap(_._1)
    val problems = all.flatMap(_._2)
    problems.foreach(p => System.err.println(s"[perfbench] output check failed: $p"))

    def passWall(p: Seq[Op]) = p.map(_.wallS).sum
    val metrics: Seq[(String, Double, String)] = traced match {
      case None =>
        val wall =
          if (registry) Stats.median(all.map(p => passWall(p._1)))
          else {
            // seconds of command time per project reaching done or failed
            val terminal = all.map(p => p._3("compendium.projects_done") +
              p._3("compendium.projects_failed")).sum
            ops.map(_.wallS).sum / math.max(terminal, 1.0)
          }
        Seq(("setup_s", setupS, "s"), ("wall_s", wall, "s"),
          ("op_p50_s", Stats.opPercentile(ops, 0.5), "s"),
          ("peak_rss_mb", Stats.peakRssMb(), "MB"))
      case Some((tracedOps, tracer)) =>
        val spans = tracer.spans(tracedOps)
        writeSpans(args, spans)
        val spark0 = tracer.layers(tracedOps, spans)
        val byModule = tracedOps.groupBy(_.module).map { case (m, os) =>
          s"operators.$m.wall_s" -> os.map(_.wallS).sum
        }
        val asvs = spans.find(_.op.name == "asvs")
        val flow = all.head._3
        val derived = if (registry) Map.empty[String, Double] else Map(
          "compendium.Warehouse.write_amp" ->
            spark0("spark.output_bytes") / math.max(flow("compendium.Warehouse.bytes_live"), 1.0),
          "functions.SmithWaterman.cells_per_s" -> asvs.filter(_.executorRunS > 0)
            .map(s => flow("functions.SmithWaterman.cells") / s.executorRunS).getOrElse(0.0),
          "compendium.RegionInference.task_skew" -> asvs.map(_.busiestStageSkew).getOrElse(0.0))
        // warm passes only: the first, traced pass also pays first-use costs
        val overhead =
          passWall(all(2)._1) / ((passWall(all(1)._1) + passWall(all(3)._1)) / 2) - 1
        val got = spark0 ++ byModule.filter(kv => Layers.exists(_._1 == kv._1)) ++
          flow ++ derived ++ Map(
            "core.session_s" -> sessionS, "core.Tables.warm_s" -> warmS,
            "core.fixtures_s" -> fixturesS,
            "bench.generate_s" -> generateS,
            "bench.failed_frac" -> tracedOps.count(!_.ok).toDouble / tracedOps.size,
            "bench.trace_overhead_frac" -> overhead)
        val unknown = got.keySet -- Layers.map(_._1)
        require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
        Layers.map { case (k, unit) => (k, got.getOrElse(k, 0.0), unit) }
    }

    val result = Json.obj().put("correct", problems.isEmpty)
      .put("attempted", ops.size).put("failed", ops.count(!_.ok))
    val ms = result.putObject("metrics")
    metrics.foreach { case (k, v, u) => ms.putObject(k).put("value", Json.num(v)).put("unit", u) }
    val record = Json.obj().put("workload", args.workload).put("seed", args.seed)
      .put("seconds", args.seconds).put("trace", args.trace)
      .put("sha", sys.env.getOrElse("PERFBENCH_SHA", "unknown"))
      .put("nproc", cpus).put("master", s"local[$cpus]")
      .put("heap_mb", Runtime.getRuntime.maxMemory >> 20)
      .put("load_avg_before", loadBefore).put("load_avg_after", loadAfter)
      .put("passes", all.size)
    val opsOut = record.putArray("ops")
    ops.foreach { o =>
      val n = opsOut.addObject().put("name", o.name).put("wall_s", o.wallS).put("ok", o.ok)
      if (!o.ok) n.put("error", o.error)
    }
    val problemsOut = record.putArray("problems")
    problems.foreach(p => problemsOut.add(p))
    record.set[ObjectNode]("result", result)
    println("perfbench-record " + Json.write(record))
    println(Json.write(result))
  }

  /** The traced pass's spans: one per op, with its jobs as children. */
  private def writeSpans(args: Args, spans: Seq[OpSpan]): Unit = {
    val file = args.work.resolve(s"spans-${args.workload}-${args.seed}.json")
    val out = Json.mapper.createArrayNode()
    spans.foreach { s =>
      require(math.abs(s.busyS + s.gapS - s.op.wallS) < 1e-9, s"span of ${s.op.name} does not add up")
      val n = out.addObject().put("op", s.op.name).put("module", s.op.module)
        .put("start_ms", s.op.startMs).put("end_ms", s.op.endMs)
        .put("wall_s", s.op.wallS).put("ok", s.op.ok)
        .put("job_busy_s", s.busyS).put("driver_gap_s", s.gapS)
        .put("jobs", s.jobs).put("stages", s.stages).put("tasks", s.tasks)
        .put("planning_s", s.planningS).put("executor_run_s", s.executorRunS)
      val children = n.putArray("children")
      s.jobSpans.foreach { case (j, a, b) =>
        children.addObject().put("job", j).put("start_ms", a).put("end_ms", b)
      }
    }
    Files.writeString(file, Json.write(out) + "\n")
  }

  private def warmEngine(spark: SparkSession, args: Args): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(1000).write.format("noop").mode("overwrite").save()
    spark.read.option("sep", "\t").option("header", "true")
      .csv(sys.env.getOrElse("GRAFT_FIXTURES_DIR", "fixtures") + "/summary_paired.tsv")
      .collect()
    if (args.workload == "forward") return
    val tables = graft.core.Tables
    val stream = args.workload == "stream_gates"
    // the gates read events and orders; the batch queries read every table
    (if (stream) Seq("orders") else tables.all.filterNot(_ == "events"))
      .foreach(t => tables.load(spark, args.data, t).limit(1).collect())
    tables.events(spark, args.data).limit(1).collect()
    if (!stream) {
      val li = tables.load(spark, args.data, "lineitem")
      val o = tables.load(spark, args.data, "orders")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(sum("l_quantity").as("q"))
        .orderBy(desc("q")).collect()
    } else {
      // a stateful micro-batch query with a checkpoint, as the gates run
      val src = args.work.resolve("warm-stream").toString
      spark.range(1000).selectExpr("id % 7 AS k", "id AS v").write.parquet(src)
      def source = spark.readStream.schema("k BIGINT, v BIGINT").parquet(src)
        .withColumn("t", timestamp_seconds(col("v")))
      def drain(df: org.apache.spark.sql.DataFrame, mode: String, ck: String): Unit =
        df.writeStream.outputMode(mode).format("noop")
          .option("checkpointLocation", args.work.resolve(ck).toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      drain(source.groupBy("k").agg(count(lit(1)), sum("v")), "complete", "warm-agg")
      // and a stream-stream join, whose state store the join gates use
      val l = source.withWatermark("t", "10 seconds").as("l")
      val r = source.withWatermark("t", "10 seconds").as("r")
      drain(l.join(r, expr("l.k = r.k AND r.t BETWEEN l.t AND l.t + INTERVAL 5 SECONDS")),
        "append", "warm-join")
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile of op latency; a failed op ranks above every
    * successful one and keeps its own latency as its value.
    */
  def opPercentile(ops: Seq[Op], q: Double): Double = {
    val s = ops.sortBy(o => (!o.ok, o.wallS))
    s(math.max(0, math.ceil(q * s.size).toInt - 1)).wallS
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }
}

object Json {
  val mapper = new ObjectMapper()
  def obj(): ObjectNode = mapper.createObjectNode()
  def write(n: JsonNode): String = mapper.writeValueAsString(n)
  /** A metric value; JSON has no NaN or infinity. */
  def num(d: Double): Double = {
    require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
    d
  }
}
