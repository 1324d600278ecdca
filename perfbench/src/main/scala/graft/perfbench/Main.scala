package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.{SessionTuning, Tables}

/** The benchmark's JVM side: builds the session, runs one workload for
  * the measured window and writes its raw record as JSON. perfbench/run.py
  * generates the inputs, launches this, checks the outputs and prints
  * the metrics.
  *
  * Usage: graft.perfbench.Main --workload <name> --input <dir> --work <dir>
  *   --out <file> --seconds <s> --cores <n> --trace <0|1> --seed <n>
  * or, to train the class-data-sharing archive:
  *   graft.perfbench.Main --train <dir> --input <dir> --work <dir> --cores <n>
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = args("cores").toInt
    val work = Files.createDirectories(Paths.get(args("work")))
    val input = args("input")

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", SessionTuning.shufflePartitions(cores, input))
        .config("spark.sql.adaptive.enabled", "true")
        .config(Tables.NanosAsLongKey, "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s.range(1).count() // ready: the session has run a job
      s
    }
    // Set-up counts from process start: JVM start, class loading and the
    // first session, as a newly submitted job pays them.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    args.get("train") match {
      case Some(dir) => train(spark, args, dir, work, cores)
      case None      => measure(spark, args, work, cores, setupS)
    }
    spark.stop()
  }

  /** Training run for the class-data-sharing archive: one operation of
    * every workload on tiny inputs, so the archive holds their classes.
    */
  private def train(spark: SparkSession, args: Map[String, String], dir: String,
      work: Path, cores: Int): Unit =
    Seq("crm_triggers", "dedup_build", "ingest_stream").foreach { w =>
      val ctx = new Ctx(spark, new Tracer, args + ("input" -> s"$dir/$w"),
        Files.createDirectories(work.resolve(w)), 0.0, cores)
      Workloads.run(w, ctx)
      ctx.errors.foreach(e => System.err.println(s"training $w: $e"))
    }

  private def measure(spark: SparkSession, args: Map[String, String],
      work: Path, cores: Int, setupS: Double): Unit = {
    val traced = args("trace") == "1"
    val runId = s"${args("workload")}-${args("seed")}-${ProcessHandle.current().pid()}"
    val recorder = if (traced) Some(new RecordingTracer(spark, runId)) else None
    val ctx = new Ctx(spark, recorder.getOrElse(new Tracer), args, work,
      args("seconds").toDouble, cores)
    val t0 = System.nanoTime()
    try Workloads.run(args("workload"), ctx)
    catch { case e: Throwable =>
      ctx.failed += 1
      ctx.attempted += 1
      ctx.errors += s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    val runS = (System.nanoTime() - t0) / 1e9

    recorder.foreach(_.close())
    val layers = ctx.trace.map { t =>
      val spansFile = work.resolve(s"spans-$runId.jsonl")
      Files.writeString(spansFile, t.spans.map(s => Json(Map(
        "id" -> s.id, "layer" -> s.layer, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs))).mkString("", "\n", "\n"))
      val stagesFile = work.resolve(s"stages-$runId.jsonl")
      Files.writeString(stagesFile, t.stages.map(r => Json(Map(
        "span" -> r.span, "layer" -> t.stageLayer(r), "result" -> r.result, "tasks" -> r.tasks,
        "wall_s" -> r.wallS, "run_s" -> r.runS, "cpu_s" -> r.cpuS,
        "shuffle_write_bytes" -> r.shuffleWriteBytes, "spill_bytes" -> r.spillBytes,
        "records_read" -> r.recordsRead, "source_pages" -> r.sourcePages))).mkString("", "\n", "\n"))
      ctx.check.update("spans", spansFile.toString)
      ctx.check.update("stages", stagesFile.toString)
      perLayer(t, ctx)
    }

    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    val record = Map(
      "setup_s" -> setupS,
      "samples" -> ctx.samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "values" -> (ctx.values.toMap + ("peak_rss_mb" -> hwmKb / 1024.0)),
      "per_layer" -> layers.getOrElse(Map.empty),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "errors" -> ctx.errors.toSeq,
      "window_ops" -> ctx.windowOps,
      "run_s" -> runS,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "check" -> ctx.check.toMap)
    Files.writeString(Paths.get(args("out")), Json(record) + "\n")
  }

  /** Every per-layer metric, per pass (crm, dedup) or per batch (ingest)
    * of the measured window. A layer the workload does not load reads 0.
    */
  private def perLayer(t: Trace, ctx: Ctx): Map[String, Double] = {
    val ops = math.max(1, ctx.windowOps).toDouble
    def per(x: Double) = x / ops
    val cores = ctx.cores
    val src = t.stages.filter(_.sourcePages > 0)
    val pipe = t.stagesIn("pipelines")
    val sinkFinal = t.stagesIn("sink")
    val llm = t.stagesIn("llm")
    val streaming = t.stagesIn("streaming")
    val batchSpans = t.spansIn("streaming").map(_.id).toSet
    val compactions = ctx.layer.getOrElse("operators.compactions", 0.0)
    def perCompaction(x: Double) = if (compactions > 0) x / compactions else 0.0
    val docsIn = ctx.layer.getOrElse("streaming.docs_in", 0.0)
    Map(
      "sources.scan_s" -> per(src.map(_.wallS).sum),
      "sources.pages" -> per(src.map(_.sourcePages.toDouble).sum),
      "sources.rows" -> per(src.map(_.recordsRead.toDouble).sum),
      "pipelines.build_s" -> per(t.spanSeconds("pipelines")),
      "pipelines.plan_s" -> per(t.planSeconds("pipelines") + t.planSeconds("sink")),
      "pipelines.stages" -> per(pipe.size),
      "pipelines.tasks" -> per(pipe.map(_.tasks.toDouble).sum),
      "pipelines.shuffle_write_bytes" -> per(pipe.map(_.shuffleWriteBytes.toDouble).sum),
      "pipelines.task_cpu_s" -> per(pipe.map(_.cpuS).sum),
      "pipelines.core_util" -> t.coreUtil(pipe, cores),
      "sink.write_s" -> per(t.spanSeconds("sink", _.startsWith("write "))),
      "sink.final_stage_s" -> per(sinkFinal.map(_.wallS).sum),
      "sink.final_stage_tasks" -> per(sinkFinal.map(_.tasks.toDouble).sum),
      "sink.upsert_s" -> per(t.selfSeconds("sink", _.startsWith("upsert "))),
      "sink.bytes" -> per(ctx.layer.getOrElse("sink.bytes", 0.0)),
      "sink.core_util" -> t.coreUtil(sinkFinal, cores),
      "llm.index_s" -> per(t.spanSeconds("llm", _ == "index")),
      "llm.pairs_s" -> per(t.spanSeconds("llm", _ == "pairs")),
      "llm.cc_s" -> per(t.spanSeconds("llm", _ == "cc")),
      "llm.index_rows" -> per(ctx.layer.getOrElse("llm.index_rows", 0.0)),
      "llm.pairs_rows" -> per(ctx.layer.getOrElse("llm.pairs_rows", 0.0)),
      "llm.shuffle_write_bytes" -> per(llm.map(_.shuffleWriteBytes.toDouble).sum),
      "llm.spill_bytes" -> per(llm.map(_.spillBytes.toDouble).sum),
      "llm.stages" -> per(llm.size),
      "streaming.batch_jobs" -> per(t.jobs.count(batchSpans).toDouble),
      "streaming.batch_stages" -> per(streaming.size),
      "streaming.batch_tasks" -> per(streaming.map(_.tasks.toDouble).sum),
      "streaming.admit_ratio" ->
        (if (docsIn > 0) ctx.layer.getOrElse("streaming.admitted", 0.0) / docsIn else 0.0),
      "streaming.store_files" -> ctx.layer.getOrElse("streaming.store_files", 0.0),
      "streaming.index_bytes" -> ctx.layer.getOrElse("streaming.index_bytes", 0.0),
      "operators.compact_s" -> perCompaction(t.spanSeconds("operators")),
      "operators.files_folded" -> perCompaction(ctx.layer.getOrElse("operators.files_folded", 0.0)),
      "codegen.compile_s" -> per(t.compileS),
      "codegen.classes" -> per(t.classes.toDouble),
      "jvm.gc_s" -> per(t.gcS),
      "trace.span_coverage" -> (if (ctx.windowWall > 0) t.topLevelSeconds / ctx.windowWall else 0.0))
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => str(s)
    case b: Boolean                 => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case n: Int                     => n.toString
    case n: Long                    => n.toString
    case d: Double                  => d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]            => xs.map(apply).mkString("[", ",", "]")
    case other                      => str(other.toString)
  }
}
