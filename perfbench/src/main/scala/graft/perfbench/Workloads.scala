package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{QueryDef, ScaleGen, Tables}
import graft.llm.{DedupQueries, SharedIndex}
import graft.operators.Compaction
import graft.pipelines.{EntityPipelines, ReportPipelines, Triggers}
import graft.streaming.{NearDupIngest, UpsertSink}

/** What one run records: timed samples of the measured window, scalar
  * results, per-layer counters the workload itself observes, and the
  * facts the correctness checks need.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val args: Map[String, String],
    val work: Path, val seconds: Double, val cores: Int) {
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val check = mutable.LinkedHashMap.empty[String, Any]
  val errors = ArrayBuffer.empty[String]
  var attempted, failed = 0L
  /** Passes (crm, dedup) or batches (ingest) completed in the window. */
  var windowOps = 0
  private var windowStart = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v

  def addLayer(name: String, v: Double): Unit = layer.update(name, layer.getOrElse(name, 0.0) + v)

  /** One operation — a report, a build step or a batch: counted, and a
    * failure is recorded instead of aborting the run.
    */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) =>
      failed += 1
      errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
      None
    }
  }

  def startWindow(): Unit = {
    tracer match { case r: RecordingTracer => r.resetWindow(); case _ => }
    windowStart = System.nanoTime()
  }
  def windowSeconds: Double = (System.nanoTime() - windowStart) / 1e9
  /** The window measures whole operations, at least one, until `seconds` have passed. */
  def windowOver: Boolean = windowOps > 0 && windowSeconds >= seconds
  /** Wall time of the measured window, set when its last operation ends. */
  var windowWall = 0.0
  /** What the tracer recorded in the window; work after it is not traced. */
  var trace: Option[Trace] = None
  def endWindow(): Unit = {
    windowWall = windowSeconds
    trace = tracer match { case r: RecordingTracer => Some(r.snapshot()); case _ => None }
  }
}

object Workloads {

  def run(name: String, ctx: Ctx): Unit = name match {
    case "crm_triggers"  => crm(ctx)
    case "dedup_build"   => dedup(ctx)
    case "ingest_stream" => ingest(ctx)
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  private def filesUnder(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
      .flatMap(f => if (f.isDirectory) filesUnder(f) else Seq(f))

  /** Writes `df` as one parquet file at `target` (the K1 single-file
    * contract) through a staging directory.
    */
  private def writeSingle(df: DataFrame, staging: Path, target: Path): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Option(staging.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $staging"))
    Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
    rmTree(staging.toFile)
  }

  // ---------------------------------------------------------------
  // crm_triggers: triggers 1-5 from source to published files
  // ---------------------------------------------------------------

  /** The export each published report is checked against. */
  private val reportDefs: Map[String, QueryDef] = Map(
    "Quotation_Report"         -> ReportPipelines.quoteExport,
    "Organisation_Report"      -> ReportPipelines.orgExport,
    "Opportunity_Report"       -> ReportPipelines.opportunityExport,
    "Users_Report"             -> ReportPipelines.usersExport,
    "Equipment_Report"         -> EntityPipelines.equipmentExport,
    "Invoice_Report"           -> EntityPipelines.invoiceExport,
    "Task_Report"              -> EntityPipelines.taskExport,
    "Opportunity_Stage_Report" -> EntityPipelines.stageReport)

  /** Rows per page of the quotation extract, the reference's page size. */
  private val PageSize = 500

  private def crm(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val in = ctx.args("input")
    val drive = Files.createDirectories(ctx.work.resolve("drive"))
    val staging = ctx.work.resolve("staging")
    val folder = UpsertSink.resolveFolder(drive.toString)
      .getOrElse(sys.error(s"drive folder $drive does not resolve"))
    // the count probe of the paged scan: one quotation per order
    val totalRows = Tables.orders(spark, in).count()
    val triggers: Seq[(Int, (SparkSession, String) => Map[String, DataFrame])] = Seq(
      1 -> Triggers.trigger1, 2 -> Triggers.trigger2, 3 -> Triggers.trigger3,
      4 -> Triggers.trigger4, 5 -> Triggers.trigger5)
    val outcomes = mutable.LinkedHashMap.empty[String, String]

    def publish(name: String, df: DataFrame): Unit = ctx.tracer.span("sink", s"upsert $name") {
      val file = s"$name.parquet"
      val leg = UpsertSink.upsert(folder, file, tmp => ctx.tracer.span("sink", s"write $name") {
        writeSingle(df, staging.resolve(name), tmp)
      })
      outcomes.update(name, leg.toString)
      ctx.addLayer("sink.bytes", Files.size(folder.resolve(file)).toDouble)
    }

    def pass(): (Double, Double) = {
      val t0 = System.nanoTime()
      var t2 = 0.0
      triggers.foreach { case (n, trigger) =>
        val tt = System.nanoTime()
        val reports = ctx.op(s"trigger$n") {
          ctx.tracer.span("pipelines", s"trigger$n")(trigger(spark, in))
        }.getOrElse(Map.empty)
        val extract = if (n != 1) None else ctx.op("quotation extract") {
          ctx.tracer.span("sources", "paged quotation") {
            spark.read.format("graft.sources.PagedRestSource")
              .option("entity", "quotation").option("totalRows", totalRows)
              .option("pageSize", PageSize).load()
          }
        }
        (reports ++ extract.map("Quotation_Raw" -> _)).toSeq.sortBy(_._1).foreach {
          case (name, df) => ctx.op(s"publish $name")(publish(name, df))
        }
        if (n == 2) t2 = secondsSince(tt)
      }
      (secondsSince(t0), t2)
    }

    // yesterday's reports are already in the shared folder, so the
    // refresh takes the replace-in-place leg of the upsert
    (reportDefs.keys.toSeq :+ "Quotation_Raw").foreach { name =>
      Files.writeString(folder.resolve(s"$name.parquet"), "stale")
    }
    ctx.startWindow()
    while (!ctx.windowOver) {
      val (refresh, t2) = pass()
      ctx.sample("refresh_s", refresh)
      ctx.sample("trigger2_s", t2)
      ctx.windowOps += 1
    }
    ctx.endWindow()
    // bytes published per byte of input tables
    val published = filesUnder(drive.toFile).filter(_.getName.endsWith(".parquet"))
    ctx.values.update("reports_per_pass", published.size.toDouble)
    ctx.values.update("space_amp",
      published.map(_.length).sum.toDouble / filesUnder(new java.io.File(in)).map(_.length).sum)
    ctx.check ++= Seq(
      "drive" -> drive.toString,
      "outcomes" -> outcomes.toMap,
      "oracle_sql" -> reportDefs.map { case (k, q) => k -> q.oracle.getOrElse("") },
      "quotation_total_rows" -> totalRows)
  }

  // ---------------------------------------------------------------
  // dedup_build: index -> pairs -> CC, then the warm consumers
  // ---------------------------------------------------------------

  /** How many times ScaleGen.scaleDocuments replicates the base corpus. */
  private val ScaleFactor = 4

  private def dedup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val root = Files.createDirectories(ctx.work.resolve("dedup"))
    val source = root.resolve("documents.parquet")
    writeSingle(ScaleGen.scaleDocuments(
      spark.read.parquet(ctx.args("input") + "/base_documents.parquet"), ScaleFactor),
      root.resolve("staging"), source)
    ctx.check.update("documents", source.toString)
    ctx.values.update("docs", spark.read.parquet(source.toString).count().toDouble)
    var passNo = 0
    var lastDir = ""

    // SharedIndex caches each artifact per (JVM, directory): every pass
    // reads the same documents through a fresh directory, so every pass
    // builds rather than hits the cache.
    def pass(): (Double, Double) = {
      val dir = Files.createDirectories(root.resolve(s"pass-$passNo"))
      passNo += 1
      Files.createLink(dir.resolve("documents.parquet"), source)
      val d = dir.toString
      lastDir = d
      val t0 = System.nanoTime()
      ctx.op("index build") {
        val rows = ctx.tracer.span("llm", "index")(SharedIndex.sidPostings(spark, d).count())
        ctx.addLayer("llm.index_rows", rows.toDouble)
      }
      ctx.op("pairs build") {
        val rows = ctx.tracer.span("llm", "pairs")(DedupQueries.rareOverlaps(spark, d).count())
        ctx.addLayer("llm.pairs_rows", rows.toDouble)
      }
      ctx.op("cc build")(ctx.tracer.span("llm", "cc")(DedupQueries.ccLabels(spark, d).count()))
      val build = secondsSince(t0)
      val t1 = System.nanoTime()
      Seq(DedupQueries.dedupClusters, DedupQueries.dedupCorpus).foreach { q =>
        ctx.op(q.name)(ctx.tracer.span("llm", s"consume ${q.name}") {
          q.run(spark, d).write.format("noop").mode("overwrite").save()
        })
      }
      (build, secondsSince(t1))
    }

    ctx.startWindow()
    while (!ctx.windowOver) {
      val (build, consume) = pass()
      ctx.sample("build_s", build)
      ctx.sample("consume_s", consume)
      ctx.windowOps += 1
    }
    ctx.endWindow()
    // artifact bytes (postings, overlaps, labels) per build, over the corpus bytes
    val artifacts = Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.getName.startsWith("graft-sidindex-"))
      .toSeq.flatMap(filesUnder).filter(_.getName.endsWith(".parquet")).map(_.length).sum
    ctx.values.update("space_amp", artifacts.toDouble / passNo / Files.size(source))
    val out = ctx.work.resolve("check").resolve("x_dedup_clusters").toString
    DedupQueries.dedupClusters.run(spark, lastDir).coalesce(1).write.mode("overwrite").parquet(out)
    ctx.check ++= Seq("clusters" -> out,
      "oracle_sql" -> Map("x_dedup_clusters" -> DedupQueries.dedupClusters.oracle.getOrElse("")))
  }

  // ---------------------------------------------------------------
  // ingest_stream: seeded micro-batches into a growing store
  // ---------------------------------------------------------------

  private final case class Step(batchId: Long, file: String, docs: Int)

  private def ingest(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val in = ctx.args("input")
    val steps = scala.io.Source.fromFile(s"$in/steps.tsv").getLines().filter(_.nonEmpty).map { l =>
      val Array(id, file, docs) = l.split("\t")
      Step(id.toLong, file, docs.toInt)
    }.toVector
    val root = Files.createDirectories(ctx.work.resolve("ingest"))
    val store = root.resolve("store").toString
    Files.createDirectories(Paths.get(store))
    Files.copy(Paths.get(s"$in/seed.parquet"), Paths.get(store, "part-00000-seed.parquet"))

    def siblings: Seq[java.io.File] = Option(root.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .toSeq.filter(f => f.isDirectory && f.getName.startsWith("store."))
    // live data files under the compaction manifest protocol: the
    // committed list plus appended files the last commit did not consume
    def live(dir: java.io.File): Int = {
      val onDisk = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .map(_.getName).filter(_.endsWith(".parquet"))
      val manifest = new java.io.File(dir, Compaction.ManifestName)
      if (!manifest.exists) onDisk.length
      else {
        val lines = Files.readAllLines(manifest.toPath).asScala.map(_.trim).filter(_.nonEmpty)
        val (consumed, committed) = lines.partition(_.startsWith("-"))
        val known = committed.toSet ++ consumed.map(_.drop(1))
        committed.size + onDisk.count(n => !known(n) && !n.startsWith(Compaction.GenPrefix))
      }
    }
    def datasets: Seq[java.io.File] = new java.io.File(store) +: siblings.flatMap { s =>
      val leaves = Option(s.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("pfx="))
      if (leaves.isEmpty) Seq(s) else leaves.toSeq
    }
    def storeFiles: Int = datasets.map(live).sum

    val log = ArrayBuffer.empty[Map[String, Any]]
    var docsIn = 0L
    def step(s: Step, replay: Boolean): Unit = {
      val t0 = System.nanoTime()
      val n = ctx.op(s"batch ${s.batchId}") {
        ctx.tracer.span("streaming", s"batch ${s.batchId}") {
          NearDupIngest.ingestBatch(spark, spark.read.parquet(s.file), store, s.batchId)
        }
      }
      log += Map("batch_id" -> s.batchId, "replay" -> replay, "docs" -> s.docs,
        "appended" -> n.getOrElse(-1L))
      if (!replay) {
        ctx.sample("batch_s", secondsSince(t0))
        docsIn += s.docs
        ctx.addLayer("streaming.docs_in", s.docs.toDouble)
        ctx.addLayer("streaming.admitted", n.getOrElse(0L).toDouble)
        ctx.windowOps += 1
      }
    }
    def compact(): Unit = {
      val before = storeFiles
      val t0 = System.nanoTime()
      ctx.op("compact")(ctx.tracer.span("operators", "compact") {
        NearDupIngest.compactStoreAndIndexes(spark, store)
      })
      ctx.sample("compact_s", secondsSince(t0))
      ctx.addLayer("operators.compactions", 1)
      ctx.addLayer("operators.files_folded", (before - storeFiles).toDouble)
    }

    // Each batch is followed by a maintenance compaction. The first
    // batch into the fresh store also pays its one-time index bootstrap,
    // as a newly started stream does. The stream then redelivers that
    // batch under its own id, as a restarted stream replays its last
    // uncommitted micro-batch; the replay lands before the compaction,
    // while the batch's file is still live, so rows it added would stay
    // in the store. Replays are not batch_s samples and add no input
    // documents, but their time is in the window.
    ctx.startWindow()
    steps.iterator.takeWhile(_ => !ctx.windowOver).foreach { s =>
      step(s, replay = false)
      if (s == steps.head) step(s, replay = true)
      compact()
    }
    ctx.endWindow()
    ctx.values.update("ingest_docs_per_s", docsIn / ctx.windowWall)

    // the store and its side tables on disk; run.py divides by the
    // text bytes of the documents the store holds
    val indexBytes = siblings.filter(_.getName.contains("idx")).flatMap(filesUnder).map(_.length).sum
    ctx.values.update("disk_bytes",
      (filesUnder(new java.io.File(store)).map(_.length).sum + indexBytes).toDouble)
    ctx.layer.update("streaming.store_files", storeFiles.toDouble)
    ctx.layer.update("streaming.index_bytes", indexBytes.toDouble)
    val ids = ctx.work.resolve("check").resolve("store_ids").toString
    Compaction.readCompacted(spark, store).select("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(ids)
    ctx.check ++= Seq("store_ids" -> ids, "steps" -> log.toSeq)
  }
}
