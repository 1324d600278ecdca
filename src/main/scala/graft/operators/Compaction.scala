package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Small-file compaction — the table-maintenance job every long-lived
  * 100 TB dataset needs: streaming sinks and frequent small batch
  * appends accumulate files far below the ideal scan granularity
  * (HDFS/parquet sweet spot ~128 MB–1 GB), and scan cost becomes
  * per-file overhead (open + footer + planning) instead of bytes.
  *
  * Strategy: read the live set, `coalesce` down to a target file count
  * sized by total bytes / target file size (coalesce, not repartition —
  * no shuffle, it only merges read partitions), write to a staging
  * dir, move the new files in under a recognizable GENERATION prefix
  * (`compacted-<runid>-…`), then COMMIT by atomically replacing the
  * `_manifest` file, and finally delete the consumed inputs. This is
  * the poor-man's snapshot of the transactional table formats: the
  * single manifest rename is the only commit point.
  *
  * The manifest has two kinds of lines: plain names = the committed
  * live files; `-name` = inputs CONSUMED by that commit, RETAINED on
  * disk as the previous snapshot. The live set at any instant is
  *   manifest live ∪ {un-prefixed files outside the consumed list}
  * — i.e. files APPENDED by other writers after a commit stay visible
  * (they carry no generation prefix) and are folded into the next
  * compaction instead of being mistaken for garbage. Only
  * `compacted-*` files absent from the manifest are crashed-swap
  * leftovers and reclaimable.
  *
  * SNAPSHOT RETENTION: a commit does NOT delete the files it
  * consumed — they stay on disk, listed `-name`, until the next
  * [[compactParquet]] run or an explicit [[vacuum]]. A manifest
  * reader that resolved the OLD list just before the commit therefore
  * still finds every file it resolved — the read-vs-delete race is
  * closed by construction (re-losing it would take a reader stalled
  * across an entire retention window, i.e. two maintenance runs). The
  * price is ≤ 2× disk between maintenance runs — the trade every
  * snapshot-retaining table format makes.
  *
  * Guarantees, given readers resolve the live set via
  * [[readCompacted]]. The single-maintainer precondition (concurrent
  * APPENDERS are fine, concurrent COMPACTIONS are not) is enforced by
  * a create-exclusive lease file with a staleness takeover — a second
  * concurrent [[compactParquet]] fails fast instead of silently
  * GC-ing the first run's uncommitted generation:
  *   - appended data is never lost: un-prefixed files are live until
  *     a commit explicitly consumes them;
  *   - exactly-once rows at every commit state: pre-commit, the new
  *     generation is invisible (prefixed, unmanifested); post-commit,
  *     the consumed inputs are excluded though still on disk;
  *   - crash-safe: a re-run GCs unmanifested `compacted-*` files and
  *     vacuums the retained consumed files, then compacts one clean
  *     generation — duplicated rows can never be baked in. Orphaned
  *     staging dirs of THIS dataset are also reclaimed on re-run.
  * A plain `spark.read.parquet(dir)` reader ignores `_manifest` and
  * sees consumed + live DUPLICATES until a [[vacuum]] — the plain
  * path is only exact on a vacuumed dataset; manifest readers are
  * exact always.
  *
  * Partitioned layouts: each leaf directory of a single-level
  * `partitionBy` dataset IS a flat dataset with its own manifest and
  * lease. [[compactParquet]] rejects a partitioned root (flat-compacting
  * it would collapse the partition column into the data files and
  * corrupt partition discovery); [[compactPartitioned]] folds every
  * leaf in one job, then commits each leaf under the same protocol —
  * so the job count stays constant however many leaves the layout has.
  */
object Compaction {
  import java.nio.file.{Files, Path, Paths, StandardCopyOption}
  import scala.jdk.CollectionConverters._

  /** Name of the live/consumed file list; underscore prefix keeps it
    * invisible to Spark's file index.
    */
  val ManifestName = "_manifest"

  /** Generation prefix marking files written BY compaction — the
    * property that lets recovery tell a crashed generation apart from
    * files appended by other writers.
    */
  val GenPrefix = "compacted-"

  /** Maintainer lease file; underscore prefix keeps it invisible to
    * Spark's file index, like the manifest.
    */
  val LeaseName = "_maintainer.lock"

  /** Acquire the single-maintainer lease for `root`, or fail fast.
    *
    * The snapshot/retention protocol assumes ONE maintenance run at a
    * time (two concurrent runs could each GC the other's uncommitted
    * generation files, since neither generation is manifested yet).
    * That precondition used to live only in the scaladoc; this makes
    * it machine-checked: a create-exclusive lock file taken before any
    * destructive sweep, released on completion. A lease older than
    * `staleMs` is presumed crashed and may be taken over — takeover is
    * raced through an atomic rename so exactly one contender wins.
    */
  private def acquireLease(root: Path, staleMs: Long): Path = {
    val lock = root.resolve(LeaseName)
    def tryCreate(): Boolean =
      try {
        Files.write(lock,
          s"pid=${ProcessHandle.current().pid()} ts=${System.currentTimeMillis()}".getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    def claimStale(): Boolean =
      try {
        val age = System.currentTimeMillis() - Files.getLastModifiedTime(lock).toMillis
        if (age < staleMs) false
        else {
          // Move the stale lease aside atomically: of N contenders,
          // only the one whose rename succeeds proceeds to re-create.
          val tomb = root.resolve(LeaseName + ".stale-" + java.util.UUID.randomUUID().toString.take(8))
          Files.move(lock, tomb, StandardCopyOption.ATOMIC_MOVE)
          Files.deleteIfExists(tomb)
          true
        }
      } catch {
        // Lease vanished under us (holder released / another contender
        // won the takeover) — the slot may be free now; let the caller
        // retry the exclusive create.
        case _: java.nio.file.NoSuchFileException => true
      }
    if (tryCreate()) lock
    else if (claimStale() && tryCreate()) lock
    else throw new IllegalStateException(
      s"another compaction holds the maintainer lease for $root " +
        s"($LeaseName exists and is fresh) — compactions must not run " +
        s"concurrently on one dataset; retry after it completes, or " +
        s"delete the lease if its holder is known dead")
  }

  private final case class Manifest(live: Seq[String], consumed: Seq[String])

  private def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }
  private def parquetFiles(p: Path): Seq[Path] =
    list(p).filter(_.getFileName.toString.endsWith(".parquet"))

  /** Delete a data file together with its Hadoop `.crc` shadow. */
  private def gc(root: Path, f: Path): Unit = {
    Files.deleteIfExists(root.resolve("." + f.getFileName.toString + ".crc"))
    Files.deleteIfExists(f)
    ()
  }

  private def readManifest(root: Path): Option[Manifest] = {
    val m = root.resolve(ManifestName)
    if (!Files.exists(m)) None
    else {
      val lines = Files.readAllLines(m).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
      val (consumed, live) = lines.partition(_.startsWith("-"))
      Some(Manifest(live, consumed.map(_.drop(1))))
    }
  }

  /** Publish the manifest: write-to-temp + atomic rename, so a
    * concurrent reader sees either the old list or the new one, never
    * a torn file.
    */
  private def writeManifest(root: Path, m: Manifest): Unit = {
    val tmp = root.resolve(ManifestName + ".tmp")
    Files.writeString(tmp, (m.live ++ m.consumed.map("-" + _)).mkString("\n"))
    Files.move(tmp, root.resolve(ManifestName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** The live file set under the manifest protocol: committed files,
    * plus appended (un-prefixed) files not consumed by the last
    * commit. Unmanifested `compacted-*` files are a crashed, never-
    * committed generation and are NOT live.
    */
  private def liveFiles(root: Path, m: Option[Manifest]): Seq[Path] = {
    def resolve(man: Manifest): Either[Seq[String], Seq[Path]] = {
      val onDisk = parquetFiles(root)
      val committed = man.live.toSet
      val consumed = man.consumed.toSet
      val appended = onDisk.map(_.getFileName.toString).filter { n =>
        !committed(n) && !consumed(n) && !n.startsWith(GenPrefix)
      }
      val missing = man.live.filterNot(n => Files.exists(root.resolve(n)))
      if (missing.nonEmpty) Left(missing)
      else Right((man.live ++ appended).map(root.resolve(_)))
    }
    m match {
      case None => parquetFiles(root)
      case Some(man) =>
        resolve(man) match {
          case Right(fs) => fs
          case Left(_) =>
            // A live file vanished between our manifest read and the
            // listing — under snapshot retention that means a commit +
            // vacuum both completed in that window. Re-read the
            // manifest ONCE and re-resolve; only a manifest that
            // STILL lists files absent from disk is real corruption.
            val fresh = readManifest(root).getOrElse(man)
            resolve(fresh) match {
              case Right(fs) => fs
              case Left(missing) =>
                throw new IllegalArgumentException(
                  s"manifest lists data files missing on disk (corrupted dataset?): " +
                    missing.mkString(", "))
            }
        }
    }
  }

  /** The live parquet file paths of `dir` under the manifest protocol
    * (all parquet files for a never-compacted dir). This is the
    * building block for readers that must assemble a MULTI-directory
    * live set themselves — e.g. a `partitionBy` layout whose leaf
    * directories are each independently compacted flat datasets and
    * must be read together under one `basePath` so the partition
    * column survives.
    */
  def livePaths(dir: String): Seq[String] = {
    val root = Paths.get(dir).toAbsolutePath.normalize
    liveFiles(root, readManifest(root)).map(_.toString)
  }

  /** Read the dataset resolving the live file list through `_manifest`
    * when present (exactly-once across a concurrent compaction swap,
    * appended files included); falls back to the plain directory scan
    * for never-compacted dirs.
    */
  def readCompacted(spark: SparkSession, dir: String): DataFrame = {
    val root = Paths.get(dir).toAbsolutePath.normalize
    readManifest(root) match {
      case Some(m) => spark.read.parquet(liveFiles(root, Some(m)).map(_.toString): _*)
      case None => spark.read.parquet(dir)
    }
  }

  /** Reclaim the retained previous snapshot: delete the consumed files
    * the last commit listed and drop them from the manifest. Run this
    * once in-flight readers of the pre-commit snapshot have drained
    * (the next [[compactParquet]] calls it implicitly). After a
    * vacuum, the plain-directory read path is exact again. Returns the
    * number of files reclaimed.
    */
  def vacuum(dir: String): Int = {
    val root = Paths.get(dir).toAbsolutePath.normalize
    readManifest(root) match {
      case None => 0
      case Some(m) =>
        // Nothing-to-reclaim must be a TRUE no-op: callers probe state
        // with a second vacuum, and deleting _SUCCESS here would make
        // even that mutate the directory.
        if (m.consumed.nonEmpty) {
          m.consumed.foreach(n => gc(root, root.resolve(n)))
          Files.deleteIfExists(root.resolve("_SUCCESS"))
          Files.deleteIfExists(root.resolve("._SUCCESS.crc"))
          writeManifest(root, Manifest(m.live, Nil))
        }
        m.consumed.size
    }
  }

  /** Compact the flat parquet dataset at `dir` toward
    * `targetFileBytes` per file. Returns (filesBefore, filesAfter);
    * (0, 0) when the directory holds no live parquet files.
    */
  def compactParquet(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      leaseStaleMs: Long = 15L * 60 * 1000): (Int, Int) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val root = Paths.get(dir).toAbsolutePath.normalize

    val subdirs = list(root).filter(Files.isDirectory(_))
    require(subdirs.isEmpty,
      s"$dir has subdirectories (partitioned layout?) — compact it with " +
        s"compactPartitioned instead; compacting the root would corrupt partition " +
        s"discovery: " + subdirs.map(_.getFileName).mkString(", "))

    val lease = acquireLease(root, leaseStaleMs)
    try {
      sweep(root)
      val live = prepareSwap(root)
      if (live.isEmpty) (0, 0)
      else {
        val runId = newRunId()
        withStaging(root) { out =>
          spark.read.schema(footerSchema(spark, live.head)).parquet(live.map(_.toString): _*)
            .coalesce(fileCount(live, targetFileBytes))
            .write.mode("overwrite").parquet(out.toString)
          (live.size, commit(root, parquetFiles(out), runId, live))
        }
      }
    } finally {
      Files.deleteIfExists(lease)
      ()
    }
  }

  /** Compact a single-level `partitionBy` dataset at `dir` (leaf
    * directories `<col>=<value>`, each a flat dataset under the
    * manifest protocol) toward `targetFileBytes` per file, in ONE Spark
    * job for all leaves. Returns (filesBefore, filesAfter) summed over
    * the leaves.
    *
    * A per-leaf [[compactParquet]] loop pays a rewrite job per leaf, so
    * maintenance scales with the layout's width (16 leaves at a
    * 1-hex-char prefix, 65k at 4) rather than with its data. Here the
    * leaf schema is read once (from the first live file's footer — the
    * assumption Spark's own multi-file read makes), each leaf's live
    * files are read with it and coalesced to the file count a flat
    * compaction would give it, and the leaves are written as one RDD
    * union by one job: one task per output file, no shuffle, and no
    * sort. A task holds rows of exactly one leaf, and Spark names its
    * output `part-<task index>-…`, so the leaf's contiguous range of
    * union partitions names the files that belong to it. The partition
    * value never enters the data: the files move back under the leaf
    * directory they came from, so a digit-only value such as `pfx=00`
    * stays exactly as it was (a `partitionBy` write would instead sort
    * every task's rows by the partition column, a sorter page per
    * task, and re-derive the directory names).
    *
    * The commit protocol is the flat one, per leaf: every leaf's lease
    * is taken before any sweep (a held lease fails the fold fast and
    * releases the leases already taken); each leaf gets its crash sweep
    * and vacuum; every leaf's pre-swap manifest is written before any
    * generation file moves into any leaf; then each leaf's generation
    * is moved in and its manifest committed atomically. A crash between
    * two leaf commits leaves every leaf exact for manifest readers —
    * committed leaves read the new generation, the rest their old live
    * set — and a re-run converges.
    */
  def compactPartitioned(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      leaseStaleMs: Long = 15L * 60 * 1000): (Int, Int) =
    foldPartitioned(spark, dir, targetFileBytes, leaseStaleMs, _ => ())

  /** [[compactPartitioned]] with a hook run on each leaf after its
    * generation files are moved in and before its manifest commit —
    * where the crash tests inject a failure.
    */
  private[graft] def foldPartitioned(spark: SparkSession, dir: String,
      targetFileBytes: Long, leaseStaleMs: Long,
      beforeLeafCommit: Path => Unit): (Int, Int) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val root = Paths.get(dir).toAbsolutePath.normalize
    // Spark's file index ignores `_`/`.`-prefixed entries, and the flat
    // per-leaf staging dirs (`.compact-…`) live here too
    def visibleDirs(p: Path): Seq[Path] = list(p).filter { d =>
      val n = d.getFileName.toString
      Files.isDirectory(d) && !n.startsWith(".") && !n.startsWith("_")
    }
    val leaves = visibleDirs(root).sortBy(_.getFileName.toString)
    require(leaves.nonEmpty, s"$dir has no partition directories — use compactParquet")
    val parts = leaves.map(_.getFileName.toString.split("=", 2))
    val column = parts.head(0)
    require(parts.forall(p => p.length == 2 && p(0) == column && p(0).nonEmpty),
      s"$dir is not a single-column partitioned layout: " +
        leaves.map(_.getFileName).mkString(", "))
    leaves.foreach { l =>
      val nested = visibleDirs(l)
      require(nested.isEmpty,
        s"$l has subdirectories — only single-level partitioning is supported: " +
          nested.map(_.getFileName).mkString(", "))
    }

    val leases = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      leaves.foreach(l => leases += acquireLease(l, leaseStaleMs))
      sweepStaging(root)
      leaves.foreach(sweep)
      // every leaf's pre-swap manifest lands here, before any move
      val work = leaves.map(l => l -> prepareSwap(l)).filter(_._2.nonEmpty)
      if (work.isEmpty) (0, 0)
      else {
        val schema = footerSchema(spark, work.head._2.head)
        val runId = newRunId()
        withStaging(root) { out =>
          // Each leaf is planned alone and the leaves meet as RDDs: its
          // codegen'd scan then compiles once for all leaves (a DataFrame
          // union gives every child its own codegen stage id, so its own
          // compile), and a DataFrame union of coalesce(1) children (all
          // SinglePartition) would be zipped into ONE task.
          val leafRows = work.map { case (_, live) =>
            spark.read.schema(schema).parquet(live.map(_.toString): _*)
              .coalesce(fileCount(live, targetFileBytes)).rdd
          }
          spark.createDataFrame(spark.sparkContext.union(leafRows), schema)
            .write.mode("overwrite").parquet(out.toString)
          // union partitions [starts(k), starts(k + 1)) are leaf k's
          val starts = leafRows.scanLeft(0)(_ + _.getNumPartitions)
          val staged = parquetFiles(out).groupBy { f =>
            f.getFileName.toString match {
              case PartFile(task) => starts.lastIndexWhere(_ <= task.toInt)
              case n => throw new IllegalStateException(
                s"unexpected output file $n: no task index to map it to its leaf")
            }
          }
          // Spark always writes a file from task 0, so an all-empty
          // leaf 0 may get one empty file; any other empty leaf gets none
          val after = work.zipWithIndex.map { case ((leaf, live), k) =>
            commit(leaf, staged.getOrElse(k, Nil), runId, live, beforeLeafCommit)
          }
          (work.map(_._2.size).sum, after.sum)
        }
      }
    } finally {
      leases.foreach(Files.deleteIfExists)
    }
  }

  /** Spark's name for a task's output file: `part-<task index>-<job>…`. */
  private val PartFile = """part-(\d+)-.*""".r

  private def rmTree(p: Path): Unit = {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally w.close()
  }

  /** Staging dirs of the dataset at `root` orphaned by a hard crash —
    * scoped by a name hash, never another dataset's staging — plus the
    * legacy raw-name ones.
    */
  private def sweepStaging(root: Path): Unit = {
    list(root.getParent)
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(stagingPrefix(root)))
      .foreach(rmTree)
    // Crash orphans from the pre-hash '.compact-<name>-' staging scheme
    // would otherwise leak forever after the prefix upgrade. The
    // digits-only suffix createTempDirectory appends is what lets this
    // sweep match dataset 't' (".compact-t-12345") without also
    // matching sibling 't-x' (".compact-t-x-…") — the ambiguity that
    // forced the move to hashed prefixes in the first place.
    val legacy = (java.util.regex.Pattern.quote(s".compact-${root.getFileName}-") + "\\d+").r
    list(root.getParent)
      .filter(p => Files.isDirectory(p) && legacy.matches(p.getFileName.toString))
      .foreach(rmTree)
  }

  /** Recovery + retention sweep of a flat dataset, run under its lease.
    * (1) orphaned staging dirs; (2) never-committed generation files;
    * (3) vacuum of the retained previous snapshot (its grace period
    * ends here: by the next maintenance run, readers of the pre-commit
    * list have long drained) — so the run compacts one clean
    * generation.
    */
  private def sweep(root: Path): Unit = {
    sweepStaging(root)
    readManifest(root).foreach { m =>
      val committed = m.live.toSet
      parquetFiles(root)
        .filter { f =>
          val n = f.getFileName.toString
          n.startsWith(GenPrefix) && !committed(n)
        }
        .foreach(gc(root, _))
    }
    vacuum(root.toString)
    ()
  }

  /** The live set a swap will consume. Makes sure a manifest exists
    * BEFORE any swap step: every crash window after this point is then
    * recoverable by [[sweep]].
    */
  private def prepareSwap(root: Path): Seq[Path] = {
    val manifest = readManifest(root)
    val live = liveFiles(root, manifest)
    if (live.nonEmpty && manifest.isEmpty)
      writeManifest(root, Manifest(live.map(_.getFileName.toString), Nil))
    live
  }

  /** The Spark schema of the parquet file `f`, read from its footer on
    * the driver — what Spark's schema inference reads too, without the
    * job it launches. Files without Spark's schema entry (other
    * writers) fall back to that inference.
    */
  private def footerSchema(spark: SparkSession, f: Path): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HadoopPath(f.toUri), spark.sparkContext.hadoopConfiguration))
    val meta = try reader.getFooter.getFileMetaData.getKeyValueMetaData finally reader.close()
    Option(meta.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => st }
      .getOrElse(spark.read.parquet(f.toString).schema)
  }

  /** Files a flat compaction writes for `live`: one per
    * `targetFileBytes` of input, at least one.
    */
  private def fileCount(live: Seq[Path], targetFileBytes: Long): Int =
    math.max(1, math.ceil(live.map(Files.size).sum.toDouble / targetFileBytes).toInt)

  private def newRunId(): String = java.util.UUID.randomUUID().toString.take(8)

  /** Run `body` with a fresh staging output path for `root`'s run. */
  private def withStaging[T](root: Path)(body: Path => T): T = {
    val staging = Files.createTempDirectory(root.getParent, stagingPrefix(root))
    // staging is scratch in every outcome — success (files already
    // moved out) or failure (half-written output) — so reclaim it
    // unconditionally; the manifest keeps the dataset consistent.
    try body(staging.resolve("out")) finally rmTree(staging)
  }

  /** Move the generation's `staged` files into `root` and commit them
    * as the successor of `live`. Returns the generation's file count.
    */
  private def commit(root: Path, staged: Seq[Path], runId: String, live: Seq[Path],
      beforeCommit: Path => Unit = _ => ()): Int = {
    // move the new generation in under the generation prefix —
    // invisible to manifest readers until the commit …
    val genNames = staged.map { f =>
      val name = s"$GenPrefix$runId-${f.getFileName.toString}"
      Files.move(f, root.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      name
    }
    beforeCommit(root)
    // … COMMIT: one atomic rename flips readers old → new. The old
    // inputs travel as the consumed list and STAY on disk (snapshot
    // retention) — readers that resolved the pre-commit list still
    // find every file; the retained snapshot is reclaimed by the next
    // run's sweep or an explicit vacuum().
    writeManifest(root, Manifest(genNames, live.map(_.getFileName.toString)))
    genNames.size
  }

  /** Staging dirs are scoped per dataset so the crash sweep can never
    * touch a sibling dataset's in-flight compaction. The scope token
    * is a fixed-width HASH of the dataset name, not the name itself:
    * a raw name would make dataset `t`'s prefix (".compact-t-") a
    * string prefix of sibling `t-x`'s staging dirs and the startsWith
    * sweep would reclaim the sibling's in-flight work. Eight digest
    * bytes (64 bits) push sibling-collision odds below any plausible
    * dataset count per parent directory.
    */
  private[graft] def stagingPrefix(root: Path): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(root.getFileName.toString.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    s".compact-$digest-"
  }
}
