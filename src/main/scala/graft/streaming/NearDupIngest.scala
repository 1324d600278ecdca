package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.operators.Compaction

/** Streaming near-dup ingest — the composition of three shipped
  * pieces into the flow a live training-data pipeline actually runs:
  *
  *   1. [[StreamingIngest.dedupWithinWatermark]] drops exact repeats
  *      at the stream edge (bounded per-key state, watermark-evicted);
  *   2. per micro-batch, the delta-vs-corpus near-dup check of
  *      `x_dedup_incremental` runs against INCREMENTAL digest side
  *      tables (fingerprints + shingle digests maintained alongside
  *      the store) — rare-shingle candidates, exact-Jaccard verify,
  *      only the delta side probes (never corpus × corpus), and the
  *      store's TEXT is never re-scanned in steady state;
  *   3. survivors are appended to the store under the manifest
  *      protocol of [[graft.operators.Compaction]]: un-prefixed files
  *      are live immediately and fold into the next maintenance run.
  *
  * '''Index side tables.''' Steady-state per-batch cost must be
  * O(batch), independent of corpus length — re-deriving fingerprints
  * or shingle postings from the store's text every micro-batch is a
  * full-corpus scan per batch, exactly what kills the design at
  * 100 TB. So each store keeps digest side tables as siblings:
  *
  *   - `<store>.fpidx-p<h>`     — (doc_id, fp): exact-dup
  *     fingerprints, laid out in `pfx=…` partitions keyed by the
  *     first h hex chars of fp so the probe join is partition-pruned
  *     (see [[FpPfxChars]])
  *   - `<store>.shidx-k<k>`     — (doc_id, sh): md5 shingle digests
  *   - `<store>.pgidx-c<c>`     — (doc_id, pg): md5 passage digests
  *   - `<store>.dfidx-k<k>`     — (sh, df, batch_id): PARTIAL
  *     document-frequency counts, one row per (shingle, batch);
  *     a digest's corpus df is the SUM of its matching partials
  *   - `<store>.cntidx-k<c>`    — (doc_id, n): per-doc shingle count
  *   - `<store>.stats`          — (batch_id, n_in, n_admitted): the
  *     per-batch admission funnel (operational observability)
  *
  * Every join in the admission dataflow tests only digest EQUALITY
  * (df cap, candidate generation, overlap counting, passage anti-
  * join), so md5 digests are drop-in for the raw strings — smaller
  * rows, same result modulo md5 collision. The parameter (k / c) is
  * part of the directory name, so an index can never silently serve a
  * differently-configured ingest. Indexes are bootstrapped ONCE from
  * the store's text if absent (derive → write to `.tmp` → atomic
  * directory rename, so a torn bootstrap is invisible), then
  * maintained by the same idempotent single-file-per-batch append as
  * the store itself. Like the store, an index directory accretes one
  * file per batch (per touched leaf for the fp index) and is folded by
  * [[Compaction.compactParquet]] ([[Compaction.compactPartitioned]]);
  * the read path is manifest-aware (and the df partials are
  * compaction-safe by construction — compaction preserves the row
  * multiset and df is derived by summation, never by row identity).
  *
  * '''Why PARTIAL df counts, not a merged (sh, df) table.''' A merged
  * table would need read-modify-write per batch (random updates — not
  * a parquet-append shape) or a full re-aggregation per batch (the
  * O(index) cost this table exists to kill). Partials keep the write
  * path a pure idempotent append, and the READ stays delta-bounded:
  * the admission equi-joins the batch's digests against the partials
  * FIRST and sums only the matched rows, so the aggregation's input is
  * O(batch digests × matching partial rows), never O(index). The
  * `batch_id` column exists solely for replay self-exclusion — the
  * aggregated row carries no doc_id to anti-join on, so a replayed
  * batch excludes its own prior partials by id instead (bootstrap rows
  * carry batch_id = -1, never a real foreachBatch id — guarded by a
  * require in both ingest entry points). One consequence: an id
  * re-delivered under a DIFFERENT batchId (out of contract — see
  * normalizedDocs) is excluded from the fp/sh/cnt reads by doc_id but
  * its old df partials still count, so shared shingles' df can be
  * overcounted by one — fewer candidates, worst case an admitted
  * near-dup (the documented safe skew direction), never dropped novel
  * content.
  *
  * Exactly-once, by construction rather than coordination:
  *   - the corpus and indexes are resolved through the manifest
  *     protocol, so a compaction committing CONCURRENTLY with a
  *     micro-batch is invisible to it — the reader sees the pre- or
  *     post-commit snapshot, never a torn mix;
  *   - the append is IDEMPOTENT: each micro-batch lands as one file
  *     per target named by its batchId (`ingest-<id>.parquet`),
  *     committed with an atomic rename-replace. A foreachBatch replay
  *     after a crash recomputes the same survivors (the batch's own
  *     previous store AND index appends are self-excluded by doc_id)
  *     and overwrites the same files — rows can never double. The
  *     store file is renamed FIRST: if a crash lands between the two
  *     appends, the replay overwrites both; and in the no-replay
  *     worst case (stream abandoned mid-batch) the skew is the safe
  *     direction — a stored doc missing from the index can at worst
  *     let a future near-dup through (swept by the batch-mode
  *     `x_dedup_corpus` pass), never drop novel content against a
  *     phantom index entry.
  *
  * Scale shape: per batch, one rare-shingle equi-join (delta digests
  * × df-capped index digests) + the exact-verify join — the
  * x_dedup_incremental dataflow with the delta bounded by micro-batch
  * size. Steady-state per-batch cost is O(batch × doc-size) in
  * SHUFFLE and AGGREGATION terms, independent of corpus length: the
  * store's text is never read, the indexes appear only as streamed
  * probe sides of digest/doc_id equi-joins (never on an anti/semi
  * build side, never under an exchange), and every aggregation input
  * is delta- or candidate-bounded (df from partial-count sums after
  * the delta semi-join, per-doc counts from the cnt table after the
  * candidate semi-join). `NearDupIngestSpec` machine-checks all of it
  * on the admission plan (index-dirs-only scans; no full-index
  * Aggregate; no index on an anti/semi build side). The remaining
  * per-batch index cost is scan I/O — the probes stream the digest
  * files under a broadcast of the delta keys. For the FP index that
  * scan is now partition-pruned: the index is laid out by a
  * fingerprint prefix and the probe joins on (pfx, fp), so dynamic
  * partition pruning skips the leaves a batch's fingerprints cannot
  * touch (`NearDupIngestSpec` asserts the pruning subquery is
  * planned; [[FpPfxChars]] documents why the shingle/df/cnt/pg
  * probes deliberately stay flat — delta-dense probes and pinned
  * probe sides make pruning there cosmetic). The shingle-side scan
  * I/O is thus the honest per-batch floor for this layout.
  * Store growth is one file per batch per target, exactly the
  * small-file accretion [[Compaction.compactParquet]] exists to fold.
  */
object NearDupIngest {

  /** Exact-dedup fingerprint, same normalization as x_dedup_exact. */
  private def fp(text: org.apache.spark.sql.Column) =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  // ---------------------------------------------------------------
  // Index side tables
  // ---------------------------------------------------------------

  /** Hex chars of the fingerprint used as the fp index's PARTITION
    * prefix — the "next layout decade" the flat design documented:
    * the fp index is laid out `pfx=<first hex chars>/...`, the probe
    * joins on (pfx, fp), and Catalyst's dynamic partition pruning
    * (broadcast-reuse form — the probe's delta side already
    * broadcasts for the semi-join) skips every partition the batch's
    * fingerprints cannot touch. Probe I/O drops from O(index) to
    * ~`1 - (1-1/P)^B` of it for a batch of B docs over P=16^chars
    * partitions — a real decade for the trickle-batch regime the
    * streaming ingest exists for (B ≪ P), degrading gracefully to
    * the old full scan when B ≳ P. 1 hex char (16 partitions) keeps
    * local tests honest; a 100 TB deployment would use 3–4 (4k–65k
    * partitions — the value is baked into the directory name, so
    * differently-laid-out indexes can never alias).
    *
    * Only the FP index gets this treatment, deliberately:
    *   - the shingle/df probes are DELTA-DENSE (a batch of B docs
    *     probes ~B × shingles-per-doc digests — at any plausible P
    *     nearly every partition is touched, so pruning buys ~nothing
    *     while each batch would land up to P small files instead of
    *     one; [[Compaction.compactPartitioned]] folds them in one job
    *     at any P, but the files, their opens and their footers still
    *     scale with P between maintenance runs);
    *   - the passage probe's delta side is behind the production
    *     `localCheckpoint` pin, which erases the selective predicate
    *     DPP's planner precondition looks for — the pruning would
    *     exist in the plan test and silently not in production;
    *   - the cnt probe's candidate set derives from the pinned
    *     candidate frame, same story.
    * The fp probe is the one that is both sparse (ONE digest per doc)
    * and un-pinned on the delta side, so its pruning is real in the
    * production plan — and `NearDupIngestSpec` asserts the dynamic
    * pruning subquery is actually planned.
    */
  private[graft] val FpPfxChars = 1

  private def pfxOf(c: org.apache.spark.sql.Column, p: Int) = substring(c, 1, p)

  /** The width is a STORE parameter (threaded from [[ingestBatch]] /
    * [[start]], default [[FpPfxChars]]) and is baked into the index
    * directory name, so stores laid out at different widths can never
    * alias: a width change simply names a new index dir, and the next
    * batch bootstraps it from the store (the documented repair path).
    */
  private[graft] def fpIdxDir(storeDir: String, p: Int = FpPfxChars): String =
    s"$storeDir.fpidx-p$p"
  private[graft] def shIdxDir(storeDir: String, k: Int): String = s"$storeDir.shidx-k$k"
  private[graft] def pgIdxDir(storeDir: String, c: Int): String = s"$storeDir.pgidx-c$c"
  private[graft] def dfIdxDir(storeDir: String, k: Int): String = s"$storeDir.dfidx-k$k"
  private[graft] def cntIdxDir(storeDir: String, k: Int): String = s"$storeDir.cntidx-k$k"
  private[graft] def statsDir(storeDir: String): String = storeDir + ".stats"

  // pfx is the partition column of the fp index's directory layout
  private val fpSchema = StructType.fromDDL("doc_id BIGINT, fp STRING, pfx STRING")
  private val shSchema = StructType.fromDDL("doc_id BIGINT, sh STRING")
  private val pgSchema = StructType.fromDDL("doc_id BIGINT, pg STRING")
  private val dfSchema = StructType.fromDDL("sh STRING, df BIGINT, batch_id BIGINT")
  private val cntSchema = StructType.fromDDL("doc_id BIGINT, n BIGINT")

  /** Delta-side shingle digests: the same k-token shingles as the
    * batch dedup family, md5'd — every downstream operation is an
    * equality test, so the digest is a drop-in for the raw shingle.
    */
  private def shingleDigests(docs: DataFrame, k: Int): DataFrame =
    graft.llm.TextOps.shinglePostings(docs, k)
      .select(col("doc_id"), md5(col("shingle")).as("sh"))

  /** Delta-side passage digests at fixed non-overlapping windows. */
  private def passageDigests(docs: DataFrame, c: Int): DataFrame =
    graft.llm.CurationQueries.chunkDf(docs, c, overlap = 0)
      .select(col("doc_id"), md5(col("chunk_text")).as("pg"))

  /** Manifest-aware index read with an explicit schema (a bootstrapped
    * index over an all-short-docs store can be legitimately empty).
    */
  private def readIdx(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (Files.exists(Paths.get(dir, Compaction.ManifestName)))
      Compaction.readCompacted(spark, dir).select(schema.fieldNames.map(col): _*)
    else spark.read.schema(schema).parquet(dir)

  /** Manifest-aware read of a `pfx=…`-partitioned index. Each leaf is
    * an independently-compacted FLAT dataset (manifest per leaf); the
    * live files of every leaf are read together under one `basePath`
    * so the pfx partition column — and with it dynamic partition
    * pruning on the probe join — survives. Falls back to the plain
    * partitioned read when no leaf has been compacted yet.
    */
  private def readPartIdx(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val leaves = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("pfx="))
    if (leaves.exists(l => Files.exists(l.toPath.resolve(Compaction.ManifestName)))) {
      val files = leaves.toSeq.flatMap(l => Compaction.livePaths(l.getPath))
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else
        spark.read.option("basePath", dir).schema(schema).parquet(files: _*)
          .select(schema.fieldNames.map(col): _*)
    } else spark.read.schema(schema).parquet(dir)
  }

  /** One-time bootstrap: derive the index from the store's text and
    * publish it with an atomic directory rename (derive → `.tmp` →
    * move), so a crashed bootstrap leaves no half-index a later call
    * would trust. Losing a concurrent-bootstrap race discards our
    * snapshot — the winner's is equivalent. This is ALSO the
    * documented repair path: delete an index directory and the next
    * batch rebuilds it from the store.
    */
  private def ensureIdx(idxDir: String, partitionCols: Seq[String] = Nil)(
      derive: => DataFrame): Unit = {
    val target = Paths.get(idxDir)
    if (!Files.exists(target)) {
      val tmp = Paths.get(idxDir + ".tmp")
      rmTree(tmp.toFile)
      derive.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(tmp.toString)
      try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => rmTree(tmp.toFile)
      }
    }
  }

  private def storeText(spark: SparkSession, storeDir: String): DataFrame =
    Compaction.readCompacted(spark, storeDir)
      .select(col("doc_id").cast("long").as("doc_id"),
        col("text").cast("string").as("text"))

  private[graft] def ensureDocIdx(spark: SparkSession, storeDir: String, k: Int,
      fpPfx: Int = FpPfxChars): Unit = {
    ensureIdx(fpIdxDir(storeDir, fpPfx), partitionCols = Seq("pfx")) {
      storeText(spark, storeDir).select(col("doc_id"), fp(col("text")).as("fp"))
        .withColumn("pfx", pfxOf(col("fp"), fpPfx))
    }
    ensureIdx(shIdxDir(storeDir, k)) { shingleDigests(storeText(spark, storeDir), k) }
    // Count side tables bootstrap from the shingle index (a ONE-TIME
    // full-index aggregate; thereafter maintained by per-batch delta
    // appends). The shingle index is ensured above, so a repair-path
    // rebuild of any subset of index dirs converges on the same store
    // snapshot. Narrow bootstrap edge: a bootstrap racing a crash-
    // replay whose store append already landed folds that batch's
    // digests into the -1 rows, which the replay's batch_id exclusion
    // cannot remove — df can only be OVERcounted, so shingles look
    // more common, candidates shrink, and the worst case is an
    // admitted near-dup (swept by the batch-mode corpus pass), never
    // dropped novel content — the same safe-direction skew as the
    // store-before-index append ordering.
    ensureIdx(dfIdxDir(storeDir, k)) {
      readIdx(spark, shIdxDir(storeDir, k), shSchema)
        .groupBy("sh").agg(count(lit(1)).as("df")).withColumn("batch_id", lit(-1L))
    }
    ensureIdx(cntIdxDir(storeDir, k)) {
      readIdx(spark, shIdxDir(storeDir, k), shSchema)
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
    }
  }

  private[graft] def ensurePassageIdx(spark: SparkSession, storeDir: String, c: Int): Unit =
    ensureIdx(pgIdxDir(storeDir, c)) { passageDigests(storeText(spark, storeDir), c) }

  /** Batch normalization shared by both ingest forms. `doc_id` is the
    * STABLE document identity: re-delivery of an id is treated as a
    * replay of the same content (the idempotence design hinges on it —
    * the corpus read self-excludes the batch's ids), so an upstream
    * that re-sends an id with DIFFERENT text violates the contract;
    * the nearest safe behavior is keep-one-deterministically, never
    * two rows under one id. Within a batch, duplicate ids collapse to
    * the lexicographically-least text (replay-stable), which also
    * prevents the passage reassembly from interleaving two documents'
    * chunks under one id.
    */
  private def normalizedDocs(batch: DataFrame): DataFrame =
    batch.select(col("doc_id").cast("long").as("doc_id"),
        col("text").cast("string").as("text"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("doc_id").orderBy("text")))
      .where(col("__rn") === 1).drop("__rn")

  /** The full LAZY admission dataflow for the doc-level ingest —
    * exposed (package-private) so the spec can assert on its plan
    * that steady state reads ONLY the index directories, never the
    * store's text. `pin` is where the production path injects
    * localCheckpoints (identity in the plan test, so no LogicalRDD
    * truncates the visible plan).
    *
    * Steps: exact dedup within the batch (min doc_id wins — ties are
    * replay-deterministic), exact dedup vs the fingerprint index
    * (anti-join), near-dup vs the shingle-digest index (rare-digest
    * candidates + exact Jaccard ≥ `jaccardMin`). Returns survivors as
    * (doc_id, text, fp); replay self-exclusion is applied to EVERY
    * index read — by the batch's doc_ids where the index carries one
    * (fp/sh/cnt), by `batchId` for the df partials — mirroring the
    * corpus self-exclusion of the pre-index formulation.
    *
    * '''Every aggregation here is delta-bounded''' — the per-batch
    * cost is O(batch × doc-size), independent of corpus length:
    *   - a digest's combined df = its delta count + the SUM of its
    *     matching df-partials (the partials are semi-joined down to
    *     the delta's digests BEFORE the sum — the full (sh, df) table
    *     is probed, never re-aggregated);
    *   - per-doc shingle counts come from `deltaPost` for the delta
    *     side and from the cnt index — semi-joined down to candidate
    *     docs — for the corpus side;
    *   - overlap counting joins delta postings against only the
    *     CANDIDATE docs' index postings (semi-join on doc_b first).
    * The shingle index itself appears only as the probe side of
    * equi-joins keyed by digest or doc_id. `NearDupIngestSpec`
    * machine-checks this ("no full-index aggregate" plan calculus),
    * on top of the store's-text-never-scanned assertion.
    */
  private[graft] def admitDocsFlow(spark: SparkSession, batch: DataFrame,
      storeDir: String, jaccardMin: Double, shingleK: Int, maxDf: Int,
      batchId: Long, pin: DataFrame => DataFrame,
      gate: DataFrame => DataFrame = identity,
      fpPfx: Int = FpPfxChars): DataFrame = {
    val docs = gate(normalizedDocs(batch))
    val batchIds = docs.select("doc_id")
    val shIdx = readIdx(spark, shIdxDir(storeDir, shingleK), shSchema)
      .join(batchIds, Seq("doc_id"), "left_anti")

    // exact dedup, batch-internal (deterministic keeper) then vs index.
    // The index test is a PROBE, not an anti-join against the raw
    // index: a LeftAnti join can only broadcast its RIGHT side, so
    // `docs ⟕̸ fpIdx` would shuffle the ENTIRE fingerprint index every
    // micro-batch (O(index) shuffle — the join-shape twin of the
    // full-index aggregate). Instead the index is semi-joined down to
    // the batch's fingerprints first (the index STREAMS under a
    // broadcast of the delta keys — no index-side exchange), and the
    // anti-join's build side is then the delta-bounded hit set.
    // Join order matters for pruning: the semi-probe runs DIRECTLY on
    // the partitioned scan with pfx in the join key — an intervening
    // join would break the scan⟶join pattern Catalyst's partition-
    // pruning rule matches — and the replay self-exclusion by doc_id
    // follows on the delta-bounded hit rows (semi and anti are both
    // row filters on the index, so they commute).
    val keeper = Window.partitionBy("fp").orderBy("doc_id")
    val docsFp = docs.withColumn("fp", fp(col("text")))
      .withColumn("rn", row_number().over(keeper)).where(col("rn") === 1)
    val hitRows = readPartIdx(spark, fpIdxDir(storeDir, fpPfx), fpSchema)
      .join(docsFp.select(pfxOf(col("fp"), fpPfx).as("pfx"), col("fp")), Seq("pfx", "fp"), "left_semi")
    val hitFps = hitRows.join(batchIds, Seq("doc_id"), "left_anti").select("fp")
    val exactNew = pin(docsFp.join(hitFps, Seq("fp"), "left_anti")
      .select("doc_id", "text", "fp"))

    // near-dup vs index: x_dedup_incremental's shape with the batch as
    // the delta side; only the delta derives digests from text.
    val deltaPost = pin(shingleDigests(exactNew, shingleK))

    // df cap over the COMBINED digests (delta + corpus), with the
    // corpus side read from the df-partials table: probe by the
    // delta's digests first (semi-join on sh), THEN sum the matched
    // partials — identical to counting over delta ∪ index, but the
    // aggregation input is delta-bounded.
    val deltaDf = deltaPost.groupBy("sh").agg(count(lit(1)).as("ddf"))
    val dfParts = readIdx(spark, dfIdxDir(storeDir, shingleK), dfSchema)
      .where(col("batch_id") =!= lit(batchId)) // replay self-exclusion
    val corpusDf = dfParts.join(deltaDf.select("sh"), Seq("sh"), "left_semi")
      .groupBy("sh").agg(sum("df").as("cdf"))
    val rare = deltaDf.join(corpusDf, Seq("sh"), "left")
      .where(col("ddf") + coalesce(col("cdf"), lit(0L)) <= maxDf)
      .select("sh")

    val deltaIds = exactNew.select(col("doc_id").as("doc_a"))
    val deltaRare = deltaPost.join(deltaIds, col("doc_id") === col("doc_a"))
      .join(rare, "sh").select(col("doc_a"), col("sh"))
    val corpusPost = shIdx.select(col("doc_id").as("doc_b"), col("sh").as("sh_r"))
    // pinned: the candidate set feeds three branches (overlap pairs,
    // the candidate-doc semi-joins for postings and counts)
    val cand = pin(deltaRare.join(corpusPost, col("sh") === col("sh_r"))
      .select("doc_a", "doc_b").distinct())
    val candB = cand.select(col("doc_b")).distinct()

    // overlap counting probes the index for CANDIDATE docs only
    val candPost = corpusPost.join(candB, Seq("doc_b"), "left_semi")
    val overlap = cand
      .join(deltaPost.select(col("doc_id").as("pa"), col("sh").as("sha")), col("doc_a") === col("pa"))
      .join(candPost.select(col("doc_b").as("pb"), col("sh_r").as("shb")),
        col("doc_b") === col("pb") && col("sha") === col("shb"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ov"))
    val na = deltaPost.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val nb = readIdx(spark, cntIdxDir(storeDir, shingleK), cntSchema)
      .join(batchIds, Seq("doc_id"), "left_anti") // replay self-exclusion
      .join(candB.withColumnRenamed("doc_b", "doc_id"), Seq("doc_id"), "left_semi")
    val nearDup = overlap
      .join(na.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(nb.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .where(col("ov").cast("double") / (col("na") + col("nb") - col("ov")) >= jaccardMin)
      .select(col("doc_a").as("doc_id")).distinct()
    exactNew.join(nearDup, Seq("doc_id"), "left_anti")
  }

  /** Run one micro-batch of the ingest against the compacted store at
    * `storeDir` (schema: doc_id, text — must exist, seeded or prior
    * batches). Returns the number of rows appended. Appends the
    * survivors to the store AND their digests to the fingerprint /
    * shingle indexes, all under the idempotent single-file protocol.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, storeDir: String,
      batchId: Long, jaccardMin: Double = 0.8, shingleK: Int = 3,
      maxDf: Int = 8, gate: DataFrame => DataFrame = identity,
      fpPfx: Int = FpPfxChars): Long = {
    // -1 is the bootstrap sentinel in the df-partials table; a batch
    // claiming it would silently exclude the ENTIRE bootstrap from
    // the df probe (admission then over-drops) and corrupt future
    // replay exclusion with its own -1-tagged partial. foreachBatch
    // ids are always >= 0.
    require(batchId >= 0, s"batchId must be >= 0 (-1 is the bootstrap sentinel): $batchId")
    require(fpPfx >= 1 && fpPfx <= 8, s"fp prefix width must be 1..8 hex chars: $fpPfx")
    ensureDocIdx(spark, storeDir, shingleK, fpPfx)
    val survivors = admitDocsFlow(spark, batch, storeDir, jaccardMin, shingleK,
      maxDf, batchId, pin = _.localCheckpoint(false), gate = gate,
      fpPfx = fpPfx).localCheckpoint(false)
    // store first (see scaladoc: no-replay skew must fail toward a
    // future sweepable dup, never toward dropping novel content).
    // The count tables go LAST for the same reason: a crash between
    // appends can only leave df undercounted (more candidates, exact
    // verify unaffected) or a candidate doc without a cnt row (its
    // pair drops — dup admitted, swept later), never a dropped novel
    // doc.
    val n = appendIdempotent(spark, survivors.select("doc_id", "text"), storeDir, batchId)
    appendIdempotentPartitioned(spark,
      survivors.select(col("doc_id"), col("fp"), pfxOf(col("fp"), fpPfx).as("pfx")),
      fpIdxDir(storeDir, fpPfx), batchId)
    val shNew = shingleDigests(survivors, shingleK).localCheckpoint(false)
    appendIdempotent(spark, shNew, shIdxDir(storeDir, shingleK), batchId)
    appendIdempotent(spark,
      shNew.groupBy("sh").agg(count(lit(1)).as("df")).withColumn("batch_id", lit(batchId)),
      dfIdxDir(storeDir, shingleK), batchId)
    appendIdempotent(spark, shNew.groupBy("doc_id").agg(count(lit(1)).as("n")),
      cntIdxDir(storeDir, shingleK), batchId)
    appendStats(spark, storeDir, batchId, batch.count(), n)
    n
  }

  /** Per-batch admission-funnel record — the operational signal a
    * live pipeline alarms on (a source whose admission rate collapses
    * to ~0 is a re-crawl; a rate stuck at 1.0 means the dedup index
    * broke). One row per batch — (batch_id, n_in, n_admitted) —
    * written by the same idempotent rename-replace as every other
    * side table, so replays overwrite their own record rather than
    * double-count, and the `.stats` directory folds under
    * [[compactStoreAndIndexes]]. Granularity follows the ingest's
    * dedup unit: the doc ingest records RAW rows in vs docs admitted
    * (so n_in - n_admitted is everything removed, whatever the
    * reason); the passage ingest records chunks in vs novel chunks
    * (its store rows are reassembled docs, whose count says nothing
    * about recycling). Counting n_in is one extra O(batch) pass over
    * the micro-batch input — the admitted cost class.
    */
  private def appendStats(spark: SparkSession, storeDir: String, batchId: Long,
      nIn: Long, nAdmitted: Long): Unit = {
    import spark.implicits._
    appendIdempotent(spark,
      Seq((batchId, nIn, nAdmitted)).toDF("batch_id", "n_in", "n_admitted"),
      statsDir(storeDir), batchId)
    ()
  }

  /** Manifest-aware read of the admission-funnel records (empty, not
    * an error, before the first batch lands).
    */
  def ingestStats(spark: SparkSession, storeDir: String): DataFrame = {
    val schema = StructType.fromDDL("batch_id BIGINT, n_in BIGINT, n_admitted BIGINT")
    if (Files.exists(Paths.get(statsDir(storeDir)))) readIdx(spark, statsDir(storeDir), schema)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The alarm the funnel table exists to feed: per batch, the
    * admission rate plus a classified `alarm` column —
    * `low_admission` (rate ≤ `minRate`: the batch is a re-crawl or an
    * upstream replay storm), `full_admission` (rate ≥ `maxRate`: the
    * dedup index stopped rejecting anything, i.e. it broke or was
    * deleted without a rebuild), null otherwise. Batches with fewer
    * than `minIn` units are never flagged — small batches legitimately
    * swing to 0/1 — and a zero-unit batch has a null rate. Thresholds
    * are compared as cross-multiplied exact integers; `rate` is the
    * one evidence division. Pure per-row arithmetic over the
    * |batches|-row stats table — monitoring-cost, not corpus-cost.
    */
  def ingestAlarms(stats: DataFrame, minRateNum: Int = 1, minRateDen: Int = 20,
      maxRateNum: Int = 1, maxRateDen: Int = 1, minIn: Long = 100L): DataFrame = {
    require(minRateDen > 0 && maxRateDen > 0 && minIn >= 0,
      s"bad alarm thresholds: $minRateNum/$minRateDen, $maxRateNum/$maxRateDen, $minIn")
    stats.select(col("batch_id"), col("n_in"), col("n_admitted"))
      .withColumn("rate",
        col("n_admitted").cast("double") / nullif(col("n_in"), lit(0L)))
      .withColumn("alarm",
        when(col("n_in") >= minIn &&
            col("n_admitted") * minRateDen <= col("n_in") * minRateNum, "low_admission")
          .when(col("n_in") >= minIn &&
            col("n_admitted") * maxRateDen >= col("n_in") * maxRateNum, "full_admission"))
  }

  /** Directory-flavored [[ingestAlarms]] over a store's own funnel. */
  def ingestAlarms(spark: SparkSession, storeDir: String): DataFrame =
    ingestAlarms(ingestStats(spark, storeDir))

  private[graft] def alarmsDir(storeDir: String): String = storeDir + ".alarms"

  /** The scheduled consumer [[ingestAlarms]] exists to feed: a
    * Structured Streaming monitor that TAILS the funnel table (each
    * ingest batch lands as one new stats file — exactly what a file
    * source incrementalizes over), classifies each new row, and
    * appends the FLAGGED rows to the queryable `<store>.alarms` table
    * under the same idempotent single-file-per-batch protocol as
    * every other side table (so a monitor-batch replay can never
    * double an alarm row, and [[compactStoreAndIndexes]] folds the
    * accretion). `alarmLog` reads the result; an operator pages on
    * its rows, each carrying the full evidence (batch, counts, rate,
    * class).
    *
    * Scale shape: the source is the |batches|-row stats table and the
    * state is the file-source's seen-files log — monitoring-cost.
    * The stats directory must exist (seed the store with one ingest
    * batch, or create it) before the monitor starts: a file source
    * resolves its path eagerly.
    */
  def startAlarmMonitor(spark: SparkSession, storeDir: String,
      minRateNum: Int = 1, minRateDen: Int = 20,
      maxRateNum: Int = 1, maxRateDen: Int = 1,
      minIn: Long = 100L): StreamingQuery = {
    val schema = StructType.fromDDL("batch_id BIGINT, n_in BIGINT, n_admitted BIGINT")
    val stats = spark.readStream.schema(schema).parquet(statsDir(storeDir))
    ingestAlarms(stats, minRateNum, minRateDen, maxRateNum, maxRateDen, minIn)
      .where(col("alarm").isNotNull)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, monitorBatchId: Long) =>
        appendIdempotent(spark, batch, alarmsDir(storeDir), monitorBatchId)
        ()
      }
      .start()
  }

  /** The queryable alarm table the monitor maintains — empty (with
    * the right schema) when no alarm has ever fired.
    */
  def alarmLog(spark: SparkSession, storeDir: String): DataFrame = {
    val schema = StructType.fromDDL(
      "batch_id BIGINT, n_in BIGINT, n_admitted BIGINT, rate DOUBLE, alarm STRING")
    if (Files.exists(Paths.get(alarmsDir(storeDir)))) readIdx(spark, alarmsDir(storeDir), schema)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Idempotent single-file append into `dir`: the batch lands as ONE
    * file named by its batchId via atomic rename-replace, so a
    * foreachBatch replay overwrites its own previous attempt and rows
    * can never double. An all-dropped batch removes a crashed
    * attempt's file to keep replays aligned with the recomputation.
    * Shared by the store and every index side table.
    */
  private def appendIdempotent(spark: SparkSession, rows: DataFrame,
      dir: String, batchId: Long): Long = {
    val scratch = java.nio.file.Files.createTempDirectory(s"graft-ingest-$batchId-")
    try {
      rows.coalesce(1).write.mode("overwrite").parquet(s"$scratch/out")
      val part = Option(new java.io.File(s"$scratch/out").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val target = java.nio.file.Paths.get(dir, s"ingest-$batchId.parquet")
      // the stats table has no bootstrap (its first row IS the first
      // batch), so the append creates its directory itself
      java.nio.file.Files.createDirectories(target.getParent)
      part match {
        case Some(p) =>
          java.nio.file.Files.move(p.toPath, target,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          // the footer's row count is exact and costs no Spark job
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(target.toUri), spark.sparkContext.hadoopConfiguration)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try reader.getRecordCount finally reader.close()
        case None =>
          java.nio.file.Files.deleteIfExists(target)
          0L
      }
    } finally rmTree(scratch.toFile)
  }

  /** The partitioned-layout form of [[appendIdempotent]]: the batch
    * lands as ONE file per TOUCHED `pfx=…` leaf (each via the same
    * atomic rename-replace), and leaves this batch touched on a PRIOR
    * attempt but not this one have their `ingest-<id>` file removed —
    * so a replay converges on exactly this attempt's rows, just like
    * the flat form. The per-leaf moves are not jointly atomic; a crash
    * mid-append leaves a PARTIAL index append, which is the documented
    * safe direction (an admitted doc missing from the fp index can at
    * worst let a future exact dup through — swept by the batch-mode
    * corpus pass — never drop novel content), and the torn window is
    * invisible to a same-batch replay because every index read
    * self-excludes the batch's own doc_ids.
    */
  private def appendIdempotentPartitioned(spark: SparkSession, rows: DataFrame,
      dir: String, batchId: Long): Unit = {
    val scratch = java.nio.file.Files.createTempDirectory(s"graft-ingest-$batchId-")
    try {
      rows.coalesce(1).write.partitionBy("pfx").mode("overwrite")
        .parquet(s"$scratch/out")
      val leaves = Option(new java.io.File(s"$scratch/out").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("pfx="))
      val touched = leaves.flatMap { leaf =>
        Option(leaf.listFiles()).getOrElse(Array.empty[java.io.File])
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .map { p =>
            val target = Paths.get(dir, leaf.getName, s"ingest-$batchId.parquet")
            Files.createDirectories(target.getParent)
            Files.move(p.toPath, target, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
            leaf.getName
          }
      }.toSet
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("pfx=") && !touched(f.getName))
        .foreach { leaf =>
          Files.deleteIfExists(Paths.get(leaf.getPath, s"ingest-$batchId.parquet"))
        }
    } finally rmTree(scratch.toFile)
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Single maintenance entry point: fold the store AND every sibling
    * index side table it has accreted (each gains one file per batch).
    * Discovery is by the directory-name contract (`<store>.fpidx-p*`,
    * `.shidx-k*`, `.pgidx-c*`, `.dfidx-k*`, `.cntidx-k*`), so a
    * maintenance job needs no knowledge of which k/c configs ran.
    * The directories are folded concurrently, one thread each.
    * Safe concurrently with the stream: each directory's (each fp
    * leaf's) commit is independently atomic under the manifest+lease
    * protocol, the admission reads each dir through [[readIdx]] /
    * [[readPartIdx]] (manifest-aware), and the df partials are
    * aggregation-derived (sum), so folding their files never changes
    * a probe result — `NearDupIngestSpec` pins admission exactness
    * across it.
    */
  def compactStoreAndIndexes(spark: SparkSession, storeDir: String): Unit = {
    val store = Paths.get(storeDir)
    val name = store.getFileName.toString
    // Exact suffix grammar, not a bare startsWith: a crashed
    // bootstrap's `<idx>.tmp` staging dir (with Spark's _temporary
    // inside) would otherwise match its index's prefix and abort the
    // whole sweep when compactParquet rejects the subdirectory — and
    // an unluckily-named sibling store (`t.fpidxfoo`) must never be
    // swept by `t`'s maintenance.
    val exact = Set(name + ".stats", name + ".alarms")
    val parameterized =
      Seq(".fpidx-p", ".shidx-k", ".pgidx-c", ".dfidx-k", ".cntidx-k").map(name + _)
    def ours(n: String): Boolean =
      exact(n) || parameterized.exists(p =>
        n.length > p.length && n.startsWith(p) && n.drop(p.length).forall(_.isDigit))
    val siblings = Option(store.getParent).map { parent =>
      Option(parent.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && ours(f.getName))
        .map(_.getAbsolutePath).toSeq.sorted
    }.getOrElse(Seq.empty)
    // a pfx-partitioned index folds all its `pfx=…` leaves in one job,
    // each leaf committing under its own manifest (flat-compacting the
    // root would collapse the partition column into the data files;
    // Compaction rejects it)
    def compact(dir: String): Unit = {
      val partitioned = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .exists(f => f.isDirectory && f.getName.startsWith("pfx="))
      if (partitioned) Compaction.compactPartitioned(spark, dir)
      else Compaction.compactParquet(spark, dir)
      ()
    }
    // The datasets are independent — each has its own lease, manifest
    // and hash-scoped staging — and each fold is one small job whose
    // cost is mostly driver-side planning and commit, so they run
    // concurrently. Every fold finishes or fails on its own; the first
    // failure is rethrown once all have ended.
    val datasets = storeDir +: siblings
    val pool = java.util.concurrent.Executors.newFixedThreadPool(datasets.size)
    try {
      datasets.map(d => pool.submit[Unit](() => compact(d)))
        .map(f => scala.util.Try(f.get()))
        .collectFirst { case scala.util.Failure(e) => throw Option(e.getCause).getOrElse(e) }
      ()
    } finally {
      pool.shutdown()
    }
  }

  // ---------------------------------------------------------------
  // Batch-mode corpus sweep — the maintenance pass every documented
  // safe-direction skew points at ("dup admitted, swept later").
  // ---------------------------------------------------------------

  /** One-scan digest derivation for [[storeSweep]]: `(doc_id, fp, sid)`
    * rows — the exact-dedup fingerprint carried THROUGH the shingle
    * explode, so both digest families come out of a single pass over
    * the store's text. Docs shorter than `k` tokens keep one
    * null-`sid` row (they participate in exact dedup, and are out of
    * near-dup candidate scope exactly like the batch family). Exposed
    * separately so the spec can assert the plan scans the store
    * exactly once.
    */
  private[graft] def sweepDigests(spark: SparkSession, storeDir: String,
      k: Int): DataFrame = {
    val toks = storeText(spark, storeDir).select(col("doc_id"),
      fp(col("text")).as("fp"),
      posexplode_outer(graft.llm.TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val parts = col("tok") +: (1 until k).map(o => lead("tok", o).over(w))
    toks.select(col("doc_id"), col("fp"),
        when(lead("tok", k - 1).over(w).isNotNull,
          md5(concat_ws(" ", parts: _*))).as("sid"))
      .distinct()
  }

  /** Audit sweep over the store itself — the batch-tier x_dedup_corpus
    * decision run on the streaming store's compacted output, trusting
    * NO index (a torn crash window means the indexes may be missing
    * exactly the rows the sweep must find; the store text is the one
    * source of truth). Reports every doc the batch dedup family would
    * drop, with its reason:
    *   - `exact_dup`: same normalized fingerprint as a lower-id doc;
    *   - `near_dup`: verified rare-shingle Jaccard ≥ 0.8 against a
    *     lower-id doc (the family's 5·overlap ≥ 4·union integer test,
    *     df ≤ 8 candidates).
    * On a store built by a clean (no-crash) ingest run the sweep
    * returns EMPTY — admission already made these decisions per batch;
    * anything it finds is a documented safe-skew admission.
    *
    * Scale shape: the sweep is the O(corpus) maintenance job, so one
    * full text pass is its honest floor — and it takes exactly one:
    * the digest frame is pinned (narrow (doc_id, fp, sid) rows) and
    * every branch downstream is the digest-keyed x_dedup_corpus
    * dataflow (fp window for exact; rare-candidate equi-join + exact
    * verify for near). `NearDupIngestSpec` machine-asserts both halves
    * (one store scan in the digest plan; zero in the sweep plan).
    */
  def storeSweep(spark: SparkSession, storeDir: String,
      shingleK: Int = 3): DataFrame = {
    val dg = sweepDigests(spark, storeDir, shingleK).localCheckpoint(false)
    val fpTab = dg.groupBy("doc_id").agg(first("fp").as("fp"))
    val exact = fpTab
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("fp")))
      .where(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), lit("exact_dup").as("reason"))
    val posts = dg.where(col("sid").isNotNull).select("doc_id", "sid")
    val near = graft.llm.DedupQueries.jaccardVerified(
        graft.llm.DedupQueries.pairOverlaps(posts,
          graft.llm.DedupQueries.rareShingleCandidates(posts)))
      .select(col("doc_b").as("doc_id"), lit("near_dup").as("reason"))
      .distinct()
    exact.unionByName(near)
  }

  /** [[storeSweep]]'s passage-granular sibling for stores built by
    * [[startPassage]]: re-chunk the store's text at the ingest's
    * window width and report every chunk occurrence that is not the
    * corpus-wide FIRST holder of its digest (first = min (doc_id,
    * chunk_id), the admission's own keep-first rule). A clean passage
    * ingest admits each passage exactly once — rebuilding documents
    * from surviving full-width chunks re-chunks to exactly the
    * admitted set — so anything the sweep finds is a crash-window
    * admission (store append landed, passage-index append lost, a
    * later batch re-admitted the passage under another doc).
    *
    * One text scan, then a digest-keyed window over the chunk rows —
    * the same O(corpus) maintenance floor as the doc-level sweep.
    */
  def passageSweep(spark: SparkSession, storeDir: String,
      chunkTokens: Int = 16): DataFrame = {
    val ch = graft.llm.CurationQueries
      .chunkDf(storeText(spark, storeDir), chunkTokens, overlap = 0)
      .select(col("doc_id"), col("chunk_id"), md5(col("chunk_text")).as("pg"))
    ch.withColumn("rn", row_number().over(
        Window.partitionBy("pg").orderBy("doc_id", "chunk_id")))
      .where(col("rn") > 1)
      .select(col("doc_id"), col("chunk_id"), col("pg"),
        lit("dup_passage").as("reason"))
  }

  /** The lazy passage-admission dataflow (see [[admitDocsFlow]] for
    * the pin/plan-test contract): batch chunks at fixed windows,
    * keep-first within the batch by (doc_id, chunk_id) over the
    * passage digest, then the anti-join against the passage-digest
    * index. Returns surviving novel chunks
    * (doc_id, chunk_id, chunk_text, pg).
    */
  private[graft] def admitPassagesFlow(spark: SparkSession, batch: DataFrame,
      storeDir: String, chunkTokens: Int,
      pin: DataFrame => DataFrame = identity): DataFrame = {
    val docs = normalizedDocs(batch)
    val batchIds = docs.select("doc_id")
    val pgIdx = readIdx(spark, pgIdxDir(storeDir, chunkTokens), pgSchema)
      .join(batchIds, Seq("doc_id"), "left_anti")
    val ch = graft.llm.CurationQueries.chunkDf(docs, chunkTokens, overlap = 0)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
      .withColumn("pg", md5(col("chunk_text")))
    // pinned: the kept set feeds both the probe keys and the anti-join
    val keptInBatch = pin(ch.withColumn("rn", row_number().over(
        Window.partitionBy("pg").orderBy("doc_id", "chunk_id")))
      .where(col("rn") === 1))
    // PROBE the passage index by the batch's digests (semi-join — the
    // index streams under a broadcast of the delta keys, never
    // shuffles), then anti-join against the delta-bounded hit set; an
    // anti-join straight against the raw index would shuffle the
    // whole index per batch (LeftAnti can only broadcast its right
    // side). No distinct anywhere: anti-join semantics ignore
    // right-side duplicates, and a distinct would be a full-index
    // aggregate — O(index), the cost class the side tables exist to
    // avoid.
    val hitPgs = pgIdx.select("pg").join(keptInBatch.select("pg"), Seq("pg"), "left_semi")
    keptInBatch.join(hitPgs, Seq("pg"), "left_anti")
      .select("doc_id", "chunk_id", "chunk_text", "pg")
  }

  /** PASSAGE-granular dedup-at-ingest — the streaming form of
    * x_passage_dedup: each micro-batch's documents are chunked into
    * fixed non-overlapping token windows, passages already present in
    * the passage-digest index (or claimed by an earlier doc of the
    * same batch — keep-first by (doc_id, chunk_id)) are dropped, and
    * each surviving document is REBUILT from its novel passages before
    * the idempotent append. A document whose every passage is recycled
    * contributes nothing and is not stored (unlike the batch query,
    * which keeps an empty audit row — ingest stores text, not audits).
    *
    * The store's passage set is EXACTLY the set of chunks ever
    * admitted (every admitted chunk is full-width except possibly a
    * doc's original last chunk, so re-chunking a rebuilt text yields
    * its surviving chunks back) — which is what makes the digest
    * index's incremental maintenance exact, not an approximation.
    *
    * Replay-idempotent like ingestBatch: both the index read and the
    * appends self-exclude/overwrite by the batch's own ids.
    */
  def ingestPassageBatch(spark: SparkSession, batch: DataFrame, storeDir: String,
      batchId: Long, chunkTokens: Int = 16): Long = {
    require(batchId >= 0, s"batchId must be >= 0 (-1 is the bootstrap sentinel): $batchId")
    ensurePassageIdx(spark, storeDir, chunkTokens)
    val novel = admitPassagesFlow(spark, batch, storeDir, chunkTokens,
        pin = _.localCheckpoint(false))
      .localCheckpoint(false)
    val rebuilt = novel.groupBy("doc_id").agg(
      array_join(transform(array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
        s => s.getField("chunk_text")), " ").as("text"))
    val n = appendIdempotent(spark, rebuilt.select("doc_id", "text"), storeDir, batchId)
    appendIdempotent(spark, novel.select("doc_id", "pg"),
      pgIdxDir(storeDir, chunkTokens), batchId)
    // funnel at CHUNK granularity: the passage ingest reassembles one
    // store row per doc with any novel chunk, so a doc-level rate
    // would read 1.0 on a heavily-recycled batch and the stats table's
    // broken-index alarm could never fire; chunks-in vs novel-chunks
    // is the rate that means something here (one extra O(batch)
    // chunking pass — the admitted cost class)
    val nInChunks = graft.llm.CurationQueries
      .chunkDf(normalizedDocs(batch), chunkTokens, overlap = 0).count()
    appendStats(spark, storeDir, batchId, nInChunks, novel.count())
    n
  }

  /** Shared flow skeleton over a streaming (doc_id, ts, text) frame:
    * watermark-bounded exact dedup at the stream edge, then the
    * supplied per-batch ingest — ONE builder, so a sink-protocol
    * change (checkpointing, edge-dedup tuning) cannot drift between
    * the two ingest forms.
    */
  private def startWith(docs: DataFrame, dupWindow: String)(
      perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    StreamingIngest.dedupWithinWatermark(
        docs.withColumn("fp", fp(col("text"))), Seq("fp"), "ts", dupWindow)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        perBatch(batch.drop("fp"), batchId)
      }
      .start()

  /** The passage-dedup ingest as a continuous flow: stream-edge exact
    * dedup, then the per-batch passage cut into `storeDir`.
    */
  def startPassage(spark: SparkSession, docs: DataFrame, storeDir: String,
      dupWindow: String = "1 hour", chunkTokens: Int = 16): StreamingQuery =
    startWith(docs, dupWindow) { (batch, batchId) =>
      ingestPassageBatch(spark, batch, storeDir, batchId, chunkTokens)
      ()
    }

  /** Start the composed flow: watermark-bounded exact dedup at the
    * edge, then the per-batch near-dup ingest into `storeDir`.
    *
    * `gate` is the admission quality gate — a filter over the
    * normalized (doc_id, text) batch that runs BEFORE any index work,
    * so rejected docs never touch the fingerprint/shingle indexes and
    * cost nothing at the store. The intended plug-in is the batch
    * tier's own rule filter (e.g. [[graft.llm.CurationQueries
    * .gopherFilterDf]] kept=1 — the x_pipeline_gopher gate applied at
    * the stream edge); the default admits everything. Gate-rejected
    * rows fold into the `.stats` funnel's n_in − n_admitted like any
    * other removal, so [[ingestAlarms]] sees quality collapses too.
    */
  def start(spark: SparkSession, docs: DataFrame, storeDir: String,
      dupWindow: String = "1 hour", jaccardMin: Double = 0.8,
      gate: DataFrame => DataFrame = identity,
      fpPfx: Int = FpPfxChars): StreamingQuery =
    startWith(docs, dupWindow) { (batch, batchId) =>
      ingestBatch(spark, batch, storeDir, batchId, jaccardMin, gate = gate,
        fpPfx = fpPfx)
      ()
    }
}
