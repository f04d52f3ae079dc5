package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The base+delta parquet store protocol, parameterized by row schema,
  * whether compaction dedupes, the hash-layout columns, the commit
  * rule and the compacted file count. Each store below is one
  * configuration of it; all state lives under the caller's `dir`.
  *
  * Layout: `dir/base/` (last compacted generation) +
  * `dir/delta/<batchId>/` (one per append since). Readers union base
  * with every COMMITTED delta — `_SUCCESS` present, or visible data
  * files (the marksuccessfuljobs=false fallback). The filtering is
  * ours: Spark's committer writes the marker but does not filter on
  * read. The fallback means a marker-less delta with SOME data files
  * serves as committed: for a membership store (FingerprintStore) a
  * partial delta only under-suppresses, but for a store whose rows
  * are fractions of a document (postings) it would serve a SUBSET of a
  * doc's term rows — wrong df/scores until the batch replays. Stores
  * with that exposure pass `strictCommit = true`: only `_SUCCESS`-marked
  * deltas serve (or compact), so a v2-committer crash mid-append leaves
  * the delta invisible until its deterministic batch id overwrites it.
  * Strict mode requires the writer config to keep marker files on (the
  * default); with marksuccessfuljobs=false a strict store would serve
  * base only.
  *
  * Compaction is SINGLE WRITER and never holds the only copy in a
  * deletable state: it builds the new generation at `base.tmp`,
  * retires the old one to `base.old`, renames tmp→base, and only then
  * deletes `base.old` and exactly the delta FILES snapshotted up front
  * (late-landing files of an in-flight delta survive as its
  * remainder). A crash at ANY step leaves either `base` or `base.old`
  * present, and readers fall back to `base.old` when `base` is missing
  * — so the visible store is always a superset of the truth, which is
  * safe for dedup (a store may re-drop a dup, never re-admit one). The
  * compaction repartition keeps each of the `compactFiles` output
  * files a disjoint hash range of `layoutCols`, so the store's join
  * side stays uniformly spread at 100 TB.
  */
abstract class DeltaStore(
    schema: StructType,
    dedupe: Boolean,
    layoutCols: Seq[String],
    strictCommit: Boolean,
    compactFiles: Int) {

  private val colNames = schema.fieldNames.toSeq

  private def selectCols(df: DataFrame): DataFrame =
    df.select(colNames.map(col): _*)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Append one run's rows as a delta. `batchId` must be the caller's
    * deterministic run identifier (ingestion date, batch seq — never a
    * wall-clock read) so reruns overwrite their own delta instead of
    * duplicating it. */
  def appendDelta(rows: DataFrame, dir: String, batchId: String): Unit = {
    val out = selectCols(rows)
    (if (dedupe) out.distinct() else out)
      .write.mode("overwrite").parquet(s"$dir/delta/$batchId")
  }

  private def dataFiles(f: FileSystem, p: Path): Seq[Path] =
    f.listStatus(p).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath)

  private def committedDeltas(f: FileSystem, dir: String): Seq[Path] = {
    val deltaDir = new Path(s"$dir/delta")
    if (!f.exists(deltaDir)) Nil
    else f.listStatus(deltaDir).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        f.exists(new Path(p, "_SUCCESS")) ||
          (!strictCommit && dataFiles(f, p).nonEmpty)
      }
  }

  /** Name of the fold-point marker inside a base generation: the
    * lexicographically greatest batch id compaction has folded in.
    * Underscore-prefixed, so both Spark's parquet reader and the
    * strict-commit data-file listing ignore it. */
  private val FoldMarker = "_folded_max"

  private def readFoldPoint(f: FileSystem, baseDir: Path): Option[String] = {
    val p = new Path(baseDir, FoldMarker)
    if (!f.exists(p)) None
    else {
      val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      val in = f.open(p)
      try in.readFully(bytes) finally in.close()
      Some(new String(bytes, "UTF-8").trim)
    }
  }

  private def writeFoldPoint(f: FileSystem, baseDir: Path,
      batchId: String): Unit = {
    val out = f.create(new Path(baseDir, FoldMarker), true)
    try out.write(batchId.getBytes("UTF-8")) finally out.close()
  }

  /** The base generation, or its mid-crash `base.old` predecessor. */
  private def baseDir(f: FileSystem, dir: String): Option[Path] =
    Seq(new Path(s"$dir/base"), new Path(s"$dir/base.old")).find(f.exists)

  private def unionOf(spark: SparkSession, parts: Seq[Path]): DataFrame =
    if (parts.isEmpty) empty(spark)
    else parts.map(p => selectCols(spark.read.parquet(p.toString)))
      .reduce(_ unionByName _)

  /** The store AS OF `upToBatch`: base ∪ committed deltas whose batch
    * id is lexicographically ≤ `upToBatch` — time travel at delta
    * granularity (callers must use ordered batch ids: zero-padded or
    * fixed-prefix, as the ingestion protocols here already do).
    * Compaction collapses history: it records its fold point (the
    * greatest batch id folded into base) and an as-of read BEFORE
    * that point fails loudly rather than silently serving the folded
    * base — the snapshot simply no longer exists. As-of reads at or
    * after the fold point remain exact. */
  def loadAsOf(spark: SparkSession, dir: String,
      upToBatch: String): DataFrame = {
    val f = fs(spark, dir)
    val base = baseDir(f, dir)
    base.flatMap(readFoldPoint(f, _)).foreach { fold =>
      require(fold <= upToBatch,
        s"as-of $upToBatch predates the compaction fold point $fold: " +
          "that snapshot was collapsed into the base generation")
    }
    unionOf(spark, base.toSeq ++
      committedDeltas(f, dir).filter(_.getName <= upToBatch))
  }

  /** Base generation ∪ all committed deltas (no distinct: duplicates
    * between base and deltas are harmless to membership reads, and
    * compaction restores it for the dedupe stores). `excludeDelta`
    * leaves the caller's own delta out — the replay-safety hook: a
    * re-run of batch N must read everything EXCEPT its own crashed
    * prior write, or it suppresses (or rejects) its own rows and then
    * overwrites its delta with the empty result. */
  def load(spark: SparkSession, dir: String,
      excludeDelta: Option[String] = None): DataFrame = {
    val f = fs(spark, dir)
    unionOf(spark, baseDir(f, dir).toSeq ++
      committedDeltas(f, dir).filterNot(p => excludeDelta.contains(p.getName)))
  }

  /** Fold base + committed deltas into a fresh base generation of
    * `numFiles` hash-disjoint files, then drop what was folded.
    * Returns the number of deltas folded. Protocol as documented on
    * the class. */
  def compact(spark: SparkSession, dir: String,
      numFiles: Int = compactFiles): Int = {
    val f = fs(spark, dir)
    val folded = committedDeltas(f, dir)
    val foldedFiles: Seq[(Path, Seq[Path])] =
      folded.map(p => p -> dataFiles(f, p))
    val tmp = new Path(s"$dir/base.tmp")
    val base = new Path(s"$dir/base")
    val old = new Path(s"$dir/base.old")
    // leftovers from crashed runs: tmp is never read, and old is only
    // meaningful while base is absent
    if (f.exists(tmp)) f.delete(tmp, true)
    if (f.exists(old) && f.exists(base)) f.delete(old, true)
    val baseSide = baseDir(f, dir).toSeq
    val deltaFileStrs = foldedFiles.flatMap(_._2).map(_.toString)
    val parts = baseSide.map(p => selectCols(spark.read.parquet(p.toString))) ++
      (if (deltaFileStrs.nonEmpty)
        Seq(selectCols(spark.read.parquet(deltaFileStrs: _*))) else Nil)
    val unioned =
      if (parts.isEmpty) empty(spark)
      else parts.reduce(_ unionByName _)
    (if (dedupe) unioned.distinct() else unioned)
      .repartition(numFiles, layoutCols.map(col): _*)
      .write.mode("overwrite").parquet(tmp.toString)
    // fold-point marker: the greatest batch id this base subsumes —
    // carried forward from the previous generation, advanced by what
    // this compaction folds. Written INSIDE tmp so the base rename
    // publishes data and marker atomically.
    val prevFold = baseSide.headOption.flatMap(readFoldPoint(f, _))
    val newFold = (prevFold.toSeq ++ folded.map(_.getName)) match {
      case Nil => None
      case ids => Some(ids.max)
    }
    newFold.foreach(writeFoldPoint(f, tmp, _))
    if (f.exists(base) && !f.rename(base, old))
      sys.error(s"compaction retire failed: $base -> $old")
    if (!f.rename(tmp, base))
      sys.error(s"compaction rename failed: $tmp -> $base")
    if (f.exists(old)) f.delete(old, true)
    foldedFiles.foreach { case (deltaDir, files) =>
      files.foreach(p => f.delete(p, false))
      if (dataFiles(f, deltaDir).isEmpty) f.delete(deltaDir, true)
    }
    folded.size
  }

  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
}

/** Fingerprint store for run-over-run incremental dedup (q74's
  * production shape; see `Dedup.incrementalDedup`): each ingestion run
  * anti-joins its batch against the store and appends the batch's
  * fingerprints as a delta. Dedup only needs set membership, so
  * duplicates BETWEEN base and deltas are harmless between
  * compactions; compaction restores distinctness. Lenient commit: a
  * partial delta only under-suppresses. */
object FingerprintStore extends DeltaStore(
  StructType(Seq(StructField("fp", StringType))),
  dedupe = true, layoutCols = Seq("fp"), strictCommit = false,
  compactFiles = 32)

/** Inverted index for run-over-run corpus ingestion: each run appends
  * `Retrieval.postings` of ONLY its new docs; compaction folds into a
  * term-hash layout so the probe-side join reads uniformly-spread
  * files. Row shape (doc_id, term, tf, dl) — dl is computed WITHIN the
  * batch that owns the doc (docs must not span batches), so no
  * cross-generation arithmetic is ever needed and compaction needs no
  * dedupe. BM25 stats (`Retrieval.storeStats`) re-derive from the
  * loaded union, so the incremental path is score-identical to a
  * monolithic rebuild (q157's oracle equality).
  *
  * `strictCommit`: a doc's term rows live in ONE delta, so a partial
  * delta would hold a SUBSET of the doc's rows — wrong df and scores
  * until the batch replays. The FingerprintStore "under-suppression
  * only" argument does not transfer here. */
object PostingsStore extends DeltaStore(
  StructType(Seq(
    StructField("doc_id", LongType),
    StructField("term", StringType),
    StructField("tf", LongType),
    StructField("dl", LongType))),
  dedupe = false, layoutCols = Seq("term"), strictCommit = true,
  compactFiles = 32)

/** Positional inverted index — (doc_id, term, pos) occurrence rows
  * (`Retrieval.posPostings` of each batch's new docs). Positions are
  * doc-relative, so rows never need cross-batch arithmetic and
  * compaction needs no dedupe; phrase/proximity serving over base ∪
  * live deltas is row-identical to a monolithic rebuild (q166).
  * `strictCommit` for PostingsStore's reason: a partial delta would
  * serve a subset of a doc's occurrences — wrong phrase answers. */
object PosPostingsStore extends DeltaStore(
  StructType(Seq(
    StructField("doc_id", LongType),
    StructField("term", StringType),
    StructField("pos", LongType))),
  dedupe = false, layoutCols = Seq("term"), strictCommit = true,
  compactFiles = 32)

/** The (id, hash) perceptual-fingerprint layout shared by the image
  * and audio stores: 16-byte rows, light enough for the delta-granular
  * protocol (MinHashStore's generation rewrite exists because
  * signature rows are heavy). Each run checks its batch against the
  * store (`Dedup.incrementalHammingPairs`, hash-agnostic) and appends
  * the ADMITTED hashes as its delta. One entity per row, so a partial
  * delta only under-admits and commit stays lenient. */
sealed abstract class HashStore extends DeltaStore(
  StructType(Seq(
    StructField("id", LongType),
    StructField("hash", LongType))),
  dedupe = true, layoutCols = Seq("id"), strictCommit = false,
  compactFiles = 8)

/** Image dHash store. */
object DHashStore extends HashStore

/** Audio band-fingerprint store. */
object AudioHashStore extends HashStore

/** Video frame-hash posting store: an entity is a SET of frame hashes,
  * stored as (id, fhash) rows and checked via
  * `Dedup.incrementalFrameSetPairs`. `strictCommit` because an entity
  * spans MULTIPLE rows: a half-visible delta would serve a truncated
  * frame set, which skews every Jaccard computed against it — a true
  * near-dup could score under threshold and be wrongly admitted for
  * good. (DHashStore can stay lenient: its entities are single rows.) */
object FrameHashStore extends DeltaStore(
  StructType(Seq(
    StructField("id", LongType),
    StructField("fhash", LongType))),
  dedupe = true, layoutCols = Seq("id"), strictCommit = true,
  compactFiles = 8)

/** Dimension CHANGE FEED backing streaming SCD2
  * ([[graft.streaming.Scd2Ingest]]): append-only (k, attr, ts_us, seq)
  * change rows. The store is the feed, not the dimension: intervals
  * are DERIVED at serve time by [[graft.operators.Scd2.history]] over
  * `load` (a materialized interval table would need its open rows
  * rewritten per batch; the feed is immutable). `strictCommit`: a
  * partially visible delta would serve a SUBSET of a batch's changes
  * and close intervals at wrong instants. */
object ChangeFeedStore extends DeltaStore(
  StructType(Seq(
    StructField("k", LongType),
    StructField("attr", StringType),
    StructField("ts_us", LongType),
    StructField("seq", LongType))),
  dedupe = false, layoutCols = Seq("k"), strictCommit = true,
  compactFiles = 8)

/** PCA moment cells ([[graft.operators.Pca.momentCells]] of each
  * batch only). Serving re-merges the cells (SUM for s2/s1/n, MAX for
  * qmax — associative and exact), so the served component is BIT-EQUAL
  * to a monolithic rebuild; cells are kept as rows, so compaction
  * needs no dedupe. `strictCommit`: a batch's cells are one consistent
  * summary — a partial delta (s2 cells without the matching n) would
  * skew the merged scatter. */
object MomentStore extends DeltaStore(
  StructType(Seq(
    StructField("kind", StringType),
    StructField("i", IntegerType),
    StructField("j", IntegerType),
    StructField("v", DecimalType(38, 0)))),
  dedupe = false, layoutCols = Seq("kind", "i", "j"), strictCommit = true,
  compactFiles = 4)

/** Data-quality metric log backing [[graft.streaming.QualityMonitor]]:
  * suite-sized (batch_seq, check_id, metric_milli, passed) rows per
  * batch. `strictCommit` because a half-visible batch of metrics would
  * read as a suite that silently skipped checks. */
object MetricLogStore extends DeltaStore(
  StructType(Seq(
    StructField("batch_seq", LongType),
    StructField("check_id", StringType),
    StructField("metric_milli", LongType),
    StructField("passed", BooleanType))),
  dedupe = false, layoutCols = Seq("check_id"), strictCommit = true,
  compactFiles = 4)

/** Count-min cells backing [[graft.streaming.SketchIngest]]: (hrow,
  * bucket, cnt). Readers SUM cells, so compaction only folds files and
  * the store collapses to depth × width rows. `strictCommit`: a
  * half-visible delta would under-count a batch's keys and break the
  * estimator's never-undercount guarantee. */
object SketchStore extends DeltaStore(
  StructType(Seq(
    StructField("hrow", IntegerType),
    StructField("bucket", LongType),
    StructField("cnt", LongType))),
  dedupe = false, layoutCols = Seq("hrow", "bucket"), strictCommit = true,
  compactFiles = 2)
