package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.LocalFiles
import graft.catalog.TableManifest
import graft.query.{Bm25IndexTables, Tombstones}

/** Incremental index mutation — the Spark re-expression of the reference's
  * IndexUpdater.add/remove/persist_to_disk (colbert/index_updater.py:28-250):
  * instead of splicing strided tensors in place, additions land as
  * self-contained SEGMENTS (mini 4-stage indexes under updates/seg-N) and
  * removals as TOMBSTONE parquet sets; a merged reader unions base +
  * segments and anti-joins tombstones. Compaction folds everything back
  * into a fresh base build.
  *
  * Correctness under mutation:
  * - exact search paths read corpus/term stats RECOMPUTED at open time
  *   over the merged live postings, so BM25 scores equal those of a fresh
  *   index over the same live docs (tested in IndexUpdaterSpec);
  * - the WAND path's stored block maxima were computed with each
  *   segment's build-time avgdl; openMerged sets wandBoundScale =
  *   max(1, avgdl_now / min build avgdl) which keeps pruning admissible
  *   (see Bm25IndexTables.wandBoundScale).
  *
  * Scale notes: adding a batch = indexing only that batch (no base
  * rewrite); removing = writing a doc_id list. Query-time overhead grows
  * with segment count (union of scans) — compaction amortizes it, exactly
  * like the reference's persist_to_disk rewrite.
  */
object IndexUpdater {

  private def updatesDir(indexDir: String) = s"$indexDir/updates"
  private def tombDir(indexDir: String) = s"${updatesDir(indexDir)}/tombstones"

  def segmentDirs(indexDir: String): Seq[String] = {
    val u = Paths.get(updatesDir(indexDir))
    if (!Files.isDirectory(u)) Seq.empty
    else {
      val it = Files.list(u).iterator()
      val b = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.startsWith("seg-")) b += p.toString
      }
      b.toSeq.sorted
    }
  }

  /** Segments whose 4-stage build COMMITTED (every stage manifest
    * present) — the only segments readers may consume. A crashed add()/
    * ingest leaves a partial seg-* dir behind; reading its uncommitted
    * stages would throw (missing manifest / missing parquet) or, worse,
    * serve a half-built table. Partial dirs still count for seg-id
    * allocation (segmentDirs), so a retry never collides with one. */
  def committedSegmentDirs(indexDir: String): Seq[String] =
    segmentDirs(indexDir).filter(d =>
      IndexBuilder.Stages.forall(s => TableManifest.exists(IndexBuilder.stageDir(d, s))))

  /** Max assigned doc_id across base + every segment whose DOCS stage
    * committed — including partially-built segments. Id allocation must
    * see those: a crashed add()/ingest can leave a segment whose docs
    * stage (and its id range) IS committed, and a streaming replay later
    * completes that segment in place (manifest resume skips the committed
    * docs stage, keeping the original ids). Allocating over fully
    * committed segments only would hand out the same range twice — two
    * committed segments sharing doc_ids corrupts merged reads,
    * tombstoning and compaction. Readers keep the stricter
    * [[committedSegmentDirs]] filter; `excludeDir` lets an idempotent
    * replay ignore its own prior partial build. */
  private[graft] def maxDocId(spark: SparkSession, indexDir: String,
                              excludeDir: Option[String] = None): Long = {
    val dirs = (indexDir +: segmentDirs(indexDir))
      .filterNot(d => excludeDir.contains(d))
      .map(d => IndexBuilder.stageDir(d, "docs"))
      .filter(d => TableManifest.exists(d))
    if (dirs.isEmpty) -1L
    // coalesce: an empty docs table (all rows lang-filtered) yields NULL max
    else dirs.map(d => spark.read.parquet(d)
      .agg(coalesce(max(col("doc_id")), lit(-1L))).head.getLong(0)).max
  }

  /** The Bm25Params a committed index was built with, parsed back from its
    * blocks-stage manifest config. Segments MUST be built with the base's
    * params: a blockSpan mismatch silently breaks the dead-df block prune
    * (block_no numbering diverges), a termIdSeed mismatch splits one term
    * across two ids, and k1/b mismatches skew the stored WAND bounds. */
  def paramsOf(indexDir: String): Bm25Params = {
    val cfg = TableManifest.read(IndexBuilder.stageDir(indexDir, "blocks")).config
    val d = Bm25Params()
    Bm25Params(
      k1 = cfg.get("k1").fold(d.k1)(_.toDouble),
      b = cfg.get("b").fold(d.b)(_.toDouble),
      blockSpan = cfg.get("block_span").fold(d.blockSpan)(_.toLong),
      termIdSeed = cfg.get("term_id_seed").fold(d.termIdSeed)(_.toInt),
      termBuckets = cfg.get("term_buckets").fold(d.termBuckets)(_.toInt))
  }

  /** Index `pages` as a new segment; docIds continue after the current max
    * (additions never renumber existing docs — reference invariant,
    * index_updater.py:127-171). Returns the segment dir.
    *
    * The segment is built with the BASE index's params (see [[paramsOf]]);
    * passing the default `p` inherits them, passing an explicit non-default
    * `p` that disagrees with the base fails fast instead of committing a
    * segment the merged reader would mis-score. */
  def add(spark: SparkSession, indexDir: String, pages: DataFrame,
          p: Bm25Params = Bm25Params()): String = {
    val base = paramsOf(indexDir)
    val seg = if (p == Bm25Params()) base else p
    require(seg == base,
      s"segment params $seg differ from the base index's $base — mixed-param " +
        "segments are unsupported (block numbering, term ids and WAND bounds " +
        "would diverge); omit p to inherit the base's params")
    val segId = segmentDirs(indexDir).size
    val segDir = s"${updatesDir(indexDir)}/seg-$segId"
    val offset = maxDocId(spark, indexDir) + 1
    IndexBuilder.build(spark, pages, segDir, seg, docIdOffset = offset)
    segDir
  }

  /** Tombstone the given docIds (idempotent union). Fully distributed:
    * old ∪ new is a DataFrame union-distinct written to a temp dir, then
    * atomically swapped in — the tombstone set never passes through the
    * driver (it is unbounded at web scale: a whole-crawl retraction can
    * tombstone 10^9 docs).
    *
    * Each dead doc's dl is resolved HERE (one narrow docs scan per
    * removal batch, inner join — ids that match no live doc are no-ops
    * and drop out) and stored on the tombstone row, so every subsequent
    * [[openMerged]] subtracts corpus stats from the deletion-sized
    * tombstone table alone instead of rescanning the docs tables per
    * open. Ids are never reused (additions continue past the global max,
    * tombstoned docs included), so a dl resolved at remove time stays
    * correct forever. */
  def remove(spark: SparkSession, indexDir: String, docIds: DataFrame): Unit = {
    val dir = tombDir(indexDir)
    val docsDl = (indexDir +: committedSegmentDirs(indexDir))
      .map(d => spark.read.parquet(IndexBuilder.stageDir(d, "docs"))
        .select(col("doc_id"), col("dl")))
      .reduce(_ unionByName _)
    val incoming = docIds.select(col("doc_id").cast("long").as("doc_id"))
      .distinct()
      .join(docsDl, Seq("doc_id"), "inner")
    val all =
      if (TableManifest.exists(dir)) {
        val prev = spark.read.parquet(dir)
        // migrate a pre-dl tombstone table by re-resolving it once
        val prevDl =
          if (prev.columns.contains("dl")) prev
          else prev.select(col("doc_id")).join(docsDl, Seq("doc_id"), "inner")
        prevDl.unionByName(incoming).distinct()
      } else incoming.distinct()
    // write + MANIFEST beside, then swap: overwriting the directory would
    // race its own lazy-scanned input, and committing the manifest before
    // the swap means the incoming dir is complete the instant it lands —
    // a crash can only lose the swap itself (two renames), never leave a
    // manifest-less data dir that readers would treat as "no tombstones".
    // The old set is moved ASIDE (not deleted) until the new one is in
    // place, so even a crash inside the swap window leaves both sets on
    // disk for recovery rather than silently resurrecting deleted docs.
    val tmp = s"$dir.tmp-${System.nanoTime()}"
    all.write.mode("overwrite").parquet(tmp)
    val lineage = TableManifest.lineageOf(spark, tmp)
    TableManifest.commit(tmp, TableManifest("tombstones", 0L,
      lineage.map(_.rows).sum, lineage, Map.empty))
    val dirPath = Paths.get(dir)
    val aside = Paths.get(s"$dir.old-${System.nanoTime()}")
    val hadOld = Files.exists(dirPath)
    if (hadOld) Files.move(dirPath, aside)
    Files.move(Paths.get(tmp), dirPath)
    if (hadOld) LocalFiles.deleteRecursively(aside.toString)
  }

  /** Convenience overload for small driver-side id lists (CLI / tests). */
  def remove(spark: SparkSession, indexDir: String, docIds: Seq[Long]): Unit = {
    import spark.implicits._
    remove(spark, indexDir, docIds.toDF("doc_id"))
  }

  /** The committed tombstone set with its manifest row count — the count
    * (parquet-footer metadata, no scan) drives [[Tombstones.subtractFrom]]'s
    * broadcast-vs-shuffle choice. */
  def tombstones(spark: SparkSession, indexDir: String): Option[Tombstones] = {
    val dir = tombDir(indexDir)
    if (TableManifest.exists(dir))
      Some(Tombstones(spark.read.parquet(dir), TableManifest.read(dir).rows))
    else None
  }

  /** The live (base ∪ segments − tombstones) docs table — the serving
    * layer's pid → passage text source (reference searcher.collection[pid],
    * server.py:26-31). */
  def liveDocs(spark: SparkSession, indexDir: String): DataFrame = {
    val allDirs = indexDir +: committedSegmentDirs(indexDir)
    val docs = allDirs.map(d => spark.read.parquet(IndexBuilder.stageDir(d, "docs")))
      .reduce(_ unionByName _)
    tombstones(spark, indexDir) match {
      case Some(t) => t.subtractFrom(docs)
      case None => docs
    }
  }

  /** Open base + all segments − tombstones as one queryable index, with
    * stats recomputed over the live merged corpus (exactness) and WAND
    * bounds rescaled (admissibility). */
  def openMerged(spark: SparkSession, indexDir: String): Bm25IndexTables = {
    val segs = committedSegmentDirs(indexDir)
    if (segs.isEmpty && tombstones(spark, indexDir).isEmpty)
      return IndexBuilder.open(spark, indexDir)

    val allDirs = indexDir +: segs
    // project each dir's blocks to the canonical QUERY columns before the
    // union: the dictionary string `term` rides on new-format block rows
    // for build-time audit / termstats derivation only, and a base built
    // before it existed must still union with new-format segments (the
    // same old-format tolerance corpusstats and tombstones get below).
    // The bucketed layout's partition column survives the union iff EVERY
    // dir is bucketed with the SAME count (add() enforces this for new
    // segments; a pre-bucketing segment under a later-bucketed base would
    // lack the column) — then merged probes keep directory pruning across
    // base + segments; any mismatch downgrades to the flat probe.
    val perDirBuckets = allDirs.map { d =>
      val dir = IndexBuilder.stageDir(d, "blocks")
      val b = TableManifest.read(dir).config.getOrElse("term_buckets", "0").toInt
      if (b > 0 && spark.read.parquet(dir).columns.contains("bucket")) b else 0
    }
    val mergedBuckets =
      if (perDirBuckets.distinct.size == 1) perDirBuckets.head else 0
    val baseCols = Seq("term_id", "block_no", "n", "doc_ids_enc", "tfs_enc",
      "dls_enc", "block_max_tfnorm")
    val blockCols = (if (mergedBuckets > 0) baseCols :+ "bucket" else baseCols).map(col)
    val blocks = allDirs.map(d =>
        spark.read.parquet(IndexBuilder.stageDir(d, "blocks")).select(blockCols: _*))
      .reduce(_ unionByName _)
    val tombs = tombstones(spark, indexDir)

    // exact corpus stats WITHOUT rescanning 10^12 docs rows: Σdl and n are
    // additive across the per-dir one-row corpusstats tables; tombstoned
    // docs subtract through a deletion-sized docs∩tombstones semi-join
    // (old-format dirs without sum_dl fall back to the live-docs scan)
    val perDirStats = allDirs.map(d =>
      spark.read.parquet(IndexBuilder.stageDir(d, "corpusstats")))
    val corpus =
      if (perDirStats.exists(!_.columns.contains("sum_dl")))
        Bm25Index.corpusStats(liveDocs(spark, indexDir).select(col("doc_id"), col("dl")))
      else {
        val totals = perDirStats.map(_.select(col("n_docs"), col("sum_dl")))
          .reduce(_ unionByName _)
          .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
        val liveTotals = tombs match {
          // dl stored on the tombstone rows at remove() time: the dead
          // totals aggregate the DELETION-sized tombstone table alone —
          // no docs scan per open
          case Some(t) if t.df.columns.contains("dl") =>
            val dead = t.df
              .agg(count(lit(1)).as("dead_n"),
                coalesce(sum(col("dl")), lit(0L)).as("dead_dl"))
            totals.crossJoin(dead)
              .select((col("n_docs") - col("dead_n")).as("n_docs"),
                (col("sum_dl") - col("dead_dl")).as("sum_dl"))
          // pre-dl tombstone table: resolve dl with a narrow docs scan
          case Some(t) =>
            val docsDl = allDirs
              .map(d => spark.read.parquet(IndexBuilder.stageDir(d, "docs"))
                .select(col("doc_id"), col("dl")))
              .reduce(_ unionByName _)
            val dead = t.intersectWith(docsDl)
              .agg(count(lit(1)).as("dead_n"),
                coalesce(sum(col("dl")), lit(0L)).as("dead_dl"))
            totals.crossJoin(dead)
              .select((col("n_docs") - col("dead_n")).as("n_docs"),
                (col("sum_dl") - col("dead_dl")).as("sum_dl"))
          case None => totals
        }
        liveTotals.select(
          col("n_docs"),
          // NULL avgdl when everything is tombstoned (ANSI /0 would throw)
          // — same contract as the build's empty-corpus corpusstats row
          when(col("n_docs") === 0, lit(null).cast("double"))
            .otherwise(col("sum_dl").cast("double") / col("n_docs")).as("avgdl"),
          col("sum_dl"))
      }

    // exact df over live docs WITHOUT re-aggregating the merged postings:
    // segments are doc-disjoint, so df is ADDITIVE across the per-dir
    // termstats tables (vocabulary-sized rows); only the tombstoned docs'
    // contributions are subtracted, from a DELETION-sized decode∩tombstones
    // semi-join over the pruned blocks scan (only the dead docs' block_nos
    // are decoded; nothing live is shuffled). idf is re-derived through
    // the same shared closed form over the live corpus stats, so the
    // result is row-identical to a fresh-rebuild aggregation (gated by
    // IndexUpdaterSpec's merged ≡ fresh test).
    val dfMerged = allDirs
      .map(d => spark.read.parquet(IndexBuilder.stageDir(d, "termstats"))
        .select(col("term"), col("term_id"), col("df")))
      .reduce(_ unionByName _)
      .groupBy(col("term"), col("term_id"))
      .agg(sum(col("df")).as("df"))
    val dfLive = tombs match {
      case Some(t) =>
        // block-metadata prune BEFORE decoding: a dead doc can only live
        // in block_no = doc_id/blockSpan, so blocks outside the tombstone
        // set's block range are never even decoded. Spans come from each
        // dir's OWN manifest config and the candidate set is the union
        // over the distinct spans — add() enforces one span per index, but
        // if spans ever diverged, a single-span prune would silently skip
        // dead docs in differently-numbered segment blocks (df overcount);
        // the union only over-includes, and the exact doc_id intersect
        // below keeps the result precise.
        val spans = allDirs.map(d =>
          TableManifest.read(IndexBuilder.stageDir(d, "blocks"))
            .config.getOrElse("block_span", Bm25Params().blockSpan.toString).toLong)
          .distinct
        val deadBlockNos = spans.map(span => t.df
            .select((col("doc_id") / span).cast("long").as("block_no")))
          .reduce(_ unionByName _)
          .distinct()
        val candidate = blocks.join(
          if (t.rows <= Tombstones.BroadcastMaxRows) broadcast(deadBlockNos)
          else deadBlockNos.hint("shuffle_hash"),
          Seq("block_no"), "left_semi")
        val dead = t.intersectWith(
            Bm25Index.decodeBlocks(candidate).select(col("term_id"), col("doc_id")))
          .groupBy(col("term_id")).agg(count(lit(1)).as("dead_df"))
        dfMerged.join(dead, Seq("term_id"), "left")
          .select(col("term"), col("term_id"),
            (col("df") - coalesce(col("dead_df"), lit(0L))).as("df"))
          .filter(col("df") > 0)
      case None => dfMerged
    }
    val termStats = Bm25Index.withIdf(dfLive, corpus)

    // admissible WAND bound scale: avgdl_now vs the smallest build avgdl.
    // Null-safe: an all-filtered (empty) segment commits corpusstats
    // (0, null, 0) — it contributed no blocks, so it has no bounds to
    // rescale and drops out; an entirely empty live corpus (everything
    // tombstoned) serves no postings, so scale 1.0 is vacuously safe.
    def avgdlOf(df: DataFrame): Option[Double] = {
      val r = df.select(col("avgdl")).head
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    val avgdlNow = avgdlOf(corpus)
    val buildAvgdls = allDirs.flatMap { d =>
      avgdlOf(spark.read.parquet(IndexBuilder.stageDir(d, "corpusstats")))
    }.filter(_ > 0.0)
    val scale = (avgdlNow, buildAvgdls) match {
      case (Some(now), bs) if bs.nonEmpty => math.max(1.0, now / bs.min)
      case _ => 1.0
    }

    // the id span hint keeps the WAND router's block count honest on
    // merged indexes: tombstones and filtered segments leave doc-id holes,
    // so the live count under-states how many blocks the numbering spans
    Bm25IndexTables(blocks, termStats, corpus, tombs, scale,
      maxDocIdHint = Some(maxDocId(spark, indexDir)),
      termBuckets = mergedBuckets)
  }

  /** Query-time merge cost grows with segment count (a union of scans per
    * open); past this many segments the amortized rewrite wins — the
    * compaction-cadence knob from SCALE.md, as code. ~32 matches one
    * segment per streaming micro-batch over a typical watch window before
    * the reference would persist_to_disk. */
  val DefaultMaxSegments = 32

  /** True when `indexDir` has accumulated more than `maxSegments` update
    * segments (driver-side directory listing — no Spark job). */
  def needsCompaction(indexDir: String, maxSegments: Int = DefaultMaxSegments): Boolean =
    segmentDirs(indexDir).size > maxSegments

  /** [[compact]] iff [[needsCompaction]] — the scheduled-cadence entry
    * point (streaming ingest or a cron caller invokes this after every
    * batch; it is a no-op until the segment count crosses the threshold).
    * Returns true iff a compaction ran. */
  def compactIfNeeded(spark: SparkSession, indexDir: String, targetDir: String,
                      maxSegments: Int = DefaultMaxSegments): Boolean =
    if (needsCompaction(indexDir, maxSegments)) {
      compact(spark, indexDir, targetDir); true
    } else false

  /** Fold base + segments − tombstones into a fresh base index at
    * `targetDir` (reference persist_to_disk; the SPIMI re-merge).
    * Passing the default `p` inherits the source index's params (same
    * pattern as [[add]] — a compaction that silently reset blockSpan or
    * the bucketed layout would degrade the index it rewrites); an
    * explicit `p` re-keys deliberately (compaction IS a fresh build, so
    * divergence is legal here). */
  def compact(spark: SparkSession, indexDir: String, targetDir: String,
              p: Bm25Params = Bm25Params()): Unit = {
    val params = if (p == Bm25Params()) paramsOf(indexDir) else p
    val allDirs = indexDir +: committedSegmentDirs(indexDir)
    val docs = allDirs.map(d => spark.read.parquet(IndexBuilder.stageDir(d, "docs")))
      .reduce(_ unionByName _)
    val live = tombstones(spark, indexDir) match {
      case Some(t) => t.subtractFrom(docs)
      case None => docs
    }
    // rebuild from the already-extracted corpus snapshot: synthesize a
    // pages-shaped frame (html not retained in docs; audit is skipped)
    val pages = live.select(col("url"), col("warc_ts"),
      lit(Array.emptyByteArray).as("html"), col("text"), col("lang"))
    IndexBuilder.build(spark, pages, targetDir, params, auditExtraction = false)
  }
}
