package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering for
  * min/max-stat file skipping.
  *
  * At 100 TB a table is thousands of parquet files, and the only scan a
  * query pays for is the files whose column min/max stats overlap its
  * predicate. Sorting on ONE column makes that column's file ranges
  * disjoint but leaves every other column's range per file ≈ the global
  * range — a second-column predicate skips nothing. Interleaving the bits
  * of k columns into one Morton key and range-partitioning on IT bounds
  * every participating column's per-file range at once, so a conjunctive
  * box predicate (`x BETWEEN … AND y BETWEEN …`) prunes on all k
  * dimensions — the layout behind Delta/Iceberg `OPTIMIZE ZORDER BY`.
  *
  * Two key builders, one write path:
  *  - [[zValue]] interleaves integer columns directly — pure codegen bit
  *    algebra, exactly reproducible anywhere (the oracle recomputes it in
  *    SQL). Use when the columns are already bounded ints (ids, bucketed
  *    values, date ordinals).
  *  - [[zValueRanked]] first rank-normalizes each column to `bits`
  *    quantile buckets (`ntile` over a global order) so arbitrary skewed /
  *    floating domains interleave uniformly. ntile is ONE total sort per
  *    dimension — deterministic and exact, the right trade at fit/compact
  *    time. (Production compaction jobs may swap in sampled range ids —
  *    Delta does — trading determinism for one pass; the write path below
  *    does not care which key builder produced the column.)
  *  - [[writeZOrdered]] range-partitions on the key and sorts within
  *    partitions, so parquet row-group stats are tight on every z column.
  *
  * [[clusteringStats]] measures the thing pruning actually depends on:
  * per-file bounding boxes of the layout columns. A spec asserts the
  * z-order layout's average box volume is a fraction of a single-column
  * sort's on 2-D data.
  */
object Layout {

  /** Morton key: interleave the low `bits` bits of each column, first
    * column in the lowest output bit. Requires `cols.size * bits <= 63`
    * (sign bit untouched). Inputs must already lie in `[0, 2^bits)` —
    * values are masked, so out-of-range inputs silently alias; rank or
    * bucket them first ([[zValueRanked]]) if the domain is unbounded.
    * Pure column algebra: the expression tree is `k*bits` shift/and/or
    * terms, all inside whole-stage codegen.
    */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "zValue: no columns")
    require(bits >= 1 && cols.size * bits <= 63,
      s"zValue: ${cols.size} cols x $bits bits exceeds the 63-bit budget")
    val k = cols.size
    val terms = for {
      (c, j) <- cols.zipWithIndex
      b <- 0 until bits
    } yield {
      // bit b of column j lands at output position b*k + j
      val masked = c.cast("long").bitwiseAND(lit(1L << b))
      val shiftBy = b * k + j - b // target - source bit position
      if (shiftBy >= 0) shiftleft(masked, shiftBy) else shiftright(masked, -shiftBy)
    }
    terms.reduce(_ bitwiseOR _)
  }

  /** Morton key over arbitrary domains: each column is first mapped to its
    * `ntile(2^bits)` quantile bucket (global order by the column, ties
    * broken by `tieBreak` for determinism), then interleaved. One total
    * sort per dimension — the exact, deterministic variant appropriate for
    * a compaction job that already rewrites every row.
    */
  def zValueRanked(
      df: DataFrame,
      cols: Seq[String],
      bits: Int,
      tieBreak: String,
      out: String = "__z"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cols.nonEmpty, "zValueRanked: no columns")
    val n = 1 << bits
    val bucketed = cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(s"__zb_$c",
        (ntile(n).over(Window.orderBy(col(c), col(tieBreak))) - 1).cast("long"))
    }
    bucketed
      .withColumn(out, zValue(cols.map(c => col(s"__zb_$c")), bits))
      .drop(cols.map(c => s"__zb_$c"): _*)
  }

  /** Write `df` clustered by `zCol`: range-partition into `nFiles` tasks
    * and sort within each, so every file covers a contiguous z range and
    * the per-file min/max of every interleaved column is tight. This is
    * the layout step — a query never pays it; the scan-side win is free
    * file skipping on the parquet stats forever after.
    */
  def writeZOrdered(df: DataFrame, zCol: String, nFiles: Int, path: String): Unit =
    df.repartitionByRange(nFiles, col(zCol))
      .sortWithinPartitions(zCol)
      .write.mode("overwrite").parquet(path)

  /** Per-file bounding boxes under a DETERMINISTIC stand-in for the range
    * partitioner: file id = `ntile(nFiles)` in `zCol` order (exact
    * equi-depth ranges; the sampled partitioner approximates this). One
    * row per file with each layout column's min/max — the exact stats a
    * parquet footer would carry, and therefore what a pruning estimate
    * should be computed from.
    */
  def clusteringStats(
      df: DataFrame,
      zCol: String,
      statCols: Seq[String],
      nFiles: Int,
      tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val filed = df.withColumn("file_id",
      ntile(nFiles).over(Window.orderBy(col(zCol), col(tieBreak))).cast("long"))
    val aggs = statCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    filed.groupBy("file_id").agg(aggs.head, aggs.tail: _*)
  }

  /** How many of `stats`' files a conjunctive box predicate must read:
    * a file survives iff every queried dimension's `[min,max]` overlaps
    * the query interval — the file-skipping arithmetic itself.
    */
  def filesOverlapping(stats: DataFrame, box: Map[String, (Long, Long)]): Long = {
    val pred = box.map { case (c, (lo, hi)) =>
      col(s"max_$c") >= lo && col(s"min_$c") <= hi
    }.reduce(_ && _)
    stats.where(pred).count()
  }

  /** [[compactSmallFiles]]' outcome: `rewrittenBytes` is the fold's real
    * cost (the bytes read+rewritten — the size-peer classes that merged);
    * `untouchedFiles` moved by metadata-only rename, never rewritten.
    */
  final case class TieredCompactStats(
      filesBefore: Int,
      filesAfter: Int,
      untouchedFiles: Int,
      rewrittenBytes: Long)

  private def isDataName(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** The two hidden swap siblings of a data dir: `(staged, old)` =
    * (`.{name}.__compact`, `.{name}.__old`). */
  private[graft] def swapSiblings(
      p: org.apache.hadoop.fs.Path): (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) =
    (new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.__compact"),
      new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.__old"))

  // hop a data file between siblings, carrying its ChecksumFileSystem
  // .crc shadow when one exists (a whole-dir rename moves them for
  // free; per-file moves must do it by hand or the moved file loses
  // its checksum)
  private def tieredHop(
      fs: org.apache.hadoop.fs.FileSystem,
      from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path,
      name: String): Unit = {
    fs.rename(new org.apache.hadoop.fs.Path(from, name),
      new org.apache.hadoop.fs.Path(to, name))
    val crc = new org.apache.hadoop.fs.Path(from, s".$name.crc")
    if (fs.exists(crc))
      fs.rename(crc, new org.apache.hadoop.fs.Path(to, s".$name.crc"))
    ()
  }

  private def tieredFinishSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      hPath: org.apache.hadoop.fs.Path,
      consumed: Set[String]): Unit = {
    val (stagedP, oldP) = swapSiblings(hPath)
    fs.listStatus(oldP).toSeq.foreach { e =>
      val n = e.getPath.getName
      if (e.isFile && isDataName(n)) {
        if (!consumed.contains(n)) tieredHop(fs, oldP, stagedP, n)
        // consumed inputs stay behind and drop with oldP
      } else if (e.isDirectory) {
        // hidden sidecar dirs (a ledger, a marker dir) ride the swap
        // whole — visible subdirs were refused before staging
        fs.rename(e.getPath, new org.apache.hadoop.fs.Path(stagedP, n))
      } else if (n != "_SUCCESS" && n != "_consumed" && !n.endsWith(".crc")) {
        // hidden marker FILES ride too; _SUCCESS is the staged write's
        // own, .crc shadows either hopped with their file or are stale
        fs.rename(e.getPath, new org.apache.hadoop.fs.Path(stagedP, n))
      }
    }
    // the manifest RIDES the rename (underscore-named — readers ignore
    // it) and is cleaned from the live dir afterwards: deleting it
    // before the rename would open a crash window where the live dir
    // is absent and the stage uncommitted — unhealable
    fs.rename(stagedP, hPath)
    fs.delete(new org.apache.hadoop.fs.Path(hPath, "_consumed"), false)
    fs.delete(oldP, true)
    ()
  }

  private def tieredReadManifest(
      fs: org.apache.hadoop.fs.FileSystem,
      manifestP: org.apache.hadoop.fs.Path): Set[String] = {
    val in = fs.open(manifestP)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toSet
    finally in.close()
  }

  /** HEAL a crashed [[compactSmallFiles]] swap at `hPath`: live dir absent
    * with the aside and a COMMITTED stage (`_consumed` manifest present) ⇒
    * finish the move deterministically via the manifest (untouched files
    * hop, consumed inputs drop). Returns true when a heal ran. Shared by
    * compactSmallFiles' own entry and [[healOrSweepSwap]] so ANY
    * maintenance op that targets the dir next can recover it, not just a
    * retry of the fold itself.
    */
  private[graft] def healCrashedTieredSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      hPath: org.apache.hadoop.fs.Path): Boolean = {
    val (stagedP, oldP) = swapSiblings(hPath)
    val manifestP = new org.apache.hadoop.fs.Path(stagedP, "_consumed")
    if (!fs.exists(hPath) && fs.exists(oldP) && fs.exists(manifestP)) {
      tieredFinishSwap(fs, hPath, tieredReadManifest(fs, manifestP))
      true
    } else false
  }

  /** Recover `dir` from ANY crashed swap/retire, or sweep superseded
    * leftovers (ADVICE r14 #1: a crash between rename-aside and delete in
    * a retire left the condemned rows in the hidden `.name.__old` forever,
    * and a retried delete that filtered on `fs.exists(dir)` skipped them —
    * the forget op reported success while the data persisted). Dispatch by
    * crash signature:
    *
    *  - live dir PRESENT: any hidden sibling is a superseded generation
    *    (completed swap whose final delete crashed) or an uncommitted
    *    stage — sweep both;
    *  - live absent + committed tiered stage (`_consumed` manifest) —
    *    a crashed [[compactSmallFiles]]: heal via the manifest;
    *  - live absent + stage + aside — a crashed [[replaceDirs]] window:
    *    the stage was complete before the swap began (every writer stages
    *    fully, then swaps), so finish it — rename staged to live, drop
    *    the aside;
    *  - live absent + aside only — a crashed RETIRE (every row was
    *    condemned): sweep the aside, completing the deletion;
    *  - live absent + stage only — an unreachable uncommitted stage: sweep.
    *
    * Earlier releases staged at the VISIBLE `name.__compact` (BM25's
    * commit reset at `name.__staged`) and parked the aside at the visible
    * `name.__old`. A visible stage left by a crash inside the swap window
    * (live absent, hidden aside present) is taken over as the hidden
    * stage, so the dispatch above installs it rather than reading the
    * crash as a retire; any other visible leftover is stale and swept —
    * inside a partitioned read root it would otherwise be parsed as a
    * partition value.
    *
    * Single-writer contract: callers run this inside a maintenance op,
    * never concurrently with another writer on the same dir.
    */
  private[graft] def healOrSweepSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit = {
    val (staged, aside) = swapSiblings(dir)
    def visible(suffix: String) =
      new org.apache.hadoop.fs.Path(dir.getParent, s"${dir.getName}.$suffix")
    val legacyAside = visible("__old")
    if (fs.exists(legacyAside)) fs.delete(legacyAside, true)
    Seq(visible("__compact"), visible("__staged")).filter(fs.exists).foreach { l =>
      if (!fs.exists(dir) && fs.exists(aside) && !fs.exists(staged))
        fs.rename(l, staged)
      else fs.delete(l, true)
    }
    if (fs.exists(dir)) {
      if (fs.exists(aside)) fs.delete(aside, true)
      if (fs.exists(staged)) fs.delete(staged, true)
    } else if (healCrashedTieredSwap(fs, dir)) ()
    else if (fs.exists(staged) && fs.exists(aside)) {
      fs.rename(staged, dir)
      fs.delete(aside, true)
    } else {
      if (fs.exists(aside)) fs.delete(aside, true)
      if (fs.exists(staged)) fs.delete(staged, true)
    }
    ()
  }

  /** The ONE crash-safe directory-replacement protocol of every store
    * rewrite (compacts, merges' commit flips, evictions, migrations,
    * partition rewrites). Three steps, in order:
    *
    *  1. HEAL each target through [[healOrSweepSwap]], so a rewrite that
    *     crashed inside an earlier swap window is finished (or its
    *     leftovers swept) before `stage` reads the target;
    *  2. run `stage` against the targets' hidden `.{name}.__compact`
    *     siblings (in target order). Hidden because Spark's FileIndex
    *     skips `_`/`.`-prefixed path segments: a stage inside a
    *     partitioned read root (`lists/`, a `sbucket=N` dir) is never
    *     parsed as a partition value while it is written. `stage` may
    *     leave a stage unwritten — that target is then left as it is;
    *  3. SWAP every target whose stage was written, in target order, by
    *     rename-ASIDE — live → hidden `.{name}.__old`, staged → live,
    *     drop the aside — so a driver crash at any point leaves either
    *     generation intact and the no-directory window is one rename,
    *     which step 1 of the next rewrite heals.
    *
    * Single-writer contract: one maintainer rewrites a target at a time;
    * an overlapping reader that lists a target inside its rename pair may
    * fail and should retry. A `stage` that throws swaps nothing.
    */
  private[graft] def replaceDirs[A](
      fs: org.apache.hadoop.fs.FileSystem,
      targets: Seq[String])(stage: Seq[String] => A): A = {
    val live = targets.map(new org.apache.hadoop.fs.Path(_))
    live.foreach(healOrSweepSwap(fs, _))
    val stages = live.map(swapSiblings(_)._1)
    val out = stage(stages.map(_.toString))
    live.zip(stages).filter { case (_, s) => fs.exists(s) }.foreach {
      case (t, s) =>
        val aside = swapSiblings(t)._2
        if (fs.exists(t)) fs.rename(t, aside)
        fs.rename(s, t)
        fs.delete(aside, true)
    }
    out
  }

  /** Table-wide VACUUM (round-14 verdict stretch): every maintenance op
    * sweeps ITS OWN target's crashed-swap leftovers on the next call, but
    * a `.name.__old`/`.name.__compact` sibling under a directory never
    * touched again lingers forever (disk held by a condemned retire, or a
    * stranded-but-committed stage nothing installs). One listing of
    * `root` finds every hidden swap sibling; each is dispatched through
    * [[healOrSweepSwap]] — finish a committed stage (live absent + stage
    * + aside; a tiered fold heals via its `_consumed` manifest so
    * untouched files hop rather than drop), sweep a condemned retire
    * aside or an uncommitted stage, and never touch a directory whose
    * live generation is present beyond removing its superseded siblings.
    * The ROOT's own siblings (a crashed rebucket/migration swap of the
    * whole table) are handled first. Returns the number of sibling
    * groups processed. Single-writer: run it as a maintenance action,
    * never concurrently with another writer on the same table.
    */
  def vacuum(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // the table root itself may be mid-swap (live absent, staged complete)
    healOrSweepSwap(fs, root)
    sweepSwapSiblings(fs, root, """.+""")
  }

  /** Heal-or-sweep the hidden `.name.__old`/`.name.__compact` swap
    * siblings directly under `root`, restricted to live names matching
    * `livePattern` (a regex) — the ONE copy of the sibling-name
    * convention, shared by [[vacuum]] (any name) and the lifecycle ops'
    * partition-scoped sweeps (`sbucket=`/`day=` prefixes). Returns the
    * number of sibling groups dispatched.
    */
  def sweepSwapSiblings(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      livePattern: String): Int = {
    if (!fs.exists(root)) return 0
    val Hidden = ("""^\.(""" + livePattern + """)\.__(?:old|compact)$""").r
    val groups = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case Hidden(live) => live }.distinct
    groups.foreach(n =>
      healOrSweepSwap(fs, new org.apache.hadoop.fs.Path(root, n)))
    groups.size
  }

  /** SIZE-TIERED minor compaction of a flat directory — the fold whose
    * cost tracks the FRESH bytes, not the accumulated state (round-13
    * verdict #1: a whole-directory coalesce makes a store that appends
    * small files forever rewrite its settled base on every trigger —
    * write amplification O(state) per firing). Two laws:
    *
    *  - files ≥ `targetBytes` are SETTLED: never read, never rewritten —
    *    they hop through the swap by metadata-only rename;
    *  - below `targetBytes`, only SIZE PEERS are consumed (geometric
    *    classes, base 4): a file is rewritten only when its class holds
    *    ≥ 2 files; all consuming classes merge through ONE staged write
    *    into ceil(bytes / targetBytes) outputs. A fold after N fresh
    *    appends therefore rewrites ~the N fresh files; the previous
    *    fold's merged output sits alone in a higher class and is left in
    *    place until a size PEER joins it — each byte is rewritten
    *    O(log₄(targetBytes / fileSize)) times over its whole life, the
    *    LSM minor-compaction shape [[graft.search.Bm25.mergeSegments]]
    *    and the HNSW tiered merge already follow. A fold's RESIDUE is at
    *    most one file per size class (~log₄ targetBytes ≈ 13 singletons),
    *    so a due signal thresholded above that cannot latch on a
    *    directory the fold can no longer shrink.
    *
    * Swap protocol (single-writer, same reader contract as [[replaceDirs]]:
    * reads inside the rename window fail loudly and retry, never see
    * partial data): merged outputs land in the hidden staging sibling,
    * a `_consumed` manifest (the merged inputs' names) commits the
    * stage, THEN live renames aside, untouched files hop old → staged by
    * name, staged renames live, old (now only consumed inputs) drops.
    * A crash mid-swap leaves the live dir ABSENT (loud) with every byte
    * preserved across the two hidden siblings, and the next call HEALS:
    * live missing + old + committed stage ⇒ finish the move via the
    * manifest. A crash before the manifest leaves live intact and the
    * stale stage is swept. Directories with subdirectories (compact each
    * partition dir separately) or a `_tombstones` sidecar (use
    * [[graft.index.VectorIndex.compact]]) refuse.
    */
  def compactSmallFiles(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetBytes: Long = 128L << 20): TieredCompactStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val (stagedP, oldP) = swapSiblings(hPath)
    val manifestP = new org.apache.hadoop.fs.Path(stagedP, "_consumed")
    def isData(name: String): Boolean = isDataName(name)
    def finishSwap(consumed: Set[String]): Unit =
      tieredFinishSwap(fs, hPath, consumed)
    // HEAL: a crash between the live-aside rename and the final swap left
    // the live dir absent with a committed stage — finish deterministically
    healCrashedTieredSwap(fs, hPath)
    require(fs.exists(hPath),
      s"compactSmallFiles: $path does not exist (and no healable " +
        "crashed swap was found alongside it)")
    require(!fs.exists(new org.apache.hadoop.fs.Path(hPath, "_tombstones")),
      s"compactSmallFiles: $path has a _tombstones sidecar (merge-on-read " +
        "index) — use VectorIndex.compact, which resolves deletes")
    // live exists ⇒ sibling leftovers are stale (a completed swap's old,
    // or an uncommitted stage) — sweep them, along with a manifest whose
    // post-rename cleanup was interrupted
    if (fs.exists(oldP)) fs.delete(oldP, true)
    if (fs.exists(stagedP)) fs.delete(stagedP, true)
    fs.delete(new org.apache.hadoop.fs.Path(hPath, "_consumed"), false)
    val entries = fs.listStatus(hPath).toSeq
    require(!entries.exists(e => e.isDirectory && isData(e.getPath.getName)),
      s"compactSmallFiles: $path has subdirectories — this tier compacts " +
        "flat (bucket/partition) dirs; compact each partition dir separately")
    val files = entries.filter(e => e.isFile && isData(e.getPath.getName) &&
      e.getLen > 0)
    def sizeClass(len: Long): Int =
      (math.log(len.toDouble.max(1.0)) / math.log(4.0)).toInt
    val (settled, small) = files.partition(_.getLen >= targetBytes)
    val mergeClasses = small.groupBy(f => sizeClass(f.getLen))
      .filter { case (_, fsOfClass) =>
        // merge only when it REDUCES the file count: a class of two
        // near-target files whose bytes already need two outputs would
        // be a pure rewrite with no progress
        val bytes = fsOfClass.map(_.getLen).sum
        fsOfClass.size >= 2 &&
          fsOfClass.size > ((bytes + targetBytes - 1) / targetBytes)
      }
    if (mergeClasses.isEmpty)
      return TieredCompactStats(files.size, files.size, files.size, 0L)
    val consumedFiles = mergeClasses.values.flatten.toSeq
    val consumed = consumedFiles.map(_.getPath.getName).toSet
    val rewrittenBytes = consumedFiles.map(_.getLen).sum
    // ONE staged write covers every merging class: the amplification law
    // is about which INPUTS are rewritten (only size classes holding ≥ 2
    // peers), not about keeping their outputs apart — combining outputs
    // just settles the result faster, and a per-class job loop was pure
    // scheduler overhead (~16 buckets × classes tiny jobs per fold).
    // Live dir untouched and fully readable throughout; merged footer
    // schema: a directory whose files straddle a schema addition (e.g.
    // pre-epoch and epoch-stamped appends) must not drop the newer
    // columns. No localCheckpoint: the inputs are explicit
    // FILE paths that exist untouched until the post-swap delete, and the
    // staged write completes before the live dir is mutated — there is no
    // window where a task retry could re-read a replaced source
    val outFiles =
      math.max(1L, (rewrittenBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.schema(footerSchema(spark, consumedFiles))
      .parquet(consumedFiles.map(_.getPath.toString): _*)
      .coalesce(outFiles)
      .write.mode("overwrite").parquet(stagedP.toString)
    // the manifest COMMITS the stage: heal only ever acts on a stage
    // that lists exactly what was merged
    val mOut = fs.create(manifestP, true)
    try mOut.write(consumed.toSeq.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally mOut.close()
    fs.rename(hPath, oldP)
    finishSwap(consumed)
    val after = fs.listStatus(hPath).toSeq
      .count(f => f.isFile && isData(f.getPath.getName) && f.getLen > 0)
    TieredCompactStats(files.size, after,
      files.size - consumed.size, rewrittenBytes)
  }

  /** The schema a `mergeSchema` read of parquet `files` infers, without
    * its inference job: the footers are read here on the driver, each
    * turned into a Spark schema by Spark's footer law
    * (`ParquetFileFormat.readSchemaFromFooter`: the writer's Spark schema
    * when the footer carries one, else the parquet converter under this
    * session's conf) and merged by Spark's `StructType.merge` in path
    * order, the order Spark's inference folds them in.
    */
  private[graft] def footerSchema(
      spark: org.apache.spark.sql.SparkSession,
      files: Seq[org.apache.hadoop.fs.FileStatus]
  ): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val sqlConf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(sqlConf)
    val byPath = files.sortBy(_.getPath.toString)
    byPath.iterator.zip(readFooters(spark, byPath.iterator, rowGroups = false))
      .map { case (f, footer) =>
        ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(f.getPath, footer), converter)
      }.reduceLeft(org.apache.spark.sql.SchemaMerge.merge(
        _, _, sqlConf.caseSensitiveAnalysis))
  }

  /** The parquet footers of `files`, read one by one as the iterator is
    * consumed, through the session's Hadoop conf: the session's
    * `spark.hadoop.*` and `parquet.*` settings reach the read, and no
    * footer pays for a fresh `Configuration` (the one-argument
    * `ParquetFileReader.open` builds one per call, which parses the
    * Hadoop default XML resources again — 6.6–9.5 ms CPU per footer,
    * against 0.13–0.31 ms through the held conf; PERF.md). Without
    * `rowGroups` the row-group metadata is skipped: enough for a schema,
    * not for a row count.
    */
  private[graft] def readFooters(
      spark: org.apache.spark.sql.SparkSession,
      files: Iterator[org.apache.hadoop.fs.FileStatus],
      rowGroups: Boolean): Iterator[org.apache.parquet.hadoop.metadata.ParquetMetadata] = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      val options = org.apache.parquet.HadoopReadOptions.builder(conf, f.getPath)
      if (!rowGroups) options.withMetadataFilter(
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf), options.build())
      try reader.getFooter finally reader.close()
    }
  }

  /** `c IN ids` over a per-call set of long ids, bound into the plan by
    * reference. Spark keeps an `isin` of at most 10 values as an `In` and
    * inlines its long literals into the generated source, so every new id
    * set compiles new classes; an `InSet` of longs is evaluated against a
    * set the generated code holds as a reference object, so a warm call
    * with new ids compiles nothing. A parquet scan still takes it as the
    * pushed filter `In(c, [...])`. `c` is read as LONG; on an INT column
    * Spark unwraps that cast and compiles the set into a `switch` again.
    */
  private[graft] def inIds(c: Column, ids: Iterable[Long]): Column =
    org.apache.spark.sql.ExpressionColumn(
      org.apache.spark.sql.catalyst.expressions.InSet(
        org.apache.spark.sql.ExpressionColumn.expression(c.cast("long")),
        ids.iterator.map(Long.box).toSet[Any]))

  /** A footer's row count: the sum of its row groups' counts (read with
    * `rowGroups = true`). */
  private[graft] def footerRows(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): Long = {
    import scala.jdk.CollectionConverters._
    footer.getBlocks.asScala.iterator.map(_.getRowCount).sum
  }

  /** [[compactSmallFiles]] over many independent directories (the
    * per-bucket fold of a hash-partitioned store): each dir's fold is a
    * small single-writer job on disjoint paths, so they submit
    * concurrently — Spark's scheduler interleaves them across the
    * executor cores a serial loop would leave idle (measured: the 16-
    * bucket memory fold spends most of its wall clock in per-job setup
    * when run serially). Failures propagate: the first failed fold
    * rethrows after the pool drains.
    */
  def compactSmallFilesAll(
      spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String],
      targetBytes: Long = 128L << 20,
      parallelism: Int = 8): Seq[TieredCompactStats] =
    mapConcurrently(dirs, parallelism)(d =>
      compactSmallFiles(spark, d, targetBytes))

  /** Optimizer-estimated size of a frame's output in bytes — plan
    * statistics only (file-listing sums scaled by projection/filter
    * selectivity), never a job. Frames whose stats Catalyst cannot bound
    * (checkpointed RDDs, opaque sources) report `defaultSizeInBytes` ≈
    * Long.MaxValue, which [[fitsOnePartition]] treats as "not provably
    * small" — the safe direction.
    */
  private[graft] def planBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Total bytes of data files under `path` (recursive), 0 when absent —
    * driver-side metadata listing, the same walk the maintenance signals
    * already do. Used to size an op on a persisted store's real bytes
    * ([[fitsOnePartition]]).
    */
  private[graft] def dirBytes(
      spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else fs.getContentSummary(p).getLength
  }

  /** Whether an op's whole working set fits ONE advisory-sized
    * partition: `bytes` is the caller's upper-bound estimate of the
    * largest frame any shuffle of the op carries ([[planBytes]] /
    * [[dirBytes]] / an exact row count × row width — all metadata-only)
    * against `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size
    * AQE's partition coalescing already aims at. Reads the session conf,
    * writes nothing.
    *
    * An op that fits runs its frames through [[onePartitionWhen]]: the
    * guide's "size partitions from the data, not the cluster" (§2.1-2.2)
    * applied to the KB-scale iteration/maintenance frames where a 32-way
    * (or, on a cluster, a 2000-way) fan-out turns every stage into
    * `partitions` near-empty tasks, and AQE re-plans each tiny shuffle as
    * its own driver-side stage job (measured on the 37-node pageRank
    * loop: 73 jobs/849 tasks → 36 jobs/53 tasks at sf0.1/local[32]).
    *
    * Scale honesty: the gate is the DATA size, never the core count — at
    * 100 TB the estimates blow past the advisory size and the op plans
    * at the session's width, where AQE coalesces toward the same size;
    * unknown estimates never fit (see [[planBytes]]). Values are
    * partitioning-invariant everywhere this is used (keyed
    * aggregates/joins, integer-grid algebra), so results are identical
    * either way — the oracle re-asserts that per query.
    */
  private[graft] def fitsOnePartition(
      spark: org.apache.spark.sql.SparkSession, bytes: BigInt): Boolean =
    bytes <= spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** `df` planned in one partition when `fits` ([[fitsOnePartition]]),
    * else `df` unchanged: every source of its plan (file scans, driver
    * rows, checkpoints, cached relations) coalesced to one partition, and
    * every `repartition(cols)` in its lineage, which would take the
    * session's width, dropped. A one-partition input meets every
    * clustered and ordered distribution, so the keyed aggregates,
    * windows, sorts and broadcast joins an op plans above it — and those
    * inside `df`'s own lineage — need no Exchange: AQE stays on with no
    * stage to split into extra jobs, and the session conf is never
    * touched, so concurrent callers plan at their own widths.
    *
    * Two things still exchange: a repartition the op adds itself or
    * gives an explicit count, and a shuffle join of two one-partition
    * sides (Spark re-partitions both, since neither side's partitioning
    * can be created for the other). The checkpoint or cache of an
    * adaptive plan reports no partitioning, so an op re-applies this to
    * what it materialized before reading it again.
    */
  private[graft] def onePartitionWhen(fits: Boolean)(df: DataFrame): DataFrame =
    if (fits) org.apache.spark.sql.PlanFrames.onePartition(df) else df

  /** Run `f` over every item on a bounded pool and return the results in
    * item order — the ONE copy of the maintenance fan-out protocol
    * ([[compactSmallFilesAll]], the bucket-rewrite sweep, the recency
    * bootstrap): await EVERY task before rethrowing the first failure's
    * cause. Bailing on the first `.get()` would leave sibling tasks
    * still running on their directories, and the caller's natural retry
    * would then race their staging/aside dirs — two writers on one
    * bucket, the exact single-writer breach the swap protocol forbids.
    */
  def mapConcurrently[A, B](items: Seq[A], parallelism: Int)(
      f: A => B): Seq[B] = {
    if (items.isEmpty) return Seq.empty
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, items.size)))
    try {
      val fut = items.map(a => pool.submit(
        new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
      val results = fut.map(f => scala.util.Try(f.get()))
      results.collectFirst { case scala.util.Failure(e) =>
        throw (e match {
          case ee: java.util.concurrent.ExecutionException
            if ee.getCause != null => ee.getCause
          case other => other
        })
      }
      results.map(_.get)
    } finally pool.shutdown()
  }

  /** Advance a digit-named monotone marker (`<root>/<name>/<horizon>`,
    * max wins) — the `_retention` audit convention shared by the
    * disposition ledger, the memory table, and the chat log, and the
    * `_recency` fold high-water mark. Idempotent
    * and monotone: an existing marker at or above `horizon` is kept
    * untouched (never regressed), otherwise the new marker lands FIRST
    * and older ones are swept after — a crash mid-advance leaves at
    * least one marker at or above the highest horizon ever requested.
    * One implementation so the crash-ordering reasoning lives in one
    * place (it was copy-pasted at three sites and had to be re-derived
    * per site).
    */
  def advanceRetentionMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      horizon: Long,
      name: String = "_retention"): Unit = {
    val retDir = new org.apache.hadoop.fs.Path(root, name)
    fs.mkdirs(retDir)
    val old = fs.listStatus(retDir).toSeq.filter(_.isFile)
      .map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
    if (!old.exists(_ >= horizon)) {
      fs.create(new org.apache.hadoop.fs.Path(retDir, horizon.toString),
        true).close()
      old.filter(_ < horizon).foreach(m =>
        fs.delete(new org.apache.hadoop.fs.Path(retDir, m.toString), false))
    }
    ()
  }

  /** Read a digit-named max-wins marker dir (`<root>/<name>/<value>`,
    * highest value wins) — the ONE copy of the marker convention shared
    * by `_nbuckets`, `_daywidth`, `_retention` and `_recency` readers (it was
    * re-implemented per site, one of them with a needless sort).
    * Non-digit names are foreign files and ignored; a missing dir is
    * simply "never recorded".
    */
  def readMaxDigitMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      name: String): Option[Long] = {
    val d = new org.apache.hadoop.fs.Path(root, name)
    if (!fs.exists(d)) None
    else fs.listStatus(d).toSeq.filter(_.isFile).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      .maxOption
  }

  /** Write a digit-named marker value (idempotent — an existing file is
    * left untouched). The write side of [[readMaxDigitMarker]]'s
    * convention for `_nbuckets`/`_daywidth`-style recorded parameters;
    * `_retention` advances through [[advanceRetentionMarker]], which
    * additionally sweeps superseded values.
    */
  def writeDigitMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      name: String,
      value: Long): Unit = {
    val d = new org.apache.hadoop.fs.Path(root, name)
    val m = new org.apache.hadoop.fs.Path(d, value.toString)
    if (!fs.exists(m)) { fs.mkdirs(d); fs.create(m).close() }
    ()
  }

  /** `(path segments below root, length)` of every VISIBLE data file
    * under `root`: a `listStatus` walk that neither descends into nor
    * returns a `_`/`.`-prefixed entry (sidecars, ledgers, staging,
    * stream metadata — the names Spark's file index skips). Not
    * `listFiles(root, true)`: on the local filesystem without native
    * Hadoop libraries, every `LocatedFileStatus` that builds loads its
    * permission by forking `ls -ld <file>`, and these listings need only
    * names and lengths.
    */
  private[graft] def visibleFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(List[String], Long)] = {
    def walk(dir: org.apache.hadoop.fs.Path,
        rel: List[String]): Seq[(List[String], Long)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath, rel :+ name)
        else Seq((rel :+ name, st.getLen))
      }
    if (fs.exists(root)) walk(root, Nil) else Nil
  }

  /** `(nFiles, bytes)` over the table's VISIBLE data files
    * ([[visibleFiles]]), skipping zero-length commit markers. The
    * layout-metadata half of the report ops.
    */
  def visibleFileStats(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): (Long, Long) = {
    val lens = visibleFiles(fs, root).map(_._2).filter(_ > 0)
    (lens.size.toLong, lens.sum)
  }

  /** The per-subdirectory file-compact due signal (round-13 verdict #1a):
    * ONE walk of `root` ([[visibleFiles]]) — the same walk
    * [[maintenanceDue]]'s table-wide `smallFiles` count pays — grouped by
    * first-level partition dir, returning the dirs whose OWN small-file
    * count trips `policy.maxSmallFiles`. A table-wide signal over a
    * hash-partitioned store fires on aggregate noise and sweeps every
    * partition; this scopes both the trigger and the unit of work to the
    * partitions actually accumulating files.
    */
  def dueSubdirs(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      policy: MaintenancePolicy,
      dirPrefix: String): Seq[String] = {
    val hp = new org.apache.hadoop.fs.Path(root)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    visibleFiles(fs, hp).collect {
      case (dir :: _ :: _, len) if dir.startsWith(dirPrefix) &&
          len > 0 && len < policy.smallFileBytes => dir
    }.groupBy(identity).collect {
      case (dir, files) if files.size > policy.maxSmallFiles => dir
    }.toSeq.sorted.map(d => new org.apache.hadoop.fs.Path(hp, d).toString)
  }

  /** The ONE reader of a store table whose columns the library's own
    * writer fixes: `ddl` is declared once beside that writer, and the read
    * takes it instead of inferring the schema — a schema-less
    * `spark.read.parquet` runs one footer-reading driver JOB per call,
    * and a `mergeSchema` read reads every footer. Columns the files lack
    * read as null (files written before a nullable column existed); an
    * INT column declared BIGINT widens on read. Partition columns (`seg`,
    * `shard`, `section`, ...) are declared like data columns and come
    * last.
    *
    * Tables whose columns the CALLER chooses keep their plain read, since
    * no declaration covers them:
    *  - the IVF `lists` (the caller's index rows plus `centroid_id`);
    *  - the SQ/PQ `codes`, whose id column the caller names;
    *  - the semantic cache store, whose whole-row rewrites carry the
    *    caller's `carryCols`;
    *  - the cache disposition history (the caller's batch columns);
    *  - the conversation stores: memory appends straddle an optional `ts`
    *    and the chat log carries caller-chosen columns, so
    *    `PartitionedTable.read` stays their one `mergeSchema` read.
    */
  private[graft] def readTable(
      spark: org.apache.spark.sql.SparkSession,
      ddl: String,
      paths: String*): DataFrame =
    spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .parquet(paths: _*)

  /** The tombstone-sidecar reader behind both uses — the probe side
    * ([[tombstonedIds]]) and the compact side ([[deadIds]]): the distinct
    * ids of the sidecar `paths` under the declared `idCol BIGINT`, so a
    * sidecar written with an INT id column widens instead of failing.
    * Distinct BEFORE any cap: repeated deletes of the same ids append
    * duplicate rows.
    */
  private def readDeadIds(
      spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String],
      idCol: String): DataFrame =
    readTable(spark, s"`$idCol` BIGINT", paths: _*).distinct()

  /** A compact's dead ids: the distinct ids of the sidecar files it
    * snapshotted ([[snapshotTombstoneFiles]]) — an empty frame when there
    * are none. Compacts anti-join this frame, which stays scale-safe at
    * any tombstone count (the probe-side cap does not apply).
    */
  private[graft] def deadIds(
      spark: org.apache.spark.sql.SparkSession,
      tombFiles: Seq[org.apache.hadoop.fs.Path],
      idCol: String): DataFrame =
    if (tombFiles.isEmpty) spark.range(0).select(col("id").as(idCol))
    else readDeadIds(spark, tombFiles.map(_.toString), idCol)

  /** The distinct dead-id set of a tombstone sidecar (empty when the
    * sidecar doesn't exist), memoized on the sidecar's FILE SIGNATURE
    * (names + lengths + mtimes — a cheap listStatus): repeated loadIndex
    * / loadIvf calls against an unchanged sidecar reuse the dead set
    * instead of re-paying an up-to-4M-row driver collect per load, and a
    * deleteDocs in between (new part file) invalidates the key.
    */
  private[graft] def tombstonedIds(
      spark: org.apache.spark.sql.SparkSession,
      tombPath: String,
      idCol: String,
      maxTombstones: Int = 1 << 22): Seq[Long] = {
    val tp = new org.apache.hadoop.fs.Path(tombPath)
    val fs = tp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(tp)) Seq.empty
    else {
      val sig = fs.listStatus(tp).toSeq
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
        .sortBy(_._1)
      tombCache.get(tombPath) match {
        case Some((cachedSig, ids)) if cachedSig == sig => ids
        case _ =>
          val rows = readDeadIds(spark, Seq(tombPath), idCol)
            .limit(maxTombstones + 1).collect()
          require(rows.length <= maxTombstones,
            s"probe: more than $maxTombstones tombstones at $tombPath — " +
              "compact the index before probing")
          val ids = rows.map(_.getLong(0)).toSeq
          // bound the cache: paths whose index was deleted wholesale are
          // never evicted by spend/clear, so past the cap the whole map
          // resets (a miss re-collects — cheap next to an unbounded
          // driver retaining dead indexes' 4M-id sets forever)
          if (tombCache.size >= 64) tombCache.clear()
          tombCache.put(tombPath, (sig, ids))
          ids
      }
    }
  }

  /** Probe-side tombstone exclusion shared by the at-rest index families
    * ([[graft.search.Bm25.loadIndex]], [[Ann.loadIvf]]): read the
    * sidecar — bounded by `maxTombstones` with a loud compact-first
    * refusal — and filter `df`. Small sets become a scan-stage `NOT IN`
    * predicate (pushed into the parquet scan); past 1024 ids a literal
    * In is prohibitive to even construct, so a broadcast anti-join takes
    * over (hash probe per row, no shuffle of the big side). Compaction
    * paths must NOT use this — they anti-join [[deadIds]], scale-safe at
    * any tombstone count.
    */
  private[graft] def excludeTombstoned(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      tombPath: String,
      idCol: String,
      maxTombstones: Int = 1 << 22): DataFrame = {
    import spark.implicits._
    val dead = tombstonedIds(spark, tombPath, idCol, maxTombstones)
    if (dead.isEmpty) df
    else if (dead.length <= 1024)
      df.where(!col(idCol).isin(dead.map(x => x: Any): _*))
    else df.join(broadcast(dead.toDF(idCol)), Seq(idCol), "left_anti")
  }

  /** (file signature, dead ids) per tombstone sidecar path — see
    * [[excludeTombstoned]]. Bounded two ways: each entry is capped at
    * `maxTombstones` ids by the loud refusal above, and the map resets
    * at 64 entries (spend/clear evict live paths; wholesale-deleted
    * index dirs would otherwise pin their dead sets forever).
    */
  private val tombCache =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[(String, Long, Long)], Seq[Long])]

  /** Snapshot the tombstone sidecar's data files at the START of a
    * compact. The compact's anti-join reads exactly these files, and
    * [[spendTombstoneFiles]] deletes exactly these files at the end — so
    * a `deleteDocs` issued while a long compact runs lands NEW part
    * files that survive the spend and stay excluded by the next probe,
    * instead of being silently discarded (revived) by a whole-directory
    * delete.
    */
  private[graft] def snapshotTombstoneFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      tombPath: String): Seq[org.apache.hadoop.fs.Path] = {
    val tp = new org.apache.hadoop.fs.Path(tombPath)
    if (!fs.exists(tp)) Seq.empty
    else fs.listStatus(tp).toSeq.filter(_.isFile).map(_.getPath)
      .filter { p =>
        val n = p.getName; !n.startsWith("_") && !n.startsWith(".")
      }
  }

  /** Delete exactly the snapshotted tombstone files (they were folded
    * into the compact's rewrite — spent); the directory itself is
    * removed only if no data file arrived since the snapshot.
    */
  private[graft] def spendTombstoneFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      tombPath: String,
      files: Seq[org.apache.hadoop.fs.Path]): Unit = {
    files.foreach(f => fs.delete(f, false))
    val tp = new org.apache.hadoop.fs.Path(tombPath)
    if (fs.exists(tp) && snapshotTombstoneFiles(fs, tombPath).isEmpty)
      fs.delete(tp, true)
    tombCache.remove(tombPath)
    ()
  }

  /** The `col=value` partition columns of the parquet table at `dir`,
    * outermost first — read from the first visible partition dir at each
    * level (a partitioned write nests every column at every leaf).
    */
  private def partitionColumns(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[String] =
    fs.listStatus(dir).find(e => e.isDirectory &&
        isDataName(e.getPath.getName) && e.getPath.getName.contains('='))
      .map(e => e.getPath.getName.takeWhile(_ != '=') +:
        partitionColumns(fs, e.getPath))
      .getOrElse(Seq.empty)

  /** Shared tombstone-folding compact for an id-keyed parquet table (the
    * SQ8/PQ `codes/` dirs — [[Sq.compactCodes]], [[Pq.compactCodes]] —
    * and the `centroid_id=`-partitioned IVF `lists/` —
    * [[Ann.compactIvf]]; the rewrite keeps the table's partition
    * columns): snapshot the sidecar's data files, anti-join exactly those
    * ids out of the table, refuse-to-empty, replace the dir
    * ([[replaceDirs]]), then spend only the snapshotted files — a delete
    * issued DURING the compact lands new part files that survive the
    * spend and stay excluded by the next probe (the
    * [[snapshotTombstoneFiles]] law). Returns (rows before, rows after).
    */
  private[graft] def compactKeyedTable(
      spark: org.apache.spark.sql.SparkSession,
      dataPath: String,
      tombPath: String,
      idCol: String,
      op: String): (Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(dataPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tombFiles = snapshotTombstoneFiles(fs, tombPath)
    val counts = replaceDirs(fs, Seq(dataPath)) { case Seq(staged) =>
    val data = spark.read.parquet(dataPath)
    // ONE ledger pass yields both counts (`dead` is distinct, so each
    // data row matches at most one dead row): count(*) is the old
    // `before` and count(__dead) the rows the anti-join below drops.
    // With the counts off `live`'s lineage, `live` is consumed exactly
    // once (the staged write), so the old double-execution checkpoint
    // (materializeOnce + a second count job) is gone too — the round-15
    // guide-§1.2 fusion, two data passes and a checkpoint down to one
    // pass.
    val dead =
      if (tombFiles.isEmpty) None else Some(deadIds(spark, tombFiles, idCol))
    val cnt = dead match {
      case None => null
      case Some(dd) => data
        .join(dd.withColumn("__dead", lit(1)), Seq(idCol), "left")
        .agg(count(lit(1)), count(col("__dead"))).head
    }
    val before = if (cnt == null) data.count() else cnt.getLong(0)
    val after = if (cnt == null) before else before - cnt.getLong(1)
    val live = dead match {
      case None => data
      case Some(dd) => data.join(dd, Seq(idCol), "left_anti")
    }
    // a partitioned write of zero rows emits no data files, and the
    // swapped-in dir could not be read
    require(after > 0,
      s"$op: every row at $dataPath is tombstoned — delete the index " +
        "directory instead of compacting to empty")
    live.write.mode("overwrite")
      .partitionBy(partitionColumns(fs, new org.apache.hadoop.fs.Path(dataPath)): _*)
      .parquet(staged)
    (before, after)
    }
    spendTombstoneFiles(fs, tombPath, tombFiles)
    counts
  }

  /** Shared overwrite-semantics tail for every at-rest `write*` rebuild
    * ([[graft.search.Bm25.writeIndex]], [[Ann.writeIvf]],
    * [[Hnsw.write]], [[Dedup.writeMinhash]]): a rebuild at `path`
    * replaces the WHOLE index state, so the `_tombstones` sidecar and
    * the `batches` streaming ledger from the previous life must go with
    * it — otherwise loadIndex silently excludes stale doc ids from the
    * fresh index forever, and appendIndexBatch silently no-ops batch ids
    * the previous index consumed.
    */
  private[graft] def clearIndexSidecars(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    Seq("_tombstones", "batches").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(hp, d)
      if (fs.exists(p)) fs.delete(p, true)
    }
    tombCache.remove(s"$path/_tombstones")
    ()
  }

  /** The shared batch-ledger half of the segment-lifecycle protocol
    * ([[Hnsw.appendBatch]], [[graft.search.Bm25.appendIndexBatch]]): run
    * `body` only if `batchId` is not yet in the parquet ledger at
    * `ledgerPath`, then record it — so `foreachBatch` at-least-once
    * re-delivery converges to exactly-once effects. The residual crash
    * window (effects applied, ledger row not yet written) is each
    * caller's responsibility to make benign — both index families do,
    * via probe-side duplicate folding (HNSW) or the doc-level ledger
    * (BM25). Returns true when the batch applied.
    */
  private[graft] def ledgeredBatch(
      spark: org.apache.spark.sql.SparkSession,
      ledgerPath: String,
      batchId: Long)(body: => Unit): Boolean = {
    val lp = new org.apache.hadoop.fs.Path(ledgerPath)
    val fs = lp.getFileSystem(spark.sessionState.newHadoopConf())
    // empty marker files named by batch id (the `_commits` recipe), not
    // a parquet ledger: a crash during a parquet ledger's very first
    // write left an existing-but-footerless dir that wedged every
    // subsequent replay on schema inference; a marker file either
    // exists or it doesn't. Single-writer contract (the streaming
    // checkpoint guarantees one driver per sink) — the exists/create
    // pair is not a cross-driver lock.
    migrateLegacyLedger(spark, fs, lp)
    val marker = new org.apache.hadoop.fs.Path(lp, batchId.toString)
    if (fs.exists(marker)) false
    else {
      body
      fs.mkdirs(lp)
      fs.create(marker).close()
      true
    }
  }

  /** Ledger dirs already checked for legacy parquet files this process —
    * the migration is one-time by construction, so re-listing the dir on
    * every `ledgeredBatch` call (once per micro-batch, forever) pays a
    * filesystem listing for a fact that can never change back. Keyed by
    * URI string; single-writer contract means no other process can
    * re-introduce legacy files behind the memo.
    */
  private val migratedLedgers =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** One-time upgrade of a pre-marker ledger: the previous format was a
    * parquet table of `batch_id` rows, which the marker-file read
    * (`fs.exists`) cannot see — an index whose batches were ledgered by
    * the old format would silently re-apply every one of them on
    * streaming replay (duplicate segments, doc-id disjointness violated).
    * On first touch of a ledger dir still holding parquet part files,
    * read the legacy ids ONCE, materialize each as a marker file, then
    * drop the parquet files — after which the dir is a pure marker
    * ledger. Bounded: the read is ledger-sized (one row per batch ever
    * applied).
    */
  private def migrateLegacyLedger(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      lp: org.apache.hadoop.fs.Path): Unit = {
    if (migratedLedgers.contains(lp.toString)) return
    if (!fs.exists(lp)) { migratedLedgers.add(lp.toString); return }
    val parquetFiles = fs.listStatus(lp).toSeq.filter(_.isFile)
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    if (parquetFiles.isEmpty) { migratedLedgers.add(lp.toString); return }
    val legacy = spark.read.parquet(parquetFiles.map(_.toString): _*)
    require(legacy.schema.fieldNames.contains("batch_id"),
      s"ledger at $lp holds parquet files without a batch_id column — " +
        "not a legacy batch ledger; refusing to migrate")
    val ids = legacy.select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0))
    ids.foreach { id =>
      val m = new org.apache.hadoop.fs.Path(lp, id.toString)
      if (!fs.exists(m)) fs.create(m).close()
    }
    // markers exist for every legacy id before any parquet file is
    // dropped, so a crash mid-migration only re-runs the (idempotent)
    // marker creation
    parquetFiles.foreach(f => fs.delete(f, false))
    // memo only on SUCCESS: a refused migration (non-ledger parquet in the
    // dir) must refuse again on retry, not silently proceed
    migratedLedgers.add(lp.toString)
  }

  /** Rows of `batch` whose `idCol` is not already present in the parquet
    * table at `existingPath` — the idempotent-append prefilter for the
    * ledgered streaming wrappers ([[graft.ops.Ann.appendIvfBatch]],
    * [[Sq.appendCodesBatch]], [[Pq.appendCodesBatch]]).
    * [[ledgeredBatch]]'s residual crash window (data appended, marker not
    * yet written) replays the batch on restart; without this filter the
    * replay appends exact duplicate rows and a probe serves the same id
    * at two ranks, silently displacing a real neighbor. BM25 closes the
    * window with its doc-level ledger and HNSW folds duplicates
    * probe-side; the flat code/list tables close it at APPEND time so the
    * probe hot path stays untouched. Scale shape: one O(batch) aggregate
    * computes the batch's [min,max] id range, the existing side is read
    * with that range PUSHED into the parquet scan (row-group skipping on
    * the id column — never a full index pass), and the survivors are
    * micro-batch-bounded so AQE broadcasts the anti join. Also dedups ids
    * WITHIN the batch (two rows with one id would be two probe ranks
    * forever). Returns `batch` unchanged when the table doesn't exist yet.
    *
    * APPEND-ONLY CONTRACT — as terminal as the tombstone law: an id
    * already in the table keeps its ORIGINAL row; a producer that
    * re-sends that id with an UPDATED embedding in a later batch has the
    * new vector silently dropped while the ledger still marks the batch
    * applied (exactly what makes crash replays benign — the filter
    * cannot tell an update from a replay). An update is delete (tombstone)
    * + re-append under the same id after compact, or an append under a
    * new id; never a blind re-send.
    */
  private[graft] def freshBatchRows(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      existingPath: String,
      idCol: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(existingPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val deduped = batch.dropDuplicates(Seq(idCol))
    if (!fs.exists(p)) return deduped
    val r = batch.agg(
      min(col(idCol).cast("long")), max(col(idCol).cast("long"))).head
    if (r.isNullAt(0)) return deduped // empty batch
    val existing = spark.read.parquet(existingPath)
      .select(col(idCol).cast("long").as("__existing_id"))
      .where(col("__existing_id").between(r.getLong(0), r.getLong(1)))
    deduped.join(existing,
      deduped(idCol).cast("long") === col("__existing_id"), "left_anti")
  }

  /** Batch ids recorded in a [[ledgeredBatch]] marker ledger, ascending. */
  private[graft] def ledgeredBatchIds(
      spark: org.apache.spark.sql.SparkSession, ledgerPath: String): Seq[Long] = {
    val lp = new org.apache.hadoop.fs.Path(ledgerPath)
    val fs = lp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(lp)) Seq.empty
    else {
      migrateLegacyLedger(spark, fs, lp)
      fs.listStatus(lp).toSeq.map(_.getPath.getName)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted
    }
  }

  /** When is maintenance due — the thresholds that close the gap between
    * "has the primitives" (merge/compact/file compaction exist in every
    * family) and "runs itself" at 100 TB. All knobs are per-index-path;
    * defaults are the Lucene-ish shape: ≤8 segments, ≤10% dead docs,
    * bounded small-file count.
    */
  final case class MaintenancePolicy(
      maxSegments: Int = 8,
      maxTombstones: Long = 1L << 20,
      maxTombstoneFraction: Double = 0.10,
      maxSmallFiles: Int = 64,
      smallFileBytes: Long = 16L << 20) {
    require(maxSegments >= 1 && maxTombstones >= 0 &&
      maxTombstoneFraction >= 0 && maxSmallFiles >= 0 && smallFileBytes > 0,
      s"nonsensical MaintenancePolicy: $this")
  }

  /** One index path's maintenance signals + the policy verdicts. */
  final case class MaintenanceStatus(
      segments: Int,
      tombstones: Long,
      smallFiles: Int,
      mergeDue: Boolean,
      compactDue: Boolean,
      fileCompactDue: Boolean) {
    def anyDue: Boolean = mergeDue || compactDue || fileCompactDue
  }

  /** Evaluate [[MaintenancePolicy]] against an at-rest index directory
    * from LAYOUT METADATA ONLY — no data-file scan, so a scheduler can
    * poll it per micro-batch:
    *
    *  - segments: `segmentCount` when the caller supplies the family's
    *    own notion, else `_commits/` markers (the BM25 segment
    *    convention), else the `segments/shard=N` partition-dir count (the
    *    HNSW convention); families without segment accumulation (IVF
    *    lists, SQ/PQ codes — appends land inside fixed partitions or as
    *    flat files) default to 1 and are governed by the tombstone and
    *    small-file signals instead. `mergeDue` past `maxSegments`.
    *  - tombstones: the `_tombstones/` sidecar's distinct dead-id count
    *    (the same signature-memoized collect every probe pays, bounded by
    *    the probe-side refusal); `compactDue` past `maxTombstones`, or
    *    past `maxTombstoneFraction` of `totalIds` when the caller knows
    *    the live cardinality (index stats carry it: Bm25 nDocs, HNSW
    *    segment counts).
    *  - small files: data files under the path (skipping `_`/`.` names —
    *    sidecars, ledgers, staging) smaller than `smallFileBytes`;
    *    `fileCompactDue` past `maxSmallFiles`. Listing is the same
    *    recursive listStatus a Spark read performs.
    *
    * The ACTIONS stay family-specific and value-invisible by the proven
    * contracts (b10/a13b merge, b8b/a9c compact) —
    * [[CorpusPipeline.maintainIndex]] is the policy loop that runs them.
    */
  def maintenanceDue(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      policy: MaintenancePolicy = MaintenancePolicy(),
      totalIds: Option[Long] = None,
      idCol: String = "doc_id",
      segmentCount: Option[Int] = None): MaintenanceStatus = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    def markerCount(dir: String): Option[Int] = {
      val p = new org.apache.hadoop.fs.Path(hp, dir)
      if (!fs.exists(p)) None
      else Some(fs.listStatus(p).count(s =>
        s.getPath.getName.nonEmpty && s.getPath.getName.forall(_.isDigit)))
    }
    def shardDirCount: Option[Int] = {
      val p = new org.apache.hadoop.fs.Path(hp, "segments")
      if (!fs.exists(p)) None
      else Some(fs.listStatus(p).count(s =>
        s.isDirectory && s.getPath.getName.startsWith("shard=")))
    }
    val segments = segmentCount
      .orElse(markerCount("_commits"))
      .orElse(shardDirCount)
      .getOrElse(1)
    val tombstones =
      tombstonedIds(spark, s"$path/_tombstones", idCol).length.toLong
    // zero-byte files are ledger MARKERS (`batches/<id>`), not data
    // files — no compaction can remove them, so counting them made
    // fileCompactDue latch permanently once a stream outlived the budget
    // and the sink re-ran its file compact every batch
    val smallFiles = visibleFiles(fs, hp)
      .count { case (_, len) => len > 0 && len < policy.smallFileBytes }
    val fracDue = totalIds.exists(t =>
      t > 0 && tombstones.toDouble / t >= policy.maxTombstoneFraction)
    MaintenanceStatus(
      segments = segments,
      tombstones = tombstones,
      smallFiles = smallFiles,
      mergeDue = segments > policy.maxSegments,
      compactDue = tombstones > policy.maxTombstones || fracDue,
      fileCompactDue = smallFiles > policy.maxSmallFiles)
  }
}
