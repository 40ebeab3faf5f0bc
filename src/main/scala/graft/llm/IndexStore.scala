package graft.llm

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Cross-application persistence for the standing indexes — the half of
  * "standing" that survives a restart (VERDICT r13 next-#1).
  *
  * Layout (format 3 — every mutation commits through ONE atomic pointer
  * flip; saves, saves over a live artifact, appends and compactions
  * alike):
  *
  * {{{
  * <path>/
  *   pool/<seg>/        immutable parquet data segments (partitioned)
  *   v<N>/              metadata GENERATIONS — tiny, data-free:
  *     _index_meta.json   flat string→string scalar sidecar
  *     graft_manifest/    parquet table (dir, rows, key_min, key_max)
  *                        naming the pool segments this generation serves
  *     <aux>/             caller aux tables (`model` for the ANN
  *                        families, `dfs` for BM25, …)
  *   _current           pointer file selecting the live generation
  * }}}
  *
  * The data table a generation serves is the union of the pool segments
  * its manifest names — the mini table-format shape (Iceberg/Delta
  * manifests). A fresh [[save]] lands one segment; an [[append]] lands
  * the batch as a NEW segment (invisible — no manifest names it) and
  * then commits a next generation whose manifest adds one row; a
  * [[compact]] rewrites the reachable segments into one and commits a
  * generation naming only it. At EVERY crash point a reader resolves
  * one complete generation whose manifest names only fully-committed
  * segments: a crash mid-append leaves an orphan pool dir that nothing
  * references (detectable via [[orphanPoolDirs]], reclaimed by the next
  * commit's one-generation-grace sweep), never a half-visible batch.
  * Because generations are metadata-only, the per-append commit cost is
  * O(manifest + aux tables), independent of the corpus.
  *
  * Key-range stats: a sidecar entry `key -> <int64 column>` (set by the
  * BM25 artifact, whose postings are keyed by `doc_id`) makes every
  * commit record the column's (min, max) per segment, read from the
  * parquet footers; [[segmentsFor]] prunes doc-scoped reads on them. A
  * segment without stats is never pruned.
  *
  * Maintenance ops (append/compact/save-over) are SINGLE-WRITER by
  * contract — the table-format convention (Iceberg's commit lock): a
  * concurrent writer's not-yet-committed pool segment is
  * indistinguishable from a crashed orphan.
  *
  * The COLD path is structural, not conventional: the load functions
  * take only `(session, path)`, so a probe over a loaded index CANNOT
  * consult the per-application [[SessionMemo]]s or model caches — every
  * model parameter rides the generation (scalars in the sidecar,
  * matrices/codebooks in the `model` aux table: parquet doubles are the
  * IEEE-754 bits themselves, so a reloaded centroid/codebook is
  * bit-equal to the trained one and cold probes certify against warm
  * probes by row-set identity, not tolerance).
  *
  * All IO goes through the Hadoop FileSystem API, so `path` may be
  * local, HDFS or an object store — the same code serves `local[32]`
  * certification and a 1000-executor deployment. The reference's analog
  * is the client fetching schemas/artifacts from the server at connect
  * (`clickhouse-arrow/src/client.rs:2263-2414`).
  *
  * The METADATA PLANE (listing, footer reads, schema resolution) runs on
  * the driver with no OS process and no Spark job, under three rules:
  *   - list with `FileSystem.listStatus`, never `listFiles`: the
  *     `LocatedFileStatus` it builds reads each file's permission, and the
  *     local FileSystem without libhadoop forks `ls -ld` to answer;
  *   - open footers on the session's Hadoop conf, never the one-argument
  *     `ParquetFileReader.open`, which parses a fresh Configuration per
  *     file;
  *   - take a table's schema from its first data file's footer, by
  *     Spark's own rule, and hand it to the reader: schema inference is
  *     a Spark job per scan.
  *
  * The WRITE PLANE (segment writes and their commit protocol, manifests,
  * sidecars, aux tables, the pointer flip) creates files and directories
  * without an OS process: on a graft session `file:` resolves to
  * [[graft.GraftLocalFileSystem]], which sets permission bits
  * in-process where Hadoop's local FileSystem, without libhadoop, forks
  * `chmod` for every file, `.crc` and directory.
  */
object IndexStore {

  /** Artifact format version, stamped into every sidecar — the loader
    * of an incompatible layout gets a named mismatch instead of a
    * silent misread. Format 1 (data/ inside the generation) and format
    * 2 (no key-range stats; the BM25 artifact served its dfs table as
    * data and kept its postings in a private pool) are retired; such an
    * artifact must be rebuilt from its source data. */
  val FormatVersion = "3"

  /** Name of the pointer file that selects the live generation. */
  private[llm] val PointerFile = "_current"

  /** Name of the generation's manifest table. Reserved — the aux-name
    * guard rejects it (not underscore-prefixed: Spark's file index
    * treats `_`-paths as hidden metadata and reads them only with a
    * warning — behavior not worth depending on). */
  private[llm] val ManifestTable = "graft_manifest"

  /** Test-only crash-injection hooks, production code never sets them:
    * [[appendHookAfterPool]] fires after an append's pool segment is
    * written but before its generation commits (the window the pre-r18
    * in-place append left a partial batch visible in);
    * [[commitHookBeforeFlip]] fires in EVERY commit (save/append/
    * compact) after the new generation is fully staged but before the
    * pointer flips; [[commitHookMidFlip]] fires inside the pointer flip,
    * between deleting the old pointer and renaming the new one in. */
  @volatile private[llm] var appendHookAfterPool: () => Unit = () => ()
  @volatile private[llm] var commitHookBeforeFlip: () => Unit = () => ()
  @volatile private[llm] var commitHookMidFlip: () => Unit = () => ()

  /** One manifest row: a pool segment, the rows committed in it, and —
    * when the sidecar names a `key` column — that column's (min, max)
    * across the segment. */
  private[llm] final case class Segment(dir: String, rows: Long,
      keyRange: Option[(Long, Long)])

  /** Write the index as a fresh artifact: one pool segment (+ the
    * partition columns that turn probes into partition-pruned scans at
    * scale) and a new generation naming it. Saving over an existing
    * artifact is itself one atomic flip — the superseded generation's
    * segments get one generation of grace (an in-flight reader of the
    * old snapshot must not lose files mid-scan) and are reclaimed by
    * the NEXT commit. */
  def save(index: DataFrame, path: String, meta: Map[String, String],
      partitionBy: Seq[String] = Nil,
      aux: Map[String, DataFrame] = Map.empty): Unit = {
    val s = index.sparkSession
    val seg = s"pool/b${segId()}"
    writeSegment(index, path, seg, partitionBy)
    val entry = segmentEntry(s, path, seg, meta)
    require(entry.rows > 0, s"IndexStore.save($path): refusing to save an EMPTY " +
      "index — an empty segment cannot be read back (no parquet footer) " +
      "and a standing artifact with no rows is a caller bug")
    commitGeneration(s, path, meta + ("partitions" -> partitionBy.mkString(",")),
      manifest = Seq(entry), aux = aux)
  }

  /** Disk-level index MAINTENANCE — the on-artifact half of the merge
    * contract: APPEND an admitted batch into the stored layout (same
    * partition columns, read from the sidecar). CRASH-ATOMIC: the batch
    * lands as a new pool segment no manifest names, then a
    * metadata-only generation (old manifest + 1 row, aux tables carried
    * forward) commits it in one pointer flip — zero shuffle and zero
    * rewrite of the standing data, and a reader never observes a
    * partial batch. The caller dedups admissions first (the DataFrame
    * merges' anti-join/dropDuplicates guard) — a segment append cannot.
    *
    * `derive`, when given, gets the COMMITTED segment (read back from
    * disk, so the write is the batch's one materialization) and the
    * current sidecar, and returns sidecar updates plus aux tables that
    * replace their carried-forward namesakes — state that rolls forward
    * with the data (BM25's dfs and (n, Σdl)) commits in the same flip.
    * Without a `derive` nothing reads the segment back. An
    * effectively-empty batch is a no-op (its segment is removed, no
    * generation commits, `derive` never runs) and returns false: a
    * zero-row manifest row would carry no key or partition stats
    * (ADVICE r17). */
  def append(batch: DataFrame, path: String,
      derive: Option[(DataFrame, Map[String, String]) =>
        (Map[String, String], Map[String, DataFrame])] = None): Boolean = {
    val s = batch.sparkSession
    val meta = readMeta(s, path)
    val seg = s"pool/b${segId()}"
    writeSegment(batch, path, seg, partitionsOf(meta))
    appendHookAfterPool()
    val entry = segmentEntry(s, path, seg, meta)
    if (entry.rows == 0L) {
      val p = new Path(s"$path/$seg")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      return false
    }
    val (metaUpdates, aux) = derive match {
      case Some(f) => f(readParquet(s, s"$path/$seg"), meta)
      case None => (Map.empty[String, String], Map.empty[String, DataFrame])
    }
    commitGeneration(s, path, meta ++ metaUpdates,
      manifest = manifestEntries(s, path) :+ entry,
      aux = aux, auxCopyFrom = Some(resolveDir(s, path)))
    true
  }

  /** COMPACTION — appends fragment the artifact one segment per batch;
    * periodic compaction rewrites the manifest-reachable segments into
    * ONE (hash repartition on the partition columns — one task's output
    * per live value; unpartitioned artifacts coalesce to
    * ceil(bytes/target) files, never a single file at scale) and
    * commits a generation naming only it, aux tables byte-copied.
    * Readers never see a half-compacted artifact (same one-flip commit
    * as appends); the superseded segments get one generation of grace
    * before the next commit's sweep reclaims them. */
  def compact(s: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Unit = {
    val meta = readMeta(s, path)
    val parts = partitionsOf(meta)
    val df = load(s, path)
    val seg = s"pool/c${segId()}"
    val targetFiles =
      math.max(1L, (poolBytes(s, path) + targetBytes - 1) / targetBytes)
    val compacted =
      if (parts.nonEmpty) df.repartition(parts.map(col): _*)
      else df.coalesce(targetFiles.toInt)
    writeSegment(compacted, path, seg, parts, forceOneFilePerTask = true)
    commitGeneration(s, path, meta, manifest = Seq(segmentEntry(s, path, seg, meta)),
      aux = Map.empty, auxCopyFrom = Some(resolveDir(s, path)))
    // post-conditions (ADVICE r16: `after <= before` row gates would let
    // a silently no-op'd compaction pass on already-minimal fixtures):
    // the committed manifest names exactly the compacted segment, and
    // its file count is bounded — one file per live partition value
    // (repartition hashes each value into one task; the write forces
    // maxRecordsPerFile=0 so a session's writer-split setting cannot
    // fragment it — ADVICE r17), or at most ceil(bytes/target) files
    // unpartitioned — so a compaction whose rewrite stopped running
    // fails HERE, on every fixture. The live partition values are the
    // compacted segment's own partition directories, counted by a
    // driver listing (r18).
    val committed = manifestEntries(s, path).map(_.dir)
    require(committed == Seq(seg),
      s"index compaction at $path did not collapse the manifest to the " +
        s"compacted segment $seg: $committed")
    val actual = dataFileCount(s, path)
    if (parts.nonEmpty) {
      val expected = parquetFiles(s, s"$path/$seg")
        .map(_.getParent.toString).distinct.size
      require(actual == expected,
        s"index compaction at $path left $actual data files for " +
          s"$expected live partition values — the rewrite did not run " +
          "one-task-per-partition")
    } else require(actual <= targetFiles,
      s"index compaction at $path wrote $actual data files, over the " +
        s"computed ceil(bytes/target) = $targetFiles")
  }

  // ---- the one commit protocol every mutation rides ----

  /** Stage generation v<next> (manifest table + aux tables + sidecar —
    * metadata only, invisible until the pointer names it), flip the
    * pointer, then clean up: superseded generation dirs go immediately
    * (readers of the OLD frame keep their snapshot — parquet files are
    * immutable once read-planned — and pool segments are what scans
    * actually hold open); pool segments get ONE generation of grace —
    * only segments named by NEITHER the new manifest NOR the
    * just-superseded one are deleted, so crashed appends' orphans and
    * compaction's inputs are reclaimed one commit later, never out from
    * under an in-flight reader of the previous snapshot. */
  private def commitGeneration(s: SparkSession, path: String,
      meta: Map[String, String], manifest: Seq[Segment],
      aux: Map[String, DataFrame],
      auxCopyFrom: Option[String] = None): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prevSegs = prevManifestSegs(s, fs, root, path)
    val next = versionsOf(fs, root).map(_._1).foldLeft(0L)(math.max) + 1
    val gen = s"$path/v$next"
    aux.foreach { case (name, df) =>
      require(name != ManifestTable && !name.startsWith("_") && name != "data"
          && !name.contains("/"),
        s"index aux table name '$name' collides with the artifact layout")
      // metadata-sized aux tables (the ANN model table) arrive as
      // driver-local relations — written driver-side like the generation
      // manifest (r19; the LocalTableScan write job per commit was pure
      // scheduling overhead, same as r18's manifest finding). Anything
      // not local / not flat (BM25's dfs) falls back to Spark.
      if (!writeLocalAuxFile(s, s"$gen/$name", df))
        df.write.mode("overwrite").parquet(s"$gen/$name")
    }
    // carry-forward aux tables copy as BYTES (r18 optimization: the old
    // Spark read + localCheckpoint + rewrite per aux table per mutation
    // cost three jobs to reproduce files that are immutable anyway; a
    // driver-side copy is O(model bytes) and bit-identical) — except
    // the ones this commit replaces
    auxCopyFrom.foreach { fromGen =>
      val from = new Path(fromGen)
      fs.listStatus(from).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && !name.startsWith("_") && name != ManifestTable
            && !aux.contains(name))
          require(org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
            new Path(s"$gen/$name"), false,
            s.sparkContext.hadoopConfiguration),
            s"index commit: cannot carry aux table ${st.getPath} into $gen")
      }
    }
    writeManifestFile(s, s"$gen/$ManifestTable", manifest)
    writeMeta(s, s"$gen/_index_meta.json", meta ++ Map("format" -> FormatVersion))
    commitHookBeforeFlip()
    flipPointer(fs, root, next, commitHookMidFlip)
    versionsOf(fs, root).foreach { case (n, dir) =>
      if (n != next) fs.delete(dir, true)
    }
    sweepPool(fs, root, keep = (manifest.map(_.dir) ++ prevSegs).toSet)
  }

  /** Delete pool segments named by no retained manifest (the
    * one-generation-grace sweep: `keep` = new manifest ∪ the
    * just-superseded one). */
  private def sweepPool(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      keep: Set[String]): Unit = {
    val pool = new Path(root, "pool")
    if (!fs.exists(pool)) return
    val keepNames = keep.map(_.stripPrefix("pool/"))
    fs.listStatus(pool).foreach { st =>
      if (st.isDirectory && !keepNames.contains(st.getPath.getName))
        fs.delete(st.getPath, true)
    }
  }

  // ---- segment plumbing ----

  private def segId(): String =
    java.util.UUID.randomUUID().toString.take(8)

  private def writeSegment(df: DataFrame, path: String, seg: String,
      partitionBy: Seq[String], forceOneFilePerTask: Boolean = false): Unit = {
    var w = df.write.mode("overwrite")
    // compaction's one-file-per-partition post-condition must not be
    // broken by a session-level writer split (ADVICE r17:
    // spark.sql.files.maxRecordsPerFile would false-fail it)
    if (forceOneFilePerTask) w = w.option("maxRecordsPerFile", 0L)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(s"$path/$seg")
  }

  /** Every committed parquet data file under `dir` (recursive —
    * partitioned segments nest one level per partition column). */
  private[llm] def parquetFiles(s: SparkSession, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // listStatus, never listFiles: a LocatedFileStatus reads each file's
    // permission, which the local FileSystem answers without libhadoop
    // by forking `ls -ld` per file (Spark's file index lists the same way)
    def walk(d: Path): Seq[Path] = fs.listStatus(d).toSeq.flatMap { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath)
      else Nil
    }
    if (fs.exists(p)) walk(p) else Nil
  }

  /** Open one parquet file's footer on the session's Hadoop conf (the
    * one-argument `ParquetFileReader.open` builds, and parses, a fresh
    * Hadoop Configuration per file). */
  private def openFooter(s: SparkSession, f: Path): ParquetFileReader = {
    val conf = s.sparkContext.hadoopConfiguration
    ParquetFileReader.open(HadoopInputFile.fromPath(f, conf),
      HadoopReadOptions.builder(conf).build())
  }

  /** Group-API record reader over one parquet file, on the session's
    * Hadoop conf (`ParquetReader.builder(support, path)` parses a fresh
    * Configuration per file before `withConf` replaces it). */
  private def groupReader(s: SparkSession, f: Path): ParquetReader[Group] =
    new ParquetReader.Builder[Group](
        HadoopInputFile.fromPath(f, s.sparkContext.hadoopConfiguration)) {
      override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
    }.build()

  /** The row schema Spark infers for the parquet table under `dirs`,
    * taken driver-side from ONE footer by Spark's own non-merging rule:
    * the first data file by path, its stamped Spark schema, else its
    * converted parquet schema. None when `dirs` hold no data file. */
  private def footerSchema(s: SparkSession, dirs: Seq[String]): Option[StructType] =
    dirs.flatMap(parquetFiles(s, _)).sortBy(_.toString).headOption.map { f =>
      val r = openFooter(s, f)
      try ParquetFileFormat.readSchemaFromFooter(new Footer(f, r.getFooter),
        new ParquetToSparkSchemaConverter(s.sessionState.conf))
      finally r.close()
    }

  /** `s.read.parquet(dirs)` with the footer schema handed in, so no
    * schema-inference job runs; partition columns are still discovered
    * from the directory names. */
  private def readParquet(s: SparkSession, dirs: String*): DataFrame =
    footerSchema(s, dirs).fold(s.read)(s.read.schema(_)).parquet(dirs: _*)

  /** (rows, min, max) of one INT64 column across the committed parquet
    * files under `dir`, read from the FOOTERS (record counts + column
    * statistics — stats of what is actually on disk, no scan job).
    * Returns None for the range when any footer lacks usable stats for
    * the column or the dir holds no rows. Parquet min/max statistics are
    * exact for INT64 — the Iceberg-manifest trick [[segmentsFor]] prunes
    * on. */
  private[llm] def parquetLongStats(s: SparkSession, dir: String,
      column: String): (Long, Option[(Long, Long)]) = {
    var rows = 0L
    var lo = Long.MaxValue
    var hi = Long.MinValue
    var statsOk = true
    parquetFiles(s, dir).foreach { f =>
      val r = openFooter(s, f)
      try {
        val footer = r.getFooter
        import scala.jdk.CollectionConverters._
        footer.getBlocks.asScala.foreach { block =>
          rows += block.getRowCount
          if (block.getRowCount > 0) {
            block.getColumns.asScala.find(
              _.getPath.toDotString == column) match {
              case Some(c) =>
                val st = c.getStatistics
                if (st == null || !st.hasNonNullValue) statsOk = false
                else st match {
                  case ls: org.apache.parquet.column.statistics.LongStatistics =>
                    lo = math.min(lo, ls.getMin); hi = math.max(hi, ls.getMax)
                  case _ => statsOk = false
                }
              case None => statsOk = false
            }
          }
        }
      } finally r.close()
    }
    (rows, if (statsOk && rows > 0) Some((lo, hi)) else None)
  }

  /** Total rows of the live artifact, from the manifest's per-segment
    * counts (r19): [[load]] reads exactly the manifest's segments, so
    * this is the same integer as `load(s, path).count()` with no scan
    * job — the density knobs of a COLD probe resolve through it. */
  private[llm] def manifestRowTotal(s: SparkSession, path: String): Long =
    manifestEntries(s, path).map(_.rows).sum

  /** The manifest row for a just-written segment: its rows (and, when
    * the sidecar names a `key` column, that column's range) read back
    * from the parquet footers — what IS on disk, not what the frame
    * promised; no scan job. */
  private def segmentEntry(s: SparkSession, path: String, seg: String,
      meta: Map[String, String]): Segment = meta.get("key") match {
    case Some(key) =>
      val (rows, range) = parquetLongStats(s, s"$path/$seg", key)
      Segment(seg, rows, range)
    case None => Segment(seg, parquetRowCount(s, s"$path/$seg"), None)
  }

  /** Exact row count of the parquet files under `dir`, summed from the
    * FOOTERS' record counts driver-side — identical to a Spark `count()`
    * of the same files without the scan job. A segment's committed rows
    * are read back this way (r18: the read-plan + count job this used to
    * launch per save/append/compact was pure overhead), so the manifest
    * records what IS there, not what the frame promised; density knobs
    * over raw fixture corpora resolve through it too (r19; production
    * reads the same number from its table format's snapshot metadata). */
  private[llm] def parquetRowCount(s: SparkSession, dir: String): Long =
    parquetFiles(s, dir).map { f =>
      val r = openFooter(s, f)
      try r.getRecordCount finally r.close()
    }.sum

  private def poolBytes(s: SparkSession, path: String): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    manifestEntries(s, path).map { e =>
      val p = new Path(s"$path/${e.dir}")
      p.getFileSystem(conf).getContentSummary(p).getLength
    }.sum
  }

  /** Write the generation's manifest table driver-side (one tiny parquet
    * file via parquet-hadoop; r18 optimization: the LocalTableScan write
    * job per commit was pure scheduling overhead). Footer-compatible
    * with the Spark-written form — the specs read it back as a table. */
  private def writeManifestFile(s: SparkSession, dir: String,
      entries: Seq[Segment]): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message graft_manifest { required binary dir (UTF8); required int64 rows; " +
        "optional int64 key_min; optional int64 key_max; }")
    val file = new Path(s"$dir/part-00000.parquet")
    val fs = file.getFileSystem(conf)
    if (fs.exists(new Path(dir))) fs.delete(new Path(dir), true)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
      .withConf(conf).build()
    try entries.foreach { e =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
      g.add("dir", e.dir); g.add("rows", e.rows)
      e.keyRange.foreach { case (lo, hi) => g.add("key_min", lo); g.add("key_max", hi) }
      writer.write(g)
    } finally writer.close()
  }

  /** Driver-side parquet write of a METADATA-SIZED aux table (r19):
    * supported when the frame is a driver-local relation (collect is
    * then job-free — `LocalTableScanExec.executeCollect` returns the
    * rows directly) over a flat schema of long/int/double/string plus
    * non-null `array<double>` columns (the ANN model table). Layout matches what Spark writes — standard 3-level
    * lists (`col (LIST) > repeated list > required element`), optional
    * fields omitted when null — so every existing reader (Spark scans
    * in the crash specs, the Group-API readers here) is untouched.
    * Returns false (caller falls back to a Spark write) for any other
    * plan or schema. */
  private def writeLocalAuxFile(s: SparkSession, dir: String,
      df: DataFrame): Boolean = {
    import org.apache.spark.sql.types._
    val isLocal = df.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    if (!isLocal) return false
    def fieldSpec(f: StructField): Option[String] = {
      val rep = if (f.nullable) "optional" else "required"
      f.dataType match {
        case LongType => Some(s"$rep int64 ${f.name};")
        case IntegerType => Some(s"$rep int32 ${f.name};")
        case DoubleType => Some(s"$rep double ${f.name};")
        case StringType => Some(s"$rep binary ${f.name} (UTF8);")
        case ArrayType(DoubleType, false) =>
          Some(s"$rep group ${f.name} (LIST) " +
            "{ repeated group list { required double element; } }")
        case _ => None
      }
    }
    val specs = df.schema.fields.map(fieldSpec)
    if (specs.exists(_.isEmpty)) return false
    val conf = s.sparkContext.hadoopConfiguration
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      specs.flatten.mkString("message aux { ", " ", " }"))
    val file = new Path(s"$dir/part-00000.parquet")
    val fs = file.getFileSystem(conf)
    if (fs.exists(new Path(dir))) fs.delete(new Path(dir), true)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
      .withConf(conf).build()
    try df.collect().foreach { row =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
      df.schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (!row.isNullAt(i)) f.dataType match {
          case LongType => g.add(f.name, row.getLong(i))
          case IntegerType => g.add(f.name, row.getInt(i))
          case DoubleType => g.add(f.name, row.getDouble(i))
          case StringType => g.add(f.name, row.getString(i))
          case ArrayType(DoubleType, false) =>
            val lg = g.addGroup(f.name)
            row.getSeq[Double](i).foreach(v =>
              lg.addGroup("list").add("element", v))
          case other => throw new IllegalStateException(
            s"writeLocalAuxFile: unreachable type $other")
        }
      }
      writer.write(g)
    } finally writer.close()
    true
  }

  /** The segment entries of the CURRENT generation's manifest, sorted
    * for deterministic read planning, read as driver-side parquet record
    * iteration (metadata-sized by contract — one row per live segment,
    * bounded by the append count between compactions; r18 optimization:
    * a Spark read of the tiny table cost a full job per call, and
    * [[load]]/[[append]]/[[compact]]/probes all call this). The table
    * stays an ordinary parquet table — Spark reads it fine (the
    * crash-injection specs do). */
  private[llm] def manifestEntries(s: SparkSession, path: String): Seq[Segment] = {
    val out = Seq.newBuilder[Segment]
    parquetFiles(s, s"${resolveDir(s, path)}/$ManifestTable").foreach { f =>
      val reader = groupReader(s, f)
      try {
        var g = reader.read()
        while (g != null) {
          val range =
            if (g.getFieldRepetitionCount("key_min") == 0) None
            else Some((g.getLong("key_min", 0), g.getLong("key_max", 0)))
          out += Segment(g.getString("dir", 0), g.getLong("rows", 0), range)
          g = reader.read()
        }
      } finally reader.close()
    }
    out.result().toIndexedSeq.sortBy(_.dir)
  }

  /** The manifest segments a read scoped to the key values `ids` must
    * open: a segment whose recorded key range holds none of them is
    * skipped before any parquet is opened; a segment without stats is
    * never pruned. Correctness does not ride the stats — callers still
    * filter the rows of the segments returned. */
  private[llm] def segmentsFor(s: SparkSession, path: String,
      ids: Seq[Long]): Seq[String] = {
    val sorted = ids.distinct.sorted.toArray
    manifestEntries(s, path).filter(_.keyRange.forall { case (lo, hi) =>
      // any requested id inside [lo, hi]? (ids sorted — binary search)
      val i = java.util.Arrays.binarySearch(sorted, lo)
      val from = if (i >= 0) i else -i - 1
      from < sorted.length && sorted(from) <= hi
    }).map(_.dir)
  }

  /** The previous generation's manifest segments, for the
    * one-generation-grace sweep — empty when no intact generation
    * exists yet (first save onto a fresh root, or the fallback resolves
    * a half-staged generation a crash left behind). */
  private def prevManifestSegs(s: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: Path,
      path: String): Seq[String] =
    if (versionsOf(fs, root).isEmpty) Nil
    else try manifestEntries(s, path).map(_.dir)
    catch { case _: Exception => Nil }

  /** Pool segments the current generation does NOT reference — crashed
    * appends' leftovers plus segments inside their one-generation
    * grace. A partial append is DETECTABLE, never servable: its segment
    * shows up here and in no manifest. */
  def orphanPoolDirs(s: SparkSession, path: String): Seq[String] = {
    val pool = new Path(s"$path/pool")
    val fs = pool.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(pool)) return Nil
    val live = manifestEntries(s, path).map(_.dir.stripPrefix("pool/")).toSet
    fs.listStatus(pool).toSeq.collect {
      case st if st.isDirectory && !live.contains(st.getPath.getName) =>
        s"pool/${st.getPath.getName}"
    }.sorted
  }

  /** Audit the served artifact against its manifest: every named
    * segment must hold exactly the row count recorded at commit time —
    * a truncated or tampered segment fails loudly here. (A CRASHED
    * append can never trip this: its segment is unreferenced.) */
  def verifyManifest(s: SparkSession, path: String): Unit =
    manifestEntries(s, path).foreach { case Segment(seg, rows, _) =>
      val actual = parquetRowCount(s, s"$path/$seg")
      require(actual == rows,
        s"index artifact at $path: segment $seg holds $actual rows, " +
          s"manifest recorded $rows — the segment is damaged; restore it " +
          "or rebuild the artifact from source")
    }

  /** Number of parquet data files reachable from the current manifest
    * (fragmentation measure for the compaction contract). */
  def dataFileCount(s: SparkSession, path: String): Long =
    manifestEntries(s, path).map(e => parquetFiles(s, s"$path/${e.dir}").size.toLong).sum

  /** Load the index table: the union of the pool segments the current
    * generation's manifest names (a crashed append's orphans are
    * invisible by construction), after the sidecar's format check.
    * Takes only (session, path) — by construction no per-application
    * cache can be consulted. Building the frame runs no job: every
    * scan takes its schema from a footer. An unpartitioned artifact is
    * one scan over its segment dirs; a partitioned one scans each
    * segment separately (Spark cannot infer partition columns across
    * sibling roots) — filters and
    * partition pruning push into every branch of the union, so a
    * cell-pruned probe still reads only the probed cells of each
    * segment. */
  def load(s: SparkSession, path: String): DataFrame = {
    val partitioned = partitionsOf(readMeta(s, path)).nonEmpty
    val dirs = manifestEntries(s, path).map(e => s"$path/${e.dir}")
    require(dirs.nonEmpty, s"index artifact at $path has an empty manifest")
    if (partitioned) dirs.map(readParquet(s, _)).reduce(_ unionByName _)
    else readParquet(s, dirs: _*)
  }

  /** Load an aux table committed with the artifact's current generation
    * (same (session, path)-only cold contract as [[load]]). */
  def loadAux(s: SparkSession, path: String, name: String): DataFrame =
    readParquet(s, s"${resolveDir(s, path)}/$name")

  /** Atomic pointer flip: write-temp + delete + rename (HDFS rename
    * does not overwrite); the delete→rename window is covered by the
    * max-generation fallback in [[resolveDir]]. */
  private def flipPointer(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, next: Long, midHook: () => Unit): Unit = {
    val tmp = new Path(root, PointerFile + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(s"v$next".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val ptr = new Path(root, PointerFile)
    if (fs.exists(ptr)) fs.delete(ptr, false)
    midHook()
    require(fs.rename(tmp, ptr),
      s"index commit: cannot flip pointer to v$next at $root")
  }

  /** Generation directories `v<N>` under an artifact root. */
  private def versionsOf(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[(Long, Path)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.matches("v\\d+") =>
        (st.getPath.getName.drop(1).toLong, st.getPath)
    }

  /** The generation the pointer names, if a pointer exists. */
  private def currentPointer(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Option[String] = {
    val ptr = new Path(root, PointerFile)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      val v = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
      if (v.nonEmpty) Some(v) else None
    }
  }

  /** Directory holding the sidecar/manifest/aux for the artifact at
    * `path`: the pointer's generation when a pointer exists; otherwise
    * the highest complete generation — the pointer-flip crash-window
    * fallback ([[flipPointer]]'s delete→rename moment). The pre-r17
    * flat layout (`path/data` + sidecar at the root, no generation
    * pointer) errors loudly: a flat dir that still resolved would
    * silently serve a half-written legacy artifact. There is no
    * in-place migration (ADVICE r17: "re-save through IndexStore.save"
    * was circular — the loader itself refused the layout) — rebuild
    * the artifact from its source data. */
  private[llm] def resolveDir(s: SparkSession, path: String): String = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    currentPointer(fs, root) match {
      case Some(v) => s"$path/$v"
      case None =>
        require(!fs.exists(new Path(root, "data")),
          s"index artifact at $path uses the retired pre-r17 flat layout " +
            "(data/ + sidecar at the root, no generation pointer) — " +
            "rebuild the artifact from its source data; this reader has " +
            "no migration path for it")
        versionsOf(fs, root).sortBy(-_._1).headOption
          .map(_._2.toString).getOrElse(path)
    }
  }

  private[llm] def partitionsOf(meta: Map[String, String]): Seq[String] =
    meta.getOrElse("partitions", "").split(",").toSeq.filter(_.nonEmpty)

  // ---- metadata sidecar: a flat string→string JSON object ----

  def writeMeta(s: SparkSession, file: String, meta: Map[String, String]): Unit = {
    val p = new Path(file)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val json = meta.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{\n  ", ",\n  ", "\n}\n")
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readMeta(s: SparkSession, path: String): Map[String, String] = {
    val p = new Path(s"${resolveDir(s, path)}/_index_meta.json")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val meta = parseFlat(json)
    require(meta.getOrElse("format", FormatVersion) == FormatVersion,
      s"index artifact at $path has format ${meta("format")}, this reader " +
        s"speaks $FormatVersion — rebuild the artifact from its source data")
    meta
  }

  private def esc(v: String) =
    v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  /** Flat string→string JSON scanner (quotes/backslash/newline escapes).
    * Character-level on purpose: a backtracking regex overflows the
    * stack on long values. (Format 2 keeps sidecar values scalar-sized —
    * model matrices ride the `model` aux TABLE, r17 verdict #3.) */
  private[llm] def parseFlat(json: String): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    var i = 0
    def str(): String = { // positioned ON the opening quote
      i += 1
      val sb = new java.lang.StringBuilder
      while (json.charAt(i) != '"') {
        if (json.charAt(i) == '\\') {
          json.charAt(i + 1) match {
            case 'n' => sb.append('\n')
            case c => sb.append(c)
          }
          i += 2
        } else { sb.append(json.charAt(i)); i += 1 }
      }
      i += 1
      sb.toString
    }
    while (i < json.length) {
      if (json.charAt(i) == '"') {
        val k = str()
        while (json.charAt(i) != ':') i += 1
        i += 1
        while (json.charAt(i) != '"') i += 1
        b += k -> str()
      } else i += 1
    }
    b.result()
  }

  // ---- model state as an aux TABLE (r17 verdict #3: centroid
  // matrices/codebooks as multi-MB sidecar strings parsed
  // character-by-character do not scale to density-sized nlist; parquet
  // doubles ARE the IEEE-754 bits, so the bit-exact-reload guarantee
  // strengthens — no decimal round-trip at all). One table holds every
  // matrix/cube a family needs: (name, f, i, vec), f = subspace index
  // (0 for plain matrices), rows ordered on read by (name, f, i). ----

  /** Name of the conventional model aux table. */
  val ModelTable = "model"

  def modelDf(s: SparkSession,
      matrices: Map[String, Array[Array[Double]]],
      cubes: Map[String, Array[Array[Array[Double]]]] = Map.empty): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    matrices.foreach { case (name, m) =>
      m.zipWithIndex.foreach { case (v, i) => rows.add(Row(name, 0, i, v.toSeq)) }
    }
    cubes.foreach { case (name, c) =>
      c.zipWithIndex.foreach { case (m, f) =>
        m.zipWithIndex.foreach { case (v, i) => rows.add(Row(name, f, i, v.toSeq)) }
      }
    }
    s.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("f", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("i", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false),
        nullable = false))))
  }

  /** Every (name, f, i, vec) row of the model aux table, read ONCE
    * driver-side from the parquet files (bit-exact: parquet doubles
    * round-trip as raw IEEE-754; bounded — model tables are
    * O(nlist × dim + m × ksub × subdim) by contract). r18 optimization:
    * each cold probe used to launch one Spark collect job PER
    * matrix/cube it loaded; a composed IVF-PQ cold probe paid two scans
    * of the same tiny table. */
  private def readModelRows(s: SparkSession, path: String)
      : Seq[(String, Int, Int, Array[Double])] = {
    val out = Seq.newBuilder[(String, Int, Int, Array[Double])]
    val files = parquetFiles(s, s"${resolveDir(s, path)}/$ModelTable")
    try {
      files.foreach { f =>
        val reader = groupReader(s, f)
        try {
          var g = reader.read()
          while (g != null) {
            // Spark writes array<double> as the 3-level list structure:
            // vec (LIST) > list (repeated group) > element (double)
            val vecG = g.getGroup("vec", 0)
            val n = vecG.getFieldRepetitionCount(0)
            val v = new Array[Double](n)
            var j = 0
            while (j < n) { v(j) = vecG.getGroup(0, j).getDouble(0, 0); j += 1 }
            out += ((g.getString("name", 0), g.getInteger("f", 0),
              g.getInteger("i", 0), v))
            g = reader.read()
          }
        } finally reader.close()
      }
      out.result()
    } catch {
      // structural fallback (ADVICE r18): the fast path assumes the
      // standard 3-level list encoding Spark writes by default; a model
      // table written under a different layout (e.g. a session with
      // spark.sql.parquet.writeLegacyFormat=true) must still LOAD —
      // bit-exactly, via the Spark reader that understands every parquet
      // list encoding — not throw a Group-structure error. One Spark
      // collect job, only on the mismatch path.
      case _: RuntimeException | _: ClassCastException =>
        import s.implicits._
        loadAux(s, path, ModelTable)
          .select(col("name"), col("f"), col("i"),
            col("vec").cast("array<double>"))
          .as[(String, Int, Int, Array[Double])]
          .collect().toSeq
    }
  }

  /** Read one matrix back from the model aux table (bit-exact: parquet
    * doubles round-trip as raw IEEE-754; driver-side footer read — no
    * scan job). */
  def readModelMatrix(s: SparkSession, path: String, name: String): Array[Array[Double]] = {
    val rows = readModelRows(s, path).filter(_._1 == name)
    require(rows.nonEmpty, s"model table at $path has no entry '$name'")
    rows.sortBy(_._3).map(_._4).toArray
  }

  /** Read one cube (array of matrices, e.g. per-subspace PQ codebooks)
    * back from the model aux table. */
  def readModelCube(s: SparkSession, path: String, name: String): Array[Array[Array[Double]]] = {
    val rows = readModelRows(s, path).filter(_._1 == name)
    require(rows.nonEmpty, s"model table at $path has no entry '$name'")
    rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_._3).map(_._4).toArray
    }.toArray
  }

  // ---- exact integer codec for SCALAR-SIZED sidecar values (the
  // IVF-PQ subspace bounds); matrices and codebooks ride [[modelDf]] ----

  def encodeInts(v: Array[Int]): String = v.mkString(",")
  def decodeInts(s: String): Array[Int] =
    if (s.isEmpty) Array.empty else s.split(",", -1).map(_.toInt)
}
