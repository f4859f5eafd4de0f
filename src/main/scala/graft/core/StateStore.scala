package graft.core

import graft.Overlap
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.Properties
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Segment-log table store with an atomically-swapped manifest — the
  * Spark-native analogue of the reference's transactional unit-of-work
  * (SURVEY.md T3: `EfBlockUnitOfWork.CommitAsync:94-121`): one commit
  * persists every reducer's rows AND every reducer's checkpoint; a crash
  * before the manifest swap leaves the previous state fully intact.
  *
  * Design (the 100 TB story):
  *  - every table is an append-only list of parquet *segments*, each
  *    carrying min/max-slot stats in the manifest — the analogue of the
  *    reference's `HasIndex(SpentSlot)`/slot indexes (P9) and of
  *    Delta-style file stats. Appends never rewrite existing data.
  *  - segment stats are collected with `Dataset.observe` DURING the
  *    parquet write — one job per append, not a stats pass plus a write
  *    pass over a cached copy.
  *  - retraction (`DELETE WHERE slot >= s`, reference T5/O3) drops whole
  *    segments whose minSlot >= s and rewrites only segments straddling
  *    s — work proportional to the reorg depth, not the table size.
  *  - "resurrect" (un-spend, reference `LovelaceBalanceByAddressReducer
  *    .cs:115-127`) never exists as a row update here: spends are
  *    slot-keyed *events* in their own table, so rolling back a spend is
  *    the same segment-pruned delete. No row is ever updated in place.
  *  - compaction folds the oldest segments into one per table once the
  *    list exceeds `maxSegments`; a table may install a `compactWith`
  *    filter (TableDef) that drops rows which can no longer matter —
  *    e.g. UTxOs whose spend is beyond the rollback horizon — so state
  *    READS stay proportional to the live set, not chain length (the
  *    sargability the reference gets from `HasIndex(SpentSlot)`, P9).
  *  - idempotent replay (T3): a commit whose batchId is not newer than
  *    the manifest's is a no-op, so at-least-once delivery is safe.
  *  - crash mid-commit: segment files may be orphaned but are
  *    unreferenced; superseded segments (compacted away, dropped or
  *    rewritten by rollback) are garbage-collected in TWO PHASES —
  *    recorded as `pendingGc` in the manifest that supersedes them,
  *    physically deleted at the next swap — so a concurrent reader in
  *    another process that resolved the previous manifest gets a full
  *    commit interval to finish its scan, and disk stays proportional
  *    to live data plus one superseded generation.
  */
final class StateStore(val root: String, spark: SparkSession,
    maxSegments: Int = 8) extends Store {

  // the compaction fold keeps the newest max(2, maxSegments/2) segments
  // and rewrites the rest; below 2 that split is empty and the fold
  // would read zero parquet paths
  require(maxSegments >= 2, s"maxSegments must be >= 2, got $maxSegments")

  final case class Segment(id: Long, minSlot: Long, maxSlot: Long)

  final case class Manifest(
      batchId: Long,
      nextSegId: Long,
      tables: Map[String, Seq[Segment]],
      checkpoints: Map[String, Seq[Point]],
      pendingGc: Seq[String] = Seq.empty,
      slotCols: Map[String, String] = Map.empty)

  private val manifestPath = Paths.get(root, "manifest.properties")

  Files.createDirectories(Paths.get(root, "tables"))

  def batchId: Long = manifest.batchId

  def checkpoints: Map[String, Seq[Point]] = manifest.checkpoints

  /** PARSE cache keyed on the manifest's BYTES: one flush reads the
    * manifest dozens of times (batchId, checkpoints, every
    * `ctx.table`/`store.read`); each call re-READS the small file but
    * only re-PARSES when the bytes actually changed. Deliberately NO
    * stat (fileKey/mtime/size) fast path: a cross-process writer
    * swapping the manifest twice within one mtime tick can repeat the
    * triple (a freed inode is recyclable for the next temp file, and
    * fileKey() may be null on some filesystems, degrading the check to
    * (mtime, size)) — a stale parse here double-applies a batch or
    * rolls back to the wrong slot. Manifests are KBs; the byte read is
    * noise next to any Spark job the caller is about to run.
    */
  @volatile private var cachedManifest: (Array[Byte], Manifest) = null

  def manifest: Manifest = {
    // ONLY absence means "fresh store". Any other read failure (EMFILE,
    // permissions, a stalled mount) must PROPAGATE: treating it as
    // empty would hand commit() a batchId of -1, pass the idempotency
    // guard, and let writeManifest atomically replace the real manifest
    // with one that references none of the committed segments.
    val bytes =
      try Files.readAllBytes(manifestPath)
      catch { case _: java.nio.file.NoSuchFileException =>
        return Manifest(-1L, 0L, Map.empty, Map.empty)
      }
    val c = cachedManifest
    if (c != null && java.util.Arrays.equals(c._1, bytes)) c._2
    else {
      val m = parseManifest(bytes)
      cachedManifest = (bytes, m)
      m
    }
  }

  private def parseManifest(bytes: Array[Byte]): Manifest = {
    // an EXISTING but empty manifest is a torn write, not a fresh
    // store: parsing it as batchId -1 would pass the idempotency guard
    // and reuse segment ids over committed data. Only
    // file ABSENCE means fresh (see manifest()).
    require(bytes.nonEmpty,
      s"manifest at $manifestPath exists but is empty — torn write; " +
        "refusing to treat a populated store as fresh")
    val p = new Properties()
    val in = new java.io.ByteArrayInputStream(bytes)
    try p.load(in) finally in.close()
    val keys = p.stringPropertyNames().asScala
    val tables = keys.filter(_.startsWith("table.")).map { k =>
      val name = k.stripPrefix("table.")
      val segs = p.getProperty(k).split(",").filter(_.nonEmpty).toSeq.map { s =>
        val Array(id, lo, hi) = s.split(":")
        Segment(id.toLong, lo.toLong, hi.toLong)
      }
      name -> segs
    }.toMap
    val cps = keys.filter(_.startsWith("checkpoint.")).map { k =>
      val name = k.stripPrefix("checkpoint.")
      val pts = p.getProperty(k).split(",").filter(_.nonEmpty).toSeq.map { s =>
        val Array(h, sl) = s.split(":")
        Point(h, sl.toLong)
      }
      name -> pts
    }.toMap
    val pendingGc = p.getProperty("pendingGc", "")
      .split(",").filter(_.nonEmpty).toSeq
    val slotCols = keys.filter(_.startsWith("slotcol.")).map { k =>
      k.stripPrefix("slotcol.") -> p.getProperty(k)
    }.toMap
    Manifest(p.getProperty("batchId", "-1").toLong,
      p.getProperty("nextSegId", "0").toLong, tables, cps, pendingGc,
      slotCols)
  }

  private def writeManifest(m: Manifest): Unit = {
    val p = new Properties()
    p.setProperty("batchId", m.batchId.toString)
    p.setProperty("nextSegId", m.nextSegId.toString)
    m.tables.foreach { case (t, segs) =>
      p.setProperty(s"table.$t",
        segs.map(s => s"${s.id}:${s.minSlot}:${s.maxSlot}").mkString(","))
    }
    m.checkpoints.foreach { case (r, pts) =>
      p.setProperty(s"checkpoint.$r",
        pts.map(pt => s"${pt.hash}:${pt.slot}").mkString(","))
    }
    if (m.pendingGc.nonEmpty)
      p.setProperty("pendingGc", m.pendingGc.mkString(","))
    m.slotCols.foreach { case (t, c) => p.setProperty(s"slotcol.$t", c) }
    // serialize to bytes first so the cache key is EXACTLY what was
    // moved into place (re-statting/re-reading after the move could
    // observe another process's manifest and mis-attribute it to `m`)
    val buf = new java.io.ByteArrayOutputStream()
    p.store(buf, null)
    val bytes = buf.toByteArray
    val tmp = Paths.get(root, s"manifest.tmp")
    // fsync the tmp file AND the directory before the atomic move: a
    // power/OS crash after the rename is journaled but before the data
    // blocks flush would otherwise read back an empty manifest — which
    // must also be a hard error below, never "fresh store" (r07
    // review: a truncated manifest parsing as batchId -1 restarts ids
    // at 0 and clobbers committed segments)
    val ch = java.nio.channels.FileChannel.open(tmp,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try { ch.write(java.nio.ByteBuffer.wrap(bytes)); ch.force(true) }
    finally ch.close()
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    try {
      val dir = java.nio.channels.FileChannel.open(Paths.get(root),
        java.nio.file.StandardOpenOption.READ)
      try dir.force(true) finally dir.close()
    } catch { case _: Exception => () } // dir-fsync unsupported on some FS
    cachedManifest = (bytes, m)
  }

  private def segPath(table: String, id: Long): String =
    Paths.get(root, "tables", table, s"seg-$id").toString

  /** Current contents of a table (empty DF with `schema` if absent). */
  def read(table: String, schema: StructType): DataFrame = {
    val segs = manifest.tables.getOrElse(table, Seq.empty)
    if (segs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(segs.map(s => segPath(table, s.id)): _*)
  }

  /** Only the newest segment (by maxSlot) of a table — the bounded read
    * for state whose latest segment is self-contained (e.g. a snapshot
    * table that writes every key every batch: its newest segment holds
    * the current value of every key). O(last batch), not O(history).
    */
  def readLatestSegment(table: String, schema: StructType): DataFrame = {
    val segs = manifest.tables.getOrElse(table, Seq.empty)
    if (segs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(segPath(table, segs.maxBy(_.maxSlot).id))
  }

  /** Write `df` as segment `id`, collecting min/max-slot stats during the
    * write itself (one Spark job). None (and no files kept) if empty.
    */
  private def writeSegment(df: DataFrame, table: String, id: Long,
      slotCol: String): Option[Segment] = {
    val obs = Observation()
    df.observe(obs, min(col(slotCol)).as("lo"), max(col(slotCol)).as("hi"))
      .write.mode("overwrite").parquet(segPath(table, id))
    val stats = obs.get
    stats.get("lo").filter(_ != null) match {
      case Some(lo) =>
        // Number, not Long: a TableDef may declare its slot column as
        // INT — min/max then observe boxed Integers, and a hard Long
        // cast would throw mid-commit after segment files landed
        Some(Segment(id, lo.asInstanceOf[Number].longValue(),
          stats("hi").asInstanceOf[Number].longValue()))
      case None =>
        deleteDir(segPath(table, id)) // empty append: keep nothing
        None
    }
  }

  private def deleteDir(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** TWO-PHASE segment GC: segments superseded by a manifest swap are
    * only RECORDED as `pendingGc` in that manifest; they are physically
    * deleted at the START of the NEXT swap — by which point they have
    * been unreferenced for a full commit interval, so a concurrent
    * reader (another process's Dashboard/serving query) that resolved
    * the previous manifest can finish its scan. Disk stays ∝ live data
    * plus one generation of superseded segments.
    */
  private def supersededPaths(oldTables: Map[String, Seq[Segment]],
      newTables: Map[String, Seq[Segment]]): Seq[String] =
    oldTables.toSeq.flatMap { case (table, segs) =>
      val keep = newTables.getOrElse(table, Seq.empty).map(_.id).toSet
      segs.filterNot(s => keep(s.id)).map(s => segPath(table, s.id))
    }

  private def reapPending(paths: Seq[String]): Unit =
    paths.foreach { p =>
      try deleteDir(p) catch { case _: Exception => () }
    }

  /** Atomically commit appends + checkpoints as batch `batchId`.
    * Returns false without touching the manifest when
    *  - `batchId` is not newer than the manifest's (idempotent-replay
    *    guard, reference T3), or
    *  - every append is empty (empty-commit deferral, reference T4:
    *    `EfBlockUnitOfWork.cs:101-112` — the caller carries the
    *    checkpoints forward to the next data-bearing commit).
    *
    * `compactors`: per-table row filters applied when this commit
    * triggers compaction of that table (see class doc).
    */
  def commit(batchId: Long, appends: Map[String, (DataFrame, String)],
      checkpoints: Map[String, Seq[Point]],
      compactors: Map[String, BoundCompactor],
      onSegment: (String, Double) => Unit): Boolean = {
    val m = manifest
    if (batchId <= m.batchId) return false
    var tables = m.tables
    // Append segments are independent — write them as CONCURRENT Spark
    // jobs (ids pre-allocated; gaps from empty appends are fine). On
    // local[32] this turns per-commit wall time from Σ(write) into
    // max(write); on a cluster it simply keeps the executors busy across
    // the per-table commit jobs. A failed write returns only after its
    // siblings have finished, so a retry never races them for a
    // segment id.
    val appendSeq = appends.toSeq
    val written = Overlap.all(
      appendSeq.zipWithIndex.map { case ((table, (df, slotCol)), i) => () =>
        val t0 = System.nanoTime()
        val seg = writeSegment(df, table, m.nextSegId + i, slotCol)
        (table, seg, (System.nanoTime() - t0) / 1e9)
      })
    var nextId = m.nextSegId + appendSeq.size
    var wroteAny = false
    written.foreach { case (table, segOpt, sec) =>
      segOpt.foreach { seg =>
        tables = tables.updated(table,
          tables.getOrElse(table, Seq.empty) :+ seg)
        wroteAny = true
      }
      onSegment(table, sec)
    }
    if (!wroteAny) return false
    // Compaction: a table's segment list would otherwise grow by one per
    // commit, making every state read an ever-wider union (a per-batch
    // cost that grows with the chain). Fold the OLDEST segments into
    // one — applying the table's compactWith filter, if any, so rows
    // beyond the rollback horizon that can no longer matter are dropped —
    // keeping the newest few separate so retraction of a shallow reorg
    // still drops whole recent segments instead of rewriting the merged
    // bulk. The merged segment enters the same manifest swap, so
    // compaction is atomic with the commit and replay-safe.
    val keepRecent = math.max(2, maxSegments / 2)
    // every oversized table compacts, appended THIS batch or not (r08
    // review): a reducer may legally skip a declared table in a quiet
    // batch, and gating on `appends` let such a table's segment list —
    // and its compactWith-prunable dead rows — grow without bound
    // while the JDBC backend kept compacting it. The slot column comes
    // from this batch's append when present, else the persisted
    // manifest registry.
    val toCompact = tables.toSeq.flatMap { case (table, segs) =>
      val slotCol = appends.get(table).map(_._2)
        .orElse(m.slotCols.get(table))
      slotCol match {
        case Some(sc) if segs.size > maxSegments =>
          Some((table, segs, sc))
        case _ => None
      }
    }
    // compaction merges are independent per table — same concurrency
    val compacted = Overlap.all(
      toCompact.zipWithIndex.map { case ((table, segs, slotCol), i) => () =>
        val (old, recent) = segs.splitAt(segs.size - keepRecent)
        val merged0 = spark.read
          .parquet(old.map(s => segPath(table, s.id)): _*)
        val merged = compactors.get(table).fold(merged0)(b => b.run(merged0))
        val seg = writeSegment(merged, table, nextId + i, slotCol)
        table -> (seg.toSeq ++ recent)
      }).toMap
    nextId += toCompact.size
    tables = tables.map { case (table, segs) =>
      table -> compacted.getOrElse(table, segs)
    }
    // phase 2 of the previous swap's GC (unreferenced since then), then
    // record this swap's superseded segments for the next one
    reapPending(m.pendingGc)
    // slot columns are STORE metadata (persisted at first write): a later
    // rollback — possibly issued by a runner registering only a subset of
    // reducers — must know every table's retraction column.
    val slotCols = m.slotCols ++ appends.map { case (t, (_, c)) => t -> c }
    writeManifest(Manifest(batchId, nextId, tables,
      m.checkpoints ++ checkpoints, supersededPaths(m.tables, tables),
      slotCols))
    true
  }

  /** Retraction: `DELETE WHERE slot >= delSlot` on every table, segment-
    * pruned (reference T5: `ReducerGraphProcessor.cs:176-209`). Always
    * commits (rollback checkpoints are never deferred, T4).
    */
  def rollback(delSlot: Long, slotCols: Map[String, String],
      checkpoints: Map[String, Seq[Point]]): Unit = {
    val m = manifest
    var nextId = m.nextSegId
    val tables = m.tables.map { case (table, segs) =>
      // stored metadata wins: the caller may register only a subset of
      // reducers and not know other tables' retraction columns
      val slotCol = m.slotCols.getOrElse(table,
        slotCols.getOrElse(table, "slot"))
      val kept = segs.filter(_.maxSlot < delSlot)
      val straddling = segs.filter(s => s.minSlot < delSlot && s.maxSlot >= delSlot)
      val rewritten = straddling.flatMap { s =>
        val df = spark.read.parquet(segPath(table, s.id))
          .filter(col(slotCol) < delSlot)
        writeSegment(df, table, nextId, slotCol).map { seg =>
          nextId += 1
          seg
        }
      }
      table -> (kept ++ rewritten)
    }
    // Stored checkpoints of reducers NOT registered with the rolling-back
    // runner must rewind too: their tables were just trimmed, and a
    // stale-high checkpoint would let a later resume skip replaying the
    // deleted range for them.
    val rewound = m.checkpoints.map { case (r, w) =>
      r -> checkpoints.getOrElse(r, CheckpointWindow.applyRollback(w, delSlot))
    }
    reapPending(m.pendingGc)
    writeManifest(Manifest(m.batchId + 1, nextId, tables,
      rewound ++ (checkpoints -- m.checkpoints.keys),
      supersededPaths(m.tables, tables), m.slotCols))
  }
}
