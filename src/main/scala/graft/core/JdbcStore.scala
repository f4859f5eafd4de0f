package graft.core

import graft.Overlap
import java.sql.{Connection, DriverManager, PreparedStatement}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Transactional JDBC backend (embedded Derby) behind the `Store` seam —
  * the deployment shape of the reference's EF/Postgres unit-of-work
  * (`EfBlockUnitOfWork.cs:18-247`).
  *
  * Commit (T3): the batch's plans are collected on the driver, then ONE
  * database transaction inserts every table's rows (tagged with a
  * `_batch` column, which `readLatestSegment` selects by), replaces the
  * checkpoint rows, runs any due compaction and inserts the commit
  * marker `graft_commits(batch_id)`. A crash or error anywhere before
  * the COMMIT leaves nothing behind (Derby DDL is transactional too), so
  * a retried batch id starts from clean state.
  *
  * Rollback (T5) runs entirely in one transaction: slot-keyed deletes on
  * every user table + checkpoint rewind + marker. Retraction here is
  * sargable via the database's own indexes — the reference's
  * `HasIndex(SpentSlot)` analogue (P9) — so no `compactWith` filter is
  * needed; at 100 TB the segment-log `StateStore` is the scale path and
  * this backend is the serving/ops-database path, mirroring how the
  * reference pairs Postgres with its design's scale notes.
  *
  * SINGLE WRITER REQUIRED (like the reference's Postgres backend behind
  * its advisory lock, T13): the store caches table existence and the
  * committed batch id between its own writes. `ChainIngest.start`/
  * `Rewind` acquire the store lock; direct GraphRunner embedders must do
  * the same.
  */
object JdbcStore {
  // Engine-wide Derby tuning, set before the first connection boots the
  // embedded engine: 4k-page cache x 4000 = ~16 MB (default 1000 pages
  // starves the index lookups the latest-segment read and rollback rely on).
  private lazy val tuneDerby: Unit = {
    if (System.getProperty("derby.storage.pageCacheSize") == null)
      System.setProperty("derby.storage.pageCacheSize", "4000")
    // 1 MB log buffer (default 32 KB): a 500-block commit writes several
    // hundred KB of log; the default flushes it in 32 KB slices inside
    // the txn body. Durability is unchanged — the commit still fsyncs —
    // this only batches the pre-commit log writes, the embedded analogue
    // of Postgres's MB-scale wal_buffers default.
    if (System.getProperty("derby.storage.logBufferSize") == null)
      System.setProperty("derby.storage.logBufferSize", "1048576")
  }
}

final class JdbcStore(val root: String, spark: SparkSession) extends Store {
  JdbcStore.tuneDerby

  /** One persistent driver-side connection for all reads and writes,
    * instead of a fresh embedded boot-handshake per statement.
    * Single-writer (T13) makes this safe.
    */
  private lazy val conn: Connection =
    DriverManager.getConnection(s"jdbc:derby:$root/derby;create=true")
  private def withConn[A](f: Connection => A): A = synchronized {
    val saved = conn.getAutoCommit
    var restore = true
    try f(conn)
    catch { case e: Throwable =>
      // a failed transactional block must not be committed by the
      // autocommit restore below (JDBC: enabling autocommit COMMITS an
      // open transaction) — roll anything in flight back first, and if
      // even that fails leave autocommit alone rather than commit junk.
      // The WHOLE attempt (getAutoCommit included) runs inside its own
      // try: on a dead/broken connection getAutoCommit itself throws,
      // and that secondary failure must suppress onto the original
      // exception, not replace it.
      try { if (!conn.getAutoCommit) conn.rollback() }
      catch { case e2: Throwable => restore = false; e.addSuppressed(e2) }
      throw e
    } finally if (restore) conn.setAutoCommit(saved)
  }

  private def q(ident: String): String = DerbyDialect.quote(ident)

  // bootstrap the framework tables
  withConn { c =>
    val existing = listTables(c)
    val st = c.createStatement()
    try {
      if (!existing.contains("graft_commits"))
        st.executeUpdate(DerbyDialect.commitsDdl)
      if (!existing.contains("graft_checkpoints"))
        st.executeUpdate(DerbyDialect.checkpointsDdl)
      if (!existing.contains("graft_tables"))
        // per-table retraction column, persisted at first write: a later
        // rollback from a subset-registered runner must know every
        // table's slot column (same role as StateStore manifest slotCols)
        st.executeUpdate(DerbyDialect.tablesDdl)
    } finally st.close()
  }

  private def storedSlotCols: Map[String, String] = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(
        s"SELECT tbl, slot_col FROM ${q("graft_tables")}")
      val acc = mutable.Map[String, String]()
      while (rs.next()) acc += rs.getString(1) -> rs.getString(2)
      acc.toMap
    } finally st.close()
  }

  private val registeredCols = mutable.Map[String, String]()

  /** Registration inside the commit transaction, so the INSERT commits
    * atomically with the data it describes. Duplicate key = already
    * registered.
    */
  private def registerSlotCol(c: Connection, table: String,
      slotCol: String): Unit =
    if (!registeredCols.contains(table)) {
      val ps = c.prepareStatement(
        s"INSERT INTO ${q("graft_tables")} VALUES (?, ?)")
      try { ps.setString(1, table); ps.setString(2, slotCol); ps.executeUpdate() }
      catch { case _: java.sql.SQLIntegrityConstraintViolationException => () }
      finally ps.close()
    }

  private def listTables(c: Connection): Set[String] = {
    val rs = c.getMetaData.getTables(null, null, "%", Array("TABLE"))
    val names = mutable.Set[String]()
    // exclude catalogs by SCHEMA, not by name prefix: a user table
    // legitimately named SYS-something must stay in the registry (it
    // needs rollback like any other); Derby system tables live in the
    // SYS schema and are type SYSTEM TABLE anyway
    while (rs.next())
      if (rs.getString("TABLE_SCHEM") != "SYS")
        names += rs.getString("TABLE_NAME")
    rs.close()
    names.toSet
  }

  // User-table registry, seeded from the database at construction,
  // extended as tables are created and repaired when a commit rolls
  // back. It is complete: single-writer (T13) means no other process
  // creates tables while this store holds the root, and GraphRunner
  // rejects user tables named graft_*, so every user table is in it. A
  // Derby metadata scan is not free, so existence checks read the cache.
  private val userTableCache: mutable.Set[String] =
    mutable.Set(withConn(listTables).filterNot(_.startsWith("graft_"))
      .toSeq: _*)
  private def tableExists(t: String): Boolean = userTableCache.contains(t)

  // the committed id can only move at this single-writer store's own
  // commit/rollback (T13), yet every state read re-probed it — and
  // graft_commits grows one row per batch forever, so the probe was a
  // repeated index walk on the hot path. Cached between
  // our own state changes; invalidated, not updated, so a reopen or a
  // first read always sees the database's truth.
  @volatile private var cachedBatchId: Option[Long] = None

  def batchId: Long = cachedBatchId.getOrElse {
    val v = withConn { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT MAX(batch_id) FROM ${q("graft_commits")}")
        rs.next()
        val got = rs.getLong(1)
        if (rs.wasNull()) -1L else got
      } finally st.close()
    }
    cachedBatchId = Some(v)
    v
  }

  def checkpoints: Map[String, Seq[Point]] = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(
        s"SELECT reducer, hash, slot FROM ${q("graft_checkpoints")}")
      val acc = mutable.Map[String, mutable.ArrayBuffer[Point]]()
      while (rs.next())
        acc.getOrElseUpdate(rs.getString(1), mutable.ArrayBuffer.empty) +=
          Point(rs.getString(2), rs.getLong(3))
      acc.view.mapValues(ps => CheckpointWindow.normalize(ps.toSeq)).toMap
    } finally st.close()
  }

  private def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def getParam(rs: java.sql.ResultSet, idx: Int,
      dt: DataType): Any = {
    val v: Any = dt match {
      case StringType => rs.getString(idx)
      case LongType => rs.getLong(idx)
      case IntegerType => rs.getInt(idx)
      case DoubleType => rs.getDouble(idx)
      case FloatType => rs.getFloat(idx)
      case BooleanType => rs.getBoolean(idx)
      case BinaryType => rs.getBytes(idx)
      case TimestampType => rs.getTimestamp(idx)
      case DateType => rs.getDate(idx)
      case ShortType => rs.getShort(idx)
      case ByteType => rs.getShort(idx).toByte
      case _: DecimalType => rs.getBigDecimal(idx)
      case other =>
        throw new IllegalArgumentException(s"unsupported JDBC read type $other")
    }
    if (rs.wasNull()) null else v
  }

  /** Driver-side read: one ResultSet → a LOCAL relation. The serving-DB
    * state a reducer re-reads each batch is bounded (latest segment /
    * live set), so skipping a Spark JDBC job + schema probe per read is
    * pure win — and a local relation is broadcast-join fodder for
    * Catalyst. Tables too big for this belong on the segment store.
    * `onlyBatch` restricts the read to one `_batch` tag.
    */
  private def driverRead(table: String, schema: StructType,
      onlyBatch: Option[Long]): DataFrame = {
    val cols = schema.fields.map(f => q(f.name)).mkString(", ")
    val where = onlyBatch.fold("")(b => s" WHERE ${q("_batch")} = $b")
    val rows = withConn { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT $cols FROM ${q(table)}$where")
        val buf = new java.util.ArrayList[Row]()
        while (rs.next()) buf.add(Row.fromSeq(
          schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
            getParam(rs, i + 1, f.dataType)
          }))
        buf
      } finally st.close()
    }
    spark.createDataFrame(rows, schema)
  }

  private def latestBatchOf(table: String): Long =
    withConn { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT MAX(${q("_batch")}) FROM ${q(table)}")
        rs.next()
        val v = rs.getLong(1)
        if (rs.wasNull()) -1L else v
      } finally st.close()
    }

  // every row in the database is committed: rows and their marker
  // land in one transaction, so no read needs a visibility gate
  def read(table: String, schema: StructType): DataFrame =
    if (!tableExists(table)) emptyDf(schema)
    else driverRead(table, schema, None)

  def readLatestSegment(table: String, schema: StructType): DataFrame = {
    val latest = if (tableExists(table)) latestBatchOf(table) else -1L
    if (latest < 0) emptyDf(schema)
    else driverRead(table, schema, Some(latest))
  }

  /** Secondary indexes on `_batch` (latest-segment read) and the slot
    * column (rollback deletes) — the reference's P9 sargability
    * (`TestDbContext.cs:36-37` `HasIndex(SpentSlot)`). Created lazily
    * after the table exists; best-effort (Derby errors if present).
    */
  private val indexed = mutable.Set[String]()
  private def ensureIndexes(table: String, slotCol: String): Unit =
    if (!indexed.contains(table)) {
      withConn { c =>
        Seq("_batch" -> s"ix_${table}_batch", slotCol -> s"ix_${table}_slot")
          .foreach { case (column, ix) =>
            val st = c.createStatement()
            try st.executeUpdate(DerbyDialect.createIndex(ix, table, Seq(column)))
            catch { case _: Exception => () }
            finally st.close()
          }
      }
      indexed += table
    }

  // ---- commit: the reference's unit-of-work shape
  // (`EfBlockUnitOfWork.cs:94-121`) — every table's rows, the checkpoint
  // rewrite, and the commit marker in ONE database transaction (one log
  // fsync per batch). Plan execution (collect) happens before the txn
  // opens; a micro-batch's rows are bounded by the trigger size, so the
  // driver hop is the deployment shape here exactly as it is in the
  // reference.

  override def preferLocalOutputs: Boolean = true

  // DDL/JDBC type mapping lives in the dialect (see its doc for the
  // Derby VARCHAR-not-CLOB and setNull rationales)
  private def setParam(ps: PreparedStatement, idx: Int, dt: DataType,
      v: Any): Unit =
    if (v == null) ps.setNull(idx, DerbyDialect.jdbcTypeCode(dt))
    else dt match {
      case StringType => ps.setString(idx, v.asInstanceOf[String])
      case LongType => ps.setLong(idx, v.asInstanceOf[Long])
      case IntegerType => ps.setInt(idx, v.asInstanceOf[Int])
      case DoubleType => ps.setDouble(idx, v.asInstanceOf[Double])
      case FloatType => ps.setFloat(idx, v.asInstanceOf[Float])
      case BooleanType => ps.setBoolean(idx, v.asInstanceOf[Boolean])
      case BinaryType => ps.setBytes(idx, v.asInstanceOf[Array[Byte]])
      case TimestampType => ps.setTimestamp(idx, v.asInstanceOf[java.sql.Timestamp])
      case DateType => ps.setDate(idx, v.asInstanceOf[java.sql.Date])
      case ShortType => ps.setShort(idx, v.asInstanceOf[Short])
      case ByteType => ps.setShort(idx, v.asInstanceOf[Byte].toShort)
      case _: DecimalType =>
        ps.setBigDecimal(idx, v.asInstanceOf[java.math.BigDecimal])
      case other =>
        throw new IllegalArgumentException(s"unsupported JDBC param type $other")
    }

  private def ensureTable(c: Connection, table: String,
      schema: StructType, created: mutable.Buffer[String]): Unit =
    if (!tableExists(table)) {
      val st = c.createStatement()
      try st.executeUpdate(DerbyDialect.createUserTable(table, schema))
      finally st.close()
      userTableCache += table
      created += table // caller repairs the cache if its txn rolls back
    }

  private def insertRows(c: Connection, table: String, schema: StructType,
      rows: Iterable[Row], batchId: Long): Unit = {
    val names = schema.fields.map(f => q(f.name)) :+ q("_batch")
    val ps = c.prepareStatement(
      s"INSERT INTO ${q(table)} (${names.mkString(", ")}) VALUES (${
        names.map(_ => "?").mkString(", ")})")
    try {
      var pending = 0
      rows.foreach { row =>
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          setParam(ps, i + 1, f.dataType, row.get(i))
        }
        ps.setLong(schema.fields.length + 1, batchId)
        ps.addBatch(); pending += 1
        if (pending >= 5000) { ps.executeBatch(); pending = 0 }
      }
      if (pending > 0) ps.executeBatch()
    } finally ps.close()
  }

  /** Live-set compaction for the DB backend — the Derby analogue of
    * StateStore's segment-fold compaction: every `graft.jdbc.
    * compactEvery` commits (default 8), each table with a registered
    * compactor is rewritten to only the rows its `compactWith` filter
    * keeps (e.g. utxo_created drops pairs whose spend is final behind
    * the rollback frontier). Runs INSIDE the commit transaction, so it
    * is atomic with the batch and replay-safe; rows keep their original
    * `_batch` tag. Without this the spend-matching read grows O(chain) —
    * the reference leans on `HasIndex(SpentSlot)` sargability (P9), but
    * an index does not shrink the scan the way the live set does.
    */
  private val compactEvery: Long =
    spark.conf.getOption("graft.jdbc.compactEvery").map(_.toLong)
      .getOrElse(8L)

  /** Best-effort index on the key columns a compaction DELETE probes —
    * the analogue of the reference's `HasIndex(SpentSlot)` (P9) for the
    * EXISTS lookup side. Derby warns (and only fails per-row at insert)
    * if a key exceeds the index limit; failures here are non-fatal. The
    * CREATE INDEX runs inside the commit transaction, so a table is
    * recorded in `indexedThisTxn` and joins `keyIndexed` only once that
    * transaction commits — a rollback undoes the index, and the next
    * compaction must create it again.
    */
  private val keyIndexed = mutable.Set[String]()
  private def ensureKeyIndex(c: Connection, table: String,
      keyCols: Seq[String], indexedThisTxn: mutable.Buffer[String]): Unit =
    if (!keyIndexed.contains(table) && !indexedThisTxn.contains(table)) {
      val st = c.createStatement()
      try st.executeUpdate(
        DerbyDialect.createIndex(s"ix_${table}_cmpkey", table, keyCols))
      catch { case _: Exception => () }
      finally st.close()
      indexedThisTxn += table
    }

  /** Live-set compaction, run INSIDE the commit transaction (atomic with
    * the batch, replay-safe; surviving rows keep their `_batch` tag).
    * Each shape (`DropMatched`/`DropUnmatched`) executes as ONE
    * set-based DELETE — the database does the anti/semi join, the
    * driver buffers nothing, and on a server-grade backend the same
    * statement is a hash anti-join.
    */
  private def compactTables(c: Connection,
      compactors: Map[String, BoundCompactor],
      indexedThisTxn: mutable.Buffer[String]): Unit =
    compactors.foreach { case (table, comp) =>
      if (tableExists(table)) comp.sql match {
        case sc if tableExists(sc.againstTable) =>
          ensureKeyIndex(c, sc.againstTable, sc.keyCols, indexedThisTxn)
          val probe = sc.keyCols
            .map(k => s"a.${q(k)} = ${q(table)}.${q(k)}").mkString(" AND ")
          val stmt =
            if (sc.dropMatched)
              s"DELETE FROM ${q(table)} WHERE EXISTS (SELECT 1 FROM " +
                s"${q(sc.againstTable)} a WHERE $probe AND " +
                s"a.${q(sc.slotCol)} <= ${sc.frontier})"
            else
              s"DELETE FROM ${q(table)} WHERE " +
                s"${q(table)}.${q(sc.slotCol)} <= ${sc.frontier} AND " +
                s"NOT EXISTS (SELECT 1 FROM ${q(sc.againstTable)} a " +
                s"WHERE $probe)"
          val st = c.createStatement()
          try st.executeUpdate(stmt) finally st.close()
        case sc if !sc.dropMatched =>
          // against-table absent: every final row is unmatched
          val st = c.createStatement()
          try st.executeUpdate(s"DELETE FROM ${q(table)} WHERE " +
            s"${q(table)}.${q(sc.slotCol)} <= ${sc.frontier}")
          finally st.close()
        case _ => () // DropMatched with no against-table: keep all
      }
    }

  /** Replace the committing runner's checkpoint windows within an open
    * transaction. MERGE semantics (like StateStore's `stored ++
    * checkpoints`): reducers not registered with this runner survive.
    */
  private def writeCheckpoints(c: Connection,
      checkpoints: Map[String, Seq[Point]]): Unit = {
    val del = c.prepareStatement(
      s"DELETE FROM ${q("graft_checkpoints")} WHERE reducer = ?")
    try checkpoints.keys.foreach { r =>
      del.setString(1, r); del.executeUpdate()
    } finally del.close()
    val ps = c.prepareStatement(
      s"INSERT INTO ${q("graft_checkpoints")} VALUES (?, ?, ?)")
    try {
      checkpoints.foreach { case (r, pts) =>
        pts.foreach { p =>
          ps.setString(1, r); ps.setString(2, p.hash); ps.setLong(3, p.slot)
          ps.addBatch()
        }
      }
      ps.executeBatch()
    } finally ps.close()
  }

  def commit(batchId: Long, appends: Map[String, (DataFrame, String)],
      checkpoints: Map[String, Seq[Point]],
      compactors: Map[String, BoundCompactor],
      onSegment: (String, Double) => Unit): Boolean = {
    if (batchId <= this.batchId) return false
    // Spark actions run BEFORE the txn opens (reads see only committed
    // state; nothing below touches the plan). The per-table plans are
    // independent — run them as CONCURRENT Spark actions so scheduler
    // latency overlaps instead of summing (the reference runs its
    // reducers' RollForwardAsync concurrently too).
    val collected = Overlap.all(appends.toSeq.map {
      case (table, (df, slotCol)) => () =>
        // clock the collect INSIDE the job: a shared t0 would charge
        // every table for its slowest sibling plus the serialized
        // inserts ahead of it in the txn loop below
        val t0 = System.nanoTime()
        val rows = df.collect()
        (table, slotCol, df.schema, rows, (System.nanoTime() - t0) / 1e9)
    })
    if (collected.forall(_._4.isEmpty)) return false
    withConn { c =>
      c.setAutoCommit(false)
      val createdThisTxn = mutable.Buffer[String]()
      val indexedThisTxn = mutable.Buffer[String]()
      try {
        collected.foreach { case (table, slotCol, schema, rows, collectSec) =>
          val t1 = System.nanoTime()
          ensureTable(c, table, schema, createdThisTxn)
          if (rows.nonEmpty) insertRows(c, table, schema, rows, batchId)
          // the graft_tables registration JOINS the commit txn: a
          // durable data-bearing table must never be unregistered, or a
          // later subset-registered rollback would guess (or fail on)
          // its retraction column
          registerSlotCol(c, table, slotCol)
          onSegment(table, collectSec + (System.nanoTime() - t1) / 1e9)
        }
        if (compactEvery > 0 && batchId % compactEvery == 0)
          compactTables(c, compactors, indexedThisTxn)
        writeCheckpoints(c, checkpoints)
        val st = c.createStatement()
        try st.executeUpdate(
          s"INSERT INTO ${q("graft_commits")} VALUES ($batchId)")
        finally st.close()
        c.commit() // the atomic point — data + state + marker together
        keyIndexed ++= indexedThisTxn
        cachedBatchId = None // the committed id just moved
      } catch {
        case e: Throwable =>
          c.rollback()
          // Derby DDL is transactional: the rollback just UNDID any
          // CREATE TABLE from this txn, so the existence cache must
          // forget them — a stale entry would make every later read and
          // rollback query a table that does not exist
          userTableCache --= createdThisTxn
          throw e
      }
    }
    // indexes + caches only after the durable commit
    collected.foreach { case (table, slotCol, _, _, _) =>
      ensureIndexes(table, slotCol)
      registeredCols += table -> slotCol
    }
    true
  }

  def rollback(delSlot: Long, slotCols: Map[String, String],
      checkpoints: Map[String, Seq[Point]]): Unit = {
    val next = batchId + 1
    withConn { c =>
      c.setAutoCommit(false)
      val st = c.createStatement()
      try {
        val stored = storedSlotCols
        userTableCache.foreach { t =>
          // stored registry wins (a subset-registered runner doesn't
          // know other tables' retraction columns)
          val slotCol = stored.getOrElse(t, slotCols.getOrElse(t, "slot"))
          st.executeUpdate(
            s"DELETE FROM ${q(t)} WHERE ${q(slotCol)} >= $delSlot")
        }
        // Every stored checkpoint rewinds (points at/after delSlot die —
        // tables of unregistered reducers were trimmed too); then the
        // registered reducers' windows are replaced wholesale.
        st.executeUpdate(
          s"DELETE FROM ${q("graft_checkpoints")} WHERE slot >= $delSlot")
        writeCheckpoints(c, checkpoints)
        st.executeUpdate(s"INSERT INTO ${q("graft_commits")} VALUES ($next)")
        c.commit()
        cachedBatchId = None // the committed id just moved
      } catch { case e: Throwable => c.rollback(); throw e }
      finally st.close()
    }
  }
}
