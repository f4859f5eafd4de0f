package graft

import graft.core.{DerbyDialect, PostgresDialect, SqlDialect}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Dialect seam contract (S9's server-backend caveat, narrowed to
  * contract level): every non-ANSI statement [[graft.core.JdbcStore]]
  * generates is produced by a [[SqlDialect]], Derby being the runner
  * every store test drives end-to-end and Postgres being the reference
  * deployment's backend — pinned here as GOLDEN DDL fixtures matching
  * the EF/Npgsql column typing of the reference's models
  * (`Argus.Sync.Example/Models/WalletUtxo.cs:11-33` et al: string →
  * text, ulong-ish amounts → bigint, byte[] → bytea).
  */
class SqlDialectSpec extends AnyFunSuite {

  // the reference's richest shipped model, §1.3
  private val walletUtxo = StructType(Seq(
    StructField("TxHash", StringType),
    StructField("TxIndex", LongType),
    StructField("Slot", LongType),
    StructField("Address", StringType),
    StructField("AddressName", StringType),
    StructField("Amount", LongType),
    StructField("SpentSlot", LongType))) // nullable tombstone

  test("golden Postgres DDL: user table, framework tables, indexes") {
    assert(PostgresDialect.createUserTable("WalletUtxo", walletUtxo) ==
      """CREATE TABLE "WalletUtxo" ("TxHash" text, "TxIndex" BIGINT, """ +
        """"Slot" BIGINT, "Address" text, "AddressName" text, """ +
        """"Amount" BIGINT, "SpentSlot" BIGINT, "_batch" BIGINT)""")
    assert(PostgresDialect.commitsDdl ==
      """CREATE TABLE "graft_commits" (batch_id BIGINT PRIMARY KEY)""")
    assert(PostgresDialect.checkpointsDdl ==
      """CREATE TABLE "graft_checkpoints" (reducer VARCHAR(128), """ +
        """hash VARCHAR(256), slot BIGINT)""")
    assert(PostgresDialect.tablesDdl ==
      """CREATE TABLE "graft_tables" ("tbl" VARCHAR(128) PRIMARY KEY, """
        .replace("\"tbl\"", "tbl") +
        """slot_col VARCHAR(128))""")
    assert(PostgresDialect.createIndex("ix_WalletUtxo_slot", "WalletUtxo",
      Seq("Slot")) ==
      """CREATE INDEX "ix_WalletUtxo_slot" ON "WalletUtxo" ("Slot")""")
    assert(PostgresDialect.createIndex("ix_cmp", "WalletUtxo",
      Seq("TxHash", "TxIndex")) ==
      """CREATE INDEX "ix_cmp" ON "WalletUtxo" ("TxHash", "TxIndex")""")
  }

  test("golden Derby DDL: the runner's regression pin") {
    assert(DerbyDialect.createUserTable("WalletUtxo", walletUtxo) ==
      """CREATE TABLE "WalletUtxo" ("TxHash" VARCHAR(32672), """ +
        """"TxIndex" BIGINT, "Slot" BIGINT, "Address" VARCHAR(32672), """ +
        """"AddressName" VARCHAR(32672), "Amount" BIGINT, """ +
        """"SpentSlot" BIGINT, "_batch" BIGINT)""")
  }

  test("type mapping diverges exactly where the engines do") {
    val cases = Seq[(DataType, String, String)](
      (StringType, "VARCHAR(32672)", "text"),
      (BinaryType, "BLOB", "bytea"),
      (DoubleType, "DOUBLE", "double precision"),
      (FloatType, "REAL", "real"),
      (LongType, "BIGINT", "BIGINT"),
      (IntegerType, "INTEGER", "INTEGER"),
      (BooleanType, "BOOLEAN", "BOOLEAN"),
      (TimestampType, "TIMESTAMP", "TIMESTAMP"),
      (DateType, "DATE", "DATE"),
      (ShortType, "SMALLINT", "SMALLINT"),
      (DecimalType(20, 0), "DECIMAL(20,0)", "DECIMAL(20,0)"))
    cases.foreach { case (dt, derby, pg) =>
      assert(DerbyDialect.sqlType(dt) == derby, s"derby $dt")
      assert(PostgresDialect.sqlType(dt) == pg, s"postgres $dt")
    }
    // JDBC null codes are dialect-independent
    cases.foreach { case (dt, _, _) =>
      assert(DerbyDialect.jdbcTypeCode(dt) == PostgresDialect.jdbcTypeCode(dt))
    }
  }

  test("hostile identifiers fail loudly in every dialect") {
    Seq(DerbyDialect: SqlDialect, PostgresDialect).foreach { d =>
      intercept[IllegalArgumentException](d.quote("a\"b"))
      intercept[IllegalArgumentException](d.quote("a;DROP TABLE x"))
      intercept[IllegalArgumentException](d.quote(""))
      intercept[IllegalArgumentException](d.quote("x" * 200))
      assert(d.quote("WalletUtxo") == "\"WalletUtxo\"")
    }
  }

  test("an unsupported column type names itself in the failure") {
    Seq(DerbyDialect: SqlDialect, PostgresDialect).foreach { d =>
      val e = intercept[IllegalArgumentException](
        d.sqlType(ArrayType(LongType)))
      assert(e.getMessage.contains("Array"))
    }
  }
}
