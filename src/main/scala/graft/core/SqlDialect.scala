package graft.core

import java.sql.Types
import org.apache.spark.sql.types._

/** RDBMS dialect seam for [[JdbcStore]] — every piece of generated SQL
  * that is NOT ANSI-portable (identifier quoting, DDL type names) goes
  * through here, so the store's commit protocol is written once and a
  * backend swap is a dialect object, the reference's own shape (its EF
  * provider swap Npgsql ⇄ anything — `Argus.Sync.EntityFramework`).
  *
  * Two instances ship:
  *   - [[DerbyDialect]] — the embedded backend `JdbcStore` opens and
  *     every test RUNS (StoreContractSpec, CompactionSpec and
  *     ReorgFuzzSpec all drive the store through this object);
  *   - [[PostgresDialect]] — the reference deployment's server backend
  *     (`appsettings.json` `ConnectionStrings:CardanoContext`), pinned
  *     at CONTRACT level by SqlDialectSpec's golden DDL fixtures: the
  *     SQL the store would issue against Postgres, asserted
  *     string-for-string against the reference's EF/Npgsql column
  *     typing (text / bigint / bytea / double precision /
  *     timestamp).
  *
  * Everything else the store issues — INSERT … VALUES (?), DELETE with
  * EXISTS subqueries, MAX() probes — is ANSI and shared verbatim. What
  * this seam does NOT claim: a live Postgres run (no server exists
  * offline) — the caveat is narrowed to exactly that.
  */
sealed trait SqlDialect {
  def name: String

  /** Quote an SQL identifier, validating it first: names reach the
    * store only from `TableDef`s, but one hostile name (embedded
    * quote, control char) must fail loudly rather than be spliced
    * into DDL/DML text. Both dialects quote with `"` (ANSI).
    */
  final def quote(ident: String): String = {
    require(ident.nonEmpty && ident.length <= 128 &&
      ident.forall(ch => ch.isLetterOrDigit || ch == '_'),
      s"invalid SQL identifier: '$ident'")
    "\"" + ident + "\""
  }

  def sqlType(dt: DataType): String

  /** `setNull` needs the REAL target type code: Derby rejects
    * `Types.NULL` with SQLFeatureNotSupportedException, which would
    * roll back any batch whose reducer output contains a null.
    * Identical across dialects (JDBC codes, not SQL text).
    */
  final def jdbcTypeCode(dt: DataType): Int = dt match {
    case StringType => Types.VARCHAR
    case LongType => Types.BIGINT
    case IntegerType => Types.INTEGER
    case DoubleType => Types.DOUBLE
    case FloatType => Types.REAL
    case BooleanType => Types.BOOLEAN
    case BinaryType => Types.BLOB
    case TimestampType => Types.TIMESTAMP
    case DateType => Types.DATE
    case ShortType | ByteType => Types.SMALLINT
    case _: DecimalType => Types.DECIMAL
    case other =>
      throw new IllegalArgumentException(s"unsupported JDBC null type $other")
  }

  // ---- generated DDL (the non-ANSI surface, one site per statement) ----

  final def createUserTable(table: String, schema: StructType): String = {
    val cols = (schema.fields.map(f =>
      s"${quote(f.name)} ${sqlType(f.dataType)}") :+
      s"${quote("_batch")} BIGINT").mkString(", ")
    s"CREATE TABLE ${quote(table)} ($cols)"
  }

  final def createIndex(ix: String, table: String, cols: Seq[String]): String =
    s"CREATE INDEX ${quote(ix)} ON ${quote(table)} " +
      s"(${cols.map(quote).mkString(", ")})"

  /** Framework key/metadata columns are BOUNDED varchars in both
    * dialects (Derby cannot index an unbounded string; reducer names
    * and hashes are short by contract) — identical text either side.
    */
  final def boundedString(n: Int): String = s"VARCHAR($n)"

  final def commitsDdl: String =
    s"CREATE TABLE ${quote("graft_commits")} (batch_id BIGINT PRIMARY KEY)"

  final def checkpointsDdl: String =
    s"CREATE TABLE ${quote("graft_checkpoints")} " +
      s"(reducer ${boundedString(128)}, hash ${boundedString(256)}, " +
      "slot BIGINT)"

  final def tablesDdl: String =
    s"CREATE TABLE ${quote("graft_tables")} " +
      s"(tbl ${boundedString(128)} PRIMARY KEY, " +
      s"slot_col ${boundedString(128)})"
}

/** Embedded Derby — the offline runner. Strings are VARCHAR (Derby's
  * max), NOT the CLOB Spark's Derby dialect picks: CLOB supports
  * neither equality predicates nor indexes, which would bar the
  * set-based in-database compaction DELETEs (and the reference's own
  * key columns are bounded hashes/addresses).
  */
case object DerbyDialect extends SqlDialect {
  val name = "derby"
  def sqlType(dt: DataType): String = dt match {
    case StringType => "VARCHAR(32672)"
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case BinaryType => "BLOB"
    case TimestampType => "TIMESTAMP"
    case DateType => "DATE"
    case ShortType | ByteType => "SMALLINT"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other =>
      throw new IllegalArgumentException(s"unsupported JDBC column type $other")
  }
}

/** PostgreSQL — the reference's server backend. Types match what EF
  * Core/Npgsql migrations emit for the reference's models (string →
  * `text`, ulong → `numeric(20,0)` is EF's default but the reference
  * maps amounts through long-compatible columns — this store's
  * LongType rows are `bigint`; byte[] → `bytea`; DateTime →
  * `timestamp with time zone` is Npgsql's default, `timestamp` here
  * because the store writes naive timestamps).
  */
case object PostgresDialect extends SqlDialect {
  val name = "postgres"
  def sqlType(dt: DataType): String = dt match {
    case StringType => "text"
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "double precision"
    case FloatType => "real"
    case BooleanType => "BOOLEAN"
    case BinaryType => "bytea"
    case TimestampType => "TIMESTAMP"
    case DateType => "DATE"
    case ShortType | ByteType => "SMALLINT"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other =>
      throw new IllegalArgumentException(s"unsupported JDBC column type $other")
  }
}
