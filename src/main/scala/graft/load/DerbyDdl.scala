package graft.load

import graft.ddl.{DdlParser, Fk, TableDef}
import org.apache.spark.sql.types.StructField

/** DDL retargeting for embedded Apache Derby — the §2.8 deploy surface
  * (apply_mssql.py:45-102 rewrites a script for its target; here the
  * parsed catalog is re-emitted in the target's dialect) against a
  * database this container can actually open (derby-10.16 ships on the
  * Spark classpath), so the K1/K4 sink runs end-to-end for real.
  *
  * Constraint posture mirrors the reference's bulk load
  * (run_engine.py:227-228,276-277): tables are created BARE (no PK/FK),
  * loaded order-free, and constraints are armed afterwards — except
  * Derby actually validates on ADD CONSTRAINT, so the re-arm is a
  * stronger check than MSSQL's no-revalidate CHECK CONSTRAINT all.
  */
object DerbyDdl {

  /** Derby folds unquoted identifiers to upper case while the Spark JDBC
    * writer quotes column names — every identifier must be created
    * quoted, exact-case. */
  def q(id: String): String = "\"" + id + "\""

  def derbyType(f: StructField): String = {
    val t = f.metadata.getString(DdlParser.MetaSqlType)
    val len = f.metadata.getLong(DdlParser.MetaMaxLength).toInt
    val p = f.metadata.getLong(DdlParser.MetaPrecision).toInt
    val s = f.metadata.getLong(DdlParser.MetaScale).toInt
    t match {
      case "int" => "INTEGER"
      case "bigint" => "BIGINT"
      case "smallint" | "tinyint" => "SMALLINT"
      case "bit" => "BOOLEAN"
      case "decimal" | "numeric" => s"NUMERIC(${math.min(math.max(p, 1), 31)},$s)"
      case "money" => "NUMERIC(19,4)"
      case "smallmoney" => "NUMERIC(10,4)"
      case "float" => "DOUBLE"
      case "real" => "REAL"
      case "date" => "DATE"
      case "datetime" | "smalldatetime" | "datetime2" | "datetimeoffset" => "TIMESTAMP"
      case "time" => "VARCHAR(16)"                    // stored as string (§1.2)
      case "uniqueidentifier" => "VARCHAR(36)"
      case "char" | "nchar" | "varchar" | "nvarchar" | "text" | "ntext" =>
        s"VARCHAR(${if (len <= 0) 4000 else len})"
      case "timestamp" | "varbinary" | "binary" | "image" =>
        "BLOB"                                        // excluded from inserts; rides as NULL
      case _ => "VARCHAR(4000)"
    }
  }

  /** Derby's comparison family of a column: values compare only within
    * one family (any number with any number, strings with strings, …);
    * BLOBs compare with nothing (None). */
  def compareFamily(f: StructField): Option[String] =
    derbyType(f).takeWhile(_ != '(') match {
      case "SMALLINT" | "INTEGER" | "BIGINT" | "NUMERIC" | "DOUBLE" | "REAL" => Some("NUMBER")
      case "BLOB" => None
      case other => Some(other)
    }

  /** CREATE TABLE without PK/FK constraints (armed post-load). NOT NULL
    * is kept only where the insert projection actually supplies a value;
    * DB-assigned identity columns keep it via the identity clause. */
  def createTableSql(td: TableDef): String = {
    val inserted = td.safeFields.map(_.name)
      .filterNot(graft.gen.Generator.SkipCols.contains).toSet
    val cols = td.schema.fields.map { f =>
      val identity = f.metadata.getBoolean(DdlParser.MetaIdentity)
      val base = s"${q(f.name)} ${derbyType(f)}"
      if (identity)
        s"$base NOT NULL GENERATED BY DEFAULT AS IDENTITY (START WITH 1, INCREMENT BY 1)"
      else if (!f.nullable && inserted(f.name)) s"$base NOT NULL"
      else base
    }
    s"CREATE TABLE ${q(td.name)} (${cols.mkString(", ")})"
  }

  /** Post-load PK re-arm (fails loudly where generated data collides —
    * the reference's degenerate truncated PKs, run_engine.py:73,252-253). */
  def addPkSql(td: TableDef): Option[String] =
    if (td.pk.isEmpty) None
    else Some(s"ALTER TABLE ${q(td.name)} ADD CONSTRAINT ${q("PK_" + td.name)} " +
      s"PRIMARY KEY (${td.pk.map(q).mkString(", ")})")

  /** Post-load FK re-arm (requires the parent PK to have armed). */
  def addFkSql(fk: Fk): String =
    s"ALTER TABLE ${q(fk.table)} ADD CONSTRAINT " +
      s"${q(s"FK_${fk.table}_${fk.refTable}_${fk.column}")} " +
      s"FOREIGN KEY (${q(fk.column)}) REFERENCES ${q(fk.refTable)} (${q(fk.refColumn)})"
}
