package graft.sources

import org.apache.spark.sql.types._

/** Schema evolution from the DDL control stream (SURVEY.md §2.A A5 /
  * §1.4): the reference captures DDL to `schema-changes.prod.postgres`
  * (`include.schema.changes=true`, postgresql-connector.yaml:44-46), and
  * the consumer-side registry must evolve compatibly without reprocessing:
  *
  *   - ADD COLUMN: the new column appears as nullable — envelopes produced
  *     BEFORE the DDL still parse (the field is simply null) and envelopes
  *     after it populate it. This is exactly `from_json`'s missing-field
  *     behavior.
  *   - DROP COLUMN: the column disappears from the registry — envelopes
  *     produced BEFORE the DDL still parse (`from_json` ignores JSON
  *     fields absent from the schema), post-DDL envelopes never had it.
  *   - Type WIDENING (int→bigint, real→double): the registry moves to the
  *     wider type — old narrow values parse losslessly under it. Anything
  *     narrowing or shape-changing is NOT forward-compatible and is
  *     log-and-ignored (it needs a reprocessing policy, SURVEY.md §2.A
  *     A5's "log-and-ignore the rest").
  */
object SchemaEvolution {

  /** One registry-applicable schema change parsed from DDL. */
  sealed trait SchemaChange { def table: String }
  final case class AddCol(table: String, field: StructField)
      extends SchemaChange
  final case class DropCol(table: String, column: String)
      extends SchemaChange
  final case class AlterColType(table: String, column: String, to: DataType)
      extends SchemaChange
  final case class RenameCol(table: String, from: String, to: String)
      extends SchemaChange

  private val Tbl = """(?:[\w"]+\.)?([\w"]+)"""
  private val AddColumn =
    s"""(?i)ALTER\\s+TABLE\\s+$Tbl\\s+ADD\\s+COLUMN\\s+([\\w"]+)\\s+([\\w()\\[\\], ]+?)\\s*$$""".r
  private val DropColumn =
    s"""(?i)ALTER\\s+TABLE\\s+$Tbl\\s+DROP\\s+COLUMN\\s+(?:IF\\s+EXISTS\\s+)?([\\w"]+)\\s*$$""".r
  // Postgres `ALTER COLUMN c TYPE t` / `SET DATA TYPE t`; MySQL `MODIFY
  // [COLUMN] c t` — the COLUMN keyword is optional and usually omitted
  private val AlterType =
    s"""(?i)ALTER\\s+TABLE\\s+$Tbl\\s+(?:ALTER\\s+COLUMN\\s+([\\w"]+)\\s+(?:SET\\s+DATA\\s+)?TYPE|MODIFY\\s+(?:COLUMN\\s+)?([\\w"]+))\\s+([\\w()\\[\\], ]+?)\\s*$$""".r
  // Postgres / MySQL 8 `RENAME COLUMN a TO b`
  private val RenameColumn =
    s"""(?i)ALTER\\s+TABLE\\s+$Tbl\\s+RENAME\\s+(?:COLUMN\\s+)?([\\w"]+)\\s+TO\\s+([\\w"]+)\\s*$$""".r

  private def unq(s: String) = s.replaceAll("\"", "")

  /** Debezium-typed mapping for the common Postgres DDL type names, under
    * the configured modes (decimal-as-string, adaptive micros). Postgres
    * canonicalizes several names to MULTI-WORD forms ("double precision",
    * "timestamp with time zone") — normalize whitespace after stripping
    * any `(p,s)` suffix so those match instead of falling through to
    * StringType (which would silently veto a real→double widening). */
  def sqlTypeToSpark(t: String): DataType = {
    val norm = t.trim.toLowerCase.takeWhile(c => c != '(')
      .trim.replaceAll("\\s+", " ")
    norm match {
      case "smallint" | "int" | "integer" | "serial"       => IntegerType
      case "bigint" | "bigserial"                          => LongType
      case "real"                                          => FloatType
      case "double" | "double precision" | "float" | "float8"
                                                           => DoubleType
      case "boolean" | "bool"                              => BooleanType
      case "numeric" | "decimal"                           => StringType // decimal.handling.mode=string
      // timestamp[tz] / time[tz] / "… with[out] time zone" / date
      case s if s.startsWith("time") || s == "date"        => LongType   // adaptive micros
      case _                                               => StringType // text/varchar/json/unknown
    }
  }

  /** Parse one DDL statement; None when unsupported (log-and-ignore). */
  def parseDdl(ddl: String): Option[SchemaChange] = ddl match {
    case AddColumn(table, colName, sqlType) =>
      Some(AddCol(unq(table),
        StructField(unq(colName), sqlTypeToSpark(sqlType), nullable = true)))
    case DropColumn(table, colName) =>
      Some(DropCol(unq(table), unq(colName)))
    case AlterType(table, pgCol, myCol, sqlType) =>
      Some(AlterColType(unq(table),
        unq(Option(pgCol).getOrElse(myCol)), sqlTypeToSpark(sqlType)))
    case RenameColumn(table, from, to) =>
      Some(RenameCol(unq(table), unq(from), unq(to)))
    case _ => None
  }

  /** Is `from` → `to` a lossless widening? Old values parse exactly under
    * the wider type; everything else needs reprocessing. */
  private[sources] def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (IntegerType, LongType)   => true
      case (IntegerType, DoubleType) => true
      case (FloatType, DoubleType)   => true
      case _                         => false
    }

  /** Apply supported DDL statements to a registry AND track rename
    * lineage in the same fold, so the lineage reflects exactly the
    * renames that were APPLIED — a rename `evolve` rejects (unknown
    * table/source column, or the target name already exists) records no
    * lineage, and a column RE-ADDED under a lineage's original name ends
    * that lineage (the old name now denotes a new real column; coalescing
    * pre-DDL values into it would mix two different columns' data).
    * Unknown statements, unknown tables/columns, and non-widening type
    * changes are ignored (the side topic also carries session DDL noise
    * in real deployments). Duplicate adds/drops are idempotent. */
  def evolveWithLineage(
      registry: Map[String, StructType],
      ddls: Seq[String])
    : (Map[String, StructType], Map[String, Map[String, String]]) = {
    val (reg, lin) = ddls.flatMap(parseDdl)
      .foldLeft((registry, Map.empty[String, Map[String, String]])) {
        case ((reg, lin), change) =>
          reg.get(change.table) match {
            case None => (reg, lin)
            case Some(schema) =>
              val m = lin.getOrElse(change.table, Map.empty[String, String])
              change match {
                case AddCol(table, field)
                    if !schema.fieldNames.contains(field.name) =>
                  (reg.updated(table, StructType(schema.fields :+ field)),
                    lin.updated(table,
                      m.filterNot { case (_, orig) => orig == field.name }))
                case DropCol(table, column) =>
                  (reg.updated(table,
                      StructType(schema.fields.filterNot(_.name == column))),
                    lin.updated(table, m - column))
                case AlterColType(table, column, to) =>
                  schema.fields.find(_.name == column) match {
                    case Some(f) if widens(f.dataType, to) =>
                      (reg.updated(table, StructType(schema.fields.map(x =>
                        if (x.name == column) x.copy(dataType = to) else x))),
                        lin)
                    case _ => (reg, lin) // narrowing / unknown: log-and-ignore
                  }
                case RenameCol(table, from, to)
                    if schema.fieldNames.contains(from)
                      && !schema.fieldNames.contains(to) =>
                  val orig = m.getOrElse(from, from)
                  // the rename RE-OCCUPIES `to`: any lineage whose
                  // ORIGINAL name is `to` must end now (same rule as
                  // AddCol above) — otherwise the consumer's
                  // original-name twin for that lineage collides with
                  // the real current column `to` (duplicate field), or
                  // silently coalesces another column's data
                  val cleared = m.filterNot { case (_, o) => o == to }
                  (reg.updated(table, StructType(schema.fields.map(x =>
                      if (x.name == from) x.copy(name = to) else x))),
                    lin.updated(table, (cleared - from).updated(to, orig)))
                case _ => (reg, lin) // duplicate add / colliding rename
              }
          }
      }
    // a→b→a round trips collapse to self-maps — no augmentation needed
    (reg, lin.map { case (t, m) =>
        t -> m.filterNot { case (k, v) => k == v } }
      .filter(_._2.nonEmpty))
  }

  /** Registry evolution only — see [[evolveWithLineage]]. */
  def evolve(
      registry: Map[String, StructType],
      ddls: Seq[String]): Map[String, StructType] =
    evolveWithLineage(registry, ddls)._1

  /** Rename lineage across a DDL sequence applied to `registry`: per
    * table, each CURRENT column name that was renamed mapped to its
    * ORIGINAL (pre-DDL) name — chains (a→b, b→c) collapse to `c → a`,
    * dropping a renamed column ends its lineage, and (because the fold is
    * shared with [[evolve]]) only renames the registry actually accepted
    * appear. Consumers use this to parse pre-DDL envelopes under the
    * evolved registry: augment the schema with the original-name twin and
    * coalesce new ← old (a rename is a metadata operation in the source
    * database — old envelopes still carry the old field name and must
    * keep parsing without reprocessing). */
  def renameLineage(
      registry: Map[String, StructType],
      ddls: Seq[String]): Map[String, Map[String, String]] =
    evolveWithLineage(registry, ddls)._2
}
