package graft.schema

import java.util.Locale

import scala.util.Try

import org.apache.spark.{SparkException, SparkThrowable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{Resolver, UnresolvedFieldName, UnresolvedFieldPosition, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, AlterColumnSpec, AlterColumns, DropColumns, LogicalPlan, QualifiedColType, RenameColumn => RenameCommand}
import org.apache.spark.sql.catalyst.util.ResolveTableConstraints
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Identifier, TableCatalog, TableChange}
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.connector.catalog.TableChange.{After, ColumnPosition, First}
import org.apache.spark.sql.types._

/** Commits one column `ALTER TABLE` straight to its V2 catalog: the
  * statement is parsed with the session's own parser and turned into
  * the `TableChange`s that Spark's analyzer would hand `AlterTableExec`,
  * then committed with one `TableCatalog.alterTable`, as the planner
  * does. No Spark query runs, so the analyzer never builds and
  * transforms one attribute per table column.
  *
  * Only statements whose analysis can be vouched for here take this
  * path: the `ADD`, `DROP`, `RENAME` and `ALTER COLUMN` forms that
  * [[Ddl.statements]] renders, on a table of a V2 catalog other than
  * the session catalog, with every name resolving to exactly one field
  * (by the session's resolver) and nothing Spark would reject.
  * Anything else (a positioned add, `IF EXISTS`, DEFAULT, nullability,
  * CHAR/VARCHAR or collated strings, a type change that is not an
  * atomic up-cast, a path touched twice, a name clash, a missing
  * column) is left to `spark.sql`, so every error a caller sees is
  * Spark's own. */
private[schema] object DirectDdl {
  private val SessionCatalog = "spark_catalog"
  /** The metadata key under which Spark keeps a CHAR/VARCHAR column's
    * declared type. */
  private val RawCharType = "__CHAR_VARCHAR_TYPE_STRING"

  /** Commits `stmt` and returns true, or returns false, having touched
    * nothing, when only `spark.sql` can vouch for it. */
  def commit(spark: SparkSession, stmt: String): Boolean = plan(spark, stmt) match {
    case None => false
    case Some((catalog, ident, changes)) =>
      ResolveTableConstraints.validateCatalogForTableChange(changes, catalog, ident)
      try catalog.alterTable(ident, changes: _*)
      catch {
        case e: IllegalArgumentException if !e.isInstanceOf[SparkThrowable] =>
          throw new SparkException("_LEGACY_ERROR_TEMP_2045", Map("message" -> e.getMessage), e)
      }
      true
  }

  /** The catalog, table and changes `stmt` commits, when the direct
    * path accepts it. */
  private def plan(spark: SparkSession, stmt: String): Option[(TableCatalog, Identifier, Seq[TableChange])] =
    Try(spark.sessionState.sqlParser.parsePlan(stmt)).toOption.flatMap {
      case cmd @ (_: AddColumns | _: DropColumns | _: RenameCommand | _: AlterColumns) =>
        table(spark, cmd.children.head).flatMap { case (catalog, ident, schema) =>
          new Changes(schema, spark.sessionState.conf.resolver)(cmd).map((catalog, ident, _))
        }
      case _ => None
    }

  /** The table `plan` names, with its schema; None for a temp view,
    * the session catalog, a catalog that does not load or is not a
    * `TableCatalog`, a table that does not load and a table with a
    * default collation, which Spark applies to the new string types. */
  private def table(spark: SparkSession, plan: LogicalPlan): Option[(TableCatalog, Identifier, StructType)] =
    plan match {
      case UnresolvedTable(parts, _, _) if !spark.sessionState.catalog.isTempView(parts) =>
        catalogAndIdentifier(spark, parts).flatMap {
          case (catalog: TableCatalog, ident) if !catalog.name.equalsIgnoreCase(SessionCatalog) =>
            Try(catalog.loadTable(ident)).toOption
              .filterNot(_.properties.containsKey(TableCatalog.PROP_COLLATION))
              .collect { case t if t.columns.forall(c => Option(c.metadataInJSON).forall(!_.contains(RawCharType))) =>
                (catalog, ident, StructType(t.columns.map(c => StructField(c.name, c.dataType, c.nullable))))
              }
          case _ => None
        }
      case _ => None
    }

  /** `parts` resolved as Spark's `CatalogAndIdentifier` does: one part
    * is a table in the current catalog and namespace; a longer name
    * starts with its catalog when the first part names one (global temp
    * views, which live in the session catalog, are left out). */
  private def catalogAndIdentifier(spark: SparkSession, parts: Seq[String]): Option[(CatalogPlugin, Identifier)] = {
    val manager = spark.sessionState.catalogManager
    if (parts.size == 1) Some((manager.currentCatalog, Identifier.of(manager.currentNamespace, parts.head)))
    else if (parts.head.equalsIgnoreCase(spark.conf.get(StaticSQLConf.GLOBAL_TEMP_DATABASE.key))) None
    else if (manager.isCatalogRegistered(parts.head))
      Try(manager.catalog(parts.head)).toOption.map((_, Identifier.of(parts.tail.init.toArray, parts.last)))
    else Some((manager.currentCatalog, Identifier.of(parts.init.toArray, parts.last)))
  }

  /** One statement's changes against `schema`, in the order
    * `AlterTableCommand.changes` gives them. */
  private final class Changes(schema: StructType, resolver: Resolver) {
    def apply(cmd: LogicalPlan): Option[Seq[TableChange]] = cmd match {
      case AddColumns(_, cols) =>
        all(cols)(add).collect { case cs if disjoint(cs.map(_._1)) => cs.map(_._2) }
      case DropColumns(_, cols, false) =>
        all(cols) {
          case UnresolvedFieldName(parts) => fieldsAt(schema, parts).map(_.map(_.name))
          case _ => None
        }.collect { case paths if disjoint(paths) => paths.map(p => TableChange.deleteColumn(p.toArray, false)) }
      case RenameCommand(_, UnresolvedFieldName(parts), newName) =>
        fieldsAt(schema, parts).collect {
          case fs if !parentOf(fs).fieldNames.exists(_.equalsIgnoreCase(newName)) =>
            Seq(TableChange.renameColumn(fs.map(_.name).toArray, newName))
        }
      case AlterColumns(_, specs) =>
        all(specs)(alter).collect { case cs if disjoint(cs.map(_._1)) => cs.flatMap(_._2) }
      case _ => None
    }

    /** An unpositioned add of a nullable, DEFAULT-free column of plain
      * type under an existing struct, clashing with no field there. */
    private def add(c: QualifiedColType): Option[(Seq[String], TableChange)] = {
      val parent = c.path match {
        case None => Some(Nil -> schema)
        case Some(UnresolvedFieldName(parts)) => fieldsAt(schema, parts).collect {
          case fs @ (_ :+ StructField(_, s: StructType, _, _)) => fs.map(_.name) -> s
        }
        case _ => None
      }
      parent.collect { case (path, struct) if c.position.isEmpty && c.nullable && c.default.isEmpty &&
          plain(c.dataType) && !struct.fieldNames.exists(_.equalsIgnoreCase(c.colName)) =>
        val name = path :+ c.colName
        name -> TableChange.addColumn(name.toArray, c.dataType, true, c.comment.orNull, null, null)
      }
    }

    /** Type, then comment, then position, for one column spec without
      * nullability or DEFAULT. A type equal to the current one is no
      * change, as in Spark; any other must be an atomic up-cast. */
    private def alter(spec: AlterColumnSpec): Option[(Seq[String], Seq[TableChange])] = spec match {
      case AlterColumnSpec(UnresolvedFieldName(parts), newType, None, comment, position, None, false) =>
        fieldsAt(schema, parts).flatMap { fs =>
          val path = fs.map(_.name)
          val field = fs.last
          val typeChange = newType match {
            case None => Some(None)
            case Some(_) if field.metadata.contains(RawCharType) => None
            case Some(t) if t == field.dataType => Some(None)
            case Some(t) if atomic(field.dataType) && atomic(t) && Cast.canUpCast(field.dataType, t) =>
              Some(Some(TableChange.updateColumnType(path.toArray, t)))
            case _ => None
          }
          val positionChange = position match {
            case None => Some(None)
            case Some(UnresolvedFieldPosition(a: After)) => unique(parentOf(fs), a.column)
              .map(f => Some(TableChange.updateColumnPosition(path.toArray, ColumnPosition.after(f.name))))
            case Some(UnresolvedFieldPosition(f: First)) => Some(Some(TableChange.updateColumnPosition(path.toArray, f)))
            case _ => None
          }
          for (t <- typeChange; p <- positionChange)
            yield path -> (t.toSeq ++ comment.map(TableChange.updateColumnComment(path.toArray, _)) ++ p)
        }
      case _ => None
    }

    /** The fields along `parts`, each the one field of its struct that
      * its name resolves to; every field but the last is a struct. */
    private def fieldsAt(st: StructType, parts: Seq[String]): Option[Seq[StructField]] =
      unique(st, parts.head).flatMap { f =>
        if (parts.size == 1) Some(Seq(f))
        else f.dataType match {
          case s: StructType => fieldsAt(s, parts.tail).map(f +: _)
          case _ => None
        }
      }

    private def unique(st: StructType, name: String): Option[StructField] =
      st.fields.filter(f => resolver(f.name, name)) match {
        case Array(f) => Some(f)
        case _ => None
      }

    /** The struct that holds the last of `fs`. */
    private def parentOf(fs: Seq[StructField]): StructType =
      if (fs.size == 1) schema else fs(fs.size - 2).dataType.asInstanceOf[StructType]
  }

  private def all[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] =
    xs.foldLeft(Option(Vector.empty[B]))((acc, x) => acc.flatMap(bs => f(x).map(bs :+ _)))

  /** No path equals, or is an ancestor of, another, ignoring case:
    * Spark rejects a column changed twice in one statement
    * (NOT_SUPPORTED_CHANGE_SAME_COLUMN) and checks duplicate adds. */
  private def disjoint(paths: Seq[Seq[String]]): Boolean = {
    val ps = paths.map(_.map(_.toLowerCase(Locale.ROOT)))
    ps.indices.forall(i => (i + 1 until ps.size).forall(j => !ps(i).startsWith(ps(j)) && !ps(j).startsWith(ps(i))))
  }

  /** Types the analyzer passes through unchanged: atomic types below,
    * and structs, arrays and maps of them with no CHAR/VARCHAR field. */
  private def plain(t: DataType): Boolean = t match {
    case s: StructType => s.fields.forall(f =>
      !f.metadata.contains(RawCharType) && plain(f.dataType))
    case a: ArrayType => plain(a.elementType)
    case m: MapType => plain(m.keyType) && plain(m.valueType)
    case other => atomic(other)
  }

  private def atomic(t: DataType): Boolean = t match {
    case _: CharType | _: VarcharType => false
    case s: StringType => s.collationId == StringType.collationId
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        BinaryType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }
}
