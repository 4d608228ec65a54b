package graft.catalog

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Minimal in-memory V2 `TableCatalog`: just enough surface for the
  * schema engine's emitted DDL to be *executed* rather than merely
  * rendered — `CREATE TABLE`, `ALTER TABLE ADD/RENAME/ALTER/DROP
  * COLUMN` (incl. nested fields and FIRST/AFTER positions) all run
  * through Spark's analyzer into [[alterTable]], and the evolved
  * schema is read back via `spark.table(...)`.
  *
  * The reference's integration tests do the same against a live REST
  * Iceberg catalog (reference tests/test_integration.py,
  * migrate.py:31 apply); this environment has no Iceberg runtime jar,
  * so the catalog metadata store is this class. Swapping it for
  * `org.apache.iceberg.spark.SparkCatalog` changes only session conf
  * (`spark.sql.catalog.<name>`), not the engine's DDL.
  *
  * Register with `spark.conf.set("spark.sql.catalog.graftcat",
  * "graft.catalog.GraftCatalog")`.
  */
class GraftCatalog extends TableCatalog {
  private var catName: String = _
  private val tables = new ConcurrentHashMap[Identifier, GraftTable]()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catName = name
  override def name(): String = catName

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    import scala.jdk.CollectionConverters._
    tables.keySet().asScala.filter(_.namespace.sameElements(namespace)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val t = tables.get(ident)
    if (t == null) throw new NoSuchTableException(ident.namespace.toSeq :+ ident.name)
    t
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val t = new GraftTable(ident.toString, schema, properties)
    if (tables.putIfAbsent(ident, t) != null)
      throw new TableAlreadyExistsException(ident.namespace.toSeq :+ ident.name)
    t
  }

  /** Applies all of `changes` or none: the new schema is built inside
    * `compute`, so a failing change stores nothing and two concurrent
    * calls on one table cannot lose either's update. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    tables.compute(ident, (_, cur) => {
      if (cur == null) throw new NoSuchTableException(ident.namespace.toSeq :+ ident.name)
      new GraftTable(cur.name(), changes.foldLeft(cur.schema())(SchemaChanges.apply), cur.properties())
    })

  override def dropTable(ident: Identifier): Boolean = tables.remove(ident) != null

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val t = tables.get(oldIdent)
    if (t == null) throw new NoSuchTableException(oldIdent.namespace.toSeq :+ oldIdent.name)
    val renamed = new GraftTable(newIdent.toString, t.schema(), t.properties())
    if (tables.putIfAbsent(newIdent, renamed) != null)
      throw new TableAlreadyExistsException(newIdent.namespace.toSeq :+ newIdent.name)
    tables.remove(oldIdent)
  }
}

/** Metadata-focused table: schema + properties, plus an empty batch
  * read (zero input partitions) because `spark.table(...)` analysis
  * requires BATCH_READ even when only the schema is consumed. */
final class GraftTable(
    tableName: String,
    tableSchema: StructType,
    props: util.Map[String, String]) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def properties(): util.Map[String, String] = props
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new EmptyScan(tableSchema)
    }
}

private final class EmptyScan(schema: StructType) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = Array.empty
  override def createReaderFactory(): PartitionReaderFactory = EmptyReaderFactory
}

private object EmptyReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("GraftTable holds no data")
}

/** Applies V2 `TableChange`s to a `StructType`, recursing through
  * dotted field paths — the catalog-side twin of
  * [[graft.schema.Evolver.applyOp]] (which does the same at the
  * GSchema level). A path with a missing or non-struct segment
  * throws, and so does an add or a rename that would give a struct two
  * fields of one name, as Iceberg's `UpdateSchema` does. */
object SchemaChanges {
  def apply(schema: StructType, change: TableChange): StructType = change match {
    case a: TableChange.AddColumn =>
      val f0 = StructField(a.fieldNames.last, a.dataType, nullable = a.isNullable)
      val f = if (a.comment == null) f0 else f0.withComment(a.comment)
      requireNew(schema, a.fieldNames.init.toSeq, f.name)
      insert(schema, a.fieldNames.init.toSeq, f, a.position)
    case r: TableChange.RenameColumn =>
      if (r.newName != r.fieldNames.last) requireNew(schema, r.fieldNames.init.toSeq, r.newName)
      update(schema, r.fieldNames.toSeq)(f => Some(f.copy(name = r.newName)))
    case u: TableChange.UpdateColumnType =>
      update(schema, u.fieldNames.toSeq)(f => Some(f.copy(dataType = u.newDataType)))
    case c: TableChange.UpdateColumnComment =>
      update(schema, c.fieldNames.toSeq)(f => Some(f.withComment(c.newComment)))
    case n: TableChange.UpdateColumnNullability =>
      update(schema, n.fieldNames.toSeq)(f => Some(f.copy(nullable = n.nullable)))
    case d: TableChange.DeleteColumn =>
      update(schema, d.fieldNames.toSeq)(_ => None)
    case p: TableChange.UpdateColumnPosition =>
      move(schema, p.fieldNames.toSeq, p.position)
    case _: TableChange.SetProperty | _: TableChange.RemoveProperty => schema
    case other =>
      throw new UnsupportedOperationException(s"unsupported table change: $other")
  }

  /** Throws unless the struct at `parent` has no field named `name`. */
  private def requireNew(st: StructType, parent: Seq[String], name: String): Unit = parent match {
    case Seq() => if (st.fieldNames.contains(name)) throw new IllegalArgumentException(s"field '$name' already exists")
    case head +: rest => descend(st, head) { s => requireNew(s, rest, name); s }
  }

  /** Rewrite the field at `path` (None = drop). */
  private def update(st: StructType, path: Seq[String])(f: StructField => Option[StructField]): StructType =
    path match {
      case Seq(leaf) =>
        require(st.fields.exists(_.name == leaf), s"no field '$leaf'")
        StructType(st.fields.toSeq.flatMap(fl => if (fl.name == leaf) f(fl) else Seq(fl)))
      case head +: rest => descend(st, head)(update(_, rest)(f))
      case _ => throw new IllegalArgumentException("empty field path")
    }

  private def insert(st: StructType, parent: Seq[String], field: StructField,
      pos: TableChange.ColumnPosition): StructType =
    if (parent.isEmpty) StructType(place(st.fields.toSeq, field, pos))
    else descend(st, parent.head)(insert(_, parent.tail, field, pos))

  private def move(st: StructType, path: Seq[String], pos: TableChange.ColumnPosition): StructType =
    path match {
      case Seq(leaf) =>
        val moving = st.fields.find(_.name == leaf)
          .getOrElse(throw new IllegalArgumentException(s"no field '$leaf'"))
        StructType(place(st.fields.toSeq.filterNot(_.name == leaf), moving, pos))
      case head +: rest => descend(st, head)(move(_, rest, pos))
      case _ => throw new IllegalArgumentException("empty field path")
    }

  private def place(fields: Seq[StructField], f: StructField,
      pos: TableChange.ColumnPosition): Seq[StructField] = pos match {
    case null => fields :+ f
    case _: TableChange.First => f +: fields
    case a: TableChange.After =>
      val i = fields.indexWhere(_.name == a.column)
      require(i >= 0, s"no field '${a.column}' to position after")
      (fields.take(i + 1) :+ f) ++ fields.drop(i + 1)
    case other => throw new UnsupportedOperationException(s"unsupported position: $other")
  }

  /** Rewrite the struct-typed field `head` of `st` with `rec`. */
  private def descend(st: StructType, head: String)(rec: StructType => StructType): StructType = {
    val i = st.fieldNames.indexOf(head)
    require(i >= 0, s"no field '$head'")
    val fl = st.fields(i)
    fl.dataType match {
      case s: StructType => StructType(st.fields.updated(i, fl.copy(dataType = rec(s))))
      case other => throw new IllegalArgumentException(s"'$head' is not a struct ($other)")
    }
  }
}
