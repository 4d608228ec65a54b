package graft.schema

/** Evolution operations (reference migrate.py): rename / update /
  * add / drop / move / union-schema, each knowing whether it is
  * breaking and/or supported, how to serialize itself, how to render,
  * and how to emit Spark DDL (`ALTER TABLE` — the statement Spark's
  * Iceberg integration executes against a live table; the reference
  * applies the same semantics through PyIceberg's UpdateSchema).
  *
  * Dotted names address nested struct fields (`metadata.location.city`).
  */
sealed trait EvolutionOp {
  def name: String
  def isSupported: Boolean = true
  def isBreaking: Boolean = false
  def toSerializableMap: Map[String, String]
  def pretty: String
  /** The `ALTER TABLE` clauses implementing this op, in apply order. */
  def clauses: Seq[DdlClause]
  /** Spark DDL statement(s) implementing this op on `table`: the
    * one-op case of [[Ddl.statements]]. */
  def toSql(table: String): Seq[String] = Ddl.statements(table, clauses)
}

/** One column clause of an `ALTER TABLE` statement: the verb it goes
  * under, the dotted path it changes and the text after that path. */
final case class DdlClause(verb: String, path: String, action: String)

/** Renders clauses as `ALTER TABLE` statements, coalescing them the
  * way one Spark statement can hold them. */
object Ddl {
  val Add = "ADD COLUMN"
  val Drop = "DROP COLUMN"
  val Alter = "ALTER COLUMN"
  val Rename = "RENAME COLUMN"

  def quote(path: String): String = path.split('.').map(p => s"`$p`").mkString(".")
  def comment(doc: String): String = s" COMMENT '${doc.replace("'", "''")}'"

  /** One statement per run of consecutive clauses with the same verb
    * (`ADD COLUMN a INT, s.b STRING`). A clause starts a new statement
    * when its path, an ancestor or a descendant of it is already in the
    * current one, which Spark rejects as NOT_SUPPORTED_CHANGE_SAME_COLUMN
    * (a type and a comment change on one column, an add into a struct
    * the same statement adds). Renames have no list form: one each. */
  def statements(table: String, clauses: Seq[DdlClause]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var stmt = Vector.empty[DdlClause]
    def flush(): Unit = if (stmt.nonEmpty) {
      out += s"ALTER TABLE $table ${stmt.head.verb} " + stmt.map(c => quote(c.path) + c.action).mkString(", ")
      stmt = Vector.empty
    }
    clauses.foreach { c =>
      val joins = stmt.nonEmpty && c.verb == stmt.head.verb && c.verb != Rename &&
        !stmt.exists(s => overlaps(s.path, c.path))
      if (!joins) flush()
      stmt :+= c
    }
    flush()
    out.result()
  }

  private def overlaps(a: String, b: String): Boolean =
    a == b || a.startsWith(b + ".") || b.startsWith(a + ".")
}

final case class AddColumn(name: String, newType: GType, doc: Option[String] = None) extends EvolutionOp {
  def toSerializableMap: Map[String, String] =
    Map("operation" -> "add_column", "name" -> name, "to" -> newType.typeString) ++
      doc.map("doc" -> _)
  def pretty: String = s"ADD\n└── + $name: ${newType.typeString}"
  def clauses: Seq[DdlClause] =
    Seq(DdlClause(Ddl.Add, name, s" ${GSchema.toSparkType(newType).sql}${doc.map(Ddl.comment).getOrElse("")}"))
}

final case class DropColumn(name: String) extends EvolutionOp {
  override def isBreaking: Boolean = true // always removes data (migrate.py:142)
  def toSerializableMap: Map[String, String] = Map("operation" -> "drop_column", "name" -> name)
  def pretty: String = s"DROP\n└── - $name"
  def clauses: Seq[DdlClause] = Seq(DdlClause(Ddl.Drop, name, ""))
}

final case class UpdateColumn(
    name: String, currentType: Option[GType], newType: Option[GType],
    doc: Option[String] = None, clearDoc: Boolean = false) extends EvolutionOp {
  /** Nested (non-primitive) retypes are unsupported (migrate.py:169). */
  override def isSupported: Boolean = newType.forall(_.isPrimitive)
  /** Breaking iff the new type is narrower (migrate.py:228). */
  override def isBreaking: Boolean = (newType, currentType) match {
    case (Some(n), Some(c)) => Widening.isNarrowerThan(n, c)
    case _ => false
  }
  def toSerializableMap: Map[String, String] =
    Map("operation" -> "update_column_type", "name" -> name,
      "from" -> currentType.map(_.typeString).getOrElse("?"),
      "to" -> newType.map(_.typeString).getOrElse("?")) ++ doc.map("doc" -> _)
  def pretty: String = {
    val from = currentType.map(t => Render.typeTree("from", t)).getOrElse("from: ?")
    val to = newType.map(t => Render.typeTree("to", t)).getOrElse("to: ?")
    s"UPDATE${if (isSupported) "" else " (unsupported)"}\n└── ~ $name:\n" +
      Render.indent(from, "    ") + "\n" + Render.indent(to, "    ")
  }
  def clauses: Seq[DdlClause] =
    newType.map(t => DdlClause(Ddl.Alter, name, s" TYPE ${GSchema.toSparkType(t).sql}")).toSeq ++
      doc.map(d => DdlClause(Ddl.Alter, name, Ddl.comment(d)))
}

final case class RenameColumn(name: String, target: String) extends EvolutionOp {
  def toSerializableMap: Map[String, String] =
    Map("operation" -> "rename_column", "name" -> name, "to" -> target)
  def pretty: String = s"RENAME\n└── ~ $name\n    to: $target"
  def clauses: Seq[DdlClause] = Seq(DdlClause(Ddl.Rename, name, s" TO `$target`"))
}

final case class MoveColumn(name: String, target: String, position: String) extends EvolutionOp {
  def toSerializableMap: Map[String, String] =
    Map("operation" -> "move_column", "name" -> name, "position" -> position, "target" -> target)
  def pretty: String = s"MOVE\n└── ~ $name\n    from: $position\n    of: $target"
  def clauses: Seq[DdlClause] = position match {
    case "first"  => Seq(DdlClause(Ddl.Alter, name, " FIRST"))
    case "after"  => Seq(DdlClause(Ddl.Alter, name, s" AFTER ${Ddl.quote(target)}"))
    // Spark DDL has no BEFORE; Evolver.evolve resolves it to FIRST/AFTER against the schema
    case other => throw new IllegalArgumentException(s"move position '$other' has no Spark DDL")
  }
  override def toSql(table: String): Seq[String] =
    if (position == "before") Seq(s"-- move ${Ddl.quote(name)} before ${Ddl.quote(target)}: " +
      "emitted as AFTER by Evolver once ordering is resolved")
    else super.toSql(table)
}

/** DDL emission for whole schemas (complement of the per-op ALTER
  * statements): the CREATE TABLE a new lake table starts from. */
object CreateTableDdl {
  def apply(schema: GSchema, table: String, using: String = "iceberg",
      partitionedBy: Seq[String] = Nil): String = {
    val cols = schema.fields.map { f =>
      val notNull = if (f.required) " NOT NULL" else ""
      val comment = f.doc.map(Ddl.comment).getOrElse("")
      s"  `${f.name}` ${GSchema.toSparkType(f.tpe).sql}$notNull$comment"
    }.mkString(",\n")
    val part = if (partitionedBy.nonEmpty)
      s"\nPARTITIONED BY (${partitionedBy.map(p => s"`$p`").mkString(", ")})" else ""
    s"CREATE TABLE $table (\n$cols\n) USING $using$part"
  }
}

/** Merge-a-whole-schema op — declared but not auto-applied, matching
  * the reference where UnionSchema.is_supported is False
  * (migrate.py:352); `SchemaDiff.unionByName` + `Evolver` cover the
  * use case through individual adds/updates. */
final case class UnionSchema(name: String, newType: GType) extends EvolutionOp {
  override def isSupported: Boolean = false
  def toSerializableMap: Map[String, String] =
    Map("operation" -> "union_schema", "with" -> newType.typeString)
  def pretty: String = s"UNION SCHEMA (unsupported)\n└── ~ $name:\n    with type: ${newType.typeString}"
  def clauses: Seq[DdlClause] = Nil
}
