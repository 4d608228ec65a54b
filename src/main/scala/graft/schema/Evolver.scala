package graft.schema

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Result of an evolve run: the migrated data, the schema after
  * evolution, the applied operations (in phase order) and the DDL
  * that would implement them on a live catalog table, coalesced as
  * [[Ddl.statements]] describes. */
final case class EvolveResult(
    data: Option[DataFrame],
    schema: GSchema,
    ops: Seq[EvolutionOp],
    ddl: Seq[String])

/** The evolve workflow (reference schema.py:152) re-expressed for
  * Spark: compute the diff, gate on unsupported/breaking operations,
  * then apply in three phases (renames → add/update/drop → moves).
  *
  * Where the reference mutates catalog metadata through PyIceberg,
  * graft does two Spark-native things:
  *  1. emits the equivalent `ALTER TABLE` DDL (what Spark's Iceberg
  *     integration runs against a live table), which [[executeDdl]]
  *     commits to a V2 catalog straight as `TableChange`s, with no
  *     Spark query and no `QueryExecutionListener` event per statement
  *     (falling back to `spark.sql` for what it cannot vouch for), and
  *  2. migrates *data* by compiling the evolved schema into a single
  *     recursive projection (`conform`) — per-field cast / rename /
  *     null-fill / drop / reorder matched by field id. A projection
  *     is narrow (no shuffle), fully codegen'd and columnar, so the
  *     same migration runs unchanged on a 100 TB table.
  */
object Evolver {

  /** Strictness gate + phase ordering, without applying anything. */
  def plan(diff: SchemaDiff, strict: Boolean = true, allowBreaking: Boolean = false): Seq[EvolutionOp] = {
    val ops = diff.toOperations
    if (strict) {
      val unsupported = ops.filterNot(_.isSupported)
      if (unsupported.nonEmpty) throw new UnsupportedEvolutionException(
        "Aborting schema evolution: unsupported operations:\n" + unsupported.map(_.pretty).mkString("\n"))
    }
    val breaking = ops.filter(o => o.isBreaking && !allowBreaking)
    if (breaking.nonEmpty) throw new BreakingChangeException(
      "Breaking changes are not allowed unless allowBreaking=true:\n" + breaking.map(_.pretty).mkString("\n"))
    phased(ops.filter(o => o.isSupported))
  }

  /** Renames first, then add/update/drop, then moves (schema.py:233). */
  def phased(ops: Seq[EvolutionOp]): Seq[EvolutionOp] = ops.sortBy(phase)

  private def phase(op: EvolutionOp): Int = op match {
    case _: RenameColumn => 0
    case _: MoveColumn => 2
    case _ => 1
  }

  /** Full workflow: diff → gate → evolved schema (+ migrated data when
    * a DataFrame is supplied). dryRun returns the plan but leaves data
    * and schema untouched.
    *
    * `ddl` is coalesced: within a phase, each run of consecutive
    * same-kind changes becomes one statement (`ADD COLUMN a INT, s.b
    * STRING`, `DROP COLUMN a, s.b`, `ALTER COLUMN a TYPE BIGINT, b
    * COMMENT 'x', c AFTER d`), and a change starts a new statement
    * when its column, an ancestor or a descendant is already in the
    * current one. Renames are one per statement. A one-op evolution
    * emits exactly `op.toSql(table)`. */
  def evolve(
      current: GSchema,
      target: GSchema,
      data: Option[DataFrame] = None,
      table: String = "t",
      strict: Boolean = true,
      allowBreaking: Boolean = false,
      dryRun: Boolean = false): EvolveResult = {
    val diff = SchemaDiff.byId(current, target)
    val ops = plan(diff, strict, allowBreaking)
    // Render each op's clauses against the schema state it actually
    // sees (ops apply in phase order), so `before` moves resolve to
    // executable FIRST/AFTER clauses; then coalesce within each phase.
    val (evolved, steps) = ops.foldLeft((current, Vector.empty[(Int, Seq[DdlClause])])) {
      case ((sch, acc), op) => (applyOp(sch, op), acc :+ (phase(op) -> resolved(sch, op).clauses))
    }
    val ddl = steps.groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, inPhase) => Ddl.statements(table, inPhase.flatMap(_._2)) }
    if (dryRun) EvolveResult(data, current, ops, ddl)
    else EvolveResult(data.map(df => conform(df, current, evolved)), evolved, ops, ddl)
  }

  /** `op` with a `before` move, which Spark DDL lacks, resolved to
    * FIRST / AFTER the target's predecessor among the siblings in
    * `schema`. */
  private def resolved(schema: GSchema, op: EvolutionOp): EvolutionOp = op match {
    case MoveColumn(path, target, "before") =>
      val (parent, leaf) = splitPath(path)
      val siblings =
        if (parent.isEmpty) schema.fields
        else fieldAt(schema, parent).tpe match {
          case GStruct(fs) => fs
          case other => throw new IllegalArgumentException(s"'$parent' is not a struct ($other)")
        }
      val rest = siblings.filterNot(_.name == leaf)
      val i = rest.indexWhere(_.name == target)
      require(i >= 0, s"move: no target field '$target'")
      if (i == 0) MoveColumn(path, "", "first") else MoveColumn(path, rest(i - 1).name, "after")
    case other => other
  }

  private def fieldAt(schema: GSchema, path: String): GField = {
    def rec(fields: Seq[GField], parts: List[String]): GField = parts match {
      case p :: Nil => fields.find(_.name == p)
        .getOrElse(throw new IllegalArgumentException(s"no field '$p' (path $path)"))
      case p :: rest => fields.find(_.name == p).map(_.tpe) match {
        case Some(GStruct(fs)) => rec(fs, rest)
        case other => throw new IllegalArgumentException(s"'$p' is not a struct in $path ($other)")
      }
      case Nil => throw new IllegalArgumentException("empty path")
    }
    rec(schema.fields, path.split('.').toList)
  }

  /** Execute an evolution's DDL against a live catalog table — the
    * Spark-native analogue of the reference applying `UpdateSchema`
    * through PyIceberg (reference migrate.py:31; integration-tested
    * against a REST catalog in tests/test_integration.py). Works on
    * any V2 catalog the session is wired to (Iceberg in production,
    * [[graft.catalog.GraftCatalog]] offline). Each statement is one
    * `TableCatalog.alterTable` call, which is one Iceberg commit and
    * applies all of its changes or none, so a failure leaves exactly
    * the statements before it applied.
    *
    * A column `ADD`/`DROP`/`RENAME`/`ALTER COLUMN` of the forms
    * [[Ddl.statements]] renders, on a V2 catalog other than the session
    * catalog, commits directly: it is parsed with the session's parser
    * and its `TableChange`s, the ones Spark's analyzer would produce,
    * go to `alterTable` without a Spark query. Such a statement emits
    * no SQL execution and no `QueryExecutionListener` event, and costs
    * no analyzer pass over the table's columns. Every other statement,
    * and any the direct path cannot vouch for, runs through `spark.sql`
    * as before, so a failing statement fails with Spark's own error. */
  def executeDdl(spark: org.apache.spark.sql.SparkSession, ddl: Seq[String]): Unit =
    ddl.zipWithIndex.foreach { case (stmt, i) =>
      try { if (!DirectDdl.commit(spark, stmt)) spark.sql(stmt) }
      catch { case e: Exception =>
        // report exactly how far the apply got — there is no transaction
        // to roll back outside a real lake catalog
        val applied = if (i == 0) "no statement was applied" else s"statements 1..$i were applied"
        throw new IllegalStateException(s"DDL statement ${i + 1}/${ddl.size} failed ($applied): $stmt", e)
      }
    }

  // ------------------------------------------------- schema mutation
  /** Apply one operation to a schema (metadata level). The id
    * highwater is carried forward so dropped-column ids are never
    * reused (Iceberg last-column-id semantics). */
  def applyOp(schema: GSchema, op: EvolutionOp): GSchema = {
    val hw = schema.highwaterId
    val out = applyOp0(schema.copy(lastColumnId = hw), op)
    out.copy(lastColumnId = out.highwaterId)
  }

  private def applyOp0(schema: GSchema, op: EvolutionOp): GSchema = op match {
    case RenameColumn(path, target) =>
      mapField(schema, path)(f => Seq(f.copy(name = target)))
    case UpdateColumn(path, _, newType, doc, clearDoc) =>
      mapField(schema, path)(f => Seq(f.copy(
        tpe = newType.getOrElse(f.tpe),
        doc = if (clearDoc) None else doc.orElse(f.doc))))
    case AddColumn(path, tpe, doc) =>
      val id = schema.highwaterId + 1
      val (parent, leaf) = splitPath(path)
      if (parent.isEmpty)
        schema.copy(fields = schema.fields :+ GField(id, leaf, required = false, tpe, doc))
      else mapField(schema, parent)(f => f.tpe match {
        case GStruct(fs) => Seq(f.copy(tpe = GStruct(fs :+ GField(id, leaf, required = false, tpe, doc))))
        case other => throw new IllegalArgumentException(s"cannot add '$path' into non-struct $other")
      })
    case DropColumn(path) => mapField(schema, path)(_ => Nil)
    case MoveColumn(path, target, position) =>
      val (parent, leaf) = splitPath(path)
      def reorder(fields: Seq[GField]): Seq[GField] = {
        val moving = fields.find(_.name == leaf).getOrElse(
          throw new IllegalArgumentException(s"move: no field '$leaf'"))
        val rest = fields.filterNot(_.name == leaf)
        position match {
          case "first" => moving +: rest
          case "before" | "after" =>
            val i = rest.indexWhere(_.name == target)
            require(i >= 0, s"move: no target field '$target'")
            val at = if (position == "before") i else i + 1
            (rest.take(at) :+ moving) ++ rest.drop(at)
          case other => throw new IllegalArgumentException(s"bad move position: $other")
        }
      }
      if (parent.isEmpty) schema.copy(fields = reorder(schema.fields))
      else mapField(schema, parent)(f => f.tpe match {
        case GStruct(fs) => Seq(f.copy(tpe = GStruct(reorder(fs))))
        case other => throw new IllegalArgumentException(s"cannot reorder non-struct $other")
      })
    case u: UnionSchema =>
      throw new UnsupportedEvolutionException(s"UnionSchema is not auto-applied: ${u.name}")
  }

  private def splitPath(path: String): (String, String) = {
    val i = path.lastIndexOf('.')
    if (i < 0) ("", path) else (path.substring(0, i), path.substring(i + 1))
  }


  /** Rewrite the field at a dotted path (empty result = drop). */
  private def mapField(schema: GSchema, path: String)(f: GField => Seq[GField]): GSchema = {
    def rec(fields: Seq[GField], parts: List[String]): Seq[GField] = parts match {
      case Nil => fields
      case p :: Nil =>
        require(fields.exists(_.name == p), s"no field '$p' (path $path)")
        fields.flatMap(fl => if (fl.name == p) f(fl) else Seq(fl))
      case p :: rest => fields.map { fl =>
        if (fl.name != p) fl
        else fl.tpe match {
          case GStruct(fs) => fl.copy(tpe = GStruct(rec(fs, rest)))
          case other => throw new IllegalArgumentException(s"'$p' is not a struct in path $path ($other)")
        }
      }
    }
    schema.copy(fields = rec(schema.fields, path.split('.').toList))
  }

  // ------------------------------------------------- data migration
  /** Project `df` (shaped like `from`) onto `to`, matching fields by
    * id at every nesting level: rename/reorder are free, type changes
    * become casts, missing fields null-fill, dropped fields vanish.
    * Recurses through structs, arrays and map values with codegen'd
    * higher-order functions — one narrow stage, zero shuffle. */
  def conform(df: DataFrame, from: GSchema, to: GSchema): DataFrame = {
    val srcById = from.fields.map(f => f.id -> f).toMap
    val cols = to.fields.map { tf =>
      srcById.get(tf.id) match {
        case Some(sf) => conformCol(col(s"`${sf.name}`"), sf.tpe, tf.tpe).as(tf.name)
        case None => lit(null).cast(GSchema.toSparkType(tf.tpe)).as(tf.name)
      }
    }
    df.select(cols: _*)
  }

  private def conformCol(src: Column, from: GType, to: GType): Column = (from, to) match {
    case (a, b) if a == b => src
    case (GStruct(sf), GStruct(tf)) =>
      val byId = sf.map(f => f.id -> f).toMap
      val members = tf.map { t =>
        byId.get(t.id) match {
          case Some(s) => conformCol(src.getField(s.name), s.tpe, t.tpe).as(t.name)
          case None => lit(null).cast(GSchema.toSparkType(t.tpe)).as(t.name)
        }
      }
      when(src.isNull, lit(null).cast(GSchema.toSparkType(to)))
        .otherwise(struct(members: _*))
    case (GList(_, _, se), GList(_, _, te)) =>
      if (se == te) src else transform(src, e => conformCol(e, se, te))
    case (GMap(_, sk, _, _, sv), GMap(_, tk, _, _, tv)) =>
      val keyed = if (sk == tk) src
        else map_from_arrays(transform(map_keys(src), k => conformCol(k, sk, tk)), map_values(src))
      if (sv == tv) keyed else transform_values(keyed, (_, v) => conformCol(v, sv, tv))
    case _ => src.cast(GSchema.toSparkType(to))
  }
}

class UnsupportedEvolutionException(msg: String) extends RuntimeException(msg)
class BreakingChangeException(msg: String) extends RuntimeException(msg)
