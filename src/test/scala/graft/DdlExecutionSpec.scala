package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.schema._

/** S12/S19 execution-level verification: the engine's emitted DDL is
  * *run* against a live V2 catalog ([[graft.catalog.GraftCatalog]]),
  * and the table's schema read back afterwards must re-diff to empty
  * against the evolution target — the Spark-native analogue of the
  * reference's REST-catalog integration tests (reference
  * tests/test_integration.py, migrate.py:31 apply). `executeDdl`
  * commits column statements straight to the catalog, so the same DDL
  * is also run through `spark.sql` on a twin table: both must store the
  * same schema, or fail with the same Spark error.
  */
class DdlExecutionSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graftcat", "graft.catalog.GraftCatalog")
    s
  }

  /** Keep comments, drop the graft field-id metadata and any other
    * keys, recursively — tables created via DDL never carry ids, so
    * comparisons happen at the id-free Spark level. */
  private def strip(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map { f =>
      val mb = new MetadataBuilder()
      if (f.metadata.contains("comment")) mb.putString("comment", f.metadata.getString("comment"))
      f.copy(dataType = strip(f.dataType), metadata = mb.build())
    })
    case a: ArrayType => a.copy(elementType = strip(a.elementType))
    case m: MapType => m.copy(keyType = strip(m.keyType), valueType = strip(m.valueType))
    case other => other
  }

  /** The schema `graftcat` stores for `t`, comments and metadata
    * included. */
  private def stored(t: String): StructType = {
    val parts = t.split('.')
    spark.sessionState.catalogManager.catalog(parts.head).asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(parts.slice(1, parts.length - 1), parts.last)).schema()
  }

  /** `QueryExecutionListener` events (successes and failures) while
    * `body` runs. */
  private def executions(body: => Unit): Int = {
    Harness.drainListenerBus(spark)
    val n = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = n.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = n.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try { body; assert(Harness.drainListenerBus(spark)) }
    finally spark.listenerManager.unregister(listener)
    n.get
  }

  /** The error `spark.sql(stmt)` fails with. */
  private def sqlError(stmt: String): SparkThrowable = intercept[SparkThrowable](spark.sql(stmt))

  /** The Spark error `executeDdl(Seq(stmt))` fails with, as the cause
    * of its wrapper. */
  private def ddlError(stmt: String): SparkThrowable = {
    val e = intercept[IllegalStateException](Evolver.executeDdl(spark, Seq(stmt)))
    assert(e.getMessage.startsWith("DDL statement 1/1 failed (no statement was applied): "), e.getMessage)
    e.getCause match {
      case t: SparkThrowable => t
      case other => fail(s"not a Spark error: $other", e)
    }
  }

  private val base = GSchema(0, Seq(
    GField(1, "id", required = true, GLong),
    GField(2, "qty", required = false, GInt),
    GField(3, "old_name", required = false, GString, doc = Some("to be renamed")),
    GField(4, "obsolete", required = false, GDouble),
    GField(5, "meta", required = false, GStruct(Seq(
      GField(6, "city", required = false, GString),
      GField(7, "zip", required = false, GString)))),
    GField(8, "tags", required = false, GList(9, elementRequired = false, GString))),
    lastColumnId = 9)

  test("CREATE TABLE DDL executes and the table round-trips the schema") {
    val t = "graftcat.ns.created"
    spark.sql(CreateTableDdl(base, t))
    val back = GSchemaIO.fromTable(spark, t)
    assert(strip(GSchema.toSpark(back)) == strip(GSchema.toSpark(base)))
  }

  // rename + retype + drop + top-level add + nested rename + nested
  // add + move-before: every executable op class in one evolution
  private val mixed = GSchema(0, Seq(
    GField(1, "id", required = true, GLong),
    GField(3, "new_name", required = false, GString, doc = Some("to be renamed")),
    GField(2, "qty", required = false, GLong),
    GField(5, "meta", required = false, GStruct(Seq(
      GField(6, "town", required = false, GString),
      GField(7, "zip", required = false, GString),
      GField(10, "country", required = false, GString)))),
    GField(8, "tags", required = false, GList(9, elementRequired = false, GString)),
    GField(11, "score", required = false, GDouble, doc = Some("quality score"))),
    lastColumnId = 11)

  test("evolution DDL executes against a live catalog and re-diffs to empty") {
    val t = "graftcat.ns.evolving"
    spark.sql(CreateTableDdl(base, t))

    val res = Evolver.evolve(base, mixed, table = t, allowBreaking = true)
    // 8 ops, one statement each before coalescing: 2 renames, then one
    // statement each for the retype, the adds (meta.country, score),
    // the drop and the moves (the reorder, score's position)
    assert(res.ddl.size == 6, res.ddl.mkString("\n"))
    assert(!res.ddl.exists(_.trim.startsWith("--")), s"unexecutable DDL emitted:\n${res.ddl.mkString("\n")}")
    Evolver.executeDdl(spark, res.ddl)

    assertApplied(t, res, res.schema)
  }

  /** The table's read-back schema equals the evolved schema, and
    * re-diffs to empty against `target` with both sides given
    * identical positional ids (added fields get allocator ids). */
  private def assertApplied(t: String, res: EvolveResult, target: GSchema): Unit = {
    val actual = strip(spark.table(t).schema)
    val expected = strip(GSchema.toSpark(res.schema))
    assert(actual == expected, s"\nactual:   ${actual.sql}\nexpected: ${expected.sql}\nddl:\n${res.ddl.mkString("\n")}")
    val rediff = SchemaDiff.byId(positional(actual), positional(GSchema.toSpark(target)))
    assert(rediff.toOperations.isEmpty, s"re-diff not empty: ${rediff.toOperations.map(_.pretty)}")
  }

  private def positional(dt: DataType): GSchema = GSchema.fromSpark(strip(dt).asInstanceOf[StructType])

  test("RENAME TABLE moves metadata and refuses to clobber an existing table") {
    val cur = GSchema(0, Seq(GField(1, "a", required = false, GInt)), lastColumnId = 1)
    spark.sql(CreateTableDdl(cur, "graftcat.ns.rn_src"))
    spark.sql(CreateTableDdl(cur, "graftcat.ns.rn_taken"))
    spark.sql("ALTER TABLE graftcat.ns.rn_src RENAME TO ns.rn_dst")
    assert(spark.table("graftcat.ns.rn_dst").schema.fieldNames.toSeq == Seq("a"))
    intercept[Exception] {
      spark.sql(CreateTableDdl(cur, "graftcat.ns.rn_other"))
      spark.sql("ALTER TABLE graftcat.ns.rn_other RENAME TO ns.rn_taken")
    }
    // the refused rename must leave the source intact
    assert(spark.table("graftcat.ns.rn_other").schema.fieldNames.toSeq == Seq("a"))
  }

  test("executed evolution matches the metadata-level applyOp result for moves") {
    val t = "graftcat.ns.moves"
    val cur = GSchema(0, Seq(
      GField(1, "a", required = false, GInt),
      GField(2, "b", required = false, GInt),
      GField(3, "c", required = false, GInt),
      GField(4, "d", required = false, GInt)), lastColumnId = 4)
    spark.sql(CreateTableDdl(cur, t))
    // d moves before b (→ AFTER a), c moves first
    val target = cur.copy(fields = Seq(cur.fields(2), cur.fields(0), cur.fields(3), cur.fields(1)))
    val res = Evolver.evolve(cur, target, table = t)
    Evolver.executeDdl(spark, res.ddl)
    assert(spark.table(t).schema.fieldNames.toSeq == Seq("c", "a", "d", "b"))
  }

  test("a one-op evolution emits exactly op.toSql") {
    val cases = Seq[EvolutionOp](
      RenameColumn("meta.city", "town"),
      UpdateColumn("qty", Some(GInt), Some(GLong)),
      UpdateColumn("old_name", None, None, Some("it's new")),
      AddColumn("meta.country", GString, Some("iso")),
      DropColumn("meta.zip"),
      MoveColumn("tags", "", "first"),
      MoveColumn("id", "meta", "after"))
    cases.zipWithIndex.foreach { case (op, i) =>
      val t = s"graftcat.ns.one_op_$i"
      val res = Evolver.evolve(base, Evolver.applyOp(base, op), table = t, allowBreaking = true)
      assert(res.ops == Seq(op))
      assert(res.ddl == op.toSql(t))
      spark.sql(CreateTableDdl(base, t))
      Evolver.executeDdl(spark, res.ddl)
      assertApplied(t, res, res.schema)
    }
    // a retype of a documented column re-sets its doc: two clauses on
    // one column, so two statements, as op.toSql gives them
    val documented = Evolver.evolve(base, base.copy(fields = base.fields.map(f =>
      if (f.name == "old_name") f.copy(tpe = GLong) else f)), table = "t", allowBreaking = true)
    assert(documented.ops.size == 1)
    assert(documented.ddl == Seq(
      "ALTER TABLE t ALTER COLUMN `old_name` TYPE BIGINT",
      "ALTER TABLE t ALTER COLUMN `old_name` COMMENT 'to be renamed'"))
  }

  test("coalescing splits on a column already in the statement, its ancestors or descendants") {
    val clauses = Seq(
      DdlClause(Ddl.Alter, "a", " TYPE BIGINT"), DdlClause(Ddl.Alter, "b", " COMMENT 'x'"),
      DdlClause(Ddl.Alter, "a", " COMMENT 'y'"), DdlClause(Ddl.Alter, "s.x", " TYPE BIGINT"),
      DdlClause(Ddl.Alter, "s.y", " COMMENT 'q'"),
      DdlClause(Ddl.Rename, "a", " TO `a2`"), DdlClause(Ddl.Rename, "b", " TO `b2`"),
      DdlClause(Ddl.Add, "n", " STRUCT<p: INT>"), DdlClause(Ddl.Add, "n.q", " INT"),
      DdlClause(Ddl.Add, "s.z", " INT"),
      DdlClause(Ddl.Drop, "s.x", ""), DdlClause(Ddl.Drop, "s.y", ""), DdlClause(Ddl.Drop, "b2", ""))
    val t = "graftcat.ns.coalesce"
    val ddl = Ddl.statements(t, clauses)
    assert(ddl == Seq(
      s"ALTER TABLE $t ALTER COLUMN `a` TYPE BIGINT, `b` COMMENT 'x'",
      s"ALTER TABLE $t ALTER COLUMN `a` COMMENT 'y', `s`.`x` TYPE BIGINT, `s`.`y` COMMENT 'q'",
      s"ALTER TABLE $t RENAME COLUMN `a` TO `a2`",
      s"ALTER TABLE $t RENAME COLUMN `b` TO `b2`",
      s"ALTER TABLE $t ADD COLUMN `n` STRUCT<p: INT>",
      s"ALTER TABLE $t ADD COLUMN `n`.`q` INT, `s`.`z` INT",
      s"ALTER TABLE $t DROP COLUMN `s`.`x`, `s`.`y`, `b2`"))
    spark.sql(s"CREATE TABLE $t (a INT, b STRING, s STRUCT<x: INT, y: STRING>) USING parquet")
    Evolver.executeDdl(spark, ddl)
    assert(strip(spark.table(t).schema) == strip(StructType.fromDDL(
      "a2 BIGINT COMMENT 'y', s STRUCT<z: INT>, n STRUCT<p: INT, q: INT>")))
  }

  test("coalesced evolution DDL executes and re-diffs to empty, 100 seeded evolutions") {
    var statements, perOp, direct = 0
    val ddl = Seq.newBuilder[String]
    (0 until 100).foreach { seed =>
      val rnd = new Random(7000L + seed)
      val cur = Evolutions.schema(rnd)
      val target = Evolutions.evolve(cur, rnd)
      val (t, twin) = (s"graftcat.ns.prop_$seed", s"graftcat.ns.prop_${seed}_sql")
      val res = Evolver.evolve(cur, target, table = t, allowBreaking = true)
      if (res.ops.size == 1) assert(res.ddl == res.ops.head.toSql(t))
      Seq(t, twin).foreach(n => spark.sql(CreateTableDdl(cur, n)))
      direct += executions(Evolver.executeDdl(spark, res.ddl))
      res.ddl.foreach(stmt => spark.sql(stmt.replace(s"ALTER TABLE $t ", s"ALTER TABLE $twin ")))
      withClue(s"seed $seed\ncurrent=$cur\ntarget=$target\nops=${res.ops}\n") {
        assertApplied(t, res, target)
        assert(stored(t) == stored(twin), s"\ndirect:    ${stored(t).sql}\nspark.sql: ${stored(twin).sql}")
      }
      statements += res.ddl.size
      perOp += res.ops.map(op => op.toSql(t).size).sum
      ddl ++= res.ddl
    }
    assert(statements < perOp)
    // every statement took the direct path: no Spark query ran
    assert(direct == 0)
    // the generator reaches every coalescing case
    val all = ddl.result()
    def covers(what: String)(p: String => Boolean): Unit = assert(all.exists(p), s"no $what in\n${all.mkString("\n")}")
    def count(d: String, s: String): Int = d.sliding(s.length).count(_ == s)
    covers("nested rename")(d => d.contains("RENAME COLUMN") && d.contains("`.`"))
    covers("type and doc on one column")(d => d.contains("ALTER COLUMN") && d.contains("TYPE") && d.contains("COMMENT"))
    covers("widen of two struct members")(d => count(d, "`.`") >= 2 && count(d, " TYPE ") >= 2)
    covers("chained moves")(d => count(d, " AFTER ") + count(d, " FIRST") >= 2)
    covers("several adds")(d => d.contains("ADD COLUMN") && d.contains(", "))
    covers("struct-member drop")(d => d.contains("DROP COLUMN") && d.contains("`.`"))
  }

  test("a statement Spark rejects fails with Spark's own error and leaves the schema unchanged") {
    val cols = "a INT, b STRING COMMENT 'bee', s STRUCT<m: INT>, n INT"
    val rejected = Seq(
      "ALTER COLUMN a TYPE BIGINT, a COMMENT 'c'", // type plus comment on one column
      "ALTER COLUMN a TYPE SMALLINT", // a narrowing type
      "ADD COLUMN b INT", // an add of an existing column
      "RENAME COLUMN a TO n", // a rename onto an existing column
      "DROP COLUMN zz", // a drop of a missing column
      "ALTER COLUMN a AFTER zz", // AFTER a missing column
      "ADD COLUMN a.x INT", // an add into a non-struct
      "ADD COLUMN p STRUCT<q: INT>, p.r INT") // an add into a struct the statement adds
    rejected.zipWithIndex.foreach { case (clause, i) =>
      val (t, twin) = (s"graftcat.ns.reject_$i", s"graftcat.ns.reject_${i}_sql")
      Seq(t, twin).foreach(n => spark.sql(s"CREATE TABLE $n ($cols) USING parquet"))
      val before = stored(t)
      val expected = sqlError(s"ALTER TABLE $twin $clause")
      assert(expected.getCondition != null, clause)
      assert(ddlError(s"ALTER TABLE $t $clause").getCondition == expected.getCondition, clause)
      assert(stored(t) == before && stored(twin) == before, clause)
    }
    // a catalog's own IllegalArgumentException becomes the error Spark's
    // AlterTableExec raises for it, also on the direct path
    spark.conf.set("spark.sql.catalog.refusecat", classOf[RefusingCatalog].getName)
    Seq("refusecat.ns.r", "refusecat.ns.r_sql").foreach(n => spark.sql(s"CREATE TABLE $n ($cols) USING parquet"))
    val refused = sqlError("ALTER TABLE refusecat.ns.r_sql ADD COLUMN c INT")
    var direct: SparkThrowable = null
    assert(executions { direct = ddlError("ALTER TABLE refusecat.ns.r ADD COLUMN c INT") } == 0)
    assert(direct.getCondition == refused.getCondition && direct.getMessageParameters == refused.getMessageParameters)

    // a later statement's failure names the statements before it
    val t = "graftcat.ns.reject_later"
    spark.sql(s"CREATE TABLE $t ($cols) USING parquet")
    val e = intercept[IllegalStateException](Evolver.executeDdl(spark,
      Seq(s"ALTER TABLE $t ADD COLUMN c INT", s"ALTER TABLE $t DROP COLUMN zz")))
    assert(e.getMessage.startsWith("DDL statement 2/2 failed (statements 1..1 were applied): "), e.getMessage)
    assert(stored(t).fieldNames.toSeq == Seq("a", "b", "s", "n", "c"))
  }

  test("mixed-case names resolve as spark.sql resolves them, with and without case sensitivity") {
    val cols = "Abc INT, S STRUCT<Mm: INT, Nn: STRING>, Zed STRING"
    val clauses = Seq(
      "ALTER COLUMN abc TYPE BIGINT, s.mm COMMENT 'em', zed AFTER ABC",
      "ADD COLUMN s.Oo DOUBLE, Q INT",
      "ALTER COLUMN q FIRST, s.oo AFTER MM",
      "RENAME COLUMN s.nn TO nn2",
      "DROP COLUMN S.MM")
    val key = "spark.sql.caseSensitive"
    val was = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val (t, twin) = ("graftcat.ns.case_t", "graftcat.ns.case_t_sql")
      Seq(t, twin).foreach(n => spark.sql(s"CREATE TABLE $n ($cols) USING parquet"))
      // the direct path resolves every name: no Spark query runs
      assert(executions(Evolver.executeDdl(spark, clauses.map(c => s"ALTER TABLE $t $c"))) == 0)
      clauses.foreach(c => spark.sql(s"ALTER TABLE $twin $c"))
      assert(stored(t) == stored(twin), s"\ndirect:    ${stored(t).sql}\nspark.sql: ${stored(twin).sql}")
      assert(stored(t).sql == "STRUCT<Q: INT, Abc: BIGINT, Zed: STRING, " +
        "S: STRUCT<Oo: DOUBLE, nn2: STRING>>", stored(t).sql)

      spark.conf.set(key, "true")
      clauses.zipWithIndex.foreach { case (clause, i) =>
        val (t, twin) = (s"graftcat.ns.case_s_$i", s"graftcat.ns.case_s_${i}_sql")
        Seq(t, twin).foreach(n => spark.sql(s"CREATE TABLE $n ($cols) USING parquet"))
        val expected = sqlError(s"ALTER TABLE $twin $clause")
        assert(ddlError(s"ALTER TABLE $t $clause").getCondition == expected.getCondition, clause)
        assert(stored(t) == stored(twin), clause)
      }
    } finally spark.conf.set(key, was)
  }

  test("graft DDL on a V2 catalog commits without a Spark query; the session catalog still runs one") {
    val t = "graftcat.ns.pinned"
    spark.sql(CreateTableDdl(base, t))
    val res = Evolver.evolve(base, mixed, table = t, allowBreaking = true)
    assert(executions(Evolver.executeDdl(spark, res.ddl)) == 0)
    assertApplied(t, res, mixed)

    val v1 = "spark_catalog.default.graft_ddl_pin"
    spark.sql(s"DROP TABLE IF EXISTS $v1")
    spark.sql(s"CREATE TABLE $v1 (a INT) USING parquet")
    try {
      assert(executions(Evolver.executeDdl(spark, Seq(s"ALTER TABLE $v1 ADD COLUMN b INT"))) == 1)
      assert(spark.table(v1).schema.fieldNames.toSeq == Seq("a", "b"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $v1")
  }
}

/** A catalog that refuses every change with a plain
  * `IllegalArgumentException`, as a catalog rejecting a change does. */
class RefusingCatalog extends graft.catalog.GraftCatalog {
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new IllegalArgumentException(s"refused ${changes.size} changes")
}

/** Seeded schemas and evolutions that exercise every coalescing case:
  * nested renames, a type and a doc change on one column, widens of
  * several members of one struct, chained, `first` and `before` moves,
  * positioned adds, adds into structs and struct-member drops. */
private object Evolutions {
  private val widen: Map[GType, GType] = Map(GInt -> GLong, GFloat -> GDouble)
  private val prims = IndexedSeq[GType](GInt, GLong, GFloat, GDouble, GString, GBoolean, GDate)

  def schema(rnd: Random): GSchema = {
    var id = 1
    def next(): Int = { id += 1; id }
    def doc(): Option[String] = if (rnd.nextInt(3) == 0) Some(s"doc $id") else None
    def prim(): GType = prims(rnd.nextInt(prims.size))
    val fields = (1 to 4 + rnd.nextInt(5)).map { i =>
      if (i % 3 == 0) GField(next(), s"s$i", required = false, GStruct((1 to 2 + rnd.nextInt(3)).map(j =>
        GField(next(), s"m$j", required = false, prim(), doc()))), doc())
      else GField(next(), s"c$i", required = false, prim(), doc())
    }
    val s = GSchema(0, GField(1, "id", required = true, GLong) +: fields)
    s.copy(lastColumnId = s.highwaterId)
  }

  def evolve(cur: GSchema, rnd: Random): GSchema =
    (0 until 2 + rnd.nextInt(7)).foldLeft(cur) { (s, step) =>
      val top = s.fields.tail // never touch the key column
      val structs = top.filter(_.tpe.isInstanceOf[GStruct])
      def pick[T](xs: Seq[T]): Option[T] = if (xs.isEmpty) None else Some(xs(rnd.nextInt(xs.size)))
      def members(f: GField): Seq[GField] = f.tpe.asInstanceOf[GStruct].fields
      val ops: Seq[EvolutionOp] = rnd.nextInt(11) match {
        case 0 => pick(top).toSeq.map(f => RenameColumn(f.name, s"${f.name}_r$step"))
        case 1 => pick(structs).toSeq.flatMap(f =>
          pick(members(f)).map(m => RenameColumn(s"${f.name}.${m.name}", s"${m.name}_r$step")))
        case 2 => pick(top.filter(f => widen.contains(f.tpe))).toSeq.map(f =>
          UpdateColumn(f.name, Some(f.tpe), widen.get(f.tpe), Some(s"widened $step")))
        case 3 => pick(structs).toSeq.flatMap(f => members(f).filter(m => widen.contains(m.tpe)).map(m =>
          UpdateColumn(s"${f.name}.${m.name}", Some(m.tpe), widen.get(m.tpe))))
        case 4 => pick(structs ++ top).toSeq.map(f => UpdateColumn(f.name, None, None, Some(s"now $step")))
        case 5 | 6 => (0 to rnd.nextInt(3)).flatMap { _ =>
          pick(top).map(f => pos(f.name, top.map(_.name), rnd))
        }
        case 7 =>
          val name = s"a$step"
          AddColumn(name, prims(rnd.nextInt(prims.size)), if (rnd.nextBoolean()) Some(s"added $step") else None) +:
            (if (rnd.nextBoolean()) Seq(pos(name, top.map(_.name), rnd)) else Nil)
        case 8 => pick(structs).toSeq.map(f => AddColumn(s"${f.name}.a$step", GDouble))
        case 9 => pick(structs.filter(f => members(f).size > 1)).toSeq.flatMap(f =>
          pick(members(f)).map(m => DropColumn(s"${f.name}.${m.name}")))
        case _ => if (top.size > 1) pick(top).toSeq.map(f => DropColumn(f.name)) else Nil
      }
      ops.foldLeft(s)(Evolver.applyOp)
    }

  /** Move `name` first, or before or after another of `names`. */
  private def pos(name: String, names: Seq[String], rnd: Random): MoveColumn = {
    val others = names.filterNot(_ == name)
    if (others.isEmpty || rnd.nextInt(4) == 0) MoveColumn(name, "", "first")
    else MoveColumn(name, others(rnd.nextInt(others.size)), if (rnd.nextBoolean()) "before" else "after")
  }
}
