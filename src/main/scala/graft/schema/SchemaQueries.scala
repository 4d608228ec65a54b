package graft.schema

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Driver-gate query for the schema engine (SURVEY.md §2.1 S13):
  * a full evolve — rename + widen + add + drop + move — applied as a
  * distributed data migration on `lineitem`, verified value-for-value
  * against a hand-written SQL projection in DuckDB.
  */
object SchemaQueries {

  val migrate = QueryDef(
    "schema_migrate",
    Some("""SELECT l_returnflag, l_orderkey, l_partkey, l_suppkey,
      CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity AS quantity,
      l_extendedprice, l_discount, l_linestatus, l_shipdate,
      CAST(NULL AS VARCHAR) AS l_flag
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    (s, d) => {
      val df = Tables.lineitem(s, d)
      val current = GSchema.fromSpark(df.schema)
      val ops = Seq[EvolutionOp](
        RenameColumn("l_quantity", "quantity"),
        UpdateColumn("l_linenumber", Some(GInt), Some(GLong)),
        AddColumn("l_flag", GString),
        DropColumn("l_tax"),
        MoveColumn("l_returnflag", "", "first"))
      val target = ops.foldLeft(current)(Evolver.applyOp)
      // evolve() re-derives the ops from the schema diff and migrates
      val result = Evolver.evolve(current, target, Some(df),
        table = "lineitem", allowBreaking = true)
      result.data.get.orderBy(col("l_orderkey"), col("l_linenumber"))
    }, bench = false)

  /** pipeline_schema_drift (r10): the schema engine composed with the
    * data plane — the CI use case the reference README sells (schema
    * checks in CI/CD), emitted as a q89-style long-format report.
    * Snapshot v1 = the live lineitem schema; v2 = v1 evolved through a
    * SHARED literal op list (rename, widen, narrow, add, drop); the
    * report unions
    *   - schema facts read off the ENGINE's own `SchemaDiff.byId` and
    *     `Compat.canRead` outputs (metadata-scale driver rows — a
    *     schema is KBs at any corpus size), and
    *   - the data-side audit the drift implies, computed ON the table
    *     in one aggregate (values lost by the drop, values outside the
    *     narrowed range, rows needing backfill for the add).
    * The oracle reconstructs the schema-fact rows as literals derived
    * from the same op constants (a diff of a known schema pair under
    * known ops is a constant — the engine is what's under test) and
    * computes the data rows with real SQL.
    *
    * 100 TB shape: ONE map-combinable aggregate over the table; the
    * schema work never touches data. */
  val schemaDrift = QueryDef(
    "pipeline_schema_drift",
    Some(s"""WITH dm AS (SELECT CAST(count(*) AS BIGINT) AS total,
        CAST(sum(CASE WHEN l_tax IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tax_nonnull,
        CAST(sum(CASE WHEN l_suppkey > 2147483647 OR l_suppkey < -2147483648 THEN 1 ELSE 0 END) AS BIGINT) AS sk_over
      FROM lineitem)
      SELECT * FROM (
        SELECT 'schema_added' AS check_name, 'l_flag' AS col_name, 'string' AS detail, CAST(1 AS BIGINT) AS n
        UNION ALL SELECT 'schema_removed', 'l_tax', 'double', 1
        UNION ALL SELECT 'schema_renamed', 'quantity', 'from l_quantity', 1
        UNION ALL SELECT 'schema_retyped', 'l_linenumber', 'int -> long (widening)', 1
        UNION ALL SELECT 'schema_retyped', 'l_suppkey', 'long -> int (narrowing)', 1
        UNION ALL SELECT 'compat_violation', 'l_suppkey', 'incompatible_type', 1
        UNION ALL SELECT 'data_rows', 'lineitem', 'row count', total FROM dm
        UNION ALL SELECT 'data_drop_loss', 'l_tax', 'non-null values lost by drop', tax_nonnull FROM dm
        UNION ALL SELECT 'data_narrow_overflow', 'l_suppkey', 'values outside int range', sk_over FROM dm
        UNION ALL SELECT 'data_backfill', 'l_flag', 'rows to backfill', total FROM dm)
      ORDER BY check_name, col_name, detail"""),
    (s, d) => {
      val df = Tables.lineitem(s, d)
      val v1 = GSchema.fromSpark(df.schema)
      val ops = Seq[EvolutionOp](
        RenameColumn("l_quantity", "quantity"),
        UpdateColumn("l_linenumber", Some(GInt), Some(GLong)),
        UpdateColumn("l_suppkey", Some(GLong), Some(GInt)),
        AddColumn("l_flag", GString),
        DropColumn("l_tax"))
      val v2 = ops.foldLeft(v1)(Evolver.applyOp)
      val diff = SchemaDiff.byId(v1, v2)
      val viol = Compat.canRead(v1, v2)
      import s.implicits._
      val schemaRows =
        diff.added.map(fc =>
          ("schema_added", fc.name, fc.newType.map(_.typeString).getOrElse("?"), 1L)) ++
        diff.removed.map(fc =>
          ("schema_removed", fc.name, fc.currentType.map(_.typeString).getOrElse("?"), 1L)) ++
        diff.changed.collect {
          case fc if fc.change == "renamed" =>
            ("schema_renamed", fc.name, s"from ${fc.previousName.getOrElse("?")}", 1L)
          case fc if fc.change == "type_changed" =>
            val widening = Widening.isNarrowerThan(fc.currentType.get, fc.newType.get)
            ("schema_retyped", fc.name,
              s"${fc.currentType.get.typeString} -> ${fc.newType.get.typeString}" +
                (if (widening) " (widening)" else " (narrowing)"), 1L)
        } ++
        viol.map(v => ("compat_violation", v.path, v.kind, 1L))
      val sdf = schemaRows.toDF("check_name", "col_name", "detail", "n")
      val ddf = df.agg(
          count(lit(1)).cast("long").as("total"),
          sum(when(col("l_tax").isNotNull, 1L).otherwise(0L)).cast("long").as("tax_nonnull"),
          sum(when(col("l_suppkey") > 2147483647L || col("l_suppkey") < -2147483648L, 1L)
            .otherwise(0L)).cast("long").as("sk_over"))
        .selectExpr(
          "stack(4, " +
            "'data_rows', 'lineitem', 'row count', total, " +
            "'data_drop_loss', 'l_tax', 'non-null values lost by drop', tax_nonnull, " +
            "'data_narrow_overflow', 'l_suppkey', 'values outside int range', sk_over, " +
            "'data_backfill', 'l_flag', 'rows to backfill', total" +
            ") AS (check_name, col_name, detail, n)")
      sdf.unionAll(ddf).orderBy(col("check_name"), col("col_name"), col("detail"))
    })

  val defs: Seq[QueryDef] = Seq(migrate, schemaDrift)
}
