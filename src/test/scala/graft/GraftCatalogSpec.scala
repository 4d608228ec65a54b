package graft

import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{GraftCatalog, SchemaChanges}

/** `GraftCatalog.alterTable` applies all of a call's changes or none,
  * and concurrent calls on one table never lose an update. */
class GraftCatalogSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("meta", StructType(Seq(StructField("city", StringType))))))

  private def catalog(st: StructType = schema): (GraftCatalog, Identifier) = {
    val cat = new GraftCatalog
    cat.initialize("graftcat", CaseInsensitiveStringMap.empty())
    val ident = Identifier.of(Array("ns"), "t")
    cat.createTable(ident, st, Array.empty, new java.util.HashMap[String, String]())
    (cat, ident)
  }

  test("a missing intermediate path segment throws for update, add and move") {
    val bad = Seq(
      TableChange.updateColumnType(Array("nope", "city"), LongType),
      TableChange.updateColumnComment(Array("nope", "city"), "c"),
      TableChange.deleteColumn(Array("nope", "city"), false),
      TableChange.renameColumn(Array("nope", "city"), "town"),
      TableChange.addColumn(Array("nope", "zip"), StringType),
      TableChange.updateColumnPosition(Array("nope", "city"), TableChange.ColumnPosition.first()),
      TableChange.addColumn(Array("id", "zip"), StringType))
    bad.foreach(c => intercept[IllegalArgumentException](SchemaChanges(schema, c)))
  }

  test("alterTable with one good and one bad change leaves the schema unchanged") {
    val (cat, ident) = catalog()
    val ok = TableChange.addColumn(Array("meta", "zip"), StringType)
    val bad = TableChange.updateColumnType(Array("nope", "city"), LongType)
    intercept[IllegalArgumentException](cat.alterTable(ident, ok, bad))
    assert(cat.loadTable(ident).schema() == schema)
    cat.alterTable(ident, ok)
    assert(cat.loadTable(ident).schema()("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("city", "zip"))
  }

  test("concurrent alterTable calls on one table keep every change") {
    val (cat, ident) = catalog()
    val pool = Executors.newFixedThreadPool(4)
    try {
      val done = (0 until 4).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 50).foreach(i =>
            cat.alterTable(ident, TableChange.addColumn(Array(s"c${t}_$i"), IntegerType)))
        })
      }
      done.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(cat.loadTable(ident).schema().size == schema.size + 200)
  }

  test("an add or a rename onto an existing name is rejected at any depth, leaving the schema unchanged") {
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("meta", StructType(Seq(StructField("city", StringType), StructField("zip", StringType))))))
    val (cat, ident) = catalog(st)
    val clashes = Seq(
      TableChange.addColumn(Array("id"), StringType),
      TableChange.addColumn(Array("meta", "city"), IntegerType),
      TableChange.renameColumn(Array("meta"), "id"),
      TableChange.renameColumn(Array("meta", "city"), "zip"))
    clashes.foreach { c =>
      // alongside a good change, so the whole call must be refused
      val ok = TableChange.addColumn(Array("meta", "country"), StringType)
      intercept[IllegalArgumentException](cat.alterTable(ident, ok, c))
      assert(cat.loadTable(ident).schema() == st, c)
    }
    // renaming a field to its own name is no clash
    cat.alterTable(ident, TableChange.renameColumn(Array("meta", "zip"), "zip"))
    assert(cat.loadTable(ident).schema() == st)
  }
}
