package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession

import graft.schema.{ColumnMeta, ForeignKeyMeta, IndexMeta, SchemaSnapshot, Snapshot, TableMeta}

final case class Col(
    name: String, dataType: String, nullable: Boolean = true,
    default: String = "", comment: String = "", autoInc: Boolean = false)
final case class Idx(name: String, columns: Seq[String], predicate: String = "", unique: Boolean = false)
final case class Fk(name: String, column: String, refTable: String, refColumn: String)
final case class Tab(name: String, cols: Vector[Col], idx: Vector[Idx] = Vector.empty,
    fks: Vector[Fk] = Vector.empty)

/** A base catalog, its drifted target, and what the diff must find. */
final case class DriftedCatalog(
    base: Vector[Tab],
    target: Vector[Tab],
    expected: Map[String, Int],
    driftedTables: Set[String]) {

  def columnCount: Int = base.map(_.cols.size).sum

  def manifestJson(language: String): String = {
    val exp = expected.toSeq.sorted.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    val tabs = driftedTables.toSeq.sorted.map(t => s""""$t"""").mkString(", ")
    s"""{"language": "$language", "base_tables": ${base.size}, "base_columns": $columnCount, """ +
      s""""expected": {$exp}, "drifted_tables": [$tabs]}"""
  }
}

/** Seeded catalog generator with planted drift of known counts.
  *
  * Every planted change lands on its own table, so each one yields a
  * fixed number of findings: one per direction in which the object
  * differs or is missing. The expected count of every check kind and
  * the set of tables the report must list follow from the plan alone.
  */
object CatalogGen {

  /** Parquet-expressible column types, as Spark names them. */
  val parquetTypes: Vector[String] = Vector(
    "int", "bigint", "double", "float", "string", "boolean", "date", "timestamp", "decimal(12,2)")
  private val sqlTypes = Vector(
    "integer", "bigint", "varchar(255)", "text", "boolean", "timestamp", "numeric(12,2)", "date")

  /** Drift kinds a catalog read from parquet footers can carry. */
  val parquetDrifts: Seq[String] = Seq("drop_table", "drop_column", "retype_column")

  /** Drift kinds for every check a JDBC-shaped catalog enables by default. */
  val metaDrifts: Seq[String] = Seq(
    "drop_table", "add_table", "drop_column", "add_column", "retype_column",
    "comment_column", "nullable_column", "default_column", "autoinc_column",
    "drop_index", "reorder_index", "predicate_index", "unique_index",
    "drop_fk", "retarget_fk")

  /** @param driftPerKind tables drifted by each kind of `drifts`
    * @param meta         JDBC-shaped tables: SQL type names, a primary
    *                     key index, a two-column index and a foreign key
    */
  def generate(
      seed: Long, tables: Int, minCols: Int, maxCols: Int,
      drifts: Seq[String], driftPerKind: Int, meta: Boolean,
      bidirectional: Boolean): DriftedCatalog = {
    val rnd = new scala.util.Random(seed)
    val types = if (meta) sqlTypes else parquetTypes
    val base = Vector.tabulate(tables) { i =>
      val name = f"t$i%06d"
      val n = minCols + rnd.nextInt(maxCols - minCols + 1)
      val cols = Vector.tabulate(n) { j =>
        if (j == 0) Col("id", "bigint", nullable = !meta,
          autoInc = meta, comment = if (meta) "key" else "")
        else Col(s"c$j", types(rnd.nextInt(types.size)),
          default = if (meta && j % 3 == 0) s"${j}" else "",
          comment = if (meta && j % 2 == 0) s"col $j" else "")
      }
      if (!meta) Tab(name, cols)
      else Tab(name, cols,
        idx = Vector(Idx(s"${name}_pkey", Seq("id"), unique = true),
          Idx(s"${name}_c1_c2", Seq("c1", "c2"))),
        fks = if (i == 0) Vector.empty
          else Vector(Fk(s"${name}_c1_fkey", "c1", f"t${i - 1}%06d", "id")))
    }
    require(minCols >= 3 || !meta, "JDBC-shaped tables need at least 3 columns")
    require(drifts.size * driftPerKind < tables, "more drifted tables than tables")

    val target = mutable.LinkedHashMap(base.map(t => t.name -> t): _*)
    val expected = mutable.Map.empty[String, Int].withDefaultValue(0)
    val driftedTables = mutable.Set.empty[String]
    val both = if (bidirectional) 2 else 1
    def find(check: String, n: Int): Unit = expected(check) += n

    // distinct victim tables, never t000000 (other tables reference it)
    val victims = rnd.shuffle((1 until tables).toVector).iterator
    drifts.foreach { kind =>
      (0 until driftPerKind).foreach { k =>
        val t = target(base(victims.next()).name)
        val c = t.cols(1 + rnd.nextInt(t.cols.size - 1)) // never the key
        def setCol(f: Col => Col): Unit =
          target(t.name) = t.copy(cols = t.cols.map(x => if (x.name == c.name) f(x) else x))
        driftedTables += t.name
        kind match {
          case "drop_table" =>
            target.remove(t.name); find("table_missing", 1)
          case "add_table" =>
            // a target-only table: reported only in the reverse direction
            driftedTables -= t.name
            val name = s"${t.name}_new$k"
            target(name) = t.copy(name = name, idx = Vector.empty, fks = Vector.empty)
            if (bidirectional) { find("table_missing", 1); driftedTables += name }
          case "drop_column" =>
            target(t.name) = t.copy(cols = t.cols.filterNot(_.name == c.name))
            find("column_missing", 1)
            // an index or key on the dropped column is unaffected: the
            // checks compare index and key definitions, not their columns
          case "add_column" =>
            target(t.name) = t.copy(cols = t.cols :+ Col("added", types.head))
            if (bidirectional) find("column_missing", 1) else driftedTables -= t.name
          case "retype_column" =>
            setCol(x => x.copy(dataType = types.filterNot(_ == x.dataType)(rnd.nextInt(types.size - 1))))
            find("column_type", both)
          case "comment_column" =>
            setCol(x => x.copy(comment = x.comment + " (changed)")); find("column_comment", both)
          case "nullable_column" =>
            setCol(x => x.copy(nullable = !x.nullable)); find("column_nullable", both)
          case "default_column" =>
            setCol(x => x.copy(default = x.default + "9")); find("column_default", both)
          case "autoinc_column" =>
            setCol(x => x.copy(autoInc = !x.autoInc)); find("column_autoinc", both)
          case "drop_index" =>
            target(t.name) = t.copy(idx = t.idx.tail); find("index_missing", 1)
          case "reorder_index" =>
            target(t.name) = t.copy(idx = t.idx.map(i =>
              if (i.columns.size > 1) i.copy(columns = i.columns.reverse) else i))
            find("index_columns", both)
          case "predicate_index" =>
            target(t.name) = t.copy(idx = t.idx.map(i =>
              if (i.columns.size > 1) i.copy(predicate = "c1 IS NOT NULL") else i))
            find("index_predicate", both)
          case "unique_index" =>
            target(t.name) = t.copy(idx = t.idx.map(i =>
              if (i.columns.size > 1) i.copy(unique = true) else i))
            find("index_unique", both)
          case "drop_fk" =>
            target(t.name) = t.copy(fks = Vector.empty); find("fk_missing", 1)
          case "retarget_fk" =>
            target(t.name) = t.copy(fks = t.fks.map(_.copy(refColumn = "c2")))
            find("fk_target", both)
        }
      }
    }
    DriftedCatalog(base, target.values.toVector, expected.toMap, driftedTables.toSet)
  }

  /** One `<table>.parquet` file per table, holding only a footer. */
  def writeParquetDir(tables: Seq[Tab], dir: Path): Unit = {
    Files.createDirectories(dir)
    tables.foreach { t =>
      val b = Types.buildMessage()
      t.cols.foreach(c => b.addField(parquetField(c)))
      val schema: MessageType = b.named(t.name)
      val w = ExampleParquetWriter.builder(new LocalOutputFile(dir.resolve(s"${t.name}.parquet")))
        .withType(schema).build()
      w.close()
    }
  }

  private def parquetField(c: Col): PrimitiveType = {
    val f = Types.optional _
    (c.dataType match {
      case "int" => f(PrimitiveTypeName.INT32)
      case "bigint" => f(PrimitiveTypeName.INT64)
      case "double" => f(PrimitiveTypeName.DOUBLE)
      case "float" => f(PrimitiveTypeName.FLOAT)
      case "string" => f(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType())
      case "boolean" => f(PrimitiveTypeName.BOOLEAN)
      case "date" => f(PrimitiveTypeName.INT32).as(LogicalTypeAnnotation.dateType())
      case "timestamp" => f(PrimitiveTypeName.INT64).as(
        LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
      case "decimal(12,2)" => f(PrimitiveTypeName.INT64).as(LogicalTypeAnnotation.decimalType(2, 12))
      case other => throw new IllegalArgumentException(s"no parquet type for $other")
    }).named(c.name)
  }

  /** The catalog as a JDBC snapshot would return it. */
  def snapshot(spark: SparkSession, tables: Seq[Tab]): SchemaSnapshot =
    Snapshot.fromMeta(spark,
      tables = tables.map(t => TableMeta(t.name, "")),
      columns = tables.flatMap(t => t.cols.zipWithIndex.map { case (c, i) =>
        ColumnMeta(t.name, c.name, i + 1, c.dataType, c.default, c.nullable, c.comment, c.autoInc)
      }),
      indexes = tables.flatMap(t => t.idx.zipWithIndex.map { case (x, i) =>
        IndexMeta(t.name, x.name, i + 1, x.columns, x.predicate, x.unique)
      }),
      foreignKeys = tables.flatMap(t => t.fks.zipWithIndex.map { case (k, i) =>
        ForeignKeyMeta(t.name, k.name, i + 1, k.column, k.refTable, k.refColumn)
      }))
}
