package graft.schema

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.schema.SchemaEvolver.TableName

/** Pure-function coverage of the reference's schema contract:
  * 5-type lattice (agent-schema/app.py:33-44), sanitization (:110),
  * case-insensitive additive evolution (:104-114), name parsing
  * (:190-193), statement split (:226-231). */
class SchemaSpec extends AnyFunSuite {

  // ---- TypeLattice: all five branches of app.py:33-44 ----
  test("lattice SQL spellings match the reference's 5 types") {
    assert(TypeLattice.sqlType(LongType) == "INT")
    assert(TypeLattice.sqlType(IntegerType) == "INT")
    assert(TypeLattice.sqlType(DoubleType) == "FLOAT")
    assert(TypeLattice.sqlType(FloatType) == "FLOAT")
    assert(TypeLattice.sqlType(TimestampType) == "TIMESTAMP")
    assert(TypeLattice.sqlType(BooleanType) == "BOOLEAN")
    assert(TypeLattice.sqlType(StringType) == "VARCHAR(255)")
    assert(TypeLattice.sqlType(ArrayType(LongType)) == "VARCHAR(255)")
  }

  test("sanitize: hyphens and spaces become underscores") {
    assert(TypeLattice.sanitize("trip-distance km") == "trip_distance_km")
    assert(TypeLattice.sanitize("ok_name") == "ok_name")
  }

  // ---- SchemaInference column sniffing ----
  test("inferColumn picks the narrowest lattice type") {
    import SchemaInference.inferColumn
    assert(inferColumn(Seq("true", "False")) == BooleanType)
    assert(inferColumn(Seq("1", "42", "-7")) == LongType)
    assert(inferColumn(Seq("1.5", "2", "-0.25")) == DoubleType)
    assert(inferColumn(Seq("2025-01-01 10:00:00", "2025-02-03")) == TimestampType)
    assert(inferColumn(Seq("2025-01-01 10:00:00.123456")) == TimestampType)
    assert(inferColumn(Seq("abc", "1")) == StringType)
    assert(inferColumn(Seq("nan", "1.0")) == StringType)
    assert(inferColumn(Nil) == StringType)
  }

  // ---- SchemaEvolver ----
  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  test("table name splits on FIRST dot only (app.py:190-193)") {
    assert(SchemaEvolver.parseTableName("raw.trips") ==
      TableName(Some("raw"), "trips"))
    assert(SchemaEvolver.parseTableName("a.b.c") ==
      TableName(Some("a"), "b.c"))
    assert(SchemaEvolver.parseTableName("solo") == TableName(None, "solo"))
  }

  test("missing table → CREATE with full schema") {
    val evo = SchemaEvolver.evolve(None, st("a" -> LongType, "b" -> StringType),
      TableName(Some("raw"), "t"))
    assert(evo.createdTable)
    assert(evo.merged.fieldNames.toSeq == Seq("a", "b"))
    assert(evo.ddl.head == "CREATE SCHEMA IF NOT EXISTS raw;")
    assert(evo.ddl(1).contains("CREATE TABLE IF NOT EXISTS raw.t"))
    assert(evo.ddl(1).contains("a INT") && evo.ddl(1).contains("b VARCHAR(255)"))
  }

  test("additive evolution: only missing columns added, case-insensitive") {
    val existing = st("ID" -> LongType, "name" -> StringType)
    val inferred = st("id" -> LongType, "Name" -> StringType,
      "extra" -> DoubleType)
    val evo = SchemaEvolver.evolve(Some(existing), inferred)
    assert(evo.addedColumns.map(_.name) == Seq("extra"))
    assert(evo.merged.fieldNames.toSeq == Seq("ID", "name", "extra"))
    assert(evo.ddl == Seq("ALTER TABLE t ADD COLUMN extra FLOAT;"))
  }

  test("evolution never drops or retypes existing columns") {
    val existing = st("a" -> LongType, "b" -> StringType)
    val inferred = st("a" -> DoubleType) // narrower file: still no change
    val evo = SchemaEvolver.evolve(Some(existing), inferred)
    assert(evo.merged == existing)
    assert(evo.addedColumns.isEmpty && evo.ddl.isEmpty)
  }

  test("hyphenated inferred names are sanitized before merge") {
    val evo = SchemaEvolver.evolve(Some(st("trip_distance" -> DoubleType)),
      st("trip-distance" -> DoubleType, "new col" -> LongType))
    assert(evo.addedColumns.map(_.name) == Seq("new_col"))
  }

  test("statement split drops empties (app.py:226-231)") {
    assert(SchemaEvolver.splitStatements("a;;\n b ;") == Seq("a", "b"))
  }

  // ---- property: evolve is additive and idempotent ----
  private val genField: Gen[(String, DataType)] = for {
    n <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    t <- Gen.oneOf(BooleanType, LongType, DoubleType, TimestampType,
      StringType)
  } yield (n, t)

  private val genSchema: Gen[StructType] =
    Gen.listOf(genField).map(fs =>
      StructType(fs.toMap.toSeq.map { case (n, t) => StructField(n, t) }))

  test("DdlGenerator seam: a custom generator swaps the DDL text only") {
    import org.apache.spark.sql.types._
    // an LLM-backed generator would drop in exactly like this recorder:
    // it authors text; it cannot touch the reconciliation decision
    object Recorder extends DdlGenerator {
      override def createTable(t: SchemaEvolver.TableName, s: StructType,
                               d: TypeLattice.Dialect): Seq[String] =
        Seq(s"-- custom create ${t.qualified} (${s.length} cols)")
      override def alterTable(t: SchemaEvolver.TableName,
                              a: Seq[StructField],
                              d: TypeLattice.Dialect): Seq[String] =
        a.map(f => s"-- custom add ${f.name}")
    }
    val inferred = StructType(Seq(StructField("a", LongType),
      StructField("b", StringType)))
    val existing = StructType(Seq(StructField("a", LongType)))
    val created = SchemaEvolver.evolve(None, inferred,
      SchemaEvolver.parseTableName("ns.t"), gen = Recorder)
    assert(created.ddl == Seq("-- custom create ns.t (2 cols)"))
    val altered = SchemaEvolver.evolve(Some(existing), inferred,
      gen = Recorder)
    assert(altered.ddl == Seq("-- custom add b"))
    // decision identical to the deterministic default's
    val default = SchemaEvolver.evolve(Some(existing), inferred)
    assert(altered.merged == default.merged &&
      altered.addedColumns == default.addedColumns)
  }

  test("default DDL is the reference fallback: executable, additive") {
    import org.apache.spark.sql.types._
    val evo = SchemaEvolver.evolve(None,
      StructType(Seq(StructField("id", LongType))),
      SchemaEvolver.parseTableName("ns.t"))
    assert(evo.ddl.head == "CREATE SCHEMA IF NOT EXISTS ns;")
    assert(evo.ddl.last.startsWith("CREATE TABLE IF NOT EXISTS ns.t"))
  }

  test("property: MySQL-dialect DDL matches the MySQL 8 statement grammar") {
    // No MySQL-family engine resolves from the offline dependency
    // cache (the embedded-Derby round-trip in WarehouseSpec proves the
    // Postgres-family DDL EXECUTES), so the second dialect is gated at
    // the grammar level: every statement the generator can emit must
    // match an anchored production of the MySQL 8 reference grammar
    // for that statement type — unquoted identifier charset
    // [0-9a-zA-Z$_] (MySQL 8 §9.2), the five lattice types (all valid
    // MySQL column types), and the exact IF NOT EXISTS / ADD COLUMN
    // clause shapes. A generator change that emits Postgres-only
    // syntax under the MySql dialect (e.g. CREATE SCHEMA) fails here.
    import TypeLattice.MySql
    val ident = "[0-9a-zA-Z$_]+"
    val qualified = s"$ident(?:\\.$ident)?"
    val colType = "(?:BOOLEAN|INT|FLOAT|TIMESTAMP|VARCHAR\\(255\\))"
    val colDef = s"  $ident $colType"
    val createDb = s"^CREATE DATABASE IF NOT EXISTS $ident;$$".r
    val createTable =
      s"^CREATE TABLE IF NOT EXISTS $qualified \\(\n$colDef(?:,\n$colDef)*\n\\);$$".r
    val alter =
      s"^ALTER TABLE $qualified ADD COLUMN $ident $colType;$$".r
    val gen = DdlGenerator.Deterministic
    (0 until 100).foreach { i =>
      val schema0 = genSchema.pureApply(Gen.Parameters.default, Seed(i.toLong))
      // the generator contract takes SANITIZED names (evolve sanitizes
      // before delegating); non-empty schema as CREATE demands
      val schema = if (schema0.isEmpty)
        StructType(Seq(StructField("c", LongType))) else schema0
      val table = SchemaEvolver.parseTableName(
        if (i % 2 == 0) s"ns$i.t$i" else s"t$i")
      val created = gen.createTable(table, schema, MySql)
      val (ns, ct) = (created.init, created.last)
      ns.foreach(s => assert(createDb.matches(s), s"not MySQL DDL: $s"))
      assert(createTable.matches(ct), s"not MySQL DDL: $ct")
      val altered = gen.alterTable(table, schema.fields.toSeq, MySql)
      altered.foreach(s => assert(alter.matches(s), s"not MySQL DDL: $s"))
    }
  }

  test("property: evolve(existing, inferred) ⊇ existing, and is idempotent") {
    // Plain ScalaCheck sampling (scalatest-plus bridge isn't a declared
    // dependency): 200 deterministic cases.
    val pair = Gen.zip(genSchema, genSchema)
    (0 until 200).foreach { i =>
      val (existing, inferred) =
        pair.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val evo = SchemaEvolver.evolve(Some(existing), inferred)
      // superset, in order, types unchanged
      assert(evo.merged.fields.take(existing.length).toSeq ==
        existing.fields.toSeq)
      // idempotent: evolving again with the same inferred adds nothing
      val again = SchemaEvolver.evolve(Some(evo.merged), inferred)
      assert(again.addedColumns.isEmpty)
      assert(again.merged == evo.merged)
    }
  }
}
