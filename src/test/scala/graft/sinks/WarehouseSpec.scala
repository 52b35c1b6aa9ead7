package graft.sinks

import graft.SparkSpec

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  test("describeTable lists columns and types") {
    Seq((1L, "x", 1.5)).toDF("id", "name", "score")
      .createOrReplaceTempView("wh_t")
    assert(Warehouse.describeTable(spark, "wh_t") ==
      Seq("id" -> "bigint", "name" -> "string", "score" -> "double"))
  }

  test("executeScript runs each statement, returns the last result") {
    val out = Warehouse.executeScript(spark,
      """CREATE OR REPLACE TEMP VIEW wh_s AS SELECT 41 AS v;
        |SELECT v + 1 AS answer FROM wh_s;""".stripMargin)
    assert(out.get.collect().head.getInt(0) == 42)
  }

  test("connectivity probe") {
    assert(Warehouse.probe(spark))
  }

  test("S4: jdbc sink round-trip and truncate overwrite (embedded Derby)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.schema.TypeLattice
    // Derby in-memory: a real JDBC database in-process — the closest
    // zero-egress stand-in for the reference's Postgres/MySQL targets.
    val url = s"jdbc:derby:memory:wh${System.nanoTime()};create=true"
    val nation = graft.Tables.load(spark, sf(), "nation")
    def rows(df: DataFrame): Set[(Long, String, Long)] =
      df.selectExpr("cast(n_nationkey as bigint)", "cast(n_name as string)",
          "cast(n_regionkey as bigint)")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    def readBack(table: String): DataFrame =
      spark.read.format("jdbc").option("url", url)
        .option("dbtable", table).load()

    // 1. append against an absent table creates + loads it
    Warehouse.jdbcWriter(nation, url, "nation_t", "app", "app")
      .mode("append").save()
    assert(rows(readBack("nation_t")) == rows(nation))

    // 2. both dialects spell the 5 lattice types identically, and the
    //    spellings are real executable SQL (Derby accepts the DDL)
    import org.apache.spark.sql.types._
    val lattice = Seq(BooleanType, LongType, DoubleType, TimestampType,
      StringType)
    val pg = lattice.map(TypeLattice.sqlType(_, TypeLattice.Postgres))
    assert(pg == Seq("BOOLEAN", "INT", "FLOAT", "TIMESTAMP", "VARCHAR(255)"))
    assert(lattice.map(TypeLattice.sqlType(_, TypeLattice.MySql)) == pg)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE lattice_t (" +
          lattice.zipWithIndex.map { case (t, i) =>
            s"c$i ${TypeLattice.sqlType(t)}" }.mkString(", ") + ")")
      // 3. pre-created dialect-DDL table + truncate overwrite: rows are
      //    replaced but the target's own DDL survives (M1 refresh parity)
      conn.createStatement().execute(
        "CREATE TABLE nation_ddl (" + nation.schema.fields.map(f =>
          s"${TypeLattice.sanitize(f.name)} " +
            TypeLattice.sqlType(TypeLattice.toLattice(f.dataType)))
          .mkString(", ") + ")")
      Warehouse.jdbcWriter(nation, url, "nation_ddl", "app", "app")
        .mode("overwrite").save()
      assert(rows(readBack("nation_ddl")) == rows(nation))
      val five = nation.where(col("n_nationkey") < 5)
      Warehouse.jdbcWriter(five, url, "nation_ddl", "app", "app")
        .mode("overwrite").save()
      assert(rows(readBack("nation_ddl")) == rows(five))
      val md = conn.getMetaData.getColumns(null, "APP", "NATION_DDL", "N_NAME")
      assert(md.next() && md.getString("TYPE_NAME") == "VARCHAR",
        "truncate overwrite must preserve the target's own column DDL")
    } finally conn.close()
  }

  test("S3: JDBC scan pushes predicates and prunes columns (Derby)") {
    import org.apache.spark.sql.functions.col
    // the reference pushes whole transforms into the store
    // (taxi_transform_dag.py:42-80); the engine's analog is making
    // sure a JDBC-backed scan ships its filter and column list to the
    // database instead of pulling the table and filtering in Spark
    val url = s"jdbc:derby:memory:pd${System.nanoTime()};create=true"
    val nation = graft.Tables.load(spark, sf(), "nation")
    Warehouse.jdbcWriter(nation, url, "nation_pd", "app", "app")
      .mode("append").save()
    val scan = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "nation_pd").load()
      .where(col("n_nationkey") < 5)
      .select(col("n_name"))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.matches(
      "(?s).*PushedFilters: \\[[^\\]]*LessThan\\(n_nationkey,5\\).*"),
      "filter not pushed into the JDBC scan:\n" + plan)
    assert(plan.matches("(?s).*ReadSchema: struct<n_name[^>]*>.*"),
      "expected a one-column ReadSchema (pruned to n_name):\n" + plan)
    assert(!plan.toLowerCase.contains("n_regionkey"),
      "unprojected column requested from the database:\n" + plan)
    assert(scan.collect().map(_.getString(0)).toSet ==
      nation.where(col("n_nationkey") < 5)
        .select(col("n_name")).collect().map(_.getString(0)).toSet)
  }

  test("tableStats reports files, bytes, rows, columns") {
    val dir = SparkSpec.tempDir("stats").toString + "/t"
    graft.Tables.load(spark, sf(), "nation").repartition(3)
      .write.parquet(dir)
    val st = Warehouse.tableStats(spark, dir)
    assert(st.files == 3 && st.rows == 25 && st.columns == 3)
    assert(st.bytes > 0)
  }
}
