package graft.engine

import java.nio.file.{Files, Path, Paths}

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.graft.ParquetFooters
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** A1-A4/A9 import + format routing over the FIXTURES.md §4 micro-fixtures
  * (/root/reference/src/fileImport.ts, src/App.tsx:316-327). */
class CatalogSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private val fixtures = Paths.get("src/test/resources/minifix")

  test("A1: extension filter, case-insensitive") {
    assert(Catalog.isSupportedFilePath("a/b.PARQUET"))
    assert(Catalog.isSupportedFilePath("x.csv"))
    assert(Catalog.isSupportedFilePath("x.json"))
    assert(Catalog.isSupportedFilePath("x.ndjson"))
    assert(Catalog.isSupportedFilePath("x.orc")) // beyond-reference format
    assert(!Catalog.isSupportedFilePath("x.txt"))
    assert(!Catalog.isSupportedFilePath("parquet")) // extension, not name
  }

  test("A2: recursive scan collects supported files with relative paths") {
    val tmp = Files.createTempDirectory("cat")
    Files.createDirectories(tmp.resolve("sub"))
    Files.copy(fixtures.resolve("mini.csv"), tmp.resolve("mini.csv"))
    Files.copy(fixtures.resolve("mini.ndjson"), tmp.resolve("sub/nested.ndjson"))
    Files.copy(fixtures.resolve("skip.txt"), tmp.resolve("skip.txt"))
    val files = Catalog.collectFiles(tmp)
    assert(files.map(_.path) == Seq("mini.csv", "sub/nested.ndjson"))
    assert(files.forall(_.size > 0))
  }

  test("A4: csv routing infers header and types") {
    val df = Catalog.read(spark, fixtures.resolve("mini.csv"))
    assert(df.columns.toSeq == Seq("id", "name", "amount"))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[String]("name") == "a, \"quoted\"")
    assert(rows(1).isNullAt(1)) // empty cell -> NULL
    assert(rows(0).getAs[Double]("amount") == 10.5)
  }

  test("A4: .ndjson is line-delimited; .json needs multiLine (SURVEY 7.4.3)") {
    val nd = Catalog.read(spark, fixtures.resolve("mini.ndjson"))
    val js = Catalog.read(spark, fixtures.resolve("mini.json"))
    assert(nd.count() == 3 && js.count() == 3)
    // same logical rows through both routes
    assert(nd.select("id", "name").orderBy("id").collect().toSeq ==
      js.select("id", "name").orderBy("id").collect().toSeq)
    // missing key -> NULL; nested object survives
    assert(nd.filter("id = 2").collect()(0).isNullAt(
      nd.columns.indexOf("name")))
    assert(nd.filter("id = 1").selectExpr("nested.k").collect()(0).getLong(0) == 1)
  }

  test("A4: registration exposes a queryable temp view (no byte copy)") {
    val tmp = Files.createTempDirectory("reg")
    Files.copy(fixtures.resolve("mini.csv"), tmp.resolve("mini.csv"))
    val files = Catalog.collectFiles(tmp)
    val Seq(view) = Catalog.importFolder(spark, tmp)._2
    assert(view == "mini_csv")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $view")
      .collect()(0).getLong(0) == 3)
  }

  test("A4: colliding sanitized names stay distinct (path injectivity)") {
    // distinct raw paths can sanitize to the same view name; the second
    // claim must NOT silently serve the first file's data (the reference
    // can't collide — its table name IS the raw path)
    val tmp = Files.createTempDirectory("collide")
    Files.writeString(tmp.resolve("x-y.csv"), "v\n1\n")
    Files.writeString(tmp.resolve("x_y.csv"), "v\n2\n")
    val (_, views) = Catalog.importFolder(spark, tmp)
    assert(views.size == 2 && views.distinct.size == 2)
    val got = views.map(v =>
      spark.sql(s"SELECT v FROM $v").collect()(0).getInt(0)).sorted
    assert(got == Seq(1, 2))
    // claims are stable: re-claiming the same path returns the same name
    assert(Catalog.claimViewName(spark, "x-y.csv") ==
      Catalog.claimViewName(spark, "x-y.csv"))
  }

  test("B3: rewritePathTables touches only genuine table positions") {
    val tmp = Files.createTempDirectory("rewrite")
    val f = tmp.resolve("data.csv")
    Files.writeString(f, "a\n1\n")
    def rw(sql: String): (String, Seq[String]) =
      Catalog.rewritePathTables(spark, sql)
    // table position rewrites to the claimed view
    val view = Catalog.claimViewName(spark, f.toString)
    assert(rw(s"SELECT * FROM '$f'")._1 == s"SELECT * FROM $view")
    // WHERE-clause literal, TRIM operand, comments, quoted 'from': untouched
    for (sql <- Seq(
      s"SELECT * FROM t WHERE c = '$f'",
      s"SELECT trim(BOTH 'x' FROM '$f') FROM t",
      s"SELECT 1 -- FROM '$f'",
      s"SELECT 'from' '$f'"))
      assert(rw(sql)._1 == sql, sql)
    // missing path is reported, not rewritten
    val (same, miss) = rw("SELECT * FROM '/no/such/p.csv'")
    assert(same == "SELECT * FROM '/no/such/p.csv'" &&
      miss == Seq("/no/such/p.csv"))
    // doubled-quote identifier escapes don't desync the scan
    val tricky = s"""SELECT "sa""y" FROM '$f'"""
    assert(rw(tricky)._1 == s"""SELECT "sa""y" FROM $view""")
  }

  test("A9: parquet union view merges schemas by name (B29, SURVEY 7.4.4)") {
    val tmp = Files.createTempDirectory("union")
    import spark.implicits._
    Seq((1L, "x")).toDF("id", "name")
      .write.parquet(tmp.resolve("union_a.parquet").toString)
    Seq((2L, "y", 9.5)).toDF("id", "name", "extra")
      .write.parquet(tmp.resolve("union_b.parquet").toString)
    val files = Catalog.collectFiles(tmp)
    val created = Catalog.createOrReplaceParquetView(
      spark, tmp, files, "united")
    assert(created.contains("united"))
    val df = spark.table("united").orderBy("id")
    assert(df.columns.toSeq.sorted == Seq("extra", "id", "name"))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(df.columns.indexOf("extra"))) // a-side: NULL
    assert(rows(1).getAs[Double]("extra") == 9.5)
  }

  test("A9: no parquet files -> no view") {
    val tmp = Files.createTempDirectory("noparquet")
    Files.copy(fixtures.resolve("mini.csv"), tmp.resolve("mini.csv"))
    assert(Catalog.createOrReplaceParquetView(
      spark, tmp, Catalog.collectFiles(tmp), "nope").isEmpty)
  }

  /** A parquet file from parquet-mr's example writer: no Spark schema in
    * its key-value metadata, so Spark converts the parquet schema itself,
    * as it does for files pyarrow or DuckDB wrote. `rows` rows set `id`
    * to the row number and leave every other column NULL. */
  private def writeRaw(path: Path, schema: String, rows: Int): Path = {
    val mt = MessageTypeParser.parseMessageType(schema)
    val out = HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(
      path.toString), spark.sessionState.newHadoopConf())
    val w = ExampleParquetWriter.builder(out).withType(mt).build()
    val groups = new SimpleGroupFactory(mt)
    try (0 until rows).foreach { i =>
      val g: Group = groups.newGroup()
      g.add("id", i.toLong)
      w.write(g)
    } finally w.close()
    path
  }

  private val rawSchema =
    """message m {
      |  required int64 id;
      |  optional group st { optional int32 a; optional binary b (STRING); }
      |  optional group lst (LIST) {
      |    repeated group list { optional int32 element; } }
      |  optional group mp (MAP) { repeated group key_value {
      |    required binary key (STRING); optional int64 value; } }
      |  optional fixed_len_byte_array(9) dec (DECIMAL(20,4));
      |  optional int64 dec2 (DECIMAL(12,2));
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional int64 ts_ntz (TIMESTAMP(MICROS,false));
      |  optional int32 d (DATE);
      |  optional binary raw;
      |}""".stripMargin

  /** The footer schema of `paths`. Whenever there is one, the read
    * handed it must plan what `spark.read.parquet` infers (both make
    * every column nullable) and return the same rows. */
  private def footerSchema(paths: String*): Option[StructType] = {
    val got = ParquetFooters.schema(spark, paths)
    if (got.isDefined) {
      val (viaFooter, inferred) =
        (ParquetFooters.read(spark, paths), spark.read.parquet(paths: _*))
      assert(viaFooter.schema == inferred.schema, paths)
      assert(viaFooter.collect().toSeq == inferred.collect().toSeq, paths)
    }
    got
  }

  test("footer schema equals Spark's inference, or is None") {
    val tmp = Files.createTempDirectory("footers")
    // nested struct/list/map, decimals, TIMESTAMP and TIMESTAMP_NTZ,
    // converted from the parquet schema
    val raw = writeRaw(tmp.resolve("raw.parquet"), rawSchema, 3).toString
    val rawSchemaRead = footerSchema(raw)
    assert(rawSchemaRead.exists(s => s.fieldNames.toSeq == Seq("id", "st",
      "lst", "mp", "dec", "dec2", "ts", "ts_ntz", "d", "raw")))
    assert(rawSchemaRead.get("ts_ntz").dataType.typeName == "timestamp_ntz")
    // a zero-row file still has a footer
    assert(footerSchema(
      writeRaw(tmp.resolve("empty.parquet"), rawSchema, 0).toString).isDefined)
    // TIMESTAMP(NANOS) under the session's legacy nanosAsLong flag (the
    // engine's builder sets it): LongType. Without the flag both readers
    // refuse the type alike. The shared session's value is restored.
    val nanos = writeRaw(tmp.resolve("nanos.parquet"),
      "message m { required int64 id; optional int64 t (TIMESTAMP(NANOS,true)); }",
      2).toString
    assert(footerSchema(nanos).exists(_("t").dataType == LongType))
    val nanosFlag = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(nanosFlag)
    try {
      spark.conf.set(nanosFlag, "false")
      Seq[() => Any](() => ParquetFooters.read(spark, Seq(nanos)),
        () => spark.read.parquet(nanos)).foreach { read =>
        val e = intercept[Exception](read())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage)
            .contains("PARQUET_TYPE_ILLEGAL")), e.getMessage)
      }
      spark.conf.set(nanosFlag, "true")
      assert(footerSchema(nanos).exists(_("t").dataType == LongType))
    } finally prior.fold(spark.conf.unset(nanosFlag))(
      spark.conf.set(nanosFlag, _))
    // a Spark-written directory: its _SUCCESS and .crc siblings are
    // skipped, the Spark schema in the footer is used as written
    import spark.implicits._
    val sparkDir = tmp.resolve("spark_dir.parquet").toString
    spark.sql("SELECT 1L AS id, named_struct('a', 1, 'b', array(1.5D)) AS st," +
      " map('k', 2L) AS m, CAST(3.25 AS DECIMAL(10, 2)) AS dec," +
      " TIMESTAMP'2024-01-02 03:04:05' AS ts," +
      " TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ts_ntz")
      .repartition(2).write.parquet(sparkDir)
    val siblings = Files.list(Paths.get(sparkDir)).toArray.map(
      _.asInstanceOf[Path].getFileName.toString)
    assert(siblings.contains("_SUCCESS") && siblings.exists(_.endsWith(".crc")))
    assert(footerSchema(sparkDir).isDefined)
    // schemas that differ fall back: the set still unions by name
    val a = tmp.resolve("mix_a.parquet").toString
    val b = tmp.resolve("mix_b.parquet").toString
    Seq((1L, "x")).toDF("id", "name").coalesce(1).write.parquet(a)
    Seq((2L, 9.5)).toDF("id", "extra").coalesce(1).write.parquet(b)
    assert(footerSchema(a, b).isEmpty)
    val mixed = Engine.sql(spark,
      s"SELECT * FROM read_parquet(['$a', '$b']) ORDER BY id")
    assert(mixed.schema ==
      spark.read.option("mergeSchema", "true").parquet(a, b).schema)
    assert(mixed.collect().map(r => (r.getAs[Long]("id"),
      Option(r.getAs[String]("name")), Option(r.getAs[java.lang.Double]("extra"))))
      .toSeq == Seq((1L, Some("x"), None), (2L, None, Some(9.5))))
    // hive partitions: a directory of k=v subdirectories says nothing; a
    // hive_partitioning glob reads the key column as Spark does
    val hive = tmp.resolve("hive")
    Seq((1L, 1), (2L, 2)).toDF("id", "k").write.partitionBy("k")
      .parquet(hive.toString)
    assert(footerSchema(hive.toString).isEmpty)
    val glob = s"$hive/*/*.parquet"
    val hiveRead = Engine.sql(spark,
      s"SELECT * FROM read_parquet('$glob', hive_partitioning=true)")
    assert(hiveRead.schema ==
      spark.read.option("basePath", hive.toString).parquet(glob).schema)
    assert(hiveRead.columns.toSeq == Seq("id", "k"))
    // a missing path and a non-parquet file: no footer schema, and the
    // read fails with Spark's own error
    assert(ParquetFooters.schema(spark, Seq(s"$tmp/absent.parquet")).isEmpty)
    val bad = Files.writeString(tmp.resolve("bad.parquet"), "not parquet")
    assert(ParquetFooters.schema(spark, Seq(bad.toString)).isEmpty)
    // (the job's stage and task ids differ; the failure does not)
    def root(t: Throwable): Throwable = Option(t.getCause).fold(t)(root)
    val want = intercept[Exception](spark.read.parquet(bad.toString))
    val got = intercept[Exception](Catalog.read(spark, bad))
    assert(got.getClass == want.getClass)
    assert(root(got).toString == root(want).toString)
    assert(root(got).toString.contains("not a Parquet file"))
  }

  test("parquet import, read_parquet views and DML schema reads fire no job") {
    val tmp = Files.createTempDirectory("nojob")
    writeRaw(tmp.resolve("a.parquet"), rawSchema, 3)
    writeRaw(tmp.resolve("b.parquet"), rawSchema, 2)
    var views = Seq.empty[String]
    assert(graft.TestSpark.jobsFiredBy {
      views = Catalog.importFolder(spark, tmp)._2
    } == 0)
    assert(views.size == 2)
    assert(graft.TestSpark.jobsFiredBy {
      Engine.sql(spark, "CREATE OR REPLACE VIEW catalog_spec_nojob AS" +
        s" SELECT * FROM read_parquet('$tmp/*.parquet')")
    } == 0)
    assert(spark.table("catalog_spec_nojob").count() == 5)
    // the DML prune reads the layout's schema from the footers
    var range: Option[(String, Long, Long)] = None
    assert(graft.TestSpark.jobsFiredBy {
      range = Engine.pruneRange(spark, tmp.toString,
        spark.sessionState.sqlParser.parseExpression("id >= 2"))
    } == 0)
    assert(range.contains(("id", 2L, Long.MaxValue)))
  }

  test("DuckDB's BOOL casts and binds columns= through the one type map") {
    assert(Engine.sql(spark, "SELECT CAST(1 AS BOOL)").head().getBoolean(0))
    assert(Engine.sql(spark, "SELECT 1::BOOL").head().getBoolean(0))
    assert(Engine.sql(spark, "SELECT CAST('t' AS BOOL)").head().getBoolean(0))
    // columns= maps through the same names, and refuses what it lacks
    assert(Catalog.duckTypeToSpark("bool") == "BOOLEAN")
    assert(Catalog.duckTypeToSpark("VARCHAR") == "STRING")
    assert(Catalog.duckTypeToSpark("HUGEINT") == "DECIMAL(38,0)")
    assert(Catalog.duckTypeToSpark("numeric (10, 2)") == "DECIMAL(10, 2)")
    Seq("FANCYTYPE", "INT[]", "VARCHAR(10)", "STRUCT(a INT)").foreach { t =>
      val e = intercept[IllegalArgumentException](Catalog.duckTypeToSpark(t))
      assert(e.getMessage.contains("not mapped"), t)
    }
  }
}
