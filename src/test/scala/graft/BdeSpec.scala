package graft

import graft.sources.{Bde, BdeReader, BdeScenarios, BdeWriter}

class BdeSpec extends SparkSpec {

  test("header parse: reference-shaped header → typed schema") {
    val header = Seq(
      "HEDR\t 2.0.0",
      "SOFTWARE cbe_b30 V1.0.1",
      "SCHEMA\t V1.0",
      "USER\t crs_bde",
      "START\t 2016-06-01 17:12:25",
      "END\t 2016-06-01 17:12:25",
      "SQL\t SELECT * FROM crs_parcel_bndry",
      "TABLE\tcrs_parcel_bndry",
      "COLUMN\t pri_id                         integer NULL",
      "COLUMN\t sequence                       bigint NOT NULL",
      "COLUMN\t reversed                       char NULL",
      "COLUMN\t loaded                         datetime NULL",
      "DESC",
      "SIZE          562",
      "{CRS-DATA}",
      "1|2|Y|2016-06-01 17:12:25|")
    val h = Bde.parseHeader(header.iterator)
    assert(h.table == "crs_parcel_bndry")
    assert(h.start == "2016-06-01 17:12:25")
    assert(h.columns.map(_.name) == Seq("pri_id", "sequence", "reversed", "loaded"))
    // BDE datetimes are wall-clock → TimestampNTZ
    assert(h.schema.fields.map(_.dataType.typeName).toSeq ==
      Seq("integer", "long", "string", "timestamp_ntz"))
    assert(!h.schema("sequence").nullable)
  }

  test("escape/unescape inverse on hostile strings") {
    val hostile = Seq("plain", "with|pipe", "back\\slash", "new\nline",
      "cr\rhere", "tab\there", "ctl", "mixed|\\\n\rend")
    hostile.foreach { v =>
      assert(Bde.unescape(Bde.escape(v)) == v, s"roundtrip of ${v.getBytes.toSeq}")
      assert(!Bde.escape(v).exists(c => c == '|' || c == '\n' || c == '\r'))
    }
    // reference-style escapes read back too
    assert(Bde.unescape("a\\nb") == "a\nb")
    assert(Bde.unescape("a\\x7cb") == "a|b")
  }

  test("writer → reader roundtrip preserves rows, types, nulls (gzip)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("at", TimestampNTZType)))
    val rows = Seq(
      Row(1L, "plain", 1.5,
        java.time.LocalDateTime.parse("2024-01-01T10:30:00")),
      Row(2L, "pipe|and\\esc\n", -0.25, null),
      Row(3L, null, 1.0e-7,
        java.time.LocalDateTime.parse("2024-01-01T10:30:00.123456")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = s"${sys.props("java.io.tmpdir")}/graft-bde-spec"
    BdeWriter.write(df, dir, "spec_table", gzip = true)
    val back = BdeReader.read(spark, BdeReader.listFiles(dir))
    assert(back.schema.fields.map(_.dataType).toSeq ==
      schema.fields.map(_.dataType).toSeq)
    val got = back.collect().sortBy(_.getLong(0))
    assert(got.length == 3)
    assert(got(1).getString(1) == "pipe|and\\esc\n")
    assert(got(1).isNullAt(3) && got(2).isNullAt(1))
    assert(got(2).getDouble(2) == 1.0e-7)
    assert(got(2).getAs[java.time.LocalDateTime](3).toString ==
      "2024-01-01T10:30:00.123456")
  }

  test("roundtrip keeps NULL distinct from the empty string (\\N marker)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    val rows = Seq(Row(1L, ""), Row(2L, null), Row(3L, "\\N"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val dir = s"${sys.props("java.io.tmpdir")}/graft-bde-null-spec"
    BdeWriter.write(df, dir, "null_spec")
    val got = BdeReader.read(spark, BdeReader.listFiles(dir))
      .collect().sortBy(_.getLong(0))
    assert(got(0).getString(1) == "")     // empty string survives
    assert(got(1).isNullAt(1))            // NULL survives
    assert(got(2).getString(1) == "\\N")  // literal backslash-N is escaped, not NULL
  }

  test("fileStem: .crs and .crs.gz name a table, other files are not BDE") {
    assert(Bde.fileStem("a.crs").contains("a"))
    assert(Bde.fileStem("a.crs.gz").contains("a"))
    assert(Bde.fileStem("file:/repo/level_0/20240101000000/a.crs.gz")
      .contains("a"))
    assert(Bde.fileStem("a.csv").isEmpty)
    assert(Bde.fileStem("a.crs.bak").isEmpty)
  }

  test("reader parses the reference sample files") {
    val f = "/root/reference/t/data/pab1.crs"
    val df = BdeReader.read(spark, Seq(f))
    assert(df.columns.toSeq ==
      Seq("pri_id", "sequence", "lin_id", "reversed", "audit_id"))
    assert(df.count() > 0)
    assert(df.filter("reversed = 'Y'").count() > 0)
  }

  test("selectValidColumns: file order kept, case-insensitive, empty rejected") {
    val got = BdeScenarios.selectValidColumns(
      Seq("B", "missing", "a"), Seq("a", "b", "c"))
    assert(got == Seq("B", "a"))
    assertThrows[IllegalArgumentException] {
      BdeScenarios.selectValidColumns(Seq("zz"), Seq("a"))
    }
  }

  test("apply plan: newest L0 then later L5s, continuity flagged") {
    val rows = BdeScenarios.bdeDatasets(spark, sf).collect()
    assert(rows.head.getAs[Int]("level") == 0)
    assert(rows.tail.forall(_.getAs[Int]("level") == 5))
    val names = rows.map(_.getAs[String]("name")).toSeq
    assert(names == names.sorted)
    assert(rows.head.getAs[Boolean]("continuity_ok"))
  }
}
