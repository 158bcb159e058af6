package graft.dq

import graft.SparkSpec
import graft.model._
import graft.sources.FileSources

class DataQualityRunnerSpec extends SparkSpec {

  // The 7 regex rules of the reference's stock_price_object_store_dq dataset
  // (tests-api.sh): symbol alphabetic, prices decimal, volume integer.
  private val priceRe = """^(?:0|[1-9][0-9]*)\.[0-9]+$"""
  private def dqSpec(errors: Boolean) = PipelineSpec(
    name = "stock_price",
    source = SourceSpec(
      schema = Seq("symbol" -> "string", "date" -> "string", "open" -> "double",
        "high" -> "double", "low" -> "double", "close" -> "double",
        "volume" -> "int", "adj_close" -> "double")
        .map { case (n, t) => FieldSpec(n, t) },
      file = Some(FileSpec(csv = Some(CsvSpec())))),
    dataQuality = Some(DataQualitySpec0(errors)),
    destination = DestinationSpec(objectStore =
      Some(ObjectStoreSpec(path = "/tmp/lake", table = "stock_price")))
  ).normalized.validated

  private def DataQualitySpec0(errors: Boolean) = DataQualitySpec(
    validateFileHeader = true,
    columnRules = Seq(
      ColumnRuleSpec("symbol", "regex", "^[a-zA-Z]+$", onFailureIsError = errors),
      ColumnRuleSpec("open", "regex", priceRe, onFailureIsError = errors),
      ColumnRuleSpec("volume", "regex", "^[0-9]+$", onFailureIsError = errors)))

  private def smallCsv(spec: PipelineSpec) =
    FileSources.read(spark, spec, "/root/repo/fixtures/stock_price.20170102.small.dataset.csv")

  test("validateHeader passes on matching header, fails on mismatch") {
    val spec = dqSpec(errors = false)
    val df = smallCsv(spec)
    DataQualityRunner.validateHeader(df, spec)
    val bad = spec.copy(source = spec.source.copy(
      schema = FieldSpec("wrong", "string") +: spec.source.schema.tail))
    a[DataQualityRunner.DataQualityException] should be thrownBy
      DataQualityRunner.validateHeader(df, bad)
  }

  test("column rules flag the empty FCO open cell with header+2 numbering") {
    val spec = dqSpec(errors = false)
    val v = DataQualityRunner.columnRuleViolations(smallCsv(spec), spec).collect()
    v.length shouldBe 1
    v.head.getString(1) shouldBe "open"
    v.head.getLong(2) shouldBe 4L // FCO is data row 2 → file line 4
    v.head.getBoolean(3) shouldBe false
    // warn-only rules don't abort
    val (e, w) = DataQualityRunner.enforce(
      DataQualityRunner.columnRuleViolations(smallCsv(spec), spec))
    e shouldBe 0L
    w shouldBe 1L
  }

  test("error rules abort; >100 errors aborts early with the 100-cap message") {
    val spec = dqSpec(errors = true)
    val ex = intercept[DataQualityRunner.DataQualityException] {
      DataQualityRunner.enforce(
        DataQualityRunner.columnRuleViolations(smallCsv(spec), spec))
    }
    ex.getMessage should include ("1 error(s)")
    // >100 errors: every volume cell violates an impossible pattern
    val bigSpec = dqSpec(errors = true).copy(dataQuality = Some(DataQualitySpec(
      columnRules = Seq(ColumnRuleSpec("volume", "regex", "^X$", onFailureIsError = true)))))
    val big = FileSources.read(spark, bigSpec,
      "/root/repo/fixtures/stock_price.20170102.dataset.csv") // 6003 rows
    val ex2 = intercept[DataQualityRunner.DataQualityException] {
      DataQualityRunner.enforce(
        DataQualityRunner.columnRuleViolations(big, bigSpec))
    }
    ex2.getMessage should include ("more than 100")
  }

  test("unknown rule functions and unknown columns throw") {
    val spec = dqSpec(errors = false)
    val badFn = spec.copy(dataQuality = Some(DataQualitySpec(
      columnRules = Seq(ColumnRuleSpec("symbol", "luhn", "x")))))
    a[DataQualityRunner.DataQualityException] should be thrownBy
      DataQualityRunner.columnRuleViolations(smallCsv(spec), badFn)
    val badCol = spec.copy(dataQuality = Some(DataQualitySpec(
      columnRules = Seq(ColumnRuleSpec("nope", "regex", "x")))))
    a[DataQualityRunner.DataQualityException] should be thrownBy
      DataQualityRunner.columnRuleViolations(smallCsv(spec), badCol)
  }

  test("script row rules flow through the violation shape") {
    val spec = dqSpec(errors = false).copy(dataQuality = Some(DataQualitySpec(
      rowRules = Seq(RowRuleSpec("script",
        Seq("/root/repo/fixtures/stock_price_data_quality.js"))))))
    val df = FileSources.read(spark, spec, "/root/repo/fixtures/stock_price.20170102.dataset.csv")
    val v = DataQualityRunner.rowRuleViolations(df, spec,
      p => new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
    val rows = v.collect()
    assert(rows.nonEmpty) // the big file contains AXN rows
    rows.foreach(_.getString(4) should include ("AXN"))
  }

  test("XSD validation accepts valid and rejects invalid XML") {
    val xsd =
      """<?xml version="1.0"?>
        |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:element name="note"><xs:complexType><xs:sequence>
        |    <xs:element name="to" type="xs:string"/>
        |  </xs:sequence></xs:complexType></xs:element>
        |</xs:schema>""".stripMargin
    SchemaValidation.validateXml("<note><to>x</to></note>", xsd)
    a[SchemaValidation.ValidationException] should be thrownBy
      SchemaValidation.validateXml("<note><bogus/></note>", xsd)
  }

  test("JSON-Schema core keywords validate") {
    val schema =
      """{"type": "object", "required": ["a", "b"],
        |  "properties": {
        |    "a": {"type": "integer", "minimum": 0},
        |    "b": {"type": "string", "minLength": 2, "pattern": "^[a-z]+$"},
        |    "c": {"type": "array", "items": {"type": "number", "maximum": 10}}
        |}}""".stripMargin
    SchemaValidation.validateJson("""{"a": 3, "b": "ok", "c": [1, 2.5]}""", schema)
    a[SchemaValidation.ValidationException] should be thrownBy
      SchemaValidation.validateJson("""{"a": -1, "b": "ok"}""", schema)
    a[SchemaValidation.ValidationException] should be thrownBy
      SchemaValidation.validateJson("""{"a": 3}""", schema)
    a[SchemaValidation.ValidationException] should be thrownBy
      SchemaValidation.validateJson("""{"a": 3, "b": "NO"}""", schema)
    a[SchemaValidation.ValidationException] should be thrownBy
      SchemaValidation.validateJson("""{"a": 3, "b": "ok", "c": [99]}""", schema)
  }
}
