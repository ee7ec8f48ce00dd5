package graft.extract

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.extract.SchemaMapping.{Concat, Format, Path}

class PlatformPipelinesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("struct flattening produces dotted-underscore columns") {
    val df = spark.read.json(Seq(
      """{"id": "m1", "manifest": {"weights": {"format": "torch"},
        |  "authors": ["a", "b"]}, "score": 1.5}""".stripMargin.replace("\n", "")).toDS())
    val flat = PlatformPipelines.flattenStructs(df)
    assert(flat.columns.toSet ==
      Set("id", "manifest_weights_format", "manifest_authors", "score"))
    assert(flat.select("manifest_weights_format").as[String].head() == "torch")
  }

  test("toLongProperties == the arm-per-column reference, as a multiset") {
    val mapped = spark.read.json(Seq(
      """{"id": 1, "name": "alpha", "score": 1.5, "ok": true, "tags": ["a", "b"]}""",
      """{"id": 2, "name": "", "score": null, "ok": false, "tags": []}""",
      """{"id": 3, "name": null, "score": 2, "tags": null}""",
      """{"id": 3, "name": "alpha", "score": 2}""").toDS())
      .select(col("id"), col("name"), col("score"), col("ok"), col("tags"),
        col("score").cast("int").as("a.dotted"))
    // the oracle: one filtered union arm per column
    val reference = mapped.columns.filterNot(_ == "id").map { p =>
      mapped.select(col("id").cast("string").as("modelId"), lit(p).as("property"),
          col(s"`$p`").cast("string").as("value"), lit("m").as("method"),
          lit(0.5).as("confidence"))
        .filter(col("value").isNotNull && col("value") =!= "")
    }.reduce(_ unionByName _)
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, String, String, Double)].collect()
        .groupBy(identity).map { case (k, v) => k -> v.length }
    val got = PlatformPipelines.toLongProperties(mapped, "id", "m", 0.5)
    assert(got.columns.toSeq == Seq("modelId", "property", "value", "method", "confidence"))
    val want = bag(reference)
    assert(bag(got) == want)
    // every column kind reached the table; null and "" never did
    assert(want.keys.map(_._2).toSet == Set("name", "score", "ok", "tags", "a.dotted"))
    assert(want(("3", "name", "alpha", "m", 0.5)) == 1)
    assert(want(("3", "score", "2.0", "m", 0.5)) == 2)
    assert(!want.keys.exists(f => f._1 == "2" && Set("name", "score")(f._2)))
  }

  test("OpenML pipeline: mapping + status lookup with scraped priority") {
    val runs = spark.read.json(Seq(
      """{"run": {"id": 7, "flow_name": "weka.J48"}, "did": "d1"}""",
      """{"run": {"id": 8, "flow_name": "weka.REP"}, "did": "d2"}""").toDS())
    val status = Seq(("d1", "active", "deactivated"), ("d2", "active", null))
      .toDF("identifier", "api_status", "scraped_status")
    val props = PlatformPipelines.openml(runs,
      Seq("schema.org:identifier" -> Format("Run_{run.id}"),
        "schema.org:name" -> Path("run.flow_name")),
      idColumn = "did", datasetStatus = Some(status))
    val byId = props.filter(col("property") === "status")
      .select("modelId", "value").as[(String, String)].collect().toMap
    assert(byId("d1") == "deactivated") // scraped wins (J3 priority)
    assert(byId("d2") == "active")      // api fallback
    assert(props.filter(col("property") === "schema.org:identifier")
      .select("value").as[String].collect().toSet == Set("Run_7", "Run_8"))
  }

  test("S8 scraped stats become provenance-wrapped properties") {
    import graft.sources.StatsScraper.{default, PageStats}
    val stats = Seq(
      PageStats("d1", "active", 1500L, 2L, 0L, fetched = true),
      default("d2")).toDF() // failed scrape: all defaults
    val api = Seq(("d2", "deactivated")).toDF("identifier", "api_status")
    val props = PlatformPipelines.openmlScrapedProperties(stats, Some(api))
    val status = props.filter(col("property") === "schema.org:status")
      .select("modelId", "value", "method").as[(String, String, String)]
      .collect().map { case (id, v, m) => id -> ((v, m)) }.toMap
    // scraped status wins and its provenance says so; a failed scrape
    // falls back to the API status under the API's method tag
    assert(status("d1") == ("active", "web_scraping"))
    assert(status("d2") == ("deactivated", "openml_python_package"))
    val counts = props.filter(col("property") =!= "schema.org:status")
      .select("modelId", "property", "value", "method")
      .as[(String, String, String, String)].collect()
    assert(counts.length == 6 && counts.forall(_._4 == "web_scraping"))
    assert(counts.collect { case ("d1", "downloads", v, _) => v }.head == "1500")
    assert(counts.collect { case ("d2", "likes", v, _) => v }.head == "0")
  }

  test("AI4Life pipeline: flatten + dotted mapping to long properties") {
    val recs = spark.read.json(Seq(
      """{"id": "bio1", "manifest": {"weights": {"pytorch_state_dict":
        |  {"architecture": {"callable": "UNet2D"}}}, "license": "MIT"}}"""
        .stripMargin.replace("\n", "")).toDS())
    val props = PlatformPipelines.ai4life(recs,
      Seq("codemeta:referenceImplementation" ->
        Path("manifest_weights_pytorch_state_dict_architecture_callable"),
        "schema.org:license" -> Path("manifest_license")),
      idColumn = "id")
    val m = props.select("property", "value").as[(String, String)]
      .collect().toMap
    assert(m("codemeta:referenceImplementation") == "UNet2D")
    assert(m("schema.org:license") == "MIT")
    assert(props.select("method").distinct().as[String].head() ==
      "Parsed_from_AI4Life_API")
  }
}
