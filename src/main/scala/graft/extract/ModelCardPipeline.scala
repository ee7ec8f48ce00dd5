package graft.extract

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TagCategorizer
import graft.operators.TagCategorizer.Vocabs
import graft.text.FrontMatter
import graft.extract.SchemaPropertyExtractor.{PropertyQuery, ScoringBackend}

/** The HF extract slice end-to-end (SURVEY §3.1 stage 2 /
  * `ModelCardToSchemaParser.process_dataframe`,
  * `core/ModelCardToSchemaParser.py:997-1083`):
  *
  *   snapshot → quality filter (P3) → known fields (P1) → tag buckets
  *   (§2.4) → YAML front-matter license/gating (Y1) → context-matched
  *   schema properties (E8) → ONE LONG-FORMAT property table with
  *   per-fact provenance.
  *
  * One pass, like the reference: the known fields, tag buckets and YAML
  * facts are one [[LongFormat.unpivot]] projection, unioned only with the
  * E8 arm — two snapshot scans per call, not one per property.
  *
  * The reference keeps 45 wide columns whose cells are lists of
  * provenance dicts; the engine's native shape is the long format
  * (modelId, property, value, method, confidence) — columnar-friendly,
  * explode-free downstream, and exactly what the triple builder consumes.
  */
object ModelCardPipeline {

  /** The two YAML front-matter facts (Y1) of one card. */
  final case class YamlFacts(license: String, conditionsOfAccess: String)

  // one front-matter parse per card serves both YAML facts
  private val frontMatter = udf { card: String =>
    val fm = FrontMatter.parse(Option(card).getOrElse(""))
    YamlFacts(FrontMatter.license(fm).orNull,
      FrontMatter.conditionsOfAccess(fm).orNull)
  }

  private val knownCols = Seq(
    "schema.org:name" -> "name",
    "schema.org:identifier" -> "identifier",
    "fair4ml:sharedBy" -> "shared_by",
    "schema.org:dateCreated" -> "date_created",
    "schema.org:datePublished" -> "date_published",
    "schema.org:dateModified" -> "date_modified",
    "schema.org:url" -> "model_url",
    "schema.org:discussionUrl" -> "discussion_url",
    "codemeta:readme" -> "readme_url",
    "schema.org:description" -> "description")

  private val tagCols = Seq(
    "fair4ml:trainedOn" -> "trained_on",
    "fair4ml:evaluatedOn" -> "evaluated_on",
    "codemeta:referencePublication" -> "reference_publication",
    "fair4ml:fineTunedFrom" -> "fine_tuned_from",
    "schema.org:inLanguage" -> "in_language",
    "fair4ml:mlTask" -> "ml_task",
    "schema.org:keywords" -> "keywords")

  /** @param snapshot raw HF snapshot schema (FIXTURES.md §1)
    * @param vocabs   tag vocabularies
    * @param backend  section scorer for E8 extraction
    * @param schemaQueries properties to extract
    * @param strategy  E8 extraction strategy (context_matching / grouped /
    *                  individual — `SchemaPropertyExtractor.py:122-148`)
    * @param inference QA backend for the grouped/individual strategies
    * @return long-format property table with provenance columns
    */
  def properties(snapshot: DataFrame, vocabs: Vocabs,
                 backend: ScoringBackend,
                 schemaQueries: Seq[PropertyQuery],
                 strategy: SchemaPropertyExtractor.Strategy =
                   SchemaPropertyExtractor.Strategy.ContextMatching,
                 inference: QaEngine.InferenceBackend =
                   new QaEngine.EchoBackend): DataFrame = {
    val filtered = QualityFilter(snapshot)
    val tagged = TagCategorizer.categorize(KnownFields(filtered), vocabs)
      .withColumn("yaml", frontMatter(col("card")))

    val one = lit(1.0)
    val knownMethod = lit("Parsed_from_HF_dataset")
    val tagMethod = lit("Parsed_from_HF_tags")
    val yamlMethod = lit("Parsed_from_YAML")
    val parsed = LongFormat.unpivot(tagged, col("modelId"),
      knownCols.map { case (p, c) => LongFormat.scalar(p, col(c), knownMethod, one) } ++
        tagCols.map { case (p, c) =>
          LongFormat.elements(col(c))(v => LongFormat.fact(p, v, tagMethod, one)) } ++
        Seq(LongFormat.scalar("schema.org:license", col("yaml.license"), yamlMethod, one),
          LongFormat.scalar("schema.org:conditionsOfAccess",
            col("yaml.conditionsOfAccess"), yamlMethod, one)))

    val matched = SchemaPropertyExtractor
      .extract(filtered, schemaQueries, backend, strategy, inference)
      .toDF().select("modelId", "property", "value", "method", "confidence")

    parsed.unionByName(matched)
  }

  /** Property table → (triples, statement metadata), subjects by entity
    * hash (§1.4), ready for the versioned store. */
  def toTriples(props: DataFrame, platform: String,
                extractionTime: Timestamp): DataFrame = {
    props.select(
      concat(lit("https://w3id.org/mlentory/mlentory_graph/"),
        sha2(concat_ws("|", lit(s"platform=$platform"), lit("type=model"),
          col("modelId")), 256)).as("subject"),
      col("property").as("predicate"),
      col("value").as("obj"),
      when(col("value").startsWith("http://") || col("value").startsWith("https://"),
        "iri").otherwise("literal").as("objKind"),
      lit("").as("datatype"),
      col("method").as("extractionMethod"),
      col("confidence"),
      lit(extractionTime).as("extractionTime"))
  }
}
