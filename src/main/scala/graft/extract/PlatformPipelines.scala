package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.extract.SchemaMapping.Rule

/** Platform extraction pipelines beyond HF (SURVEY §3.2/§3.3): both are
  * schema-driven projections over nested API records —
  *
  *  - OpenML (`OpenMLExtractor.py:322-546`): run/dataset records mapped by
  *    dotted paths / format strings / concat rules, with the dataset
  *    status lookup as a broadcast join + coalesce (J3).
  *  - AI4Life (`AI4LifeExtractor.py:88-243`): deeply nested JSON flattened
  *    to dotted column names first, then the same rule mapping.
  *
  * Output is the engine's long-format provenance property table, the same
  * shape ModelCardPipeline emits — all three platforms converge before the
  * triple builder. Each property table is one [[LongFormat.unpivot]] pass
  * over the record set, however many properties the mapping has.
  */
object PlatformPipelines {

  /** Recursively flatten nested struct columns into dotted top-level
    * columns (`AI4LifeExtractor._flatten_dict` analog, done in the plan —
    * one projection, no row work). Arrays are left as-is. */
  def flattenStructs(df: DataFrame): DataFrame = {
    def fields(schema: StructType, prefix: String): Seq[(String, String)] =
      schema.fields.flatMap { f =>
        val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        f.dataType match {
          case s: StructType => fields(s, path)
          case _ => Seq(path -> path.replace(".", "_"))
        }
      }.toSeq
    val cols = fields(df.schema, "")
    df.select(cols.map { case (path, name) =>
      col(path.split('.').map(p => s"`$p`").mkString(".")).as(name)
    }: _*)
  }

  /** Long-format property table from a mapped record set: every non-id
    * column is one property, all in one [[LongFormat.unpivot]] projection. */
  def toLongProperties(mapped: DataFrame, idColumn: String,
                       method: String, confidence: Double): DataFrame =
    LongFormat.unpivot(mapped, col(idColumn).cast("string").as("modelId"),
      mapped.columns.toSeq.filterNot(_ == idColumn).map(p =>
        LongFormat.scalar(p, col(s"`$p`"), lit(method), lit(confidence))))

  /** §3.2 OpenML: rule mapping + J3 status lookup (broadcast dim with
    * scraped-status priority via coalesce). */
  def openml(runs: DataFrame, mapping: Seq[(String, Rule)], idColumn: String,
             datasetStatus: Option[DataFrame] = None): DataFrame = {
    val mapped = SchemaMapping(runs, mapping, keep = Seq(idColumn))
    val withStatus = datasetStatus match {
      case Some(status) => // status: (identifier, api_status, scraped_status)
        mapped.join(broadcast(status),
            mapped(idColumn) === status("identifier"), "left")
          .withColumn("status",
            coalesce(col("scraped_status"), col("api_status")))
          .drop("identifier", "api_status", "scraped_status")
      case None => mapped
    }
    toLongProperties(withStatus, idColumn, "openml_python_package", 1.0)
  }

  /** S8 enrichment merge (`OpenMLExtractor.py:518-535`): the scraped
    * stats become provenance-wrapped properties — `schema.org:status`
    * prefers the scraped value over the API status AND records which
    * source won in the provenance method (`web_scraping` vs
    * `openml_python_package`, `:526-528`); downloads/likes/issues always
    * carry `web_scraping`; a null count emits no fact. `stats` is the
    * [[graft.sources.StatsScraper]] output (id, status, downloads,
    * likes, issues, fetched); `apiStatus` the J3 dim (identifier,
    * api_status), broadcast — it is config-scale. Output rows union
    * directly with [[openml]]'s property table. */
  def openmlScrapedProperties(stats: DataFrame,
                              apiStatus: Option[DataFrame] = None): DataFrame = {
    val withApi = apiStatus match {
      case Some(s) =>
        stats.join(broadcast(s), stats("id") === s("identifier"), "left")
          .drop("identifier")
      case None => stats.withColumn("api_status", lit(null).cast("string"))
    }
    val scrapedWon = col("status") =!= "N/A"
    LongFormat.unpivot(withApi, col("id").cast("string").as("modelId"),
      LongFormat.scalar("schema.org:status",
        coalesce(when(scrapedWon, col("status")), col("api_status"), lit("N/A")),
        when(scrapedWon, lit("web_scraping")).otherwise(lit("openml_python_package")),
        lit(1.0)) +:
        Seq("downloads", "likes", "issues").map(p =>
          LongFormat.scalar(p, col(p), lit("web_scraping"), lit(1.0))))
  }

  /** T1 nested OpenML child-entity trees (`GraphBuilderFAIR4ML.py:350-415,
    * 462-484`): a runs frame whose `dataset` column holds the DatasetObject
    * struct (name, url, estimationProcedure{type, data_splits_url,
    * parameters}) and whose metric maps hold the EvaluationObject content
    * expands into the child/grand-child triple table — the piece of T1
    * that scalar rule mapping cannot express. Union the result with the
    * flat-property triples from [[openml]] + TripleBuilder. */
  def openmlNestedTriples(runs: DataFrame, idColumn: String,
                          datasetCol: String = "dataset",
                          numericMetricsCol: String = "num_metrics",
                          textMetricsCol: String = "text_metrics"): DataFrame = {
    import graft.transform.NestedObjects
    val subj = NestedObjects.runEntityUri("openml", col(idColumn))
    // both trees share ONE materialized pre-projection: the runs frame is
    // scanned once, every entity uri is hashed once
    val pre = runs.select(
        NestedObjects.datasetPreColumns("openml", subj, col(datasetCol)) ++
          NestedObjects.evalPreColumns("openml", subj, col(numericMetricsCol),
            col(textMetricsCol)).drop(1): _*)
      .localCheckpoint()
    NestedObjects.datasetTreeFromPre(pre, NestedObjects.Fair4ml + "trainedOn")
      .unionByName(NestedObjects.evalTreeFromPre(pre,
        NestedObjects.Fair4ml + "evaluationResults"))
  }

  /** §3.3 AI4Life: flatten, then rule mapping over dotted columns
    * (underscored after flattening). */
  def ai4life(records: DataFrame, mapping: Seq[(String, Rule)],
              idColumn: String): DataFrame = {
    val flat = flattenStructs(records)
    val mapped = SchemaMapping(flat, mapping, keep = Seq(idColumn))
    toLongProperties(mapped, idColumn, "Parsed_from_AI4Life_API", 1.0)
  }
}
